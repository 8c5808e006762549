package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{Pipeline, Store, Triples}
import graft.link.Canonicalize
import graft.model.{Sentence, SourceFile}

/** The committed build replayed through the engine's public calls, with a
  * span around each call. The stage order, stage names and input signature
  * are those of `Pipeline.runCheckpointed`, so a replay on a committed root
  * resumes exactly where `Main.run` would. Each layer's output is persisted
  * and counted inside its own span, so its compute is billed to it rather
  * than to the store write that would otherwise pull it lazily; the store
  * span then writes from that cache.
  *
  * Layers: `text` (Pipeline.extract), `tag` (Pipeline.tagStage),
  * `kg.annotate` (Pipeline.annotateFrom), `link`
  * (Canonicalize.canonicalFormsCounted and its form map, timed on its own
  * because Triples.emit repeats it inside before its lazy rewrite),
  * `kg.emit` (Triples.emit), `kg.store` (Store.runStage) and `main` (the
  * whole replay). */
object Replay {

  final case class Result(triples: DataFrame, recomputed: Seq[String],
      readSec: Double, formsOut: Long)

  def run(spark: SparkSession, tr: Tracer, files: Dataset[SourceFile],
      root: String, inputSig: String): Result = {
    import spark.implicits._
    val recomputed = Seq.newBuilder[String]
    var readSec = 0.0
    var formsOut = 0L
    val caches = Seq.newBuilder[DataFrame]
    def keep[T](ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist()
      tr.rows(p.count())
      caches += p.toDF()
      p
    }
    def store(stage: String)(compute: => DataFrame): DataFrame = {
      var ran = false
      val t0 = System.nanoTime()
      val df = tr.span("kg.store", s"Store.runStage($stage)") {
        val out = Store.runStage(spark, root, stage, inputSig) {
          ran = true
          compute
        }
        if (ran) Store.readManifest(root, stage).foreach(m => tr.rows(m._2))
        out
      }
      if (ran) recomputed += stage
      else readSec += (System.nanoTime() - t0) / 1e9
      df
    }

    val triples = tr.span("main", "replay") {
      val extracted = store("sentences") {
        val e = tr.span("text", "Pipeline.extract") {
          keep(Pipeline.extract(spark, files))
        }
        store("quarantine")(e.flatMap(_.err).toDF())
        e.flatMap(_.sent).repartitionByRange(col("repo"), col("path")).toDF()
      }
      val tagged = store("tagged") {
        tr.span("tag", "Pipeline.tagStage") {
          keep(Pipeline.tagStage(spark, extracted.as[Sentence]).toDF())
        }
      }.as[Pipeline.TaggedSentence]
      lazy val ann = tr.span("kg.annotate", "Pipeline.annotateFrom") {
        val a = Pipeline.annotateFrom(spark, tagged)
        caches ++= a.caches
        a.copy(events = keep(a.events), relations = keep(a.relations))
      }
      val events = store("events")(ann.events)
      val rels = store("relations")(ann.relations)
      val out = store("triples") {
        tr.span("link", "Canonicalize.canonicalFormsCounted") {
          val lineage = Seq(col("repo"), col("path"), col("contentSha"))
          val mentions = events
            .select((col("eventId") +: explode(col("args")).as("arg") +: lineage): _*)
            .select((Seq(col("eventId"), col("arg.role").as("role"),
              col("arg.text").as("text")) ++ lineage): _*)
          val (forms, nForms) = Canonicalize.canonicalFormsCounted(spark, mentions)
          formsOut = nForms
          keep(forms)
        }
        tr.span("kg.emit", "Triples.emit") {
          keep(Triples.emit(spark,
            Pipeline.Annotated(tagged, events, rels)))
        }
      }
      tr.rows(out.count())
      out
    }
    caches.result().foreach(_.unpersist())
    Result(triples, recomputed.result(), readSec, formsOut)
  }

  /** Parquet files under the stage directories a replay recomputed. */
  def filesWritten(root: String, stages: Seq[String]): Long =
    stages.map { s =>
      val dir = Paths.get(root, s)
      if (!Files.isDirectory(dir)) 0L
      else {
        val w = Files.walk(dir)
        try w.filter((p: Path) => p.toString.endsWith(".parquet")).count()
        finally w.close()
      }
    }.sum
}
