package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Main
import graft.kg.{Pipeline, Store}
import graft.model.SourceFile

/** The traced run of a workload: one untraced `Main.run` (the reference
  * wall and triples), one traced replay of the same committed build
  * through the public layer calls ([[Replay]]), and a single-thread
  * `Main.run` for the scaling diagnostic. Reports the per-layer metrics. */
object Traced {
  import KgBench._

  private val MB = 1024.0 * 1024.0
  val Layers = Seq("main", "text", "tag", "kg.annotate", "link", "kg.emit", "kg.store")

  def run(spark: SparkSession, o: Opts, in: Inputs,
      gold: Set[Gate.Triple]): Outcome = {
    import spark.implicits._
    val p = prepare(spark, o, in, o.work.resolve("setup0"))
    var failed = 0
    def gated(r: => Rep): Option[Rep] =
      try { val x = r; if (!x.gate.ok) failed += 1; Some(x) }
      catch { case NonFatal(e) => System.err.println(s"[kgbench] $e"); failed += 1; None }

    // untraced reference run
    val untraced = gated(rep(spark, p, o.work.resolve("untraced"), gold))

    // traced replay on a fresh copy of the same prior root
    val root = o.work.resolve("traced")
    FileTree.copy(p.prior, root)
    org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
    val tr = new Tracer(spark, java.util.UUID.randomUUID().toString)
    var equal = false
    var extras = Seq.empty[Metric]
    try {
      val files = spark.read.parquet(p.table)
        .select("repo", "path", "commit", "lang", "content").as[SourceFile]
      val res = Replay.run(spark, tr, files, root.toString,
        Main.inputSignature(spark, p.table))
      tr.finish()
      val rows = Gate.rows(res.triples)
      val gate = Gate.check(spark, rows, res.triples, p.table, gold)
      if (!gate.ok) failed += 1
      equal = untraced.exists(u => u.rows.sorted == rows.sorted)
      spark.catalog.clearCache()
      extras = layerMetrics(spark, p, tr, res, root.toString,
        untraced.map(_.wall).getOrElse(Double.NaN))
    } catch {
      case NonFatal(e) => System.err.println(s"[kgbench] replay: $e"); failed += 1
    }
    FileTree.delete(root)
    val spansFile = o.results.resolveSibling(
      o.results.getFileName.toString.stripSuffix(".json") + ".spans.json")
    java.nio.file.Files.createDirectories(spansFile.getParent)
    java.nio.file.Files.writeString(spansFile, tr.spansJson + "\n")

    // single-thread diagnostic: the same Main.run at local[1]
    spark.stop()
    val single = gated(rep(session(1, o.work), p, o.work.resolve("single"), gold))
    val wall4 = untraced.map(_.wall).getOrElse(Double.NaN)
    val scaling = single.map(_.wall / (Cores * wall4)).getOrElse(Double.NaN)

    val metrics = extras ++ Seq(
      Metric("spark.scaling_eff_1to4", scaling, "ratio", 1),
      Metric("spark.retained_cache_mb",
        untraced.map(_.retainedMb).getOrElse(Double.NaN), "MB", 1))
    Outcome(3, failed, failed == 0 && equal, metrics, Seq(
      "replay_equals_main" -> equal.toString,
      "untraced_wall_s" -> Json.num(wall4),
      "single_thread_wall_s" -> Json.num(single.map(_.wall).getOrElse(Double.NaN))))
  }

  def layerMetrics(spark: SparkSession, p: Prepared, tr: Tracer,
      res: Replay.Result, root: String, untracedWall: Double): Seq[Metric] = {
    import spark.implicits._
    val linkWall = tr.ofLayer("link").map(_.sec).sum
    val perLayer = Layers.flatMap { layer =>
      val spans = tr.ofLayer(layer)
      val wall = tr.unionSec(spans.map(s => (s.startNs, s.endNs)), 1e9)
      val self =
        if (layer == "kg.emit") wall - linkWall
        else spans.map(s => s.sec - tr.childSec(s)).sum
      tr.layerMetrics(layer, wall, self, spans.map(_.rows).sum,
        Some(tr.groupsOf(layer)))
    }
    val main = tr.ofLayer("main").head
    val busy = tr.unionSec(tr.ledger.synchronized(tr.ledger.jobSpans.values.toSeq)
      .map { case (s, e) => (math.max(s, main.startMs), math.min(e, main.endMs)) }
      .filter { case (s, e) => e > s }, 1e3)
    val sparkRows = tr.sumOver(tr.ledger.synchronized(tr.ledger.byGroup.keySet.toSet))(
      a => a.outputRecords + a.shuffleRecords)
    val sparkLayer = tr.layerMetrics("spark", main.sec, busy, sparkRows, None)

    // yields, from the committed stages of the replayed root
    val tagged = Gate.committed(spark, root, "tagged").as[Pipeline.TaggedSentence]
    val heads = Pipeline.headsNarrow(spark, tagged).persist()
    val nHeads = heads.count()
    val nCandidates = Pipeline.relationCandidates(heads).count()
    val nAligned = Pipeline.alignHeads(heads,
      tagged.select("sentKey", "tokens")).count()
    heads.unpersist()
    def stageRows(stage: String): Long =
      Store.readManifest(root, stage).map(_._2).getOrElse(0L)
    val storeGroups = tr.groupsOf("kg.store")
    val recomputedRows = res.recomputed.map(stageRows).sum
    val layerSelf = Layers.filter(_ != "main").map { l =>
      perLayer.find(_._1 == s"$l.self_s").map(_._2).getOrElse(0.0)
    }.sum
    (perLayer ++ sparkLayer).map { case (n, v, u) => Metric(n, v, u, 1) } ++ Seq(
      Metric("text.quarantined", stageRows("quarantine").toDouble, "count", 1),
      Metric("kg.annotate.relation_yield",
        stageRows("relations").toDouble / math.max(nCandidates, 1L), "ratio", 1),
      Metric("kg.annotate.align_yield",
        nAligned.toDouble / math.max(nHeads, 1L), "ratio", 1),
      Metric("link.forms_out", res.formsOut.toDouble, "count", 1),
      Metric("kg.store.write_mb",
        tr.sumOver(storeGroups)(_.outputBytes) / MB, "MB", 1),
      Metric("kg.store.files_written",
        Replay.filesWritten(root, res.recomputed).toDouble, "count", 1),
      Metric("kg.store.read_s", res.readSec, "s", 1),
      Metric("kg.store.stages_recomputed", res.recomputed.size.toDouble, "count", 1),
      Metric("kg.store.rows_recomputed_per_changed_row",
        recomputedRows.toDouble / math.max(p.changedRows, 1L), "ratio", 1),
      Metric("spark.driver_idle_s", main.sec - busy, "s", 1),
      Metric("trace.overhead_s", main.sec - untracedWall, "s", 1),
      Metric("trace.layer_gap_s", untracedWall - layerSelf, "s", 1))
  }
}
