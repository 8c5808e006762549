package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.kg.{Pipeline, Triples}
import graft.sources.Sources
import graft.tag.Ontology
import graft.text.Text

/** The circularity breaker for the golden gate: the round-1 golden corpus
  * was generated from the engine's own lexicons (SURVEY §7.4), so its
  * P/R=1.0 proved decode/join/merge semantics only on self-produced data.
  * This spec ingests the reference's REAL golden corpora —
  * component/Duration/Mu_test_data/test_ace.pred.json (832 ACE sentences)
  * and test_tbd.pred.json (1427 TimeBank-Dense sentences), both annotated
  * by the reference EventPlus pipeline (schema: views.py:20-52) — and
  * checks the engine's assembly + linking + canonicalization +
  * materialization path (P3/P5/J5/A6/U3 semantics) against an INDEPENDENT
  * triple derivation written in plain Scala collections (its own
  * union-find, not the engine's iterative DataFrame label propagation).
  */
class GoldenAceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val repo = "eventplus"

  case class Rec(idx: Long, tokens: Seq[String],
      events: Seq[(String, Seq[(String, Int, Int)], Seq[(String, String)])],
      ner: Seq[(Int, Int, String)])

  def engineTriples(ann: DataFrame, path: String): Set[(String, String, String)] =
    Triples.emit(spark, Pipeline.fromAnnotations(spark, ann, repo, path))
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet

  // ---- independent derivation (plain Scala, no engine operators) ----

  def recordsOf(ann: DataFrame): Seq[Rec] = {
    def nested(r: Row, f: String): scala.collection.Seq[Row] =
      Option(r.getAs[scala.collection.Seq[Row]](f))
        .getOrElse(scala.collection.Seq.empty)
    ann.select(col("rec_idx").cast("long"), col("tokens"), col("events"),
        col("ner")).collect().toSeq.map { r =>
      val tokens = Option(r.getSeq[String](1)).getOrElse(Seq.empty)
      val events = Option(r.getSeq[Row](2)).getOrElse(Seq.empty).map { ev =>
        val t = Option(ev.getAs[String]("event_type")).getOrElse("")
        val trs = nested(ev, "triggers")
          .map(tr => (Option(tr.getAs[String]("text")).getOrElse(""),
            tr.getAs[Int]("start_token"), tr.getAs[Int]("end_token"))).toSeq
        val args = nested(ev, "arguments")
          .map(a => (Option(a.getAs[String]("role")).getOrElse(""),
            Option(a.getAs[String]("text")).getOrElse(""))).toSeq
        (t, trs, args)
      }
      val ner = Option(r.getSeq[scala.collection.Seq[String]](3))
        .getOrElse(Seq.empty)
        .collect { case s if s != null && s.length >= 3 =>
          (s(0).toInt, s(1).toInt, s(2)) }
      Rec(r.getLong(0), tokens, events, ner)
    }
  }

  /** Test-local canonicalization: same blocking/containment/canonical
    * rules as link.Canonicalize, implemented with a union-find. */
  def canonicalMap(forms: Seq[String]): Map[String, String] = {
    def blockKey(t: String) = Text.normLemma(t.split(" ").last)
    val parent = scala.collection.mutable.Map(forms.map(f => f -> f): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: String, b: String): Unit = { parent(find(a)) = find(b) }
    for {
      (_, block) <- forms.groupBy(blockKey)
      a <- block; b <- block if a < b
      ta = a.split(" "); tb = b.split(" ")
      // engine rule: |distinct common tokens| == min(|ta|, |tb|) with raw
      // (non-deduped) lengths — mirrored exactly
      if ta.toSet.intersect(tb.toSet).size == math.min(ta.length, tb.length)
    } union(a, b)
    val comps = forms.groupBy(find)
    comps.values.flatMap { members =>
      val canon = members.minBy(t => (-t.length, t))
      members.map(_ -> canon)
    }.toMap
  }

  def expectedTriples(records: Seq[Rec], path: String): Set[(String, String, String)] = {
    def sentKey(idx: Long) = s"$repo/$path#L0:S$idx"
    val hasType = for {
      r <- records; (t, trs, _) <- r.events if t.nonEmpty; (_, s, _) <- trs
    } yield (s"${sentKey(r.idx)}:T$s", "hasType", t)
    val entities = for {
      r <- records; (s, e, label) <- r.ner
    } yield (s"$repo/$path", "hasEntity",
      s"$label:${r.tokens.slice(s, e + 1).mkString(" ")}")
    // argument triples with canonicalized objects
    val mentions = for {
      r <- records; (_, trs, args) <- r.events; (_, s, _) <- trs
      (role, text) <- args
    } yield (s"${sentKey(r.idx)}:T$s", role, text)
    val canon = canonicalMap(mentions.map(_._3).distinct)
    val argTriples = mentions.map { case (ev, role, text) =>
      (ev, role, canon(text)) }
    // sameAs: block on (lemma(trigger), type), canonical = min eventId
    val typedEvents = for {
      r <- records; (t, trs, _) <- r.events if t.nonEmpty; (text, s, _) <- trs
    } yield (Ontology.lemmaOf(text), t, s"${sentKey(r.idx)}:T$s")
    val sameAs = typedEvents.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      val canonical = g.map(_._3).min
      g.map(_._3).filter(_ != canonical).map((_, "sameAs", canonical))
    }
    (hasType ++ entities ++ argTriples ++ sameAs).toSet
  }

  def checkPR(corpus: String, minTriples: Int): Unit = {
    val path = s"Mu_test_data/$corpus.pred.json"
    val ann = Sources.readAnnotationArray(spark, Sources.goldenCorpus(corpus)).persist()
    try {
      val got = engineTriples(ann, path)
      val expected = expectedTriples(recordsOf(ann), path)
      assert(expected.size >= minTriples, s"thin corpus: ${expected.size}")
      val inter = got.intersect(expected)
      val p = inter.size.toDouble / got.size
      val r = inter.size.toDouble / expected.size
      info(f"$corpus: precision=$p%.4f recall=$r%.4f " +
        s"(engine=${got.size} expected=${expected.size})")
      assert(p >= 0.95, s"precision $p; sample: ${(got -- expected).take(3)}")
      assert(r >= 0.95, s"recall $r; sample: ${(expected -- got).take(3)}")
    } finally ann.unpersist()
  }

  test("reference ACE golden corpus ingests with deterministic numbering") {
    val ann = Sources.readAnnotationArray(spark, Sources.goldenCorpus("test_ace"))
    assert(ann.count() == 832)
    val records = recordsOf(ann)
    assert(records.map(_.events.map(_._2.size).sum).sum == 439)
    // determinism: re-read yields identical rec_idx -> tokens mapping
    val again = Sources.readAnnotationArray(spark, Sources.goldenCorpus("test_ace"))
      .selectExpr("cast(rec_idx as long)", "tokens")
      .as[(Long, Seq[String])].collect().toMap
    assert(records.forall(r => again(r.idx) == r.tokens))
  }

  test("engine triples over REFERENCE-produced ACE annotations: P/R vs " +
      "independent derivation >= 0.95") {
    checkPR("test_ace", 1000)
  }

  test("engine triples over REFERENCE-produced TimeBank annotations: P/R " +
      "vs independent derivation >= 0.95") {
    checkPR("test_tbd", 2000)
  }

  test("engine triples over the dev ACE golden corpus (923 sentences): " +
      "P/R >= 0.95") {
    checkPR("dev_ace", 1000)
  }

  test("engine triples over the dev TimeBank golden corpus: P/R >= 0.95") {
    checkPR("dev_tbd", 800)
  }

  test("engine triples over the train TimeBank golden corpus (4032 " +
      "sentences): P/R >= 0.95") {
    checkPR("train_tbd", 5000)
  }

  test("lineage: every triple carries the sentence content sha") {
    val ann = Sources.readAnnotationArray(spark, Sources.goldenCorpus("test_ace"))
    val path = "Mu_test_data/test_ace.pred.json"
    val withSha = Triples.emit(spark,
      Pipeline.fromAnnotations(spark, ann, repo, path))
      .select("subj", "contentSha").collect()
    val shaByKey = recordsOf(ann).map(r =>
      s"$repo/$path#L0:S${r.idx}" -> Text.sha256(r.tokens.mkString(" "))).toMap
    for (row <- withSha.take(2000)) {
      val subj = row.getString(0)
      val key = subj.split(":T").head
      if (shaByKey.contains(key))
        assert(row.getString(1) == shaByKey(key), s"sha mismatch for $subj")
    }
  }
}
