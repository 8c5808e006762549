package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.link.Canonicalize

/** Operator-level specs on crafted inputs, mirroring the cited reference
  * semantics (SURVEY.md §5 "unit per operator"). */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- J1 alignment (main.py:117-144) ----

  def align(heads: Seq[(String, Int, String)], toks: Seq[(String, Seq[String])]) = {
    val h = heads.toDF("sentKey", "tokIdx", "tok")
    val t = toks.toDF("sentKey", "tokens")
    Pipeline.alignHeads(h, t).as[(String, Int, Int, String)].collect().toSet
  }

  test("J1: exact index match wins") {
    assert(align(Seq(("s1", 2, "ran")), Seq(("s1", Seq("the", "dog", "ran", "ran")))) ==
      Set(("s1", 2, 2, "ran")))
  }

  test("J1: nearest candidate within ±2; beyond cutoff drops") {
    // candidate at distance 1 and 2 -> picks 1
    assert(align(Seq(("s1", 1, "ran")), Seq(("s1", Seq("x", "y", "ran", "z", "ran")))) ==
      Set(("s1", 1, 2, "ran")))
    // only candidate at distance 3 -> dropped (closest cutoff main.py:131)
    assert(align(Seq(("s1", 0, "ran")), Seq(("s1", Seq("x", "y", "z", "ran")))) ==
      Set.empty[(String, Int, Int, String)])
  }

  test("J1: '.'-strip on the BETTER side (main.py:126)") {
    assert(align(Seq(("s1", 1, "US")), Seq(("s1", Seq("the", "U.S.", "army")))) ==
      Set(("s1", 1, 1, "U.S.")))
  }

  test("J1: tie at equal distance resolves to lower index (deterministic)") {
    assert(align(Seq(("s1", 2, "ran")), Seq(("s1", Seq("x", "ran", "y", "ran")))) ==
      Set(("s1", 2, 1, "ran")))
  }

  // ---- A1 mean-threshold aggregation (joint_model.py:342-369) ----

  test("A1: duplicate keys straddling 0.5 aggregate by mean") {
    val ev = Seq(
      ("s1", 0, "tok", 0.9), ("s1", 0, "tok", 0.3), // mean 0.6 -> head
      ("s1", 1, "tok2", 0.4), ("s1", 1, "tok2", 0.55) // mean 0.475 -> not
    ).toDF("sentKey", "tokIdx", "tok", "prob")
    val heads = Pipeline.eventHeads(ev).as[(String, Int, String)].collect().toSet
    assert(heads == Set(("s1", 0, "tok")))
  }

  test("A1 fused path == relational path on a real corpus slice") {
    // headsNarrow (the pipeline's shuffle-free A1) must emit exactly the
    // rows of eventHeads(headEvidence(...)) — same mean arithmetic, same
    // threshold — on real synthetic sentences
    val sents = Pipeline.extract(spark,
      graft.corpus.Synth.corpus(spark, 30L, 6)).flatMap(_.sent)
    val fused = Pipeline.headsNarrow(spark, Pipeline.tagStage(spark, sents))
      .as[(String, Int, String)].collect().toSet
    val relational = Pipeline.eventHeads(Pipeline.headEvidence(spark, sents))
      .as[(String, Int, String)].collect().toSet
    assert(fused == relational && fused.nonEmpty)
  }

  // ---- J4 pair generation (joint_model.py:403-437) ----

  test("J4: C(n,2) ordered pairs with distance feature, sentence-bounded") {
    val heads = Seq(("s1", 1, "a"), ("s1", 4, "b"), ("s1", 7, "c"), ("s2", 0, "d"))
      .toDF("sentKey", "tokIdx", "tok")
    val pairs = Pipeline.relationCandidates(heads)
      .select("sentKey", "l", "r", "dist").as[(String, Int, Int, Int)]
      .collect().toSet
    assert(pairs == Set(("s1", 1, 4, 3), ("s1", 1, 7, 6), ("s1", 4, 7, 3)))
  }

  // ---- relation scoring + P6 filter ----

  test("relation scorer: first connective between; P6 drops VAGUE/NONE") {
    val heads = Seq(("s1", 2, "left"), ("s1", 6, "resigned"),
      ("s2", 1, "met"), ("s2", 5, "said")).toDF("sentKey", "tokIdx", "tok")
    val toks = Seq(
      ("s1", Seq("The", "convoy", "left", "before", "Mary", "Jones", "resigned", ".")),
      ("s2", Seq("They", "met", "and", "then", "he", "said", "so", "."))
    ).toDF("sentKey", "tokens")
    val scored = Pipeline.scoreRelations(Pipeline.relationCandidates(heads), toks)
    val all = scored.as[(String, Int, Int, String)].collect().toSet
    assert(all == Set(("s1", 2, 6, "BEFORE"), ("s2", 1, 5, "NONE")))
    val kept = Pipeline.filterRelations(scored).as[(String, Int, Int, String)].collect().toSet
    assert(kept == Set(("s1", 2, 6, "BEFORE")))
  }

  // ---- connected components (link stage) ----

  test("CC: chain, star, and disjoint clusters converge to min label") {
    val vertices = (1 to 10).map(i => s"v$i").toDF("vid")
    val edges = Seq(
      ("v1", "v2"), ("v2", "v3"), ("v3", "v4"), // chain -> v1
      ("v5", "v6"), ("v5", "v7"), ("v5", "v8") // star -> v5
      // v9, v10 isolated
    ).toDF("src", "dst")
    val comps = Canonicalize.connectedComponents(spark, vertices, edges)
      .as[(String, String)].collect().toMap
    assert(Seq("v1", "v2", "v3", "v4").map(comps) == Seq.fill(4)("v1"))
    assert(Seq("v5", "v6", "v7", "v8").map(comps) == Seq.fill(4)("v5"))
    assert(comps("v9") == "v9" && comps("v10") == "v10")
  }

  test("canonicalForms: short forms map to longest form in block") {
    val mentions = Seq(
      ("r1", "George Pataki"), ("r1", "Pataki"), ("r1", "the convoy"),
      ("r2", "Pataki") // different repo -> separate block
    ).toDF("repo", "text")
    val m = Canonicalize.canonicalForms(spark, mentions)
      .as[(String, String, String)].collect()
      .map { case (repo, text, canon) => (repo, text) -> canon }.toMap
    assert(m(("r1", "Pataki")) == "George Pataki")
    assert(m(("r1", "George Pataki")) == "George Pataki")
    assert(m(("r1", "the convoy")) == "the convoy")
    assert(m(("r2", "Pataki")) == "Pataki")
    // while its refined forms stay cached, the same map reads them from
    // the cache: materializing it does not re-run refineBlocks' windows
    val (cached, _, forms) = Canonicalize.canonicalFormsCached(spark, mentions)
    try {
      val windows = cached.queryExecution.withCachedData.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(windows.isEmpty, "form map recomputes the block refinement")
      assert(cached.as[(String, String, String)].collect()
        .map { case (repo, text, canon) => (repo, text) -> canon }.toMap == m)
    } finally forms.unpersist()
  }

  test("local union-find CC == distributed label propagation") {
    // same graph through both strategies
    val vids = (1 to 10).map(i => s"v$i").toArray
    val edgePairs = Array(("v1", "v2"), ("v2", "v3"), ("v3", "v4"),
      ("v5", "v6"), ("v5", "v7"), ("v5", "v8"))
    val local = Canonicalize.localComponents(spark, vids, edgePairs)
      .as[(String, String)].collect().toMap
    val dist = Canonicalize.connectedComponents(spark,
      vids.toSeq.toDF("vid"), edgePairs.toSeq.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(local == dist)
  }

  test("canonicalForms: local and distributed CC paths emit the same map") {
    val mentions = Seq(
      ("r1", "George Pataki"), ("r1", "Pataki"), ("r1", "the convoy"),
      ("r1", "a convoy"), ("r2", "Pataki"), ("r1", "Governor George Pataki")
    ).toDF("repo", "text")
    def run(): Map[(String, String), String] =
      Canonicalize.canonicalForms(spark, mentions)
        .as[(String, String, String)].collect()
        .map { case (repo, text, canon) => (repo, text) -> canon }.toMap
    val localPath = run() // 6 forms -> local union-find
    spark.conf.set("spark.graft.maxLocalCCForms", "0")
    try {
      val distPath = run() // forced distributed label propagation
      assert(localPath == distPath)
    } finally spark.conf.unset("spark.graft.maxLocalCCForms")
  }

  test("canonicalForms: hot-lemma block is capped, audited, and " +
      "identity-canonical; normal blocks unchanged") {
    // adversarial block: 50 distinct multi-token forms all ending in the
    // same lemma ("said") AND sharing the first token, so the secondary
    // sub-block split cannot rescue it — with cap 10 the whole sub-block
    // must drop to identity canonical. A normal block rides along.
    val hot = (1 to 50).map(i => ("r1", s"spokesman number$i said"))
    val normal = Seq(("r1", "George Pataki"), ("r1", "Pataki"))
    val mentions = (hot ++ normal).toDF("repo", "text")
    spark.conf.set("spark.graft.maxBlockForms", "10")
    try {
      val m = Canonicalize.canonicalForms(spark, mentions)
        .as[(String, String, String)].collect()
        .map { case (r, t, c) => (r, t) -> c }.toMap
      assert(m.size == 52)
      // dropped block: every hot form is its own canonical (under-merge,
      // never mis-merge)
      for ((r, t) <- hot) assert(m((r, t)) == t, s"identity for $t")
      // the normal block still merges as before
      assert(m(("r1", "Pataki")) == "George Pataki")
      // audit view surfaces exactly the dropped sub-block with its size
      val audit = Canonicalize.droppedBlocks(spark, mentions, 10)
        .as[(String, String, Long)].collect()
      assert(audit.length == 1 && audit.head._3 == 50)
      // bounded pair count: the kept universe generates at most cap² pairs
      val pairs = Canonicalize.refineBlocks(mentions, 10)
        .filter(col("kept"))
        .groupBy("repo", "block").count()
        .agg(sum(col("count") * col("count"))).as[Long].head()
      assert(pairs <= 10L * 10 * 2, s"pair bound violated: $pairs")
    } finally spark.conf.unset("spark.graft.maxBlockForms")
  }

  test("canonicalForms: oversized block rescued by first-token sub-split") {
    // 30 forms ending in "said", but 15 distinct first tokens -> sub-blocks
    // of 2 are all within cap 10, so merging still happens within sub-block
    val forms = (1 to 15).flatMap(i =>
      Seq(("r1", s"prefix$i spokesman said"), ("r1", s"prefix$i said")))
    spark.conf.set("spark.graft.maxBlockForms", "10")
    try {
      val m = Canonicalize.canonicalForms(spark, forms.toDF("repo", "text"))
        .as[(String, String, String)].collect()
        .map { case (r, t, c) => (r, t) -> c }.toMap
      for (i <- 1 to 15) {
        assert(m(("r1", s"prefix$i said")) == s"prefix$i spokesman said")
        assert(m(("r1", s"prefix$i spokesman said")) == s"prefix$i spokesman said")
      }
      assert(Canonicalize.droppedBlocks(spark, forms.toDF("repo", "text"), 10)
        .count() == 0)
    } finally spark.conf.unset("spark.graft.maxBlockForms")
  }

  test("canonicalForms blocking key mirrors Text.normLemma") {
    val texts = Seq("Jones", "jones", "armies", "running", "walked", "classes", "dogs", "pass")
    val df = texts.map(t => ("r", t)).toDF("repo", "text")
      .select(col("text"), Canonicalize.blockKey(col("text")).as("block"))
    val got = df.as[(String, String)].collect().toMap
    for (t <- texts)
      assert(got(t) == graft.text.Text.normLemma(t.toLowerCase.split(" ").last),
        s"blockKey($t)")
  }

  test("K3: tagging's length sort is WITHIN partitions — a local Sort, no added Exchange") {
    // the batching projection (joint_model.py:62 pad_collate analog) must
    // group similar-length sentences without a shuffle: the executed plan
    // carries a non-global Sort and exactly the exchanges of its INPUT
    // (none for a narrow synth scan) — a global orderBy here would add a
    // rangepartitioning Exchange and turn a narrow stage into a shuffle
    val sents = graft.kg.Pipeline.extract(
      spark, graft.corpus.Synth.corpus(spark, 8L, 4)).flatMap(_.sent)
    val plan = graft.kg.Pipeline.tagStage(spark, sents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Sort"), "length sort missing from plan")
    assert(!plan.contains("Exchange"),
      s"K3 sort must not shuffle; plan:\n${plan.take(800)}")
  }

  test("driver contract: every oracle key has a query; surface counts pinned") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphans = os.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    // pinned so a future edit that drops a query or oracle fails loudly
    // (update BOTH numbers AND the README/SURVEY counts when adding)
    assert(qs.size == 95, s"queries: ${qs.size}")
    assert(os.size == 92, s"oracles: ${os.size}")
  }
}
