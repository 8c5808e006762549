package graft.link

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-linking / canonicalization stage (north rule; reference analog is
  * the coref post-pass, project/APIs/coref.py:32-119):
  *
  *   1. blocking on a normalized key (trigger/mention lemma) — with the
  *      crucial scale trick: pairwise similarity runs over DISTINCT surface
  *      forms, not over mentions. Mention counts grow with the corpus
  *      (10^12 files), but distinct surface forms per block grow with the
  *      vocabulary, so the O(k²) similarity join is bounded regardless of
  *      corpus size. The skewed part — assigning every mention to its
  *      cluster — is a join against the (small) form→canonical map, done
  *      as a broadcast join (or salted join when the map outgrows the
  *      broadcast threshold, see SkewJoin).
  *   2. pairwise similarity: token-set containment between forms sharing a
  *      block (coref.py's exact-span match generalized);
  *   3. connected components via iterative DataFrame self-join with AQE
  *      (north star names this explicitly) — label propagation to the
  *      component-minimum id;
  *   4. canonical form per component = longest text, ties to the
  *      lexicographically smallest (the A6 argmin analog, coref.py:38-52).
  */
object Canonicalize {

  /** Blocking key: lemma of the last token, lowercased + suffix-stripped.
    * Pure Catalyst expression chain (no UDF): possessive strip + plural /
    * verbal suffix rules of Text.normLemma. */
  def blockKey(text: Column): Column = {
    val last = lower(element_at(split(text, " "), -1))
    val noPoss = regexp_replace(last, "'s$", "")
    // ies->y (len>4), ing-> (len>4), ed-> (len>3), es-> (len>3), s-> (len>3, not ss)
    when(length(noPoss) > 4 && noPoss.endsWith("ies"),
      concat(expr_substr(noPoss, 3), lit("y")))
      .when(length(noPoss) > 4 && noPoss.endsWith("ing"), expr_substr(noPoss, 3))
      .when(length(noPoss) > 3 && noPoss.endsWith("ed"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("es"), expr_substr(noPoss, 2))
      .when(length(noPoss) > 3 && noPoss.endsWith("s") && !noPoss.endsWith("ss"),
        expr_substr(noPoss, 1))
      .otherwise(noPoss)
  }

  /** substring(col, 1, length-n): drop the last n chars. */
  private def expr_substr(c: Column, dropRight: Int): Column =
    c.substr(lit(1), length(c) - lit(dropRight))

  /** Connected components by label propagation: iterative DataFrame
    * self-join, localCheckpoint between iterations (cuts lineage), driver
    * convergence check via count — SURVEY.md §4. Vertices: (vid); edges:
    * (src, dst), undirected. Returns (vid, component). */
  def connectedComponents(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame, maxIter: Int = 12): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    undirected.count() // materialize once; every iteration joins against it
    var labels = vertices.select(col("vid"), col("vid").as("component"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val msgs = undirected
        .join(labels, undirected("src") === labels("vid"))
        .select(col("dst").as("vid"), col("component"))
      val next = labels.select("vid", "component").union(msgs)
        .groupBy("vid").agg(min("component").as("component"))
        .localCheckpoint()
      // convergence check every other iteration: each check is one extra
      // (tiny) driver-blocking job; min-label propagation is monotone, so
      // checking late never changes the fixpoint
      if (iter % 2 == 1 || iter == maxIter - 1) {
        val changed = next.alias("n")
          .join(labels.alias("o"), Seq("vid"))
          .filter(col("n.component") =!= col("o.component"))
          .limit(1).count()
        converged = changed == 0
      }
      labels = next
      iter += 1
    }
    if (!converged)
      // a component with diameter > maxIter would be silently split into
      // several canonical clusters — surface it instead
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: label propagation did NOT converge " +
          s"after $maxIter iterations — some components may be split; " +
          s"raise maxIter")
    undirected.unpersist()
    labels
  }

  /** Driver-local union-find over a collected graph — the fast path for
    * vocabulary-bounded form graphs. The distributed label-propagation
    * loop costs ~2 driver-blocking jobs per iteration (a dozen jobs of
    * pure scheduling overhead when the whole graph is a few thousand
    * rows); at that size a local solve is exact, instant, and removes
    * the overhead from the serial fraction that caps N→4N scaling.
    * Produces the identical (vid, component = min member vid) labeling
    * as `connectedComponents`. */
  def localComponents(spark: SparkSession, vids: Array[String],
      edges: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map(vids.map(v => v -> v): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((s, d) <- edges) parent(find(s)) = find(d)
    val minOfRoot = vids.groupBy(find).map { case (r, ms) => r -> ms.min }
    vids.toSeq.map(v => (v, minOfRoot(find(v)))).toDF("vid", "component")
  }

  /** Canonical-form map over mention texts: (repo, text) -> canonical.
    * `mentions` needs columns (repo, text). The returned map is one row per
    * distinct (repo, text).
    *
    * CC strategy is size-gated: graphs up to
    * `spark.graft.maxLocalCCForms` distinct forms (default 100k; the edge
    * count is re-checked with a limit-guard) are solved by a driver-local
    * union-find; larger graphs run the distributed label-propagation
    * loop. Both produce the min-vid labeling — equality is unit-tested. */
  def canonicalForms(spark: SparkSession, mentions: DataFrame): DataFrame =
    canonicalFormsCounted(spark, mentions)._1

  /** [[canonicalForms]] plus the distinct-form count it already computes
    * internally (one row per distinct (repo, text) — exactly the emitted
    * map's cardinality): callers feeding the map to a gated join can pass
    * the count as the gate's upper bound and skip the gate's own count()
    * job — one fewer driver-blocking barrier per emit. The refined forms
    * are released before returning, so evaluating the map re-runs the
    * block refinement; [[canonicalFormsCached]] avoids that. */
  def canonicalFormsCounted(spark: SparkSession,
      mentions: DataFrame): (DataFrame, Long) = {
    val (out, nForms, forms) = canonicalFormsCached(spark, mentions)
    forms.unpersist()
    (out, nForms)
  }

  /** [[canonicalFormsCounted]] plus the cached refined-forms frame the map
    * reads: the caller releases it once the map is materialized, so the
    * refinement (a distinct and two window shuffles) runs once. */
  private[graft] def canonicalFormsCached(spark: SparkSession,
      mentions: DataFrame): (DataFrame, Long, DataFrame) = {
    val maxBlock =
      spark.conf.get("spark.graft.maxBlockForms", "1000").toInt
    val forms = refineBlocks(mentions, maxBlock)
      .withColumn("vid", concat(col("repo"), lit("\u0000"), col("text")))
      .persist()
    val nForms = forms.count() // materializes the cache for all consumers
    // pairwise similarity within a KEPT block: token-set containment. The
    // `kept` gate bounds the per-(repo, block) join fan-out at maxBlock²
    // (≤1M comparisons in the one task a hot block lands on — never
    // corpus-quadratic). Dropped forms fall back to identity canonical
    // below, audited by `droppedBlocks`: they can only be under-merged,
    // never silently mis-merged.
    val inBlock = forms.filter(col("kept"))
    val a = inBlock.select(col("repo"), col("block"), col("vid").as("src"),
      split(col("text"), " ").as("ta"))
    val b = inBlock.select(col("repo"), col("block"), col("vid").as("dst"),
      split(col("text"), " ").as("tb"))
    val edges = a.join(b, Seq("repo", "block"))
      .filter(col("src") < col("dst"))
      .filter(size(array_intersect(col("ta"), col("tb"))) ===
        least(size(col("ta")), size(col("tb"))))
      .select("src", "dst")
    val maxLocal =
      spark.conf.get("spark.graft.maxLocalCCForms", "100000").toLong
    val maxLocalEdges = 4L * math.max(nForms, 1L)
    val comps =
      if (nForms <= maxLocal) {
        import spark.implicits._
        // limit-guard: a degenerate block could still make edges
        // quadratic; take() early-exits, and overflow falls back to the
        // distributed loop
        val es = edges.as[(String, String)].take(maxLocalEdges.toInt + 1)
        if (es.length <= maxLocalEdges)
          localComponents(spark,
            inBlock.select("vid").as[String].collect(), es)
        else connectedComponents(spark, inBlock.select("vid"), edges)
      } else connectedComponents(spark, inBlock.select("vid"), edges)
    // comps is tiny on the local path and AQE picks the strategy on the
    // distributed one — no forced broadcast (comps grows with forms)
    val withComp = inBlock.join(comps, Seq("vid"))
    // canonical per component: longest text, ties -> lexicographically min
    val canon = withComp
      .groupBy("component")
      .agg(min(struct((lit(1000) - length(col("text"))).as("negLen"),
        col("text").as("t"))).as("best"))
      .select(col("component"), col("best.t").as("canonical"))
    val out = withComp.join(canon, Seq("component"))
      .select("repo", "text", "canonical")
      .unionByName(forms.filter(!col("kept"))
        .select(col("repo"), col("text"), col("text").as("canonical")))
    (out, nForms, forms)
  }

  /** Block refinement behind `canonicalForms`' quadratic cap: distinct
    * (repo, text) forms keyed by `blockKey`; a block holding more than
    * `maxBlock` distinct forms (a hot lemma — every mention ending in
    * "said", a common surname) is split on a secondary key (the lowercased
    * first token); a sub-block STILL over the cap is marked `kept = false`
    * and falls out of the pairwise join entirely. Blocks within the cap
    * keep their original key, so normal-corpus output is unchanged.
    * Returns (repo, text, block, kept). */
  private[graft] def refineBlocks(mentions: DataFrame,
      maxBlock: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = mentions.select("repo", "text").distinct()
      .withColumn("block", blockKey(col("text")))
    // WINDOW counts, not size-table self-joins: a join would evaluate the
    // (uncached) mention subtree once per join side -- and since the small
    // size table becomes a broadcast build side, each broadcast THREAD
    // recomputes the full upstream tagging DAG (measured: 4.3x pipeline
    // wall at local[2] before this rewrite). Two window shuffles over the
    // vocabulary-bounded distinct forms keep it one linear pass; the
    // per-partition work is a count, linear even in a hot block.
    val bsz = count(lit(1)).over(Window.partitionBy("repo", "block"))
    val refined = base
      .withColumn("block", when(bsz > maxBlock,
          concat(col("block"), lit("\u0001"),
            lower(element_at(split(col("text"), " "), 1))))
        .otherwise(col("block")))
    val bsz2 = count(lit(1)).over(Window.partitionBy("repo", "block"))
    refined.withColumn("kept", bsz2 <= maxBlock)
  }

  /** Audit view of `canonicalForms`' cap (the `maxBucket` /
    * `maxShingleDf` pattern — no silent truncation): one row per
    * (repo, block) whose refined sub-block still exceeds `maxBlockForms`,
    * with its distinct-form count. Forms in these blocks stay
    * identity-canonical in the emitted map. */
  def droppedBlocks(spark: SparkSession, mentions: DataFrame,
      maxBlockForms: Int = 1000): DataFrame =
    refineBlocks(mentions, maxBlockForms)
      .filter(!col("kept"))
      .groupBy("repo", "block").agg(count(lit(1)).as("nForms"))

  /** Rewrite mention texts to canonical forms (J5 analog,
    * coref.py:80-119). The map side is distinct surface forms — usually
    * small — but NOT vocabulary-bounded when arguments contain names, so
    * the join is gated: broadcast below `maxBroadcastRows`, salted
    * shuffle join (hot forms spread over 16 reducers) above. Callers
    * should cache `formMap`; the gate counts it. */
  def rewrite(mentions: DataFrame, formMap: DataFrame,
      maxBroadcastRows: Long = 1000000L,
      formMapRows: Long = Long.MaxValue): DataFrame =
    graft.ops.SkewJoin.gatedJoin(mentions, formMap, Seq("repo", "text"),
      saltSource = mentions.columns.toSeq, joinType = "left",
      maxBroadcastRows = maxBroadcastRows,
      // a caller that already knows the map's cardinality (canonical-
      // FormsCounted) resolves the gate without the count() job
      smallUpperBound = formMapRows)
      .withColumn("canonical", coalesce(col("canonical"), col("text")))
}
