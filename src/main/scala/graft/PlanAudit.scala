package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Plan dump: writes `.explain("formatted")` of each named SparkEntry
  * query to `<outDir>/<query>.txt`. A query that fails to plan is
  * reported and skipped.
  *
  * Usage: runMain graft.PlanAudit <outDir> [query ...] (default: the
  * audited list below, the one docs/PLANS.md describes).
  * Env: SPARK_GRAFT_SF_DIR (default: the sf0.01 test data),
  * SPARK_GRAFT_CPUS (default 8). */
object PlanAudit {
  val Audited: Seq[String] = Seq("q1_agg", "q2_join_broadcast", "q3_window_latest",
    "q6_nearest_join", "q7_pairs_per_day", "q10_range_join",
    "q11_minhash_neardups", "q12_simhash_neardups", "q13_ngram_jaccard",
    "q14_knn_bruteforce", "q15_langid_dist", "q16_token_stats",
    "q22_semi_by_brand", "q23_embed_neardup", "q25_quality",
    "q26_embed_neardup_lsh", "q27_pii_redact", "q28_stratified_sample",
    "q29_ann_ivf", "q30_golden_spans", "kg_timeline_golden",
    "q31_contained_args", "q32_dedup_clusters", "q33_copular_predicates",
    "q34_negation_scope", "q35_head_evidence", "q36_tokenize",
    "q37_sentsplit", "q38_gazetteer_ner", "q39_trigger_spans",
    "q40_argument_spans", "q41_align_inject", "q42_duration_speculation",
    "q43_ner_eval", "q51_sql_functions", "q52_bucketed_join",
    "q53_partition_pruned", "q54_incremental_neardup",
    "kg_snapshot_delta", "q55_batch_plan", "kg_temporal_closure",
    "q57_corpus_stats", "q58_integrity_audit", "q59_decontaminate",
    "q60_repetition", "q61_quantized_knn", "q62_freq_quality", "kg_bgp",
    "kg_bgp_optional", "kg_ntriples", "kg_pagerank", "q63_dup_ngrams",
    "kg_provenance", "q64_seq_packing", "q65_tfidf_topk",
    "q66_bpe_pairs", "q67_phrase_pmi", "kg_labelprop", "kg_degree_dist",
    "q68_sessionize", "q69_rollup", "q70_cube", "q71_zorder",
    "q72_sketch_distinct", "kg_triangles", "kg_kcore",
    "kg_edge_jaccard", "kg_truss", "q73_edit_pairs", "q74_prefix_jaccard")

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.PlanAudit <outDir> [query ...]")
      sys.exit(2)
    }
    val outDir = Paths.get(args(0))
    val names = if (args.length > 1) args.drop(1).toSeq else Audited
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        "/tmp/graft_warehouse/" + java.util.UUID.randomUUID().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(outDir)
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        Files.writeString(outDir.resolve(s"$n.txt"), df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        println(s"WROTE $n")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"FAILED $n: $e") }
    }
    spark.stop()
  }
}
