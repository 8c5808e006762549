package graft

import org.apache.spark.sql.SparkSession

/** Round-6 isolation bench (guide §1.4): times named SparkEntry queries
  * with the noop sink (every column of every row computed, no output
  * cost), repeated `reps` times, in a session configured exactly like
  * graft.Bench. The FROZEN graft.Bench stays the artifact of record;
  * this main exists for optimization evidence (OPTIMIZATION_r06.md).
  *
  * Usage: runMain graft.BenchExtra [reps] [query ...] (reps defaults to 2)
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench). */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    // reps is optional: a first argument that is not a number is a query
    val (reps, queryArgs) = args.headOption.flatMap(_.toIntOption) match {
      case Some(n) => (n, args.drop(1).toSeq)
      case None => (2, args.toSeq)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names =
      if (queryArgs.nonEmpty) queryArgs
      else SparkEntry.queries.keys.toSeq.sorted
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
    for (n <- names; r <- 1 to reps) {
      spark.sparkContext.setJobDescription(s"$n rep$r")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"XBENCH $n rep$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"XBENCH $n rep$r FAILED: $e") }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
