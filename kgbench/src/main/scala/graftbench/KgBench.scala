package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Main
import graft.corpus.Synth
import graft.kg.Store
import graft.model.SourceFile

/** Benchmark of `graft.Main`'s job: a committed, resumable KG build over a
  * (repo, path, commit, lang, content) parquet table of the seeded Synth
  * corpus. One process, one local session; see kgbench/README.md for the
  * workloads and metrics.
  *
  * {{{
  * KgBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --work <dir> --results <file>
  * }}}
  *
  * The last line of standard output is one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. */
object KgBench {
  val Workloads = Seq("incremental_edit", "emit_resume")
  private val MB = 1024.0 * 1024.0

  // Corpus size: a build at this size is dominated by fixed per-job costs,
  // as it is up to 1500 files, and a round of runs, traced ones included,
  // fits the benchmark's time limits (see README.md, "Corpus size and
  // time budget").
  val CorpusFiles = 300
  val SentsPerFile = 8
  val Cores = 4
  /** Share of files incremental_edit's v1 table gives other content. */
  val EditShare = 0.05

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, results: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(req("--workload"), req("--seed").toLong,
      req("--seconds").toDouble, req("--trace") == "1",
      Paths.get(req("--work")).toAbsolutePath,
      Paths.get(req("--results")).toAbsolutePath)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  /** The generated inputs: `exact` is the Synth corpus in a seed-chosen row
    * order (the gold corpus); `edited` is the same table with a seed-chosen
    * share of files given other content (the v1 of incremental_edit). */
  final case class Inputs(exact: Seq[SourceFile], edited: Seq[SourceFile],
      nEdited: Int, contentBytes: Long)

  def inputs(o: Opts): Inputs = {
    val rng = new Random(o.seed)
    val order = rng.shuffle((0 until CorpusFiles).toVector)
    val nEdited = math.max(1, math.round(CorpusFiles * EditShare).toInt)
    val editedIds = rng.shuffle((0 until CorpusFiles).toVector).take(nEdited).toSet
    val exact = order.map(i => Synth.sourceFile(i.toLong, SentsPerFile))
    val edited = order.zip(exact).map { case (i, f) =>
      if (editedIds(i))
        f.copy(content = Synth.contentFor(f.repo, f.path + "#v1", f.lang, SentsPerFile))
      else f
    }
    Inputs(exact, edited, nEdited,
      exact.map(_.content.getBytes("UTF-8").length.toLong).sum)
  }

  /** What a rep starts from: the input table, the committed prior root it
    * copies, and the number of input rows that changed since that root was
    * committed. */
  final case class Prepared(table: String, prior: Path, changedRows: Long)

  def writeTable(spark: SparkSession, rows: Seq[SourceFile], dir: Path): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, Cores).toDS()
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** One set-up: input generation plus the build the workload starts from. */
  def prepare(spark: SparkSession, o: Opts, in: Inputs, dir: Path): Prepared = {
    val table = dir.resolve("table")
    val prior = dir.resolve("prior")
    o.workload match {
      case "incremental_edit" =>
        writeTable(spark, in.edited, table)
        Main.run(spark, table.toString, prior.toString)
        FileTree.delete(table)
        writeTable(spark, in.exact, table)
        Prepared(table.toString, prior, in.nEdited.toLong)
      case "emit_resume" =>
        writeTable(spark, in.exact, table)
        Main.run(spark, table.toString, prior.toString)
        // a crash after the relations commit, before the triples commit
        Files.delete(Store.manifestPath(prior.toString, "triples"))
        // no input row changed; the ratio's base is the input row count
        Prepared(table.toString, prior, in.exact.size.toLong)
    }
  }

  /** A local session; shuffle partitions stay at `Cores` for any `cores`,
    * so a local[1] run differs from local[4] only in parallelism. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-kgbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

  /** One timed `Main.run` on a fresh copy of the prior root, gated. */
  final case class Rep(wall: Double, cpu: Double, jit: Double, steal: Double,
      triples: Long, storeMb: Double, retainedMb: Double, gate: Gate,
      rows: Seq[Gate.Triple])

  def rep(spark: SparkSession, p: Prepared, root: Path,
      gold: Set[Gate.Triple]): Rep =
    try {
      FileTree.copy(p.prior, root)
      val before = cachedMb(spark)
      val host0 = HostProbe.cpuTicks()
      val cpu0 = HostProbe.processCpuSec()
      val jit0 = HostProbe.jitSec()
      val t0 = System.nanoTime()
      val (n, _) = Main.run(spark, p.table, root.toString)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = HostProbe.processCpuSec() - cpu0
      val jit = HostProbe.jitSec() - jit0
      val steal = HostProbe.stealShare(host0, HostProbe.cpuTicks())
      val retained = cachedMb(spark) - before
      val storeMb = FileTree.bytes(root) / MB
      val committed = Gate.committed(spark, root.toString, "triples")
      val rows = Gate.rows(committed)
      val gate = Gate.check(spark, rows, committed, p.table, gold)
      if (gate.rows != n)
        throw new IllegalStateException(s"Main.run counted $n triples, committed ${gate.rows}")
      Rep(wall, cpu, jit, steal, n, storeMb, retained, gate, rows)
    } finally FileTree.delete(root)

  final case class Metric(name: String, value: Double, unit: String, n: Int)

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case NonFatal(e) => System.err.println(s"[kgbench] $e"); sys.exit(2)
    }
    val code =
      try { run(o); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    FileTree.delete(o.work)
    Files.createDirectories(o.work)
    val hostPre = HostProbe.stamp()
    val gold = Gate.gold(CorpusFiles, SentsPerFile)
    val in = inputs(o)
    val t0 = System.nanoTime()
    val spark = session(Cores, o.work)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val outcome =
      try {
        if (o.trace) Traced.run(spark, o, in, gold)
        else timed(spark, o, in, gold, sessionSec)
      } finally {
        SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
          .foreach(_.stop())
        FileTree.delete(o.work)
      }
    val hostPost = HostProbe.stamp()
    report(o, outcome, hostPre, hostPost)
  }

  final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
      metrics: Seq[Metric], detail: Seq[(String, String)])

  def timed(spark: SparkSession, o: Opts, in: Inputs, gold: Set[Gate.Triple],
      sessionSec: Double): Outcome = {
    val t = System.nanoTime()
    val prepared = prepare(spark, o, in, o.work.resolve("setup"))
    val setupSec = sessionSec + (System.nanoTime() - t) / 1e9
    val reps = mutable.ArrayBuffer.empty[Either[String, Rep]]
    val start = System.nanoTime()
    while (reps.isEmpty || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val root = o.work.resolve(s"rep${reps.size}")
      reps += (try Right(rep(spark, prepared, root, gold))
        catch { case NonFatal(e) => Left(e.toString) })
    }
    val measured = reps.collect { case Right(r) => r }.toSeq
    val passed = measured.filter(_.gate.ok)
    val failed = reps.size - passed.size
    def med(xs: Seq[Double]) = Stats.median(xs)
    val metrics = Seq(
      Metric("wall_s", med(passed.map(_.wall)), "s", passed.size),
      Metric("triples_per_s", med(passed.map(r => r.triples / r.wall)),
        "1/s", passed.size),
      Metric("setup_s", setupSec, "s", 1),
      Metric("store_mb_per_input_mb",
        med(measured.map(_.storeMb * MB / in.contentBytes)), "MB/MB",
        measured.size),
      Metric("triple_precision", med(measured.map(_.gate.precision)),
        "ratio", measured.size),
      Metric("triple_recall", med(measured.map(_.gate.recall)),
        "ratio", measured.size))
    def samples(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    Outcome(reps.size, failed, failed == 0 && passed.nonEmpty, metrics, Seq(
      "fail_rate" -> Json.num(failed.toDouble / reps.size),
      "lineage_violations" -> measured.map(_.gate.lineageViolations).sum.toString,
      "retained_cache_mb" -> Json.num(med(measured.map(_.retainedMb))),
      "session_s" -> Json.num(sessionSec),
      "wall_samples_s" -> samples(passed.map(_.wall)),
      "cpu_samples_s" -> samples(passed.map(_.cpu)),
      "jit_samples_s" -> samples(passed.map(_.jit)),
      "steal_share_samples" -> samples(passed.map(_.steal)),
      "errors" -> reps.collect { case Left(e) => Json.str(e) }.mkString("[", ",", "]")))
  }

  def report(o: Opts, out: Outcome, hostPre: String, hostPost: String): Unit = {
    out.metrics.foreach { m =>
      println(f"[kgbench] ${o.workload}%-16s ${m.name}%-44s ${Json.num(m.value)}%-22s ${m.unit}%-6s (n=${m.n})")
    }
    val metricsJson = Json.obj(out.metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "files" -> CorpusFiles.toString, "sents_per_file" -> SentsPerFile.toString,
      "cores" -> Cores.toString,
      "samples" -> Json.obj(out.metrics.map(m => m.name -> m.n.toString)),
      "host_pre" -> hostPre, "host_post" -> hostPost) ++ out.detail ++ Seq(
      "metrics" -> metricsJson))
    Files.createDirectories(o.results.getParent)
    Files.writeString(o.results, detail + "\n")
    println(s"[kgbench] detail $detail")
    println(Json.obj(Seq("correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> metricsJson)))
  }
}
