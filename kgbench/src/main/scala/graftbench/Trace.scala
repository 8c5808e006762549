package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task metrics summed per job group. Every span runs its jobs under its
  * own job group, so a group's totals are the span's self-attributed work.
  * Written on the listener-bus thread, read after [[Tracer.finish]] drains
  * the bus. */
final class TaskLedger extends SparkListener {
  final class Acc {
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    var jobs = 0
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Acc]
  /** (startMs, endMs) of every job, for driver idle time. */
  val jobSpans = mutable.Map.empty[Int, (Long, Long)]

  private def acc(group: String): Acc = byGroup.getOrElseUpdate(group, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = group)
    acc(group).jobs += 1
    jobSpans(e.jobId) = (e.time, Long.MaxValue)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach { case (s, _) => jobSpans(e.jobId) = (s, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrElse(e.stageId, ""))
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }
}

/** In-memory spans around calls into the engine's layers. A span has a
  * layer, a name, start and end, its parent and the run id; spans of one
  * run share the run id. While a span is open its id is the Spark job
  * group, so the [[TaskLedger]] attributes task metrics to it. */
final class Tracer(spark: SparkSession, val runId: String) {
  final case class Span(id: Int, layer: String, name: String, parent: Int,
      startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L,
      var rows: Long = 0L) {
    def sec: Double = (endNs - startNs) / 1e9
    def group: String = s"$runId/$id"
  }

  private val sc = spark.sparkContext
  val ledger = new TaskLedger
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  sc.addSparkListener(ledger)

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, layer, name, open.headOption.fold(-1)(_.id),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setJobGroup(s.group, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Books `n` output rows to the innermost open span. */
  def rows(n: Long): Unit = open.head.rows += n

  def finish(): Unit = {
    org.apache.spark.graftbench.BusSync.drain(sc)
    sc.removeSparkListener(ledger)
  }

  def ofLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq

  def childSec(s: Span): Double =
    spans.filter(_.parent == s.id).map(_.sec).sum

  /** Length of the union of the intervals, in seconds. */
  def unionSec(ivs: Seq[(Long, Long)], scale: Double): Double = {
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += (curE - curS) / scale
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += (curE - curS) / scale
    total
  }

  /** The nine common metrics of a layer, from its spans' groups (or from
    * every group when `groups` is None). */
  def layerMetrics(prefix: String, wall: Double, self: Double, rowsOut: Long,
      groups: Option[Set[String]]): Seq[(String, Double, String)] = {
    val accs = ledger.synchronized {
      ledger.byGroup.collect {
        case (g, a) if groups.forall(_.contains(g)) => a
      }.toSeq
    }
    val stages = accs.flatMap(_.stageTaskMs.values.map(_.toSeq))
    val mb = 1024.0 * 1024.0
    Seq(
      (s"$prefix.wall_s", wall, "s"),
      (s"$prefix.self_s", self, "s"),
      (s"$prefix.task_s", accs.map(_.taskMs).sum / 1e3, "s"),
      (s"$prefix.gc_s", accs.map(_.gcMs).sum / 1e3, "s"),
      (s"$prefix.rows_out", rowsOut.toDouble, "count"),
      (s"$prefix.shuffle_write_mb", accs.map(_.shuffleWriteBytes).sum / mb, "MB"),
      (s"$prefix.spill_mb", accs.map(_.spillBytes).sum / mb, "MB"),
      (s"$prefix.jobs", accs.map(_.jobs).sum.toDouble, "count"),
      (s"$prefix.task_skew", Tracer.skew(stages), "ratio"))
  }

  def groupsOf(layer: String): Set[String] = ofLayer(layer).map(_.group).toSet

  def sumOver(groups: Set[String])(f: TaskLedger#Acc => Long): Long =
    ledger.synchronized {
      ledger.byGroup.collect { case (g, a) if groups.contains(g) => f(a) }.sum
    }

  def spansJson: String = spans.map { s =>
    s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
      s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"sec":${s.sec},""" +
      s""""rows":${s.rows}}"""
  }.mkString("[", ",", "]")
}

object Tracer {
  /** Max task time ÷ median task time per stage (stages of at least two
    * tasks), averaged over stages weighted by their total task time. 1.0
    * when no stage qualifies. */
  def skew(stages: Seq[Seq[Long]]): Double = {
    val qualified = stages.filter(_.size >= 2)
    val weight = qualified.map(_.sum.toDouble).sum
    if (weight <= 0) 1.0
    else qualified.map { ts =>
      val sorted = ts.sorted
      val med = math.max(Stats.median(sorted.map(_.toDouble)), 1.0)
      sorted.last / med * ts.sum
    }.sum / weight
  }
}
