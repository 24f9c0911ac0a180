package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics over a sample, reported the same way everywhere: the
  * median plus the highest of p90/p95/p99/p99.9 that still has at least
  * ten samples beyond it, with the sample count.
  */
final case class Summary(n: Int, p50: Double, tailPct: Option[Double],
                         tail: Option[Double], mean: Double) {
  def json: String = {
    val t = tailPct.map(p => s""","p${Stats.pctName(p)}":${Stats.num(tail.get)}""")
      .getOrElse("")
    s"""{"n":$n,"p50":${Stats.num(p50)}$t,"mean":${Stats.num(mean)}}"""
  }
}

object Stats {
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    val tailPct = Seq(0.999, 0.99, 0.95, 0.9).find(p => s.length * (1 - p) >= 10.0 - 1e-9)
    Summary(s.length, quantile(s, 0.5), tailPct, tailPct.map(quantile(s, _)),
      if (s.isEmpty) 0.0 else s.sum / s.length)
  }

  /** The tail percentile as a name: 0.99 → "99", 0.999 → "99.9". */
  def pctName(p: Double): String =
    java.math.BigDecimal.valueOf(p * 100).stripTrailingZeros.toPlainString

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** One timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, parent: Long, name: String, owner: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept until the run ends and then
  * written out whole, so recording costs one allocation per call.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body` as span `name` of `owner` (a request, cycle or entry). */
  def span[T](name: String, owner: String, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, parent, name, owner, t0, System.nanoTime()))
  }

  /** Record a span whose name is only known once the call returned. */
  def record(name: String, owner: String, parent: Long, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, owner, startNs, endNs))

  def byName(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfNs: Map[Long, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionLength(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def json: String = {
    val self = selfNs
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Stats.str(s.name)},""" +
        s""""owner":${Stats.str(s.owner)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job Spark accounting. Jobs are attributed to a request, cycle or
  * catalog entry by the job group the benchmark sets around the call.
  */
final class JobRec(val jobId: Int, val group: String, val description: String,
                   val submitMs: Long) {
  @volatile var firstTaskMs: Long = -1L
  @volatile var endMs: Long = -1L
  val stages = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val shuffleWrite = new AtomicLong(0)
  val shuffleRead = new AtomicLong(0)
  val spill = new AtomicLong(0)
  val inputBytes = new AtomicLong(0)

  def slotWaitMs: Double =
    if (firstTaskMs < 0) 0.0 else (firstTaskMs - submitMs).toDouble
}

/** Every job that starts while the listener is attached, with its job
  * group, description and task counts.
  */
final class JobLedger extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    jobs.put(e.jobId, new JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""), e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def rec(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    rec(e.stageId).foreach { r =>
      if (r.firstTaskMs < 0) r.firstTaskMs = e.taskInfo.launchTime
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    rec(e.stageId).foreach { r =>
      r.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        r.runMs.addAndGet(m.executorRunTime)
        r.cpuNs.addAndGet(m.executorCpuTime)
        r.gcMs.addAndGet(m.jvmGCTime)
        r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        r.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  def inGroups(prefix: String): Map[String, Seq[JobRec]] =
    jobs.values().asScala.filter(_.group.startsWith(prefix)).toSeq
      .groupBy(_.group).map { case (g, js) => g -> js.sortBy(_.jobId) }

  /** Wait until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object JobLedger {
  /** Union of a set of jobs' [submit, end] intervals, in seconds. */
  def busySeconds(js: Seq[JobRec]): Double =
    Intervals.unionLength(js.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs))) / 1000.0
}
