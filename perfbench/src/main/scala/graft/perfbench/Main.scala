package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run measured. `layers` holds the per-layer figures of a
  * traced run; `props` the workload properties later claims cite.
  */
final case class Outcome(attempted: Long, failed: Long, checked: Boolean,
                         endToEnd: Map[String, Double],
                         layers: Map[String, Either[Double, Summary]] = Map.empty,
                         props: Map[String, String] = Map.empty,
                         failures: Seq[String] = Nil,
                         spans: Option[String] = None)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      corpus: String, work: Path, cache: Path, cpus: Int, result: Path,
                      sf: Double)

/** Benchmark entry point: one named workload, one seed, one timed
  * window; writes the result line (and a detail file) for the wrapper.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "ops_per_s" -> "1/s",
    "rss_peak_mb" -> "MB")

  /** Per-layer metrics: name → unit. Workloads that do not reach a
    * layer report it as 0 with n = 0 in the detail file.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "serve.http_ms" -> "ms", "serve.overhead_ms" -> "ms", "serve.auth_us" -> "us",
    "serve.ratelimit_us" -> "us", "serve.response_bytes" -> "bytes",
    "serve.req_p99_ms" -> "ms",
    "validate.sanitize_us" -> "us", "validate.whitelist_us" -> "us",
    "validate.planguard_ms" -> "ms",
    "query.execute_ms" -> "ms", "query.analyze_ms" -> "ms", "query.plan_ms" -> "ms",
    "query.collect_ms" -> "ms", "query.convert_ms" -> "ms", "query.rows" -> "count",
    "query.repeat_share" -> "ratio",
    "snapshot.refresh_us" -> "us", "snapshot.adopt_ms" -> "ms", "snapshot.adoptions" -> "count",
    "snapshot.pointer_probes" -> "count", "snapshot.publish_s" -> "s",
    "snapshot.bytes_written" -> "bytes", "snapshot.files_written" -> "count",
    "snapshot.gens_pruned" -> "count", "snapshot.store_bytes" -> "ratio",
    "ingest.delta_scan_s" -> "s", "ingest.driver_s" -> "s", "ingest.rows_changed" -> "count",
    "ingest.source_bytes_read" -> "bytes",
    "sync.read_p50_ms" -> "ms", "sync.read_p99_ms" -> "ms", "sync.staleness_p50_s" -> "s",
    "sync.write_amp" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.slot_wait_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "catalog.wall_s" -> "s", "catalog.construct_s" -> "s", "catalog.construct_jobs" -> "count",
    "catalog.plan_s" -> "s", "catalog.execute_s" -> "s", "catalog.execute_s.q" -> "s",
    "catalog.execute_s.t" -> "s", "catalog.execute_s.d" -> "s", "catalog.execute_s.e" -> "s",
    "catalog.execute_s.m" -> "s", "trace.overhead_share" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-oracle")) { Catalog.dumpOracle(Paths.get(kv("dump-oracle"))); return }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("corpus"), Paths.get(kv("work")), Paths.get(kv("cache")), kv("cpus").toInt,
      Paths.get(kv("result")),
      kv("sf").toDouble)
    require(Set("serve_hot", "serve_adhoc", "sync_live", "catalog").contains(a.workload),
      s"unknown workload ${a.workload}")
    Files.createDirectories(a.work)

    val loadPre = Rig.loadavg()
    val canaryPre = Rig.canary()
    val spark = session(a)
    val sessionReady = Rig.sinceJvmStart()
    val outcome =
      try a.workload match {
        case "catalog" => new Catalog(spark, a).run(sessionReady)
        case w => new ServeWorkload(spark, a, w).run(sessionReady)
      } finally spark.stop()
    val canaryPost = Rig.canary()
    write(a, outcome, Rig.record(a, loadPre, canaryPre, canaryPost, sessionReady))
    // non-daemon threads the toolchain may leave behind must not keep
    // the process alive past its result
    System.exit(0)
  }

  /** The service workloads use ServeMain's conf, the catalog Bench's. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cpus}]").appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    val s = (if (a.workload == "catalog")
      b.config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    else b.config("spark.scheduler.mode", "FAIR")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def write(a: Args, o: Outcome, rig: String): Unit = {
    val correct = o.checked && o.failed == 0
    val metrics =
      if (!a.trace) EndToEnd.map { case (n, u) => n -> (o.endToEnd(n), u) }
      else PerLayer.map { case (n, u) =>
        n -> (o.layers.get(n).map(_.fold(identity, _.p50)).getOrElse(0.0), u)
      }
    val line = s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},""" +
      metrics.map { case (n, (v, u)) =>
        s"""${Stats.str(n)}:{"value":${Stats.num(v)},"unit":${Stats.str(u)}}"""
      }.mkString(""""metrics":{""", ",", "}}")
    val layers = o.layers.toSeq.sortBy(_._1).map { case (n, v) =>
      s"${Stats.str(n)}:${v.fold(Stats.num, _.json)}"
    }.mkString("{", ",", "}")
    val detail =
      s"""{"workload":${Stats.str(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
        s""""trace":${a.trace},"result":$line,""" +
        s""""end_to_end":{${o.endToEnd.toSeq.sortBy(_._1).map { case (n, v) =>
          s"${Stats.str(n)}:${Stats.num(v)}" }.mkString(",")}},""" +
        s""""error_rate":${Stats.num(if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted)},""" +
        s""""layers":$layers,"props":{${o.props.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${Stats.str(k)}:$v" }.mkString(",")}},""" +
        s""""rig":$rig,"failures":${o.failures.take(20).map(Stats.str).mkString("[", ",", "]")}""" +
        o.spans.map(s => s""","spans":$s""").getOrElse("") + "}"
    Files.createDirectories(a.result.toAbsolutePath.getParent)
    Files.writeString(a.result, line + "\n")
    Files.writeString(Paths.get(a.result.toString.stripSuffix(".line") + ".json"), detail)
    o.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
  }
}

/** Rig record: enough to spot a run made on a drifted machine. */
object Rig {
  @volatile private var sink = 0L

  /** Seconds for a fixed single-thread xorshift loop. */
  def canary(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  def record(a: Args, loadPre: Double, pre: Double, post: Double, sessionS: Double): String = {
    val heap = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("-Xm")).mkString(" ")
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"cpus":${a.cpus},""" +
      s""""loadavg_1m_pre":${Stats.num(loadPre)},"loadavg_1m_post":${Stats.num(loadavg())},""" +
      s""""canary_pre_s":${Stats.num(pre)},""" +
      s""""canary_post_s":${Stats.num(post)},"jvm_heap":${Stats.str(heap)},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""session_start_s":${Stats.num(sessionS)}}"""
  }
}
