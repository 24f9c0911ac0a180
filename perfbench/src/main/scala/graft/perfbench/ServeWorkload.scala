package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ingest.{SyncMode, SyncResult}
import graft.snapshot.SnapshotStore

/** One sync cycle of sync_live, as the cycle thread saw it. `timed`: it
  * started inside the window (or was one of its first MinCycles), not
  * during a traced run's replay after it.
  */
final case class Cycle(n: Int, wallS: Double, result: SyncResult, deltaRows: Long,
                       deltaBytes: Long, genBytes: Long, genFiles: Int,
                       want: Map[String, (Long, BigInt)], wantInventory: Long,
                       timed: Boolean)

/** What one timed window produced: the requests, the cycles beside them
  * (sync_live) and its length.
  */
final case class Window(samples: Seq[Sample], cycles: Seq[Cycle], seconds: Double) {
  /** The operation times: cycle walls on sync_live, else request times. */
  def opMs(sync: Boolean): Seq[Double] =
    if (sync) cycles.filter(_.timed).map(_.wallS * 1000) else samples.map(_.ms)
}

/** serve_hot, serve_adhoc and sync_live: the service path under
  * closed-loop HTTP load, set up, measured, checked and (traced runs)
  * replayed layer by layer.
  */
final class ServeWorkload(spark: SparkSession, a: Args, workload: String) {
  private val ServeTables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation")
  private val SetupReps = 2
  private val MinCycles = 3
  // sync_live's first cycle beside the readers warms the mixed path and
  // is not timed: it was the slowest of a run by up to a fifth
  private val WarmCycles = 1
  // sync_live's write traffic and reader TTL are assumptions, not
  // figures from the reference (which gives no change rates); METRICS.md
  // gives the reason for each value
  private val UpdateShare = 0.01
  private val InsertShare = 0.002
  // SyncManager's default keepCount, which sync_live runs with
  private val KeepCount = 24
  private val sync = workload == "sync_live"
  private val nClients = if (sync) math.min(2, a.cpus) else math.min(4, a.cpus)
  private val ttl = Duration.ofSeconds(if (sync) 2 else 120)
  private val creds = new Credentials(nClients)
  private val ledger = new JobLedger
  private val tracer = new Tracer
  // failure messages, for the log only; failedOps counts the failed
  // operations that are not non-200 samples, each once
  private val failures = mutable.ArrayBuffer.empty[String]
  private val failedOps = new AtomicInteger(0)
  // requests sent after the window to check texts it never reached
  private val extraOps = new AtomicInteger(0)
  private var cycleNo = 0
  private def fail(msg: String): Unit = synchronized(failures += msg)
  private def failOp(msg: String): Unit = { fail(msg); failedOps.incrementAndGet() }

  private var stack: Stack = _
  private var clients: Clients = _
  private var source: SyncSource = _
  // the operation times trace.overhead_share compares (traced runs)
  private var overheadBase = "null"
  // inventory row counts of the generations published during set-up
  private var published = Set.empty[Long]

  /** Fresh store (and, for sync_live, fresh source tables), the first
    * publish, the first adoption and a fixed warm-up.
    */
  private def setUp(rep: Int): Unit = {
    val dir = a.work.resolve(s"rep$rep")
    val (srcDir, tables, mode) =
      if (sync) {
        source = new SyncSource(spark, a.corpus, a.cache, dir.resolve("source"), a.seed)
        source.build()
        (dir.resolve("source").toString, source.tables.map(_.name), SyncMode.Merge)
      } else (a.corpus, ServeTables, SyncMode.FullRebuild)
    stack = new Stack(spark, dir.resolve("store"), srcDir, tables, mode, ttl, creds)
    val r = stack.sync.runCycle()
    require(r.success, s"first publish failed: ${r.error.getOrElse("")}")
    // sync_live also warms the Merge path: one delta, one Merge cycle
    if (sync) {
      published = Set(source.ledgers("inventory").count)
      source.appendDelta(UpdateShare, InsertShare)
      val m = stack.sync.runCycle()
      require(m.success, s"warm-up cycle failed: ${m.error.getOrElse("")}")
      published += source.ledgers("inventory").count
      seedHistory()
    }
    stack.reader.refreshIfStale()
    clients = new Clients(stack.port, creds, nClients)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val warm = (0 until nClients).map { c =>
      val t = new Thread(() => warmUp.indices.filter(_ % nClients == c).foreach { i =>
        val r = clients.get(warmUp(i).sql, c)
        if (r.statusCode() != 200) bad.add(s"warm-up ${r.statusCode()}: ${warmUp(i).sql}")
      })
      t.start(); t
    }
    warm.foreach(_.join())
    require(bad.isEmpty, bad.asScala.take(5).mkString("set-up failed: ", "; ", ""))
  }

  /** Fill the store's history up to KeepCount generations, so that every
    * timed cycle's retention deletes one, as on a store in steady state.
    * The added generations are older than any published one and hold
    * hard links to the first generation's files: the delete walks and
    * unlinks as many files as a real one, without writing their bytes.
    */
  private def seedHistory(): Unit = {
    val from = Path.of(stack.store.genDir(stack.store.listGenerations().min).toUri.getPath)
    val base = java.time.Instant.parse("2000-01-01T00:00:00Z")
    (0 until KeepCount - stack.store.listGenerations().size).foreach { k =>
      // one reference sync interval (60 s) apart
      val to = Path.of(stack.store.genDir(SnapshotStore.keyFor(base.plusSeconds(60L * k)))
        .toUri.getPath)
      SyncSource.files(from).foreach { f =>
        val target = to.resolve(from.relativize(f).toString)
        Files.createDirectories(target.getParent)
        Files.createLink(target, f)
      }
    }
  }

  private def tearDown(): Unit = {
    clients.close()
    stack.api.stop()
    deleteTree(stack.root.getParent)
  }

  private lazy val warmUp: Seq[QueryText] = workload match {
    case "serve_hot" => QueryMix.hot
    case "serve_adhoc" =>
      val g = new QueryMix.Adhoc(new java.util.Random(a.seed * 31 + 999), a.sf)
      Seq.fill(24)(g.next())
    case _ => QueryMix.syncReads
  }

  def run(sessionReadyS: Double): Outcome = {
    QueryMix.checkPatterns(QueryMix.hot ++ QueryMix.syncReads ++ warmUp)
    val reps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      setUp(rep)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) tearDown()
      s
    }
    val setupS = sessionReadyS + Stats.median(reps)

    val seen = ConcurrentHashMap.newKeySet[String]()
    warmUp.foreach(q => seen.add(graft.validate.QuerySanitizer.sanitize(q.sql)))
    val repeats = new AtomicInteger(0)
    val next = textStream()
    val kept = new AtomicInteger(0)
    def keep(c: Int, seq: Int, q: QueryText): Boolean = workload match {
      case "serve_hot" => true
      case "serve_adhoc" =>
        ((a.seed * 1000003L + c * 7919L + seq) % 5 == 0) && kept.incrementAndGet() <= 8
      case _ => q.sql.contains("v_inventory_summary")
    }
    def pick(c: Int, seq: Int): QueryText = {
      val q = next(c, seq)
      if (!seen.add(graft.validate.QuerySanitizer.sanitize(q.sql))) repeats.incrementAndGet()
      q
    }

    // traced runs put the traced window between two untraced half
    // windows, so that warming during the run moves both sides alike.
    // The listener is attached for the traced window only. Its median
    // operation time over theirs, minus 1, is trace.overhead_share.
    val sc = spark.sparkContext
    val replayer = new Replayer(spark, stack, clients, creds, tracer)
    def untraced() = if (a.trace) Seq(window(a.seconds / 2.0, pick, keep, None)) else Nil
    val warm = if (sync) Seq(window(0.0, pick, keep, None, WarmCycles)) else Nil
    val before = untraced()
    if (a.trace) sc.addSparkListener(ledger)
    val w = window(a.seconds, pick, keep, if (a.trace) Some(replay(replayer, _)) else None)
    if (a.trace) { ledger.drain(sc); sc.removeSparkListener(ledger) }
    val plain = before ++ untraced()
    val allSamples = (warm ++ plain :+ w).flatMap(_.samples)
    val allCycles = (warm ++ plain :+ w).flatMap(_.cycles)

    val checked = verify(allSamples, allCycles)
    val samples = w.samples
    val cycles = w.cycles
    val ok = samples.filter(_.status == 200)
    val lat = Stats.summarize(samples.map(_.ms))
    // the operation is a request, or on sync_live a cycle; throughput
    // counts the correct responses either way
    val endToEnd = Map(
      "op_ms" -> Stats.median(w.opMs(sync)),
      "ops_per_s" -> ok.size / w.seconds)
    // each failed operation once: a non-200 request, or a request, cycle
    // or text checked after the window whose check failed
    val attempted = allSamples.size + allCycles.size + extraOps.get
    val failed = allSamples.count(_.status != 200) + failedOps.get
    val repeatShare = repeats.get.toDouble / math.max(1, allSamples.size)
    val props = Map(
      "requests" -> allSamples.size.toString,
      "window_s" -> Stats.num(w.seconds),
      "setup_reps_s" -> reps.map(Stats.num).mkString("[", ",", "]"),
      "req_latency_ms" -> lat.json,
      "repeat_share" -> Stats.num(repeatShare),
      "rows_per_response" -> Stats.summarize(ok.map(_.rows.toDouble)).json,
      "bytes_per_response" -> Stats.summarize(ok.map(_.bytes.toDouble)).json,
      "statuses" -> samples.groupBy(_.status).map { case (k, v) => s""""$k":${v.size}""" }
        .mkString("{", ",", "}"),
      "snapshot_bytes" -> SyncSource.dirBytes(Path.of(stack.store.genDir(
        stack.reader.currentManifest.get.version).toUri.getPath)).toString,
      "source_bytes" -> (if (sync) SyncSource.dirBytes(source.dir)
        else ServeTables.map(t => Files.size(Path.of(a.corpus, s"$t.parquet"))).sum).toString
    ) ++ (if (sync) syncProps(cycles, samples) else Map.empty)
    val layers: Map[String, Either[Double, Summary]] =
      if (a.trace) traceLayers(replayer, w, plain, repeatShare) else Map.empty
    tearDown()
    Outcome(attempted, failed, checked, endToEnd ++ Map("setup_s" -> setupS,
      "rss_peak_mb" -> Rig.rssPeakMb()), layers,
      props + ("trace_overhead_base_ms" -> overheadBase), failures.toSeq,
      if (a.trace) Some(tracer.json) else None)
  }

  /** Per-client text streams from the workload seed. */
  private def textStream(): (Int, Int) => QueryText = workload match {
    case "serve_hot" | "sync_live" =>
      val pool = if (sync) QueryMix.syncReads else QueryMix.hot
      // one stream shared by the clients, so the mix is fixed per run
      val z = new QueryMix.Zipf(pool.size, a.seed)
      (_, _) => pool(z.draw())
    case _ =>
      val gens = (0 until nClients).map(c =>
        new QueryMix.Adhoc(new java.util.Random(a.seed * 1000 + c), a.sf))
      val used = ConcurrentHashMap.newKeySet[String]()
      (c, _) => Iterator.continually(gens(c).next()).find(q => used.add(q.sql)).get
  }

  /** One timed window of closed-loop requests, with back-to-back cycles
    * beside them on sync_live (at least `minCycles`). `after` runs once
    * the window has ended (traced runs: the replay), with the cycles
    * still going.
    */
  private def window(seconds: Double, pick: (Int, Int) => QueryText,
                     keep: (Int, Int, QueryText) => Boolean,
                     after: Option[Seq[Sample] => Unit],
                     minCycles: Int = MinCycles): Window = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val cycles = new mutable.ArrayBuffer[Cycle]()
    val afterDone = new AtomicBoolean(after.isEmpty)
    val timedOver = new AtomicBoolean(false)
    val cycler =
      if (sync) Some(cycleThread(deadline, minCycles, cycles, timedOver, afterDone)) else None
    // sync_live reads until the last timed cycle has ended, so that every
    // timed cycle runs beside the readers from start to end
    val reading = () => cycler.fold(System.nanoTime() < deadline)(_ => !timedOver.get)
    val samples = clients.run(reading, pick, keep,
      () => if (sync) stack.reader.currentManifest else None)
    val took = (System.nanoTime() - t0) / 1e9
    after.foreach(_(samples))
    afterDone.set(true)
    cycler.foreach(_.join())
    Window(samples, cycles.toSeq, took)
  }

  /** Back-to-back Merge cycles, each after a fresh delta: at least
    * `minCycles`, and on through the window, and until `done` (traced
    * runs: through the replay after the window). `timedOver` is set once
    * the last timed cycle has ended.
    */
  private def cycleThread(deadline: Long, minCycles: Int, out: mutable.ArrayBuffer[Cycle],
                          timedOver: AtomicBoolean, done: AtomicBoolean): Thread = {
    val t = new Thread(() => {
      var k = 0
      def timed = k < minCycles || System.nanoTime() < deadline
      while (timed || !done.get) {
        val inWindow = timed
        if (!inWindow) timedOver.set(true)
        k += 1
        cycleNo += 1
        val n = cycleNo
        val sc = spark.sparkContext
        sc.setJobGroup(s"pb-gen-$n", "delta", interruptOnCancel = false)
        val (rows, bytes) = source.appendDelta(UpdateShare, InsertShare)
        val want = source.ledgers.map { case (t, l) => t -> (l.count, l.checksum) }
        sc.setJobGroup(s"pb-cycle-$n", "cycle", interruptOnCancel = false)
        val t0 = System.nanoTime()
        val r = stack.sync.runCycle()
        val wall = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        val gen = r.manifest.map(m => Path.of(stack.store.genDir(m.version).toUri.getPath))
        val files = gen.map(SyncSource.files).getOrElse(Nil)
        out.synchronized(out += Cycle(n, wall, r, rows, bytes, files.map(Files.size).sum,
          files.size, want, want("inventory")._1, inWindow))
        if (!r.success) failOp(s"cycle $n: ${r.error.getOrElse("")}")
      }
      timedOver.set(true)
    }, "bench-sync")
    t.start()
    t
  }

  /** Outputs checked outside the engine, after the timed window. */
  private def verify(samples: Seq[Sample], cycles: Seq[Cycle]): Boolean = {
    samples.filter(_.status != 200).take(5).foreach(s =>
      fail(s"status ${s.status}: ${s.text.sql}: ${new String(s.body).take(200)}"))
    workload match {
      case "serve_hot" | "serve_adhoc" =>
        val check = new AnswerCheck(spark, a.corpus, ServeTables)
        val byText = samples.filter(s => s.status == 200 && s.body != null).groupBy(_.text.sql)
        // the expected answers are independent jobs: compute them side by side
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
        try byText.toSeq.map { case (sql, ss) =>
          pool.submit[Unit](() => {
            val limitN =
              if (ss.head.text.pattern == "limit") Some(sql.split(" LIMIT ").last.trim.toInt)
              else None
            val want = check.expected(limitN.fold(sql)(_ => sql.split(" LIMIT ").head))
            ss.foreach(s => check.diff(clients.parse(s.body), want, limitN)
              .foreach(d => failOp(s"wrong answer ($d): $sql")))
          })
        }.foreach(_.get())
        finally pool.shutdown()
        // texts the Zipf draw never reached in the window are asked once
        // now, so every hot text's answer is checked
        if (workload == "serve_hot")
          QueryMix.hot.filterNot(q => byText.contains(q.sql)).foreach { q =>
            extraOps.incrementAndGet()
            val r = clients.get(q.sql, 0)
            if (r.statusCode() != 200) failOp(s"status ${r.statusCode()} after the window: ${q.sql}")
            else check.diff(clients.parse(r.body()), check.expected(q.sql))
              .foreach(d => failOp(s"wrong answer ($d): ${q.sql}"))
          }
        byText.nonEmpty
      case _ =>
        // every published generation against the ledger as of its cycle,
        // two generations side by side
        val live = stack.store.listGenerations().toSet
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try cycles.filter(c => c.result.success && live.contains(c.result.manifest.get.version))
          .map { c => pool.submit[Unit](() => {
            val m = c.result.manifest.get
            val wrong = c.want.toSeq.flatMap { case (t, (n, sum)) =>
              val got = SyncSource.checksum(spark, stack.store.tableDir(m.version, t).toString)
              if ((got._1, got._2) == (n, sum)) None
              else Some(s"$t: served (${got._1}, ${got._2}) vs ledger ($n, $sum)")
            }
            if (wrong.nonEmpty) failOp(s"cycle ${c.n} ${wrong.mkString("; ")}")
          })
        }.foreach(_.get())
        finally pool.shutdown()
        // the derived view as served: total_items is the ledger's
        // inventory count of one of the published generations
        val counts = cycles.map(_.wantInventory).toSet ++ published
        samples.filter(s => s.status == 200 && s.body != null).foreach { s =>
          val items = clients.parse(s.body).get("data").get(0).get("total_items").asLong()
          if (!counts.contains(items))
            failOp(s"v_inventory_summary total_items $items matches no published generation")
        }
        cycles.nonEmpty
    }
  }

  private def syncProps(cycles: Seq[Cycle], samples: Seq[Sample]): Map[String, String] = {
    val ok = cycles.filter(_.result.success)
    Map(
      "cycles" -> cycles.size.toString,
      "cycle_s" -> Stats.summarize(cycles.map(_.wallS)).json,
      "cycle_walls_s" -> cycles.map(c => Stats.num(c.wallS)).mkString("[", ",", "]"),
      "rows_changed_per_cycle" -> Stats.summarize(ok.map(_.result.changedCounts.values.sum.toDouble)).json,
      "delta_rows_per_cycle" -> Stats.summarize(cycles.map(_.deltaRows.toDouble)).json,
      "delta_bytes_per_cycle" -> Stats.summarize(cycles.map(_.deltaBytes.toDouble)).json,
      "write_amp" -> Stats.summarize(ok.map(c => c.genBytes.toDouble / c.deltaBytes)).json,
      "staleness_s" -> Stats.summarize(samples.filter(_.stalenessS >= 0).map(_.stalenessS)).json,
      "read_latency_ms" -> Stats.summarize(samples.map(_.ms)).json,
      "generations_seen" -> samples.map(_.generation).distinct.size.toString)
  }

  /** Traced runs: replay a seeded sample of the window's requests layer
    * by layer. On sync_live the cycles keep publishing meanwhile, and the
    * replay goes on until it has timed two adoptions (or 10 s passed).
    */
  private def replay(r: Replayer, samples: Seq[Sample]): Unit = {
    val rnd = new java.util.Random(a.seed + 4242)
    val pool = samples.filter(_.status == 200).map(_.text)
    val n = if (workload == "serve_adhoc") 12 else 20
    val end = System.nanoTime() + 10000000000L
    def more(i: Int) =
      if (sync) i < n || tracer.byName("snapshot.adopt").size < 2 else i < n
    var i = 0
    while (more(i) && pool.nonEmpty && System.nanoTime() < end) {
      r.replay(s"r$i", pool(rnd.nextInt(pool.size)).sql)
      i += 1
    }
  }

  private def traceLayers(r: Replayer, w: Window, plain: Seq[Window],
                          repeatShare: Double): Map[String, Either[Double, Summary]] = {
    val samples = w.samples
    val cycles = w.cycles
    val untraced = plain.flatMap(_.opMs(sync))
    val overhead = Stats.median(w.opMs(sync)) / Stats.median(untraced) - 1
    overheadBase = s"""{"traced":${Stats.summarize(w.opMs(sync)).json},""" +
      s""""untraced":${Stats.summarize(untraced).json}}"""
    val ok = samples.filter(_.status == 200)
    // Spark work per request: QueryEngine runs each request's jobs under
    // its own job group; per cycle: the benchmark's cycle groups
    val perOwner: Seq[Seq[JobRec]] =
      if (sync) ledger.inGroups("pb-cycle-").values.toSeq
      else ledger.inGroups("graft-query-").values.toSeq
    def sum(f: JobRec => Double) = Stats.summarize(perOwner.map(js => js.map(f).sum))
    val spark_ = Map(
      "spark.jobs" -> Right(sum(_ => 1.0)),
      "spark.stages" -> Right(sum(_.stages.get.toDouble)),
      "spark.tasks" -> Right(sum(_.tasks.get.toDouble)),
      "spark.task_run_s" -> Right(sum(_.runMs.get / 1e3)),
      "spark.task_cpu_s" -> Right(sum(_.cpuNs.get / 1e9)),
      "spark.gc_s" -> Right(sum(_.gcMs.get / 1e3)),
      "spark.slot_wait_ms" -> Right(Stats.summarize(perOwner.flatten.map(_.slotWaitMs))),
      "spark.shuffle_write_bytes" -> Right(sum(_.shuffleWrite.get.toDouble)),
      "spark.shuffle_read_bytes" -> Right(sum(_.shuffleRead.get.toDouble)),
      "spark.spill_bytes" -> Right(sum(_.spill.get.toDouble)))
    val base: Map[String, Either[Double, Summary]] =
      r.layers.map { case (k, v) => k -> Right(v) } ++ spark_ ++ Map(
        "serve.response_bytes" -> Right(Stats.summarize(ok.map(_.bytes.toDouble))),
        "serve.req_p99_ms" -> Left(Stats.quantile(samples.map(_.ms).toIndexedSeq.sorted, 0.99)),
        "query.rows" -> Right(Stats.summarize(ok.map(_.rows.toDouble))),
        "query.repeat_share" -> Left(repeatShare),
        "snapshot.pointer_probes" -> Left(stack.reader.pointerProbes.get.toDouble),
        "trace.overhead_share" -> Left(overhead))
    if (!sync) base
    else {
      val ok = cycles.filter(_.result.success)
      val groups = ledger.inGroups("pb-cycle-")
      def cyc(f: (Cycle, Seq[JobRec]) => Double) =
        Right(Stats.summarize(ok.map(c => f(c, groups.getOrElse(s"pb-cycle-${c.n}", Nil)))))
      def pub(js: Seq[JobRec]) = js.filter(_.description.startsWith("graft publish"))
      def rest(js: Seq[JobRec]) = js.filterNot(_.description.startsWith("graft publish"))
      val live = stack.reader.currentManifest.map(m =>
        SyncSource.dirBytes(Path.of(stack.store.genDir(m.version).toUri.getPath))).getOrElse(1L)
      base ++ Map(
        "snapshot.publish_s" -> cyc((_, js) => JobLedger.busySeconds(pub(js))),
        "snapshot.bytes_written" -> cyc((c, _) => c.genBytes.toDouble),
        "snapshot.files_written" -> cyc((c, _) => c.genFiles.toDouble),
        "snapshot.gens_pruned" -> cyc((c, _) => c.result.prunedGenerations.size.toDouble),
        "snapshot.store_bytes" -> Left(SyncSource.dirBytes(stack.root).toDouble / live),
        "snapshot.adoptions" -> Left((samples.map(_.generation).distinct.size - 1).toDouble),
        "ingest.delta_scan_s" -> cyc((_, js) => JobLedger.busySeconds(rest(js))),
        "ingest.driver_s" -> cyc((c, js) => c.wallS - JobLedger.busySeconds(js)),
        "ingest.rows_changed" -> cyc((c, _) => c.result.changedCounts.values.sum.toDouble),
        "ingest.source_bytes_read" -> cyc((_, js) => rest(js).map(_.inputBytes.get).sum.toDouble),
        "sync.read_p50_ms" -> Left(Stats.median(samples.map(_.ms))),
        "sync.read_p99_ms" -> Left(Stats.quantile(samples.map(_.ms).toIndexedSeq.sorted, 0.99)),
        "sync.staleness_p50_s" -> Left(Stats.median(samples.filter(_.stalenessS >= 0).map(_.stalenessS))),
        "sync.write_amp" -> Left(Stats.median(ok.map(c => c.genBytes.toDouble / c.deltaBytes))))
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
