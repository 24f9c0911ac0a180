package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskStart}
import org.apache.spark.sql.{functions => F, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Echoes which state-store backend a stateful streaming query ACTUALLY
  * ran on, fingerprinted from the state operator's custom metrics
  * (`rocksdb*`-prefixed on RocksDBStateStoreProvider, loaded-map cache
  * counters on the HDFS-backed default). Registered through
  * `spark.sql.streaming.streamingQueryListeners` so it attaches to
  * every session in the probe JVM — including the child session
  * `EventStream.replaySession` clones for the t-entries. Reading a
  * session conf would only show what was asked for, not which backend
  * the query that ran actually used.
  */
class StateBackendEchoListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val ops = e.progress.stateOperators
    if (ops.nonEmpty) {
      val keys = ops.head.customMetrics.keySet().asScala
      val backend =
        if (keys.exists(_.startsWith("rocksdb"))) "rocksdb" else "hdfs"
      println(s"[xcluster] stateBackend=$backend")
    }
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Multi-JVM execution probe (see LocalClusterSpec), run in its OWN
  * forked JVM: executes catalog entries under `local-cluster[2,4,…]` —
  * Spark's standalone mini-cluster with two REAL executor JVMs, real
  * serialized task dispatch, and shuffle blocks fetched over the
  * network stack instead of read in-process — and prints the same
  * order-insensitive digests as MemoryPressureProbe.
  *
  * Why this exists: every other gate in this repo runs `local[n]`,
  * where tasks share the driver's heap and "shuffle" is a local file
  * read. A plan can pass every local[n] gate and still break on a real
  * cluster (closure not serializable, broadcast identity assumptions,
  * task-side state that silently lived on the driver). This probe is
  * the closest a single machine gets to the 1000-executor shape: if a
  * digest differs between local[8] and local-cluster[2,4], the entry
  * depends on single-JVM execution.
  *
  * `kill` mode additionally SIGKILLs one executor JVM mid-query and
  * requires the query to complete with the digest unchanged — the
  * executor-loss/stage-retry story (lost shuffle output → fetch
  * failure → stage resubmission; standalone master relaunches the
  * executor) that a 100 TB run hits daily and local[n] can never
  * exercise.
  *
  * Output contract (parsed by LocalClusterSpec):
  *   [xcluster] <entry> rows=N digest=H secs=S
  *   [xcluster] kill executors=K removedDuringQuery=B
  *   XCLUSTER_OK
  */
object LocalClusterProbe {

  /** Plants a straggler INSIDE the publish write stage: the
    * repartition puts the mapPartitions after the exchange, so the
    * sleeping task is one of the stage's actual file-writing tasks;
    * sleeping only on the FIRST attempt makes the speculative
    * duplicate deterministically finish first (sync-spec), and gives
    * sync-spec-kill a long, known window in which the original
    * attempt is provably still running when its executor is killed.
    */
  private final class StragglerSource(inner: graft.ingest.Source,
                                      sleepMs: Long = 8000)
      extends graft.ingest.Source {
    def tableNames: Seq[String] = inner.tableNames
    def read(s: SparkSession, table: String):
        org.apache.spark.sql.DataFrame = {
      val df = inner.read(s, table).repartition(8)
      // local copy: referencing the field would capture `this` (not
      // serializable) in the task closure
      val sleep = sleepMs
      df.mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 &&
          tc.partitionId() == 3) Thread.sleep(sleep)
        it
      }(org.apache.spark.sql.Encoders.row(df.schema))
    }
  }

  private def digestOf(spark: SparkSession, name: String,
                       sfDir: String): (Long, String, Double) = {
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val row = df.select(
      F.count(F.lit(1)).as("n"),
      F.sum(F.xxhash64(F.struct(df.columns.map(F.col).toSeq: _*))
        .cast("decimal(38,0)")).as("h"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    (row.getLong(0),
      if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString,
      secs)
  }

  /** PIDs of executor JVMs forked by the in-process standalone worker.
    * /proc scan, not ProcessHandle.children(): the JDK caps how much
    * of a child's huge-classpath cmdline it surfaces, so matching on
    * the backend class name + THIS app's id against /proc/<pid>/cmdline
    * is the reliable route.
    */
  private def executorPids(appId: String): Seq[Long] =
    Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(_.getName.forall(_.isDigit))
      .filter { d =>
        val cl = try {
          new String(java.nio.file.Files.readAllBytes(
            d.toPath.resolve("cmdline"))).replace('\u0000', ' ')
        } catch { case _: Exception => "" }
        cl.contains("CoarseGrainedExecutorBackend") && cl.contains(appId)
      }
      .map(_.getName.toLong)

  /** PID of the executor JVM with a specific executor id (the backend
    * cmdline carries `--executor-id <id>`), for targeted kills.
    */
  private def executorPidFor(appId: String, execId: String): Option[Long] =
    Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(_.getName.forall(_.isDigit))
      .find { d =>
        val cl = try {
          new String(java.nio.file.Files.readAllBytes(
            d.toPath.resolve("cmdline"))).replace('\u0000', ' ')
        } catch { case _: Exception => "" }
        cl.contains("CoarseGrainedExecutorBackend") && cl.contains(appId) &&
          cl.contains(s"--executor-id $execId ")
      }
      .map(_.getName.toLong)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: LocalClusterProbe <master> <digest|kill|sync-kill> <sfDir> [entry...]")
    val master = args(0)
    val mode = args(1)
    val sfDir = args(2)
    val entries = args.drop(3).toSeq

    // aggressive speculation (core confs — must land before the
    // context starts): ANY task slower than the fastest 5% duplicates
    // after 20 ms. minTaskRuntime=0 and efficiency.enabled=false are
    // both load-bearing: the defaults (100 ms floor; the 3.4+
    // data-rate heuristic) suppress duration-only speculation at
    // probe scale
    val speculation =
      if (mode == "sync-spec" || mode == "sync-spec-kill") Seq(
        "spark.speculation" -> "true",
        "spark.speculation.multiplier" -> "1.0",
        "spark.speculation.quantile" -> "0.05",
        "spark.speculation.interval" -> "20ms",
        "spark.speculation.minTaskRuntime" -> "0ms",
        "spark.speculation.efficiency.enabled" -> "false")
      else Nil
    // 32 shuffle partitions whatever the master's slot count; the
    // executor memory sizes the executor JVMs of cluster masters (local
    // masters only check it against a floor)
    val spark = graft.core.EngineSession.build("graft-local-cluster-probe",
      master, 32,
      Seq("spark.sql.streaming.streamingQueryListeners" ->
        classOf[StateBackendEchoListener].getName,
        "spark.executor.memory" -> "3g") ++ speculation)
    spark.sparkContext.setLogLevel("ERROR")

    mode match {
      case "digest" =>
        entries.foreach { name =>
          val (n, h, secs) = digestOf(spark, name, sfDir)
          println(f"[xcluster] $name rows=$n digest=$h secs=$secs%.1f")
        }

      case "kill" =>
        require(master.startsWith("local-cluster"),
          "kill mode needs real executor JVMs")
        val entry = entries.head
        // reference digest first (also warms the page cache so both
        // runs see the same IO shape)
        val (refN, refH, _) = digestOf(spark, entry, sfDir)

        val sawRemoval = new AtomicBoolean(false)
        val tasksStarted = new AtomicLong(0)
        val queryDone = new AtomicBoolean(false)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            tasksStarted.incrementAndGet()
          override def onExecutorRemoved(
              e: SparkListenerExecutorRemoved): Unit =
            if (!queryDone.get()) sawRemoval.set(true)
        })

        @volatile var result: (Long, String, Double) = null
        @volatile var failure: Throwable = null
        val t = new Thread(() => {
          try result = digestOf(spark, entry, sfDir)
          catch { case e: Throwable => failure = e }
          finally queryDone.set(true)
        })
        val baseline = tasksStarted.get()
        t.start()
        // kill once the query is demonstrably mid-flight: tasks running
        // AND both executors registered
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (tasksStarted.get() < baseline + 4 &&
            System.nanoTime() < deadline) Thread.sleep(20)
        val pids = executorPids(spark.sparkContext.applicationId)
        println(s"[xcluster] kill candidates=${pids.size}")
        require(pids.nonEmpty, "no executor JVM children found to kill")
        ProcessHandle.of(pids.head).ifPresent(_.destroyForcibly())
        t.join(300000)
        require(!t.isAlive, "query did not finish within 5 min of the kill")
        require(failure == null,
          s"query failed instead of recovering from executor loss: $failure")
        require(result._1 == refN && result._2 == refH,
          s"digest changed across executor loss: ref=($refN,$refH) " +
            s"got=(${result._1},${result._2})")
        println(s"[xcluster] kill executors=${pids.size} " +
          s"removedDuringQuery=${sawRemoval.get()}")
        println(f"[xcluster] $entry rows=${result._1} digest=${result._2} " +
          f"secs=${result._3}%.1f")

      case "sync-kill" =>
        // Executor loss during a MERGE publish cycle (r9 verdict item
        // 6): SIGKILL one executor JVM while the snapshot WRITE job is
        // demonstrably running tasks, then assert the publish contract
        // held — the adopted generation is never torn (pointer names a
        // generation whose parquet reads clean at exactly the manifest
        // count), and on a failed cycle the watermark and pointer are
        // untouched and the next tick publishes the delta cleanly.
        require(master.startsWith("local-cluster"),
          "sync-kill mode needs real executor JVMs")
        import graft.ingest.{ParquetSource, StoredWatermarks, SyncManager, SyncMode}
        import graft.snapshot.SnapshotStore
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft-xsync-src").toString
        val snapDir = java.nio.file.Files
          .createTempDirectory("graft-xsync-snap").toString
        // seed: sfDir orders under the id/updated_at convention, spread
        // wide so the publish write is a many-task job on both executors
        val seed = graft.core.Tables.load(spark, sfDir, "orders")
          .select(F.col("o_orderkey").as("id"),
            F.col("o_orderdate").cast("timestamp").as("updated_at"),
            F.col("o_custkey"), F.col("o_totalprice"))
          .repartition(32)
        seed.write.parquet(s"$srcDir/orders.parquet")
        val store = new SnapshotStore(spark, snapDir)
        def manager() = new SyncManager(spark,
          new ParquetSource(srcDir, Seq("orders")), store,
          mode = SyncMode.Merge)
        val r1 = manager().runCycle()
        require(r1.success, s"bootstrap cycle failed: ${r1.error}")
        val gen1 = r1.manifest.get.version
        val wm1 = StoredWatermarks(store)("orders")
        val n0 = r1.manifest.get.tables("orders")

        // delta: bump a third of the rows past the watermark
        val cur = spark.read.parquet(s"$srcDir/orders.parquet")
        val next = cur.withColumn("updated_at",
            F.when(F.col("id") % 3 === 0,
              F.to_timestamp(F.lit("2031-06-01 00:00:00")))
              .otherwise(F.col("updated_at")))
          .withColumn("o_totalprice",
            F.when(F.col("id") % 3 === 0, F.col("o_totalprice") + 1.0)
              .otherwise(F.col("o_totalprice")))
          .repartition(32)
        next.write.parquet(s"$srcDir/__next")
        val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        lfs.delete(new org.apache.hadoop.fs.Path(
          s"$srcDir/orders.parquet"), true)
        lfs.rename(new org.apache.hadoop.fs.Path(s"$srcDir/__next"),
          new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet"))

        // kill an executor once ≥2 tasks of the labeled PUBLISH write
        // job have started
        val publishStages =
          java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val writeTasks = new AtomicLong(0)
        val cycleDone = new AtomicBoolean(false)
        val sawRemoval = new AtomicBoolean(false)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(j.properties).map(
              _.getProperty("spark.job.description", "")).getOrElse("")
            if (desc.startsWith("graft publish"))
              j.stageIds.foreach(publishStages.add(_))
          }
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            if (publishStages.contains(t.stageId))
              writeTasks.incrementAndGet()
          override def onExecutorRemoved(
              e: SparkListenerExecutorRemoved): Unit =
            if (!cycleDone.get()) sawRemoval.set(true)
        })
        @volatile var r2: graft.ingest.SyncResult = null
        @volatile var cycleErr: Throwable = null
        val t = new Thread(() => {
          try r2 = manager().runCycle()
          catch { case e: Throwable => cycleErr = e }
          finally cycleDone.set(true)
        })
        t.start()
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (writeTasks.get() < 2 && System.nanoTime() < deadline)
          Thread.sleep(10)
        require(writeTasks.get() >= 2,
          "publish write job never started tasks — kill would be vacuous")
        val pids = executorPids(spark.sparkContext.applicationId)
        println(s"[xcluster] kill candidates=${pids.size} " +
          s"writeTasksStarted=${writeTasks.get()}")
        require(pids.nonEmpty, "no executor JVM children found to kill")
        ProcessHandle.of(pids.head).ifPresent(_.destroyForcibly())
        t.join(300000)
        require(!t.isAlive, "sync cycle hung after the executor kill")
        require(cycleErr == null, s"runCycle threw instead of returning " +
          s"a result (T7 fail-soft broken): $cycleErr")

        // invariant 1: whatever happened, the ADOPTED generation is
        // whole — pointer names a generation whose data reads clean at
        // exactly the manifest count
        val cm = store.readCurrentManifest().get
        val served = spark.read.parquet(
          store.tableDir(cm.version, "orders").toString)
        require(served.count() == cm.tables("orders"),
          s"adopted generation ${cm.version} is torn: " +
            s"parquet=${served.count()} manifest=${cm.tables("orders")}")
        println(s"[xcluster] sync cycleSucceeded=${r2.success} " +
          s"removedDuringCycle=${sawRemoval.get()} " +
          s"servedGen=${cm.version} rows=${cm.tables("orders")}")

        if (r2.success) {
          // recovered via stage retry: the new generation carries ALL
          // rows and the delta landed exactly once
          require(cm.version == r2.manifest.get.version)
          require(cm.tables("orders") == n0,
            s"merged row count drifted: ${cm.tables("orders")} vs $n0")
          val bumped = served.filter(
            F.col("updated_at") === F.to_timestamp(
              F.lit("2031-06-01 00:00:00"))).count()
          require(bumped == served.filter(F.col("id") % 3 === 0).count(),
            "delta rows did not land exactly once")
        } else {
          // failed soft: pointer + watermark untouched, retry publishes
          require(cm.version == gen1,
            s"failed cycle moved the pointer: ${cm.version} vs $gen1")
          require(StoredWatermarks(store)("orders") == wm1,
            "failed cycle advanced the watermark — rows would be lost")
          val r3 = manager().runCycle()
          require(r3.success, s"retry cycle failed: ${r3.error}")
          require(r3.manifest.get.tables("orders") == n0)
        }

      case "sync-spec" =>
        // Speculative-execution invariance for the publish path (r10
        // verdict item 1, the sharp end): run a MERGE bootstrap + churn
        // cycle with speculation so aggressive that a deliberately
        // planted straggler in the labeled publish WRITE stage gets a
        // duplicate attempt — and the duplicate provably COMPLETES
        // (the straggler sleeps only on attemptNumber==0, so the
        // speculative copy always wins the commit race). Asserts the
        // publish contract under duplicated write tasks:
        //  - the manifest row count (SnapshotWriter's in-job
        //    Observation) EXACTLY equals the parquet rows read back —
        //    a duplicated attempt must neither double-write rows via
        //    the commit protocol nor double-count via the observation
        //    accumulator;
        //  - ids stay unique (no row landed twice);
        //  - a churn delta lands exactly once under the same regime.
        // Speculative copies only ever schedule on a DIFFERENT host
        // than the running attempt, so this mode needs a master whose
        // executors report distinct hostnames — local[(n)] and
        // local-cluster[...] (one physical host) can never launch one;
        // SpeculativePublishSpec stands up a standalone master + two
        // workers pinned to 127.0.0.2/127.0.0.3.
        require(master.startsWith("spark://"),
          "sync-spec needs a multi-host standalone master " +
            "(speculative copies never schedule on the original's host)")
        import graft.ingest.{ParquetSource, SyncManager, SyncMode}
        import graft.snapshot.SnapshotStore
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft-xspec-src").toString
        val snapDir = java.nio.file.Files
          .createTempDirectory("graft-xspec-snap").toString
        val seed = graft.core.Tables.load(spark, sfDir, "orders")
          .select(F.col("o_orderkey").as("id"),
            F.col("o_orderdate").cast("timestamp").as("updated_at"),
            F.col("o_custkey"), F.col("o_totalprice"))
        seed.write.parquet(s"$srcDir/orders.parquet")
        val n0 = spark.read.parquet(s"$srcDir/orders.parquet").count()

        val store = new SnapshotStore(spark, snapDir)
        def manager() = new SyncManager(spark,
          new StragglerSource(new ParquetSource(srcDir, Seq("orders"))),
          store, mode = SyncMode.Merge)

        val publishStages =
          java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val specStarted = new AtomicLong(0)
        val specSucceeded = new AtomicLong(0)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(j.properties).map(
              _.getProperty("spark.job.description", "")).getOrElse("")
            if (desc.startsWith("graft publish"))
              j.stageIds.foreach(publishStages.add(_))
          }
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            if (publishStages.contains(t.stageId) && t.taskInfo.speculative)
              specStarted.incrementAndGet()
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (publishStages.contains(e.stageId) &&
              e.taskInfo.speculative && e.taskInfo.successful)
              specSucceeded.incrementAndGet()
        })

        val r1 = manager().runCycle()
        require(r1.success, s"bootstrap cycle failed: ${r1.error}")
        Thread.sleep(2000) // listener bus drain (no public API)
        println(s"[xcluster] spec started=${specStarted.get()} " +
          s"succeeded=${specSucceeded.get()} (bootstrap)")
        require(specStarted.get() >= 1,
          "no speculative attempt launched in the publish write job — " +
            "the run is vacuous")
        require(specSucceeded.get() >= 1,
          "a speculative attempt launched but none completed — the " +
            "planted straggler should guarantee the duplicate wins")
        val cm1 = store.readCurrentManifest().get
        val g1 = spark.read.parquet(
          store.tableDir(cm1.version, "orders").toString)
        require(g1.count() == cm1.tables("orders"),
          s"manifest row count diverged from the written parquet under " +
            s"a duplicated write attempt: manifest=${cm1.tables("orders")}" +
            s" parquet=${g1.count()}")
        require(cm1.tables("orders") == n0,
          s"row count drifted: ${cm1.tables("orders")} vs seed $n0")
        require(g1.select("id").distinct().count() == n0,
          "duplicate rows landed — the commit protocol let two " +
            "attempts of the same partition both publish")

        // churn cycle: bump a third of the rows, same speculation regime
        val cur = spark.read.parquet(s"$srcDir/orders.parquet")
        val next = cur.withColumn("updated_at",
            F.when(F.col("id") % 3 === 0,
              F.to_timestamp(F.lit("2031-06-01 00:00:00")))
              .otherwise(F.col("updated_at")))
          .withColumn("o_totalprice",
            F.when(F.col("id") % 3 === 0, F.col("o_totalprice") + 1.0)
              .otherwise(F.col("o_totalprice")))
        next.write.parquet(s"$srcDir/__next")
        val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        lfs.delete(new org.apache.hadoop.fs.Path(
          s"$srcDir/orders.parquet"), true)
        lfs.rename(new org.apache.hadoop.fs.Path(s"$srcDir/__next"),
          new org.apache.hadoop.fs.Path(s"$srcDir/orders.parquet"))
        val r2 = manager().runCycle()
        require(r2.success, s"churn cycle failed: ${r2.error}")
        Thread.sleep(2000) // listener bus drain (no public API)
        val cm2 = store.readCurrentManifest().get
        val g2 = spark.read.parquet(
          store.tableDir(cm2.version, "orders").toString)
        require(g2.count() == cm2.tables("orders") &&
          cm2.tables("orders") == n0,
          s"churn publish count wrong: manifest=${cm2.tables("orders")} " +
            s"parquet=${g2.count()} seed=$n0")
        val bumped = g2.filter(F.col("updated_at") === F.to_timestamp(
          F.lit("2031-06-01 00:00:00"))).count()
        require(bumped == g2.filter(F.col("id") % 3 === 0).count(),
          "delta rows did not land exactly once under speculation")
        require(g2.select("id").distinct().count() == n0)
        println(s"[xcluster] spec started=${specStarted.get()} " +
          s"succeeded=${specSucceeded.get()} rows=$n0 " +
          s"gen1=${cm1.version} gen2=${cm2.version}")

      case "sync-spec-kill" =>
        // Speculation × executor loss COMBINED (r11 verdict item 6):
        // the two-host rig proves speculation, the SIGKILL probes prove
        // executor loss — this mode crosses them at the sharpest point:
        // while the planted straggler's ORIGINAL attempt is sleeping in
        // the publish write stage and its speculative copy is in flight
        // on the OTHER host, SIGKILL the executor hosting the original.
        // The commit race now has a racer that DIES (taking its
        // executor and any sibling write tasks with it) instead of
        // merely losing. Accepts either documented arm — recovered (the
        // speculative copy + relaunched executor complete the job) or
        // failed-soft (nothing published, retry lands clean) — and in
        // both requires the adopted generation to read back at exactly
        // its manifest count with unique ids.
        require(master.startsWith("spark://"),
          "sync-spec-kill needs a multi-host standalone master " +
            "(speculative copies never schedule on the original's host)")
        import graft.ingest.{ParquetSource, SyncManager, SyncMode}
        import graft.snapshot.SnapshotStore
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft-xsk-src").toString
        val snapDir = java.nio.file.Files
          .createTempDirectory("graft-xsk-snap").toString
        val seed = graft.core.Tables.load(spark, sfDir, "orders")
          .select(F.col("o_orderkey").as("id"),
            F.col("o_orderdate").cast("timestamp").as("updated_at"),
            F.col("o_custkey"), F.col("o_totalprice"))
        seed.write.parquet(s"$srcDir/orders.parquet")
        val n0 = spark.read.parquet(s"$srcDir/orders.parquet").count()
        val store = new SnapshotStore(spark, snapDir)
        // 20 s straggler: the original attempt is provably still
        // sleeping when the kill lands (the spec copy launches ~20 ms
        // after the fast 95% finish)
        def manager(straggle: Boolean) = new SyncManager(spark,
          if (straggle) new StragglerSource(
            new ParquetSource(srcDir, Seq("orders")), sleepMs = 20000)
          else new ParquetSource(srcDir, Seq("orders")),
          store, mode = SyncMode.Merge)

        val publishStages =
          java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        // (stageId, partition index) -> executorId of the ORIGINAL
        // (non-speculative) attempt, so the kill can target its host
        val origExec = new java.util.concurrent.ConcurrentHashMap[
          (Int, Int), String]()
        val specStarted = new AtomicLong(0)
        val specSucceeded = new AtomicLong(0)
        val killFired = new AtomicBoolean(false)
        @volatile var killedExec: String = ""
        val appId = spark.sparkContext.applicationId
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(j.properties).map(
              _.getProperty("spark.job.description", "")).getOrElse("")
            if (desc.startsWith("graft publish"))
              j.stageIds.foreach(publishStages.add(_))
          }
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            if (publishStages.contains(t.stageId)) {
              if (!t.taskInfo.speculative)
                origExec.put((t.stageId, t.taskInfo.index),
                  t.taskInfo.executorId)
              else {
                specStarted.incrementAndGet()
                // the copy is in flight on the other host: kill the
                // original's executor, once, off the listener thread
                val victim = origExec.get((t.stageId, t.taskInfo.index))
                if (victim != null && victim != t.taskInfo.executorId &&
                  killFired.compareAndSet(false, true)) {
                  killedExec = victim
                  new Thread(() => {
                    executorPidFor(appId, victim) match {
                      case Some(pid) =>
                        ProcessHandle.of(pid).ifPresent(_.destroyForcibly())
                        println(s"[xcluster] killed original-attempt " +
                          s"executor id=$victim pid=$pid while its " +
                          s"speculative copy ran on ${t.taskInfo.executorId}")
                      case None =>
                        killFired.set(false) // pid gone already; not our kill
                        println(s"[xcluster] executor $victim JVM not " +
                          "found for targeted kill")
                    }
                  }, "graft-spec-killer").start()
                }
              }
            }
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (publishStages.contains(e.stageId) &&
              e.taskInfo.speculative && e.taskInfo.successful)
              specSucceeded.incrementAndGet()
        })

        val r1 = manager(straggle = true).runCycle()
        Thread.sleep(2000) // listener bus drain (no public API)
        println(s"[xcluster] spec started=${specStarted.get()} " +
          s"succeeded=${specSucceeded.get()} killFired=${killFired.get()} " +
          s"killedExec=$killedExec cycleSucceeded=${r1.success}")
        require(specStarted.get() >= 1,
          "no speculative attempt launched — the combined run is vacuous")
        require(killFired.get(),
          "the targeted executor kill never fired — the combined run " +
            "is vacuous (original attempt's executor not identified?)")

        if (r1.success) {
          // recovered arm: speculative copy + relaunched executor
          // completed the publish — contract must be exact
          val cm = store.readCurrentManifest().get
          require(cm.version == r1.manifest.get.version)
          val g = spark.read.parquet(
            store.tableDir(cm.version, "orders").toString)
          require(g.count() == cm.tables("orders") &&
            cm.tables("orders") == n0,
            s"recovered publish wrong: manifest=${cm.tables("orders")} " +
              s"parquet=${g.count()} seed=$n0")
          require(g.select("id").distinct().count() == n0,
            "duplicate rows landed under speculation + executor loss")
        } else {
          // failed-soft arm: nothing adopted, retry publishes clean
          println(s"[xcluster] cycle failed soft (${r1.error.getOrElse("")})" +
            "; retrying without the straggler")
          require(store.readCurrentManifest().isEmpty,
            "a failed bootstrap cycle left an adopted pointer")
          val r2 = manager(straggle = false).runCycle()
          require(r2.success, s"retry failed: ${r2.error}")
          val cm = store.readCurrentManifest().get
          val g = spark.read.parquet(
            store.tableDir(cm.version, "orders").toString)
          require(g.count() == cm.tables("orders") &&
            cm.tables("orders") == n0 &&
            g.select("id").distinct().count() == n0,
            s"retry publish wrong: manifest=${cm.tables("orders")} " +
              s"parquet=${g.count()} seed=$n0")
        }
        println(s"[xcluster] sync-spec-kill arm=" +
          s"${if (r1.success) "recovered" else "failed-soft"} rows=$n0")

      case "fuzz-kill" =>
        // The last untested interaction (r10 verdict item 7): RocksDB
        // state store × multi-file triggers (k=3) × executor SIGKILL,
        // in ONE scenario. The restart fuzz rotates k against graceful
        // stops and crash-shaped replays; the streaming kill tests run
        // k=1 on each backend; this mode replays a generated
        // session-late fuzz scenario (beyond-watermark drops — the
        // richest state lifecycle) with THREE files per micro-batch on
        // RocksDB under local-cluster, SIGKILLs one executor JVM while
        // batches are in flight, and requires the settled output to
        // equal the PURE-MODEL oracle (the same k-grouped lifecycle
        // model StreamFuzzSpec checks on local[n]) — not merely a
        // clean-run digest.
        require(master.startsWith("local-cluster"),
          "fuzz-kill mode needs real executor JVMs")
        import graft.fuzz.StreamFuzz
        val seed = entries.headOption.map(_.toLong).getOrElse(31L)
        val rawSc = StreamFuzz.scenario(seed, 8)
        require(rawSc.kind == "session-late", s"kind drifted: ${rawSc.kind}")
        val k = 3
        val sc = StreamFuzz.grouped(rawSc, k)
        val dir = StreamFuzz.stage(spark, rawSc)
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state" +
            ".RocksDBStateStoreProvider")

        val sawRemoval = new AtomicBoolean(false)
        val tasksStarted = new AtomicLong(0)
        val queryDone = new AtomicBoolean(false)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            tasksStarted.incrementAndGet()
          override def onExecutorRemoved(
              e: SparkListenerExecutorRemoved): Unit =
            if (!queryDone.get()) sawRemoval.set(true)
        })

        @volatile var got: Map[(Long, Long, Long), (Long, Double)] = null
        @volatile var failure: Throwable = null
        val t = new Thread(() => {
          try {
            got = StreamFuzz.replay(ss, dir, s"fuzzkill_$seed",
                ev => graft.streaming.EventStream.sessionAgg(
                  ev, gap = "30 minutes",
                  lateness = s"${sc.latenessSec} seconds"),
                filesPerTrigger = k)
              .filter(F.col("user_id") >= 0)
              .select(F.col("user_id"),
                F.expr("unix_micros(session_start)"),
                F.expr("unix_micros(session_end)"), F.col("n_events"),
                F.col("session_value"))
              .collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
                (r.getLong(3), r.getDouble(4))).toMap
          } catch { case e: Throwable => failure = e }
          finally queryDone.set(true)
        })
        val baseline = tasksStarted.get()
        t.start()
        // kill once the stream is demonstrably mid-flight
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (tasksStarted.get() < baseline + 8 &&
            System.nanoTime() < deadline) Thread.sleep(10)
        val pids = executorPids(spark.sparkContext.applicationId)
        println(s"[xcluster] kill candidates=${pids.size} " +
          s"tasksStarted=${tasksStarted.get()}")
        require(pids.nonEmpty, "no executor JVM children found to kill")
        ProcessHandle.of(pids.head).ifPresent(_.destroyForcibly())
        t.join(300000)
        require(!t.isAlive, "replay did not settle within 5 min of the kill")
        require(failure == null,
          s"replay failed instead of recovering from executor loss: $failure")
        val oracle = StreamFuzz.sessionLateOracle(sc)
        require(got == oracle, {
          val missing = oracle.keySet -- got.keySet
          val extra = got.keySet -- oracle.keySet
          val changed = (oracle.keySet & got.keySet)
            .filter(key => oracle(key) != got(key))
          s"killed RocksDB k=3 replay diverged from the lifecycle " +
            s"model: missing=${missing.take(3)} extra=${extra.take(3)} " +
            s"changed=${changed.take(3)} (of ${oracle.size} sessions)"
        })
        println(s"[xcluster] fuzz-kill seed=$seed kind=${rawSc.kind} k=$k " +
          s"sessions=${oracle.size} removedDuringQuery=${sawRemoval.get()}")

      case "sync-fuzz-kill" =>
        // The sync-lifecycle fuzzer (SyncFuzzScenario) run under REAL
        // executor JVMs with an executor SIGKILL armed on churn cycle
        // #3's publish write job — the interleaving story (22 ops:
        // drift, torn pointers, failed publishes, ties) crossed with
        // the executor-loss story in one scenario. The scenario itself
        // accepts either documented arm for the killed cycle
        // (recovered-via-retry or failed-soft-then-retry); this mode
        // additionally requires the kill to have actually FIRED
        // mid-write (non-vacuity) and the full-deck three-way
        // convergence to hold afterwards.
        require(master.startsWith("local-cluster"),
          "sync-fuzz-kill mode needs real executor JVMs")
        val seed = entries.headOption.map(_.toInt).getOrElse(5)
        val killAtChurn = entries.lift(1).map(_.toInt).getOrElse(3)
        val publishStages =
          java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val writeTasks = new AtomicLong(0)
        val killFired = new AtomicBoolean(false)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(j.properties).map(
              _.getProperty("spark.job.description", "")).getOrElse("")
            if (desc.startsWith("graft publish"))
              j.stageIds.foreach(publishStages.add(_))
          }
          override def onTaskStart(t: SparkListenerTaskStart): Unit =
            if (publishStages.contains(t.stageId))
              writeTasks.incrementAndGet()
        })
        val arm: () => Unit = () => {
          val baseline = writeTasks.get()
          new Thread(() => {
            val deadline = System.nanoTime() + 120L * 1000000000L
            while (writeTasks.get() < baseline + 2 &&
                System.nanoTime() < deadline) Thread.sleep(5)
            if (writeTasks.get() >= baseline + 2) {
              val pids = executorPids(spark.sparkContext.applicationId)
              pids.headOption.foreach { p =>
                ProcessHandle.of(p).ifPresent(_.destroyForcibly())
                killFired.set(true)
                println(s"[xcluster] killed executor pid=$p " +
                  s"writeTasks=${writeTasks.get()}")
              }
            }
          }, "graft-fuzz-killer").start()
        }
        graft.ingest.SyncFuzzScenario.run(spark, sfDir, seed,
          m => println(s"[xcluster] $m"), killer = Some((killAtChurn, arm)))
        require(killFired.get(),
          "the armed executor kill never fired — the run is vacuous " +
            "(publish write tasks did not start within the window?)")
        println(s"[xcluster] sync-fuzz-kill seed=$seed killFired=true")

      case other => sys.error(s"unknown mode $other")
    }

    spark.stop()
    println("XCLUSTER_OK")
  }
}
