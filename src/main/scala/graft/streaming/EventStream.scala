package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the event stream (SURVEY.md §2.9: the
  * reference is scheduled micro-batch — SyncManager reproduces that
  * exactly; this module is the genuinely-streaming upgrade path the
  * same data model supports).
  *
  * All transforms are defined on unbounded DataFrames: at scale they
  * run with `Trigger.ProcessingTime` against a file/Kafka source with
  * checkpointing; in tests the same plans run through a memory sink via
  * `processAllAvailable`.
  */
object EventStream {

  /** Option key declaring the `ts` physical vintage for streams started
    * over a directory the producer hasn't populated yet (nothing to
    * sniff). Values: "legacy-nanos" | "micros" | "micros-ntz".
    */
  val VintageOption = "graft.assumeTsVintage"

  /** The events schema as the streaming source must declare it for the
    * legacy physical layout (TIMESTAMP(NANOS) arrives as raw int64;
    * converted exactly like Tables.load). The driver's testdata has
    * shipped `ts` under two physical types across rounds — int64 nanos
    * and native TIMESTAMP(MICROS) — so [[readEvents]] sniffs the actual
    * footer and declares to match rather than assuming this one.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) read as raw int64
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of event parquet.
    * `glob` restricts which files stream (the file source only
    * accepts directories — pointing at one table inside a directory
    * of many is a glob filter, not a path).
    *
    * A streaming source must declare its schema up front, but the
    * physical type of `ts` differs by data vintage (int64
    * TIMESTAMP(NANOS) vs native TIMESTAMP(MICROS)/NTZ). One batch
    * footer read resolves the actual type; the declared schema and the
    * normalization then follow it, so both layouts stream identically
    * — `ts` always comes out as the same timestamp the batch path
    * (Tables.load) produces for that vintage.
    */
  def readEvents(spark: SparkSession, dir: String,
                 glob: Option[String] = None,
                 options: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // `glob` names the table within `dir`. Two physical layouts exist:
    // a single FILE `<dir>/<glob>` (driver testdata) and a Spark-written
    // DIRECTORY `<dir>/<glob>/part-*.parquet` (ScaleUp and any
    // production writer). pathGlobFilter matches LEAF file names only,
    // so for the directory layout the filter would match nothing and
    // the stream would silently read zero rows — point the source at
    // the subdirectory itself instead.
    val (path, filter) = glob match {
      case Some(g) if new java.io.File(dir, g).isDirectory =>
        (new java.io.File(dir, g).getPath, None)
      case g => (dir, g)
    }
    val sniffReader = filter.foldLeft(spark.read.format("parquet"))(
      (r, g) => r.option("pathGlobFilter", g))
    // An empty/not-yet-populated dir can't be sniffed. Guessing here is
    // the worst option: if the guess mismatches the files that later
    // arrive, the stream dies on first batch with an opaque
    // parquet-conversion error far from the cause. So sniff failure is
    // FAIL-FAST with the diagnosis in the message, unless the caller
    // states the vintage explicitly via the `graft.assumeTsVintage`
    // option ("legacy-nanos" | "micros" | "micros-ntz") — the only safe
    // way to start a stream over a directory its producer hasn't
    // populated yet.
    val tsType = scala.util.Try(sniffReader.load(path).schema("ts").dataType)
      .recover { case e =>
        options.get(VintageOption) match {
          case Some("legacy-nanos") => LongType: DataType
          case Some("micros")       => TimestampType: DataType
          case Some("micros-ntz")   => TimestampNTZType: DataType
          case Some(other) => throw new IllegalArgumentException(
            s"$VintageOption='$other' — expected legacy-nanos | micros | micros-ntz")
          case None => throw new IllegalStateException(
            s"cannot determine the physical type of `ts` for $path: no " +
              s"parquet footer to sniff (${e.getMessage}). Either start the " +
              "stream after the producer has written at least one file, or " +
              s"declare the vintage explicitly with .option(\"$VintageOption" +
              "\", \"legacy-nanos\"|\"micros\"|\"micros-ntz\").")
        }
      }.get
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val reader = spark.readStream.schema(schema)
      .options(options - VintageOption)
    val withGlob = filter.fold(reader)(g => reader.option("pathGlobFilter", g))
    val raw = withGlob.parquet(path)
    tsType match {
      case LongType => // legacy nanos layout
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // native micros without tz: same instant
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already the TimestampType Tables.load yields
    }
  }

  /** Tumbling/sliding windowed aggregation with late-data handling:
    * watermark bounds state (T5's missing piece in the reference);
    * append mode emits a window only once it can no longer change.
    */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
                  slide: Option[String] = None,
                  lateness: String = "10 minutes"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col("ts"), window_, s)
      case None => window(col("ts"), window_)
    }
    events.withWatermark("ts", lateness)
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("event_type"),
        col("n"), col("v"))
  }

  /** Streaming dedup on a key within the watermark horizon — the
    * continuous-ingest counterpart of Dedup.exact for a pipeline that
    * receives documents/events as a stream. State is bounded by the
    * watermark (`dropDuplicatesWithinWatermark`), so this runs forever
    * on unbounded input; an exact all-time dedup would grow state
    * without bound and belongs in the batch layer.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Session windows (gap-based) per user — built-in `session_window`
    * rather than hand-rolled state (compose-existing-ops preference).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("user_id"),
        col("n_events"), col("session_value"))

  /** Stream-stream interval join: each left event joined to right
    * events of the same key whose time falls in
    * `[left.ts - maxAge, left.ts]` — attribution joins ("purchases to
    * the views of the preceding hour"). Watermarks on BOTH sides bound
    * the join state; without them a stream-stream join buffers forever.
    *
    * `joinType` supports the outer forms Spark allows for stream-stream
    * joins (e.g. "leftOuter"): matches emit immediately, and an
    * unmatched left row emits with nulls only once the watermark proves
    * no qualifying right row can still arrive — so null-side output
    * trails the watermark by design, and a bounded replay only settles
    * rows older than the final watermark.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   maxAge: String = "1 hour",
                   lateness: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark("ts", lateness)
      .select(col(keyCol).as("k"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", lateness)
      .select(col(keyCol).as("r_k"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    l.join(r, expr(
      s"k = r_k AND r_ts >= l_ts - INTERVAL $maxAge AND r_ts <= l_ts"),
      joinType)
      .select(col("k").as(keyCol), col("l_event_id"), col("l_ts"),
        col("r_event_id"), col("r_ts"))
  }

  // ── custom state: per-user running profile ──────────────────────────

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserProfile(user_id: Long, n_events: Long,
                               total_value: Double, last_type: String)

  /** Arbitrary stateful processing (mapGroupsWithState shape): per-user
    * running counters emitted every micro-batch — the pattern a fraud /
    * rate / anomaly tracker needs, state bounded per key.
    */
  def userProfiles(events: Dataset[UserEvent]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserProfile]) =>
          val prev = state.getOption.getOrElse(UserProfile(uid, 0L, 0.0, ""))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserProfile(uid, acc.n_events + 1,
              acc.total_value + e.value, e.event_type)
          }
          state.update(next)
          next
      }
  }

  // ── custom state, gate-grade: deterministic per-user activity ───────

  final case class ProfiledEvent(user_id: Long, event_id: Long, ts_us: Long,
                                 event_type: String, value: Double)
  /** Running state: value total in exact integer cents (the 2-dp-grid
    * measure discipline of Q.dsum, in integer form), last event keyed
    * by (ts_us, event_id) so "latest" is total-ordered.
    */
  final case class ActivityState(n_events: Long, v_cents: Long,
                                 first_us: Long, last_us: Long,
                                 last_id: Long, last_type: String)
  final case class UserActivity(user_id: Long, n_events: Long, v: Double,
                                first_us: Long, last_us: Long,
                                last_type: String)

  /** Arbitrary stateful processing through the DIFFERENTIAL gate:
    * unlike [[userProfiles]] (whose double total and last_type depend
    * on iterator order), every field here is a pure function of the
    * event set — the batch buffers and folds in (ts_us, event_id)
    * order, money accumulates in integer cents, and the final
    * cents/100.0 division is the exact-decimal→double cast both
    * engines agree on. State is bounded per key; one emitted row per
    * (user, batch) in append mode.
    */
  def userActivity(events: Dataset[ProfiledEvent]): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ActivityState, UserActivity](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[ProfiledEvent],
         state: GroupState[ActivityState]) =>
          val evs = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
          if (evs.isEmpty) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(ActivityState(
              0L, 0L, Long.MaxValue, Long.MinValue, Long.MinValue, ""))
            val next = evs.foldLeft(prev) { (acc, e) =>
              val later = e.ts_us > acc.last_us ||
                (e.ts_us == acc.last_us && e.event_id >= acc.last_id)
              ActivityState(acc.n_events + 1,
                acc.v_cents + Math.round(e.value * 100.0),
                Math.min(acc.first_us, e.ts_us),
                if (later) e.ts_us else acc.last_us,
                if (later) e.event_id else acc.last_id,
                if (later) e.event_type else acc.last_type)
            }
            state.update(next)
            Iterator.single(UserActivity(uid, next.n_events,
              next.v_cents / 100.0, next.first_us, next.last_us,
              next.last_type))
          }
      }
  }

  /** Streaming sync: each micro-batch of new source files is published
    * as a snapshot generation (manifest swap included) — the
    * Structured-Streaming form of the reference's scheduled sync cycle
    * (incremental variant: a generation holds the batch's rows;
    * checkpointing replaces the watermark store for exactly-once file
    * consumption). `Trigger.AvailableNow` processes the backlog and
    * stops — one reference "sync tick"; a ProcessingTime trigger makes
    * it continuous.
    */
  /** Replay guard: was `batchId` already published as a generation?
    * Scans HISTORY generations, not just the current pointer: a
    * concurrent publish (e.g. a SyncManager cycle) landing between a
    * batch's publish and its checkpoint commit would hide the id from
    * `current` and let the replay double-publish. History is bounded
    * by retention (keep-24), so the scan is O(1) manifest reads.
    */
  private[graft] def isBatchPublished(store: graft.snapshot.SnapshotStore,
                                      batchId: Long): Boolean =
    store.listGenerations().reverse
      .exists(key => store.readGenerationManifest(key)
        .exists(_.metadata.get("batch_id").contains(batchId.toString)))

  /** The foreachBatch body, exposed so the at-least-once seam can be
    * driven directly: re-invoking with an already-published batchId is
    * exactly what a crash between publish and checkpoint commit does
    * on restart. Returns true iff a generation was published.
    */
  private[graft] def publishBatchOnce(store: graft.snapshot.SnapshotStore,
                                      writer: graft.snapshot.SnapshotWriter,
                                      table: String, batch: DataFrame,
                                      batchId: Long): Boolean = {
    val alreadyPublished = isBatchPublished(store, batchId)
    if (!alreadyPublished && !batch.isEmpty) {
      writer.publish(Map(table -> batch), sortCol = Some("ts"),
        metadata = Map("batch_id" -> batchId.toString))
      true
    } else false
  }

  def streamToSnapshots(events: DataFrame,
                        store: graft.snapshot.SnapshotStore,
                        table: String, checkpoint: String,
                        availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = new graft.snapshot.SnapshotWriter(store)
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a crash between publish and
        // checkpoint commit replays the batch. The batch id rides in
        // the manifest; a replayed id is skipped → effectively-once.
        publishBatchOnce(store, writer, table, batch, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow)
      q.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else q).start()
  }

  /** A child session for a bounded stream replay: same SparkContext
    * and catalog-free path reads, but its own SQLConf with the state
    * fan-out sized to the replayed volume. Stateful operators create
    * one state store (with per-commit file I/O) PER shuffle partition;
    * the batch default of 32 means 32 store commits per micro-batch,
    * which at bench volume (~100 k events in one batch) is pure
    * overhead. Production sizing ties this to sustained input rate,
    * not to the batch session's shuffle width.
    *
    * The state-store provider comes from the SparkConf, which child
    * sessions inherit (set it through SPARK_GRAFT_EXTRA_CONFS). MEASURED
    * guidance (OPERATORS.md round-9 crossover table): the HDFS-backed
    * default wins while state fits the executor heap, but it cannot
    * spill and dies by OOM near ~1.4M live keys per heap-GiB, where
    * RocksDB completes. Switch BEFORE state per executor nears heap.
    */
  def replaySession(spark: SparkSession, statePartitions: Int = 8): SparkSession = {
    val ss = spark.newSession()
    // dev/gate hook: override the state fan-out without touching
    // callers — the invariance sweep replays the t-entries at coprime
    // state-partition counts to prove results don't depend on how the
    // state store is sharded (what a cluster rescale changes)
    val parts = sys.env.get("SPARK_GRAFT_STATE_PARTITIONS") match {
      // Try+filter (not a \d+ regex): "0" would set
      // spark.sql.shuffle.partitions=0 downstream and ">2^31" would
      // escape as a bare NumberFormatException — both contradict the
      // error message's "positive integer" contract
      case Some(v) =>
        scala.util.Try(v.trim.toInt).toOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, got '$v'"))
      case None => statePartitions
    }
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss
  }

  /** tmpfs-backed scratch base when the host has one, else
    * java.io.tmpdir — the ONE copy of the detection (the fuzz
    * harness and forked probes use it for their checkpoints too).
    */
  def scratchBase: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }

  /** Run any of the above to a named in-memory sink, synchronously —
    * the test/bench harness entry (guide: batch-as-stream pattern).
    *
    * The checkpoint (offset log + state store deltas, fsync'd every
    * commit) goes to tmpfs when the host has one — commit-log fsyncs
    * on a disk-backed /tmp are the dominant fixed cost of a short
    * replay — and is deleted on stop either way.
    */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Append()): Unit = {
    val ckpt =
      java.nio.file.Files.createTempDirectory(scratchBase, "graft-ckpt-")
    // dev/probe hook (round 17, r16 verdict task 4): dump every
    // micro-batch's progress JSON — stateOperators.numRowsTotal is
    // the number that would grow without bound if an interval-join
    // watermark eviction regressed, and nothing else surfaces it
    // (the t-entries' oracles only see the FINAL frame). DrawProbe
    // runs the t-entries with this set to classify bench drift as
    // rig-vs-state-growth from the artifact alone.
    //
    // Round 18 (r17 verdict task 5 + ADVICE): progress is collected by
    // a StreamingQueryListener, NOT q.recentProgress — the buffer
    // behind recentProgress is capped at
    // spark.sql.streaming.numRecentProgressUpdates (default 100), so a
    // replay with >100 micro-batches silently dropped the HEAD of the
    // state trajectory this dump exists to certify. The listener sees
    // every progress event. sys.props fallback so in-process specs can
    // turn the hook on; the whole dump path is try/caught — an IO
    // failure in a dev hook must not fail the replay itself.
    val progressDir = sys.env.get("SPARK_GRAFT_STREAM_PROGRESS")
      .orElse(sys.props.get("SPARK_GRAFT_STREAM_PROGRESS"))
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.util.UUID, Long, String)]()
    val listener = progressDir.map { _ =>
      val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          collected.add((e.progress.id, e.progress.batchId, e.progress.json)); ()
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      df.sparkSession.streams.addListener(l)
      l
    }
    val q = df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      progressDir.foreach { dir =>
        try {
          // the listener bus is async: wait (bounded) until the final
          // committed batch's progress event has arrived before dumping
          val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          def mine = collected.toArray(Array.empty[(java.util.UUID, Long, String)])
            .filter(_._1 == q.id)
          val deadline = System.nanoTime() + 5000000000L
          while (System.nanoTime() < deadline &&
            !mine.exists(_._2 >= lastBatch)) Thread.sleep(25)
          val f = java.nio.file.Paths.get(dir,
            s"${name}_${System.nanoTime()}.json")
          java.nio.file.Files.createDirectories(f.getParent)
          java.nio.file.Files.writeString(f,
            mine.sortBy(_._2).map(_._3).mkString("[\n", ",\n", "\n]"))
          ()
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stream-progress] dump failed for $name: " +
            e.getMessage)
        }
      }
    } finally {
      listener.foreach(df.sparkSession.streams.removeListener)
      q.stop()
      // best-effort cleanup; replay checkpoints are one-shot. NonFatal,
      // not just IOException: a concurrent tmp sweeper makes the walk
      // throw UncheckedIOException, which must not replace the
      // successful query result out of this finally block.
      try org.apache.spark.network.util.JavaUtils.deleteRecursively(ckpt.toFile)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
