package graft.tools

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM execution gate (see LocalClusterProbe): every other gate
  * in this repo runs `local[n]`, a single JVM where task dispatch
  * skips serialization and shuffle is an in-process file read. These
  * tests run a cross-section of the catalog on
  * `local-cluster[2,4,…]` — two REAL executor JVMs under an in-process
  * standalone master — which is the closest a single machine gets to
  * the 1000-executor shape:
  *
  *  - digest parity: shuffle-heavy, broadcast, iterative, custom-
  *    operator, and streaming entries must produce bit-identical
  *    order-insensitive digests in-JVM vs across executor JVMs
  *    (catches closure-serialization and driver-state leaks that
  *    local[n] can never see);
  *  - executor loss: SIGKILL one executor JVM mid-query; the stage
  *    retry / shuffle-refetch machinery must complete the query with
  *    the digest unchanged. The victim entry (d08) is stateless
  *    shuffle — entries built on `localCheckpoint` (d12, d18, e09)
  *    are deliberately NOT the victim: lineage truncation makes a
  *    lost checkpoint block unrecoverable within the query (Spark's
  *    documented localCheckpoint trade), a liveness — not
  *    correctness — property recorded in OPERATORS.md.
  */
class LocalClusterSpec extends AnyFunSuite {

  private val sf = sys.env.getOrElse("GRAFT_XCLUSTER_SF",
    "/root/testdata/sf0.1")

  // cross-section: hash agg, 3-way join + window top-k, LSH shuffle,
  // managed-persist curation, iterative connected components,
  // auto-k semantic dedup, custom as-of join, streaming sessions
  private val digestEntries = Seq(
    "q05_groupby_pricing", "q13_join3_topk", "d08_minhash_neardups",
    "d12_curation", "d18_neardup_clusters", "e08_semantic_dedup",
    "q44_asof_join", "t02_stream_sessions")

  // the in-process Worker builds the executor java command through the
  // launcher library, which needs SPARK_SCALA_VERSION when the JVM was
  // not started via load-spark-env.sh (sbt was not)
  private val clusterEnv = Seq("SPARK_SCALA_VERSION" -> "2.13")

  private def parse(text: String): Map[String, (Long, String)] =
    """\[xcluster\] (\S+) rows=(\d+) digest=(-?\d+)""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap

  test("multi-JVM executors: digests identical to in-process execution") {
    assume(Files.exists(Paths.get(s"$sf/orders.parquet")),
      s"scale point not present at $sf")
    val (localCode, localOut) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local[8]", "digest", sf) ++ digestEntries, heap = "6g")
    assert(localCode == 0 && localOut.contains("XCLUSTER_OK"),
      s"local[8] reference run failed:\n${localOut.takeRight(3000)}")
    val (clusterCode, clusterOut) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "digest", sf) ++ digestEntries,
      heap = "4g", extraEnv = clusterEnv)
    assert(clusterCode == 0 && clusterOut.contains("XCLUSTER_OK"),
      s"local-cluster run failed:\n${clusterOut.takeRight(3000)}")
    val ref = parse(localOut)
    val got = parse(clusterOut)
    digestEntries.foreach { e =>
      assert(ref.contains(e) && got.contains(e), s"$e missing from a run")
      assert(got(e) == ref(e),
        s"$e diverged across executor JVMs: local=${ref(e)} cluster=${got(e)}")
    }
    clusterOut.linesIterator.filter(_.startsWith("[xcluster]"))
      .foreach(info(_))
  }

  test("executor SIGKILL mid-query: stage retry completes, digest unchanged") {
    assume(Files.exists(Paths.get(s"$sf/documents.parquet")),
      s"scale point not present at $sf")
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "kill", sf, "d08_minhash_neardups"),
      heap = "4g", extraEnv = clusterEnv)
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"executor-loss run failed:\n${out.takeRight(4000)}")
    assert(out.contains("removedDuringQuery=true"),
      "the kill landed after the query finished — victim too cheap for " +
        s"this machine, raise GRAFT_XCLUSTER_SF:\n${out.takeRight(2000)}")
    out.linesIterator.filter(_.startsWith("[xcluster]")).foreach(info(_))
  }

  test("executor SIGKILL mid-stream: state store reloads, digest unchanged") {
    // the streaming variant of the loss story: the killed executor
    // held live session-window state-store instances; their tasks
    // retry on the survivor, which reloads state from the checkpoint —
    // the settled output must not lose, duplicate, or re-split a
    // session
    assume(Files.exists(Paths.get(s"$sf/events.parquet")),
      s"scale point not present at $sf")
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "kill", sf, "t02_stream_sessions"),
      heap = "4g", extraEnv = clusterEnv)
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"streaming executor-loss run failed:\n${out.takeRight(4000)}")
    assert(out.contains("removedDuringQuery=true"),
      s"the kill landed after the stream settled:\n${out.takeRight(2000)}")
    assert(out.contains("stateBackend=hdfs"),
      "the backend echo did not report the default provider — the " +
        s"RocksDB variant's discriminator would be vacuous:\n${out.takeRight(2000)}")
    out.linesIterator.filter(_.startsWith("[xcluster]")).foreach(info(_))
  }

  test("executor SIGKILL mid-MERGE-publish: generation atomic, watermark safe") {
    // the sync path's write job loses an executor mid-publish (r9
    // verdict item 6): whatever the cycle outcome, the ADOPTED
    // generation must read clean at exactly its manifest count (never
    // a torn gen dir behind the pointer); a recovered cycle carries the
    // delta exactly once, a failed one leaves pointer + watermark
    // untouched and the retry publishes — both arms asserted inside
    // the probe (sync-kill mode), which requires ≥2 tasks of the
    // labeled publish write job started before it kills
    assume(Files.exists(Paths.get(s"$sf/orders.parquet")),
      s"scale point not present at $sf")
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "sync-kill", sf),
      heap = "4g", extraEnv = clusterEnv)
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"sync executor-loss run failed:\n${out.takeRight(4000)}")
    assert(out.contains("[xcluster] sync cycleSucceeded="),
      s"probe produced no sync verdict:\n${out.takeRight(2000)}")
    assert(out.contains("removedDuringCycle=true"),
      "the kill landed after the cycle finished — the run proved only " +
        s"the trivial arm; raise GRAFT_XCLUSTER_SF:\n${out.takeRight(2000)}")
    out.linesIterator.filter(_.startsWith("[xcluster]")).foreach(info(_))
  }

  test("sync-lifecycle fuzz deck × executor SIGKILL mid-publish: converges") {
    // the r10 verdict's item-4 parenthetical: the full 22-op
    // interleaving fuzz (drift, torn/absent pointers, failed publishes,
    // ties) run under REAL executor JVMs with a SIGKILL armed on churn
    // cycle #3's labeled publish write job. The scenario accepts either
    // documented arm for the killed cycle (recovered-via-stage-retry or
    // failed-soft + watermark/pointer held + retry lands the delta
    // exactly once); the probe requires the kill to have actually fired
    // after publish write tasks started, and the three-way convergence
    // (window oracle == snapshot == source bookkeeping) to hold at the
    // end of the deck regardless
    assume(Files.exists(Paths.get("/root/testdata/sf0.01/orders.parquet")))
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "sync-fuzz-kill",
        "/root/testdata/sf0.01", "5"),
      heap = "4g", extraEnv = clusterEnv)
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"sync-fuzz-kill run failed:\n${out.takeRight(4000)}")
    assert(out.contains("killFired=true"),
      s"the armed kill never fired — vacuous run:\n${out.takeRight(2000)}")
    assert(out.contains("rows converged"),
      s"deck did not reach convergence:\n${out.takeRight(2000)}")
    out.linesIterator.filter(_.startsWith("[xcluster]"))
      .filterNot(_.contains("deck:")).foreach(info(_))
  }

  test("RocksDB × k=3 multi-file triggers × executor SIGKILL: model-exact") {
    // the last untested interaction (r10 verdict item 7): the restart
    // fuzz rotates k against graceful stops/crash replays, and the
    // kill tests run k=1 per backend — this combines all three in one
    // scenario. The probe replays a generated session-late fuzz
    // scenario (beyond-watermark drops) at maxFilesPerTrigger=3 on
    // RocksDB under local-cluster, SIGKILLs an executor mid-flight,
    // and requires the settled output to equal the PURE-MODEL
    // lifecycle oracle (k-grouped), not merely a clean-run digest.
    // (No testdata assume: the probe stages its own generated scenario.)
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "fuzz-kill", "/root/testdata/sf0.01",
        "31"),
      heap = "4g", extraEnv = clusterEnv)
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"fuzz-kill run failed:\n${out.takeRight(4000)}")
    assert(out.contains("removedDuringQuery=true"),
      s"the kill landed after the stream settled:\n${out.takeRight(2000)}")
    assert(out.contains("stateBackend=rocksdb"),
      "the provider conf did not reach the streaming query — the run " +
        s"re-proved the default backend:\n${out.takeRight(2000)}")
    assert(out.contains("k=3"), "trigger grouping dropped out of the probe")
    out.linesIterator.filter(_.startsWith("[xcluster]")).foreach(info(_))
  }

  test("executor SIGKILL mid-stream on RocksDB: native state reloads too") {
    // same loss story on the recommended past-heap backend: the killed
    // executor's RocksDB instances (native memory + local disk) are
    // simply gone; the survivor must rebuild them from the checkpoint
    assume(Files.exists(Paths.get(s"$sf/events.parquet")),
      s"scale point not present at $sf")
    val (code, out) = ForkedJvm.run(
      "graft.tools.LocalClusterProbe",
      Seq("local-cluster[2,4,4096]", "kill", sf, "t02_stream_sessions"),
      heap = "4g", extraEnv = clusterEnv :+
        ("SPARK_GRAFT_EXTRA_CONFS" ->
          ("spark.sql.streaming.stateStore.providerClass=org.apache.spark" +
            ".sql.execution.streaming.state.RocksDBStateStoreProvider")))
    assert(code == 0 && out.contains("XCLUSTER_OK"),
      s"RocksDB executor-loss run failed:\n${out.takeRight(4000)}")
    assert(out.contains("removedDuringQuery=true"),
      s"the kill landed after the stream settled:\n${out.takeRight(2000)}")
    // the backend echo comes from the running query's state-operator
    // metrics (rocksdb*-prefixed), NOT from any session conf: it proves
    // the SparkConf entry reached the child session replaySession
    // clones, not merely the probe's parent session
    assert(out.contains("stateBackend=rocksdb"),
      "the provider conf did not reach the streaming query — the test " +
        s"would be re-proving the default backend:\n${out.takeRight(2000)}")
    out.linesIterator.filter(_.startsWith("[xcluster]")).foreach(info(_))
  }
}
