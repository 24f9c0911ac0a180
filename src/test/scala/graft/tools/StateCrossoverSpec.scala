package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Measures the state-store crossover the OPERATORS.md A/B could only
  * assert: the HDFS-backed default provider is the right choice while
  * streaming state fits the executor heap, and RocksDB is the right
  * choice past it. Four child JVMs, all with the SAME capped heap
  * (1 GiB, -XX:+ExitOnOutOfMemoryError so an executor-thread OOM is a
  * clean nonzero exit, not a GC-thrash hang):
  *
  *  - state ≪ heap (300k open sessions): BOTH providers complete —
  *    the regime the sf10 A/B already measured (HDFS faster there);
  *  - state > heap (6M open sessions, ~1.2 GiB of JVM-map state):
  *    the HDFS provider MUST die by OOM (its state lives on heap,
  *    full stop), and RocksDB MUST complete green with every session
  *    emitted (its state lives in native memory + disk).
  *
  * That pair of outcomes at the same key count IS the measured
  * crossover: between 300k and 6M keys/GiB-of-heap, the provider
  * switch (`spark.sql.streaming.stateStore.providerClass`) stops being
  * a perf trade and becomes a liveness requirement.
  */
class StateCrossoverSpec extends AnyFunSuite {

  private val smallKeys = 300000L
  private val bigKeys = 6000000L

  private def runProbe(provider: String, nKeys: Long): (Int, String) =
    ForkedJvm.run("graft.tools.StateCrossoverProbe",
      Seq(provider, nKeys.toString), heap = "1g",
      extraJvmFlags = Seq("-XX:+ExitOnOutOfMemoryError"))

  private def emitted(text: String): Long =
    """emitted=(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse(-1L)

  test("state < heap: both providers complete (HDFS's home regime)") {
    Seq("hdfs", "rocksdb").foreach { p =>
      val (code, out) = runProbe(p, smallKeys)
      assert(code == 0 && out.contains("XOVER_OK"),
        s"$p at $smallKeys keys should fit a 1g heap:\n${out.takeRight(3000)}")
      // nKeys bulk sessions + the first closer's own session (the
      // second closer only advances the watermark past it)
      assert(emitted(out) == smallKeys + 1,
        s"$p at $smallKeys keys emitted ${emitted(out)} sessions")
      val line = out.linesIterator.find(_.startsWith("[xover]")).getOrElse("")
      info(line)
    }
  }

  test("state > heap: HDFS provider OOMs, RocksDB completes — the measured crossover") {
    val (hdfsCode, hdfsOut) = runProbe("hdfs", bigKeys)
    assert(hdfsCode != 0,
      "HDFS-backed provider survived state > heap — the crossover claim " +
        s"needs a bigger key count than $bigKeys:\n${hdfsOut.takeRight(2000)}")

    val (rocksCode, rocksOut) = runProbe("rocksdb", bigKeys)
    assert(rocksCode == 0 && rocksOut.contains("XOVER_OK"),
      s"RocksDB should complete past heap:\n${rocksOut.takeRight(3000)}")
    assert(emitted(rocksOut) == bigKeys + 1,
      s"RocksDB emitted ${emitted(rocksOut)} of ${bigKeys + 1} sessions")
    val line = rocksOut.linesIterator.find(_.startsWith("[xover]")).getOrElse("")
    info(s"crossover point: HDFS dead, RocksDB green — $line")
  }
}
