package graft.ingest

import java.sql.DriverManager

import graft.SparkSpec

/** JdbcSource against embedded Derby (ships with Spark): the S1
  * partitioned-read path with real MIN/MAX bounds probing, plus S4
  * introspection and the S2/S3 watermark contract over JDBC.
  */
class JdbcSourceSpec extends SparkSpec {

  private lazy val url = {
    val u = "jdbc:derby:memory:graftjdbc;create=true"
    val c = DriverManager.getConnection(u)
    val st = c.createStatement()
    st.executeUpdate(
      "CREATE TABLE items(id INT NOT NULL, qty INT, updated_at TIMESTAMP)")
    (1 to 100).foreach { i =>
      st.executeUpdate(s"INSERT INTO items VALUES($i, ${i * 10}, " +
        s"TIMESTAMP('2024-01-${(i % 28) + 1}', '00:00:00'))")
    }
    st.executeUpdate("CREATE TABLE empty_t(id INT, updated_at TIMESTAMP)")
    // declared default — added after the inserts so their arity keeps —
    // for the COLUMN_DEFAULT half of the introspection contract
    st.executeUpdate(
      "ALTER TABLE items ADD COLUMN status VARCHAR(10) DEFAULT 'active'")
    st.close(); c.close()
    u
  }

  private def source(parts: Int = 4) = new JdbcSource(url, Seq("items"),
    new java.util.Properties(), partitionCol = Some("id"),
    numPartitions = parts)

  test("partitioned read probes bounds and splits into N partitions") {
    val df = source(4).read(spark, "items")
    assert(df.count() == 100L)
    assert(df.rdd.getNumPartitions == 4,
      "bounds probe must enable the partitioned read")
    // every row exactly once across partition ranges
    assert(df.select("id").distinct().count() == 100L)
  }

  test("empty table degrades to a single-partition read, no error") {
    val df = new JdbcSource(url, Seq("empty_t"), new java.util.Properties(),
      partitionCol = Some("id")).read(spark, "empty_t")
    assert(df.count() == 0L)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("describe returns (name, type, nullable, default) per column") {
    val cols = source().describe(spark, "items")
    assert(cols.map(_.name) == Seq("ID", "QTY", "UPDATED_AT", "STATUS"))
    assert(cols.head.dataType == "INT")
    assert(cols(2).dataType == "TIMESTAMP")
    // the INFORMATION_SCHEMA quadruple: declared DEFAULT surfaces as
    // the catalog renders it; columns without one carry None
    assert(cols(3).default.exists(_.contains("active")), cols(3))
    assert(cols.take(3).forall(_.default.isEmpty))
  }

  test("a DATE watermark round-trips end-to-end through the real JDBC dialect literal path") {
    // closes the last untested edge of the r14 DATE-watermark fix: the
    // parquet-backed pin proved store round-trip + Catalyst cast, but a
    // JDBC source compiles the strict-> predicate into the DIALECT's
    // WHERE literal — prove the saved "yyyy-MM-dd" cast shape survives
    // that path too. Also pins case-insensitive watermark resolution in
    // the cycle's stats scan (Derby folds to "UPDATED_AT"; an
    // exact-match miss meant the watermark was never established for
    // folded-identifier databases — eternal full re-reads).
    val u2 = "jdbc:derby:memory:graftjdbcdate;create=true"
    val c = DriverManager.getConnection(u2)
    val st = c.createStatement()
    st.executeUpdate(
      "CREATE TABLE ditems(id INT NOT NULL, updated_at DATE, v DOUBLE)")
    (1 to 3).foreach(i => st.executeUpdate(
      s"INSERT INTO ditems VALUES($i, DATE('2024-01-0$i'), ${i * 1.5})"))
    val src = new JdbcSource(u2, Seq("ditems"), new java.util.Properties(),
      partitionCol = Some("id"))
    val snapDir =
      java.nio.file.Files.createTempDirectory("graft-jdbc-date").toString
    val store = new graft.snapshot.SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark, src, store, mode = SyncMode.Merge)
    val r1 = mgr.runCycle(java.time.Instant.parse("2024-02-01T00:00:00Z"))
    assert(r1.success, r1.error)
    assert(StoredWatermarks(store)("ditems") == "2024-01-03",
      "DATE watermark not established from the folded-case JDBC column")
    // second cycle: the saved DATE literal rides the dialect WHERE —
    // strict >, zero changed rows, NOT a full-read bootstrap
    val r2 = mgr.runCycle(java.time.Instant.parse("2024-02-01T01:00:00Z"))
    assert(r2.success && r2.changedCounts("ditems") == 0L,
      s"saved DATE watermark did not round-trip through the dialect: $r2")
    // a newer row lands; only IT crosses the literal
    st.executeUpdate(
      "INSERT INTO ditems VALUES(4, DATE('2024-02-05'), 9.0)")
    val r3 = mgr.runCycle(java.time.Instant.parse("2024-02-01T02:00:00Z"))
    assert(r3.success && r3.changedCounts("ditems") == 1L, s"$r3")
    assert(StoredWatermarks(store)("ditems") == "2024-02-05")
    st.close(); c.close()
  }

  test("watermark probe and strict > incremental read work over JDBC") {
    val s = source()
    val delta = s.readChangedSince(spark, "items", Some("2024-01-20 00:00:00"))
    val all = s.read(spark, "items")
    import org.apache.spark.sql.functions._
    val expected = all.filter(col("updated_at") > lit("2024-01-20 00:00:00")
      .cast("timestamp")).count()
    assert(delta.count() == expected && expected > 0)
  }
}
