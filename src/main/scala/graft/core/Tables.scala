package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loader for the snapshot table set (TESTDATA.md: one parquet file per
  * table under an sf directory). Mirrors the reference's snapshot-read
  * path (api-service/src/query_engine.py:78-108): the serving layer sees
  * a directory of columnar tables registered by name. At cluster scale
  * each "file" is a partitioned parquet directory; `spark.read.parquet`
  * handles both transparently.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped under two physical types across testdata
    // vintages. Legacy: parquet TIMESTAMP(NANOS), which Spark has no
    // native type for — read the raw int64 and truncate to
    // microseconds, exactly what DuckDB's ns→us TIMESTAMP conversion
    // does, so the oracle sees identical values. Current: native
    // TIMESTAMP(MICROS) without a timezone, which Spark infers as
    // TIMESTAMP_NTZ — cast to TimestampType (UTC session, same
    // instant) so every downstream consumer (unix_micros arithmetic,
    // streaming watermarks, dumped gate parquet) sees one type
    // regardless of vintage.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path(dir, name))
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Spread a narrow source over the cluster before a compute-heavy
    * stage. The testdata tables ship as ONE single-row-group parquet
    * file per table, and a row group is the scan's minimum split unit,
    * so every scan-fused stage (decimal aggregation, count-distinct
    * Expand, per-row text and vector kernels) would run on ONE core
    * (measured round 18: q05's whole 2.5 s was one task's partial
    * aggregate, 31 cores idle). The row shuffle is orders of magnitude
    * cheaper than the per-row work it parallelizes.
    *
    *  - Fires only when the source is NARROWER than the cluster (<
    *    defaultParallelism). At production scan widths a table arrives
    *    as thousands of row-group splits and this is a structural
    *    no-op; a frame already at cluster width (Curation's persisted
    *    survivors cache) is not re-exchanged.
    *  - Width pinned at exactly defaultParallelism (round 19): the
    *    former 2× paid 2×cores fixed-overhead tasks in every consumer
    *    stage (d10 at 32 cores: 0.88 s vs 0.65–0.70 s). NOT left to
    *    AQE's byte-based coalescing, which cannot see per-row CPU: an
    *    unpinned repartition collapsed d32's 1.6 MB spread exchange to
    *    2 partitions and ran its shingle explode serially (1.1 s → 12 s).
    *  - HASH-partitioned on `key`, which callers pick unique or high-
    *    cardinality so the spread is uniform. A keyless repartition(n)
    *    pays a local sort of every row for retry determinism
    *    (spark.sql.execution.sortBeforeRepartition). Results are
    *    placement-invariant by construction: catalog measures are
    *    decimal-exact or order-independent, and the invariance gate
    *    proves the catalog across coprime widths.
    *
    * PRECONDITION (round 19): pass a bare source — a scan or cached
    * frame, optionally projected or filtered. The width is read
    * through `toRdd` (no row-deserializer node, unlike `df.rdd`). On a
    * plan that contains an Exchange, `toRdd` finalizes the adaptive
    * plan, which can MATERIALIZE upstream shuffle stages whose work is
    * then discarded when the real action re-plans. A construction-job
    * probe verified every call site launches only the parquet footer
    * job.
    */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= par) df
    else df.repartition(par, col(key))
  }

  /** Register every table as a temp view (reference: conn.register /
    * CTAS, etl-service/src/sync.py:81-87 → SHOW TABLES surface).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
