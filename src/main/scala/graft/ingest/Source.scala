package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Abstraction over the extract side (reference: SQL Server via ODBC,
  * etl-service/src/database.py). Kept abstract because the offline test
  * environment has no JDBC endpoint (SURVEY.md §7.4 risk 6): the parquet
  * implementation is shape-identical to a JDBC one, and the incremental
  * read contract (strict `updated_at > since`, database.py:79-85) is
  * defined here once.
  */
/** One column of a source table's schema (reference: the
  * INFORMATION_SCHEMA.COLUMNS probe, etl-service/src/database.py:97-105
  * returns (COLUMN_NAME, DATA_TYPE, IS_NULLABLE, COLUMN_DEFAULT)).
  * `default` is the database-declared default expression, as the
  * catalog renders it; None for sources without column defaults (files)
  * or columns without one.
  */
final case class ColumnInfo(name: String, dataType: String, nullable: Boolean,
                            default: Option[String] = None)

trait Source {
  def tableNames: Seq[String]
  def read(spark: SparkSession, table: String): DataFrame

  /** S4 (extract half): schema introspection for a source table —
    * (name, type, nullable) per column, the reference's
    * INFORMATION_SCHEMA.COLUMNS contract (database.py:95-108). For
    * file sources this reads footer/inferred metadata only — no data
    * scan is triggered by `.schema`.
    */
  def describe(spark: SparkSession, table: String): Seq[ColumnInfo] =
    read(spark, table).schema.fields.toSeq
      .map(f => ColumnInfo(f.name, f.dataType.sql, f.nullable))

  /** S2: changed rows since the watermark — strict `>` exactly like the
    * reference (rows sharing the max timestamp written later are skipped;
    * SURVEY.md §2.9 T3). The predicate is a plain Catalyst filter, so it
    * pushes down to the scan (parquet min/max skip or JDBC WHERE).
    *
    * Watermarks travel as strings (ISO timestamp text): Catalyst casts
    * the literal to the column's type (TIMESTAMP or TIMESTAMP_NTZ), so
    * the contract is agnostic to which one the source surfaces.
    *
    * Unordered, unlike the reference's ORDER BY (database.py:83): no
    * consumer reads the order, and in a Merge cycle a sort survives the
    * upsert's Union as a sampling job plus a shuffle per table.
    */
  def readChangedSince(spark: SparkSession, table: String,
                       since: Option[String],
                       watermarkCol: String = "updated_at"): DataFrame = {
    val df = read(spark, table)
    Source.resolve(df, watermarkCol) match {
      case None => df
      case Some(c) => since match {
        case Some(ts) => df.filter(col(c) > lit(ts).cast(
          df.schema(c).dataType))
        case None => df
      }
    }
  }
}

object Source {
  /** Resolve a column name case-insensitively (Spark's default analyzer
    * behavior, and databases like SQL Server / Derby surface uppercased
    * identifiers): returns the schema's actual spelling.
    */
  private[ingest] def resolve(df: DataFrame, name: String): Option[String] =
    df.schema.fieldNames.find(_.equalsIgnoreCase(name))
}

/** Directory-of-parquet source: `<dir>/<table>.parquet`. Reads through
  * Tables.load so TIMESTAMP(NANOS) columns get the same ns→us
  * normalization everywhere.
  */
final class ParquetSource(dir: String, tables: Seq[String]) extends Source {
  def tableNames: Seq[String] = tables
  def read(spark: SparkSession, table: String): DataFrame =
    graft.core.Tables.load(spark, dir, table)
}

/** JDBC source — shape parity with the reference's extract path (S1:
  * full scan, partitioned on the key column for executor parallelism —
  * connections open on executors, not the driver; the reference's
  * pooled reads, database.py:36-41, parallelize implicitly).
  *
  * Partition bounds are probed with one MIN/MAX aggregate (pushed to
  * the database — the scan itself never runs on the driver) before the
  * partitioned read; an empty table or a probe failure degrades to a
  * single-partition read instead of erroring.
  */
final class JdbcSource(url: String, tables: Seq[String],
                       props: java.util.Properties,
                       partitionCol: Option[String] = Some("id"),
                       numPartitions: Int = 8) extends Source {
  def tableNames: Seq[String] = tables

  private def withProps(r: org.apache.spark.sql.DataFrameReader) = {
    props.stringPropertyNames().forEach(k => r.option(k, props.getProperty(k)))
    r
  }

  // bounds probed once per table per source instance — metadata
  // consumers (describe, schema resolution) and repeated sync cycles
  // must not re-run the MIN/MAX aggregate on every read()
  private val boundsCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[(String, String)]]

  /** MIN/MAX of the partition column, as strings Spark's JDBC bounds
    * parser accepts (numeric, date, or timestamp columns).
    */
  private def probeBounds(spark: SparkSession, table: String,
                          c: String): Option[(String, String)] =
    boundsCache.getOrElseUpdate(table, {
      val row = withProps(spark.read.format("jdbc").option("url", url)
        .option("query", s"SELECT MIN($c) AS lo, MAX($c) AS hi FROM $table"))
        .load().first()
      if (row.isNullAt(0) || row.isNullAt(1)) None
      else Some((row.get(0).toString, row.get(1).toString))
    })

  private def unpartitionedRead(spark: SparkSession, table: String) =
    withProps(spark.read.format("jdbc")
      .option("url", url).option("dbtable", table))

  def read(spark: SparkSession, table: String): DataFrame = {
    val base = unpartitionedRead(spark, table)
    val bounded = partitionCol.flatMap { c =>
      scala.util.Try(probeBounds(spark, table, c)).toOption.flatten
        .map { case (lo, hi) =>
          base.option("partitionColumn", c)
            .option("numPartitions", numPartitions)
            .option("lowerBound", lo)
            .option("upperBound", hi)
        }
    }
    bounded.getOrElse(base).load()
  }

  /** Schema via the driver's metadata query (`WHERE 1=0` probe — never
    * the MIN/MAX bounds aggregate), enriched with each column's
    * declared DEFAULT from `DatabaseMetaData.getColumns` — the full
    * INFORMATION_SCHEMA.COLUMNS quadruple the reference introspects
    * (database.py:97-105: name, type, nullable, COLUMN_DEFAULT). The
    * metadata call is a catalog lookup, not a scan; a driver that
    * can't answer it (or an unmatched table spelling) degrades to
    * no-default rather than failing introspection.
    */
  override def describe(spark: SparkSession, table: String): Seq[ColumnInfo] = {
    val defaults = columnDefaults(table)
    unpartitionedRead(spark, table).load().schema.fields.toSeq
      .map(f => ColumnInfo(f.name, f.dataType.sql, f.nullable,
        defaults.get(f.name.toLowerCase(java.util.Locale.ROOT))))
  }

  /** lowercased column name → declared default expression. Identifier
    * case folding differs per database (Derby/SQL Server store
    * uppercase, Postgres lowercase), so the JDBC metadata is probed
    * with the exact spelling first and the uppercased one as fallback,
    * and matching back to Spark's schema is case-insensitive.
    */
  private def columnDefaults(table: String): Map[String, String] =
    try {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val md = conn.getMetaData
        // getColumns treats the table argument as a LIKE pattern: an
        // unescaped '_' in a table name matches any character and can
        // merge another table's defaults into the map. Escape the
        // metacharacters with the driver's declared escape string (a
        // driver that reports none degrades to the raw spelling, and
        // the NonFatal fallback still covers it).
        val esc = try md.getSearchStringEscape catch {
          case scala.util.control.NonFatal(_) => null
        }
        def likeLiteral(t: String): String =
          if (esc == null || esc.isEmpty) t
          else t.replace(esc, esc + esc)
            .replace("_", esc + "_").replace("%", esc + "%")
        def probe(t: String): Map[String, String] = {
          val rs = md.getColumns(null, null, likeLiteral(t), null)
          val b = Map.newBuilder[String, String]
          while (rs.next()) {
            val d = rs.getString("COLUMN_DEF")
            if (d != null)
              b += rs.getString("COLUMN_NAME")
                .toLowerCase(java.util.Locale.ROOT) -> d.trim
          }
          rs.close()
          b.result()
        }
        val exact = probe(table)
        if (exact.nonEmpty) exact
        else probe(table.toUpperCase(java.util.Locale.ROOT))
      } finally conn.close()
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
}
