package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

/** One synced source table: its schema and how the generator fills a
  * row for a given id at a given version.
  */
final case class SyncTable(name: String, schema: StructType, derive: String,
                           row: (Long, Int, Long) => Row)

/** The sync_live write path's input. Source tables carry the reference's
  * required `id`/`created_at`/`updated_at` columns and are derived from
  * the corpus: part → inventory, orders → orders, and the lineitems of
  * the first quarter of the orders → transactions. Before every cycle the generator appends a delta: a
  * fixed share of rows updated with a strictly newer `updated_at` (keys
  * skewed toward recent ids) plus some new rows. The ledger tracks the
  * row count and an order-independent checksum of (`id`, `updated_at`)
  * that every published generation must match.
  */
final class SyncSource(spark: SparkSession, corpusDir: String, cache: Path, val dir: Path,
                       seed: Long) {
  import SyncSource._

  val tables: Seq[SyncTable] = Seq(
    SyncTable("inventory", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("quantity", LongType), StructField("price", DoubleType),
      StructField("created_at", TimestampType), StructField("updated_at", TimestampType))),
      s"""SELECT p_partkey + 1 AS id, p_name AS name, CAST(p_size AS BIGINT) AS quantity,
         |p_retailprice AS price, $BaseTs AS created_at, $BaseTs AS updated_at
         |FROM part""".stripMargin,
      (id, v, ts) => Row(id, s"item $id v$v", (id * 7 + v) % 100, 900.0 + (id + v) % 1000 / 10.0,
        micros(BaseMicros), micros(ts))),
    SyncTable("orders", StructType(Seq(
      StructField("id", LongType), StructField("customer_id", LongType),
      StructField("status", StringType), StructField("total", DoubleType),
      StructField("created_at", TimestampType), StructField("updated_at", TimestampType))),
      s"""SELECT o_orderkey + 1 AS id, o_custkey AS customer_id, o_orderstatus AS status,
         |o_totalprice AS total, CAST(o_orderdate AS TIMESTAMP) AS created_at,
         |$BaseTs AS updated_at FROM orders""".stripMargin,
      (id, v, ts) => Row(id, id % 1000, Seq("F", "O", "P")(v % 3), 1000.0 + (id * 13 + v) % 400000,
        micros(BaseMicros), micros(ts))),
    SyncTable("transactions", StructType(Seq(
      StructField("id", LongType), StructField("order_id", LongType),
      StructField("part_id", LongType), StructField("quantity", DoubleType),
      StructField("amount", DoubleType),
      StructField("created_at", TimestampType), StructField("updated_at", TimestampType))),
      // the lines of the first quarter of the orders: Merge rewrites every
      // table each cycle, and with all of lineitem a cycle took so long
      // that a window held too few for a steady median
      s"""SELECT l_orderkey * 8 + l_linenumber AS id, l_orderkey AS order_id,
         |l_partkey AS part_id, l_quantity AS quantity, l_extendedprice AS amount,
         |CAST(l_shipdate AS TIMESTAMP) AS created_at, $BaseTs AS updated_at
         |FROM lineitem
         |WHERE l_orderkey < (SELECT (MAX(o_orderkey) + 1) / 4 FROM orders)""".stripMargin,
      (id, v, ts) => Row(id, id / 8, (id * 31 + v) % 1000, (1 + v % 50).toDouble,
        (id * 17 + v) % 100000 / 1.0, micros(BaseMicros), micros(ts))))

  /** Per table: base row count, base checksum, the id space the
    * generator draws from, and every id the deltas touched since.
    */
  final class Ledger(var count: Long, var checksum: BigInt, val baseIds: Long => Long,
                     val nBase: Long, baseMaxId: Long) {
    var nextId: Long = baseMaxId + 1
    val touched = mutable.LongMap.empty[Long]
    val inserted = mutable.ArrayBuffer.empty[Long]
    /** The id's current `updated_at`, None when it does not exist yet. */
    def tsOf(id: Long): Option[Long] =
      touched.get(id).orElse(if (id <= baseMaxId) Some(BaseMicros) else None)
  }

  var ledgers: Map[String, Ledger] = Map.empty
  private val rnd = new java.util.Random(seed * 7919 + 17)
  private var cycle = 0

  /** Copy in the base tables, derived once per corpus and cached with
    * their count, checksum and largest id (they do not depend on the
    * seed), and open the ledger.
    */
  def build(): Unit = {
    if (!Files.exists(cache.resolve("DONE"))) derive()
    val base = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(cache.resolve("base.json").toFile)
    ledgers = tables.map { t =>
      copyTree(cache.resolve(s"${t.name}.parquet"), path(t.name))
      val b = base.get(t.name)
      val maxId = b.get("max_id").asLong()
      // transactions ids are order*8+line; line 1 exists for every order
      val ids: Long => Long =
        if (t.name == "transactions") k => k * 8 + 1 else k => k + 1
      val nBase = if (t.name == "transactions") maxId / 8 + 1 else maxId
      t.name -> new Ledger(b.get("rows").asLong(), BigInt(b.get("checksum").asText()), ids,
        nBase, maxId)
    }.toMap
  }

  private def derive(): Unit = {
    val plain = spark.newSession()
    Seq("part", "orders", "lineitem").foreach(t =>
      graft.core.Tables.load(plain, corpusDir, t).createOrReplaceTempView(t))
    val base = tables.map { t =>
      val df = plain.sql(t.derive)
      require(df.schema.map(f => f.name -> f.dataType) == t.schema.map(f => f.name -> f.dataType),
        s"${t.name} derivation schema ${df.schema.simpleString}")
      val out = cache.resolve(s"${t.name}.parquet").toString
      df.write.mode("overwrite").parquet(out)
      val (n, sum, maxId) = checksum(plain, out)
      s""""${t.name}":{"rows":$n,"checksum":"$sum","max_id":$maxId}"""
    }
    Files.writeString(cache.resolve("base.json"), base.mkString("{", ",", "}"))
    Files.writeString(cache.resolve("DONE"), "")
  }

  def path(table: String): Path = dir.resolve(s"$table.parquet")

  /** Append one delta per table; returns (rows, bytes) appended. */
  def appendDelta(updateShare: Double, insertShare: Double): (Long, Long) = {
    cycle += 1
    val ts = BaseMicros + 10L * 86400 * 1000000 + cycle * 60L * 1000000
    var rows = 0L
    var bytes = 0L
    tables.foreach { t =>
      val l = ledgers(t.name)
      val nUpd = math.max(1, (l.nBase * updateShare).toInt)
      val nIns = math.max(1, (l.nBase * insertShare).toInt)
      val ids = mutable.LinkedHashSet.empty[Long]
      while (ids.size < nUpd) {
        // skewed toward recent ids: a quarter of updates hit rows
        // inserted by earlier deltas, the rest favour high base keys
        val id =
          if (l.inserted.nonEmpty && rnd.nextInt(4) == 0)
            l.inserted(l.inserted.size - 1 - (l.inserted.size * math.pow(rnd.nextDouble(), 2)).toInt)
          else l.baseIds(l.nBase - 1 - (l.nBase * math.pow(rnd.nextDouble(), 3)).toLong)
        ids += id
      }
      val fresh = (0 until nIns).map(i => l.nextId + i)
      val out = (ids.toSeq ++ fresh).zipWithIndex.map { case (id, i) =>
        val newTs = ts + i
        val h1 = hash(id, newTs)
        l.tsOf(id) match {
          case Some(old) => l.checksum += h1 - hash(id, old)
          case None => l.checksum += h1; l.count += 1
        }
        l.touched(id) = newTs
        t.row(id, cycle, newTs)
      }
      l.inserted ++= fresh
      l.nextId += nIns
      val before = dirBytes(path(t.name))
      spark.createDataFrame(java.util.Arrays.asList(out: _*), t.schema).coalesce(1)
        .write.mode("append").parquet(path(t.name).toString)
      bytes += dirBytes(path(t.name)) - before
      rows += out.size
    }
    (rows, bytes)
  }
}

object SyncSource {
  val BaseTs = "TIMESTAMP '2024-01-01 00:00:00'"
  val BaseMicros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000

  def micros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Spark's xxhash64(id, updated_at): the chained 64-bit hash of both. */
  def hash(id: Long, tsMicros: Long): BigInt =
    BigInt(XXH64.hashLong(tsMicros, XXH64.hashLong(id, 42L)))

  /** (rows, Σ xxhash64(id, updated_at) exactly, max id) of a parquet table. */
  def checksum(spark: SparkSession, dir: String): (Long, BigInt, Long) = {
    val r = spark.read.parquet(dir).selectExpr("COUNT(*) AS n",
      "SUM(CAST(xxhash64(id, updated_at) AS DECIMAL(38,0))) AS s", "MAX(id) AS m").first()
    (r.getLong(0), if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Bytes of all regular files under `p` (0 when absent). */
  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  def copyTree(from: Path, to: Path): Unit = files(from).foreach { f =>
    val target = to.resolve(from.relativize(f).toString)
    Files.createDirectories(target.getParent)
    Files.copy(f, target)
  }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }
}
