package graft.perfbench

import graft.validate.{QuerySanitizer, QueryValidator}

/** A query text with the whitelist pattern it is meant to exercise. */
final case class QueryText(pattern: String, sql: String)

/** The generated query streams. Texts are fixed by the workload seed
  * only; the engine sees nothing but the texts.
  */
object QueryMix {

  /** serve_hot: 3 texts per whitelist pattern over the sf-scaled TPC-H
    * tables. Every text has one fixed answer of about 100 rows or fewer:
    * a total order on a unique key precedes any cap, and the LIMIT texts
    * cover the whole 25-row nation table.
    */
  val hot: IndexedSeq[QueryText] = IndexedSeq(
    QueryText("count", "SELECT COUNT(*) FROM lineitem"),
    QueryText("select_columns", "SELECT n_nationkey, n_name, n_regionkey FROM nation"),
    QueryText("group_by",
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS q " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    QueryText("where_clause",
      "SELECT o_orderkey, ROUND(o_totalprice, 0) AS total FROM orders WHERE o_custkey = 42"),
    QueryText("select_all", "SELECT * FROM nation ORDER BY n_nationkey"),
    QueryText("aggregate",
      "SELECT MAX(p_retailprice) AS m, MIN(p_size) AS s FROM part"),
    QueryText("order_by",
      "SELECT n_name, n_regionkey * 10 AS r FROM nation ORDER BY n_name"),
    QueryText("limit",
      "SELECT n_nationkey, CONCAT(n_name, '-', n_regionkey) AS tag FROM nation LIMIT 30"),
    QueryText("count",
      "SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'"),
    QueryText("select_all",
      "SELECT * FROM supplier WHERE s_suppkey < 40 ORDER BY s_suppkey"),
    QueryText("group_by",
      "SELECT c_mktsegment, COUNT(*) AS n, MAX(c_acctbal) AS top FROM customer " +
        "GROUP BY c_mktsegment"),
    QueryText("aggregate",
      "SELECT SUM(l_quantity) AS qty, MAX(l_extendedprice) AS maxp FROM lineitem " +
        "WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'"),
    QueryText("select_columns",
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey < 60 " +
        "ORDER BY c_custkey"),
    QueryText("where_clause",
      "SELECT p_partkey, UPPER(p_brand) AS brand FROM part " +
        "WHERE p_size = 7 AND p_retailprice > 995"),
    QueryText("order_by",
      "SELECT p_partkey, p_name, p_retailprice + 0 AS price FROM part " +
        "ORDER BY p_retailprice DESC, p_partkey LIMIT 30"),
    QueryText("limit",
      "SELECT n_regionkey, n_nationkey + 100 AS k FROM nation LIMIT 25"),
    QueryText("count",
      "SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING'"),
    QueryText("select_all",
      "SELECT * FROM orders WHERE o_orderkey BETWEEN 1000 AND 1049 ORDER BY o_orderkey"),
    QueryText("group_by",
      "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority"),
    QueryText("aggregate",
      "SELECT AVG(o_totalprice) AS avgp, MIN(o_orderdate) AS first FROM orders"),
    QueryText("select_columns",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey < 20 " +
        "ORDER BY l_orderkey, l_linenumber"),
    QueryText("where_clause",
      "SELECT s_suppkey, LOWER(s_name) AS nm FROM supplier WHERE s_nationkey = 3"),
    QueryText("order_by",
      "SELECT c_custkey, c_acctbal * 1 AS bal FROM customer " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 40"),
    QueryText("limit",
      "SELECT n_name, LENGTH(n_name) AS len FROM nation LIMIT 100"))

  /** sync_live readers: a serve_hot-style mix over the synced tables and
    * the derived summary view.
    */
  val syncReads: IndexedSeq[QueryText] = IndexedSeq(
    QueryText("select_all", "SELECT * FROM v_inventory_summary"),
    QueryText("count", "SELECT COUNT(*) FROM inventory"),
    QueryText("select_columns",
      "SELECT id, name, quantity FROM inventory WHERE id < 50 ORDER BY id"),
    QueryText("group_by",
      "SELECT status, COUNT(*) AS n FROM orders GROUP BY status"),
    QueryText("aggregate",
      "SELECT SUM(quantity) AS q, MAX(updated_at) AS latest FROM inventory"),
    QueryText("where_clause",
      "SELECT id, ROUND(total, 0) AS t FROM orders WHERE customer_id = 7"),
    QueryText("order_by",
      "SELECT id, price * 1 AS p FROM inventory ORDER BY price DESC, id LIMIT 20"),
    QueryText("count", "SELECT COUNT(*) FROM orders WHERE status = 'F'"))

  /** Zipf(1) ranks over `n` items (rank k has weight 1/k), drawn along
    * a golden-ratio sequence from a seeded start: every prefix of the
    * stream holds close to the exact Zipf shares, so runs with different
    * seeds send the same mix in a different order.
    */
  final class Zipf(n: Int, seed: Long) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val start = new java.util.Random(seed).nextDouble()
    private val next = new java.util.concurrent.atomic.AtomicLong(0)
    private val phi = (math.sqrt(5) - 1) / 2

    def draw(): Int = {
      val u = (start + next.getAndIncrement() * phi) % 1.0
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** serve_adhoc: never-repeating texts over the same patterns and
    * tables, with wide results up to the row caps. Literals (key and
    * date ranges, LIMIT n, column subsets) come from `rnd`; every text
    * whose result can exceed its cap orders by a unique key first.
    */
  final class Adhoc(rnd: java.util.Random, sf: Double) {
    private val nOrders = math.max(20, (1500000 * sf).toInt)
    private val nCust = math.max(10, (150000 * sf).toInt)
    private val nPart = math.max(20, (200000 * sf).toInt)
    private val liCols = Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    private def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(math.max(1, hi - lo))
    private def day(offset: Int): String =
      java.time.LocalDate.of(1995, 1, 1).plusDays(offset.toLong).toString + " 00:00:00"
    private def subset(cols: Seq[String]): String = {
      val k = between(2, cols.length + 1)
      scala.util.Random.javaRandomToRandom(rnd).shuffle(cols).take(k).mkString(", ")
    }

    def next(): QueryText = rnd.nextInt(8) match {
      case 0 =>
        val n = between(1000, 10001)
        val a = between(0, math.max(1, nOrders - n))
        QueryText("select_all", s"SELECT * FROM lineitem WHERE l_orderkey BETWEEN $a AND " +
          s"${a + n / 3} ORDER BY l_orderkey, l_linenumber LIMIT $n")
      case 1 =>
        val a = between(0, nPart)
        QueryText("select_columns", s"SELECT l_orderkey, l_linenumber, ${subset(liCols)} " +
          s"FROM lineitem WHERE l_partkey BETWEEN $a AND ${a + between(50, 400)} " +
          "ORDER BY l_orderkey, l_linenumber")
      case 2 =>
        QueryText("count", s"SELECT COUNT(*) FROM lineitem WHERE l_shipdate >= " +
          s"TIMESTAMP '${day(between(0, 2400))}' AND l_quantity < ${between(2, 50)}")
      case 3 =>
        val a = between(0, nOrders)
        QueryText("aggregate", s"SELECT SUM(l_extendedprice) AS s, AVG(l_discount) AS d, " +
          s"COUNT(*) AS n FROM lineitem WHERE l_orderkey BETWEEN $a AND ${a + between(100, 20000)}")
      case 4 =>
        val a = between(0, nCust)
        QueryText("group_by", "SELECT o_custkey, COUNT(*) AS n, MAX(o_totalprice) AS top " +
          s"FROM orders GROUP BY o_custkey HAVING o_custkey BETWEEN $a AND " +
          s"${a + between(500, 6000)} ORDER BY o_custkey")
      case 5 =>
        val d = between(0, 2300)
        QueryText("where_clause", "SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 1) AS total, " +
          s"o_orderdate FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '${day(d)}' AND " +
          s"TIMESTAMP '${day(d + between(5, 80))}' ORDER BY o_orderkey")
      case 6 =>
        QueryText("order_by", s"SELECT c_custkey, ${subset(Seq("c_name", "c_nationkey",
          "c_mktsegment"))}, c_acctbal + 0 AS bal FROM customer ORDER BY c_acctbal DESC, " +
          s"c_custkey LIMIT ${between(100, 5001)}")
      case _ =>
        val (table, cols) = if (rnd.nextBoolean())
          ("part", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"))
        else ("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        QueryText("limit", s"SELECT ${subset(cols)}, ${between(1, 1000)} + 0 AS tag " +
          s"FROM $table LIMIT ${between(1000, 10001)}")
    }
  }

  /** Fail fast if a text would be refused or classified under another
    * pattern than intended: the mix must reach each pattern it names.
    */
  def checkPatterns(texts: Iterable[QueryText]): Unit = texts.foreach { t =>
    val v = QueryValidator.validate(QuerySanitizer.sanitize(t.sql))
    require(v.valid && v.pattern.contains(t.pattern),
      s"query mix text classified as ${v.pattern.getOrElse(v.error.getOrElse("?"))}, " +
        s"meant as ${t.pattern}: ${t.sql}")
  }
}
