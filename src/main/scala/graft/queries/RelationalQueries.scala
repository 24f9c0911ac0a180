package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Tables.fanOut
import Q._

/** The relational query surface from SURVEY.md §2.3–§2.8: the eight
  * whitelist shapes (Q1–Q8, shared/schemas/query_whitelist.json:3-50)
  * plus everything the reference's prefix-match validator de facto
  * admits (joins, windows, subqueries, HAVING, DISTINCT, CASE, set ops
  * — SURVEY.md §2.3 "critical semantic finding").
  *
  * Implementations are DataFrame-API (declarative → Catalyst handles
  * pushdown/pruning/join selection); every query carries a DuckDB
  * oracle. All queries end with a deterministic ORDER BY so results are
  * stable under any row-comparison policy.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val all: Seq[Q] = Seq(

    // ── whitelist shapes Q1–Q8 (query_whitelist.json:3-50) ──────────────
    // ORDER BY must be TOTAL over the projected columns when a LIMIT
    // cutoff can land inside a tie group: (l_orderkey, l_linenumber)
    // is NOT unique in the driver data, and a boundary tie lets each
    // engine keep a different member (caught at the local sf1 gate —
    // row sets diverged past position ~2155). Ordering by every
    // projected column makes boundary ties interchangeable rows, which
    // the set-compare is insensitive to.
    Q("q01_select_all",
      (s, d) => t(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate").limit(10000),
      Some("""SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber,
              l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
              l_tax, l_returnflag, l_linestatus, l_shipdate LIMIT 10000""")),

    Q("q02_select_columns",
      (s, d) => t(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
          "l_extendedprice")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .limit(10000),
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
              FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey,
              l_quantity, l_extendedprice LIMIT 10000""")),

    Q("q03_count",
      (s, d) => t(s, d, "lineitem").agg(count(lit(1)).as("n")),
      Some("SELECT COUNT(*) AS n FROM lineitem")),

    Q("q04_agg_scalar",
      (s, d) => t(s, d, "lineitem").agg(
        dsum(col("l_quantity")).as("sum_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n")),
      Some(s"""SELECT ${oSum("l_quantity")} AS sum_qty, ${oAvg("l_extendedprice")} AS avg_price,
               MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price, COUNT(*) AS n
               FROM lineitem""")),

    // TPC-H Q1-shaped pricing summary (group_by whitelist shape).
    // fanOut (round 18): the 8-measure decimal partial aggregate was
    // fused into the single-row-group scan — one task owned the whole
    // entry (measured 2.5 s task, 31 cores idle). Hash fan-out on
    // l_orderkey parallelizes it; no-op at production scan widths.
    Q("q05_groupby_pricing",
      (s, d) => fanOut(t(s, d, "lineitem"), "l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6)).cast("double").as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
               ${oSum("l_quantity")} AS sum_qty,
               ${oSum("l_extendedprice")} AS sum_base_price,
               ${oSum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
               ${oSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
               ${oAvg("l_quantity")} AS avg_qty,
               ${oAvg("l_extendedprice")} AS avg_price,
               ${oAvg("l_discount")} AS avg_disc,
               COUNT(*) AS count_order
               FROM lineitem GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    // TPC-H Q6-shaped filter + scalar agg (where_clause shape).
    Q("q06_where_filter",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
          && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice") * col("l_discount"), 4))
          .cast("double").as("revenue"),
          count(lit(1)).as("n")),
      Some(s"""SELECT ${oSum("l_extendedprice * l_discount", 4)} AS revenue, COUNT(*) AS n
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                 AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
      headline = true),

    Q("q07_order_by",
      (s, d) => t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    Q("q08_limit",
      (s, d) => t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").limit(500),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 500")),

    // ── de-facto-admitted surface (SURVEY §2.3 corollaries) ─────────────
    Q("q09_distinct",
      (s, d) => t(s, d, "customer").select("c_mktsegment")
        .distinct().orderBy("c_mktsegment"),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    Q("q10_having",
      (s, d) => t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))
        .filter(col("n_items") >= 6)
        .orderBy("l_orderkey"),
      Some(s"""SELECT l_orderkey, COUNT(*) AS n_items, ${oSum("l_quantity")} AS qty
               FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 6
               ORDER BY l_orderkey""")),

    Q("q11_case_expr",
      (s, d) => t(s, d, "lineitem")
        .withColumn("bucket",
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid").otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("bucket"),
      Some(s"""SELECT CASE WHEN l_quantity < 10 THEN 'low'
                           WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket,
               COUNT(*) AS n, ${oSum("l_quantity")} AS qty
               FROM lineitem GROUP BY 1 ORDER BY bucket""")),

    // ── joins (SURVEY §2.4 — admitted via passthrough; Spark-native) ────
    Q("q12_join_agg",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("rev"))
        .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${oSum("o_totalprice")} AS rev
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      headline = true),

    // TPC-H Q3-shaped: 3-way join, filter, grouped revenue, top-10.
    Q("q13_join3_topk",
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        val l = t(s, d, "lineitem")
          .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate")
          .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate,
               ${oSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
               FROM lineitem
               JOIN orders   ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               WHERE c_mktsegment = 'BUILDING'
                 AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                 AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
               GROUP BY l_orderkey, o_orderdate
               ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      headline = true),

    Q("q14_join_left",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey, c_name ORDER BY c_custkey""")),

    Q("q15_join_semi",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey""")),

    Q("q16_join_anti",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
              ORDER BY c_custkey""")),

    // Dimension join chain: region/nation are tiny at any scale →
    // explicit broadcast keeps this shuffle-free on the dim side.
    Q("q17_join_dims",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
        .orderBy("r_name", "n_name"),
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n, ${oSum("o_totalprice")} AS rev
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               JOIN region   ON n_regionkey = r_regionkey
               GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      headline = true),

    // ── window functions (§2.6) ─────────────────────────────────────────
    Q("q18_window_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders) WHERE rn <= 3
              ORDER BY o_custkey, rn""")),

    Q("q19_window_running",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events").filter(col("user_id") < 50)
          .withColumn("running", sum(dec(col("value"), 2)).over(w).cast("double"))
          .select("event_id", "user_id", "value", "running")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id, value,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
              FROM events WHERE user_id < 50
              ORDER BY user_id, event_id""")),

    // ── subqueries ──────────────────────────────────────────────────────
    Q("q20_subquery_in",
      (s, d) => {
        val rich = t(s, d, "customer").filter(col("c_acctbal") > 9000)
          .select("c_custkey")
        t(s, d, "orders")
          .join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
          .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
              ORDER BY o_orderkey""")),

    Q("q21_subquery_scalar",
      (s, d) => {
        val li = t(s, d, "lineitem")
        // Scalar subquery: one exact-decimal aggregate, then a pushed filter.
        val thr = li.agg(davg(col("l_quantity")).as("thr")).first().getDouble(0)
        li.filter(col("l_quantity") > thr)
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
               WHERE l_quantity > (SELECT ${oAvg("l_quantity")} FROM lineitem)
               ORDER BY l_orderkey, l_linenumber""")),

    // ── set operations (§2.7 — engine capability; serving layer may
    //    still block UNION per the reference's policy) ───────────────────
    Q("q22_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              INTERSECT
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              ORDER BY o_custkey""")),

    Q("q23_except",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              EXCEPT
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
              ORDER BY o_custkey""")),

    // ── scalar functions (§2.8) ─────────────────────────────────────────
    Q("q24_string_funcs",
      (s, d) => t(s, d, "part")
        .filter(col("p_name").like("%a%"))
        .withColumn("pfx", upper(substring(col("p_name"), 1, 3)))
        .groupBy("pfx")
        .agg(count(lit(1)).as("n"),
          min(length(col("p_name"))).cast("long").as("min_len"),
          max(length(col("p_name"))).cast("long").as("max_len"))
        .orderBy("pfx"),
      Some("""SELECT UPPER(SUBSTRING(p_name, 1, 3)) AS pfx, COUNT(*) AS n,
                CAST(MIN(LENGTH(p_name)) AS BIGINT) AS min_len,
                CAST(MAX(LENGTH(p_name)) AS BIGINT) AS max_len
              FROM part WHERE p_name LIKE '%a%'
              GROUP BY 1 ORDER BY pfx""")),

    Q("q25_date_funcs",
      (s, d) => t(s, d, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .withColumn("m", month(col("o_orderdate")))
        .groupBy("y", "m")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
        .orderBy("y", "m"),
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS y,
                 CAST(MONTH(o_orderdate) AS INTEGER) AS m,
                 COUNT(*) AS n, ${oSum("o_totalprice")} AS rev
               FROM orders GROUP BY 1, 2 ORDER BY y, m""")),

    // ── the reference's built-in view (K3: v_inventory_summary,
    //    etl-service/src/sync.py:105-114), mapped onto lineitem ─────────
    // fanOut (round 18): five-measure decimal aggregate fused into the
    // single-task scan — see Tables.fanOut.
    Q("q26_summary_view",
      (s, d) => fanOut(t(s, d, "lineitem"), "l_orderkey").agg(
        count(lit(1)).as("total_items"),
        dsum(col("l_quantity")).as("total_quantity"),
        davg(col("l_extendedprice")).as("avg_price"),
        min(col("l_shipdate")).as("oldest_update"),
        max(col("l_shipdate")).as("latest_update")),
      Some(s"""SELECT COUNT(*) AS total_items, ${oSum("l_quantity")} AS total_quantity,
               ${oAvg("l_extendedprice")} AS avg_price,
               MIN(l_shipdate) AS oldest_update, MAX(l_shipdate) AS latest_update
               FROM lineitem""")),

    // ── incremental-scan semantics (S2/T3: updated_at > watermark,
    //    etl-service/src/database.py:79-85), on the events stream ───────
    Q("q27_incremental_scan",
      (s, d) => t(s, d, "events")
        .filter(col("ts") > to_timestamp(lit("2024-01-15 00:00:00")))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, value FROM events
              WHERE ts > TIMESTAMP '2024-01-15 00:00:00' ORDER BY event_id""")),

    // S3: scalar watermark probe (MAX(updated_at), database.py:57-63).
    Q("q28_watermark_probe",
      (s, d) => t(s, d, "events")
        .agg(date_trunc("second", max(col("ts"))).as("wm")),
      Some("SELECT date_trunc('second', MAX(ts)) AS wm FROM events")),

    // Tumbling-window batch aggregation over the event stream (§2.9 T5).
    Q("q29_events_hourly",
      (s, d) => t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy("h", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n, ${oSum("value")} AS v
               FROM events GROUP BY 1, 2 ORDER BY h, event_type"""),
      headline = true),

    // the STREAMING engine through the driver's differential gate:
    // the same hourly aggregation as q29, executed by Structured
    // Streaming (file source → incremental micro-batch state →
    // memory sink) and compared against the batch DuckDB oracle —
    // stream ≡ batch ≡ oracle, not just spec-asserted
    Q("t01_stream_hourly",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        val ev = graft.streaming.EventStream.readEvents(s, d,
          glob = Some("events.parquet"))
        val agg = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        graft.streaming.EventStream.runToMemory(agg,
          "t01_stream_hourly_sink", OutputMode.Complete())
        s.table("t01_stream_hourly_sink").orderBy("h", "event_type")
      },
      Some(s"""SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n, ${oSum("value")} AS v
               FROM events GROUP BY 1, 2 ORDER BY h, event_type""")),

    // the streaming engine's STATEFUL session operator through the
    // gate: session_window merges events closer than the 30 min gap
    // into [first_ts, last_ts + gap) state incrementally; the oracle
    // reconstructs the identical sessions with gaps-and-islands SQL —
    // streaming session state ≡ batch window algebra, hash-checked
    Q("t02_stream_sessions",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        val ev = graft.streaming.EventStream.readEvents(s, d,
          glob = Some("events.parquet"))
        val agg = ev
          .groupBy(session_window(col("ts"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("v"))
          .select(col("w.start").as("session_start"),
            col("w.end").as("session_end"), col("user_id"),
            col("n_events"), col("v"))
        graft.streaming.EventStream.runToMemory(agg,
          "t02_stream_sessions_sink", OutputMode.Complete())
        s.table("t02_stream_sessions_sink")
          .orderBy("user_id", "session_start")
      },
      Some(s"""WITH x AS (
                 SELECT user_id, ts, value, event_id,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
                 FROM events),
               sess AS (
                 SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM x)
               SELECT MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                 user_id, COUNT(*) AS n_events, ${oSum("value")} AS v
               FROM sess GROUP BY user_id, sid
               ORDER BY user_id, session_start""")),

    // streaming dedup through the gate: dropDuplicatesWithinWatermark
    // keeps the first arrival per key (WHICH row wins is scheduling-
    // dependent, so only the key columns are emitted — the distinct
    // key SET is deterministic and equals batch DISTINCT).
    // Replay contract for this and t04: the file source reads the one
    // events file in ONE micro-batch (no maxFilesPerTrigger is set),
    // so the watermark never advances mid-replay and state never
    // evicts; a multi-batch replay could legitimately re-emit a key
    // whose duplicates arrive >1h of event time apart — correct
    // streaming semantics, but a different answer than batch DISTINCT.
    Q("t03_stream_dedup",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        val ev = graft.streaming.EventStream.readEvents(s, d,
          glob = Some("events.parquet"))
        val dd = graft.streaming.EventStream
          .dedupStream(ev, Seq("user_id", "event_type"), lateness = "1 hour")
          .select("user_id", "event_type")
        graft.streaming.EventStream.runToMemory(dd,
          "t03_stream_dedup_sink", OutputMode.Append())
        s.table("t03_stream_dedup_sink").orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // arbitrary stateful processing (flatMapGroupsWithState) through
    // the gate: per-user running profile with every field a pure
    // function of the event set (sorted fold, integer-cent totals) —
    // custom streaming state ≡ batch aggregation, hash-checked
    Q("t04_stream_profiles",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        import s.implicits._
        val ev = graft.streaming.EventStream.readEvents(s, d,
          glob = Some("events.parquet"))
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStream.ProfiledEvent]
        val prof = graft.streaming.EventStream.userActivity(ev)
        graft.streaming.EventStream.runToMemory(prof.toDF(),
          "t04_stream_profiles_sink", OutputMode.Append())
        s.table("t04_stream_profiles_sink").orderBy("user_id")
      },
      // the composite arg_max key reproduces the streaming
      // (ts_us, event_id) lexicographic tie-break ONLY while
      // 0 <= event_id < 1e10 — the CASE makes a violating generator
      // fail the oracle loudly (DuckDB error()) instead of silently
      // reordering the key
      Some(s"""SELECT user_id, COUNT(*) AS n_events, ${oSum("value")} AS v,
               epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us,
               arg_max(event_type,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000000 +
                 CASE WHEN event_id >= 0 AND event_id < 10000000000
                      THEN event_id
                      ELSE error('event_id outside [0, 1e10) breaks the composite arg_max key') END)
                 AS last_type
               FROM events GROUP BY user_id ORDER BY user_id""")),

    // stream-stream INTERVAL JOIN through the gate: purchases joined
    // to same-user clicks of the preceding hour (attribution shape) —
    // watermarks on both sides bound the join state; the single-batch
    // replay emits the complete deterministic match multiset, which
    // equals the batch range-join the oracle runs
    Q("t05_stream_interval_join",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        def typed(et: String) = graft.streaming.EventStream
          .readEvents(s, d, glob = Some("events.parquet"))
          .filter(col("event_type") === et)
        val joined = graft.streaming.EventStream.intervalJoin(
          typed("purchase"), typed("click"), "user_id", maxAge = "1 hour")
        graft.streaming.EventStream.runToMemory(joined,
          "t05_stream_interval_join_sink", OutputMode.Append())
        s.table("t05_stream_interval_join_sink")
          .orderBy("l_event_id", "r_event_id")
      },
      Some("""SELECT l.user_id, l.event_id AS l_event_id, l.ts AS l_ts,
                r.event_id AS r_event_id, r.ts AS r_ts
              FROM events l JOIN events r
                ON l.user_id = r.user_id
                AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
              WHERE l.event_type = 'purchase' AND r.event_type = 'click'
              ORDER BY l_event_id, r_event_id""")),

    // SLIDING windows through the gate — the multi-assignment
    // semantics tumbling t01 doesn't exercise: every event lands in
    // window_len/slide windows, incrementally maintained per window
    // state. The oracle reproduces the assignment by unnesting the
    // slide offsets (an event at ts belongs to starts
    // {trunc(ts,1h), trunc(ts,1h)−1h} for a 2h/1h window).
    Q("t07_stream_sliding_windows",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        val ev = graft.streaming.EventStream.readEvents(s, d,
          glob = Some("events.parquet"))
        val agg = graft.streaming.EventStream.windowedAgg(
          ev, "2 hours", slide = Some("1 hour"))
          .select(col("window_start"), col("window_end"),
            col("event_type"), col("n"))
        graft.streaming.EventStream.runToMemory(agg,
          "t07_stream_sliding_windows_sink", OutputMode.Complete())
        s.table("t07_stream_sliding_windows_sink")
          .orderBy("window_start", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) - to_hours(k) AS window_start,
                date_trunc('hour', ts) - to_hours(k) + INTERVAL 2 HOUR
                  AS window_end,
                event_type, COUNT(*) AS n
              FROM events, UNNEST([0, 1]) AS u(k)
              GROUP BY 1, 2, 3
              ORDER BY window_start, event_type""")),

    // Streaming sync → snapshot generations through the gate (the one
    // streaming component that was previously only spec-tested): a
    // bounded replay staged as N source files → N micro-batches → N
    // published generations. After the drain the foreachBatch body is
    // re-invoked with batch 0's id — exactly what a crash between
    // publish and checkpoint commit does on restart — and must no-op
    // (isBatchPublished guard); the union of every generation must
    // then equal the batch table EXACTLY once. A double-publish or a
    // dropped batch breaks n/v/u against the oracle.
    Q("t08_stream_snapshot_sync",
      (s0, d) => {
        val s = graft.streaming.EventStream.replaySession(s0)
        // scratch on tmpfs when the host has one (round 19, guide §6 —
        // the runToMemory checkpoint discipline extended to this
        // entry's whole scratch tree): the staging files, the snapshot
        // store's per-generation parquet + manifest swaps, and the
        // stream checkpoint's per-batch offset/commit fsyncs all lived
        // on disk-backed /tmp while every other t-entry already
        // checkpointed to tmpfs. 4 micro-batches × (publish + commit)
        // of fsync-bound protocol I/O is the entry's dominant
        // non-task wall (JobProbe: ~2 s outside any job).
        val tmp = java.nio.file.Files.createTempDirectory(
          graft.streaming.EventStream.scratchBase, "graft-t08").toString
        val stage = s"$tmp/stage"
        // stage ts as raw int64 nanos — the layout the streaming
        // source's schema (EventStream.rawSchema) declares
        graft.core.Tables.load(s, d, "events")
          .withColumn("ts", expr("unix_micros(ts) * 1000"))
          .repartition(4)
          .write.mode("overwrite").parquet(stage)
        val store = new graft.snapshot.SnapshotStore(s, s"$tmp/store")
        val ev = graft.streaming.EventStream.readEvents(s, stage,
          options = Map("maxFilesPerTrigger" -> "1"))
        graft.streaming.EventStream.streamToSnapshots(
          ev, store, "events", s"$tmp/ckpt").awaitTermination()
        // the at-least-once seam, driven directly: batch 0 again
        val writer = new graft.snapshot.SnapshotWriter(store)
        val replayed = graft.streaming.EventStream.publishBatchOnce(
          store, writer, "events",
          graft.core.Tables.load(s, d, "events").limit(1), 0L)
        require(!replayed, "replay guard failed: batch 0 double-published")
        val agg = store.listGenerations()
          .map(k => s.read.parquet(store.tableDir(k, "events").toString))
          .reduce(_.unionAll(_))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"),
            countDistinct(col("user_id")).as("u"))
          .orderBy("event_type")
        // eager-checkpoint the metadata-scale result (|event types|
        // rows) so the tmpfs scratch tree can be deleted HERE instead
        // of leaking one store per draw into RAM (the returned frame
        // otherwise lazily reads the store's parquet) — the d12
        // managed-release discipline applied to this entry
        val out = agg.localCheckpoint(true)
        try org.apache.spark.network.util.JavaUtils
          .deleteRecursively(new java.io.File(tmp))
        catch { case scala.util.control.NonFatal(_) => () }
        out
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${oSum("value")} AS v,
               COUNT(DISTINCT user_id) AS u
               FROM events GROUP BY 1 ORDER BY event_type""")),

    // LEFT OUTER stream-stream join — the delayed-null-emission
    // semantics t05's inner form doesn't exercise: matches emit
    // immediately, but an unmatched purchase emits its null row only
    // once the watermark proves no qualifying click can still arrive.
    // A bounded replay therefore only settles left rows the final
    // watermark has evicted — and Spark's left-state eviction is
    // CONSERVATIVE: an unmatched left emits its null row once
    // l_ts < wm − maxAge (it holds left state for the full join
    // window even though r_ts ≤ l_ts makes matches impossible past
    // wm ≥ l_ts; verified empirically — a row 20 min from the end
    // stayed pending). The gate restricts BOTH engines to
    // l_ts ≤ max ts − 80 min (lateness 10 + maxAge 60 + margin) so
    // every compared row is provably settled — anchored to the LESSER
    // of the two sides' max event times, because the query watermark
    // is the minimum over both streams and the right stream only sees
    // clicks (at sparse SFs the last click can trail the last event
    // by hours). The post-sink filter (not a pre-join one) keeps the
    // streaming query identical to production shape.
    Q("t06_stream_interval_join_outer",
      (s0, d) => {
        import org.apache.spark.sql.streaming.OutputMode
        val s = graft.streaming.EventStream.replaySession(s0)
        def typed(et: String) = graft.streaming.EventStream
          .readEvents(s, d, glob = Some("events.parquet"))
          .filter(col("event_type") === et)
        val joined = graft.streaming.EventStream.intervalJoin(
          typed("purchase"), typed("click"), "user_id",
          maxAge = "1 hour", joinType = "leftOuter")
        graft.streaming.EventStream.runToMemory(joined,
          "t06_stream_interval_join_outer_sink", OutputMode.Append())
        // exact microsecond arithmetic (Timestamp.getTime truncates
        // micros); least over the per-side maxima = the final
        // watermark's anchor
        val ev = graft.core.Tables.load(s0, d, "events")
        def sideMaxUs(et: String): Long = {
          val row = ev.filter(col("event_type") === et)
            .agg(max(unix_micros(col("ts")))).first()
          // a side with zero events yields a null MAX — fail with a
          // clear gate error instead of an opaque NPE
          require(!row.isNullAt(0),
            s"t06: no '$et' events in $d — interval join has an empty side")
          row.getLong(0)
        }
        val wmAnchorUs = math.min(sideMaxUs("purchase"), sideMaxUs("click"))
        s.table("t06_stream_interval_join_outer_sink")
          .filter(unix_micros(col("l_ts")) <=
            lit(wmAnchorUs - 80L * 60 * 1000000))
          .orderBy(col("l_event_id"),
            col("r_event_id").asc_nulls_first)
      },
      Some("""SELECT l.user_id, l.event_id AS l_event_id, l.ts AS l_ts,
                r.event_id AS r_event_id, r.ts AS r_ts
              FROM events l LEFT JOIN events r
                ON l.user_id = r.user_id AND r.event_type = 'click'
                AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
              WHERE l.event_type = 'purchase'
                AND l.ts <= (SELECT LEAST(
                      (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
                      (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
                    ) - INTERVAL 80 MINUTE
              ORDER BY l_event_id, r_event_id NULLS FIRST""")),

    // Semi-structured props extraction (regex — identical RE subset).
    Q("q30_regex_extract",
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k"))
        .orderBy("event_id").limit(5000),
      Some("""SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
              FROM events ORDER BY event_id LIMIT 5000""")),

    // ROLLUP + explicit null ordering (dialect parity: Spark ASC default
    // is NULLS FIRST, DuckDB's is NULLS LAST → always explicit).
    Q("q31_rollup",
      (s, d) => t(s, d, "customer")
        .rollup("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"))
        .orderBy(col("c_mktsegment").asc_nulls_first),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${oSum("c_acctbal")} AS bal
               FROM customer GROUP BY ROLLUP(c_mktsegment)
               ORDER BY c_mktsegment NULLS FIRST"""))
  )
}
