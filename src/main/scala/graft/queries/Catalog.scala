package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The operator catalog: every entry is one SURVEY §2 operator (or
  * training-data-pipeline extension) expressed Spark-first, with an ANSI-SQL
  * oracle the driver replays in DuckDB over the same parquet tables.
  *
  * Conventions for oracle parity:
  *  - derived doubles go through rnd()/sqlRnd() in BOTH engines;
  *  - integer sums are `CAST(... AS BIGINT)` in DuckDB (it widens to
  *    HUGEINT by default, which would be a schema mismatch);
  *  - timestamps are emitted as formatted strings or epoch integers, never
  *    raw (parquet ns vs µs precision differs between engines);
  *  - every query ends in a deterministic total-order sort.
  */
object Catalog {
  type Q = (SparkSession, String) => DataFrame
  /** A query's DuckDB replay SQL over the tables in `sfDir`. */
  type Oracle = (SparkSession, String) => String

  private def tbl(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Cross-engine-stable rounding: floor(x·10^k + 0.5)/10^k in pure IEEE
    * ops, which Spark and DuckDB evaluate bit-identically. Spark's round()
    * rounds the shortest-decimal-repr (java BigDecimal.valueOf) while
    * DuckDB rounds the binary value — they disagree whenever a result's
    * shortest repr lands exactly on the half grid (e.g. 0.37925). Only for
    * non-negative derived values; raw stored columns are never rounded.
    */
  def rnd(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column = {
    val p = math.pow(10, scale)
    floor(c * p + lit(0.5)) / p
  }

  /** SQL form of [[rnd]] for the DuckDB oracle. */
  def sqlRnd(x: String, scale: Int): String = {
    val p = "1" + ("0" * scale)
    s"floor(($x) * $p + 0.5) / $p.0"
  }

  /** events with `ts` as a µs timestamp. [[Tables.eventsMicros]] dispatches
    * on the parquet physical type (legacy nanos-as-long vs native µs), so
    * both testdata generations land on the same µs instants DuckDB sees.
    */
  private def events(s: SparkSession, d: String) =
    Tables.eventsMicros(s, d).withColumn("ts", timestamp_micros(col("ts")))

  // =========================================================================
  // Relational pack — scans, filters, joins, aggs, windows, set ops
  // (SURVEY §2.2 P1-P7, §2.3 J1-J5, §2.4 A1-A7, §2.5 W1-W8, §2.6 U1-U3)
  // =========================================================================

  /** A2/A3/A4-style grouped aggregation (pricing-summary shape). Partial
    * aggregation (map-side combine) is automatic; the only shuffle is the
    * final 6-group exchange.
    */
  val q01PricingSummary: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        rnd(sum(col("l_quantity")), 2).as("sum_qty"),
        rnd(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        rnd(avg(col("l_quantity")), 4).as("avg_qty"),
        rnd(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS sum_disc_price,
       floor((avg(l_quantity)) * 10000 + 0.5) / 10000.0 AS avg_qty,
       floor((avg(l_discount)) * 10000 + 0.5) / 10000.0 AS avg_disc,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** P1/P2/P3: selective filter + narrow projection. `.explain` shows
    * PushedFilters + 5-column ReadSchema at the parquet scan.
    */
  val q02FilterPushdown: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .filter(
        col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-06-01 00:00:00")) &&
        col("l_returnflag") === "R" &&
        col("l_quantity") <= 10)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1996-06-01 00:00:00'
         AND l_returnflag = 'R' AND l_quantity <= 10
       ORDER BY l_orderkey, l_linenumber"""

  /** J: five-way star join. Dims (region, nation) are broadcast — no
    * shuffle on the big fact side beyond the orders⋈lineitem exchange;
    * AQE re-plans customer⋈orders if one side is small at runtime.
    */
  val q03RegionalRevenue: Q = (s, d) => {
    val region = tbl(s, d, "region")
    val nation = tbl(s, d, "nation")
    val customer = tbl(s, d, "customer")
    val orders = tbl(s, d, "orders")
    val lineitem = tbl(s, d, "lineitem")
    // r18 (verdict #9): pre-aggregate lineitem revenue PER ORDER before
    // any join — the exchange lands on l_orderkey, the key the first join
    // needs anyway, and everything downstream flows at order grain
    // (~4× fewer rows through the custkey exchange). countDistinct
    // (which planned as an extra corpus-grain exchange on
    // (r_name, n_name, o_orderkey)) becomes a plain count: after the
    // pre-agg each surviving order is exactly one row. Value-identical:
    // sum of per-order sums = the total sum (double rounding to 2dp is
    // robust to the re-association — oracle hash-checked at both SFs),
    // and inner-joining orders keeps exactly the orders with lineitems.
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("o_rev"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        rnd(sum(col("o_rev")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q03Sql =
    """SELECT r_name, n_name,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name
       ORDER BY r_name, n_name"""

  /** W1: per-group top-k via ranking window (the batch form of the
    * reference's KNN `limit=k`, SURVEY §2.5 W1).
    */
  val q04TopOrdersPerCustomer: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, d, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("o_totalprice").as("totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q04Sql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice AS totalprice
       FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) t
       WHERE rn <= 3
       ORDER BY o_custkey, rn"""

  /** W3/W4: global top-k — Catalyst executes orderBy+limit as
    * TakeOrderedAndProject (per-partition heap + merge), never a full sort.
    */
  val q05GlobalTopOrders: Q = (s, d) =>
    tbl(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("totalprice"),
        col("o_orderpriority"))

  private val q05Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice AS totalprice, o_orderpriority
       FROM orders
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 100"""

  /** J5-style existence: customers with no orders since 2000 (left-anti
    * join over a pushed-down date filter).
    */
  val q06CustomersWithoutOrders: Q = (s, d) =>
    tbl(s, d, "customer")
      .join(
        tbl(s, d, "orders")
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  private val q06Sql =
    """SELECT c_custkey, c_name, c_mktsegment
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       ORDER BY c_custkey"""

  /** U2: key-dedupe (keep-first semantics by min event id), the scalable
    * form of the reference's in-run seen-set (ingest_dropzone.py:475-479).
    */
  val q07DedupeEvents: Q = (s, d) =>
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("user_id"), col("event_type"))

  private val q07Sql =
    """SELECT user_id, event_type,
       CAST(min(event_id) AS BIGINT) AS first_event_id,
       count(*) AS n_occurrences
       FROM events
       GROUP BY user_id, event_type
       ORDER BY user_id, event_type"""

  /** A2+A3 as one pass: per-kind counts + grand total via rollup
    * (the reference runs N filtered counts, status.py:112-117).
    */
  val q08RollupEvents: Q = (s, d) =>
    events(s, d)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("value")), 2).as("total_value"))
      .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("event_type"))

  private val q08Sql =
    """SELECT coalesce(event_type, '<all>') AS event_type,
       count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100.0 AS total_value
       FROM events
       GROUP BY ROLLUP(event_type)
       ORDER BY event_type"""

  /** A6: exact percentiles (reference computes p50/p95 eval latencies,
    * ask_eval.py:109-127).
    */
  val q09Percentiles: Q = (s, d) =>
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        rnd(expr("percentile(value, 0.5)"), 4).as("p50"),
        rnd(expr("percentile(value, 0.95)"), 4).as("p95"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  private val q09Sql =
    """SELECT event_type,
       floor((quantile_cont(value, 0.5)) * 10000 + 0.5) / 10000.0 AS p50,
       floor((quantile_cont(value, 0.95)) * 10000 + 0.5) / 10000.0 AS p95,
       min(value) AS min_value,
       max(value) AS max_value
       FROM events
       GROUP BY event_type
       ORDER BY event_type"""

  /** P3+F7: time-range predicate + per-day aggregation (the reference's
    * `meta.ingested_at_ts` range filters, search.py:91-103).
    */
  val q10DailyActivity: Q = (s, d) =>
    events(s, d)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("value")), 2).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"), col("event_type"))

  private val q10Sql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100.0 AS total_value,
       count(DISTINCT user_id) AS n_users
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY 1, 2
       ORDER BY day, event_type"""

  /** A1/U3: per-group roll-up with a sorted distinct-set column (the
    * reference's /documents listing: set(kinds), set(paths), counts —
    * documents.py:19-102).
    */
  val q11DocRollup: Q = (s, d) =>
    tbl(s, d, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        rnd(avg(col("n_chars")), 2).as("avg_chars"),
        array_join(sort_array(collect_set(col("source"))), ",").as("sources"))
      .orderBy(col("lang"))

  private val q11Sql =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       floor((avg(n_chars)) * 100 + 0.5) / 100.0 AS avg_chars,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
       FROM documents
       GROUP BY lang
       ORDER BY lang"""

  /** J1: two-source full-outer merge keyed by id with coalesced output
    * (the reference merges chunk- and image-collection aggregates,
    * documents.py:147-161).
    */
  val q12FullOuterMerge: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
      .filter(col("lang").isin("en", "de"))
      .select(col("doc_id"), col("n_chars"))
    val emb = tbl(s, d, "embeddings")
      .filter(col("label") > 2)
      .select(col("vec_id"), col("label"))
    docs.join(emb, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("key"),
        when(col("doc_id").isNull, 0).otherwise(1).as("has_doc"),
        when(col("vec_id").isNull, 0).otherwise(1).as("has_vec"),
        col("n_chars"), col("label"))
      .orderBy(col("key"))
  }

  private val q12Sql =
    """SELECT coalesce(d.doc_id, e.vec_id) AS key,
       CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS has_doc,
       CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS has_vec,
       d.n_chars, e.label
       FROM (SELECT doc_id, n_chars FROM documents WHERE lang IN ('en','de')) d
       FULL OUTER JOIN (SELECT vec_id, label FROM embeddings WHERE label > 2) e
         ON d.doc_id = e.vec_id
       ORDER BY key"""

  // =========================================================================
  // Registry
  // =========================================================================

  val queries: ListMap[String, Q] = ListMap(
    "q01_pricing_summary" -> q01PricingSummary,
    "q02_filter_pushdown" -> q02FilterPushdown,
    "q03_regional_revenue" -> q03RegionalRevenue,
    "q04_top_orders_per_customer" -> q04TopOrdersPerCustomer,
    "q05_global_top_orders" -> q05GlobalTopOrders,
    "q06_customers_without_orders" -> q06CustomersWithoutOrders,
    "q07_dedupe_events" -> q07DedupeEvents,
    "q08_rollup_events" -> q08RollupEvents,
    "q09_percentiles" -> q09Percentiles,
    "q10_daily_activity" -> q10DailyActivity,
    "q11_doc_rollup" -> q11DocRollup,
    "q12_full_outer_merge" -> q12FullOuterMerge,
  ) ++ PipelineCatalog.queries ++ IngestCatalog.queries

  /** Every query's oracle: the fixed SQL strings lifted once, plus the
    * entries that embed the trained literals their query serves.
    */
  val oracles: ListMap[String, Oracle] = (ListMap(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown" -> q02Sql,
    "q03_regional_revenue" -> q03Sql,
    "q04_top_orders_per_customer" -> q04Sql,
    "q05_global_top_orders" -> q05Sql,
    "q06_customers_without_orders" -> q06Sql,
    "q07_dedupe_events" -> q07Sql,
    "q08_rollup_events" -> q08Sql,
    "q09_percentiles" -> q09Sql,
    "q10_daily_activity" -> q10Sql,
    "q11_doc_rollup" -> q11Sql,
    "q12_full_outer_merge" -> q12Sql,
  ) ++ PipelineCatalog.fixedOracles ++ IngestCatalog.oracles).map {
    case (name, sql) => name -> ((_: SparkSession, _: String) => sql)
  } ++ PipelineCatalog.artifactOracles
}
