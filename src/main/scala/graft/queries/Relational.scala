package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.QueryDef

/** Core relational query surface: scans, filters, projections, joins,
  * aggregations, windows, sorts, set ops — the Spark re-expression of the
  * reference's record-table transforms (SURVEY.md §2.2–2.7).
  *
  * Every query is deterministic (explicit ORDER BY with a unique tiebreak,
  * exact decimal-backed double sums — see [[graft.Tables.dsum]]) so the
  * driver's DuckDB hash-compare is stable.
  *
  * Scale design: fact tables (`lineitem`, `orders`, `events`) are only ever
  * scanned with pushed filters/pruned columns; dimensions (`nation`,
  * `region`, `supplier`) are joined via explicit `broadcast` hints so no
  * plan here shuffles a dimension at 100 TB. Aggregations are plain
  * `groupBy` (partial/final hash agg, map-side combine for free).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: filter → groupBy → exact agg.
    * Covers SURVEY A4/A5 (counts, nested totals), P4 (column-pruned scan).
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      |CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
      |CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/COUNT(l_discount) AS avg_disc,
      |COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Star join: fact ⋈ broadcast dims, revenue rollup by region/nation.
    * Covers SURVEY J1 (dimension lookup as broadcast hash join).
    * At scale: `customer` is mid-sized (hash-shuffle join with orders on
    * custkey), `nation`/`region` broadcast — no dim ever shuffles.
    */
  def q2RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val o = orders(s, d).select("o_orderkey", "o_custkey")
    val c = customer(s, d).select("c_custkey", "c_nationkey")
    val n = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val r = region(s, d).select("r_regionkey", "r_name")
    rev
      .join(o, rev("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val q2Sql: String =
    """SELECT r_name, n_name,
      |CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      |JOIN customer ON o_custkey=c_custkey
      |JOIN nation ON c_nationkey=n_nationkey
      |JOIN region ON n_regionkey=r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Top-k by aggregate: SURVEY O2/O3 (argmax table pick, first-N). The
    * limit is pushed through the sort (TakeOrderedAndProject), so at scale
    * only k rows per partition ever reach the driver-side merge.
    */
  def q3TopOrders(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    rev.join(o, rev("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderkey"), col("revenue"), col("o_orderpriority"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT o_orderkey, revenue, o_orderpriority FROM (
      |SELECT l_orderkey,
      |CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem GROUP BY l_orderkey) r
      |JOIN orders ON l_orderkey=o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Multi-criteria filter + status tally: SURVEY P9 (isin conjunction),
    * A6 (success/failure tally). Filters push to the parquet scan.
    */
  def q4FilterTally(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus").isin("O", "F") &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM") &&
        col("o_totalprice") > 1000.0)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val q4Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderstatus IN ('O','F')
      |AND o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
      |AND o_totalprice > 1000.0
      |GROUP BY o_orderstatus, o_orderpriority ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** Q5 — correlated-subquery decorrelation: customers with at least
    * one URGENT order (correlated EXISTS) and no F-status order
    * (correlated NOT EXISTS), counted per market segment. Written in
    * the subquery form a user would write; Catalyst's subquery rewrite
    * turns the EXISTS into a LEFT SEMI join and the NOT EXISTS into a
    * LEFT ANTI join — the in-query require pins both join types in the
    * optimized plan and that no subquery expression survives, i.e. the
    * engine never executes a per-row probe. Declare-don't-schedule,
    * demonstrated on the one construct users most often assume is
    * per-row.
    *
    * Scale shape: per-row subquery execution is O(|outer|·|inner|)
    * scans at 100 TB; the decorrelated form is two hash joins that
    * shuffle each side once — the difference between impossible and
    * routine. Set-predicate semantics (not aggregation) so it
    * composes with any downstream shape.
    */
  def q5DecorrelatedExists(s: SparkSession, d: String): DataFrame = {
    val out = s.sql(
      s"""SELECT c.c_mktsegment AS segment, count(*) AS n,
         |  min(c.c_custkey) AS first_cust
         |FROM parquet.`$d/customer.parquet` c
         |WHERE EXISTS (
         |    SELECT 1 FROM parquet.`$d/orders.parquet` o
         |    WHERE o.o_custkey = c.c_custkey
         |      AND o.o_orderpriority = '1-URGENT')
         |  AND NOT EXISTS (
         |    SELECT 1 FROM parquet.`$d/orders.parquet` o2
         |    WHERE o2.o_custkey = c.c_custkey
         |      AND o2.o_orderstatus = 'F')
         |GROUP BY c.c_mktsegment
         |ORDER BY c.c_mktsegment""".stripMargin)
    val opt = out.queryExecution.optimizedPlan.toString
    require(opt.contains("LeftSemi") && opt.contains("LeftAnti") &&
      !opt.toLowerCase.contains("exists"),
      "q5: EXISTS/NOT EXISTS must decorrelate to semi/anti joins - a " +
        "surviving subquery expression means per-row probing")
    out
  }

  val q5Sql: String =
    """SELECT c.c_mktsegment AS segment, count(*) AS n,
      |  min(c.c_custkey) AS first_cust
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o2
      |    WHERE o2.o_custkey = c.c_custkey
      |      AND o2.o_orderstatus = 'F')
      |GROUP BY c.c_mktsegment
      |ORDER BY c.c_mktsegment""".stripMargin

  /** Equality row filter: SURVEY P6 (repeated-header-row drop re-expressed:
    * `Player != 'Player'` ≡ drop rows whose key equals a sentinel literal).
    */
  def p6HeaderRowFilter(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus") =!= "O")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")

  val p6Sql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderstatus <> 'O' ORDER BY o_orderkey""".stripMargin

  /** Regex exclusion filter: SURVEY P7 (live-game drop via rlike). */
  def p7PatternExclusion(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(!col("text").rlike("stream|dup|slow"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val p7Sql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE NOT regexp_matches(text, 'stream|dup|slow') ORDER BY doc_id""".stripMargin

  /** Keyword + length predicate: SURVEY P8/P10 (bounded length, keyword
    * containment, non-blank). */
  def p8KeywordLength(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(length(trim(col("text"))) >= 5 &&
        col("n_chars") > 30 && col("n_chars") < 500 &&
        col("text").rlike("(?i)(join|window|hash)"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  val p8Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE length(trim(text)) >= 5 AND n_chars > 30 AND n_chars < 500
      |AND regexp_matches(text, '(?i)(join|window|hash)') ORDER BY doc_id""".stripMargin

  /** Date parse/format round-trip: SURVEY F2 (`MM/dd/yyyy` re-format). */
  def f2DateReformat(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("order_date_us"),
        year(col("o_orderdate")).cast("int").as("order_year"))
      .orderBy("o_orderkey")

  val f2Sql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%m/%d/%Y') AS order_date_us,
      |CAST(year(o_orderdate) AS INT) AS order_year
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** md5 surrogate id: SURVEY F19 (12-hex-char deterministic row id). */
  def f19Md5Id(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        substring(md5(concat_ws("_", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))), 1, 12).as("row_id"))
      .orderBy("o_orderkey")

  val f19Sql: String =
    """SELECT o_orderkey, substr(md5(concat_ws('_', o_orderkey, o_custkey, o_orderstatus)), 1, 12) AS row_id
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Group-and-collect: SURVEY A2 (props accumulated per player) — here
    * events per user with their distinct event types. `collect_set` +
    * `sort_array` keeps the result order-insensitive (shuffle-safe).
    */
  def a2CollectPerKey(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        // The collected set is the operator under test; the verified
        // projection serializes it to CSV because the driver's comparator
        // (pandas sort_values) cannot hash raw array cells.
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"))
      .orderBy("user_id")

  val a2Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |COUNT(DISTINCT event_type) AS n_types,
      |array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Bucket categorization: SURVEY A3 (keyword market routing re-expressed
    * as a when/otherwise cascade) + grouped rollup.
    */
  def a3BucketCategorize(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .when(col("event_type") === "error", "failure")
          .otherwise("engagement"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("bucket")

  val a3Sql: String =
    """SELECT CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
      |WHEN event_type = 'error' THEN 'failure' ELSE 'engagement' END AS bucket,
      |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Argmax per group: SURVEY A7/O2 (max-by). Deterministic tiebreak via
    * (count desc, user_id asc) row_number — rank-stable across engines
    * because the ranking key is integral.
    */
  def a7ArgmaxPerGroup(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d).groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(desc("cnt"), col("user_id"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("user_id"), col("cnt"))
      .orderBy("event_type")
  }

  val a7Sql: String =
    """SELECT event_type, user_id, cnt FROM (
      |SELECT event_type, user_id, COUNT(*) AS cnt,
      |row_number() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) AS rn
      |FROM events GROUP BY event_type, user_id) t
      |WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Distinct-set validation via anti-join: SURVEY A8/O7 (missing-team
    * check re-expressed: nations with no high-balance supplier).
    */
  def a8MissingKeysAntiJoin(s: SparkSession, d: String): DataFrame = {
    val highSup = supplier(s, d).filter(col("s_acctbal") > 9000.0)
      .select(col("s_nationkey"))
    nation(s, d)
      .join(highSup, col("n_nationkey") === col("s_nationkey"), "left_anti")
      .select(col("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey")
  }

  val a8Sql: String =
    """SELECT n_nationkey, n_name FROM nation
      |WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_acctbal > 9000.0
      |AND s_nationkey = n_nationkey) ORDER BY n_nationkey""".stripMargin

  /** The expected event-type domain for a9's completeness grid — a
    * STATIC domain, mirroring the reference's fixed position×timeframe
    * grid (`DEFENSEVSPOSTION.PY:575-598`, a bounded 5×4). Deriving the
    * grid from a fact-side distinct (the pre-r13 shape) costs an extra
    * aggregation over the fact at 100 TB and, worse, can never report a
    * type that is MISSING ENTIRELY — the failure a completeness check
    * exists to catch (r12 verdict "what's wrong" #1).
    */
  private val EventTypeDomain =
    Seq("click", "error", "purchase", "signup", "view")

  /** Completeness cross-check: SURVEY A9 — expected (event_type × user)
    * grid cross-joined then anti-joined against combinations actually seen
    * in an early time slice; non-empty result = report of missing cells.
    * Types come from the static [[EventTypeDomain]]; users from a
    * distinct over the fact (linear, and there is no user dimension in
    * the corpus to prefer).
    */
  def a9CompletenessGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val types = EventTypeDomain.toDF("event_type")
    val users = ev.select(col("user_id")).distinct()
    val seen = ev
      .filter(col("ts") < lit("2024-01-01 00:30:00").cast("timestamp"))
      .select(col("event_type").as("seen_type"), col("user_id").as("seen_user"))
      .distinct()
    types.crossJoin(users)
      .join(seen,
        col("event_type") === col("seen_type") && col("user_id") === col("seen_user"),
        "left_anti")
      .orderBy("event_type", "user_id")
  }

  val a9Sql: String =
    """SELECT t.event_type, u.user_id
      |FROM (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view'))
      |  t(event_type)
      |CROSS JOIN (SELECT DISTINCT user_id FROM events) u
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events e
      |  WHERE e.ts < TIMESTAMP '2024-01-01 00:30:00'
      |  AND e.event_type = t.event_type AND e.user_id = u.user_id)
      |ORDER BY t.event_type, u.user_id""".stripMargin

  /** Union-by-name with provenance key: SURVEY O4/J3 (keyed dict merge →
    * key column + union). */
  def o4UnionByName(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(lit("customer").as("src"), col("c_name").as("name"))
    val p = supplier(s, d).select(lit("supplier").as("src"), col("s_name").as("name"))
    c.unionByName(p)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), min(col("name")).as("first_name"), max(col("name")).as("last_name"))
      .orderBy("src")
  }

  val o4Sql: String =
    """SELECT src, COUNT(*) AS n, MIN(name) AS first_name, MAX(name) AS last_name FROM (
      |SELECT 'customer' AS src, c_name AS name FROM customer
      |UNION ALL SELECT 'supplier' AS src, s_name AS name FROM supplier) t
      |GROUP BY src ORDER BY src""".stripMargin

  /** Prefix-key dedup: SURVEY O5/O6 (seen-set dedup by content prefix),
    * made deterministic: keep min(doc_id) per 40-char prefix.
    */
  def o5PrefixDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("k", substring(col("text"), 1, 40))
      .groupBy(col("k"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("k"), col("dup_count"))
      .orderBy("doc_id")

  val o5Sql: String =
    """SELECT MIN(doc_id) AS doc_id, substr(text,1,40) AS k, COUNT(*) AS dup_count
      |FROM documents GROUP BY substr(text,1,40) ORDER BY doc_id""".stripMargin

  /** Carry-forward window: SURVEY W1/S7 (stateful line scan → last
    * non-null over an ordered frame). The most recent signup event id is
    * attached to every subsequent event of the same user.
    */
  def w1CarryForward(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("last_signup_event",
        last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"), col("last_signup_event"))
      .orderBy("user_id", "event_id")
  }

  val w1Sql: String =
    """SELECT user_id, event_id, event_type,
      |last_value(CASE WHEN event_type='signup' THEN event_id END IGNORE NULLS)
      |  OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_event
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** W5 — time-series gap fill / daily resample: every user's event
    * stream becomes a CONTINUOUS daily series between their first and
    * last active day — observed days carry the day's exact total,
    * gap days carry the last observed total forward with an is_filled
    * marker. The standard resample-to-grid shape feature pipelines and
    * monitoring run before any rolling computation (w3's rolling mean
    * silently skips missing days unless the grid is densified first).
    *
    * Spark-first shape: one day-keyed aggregate, a per-user bounds
    * aggregate, `sequence()+explode` to mint the grid (linear in
    * user-days, no driver loop), a day-keyed left join back, and one
    * user-keyed locf window (w1's carry-forward applied to the dense
    * grid). Scale: the grid is |users|×|days| rows — bounded by
    * calendar span, not event volume; all shuffles are user- or
    * (user, day)-keyed.
    */
  def w5GapFill(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(r6(dsum(col("value"))).as("day_value"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(to_date(col("d0")), to_date(col("d1")))).as("dd"))
      .select(col("user_id"), date_format(col("dd"), "yyyy-MM-dd").as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_value",
        last(col("day_value"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"), col("filled_value"),
        when(col("day_value").isNull, lit(1)).otherwise(lit(0))
          .as("is_filled"))
      .orderBy("user_id", "day")
  }

  val w5Sql: String =
    """WITH daily AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |    floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      * 1000000.0 + 0.5) / 1000000.0 AS day_value
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT b.user_id, strftime(g.g, '%Y-%m-%d') AS day
      |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
      |        FROM daily GROUP BY 1) b,
      |    LATERAL (SELECT unnest(generate_series(CAST(b.d0 AS DATE),
      |      CAST(b.d1 AS DATE), INTERVAL 1 DAY)) AS g) g)
      |SELECT g.user_id, g.day,
      |  last_value(dd.day_value IGNORE NULLS)
      |    OVER (PARTITION BY g.user_id ORDER BY g.day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS filled_value,
      |  CASE WHEN dd.day_value IS NULL THEN 1 ELSE 0 END AS is_filled
      |FROM grid g LEFT JOIN daily dd
      |  ON g.user_id = dd.user_id AND g.day = dd.day
      |ORDER BY g.user_id, g.day""".stripMargin

  /** W6 — daily actives / retention rollup: per day, distinct active
    * users, NEW users (first ever seen that day), and cumulative reach
    * — the DAU/new/cumulative triple every usage dashboard runs. The
    * cumulative count is NOT a global-order window (which would
    * single-partition the corpus at scale): first-seen collapses the
    * fact to one row per user, the day relation is CALENDAR-bounded,
    * and the running total is a day≤day self-join over that bounded
    * relation — O(days²) pairs on a dimension-sized frame, corpus
    * volume touched exactly twice (two user-keyed/day-keyed
    * aggregates, both map-side combined).
    */
  def w6DailyActives(s: SparkSession, d: String): DataFrame = {
    val withDay = events(s, d)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val daily = withDay.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val news = withDay.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val perDay = daily.join(news, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    perDay
      .join(perDay.select(col("day").as("d2"), col("n_new").as("nn2")),
        col("d2") <= col("day"))
      .groupBy(col("day"), col("n_active"), col("n_new"))
      .agg(sum(col("nn2")).as("cum_users"))
      .orderBy("day")
  }

  val w6Sql: String =
    """WITH wd AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events),
      |daily AS (
      |  SELECT day, count(DISTINCT user_id) AS n_active FROM wd GROUP BY 1),
      |news AS (
      |  SELECT day, count(*) AS n_new FROM (
      |    SELECT user_id, min(day) AS day FROM wd GROUP BY 1)
      |  GROUP BY 1),
      |per_day AS (
      |  SELECT d.day, d.n_active, coalesce(n.n_new, 0) AS n_new
      |  FROM daily d LEFT JOIN news n USING (day))
      |SELECT a.day, a.n_active, a.n_new,
      |  CAST(sum(b.n_new) AS BIGINT) AS cum_users
      |FROM per_day a JOIN per_day b ON b.day <= a.day
      |GROUP BY a.day, a.n_active, a.n_new
      |ORDER BY a.day""".stripMargin

  /** W7 — weekly cohort retention: the warehouse analytics matrix
    * every event log eventually serves (users bucketed by
    * first-activity ISO week, then the fraction of each cohort active
    * k weeks later). Extends w6's daily-actives/cumulative-users view
    * with the COHORT dimension — the shape product analytics, and at
    * 100 TB the same two user-keyed aggregations, compute.
    *
    * Scale shape: cohort assignment and distinct (user, week) activity
    * are both user-keyed map-side-combinable aggregations; their join
    * is user-keyed (co-partitioned, one shuffle each side); the output
    * is weeks × offsets — bounded — so the cohort-size join is a
    * broadcast. No window functions, no global sorts before the
    * presentation orderBy.
    */
  def w7CohortRetention(s: SparkSession, d: String): DataFrame = {
    val wk = events(s, d).select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("week"))
    val cohort = wk.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    wk.distinct()
      .join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(week, cohort_week) div 7 AS INT)")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention",
        r6(col("n_active").cast("double") / col("cohort_size")))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd")
          .as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        col("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val w7Sql: String =
    s"""WITH wk AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM cohort GROUP BY 1),
      |r AS (
      |  SELECT c.cohort_week,
      |    CAST(date_diff('day', c.cohort_week, a.week) // 7 AS INT)
      |      AS week_offset,
      |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      |  FROM (SELECT DISTINCT user_id, week FROM wk) a
      |  JOIN cohort c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
      |  r.week_offset, r.n_active, s.cohort_size,
      |  ${r6Sql("CAST(r.n_active AS DOUBLE) / s.cohort_size")} AS retention
      |FROM r JOIN sizes s ON s.cohort_week = r.cohort_week
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Occurrence-order ranking: SURVEY W2/F16 (1st vs later occurrence
    * within a partition, order-sensitive disambiguation). */
  def w2OccurrenceRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("occurrence", when(col("rn") === 1, "first").otherwise("repeat"))
      .filter(col("rn") <= 2)
      .select(col("user_id"), col("event_type"), col("rn"), col("event_id"), col("occurrence"))
      .orderBy("user_id", "event_type", "rn")
  }

  val w2Sql: String =
    """SELECT user_id, event_type, rn, event_id,
      |CASE WHEN rn=1 THEN 'first' ELSE 'repeat' END AS occurrence FROM (
      |SELECT user_id, event_type, event_id,
      |row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |FROM events) t WHERE rn <= 2 ORDER BY user_id, event_type, rn""".stripMargin

  /** Rolling last-N average: the "Last 7/15/30" timeframe averages the
    * reference outsources to the scraped site (SURVEY §2.5 note), computed
    * properly as a sliding window over the event log. Rounded: sliding
    * frames are evaluated with different FP accumulation strategies per
    * engine (DuckDB segment tree vs Spark running frame).
    */
  def w3RollingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    events(s, d)
      .withColumn("avg_value_7", floor(avg(col("value")).over(w) * lit(10000.0) + lit(0.5)) / lit(10000.0))
      .select(col("user_id"), col("event_id"), col("avg_value_7"))
      .orderBy("user_id", "event_id")
  }

  val w3Sql: String =
    """SELECT user_id, event_id,
      |floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 10000.0 + 0.5) / 10000.0 AS avg_value_7
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Multi-level aggregation: ROLLUP over (status, priority) — subtotals
    * and grand total in one pass (partial aggs expand the grouping sets
    * map-side; one shuffle). Rolled-up nulls are coalesced to 'ALL' so
    * ordering is engine-neutral (no NULLS FIRST/LAST divergence).
    */
  def a10RollupTotals(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  val a10Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Exact percentiles per group (linear interpolation — same method as
    * DuckDB's quantile_cont): the distributional summary the reference's
    * scraped "averages" never had. Exact percentile sorts within groups —
    * fine for bounded group counts; at extreme cardinality the approx
    * sketch variant is the scale path (see ConvertAndApproxSpec).
    */
  def a11Percentiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(r6(expr("percentile(value, 0.5)")).as("p50"),
        r6(expr("percentile(value, 0.9)")).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val a11Sql: String =
    """SELECT event_type,
      |  floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS p50,
      |  floor(quantile_cont(value, 0.9) * 1000000.0 + 0.5) / 1000000.0 AS p90,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A12 — grouped top-k through the `graft_topk` bounded-heap aggregate
    * on the RELATIONAL domain (top 3 orders per customer by price): the
    * window row_number formulation sorts every order of every customer
    * before discarding all but k, while the heap aggregate's map-side
    * partials carry ≤k rows per group into the shuffle — the standard
    * scale rewrite for "top N per key" (the similarity family proves the
    * same aggregate on cosine scores; this row proves it generalizes).
    * The oracle replays the window formulation, so the hash certifies
    * the heap ≡ window equivalence on this domain too (desc score, asc
    * id tie-break — exactly the `TopKByScore` comparator contract).
    */
  def a12GroupedTopK(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("o_orderkey"), col("t.score").as("o_totalprice"))
      .orderBy("o_custkey", "rank")
  }

  val a12Sql: String =
    """SELECT o_custkey, rank, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
      |  FROM orders)
      |WHERE rank <= 3
      |ORDER BY o_custkey, rank""".stripMargin

  /** Set intersection: nations hosting BOTH a high-balance customer and
    * a high-balance supplier (hash-based INTERSECT — a semi-join shape
    * at scale, no row explosion).
    */
  def o8Intersect(s: SparkSession, d: String): DataFrame = {
    val custNations = customer(s, d).filter(col("c_acctbal") > 5000.0)
      .select(col("c_nationkey").as("nationkey"))
    val suppNations = supplier(s, d).filter(col("s_acctbal") > 5000.0)
      .select(col("s_nationkey").as("nationkey"))
    custNations.intersect(suppNations).orderBy("nationkey")
  }

  val o8Sql: String =
    """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000.0
      |INTERSECT
      |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0
      |ORDER BY nationkey""".stripMargin

  /** O9 — full-outer reconciliation: per nation, customer-side vs
    * supplier-side account totals with presence flags — the two-ledger
    * diff (rows only-left, only-right, both) that completes the join
    * matrix (inner/left/semi/anti/theta/as-of/range/interval are
    * covered elsewhere). Shuffle hash join on the nation key; neither
    * side is a dimension, so no broadcast is expected or wanted.
    */
  def o9FullOuterReconcile(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(dsum(col("c_acctbal")).as("cust_bal"),
        count(lit(1)).as("n_cust"))
    val sup = supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(dsum(col("s_acctbal")).as("supp_bal"),
        count(lit(1)).as("n_supp"))
    c.join(sup, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        col("cust_bal"), col("n_cust"), col("supp_bal"), col("n_supp"),
        (col("cust_bal").isNotNull && col("supp_bal").isNotNull)
          .as("in_both"))
      .orderBy("nationkey")
  }

  val o9Sql: String =
    """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |  c.cust_bal, c.n_cust, s.supp_bal, s.n_supp,
      |  c.cust_bal IS NOT NULL AND s.supp_bal IS NOT NULL AS in_both
      |FROM (SELECT c_nationkey AS nationkey,
      |        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS cust_bal,
      |        count(*) AS n_cust
      |      FROM customer GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS nationkey,
      |        CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS supp_bal,
      |        count(*) AS n_supp
      |      FROM supplier GROUP BY 1) s
      |USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  /** lead/lag analytics: per event, the gap (seconds) to the user's
    * previous and next event — the inter-arrival profile underlying the
    * sessionization gap threshold. One shuffle on user_id; both offsets
    * ride the same window sort.
    */
  def w4LeadLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // integer `div`, not `/ then cast`: double division + cast truncates
    // in Spark but rounds in DuckDB — div floors identically in both
    events(s, d)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("next_us", unix_micros(lead(col("ts"), 1).over(w)))
      .withColumn("cur_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"),
        expr("(cur_us - prev_us) div 1000000").as("prev_gap_s"),
        expr("(next_us - cur_us) div 1000000").as("next_gap_s"))
      .orderBy("user_id", "event_id")
  }

  val w4Sql: String =
    """SELECT user_id, event_id,
      |  (epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS prev_gap_s,
      |  (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000000 AS next_gap_s
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("a10_rollup_totals", a10RollupTotals, a10Sql),
    QueryDef("a11_percentiles", a11Percentiles, a11Sql),
    QueryDef("a12_grouped_topk", a12GroupedTopK, a12Sql),
    QueryDef("o9_full_outer_reconcile", o9FullOuterReconcile, o9Sql),
    QueryDef("o8_intersect", o8Intersect, o8Sql),
    QueryDef("w4_lead_lag", w4LeadLag, w4Sql),
    QueryDef("q1_pricing_summary", q1PricingSummary, q1Sql),
    QueryDef("q2_revenue_by_nation", q2RevenueByNation, q2Sql),
    QueryDef("q3_top_orders", q3TopOrders, q3Sql),
    QueryDef("q4_filter_tally", q4FilterTally, q4Sql),
    QueryDef("q5_decorrelated_exists", q5DecorrelatedExists, q5Sql),
    QueryDef("p6_header_row_filter", p6HeaderRowFilter, p6Sql),
    QueryDef("p7_pattern_exclusion", p7PatternExclusion, p7Sql),
    QueryDef("p8_keyword_length", p8KeywordLength, p8Sql),
    QueryDef("f2_date_reformat", f2DateReformat, f2Sql),
    QueryDef("f19_md5_id", f19Md5Id, f19Sql),
    QueryDef("a2_collect_per_key", a2CollectPerKey, a2Sql),
    QueryDef("a3_bucket_categorize", a3BucketCategorize, a3Sql),
    QueryDef("a7_argmax_per_group", a7ArgmaxPerGroup, a7Sql),
    QueryDef("a8_missing_keys_antijoin", a8MissingKeysAntiJoin, a8Sql),
    QueryDef("a9_completeness_grid", a9CompletenessGrid, a9Sql),
    QueryDef("o4_union_by_name", o4UnionByName, o4Sql),
    QueryDef("o5_prefix_dedup", o5PrefixDedup, o5Sql),
    QueryDef("w1_carry_forward", w1CarryForward, w1Sql),
    QueryDef("w5_gap_fill", w5GapFill, w5Sql),
    QueryDef("w6_daily_actives", w6DailyActives, w6Sql),
    QueryDef("w7_cohort_retention", w7CohortRetention, w7Sql),
    QueryDef("w2_occurrence_rank", w2OccurrenceRank, w2Sql),
    QueryDef("w3_rolling_avg", w3RollingAvg, w3Sql),
  )
}
