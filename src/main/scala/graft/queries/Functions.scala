package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.clean.Clean
import graft.extract.Extract
import graft.QueryDef

/** Scalar-function operator queries (SURVEY F1, F5-F7): the
  * data-dependent coercion decision emitted as data, and the multi-field
  * prop-line parse — both over deterministic strings derived from
  * `orders` so the DuckDB oracle replays them exactly.
  */
object Functions {

  /** Deterministically messy string columns derived from orders: one
    * mostly-numeric (25% 'N/A'), one mostly-text (25% numeric). */
  private def messy(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey"),
      expr("CASE WHEN o_orderkey % 4 = 0 THEN 'N/A' " +
        "ELSE CAST(o_totalprice AS STRING) END").as("mostly_num"),
      expr("CASE WHEN o_orderkey % 4 = 3 THEN CAST(o_custkey AS STRING) " +
        "ELSE o_orderpriority END").as("mostly_str"))

  /** F1 — guarded numeric coercion, decision emitted as data: per
    * candidate column, the global non-null/castable counts and the
    * keep-the-cast verdict: all-null columns coerce, else castable ≥ ½
    * non-null (`unified_nba_scraper.py:199-204` semantics: float
    * division, global statistics — never per-partition).
    */
  def f1GuardedCoercion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stats = Clean.coercionStats(messy(s, d), Seq("mostly_num", "mostly_str"))
    stats.map(st => (st.column, st.nonNull, st.castable, st.coerce))
      .toDF("col_name", "non_null", "castable", "coerced")
      .orderBy("col_name")
  }

  val f1Sql: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'N/A'
      |           ELSE CAST(o_totalprice AS VARCHAR) END AS mostly_num,
      |         CASE WHEN o_orderkey % 4 = 3 THEN CAST(o_custkey AS VARCHAR)
      |           ELSE o_orderpriority END AS mostly_str
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'mostly_num' AS col_name, count(mostly_num) AS non_null,
      |    count(TRY_CAST(mostly_num AS DOUBLE)) AS castable,
      |    (count(mostly_num) = 0 OR
      |      count(TRY_CAST(mostly_num AS DOUBLE)) >= count(mostly_num) / 2.0) AS coerced
      |  FROM m
      |  UNION ALL
      |  SELECT 'mostly_str', count(mostly_str),
      |    count(TRY_CAST(mostly_str AS DOUBLE)),
      |    (count(mostly_str) = 0 OR
      |      count(TRY_CAST(mostly_str AS DOUBLE)) >= count(mostly_str) / 2.0)
      |  FROM m)
      |ORDER BY col_name""".stripMargin

  /** F5/F6/F7 — prop-line parse via the one-pass native expression
    * [[graft.functions.ParsePropLine]] (`graft_parse_prop_line`):
    * American-odds array, line value with fallback, over/under
    * assignment — semantically identical to the builtin regex
    * composition (bit-equality spec'd), one string traversal per field
    * family instead of five.
    */
  def f5PropLineParse(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    val txt = expr(
      "concat(CASE WHEN o_orderkey % 2 = 0 THEN 'Over ' ELSE 'Under ' END, " +
        "o_orderkey % 40 + 10, '.5 -', 100 + o_orderkey % 800, " +
        "' +', 100 + o_custkey % 800)")
    orders(s, d)
      .select(col("o_orderkey"), txt.as("line_text"))
      .withColumn("pp", expr("graft_parse_prop_line(line_text)"))
      .select(col("o_orderkey"), col("pp.line").as("line"),
        col("pp.over_odds").as("over_odds"),
        col("pp.under_odds").as("under_odds"),
        // CSV-serialized for the driver's comparator (raw array cells are
        // unhashable in its pandas sort); the expression still returns the
        // typed array — see ParsePropLineSpec for the array-level contract.
        array_join(col("pp.odds"), ",").as("odds"))
      .orderBy("o_orderkey")
  }

  val f5Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    (CASE WHEN o_orderkey % 2 = 0 THEN 'Over ' ELSE 'Under ' END ||
      |     (o_orderkey % 40 + 10) || '.5 -' || (100 + o_orderkey % 800) ||
      |     ' +' || (100 + o_custkey % 800)) AS line_text
      |  FROM orders),
      |p AS (
      |  SELECT o_orderkey, line_text,
      |    regexp_extract_all(line_text, '[+-]\d{3,4}') AS odds,
      |    TRY_CAST(CASE
      |      WHEN regexp_extract(line_text, '(?i)[OU]\s*(\d+\.?\d*)', 1) <> ''
      |        THEN regexp_extract(line_text, '(?i)[OU]\s*(\d+\.?\d*)', 1)
      |      ELSE regexp_extract(line_text, '\b(\d+\.5)\b', 1) END AS DOUBLE) AS line,
      |    (contains(lower(line_text), 'over') OR
      |     regexp_matches(lower(line_text), '^o\b|\bo\s*\d')) AS over_first
      |  FROM t)
      |SELECT o_orderkey, line,
      |  CASE WHEN over_first THEN odds[1] ELSE odds[2] END AS over_odds,
      |  CASE WHEN over_first THEN odds[2] ELSE odds[1] END AS under_odds,
      |  array_to_string(odds, ',') AS odds
      |FROM p ORDER BY o_orderkey""".stripMargin

  private val insightTxt =
    "concat(CASE CAST(o_orderkey % 3 AS INT) " +
      "WHEN 0 THEN concat('Over ', o_orderkey % 30 + 5, '.5 Points') " +
      "WHEN 1 THEN concat(o_orderkey % 30 + 5, '+ rebounds tonight') " +
      "ELSE concat('to record ', o_orderkey % 10 + 2, ' assists for the game') END, " +
      "' -- ', CASE WHEN o_orderkey % 2 = 0 " +
      "THEN 'has exceeded 20 points in 7 of 10 games' ELSE 'no history' END)"

  /** F10/F11 — insight description + prop outcome cascade over
    * deterministic synthetic insight text: three alternative prop
    * patterns (Over/Under line, N+ stat, "to record N stat") with
    * first-match-wins binding, and the performance-sentence description
    * with stat-keyword fallback.
    */
  def f10InsightParse(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), expr(insightTxt).as("txt"))
      .withColumn("po", Extract.parsePropOutcome(col("txt")))
      .withColumn("description", Extract.extractDescription(col("txt")))
      .select(col("o_orderkey"),
        col("po.outcome").as("outcome"),
        col("po.prop_line").as("prop_line"),
        col("po.prop_type").as("prop_type"),
        col("description"))
      .orderBy("o_orderkey")

  val f10Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    (CASE CAST(o_orderkey % 3 AS INT)
      |      WHEN 0 THEN 'Over ' || (o_orderkey % 30 + 5) || '.5 Points'
      |      WHEN 1 THEN (o_orderkey % 30 + 5) || '+ rebounds tonight'
      |      ELSE 'to record ' || (o_orderkey % 10 + 2) || ' assists for the game' END
      |     || ' -- ' || CASE WHEN o_orderkey % 2 = 0
      |      THEN 'has exceeded 20 points in 7 of 10 games' ELSE 'no history' END) AS txt
      |  FROM orders),
      |p AS (
      |  SELECT o_orderkey, txt,
      |    regexp_extract(txt, '(?i)\b(Over|Under)\s+(\d+\.?\d*)\s+([A-Za-z][A-Za-z ]{2,30})', 1) AS m1o,
      |    regexp_extract(txt, '(?i)\b(Over|Under)\s+(\d+\.?\d*)\s+([A-Za-z][A-Za-z ]{2,30})', 2) AS m1l,
      |    regexp_extract(txt, '(?i)\b(Over|Under)\s+(\d+\.?\d*)\s+([A-Za-z][A-Za-z ]{2,30})', 3) AS m1t,
      |    regexp_extract(txt, '(?i)\b(\d+)\+\s+([A-Za-z][A-Za-z ]{2,30})', 1) AS m2l,
      |    regexp_extract(txt, '(?i)\b(\d+)\+\s+([A-Za-z][A-Za-z ]{2,30})', 2) AS m2t,
      |    regexp_extract(txt, '(?i)to record\s+(\d+\.?\d*)\s+([A-Za-z][A-Za-z ]{2,30})', 1) AS m3l,
      |    regexp_extract(txt, '(?i)to record\s+(\d+\.?\d*)\s+([A-Za-z][A-Za-z ]{2,30})', 2) AS m3t,
      |    regexp_extract(txt, '(?i)((?:has|have) (?:failed|exceeded|hit|missed|reached)[^.\n]{0,80})', 1) AS perf
      |  FROM t)
      |SELECT o_orderkey,
      |  CASE WHEN m1o <> '' THEN m1o
      |       WHEN m2l <> '' THEN 'Over'
      |       WHEN m3l <> '' THEN 'Over' END AS outcome,
      |  TRY_CAST(CASE WHEN m1l <> '' THEN m1l
      |       WHEN m2l <> '' THEN m2l
      |       WHEN m3l <> '' THEN m3l END AS DOUBLE) AS prop_line,
      |  CASE WHEN m1t <> '' THEN trim(m1t)
      |       WHEN m2t <> '' THEN trim(m2t)
      |       WHEN m3t <> '' THEN trim(m3t) END AS prop_type,
      |  CASE WHEN perf <> '' THEN perf
      |       WHEN regexp_matches(txt, '(?i)(points|rebounds|assists|threes|steals|blocks)')
      |         THEN trim(txt) ELSE '' END AS description
      |FROM p ORDER BY o_orderkey""".stripMargin

  /** F23 — the LLM prompt envelope (`hardrock_scraper.py:453-507`
    * `format_for_llm` + `_generate_analysis_prompt`): per scraped
    * record, metadata columns (source, parameterized scrape timestamp
    * — SURVEY §7.5 #7, wall-clock is nondeterministic — and match
    * info) plus the TYPE-BRANCHED analysis prompt the reference
    * builds: player-props rows get the props-analysis template, the
    * rest the game-odds template, each interpolating the match and
    * the parsed fields.
    *
    * Design divergence, same as the S8 sink note: the reference nests
    * the whole dataset into one prompt JSON through a single writer;
    * here the envelope is a per-ROW `format_string` projection —
    * pure codegen'd map work, partition-parallel, no driver
    * serialization — and a downstream consumer packs whatever rows it
    * wants into one prompt.
    */
  def f23LlmEnvelope(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    val txt = expr(
      "concat(CASE WHEN o_orderkey % 2 = 0 THEN 'Over ' ELSE 'Under ' END, " +
        "o_orderkey % 40 + 10, '.5 -', 100 + o_orderkey % 800, " +
        "' +', 100 + o_custkey % 800)")
    orders(s, d)
      .select(col("o_orderkey"), txt.as("line_text"),
        concat(lit("Game "), col("o_orderkey") % 25).as("match_info"),
        when(col("o_orderkey") % 3 === 0, lit("player_props"))
          .otherwise(lit("game_odds")).as("prop_kind"))
      .withColumn("pp", expr("graft_parse_prop_line(line_text)"))
      .select(col("o_orderkey"),
        lit("graft").as("source"),
        lit("1970-01-01T00:00:00").as("scraped_at"),
        col("match_info"), col("prop_kind"),
        when(col("prop_kind") === "player_props",
          format_string(
            "Analyze the following player props data for %s: line %s, " +
              "over %s, under %s. Identify the betting line and " +
              "favorable odds.",
            col("match_info"), col("pp.line").cast("string"),
            col("pp.over_odds"), col("pp.under_odds")))
          .otherwise(format_string(
            "Analyze the following game odds data for %s: line %s, " +
              "over %s, under %s. Identify implied probability and vig.",
            col("match_info"), col("pp.line").cast("string"),
            col("pp.over_odds"), col("pp.under_odds")))
          .as("analysis_prompt"))
      .orderBy("o_orderkey")
  }

  val f23Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    (CASE WHEN o_orderkey % 2 = 0 THEN 'Over ' ELSE 'Under ' END ||
      |     (o_orderkey % 40 + 10) || '.5 -' || (100 + o_orderkey % 800) ||
      |     ' +' || (100 + o_custkey % 800)) AS line_text,
      |    'Game ' || (o_orderkey % 25) AS match_info,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'player_props'
      |         ELSE 'game_odds' END AS prop_kind
      |  FROM orders),
      |p AS (
      |  SELECT o_orderkey, match_info, prop_kind,
      |    regexp_extract_all(line_text, '[+-]\d{3,4}') AS odds,
      |    TRY_CAST(CASE
      |      WHEN regexp_extract(line_text, '(?i)[OU]\s*(\d+\.?\d*)', 1) <> ''
      |        THEN regexp_extract(line_text, '(?i)[OU]\s*(\d+\.?\d*)', 1)
      |      ELSE regexp_extract(line_text, '\b(\d+\.5)\b', 1) END AS DOUBLE) AS line,
      |    (contains(lower(line_text), 'over') OR
      |     regexp_matches(lower(line_text), '^o\b|\bo\s*\d')) AS over_first
      |  FROM t)
      |SELECT o_orderkey, 'graft' AS source,
      |  '1970-01-01T00:00:00' AS scraped_at,
      |  match_info, prop_kind,
      |  CASE WHEN prop_kind = 'player_props'
      |    THEN 'Analyze the following player props data for ' || match_info
      |      || ': line ' || CAST(line AS VARCHAR)
      |      || ', over ' || (CASE WHEN over_first THEN odds[1] ELSE odds[2] END)
      |      || ', under ' || (CASE WHEN over_first THEN odds[2] ELSE odds[1] END)
      |      || '. Identify the betting line and favorable odds.'
      |    ELSE 'Analyze the following game odds data for ' || match_info
      |      || ': line ' || CAST(line AS VARCHAR)
      |      || ', over ' || (CASE WHEN over_first THEN odds[1] ELSE odds[2] END)
      |      || ', under ' || (CASE WHEN over_first THEN odds[2] ELSE odds[1] END)
      |      || '. Identify implied probability and vig.'
      |  END AS analysis_prompt
      |FROM p ORDER BY o_orderkey""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("f1_guarded_coercion", f1GuardedCoercion, f1Sql),
    QueryDef("f5_prop_line_parse", f5PropLineParse, f5Sql),
    QueryDef("f10_insight_parse", f10InsightParse, f10Sql),
    QueryDef("f23_llm_envelope", f23LlmEnvelope, f23Sql),
  )
}
