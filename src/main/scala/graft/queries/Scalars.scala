package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.clean.Clean
import graft.extract.Extract
import graft.QueryDef

/** Scalar-extraction operator queries closing the SURVEY §2.3 oracle gap:
  * the insight scalars (F8 matchup, F9 game-time, F12 hit-rate, F13
  * sportsbook), the F14 player-name classifier, the F18 filename
  * sanitization + F3/F4 string repairs, and the F21 spread/total parse +
  * F22 numeric literal scan. Each runs the REAL library Column functions
  * over deterministic text derived from `orders`, so the DuckDB oracle
  * replays every value exactly.
  *
  * Reference behavior: `nba_insights_scraper.py:396-417,466-484` (f8),
  * `nba_props_scraper.py:707-731` (f14), `nba_props_scraper.py:862-872` +
  * `unified_nba_scraper.py:189-192` (f18), `lineup_scraper.py:71-78` (f21).
  */
object Scalars {

  private val homeTeams = Seq("BOS", "MIA", "DEN", "LAL", "GSW", "NYK", "PHI", "CHI")
  private val awayTeams = Seq("ATL", "CLE", "DAL", "HOU", "MEM", "MIL", "ORL", "PHX")
  private val timeForms = Seq("Today 7:30 PM", "12/25 8:00 PM", "Thursday 7:30 PM", "7:30 PM")
  private val bookForms = Seq("DraftKings", "FanDuel", "BetMGM", "Caesars", "no book")

  /** DuckDB rendering of a value-cycled literal pick. */
  private def pick(vals: Seq[String], idx: String): String =
    s"[${vals.map(sqlLitDuck).mkString(", ")}][CAST($idx AS INT) + 1]"

  /** Spark-SQL rendering of the SAME pick — both sides are generated from
    * one Seq so the fixtures can never drift between engines, and both
    * literal renderings escape quotes so apostrophe-bearing values (e.g.
    * a name form) stay valid SQL.
    */
  private def pickSpark(vals: Seq[String], idx: String): String =
    s"element_at(array(${vals.map(sqlLitSpark).mkString(", ")}), " +
      s"cast($idx as int) + 1)"

  /** Deterministic insight text: `TEAM @ OPP <time> | <book> line, hit in
    * NN% of last 10`. A fifth of the rows use a lowercase `vs` separator
    * (matched by the reference's `[@vs]+` class), another fifth an
    * uppercase `VS` that the class deliberately does NOT match (the
    * documented bug-compatible behavior — those rows yield empty
    * matchups), and one book slot is a no-match sentinel.
    */
  private def f8Txt =
    s"concat(${pickSpark(homeTeams, "o_orderkey % 8")}, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN ' vs ' WHEN o_orderkey % 5 = 1 THEN ' VS ' ELSE ' @ ' END, " +
      s"${pickSpark(awayTeams, "o_custkey % 8")}, " +
      s"' ', ${pickSpark(timeForms, "o_orderkey % 4")}, " +
      s"' | ', ${pickSpark(bookForms, "o_orderkey % 5")}, " +
      "' line, hit in ', cast(o_orderkey % 101 as int), '% of last 10')"

  /** F8/F9/F12/F13 — the consolidated insight-scalar extraction: matchup
    * team/opponent, first-matching game-time shape, integer hit-rate, and
    * first known sportsbook — all codegen'd builtin-regex chains.
    */
  def f8InsightScalars(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), expr(f8Txt).as("txt"))
      .withColumn("mu", Extract.extractMatchup(col("txt")))
      .select(col("o_orderkey"),
        col("mu.team").as("team"),
        col("mu.opponent").as("opponent"),
        col("mu.matchup").as("matchup"),
        Extract.extractGameTime(col("txt")).as("game_time"),
        Extract.extractHitRate(col("txt")).as("hit_rate"),
        Extract.detectSportsbook(col("txt")).as("sportsbook"))
      .orderBy("o_orderkey")

  val f8Sql: String = {
    val txt =
      s"""(${pick(homeTeams, "o_orderkey % 8")} ||
        |  CASE WHEN o_orderkey % 5 = 0 THEN ' vs '
        |       WHEN o_orderkey % 5 = 1 THEN ' VS ' ELSE ' @ ' END ||
        |  ${pick(awayTeams, "o_custkey % 8")} || ' ' ||
        |  ${pick(timeForms, "o_orderkey % 4")} || ' | ' ||
        |  ${pick(bookForms, "o_orderkey % 5")} ||
        |  ' line, hit in ' || CAST(o_orderkey % 101 AS INT) || '% of last 10')""".stripMargin
    val bookCase = Extract.sportsbooks
      .map(b => s"WHEN contains(lower(txt), ${sqlLitDuck(b.toLowerCase)}) " +
        s"THEN ${sqlLitDuck(b)}")
      .mkString("CASE ", " ", " END")
    s"""WITH t AS (SELECT o_orderkey, $txt AS txt FROM orders),
      |m AS (SELECT o_orderkey, txt,
      |  regexp_extract(txt, '([A-Z]{3})\\s*[@vs]+\\s*([A-Z]{3})', 1) AS team,
      |  regexp_extract(txt, '([A-Z]{3})\\s*[@vs]+\\s*([A-Z]{3})', 2) AS opponent
      |  FROM t)
      |SELECT o_orderkey, team, opponent,
      |  CASE WHEN team <> '' THEN team || ' @ ' || opponent ELSE '' END AS matchup,
      |  coalesce(
      |    nullif(regexp_extract(txt, '(?i)((?:Today|Tomorrow)\\s+\\d{1,2}:\\d{2}\\s*[AP]M)', 1), ''),
      |    nullif(regexp_extract(txt, '(\\d{1,2}/\\d{1,2}\\s+\\d{1,2}:\\d{2}\\s*[AP]M)', 1), ''),
      |    nullif(regexp_extract(txt, '(?i)((?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*\\s+\\d{1,2}:\\d{2}\\s*[AP]M)', 1), ''),
      |    nullif(regexp_extract(txt, '(\\d{1,2}:\\d{2}\\s*[AP]M)', 1), '')) AS game_time,
      |  TRY_CAST(nullif(regexp_extract(txt, '(\\d{1,3})\\s*%', 1), '') AS INT) AS hit_rate,
      |  $bookCase AS sportsbook
      |FROM m ORDER BY o_orderkey""".stripMargin
  }

  private val nameForms = Seq(
    "LeBron James", "Shai Gilgeous-Alexander", "Jaylen Brown Jr.",
    "Player Props", "Points", "Same Game Parlay", "over 25.5", "OKC Thunder")

  /** F14 — player-name classifier over a deterministic candidate mix:
    * true names (incl. hyphen/suffix forms), capitalized stop phrases
    * ('Player Props', 'Same Game Parlay' — shape-valid but rejected by
    * the stop list), strings rejected by the shape regex ('over 25.5'
    * lowercase, 'Points' single-word), and 'OKC Thunder' — a team name
    * the reference classifier ACCEPTS (capitalized two-word shape, not a
    * stop word); that known false positive is pinned here deliberately,
    * reference-faithful like the F8 uppercase-VS case.
    */
  def f14NameClassify(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        expr(pickSpark(nameForms, "o_orderkey % 8")).as("candidate"))
      .withColumn("is_player", Extract.isPlayerName(col("candidate")))
      .orderBy("o_orderkey")

  val f14Sql: String = {
    val stops = Extract.nameStopWords.map(sqlLitDuck).mkString(", ")
    s"""SELECT o_orderkey, ${pick(nameForms, "o_orderkey % 8")} AS candidate,
      |  (regexp_matches(${pick(nameForms, "o_orderkey % 8")},
      |     '^([A-Z][A-Za-z.''-]+ ){1,3}[A-Z][A-Za-z.''-]+$$')
      |   AND lower(${pick(nameForms, "o_orderkey % 8")}) NOT IN ($stops)) AS is_player
      |FROM orders ORDER BY o_orderkey""".stripMargin
  }

  /** Deterministic messy strings: filename-hostile chars, run-on
    * whitespace, and the Roster `us US` country artifact. */
  private val f18Txt =
    "concat('NBA: ', o_orderpriority, ' <Q', cast(o_orderkey % 4 as int), '>  report / ', " +
      "CASE WHEN o_orderkey % 3 = 0 THEN 'born us US city' ELSE 'born US city' END, " +
      "' - game', cast(o_custkey % 10 as int))"

  /** F18 + F3/F4 — filename sanitization chain, country repair, and
    * whitespace normalization over the same messy string.
    */
  def f18SanitizeRepair(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), expr(f18Txt).as("raw"))
      .select(col("o_orderkey"), col("raw"),
        Extract.sanitizeFilename(col("raw")).as("filename"),
        Clean.repairCountry(col("raw")).as("country_fixed"),
        Clean.normWs(col("raw")).as("ws_normed"))
      .orderBy("o_orderkey")

  val f18Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    ('NBA: ' || o_orderpriority || ' <Q' || CAST(o_orderkey % 4 AS INT) ||
      |     '>  report / ' || CASE WHEN o_orderkey % 3 = 0
      |       THEN 'born us US city' ELSE 'born US city' END ||
      |     ' - game' || CAST(o_custkey % 10 AS INT)) AS raw
      |  FROM orders)
      |SELECT o_orderkey, raw,
      |  substr(regexp_replace(regexp_replace(regexp_replace(raw,
      |    '[<>:"/\\|?*]', '', 'g'), '[\s\-@]+', '_', 'g'), '_+', '_', 'g'),
      |    1, 80) AS filename,
      |  trim(regexp_replace(raw, '(?i)\bus\s+US\b', 'US', 'g')) AS country_fixed,
      |  trim(regexp_replace(raw, '\s+', ' ', 'g')) AS ws_normed
      |FROM t ORDER BY o_orderkey""".stripMargin

  /** Deterministic lineup text: `ABC by N.5, o/u NNN.5 ML -1xx +1yy`. */
  private def f21Txt =
    s"concat(${pickSpark(awayTeams, "o_orderkey % 8")}, " +
      "' by ', cast(o_orderkey % 12 as int), '.5, o/u ', " +
      "cast(200 + o_orderkey % 40 as int), '.5 ML -', cast(100 + o_orderkey % 80 as int), " +
      "' +', cast(100 + o_custkey % 80 as int))"

  /** F21/F22 — spread/total parse plus the numeric-literal (American
    * odds) scan, CSV-serialized for the comparator.
    */
  def f21SpreadTotal(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), expr(f21Txt).as("txt"))
      .withColumn("st", Extract.parseSpreadTotal(col("txt")))
      .select(col("o_orderkey"),
        col("st.favorite").as("favorite"),
        col("st.spread").as("spread"),
        col("st.over_under").as("over_under"),
        array_join(Extract.extractOdds(col("txt")), ",").as("odds"))
      .orderBy("o_orderkey")

  val f21Sql: String =
    s"""WITH t AS (
      |  SELECT o_orderkey,
      |    (${pick(awayTeams, "o_orderkey % 8")} || ' by ' ||
      |     CAST(o_orderkey % 12 AS INT) || '.5, o/u ' ||
      |     CAST(200 + o_orderkey % 40 AS INT) || '.5 ML -' ||
      |     CAST(100 + o_orderkey % 80 AS INT) || ' +' ||
      |     CAST(100 + o_custkey % 80 AS INT)) AS txt
      |  FROM orders)
      |SELECT o_orderkey,
      |  regexp_extract(txt, '([A-Z]{3})\\s+by\\s+(\\d+\\.?\\d*)', 1) AS favorite,
      |  TRY_CAST(regexp_extract(txt, '([A-Z]{3})\\s+by\\s+(\\d+\\.?\\d*)', 2) AS DOUBLE) AS spread,
      |  TRY_CAST(regexp_extract(txt, '(?i)o/u\\s*(\\d+\\.?\\d*)', 1) AS DOUBLE) AS over_under,
      |  array_to_string(regexp_extract_all(txt, '[+-]\\d{3,4}'), ',') AS odds
      |FROM t ORDER BY o_orderkey""".stripMargin

  /** F20 — truncation guards over real unbounded text
    * (`nba_props_scraper.py:225,494,418`): every persisted copy of
    * scraped free text is capped (`[:200]` list snippets, `[:500]`
    * market text, `[:5000]` page snapshots), with the guard flag the
    * reference derives implicitly. The corpus exercises both sides of
    * each cap (docs under and over 200/500 chars).
    */
  def f20TruncationGuard(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        Extract.truncateGuard(col("text"), 200).as("raw_text"),
        Extract.truncateGuard(col("text"), 500).as("snapshot"),
        length(col("text")).cast("long").as("n_full"),
        (length(col("text")) > 200).as("was_truncated"))
      .orderBy("doc_id")

  val f20Sql: String =
    """SELECT doc_id, substr(text, 1, 200) AS raw_text,
      |  substr(text, 1, 500) AS snapshot,
      |  CAST(length(text) AS BIGINT) AS n_full,
      |  length(text) > 200 AS was_truncated
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("f8_insight_scalars", f8InsightScalars, f8Sql),
    QueryDef("f14_name_classify", f14NameClassify, f14Sql),
    QueryDef("f18_sanitize_repair", f18SanitizeRepair, f18Sql),
    QueryDef("f20_truncation_guard", f20TruncationGuard, f20Sql),
    QueryDef("f21_spread_total", f21SpreadTotal, f21Sql),
  )
}
