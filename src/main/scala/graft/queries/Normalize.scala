package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables.sqlLitDuck
import graft.normalize.Columns
import graft.QueryDef

/** P1–P3 schema normalization under the oracle: the reference's central
  * data-model feature (MultiIndex flatten → canonical rename → duplicate
  * suffixing, `unified_nba_scraper.py:112-156`, `Cleaning_Glass_#1.py:
  * 436-450`) emitted as a decision table — (table, column position, raw
  * header parts) → (flattened name, canonical name, final deduped name).
  *
  * The Spark side runs the REAL library algebra ([[Columns.flattenHeader]]
  * / [[Columns.canonicalName]] / [[Columns.normalizeRawHeaders]]) on the
  * driver — header normalization is inherently O(#columns) driver work
  * that parameterizes a zero-cost plan projection, never a distributed
  * job (see `normalize/Columns.scala` scaladoc). The DuckDB oracle
  * replays the same string algebra relationally over the identical
  * literal fixture, generated from [[Columns.canonicalMap]] so the two
  * can never drift.
  *
  * Fixture constraint (documented): no raw header collides with an
  * already-suffixed name (e.g. a literal `X_1` next to duplicate `X`s),
  * so [[Columns.dedupSuffix]]'s collision-retry loop reduces to the
  * occurrence-counter window the SQL replays. The retry loop itself is
  * covered by `ColumnsSpec`.
  */
object Normalize {

  /** (table_id, col_idx, part1, part2) — messy two-level headers covering:
    * pandas `Unnamed:` placeholders, empty parts, canonical variants with
    * every separator style, substring containment, the `%` → `_pct`
    * fallback, reserved-name collisions, and duplicates created BY
    * canonicalization.
    */
  private[queries] val fixture: Seq[(String, Int, String, String)] = Seq(
    ("box", 0, "Unnamed: 0_level_0", "Player"),
    ("box", 1, "Unnamed: 1_level_0", "Team"),
    ("box", 2, "Totals", "FG%"),
    ("box", 3, "Totals", "eFG%"),
    ("box", 4, "Totals", "FT%"),
    ("box", 5, "Per Game", "Points Per Game"),
    ("box", 6, "", "WS/48"),
    ("box", 7, "Advanced", "Usage Percentage"),
    ("dup", 0, "", "Player"),
    ("dup", 1, "", "FG%"),
    ("dup", 2, "", "FG Pct"),
    ("dup", 3, "", "Field Goal Percentage"),
    ("dup", 4, "Unnamed: 4_level_0", "Unnamed: 4_level_1"),
    ("dup", 5, "", ""),
    ("dup", 6, "", "Opponent Effective Field Goal Percentage"),
    ("dup", 7, "", "3P%"),
    ("dup", 8, "", "Turnover %"),
    ("dup", 9, "", "row_idx"),
    ("msc", 0, "", "team"),
    ("msc", 1, "", "Tab"),
    ("msc", 2, "", "3PM"),
    ("msc", 3, "", "Birth Date"),
    ("msc", 4, "", "True Shooting %"),
    ("msc", 5, "", "Minutes Played"),
    ("msc", 6, "", "minutes_played"),
  )

  private val reserved = Set("team", "page", "tab", "row_idx")

  /** P1/P2/P3 — the header-normalization decision table, computed by the
    * production column algebra.
    */
  def p1HeaderNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = fixture.groupBy(_._1).toSeq.flatMap { case (_, cols) =>
      val ordered = cols.sortBy(_._2)
      val flat = ordered.map(c => Columns.flattenHeader(Seq(c._3, c._4)))
      val canon = flat.map { h =>
        val c = Columns.canonicalName(Columns.flattenHeader(Seq(h)))
        if (reserved(c.toLowerCase)) s"${c}_col" else c
      }
      val finals = Columns.normalizeRawHeaders(flat)
      ordered.indices.map { i =>
        val (tid, idx, p1, p2) = ordered(i)
        (tid, idx, p1, p2, flat(i), canon(i), finals(i))
      }
    }
    rows.toDF("table_id", "col_idx", "part1", "part2",
        "flat_name", "canonical_name", "final_name")
      .orderBy("table_id", "col_idx")
  }

  /** The oracle replays flatten (list_filter + join), canonical rename (a
    * CASE generated from the SAME longest-first [[Columns.canonicalMap]]),
    * reserved suffixing, and the occurrence-counter dedup window.
    */
  val p1Sql: String = {
    val values = fixture
      .map { case (t, i, a, b) =>
        s"(${sqlLitDuck(t)}, $i, ${sqlLitDuck(a)}, ${sqlLitDuck(b)})" }
      .mkString(",\n    ")
    val whens = Columns.canonicalMap
      .map { case (raw, canon) =>
        val norm = raw.toLowerCase.replaceAll("[\\s_\\-/]+", " ").trim
        s"WHEN contains(n, ${sqlLitDuck(norm)}) THEN ${sqlLitDuck(canon)}"
      }
      .mkString("\n      ")
    s"""WITH fixture(table_id, col_idx, part1, part2) AS (VALUES
      |    $values),
      |flat AS (
      |  SELECT *, CASE WHEN len(kept) = 0 THEN 'Unnamed'
      |    ELSE array_to_string(kept, ' ') END AS flat_name
      |  FROM (SELECT *, list_filter([trim(part1), trim(part2)],
      |          p -> p <> '' AND NOT starts_with(lower(p), 'unnamed')) AS kept
      |        FROM fixture)),
      |canon AS (
      |  SELECT table_id, col_idx, part1, part2, flat_name,
      |    CASE $whens
      |      ELSE regexp_replace(regexp_replace(trim(flat_name), '%', '_pct', 'g'),
      |             '\\s+', ' ', 'g') END AS c0
      |  FROM (SELECT *, trim(regexp_replace(lower(flat_name),
      |          '[\\s_\\-/]+', ' ', 'g')) AS n FROM flat)),
      |res AS (
      |  SELECT *, CASE WHEN lower(c0) IN ('team', 'page', 'tab', 'row_idx')
      |    THEN c0 || '_col' ELSE c0 END AS canonical_name
      |  FROM canon),
      |ded AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY table_id, canonical_name ORDER BY col_idx) AS rn
      |  FROM res)
      |SELECT table_id, col_idx, part1, part2, flat_name, canonical_name,
      |  CASE WHEN rn = 1 THEN canonical_name
      |    ELSE canonical_name || '_' || CAST(rn - 1 AS VARCHAR) END AS final_name
      |FROM ded ORDER BY table_id, col_idx""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("p1_header_normalize", p1HeaderNormalize, p1Sql),
  )
}
