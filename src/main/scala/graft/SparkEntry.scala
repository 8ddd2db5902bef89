package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => q, streaming => st}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (one entry per implemented
  * SURVEY.md §2 operator family plus the large-scale training-data
  * extensions); `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's hash-compare. Column names/aliases are kept identical on both
  * sides, results are deterministically ordered, and double aggregates go
  * through exact decimal sums (see [[Tables.dsum]]) so hashes are stable
  * across engines.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Relational.q2RevenueByNation(spark, "/root/testdata/sf0.001")

  /** Every registered query, each module named once: SURVEY.md §2's
    * operator families plus the training-data extensions (dedup,
    * similarity, text analysis, enrichment, event-time windows, the
    * warehouse table format, streaming). Names are unique. */
  private lazy val registry: Map[String, QueryDef] = QueryDef.byName(Seq(
    q.Relational.queries, q.Joins.queries, q.Functions.queries,
    q.Scalars.queries, q.Normalize.queries, q.Incremental.queries,
    q.Ingest.queries, q.Curation.queries, q.Dedup.queries,
    q.Similarity.queries, q.TextAnalysis.queries, q.Enrich.queries,
    q.Multimodal.queries, q.Sketches.queries, q.Layout.queries,
    q.Warehouse.queries, q.WarehouseDeletes.queries,
    q.WarehouseSafety.queries, q.RowTracking.queries, q.EndToEnd.queries,
    st.EventWindows.queries, st.Sessionize.queries, st.IntervalJoin.queries,
    st.StreamDedup.queries, st.StreamNearDup.queries,
    st.StreamDecontam.queries, st.StreamQuality.queries,
    st.StreamDsir.queries, st.CdcMerge.queries, st.CasSink.queries,
    st.CdfStream.queries, st.DvFeedStream.queries, st.FeedRetention.queries,
    st.CdcEqDelete.queries, st.GapDetect.queries, st.FunnelDetect.queries,
  ).flatten)

  private lazy val runs: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.run }

  private lazy val oracles: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracleSql }

  /** Name → Spark implementation, for every registered query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = runs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = oracles

  /** The queries a local run covers: `SPARK_GRAFT_ONLY=q1,q2` names a
    * comma-separated subset; unset, every query runs. */
  private[graft] def selected: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(only) =>
        val names = only.split(",").map(_.trim).filter(_.nonEmpty).toSet
        queries.filter { case (n, _) => names(n) }
      case None => queries
    }
}
