package e2ebench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.clean.Clean
import graft.enrich.Teams
import graft.extract.{Extract, Insights}
import graft.ingest.Readers
import graft.normalize.Columns
import graft.sink.{Compact, Sinks}
import graft.validate.Validate

/** The reference pipeline (`tools.ReplayPipeline`'s composition), one
  * scrape batch per unit. Each source of a batch runs its own path
  * through ingest -> normalize -> clean -> enrich -> extract -> validate
  * -> sink, as the reference's per-source scrapers do.
  *
  * `normalize`, `enrich` and `extract` only build lazy plans: their
  * executor work runs inside the `sink` (or `validate`) call whose
  * action forces it, and is counted there. */
final class Lifecycle(spark: SparkSession, tr: Tracer, inputs: String)
    extends Workload {
  private val batches = new java.io.File(inputs).listFiles()
    .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
    .map(_.getName).sorted.toSeq
  private val runTs = "2026-01-01T00:00:00"
  private val timeframes = Seq("2025-26", "Last 7", "Last 15", "Last 30")
  private val pageSchema = StructType(Seq(StructField("match_id", StringType),
    StructField("text", StringType)))
  private val cardSchema = StructType(Seq(StructField("card_idx", LongType),
    StructField("text", StringType), StructField("url", StringType)))

  // every batch's frames of the pass, for the traced ratio counts
  private val frames = mutable.Map.empty[String, mutable.ArrayBuffer[DataFrame]]
  private def keep(name: String, df: DataFrame): Unit =
    frames.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += df

  def units(out: String): Seq[(String, () => Unit)] = batches.map { b =>
    val (in, o) = (s"$inputs/$b", s"$out/$b")
    b -> { () => roster(in, o); dvp(in, o); props(in, o); insights(in, o); html(in, o) }
  }

  private def roster(in: String, out: String): Unit = {
    val raw = tr.layer("ingest") { Readers.rawTable(spark, s"$in/raw_table.json", "roster") }
    val normed = tr.layer("normalize") { Columns.normalize(raw) }
    val cleaned = tr.layer("clean") {
      Clean.guardedNumericCoercion(Clean.dropRepeatedHeaderRows(normed),
          Seq("Rk", "Totals PTS", "FG_pct", "FG_pct_1"))
        .withColumn("Birth_Date", Clean.reformatDateUs(col("Birth_Date")))
        .withColumn("Birth", Clean.repairCountry(col("Birth")))
    }
    keep("normed", normed)
    keep("cleaned", cleaned)
    tr.layer("sink") { Sinks.writePartitioned(cleaned, s"$out/stats", Seq("team", "page")) }
  }

  private def dvp(in: String, out: String): Unit = {
    val raw = tr.layer("ingest") { Readers.dvpRaw(spark, s"$in/dvp_raw.json") }
    val canon = tr.layer("enrich") { Teams.canonicalize(raw, "team_raw") }
    val violations = tr.layer("validate") {
      val v = Validate.groupsWithWrongDistinctCount(
        canon, Seq("position", "timeframe"), "canonical", 30)
      Validate.requireEmpty(v, "30-team contract")
      v
    }
    keep("canon", canon)
    keep("violations", violations)
    tr.layer("sink") {
      Sinks.writeEnveloped(
        canon.select("position", "timeframe", "row_idx", "team_raw", "canonical"),
        s"$out/dvp", "bettingpros_dvp", runTs)
      Sinks.writeEnveloped(
        canon.groupBy(col("canonical"), col("position"))
          .pivot("timeframe", timeframes).agg(first(col("pts"))),
        s"$out/dvp_cube", "bettingpros_dvp", runTs)
    }
  }

  private def props(in: String, out: String): Unit = {
    val pages = tr.layer("ingest") {
      spark.read.schema(pageSchema).json(s"$in/props_page_text.json")
    }
    val parsed = tr.layer("extract") { Extract.lineScan(pages, "match_id", "text") }
    tr.layer("sink") { Sinks.writePartitioned(parsed, s"$out/props", Seq("match_id")) }
  }

  private def insights(in: String, out: String): Unit = {
    val cards = tr.layer("ingest") {
      spark.read.schema(cardSchema).json(s"$in/insight_raw.json")
    }
    val parsed = tr.layer("extract") { Insights.parse(cards) }
    keep("insights", parsed)
    tr.layer("sink") {
      Sinks.writeEnveloped(parsed, s"$out/insights", "outlier_insights", runTs)
      import spark.implicits._
      Sinks.writeRunSummary(Seq("roster", "dvp", "props", "insights", "html")
        .map(_ -> "done").toDF("step", "status"), "status", s"$out/summary")
    }
  }

  private def html(in: String, out: String): Unit = {
    val cells = tr.layer("ingest") {
      spark.read.format("graft.sources.HtmlTableSource")
        .option("path", s"$in/html").option("tableId", "*").load()
    }
    tr.layer("sink") { Sinks.writePartitioned(cells, s"$out/html", Seq("page")) }
  }

  override def traceCounts(): Unit = {
    spark.sparkContext.setJobGroup("trace", "ratio counts", interruptOnCancel = false)
    try {
      // summed over every batch of the pass
      def rows(name: String, where: Column = lit(true)) =
        frames(name).map(_.filter(where).count()).sum
      def ratio(n: Long, d: Long) = (n.toDouble / math.max(1L, d)).toString
      ratios("clean.rows_kept_ratio") = ratio(rows("cleaned"), rows("normed"))
      ratios("enrich.resolved_ratio") =
        ratio(rows("canon", col("canonical").isNotNull), rows("canon"))
      ratios("extract.parsed_ratio") =
        ratio(rows("insights", col("prop_type").isNotNull), rows("insights"))
      ratios("validate.violations") = rows("violations").toString
    } finally spark.sparkContext.clearJobGroup()
  }
}

/** The curation queries, cold over a corpus: data-, shuffle- and
  * CPU-bound. Each is a registered query over the generated tables. */
final class Curation(tr: Tracer, inputs: String) extends Workload {
  private val queries = Seq(
    "queries.EndToEnd" -> "e2e_dedup_pipeline",
    "queries.Dedup" -> "d2_ngram_jaccard",
    "queries.Curation" -> "c1_curation_decision",
    "queries.TextAnalysis" -> "t1_lang_id",
    "queries.EndToEnd" -> "e2e_curation_pipeline")

  def units(out: String): Seq[(String, () => Unit)] =
    queries.map { case (module, name) =>
      name -> (() => tr.query(module, name, inputs, out))
    }

  override def oracleQueries: Seq[String] = queries.map(_._2)
}

/** The write path, bound by commits and micro-batches: appends to a
  * partitioned feed table and its compaction, the warehouse commit
  * ladders, a change-feed consumer and the as-of read-back. */
final class Feed(spark: SparkSession, tr: Tracer, inputs: String)
    extends Workload {
  private val Appends = 2
  private val queries = Seq(
    "queries.Warehouse" -> "o10_merge_upsert",
    "queries.Warehouse" -> "o26_dv_vacuum",
    "queries.WarehouseDeletes" -> "o27_equality_deletes",
    "queries.WarehouseSafety" -> "o29_retention_checkpoint",
    "queries.RowTracking" -> "o31_row_tracking",
    "streaming" -> "st29_stream_eq_delete",
    "queries.Warehouse" -> "o12_time_travel")

  def units(out: String): Seq[(String, () => Unit)] = {
    val feed = s"$out/feed"
    // each append writes its own `batch` partitions through the sink's
    // dynamic partition overwrite; a batch arrives as the output of an
    // upstream shuffle and is written uncompacted, so Compact has small
    // files to merge
    val appends = (0 until Appends).map { k =>
      s"append-$k" -> (() => tr.layer("sink") {
        Sinks.writePartitioned(
          graft.Tables.events(spark, inputs)
            .filter(col("event_id") % Appends === k).withColumn("batch", lit(k))
            .repartition(Main.Cores, col("event_id")),
          feed, Seq("batch", "event_type"), compact = false)
      })
    }
    val compact = "compact" -> (() => tr.layer("sink") {
      Compact.compactPartitioned(spark, feed, 1L << 20)
      ()
    })
    appends ++ Seq(compact) ++ queries.map { case (module, name) =>
      name -> (() => tr.query(module, name, inputs, out))
    }
  }

  override def oracleQueries: Seq[String] = queries.map(_._2)
}
