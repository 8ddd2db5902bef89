package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.sink.{Compact, Sinks}
import graft.QueryDef

/** S13 incremental skip-if-exists as an oracle-comparable decision table
  * (`get_basketball_stats_all_teams_Version6.py:219-222`): which
  * (source, lang) partitions would a new run skip because a previous run
  * already wrote them?
  *
  * The Spark side runs the REAL job-level gate: a deterministic
  * "previous run" subset is written through [[Sinks.writePartitioned]]
  * (S9/S10 dynamic layout) into a scratch directory, then every desired
  * partition is probed with [[Sinks.partitionExists]] — the actual
  * filesystem check the incremental pipeline uses. The DuckDB oracle
  * replays the previous-run membership rule relationally, so the
  * hash-compare certifies that the filesystem decision matches the
  * declarative rule partition-for-partition.
  *
  * The probe loop is driver-side over the DISTINCT partition list —
  * bounded by partition-space cardinality (like the reference's per-team
  * loop), never by row count.
  */
object Incremental {

  private def existsRule =
    (ascii(substring(col("source"), 1, 1)) +
      ascii(substring(col("lang"), 1, 1))) % 3 === 0

  def s13SkipExisting(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Scratch is scoped by applicationId (two concurrent sessions probing
    // the same dataset must never delete/rewrite each other's layout
    // mid-probe) AND a per-invocation unique suffix (r3 advice: two
    // concurrent invocations in the SAME application — parallel test
    // suites sharing a session — raced on the delete/write/probe
    // sequence and could flip decisions flakily).
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_s13_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true) // fresh scratch: only THIS write may count
    val prev = documents(s, d)
      .filter(existsRule)
      .select(col("doc_id"), col("source"), col("lang"))
    Sinks.writePartitioned(prev, base, Seq("source", "lang"))
    val desired = documents(s, d)
      .select(col("source"), col("lang")).distinct()
      .orderBy("source", "lang")
      .collect()
    val decisions = desired.toSeq.map { r =>
      val (src, lg) = (r.getString(0), r.getString(1))
      // Probe paths through Spark's own partition-value escaping — a raw
      // string concat would never match the written directory for any
      // value containing a char Spark escapes (space, ':', '%').
      val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName _
      val exists = Sinks.partitionExists(prev,
        s"$base/source=${esc(src)}/lang=${esc(lg)}")
      (src, lg, exists, if (exists) "skip" else "write")
    }
    fs.delete(basePath, true) // decisions are driver values now; no trace left
    decisions.toDF("source", "lang", "already_exists", "action")
      .orderBy("source", "lang")
  }

  val s13Sql: String =
    """SELECT source, lang,
      |  ((ascii(substr(source, 1, 1)) + ascii(substr(lang, 1, 1))) % 3 = 0)
      |    AS already_exists,
      |  CASE WHEN (ascii(substr(source, 1, 1)) + ascii(substr(lang, 1, 1))) % 3 = 0
      |    THEN 'skip' ELSE 'write' END AS action
      |FROM (SELECT DISTINCT source, lang FROM documents)
      |ORDER BY source, lang""".stripMargin

  /** S8/S9/S10 as an oracle-comparable ROUND-TRIP (r3 verdict #4,
    * generalizing the s13 pattern): the partitioned dynamic-overwrite
    * sink and the metadata-envelope sink are exercised with REAL writes
    * and the read-back relation is hash-compared against a relational
    * oracle — certifying that what the sinks put on disk is exactly what
    * the declarative rule says, metadata included.
    *
    * Sequence (reference: `Cleaning_Glass_#1.py:455-495` writes the
    * per-(team,page) JSON envelope, `DEFENSEVSPOSTION.PY:544-572` the
    * same-filename-per-partition replacement):
    *  1. run 1 writes ALL docs tagged 'r1' through
    *     [[Sinks.writePartitioned]] (S9 layout, S10 create);
    *  2. run 2 writes only the partitions matching the deterministic
    *     rule, tagged 'r2', through the same sink — S10's dynamic
    *     overwrite must replace exactly those partitions and leave the
    *     rest of run 1 in place;
    *  3. the final layout is read back and re-written through
    *     [[Sinks.writeEnveloped]] (S8), then read back again — data from
    *     `data/`, record count and column list from the `_meta` sidecar —
    *     and joined into one per-row relation.
    * The DuckDB oracle replays the partition-replacement rule and the
    * envelope aggregates relationally; a hash match certifies the whole
    * write→read→envelope chain row-for-row and column-for-column.
    */
  def s9PartitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_s9_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      // run 1: every doc, tagged r1 (S10 create)
      Sinks.writePartitioned(docs.withColumn("run", lit("r1")),
        s"$base/part", Seq("source", "lang"))
      // run 2: only the rule-selected partitions, tagged r2 (S10 dynamic
      // overwrite) — the complement of the s13 existence rule so both
      // branches are non-empty on the corpus
      Sinks.writePartitioned(
        docs.filter(!existsRule).withColumn("run", lit("r2")),
        s"$base/part", Seq("source", "lang"))
      // S8: envelope the final layout (fixed timestamp — reproducible)
      val merged = s.read.parquet(s"$base/part")
        .select(col("doc_id"), col("source"), col("lang"), col("run"))
      Sinks.writeEnveloped(merged, s"$base/env", "s9_roundtrip",
        "1970-01-01T00:00:00Z")
      val data = s.read.parquet(s"$base/env/data")
      // explicit sidecar schema: schemaless json() runs a whole extra
      // inference job over the sidecar (two scans of it per read — at
      // scale, of every sidecar); the envelope schema is fixed by
      // Sinks.writeEnveloped, so supply it
      val meta = s.read
        .schema("record_count BIGINT, source STRING, scraped_at STRING, " +
          "columns STRING")
        .json(s"$base/env/_meta")
        .select(col("record_count").as("meta_rows"),
          col("columns").as("meta_cols"))
      data.crossJoin(broadcast(meta))
        .select(col("doc_id"), col("source"), col("lang"), col("run"),
          col("meta_rows"), col("meta_cols"))
        // the scratch dir is deleted in finally — materialize first
        // (eager localCheckpoint), and sort the materialized blocks so
        // the ordering does not depend on checkpoint partition layout
        .localCheckpoint()
        .orderBy("doc_id")
    } finally fs.delete(basePath, true)
  }

  val s9Sql: String =
    """WITH final AS (
      |  SELECT doc_id, source, lang,
      |    CASE WHEN (ascii(substr(source, 1, 1)) + ascii(substr(lang, 1, 1))) % 3 <> 0
      |      THEN 'r2' ELSE 'r1' END AS run
      |  FROM documents)
      |SELECT doc_id, source, lang, run,
      |  (SELECT count(*) FROM final) AS meta_rows,
      |  'doc_id,source,lang,run' AS meta_cols
      |FROM final ORDER BY doc_id""".stripMargin

  /** A1 — group-by-key fan-out write (`nba_insights_scraper.py:548-573`:
    * the 'by_team' save mode groups rows by key and writes each group to
    * that key's OWN folder). The Spark side runs the REAL fan-out:
    * [[Sinks.writePartitioned]] lays the corpus out one directory per
    * `source`, then the layout is read back through ONE multi-path scan
    * whose path list names each key's directory EXPLICITLY (never a
    * glob over the root): a folder that failed to materialize fails the
    * read loudly instead of silently shrinking the result, and each
    * row's `source_dir` provenance comes from the physical directory it
    * sits in (Spark's partition discovery against the explicit
    * `basePath`, which applies the engine's own partition-value
    * unescaping), so a row written to the wrong folder shows up as a
    * value mismatch against the relational oracle. Per-directory row
    * counts certify the per-key tallies the reference stores in each
    * folder's metadata block.
    *
    * Only the PATH LIST is driver-side (distinct keys — bounded by key
    * cardinality, like the reference's per-team loop). The read itself
    * is a single scan relation whose plan size is independent of key
    * count (r10 verdict #3: the previous per-key `reduce(unionByName)`
    * built an N-ary union — one branch per key, a driver-side planning
    * bottleneck at 10⁴ keys; pinned in [[FanoutPlanSpec]]).
    */
  def a1FanoutLayout(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_a1_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      val docs = documents(s, d).select(col("doc_id"), col("source"))
      Sinks.writePartitioned(docs, base, Seq("source"))
      val keys = docs.select("source").distinct()
        .orderBy("source").collect().map(_.getString(0))
      fanoutReadBack(s, base, keys.toSeq)
        .withColumn("n_in_dir",
          count(lit(1)).over(Window.partitionBy(col("source_dir"))))
        // scratch is deleted in finally — materialize the read-back first
        .localCheckpoint()
        .orderBy("doc_id")
    } finally fs.delete(basePath, true)
  }

  /** The a1 read-back relation: one scan over the explicit per-key
    * directory list, provenance from the physical partition path. Plan
    * size is O(1) in key count — the path list lives in the scan's file
    * index, not in the plan tree ([[FanoutPlanSpec]] pins no-Union /
    * single-scan at two key cardinalities).
    */
  private[queries] def fanoutReadBack(
      s: SparkSession, base: String, keys: Seq[String]): DataFrame = {
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName _
    val paths = keys.map(src => s"$base/source=${esc(src)}")
    s.read.option("basePath", base).parquet(paths: _*)
      .select(col("doc_id"),
        // cast defends against partition-type inference (an all-digit
        // key would otherwise come back as int and break the hash)
        col("source").cast("string").as("source_dir"))
  }

  val a1Sql: String =
    """SELECT doc_id, source AS source_dir,
      |  count(*) OVER (PARTITION BY source) AS n_in_dir
      |FROM documents ORDER BY doc_id""".stripMargin

  /** A13 — small-file compaction over a partitioned layout (r12 verdict
    * #1: the production concern of the S9/A1 fan-out family). The
    * harness manufactures the pathology the operator exists for: the
    * corpus is written through [[Sinks.writePartitioned]] with
    * compaction OFF after a deliberate 8-way repartition, so every
    * `source=` directory holds up to 8 tiny files (N tasks × P values —
    * the classic crawl-scale small-file explosion). [[Compact
    * .compactPartitioned]] then bin-packs each directory to
    * `ceil(bytes/target)` files via read→coalesce→hidden-staging→rename
    * (the st9 commit discipline; see [[graft.sink.Compact]]), and the
    * compacted layout is read back through the same explicit-path scan
    * as a1. The oracle certifies the row set LOSSLESS — every doc_id
    * with its data column and its physical directory — while
    * `CompactSpec` pins the file-count bound, idempotence, and
    * crash-safety naming. In-query `require`s fail Verify loudly if
    * the harness wasn't fragmented or a directory missed its bound.
    *
    * Scale shape: one read + one write per directory, no shuffle
    * anywhere (coalesce merges scan partitions in place); the directory
    * list is the only driver-side state (partition-space bounded, the
    * s13 bound). At 100 TB this is the maintenance pass that keeps the
    * fan-out sink's read amplification constant as crawls accrete.
    */
  def a13Compact(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val targetBytes = 64L << 20
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_a13_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      Sinks.writePartitioned(docs.repartition(8, col("doc_id")), base,
        Seq("source"), compact = false)
      val results = Compact.compactPartitioned(s, base, targetBytes)
      // Harness sanity: fragmentation must have actually happened, and
      // every directory must end at the bin-pack bound — violations fail
      // the a13 row loudly instead of producing a silently-weak proof.
      require(results.exists(_.compacted),
        "a13: no directory was fragmented — harness lost its pathology")
      results.foreach { r =>
        val bound = Compact.targetFileCount(r.bytesBefore, targetBytes)
        require(r.filesAfter <= bound,
          s"a13: ${r.dir} has ${r.filesAfter} files > bound $bound")
      }
      val keys = docs.select("source").distinct()
        .orderBy("source").collect().map(_.getString(0))
      val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName _
      val paths = keys.toSeq.map(src => s"$base/source=${esc(src)}")
      s.read.option("basePath", base).parquet(paths: _*)
        .select(col("doc_id"), col("lang"),
          col("source").cast("string").as("source_dir"))
        .withColumn("n_in_dir",
          count(lit(1)).over(Window.partitionBy(col("source_dir"))))
        .localCheckpoint()
        .orderBy("doc_id")
    } finally fs.delete(basePath, true)
  }

  val a13Sql: String =
    """SELECT doc_id, lang, source AS source_dir,
      |  count(*) OVER (PARTITION BY source) AS n_in_dir
      |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("s13_skip_existing", s13SkipExisting, s13Sql),
    QueryDef("s9_partitioned_roundtrip", s9PartitionedRoundtrip, s9Sql),
    QueryDef("a1_fanout_layout", a1FanoutLayout, a1Sql),
    QueryDef("a13_compact", a13Compact, a13Sql),
  )
}
