package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QueryDef

/** Sketch operators — the fixed-size-state summaries a 100 TB pipeline
  * leans on when exact answers would shuffle corpus-sized state:
  * count-min (heavy hitters), HyperLogLog (distinct counting) and Bloom
  * filters (approximate membership). Each sketch here is built as an
  * ordinary aggregation whose STATE is the sketch — counters / registers
  * / bit positions are rows in a bounded relation — so Spark's partial
  * aggregation IS the distributed sketch merge (counter addition,
  * register max, bit union are all associative+commutative), and the
  * probe side joins against a broadcast of the bounded sketch relation.
  *
  * Every hash is [[graft.Tables.md5Hash32]] (first 8 md5 hex chars) and
  * every estimate is integer or single-rounding double arithmetic, so
  * the DuckDB oracle replays the exact sketch — the hash-compare
  * certifies the sketch CONSTRUCTION, not just its accuracy.
  */
object Sketches {

  // ---- K1: count-min heavy hitters -----------------------------------

  private val cmsDepth = 4
  private val cmsWidth = 64

  /** K1 — count-min sketch over corpus token occurrences, probed at the
    * exact top-20 words: each occurrence increments one counter per
    * depth row (`md5("cms"+r+":"+word) mod width`), the estimate is the
    * min over the word's cells, and `overcount = est − tf ≥ 0` (the CMS
    * one-sided error guarantee) rides in the hashed relation — a
    * violated guarantee flips the hash.
    *
    * Scale shape: the counter table is depth×width rows NO MATTER the
    * corpus size — the explode(×depth) feeds a groupBy over ≤ 256 keys,
    * so map-side partial aggregation collapses each task's contribution
    * to ≤ 256 rows before the (only) shuffle; that partial-merge is
    * exactly how CMS instances merge across a fleet (counter addition).
    * The probe joins the top-K words (t7's `TakeOrderedAndProject` cut)
    * against the BROADCAST counter table. At 100 TB the sketch stays
    * 256 rows; only width/depth — not data volume — size the state.
    */
  def k1CmsHeavyHitters(s: SparkSession, d: String): DataFrame =
    k1Of(tokens(s, d))

  /** The k1 core over any single-column `word` frame — factored so
    * [[graft.tools.ScaleHeadroom]] can time the data-sized stage
    * (counter build + exact top-20) on an enlarged corpus.
    */
  private[graft] def k1Of(words: DataFrame): DataFrame = {
    val cells = words
      .select(posexplode(cmsCells(col("word"))).as(Seq("r", "c")))
    val counters = cells.groupBy(col("r"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val top = words.groupBy("word").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word")).limit(20)
    top
      .select(col("word"), col("tf"),
        posexplode(cmsCells(col("word"))).as(Seq("r", "c")))
      .join(broadcast(counters), Seq("r", "c"))
      .groupBy(col("word"), col("tf"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("tf"))
      .orderBy(col("tf").desc, col("word"))
  }

  /** The word's counter column per depth row, as an array indexed by
    * posexplode — one md5 per (row, word), mirrored in [[k1Sql]].
    */
  private def cmsCells(word: org.apache.spark.sql.Column) =
    array((0 until cmsDepth).map(r =>
      pmod(md5Hash32(concat(lit(s"cms$r:"), word)), lit(cmsWidth.toLong))): _*)

  val k1Sql: String = {
    val cellsOf = (w: String) =>
      s"('0x' || substr(md5('cms' || r || ':' || $w), 1, 8))::BIGINT % $cmsWidth"
    s"""WITH words AS (
      |  SELECT word FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      |    FROM documents)
      |  WHERE len(word) > 0),
      |depths AS (SELECT unnest(range($cmsDepth)) AS r),
      |counters AS (
      |  SELECT r, ${cellsOf("word")} AS c, count(*) AS cnt
      |  FROM words CROSS JOIN depths GROUP BY 1, 2),
      |top AS (
      |  SELECT word, count(*) AS tf FROM words GROUP BY word
      |  ORDER BY tf DESC, word LIMIT 20)
      |SELECT word, tf, min(cnt) AS cms_est,
      |  min(cnt) - tf AS overcount
      |FROM (SELECT word, tf, r, ${cellsOf("word")} AS c
      |      FROM top CROSS JOIN depths) p
      |JOIN counters USING (r, c)
      |GROUP BY word, tf
      |ORDER BY tf DESC, word""".stripMargin
  }

  // ---- K2: HyperLogLog distinct words per source ----------------------

  private val hllBuckets = 256 // p = 8
  private val hllTailBits = 24 // 32-bit hash minus the bucket byte
  private val hllRhoMax = hllTailBits + 1

  /** K2 — HyperLogLog distinct-word cardinality per `source`, next to
    * the exact `count(DISTINCT word)` it approximates: bucket = low byte
    * of the 32-bit hash, rho = leading-zero count of the remaining 24
    * bits + 1 (`25 − bitlength`, via `bin()` — the same integer-log
    * trick t8 uses, so no floating log anywhere), register = max rho per
    * bucket. The harmonic denominator is the EXACT integer
    * Σ 2^(ρmax − M_j) (absent buckets contribute 2^ρmax), and only the
    * final α·m²·2^ρmax / S division is double — one IEEE operation both
    * engines perform identically, then r6.
    *
    * Raw HLL estimate, deliberately: no small/large-range correction
    * branch, because the correction's piecewise float thresholds are the
    * kind of cross-engine hazard this suite engineers out; the observed
    * relative error vs the exact count is PART of the hashed relation,
    * so accuracy is certified data, not an assertion.
    *
    * Scale shape: registers are ≤ 256 rows per group merged by MAX —
    * associative, so map-side combine ships ≤ groups×256 rows into the
    * one shuffle; the exact count (for comparison) is the expensive
    * side at scale, which is the sketch's whole point. 100 TB: distinct
    * URLs/tokens per domain is a groups×256-int state — kilobytes per
    * group — while the exact pass shuffles every distinct token.
    */
  def k2HllDistinct(s: SparkSession, d: String): DataFrame =
    k2Of(documentsSpread(s, d)
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0))

  /** The k2 core over any (source, word) frame — factored for
    * [[graft.tools.ScaleHeadroom]].
    */
  private[graft] def k2Of(words: DataFrame): DataFrame = {
    val hashed = words.select(col("source"), col("word"),
      md5Hash32(concat(lit("hll:"), col("word"))).as("h"))
    val regs = hashed
      .withColumn("bucket", pmod(col("h"), lit(hllBuckets.toLong)))
      .withColumn("tail", expr(s"h div $hllBuckets"))
      .withColumn("rho",
        when(col("tail") > 0, lit(hllRhoMax) - length(expr("bin(tail)")))
          .otherwise(lit(hllRhoMax)))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    val denom = regs.groupBy(col("source"))
      .agg(count(lit(1)).as("buckets_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($hllRhoMax - m AS INT))"))
          .as("s_hit"))
      .withColumn("harmonic_denom",
        col("s_hit") + (lit(hllBuckets.toLong) - col("buckets_hit"))
          * lit(1L << hllRhoMax))
    val exact = words.groupBy(col("source"))
      .agg(count_distinct(col("word")).as("exact_distinct"))
    denom.join(exact, "source")
      .withColumn("hll_est", r6(
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(hllBuckets.toDouble)))
          * lit((hllBuckets.toLong * hllBuckets).toDouble)
          * lit((1L << hllRhoMax).toDouble))
          / col("harmonic_denom").cast("double")))
      .withColumn("err_pct", r6(
        (col("hll_est") - col("exact_distinct").cast("double"))
          * lit(100.0) / col("exact_distinct").cast("double")))
      .select(col("source"), col("buckets_hit"), col("harmonic_denom"),
        col("hll_est"), col("exact_distinct"), col("err_pct"))
      .orderBy("source")
  }

  val k2Sql: String = {
    val m2 = hllBuckets.toLong * hllBuckets
    val pow = 1L << hllRhoMax
    s"""WITH words AS (
      |  SELECT source, word FROM (
      |    SELECT source,
      |      unnest(string_split_regex(trim(text), '\\s+')) AS word
      |    FROM documents)
      |  WHERE len(word) > 0),
      |hashed AS (
      |  SELECT source, word,
      |    ('0x' || substr(md5('hll:' || word), 1, 8))::BIGINT AS h
      |  FROM words),
      |regs AS (
      |  SELECT source, h % $hllBuckets AS bucket,
      |    max(CASE WHEN h // $hllBuckets > 0
      |      THEN $hllRhoMax - len(bin(h // $hllBuckets))
      |      ELSE $hllRhoMax END) AS m
      |  FROM hashed GROUP BY 1, 2),
      |denom AS (
      |  SELECT source, count(*) AS buckets_hit,
      |    CAST(sum(1::BIGINT << ($hllRhoMax - m)) AS BIGINT)
      |      + ($hllBuckets - count(*)) * $pow AS harmonic_denom
      |  FROM regs GROUP BY source),
      |exact AS (
      |  SELECT source, count(DISTINCT word) AS exact_distinct
      |  FROM words GROUP BY source)
      |SELECT source, buckets_hit, harmonic_denom,
      |  ${r6Sql(s"((0.7213 / (1.0 + 1.079 / ${hllBuckets.toDouble})) " +
        s"* ${m2.toDouble} * ${pow.toDouble}) " +
        "/ CAST(harmonic_denom AS DOUBLE)")} AS hll_est,
      |  exact_distinct,
      |  ${r6Sql("(" + r6Sql(s"((0.7213 / (1.0 + 1.079 / ${hllBuckets.toDouble})) " +
        s"* ${m2.toDouble} * ${pow.toDouble}) " +
        "/ CAST(harmonic_denom AS DOUBLE)") +
        " - CAST(exact_distinct AS DOUBLE)) * 100.0 " +
        "/ CAST(exact_distinct AS DOUBLE)")} AS err_pct
      |FROM denom JOIN exact USING (source)
      |ORDER BY source""".stripMargin
  }

  // ---- K3: Bloom-filter membership -----------------------------------

  private val bloomBits = 4096
  private val bloomK = 4

  /** K3 — Bloom-filter membership probe, the approximate fast path in
    * front of d8's exact incremental-dedup index: history = docs with
    * `doc_id % 5 ≠ 0` keyed by content hash `md5(text)`, the filter =
    * the DISTINCT set of `k=4` bit positions per history key
    * (`md5("bf"+i+":"+key) mod 4096`), and every doc probes its own 4
    * positions — a hit on ALL k bits is a bloom positive. The relation
    * carries `bloom_hit`, ground-truth `true_member`, and `is_fp`; the
    * no-false-negative guarantee (every true member MUST bloom-hit) is
    * data under the hash, and the observed false positives are replayed
    * bit-exactly by the oracle rather than bounded by prose.
    *
    * Scale shape: the filter build is one distinct over history×k rows
    * collapsing to ≤ 4096 rows (bit union = set union — associative, so
    * partial aggregation merges per-task filters, which is how a fleet
    * merges Blooms: OR). The probe LEFT-joins positions against the
    * BROADCAST bit set and needs `hits = k` per doc — the same shape
    * Spark's own runtime bloom-filter join pruning uses, here surfaced
    * as an operator. At real scale m grows with the key count (≈10
    * bits/key for 1% fp) but stays bytes-per-million-keys — always the
    * broadcastable side, while the probe side streams map-side.
    */
  def k3BloomMembership(s: SparkSession, d: String): DataFrame =
    k3Of(documentsSpread(s, d)
      .select(col("doc_id"), md5(col("text")).as("key")))

  /** The k3 core over any (doc_id, key) frame — factored for
    * [[graft.tools.ScaleHeadroom]].
    */
  private[graft] def k3Of(docs: DataFrame): DataFrame = {
    val history = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val bits = history
      .select(explode(bloomPositions(col("key"))).as("bit"))
      .distinct()
    val probed = docs
      .select(col("doc_id"), col("key"),
        explode(bloomPositions(col("key"))).as("bit"))
      .join(broadcast(bits.withColumn("set", lit(1))), Seq("bit"), "left")
      .groupBy(col("doc_id"), col("key"))
      .agg(sum(coalesce(col("set"), lit(0))).as("hits"))
    val members = history.select(col("key")).distinct()
      .withColumn("true_member", lit(1))
    probed
      .join(broadcast(members), Seq("key"), "left")
      .select(col("doc_id"),
        (col("hits") === bloomK).cast("int").as("bloom_hit"),
        coalesce(col("true_member"), lit(0)).as("true_member"))
      .withColumn("is_fp",
        ((col("bloom_hit") === 1) && (col("true_member") === 0)).cast("int"))
      .orderBy("doc_id")
  }

  private def bloomPositions(key: org.apache.spark.sql.Column) =
    array((0 until bloomK).map(i =>
      pmod(md5Hash32(concat(lit(s"bf$i:"), key)), lit(bloomBits.toLong))): _*)

  val k3Sql: String = {
    val posOf = (k: String) =>
      s"('0x' || substr(md5('bf' || i || ':' || $k), 1, 8))::BIGINT % $bloomBits"
    s"""WITH docs AS (SELECT doc_id, md5(text) AS key FROM documents),
      |ks AS (SELECT unnest(range($bloomK)) AS i),
      |bits AS (
      |  SELECT DISTINCT ${posOf("key")} AS bit
      |  FROM docs CROSS JOIN ks WHERE doc_id % 5 <> 0),
      |probed AS (
      |  SELECT doc_id, key,
      |    CAST(sum(CASE WHEN bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hits
      |  FROM (SELECT doc_id, key, ${posOf("key")} AS p
      |        FROM docs CROSS JOIN ks) d
      |  LEFT JOIN bits ON bit = p
      |  GROUP BY doc_id, key),
      |members AS (
      |  SELECT DISTINCT key, 1 AS true_member FROM docs
      |  WHERE doc_id % 5 <> 0)
      |SELECT doc_id,
      |  CASE WHEN hits = $bloomK THEN 1 ELSE 0 END AS bloom_hit,
      |  coalesce(true_member, 0) AS true_member,
      |  CASE WHEN hits = $bloomK AND true_member IS NULL
      |    THEN 1 ELSE 0 END AS is_fp
      |FROM probed LEFT JOIN members USING (key)
      |ORDER BY doc_id""".stripMargin
  }

  // ---- K4: equi-width histogram quantile sketch -----------------------

  private val histBins = 128

  /** K4 — mergeable equi-width histogram quantile sketch over
    * `lineitem.l_extendedprice`, the fixed-state distributed-percentile
    * path next to a11's exact percentiles (exact percentiles need a
    * corpus-sized sort/shuffle; the histogram needs ≤ [[histBins]] rows
    * of state). Two associative passes: exact (min, max, n) — a 1-row
    * envelope collected to the driver and injected as literals, so the
    * binning pass reuses it without a second scan — then per-bin counts
    * (`⌊(v−min)/width⌋`, top bin clamped), where BIN-WISE ADDITION is
    * the fleet merge and Spark's map-side partial aggregation performs
    * it. Each target rank `⌈q·n⌉` (q ∈ {0.5, 0.9, 0.99}) resolves to
    * the first bin whose cumulative count reaches it, and the estimate
    * interpolates linearly inside that bin — error bounded by one bin
    * width BY CONSTRUCTION (spec-pinned against the exact percentile).
    * All arithmetic is double ops mirrored operation-for-operation in
    * the oracle (the source column is double, so inputs are
    * bit-identical), counts and ranks are exact integers; the hash
    * certifies the whole construction.
    *
    * Scale shape: one data-sized scan per pass (range, then binning —
    * both map-side combined into ≤ [[histBins]] rows before the only
    * shuffles); the cumulative sum is a self-join of the ≤ 128-row
    * histogram (never a global-order window over data), and the target
    * resolution joins 3 rows × ≤ 128 bins. At 100 TB the state is
    * still 128 longs per merge site.
    */
  def k4HistQuantiles(s: SparkSession, d: String): DataFrame =
    k4Of(lineitem(s, d).select(col("l_extendedprice").as("v")))

  /** The k4 core over any single-column `v` frame — factored for
    * [[graft.tools.ScaleHeadroom]].
    */
  private[graft] def k4Of(v: DataFrame): DataFrame = {
    val s = v.sparkSession
    // Pass 1: the exact (min, max, n) envelope, collected to the driver
    // (1 row) and injected as literals — so pass 2's binning scan is the
    // only other data-sized read and the operator is genuinely two-scan.
    val env = v.agg(min(col("v")), max(col("v")), count(lit(1))).head()
    val (vmin, vmax, n) = (env.getDouble(0), env.getDouble(1), env.getLong(2))
    // A constant column (vmax == vmin) would give width 0 and NaN bins;
    // clamp the range to a tiny positive width so every value lands in
    // bin 0 and all quantiles resolve to vmin. Mirrored in k4Sql.
    val width = math.max(vmax - vmin, 1e-9) / histBins
    val hist = v
      .select(least(lit(histBins - 1),
        floor((col("v") - lit(vmin)) / lit(width)).cast("int")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = hist.as("a").join(hist.as("b"), col("b.bin") <= col("a.bin"))
      .select(col("a.bin").as("bin"), col("a.cnt").as("cnt"),
        col("b.cnt").as("bcnt"))
      .groupBy(col("bin"), col("cnt")).agg(sum(col("bcnt")).as("cum"))
    val targets = s.range(1).toDF()
      .select(explode(expr("array(0.5D, 0.9D, 0.99D)")).as("q"))
      .withColumn("target", ceil(col("q") * lit(n)))
    targets.join(broadcast(cum),
        col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .withColumn("frac",
        (col("target").cast("double") - (col("cum") - col("cnt")).cast("double"))
          / col("cnt").cast("double"))
      .withColumn("est",
        r6(lit(vmin) + (col("bin").cast("double") + col("frac")) * lit(width)))
      .select(col("q"), col("target"), col("bin"), col("cnt"), col("cum"),
        lit(n).as("n"), col("est"))
      .orderBy("q")
  }

  val k4Sql: String =
    s"""WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
      |r AS (SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS n FROM v),
      |hist AS (
      |  SELECT LEAST(${histBins - 1}, CAST(floor((v - vmin) /
      |      (GREATEST(vmax - vmin, 1e-9) / ${histBins}.0)) AS INT)) AS bin,
      |    count(*) AS cnt
      |  FROM v CROSS JOIN r GROUP BY 1),
      |cum AS (
      |  SELECT a.bin, a.cnt, CAST(sum(b.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist b ON b.bin <= a.bin
      |  GROUP BY a.bin, a.cnt),
      |targets AS (
      |  SELECT q, vmin, vmax, n, CAST(ceil(q * n) AS BIGINT) AS target
      |  FROM (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      |  CROSS JOIN r)
      |SELECT q, target, bin, cnt, cum, n,
      |  floor((vmin + (CAST(bin AS DOUBLE) +
      |      (CAST(target AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
      |        / CAST(cnt AS DOUBLE))
      |      * (GREATEST(vmax - vmin, 1e-9) / ${histBins}.0)) * 1000000.0 + 0.5)
      |    / 1000000.0 AS est
      |FROM targets JOIN cum ON cum >= target AND (cum - cnt) < target
      |ORDER BY q""".stripMargin

  // ---- shared ---------------------------------------------------------

  /** Corpus token occurrences — t7's tokenization, shared by k1. */
  private def tokens(s: SparkSession, d: String): DataFrame =
    documentsSpread(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)

  val queries: Seq[QueryDef] = Seq(
    QueryDef("k1_cms_heavy_hitters", k1CmsHeavyHitters, k1Sql),
    QueryDef("k2_hll_distinct", k2HllDistinct, k2Sql),
    QueryDef("k3_bloom_membership", k3BloomMembership, k3Sql),
    QueryDef("k4_hist_quantiles", k4HistQuantiles, k4Sql),
  )
}
