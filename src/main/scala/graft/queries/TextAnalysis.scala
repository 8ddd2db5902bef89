package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.QueryDef

/** Text-analysis operators over `documents`: n-gram-lexicon language ID,
  * quality scoring, token counting, and polynomial document
  * fingerprinting — the text side of the training-data pipeline surface.
  *
  * All token-level work happens after a single `split` per document and
  * stays in codegen'd builtin expressions (higher-order functions, no
  * UDFs). Per-doc work is embarrassingly parallel; the only shuffles are
  * the lang-ID argmax (t1: groupBy doc × lang) and the repetition
  * metrics (t6: doc-keyed 2-gram aggregation) — both map-side combined.
  */
object TextAnalysis {

  private val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "in" -> "en",
    "der" -> "de", "die" -> "de", "das" -> "de", "und" -> "de", "ist" -> "de",
    "el" -> "es", "la" -> "es", "los" -> "es", "y" -> "es", "que" -> "es",
    "shi" -> "zh", "le" -> "zh", "zai" -> "zh", "you" -> "zh", "wo" -> "zh",
  )

  /** T1 — lexicon-vote language ID: tokens joined against a tiny
    * per-language stopword lexicon (broadcast), votes argmaxed per doc
    * (ties → lexicographically first lang), docs with zero hits →
    * 'unknown'. The lexicon join is the classic broadcast dimension join;
    * the argmax is a bounded window over ≤ 4 rows per doc.
    */
  def t1LangId(s: SparkSession, d: String): DataFrame =
    langPredictions(s, d).orderBy("doc_id")

  /** The unordered T1 relation — shared by the t1 query and composites
    * (c1 curation) that join it and must not pay an inner sort.
    */
  private[queries] def langPredictions(s: SparkSession, d: String): DataFrame =
    langPredictionsOf(documentsSpread(s, d), documents(s, d))

  /** The T1 operator over any (doc_id, text, lang) corpus frame —
    * `spread` feeds the tokenize-heavy side, `docs` the left join that
    * restores zero-hit docs. Composites over derived corpora (c1's
    * dup-injected variant) reuse the SAME operator the t1 query verifies.
    */
  private[queries] def langPredictionsOf(spread: DataFrame,
      docs: DataFrame): DataFrame = {
    import spread.sparkSession.implicits._
    val lex = lexicon.toDF("word", "cand_lang")
    val toks = spread
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
    val votes = toks.join(broadcast(lex), "word")
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("hits"), col("cand_lang"))
    val best = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang"), col("hits"))
    docs.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cand_lang"), lit("unknown")).as("predicted_lang"),
        coalesce(col("hits"), lit(0L)).as("lexicon_hits"),
        col("actual_lang"))
  }

  /** The T1 relation without the final sort, parameterized on the corpus
    * relation name (r7 advice #2: composites swap the corpus by passing a
    * CTE name here, never by post-hoc string rewriting of composed SQL) —
    * composable into other oracle queries (c1/c1b).
    */
  private[queries] def t1CoreSqlOver(corpus: String): String = {
    val lexValues = lexicon
      .map { case (w, l) => s"(${sqlLitDuck(w)},${sqlLitDuck(l)})" }.mkString(", ")
    s"""WITH lex(word, cand_lang) AS (VALUES $lexValues),
      |toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
      |         FROM $corpus),
      |votes AS (SELECT doc_id, cand_lang, count(*) AS hits
      |  FROM toks JOIN lex USING (word) GROUP BY doc_id, cand_lang),
      |best AS (SELECT doc_id, cand_lang, hits FROM (
      |  SELECT doc_id, cand_lang, hits,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hits DESC, cand_lang) AS rn
      |  FROM votes) WHERE rn = 1)
      |SELECT d.doc_id,
      |  coalesce(b.cand_lang, 'unknown') AS predicted_lang,
      |  coalesce(b.hits, 0) AS lexicon_hits,
      |  d.lang AS actual_lang
      |FROM $corpus d LEFT JOIN best b ON d.doc_id = b.doc_id""".stripMargin
  }

  private[queries] val t1CoreSql: String = t1CoreSqlOver("documents")

  val t1Sql: String = t1CoreSql + "\nORDER BY d.doc_id"

  /** T2 — quality scoring: stopword ratio, punctuation ratio, average word
    * length → a weighted score in [0,1]. Mirrors the reference's
    * length/keyword text-quality gates (SURVEY P8) as graded scores
    * instead of boolean filters.
    */
  def t2QualityScore(s: SparkSession, d: String): DataFrame =
    withQualityCols(documentsSpread(s, d))
      .select(col("doc_id"), col("n_tokens"),
        r6(col("stop_ratio")).as("stop_ratio"),
        r6(col("avg_wlen")).as("avg_wlen"),
        r6(col("punct_ratio")).as("punct_ratio"),
        col("quality"))
      .orderBy("doc_id")

  /** The T2 scoring columns on any (doc_id, text, n_chars) frame — shared
    * by the t2 query and composites (c1 curation).
    */
  private[queries] def withQualityCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_ratio", expr(
        "size(filter(w, x -> x in ('the','a','of','and','in'))) / n_tokens"))
      .withColumn("avg_wlen", expr(
        "length(replace(text, ' ', '')) / n_tokens"))
      .withColumn("punct_ratio", expr(
        "size(regexp_extract_all(text, '[^\\\\w\\\\s]', 0)) / n_chars"))
      // Column API with double lits, not expr() with SQL decimal literals:
      // SQL `0.4` is DECIMAL and promotes the whole floor-rounding to
      // DECIMAL(30,9), while the oracle emits DOUBLE (dtype-sensitive gate).
      .withColumn("quality", r6(
        lit(0.4) * col("stop_ratio")
          + lit(0.3) * least(col("avg_wlen") / lit(10.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - col("punct_ratio"))))

  /** The T2 component subquery and weighted formula — the single SQL
    * source for the quality score, shared by t2Sql and c1Sql so the
    * weights/stopwords/regex can never drift between them (they are the
    * SQL twins of [[withQualityCols]]).
    */
  private[queries] def qualityPartsSqlOver(corpus: String): String =
    s"""SELECT doc_id, source,
      |    len(w) AS n_tokens,
      |    len(list_filter(w, x -> x in ('the','a','of','and','in'))) / len(w) AS stop_ratio,
      |    length(replace(text, ' ', '')) / len(w) AS avg_wlen,
      |    len(regexp_extract_all(text, '[^\\w\\s]')) / n_chars AS punct_ratio
      |  FROM (SELECT *, string_split_regex(text, '\\s+') AS w FROM $corpus)""".stripMargin

  private[queries] val qualityPartsSql: String = qualityPartsSqlOver("documents")

  private[queries] val qualityFormulaSql: String =
    "floor((0.4 * stop_ratio + 0.3 * least(avg_wlen / 10.0, 1.0) " +
      "+ 0.3 * (1.0 - punct_ratio)) * 1000000.0 + 0.5) / 1000000.0"

  val t2Sql: String =
    s"""SELECT doc_id, n_tokens,
      |  floor(stop_ratio * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
      |  floor(avg_wlen * 1000000.0 + 0.5) / 1000000.0 AS avg_wlen,
      |  floor(punct_ratio * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
      |  $qualityFormulaSql AS quality
      |FROM (
      |  $qualityPartsSql)
      |ORDER BY doc_id""".stripMargin

  /** T3 — token counting: whitespace tokens vs a BPE-ish regex
    * tokenization (`\w+|[^\w\s]`), plus chars — the sizing pass every
    * training-data pipeline runs before packing sequences.
    */
  def t3TokenCount(s: SparkSession, d: String): DataFrame =
    documentsSpread(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .as("bpe_ish_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  val t3Sql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_ish_tokens,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T4 — polynomial rolling-hash document fingerprint: left fold of
    * `h = (h*31 + hash32(word)) mod 1e9+7` over the word sequence.
    * Order-sensitive by construction (unlike the md5-of-text hash in D1),
    * so equal fingerprints ⇒ same word sequence modulo collisions.
    */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    documentsSpread(s, d)
      .withColumn("w", split(col("text"), "\\s+"))
      .withColumn("hashes",
        transform(col("w"), x => md5Hash32(x)))
      .withColumn("fingerprint",
        aggregate(col("hashes"), lit(0L),
          (acc, x) => pmod(acc * lit(31L) + x, lit(1000000007L))))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy("doc_id")

  val t4Sql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      list_transform(string_split_regex(text, '\s+'),
      |        x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val urlRe = "https?://[^\\s]+"

  /** T5 — PII scan + redaction: per-document counts of email / phone /
    * URL matches and the md5 of the redacted text (typed placeholder per
    * class) — the pre-training privacy pass every public corpus pipeline
    * runs. Pure per-row regex work inside codegen; no shuffle. The test
    * corpus carries no PII, so a deterministic tail (email / phone / URL
    * by doc_id mod 4) is appended to exercise every class and the
    * residual no-PII case.
    */
  def t5PiiRedact(s: SparkSession, d: String): DataFrame =
    piiScan(s, d).orderBy("doc_id")

  /** The unordered T5 relation — shared by the t5 query and composites
    * (c1's PII gate consumes the per-class counts).
    */
  private[queries] def piiScan(s: SparkSession, d: String): DataFrame =
    piiScanOf(documentsSpread(s, d))

  /** The T5 operator over any (doc_id, text) corpus frame. */
  private[queries] def piiScanOf(spread: DataFrame): DataFrame =
    spread
      .select(col("doc_id"), concat(substring(col("text"), 1, 120),
        expr("""CASE CAST(doc_id % 4 AS INT)
          |WHEN 0 THEN concat(' contact agent', CAST(doc_id % 50 AS INT), '@example.com now')
          |WHEN 1 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS INT), 3, '0'), '-4567 today')
          |WHEN 2 THEN concat(' see https://example.org/p/', CAST(doc_id AS INT), ' for details')
          |ELSE '' END""".stripMargin)).as("txt"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("txt"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("txt"), lit(urlRe), lit(0))).as("n_urls"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("txt"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), urlRe, "<URL>"))
          .as("redacted_md5"))

  /** The T5 relation without the final sort — composable into c1Sql,
    * corpus-parameterized like [[t1CoreSqlOver]]. */
  private[queries] def t5CoreSqlOver(corpus: String): String =
    s"""WITH t AS (
      |  SELECT doc_id, substr(text, 1, 120) ||
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN ' contact agent' || CAST(doc_id % 50 AS INT) || '@example.com now'
      |      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS INT)::VARCHAR, 3, '0') || '-4567 today'
      |      WHEN 2 THEN ' see https://example.org/p/' || CAST(doc_id AS INT) || ' for details'
      |      ELSE '' END AS txt
      |  FROM $corpus)
      |SELECT doc_id,
      |  len(regexp_extract_all(txt, '$emailRe')) AS n_emails,
      |  len(regexp_extract_all(txt, '$phoneRe')) AS n_phones,
      |  len(regexp_extract_all(txt, '$urlRe')) AS n_urls,
      |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
      |    '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'),
      |    '$urlRe', '<URL>', 'g')) AS redacted_md5
      |FROM t""".stripMargin

  private[queries] val t5CoreSql: String = t5CoreSqlOver("documents")

  val t5Sql: String = t5CoreSql + "\nORDER BY doc_id"

  /** T6 — n-gram repetition metrics (the Gopher-style repetition
    * filters): per document, the fraction of duplicate word 2-grams and
    * the share of the single most frequent 2-gram. Highly repetitive
    * machine-generated text scores near 1 on both and is dropped by
    * downstream quality gates. One explode + one grouped aggregation —
    * a single doc-keyed shuffle with map-side partials.
    */
  def t6Repetition(s: SparkSession, d: String): DataFrame =
    repetitionMetrics(s, d).orderBy("doc_id")

  /** The unordered T6 relation — shared by the t6 query and composites
    * (c1's repetition gate consumes dup_2gram_frac). Docs with fewer
    * than two tokens have NO row (no 2-grams exist) — composites join
    * left and coalesce.
    */
  private[queries] def repetitionMetrics(s: SparkSession, d: String): DataFrame =
    repetitionMetricsOf(documentsSpread(s, d))

  /** The T6 operator over any (doc_id, text) corpus frame. */
  private[queries] def repetitionMetricsOf(spread: DataFrame): DataFrame =
    spread
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(ngramsExpr("w", 2))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_2grams"),
        count(lit(1)).as("distinct_2grams"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_2grams"), col("distinct_2grams"),
        r6(lit(1.0) - col("distinct_2grams") / col("n_2grams").cast("double"))
          .as("dup_2gram_frac"),
        r6(col("top_c") / col("n_2grams").cast("double")).as("top_2gram_frac"))

  /** The T6 relation without the final sort — composable into c1Sql,
    * corpus-parameterized like [[t1CoreSqlOver]]. */
  private[queries] def t6CoreSqlOver(corpus: String): String =
    s"""WITH g AS (
      |  SELECT doc_id,
      |    unnest(${ngramsSql("w", 2)}) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
      |        FROM $corpus)
      |  WHERE len(w) >= 2),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_2grams,
      |  count(*) AS distinct_2grams,
      |  floor((1.0 - count(*) / CAST(sum(c) AS DOUBLE)) * 1000000.0 + 0.5)
      |    / 1000000.0 AS dup_2gram_frac,
      |  floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1000000.0 + 0.5)
      |    / 1000000.0 AS top_2gram_frac
      |FROM cnt GROUP BY doc_id""".stripMargin

  private[queries] val t6CoreSql: String = t6CoreSqlOver("documents")

  val t6Sql: String = t6CoreSql + "\nORDER BY doc_id"

  /** T7 — corpus vocabulary: global term and document frequencies with
    * a deterministic top-K cut — the vocab-seed / stopword-discovery
    * pass a tokenizer pipeline runs over the whole corpus before
    * training. `tf` counts occurrences, `df` counts distinct documents
    * (the stopword signal); ties break lexicographically.
    *
    * Scale shape: explode → ONE shuffle on the word key with map-side
    * partial aggregation (df via a pre-distinct on (word, doc_id) —
    * also map-side combined), then the global top-K goes through
    * `orderBy().limit()` ⇒ `TakeOrderedAndProject`: every partition
    * keeps its own K rows and the driver merges partitions×K — no
    * global sort shuffle at any corpus size (plan pinned in
    * `ScaleHeadroomSpec`-style by the q3 precedent; spec below).
    */
  def t7VocabTopK(s: SparkSession, d: String): DataFrame = {
    val words = documentsSpread(s, d)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    words
      .groupBy("word")
      .agg(count(lit(1)).as("tf"),
        count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("word"))
      .limit(20)
  }

  val t7Sql: String =
    """SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id,
      |        unnest(string_split_regex(trim(text), '\s+')) AS word
      |      FROM documents)
      |WHERE len(word) > 0
      |GROUP BY word
      |ORDER BY tf DESC, word
      |LIMIT 20""".stripMargin

  /** T8 — corpus-statistics quality score: the unigram-LM filter proxy
    * production curation pipelines run (the KenLM-perplexity gate shape
    * of CCNet/RefinedWeb), with an integer-exact information measure
    * both engines replay bit-identically. Pass 1 builds the corpus
    * unigram table `tf(word)`; pass 2 scores every token OCCURRENCE
    * with `bits = 64 − length(bin(tf))` — an integer ⌊−log2⌋ rarity
    * rank (no floating log, so no cross-engine ulp risk) — and
    * aggregates per document. Common-word documents score low,
    * rare-token/junk documents score high; both tails are gate
    * candidates, and the score composes with the c1 cascade exactly
    * like t2's.
    *
    * Scale shape: pass 1 is t7's single explode + one map-side-combined
    * shuffle. Pass 2 joins tokens to the vocab DIMENSION — broadcast,
    * deliberately: a real-corpus word vocab is ~10⁷ bounded rows while
    * the token side is corpus-sized and pathologically skewed on
    * exactly the hottest keys (stopwords); a shuffle join would
    * hot-spot where the data concentrates, the broadcast makes hot
    * keys free map-side lookups. Per-doc aggregation is the one
    * doc_id shuffle. All-integer sums; the only double is the final
    * mean, r6-rounded on both sides.
    *
    * Broadcast-size guard (r9 advice #3, coded per r10 verdict #2):
    * the broadcast is safe while the vocab stays within the
    * driver/executor broadcast budget — ~10⁷ word rows ≈ hundreds of
    * MB, the practical ceiling ([[VocabBroadcastCeilingRows]]). The
    * guard is ENFORCED at plan-build time, not documented: the vocab
    * (pass-1's shuffle output, the bounded dimension of this query) is
    * materialized once via `localCheckpoint`, its cardinality checked,
    * and the join strategy picked from the measurement —
    *  - within budget → `broadcast(vocab)`: hot stopword keys become
    *    free map-side lookups, zero skew exposure;
    *  - above budget (OCR noise, unsegmented scripts blowing up the
    *    vocab) → `hint("merge")` shuffle join, where AQE's skew
    *    handling splits the hot stopword partitions. That fallback is
    *    MEASURED, not assumed — SCALE.md's `powerlaw_skew_join` proof
    *    pins that AQE splits the hot partitions and beats the unsplit
    *    shuffle at 10× skew.
    * Both plan shapes are pinned in PlanSpec (broadcast at the default
    * ceiling, sort-merge at ceiling=0 on the same data). The
    * materialize-then-measure step is the same build-once/probe-many
    * discipline as s8's persisted index: the vocab is computed exactly
    * once either way, so the cardinality check costs one count over an
    * already-materialized dimension, never a second corpus pass.
    */
  def t8Surprisal(s: SparkSession, d: String): DataFrame =
    t8SurprisalGuarded(s, d, VocabBroadcastCeilingRows)

  /** Broadcast ceiling for the t8 vocab dimension, in rows. ~10⁷ word
    * rows is the practical broadcast budget (hundreds of MB serialized
    * on the driver and per executor); real-corpus natural-language
    * vocabs sit well under it, uncapped OCR-noise vocabs do not.
    */
  private[queries] val VocabBroadcastCeilingRows: Long = 10L * 1000 * 1000

  private[queries] def t8SurprisalGuarded(
      s: SparkSession, d: String, ceiling: Long): DataFrame = {
    val words = documentsSpread(s, d)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    // Materialized eagerly so the cardinality probe and the join read
    // the SAME computed relation instead of re-running pass 1 twice.
    val vocab = words.groupBy("word").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val joined =
      if (vocab.count() <= ceiling) words.join(broadcast(vocab), "word")
      else words.join(vocab.hint("merge"), "word")
    joined
      .withColumn("bits", lit(64) - length(expr("bin(tf)")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("total_bits"))
      .withColumn("mean_bits", r6(col("total_bits") / col("n_tokens")))
      .orderBy("doc_id")
  }

  val t8Sql: String =
    s"""WITH words AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(trim(text), '\\s+')) AS word
      |    FROM documents)
      |  WHERE len(word) > 0),
      |vocab AS (SELECT word, count(*) AS tf FROM words GROUP BY word)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(64 - len(bin(tf))) AS BIGINT) AS total_bits,
      |  ${r6Sql("CAST(sum(64 - len(bin(tf))) AS DOUBLE) / count(*)")}
      |    AS mean_bits
      |FROM words JOIN vocab USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T9 — cross-document n-gram NOVELTY: for each document, the
    * fraction of its distinct 3-gram shingles appearing in NO
    * earlier-id document — the training-data curator's "how much new
    * content does this doc add" signal (ingestion order stands in for
    * crawl time), the per-document complement of corpus-level dedup:
    * d2/d3 find the near-identical pairs, t9 scores partial content
    * reuse that never reaches a duplicate threshold.
    *
    * Spark-first shape: explode distinct shingles from the SESSION-SHARED
    * shingle index (the same persisted (doc_id, shingles) relation the
    * d2/d3 dedup family reads — the split+shingle pass over raw text runs
    * once per session however many consumers run, and t9's two reads of
    * the stream hit the compact cached sets instead of re-splitting text
    * twice), min(doc_id) per shingle (the shingle's first sight —
    * map-side combined), join back to the exploded stream on shingle,
    * re-aggregate per doc. Two shuffles, both linear in total shingle
    * volume; the first-sight relation is the only state and it is
    * bounded by distinct-shingle count — the same vocabulary-shaped
    * state t8 already carries at scale (its broadcast-ceiling note
    * applies here too: the join is shuffle-keyed, never collected).
    */
  def t9Novelty(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingleSets(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val firstSight = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSight, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        r6(col("n_novel").cast("double") / col("n_shingles"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  val t9Sql: String =
    s"""WITH sets AS (${Dedup.shingleSetsSql}),
      |sh AS (
      |  SELECT doc_id, unnest(shingles) AS shingle FROM sets),
      |first_sight AS (
      |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  ${r6Sql("CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
      |    AS novelty
      |FROM sh JOIN first_sight USING (shingle)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- T10: distributed BPE vocabulary training --------------------

  /** Merge rounds trained by t10. Four keeps the generated oracle CTE
    * chain readable; the loop shape is round-count-agnostic. */
  private[queries] val BpeRounds: Int = 4

  /** One greedy-leftmost BPE merge of the chosen pair inside a symbol
    * array, as a codegen'd `aggregate` fold: append each symbol, but
    * when the running array ends in `a` and the next symbol is `b`,
    * replace the tail with the merged token. Equivalent to the classic
    * scan-with-skip (`i += 2` after a merge) because a merged token
    * `a||b` can never equal `a` (b is nonempty), so a fresh merge is
    * never itself the left partner of another merge in the same round.
    */
  private def mergeSyms(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), x))))
        .otherwise(concat(acc, array(x))))

  /** The t10 training loop over any (word, freq) dictionary: per round,
    * count adjacent symbol pairs (weighted by word frequency, overlaps
    * counted — the classic BPE convention), pick the max-count pair
    * (ties to the lexicographically smallest), and greedy-merge it into
    * every sequence. Returns one row per learned merge rule.
    */
  private[graft] def bpeTrainOver(s: SparkSession, words: DataFrame,
      rounds: Int): DataFrame = {
    import s.implicits._
    var seqs = words
      .select(col("freq"), split(col("word"), "").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = seqs
        .select(col("freq"), explode(expr(
          "CASE WHEN size(syms) >= 2 THEN transform(" +
            "sequence(1, size(syms) - 1), i -> struct(" +
            "element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) " +
            "ELSE array() END")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, cnt))
        seqs = seqs
          .withColumn("syms", mergeSyms(col("syms"), a, b))
          .localCheckpoint()
        r += 1
      }
    }
    merges.toSeq
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("round")
  }

  /** T10 — distributed BPE vocabulary training: learn the first
    * [[BpeRounds]] byte-pair merge rules of the corpus — the
    * tokenizer-construction step of a training-data pipeline, upstream
    * of t3's token counting. Spark-first shape: the corpus is first
    * compressed to a (word, freq) dictionary (ONE corpus-sized shuffle,
    * after which every round is dictionary-sized — the industrial BPE
    * trick), sequences live as symbol arrays mutated by a codegen'd
    * fold, pair counting is a map-side-combined aggregation, and the
    * only driver state is the learned rule itself (one row per round —
    * the s21 centroid discipline). The DuckDB oracle replays each round
    * CTE-for-CTE (pair count via `lead`, greedy-leftmost merge via the
    * islands-and-even-offsets window rule — equivalent to the fold, see
    * [[mergeSyms]]), generated by the same loop structure
    * ([[t10RoundCtes]]) so engine and oracle cannot drift.
    *
    * Scale shape: at 100 TB the dictionary is ~10⁷ rows regardless of
    * corpus size, so training cost is (one corpus scan) + rounds ×
    * (dictionary scan) — each round two narrow dictionary passes, no
    * corpus re-reads; `BpeTrainSpec` pins hand-computed merges
    * (including overlap counting and greedy non-overlap), the
    * max-pair-count monotonicity invariant, and early exhaustion.
    */
  def t10BpeTrain(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    bpeTrainOver(s, words, BpeRounds)
  }

  /** One oracle round: pair counts via `lead`, best pair by (count
    * desc, pair asc), greedy-leftmost non-overlapping merge via
    * gaps-and-islands (consecutive candidate positions form an island —
    * only possible when a = b — and the even offsets from the island
    * start are taken; the row after a taken merge is consumed). */
  private def t10RoundCtes(k: Int): String = {
    val p = s"seq_r${k - 1}"
    s"""pairs_r$k AS (
      |  SELECT sym AS a, nxt AS b, sum(freq) AS c FROM (
      |    SELECT freq, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      |    FROM $p) x
      |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
      |best_r$k AS (SELECT a, b, c FROM pairs_r$k ORDER BY c DESC, a, b LIMIT 1),
      |cand_r$k AS (
      |  SELECT s.word, s.freq, s.pos, s.sym, s.nxt,
      |    coalesce(s.sym = b.a AND s.nxt = b.b, FALSE) AS is_cand
      |  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      |        FROM $p) s CROSS JOIN best_r$k b),
      |island_r$k AS (
      |  SELECT *, CASE WHEN is_cand THEN pos - ROW_NUMBER()
      |      OVER (PARTITION BY word, is_cand ORDER BY pos) END AS isl
      |  FROM cand_r$k),
      |taken_r$k AS (
      |  SELECT *, is_cand AND
      |      ((pos - min(pos) OVER (PARTITION BY word, isl)) % 2 = 0) AS taken
      |  FROM island_r$k),
      |seq_r$k AS (
      |  SELECT word, freq, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
      |  FROM (
      |    SELECT word, freq, pos,
      |      CASE WHEN taken THEN sym || nxt ELSE sym END AS sym,
      |      coalesce(lag(taken) OVER (PARTITION BY word ORDER BY pos), FALSE) AS consumed
      |    FROM taken_r$k) y
      |  WHERE NOT consumed)""".stripMargin
  }

  val t10Sql: String = {
    val rounds = (1 to BpeRounds).map(t10RoundCtes).mkString(",\n")
    val finals = (1 to BpeRounds).map(k =>
      s"SELECT $k AS round, a AS left_sym, b AS right_sym, a || b AS merged, " +
        s"CAST(c AS BIGINT) AS pair_count FROM best_r$k").mkString(" UNION ALL ")
    s"""WITH words AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |  WHERE length(word) > 0 GROUP BY word),
      |seq_r0 AS (
      |  SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos,
      |    unnest(string_split(word, '')) AS sym
      |  FROM words),
      |$rounds
      |SELECT * FROM ($finals) ORDER BY round""".stripMargin
  }

  // ---- T13: apply the trained BPE vocabulary -------------------------

  /** T13 — tokenize the corpus with the merge rules t10 learns: the
    * apply half of the tokenizer story (r13 verdict ask #3), the step a
    * pipeline actually runs between vocabulary training and t3's token
    * counting. Train first (the t10 path — the learned rule table is
    * the only driver state, ≤[[BpeRounds]] rows), then tokenize each
    * DISTINCT word once by replaying the rules in order through the
    * same greedy-leftmost [[mergeSyms]] fold (the dictionary trick
    * again: the fold runs |vocab| times, not |corpus| times), and join
    * the token sequences back to per-document word counts. Output one
    * (doc_id, token, cnt) row per document × token.
    *
    * Scale shape: one corpus-sized shuffle to the (doc, word) counts, a
    * word-keyed join against the tokenized dictionary (vocabulary-
    * sized — broadcastable at any corpus scale; AQE decides), one
    * final (doc, token) aggregation. Applying R rules is R chained
    * codegen'd folds over dictionary rows — corpus cost is independent
    * of R. The DuckDB oracle replays training CTE-for-CTE (the exact
    * [[t10RoundCtes]] chain, so train and apply cannot drift) and reads
    * the tokenization off the final round's sequences; `BpeApplySpec`
    * pins the reconstruction invariant (tokens concat back to the
    * word) and that learned merges actually bite.
    */
  def t13BpeApply(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // one corpus scan feeds train AND apply dict
    val rules = bpeTrainOver(s, words, BpeRounds)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    t13ApplyOver(docs, words, rules)
  }

  /** The apply core: replay `rules` over the word dictionary, join back
    * to per-doc word counts. Factored so a spec can apply a trained
    * rule set to a DIFFERENT corpus (the production shape). */
  private[graft] def t13ApplyOver(docs: DataFrame, words: DataFrame,
      rules: Seq[(String, String)]): DataFrame = {
    val dictTok = rules.foldLeft(
      words.select(col("word"), split(col("word"), "").as("syms"))) {
      case (df, (a, b)) => df.withColumn("syms", mergeSyms(col("syms"), a, b))
    }
    val docWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    docWords.join(dictTok.select(col("word"), col("syms")), "word")
      .select(col("doc_id"), col("n"), explode(col("syms")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(col("n")).as("cnt"))
      .orderBy("doc_id", "token")
  }

  val t13Sql: String = {
    val rounds = (1 to BpeRounds).map(t10RoundCtes).mkString(",\n")
    s"""WITH words AS (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |  WHERE length(word) > 0 GROUP BY word),
      |seq_r0 AS (
      |  SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos,
      |    unnest(string_split(word, '')) AS sym
      |  FROM words),
      |$rounds,
      |doc_words AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents) w
      |  WHERE length(word) > 0),
      |tok AS (
      |  SELECT d.doc_id, s.sym AS token
      |  FROM doc_words d JOIN seq_r$BpeRounds s USING (word))
      |SELECT doc_id, token, count(*) AS cnt
      |FROM tok GROUP BY doc_id, token
      |ORDER BY doc_id, token""".stripMargin
  }

  // ---- T11: per-document TF-IDF keyword extraction -------------------

  /** T11 — per-document keyword extraction: the top-3 terms of each doc
    * by TF-IDF, the curator's "what is this document about" signal next
    * to t2's "how good is it". Two corpus-linear shuffles (term
    * frequency per (doc, term); document frequency per term) plus one
    * doc-keyed window for the top-k — no per-doc corpus scans.
    *
    * Numerics: the IDF factor is the INTEGER surrogate
    * `idf_micro = (N · 10⁶) div df` instead of `ln(N/df)` — `ln` is
    * libm-dependent (NOT correctly rounded in either engine, unlike
    * sqrt) and a last-ulp disagreement flips rank ties; integer
    * division is bit-identical everywhere. Ranking by `tf · N/df` vs
    * `tf · ln(N/df)` weights tf more, which for a keyword signal is a
    * defensible (and exactly reproducible) variant — the hazard
    * discipline that moved s18 off CAST(float AS DECIMAL).
    */
  def t11Tfidf(s: SparkSession, d: String): DataFrame =
    t11Of(documents(s, d))

  /** The t11 core on ANY (doc_id, text) frame — frame-parameterized for
    * [[graft.tools.ScaleHeadroom]]. */
  private[graft] def t11Of(docs: DataFrame): DataFrame = {
    val n = docs.count() // bounded scalar, the k4 envelope discipline
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score", // integer div: `/` on longs would widen to double
        expr(s"tf * (CAST(${n * 1000000L} AS BIGINT) div df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  val t11Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents) x
      |  WHERE length(term) > 0 GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * ((n.n_docs * 1000000) // df.df) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term,
      |  tf, df, score
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ---- T12: per-source distribution drift ---------------------------

  /** T12 — per-source unigram-distribution drift: how far each source's
    * token distribution sits from the corpus mixture, the monitoring
    * statistic a pipeline tracks to catch a source going off-mix (a
    * crawler picking up boilerplate, a feed switching language) before
    * it poisons training data. The measure is L1 distance — kept
    * EXACTLY in integers by cross-multiplying the two denominators
    * away: L1·(Tₛ·T) = Σ_w |n(s,w)·T − n(w)·Tₛ|, with words ABSENT
    * from the source folded in closed form (Σ_{w∉s} n(w)·Tₛ =
    * T·Tₛ − Σ_{w∈s} n(w)·Tₛ), so the computation is linear in PRESENT
    * (source, word) postings — never the source×vocab grid — and both
    * engines replay it bit-identically (a float KL with transcendental
    * logs is the cross-engine hazard the t8 integer-surprisal
    * discipline exists to avoid).
    *
    * Spark-first shape: one (source, word)-keyed count, a word-keyed
    * and a source-keyed re-aggregation of it, a 1-row broadcast total,
    * and one posting-keyed join+sum. Scale: all shuffles are keyed by
    * word or source; the scaled integers stay under 2⁶³ up to ~10⁹
    * tokens per side — past that, production normalizes counts to
    * per-mille units at map time (k4's micro-unit discipline) before
    * the cross-multiply.
    */
  def t12SourceDrift(s: SparkSession, d: String): DataFrame =
    t12Of(documentsSpread(s, d))

  /** The t12 core over any (source, text) frame — factored for the
    * spec's closed-form corpora (identical mixture → drift 0; disjoint
    * vocabulary → the 2·Tₛ·T·(1−Tₛ/T) ceiling). */
  private[graft] def t12Of(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val cntSw = words.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n_sw"))
    val cntW = cntSw.groupBy(col("word")).agg(sum(col("n_sw")).as("n_w"))
    val tots = cntSw.groupBy(col("source"))
      .agg(sum(col("n_sw")).as("t_s"), count(lit(1)).as("n_vocab"))
    val tot = cntSw.agg(sum(col("n_sw")).as("t_all"))
    cntSw.join(cntW, "word")
      .join(tots, "source")
      .crossJoin(broadcast(tot))
      .withColumn("delta",
        abs(col("n_sw") * col("t_all") - col("n_w") * col("t_s"))
          - col("n_w") * col("t_s"))
      .groupBy(col("source"), col("t_s"), col("n_vocab"), col("t_all"))
      .agg(sum(col("delta")).as("sum_delta"))
      .withColumn("l1_scaled", col("t_s") * col("t_all") + col("sum_delta"))
      .withColumn("drift_ppm",
        expr("l1_scaled div greatest((2 * t_s * t_all) div 1000000, 1)"))
      .select(col("source"), col("t_s"), col("n_vocab"),
        col("l1_scaled"), col("drift_ppm"))
      .orderBy("source")
  }

  val t12Sql: String =
    """WITH w2 AS (
      |  SELECT source, word FROM (
      |    SELECT source,
      |      unnest(string_split_regex(trim(text), '\s+')) AS word
      |    FROM documents)
      |  WHERE len(word) > 0),
      |c_sw AS (
      |  SELECT source, word, count(*) AS n_sw FROM w2 GROUP BY 1, 2),
      |c_w AS (
      |  SELECT word, CAST(sum(n_sw) AS BIGINT) AS n_w
      |  FROM c_sw GROUP BY 1),
      |tots AS (
      |  SELECT source, CAST(sum(n_sw) AS BIGINT) AS t_s,
      |    count(*) AS n_vocab
      |  FROM c_sw GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_sw) AS BIGINT) AS t_all FROM c_sw),
      |per AS (
      |  SELECT s.source, t.t_s, t.n_vocab, a.t_all,
      |    CAST(sum(abs(s.n_sw * a.t_all - w.n_w * t.t_s)
      |      - w.n_w * t.t_s) AS BIGINT) AS sum_delta
      |  FROM c_sw s JOIN c_w w USING (word) JOIN tots t USING (source)
      |  CROSS JOIN tot a
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source, t_s, n_vocab,
      |  t_s * t_all + sum_delta AS l1_scaled,
      |  (t_s * t_all + sum_delta)
      |    // greatest((2 * t_s * t_all) // 1000000, 1) AS drift_ppm
      |FROM per ORDER BY source""".stripMargin

  // ---- T14: reference-LM quality filter (CCNet shape) ----------------

  /** Histogram resolution for the t14 tercile cut (the c7 discipline:
    * percentile cuts at bin resolution, never a global per-doc rank). */
  private[queries] val T14Bins = 128

  /** T14 — reference-LM perplexity bucketing, the CCNet shape (Wenzek
    * et al. 2020: score every document under a language model trained
    * on a TRUSTED reference corpus, then split the crawl into
    * head/middle/tail perplexity terciles — the quality signal
    * LLM-data pipelines filter and mix on). The reference here is the
    * `lang = 'en'` slice (the corpus's "wikipedia" stand-in); the
    * model is an add-one-smoothed BIGRAM LM over it — t8 scores
    * against the corpus's OWN unigram stats, t14 scores everything
    * against a FOREIGN trusted model with context, which is why
    * non-reference-like documents land in the tail.
    *
    * Cross-engine exactness (the t8 discipline, extended): per-token
    * surprisal −log₂ p̂(w|prev) = log₂(c(prev)+V) − log₂(c(prev,w)+1)
    * is taken at INTEGER floor-log₂ resolution via bit length
    * (`length(bin(x)) − 1`) — smoothed counts are exact BIGINTs, so
    * the whole score is integer arithmetic that replays bit-for-bit
    * (a float log differs in last-ulp across libm implementations;
    * the quantization costs resolution, not correctness, and the
    * tercile cut is bin-resolution anyway). The tercile cut reuses
    * c7's envelope → 128-bin histogram → cumulative-cut machinery
    * (driver state: 128 rows) — never a partition-less rank window.
    *
    * Scale shape: training is two map-side-combined counts over the
    * reference; scoring is a lag window PARTITIONED by doc plus two
    * vocabulary-keyed joins (broadcast at dictionary scale, shuffle
    * otherwise — the t8 ceiling rule); the cut is fixed 128-row state
    * at any corpus size.
    */
  def t14LmQualityFilter(s: SparkSession, d: String): DataFrame =
    t14Of(documentsSpread(s, d).select(col("doc_id"), col("lang"),
      col("text")))

  /** The t14 core over any (doc_id, lang, text) corpus — also the
    * scale-headroom entry point (reference slice = `lang = 'en'`). */
  private[graft] def t14Of(docs: DataFrame): DataFrame =
    lmQualityOver(docs, col("lang") === "en")

  /** The reference-LM scoring pipeline over any (doc_id, lang, text)
    * corpus and any reference predicate — the t14/t15 shared core.
    * `isRef` selects the TRUSTED slice the bigram model trains on;
    * everything (reference included) is then scored under that model
    * and tercile-cut.
    */
  private[graft] def lmQualityOver(docs: DataFrame,
      isRef: org.apache.spark.sql.Column): DataFrame = {
    val (cab, ca, v) = lmTrain(docs, isRef)
    val scored = lmScore(docs, cab, ca, v)
      .localCheckpoint() // envelope, histogram and labeling scan this
    val (qmin, width, cut1, cut2) = tercileCutsOf(scored)
    scored.withColumn("bin", lmBin(col("mean_bits"), qmin, width))
      .withColumn("bucket",
        when(col("bin") <= lit(cut1), lit("head"))
          .when(col("bin") <= lit(cut2), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("n_pairs"),
        col("total_bits"), col("mean_bits"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Adjacent-token pairs of a (doc_id, lang, text) frame — the LM unit
    * (docs under 2 tokens emit none).
    *
    * Pairs come straight off the token ARRAY: posexplode keeps `w` in
    * scope, so `prev` is `element_at(w, pos)` (1-based `element_at` at
    * the 0-based `pos` = the predecessor). The old formulation paired
    * neighbours with a lag window partitioned by doc — an Exchange of
    * EVERY token string plus a per-doc sort, per scoring pass (t14/t15
    * corpus-wide, st22 per micro-batch), to recover an adjacency the
    * array already had (guide §2.4: remove shuffles outright).
    * `LmPairsSpec` pins the two forms row-identical. The empty-token
    * filter runs once per doc on the array; split-after-trim only
    * yields an empty token for a blank doc, which `size(w) >= 2` drops
    * either way — kept for exactness with the SQL twin's
    * `len(w[i]) > 0`. */
  private[graft] def lmPairs(f: DataFrame): DataFrame =
    // No explicit size(w) >= 2 gate: posexplode emits nothing for an
    // empty array and `pos >= 1` drops single-token docs, so the gate
    // would only duplicate the (interpreted, once-per-doc) array-filter
    // expression into the pushed-down scan filter a third time.
    f.select(col("doc_id"), col("lang"),
        filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0).as("w"))
      .select(col("doc_id"), col("lang"), col("w"),
        posexplode(col("w")).as(Seq("pos", "word")))
      .filter(col("pos") >= 1)
      .select(col("doc_id"), col("lang"),
        element_at(col("w"), col("pos")).as("prev"), col("word"))

  /** The pre-rewrite window formulation of [[lmPairs]] — kept ONLY as
    * the equality oracle for `LmPairsSpec` (never on a query path). */
  private[graft] def lmPairsWindowed(f: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    f.select(col("doc_id"), col("lang"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .withColumn("prev",
        lag(col("word"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("lang"), col("prev"), col("word"))
  }

  /** Train the bigram reference LM on the `isRef` slice: the
    * (prev, word) count table, the prev-marginal table, and the
    * vocabulary size — the three frozen artifacts st22 broadcasts. */
  private[graft] def lmTrain(docs: DataFrame,
      isRef: org.apache.spark.sql.Column): (DataFrame, DataFrame, Long) = {
    val (_, cab, ca, v) = lmTrainWithPairs(docs, isRef)
    (cab, ca, v)
  }

  /** [[lmTrain]] that ALSO returns the materialized reference pair
    * relation it trained from — a caller that then scores the reference
    * slice (st22's frozen-cut derivation) reuses it instead of
    * re-tokenizing the slice. */
  private[graft] def lmTrainWithPairs(docs: DataFrame,
      isRef: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val refPairs = lmPairs(docs.filter(isRef))
      .localCheckpoint() // trains cab, ca and V from ONE materialization
    val cab = refPairs.groupBy(col("prev"), col("word"))
      .agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("prev")).agg(sum(col("cab")).as("ca"))
    val v = refPairs.select(col("word"))
      .union(refPairs.select(col("prev")))
      .distinct().count()
    (refPairs, cab, ca, v)
  }

  /** Score any (doc_id, lang, text) frame under a trained model:
    * per-doc (n_pairs, total_bits, mean_bits) at the integer
    * floor-log₂ resolution. Model tables join as given — pass them
    * pre-broadcast for the per-batch streaming plan. */
  private[graft] def lmScore(docs: DataFrame, cab: DataFrame,
      ca: DataFrame, v: Long): DataFrame =
    lmScorePairs(lmPairs(docs), cab, ca, v)

  /** [[lmScore]] over an ALREADY-derived (doc_id, lang, prev, word)
    * pair relation. */
  private[graft] def lmScorePairs(pairs: DataFrame, cab: DataFrame,
      ca: DataFrame, v: Long): DataFrame =
    pairs
      .join(cab, Seq("prev", "word"), "left")
      .join(ca, Seq("prev"), "left")
      .withColumn("bits",
        (length(expr(s"bin(coalesce(ca, 0) + $v)")) - lit(1)).cast("long") -
          (length(expr("bin(coalesce(cab, 0) + 1)")) - lit(1)).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("bits")).as("total_bits"))
      .withColumn("mean_bits", r6(col("total_bits") / col("n_pairs")))

  /** The envelope-clamped [[T14Bins]]-bin index of a mean-bits value.
    * The lower clamp only engages when scoring AGAINST a frozen
    * envelope (st22: a crawl doc can outscore the reference minimum);
    * under the global envelope of [[lmQualityOver]] bins are already
    * non-negative and the clamp is a no-op. */
  private[graft] def lmBin(mean: org.apache.spark.sql.Column,
      qmin: Double, width: Double): org.apache.spark.sql.Column =
    least(lit(T14Bins - 1), greatest(lit(0),
      floor((mean - lit(qmin)) / lit(width)).cast("int")))

  /** The c7-envelope → 128-bin histogram → cumulative tercile cut over
    * a scored relation: (qmin, bin width, head cut, middle cut).
    * Driver state is the bounded histogram (≤[[T14Bins]] rows). */
  private[graft] def tercileCutsOf(
      scored: DataFrame): (Double, Double, Int, Int) = {
    val env = scored.agg(min(col("mean_bits")), max(col("mean_bits")),
      count(lit(1))).head()
    val (qmin, qmax, n) = (env.getDouble(0), env.getDouble(1), env.getLong(2))
    val width = math.max(qmax - qmin, 1e-9) / T14Bins
    val hist = scored.withColumn("bin", lmBin(col("mean_bits"), qmin, width))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val cum = hist.scanLeft((0, 0L)) { case ((_, c), (b, cnt)) =>
      (b, c + cnt) }.drop(1)
    def cutFor(target: Long): Int =
      cum.find(_._2 >= target).map(_._1).getOrElse(T14Bins - 1)
    (qmin, width, cutFor(math.ceil(n / 3.0).toLong),
      cutFor(math.ceil(2.0 * n / 3.0).toLong))
  }

  /** T15 — the FROZEN-reference variant of t14 (r15 verdict carry):
    * production CCNet trains the reference LM ONCE on the trusted
    * corpus and ships it frozen — the model does not grow with the
    * crawl. t14's reference is the corpus's own 'en' slice, so under
    * corpus enlargement the model tables (cab/ca/V) grow too — the
    * measured 7.13× at 10× data. Here the reference is a FIXED half
    * of the 'en' slice (`doc_id % 2 = 0` — frozen by construction:
    * appending crawl data never changes it), so at scale the scoring
    * joins run against CONSTANT-size model tables and the whole job
    * is one corpus-linear scan + the fixed 128-bin cut.
    * `ScaleHeadroom`'s `t15_frozen_lm` row measures exactly that:
    * the reference stays the BASE slice while the scored corpus
    * enlarges 10×.
    */
  def t15FrozenLmQuality(s: SparkSession, d: String): DataFrame =
    lmQualityOver(
      documentsSpread(s, d).select(col("doc_id"), col("lang"), col("text")),
      col("lang") === "en" && col("doc_id") % 2 === 0)

  private def lmQualitySqlOver(refWhere: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, i AS pos, w[i] AS word
      |  FROM (SELECT doc_id, lang,
      |          string_split_regex(trim(text), '\\s+') AS w
      |        FROM documents),
      |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t
      |  WHERE len(w[i]) > 0),
      |prs AS (
      |  SELECT doc_id, lang, word,
      |    lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM toks),
      |pairs AS (SELECT doc_id, lang, prev, word FROM prs
      |          WHERE prev IS NOT NULL),
      |ref AS (SELECT prev, word FROM pairs WHERE $refWhere),
      |cab AS (SELECT prev, word, CAST(count(*) AS BIGINT) AS cab
      |        FROM ref GROUP BY 1, 2),
      |ca AS (SELECT prev, CAST(sum(cab) AS BIGINT) AS ca
      |       FROM cab GROUP BY 1),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
      |        SELECT word FROM ref UNION SELECT prev FROM ref)),
      |scored AS (
      |  SELECT p.doc_id, p.lang,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(
      |      (len(bin(coalesce(a.ca, 0) + v.v)) - 1) -
      |      (len(bin(coalesce(c.cab, 0) + 1)) - 1)) AS BIGINT) AS total_bits
      |  FROM pairs p
      |  LEFT JOIN cab c ON c.prev = p.prev AND c.word = p.word
      |  LEFT JOIN ca a ON a.prev = p.prev
      |  CROSS JOIN v
      |  GROUP BY p.doc_id, p.lang),
      |sc AS (
      |  SELECT doc_id, lang, n_pairs, total_bits,
      |    ${r6Sql("CAST(total_bits AS DOUBLE) / n_pairs")} AS mean_bits
      |  FROM scored),
      |r AS (SELECT min(mean_bits) AS qmin, max(mean_bits) AS qmax,
      |      count(*) AS n FROM sc),
      |b AS (
      |  SELECT sc.*, LEAST(${T14Bins - 1}, CAST(floor((mean_bits - qmin) /
      |    (GREATEST(qmax - qmin, 1e-9) / $T14Bins.0)) AS INT)) AS bin
      |  FROM sc CROSS JOIN r),
      |hist AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
      |cum AS (
      |  SELECT a.bin, CAST(sum(c.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist c ON c.bin <= a.bin GROUP BY a.bin),
      |cut1 AS (SELECT min(bin) AS c FROM cum CROSS JOIN r
      |         WHERE cum >= CAST(ceil(n / 3.0) AS BIGINT)),
      |cut2 AS (SELECT min(bin) AS c FROM cum CROSS JOIN r
      |         WHERE cum >= CAST(ceil(2.0 * n / 3.0) AS BIGINT))
      |SELECT doc_id, lang, n_pairs, total_bits, mean_bits,
      |  CASE WHEN bin <= (SELECT c FROM cut1) THEN 'head'
      |       WHEN bin <= (SELECT c FROM cut2) THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM b ORDER BY doc_id""".stripMargin

  val t14Sql: String = lmQualitySqlOver("lang = 'en'")

  val t15Sql: String = lmQualitySqlOver("lang = 'en' AND doc_id % 2 = 0")

  val queries: Seq[QueryDef] = Seq(
    QueryDef("t14_lm_quality_filter", t14LmQualityFilter, t14Sql),
    QueryDef("t15_frozen_lm_quality", t15FrozenLmQuality, t15Sql),
    QueryDef("t12_source_drift", t12SourceDrift, t12Sql),
    QueryDef("t1_lang_id", t1LangId, t1Sql),
    QueryDef("t10_bpe_train", t10BpeTrain, t10Sql),
    QueryDef("t13_bpe_apply", t13BpeApply, t13Sql),
    QueryDef("t11_tfidf", t11Tfidf, t11Sql),
    QueryDef("t9_novelty", t9Novelty, t9Sql),
    QueryDef("t8_surprisal", t8Surprisal, t8Sql),
    QueryDef("t2_quality_score", t2QualityScore, t2Sql),
    QueryDef("t3_token_count", t3TokenCount, t3Sql),
    QueryDef("t4_fingerprint", t4Fingerprint, t4Sql),
    QueryDef("t5_pii_redact", t5PiiRedact, t5Sql),
    QueryDef("t6_repetition", t6Repetition, t6Sql),
    QueryDef("t7_vocab_topk", t7VocabTopK, t7Sql),
  )
}
