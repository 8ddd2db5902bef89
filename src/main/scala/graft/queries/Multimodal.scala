package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QueryDef

/** Multimodal-column query surface: binary payloads with typed metadata
  * (full plumbing in [[graft.multimodal.Media]]; this is the
  * oracle-comparable slice over builtin binary functions).
  */
object Multimodal {

  /** M1 — binary column metadata: payload bytes (UTF-8 of text, standing
    * in for real media bytes), byte length, an 8-byte header fingerprint,
    * and the modality routed by id — the schema/typing layer every
    * multimodal pipeline needs before any decode.
    */
  def m1BinaryMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"))
      .select(col("doc_id"), col("kind"),
        length(col("payload")).as("n_bytes"),
        substring(hex(col("payload")), 1, 16).as("header_hex"),
        md5(col("payload")).as("payload_md5"))
      .orderBy("doc_id")

  val m1Sql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS kind,
      |  octet_length(encode(text)) AS n_bytes,
      |  substr(hex(encode(text)), 1, 16) AS header_hex,
      |  md5(text) AS payload_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** M2 — decode / feature-extract / resize / frame-sample over the
    * typed media Dataset: runs the REAL multimodal plumbing
    * ([[graft.multimodal.Media.extractFeatures]] — case-class encoders,
    * `mapPartitions` batching, binary payloads) end-to-end through the
    * oracle gate. The payloads carry GENUINE PNG/BMP/WAV headers and the
    * decode is real byte parsing (magic dispatch, endian-correct dims,
    * RIFF chunk walk); the oracle replays the decoded values from the
    * source columns the headers were built from, so a hash match proves
    * the encode→decode roundtrip is lossless — any flipped byte, wrong
    * endianness, or mis-walked chunk flips some row's decoded_* value.
    */
  def m2MediaFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Media
    Media.extractFeatures(Media.fromDocuments(documentsSpread(s, d)))
      .toDF()
      .orderBy("media_id")
  }

  /** The header roundtrip + feature arithmetic replayed relationally:
    * text is ASCII in the test tables, so body byte-sum ==
    * codepoint-sum; header lengths are per-format constants (PNG 33,
    * WAV 44, BMP 54); thumbnail fit and frame sampling are pure integer
    * arithmetic (`//` floor-division matches JVM positive-int division).
    * doc_id%3: 0 → image/png, 1 → audio/wav, 2 → video/bmp.
    */
  val m2Sql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS kind,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
      |    ELSE 'bmp' END AS format,
      |  length(text) + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 44
      |    ELSE 54 END AS n_bytes,
      |  CAST(coalesce(list_sum(list_transform(range(1, length(text)+1),
      |    i -> ascii(text[i]))), 0) AS BIGINT) AS checksum,
      |  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE w END AS decoded_w,
      |  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE h END AS decoded_h,
      |  CASE WHEN doc_id % 3 = 1 THEN 16000 + (doc_id % 8) * 1000
      |    ELSE 0 END AS decoded_rate,
      |  CASE WHEN doc_id % 3 = 1 THEN 0
      |       WHEN w <= 128 AND h <= 128 THEN w
      |       WHEN w >= h THEN 128
      |       ELSE greatest(1, (w * 128) // h) END AS thumb_w,
      |  CASE WHEN doc_id % 3 = 1 THEN 0
      |       WHEN w <= 128 AND h <= 128 THEN h
      |       WHEN w >= h THEN greatest(1, (h * 128) // w)
      |       ELSE 128 END AS thumb_h,
      |  CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 0
      |    ELSE ((length(text) // 64 + 1) + 9) // 10 END AS n_frames_sampled
      |FROM (SELECT doc_id, text,
      |        n_chars % 640 + 16 AS w, n_chars % 480 + 9 AS h
      |      FROM documents)
      |ORDER BY media_id""".stripMargin

  /** M3 — multimodal dedup (r10 verdict #7: the m-family joined to the
    * d-family): media as a first-class DEDUP surface, not just a decode
    * demo.
    *
    *  - EXACT dedup (the d1 machinery over bytes): identity is
    *    `md5(payload)` of the REAL encoded payload — header bytes
    *    included, so two media that differ only in sample rate or
    *    dimensions are NOT duplicates even with identical body text.
    *    Each record gets its class representative (min media_id) and
    *    class size.
    *  - NEAR-DUP blocking (the d3/d5 banding idea over HEADER
    *    features): candidate buckets keyed by
    *    (format, ⌊w/16⌋×⌊h/16⌋, ⌊rate/2000⌋) from the DECODED header —
    *    the "same format, similar dims / sample rate" candidate
    *    generator a media pipeline runs before any expensive
    *    content-level comparison; the bucket size is each record's
    *    candidate count.
    *
    * The oracle replays payload identity relationally — the payload is
    * a pure function of (format, text, rate, w, h), so the md5 classes
    * must match the tuple classes partition-for-partition: a hash
    * match certifies byte-level identity == the declarative rule AND
    * that the near-dup features come from the real decode.
    *
    * Scale shape: one shuffle on the md5 identity key (exactly d1's
    * hash-groupBy shape), one on the bucket key; both windows are
    * bounded per class/bucket. No pair emission — the quadratic step
    * stays inside buckets, as in d3/d5.
    *
    * Duplicate injection (the c1b discipline): the synthetic corpus
    * has ZERO byte-identical texts, so the raw media table would
    * certify only the negative path. Every 7th media is cloned under
    * a shifted id BEFORE encoding-independent processing — clones are
    * byte-identical payloads with real dup classes of size ≥ 2, and
    * the oracle replays the same injection relationally, so both the
    * dup-positive and dup-negative paths are under the hash.
    */
  def m3MediaDedup(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Media
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val origin = Media.fromDocuments(documentsSpread(s, d))
    val ds = origin.union(origin.filter(_.media_id % 7 == 0)
      .map(r => r.copy(media_id = r.media_id + 1000000000L)))
    val ids = ds.toDF().select(col("media_id"), md5(col("payload")).as("pmd5"))
    val feats = Media.extractFeatures(ds).toDF()
      .select(col("media_id"), col("kind"), col("format"),
        col("decoded_w"), col("decoded_h"), col("decoded_rate"))
    val wG = Window.partitionBy(col("pmd5"))
    val base = feats.join(ids, "media_id")
      .withColumn("group_rep", min(col("media_id")).over(wG))
      .withColumn("group_size", count(lit(1)).over(wG))
      .withColumn("is_dup",
        (col("media_id") =!= col("group_rep")).cast("int"))
      .withColumn("nd_fp", concat_ws(":", col("format"),
        concat(expr("decoded_w div 16").cast("string"), lit("x"),
          expr("decoded_h div 16").cast("string")),
        expr("decoded_rate div 2000").cast("string")))
    base
      .withColumn("nd_bucket_size",
        count(lit(1)).over(Window.partitionBy(col("nd_fp"))))
      .select(col("media_id"), col("kind"), col("format"),
        col("group_rep"), col("group_size"), col("is_dup"),
        col("nd_fp"), col("nd_bucket_size"))
      .orderBy("media_id")
  }

  val m3Sql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |      ELSE 'video' END AS kind,
      |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
      |      ELSE 'bmp' END AS format,
      |    text,
      |    CASE WHEN doc_id % 3 = 1 THEN 16000 + (doc_id % 8) * 1000
      |      ELSE 0 END AS rate,
      |    CASE WHEN doc_id % 3 = 1 THEN 0
      |      ELSE n_chars % 640 + 16 END AS w,
      |    CASE WHEN doc_id % 3 = 1 THEN 0
      |      ELSE n_chars % 480 + 9 END AS h
      |  FROM documents),
      |m AS (
      |  SELECT * FROM b
      |  UNION ALL
      |  SELECT media_id + 1000000000, kind, format, text, rate, w, h
      |  FROM b WHERE media_id % 7 = 0)
      |SELECT media_id, kind, format,
      |  min(media_id) OVER (PARTITION BY format, text, rate, w, h)
      |    AS group_rep,
      |  count(*) OVER (PARTITION BY format, text, rate, w, h)
      |    AS group_size,
      |  CASE WHEN media_id <> min(media_id)
      |      OVER (PARTITION BY format, text, rate, w, h)
      |    THEN 1 ELSE 0 END AS is_dup,
      |  format || ':' || CAST(w // 16 AS VARCHAR) || 'x'
      |    || CAST(h // 16 AS VARCHAR) || ':'
      |    || CAST(rate // 2000 AS VARCHAR) AS nd_fp,
      |  count(*) OVER (PARTITION BY format, w // 16, h // 16, rate // 2000)
      |    AS nd_bucket_size
      |FROM m ORDER BY media_id""".stripMargin

  /** M4 — payload-LEVEL media near-dup (r11 verdict stretch #7): m3's
    * header-feature blocking buckets by (format, dims, rate), which at
    * 100 TB degenerates to one bucket per common resolution; a real
    * candidate generator must key on CONTENT. Here the d9 discipline is
    * applied to the payload itself: the REAL header decoder
    * ([[graft.multimodal.Media.decodeHeader]] — magic dispatch, RIFF
    * walk) locates each payload's body offset, 8-byte body blocks at
    * stride 4 (half-overlapping — the "pixel blocks" of this synthetic
    * codec) are hashed to 60 bits and folded into a SimHash fingerprint
    * ([[Dedup.simhash60Fold]]), and candidates come from a 4×15-bit
    * pigeonhole band join ([[Dedup.bandedHammingPairs]], hamming ≤ 3,
    * format-keyed) — never all-pairs, exactly d9's production shape.
    *
    * The oracle replays the whole chain from the source text (the body
    * bytes ARE the text — m2's roundtrip certifies that), so a hash
    * match proves the real decoder found the right body offset AND the
    * fingerprint/banding arithmetic. Clone injection (every 7th media,
    * as in m3) makes hamming-0 pairs data-reachable; near-dup texts
    * surface at 1–3.
    *
    * Scale shape: decode is map-side (typed map, no shuffle of payload
    * bytes beyond the injected-clone union); the SimHash fold is one
    * map-combinable shuffle of (media_id, format, h) rows; the band
    * join is equi-keyed over 4·2^15×formats buckets. At 100 TB payload
    * bytes never cross a shuffle — only 60-bit fingerprints do.
    */
  def m4PayloadNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Media
    import s.implicits._
    val origin = Media.fromDocuments(documentsSpread(s, d))
    val ds = origin.union(origin.filter(_.media_id % 7 == 0)
      .map(r => r.copy(media_id = r.media_id + 1000000000L)))
    val body = ds.map { r =>
      val hdr = Media.decodeHeader(r.payload)
      (r.media_id, hdr.format,
        new String(r.payload, hdr.bodyOffset,
          r.payload.length - hdr.bodyOffset,
          java.nio.charset.StandardCharsets.UTF_8))
    }.toDF("doc_id", "format", "body")
    m4PairsOf(body)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("format"), col("hamming"))
      .orderBy("media_a", "media_b")
  }

  /** The data-sized stage of m4 over any (doc_id, format, body) frame:
    * stride-4 8-byte block shingles → 60-bit SimHash fold → 4×15-bit
    * format-keyed band pairs. Factored so `graft.tools.ScaleHeadroom`
    * can measure its growth on an enlarged corpus.
    */
  def m4PairsOf(body: DataFrame): DataFrame = {
    val blocks = body.select(col("doc_id"), col("format"),
        explode(array_distinct(expr(
          """CASE WHEN length(body) >= 1 THEN
            |  transform(sequence(0, CAST((length(body) - 1) div 4 AS INT)),
            |    i -> substring(body, i * 4 + 1, 8))
            |ELSE array() END""".stripMargin))).as("blk"))
      .withColumn("h",
        conv(substring(md5(col("blk")), 1, 15), 16, 10).cast("long"))
    val fp = Dedup.simhash60Fold(blocks, Seq("doc_id", "format"))
    Dedup.bandedHammingPairs(fp, nBands = 4, bandBits = 15,
      maxHamming = 3, sameKeys = Seq("format"))
  }

  val m4Sql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
      |      ELSE 'bmp' END AS format,
      |    text
      |  FROM documents),
      |m AS (
      |  SELECT * FROM b
      |  UNION ALL
      |  SELECT media_id + 1000000000 AS media_id, format, text
      |  FROM b WHERE media_id % 7 = 0),
      |blks AS (
      |  SELECT media_id, format, unnest(list_distinct(
      |    list_transform(range(1, len(text) + 1, 4),
      |      i -> substr(text, i, 8)))) AS blk
      |  FROM m),
      |toks AS (
      |  SELECT media_id, format,
      |    ('0x' || substr(md5(blk), 1, 15))::BIGINT AS h
      |  FROM blks),
      |bits AS (
      |  SELECT media_id, format, b,
      |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS bit_sum
      |  FROM toks, (SELECT unnest(range(0, 60)) AS b)
      |  GROUP BY 1, 2, 3),
      |fp AS (
      |  SELECT media_id, format,
      |    CAST(sum(CASE WHEN bit_sum > 0 THEN (2::BIGINT ^ b)::BIGINT
      |             ELSE 0 END) AS BIGINT) AS simhash64
      |  FROM bits GROUP BY 1, 2),
      |bands AS (
      |  SELECT media_id, format, simhash64, b AS band,
      |    (simhash64 >> (b * 15)) & 32767 AS key
      |  FROM fp, (SELECT unnest(range(0, 4)) AS b))
      |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
      |  a.format AS format,
      |  bit_count(xor(a.simhash64, b.simhash64)) AS hamming
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.key = b.key AND a.format = b.format
      |    AND a.media_id < b.media_id
      |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
      |ORDER BY media_a, media_b""".stripMargin

  /** M5 — media downsampling, the byte-level TRANSFORM step the m-family
    * lacked (m2 computes thumbnail/frame-sample METADATA; m5 performs
    * the decimation): audio keeps every 4th PCM sample with the rate
    * divided to match, video keeps every 10th 64-byte frame unit,
    * stills pass through — then re-encodes behind the same verified
    * header layer and DECODES THE RESULT BACK, so the output row
    * carries the resampled artifact's own parsed header (an invalid
    * artifact fails in the operator, not downstream). The oracle
    * replays the stride arithmetic over the synthetic body bytes
    * (ASCII text ≡ body, the m2 discipline) including the re-decoded
    * rate/dims — certifying both the decimation and the roundtrip.
    *
    * Scale shape: mapPartitions, one pass, payloads never shuffle; at
    * 100 TB this is the shape of any per-record transcode (a real
    * codec slots in behind the same header layer, same batching).
    */
  def m5MediaDownsample(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Media
    Media.downsample(Media.fromDocuments(documentsSpread(s, d)))
      .toDF()
      .orderBy("media_id")
  }

  val m5Sql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
      |    ELSE 'bmp' END AS format,
      |  CAST(length(text) AS INTEGER) AS orig_body_bytes,
      |  CAST(CASE doc_id % 3
      |    WHEN 0 THEN 1
      |    WHEN 1 THEN (length(text) + 3) // 4
      |    ELSE ((length(text) // 64 + 1) + 9) // 10 END AS INTEGER)
      |    AS kept_units,
      |  CAST(CASE doc_id % 3
      |    WHEN 0 THEN 33 + length(text)
      |    WHEN 1 THEN 44 + (length(text) + 3) // 4
      |    ELSE 54 + len(list_filter(range(1, length(text) + 1),
      |      i -> ((i - 1) // 64) % 10 = 0)) END AS INTEGER) AS new_n_bytes,
      |  CAST(CASE doc_id % 3
      |    WHEN 0 THEN coalesce(list_sum(list_transform(
      |      range(1, length(text) + 1), i -> ascii(text[i]))), 0)
      |    WHEN 1 THEN coalesce(list_sum(list_transform(
      |      list_filter(range(1, length(text) + 1), i -> (i - 1) % 4 = 0),
      |      i -> ascii(text[i]))), 0)
      |    ELSE coalesce(list_sum(list_transform(
      |      list_filter(range(1, length(text) + 1),
      |        i -> ((i - 1) // 64) % 10 = 0),
      |      i -> ascii(text[i]))), 0) END AS BIGINT) AS new_checksum,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE w END AS INTEGER)
      |    AS re_w,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE h END AS INTEGER)
      |    AS re_h,
      |  CAST(CASE WHEN doc_id % 3 = 1
      |    THEN (16000 + (doc_id % 8) * 1000) // 4 ELSE 0 END AS INTEGER)
      |    AS re_rate
      |FROM (SELECT doc_id, text,
      |        n_chars % 640 + 16 AS w, n_chars % 480 + 9 AS h
      |      FROM documents)
      |ORDER BY media_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("m5_media_downsample", m5MediaDownsample, m5Sql),
    QueryDef("m1_binary_meta", m1BinaryMeta, m1Sql),
    QueryDef("m2_media_features", m2MediaFeatures, m2Sql),
    QueryDef("m3_media_dedup", m3MediaDedup, m3Sql),
    QueryDef("m4_payload_neardup", m4PayloadNearDup, m4Sql),
  )
}
