package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run decode / feature-extraction as a
  * partition-local batch operator.
  *
  * The decode step itself is STUBBED (no image/audio libraries in this
  * container — see the builder prompt): [[stubDecode]] derives a
  * deterministic fake feature vector from the payload bytes. Everything
  * around it — the binary column, the metadata struct, the mapPartitions
  * batch shape, the output schema — is the real plumbing a production
  * decoder drops into.
  *
  * Scale notes: decode is per-row CPU-bound work with no shuffle; the
  * mapPartitions boundary amortizes per-batch library init (the expensive
  * part of real decoders) exactly like Python's `mapInPandas` batches.
  * Payload bytes stay off the shuffle: downstream aggregations only carry
  * the (small) feature vectors and metadata.
  */
object MultimodalOps {

  type Q = (SparkSession, String) => DataFrame

  /** Media record: opaque payload + typed metadata (the schema a real
    * image/audio table would carry). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("source", StringType, nullable = true))), nullable = false)))

  /** Deterministic decode stub: "decodes" a payload into an 8-dim feature
    * vector from byte statistics (sum, min, max, first/last bytes, length
    * buckets). A real decoder (JPEG → pixels → embedding) replaces ONLY
    * this function; signature and batch shape stay.
    */
  def stubDecode(payload: Array[Byte]): Array[Float] = {
    var sum = 0L; var mn = 255; var mx = 0
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      sum += b; if (b < mn) mn = b; if (b > mx) mx = b
      i += 1
    }
    val n = math.max(1, payload.length)
    Array(
      payload.length.toFloat,
      (sum.toDouble / n).toFloat,
      mn.toFloat, mx.toFloat,
      (if (payload.nonEmpty) payload(0) & 0xff else 0).toFloat,
      (if (payload.nonEmpty) payload(payload.length - 1) & 0xff else 0).toFloat,
      (sum % 251).toFloat,
      (payload.length % 17).toFloat)
  }

  /** The partition-local decode operator: binary-in, features-out, batched
    * per partition (library init would happen once per partition here). */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields.filterNot(_.name == "payload") :+
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = media.schema.fields.indices.filterNot(_ == payloadIdx)
    val rdd = media.rdd.mapPartitions { rows =>
      // per-partition init happens here (decoder handles, model weights…)
      rows.map { r =>
        val feats = stubDecode(r.getAs[Array[Byte]](payloadIdx))
        Row.fromSeq(keepIdx.map(r.get) :+ feats.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** q31: end-to-end multimodal pipeline over `documents`: text payload →
    * binary media record with metadata → decode-stub features → per-source
    * feature aggregation. The whole query is oracle-checkable because the
    * stub's features are byte arithmetic DuckDB can replicate.
    */
  val q31MultimodalDecode: Q = (s, d) => {
    val media = documents(s, d).select(
      col("doc_id"),
      lit("text/plain").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        col("source").as("source")).as("meta"))
    val decoded = decodeFeatures(media)
    decoded.select(
      col("doc_id"), col("media_type"),
      col("meta.n_bytes").as("n_bytes"), col("meta.source").as("source"),
      col("features")(0).cast("int").as("f_len"),
      round(col("features")(1).cast("double"), 3).as("f_mean_byte"),
      col("features")(2).cast("int").as("f_min_byte"),
      col("features")(3).cast("int").as("f_max_byte"),
      col("features")(6).cast("int").as("f_checksum"))
      .orderBy("doc_id")
  }
  // The stub's byte stats over UTF-8 text == char stats DuckDB can compute:
  // the synthetic documents are ASCII, so bytes == code points.
  val q31Sql: String =
    """WITH bytes AS (
      |  SELECT doc_id, source, encode(text) AS payload,
      |         list_transform(range(1, LENGTH(text) + 1),
      |                        i -> ascii(SUBSTR(text, CAST(i AS INT), 1))) AS bs
      |  FROM documents)
      |SELECT doc_id, 'text/plain' AS media_type,
      |  octet_length(payload) AS n_bytes, source,
      |  octet_length(payload) AS f_len,
      |  ROUND(CAST(CAST(CAST(list_sum(bs) AS DOUBLE) / GREATEST(1, octet_length(payload)) AS FLOAT) AS DOUBLE), 3) AS f_mean_byte,
      |  list_min(bs) AS f_min_byte,
      |  list_max(bs) AS f_max_byte,
      |  CAST(list_sum(bs) % 251 AS INT) AS f_checksum
      |FROM bytes ORDER BY doc_id""".stripMargin

  /** Resize stub: downsample a payload by averaging each `factor`-byte
    * block (the "thumbnail" shape: binary in, smaller binary out). A real
    * image resize replaces only this function; the schema (binary→binary)
    * and the narrow per-row execution are the production plumbing. */
  def stubResize(payload: Array[Byte], factor: Int): Array[Byte] = {
    if (payload.isEmpty) return Array.emptyByteArray
    val out = new Array[Byte]((payload.length + factor - 1) / factor)
    var o = 0
    while (o < out.length) {
      val start = o * factor
      val end = math.min(start + factor, payload.length)
      var sum = 0
      var i = start
      while (i < end) { sum += payload(i) & 0xff; i += 1 }
      out(o) = (sum / (end - start)).toByte
      o += 1
    }
    out
  }

  /** Frame sampling: split a payload into fixed-size frames and keep every
    * `stride`-th — the video-pipeline shape (one media row → many frame
    * rows, the UDTF/explode form). Emits per-frame byte features; a real
    * decoder swaps the feature step, the explode stays. */
  private val frameFeatures = udf { (payload: Array[Byte]) =>
    val frameSize = 100; val stride = 2
    val nFrames = (payload.length + frameSize - 1) / frameSize
    (0 until nFrames).filter(_ % stride == 0).map { f =>
      val start = f * frameSize
      val end = math.min(start + frameSize, payload.length)
      var sum = 0L
      var i = start
      while (i < end) { sum += payload(i) & 0xff; i += 1 }
      (f, end - start, (sum % 251).toInt)
    }
  }

  /** q43: frame sampling over `documents` as synthetic media — 100-byte
    * frames, every 2nd kept, per-frame length + checksum. One narrow pass
    * + explode; frames never shuffle (the aggregation downstream would
    * carry only features). Oracle-checkable because the synthetic docs are
    * ASCII (bytes == code points, as q31). */
  val q43FrameSample: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"),
        explode(frameFeatures(encode(col("text"), "UTF-8"))).as("f"))
      .select(col("doc_id"), col("f._1").as("frame_idx"),
        col("f._2").as("n_bytes"), col("f._3").as("checksum"))
      .orderBy("doc_id", "frame_idx")
  }
  val q43Sql: String =
    """WITH fi AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, CAST(CEIL(LENGTH(text) / 100.0) AS BIGINT))) AS i
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, CAST(i AS INT) AS frame_idx,
      |    SUBSTR(text, CAST(i * 100 + 1 AS INT), 100) AS frame
      |  FROM fi WHERE i % 2 = 0)
      |SELECT doc_id, frame_idx, LENGTH(frame) AS n_bytes,
      |  CAST(list_sum(list_transform(range(1, LENGTH(frame) + 1),
      |       j -> ascii(SUBSTR(frame, CAST(j AS INT), 1)))) % 251 AS INT) AS checksum
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Parse image dimensions from real PNG / JPEG header bytes — pure byte
    * arithmetic, no image library. Returns (format, width, height) or null
    * when the payload is neither.
    *
    *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, then the IHDR
    *    chunk (always first): 4-byte length + "IHDR" + width/height as
    *    big-endian u32 at offsets 16 and 20.
    *  - JPEG: SOI `FF D8`, then a MARKER SCAN — segments are
    *    `FF <marker> <len:be16> <payload>` with variable lengths (APP0,
    *    EXIF, comments …) until a start-of-frame marker (C0–CF except the
    *    non-SOF C4/C8/CC), whose payload is precision:u8, height:be16,
    *    width:be16. This is the part a fixed-offset reader gets wrong on
    *    real files.
    *
    * This is the production header-sniff pass of an image-ingest pipeline
    * (dimension filtering, aspect bucketing, decode-cost estimation) —
    * per-row byte arithmetic at scan speed, no shuffle, payload never
    * leaves the partition. */
  def parseImageDims(payload: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = payload(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (payload.length >= 24 &&
        u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4e && u8(3) == 0x47 &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
        u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
      Some(("png", be32(16).toInt, be32(20).toInt))
    } else if (payload.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      while (i + 9 <= payload.length) {
        if (u8(i) != 0xff) return None // desynced — not a marker boundary
        val m = u8(i + 1)
        if (m == 0xd9 || m == 0xda) return None // EOI / scan data: no SOF seen
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) return Some(("jpeg", be16(i + 7), be16(i + 5)))
        i += 2 + be16(i + 2)
      }
      None
    } else None
  }

  /** q93: image-header metadata extraction as a gate query. The testdata
    * has no real media files, so each document deterministically becomes a
    * synthetic-but-structurally-REAL image payload (valid PNG signature +
    * IHDR, or valid JPEG marker stream with variable-length APP0/COM
    * segments before the SOF — built from hex in BOTH engines, so the
    * binary is bit-identical); [[parseImageDims]] then recovers
    * (format, width, height) from the BYTES — the real marker scan, which
    * the variable segment lengths force to actually walk the stream — and
    * the result aggregates by (source, format, resolution bucket).
    * ImageMetaSpec additionally pins the parser on golden bytes from
    * real-world files so builder+parser can't be consistently wrong. */
  val q93ImageMeta: Q = (s, d) => {
    val media = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("w", (lit(16) + pmod(col("n_chars") * 5, lit(2000))).cast("int"))
      .withColumn("h", (lit(16) + pmod(col("doc_id") * 7, lit(2000))).cast("int"))
      .withColumn("pad0", pmod(col("doc_id"), lit(6)).cast("int"))
      .withColumn("pad1", pmod(col("doc_id") * 3, lit(5)).cast("int"))
      .withColumn("hx", expr(
        """CASE WHEN doc_id % 2 = 0 THEN
          |  concat('89504e470d0a1a0a', '0000000d', '49484452',
          |         lpad(lower(hex(w)), 8, '0'), lpad(lower(hex(h)), 8, '0'),
          |         '0806000000', '00000000')
          |ELSE
          |  concat('ffd8',
          |         'ffe0', lpad(lower(hex(7 + pad0)), 4, '0'), '4a46494600',
          |         repeat('00', pad0),
          |         'fffe', lpad(lower(hex(2 + pad1)), 4, '0'), repeat('00', pad1),
          |         'ffc0', '0011', '08',
          |         lpad(lower(hex(h)), 4, '0'), lpad(lower(hex(w)), 4, '0'),
          |         '03011100021101031101', 'ffd9')
          |END""".stripMargin))
      .select(col("doc_id"), col("source"), unhex(col("hx")).as("payload"))
    val parse = udf { (p: Array[Byte]) => parseImageDims(p) }
    media.select(col("doc_id"), col("source"), parse(col("payload")).as("m"))
      .select(col("doc_id"), col("source"),
        col("m._1").as("fmt"), col("m._2").as("width"), col("m._3").as("height"))
      // a null fmt here means the parser failed on a payload the builder
      // swears is valid — it groups as a visible (source, null) row and
      // hash-mismatches the oracle, not silently dropped
      .groupBy(col("source"), col("fmt"),
        expr("CAST((CAST(width AS BIGINT) * height) DIV 200000 AS INT)").as("res_bucket"))
      .agg(count(lit(1)).as("n"),
        sum("width").as("sum_w"), sum("height").as("sum_h"),
        min("width").as("min_w"), max("height").as("max_h"))
      .orderBy("source", "fmt", "res_bucket")
  }
  /** Oracle: the SAME hex payload, parsed from the hex string (two chars
    * per byte — `CAST('0x'||substr(...) AS INT)` is DuckDB's byte read),
    * including the genuine JPEG marker walk across the two variable-length
    * segments. */
  val q93Sql: String =
    """WITH img AS (
      |  SELECT doc_id, source,
      |    16 + (n_chars * 5) % 2000 AS w,
      |    16 + (doc_id * 7) % 2000 AS h,
      |    CAST(doc_id % 6 AS INT) AS pad0,
      |    CAST((doc_id * 3) % 5 AS INT) AS pad1
      |  FROM documents),
      |payload AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 2 = 0 THEN
      |      '89504e470d0a1a0a' || '0000000d' || '49484452' ||
      |      lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0') ||
      |      '0806000000' || '00000000'
      |    ELSE
      |      'ffd8' ||
      |      'ffe0' || lpad(to_hex(7 + pad0), 4, '0') || '4a46494600' || repeat('00', pad0) ||
      |      'fffe' || lpad(to_hex(2 + pad1), 4, '0') || repeat('00', pad1) ||
      |      'ffc0' || '0011' || '08' || lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0') ||
      |      '03011100021101031101' ||
      |      'ffd9'
      |    END AS hx
      |  FROM img),
      |-- JPEG marker walk, replayed on the hex (2 chars/byte, 1-based
      |-- substr; byte B reads at position 2B+1): segment lengths are READ
      |-- from the stream via TRY_CAST('0x'||…) — NULL on the png rows —
      |-- not recomputed from pad0/pad1
      |walk1 AS (
      |  SELECT *,
      |    CASE WHEN doc_id % 2 <> 0 THEN
      |      4 + TRY_CAST(concat('0x', substr(hx, 9, 4)) AS BIGINT)
      |    END AS after_app0
      |  FROM payload),
      |walk2 AS (
      |  SELECT *,
      |    CASE WHEN doc_id % 2 <> 0 THEN
      |      after_app0 + 2 + TRY_CAST(concat('0x',
      |        substr(hx, CAST(after_app0 * 2 + 5 AS INT), 4)) AS BIGINT)
      |    END AS sof_off
      |  FROM walk1),
      |parsed AS (
      |  SELECT doc_id, source,
      |    CASE WHEN substr(hx, 1, 16) = '89504e470d0a1a0a' THEN 'png'
      |         WHEN substr(hx, 1, 4) = 'ffd8' THEN 'jpeg' END AS fmt,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN TRY_CAST(concat('0x', substr(hx, 33, 8)) AS BIGINT)
      |      ELSE TRY_CAST(concat('0x',
      |        substr(hx, CAST(sof_off * 2 + 15 AS INT), 4)) AS BIGINT)
      |    END AS width,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN TRY_CAST(concat('0x', substr(hx, 41, 8)) AS BIGINT)
      |      ELSE TRY_CAST(concat('0x',
      |        substr(hx, CAST(sof_off * 2 + 11 AS INT), 4)) AS BIGINT)
      |    END AS height
      |  FROM walk2)
      |SELECT source, fmt,
      |  CAST((width * height) // 200000 AS INT) AS res_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(width) AS BIGINT) AS sum_w, CAST(SUM(height) AS BIGINT) AS sum_h,
      |  MIN(width) AS min_w, MAX(height) AS max_h
      |FROM parsed
      |GROUP BY 1, 2, 3 ORDER BY source, fmt, res_bucket""".stripMargin

  /** Parse audio metadata from a RIFF/WAVE header — pure byte arithmetic,
    * LITTLE-endian (the image parsers above are big-endian; a header
    * sniffer that hardcodes one order fails on the other family). Returns
    * (channels, sample_rate, bits, data_bytes, duration_ms) or None.
    *
    * Real chunk walk: after the 12-byte RIFF/WAVE preamble, chunks are
    * `id:4B size:le32 payload (odd sizes padded)` in ANY order with
    * optional LIST/INFO metadata between `fmt ` and `data` — so the
    * offsets of both must be discovered, not assumed. Duration comes from
    * the data size over the READ byte-rate field (not recomputed), the
    * way a header-only sniff prices decode cost without touching samples. */
  def parseWavMeta(p: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def id(i: Int, s: String): Boolean =
      i + 4 <= p.length && (0 until 4).forall(k => u8(i + k) == s.charAt(k).toInt)
    if (p.length < 20 || !id(0, "RIFF") || !id(8, "WAVE")) return None
    var channels = -1; var rate = -1; var bits = -1; var byteRate = -1L
    var dataBytes = -1L
    var i = 12
    while (i + 8 <= p.length && dataBytes < 0) {
      val size = le32(i + 4)
      if (id(i, "fmt ") && size >= 16 && i + 8 + 16 <= p.length) {
        channels = le16(i + 10); rate = le32(i + 12).toInt
        byteRate = le32(i + 16); bits = le16(i + 22)
      } else if (id(i, "data")) {
        dataBytes = size // payload itself need not be present (header sniff)
      }
      if (dataBytes < 0) {
        // odd chunk sizes are pad-aligned; advance in Long space — a
        // crafted 32-bit size could otherwise truncate the step to 0 on
        // toInt and spin forever
        val next = i.toLong + 8L + size + (size & 1L)
        if (next <= i || next > p.length.toLong) return None // no further chunk fits
        i = next.toInt
      }
    }
    if (channels <= 0 || rate <= 0 || byteRate <= 0 || dataBytes < 0) None
    else Some((channels, rate, bits, dataBytes, dataBytes * 1000L / byteRate))
  }

  // SQL-fragment helpers for the WAV builder/oracle: neither engine has
  // little-endian hex primitives, so these emit the pure byte-swap slice
  // arithmetic as SQL text (the value expression is inlined per slice —
  // pure, so duplication is only syntactic)
  private def hexPadSpark(v: String, w: Int) = s"lpad(lower(hex($v)), $w, '0')"
  private def hexPadDuck(v: String, w: Int) = s"lpad(lower(to_hex($v)), $w, '0')"
  private def le2(v: String, hx: (String, Int) => String): String = {
    val h = hx(v, 4)
    s"concat(substr($h, 3, 2), substr($h, 1, 2))"
  }
  private def le4(v: String, hx: (String, Int) => String): String = {
    val h = hx(v, 8)
    s"concat(substr($h, 7, 2), substr($h, 5, 2), substr($h, 3, 2), substr($h, 1, 2))"
  }
  /** LE reads over the hex payload for the DuckDB oracle: `pos` is a
    * 1-based hex-string position expression (byte B lives at 2B+1). */
  private def rdLe2(pos: String): String =
    s"CAST(concat('0x', substr(hx, CAST(($pos) + 2 AS INT), 2), " +
      s"substr(hx, CAST($pos AS INT), 2)) AS BIGINT)"
  private def rdLe4(pos: String): String =
    s"CAST(concat('0x', substr(hx, CAST(($pos) + 6 AS INT), 2), " +
      s"substr(hx, CAST(($pos) + 4 AS INT), 2), " +
      s"substr(hx, CAST(($pos) + 2 AS INT), 2), " +
      s"substr(hx, CAST($pos AS INT), 2)) AS BIGINT)"

  /** q94: audio-header metadata as a gate query — the WAV twin of q93:
    * deterministic structurally-real RIFF payloads (fmt chunk + a
    * variable-length LIST/INFO chunk on every third doc + header-only
    * data chunk) built from hex in BOTH engines, parsed from the bytes by
    * [[parseWavMeta]]'s chunk walk, aggregated by
    * (source, sample_rate, channels). ImageMetaSpec pins the parser on
    * the canonical real-world 44-byte PCM header. */
  val q94AudioMeta: Q = (s, d) => {
    val sh = hexPadSpark _
    val media = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rate", element_at(
        array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")))
      .withColumn("ch", (lit(1) + pmod(col("doc_id"), lit(2))).cast("int"))
      .withColumn("data_sz", (col("n_chars") * 100).cast("int"))
      .withColumn("pad", (pmod(col("doc_id"), lit(10)) * 2).cast("int"))
      .withColumn("brate", (col("rate") * col("ch") * 2).cast("int"))
      .withColumn("align", (col("ch") * 2).cast("int"))
      .withColumn("hx", expr(
        s"""concat(
           |  '52494646',
           |  ${le4("CAST(36 + IF(doc_id % 3 = 0, 12 + pad, 0) + data_sz AS INT)", sh)},
           |  '57415645',
           |  '666d7420', '10000000', '0100',
           |  ${le2("ch", sh)}, ${le4("rate", sh)}, ${le4("brate", sh)},
           |  ${le2("align", sh)}, '1000',
           |  IF(doc_id % 3 = 0,
           |     concat('4c495354', ${le4("CAST(4 + pad AS INT)", sh)},
           |            '494e464f', repeat('00', pad)),
           |     ''),
           |  '64617461', ${le4("data_sz", sh)})""".stripMargin))
      .select(col("doc_id"), col("source"), unhex(col("hx")).as("payload"))
    val parse = udf { (p: Array[Byte]) => parseWavMeta(p) }
    media.select(col("doc_id"), col("source"), parse(col("payload")).as("m"))
      .select(col("doc_id"), col("source"),
        col("m._1").as("channels"), col("m._2").as("sample_rate"),
        col("m._3").as("bits"), col("m._4").as("data_bytes"),
        col("m._5").as("duration_ms"))
      .groupBy("source", "sample_rate", "channels")
      .agg(count(lit(1)).as("n"),
        sum("duration_ms").as("sum_ms"),
        max("data_bytes").as("max_bytes"),
        min("bits").as("bits_min"))
      .orderBy("source", "sample_rate", "channels")
  }
  val q94Sql: String = {
    val dh = hexPadDuck _
    // fixed fmt-payload byte offsets → 1-based hex positions (2B+1):
    // channels@22→45, rate@24→49, byteRate@28→57, bits@34→69; the chunk
    // after fmt starts at byte 36 (id@pos73, size@pos81); a data chunk's
    // size field sits 4 bytes past its id (pos = data_off*2 + 9)
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    [8000, 16000, 22050, 44100, 48000][CAST(doc_id % 5 AS INT) + 1] AS rate,
       |    CAST(1 + doc_id % 2 AS INT) AS ch,
       |    CAST(n_chars * 100 AS INT) AS data_sz,
       |    CAST((doc_id % 10) * 2 AS INT) AS pad
       |  FROM documents),
       |hexed AS (
       |  SELECT doc_id, source,
       |    '52494646'
       |    || ${le4("CAST(36 + CASE WHEN doc_id % 3 = 0 THEN 12 + pad ELSE 0 END + data_sz AS INT)", dh)}
       |    || '57415645'
       |    || '666d7420' || '10000000' || '0100'
       |    || ${le2("ch", dh)} || ${le4("rate", dh)}
       |    || ${le4("CAST(rate * ch * 2 AS INT)", dh)}
       |    || ${le2("CAST(ch * 2 AS INT)", dh)} || '1000'
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN '4c495354' || ${le4("CAST(4 + pad AS INT)", dh)}
       |              || '494e464f' || repeat('00', pad)
       |         ELSE '' END
       |    || '64617461' || ${le4("data_sz", dh)} AS hx
       |  FROM base),
       |-- the chunk walk, replayed on the hex: the chunk AFTER fmt (byte
       |-- 36) is identified and its size READ from the stream; data's
       |-- offset is derived, never assumed
       |walk AS (
       |  SELECT *,
       |    CASE WHEN substr(hx, 73, 8) = '64617461' THEN CAST(36 AS BIGINT)
       |         ELSE 36 + 8 + ${rdLe4("81")} END AS data_off
       |  FROM hexed),
       |parsed AS (
       |  SELECT doc_id, source,
       |    CAST(${rdLe2("45")} AS INT) AS channels,
       |    CAST(${rdLe4("49")} AS INT) AS sample_rate,
       |    CAST(${rdLe2("69")} AS INT) AS bits,
       |    ${rdLe4("data_off * 2 + 9")} AS data_bytes,
       |    ${rdLe4("data_off * 2 + 9")} * 1000 // ${rdLe4("57")} AS duration_ms
       |  FROM walk)
       |SELECT source, sample_rate, channels,
       |  COUNT(*) AS n,
       |  CAST(SUM(duration_ms) AS BIGINT) AS sum_ms,
       |  MAX(data_bytes) AS max_bytes,
       |  MIN(bits) AS bits_min
       |FROM parsed
       |GROUP BY 1, 2, 3 ORDER BY source, sample_rate, channels""".stripMargin
  }

  /** Parse movie metadata from an MP4 / ISO-BMFF header — the third
    * structural family after the flat big-endian image headers (q93) and
    * the little-endian RIFF chunks (q94): a NESTED box tree. Boxes are
    * `size:be32 type:4cc payload`, sizes include the 8-byte header, and
    * the movie header (`mvhd`, version 0) lives INSIDE the `moov`
    * container — so parsing requires a two-level walk with bounds carried
    * from the enclosing box. Returns (major_brand, timescale, duration,
    * duration_ms) or None; duration_ms = duration·1000/timescale, the
    * ISO-14496-12 rule. */
  def parseMp4Meta(p: Array[Byte]): Option[(String, Int, Long, Long)] = {
    def be32(i: Int): Long =
      ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
        ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
    def typ(i: Int): String = new String(p, i, 4, "US-ASCII")
    var brand: String = null
    var i = 0
    while (i + 8 <= p.length) {
      val size = be32(i)
      if (size < 8 || i + size > p.length) return None
      typ(i + 4) match {
        case "ftyp" if size >= 16 => brand = typ(i + 8)
        case "moov" =>
          val end = (i + size).toInt
          var j = i + 8
          while (j + 8 <= end) {
            val cs = be32(j)
            if (cs < 8 || j + cs > end) return None
            if (typ(j + 4) == "mvhd" && cs >= 28 && (p(j + 8) & 0xff) == 0) {
              // v0 payload: ver/flags(4) creation(4) modification(4)
              // timescale(4) duration(4)
              val ts = be32(j + 20)
              val dur = be32(j + 24)
              return if (ts > 0 && brand != null)
                Some((brand, ts.toInt, dur, dur * 1000L / ts))
              else None
            }
            j += cs.toInt
          }
          return None // moov without a v0 mvhd
        case _ => ()
      }
      i += size.toInt
    }
    None
  }

  /** q96: movie-container metadata as a gate query — structurally-real
    * ISO-BMFF payloads (variable-brand `ftyp`, variable `free` padding at
    * BOTH nesting levels — forcing the genuine two-level size walk — and
    * a v0 `mvhd`), built from hex in both engines, parsed from the bytes
    * by [[parseMp4Meta]], aggregated by (source, timescale). */
  val q96VideoMeta: Q = (s, d) => {
    val media = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("tsc", element_at(
        array(lit(600), lit(1000), lit(90000), lit(44100)),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      .withColumn("dur", (col("n_chars") * 500).cast("int"))
      .withColumn("nb", pmod(col("doc_id"), lit(3)).cast("int"))
      .withColumn("pad", pmod(col("doc_id"), lit(16)).cast("int"))
      .withColumn("pad2", pmod(col("doc_id") * 7, lit(12)).cast("int"))
      .withColumn("hx", expr(
        """concat(
          |  lpad(lower(hex(16 + 4 * nb)), 8, '0'), '66747970', '69736f6d',
          |  '00000000', repeat('6d703431', nb),
          |  lpad(lower(hex(8 + pad)), 8, '0'), '66726565', repeat('00', pad),
          |  lpad(lower(hex(8 + (8 + pad2) + 28)), 8, '0'), '6d6f6f76',
          |  lpad(lower(hex(8 + pad2)), 8, '0'), '66726565', repeat('00', pad2),
          |  lpad(lower(hex(28)), 8, '0'), '6d766864', '00000000',
          |  '00000000', '00000000',
          |  lpad(lower(hex(tsc)), 8, '0'), lpad(lower(hex(dur)), 8, '0'))""".stripMargin))
      .select(col("doc_id"), col("source"), unhex(col("hx")).as("payload"))
    val parse = udf { (p: Array[Byte]) => parseMp4Meta(p) }
    media.select(col("doc_id"), col("source"), parse(col("payload")).as("m"))
      .select(col("doc_id"), col("source"),
        col("m._1").as("brand"), col("m._2").as("timescale"),
        col("m._3").as("duration"), col("m._4").as("duration_ms"))
      .groupBy("source", "timescale")
      .agg(count(lit(1)).as("n"),
        sum("duration_ms").as("sum_ms"),
        max("duration").as("max_dur"),
        min("brand").as("brand_min"))
      .orderBy("source", "timescale")
  }
  val q96Sql: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    [600, 1000, 90000, 44100][CAST(doc_id % 4 AS INT) + 1] AS tsc,
      |    CAST(n_chars * 500 AS INT) AS dur,
      |    CAST(doc_id % 3 AS INT) AS nb,
      |    CAST(doc_id % 16 AS INT) AS pad,
      |    CAST((doc_id * 7) % 12 AS INT) AS pad2
      |  FROM documents),
      |hexed AS (
      |  SELECT doc_id, source,
      |    lpad(lower(to_hex(16 + 4 * nb)), 8, '0') || '66747970' || '69736f6d'
      |    || '00000000' || repeat('6d703431', nb)
      |    || lpad(lower(to_hex(8 + pad)), 8, '0') || '66726565' || repeat('00', pad)
      |    || lpad(lower(to_hex(8 + (8 + pad2) + 28)), 8, '0') || '6d6f6f76'
      |    || lpad(lower(to_hex(8 + pad2)), 8, '0') || '66726565' || repeat('00', pad2)
      |    || lpad(lower(to_hex(28)), 8, '0') || '6d766864' || '00000000'
      |    || '00000000' || '00000000'
      |    || lpad(lower(to_hex(tsc)), 8, '0') || lpad(lower(to_hex(dur)), 8, '0') AS hx
      |  FROM base),
      |-- the two-level box walk, replayed on the hex: every offset below
      |-- is derived from a SIZE READ FROM THE STREAM (byte B reads at
      |-- substr position 2B+1), never recomputed from nb/pad/pad2
      |w1 AS ( -- ftyp size -> offset of the top-level free box
      |  SELECT *, CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) AS ftyp_sz
      |  FROM hexed),
      |w2 AS ( -- free size -> offset of moov
      |  SELECT *, ftyp_sz + CAST(concat('0x',
      |      substr(hx, CAST(ftyp_sz * 2 + 1 AS INT), 8)) AS BIGINT) AS moov_off
      |  FROM w1),
      |w3 AS ( -- first moov child's size -> offset of mvhd
      |  SELECT *, moov_off + 8 + CAST(concat('0x',
      |      substr(hx, CAST((moov_off + 8) * 2 + 1 AS INT), 8)) AS BIGINT) AS mvhd_off
      |  FROM w2),
      |parsed AS (
      |  SELECT doc_id, source, 'isom' AS brand,
      |    CAST(concat('0x',
      |      substr(hx, CAST((mvhd_off + 20) * 2 + 1 AS INT), 8)) AS BIGINT) AS timescale,
      |    CAST(concat('0x',
      |      substr(hx, CAST((mvhd_off + 24) * 2 + 1 AS INT), 8)) AS BIGINT) AS duration
      |  FROM w3)
      |SELECT source, CAST(timescale AS INT) AS timescale,
      |  COUNT(*) AS n,
      |  CAST(SUM(duration * 1000 // timescale) AS BIGINT) AS sum_ms,
      |  MAX(duration) AS max_dur,
      |  MIN(brand) AS brand_min
      |FROM parsed
      |GROUP BY 1, 2 ORDER BY source, timescale""".stripMargin

  // --- perceptual near-dup over the binary column (round-10 verdict task 4) ---

  /** 32×32 synthetic grayscale bitmap from a token array — the binary
    * payload the perceptual hashes below consume. Pixel i (row-major) is
    * pure byte arithmetic on the token at the proportional text position
    * (`(i·n) / 1024`), so an exact-dup document renders the IDENTICAL
    * bitmap and a near-dup (few tokens changed) renders a bitmap
    * differing only in the changed tokens' pixel runs — exactly the
    * locality a perceptual hash needs, and DuckDB-replayable like q93's
    * header bytes (ASCII corpus: bytes == code points). A real image
    * column replaces this builder with decoded pixels; everything
    * downstream (hashing, banding) is unchanged. */
  def bitmap32(toks: Seq[String]): Array[Byte] = {
    val n = math.max(1, toks.length)
    Array.tabulate[Byte](1024) { i =>
      // Long arithmetic throughout: i*n overflows Int past ~2.1M tokens
      // (negative index → task failure), and the DuckDB oracle computes
      // both the position and the char sum in BIGINT — Int here would be
      // a silent cross-engine divergence at soak scale.
      val t = toks(((i.toLong * n) / 1024L).toInt)
      var s = 0L
      var j = 0
      while (j < t.length) { s += t.charAt(j).toInt; j += 1 }
      ((s * 31L + i * 7L) % 256L).toByte
    }
  }

  /** Per-8×8-block pixel sums of a 32×32 bitmap (4×4 pixels per block) —
    * the "resize" step both perceptual hashes share. */
  private def blockSums(p: Array[Byte]): Array[Long] = {
    require(p.length == 1024, s"bitmap32 payload expected, got ${p.length} bytes")
    val bs = new Array[Long](64)
    var i = 0
    while (i < 1024) {
      bs(((i / 32) / 4) * 8 + ((i % 32) / 4)) += p(i) & 0xff
      i += 1
    }
    bs
  }

  /** aHash (average hash): bit (r,c) = block mean > global mean, as exact
    * integer arithmetic (blockSum·64 > totalSum — both engines compare
    * longs, no float drift). */
  def aHash64(p: Array[Byte]): Long = {
    val bs = blockSums(p)
    val total = bs.sum
    var h = 0L
    var b = 0
    while (b < 64) { if (bs(b) * 64L > total) h |= (1L << b); b += 1 }
    h
  }

  /** dHash (gradient hash), wrap-around variant: bit (r,c) = block(r,c) >
    * block(r, (c+1) mod 8) — 64 bits from the same 8×8 block grid instead
    * of the classic 9×8 resize (32 doesn't divide into 9 columns; the
    * wrap keeps the grid exact and the comparison integer-only). */
  def dHash64(p: Array[Byte]): Long = {
    val bs = blockSums(p)
    var h = 0L
    var b = 0
    while (b < 64) {
      if (bs(b) > bs((b / 8) * 8 + ((b % 8) + 1) % 8)) h |= (1L << b)
      b += 1
    }
    h
  }

  /** q123: perceptual near-dup audit of the binary column — render every
    * document's synthetic bitmap, hash it with aHash AND dHash, and emit
    * the ≤7-bit Hamming pair profile per hash kind (the corpus-level
    * near-dup number, not the quadratic pair list).
    *
    * Scale shape: the bitmap+hash pass is narrow per-row byte arithmetic
    * (payload never shuffles — only the two 8-byte signatures do); the
    * pair counting reuses [[DedupOps.hammingProfile]]'s machinery with
    * the 8×8-bit pigeonhole (8 bands guarantee exact recall at ≤7 bits —
    * perceptual hashes spread differences wider than SimHash, so q64's
    * 4×16 ≤3 window would miss real near-dups) — collapse to distinct
    * signatures with multiplicities first, then a band self-join whose
    * shuffle is ∝ signatures×8, distance-0 mass counted arithmetically.
    * PerceptualHashSpec pins planted exact/near/far triples; the DuckDB
    * oracle recomputes both hashes from the same pixel formula and the
    * naive signature self-join. */
  val q123PerceptualNearDup: Q = (s, d) => {
    val nPar = s.sparkContext.defaultParallelism
    val aU = udf { (p: Array[Byte]) => aHash64(p) }
    val dU = udf { (p: Array[Byte]) => dHash64(p) }
    val bmU = udf { (toks: Seq[String]) => bitmap32(toks) }
    // the signature table is a narrow multi-consumer stage (both hash
    // kinds' distance-0 AND band branches read it): materialize the
    // 24-byte-per-doc result once so the bitmap render + double hash —
    // the expensive pass — runs exactly once and no text/payload bytes
    // reach any downstream exchange (PlanShapeSpec pins this; without it
    // the composed plan re-scans and re-hashes the corpus per consumer)
    val sigs = StageMaterialize(documents(s, d)
      .repartition(nPar, col("doc_id"))
      .select(col("doc_id"), bmU(split(trim(col("text")), "\\s+")).as("payload"))
      .select(col("doc_id"), aU(col("payload")).as("ahash"), dU(col("payload")).as("dhash")))
    def profile(c: String, kind: String) =
      DedupOps.hammingProfile(
        sigs.groupBy(col(c).as("simhash")).agg(count(lit(1)).as("n")), nPar,
        nBands = 8, maxDist = 7)
        .withColumn("kind", lit(kind))
    profile("ahash", "ahash").unionByName(profile("dhash", "dhash"))
      .select(col("kind"), col("hamming"), col("n_pairs"))
      .orderBy("kind", "hamming")
  }

  private val q123Sql: String = {
    def sigFold(bits: String, name: String) =
      s"""$name AS (
         |  SELECT doc_id,
         |    CAST(SUM(bit * (CASE WHEN b = 63 THEN -9223372036854775808
         |                         ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)) AS BIGINT) AS sig
         |  FROM $bits GROUP BY doc_id)"""
    def pairCte(sig: String, kind: String) =
      s"""SELECT '$kind' AS kind, 0 AS hamming,
         |  CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs
         |FROM (SELECT sig, COUNT(*) AS n FROM $sig GROUP BY 1) sc WHERE n > 1
         |UNION ALL
         |SELECT '$kind', bit_count(xor(a.sig, b.sig)), CAST(SUM(a.n * b.n) AS BIGINT)
         |FROM (SELECT sig, COUNT(*) AS n FROM $sig GROUP BY 1) a
         |JOIN (SELECT sig, COUNT(*) AS n FROM $sig GROUP BY 1) b ON a.sig < b.sig
         |WHERE bit_count(xor(a.sig, b.sig)) <= 7
         |GROUP BY 2"""
    s"""WITH t AS (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
       |           FROM documents),
       |px0 AS (
       |  SELECT doc_id, u.i AS i,
       |    toks[1 + (u.i * len(toks)) // 1024] AS tok
       |  FROM t CROSS JOIN (SELECT unnest(range(0, 1024)) AS i) u),
       |px AS (
       |  SELECT doc_id, i,
       |    (COALESCE(list_sum(list_transform(range(1, len(tok) + 1),
       |       j -> ascii(substr(tok, CAST(j AS INT), 1)))), 0) * 31 + i * 7) % 256 AS p
       |  FROM px0),
       |blocks AS (
       |  SELECT doc_id, ((i // 32) // 4) * 8 + ((i % 32) // 4) AS b, SUM(p) AS bs
       |  FROM px GROUP BY 1, 2),
       |tot AS (SELECT doc_id, SUM(bs) AS g FROM blocks GROUP BY 1),
       |abits AS (
       |  SELECT doc_id, b, CASE WHEN bs * 64 > g THEN 1 ELSE 0 END AS bit
       |  FROM blocks JOIN tot USING (doc_id)),
       |${sigFold("abits", "asig")},
       |dbits AS (
       |  SELECT x.doc_id, x.b, CASE WHEN x.bs > y.bs THEN 1 ELSE 0 END AS bit
       |  FROM blocks x JOIN blocks y
       |    ON x.doc_id = y.doc_id AND y.b = (x.b // 8) * 8 + ((x.b % 8) + 1) % 8),
       |${sigFold("dbits", "dsig")}
       |${pairCte("asig", "ahash")}
       |UNION ALL
       |${pairCte("dsig", "dhash")}
       |ORDER BY kind, hamming""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q31_multimodal_decode" -> q31MultimodalDecode,
    "q43_frame_sample" -> q43FrameSample,
    "q93_image_meta" -> q93ImageMeta,
    "q94_audio_meta" -> q94AudioMeta,
    "q96_video_meta" -> q96VideoMeta,
    "q123_perceptual_neardup" -> q123PerceptualNearDup,
  )
  val oracle: Map[String, String] = Map(
    "q31_multimodal_decode" -> q31Sql,
    "q43_frame_sample" -> q43Sql,
    "q93_image_meta" -> q93Sql,
    "q94_audio_meta" -> q94Sql,
    "q96_video_meta" -> q96Sql,
    "q123_perceptual_neardup" -> q123Sql,
  )
}
