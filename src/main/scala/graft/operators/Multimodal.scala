package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded per-partition.
  *
  * The decode step is a REAL codec: [[PpmDecoder]] fully implements the
  * binary Netpbm P6 format (magic, whitespace/comment-tolerant ASCII
  * header, RGB raster) — the container has no image libraries, and P6 is
  * simple enough to implement completely rather than stub. The payload
  * columns carry genuine P6 containers (synthesized deterministically
  * from document bytes, so the DuckDB oracle can recompute the expected
  * decode output without a codec). The surrounding shape is the at-scale
  * Spark contract:
  *  - payloads live in a `BinaryType` column (parquet keeps them as BYTE_ARRAY
  *    pages; metadata columns prune without touching pixels);
  *  - decode runs via `mapPartitions` with an iterator-to-iterator transform
  *    (the Scala analog of `mapInPandas` batching: one decoder init per
  *    partition, streaming through rows, no per-row setup, no collect);
  *  - the output schema is explicit and stable (width/height/channels +
  *    fixed-length feature vector), ready for a downstream ANN join.
  * A heavier codec (JPEG via javax.imageio, ffmpeg JNI) swaps in behind
  * the same [[Decoder]] signature; nothing else changes.
  */
object Multimodal {

  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Int, Array[Double])
  }

  /** Complete decoder for binary PPM (Netpbm P6): "P6", then width,
    * height, maxval as ASCII decimals separated by whitespace (with
    * `#`-comment lines allowed, per the spec), a single whitespace byte,
    * then 3·w·h RGB raster bytes (trailing bytes beyond the raster are
    * ignored, as real readers do). Features = 8-bucket histogram over the
    * raster bytes (bucket = byte >> 5) normalized by raster size — the
    * fixed-length vector a downstream ANN join consumes. Malformed
    * payloads fail loudly; quarantine upstream (m06) is the triage path. */
  object PpmDecoder extends Decoder {

    /** Parse the P6 header: returns (width, height, raster byte offset).
      * Validates magic, maxval, and that the full raster is present. */
    def header(payload: Array[Byte]): (Int, Int, Int) = {
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"not a P6 PPM: $msg")
      if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6')
        fail("bad magic")
      var p = 2
      def skipWs(): Unit = {
        var cont = true
        while (cont && p < payload.length) {
          val b = payload(p)
          if (b == ' ' || b == '\n' || b == '\r' || b == '\t') p += 1
          else if (b == '#') {
            while (p < payload.length && payload(p) != '\n') p += 1
          } else cont = false
        }
      }
      def headerInt(): Int = {
        skipWs()
        var v = 0
        var any = false
        while (p < payload.length && payload(p) >= '0' && payload(p) <= '9') {
          v = v * 10 + (payload(p) - '0'); p += 1; any = true
        }
        if (!any) fail(s"expected header integer at byte $p")
        v
      }
      val w = headerInt()
      val h = headerInt()
      val maxval = headerInt()
      if (maxval != 255) fail(s"unsupported maxval $maxval")
      p += 1 // exactly one whitespace byte separates header from raster
      if (p + 3 * w * h > payload.length)
        fail(s"truncated raster: need ${3 * w * h} bytes")
      (w, h, p)
    }

    def decode(payload: Array[Byte]): (Int, Int, Int, Array[Double]) = {
      val (w, h, off) = header(payload)
      val n = 3 * w * h
      val hist = new Array[Double](8)
      var i = 0
      while (i < n) {
        hist((payload(off + i) & 0xff) >> 5) += 1.0
        i += 1
      }
      val d = math.max(n, 1).toDouble
      (w, h, 3, hist.map(_ / d))
    }
  }

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** The real plumbing: binary column in, typed decode out, one decoder per
    * partition, iterator-streamed. */
  def decodeImages(payloads: DataFrame, decoder: Decoder = PpmDecoder): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    payloads.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, c, f) = decoder.decode(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), w, h, c, f.toSeq)
        }
      }(enc)
  }

  val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("out_w", IntegerType, nullable = false),
    StructField("out_h", IntegerType, nullable = false),
    StructField("thumb_hex", StringType, nullable = false)))

  /** Resize planning, same mapPartitions shape as [[decodeImages]]: real
    * P6 decode → fit-within-maxDim target dims (aspect preserved) →
    * "thumbnail" = the first 16 payload bytes hexed (a real deployment
    * swaps the slice for an actual pixel scaler; dims/schema/batching
    * stay identical). Double math (256.0/w, min, floor) is plain IEEE —
    * bit-identical to the SQL oracle. */
  def resizeImages(payloads: DataFrame, maxDim: Int,
      decoder: Decoder = PpmDecoder): DataFrame = {
    val enc = RowEncoder.encoderFor(resizedSchema)
    payloads.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, _, _) = decoder.decode(payload)
          val sc = math.min(math.min(maxDim.toDouble / w, maxDim.toDouble / h), 1.0)
          val outW = math.max(1, math.floor(w * sc).toInt)
          val outH = math.max(1, math.floor(h * sc).toInt)
          val thumb = payload.take(16).map("%02X".format(_)).mkString
          Row(r.getLong(0), w, h, outW, outH, thumb)
        }
      }(enc)
  }

  /** REAL nearest-neighbor pixel resample through the same mapPartitions
    * pipeline: parse the P6 header, map each output pixel (r, c) to source
    * pixel (r·h/outH, c·w/outW) — integer floor, the standard NN mapping —
    * and emit the sampled RGB raster hexed. This is actual pixel work on
    * actual image containers (not metadata math): the decode and the
    * resample both read raster bytes. Output schema mirrors
    * [[resizedSchema]] with the thumb being the resampled pixels. */
  def thumbnailImages(payloads: DataFrame, outW: Int, outH: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(resizedSchema)
    payloads.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, off) = PpmDecoder.header(payload)
          val sb = new java.lang.StringBuilder(outW * outH * 6)
          var rr = 0
          while (rr < outH) {
            var cc = 0
            while (cc < outW) {
              val o = off + 3 * ((rr * h / outH) * w + (cc * w / outW))
              var b = 0
              while (b < 3) {
                sb.append("%02X".format(payload(o + b) & 0xff))
                b += 1
              }
              cc += 1
            }
            rr += 1
          }
          Row(r.getLong(0), w, h, outW, outH, sb.toString)
        }
      }(enc)
  }

  /** Genuine P6 containers synthesized from each document's UTF-8 bytes
    * (the container ships no codecs, but P6 needs none): width 8, height
    * n/24 (one pixel row consumes 3·8 = 24 bytes), raster = the first
    * 24·(n/24) text bytes after the ASCII header. Deterministic, so the
    * DuckDB oracle recomputes the expected decode output from the same
    * definition. Docs under one pixel row (n < 24) are filtered — there
    * is no image to build. */
  /** One raster byte at text-byte offset `off` (a SQL int expression), as
    * a DuckDB hex-nibble decode — the m09/m13 idiom factored out for
    * oracles that sum several adjacent bytes. */
  private def hexByteSql(off: String): String =
    s"""((strpos('0123456789ABCDEF',
       |      substring(hx, 2 * CAST($off AS INT) + 1, 1)) - 1) * 16
       |    + strpos('0123456789ABCDEF',
       |      substring(hx, 2 * CAST($off AS INT) + 2, 1)) - 1)""".stripMargin

  private[graft] def ppmPayloads(s: SparkSession, d: String): DataFrame = {
    val nb = length(encode(col("text"), "UTF-8"))
    Tables.documents(s, d)
      .filter(nb >= 24)
      .select(col("doc_id"),
        concat(
          encode(concat(lit("P6\n8 "),
            floor(nb / 24).cast("int").cast("string"),
            lit("\n255\n")), "UTF-8"),
          encode(col("text"), "UTF-8")).as("payload"))
  }

  /** Complete reader for canonical PCM WAV (RIFF/WAVE: 44-byte header
    * with the fmt chunk first, uncompressed 16-bit mono): validates both
    * magics, the format tag, channel/width layout, and data-chunk bounds,
    * then streams the little-endian samples once for exact integer
    * stats — sample count, peak |s|, Σ|s|, and the sign-transition count
    * (zero crossings; s ≥ 0 is the sign predicate, so the stats are pure
    * integers both engines reproduce bit-for-bit). Malformed payloads
    * fail loudly (m06's quarantine pattern is the triage path). */
  object WavReader extends Serializable {
    /** Validate the container and return (sampleRate, nSamples) — the
      * strict layout check shared by [[stats]] and [[frameEnergies]]. */
    def layout(p: Array[Byte]): (Int, Int) = {
      def fail(m: String): Nothing =
        throw new IllegalArgumentException(s"not a PCM WAV: $m")
      def ascii(off: Int, s: String): Boolean =
        off + s.length <= p.length &&
          (0 until s.length).forall(i => (p(off + i) & 0xff) == s.charAt(i))
      def le32(off: Int): Int =
        (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
          ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
      def le16(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
      if (p.length < 44) fail("shorter than the canonical header")
      if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) fail("bad RIFF/WAVE magic")
      if (!ascii(12, "fmt ") || le32(16) != 16) fail("fmt chunk not canonical")
      if (le16(20) != 1) fail(s"format tag ${le16(20)} is not PCM")
      if (le16(22) != 1) fail(s"${le16(22)} channels, want mono")
      if (le16(34) != 16) fail(s"${le16(34)}-bit, want 16")
      val sr = le32(24)
      if (!ascii(36, "data")) fail("data chunk not at canonical offset")
      val dataLen = le32(40)
      if (44 + dataLen > p.length) fail(s"truncated data chunk: $dataLen")
      (sr, dataLen / 2)
    }

    /** The i-th signed LE16 sample of a validated payload. */
    @inline private def sample(p: Array[Byte], i: Int): Int = {
      val raw = (p(44 + 2 * i) & 0xff) | ((p(44 + 2 * i + 1) & 0xff) << 8)
      if (raw >= 32768) raw - 65536 else raw
    }

    /** @return (sampleRate, nSamples, peak, sumAbs, zeroCrossings) */
    def stats(p: Array[Byte]): (Int, Int, Long, Long, Int) = {
      val (sr, k) = layout(p)
      var i = 0; var peak = 0L; var sumAbs = 0L; var zc = 0
      var prevNonNeg = true
      while (i < k) {
        val s = sample(p, i)
        val a = math.abs(s.toLong)
        if (a > peak) peak = a
        sumAbs += a
        val nonNeg = s >= 0
        if (i > 0 && nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        i += 1
      }
      (sr, k, peak, sumAbs, zc)
    }

    /** Per-frame Σ|s| over non-overlapping `flen`-sample frames (FULL
      * frames only — the tail is dropped on both engines): the energy
      * contour a voice-activity detector thresholds. One streamed pass,
      * same strict validation as [[stats]]. */
    def frameEnergies(p: Array[Byte], flen: Int): Array[Long] = {
      val (_, k) = layout(p)
      val nf = k / flen
      val out = new Array[Long](nf)
      var f = 0
      while (f < nf) {
        var i = 0; var acc = 0L
        while (i < flen) {
          acc += math.abs(sample(p, f * flen + i).toLong)
          i += 1
        }
        out(f) = acc
        f += 1
      }
      out
    }
  }

  /** Genuine RIFF/WAVE containers synthesized from each document's UTF-8
    * bytes: the canonical 44-byte PCM header (mono, 16-bit, 8 kHz) +
    * the first 2·(n/2) text bytes as little-endian samples. Built
    * byte-for-byte in a mapPartitions (binary little-endian fields
    * cannot ride a UTF-8 string column, unlike the ASCII P6 header); the
    * ORACLE never parses the container — it recomputes the stats from
    * the same text-byte definition (m02's move). Docs under two samples
    * (n < 4) are filtered. */
  /** m21's (doc_id, 16-bit acoustic fingerprint) tier: sign of the
    * energy delta across the first 17 fine-grained 8-sample frames
    * (m10's contour at fingerprint grain — the VAD tier keeps its
    * 64-sample frames), read from the REAL containers in one streamed
    * pass. Docs under 17 full frames (n < 272 text bytes) carry no
    * fingerprint. Factored out so Round10Spec can brute-force all-pairs
    * completeness against the banded join. */
  private[graft] def audioFingerprints(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("afp", IntegerType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    wavPayloads(s, d)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val fe = WavReader.frameEnergies(r.getAs[Array[Byte]](1), 8)
          if (fe.length < 17) None
          else {
            var fp = 0
            var f = 0
            while (f < 16) {
              if (fe(f + 1) > fe(f)) fp |= (1 << f)
              f += 1
            }
            Some(Row(r.getLong(0), fp))
          }
        }
      }(enc)
  }

  private[graft] def wavPayloads(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .filter(length(col("tb")) >= 4)
      .mapPartitions { rows =>
        rows.map { r =>
          val tb = r.getAs[Array[Byte]]("tb")
          val dataLen = (tb.length / 2) * 2
          val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1).putInt(8000).putInt(16000)
            .putShort(2).putShort(16)
            .put("data".getBytes("US-ASCII")).putInt(dataLen)
            .put(tb, 0, dataLen)
          Row(r.getLong(0), bb.array())
        }
      }(enc)
  }

  val entries: Seq[QueryDef] = Seq(

    // Binary-column metadata path — payload synthesized from text bytes
    // (no codecs in the container), metadata computed WITHOUT decoding:
    // the pruning-friendly access pattern for 100 TB of media.
    QueryDef("m01_media_meta",
      """SELECT doc_id,
        |       octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS checksum,
        |       CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
        |       CAST((octet_length(encode(text)) // 7) % 480 AS INT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nBytes = length(encode(col("text"), "UTF-8")).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"),
          nBytes.as("n_bytes"),
          md5(col("text")).as("checksum"),
          (nBytes % 640).cast("int").as("fake_width"),
          floor(nBytes / 7).mod(480).cast("int").as("fake_height"))
        .orderBy(col("doc_id"))
    },

    // Frame sampling: N evenly-spaced fixed-width byte slices from each
    // payload — the video-frame/audio-chunk access pattern, pure byte
    // arithmetic on the binary column (no decode, codegen'd both engines).
    QueryDef("m03_frame_sample",
      """WITH p AS (
        |  -- DuckDB can't substring a BLOB: hex the whole payload and slice
        |  -- the hex STRING at 2x byte offsets — byte-exact for ANY input
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |)
        |SELECT doc_id,
        |       substring(hx, 1, 16) AS frame0,
        |       substring(hx, 2 * CAST(floor(n / 4.0) AS INT) + 1, 16) AS frame1,
        |       substring(hx, 2 * CAST(floor(n / 2.0) AS INT) + 1, 16) AS frame2,
        |       substring(hx, 2 * CAST(floor(3 * n / 4.0) AS INT) + 1, 16) AS frame3
        |FROM p WHERE n >= 32 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val payload = encode(col("text"), "UTF-8")
      val n = length(payload)
      def frame(start: org.apache.spark.sql.Column) =
        hex(payload.substr(start.cast("int") + 1, lit(8)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          frame(lit(0)).as("frame0"),
          frame(floor(n / 4)).as("frame1"),
          frame(floor(n / 2)).as("frame2"),
          frame(floor(n * 3 / 4)).as("frame3"),
          n.as("n"))
        .filter(col("n") >= 32)
        .drop("n")
        .orderBy(col("doc_id"))
    },

    // CROSS-DOCUMENT FRAME DEDUP: which m03 sample frames (8-byte payload
    // slices at the 0/¼/½/¾ offsets) recur across ≥2 distinct documents —
    // the video-pipeline form of exact dedup, where the unit is a sampled
    // frame signature, not the whole container (two docs sharing frames
    // are re-encodes / trims of the same asset; x01 would call them
    // different because one byte differs). Positions mirror m03 exactly.
    //
    // Scale: 4 fixed-width signatures per doc regardless of payload size
    // — payload bytes are sliced in the scan and never shuffled; only
    // (16-hex-char signature, doc_id) pairs reach the exchange, and the
    // group sizes are duplicate-cluster sizes. The same shape holds when
    // "frame signature" is a real perceptual hash at 100 TB.
    QueryDef("m11_frame_dedup",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, substring(hx, 1, 16) AS frame FROM p WHERE n >= 32
        |  UNION ALL
        |  SELECT doc_id, substring(hx, 2 * CAST(floor(n / 4.0) AS INT) + 1, 16)
        |  FROM p WHERE n >= 32
        |  UNION ALL
        |  SELECT doc_id, substring(hx, 2 * CAST(floor(n / 2.0) AS INT) + 1, 16)
        |  FROM p WHERE n >= 32
        |  UNION ALL
        |  SELECT doc_id, substring(hx, 2 * CAST(floor(3 * n / 4.0) AS INT) + 1, 16)
        |  FROM p WHERE n >= 32
        |)
        |SELECT frame,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occurrences,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f GROUP BY frame HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY frame""".stripMargin) { (s, d) =>
      val payload = encode(col("text"), "UTF-8")
      val n = length(payload)
      def frame(start: org.apache.spark.sql.Column) =
        hex(payload.substr(start.cast("int") + 1, lit(8)))
      Tables.documents(s, d)
        .filter(length(encode(col("text"), "UTF-8")) >= 32)
        .select(col("doc_id"), explode(array(
          frame(lit(0)), frame(floor(n / 4)),
          frame(floor(n / 2)), frame(floor(n * 3 / 4)))).as("frame"))
        .groupBy(col("frame"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_occurrences"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("frame"))
    },

    // Resize planning through the mapPartitions pipeline: REAL P6 decode
    // (header parse gives w=8, h=n/24 for the synthesized containers) +
    // fit-within-256 scaling, both reproducible in SQL. The oracle's
    // thumb_hex rebuilds header+raster bytes with chr(10) newlines. At
    // scale this is the thumbnailing pass of a media ingest: payload
    // bytes are touched once per partition, dims/metadata flow as columns.
    QueryDef("m04_resize_plan",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), dims AS (
        |  SELECT doc_id,
        |         hex(encode('P6' || chr(10) || '8 ' ||
        |             CAST(CAST(n // 24 AS INT) AS VARCHAR) || chr(10) ||
        |             '255' || chr(10))) || hx AS phx,
        |         CAST(8 AS INT) AS w,
        |         CAST(n // 24 AS INT) AS h
        |  FROM p
        |), s AS (
        |  SELECT *, least(256.0 / w, 256.0 / h, 1.0) AS sc FROM dims
        |)
        |SELECT doc_id, w AS width, h AS height,
        |       CAST(greatest(1, floor(w * sc)) AS INT) AS out_w,
        |       CAST(greatest(1, floor(h * sc)) AS INT) AS out_h,
        |       substring(phx, 1, 32) AS thumb_hex
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      resizeImages(ppmPayloads(s, d), 256).orderBy(col("doc_id"))
    },

    // The mapPartitions decode pipeline over genuine P6 payloads — the
    // decoder really parses the ASCII header (width 8, height n/24) and
    // histograms the raster. Oracle-checkable without a codec: the
    // feature vector buckets by (byte >> 5), i.e. by the FIRST HEX
    // NIBBLE >> 1 — so DuckDB reproduces f0/f1 by counting hex-pair lead
    // chars ('0','1' → bucket 0; '2','3' → bucket 1) over the same
    // raster bytes (the first 24·(n/24) text bytes), divided as IEEE
    // doubles.
    QueryDef("m02_decode_features",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), c AS (
        |  SELECT doc_id, CAST(n // 24 AS INT) AS h, 24 * (n // 24) AS np,
        |         len(list_filter(range(24 * (n // 24)),
        |             i -> substring(hx, 2 * CAST(i AS INT) + 1, 1) IN ('0', '1'))) AS c0,
        |         len(list_filter(range(24 * (n // 24)),
        |             i -> substring(hx, 2 * CAST(i AS INT) + 1, 1) IN ('2', '3'))) AS c1
        |  FROM p
        |)
        |SELECT doc_id,
        |       CAST(8 AS INT) AS width, h AS height, CAST(3 AS INT) AS channels,
        |       round(1e-9 + CAST(c0 AS DOUBLE) / np, 6) AS f0,
        |       round(1e-9 + CAST(c1 AS DOUBLE) / np, 6) AS f1
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      decodeImages(ppmPayloads(s, d))
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          Num.roundOut(element_at(col("features"), 1), 6).as("f0"),
          Num.roundOut(element_at(col("features"), 2), 6).as("f1"))
        .orderBy(col("doc_id"))
    },

    // REAL pixel resample: 2x2 nearest-neighbor thumbnail from the P6
    // raster — output pixel (r, c) reads source pixel (r·h/2, 4·c), i.e.
    // actual raster bytes at computed offsets, not length math. The
    // oracle replays the same byte addressing on the hexed text bytes
    // (raster byte o = hex chars 2o+1..2o+6; the raster IS the text
    // bytes, the header is a separate prefix). At scale this is the
    // real thumbnailing kernel: one partition-streamed pass, payload
    // touched once, output rows carry 12 bytes per image.
    QueryDef("m08_thumbnail_resample",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), d AS (
        |  SELECT doc_id, hx, CAST(n // 24 AS INT) AS h FROM p
        |)
        |SELECT doc_id, CAST(8 AS INT) AS width, h AS height,
        |       CAST(2 AS INT) AS out_w, CAST(2 AS INT) AS out_h,
        |       substring(hx, 6 * (((0 * h) // 2) * 8 + 0) + 1, 6) ||
        |       substring(hx, 6 * (((0 * h) // 2) * 8 + 4) + 1, 6) ||
        |       substring(hx, 6 * (((1 * h) // 2) * 8 + 0) + 1, 6) ||
        |       substring(hx, 6 * (((1 * h) // 2) * 8 + 4) + 1, 6) AS thumb_hex
        |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      thumbnailImages(ppmPayloads(s, d), 2, 2).orderBy(col("doc_id"))
    },

    // Paired-dataset AUDIT: the integrity check every text↔embedding
    // (caption↔image-vector) corpus runs before training — full outer join
    // of the two modality tables on id, one-row report of paired /
    // text-only / vector-only counts plus a dimension check on the vector
    // side. One co-partitioned join + a global partial-agg; no modality's
    // payload column is ever read (column pruning keeps the scan to ids +
    // the array length).
    QueryDef("m05_pair_audit",
      """SELECT count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
        |                  THEN 1 END) AS n_paired,
        |       count(CASE WHEN e.vec_id IS NULL THEN 1 END) AS n_text_only,
        |       count(CASE WHEN d.doc_id IS NULL THEN 1 END) AS n_vec_only,
        |       count(CASE WHEN len(e.embedding) = 64 THEN 1 END) AS n_dim_ok
        |FROM documents d FULL JOIN embeddings e
        |  ON d.doc_id = e.vec_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), size(col("embedding")).as("dim"))
      docs.join(vecs, col("doc_id") === col("vec_id"), "full_outer")
        .agg(
          count(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1))
            .as("n_paired"),
          count(when(col("vec_id").isNull, 1)).as("n_text_only"),
          count(when(col("doc_id").isNull, 1)).as("n_vec_only"),
          count(when(col("dim") === 64, 1)).as("n_dim_ok"))
    },

    // Payload QUARANTINE: the corrupt-file triage a media ingest runs
    // before decoding anything — classify every payload from bytes the
    // scan already has (length + head bytes), never the full content.
    // Rules, first match wins: truncated (under a plausible container
    // minimum), bad_header (first byte outside the expected magic range —
    // printable ASCII for this synthetic corpus; a real ingest whitelists
    // PNG/JPEG/RIFF magics the same way), oversize (relative to the corpus
    // median, a tiny scalar broadcast). Two-hex-char comparisons are
    // numeric because hex digits sort lexicographically. At scale: one
    // pass, one KB-sized median broadcast, quarantined files routed out
    // before the expensive decode stage ever sees them.
    QueryDef("m06_quarantine",
      """WITH p AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         hex(encode(text)) AS hx
        |  FROM documents
        |), m AS (
        |  SELECT median(CAST(n AS DOUBLE)) AS med FROM p
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |       substring(hx, 1, 16) AS head_hex,
        |       CASE WHEN n < 64 THEN 'truncated'
        |            WHEN NOT (substring(hx, 1, 2) BETWEEN '20' AND '7E')
        |              THEN 'bad_header'
        |            WHEN n > 1.5 * med THEN 'oversize'
        |            ELSE 'ok' END AS status
        |FROM p, m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val p = Tables.documents(s, d)
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n"),
          hex(encode(col("text"), "UTF-8").substr(1, 8)).as("head_hex"),
          hex(encode(col("text"), "UTF-8").substr(1, 1)).as("b0"))
      val med = p.agg(median(col("n").cast("double")).as("med"))
      p.crossJoin(broadcast(med))
        .select(col("doc_id"), col("n").as("n_bytes"), col("head_hex"),
          when(col("n") < 64, "truncated")
            .when(!col("b0").between("20", "7E"), "bad_header")
            .when(col("n") > lit(1.5) * col("med"), "oversize")
            .otherwise("ok").as("status"))
        .orderBy(col("doc_id"))
    },

    // MULTIMODAL BATCH ASSEMBLY — the training-batch output a multimodal
    // pipeline exists to produce: text items (cost = token count) and
    // their paired image items (cost = 64 patch tokens, the fixed vision
    // budget per image; pairing = m05's doc_id↔vec_id join) interleaved
    // into 4096-token batches. Deterministic global order (doc_id, then
    // image-before-text within a doc), x18's shard-partitioned running-
    // sum binning, and per-batch MODALITY stats — the text/image token
    // mix per batch is what a trainer's data-loader contract specifies.
    //
    // Scale: the union is item-rows only (costs + tags, never payloads);
    // packing windows run per content-hash shard (x18's fix — no global
    // window); the pairing join is key-equal on ids. Payload bytes move
    // at trainer fetch time, batch manifests move here.
    QueryDef("m07_batch_assembly",
      s"""WITH t AS (
        |  SELECT doc_id, CAST(${TextAnalysis.fingerprintSql} % 4 AS INT) AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS cost,
        |         'text' AS modality
        |  FROM documents
        |), im AS (
        |  SELECT t.doc_id, t.shard, CAST(64 AS BIGINT) AS cost,
        |         'image' AS modality
        |  FROM t JOIN embeddings e ON e.vec_id = t.doc_id
        |), it AS (
        |  SELECT * FROM t UNION ALL SELECT * FROM im
        |), c AS (
        |  SELECT shard, modality, cost,
        |         sum(cost) OVER (PARTITION BY shard ORDER BY doc_id, modality
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cost
        |           AS cum_before
        |  FROM it
        |)
        |SELECT shard, CAST(floor(cum_before / 4096.0) AS INT) AS bin,
        |       count(*) AS n_items,
        |       CAST(sum(CASE WHEN modality = 'text' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_text,
        |       CAST(sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_image,
        |       CAST(sum(CASE WHEN modality = 'text' THEN cost ELSE 0 END)
        |            AS BIGINT) AS text_tokens,
        |       CAST(sum(CASE WHEN modality = 'image' THEN cost ELSE 0 END)
        |            AS BIGINT) AS image_tokens,
        |       CAST(sum(cost) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .join(TextAnalysis.fingerprintTable(s, d), "doc_id")
        .select(col("doc_id"), (col("fp") % 4).cast("int").as("shard"),
          size(split(col("text"), " ")).cast("long").as("cost"),
          lit("text").as("modality"))
      val im = t.join(Tables.embeddings(s, d),
          col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("shard"), lit(64L).as("cost"),
          lit("image").as("modality"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("doc_id"), col("modality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.unionAll(im)
        .withColumn("cum_before", sum(col("cost")).over(w) - col("cost"))
        .select(col("shard"),
          floor(col("cum_before") / 4096.0).cast("int").as("bin"),
          col("modality"), col("cost"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("modality") === "text", 1L).otherwise(0L)).as("n_text"),
          sum(when(col("modality") === "image", 1L).otherwise(0L)).as("n_image"),
          sum(when(col("modality") === "text", col("cost")).otherwise(0L))
            .as("text_tokens"),
          sum(when(col("modality") === "image", col("cost")).otherwise(0L))
            .as("image_tokens"),
          sum(col("cost")).as("bin_tokens"))
        .orderBy(col("shard"), col("bin"))
    },

    // AUDIO tier of the multimodal path: genuine RIFF/WAVE PCM containers
    // ([[wavPayloads]]) parsed by a complete strict reader ([[WavReader]]
    // — magics, format tag, layout, bounds), streaming each payload once
    // for exact integer signal stats: peak amplitude, Σ|s|, and zero
    // crossings (the silence/voicing heuristics an audio ingest filters
    // on). The oracle recomputes every stat relationally from the hexed
    // text bytes (hex-pair → byte → signed LE16 sample), so the real
    // binary parse is checked end to end without an audio library. Mean
    // |s| is the row's one float op. Same mapPartitions iterator shape as
    // the image decode: payload bytes touched once per partition,
    // metadata flows as columns.
    QueryDef("m09_wav_stats",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), by AS (
        |  SELECT doc_id, n, list_transform(range(n), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, CAST(n // 2 AS INT) AS k,
        |         list_transform(range(n // 2), i ->
        |           CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |             THEN b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |             ELSE b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), st AS (
        |  SELECT doc_id, k,
        |         CAST(list_max(list_transform(sv, x -> abs(x))) AS BIGINT)
        |           AS peak,
        |         CAST(list_sum(list_transform(sv, x -> abs(x))) AS BIGINT)
        |           AS sum_abs,
        |         CAST(len(list_filter(range(k - 1), i ->
        |           (sv[CAST(i AS INT) + 1] >= 0)
        |             != (sv[CAST(i AS INT) + 2] >= 0))) AS INT) AS zc
        |  FROM sm
        |)
        |SELECT doc_id, k AS n_samples, CAST(8000 AS INT) AS sample_rate,
        |       peak, sum_abs, zc,
        |       round(1e-9 + sum_abs * 1.0 / k, 6) AS mean_abs
        |FROM st ORDER BY doc_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_samples", IntegerType, nullable = false),
        StructField("sample_rate", IntegerType, nullable = false),
        StructField("peak", LongType, nullable = false),
        StructField("sum_abs", LongType, nullable = false),
        StructField("zc", IntegerType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      wavPayloads(s, d)
        .mapPartitions { rows =>
          rows.map { r =>
            // positional access: rows from the payload mapPartitions are
            // schema-less GenericRows (name lookup would throw)
            val (sr, k, peak, sumAbs, zc) =
              WavReader.stats(r.getAs[Array[Byte]](1))
            Row(r.getLong(0), k, sr, peak, sumAbs, zc)
          }
        }(enc)
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("peak"), col("sum_abs"), col("zc"),
          Num.roundOut(col("sum_abs") * 1.0 / col("n_samples"), 6)
            .as("mean_abs"))
        .orderBy(col("doc_id"))
    },

    // FRAME-LEVEL energy contour over the same PCM containers — the
    // voice-activity-detection shape (threshold the per-frame Σ|s|, find
    // the loudest frame): non-overlapping 64-sample frames (full frames
    // only, tail dropped identically on both engines), per doc the frame
    // count, the FIRST loudest frame and its energy, and the count/ratio
    // of "voiced" frames (Σ|s| ≥ 8192 ⇔ mean |s| ≥ 128). The Spark side
    // reads the energies out of the REAL container via [[WavReader
    // .frameEnergies]] (strict validation + one streamed pass); the
    // oracle recomputes the identical contour relationally from hexed
    // text bytes — so the binary frame addressing is checked end to end.
    // All stats are exact integers; the ratio is the row's one float op.
    //
    // Scale: one payload pass per row inside the same iterator-streamed
    // mapPartitions as the decode tier; the contour never leaves the JVM
    // as an array — only O(1) per-doc columns flow on. A real VAD swaps
    // its frame predicate in behind the same contour.
    QueryDef("m10_frame_energy",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), by AS (
        |  SELECT doc_id, n, list_transform(range(n), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, CAST(n // 2 AS INT) AS k,
        |         list_transform(range(n // 2), i ->
        |           CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |             THEN b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |             ELSE b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), fe AS (
        |  SELECT doc_id, CAST(k // 64 AS INT) AS nf,
        |         list_transform(range(k // 64), f ->
        |           CAST(list_sum(list_transform(range(64), i ->
        |             abs(sv[64 * CAST(f AS INT) + CAST(i AS INT) + 1])))
        |           AS BIGINT)) AS fe
        |  FROM sm WHERE k >= 64
        |)
        |SELECT doc_id, nf AS n_frames,
        |       CAST(list_position(fe, list_max(fe)) AS INT) AS peak_frame,
        |       CAST(list_max(fe) AS BIGINT) AS peak_energy,
        |       CAST(len(list_filter(fe, e -> e >= 8192)) AS INT) AS n_voiced,
        |       round(1e-9 + len(list_filter(fe, e -> e >= 8192)) * 1.0 / nf, 4)
        |         AS voiced_ratio
        |FROM fe ORDER BY doc_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("peak_frame", IntegerType, nullable = false),
        StructField("peak_energy", LongType, nullable = false),
        StructField("n_voiced", IntegerType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      wavPayloads(s, d)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val fe = WavReader.frameEnergies(r.getAs[Array[Byte]](1), 64)
            if (fe.isEmpty) None
            else {
              var pk = 0
              var i = 1
              while (i < fe.length) { if (fe(i) > fe(pk)) pk = i; i += 1 }
              Some(Row(r.getLong(0), fe.length, pk + 1, fe(pk),
                fe.count(_ >= 8192L)))
            }
          }
        }(enc)
        .select(col("doc_id"), col("n_frames"), col("peak_frame"),
          col("peak_energy"), col("n_voiced"),
          Num.roundOut(col("n_voiced") * 1.0 / col("n_frames"), 4)
            .as("voiced_ratio"))
        .orderBy(col("doc_id"))
    },

    // ASPECT-RATIO BUCKET BATCHING — the diffusion-training data-loading
    // pattern (NovelAI/SDXL bucketing): images batch with OTHERS OF LIKE
    // SHAPE so each batch pads to its bucket's envelope instead of a
    // global square, and the padding waste is the measured objective.
    // Dims come from the REAL P6 header through the same mapPartitions
    // decode as m01/m04; bucket assignment is integer cross-ratio tests
    // (w·3 ≥ h·4 → wide, h·3 ≥ w·4 → tall, else square — no float
    // boundary); per bucket the report gives the padded-pixel envelope
    // (n · max_w · max_h) and the waste fraction (one exact-long
    // division).
    //
    // Scale: payload bytes are touched once per partition for the header
    // parse (in production dims are ingest metadata and the raster is
    // never read); everything after is a 3-group partial agg — the
    // bucket table is what the training data-loader consumes to plan
    // its batches, recomputed per snapshot in one metadata pass.
    QueryDef("m12_aspect_buckets",
      """WITH p AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), dims AS (
        |  SELECT doc_id, CAST(8 AS INT) AS w, CAST(n // 24 AS INT) AS h
        |  FROM p
        |), b AS (
        |  SELECT doc_id, w, h,
        |         CASE WHEN w * 3 >= h * 4 THEN 'wide'
        |              WHEN h * 3 >= w * 4 THEN 'tall'
        |              ELSE 'square' END AS bucket
        |  FROM dims
        |)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_images,
        |       CAST(max(w) AS INT) AS max_w, CAST(max(h) AS INT) AS max_h,
        |       CAST(sum(w * h) AS BIGINT) AS pixels_total,
        |       CAST(count(*) * max(w) * max(h) AS BIGINT) AS pixels_padded,
        |       round(1e-9 + 1.0 - sum(w * h) * 1.0
        |             / (count(*) * max(w) * max(h)), 4) AS waste_frac
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      decodeImages(ppmPayloads(s, d))
        .select(col("doc_id"), col("width").as("w"), col("height").as("h"))
        .withColumn("bucket",
          when(col("w") * 3 >= col("h") * 4, "wide")
            .when(col("h") * 3 >= col("w") * 4, "tall")
            .otherwise("square"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"),
          max(col("w")).as("max_w"), max(col("h")).as("max_h"),
          sum((col("w") * col("h")).cast("long")).as("pixels_total"))
        .select(col("bucket"), col("n_images"), col("max_w"), col("max_h"),
          col("pixels_total"),
          (col("n_images") * col("max_w") * col("max_h")).as("pixels_padded"),
          Num.roundOut(lit(1.0) - col("pixels_total") * 1.0
            / (col("n_images") * col("max_w") * col("max_h")), 4)
            .as("waste_frac"))
        .orderBy(col("bucket"))
    },

    // AUDIO SEGMENT BOUNDARIES from the energy contour — the shot/scene
    // detection shape of a media ingest (cut where adjacent frame
    // energies jump): a frame f starts a new segment when the jump is
    // RELATIVE — 2·|E_f − E_{f−1}| > max(E_f, E_{f−1}) — an all-integer
    // test (no threshold tuning per loudness level, no float boundary).
    // Per container the report gives cut count, segment count, the
    // longest segment, and the peak jump — what a media pipeline uses to
    // split long recordings into training clips. Frames are m10's: Σ|s|
    // over 64-sample windows of the genuine RIFF/PCM payloads, computed
    // in the same strict-validating one-pass reader.
    //
    // Scale: payload bytes are touched once per partition (the decode
    // stage); everything emitted is a fixed-width integer row per
    // container — cuts, lengths, and jumps all derive inside the decode
    // pass, so nothing but per-doc scalars ever shuffles.
    QueryDef("m13_segment_bounds",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), by AS (
        |  SELECT doc_id, n, list_transform(range(n), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, CAST(n // 2 AS INT) AS k,
        |         list_transform(range(n // 2), i ->
        |           CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |             THEN b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |             ELSE b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), fe AS (
        |  SELECT doc_id, CAST(k // 64 AS INT) AS nf,
        |         list_transform(range(k // 64), f ->
        |           CAST(list_sum(list_transform(range(64), i ->
        |             abs(sv[64 * CAST(f AS INT) + CAST(i AS INT) + 1])))
        |           AS BIGINT)) AS fe
        |  FROM sm WHERE k >= 128
        |), cu AS (
        |  SELECT doc_id, nf, fe,
        |         list_filter(range(2, nf + 1), f ->
        |           2 * abs(fe[CAST(f AS INT)] - fe[CAST(f AS INT) - 1])
        |           > greatest(fe[CAST(f AS INT)], fe[CAST(f AS INT) - 1]))
        |           AS cuts
        |  FROM fe
        |), seg AS (
        |  SELECT doc_id, nf, fe, cuts,
        |         list_prepend(CAST(1 AS BIGINT), cuts) AS starts
        |  FROM cu
        |)
        |SELECT doc_id, nf AS n_frames,
        |       CAST(len(cuts) AS INT) AS n_cuts,
        |       CAST(len(cuts) + 1 AS INT) AS n_segments,
        |       CAST(list_max(list_transform(range(len(starts)), i ->
        |         CASE WHEN CAST(i AS INT) = len(starts) - 1
        |           THEN nf + 1 - starts[CAST(i AS INT) + 1]
        |           ELSE starts[CAST(i AS INT) + 2] - starts[CAST(i AS INT) + 1]
        |         END)) AS INT) AS longest_seg,
        |       CAST(list_max(list_transform(range(2, nf + 1), f ->
        |         abs(fe[CAST(f AS INT)] - fe[CAST(f AS INT) - 1])))
        |         AS BIGINT) AS peak_jump
        |FROM seg ORDER BY doc_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("n_cuts", IntegerType, nullable = false),
        StructField("n_segments", IntegerType, nullable = false),
        StructField("longest_seg", IntegerType, nullable = false),
        StructField("peak_jump", LongType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      wavPayloads(s, d)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val fe = WavReader.frameEnergies(r.getAs[Array[Byte]](1), 64)
            if (fe.length < 2) None
            else {
              val nf = fe.length
              // cut at 1-based frame f when the jump is relative-large
              val cuts = (2 to nf).filter { f =>
                2L * math.abs(fe(f - 1) - fe(f - 2)) >
                  math.max(fe(f - 1), fe(f - 2))
              }
              val starts = 1 +: cuts
              val segLens = starts.indices.map { i =>
                if (i == starts.length - 1) nf + 1 - starts(i)
                else starts(i + 1) - starts(i)
              }
              val peakJump =
                (2 to nf).map(f => math.abs(fe(f - 1) - fe(f - 2))).max
              Some(Row(r.getLong(0), nf, cuts.length, cuts.length + 1,
                segLens.max, peakJump))
            }
          }
        }(enc)
        .orderBy(col("doc_id"))
    },

    // PERCEPTUAL-HASH (aHash) IMAGE DEDUP — the image-side analog of
    // x01's exact text dedup: each image reduces to a 4×2 brightness
    // thumbnail (m08's nearest-neighbor addressing), each pixel votes
    // one hash bit by "brighter than the thumbnail mean" (8·b > Σb —
    // all-integer, no division), and images agreeing on all 8 bits land
    // in one bucket. Per bucket the report splits exact copies from
    // near-dups: n_distinct_thumbs = 1 means byte-identical thumbnails
    // (re-encodes), > 1 means perceptually-close-but-different pixels —
    // the pairs a byte hash can never group. Whole-container hashing
    // (m01) misses both; this is the triage between them.
    //
    // Scale: one payload pass per image inside the decode tier's
    // iterator-streamed mapPartitions emitting (id, 8-bit hash, 24-byte
    // thumb) — the bucket aggregate shuffles O(1) per image and the
    // report is bucket-sized. The oracle replays pixel addressing, the
    // brightness votes, and the bucket split on hexed bytes end to end.
    QueryDef("m15_perceptual_hash",
      s"""WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), d AS (
        |  SELECT doc_id, hx, CAST(n // 24 AS INT) AS h FROM p
        |), px AS (
        |  SELECT doc_id, hx, CAST(pp AS INT) AS pp,
        |         CAST(3 * ((((pp // 4) * h) // 2) * 8 + 2 * (pp % 4)) AS INT)
        |           AS o
        |  FROM d, (SELECT unnest(range(8)) AS pp)
        |), bv AS (
        |  SELECT doc_id, pp, substring(hx, 2 * o + 1, 6) AS pix,
        |         ${hexByteSql("o")} + ${hexByteSql("o + 1")}
        |           + ${hexByteSql("o + 2")} AS bright
        |  FROM px
        |), wt AS (
        |  SELECT doc_id, pp, pix, bright,
        |         sum(bright) OVER (PARTITION BY doc_id) AS tot
        |  FROM bv
        |), hs AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN 8 * bright > tot
        |                       THEN (1 << pp) ELSE 0 END) AS INT) AS phash,
        |         string_agg(pix, '' ORDER BY pp) AS thumb
        |  FROM wt GROUP BY doc_id
        |)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT thumb) AS BIGINT) AS n_distinct_thumbs,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc,
        |       CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM hs GROUP BY phash HAVING count(*) >= 2
        |ORDER BY phash""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("phash", IntegerType, nullable = false),
        StructField("thumb", StringType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      ppmPayloads(s, d)
        .mapPartitions { rows =>
          rows.map { r =>
            val p = r.getAs[Array[Byte]](1)
            val (w, h, off) = PpmDecoder.header(p)
            val bright = new Array[Int](8)
            var tot = 0
            var pp = 0
            while (pp < 8) {
              val o = off + 3 * ((pp / 4 * h / 2) * w + (pp % 4) * w / 4)
              val b = (p(o) & 0xff) + (p(o + 1) & 0xff) + (p(o + 2) & 0xff)
              bright(pp) = b; tot += b; pp += 1
            }
            var hash = 0
            val sb = new java.lang.StringBuilder(48)
            pp = 0
            while (pp < 8) {
              if (8 * bright(pp) > tot) hash |= (1 << pp)
              val o = off + 3 * ((pp / 4 * h / 2) * w + (pp % 4) * w / 4)
              sb.append("%02X%02X%02X".format(
                p(o) & 0xff, p(o + 1) & 0xff, p(o + 2) & 0xff))
              pp += 1
            }
            Row(r.getLong(0), hash, sb.toString)
          }
        }(enc)
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("thumb")).as("n_distinct_thumbs"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("phash"))
    },

    // PER-CHANNEL INTENSITY HISTOGRAM — the exposure/contrast audit an
    // image-curation pass runs before training (all-dark, all-blown, or
    // single-channel-degenerate images are drop candidates): for each P6
    // payload, each RGB channel's 4-bucket histogram (bucket = byte>>6)
    // plus the exact channel sum and mean. The raster is streamed ONCE
    // per payload inside the decode tier's iterator-to-iterator
    // mapPartitions, emitting 3 long-format rows (doc, channel) — O(1)
    // output per image, pixels never leave the executor. The oracle
    // replays the identical byte addressing on the hexed text bytes
    // (raster byte o = channel o%3), so the channel de-interleave is
    // checked end to end.
    QueryDef("m14_channel_histogram",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), by AS (
        |  SELECT doc_id, CAST(24 * (n // 24) AS INT) AS np,
        |         list_transform(range(24 * (n // 24)), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), ch(c, channel) AS (VALUES (0, 'r'), (1, 'g'), (2, 'b'))
        |SELECT by.doc_id, ch.channel,
        |  CAST(len(list_filter(range(np), o ->
        |    o % 3 = ch.c AND by.b[CAST(o AS INT) + 1] // 64 = 0)) AS BIGINT) AS b0,
        |  CAST(len(list_filter(range(np), o ->
        |    o % 3 = ch.c AND by.b[CAST(o AS INT) + 1] // 64 = 1)) AS BIGINT) AS b1,
        |  CAST(len(list_filter(range(np), o ->
        |    o % 3 = ch.c AND by.b[CAST(o AS INT) + 1] // 64 = 2)) AS BIGINT) AS b2,
        |  CAST(len(list_filter(range(np), o ->
        |    o % 3 = ch.c AND by.b[CAST(o AS INT) + 1] // 64 = 3)) AS BIGINT) AS b3,
        |  CAST(list_sum(list_transform(list_filter(range(np), o -> o % 3 = ch.c),
        |    o -> by.b[CAST(o AS INT) + 1])) AS BIGINT) AS sum_v,
        |  CAST(np // 3 AS BIGINT) AS n_ch,
        |  round(1e-9 + list_sum(list_transform(
        |    list_filter(range(np), o -> o % 3 = ch.c),
        |    o -> by.b[CAST(o AS INT) + 1])) * 1.0 / (np // 3), 6) AS mean_v
        |FROM by CROSS JOIN ch
        |ORDER BY doc_id, channel""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("channel", StringType, nullable = false),
        StructField("b0", LongType, nullable = false),
        StructField("b1", LongType, nullable = false),
        StructField("b2", LongType, nullable = false),
        StructField("b3", LongType, nullable = false),
        StructField("sum_v", LongType, nullable = false),
        StructField("n_ch", LongType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      ppmPayloads(s, d)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val p = r.getAs[Array[Byte]](1)
            val (w, h, off) = PpmDecoder.header(p)
            val np = 3 * w * h
            val counts = Array.ofDim[Long](3, 4)
            val sums = new Array[Long](3)
            var o = 0
            while (o < np) {
              val b = p(off + o) & 0xff
              counts(o % 3)(b >> 6) += 1
              sums(o % 3) += b
              o += 1
            }
            Seq("r", "g", "b").zipWithIndex.map { case (nm, c) =>
              Row(r.getLong(0), nm, counts(c)(0), counts(c)(1),
                counts(c)(2), counts(c)(3), sums(c), (np / 3).toLong)
            }
          }
        }(enc)
        .select(col("doc_id"), col("channel"), col("b0"), col("b1"),
          col("b2"), col("b3"), col("sum_v"), col("n_ch"),
          Num.roundOut(col("sum_v") * 1.0 / col("n_ch"), 6).as("mean_v"))
        .orderBy(col("doc_id"), col("channel"))
    },

    // PATCHIFY — the ViT ingestion primitive: split each decoded image
    // into a 2×2 patch grid and emit per-patch brightness statistics
    // (n_px, Σ(r+g+b), integer mean), the per-patch feature row a vision
    // training pipeline materializes before embedding. Patch boundaries
    // are integer splits of the raster (columns 0–3 | 4–7 of the 8-wide
    // P6; rows split at h div 2, bottom patch absorbing the odd row), so
    // every statistic is exact-integer and the oracle replays the same
    // pixel→patch addressing on hexed bytes. Images under two pixel rows
    // are filtered — no 2×2 grid exists.
    //
    // Scale: one streamed pass over payload bytes per container inside
    // the decode tier's mapPartitions (the m14 shape); output is exactly
    // 4 fixed-width rows per image, so the patch table shuffles O(1) per
    // container and downstream per-patch work never touches payloads.
    QueryDef("m16_patchify",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 48
        |), dims AS (
        |  SELECT doc_id, hx, CAST(n // 24 AS INT) AS h FROM p
        |), g(py, px) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
        |cell AS (
        |  SELECT doc_id, h, py, px,
        |         CAST(CASE WHEN py = 0 THEN h // 2 ELSE h - h // 2 END * 4
        |              AS BIGINT) AS n_px,
        |         CAST(list_sum(list_transform(
        |           list_filter(range(24 * h), o ->
        |             CASE WHEN (o // 24) < h // 2 THEN 0 ELSE 1 END = py
        |             AND ((o % 24) // 3) // 4 = px),
        |           o -> (strpos('0123456789ABCDEF',
        |                   substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16
        |                + strpos('0123456789ABCDEF',
        |                   substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1))
        |           AS BIGINT) AS sum_b
        |  FROM dims CROSS JOIN g
        |)
        |SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px, n_px,
        |       sum_b, CAST(sum_b // n_px AS BIGINT) AS mean_b
        |FROM cell ORDER BY doc_id, py, px""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("py", IntegerType, nullable = false),
        StructField("px", IntegerType, nullable = false),
        StructField("n_px", LongType, nullable = false),
        StructField("sum_b", LongType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      ppmPayloads(s, d)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val p = r.getAs[Array[Byte]](1)
            val (w, h, off) = PpmDecoder.header(p)
            if (h < 2) None
            else {
              val hTop = h / 2
              val sums = Array.ofDim[Long](2, 2)
              var o = 0
              val np = 3 * w * h
              while (o < np) {
                val row = o / 24
                val cl = (o % 24) / 3
                sums(if (row < hTop) 0 else 1)(cl / 4) += (p(off + o) & 0xff)
                o += 1
              }
              for (py <- 0 to 1; px <- 0 to 1) yield {
                val nPx = (if (py == 0) hTop else h - hTop).toLong * 4
                Row(r.getLong(0), py, px, nPx, sums(py)(px))
              }
            }
          }
        }(enc)
        .select(col("doc_id"), col("py"), col("px"), col("n_px"),
          col("sum_b"), expr("sum_b div n_px").as("mean_b"))
        .orderBy(col("doc_id"), col("py"), col("px"))
    },

    // LOUDNESS-NORMALIZATION GAIN PLANNING — the audio-ingest decision
    // m09's stats feed: per container, the peak-normalization gain that
    // would bring |s|max to full scale (gain·1000 = 32767000 div peak —
    // integer milli-units, one integer division), capped at 20× (the
    // policy guard against blowing up near-silence), the headroom left
    // below full scale, and the post-gain mean level — all planned
    // WITHOUT rewriting a single sample byte. A media pipeline runs
    // this audit to decide which containers to re-render and which to
    // pass through; the capped-gain flag is its quarantine-for-silence
    // signal (m06's pattern applied to levels).
    //
    // Scale: one streamed payload pass per container inside the decode
    // tier's mapPartitions (peak and Σ|s| from the strict-validating
    // WavReader); everything emitted is O(1) integer columns per
    // container, and the plan-vs-rewrite decision table is exactly what
    // ships to the re-render fleet.
    QueryDef("m17_gain_plan",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), by AS (
        |  SELECT doc_id, n, list_transform(range(2 * (n // 2)), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, CAST(n // 2 AS INT) AS k,
        |         list_transform(range(n // 2), i ->
        |           CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |             THEN b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |             ELSE b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), st AS (
        |  SELECT doc_id, k,
        |         CAST(list_max(list_transform(sv, x -> abs(x))) AS BIGINT)
        |           AS peak,
        |         CAST(list_sum(list_transform(sv, x -> abs(x))) AS BIGINT)
        |           AS sum_abs
        |  FROM sm
        |), g AS (
        |  SELECT doc_id, k, peak, sum_abs,
        |         CASE WHEN peak = 0 THEN 0
        |              ELSE 32767000 // peak END AS gain_milli
        |  FROM st
        |)
        |SELECT doc_id, peak, sum_abs,
        |       CAST(gain_milli AS BIGINT) AS gain_milli,
        |       CAST(least(gain_milli, 20000) AS BIGINT) AS capped_gain_milli,
        |       gain_milli > 20000 AS is_capped,
        |       CAST(1000 * (32767 - peak) // 32767 AS BIGINT)
        |         AS headroom_milli,
        |       CAST((sum_abs * least(gain_milli, 20000)) // (1000 * k)
        |            AS BIGINT) AS post_mean_abs
        |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("peak", LongType, nullable = false),
        StructField("sum_abs", LongType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      wavPayloads(s, d)
        .mapPartitions { rows =>
          rows.map { r =>
            val (_, k, peak, sumAbs, _) =
              WavReader.stats(r.getAs[Array[Byte]](1))
            Row(r.getLong(0), k.toLong, peak, sumAbs)
          }
        }(enc)
        .withColumn("gain_milli",
          when(col("peak") === 0, 0L).otherwise(expr("32767000 div peak")))
        .select(col("doc_id"), col("peak"), col("sum_abs"), col("gain_milli"),
          least(col("gain_milli"), lit(20000L)).as("capped_gain_milli"),
          (col("gain_milli") > 20000).as("is_capped"),
          expr("1000 * (32767 - peak) div 32767").as("headroom_milli"),
          expr("(sum_abs * least(gain_milli, 20000)) div (1000 * k)")
            .as("post_mean_abs"))
        .orderBy(col("doc_id"))
    },

    // SHOT-BOUNDARY DETECTION over the frame-energy contour — the video
    // scene-cut shape run on m10's audio frames (the contour is the
    // common abstraction: a real video pipeline swaps per-frame Σ|s| for
    // a per-frame histogram distance and keeps this exact plan): a cut
    // is a frame-to-frame energy jump ≥ 1/16 of the doc's MEAN frame
    // energy — relative, so loud and quiet containers are judged on the
    // same footing, and exact-integer (16·|Δ|·nf ≥ Σfe; threshold chosen
    // from the measured delta distribution: ~p87, giving a sparse ~13%
    // cut rate rather than all-or-nothing). Per doc: frame count, cut
    // count, first cut frame (1-indexed frame AFTER the jump; 0 = none),
    // the largest jump, and the segment count the cuts imply — the
    // keyframe-extraction work list (m03 samples fixed frames; this
    // samples WHERE THE CONTENT CHANGES). Round8Spec re-derives every
    // row from raw text bytes.
    //
    // Scale: the contour and its deltas live and die inside the same
    // iterator-streamed mapPartitions pass as m09/m10/m17 — one payload
    // scan, O(1) columns out per doc; the oracle recomputes the identical
    // contour relationally from hexed bytes (m02's move).
    QueryDef("m18_shot_cuts",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), by AS (
        |  SELECT doc_id, n, list_transform(range(n), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, CAST(n // 2 AS INT) AS k,
        |         list_transform(range(n // 2), i ->
        |           CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |             THEN b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |             ELSE b[2 * CAST(i AS INT) + 1]
        |                  + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), fe AS (
        |  SELECT doc_id, CAST(k // 64 AS INT) AS nf,
        |         list_transform(range(k // 64), f ->
        |           CAST(list_sum(list_transform(range(64), i ->
        |             abs(sv[64 * CAST(f AS INT) + CAST(i AS INT) + 1])))
        |           AS BIGINT)) AS fe
        |  FROM sm WHERE k >= 128
        |), dl AS (
        |  SELECT doc_id, nf, CAST(list_sum(fe) AS BIGINT) AS se,
        |         list_transform(range(nf - 1), f ->
        |           abs(fe[CAST(f AS INT) + 2] - fe[CAST(f AS INT) + 1]))
        |           AS dd
        |  FROM fe
        |), ct AS (
        |  SELECT doc_id, nf, se, dd,
        |         list_transform(dd, x ->
        |           CASE WHEN 16 * x * nf >= se THEN 1 ELSE 0 END) AS cf
        |  FROM dl
        |)
        |SELECT doc_id, nf AS n_frames,
        |       CAST(list_sum(cf) AS INT) AS n_cuts,
        |       CAST(CASE WHEN list_sum(cf) = 0 THEN 0
        |            ELSE list_position(cf, 1) + 1 END AS INT)
        |         AS first_cut_frame,
        |       CAST(list_max(dd) AS BIGINT) AS max_delta,
        |       CAST(list_sum(cf) + 1 AS INT) AS n_segments,
        |       round(1e-9 + list_sum(cf) * 1.0 / (nf - 1), 4) AS cut_ratio
        |FROM ct ORDER BY doc_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_frames", IntegerType, nullable = false),
        StructField("n_cuts", IntegerType, nullable = false),
        StructField("first_cut_frame", IntegerType, nullable = false),
        StructField("max_delta", LongType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      wavPayloads(s, d)
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val fe = WavReader.frameEnergies(r.getAs[Array[Byte]](1), 64)
            if (fe.length < 2) None
            else {
              val nf = fe.length
              val se = fe.sum
              var cuts = 0; var first = 0; var maxD = 0L
              var f = 0
              while (f < nf - 1) {
                val d0 = math.abs(fe(f + 1) - fe(f))
                if (d0 > maxD) maxD = d0
                if (16L * d0 * nf >= se) {
                  cuts += 1
                  if (first == 0) first = f + 2 // 1-indexed frame after jump
                }
                f += 1
              }
              Some(Row(r.getLong(0), nf, cuts, first, maxD))
            }
          }
        }(enc)
        .select(col("doc_id"), col("n_frames"), col("n_cuts"),
          col("first_cut_frame"), col("max_delta"),
          (col("n_cuts") + 1).as("n_segments"),
          Num.roundOut(col("n_cuts") * 1.0 / (col("n_frames") - 1), 4)
            .as("cut_ratio"))
        .orderBy(col("doc_id"))
    },

    // PERCEPTUAL NEAR-DUP PAIRS — m15 groups images whose 8-bit aHash
    // is IDENTICAL; this finds the pairs a crop/re-encode pushes 1–2
    // bits apart, the image-side analog of x39's MinHash banding: a
    // 16-bit dHash (each 4×4-grid pixel votes "brighter than my row
    // neighbor" — gradient bits survive uniform brightness shifts that
    // flip aHash wholesale) splits into 4 bands of 4 bits; by
    // pigeonhole any pair within Hamming distance 2 agrees on at least
    // 2 whole bands, so the band-value equi-join finds EVERY qualifying
    // pair — no pair enumeration, no recall loss. Candidates then
    // verify with an exact popcount-of-xor.
    //
    // Scale: one payload pass per image inside the decode tier's
    // iterator-streamed mapPartitions emitting (id, 16-bit hash) —
    // O(1) bytes per image cross the shuffle; candidates ∝ band-bucket
    // collisions (at web scale the hash widens to 64 bits and bands to
    // 8×8, shrinking buckets — the same knob as x39's band count); the
    // verify is integer bit math on the candidate rows only.
    QueryDef("m19_phash_neardup",
      s"""WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 24
        |), d AS (
        |  SELECT doc_id, hx, CAST(n // 24 AS INT) AS h FROM p
        |), px AS (
        |  SELECT doc_id, CAST(pp AS INT) AS pp,
        |         CAST(3 * ((((pp // 4) * h) // 4) * 8 + 2 * (pp % 4)) AS INT)
        |           AS o,
        |         hx
        |  FROM d, (SELECT unnest(range(16)) AS pp)
        |), bv AS (
        |  SELECT doc_id, pp,
        |         ${hexByteSql("o")} + ${hexByteSql("o + 1")}
        |           + ${hexByteSql("o + 2")} AS bright
        |  FROM px
        |), nbr AS (
        |  SELECT a.doc_id, a.pp, a.bright, b.bright AS nbright
        |  FROM bv a JOIN bv b ON b.doc_id = a.doc_id
        |   AND b.pp = (a.pp // 4) * 4 + (a.pp + 1) % 4
        |), hs AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN bright > nbright
        |                       THEN (1 << pp) ELSE 0 END) AS INT) AS dh
        |  FROM nbr GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, dh, CAST(b AS INT) AS band,
        |         CAST((dh >> (4 * CAST(b AS INT))) & 15 AS INT) AS bval
        |  FROM hs, (SELECT unnest(range(4)) AS b)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.dh AS ha, b.dh AS hb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) BETWEEN 1 AND 2
        |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("dh", IntegerType, nullable = false)))
      val enc = RowEncoder.encoderFor(schema)
      val hs = ppmPayloads(s, d)
        .mapPartitions { rows =>
          rows.map { r =>
            val p = r.getAs[Array[Byte]](1)
            val (w, h, off) = PpmDecoder.header(p)
            val bright = new Array[Int](16)
            var pp = 0
            while (pp < 16) {
              val o = off + 3 * ((pp / 4 * h / 4) * w + (pp % 4) * w / 4)
              bright(pp) =
                (p(o) & 0xff) + (p(o + 1) & 0xff) + (p(o + 2) & 0xff)
              pp += 1
            }
            var dh = 0
            pp = 0
            while (pp < 16) {
              if (bright(pp) > bright(pp / 4 * 4 + (pp + 1) % 4))
                dh |= (1 << pp)
              pp += 1
            }
            Row(r.getLong(0), dh)
          }
        }(enc)
        .localCheckpoint() // both band-join sides read the tiny hash table
      val bands = hs.select(col("doc_id"), col("dh"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bval", expr("shiftright(dh, 4 * band) & 15"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.dh").as("ha"), col("b.dh").as("hb"))
        .distinct()
      cand
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("int"))
        .filter(col("hamming").between(1, 2)) // exact groups are m15's job
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // RATIONAL RESAMPLE PLAN — the DSP scheduling step before audio
    // enters a 16k/22k/44.1k model pipeline: for each PCM container and
    // target rate, the reduced L/M polyphase ratio, the EXACT output
    // length ceil(n·L/M), the windowed-sinc prototype tap count
    // (24·max(L,M)+1), per-output MACs (ceil(taps/L) — each output uses
    // one phase), and the total MAC budget. This is the "how much
    // compute will resampling cost and how many frames come out"
    // planning query an ingest scheduler runs BEFORE touching sample
    // bytes. L/M come from a Scala-side gcd reduction inlined into both
    // engines as the same 3-row literal table (no runtime gcd, no
    // engine-specific math).
    //
    // Scale: pure metadata — sample counts come from container length
    // column math (the writer pins data bytes = container − 44; m09's
    // full parse cross-checks the same value), the plan table is a
    // 3-row broadcast, and no payload byte is ever read. The m01
    // discipline: plan on metadata, decode only where the plan says to.
    // ACOUSTIC-FINGERPRINT NEAR-DUP — the audio analog of m19's image
    // dHash, completing per-modality near-dup (text x39 / image m19 /
    // audio here): a 16-bit Haitsma–Kalker-style sign-of-energy-delta
    // fingerprint (bit f set iff frame f+1 is louder than frame f over
    // the first 17 fine-grained 8-sample frames of the PCM tier — delta
    // SIGNS survive the gain changes and re-encodes that shift absolute
    // energies wholesale), banded 4×4 bits; by pigeonhole any pair
    // within Hamming distance 2 agrees on ≥ 2 whole bands, so the
    // band-value equi-join finds EVERY qualifying pair — no pair
    // enumeration, no recall loss (Round10Spec pins completeness
    // against brute-force all-pairs). Candidates verify with an exact
    // popcount-of-xor; Hamming 0 is included (fingerprint equality is
    // still only a signature match — audio has no m15-style exact-group
    // query to defer to).
    //
    // Scale: one payload pass per container inside the decode tier's
    // iterator-streamed mapPartitions emitting (id, 16-bit fp) — O(1)
    // bytes per clip cross the shuffle; candidates ∝ band-bucket
    // collisions (at production scale the fingerprint widens to 32
    // sub-band bits × n frames and bands to 8 bits — x39's band knob);
    // the verify is integer bit math on candidate rows only.
    QueryDef("m21_audio_fingerprint_neardup",
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 272
        |), by AS (
        |  SELECT doc_id, list_transform(range(272), o ->
        |    (strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 1, 1)) - 1) * 16 +
        |     strpos('0123456789ABCDEF',
        |            substring(hx, 2 * CAST(o AS INT) + 2, 1)) - 1) AS b
        |  FROM p
        |), sm AS (
        |  SELECT doc_id, list_transform(range(136), i ->
        |    CASE WHEN b[2 * CAST(i AS INT) + 2] >= 128
        |      THEN b[2 * CAST(i AS INT) + 1]
        |           + 256 * b[2 * CAST(i AS INT) + 2] - 65536
        |      ELSE b[2 * CAST(i AS INT) + 1]
        |           + 256 * b[2 * CAST(i AS INT) + 2] END) AS sv
        |  FROM by
        |), fe AS (
        |  SELECT doc_id, list_transform(range(17), f ->
        |    CAST(list_sum(list_transform(range(8), i ->
        |      abs(sv[8 * CAST(f AS INT) + CAST(i AS INT) + 1])))
        |    AS BIGINT)) AS fe
        |  FROM sm
        |), fp AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(16), f ->
        |    CASE WHEN fe[CAST(f AS INT) + 2] > fe[CAST(f AS INT) + 1]
        |         THEN (1 << CAST(f AS INT)) ELSE 0 END)) AS INT) AS afp
        |  FROM fe
        |), bands AS (
        |  SELECT doc_id, afp, CAST(b AS INT) AS band,
        |         CAST((afp >> (4 * CAST(b AS INT))) & 15 AS INT) AS bval
        |  FROM fp, (SELECT unnest(range(4)) AS b)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.afp AS ha, b.afp AS hb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 2
        |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      val hs = audioFingerprints(s, d)
        .localCheckpoint() // both band-join sides read the tiny fp table
      val bands = hs.select(col("doc_id"), col("afp"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bval", expr("shiftright(afp, 4 * band) & 15"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.afp").as("ha"), col("b.afp").as("hb"))
        .distinct()
      cand
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("int"))
        .filter(col("hamming") <= 2)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(20)
    },

    QueryDef("m20_resample_plan",
      {
        val src = 8000L
        val targets = Seq(16000L, 22050L, 44100L).map { t =>
          val g = BigInt(t).gcd(BigInt(src)).toLong
          (t, t / g, src / g)
        }
        val values = targets
          .map { case (t, l, m) => s"($t, $l, $m)" }.mkString(", ")
        s"""WITH p AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n
        |  FROM documents
        |  WHERE octet_length(encode(text)) >= 4
        |), tg(target_hz, l, m) AS (
        |  VALUES $values
        |)
        |SELECT doc_id, CAST(target_hz AS BIGINT) AS target_hz,
        |       CAST(l AS BIGINT) AS l, CAST(m AS BIGINT) AS m,
        |       CAST((n * l + m - 1) // m AS BIGINT) AS out_len,
        |       CAST(24 * greatest(l, m) + 1 AS BIGINT) AS taps,
        |       CAST(((n * l + m - 1) // m)
        |            * ((24 * greatest(l, m) + 1 + l - 1) // l) AS BIGINT)
        |         AS mac_total
        |FROM p CROSS JOIN tg ORDER BY doc_id, target_hz""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val src = 8000L
      val tg = Seq(16000L, 22050L, 44100L).map { t =>
        val g = BigInt(t).gcd(BigInt(src)).toLong
        (t, t / g, src / g)
      }.toDF("target_hz", "l", "m")
      wavPayloads(s, d)
        .select(col("doc_id"),
          expr("(length(payload) - 44) div 2").cast("long").as("n"))
        .crossJoin(broadcast(tg))
        .select(col("doc_id"), col("target_hz"), col("l"), col("m"),
          expr("(n * l + m - 1) div m").as("out_len"),
          (lit(24L) * greatest(col("l"), col("m")) + 1L).as("taps"),
          (expr("(n * l + m - 1) div m")
            * expr("(24 * greatest(l, m) + 1 + l - 1) div l"))
            .as("mac_total"))
        .orderBy(col("doc_id"), col("target_hz"))
    },

    // CROSS-MODAL CAPTION↔TEXT NEAR-DUP — the seam between the text and
    // media tiers: each clip (the ppm-payload tier, docs with ≥24 bytes)
    // carries a CAPTION in its metadata (deterministically, its first 8
    // tokens — the m01 fake-metadata discipline); this finds text
    // documents whose full-text fingerprint sits within Hamming ≤ 3 of a
    // DIFFERENT clip's caption fingerprint — "this document describes
    // that clip". Both tiers hash through the ONE portable-SimHash
    // pipeline (Dedup.simhashBitsOf — votes depend only on the token
    // string, so the tiers share a 32-bit hash space and band-join
    // directly; the text side reads x63's persisted psimhash artifact,
    // the caption side persists its own capsimhash table).
    //
    // Scale: x63's LSH discipline across tiers — 4×8-bit band chunks,
    // each side's crowded buckets (>100) dropped WHOLE before the
    // band-value equi-join (candidates bounded by 4·100·min(|bucket|)
    // per chunk value, never text×clips), popcount verify on candidates
    // only. Pigeonhole: dist ≤ 3 over 4 bands leaves ≥1 band equal, so
    // banding loses nothing under the cap (Round11Spec pins soundness +
    // under-cap completeness against brute force).
    QueryDef("m22_crossmodal_neardup",
      """WITH dtok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(list_distinct(string_split(text, ' ')),
        |                w -> len(w) > 0)) AS tok
        |  FROM documents
        |), ctok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(
        |           list_filter(string_split(text, ' '),
        |                       w -> len(w) > 0)[1:8])) AS tok
        |  FROM documents WHERE octet_length(encode(text)) >= 24
        |), voc AS (
        |  SELECT tok FROM dtok UNION SELECT tok FROM ctok
        |), vh AS (
        |  SELECT tok,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(len(tok)),
        |             i -> CAST(unicode(tok[i+1]) AS BIGINT))),
        |           (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM voc
        |), tb AS (
        |  SELECT tok, CAST(i AS INT) AS i,
        |         (h + (i + 1) * 2654435761) & 4294967295 AS a
        |  FROM vh, (SELECT unnest(range(32)) AS i)
        |), t1 AS (
        |  SELECT tok, i, (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM tb
        |), t2 AS (
        |  SELECT tok, i, (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM t1
        |), tv AS (
        |  SELECT tok, i,
        |         CASE WHEN xor(a >> 16, a) & 1 = 1 THEN 1 ELSE -1 END AS v
        |  FROM t2
        |), tfp AS (
        |  SELECT doc_id, CAST(sum(CAST(b AS BIGINT) << i) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, i, CASE WHEN sv > 0 THEN 1 ELSE 0 END AS b
        |        FROM (SELECT t.doc_id, tv.i, sum(tv.v) AS sv
        |              FROM dtok t JOIN tv USING (tok) GROUP BY 1, 2))
        |  GROUP BY 1
        |), cfp AS (
        |  SELECT doc_id, CAST(sum(CAST(b AS BIGINT) << i) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, i, CASE WHEN sv > 0 THEN 1 ELSE 0 END AS b
        |        FROM (SELECT t.doc_id, tv.i, sum(tv.v) AS sv
        |              FROM ctok t JOIN tv USING (tok) GROUP BY 1, 2))
        |  GROUP BY 1
        |), tch AS (
        |  SELECT doc_id, fp, CAST(band AS INT) AS band,
        |         CAST((fp >> (CAST(band AS INT) * 8)) & 255 AS INT) AS chunk
        |  FROM tfp, (SELECT unnest(range(4)) AS band)
        |), cch AS (
        |  SELECT doc_id, fp, CAST(band AS INT) AS band,
        |         CAST((fp >> (CAST(band AS INT) * 8)) & 255 AS INT) AS chunk
        |  FROM cfp, (SELECT unnest(range(4)) AS band)
        |), tkeep AS (
        |  SELECT band, chunk FROM tch GROUP BY 1, 2 HAVING count(*) <= 100
        |), ckeep AS (
        |  SELECT band, chunk FROM cch GROUP BY 1, 2 HAVING count(*) <= 100
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS text_doc, b.doc_id AS clip_doc,
        |         a.fp AS fp_text, b.fp AS fp_cap
        |  FROM tch a
        |  JOIN tkeep ta ON a.band = ta.band AND a.chunk = ta.chunk
        |  JOIN cch b ON a.band = b.band AND a.chunk = b.chunk
        |             AND a.doc_id <> b.doc_id
        |  JOIN ckeep cb ON b.band = cb.band AND b.chunk = cb.chunk
        |)
        |SELECT text_doc, clip_doc,
        |       CAST(bit_count(xor(fp_text, fp_cap)) AS INT) AS dist
        |FROM cand WHERE bit_count(xor(fp_text, fp_cap)) <= 3
        |ORDER BY dist, text_doc, clip_doc LIMIT 100""".stripMargin) { (s, d) =>
      import graft.functions.Text
      val tfp = Dedup.psimhashBits(s, d)
        .groupBy(col("doc_id"))
        .agg(sum(expr("shiftleft(CAST(b AS BIGINT), i)")).as("fp"))
      val ctok = Tables.documents(s, d)
        .filter(length(encode(col("text"), "UTF-8")) >= 24)
        .select(col("doc_id"),
          explode(array_distinct(slice(
            filter(Text.tokens(col("text")), w => length(w) > 0),
            1, 8))).as("tok"))
      val cfp = DerivedTable(s, d, Artifacts.capsimhash) {
          Dedup.simhashBitsOf(ctok)
        }
        .groupBy(col("doc_id"))
        .agg(sum(expr("shiftleft(CAST(b AS BIGINT), i)")).as("fp"))
      def chunks(fp: DataFrame): DataFrame =
        fp.select(col("doc_id"), col("fp"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("chunk",
            expr("CAST(shiftright(fp, band * 8) & 255 AS INT)"))
      def underCap(ch: DataFrame): DataFrame =
        ch.join(
          ch.groupBy(col("band"), col("chunk"))
            .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= 100)
            .select(col("band"), col("chunk")),
          Seq("band", "chunk"))
      val cand = underCap(chunks(tfp)).as("a")
        .join(underCap(chunks(cfp)).as("b"),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("text_doc"),
          col("b.doc_id").as("clip_doc"),
          col("a.fp").as("fp_text"), col("b.fp").as("fp_cap"))
        .distinct()
      cand
        .withColumn("dist", expr("CAST(bit_count(fp_text ^ fp_cap) AS INT)"))
        .filter(col("dist") <= 3)
        .select(col("text_doc"), col("clip_doc"), col("dist"))
        .orderBy(col("dist"), col("text_doc"), col("clip_doc"))
        .limit(100)
    }
  )
}
