package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize /
  * frame-sample operators.
  *
  * Image decode is REAL in both tiers, pure Scala, zero external codecs:
  *  - UNCOMPRESSED: [[decodeImages]] parses binary PPM (P6) rasters end to
  *    end (header, raster, per-channel stats, nearest-neighbor thumbnail).
  *  - COMPRESSED: [[decodeQoiImages]] decompresses QOI streams (run-length,
  *    64-slot color index, delta/luma chunks — the real decode loop of a
  *    compressed format) through the same batch-per-partition contract.
  *  - DCT-CODED: [[decodeJpegImages]] ([[Jpeg]], round 16) decodes real
  *    baseline AND progressive JPEG — the format crawl corpora are
  *    dominated by — from the public ITU-T T.81 spec, zero external
  *    codecs.
  *  - LOSSLESS-COMPRESSED: [[decodePngImages]] ([[Png]], round 17)
  *    decodes the other top-2 crawl format across its full fixed
  *    profile (every bit depth, every colour type, Adam7) — DEFLATE
  *    from the JDK, everything else from the public spec.
  * MP3/H.264 PIXEL/SAMPLE decode remains out of scope for this
  * container (no codec libraries) — but their METADATA does not:
  * [[graft.ops.Mp3.meta]]/[[graft.ops.Mp4.meta]] walk the public
  * frame-header/box structure at header cost (the crawl filter/group
  * pass), and [[mediaMetadata]] unifies that pre-pass across every
  * container. For sample decode, in a PySpark deployment the same
  * mapPartitions row contract becomes a Pandas UDF over mapInPandas,
  * in Scala a JNI codec opened once per partition — the Spark-side
  * plumbing (schema, batch shape, partitioning, operator signatures)
  * is identical to what [[Qoi]]/[[Jpeg]]/[[Png]] exercise for real.
  */
object Multimodal {

  /** splitmix64 finalizer (the public SplitMix64 constants) — ONE
    * definition shared by the audio fingerprint's word salt and every
    * planted fixture family's pattern seeder: a constant tweak must
    * never make the production hash and the fixtures silently
    * diverge, nor two fixture families collide. */
  private[graft] def splitmix64(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- real decode tier 2: QOI (compressed) ----

  /** Minimal QOI codec (the "Quite OK Image" format, public spec at
    * qoiformat.org) — a REAL compressed image format with run-length,
    * 64-slot color-index, delta (DIFF) and luma-delta (LUMA) chunk types,
    * implemented from the one-page public spec with zero external
    * dependencies. 3-channel (RGB, alpha fixed 255) subset. */
  object Qoi {
    private final val OpIndex = 0x00
    private final val OpDiff  = 0x40
    private final val OpLuma  = 0x80
    private final val OpRun   = 0xc0
    private final val OpRgb   = 0xfe
    private final val OpRgba  = 0xff

    private def hash(r: Int, g: Int, b: Int, a: Int): Int =
      (r * 3 + g * 5 + b * 7 + a * 11) % 64

    /** Header-only dims with the same structural guards decode applies
      * before its allocation (14-byte header, channel check, dim
      * bounds, the run-packing payload ceiling) — zero decode cost for
      * the pre-decode gates. The chunk stream itself is deliberately
      * unvalidated (that is the decode cost the gate avoids). */
    def dims(bytes: Array[Byte]): (Int, Int) = {
      require(bytes.length >= 14 + 8, "truncated qoi")
      require(bytes(0) == 'q' && bytes(1) == 'o' && bytes(2) == 'i' &&
        bytes(3) == 'f', "not a qoi stream")
      def be32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      val w = be32(4); val h = be32(8)
      require(bytes(12) == 3 || bytes(12) == 4, s"bad channels ${bytes(12)}")
      require(w > 0 && h > 0 && w.toLong * h * 3 < Int.MaxValue, "bad dims")
      require(w.toLong * h <= (bytes.length - 22).toLong * 62,
        s"declared $w x $h cannot fit in ${bytes.length} bytes")
      (w, h)
    }

    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"raster ${rgb.length} != ${w * h * 3}")
      val out = new java.io.ByteArrayOutputStream(rgb.length / 2 + 32)
      out.write('q'); out.write('o'); out.write('i'); out.write('f')
      def be32(v: Int): Unit = {
        out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff)
      }
      be32(w); be32(h)
      out.write(3) // channels
      out.write(0) // colorspace: sRGB
      // index slots start as {0,0,0,0}; our pixels carry a=255, so packing
      // WITH alpha makes the zero-initialized slots never falsely match.
      val index = new Array[Int](64)
      var (pr, pg, pb) = (0, 0, 0)
      var run = 0
      var p = 0
      while (p < rgb.length) {
        val r = rgb(p) & 0xff; val g = rgb(p + 1) & 0xff; val b = rgb(p + 2) & 0xff
        if (r == pr && g == pg && b == pb) {
          run += 1
          if (run == 62) { out.write(OpRun | (run - 1)); run = 0 }
        } else {
          if (run > 0) { out.write(OpRun | (run - 1)); run = 0 }
          val packed = (r << 24) | (g << 16) | (b << 8) | 255
          val ix = hash(r, g, b, 255)
          if (index(ix) == packed) out.write(OpIndex | ix)
          else {
            index(ix) = packed
            // wrapping 8-bit diffs, per spec ("differences ... wrap around")
            val dr = ((r - pr + 128) & 0xff) - 128
            val dg = ((g - pg + 128) & 0xff) - 128
            val db = ((b - pb + 128) & 0xff) - 128
            if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
              out.write(OpDiff | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            else if (dg >= -32 && dg <= 31 &&
                dr - dg >= -8 && dr - dg <= 7 && db - dg >= -8 && db - dg <= 7) {
              out.write(OpLuma | (dg + 32))
              out.write(((dr - dg + 8) << 4) | (db - dg + 8))
            } else {
              out.write(OpRgb); out.write(r); out.write(g); out.write(b)
            }
          }
          pr = r; pg = g; pb = b
        }
        p += 3
      }
      if (run > 0) out.write(OpRun | (run - 1))
      var z = 0
      while (z < 7) { out.write(0); z += 1 }
      out.write(1) // end marker
      out.toByteArray
    }

    /** Decode a QOI stream → (width, height, RGB raster). Handles every
      * chunk type of the spec — including QOI_OP_RGBA, which a channels=3
      * header does NOT forbid (the spec marks the channels field "purely
      * informative"), so streams from other encoders decode correctly;
      * alpha participates in the index hash as state but is dropped from
      * the 3-channel output raster. Throws on malformed input (callers
      * choose skip-vs-fail). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(bytes.length >= 14 + 8, "truncated qoi")
      require(bytes(0) == 'q' && bytes(1) == 'o' && bytes(2) == 'i' &&
        bytes(3) == 'f', "not a qoi stream")
      def be32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      val w = be32(4); val h = be32(8)
      require(bytes(12) == 3 || bytes(12) == 4, s"bad channels ${bytes(12)}")
      require(w > 0 && h > 0 && w.toLong * h * 3 < Int.MaxValue, "bad dims")
      // a declared-dims bomb (tiny stream, huge header) must fail before
      // the raster allocation: the densest QOI op yields 3 bytes/px, so
      // the payload bounds the pixel count from above (QOI_OP_RUN packs
      // up to 62 px/byte — use that as the hard ceiling)
      require(w.toLong * h <= (bytes.length - 22).toLong * 62,
        s"declared $w x $h cannot fit in ${bytes.length} bytes")
      val raster = new Array[Byte](w * h * 3)
      val index = new Array[Int](64)
      var (r, g, b, a) = (0, 0, 0, 255)
      def pack: Int = (r << 24) | (g << 16) | (b << 8) | a
      var i = 14
      var p = 0
      val end = bytes.length - 8 // trailing 7x00 + 01 marker
      while (p < raster.length && i < end) {
        val b1 = bytes(i) & 0xff; i += 1
        if (b1 == OpRgb) {
          // alpha keeps its previous value, per spec
          r = bytes(i) & 0xff; g = bytes(i + 1) & 0xff; b = bytes(i + 2) & 0xff
          i += 3
          index(hash(r, g, b, a)) = pack
        } else if (b1 == OpRgba) {
          r = bytes(i) & 0xff; g = bytes(i + 1) & 0xff
          b = bytes(i + 2) & 0xff; a = bytes(i + 3) & 0xff
          i += 4
          index(hash(r, g, b, a)) = pack
        } else (b1 & 0xc0) match {
          case OpIndex =>
            val v = index(b1 & 0x3f)
            r = (v >>> 24) & 0xff; g = (v >>> 16) & 0xff
            b = (v >>> 8) & 0xff; a = v & 0xff
          case OpDiff =>
            r = (r + ((b1 >> 4) & 0x03) - 2) & 0xff
            g = (g + ((b1 >> 2) & 0x03) - 2) & 0xff
            b = (b + (b1 & 0x03) - 2) & 0xff
            index(hash(r, g, b, a)) = pack
          case OpLuma =>
            val dg = (b1 & 0x3f) - 32
            val b2 = bytes(i) & 0xff; i += 1
            r = (r + dg + ((b2 >> 4) & 0x0f) - 8) & 0xff
            g = (g + dg) & 0xff
            b = (b + dg + (b2 & 0x0f) - 8) & 0xff
            index(hash(r, g, b, a)) = pack
          case OpRun =>
            var run = (b1 & 0x3f) // run-1; the current pixel repeats run+1
            while (run > 0 && p < raster.length) {
              raster(p) = r.toByte; raster(p + 1) = g.toByte; raster(p + 2) = b.toByte
              p += 3; run -= 1
            }
        }
        if (p < raster.length) {
          raster(p) = r.toByte; raster(p + 1) = g.toByte; raster(p + 2) = b.toByte
          p += 3
        }
      }
      require(p == raster.length, s"qoi raster short: $p of ${raster.length}")
      (w, h, raster)
    }
  }

  /** Overlap independent construction thunks — see [[graft.ops.Par]]. */
  private def inParallel[A](thunks: Seq[() => A]): Seq[A] =
    Par.inParallel(thunks)

  /** Canonical media-table schema: opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))))))

  /** Build a synthetic media table from the documents table: text bytes play
    * the role of encoded media; metadata is derived deterministically. This
    * exercises the exact schema/partition/batch path a real corpus would. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        (pmod(col("doc_id"), lit(64)) * 16 + 16).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 16).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") * 10).cast("long").as("duration_ms")).as("meta"))

  // ---- real decode tier: binary PPM (P6) ----

  /** Minimal binary-PPM (P6) codec — a real uncompressed image format,
    * decodable with zero external dependencies. */
  object Ppm {
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"raster ${rgb.length} != ${w * h * 3}")
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Parse a P6 image → (width, height, raster). Throws on malformed
      * input (callers choose skip-vs-fail, like CSV DROPMALFORMED). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      var i = 0
      def skipWs(): Unit = {
        while (i < bytes.length &&
          (bytes(i) == ' ' || bytes(i) == '\n' || bytes(i) == '\t' || bytes(i) == '\r')) i += 1
        if (i < bytes.length && bytes(i) == '#') { // comment line
          while (i < bytes.length && bytes(i) != '\n') i += 1
          skipWs()
        }
      }
      def int(): Int = {
        skipWs()
        var v = 0
        val start = i
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        require(i > start, s"expected integer at offset $start")
        v
      }
      require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 ppm")
      i = 2
      val w = int(); val h = int(); val maxVal = int()
      require(maxVal == 255, s"unsupported maxval $maxVal")
      i += 1 // single whitespace after maxval
      require(w > 0 && h > 0 && w.toLong * h * 3 < Int.MaxValue,
        s"bad dims $w x $h")
      require(bytes.length - i >= w * h * 3, "truncated raster")
      (w, h, java.util.Arrays.copyOfRange(bytes, i, i + w * h * 3))
    }

    /** Header-only dims + raster-LENGTH validation, zero copy — what a
      * pre-decode gate reads (a declared-dims bomb must never cost an
      * allocation inside the gate that exists to refuse it). */
    def dims(bytes: Array[Byte]): (Int, Int) = {
      var i = 0
      def skipWs(): Unit = {
        while (i < bytes.length &&
          (bytes(i) == ' ' || bytes(i) == '\n' || bytes(i) == '\t' || bytes(i) == '\r')) i += 1
        if (i < bytes.length && bytes(i) == '#') {
          while (i < bytes.length && bytes(i) != '\n') i += 1
          skipWs()
        }
      }
      def int(): Long = {
        skipWs()
        var v = 0L
        val start = i
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0')
          require(v < Int.MaxValue, "header integer overflows")
          i += 1
        }
        require(i > start, s"expected integer at offset $start")
        v
      }
      require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 ppm")
      i = 2
      val w = int(); val h = int(); val maxVal = int()
      require(maxVal == 255, s"unsupported maxval $maxVal")
      i += 1
      require(w > 0 && h > 0 && w * h * 3 < Int.MaxValue, s"bad dims $w x $h")
      require(bytes.length - i >= w * h * 3, "truncated raster")
      (w.toInt, h.toInt)
    }
  }

  /** Synthesize a REAL P6 image per document: deterministic gradient+hash
    * raster sized from doc_id. Exercises the actual encode→bytes→decode
    * path a real image corpus would take. */
  def ppmMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var z = id * 1000003L + y * 131L + x
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          rgb(p) = ((x * 255) / math.max(w - 1, 1)).toByte
          rgb(p + 1) = ((y * 255) / math.max(h - 1, 1)).toByte
          rgb(p + 2) = (z & 0xff).toByte
          p += 3; x += 1
        }
        y += 1
      }
      (id, Ppm.encode(w, h, rgb))
    }.toDF("media_id", "bytes")
  }

  /** Synthesize a REAL QOI image per document: deterministic raster sized
    * from doc_id, alternating gradient rows (exercising RGB chunks) with
    * constant rows (exercising RUN and INDEX chunks), QOI-encoded. The
    * row-mean structure stays analytically computable, so the decode query
    * has a true DuckDB oracle over a real COMPRESSED-format decode. */
  def qoiMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = 5 + (id % 6).toInt
      val h = 4 + (id % 5).toInt
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (y % 2 == 0) {
            var z = id * 1000003L + y * 131L + x
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            rgb(p) = ((x * 255) / (w - 1)).toByte
            rgb(p + 1) = ((y * 255) / (h - 1)).toByte
            rgb(p + 2) = (z & 0xff).toByte
          } else {
            rgb(p) = 200.toByte
            rgb(p + 1) = 10.toByte
            rgb(p + 2) = ((y * 7) & 0xff).toByte
          }
          p += 3; x += 1
        }
        y += 1
      }
      (id, Qoi.encode(w, h, rgb))
    }.toDF("media_id", "bytes")
  }

  /** Synthesize a REAL baseline JPEG per document — the [[Jpeg]] tier's
    * analytic-oracle fixture (the Y4M convention): every 8×8 luma block
    * and every chroma region is CONSTANT, and the quantization tables
    * are all 8s, so the quantized DC is exactly v−128 and the decoder
    * reconstructs each planted value EXACTLY (AC of a constant block is
    * zero; the double-precision IDCT of a DC-only block is exact).
    * DuckDB then replays the decoded channel means in pure integer
    * arithmetic — including the libjpeg fixed-point YCbCr→RGB
    * conversion, whose chroma offsets are kept nonnegative so integer
    * division floors identically on both sides.
    *
    * Variants by doc_id: %3=0 grayscale, %3=1 color 4:2:0 (chroma
    * constant per 16×16 luma region), %3=2 color 4:4:4 (per 8×8);
    * %4=1 additionally codes with a restart interval of 1-3 MCUs
    * (DRI/RSTn on the wire); %5∈{3,4} codes the SAME planes as a
    * PROGRESSIVE (SOF2) stream — DC successive approximation at Al=1,
    * a DC refinement scan, and per-component EOBRUN AC scans — whose
    * decoded constants are bit-identical to the sequential encoding,
    * so the oracle is unchanged while the gate drives the Annex G
    * decode path; %17=0 is TRUNCATED mid-stream — the DROPMALFORMED
    * cohort, absent from the decode output. */
  def jpegMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q8 = Array.fill(64)(8)
    docs.select(col("doc_id")).as[Long].map { id =>
      val m = (id % 3).toInt
      val w = 10 + (id % 23).toInt
      val h = 9 + (id % 19).toInt
      val ri = if (id % 4 == 1) 1 + (id % 3).toInt else 0
      val prog = id % 5 >= 3
      // EXIF orientation planted on ~3/7 of docs (APP1 TIFF IFD on the
      // wire); the rest carry no APP1 and read back as 0
      val orient = if (id % 7 < 3) 1 + (id % 8).toInt else 0
      def yv(bx: Int, by: Int): Int =
        64 + ((id * 31 + bx * 7 + by * 13) % 128).toInt
      val yPlane = Array.tabulate(w * h) { p =>
        yv((p % w) / 8, (p / w) / 8).toByte
      }
      val bytes =
        if (m == 0) {
          if (prog) Jpeg.encodeYccProgressive(w, h, yPlane, null, null,
            1, 1, q8, null, ri, orient)
          else Jpeg.encodeGray(w, h, yPlane, q8, ri, orient)
        } else {
          val samp = if (m == 1) 2 else 1
          val cw = (w + samp - 1) / samp
          val ch = (h + samp - 1) / samp
          // chroma-plane block index cxp/8 == luma region x/(8*samp):
          // constant per 16×16 luma for 4:2:0, per 8×8 for 4:4:4
          val cb = Array.tabulate(cw * ch) { p =>
            (128 + ((id * 5 + ((p % cw) / 8) * 3 + ((p / cw) / 8) * 11) % 32).toInt).toByte
          }
          val cr = Array.tabulate(cw * ch) { p =>
            (128 + ((id * 7 + ((p % cw) / 8) * 5 + ((p / cw) / 8) * 3) % 32).toInt).toByte
          }
          if (prog) Jpeg.encodeYccProgressive(w, h, yPlane, cb, cr,
            samp, samp, q8, q8, ri, orient)
          else Jpeg.encodeYcc(w, h, yPlane, cb, cr, samp, samp, q8, q8, ri,
            orient)
        }
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted PNG fixture for the m_png gate row (round 17) — one
    * stream per doc covering the codec's supported profile: colour
    * type by doc_id%4 (0 grayscale, 1 truecolour, 2 palette, 3 RGBA —
    * the alpha plane is parsed and dropped), per-row filter type
    * (doc_id + y) % 5 so every stream (h ≥ 6) exercises ALL FIVE
    * defilter paths on the wire, 24-byte IDAT chunking so the
    * multi-IDAT reassembly is real, and a truncated cohort on
    * doc_id%17=0 (cut mid-stream — the CRC-verified chunk walk
    * refuses it) for DROPMALFORMED bookkeeping. PNG is lossless, so
    * every decoded channel mean replays in DuckDB from doc_id
    * arithmetic EXACTLY — no tolerance, no quant-table trick. */
  def pngMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val ct = (id % 4).toInt
      val w = 8 + (id % 13).toInt
      val h = 6 + (id % 11).toInt
      val n = w * h
      def filt(y: Int): Int = ((id + y) % 5).toInt
      val il = id % 5 == 0 // Adam7 cohort
      val bytes = ct match {
        case 0 =>
          Png.encodeGray(w, h,
            Array.tabulate(n)(p => ((id * 7 + p * 5) % 256).toByte), filt, 24,
            il)
        case 2 =>
          val pal = new Array[Byte](16 * 3)
          var i = 0
          while (i < 16) {
            pal(3 * i) = ((id + i * 17) % 256).toByte
            pal(3 * i + 1) = ((id * 3 + i * 29) % 256).toByte
            pal(3 * i + 2) = ((id * 7 + i * 41) % 256).toByte
            i += 1
          }
          Png.encodePalette(w, h, pal,
            Array.tabulate(n)(p => (p % 16).toByte), filt, 24, il)
        case 1 =>
          Png.encode(w, h, Array.tabulate(n * 3) { q =>
            val p = q / 3
            ((q % 3) match {
              case 0 => (id * 3 + p) % 256
              case 1 => (id * 5 + 2 * p) % 256
              case _ => (id * 11 + 3 * p) % 256
            }).toByte
          }, filt, 24, il)
        case _ =>
          Png.encodeRgba(w, h, Array.tabulate(n * 4) { q =>
            val p = q / 4
            ((q % 4) match {
              case 0 => (id * 3 + p) % 256
              case 1 => (id * 5 + 2 * p) % 256
              case 2 => (id * 11 + 3 * p) % 256
              case _ => (p * 13) % 256 // dropped by the RGB contract
            }).toByte
          }, filt, 24, il)
      }
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted GIF fixture for the m_gif gates (round 17): a 16-colour
    * palette and index raster both pure doc_id arithmetic, variants by
    * doc_id%4 — plain / INTERLACED (the four-pass row order on the
    * wire) / ANIMATED (two frames with distinct delays; the gate
    * decodes the composited FIRST frame, so the means are invariant) /
    * TRANSPARENT (index 0 transparent over a background that IS
    * palette colour 0, so transparency is exercised without moving a
    * single mean) — and a truncated cohort on doc_id%17=0. PNG-style
    * losslessness: every decoded mean replays exactly. */
  def gifMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val v = (id % 4).toInt
      val w = 6 + (id % 9).toInt
      val h = 5 + (id % 7).toInt
      val pal = new Array[Byte](16 * 3)
      var c = 0
      while (c < 16) {
        pal(3 * c) = ((id * 5 + c * 11) % 256).toByte
        pal(3 * c + 1) = ((id * 7 + c * 23) % 256).toByte
        pal(3 * c + 2) = ((id * 11 + c * 31) % 256).toByte
        c += 1
      }
      val idx = Array.tabulate(w * h)(p => ((p * 3 + id) % 16).toByte)
      val frames = v match {
        case 2 =>
          val idx2 = Array.tabulate(w * h)(p => ((p * 5 + id + 1) % 16).toByte)
          Seq(Gif.EncFrame(idx, delayCs = 3 + (id % 5).toInt),
            Gif.EncFrame(idx2, delayCs = 2 + (id % 7).toInt))
        case 3 => Seq(Gif.EncFrame(idx, transparentIdx = 0))
        case _ => Seq(Gif.EncFrame(idx, interlaced = v == 1))
      }
      val bytes = Gif.encode(w, h, pal, frames)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted WebP fixture for the m_webp_meta gate (round 17):
    * lossy / lossless / extended containers by doc_id%3, a lossless
    * alpha-hint cohort, an ANIMATED extended cohort (1+doc_id%4 ANMF
    * frames on doc_id%5=0), truncated on doc_id%17=0 (the RIFF length
    * census refuses). Headers are real per the public container spec;
    * payload bytes past the dimension fields are junk the walker never
    * reads — this is a METADATA fixture (pixel decode is out of scope
    * by design, the [[graft.ops.Webp]] scaladoc). */
  def webpMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = 16 + (id % 200).toInt
      val h = 14 + (id % 150).toInt
      val bytes = (id % 3).toInt match {
        case 0 => Webp.encodeLossy(w, h, 16 + (id % 13).toInt, id)
        case 1 => Webp.encodeLossless(w, h, alphaHint = id % 2 == 0,
          12 + (id % 11).toInt, id)
        case _ => Webp.encodeExtended(w, h,
          nFrames = if (id % 5 == 0) 1 + (id % 4).toInt else 0, seed = id)
      }
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted REAL-VP8L fixture for the m_webp decode gate (round 18):
    * per doc the same analytic channel ramps the m_png gate plants
    * (r/g/b as affine mod-256 forms over doc_id and the pixel index),
    * encoded through a doc_id%6 rotation of [[Vp8l]] option sets so
    * every decoder path runs on the wire — plain literals / subtract-
    * green / predictor / color transform / a 16-colour palette
    * (bundled indices) / a row-repeat raster under LZ77 + cache + two
    * meta groups. VP8L is lossless, so DuckDB replays every mean
    * EXACTLY from doc_id arithmetic. TRUNCATED on doc_id%17=0 (the
    * bitstream refuses, DROPMALFORMED drops). */
  def webpDecodeMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = (8 + id % 13).toInt
      val h = (6 + id % 11).toInt
      val v = (id % 6).toInt
      val px = Array.tabulate(w * h) { p =>
        val (r, g, b) = v match {
          case 4 => // palette: 16 planted colours looked up by p%16
            val i = ((p + id) % 16).toInt
            (((id + i * 17) % 256).toInt, ((id * 3 + i * 29) % 256).toInt,
              ((id * 7 + i * 41) % 256).toInt)
          case 5 => // row-repeat: channels depend on x only (LZ77 food)
            val x = p % w
            (((id * 3 + x) % 256).toInt, ((id * 5 + 2 * x) % 256).toInt,
              ((id * 7 + 3 * x) % 256).toInt)
          case _ =>
            (((id * 3 + p) % 256).toInt, ((id * 5 + 2 * p) % 256).toInt,
              ((id * 11 + 3 * p) % 256).toInt)
        }
        0xff000000 | (r << 16) | (g << 8) | b
      }
      val opts = v match {
        case 0 => Vp8l.EncOptions(lz77 = false)
        case 1 => Vp8l.EncOptions(subtractGreen = true)
        case 2 => Vp8l.EncOptions(predictorMode = 2, predictorBits = 2)
        case 3 => Vp8l.EncOptions(colorTx = Some((17, -23, 5)),
          colorBits = 3, cacheBits = 6)
        case 4 => Vp8l.EncOptions(palette = true)
        case _ => Vp8l.EncOptions(cacheBits = 8, metaBits = 2)
      }
      val bytes = Webp.encodeVp8lPixels(w, h, px, opts)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted WebP dedup fixture for the m_webp_dedup gate (round 18) —
    * the [[pngDedupMediaFromDocuments]] structure on the VP8L codec:
    * groups of four 8×8 binary rasters (gid = id/4), m=0 the base
    * (plain-literal encode), m=1 an EXACT byte copy, m=2 a RE-ENCODE
    * of the same pixels through a different transform stack
    * (subtract-green + predictor + cache — different bytes end to end,
    * so exact-blob dedup structurally misses it; VP8L is lossless, so
    * it pairs at hamming 0), m=3 an independent raster. The pattern
    * seed is double-mixed with its own family salt (the round-17
    * disjoint-domain discipline: never colliding with
    * {mix(gid)} ∪ {mix(7919g+104729)}). */
  def webpDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern = mix(
        (if (m == 3) mix(gid * 7919L + 104729L) else mix(gid)) +
          0x6b2e9d4c1a8f7e35L)
      val px = Array.tabulate(64) { p =>
        if (((pattern >>> p) & 1L) == 1L) 0xffffffff else 0xff000000
      }
      val opts =
        if (m == 2) Vp8l.EncOptions(subtractGreen = true,
          predictorMode = 1, predictorBits = 2, cacheBits = 4)
        else Vp8l.EncOptions(lz77 = false)
      (id, Webp.encodeVp8lPixels(8, 8, px, opts))
    }.toDF("media_id", "bytes")
  }

  /** Planted LOSSY-VP8 refusal cohort (round 18): groups of four
    * BYTE-IDENTICAL structurally-valid lossy WebP blobs (gid = id/4,
    * gid baked into the payload as LE-64 so groups can never collide
    * at corpus scale — the encodeLossy seed only survives mod 256).
    * classifyMedia routes them IMAGE (RIFF/WEBP), [[Webp.decode]]
    * refuses them (the codec boundary), so the routed stack must keep
    * their duplicates as exact star pairs — the m_routed_media lossy
    * cohort. */
  def lossyWebpMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val b = Webp.encodeLossy(8, 8, payloadLen = 24, seed = gid)
      var i = 0
      while (i < 8) {
        b(12 + 8 + 10 + i) = ((gid >>> (8 * i)) & 0xff).toByte
        i += 1
      }
      (id, b)
    }.toDF("media_id", "bytes")
  }

  /** Planted MP3 fixture for the m_mp3_meta gate (round 17): Layer III
    * streams across all three MPEG versions (doc_id%3 → 1 / 2 / 2.5),
    * bitrate index 1+doc_id%13, sample-rate index (doc_id/3)%3,
    * 3+doc_id%7 frames, a VBR cohort on doc_id%6=0 (per-frame bitrate
    * cycling — first frame still carries the base index), ID3v2 on
    * even docs (syncsafe size exercised), ID3v1 trailer on doc_id%5=0,
    * TRUNCATED (last 3 bytes cut — mid-frame) on doc_id%17=0 for the
    * DROPMALFORMED cohort. Every reported column replays from doc_id
    * arithmetic and the public bitrate/sample-rate tables. */
  def mp3MediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val verBits = (id % 3) match {
        case 0 => 3 // MPEG-1
        case 1 => 2 // MPEG-2
        case _ => 0 // MPEG-2.5
      }
      val baseBr = 1 + (id % 13).toInt
      val srIdx = ((id / 3) % 3).toInt
      val nFrames = 3 + (id % 7).toInt
      val brOf: Int => Int =
        if (id % 6 == 0) (i: Int) => 1 + (baseBr - 1 + i) % 13
        else (_: Int) => baseBr
      val bytes = Mp3.encodeFrames(verBits, 1, brOf, srIdx, nFrames,
        id3v2PayloadLen = if (id % 2 == 0) 17 + (id % 23).toInt else -1,
        id3v1 = id % 5 == 0, seed = id)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 3)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted FLAC fixture for the m_flac_meta gate (round 18): sample
    * rate from a 4-entry table by doc_id%4, channels 1+doc_id%2, bit
    * depth 16/24 by doc_id%3=0, total samples 1000+doc_id%90000, a
    * VORBIS_COMMENT block on even docs, a SEEKTABLE on doc_id%5=0,
    * PADDING on doc_id%7=0, TRUNCATED to 20 bytes (inside STREAMINFO)
    * on doc_id%17=0 for the DROPMALFORMED cohort. Every reported
    * column replays from doc_id arithmetic. */
  def flacMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val sr = Array(8000, 16000, 44100, 48000)((id % 4).toInt)
      val bytes = Flac.encode(sr,
        nChannels = 1 + (id % 2).toInt,
        bitsPerSample = if (id % 3 == 0) 24 else 16,
        totalSamples = 1000L + id % 90000,
        vorbisCommentLen = if (id % 2 == 0) 5 + (id % 20).toInt else -1,
        seekPoints = if (id % 5 == 0) 1 + (id % 3).toInt else 0,
        paddingLen = if (id % 7 == 0) (id % 50).toInt else -1,
        frameLen = 24 + (id % 40).toInt, seed = id)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, 20)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted OGG fixture for the m_ogg_meta gate (round 18): codec by
    * doc_id%3 (vorbis / opus / an unknown id packet — the page walk is
    * codec-independent and the unknown cohort survives with −1
    * sentinels), vorbis rate from a 4-entry table, channels
    * 1+doc_id%2, total samples 4800+doc_id%100000, 1+doc_id%4 audio
    * pages, TRUNCATED (last 5 bytes cut — inside the EOS page's
    * payload, which also breaks its CRC) on doc_id%17=0. Every column
    * replays from doc_id arithmetic; opus durations subtract the fixed
    * 312-sample pre-skip at the RFC 7845 48 kHz timebase. */
  def oggMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val codec = (id % 3) match {
        case 0 => "vorbis"
        case 1 => "opus"
        case _ => "junk"
      }
      val rate =
        if (codec == "vorbis") Array(8000, 11025, 22050, 44100)((id % 4).toInt)
        else 48000
      val bytes = Ogg.encode(codec, rate, 1 + (id % 2).toInt,
        totalSamples = 4800L + id % 100000,
        nAudioPages = 1 + (id % 4).toInt,
        payloadLen = 30 + (id % 50).toInt, seed = id)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 5)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  /** Planted MP4 fixture for the m_mp4_meta gate (round 17): brand by
    * doc_id%3 (isom/mp42/M4A ), movie timescale 600·(1+doc_id%4) and
    * duration 1000+doc_id%5000 units, a video track (avc1/hev1 by
    * parity) except on doc_id%4=1, an mp4a audio track always, mdat
    * absent on doc_id%9=0, TRUNCATED (cut mid-moov) on doc_id%17=0.
    * Every column replays from doc_id arithmetic. */
  def mp4MediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val brand = (id % 3) match {
        case 0 => "isom"
        case 1 => "mp42"
        case _ => "M4A "
      }
      val bytes = Mp4.encode(brand, id % 100, 600L * (1 + id % 4),
        1000L + id % 5000,
        video = if (id % 4 != 1) Some(if (id % 2 == 0) "avc1" else "hev1")
          else None,
        audio = Some("mp4a"),
        mdatLen = if (id % 9 == 0) 0 else 20 + (id % 40).toInt,
        seed = id)
      val out =
        if (id % 17 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
        else bytes
      (id, out)
    }.toDF("media_id", "bytes")
  }

  // ---- real decode tier 3: WAV / RIFF PCM (audio) ----

  /** Minimal RIFF/WAVE PCM codec — the standard uncompressed audio
    * container (public spec: RIFF chunks, `fmt ` + `data`), 16-bit mono
    * subset, zero external dependencies. The decoder WALKS the chunk list
    * rather than assuming the canonical 44-byte layout, so files carrying
    * extra chunks (LIST/INFO, fact) decode correctly — that is the part of
    * WAV parsing real corpora actually exercise. */
  object Wav {
    def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      require(sampleRate > 0, s"bad sample rate $sampleRate")
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1) // PCM
      bb.putShort(1) // mono
      bb.putInt(sampleRate)
      bb.putInt(sampleRate * 2) // byte rate
      bb.putShort(2) // block align
      bb.putShort(16) // bits per sample
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Decode a WAV stream → (sampleRate, samples). Walks the RIFF chunk
      * list (skipping unknown chunks, honoring odd-size padding), requires
      * PCM 16-bit mono. Throws on malformed input (callers choose
      * skip-vs-fail). */
    def decode(bytes: Array[Byte]): (Int, Array[Short]) = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 12, "truncated wav")
      def fourcc(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF stream")
      bb.getInt // riff size (trust actual buffer bounds instead)
      require(fourcc() == "WAVE", "not a WAVE form")
      var sampleRate = -1
      var samples: Array[Short] = null
      while (bb.remaining() >= 8 && samples == null) {
        val id = fourcc()
        val size = bb.getInt
        require(size >= 0 && size <= bb.remaining(), s"bad chunk size $size for $id")
        id match {
          case "fmt " =>
            require(size >= 16, s"fmt chunk too short: $size")
            val fmtEnd = bb.position() + size
            require(bb.getShort == 1, "not PCM")
            require(bb.getShort == 1, "not mono")
            sampleRate = bb.getInt
            require(sampleRate > 0, s"bad sample rate $sampleRate")
            bb.getInt; bb.getShort // byte rate, block align
            require(bb.getShort == 16, "not 16-bit")
            bb.position(fmtEnd)
          case "data" =>
            require(sampleRate > 0, "data chunk before fmt")
            require(size % 2 == 0, s"odd data size $size")
            samples = new Array[Short](size / 2)
            var i = 0
            while (i < samples.length) { samples(i) = bb.getShort; i += 1 }
          case _ => // skip unknown chunk (word-aligned: odd sizes pad 1 byte)
            bb.position(bb.position() + size + (size & 1))
        }
      }
      require(samples != null, "no data chunk")
      (sampleRate, samples)
    }

    final case class Meta(sampleRate: Int, nChannels: Int,
        bitsPerSample: Int, nSamples: Long, durationMs: Long)

    /** Decodeless RIFF metadata ([[graft.ops.Jpeg.meta]]'s pattern):
      * walk the chunk list, read `fmt `, take the `data` chunk's SIZE
      * without touching a sample byte. Unlike [[decode]] (16-bit mono
      * PCM only), meta REPORTS channels/bits as declared — the
      * cost-routing signal — while still validating chunk framing, so
      * truncation refuses loudly. */
    def meta(bytes: Array[Byte]): Meta = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 12, "truncated wav")
      def fourcc(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF stream")
      bb.getInt
      require(fourcc() == "WAVE", "not a WAVE form")
      var rate = -1; var ch = -1; var bits = -1; var blockAlign = -1
      var dataSize = -1L
      while (bb.remaining() >= 8) {
        val id = fourcc()
        val size = bb.getInt
        require(size >= 0 && size <= bb.remaining(),
          s"bad chunk size $size for $id")
        id match {
          case "fmt " =>
            require(size >= 16, s"fmt chunk too short: $size")
            val fmtEnd = bb.position() + size
            bb.getShort // format tag: reported structure, not decoded
            ch = bb.getShort.toInt
            rate = bb.getInt
            require(rate > 0 && ch > 0, s"bad fmt ($ch ch @ $rate)")
            bb.getInt // byte rate
            blockAlign = bb.getShort.toInt
            bits = bb.getShort.toInt
            bb.position(fmtEnd + (size & 1))
          case "data" =>
            require(rate > 0, "data chunk before fmt")
            dataSize = size.toLong
            bb.position(bb.position() + size + (size & 1))
          case _ =>
            bb.position(bb.position() + size + (size & 1))
        }
      }
      require(dataSize >= 0, "no data chunk")
      val ba = if (blockAlign > 0) blockAlign else math.max(1, ch * bits / 8)
      val nSamples = dataSize / ba
      Meta(rate, ch, bits, nSamples, nSamples * 1000L / rate)
    }
  }

  /** Synthesize a REAL WAV stream per document: a deterministic sawtooth
    * whose closed form DuckDB can replay — sample i of doc d is
    * ((i·a + b) mod 97 − 48)·100 with a = 3 + d%5, b = d%7 — so the decode
    * query has a true analytic oracle over a real container parse. */
  def wavMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val rate = 8000 + (id % 8).toInt * 1000
      val n = 40 + (id % 50).toInt
      val a = 3 + (id % 5).toInt
      val b = (id % 7).toInt
      val samples = Array.tabulate(n)(i => (((i * a + b) % 97 - 48) * 100).toShort)
      (id, Wav.encode(rate, samples))
    }.toDF("media_id", "bytes")
  }

  /** The [[wavMediaFromDocuments]] closed form behind REAL FLAC frames
    * (round 19): sample i of doc d is ((i·a + b) mod 97 − 48)·100 with
    * a = 3 + d%5, b = d%7 — the SAME analytic oracle, now replayed
    * through the from-spec [[Flac.decode]] (rice residuals, fixed/LPC
    * predictors, CRC chain). The encoder surface varies per doc
    * (block size, subframe mode, partition order) so one driver run
    * covers the whole decode matrix; lossless ⇒ every variant decodes
    * to the identical closed form. ([[flacMediaFromDocuments]] is the
    * round-18 METADATA fixture — junk frame bytes behind a valid
    * chain; this one carries real audio.) */
  def flacPcmMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val rate = 8000 + (id % 8).toInt * 1000
      val n = 40 + (id % 50).toInt
      val a = 3 + (id % 5).toInt
      val b = (id % 7).toInt
      val samples = Array.tabulate(n)(i => ((i * a + b) % 97 - 48) * 100)
      val mode = (id % 4) match {
        case 0 => "auto"; case 1 => "verbatim"; case 2 => "fixed2"
        case _ => "lpc"
      }
      (id, Flac.encodePcm(rate, 1, 16, samples,
        blockSize = 16 + (id % 3).toInt * 48, subframeMode = mode,
        partOrder = (id % 2).toInt))
    }.toDF("media_id", "bytes")
  }

  // ---- real decode tier 4: Y4M / YUV4MPEG2 (video) ----

  /** Minimal YUV4MPEG2 (.y4m) codec — the standard uncompressed video
    * container (public spec: mjpeg.sourceforge.net/doc/y4m; a textual
    * stream header `YUV4MPEG2 W.. H.. F..` followed by `FRAME` markers and
    * raw planar YUV), 4:2:0 subset, zero external dependencies. Parameter
    * tags are order-independent and unknown tags are skipped — the part of
    * the format real encoders vary. */
  object Y4m {
    def encode(w: Int, h: Int, fpsNum: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      require(w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0, s"4:2:0 needs even dims, got $w x $h")
      val frameLen = w * h + 2 * (w / 2) * (h / 2)
      require(frames.forall(_.length == frameLen), s"frames must be $frameLen bytes")
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"YUV4MPEG2 W$w H$h F$fpsNum:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII"))
      frames.foreach { f => out.write("FRAME\n".getBytes("US-ASCII")); out.write(f) }
      out.toByteArray
    }

    /** Decode a .y4m stream → (width, height, fpsNum, frames). Throws on
      * malformed input (callers choose skip-vs-fail). */
    def decode(bytes: Array[Byte]): (Int, Int, Int, Seq[Array[Byte]]) = {
      var i = 0
      def line(): String = {
        val start = i
        while (i < bytes.length && bytes(i) != '\n') i += 1
        require(i < bytes.length, "unterminated header line")
        i += 1
        new String(bytes, start, i - 1 - start, "US-ASCII")
      }
      val header = line()
      val tags = header.split(" ")
      require(tags.head == "YUV4MPEG2", "not a YUV4MPEG2 stream")
      var (w, h, fps) = (-1, -1, -1)
      tags.tail.foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.drop(1).toInt
          case 'H' => h = t.drop(1).toInt
          case 'F' => fps = t.drop(1).takeWhile(_ != ':').toInt
          case 'C' => require(t.startsWith("C420"), s"unsupported chroma $t")
          case _ => // Ip, A1:1, Xcomment... — skip unknown tags per spec
        }
      }
      require(w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0, s"bad dims $w x $h")
      val frameLen = w * h + 2 * (w / 2) * (h / 2)
      val frames = Seq.newBuilder[Array[Byte]]
      while (i < bytes.length) {
        val marker = line()
        require(marker == "FRAME" || marker.startsWith("FRAME "), s"bad frame marker '$marker'")
        require(bytes.length - i >= frameLen, "truncated frame")
        frames += java.util.Arrays.copyOfRange(bytes, i, i + frameLen)
        i += frameLen
      }
      (w, h, fps, frames.result())
    }

    final case class Meta(width: Int, height: Int, fpsNum: Int,
        fpsDen: Int, nFrames: Int, durationMs: Long)

    /** Decodeless Y4M metadata: parse the textual stream header, then
      * STEP over the frames (marker line + a seek of the known planar
      * frame size) without reading a pixel — the frame census at I/O
      * cost only. Truncated streams refuse loudly (a partial frame
      * cannot be stepped over). */
    def meta(bytes: Array[Byte]): Meta = {
      var i = 0
      def line(): String = {
        val start = i
        while (i < bytes.length && bytes(i) != '\n') i += 1
        require(i < bytes.length, "unterminated header line")
        i += 1
        new String(bytes, start, i - 1 - start, "US-ASCII")
      }
      val tags = line().split(" ")
      require(tags.head == "YUV4MPEG2", "not a YUV4MPEG2 stream")
      var (w, h, num, den) = (-1, -1, -1, 1)
      tags.tail.foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.drop(1).toInt
          case 'H' => h = t.drop(1).toInt
          case 'F' =>
            val parts = t.drop(1).split(":")
            num = parts(0).toInt
            if (parts.length > 1) den = parts(1).toInt
          case 'C' => require(t.startsWith("C420"), s"unsupported chroma $t")
          case _ =>
        }
      }
      require(w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0, s"bad dims $w x $h")
      require(num > 0 && den > 0, s"bad frame rate $num:$den")
      val frameLen = w * h + 2 * (w / 2) * (h / 2)
      var n = 0
      while (i < bytes.length) {
        val marker = line()
        require(marker == "FRAME" || marker.startsWith("FRAME "),
          s"bad frame marker '$marker'")
        require(bytes.length - i >= frameLen, "truncated frame")
        i += frameLen // seek, never read
        n += 1
      }
      Meta(w, h, num, den, n, n.toLong * 1000L * den / num)
    }
  }

  /** Synthesize a REAL .y4m video per document: 2-5 frames of a
    * deterministic luma pattern (pixel p of frame k in doc d is
    * (p·3 + k·5 + d) mod 251; chroma constant 128) whose closed form
    * DuckDB can replay — frame extraction from real container bytes with a
    * true analytic oracle. */
  def y4mMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = 4 + (id % 3).toInt * 2
      val h = 4 + (id % 2).toInt * 2
      val n = 2 + (id % 4).toInt
      val frames = (0 until n).map { k =>
        val f = new Array[Byte]((w * h * 3) / 2)
        var p = 0
        while (p < w * h) { // luma plane
          f(p) = (((p * 3 + k * 5 + id) % 251) & 0xff).toByte
          p += 1
        }
        java.util.Arrays.fill(f, w * h, f.length, 128.toByte) // chroma
        f
      }
      (id, Y4m.encode(w, h, 25, frames))
    }.toDF("media_id", "bytes")
  }

  final case class VideoRow(media_id: Long, bytes: Array[Byte])
  final case class DecodedFrame(media_id: Long, frame_idx: Int, width: Int,
      height: Int, fps: Int, mean_y: Double)

  /** REAL video decode: parse the Y4M container per row, emit one row per
    * frame with exact-integer luma stats (sum → one division) — frame
    * extraction from actual bytes, not metadata. `skipMalformed` mirrors
    * CSV DROPMALFORMED. */
  def decodeVideoFrames(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (w, h, fps, frames) = Y4m.decode(m.bytes)
          frames.iterator.zipWithIndex.map { case (f, k) =>
            var sum = 0L
            var p = 0
            while (p < w * h) { sum += f(p) & 0xff; p += 1 }
            DecodedFrame(m.media_id, k, w, h, fps, sum.toDouble / (w * h))
          }
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed video for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class AudioRow(media_id: Long, bytes: Array[Byte])
  final case class DecodedAudio(media_id: Long, sample_rate: Int,
      n_samples: Long, duration_ms: Long, peak: Int, mean: Double)

  /** PCM decode dispatch across the decodable audio containers —
    * [[decodeAnyImages]]' audio twin (round 19): ONE [[sniffFormat]]
    * call routes FLAC (bare or ID3v2-tagged) through the from-spec
    * [[Flac.decode]] and everything else through the RIFF walk
    * ([[Wav.decode]], which refuses loudly on non-WAV). The
    * 16-bit-MONO contract mirrors [[Wav.decode]]'s exactly: a stereo
    * or non-16-bit FLAC refuses and keeps its exact duplicates
    * through the undecodable route, the same boundary the WAV side
    * has always had. Lossless ⇒ a WAV↔FLAC transcode of one master
    * returns IDENTICAL samples from either container. */
  private[graft] def decodePcm16(b: Array[Byte]): (Int, Array[Short]) =
    if (sniffFormat(b) == "flac") {
      val p = Flac.decode(b)
      if (p.bitsPerSample != 16)
        throw new IllegalArgumentException(
          s"flac: ${p.bitsPerSample}-bit stream (decode path is 16-bit)")
      if (p.nChannels != 1)
        throw new IllegalArgumentException(
          s"flac: ${p.nChannels}-channel stream (decode path is mono)")
      val s = new Array[Short](p.samples.length)
      var i = 0
      while (i < s.length) { s(i) = p.samples(i).toShort; i += 1 }
      (p.sampleRate, s)
    } else Wav.decode(b)

  /** REAL audio decode + feature extraction, batch-at-a-time per partition:
    * [[decodePcm16]] dispatch (RIFF chunk walk via [[Wav.decode]] or
    * the from-spec [[Flac.decode]]), then exact-integer stats (peak
    * amplitude, mean as one integer-sum division — order-independent and
    * engine-verifiable). Stats are over the NATIVE samples at the
    * native rate (this is the decode surface, not the fingerprint —
    * rate normalization is [[audioFingerprints]]' job).
    * `skipMalformed` mirrors CSV DROPMALFORMED. */
  def decodeAudio(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[AudioRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (rate, samples) = decodePcm16(m.bytes)
          var sum = 0L
          var peak = 0
          var i = 0
          while (i < samples.length) {
            sum += samples(i)
            val a = math.abs(samples(i).toInt)
            if (a > peak) peak = a
            i += 1
          }
          Iterator.single(DecodedAudio(m.media_id, rate, samples.length.toLong,
            samples.length.toLong * 1000L / rate, peak,
            if (samples.isEmpty) 0.0 else sum.toDouble / samples.length))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed audio for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class ImageRow(media_id: Long, bytes: Array[Byte])
  final case class DecodedImage(media_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, thumb: Array[Float])

  /** REAL image decode + feature extraction + resize, batch-at-a-time per
    * partition: parse the raster via `decoder`, per-channel means (exact
    * integer sums → one IEEE division), and a `thumbSide`² nearest-neighbor
    * RGB thumbnail normalized to [0,1]. `skipMalformed` mirrors CSV
    * DROPMALFORMED: corrupt blobs are dropped instead of failing the job. */
  /** The nearest-neighbor thumbnail every decode path emits — ONE
    * definition, shared by [[decodeImagesWith]] and the fused gate+decode
    * walk ([[mediaMetaGateDecoding]]), so the two can never produce
    * different floats for the same raster. */
  private def thumbnailOf(w: Int, h: Int, raster: Array[Byte],
      thumbSide: Int): Array[Float] = {
    val thumb = new Array[Float](thumbSide * thumbSide * 3)
    var ty = 0
    while (ty < thumbSide) {
      var tx = 0
      while (tx < thumbSide) {
        val sx = (tx * w) / thumbSide // nearest-neighbor source pixel
        val sy = (ty * h) / thumbSide
        val src = (sy * w + sx) * 3
        val dst = (ty * thumbSide + tx) * 3
        thumb(dst) = (raster(src) & 0xff) / 255.0f
        thumb(dst + 1) = (raster(src + 1) & 0xff) / 255.0f
        thumb(dst + 2) = (raster(src + 2) & 0xff) / 255.0f
        tx += 1
      }
      ty += 1
    }
    thumb
  }

  private def decodeImagesWith(media: DataFrame,
      decoder: Array[Byte] => (Int, Int, Array[Byte]),
      thumbSide: Int, skipMalformed: Boolean): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // every blob entering a pixel decode counts here (one long-add per
    // image — noise): the decode-work audit the meta-gate composition
    // is judged by (ContainerMetaSpec asserts gated junk never reaches
    // this, the Scale4x --metagate ladder prints the ratio), visible in
    // the UI next to any decode stage
    val attempts = spark.sparkContext
      .longAccumulator("graft.image_decode_attempts")
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          attempts.add(1)
          val (w, h, raster) = decoder(m.bytes)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var p = 0
          while (p < raster.length) {
            sr += raster(p) & 0xff; sg += raster(p + 1) & 0xff; sb += raster(p + 2) & 0xff
            p += 3
          }
          val n = (w * h).toDouble
          val thumb = thumbnailOf(w, h, raster, thumbSide)
          Iterator.single(DecodedImage(m.media_id, w, h, sr / n, sg / n, sb / n, thumb))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed image for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  /** Binary-PPM (P6) decode — the uncompressed tier. */
  def decodeImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true): DataFrame =
    decodeImagesWith(media, Ppm.decode, thumbSide, skipMalformed)

  /** QOI decode — the compressed tier (run-length + index + delta chunks,
    * see [[Qoi]]). Same output contract as [[decodeImages]]. */
  def decodeQoiImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true): DataFrame =
    decodeImagesWith(media, Qoi.decode, thumbSide, skipMalformed)

  /** JPEG decode — the DCT tier ([[Jpeg]], implemented from the public
    * ITU-T T.81 spec; round 16): baseline/extended sequential AND
    * progressive (Annex G), cross-validated against the JDK's
    * independent codec. Same output contract as [[decodeImages]];
    * grayscale streams replicate Y into all three channels. */
  def decodeJpegImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true): DataFrame =
    decodeImagesWith(media, Jpeg.decode, thumbSide, skipMalformed)

  /** PNG decode — the lossless-compression tier ([[Png]], implemented
    * from the public W3C/ISO PNG spec; round 17): DEFLATE via the JDK,
    * all five scanline filters, gray/RGB/palette/alpha colour types,
    * CRC-verified chunk walk. Same output contract as
    * [[decodeImages]]; alpha is dropped, gray replicates into RGB. */
  def decodePngImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true): DataFrame =
    decodeImagesWith(media, Png.decode, thumbSide, skipMalformed)

  /** Lossless-WebP decode — the VP8L tier ([[Vp8l]], implemented from
    * the public VP8L bitstream spec; round 18): prefix codes, LZ77 +
    * color cache, meta groups, all four transforms. Same output
    * contract as [[decodeImages]]; alpha is dropped. Lossy VP8 and
    * animated containers refuse inside [[Webp.decode]] and drop under
    * `skipMalformed` (they keep exact dedup through the undecodable
    * route). */
  def decodeWebpImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true): DataFrame =
    decodeImagesWith(media, Webp.decode, thumbSide, skipMalformed)

  final case class JpegMetaRow(media_id: Long, width: Int, height: Int,
      n_components: Int, progressive: Boolean, samp_h: Int, samp_v: Int,
      restart_interval: Int, quality_est: Int, orientation: Int)

  /** Structural JPEG metadata WITHOUT decoding — a marker-level parse
    * per blob ([[Jpeg.meta]]): dimensions, component count, luma
    * sampling factors, progressive flag, the DRI in effect at EOI, and
    * a libjpeg-style quality estimate inverted from the luma DQT. The
    * crawl-pipeline filter/group pass (drop tiny thumbnails, split
    * progressive from baseline, bucket by quality) runs at
    * header-bytes cost instead of pixel cost. EOI is required and the
    * structural marker guards mirror the decoder's, so truncated
    * downloads and malformed headers drop under `skipMalformed` like
    * the decode path; entropy data and Huffman table contents are NOT
    * validated (that is the decode cost this op avoids), so metadata
    * presence contains — but does not equal — decodability. */
  def jpegMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Jpeg.meta(m.bytes)
          Iterator.single(JpegMetaRow(m.media_id, md.width, md.height,
            md.nComponents, md.progressive, md.sampH, md.sampV,
            md.restartInterval, md.qualityEst, md.orientation))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed jpeg for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class PngMetaRow(media_id: Long, width: Int, height: Int,
      bit_depth: Int, color_type: Int, interlaced: Boolean, n_chunks: Int,
      idat_bytes: Long, palette_size: Int, has_alpha: Boolean,
      unknown_critical: Boolean, animated: Boolean, n_frames: Int,
      total_delay_cs: Int)

  /** Structural PNG metadata WITHOUT inflating — [[jpegMetadata]]'s
    * lossless-tier twin ([[Png.meta]]): IHDR geometry, bit depth,
    * colour type, interlace flag, chunk census, compressed IDAT bytes,
    * palette size, alpha presence, all at header+CRC cost. Unlike the
    * decoder, the walk REPORTS interlaced and 16-bit streams instead
    * of refusing — exactly the cost-routing signal a pre-decode crawl
    * gate reads — so metadata presence contains decodability here too.
    * The chunk CRCs ARE verified (PNG's own integrity check), so a
    * truncated or bit-rotted download drops under `skipMalformed`
    * without a single inflate call. */
  def pngMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Png.meta(m.bytes)
          Iterator.single(PngMetaRow(m.media_id, md.width, md.height,
            md.bitDepth, md.colorType, md.interlaced, md.nChunks,
            md.idatBytes, md.paletteSize, md.hasAlpha,
            md.unknownCritical, md.animated, md.nFrames,
            md.totalDelayCs))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed png for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class Mp3MetaRow(media_id: Long, version: String, layer: Int,
      sample_rate: Int, bitrate_kbps: Int, vbr: Boolean, n_frames: Int,
      duration_ms: Long, has_id3v2: Boolean, has_id3v1: Boolean)

  /** Decodeless MP3 metadata — [[jpegMetadata]]'s audio-container twin
    * ([[Mp3.meta]]): MPEG version/layer, sample rate, bitrate,
    * VBR-ness, frame count and duration from a strict frame-header
    * walk, ID3v2/v1 presence — the crawl filter/group pass for the
    * dominant audio format at header cost, with no committed decoder.
    * Truncated or desynced streams drop under `skipMalformed` (the
    * walk requires frame lengths to chain exactly to EOF). */
  def mp3Metadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Mp3.meta(m.bytes)
          Iterator.single(Mp3MetaRow(m.media_id, md.version, md.layer,
            md.sampleRate, md.bitrateKbps, md.vbr, md.nFrames,
            md.durationMs, md.hasId3v2, md.hasId3v1))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed mp3 for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class FlacMetaRow(media_id: Long, sample_rate: Int,
      n_channels: Int, bits_per_sample: Int, total_samples: Long,
      duration_ms: Long, n_blocks: Int, has_seek_table: Boolean,
      has_vorbis_comment: Boolean)

  /** Decodeless FLAC metadata — [[mp3Metadata]]'s lossless twin
    * ([[Flac.meta]]): sample rate, channels, bit depth, total samples
    * and duration from the mandatory STREAMINFO block, plus the
    * metadata-block census, at header cost with no committed decoder.
    * Streams truncated inside their metadata chain (or with no frame
    * sync after it) drop under `skipMalformed`. */
  def flacMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Flac.meta(m.bytes)
          Iterator.single(FlacMetaRow(m.media_id, md.sampleRate,
            md.nChannels, md.bitsPerSample, md.totalSamples,
            md.durationMs, md.nBlocks, md.hasSeekTable,
            md.hasVorbisComment))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed flac for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class OggMetaRow(media_id: Long, codec: String,
      sample_rate: Int, n_channels: Int, n_pages: Int,
      last_granule: Long, duration_ms: Long)

  /** Decodeless OGG metadata — the page-walk twin ([[Ogg.meta]]):
    * codec (from the BOS identification header: vorbis/opus/unknown),
    * declared rate and channels, page census, terminal granule
    * position and the duration it implies. Every page CRC is verified;
    * truncated or bit-rotted streams drop under `skipMalformed`. */
  def oggMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Ogg.meta(m.bytes)
          Iterator.single(OggMetaRow(m.media_id, md.codec, md.sampleRate,
            md.nChannels, md.nPages, md.lastGranule, md.durationMs))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed ogg for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class Mp4MetaRow(media_id: Long, major_brand: String,
      timescale: Long, duration_ms: Long, n_tracks: Int,
      video_codec: String, audio_codec: String, has_mdat: Boolean)

  /** Decodeless MP4/ISO-BMFF metadata — the video-container twin
    * ([[Mp4.meta]]): brand, movie timescale/duration, track census,
    * per-track codec fourccs, mdat presence from a strict box walk
    * that never touches sample data. Truncated downloads drop under
    * `skipMalformed` (box sizes must chain exactly to EOF). */
  def mp4Metadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Mp4.meta(m.bytes)
          Iterator.single(Mp4MetaRow(m.media_id, md.majorBrand,
            md.timescale, md.durationMs, md.nTracks, md.videoCodec,
            md.audioCodec, md.hasMdat))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed mp4 for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class GifMetaRow(media_id: Long, width: Int, height: Int,
      version: String, n_frames: Int, animated: Boolean,
      has_transparency: Boolean, gct_size: Int, interlaced: Boolean,
      total_delay_cs: Int)

  /** Decodeless GIF metadata — [[jpegMetadata]]'s animated-format twin
    * ([[Gif.meta]]): canvas geometry, version, frame census, animation
    * and transparency flags, palette size, interlace, total duration —
    * the block walk SKIPS every LZW sub-block by its length prefix, so
    * the census costs I/O, never a decode. Truncated streams drop
    * under `skipMalformed` (the walk must reach the trailer). */
  def gifMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Gif.meta(m.bytes)
          Iterator.single(GifMetaRow(m.media_id, md.width, md.height,
            md.version, md.nFrames, md.animated, md.hasTransparency,
            md.gctSize, md.interlaced, md.totalDelayCs))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed gif for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  final case class WebpMetaRow(media_id: Long, width: Int, height: Int,
      format: String, has_alpha: Boolean, animated: Boolean,
      n_frames: Int, total_duration_ms: Long)

  /** Decodeless WebP metadata ([[Webp.meta]]): container format
    * (lossy/lossless/extended), dimensions, alpha, animation census —
    * the crawl filter/group pass for the top-3 modern image format,
    * whose PIXEL decode is deliberately out of scope (VP8 entropy
    * coding — the MP3/H.264 boundary). Truncated streams drop under
    * `skipMalformed` (the RIFF length census refuses). */
  def webpMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val md = Webp.meta(m.bytes)
          Iterator.single(WebpMetaRow(m.media_id, md.width, md.height,
            md.format, md.hasAlpha, md.animated, md.nFrames,
            md.totalDurationMs))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed webp for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  /** Second-byte values of a bare MPEG frame-sync header with
    * NON-RESERVED version and layer codes — the ONE list both
    * [[sniffFormat]] and [[classifyMedia]] enumerate (round 18: the two
    * dispatches previously disagreed — classifyMedia listed only the
    * Layer III codes while sniffFormat took any 0xFF 0xEx, including
    * reserved version/layer combinations [[Mp3.meta]] refuses).
    * Layout: 111 (sync tail) | version(2, ≠01 reserved) |
    * layer(2, ≠00 reserved) | protection(1). */
  private[graft] val Mp3SyncSecondBytes: Seq[Int] =
    for {
      ver <- Seq(0, 2, 3); layer <- Seq(1, 2, 3); prot <- Seq(0, 1)
    } yield 0xe0 | (ver << 3) | (layer << 1) | prot

  /** Magic-based container format id — the ONE sniffing order every
    * Scala-side dispatch shares ([[mediaMetadata]], [[imageMetaGate]],
    * [[mediaMetaGate]]; [[classifyMedia]] mirrors it as native column
    * expressions, routing-pinned in the format specs). The round-17
    * WebP-classified-as-audio bug is exactly what N parallel sniffing
    * copies breed — there is one now. Round 18 tightened two arms so
    * unrecognized blobs fall through to `unknown` and stay KEPT instead
    * of failing a strict walk they were never valid for: the wav arm
    * requires the `WAVE` form tag (a bare-RIFF AVI is not a wav), and
    * the bare-MP3 arm requires non-reserved version/layer bits
    * ([[Mp3SyncSecondBytes]]). */
  private[graft] def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (Png.isPng(b)) "png"
    else if (Gif.isGif(b)) "gif"
    else if (Webp.isWebp(b)) "webp"
    else if (b.length >= 2 && b(0) == 'P' && b(1) == '6') "ppm"
    else if (b.length >= 4 && b(0) == 'q' && b(1) == 'o' && b(2) == 'i' &&
      b(3) == 'f') "qoi"
    else if (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2-tagged streams: the tag says nothing about the codec
      // behind it — an ID3v2-prefixed FLAC (a common real-world shape)
      // must not commit to mp3 and drop at Mp3.meta's strict frame
      // walk. Skip the well-formed tag and re-sniff the first post-tag
      // bytes; a malformed/truncated tag stays mp3 (Mp3.meta refuses
      // it loudly, the previous behavior).
      val end = Mp3.id3v2TagEnd(b)
      if (end > 0 && end + 4 <= b.length && b(end) == 'f' &&
        b(end + 1) == 'L' && b(end + 2) == 'a' && b(end + 3) == 'C') "flac"
      else "mp3"
    }
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff &&
      Mp3SyncSecondBytes.contains(b(1) & 0xff)) "mp3"
    else if (Flac.isFlac(b)) "flac"
    else if (Ogg.isOgg(b)) "ogg"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
      b(11) == 'E') "wav"
    else if (b.length >= 8 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p') "mp4"
    else if (b.length >= 9 &&
      new String(b, 0, 9, "US-ASCII") == "YUV4MPEG2") "y4m"
    else "unknown"

  private[graft] def modalityOf(format: String): String = format match {
    case "jpeg" | "png" | "gif" | "webp" | "ppm" | "qoi" => "image"
    // ogg routes AUDIO: the container is codec-agnostic but its crawl
    // population is overwhelmingly Vorbis/Opus; a Theora-in-Ogg video
    // would land in the audio cohort where only its exact duplicates
    // survive — the documented boundary for formats without a decoder
    case "mp3" | "wav" | "flac" | "ogg" => "audio"
    case "mp4" | "y4m" => "video"
    case _ => "unknown"
  }

  /** One blob's gate disposition at header cost — the SHARED core of
    * [[imageMetaGate]] and [[mediaMetaGate]] (two gates over one rule
    * set, so a pipeline composing either sees the same dispositions):
    * geometry for images (PPM/QOI via header-only dims readers — a
    * declared-dims bomb never costs an allocation here), duration for
    * audio/video, unknown kept. Throws on a failed structural walk
    * (the caller maps that to dropped_malformed). */
  private def gateOf(b: Array[Byte], format: String, minSide: Int,
      maxPixels: Long, minDurationMs: Long, maxDurationMs: Long): String = {
    def geom(w: Int, h: Int): String =
      if (w < minSide || h < minSide) "dropped_tiny"
      else if (w.toLong * h > maxPixels) "dropped_huge"
      else "kept"
    def dur(ms: Long): String =
      if (ms < minDurationMs) "dropped_tiny"
      else if (ms > maxDurationMs) "dropped_huge"
      else "kept"
    format match {
      case "jpeg" => val md = Jpeg.meta(b); geom(md.width, md.height)
      case "png" =>
        val md = Png.meta(b)
        if (md.unknownCritical) "dropped_unsupported"
        else geom(md.width, md.height)
      case "gif" => val md = Gif.meta(b); geom(md.width, md.height)
      case "webp" => val md = Webp.meta(b); geom(md.width, md.height)
      case "ppm" => val (w, h) = Ppm.dims(b); geom(w, h)
      case "qoi" => val (w, h) = Qoi.dims(b); geom(w, h)
      case "mp3" => dur(Mp3.meta(b).durationMs)
      case "wav" => dur(Wav.meta(b).durationMs)
      case "flac" => dur(Flac.meta(b).durationMs)
      case "ogg" =>
        val ms = Ogg.meta(b).durationMs
        // unknown codec: the page walk is sound but the granule has no
        // timebase — the gate keeps what it cannot judge
        if (ms < 0) "kept" else dur(ms)
      case "mp4" => dur(Mp4.meta(b).durationMs)
      case "y4m" =>
        val md = Y4m.meta(b)
        val g = geom(md.width, md.height)
        if (g != "kept") g else dur(md.durationMs)
      case _ => "kept"
    }
  }

  final case class MediaMetaRow(media_id: Long, modality: String,
      format: String, width: Int, height: Int, duration_ms: Long,
      sample_rate: Int)

  /** UNIFIED decodeless metadata across every supported container —
    * the crawl's universal pre-pass (round 17): one magic-byte
    * dispatch per blob into the format's header walker
    * ([[graft.ops.Jpeg.meta]] / [[graft.ops.Png.meta]] /
    * [[graft.ops.Mp3.meta]] / [[graft.ops.Mp4.meta]] / [[Wav.meta]] /
    * [[Y4m.meta]]; the uncompressed P6/QOI tier validates via its
    * trivial decode), one row per blob with the cross-modality
    * filter/group columns: modality, format, dimensions, duration,
    * sample rate (−1 where the modality has no such axis — sentinels
    * instead of NULLs so downstream grouping and the oracle compare
    * stay total-order clean). Blobs with an UNKNOWN magic survive as
    * (unknown, unknown, −1…) — the routing-parity discipline: a
    * pre-pass must never silently drop what it cannot read, only a
    * failed STRUCTURAL walk drops (under `skipMalformed`, like every
    * decode path). Header cost per blob for every compressed format. */
  def mediaMetadata(media: DataFrame, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.flatMap { m =>
        val b = m.bytes
        try {
          val fmt = sniffFormat(b)
          val row = fmt match {
            case "jpeg" =>
              val md = Jpeg.meta(b)
              MediaMetaRow(m.media_id, "image", fmt, md.width, md.height, -1L, -1)
            case "png" =>
              val md = Png.meta(b)
              MediaMetaRow(m.media_id, "image", fmt, md.width, md.height,
                md.totalDelayCs * 10L, -1)
            case "ppm" =>
              val (w, h) = Ppm.dims(b)
              MediaMetaRow(m.media_id, "image", fmt, w, h, -1L, -1)
            case "qoi" =>
              val (w, h) = Qoi.dims(b)
              MediaMetaRow(m.media_id, "image", fmt, w, h, -1L, -1)
            case "gif" =>
              val md = Gif.meta(b)
              MediaMetaRow(m.media_id, "image", fmt, md.width, md.height,
                md.totalDelayCs * 10L, -1)
            case "webp" =>
              val md = Webp.meta(b)
              MediaMetaRow(m.media_id, "image", fmt, md.width, md.height,
                if (md.animated) md.totalDurationMs else -1L, -1)
            case "mp3" =>
              val md = Mp3.meta(b)
              MediaMetaRow(m.media_id, "audio", fmt, -1, -1,
                md.durationMs, md.sampleRate)
            case "wav" =>
              val md = Wav.meta(b)
              MediaMetaRow(m.media_id, "audio", fmt, -1, -1,
                md.durationMs, md.sampleRate)
            case "flac" =>
              val md = Flac.meta(b)
              MediaMetaRow(m.media_id, "audio", fmt, -1, -1,
                md.durationMs, md.sampleRate)
            case "ogg" =>
              val md = Ogg.meta(b)
              MediaMetaRow(m.media_id, "audio", fmt, -1, -1,
                md.durationMs, md.sampleRate)
            case "mp4" =>
              val md = Mp4.meta(b)
              MediaMetaRow(m.media_id, "video", fmt, -1, -1, md.durationMs, -1)
            case "y4m" =>
              val md = Y4m.meta(b)
              MediaMetaRow(m.media_id, "video", fmt, md.width, md.height,
                md.durationMs, -1)
            case _ => MediaMetaRow(m.media_id, "unknown", "unknown",
              -1, -1, -1L, -1)
          }
          Iterator.single(row)
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed media for media_id ${m.media_id}", e)
        }
      }
    }.toDF()
  }

  /** Pre-decode metadata gate — the composition real crawl pipelines
    * run with [[jpegMetadata]]/[[pngMetadata]] (round 17): classify
    * each image blob by its HEADER metadata before any pixel decode.
    * One mapPartitions projection, header-bytes cost per blob:
    *  - `dropped_malformed`: the structural walk refuses (truncated
    *    download, desynced markers, CRC rot)
    *  - `dropped_tiny`: a side under `minSide` (tracking pixels,
    *    spacer gifs — the crawl's most common junk)
    *  - `dropped_huge`: more than `maxPixels` declared pixels (decode
    *    cost bombs — a patched header can declare any dimensions; the
    *    gate refuses to pay pixels to find out)
    *  - `dropped_unsupported`: a stream the decoder would refuse for
    *    structural reasons a header walk can see — an unknown CRITICAL
    *    chunk (the Apple CgBI shape; [[Png.meta]]'s `unknownCritical`
    *    flag) — known BEFORE decode, which is the cost-routing signal
    *    the decodeless walk exists for
    *  - `kept`: everything else, including non-JPEG/PNG magics (the
    *    cheap formats have no header walker and decode directly; their
    *    malformed blobs still drop at decode under DROPMALFORMED).
    * Returns (media_id, bytes, gate). */
  def imageMetaGate(media: DataFrame, minSide: Int = 8,
      maxPixels: Long = 100000000L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.map { m =>
        // the SHARED gate core with the duration axes disabled — the
        // image gate and the cross-modality gate apply ONE rule set,
        // so a pipeline composing either sees the same dispositions
        val gate =
          try gateOf(m.bytes, sniffFormat(m.bytes), minSide, maxPixels,
            Long.MinValue, Long.MaxValue)
          catch { case _: Exception => "dropped_malformed" }
        (m.media_id, m.bytes, gate)
      }
    }.toDF("media_id", "bytes", "gate")
  }

  /** CROSS-MODALITY pre-decode gate — [[imageMetaGate]] extended over
    * every container the unified pre-pass reads (round 17, late): one
    * header walk per blob classifies it for the whole pipeline before
    * any decode. Images gate on geometry ([[imageMetaGate]]'s rules,
    * including the CgBI `dropped_unsupported` route); audio and video
    * gate on DURATION — sub-`minDurationMs` clips are the tracking
    * pixels of the audio/video world (click junk, zero-length
    * uploads), beyond-`maxDurationMs` ones the cost bombs; GIFs gate as
    * images (their duration is ancillary); unknown magics stay kept
    * (the routing-parity discipline). A failed structural walk is
    * `dropped_malformed` in every modality. Returns (media_id, bytes,
    * modality, gate). */
  def mediaMetaGate(media: DataFrame, minSide: Int = 8,
      maxPixels: Long = 100000000L, minDurationMs: Long = 0L,
      maxDurationMs: Long = Long.MaxValue): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.map { m =>
        // sniff ONCE: a corrupt blob's star pairs still land in the
        // right modality cohort because the modality derives from the
        // magic, not from the (failed) walk
        val fmt = sniffFormat(m.bytes)
        val gate =
          try gateOf(m.bytes, fmt, minSide, maxPixels, minDurationMs,
            maxDurationMs)
          catch { case _: Exception => "dropped_malformed" }
        (m.media_id, m.bytes, modalityOf(fmt), gate)
      }
    }.toDF("media_id", "bytes", "modality", "gate")
  }

  /** One blob's fused decode-to-thumbnail attempt — the SHARED body of
    * every fused gate+decode walk (extracted so a change to attempt
    * counting, exception handling, or orientation can never
    * desynchronize a fused site from [[decodeImagesWith]]'s census):
    * counts the attempt on the given accumulator, decodes via
    * [[decodeAnyImageBytes]], applies the EXIF orientation convention
    * when asked, and returns the [[thumbnailOf]] floats — or null when
    * the decode refuses (the undecodable route). */
  private def decodeThumbOrNull(bytes: Array[Byte], thumbSide: Int,
      autoOrient: Boolean,
      attempts: org.apache.spark.util.LongAccumulator): Array[Float] = {
    attempts.add(1)
    try {
      val (w, h, raster) = decodeAnyImageBytes(bytes)
      val (ow, oh, oraster) =
        if (!autoOrient) (w, h, raster)
        else applyOrientation(w, h, raster, Jpeg.exifOrientation(bytes))
      thumbnailOf(ow, oh, oraster, thumbSide)
    } catch { case _: Exception => null }
  }

  /** [[mediaMetaGate]] fused with the KEPT image cohort's pixel decode
    * (round 20, guide §8 "move big rows once"): the gate already streams
    * every payload byte past the header walk, so decoding the kept
    * images' thumbnails IN THE SAME PASS removes the second full read of
    * the image cohort's bytes (and the separate decode job) that
    * [[gatedMediaDedup]] used to pay in [[routedImageDedup]]. Decode
    * attempts stay ≡ the kept image census — the SAME
    * `graft.image_decode_attempts` accumulator counts them, now charged
    * at the gate — and the thumbs are bit-identical to
    * [[decodeAnyImages]]' (shared [[decodeAnyImageBytes]] dispatch +
    * [[thumbnailOf]]). `thumb` is NULL for non-images, gated-out blobs,
    * and kept images whose decode refuses (those keep routing to exact
    * blob dedup, the undecodable discipline). Returns (media_id, bytes,
    * modality, gate, thumb). The caller's checkpoint of this frame carries
    * the thumbnails, so its size grows with `thumbSide`². */
  private[graft] def mediaMetaGateDecoding(media: DataFrame, minSide: Int,
      maxPixels: Long, minDurationMs: Long, maxDurationMs: Long,
      thumbSide: Int, autoOrient: Boolean): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val attempts = spark.sparkContext
      .longAccumulator("graft.image_decode_attempts")
    media.select(col("media_id"), col("bytes")).as[ImageRow].mapPartitions { it =>
      it.map { m =>
        val fmt = sniffFormat(m.bytes)
        val gate =
          try gateOf(m.bytes, fmt, minSide, maxPixels, minDurationMs,
            maxDurationMs)
          catch { case _: Exception => "dropped_malformed" }
        val modality = modalityOf(fmt)
        val thumb: Array[Float] =
          if (gate == "kept" && modality == "image")
            decodeThumbOrNull(m.bytes, thumbSide, autoOrient, attempts)
          else null
        (m.media_id, m.bytes, modality, gate, thumb)
      }
    }.toDF("media_id", "bytes", "modality", "gate", "thumb")
  }

  /** META-GATED image dedup — the composed pipeline shape: header gate
    * → decode ONLY the kept cohort → degenerate-aware routed dedup.
    * Gated-out blobs are never pixel-decoded (accumulator-proven in
    * the spec and measured on the Scale4x junk ladder) but KEEP their
    * byte-identical duplicates as exact star pairs — the routing
    * discipline applied to the gate itself: truncated downloads and
    * decode bombs mirror across a crawl too, and dropping a blob from
    * perceptual matching must never drop it from exact dedup. Returns
    * (id_a, id_b, kind), drop-in for the clustering stack. */
  def gatedImageDedup(media: DataFrame, minSide: Int = 8,
      maxPixels: Long = 100000000L, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, thumbSide: Int = 8,
      flatEps: Double = 1e-9, ahash: Boolean = false,
      autoOrient: Boolean = false): DataFrame = {
    // one header pass feeds both cohorts (kept filter + dropped stars)
    val gated = imageMetaGate(media, minSide, maxPixels).localCheckpoint()
    val kept = gated.filter(col("gate") === "kept")
      .select(col("media_id"), col("bytes"))
    val dropped = gated.filter(col("gate") =!= "kept")
      .select(col("media_id").as("key"), col("bytes"))
    blobStarPairs(dropped) // checkpoints its own narrow (key, md5) frame
      .select(col("id_a"), col("id_b"), lit("exact_blob").as("kind"))
      .unionByName(routedImageDedup(kept, maxHamming, maxBucketDf,
        thumbSide, flatEps, ahash, autoOrient))
  }

  /** META-GATED cross-modality dedup (round 18) — [[gatedImageDedup]]
    * composed across EVERY modality, the full crawl pipeline shape:
    * ONE header walk per blob ([[mediaMetaGate]]) classifies and gates
    * it, decode runs ONLY on the kept cohort (per modality, through
    * [[routedMediaDedup]]'s tagged body — the gate's modality column
    * IS the classification, so the kept path never sniffs twice), and
    * gated-out blobs keep their byte-identical duplicates as exact
    * star pairs IN THEIR MAGIC-DERIVED MODALITY (truncated downloads,
    * decode bombs, sub-audible clips and over-long movies all mirror
    * across a crawl too — dropping a blob from perceptual matching
    * must never drop it from exact dedup; two byte-identical blobs
    * always share a magic, so the per-modality star groups are
    * well-defined). Decode-attempt accumulators stay ≡ the kept
    * census (listener-proven in the spec, measured on the Scale4x
    * --metagate ladder). Returns (id_a, id_b, kind, modality). */
  def gatedMediaDedup(media: DataFrame, minSide: Int = 8,
      maxPixels: Long = 100000000L, minDurationMs: Long = 0L,
      maxDurationMs: Long = Long.MaxValue, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      flatEps: Double = 1e-9, silenceFloor: Int = 0,
      imageAhash: Boolean = false,
      imageAutoOrient: Boolean = false): DataFrame = {
    // one pass feeds EVERYTHING (round 20): the header gate classifies
    // every blob AND decodes the kept image cohort's thumbs in the same
    // partition walk (mediaMetaGateDecoding), so the image payload bytes
    // are read once, not once for the gate and again for the decode —
    // the layout-neutral seam of VERDICT r19 item 4 (the gate emits
    // (media_id, modality, thumb) for kept images; the route consumes it)
    val gated = mediaMetaGateDecoding(media, minSide, maxPixels,
      minDurationMs, maxDurationMs, thumbSide, imageAutoOrient)
      .localCheckpoint()
    val kept = gated.filter(col("gate") === "kept")
      .select(col("media_id"), col("bytes"), col("modality"))
    // the decoded frame routedImageDedupDecoded expects — derived from
    // the gate checkpoint (no second decode, no extra checkpoint; the
    // quality signals are cheap codegen'd array aggregates). Oriented
    // thumbs carry the same column metadata decodeAnyImages attaches.
    val keptImageDec = taggedImageDec(gated.filter(col("gate") === "kept"),
      imageAutoOrient, Some(flatEps))
    // Round 19: the two consumers (group aggregate + star probe) read a
    // NARROW checkpointed (key, modality, md5) projection — the former
    // checkpoint materialized the dropped cohort's payload bytes and
    // computed the md5 once per consumer (guide §2.3: hold and shuffle
    // hashes, never payloads).
    // the dropped-star leg and the kept routing are independent —
    // overlap their eager checkpoint jobs (inParallel; union order
    // unchanged)
    val parts = inParallel[DataFrame](Seq(
      () => {
        val dropped = gated.filter(col("gate") =!= "kept")
          .select(col("media_id").cast("long").as("key"), col("modality"),
            md5(col("bytes")).as("_md5"))
          .localCheckpoint()
        val groups = dropped
          .groupBy(col("_md5").as("_m"))
          .agg(min(col("key")).as("kept_key"))
        dropped
          .join(groups, col("_md5") === col("_m") &&
            col("key") =!= col("kept_key"))
          .select(col("kept_key").as("id_a"), col("key").as("id_b"),
            lit("exact_blob").as("kind"), col("modality"))
      },
      () => routedMediaDedupTagged(kept, maxHamming,
        maxBucketDf, minMatchedFrames, maxFrameDf, thumbSide, flatEps,
        silenceFloor, imageAhash, imageAutoOrient,
        imageDec = Some(keptImageDec))))
    parts(0).unionByName(parts(1))
  }

  /** Planted sub-`minDurationMs` AUDIO junk for the cross-modality
    * gate rows (round 18): groups of four BYTE-IDENTICAL WAV clips of
    * 40+8·(gid%4) samples at 16 kHz (2-4 ms — the click-junk shape),
    * gid-seeded samples so groups never collide. The gate must refuse
    * them at header cost while their exact duplicates survive. */
  def junkAudioMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val n = 40 + (gid % 4).toInt * 8
      val samples = Array.tabulate(n)(i =>
        (splitmix64(gid * 131071L + i) % 8000L).toShort)
      (id, Wav.encode(16000, samples))
    }.toDF("media_id", "bytes")
  }

  /** Planted beyond-`maxDurationMs` VIDEO junk (round 18): groups of
    * four BYTE-IDENTICAL MP4s declaring 6000 ms at timescale 600 (the
    * cost-bomb shape — a crawl pipeline must refuse to pay frame
    * decode to find out), gid-seeded so groups never collide. */
  def junkVideoMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      (id, Mp4.encode("isom", gid, 600L, 3600L,
        video = Some("avc1"), audio = Some("mp4a"),
        mdatLen = 16 + (gid % 16).toInt, seed = gid))
    }.toDF("media_id", "bytes")
  }

  /** The three-cohort cross-modality junk fixture every gate surface
    * shares (m_gated_media, m_stream_gated, the Scale4x --metagate
    * leg, the specs) — ONE offset table, because the DuckDB oracles
    * hard-code it: image junk at `base`, audio at `base+step`, video
    * at `base+2·step`. */
  def junkMediaFixture(docs: DataFrame, base: Long = 16000000L,
      step: Long = 2000000L): DataFrame = {
    def off(df: DataFrame, o: Long) = df.select(
      (col("media_id") + lit(o)).as("media_id"), col("bytes"))
    off(junkImageMediaFromDocuments(docs), base)
      .unionByName(off(junkAudioMediaFromDocuments(docs), base + step))
      .unionByName(off(junkVideoMediaFromDocuments(docs), base + 2 * step))
  }

  /** Planted JUNK cohort for the meta-gate rows (round 17) — the blobs
    * a crawl's pre-decode gate exists to refuse, in groups of four
    * BYTE-IDENTICAL copies (gid = id/4) so the exact-dedup guarantee
    * of [[gatedImageDedup]] is testable: gid%4 = 0 → a real 4×3 JPEG
    * (dropped_tiny at minSide 8), 1 → a real JPEG whose SOF declares
    * 4000×3000 (a decode-cost bomb: header-patched dims, CRC-free
    * format makes it structurally valid — dropped_huge at maxPixels
    * 10⁶), 2 → a truncated JPEG (dropped_malformed), 3 → a PNG
    * carrying a CgBI-shaped unknown CRITICAL chunk — the Apple
    * proprietary variant standard decoders refuse (dropped_unsupported;
    * interlace/16-bit DECODE since the r17 second pass and no longer
    * gate). */
  def junkImageMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val kind = (gid % 4).toInt
      // group uniqueness must survive a LOSSY codec: bake the gid into
      // a COM segment (spec-legal, skipped by meta and decode alike)
      // instead of into quantized pixels, so two junk groups can never
      // encode byte-identically and cross-link their star pairs
      def withCom(b: Array[Byte]): Array[Byte] = {
        val seg = new Array[Byte](12)
        seg(0) = 0xff.toByte; seg(1) = 0xfe.toByte; seg(2) = 0; seg(3) = 10
        var i = 0
        while (i < 8) { seg(4 + i) = ((gid >>> (8 * i)) & 0xff).toByte; i += 1 }
        java.util.Arrays.copyOfRange(b, 0, 2) ++ seg ++
          java.util.Arrays.copyOfRange(b, 2, b.length)
      }
      val bytes = kind match {
        case 0 =>
          withCom(Jpeg.encodeGray(4, 3, Array.tabulate(12)(p =>
            (40 + p * 5).toByte)))
        case 1 =>
          val b = withCom(Jpeg.encodeGray(8, 8, Array.tabulate(64)(p =>
            (40 + p).toByte)))
          // patch the SOF dims: FF C0 len(2) prec(1) h(2) w(2). Scan
          // AFTER the spliced 14-byte COM segment — its little-endian
          // gid payload can contain an FF C0 byte pair at corpus
          // scales past ~198k docs, and the patch must never land in
          // the comment
          var i = 2 + 14
          while (!((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0)) i += 1
          b(i + 5) = ((3000 >> 8) & 0xff).toByte; b(i + 6) = (3000 & 0xff).toByte
          b(i + 7) = ((4000 >> 8) & 0xff).toByte; b(i + 8) = (4000 & 0xff).toByte
          b
        case 2 =>
          val b = withCom(Jpeg.encodeGray(8, 8, Array.tabulate(64)(p =>
            (40 + p * 3).toByte)))
          java.util.Arrays.copyOfRange(b, 0, b.length / 2)
        case _ =>
          // a CRITICAL private chunk the decoder must refuse (spec
          // §5.4) — the Apple-CgBI-shaped real-world case (spliced
          // after IHDR so the chunk walk stays well-formed; PNG is
          // lossless so the gid payload keeps groups byte-distinct)
          val b = Png.encodeGray(8, 8, Array.tabulate(64)(p =>
            (((gid >>> (8 * (p % 8))) & 0xff) ^ p).toByte))
          val data = Array.tabulate(8)(i => ((gid >>> (8 * i)) & 0xff).toByte)
          val chunk = new java.io.ByteArrayOutputStream()
          chunk.write(Array[Byte](0, 0, 0, 8), 0, 4)
          chunk.write("CgBI".getBytes("US-ASCII"), 0, 4)
          chunk.write(data, 0, 8)
          val crc = new java.util.zip.CRC32()
          crc.update("CgBI".getBytes("US-ASCII")); crc.update(data)
          val v = crc.getValue
          var i = 0
          while (i < 4) {
            chunk.write(((v >>> (24 - 8 * i)) & 0xff).toInt); i += 1
          }
          val ihdrEnd = 8 + 8 + 13 + 4
          java.util.Arrays.copyOfRange(b, 0, ihdrEnd) ++
            chunk.toByteArray ++
            java.util.Arrays.copyOfRange(b, ihdrEnd, b.length)
      }
      (id, bytes)
    }.toDF("media_id", "bytes")
  }

  /** Resize: pure metadata transform (the byte transform is the codec's job
    * and stays behind the stub boundary). */
  def resize(media: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(1.0),
      lit(maxSide) / greatest(col("meta.width"), col("meta.height")).cast("double"))
    media.withColumn("meta",
      struct(
        floor(col("meta.width") * scale).cast("int").as("width"),
        floor(col("meta.height") * scale).cast("int").as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.duration_ms").as("duration_ms")))
  }

  /** Frame sampling for video rows: one output row per sampled frame at
    * `fps` frames/second — a generator (explode over a sequence), which
    * Spark distributes with no driver state; non-video rows pass through
    * with a single frame 0. */
  def sampleFrames(media: DataFrame, fps: Double = 1.0): DataFrame = {
    val nFrames = when(col("kind") === "video",
        greatest(floor(col("meta.duration_ms") / lit(1000.0) * fps).cast("long"), lit(1L)))
      .otherwise(lit(1L))
    media.withColumn("frame_idx",
        explode(sequence(lit(0L), nFrames - 1)))
      .withColumn("frame_ts_ms",
        (col("frame_idx") * lit(1000.0) / fps).cast("long"))
  }

  /** WebDataset-style shard export (the public webdataset convention:
    * training samples as `<key>.<ext>` + `<key>.json` entry pairs inside
    * sequential POSIX tars, one tar per shard) — the interchange format
    * multimodal training loaders stream.
    *
    * Scale shape: EXECUTOR-SIDE distributed write — rows repartition by
    * shard id and each task streams its shards' entries into a unique
    * `.staging/` temp through the Hadoop FS and PROMOTES the complete
    * tar to `shard-NNNNN.tar` with one rename (task-committed: retries
    * re-promote, concurrent speculative attempts race the rename and the
    * loser discards its identical-bytes temp — safe with
    * `spark.speculation` on). No driver collect, no per-entry seeks; a
    * shard is written once, sequentially, keys sorted for determinism.
    * The default shard key is `key % nShards`
    * (engine-replayable); pass a hashed column for balance when keys are
    * clustered. Returns the manifest AS READ BACK from the written tars
    * (same audit convention as exportTrainingShards: the manifest counts
    * what actually landed on disk, via the repo's own ustar walker) —
    * (shard, n_items, blob_bytes, key_sum) per shard.
    */
  def exportWebDataset(media: DataFrame, outDir: String, nShards: Int,
      ext: String = "ppm", keyCol: String = "media_id",
      blobCol: String = "bytes"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val spark = media.sparkSession
    import spark.implicits._
    val tagged = media.select(col(keyCol).cast("long").as("_k"),
        col(blobCol).as("_b"))
      .withColumn("_shard", pmod(col("_k"), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("_shard"))
      .sortWithinPartitions("_shard", "_k")
      .as[(Long, Array[Byte], Int)]
    // re-export semantics are committed DRIVER-SIDE, before the job:
    // stale shards from a previous export (including ones a smaller
    // nShards would no longer write) and staging leftovers go first, so
    // task-side promotion never has to delete anything
    locally {
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dir = new org.apache.hadoop.fs.Path(outDir)
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter(_.getPath.getName.matches("shard-\\d+\\.tar"))
          .foreach(st => fs.delete(st.getPath, false))
      fs.delete(new org.apache.hadoop.fs.Path(outDir, ".staging"), true)
    }
    // executors must see the SESSION's Hadoop config (credentials,
    // fs.<scheme> impls) — a bare `new Configuration()` only reads the
    // classpath defaults
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // hash partitioning may co-locate several shard ids in one task (and
    // leave others empty) — entries arrive shard-contiguous (the sort),
    // so the writer rolls to a new tar on shard change. TASK-COMMITTED
    // writes (round 15): each attempt streams its shard into a unique
    // `.staging/` temp and promotes it with ONE rename on shard close,
    // so a shard only ever appears at its final name COMPLETE. Retries
    // re-promote (the failed attempt never promoted); concurrent
    // SPECULATIVE attempts race renames, and the loser deletes its temp
    // — both attempts of a partition write identical bytes (entries are
    // (shard, key)-sorted, content deterministic), so either winner is
    // correct. Promotion is MONOTONIC: no task ever deletes a promoted
    // shard (a zombie attempt that deleted the winner's shard and then
    // died would lose it silently — re-export cleanup happens driver-side
    // above), so once a shard exists it stays. The driver sweeps
    // `.staging/` after the job: leftover temps from failed attempts
    // never pollute the manifest (it lists only top-level shard-*.tar).
    tagged.foreachPartition { (it: Iterator[(Long, Array[Byte], Int)]) =>
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(serConf.value)
      var cur = -1
      var os: org.apache.hadoop.fs.FSDataOutputStream = null
      var tmp: org.apache.hadoop.fs.Path = null
      var fin: org.apache.hadoop.fs.Path = null
      def close(): Unit = if (os != null) {
        os.write(new Array[Byte](1024)) // end-of-archive blocks
        os.close(); os = null
        // promote: rename is the commit point. The rename fails only
        // when a concurrent attempt already promoted (identical bytes —
        // entries are (shard, key)-sorted, content deterministic), so
        // the loser discards its temp; it NEVER deletes the final file.
        if (!fs.rename(tmp, fin)) fs.delete(tmp, false)
      }
      def entry(name: String, bytes: Array[Byte]): Unit = {
        os.write(graft.sources.TdbWriter.tarHeader(name, bytes.length.toLong))
        os.write(bytes)
        val rem = (512 - (bytes.length % 512)) % 512
        if (rem > 0) os.write(new Array[Byte](rem))
      }
      it.foreach { case (k, blob, shard) =>
        if (shard != cur) {
          close()
          cur = shard
          fin = new org.apache.hadoop.fs.Path(outDir, f"shard-$shard%05d.tar")
          tmp = new org.apache.hadoop.fs.Path(outDir,
            f".staging/shard-$shard%05d.tar." +
              java.util.UUID.randomUUID().toString.take(8))
          os = fs.create(tmp, true)
        }
        entry(s"$k.$ext", blob)
        entry(s"$k.json",
          s"""{"key":$k,"n_bytes":${blob.length}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      close()
    }
    // sweep staging leftovers (failed attempts) before the manifest read
    locally {
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(outDir, ".staging"), true)
    }
    // manifest from READ-BACK: the repo's ustar walker re-opens each
    // written shard (driver-side over nShards files — bounded)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(_.getPath.getName.matches("shard-\\d+\\.tar"))
      .sortBy(_.getPath.getName)
    shards.toSeq.map { st =>
      val ar = graft.sources.TdbFormat.TdbArchive.open(st.getPath.toString)
      val shard = st.getPath.getName.stripPrefix("shard-")
        .stripSuffix(".tar").toLong
      val blobs = ar.memberNames.filter(_.endsWith(s".$ext")).toSeq
      val blobBytes = blobs.map(ar.size).sum
      val keySum = blobs.map(_.stripSuffix(s".$ext").toLong).sum
      (shard, blobs.length.toLong, blobBytes, keySum)
    }.toDF("shard", "n_items", "blob_bytes", "key_sum")
  }

  /** Read a [[exportWebDataset]] directory (or any webdataset-shaped tar
    * shard set) back as (key, ext, bytes) rows — the loader side of the
    * convention, one task per shard: shard paths parallelize and each
    * task walks ITS tar's entries sequentially with the repo's ustar
    * walker (range reads through the Hadoop FS — works for file://,
    * hdfs://, s3a:// alike). Non-`key.ext`-shaped member names are
    * skipped. */
  def readWebDataset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".tar"))
      .map(_.getPath.toString).sorted.toSeq
    spark.createDataset(paths)
      .repartition(math.max(paths.size, 1))
      .flatMap { p =>
        val ar = graft.sources.TdbFormat.TdbArchive.open(p)
        ar.memberNames.toSeq.sorted.flatMap { name =>
          val dot = name.lastIndexOf('.')
          if (dot <= 0) None
          else name.substring(0, dot).toLongOption.map { key =>
            (key, name.substring(dot + 1), ar.readAll(name))
          }
        }
      }
      .toDF("key", "ext", "bytes")
  }

  // ---- perceptual image dedup (round 13) ----

  /** The eight EXIF orientation transforms as raster permutations
    * (display(x,y) = stored(fx, fy), the public EXIF tag-0x0112 table:
    * 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose, 6 rotate 90
    * CW, 7 transverse, 8 rotate 270 CW). Tags 5-8 swap the dims. Pure
    * per-pixel permutation — channel means are invariant, which is why
    * the decode gates' mean oracles hold with or without it. */
  private[graft] def applyOrientation(w: Int, h: Int, raster: Array[Byte],
      tag: Int): (Int, Int, Array[Byte]) = {
    if (tag <= 1 || tag > 8) return (w, h, raster)
    val swap = tag >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Byte](raster.length)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val (sx, sy) = tag match {
          case 2 => (w - 1 - x, y)
          case 3 => (w - 1 - x, h - 1 - y)
          case 4 => (x, h - 1 - y)
          case 5 => (y, x)
          case 6 => (y, h - 1 - x)
          case 7 => (w - 1 - y, h - 1 - x)
          case _ => (w - 1 - y, x) // 8
        }
        val s = (sy * w + sx) * 3
        val d = (y * ow + x) * 3
        out(d) = raster(s); out(d + 1) = raster(s + 1); out(d + 2) = raster(s + 2)
        x += 1
      }
      y += 1
    }
    (ow, oh, out)
  }

  /** Column-metadata key recording whether a decoded frame's thumbs are
    * EXIF-orientation-normalized — the hash-family contract
    * ([[ImageHashKindKey]]) extended to the orientation convention: an
    * index frozen over oriented thumbs must never be probed with raw
    * ones (a rotated re-save would silently stop matching), and vice
    * versa. */
  private[graft] final val ImageOrientedKey = "graft.image_oriented"

  /** Whether a decoded frame's thumbs were orientation-normalized, read
    * from its `thumb` column metadata (frames from before the flag read
    * as raw). */
  private[graft] def thumbsAreOriented(decoded: DataFrame,
      thumbCol: String = "thumb"): Boolean = {
    val md = decoded.schema(thumbCol).metadata
    md.contains(ImageOrientedKey) && md.getBoolean(ImageOrientedKey)
  }

  /** Mixed-format image decode: dispatch per blob on the magic bytes
    * (`P6` → [[Ppm]], `FFD8` → [[Jpeg]], `\x89PNG` → [[Png]] (round
    * 17), `qoif` → [[Qoi]]) — real corpora are never single-format
    * (and are JPEG+PNG-dominated), and a per-format filter+union would
    * read the media table once per format. Same output contract as
    * [[decodeImages]].
    *
    * `autoOrient` (round 17) applies the EXIF orientation transform
    * ([[Jpeg.exifOrientation]] tag 1-8 → [[applyOrientation]]) to the
    * decoded raster BEFORE the thumbnail is sampled, inside the same
    * mapPartitions projection — no new shuffle, no second decode. dHash
    * is not rotation-invariant, so without this a rotated re-save of
    * the same photo never pairs; with it the re-save's thumb is
    * bit-identical to the original's. The output frame's `thumb`
    * column records the convention ([[ImageOrientedKey]] metadata) so
    * a frozen signature index can never be probed with the other
    * convention. Non-JPEG formats carry no EXIF here and pass through
    * unchanged (tag 0). */
  /** The per-blob image dispatch behind [[decodeAnyImages]] — ONE
    * definition, shared with the fused gate+decode walk
    * ([[mediaMetaGateDecoding]]), so the two paths decode (and refuse)
    * exactly the same blobs. */
  private[graft] def decodeAnyImageBytes(
      bytes: Array[Byte]): (Int, Int, Array[Byte]) =
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6')
      Ppm.decode(bytes)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8)
      Jpeg.decode(bytes)
    else if (Png.isPng(bytes)) Png.decode(bytes)
    else if (Gif.isGif(bytes)) Gif.decode(bytes)
    else if (Webp.isWebp(bytes))
      // LOSSLESS (VP8L) decodes for real since round 18 (the
      // from-spec Vp8l codec); lossy VP8 and animated containers
      // keep refusing loudly inside Webp.decode — those blobs keep
      // exact dedup through the undecodable route
      Webp.decode(bytes)
    else Qoi.decode(bytes)

  def decodeAnyImages(media: DataFrame, thumbSide: Int = 2,
      skipMalformed: Boolean = true, autoOrient: Boolean = false): DataFrame = {
    val base: Array[Byte] => (Int, Int, Array[Byte]) = decodeAnyImageBytes
    val dec = decodeImagesWith(media,
      if (!autoOrient) base
      else { bytes =>
        val (w, h, raster) = base(bytes)
        applyOrientation(w, h, raster, Jpeg.exifOrientation(bytes))
      }, thumbSide, skipMalformed)
    if (!autoOrient) dec
    else {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(ImageOrientedKey, true).build()
      dec.withColumn("thumb", col("thumb").as("thumb", md))
    }
  }

  /** Perceptual near-duplicate image pairs: dHash/aHash 64-bit signatures
    * over decode thumbnails ([[graft.functions.ImageHash64]], a native
    * codegen'd expression), Hamming-LSH band-blocking for candidates,
    * exact Hamming verify, plus an exact thumbnail pixel diff so callers
    * (and the oracle) can audit what "near" meant. Closes the capability
    * gap the text side filled long ago: this is SimHash dedup
    * ([[Dedup.simhashPairs]]) with the signature driven by pixels instead
    * of tokens — re-encodes, tiny edits, and brightness-shifted copies
    * (dHash is gradient-based) land within `maxHamming`.
    *
    * Blocking (Manku et al., WWW'07): the 64-bit signature splits into
    * `maxHamming + 1` contiguous bands — a pair within `maxHamming` must
    * agree EXACTLY on at least one band (pigeonhole), so candidates come
    * from an equi-join on (band, bits), never an all-pairs product.
    * The exact `bit_count(xor)` then removes band-collision false
    * positives, and the thumbnail diff (`n_diff_ch`: channels differing
    * by > 1/255) is computed only for surviving pairs via two narrow
    * id joins back to the signature frame.
    *
    * Scale: ~n·bands rows shuffle on 16-bit-ish band values. The skew to
    * watch at 100 TB is DEGENERATE buckets — near-flat images all hash to
    * the same few signatures (dHash of a constant raster is 0), making
    * one bucket quadratic — and at crawl scale flat media (tracking
    * pixels, solid rasters) is the COMMON case, not the corner. The
    * guard is ENFORCED, not documented: a (band, bits) bucket holding
    * more than `maxBucketDf` signatures is dropped from candidate
    * generation (the [[videoNearDupPairs]] stop-frame discipline; the
    * reference index's page-bitmap applies the same refusal — one item
    * is never allowed to explode the scan, tdbcli/tdb_index.c:575-606).
    * Audit the dropped buckets with [[degenerateHammingBuckets]] — a
    * nonempty result means a flat-media cohort was excluded and should
    * be routed to exact blob dedup ([[blobDupGroups]]) instead, which
    * handles byte-identical degenerates at linear cost.
    *
    * Returns (id_a, id_b, hamming, n_diff_ch), id_a < id_b. Feed
    * [[Dedup.connectedComponents]] / [[Dedup.dedupClusters]] /
    * [[Dedup.keepBest]] for clustering and survivor selection — the
    * pairs frame is drop-in compatible. */
  def imageNearDupPairs(decoded: DataFrame, maxHamming: Int = 3,
      idCol: String = "media_id", thumbCol: String = "thumb",
      ahash: Boolean = false, maxBucketDf: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0,15], got $maxHamming")
    val hashed =
      if (ahash) graft.functions.GraftFunctions.ahash64(col("t"))
      else graft.functions.GraftFunctions.dhash64(col("t"))
    // localCheckpoint the DECODED thumbs: they are consumed four times
    // (the band self-join's two sides + the two verify joins) — cut the
    // lineage so the decode pipeline runs once, not once per consumer
    // (the minhashDedupPairs signature-table pattern). The cheap native
    // hash stays ABOVE the checkpoint, in the audited plan.
    val thumbed = decoded.select(col(idCol).cast("long").as("id"),
      col(thumbCol).as("t")).localCheckpoint()
    val sig = thumbed.select(col("id"),
      col("t"), hashed.as("sig"))
    val cand = hammingPairs64(sig.select(col("id"), col("sig")), maxHamming,
      maxBucketDf)
    val thumbs = sig.select(col("id"), col("t"))
    cand
      .join(thumbs.as("ta"), col("id_a") === col("ta.id"))
      .join(thumbs.as("tb"), col("id_b") === col("tb.id"))
      .withColumn("n_diff_ch", size(filter(
        zip_with(col("ta.t"), col("tb.t"), (x, y) => abs(x - y)),
        d => d > lit(1.0 / 255 / 2))))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"),
        col("n_diff_ch").cast("long").as("n_diff_ch"))
  }

  /** Per-image quality signals over decode thumbnails — the media twin
    * of [[TextAnalysis.withQualitySignals]], and the measured input the
    * degenerate-media routing needs: `thumb_var` (population variance of
    * the thumbnail channels — exactly 0 for a constant raster),
    * `edge_energy` (mean |adjacent-channel difference| — a cheap
    * sharpness proxy; 0 for flat, high for noise/detail), and `is_flat`
    * (`thumb_var ≤ flatEps` — the tracking-pixel/solid-raster predicate
    * [[imageNearDupPairs]]' bucket guard exists for). All composed from
    * codegen'd builtins (`aggregate`/`zip_with`/`slice`) — no UDF, no
    * extra pass. */
  def withImageQualitySignals(decoded: DataFrame,
      thumbCol: String = "thumb", flatEps: Double = 1e-9): DataFrame = {
    val t = col(thumbCol)
    val n = size(t).cast("double")
    // variance via two LINEAR moments (E[x²] − mean²), never a mean
    // expression inside the variance lambda: higher-order functions run
    // interpreted, so a nested aggregate is O(len²) per row — measured
    // 1.8 ms/row on 192-channel thumbs (18 s for 10k images) vs linear's
    // sub-second. Clamped at 0 for the constant-array rounding case.
    val mean = aggregate(t, lit(0.0), (acc, x) => acc + x) / n
    val meanSq = aggregate(t, lit(0.0), (acc, x) => acc + x * x) / n
    decoded
      .withColumn("thumb_var",
        greatest(meanSq - pow(mean, lit(2.0)), lit(0.0)))
      .withColumn("edge_energy",
        // both slices are exactly size-1 long: zip_with pads the SHORTER
        // side with nulls, so equal lengths are a correctness requirement
        aggregate(zip_with(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => abs(b - a)), lit(0.0), (acc, x) => acc + x) /
          greatest(size(t) - 1, lit(1)).cast("double"))
      .withColumn("is_flat", col("thumb_var") <= flatEps)
  }

  /** Degenerate-aware image dedup ROUTING — the composition the bucket
    * guard's scaladoc prescribes, as one operator: flat media (where
    * perceptual hashing degenerates — every flat raster dHashes to 0 and
    * one (band, bits) bucket would go quadratic) — and UNDECODABLE
    * blobs (image magic, corrupt payload) — route to EXACT blob dedup
    * (linear: hash-groupBy + star pairs to the min-key survivor),
    * non-flat decodable media route to banded perceptual pairing. A
    * corrupt blob loses perceptual matching, never its byte-identical
    * duplicates (truncated downloads mirror across a crawl too).
    * Returns one
    * unified pair frame (id_a, id_b, kind ∈ {'exact_blob',
    * 'perceptual'}), id_a < id_b, drop-in for
    * [[Dedup.connectedComponents]] / [[Dedup.keepBest]]. A flat group's
    * star pairs label the same connected component the quadratic
    * all-pairs would — at linear, not quadratic, output cost. */
  def routedImageDedup(media: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, thumbSide: Int = 8,
      flatEps: Double = 1e-9, ahash: Boolean = false,
      autoOrient: Boolean = false): DataFrame = {
    // decoded thumbs feed the flat split AND the perceptual branch —
    // decode once (the imageNearDupPairs checkpoint discipline);
    // `autoOrient` normalizes EXIF orientation before hashing so a
    // rotated re-save routes into its original's cluster
    val dec = withImageQualitySignals(
      decodeAnyImages(media, thumbSide, autoOrient = autoOrient),
      flatEps = flatEps)
      .select(col("media_id"), col("thumb"), col("is_flat"))
      .localCheckpoint()
    routedImageDedupDecoded(media, dec, maxHamming, maxBucketDf, ahash)
  }

  /** [[routedImageDedup]] from an ALREADY-DECODED quality-signal frame
    * (media_id, thumb, is_flat — checkpointed by the caller, or a cheap
    * projection OVER a caller-held checkpoint: the frame is consumed by
    * two jobs, so anything expensive above it must be materialized; the
    * fused-gate caller derives it from the gate checkpoint): the mixed
    * incremental path decodes its image cohort once and feeds both this
    * within-batch routing and the against-index join from it, passing
    * the INDEX's frozen hash family as `ahash` so the within-batch pairs
    * use the same similarity definition as the corpus-side matches. */
  private def routedImageDedupDecoded(media: DataFrame, dec: DataFrame,
      maxHamming: Int, maxBucketDf: Int, ahash: Boolean = false): DataFrame = {
    // exact-route blobs: FLAT rasters (perceptual hashing degenerates)
    // and UNDECODABLE blobs (image magic, corrupt payload — the decoder
    // skips them, so they have no row in `dec`). A skipped blob must
    // keep its byte-identical duplicates: truncated downloads mirror
    // across a crawl just like intact ones (round 15). Round 19: ONE
    // left join on the (unique-id) decode frame replaces the former
    // anti-join + union + semi-join id derivation — `is_flat` null
    // means "no decode row", which routes exact like a flat (guide
    // §2.4: fewer exchanges, same cohort). blobStarPairs checkpoints
    // its own narrow (key, md5) frame, so the slice itself no longer
    // materializes payload bytes.
    val flatBlobs = media
      .join(dec.select(col("media_id"), col("is_flat")),
        Seq("media_id"), "left")
      .filter(coalesce(col("is_flat"), lit(true)))
      .select(col("media_id").as("key"), col("bytes"))
    val blobPairs = blobStarPairs(flatBlobs)
      .withColumn("kind", lit("exact_blob"))
    val perceptual = imageNearDupPairs(dec.filter(!col("is_flat")),
        maxHamming = maxHamming, ahash = ahash, maxBucketDf = maxBucketDf)
      .select(col("id_a"), col("id_b"), lit("perceptual").as("kind"))
    blobPairs.unionByName(perceptual)
  }

  /** Exact blob dedup groups over any (key, bytes) frame — e.g. a
    * [[readWebDataset]] read-back: "the same image landed in the tar
    * twice". One hash-groupBy on md5(bytes) (16-byte content identity;
    * map-side partials shrink each partition to its distinct blobs before
    * the shuffle), min-key survivor — the [[Dedup.exactDedup]] convention
    * applied to binary payloads. Returns one row per distinct blob:
    * (blob_md5, kept_key, n_copies, key_sum, blob_len). */
  def blobDupGroups(blobs: DataFrame, keyCol: String = "key",
      blobCol: String = "bytes"): DataFrame =
    blobs.groupBy(md5(col(blobCol)).as("blob_md5"))
      .agg(min(col(keyCol).cast("long")).as("kept_key"),
        count(lit(1)).as("n_copies"),
        sum(col(keyCol).cast("long")).as("key_sum"),
        max(length(col(blobCol))).as("blob_len"))

  /** Survivor rows of [[blobDupGroups]]: the input minus every non-first
    * copy of each distinct blob (min key kept). One narrow semi-join on
    * (md5, key) — no window, no collect. */
  def dedupBlobs(blobs: DataFrame, keyCol: String = "key",
      blobCol: String = "bytes"): DataFrame = {
    val kept = blobDupGroups(blobs, keyCol, blobCol)
      .select(col("blob_md5").as("_m"), col("kept_key"))
    blobs.withColumn("_md5", md5(col(blobCol)))
      .join(kept, col("_md5") === col("_m") &&
        col(keyCol).cast("long") === col("kept_key"), "left_semi")
      .drop("_md5")
  }

  /** Star pairs of byte-identical blobs under the min-key survivor —
    * the exact-dedup pair shape every degenerate-routing branch emits:
    * (id_a = kept key, id_b = other copy), one row per non-survivor.
    * A group's star pairs label the same connected component its full
    * pair clique would, at linear (not quadratic) output cost.
    *
    * Round 19 (optimization): the two consumers (group aggregate +
    * star probe) read a checkpointed NARROW (key, md5) projection
    * computed here in one pass — before, every caller checkpointed its
    * (key, BYTES) slice, materializing the payload in executor memory
    * when only 24 bytes/row of content identity are ever joined on
    * (guide §2.3: shuffle keys and hashes, never payloads). Callers no
    * longer checkpoint the slice. */
  private def blobStarPairs(blobs: DataFrame): DataFrame = {
    val hashed = blobs
      .select(col("key").cast("long").as("key"), md5(col("bytes")).as("_md5"))
      .localCheckpoint()
    val groups = hashed.groupBy(col("_md5").as("_m"))
      .agg(min(col("key")).as("kept_key"))
    hashed
      .join(groups, col("_md5") === col("_m") &&
        col("key") =!= col("kept_key"))
      .select(col("kept_key").as("id_a"), col("key").as("id_b"))
  }

  /** Per-clip audio quality signals — [[withImageQualitySignals]]' audio
    * twin and the silence predicate the fingerprint bucket guard points
    * at: `rms` (root-mean-square amplitude over the PCM), `peak` (max
    * |sample|), `clip_rate` (fraction of samples at the 16-bit rails —
    * the distortion signal), `n_samples`, and `is_silent`
    * (`peak ≤ silenceFloor` — silence fingerprints collide exactly like
    * flat rasters dHash to 0). One decode pass per partition, exact
    * integer accumulation before the one IEEE division. */
  def withAudioQualitySignals(media: DataFrame,
      silenceFloor: Int = 0, skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[AudioRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (_, samples) = decodePcm16(m.bytes)
          var sq = 0.0
          var peak = 0
          var clipped = 0L
          var i = 0
          while (i < samples.length) {
            val s = samples(i).toInt
            val a = math.abs(s)
            sq += s.toDouble * s
            if (a > peak) peak = a
            if (s == Short.MaxValue || s == Short.MinValue) clipped += 1
            i += 1
          }
          val n = samples.length
          Iterator.single((m.media_id,
            if (n == 0) 0.0 else math.sqrt(sq / n), peak.toLong,
            if (n == 0) 0.0 else clipped.toDouble / n, n.toLong,
            peak <= silenceFloor))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed audio for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "rms", "peak", "clip_rate", "n_samples", "is_silent")
  }

  /** Degenerate-aware AUDIO dedup routing — [[routedImageDedup]]'s audio
    * twin: silent clips (colliding fingerprints, the quadratic-bucket
    * regime) and UNDECODABLE clips (RIFF magic, corrupt payload) route
    * to exact blob dedup as linear star pairs; audible decodable clips
    * route to banded perceptual fingerprint pairing. Returns
    * (id_a, id_b, kind ∈ {'exact_blob', 'perceptual'}), id_a < id_b,
    * drop-in for the clustering stack. */
  def routedAudioDedup(media: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, silenceFloor: Int = 0): DataFrame =
    // ONE decode pass for the whole routing: the fingerprint frame
    // carries `peak`, so the silence predicate reads it instead of a
    // second quality-signal decode, and silent clips skip the Goertzel
    // stage entirely (their fingerprints are never read)
    routedAudioDedupFromFp(media,
      audioFingerprints(media, skipGoertzelBelowPeak = silenceFloor)
        .localCheckpoint(),
      maxHamming, maxBucketDf, silenceFloor)

  /** [[routedAudioDedup]] from an ALREADY-COMPUTED fingerprint frame
    * covering the WHOLE cohort (checkpointed by the caller, `peak`
    * column included): the incremental paths fingerprint each clip once
    * — the against-index probe needs every clip's full fingerprint, so
    * they share a no-skip frame, while the standalone
    * [[routedAudioDedup]] passes a Goertzel-skipped one. The exact-route
    * cohort is SILENT clips (peak ≤ floor, read off this frame — no
    * second decode) plus UNDECODABLE clips (RIFF magic, corrupt payload
    * — no fps row; a skipped clip keeps its byte-identical duplicates,
    * round 15). */
  private def routedAudioDedupFromFp(media: DataFrame, fps: DataFrame,
      maxHamming: Int, maxBucketDf: Int, silenceFloor: Int): DataFrame = {
    // Round 19: one left join on the (unique-id) fingerprint frame
    // replaces the former anti-join + union + semi-join id derivation
    // — a null peak means "no fps row" (undecodable), which routes
    // exact like silence (the routedImageDedupDecoded shape).
    val silent = media
      .join(fps.select(col("media_id"), col("peak")), Seq("media_id"), "left")
      .filter(coalesce(col("peak") <= silenceFloor, lit(true)))
      .select(col("media_id").as("key"), col("bytes"))
    val blobPairs = blobStarPairs(silent)
      .withColumn("kind", lit("exact_blob"))
    val audible = fps.filter(col("peak") > silenceFloor)
    val perceptual = audioNearDupPairsFromFp(audible, maxHamming,
        maxBucketDf)
      .select(col("id_a"), col("id_b"), lit("perceptual").as("kind"))
    blobPairs.unionByName(perceptual)
  }

  /** Unified MIXED-MODALITY dedup routing — real corpora carry images,
    * audio, and video in ONE media column: dispatch each blob on its
    * magic bytes (`P6`/`qoif` → image, `RIFF` → audio, `YUV4MPEG2` →
    * video — the [[decodeAnyImages]] dispatch extended across
    * containers), route each cohort through its modality's
    * degenerate-aware routed dedup, and return ONE pair frame
    * (id_a, id_b, kind, modality). Blobs with an unrecognized magic
    * still dedup EXACTLY (star pairs under the min key, kind =
    * 'exact_blob', modality = 'unknown') — an undecodable blob loses
    * perceptual matching, never its byte-identical duplicates (the
    * routing discipline, applied to the dispatcher itself). The
    * classification is one native substring compare per blob; each blob
    * is decoded at most once, in exactly one modality branch. */
  def routedMediaDedup(media: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      flatEps: Double = 1e-9, silenceFloor: Int = 0,
      imageAhash: Boolean = false,
      imageAutoOrient: Boolean = false): DataFrame =
    // classify ONCE and checkpoint: four cohort filters read the tagged
    // frame, so the upstream media subtree (generation/read) runs once.
    // Round 20 note: fusing the image decode into this pass
    // (classifyMediaDecoding, the gated-path seam) was measured and
    // REVERTED here — the four modality legs overlap (inParallel), so
    // the image decode already runs concurrent with the audio/video
    // legs; moving it into the pre-parallel classify checkpoint
    // serialized it onto the critical path (m_routed_media 2.26→2.59 s,
    // m_incr_media 2.90→3.07 s, min-of-5 A/B). `imageAhash` selects the
    // image cohort's hash family — a caller composing this with
    // [[mediaAgainstIndexes]] against an ahash-family
    // [[imageSignatureIndex]] passes indexHashIsAhash(index) so the
    // within-batch pairs use the SAME similarity definition as the
    // corpus-side matches (exactly what [[incrementalMediaDedup]] does
    // internally).
    routedMediaDedupTagged(classifyMedia(media).localCheckpoint(),
      maxHamming, maxBucketDf, minMatchedFrames, maxFrameDf, thumbSide,
      flatEps, silenceFloor, imageAhash, imageAutoOrient)

  /** Magic-byte modality classification of a mixed media column — the
    * [[decodeAnyImages]] dispatch extended across containers
    * (`P6`/`qoif`/`FFD8` (JPEG SOI, round 16)/`\x89PNG` (round 17) →
    * image, `RIFF`/`ID3`/MP3 frame sync (round 17) → audio,
    * `YUV4MPEG2`/`ftyp` at offset 4 (ISO BMFF, round 17) → video,
    * anything else → unknown): native substring compares per blob, a
    * pure projection (stream-legal). MP3/MP4 blobs route to their
    * modality's dedup where the undecodable branch keeps their exact
    * duplicates and [[mp3Metadata]]/[[mp4Metadata]] read them at
    * header cost. Returns (media_id, bytes, modality). */
  def classifyMedia(media: DataFrame): DataFrame = {
    def magic(n: Int) = substring(col("bytes"), 1, n)
    // MP3 sync prefixes: ID3v2-tagged streams lead with "ID3"; bare
    // streams lead with the 11-bit sync + version/layer bits. The
    // second-byte values enumerate [[Mp3SyncSecondBytes]] — the SAME
    // list sniffFormat tests, so the Scala-side and native-column
    // classifications cannot diverge (round 18: they did — only the
    // Layer III codes were listed here while sniffFormat took any
    // sync, so a bare Layer I/II stream routed audio in the gate and
    // unknown here). The strict frame walk is Mp3.meta's job;
    // classification only routes.
    val mp3Sync = Mp3SyncSecondBytes
      .map(b => magic(2) === lit(Array(0xff.toByte, b.toByte)))
      .reduce(_ || _)
    media.select(col("media_id"), col("bytes"),
      when(magic(2) === lit("P6".getBytes) ||
          magic(4) === lit("qoif".getBytes) ||
          magic(8) === lit(Png.Signature) ||
          magic(6) === lit("GIF87a".getBytes) ||
          magic(6) === lit("GIF89a".getBytes) ||
          // WebP is RIFF-framed: without this arm it routed to the
          // AUDIO cohort (round-17 fix) — the image test must precede
          // the RIFF/WAVE audio rule
          (magic(4) === lit("RIFF".getBytes) &&
            substring(col("bytes"), 9, 4) === lit("WEBP".getBytes)) ||
          magic(2) === lit(Array(0xff.toByte, 0xd8.toByte)), "image")
        .when((magic(4) === lit("RIFF".getBytes) &&
            substring(col("bytes"), 9, 4) === lit("WAVE".getBytes)) ||
          magic(4) === lit("fLaC".getBytes) ||
          magic(4) === lit("OggS".getBytes) ||
          magic(3) === lit("ID3".getBytes) || mp3Sync, "audio")
        .when(magic(9) === lit("YUV4MPEG2".getBytes) ||
          substring(col("bytes"), 5, 4) === lit("ftyp".getBytes), "video")
        .otherwise("unknown").as("modality"))
  }

  /** The (media_id, thumb[, is_flat]) probe frame a fused-decode tagged
    * checkpoint yields — shared by the three round-20 call sites so the
    * orientation metadata and null-thumb filtering cannot drift. */
  private def taggedImageDec(tagged: DataFrame, oriented: Boolean,
      flatEps: Option[Double]): DataFrame = {
    val thumbCol =
      if (!oriented) col("thumb")
      else col("thumb").as("thumb",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putBoolean(ImageOrientedKey, true).build())
    val base = tagged.filter(col("modality") === "image" &&
        col("thumb").isNotNull)
      .select(col("media_id"), thumbCol)
    flatEps match {
      case Some(eps) => withImageQualitySignals(base, flatEps = eps)
        .select(col("media_id"), col("thumb"), col("is_flat"))
      case None => base
    }
  }

  /** [[routedMediaDedup]] over an already-classified (and checkpointed)
    * [[classifyMedia]] frame. ([[incrementalMediaDedup]] does NOT reuse
    * this body: it routes each cohort from a shared derived frame so the
    * against-index probe reads the same decode — see there.) A supplied
    * `imageDec` is used as is: the caller's `thumbSide`, `flatEps` and
    * `imageAutoOrient` must match the values the gate decoded with. */
  private def routedMediaDedupTagged(tagged: DataFrame, maxHamming: Int,
      maxBucketDf: Int, minMatchedFrames: Int, maxFrameDf: Int,
      thumbSide: Int, flatEps: Double, silenceFloor: Int,
      imageAhash: Boolean = false,
      imageAutoOrient: Boolean = false,
      imageDec: Option[DataFrame] = None): DataFrame = {
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select(col("media_id"), col("bytes"))
    // the four branches are independent (each reads only its cohort of
    // the checkpointed tagged frame) but their internal decode/
    // fingerprint checkpoints are EAGER jobs — overlap them (inParallel;
    // union order unchanged, results identical)
    val branches = inParallel(Seq(
      // a caller that already decoded the image cohort (the fused gate,
      // round 20) hands its (media_id, thumb, is_flat) frame in; the
      // standalone path decodes here, exactly as before
      () => (imageDec match {
          case Some(dec) => routedImageDedupDecoded(cohort("image"), dec,
            maxHamming, maxBucketDf, ahash = imageAhash)
          case None => routedImageDedup(cohort("image"), maxHamming,
            maxBucketDf, thumbSide, flatEps, imageAhash, imageAutoOrient)
        }).withColumn("modality", lit("image")),
      () => routedAudioDedup(cohort("audio"), maxHamming, maxBucketDf,
          silenceFloor)
        .withColumn("modality", lit("audio")),
      () => routedVideoDedup(cohort("video"), minMatchedFrames,
          maxFrameDf, thumbSide)
        .withColumn("modality", lit("video")),
      () => blobStarPairs(cohort("unknown") // checkpoints its own narrow frame
          .select(col("media_id").as("key"), col("bytes")))
        .select(col("id_a"), col("id_b"),
          lit("exact_blob").as("kind"), lit("unknown").as("modality"))))
    branches.reduce(_.unionByName(_))
  }

  /** FROZEN exact-blob index — the md5 analog of [[imageSignatureIndex]]
    * for the mixed-media stream/incremental paths: one row per distinct
    * blob content, `id` = the corpus's kept representative (min id, the
    * [[blobDupGroups]] survivor convention). A new blob byte-identical
    * to ANY corpus blob matches its representative with one equi-join on
    * the 16-byte content hash — no decode, no banding, any modality. */
  def blobMd5Index(media: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes"): DataFrame =
    media.select(md5(col(bytesCol)).as("blob_md5"),
        col(idCol).cast("long").as("id"))
      .groupBy(col("blob_md5")).agg(min(col("id")).as("id"))

  /** Match a MIXED media batch against FROZEN per-modality indexes —
    * the mixed-media streaming twin's per-micro-batch body
    * ([[graft.streaming.StreamSessions.streamingMediaNearDup]]):
    * magic-byte classification (one pass, checkpointed — five
    * consumers), each cohort through its modality's against-index body
    * ([[imageNearDupAgainstIndex]] / [[audioAgainstIndex]] /
    * [[videoAgainstIndex]] — the SAME per-modality bodies the
    * single-modality twins execute, and that [[incrementalMediaDedup]]
    * reaches through their shared-frame entry points, so stream and
    * batch matching cannot drift), plus an exact-blob leg
    * ([[blobsAgainstMd5Index]]): EVERY blob (any modality,
    * including unknown containers) md5-joins against the frozen
    * [[blobMd5Index]], so a byte-identical re-crawl of a corpus blob is
    * caught even when its container cannot be decoded. A pair can carry
    * two rows — `exact_blob` AND `perceptual` — when a byte-identical
    * copy also matches perceptually; the kinds are independent detectors
    * and the clustering consumers dedup edges anyway. Returns
    * (media_id, match_id ∈ index, kind, modality). Takes batch frames
    * (the streaming twin applies it per micro-batch via foreachBatch —
    * checkpoints are batch-only plumbing). */
  def mediaAgainstIndexes(media: DataFrame, imageIndex: DataFrame,
      audioIndex: DataFrame, videoIndex: DataFrame, blobIndex: DataFrame,
      maxHamming: Int = 3, minMatchedFrames: Int = 2,
      thumbSide: Int = 8): DataFrame =
    // round 20 note: fusing the image decode into the classify pass was
    // measured here too and REVERTED on review — the −0.12 s delta was
    // inside this box's ambient spread, while the fused mapPartitions
    // walk pays a JVM tuple encoder roundtrip for EVERY row (audio,
    // video, unknown) that the native-column classifyMedia checkpoint
    // avoids. The gated twin keeps its fusion (mediaMetaGateDecoding):
    // there the gate already runs a per-row JVM walk, so the decode
    // rides an existing deserialization, and the A/B win was real.
    mediaAgainstIndexesTagged(classifyMedia(media).localCheckpoint(),
      imageIndex, audioIndex, videoIndex, blobIndex, maxHamming,
      minMatchedFrames, thumbSide)

  private def mediaAgainstIndexesTagged(tagged: DataFrame,
      imageIndex: DataFrame, audioIndex: DataFrame, videoIndex: DataFrame,
      blobIndex: DataFrame, maxHamming: Int, minMatchedFrames: Int,
      thumbSide: Int, imageDec: Option[DataFrame] = None): DataFrame = {
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select(col("media_id"), col("bytes"))
    // a caller that already decoded the image cohort (the fused gate,
    // round 20) hands its (media_id, thumb) frame in; the standalone
    // path decodes here, exactly as before
    val img = imageDec.map(decodedAgainstIndex(_, imageIndex, maxHamming))
      .getOrElse(imageNearDupAgainstIndex(cohort("image"), imageIndex,
        maxHamming, thumbSide))
      .select(col("media_id"), col("match_id"),
        lit("perceptual").as("kind"), lit("image").as("modality"))
    val aud = audioAgainstIndex(cohort("audio"), audioIndex, maxHamming)
      .select(col("media_id"), col("match_id"),
        lit("perceptual").as("kind"), lit("audio").as("modality"))
    val vid = videoAgainstIndex(cohort("video"), videoIndex,
        minMatchedFrames, thumbSide)
      .select(col("media_id"), col("match_id"),
        lit("perceptual").as("kind"), lit("video").as("modality"))
    val exact = blobsAgainstMd5Index(tagged, blobIndex)
    img.unionByName(aud).unionByName(vid).unionByName(exact)
  }

  /** GATED against-index matching (round 18) — the streaming twin's
    * per-micro-batch body and [[gatedMediaDedup]]'s against-corpus
    * sibling: ONE [[mediaMetaGate]] header walk classifies and gates
    * the batch, the KEPT cohort runs the full per-modality
    * against-index body (the same tagged body
    * [[mediaAgainstIndexes]] executes — stream and batch matching
    * cannot drift), and GATED-OUT blobs run only the decodeless
    * exact-blob leg against the frozen [[blobMd5Index]] (a truncated
    * download or cost bomb still catches its byte-identical corpus
    * twin; it just never costs a decode — accumulator-auditable).
    * Returns (media_id, match_id, kind, modality). */
  def gatedMediaAgainstIndexes(media: DataFrame, imageIndex: DataFrame,
      audioIndex: DataFrame, videoIndex: DataFrame, blobIndex: DataFrame,
      minSide: Int = 8, maxPixels: Long = 100000000L,
      minDurationMs: Long = 0L, maxDurationMs: Long = Long.MaxValue,
      maxHamming: Int = 3, minMatchedFrames: Int = 2,
      thumbSide: Int = 8): DataFrame = {
    // one pass feeds everything (round 20, the gatedMediaDedup seam):
    // the gate walk also decodes the kept image cohort's thumbs, so the
    // per-micro-batch body reads each image payload once, not once for
    // the gate and again for the probe decode. Orientation follows the
    // frozen index convention exactly like imageNearDupAgainstIndex.
    val oriented = indexIsOriented(imageIndex)
    val gated = mediaMetaGateDecoding(media, minSide, maxPixels,
      minDurationMs, maxDurationMs, thumbSide, autoOrient = oriented)
      .localCheckpoint()
    val kept = gated.filter(col("gate") === "kept")
      .select(col("media_id"), col("bytes"), col("modality"))
    val keptImageDec = taggedImageDec(gated.filter(col("gate") === "kept"),
      oriented, None)
    val dropped = gated.filter(col("gate") =!= "kept")
      .select(col("media_id"), col("bytes"), col("modality"))
    mediaAgainstIndexesTagged(kept, imageIndex, audioIndex, videoIndex,
        blobIndex, maxHamming, minMatchedFrames, thumbSide,
        imageDec = Some(keptImageDec))
      .unionByName(blobsAgainstMd5Index(dropped, blobIndex))
  }

  /** The exact-blob against-index leg shared by
    * [[mediaAgainstIndexes]] and [[incrementalMediaDedup]]: every tagged
    * blob (any modality, including unknown containers) md5-joins against
    * the frozen [[blobMd5Index]]. Self-filters: when the batch overlaps
    * the frozen corpus, a blob must not report ITSELF as its own
    * duplicate. Returns (media_id, match_id, kind='exact_blob',
    * modality). */
  private def blobsAgainstMd5Index(tagged: DataFrame,
      blobIndex: DataFrame): DataFrame =
    tagged.withColumn("_md5", md5(col("bytes")))
      .join(blobIndex, col("_md5") === col("blob_md5"))
      .filter(col("media_id").cast("long") =!= col("id"))
      .select(col("media_id").cast("long").as("media_id"),
        col("id").as("match_id"),
        lit("exact_blob").as("kind"), col("modality"))

  /** Incremental MIXED-MODALITY dedup — [[routedMediaDedup]]'s
    * batch-vs-frozen-corpus contract, completing the family: pairs
    * WITHIN the new batch (the full degenerate-aware routing — flats,
    * silents, stop-frame-only clips, corrupt payloads, and unknown
    * containers all keep their exact duplicates) plus new-batch blobs
    * matched against the
    * FROZEN per-modality indexes and the frozen [[blobMd5Index]], never
    * a corpus self-join. The batch is classified ONCE (every cohort
    * filter reads the checkpointed tagged frame), and each cohort's
    * expensive derived frame — decoded image thumbs, audio fingerprints,
    * video frame-hash sets — is computed ONCE and shared by BOTH legs
    * (the within-batch routing and the against-index probe read the same
    * checkpoint; the incrementalImageNearDup decode discipline, applied
    * per modality). Returns (id_a, id_b, kind, modality, side ∈
    * {'batch', 'corpus'}) — for 'corpus' rows id_a is the index
    * member. */
  def incrementalMediaDedup(newMedia: DataFrame, imageIndex: DataFrame,
      audioIndex: DataFrame, videoIndex: DataFrame, blobIndex: DataFrame,
      maxHamming: Int = 3, maxBucketDf: Int = 1000,
      minMatchedFrames: Int = 2, maxFrameDf: Int = 1000,
      thumbSide: Int = 8, flatEps: Double = 1e-9,
      silenceFloor: Int = 0): DataFrame = {
    // round 20 note: the classify+decode fusion was measured and
    // REVERTED here too — the image decode below already overlaps the
    // audio/video legs (inParallel); see routedMediaDedup
    val tagged = classifyMedia(newMedia).localCheckpoint()
    def cohort(m: String) = tagged.filter(col("modality") === m)
      .select(col("media_id"), col("bytes"))

    // the four modality legs are independent; each interleaves eager
    // checkpoint jobs (decoded thumbs / fingerprints / frame-hash sets,
    // star-pair hash frames) — overlap their construction (inParallel;
    // same frames, same union order, identical results)
    val legs = inParallel[(DataFrame, Option[DataFrame])](Seq(
      () => {
        // image: decode once — flats route to exact blob dedup within
        // the batch; every thumb (flat or not) probes the frozen index.
        // The within-batch pairing hashes with the INDEX's frozen
        // family AND orientation convention (both derive from the index
        // metadata) so one result frame never mixes two similarity
        // definitions.
        val img = cohort("image")
        val imgDec = withImageQualitySignals(
          decodeAnyImages(img, thumbSide,
            autoOrient = indexIsOriented(imageIndex)), flatEps = flatEps)
          .select(col("media_id"), col("thumb"), col("is_flat"))
          .localCheckpoint()
        val imgWithin = routedImageDedupDecoded(img, imgDec, maxHamming,
            maxBucketDf, ahash = indexHashIsAhash(imageIndex))
          .withColumn("modality", lit("image"))
        val imgVs = decodedAgainstIndex(imgDec, imageIndex, maxHamming)
          .select(col("media_id"), col("match_id"),
            lit("perceptual").as("kind"), lit("image").as("modality"))
        (imgWithin, Some(imgVs))
      },
      () => {
        // audio: fingerprint once (the probe needs every clip; the
        // within leg filters the shared frame to audible)
        val aud = cohort("audio")
        val audFp = audioFingerprints(aud).localCheckpoint()
        val audWithin = routedAudioDedupFromFp(aud, audFp, maxHamming,
            maxBucketDf, silenceFloor)
          .withColumn("modality", lit("audio"))
        val audVs = audioAgainstIndexFromFp(audFp, audioIndex, maxHamming)
          .select(col("media_id"), col("match_id"),
            lit("perceptual").as("kind"), lit("audio").as("modality"))
        (audWithin, Some(audVs))
      },
      () => {
        // video: frame-hash once. The within-batch leg adopts the
        // INDEX's frozen frame-hash radius (the image cohort's ahash
        // discipline) — one result frame never mixes two similarity
        // definitions.
        val vid = cohort("video")
        val vidSets = videoFrameHashSets(vid, thumbSide).localCheckpoint()
        val vidWithin = routedVideoDedupFromSets(vid, vidSets,
            minMatchedFrames, maxFrameDf,
            maxFrameHamming = indexFrameHamming(videoIndex),
            maxBucketDf = maxBucketDf)
          .withColumn("modality", lit("video"))
        val vidVs = videoAgainstIndexFromSets(vidSets, videoIndex,
            minMatchedFrames)
          .select(col("media_id"), col("match_id"),
            lit("perceptual").as("kind"), lit("video").as("modality"))
        (vidWithin, Some(vidVs))
      },
      () => {
        // unknown containers: exact star pairs within the batch
        // (blobStarPairs checkpoints its own narrow (key, md5) frame)
        val unkWithin = blobStarPairs(cohort("unknown")
            .select(col("media_id").as("key"), col("bytes")))
          .select(col("id_a"), col("id_b"),
            lit("exact_blob").as("kind"), lit("unknown").as("modality"))
        (unkWithin, None)
      }))
    val Seq(imgVs, audVs, vidVs) = legs.flatMap(_._2)

    val within = legs.map(_._1).reduce(_.unionByName(_))
      .select(col("id_a"), col("id_b"), col("kind"), col("modality"),
        lit("batch").as("side"))
    // the exact-blob leg needs no decode — one md5 equi-join over every
    // tagged blob, any modality
    val vsCorpus = imgVs.unionByName(audVs).unionByName(vidVs)
      .unionByName(blobsAgainstMd5Index(tagged, blobIndex))
      .select(col("match_id").as("id_a"), col("media_id").as("id_b"),
        col("kind"), col("modality"), lit("corpus").as("side"))
    within.unionByName(vsCorpus)
  }

  // ---- perceptual audio dedup (round 13) ----

  /** Haitsma-Kalker-style audio fingerprint (the PRH "robust hash" of
    * ISMIR'02, public literature): decode via [[decodePcm16]] (WAV or
    * FLAC), normalize to the ONE internal rate
    * ([[AudioFp.IndexRate]] — round 19, so a resample of the same
    * clip frames identically instead of never pairing), then frame
    * the PCM (256-sample windows,
    * 128 hop), per frame measure energy at `bands + 1` Goertzel bins,
    * and set frame-word bit b when the band-energy DIFFERENCE
    * (E(f,b) − E(f,b+1)) GREW since the previous frame — sign-of-change
    * bits, so the fingerprint is EXACTLY invariant to amplitude scaling
    * by powers of two (every intermediate double scales by an exact
    * power of four; signs cannot move) and robust to gentle gain
    * changes generally. The per-audio 64-bit signature SimHash-folds the
    * frame words (splitmix-hashed, ±1 votes per bit), so near-identical
    * audio lands within a small Hamming distance and the text/image
    * band-blocking machinery applies unchanged. Returns one row per
    * decodable audio: (media_id, fp, words, peak). `peak` (max |sample|,
    * the [[withAudioQualitySignals]] silence measure) rides along so the
    * routed/incremental paths read the silence predicate off THIS frame
    * instead of decoding the PCM a second time; clips at or below
    * `skipGoertzelBelowPeak` skip the Goertzel stage entirely (empty
    * words, fp = 0 — callers that route silent clips to exact dedup
    * never read their fingerprints; the default never skips). */
  def audioFingerprints(media: DataFrame,
      skipMalformed: Boolean = true,
      skipGoertzelBelowPeak: Int = Int.MinValue): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // the audio twin of graft.image_decode_attempts: every blob
    // entering a PCM decode counts, so the cross-modality gate's
    // decode-only-the-kept claim is accumulator-provable per modality
    val attempts = spark.sparkContext
      .longAccumulator("graft.audio_decode_attempts")
    media.select(col("media_id"), col("bytes")).as[AudioRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          attempts.add(1)
          val (rate, samples) = decodePcm16(m.bytes)
          // peak over the NATIVE samples: silence is rate-independent
          // and the routed paths' silence predicate must judge the clip
          // as stored (linear resampling can only lower a peak)
          var peak = 0
          var i = 0
          while (i < samples.length) {
            val a = math.abs(samples(i).toInt)
            if (a > peak) peak = a
            i += 1
          }
          if (peak <= skipGoertzelBelowPeak)
            Iterator.single((m.media_id, 0L, Array.empty[Int], peak.toLong))
          else {
            // rate normalization (round 19): frame at the ONE frozen
            // internal rate, so a resample of the same clip — or a
            // 44.1 kHz FLAC against a 16 kHz WAV of one master —
            // lands on the same frame grid instead of never pairing
            // (the EXIF-rotation shape in audio). The convention is
            // frozen into every audioSignatureIndex (AudioRateKey);
            // cross-convention probes fail loud.
            val words = AudioFp.frameWords(
              AudioFp.resampleTo(samples, rate, AudioFp.IndexRate))
            Iterator.single((m.media_id, AudioFp.simhash(words), words,
              peak.toLong))
          }
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed audio for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "fp", "words", "peak")
  }

  private[graft] object AudioFp {
    final val Win = 256
    final val Hop = 128
    final val Bands = 17 // 16 difference bits per frame

    /** The ONE internal fingerprint rate (round 19): every clip is
      * linearly resampled here before framing, so the frame grid —
      * and therefore the fingerprint — is sample-rate-invariant.
      * 16 kHz keeps the Goertzel bins inside the speech/music band
      * and makes the dominant fixture rate an identity resample. */
    final val IndexRate = 16000

    /** Integer linear-interpolation resampler. Exact-identity cases
      * carry the fixture math: an integer DOWN-factor (32 k→16 k,
      * 48 k→16 k) lands every output on a source sample, so a clip
      * and its linear upsample normalize to IDENTICAL PCM — the
      * planted-exactness trick (the m_jpeg all-8s quant shape) that
      * lets DuckDB replay resampled-pair recall with equality, not
      * tolerance. All-integer arithmetic: deterministic everywhere. */
    def resampleTo(s: Array[Short], from: Int, to: Int): Array[Short] = {
      require(from > 0 && to > 0, s"rates $from -> $to")
      if (from == to || s.length == 0) return s
      val outN = ((s.length.toLong - 1) * to / from + 1).toInt
      val out = new Array[Short](outN)
      var t = 0
      while (t < outN) {
        val num = t.toLong * from
        val k = (num / to).toInt
        val fracNum = num % to
        val v =
          if (fracNum == 0 || k + 1 >= s.length) s(k).toInt
          else s(k) + ((s(k + 1) - s(k)).toLong * fracNum / to).toInt
        out(t) = v.toShort
        t += 1
      }
      out
    }

    /** Goertzel power at bin k of `x(off until off+Win)`. */
    private def goertzel(x: Array[Short], off: Int, k: Int): Double = {
      val w = 2.0 * math.Pi * k / Win
      val coeff = 2.0 * math.cos(w)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
      var i = 0
      while (i < Win) {
        s0 = x(off + i) + coeff * s1 - s2
        s2 = s1; s1 = s0
        i += 1
      }
      s1 * s1 + s2 * s2 - coeff * s1 * s2
    }

    /** One word per frame (after the first): bit b set when
      * (E(f,b) − E(f,b+1)) − (E(f−1,b) − E(f−1,b+1)) > 0. */
    def frameWords(samples: Array[Short]): Array[Int] = {
      if (samples.length < 2 * Win) return Array.empty
      val nFrames = (samples.length - Win) / Hop + 1
      val e = Array.ofDim[Double](nFrames, Bands)
      var f = 0
      while (f < nFrames) {
        var b = 0
        while (b < Bands) {
          e(f)(b) = goertzel(samples, f * Hop, 2 * (b + 1))
          b += 1
        }
        f += 1
      }
      val words = new Array[Int](nFrames - 1)
      f = 1
      while (f < nFrames) {
        var w = 0
        var b = 0
        while (b < Bands - 1) {
          val d = (e(f)(b) - e(f)(b + 1)) - (e(f - 1)(b) - e(f - 1)(b + 1))
          if (d > 0) w |= (1 << b)
          b += 1
        }
        words(f - 1) = w
        f += 1
      }
      words
    }

    private def mix(v: Long): Long = splitmix64(v)

    /** SimHash over the frame words: position-salted so word ORDER
      * matters (the same multiset in a different order is different
      * audio). */
    def simhash(words: Array[Int]): Long = {
      val counts = new Array[Int](64)
      var i = 0
      while (i < words.length) {
        val h = mix(words(i).toLong * 1000003L + i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** Perceptual near-duplicate audio pairs: [[audioFingerprints]], the
    * same Manku band-blocking as [[imageNearDupPairs]] (equi-join on
    * (band, bits), exact `bit_count` verify — never all-pairs), plus an
    * exact frame-word diff for the surviving pairs. Amplitude-scaled
    * copies land at Hamming 0; the audit column distinguishes "same
    * perception" from "same bytes" (callers compare blob hashes for
    * that — see the m_audio_dedup gate row). Same degenerate-bucket
    * guard as images: silence fingerprints collide, so a (band, bits)
    * bucket past `maxBucketDf` is dropped from candidate generation
    * (audit with [[degenerateHammingBuckets]]; route silent clips to
    * [[blobDupGroups]]). */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000): DataFrame =
    // localCheckpoint: four consumers (band self-join sides + two word
    // joins) — decode and fingerprint the audio ONCE
    audioNearDupPairsFromFp(audioFingerprints(media).localCheckpoint(),
      maxHamming, maxBucketDf)

  /** [[audioNearDupPairs]] from an ALREADY-COMPUTED (media_id, fp, words)
    * fingerprint frame (checkpointed by the caller): the incremental
    * paths fingerprint each clip once and feed both this within-batch
    * pairing and the against-index probe from the same frame. */
  private[graft] def audioNearDupPairsFromFp(fps: DataFrame,
      maxHamming: Int, maxBucketDf: Int): DataFrame = {
    hammingPairs64(fps.select(col("media_id").cast("long").as("id"),
        col("fp").as("sig")), maxHamming, maxBucketDf)
      .join(fps.select(col("media_id").as("_ia"), col("words").as("_wa")),
        col("id_a") === col("_ia"))
      .join(fps.select(col("media_id").as("_ib"), col("words").as("_wb")),
        col("id_b") === col("_ib"))
      .withColumn("n_diff_words",
        when(size(col("_wa")) =!= size(col("_wb")), lit(-1L))
          .otherwise(size(filter(zip_with(col("_wa"), col("_wb"),
            (x, y) => x =!= y), d => d)).cast("long")))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"), col("n_diff_words"))
  }

  /** The `maxHamming + 1` contiguous-band explode shared by the Hamming
    * blocking, its degenerate-bucket audit, and the streaming twin's
    * frozen index: requires a `sig` column, preserves every input
    * column, appends (band, bits) — one row per input row per band. */
  private[graft] def hammingBands64(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0,15], got $maxHamming")
    val nb = maxHamming + 1
    val w = 64 / nb
    val bandCols = (0 until nb).map { b =>
      val width = if (b == nb - 1) 64 - w * b else w
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bits"))
    }
    sig
      .withColumn("bb", explode(array(bandCols: _*)))
      .withColumn("band", col("bb.band"))
      .withColumn("bits", col("bb.bits"))
      .drop("bb")
  }

  /** Column-metadata key recording which 64-bit hash family an
    * [[imageSignatureIndex]] froze with — the probe side derives its
    * hash from this, so index and probe can never disagree. */
  private[graft] final val ImageHashKindKey = "graft.image_hash"

  /** The hash family a frozen [[imageSignatureIndex]] was built with,
    * read from its `sig` column metadata. An index built before the
    * metadata existed reads as dHash (the only family old probe code
    * ever applied); an unrecognized kind fails loud rather than
    * silently returning zero matches. */
  private[graft] def indexHashIsAhash(index: DataFrame): Boolean = {
    val md = index.schema("sig").metadata
    val kind =
      if (md.contains(ImageHashKindKey)) md.getString(ImageHashKindKey)
      else "dhash"
    kind match {
      case "dhash" => false
      case "ahash" => true
      case other => throw new IllegalArgumentException(
        s"image signature index records unknown hash kind '$other' — " +
          "expected 'dhash' or 'ahash'; rebuild the index with " +
          "imageSignatureIndex")
    }
  }

  /** Whether a frozen [[imageSignatureIndex]] was built over
    * EXIF-orientation-normalized thumbs, read from its `sig` column
    * metadata (pre-r17 indexes read as raw — the only convention old
    * code ever froze). The probe side derives its decode convention
    * from this, like the hash family. */
  private[graft] def indexIsOriented(index: DataFrame): Boolean = {
    val md = index.schema("sig").metadata
    md.contains(ImageOrientedKey) && md.getBoolean(ImageOrientedKey)
  }

  /** The shared degenerate-bucket guard: anti-join the heavy
    * (band, bits) buckets out of a [[hammingBands64]] frame, and make
    * the drop LOUD — each dropped bucket feeds two named Spark
    * accumulators (`graft.dropped_hamming_buckets` /
    * `graft.dropped_hamming_signatures`, visible in the UI next to the
    * stage that built the broadcast) and each task holding dropped
    * buckets logs one WARN line with the bucket count, signature
    * volume, and cap, so a legitimate >cap near-dup cluster (a popular
    * re-encoded photo at crawl scale) can never vanish silently.
    * Counts are at-least-once (task retries or a non-reused broadcast
    * build may double-count) — they are a signal; the exact audit is
    * [[degenerateHammingBuckets]], which runs the same explode+count.
    * The heavy frame is ≤ n/cap distinct keys by construction —
    * broadcast-safe — and the signal rides that tiny build, never the
    * hot path. */
  private def dropHeavyBuckets(bands: DataFrame, maxBucketDf: Int,
      context: String): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    val nBuckets = spark.sparkContext.longAccumulator(
      s"graft.dropped_hamming_buckets ($context)")
    val nSigs = spark.sparkContext.longAccumulator(
      s"graft.dropped_hamming_signatures ($context)")
    val heavy = bands.groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxBucketDf)
      .select(col("band").cast("int").as("band"), col("bits"),
        col("_df"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        var nb = 0L
        var ns = 0L
        val counted = it.map { r =>
          nb += 1; ns += r._3
          nBuckets.add(1); nSigs.add(r._3)
          r
        }
        // log ONE WARN per task holding drops, after its rows drain
        new Iterator[(Int, Long, Long)] {
          override def hasNext: Boolean = {
            val h = counted.hasNext
            if (!h && nb > 0) {
              org.slf4j.LoggerFactory.getLogger("graft.ops.Multimodal")
                .warn(s"hamming bucket guard ($context): dropped $nb " +
                  s"degenerate (band, bits) buckets holding $ns " +
                  s"signatures (cap $maxBucketDf) — audit with " +
                  "degenerateHammingBuckets; route flat/silent cohorts " +
                  "through the routed*Dedup exact-blob branch")
              nb = 0
            }
            h
          }
          override def next(): (Int, Long, Long) = counted.next()
        }
      }
      .toDF("band", "bits", "_df")
      .select(col("band"), col("bits"))
    bands.join(broadcast(heavy), Seq("band", "bits"), "left_anti")
  }

  /** The degenerate (band, bits) buckets [[hammingPairs64]] DROPS at the
    * given cap — the loud side of the guard. One row per dropped bucket
    * with its item count (`bucket_df`). Empty ⇒ the pair list is the
    * full pigeonhole-guaranteed candidate set; nonempty ⇒ `bucket_df`
    * items' worth of flat media (dHash 0 rasters, silence) were excluded
    * from perceptual pairing in that band and belong in exact blob dedup.
    * Runs the same explode + count the guard runs — audit and guard can
    * never disagree. */
  def degenerateHammingBuckets(sig: DataFrame, maxHamming: Int,
      maxBucketDf: Int = 1000): DataFrame =
    hammingBands64(sig, maxHamming)
      .groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("bucket_df"))
      .filter(col("bucket_df") > maxBucketDf)

  /** FROZEN perceptual image index for the streaming twin — the
    * fit-once/apply-frozen convention ([[fitVocab]]-style): band-explode
    * the corpus signatures, remove degenerate buckets at `maxBucketDf`
    * (the guard freezes WITH the index, like a frozen quantizer), keep
    * the thumbnail for the exact channel verify. One row per surviving
    * (id, band): (band, bits, id, sig, thumb). Persist it / hand it to
    * [[graft.streaming.StreamSessions.streamingImageNearDup]] as the
    * static join side. */
  def imageSignatureIndex(decoded: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000, idCol: String = "media_id",
      thumbCol: String = "thumb", ahash: Boolean = false): DataFrame = {
    val hashed =
      if (ahash) graft.functions.GraftFunctions.ahash64(col("t"))
      else graft.functions.GraftFunctions.dhash64(col("t"))
    // the hash FAMILY freezes with the index (column metadata — survives
    // a parquet round-trip): the probe side derives its hash from this,
    // so an ahash index can never be silently probed with dhash (which
    // would return zero matches — different families never collide)
    // the orientation convention freezes alongside the hash family —
    // read from the decoded frame's thumb metadata, so an index built
    // over decodeAnyImages(autoOrient = true) output records it
    // without the builder having to thread a flag
    val kindMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(ImageHashKindKey, if (ahash) "ahash" else "dhash")
      .putBoolean(ImageOrientedKey, thumbsAreOriented(decoded, thumbCol))
      .build()
    val sig = decoded.select(col(idCol).cast("long").as("id"),
        col(thumbCol).as("t"))
      .select(col("id"), col("t").as("thumb"), hashed.as("sig"))
    val bands = hammingBands64(sig, maxHamming)
    dropHeavyBuckets(bands, maxBucketDf, "imageSignatureIndex")
      .select(col("band"), col("bits"), col("id"),
        col("sig").as("sig", kindMd), col("thumb"))
  }

  /** Match media against a FROZEN [[imageSignatureIndex]] — the shared
    * core of the streaming twin and the batch incremental path: decode
    * (per-partition projection), the index's FROZEN hash family (read
    * from its `sig` metadata — an ahash index is probed with ahash,
    * never silently dhash), band explode (thumbnail
    * and signature ride along), equi-join on (band, bits) against the
    * index, exact Hamming + channel-diff verify, one row per matched
    * pair. Every step is stream-legal (the one stateful op is the final
    * pair dedup, state bounded by matches), and on a batch frame the
    * same plan is an ordinary broadcast/shuffle join — one body, two
    * execution modes. Returns (media_id, match_id, hamming, n_diff_ch). */
  def imageNearDupAgainstIndex(media: DataFrame, index: DataFrame,
      maxHamming: Int = 3, thumbSide: Int = 8): DataFrame =
    // BOTH frozen conventions — hash family and orientation — derive
    // from the index metadata, so probe and index can never disagree
    decodedAgainstIndex(decodeAnyImages(media, thumbSide,
      autoOrient = indexIsOriented(index)), index, maxHamming)

  /** [[imageNearDupAgainstIndex]] from ALREADY-DECODED (media_id, thumb)
    * frames — the batch incremental path decodes once and feeds both its
    * within-batch pairing and this join from the same checkpoint. */
  private def decodedAgainstIndex(dec: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame = {
    // an ALREADY-decoded probe frame must carry the index's frozen
    // orientation convention — a mismatch would silently zero the
    // rotated-re-save matches (or manufacture raw-vs-oriented misses),
    // so it fails loud like an unknown hash family
    if (thumbsAreOriented(dec) != indexIsOriented(index))
      throw new IllegalArgumentException(
        s"orientation convention mismatch: probe thumbs are " +
          s"${if (thumbsAreOriented(dec)) "EXIF-normalized" else "raw"} but " +
          s"the index froze ${if (indexIsOriented(index)) "EXIF-normalized"
            else "raw"} — decode the probe batch with autoOrient = " +
          "indexIsOriented(index)")
    // probe with the family the INDEX froze with (its sig metadata) —
    // index and probe can never disagree, and an index recording an
    // unknown family fails loud here instead of returning zero matches
    val probeHash =
      if (indexHashIsAhash(index))
        graft.functions.GraftFunctions.ahash64(col("thumb"))
      else graft.functions.GraftFunctions.dhash64(col("thumb"))
    val sig = dec.select(col("media_id").cast("long").as("sid"),
      col("thumb").as("s_t"), probeHash.as("sig"))
    val sBands = hammingBands64(sig, maxHamming)
      .select(col("sid"), col("s_t"), col("sig").as("s_sig"),
        col("band"), col("bits"))
    val idx = index.select(col("band"), col("bits"), col("id").as("_iid"),
      col("sig").as("i_sig"), col("thumb").as("i_t"))
    sBands.join(idx, Seq("band", "bits"))
      .withColumn("hamming", bit_count(col("s_sig").bitwiseXOR(col("i_sig"))))
      .filter(col("hamming") <= maxHamming)
      .withColumn("n_diff_ch", size(filter(
        zip_with(col("s_t"), col("i_t"), (x, y) => abs(x - y)),
        d => d > lit(1.0 / 255 / 2))))
      .select(col("sid").as("media_id"), col("_iid").as("match_id"),
        col("hamming").cast("long").as("hamming"),
        col("n_diff_ch").cast("long").as("n_diff_ch"))
      .dropDuplicates("media_id", "match_id")
  }

  /** Incremental perceptual image dedup — the media analog of
    * [[Dedup.incrementalDedup]]'s batch-vs-corpus contract: pairs WITHIN
    * the new batch plus new-batch members matched against the FROZEN
    * corpus index, never a corpus self-join (the corpus was deduped when
    * the index froze; re-pairing it is the quadratic bill incremental
    * ingest exists to avoid). Returns (id_a, id_b, n_diff_ch, side ∈
    * {'batch', 'corpus'}) — for 'corpus' rows id_a is the index member. */
  def incrementalImageNearDup(newMedia: DataFrame, index: DataFrame,
      maxHamming: Int = 3, maxBucketDf: Int = 1000,
      thumbSide: Int = 8): DataFrame = {
    // decode the new batch ONCE: both the within-batch pairing and the
    // against-index join read the checkpoint. BOTH frozen conventions
    // — hash family and EXIF orientation — derive from the index, so
    // the within-batch pairs use the same similarity definition as the
    // corpus matches and a rotated re-save matches an oriented corpus
    // seamlessly (the imageNearDupAgainstIndex contract; an explicitly
    // pre-decoded mismatched probe still fails loud downstream)
    val dec = decodeAnyImages(newMedia, thumbSide,
        autoOrient = indexIsOriented(index))
      .select(col("media_id"), col("thumb")).localCheckpoint()
    val within = imageNearDupPairs(dec, maxHamming,
        ahash = indexHashIsAhash(index), maxBucketDf = maxBucketDf)
      .select(col("id_a"), col("id_b"), col("n_diff_ch"),
        lit("batch").as("side"))
    val vsCorpus = decodedAgainstIndex(dec, index, maxHamming)
      .select(col("match_id").as("id_a"), col("media_id").as("id_b"),
        col("n_diff_ch"), lit("corpus").as("side"))
    within.unionByName(vsCorpus)
  }

  /** Column-metadata key freezing the internal fingerprint rate an
    * [[audioSignatureIndex]] was built at — the audio twin of
    * [[ImageHashKindKey]]/[[ImageOrientedKey]]: the probe side reads
    * it and REFUSES a cross-convention match (a rate-normalized probe
    * against a raw-framed index would silently return zero matches
    * for every non-16 kHz clip). */
  private[graft] final val AudioRateKey = "graft.audio_rate"

  /** The internal rate a frozen [[audioSignatureIndex]] framed at. An
    * index built before the metadata existed reads as
    * [[AudioFp.IndexRate]] — the only corpora old code froze were
    * 16 kHz, where raw framing and 16 kHz normalization coincide. */
  private[graft] def indexAudioRate(index: DataFrame): Int = {
    val md = index.schema("sig").metadata
    if (md.contains(AudioRateKey)) md.getLong(AudioRateKey).toInt
    else AudioFp.IndexRate
  }

  /** FROZEN perceptual audio index — [[imageSignatureIndex]]'s audio
    * twin over [[audioFingerprints]]: (band, bits, id, sig, words),
    * degenerate buckets removed at freeze time, the internal
    * fingerprint rate frozen into the `sig` column metadata
    * ([[AudioRateKey]]). */
  def audioSignatureIndex(media: DataFrame, maxHamming: Int = 3,
      maxBucketDf: Int = 1000): DataFrame = {
    val rateMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(AudioRateKey, AudioFp.IndexRate.toLong).build()
    val sig = audioFingerprints(media)
      .select(col("media_id").cast("long").as("id"),
        col("fp").as("sig"), col("words"))
    val bands = hammingBands64(sig, maxHamming)
    dropHeavyBuckets(bands, maxBucketDf, "audioSignatureIndex")
      .select(col("band"), col("bits"), col("id"),
        col("sig").as("sig", rateMd), col("words"))
  }

  /** Match audio against a FROZEN [[audioSignatureIndex]] — the shared
    * core of the streaming audio twin and the batch incremental path
    * (one body, so stream and batch matching can never drift): stateless
    * fingerprint projection, band explode, equi-join on (band, bits),
    * exact Hamming + frame-word verifies; the one stateful op on a
    * stream is the final pair dedup (state = matched pairs). Returns
    * (media_id, match_id, hamming, n_diff_words — −1 when the word
    * streams differ in length). */
  def audioAgainstIndex(media: DataFrame, index: DataFrame,
      maxHamming: Int = 3): DataFrame =
    audioAgainstIndexFromFp(audioFingerprints(media), index, maxHamming)

  /** [[audioAgainstIndex]] from an ALREADY-COMPUTED fingerprint frame —
    * the incremental paths' shared-fingerprint entry point. Fails
    * LOUD when the index froze a different internal rate than this
    * build fingerprints at (the indexHashIsAhash discipline: a silent
    * cross-convention probe would just return zero matches). */
  private[graft] def audioAgainstIndexFromFp(fps: DataFrame,
      index: DataFrame, maxHamming: Int): DataFrame = {
    val idxRate = indexAudioRate(index)
    if (idxRate != AudioFp.IndexRate)
      throw new IllegalArgumentException(
        s"audio signature index frozen at internal rate $idxRate, " +
          s"this build fingerprints at ${AudioFp.IndexRate} — rebuild " +
          "the index with audioSignatureIndex")
    val sig = fps
      .select(col("media_id").cast("long").as("sid"),
        col("fp").as("sig"), col("words").as("s_w"))
    val sBands = hammingBands64(sig, maxHamming)
      .select(col("sid"), col("s_w"), col("sig").as("s_sig"),
        col("band"), col("bits"))
    val idx = index.select(col("band"), col("bits"), col("id").as("_iid"),
      col("sig").as("i_sig"), col("words").as("i_w"))
    sBands.join(idx, Seq("band", "bits"))
      .withColumn("hamming", bit_count(col("s_sig").bitwiseXOR(col("i_sig"))))
      .filter(col("hamming") <= maxHamming)
      .withColumn("n_diff_words",
        when(size(col("s_w")) =!= size(col("i_w")), lit(-1L))
          .otherwise(size(filter(zip_with(col("s_w"), col("i_w"),
            (x, y) => x =!= y), d => d)).cast("long")))
      .select(col("sid").as("media_id"), col("_iid").as("match_id"),
        col("hamming").cast("long").as("hamming"), col("n_diff_words"))
      .dropDuplicates("media_id", "match_id")
  }

  /** Incremental perceptual AUDIO dedup — [[incrementalImageNearDup]]'s
    * audio sibling (batch-vs-frozen-corpus): pairs WITHIN the new batch
    * plus new-batch clips matched against the FROZEN
    * [[audioSignatureIndex]], never a corpus self-join. Returns
    * (id_a, id_b, hamming, side ∈ {'batch', 'corpus'}) — for 'corpus'
    * rows id_a is the index member. */
  def incrementalAudioNearDup(newMedia: DataFrame, index: DataFrame,
      maxHamming: Int = 3, maxBucketDf: Int = 1000): DataFrame = {
    // fingerprint the new batch ONCE: both the within-batch pairing and
    // the against-index probe read the checkpoint (the
    // incrementalImageNearDup decode discipline)
    val fps = audioFingerprints(newMedia).localCheckpoint()
    val within = audioNearDupPairsFromFp(fps, maxHamming, maxBucketDf)
      .select(col("id_a"), col("id_b"), col("hamming"),
        lit("batch").as("side"))
    val vsCorpus = audioAgainstIndexFromFp(fps, index, maxHamming)
      .select(col("match_id").as("id_a"), col("media_id").as("id_b"),
        col("hamming"), lit("corpus").as("side"))
    within.unionByName(vsCorpus)
  }

  /** The shared Hamming-LSH block: `maxHamming + 1` contiguous bands of
    * a 64-bit signature, equi-join candidates, exact bit_count verify.
    * Input (id, sig); output (id_a, id_b, hamming), id_a < id_b.
    *
    * Degenerate-bucket guard: the band self-join is quadratic within a
    * (band, bits) bucket, and flat media collapse whole corpora into one
    * bucket (dHash of any constant raster is 0). Buckets holding more
    * than `maxBucketDf` signatures are REMOVED from both join sides via
    * a broadcast anti-join (heavy buckets are ≤ n/cap distinct keys — a
    * tiny frame by construction), bounding any bucket's pair fan-out at
    * `maxBucketDf`². The pigeonhole recall guarantee then holds for any
    * pair with at least one surviving shared band; pairs ONLY sharing
    * degenerate buckets are deliberately not perceptual-pair material —
    * [[degenerateHammingBuckets]] reports exactly what was dropped. */
  private[graft] def hammingPairs64(sig: DataFrame, maxHamming: Int,
      maxBucketDf: Int = 1000): DataFrame = {
    require(maxBucketDf > 0, s"maxBucketDf must be positive, got $maxBucketDf")
    val spark = sig.sparkSession
    import spark.implicits._
    // Round 19 (optimization): the former shape was a bucket census
    // (groupBy count → broadcast anti-join) followed by a band SELF-JOIN
    // and a pair distinct — the banded signature table crossed an
    // exchange three times (census keys, join side, pair dedup) plus a
    // broadcast barrier. Pairs within a (band, bits) bucket only need
    // the bucket's own rows, so ONE groupByKey shuffle of the banded
    // rows now both enforces the degenerate-bucket cap (buffer at most
    // `maxBucketDf` rows; an over-cap bucket drains without buffering
    // and is dropped — identical whale-safety, same loud accumulators)
    // and emits the exact-verified pairs in-task. Guide §2.4 (remove
    // shuffles) + §2.3 (shuffle the banded frame once). The pair set is
    // IDENTICAL: every ordered row pair of a surviving bucket, bit_count
    // ≤ maxHamming, deduped across bands by the final distinct — the
    // same set the join + distinct produced (OpsSpec pins equality with
    // brute force at every radius).
    val nBuckets = spark.sparkContext.longAccumulator(
      "graft.dropped_hamming_buckets (hammingPairs64)")
    val nSigs = spark.sparkContext.longAccumulator(
      "graft.dropped_hamming_signatures (hammingPairs64)")
    val cap = maxBucketDf
    val mh = maxHamming
    hammingBands64(sig, maxHamming)
      .select(col("band").cast("int").as("band"), col("bits"),
        col("id").cast("long").as("id"), col("sig"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        // buffers grow geometrically to the OBSERVED bucket size (capped
        // at maxBucketDf) and the pair loop is a LAZY iterator — a
        // near-cap bucket never materializes its C(m,2) pairs in memory,
        // and a caller-relaxed cap never pre-allocates cap-sized arrays
        // (r19 review finding)
        var ids = new Array[Long](math.min(cap, 16))
        var sigs = new Array[Long](math.min(cap, 16))
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (n < cap) {
            val i = n.toInt
            if (i == ids.length) {
              val g = math.min(cap.toLong, ids.length * 2L).toInt
              ids = java.util.Arrays.copyOf(ids, g)
              sigs = java.util.Arrays.copyOf(sigs, g)
            }
            ids(i) = r._3; sigs(i) = r._4
          }
          n += 1
        }
        if (n > cap) {
          nBuckets.add(1); nSigs.add(n)
          org.slf4j.LoggerFactory.getLogger("graft.ops.Multimodal")
            .warn(s"hamming bucket guard (hammingPairs64): dropped a " +
              s"degenerate (band, bits) bucket holding $n signatures " +
              s"(cap $cap) — audit with degenerateHammingBuckets; route " +
              "flat/silent cohorts through the routed*Dedup exact-blob " +
              "branch")
          Iterator.empty
        } else {
          val m = n.toInt
          val fIds = ids; val fSigs = sigs
          // hamming stays IntegerType — the exact schema the former
          // bit_count column had (downstream casts and the OpsSpec
          // brute-force oracle read it as int)
          (0 until m).iterator.flatMap { i =>
            (i + 1 until m).iterator.flatMap { j =>
              // the former join's a.id < b.id over every row pair
              val (la, sa, lb, sb) =
                if (fIds(i) < fIds(j)) (fIds(i), fSigs(i), fIds(j), fSigs(j))
                else (fIds(j), fSigs(j), fIds(i), fSigs(i))
              if (la != lb) {
                val h = java.lang.Long.bitCount(sa ^ sb)
                if (h <= mh) Iterator.single((la, lb, h)) else Iterator.empty
              } else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Planted-duplicate AUDIO fixture, the [[dedupImageMediaFromDocuments]]
    * convention: groups of four — m=0 a gid-seeded pseudo-random PCM
    * stream, m=1 an EXACT copy, m=2 the same stream at 2× amplitude
    * (different bytes, EXACTLY the same fingerprint — power-of-two
    * scaling cannot move a sign-of-change bit), m=3 independent. */
  def dedupAudioMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val seed = if (m == 3) gid * 7919L + 104729L else gid
      val n = 1024 + (gid % 4).toInt * 256
      val amp = if (m == 2) 2 else 1
      val samples = Array.tabulate(n) { i =>
        // smooth-ish pseudo-random walk, |s| <= 8000 so 2x never clips
        val r = (mix(seed * 131071L + i / 8) % 8000L).toInt
        (r * amp).toShort
      }
      (id, Wav.encode(16000, samples))
    }.toDF("media_id", "bytes")
  }

  /** Exact 2× linear-interpolation upsample (even outputs = the
    * source samples, odd = midpoints) — the planted-exactness shape:
    * [[AudioFp.resampleTo]] back to the source rate recovers the
    * source PCM bit-exactly, so resampled-pair recall is
    * equality-replayable. */
  private def upsample2x(s: Array[Short]): Array[Short] = {
    val out = new Array[Short](2 * s.length - 1)
    var i = 0
    while (i < s.length - 1) {
      out(2 * i) = s(i)
      out(2 * i + 1) = ((s(i) + s(i + 1)) / 2).toShort
      i += 1
    }
    out(2 * i) = s(i)
    out
  }

  /** Base PCM of transcode-dedup group `gid` — a [[dedupAudioMediaFromDocuments]]-shaped
    * smooth walk in a DISJOINT seed domain (double-mixed: the audio
    * fixture families share one pairing body, so their sample streams
    * must never collide byte-for-byte). */
  private def transcodePcm(gid: Long, independent: Boolean): Array[Short] = {
    val seed = splitmix64(splitmix64(gid) + (if (independent) 0xaceL else 0x51bL))
    val n = 1024 + (gid % 4).toInt * 256
    Array.tabulate(n)(i =>
      (splitmix64(seed + i / 8) % 8000L).toShort)
  }

  /** Planted WAV↔FLAC TRANSCODE fixture (round 19) — the recall hole
    * exact-blob matching structurally misses, in audio (the m_webp
    * re-encode shape): groups of four —
    * m=0 the WAV master (16 kHz mono), m=1 a FLAC transcode of the
    * SAME PCM (subframe mode varies by gid — not one byte survives
    * the container change, decode is identical), m=2 a FLAC of the
    * master's exact 2× linear upsample at 32 kHz (the real crawl
    * case: one master archived at two rates in two codecs — pairs
    * only because [[audioFingerprints]] rate-normalizes), m=3 an
    * independent FLAC at 16 kHz (the no-false-positive control). */
  def dedupTranscodeAudioFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      val bytes = m match {
        case 0 => Wav.encode(16000, transcodePcm(gid, independent = false))
        case 1 =>
          val s = transcodePcm(gid, independent = false)
          Flac.encodePcm(16000, 1, 16, s.map(_.toInt),
            blockSize = 256 + (gid % 3).toInt * 128,
            subframeMode = if (gid % 2 == 0) "auto" else "lpc",
            partOrder = (gid % 3).toInt)
        case 2 =>
          val up = upsample2x(transcodePcm(gid, independent = false))
          Flac.encodePcm(32000, 1, 16, up.map(_.toInt))
        case _ =>
          Flac.encodePcm(16000, 1, 16,
            transcodePcm(gid, independent = true).map(_.toInt))
      }
      (id, bytes)
    }.toDF("media_id", "bytes")
  }

  /** RESAMPLED-pair cohorts for the m_audio_dedup gate (round 19, the
    * perturbedVideoCohorts convention — extra members in an offset id
    * space): per group, 7000000+3·gid = a fresh 16 kHz master,
    * 7000000+3·gid+1 = the SAME clip at 32 kHz (exact 2× linear
    * upsample — different bytes, different rate, IDENTICAL normalized
    * PCM), 7000000+3·gid+2 = an INDEPENDENT 32 kHz control (same
    * rate as the resample; pairs with nothing — rate normalization
    * must not glue unrelated clips). */
  def resampledAudioCohortsFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].filter((id: Long) => id % 4 == 0L)
      .flatMap { id =>
        val gid = id / 4
        def pcm(ind: Boolean): Array[Short] = {
          val seed = splitmix64(splitmix64(gid * 2 + 1) +
            (if (ind) 0xbeefL else 0xf00dL))
          val n = 1024 + (gid % 4).toInt * 256
          Array.tabulate(n)(i => (splitmix64(seed + i / 8) % 8000L).toShort)
        }
        Iterator(
          (7000000L + 3 * gid, Wav.encode(16000, pcm(ind = false))),
          (7000000L + 3 * gid + 1,
            Wav.encode(32000, upsample2x(pcm(ind = false)))),
          (7000000L + 3 * gid + 2,
            Wav.encode(32000, upsample2x(pcm(ind = true)))))
      }.toDF("media_id", "bytes")
  }

  // ---- perceptual video dedup (round 13) ----

  /** Per-frame luma thumbnails from Y4M containers: one row per frame
    * with a `thumbSide`² nearest-neighbor GRAY thumbnail in the
    * [[decodeImages]] interleaved-RGB float layout (r = g = b = luma),
    * so [[graft.functions.ImageHash64]] applies to frames unchanged.
    * (Chroma is ignored: frame identity for dedup is a luma question.) */
  def decodeVideoThumbs(media: DataFrame, thumbSide: Int = 8,
      skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // the video twin of graft.image_decode_attempts (gate audit)
    val attempts = spark.sparkContext
      .longAccumulator("graft.video_decode_attempts")
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          attempts.add(1)
          val (w, h, _, frames) = Y4m.decode(m.bytes)
          frames.iterator.zipWithIndex.map { case (f, k) =>
            (m.media_id, k, lumaThumb(f, w, h, thumbSide))
          }
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed video for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "frame_idx", "thumb")
  }

  /** Gray `side`² thumbnail of one luma plane in the [[decodeImages]]
    * interleaved-RGB float layout (r = g = b = luma). */
  /** Nearest-neighbor RGB thumbnail as normalized floats — the
    * sampling arithmetic every frame-hash path must share (a rounding
    * tweak applied to one copy would silently drift GIF vs video
    * hashes). decodeImagesWith keeps its own FUSED loop (thumbnail +
    * exact channel sums in one pass over the raster) — fusion there is
    * measured hot-path structure, not drift risk, because its thumb
    * feeds the SAME ImageHash64 expression downstream. */
  private def rgbThumb(rgb: Array[Byte], w: Int, h: Int,
      thumbSide: Int): Array[Float] = {
    val thumb = new Array[Float](thumbSide * thumbSide * 3)
    var ty = 0
    while (ty < thumbSide) {
      var tx = 0
      while (tx < thumbSide) {
        val src = (((ty * h) / thumbSide) * w + (tx * w) / thumbSide) * 3
        val dst = (ty * thumbSide + tx) * 3
        thumb(dst) = (rgb(src) & 0xff) / 255.0f
        thumb(dst + 1) = (rgb(src + 1) & 0xff) / 255.0f
        thumb(dst + 2) = (rgb(src + 2) & 0xff) / 255.0f
        tx += 1
      }
      ty += 1
    }
    thumb
  }

  /** DISTINCT frame dHashes with each hash's FIRST frame index — the
    * in-task distinct + temporal anchor every frame-sequence hash path
    * shares (video and GIF must chain the SAME pos semantics into the
    * LIS score). */
  private def distinctFrameHashes(thumbs: Iterator[Array[Float]])
      : (Array[Long], Array[Int]) = {
    val firstAt = scala.collection.mutable.TreeMap.empty[Long, Int]
    var k = 0
    thumbs.foreach { t =>
      val fh = graft.functions.ImageHash64.computeFloats(t, dhash = true)
      if (!firstAt.contains(fh)) firstAt(fh) = k
      k += 1
    }
    (firstAt.keysIterator.toArray, firstAt.valuesIterator.toArray)
  }

  private def lumaThumb(f: Array[Byte], w: Int, h: Int,
      thumbSide: Int): Array[Float] = {
    val thumb = new Array[Float](thumbSide * thumbSide * 3)
    var ty = 0
    while (ty < thumbSide) {
      var tx = 0
      while (tx < thumbSide) {
        val sx = (tx * w) / thumbSide
        val sy = (ty * h) / thumbSide
        val y = (f(sy * w + sx) & 0xff) / 255.0f
        val dst = (ty * thumbSide + tx) * 3
        thumb(dst) = y; thumb(dst + 1) = y; thumb(dst + 2) = y
        tx += 1
      }
      ty += 1
    }
    thumb
  }

  /** Per-video DISTINCT frame dHashes as ONE stateless row per video:
    * (media_id, frame_hashes sorted array, frame_pos aligned array of
    * each hash's FIRST frame index — the temporal anchor the LIS
    * consistency score chains over). The streaming decode path —
    * a stream cannot run the batch side's `.distinct()` without
    * unbounded state, but every frame of a video arrives inside its one
    * blob, so the distinct is computed IN-TASK during the decode. The
    * hash routes through the same [[graft.functions.ImageHash64]]
    * compute as the batch plan's native expression, so stream and batch
    * frame hashes are identical by construction. */
  def videoFrameHashSets(media: DataFrame, thumbSide: Int = 8,
      skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // the video twin of graft.image_decode_attempts (gate audit)
    val attempts = spark.sparkContext
      .longAccumulator("graft.video_decode_attempts")
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          attempts.add(1)
          val (w, h, _, frames) = Y4m.decode(m.bytes)
          val (hashes, pos) = distinctFrameHashes(
            frames.iterator.map(f => lumaThumb(f, w, h, thumbSide)))
          Iterator.single((m.media_id, hashes, pos))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed video for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "frame_hashes", "frame_pos")
  }

  /** Per-animation DISTINCT frame dHashes — [[videoFrameHashSets]]'
    * GIF twin (round 17): an animated GIF is a frame sequence, so its
    * COMPOSITED frames (transparency and disposal already applied —
    * what a viewer actually shows, which is what a re-encode
    * preserves) ride the same banded frame matching, stop-frame
    * census, bucket guard, and LIS temporal score as real video
    * containers. Same output contract: (media_id, frame_hashes,
    * frame_pos), first-occurrence positions as the temporal anchor. */
  def gifFrameHashSets(media: DataFrame, thumbSide: Int = 8,
      skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (w, h, fs) = Gif.frames(m.bytes)
          val (hashes, pos) = distinctFrameHashes(
            fs.iterator.map { case (_, rgb) => rgbThumb(rgb, w, h, thumbSide) })
          Iterator.single((m.media_id, hashes, pos))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed gif for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "frame_hashes", "frame_pos")
  }

  /** Animated-GIF near-dup pairs — the image↔video bridge: a trimmed
    * or re-encoded animation shares composited frame hashes exactly as
    * a video clip shares frame hashes, so this DELEGATES to the same
    * banded matcher as [[videoNearDupPairs]] (one body — GIF and video
    * matching cannot drift): stop-frame census, guarded banding at
    * `maxFrameHamming`, exact verify, matched-frame rollup with the
    * `lis` temporal score and the `minLisFrac` keep policy. */
  def gifNearDupPairs(media: DataFrame, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000,
      minLisFrac: Double = 0.0): DataFrame =
    videoNearDupPairsFromSets(
      gifFrameHashSets(media, thumbSide).localCheckpoint(),
      minMatchedFrames, maxFrameDf, maxFrameHamming, maxBucketDf,
      minLisFrac)

  /** Per-APNG composited frame-hash sets — [[gifFrameHashSets]]' PNG
    * sibling over [[Png.frames]]; a plain PNG contributes its single
    * frame. */
  def apngFrameHashSets(media: DataFrame, thumbSide: Int = 8,
      skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (w, h, fs) = Png.frames(m.bytes)
          val (hashes, pos) = distinctFrameHashes(
            fs.iterator.map { case (_, rgb) => rgbThumb(rgb, w, h, thumbSide) })
          Iterator.single((m.media_id, hashes, pos))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed apng for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "frame_hashes", "frame_pos")
  }

  /** Animated-PNG near-dup pairs (round 18) — the image↔video bridge
    * extended to APNG: composited frame hashes ride the SAME banded
    * matcher as video clips and GIF animations (one body —
    * [[videoNearDupPairsFromSets]] — so the three cannot drift),
    * including the `minLisFrac` temporal keep policy that excludes a
    * frame-reversed collage. */
  def apngNearDupPairs(media: DataFrame, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000,
      minLisFrac: Double = 0.0): DataFrame =
    videoNearDupPairsFromSets(
      apngFrameHashSets(media, thumbSide).localCheckpoint(),
      minMatchedFrames, maxFrameDf, maxFrameHamming, maxBucketDf,
      minLisFrac)

  /** Per-animated-WebP composited frame-hash sets over
    * [[Webp.frames]] (VP8L frames through the from-spec codec); a
    * still WebP contributes its single frame. */
  def awebpFrameHashSets(media: DataFrame, thumbSide: Int = 8,
      skipMalformed: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[VideoRow].mapPartitions { it =>
      it.flatMap { m =>
        try {
          val (w, h, fs) = Webp.frames(m.bytes)
          val (hashes, pos) = distinctFrameHashes(
            fs.iterator.map { case (_, rgb) => rgbThumb(rgb, w, h, thumbSide) })
          Iterator.single((m.media_id, hashes, pos))
        } catch {
          case e: Exception if skipMalformed => Iterator.empty
          case e: Exception => throw new RuntimeException(
            s"malformed animated webp for media_id ${m.media_id}", e)
        }
      }
    }.toDF("media_id", "frame_hashes", "frame_pos")
  }

  /** Animated-WebP near-dup pairs (round 18) — the same one-body
    * delegation as [[gifNearDupPairs]]/[[apngNearDupPairs]]. */
  def awebpNearDupPairs(media: DataFrame, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000,
      minLisFrac: Double = 0.0): DataFrame =
    videoNearDupPairsFromSets(
      awebpFrameHashSets(media, thumbSide).localCheckpoint(),
      minMatchedFrames, maxFrameDf, maxFrameHamming, maxBucketDf,
      minLisFrac)

  /** Planted APNG dedup fixture (round 18) — the
    * [[gifDedupMediaFromDocuments]] convention on the PNG animation
    * chunks: groups of four — m=0 a base animation of nf = 3+gid%3
    * binary-pattern frames (frame 0 in the IDAT, the rest in fdAT),
    * m=1 an EXACT byte copy, m=2 a TRIMMED RE-ENCODE (last frame
    * dropped AND different per-row filters — different bytes end to
    * end, nf−1 shared composited frames in order: the clip-trim
    * shape), m=3 an independent animation. Seeds are a disjoint
    * splitmix64 family. */
  def apngDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      val seed = splitmix64(gid * 2L + (if (m == 3) 1L else 0L) +
        0x3c6ef372fe94f82bL)
      val nfFull = 3 + (gid % 3).toInt
      val nf = if (m == 2) nfFull - 1 else nfFull
      val frames = (0 until nf).map { k =>
        val pattern = splitmix64(seed + k * 1013L)
        val rgb = new Array[Byte](64 * 3)
        var p = 0
        while (p < 64) {
          val v = if (((pattern >>> p) & 1L) == 1L) 255.toByte else 0.toByte
          rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
          p += 1
        }
        (4, rgb)
      }
      val filterOf: Int => Int = if (m == 2) y => 1 + (y % 4) else _ => 0
      (id, Png.encodeApng(8, 8, frames, filterOf))
    }.toDF("media_id", "bytes")
  }

  /** Planted animated-WebP dedup fixture (round 18) — the same
    * structure on the VP8X/ANMF container with REAL VP8L frames; the
    * m=2 trim also re-encodes through a different transform stack
    * (subtract-green + cache), so its bytes share nothing with the
    * base beyond the decoded pixels. */
  def awebpDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      val seed = splitmix64(gid * 2L + (if (m == 3) 1L else 0L) +
        0x1f83d9abfb41bd6bL)
      val nfFull = 3 + (gid % 3).toInt
      val nf = if (m == 2) nfFull - 1 else nfFull
      val frames = (0 until nf).map { k =>
        val pattern = splitmix64(seed + k * 1013L)
        val px = Array.tabulate(64)(p =>
          if (((pattern >>> p) & 1L) == 1L) 0xffffffff else 0xff000000)
        (40, px)
      }
      val opts =
        if (m == 2) Vp8l.EncOptions(subtractGreen = true, cacheBits = 4)
        else Vp8l.EncOptions(lz77 = false)
      (id, Webp.encodeAnimatedVp8l(8, 8, frames, opts))
    }.toDF("media_id", "bytes")
  }

  /** Planted CROSS-FORMAT animation fixture (round 18): groups of four
    * whose members carry the SAME composited frames in DIFFERENT
    * containers — m=0 a GIF (the corpus member), m=1 the same frames
    * as an APNG, m=2 the same frames as an animated WebP (real VP8L
    * payloads), m=3 an independent GIF. Frames are 8×8 black/white
    * patterns from one seed family, so the three containers decode to
    * BIT-IDENTICAL rasters — the transcode shape real crawls carry
    * (not one byte survives, every composited frame hash does). */
  def xformatAnimMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pal = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      64, 64, 64, 192.toByte, 192.toByte, 192.toByte)
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      val seed = splitmix64(gid * 2L + (if (m == 3) 1L else 0L) +
        0x5be0cd19137e2179L)
      val nf = 3 + (gid % 3).toInt
      val patterns = (0 until nf).map(k => splitmix64(seed + k * 1013L))
      val bytes = m match {
        case 1 =>
          Png.encodeApng(8, 8, patterns.map { pattern =>
            val rgb = new Array[Byte](64 * 3)
            var p = 0
            while (p < 64) {
              val v = if (((pattern >>> p) & 1L) == 1L) 255.toByte else 0.toByte
              rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
              p += 1
            }
            (4, rgb)
          })
        case 2 =>
          Webp.encodeAnimatedVp8l(8, 8, patterns.map { pattern =>
            (40, Array.tabulate(64)(p =>
              if (((pattern >>> p) & 1L) == 1L) 0xffffffff else 0xff000000))
          })
        case _ =>
          Gif.encode(8, 8, pal, patterns.map { pattern =>
            Gif.EncFrame(Array.tabulate(64)(p =>
              (if (((pattern >>> p) & 1L) == 1L) 1 else 0).toByte),
              delayCs = 4)
          })
      }
      (id, bytes)
    }.toDF("media_id", "bytes")
  }

  /** Planted animated-GIF dedup fixture (round 17): groups of four —
    * m=0 a base animation of nf = 3+gid%3 binary-pattern frames, m=1
    * an EXACT byte copy, m=2 a TRIMMED re-encode (the last frame
    * dropped — shares nf−1 frames in order, the clip-trim shape), m=3
    * an independent animation. Patterns are splitmix64 families
    * decorrelated from every other fixture. */
  def gifDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pal = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte,
      64, 64, 64, 192.toByte, 192.toByte, 192.toByte)
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      // disjoint-by-parity seed inputs: two affine forms (97g+11 vs
      // 89g'+5) intersect — gid 66's base family collided with gid
      // 72's independent at sf0.001 and cross-paired
      val seed = splitmix64(gid * 2L + (if (m == 3) 1L else 0L) +
        0x6a09e667f3bcc908L)
      val nfFull = 3 + (gid % 3).toInt
      val nf = if (m == 2) nfFull - 1 else nfFull
      val frames = (0 until nf).map { k =>
        val pattern = splitmix64(seed + k * 1013L)
        Gif.EncFrame(Array.tabulate(64)(p =>
          (if (((pattern >>> p) & 1L) == 1L) 1 else 0).toByte),
          delayCs = 4)
      }
      (id, Gif.encode(8, 8, pal, frames))
    }.toDF("media_id", "bytes")
  }

  /** Column-metadata key recording the Hamming banding radius a
    * [[videoFrameIndex]] froze with — the probe side derives its band
    * layout from this, so index and probe band grids can never disagree
    * (a radius mismatch would mean silently zero matches — the same bug
    * class the [[ImageHashKindKey]] family contract closes). */
  private[graft] final val VideoFrameHammingKey = "graft.frame_hamming"

  /** The banding radius a frozen [[videoFrameIndex]] was built with,
    * read from its `fh` column metadata; an index without it fails loud
    * rather than silently returning zero matches. */
  private[graft] def indexFrameHamming(index: DataFrame): Int = {
    val md = index.schema("fh").metadata
    if (!md.contains(VideoFrameHammingKey))
      throw new IllegalArgumentException(
        "video frame index records no banding radius in its fh column " +
          "metadata — rebuild the index with videoFrameIndex")
    md.getLong(VideoFrameHammingKey).toInt
  }

  /** One (id, fh, pos) row per distinct frame hash of each video in a
    * [[videoFrameHashSets]] frame — the shared explode of every video
    * matching path (pos = the hash's first frame index, the LIS
    * temporal anchor). */
  private def explodeFrameSets(sets: DataFrame, idCol: String = "id")
      : DataFrame =
    sets.select(col("media_id").cast("long").as(idCol),
        explode(arrays_zip(col("frame_hashes"), col("frame_pos"))).as("z"))
      .select(col(idCol), col("z.frame_hashes").as("fh"),
        col("z.frame_pos").as("pos"))

  /** FROZEN per-frame inverted index for the streaming video twin —
    * [[imageSignatureIndex]]'s video analog, BANDED like it (round 16 —
    * before that the index matched on exact 64-bit frame-hash equality,
    * the one hamming-tolerance asymmetry left across modalities): STOP
    * FRAMES (frame hashes in more than `maxFrameDf` videos — black
    * frames, test cards) removed at freeze time, exactly the
    * [[videoNearDupPairs]] whale guard, then the survivors band-exploded
    * at `maxFrameHamming` with degenerate (band, bits) buckets removed
    * at `maxBucketDf` (the guard freezes WITH the index). One row per
    * surviving (frame, band): (band, bits, fh, id, pos); the banding
    * radius freezes into the `fh` column metadata and the probe side
    * derives its band grid from it. */
  def videoFrameIndex(media: DataFrame, maxFrameDf: Int = 1000,
      thumbSide: Int = 8, maxFrameHamming: Int = 3,
      maxBucketDf: Int = 1000): DataFrame =
    videoFrameIndexFromSets(videoFrameHashSets(media, thumbSide),
      maxFrameDf, maxFrameHamming, maxBucketDf)

  /** [[videoFrameIndex]] from an ALREADY-COMPUTED frame-hash-set frame
    * (round 18, public): the frame space is FORMAT-AGNOSTIC — the same
    * (media_id, frame_hashes, frame_pos) contract comes out of
    * [[videoFrameHashSets]] (Y4M), [[gifFrameHashSets]],
    * [[apngFrameHashSets]] and [[awebpFrameHashSets]] — so an
    * animation corpus frozen from ANY container matches probes from
    * any other: a GIF transcoded to animated WebP shares its
    * composited frame hashes exactly (the m_anim_xformat gate). */
  def videoFrameIndexFromSets(sets: DataFrame, maxFrameDf: Int = 1000,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000): DataFrame = {
    val frames = explodeFrameSets(sets)
    // STOP frames (df > cap) are ≤ n_frames/maxFrameDf distinct keys by
    // construction — broadcast the tiny stop list and anti-join, never a
    // semi-join against the corpus-sized rare side (round 15; the
    // hammingPairs64 heavy-bucket shape)
    val stop = frames.groupBy(col("fh"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxFrameDf)
      .select(col("fh"))
    val kept = frames.join(broadcast(stop), Seq("fh"), "left_anti")
    val bands = hammingBands64(
      kept.select(col("id"), col("fh").as("sig"), col("pos")),
      maxFrameHamming)
    val radiusMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(VideoFrameHammingKey, maxFrameHamming.toLong).build()
    dropHeavyBuckets(bands, maxBucketDf, "videoFrameIndex")
      .select(col("band"), col("bits"), col("sig").as("fh", radiusMd),
        col("id"), col("pos"))
  }

  /** Perceptual near-duplicate video pairs: per-frame dHash over
    * [[decodeVideoThumbs]], candidates from the BANDED Hamming block
    * over the exploded frame hashes (round 16 — frames tolerate up to
    * `maxFrameHamming` drifted bits exactly as image/audio signatures
    * do through [[hammingPairs64]]; before that a re-encoded clip whose
    * per-frame dHashes drifted 1-3 bits never paired), exact bit_count
    * verify, then the per-video rollup: `n_matched` = matched distinct
    * frame hashes (the smaller side when one frame matches several),
    * `lis` = the longest temporally CONSISTENT matched chain
    * ([[graft.functions.LisLen]] over matched first-occurrence frame
    * positions — a true near-dup clip scores ≈ n_matched, a
    * shuffled-frame collage of the same frames scores ≈ 1). Keeps pairs
    * with at least `minMatchedFrames`. Alignment-free: a trimmed copy
    * shares frame hashes even when frame indices shift. STOP-FRAME
    * removal is the whale guard: a frame hash present in more than
    * `maxFrameDf` videos (black frames, test cards) is dropped before
    * banding — the same stop-token discipline as text inverted indexes,
    * without which one common frame makes the join quadratic in the
    * corpus; the (band, bits) bucket guard at `maxBucketDf` bounds the
    * residual fan-out and drops loudly ([[degenerateHammingBuckets]]).
    * `minLisFrac` (round 17) turns the `lis` score into a KEEP policy:
    * a pair survives only if at least that fraction of its matched
    * frames chain in temporal order — shuffled-frame collages
    * (lis ≈ 1) drop, true near-dup clips (lis = n_matched) pass; the
    * 0.0 default is the deliberate set-similarity pass-through. */
  def videoNearDupPairs(media: DataFrame, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000,
      minLisFrac: Double = 0.0): DataFrame =
    // localCheckpoint the in-task-distinct frame-hash SETS, not the
    // thumbs: three consumers (frame-df count + the self-join's two
    // sides) decode the frames ONCE and the checkpoint holds 8 bytes per
    // distinct frame instead of thumbSide² floats per frame (in-task
    // distinct ≡ the plan-level distinct over per-frame dHash — pinned
    // in OpsSpec)
    videoNearDupPairsFromSets(
      videoFrameHashSets(media, thumbSide).localCheckpoint(),
      minMatchedFrames, maxFrameDf, maxFrameHamming, maxBucketDf,
      minLisFrac)

  /** [[videoNearDupPairs]] from an ALREADY-COMPUTED
    * [[videoFrameHashSets]] frame (checkpointed by the caller): the
    * incremental paths frame-hash each video once and feed both this
    * within-batch pairing and the against-index probe from the same
    * frame. */
  private[graft] def videoNearDupPairsFromSets(sets: DataFrame,
      minMatchedFrames: Int, maxFrameDf: Int, maxFrameHamming: Int = 3,
      maxBucketDf: Int = 1000, minLisFrac: Double = 0.0): DataFrame = {
    val frames = explodeFrameSets(sets)
    // broadcast the tiny stop list (≤ n_frames/maxFrameDf keys), anti-join
    // — the semi-join against the corpus-sized rare side shuffled the
    // whole frame table a second time (round 15)
    val stop = frames.groupBy(col("fh"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxFrameDf)
      .select(col("fh"))
    val indexed = frames.join(broadcast(stop), Seq("fh"), "left_anti")
    bandedFramePairs(indexed, minMatchedFrames, maxFrameHamming,
      maxBucketDf, minLisFrac)
  }

  /** The shared banded frame matcher: stop-filtered (id, fh, pos) frame
    * rows in, (id_a, id_b, n_matched, lis) video pairs out. Band explode
    * at `maxFrameHamming` (heavy buckets dropped loudly at
    * `maxBucketDf`), equi-join candidates, exact bit_count verify, then
    * ONE aggregation per video pair: collect_set dedups the band
    * multiplicity, n_matched counts the smaller side's matched distinct
    * frames (equals the shared-hash count when matching is 1-1, which
    * radius 0 guarantees), and [[graft.functions.LisLen]] chains the
    * matched first-occurrence positions into the temporal-consistency
    * score. */
  private def bandedFramePairs(indexed: DataFrame, minMatchedFrames: Int,
      maxFrameHamming: Int, maxBucketDf: Int,
      minLisFrac: Double = 0.0): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    // Round 19 (optimization): the hammingPairs64 in-bucket rewrite
    // applied to the frame matcher — one groupByKey shuffle of the
    // banded frame rows replaces the census + broadcast anti-join +
    // band self-join (guide §2.4). The matched ROW pairs a bucket emits
    // are exactly the former join's output (every ordered row pair,
    // bit_count ≤ radius, over-cap buckets dropped with the same loud
    // accumulators), and the downstream per-pair aggregate is unchanged
    // — collect_set dedups the cross-band duplicates either way.
    val nBuckets = spark.sparkContext.longAccumulator(
      "graft.dropped_hamming_buckets (videoNearDupPairs)")
    val nSigs = spark.sparkContext.longAccumulator(
      "graft.dropped_hamming_signatures (videoNearDupPairs)")
    val cap = maxBucketDf
    val mh = maxFrameHamming
    val matched = hammingBands64(
        indexed.select(col("id"), col("fh").as("sig"), col("pos")),
        maxFrameHamming)
      .select(col("band").cast("int").as("band"), col("bits"),
        col("id").cast("long").as("id"), col("sig"),
        col("pos").cast("int").as("pos"))
      .as[(Int, Long, Long, Long, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        // growable buffers + lazy pair iterator — the hammingPairs64
        // in-bucket memory shape (r19 review finding)
        var ids = new Array[Long](math.min(cap, 16))
        var sigs = new Array[Long](math.min(cap, 16))
        var poss = new Array[Int](math.min(cap, 16))
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (n < cap) {
            val i = n.toInt
            if (i == ids.length) {
              val g = math.min(cap.toLong, ids.length * 2L).toInt
              ids = java.util.Arrays.copyOf(ids, g)
              sigs = java.util.Arrays.copyOf(sigs, g)
              poss = java.util.Arrays.copyOf(poss, g)
            }
            ids(i) = r._3; sigs(i) = r._4; poss(i) = r._5
          }
          n += 1
        }
        if (n > cap) {
          nBuckets.add(1); nSigs.add(n)
          org.slf4j.LoggerFactory.getLogger("graft.ops.Multimodal")
            .warn(s"hamming bucket guard (videoNearDupPairs): dropped a " +
              s"degenerate (band, bits) bucket holding $n frame hashes " +
              s"(cap $cap) — audit with degenerateHammingBuckets")
          Iterator.empty
        } else {
          val m = n.toInt
          val fIds = ids; val fSigs = sigs; val fPoss = poss
          (0 until m).iterator.flatMap { i =>
            (i + 1 until m).iterator.flatMap { j =>
              val (ia, ib) = if (fIds(i) < fIds(j)) (i, j) else (j, i)
              if (fIds(ia) != fIds(ib) &&
                  java.lang.Long.bitCount(fSigs(ia) ^ fSigs(ib)) <= mh)
                Iterator.single((fIds(ia), fIds(ib), fSigs(ia), fSigs(ib),
                  fPoss(ia), fPoss(ib)))
              else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "sig_a", "sig_b", "pa", "pb")
    val pairs = matched
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        least(size(collect_set(col("sig_a"))), size(collect_set(col("sig_b"))))
          .cast("long").as("n_matched"),
        graft.functions.GraftFunctions.lisLen(collect_set(
          struct(col("pa"), col("pb")))).as("lis"))
      .filter(col("n_matched") >= minMatchedFrames)
    // the TEMPORAL-IDENTITY knob (round 17): `lis` rode every pair
    // since r16 but nothing consumed it — with minLisFrac > 0 a pair
    // must keep at least that fraction of its matched frames in
    // temporal order, so a shuffled-frame collage (lis ≈ 1) is kept
    // OUT of the connected-components input while a true near-dup clip
    // (lis = n_matched) passes untouched. 0.0 is the deliberate
    // pass-through: set-similarity semantics, collages and all.
    if (minLisFrac <= 0.0) pairs
    else pairs.filter(col("lis") >=
      ceil(lit(minLisFrac) * col("n_matched")))
  }

  /** Degenerate-aware VIDEO dedup routing — [[routedImageDedup]]'s video
    * twin, closing the modality asymmetry: a video whose ENTIRE frame set
    * is stop frames (all-black filler, test patterns — frame hashes in
    * more than `maxFrameDf` videos) loses every frame to the whale guard
    * and would silently exit candidate generation, so even byte-identical
    * copies never pair. Here those empty-after-removal videos (including
    * zero-frame clips, and UNDECODABLE clips — video magic, corrupt
    * payload) route to EXACT blob dedup (linear star pairs to
    * the min-key survivor — the reference index never silently drops a
    * trail it cannot index either, tdbcli/filter.c:221-243 routes it to
    * the unindexed path); videos keeping ≥1 rare frame route to the
    * inverted-index frame matching. The stop-frame list is corpus-wide
    * and ≤ n_frames/maxFrameDf keys by construction — broadcast-safe —
    * so the removal is a broadcast anti-join, never a shuffle of the
    * frame table. Returns (id_a, id_b, kind ∈ {'exact_blob',
    * 'perceptual'}), id_a < id_b, drop-in for the clustering stack. */
  def routedVideoDedup(media: DataFrame, minMatchedFrames: Int = 2,
      maxFrameDf: Int = 1000, thumbSide: Int = 8,
      maxFrameHamming: Int = 3, maxBucketDf: Int = 1000,
      minLisFrac: Double = 0.0): DataFrame =
    // the frame-hash sets feed the stop-frame census, the survivor test,
    // AND the perceptual self-join — decode every video ONCE
    routedVideoDedupFromSets(media,
      videoFrameHashSets(media, thumbSide).localCheckpoint(),
      minMatchedFrames, maxFrameDf, maxFrameHamming, maxBucketDf,
      minLisFrac)

  /** [[routedVideoDedup]] from an ALREADY-COMPUTED
    * [[videoFrameHashSets]] frame (checkpointed by the caller): the
    * mixed incremental path frame-hashes its video cohort once and feeds
    * both this within-batch routing and the against-index probe from the
    * same frame. */
  private def routedVideoDedupFromSets(media: DataFrame, sets0: DataFrame,
      minMatchedFrames: Int, maxFrameDf: Int, maxFrameHamming: Int = 3,
      maxBucketDf: Int = 1000, minLisFrac: Double = 0.0): DataFrame = {
    val sets = sets0
      .select(col("media_id").cast("long").as("id"), col("frame_hashes"))
    val frames = explodeFrameSets(sets0)
    val stop = frames.groupBy(col("fh"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxFrameDf)
      .select(col("fh"))
    val indexed = frames.join(broadcast(stop), Seq("fh"), "left_anti")
    // degenerate = decodable video with NO surviving frame (every frame
    // a stop frame, or no frames at all — explode drops empty sets),
    // plus UNDECODABLE clips (video magic, corrupt payload — the decoder
    // skips them, so they have no sets row, and a skipped clip must keep
    // its byte-identical duplicates; round 15). Round 19: both cohorts
    // collapse to ONE anti-join — "no surviving frame row" covers
    // no-sets-row and all-frames-removed alike, so the former
    // anti + anti + union + semi chain is a single exchange (guide
    // §2.4).
    val survivors = indexed.select(col("id"))
    val degBlobs = media.join(survivors,
        media("media_id").cast("long") === survivors("id"), "left_anti")
      .select(col("media_id").as("key"), col("bytes"))
    val blobPairs = blobStarPairs(degBlobs)
      .withColumn("kind", lit("exact_blob"))
    val perceptual = bandedFramePairs(indexed, minMatchedFrames,
        maxFrameHamming, maxBucketDf, minLisFrac)
      .select(col("id_a"), col("id_b"), lit("perceptual").as("kind"))
    blobPairs.unionByName(perceptual)
  }

  /** Match videos against a FROZEN [[videoFrameIndex]] — the shared core
    * of the streaming video twin and the batch incremental path (one
    * body, so stream and batch matching can never drift): in-task
    * distinct frame hashes ([[videoFrameHashSets]]), stateless band
    * explode at the radius the INDEX froze with (read from its `fh`
    * metadata — band grids can never disagree), equi-join on
    * (band, bits), exact bit_count verify, then ONE aggregation per
    * candidate pair: n_matched = matched distinct frames (smaller side)
    * ≥ `minMatchedFrames`, lis = the [[graft.functions.LisLen]]
    * temporal-consistency score over matched frame positions. On a
    * stream the aggregation's state is the matched frame set per
    * candidate pair — bounded by frames-per-video times the candidate
    * volume the stop-frame removal already caps (run the sink in UPDATE
    * mode); on a batch frame it is an ordinary shuffle aggregate.
    * Returns (media_id, match_id, n_matched, lis). */
  def videoAgainstIndex(media: DataFrame, index: DataFrame,
      minMatchedFrames: Int = 2, thumbSide: Int = 8): DataFrame =
    videoAgainstIndexFromSets(videoFrameHashSets(media, thumbSide), index,
      minMatchedFrames)

  /** Cross-format animation probe (round 18): match any frame-hash-set
    * frame (GIF / APNG / animated-WebP / Y4M — one shared contract)
    * against a frozen [[videoFrameIndexFromSets]] index, whatever
    * container the index froze from. A transcode between animation
    * formats preserves composited frames, so it matches its corpus
    * twin here even though not one byte survives the re-encode. */
  def animationAgainstIndex(sets: DataFrame, index: DataFrame,
      minMatchedFrames: Int = 2): DataFrame =
    videoAgainstIndexFromSets(sets, index, minMatchedFrames)

  /** [[videoAgainstIndex]] from an ALREADY-COMPUTED
    * [[videoFrameHashSets]] frame — the incremental paths'
    * shared-frame-hash entry point. */
  private[graft] def videoAgainstIndexFromSets(sets: DataFrame,
      index: DataFrame, minMatchedFrames: Int): DataFrame = {
    val radius = indexFrameHamming(index)
    val probe = hammingBands64(
      explodeFrameSets(sets, "sid")
        .select(col("sid"), col("fh").as("sig"), col("pos").as("s_pos")),
      radius)
    probe
      .join(index.select(col("band"), col("bits"), col("fh").as("i_fh"),
        col("id").as("_iid"), col("pos").as("i_pos")), Seq("band", "bits"))
      .filter(bit_count(col("sig").bitwiseXOR(col("i_fh"))) <= radius)
      .groupBy(col("sid").as("media_id"), col("_iid").as("match_id"))
      .agg(
        least(size(collect_set(col("sig"))), size(collect_set(col("i_fh"))))
          .cast("long").as("n_matched"),
        graft.functions.GraftFunctions.lisLen(collect_set(
          struct(col("s_pos").as("pa"), col("i_pos").as("pb")))).as("lis"))
      .filter(col("n_matched") >= minMatchedFrames)
  }

  /** Incremental perceptual VIDEO dedup — [[incrementalImageNearDup]]'s
    * video sibling (batch-vs-frozen-corpus, ingest pipelines batch more
    * often than they stream): pairs WITHIN the new batch plus new-batch
    * videos matched against the FROZEN [[videoFrameIndex]], never a
    * corpus self-join. Returns (id_a, id_b, n_matched, lis, side ∈
    * {'batch', 'corpus'}) — for 'corpus' rows id_a is the index
    * member. */
  def incrementalVideoNearDup(newMedia: DataFrame, index: DataFrame,
      minMatchedFrames: Int = 2, maxFrameDf: Int = 1000,
      thumbSide: Int = 8): DataFrame = {
    // frame-hash the new batch ONCE: both the within-batch pairing and
    // the against-index probe read the checkpoint (the
    // incrementalImageNearDup decode discipline)
    val sets = videoFrameHashSets(newMedia, thumbSide).localCheckpoint()
    // the within-batch leg adopts the INDEX's frozen frame-hash radius
    // (the image paths' ahash = indexHashIsAhash discipline): one result
    // frame never mixes two similarity definitions — an index built at
    // radius 1 must not see batch-side pairs matched at radius 3
    val within = videoNearDupPairsFromSets(sets, minMatchedFrames,
        maxFrameDf, maxFrameHamming = indexFrameHamming(index))
      .select(col("id_a"), col("id_b"), col("n_matched"), col("lis"),
        lit("batch").as("side"))
    val vsCorpus = videoAgainstIndexFromSets(sets, index, minMatchedFrames)
      .select(col("match_id").as("id_a"), col("media_id").as("id_b"),
        col("n_matched"), col("lis"), lit("corpus").as("side"))
    within.unionByName(vsCorpus)
  }

  /** Planted-duplicate VIDEO fixture: groups of four — m=0 a gid-seeded
    * pseudo-random-luma video (frame count and dims derived from gid so
    * the whole group shares them), m=1 an EXACT copy, m=2 the same video
    * with its LAST frame REPLACED by an independent one (a scene
    * change/insert: that frame's hash moves for sure — a single flipped
    * pixel can leave a dHash unchanged when its row neighbors agree —
    * while the other nf−1 frame hashes still match), m=3 independent. */
  def dedupVideoMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      (id, Y4m.encode(8, 8, 25, videoFixtureFrames(gid, m)))
    }.toDF("media_id", "bytes")
  }

  /** The planted video fixture's frame material, shared by
    * [[dedupVideoMediaFromDocuments]] and the perturbation cohorts so
    * the two can never drift: 8×8 binary-luma (30/200) pseudo-random
    * frames, nf = 3 + gid%3, member semantics per
    * [[dedupVideoMediaFromDocuments]]. */
  private def videoFixtureFrames(gid: Long, m: Int): Seq[Array[Byte]] = {
    def mix(v: Long): Long = splitmix64(v)
    val seed = if (m == 3) gid * 7919L + 104729L else gid
    val w = 8; val h = 8
    val nf = 3 + (gid % 3).toInt
    (0 until nf).map { k =>
      // m=2's last frame draws from a different seed — a replaced frame
      val s = if (m == 2 && k == nf - 1) seed * 31L + 7L else seed
      val f = new Array[Byte]((w * h * 3) / 2)
      var p = 0
      while (p < w * h) {
        f(p) = (if (((mix(s * 524287L + k * 131L + p) >>> 13) & 1L) == 1L)
          200 else 30).toByte
        p += 1
      }
      java.util.Arrays.fill(f, w * h, f.length, 128.toByte)
      f
    }
  }

  /** Flip ONE pixel of the given row of a binary-luma (30/200) 8×8
    * fixture frame, at a position chosen so the frame's dHash moves by
    * AT LEAST one and at most two bits: flipping pixel x changes dHash
    * bit x−1 iff its left neighbor is low and bit x iff its right
    * neighbor is high (row-wrapped gradient bits —
    * [[graft.functions.ImageHash64]]), and a binary row always has such
    * a position (an all-high row moves any pixel's own bit, an all-low
    * row any pixel's left bit). Deterministic: first qualifying x. */
  private def flipOneFixturePixel(f: Array[Byte], row: Int): Unit = {
    val w = 8
    val base = row * w
    val lo = 30.toByte
    val hi = 200.toByte
    var x = 0
    while (x < w) {
      if (f(base + (x + w - 1) % w) == lo || f(base + (x + 1) % w) == hi) {
        f(base + x) = if (f(base + x) == lo) hi else lo
        return
      }
      x += 1
    }
    throw new IllegalStateException(
      "binary fixture row admits no dHash-moving flip — unreachable")
  }

  /** Perturbation cohorts for the banded video gate, derived from each
    * planted group's base (m=0) video of [[dedupVideoMediaFromDocuments]]
    * — one video per group and cohort:
    *
    *  - `within` (media_id 3000000+gid): every frame's dHash moved by a
    *    guaranteed 1-2 bits (one [[flipOneFixturePixel]] in row 0) — the
    *    re-encode/rescale drift regime. Pairs with its group's base
    *    members UNDER BANDING ONLY: every frame hash differs from the
    *    base's, so exact frame-hash equality never matches it (the
    *    round-15 recall hole this cohort gates).
    *  - `beyond` (media_id 4000000+gid): five rows flipped per frame —
    *    a guaranteed 5-10 dHash bits from the base AND ≥4 bits from the
    *    `within` member (the shared row-0 flip cancels), so it pairs
    *    with NOTHING at radius 3; its absence from the pair list is the
    *    oracle's no-false-positive leg.
    *  - `reversed` (media_id 5000000+gid): the base's frames in reverse
    *    ORDER — identical frame-hash set (n_matched ties the exact
    *    copy's) but LIS 1: the shuffled-frame collage the
    *    temporal-consistency score exists to expose.
    */
  def perturbedVideoCohortsFromDocuments(docs: DataFrame,
      cohorts: Seq[String] = Seq("within", "beyond", "reversed"))
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val which = cohorts.toArray
    require(which.forall(Set("within", "beyond", "reversed")),
      s"unknown perturbation cohort in ${which.mkString(",")}")
    docs.select(col("doc_id")).as[Long].filter((id: Long) => id % 4 == 0L)
      .flatMap { id =>
        val gid = id / 4
        val base = videoFixtureFrames(gid, 0)
        which.iterator.map {
          case "within" =>
            val frames = base.map { f =>
              val c = f.clone(); flipOneFixturePixel(c, 0); c
            }
            (3000000L + gid, Y4m.encode(8, 8, 25, frames))
          case "beyond" =>
            val frames = base.map { f =>
              val c = f.clone()
              (0 until 5).foreach(r => flipOneFixturePixel(c, r))
              c
            }
            (4000000L + gid, Y4m.encode(8, 8, 25, frames))
          case "reversed" =>
            (5000000L + gid, Y4m.encode(8, 8, 25, base.reverse))
        }
      }.toDF("media_id", "bytes")
  }

  /** Planted-duplicate image fixture for the perceptual-dedup gate row:
    * doc_ids group in fours (gid = id/4, member m = id%4) —
    * m=0 a pseudo-random 8×8 binary raster seeded by gid, m=1 an EXACT
    * copy, m=2 the raster with ONE flipped pixel (≤2 dHash bits — the
    * flip perturbs its own gradient bit and its left neighbor's), m=3 an
    * independent raster (expected Hamming ~32, never paired). Even gids
    * encode PPM, odd gids QOI, so one run exercises both decoders and
    * the magic-byte dispatch. The structure (NOT the pixels) is what the
    * DuckDB oracle replays: within-group pairs among m∈{0,1,2} with
    * n_diff_ch 0 for (0,1) and 3 for pairs touching m=2. */
  def dedupImageMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern = if (m == 3) mix(gid * 7919L + 104729L) else mix(gid)
      val flip = if (m == 2) ((mix(gid * 31L + 7L) >>> 8) & 63L).toInt else -1
      val rgb = new Array[Byte](8 * 8 * 3)
      var p = 0
      while (p < 64) {
        val bit = (((pattern >>> p) & 1L) == 1L) ^ (p == flip)
        val v = if (bit) 255.toByte else 0.toByte
        rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
        p += 1
      }
      val fmt = if (gid % 2 == 0) "ppm" else "qoi"
      val bytes = if (gid % 2 == 0) Ppm.encode(8, 8, rgb)
        else Qoi.encode(8, 8, rgb)
      (id, fmt, bytes)
    }.toDF("media_id", "fmt", "bytes")
  }

  /** Planted-duplicate JPEG fixture — [[dedupImageMediaFromDocuments]]'s
    * structure lifted to a real DCT-coded format (round 16): groups of
    * four, m=0 a 64×64 grayscale baseline JPEG whose 8×8 grid of
    * CONSTANT blocks takes values 192/64 from a gid-seeded 64-bit
    * pattern (block-aligned constants decode EXACTLY under the all-8
    * quant table, and the 8×8 nearest-neighbor decode thumbnail IS the
    * pattern matrix — the thumb-equals-pattern trick at block
    * granularity), m=1 an EXACT byte copy, m=2 RE-ENCODED with one
    * block flipped and a restart interval (different bytes everywhere,
    * ≤2 differing dHash bits — pairs via banding), m=3 independent.
    * Feeding [[decodeAnyImages]] → [[imageNearDupPairs]] drives the
    * FFD8 dispatch and the whole perceptual dedup stack over real
    * Huffman-coded streams with an exactly replayable pair structure. */
  def jpegDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q8 = Array.fill(64)(8)
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern = if (m == 3) mix(gid * 7919L + 104729L) else mix(gid)
      val flip = if (m == 2) ((mix(gid * 31L + 7L) >>> 8) & 63L).toInt else -1
      val yp = new Array[Byte](64 * 64)
      var p = 0
      while (p < 64 * 64) {
        val b = ((p / 64) / 8) * 8 + (p % 64) / 8 // block index, row-major
        val bit = (((pattern >>> b) & 1L) == 1L) ^ (b == flip)
        yp(p) = if (bit) 192.toByte else 64.toByte
        p += 1
      }
      (id, Jpeg.encodeGray(64, 64, yp, q8, if (m == 2) 2 else 0))
    }.toDF("media_id", "bytes")
  }

  /** Planted-duplicate PNG fixture — [[dedupImageMediaFromDocuments]]'s
    * structure on the lossless wire format (round 17): groups of four,
    * m=0 a gid-seeded 8×8 binary raster encoded with filter None and
    * one IDAT, m=1 an EXACT byte copy, m=2 the SAME raster RE-ENCODED
    * (per-row filters cycling 1..4, 8-byte IDAT chunking — different
    * bytes end to end, IDENTICAL pixels: the cohort exact-blob dedup
    * structurally misses and that routed PNG blobs previously lost),
    * m=3 an independent raster. Lossless decode means the re-encode
    * pairs at hamming 0 with n_diff_ch 0 — the oracle replays the
    * structure exactly. The pattern family is DOUBLE-mixed so it never
    * collides with [[dedupImageMediaFromDocuments]]'s — both cohorts
    * ride the same image branch inside the mixed-media fixture, and a
    * shared gid seed would pair across the id offsets. */
  def pngDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern = mix(
        (if (m == 3) mix(gid * 7919L + 104729L) else mix(gid)) +
          0x51f7a1d2e3c4b5a6L)
      val rgb = new Array[Byte](8 * 8 * 3)
      var p = 0
      while (p < 64) {
        val v = if (((pattern >>> p) & 1L) == 1L) 255.toByte else 0.toByte
        rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
        p += 1
      }
      val bytes =
        if (m == 2) Png.encode(8, 8, rgb, y => 1 + (y % 4), 8)
        else Png.encode(8, 8, rgb)
      (id, bytes)
    }.toDF("media_id", "bytes")
  }

  /** Planted ROTATED-RE-SAVE fixture for the orientation-normalization
    * gate (round 17): groups of four 64×64 grayscale JPEGs with
    * constant 8×8 blocks (the [[jpegDedupMediaFromDocuments]]
    * exact-decode trick) — m=0 the base raster with no EXIF, m=1 the
    * SAME image stored rotated 90° CW carrying EXIF orientation 8
    * (rotate 270° CW to display — the camera-rotation shape: decoded
    * raw it shares nothing with the base, normalized it is
    * bit-identical), m=2 the same rotated raster WITHOUT the tag (the
    * control: normalization must NOT invent this pair — proof the m=1
    * pair comes from the tag, not from any rotation invariance of the
    * hash), m=3 an independent raster carrying tag 3 (normalized, but
    * never pairing). Expected pairs under autoOrient: (4g, 4g+1) only,
    * hamming 0, n_diff_ch 0. */
  def orientDedupMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q8 = Array.fill(64)(8)
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern =
        if (m == 3) mix(gid * 2654435761L + 374761393L)
        else mix(gid * 2246822519L + 3266489917L)
      def base(px: Int, py: Int): Byte = {
        val b = (py / 8) * 8 + px / 8
        if (((pattern >>> b) & 1L) == 1L) 192.toByte else 64.toByte
      }
      val yp = new Array[Byte](64 * 64)
      var p = 0
      while (p < 64 * 64) {
        val x = p % 64; val y = p / 64
        // m=1/m=2 store the raster rotated 90° CW: stored(x,y) =
        // base(y, 63-x) — blocks stay 8×8-aligned, so decode stays exact
        yp(p) = if (m == 1 || m == 2) base(y, 63 - x) else base(x, y)
        p += 1
      }
      val tag = m match {
        case 1 => 8 // undoes the stored rotation on display
        case 3 => 3 // a normalized-but-independent member
        case _ => 0 // no APP1 at all
      }
      (id, Jpeg.encodeGray(64, 64, yp, q8, 0, tag))
    }.toDF("media_id", "bytes")
  }

  /** Quality-graded planted image fixture for the quality-aware keep
    * policy: groups of four — m=1 a gid-seeded SHARP binary raster
    * (values 0/255), m=2 an EXACT copy of m=1, m=0 a CONTRAST-DEGRADED
    * copy of the same pattern (values 100/130: a positive affine map
    * preserves every horizontal gradient sign, so its dHash is
    * IDENTICAL to the sharp members' and it lands in the same near-dup
    * cluster, while its `edge_energy` is strictly lower — 30/255 per
    * edge vs 1.0), m=3 an independent raster. The DEGRADED member holds
    * the group's MIN id, so a survivor chosen by edge_energy (m=1 — the
    * two identical sharp copies tie and [[Dedup.keepBest]] breaks ties
    * toward the smaller id) is distinguishable from BOTH the min-id
    * convention (m=0) and a max-id policy (m=2). Even gids encode PPM,
    * odd gids QOI. */
  def qualityImageMediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val gid = id / 4
      val m = (id % 4).toInt
      def mix(v: Long): Long = splitmix64(v)
      val pattern = if (m == 3) mix(gid * 7919L + 104729L) else mix(gid)
      val (lo, hi) =
        if (m == 0) (100.toByte, 130.toByte) else (0.toByte, 255.toByte)
      val rgb = new Array[Byte](8 * 8 * 3)
      var p = 0
      while (p < 64) {
        val v = if (((pattern >>> p) & 1L) == 1L) hi else lo
        rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
        p += 1
      }
      val fmt = if (gid % 2 == 0) "ppm" else "qoi"
      val bytes = if (gid % 2 == 0) Ppm.encode(8, 8, rgb)
        else Qoi.encode(8, 8, rgb)
      (id, fmt, bytes)
    }.toDF("media_id", "fmt", "bytes")
  }
}
