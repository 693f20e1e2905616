package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.unsafe.types.UTF8String

/** Reader core for the reference engine's legacy `.tdb` binary format
  * (format version 1), re-implemented in Scala from the published on-disk
  * layout — the LAST reference capability the repo lacked ("can I read my
  * existing .tdb files?").
  *
  * A tdb is either a DIRECTORY of members or a single ustar TAR package of
  * the same members (reference: tdb_open dispatches on stat S_ISDIR,
  * src/tdb.c:330-341; package layout src/tdb_cons_package.c:24-34). The
  * members:
  *
  *  - `version`: ASCII format version ("1"; v0 is a pre-release layout this
  *    reader refuses loudly — src/tdb.c:255-270)
  *  - `info`: "num_trails num_events min_timestamp max_timestamp
  *    max_timestamp_delta" (src/tdb.c:272-291)
  *  - `fields`: one ofield name per line, then an empty line
  *    (src/tdb.c:141-226; field 0 is always "time")
  *  - `lexicon.<field>`: u32 count, count+1 u32 ABSOLUTE byte offsets, then
  *    the concatenated value bytes; width widens to u64 past 4 GiB
  *    (src/tdb.c:105-139). Value id 0 is NULL; id v>0 reads entry v-1
  *    (src/tdb.c:513-532).
  *  - `uuids`: 16 raw bytes per trail, ordered by little-endian u128 in v1
  *    (src/tdb.c:552-585 binary search)
  *  - `trails.toc`: num_trails+1 byte offsets into trails.data; u32 entries
  *    when trails.data is smaller than 4 GiB, else u64
  *    (src/tdb_decode.c:7-13, src/tdb_encode.c:358-366)
  *  - `trails.codebook`: 65536 entries × (16-byte LE symbol + u32 bits) —
  *    the FULLY-EXPANDED Huffman decode table: every 16-bit word whose low
  *    `bits` bits equal a code maps to that code's symbol, so decode is one
  *    table lookup, no tree walk (src/tdb_huffman.h:20-23,
  *    src/tdb_huffman.c:343-357)
  *  - `trails.data`: per-trail little-endian bit streams (below)
  *
  * Trail stream (src/tdb_decode.c:193-206, 227-329): the first 3 bits hold
  * the count of unused trailing bits; then a sequence of Huffman-or-literal
  * "grams". Each gram starts with a flag bit — 1: the next 16 bits index
  * the codebook, consuming `bits` more; the 128-bit symbol is one item
  * (low 64) or a bigram (low+high). 0: a literal item
  * [field id: field_id_bits][value: field_bits(field)]
  * (src/tdb_huffman.h:66-88). Items pack (field, value) into u64
  * (src/tdb_types.h:68-99: narrow 7-bit field + 24-bit val, or wide with
  * the 128 flag). Each event is a timestamp item (field 0, value = delta
  * from the previous event's timestamp, starting at min_timestamp) followed
  * by the items of fields that CHANGED since the previous event (edge
  * encoding); unchanged fields inherit (src/tdb_decode.c:241-306).
  */
object TdbFormat {

  /** The active Spark session's Hadoop configuration when one exists
    * (so `spark.hadoop.*` overrides — s3a credentials etc. — reach the
    * archive IO), else one cached default per JVM: `new Configuration()`
    * parses the XML resource files every time (~ms), and
    * point-read-heavy paths (toc binary searches during planning,
    * per-task metadata) would otherwise pay it per 4-16 byte read (r7
    * review). Both instances are stable, so Hadoop's FileSystem cache
    * hits (it keys on scheme + conf). On executors without an active
    * session the default applies — fine for file:// and properly-
    * env-configured clusters. */
  private lazy val defaultConf = new Configuration()
  private def hadoopConf: Configuration =
    try org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    catch { case scala.util.control.NonFatal(_) => defaultConf }

  final case class Member(offset: Long, size: Long)

  /** A tdb root: a directory of member files or a single tar package.
    * Member access is (offset, size) into ONE underlying file for tar, or
    * a per-member file for directories — so tasks can seek to exactly the
    * byte range they need (a partition never reads the whole archive). */
  final class TdbArchive private (val path: String, val isTar: Boolean,
      members: Map[String, (String, Member)]) extends Serializable {

    def memberNames: Iterable[String] = members.keys

    def has(name: String): Boolean = members.contains(name)

    def size(name: String): Long = members(name)._2.size

    /** Read `len` bytes of member `name` starting at `from`, plus `pad`
      * zero bytes appended (the bit reader does whole-64-bit-word loads,
      * touching bytes past the last addressed one — same contract as the
      * reference's trails.data padding, src/tdb_bits.h:4-8). IO goes
      * through the Hadoop FileSystem API so a package on hdfs:// or
      * s3a:// seeks the same as a local file. */
    def readRange(name: String, from: Long, len: Long, pad: Int = 0): Array[Byte] = {
      val (file, m) = members(name)
      require(from >= 0 && from + len <= m.size,
        s"tdb member $name: range [$from, ${from + len}) outside size ${m.size}")
      require(len + pad <= Int.MaxValue, s"tdb member $name: $len bytes in one read")
      val out = new Array[Byte](len.toInt + pad)
      val p = new HPath(file)
      val in = p.getFileSystem(hadoopConf).open(p)
      try {
        in.seek(m.offset + from)
        in.readFully(out, 0, len.toInt)
      } finally in.close()
      out
    }

    def readAll(name: String, pad: Int = 0): Array[Byte] =
      readRange(name, 0L, size(name), pad)

    def readString(name: String): String =
      new String(readAll(name), StandardCharsets.UTF_8)
  }

  object TdbArchive {
    /** Open a tdb root: a member directory, a tar package file, or (like
      * tdb_open, src/tdb.c:322-329) `<path>.tdb` if `path` itself does not
      * exist. */
    def open(path: String): TdbArchive = {
      val p0 = new HPath(path)
      val fs = p0.getFileSystem(hadoopConf)
      val p = if (fs.exists(p0)) p0 else {
        val alt = new HPath(path + ".tdb")
        require(fs.exists(alt), s"tdb: no such file or directory: $path")
        alt
      }
      if (fs.getFileStatus(p).isDirectory) openDir(fs, p) else openTar(fs, p)
    }

    private def openDir(fs: FileSystem, dir: HPath): TdbArchive = {
      val members = fs.listStatus(dir).filter(_.isFile).map { st =>
        st.getPath.getName -> (st.getPath.toString, Member(0L, st.getLen))
      }.toMap
      new TdbArchive(dir.toString, isTar = false, members)
    }

    /** Plain ustar walk: 512-byte headers (name at 0, size as octal at
      * 124, typeflag at 156), data padded to 512. The package's own
      * `tar.toc` member is an offset cache for the reference's
      * seek-based reader (src/tdb_package.c:16-82); parsing the tar
      * headers directly yields the same offsets without trusting it. */
    private def openTar(fs: FileSystem, file: HPath): TdbArchive = {
      val fileLen = fs.getFileStatus(file).getLen
      val in = fs.open(file)
      try {
        val hdr = new Array[Byte](512)
        var off = 0L
        val members = Map.newBuilder[String, (String, Member)]
        var done = false
        while (!done && off + 512 <= fileLen) {
          in.seek(off)
          in.readFully(hdr, 0, 512)
          val name = cstr(hdr, 0, 100)
          if (name.isEmpty) done = true // end-of-archive zero block
          else {
            // members past 8 GiB use the base-256 size extension (high bit
            // set on the first size byte) — refuse loudly instead of
            // throwing an opaque NumberFormatException from the octal parse
            require((hdr(124) & 0x80) == 0,
              s"tdb: tar member '$name' uses base-256 size encoding " +
                "(> 8 GiB member) — unsupported; repack members under 8 GiB")
            val size = java.lang.Long.parseLong(
              cstr(hdr, 124, 12).trim match { case "" => "0"; case s => s }, 8)
            val typeflag = hdr(156)
            if (typeflag == '0'.toByte || typeflag == 0.toByte)
              members += name -> (file.toString, Member(off + 512, size))
            off += 512 + ((size + 511) / 512) * 512
          }
        }
        new TdbArchive(file.toString, isTar = true, members.result())
      } finally in.close()
    }

    private def cstr(b: Array[Byte], off: Int, max: Int): String = {
      var end = off
      while (end < off + max && b(end) != 0) end += 1
      new String(b, off, end - off, StandardCharsets.US_ASCII)
    }
  }

  /** Driver-side metadata: everything except the trail data itself.
    * Lexicons and the toc stay as member REFERENCES — a task reads only
    * its slice. */
  final case class TdbMeta(archive: TdbArchive, version: Long,
      numTrails: Long, numEvents: Long, minTimestamp: Long,
      maxTimestamp: Long, maxTimestampDelta: Long,
      fieldNames: Seq[String]) extends Serializable {

    /** num_fields including the implicit time field 0. */
    def numFields: Int = fieldNames.length + 1

    /** The uuid index member: v0 predates the cookie→uuid rename
      * (src/tdb.c:357-369 "UUIDs used to be called cookies"). */
    def uuidsMember: String = if (version == 0L) "cookies" else "uuids"

    /** Bits for a literal's field id / per-field value, derived exactly
      * like huff_field_stats (src/tdb_huffman.c:232-247 with
      * bits_needed :34-43). `fieldBits` reads each lexicon's header
      * word; [[TdbScan]] forces it on the driver, so the value ships
      * with the serialized meta and no task repeats those reads. */
    lazy val fieldIdBits: Int = bitsNeeded(numFields.toLong)
    lazy val fieldBits: Array[Int] = {
      val a = new Array[Int](numFields)
      a(0) = bitsNeeded(maxTimestampDelta)
      var i = 0
      while (i < fieldNames.length) {
        a(i + 1) = bitsNeeded(lexiconSize(i + 1))
        i += 1
      }
      a
    }

    /** Lexicon entry count for ofield `field` (1-based) — just the
      * header word, not the whole member. */
    def lexiconSize(field: Int): Long = {
      val name = s"lexicon.${fieldNames(field - 1)}"
      val wide = archive.size(name) > 0xffffffffL
      val head = archive.readRange(name, 0L, if (wide) 8 else 4)
      if (wide) leLong(head, 0) else leInt(head, 0) & 0xffffffffL
    }

    /** Load one ofield's lexicon (field is 1-based). Each caller gets
      * its own load: nothing is kept once the caller drops it, so an
      * overwritten package never serves its predecessor's lexicon. */
    def lexicon(field: Int): Lexicon = {
      val name = s"lexicon.${fieldNames(field - 1)}"
      // honest bound: materialization is one JVM byte array, so a member
      // past ~2 GiB (u32-offset members up to 4 GiB are format-valid,
      // src/tdb.c:105-139) refuses HERE with the real reason instead of
      // readRange's generic one-read message
      require(archive.size(name) <= Int.MaxValue - 16L,
        s"tdb: lexicon member '$name' is ${archive.size(name)} bytes — " +
          "too large for the JVM reader's single-array materialization; " +
          "keep a db this wide in the parquet 'dir' layout")
      val raw = archive.readAll(name)
      val wide = archive.size(name) > 0xffffffffL
      val width = if (wide) 8 else 4
      val n = if (wide) leLong(raw, 0) else leInt(raw, 0) & 0xffffffffL
      // v1 stores n + 1 offsets (the last ends the last value), v0 n
      val offsets = if (version == 0L) n else n + 1
      require(n >= 0 && offsets <= (raw.length - width) / width,
        s"tdb: lexicon member '$name' claims $n values, more offsets " +
          s"than its ${raw.length} bytes hold")
      def offAt(i: Int): Long =
        if (wide) leLong(raw, width + i * 8)
        else leInt(raw, width + i * 4) & 0xffffffffL
      val bounds = new Array[Int](2 * n.toInt)
      var i = 0
      while (i < n) {
        val a = offAt(i)
        val b =
          if (version == 0L) {
            // v0 strings are 0-terminated, length via strlen
            // (src/tdb.c:134-136); v1 lengths come from the offset diff
            var e = a
            while (e >= 0 && e < raw.length && raw(e.toInt) != 0) e += 1
            e
          } else offAt(i + 1)
        // the values are read as unchecked views of `raw`, so an entry
        // outside it must refuse here
        require(0 <= a && a <= b && b <= raw.length,
          s"tdb: lexicon member '$name' entry ${i + 1} spans [$a, $b), " +
            s"outside its ${raw.length} bytes")
        bounds(2 * i) = a.toInt
        bounds(2 * i + 1) = b.toInt
        i += 1
      }
      new Lexicon(raw, bounds)
    }

    /** uuid hex for one trail (driver-side point access). */
    def uuidHex(trailId: Long): String =
      hexUtf8(archive.readRange(uuidsMember, trailId * 16, 16), 0).toString

    /** trails.toc entry width: u32 iff trails.data < 4 GiB
      * (src/tdb_decode.c:7-13). */
    def tocWidth: Int = if (archive.size("trails.data") < 0xffffffffL) 4 else 8

    /** Byte offset of trail `i` in trails.data (point read — the planner
      * samples boundaries instead of loading a num_trails-sized array). */
    def trailOffset(i: Long): Long = {
      val w = tocWidth
      val b = archive.readRange("trails.toc", i * w, w)
      if (w == 4) leInt(b, 0) & 0xffffffffL else leLong(b, 0)
    }
  }

  object TdbMeta {
    def open(path: String): TdbMeta = {
      val ar = TdbArchive.open(path)
      require(ar.has("info") && ar.has("fields"),
        s"tdb: $path has no info/fields members — not a tdb")
      val version =
        if (ar.has("version")) ar.readString("version").trim.toLong else 0L
      require(version <= 1L,
        s"tdb: format version $version unsupported (latest known is 1, " +
          "src/traildb.h:12-14)")
      val info = ar.readString("info").trim.split("\\s+").map(_.toLong)
      require(info.length >= 5, s"tdb: malformed info member")
      val fields = ar.readString("fields").split("\n", -1)
        .takeWhile(_.nonEmpty).toSeq
      TdbMeta(ar, version, info(0), info(1), info(2), info(3), info(4), fields)
    }
  }

  /** One ofield's lexicon: the member's bytes as read, plus each
    * entry's [start, end) in them (v0's NUL-terminated ends are found
    * once, at load). Entry `i` is value id i+1; id 0 is NULL and has no
    * entry. Values are [[UTF8String]] views of the member bytes — no
    * per-value object is kept and no value is copied or decoded. */
  final class Lexicon private[TdbFormat] (raw: Array[Byte], bounds: Array[Int]) {
    def size: Int = bounds.length / 2

    /** Entry `i` (value id i+1), viewing the member bytes. */
    def apply(i: Int): UTF8String =
      UTF8String.fromBytes(raw, bounds(2 * i), bounds(2 * i + 1) - bounds(2 * i))
  }

  // ---- primitive codecs ----

  def bitsNeeded(max: Long): Int = {
    var x = max
    var bits = if (x == 0) 1 else 0
    while (x != 0) { x >>>= 1; bits += 1 }
    bits
  }

  def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
    ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  def leLong(b: Array[Byte], off: Int): Long =
    (leInt(b, off) & 0xffffffffL) | ((leInt(b, off + 4) & 0xffffffffL) << 32)

  private val hexDigits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The 16 bytes at `b(off)` as 32 lowercase hex digits, written
    * straight into a new [[UTF8String]]'s bytes. */
  def hexUtf8(b: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((b(off + i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(off + i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def hexToBytes(s: String): Array[Byte] = {
    require(s.length % 2 == 0, s"odd-length hex: $s")
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((Character.digit(s.charAt(2 * i), 16) << 4) |
        Character.digit(s.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    out
  }

  /** Little-endian bit read of up to 48 bits (src/tdb_bits.h:9-14: a
    * 64-bit LE word load at byte offs>>3 shifted by offs&7 — the buffer
    * must have ≥7 padding bytes past the last addressed byte). `data`
    * is a little-endian view of the bytes, so the load is one bounds-
    * checked 8-byte read. */
  def readBits(data: ByteBuffer, offs: Long, bits: Int): Long =
    (data.getLong((offs >>> 3).toInt) >>> (offs & 7).toInt) &
      (if (bits >= 64) -1L else (1L << bits) - 1)

  /** 64-bit read as two ≤48-bit reads (src/tdb_bits.h:32-43). */
  def readBits64(data: ByteBuffer, offs: Long): Long =
    readBits(data, offs, 48) | (readBits(data, offs + 48, 16) << 48)

  // ---- item packing (src/tdb_types.h:105-135) ----

  def itemField(item: Long): Int =
    if ((item & 128L) == 0) (item & 127L).toInt
    else ((item & 127L) | (((item >>> 8) & 127L) << 7)).toInt

  def itemVal(item: Long): Long =
    if ((item & 128L) == 0) (item >>> 8) & 0xffffffffL
    else item >>> 16

  def makeItem(field: Int, value: Long): Long =
    if (field > 127 || value > 0xffffffL) {
      (field & 127L) | 128L | (((field >> 7) & 127L) << 8) | (value << 16)
    } else field.toLong | (value << 8)

  /** The expanded Huffman decode table: symbols (lo, hi 64 bits) + code
    * length per 16-bit index (1.3 MB), loaded by each reader that
    * needs it and kept no longer. */
  final class Codebook(val lo: Array[Long], val hi: Array[Long],
      val bits: Array[Int])

  def codebook(ar: TdbArchive, version: Long): Codebook = {
    val n = 65536
    val entry = if (version == 0L) 12 else 20
    require(ar.size("trails.codebook") >= n.toLong * entry,
      s"tdb: trails.codebook is ${ar.size("trails.codebook")} bytes, " +
        s"expected ${n.toLong * entry}")
    val raw = ByteBuffer.wrap(ar.readAll("trails.codebook"))
      .order(ByteOrder.LITTLE_ENDIAN)
    val lo = new Array[Long](n); val hi = new Array[Long](n)
    val bits = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (version == 0L) {
        // v0 entry: packed {u64 symbol, u32 bits}; the u64 packs the
        // bigram as (first item lo32, second item hi32) — widened to
        // the v1 (lo, hi) pair exactly like huff_convert_v0_codebook
        // (src/tdb_huffman.c:377-420)
        val sym = raw.getLong(i * 12)
        lo(i) = sym & 0xffffffffL
        hi(i) = sym >>> 32
        bits(i) = raw.getInt(i * 12 + 8)
      } else {
        lo(i) = raw.getLong(i * 20)
        hi(i) = raw.getLong(i * 20 + 8)
        bits(i) = raw.getInt(i * 20 + 16)
      }
      i += 1
    }
    new Codebook(lo, hi, bits)
  }

  /** Decodes trail bit streams in place in `bytes`, one trail per
    * [[reset]]. A trail's bytes must be followed by ≥13 readable bytes:
    * the worst-case [[readBits64]] at the last valid bit offset touches
    * byte `trailBytes + 12` (its second 16-bit half does a full 64-bit
    * word load 6 bytes past the first's base). Those bytes may be the
    * next trail's — as in the reference, which decodes inside its
    * mapping — or the padding after the last trail; call sites pad with
    * 16. Emits (timestamp, values) with values(i) = value id of ofield
    * i+1 (0 = NULL) — full events, edge-encoding already resolved
    * (src/tdb_decode.c:227-329's non-edge path). */
  final class TrailDecoder(meta: TdbMeta, cb: Codebook, bytes: Array[Byte]) {
    private val data = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private var sizeBits: Long = 0L
    private var offset: Long = 0L
    private var tstamp: Long = 0L
    private val prevVals = new Array[Long](meta.numFields)
    private val fieldIdBits = meta.fieldIdBits
    private val fieldBits = meta.fieldBits
    private val fieldIdMask = (1L << fieldIdBits) - 1
    // the gram in (gLo, gHi) is the next event's first, already decoded
    // by the previous event's look-ahead
    private var pending = false

    /** Start the trail stored in `data[from, from + trailBytes)`. */
    def reset(from: Long, trailBytes: Long): Unit = {
      val base = 8L * from
      offset = base + 3
      sizeBits =
        if (trailBytes == 0L) offset
        else base + 8L * trailBytes - readBits(data, base, 3)
      tstamp = meta.minTimestamp
      pending = false
      java.util.Arrays.fill(prevVals, 0L)
    }

    /** The gram decode of src/tdb_huffman.h:66-88: returns (loItem,
      * hiItem) packed as two longs via the out fields. */
    private var gLo = 0L
    private var gHi = 0L
    private def decodeGram(): Unit = {
      val enc = readBits64(data, offset)
      if ((enc & 1L) != 0) {
        val idx = ((enc >>> 1) & 0xffffL).toInt
        offset += cb.bits(idx) + 1
        gLo = cb.lo(idx); gHi = cb.hi(idx)
      } else {
        val field = ((enc >>> 1) & fieldIdMask).toInt
        val vBits = fieldBits(field)
        val value = (enc >>> (1 + fieldIdBits)) &
          (if (vBits >= 64) -1L else (1L << vBits) - 1)
        offset += 1 + fieldIdBits + vBits
        gLo = makeItem(field, value); gHi = 0L
      }
    }

    /** Advance to the next event; false at end of trail. After a true
      * return, read [[timestamp]] and [[values]]. */
    def next(): Boolean = {
      if (pending) pending = false
      else if (offset >= sizeBits) return false
      else decodeGram()
      tstamp += itemVal(gLo)
      var item = gHi
      if (item != 0) prevVals(itemField(item)) = itemVal(item)
      var more = true
      while (more && offset < sizeBits) {
        decodeGram()
        item = gLo
        var field = itemField(item)
        if (field != 0) {
          var continue = true
          while (continue) {
            prevVals(field) = itemVal(item)
            item = gHi; gHi = 0L
            field = itemField(item)
            continue = field != 0 && item != 0
          }
        } else {
          // a timestamp item starts the next event: keep its gram rather
          // than rewinding to decode it again
          pending = true
          more = false
        }
      }
      true
    }

    def timestamp: Long = tstamp
    /** Value id of ofield `i` (0-based), 0 = NULL. */
    def value(i: Int): Long = prevVals(i + 1)
  }
}
