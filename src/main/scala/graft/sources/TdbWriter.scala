package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Single-file `.tdb` PACKAGE writer (SURVEY §2 S2) — emits a format-v1
  * tar the REFERENCE engine can open (`tdb_open` on a non-directory path,
  * src/tdb.c:330-341; member layout src/tdb_cons_package.c:24-34 with
  * `tar.toc` pinned at byte 2560, src/tdb_package.h:11). This is the
  * sample/interchange artifact ("ship one file"), NOT the 100 TB storage
  * path — that is the Parquet trail layout.
  *
  * DISTRIBUTED ENCODE (round 13; driver-side before): per-trail bit
  * streams are independent given the lexicons + codebook, so trails
  * hash-partition by uuid, sorted within each partition on the stored
  * (uuid, time, seq) columns, and every expensive pass runs
  * executor-side over that one shuffle — the metadata walk, the Huffman
  * model's symbol counting (per-partition maps → one exact reduce by key
  * → the deterministic top-4096 candidate cut), and the encode itself (a
  * lazy per-trail iterator, nothing buffers past one trail).
  * Only ASSEMBLY is driver-side, inherently: the format is one
  * sequential tar, so the driver drains compact per-partition byte
  * blocks (the encoded stream is ~17 B/event — far smaller than the
  * rows) and concatenates data/toc/uuids in global trail order. The hard
  * cap is the tar size-field limit anyway; the in-memory caps below
  * guard the driver's assembly buffers, same bound as before.
  *
  * FOUR SPARK JOBS per package, all over one sorted shuffle read as
  * `InternalRow`s (the reference: one sort, then model and encode walks,
  * src/tdb_encode.c:399-569): the input shuffle (1); one RDD job that
  * walks every partition for its distinct values per field and merges
  * them in per-field reducers (1); one that walks them again, reduces
  * the model by key and takes its top rows (1); and one that encodes
  * every partition and hands each block to the driver as its task
  * finishes (1). Nothing is persisted: Spark keeps the shuffle's map
  * output, so the input plan runs once, and each walk re-sorts its own
  * partition.
  *
  * Encoding: HUFFMAN-CODED v1 streams by default (round 7; literal-only
  * before). Item frequencies are counted during the metadata pass, the
  * top symbols get canonical prefix codes (≤16 bits, matching the
  * codebook's 16-bit lookahead — src/tdb_huffman.h:20-23), and the
  * fully-expanded 65536-entry decode table is emitted; every emitted
  * item with a code becomes a flag-1 Huffman gram, everything else a
  * flag-0 literal `[0][field id][value]` (src/tdb_huffman.h:66-88 — the
  * reference's own encoder writes literals for every gram outside its
  * codemap). Codes are stored LOW-BITS-FIRST (the decode table matches
  * `idx & ((1<<bits)-1) == code`), so canonical MSB codes are
  * bit-reversed per length — prefix-freeness is preserved under
  * reversal. BIGRAM symbols are emitted too (round 8 — stale round-7
  * docs said otherwise): an event's (timestamp item, first changed-field
  * item) pair is counted as a candidate symbol alongside its two
  * unigrams, and the encoder fuses the pair into one flag-1 gram
  * whenever the bigram's code is shorter than its two parts — the
  * reference's big win on repetitive streams (src/tdb_encode_model.c:
  * 383-446 mines bigrams via Apriori; this writer admits the one
  * bigram shape that dominates trail data). `compress = false` restores
  * the literal-only stream (all-zero codebook, never consulted). Edge
  * encoding is exact either way: only items whose value CHANGED since
  * the trail's previous event are emitted, timestamps as deltas
  * (src/tdb_encode.c:108-125, 164-190).
  *
  * Conventions matched to the reference:
  *  - trails ordered by uuid as little-endian u128 (v1's binary-search
  *    index contract, src/tdb.c:552-585)
  *  - events within a trail ordered by time (ties by seq for determinism;
  *    the reference's qsort is unstable on ties, src/tdb_encode.c:106)
  *  - NULL and empty-string values both encode as value id 0 (NULL)
  *  - lexicon ids assigned in UTF-8 byte order of the values (the
  *    reference uses insertion order; any consistent order is
  *    format-valid)
  */
object TdbWriter {

  /** Driver drain cap for the in-memory package assembly, applied to
    * EACH of the two drained streams (event data and 16 B/trail uuids).
    * The ordered dataBuf/uuidBuf are a second full copy of the drained
    * blocks, so worst-case peak driver memory is ~2× the SUM of both
    * streams ≈ 4× this cap (≈3 GiB) — in practice the uuid stream is a
    * small fraction of the data stream, so the realistic peak is ~2×
    * the data cap (≈1.5 GiB). Also the per-partition encoder bound: one
    * partition's block can never exceed what the drain would refuse
    * anyway, and guarding executor-side fails loud BEFORE a skewed
    * partition's ByteArrayOutputStream hits the JVM's 2 GB array
    * ceiling — the uuid stream is the one that overflows first on
    * many-tiny-trail partitions, so it is guarded too. */
  private[graft] final val DrainCapBytes: Long = 3L << 28 // 768 MiB

  def writePackage(df: DataFrame, fieldNames: Seq[String], out: String,
      compress: Boolean = true, bigrams: Boolean = true,
      maxLexiconValues: Long = DefaultMaxLexiconValues): Unit =
    writeImpl(df, fieldNames, out, compress, v0 = false, bigrams,
      maxLexiconValues)

  /** Driver-lexicon guard for the single-file export: the format packs
    * EVERY distinct field value into one in-memory lexicon section
    * (reference: src/tdb_cons.c lexicon build — the same inherent
    * single-node bound), so a field whose cardinality exceeds the cap
    * must refuse loudly instead of OOMing the driver mid-export. 2^22
    * values (~a few hundred MB of strings at typical value sizes) is far
    * past any db the single-file format is suited for; callers exporting
    * a wider lexicon on a big driver raise the cap explicitly. Same
    * sizing discipline as [[graft.ops.Dedup.bloomDedup]]'s
    * maxBloomBytes. */
  val DefaultMaxLexiconValues: Long = 1L << 22

  /** Write a FORMAT-V0 directory — the pre-release layout (no `version`
    * file, `cookies` instead of `uuids`, 0-terminated lexicon strings,
    * packed 12-byte codebook entries with u64 bigram symbols, and NO
    * uuid-order guarantee: src/tdb.c:255-261,357-369,134-136;
    * src/tdb_huffman.c:377-420). The reference can READ v0 but has not
    * been able to WRITE it since v1 shipped, so this writer exists to
    * make v0 READ support testable at all: fixtures it produces are
    * validated against the reference C engine (TdbInteropSpec) and then
    * against graft's own reader. Trails are deliberately emitted in hex-
    * string uuid order — NOT the v1 LE-u128 order — so a reader that
    * wrongly binary-searches a v0 index fails the spec. */
  def writeV0Directory(df: DataFrame, fieldNames: Seq[String], out: String,
      compress: Boolean = true,
      maxLexiconValues: Long = DefaultMaxLexiconValues): Unit =
    writeImpl(df, fieldNames, out, compress, v0 = true, bigrams = true,
      maxLexiconValues)

  /** `bigrams = false` mirrors the reference CLI's `--no-bigrams`
    * (tdbcli/main.c usage; TDB_CONS_NO_BIGRAMS in tdb_cons_finalize):
    * unigram Huffman codes only — the codebook carries no fused symbols,
    * trading compression for a cheaper model pass. Format-valid either
    * way; the reader handles both. */
  private def writeImpl(df: DataFrame, fieldNames: Seq[String], out: String,
      compress: Boolean, v0: Boolean, bigrams: Boolean,
      maxLexiconValues: Long = DefaultMaxLexiconValues): Unit = {
    import graft.core.TrailSchema.{SeqCol, TimeCol, UuidCol}
    val spark = df.sparkSession

    require(maxLexiconValues > 0, "maxLexiconValues must be positive")
    // the reference validates field names at tdb_cons_open; here an
    // empty, newline-bearing, or duplicate name would write a `fields`
    // member the reader MISPARSES (blank-line truncation shifts every
    // field's bit width; duplicate lexicon members resolve last-wins) —
    // garbage decodes with no error, so refuse loudly up front
    require(fieldNames.forall(f => f != null && f.nonEmpty),
      "tdb export: empty field name")
    require(fieldNames.forall(f => !f.contains("\n") && !f.contains("\u0000")),
      "tdb export: field names must not contain newlines or NULs")
    require(fieldNames.distinct.length == fieldNames.length,
      "tdb export: duplicate field names: " +
        fieldNames.diff(fieldNames.distinct).distinct.mkString(", "))

    // ONE shuffle, HASH-partitioned on the trail key (hash, not range:
    // range partitioning costs an extra sampling pass over the input and
    // buys nothing here — global trail order is restored for free at
    // assembly, where the driver sorts the per-partition uuid lists it is
    // already holding). Trails never straddle partitions (equal keys hash
    // together) and each sits contiguous and time-ordered (the sort), so
    // every later pass is a partition walk. The sort is on the stored
    // columns, so within a partition trails sit in hex order, not in the
    // format's LE-u128 order: a computed LE key would be rebuilt inside
    // every comparison, and the assembly sort owns trail order anyway.
    // Every pass below is an RDD job over this one query's InternalRows:
    // Spark keeps the shuffle's map output, so the input plan (often an
    // expensive upstream) is computed exactly once, and each walk re-sorts
    // its own partition. The partition count is pinned: a bare
    // repartition by column lets AQE coalesce a small input into one
    // partition, and every walk would then run as a single task.
    // normalize hex case up front: "AB12…" and "ab12…" are the same
    // 16 raw bytes, and without this they would hash-partition and group
    // as TWO trails — duplicate keys in the uuid index, one unreachable
    // under the reference's unique-key binary search (src/tdb.c:552-585)
    val rows = df.select(
      (lower(col(UuidCol)).as(UuidCol) +: col(TimeCol) +:
        (if (df.columns.contains(SeqCol)) col(SeqCol) else lit(0L).as(SeqCol)) +:
        fieldNames.map(f => col(f).cast("string"))): _*)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col(UuidCol))
      .sortWithinPartitions(col(UuidCol), col(TimeCol), col(SeqCol))
      .queryExecution.toRdd
    val reducers = math.max(1, rows.getNumPartitions)

    val nF = fieldNames.length
    val lexicons = readLexicons(rows, reducers, fieldNames, maxLexiconValues)
    // broadcast the sorted value arrays once — the model and encode
    // walks both need value → id maps on executors, which each executor
    // builds once per broadcast (LexiconIds.ids), not per task or row
    val bcLex = spark.sparkContext.broadcast(new LexiconIds(lexicons))

    // pass 1 (DISTRIBUTED model + metadata, ONE walk): each partition
    // replays the edge-encoding walk the encode pass will do, emitting
    //  - kind 0: Huffman symbol frequency rows (lo, hi item pair — hi=0
    //    unigram, hi!=0 the (ts, first-changed) BIGRAM candidate, the
    //    reference's big win on repetitive streams; the decoder's bigram
    //    path is spec-proven). First-event timestamp items (delta =
    //    ts − minTs) are SKIPPED — minTs is unknown during the walk —
    //    which only forfeits one potential code hit per trail, never
    //    correctness. Per-partition map growth is capped: past the cap,
    //    new items stop being admitted (compression degrades gracefully,
    //    correctness never). Which items a capped partition admits
    //    follows its walk order, which is hex uuid order.
    //  - kind 1: per-partition metadata (events, trails, min/max ts,
    //    intra-trail max delta, max first-event ts), keyed by stat id.
    // ONE RDD job over the sorted InternalRows (no Row encoder, no
    // Catalyst plan) reduces both exactly by key and takes the six stat
    // rows (kind 1 sorts first) and the deterministic top-4096 candidate
    // cut: count ≥ 2, (-count, lo, hi) order — buildCodes' driver-side
    // cut, computed where the data is. Each partition's counter is
    // already one row per key, so the walk ships every reducer ONE
    // packed block of its keys' (lo, hi, count) triples (reducer 0 also
    // gets the stats) and each reducer merges its blocks into a
    // counter: symbol counts, events and trails by sum, the minimum
    // timestamp by min, the other stats by max (never a sum of
    // timestamps).
    val compressL = compress
    val bigramsL = bigrams
    val modelRows = rows.mapPartitions { it =>
      val ids = bcLex.value.ids
      // primitive open-addressing counter: the boxed HashMap version
      // cost ~120 B/entry (~0.5 GB of untracked task heap at the cap,
      // OOM-prone under concurrent tasks); this is 24 B/slot, grown by
      // doubling so sparse partitions stay tiny
      val m = new PairCounter(1 << 22)
      def count(lo: Long, hi: Long): Unit = if (compressL) m.add(lo, hi, 1L)
      var events = 0L; var trails = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      var mxd = 0L; var mxFirst = Long.MinValue
      var curUuid: UTF8String = null
      var prevTs = 0L
      val prevVals = new Array[Long](nF + 1)
      while (it.hasNext) {
        val r = it.next()
        val uuid = r.getUTF8String(0)
        // the one null guard of the write: the encode walk reads a null
        // time as 0 and groups null uuids with no trail of their own
        if (uuid == null) throw new NullPointerException(
          "tdb package: null uuid — the uuids index holds one raw " +
            "16-byte uuid per trail (tdb_cons_add) and has no null entry")
        if (r.isNullAt(1)) throw new NullPointerException(
          "tdb package: null time in trail " + uuid)
        val ts = r.getLong(1)
        events += 1
        if (ts < mn) mn = ts
        if (ts > mx) mx = ts
        val isFirst = uuid != curUuid
        if (isFirst) {
          // the sort reuses its rows: keep a copy of the trail's uuid
          curUuid = uuid.clone()
          trails += 1
          if (ts > mxFirst) mxFirst = ts
          java.util.Arrays.fill(prevVals, 0L)
        } else if (ts - prevTs > mxd) mxd = ts - prevTs
        // every emitted item counts as a unigram (so every emission path
        // has a fallback code), and an intra event's (ts item, first
        // changed item) pair ALSO counts as a bigram candidate — the
        // double-weighting skews code lengths slightly, it never loses a
        // code path
        var firstChanged = -1L
        var f = 0
        while (f < nF) {
          val v = valueId(ids(f), r.getUTF8String(3 + f))
          if (v != prevVals(f + 1)) {
            val item = TdbFormat.makeItem(f + 1, v)
            if (firstChanged == -1L) firstChanged = item
            count(item, 0L)
            prevVals(f + 1) = v
          }
          f += 1
        }
        // ts item needs minTs for a FIRST event's delta, so it (and the
        // bigram) count for intra-trail events only
        if (!isFirst) {
          val tsItem = TdbFormat.makeItem(0, ts - prevTs)
          count(tsItem, 0L)
          if (bigramsL && firstChanged != -1L) count(tsItem, firstChanged)
        }
        prevTs = ts
      }
      val blocks = Array.fill(reducers)(new ArrayBuilder.ofLong)
      m.iterator.foreach { case (l, h, c) =>
        val b = blocks(reducerOf(l, h, reducers)); b += l; b += h; b += c
      }
      val stats =
        if (events == 0) null
        else Array(events, trails, mn, mx, mxd, mxFirst)
      Iterator.tabulate(reducers)(p =>
        (p, (blocks(p).result(), if (p == 0) stats else null)))
    }.partitionBy(new HashPartitioner(reducers)).mapPartitions { it =>
      val sums = new PairCounter(Int.MaxValue)
      var stats: Array[Long] = null
      it.foreach { case (_, (syms, st)) =>
        var i = 0
        while (i < syms.length) {
          sums.add(syms(i), syms(i + 1), syms(i + 2)); i += 3
        }
        if (st != null) stats =
          if (stats == null) st
          else Array(stats(0) + st(0), stats(1) + st(1),
            math.min(stats(2), st(2)), math.max(stats(3), st(3)),
            math.max(stats(4), st(4)), math.max(stats(5), st(5)))
      }
      val statRows =
        if (stats == null) Iterator.empty
        else stats.iterator.zipWithIndex.map { case (v, i) => (1, i.toLong, 0L, v) }
      statRows ++ sums.iterator.collect { case (l, h, c) if c >= 2L => (0, l, h, c) }
    }.takeOrdered(4096 + StatCount)(ModelOrder)
    // stat id → value; every partition with events emits all six, so
    // they are all present or (no events at all) all absent
    val stats = new Array[Long](StatCount)
    val freqs = new java.util.HashMap[(Long, Long), Long]()
    modelRows.foreach { case (kind, lo, hi, cnt) =>
      if (kind == 1) stats(lo.toInt) = cnt
      else freqs.put((lo, hi), cnt)
    }
    val numEvents = stats(0)
    val numTrails = stats(1)
    val minTs = stats(2)
    val maxTs = stats(3)
    var maxDelta = stats(4)
    if (numEvents > 0 && stats(5) - minTs > maxDelta)
      maxDelta = stats(5) - minTs
    val codeMap = buildCodes(freqs)
    // v0 codebook symbols are u64 (two 32-bit item halves) — a code for a
    // wide item or a wide-item bigram cannot be represented, so such
    // symbols go back to the literal path (correct either way; the
    // encoder always falls back when a symbol has no code)
    if (v0) codeMap.entrySet().removeIf(e =>
      e.getKey._1 > 0xffffffffL || e.getKey._2 > 0xffffffffL)
    // exact reference bound: valid deltas are 0..TDB_MAX_TIMEDELTA-1 and
    // min_timestamp < TDB_MAX_TIMEDELTA, TDB_MAX_TIMEDELTA = 2^47 - 1
    // (src/tdb_encode.c:113-122 `delta < TDB_MAX_TIMEDELTA`, :150-152)
    val MaxTimedelta = (1L << 47) - 1
    if (maxDelta >= MaxTimedelta || minTs >= MaxTimedelta)
      throw graft.core.GraftError.TimestampTooLarge(
        s"tdb package: timestamp delta $maxDelta / min $minTs exceeds " +
          "TDB_MAX_TIMEDELTA = 2^47 - 1 (src/tdb_limits.h:33, " +
          "src/tdb_encode.c:113-122)")
    // the reference's timestamps are u64: a NEGATIVE min would round-trip
    // through graft's own reader but write an info member the C engine
    // parses as ~2^64, corrupting every decoded timestamp — refuse
    if (minTs < 0L)
      throw graft.core.GraftError.TimestampTooLarge(
        s"tdb package: negative timestamp $minTs — the format's " +
          "timestamps are unsigned (src/tdb_types.h)")

    val numFields = fieldNames.length + 1
    val fieldIdBits = TdbFormat.bitsNeeded(numFields.toLong)
    val fieldBits = new Array[Int](numFields)
    fieldBits(0) = TdbFormat.bitsNeeded(maxDelta)
    fieldNames.indices.foreach(i =>
      fieldBits(i + 1) = TdbFormat.bitsNeeded(lexicons(i).length.toLong))

    // pass 2 (DISTRIBUTED encode): every partition encodes ITS trails —
    // bigram Huffman gram when the event's (ts, first-field) pair has a
    // code that beats its two parts, unigram Huffman when an item's code
    // beats its literal, flag-0 literal otherwise (the reference's
    // split, src/tdb_huffman.c: everything outside the codemap goes
    // literal) — and emits ONE compact block per partition: the
    // concatenated trail bit-streams (the package's own ~17 B/event
    // density, NOT the rows), per-trail byte lengths, and the raw
    // 16-byte uuids. ONE job encodes every partition IN PARALLEL and
    // drains its block to the driver as the task finishes.
    val bcCodeMap = spark.sparkContext.broadcast(codeMap)
    val fieldIdBitsE = fieldIdBits
    val fieldBitsE = fieldBits
    val minTsE = minTs
    val encode: Iterator[InternalRow] => Block = { it =>
      val cm = bcCodeMap.value
      val ids = bcLex.value.ids
      def unigram(field: Int, value: Long): (Int, Int) = {
        val code = cm.get((TdbFormat.makeItem(field, value), 0L))
        // code only when it is SHORTER than the literal for this field —
        // a deep code can exceed a narrow field's literal width
        if (code != null && code._2 < fieldIdBitsE + fieldBitsE(field)) code
        else null
      }
      def costOf(field: Int, value: Long): Int = {
        val c = unigram(field, value)
        1 + (if (c != null) c._2 else fieldIdBitsE + fieldBitsE(field))
      }
      val enc = new BitWriter
      def emit(field: Int, value: Long): Unit = {
        val code = unigram(field, value)
        if (code != null) enc.huffman(code._1, code._2)
        else enc.literal(field, value, fieldIdBitsE, fieldBitsE)
      }
      // A malformed uuid would CORRUPT the package silently: hexToBytes
      // of a short string writes <16 bytes into the uuids member and
      // every later trail's index entry misaligns (non-hex chars turn
      // into garbage bytes the same way). The reference requires raw
      // 16-byte uuids at the API boundary (tdb_cons_add's uuid[16]);
      // this writer takes the repo's 32-hex form, so validate it at the
      // encoder, once per trail.
      def requireHexUuid(u: String): Unit =
        require(u.length == 32 && u.forall(c => Character.digit(c, 16) >= 0),
          s"tdb package: uuid '$u' is not 32 hex chars — the uuids " +
            "index is 16 raw bytes per trail and a malformed uuid " +
            "would corrupt every entry after it")
      val data = new ByteArrayOutputStream()
      val uuids = new ByteArrayOutputStream()
      val lens = ArrayBuffer.empty[Int]
      var curUuid: UTF8String = null
      var curRaw: Array[Byte] = null
      var prevTs = 0L
      val prevVals = new Array[Long](nF + 1)
      val chF = new Array[Int](nF + 1)
      val chV = new Array[Long](nF + 1)
      def flushTrail(): Unit = if (curUuid != null) {
        val bytes = enc.finish()
        lens += bytes.length
        data.write(bytes)
        uuids.write(curRaw)
        // executor-side size guard: fail loud here (with the partition's
        // running total) rather than in BAOS array growth near 2 GB on a
        // skewed-uuid partition — anything this size would be refused at
        // the driver drain regardless
        require(data.size().toLong < TdbWriter.DrainCapBytes,
          s"tdb package: one partition's encoded block (${data.size()} B " +
            s"after ${lens.length} trails) exceeds the 768 MiB writer " +
            "cap — a skewed uuid distribution concentrated too many " +
            "events in one partition; export a sample (the parquet " +
            "directory is the scale layout)")
        // the uuid stream (16 B/trail) is the buffer that overflows
        // FIRST on a many-tiny-trail partition — bound it independently
        require(uuids.size().toLong < TdbWriter.DrainCapBytes,
          s"tdb package: one partition's uuid stream (${uuids.size()} B " +
            s"after ${lens.length} trails) exceeds the 768 MiB writer " +
            "cap — too many tiny trails landed in one partition; " +
            "export a sample (the parquet directory is the scale layout)")
      }
      while (it.hasNext) {
        val r = it.next()
        val uuid = r.getUTF8String(0); val ts = r.getLong(1)
        if (uuid != curUuid) {
          flushTrail()
          val hex = uuid.toString
          requireHexUuid(hex)
          curUuid = uuid.clone(); curRaw = TdbFormat.hexToBytes(hex)
          prevTs = minTsE
          java.util.Arrays.fill(prevVals, 0L)
          enc.reset()
        }
        // gather this event's changed (field, value) items first — the
        // bigram decision needs the ts item and the FIRST changed item
        // together before anything is written
        var nCh = 0
        var f = 0
        while (f < nF) {
          val v = valueId(ids(f), r.getUTF8String(3 + f))
          if (v != prevVals(f + 1)) {
            chF(nCh) = f + 1; chV(nCh) = v; nCh += 1
            prevVals(f + 1) = v
          }
          f += 1
        }
        val delta = ts - prevTs
        prevTs = ts
        var from = 0
        val big = if (!bigramsL || nCh == 0) null else cm.get(
          (TdbFormat.makeItem(0, delta), TdbFormat.makeItem(chF(0), chV(0))))
        if (big != null &&
            big._2 + 1 < costOf(0, delta) + costOf(chF(0), chV(0))) {
          enc.huffman(big._1, big._2); from = 1
        } else emit(0, delta)
        var c = from
        while (c < nCh) { emit(chF(c), chV(c)); c += 1 }
      }
      flushTrail()
      if (lens.isEmpty) null
      else (uuids.toByteArray, lens.toArray, data.toByteArray)
    }

    // driver-side ASSEMBLY, the format's inherent single stream: the
    // job's result handler receives the compact per-partition blocks as
    // their tasks finish, then the driver puts trails in GLOBAL order
    // with one sort over the uuid keys (the only place trail order is
    // set; partitions hold theirs in hex order): v1 orders by the uuid's
    // little-endian u128 value (compare raw bytes reversed), v0 by hex
    // string == raw byte order. The drain cap is 768 MiB: the ordered
    // dataBuf/uuidBuf below are a SECOND full copy of the blocks, so
    // peak driver memory is ~2× the cap — 1.5 GiB total, refused LOUDLY
    // rather than dying in ByteArrayOutputStream's array growth near
    // Int.MaxValue (uuids at 16 B/trail can hit the limit first on
    // many-tiny-trail corpora). The handler only records a refusal (a
    // throw there would surface as SparkDriverExecutionException) and
    // keeps no block past it; the driver throws it after the job. All
    // blocks travel in one job, so spark.driver.maxResultSize (1 GiB by
    // default) also bounds their sum.
    val blockAt = new Array[Block](rows.getNumPartitions)
    var refusal: String = null
    locally {
      var dataBytes = 0L; var uuidBytes = 0L; var trailsSeen = 0L
      spark.sparkContext.runJob(rows, encode, (pid: Int, b: Block) =>
        if (b != null && refusal == null) {
          dataBytes += b._3.length.toLong
          uuidBytes += b._1.length.toLong
          trailsSeen += b._2.length.toLong
          if (dataBytes < TdbWriter.DrainCapBytes &&
              uuidBytes < TdbWriter.DrainCapBytes) blockAt(pid) = b
          else refusal =
            s"tdb package: trails.data ($dataBytes B) or uuids " +
              s"($uuidBytes B) exceeds the 768 MiB in-memory writer " +
              s"cap after $trailsSeen trails — export a sample " +
              "(the parquet directory is the scale layout)"
        })
    }
    require(refusal == null, refusal)
    val blocks = blockAt.filter(_ != null)
    val totalTrails = blocks.map(_._2.length.toLong).sum
    require(totalTrails == numTrails,
      s"tdb package: encoded $totalTrails trails, metadata counted " +
        s"$numTrails — partition walk diverged (report this)")
    // global order: index every trail as (block, idx, uuidOff, dataOff)
    // and sort by its 16 uuid bytes under the format's comparator
    final case class TrailRef(block: Int, uuidOff: Int, dataOff: Long,
      len: Int)
    val refs = new Array[TrailRef](
      math.toIntExact(totalTrails))
    var ri = 0
    blocks.zipWithIndex.foreach { case ((_, lens, _), bi) =>
      var off = 0L
      var i = 0
      while (i < lens.length) {
        refs(ri) = TrailRef(bi, i * 16, off, lens(i))
        off += lens(i); i += 1; ri += 1
      }
    }
    val cmp = new java.util.Comparator[TrailRef] {
      override def compare(a: TrailRef, b: TrailRef): Int = {
        val ua = blocks(a.block)._1; val ub = blocks(b.block)._1
        var i = 0
        while (i < 16) {
          // v1: LE-u128 order == most-significant byte LAST
          val ia = if (v0) a.uuidOff + i else a.uuidOff + 15 - i
          val ib = if (v0) b.uuidOff + i else b.uuidOff + 15 - i
          val d = (ua(ia) & 0xff) - (ub(ib) & 0xff)
          if (d != 0) return d
          i += 1
        }
        0
      }
    }
    java.util.Arrays.sort(refs, cmp)
    val dataBuf = new ByteArrayOutputStream()
    val tocBuf = scala.collection.mutable.ArrayBuffer[Long]()
    val uuidBuf = new ByteArrayOutputStream()
    refs.foreach { t =>
      tocBuf += dataBuf.size().toLong
      dataBuf.write(blocks(t.block)._3, t.dataOff.toInt, t.len)
      uuidBuf.write(blocks(t.block)._1, t.uuidOff, 16)
    }
    tocBuf += dataBuf.size().toLong
    dataBuf.write(new Array[Byte](8)) // the 7-byte overread guarantee
                                      // (src/tdb_encode.c:352-355)

    // ---- assemble members ----
    val infoBytes = s"$numTrails $numEvents $minTs $maxTs $maxDelta\n"
      .getBytes(StandardCharsets.UTF_8)
    // v1 terminates the fields file with an extra blank line; v0 has no
    // such terminator — it reads until EOF (src/tdb.c fields_open comment)
    val fieldsBytes = (fieldNames.mkString("\n") +
      (if (v0) (if (fieldNames.nonEmpty) "\n" else "")
       else if (fieldNames.nonEmpty) "\n\n" else "\n"))
      .getBytes(StandardCharsets.UTF_8)
    // toc entries are u32: trails.data is capped at 768 MiB above, far
    // under the 4 GiB u32/u64 switch point (the READER still handles u64
    // tocs, for reference-written packages past 4 GiB)
    val tocWidth = 4
    val tocBytes = {
      val b = java.nio.ByteBuffer.allocate(tocBuf.length * tocWidth)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tocBuf.foreach(o => b.putInt(o.toInt))
      b.array()
    }
    val lexBytes: Seq[Array[Byte]] = lexicons.toSeq.map { data =>
      // v0 strings are 0-terminated (length read via strlen,
      // src/tdb.c:134-136); v1 lengths come from the offset diffs. The
      // offset table shape is identical — offsets simply point past the
      // accumulated NULs in v0.
      val term = if (v0) 1 else 0
      val headerLen = 4 + (data.length + 1) * 4
      val total = headerLen + data.map(_.length + term).sum
      require(total <= 0xffffffffL, "tdb package: >4 GiB lexicon unsupported")
      val b = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(data.length)
      var off = headerLen
      data.foreach { d => b.putInt(off); off += d.length + term }
      b.putInt(off)
      data.foreach { d => b.put(d); if (v0) b.put(0.toByte) }
      b.array()
    }
    val members: Seq[(String, Array[Byte])] =
      (if (v0) Seq.empty // v0 predates the version file (src/tdb.c:260-261)
       else Seq("version" -> "1".getBytes(StandardCharsets.UTF_8))) ++
      Seq("info" -> infoBytes) ++
      // tar.toc placeholder replaced below once offsets are known
      (if (v0) Seq.empty else Seq("tar.toc" -> Array.empty[Byte])) ++
      fieldNames.zip(lexBytes).map { case (f, b) => s"lexicon.$f" -> b } ++
      Seq("fields" -> fieldsBytes,
        "trails.codebook" ->
          (if (v0) codebookBytesV0(codeMap) else codebookBytes(codeMap)),
        "trails.toc" -> tocBytes,
        "trails.data" -> dataBuf.toByteArray,
        (if (v0) "cookies" else "uuids") -> uuidBuf.toByteArray)

    if (v0) {
      // v0 fixtures are directories (predating the single-file package)
      val dirPath = new HPath(out)
      val fs = dirPath.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      fs.mkdirs(dirPath)
      members.foreach { case (name, bytes) =>
        val os = fs.create(new HPath(dirPath, name), true)
        try os.write(bytes) finally os.close()
      }
      return
    }

    // reference-style max-size preallocation for tar.toc
    // (src/tdb_cons_package.c:166-199: name lengths + 43 bytes per line)
    val tocMax = members.map(_._1.length + 43).sum +
      "TAR TOC FOR TDB VER 1\n".length + 1
    val withToc = members.map {
      case ("tar.toc", _) => ("tar.toc", new Array[Byte](tocMax))
      case m => m
    }
    // data offsets are deterministic: headers at 512-byte boundaries
    var off = 0L
    val offsets = withToc.map { case (name, bytes) =>
      val dataOff = off + 512
      off = dataOff + ((bytes.length + 511L) / 512L) * 512L
      (name, dataOff, bytes.length.toLong)
    }
    require(offsets.find(_._1 == "tar.toc").get._2 == 2560L,
      "tdb package: tar.toc must land at byte 2560 (src/tdb_package.h:11)")
    val tocContent = ("TAR TOC FOR TDB VER 1\n" +
      offsets.map { case (n, o, s) => s"$n $o $s\n" }.mkString + "\n")
      .getBytes(StandardCharsets.UTF_8)
    require(tocContent.length <= tocMax, "tar.toc overflow")
    val finalMembers = withToc.map {
      case ("tar.toc", pad) =>
        ("tar.toc", tocContent ++ new Array[Byte](pad.length - tocContent.length))
      case m => m
    }

    // ---- write the tar ----
    val p = new HPath(out)
    val os = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration).create(p, true)
    try {
      finalMembers.foreach { case (name, bytes) =>
        os.write(tarHeader(name, bytes.length.toLong))
        os.write(bytes)
        val rem = (512 - (bytes.length % 512)) % 512
        if (rem > 0) os.write(new Array[Byte](rem))
      }
      os.write(new Array[Byte](1024)) // end-of-archive blocks
    } finally os.close()
  }

  /** One partition's encoded trails: raw 16-byte uuids, per-trail byte
    * lengths, and the concatenated trail bit-streams. */
  private type Block = (Array[Byte], Array[Int], Array[Byte])

  /** Rows the model pass emits per partition for the metadata: events,
    * trails, min ts, max ts, max intra-trail delta, max first-event ts. */
  private final val StatCount = 6

  /** The model reducer that owns symbol (lo, hi). */
  private def reducerOf(lo: Long, hi: Long, reducers: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(lo * 0x9e3779b97f4a7c15L + hi), reducers)

  /** The model rows' (kind, lo, hi, count) collect order: stats first
    * (kind desc), then count desc, lo, hi — a total order, as (kind, lo,
    * hi) is unique. */
  private object ModelOrder extends Ordering[(Int, Long, Long, Long)] {
    def compare(a: (Int, Long, Long, Long), b: (Int, Long, Long, Long)): Int = {
      var c = Integer.compare(b._1, a._1)
      if (c == 0) c = java.lang.Long.compare(b._4, a._4)
      if (c == 0) c = java.lang.Long.compare(a._2, b._2)
      if (c == 0) c = java.lang.Long.compare(a._3, b._3)
      c
    }
  }

  /** Per-field lexicons: the distinct non-null non-empty values as UTF-8
    * bytes, sorted by unsigned bytes (the order `orderBy` gives a string
    * column; String's UTF-16 compareTo orders supplementary characters
    * differently). ONE job, shaped like the model pass: each partition
    * walk keeps its distinct values per field in a set capped at cap+1
    * and ships every reducer ONE block, the values that hash to it; each
    * reducer merges its blocks per field under the same cap, and the
    * driver receives disjoint sets, stops growing a field past cap+1 and
    * sorts.
    *
    * The refusal is exact. A field with at most cap distinct values never
    * fills a set, so every value is shipped and the driver gets exactly
    * the distinct set. A field with more either fills some partition's set
    * (cap+1 distinct values shipped) or ships every value; in both cases
    * the reducers together hold more than cap values, because a reducer
    * either holds all it was sent or fills its own set. Memory is bounded
    * BEFORE the refusal fires — never "count then re-collect", and never an
    * uncapped collect that OOMs first and refuses never: a walk or a
    * reducer holds at most cap+1 values per field, the driver at most
    * cap+1 plus one reducer's block. */
  private def readLexicons(rows: RDD[InternalRow], reducers: Int,
      fieldNames: Seq[String], maxLexiconValues: Long): Array[Array[Array[Byte]]] = {
    val nF = fieldNames.length
    if (nF == 0) return Array.empty
    val keep = math.min(maxLexiconValues, Int.MaxValue - 1L).toInt + 1
    def sets() = Array.fill(nF)(new java.util.HashSet[UTF8String]())
    val merged = rows.mapPartitions { it =>
      val seen = sets()
      it.foreach { r =>
        var f = 0
        while (f < nF) {
          val s = seen(f)
          val v = r.getUTF8String(3 + f)
          // the sort reuses its rows: keep a copy of each new value
          if (s.size < keep && v != null && v.numBytes > 0 && !s.contains(v))
            s.add(v.clone())
          f += 1
        }
      }
      val blocks = Array.fill(reducers, nF)(ArrayBuffer.empty[Array[Byte]])
      seen.indices.foreach(f => seen(f).forEach(v =>
        blocks(Math.floorMod(31 * v.hashCode + f, reducers))(f) += v.getBytes))
      Iterator.tabulate(reducers)(p => (p, blocks(p).map(_.toArray)))
    }.partitionBy(new HashPartitioner(reducers)).mapPartitions { it =>
      val held = sets()
      it.foreach { case (_, block) =>
        block.indices.foreach(f => block(f).foreach(b =>
          if (held(f).size < keep) held(f).add(UTF8String.fromBytes(b))))
      }
      Iterator.single(held.map(_.toArray(Array.empty[UTF8String]).map(_.getBytes)))
    }
    val perField = Array.fill(nF)(ArrayBuffer.empty[Array[Byte]])
    rows.sparkContext.runJob(merged,
      (it: Iterator[Array[Array[Array[Byte]]]]) => it.next(),
      // past the cap the field is refused anyway: stop growing it
      (_: Int, part: Array[Array[Array[Byte]]]) =>
        part.indices.foreach(i =>
          if (perField(i).length < keep) perField(i) ++= part(i)))
    fieldNames.zip(perField).map { case (f, vals) =>
      if (vals.length > maxLexiconValues)
        throw graft.core.GraftError.LexiconTooLarge(
          s"tdb export: field '$f' has more than $maxLexiconValues " +
            "distinct values — the single-file .tdb format packs the " +
            "whole lexicon into one driver-resident section, so this " +
            "export would not fit. Raise maxLexiconValues explicitly " +
            "if the driver has the memory, or keep the db in the " +
            "parquet 'dir' layout (no lexicon bound).")
      vals.toArray.sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
    }.toArray
  }

  /** The broadcast lexicons. Executors build the value → id maps from the
    * sorted arrays once per broadcast (the lazy val is not serialized);
    * ids are 1-based, 0 being NULL. The maps are keyed by `UTF8String`,
    * so the walks look up a row's bytes as they are. */
  private final class LexiconIds(values: Array[Array[Array[Byte]]])
      extends Serializable {
    @transient lazy val ids: Array[java.util.HashMap[UTF8String, java.lang.Long]] =
      values.map { vs =>
        val m = new java.util.HashMap[UTF8String, java.lang.Long](vs.length * 2)
        vs.indices.foreach(i => m.put(UTF8String.fromBytes(vs(i)), i + 1L))
        m
      }
  }

  /** A value's lexicon id: NULL and the empty string are both id 0. */
  private def valueId(ids: java.util.HashMap[UTF8String, java.lang.Long],
      s: UTF8String): Long =
    if (s == null || s.numBytes == 0) 0L else ids.get(s)

  /** Minimal ustar header, field layout per the POSIX spec; magic matches
    * the reference packages' "ustar  \0" (old GNU) so headers byte-compare
    * with libarchive's output for the fields that matter. (Shared with
    * the WebDataset shard exporter — one tar builder in the repo.) */
  private[graft] def tarHeader(name: String, size: Long): Array[Byte] = {
    require(name.length < 100, s"tar member name too long: $name")
    require(size < (1L << 33), s"tar member $name too large: $size")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, h, off, b.length)
    }
    put(0, name)
    put(100, "0000644")
    put(108, "0000000")
    put(116, "0000000")
    put(124, f"$size%011o")
    put(136, "00000000000")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum spaces
    h(156) = '0'
    put(257, "ustar  ")
    val sum = h.foldLeft(0)((a, b) => a + (b & 0xff))
    put(148, f"$sum%06o")
    h(154) = 0
    h(155) = ' '
    h
  }

  /** Canonical prefix codes (≤16 bits) over the most frequent items,
    * stored LOW-BITS-FIRST to match the decode table's
    * `idx & ((1<<bits)-1) == code` convention — canonical MSB codes are
    * bit-reversed per length (prefix-freeness survives reversal: a
    * reversed code is a low-bits prefix of another iff the original was
    * an MSB prefix). Depth is capped by halving the symbol set until the
    * deepest code fits 16 bits (≤17 symbols always fit, so the loop
    * terminates). Returns item → (code, bits). */
  private def buildCodes(freqs: java.util.HashMap[(Long, Long), Long])
      : java.util.HashMap[(Long, Long), (Int, Int)] = {
    val out = new java.util.HashMap[(Long, Long), (Int, Int)]()
    if (freqs.isEmpty) return out
    import scala.jdk.CollectionConverters._
    var cands = freqs.asScala.toArray
      .filter(_._2 >= 2L).sortBy { case (sym, f) => (-f, sym._1, sym._2) }
      .take(4096)
    while (cands.length > 1) {
      // Huffman depths via the two-queue method over freq-sorted leaves
      val n = cands.length
      val leaves = cands.map(_._2).sorted
      val merged = new Array[Long](n - 1)
      val parent = new Array[Int](2 * n - 1) // node index → parent node
      var li = 0; var mi = 0; var mw = 0
      def takeMin(): (Long, Int) =
        if (li < n && (mi >= mw || leaves(li) <= merged(mi))) {
          li += 1; (leaves(li - 1), li - 1)
        } else { mi += 1; (merged(mi - 1), n + mi - 1) }
      while (mw < n - 1) {
        val (w1, i1) = takeMin(); val (w2, i2) = takeMin()
        merged(mw) = w1 + w2
        parent(i1) = n + mw; parent(i2) = n + mw
        mw += 1
      }
      val depth = new Array[Int](n)
      var i = 0
      while (i < n) {
        var d = 0; var node = i
        while (node != n + mw - 1) { node = parent(node); d += 1 }
        depth(i) = d; i += 1
      }
      if (depth.max <= 16) {
        // canonical assignment: (depth asc, item asc), then bit-reverse
        val byFreqAsc = cands.sortBy { case (sym, f) => (f, sym._1, sym._2) }
        val withDepth = byFreqAsc.zipWithIndex
          .map { case ((sym, _), ix) => (sym, depth(ix)) }
          .sortBy { case (sym, d) => (d, sym._1, sym._2) }
        var code = 0; var prevLen = withDepth.head._2
        withDepth.foreach { case (item, len) =>
          code <<= (len - prevLen); prevLen = len
          var rev = 0; var b = 0
          while (b < len) { rev = (rev << 1) | ((code >> b) & 1); b += 1 }
          out.put(item, (rev, len))
          code += 1
        }
        return out
      }
      cands = cands.take(math.max(1, cands.length / 2))
    }
    // a single symbol gets the 1-bit code 0
    if (cands.length == 1) out.put(cands(0)._1, (0, 1))
    out
  }

  /** The fully-expanded 65536-entry decode table for [[buildCodes]]'
    * output: every 16-bit index whose low `bits` bits equal a code maps
    * to that code's item (src/tdb_huffman.h:20-23); uncoded indexes stay
    * zeroed (never consulted by a stream this writer emits). */
  private def codebookBytes(
      codeMap: java.util.HashMap[(Long, Long), (Int, Int)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(65536 * 20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    codeMap.forEach { (sym, cb) =>
      val (code, bits) = cb
      val step = 1 << bits
      var idx = code
      while (idx < 65536) {
        b.position(idx * 20)
        b.putLong(sym._1); b.putLong(sym._2); b.putInt(bits)
        idx += step
      }
    }
    b.array()
  }

  /** The v0 decode table: same 65536-slot low-bits indexing, but packed
    * 12-byte entries {u64 symbol, u32 bits} where the symbol holds the
    * bigram as (first item lo32, second item hi32) — the inverse of
    * huff_convert_v0_codebook (src/tdb_huffman.c:377-420). Callers
    * guarantee every coded symbol's halves fit 32 bits. */
  private def codebookBytesV0(
      codeMap: java.util.HashMap[(Long, Long), (Int, Int)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(65536 * 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    codeMap.forEach { (sym, cb) =>
      val (code, bits) = cb
      val step = 1 << bits
      var idx = code
      while (idx < 65536) {
        b.position(idx * 12)
        b.putLong((sym._2 << 32) | sym._1); b.putInt(bits)
        idx += step
      }
    }
    b.array()
  }

  /** Open-addressing (lo, hi) → count map for the model pass's symbol
    * frequencies: three primitive long arrays (24 B/slot at ≤ 0.5 load)
    * instead of a boxed HashMap (~120 B/entry — half a GB of untracked
    * task heap at the cap). Starts at 2048 slots and doubles up to the
    * cap, so sparse partitions stay tiny; inserts past `cap` distinct
    * keys are dropped — the same silent-stop contract the HashMap cap
    * had (the global top-4096 cut only needs symbols frequent enough to
    * surface in every partition). Past the cap, which keys got in
    * follows the partition's walk order: hex uuid order, then (time,
    * seq). The model reducers merge the walks' counts into uncapped
    * counters, so the reduce is exact. The lexicon pass's per-field sets
    * are capped too, at maxLexiconValues + 1, but there a full set means
    * a refusal, never a silent stop ([[readLexicons]] has the argument).
    * Occupancy = nonzero count (live counts are positive). */
  private final class PairCounter(cap: Int) {
    private var mask = 2047
    private var los = new Array[Long](mask + 1)
    private var his = new Array[Long](mask + 1)
    private var cnts = new Array[Long](mask + 1)
    private var n = 0
    private def slot(l: Long, h: Long): Int = {
      var x = l * 0x9e3779b97f4a7c15L + h * 0xc2b2ae3d27d4eb4fL
      x ^= x >>> 29
      var i = (x & mask).toInt
      while (cnts(i) != 0L && !(los(i) == l && his(i) == h))
        i = (i + 1) & mask
      i
    }
    private def grow(): Unit = {
      val (ol, oh, oc) = (los, his, cnts)
      mask = mask * 2 + 1
      los = new Array[Long](mask + 1)
      his = new Array[Long](mask + 1)
      cnts = new Array[Long](mask + 1)
      var i = 0
      while (i < ol.length) {
        if (oc(i) != 0L) {
          val j = slot(ol(i), oh(i))
          los(j) = ol(i); his(j) = oh(i); cnts(j) = oc(i)
        }
        i += 1
      }
    }
    def add(l: Long, h: Long, c: Long): Unit = {
      val i = slot(l, h)
      if (cnts(i) != 0L) cnts(i) += c
      else if (n < cap) {
        // keep load ≤ 0.5 (mask+1 is the table size, n the live entries)
        if ((n + 1) * 2 > mask + 1) {
          grow()
          val j = slot(l, h)
          los(j) = l; his(j) = h; cnts(j) = c
        } else {
          los(i) = l; his(i) = h; cnts(i) = c
        }
        n += 1
      }
    }
    def iterator: Iterator[(Long, Long, Long)] =
      cnts.indices.iterator.filter(cnts(_) != 0L)
        .map(i => (los(i), his(i), cnts(i)))
  }

  /** Little-endian bit stream with the 3-bit length residual header
    * (src/tdb_encode.c:280-343). */
  private final class BitWriter {
    private var buf = new Array[Byte](256)
    private var offs = 3L // reserve the residual header

    def reset(): Unit = {
      // keep the grown capacity across trails (a fresh 256-byte array
      // per trail re-pays the whole doubling chain for every large
      // trail); zero only the used prefix plus the word the bit reader
      // may have touched past it
      java.util.Arrays.fill(buf, 0, math.min(buf.length.toLong,
        (offs + 7) / 8 + 8).toInt, 0.toByte)
      offs = 3L
    }

    private def ensure(bytes: Int): Unit =
      if (bytes > buf.length) {
        // fail loud BEFORE Int overflow: one trail approaching the JVM's
        // 2 GB array ceiling would wrap `bytes * 2` negative and die in
        // copyOf with an opaque NegativeArraySizeException — the drain
        // cap only checks between trails, not mid-trail
        require(bytes <= (1 << 30),
          s"tdb package: one trail's encoded stream needs $bytes bytes — " +
            s"past the 1 GiB single-trail bound (DrainCapBytes guards " +
            "whole partitions; this one TRAIL cannot fit the driver " +
            "assembly). Split the trail or keep the db in the parquet " +
            "'dir' layout.")
        buf = java.util.Arrays.copyOf(buf,
          math.min(1L << 30, bytes.toLong * 2).toInt)
      }

    private def writeBits(value: Long, bits: Int): Unit = {
      ensure(((offs + bits) / 8).toInt + 9)
      var v = value
      var rem = bits
      var o = offs
      while (rem > 0) {
        val byteIx = (o >>> 3).toInt
        val bitIx = (o & 7).toInt
        val take = math.min(8 - bitIx, rem)
        buf(byteIx) = (buf(byteIx) | (((v & ((1L << take) - 1)) << bitIx))).toByte
        v >>>= take
        o += take
        rem -= take
      }
      offs = o
    }

    /** One literal gram: [0][field: fieldIdBits][value: fieldBits(field)]
      * (the flag-0 branch of src/tdb_huffman.h:77-87). */
    def literal(field: Int, value: Long, fieldIdBits: Int,
        fieldBits: Array[Int]): Unit = {
      writeBits(0L, 1)
      writeBits(field.toLong, fieldIdBits)
      writeBits(value, fieldBits(field))
    }

    /** One Huffman gram: [1][code: bits, low-bits-first] (the flag-1
      * branch — the decoder's 16-bit lookahead matches the code on its
      * low `bits` bits and consumes bits+1). */
    def huffman(code: Int, bits: Int): Unit = {
      writeBits(1L, 1)
      writeBits(code.toLong, bits)
    }

    /** Close the trail: write the unused-bit residual into the first 3
      * bits and return the trimmed bytes. */
    def finish(): Array[Byte] = {
      val trailBytes = ((offs + 7) / 8).toInt
      val residual = 8L * trailBytes - offs
      buf(0) = (buf(0) | residual).toByte
      java.util.Arrays.copyOf(buf, trailBytes)
    }
  }
}
