package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{TdbFormat, TdbWriter}

/** The legacy `.tdb` read path (round 7): DataSourceV2 reader verified
  * against the reference's own in-tree fixture, plus write→read round
  * trips through the repo's v1 package writer. */
class TdbSourceSpec extends SparkSpec {
  import spark.implicits._

  private val refFixture = "/root/reference/test.tdb"

  test("reads the reference's in-tree test.tdb fixture exactly") {
    // expected content hand-derived from the published format: info
    // declares 2 trails / 2 events / timestamps 1463696903..1463696952;
    // lexicons hold (hello, it) and (world, works!)
    val df = spark.read.format("tdb").load(refFixture)
    assert(df.columns.toSeq === Seq("uuid", "time", "first_field", "second_field"))
    val rows = df.orderBy("uuid").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq(
      ("10" + "0" * 30, 1463696903L, "hello", "world"),
      ("20" + "0" * 30, 1463696952L, "it", "works!")))
  }

  test("open() refuses bucketSeconds on a legacy db (no partitioned layout)") {
    val e = intercept[IllegalArgumentException](
      graft.core.TrailDB.open(spark, refFixture, bucketSeconds = Some(3600L)))
    assert(e.getMessage.contains("no effect on a legacy"))
  }

  test("uuid pushdown prunes to single-trail partitions on the fixture") {
    val one = spark.read.format("tdb").load(refFixture)
      .filter(col("uuid") === "20000000000000000000000000000000")
    assert(one.rdd.getNumPartitions === 1)
    val got = one.collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got === Seq(("20000000000000000000000000000000", "it")))
    // a uuid absent from the index selects nothing, planning zero work
    val none = spark.read.format("tdb").load(refFixture)
      .filter(col("uuid") === "f" * 32)
    assert(none.count() === 0)
    assert(none.rdd.getNumPartitions === 0)
  }

  test("column pruning reaches the reader (BatchScan carries only projected fields)") {
    val plan = spark.read.format("tdb").load(refFixture)
      .select("time").queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && plan.contains("[time"), plan)
    assert(!plan.contains("first_field"), plan)
    val t = spark.read.format("tdb").load(refFixture)
      .agg(sum("time")).head().getLong(0)
    assert(t === 1463696903L + 1463696952L)
  }

  test("item codec packs/unpacks both widths and translates via the lexicon") {
    import graft.sources.TdbItems
    // property grid across both widths incl. the documented limits
    val grid = (for (f <- Seq(0L, 1L, 127L, 128L, 9999L, (1L << 14) - 2);
                     v <- Seq(0L, 1L, (1L << 24) - 1, 1L << 24, (1L << 40) - 2))
      yield (f, v)).toDF("f", "v")
    val bad = grid.select(TdbItems.itemField(
        TdbItems.makeItem(col("f"), col("v"))).as("fb"),
        TdbItems.itemVal(TdbItems.makeItem(col("f"), col("v"))).as("vb"),
        col("f"), col("v"))
      .filter(col("fb") =!= col("f") || col("vb") =!= col("v"))
    assert(bad.count() === 0, bad.collect().mkString(", "))
    // reference-pinned examples: field 1 val 1 packs to 0x101 (32-bit
    // form); the wide form sets bit 7
    assert(grid.sparkSession.range(1)
      .select(TdbItems.makeItem(lit(1), lit(1))).head().getLong(0) === 0x101L)
    assert((grid.sparkSession.range(1)
      .select(TdbItems.makeItem(lit(128), lit(1))).head().getLong(0) & 128L) === 128L)
    // value↔item on the reference fixture: first_field's lexicon is
    // (hello, it) in id order; item→string via the lexicon join
    val lex = TdbItems.lexiconDf(spark, refFixture, "first_field")
    assert(lex.orderBy("val_id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "hello"), (2L, "it")))
  }

  test("item codec registers for SQL (tdb_make_item / tdb_item_field / tdb_item_val)") {
    for (name <- Seq("tdb_make_item", "tdb_item_field", "tdb_item_val"))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, graft.GraftExtensions.builderFor(name), "built-in")
    val r = spark.sql(
      """SELECT tdb_make_item(1, 1) AS i32,
        |       tdb_item_field(tdb_make_item(9999, 16777216)) AS f64,
        |       tdb_item_val(tdb_make_item(9999, 16777216)) AS v64""".stripMargin)
      .head()
    assert(r.getLong(0) === 0x101L)
    assert(r.getLong(1) === 9999L && r.getLong(2) === 16777216L)
  }

  test("hand-built Huffman codebook decodes: bigram symbol, unigram code, literal mix") {
    // The repo's writer emits literal-only streams, so the Huffman branch
    // is otherwise exercised only by the reference's 2-event fixture.
    // This builds a member DIRECTORY from the format spec by hand: a
    // codebook with a 1-bit BIGRAM code (timestamp-delta item + field
    // item fused in one gram) and a 3-bit UNIGRAM code, mixed with
    // literal grams, plus edge-encoding inheritance across the mix.
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = Files.createTempDirectory("graft-tdb-huff")
    def put(name: String, bytes: Array[Byte]): Unit =
      Files.write(dir.resolve(name), bytes)
    val minTs = 1000L; val maxDelta = 10L
    val fieldIdBits = TdbFormat.bitsNeeded(2L) // numFields = 2 (time + k)
    val f0Bits = TdbFormat.bitsNeeded(maxDelta)
    val f1Bits = TdbFormat.bitsNeeded(2L) // lexicon size 2

    put("version", "1".getBytes)
    put("info", s"1 3 $minTs 1010 $maxDelta\n".getBytes)
    put("fields", "k\n\n".getBytes)
    locally { // lexicon.k: ["x", "y"] (ids 1, 2)
      val b = ByteBuffer.allocate(4 + 3 * 4 + 2).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(2); b.putInt(16); b.putInt(17); b.putInt(18)
      b.put('x'.toByte); b.put('y'.toByte)
      put("lexicon.k", b.array())
    }
    put("uuids", Array.fill[Byte](16)(0xab.toByte))
    // codebook: code 0b0 (1 bit) -> bigram (tsdelta 0, k:=1);
    //           code 0b101 (3 bits) -> unigram (k := 2).
    // The table is FULLY EXPANDED: every 16-bit index whose low `bits`
    // bits equal the code maps to the symbol (src/tdb_huffman.h:20-23).
    locally {
      val b = ByteBuffer.allocate(65536 * 20).order(ByteOrder.LITTLE_ENDIAN)
      val big = (TdbFormat.makeItem(0, 0L), TdbFormat.makeItem(1, 1L), 1)
      val uni = (TdbFormat.makeItem(1, 2L), 0L, 3)
      for (idx <- 0 until 65536) {
        val (lo, hi, bits) =
          if ((idx & 1) == 0) big
          else if ((idx & 7) == 5) uni
          else (0L, 0L, 0)
        b.putLong(lo); b.putLong(hi); b.putInt(bits)
      }
      put("trails.codebook", b.array())
    }
    // trail stream, LSB-first bit order (readBits contract)
    val bits = scala.collection.mutable.ArrayBuffer[Int]()
    def putBits(v: Long, n: Int): Unit =
      (0 until n).foreach(i => bits += ((v >>> i) & 1L).toInt)
    putBits(0L, 3) // unused-trailing-bits header, patched below
    putBits(1L, 1); putBits(0L, 1)                    // e1: huffman bigram
    putBits(0L, 1); putBits(0L, fieldIdBits); putBits(10L, f0Bits) // e2 ts+10
    putBits(1L, 1); putBits(5L, 3)                    // e2: huffman k:=y
    putBits(0L, 1); putBits(0L, fieldIdBits); putBits(0L, f0Bits)  // e3 ts+0
    val pad = (8 - bits.length % 8) % 8
    (0 until 3).foreach(i => bits(i) = ((pad >>> i) & 1))
    val data = new Array[Byte]((bits.length + pad) / 8)
    bits.zipWithIndex.foreach { case (v, i) =>
      if (v != 0) data(i / 8) = (data(i / 8) | (1 << (i % 8))).toByte }
    put("trails.data", data)
    locally {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0); b.putInt(data.length)
      put("trails.toc", b.array())
    }

    val rows = spark.read.format("tdb").load(dir.toString)
      .orderBy("time", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val u = "ab" * 16
    assert(rows === Seq((u, 1000L, "x"), (u, 1010L, "y"), (u, 1010L, "y")))
  }

  test("Huffman-coded package: round-trips exactly and shrinks vs literal-only") {
    // repetitive corpus — the shape Huffman exists for: few event types,
    // few props, regular 60s cadence (so the delta item repeats too)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      val u = f"${rnd.nextInt(50)}%032x"
      (u, 1000L + (i / 50) * 60L, Seq("view", "click", "buy")(rnd.nextInt(3)),
        if (rnd.nextInt(10) == 0) "rare" + i else "common")
    }
    val df = rows.toDF("uuid", "time", "event_type", "props")
      .withColumn("seq", col("time"))
    val dir = Files.createTempDirectory("graft-tdb-huffrt")
    val huff = s"$dir/huff.tdb"; val lit = s"$dir/lit.tdb"
    TdbWriter.writePackage(df, Seq("event_type", "props"), huff)
    TdbWriter.writePackage(df, Seq("event_type", "props"), lit,
      compress = false)
    def readBack(p: String) = spark.read.format("tdb").load(p)
      .select("uuid", "time", "event_type", "props")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).getOrElse(""),
        Option(r.getString(3)).getOrElse(""))).sorted.toSeq
    val a = readBack(huff); val b = readBack(lit)
    assert(a === b, "huffman and literal packages decode differently")
    assert(a === rows.map(t => (t._1, t._2, t._3, t._4)).sorted.toSeq)
    // the coded trails.data must be materially smaller; compare the
    // members, not the tars (the 1.3 MB expanded codebook dominates a
    // tiny package's total size by design — it amortizes at real size)
    def dataSize(p: String) =
      TdbFormat.TdbArchive.open(p).size("trails.data")
    // measured 0.43 with unigram+bigram codes; 0.5 leaves noise margin
    val (hs, ls) = (dataSize(huff), dataSize(lit))
    assert(hs < ls / 2, s"huffman trails.data $hs vs literal $ls")
  }

  test("package round trip: write v1 tar, read back, byte-exact trail frame") {
    val dir = Files.createTempDirectory("graft-tdb-rt")
    val out = s"$dir/rt.tdb"
    // edge cases on purpose: shared values across trails, a null value, an
    // empty-string value (both are NULL id 0), repeated timestamps,
    // a trail whose field value REVERTS (edge encoding must re-emit it),
    // uuids whose LE order differs from hex-string order
    val df = Seq(
      ("00" * 15 + "02", 100L, "a", "x"),
      ("00" * 15 + "02", 100L, "a", "y"),
      ("00" * 15 + "02", 150L, "b", null),
      ("00" * 15 + "02", 170L, "a", "x"),
      ("01" + "00" * 15, 90L, "", "y"),
      ("01" + "00" * 15, 260L, "c", "y")
    ).toDF("uuid", "time", "kind", "tag")
    TdbWriter.writePackage(df, Seq("kind", "tag"), out)

    val back = spark.read.format("tdb").load(out)
    assert(back.columns.toSeq === Seq("uuid", "time", "kind", "tag"))
    val got = back.orderBy("uuid", "time", "kind").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
    val want = Seq(
      ("00" * 15 + "02", 100L, "a", "x"),
      ("00" * 15 + "02", 100L, "a", "y"),
      ("00" * 15 + "02", 150L, "b", null),
      ("00" * 15 + "02", 170L, "a", "x"),
      ("01" + "00" * 15, 90L, null, "y"), // "" stored as NULL, like the reference
      ("01" + "00" * 15, 260L, "c", "y"))
      .sortBy(t => (t._1, t._2, Option(t._3).getOrElse("")))
    assert(got.toSeq === want)

    // the trail index is LE-u128 ordered: uuid 01.. (LE value 1) sorts
    // BEFORE 00..02 (LE value 2^120), opposite of hex-string order
    val meta = TdbFormat.TdbMeta.open(out)
    assert(meta.numTrails === 2 && meta.numEvents === 6)
    assert(meta.uuidHex(0) === "01" + "00" * 15)
    assert(meta.uuidHex(1) === "00" * 15 + "02")
    // and the v1 binary-search pushdown works against that order
    val hit = back.filter(col("uuid") === ("00" * 15 + "02"))
    assert(hit.count() === 4 && hit.rdd.getNumPartitions === 1)
  }

  test("round trip preserves a larger random corpus through edge encoding") {
    val rnd = new scala.util.Random(42)
    val uuids = (0 until 37).map(i => f"$i%032x")
    val rows = (0 until 1200).map { i =>
      (uuids(rnd.nextInt(uuids.length)), 1000L + rnd.nextInt(5000),
        s"e${rnd.nextInt(5)}", if (rnd.nextInt(8) == 0) null else s"v${rnd.nextInt(3)}")
    }
    val dir = Files.createTempDirectory("graft-tdb-rt2")
    val out = s"$dir/rt2.tdb"
    val df = rows.toDF("uuid", "time", "etype", "val").repartition(7)
    TdbWriter.writePackage(df, Seq("etype", "val"), out)
    val back = spark.read.format("tdb").load(out)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), Option(r.getString(3)).getOrElse("")))
      .sorted.toSeq
    val want = rows.map(t => (t._1, t._2, t._3, Option(t._4).getOrElse("")))
      .sorted.toSeq
    assert(back === want)
    // the scan honors the same partition-size knob as the parquet reader;
    // its 1 MiB floor keeps this package one range (the split itself is
    // covered by the "over 2 MiB" test)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try {
      val n = spark.read.format("tdb").load(out).count()
      assert(n === 1200L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a package over 2 MiB of trails.data splits into ranges that read the same rows as one range") {
    // random 40-bit timestamps and four 30000-value fields that change on
    // every event: ~15 literal-coded bytes per event
    val n = 200000L
    def pick(salt: Int) =
      concat(lit(s"v$salt-"), (abs(hash(col("id"), lit(salt))) % 30000).cast("string"))
    val df = spark.range(n).select(
      lower(lpad(hex(col("id") % 5000), 32, "0")).as("uuid"),
      (abs(xxhash64(col("id"))) % (1L << 40)).as("time"),
      pick(1).as("f1"), pick(2).as("f2"), pick(3).as("f3"), pick(4).as("f4"))
    val dir = Files.createTempDirectory("graft-tdb-split")
    val out = s"$dir/big.tdb"
    TdbWriter.writePackage(df, Seq("f1", "f2", "f3", "f4"), out, compress = false)
    val dataBytes = TdbFormat.TdbArchive.open(out).size("trails.data")
    assert(dataBytes > (2L << 20), s"trails.data is $dataBytes bytes")
    def withSplit[T](bytes: String)(body: => T): T = {
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", bytes)
      try body finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
    val whole = s"$dir/whole"
    withSplit("1g") {
      val one = spark.read.format("tdb").load(out)
      assert(one.rdd.getNumPartitions === 1)
      one.write.parquet(whole)
    }
    withSplit("1m") {
      val split = spark.read.format("tdb").load(out)
      assert(split.rdd.getNumPartitions > 1)
      val ref = spark.read.parquet(whole)
      for (cols <- Seq(split.columns.toSeq, Seq("f3"))) {
        val a = split.select(cols.map(col): _*)
        val b = ref.select(cols.map(col): _*)
        assert(a.count() === n && b.count() === n, cols)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, cols)
      }
    }
  }

  test("a directory of members opens like a tar package (tdb_open S_ISDIR path)") {
    val dir = Files.createTempDirectory("graft-tdb-dir")
    val out = s"$dir/d.tdb"
    TdbWriter.writePackage(
      Seq(("ab" * 16, 5L, "z")).toDF("uuid", "time", "k"), Seq("k"), out)
    // explode the tar into a member directory
    val mdir = Files.createDirectory(dir.resolve("members"))
    val meta = TdbFormat.TdbMeta.open(out)
    meta.archive.memberNames.foreach { m =>
      Files.write(mdir.resolve(m), meta.archive.readAll(m))
    }
    val viaDir = spark.read.format("tdb").load(mdir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(viaDir === Seq(("ab" * 16, 5L, "z")))
  }

  test("TrailDB.open and the CLI accept a legacy package directly") {
    val db = graft.core.TrailDB.open(spark, refFixture)
    assert(db.fields.toSet === Set("first_field", "second_field"))
    assert(db.df.count() === 2)
    // CLI dump over the legacy package (the reference user's first
    // command against their existing files)
    val dir = Files.createTempDirectory("graft-tdb-cli")
    graft.cli.Main.run(spark, "dump", Seq("-d", ",", "-i", refFixture,
      "-o", s"$dir/out", "--csv-header"))
    val dumped = spark.read.option("header", "true").csv(s"$dir/out")
    assert(dumped.count() === 2)
    assert(dumped.select("first_field").collect().map(_.getString(0)).toSet
      === Set("hello", "it"))
  }

  test("--no-bigrams: unigram-only codebook, still round-trips (reference flag parity)") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 600).map { i =>
      (f"${rnd.nextInt(12)}%032x", 1000L + (i / 12) * 30L,
        Seq("a", "b")(rnd.nextInt(2)))
    }
    val df = rows.toDF("uuid", "time", "etype")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-tdb-nobig")
    val big = s"$dir/big.tdb"; val nobig = s"$dir/nobig.tdb"
    TdbWriter.writePackage(df, Seq("etype"), big)
    TdbWriter.writePackage(df, Seq("etype"), nobig, bigrams = false)
    def readBack(p: String) = spark.read.format("tdb").load(p)
      .select("uuid", "time", "etype").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(readBack(nobig) === readBack(big))
    assert(readBack(nobig) === rows.sorted)
    // the no-bigrams codebook must carry NO fused symbols (hi all zero);
    // the regular-cadence corpus guarantees the default build has some
    def hasBigram(p: String): Boolean =
      TdbFormat.codebook(TdbFormat.TdbArchive.open(p), 1L).hi.exists(_ != 0L)
    assert(hasBigram(big), "test corpus failed to produce bigram symbols")
    assert(!hasBigram(nobig), "--no-bigrams codebook carries fused symbols")
    // and the fused symbols must actually pay on this regular-cadence
    // corpus: the bigram stream is strictly smaller
    def dataSize(p: String): Long =
      TdbFormat.TdbArchive.open(p).size("trails.data")
    assert(dataSize(big) < dataSize(nobig),
      s"bigram stream ${dataSize(big)} not smaller than unigram-only " +
        s"${dataSize(nobig)}")
  }

  test("TrailDB.open and the CLI accept a v0 directory directly") {
    val dir = Files.createTempDirectory("graft-tdb-v0cli")
    val df = Seq(
      ("0" * 31 + "1", 10L, "a"), ("0" * 31 + "1", 20L, "b"),
      ("0" * 31 + "2", 5L, "a")).toDF("uuid", "time", "etype")
    TdbWriter.writeV0Directory(df, Seq("etype"), s"$dir/v0db")
    val db = graft.core.TrailDB.open(spark, s"$dir/v0db")
    assert(db.fields.toSet === Set("etype") && db.df.count() === 3)
    graft.cli.Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/v0db",
      "-o", s"$dir/out", "--csv-header"))
    val dumped = spark.read.option("header", "true").csv(s"$dir/out")
    assert(dumped.count() === 3)
    assert(dumped.select("etype").collect().map(_.getString(0)).sorted.toSeq
      === Seq("a", "a", "b"))
  }

  test("make --package emits a single-file tar the CLI round-trips (S2)") {
    val dir = Files.createTempDirectory("graft-tdb-pkg")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 20).map(i => f"${i % 4}%032x,${100 + i},e${i % 3}").mkString("\n"))
    graft.cli.Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header", "--package", s"$dir/db.tdb"))
    // one regular file, ustar magic at 257
    val pkg = java.nio.file.Paths.get(s"$dir/db.tdb")
    assert(Files.isRegularFile(pkg))
    val head = Files.readAllBytes(pkg).slice(257, 262)
    assert(new String(head) === "ustar")
    // dump straight from the package
    graft.cli.Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db.tdb",
      "-o", s"$dir/out", "--csv-header"))
    val dumped = spark.read.option("header", "true").csv(s"$dir/out")
    assert(dumped.count() === 20)
    assert(dumped.select("uuid").distinct().count() === 4)
    // the package's trail frame matches the parquet db's
    val a = graft.core.TrailDB.open(spark, s"$dir/db").df
      .select("uuid", "time", "etype").collect().map(_.toString).sorted
    val b = graft.core.TrailDB.open(spark, s"$dir/db.tdb").df
      .select("uuid", "time", "etype").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("v0 directory roundtrip: cookies index, NUL lexicons, 12-byte codebook, linear lookup") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 800).map { i =>
      val u = f"${rnd.nextInt(25)}%032x"
      (u, 2000L + (i / 25) * 45L, Seq("a", "bb", "ccc")(rnd.nextInt(3)),
        if (rnd.nextInt(7) == 0) null else "v" + rnd.nextInt(5))
    }
    val df = rows.toDF("uuid", "time", "f1", "f2")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-tdb-v0rt")
    for (compress <- Seq(true, false)) {
      val out = s"$dir/v0-$compress"
      TdbWriter.writeV0Directory(df, Seq("f1", "f2"), out,
        compress = compress)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/version")))
      val meta = TdbFormat.TdbMeta.open(out)
      assert(meta.version === 0L && meta.uuidsMember === "cookies")
      val back = spark.read.format("tdb").load(out)
        .select("uuid", "time", "f1", "f2").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getString(2)).getOrElse(""),
          Option(r.getString(3)).getOrElse(""))).sorted.toSeq
      assert(back === rows.map(t => (t._1, t._2, t._3,
        Option(t._4).getOrElse(""))).sorted, s"compress=$compress")
      // uuid equality pushdown must use the v0 LINEAR path and still
      // prune to one trail's partition
      val one = spark.read.format("tdb").load(out)
        .filter(col("uuid") === f"${3}%032x")
      assert(one.count() === rows.count(_._1 == f"${3}%032x").toLong)
    }
  }

  test("future-versioned and malformed inputs refuse loudly") {
    val dir = Files.createTempDirectory("graft-tdb-bad")
    // v0 reads are supported (round 9); an UNKNOWN future version must
    // refuse, exactly like the reference (src/tdb.c:265-266
    // version > TDB_VERSION_LATEST → TDB_ERR_UNKNOWN_VERSION)
    Files.write(dir.resolve("version"), "2".getBytes)
    Files.write(dir.resolve("info"), "0 0 0 0 0".getBytes)
    Files.write(dir.resolve("fields"), "\n".getBytes)
    val e = intercept[IllegalArgumentException] {
      TdbFormat.TdbMeta.open(dir.toString)
    }
    assert(e.getMessage.contains("version 2"), e.getMessage)
    val e2 = intercept[Exception] {
      TdbFormat.TdbMeta.open(s"$dir/nope")
    }
    assert(e2.getMessage.contains("no such file"), e2.getMessage)
    // lexicon values are views of the member bytes, so an offset outside
    // the member (past its end, or a u32 of 2^31 or more) must refuse at
    // load rather than be read
    val pkg = s"$dir/lex.tdb"
    TdbWriter.writePackage(
      Seq(("ab" * 16, 5L, "z")).toDF("uuid", "time", "k"), Seq("k"), pkg)
    val good = TdbFormat.TdbArchive.open(pkg)
    val lex = good.readAll("lexicon.k")
    // (offset index, u32 value): the one value's end past the member,
    // then its start at 2^31
    for ((entry, off) <- Seq((1, lex.length + 1), (0, Int.MinValue))) {
      val mdir = Files.createTempDirectory(dir, "members")
      good.memberNames.foreach(m => Files.write(mdir.resolve(m), good.readAll(m)))
      val bad = lex.clone()
      java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4 + 4 * entry, off)
      Files.write(mdir.resolve("lexicon.k"), bad)
      val e3 = intercept[IllegalArgumentException] {
        TdbFormat.TdbMeta.open(mdir.toString).lexicon(1)
      }
      assert(e3.getMessage.contains("outside its"), e3.getMessage)
    }
  }

  test("SQL DDL surface: a tdb mounts as a temp view for plain SQL users") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ref_tdb " +
      s"USING tdb OPTIONS (path '$refFixture')")
    val rows = spark.sql(
      "SELECT uuid, time, first_field FROM ref_tdb ORDER BY uuid")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq(
      ("10" + "0" * 30, 1463696903L, "hello"),
      ("20" + "0" * 30, 1463696952L, "it")))
  }

  // ---- round-8 adversarial round trips ----

  private def roundTrip(rows: Seq[(String, Long, String, String)],
      tag: String, compress: Boolean = true): Unit = {
    val dir = Files.createTempDirectory(s"graft-tdb-$tag")
    val out = s"$dir/$tag.tdb"
    val df = rows.toDF("uuid", "time", "f1", "f2")
    TdbWriter.writePackage(df, Seq("f1", "f2"), out, compress = compress)
    val got = spark.read.format("tdb").load(out).collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).getOrElse(""), Option(r.getString(3)).getOrElse("")))
      .sorted.toSeq
    val want = rows
      .map(t => (t._1, t._2, Option(t._3).getOrElse(""), Option(t._4).getOrElse("")))
      .sorted
    assert(got === want, s"round trip '$tag' (compress=$compress) diverged")
  }

  test("multi-byte UTF-8 lexicon values round trip (byte offsets, not char counts)") {
    // lexicon offsets are BYTE offsets; these values are 1-4 bytes per
    // char (includes a surrogate-pair emoji) and share prefixes
    val u = "ab" * 16
    roundTrip(Seq(
      (u, 1L, "héllo", "日本語"),
      (u, 2L, "héllo!", "😀smile"),
      (u, 3L, "ascii", "日本"),
      (u, 4L, "héllo", null)), "utf8")
  }

  test("wide timestamp deltas (> 24-bit) round trip as wide items") {
    // deltas past 2^24 force the 64-bit item form for field 0; also a
    // 40+-bit delta (the narrow-value budget is 24 bits, wide is 48)
    val u1 = "0" * 31 + "1"; val u2 = "0" * 31 + "2"
    roundTrip(Seq(
      (u1, 0L, "a", "x"),
      (u1, (1L << 25) + 7, "b", "x"),
      (u1, (1L << 41) + 13, "a", "y"),
      (u2, (1L << 40) + 3, "c", null)), "widedelta")
  }

  test("byte-identical repeated events round trip (count preserved)") {
    // three fully identical events: edge encoding emits only the delta-0
    // timestamp gram for repeats — the event COUNT must still survive
    val u = "f" * 32
    roundTrip(Seq(
      (u, 5L, "a", "x"),
      (u, 5L, "a", "x"),
      (u, 5L, "a", "x"),
      (u, 6L, "a", "x")), "dupes")
  }

  test("value flips through NULL and back re-emit on each edge") {
    val u = "9" * 32
    roundTrip(Seq(
      (u, 1L, "a", "x"),
      (u, 2L, null, "x"), // a → NULL must be an explicit id-0 item
      (u, 3L, "a", "x"),  // NULL → a again
      (u, 4L, "", "x"),   // empty string IS null (reference convention)
      (u, 5L, "a", "x")), "nullflip")
  }

  test("all timestamps equal (maxDelta = 0) round trips") {
    roundTrip(Seq(
      ("1" * 32, 42L, "a", "x"),
      ("1" * 32, 42L, "b", "y"),
      ("2" * 32, 42L, "c", null)), "zerodelta")
  }

  test("literal-only stream (compress = false) round trips the same corpus") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { _ =>
      (f"${rnd.nextInt(9)}%032x", rnd.nextInt(1000).toLong,
        s"e${rnd.nextInt(4)}", if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(6)}")
    }
    roundTrip(rows, "literal", compress = false)
    roundTrip(rows, "huffman", compress = true)
  }

  test("zero ofields (time-only schema) round trips") {
    val dir = Files.createTempDirectory("graft-tdb-nofields")
    val out = s"$dir/nofields.tdb"
    val df = Seq(("3" * 32, 10L), ("3" * 32, 20L), ("4" * 32, 15L))
      .toDF("uuid", "time")
    TdbWriter.writePackage(df, Seq(), out)
    val back = spark.read.format("tdb").load(out)
    assert(back.columns.toSeq === Seq("uuid", "time"))
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      === Seq(("3" * 32, 10L), ("3" * 32, 20L), ("4" * 32, 15L)))
  }

  test("export refuses a field lexicon past maxLexiconValues instead of collecting it (r9 item 7)") {
    val dir = Files.createTempDirectory("graft-tdb-lexcap")
    // 'tag' has 12 distinct values; 'etype' has 2 — a cap of 10 must name
    // the offending FIELD and never OOM first (each partition ships at
    // most cap+1 values per field). In the first two runs no partition
    // holds more than 10 tags and only their union is over the cap; the
    // second keeps every shuffle partition (no AQE coalescing) on a
    // repartitioned input. In the third, one trail holds all 12 tags, so
    // one partition's set fills on its own. Neither the refusal nor the
    // export strands a cached RDD.
    val sc = spark.sparkContext
    val df = (0 until 24).map(i =>
        (f"${i % 3}%032x", 100L + i, s"e${i % 2}", s"t${i % 12}"))
      .toDF("uuid", "time", "etype", "tag")
    val oneTrail = (0 until 12).map(i => ("9" * 32, 100L + i, s"e${i % 2}", s"t$i"))
      .toDF("uuid", "time", "etype", "tag")
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    for ((input, spread, events) <- Seq((df, false, 24L),
        (df.repartition(4), true, 24L), (oneTrail, false, 12L))) try {
      if (spread) spark.conf.set(coalesce, "false")
      val cached = sc.getPersistentRDDs.keySet
      val e = intercept[graft.core.GraftError] {
        TdbWriter.writePackage(input, Seq("etype", "tag"), s"$dir/capped.tdb",
          maxLexiconValues = 10)
      }
      assert(e.errName === "TDB_ERR_LEXICON_TOO_LARGE")
      assert(e.getMessage.contains("'tag'") &&
        e.getMessage.contains("10"), e.getMessage)
      assert(sc.getPersistentRDDs.keySet === cached, "refusal leaked a cache")
      // at exactly the cardinality the export proceeds and round-trips
      val out = s"$dir/fits.tdb"
      TdbWriter.writePackage(input, Seq("etype", "tag"), out,
        maxLexiconValues = 12)
      assert(sc.getPersistentRDDs.keySet === cached, "export leaked a cache")
      val back = spark.read.format("tdb").load(out)
      assert(back.count() === events)
      assert(back.select("tag").distinct().count() === 12L)
    } finally spark.conf.unset(coalesce)
  }

  /** A fixed multi-partition frame: 9 trails, repeated timestamps split
    * by `seq`, NULL and empty values, and values repeated often enough to
    * earn unigram and bigram codes. */
  private def goldenFrame = {
    val rnd = new scala.util.Random(20261017)
    (0 until 600).map { i =>
      val t = rnd.nextInt(9)
      (f"${t * 0x1234567L}%032x", 1000L + (i / 9) * 60L + rnd.nextInt(2),
        i.toLong, Seq("view", "click", "buy", "")(rnd.nextInt(4)),
        if (rnd.nextInt(6) == 0) null else s"p${rnd.nextInt(5)}",
        if (rnd.nextInt(40) == 0) s"rare$i" else "common")
    }.toDF("uuid", "time", "seq", "etype", "page", "tag").repartition(3)
  }

  private def sha256(chunks: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(b => md.update(b))
    md.digest().map(b => f"$b%02x").mkString
  }

  test("golden bytes: the writer's packages keep their SHA-256") {
    // pins the exact output of every writer mode, so a change to how the
    // writer schedules its work can prove it left the bytes alone
    val dir = Files.createTempDirectory("graft-tdb-golden")
    val df = goldenFrame
    val fields = Seq("etype", "page", "tag")
    def pkg(name: String)(write: String => Unit): String = {
      val out = s"$dir/$name.tdb"
      write(out)
      sha256(Seq(Files.readAllBytes(java.nio.file.Paths.get(out))))
    }
    assert(pkg("default")(TdbWriter.writePackage(df, fields, _)) ===
      "205b796222af940b554c053b9924df1dce37ad40516caa028b3ca2084207744d")
    assert(pkg("literal")(TdbWriter.writePackage(df, fields, _,
      compress = false)) ===
      "f9ddc5bc74af9035b372c47b3e1731553216afac5601000ec7c46e810390079e")
    assert(pkg("unigram")(TdbWriter.writePackage(df, fields, _,
      bigrams = false)) ===
      "b08f53178aa1fc402b20ee67619f3e987bfdb346afeaaf1d58cd958ff23b91a2")
    val v0 = dir.resolve("v0")
    TdbWriter.writeV0Directory(df, fields, v0.toString)
    val members = Files.list(v0).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted
    assert(members.toSeq === Seq("cookies", "fields", "info", "lexicon.etype",
      "lexicon.page", "lexicon.tag", "trails.codebook", "trails.data",
      "trails.toc"))
    assert(sha256(members.toSeq.flatMap(m =>
      Seq(m.getBytes("UTF-8"), Files.readAllBytes(v0.resolve(m))))) ===
      "a185cc9a77bc28d1262632db1ba9b2ef1b19cabcca9da3b61447ce2f11e06c0f")
  }

  test("lexicon ids follow UTF-8 byte order, not UTF-16 String order") {
    // String.compareTo puts U+FFFD after the surrogate pair of U+1F600;
    // their UTF-8 bytes (EF BF BD < F0 9F 98 80) order them the other way
    val u = "cd" * 16
    val values = Seq("\uFFFD", "\uD83D\uDE00", "\u00e9", "z")
    val dir = Files.createTempDirectory("graft-tdb-utf8order")
    val out = s"$dir/order.tdb"
    TdbWriter.writePackage(values.zipWithIndex
      .map { case (v, i) => (u, i.toLong, v) }.toDF("uuid", "time", "k"),
      Seq("k"), out)
    val lex = graft.sources.TdbItems.lexiconDf(spark, out, "k")
      .orderBy("val_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(lex.toSeq === Seq(1L -> "z", 2L -> "\u00e9", 3L -> "\uFFFD",
      4L -> "\uD83D\uDE00"))
    val back = spark.read.format("tdb").load(out).orderBy("time")
      .collect().map(_.getString(2))
    assert(back.toSeq === values)
  }

  test("writePackage runs at most 4 Spark jobs") {
    // the writer's passes over its one sorted shuffle: the shuffle, one
    // lexicon job, one model job, and one encode-and-drain job
    val df = (0 until 200).map(i =>
        (f"${i % 17}%032x", 100L + i, s"e${i % 3}", s"t${i % 7}"))
      .toDF("uuid", "time", "etype", "tag")
    val dir = Files.createTempDirectory("graft-tdb-jobs")
    val (_, jobs) = jobsDuring(
      TdbWriter.writePackage(df, Seq("etype", "tag"), s"$dir/jobs.tdb"))
    assert(jobs <= 4, s"writePackage ran $jobs jobs")
  }

  test("a null uuid or a null time is refused by name, never as a diverged walk") {
    // the uuids index holds 16 raw bytes per trail (tdb_cons_add takes a
    // raw uuid), so a null uuid has no entry to take; the model walk is
    // the one guard, as the encode walk reads a null time as 0
    val dir = Files.createTempDirectory("graft-tdb-nulls")
    def refusal(rows: Seq[(Option[String], Option[Long], String)],
        onePartition: Boolean): String = {
      val shuffleParts = "spark.sql.shuffle.partitions"
      val prior = spark.conf.get(shuffleParts)
      try {
        if (onePartition) spark.conf.set(shuffleParts, "1")
        val e = intercept[Exception](TdbWriter.writePackage(
          rows.toDF("uuid", "time", "etype"), Seq("etype"), s"$dir/n.tdb"))
        assert(!e.getMessage.contains("report this"), e.getMessage)
        e.getMessage
      } finally spark.conf.set(shuffleParts, prior)
    }
    val real = (0 until 17).flatMap(t =>
      Seq((Option(f"$t%032x"), Option(10L + t), "a"),
        (Option(f"$t%032x"), Option(20L + t), "b")))
    val nullUuid = Seq((Option.empty[String], Option(5L), "a"),
      (Option.empty[String], Option(6L), "b"))
    // one partition: the null-uuid rows sort first and real trails follow
    val first = refusal(nullUuid ++ real.take(4), onePartition = true)
    assert(first.contains("null uuid") && first.contains("no null entry"), first)
    // listed after real trails, spread over the shuffle's partitions
    val after = refusal(real ++ nullUuid, onePartition = false)
    assert(after.contains("null uuid") && after.contains("no null entry"), after)
    val noTime = refusal(real.take(3) :+ ((Option("1" * 32), None, "c")),
      onePartition = false)
    assert(noTime.contains("null time in trail " + "1" * 32), noTime)
  }

  test("trail order comes from the assembly sort, not the partition sort") {
    // one shuffle partition holds every trail in hex order; the uuids'
    // first and last bytes are all distinct, so hex order and the
    // format's LE-u128 order disagree throughout
    val rnd = new scala.util.Random(7)
    val firsts = rnd.shuffle((0 until 256).toList)
    val lasts = rnd.shuffle((0 until 256).toList)
    val uuids = (0 until 80).map { i =>
      val mid = Array.fill(14)(rnd.nextInt(256).toByte)
      (f"${firsts(i)}%02x" + mid.map(b => f"$b%02x").mkString +
        f"${lasts(i)}%02x")
    }
    val df = uuids.zipWithIndex.flatMap { case (u, i) =>
      (0 to i % 3).map(j => (u, 100L + j, s"e${(i + j) % 4}"))
    }.toDF("uuid", "time", "etype")
    val dir = Files.createTempDirectory("graft-tdb-order")
    val out = s"$dir/order.tdb"
    val shuffleParts = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(shuffleParts)
    try {
      spark.conf.set(shuffleParts, "1")
      TdbWriter.writePackage(df.coalesce(1), Seq("etype"), out)
    } finally spark.conf.set(shuffleParts, prior)
    val meta = TdbFormat.TdbMeta.open(out)
    assert(meta.numTrails === uuids.length.toLong)
    def le(hex: String): BigInt = BigInt(hex.grouped(2).toSeq.reverse.mkString, 16)
    val index = (0L until meta.numTrails).map(meta.uuidHex)
    index.sliding(2).foreach { case Seq(a, b) =>
      assert(le(a) < le(b), s"$a before $b is not ascending LE u128")
    }
    assert(index.sorted !== index, "hex order would have passed as well")
    val back = spark.read.format("tdb").load(out)
    uuids.zipWithIndex.foreach { case (u, i) =>
      val hit = back.filter(col("uuid") === u).select("time").as[Long]
        .collect().sorted.toSeq
      assert(hit === (0 to i % 3).map(100L + _), s"trail $u")
    }
  }

  test("wide timestamps: the export refuses past TDB_MAX_TIMEDELTA, fits just under (tests/c-tests/wide_timestamps.c)") {
    val dir = Files.createTempDirectory("graft-tdb-widets")
    val MaxTd = (1L << 47) - 1
    def pkg(times: Seq[Long], out: String): Unit =
      TdbWriter.writePackage(
        times.zipWithIndex.map { case (t, i) => ("0" * 32, t, s"e$i") }
          .toDF("uuid", "time", "etype"),
        Seq("etype"), out)
    // delta = MaxTd - 1 is the largest VALID delta (TSTAMPS3: {10, MAX+9})
    pkg(Seq(10L, MaxTd + 9L), s"$dir/fits.tdb")
    val backTs = spark.read.format("tdb").load(s"$dir/fits.tdb")
      .select("time").as[Long].collect().sorted
    assert(backTs === Array(10L, MaxTd + 9L))
    // delta = MaxTd fails (TSTAMPS4: {10, MAX+11} → delta MAX+1 there;
    // the boundary itself is refused by `delta < TDB_MAX_TIMEDELTA`)
    val e = intercept[graft.core.GraftError](
      pkg(Seq(10L, MaxTd + 10L), s"$dir/delta.tdb"))
    assert(e.errName === "TDB_ERR_TIMESTAMP_TOO_LARGE" && e.exitCode === 12)
    // min_timestamp >= TDB_MAX_TIMEDELTA fails even with a tiny delta
    // (src/tdb_encode.c:150-152)
    val e2 = intercept[graft.core.GraftError](
      pkg(Seq(MaxTd, MaxTd + 1L), s"$dir/min.tdb"))
    assert(e2.errName === "TDB_ERR_TIMESTAMP_TOO_LARGE")
  }

  test("a malformed uuid refuses loudly instead of corrupting the index") {
    val dir = Files.createTempDirectory("graft-tdb-baduuid")
    for (bad <- Seq("ab" * 15, "zz" + "00" * 15)) { // short / non-hex
      val df = Seq((bad, 1L, "a", "x")).toDF("uuid", "time", "f1", "f2")
      val e = intercept[Exception] {
        TdbWriter.writePackage(df, Seq("f1", "f2"), s"$dir/bad.tdb")
      }
      assert(e.getMessage.contains("not 32 hex chars"), e.getMessage)
    }
  }

  test("mixed-case hex uuids are ONE trail (case-normalized before grouping)") {
    // "AB..." and "ab..." hex-decode to the same 16 raw bytes — without
    // normalization they hash-partition as two trails and write duplicate
    // keys into the uuid index (unreachable under the reference's
    // unique-key binary search, src/tdb.c:552-585)
    val dir = Files.createTempDirectory("graft-tdb-case")
    val u = "ab12" + "00" * 14
    val df = Seq((u.toUpperCase, 1L, "a", "x"), (u, 2L, "b", "y"))
      .toDF("uuid", "time", "f1", "f2")
    val out = s"$dir/case.tdb"
    TdbWriter.writePackage(df, Seq("f1", "f2"), out)
    val back = spark.read.format("tdb").load(out)
    assert(back.select("uuid").distinct().count() === 1L)
    assert(back.orderBy("time").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((u, 1L, "a"), (u, 2L, "b")))
  }

  test("writer validation: bad field names and negative timestamps refuse loudly") {
    val dir = Files.createTempDirectory("graft-tdb-valid")
    val df = Seq(("ab" * 16, 1L, "a", "x")).toDF("uuid", "time", "f1", "f2")
    // duplicate / empty / newline-bearing field names would write a
    // fields member the reader misparses into garbage decodes
    for (names <- Seq(Seq("f1", "f1"), Seq("", "f2"), Seq("f\n1", "f2")))
      assert(intercept[IllegalArgumentException] {
        TdbWriter.writePackage(df, names, s"$dir/bad.tdb")
      }.getMessage.contains("field name"))
    // negative timestamps are unrepresentable in the format's u64 info
    val neg = Seq(("ab" * 16, -5L, "a", "x")).toDF("uuid", "time", "f1", "f2")
    val e = intercept[graft.core.GraftError] {
      TdbWriter.writePackage(neg, Seq("f1", "f2"), s"$dir/neg.tdb")
    }
    assert(e.errName === "TDB_ERR_TIMESTAMP_TOO_LARGE" &&
      e.getMessage.contains("negative"))
  }

  test("overwriting a package at the same path serves the NEW lexicons (cache fingerprint)") {
    val dir = Files.createTempDirectory("graft-tdb-rewrite")
    val out = s"$dir/db.tdb"
    def write(v: String): Unit = TdbWriter.writePackage(
      Seq(("ab" * 16, 1L, v)).toDF("uuid", "time", "f1"), Seq("f1"), out)
    // "old-value" and "new-value" are the SAME length, and the rewrite
    // lands within the same mtime second — the adversarial case for any
    // reader state kept per (path, length, mtime).
    write("old-value")
    assert(spark.read.format("tdb").load(out)
      .select("f1").head().getString(0) === "old-value")
    write("new-value")
    // a reader that kept lexicons per path would serve the OLD array here
    assert(spark.read.format("tdb").load(out)
      .select("f1").head().getString(0) === "new-value")
  }
}
