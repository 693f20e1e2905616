package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{TrailDB, TrailDBCons, TrailOps, TrailSchema}

/** Write-path round trip: what you write is what you get back
  * (reference: tests/c-tests/what_you_write_you_get_back.c — values incl.
  * length-0 NULLs survive cons → finalize → open → cursor; FIXTURES.md §2b),
  * plus merge schema-union semantics (tests/tdbcli test_tdbcli.py:186-332).
  */
class ConsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-test").resolve("db").toString

  private def uuidOf(i: Int): String = f"$i%032x"

  test("finalizeTo runs at most 6 Spark jobs: open reuses the read-back's schema") {
    // the write, the read-back's schema inference and the sidecar's stats
    // pass; the open that follows reuses the read-back's schema and starts
    // no inference job of its own
    val df = (0 until 60).map(i => (uuidOf(i % 7), 100L + i, s"e${i % 3}", i.toLong))
      .toDF("uuid", "time", "a", "seq")
    val cons = new TrailDBCons(spark, Seq("a")).add(df)
    val (db, jobs) = jobsDuring(cons.finalizeTo(tmp(), 2))
    assert(jobs <= 6, s"finalizeTo ran $jobs jobs")
    assert(db.numEvents === 60L)
  }

  test("round trip: cons → finalize → open preserves values incl. '' and binary-ish strings") {
    val longVal = "x" * 1000
    val rows = for {
      trail <- 0 until 5
      ev <- 0 until 3
    } yield (uuidOf(trail), (ev + 1).toLong, s"a$ev", if (ev == 1) "" else longVal,
             (trail * 3 + ev).toLong)
    val df = rows.toDF("uuid", "time", "a", "b", "seq")

    val path = tmp()
    val db = new TrailDBCons(spark, Seq("a", "b")).add(df).finalizeTo(path, 2)

    assert(db.numEvents === 15)
    assert(db.numTrails === 5)
    assert(db.fields === Seq("a", "b"))
    // values come back verbatim; '' and long values intact, trail order sorted
    val back = db.scan().collect()
    assert(back.length === 15)
    val first = db.trail(uuidOf(0)).collect()
    assert(first.map(_.getAs[String]("b")).toSeq === Seq(longVal, "", longVal))
  }

  test("trail order is (uuid, time, seq) — uuid-sorted like the reference TOC") {
    val df = Seq(
      (uuidOf(2), 5L, "v2", 0L), (uuidOf(0), 9L, "v0", 1L),
      (uuidOf(1), 1L, "v1a", 2L), (uuidOf(1), 1L, "v1b", 3L)
    ).toDF("uuid", "time", "f", "seq")
    val db = new TrailDBCons(spark, Seq("f")).add(df).finalizeTo(tmp(), 1)
    val got = db.scan().select("f").collect().map(_.getString(0)).toSeq
    assert(got === Seq("v0", "v1a", "v1b", "v2"))
  }

  test("metadata: min/max timestamp and lexicon size (+1 for implicit NULL)") {
    val df = Seq(
      (uuidOf(0), 10L, "x", 0L), (uuidOf(0), 20L, "y", 1L), (uuidOf(1), 30L, "", 2L)
    ).toDF("uuid", "time", "f", "seq")
    val db = new TrailDBCons(spark, Seq("f")).add(df).finalizeTo(tmp(), 1)
    assert(db.timeRange === ((10L, 30L)))
    assert(db.lexiconSize("f") === 3) // {x, y} + NULL
    assert(db.numFields === 2)        // f + implicit time
  }

  test("merge: union schema, missing values read back as ''/null (op_merge.c:92-186)") {
    val a = TrailDB.fromTrailFrame(
      Seq((uuidOf(0), 1L, "al", "n1", 0L)).toDF("uuid", "time", "alpha", "number", "seq"))
    val b = TrailDB.fromTrailFrame(
      Seq((uuidOf(0), 2L, "n2", "fb", 1L)).toDF("uuid", "time", "number", "foobar", "seq"))
    val merged = TrailOps.merge(Seq(a, b))
    assert(merged.fields.toSet === Set("alpha", "number", "foobar"))
    val rows = merged.scan().collect()
    assert(rows.length === 2)
    val dump = merged.dumpProjection().collect()
    assert(dump.map(_.getAs[String]("alpha")).toSeq === Seq("al", ""))
    assert(dump.map(_.getAs[String]("foobar")).toSeq === Seq("", "fb"))
    assert(dump.map(_.getAs[String]("number")).toSeq === Seq("n1", "n2"))
  }

  test("diff: content-identity multiset diff ignores seq, unions schemas, rolls up per trail") {
    // base: event e1 ×3, e2 ×1, plus a base-only field 'x' on one row;
    // revision: e1 ×1 (different seqs — must not matter), e2 ×1, e3 new.
    val base = TrailDB.fromTrailFrame(Seq(
      (uuidOf(0), 10L, "a", "x1", 0L),
      (uuidOf(0), 10L, "a", "x1", 1L),
      (uuidOf(0), 10L, "a", "x1", 2L),
      (uuidOf(1), 20L, "b", "", 3L)
    ).toDF("uuid", "time", "et", "x", "seq"))
    val rev = TrailDB.fromTrailFrame(Seq(
      (uuidOf(0), 10L, "a", "x1", 99L), // same content, new seq: unchanged
      (uuidOf(1), 20L, "b", "", 98L),
      (uuidOf(2), 30L, "c", "", 97L)    // brand new event
    ).toDF("uuid", "time", "et", "x", "seq"))
    val events = TrailOps.diff(base, rev).collect()
      .map(r => (r.getAs[String]("uuid"), r.getAs[Long]("time"),
        r.getAs[String]("et"), r.getAs[String]("x"),
        r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"))).toSet
    assert(events === Set(
      (uuidOf(0), 10L, "a", "x1", 0L, 2L), // 3 copies -> 1: two removed
      (uuidOf(2), 30L, "c", "", 1L, 0L)))
    val summary = TrailOps.diffSummary(base, rev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(summary === Map(uuidOf(0) -> ((0L, 2L)), uuidOf(2) -> ((1L, 0L))))
    // schema union: a field only one side carries compares as ''
    val revNoX = TrailDB.fromTrailFrame(Seq(
      (uuidOf(1), 20L, "b", 0L)).toDF("uuid", "time", "et", "seq"))
    val baseEmptyX = TrailDB.fromTrailFrame(Seq(
      (uuidOf(1), 20L, "b", "", 1L)).toDF("uuid", "time", "et", "x", "seq"))
    assert(TrailOps.diff(baseEmptyX, revNoX).count() === 0L)
    // null-safe keys: identical frames with a contract-violating NULL time
    // still diff as EMPTY (a plain equi-join would report +1/-1)
    val withNull = TrailDB.fromTrailFrame(Seq(
      (uuidOf(3), Option.empty[Long], "n", 0L),
      (uuidOf(3), Option(9L), "m", 1L))
      .toDF("uuid", "time", "et", "seq"))
    assert(TrailOps.diff(withNull, withNull).count() === 0L)
  }

  test("whitelist arms for LATER adds too; all-filtered partitioned finalize stays readable") {
    val others = Seq((uuidOf(5), 1L, "z", 0L)).toDF("uuid", "time", "f", "seq")
    val listed = Seq((uuidOf(1), 2L, "y", 1L)).toDF("uuid", "time", "f", "seq")
    // whitelist BEFORE the add: the later add must still be filtered
    val db = new TrailDBCons(spark, Seq("f"))
      .whitelist(Seq(uuidOf(1))).add(others).add(listed)
      .finalizeTo(tmp())
    assert(db.df.select("uuid").distinct().collect().map(_.getString(0)).toSeq
      === Seq(uuidOf(1)))
    // a whitelist matching NOTHING + partitioned finalize: zero-row
    // dynamic-partition writes emit no data files — must fall back to the
    // plain write so the db re-opens as a valid empty table
    val empty = new TrailDBCons(spark, Seq("f"))
      .add(others).whitelist(Seq(uuidOf(9)))
      .finalizePartitioned(tmp(), secondsPerPartition = 60L)
    assert(empty.numEvents === 0L)
  }

  test("open(): explicit bucketSeconds disagreeing with the sidecar refuses loudly") {
    // the layout's partition width is fixed at finalize — a disagreeing
    // override would compute wrong _bucket pruning bounds and silently
    // drop valid rows from every time-range query
    val dir = tmp()
    new TrailDBCons(spark, Seq("f"))
      .add(Seq((uuidOf(1), 100L, "v", 0L)).toDF("uuid", "time", "f", "seq"))
      .finalizePartitioned(dir, secondsPerPartition = 3600L)
    assert(TrailDB.open(spark, dir, Some(3600L)).numEvents === 1L) // agrees
    assert(TrailDB.open(spark, dir).numEvents === 1L) // sidecar applies
    val e = intercept[IllegalArgumentException](
      TrailDB.open(spark, dir, Some(60L)))
    assert(e.getMessage.contains("disagrees"))
  }

  test("multi-cursor: K shards merge into timestamp order per trail (multi_cursor.c:14-60)") {
    val shards = (0 until 3).map { k =>
      TrailDB.fromTrailFrame(
        (0 until 10).map(i => (uuidOf(i % 2), (i * 3 + k).toLong, s"db$k", (i * 3 + k).toLong))
          .toDF("uuid", "time", "id", "seq"))
    }
    val merged = TrailOps.multiCursor(shards).collect()
    assert(merged.length === 30)
    val times = merged.filter(_.getString(0) == uuidOf(0)).map(_.getLong(1)).toSeq
    assert(times === times.sorted)
  }

  test("bucketed finalize: per-trail aggregation plans with NO shuffle exchange") {
    val df = (0 until 100).map(i => (uuidOf(i % 7), i.toLong, s"v$i", i.toLong))
      .toDF("uuid", "time", "f", "seq")
    val db = new TrailDBCons(spark, Seq("f")).add(df)
      .finalizeToTable("graft_bucketed_test", buckets = 4)
    assert(db.numEvents === 100)
    // trail-length agg over the bucketed table must not reshuffle: bucket
    // pruning gives each task whole trails (the 100 TB co-location story)
    val plan = db.trailLengths.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed agg, got:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_test")
  }

  test("time-partitioned finalize: time-range filters prune partitions before IO") {
    import graft.filter.{Clause, EventFilter, TimeRange}
    // 10 days of events, 2 trails
    val rows = for { d <- 0 until 10; i <- 0 until 5 }
      yield (uuidOf(i % 2), d * 86400L + i, s"v$d-$i", (d * 5 + i).toLong)
    val db = new TrailDBCons(spark, Seq("f")).add(rows.toDF("uuid", "time", "f", "seq"))
      .finalizePartitioned(tmp(), secondsPerPartition = 86400L)
    assert(db.bucketSeconds === Some(86400L))
    assert(db.numEvents === 50)
    // half-open [day2, day4) → exactly days 2-3
    val f = EventFilter(Seq(Clause(Seq(TimeRange(2 * 86400L, 4 * 86400L)))))
    val got = db.events(f)
    assert(got.count() === 10)
    // the _bucket bounds must reach the scan as PartitionFilters
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_bucket"),
      s"expected _bucket partition filters in:\n$plan")
    val pf = plan.split("PartitionFilters: ")(1).split("]")(0)
    assert(pf.contains("2") && pf.contains("3"), s"bucket bounds wrong: $pf")

    // explicit bucketSeconds on a NON-partitioned layout (open()'s
    // sidecar-less escape hatch pointed at a plain db) must degrade to an
    // unpruned scan, not an UNRESOLVED_COLUMN crash on _bucket
    val plainPath = tmp()
    new TrailDBCons(spark, Seq("f")).add(rows.toDF("uuid", "time", "f", "seq"))
      .finalizeTo(plainPath)
    val plain = TrailDB.open(spark, plainPath, bucketSeconds = Some(86400L))
    assert(plain.events(f).count() === 10)

    // hyphenated canonical-form string uuids normalize to bare 32-hex:
    // both renderings of one UUID key ONE trail
    val hyph = TrailDB.fromEvents(
      Seq(("123E4567-e89b-12d3-a456-426614174000", 1L, "x", 0L),
        ("123e4567e89b12d3a456426614174000", 2L, "y", 1L))
        .toDF("u", "t", "f", "s"),
      uuidCol = "u", timeCol = "t", fieldCols = Seq("f"), seqCol = Some("s"))
    assert(hyph.df.select("uuid").distinct().count() === 1)
    assert(hyph.trailLengths.head().getLong(1) === 2L)
  }

  test("z_order2 is the Morton interleave; z-ordered finalize round-trips") {
    // hand-checked Morton values: a in even bits, b in odd
    assert(graft.functions.ZOrder2.interleave(3L, 0L) === 5L)   // 0b0101
    assert(graft.functions.ZOrder2.interleave(0L, 3L) === 10L)  // 0b1010
    assert(graft.functions.ZOrder2.interleave(1L, 1L) === 3L)
    // quadrant ordering: all z-values of the low (a<2, b<2) quadrant sort
    // before any of the high (a>=2, b>=2) quadrant — the locality that
    // makes row groups rectangles
    val lowQ = for (a <- 0L to 1L; b <- 0L to 1L)
      yield graft.functions.ZOrder2.interleave(a, b)
    val highQ = for (a <- 2L to 3L; b <- 2L to 3L)
      yield graft.functions.ZOrder2.interleave(a, b)
    assert(lowQ.max < highQ.min)
    // the expression evaluates in a plan (codegen path) like the object
    val viaExpr = Seq((3L, 0L), (0L, 3L), (7L, 5L)).toDF("a", "b")
      .select(graft.functions.GraftFunctions.zOrder2(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaExpr === Seq(5L, 10L,
      graft.functions.ZOrder2.interleave(7L, 5L)))

    // finalizeZOrdered: same rows back, sidecar metadata intact
    val rows = for (t <- 0 until 8; e <- 0 until 4)
      yield (uuidOf(t), (e * 1000).toLong, s"v$e", (t * 4 + e).toLong)
    val db = new TrailDBCons(spark, Seq("f"))
      .add(rows.toDF("uuid", "time", "f", "seq"))
      .finalizeZOrdered(tmp(), timeBucketSecs = 3600L)
    assert(db.numEvents === 32 && db.numTrails === 8)
    val got = db.df.select("uuid", "time", "f", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got === rows.toSet)
  }

  test("salted aggregation equals direct groupBy on a skewed key") {
    // one whale uuid with 10k rows, a few minnows
    val rows = (0 until 10000).map(i => (uuidOf(0), i.toLong)) ++
      (0 until 5).map(i => (uuidOf(1 + i), i.toLong))
    val df = rows.toDF("uuid", "v")
    val direct = df.groupBy("uuid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.core.Skew.saltedCount(df, "uuid", buckets = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
    val directSum = df.groupBy("uuid").agg(sum("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedSum = graft.core.Skew.saltedSum(df, "uuid", "v", buckets = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedSum === directSum)
    // constant-valued whale: row-unique salt must still match direct counts
    val const = (0 until 10000).map(_ => (uuidOf(0), 7L)).toDF("uuid", "v")
    val constDirect = const.groupBy("uuid").agg(sum("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val constSalted = graft.core.Skew.saltedSum(const, "uuid", "v", buckets = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(constSalted === constDirect)
    // exact two-stage distinct: whale has 100 distinct values duplicated 100x
    val dup = (0 until 10000).map(i => (uuidOf(0), (i % 100).toString)) ++
      (0 until 5).map(i => (uuidOf(1 + i), i.toString))
    val dupDf = dup.toDF("uuid", "v")
    val distinctDirect = dupDf.groupBy("uuid").agg(countDistinct("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val distinctSalted = graft.core.Skew.saltedCountDistinct(dupDf, "uuid", "v", buckets = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(distinctSalted === distinctDirect)
    // map-typed columns can't feed xxhash64 — the salt must skip them
    // instead of failing the whole aggregation at analysis time
    val withMap = df.withColumn("props", map(lit("k"), col("v").cast("string")))
    val mapSalted = graft.core.Skew.saltedCount(withMap, "uuid", buckets = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mapSalted === direct)
  }

  test("schema validation: the invalid_fields.c matrix with typed errors (src/tdb_cons.c:181-281)") {
    import graft.core.{GraftError, TrailSchema}
    def errOf(fields: Seq[String]): GraftError =
      intercept[GraftError](new TrailDBCons(spark, fields))
    // duplicates → TDB_ERR_DUPLICATE_FIELDS / exit 7
    assert(errOf(Seq("ok", "ok")).errName === "TDB_ERR_DUPLICATE_FIELDS")
    assert(errOf(Seq("ok", "ok")).exitCode === 7)
    // reserved "time" (tests/c-tests/invalid_fields.c:44-48), empty name,
    // name AT the length cap (length < 512 required), and every char
    // outside TDB_FIELDNAME_CHARS → TDB_ERR_INVALID_FIELDNAME / exit 6
    for (bad <- Seq(Seq("time"), Seq(""),
        Seq("a" * TrailSchema.MaxFieldNameLength),
        Seq("has space"), Seq("a=b"), Seq("a.b"), Seq("a/b"), Seq("a!b"),
        Seq("päivä"))) {
      assert(errOf(bad).errName === "TDB_ERR_INVALID_FIELDNAME", bad)
      assert(errOf(bad).exitCode === 6, bad)
    }
    // one char under the cap is VALID (1..511 allowed)
    new TrailDBCons(spark, Seq("a" * (TrailSchema.MaxFieldNameLength - 1)))
    // too many fields → TDB_ERR_TOO_MANY_FIELDS / exit 8
    // (tests/c-tests/invalid_fields.c:20-26, TDB_MAX_NUM_FIELDS + 1)
    val many = (0 to TrailSchema.MaxNumFields).map(i => s"f$i")
    assert(errOf(many).errName === "TDB_ERR_TOO_MANY_FIELDS")
    assert(errOf(many).exitCode === 8)
    // the whole urlencode-safe charset is accepted
    new TrailDBCons(spark, Seq("ok-name_1", "OTHER", "pct%40", "0digit"))
  }

  test("append refuses a field-list mismatch (tdb_cons_append, src/tdb_cons.c:629-638)") {
    import spark.implicits._
    val db = graft.core.TrailDB.fromTrailFrame(Seq(
      (("0" * 32), 1L, "x", 0L)).toDF("uuid", "time", "a", "seq"))
    // different names, missing fields, same names in a different ORDER —
    // all refuse (the reference compares positionally); merge is the
    // schema-union tool, append is not
    for (fields <- Seq(Seq("b"), Seq.empty[String], Seq("a", "b"))) {
      val e = intercept[graft.core.GraftError](
        new TrailDBCons(spark, fields).append(db))
      assert(e.errName === "TDB_ERR_APPEND_FIELDS_MISMATCH", fields)
      assert(e.exitCode === 10, fields)
    }
    val two = graft.core.TrailDB.fromTrailFrame(Seq(
      (("0" * 32), 1L, "x", "y", 0L)).toDF("uuid", "time", "a", "b", "seq"))
    intercept[graft.core.GraftError](
      new TrailDBCons(spark, Seq("b", "a")).append(two))
    // the exact field list appends fine — and an ACTIVE filter rides in
    // (the reference's subset-append path honors db filters)
    val dir = java.nio.file.Files.createTempDirectory("graft-append-match")
    val out = new TrailDBCons(spark, Seq("a", "b"))
      .append(two.withFilter("a=nomatch")).finalizeTo(s"$dir/db")
    assert(out.numEvents === 0L)
    val out2 = new TrailDBCons(spark, Seq("a", "b"))
      .append(two).finalizeTo(s"$dir/db2")
    assert(out2.numEvents === 1L)
  }

  test("a huge number of fields works ok (tests/c-tests/really_lots_of_fields.c)") {
    import graft.core.TrailSchema
    // exactly AT the cap constructs (the reference opens a cons with
    // TDB_MAX_NUM_FIELDS fields and finalizes it; one over refuses —
    // covered in the validation test above)
    new TrailDBCons(spark, (0 until TrailSchema.MaxNumFields).map(i => s"f$i"))
    // a wide finalize round-trips with names and values preserved in
    // order (the reference re-opens and walks every field name; Spark's
    // analog must survive a 1k-column schema through write + open)
    val n = 1024
    val fields = (0 until n).map(i => s"w$i")
    val dir = java.nio.file.Files.createTempDirectory("graft-wide")
    val row = org.apache.spark.sql.Row.fromSeq(
      ("0" * 32) +: 100L +: fields.map(f => s"v$f") :+ 0L)
    val df = spark.createDataFrame(
      java.util.List.of(row), TrailSchema.schemaFor(fields))
    val db = new TrailDBCons(spark, fields).add(df).finalizeTo(s"$dir/db")
    assert(db.fields === fields)  // declared order, like tdb_get_field_name
    val back = db.df.head()
    assert(fields.forall(f => back.getAs[String](f) === s"v$f"))
  }

  test("CSV and JSONL ingest with field mapping and skip-bad-input (op_make.c)") {
    val dir = Files.createTempDirectory("graft-ingest")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,when,etype\n" +
      s"${uuidOf(1)},100,click\n" +
      s"${uuidOf(1)},notanumber,bad\n" +
      s"${uuidOf(2)},200,view\n")
    val db = new TrailDBCons(spark, Seq("etype"))
      .addCsv(csv.toString, delimiter = ",", header = true,
        mapping = Map("time" -> "when"), skipBadInput = true)
      .finalizeTo(dir.resolve("db").toString, 1)
    assert(db.numEvents === 2) // bad time row dropped
    assert(db.scan().select("etype").collect().map(_.getString(0)).toSeq === Seq("click", "view"))

    val jsonl = dir.resolve("in.jsonl")
    Files.writeString(jsonl,
      s"""{"uuid":"${uuidOf(3)}","time":300,"etype":"buy","ignored":"zz"}\n""" +
      s"""{"uuid":"${uuidOf(4)}","time":400}\n""")
    val db2 = new TrailDBCons(spark, Seq("etype"))
      .addJsonl(jsonl.toString).finalizeTo(dir.resolve("db2").toString, 1)
    assert(db2.numEvents === 2)
    // missing field comes back as NULL ≡ '' at the dump boundary
    assert(db2.dumpProjection().collect().map(_.getAs[String]("etype")).toSeq === Seq("buy", ""))
  }

  test("as-of join: latest right event at-or-before each left event, per trail") {
    val views = Seq(
      ("u1", 100L, 1L), ("u1", 200L, 2L), ("u1", 300L, 3L),
      ("u2", 50L, 4L)).toDF("uuid", "time", "seq")
    val clicks = Seq(
      ("u1", 100L, "c@100"),   // same-second: visible to view@100 (<=)
      ("u1", 250L, "c@250"),
      ("u3", 1L, "other-trail")).toDF("uuid", "time", "cprops")
    val got = graft.core.TrailOps.asOfJoin(views, clicks, Seq("cprops"))
      .orderBy("uuid", "time").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(3)))).toSeq
    assert(got === Seq(
      ("u1", 100L, Some("c@100")),
      ("u1", 200L, Some("c@100")),
      ("u1", 300L, Some("c@250")),
      ("u2", 50L, None)))          // no clicks in u2 → NULL
    // duplicate right rows at one (uuid, time) resolve deterministically (max)
    val dupClicks = clicks.union(Seq(("u1", 100L, "a@100")).toDF("uuid", "time", "cprops"))
    val first = graft.core.TrailOps.asOfJoin(views, dupClicks, Seq("cprops"))
      .filter($"time" === 100L).head().getString(3)
    assert(first === "c@100") // max("a@100", "c@100")
  }

  test("as-of join: NULL in the matched right row wins — no stale value resurrected (r2 ADVICE)") {
    // right@200 is the match for left@300 and carries (va=NULL, vb=y):
    // asof_va must be NULL, NOT the older row's 'old-a' — all asof_* columns
    // come from the SAME matched row (struct carry)
    val views = Seq(("u1", 300L, 1L)).toDF("uuid", "time", "seq")
    val clicks = Seq(
      ("u1", 100L, "old-a", "x"),
      ("u1", 200L, null, "y")).toDF("uuid", "time", "va", "vb")
    val got = graft.core.TrailOps.asOfJoin(views, clicks, Seq("va", "vb")).head()
    assert(got.isNullAt(got.fieldIndex("asof_va")),
      "matched row's NULL was overwritten by an older right row")
    assert(got.getString(got.fieldIndex("asof_vb")) === "y")
  }

  test("metadata sidecar: finalize persists the info file, open answers WITHOUT scanning (tdb_encode.c:191-216)") {
    import graft.core.TrailInfo
    val dir = Files.createTempDirectory("graft-info")
    val rows = (0 until 100).map(i => (uuidOf(i % 7), (1000 + i).toLong, s"e${i % 3}"))
    val db = new TrailDBCons(spark, Seq("etype"))
      .add(rows.toDF("uuid", "time", "etype"))
      .finalizeTo(dir.resolve("db").toString, 4)
    assert(db.info.isDefined)
    assert(db.numTrails === 7 && db.numEvents === 100)
    assert(db.timeRange === (1000L, 1099L))
    assert(db.info.get.fields === Seq("etype"))

    // proof the answers are sidecar reads, not scans: reopen (file listing
    // happens here), DELETE the parquet data, metadata still answers
    val reopened = TrailDB.open(spark, dir.resolve("db").toString)
    Files.list(dir.resolve("db")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet")) Files.delete(p)
    }
    assert(reopened.numTrails === 7 && reopened.numEvents === 100)
    assert(reopened.timeRange === (1000L, 1099L))

    // a filtered VIEW must not inherit full-table counts
    val filtered = db.withFilter(
      graft.filter.EventFilter(Seq(graft.filter.Clause(Seq(graft.filter.Match("etype", "e0"))))))
    assert(filtered.info.isEmpty)

    // partitioned layout: sidecar carries the bucket granularity, so a bare
    // open() re-enables partition pruning without the caller passing it
    val pdb = new TrailDBCons(spark, Seq("etype"))
      .add(rows.toDF("uuid", "time", "etype"))
      .finalizePartitioned(dir.resolve("dbp").toString, secondsPerPartition = 50L)
    val popen = TrailDB.open(spark, dir.resolve("dbp").toString)
    assert(popen.bucketSeconds === Some(50L))
    assert(popen.numEvents === 100)

    // JSON round trip incl. escaping
    val info = TrailInfo(3L, 9L, -5L, 7L, Seq("a\"b", "c\\d"), Some(42L))
    assert(TrailInfo.fromJson(info.toJson) === info)
    val noBucket = TrailInfo(1L, 1L, 0L, 0L, Nil, None)
    assert(TrailInfo.fromJson(noBucket.toJson) === noBucket)

    // a CORRUPT sidecar (crashed copy, disk-full truncation) must never
    // make an intact db unopenable: open falls back to scan-based metadata
    // (dbp still has its data files; db's were deleted above)
    Files.writeString(dir.resolve("dbp").resolve("_graft_info.json"),
      "{\"num_trails\": 7, \"num_ev")
    val corrupt = TrailDB.open(spark, dir.resolve("dbp").toString)
    assert(corrupt.info.isEmpty)
    assert(corrupt.numEvents === 100) // recomputed by scan
  }

  test("finalizing an empty cons writes a valid empty db (tdb_cons_finalize with 0 events)") {
    val dir = Files.createTempDirectory("graft-empty")
    val db = new TrailDBCons(spark, Seq("etype", "val"))
      .finalizeTo(dir.resolve("db").toString)
    assert(db.numEvents === 0)
    assert(db.numTrails === 0)
    assert(db.fields === Seq("etype", "val"))
    val db2 = new TrailDBCons(spark, Seq("etype"))
      .finalizePartitioned(dir.resolve("dbp").toString)
    assert(db2.numEvents === 0)
  }

  test("large lexicon: 2M distinct values through finalize, lexicon, a 10k-term clause, and the export cap (c-tests-large/large_lexicon.c)") {
    // The reference's large-lexicon stress proves one field can carry an
    // arbitrarily wide value space (its c-test uses a GB-scale value; the
    // scale axis that matters on Spark is CARDINALITY). 2M distinct
    // values in one field, generated distributively — never on the
    // driver — through the full chain the VERDICT names.
    val dir = Files.createTempDirectory("graft-biglex")
    val n = 2000000L
    val df = spark.range(n).select(
      md5((col("id") % 1000).cast("string")).as("uuid"),
      col("id").as("time"),
      concat(lit("v"), col("id")).as("val"),
      (col("id") % 3).cast("string").as("small"))
    val db = new TrailDBCons(spark, Seq("val", "small"))
      .add(df).finalizeTo(dir.resolve("db").toString)

    // lexicon() stays a distributed distinct; lexiconSize = distinct + 1
    // for the implicit NULL (src/tdb.c:455-465)
    assert(db.lexiconSize("val") === n + 1)
    assert(db.lexiconSize("small") === 4L)

    // a 10,000-term positive clause over the wide field compiles to ONE
    // isin (Catalyst In/InSet — constant plan depth, parquet-pushable),
    // not a 10k-deep OR chain, and evaluates exactly
    val terms = (0 until 10000).map(i =>
      graft.filter.Match("val", s"v${i * 200}"): graft.filter.Term)
    val f = graft.filter.EventFilter(Seq(graft.filter.Clause(terms)))
    val plan = db.events(f).queryExecution.executedPlan.toString
    assert(!plan.contains(" OR "), "10k-term clause did not collapse to isin")
    assert(db.events(f).count() === 10000L)

    // negated terms stay per-term but balanced — no stack overflow, exact
    val negTerms = (0 until 1000).map(i =>
      graft.filter.Match("val", s"v$i", negated = true): graft.filter.Term)
    val nf = graft.filter.EventFilter(Seq(graft.filter.Clause(negTerms)))
    assert(db.events(nf).count() === n) // OR of NOTs: any event missing one value passes

    // package export refuses the 2M-value lexicon at an explicit 1M cap
    // BEFORE collecting it (TdbWriter's TakeOrdered cap+1 discipline),
    // naming the field and the cap
    val e = intercept[graft.core.GraftError.LexiconTooLarge] {
      graft.sources.TdbWriter.writePackage(db.df, Seq("val", "small"),
        dir.resolve("refuse.tdb").toString, maxLexiconValues = 1L << 20)
    }
    assert(e.getMessage.contains("val"), e.getMessage)
    // and the CLI taxonomy maps it to its reserved exit code
    assert(graft.core.GraftError.classify(e) ===
      (("TDB_ERR_LEXICON_TOO_LARGE", 13)))
  }
}
