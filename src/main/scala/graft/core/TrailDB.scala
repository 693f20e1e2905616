package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.filter.{EventFilter, Clause, Match}

/** Read-side handle over a trail table — the Spark-native analog of the
  * reference's `tdb` handle (reference: src/tdb.c:298-393 `tdb_open` mmaps
  * info/fields/lexicons/uuids/toc/trails; here one Parquet directory written
  * sorted by (uuid, time) plays all those roles — Parquet dictionary pages
  * are the lexicons, row-group min/max stats are the uuid TOC).
  *
  * The db-level event filter (reference: TDB_OPT_EVENT_FILTER,
  * src/tdb.c:716-722) is modeled as a filtered *view*: [[withFilter]] returns
  * a new handle whose DataFrame has the predicate applied lazily, so Catalyst
  * pushes it into the scan.
  */
final class TrailDB private (
    val spark: SparkSession,
    private val base: DataFrame,
    val dbFilter: Option[EventFilter],
    /** Partition granularity when opened over a time-partitioned layout
      * (finalizePartitioned) — enables partition pruning for time ranges. */
    val bucketSeconds: Option[Long] = None,
    /** Persisted finalize-time metadata (the reference's `info` file) —
      * present only on a pristine [[TrailDB.open]] handle; any derived view
      * (filter/whitelist/restrict) drops it and falls back to scans, since
      * its counts describe the FULL table. */
    val info: Option[TrailInfo] = None,
    /** Filesystem location this handle was opened from — present only on a
      * pristine [[TrailDB.open]] handle (like [[info]]). [[TrailIndex]] uses
      * it to stamp the db's identity into an index at build time so a stale
      * index is refused at open (reference: tdb_index.c:439-451). */
    val sourcePath: Option[String] = None) {

  /** User field names (excludes uuid/time/seq). */
  val fields: Seq[String] = TrailSchema.userFields(base.schema)
  private def fieldSet: Set[String] = fields.toSet

  /** The db view with the db-level filter applied (if any). */
  def df: DataFrame = dbFilter match {
    case Some(f) => base.filter(f.toColumn(fieldSet))
    case None    => base
  }

  /** Install/replace the db-level filter (a view — reference semantics of
    * TDB_OPT_EVENT_FILTER, src/tdb.c:716-722). */
  def withFilter(filter: EventFilter): TrailDB =
    new TrailDB(spark, base, Some(filter), bucketSeconds)

  def withFilter(text: String): TrailDB = withFilter(EventFilter.parse(text))

  /** Events matching `filter` — the per-cursor filter. Reference
    * precedence (db < trail < cursor, src/tdb_decode.c:141-181): ONE
    * filter is active at a time, so an explicit cursor filter REPLACES
    * the db-level filter (never ANDs with it — the same replace
    * semantics [[eventsWithTrailFilters]] implements one level down).
    * The default `matchAll` argument means "no cursor filter set": the
    * db view applies. (Passing a hand-CONSTRUCTED match-all filter, as
    * opposed to the `EventFilter.matchAll` singleton, counts as an
    * explicit cursor filter and overrides the db filter — the
    * reference's tdb_cursor_set_event_filter does too.)
    * Over a time-partitioned layout, every all-TimeRange clause of the
    * ACTIVE filter also emits the implied `_bucket` bounds so whole
    * partitions prune before IO — including the db-level filter's
    * ranges when no cursor filter is set (a time-filtered VIEW of a
    * partitioned db must not scan every partition). */
  def events(filter: EventFilter = EventFilter.matchAll): DataFrame = {
    val active: Option[EventFilter] =
      if (filter eq EventFilter.matchAll) dbFilter else Some(filter)
    val filtered =
      active.map(f => base.filter(f.toColumn(fieldSet))).getOrElse(base)
    bucketSeconds match {
      // The pruning predicates reference the Hive partition column; a
      // caller may pass bucketSeconds explicitly for a sidecar-less dir
      // (open()'s documented escape hatch) whose layout is NOT
      // time-partitioned — degrade to the unpruned scan instead of an
      // UNRESOLVED_COLUMN analysis error.
      case Some(_) if !base.columns.contains(TrailSchema.BucketCol) => filtered
      case Some(n) =>
        val bucketClauses = active.toSeq.flatMap(_.clauses.flatMap { c =>
          val ranges = c.terms.collect { case tr: graft.filter.TimeRange => tr }
          if (ranges.nonEmpty && ranges.size == c.terms.size)
            Some(graft.filter.EventFilter.balancedReduce(ranges.map(r =>
              col(TrailSchema.BucketCol) >= lit(r.start / n) &&
              col(TrailSchema.BucketCol) <= lit((r.end - 1) / n)))(_ || _))
          else None
        })
        bucketClauses.foldLeft(filtered)(_ filter _)
      case None => filtered
    }
  }

  /** Per-trail filter overrides: trails present in `overrides` use their own
    * filter INSTEAD of the db-level filter; others keep the db view
    * (reference: tdb_set_trail_opt TDB_OPT_EVENT_FILTER,
    * src/tdb.c:753-778, precedence src/tdb_decode.c:140-181).
    *
    * Two plans, same rows (spec-proven identical):
    *  - ≤ `joinThreshold` overrides (the reference's point-call scale): a
    *    disjunction of uuid-scoped predicates — one scan, one pushed
    *    filter, no join, no shuffle.
    *  - beyond it (SURVEY §7.4.3): the disjunction would be an O(n)
    *    expression tree (analysis/codegen die long before 100 TB does), so
    *    the map becomes a (uuid, filterId) table joined on uuid — AQE
    *    broadcasts it while it fits and shuffles both sides beyond that —
    *    and the filter dispatch is ONE case-expression over the DISTINCT
    *    filters, which stay few even when the uuid list is huge.
    */
  def eventsWithTrailFilters(overrides0: Map[String, EventFilter],
      joinThreshold: Int = 10000): DataFrame = {
    // hex-uuid override keys normalize like the stored key (see trail())
    val overrides = overrides0.map { case (u, f) =>
      TrailDB.normalizeUuidKey(u) -> f }
    if (overrides.size <= joinThreshold) {
      val perTrail = overrides.toSeq.sortBy(_._1).map { case (u, f) =>
        col(TrailSchema.UuidCol) === lit(u) && f.toColumn(fieldSet)
      }
      val overridden =
        if (perTrail.isEmpty) lit(false)
        else EventFilter.balancedReduce(perTrail)(_ || _)
      // null-safe like blacklist: a NULL-uuid row has no override, so it
      // keeps the db view (the large-list path's left join reaches the
      // same branch via _fid IS NULL)
      val baseKeeps =
        !coalesce(col(TrailSchema.UuidCol).isin(overrides.keys.toSeq: _*),
          lit(false)) &&
        dbFilter.map(_.toColumn(fieldSet)).getOrElse(lit(true))
      base.filter(overridden || baseKeeps)
    } else {
      val distinctFilters = overrides.values.toSeq.distinct
      val fidOf = distinctFilters.zipWithIndex.toMap
      val ovRows = overrides.iterator
        .map { case (u, f) => org.apache.spark.sql.Row(u, fidOf(f)) }.toSeq
      val ovDf = spark.createDataFrame(
        spark.sparkContext.parallelize(ovRows,
          math.max(1, ovRows.size / 500000)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(TrailSchema.UuidCol,
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_fid",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      val ovPred = distinctFilters.zipWithIndex.foldLeft(lit(false)) {
        case (acc, (f, i)) => when(col("_fid") === i, f.toColumn(fieldSet)).otherwise(acc)
      }
      base.join(ovDf, Seq(TrailSchema.UuidCol), "left")
        .filter(when(col("_fid").isNull,
            dbFilter.map(_.toColumn(fieldSet)).getOrElse(lit(true)))
          .otherwise(ovPred))
        .drop("_fid")
    }
  }

  /** Full-table scan in (uuid, time, seq) order — the reference's
    * trail_id 0..N / cursor loop (tdbcli/op_dump.c:102-159). `seq` is the
    * deterministic tiebreaker for equal timestamps. */
  def scan(filter: EventFilter = EventFilter.matchAll): DataFrame =
    events(filter).orderBy(TrailSchema.UuidCol, TrailSchema.TimeCol, TrailSchema.SeqCol)

  /** Point lookup of one trail (reference: tdb_get_trail_id binary search,
    * src/tdb.c:552-589). With uuid-sorted Parquet, row-group min/max stats
    * prune to the few row groups containing the uuid. The argument is
    * normalized like [[TrailDB.fromEvents]] normalized the stored key, so
    * the canonical hyphenated UUID rendering finds the trail it keyed at
    * ingest (the reference's uuid_raw accepts both renderings too). */
  def trail(uuid: String): DataFrame =
    df.filter(col(TrailSchema.UuidCol) ===
        lit(TrailDB.normalizeUuidKey(uuid)))
      .orderBy(TrailSchema.TimeCol, TrailSchema.SeqCol)

  /** Trail whitelist — keep only listed uuids (reference `--uuids` pattern:
    * MATCH_NONE db-wide + MATCH_ALL per listed trail, tdbcli/filter.c:142-243).
    * Spark-native: isin (pushed to the scan as an In filter) while the
    * list is plan-friendly; past [[TrailDB.LargeListThreshold]] it routes
    * to the semi-join overload — a million-literal In bloats the plan and
    * the pushed filter evaluates per row group, where the semi-join
    * broadcasts one hashed set (AQE shuffles both sides past broadcast
    * size). The reference's own stress runs 1M-trail uuid lists
    * (tests/tdbcli/test_tdbcli.py:143-184). */
  def whitelist(uuids: Seq[String]): TrailDB = {
    val keys = uuids.map(TrailDB.normalizeUuidKey)
    if (keys.size <= TrailDB.LargeListThreshold)
      new TrailDB(spark, base.filter(col(TrailSchema.UuidCol).isin(keys: _*)),
        dbFilter, bucketSeconds)
    else {
      import spark.implicits._
      whitelist(keys.toDF(TrailSchema.UuidCol))
    }
  }

  /** Whitelist against a (possibly huge) uuid set as a DataFrame — semi-join,
    * broadcast when small (AQE decides at scale). */
  def whitelist(uuids: DataFrame): TrailDB =
    new TrailDB(spark,
      base.join(uuids.select(col(uuids.columns.head).as(TrailSchema.UuidCol)).distinct(),
        Seq(TrailSchema.UuidCol), "left_semi"), dbFilter, bucketSeconds)

  /** Restrict the db view by an arbitrary uuid-level predicate — used by
    * [[TrailIndex]] page pruning (kept package-private: callers go through
    * TrailIndex so the full filter is always re-applied on top). */
  private[core] def restrict(pred: Column): TrailDB =
    new TrailDB(spark, base.filter(pred), dbFilter, bucketSeconds)

  /** Trail blacklist — drop listed uuids (anti of [[whitelist]]; same
    * large-list routing, via a left-anti join). */
  def blacklist(uuids: Seq[String]): TrailDB = {
    val keys = uuids.map(TrailDB.normalizeUuidKey)
    if (keys.size <= TrailDB.LargeListThreshold)
      // null-safe: a NULL-uuid row is not listed, so it is KEPT — the
      // bare !isin evaluates NULL for it and would drop it, flipping row
      // semantics against the large-list anti-join path (where a NULL
      // key matches nothing and survives)
      new TrailDB(spark, base.filter(
          !coalesce(col(TrailSchema.UuidCol).isin(keys: _*), lit(false))),
        dbFilter, bucketSeconds)
    else {
      import spark.implicits._
      new TrailDB(spark,
        base.join(keys.toDF(TrailSchema.UuidCol).distinct(),
          Seq(TrailSchema.UuidCol), "left_anti"), dbFilter, bucketSeconds)
    }
  }

  /** Retention compaction — the periodic-rebuild policy reference users
    * apply when re-consing shards (immutable dbs are rebuilt, never edited
    * in place; doc/docs/index.md:43-48): keep each trail's most recent
    * `keepLast` events (rank 1 = newest in `(time, seq)` order), and
    * optionally drop everything before `minTime` first (half-open, like
    * every reference time filter). Operates on the FILTERED view ([[df]])
    * like every other read path, so compacting a `withFilter` view keeps
    * and ranks only events the filter admits. ONE uuid window pass; feed
    * the result to a [[TrailDBCons]] finalize to materialize the
    * compacted db. */
  def compact(keepLast: Int, minTime: Option[Long] = None): DataFrame = {
    require(keepLast > 0, s"keepLast must be positive, got $keepLast")
    val aged = minTime.map(t => df.filter(col(TrailSchema.TimeCol) >= t))
      .getOrElse(df)
    val w = Window.partitionBy(TrailSchema.UuidCol)
      .orderBy(col(TrailSchema.TimeCol).desc, col(TrailSchema.SeqCol).desc)
    aged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= keepLast)
      .drop("_rn")
  }

  /** TDB_OPT_ONLY_DIFF_ITEMS (reference: src/tdb_decode.c:268-300,
    * doc/docs/technical_overview.md:113-125): emit only field values that
    * changed vs. the previous event in the trail; unchanged fields become
    * NULL/"" in the output. The reference's behavior is approximate (a
    * compression artifact); ours is exact lag-based dedup — a documented,
    * strictly-more-useful divergence.
    *
    * Refuses on a filtered view, like every reference path where the two
    * meet (TDB_ERR_ONLY_DIFF_FILTER, src/tdb_decode.c:110-120,140-181):
    * diff-over-filtered-events and filter-over-diffed-events are different
    * answers, and silently picking one is the trap the error exists for.
    */
  def onlyDiffItems: DataFrame = {
    if (dbFilter.isDefined)
      throw GraftError.OnlyDiffFilter(
        "only-diff-items cannot be combined with an event filter")
    val w = Window.partitionBy(TrailSchema.UuidCol)
      .orderBy(TrailSchema.TimeCol, TrailSchema.SeqCol)
    // ONE select, not a withColumn per field: each withColumn copies and
    // re-analyzes the whole growing projection, which is O(fields²)
    // driver work — minutes of pure plan analysis at the supported
    // 16k-field width before any executor starts
    val userFields = fields.toSet
    df.select(df.columns.map { c =>
      if (userFields(c))
        when(lag(col(c), 1).over(w) <=> col(c), lit(""))
          .otherwise(coalesce(col(c), lit(""))).as(c)
      else col(c)
    }: _*)
  }

  /** Typed per-trail cursor — the reference's library read path
    * (tdb_get_trail + tdb_cursor_next loop, src/tdb_decode.c:219-329;
    * SURVEY §3.2). `f` receives each trail's uuid and its events as a
    * TIME-ORDERED iterator (secondary sort inside the group — no
    * per-group materialization), exactly like walking a cursor. Executor
    * tasks play the reference's one-handle-per-thread role; the shuffle
    * is the node boundary the reference never had. */
  def trailCursor[T: org.apache.spark.sql.Encoder](
      f: (String, Iterator[CursorEvent]) => IterableOnce[T]): org.apache.spark.sql.Dataset[T] = {
    val fs = fields
    implicit val evEnc: org.apache.spark.sql.Encoder[CursorEvent] =
      org.apache.spark.sql.Encoders.product[CursorEvent]
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val ds = df.select(
      col(TrailSchema.UuidCol).as("uuid"),
      col(TrailSchema.TimeCol).as("time"),
      col(TrailSchema.SeqCol).as("seq"),
      map_from_arrays(
        array(fs.map(lit): _*),
        array(fs.map(n => coalesce(col(n), lit(""))): _*)).as("fields"))
      .as[CursorEvent]
    ds.groupByKey(_.uuid)
      .flatMapSortedGroups(col("time"), col("seq"))((uuid, it) => f(uuid, it))
  }

  // ---- metadata (reference: src/tdb.c:677-700, persisted info file) ----
  // Answered from the finalize-time sidecar when this is a pristine open
  // handle — a driver-side lookup instead of a 100 TB distinct/scan. Views
  // (filter/whitelist) have no `info` and compute over their visible rows.

  def numTrails: Long =
    info.map(_.numTrails).getOrElse(
      df.select(TrailSchema.UuidCol).distinct().count())
  def numEvents: Long = info.map(_.numEvents).getOrElse(df.count())
  def numFields: Int  = fields.size + 1 // field 0 is implicit time (src/tdb.c:193)

  def timeRange: (Long, Long) =
    info.map(i => (i.minTime, i.maxTime)).getOrElse {
      val r = df.agg(min(TrailSchema.TimeCol), max(TrailSchema.TimeCol)).head()
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }

  /** Distinct values of a field, the reference lexicon (src/tdb.c:106-140).
    * NULL and "" collapse to the single NULL value, matching val 0. */
  def lexicon(field: String): DataFrame =
    df.select(coalesce(col(field), lit("")).as("value"))
      .filter(col("value") =!= "").distinct()

  /** tdb_lexicon_size = distinct values + 1 for the implicit NULL
    * (reference: src/tdb.c:455-465). */
  def lexiconSize(field: String): Long = lexicon(field).count() + 1

  /** Trail lengths (reference: tdb_get_trail_length, src/tdb_decode.c:219-225). */
  def trailLengths: DataFrame =
    df.groupBy(TrailSchema.UuidCol).agg(count(lit(1)).as("trail_length"))

  // ---- sinks (reference: tdbcli/op_dump.c) ----

  /** Project to output fields in reference dump order: uuid, time, fields...
    * with NULL rendered as "" (reference: op_dump.c:29,58-66). */
  def dumpProjection(cols: Seq[String] = Nil): DataFrame = {
    val out = if (cols.nonEmpty) cols else TrailSchema.UuidCol +: TrailSchema.TimeCol +: fields
    val sorted = scan()
    sorted.select(out.map {
      case c @ (TrailSchema.UuidCol | TrailSchema.TimeCol | TrailSchema.SeqCol) => col(c)
      case f => coalesce(col(f), lit("")).as(f)
    }: _*)
  }

  /** CSV sink (reference: `tdb dump -c`, op_dump.c:51-67). */
  def dumpCsv(path: String, delimiter: String = " ", header: Boolean = false,
      cols: Seq[String] = Nil): Unit =
    dumpProjection(cols).write.mode("overwrite")
      .option("delimiter", delimiter).option("header", header.toString)
      .option("emptyValue", "").csv(path)

  /** JSON sink (reference: `tdb dump -j`, op_dump.c:69-90). `noEmpty` drops
    * empty-string values (the `--json-no-empty` flag); `cols` projects
    * like every sibling sink (the directory JSON path was the one dump
    * sink silently ignoring --fields). */
  def dumpJson(path: String, noEmpty: Boolean = false,
      cols: Seq[String] = Nil): Unit = {
    val base = dumpProjection(cols)
    val present = if (cols.nonEmpty) fields.filter(cols.contains) else fields
    val projected = if (noEmpty)
      present.foldLeft(base)((acc, f) =>
        acc.withColumn(f, when(col(f) === "", lit(null)).otherwise(col(f))))
    else base
    projected.write.mode("overwrite").json(path)
  }

  // ---- single-file sinks (the reference CLI's artifact shape) ----

  /** The distributed sorts above write a Spark DIRECTORY of part files;
    * the reference's `tdb dump` writes ONE ordered stream to -o/stdout
    * (op_dump.c:92-100). These single-file variants close that (formerly
    * documented) divergence: the sort still runs cluster-side, and only
    * the final serialization streams through `toLocalIterator` —
    * O(one partition) driver memory, the same inherently-single-consumer
    * constraint as the reference's single-threaded dump loop. Formatting
    * mirrors op_dump.c byte-for-byte: CSV joins RAW values with the
    * delimiter, no quoting (op_dump.c:52-67 — values containing the
    * delimiter are the caller's concern, exactly like the reference);
    * JSON prints `{"k": "v", ...}` with raw value bytes (:69-90).
    *
    * `refOrder = true` emits trails in the reference's LE-u128 uuid
    * order (its stored trail order, src/tdb.c:552-585) instead of
    * graft's canonical hex order — a graft dump of a shared db is then
    * byte-diffable against the C engine's dump (TdbInteropSpec proves
    * byte identity). */
  def dumpCsvFile(path: String, delimiter: String = " ",
      header: Boolean = false, cols: Seq[String] = Nil,
      refOrder: Boolean = false): Unit =
    writeSingle(path, csvLines(delimiter, header, cols, refOrder))

  /** Single-file JSON (see [[dumpCsvFile]]): one `{"k": "v", ...}` object
    * per line in the C CLI's exact shape — keys in dump order, every
    * value a string, `noEmpty` dropping empty values like
    * `--json-no-empty`.
    *
    * NOTE: like the reference (op_dump.c:69-90 prints raw value bytes),
    * values are emitted UNESCAPED — a value containing `"` or `\`
    * produces a line that is not parseable JSON, and this single-file
    * form therefore diverges from the directory [[dumpJson]] sink
    * (Spark's JSON writer escapes). That is the point: this is the
    * byte-parity artifact; use [[dumpJson]] when consumers need
    * guaranteed-valid JSON. */
  def dumpJsonFile(path: String, noEmpty: Boolean = false,
      cols: Seq[String] = Nil, refOrder: Boolean = false): Unit =
    writeSingle(path, jsonLines(noEmpty, cols, refOrder))

  /** The single-stream dump as a driver-side line iterator (what
    * [[dumpCsvFile]] writes; the CLI streams it to stdout when no -o is
    * given — the reference's default output, op_dump.c). */
  def csvLines(delimiter: String = " ", header: Boolean = false,
      cols: Seq[String] = Nil, refOrder: Boolean = false): Iterator[String] = {
    val proj = projectedFile(cols, refOrder)
    val names = proj.columns
    import scala.jdk.CollectionConverters._
    (if (header) Iterator.single(names.mkString(delimiter))
     else Iterator.empty) ++
      proj.toLocalIterator.asScala.map(r =>
        names.indices.map(i => Option(r.get(i)).fold("")(_.toString))
          .mkString(delimiter))
  }

  /** [[csvLines]]' JSON twin. Raw-byte values, unescaped — see the
    * [[dumpJsonFile]] validity note. */
  def jsonLines(noEmpty: Boolean = false, cols: Seq[String] = Nil,
      refOrder: Boolean = false): Iterator[String] = {
    val proj = projectedFile(cols, refOrder)
    val names = proj.columns
    import scala.jdk.CollectionConverters._
    proj.toLocalIterator.asScala.map { r =>
      names.indices.flatMap { i =>
        val v = Option(r.get(i)).fold("")(_.toString)
        if (v.isEmpty && noEmpty) None
        else Some(s""""${names(i)}": "$v"""")
      }.mkString("{", ", ", "}")
    }
  }

  private def projectedFile(cols: Seq[String], refOrder: Boolean): DataFrame = {
    if (!refOrder) dumpProjection(cols)
    else {
      // LE-u128 order = byte-reversed hex, string-sorted — as pure
      // SUBSTRING swaps (TdbWriter's own key): hex pairs swap as whole
      // bytes and lowercase hex compares numerically. NOT
      // hex(reverse(unhex(...))): reverse has no binary overload, so
      // that form silently casts the bytes through a UTF-8 string and
      // mangles every byte > 0x7f (caught by the random-uuid
      // byte-identity interop test).
      val out = if (cols.nonEmpty) cols
        else TrailSchema.UuidCol +: TrailSchema.TimeCol +: fields
      val leKey = concat((0 until 16).reverse.map(i =>
        substring(col(TrailSchema.UuidCol), i * 2 + 1, 2)): _*)
      events()
        .orderBy(leKey, col(TrailSchema.TimeCol), col(TrailSchema.SeqCol))
        .select(out.map {
          case c @ (TrailSchema.UuidCol | TrailSchema.TimeCol |
            TrailSchema.SeqCol) => col(c)
          case f => coalesce(col(f), lit("")).as(f)
        }: _*)
    }
  }

  private def writeSingle(path: String, lines: Iterator[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => out.write(l); out.write('\n') }
    finally out.close()
  }
}

/** One event as seen by [[TrailDB.trailCursor]]: NULL fields already
  * coalesced to "" (reference dump semantics). */
final case class CursorEvent(uuid: String, time: Long, seq: Long,
    fields: Map[String, String])

object TrailDB {
  /** Above this many listed uuids, whitelist/blacklist switch from an
    * isin literal list to a (semi/anti) join — see [[TrailDB.whitelist]].
    * The In→InSet conversion keeps isin CORRECT at any width; the join
    * keeps it CHEAP (one hashed set broadcast vs a per-row-group
    * million-value pushed filter and a million-literal plan). */
  val LargeListThreshold = 10000

  /** Normalize ONE uuid lookup argument exactly like [[fromEvents]]
    * normalizes the stored key: a hex-UUID rendering (32 hex chars,
    * hyphens optional) becomes the 32-char lowercase form, anything else
    * passes through unchanged — so the canonical hyphenated rendering
    * finds the trail it keyed at ingest (the reference's uuid_raw
    * accepts both, src/tdb_uuid.c). */
  private[core] def normalizeUuidKey(u: String): String = {
    if (u == null) return u
    val s = u.replace("-", "")
    if (s.length == 32 && s.forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F'))) s.toLowerCase else u
  }

  /** Open a finalized trail table (reference: tdb_open, src/tdb.c:298-393).
    * Reads the `_graft_info.json` metadata sidecar when present (reference:
    * info file read at src/tdb.c:677-700) so numTrails/numEvents/timeRange
    * are driver-side lookups; a db without one (e.g. a bare parquet dir)
    * falls back to scans. `bucketSeconds` comes from the sidecar for
    * [[TrailDBCons.finalizePartitioned]] layouts, or can be passed
    * explicitly for sidecar-less dirs. */
  def open(spark: SparkSession, path: String,
      bucketSeconds: Option[Long] = None): TrailDB = {
    // A legacy-format db (single-file tar package, or a directory of
    // reference members) opens through the `tdb` DataSourceV2 reader and
    // presents the same trail frame as a native parquet db — a reference
    // user's existing .tdb files are first-class CLI/API inputs
    // (round 7; reference: tdb_open dispatches the same way on file vs
    // dir, src/tdb.c:330-341).
    if (isLegacyTdb(spark, path)) {
      // A legacy db has no time-partitioned layout; silently dropping an
      // explicit bucketSeconds would let the caller believe time-range
      // partition pruning is configured when it cannot be.
      require(bucketSeconds.isEmpty,
        s"bucketSeconds has no effect on a legacy .tdb at $path — the " +
        "format has no partitioned layout; re-finalize with " +
        "finalizePartitioned for time pruning")
      val df = spark.read.format("tdb").load(path)
      // same seq synthesis as fromTrailFrame (the tdb reader exposes no
      // seq column), but KEEPING the filesystem identity: an index built
      // over a legacy package then gets the same staleness binding as
      // one over a parquet db (TrailIndex fingerprints the package FILE)
      // instead of the unbound-index warning fromTrailFrame would cause
      val withSeq =
        if (df.columns.contains(TrailSchema.SeqCol)) df
        else df.withColumn(TrailSchema.SeqCol, monotonically_increasing_id())
      return new TrailDB(spark, withSeq, None, None, None, Some(path))
    }
    val info = TrailInfo.read(spark, path)
    // an explicit bucketSeconds is the escape hatch for SIDECAR-LESS
    // dirs; on a db whose sidecar RECORDS the finalize-time value, a
    // disagreeing override would silently compute wrong _bucket pruning
    // bounds and drop valid rows from every time-range query — refuse
    val recorded = info.flatMap(_.bucketSeconds)
    (bucketSeconds, recorded) match {
      case (Some(b), Some(r)) => require(b == r,
        s"open($path): bucketSeconds $b disagrees with the finalize-time " +
          s"sidecar value $r — the layout's partition width is fixed at " +
          "finalize; omit the argument (the sidecar applies)")
      case _ =>
    }
    new TrailDB(spark, ParquetInputs.read(spark, path), None,
      bucketSeconds.orElse(recorded), info, Some(path))
  }

  /** A path is a legacy tdb iff it is a regular FILE (parquet dbs are
    * directories), a directory holding the reference's `info`+`fields`
    * members instead of parquet, or — like tdb_open (src/tdb.c:322-329)
    * and [[graft.sources.TdbFormat.TdbArchive.open]] — `<path>.tdb`
    * exists where `path` itself does not. */
  private def isLegacyTdb(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      fs.exists(new org.apache.hadoop.fs.Path(path + ".tdb"))
    else if (fs.getFileStatus(p).isFile) true
    else fs.exists(new org.apache.hadoop.fs.Path(p, "info")) &&
      fs.exists(new org.apache.hadoop.fs.Path(p, "fields"))
  }

  /** Open a bucketed catalog table written by
    * [[TrailDBCons.finalizeToTable]], reading the metadata sidecar from the
    * table's location. */
  def openTable(spark: SparkSession, tableName: String): TrailDB = {
    val location = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tableName)).location.toString
    new TrailDB(spark, spark.table(tableName), None, None,
      TrailInfo.read(spark, location), Some(location))
  }

  /** Wrap an already-normalized trail DataFrame (uuid/time/seq + string fields). */
  def fromTrailFrame(df: DataFrame): TrailDB = {
    require(df.columns.contains(TrailSchema.UuidCol) && df.columns.contains(TrailSchema.TimeCol),
      s"trail frame needs '${TrailSchema.UuidCol}' and '${TrailSchema.TimeCol}' columns")
    val withSeq =
      if (df.columns.contains(TrailSchema.SeqCol)) df
      else df.withColumn(TrailSchema.SeqCol, monotonically_increasing_id())
    new TrailDB(df.sparkSession, withSeq, None)
  }

  /** Normalize an arbitrary event DataFrame into the canonical trail shape:
    * uuid → 32-char lowercase hex, time → Long, every field → String with
    * NULL coalesced to "" at the dump boundary (kept as NULL internally for
    * Parquet efficiency). Mirrors the ingest conversion of tdbcli/op_make.c
    * (numbers stored as their string bytes, op_make.c:333-350).
    */
  def fromEvents(df: DataFrame, uuidCol: String, timeCol: String,
      fieldCols: Seq[String], seqCol: Option[String] = None): TrailDB = {
    TrailSchema.validateFields(fieldCols).left.foreach(e => throw e)
    // String uuids that RENDER a hex UUID (32 hex chars, hyphens
    // optional) normalize to the documented 32-char lowercase form, so
    // the canonical "123e4567-e89b-..." rendering and the bare-hex
    // rendering of the same UUID key ONE trail (the reference's uuid_raw
    // accepts both, src/tdb_uuid.c). Non-hex string keys pass through
    // UNCHANGED — blanket lowercasing would silently merge case-distinct
    // app keys ("UserA"/"usera") into one trail (r15 review).
    val uuidExpr = df.schema(uuidCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        val stripped = regexp_replace(col(uuidCol), "-", "")
        when(stripped.rlike("^[0-9a-fA-F]{32}$"),
          lower(stripped)).otherwise(col(uuidCol))
      case _ => format_string("%032x", col(uuidCol))
    }
    // Prefer a natural unique key as the (uuid, time) sort tiebreaker —
    // monotonically_increasing_id is partition-layout-dependent and would
    // make output order nondeterministic across runs.
    val seqExpr = seqCol.map(c => col(c).cast("long"))
      .getOrElse(monotonically_increasing_id())
    val normalized = df.select(
      uuidExpr.as(TrailSchema.UuidCol) +:
      col(timeCol).cast("long").as(TrailSchema.TimeCol) +:
      fieldCols.map(f => col(f).cast("string").as(f)) :+
      seqExpr.as(TrailSchema.SeqCol): _*)
    new TrailDB(df.sparkSession, normalized, None)
  }
}
