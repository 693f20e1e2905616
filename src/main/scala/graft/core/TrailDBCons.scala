package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Write path — the Spark-native analog of the reference constructor
  * (reference: src/tdb_cons.c `tdb_cons_open`/`tdb_cons_add`/
  * `tdb_cons_finalize` and the 7-stage encode pipeline of
  * src/tdb_encode.c:399-569). The whole pipeline collapses to one Spark
  * shuffle: repartition by uuid hash, sort within partitions by
  * (uuid, time, seq), write Parquet. Parquet dictionary/RLE/ZSTD encodings
  * replace the reference's lexicon + edge-encode + Huffman model
  * (src/tdb_encode_model.c), and the (uuid-sorted, row-group-statted)
  * layout replaces the uuid TOC.
  *
  * Scale note: the shuffle is the only wide dependency; partition count
  * should track input size (AQE coalesces). No driver-side state.
  */
final class TrailDBCons(val spark: SparkSession, val fields: Seq[String]) {
  TrailSchema.validateFields(fields).left.foreach(e => throw e)

  private var staged: Option[DataFrame] = None
  private var uuidWhitelist: Option[Seq[String]] = None

  /** Staged events, or a correctly-typed empty table — the reference allows
    * finalizing a cons with zero added events (tdb_cons_finalize on an empty
    * cons writes a valid empty db); spark.emptyDataFrame has zero COLUMNS
    * and would fail the repartition on uuid. */
  private def stagedOrEmpty: DataFrame =
    staged.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      TrailSchema.schemaFor(fields)))

  private def stage(df: DataFrame): this.type = synchronized {
    // An armed whitelist restricts EVERY add, not only rows staged before
    // the whitelist() call — otherwise a later add() would smuggle
    // unlisted trails into a db the docstring promises contains only the
    // listed ones.
    val filtered = uuidWhitelist match {
      case Some(us) => restrictToWhitelist(df, us)
      case None => df
    }
    staged = Some(staged.map(_.unionByName(filtered)).getOrElse(filtered))
    this
  }

  /** Append normalized events — tdb_cons_add (reference: src/tdb_cons.c:356-411).
    * Input must have uuid/time columns plus this cons's fields; missing
    * fields become NULL ≡ "" (reference: val 0). */
  def add(df: DataFrame): this.type = {
    val cols =
      col(TrailSchema.UuidCol).cast(StringType).as(TrailSchema.UuidCol) +:
      col(TrailSchema.TimeCol).cast("long").as(TrailSchema.TimeCol) +:
      fields.map(f =>
        (if (df.columns.contains(f)) col(f).cast(StringType) else lit(null).cast(StringType)).as(f)) :+
      (if (df.columns.contains(TrailSchema.SeqCol)) col(TrailSchema.SeqCol).cast("long")
       else monotonically_increasing_id()).as(TrailSchema.SeqCol)
    stage(df.select(cols: _*))
  }

  /** CSV ingest — `tdb make -c` (reference: tdbcli/op_make.c:166-236).
    * `mapping` routes input columns to (uuid, time, fields); `skipBadInput`
    * mirrors `--skip-bad-input` via DROPMALFORMED + dropping rows whose
    * time fails to parse (reference: op_make.c:133-136 `safely_to_int`). */
  def addCsv(path: String, delimiter: String = " ", header: Boolean = false,
      mapping: Map[String, String] = Map(), skipBadInput: Boolean = false): this.type = {
    val raw = spark.read
      .option("delimiter", delimiter).option("header", header.toString)
      .option("mode", if (skipBadInput) "DROPMALFORMED" else "FAILFAST")
      .csv(path)
    addMapped(raw, mapping, skipBadInput)
  }

  /** JSONL ingest — `tdb make -j` (reference: tdbcli/op_make.c:262-372).
    * Unknown keys are ignored (projection), JSON nulls are ignored (stay
    * NULL ≡ ""). */
  def addJsonl(path: String, mapping: Map[String, String] = Map(),
      skipBadInput: Boolean = false): this.type = {
    val raw = spark.read
      .option("mode", if (skipBadInput) "DROPMALFORMED" else "FAILFAST")
      .json(path)
    addMapped(raw, mapping, skipBadInput)
  }

  private def addMapped(raw: DataFrame, mapping: Map[String, String],
      skipBadInput: Boolean): this.type = {
    def src(canonical: String): String = mapping.getOrElse(canonical, canonical)
    // try_cast, not cast: under ANSI (Spark 4 default) a malformed time would
    // abort the job; the reference drops the row instead (op_make.c:133-136).
    val timeExpr =
      if (skipBadInput) expr(s"try_cast(`${src(TrailSchema.TimeCol)}` AS BIGINT)")
      else col(src(TrailSchema.TimeCol)).cast("long")
    val projected = raw.select(
      col(src(TrailSchema.UuidCol)).cast(StringType).as(TrailSchema.UuidCol) +:
      timeExpr.as(TrailSchema.TimeCol) +:
      fields.map(f =>
        (if (raw.columns.contains(src(f))) col(src(f)).cast(StringType)
         else lit(null).cast(StringType)).as(f)): _*)
    val clean =
      if (skipBadInput) projected.filter(col(TrailSchema.TimeCol).isNotNull &&
        col(TrailSchema.UuidCol).isNotNull)
      else projected
    add(clean)
  }

  /** Bulk-append an existing db — tdb_cons_append (reference:
    * src/tdb_cons.c:625-657). The field LISTS must match exactly, names
    * and order (the reference deliberately refuses the permissive
    * fill-missing-with-NULLs join here, :629-638 — use
    * [[TrailOps.merge]] for schema-union); the db's active filter rides
    * in via `db.df`, the reference's subset-append path. */
  def append(db: TrailDB): this.type = {
    if (db.fields != fields)
      throw GraftError.AppendFieldsMismatch(
        s"cons fields (${fields.mkString(",")}) != db fields " +
          s"(${db.fields.mkString(",")})")
    add(db.df)
  }

  /** Restrict staged events to the listed trails — `make --uuids`
    * (reference: tdbcli/main.c:84-90: "--uuids selects a subset of trails
    * for 'make' or 'dump'"): the selection happens at ingest, so the
    * finalized db contains only the listed trails. Lazy like every other
    * staging op — the isin predicate rides the ingest plan. */
  def whitelist(uuids: Seq[String]): this.type = synchronized {
    // one list per cons: already-staged rows were restricted by the
    // PREVIOUS list at stage time, so replacing it mid-build would make
    // the finalized content depend on add()-call ordering (earlier adds
    // restricted by the intersection, later ones by the new list only)
    require(uuidWhitelist.isEmpty,
      "whitelist already set for this cons — the reference's make --uuids " +
        "takes one list per build; create a new cons to change it")
    uuidWhitelist = Some(uuids)
    staged = staged.map(restrictToWhitelist(_, uuids))
    this
  }

  /** isin while the list is plan-friendly; semi-join past the same
    * threshold the read-side whitelist switches at
    * ([[TrailDB.LargeListThreshold]] — a make --uuids file can be as huge
    * as a dump one). */
  private def restrictToWhitelist(df: DataFrame, uuids: Seq[String]): DataFrame =
    if (uuids.size <= TrailDB.LargeListThreshold)
      df.filter(col(TrailSchema.UuidCol).isin(uuids: _*))
    else {
      import spark.implicits._
      df.join(uuids.toDF(TrailSchema.UuidCol).distinct(),
        Seq(TrailSchema.UuidCol), "left_semi")
    }

  /** The staged (pre-finalize) view — CLI-side counts only. */
  private[graft] def stagedView: DataFrame = stagedOrEmpty

  /** Finalize: shuffle-sort by trail and write the immutable table —
    * tdb_cons_finalize → tdb_encode (reference: src/tdb_cons.c:660-723,
    * src/tdb_encode.c:399-569 stages (a)-(g) — here one repartition +
    * sortWithinPartitions + Parquet write). */
  def finalizeTo(path: String, partitions: Int = 0): TrailDB = {
    val df = stagedOrEmpty
    val parts = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // The `info` sidecar (reference: tdb_encode.c:191-216, written from
    // the encode's own pass): every trail sits whole in one sorted
    // partition, so the stats ride the write itself and nothing is read
    // back.
    val (write, info) = TrailInfo.observed(
      df.repartition(parts, col(TrailSchema.UuidCol))
        .sortWithinPartitions(TrailSchema.UuidCol, TrailSchema.TimeCol,
          TrailSchema.SeqCol),
      fields, path)
    write.write.mode(SaveMode.Overwrite).parquet(path)
    // the writer knows the schema it wrote, so open infers nothing
    ParquetInputs.seed(spark, path, write.schema)
    TrailInfo.write(spark, path, info())
    TrailDB.open(spark, path)
  }

  /** Finalize as TIME-PARTITIONED parquet — the reference's deployment
    * pattern of periodic (e.g. daily) shards (doc/docs/index.md:43-48),
    * expressed as Hive-style partitions on `_bucket = time DIV
    * secondsPerPartition`. Time-range filters then prune whole partitions
    * before any IO ([[TrailDB.events]] adds the `_bucket` bounds for
    * TimeRange terms automatically). Within each partition, rows stay
    * (uuid, time)-sorted for row-group pruning on uuid. */
  def finalizePartitioned(path: String,
      secondsPerPartition: Long = 86400L): TrailDB = {
    val bucketed = stagedOrEmpty.withColumn(TrailSchema.BucketCol,
      expr(s"${TrailSchema.TimeCol} DIV $secondsPerPartition"))
    // ROW-level emptiness, not Option-level: a staged-but-filtered-to-
    // zero frame (whitelist matching nothing, skip-bad-input dropping
    // every row) must also take the plain write — the dynamic-partition
    // write of zero rows emits NO data files and the re-open cannot
    // infer a schema. The isEmpty probe is a take(1) job, cheap next to
    // the write + stats passes finalize already runs.
    if (staged.isEmpty || bucketed.isEmpty) {
      bucketed.write.mode(SaveMode.Overwrite).parquet(path)
    } else {
      bucketed
        .repartition(col(TrailSchema.BucketCol), col(TrailSchema.UuidCol))
        .sortWithinPartitions(TrailSchema.UuidCol, TrailSchema.TimeCol, TrailSchema.SeqCol)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(TrailSchema.BucketCol)
        .parquet(path)
    }
    // Sidecar records the partition granularity too, so a bare open()
    // re-enables time-partition pruning without the caller passing it.
    TrailInfo.write(spark, path,
      TrailInfo.compute(ParquetInputs.read(spark, path), fields, Some(secondsPerPartition)))
    TrailDB.open(spark, path, Some(secondsPerPartition))
  }

  /** Finalize Z-ORDERED on (uuid, time) — Morton-interleave the uuid's
    * numeric low bits with the time bucket and range-partition + sort on
    * that curve (the layout Delta/Iceberg expose as OPTIMIZE ZORDER). Row
    * groups become RECTANGLES in (uuid, time) space, so min/max stats
    * prune scans for uuid-only, time-only, AND combined predicates — the
    * uuid-sorted layout prunes only uuid, the time-partitioned one only
    * time(+uuid within a day). The tradeoff: per-dimension runs are
    * shorter, so point lookups on one dimension prune somewhat less than
    * that dimension's dedicated sort — Z-order is the layout for mixed
    * query sets (tools/Storage prints the measured bytes-read matrix).
    *
    * The curve key is derived from ORDER-PRESERVING ordinals, never a
    * hash — hashing would scatter the very locality pruning relies on.
    * The default uuid ordinal is the LEADING 7 hex digits as a number:
    * prefix order == lexicographic order of the uuid string (whose
    * min/max stats do the pruning), and 28 bits always fits the curve's
    * 31-bit lanes — no ANSI cast overflow for any uuid. For corpora
    * whose uuids share a long constant prefix (e.g. counter-derived
    * test uuids: all-zero leading digits), pass a discriminative
    * `uuidOrdinal` instead — tools/Storage uses the trailing digits,
    * which ARE the order for its %032x-of-integer uuids. `_z` is dropped
    * before the write: pruning works off the real columns' stats.
    */
  def finalizeZOrdered(path: String, timeBucketSecs: Long = 3600L,
      partitions: Int = 0, uuidOrdinal: Option[Column] = None): TrailDB = {
    val df = stagedOrEmpty
    val parts = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val uuidOrd = uuidOrdinal.getOrElse(
      conv(substring(col(TrailSchema.UuidCol), 1, 7), 16, 10).cast("long"))
    val timeOrd = expr(s"${TrailSchema.TimeCol} DIV $timeBucketSecs")
    val z = graft.functions.GraftFunctions.zOrder2(uuidOrd, timeOrd)
    df.withColumn("_z", z)
      .repartitionByRange(parts, col("_z"))
      .sortWithinPartitions("_z", TrailSchema.TimeCol, TrailSchema.SeqCol)
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    TrailInfo.write(spark, path,
      TrailInfo.compute(ParquetInputs.read(spark, path), fields))
    TrailDB.open(spark, path)
  }

  /** Finalize into a BUCKETED catalog table: hash-bucketed and sorted by
    * uuid. This is the 100 TB layout — every downstream per-trail operation
    * (groupBy(uuid), trail-window sessionization, uuid equi-join across
    * shards) reads co-located, pre-sorted buckets and plans with NO
    * Exchange. The one-time bucketing shuffle here amortizes across every
    * subsequent query (verified shuffle-free in ConsSpec). */
  def finalizeToTable(tableName: String, buckets: Int = 32): TrailDB = {
    val df = stagedOrEmpty
    df.repartition(buckets, col(TrailSchema.UuidCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, TrailSchema.UuidCol)
      .sortBy(TrailSchema.UuidCol, TrailSchema.TimeCol, TrailSchema.SeqCol)
      .format("parquet")
      .saveAsTable(tableName)
    val location = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tableName)).location.toString
    TrailInfo.write(spark, location,
      TrailInfo.compute(spark.table(tableName), fields))
    TrailDB.openTable(spark, tableName)
  }

  /** The staged (not yet finalized) events, for inspection/tests. */
  def stagedEvents: Option[DataFrame] = staged
}

/** Union-style operators across whole databases (reference: tdbcli/op_merge.c
  * and src/tdb_multi_cursor.c). */
object TrailOps {
  /** `tdb merge` — union-all of N databases with schema union: output fields
    * = deduplicated union, missing values become "" (reference:
    * tdbcli/op_merge.c:92-186). Spark: unionByName(allowMissingColumns) —
    * no shuffle at all until a downstream op needs one. */
  def merge(dbs: Seq[TrailDB]): TrailDB = {
    require(dbs.nonEmpty, "merge of zero databases")
    val unioned = dbs.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
    TrailDB.fromTrailFrame(unioned)
  }

  /** Per-trail AS-OF join: each left event picks up the value columns of
    * the LATEST right event with right.time <= left.time in the same trail
    * — the enrichment pattern reference users hand-roll with a multi-cursor
    * walk (doc/docs/technical_overview.md:219-229: merge streams, carry
    * last-seen state). Left events with no prior right event get NULLs.
    *
    * Spark-first shape: tag the two streams, union, and run ONE window
    * pass per trail (last-non-null carry-forward) — a single shuffle on
    * uuid, no join explosion, no range-join quadratic blowup. Right rows
    * sort before left rows at equal timestamps so a same-second right
    * event is visible (<= semantics). The right stream is first reduced
    * to one row per (uuid, time) — max of each value column — making the
    * result deterministic regardless of input order.
    *
    * The value columns travel as ONE struct through the window, so every
    * asof_* output comes from the SAME matched right row — carrying each
    * column independently with last(ignoreNulls) would resurrect a stale
    * value from an older right row whenever the matched row holds NULL in
    * one column, diverging from as-of semantics (the matched row's NULL
    * must win).
    *
    * `tolerance`: when set, a match additionally requires right.time >=
    * left.time − tolerance (closed bound) — the bounded-staleness variant
    * (join against a quote no older than N seconds). Too-old matches
    * produce NULLs, exactly like no-match. Same single window pass: the
    * matched right row's time travels in the carried struct and the bound
    * is applied as a post-window projection, so tolerance adds ZERO
    * shuffles.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, valueCols: Seq[String],
      uuidCol: String = TrailSchema.UuidCol,
      timeCol: String = TrailSchema.TimeCol,
      tolerance: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tolerance.foreach(t => require(t > 0, s"tolerance must be positive, got $t"))
    require(valueCols.nonEmpty, "asOfJoin needs at least one value column")
    val r = right.groupBy(col(uuidCol), col(timeCol))
      .agg(max(valueCols.head).as(valueCols.head),
        valueCols.tail.map(c => max(c).as(c)): _*)
    val rStructType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_rt",
        org.apache.spark.sql.types.LongType) +:
      valueCols.map(c => org.apache.spark.sql.types.StructField(
        c, right.schema(c).dataType)))
    val leftCols = left.columns.toSeq
    val lTagged = left.select(
      leftCols.map(col) :+
      lit(null).cast(rStructType).as("_r") :+
      lit(1).as("_is_l"): _*)
    val rTagged = r.select(
      leftCols.map(c =>
        if (c == uuidCol || c == timeCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+
      struct(col(timeCol).cast("long").as("_rt") +: valueCols.map(col): _*).as("_r") :+
      lit(0).as("_is_l"): _*)
    val w = Window.partitionBy(uuidCol)
      .orderBy(col(timeCol), col("_is_l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedRaw = last(col("_r"), ignoreNulls = true).over(w)
    val matched = tolerance match {
      case Some(t) => when(
        matchedRaw.getField("_rt") >= col(timeCol).cast("long") - t, matchedRaw)
      case None => matchedRaw
    }
    val carried = lTagged.unionByName(rTagged)
      .select(
        (leftCols.map(col) :+ col("_is_l")) ++
        valueCols.map(c => matched.getField(c).as(s"asof_$c")): _*)
    carried.filter(col("_is_l") === 1).drop("_is_l")
  }

  /** Multi-cursor K-way timestamp-ordered merge (reference:
    * src/tdb_multi_cursor.c:84-300 — binary-heap merge of K cursors).
    * Spark's sort-merge IS the k-way merge: union then per-trail time sort.
    * Per-partition merge happens in the shuffle sorter — O(Kn log K)
    * distributed, vs the reference's single-threaded O(Kn log K). */
  def multiCursor(dbs: Seq[TrailDB]): DataFrame = {
    val merged = merge(dbs)
    merged.df.orderBy(TrailSchema.UuidCol, TrailSchema.TimeCol, TrailSchema.SeqCol)
  }

  /** Snapshot diff between two trail databases — the operational question
    * the reference toolchain leaves to hand-rolled scripts: after a
    * rebuild/backfill, WHAT changed? Event identity is content-based
    * `(uuid, time, field values)` — `seq` is this library's own
    * deterministic tiebreaker, not part of the reference's event model,
    * so two snapshots ingested in different orders still diff as equal.
    * Multiset semantics: an event present 3× in base and 1× in revision
    * reports 2 removed. Schemas are unioned first (merge's rule: missing
    * field = "" — NULL≡"" per the reference model, which also makes the
    * join keys null-free).
    *
    * Output: one row per distinct changed event,
    * `(uuid, time, <fields>, n_added, n_removed)` (one of the two counts
    * is 0). Scale shape: one groupBy per side on the full event key, then
    * a co-partitioned full-outer join (same keys — no extra exchange);
    * nothing corpus-sized ever broadcasts or funnels into a window. */
  def diff(base: TrailDB, revision: TrailDB): DataFrame = {
    val fieldSet = (base.df.columns ++ revision.df.columns).distinct.toSeq
      .filterNot(TrailSchema.ReservedCols.contains)
    def normalized(db: TrailDB): DataFrame = {
      val df = db.df
      val withAll = fieldSet.foldLeft(df)((d, f) =>
        if (d.columns.contains(f)) d
        else d.withColumn(f, lit("")))
      withAll.select(
        col(TrailSchema.UuidCol) +: col(TrailSchema.TimeCol) +:
        fieldSet.map(f => coalesce(col(f), lit("")).as(f)): _*)
    }
    val key = TrailSchema.UuidCol +: TrailSchema.TimeCol +: fieldSet
    val bc = normalized(base).groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("_ca")).alias("l")
    val rc = normalized(revision).groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("_cb")).alias("r")
    // Null-safe (<=>) join keys: fields are ""-coalesced, but a frame fed
    // in with a NULL uuid/time would otherwise never match ITSELF across
    // sides — diff(db, identicalCopy) must be empty even on
    // contract-violating rows.
    val cond = key.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
    bc.join(rc, cond, "full_outer")
      .select(
        key.map(k => coalesce(col(s"l.$k"), col(s"r.$k")).as(k)) :+
        greatest(coalesce(col("_cb"), lit(0L)) - coalesce(col("_ca"), lit(0L)),
          lit(0L)).as("n_added") :+
        greatest(coalesce(col("_ca"), lit(0L)) - coalesce(col("_cb"), lit(0L)),
          lit(0L)).as("n_removed"): _*)
      .filter(col("n_added") > 0 || col("n_removed") > 0)
  }

  /** [[diff]] rolled up per trail: `(uuid, n_added, n_removed)` for every
    * uuid with any change — the "which users' trails moved" report. */
  def diffSummary(base: TrailDB, revision: TrailDB): DataFrame =
    diff(base, revision)
      .groupBy(col(TrailSchema.UuidCol))
      .agg(sum(col("n_added")).as("n_added"),
        sum(col("n_removed")).as("n_removed"))
}
