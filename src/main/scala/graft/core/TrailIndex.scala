package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.{Clause, EventFilter, Match, TimeRange}

/** Explicit inverted skipping index — the Spark-native analog of `tdb index`
  * (reference: tdbcli/tdb_index.c).
  *
  * The reference splits the trail space into ≤65,534 contiguous pages over
  * the uuid-sorted trail order and stores `item → [page_id,...]`
  * (tdbcli/tdb_index.c:25-131). Because our finalized layout is uuid-sorted
  * too (TrailDBCons), the honest page analog is a uuid HEX PREFIX: an index
  * entry is `(field, value, page)` where page = first `prefixLen` hex chars
  * of the uuid. Query-time pruning then emits `uuid LIKE 'page%'`
  * disjunctions, which Spark pushes to the Parquet scan as
  * StringStartsWith — row-group min/max stats skip every page-range that
  * cannot contain a candidate trail, exactly the reference's "Evaluating
  * X/N trails" effect (tdbcli/op_dump.c:239-247).
  *
  * Query semantics mirror tdbcli/tdb_index.c:575-606 exactly:
  * each clause's POSITIVE terms OR their page lists; a clause containing a
  * negated or time-range term is useless for pruning (all pages); clauses
  * AND by page-set intersection; the result may contain false positives, so
  * the full CNF filter is always still applied after the pruned scan.
  *
  * Scale: the index table is tiny relative to the data —
  * O(Σ_field lexicon_size × pages_touched) rows of three short strings —
  * and is built with one distinct (a single shuffle on (field, value,
  * page)). Query-time page lookup collects only the matched index rows
  * (bounded by terms × 16^prefixLen).
  */
object TrailIndex {

  /** Default prefix length 2 → 256 pages, plenty for row-group granularity;
    * the reference defaults to ~64k pages for up to 2^47 trails. */
  val DefaultPrefixLen = 2

  /** Binding sidecar written next to the index entries — records WHICH db
    * this index was built from (path + a fingerprint of its info sidecar),
    * so [[open]] can refuse a stale index. The reference stores the db's
    * identity in the index header and errors on mismatch
    * (tdbcli/tdb_index.c:439-451, 701-702). */
  val SidecarName = "_graft_index.json"

  /** Fingerprint of the db at `dbPath`: sha-256 of its `_graft_info.json`
    * bytes plus that file's modification time. Every finalize rewrites the
    * info sidecar, so ANY rewrite of the db — even one producing identical
    * stats — changes the mtime and invalidates indexes built before it.
    * None when the db has no info sidecar (bare parquet dir). */
  /** Drain a filesystem stream fully — shared by the fingerprint and the
    * sidecar read so stream-handling fixes cannot diverge. */
  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  private def dbFingerprint(spark: SparkSession, dbPath: String): Option[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def shaOf(fs: org.apache.hadoop.fs.FileSystem, p: Path): (String, Long) = {
      val st = fs.getFileStatus(p)
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(readAll(fs, p)).map(b => f"$b%02x").mkString
      (sha, st.getModificationTime)
    }
    val root = new Path(dbPath)
    val fs = root.getFileSystem(conf)
    val info = new Path(dbPath, TrailInfo.FileName)
    // Legacy dbs get the same staleness binding as parquet dbs (r12):
    //  - a single-file .tdb package → sha of the whole file (packages
    //    are single-node-scale by the format's own limits, so the full
    //    hash is cheap) — also probed at `<path>.tdb` like tdb_open;
    //  - a reference member DIRECTORY → sha of its `info` member (the
    //    reference rewrites it on every finalize, like our sidecar).
    val legacyFile =
      if (fs.exists(root) && fs.getFileStatus(root).isFile) Some(root)
      else {
        val dotTdb = new Path(dbPath + ".tdb")
        if (!fs.exists(root) && fs.exists(dotTdb)) Some(dotTdb) else None
      }
    legacyFile match {
      case Some(f) => Some(shaOf(fs, f))
      case None =>
        val legacyInfo = new Path(dbPath, "info")
        if (fs.exists(info)) Some(shaOf(fs, info))
        else if (fs.exists(legacyInfo) &&
            fs.exists(new Path(dbPath, "fields"))) Some(shaOf(fs, legacyInfo))
        else None
    }
  }

  /** Build the inverted index over every user field of `db` and write it as
    * Parquet at `path` (reference: `tdb index` builds <db>.index;
    * tdbcli/tdb_index.c:721-779), plus the db-binding sidecar that [[open]]
    * validates. A db handle with no filesystem identity (an ephemeral
    * [[TrailDB.fromTrailFrame]]) gets an unbound index — open() then warns
    * that staleness protection is unavailable. */
  def build(db: TrailDB, path: String, prefixLen: Int = DefaultPrefixLen): Unit = {
    val spark = db.spark
    // Stage entries + sidecar in a temp sibling and RENAME into place: a
    // crash mid-rebuild leaves either the old index intact or no index at
    // all (open() then fails loudly on the missing parquet) — never a
    // rebuilt index whose missing sidecar would downgrade the staleness
    // check to a warning (r5 ADVICE).
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      // Fingerprint BEFORE the entries job reads any data (fail-closed
      // against a mid-build rewrite): if the db is rewritten while the
      // index builds, the sidecar holds the PRE-build fingerprint and
      // open() against the rewritten db refuses as stale — capturing it
      // after the scan would bind old data to the new db and pass.
      val binding = for {
        dbPath <- db.sourcePath
        (sha, mtime) <- dbFingerprint(spark, dbPath)
      } yield (dbPath, sha, mtime)
      entries(db, prefixLen)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val json = binding match {
        case Some((dbPath, sha, mtime)) =>
          s"""{"prefix_len":$prefixLen,"db_path":"${esc(dbPath)}",""" +
            s""""db_info_sha256":"$sha","db_info_mtime":$mtime}"""
        case None =>
          System.err.println(s"[graft] index at $path built from a db handle " +
            "with no filesystem identity — staleness protection disabled")
          s"""{"prefix_len":$prefixLen}"""
      }
      val out = fs.create(new Path(tmp, SidecarName), true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      if (fs.exists(dst)) fs.delete(dst, true)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"could not move staged index $tmp to $dst")
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** The index entries (field, value, page) as a DataFrame — NULL stored as
    * "" (the reference's val-0 item is indexable like any other). */
  def entries(db: TrailDB, prefixLen: Int = DefaultPrefixLen): DataFrame = {
    val fs = db.fields
    require(fs.nonEmpty, "index over a db with no user fields")
    // coalesce the uuid like the values: a NULL-uuid event (the library
    // tolerates them — see TrailDB.blacklist) would store a NULL page,
    // which NPEs candidate-page sorting and makes the pruned scan's
    // startsWith(null) silently drop every row (a false negative, the
    // one failure class the open() contract forbids)
    db.df.select(
        substring(coalesce(col(TrailSchema.UuidCol), lit("")), 1, prefixLen)
          .as("page"),
        explode(array(fs.map(f =>
          struct(lit(f).as("field"),
            coalesce(col(f), lit("")).as("value"))): _*)).as("fv"))
      .select(col("fv.field"), col("fv.value"), col("page"))
      .distinct()
  }

  /** Open index entries, REFUSING a stale index: if the binding sidecar
    * records a db fingerprint, the db at the recorded path must still have
    * exactly that fingerprint — a db rewritten after the index was built
    * can be missing pages for values added later, which silently DROPS rows
    * from pruned scans (false negatives; false positives are safe because
    * the full filter is always re-applied). Mirrors the reference's
    * open-time binding check (tdbcli/tdb_index.c:439-451, 701-702).
    *
    * An index with no sidecar (pre-binding layout) or an unbound one
    * (ephemeral source db) opens with a loud stderr warning instead — a
    * missing guard must not make an intact index unusable.
    *
    * `dbPath` overrides the RECORDED db location for the check: a db+index
    * pair relocated together (rename preserves the info file's mtime, so
    * the fingerprint survives) validates against the db's new home instead
    * of failing on the stale recorded path. The fingerprint comparison is
    * identical either way — the override relaxes WHERE to look, never
    * WHAT must match. */
  def open(spark: SparkSession, path: String,
      dbPath: Option[String] = None): DataFrame = {
    val sp = new Path(path, SidecarName)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp)) {
      System.err.println(s"[graft] index at $path has no db-binding sidecar " +
        "— cannot check staleness (rebuild with TrailIndex.build to bind)")
    } else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      // An unreadable/unparseable sidecar is treated like a FAILED check,
      // not like a missing one: the file EXISTS, so this index claims a
      // binding we cannot verify — opening anyway could silently drop
      // rows. (Covers torn writes, checksum failures, and garbage alike.)
      val j = try {
        JsonMethods.parse(new String(readAll(fs, sp), "UTF-8"))
      } catch {
        case e: Exception => throw new StaleIndexException(
          s"index sidecar $sp is unreadable (${e.getMessage}) — cannot " +
            "verify the db binding. Rebuild with TrailIndex.build.", e)
      }
      (j \ "db_path", j \ "db_info_sha256", j \ "db_info_mtime") match {
        case (JString(recordedDb), JString(sha), mtimeJ) =>
          val mtime = mtimeJ match {
            case JInt(v) => v.longValue; case JLong(v) => v
            case other => throw new StaleIndexException(
              s"index sidecar $sp has a malformed db_info_mtime: $other")
          }
          val checkDb = dbPath.getOrElse(recordedDb)
          dbFingerprint(spark, checkDb) match {
            case Some((curSha, curMtime)) if curSha == sha && curMtime == mtime => ()
            case Some((curSha, curMtime)) => throw new StaleIndexException(
              s"STALE INDEX at $path: built against db $recordedDb with info " +
                s"fingerprint $sha@$mtime, but the db at $checkDb now has " +
                s"$curSha@$curMtime — the db was rewritten after this index " +
                "was built, so pruned scans could silently drop rows. " +
                "Rebuild with TrailIndex.build.")
            case None => throw new StaleIndexException(
              s"STALE INDEX at $path: built against db $recordedDb, and " +
                s"$checkDb has no info sidecar — cannot prove the index " +
                "still matches the data. If the db+index pair moved, pass " +
                "the db's new location; otherwise rebuild with " +
                "TrailIndex.build.")
          }
        case (JNothing, JNothing, JNothing) =>
          // The EXACT unbound shape build() writes for an ephemeral source
          // db ({"prefix_len":N}) — the only shape that may open unbound.
          System.err.println(s"[graft] index at $path is unbound (built from " +
            "an ephemeral db handle) — staleness cannot be checked")
        case (dbP, shaP, mtP) =>
          // A PARTIAL or mistyped binding (db_path without a fingerprint,
          // a non-string sha, …) claims a binding that cannot be verified —
          // refuse like the unreadable-sidecar case, don't downgrade to the
          // warn-only unbound path (r5 ADVICE).
          throw new StaleIndexException(
            s"index sidecar $sp has a malformed db binding " +
              s"(db_path=$dbP, db_info_sha256=$shaP, db_info_mtime=$mtP) — " +
              "cannot verify the db binding. Rebuild with TrailIndex.build.")
      }
    }
    ParquetInputs.read(spark, path)
  }

  /** Candidate pages for `filter`, or None when the index cannot prune
    * (reference returns "all pages" in that case; tdb_index.c:575-606):
    *  - clause with any negated / time-range / unknown-handling term → that
    *    clause contributes nothing to pruning;
    *  - if NO clause is fully positive, the index is useless → None;
    *  - otherwise intersect the per-clause page unions (CNF AND).
    * A Some(empty set) means the index PROVES no trail can match. */
  def candidatePages(index: DataFrame, filter: EventFilter): Option[Set[String]] = {
    val indexable: Seq[Seq[Match]] = filter.clauses.flatMap { c =>
      val pos = c.terms.collect { case m @ Match(_, _, false) => m }
      if (pos.size == c.terms.size && pos.nonEmpty) Some(pos) else None
    }
    if (indexable.isEmpty) return None

    // One scan of the (small) index for all terms of all prunable clauses.
    val wanted = indexable.flatten.map(m => (m.field, m.value)).distinct
    // balanced: `wanted` is as wide as the filter (a 1000-term clause is
    // legal, event_filter_large.c) — a left-deep OR would overflow the
    // Column->Expression conversion stack
    val pred = graft.filter.EventFilter.balancedReduce(
      wanted.map { case (f, v) =>
        col("field") === lit(f) && col("value") === lit(v)
      })(_ || _)
    val hits: Map[(String, String), Set[String]] =
      index.filter(pred).select("field", "value", "page").collect()
        .groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) => k -> rs.map(_.getString(2)).toSet }

    val perClause = indexable.map(_.map(m =>
      hits.getOrElse((m.field, m.value), Set.empty[String])).reduce(_ union _))
    Some(perClause.reduce(_ intersect _))
  }

  /** A db handle restricted to the candidate pages for `filter` — the
    * pushdown-friendly startsWith disjunction prunes row groups before IO;
    * the FULL filter must still be applied on top (false positives are
    * re-checked, same guarantee as the reference's cursor filter;
    * tdbcli/op_dump.c:239-247). */
  def prunedDb(db: TrailDB, index: DataFrame, filter: EventFilter): TrailDB =
    prunedDb(db, candidatePages(index, filter))

  /** [[prunedDb]] from an already-computed [[candidatePages]] result —
    * callers needing BOTH a progress count and the pruned scan (the CLI's
    * "Evaluating X/N trails" line, op_dump.c:239-247) compute the page set
    * once and restrict twice, instead of re-running the index scan+collect
    * per restriction. */
  def prunedDb(db: TrailDB, pages: Option[Set[String]]): TrailDB =
    pages match {
      case None => db
      case Some(ps) =>
        // balanced: the page set can reach the full page count (65k in
        // the reference's layout) — log-depth, not a 65k-deep chain
        // the "" page holds NULL-uuid events (entries() coalesces, and
        // substring(coalesce(uuid,''),1,n) maps ONLY null/empty uuids
        // there) — its exact predicate is isNull || === "". Emitting
        // startsWith("") instead would be true for EVERY non-null uuid,
        // silently degrading the pruned scan to a full scan whenever a
        // matched value occurs in any NULL-uuid event (correct, but the
        // index stops pruning — r15 ADVICE)
        val pagePred =
          if (ps.isEmpty) lit(false)
          else graft.filter.EventFilter.balancedReduce(
            ps.toSeq.sorted.map(p =>
              if (p.isEmpty)
                col(TrailSchema.UuidCol).isNull ||
                  col(TrailSchema.UuidCol) === ""
              else col(TrailSchema.UuidCol).startsWith(p)))(_ || _)
        db.restrict(pagePred)
    }

  /** Index-pruned scan: identical rows to `db.events(filter)`. */
  def prunedEvents(db: TrailDB, index: DataFrame, filter: EventFilter): DataFrame =
    prunedDb(db, index, filter).events(filter)
}
