package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count_distinct, sum}

import graft.GraftSession
import graft.core.{GraftError, ParquetInputs, TrailDB, TrailDBCons, TrailOps, TrailSchema}
import graft.filter.EventFilter

/** CLI front-end mirroring the reference's `tdb` tool
  * (reference: tdbcli/main.c:30-141 ops and flags):
  *
  *   tdb make  -o OUT (-c CSV | -j JSONL) (-f f1,f2 | -f 2:uuid,5:time,30:f3)
  *             [--csv-header]
  *             [--delimiter D] [--skip-bad-input] [--uuid-col C] [--time-col C]
  *             [--uuids SPEC] [--package PKG | --tdb-format pkg|dir]
  *   tdb dump  -i DB [-F FILTER] [--fields uuid,time,f1] [--uuids SPEC]
  *             [--index IDX | --no-index] [-o OUT] [-c | -j]
  *             [--json-no-empty] [--delimiter D] [--csv-header]
  *             [--single-file]   (-o with --single-file writes ONE ordered
  *                               file in the reference's raw row format;
  *                               no -o streams the full dump to stdout,
  *                               the reference's default output)
  *   tdb merge -o OUT -i DB1 -i DB2 [...] [-F FILTER] [--uuids SPEC]
  *   tdb index -i DB [-o IDX]   (build the inverted (field,value,page)
  *                               skipping index — see [[graft.core.TrailIndex]];
  *                               `dump --index IDX -F ...` prunes with it)
  *
  * Every option accepts the reference's OTHER spelling too (getopt_long
  * parity, tdbcli/main.c:152-171): `--input`/`-i`, `--output`/`-o`,
  * `--filter`/`-F`, `--csv`/`-c`, `--json`/`-j`, `--fields`/`-f`,
  * `--uuids`/`-u`, `--delimiter`/`-d`, `--threads`/`-T`, `--verbose`/`-v`,
  * and `--index-path` for dump's `--index` / index's `-o`. `-T` refuses
  * non-positive or non-numeric values and `-d` refuses multi-char
  * delimiters up front, like the reference's DIE paths.
  *
  * `--uuids SPEC` is either a comma-separated uuid list or `@file` with one
  * uuid per line (reference: tdbcli/main.c:84-91, tdbcli/filter.c:164-213).
  * Invalid (non-32-hex) and missing uuids are ignored; a count line
  * `Found N UUIDs: S selected, M missing, I invalid.` goes to stderr
  * (duplicate listed uuids are counted once, unlike the reference).
  * Valid entries are lowercased before matching — the reference
  * hex-DECODES uuids so its match is case-insensitive, and graft's make
  * stores lowercase hex. An explicitly-empty `--uuids ''` still applies
  * and selects NOTHING (one empty entry, invalid), like the reference —
  * silently dumping everything instead would be the -F '' trap again.
  *
  * Filters use the reference grammar: space = OR, '&' = AND, `f=v`,
  * `f!=v`, `f=` for the NULL value, `f=@file` to read the value from a
  * file (tdbcli/filter.c:18-140).
  *
  * Failures are classified at the [[main]] boundary into tdb_error_str-
  * style names with DISTINCT exit codes ([[graft.core.GraftError]]):
  * 2 bad args, 3 open failure, 4 filter parse error, 5 stale index,
  * 1 anything else.
  */
object Main {
  /** Flags that take a value, per op — `-c`/`-j` take a path for `make` but
    * are boolean output-format switches for `dump` (reference: tdbcli/main.c
    * has separate long_options tables per op for exactly this reason). */
  private val valueFlags: Map[String, Set[String]] = Map(
    "make"  -> Set("-o", "-c", "-j", "-f", "--delimiter", "--uuid-col",
      "--time-col", "--uuids", "--package", "--tdb-format"),
    "dump"  -> Set("-i", "-F", "-o", "--fields", "--uuids", "--delimiter", "--index"),
    "merge" -> Set("-o", "-i", "-F", "--uuids", "--tdb-format"),
    "index" -> Set("-i", "-o"),
    "diff"  -> Set("-i", "-o", "--summary-limit")
  ).withDefaultValue(Set.empty)

  /** Boolean switches per op — together with [[valueFlags]] this is the
    * full flag vocabulary, so a value-taking flag can consume ANY token
    * that is not a known flag of the op (e.g. `-F '-x=1'`, `--delimiter
    * '-'`), mirroring getopt_long's behavior in the reference CLI. */
  private val boolFlags: Map[String, Set[String]] = Map(
    "make"  -> Set("--csv-header", "--skip-bad-input", "--no-bigrams"),
    "dump"  -> Set("-c", "-j", "--json-no-empty", "--csv-header", "--no-index",
      "--single-file"),
    "merge" -> Set.empty[String],
    "index" -> Set.empty[String],
    "diff"  -> Set("--summary")
  ).withDefaultValue(Set.empty)

  /** getopt_long parity: the reference gives every option BOTH a short and
    * a long spelling usable in any op (tdbcli/main.c:152-171 long_options —
    * `-c/--csv`, `-j/--json`, `-i/--input`, `-o/--output`, `-d/--delimiter`,
    * `-f/--fields`, `-u/--uuids`, `-F/--filter`, `-T/--threads`,
    * `-v/--verbose`, plus long-only `--index-path`). Graft's canonical keys
    * vary per op (make reads `-f`, dump reads `--fields`), so each alias
    * normalizes to THAT op's canonical key before lookup — a reference
    * script using either spelling parses identically. */
  private val globalAliases: Map[String, String] = Map(
    "--input" -> "-i", "--output" -> "-o", "--filter" -> "-F",
    "--csv" -> "-c", "--json" -> "-j",
    "--threads" -> "-T", "--verbose" -> "-v")
  private val opAliases: Map[String, Map[String, String]] = Map(
    "make"  -> Map("--fields" -> "-f", "-d" -> "--delimiter",
      "-u" -> "--uuids"),
    "dump"  -> Map("-f" -> "--fields", "-u" -> "--uuids",
      "-d" -> "--delimiter", "--index-path" -> "--index"),
    "merge" -> Map("-u" -> "--uuids"),
    // `tdb index` writes its output where --index-path says (the same
    // flag dump reads it back with); it is -o's long spelling here.
    "index" -> Map("--index-path" -> "-o")
  ).withDefaultValue(Map.empty)

  /** `--uuids` spec → entry list: a comma-separated list, or `@file` with
    * one uuid per line (reference: tdbcli/filter.c:190-213 apply_uuids /
    * :164-186 apply_uuids_from_file; an unreadable file dies loudly). */
  private[cli] def parseUuidSpec(spec: String): Seq[String] =
    if (spec.startsWith("@")) {
      val p = java.nio.file.Paths.get(spec.drop(1))
      if (!java.nio.file.Files.isReadable(p))
        throw GraftError.OpenError(s"Could not read UUIDs from ${spec.drop(1)}")
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSeq
    } else spec.split(",", -1).toSeq

  /** Validity per the reference (tdbcli/filter.c:152-155): exactly 32 hex
    * chars. Invalid and missing uuids are ignored, not fatal. */
  private def isValidUuid(u: String): Boolean =
    u.length == 32 && u.forall(c => Character.digit(c, 16) >= 0)

  /** Report the reference's count line (tdbcli/filter.c:210-216: "Found
    * %u UUIDs: %u selected, %u missing, %u invalid.") — invalid counts
    * the malformed ENTRIES (a valid uuid listed twice is deduplicated,
    * never miscounted as invalid), missing counts distinct valid uuids
    * absent from the target data. */
  private def reportUuids(entries: Seq[String], valid: Seq[String],
      present: Long): Unit = {
    val invalid = entries.count(e => !isValidUuid(e))
    val missing = valid.size - present
    System.err.println(s"Found ${entries.size} UUIDs: " +
      s"$present selected, $missing missing, $invalid invalid.")
  }

  private def parseFlags(op: String, args: Seq[String]): (Map[String, List[String]], List[String]) = {
    var flags = Map.empty[String, List[String]].withDefaultValue(Nil)
    var pos = List.empty[String]
    var i = 0
    // -T/--threads and -v/--verbose are GLOBAL options in the reference
    // (tdbcli/main.c getopt table) — accepted for every op here so
    // reference scripts parse identically; semantics in [[run]].
    val takesValue = valueFlags(op) + "-T"
    val known = takesValue ++ boolFlags(op) + "-v"
    val aliases = globalAliases ++ opAliases(op)
    def canon(tok: String): String = aliases.getOrElse(tok, tok)
    while (i < args.length) {
      val a = canon(args(i))
      // A value-taking flag consumes the next token unless it is a KNOWN
      // flag of this op — `dump -F -o OUT` must not let -F swallow -o, but
      // `dump -F '-x=1'` is a legitimate filter value starting with '-'.
      // Running out of tokens (or hitting a known flag) is a loud error:
      // an unfiltered dump from a silently-dropped -F is worse than a crash.
      if (a.startsWith("-") && takesValue(a)) {
        if (i + 1 >= args.length || known(canon(args(i + 1))))
          throw GraftError.BadArgs(s"$op: flag $a requires a value")
        flags = flags.updated(a, flags(a) :+ args(i + 1)); i += 2
      } else if (a.startsWith("--") && a.contains('=') &&
          takesValue(canon(a.substring(0, a.indexOf('='))))) {
        // getopt_long's '--filter=type=click' spelling — reference
        // scripts use it; split at the FIRST '=' only
        val eq = a.indexOf('=')
        val f = canon(a.substring(0, eq))
        flags = flags.updated(f, flags(f) :+ a.substring(eq + 1)); i += 1
      } else if (a.startsWith("-")) {
        // UNKNOWN flags refuse loudly like getopt_long — a misspelled
        // --filter silently dropped would produce a full unfiltered
        // dump with exit 0, the exact failure the -F guard above exists
        // to prevent
        if (!known(a))
          throw GraftError.BadArgs(s"$op: unknown flag $a")
        flags = flags.updated(a, flags(a) :+ ""); i += 1
      } else { pos = pos :+ a; i += 1 }
    }
    (flags, pos)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(GraftError.BadArgs("no op").exitCode) }
    val spark =
      GraftSession(sys.env.getOrElse("GRAFT_MASTER", GraftSession.localMaster))
    // The CLI boundary maps every failure to its tdb_error_str-style name
    // and a DISTINCT exit code (GraftError.classify) — scripts branch on
    // the code like they would on the reference's tdb_error.
    val code =
      try { run(spark, args.head, args.tail.toIndexedSeq); 0 }
      catch {
        case e: Throwable =>
          val (name, c) = GraftError.classify(e)
          val msg = Option(e.getMessage).getOrElse(e.toString)
          System.err.println(
            if (msg.startsWith(name)) s"tdb: $msg" else s"tdb: $name: $msg")
          c
      } finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** uuid-presence projection of `df` restricted to `valid` — isin while
    * the list is plan-friendly, semi-join past the same threshold the
    * whitelist itself switches at (TrailDB.LargeListThreshold). */
  private def presentUuids(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      valid: Seq[String]): org.apache.spark.sql.DataFrame =
    if (valid.size <= TrailDB.LargeListThreshold)
      df.filter(col(TrailSchema.UuidCol).isin(valid: _*))
        .select(TrailSchema.UuidCol)
    else {
      import spark.implicits._
      df.select(TrailSchema.UuidCol).join(
        valid.toDF(TrailSchema.UuidCol).distinct(),
        Seq(TrailSchema.UuidCol), "left_semi")
    }

  /** Open a db for a CLI op, classifying failure as TDB_ERR_IO_OPEN. */
  private def openDb(spark: SparkSession, path: String): TrailDB =
    try TrailDB.open(spark, path)
    catch { case scala.util.control.NonFatal(e) =>
      throw GraftError.OpenError(s"could not open db at $path: ${e.getMessage}", e) }

  /** Parse a -F filter, classifying failure as a filter parse error. */
  private def parseFilter(f: String): EventFilter =
    try EventFilter.parse(f)
    catch {
      case ge: GraftError => throw ge
      case scala.util.control.NonFatal(e) =>
        throw GraftError.FilterParseError(s"bad filter '$f': ${e.getMessage}", e)
    }

  def run(spark: SparkSession, op: String, rest: Seq[String]): Unit = {
    val (flags, _) = parseFlags(op, rest)
    def one(k: String): Option[String] = flags(k).headOption.filter(_.nonEmpty)

    // Reference-global flags, for script parity: the reference's
    // -T/--threads picks its encode-thread count — parallelism here is
    // Spark's scheduler, so the flag is acknowledged loudly rather than
    // silently swallowed or crashed on; -v/--verbose turns on INFO
    // logging, the reference's diagnostic chatter to stderr.
    one("-T").foreach { n =>
      // the reference strtoul-validates and DIEs on garbage or zero
      // (tdbcli/main.c:229-234) — same refusal here, then the honest note.
      if (scala.util.Try(n.toLong).toOption.forall(_ <= 0))
        throw GraftError.BadArgs(s"Invalid value for --threads: '$n'")
      System.err.println(
        s"[tdb] --threads $n noted: parallelism is managed by Spark " +
          "(executor/core config), not a per-op thread count")
    }
    if (flags("-v").nonEmpty)
      spark.sparkContext.setLogLevel("INFO")
    // the reference refuses multi-char delimiters up front
    // (tdbcli/main.c:217-220) — for ANY op, before the op body runs.
    // Use the RAW flag value, not one(): one() filters empty strings,
    // which would let --delimiter '' bypass the check and silently fall
    // back to the default delimiter with exit 0.
    flags("--delimiter").headOption.foreach { d =>
      if (d.length != 1)
        throw GraftError.BadArgs(s"Delimiter must be one character, not '$d'")
    }

    op match {
      case "make" =>
        val out = one("-o").getOrElse(throw GraftError.BadArgs("make: -o OUT required"))
        val rawFields = one("-f").map(_.split(",").toSeq).getOrElse(Nil)
        // Positional column-ID form — `-f 2:uuid,5:time,30:f3` (reference:
        // tdbcli/main.c:102-108 help, op_make.c:93-117
        // init_fields_from_arg): 1-based CSV column ids; 'uuid' and 'time'
        // are required names, the rest become fields in ARG order, and
        // unlisted columns are ignored. Headerless Spark CSV names columns
        // _c0.., so id N routes to _c{N-1}. The reference silently prefers
        // the header when --csv-header is also given (op_make.c:245-248) —
        // graft refuses the ambiguous combination loudly instead
        // (documented divergence). An id past the file's widest row fails
        // the uuid/time projection loudly, like the reference's per-line
        // "UUID missing" DIE.
        val positional = rawFields.exists(_.contains(":"))
        val (fields, posMapping) =
          if (!positional) (rawFields, Map.empty[String, String])
          else {
            if (flags("--csv-header").nonEmpty)
              throw GraftError.BadArgs(
                "make: positional --fields (N:name) and --csv-header are mutually exclusive")
            val entries = rawFields.map { e =>
              val i = e.indexOf(':')
              if (i <= 0 || i == e.length - 1)
                throw GraftError.BadArgs(
                  s"make: bad positional field '$e' (want N:name)")
              val idx =
                try e.substring(0, i).toInt
                catch { case _: NumberFormatException =>
                  throw GraftError.BadArgs(s"make: bad field index in '$e'") }
              if (idx < 1)
                throw GraftError.BadArgs(s"make: field index must be >= 1 in '$e'")
              (idx, e.substring(i + 1))
            }
            val names = entries.map(_._2)
            Seq(TrailSchema.UuidCol, TrailSchema.TimeCol).foreach { req =>
              if (!names.contains(req))
                throw GraftError.BadArgs(s"make: field '$req' is missing in --fields")
            }
            val dups = names.diff(names.distinct).distinct
            if (dups.nonEmpty)
              throw GraftError.BadArgs(
                s"make: duplicate field(s) in --fields: ${dups.mkString(",")}")
            val ids = entries.map(_._1)
            val idDups = ids.diff(ids.distinct).distinct
            if (idDups.nonEmpty)
              throw GraftError.BadArgs(
                s"make: duplicate column id(s) in --fields: ${idDups.mkString(",")}")
            (names.filterNot(n =>
                n == TrailSchema.UuidCol || n == TrailSchema.TimeCol),
              entries.map { case (idx, n) => n -> s"_c${idx - 1}" }.toMap)
          }
        val cons = new TrailDBCons(spark, fields)
        // positional --fields already pins every column source — a
        // contradictory --uuid-col/--time-col must refuse like the
        // positional/--csv-header conflict above, not win or lose silently
        if (positional &&
            (one("--uuid-col").nonEmpty || one("--time-col").nonEmpty))
          throw GraftError.BadArgs(
            "make: --uuid-col/--time-col conflict with positional --fields " +
              "(the N:name ids already name the uuid/time columns)")
        val mapping =
          if (positional) posMapping
          else Seq(
            one("--uuid-col").map("uuid" -> _),
            one("--time-col").map("time" -> _)).flatten.toMap
        val skipBad = flags("--skip-bad-input").nonEmpty
        // deliberate divergence: make's INPUT delimiter defaults to ","
        // (the Spark/CSV-ecosystem default) where the reference's is ' '
        // (main.c:150) — ingest defaults follow the data ecosystem;
        // dump defaults follow the reference for byte-diffability.
        one("-c").foreach(csv => cons.addCsv(csv,
          delimiter = one("--delimiter").getOrElse(","),
          header = flags("--csv-header").nonEmpty,
          mapping = mapping, skipBadInput = skipBad))
        // JSON input addresses values by KEY, never by position (reference:
        // op_make.c:262-372 json path uses field NAMES) — the positional
        // ids apply to the CSV reader only.
        one("-j").foreach(j =>
          cons.addJsonl(j, if (positional) Map.empty else mapping, skipBad))
        // the declared contract is (-c CSV | -j JSONL): no input at all
        // (e.g. a script whose -c argument came up empty) must refuse
        // like the reference CLI, not finalize a valid-looking EMPTY db
        // with exit 0 for downstream jobs to consume
        if (one("-c").isEmpty && one("-j").isEmpty)
          throw GraftError.BadArgs("make: an input is required (-c CSV | -j JSONL)")
        // --uuids on make selects the subset of trails to INGEST
        // (reference usage: tdbcli/main.c:84-90). The count line is
        // derived from the FINALIZED db instead of a pre-pass: after the
        // whitelist, output trails == selected-and-present uuids, so the
        // report costs nothing (re-running the whole ingest plan just to
        // count was a full extra Spark pass — ADVICE r6).
        val uuidReport = flags("--uuids").headOption.map { us =>
          val entries = parseUuidSpec(us)
          val valid = entries.filter(isValidUuid).map(_.toLowerCase).distinct
          cons.whitelist(valid)
          (entries, valid)
        }
        val db = cons.finalizeTo(out)
        uuidReport.foreach { case (entries, valid) =>
          reportUuids(entries, valid, db.numTrails) }
        println(s"[make] wrote ${db.numEvents} events / ${db.numTrails} trails to $out")
        // S2: single-file package — a format-v1 tar the REFERENCE engine
        // can open (src/tdb_cons_package.c's layout), for shipping samples
        // as one artifact. The parquet dir stays the scale layout; the
        // package is an additional bounded export.
        val useBigrams = flags("--no-bigrams").isEmpty
        one("--package").foreach { pkg =>
          graft.sources.TdbWriter.writePackage(db.df, db.fields, pkg,
            bigrams = useBigrams)
          println(s"[make] packaged $out as $pkg")
        }
        // reference-CLI parity: `--tdb-format pkg` makes the OUTPUT a
        // single-file package at `<out>.tdb` (the reference writes the
        // one-file format in place; here the parquet dir remains the
        // scale layout and the package is the interchange artifact
        // beside it). 'dir' is the default and a no-op; anything else
        // refuses like getopt would.
        one("--tdb-format").foreach {
          case "pkg" =>
            val pkg = s"$out.tdb"
            graft.sources.TdbWriter.writePackage(db.df, db.fields, pkg,
              bigrams = useBigrams)
            println(s"[make] packaged $out as $pkg")
          case "dir" => ()
          case other =>
            throw GraftError.BadArgs(
              s"make: --tdb-format must be 'pkg' or 'dir', got '$other'")
        }

      case "dump" =>
        val in = one("-i").getOrElse(throw GraftError.BadArgs("dump: -i DB required"))
        var db = openDb(spark, in)
        // presence reporting runs against the OPENED db, before -F/index
        // pruning (the reference counts by tdb_get_trail_id on the open
        // handle): a uuid whose trail exists but has no filter-matching
        // events is "selected", not "missing"
        val pristine = db
        // NOT one(): an explicitly-empty -F '' must still apply — the
        // reference's parse_filter("") builds a filter with one empty
        // clause that matches NOTHING (tdb_event_filter_new semantics),
        // and EventFilter.parse("") is matchNone to mirror it. Dropping
        // it would silently dump the whole db instead.
        flags("-F").headOption.foreach { f =>
          val filter = parseFilter(f)
          val unfiltered = db
          db = db.withFilter(filter)
          // Index pruning before the scan (the reference's "Evaluating X/N
          // trails" path, op_dump.c:227-252): an explicit --index IDX wins;
          // otherwise probe the canonical paths beside the db —
          // DB/index, DB.index, DB.tdb.index in that order
          // (tdbcli/tdb_index.c:637-662 tdb_index_find; DB.index is also
          // our `tdb index` default output). --no-index disables BOTH,
          // like the reference's `!opt->no_index &&` guard.
          //
          // An AUTO-discovered path must carry the index's binding sidecar
          // to count as an index at all — a stray non-index file/dir at a
          // canonical name downgrades (with a stderr note) to the
          // unindexed scan instead of failing a previously-working dump.
          // A REAL index that fails its db-binding check still refuses
          // loudly (TrailIndex.open), and an explicit --index path is
          // taken at its word: auto-discovery relaxes WHERE an index is
          // found, never whether a stale one may prune.
          //
          // Progress lines go to stderr and only under -v/--verbose,
          // matching the reference (op_dump.c prints its Evaluating line
          // under opt->verbose); the count feeding "Evaluating X/N" is
          // only computed when it will be printed.
          val verbose = flags("-v").nonEmpty
          def progress(msg: String): Unit =
            if (verbose) Console.err.println(msg)
          val idxPath =
            if (flags("--no-index").nonEmpty) None
            else one("--index").orElse(
              Seq(s"$in/index", s"$in.index", s"$in.tdb.index").find { p =>
                val hp = new org.apache.hadoop.fs.Path(p)
                val fs = hp.getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                fs.exists(hp) && {
                  val marked = fs.exists(new org.apache.hadoop.fs.Path(
                    hp, graft.core.TrailIndex.SidecarName))
                  if (!marked) Console.err.println(s"[dump] ignoring $p: " +
                    s"no ${graft.core.TrailIndex.SidecarName} sidecar — " +
                    "not an index (pass --index to force)")
                  marked
                }
              })
          idxPath match {
            case Some(idx) =>
              // validate the binding against THIS -i db (a db+index pair
              // moved together still validates; a stale index still refuses)
              val index = graft.core.TrailIndex.open(spark, idx, Some(in))
              val pages = graft.core.TrailIndex.candidatePages(index, filter)
              if (pages.isDefined) {
                if (verbose) {
                  // the progress line counts what the INDEX rules in, not
                  // what the filter will keep (the reference's candidates
                  // are pages × trails_per_page, pre-filter;
                  // op_dump.c:239-247) — so both numbers come from the
                  // UNFILTERED handle: one distinct count on the page-
                  // restricted, column-pruned uuid scan
                  val cand = graft.core.TrailIndex.prunedDb(unfiltered, pages)
                    .df.select(TrailSchema.UuidCol).distinct().count()
                  val total = unfiltered.numTrails
                  val pct = if (total == 0) 0.0 else 100.0 * cand / total
                  progress(f"[dump] using index at $idx. " +
                    f"Evaluating $cand/$total ($pct%2.2f%%) trails.")
                }
                db = graft.core.TrailIndex.prunedDb(db, pages)
              } else progress(s"[dump] index at $idx cannot prune this filter")
            case None =>
              progress("[dump] not using an index")
          }
        }
        flags("--uuids").headOption.foreach { us =>
          val entries = parseUuidSpec(us)
          val valid = entries.filter(isValidUuid).map(_.toLowerCase).distinct
          val present =
            presentUuids(spark, pristine.df, valid).distinct().count()
          reportUuids(entries, valid, present)
          db = db.whitelist(valid)
        }
        val cols = one("--fields").map(_.split(",").toSeq).getOrElse(Nil)
        // --single-file: the reference's artifact shape — ONE ordered
        // file (op_dump.c writes a single stream), driver-streamed in
        // the C CLI's exact row format; default stays the distributed
        // Spark directory write.
        val single = flags("--single-file").nonEmpty
        // dump's default delimiter is the reference's ' '
        // (main.c:150 DEFAULT_DELIMITER) so an un-flagged dump is
        // byte-diffable against the C engine's (make's INPUT default
        // stays "," — see the make scaladoc for that divergence).
        // lazy: the note concerns only delimiter CONSUMERS (CSV/stdout
        // dumps) — a JSON dump never resolves it and stays note-free
        lazy val delim = one("--delimiter").getOrElse {
          // the default changed from "," (pre-r13) for C byte-parity;
          // one stderr line keeps un-flagged scripts (and a default
          // dump | make round-trip, whose make input default stays ",")
          // from mismatching silently
          Console.err.println("[dump] no --delimiter given: using the " +
            "reference's default ' ' (space); pass --delimiter ',' for " +
            "the pre-r13 CSV default / make's input default")
          " "
        }
        one("-o") match {
          case Some(out) if flags("-j").nonEmpty =>
            if (single)
              db.dumpJsonFile(out, noEmpty = flags("--json-no-empty").nonEmpty,
                cols = cols)
            else db.dumpJson(out, noEmpty = flags("--json-no-empty").nonEmpty,
              cols = cols)
            println(s"[dump] wrote JSON to $out")
          case Some(out) =>
            if (single)
              db.dumpCsvFile(out, delimiter = delim,
                header = flags("--csv-header").nonEmpty, cols = cols)
            else db.dumpCsv(out, delimiter = delim,
              header = flags("--csv-header").nonEmpty, cols = cols)
            println(s"[dump] wrote CSV to $out")
          case None =>
            // reference parity: no -o → the FULL ordered dump streams to
            // stdout (op_dump.c defaults its output file to stdout), in
            // the same raw single-stream row format as --single-file
            val lines =
              if (flags("-j").nonEmpty)
                db.jsonLines(noEmpty = flags("--json-no-empty").nonEmpty,
                  cols = cols)
              else db.csvLines(delimiter = delim,
                header = flags("--csv-header").nonEmpty, cols = cols)
            lines.foreach(println)
        }

      case "merge" =>
        val out = one("-o").getOrElse(throw GraftError.BadArgs("merge: -o OUT required"))
        val ins = flags("-i")
        if (ins.size < 2) throw GraftError.BadArgs("merge: at least two -i DB inputs")
        // The reference applies --filter and --uuids to every input db
        // before merging (tdbcli/op_merge.c:223-226 apply_filter per db).
        var dbs = ins.map(openDb(spark, _))
        // presence counts run on the OPENED inputs, pre-filter (same
        // convention as dump's report)
        val pristineDbs = dbs
        flags("-F").headOption.foreach { f =>
          val filter = parseFilter(f)
          dbs = dbs.map(_.withFilter(filter))
        }
        flags("--uuids").headOption.foreach { us =>
          val entries = parseUuidSpec(us)
          val valid = entries.filter(isValidUuid).map(_.toLowerCase).distinct
          // ONE presence count over the union of inputs and ONE report
          // line (the reference reports once; one line per input — and one
          // Spark job per input — was ADVICE r6). The union is a
          // column-pruned uuid scan with the isin pushed to parquet.
          val present = pristineDbs.map(db => presentUuids(spark, db.df, valid))
            .reduce(_ union _).distinct().count()
          reportUuids(entries, valid, present)
          dbs = dbs.map(_.whitelist(valid))
        }
        val merged = TrailOps.merge(dbs)
        val db = new TrailDBCons(spark, merged.fields).add(merged.df).finalizeTo(out)
        println(s"[merge] ${ins.size} dbs -> ${db.numEvents} events / ${db.numTrails} trails at $out")
        // --tdb-format pkg on merge, like make (the reference's option
        // table is global and op_merge.c:216-219 honors it the same way)
        one("--tdb-format").foreach {
          case "pkg" =>
            val pkg = s"$out.tdb"
            graft.sources.TdbWriter.writePackage(db.df, db.fields, pkg)
            println(s"[merge] packaged $out as $pkg")
          case "dir" => ()
          case other =>
            throw GraftError.BadArgs(
              s"merge: --tdb-format must be 'pkg' or 'dir', got '$other'")
        }

      case "index" =>
        val in = one("-i").getOrElse(throw GraftError.BadArgs("index: -i DB required"))
        val db = openDb(spark, in)
        val out = one("-o").getOrElse(s"$in.index")
        graft.core.TrailIndex.build(db, out)
        val n = ParquetInputs.read(spark, out).count()
        println(s"[index] $in: ${db.numTrails} trails, ${db.numEvents} events; " +
          s"fields=${db.fields.mkString(",")}; wrote $n (field,value,page) " +
          s"entries to $out")

      case "diff" =>
        // `tdb diff -i BASE -i REV [--summary] [-o OUT]` — the
        // post-rebuild "what changed" report (TrailOps.diff: content-
        // identity multiset diff, schema-union aware). Default prints the
        // one-line total; --summary prints per-trail rows; -o writes the
        // event-level diff as a parquet table.
        val ins = flags("-i")
        if (ins.size != 2)
          throw GraftError.BadArgs("diff: exactly two -i DB inputs (base, revision)")
        val base = openDb(spark, ins(0))
        val rev = openDb(spark, ins(1))
        val d = TrailOps.diff(base, rev).localCheckpoint()
        one("-o").foreach(out => d.write.mode("overwrite").parquet(out))
        val tot = d.agg(sum(col("n_added")), sum(col("n_removed")),
          count_distinct(col(TrailSchema.UuidCol))).head()
        def z(i: Int): Long = if (tot.isNullAt(i)) 0L else tot.getLong(i)
        println(s"[diff] ${ins(0)} -> ${ins(1)}: +${z(0)} -${z(1)} events " +
          s"across ${z(2)} trails")
        if (flags("--summary").nonEmpty) {
          // toLocalIterator + a row cap, NOT collect: per-trail summary
          // rows are unbounded when diffing two large dbs, and a
          // human-readable report path must never be the one operation in
          // the repo that pulls an unbounded result to the driver.
          // toLocalIterator holds one partition at a time; the cap (r8
          // ADVICE; override with --summary-limit N, 0 = unlimited)
          // truncates LOUDLY so a cut report can't read as a short diff.
          val limit = one("--summary-limit").map { v =>
            try v.toLong catch {
              case _: NumberFormatException => throw GraftError.BadArgs(
                s"diff: --summary-limit must be a number, got '$v'")
            }
          }.getOrElse(10000L)
          val it = d.groupBy(col(TrailSchema.UuidCol))
            .agg(sum(col("n_added")).as("n_added"),
              sum(col("n_removed")).as("n_removed"))
            .orderBy(TrailSchema.UuidCol)
            .toLocalIterator()
          var shown = 0L
          while (it.hasNext && (limit <= 0L || shown < limit)) {
            val r = it.next()
            println(s"${r.getString(0)} +${r.getLong(1)} -${r.getLong(2)}")
            shown += 1L
          }
          if (it.hasNext)
            println(s"[diff] summary truncated at $limit trails " +
              "(raise with --summary-limit N, 0 = unlimited)")
        }

      case other =>
        usage(); throw GraftError.BadArgs(s"unknown op '$other'")
    }
  }

  private def usage(): Unit =
    println("usage: tdb (make|dump|merge|index|diff) [flags]  -- see Scaladoc of graft.cli.Main")
}
