package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.DecimalType

import graft.core.{TrailDB, TrailOps, TrailSchema}
import graft.filter.{Clause, EventFilter, Match, TimeRange}
import graft.agg.Sessionize
import graft.ops.{Bpe, Dedup, Mining, Multimodal, Retrieval, Similarity, Sketch, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` where the operator is
  * SQL-expressible. Every query ends in a total ORDER BY so output order is
  * deterministic on both engines.
  */
object SparkEntry {

  /** Canonical trail view over the driver's events table: uuid = 32-hex of
    * user_id, time = epoch seconds, fields = event_type/props, seq =
    * event_id (deterministic tiebreaker). See FIXTURES.md §3. */
  private def trails(s: SparkSession, dir: String): TrailDB = {
    // EventSource branches on the parquet ts encoding (nanos Long vs
    // timestamp[us] — both have shipped) and yields epoch-second Longs.
    val ev = graft.core.EventSource.events(s, dir)
    TrailDB.fromEvents(ev,
      uuidCol = "user_id", timeCol = "ts",
      fieldCols = Seq("event_type", "props"), seqCol = Some("event_id"))
  }

  /** DuckDB-side equivalent of [[trails]] (driver registers the parquet
    * tables by name). floor(epoch()) matches Spark's timestamp→long cast. */
  private val TrailsCte =
    """WITH trails AS (
      |  SELECT printf('%032x', user_id) AS uuid,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS time,
      |         event_type, props, event_id AS seq
      |  FROM events
      |)""".stripMargin

  private def ordered(df: DataFrame): DataFrame =
    df.orderBy(TrailSchema.UuidCol, TrailSchema.TimeCol, TrailSchema.SeqCol)

  /** Per-JVM fixture cache. The finalized db (and its index) built from a
    * sf dir is identical no matter which query asks for it, so it is built
    * once and reused — queries over it (t_metadata, t_cons_roundtrip,
    * t_index_scan, …) then time their OPERATOR (sidecar lookup, scan,
    * pruned scan), not a repeated rebuild of the same fixture. The encode
    * path itself is timed by the dedicated `t_finalize` query, which
    * bypasses this cache on purpose. Only paths are cached; each call
    * re-opens with the caller's session, so the cache is session-agnostic. */
  private object Fixtures {
    private val paths = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def memo(key: String)(build: => String): String =
      paths.computeIfAbsent(key, _ => build)
    def dbPath(s: SparkSession, dir: String): String = memo(s"db:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("db").toString
      new graft.core.TrailDBCons(s, Seq("event_type", "props"))
        .add(trails(s, dir).df).finalizeTo(p, 8)
      p
    }
    def db(s: SparkSession, dir: String): TrailDB =
      TrailDB.open(s, dbPath(s, dir))
    def indexPath(s: SparkSession, dir: String): String = {
      // Resolve the db path BEFORE entering the idx memo closure: the JDK
      // forbids a computeIfAbsent mapping function updating the same map
      // (db() -> dbPath() would), throwing "Recursive update" when the
      // inner key is absent (r5 ADVICE — previously ordering luck).
      val dp = dbPath(s, dir)
      memo(s"idx:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-fix")
          .resolve("idx").toString
        graft.core.TrailIndex.build(TrailDB.open(s, dp), p)
        p
      }
    }
    /** Persistent IVF-PQ index over the sf dir's embeddings (the offline
      * build half of build/search) — cached so e_knn_ivfpq_index times
      * the SEARCH path, the way a serving deployment runs it. Built with
      * the frozen OPQ rotation (round 11) — the production configuration:
      * on this near-isotropic fixture the rotation is recall-neutral
      * (same invariant floor as e_knn_ivfpq, margin intact), and on
      * low-rank-dominant corpora it is the measured win (RecallProbe
      * --aniso serving path: recall@10 0.508 → 0.855 at m=4). The
      * rotated index is NOT row-for-row equal to the unrotated one-pass
      * operator — IvfPqIndexSpec proves that equality on an opq=false
      * build, and the rotation contract (orthogonality, frozen
      * query/append geometry, raw-vector rerank) separately. */
    def ivfPqIndexPath(s: SparkSession, dir: String): String =
      memo(s"ivfpq:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-fix")
          .resolve("ivfpq").toString
        Similarity.buildIvfPqIndex(
          s.read.parquet(s"$dir/embeddings.parquet"), p,
          nCells = 16, m = 16, codebookK = 32, opq = true)
        p
      }
    /** Drift-health fixture: its OWN index (appends mutate the codes dir,
      * so the shared search fixture must stay untouched) + two appends —
      * an IDENTICAL-distribution batch (the same vectors, offset ids:
      * drift ratio must sit at 1) and a shifted batch (+3 per dim: far
      * from every build centroid, the ratio must blow past the warn
      * threshold). The e_index_drift row replays both expectations. */
    def ivfPqDriftIndexPath(s: SparkSession, dir: String): String =
      memo(s"ivfpqdrift:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-fix")
          .resolve("ivfpq-drift").toString
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        Similarity.buildIvfPqIndex(emb, p, nCells = 16, m = 16,
          codebookK = 32)
        Similarity.appendToIvfPqIndex(
          emb.withColumn("vec_id", col("vec_id") + n), p)
        Similarity.appendToIvfPqIndex(
          emb.withColumn("vec_id", col("vec_id") + 2 * n)
            .withColumn("embedding",
              transform(col("embedding"), x => x + lit(3.0f))), p)
        p
      }
    /** Rebuild-loop fixture (round 15): its OWN index — build on the
      * embeddings, append a +3-per-dim SHIFTED batch (the drift advisory
      * fires), snapshot the PRE-rebuild drift report to `pre/`, then
      * [[Similarity.rebuildIvfPqIndex]] on the full current corpus: every
      * epoch collapses to 0 and the ratio returns to exactly 1.0 (the
      * drift report's localCheckpoint construction makes the baseline
      * ratio 1.0 by construction, not within-epsilon). The e_index_rebuild
      * row replays advisory-fires → rebuild → fresh-baseline end to end. */
    def ivfPqRebuildRoot(s: SparkSession, dir: String): String =
      memo(s"ivfpqrebuild:$dir") {
        val root = java.nio.file.Files.createTempDirectory("graft-fix")
          .toString
        val idx = s"$root/ivfpq-rebuild"
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        Similarity.buildIvfPqIndex(emb, idx, nCells = 16, m = 16,
          codebookK = 32)
        val shifted = emb.withColumn("vec_id", col("vec_id") + n)
          .withColumn("embedding",
            transform(col("embedding"), x => x + lit(3.0f)))
        Similarity.appendToIvfPqIndex(shifted, idx)
        Similarity.ivfPqIndexDrift(s, idx, warnRatio = 1.5)
          .write.parquet(s"$root/pre")
        Similarity.rebuildIvfPqIndex(emb.unionByName(shifted), idx)
        root
      }
    /** Trail dump as CSV/JSONL — the INPUT fixture for the ingest
      * round-trips (the operator those queries time is the S4/S5 ingest;
      * the dump is setup). */
    def csvDump(s: SparkSession, dir: String): String = memo(s"csv:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("csv").toString
      trails(s, dir).df.select(col("uuid"), col("time"), col("event_type"),
          col("seq").as("evseq"))
        .write.option("header", "true").mode("overwrite").csv(p)
      p
    }
    /** Legacy-format v1 package written from the trail frame — the
      * read-back fixture for t_tdb_read (same memo rationale: the package
      * is a pure function of the sf dir; repeats time the READ). */
    def tdbPackage(s: SparkSession, dir: String): String = memo(s"tdb:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("pkg.tdb").toString
      graft.sources.TdbWriter.writePackage(
        trails(s, dir).df, Seq("event_type", "props"), p)
      p
    }
    def tdbV0Dir(s: SparkSession, dir: String): String = memo(s"tdbv0:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("v0db").toString
      graft.sources.TdbWriter.writeV0Directory(
        trails(s, dir).df, Seq("event_type", "props"), p)
      p
    }
    def jsonlDump(s: SparkSession, dir: String): String = memo(s"jsonl:$dir") {
      val p = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("jsonl").toString
      trails(s, dir).df.select(col("uuid"), col("time"), col("event_type"),
          col("seq").as("evseq"))
        .write.mode("overwrite").json(p)
      p
    }
  }

  /** Invariant summary for an ANN result vs the exact brute-force baseline
    * (whose own oracle hash-matches DuckDB): one row of
    * (n_queries, n_returned, hits_ok, ranked_ok) where n_queries and
    * n_returned are DuckDB-recomputable, hits_ok floors the total count of
    * ANN results that appear in the brute top-k, and ranked_ok asserts
    * per-query cosine-descending rank order. The ANN bucket/cell layout is
    * hash/model-specific; its CONTRACT is not. */
  private def annInvariant(ann: DataFrame, brute: DataFrame, q: DataFrame,
      minHits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy("rank")
    val annAgg = ann
      .withColumn("_prev", lag("cosine", 1).over(w))
      .join(brute.select("query_id", "corpus_id").withColumn("_b", lit(1L)),
        Seq("query_id", "corpus_id"), "left")
      .agg(
        count(lit(1)).as("n_returned"),
        coalesce(sum(col("_b")), lit(0L)).as("_hits"),
        coalesce(sum(when(col("_prev") < col("cosine"), 1L).otherwise(0L)),
          lit(0L)).as("_rank_bad"))
    q.agg(count(lit(1)).as("n_queries")).crossJoin(annAgg)
      .select(col("n_queries"), col("n_returned"),
        (col("_hits") >= minHits).cast("long").as("hits_ok"),
        (col("_rank_bad") === 0).cast("long").as("ranked_ok"))
  }

  /** The nine-format mixed corpus the unified-metadata and
    * cross-modality-gate rows share — ONE offset table (a transposed
    * offset in a second copy would read as a codec bug in the oracle
    * diff). Offsets are multiples of 4 so media_id%4 stays doc_id%4. */
  private def mixedFormatCorpus(s: SparkSession, dir: String): DataFrame =
    mediaMemo(s, s"mixedformat:$dir")(mixedFormatCorpusBuild(s, dir))

  private def mixedFormatCorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    def off(df: DataFrame, o: Long) = df.select(
      (col("media_id") + lit(o)).as("media_id"), col("bytes"))
    Multimodal.jpegMediaFromDocuments(docs)
      .unionByName(off(Multimodal.pngMediaFromDocuments(docs), 10000000L))
      .unionByName(off(Multimodal.mp3MediaFromDocuments(docs), 20000000L))
      .unionByName(off(Multimodal.mp4MediaFromDocuments(docs), 30000000L))
      .unionByName(off(Multimodal.wavMediaFromDocuments(docs), 40000000L))
      .unionByName(off(Multimodal.y4mMediaFromDocuments(docs), 50000000L))
      .unionByName(docs.select(
        (col("doc_id") + lit(60000000L)).as("media_id"),
        lit("who-knows".getBytes).as("bytes")))
      .unionByName(off(Multimodal.gifMediaFromDocuments(docs), 70000000L))
      .unionByName(off(Multimodal.webpMediaFromDocuments(docs), 80000000L))
      // round 18: the two remaining audio containers join the unified
      // pre-pass (eleven formats); the ogg cohort's unknown-codec third
      // stays KEPT with −1 sentinels (the routing-parity discipline)
      .unionByName(off(Multimodal.flacMediaFromDocuments(docs), 100000000L))
      .unionByName(off(Multimodal.oggMediaFromDocuments(docs), 110000000L))
  }

  /** Memoized on-disk media fixture (round 19 optimization): the
    * planted media corpora are INPUT data — pure deterministic
    * functions of the sf dir — so they follow the [[Fixtures.memo]]
    * convention the tdb/csv/stream-source fixtures already use (built
    * on the first run; repeats and sibling queries time their OPERATOR,
    * not a repeated synthesis of the same bytes). Per-JVM only — every
    * bench/verify invocation still computes it from the parquet inputs. */
  private def mediaMemo(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val p = Fixtures.memo(key) {
      val path = java.nio.file.Files.createTempDirectory("graft-fix")
        .resolve("media").toString
      build.write.parquet(path)
      path
    }
    s.read.parquet(p)
  }

  /** Memoized planted-media fixture from the documents table — every
    * planted fixture is a pure deterministic function of the sf dir, so
    * ALL of them follow the [[mediaMemo]] convention (r19: the encode
    * CPU of fixture synthesis — JPEG/PNG/VP8L/FLAC encoders — ran inside
    * every timed repeat; the row's operator is the DECODE/dedup, not the
    * synthesis). */
  private def docFixture(s: SparkSession, dir: String, key: String)(
      build: DataFrame => DataFrame): DataFrame =
    mediaMemo(s, s"$key:$dir")(
      build(s.read.parquet(s"$dir/documents.parquet")))

  /** Planted MIXED-media corpus — each modality's dedup fixture at its
    * id offset, a byte-identical unknown-magic cohort, a CORRUPT
    * cohort (valid P6 magic, undecodable payload, byte-identical within
    * each group — the truncated-download shape), and (round 17) a PNG
    * cohort whose m=2 member is a lossless RE-ENCODE — different bytes,
    * identical pixels, the pair exact-blob matching structurally
    * misses: the m_routed_media corpus, shared by the streaming/
    * incremental media gates so all three replay the same planted
    * structure, including the round-15 undecodable routing (corrupt
    * blobs keep exact duplicates). Memoized to parquet per JVM
    * ([[mediaMemo]]). */
  private def mixedMediaFixture(s: SparkSession, dir: String): DataFrame =
    mediaMemo(s, s"mixedmedia:$dir")(mixedMediaFixtureBuild(s, dir))

  /** The m_gated_media / m_stream_gated corpus: the mixed dedup fixture
    * plus the three planted junk cohorts, memoized as ONE parquet
    * fixture (the gate rows read it several times). */
  private def gatedMediaFixture(s: SparkSession, dir: String): DataFrame = {
    // reuse the memoized mixed fixture's parquet (resolved BEFORE the
    // memo closure — the Recursive update discipline) instead of
    // re-running the full fixture synthesis a second time (r19 review)
    val mixed = mixedMediaFixture(s, dir)
    mediaMemo(s, s"gatedmedia:$dir") {
      mixed.unionByName(
        Multimodal.junkMediaFixture(s.read.parquet(s"$dir/documents.parquet")))
    }
  }

  private def mixedMediaFixtureBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val img = Multimodal.dedupImageMediaFromDocuments(docs)
      .select("media_id", "bytes")
    val aud = Multimodal.dedupAudioMediaFromDocuments(docs)
      .select((col("media_id") + lit(2000000L)).as("media_id"), col("bytes"))
    val vid = Multimodal.dedupVideoMediaFromDocuments(docs)
      .select((col("media_id") + lit(4000000L)).as("media_id"), col("bytes"))
    val unk = docs.select((col("doc_id") + lit(6000000L)).as("media_id"),
      lit("unknown-container".getBytes).as("bytes"))
    val bad = docs.select((col("doc_id") + lit(8000000L)).as("media_id"),
      concat(lit("P6\ncorrupt-".getBytes),
        encode(floor(col("doc_id") / 4).cast("string"), "UTF-8")).as("bytes"))
    val png = Multimodal.pngDedupMediaFromDocuments(docs)
      .select((col("media_id") + lit(10000000L)).as("media_id"), col("bytes"))
    // round 18: a VP8L cohort whose m=2 member is a lossless re-encode
    // through a different transform stack (the PNG recall shape on the
    // newly-decodable format), and a LOSSY-VP8 refusal cohort
    // (byte-identical groups the image route must keep as exact stars
    // — the codec boundary exercised inside the mixed corpus)
    val webp = Multimodal.webpDedupMediaFromDocuments(docs)
      .select((col("media_id") + lit(12000000L)).as("media_id"), col("bytes"))
    val lossy = Multimodal.lossyWebpMediaFromDocuments(docs)
      .select((col("media_id") + lit(14000000L)).as("media_id"), col("bytes"))
    // round 19: a WAV↔FLAC transcode cohort (m1 = FLAC of the m0 WAV
    // master's PCM, m2 = FLAC of its exact 2x upsample at 32 kHz) —
    // the audio twin of the PNG/VP8L re-encode cohorts: zero shared
    // bytes, identical decode, pairs only through the rate-normalized
    // perceptual route. (Offsets 16-20M belong to junkMediaFixture.)
    val flacT = Multimodal.dedupTranscodeAudioFromDocuments(docs)
      .select((col("media_id") + lit(22000000L)).as("media_id"), col("bytes"))
    img.unionByName(aud).unionByName(vid).unionByName(unk)
      .unionByName(bad).unionByName(png).unionByName(webp)
      .unionByName(lossy).unionByName(flacT)
  }

  /** Frozen per-modality + exact-blob indexes over the m ∈ {0,3} corpus
    * slice of [[mixedMediaFixture]] (the m_incr_dedup split; the id
    * offsets are multiples of 4, so media_id % 4 IS doc_id % 4).
    * Memoized to parquet per JVM like [[Fixtures.ivfPqIndexPath]]: the
    * rows that consume these time the batch/stream-vs-FROZEN-index
    * contract, so the index build is setup, not the operator — repeats
    * (and the sibling queries sharing the split) read the same bytes. */
  private def mixedMediaIndexes(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // resolve the fixture memo BEFORE entering the idx memo closure —
    // nested computeIfAbsent on the same map throws "Recursive update"
    // (the Fixtures.indexPath rationale, r5 ADVICE)
    val media = mixedMediaFixture(s, dir)
    val root = Fixtures.memo(s"mixedidx:$dir") {
      val r = java.nio.file.Files.createTempDirectory("graft-fix").toString
      val corpus = media.filter(col("media_id") % 4 === 0 ||
        col("media_id") % 4 === 3)
      val tagged = Multimodal.classifyMedia(corpus).localCheckpoint()
      def cohort(m: String) = tagged.filter(col("modality") === m)
        .select("media_id", "bytes")
      Multimodal.imageSignatureIndex(
          Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
        .write.parquet(s"$r/img")
      Multimodal.audioSignatureIndex(cohort("audio")).write.parquet(s"$r/aud")
      Multimodal.videoFrameIndex(cohort("video")).write.parquet(s"$r/vid")
      Multimodal.blobMd5Index(tagged).write.parquet(s"$r/blob")
      r
    }
    (s.read.parquet(s"$root/img"), s.read.parquet(s"$root/aud"),
      s.read.parquet(s"$root/vid"), s.read.parquet(s"$root/blob"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("t_sessionize")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1+S3+P1: full scan in trail order with projection (tdb dump).
    "t_dump" -> ((s, dir) => trails(s, dir).dumpProjection()),

    // P2+P6: CNF filter — (event_type=click OR event_type=purchase) AND
    // props != '{"k": 0}' (clauses AND'd, terms OR'd).
    "t_filter_cnf" -> ((s, dir) => {
      val f = EventFilter(Seq(
        Clause(Seq(Match("event_type", "click"), Match("event_type", "purchase"))),
        Clause(Seq(Match("props", "{\"k\": 0}", negated = true)))))
      ordered(trails(s, dir).events(f)).select("uuid", "time", "event_type", "props", "seq")
    }),

    // P5: half-open time-range term AND'd with an equality term.
    "t_filter_time_range" -> ((s, dir) => {
      val f = EventFilter(Seq(
        Clause(Seq(TimeRange(1704500000L, 1705500000L))),
        Clause(Seq(Match("event_type", "view")))))
      ordered(trails(s, dir).events(f)).select("uuid", "time", "event_type", "seq")
    }),

    // P3: negation, incl. the unknown-field edge: a negated term on a field
    // that doesn't exist matches ALL events (reference src/tdb_decode.c:47-51).
    "t_filter_neg_unknown" -> ((s, dir) => {
      val f = EventFilter(Seq(
        Clause(Seq(Match("nosuchfield", "x", negated = true))),
        Clause(Seq(Match("event_type", "error", negated = true)))))
      ordered(trails(s, dir).events(f)).select("uuid", "time", "event_type", "seq")
    }),

    // P9: trail whitelist (--uuids) as pushed-down isin / semi-join.
    "t_whitelist" -> ((s, dir) => {
      val ids = Seq(1L, 3L, 7L).map(i => f"$i%032x")
      ordered(trails(s, dir).whitelist(ids).df)
        .select("uuid", "time", "event_type", "seq")
    }),

    // J2: single-trail point lookup (uuid → trail).
    "t_point_lookup" -> ((s, dir) =>
      trails(s, dir).trail(f"${5L}%032x").select("uuid", "time", "event_type", "props", "seq")),

    // A3: per-trail event counts (tdb_get_trail_length).
    "t_trail_lengths" -> ((s, dir) =>
      trails(s, dir).trailLengths.orderBy("uuid")),

    // A4: sessionization — 30-min gap; sessions+events per trail (tutorial).
    "t_sessionize" -> ((s, dir) =>
      Sessionize.sessionCounts(trails(s, dir).df, 1800L).orderBy("uuid")),

    // P10: only-diff-items — emit only fields that changed vs previous event.
    "t_only_diff" -> ((s, dir) =>
      ordered(trails(s, dir).onlyDiffItems)
        .select("uuid", "time", "event_type", "props", "seq")),

    // S8: CSV sink round-trip (tdb dump -c) — write the projection to
    // CSV, read it back, and the rows must survive quoting/NULL≡""
    // exactly (round 11: upgrades the sink from spec-only to oracled).
    // No seq in the dump (the reference emits none), so the total order
    // is over every dumped column.
    "t_csv_sink" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-csvsink")
        .resolve("csv").toString
      trails(s, dir).dumpCsv(out, delimiter = ",", header = true)
      s.read.option("header", "true").csv(out)
        .select(col("uuid"), col("time").cast("long").as("time"),
          coalesce(col("event_type"), lit("")).as("event_type"),
          coalesce(col("props"), lit("")).as("props"))
        .orderBy("uuid", "time", "event_type", "props")
    }),

    // S9: JSON sink round-trip with --json-no-empty (tdb dump -j) —
    // empty values are DROPPED from the objects (read back as null) and
    // must coalesce to the same NULL≡"" rows.
    "t_json_sink" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-jsonsink")
        .resolve("json").toString
      trails(s, dir).dumpJson(out, noEmpty = true)
      // explicit read schema: schema inference is a FULL extra pass over
      // the written JSON (r19, guide §6) — the declared columns and the
      // no-empty⇒null read-back semantics are unchanged (absent keys
      // read as null under an explicit schema exactly as under the
      // inferred one; oracle-pinned)
      s.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("uuid",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("time",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("props",
            org.apache.spark.sql.types.StringType)))).json(out)
        .select(col("uuid"), col("time").cast("long").as("time"),
          coalesce(col("event_type"), lit("")).as("event_type"),
          coalesce(col("props"), lit("")).as("props"))
        .orderBy("uuid", "time", "event_type", "props")
    }),

    // P7: the constant filters — match-all (zero clauses, vacuous AND)
    // scans everything; match-none (one empty clause, vacuous OR —
    // src/tdb.c:803-816) scans nothing.
    "t_filter_const" -> ((s, dir) => {
      val db = trails(s, dir)
      db.events(EventFilter.matchAll).agg(count(lit(1)).as("n_all"))
        .crossJoin(
          db.events(EventFilter.matchNone).agg(count(lit(1)).as("n_none")))
    }),

    // P11: the `field=@file` grammar form — the term VALUE is read from
    // a file (reference: tdbcli/filter.c:18-140) and must behave exactly
    // like the inline equality.
    "t_filter_at_file" -> ((s, dir) => {
      val f = java.nio.file.Files.createTempFile("graft-filterval", ".txt")
      java.nio.file.Files.writeString(f, "click")
      ordered(trails(s, dir).events(EventFilter.parse(s"event_type=@$f")))
        .select("uuid", "time", "event_type", "seq")
    }),

    // J5: append — tdb_cons_append twice over the same db doubles every
    // trail's event count in the finalized result.
    "t_append" -> ((s, dir) => {
      val db = trails(s, dir)
      val out = java.nio.file.Files.createTempDirectory("graft-append")
        .resolve("db").toString
      new graft.core.TrailDBCons(s, db.fields).append(db).append(db)
        .finalizeTo(out)
        .df.groupBy("uuid").agg(count(lit(1)).as("n_events"))
        .orderBy("uuid")
    }),

    // F6: --skip-bad-input — malformed time values and missing uuids are
    // dropped row-by-row (reference: op_make.c:133-136 safely_to_int),
    // never aborting the ingest; the clean rows all survive.
    "t_skip_bad" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft-skipbad")
      val csvDir = base.resolve("csv").toString
      trails(s, dir).df.select("uuid", "time", "event_type")
        .write.option("header", "true").csv(csvDir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(csvDir, "part-zz-bad.csv"),
        "uuid,time,event_type\n" +
          f"${1}%032x,notatime,click\n" +   // unparseable time → dropped
          ",123,view\n")                     // missing uuid → dropped
      new graft.core.TrailDBCons(s, Seq("event_type"))
        .addCsv(csvDir, delimiter = ",", header = true, skipBadInput = true)
        .stagedView
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("uuid")).as("n_trails"))
    }),

    // §2.9: the streaming sessionizer through the gate — session_window
    // over the trail source (AvailableNow) must reproduce the batch
    // gap-sessionization row-for-row (same oracle as t_sessionize).
    "t_stream_sessionize" -> ((s, dir) => {
      val src = Fixtures.memo(s"streamsrc:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-streamsrc")
          .resolve("src").toString
        trails(s, dir).df.select(col("uuid"),
          col("time").cast("timestamp").as("ts")).write.parquet(p)
        p
      }
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val name = "t_stream_sess_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamSessions
        .sessionCounts(stream, gap = "30 minutes")
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.sql(s"""SELECT uuid, count(*) AS num_sessions,
                sum(n_events) AS num_events
                FROM $name GROUP BY uuid ORDER BY uuid""")
    }),

    // §2.10a: the per-trail cursor API (tdb_get_trail + tdb_cursor_next
    // walk) — a cursor fold over each trail's time-ordered iterator.
    "t_trail_cursor" -> ((s, dir) => {
      import s.implicits._
      trails(s, dir).trailCursor { (uuid, events) =>
        var n = 0L
        var first = Long.MaxValue
        var last = Long.MinValue
        events.foreach { e =>
          n += 1
          if (e.time < first) first = e.time
          if (e.time > last) last = e.time
        }
        Iterator.single((uuid, first, last, n))
      }.toDF("uuid", "first_time", "last_time", "n_events").orderBy("uuid")
    }),

    // §2.10b: the typed Aggregator surface — TrailSummaryAggregator with
    // partial aggregation (map-side combine through the Dataset API).
    "t_agg_summary" -> ((s, dir) => {
      import s.implicits._
      trails(s, dir).df.select(col("uuid"), col("time"))
        .as[(String, Long)]
        .map { case (u, t) => graft.agg.TrailEvent(u, t, Map.empty) }
        .groupByKey(_.uuid)
        .agg(graft.agg.TrailSummaryAggregator.toColumn.name("s"))
        .map { case (u, sm) => (u, sm.first, sm.last, sm.n) }
        .toDF("uuid", "first_time", "last_time", "n_events")
        .orderBy("uuid")
    }),

    // P12: filter introspection — the public CNF AST. Parse a grammar
    // string exercising every textual term form (equality, OR within a
    // clause, AND between clauses, the NULL/"" `f=` form, negation, and
    // `!=@file` value indirection), explode the AST to rows, and prove
    // the render→re-parse round-trip is the identity (each row carries
    // the bit so the oracle pins it).
    "t_filter_introspect" -> ((s, dir) => {
      import s.implicits._
      val f = java.nio.file.Files.createTempFile("graft-introspect", ".txt")
      java.nio.file.Files.writeString(f, "purchase")
      val parsed = EventFilter.parse(
        s"event_type=click event_type=view & props= & event_type!=@$f")
      val roundtrip = EventFilter.parse(parsed.render) == parsed
      val rows = for {
        (cl, ci) <- parsed.clauses.zipWithIndex
        (tm, ti) <- cl.terms.zipWithIndex
      } yield tm match {
        case graft.filter.Match(fld, v, neg) =>
          (ci.toLong, ti.toLong, fld, v, neg, roundtrip)
        case graft.filter.TimeRange(st, en) =>
          (ci.toLong, ti.toLong, "time", s"[$st,$en)", false, roundtrip)
      }
      s.createDataset(rows).toDF(
          "clause_idx", "term_idx", "field", "value", "negated",
          "roundtrip_ok")
        .orderBy("clause_idx", "term_idx")
    }),

    // F5: error codes → distinct exit codes — drive each REAL failure
    // path through the CLI/library surface (no constructed GraftErrors):
    // missing required flag → TDB_ERR_ARGS/2, unreadable db →
    // TDB_ERR_IO_OPEN/3, malformed -F filter → TDB_ERR_FILTER_PARSE/4,
    // an index whose db binding cannot be verified →
    // TDB_ERR_STALE_INDEX/5, anything else → TDB_ERR_UNKNOWN/1
    // (reference: tdb_error enum src/tdb.c:591-675; the CLI DIE paths).
    "t_error_codes" -> ((s, dir) => {
      import s.implicits._
      def classifyOf(body: => Unit): (String, Long) = {
        val e = try { body; null } catch {
          case t: Throwable => t
        }
        require(e != null, "expected the op to fail")
        val (n, c) = graft.core.GraftError.classify(e)
        (n, c.toLong)
      }
      val db = Fixtures.dbPath(s, dir)
      val rows = Seq(
        ("bad_args", classifyOf(graft.cli.Main.run(s, "dump", Seq.empty))),
        ("open_error", classifyOf(graft.cli.Main.run(s, "dump",
          Seq("-i", "/nonexistent/graft-db")))),
        ("filter_parse", classifyOf(graft.cli.Main.run(s, "dump",
          Seq("-i", db, "-F", "badterm", "-o",
            java.nio.file.Files.createTempDirectory("graft-errout")
              .resolve("out").toString)))),
        ("stale_index", classifyOf(graft.core.TrailIndex.open(s,
          Fixtures.indexPath(s, dir),
          dbPath = Some(java.nio.file.Files
            .createTempDirectory("graft-nodb").toString)))),
        ("unknown", classifyOf(throw new RuntimeException("boom"))),
        // the cons-open field taxonomy (src/tdb_cons.c:258-281;
        // tests/c-tests/invalid_fields.c): each its own code
        ("invalid_fieldname", classifyOf(graft.cli.Main.run(s, "make",
          Seq("-o", "/tmp/graft-badfield", "-c", "/dev/null",
            "-f", "a.b")))),
        ("duplicate_fields", classifyOf(graft.cli.Main.run(s, "make",
          Seq("-o", "/tmp/graft-dupfield", "-c", "/dev/null",
            "-f", "a,a")))),
        ("too_many_fields", classifyOf(
          new graft.core.TrailDBCons(s,
            (0 to graft.core.TrailSchema.MaxNumFields).map(i => s"f$i")))),
        ("only_diff_filter", classifyOf(
          trails(s, dir).withFilter("event_type=click").onlyDiffItems)),
        ("append_mismatch", classifyOf(
          new graft.core.TrailDBCons(s, Seq("other_field"))
            .append(trails(s, dir)))),
        ("invalid_range", classifyOf(graft.filter.TimeRange(5L, 5L))),
        // the whale-trail refusal: a 1-event bound any real trail exceeds
        ("trail_too_long", classifyOf(graft.agg.Funnel.windowFunnel(
          trails(s, dir).df, Seq("view", "click"), window = 86400L,
          maxTrailEvents = Some(1L))))
      ).map { case (k, (n, c)) => (k, n, c) }
      s.createDataset(rows).toDF("case_name", "err_name", "exit_code")
        .orderBy("case_name")
    }),

    // (J+) snapshot diff: base misses every 7th event, revision misses
    // every 5th — content-identity (no seq) multiset diff, rolled up per
    // trail. The post-rebuild "what changed" report the reference
    // toolchain leaves to hand-rolled scripts.
    "t_diff" -> ((s, dir) => {
      val t = trails(s, dir)
      val base = TrailDB.fromTrailFrame(t.df.filter(col("seq") % 7 =!= 0))
      val rev = TrailDB.fromTrailFrame(t.df.filter(col("seq") % 5 =!= 0))
      TrailOps.diffSummary(base, rev).orderBy("uuid")
    }),

    // J4: merge with schema union — two shards with different field sets;
    // missing values become '' (tdb merge).
    "t_merge" -> ((s, dir) => {
      val t = trails(s, dir)
      val a = TrailDB.fromTrailFrame(
        t.df.filter(col("seq") % 2 === 0).select("uuid", "time", "event_type", "props", "seq"))
      val b = TrailDB.fromTrailFrame(
        t.df.filter(col("seq") % 2 === 1).select(col("uuid"), col("time"),
          col("event_type"), col("props").as("extra"), col("seq")))
      val merged = TrailOps.merge(Seq(a, b))
      ordered(merged.df).select(
        col("uuid"), col("time"),
        coalesce(col("event_type"), lit("")).as("event_type"),
        coalesce(col("props"), lit("")).as("props"),
        coalesce(col("extra"), lit("")).as("extra"),
        col("seq"))
    }),

    // J1/J3: multi-cursor k-way merge — trails split across 2 shards,
    // merged back into one (uuid, time)-ordered stream.
    "t_multicursor" -> ((s, dir) => {
      val t = trails(s, dir)
      val shards = Seq(
        TrailDB.fromTrailFrame(t.df.filter(col("seq") % 2 === 0)),
        TrailDB.fromTrailFrame(t.df.filter(col("seq") % 2 === 1)))
      TrailOps.multiCursor(shards).select("uuid", "time", "event_type", "props", "seq")
    }),

    // A1: db metadata — num_trails/num_events/min/max timestamp. Finalize
    // writes the `info` sidecar (tdb_encode.c:191-216) and open() reads it
    // back (tdb.c:677-700), so the answer is a driver-side lookup — the
    // result DataFrame is a literal row, NO scan (spec-asserted in
    // ConsSpec). The DuckDB oracle recomputes the same numbers from the
    // raw events, proving the sidecar content, not just echoing it.
    "t_metadata" -> ((s, dir) => {
      val db = Fixtures.db(s, dir)
      import s.implicits._
      Seq((db.numTrails, db.numEvents, db.timeRange._1, db.timeRange._2))
        .toDF("num_trails", "num_events", "min_time", "max_time")
    }),

    // S7 encode path, timed explicitly: a FRESH finalize (sorted layout,
    // 8 buckets) on every invocation — deliberately NOT the shared fixture,
    // so the bench keeps a row for the write path that t_metadata /
    // t_cons_roundtrip / t_index_scan no longer conflate into their reads.
    // Returns the info-sidecar row, so the same DuckDB recomputation that
    // oracles t_metadata proves the encode produced the right db.
    "t_finalize" -> ((s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft-q").resolve("db").toString
      val t = trails(s, dir)
      val db = new graft.core.TrailDBCons(s, Seq("event_type", "props"))
        .add(t.df).finalizeTo(path, 8)
      import s.implicits._
      Seq((db.numTrails, db.numEvents, db.timeRange._1, db.timeRange._2))
        .toDF("num_trails", "num_events", "min_time", "max_time")
    }),

    // Same metadata via the OPTIMIZER RULE instead of the accessors: a
    // user-written DataFrame aggregate over the finalized db is rewritten
    // to a LocalRelation answered from the _graft_info.json sidecar
    // (MetadataOnlyAggRule; reference info-file read src/tdb.c:677-700) —
    // asserted scan-free here, value-checked by the DuckDB oracle which
    // recomputes the numbers from the raw parquet.
    "t_metadata_rule" -> ((s, dir) => {
      val path = Fixtures.dbPath(s, dir)
      graft.plans.MetadataOnlyAggRule.registerWith(s)
      val agg = s.read.parquet(path).agg(
        countDistinct(col("uuid")).as("num_trails"),
        count(lit(1)).as("num_events"),
        min("time").as("min_time"),
        max("time").as("max_time"))
      val opt = agg.queryExecution.optimizedPlan.toString
      require(opt.contains("LocalRelation") && !opt.contains("parquet"),
        s"metadata-only rewrite did not fire:\n$opt")
      agg
    }),

    // A2/F3: lexicon — distinct values of a field, sorted ("" excluded, it
    // is the implicit NULL val 0).
    "t_lexicon" -> ((s, dir) =>
      trails(s, dir).lexicon("event_type").orderBy("value")),

    // Misra-Gries sketch over event_type with k ≥ field cardinality: in
    // that regime MG is provably LOSSLESS (no decrement ever fires), so
    // sketch counts must equal exact counts — the distributed-plumbing
    // correctness check (partial aggregation + lossy-capable merges across
    // 32 partitions). The lossy-regime heavy-hitter guarantee is property-
    // tested on a zipf stream in PipelineOpsSpec (this corpus is too
    // uniform for a non-vacuous heavy set — every field is ~equidistributed,
    // see SURVEY §8).
    "t_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      // EventSource for uniformity (every events read goes through it);
      // the ts normalization projects away under column pruning here.
      val types = graft.core.EventSource.events(s, dir)
        .select(col("event_type")).as[String]
      val sk = types.select(Sketch.MisraGries(8).toColumn.name("sketch")).toDF("sketch")
      val exact = types.toDF("event_type")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      exact.crossJoin(broadcast(sk))
        .select(col("event_type"), col("cnt"),
          (element_at(col("sketch"), col("event_type")) === col("cnt"))
            .as("est_exact"))
        .orderBy("event_type")
    }),

    // S6+S7: cons round-trip — stage events through the constructor,
    // finalize as uuid-sorted parquet, read back (what you write is what
    // you get back; tests/c-tests/what_you_write_you_get_back.c).
    "t_cons_roundtrip" -> ((s, dir) => {
      val db = Fixtures.db(s, dir)
      db.scan().select("uuid", "time", "event_type", "props", "seq")
    }),

    // Legacy .tdb read path (round 7, SURVEY §7.3's "only genuinely hard
    // piece"): write the trail frame as a format-v1 single-file package
    // (tar members, Huffman-coded bit streams, LE-u128-ordered uuid index
    // — sources/TdbWriter.scala) and read it back through the
    // DataSourceV2 reader (sources/TdbDataSource.scala: seek-based
    // trail-range partitions, uuid pushdown, column pruning). The oracle
    // recomputes the same rows from events.parquet — proving decode
    // (edge-encoding reconstruction, lexicon lookup, delta timestamps)
    // round-trips the corpus exactly. Empty strings read back as NULL
    // (the reference's value-id-0 convention, src/tdb.c:520-523).
    "t_tdb_read" -> ((s, dir) => {
      s.read.format("tdb").load(Fixtures.tdbPackage(s, dir))
        .select(col("uuid"), col("time"), col("event_type"), col("props"))
        .orderBy("uuid", "time", "event_type", "props")
    }),

    // FORMAT-V0 read (round 9, the last read-path divergence from
    // tdb_open): pre-release layout with cookies/NUL-terminated
    // lexicons/12-byte codebook entries/unordered uuid index
    // (src/tdb.c:255-261,357-369,134-136; src/tdb_huffman.c:377-420).
    // The fixture is graft-written but v0-validated EXTERNALLY: the
    // reference C engine dumps the same writer's output identically
    // (TdbInteropSpec).
    "t_tdb_v0" -> ((s, dir) => {
      s.read.format("tdb").load(Fixtures.tdbV0Dir(s, dir))
        .select(col("uuid"), col("time"), col("event_type"), col("props"))
        .orderBy("uuid", "time", "event_type", "props")
    }),

    // Decode of the REFERENCE's own in-tree fixture (test.tdb ships with
    // the reference repo): real Huffman codebook, bigram symbols, tar
    // package — the oracle pins the two known events as literals.
    "t_tdb_fixture" -> ((s, dir) =>
      s.read.format("tdb").load("/root/reference/test.tdb")
        .select(col("uuid"), col("time"),
          col("first_field"), col("second_field"))
        .orderBy("uuid")),

    // F2 item pack/unpack (src/tdb_types.h:68-99): the u64 item codec as
    // pure codegen column expressions, round-tripped over a grid that
    // covers the 32-bit form, both 64-bit triggers (wide field / wide
    // value), and the documented limits (field < 2^14, val < 2^40); the
    // oracle replays the bit arithmetic in DuckDB.
    "t_item_codec" -> ((s, dir) => {
      import s.implicits._
      val fields = Seq(0L, 1L, 127L, 128L, 9999L, (1L << 14) - 2)
      val vals = Seq(0L, 1L, (1L << 24) - 1, 1L << 24, 1L << 39,
        (1L << 40) - 2)
      fields.flatMap(f => vals.map(v => (f, v))).toDF("field", "val_id")
        .select(col("field"), col("val_id"),
          graft.sources.TdbItems.makeItem(col("field"), col("val_id"))
            .as("item"))
        .withColumn("field_back",
          graft.sources.TdbItems.itemField(col("item")))
        .withColumn("val_back", graft.sources.TdbItems.itemVal(col("item")))
        .withColumn("is32",
          (col("item").bitwiseAND(lit(128L)) === 0L).cast("long"))
        .orderBy("field", "val_id")
    }),

    // F3 value↔item translation (tdb_get_item_value / tdb_get_item,
    // src/tdb.c:488-542): the event_type lexicon of a legacy package as a
    // DataFrame, each value id packed into its item (ofield 1) and
    // unpacked back — item→string is a broadcastable lexicon join. The
    // oracle rebuilds the lexicon from raw data (ids are lexicographic by
    // the v1 writer's contract, TdbWriter.scala:38).
    "t_item_value" -> ((s, dir) => {
      val lex = graft.sources.TdbItems.lexiconDf(
        s, Fixtures.tdbPackage(s, dir), "event_type")
      lex.select(col("val_id"), col("value"),
          graft.sources.TdbItems.makeItem(lit(1L), col("val_id")).as("item"))
        .withColumn("val_back", graft.sources.TdbItems.itemVal(col("item")))
        .orderBy("val_id")
    }),

    // S4: CSV ingest round-trip — dump trails to CSV, re-ingest through
    // the cons (column mapping + header), compare against the oracle.
    "t_csv_roundtrip" -> ((s, dir) => {
      new graft.core.TrailDBCons(s, Seq("event_type", "evseq"))
        .addCsv(Fixtures.csvDump(s, dir), delimiter = ",", header = true)
        .stagedEvents.get
        .select(col("uuid"), col("time"), col("event_type"),
          col("evseq").cast("long").as("seq"))
        .orderBy("uuid", "time", "seq")
    }),

    // S5: JSONL ingest round-trip (unknown keys ignored).
    "t_jsonl_roundtrip" -> ((s, dir) => {
      new graft.core.TrailDBCons(s, Seq("event_type", "evseq"))
        .addJsonl(Fixtures.jsonlDump(s, dir))
        .stagedEvents.get
        .select(col("uuid"), col("time"), col("event_type"),
          col("evseq").cast("long").as("seq"))
        .orderBy("uuid", "time", "seq")
    }),

    // P4: empty-value term end-to-end — a field that is sometimes the NULL
    // value ('' ≡ val 0); `field=` matches exactly those events.
    "t_filter_empty" -> ((s, dir) => {
      val t = trails(s, dir)
      val withNulls = TrailDB.fromTrailFrame(
        t.df.withColumn("maybe",
          when(col("event_type") === "click", lit("")).otherwise(col("event_type"))))
      val f = EventFilter(Seq(Clause(Seq(Match("maybe", "")))))
      ordered(withNulls.events(f)).select("uuid", "time", "event_type", "seq")
    }),

    // P8: per-trail filter overrides (tdb_set_trail_opt) — trail 1 keeps
    // only clicks, trail 2 keeps everything, all others keep the db filter
    // (event_type=view).
    "t_trail_filters" -> ((s, dir) => {
      val t = trails(s, dir).withFilter(
        EventFilter(Seq(Clause(Seq(Match("event_type", "view"))))))
      val overridden = t.eventsWithTrailFilters(Map(
        f"${1L}%032x" -> EventFilter(Seq(Clause(Seq(Match("event_type", "click"))))),
        f"${2L}%032x" -> EventFilter.matchAll))
      ordered(overridden).select("uuid", "time", "event_type", "seq")
    }),

    // F1: uuid hex↔raw round trip with strict validation
    // (src/tdb_uuid.c:52-75): unhex to 16 raw bytes, hex back, lowercase.
    "t_uuid_codec" -> ((s, dir) => {
      val t = trails(s, dir)
      t.df.select(col("uuid")).distinct()
        .withColumn("valid", col("uuid").rlike("^[0-9a-f]{32}$"))
        .withColumn("roundtrip", lower(hex(unhex(col("uuid")))))
        .withColumn("raw_len", length(unhex(col("uuid"))).cast("long"))
        .orderBy("uuid")
    }),

    // A5: distinct items per trail (the reference approximates this with
    // only-diff-items; ours is exact) — sorted, pipe-joined for a stable
    // cross-engine representation.
    "t_distinct_items" -> ((s, dir) =>
      trails(s, dir).df.groupBy("uuid")
        .agg(concat_ws("|",
          sort_array(collect_set(coalesce(col("event_type"), lit(""))))).as("item_set"),
          countDistinct(coalesce(col("event_type"), lit(""))).as("n_items"))
        .orderBy("uuid")),

    // Per-trail AS-OF join: each view event enriched with the latest click
    // at-or-before it — one uuid-shuffle window pass, no range join.
    // Oracle: DuckDB's native ASOF LEFT JOIN (independent implementation).
    "t_asof" -> ((s, dir) => {
      val t = trails(s, dir)
      val views = t.df.filter(col("event_type") === "view")
        .select("uuid", "time", "seq")
      val clicks = t.df.filter(col("event_type") === "click")
        .select(col("uuid"), col("time"),
          col("time").as("click_time"),
          coalesce(col("props"), lit("")).as("click_props"))
      TrailOps.asOfJoin(views, clicks, Seq("click_time", "click_props"))
        .orderBy("uuid", "time", "seq")
    }),

    // Same AS-OF semantics through the custom Catalyst operator
    // (AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec): both sides
    // co-partitioned on uuid, per-partition streaming merge — the right
    // side shuffles at its own width instead of being padded to a union
    // schema. Oracled by the same independent DuckDB ASOF LEFT JOIN.
    "t_asof_native" -> ((s, dir) => {
      val t = trails(s, dir)
      val views = t.df.filter(col("event_type") === "view")
        .select("uuid", "time", "seq")
      val clicks = t.df.filter(col("event_type") === "click")
        .select(col("uuid"), col("time"),
          col("time").as("click_time"),
          coalesce(col("props"), lit("")).as("click_props"))
      graft.plans.AsOfJoin.join(views, clicks, Seq("click_time", "click_props"))
        .orderBy("uuid", "time", "seq")
    }),

    // §2.11 secondary index: build the inverted (field,value,page) skipping
    // index over a finalized db, then scan a CNF filter through it — pages
    // prune the scan, the full filter re-checks, rows match a plain scan.
    "t_index_scan" -> ((s, dir) => {
      val db = Fixtures.db(s, dir)
      val idx = graft.core.TrailIndex.open(s, Fixtures.indexPath(s, dir))
      val f = EventFilter(Seq(
        Clause(Seq(Match("event_type", "click"), Match("event_type", "purchase")))))
      graft.core.TrailIndex.prunedEvents(db, idx, f)
        .orderBy("uuid", "time", "seq")
        .select("uuid", "time", "event_type", "props", "seq")
    }),

    // Cohort retention: per week, active trails and how many return the
    // following week. A lead() over each trail's distinct-week sequence
    // replaces the week+1 self-join — one scan, no join, and the window
    // partitions by uuid so it scales with trails, not with the grid².
    "t_retention" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("uuid").orderBy("week")
      trails(s, dir).df
        .select(col("uuid"), expr("time DIV 604800").as("week")).distinct()
        .withColumn("ret", (lead("week", 1).over(w) === col("week") + 1).cast("long"))
        .groupBy("week")
        .agg(count(lit(1)).as("n_active"),
          coalesce(sum("ret"), lit(0L)).as("n_retained"))
        .orderBy("week")
    }),

    // (A+) cohort activity matrix: trails bucketed by first-event week,
    // active-trail counts per (cohort, weeks-since). One uuid shuffle;
    // whale trails contribute <= #weeks rows.
    "t_cohort" -> ((s, dir) =>
      graft.agg.Cohorts.matrix(trails(s, dir).df)
        .orderBy("cohort", "age")),

    // (A+) event-type audience overlap: distinct-trail counts per
    // unordered type pair — "users who did X also did Y". One uuid-set
    // shuffle; whale trails contribute <= |types| rows.
    "t_overlap" -> ((s, dir) =>
      graft.agg.Cohorts.typeOverlap(trails(s, dir).df)
        .orderBy("type_a", "type_b")),

    // (A+) conversion latency: first signup → first purchase at-or-after
    // it, per trail, hour-bucketed histogram. Two min-aggregates + one
    // uuid join — no window, no event-pair join.
    "t_latency" -> ((s, dir) =>
      graft.agg.Cohorts.conversionLatency(trails(s, dir).df,
          fromType = "signup", toType = "purchase")
        .orderBy("bucket")),

    // ---- training-data pipeline operators (documents/embeddings) ----

    // Exact dedup groups: content hash → survivor id + copy count.
    "d_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("content_hash")),

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index.
    "d_ngram_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
          k = 3, threshold = 0.2)
        .orderBy("id_a", "id_b")),

    // Text normalization (round 8): lowercase + whitespace collapse +
    // trim as a pure projection — exact byte-for-byte DuckDB replay via
    // the Java∩RE2-portable \s class (the scrubPii discipline).
    "d_normalize" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val norm = TextAnalysis.normalizeText(col("text"))
      docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_before"),
          length(norm).cast("long").as("n_after"),
          md5(norm.cast("binary")).as("norm_md5"))
        .orderBy("doc_id")
    }),

    // Exact containment via the prefix filter (round 8): the 100 TB path
    // for d_containment — index each doc's rarest floor((1-t)*sz)+1
    // shingles; a pair at containment ≥ t must hit the smaller doc's
    // prefix (set-similarity-join bound), so candidates are a guaranteed
    // superset and verification is exact. Same oracle as d_containment:
    // the outputs are provably identical (also spec-enforced).
    "d_containment_prefix" -> ((s, dir) =>
      Dedup.containmentPairsPrefix(s.read.parquet(s"$dir/documents.parquet"),
          k = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")),

    // PMI collocations (round 8): top-k "word pairs that stick together"
    // (Church & Hanks) with a count floor; pmi rounded to integral
    // micro-nats so the ranking (and the top-k cut) is engine-replayable.
    "d_pmi" -> ((s, dir) =>
      Retrieval.pmiCollocations(s.read.parquet(s"$dir/documents.parquet"),
        k = 20, minCount = 5)),

    // Leakage-safe eval split (round 8): split side decided by DEDUP
    // CLUSTER — near-dups of a doc land on the same side, so the eval set
    // cannot hold a near-copy of a training doc (the leakage a doc-level
    // hash split permits and post-hoc decontamination then has to scrub).
    // Exact DuckDB replay: recursive-CTE clusters + the md5 split rule on
    // the cluster id.
    "d_cluster_split" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val clusters = Dedup.dedupClusters(docs,
        Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.2))
      Dedup.clusterSafeSplit(docs, clusters, evalFrac = 0.25)
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    }),

    // CDC shared-chunk dedup stats (round 8): how much of each doc is
    // duplicated elsewhere at CHUNK granularity — the storage-dedup
    // measurement content-defined boundaries exist for. Contract: exact
    // text-duplicate membership is DuckDB-recomputed (md5(text) freq>1),
    // and the CDC invariant rides as a flag — a text-dup doc must have
    // EVERY chunk shared (identical text ⇒ identical cuts ⇒ identical
    // chunk set), i.e. is_text_dup ⇒ shared_frac = 1.
    "d_cdc_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val stats = TextAnalysis.cdcSharedChunkStats(docs,
        w = 4, maskBits = 3, minSize = 4, maxSize = 24)
      val hashed = docs.select(col("doc_id"),
        md5(col("text").cast("binary")).as("_h"))
      val freq = hashed.groupBy("_h").agg(count(lit(1)).as("_n"))
      stats.join(hashed.join(freq, "_h")
          .select(col("doc_id"), (col("_n") > 1).cast("long").as("is_text_dup")),
        "doc_id")
        .select(col("doc_id"), col("is_text_dup"),
          (col("is_text_dup") === 0 || col("shared_frac") === 1.0)
            .cast("long").as("dup_implies_shared"))
        .orderBy("doc_id")
    }),

    // Asymmetric containment near-dups (round 8): C = shared/min(|Sa|,|Sb|)
    // over distinct k-shingle sets — the doc-inside-a-doc detector that
    // symmetric Jaccard structurally misses (a short doc embedded in a long
    // one scores J ≈ |short|/|long| → 0 but containment 1). Same inverted-
    // index blocking as d_ngram_pairs; exact DuckDB replay.
    "d_containment" -> ((s, dir) =>
      Dedup.containmentPairs(s.read.parquet(s"$dir/documents.parquet"),
          k = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")),

    // Vocabulary coverage / OOV rate (round 8): vocab = top-20 corpus
    // tokens by frequency (ties token-ASC — the deterministic cut), per doc
    // the total and out-of-vocab token counts. The tokenizer-fit health
    // check run before committing to a vocab. Exact DuckDB replay,
    // including the tie-broken vocab boundary.
    "d_oov" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(s.read.parquet(s"$dir/documents.parquet"),
          vocabSize = 20)
        .orderBy("doc_id")),

    // Content-defined chunking (round 8, LBFS-style rolling-hash cuts with
    // min/max bounds): boundaries anchor to CONTENT (xxhash64 of the
    // 4-token window), so an edit early in a doc shifts only chunks up to
    // one expected chunk length past it — the property chunk-level dedup
    // across near-identical docs needs, which d_chunk's fixed stride
    // lacks. Hash-dependent cuts aren't DuckDB-replayable, so the contract
    // row is: exact per-doc token total (DuckDB recomputes it) + the
    // bounds the fold enforces by construction, as flags (chunks tile the
    // doc, every chunk ≤ maxSize, every non-tail chunk ≥ minSize, chunk
    // count within the [ceil(nt/max), floor(nt/min)+1] envelope).
    "d_cdc_chunks" -> ((s, dir) => {
      // ONE aggregation pass over the chunk stream (an uncached second
      // consumer would recompute the whole tokenize+fold+explode+md5
      // pipeline): min_ok = every sub-minSize chunk is the tail, checked
      // as "at most one short chunk, and its id is the last id". Bounds
      // are shared vals so the flags can never drift from the call.
      val (minSz, maxSz) = (4, 24)
      val ch = TextAnalysis.cdcChunks(s.read.parquet(s"$dir/documents.parquet"),
        w = 4, maskBits = 3, minSize = minSz, maxSize = maxSz)
      ch.groupBy("doc_id").agg(
          sum("n_tokens").as("n_tokens"),
          count(lit(1)).as("_nc"),
          max("n_tokens").as("_mx"),
          max("chunk_id").as("_last"),
          sum(when(col("n_tokens") < minSz, 1L).otherwise(0L)).as("_nshort"),
          max(when(col("n_tokens") < minSz, col("chunk_id"))).as("_shortId"))
        .select(col("doc_id"), col("n_tokens"),
          (col("_mx") <= maxSz).cast("long").as("max_ok"),
          (col("_nshort") === 0 ||
            (col("_nshort") === 1 && col("_shortId") === col("_last")))
            .cast("long").as("min_ok"),
          (col("_nc") >= ceil(col("n_tokens") / lit(maxSz.toDouble)) &&
            col("_nc") <= floor(col("n_tokens") / lit(minSz.toDouble)) + 1)
            .cast("long").as("count_ok"))
        .orderBy("doc_id")
    }),

    // Dedup clustering: pairwise near-dup matches (exact n-gram Jaccard)
    // → connected components → one cluster_id per doc (min id of the
    // component; singletons are their own cluster). The keep-one-per-
    // cluster step of every corpus dedup pipeline.
    "d_dedup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.2)
      Dedup.dedupClusters(docs, pairs).orderBy("doc_id")
    }),

    // Canonical selection: near-dup clusters keep their LONGEST member
    // (quality-first keep policy, tie → min id) instead of min-id.
    "d_keep_best" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.2)
      val clusters = Dedup.dedupClusters(docs, pairs)
      Dedup.keepBest(
          docs.withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long")),
          clusters, col("n_tokens"))
        .select(col("cluster_id"), col("doc_id"), col("n_tokens"))
        .orderBy("cluster_id")
    }),

    // Text quality signals (exact counts + IEEE-deterministic ratios).
    "d_quality" -> ((s, dir) =>
      TextAnalysis.withQualitySignals(s.read.parquet(s"$dir/documents.parquet"))
        .withColumn("n_bpe_est", TextAnalysis.bpeTokenEstimate(col("text")))
        .select("doc_id", "n_tokens", "n_bpe_est", "n_punct", "n_stopwords",
          "mean_token_len", "stopword_ratio", "punct_ratio")
        .orderBy("doc_id")),

    // Language-ID heuristic (stopword argmax with fixed tie order).
    "d_langid" -> ((s, dir) =>
      TextAnalysis.withLangId(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "c_en", "c_de", "c_es", "c_fr", "lang_pred")
        .orderBy("doc_id")),

    // Sentence-level exact dedup: split docs into sentences, count cross-
    // corpus repeats — the boilerplate/template detector every corpus
    // cleanup runs (top repeated sentences with their doc spread).
    "d_sentence_dedup" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("raw"))
        .select(col("doc_id"), trim(col("raw")).as("sentence"))
        .filter(length(col("sentence")) > 0)
        .groupBy("sentence")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("n_occurrences").desc, col("sentence"))
        .limit(50)),

    // Sentence-level dedup WITH reconstruction (CCNet line dedup): drop
    // sentences occurring in >= 2 distinct docs, rebuild each doc from the
    // survivors in original order.
    "d_line_dedup" -> ((s, dir) =>
      TextAnalysis.dropRepeatedSentences(
          s.read.parquet(s"$dir/documents.parquet"), minDocs = 2)
        .orderBy("doc_id")),

    // Doc-length histogram: token-count deciles bucketed to 10s — the
    // length-distribution sanity check before/after filtering.
    "d_length_hist" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select((floor(TextAnalysis.tokenCount(col("text")) / 10) * 10)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket")),

    // PII scrubbing: emails / IPv4 / digit runs → typed placeholders.
    // Synthetic PII is appended per doc so the redaction paths actually
    // fire; patterns stay in the Java-regex ∩ RE2 portable subset.
    "d_pii_scrub" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0.0."), (col("doc_id") % 256).cast("string"),
            lit(" tel 555 123 4567"))).as("clean"))
        .orderBy("doc_id")),

    // Deterministic hash-sampling: md5-based keep decision — reproducible
    // across runs/engines/cluster sizes, the standard corpus-downsampling
    // and train/held-out split primitive.
    "d_sample" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .filter(TextAnalysis.hashSample(col("text"), 0.25))
        .select("doc_id")
        .orderBy("doc_id")),

    // Deterministic training-shard manifest: md5-bucket shard assignment
    // (order/partitioning-independent), per-shard doc/token counts and an
    // order-independent content checksum — the layout + audit contract a
    // training job restarts from.
    "d_shard" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("shard", TextAnalysis.shardAssign(col("text"), 16))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("checksum"))
        .orderBy("shard")),

    // BPE trainer round-1 core: frequency-weighted adjacent character-pair
    // counts over the word table, top-50 by (count desc, pair asc) — the
    // distributed heart of the tokenizer-training loop, engine-replayable.
    // (Later rounds depend on earlier argmaxes — plain SQL cannot replay
    // them; the multi-round loop is spec-proven against a hand reference.)
    "d_bpe_pairs" -> ((s, dir) =>
      Bpe.pairCounts(Bpe.wordSymbols(s.read.parquet(s"$dir/documents.parquet")))
        .orderBy(col("cnt").desc, col("sym_l"), col("sym_r")).limit(50)),

    // BPE ENCODE (the tokenizer-apply side of train): segment every doc
    // with a FIXED merge list — training is covered by d_bpe_pairs + the
    // multi-round spec; a fixed rule list is what makes the encode pass
    // engine-replayable (the oracle replays left-to-right non-overlapping
    // merge application as a sentinel-delimited replace chain, which has
    // identical non-overlap semantics). Per-doc subword totals + distinct
    // counts; docs with no tokens drop on both engines (explode/unnest).
    "d_bpe_segment" -> ((s, dir) => {
      val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
        ("e", "r"), ("o", "n")).zipWithIndex
        .map { case ((a, b), i) => Bpe.BpeMerge(i + 1, a, b, 0L) }
      Bpe.segment(s.read.parquet(s"$dir/documents.parquet"), merges)
        .select(col("doc_id"), explode(col("subwords")).as("sw"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_subwords"),
          countDistinct(col("sw")).as("n_distinct"))
        .orderBy("doc_id")
    }),

    // Deterministic exactly-N-per-stratum split: carve exactly 5 eval docs
    // per language, ranked by content hash — the exact-count eval-split
    // primitive (vs the fractional stratified sampler).
    "d_eval_split" -> ((s, dir) =>
      TextAnalysis.takePerStratum(
          s.read.parquet(s"$dir/documents.parquet"), n = 5)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Shard EXPORT: write md5-bucketed JSONL shard partitions to disk and
    // return the manifest computed from a read-back of the written files —
    // the oracle checks what actually landed on disk (counts + checksum
    // must survive the JSON round-trip byte-exactly).
    "d_export" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-export")
        .resolve("shards").toString
      TextAnalysis.exportTrainingShards(
          s.read.parquet(s"$dir/documents.parquet"), out, nShards = 16)
        .orderBy("shard")
    }),

    // Cross-doc repeated k-token spans (exact-substring-dedup signal,
    // Lee et al. 2022): per doc, distinct 8-token windows shared with at
    // least one other doc + duplicated fraction.
    "d_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanStats(s.read.parquet(s"$dir/documents.parquet"), k = 8)
        .orderBy("doc_id")),

    // End-to-end corpus pipeline: exact dedup (keep min id) → quality gate
    // → near-dup clustering on the survivors → keep one doc per cluster.
    // The composition every pre-training data pipeline runs, as ONE plan.
    "d_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val s1 = Dedup.exactDedup(docs)
      val s2 = TextAnalysis.withQualitySignals(s1)
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 600 &&
          col("stopword_ratio") < 0.3 && col("punct_ratio") < 0.1)
        .select("doc_id", "text")
        .localCheckpoint() // consumed by the pair subtree AND the final
                           // cluster join (the d_disposition convention)
      val pairs = Dedup.ngramJaccardPairs(s2, k = 3, threshold = 0.2)
      Dedup.dedupClusters(s2, pairs)
        .filter(col("doc_id") === col("cluster_id"))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // The COMPLETE pre-training data pipeline as one composed plan: exact
    // dedup → quality gate → perplexity gate (LM scored on the survivors)
    // → token-window chunking → budget packing → per-pack manifest with
    // content checksums. Every stage is engine-replayable, so the full
    // composition — the artifact a training job actually consumes — is
    // DuckDB-oracled end to end.
    // Per-doc disposition audit of the training pipeline: every input doc
    // labeled with the FIRST stage that dropped it (duplicate → quality →
    // perplexity) or 'kept' — the "where did my data go" report, stage
    // semantics identical to d_training_pipeline's composition.
    "d_disposition" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val s1 = Dedup.exactDedup(docs)
      val s2 = TextAnalysis.withQualitySignals(s1)
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 600 &&
          col("stopword_ratio") < 0.3 && col("punct_ratio") < 0.1)
        .select("doc_id", "text")
        .localCheckpoint() // consumed by the LM gate AND the audit join
      val s3 = Retrieval.perplexityGate(s2, dropFrac = 0.1)
      TextAnalysis.disposition(docs, Seq(
          "duplicate" -> s1, "quality" -> s2, "perplexity" -> s3))
        .orderBy("doc_id")
    }),

    "d_training_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val s1 = Dedup.exactDedup(docs)
      val s2 = TextAnalysis.withQualitySignals(s1)
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 600 &&
          col("stopword_ratio") < 0.3 && col("punct_ratio") < 0.1)
        .select("doc_id", "text")
        .localCheckpoint() // consumed by the LM gate AND the text join
      val s3 = Retrieval.perplexityGate(s2, dropFrac = 0.1)
        .join(s2, "doc_id").select("doc_id", "text")
      val ch = TextAnalysis.chunks(s3, size = 32, stride = 24)
      TextAnalysis.packChunks(ch, budget = 256, nShards = 8)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("pack_tokens"),
          sum(conv(substring(col("chunk_md5"), 1, 8), 16, 10).cast("long"))
            .as("checksum"))
        .orderBy("shard", "pack_id")
    }),

    // TF-IDF top terms per doc: corpus IDF (one token-shuffle, 1-row
    // broadcast N) + per-doc top-k window.
    "d_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(s.read.parquet(s"$dir/documents.parquet"), topK = 5)
        .orderBy("doc_id", "rank")),

    // Repetition signals (Gopher-style quality rules): duplicate-token
    // fraction, top-token share, top-bigram share.
    "d_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetitionSignals(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")),

    // Corpus vocabulary: top-50 tokens by frequency (explode + count —
    // the map-side-combined shape of every vocab/BPE-training pass).
    "d_vocab" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(50)),

    // Quality-gate filter: the standard pre-training corpus pass — keep
    // docs inside token-count and stopword-ratio bounds.
    "d_quality_filter" -> ((s, dir) =>
      TextAnalysis.withQualitySignals(s.read.parquet(s"$dir/documents.parquet"))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 600 &&
          col("stopword_ratio") < 0.3 && col("punct_ratio") < 0.1)
        .select("doc_id", "n_tokens", "n_stopwords")
        .orderBy("doc_id")),

    // Quantile-threshold gate ("drop the bottom decile by token count"):
    // the threshold is ONE mergeable GK-sketch pass (percentile_approx)
    // broadcast into the filter scan — at 100 TB the exact percentile is
    // a full sort, the sketch is rank-ε exact. Invariant-contract row
    // (the ANN pattern): the sketch's threshold VALUE is summary-
    // specific, so the oracle checks its rank GUARANTEE, recomputed
    // from the data, tie-robustly (strict/non-strict counts bracket the
    // tie mass); n_total is DuckDB-recomputed, n_kept is floored (≥
    // (1−q−ε)·n — ties at the threshold only ADD rows).
    "d_quantile_gate" -> ((s, dir) => {
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("ntok"))
      TextAnalysis.quantileGateContract(scored, col("ntok"), q = 0.10)
        .select(col("n_total"),
          (col("n_kept") >= ceil(lit(0.88) * col("n_total"))).cast("long")
            .as("kept_floor_ok"),
          col("rank_lo_ok"), col("rank_hi_ok"))
    }),

    // MinHash+LSH near-dup pairs, exact-Jaccard-verified. 64 hashes / 32
    // bands keeps r=2 rows per band (S-curve midpoint (1/32)^(1/2) ≈ 0.18,
    // right under the 0.2 verify threshold) at half the signature cost of
    // 128/64. The output is the INVARIANT the hash family must satisfy —
    // DuckDB cannot replay the permutations, but it CAN compute the exact
    // ngram-Jaccard pair list, so the oracle checks: (a) n_exact matches,
    // (b) every LSH pair is in the exact list (violations = 0), (c) recall
    // ≥ 0.7 (measured 1.0 at sf 0.001/0.01/0.1 — RecallProbe).
    "d_minhash_lsh" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lsh = Dedup.minhashDedupPairs(docs, threshold = 0.2,
        numHashes = 64, bands = 32, k = 3).select("id_a", "id_b")
      // exact pair list is consumed twice (count + membership join)
      val exact = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.2)
        .select("id_a", "id_b").localCheckpoint()
      val marked = lsh.join(exact.withColumn("_e", lit(1)),
        Seq("id_a", "id_b"), "left")
      val lshAgg = marked.agg(
        count(lit(1)).as("_n_lsh"),
        coalesce(sum(when(col("_e").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_violations"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(lshAgg)
        .select(col("n_exact"), col("n_violations"),
          ((col("_n_lsh") - col("n_violations")) * 10 >= col("n_exact") * 7)
            .cast("long").as("recall_ok"))
    }),

    // SimHash via native simhash64 + 4x16-bit Manku banding. Invariant
    // output (signature values are hash-specific, but their CONTRACT is
    // not): union the corpus with an id-shifted copy of itself — every doc
    // then has an exact duplicate, and banding GUARANTEES identical docs
    // meet (identical signature ⇒ identical bands), so exactly n_docs
    // self-pairs must surface at hamming 0, and no emitted pair may exceed
    // maxHamming. DuckDB computes n_docs; the rest are exact equalities.
    "d_simhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val off = 1000000000L
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + off).as("doc_id"), col("text")))
      val pairs = Dedup.simhashPairs(corpus, maxHamming = 8)
      val agg = pairs.agg(
        coalesce(sum(when(col("id_b") - col("id_a") === off &&
          col("hamming") === 0, 1L).otherwise(0L)), lit(0L)).as("n_self_h0"),
        coalesce(sum(when(col("hamming") > 8, 1L).otherwise(0L)), lit(0L))
          .as("n_over_max"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(agg)
        .select(col("n_docs"), col("n_self_h0"), col("n_over_max"))
    }),

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03). Per-doc
    // invariant output: n_sh (distinct k=5 shingles — DuckDB recomputes it
    // from the text, the same tokenization equivalence d_ngram_pairs
    // already hash-proves), plus two structural flags the winnow CONTRACT
    // forces: 1 ≤ |fp| ≤ max(n_sh − window + 1, 1), and fp ⊆ shingle
    // hashes (every fingerprint IS a window-min shingle hash).
    "d_fingerprint" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.shingleHashes(col("text"), 5).as("_sh"))
        .select(col("doc_id"), col("_sh"),
          graft.functions.GraftFunctions.winnow(col("_sh"), 4).as("_fp"))
        .select(col("doc_id"),
          size(col("_sh")).cast("long").as("n_sh"),
          (size(col("_fp")) >= 1 &&
            size(col("_fp")) <= greatest(size(col("_sh")) - lit(3), lit(1)))
            .cast("long").as("fp_in_bounds"),
          (size(array_except(col("_fp"), col("_sh"))) === 0)
            .cast("long").as("fp_subset"))
        .orderBy("doc_id")),

    // Brute-force cosine top-k (exact ANN baseline).
    "e_knn_brute" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Filtered IVF (round 8): the predicate rides the bucket-join KEY
    // (cell, label) — a probed cell contributes only its qualifying slice
    // to the scoring stream. Own measured recall floor: low-selectivity
    // predicates spread each query's true same-label neighbors across
    // MORE cells than the unfiltered case (measured: nprobe=8/16
    // scores 21/25/24 of 30 at sf0.001/.01/.1 where unfiltered IVF gets
    // comparable recall at nprobe=3 — nprobe must scale with 1/selectivity);
    // floor 15 with margin. label_ok proves no result crosses the
    // predicate — the invariant the post-filter shape cannot state.
    "e_knn_ivf_filtered" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      val ann = Similarity.filteredIvfKnn(emb, q, k = 3, nCells = 16,
        nprobe = 8)
      val labels = emb.select(col("vec_id"), col("label"))
      val crossed = ann
        .join(labels.select(col("vec_id").as("corpus_id"),
          col("label").as("_cl")), "corpus_id")
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("_ql")), "query_id")
        .agg(coalesce(sum(when(col("_cl") =!= col("_ql"), 1L)
          .otherwise(0L)), lit(0L)).as("_x"))
      annInvariant(ann, Similarity.filteredKnn(emb, q, k = 3), q,
          minHits = 15)
        .crossJoin(crossed)
        .select(col("n_queries"), col("n_returned"), col("hits_ok"),
          col("ranked_ok"), (col("_x") === 0).cast("long").as("label_ok"))
    }),

    // Hard-negative mining (round 8): top-k most-similar DIFFERENT-label
    // rows per query — the contrastive-training negative sampler (random
    // negatives are trivially easy; hard ones carry the gradient). Label
    // inequality rides the broadcast-join filter below the mergeable
    // shortlist. Exact DuckDB replay.
    "e_hard_negatives" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Filtered exact kNN (round 8): per-query metadata predicate (same
    // label) as the broadcast-join KEY below the shortlist aggregate —
    // each query gets k MATCHING neighbors. Post-filtering an unfiltered
    // shortlist instead silently starves to <k whenever true neighbors
    // are off-predicate (Round8OpsSpec proves the divergence). Exact
    // DuckDB replay: join on label, rank by cosine.
    "e_knn_filtered" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.filteredKnn(emb, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Margin-based parallel-pair mining (Artetxe & Schwenk 1811.01136):
    // pair each label-0 vector with its best label-1 partner, cosine
    // normalized by both endpoints' average k-NN cosine (hubness
    // correction). Penalties are exact nano-unit integer sums, so the
    // DuckDB oracle replays every margin bit-for-bit.
    "e_bitext" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Mining.bitextMine(emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), k = 4)
        .orderBy("src_id")
    }),

    // The blocked miner's contract (cell layout is model-specific; the
    // CONTRACT is not): every reported pair's cosine re-derived from raw
    // vectors bit-for-bit, pair agreement with the exact miner floored at
    // 55% (measured 76/73/63% at sf0.001/.01/.1 — strict same-best-partner
    // agreement), and the one-pair-per-source bound.
    "e_bitext_ann" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val a = emb.filter(col("label") === 0)
      val b = emb.filter(col("label") === 1)
      val exact = Mining.bitextMine(a, b, k = 4)
      val blocked = Mining.bitextMineBlocked(a, b, k = 4, nCells = 8,
        nprobe = 3)
      val re = blocked
        .join(exact.select(col("src_id"), col("dst_id").as("_xd")),
          Seq("src_id"), "left")
        .join(a.select(col("vec_id").as("src_id"), col("embedding").as("_av")),
          "src_id")
        .join(b.select(col("vec_id").as("dst_id"), col("embedding").as("_bv")),
          "dst_id")
        .withColumn("_rc", Similarity.dot(col("_bv"), col("_av")) /
          (Similarity.norm(col("_bv")) * Similarity.norm(col("_av"))))
      val agg = re.agg(
        count(lit(1)).as("_n_blocked"),
        coalesce(sum(when(col("_xd") === col("dst_id"), 1L).otherwise(0L)),
          lit(0L)).as("_hits"),
        coalesce(sum(when(col("_rc") === col("cosine"), 0L).otherwise(1L)),
          lit(0L)).as("_cos_bad"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(a.agg(count(lit(1)).as("_n_a")))
        .crossJoin(agg)
        .select(col("n_exact"),
          (col("_hits") * 100 >= col("n_exact") * 55).cast("long").as("hits_ok"),
          (col("_cos_bad") === 0).cast("long").as("cos_ok"),
          (col("_n_blocked") <= col("_n_a")).cast("long").as("blocked_bounded"))
    }),

    // MMR diversified retrieval: top-40 cosine candidates (distributed)
    // then the greedy lambda-tradeoff rerank (driver, N is small by
    // definition). EXACT oracle: DuckDB replays the whole greedy chain
    // with a recursive CTE over the same IEEE-double scores — selection
    // order, ids, and relevance all hash-match.
    "e_mmr" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") === 0),
          candidateN = 40, k = 10, lambda = 0.7)
        .orderBy("rank")
    }),

    // SemDeDup (Abbas et al. '23): semantic dedup with LEARNED K-Means
    // cells as the blocking structure (e_dedup_clusters blocks on labels —
    // a stand-in; this is the published recipe). The cell layout is
    // model-specific, so the oracle is the contract, re-checked from RAW
    // vectors in-plan: exactly one kept representative per near-dup
    // component; no within-cell kept pair reaches the threshold (the
    // transitive-closure guarantee — trips if CC or keep-selection breaks);
    // every dropped vector has a same-component witness at >= threshold;
    // and the drop set is non-vacuous (floor measured across sf0.001-0.1).
    // DuckDB recomputes n_total.
    "e_semantic_dedup" -> ((s, dir) => {
      val thr = 0.35
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val res = Dedup.semanticDedup(emb, nCells = 8, threshold = thr)
        .localCheckpoint()
      val vecs = emb.select(col("vec_id"), col("embedding").as("_v"),
        Similarity.norm(col("embedding")).as("_n"))
      val withV = res.join(vecs, "vec_id")
      def cosAB(a: String, b: String) =
        Similarity.dot(col(s"$a._v"), col(s"$b._v")) /
          (col(s"$a._n") * col(s"$b._n"))
      val kept = withV.filter(col("kept"))
      val keptBad = kept.as("a").join(kept.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosAB("a", "b") >= thr)
        .agg(count(lit(1)).as("_kept_bad"))
      val witnessBad = withV.filter(!col("kept")).as("d")
        .join(withV.as("m"),
          col("d.cluster_id") === col("m.cluster_id") &&
          col("d.vec_id") =!= col("m.vec_id"))
        .groupBy(col("d.vec_id")).agg(max(cosAB("d", "m")).as("_mx"))
        .agg(coalesce(sum(when(col("_mx") >= thr, 0L).otherwise(1L)), lit(0L))
          .as("_witness_bad"))
      val clusterBad = res.groupBy("cluster_id")
        .agg(sum(col("kept").cast("long")).as("_nk"))
        .agg(coalesce(sum(when(col("_nk") === 1, 0L).otherwise(1L)), lit(0L))
          .as("_cluster_bad"))
      res.agg(count(lit(1)).as("n_total"),
          sum((!col("kept")).cast("long")).as("_n_dropped"))
        .crossJoin(broadcast(clusterBad))
        .crossJoin(broadcast(keptBad))
        .crossJoin(broadcast(witnessBad))
        .select(col("n_total"),
          (col("_cluster_bad") === 0).cast("long").as("one_kept_per_cluster_ok"),
          (col("_kept_bad") === 0).cast("long").as("kept_pairs_ok"),
          (col("_witness_bad") === 0).cast("long").as("dropped_witness_ok"),
          (col("_n_dropped") >= 50).cast("long").as("dropped_floor_ok"))
    }),

    // MMR over the ANN scale path (the documented 100 TB composition for
    // e_mmr): PQ ADC-shortlists the top-40 candidates (exact-cosine
    // reranked), the greedy tradeoff reranks those. DuckDB cannot recompute
    // WHICH ids PQ shortlists, so the oracle is the invariant row: k rows
    // ranked 1..k, selection ⊆ candidate set, relevance equal to the exact
    // refold cosine, and the selection independently replayed as the greedy
    // MMR chain over that candidate set (Similarity.mmrInvariant).
    "e_mmr_ann" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0)
      // localCheckpoint: the PQ candidate plan (codebook training + ADC +
      // rerank) is consumed by BOTH the rerank and the invariant replay —
      // checkpointing runs it once instead of once per consumer.
      val cands = Similarity.pqKnn(emb, q, k = 40, m = 16, codebookK = 32,
        shortlist = 60).localCheckpoint()
      val sel = Similarity.mmrSelectOver(emb, cands, k = 10, lambda = 0.7)
      // query passed through → rel_exact_ok recomputes every candidate's
      // cosine from the raw vectors (catches a wrong pqKnn rerank cosine,
      // not just sel/cands disagreement — r5 ADVICE)
      Similarity.mmrInvariant(emb, cands, sel, k = 10, lambda = 0.7,
        query = Some(q))
    }),

    // LSH-bucketed ANN (the scale path). Invariant output vs the brute
    // baseline (whose own oracle hash-matches DuckDB): every query returns
    // a full top-k, ranks are cosine-monotone, and total brute-top-3 hits
    // meet a measured floor (RecallProbe: 10/30 at every sf; floor 6).
    "e_knn_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.lshKnn(emb, q, k = 3, nPlanes = 6),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 6)
    }),

    // IVF ANN: K-Means coarse quantizer + nprobe cell search. Same
    // invariant shape as e_knn_lsh (RecallProbe: 14-18/30 hits; floor 9).
    "e_knn_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.ivfKnn(emb, q, k = 3, nCells = 16, nprobe = 3),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 9)
    }),

    // IVF-PQ (round 6; residual encoding round 7): the composed IVFADC
    // search path — coarse cells PRUNE (each query ADC-scores only
    // nprobe/nCells of the corpus, vs e_knn_pq's full-corpus ADC), a
    // shared residual product quantizer compresses the candidate stream
    // (Jégou §IV-A: codes quantize x − c(cell); ADC adds the <q, c(cell)>
    // scalar per probed cell), exact rerank keeps ranks cosine-descending.
    // Recall is now IVF-bounded and at-or-above plain IVF (RecallProbe:
    // 15/18/17 of 30 at sf0.001/.01/.1 with nprobe=4 vs IVF nprobe=3's
    // 13/17/16; the pre-residual raw-code form measured 15/16/14); floor
    // 11 with measured margin.
    "e_knn_ivfpq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.ivfPqKnn(emb, q, k = 3, nCells = 16, nprobe = 4,
          m = 16, codebookK = 32, shortlist = 50),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 11)
    }),

    // The PERSISTENT-index variant: candidate generation off the
    // cell-partitioned parquet index (static partition pruning reads
    // nprobe/nCells of the inverted lists; raw vectors only in the
    // shortlist rerank) — the serving-table shape of IVF-PQ, with the
    // frozen OPQ rotation applied on the query path (round 11; see
    // Fixtures.ivfPqIndexPath). Build is a cached fixture so the timed
    // region is the search. Same invariant floor as e_knn_ivfpq — the
    // rotation is orthogonal, so only quantization error moves.
    "e_knn_ivfpq_index" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.searchIvfPqIndex(Fixtures.ivfPqIndexPath(s, dir),
          emb, q, k = 3, nprobe = 4, shortlist = 50),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 11)
    }),

    // Index health statistics (round 9): the pre-trust check for the
    // persistent index — exact code count (must equal the corpus or the
    // index silently serves a subset) plus occupancy contract flags (cell
    // ids are kmeans-hash-dependent, so occupancy NUMBERS are not SQL-
    // replayable; their invariants are).
    "e_index_stats" -> ((s, dir) => {
      val stats = Similarity.ivfPqIndexStats(s,
        Fixtures.ivfPqIndexPath(s, dir))
      stats.select(col("n_cells"), col("m"), col("k"), col("dim"),
        col("n_vectors"),
        (col("n_cells_used") >= 1 && col("n_cells_used") <= col("n_cells"))
          .as("cells_ok"),
        (col("min_cell") >= 1 && col("max_cell") <= col("n_vectors") &&
          col("min_cell") <= col("max_cell")).as("occupancy_ok"),
        // never-appended index: one epoch, neutral drift, no advisory
        col("n_epochs"),
        (abs(col("max_drift_ratio") - 1.0) < 1e-9).as("drift_neutral"),
        col("retrain_advised"))
    }),

    // ANN index drift health (round 13): the drift fixture appends an
    // IDENTICAL batch (epoch 1 — mean assignment distance must equal the
    // build's, ratio ≈ 1, no advisory) and a +3-per-dim SHIFTED batch
    // (epoch 2 — far from every frozen centroid, ratio must exceed the
    // 1.5 warn threshold and fire the retrain advisory). DuckDB replays
    // the per-epoch counts and both expected verdicts exactly.
    "e_index_drift" -> ((s, dir) => {
      Similarity.ivfPqIndexDrift(s, Fixtures.ivfPqDriftIndexPath(s, dir),
          warnRatio = 1.5)
        .select(col("epoch").cast("long").as("epoch"),
          col("n_vectors"),
          when(col("epoch") === 0, col("drift_ratio") === 1.0)
            .when(col("epoch") === 1, abs(col("drift_ratio") - 1.0) < 1e-6)
            .otherwise(col("drift_ratio") > lit(1.5)).as("ratio_ok"),
          col("retrain_advised"))
        .orderBy("epoch")
    }),

    // The DRIFT LOOP closed end to end (round 15): build → shifted append
    // (pre-rebuild report shows epoch 1 past the 1.5 warn threshold,
    // advisory fired) → rebuildIvfPqIndex on the current corpus → the
    // post-rebuild report is ONE epoch-0 row over ALL vectors at ratio
    // exactly 1.0 (fresh baseline), advisory clear. The fixture snapshots
    // the pre-rebuild report; the query times the two report reads (the
    // e_index_stats convention — a serving deployment reads health, the
    // rebuild is offline).
    "e_index_rebuild" -> ((s, dir) => {
      val root = Fixtures.ivfPqRebuildRoot(s, dir)
      val pre = s.read.parquet(s"$root/pre")
        .select(lit("pre").as("phase"), col("epoch").cast("long").as("epoch"),
          col("n_vectors"),
          when(col("epoch") === 0, col("drift_ratio") === 1.0)
            .otherwise(col("drift_ratio") > lit(1.5)).as("ratio_ok"),
          col("retrain_advised"))
      val post = Similarity.ivfPqIndexDrift(s, s"$root/ivfpq-rebuild",
          warnRatio = 1.5)
        .select(lit("post").as("phase"), col("epoch").cast("long").as("epoch"),
          col("n_vectors"), (col("drift_ratio") === 1.0).as("ratio_ok"),
          col("retrain_advised"))
      pre.unionByName(post).orderBy("phase", "epoch")
    }),

    // Product-quantization ANN (shortlist by ADC over codegen'd PQ codes —
    // 16 codes replace the 64-float vector in the candidate stream — then
    // exact-cosine rerank of the tiny shortlist). Same invariant contract
    // as the other ANN variants; floor measured by RecallProbe with margin
    // (28-30/30 across sf0.001-0.1).
    "e_knn_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.pqKnn(emb, q, k = 3, m = 16, codebookK = 32, shortlist = 50),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 24)
    }),

    // Embedding cosine near-dup pairs, blocked by label.
    "e_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"),
          threshold = 0.35, blockCol = Some("label"))
        .orderBy("id_a", "id_b")),

    // LSH-blocked embedding near-dup — the scale path. Invariant output vs
    // the label-blocked exact variant (e_neardup, itself hash-oracled):
    // same-label LSH pairs must be a SUBSET of the exact list (both sides
    // cosine-filter with the same DotF64 fold, so the boundary is
    // bit-identical) and recall ≥ 0.35 (RecallProbe at nPlanes=4:
    // 0.71/0.58/0.54 across sf 0.001/0.01/0.1).
    "e_neardup_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val lsh = Dedup.embeddingNearDupLsh(emb, threshold = 0.35, nPlanes = 4)
        .select("id_a", "id_b")
      val exact = Dedup.embeddingNearDup(emb, threshold = 0.35,
        blockCol = Some("label")).select("id_a", "id_b").localCheckpoint()
      val labels = emb.select(col("vec_id"), col("label"))
      val sameLabel = lsh
        .join(labels.select(col("vec_id").as("id_a"), col("label").as("_la")), "id_a")
        .join(labels.select(col("vec_id").as("id_b"), col("label").as("_lb")), "id_b")
        .filter(col("_la") === col("_lb")).select("id_a", "id_b")
      val marked = sameLabel.join(exact.withColumn("_e", lit(1)),
        Seq("id_a", "id_b"), "left")
      val lshAgg = marked.agg(
        count(lit(1)).as("_n_lsh"),
        coalesce(sum(when(col("_e").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_violations"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(lshAgg)
        .select(col("n_exact"), col("n_violations"),
          ((col("_n_lsh") - col("n_violations")) * 100 >= col("n_exact") * 35)
            .cast("long").as("recall_ok"))
    }),

    // Semantic dedup clusters: exact embedding near-dup pairs → connected
    // components → every vector labeled with its cluster (min vec_id).
    // The embedding-side twin of d_dedup_clusters; oracle is the same
    // DuckDB recursive-CTE reachability over the exact pair list.
    "e_dedup_clusters" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Dedup.embeddingNearDup(emb, threshold = 0.35,
        blockCol = Some("label")).select("id_a", "id_b")
      Dedup.dedupClusters(emb, pairs, idCol = "vec_id").orderBy("vec_id")
    }),

    // BM25 keyword retrieval (lexical baseline next to the ANN path):
    // mixed-frequency query bag — "dup" is rare (high idf), the rest are
    // common. Scores are exact-integer micro-unit sums (see Retrieval):
    // order-independent, so cross-engine hash-comparable.
    "d_bm25" -> ((s, dir) =>
      Retrieval.bm25(s.read.parquet(s"$dir/documents.parquet"),
        Seq("hash", "join", "vector", "dup"), topK = 20)),

    // Batched BM25: three query bags scored in ONE corpus pass, per-query
    // shortlists via the mergeable TopK aggregate (the ANN discipline —
    // no per-query window sort). Same idf/tf algebra as d_bm25, exact
    // micro-integer scores, full DuckDB replay.
    "d_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "vector"), (2L, "dup"),
        (3L, "hash"), (3L, "vector"), (3L, "dup")).toDF("query_id", "term")
      Retrieval.bm25Batch(s.read.parquet(s"$dir/documents.parquet"),
          queries, topK = 10)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: the BM25 lexical shortlist fused with the vector
    // shortlist by reciprocal-rank fusion (Cormack SIGIR'09) — rank-only
    // fusion, no score calibration; both inputs are bounded shortlists so
    // the fuse is a tiny exact-integer aggregate.
    "d_hybrid" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val lex = Retrieval.asRanking(
        Retrieval.bm25(docs, Seq("hash", "join", "vector", "dup"), topK = 20),
        "score_micro")
      val vec = Similarity
        .bruteForceKnn(emb, emb.filter(col("vec_id") === 0), k = 20)
        .select(col("corpus_id").as("doc_id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq(lex, vec), c = 60, topK = 15)
        .orderBy(col("rrf_nano").desc, col("doc_id"))
    }),

    // Unigram-LM log-probability (perplexity proxy) per doc under the
    // add-one-smoothed corpus model — the cheap quality-ranking score.
    "d_unigram_lp" -> ((s, dir) =>
      Retrieval.unigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")),

    // CCNet-style perplexity gate: drop the worst-scoring 10% tail by
    // integral per-token LM score — the strict-above-quantile cut is
    // engine-replayable (DuckDB recomputes the same membership).
    "d_lm_filter" -> ((s, dir) =>
      Retrieval.perplexityGate(s.read.parquet(s"$dir/documents.parquet"),
          dropFrac = 0.1)
        .orderBy("doc_id")),

    // Per-label embedding centroids in exact micro-units: the class-
    // centroid / mean-pooling primitive (semantic-dedup seeds, IVF warm
    // starts) as an order-independent integer aggregate.
    "e_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(s.read.parquet(s"$dir/embeddings.parquet"))
        .orderBy("label", "dim")),

    // Dimension-covariance matrix of the embedding corpus (the whitening /
    // PCA-energy statistic): ONE mergeable Gram aggregate — a dim²-sized
    // buffer per partition through the shuffle, never the corpus — with
    // exact micro² product sums DuckDB replays via the explode self-join.
    "e_covariance" -> ((s, dir) =>
      Similarity.covarianceMatrix(
          s.read.parquet(s"$dir/embeddings.parquet"), dim = 64)
        .orderBy("i", "j")),

    // PCA whitening invariant contract: whiten the corpus with its own
    // covariance, re-measure the whitened covariance, and assert it is
    // ~identity (off-diagonals vanish, live diagonals ≈ 1) — eigenvectors
    // are not SQL-replayable, so the oracle recomputes n and the CONTRACT
    // is the checked property (the e_semantic_dedup pattern).
    "e_whiten" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val wh = Similarity.whiten(emb, dim = 64)
        .select(col("whitened").as("embedding"))
      Similarity.covarianceMatrix(wh, dim = 64).agg(
          first(col("n")).as("n_vectors"),
          max(when(col("i") =!= col("j"), abs(col("cov")))
            .otherwise(lit(0.0))).as("_off"),
          max(when(col("i") === col("j"), abs(col("cov") - lit(1.0)))
            .otherwise(lit(0.0))).as("_diag"))
        .select(col("n_vectors"),
          (col("_off") < 0.05).as("offdiag_ok"),
          (col("_diag") < 0.05).as("diag_ok"))
    }),

    // OPQ eigenvalue-allocation rotation (round 9): contract row. A pure
    // orthogonal transform must (a) preserve every vector's norm exactly
    // (cosine neighbors invariant — the property that makes it a FREE PQ
    // preprocessor, unlike whitening) and (b) land in the eigenbasis, so
    // rotated covariance off-diagonals vanish. n_vectors is the exact
    // DuckDB-recomputed side; the booleans are the Spark-checked
    // contract. README aniso table has the measured recall win
    // (m=4: 0.245 raw / 0.200 whitened / 0.698 opq-rotated).
    "e_opq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val rot = Similarity.fitOpqRotation(emb, dim = 64, m = 4)
      val r = rot.transform(emb).localCheckpoint()
      val norms = r.select(
          aggregate(col("embedding").cast("array<double>"), lit(0.0),
            (a, e) => a + e * e).as("_raw2"),
          aggregate(col("rotated"), lit(0.0), (a, e) => a + e * e).as("_rot2"))
        .agg(count(lit(1)).as("n_vectors"),
          max(abs(col("_raw2") - col("_rot2"))).as("_nd"))
        .select(col("n_vectors"), (col("_nd") < 1e-6).as("norms_ok"))
      val decor = Similarity.covarianceMatrix(
          r.select(col("rotated").as("embedding")), dim = 64)
        .agg(max(when(col("i") =!= col("j"), abs(col("cov")))
          .otherwise(lit(0.0))).as("_off"))
        .select((col("_off") < 0.05).as("offdiag_ok"))
      norms.crossJoin(decor)
    }),

    // Token-window chunking (size 32, stride 24): the pre-embedding split.
    // chunk_md5 proves exact chunk content without carrying the text.
    "d_chunk" -> ((s, dir) =>
      TextAnalysis.chunks(s.read.parquet(s"$dir/documents.parquet"),
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")),

    // Concat-and-split sequence packing: chunks laid out per md5 shard in
    // (doc_id, chunk_id) order, split at 256-token budget boundaries — the
    // fixed-length training-example packer, emitted as per-pack manifests.
    // Deterministic window replay: DuckDB recomputes the identical packing.
    "d_pack" -> ((s, dir) => {
      val ch = TextAnalysis.chunks(s.read.parquet(s"$dir/documents.parquet"),
        size = 32, stride = 24)
      TextAnalysis.packChunks(ch, budget = 256, nShards = 8)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("pack_tokens"))
        .orderBy("shard", "pack_id")
    }),

    // Corpus statistics with sketch contracts: exact doc/token counts and
    // exact distinct 3-gram shingles next to the sketches a 100 TB pass
    // would actually use — HyperLogLog cardinality (rsd 2%, checked within
    // ±5% of exact) and KLL-style approx quantiles of doc length (rank
    // accuracy 1%, checked inside the exact [q±2%] quantile band).
    "d_corpus_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val nt = docs.select(TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
      val docStats = nt.agg(
        count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        percentile_approx(col("nt"), lit(0.5), lit(100)).as("p50a"),
        percentile_approx(col("nt"), lit(0.9), lit(100)).as("p90a"),
        percentile_approx(col("nt"), lit(0.48), lit(1000000)).as("p50lo"),
        percentile_approx(col("nt"), lit(0.52), lit(1000000)).as("p50hi"),
        percentile_approx(col("nt"), lit(0.88), lit(1000000)).as("p90lo"),
        percentile_approx(col("nt"), lit(0.92), lit(1000000)).as("p90hi"))
      val grams = docs.select(TextAnalysis.tokens(col("text")).as("_t"))
        .filter(size(col("_t")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("_t")) - 2),
          i => concat_ws(" ", slice(col("_t"), i, lit(3))))).as("gram"))
      val gramStats = grams.agg(
        countDistinct(col("gram")).as("distinct_3grams"),
        approx_count_distinct(col("gram"), 0.02).as("hll"))
      docStats.crossJoin(broadcast(gramStats))
        .select(col("n_docs"), col("n_tokens"), col("distinct_3grams"),
          (abs(col("hll") - col("distinct_3grams")) <=
            col("distinct_3grams") * 0.05).as("hll_ok"),
          (col("p50a") >= col("p50lo") && col("p50a") <= col("p50hi")).as("p50_ok"),
          (col("p90a") >= col("p90lo") && col("p90a") <= col("p90hi")).as("p90_ok"))
    }),

    // One-scan per-column ingest profile: rows / nulls / exact distincts /
    // varchar min-max per column, HLL agreement flag riding along. The
    // audit a new corpus drop gets before entering the pipeline.
    "d_profile" -> ((s, dir) =>
      TextAnalysis.profile(
          s.read.parquet(s"$dir/documents.parquet"),
          cols = Seq("doc_id", "lang", "source", "text"))
        .orderBy("col_name")),

    // Snapshot drift: unigram-distribution shift between two corpus halves
    // (doc_id parity stands in for yesterday/today), top-20 drifted tokens
    // by the integer cross-multiplied gap |c_a*N_b - c_b*N_a|.
    "d_drift" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), k = 20)
    }),

    // Stratified hash-sampling: per-language keep fractions (rebalancing an
    // over-represented language mix) — deterministic md5 rule per stratum.
    "d_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedHashSample(
          s.read.parquet(s"$dir/documents.parquet"),
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.125,
            "zh" -> 0.0625))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Weighted deterministic sampling: keep probability proportional to a
    // quality signal (token count / 400, clamped) — the row-wise
    // generalization of the stratified sampler's per-stratum constants.
    "d_weighted_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.weightedHashSample(docs,
          TextAnalysis.tokenCount(col("text")).cast("double") / lit(400.0))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Incremental (batch-vs-corpus) dedup: the daily-ingest shape — batch =
    // every 10th doc, corpus = the rest; keep batch docs whose content is
    // new (anti-join on content hash, min-id survivor within the batch).
    "d_incremental_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.incrementalDedup(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          batch = docs.filter(col("doc_id") % 10 === 0))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Bloom-filter incremental dedup: corpus hashes fold into a driver-
    // merged sketch, broadcast, batch rows drop on a local probe — no
    // corpus join. Invariant row (sketch bits are impl-specific, the
    // CONTRACT is not): one-sided error means kept ⊆ exactly-new (zero
    // violations, kept ≤ n_exact_new) and fpp=1% bounds the loss (≥95%
    // of new docs survive). DuckDB recomputes n_exact_new independently.
    "d_bloom_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val kept = Dedup.bloomDedup(corpus, batch, fpp = 0.01)
        .select("doc_id", "text").localCheckpoint()
      val exactNew = batch.join(corpus.select("text").distinct(),
        Seq("text"), "left_anti")
      val keptAgg = kept.join(corpus.select("text").distinct().withColumn("_c", lit(1)),
          Seq("text"), "left")
        .agg(count(lit(1)).as("_n_kept"),
          coalesce(sum(when(col("_c").isNotNull, 1L).otherwise(0L)), lit(0L))
            .as("n_violations"))
      exactNew.agg(count(lit(1)).as("n_exact_new")).crossJoin(keptAgg)
        .select(col("n_exact_new"), col("n_violations"),
          (col("_n_kept") <= col("n_exact_new")).as("kept_le_exact"),
          (col("_n_kept") * 100 >= col("n_exact_new") * 95).as("recall_ok"))
    }),

    // Streaming ingest dedup: flatMapGroupsWithState keep-first over the
    // document stream (AvailableNow) — one kept id per content key,
    // dropping duplicates across micro-batches (the production pattern in
    // front of a training-data pipeline; StreamDedup.keepFirst). Contract
    // row: n_total/n_keys exact (DuckDB recomputes), exactly one kept row
    // per key, and every kept (key, id) exists in the corpus under that
    // key (violations = 0). Batch ≡ stream for any micro-batch split —
    // the multi-batch identity is pinned in StreamingSpec.
    "d_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val src = Fixtures.memo(s"docsrc:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-docsrc")
          .resolve("src").toString
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"),
            coalesce(col("text"), lit("")).as("text"))
          .write.parquet(p)
        p
      }
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val keyed = stream.select(md5(col("text")).as("key"), col("id"))
        .as[(String, String)]
      val name = "d_stream_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamDedup.keepFirst(keyed)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      val kept = s.table(name)
      val corpus = s.read.parquet(src)
        .select(md5(col("text")).as("key"), col("id"))
      val stats = corpus.agg(count(lit(1)).as("n_total"),
        count_distinct(col("key")).as("n_keys"))
      val keptAgg = kept.agg(count(lit(1)).as("_n_kept"),
        count_distinct(col("key")).as("_n_kept_keys"))
      val bad = kept.join(corpus, Seq("key", "id"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      stats.crossJoin(broadcast(keptAgg)).crossJoin(broadcast(bad))
        .select(col("n_total"), col("n_keys"),
          (col("_n_kept") === col("n_keys")).as("kept_eq_keys"),
          (col("_n_kept_keys") === col("_n_kept")).as("one_per_key"),
          col("violations"))
    }),

    // Temperature-weighted source mixture (mT5/XLM-R-style alpha-
    // resampling): exact per-source counts and the alpha=0.5 sampling
    // weights/budgets a stratified sampler would be fed with.
    "d_source_mix" -> ((s, dir) =>
      TextAnalysis.temperatureMixture(
          s.read.parquet(s"$dir/documents.parquet"), "source", 0.5)
        .orderBy("source")),

    // Token-budget mixture plan: per-source have-vs-need token arithmetic
    // for a declared training recipe (binary-fraction weights so both
    // engines replay floor(budget·w) exactly). 'src_books' is budgeted
    // but absent from the corpus — the plan must SURFACE it (0 docs,
    // NULL epochs), not drop it.
    "d_mix_plan" -> ((s, dir) =>
      TextAnalysis.mixPlan(s.read.parquet(s"$dir/documents.parquet"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
            "src_books" -> 0.125), budget = 1000000L)
        .orderBy("source")),

    // Eval-set decontamination: 3-gram overlap counts of training docs
    // (doc_id >= 20) against a held-out eval set (doc_id < 20) — the GPT-3
    // appendix-C n-gram rule as a broadcast semi-join.
    "d_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.decontaminate(
          train = docs.filter(col("doc_id") >= 20),
          eval = docs.filter(col("doc_id") < 20), k = 3)
        .orderBy("doc_id")
    }),

    // FUZZY decontamination: cross-collection MinHash-LSH near-dup pairs
    // (train = doc_id%10!=0, eval = %10==0), verified by exact 3-gram
    // Jaccard >= 0.2. Invariant contract (the d_minhash_lsh shape): every
    // reported pair is in the exact cross-collection Jaccard list
    // (violations = 0), recall >= 0.7 vs that list, n_exact
    // DuckDB-recomputed.
    "d_fuzzy_decontam" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val ev = docs.filter(col("doc_id") % 10 === 0)
      val fz = Dedup.fuzzyDecontaminate(train, ev, threshold = 0.2,
        numHashes = 64, bands = 32, k = 3)
        .select(col("doc_id").as("tid"), col("eval_id").as("eid"))
      // exact cross-collection pair list, consumed twice (count + join)
      val shT = train.select(col("doc_id").as("tid"),
        explode(TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
      val shE = ev.select(col("doc_id").as("eid"),
        explode(TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
      val szT = train.select(col("doc_id").as("tid"),
        size(TextAnalysis.shingleHashes(col("text"), 3)).cast("long").as("szt"))
      val szE = ev.select(col("doc_id").as("eid"),
        size(TextAnalysis.shingleHashes(col("text"), 3)).cast("long").as("sze"))
      val exact = shT.join(shE, "sh")
        .groupBy("tid", "eid").agg(count(lit(1)).as("shared"))
        .join(szT, "tid").join(szE, "eid")
        .filter(col("shared").cast("double") /
          (col("szt") + col("sze") - col("shared")) >= 0.2)
        .select("tid", "eid").localCheckpoint()
      val marked = fz.join(exact.withColumn("_e", lit(1)),
        Seq("tid", "eid"), "left")
      val fzAgg = marked.agg(
        count(lit(1)).as("_n_fz"),
        coalesce(sum(when(col("_e").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_violations"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(fzAgg)
        .select(col("n_exact"), col("n_violations"),
          ((col("_n_fz") - col("n_violations")) * 10 >= col("n_exact") * 7)
            .cast("long").as("recall_ok"))
    }),

    // Int8 embedding quantization diagnostics: per-vector scale, saturated
    // codes, and exact-integer reconstruction error — all recomputable by
    // DuckDB from the same float arrays (element-wise doubles are
    // bit-identical; cross-element sums are exact integers).
    "e_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(s.read.parquet(s"$dir/embeddings.parquet"))
        .orderBy("vec_id")),

    // Quantized ANN: brute-force top-k over the int8-reconstructed corpus
    // vs the exact float baseline — same invariant shape as e_knn_lsh.
    // Int8 reconstruction barely perturbs cosine ranks (floor measured by
    // RecallProbe across sf).
    "e_knn_q8" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 10)
      annInvariant(
        Similarity.bruteForceKnn(Similarity.dequantized(emb), q, k = 3),
        Similarity.bruteForceKnn(emb, q, k = 3), q, minHits = 24)
    }),

    // Multimodal: frame sampling plumbing (explode by duration metadata).
    "m_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          docFixture(s, dir, "fx_media")(
        Multimodal.mediaFromDocuments),
          fps = 1.0)
        .select("media_id", "kind", "frame_idx", "frame_ts_ms")
        .orderBy("media_id", "frame_idx")),

    // WebDataset shard export (the public convention: <key>.ppm +
    // <key>.json entry pairs in sequential tars, one per shard) —
    // executor-side distributed write, manifest computed by RE-OPENING
    // the written tars with the repo's own ustar walker (the d_export
    // audit convention: count what actually landed on disk). The oracle
    // replays per-shard counts/bytes analytically — the PPM blob length
    // is 11 + w·h·3 with w,h derived from doc_id (single-digit by
    // construction), so a header or padding bug shifts blob_bytes.
    "m_webdataset" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-wds")
        .resolve("shards").toString
      Multimodal.exportWebDataset(
        docFixture(s, dir, "fx_ppmMedia")(
        Multimodal.ppmMediaFromDocuments),
        out, nShards = 16)
        .orderBy("shard")
    }),

    // Multimodal: the hamming bucket guard's LOUD side, driver-gated —
    // a synthetic signature frame plants one degenerate cluster (every
    // fifth doc signs 0, the flat-raster/silence degenerate value) big
    // enough to trip the cap in ALL four bands, while the light docs
    // sign v·(1+2^16+2^32+2^48) for v = doc_id%961+1, putting the SAME
    // nonzero 16-bit value in every band (identical within a residue
    // class, never colliding with the planted cluster or each other).
    // The result unions (a) degenerateHammingBuckets — one row per
    // dropped (band, bits) bucket with its exact item count, and (b)
    // the hammingPairs64 surviving-pair count at the same cap — proving
    // the guard excluded exactly the planted cluster and nothing else.
    // Every number is arithmetic over doc_id, so DuckDB replays the
    // band explode, the >cap filter, and the per-residue pair counts
    // bit-for-bit ("no silent caps", made driver-gated).
    "m_bucket_audit" -> ((s, dir) => {
      def sigs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"),
          when(col("doc_id") % 5 === 0, lit(0L))
            .otherwise((col("doc_id") % 961 + 1).cast("long") *
              lit(281479271743489L)) // 1 + 2^16 + 2^32 + 2^48
            .as("sig"))
      val audit = Multimodal.degenerateHammingBuckets(sigs,
          maxHamming = 3, maxBucketDf = 50)
        .select(lit("dropped_bucket").as("kind"), col("band"),
          col("bits"), col("bucket_df").as("n"))
      val pairs = Multimodal.hammingPairs64(sigs,
          maxHamming = 3, maxBucketDf = 50)
        .agg(count(lit(1)).as("n"))
        .select(lit("surviving_pairs").as("kind"), lit(-1).as("band"),
          lit(-1L).as("bits"), col("n"))
      audit.unionByName(pairs).orderBy("kind", "band", "bits")
    }),

    // Multimodal: REAL JPEG decode (round 16, from the public ITU-T
    // T.81 spec) — synthesize a true DCT-coded Huffman-entropy JPEG per
    // doc (grayscale / 4:2:0 / 4:4:4 by doc_id%3, restart markers on
    // doc_id%4=1, PROGRESSIVE SOF2 wire format on doc_id%5∈{3,4} — DC
    // successive approximation + refinement scan + EOBRUN AC scans,
    // decoding to the same constants as the sequential form — and
    // TRUNCATED streams on doc_id%17=0 for the DROPMALFORMED cohort),
    // decode through the full marker parse + Huffman + dequant + IDCT +
    // fixed-point color-convert path, output per-channel means. Every planted 8x8 block is constant and the
    // quant tables are all 8s, so the decode is EXACT and DuckDB
    // replays the means — including the libjpeg fixed-point YCbCr→RGB
    // integer arithmetic — analytically from doc_id.
    "m_jpeg" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_jpegMedia")(
        Multimodal.jpegMediaFromDocuments)
      Multimodal.decodeJpegImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    }),

    // Multimodal: PERCEPTUAL dedup over REAL JPEG streams (round 16) —
    // the m_image_dedup structure lifted to the DCT-coded format:
    // planted groups of base / exact byte copy / re-encoded one-block-
    // flipped copy (different bytes everywhere via a restart interval;
    // ≤2 drifted dHash bits, pairs via banding) / independent, decoded
    // through the FFD8 dispatch into the unchanged banded dedup stack.
    // Block-aligned constant values make the decode exact, so the 8×8
    // thumb IS the planted pattern matrix and the oracle replays the
    // pair structure exactly (precision AND recall).
    "m_jpeg_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_jpegDedupMedia")(
        Multimodal.jpegDedupMediaFromDocuments)
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
      Multimodal.imageNearDupPairs(dec, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("n_diff_ch"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: structural JPEG metadata WITHOUT decoding (round 16) —
    // a marker-level parse per blob over the same planted streams as
    // m_jpeg: dimensions, component count, luma sampling, progressive
    // flag, the DRI in effect at EOI (the progressive encoder resets it
    // to 0 before its refinement scan), a libjpeg-style quality
    // estimate inverted from the luma DQT, and the EXIF orientation
    // (APP1 TIFF IFD tag 0x0112, planted on ~3/7 of docs; absent reads
    // 0). Every column replays from doc_id arithmetic; the truncated
    // %17 cohort drops because the parse requires EOI.
    "m_jpeg_meta" -> ((s, dir) => {
      Multimodal.jpegMetadata(docFixture(s, dir, "fx_jpegMedia")(
        Multimodal.jpegMediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: REAL PNG decode (round 17, from the public W3C/ISO
    // spec) — synthesize a true DEFLATE-compressed PNG per doc (colour
    // type by doc_id%4: gray / truecolour / palette / RGBA, per-row
    // filter (doc_id+y)%5 so ALL FIVE defilter paths run on the wire,
    // 24-byte IDAT chunking, TRUNCATED on doc_id%17=0 — the CRC walk
    // refuses, DROPMALFORMED drops), decode through chunk walk + CRC +
    // Inflater + defilter + colour projection, output per-channel
    // means. PNG is lossless, so DuckDB replays every mean EXACTLY
    // from doc_id arithmetic — no quant trick, no tolerance.
    "m_png" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_pngMedia")(
        Multimodal.pngMediaFromDocuments)
      Multimodal.decodePngImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    }),

    // Multimodal: PERCEPTUAL dedup over REAL PNG streams (round 17) —
    // the capability the format previously lost: groups of base /
    // exact byte copy / RE-ENCODED copy (same pixels, different
    // per-row filters and IDAT chunking — different bytes end to end,
    // so exact-blob dedup structurally misses it) / independent,
    // decoded through the \x89PNG dispatch into the unchanged banded
    // stack. Lossless decode ⇒ the re-encode pairs at hamming 0 with
    // n_diff_ch 0; the oracle replays the pair structure exactly
    // (precision AND recall).
    "m_png_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_pngDedupMedia")(
        Multimodal.pngDedupMediaFromDocuments)
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
      Multimodal.imageNearDupPairs(dec, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"), col("n_diff_ch"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: REAL VP8L (lossless WebP) decode (round 18, from the
    // public VP8L bitstream spec) — per doc a real entropy-coded
    // stream through a doc_id%6 rotation of encoder option sets, so
    // every decoder path runs on the wire: plain literals / subtract-
    // green / predictor / color transform / bundled palette /
    // LZ77 + color cache + meta groups. Decode through the RIFF walk
    // into prefix-code + transform inversion, output per-channel
    // means. VP8L is lossless, so DuckDB replays every mean EXACTLY
    // from doc_id arithmetic. The truncated %17 cohort refuses.
    "m_webp" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_webpDecodeMedia")(
        Multimodal.webpDecodeMediaFromDocuments)
      Multimodal.decodeWebpImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    }),

    // Multimodal: PERCEPTUAL dedup over REAL VP8L streams (round 18) —
    // the capability the format lost before the from-spec codec:
    // groups of base / exact byte copy / RE-ENCODED copy (same pixels
    // through a different transform stack — subtract-green + predictor
    // + cache — so the bytes differ end to end and exact-blob dedup
    // structurally misses it) / independent. Lossless decode ⇒ the
    // re-encode pairs at hamming 0 with n_diff_ch 0; the oracle
    // replays the pair structure exactly (precision AND recall).
    "m_webp_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_webpDedupMedia")(
        Multimodal.webpDedupMediaFromDocuments)
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
      Multimodal.imageNearDupPairs(dec, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"), col("n_diff_ch"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: EXIF-orientation-NORMALIZED perceptual dedup (round
    // 17) — dHash is not rotation-invariant, so a rotated re-save of
    // the same photo never paired before this. Planted groups: base /
    // stored-rotated-90°CW-with-tag-8 (pairs ONLY via normalization —
    // the thumb is bit-identical after the EXIF transform) / the same
    // rotated raster WITHOUT the tag (the control: must pair with
    // NOTHING, proving the pair comes from the tag, not a hash
    // invariance) / independent-with-a-tag. The oracle replays the
    // planted structure exactly: one (4g, 4g+1) pair per group at
    // hamming 0, n_diff_ch 0.
    "m_orient_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_orientDedupMedia")(
        Multimodal.orientDedupMediaFromDocuments)
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8,
        autoOrient = true)
      Multimodal.imageNearDupPairs(dec, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"), col("n_diff_ch"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: the orientation convention FROZEN INTO an index and
    // derived by the probe (round 17) — the m_orient_dedup contract on
    // the against-index path every streaming/incremental twin shares:
    // the corpus (untagged bases) freezes into an ORIENTED signature
    // index; the probe batch carries the rotated members, and
    // imageNearDupAgainstIndex derives autoOrient from the index
    // metadata with nothing threaded. The tag-8 member matches its
    // base at hamming 0; the untagged rotated control matches NOTHING
    // (recall comes from the tag, not hash invariance).
    "m_orient_index" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_orientDedupMedia")(
        Multimodal.orientDedupMediaFromDocuments)
      // frozen ORIENTED index memoized per JVM; the oriented-convention
      // column metadata rides the parquet footer schema, so the probe
      // still derives autoOrient from the index alone
      val index = mediaMemo(s, s"orientidx:$dir")(
        Multimodal.imageSignatureIndex(
          Multimodal.decodeAnyImages(
            media.filter(col("media_id") % 4 === 0), thumbSide = 8,
            autoOrient = true)))
      Multimodal.imageNearDupAgainstIndex(
          media.filter(col("media_id") % 4 === 1 ||
            col("media_id") % 4 === 2), index)
        .select(col("media_id"), col("match_id"),
          col("hamming").cast("long").as("hamming"),
          col("n_diff_ch").cast("long").as("n_diff_ch"))
        .orderBy("media_id")
    }),

    // Multimodal: structural PNG metadata WITHOUT inflating (round
    // 17) — the decodeless chunk walk over the same planted streams as
    // m_png: geometry, bit depth, colour type, interlace, palette
    // size, alpha presence at header+CRC cost. Every projected column
    // replays from doc_id arithmetic; the truncated %17 cohort drops
    // because the CRC walk requires intact chunks through IEND.
    // (n_chunks / idat_bytes depend on the Deflater's output length —
    // real but not DuckDB-replayable — and stay spec-gated in
    // PngSpec.)
    "m_png_meta" -> ((s, dir) => {
      Multimodal.pngMetadata(docFixture(s, dir, "fx_pngMedia")(
        Multimodal.pngMediaFromDocuments))
        .select(col("media_id"), col("width"), col("height"),
          col("bit_depth"), col("color_type"), col("interlaced"),
          col("palette_size"), col("has_alpha"))
        .orderBy("media_id")
    }),

    // Multimodal: decodeless APNG census (round 18) — the Gif.meta
    // animation convention on the PNG chunk walk: acTL presence, fcTL
    // frame count, summed per-frame delays, all at header+CRC cost
    // (no inflate). The trim member reports one frame fewer; every
    // column replays from the fixture arithmetic.
    "m_apng_meta" -> ((s, dir) => {
      Multimodal.pngMetadata(docFixture(s, dir, "fx_apngDedupMedia")(
        Multimodal.apngDedupMediaFromDocuments))
        .select(col("media_id"), col("width"), col("height"),
          col("animated"), col("n_frames"), col("total_delay_cs"))
        .orderBy("media_id")
    }),

    // Multimodal: REAL GIF decode (round 17, from the public
    // GIF87a/89a spec) — full LZW, interlace, animation compositing,
    // transparency, all planted as doc_id%4 variants; the gate decodes
    // the composited FIRST frame so every variant shares one analytic
    // palette-lookup mean oracle (lossless format, exact replay). The
    // truncated %17 cohort refuses (the walk cannot reach the
    // trailer).
    "m_gif" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_gifMedia")(
        Multimodal.gifMediaFromDocuments)
      Multimodal.decodeAnyImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    }),

    // Multimodal: animated-GIF near-dup pairing through the VIDEO
    // stack (round 17) — the image↔video bridge: composited frame
    // hashes from gifFrameHashSets ride the SAME banded matcher as
    // video clips (one body, spec-pinned). Planted groups: base /
    // exact copy / TRIMMED re-encode (last frame dropped — the
    // clip-trim shape, nf−1 shared frames in order) / independent;
    // every match is temporal, so lis = n_matched throughout.
    "m_gif_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_gifDedupMedia")(
        Multimodal.gifDedupMediaFromDocuments)
      Multimodal.gifNearDupPairs(media, minMatchedFrames = 2)
        .select(col("id_a"), col("id_b"), col("n_matched"), col("lis"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: animated-PNG near-dup pairing through the VIDEO
    // stack (round 18) — the GIF bridge extended to APNG: acTL/fcTL/
    // fdAT walked over the CRC-checked chunk walk, per-frame zlib
    // streams decoded through the shared raster core, composited
    // frames' hashes into the SAME banded matcher (one body — GIF,
    // APNG and video matching cannot drift). Planted groups: base /
    // exact copy / TRIMMED re-encode with different per-row filters
    // (nf−1 shared frames in order) / independent.
    "m_apng_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_apngDedupMedia")(
        Multimodal.apngDedupMediaFromDocuments)
      Multimodal.apngNearDupPairs(media, minMatchedFrames = 2)
        .select(col("id_a"), col("id_b"), col("n_matched"), col("lis"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: animated-WebP near-dup pairing (round 18) — the
    // same bridge on the VP8X/ANMF container with REAL VP8L frames
    // through the from-spec codec; the trim member also re-encodes
    // through a different transform stack, so nothing matches at the
    // byte level.
    "m_awebp_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_awebpDedupMedia")(
        Multimodal.awebpDedupMediaFromDocuments)
      Multimodal.awebpNearDupPairs(media, minMatchedFrames = 2)
        .select(col("id_a"), col("id_b"), col("n_matched"), col("lis"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: CROSS-FORMAT animation matching (round 18) — the
    // transcode shape real crawls carry: a GIF corpus freezes into a
    // frame-hash index (videoFrameIndexFromSets over gifFrameHashSets),
    // and the SAME animations re-encoded as APNG and animated WebP
    // (real VP8L payloads — not one byte survives the transcode) match
    // their corpus twins through the format-agnostic frame space, all
    // nf frames in temporal order (lis = n_matched). The independent
    // corpus member matches nothing.
    "m_anim_xformat" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_xformatAnimMedia")(
        Multimodal.xformatAnimMediaFromDocuments)
      // frozen GIF-corpus frame index, memoized per JVM (the row times
      // transcode-probe-vs-FROZEN-index; the vididx convention)
      val index = mediaMemo(s, s"animidx:$dir")(
        Multimodal.videoFrameIndexFromSets(
          Multimodal.gifFrameHashSets(
            media.filter(col("media_id") % 4 === 0 ||
              col("media_id") % 4 === 3))))
      Multimodal.animationAgainstIndex(
          Multimodal.apngFrameHashSets(
            media.filter(col("media_id") % 4 === 1)), index)
        .unionByName(Multimodal.animationAgainstIndex(
          Multimodal.awebpFrameHashSets(
            media.filter(col("media_id") % 4 === 2)), index))
        .select(col("media_id"), col("match_id"), col("n_matched"),
          col("lis"))
        .orderBy("media_id", "match_id")
    }),

    // Multimodal: decodeless GIF metadata (round 17) — the block walk
    // skips LZW sub-blocks by length prefix: frame census, animation /
    // transparency flags, interlace, total duration at I/O cost. Every
    // column replays from the doc_id%4 variant arithmetic.
    "m_gif_meta" -> ((s, dir) => {
      Multimodal.gifMetadata(docFixture(s, dir, "fx_gifMedia")(
        Multimodal.gifMediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: decodeless WebP metadata (round 17) — the RIFF walk
    // over real VP8 /VP8L/VP8X container headers (pixel decode is out
    // of scope by design; the walker is the crawl filter/group pass).
    // Every column replays from doc_id arithmetic; the truncated %17
    // cohort refuses via the RIFF length census.
    "m_webp_meta" -> ((s, dir) => {
      Multimodal.webpMetadata(docFixture(s, dir, "fx_webpMedia")(
        Multimodal.webpMediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: UNIFIED decodeless metadata across every container
    // (round 17) — one dispatch over a mixed corpus of all nine
    // formats plus an unknown-magic cohort: modality, format, dims,
    // duration, sample rate (−1 sentinels where the modality has no
    // such axis). Every column replays from doc_id arithmetic; each
    // format's truncated %17 cohort drops through its own strict walk;
    // unknown blobs SURVIVE as (unknown, unknown, −1…).
    "m_media_meta" -> ((s, dir) =>
      Multimodal.mediaMetadata(mixedFormatCorpus(s, dir))
        .orderBy("media_id")),

    // Multimodal: the CROSS-MODALITY pre-decode gate (round 17, late)
    // — imageMetaGate's asymmetry closed: ONE header walk classifies
    // every container before any decode. Geometry gates the image
    // cohorts (gif's short-canvas cohort drops tiny; the junk cohort
    // exercises all four image drop kinds), DURATION gates audio/video
    // (sub-5ms wav clips and beyond-5s mp4 movies drop; y4m gates on
    // its small canvas first), unknown magics stay kept. Every
    // disposition replays from doc_id arithmetic.
    "m_media_gate" -> ((s, dir) => {
      // reuse the memoized nine-format corpus parquet (resolved before
      // the memo closure) instead of re-encoding it (r19 review)
      val corpus = mixedFormatCorpus(s, dir)
      val media = mediaMemo(s, s"fx_mediagate:$dir") {
        corpus
          .unionByName(Multimodal.junkImageMediaFromDocuments(
              s.read.parquet(s"$dir/documents.parquet"))
            .select((col("media_id") + lit(90000000L)).as("media_id"),
              col("bytes")))
      }
      Multimodal.mediaMetaGate(media, minSide = 6, maxPixels = 1000000L,
          minDurationMs = 5L, maxDurationMs = 5000L)
        .select(col("media_id"), col("modality"), col("gate"))
        .orderBy("media_id")
    }),

    // Multimodal: the PRE-DECODE metadata gate (round 17) — the
    // composition real crawl pipelines run BEFORE paying pixel cost:
    // per-blob header classification over the m_jpeg fixture plus a
    // planted junk cohort (real tiny JPEG / SOF-patched 4000×3000
    // decode bomb / truncated stream / CgBI-critical PNG). Every
    // disposition replays from doc_id arithmetic.
    "m_meta_gate" -> ((s, dir) => {
      val media = mediaMemo(s, s"fx_metagate:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Multimodal.jpegMediaFromDocuments(docs)
          .unionByName(Multimodal.junkImageMediaFromDocuments(docs)
            .select((col("media_id") + lit(1000000L)).as("media_id"),
              col("bytes")))
      }
      Multimodal.imageMetaGate(media, minSide = 8, maxPixels = 1000000L)
        .select(col("media_id"), col("gate"))
        .orderBy("media_id")
    }),

    // Multimodal: META-GATED dedup, composed end to end (round 17) —
    // header gate → decode ONLY the kept cohort → routed perceptual
    // dedup, with gated-out junk keeping its byte-identical duplicates
    // as exact star pairs (the routing discipline applied to the gate:
    // a decode bomb is never pixel-decoded — accumulator-proven in
    // ContainerMetaSpec — but its crawl mirrors still dedup). The oracle
    // replays the m_jpeg_dedup pair structure for the kept cohort and
    // per-group stars for the junk.
    "m_gated_dedup" -> ((s, dir) => {
      val media = mediaMemo(s, s"fx_gateddedup:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Multimodal.jpegDedupMediaFromDocuments(docs)
          .unionByName(Multimodal.junkImageMediaFromDocuments(docs)
            .select((col("media_id") + lit(1000000L)).as("media_id"),
              col("bytes")))
      }
      Multimodal.gatedImageDedup(media, minSide = 8, maxPixels = 1000000L)
        .orderBy("id_a", "id_b", "kind")
    }),

    // Multimodal: decodeless MP3 metadata (round 17) — the Jpeg.meta
    // pattern on the dominant crawl audio format: a strict frame-header
    // walk (version/layer/bitrate/samplerate indexes against the
    // public MPEG tables, frame lengths chaining exactly to EOF, ID3v2
    // syncsafe skip, ID3v1 trailer) at header cost, no committed
    // decoder. Fixtures cover all three MPEG versions, a VBR cohort,
    // and a truncated cohort (drops — the walk requires exact
    // chaining). Every column replays from doc_id arithmetic and the
    // same public tables inlined in the oracle.
    "m_mp3_meta" -> ((s, dir) => {
      Multimodal.mp3Metadata(docFixture(s, dir, "fx_mp3Media")(
        Multimodal.mp3MediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: decodeless FLAC metadata (round 18) — the lossless
    // audio twin: strict metadata-block walk (the mandatory 34-byte
    // STREAMINFO first, lengths chaining exactly, a frame sync
    // required after the chain), sample rate/channels/bit depth/total
    // samples → duration at header cost. The truncated cohort drops.
    // Every column replays from doc_id arithmetic.
    "m_flac_meta" -> ((s, dir) => {
      Multimodal.flacMetadata(docFixture(s, dir, "fx_flacMedia")(
        Multimodal.flacMediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: decodeless OGG metadata (round 18) — the page-walk
    // twin: RFC 3533 framing with every page CRC VERIFIED, BOS/EOS
    // and sequence discipline, codec id from the BOS packet
    // (vorbis/opus parsed; unknown codecs SURVIVE with −1 sentinels —
    // the routing-parity discipline), terminal granule → duration.
    // The truncated cohort drops (payload cut breaks both the tiling
    // and the CRC).
    "m_ogg_meta" -> ((s, dir) => {
      Multimodal.oggMetadata(docFixture(s, dir, "fx_oggMedia")(
        Multimodal.oggMediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: decodeless MP4/ISO-BMFF metadata (round 17) — the
    // box-walk twin for the dominant video container: brand, movie
    // timescale/duration, track census, per-track sample-entry codec
    // fourccs, mdat presence; sizes chain exactly so the truncated
    // cohort drops. Every column replays from doc_id arithmetic.
    "m_mp4_meta" -> ((s, dir) => {
      Multimodal.mp4Metadata(docFixture(s, dir, "fx_mp4Media")(
        Multimodal.mp4MediaFromDocuments))
        .orderBy("media_id")
    }),

    // Multimodal: REAL image decode — synthesize binary PPM (P6) per doc,
    // parse header+raster in mapPartitions, per-channel means. The r/g
    // channels are deterministic gradients, so DuckDB can recompute them
    // analytically from doc_id — a true oracle over a real binary decode.
    "m_decode" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_ppmMedia")(
        Multimodal.ppmMediaFromDocuments)
      Multimodal.decodeImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"))
        .orderBy("media_id")
    }),

    // Multimodal: REAL COMPRESSED-format decode — synthesize QOI per doc
    // (run-length + color-index + delta chunks), decompress in
    // mapPartitions, per-channel means. The raster alternates gradient and
    // constant rows, so DuckDB recomputes the exact means analytically
    // from doc_id — a true oracle over a real compressed decode.
    "m_features" -> ((s, dir) => {
      val imgs = docFixture(s, dir, "fx_qoiMedia")(
        Multimodal.qoiMediaFromDocuments)
      Multimodal.decodeQoiImages(imgs, thumbSide = 2)
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"))
        .orderBy("media_id")
    }),

    // Multimodal: REAL audio-container decode — synthesize a WAV (RIFF
    // PCM16) sawtooth per doc, walk the chunk list in mapPartitions
    // batches, emit exact-integer stats with an analytic DuckDB oracle.
    "m_audio" -> ((s, dir) => {
      val wavs = docFixture(s, dir, "fx_wavMedia")(
        Multimodal.wavMediaFromDocuments)
      Multimodal.decodeAudio(wavs)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("mean"))
        .orderBy("media_id")
    }),

    // Multimodal: REAL FLAC decode (round 19) — the wavMedia closed
    // form re-encoded through the from-spec FLAC encoder (rice
    // residuals, fixed/LPC predictors, varying block sizes/partition
    // orders per doc), decoded by the full frame walk in
    // mapPartitions batches. Lossless ⇒ the SAME analytic DuckDB
    // oracle as m_audio replays every stat bit-exactly.
    "m_flac" -> ((s, dir) => {
      val flacs = docFixture(s, dir, "fx_flacPcmMedia")(
        Multimodal.flacPcmMediaFromDocuments)
      Multimodal.decodeAudio(flacs)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("peak"), col("mean"))
        .orderBy("media_id")
    }),

    // Multimodal: WAV↔FLAC TRANSCODE dedup (round 19) — the recall
    // hole exact-blob matching structurally misses, in audio: per
    // group a WAV master, a FLAC transcode of the same PCM (zero
    // shared bytes), a FLAC of the master's exact 2x upsample at
    // 32 kHz (pairs only because fingerprints rate-normalize — the
    // "one master, two rates, two codecs" crawl shape), and an
    // independent FLAC control. All within-group pairs among
    // {master, transcode, resampled-transcode} land at fingerprint
    // hamming 0 with 0 differing frame words and identical=false;
    // the control pairs with nothing. Precision AND recall replay
    // exactly.
    "m_flac_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupTranscodeAudio")(
        Multimodal.dedupTranscodeAudioFromDocuments)
      val md5s = media.select(col("media_id"), md5(col("bytes")).as("_m"))
      Multimodal.audioNearDupPairs(media, maxHamming = 3)
        .join(md5s.select(col("media_id").as("_ja"), col("_m").as("_ma")),
          col("id_a") === col("_ja"))
        .join(md5s.select(col("media_id").as("_jb"), col("_m").as("_mb")),
          col("id_b") === col("_jb"))
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("n_diff_words"), (col("_ma") === col("_mb")).as("identical"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: REAL video-container decode — synthesize a .y4m
    // (YUV4MPEG2) stream per doc, parse header + FRAME markers + planar
    // YUV in mapPartitions batches, one row per frame with exact luma
    // stats. Frame extraction from actual bytes, analytic DuckDB oracle.
    "m_video" -> ((s, dir) => {
      val vids = docFixture(s, dir, "fx_y4mMedia")(
        Multimodal.y4mMediaFromDocuments)
      Multimodal.decodeVideoFrames(vids)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), col("fps"), col("mean_y"))
        .orderBy("media_id", "frame_idx")
    }),

    // Multimodal: PERCEPTUAL image dedup — planted exact/near/independent
    // duplicate groups (PPM for even groups, QOI for odd — one run covers
    // both decoders via the magic-byte dispatch), dHash64 native
    // expression over real decoded thumbnails, Hamming-LSH band blocking,
    // exact Hamming verify, exact thumbnail pixel diff. The oracle replays
    // the PLANTED STRUCTURE: within-group pairs among members {base, exact
    // copy, one-pixel flip} with n_diff_ch 0 for base↔copy and 3 (one RGB
    // pixel) for pairs touching the flipped member; independent members
    // and cross-group pairs must NOT appear — so precision AND recall are
    // both exact-checked, not floor-checked.
    "m_image_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupImageMedia")(
        Multimodal.dedupImageMediaFromDocuments)
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
      Multimodal.imageNearDupPairs(dec, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("n_diff_ch"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: PERCEPTUAL audio dedup — planted groups of base /
    // exact copy / 2x-amplitude copy / independent WAVs; Haitsma-Kalker
    // band-energy fingerprints (sign-of-change bits are EXACTLY invariant
    // to power-of-two gain), hamming-LSH banding, exact frame-word
    // verify. The three within-group pairs all land at fingerprint
    // distance 0; the md5 comparison distinguishes "same perception"
    // (the 2x copy) from "same bytes" — the oracle replays both.
    "m_audio_dedup" -> ((s, dir) => {
      // round 19: plus the RESAMPLED cohorts (offset id space) — the
      // same clip planted at 16 kHz and as its exact 2x upsample at
      // 32 kHz pairs at hamming 0 under rate normalization; an
      // independent same-rate control pairs with nothing
      val media = mediaMemo(s, s"auddedup2:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Multimodal.dedupAudioMediaFromDocuments(docs)
          .unionByName(Multimodal.resampledAudioCohortsFromDocuments(docs))
      }
      val md5s = media.select(col("media_id"), md5(col("bytes")).as("_m"))
      Multimodal.audioNearDupPairs(media, maxHamming = 3)
        .join(md5s.select(col("media_id").as("_ja"), col("_m").as("_ma")),
          col("id_a") === col("_ja"))
        .join(md5s.select(col("media_id").as("_jb"), col("_m").as("_mb")),
          col("id_b") === col("_jb"))
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("n_diff_words"), (col("_ma") === col("_mb")).as("identical"))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: PERCEPTUAL video dedup — planted groups of base /
    // exact copy / last-frame-replaced copy / independent Y4M videos
    // PLUS the round-16 perturbation cohorts: a bit-perturbed member
    // (every frame's dHash moved a guaranteed 1-2 bits — pairs under
    // the banded Hamming frame matching ONLY, never under exact
    // equality), a beyond-radius member (5-10 bits — pairs with
    // nothing), and a REVERSED member (same frame-hash set as the base,
    // so n_matched ties the exact copy's, but the LIS
    // temporal-consistency score collapses to 1 — the shuffled-frame
    // collage the score exists to expose). Per-frame luma dHash, banded
    // frame matching with stop-frame removal + bucket guard,
    // matched-frame + LIS rollup; the oracle replays every pair's
    // n_matched AND lis exactly.
    // Round 17: the row emits BOTH keep policies from one decode
    // (shared frame-hash sets): 'all' is the set-similarity
    // pass-through, 'temporal' applies minLisFrac = 0.8 — the
    // reversed-frame collage cohort (lis = 1 at n_matched ≥ 3) is
    // kept OUT of the temporal policy's pair list while every true
    // near-dup pair (lis = n_matched) survives, so the knob's
    // precision AND recall are both oracle-replayed.
    "m_video_dedup" -> ((s, dir) => {
      val media = mediaMemo(s, s"viddedup2:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Multimodal.dedupVideoMediaFromDocuments(docs)
          .unionByName(Multimodal.perturbedVideoCohortsFromDocuments(docs))
      }
      val sets = Multimodal.videoFrameHashSets(media).localCheckpoint()
      def leg(frac: Double, name: String) =
        Multimodal.videoNearDupPairsFromSets(sets, 2, 1000,
            minLisFrac = frac)
          .select(col("id_a"), col("id_b"), col("n_matched"), col("lis"),
            lit(name).as("policy"))
      leg(0.0, "all").unionByName(leg(0.8, "temporal"))
        .orderBy("id_a", "id_b", "policy")
    }),

    // Multimodal: EXACT blob dedup across WebDataset shards — export the
    // planted-duplicate media to tar shards, read them back with the ustar
    // walker, content-hash groupBy. The base↔exact-copy members encode to
    // byte-identical blobs; the oracle replays which groups carry both.
    "m_blob_dedup" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-wds-dedup")
        .resolve("shards").toString
      val media = docFixture(s, dir, "fx_dedupImageMedia")(
        Multimodal.dedupImageMediaFromDocuments)
      Multimodal.exportWebDataset(media, out, nShards = 8, ext = "img")
        .count() // force the export before the read-back
      val back = Multimodal.readWebDataset(s, out)
        .filter(col("ext") === "img")
      Multimodal.blobDupGroups(back)
        .filter(col("n_copies") >= 2)
        .select(col("kept_key"), col("n_copies"), col("key_sum"))
        .orderBy("kept_key")
    }),

    // STREAMING perceptual image dedup — the ingest-time "have I seen
    // this picture" twin: members m in {0,3} of each planted group are
    // the FROZEN corpus index (fit-once/apply-frozen, degenerate-bucket
    // guard frozen with it); members m in {1,2} arrive as the stream.
    // Stateless decode/hash/band projections, stream-static bucket join,
    // exact verify; state = matched pairs only. The oracle replays the
    // planted structure: each copy and flipped member matches its group
    // base, nothing matches the independent member.
    "m_stream_image_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupImageMedia")(
        Multimodal.dedupImageMediaFromDocuments)
      val src = Fixtures.memo(s"imgstream:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-imgsrc")
          .resolve("src").toString
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2)
          .select("media_id", "bytes").write.parquet(p)
        p
      }
      // freeze the index: the static join side re-executes per
      // micro-batch — memoized to parquet per JVM (the row times
      // stream-vs-FROZEN-index; shared with m_incr_dedup's split)
      val index = mediaMemo(s, s"imgidx:$dir")(
        Multimodal.imageSignatureIndex(
          Multimodal.decodeAnyImages(
            media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3),
            thumbSide = 8)))
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val name = "m_stream_image_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamSessions.streamingImageNearDup(stream, index)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.table(name)
        .select(col("media_id"), col("match_id"), col("n_diff_ch"))
        .orderBy("media_id")
    }),

    // Degenerate-aware dedup ROUTING — the composition the bucket
    // guard prescribes, gated: a corpus of planted perceptual groups
    // PLUS a cohort of byte-identical flat rasters (the tracking-pixel
    // regime). Flats route to exact blob dedup (linear star pairs to
    // the min-key survivor), non-flats to banded perceptual pairing;
    // the oracle replays both halves exactly.
    "m_routed_dedup" -> ((s, dir) => {
      val media = mediaMemo(s, s"fx_routedimg:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val planted = Multimodal.dedupImageMediaFromDocuments(docs)
          .select("media_id", "bytes")
        val flats = docs.select((col("doc_id") + lit(1000000L)).as("media_id"),
          lit(Multimodal.Ppm.encode(8, 8, new Array[Byte](8 * 8 * 3))).as("bytes"))
        planted.unionByName(flats)
      }
      Multimodal.routedImageDedup(media)
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL perceptual dedup — the batch-vs-corpus contract of
    // d_incremental_dedup applied to media: members m in {0,3} are the
    // frozen corpus index, m in {1,2} arrive as the new batch; pairs
    // WITHIN the batch plus batch-vs-corpus matches, never a corpus
    // self-join. The oracle replays both sides exactly.
    "m_incr_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupImageMedia")(
        Multimodal.dedupImageMediaFromDocuments)
      // frozen index memoized per JVM (same bytes as
      // m_stream_image_dedup's: the m ∈ {0,3} split of the same fixture)
      val index = mediaMemo(s, s"imgidx:$dir")(
        Multimodal.imageSignatureIndex(
          Multimodal.decodeAnyImages(
            media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3),
            thumbSide = 8)))
      val batch = media.filter(col("media_id") % 4 === 1 ||
        col("media_id") % 4 === 2).select("media_id", "bytes")
      Multimodal.incrementalImageNearDup(batch, index)
        .orderBy("id_a", "id_b", "side")
    }),

    // Degenerate-aware AUDIO routing — the silent-clip regime: silence
    // fingerprints collide exactly like flat rasters hash to 0, so
    // silent clips (byte-identical planted cohort) route to exact blob
    // star pairs and audible clips to fingerprint banding.
    "m_routed_audio" -> ((s, dir) => {
      val media = mediaMemo(s, s"fx_routedaud:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val planted = Multimodal.dedupAudioMediaFromDocuments(docs)
        val silents = docs.select(
          (col("doc_id") + lit(1000000L)).as("media_id"),
          lit(Multimodal.Wav.encode(16000, new Array[Short](1024))).as("bytes"))
        planted.unionByName(silents)
      }
      Multimodal.routedAudioDedup(media)
        .orderBy("id_a", "id_b")
    }),

    // Degenerate-aware VIDEO routing — closes the modality asymmetry: a
    // byte-identical all-black cohort (ONE frame hash in every copy, df
    // far past maxFrameDf) loses every frame to stop-frame removal and
    // previously exited dedup entirely; now it routes to exact blob star
    // pairs while the planted perceptual groups pair via frame matching.
    "m_routed_video" -> ((s, dir) => {
      val media = mediaMemo(s, s"fx_routedvid:$dir") {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val planted = Multimodal.dedupVideoMediaFromDocuments(docs)
          // round 16: the bit-perturbed cohort (pairs via banding only)
          // and the beyond-radius cohort (pairs with nothing) ride the
          // routing too — banded recall and its radius bound are gated on
          // the routed path as well as the flat self-join path
          .unionByName(Multimodal.perturbedVideoCohortsFromDocuments(docs,
            Seq("within", "beyond")))
        val blackFrame = {
          val f = new Array[Byte]((8 * 8 * 3) / 2)
          java.util.Arrays.fill(f, 8 * 8, f.length, 128.toByte)
          f
        }
        val blacks = docs.select(
          (col("doc_id") + lit(1000000L)).as("media_id"),
          lit(Multimodal.Y4m.encode(8, 8, 25, Seq(blackFrame))).as("bytes"))
        planted.unionByName(blacks)
      }
      Multimodal.routedVideoDedup(media, maxFrameDf = 20)
        .orderBy("id_a", "id_b")
    }),

    // Unified MIXED-MODALITY routing — one media column carrying planted
    // image, audio, AND video groups plus a byte-identical unknown-magic
    // cohort, a corrupt-P6 cohort (valid magic, undecodable payload),
    // and (round 17) a PNG group whose m=2 member is a lossless
    // re-encode — different bytes, identical pixels, the recall case
    // exact-blob matching structurally misses: the magic-byte dispatch
    // sends each cohort through its modality's routed dedup (each blob
    // decoded at most once, in exactly one branch); unknown AND
    // undecodable blobs keep their exact duplicates via blob star
    // pairs. The oracle replays every modality's group structure
    // including the per-group corrupt stars.
    "m_routed_media" -> ((s, dir) => {
      Multimodal.routedMediaDedup(mixedMediaFixture(s, dir))
        .orderBy("id_a", "id_b")
    }),

    // Multimodal: the CROSS-MODALITY GATE COMPOSED END TO END (round
    // 18) — mediaMetaGate → decode ONLY the kept cohort per modality →
    // routed dedup, with gated-out blobs keeping their byte-identical
    // duplicates as exact stars IN THEIR MAGIC-DERIVED MODALITY. The
    // corpus is the full mixed dedup fixture (whose kept cohorts pass
    // the gate and pair exactly as m_routed_media) plus three planted
    // junk cohorts the gate must refuse at header cost: the four-kind
    // image junk (tiny/bomb/truncated/CgBI), sub-5ms WAV click junk,
    // and 6-second MP4 cost bombs. Decode attempts stay ≡ kept
    // (listener-proven in ContainerMetaSpec, measured on the Scale4x
    // --metagate ladder).
    "m_gated_media" -> ((s, dir) => {
      val media = gatedMediaFixture(s, dir)
      Multimodal.gatedMediaDedup(media, minSide = 8,
          maxPixels = 1000000L, minDurationMs = 5L, maxDurationMs = 5000L)
        .orderBy("id_a", "id_b", "kind")
    }),

    // STREAMING perceptual audio dedup — the audio twin of
    // m_stream_image_dedup: corpus members m in {0,3} freeze into the
    // signature index, m in {1,2} arrive as the stream. The exact copy
    // AND the 2x-amplitude copy both fingerprint identically to their
    // group base (power-of-two gain cannot move a sign-of-change bit),
    // so every stream member matches at hamming 0 with 0 differing
    // frame words.
    "m_stream_audio_dedup" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupAudioMedia")(
        Multimodal.dedupAudioMediaFromDocuments)
      val src = Fixtures.memo(s"audstream:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-audsrc")
          .resolve("src").toString
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2)
          .select("media_id", "bytes").write.parquet(p)
        p
      }
      val index = mediaMemo(s, s"audidx:$dir")(
        Multimodal.audioSignatureIndex(
          media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3)))
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val name = "m_stream_audio_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamSessions.streamingAudioNearDup(stream, index)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.table(name)
        .select(col("media_id"), col("match_id"), col("hamming"),
          col("n_diff_words"))
        .orderBy("media_id", "match_id")
    }),

    // STREAMING perceptual video dedup — the video twin: the BANDED
    // frame index freezes over m in {0,3}; m in {1,2} AND the round-16
    // bit-perturbed cohort (1-2 drifted dHash bits per frame — matches
    // its group base through the banding ONLY, never by exact frame
    // equality) stream in; the matched-frame rollup is an aggregation,
    // so the sink runs in UPDATE mode (each video's frames arrive
    // inside its one blob, so every pair's rollup completes in the
    // micro-batch that carries the video). The exact copy shares all nf
    // frames with its base, the last-frame-replaced member nf−1, the
    // perturbed member nf; every planted match is in temporal order, so
    // lis = n_matched throughout.
    "m_stream_video_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val media = mediaMemo(s, s"viddedup:$dir")(
        Multimodal.dedupVideoMediaFromDocuments(docs))
      val src = Fixtures.memo(s"vidstream16:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-vidsrc")
          .resolve("src").toString
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2)
          .select("media_id", "bytes")
          .unionByName(Multimodal.perturbedVideoCohortsFromDocuments(docs,
            Seq("within")))
          .write.parquet(p)
        p
      }
      val index = mediaMemo(s, s"vididx:$dir")(
        Multimodal.videoFrameIndex(
          media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3)))
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val name = "m_stream_video_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamSessions.streamingVideoNearDup(stream, index)
        .writeStream.outputMode("update").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.table(name)
        .select(col("media_id"), col("match_id"), col("n_matched"),
          col("lis"))
        .orderBy("media_id", "match_id")
    }),

    // INCREMENTAL perceptual AUDIO dedup — m_incr_dedup's audio sibling
    // (ingest pipelines batch more often than they stream): within-batch
    // pairs plus batch-vs-frozen-corpus matches, never a corpus
    // self-join. Every planted pair fingerprints at hamming 0.
    "m_incr_audio" -> ((s, dir) => {
      val media = docFixture(s, dir, "fx_dedupAudioMedia")(
        Multimodal.dedupAudioMediaFromDocuments)
      val index = mediaMemo(s, s"audidx:$dir")(
        Multimodal.audioSignatureIndex(
          media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3)))
      val batch = media.filter(col("media_id") % 4 === 1 ||
        col("media_id") % 4 === 2).select("media_id", "bytes")
      Multimodal.incrementalAudioNearDup(batch, index)
        .orderBy("id_a", "id_b", "side")
    }),

    // INCREMENTAL perceptual VIDEO dedup — the video sibling: the new
    // batch's copy/replaced members pair with each other (nf−1 shared
    // frames) and match their frozen-corpus base (nf and nf−1); the
    // round-16 bit-perturbed batch member pairs with BOTH batch members
    // and its corpus base through the banding only. Every planted match
    // is in temporal order, so lis = n_matched throughout.
    "m_incr_video" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val media = mediaMemo(s, s"viddedup:$dir")(
        Multimodal.dedupVideoMediaFromDocuments(docs))
      val index = mediaMemo(s, s"vididx:$dir")(
        Multimodal.videoFrameIndex(
          media.filter(col("media_id") % 4 === 0 || col("media_id") % 4 === 3)))
      val batch = media.filter(col("media_id") % 4 === 1 ||
        col("media_id") % 4 === 2).select("media_id", "bytes")
        .unionByName(mediaMemo(s, s"fx_perturbwithin:$dir")(
          Multimodal.perturbedVideoCohortsFromDocuments(docs,
            Seq("within"))))
      Multimodal.incrementalVideoNearDup(batch, index)
        .orderBy("id_a", "id_b", "side")
    }),

    // Incremental MIXED-MODALITY dedup — the batch-vs-frozen-corpus
    // contract over ONE media column carrying all three modalities plus
    // unknown containers: within-batch the full degenerate-aware routing
    // (each modality's m∈{1,2} pair + the unknown cohort's star pairs),
    // against the corpus each batch blob matches its frozen group base
    // perceptually AND — for the byte-identical m=1 copies and every
    // unknown — exactly via the frozen blobMd5Index. The oracle replays
    // every modality's structure on both sides.
    "m_incr_media" -> ((s, dir) => {
      val media = mixedMediaFixture(s, dir) // parquet-backed (mediaMemo)
      val (imgIdx, audIdx, vidIdx, blobIdx) = mixedMediaIndexes(s, dir)
      val batch = media.filter(col("media_id") % 4 === 1 ||
        col("media_id") % 4 === 2)
      Multimodal.incrementalMediaDedup(batch, imgIdx, audIdx, vidIdx,
          blobIdx)
        .orderBy("id_a", "id_b", "side", "kind")
    }),

    // STREAMING mixed-modality dedup — the media stream of a real crawl
    // (images, audio, video, unknown containers interleaved) matched per
    // micro-batch against the frozen per-modality indexes + the frozen
    // exact-blob index via foreachBatch (every match is
    // stream-vs-frozen-static, so per-batch application of the ONE batch
    // body is exact — the streamingIndexSearchPruned convention). Each
    // m∈{1,2} member matches its group base perceptually; the m=1 copies
    // and every unknown blob also match exactly by content hash.
    "m_stream_media" -> ((s, dir) => {
      val media = mixedMediaFixture(s, dir) // parquet-backed (mediaMemo)
      val (imgIdx, audIdx, vidIdx, blobIdx) = mixedMediaIndexes(s, dir)
      val src = Fixtures.memo(s"medstream:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-medsrc")
          .resolve("src").toString
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2)
          .write.parquet(p)
        p
      }
      val out = java.nio.file.Files.createTempDirectory("graft-medout")
        .resolve("out").toString
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val q = graft.streaming.StreamSessions.streamingMediaNearDup(
          stream, imgIdx, audIdx, vidIdx, blobIdx) { (b, _) =>
          b.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.read.parquet(out).orderBy("media_id", "match_id", "kind")
    }),

    // STREAMING twin of the CROSS-MODALITY GATE (round 18) — the last
    // media stage without one: the m_gated_media corpus (mixed dedup
    // fixtures + three junk cohorts), its m ∈ {0,3} slice GATED before
    // the per-modality indexes freeze (the decode-bomb corpus blob
    // never costs the index build a decode; byte identity still
    // freezes via the decodeless blob index), the m ∈ {1,2} slice
    // streamed per micro-batch through gatedMediaAgainstIndexes: kept
    // blobs run the full against-index body, gated-out junk only the
    // exact-blob leg. Stream ≡ one-shot batch (spec-proven); decode
    // attempts ≡ kept per modality (listener-proven).
    "m_stream_gated" -> ((s, dir) => {
      val media = gatedMediaFixture(s, dir)
      // frozen GATED indexes, memoized per JVM (mixedMediaIndexes
      // rationale: the row times stream-vs-frozen-index; the gate +
      // index freeze is setup)
      val idxRoot = Fixtures.memo(s"gatedidx:$dir") {
        val r = java.nio.file.Files.createTempDirectory("graft-fix").toString
        val corpus = media.filter(col("media_id") % 4 === 0 ||
          col("media_id") % 4 === 3)
        val keptC = Multimodal.mediaMetaGate(corpus, minSide = 8,
            maxPixels = 1000000L, minDurationMs = 5L, maxDurationMs = 5000L)
          .filter(col("gate") === "kept").localCheckpoint()
        def cohort(m: String) = keptC.filter(col("modality") === m)
          .select("media_id", "bytes")
        Multimodal.imageSignatureIndex(
            Multimodal.decodeAnyImages(cohort("image"), thumbSide = 8))
          .write.parquet(s"$r/img")
        Multimodal.audioSignatureIndex(cohort("audio")).write.parquet(s"$r/aud")
        Multimodal.videoFrameIndex(cohort("video")).write.parquet(s"$r/vid")
        Multimodal.blobMd5Index(corpus).write.parquet(s"$r/blob")
        r
      }
      val imgIdx = s.read.parquet(s"$idxRoot/img")
      val audIdx = s.read.parquet(s"$idxRoot/aud")
      val vidIdx = s.read.parquet(s"$idxRoot/vid")
      val blobIdx = s.read.parquet(s"$idxRoot/blob")
      val src = Fixtures.memo(s"gatedstream:$dir") {
        val p = java.nio.file.Files.createTempDirectory("graft-gatedsrc")
          .resolve("src").toString
        media.filter(col("media_id") % 4 === 1 || col("media_id") % 4 === 2)
          .write.parquet(p)
        p
      }
      val out = java.nio.file.Files.createTempDirectory("graft-gatedout")
        .resolve("out").toString
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
      val q = graft.streaming.StreamSessions.streamingGatedMediaNearDup(
          stream, imgIdx, audIdx, vidIdx, blobIdx, minSide = 8,
          maxPixels = 1000000L, minDurationMs = 5L,
          maxDurationMs = 5000L) { (b, _) =>
          b.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      graft.streaming.StreamSessions.awaitDrained(q, 180000)
      s.read.parquet(out).orderBy("media_id", "match_id", "kind")
    }),

    // The COMPLETE media dedup pipeline as one composed run — the media
    // twin of d_pipeline: mixed-format decode → perceptual near-dup
    // pairs (banded dHash + exact verify) → connected-components
    // clustering → QUALITY-AWARE keepBest (score = edge_energy, what a
    // real training-data pipeline keeps: the cluster's contrast-degraded
    // member holds the MIN id and its two sharp siblings tie, so the
    // survivor — the sharp original, ties broken toward the smaller id —
    // is distinguishable from both the min-id convention and a max-id
    // policy) → WebDataset export of the survivors → tar read-back with
    // a byte-integrity audit. The oracle replays the planted structure
    // end to end: each group's survivor set is {the sharp original, the
    // independent member}, every exported blob reads back byte-identical.
    "m_dedup_pipeline" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-media-pipe")
        .resolve("shards").toString
      // media is consumed by decode, keepBest, export, and the audit —
      // generate the fixture once
      val media = docFixture(s, dir, "fx_qualityImageMedia")(
        Multimodal.qualityImageMediaFromDocuments)
        .select("media_id", "bytes")
      // the decode feeds the pair generation AND the quality scoring —
      // decode once
      val dec = Multimodal.decodeAnyImages(media, thumbSide = 8)
        .localCheckpoint()
      // tight radius BEFORE clustering: the Scale4x --mediapipe ladder
      // measured raw hamming-3 band collisions merging 9 groups at 320k
      // items (every false candidate at hamming exactly 3; this
      // fixture's true pairs all sit at 0). Banding AT radius 2 returns
      // exactly the hamming-≤2 pairs by pigeonhole — one fewer band row
      // per signature and no hamming-3 tail to verify-and-discard,
      // versus the first cut's band-at-3-then-filter
      val pairs = Multimodal.imageNearDupPairs(dec, maxHamming = 2)
      val quality = Multimodal.withImageQualitySignals(dec)
        .select(col("media_id").as("doc_id"), col("edge_energy"))
      val asDocs = media.withColumnRenamed("media_id", "doc_id")
      val clusters = Dedup.dedupClusters(asDocs, pairs).localCheckpoint()
      val sizes = clusters.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
      // kept feeds the export AND the final audit select — one keepBest
      val kept = Dedup.keepBest(asDocs.join(quality, "doc_id"), clusters,
          col("edge_energy"))
        .localCheckpoint()
      // Round 20 (guide §2.6, VERDICT r19 item 6): the audit's LEFT side
      // (survivor md5 + cluster labels + sizes) depends only on `kept`,
      // not on the export — materialize it WHILE the tar shards write,
      // so the final join waits only for the read-back. Same joins, same
      // rows; the inner join against `back` is unchanged.
      val auditLeft = graft.ops.Par.inParallel[DataFrame](Seq(
        () => kept.select(col("doc_id"), md5(col("bytes")).as("_mo"))
          .join(clusters, "doc_id")
          .join(sizes, "cluster_id")
          .localCheckpoint(),
        () => {
          Multimodal.exportWebDataset(kept, out, nShards = 4, ext = "img",
            keyCol = "doc_id").count() // force the export before the read-back
          kept
        })).head
      val back = Multimodal.readWebDataset(s, out)
        .filter(col("ext") === "img")
        .select(col("key").as("doc_id"), md5(col("bytes")).as("_mb"))
      auditLeft
        .join(back, "doc_id") // inner: a survivor lost by the export loses its row
        .select(col("doc_id").as("survivor_id"), col("cluster_id"),
          col("n_members"), (col("_mo") === col("_mb")).as("blob_ok"))
        .orderBy("survivor_id")
    }),

    // ---- analytics (TPC-H-style) over the star schema ----

    // Q1-style pricing summary: exact decimal sums surfaced as doubles.
    "q1_pricing" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val base = col("l_extendedprice").cast(DecimalType(12, 2))
      val oneMinusDisc = lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))
      val onePlusTax = lit(1).cast(DecimalType(4, 2)) + col("l_tax").cast(DecimalType(4, 2))
      val discPrice = (base * oneMinusDisc).cast(DecimalType(18, 4))
      val charge = (discPrice * onePlusTax).cast(DecimalType(24, 6))
      li.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"),
          sum(base).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(base).cast("double") / count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast(DecimalType(4, 2))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q3-style shipping priority: 3-way join, top-10 revenue orders.
    // TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    // per customer over one order-date year, top 20. Exact decimal sums
    // (order-independent) ranked after the double cast, q3's discipline;
    // nation is the only broadcast side — the per-customer aggregate
    // joins customer on its own grouping key.
    "q10_returns" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") === "R")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(discPrice).cast("double").as("revenue"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_acctbal").cast("double").as("acctbal"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 shape (promotion effect): promo revenue share over one
    // ship-date month — conditional exact-decimal sums, ONE fixed-shape
    // double division at the end.
    "q14_promo" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      val part = s.read.parquet(s"$dir/part.parquet")
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", discPrice)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double")
            .as("promo_revenue"),
          sum(discPrice).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (lit(100.0) * col("promo_revenue") / col("total_revenue"))
            .as("promo_pct"))
    }),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity exceeds the threshold, with customer names, by order value.
    // The quantity HAVING runs on the per-order aggregate BEFORE any join
    // — the classic semi-reduction.
    "q18_large" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("_sumq"))
        .filter(col("_sumq") > 250)
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ltz").cast("long").as("o_orderdate_s"),
          col("o_totalprice").cast("double").as("totalprice"),
          col("_sumq").cast("double").as("sum_qty"))
        .orderBy(col("totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    "q3_revenue" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust.filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(discPrice).cast("double").as("revenue"))
        .select(col("l_orderkey"),
          col("o_orderdate").cast("timestamp_ltz").cast("long").as("o_orderdate_s"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q5-style local-supplier volume: 6-way join through region, broadcast
    // dims, grouped by nation.
    "q5_nation_volume" -> ((s, dir) => {
      val region = s.read.parquet(s"$dir/region.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Q4-style: semi-join with a cross-side condition (orders having any
    // lineitem shipped after the order date), counted per priority.
    "q4_semi" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      ord.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Anti-join: customers with no orders, per market segment.
    "q_anti_customers" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Rollup (grouping sets): counts at (flag, status), (flag), and total
    // levels, disambiguated by grouping id.
    "q_rollup" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.rollup("l_returnflag", "l_linestatus")
        .agg((grouping(col("l_returnflag")) +
            grouping(col("l_linestatus")) * 2).cast("long").as("gid"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("")).as("f"),
          coalesce(col("l_linestatus"), lit("")).as("s"),
          col("gid"), col("n"))
        .orderBy("gid", "f", "s")
    }),

    // Q7-style: bilateral shipping volume between two nations by year
    // (double nation join with disjunctive pair filter).
    "q7_volume" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val n1 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(discPrice).cast("double").as("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Window top-k: 3 highest-value orders per priority class.
    "q_topk_orders" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    }),

    // Q6-style forecast revenue: pure filter+aggregate — the pushdown
    // showcase (every predicate reaches the Parquet scan).
    "q6_forecast" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) *
            col("l_discount").cast(DecimalType(4, 2))).cast(DecimalType(18, 4)))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q2 shape (minimum-cost supplier, round 9): the testdata has
    // no partsupp table, so lineitem is the part↔supplier bridge — the
    // SHAPE survives intact: per-part supplier cost table, correlated-min
    // semi-join (cost = per-part minimum), then three broadcast dims with
    // a region filter. Cost is an exact DECIMAL min, so the min-equality
    // join is engine-exact (2dp source data; no double compare).
    "q2_min_cost" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
        .filter(col("r_name") === "EUROPE")
      val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(DecimalType(12, 2))).as("cost"))
      val euSupp = supp
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      val euCost = ps.join(euSupp, col("l_suppkey") === col("s_suppkey"))
      val minc = euCost.groupBy(col("l_partkey").as("_mk"))
        .agg(min(col("cost")).as("min_cost"))
      euCost.join(minc, col("l_partkey") === col("_mk") &&
          col("cost") === col("min_cost"))
        .select(col("l_partkey").as("p_partkey"), col("s_name"),
          col("n_name"), col("s_acctbal").cast("double").as("acctbal"),
          col("cost").cast("double").as("cost"))
        .orderBy(col("acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q15 shape (top supplier, round 9): quarterly revenue per
    // supplier, then the supplier(s) achieving the MAX — the scalar-
    // subquery-on-an-aggregate-view shape. Revenue stays an exact
    // DECIMAL(18,4) sum through the max-equality compare (order-
    // independent, engine-exact); doubles appear only in the output.
    "q15_top_supplier" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-04-01").cast("timestamp"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val discPrice = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      val rev = li.groupBy(col("l_suppkey"))
        .agg(sum(discPrice).as("total_rev"))
      val best = rev.agg(max(col("total_rev")).as("_max"))
      rev.join(broadcast(best), col("total_rev") === col("_max"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q22 shape (global sales opportunity, round 9): customers with
    // above-average positive balance and NO recent orders → per-nation
    // count + total. The avg threshold is the classic cross-engine
    // hazard (a double `avg` differs in the last ulp between engines and
    // flips boundary customers), so the compare is CROSS-MULTIPLIED in
    // exact integer cents: keep bal_cents · n_pos > sum_pos_cents — no
    // division, no doubles, engine-exact. Anti-join on 2001+ orders.
    "q22_opportunity" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .withColumn("bal_cents",
          round(col("c_acctbal") * 100).cast("long"))
      val pos = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("_sum"), count(lit(1)).as("_n"))
      val recent = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(pos))
        .filter(col("bal_cents") > 0 &&
          col("bal_cents") * col("_n") > col("_sum"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_cents")) / 100.0).as("totacctbal"))
        .orderBy("nation")
    }),

    // TPC-H Q8 shape (national market share, round 9): a nation's share
    // of regional revenue for one part type per order year — the widest
    // join tree in the suite (lineitem ⋈ part ⋈ supplier ⋈ nation(supp)
    // ⋈ orders ⋈ customer ⋈ nation(cust) ⋈ region), every dim broadcast;
    // numerator/denominator as exact decimal sums, ONE fixed-shape
    // double division per year (the q14 discipline).
    "q8_market_share" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_type") === "ECONOMY")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val n2 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val n1 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("_cn_key"), col("n_regionkey").as("_cr_key"))
      val reg = s.read.parquet(s"$dir/region.parquet")
        .filter(col("r_name") === "ASIA")
      val vol = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("_sn_key"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("_cn_key"))
        .join(broadcast(reg), col("_cr_key") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_2", vol)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"),
          sum(vol).cast("double").as("total_volume"))
        .orderBy("o_year")
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT join so
    // zero-order customers land in the c_count = 0 bucket, the priority
    // exclusion rides the JOIN condition (a WHERE would silently drop
    // the zero bucket), two cascaded aggregates.
    "q13_custdist" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): lineitems under
    // 20% of their part's average quantity, for one brand. The
    // correlated-avg threshold is the cross-engine hazard (double avg
    // differs in the last ulp and flips boundary rows), so the compare
    // is CROSS-MULTIPLIED in exact integers: qty < 0.2·(sum/cnt) ⟺
    // 5·qty·cnt < sum — quantities are integral by data contract (the
    // cast would corrupt silently otherwise, so it asserts).
    "q17_small_qty" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") === "Brand#13")
      val qtyLong = {
        val q = col("l_quantity")
        when(q === q.cast("long").cast("double"), q.cast("long"))
          .otherwise(raise_error(lit(
            "q17: non-integral l_quantity breaks the exact threshold")))
      }
      val stats = li.groupBy(col("l_partkey").as("_pk"))
        .agg(sum(qtyLong).as("_sq"), count(lit(1)).as("_cq"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(stats, col("l_partkey") === col("_pk"))
        .filter(qtyLong * lit(5L) * col("_cq") < col("_sq"))
        .agg((sum(col("l_extendedprice").cast(DecimalType(12, 2)))
          .cast("double") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q9 shape (product-type profit by nation and year): the
    // 5-way star join with a two-term profit expression. No partsupp
    // table in this schema, so unit cost is p_retailprice (the
    // q2_min_cost adaptation discipline). Each term is summed as an
    // exact decimal separately and the subtraction is ONE double op at
    // the end — order-independent on both engines. Part (name-filtered,
    // selective) and nation broadcast; lineitem⋈orders is the only big
    // shuffle.
    "q9_profit" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").contains("bolt"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val dp = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      val cost = (col("p_retailprice").cast(DecimalType(12, 2)) *
        col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 4))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg((sum(dp).cast("double") - sum(cost).cast("double"))
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock): the per-group aggregate filtered
    // by a correlated GLOBAL scalar over the SAME derived table — the one
    // TPC-H subquery shape where the HAVING threshold aggregates the
    // grouped result itself. No partsupp table, so supply value is the
    // nation-scoped lineitem revenue per part (q2_min_cost adaptation
    // discipline). Q11's 0.0001/SF fraction is SF-dependent; the
    // scale-free equivalent keeps parts above 2x the average part value,
    // compared as value·nParts > 2·total in EXACT integer-scaled decimals
    // (no fraction typing to diverge between engines). The threshold side
    // is a one-row aggregate broadcast; the per-part aggregate shuffles
    // once on its own grouping key.
    "q11_important_stock" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_name") === "NATION_3")
      val dp = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      // localCheckpoint: the per-part table is consumed twice (output
      // side + the global threshold aggregate) — the d_bm25 convention;
      // without it both consumers re-run the corpus join.
      val perPart = li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("ps_partkey"))
        .agg(sum(dp).as("_v"))
        .localCheckpoint()
      val tot = perPart.agg(sum(col("_v")).as("_tot"),
        count(lit(1)).as("_n"))
      perPart.crossJoin(broadcast(tot))
        .filter(col("_v") * col("_n") > col("_tot") * lit(2))
        .select(col("ps_partkey"), col("_v").cast("double").as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // TPC-H Q12 shape (shipping-mode priority split): the order⋈lineitem
    // join with a non-equi residual (late ship: l_shipdate > o_orderdate,
    // standing in for the commit/receipt pair this schema lacks) and
    // priority-conditional counts, grouped by l_returnflag (the shipmode
    // stand-in). Pure counts — no float hazard at all.
    "q12_priority" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q16 shape (supplier count by part attributes): distinct
    // part-supplier pairs (derived from lineitem — no partsupp table),
    // a NOT-IN exclusion subquery (s_suppkey is non-null by data
    // contract, so NOT IN ⟺ left-anti join — the null-aware variant
    // would need a degenerate broadcast null check), and COUNT(DISTINCT)
    // per attribute triple. The anti side and the filtered part dim are
    // both broadcast; the only big shuffles are the pair-distinct and
    // the final partial-distinct aggregate.
    "q16_supplier_cnt" -> ((s, dir) => {
      val pairs = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_partkey", "l_suppkey").distinct()
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      val badSupp = s.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      pairs.join(broadcast(badSupp),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three disjoint
    // brand/size/quantity/type branches OR'd together across the
    // part⋈lineitem join. The mixed-table disjunction cannot be pushed
    // through the join as-is, so each side's IMPLIED disjunction is
    // derived by hand (part: the three part-only branches; lineitem:
    // the quantity hull 1..30) — both reach the parquet scans as
    // PushedFilters while the full residual runs post-join.
    "q19_disjunctive" -> ((s, dir) => {
      val pb1 = col("p_brand") === "Brand#11" &&
        col("p_size").between(1, 5) && col("p_type") === "SMALL"
      val pb2 = col("p_brand") === "Brand#22" &&
        col("p_size").between(1, 10) && col("p_type") === "MEDIUM"
      val pb3 = col("p_brand") === "Brand#33" &&
        col("p_size").between(1, 15) && col("p_type") === "LARGE"
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity").between(1, 30))
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(pb1 || pb2 || pb3)
      val dp = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast(DecimalType(18, 4))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter((pb1 && col("l_quantity").between(1, 11)) ||
          (pb2 && col("l_quantity").between(10, 20)) ||
          (pb3 && col("l_quantity").between(20, 30)))
        .agg(sum(dp).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q20 shape (excess-stock suppliers): nested aggregation —
    // per-(part, supplier) shipped quantity in one year vs HALF the
    // part's total, for name-matched parts, then a semi join into
    // supplier. No partsupp/availqty in this schema, so "excess" =
    // the supplier shipped the strict majority of the part's volume
    // (2·qty > total, exact in longs — quantities are integral by data
    // contract). The part filter is applied BEFORE both aggregates
    // (per-part totals are unaffected); the qualifying-supplier set is
    // tiny and broadcast into the semi join.
    "q20_excess" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").contains("bolt"))
      val sq = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val tot = sq.groupBy(col("l_partkey").as("_pk"))
        .agg(sum("qty").as("tq"))
      val qual = sq.join(tot, col("l_partkey") === col("_pk"))
        .filter(lit(2L) * col("qty") > col("tq"))
        .select("l_suppkey").distinct()
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_name").isin("NATION_3", "NATION_4"))
      s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(qual), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name")
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the double
    // EXISTS / NOT-EXISTS lineitem self-join, rewritten Spark-first as
    // ONE pass — after the li⋈orders('F') shuffle the per-(order,
    // supplier) late-line counts, the per-order supplier/late-supplier
    // counts (window over the SAME partitioning — EnsureRequirements
    // inserts no further exchange), and the qualification predicate
    // (line late ∧ >1 supplier in order ∧ exactly 1 late supplier ⟺
    // EXISTS other-supplier ∧ NOT EXISTS other-late-supplier) all run
    // without a second scan of lineitem. Lateness = shipped >60 days
    // after order date (this schema has no commit/receipt dates). The
    // DuckDB oracle keeps the literal double-EXISTS form, proving the
    // rewrite.
    "q21_waiting" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey")
      val ordF = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val perSupp = s.read.parquet(s"$dir/lineitem.parquet")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .withColumn("_late",
          (col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 60 DAYS")).cast("int"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(sum("_late").as("_n_late"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      perSupp
        .withColumn("_nsupp", count(lit(1)).over(w))
        .withColumn("_nlate_supp",
          sum((col("_n_late") > 0).cast("int")).over(w))
        .filter(col("_n_late") > 0 && col("_nsupp") > 1 &&
          col("_nlate_supp") === 1)
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum("_n_late").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // Trail funnel: trails where a signup is later followed by a purchase
    // (first-signup-before-last-purchase, the classic conversion query) —
    // one shuffle, conditional aggregates, no self-join.
    "t_funnel" -> ((s, dir) =>
      trails(s, dir).df.groupBy("uuid")
        .agg(
          min(when(col("event_type") === "signup", col("time"))).as("first_signup"),
          max(when(col("event_type") === "purchase", col("time"))).as("last_purchase"))
        .filter(col("first_signup").isNotNull &&
          col("last_purchase") > col("first_signup"))
        .orderBy("uuid")),

    // Gap-constrained windowed funnel (view→click→purchase within 1 day
    // of the first view; greedy-earliest chain, Funnel.windowFunnel):
    // one uuid shuffle + codegen'd array fold — no per-step join cascade.
    // DuckDB replays the same greedy chain as nested earliest-after-t
    // aggregations.
    "t_funnel_windowed" -> ((s, dir) =>
      graft.agg.Funnel.windowFunnel(trails(s, dir).df,
          Seq("view", "click", "purchase"), window = 86400L)
        .orderBy("uuid")),

    // Exclusion funnel (ClickHouse-style): an 'error' event aborts any
    // in-progress chain, and the BEST segment wins — the trail's level is
    // the max greedy-chain level over the error-delimited segments, with
    // first_time the t0 of the EARLIEST segment attaining it. DuckDB
    // replays it the same way: segment id = running count of errors
    // strictly before in (time, seq) order, the plain greedy chain per
    // (uuid, segment), then argmax(level desc, segment asc). Same
    // one-uuid-shuffle fold as t_funnel_windowed.
    "t_funnel_excl" -> ((s, dir) =>
      graft.agg.Funnel.windowFunnel(trails(s, dir).df,
          Seq("view", "click", "purchase"), window = 86400L,
          exclude = Seq("error"))
        .orderBy("uuid")),

    // The STREAMED funnel (whale-proof shape: hash-partition + in-
    // partition sort + O(k)-state mapPartitions walk — no per-trail
    // array at any trail length) replaying the IDENTICAL exclusion
    // semantics against the same independent DuckDB oracle as
    // t_funnel_excl.
    "t_funnel_streamed" -> ((s, dir) =>
      graft.agg.Funnel.windowFunnelStreamed(trails(s, dir).df,
          Seq("view", "click", "purchase"), window = 86400L,
          exclude = Seq("error"))
        .orderBy("uuid")),

    // Path mining: top event-type 3-gram sequences across trails
    // (agg/Paths.topNgrams — one uuid shuffle, sorted struct collect,
    // n-gram explode, count; carries the loud TrailGuard whale refusal
    // because the n-grams genuinely span the whole trail).
    "t_paths" -> ((s, dir) =>
      graft.agg.Paths.topNgrams(trails(s, dir).df, n = 3, limit = 25)),

    // The STREAMED path miner (ring-buffer walk — no whole-trail array,
    // no guard needed at any trail length) against the same DuckDB
    // oracle as t_paths.
    "t_paths_streamed" -> ((s, dir) =>
      graft.agg.Paths.topNgramsStreamed(trails(s, dir).df, n = 3, limit = 25)),

    // Daily event rollup: count + exact sum(value) per (event_type, day).
    "q_events_daily" -> ((s, dir) => {
      graft.core.EventSource.events(s, dir)
        .withColumn("day", expr("ts DIV 86400"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
        .orderBy("event_type", "day")
    }),

    // Bounded-staleness as-of join: same carry-last-seen pass as t_asof but
    // a match must be no older than 10 minutes — too-old clicks enrich as
    // NULL. Zero extra shuffles (the bound is a post-window projection).
    "t_asof_tol" -> ((s, dir) => {
      val t = trails(s, dir)
      val views = t.df.filter(col("event_type") === "view")
        .select("uuid", "time", "seq")
      val clicks = t.df.filter(col("event_type") === "click")
        .select(col("uuid"), col("time"),
          col("time").as("click_time"),
          coalesce(col("props"), lit("")).as("click_props"))
      TrailOps.asOfJoin(views, clicks, Seq("click_time", "click_props"),
          tolerance = Some(600L))
        .orderBy("uuid", "time", "seq")
    }),

    // Same bounded-staleness contract through the NATIVE exec: the
    // tolerance is a per-left-row mask in the streaming-merge loop
    // (AsOfJoinExec), zero extra state beyond the carried row's time.
    // Oracled by the same independent DuckDB ASOF+staleness replay.
    "t_asof_tol_native" -> ((s, dir) => {
      val t = trails(s, dir)
      val views = t.df.filter(col("event_type") === "view")
        .select("uuid", "time", "seq")
      val clicks = t.df.filter(col("event_type") === "click")
        .select(col("uuid"), col("time"),
          col("time").as("click_time"),
          coalesce(col("props"), lit("")).as("click_props"))
      graft.plans.AsOfJoin.join(views, clicks, Seq("click_time", "click_props"),
          tolerance = Some(600L))
        .orderBy("uuid", "time", "seq")
    }),

    // Last-touch attribution: every purchase credits the most recent
    // view/click strictly earlier in (time, seq) order and at most 3 days
    // old; no touch in the window → 'direct'. One uuid-window pass — no
    // conversions×touches join. DuckDB replays via last_value IGNORE NULLS
    // over the same frame.
    "t_attribution" -> ((s, dir) =>
      graft.agg.Attribution.lastTouch(trails(s, dir).df,
          Seq("view", "click"), "purchase", lookback = 259200L)
        .orderBy("uuid", "time", "seq")),

    // Position-based (U-shaped) multi-touch attribution: credit split
    // across every in-window touch (first/last 0.4, middles share 0.2;
    // 1 touch → 1.0, 2 → 0.5/0.5, none → direct). Same one-pass window
    // shape as last-touch; the touch subset is a codegen'd higher-order
    // filter. DuckDB replays via list() over the same frame + list_filter.
    "t_attribution_multi" -> ((s, dir) =>
      graft.agg.Attribution.multiTouch(trails(s, dir).df,
          Seq("view", "click"), "purchase", lookback = 259200L)
        .orderBy("uuid", "time", "seq", "pos")),

    // First-order Markov transitions between event types in trail order —
    // cnt per (from, to) plus the row-normalized probability as one
    // 6-rounded double division of exact integers.
    "t_transitions" -> ((s, dir) =>
      graft.agg.Attribution.transitions(trails(s, dir).df)
        .orderBy("from_type", "to_type")),

    // Inter-event gap histogram (round 8): consecutive within-trail time
    // deltas in named engagement bands (explicit integer boundaries —
    // engine-exact, no float bucket edges). The diagnostic behind every
    // session-gap choice. One uuid window pass + a 4-row aggregate.
    "t_gaps" -> ((s, dir) =>
      graft.agg.Cohorts.interEventGaps(trails(s, dir).df)
        .orderBy("gap_band")),

    // Day-of-week × hour activity heatmap (round 8): pure integer epoch
    // arithmetic (dow 0 = Sunday), timezone-library-free on both engines.
    "t_heatmap" -> ((s, dir) =>
      graft.agg.Cohorts.activityMatrix(trails(s, dir).df)
        .orderBy("dow", "hour")),

    // EXACT bounded-memory global top-k (Sketch.TopK): map tasks keep ≤k
    // rows, shuffle carries k rows per partition — vs ORDER BY LIMIT whose
    // exchange carries the table. Result provably equals the sort-limit.
    "q_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val topk = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_totalprice").cast("double"), col("o_orderkey").cast("long"))
        .as[(Double, Long)]
        .select(Sketch.TopK(15).toColumn.name("tk")).toDF("tk")
      topk.select(posexplode(col("tk")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy("rank")
    }),

    // Count-Min sketch over event types: the sketch aggregates with
    // depth·width counters per partition (never the key space) and the
    // probe is a pure codegen'd element_at(pmod(xxhash64)) — no UDF either
    // side. With 5 live keys and a 4×1024 grid no two keys collide in
    // every row (Round4OpsSpec proves it for these strings), so the
    // one-sided estimate is EXACT and the oracle is a plain GROUP BY.
    "t_cms" -> ((s, dir) => {
      import s.implicits._
      val d = 4; val w = 1024
      val t = trails(s, dir)
      val grid = t.df.select(coalesce(col("event_type"), lit("")).as("et"))
        .as[String].select(Sketch.CountMin(d, w).toColumn.name("grid")).toDF("grid")
      t.df.select(coalesce(col("event_type"), lit("")).as("event_type")).distinct()
        .crossJoin(broadcast(grid))
        .select(col("event_type"),
          Sketch.countMinEstimate(col("grid"), col("event_type"), d, w).as("cnt"))
        .orderBy("event_type")
    }),

    // Bigram LM scoring: add-one-smoothed transition model, exact
    // micro-nat integer sums per doc (order-independent, DuckDB replays
    // the full formula). The bigram stream is built inside the scan
    // projection — no self-join.
    "d_bigram_lp" -> ((s, dir) =>
      Retrieval.bigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")),

    // Binned interval join (RangeJoin): lineitem ship-dates sliced against
    // a TABLE of 30-day campaign windows — the pure-inequality join shape
    // Catalyst can only nested-loop; the bin equi-join keeps it
    // hash/sort-merge-joinable at any scale (guard-enforced: no
    // CartesianProduct / BroadcastNestedLoopJoin in the plan). Exact
    // cent-integer sums.
    "q_range_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_shipdate").cast("timestamp_ltz").cast("long").as("ship_ts"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      val camp = s.read.parquet(s"$dir/orders.parquet")
        .filter(pmod(col("o_orderkey"), lit(997L)) === 1)
        .select(col("o_orderkey").as("campaign"),
          col("o_orderdate").cast("timestamp_ltz").cast("long").as("w_start"))
        .withColumn("w_end", col("w_start") + lit(2592000L))
      graft.ops.RangeJoin.binnedRangeJoin(li, camp,
          "ship_ts", "w_start", "w_end", binWidth = 2592000L)
        .groupBy("campaign", "w_start")
        .agg(count(lit(1)).as("n_items"),
          sum("price_cents").as("sum_price_cents"))
        .orderBy("campaign")
    }),

    // Per-event trailing one-hour activity (Rolling.trailingStats): RANGE
    // frame over (uuid, time) — one uuid shuffle, same-time peers included
    // on both engines, exact micro-integer value sums.
    "t_rolling" -> ((s, dir) => {
      val ev = graft.core.EventSource.events(s, dir).select(
        format_string("%032x", col("user_id")).as("uuid"),
        col("ts").as("time"),
        col("event_id").as("seq"),
        round(coalesce(col("value"), lit(0.0)) * 1e6).cast("long").as("v_micro"))
      graft.agg.Rolling.trailingStats(ev, horizon = 3600L, valueCol = "v_micro")
        .orderBy("uuid", "time", "seq")
    }),

    // Per-trail exponential time-decay activity score (Rolling.decayScore):
    // recency-weighted engagement, each term micro-rounded so the sum is an
    // exact long. One uuid shuffle (window + same-key agg share it).
    "t_decay" -> ((s, dir) =>
      graft.agg.Rolling.decayScore(trails(s, dir).df, tau = 86400L)
        .orderBy("uuid")),

    // Retention compaction (the reference's periodic-rebuild policy):
    // drop events before a cutoff, keep each trail's 5 most recent —
    // one uuid window pass, exact DuckDB replay.
    "t_compact" -> ((s, dir) =>
      trails(s, dir).compact(keepLast = 5, minTime = Some(1704500000L))
        .select("uuid", "time", "event_type", "props", "seq")
        .orderBy("uuid", "time", "seq")),

    // Per-source quality cap (C4-style per-domain quota): at most 5 docs
    // per source, longest-first with id tie-break — deterministic window,
    // exact DuckDB replay.
    "d_domain_cap" -> ((s, dir) =>
      TextAnalysis.capPerGroup(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source", "n_chars"),
          maxPerGroup = 5)
        .orderBy("source", "cap_rank")),

    // Exact duplicated-span scrub (Lee et al. substring dedup): every
    // repeated 5-token window loses all but its corpus-first occurrence
    // and documents are rebuilt from surviving tokens. String span keys
    // so DuckDB replays first-occurrence choice, coverage, and the
    // rebuilt text EXACTLY (hash keys are the 100 TB swap).
    "d_span_scrub" -> ((s, dir) =>
      Dedup.scrubDupSpans(s.read.parquet(s"$dir/documents.parquet"), k = 5)
        .orderBy("doc_id")),
  )

  /** DuckDB SQL for the integer value of the first `n` hex chars of
    * `expr` (DuckDB has no conv(); mirrors Spark's
    * `conv(substring(expr, 1, n), 16, 10)`). */
  private def hexPrefix(expr: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)::BIGINT * " +
        BigInt(16).pow(n - i)).mkString("(", " + ", ")")

  def oracleSql: Map[String, String] = Map(
    "t_dump" ->
      s"""$TrailsCte
         |SELECT uuid, time, coalesce(event_type,'') AS event_type,
         |       coalesce(props,'') AS props
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_filter_cnf" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, props, seq FROM trails
         |WHERE (coalesce(event_type,'') = 'click' OR coalesce(event_type,'') = 'purchase')
         |  AND coalesce(props,'') != '{"k": 0}'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_filter_time_range" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE (time >= 1704500000 AND time < 1705500000)
         |  AND coalesce(event_type,'') = 'view'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_filter_neg_unknown" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE coalesce(event_type,'') != 'error'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_whitelist" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE uuid IN (printf('%032x', 1), printf('%032x', 3), printf('%032x', 7))
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_point_lookup" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, props, seq FROM trails
         |WHERE uuid = printf('%032x', 5)
         |ORDER BY time, seq""".stripMargin,

    "t_trail_lengths" ->
      s"""$TrailsCte
         |SELECT uuid, count(*) AS trail_length FROM trails
         |GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_sessionize" ->
      s"""$TrailsCte,
         |gaps AS (
         |  SELECT uuid, time, seq,
         |    CASE WHEN time - lag(time) OVER (PARTITION BY uuid ORDER BY time, seq) > 1800
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM trails),
         |sess AS (
         |  SELECT uuid,
         |    sum(new_s) OVER (PARTITION BY uuid ORDER BY time, seq
         |                     ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM gaps)
         |SELECT uuid, CAST(max(session_id) + 1 AS BIGINT) AS num_sessions,
         |       count(*) AS num_events
         |FROM sess GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_csv_sink" ->
      s"""$TrailsCte
         |SELECT uuid, time, coalesce(event_type,'') AS event_type,
         |       coalesce(props,'') AS props
         |FROM trails ORDER BY uuid, time, event_type, props""".stripMargin,

    "t_json_sink" ->
      s"""$TrailsCte
         |SELECT uuid, time, coalesce(event_type,'') AS event_type,
         |       coalesce(props,'') AS props
         |FROM trails ORDER BY uuid, time, event_type, props""".stripMargin,

    "t_filter_const" ->
      s"""$TrailsCte
         |SELECT count(*) AS n_all, CAST(0 AS BIGINT) AS n_none
         |FROM trails""".stripMargin,

    "t_filter_at_file" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE coalesce(event_type,'') = 'click'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_append" ->
      s"""$TrailsCte
         |SELECT uuid, CAST(2 * count(*) AS BIGINT) AS n_events
         |FROM trails GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_skip_bad" ->
      s"""$TrailsCte
         |SELECT count(*) AS n_events, count(DISTINCT uuid) AS n_trails
         |FROM trails""".stripMargin,

    "t_stream_sessionize" ->
      s"""$TrailsCte,
         |gaps AS (
         |  SELECT uuid, time, seq,
         |    CASE WHEN time - lag(time) OVER (PARTITION BY uuid ORDER BY time, seq) > 1800
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM trails),
         |sess AS (
         |  SELECT uuid,
         |    sum(new_s) OVER (PARTITION BY uuid ORDER BY time, seq
         |                     ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM gaps)
         |SELECT uuid, CAST(max(session_id) + 1 AS BIGINT) AS num_sessions,
         |       count(*) AS num_events
         |FROM sess GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_trail_cursor" ->
      s"""$TrailsCte
         |SELECT uuid, min(time) AS first_time, max(time) AS last_time,
         |       count(*) AS n_events
         |FROM trails GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_agg_summary" ->
      s"""$TrailsCte
         |SELECT uuid, min(time) AS first_time, max(time) AS last_time,
         |       count(*) AS n_events
         |FROM trails GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_filter_introspect" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'event_type', 'click', false, true),
        |  (0, 1, 'event_type', 'view', false, true),
        |  (1, 0, 'props', '', false, true),
        |  (2, 0, 'event_type', 'purchase', true, true))
        |  AS t(clause_idx, term_idx, field, value, negated, roundtrip_ok)
        |ORDER BY clause_idx, term_idx""".stripMargin,

    "t_error_codes" ->
      """SELECT * FROM (VALUES
        |  ('append_mismatch', 'TDB_ERR_APPEND_FIELDS_MISMATCH', CAST(10 AS BIGINT)),
        |  ('bad_args', 'TDB_ERR_ARGS', 2),
        |  ('duplicate_fields', 'TDB_ERR_DUPLICATE_FIELDS', 7),
        |  ('filter_parse', 'TDB_ERR_FILTER_PARSE', 4),
        |  ('invalid_range', 'TDB_ERR_INVALID_RANGE', 11),
        |  ('invalid_fieldname', 'TDB_ERR_INVALID_FIELDNAME', 6),
        |  ('only_diff_filter', 'TDB_ERR_ONLY_DIFF_FILTER', 9),
        |  ('open_error', 'TDB_ERR_IO_OPEN', 3),
        |  ('stale_index', 'TDB_ERR_STALE_INDEX', 5),
        |  ('too_many_fields', 'TDB_ERR_TOO_MANY_FIELDS', 8),
        |  ('trail_too_long', 'GRAFT_ERR_TRAIL_TOO_LONG', 14),
        |  ('unknown', 'TDB_ERR_UNKNOWN', 1))
        |  AS t(case_name, err_name, exit_code)
        |ORDER BY case_name""".stripMargin,

    "t_only_diff" ->
      s"""$TrailsCte
         |SELECT uuid, time,
         |  CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
         |       THEN '' ELSE coalesce(event_type,'') END AS event_type,
         |  CASE WHEN lag(props) OVER w IS NOT DISTINCT FROM props
         |       THEN '' ELSE coalesce(props,'') END AS props,
         |  seq
         |FROM trails
         |WINDOW w AS (PARTITION BY uuid ORDER BY time, seq)
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_diff" ->
      s"""$TrailsCte,
         |ev AS (SELECT uuid, time, coalesce(event_type,'') AS event_type,
         |         coalesce(props,'') AS props, seq FROM trails),
         |bc AS (SELECT uuid, time, event_type, props, count(*) AS ca
         |  FROM ev WHERE seq % 7 != 0 GROUP BY 1, 2, 3, 4),
         |rc AS (SELECT uuid, time, event_type, props, count(*) AS cb
         |  FROM ev WHERE seq % 5 != 0 GROUP BY 1, 2, 3, 4),
         |j AS (SELECT COALESCE(bc.uuid, rc.uuid) AS uuid,
         |        GREATEST(COALESCE(cb, 0) - COALESCE(ca, 0), 0) AS n_added,
         |        GREATEST(COALESCE(ca, 0) - COALESCE(cb, 0), 0) AS n_removed
         |      FROM bc FULL JOIN rc ON bc.uuid = rc.uuid
         |        AND bc.time = rc.time AND bc.event_type = rc.event_type
         |        AND bc.props = rc.props)
         |SELECT uuid, CAST(sum(n_added) AS BIGINT) AS n_added,
         |       CAST(sum(n_removed) AS BIGINT) AS n_removed
         |FROM j WHERE n_added > 0 OR n_removed > 0
         |GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_merge" ->
      s"""$TrailsCte
         |SELECT uuid, time, coalesce(event_type,'') AS event_type,
         |       CASE WHEN seq % 2 = 0 THEN coalesce(props,'') ELSE '' END AS props,
         |       CASE WHEN seq % 2 = 1 THEN coalesce(props,'') ELSE '' END AS extra,
         |       seq
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_multicursor" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, props, seq
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_metadata" ->
      s"""$TrailsCte
         |SELECT count(DISTINCT uuid) AS num_trails, count(*) AS num_events,
         |       min(time) AS min_time, max(time) AS max_time
         |FROM trails""".stripMargin,

    "t_finalize" ->
      s"""$TrailsCte
         |SELECT count(DISTINCT uuid) AS num_trails, count(*) AS num_events,
         |       min(time) AS min_time, max(time) AS max_time
         |FROM trails""".stripMargin,

    "t_metadata_rule" ->
      s"""$TrailsCte
         |SELECT count(DISTINCT uuid) AS num_trails, count(*) AS num_events,
         |       min(time) AS min_time, max(time) AS max_time
         |FROM trails""".stripMargin,

    "t_lexicon" ->
      s"""$TrailsCte
         |SELECT DISTINCT coalesce(event_type,'') AS value FROM trails
         |WHERE coalesce(event_type,'') != '' ORDER BY value""".stripMargin,

    "t_heavy_hitters" ->
      """SELECT event_type, count(*) AS cnt, TRUE AS est_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "t_cons_roundtrip" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, props, seq
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_tdb_read" ->
      s"""$TrailsCte
         |SELECT uuid, time, nullif(event_type, '') AS event_type,
         |       nullif(props, '') AS props
         |FROM trails
         |ORDER BY uuid, time, event_type NULLS FIRST, props NULLS FIRST""".stripMargin,

    "t_tdb_v0" ->
      s"""$TrailsCte
         |SELECT uuid, time, nullif(event_type, '') AS event_type,
         |       nullif(props, '') AS props
         |FROM trails
         |ORDER BY uuid, time, event_type NULLS FIRST, props NULLS FIRST""".stripMargin,

    "t_item_codec" ->
      """WITH grid AS (
        |  SELECT f.field, v.val_id
        |  FROM (VALUES (CAST(0 AS BIGINT)), (1), (127), (128), (9999),
        |               (16382)) f(field)
        |  CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (16777215),
        |               (16777216), (549755813888), (1099511627774)) v(val_id)),
        |items AS (
        |  SELECT field, val_id,
        |    CASE WHEN field > 127 OR val_id > 16777215
        |      THEN (field & 127) | 128 | ((field >> 7) << 8) | (val_id << 16)
        |      ELSE field | (val_id << 8) END AS item
        |  FROM grid)
        |SELECT field, val_id, item,
        |  CASE WHEN (item & 128) = 0 THEN item & 127
        |       ELSE (item & 127) | (((item >> 8) & 127) << 7)
        |       END AS field_back,
        |  CASE WHEN (item & 128) = 0 THEN (item >> 8) & 4294967295
        |       ELSE item >> 16 END AS val_back,
        |  CASE WHEN (item & 128) = 0 THEN 1 ELSE 0 END AS is32
        |FROM items ORDER BY field, val_id""".stripMargin,

    "t_item_value" ->
      s"""$TrailsCte
         |, lex AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY event_type) AS val_id,
         |         event_type AS value
         |  FROM (SELECT DISTINCT event_type FROM trails
         |        WHERE event_type IS NOT NULL AND event_type <> ''))
         |SELECT val_id, value, 1 | (val_id << 8) AS item,
         |       val_id AS val_back
         |FROM lex ORDER BY val_id""".stripMargin,

    "t_tdb_fixture" ->
      """SELECT * FROM (VALUES
        |  ('10000000000000000000000000000000', CAST(1463696903 AS BIGINT),
        |   'hello', 'world'),
        |  ('20000000000000000000000000000000', CAST(1463696952 AS BIGINT),
        |   'it', 'works!'))
        |  AS t(uuid, time, first_field, second_field)
        |ORDER BY uuid""".stripMargin,

    "t_csv_roundtrip" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_jsonl_roundtrip" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq
         |FROM trails ORDER BY uuid, time, seq""".stripMargin,

    "t_filter_empty" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE event_type = 'click'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_trail_filters" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, seq FROM trails
         |WHERE (uuid = printf('%032x', 1) AND coalesce(event_type,'') = 'click')
         |   OR (uuid = printf('%032x', 2))
         |   OR (uuid NOT IN (printf('%032x', 1), printf('%032x', 2))
         |       AND coalesce(event_type,'') = 'view')
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_uuid_codec" ->
      s"""$TrailsCte
         |SELECT DISTINCT uuid,
         |  regexp_full_match(uuid, '[0-9a-f]{32}') AS valid,
         |  lower(hex(unhex(uuid))) AS roundtrip,
         |  CAST(octet_length(unhex(uuid)) AS BIGINT) AS raw_len
         |FROM trails ORDER BY uuid""".stripMargin,

    "t_distinct_items" ->
      s"""$TrailsCte
         |SELECT uuid,
         |  array_to_string(list_sort(list(DISTINCT coalesce(event_type, ''))), '|') AS item_set,
         |  count(DISTINCT coalesce(event_type, '')) AS n_items
         |FROM trails GROUP BY uuid ORDER BY uuid""".stripMargin,

    "d_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "d_ngram_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "d_normalize" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_before,
        |       CAST(length(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS BIGINT) AS n_after,
        |       md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_containment_prefix" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(shared AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(shared AS DOUBLE) / least(sa.sz, sb.sz) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    "d_pmi" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
        |uc AS (SELECT tok, count(*) AS cu
        |       FROM (SELECT unnest(l) AS tok FROM toks) GROUP BY 1),
        |n AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uc),
        |bc AS (SELECT bigram, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(l)),
        |      i -> array_to_string(l[i:i+1], ' '))) AS bigram
        |    FROM toks WHERE len(l) >= 2) GROUP BY 1),
        |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM bc),
        |sel AS (SELECT bc.bigram, bc.cb, x.cu AS cx, y.cu AS cy
        |  FROM bc
        |  JOIN uc x ON x.tok = string_split(bc.bigram, ' ')[1]
        |  JOIN uc y ON y.tok = string_split(bc.bigram, ' ')[2]
        |  WHERE bc.cb >= 5)
        |SELECT bigram, CAST(cb AS BIGINT) AS c,
        |  CAST(round(ln((CAST(cb AS DOUBLE) * (SELECT n FROM n) * (SELECT n FROM n))
        |    / (CAST((SELECT nb FROM nb) AS DOUBLE) * cx * cy)) * 1e6, 0) AS BIGINT)
        |    AS pmi_micro
        |FROM sel ORDER BY pmi_micro DESC, bigram LIMIT 20""".stripMargin,

    "d_cluster_split" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
        |cl AS (SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
        |       FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) < 64
        |  THEN 'eval' ELSE 'train' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,

    "d_cdc_dedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
        |f AS (SELECT hh, count(*) AS n FROM h GROUP BY 1)
        |SELECT doc_id,
        |       CAST(CASE WHEN n > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_text_dup,
        |       CAST(1 AS BIGINT) AS dup_implies_shared
        |FROM h JOIN f USING (hh) ORDER BY doc_id""".stripMargin,

    "d_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(shared AS DOUBLE) / least(sa.sz, sb.sz) AS containment
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(shared AS DOUBLE) / least(sa.sz, sb.sz) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    "d_oov" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
        |          ORDER BY n DESC, tok LIMIT 20)
        |SELECT t.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS oov_frac
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // CDC cuts are hash-defined (not DuckDB-replayable); the oracle
    // recomputes the exact per-doc token total and pins the fold's
    // enforced bounds as contract constants.
    "d_cdc_chunks" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(1 AS BIGINT) AS max_ok,
        |       CAST(1 AS BIGINT) AS min_ok,
        |       CAST(1 AS BIGINT) AS count_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Invariant oracle (hash-family-specific output): DuckDB recomputes the
    // EXACT ngram-Jaccard pair list (same CTEs as d_ngram_pairs); the
    // subset-violation count and recall floor are contract constants.
    "d_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |exact AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(0 AS BIGINT) AS n_violations,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM exact""".stripMargin,

    // Invariant oracle: identical docs (the id-shifted self-union) MUST
    // collide at hamming 0 — n_self_h0 is exactly n_docs; nothing emitted
    // may exceed maxHamming.
    "d_simhash" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_self_h0,
        |       CAST(0 AS BIGINT) AS n_over_max
        |FROM documents""".stripMargin,

    // Per-doc invariant oracle: n_sh = distinct k=5 word shingles (DuckDB
    // recomputes from text; tokenization equivalence is hash-proven by
    // d_ngram_pairs); the winnow contract flags are constants.
    "d_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_distinct(
        |    CASE WHEN len(l) < 5 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 5 + 2),
        |                        i -> array_to_string(l[i:i+4], ' ')) END)) AS BIGINT) AS n_sh,
        |  CAST(1 AS BIGINT) AS fp_in_bounds,
        |  CAST(1 AS BIGINT) AS fp_subset
        |FROM toks ORDER BY doc_id""".stripMargin,

    "d_dedup_clusters" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "d_keep_best" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
        |labels AS (SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY id),
        |scored AS (SELECT l.cluster_id, l.doc_id,
        |    CAST(len(string_split_regex(d.text, ' +')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY l.cluster_id
        |      ORDER BY len(string_split_regex(d.text, ' +')) DESC, l.doc_id) AS rn
        |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
        |SELECT cluster_id, doc_id, n_tokens FROM scored
        |WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "d_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split_regex(text, ' +'),
        |    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_est,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stopwords,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split_regex(text, ' +')) AS mean_token_len,
        |  CAST(len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |    / len(string_split_regex(text, ' +')) AS stopword_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_langid" ->
      """WITH scored AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS c_en,
        |  len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('der','die','das','und','oder','von','zu','ist','ein','nicht'))) AS c_de,
        |  len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('el','la','los','las','y','o','de','en','es','un'))) AS c_es,
        |  len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('le','la','les','et','ou','de','en','est','un','une'))) AS c_fr
        |  FROM documents)
        |SELECT doc_id, CAST(c_en AS INT) AS c_en, CAST(c_de AS INT) AS c_de,
        |       CAST(c_es AS INT) AS c_es, CAST(c_fr AS INT) AS c_fr,
        |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
        |       WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
        |       WHEN c_es >= c_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM scored ORDER BY doc_id""".stripMargin,

    "t_asof" ->
      s"""$TrailsCte,
         |l AS (SELECT uuid, time, seq FROM trails
         |      WHERE coalesce(event_type,'') = 'view'),
         |r AS (SELECT uuid, time, max(time) AS click_time,
         |             max(coalesce(props,'')) AS click_props
         |      FROM trails WHERE coalesce(event_type,'') = 'click'
         |      GROUP BY uuid, time)
         |SELECT l.uuid, l.time, l.seq,
         |       r.click_time AS asof_click_time,
         |       r.click_props AS asof_click_props
         |FROM l ASOF LEFT JOIN r ON l.uuid = r.uuid AND l.time >= r.time
         |ORDER BY l.uuid, l.time, l.seq""".stripMargin,

    "t_asof_native" ->
      s"""$TrailsCte,
         |l AS (SELECT uuid, time, seq FROM trails
         |      WHERE coalesce(event_type,'') = 'view'),
         |r AS (SELECT uuid, time, max(time) AS click_time,
         |             max(coalesce(props,'')) AS click_props
         |      FROM trails WHERE coalesce(event_type,'') = 'click'
         |      GROUP BY uuid, time)
         |SELECT l.uuid, l.time, l.seq,
         |       r.click_time AS asof_click_time,
         |       r.click_props AS asof_click_props
         |FROM l ASOF LEFT JOIN r ON l.uuid = r.uuid AND l.time >= r.time
         |ORDER BY l.uuid, l.time, l.seq""".stripMargin,

    "t_index_scan" ->
      s"""$TrailsCte
         |SELECT uuid, time, event_type, props, seq FROM trails
         |WHERE coalesce(event_type,'') = 'click' OR coalesce(event_type,'') = 'purchase'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_retention" ->
      s"""$TrailsCte,
         |weeks AS (SELECT DISTINCT uuid, time // 604800 AS week FROM trails),
         |act AS (SELECT week, count(*) AS n_active FROM weeks GROUP BY 1),
         |ret AS (SELECT a.week AS week, count(*) AS n_retained
         |        FROM weeks a JOIN weeks b
         |          ON a.uuid = b.uuid AND b.week = a.week + 1
         |        GROUP BY 1)
         |SELECT act.week, n_active, coalesce(n_retained, 0) AS n_retained
         |FROM act LEFT JOIN ret ON act.week = ret.week ORDER BY act.week""".stripMargin,

    "t_cohort" ->
      s"""$TrailsCte,
         |wk AS (SELECT DISTINCT uuid, time // 604800 AS w FROM trails),
         |ch AS (SELECT uuid, min(w) AS cohort FROM wk GROUP BY uuid)
         |SELECT cohort, w - cohort AS age, count(*) AS n_active
         |FROM wk JOIN ch USING (uuid)
         |GROUP BY 1, 2 ORDER BY cohort, age""".stripMargin,

    // the uuid join is NULL-SAFE (IS NOT DISTINCT FROM) to mirror the
    // impl's <=>: a NULL-uuid trail with two or more event types counts
    // in the matrix on both sides (r15 ADVICE — only the event_type
    // coalesce had been mirrored)
    "t_overlap" ->
      s"""$TrailsCte,
         |dt AS (SELECT DISTINCT uuid,
         |         coalesce(event_type, '') AS event_type FROM trails)
         |SELECT a.event_type AS type_a, b.event_type AS type_b,
         |       count(*) AS n_trails
         |FROM dt a JOIN dt b ON a.uuid IS NOT DISTINCT FROM b.uuid
         |  AND a.event_type < b.event_type
         |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,

    "t_latency" ->
      s"""$TrailsCte,
         |f AS (SELECT uuid, min(time) AS tf FROM trails
         |      WHERE event_type = 'signup' GROUP BY 1),
         |lat AS (SELECT t.uuid, min(t.time - f.tf) AS l
         |  FROM trails t JOIN f USING (uuid)
         |  WHERE t.event_type = 'purchase' AND t.time >= f.tf
         |  GROUP BY 1)
         |SELECT l // 3600 AS bucket, count(*) AS n_trails
         |FROM lat GROUP BY 1 ORDER BY bucket""".stripMargin,

    "d_sentence_dedup" ->
      """WITH sents AS (
        |  SELECT doc_id, trim(s) AS sentence
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
        |        FROM documents)
        |  WHERE length(trim(s)) > 0)
        |SELECT sentence, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        |FROM sents GROUP BY sentence
        |ORDER BY n_occurrences DESC, sentence LIMIT 50""".stripMargin,

    "d_line_dedup" ->
      """WITH raw AS (SELECT doc_id, string_split_regex(text, '[.!?]+') AS l
        |  FROM documents),
        |sents AS (SELECT doc_id, u.pos AS pos, trim(u.s) AS s
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
        |          i -> {'pos': i, 's': l[i]})) AS u
        |        FROM raw)),
        |s2 AS (SELECT doc_id, pos, s FROM sents WHERE length(s) > 0),
        |freq AS (SELECT s, count(DISTINCT doc_id) AS nd FROM s2 GROUP BY 1)
        |SELECT doc_id, count(*) AS n_kept,
        |       string_agg(s, '. ' ORDER BY pos) AS clean
        |FROM s2 JOIN freq USING (s)
        |WHERE nd < 2
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_length_hist" ->
      """SELECT CAST(len(string_split_regex(text, ' +')) // 10 * 10 AS BIGINT) AS bucket,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "d_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        concat(text, ' contact user', doc_id, '@example.com from 10.0.0.',
        |               doc_id % 256, ' tel 555 123 4567'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9][0-9 ()+-]{6,}[0-9]\b', '<NUMBER>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_sample" ->
      """SELECT doc_id FROM documents
        |WHERE (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16 +
        |      (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) < 64
        |ORDER BY doc_id""".stripMargin,

    "d_shard" ->
      s"""WITH d AS (SELECT text, ${hexPrefix("md5(text)", 12)} % 16 AS shard
         |  FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS n_tokens,
         |  CAST(sum(${hexPrefix("md5(text)", 8)}) AS BIGINT) AS checksum
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    "d_bpe_pairs" ->
      """WITH w AS (SELECT w, count(*) AS f FROM
        |    (SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents)
        |  GROUP BY w),
        |p AS (SELECT s[i] AS sym_l, s[i+1] AS sym_r, f FROM
        |    (SELECT string_split_regex(w, '') AS s, f FROM w),
        |    unnest(range(1, len(s))) AS u(i))
        |SELECT sym_l, sym_r, CAST(sum(f) AS BIGINT) AS cnt
        |FROM p GROUP BY sym_l, sym_r
        |ORDER BY cnt DESC, sym_l, sym_r LIMIT 50""".stripMargin,

    // Sentinel-delimited replace chain == left-to-right non-overlapping
    // merge application: each symbol is wrapped chr(1)sym chr(2), so a
    // merged symbol can never re-match its own rule's pattern, and
    // replace() resumes AFTER the inserted text exactly like the
    // encoder's i += 2. Rules applied in training order.
    "d_bpe_segment" -> {
      def m(expr: String, a: String, b: String): String =
        s"replace($expr, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), " +
          s"chr(1)||'$a$b'||chr(2))"
      val chain = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
        ("e", "r"), ("o", "n")).foldLeft(
        "chr(1) || array_to_string(string_split_regex(w, ''), " +
          "chr(2)||chr(1)) || chr(2)") { case (e, (a, b)) => m(e, a, b) }
      s"""WITH w AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
         |    FROM documents)
         |  WHERE w <> ''),
         |seg AS (SELECT doc_id, $chain AS r FROM w),
         |sub AS (SELECT doc_id,
         |    unnest(string_split(trim(replace(replace(r, chr(1), ''),
         |      chr(2), ' ')), ' ')) AS sw
         |  FROM seg)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_subwords,
         |  CAST(count(DISTINCT sw) AS BIGINT) AS n_distinct
         |FROM sub GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "d_eval_split" ->
      """WITH r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(text), doc_id) AS rn FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    "d_export" ->
      s"""WITH d AS (SELECT text, ${hexPrefix("md5(text)", 12)} % 16 AS shard
         |  FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS n_tokens,
         |  CAST(sum(${hexPrefix("md5(text)", 8)}) AS BIGINT) AS checksum
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    "d_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l
        |  FROM documents),
        |sp AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 8 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 8 + 2),
        |                        i -> array_to_string(l[i:i+7], ' ')) END)) AS sh
        |  FROM t),
        |df AS (SELECT sh, count(*) AS span_df FROM sp GROUP BY sh)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN span_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  round(CAST(sum(CASE WHEN span_df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_frac6
        |FROM sp JOIN df USING (sh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_pipeline" ->
      """WITH RECURSIVE
        |s1 AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep
        |        FROM documents GROUP BY 1) k
        |    ON md5(d.text) = k.h AND d.doc_id = k.keep),
        |s2 AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      len(string_split_regex(text, ' +')) AS n_tokens,
        |      CAST(len(list_filter(string_split_regex(text, ' +'),
        |        w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / len(string_split_regex(text, ' +')) AS swr,
        |      CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text) AS pr
        |    FROM s1)
        |  WHERE n_tokens >= 20 AND n_tokens <= 600 AND swr < 0.3 AND pr < 0.1),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM s2),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM s2
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id AS doc_id FROM reach
        |GROUP BY id HAVING id = min(comp) ORDER BY doc_id""".stripMargin,

    "d_disposition" ->
      """WITH s1 AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep
        |        FROM documents GROUP BY 1) k
        |    ON md5(d.text) = k.h AND d.doc_id = k.keep),
        |s2 AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      len(string_split_regex(text, ' +')) AS n_tokens,
        |      CAST(len(list_filter(string_split_regex(text, ' +'),
        |        w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / len(string_split_regex(text, ' +')) AS swr,
        |      CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text) AS pr
        |    FROM s1)
        |  WHERE n_tokens >= 20 AND n_tokens <= 600 AND swr < 0.3 AND pr < 0.1),
        |toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
        |  FROM s2),
        |freq AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |totals AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM freq),
        |scored AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(round(
        |      ln(CAST(c + 1 AS DOUBLE) / (t + v)) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS lp_micro_sum
        |  FROM toks JOIN freq USING (token) CROSS JOIN totals GROUP BY doc_id),
        |sc2 AS (SELECT doc_id, CAST(round(CAST(lp_micro_sum AS DOUBLE) / n_tokens, 0)
        |    AS BIGINT) AS lp_tok_micro FROM scored),
        |q AS (SELECT quantile_cont(lp_tok_micro, 0.1) AS thr FROM sc2),
        |s3 AS (SELECT sc2.doc_id FROM sc2 CROSS JOIN q
        |  WHERE sc2.lp_tok_micro > q.thr)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'duplicate'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'quality'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM s3) THEN 'perplexity'
        |       ELSE 'kept' END AS disposition
        |FROM documents d ORDER BY doc_id""".stripMargin,

    "d_training_pipeline" ->
      s"""WITH s1 AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep
         |        FROM documents GROUP BY 1) k
         |    ON md5(d.text) = k.h AND d.doc_id = k.keep),
         |s2 AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      len(string_split_regex(text, ' +')) AS n_tokens,
         |      CAST(len(list_filter(string_split_regex(text, ' +'),
         |        w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |        / len(string_split_regex(text, ' +')) AS swr,
         |      CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
         |        / length(text) AS pr
         |    FROM s1)
         |  WHERE n_tokens >= 20 AND n_tokens <= 600 AND swr < 0.3 AND pr < 0.1),
         |toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
         |  FROM s2),
         |freq AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
         |totals AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM freq),
         |scored AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CAST(round(
         |      ln(CAST(c + 1 AS DOUBLE) / (t + v)) * 1e6) AS BIGINT)) AS BIGINT)
         |      AS lp_micro_sum
         |  FROM toks JOIN freq USING (token) CROSS JOIN totals GROUP BY doc_id),
         |sc2 AS (SELECT doc_id, CAST(round(CAST(lp_micro_sum AS DOUBLE) / n_tokens, 0)
         |    AS BIGINT) AS lp_tok_micro FROM scored),
         |q AS (SELECT quantile_cont(lp_tok_micro, 0.1) AS thr FROM sc2),
         |s3 AS (SELECT s2.doc_id, s2.text FROM s2 JOIN sc2 USING (doc_id)
         |  CROSS JOIN q WHERE sc2.lp_tok_micro > q.thr),
         |t3 AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM s3),
         |cs AS (SELECT doc_id, l, unnest(range(0, (len(l) - 1) // 24 + 1)) AS i
         |  FROM t3),
         |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |    CAST(len(l[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens,
         |    md5(array_to_string(l[i*24+1 : i*24+32], ' ')) AS chunk_md5,
         |    ${hexPrefix("md5(CAST(doc_id AS VARCHAR))", 12)} % 8 AS shard FROM cs),
         |p AS (SELECT shard, n_tokens, chunk_md5,
         |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM c)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(floor(prior / 256.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  CAST(sum(${hexPrefix("chunk_md5", 8)}) AS BIGINT) AS checksum
         |FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin,

    "d_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
        |             FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, token) AS rank FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df, tfidf
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "d_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
        |             FROM documents),
        |tc AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
        |tagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |                count(*) AS n_distinct, max(c) AS top_token_c
        |         FROM tc GROUP BY 1),
        |big AS (SELECT doc_id, unnest(
        |    CASE WHEN len(l) < 2 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l)), i -> array_to_string(l[i:i+1], ' ')) END
        |  ) AS bigram
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents)),
        |bc AS (SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY 1, 2),
        |bagg AS (SELECT doc_id, max(c) AS top_bigram_c,
        |                CAST(sum(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY 1)
        |SELECT t.doc_id, n_tokens, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
        |  CAST(top_token_c AS DOUBLE) / n_tokens AS top_token_frac,
        |  CAST(coalesce(top_bigram_c, 0) AS DOUBLE) / coalesce(n_bigrams, 1) AS top_bigram_frac
        |FROM tagg t LEFT JOIN bagg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d_vocab" ->
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split_regex(text, ' +')) AS token FROM documents)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,

    "d_quality_filter" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stopwords,
        |  CAST(len(list_filter(string_split_regex(text, ' +'),
        |    w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |    / len(string_split_regex(text, ' +')) AS stopword_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_stopwords FROM q
        |WHERE n_tokens >= 20 AND n_tokens <= 600
        |  AND stopword_ratio < 0.3 AND punct_ratio < 0.1
        |ORDER BY doc_id""".stripMargin,

    // Invariant oracle (ANN pattern): n_total recomputed; the three
    // checks are guarantees of the GK summary re-verified in-plan from
    // the data, so the oracle pins them at 1.
    "d_quantile_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(1 AS BIGINT) AS kept_floor_ok,
        |       CAST(1 AS BIGINT) AS rank_lo_ok,
        |       CAST(1 AS BIGINT) AS rank_hi_ok
        |FROM documents""".stripMargin,

    "e_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id AS corpus_id,
        |        list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cosine
        |      FROM embeddings e, q WHERE e.vec_id != q.query_id),
        |r AS (SELECT query_id, corpus_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, corpus_id) AS rank
        |      FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, corpus_id, cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "e_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id AS corpus_id,
        |        list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cosine
        |      FROM embeddings e JOIN q
        |        ON e.label IS DISTINCT FROM q.label),
        |r AS (SELECT query_id, corpus_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, corpus_id) AS rank
        |      FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, corpus_id, cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "e_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id AS corpus_id,
        |        list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cosine
        |      FROM embeddings e JOIN q
        |        ON e.label = q.label AND e.vec_id != q.query_id),
        |r AS (SELECT query_id, corpus_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, corpus_id) AS rank
        |      FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, corpus_id, cosine
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Bit-exact margin replay: same k-NN lists (e_knn_brute shape), nano-
    // unit integer penalty sums, one fixed-shape double margin expression.
    "e_bitext" ->
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        |ab0 AS (SELECT q.vec_id AS x, e.vec_id AS y,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM a q, b e),
        |kab AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY cosine DESC, y) AS rn FROM ab0) WHERE rn <= 4),
        |ba0 AS (SELECT q.vec_id AS x, e.vec_id AS y,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM b q, a e),
        |kba AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY cosine DESC, y) AS rn FROM ba0) WHERE rn <= 4),
        |px AS (SELECT x, CAST(SUM(CAST(round(cosine * 1e9, 0) AS BIGINT)) AS BIGINT) AS pen_x,
        |    COUNT(*) AS cnt_x FROM kab GROUP BY x),
        |py AS (SELECT x AS yid, CAST(SUM(CAST(round(cosine * 1e9, 0) AS BIGINT)) AS BIGINT) AS pen_y,
        |    COUNT(*) AS cnt_y FROM kba GROUP BY x),
        |m AS (SELECT kab.x, kab.y, kab.cosine,
        |    kab.cosine / ((px.pen_x / (px.cnt_x * 1e9) +
        |                   py.pen_y / (py.cnt_y * 1e9)) / 2) AS margin
        |  FROM kab JOIN px USING (x) JOIN py ON kab.y = py.yid),
        |best AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY margin DESC, y) AS bn FROM m) WHERE bn = 1)
        |SELECT x AS src_id, y AS dst_id, cosine, margin FROM best
        |WHERE margin >= 1.0 ORDER BY src_id""".stripMargin,

    // n_exact is the full e_bitext replay's row count; the contract flags
    // are invariants the Spark side must have verified to 1.
    "e_bitext_ann" ->
      """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
        |b AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        |ab0 AS (SELECT q.vec_id AS x, e.vec_id AS y,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM a q, b e),
        |kab AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY cosine DESC, y) AS rn FROM ab0) WHERE rn <= 4),
        |ba0 AS (SELECT q.vec_id AS x, e.vec_id AS y,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM b q, a e),
        |kba AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY cosine DESC, y) AS rn FROM ba0) WHERE rn <= 4),
        |px AS (SELECT x, CAST(SUM(CAST(round(cosine * 1e9, 0) AS BIGINT)) AS BIGINT) AS pen_x,
        |    COUNT(*) AS cnt_x FROM kab GROUP BY x),
        |py AS (SELECT x AS yid, CAST(SUM(CAST(round(cosine * 1e9, 0) AS BIGINT)) AS BIGINT) AS pen_y,
        |    COUNT(*) AS cnt_y FROM kba GROUP BY x),
        |m AS (SELECT kab.x, kab.y, kab.cosine,
        |    kab.cosine / ((px.pen_x / (px.cnt_x * 1e9) +
        |                   py.pen_y / (py.cnt_y * 1e9)) / 2) AS margin
        |  FROM kab JOIN px USING (x) JOIN py ON kab.y = py.yid),
        |best AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
        |    ORDER BY margin DESC, y) AS bn FROM m) WHERE bn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS hits_ok, CAST(1 AS BIGINT) AS cos_ok,
        |  CAST(1 AS BIGINT) AS blocked_bounded
        |FROM best WHERE margin >= 1.0""".stripMargin,

    // Exact greedy-MMR replay: same candidates, same IEEE-double scores
    // (weights written as 0.7 / (1 - 0.7) to match the Scala lambda /
    // 1.0-lambda arithmetic bit-for-bit), same id tie-breaks.
    "e_mmr" ->
      """WITH RECURSIVE
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v,
        |         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS rel
        |  FROM embeddings e, q WHERE e.vec_id != 0
        |  ORDER BY rel DESC, id LIMIT 40),
        |pair AS (
        |  SELECT a.id AS id_a, b.id AS id_b, list_cosine_similarity(a.v, b.v) AS sim
        |  FROM cand a, cand b WHERE a.id != b.id),
        |step AS (
        |  SELECT 1 AS rk,
        |         (SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1) AS picked,
        |         [(SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1)] AS sel
        |  UNION ALL
        |  SELECT rk + 1, nxt.id, list_append(sel, nxt.id)
        |  FROM step, LATERAL (
        |    SELECT c.id FROM cand c
        |    WHERE NOT list_contains(step.sel, c.id)
        |    ORDER BY 0.7 * c.rel - (1 - 0.7) * (SELECT max(p.sim) FROM pair p
        |            WHERE p.id_a = c.id AND list_contains(step.sel, p.id_b)) DESC, c.id
        |    LIMIT 1) nxt
        |  WHERE rk < 10)
        |SELECT CAST(rk AS BIGINT) AS rank, s.picked AS vec_id, c.rel AS relevance
        |FROM step s JOIN cand c ON c.id = s.picked ORDER BY rank""".stripMargin,

    // Contract oracle (see the query comment): n_total recomputed, flags
    // are constants. The drop floor is MEASURED (tools.RecallProbe):
    // 102/107/1290 dropped at sf0.001/0.01/0.1 with nCells=8, thr=0.35 —
    // floor 50 keeps 2x margin under the smallest observation.
    "e_semantic_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(1 AS BIGINT) AS one_kept_per_cluster_ok,
        |       CAST(1 AS BIGINT) AS kept_pairs_ok,
        |       CAST(1 AS BIGINT) AS dropped_witness_ok,
        |       CAST(1 AS BIGINT) AS dropped_floor_ok
        |FROM embeddings""".stripMargin,

    // Invariant oracle (see the query comment): n_selected recomputed from
    // the table, contract flags are constants.
    "e_mmr_ann" ->
      """SELECT CAST(least(10, count(*) - 1) AS BIGINT) AS n_selected,
        |       CAST(1 AS BIGINT) AS ranks_ok,
        |       CAST(1 AS BIGINT) AS subset_ok,
        |       CAST(1 AS BIGINT) AS rel_exact_ok,
        |       CAST(1 AS BIGINT) AS chain_ok
        |FROM embeddings""".stripMargin,

    "e_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,

    "e_dedup_clusters" ->
      """WITH RECURSIVE
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    // Invariant oracles for the ANN scale paths: n_queries/n_returned are
    // recomputed; the hit floor and rank monotonicity are contract
    // constants (floors measured by tools.RecallProbe across sf).
    "e_knn_lsh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "e_knn_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "e_knn_ivfpq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "e_knn_ivf_filtered" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok,
        |       CAST(1 AS BIGINT) AS label_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "e_knn_ivfpq_index" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "e_knn_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // Invariant oracle: DuckDB recomputes the label-blocked exact pair
    // count (same expression as e_neardup); subset violations and the
    // recall floor are contract constants.
    "e_neardup_lsh" ->
      """WITH exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(0 AS BIGINT) AS n_violations,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM exact""".stripMargin,

    // BM25: DuckDB replays the full scoring formula; per-term contributions
    // round to exact micro-integers before the per-doc sum, so summation
    // order can't break the hash compare.
    "d_bm25_batch" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'dup'),
        |    (3, 'hash'), (3, 'vector'), (3, 'dup')),
        |toks AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS dl,
        |    unnest(string_split_regex(text, ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, min(dl) AS dl, count(*) AS tf
        |  FROM toks WHERE term IN (SELECT term FROM q)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n,
        |    CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |sc AS (SELECT doc_id, term, CAST(round(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
        |        0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))))
        |    * 1e6) AS BIGINT) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats),
        |pq AS (SELECT q.query_id, sc.doc_id, count(*) AS n_hit_terms,
        |    CAST(sum(c) AS BIGINT) AS score_micro
        |  FROM sc JOIN q USING (term) GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_micro DESC, doc_id) AS rk FROM pq)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rk AS INTEGER) AS rank,
        |  doc_id, n_hit_terms, score_micro
        |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,

    "d_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS dl,
        |    unnest(string_split_regex(text, ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, min(dl) AS dl, count(*) AS tf
        |  FROM toks WHERE term IN ('hash', 'join', 'vector', 'dup')
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n,
        |    CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS sum_dl
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_hit_terms,
        |  CAST(sum(CAST(round(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
        |        0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))))
        |    * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
        |FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // The two component shortlists replayed (BM25 CTEs = d_bm25's; knn =
    // e_knn_brute's shape), then the RRF sum in exact nano-unit integers.
    "d_hybrid" ->
      """WITH toks AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS dl,
        |    unnest(string_split_regex(text, ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, min(dl) AS dl, count(*) AS tf
        |  FROM toks WHERE term IN ('hash', 'join', 'vector', 'dup')
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n,
        |    CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |bm AS (SELECT doc_id,
        |    CAST(sum(CAST(round(
        |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |      * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
        |          0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))))
        |      * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank FROM bm),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cosine
        |  FROM embeddings e, q WHERE e.vec_id != 0),
        |vec AS (SELECT doc_id, rank FROM (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc) WHERE rank <= 20),
        |u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec)
        |SELECT doc_id, count(*) AS n_systems,
        |  CAST(sum(CAST(round(1e9 / (60 + rank), 0) AS BIGINT)) AS BIGINT) AS rrf_nano
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_nano DESC, doc_id LIMIT 15""".stripMargin,

    "d_unigram_lp" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |totals AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CAST(round(
        |    ln(CAST(c + 1 AS DOUBLE) / (t + v)) * 1e6) AS BIGINT)) AS BIGINT)
        |    AS lp_micro_sum
        |FROM toks JOIN freq USING (token) CROSS JOIN totals
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_lm_filter" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |totals AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM freq),
        |scored AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(round(
        |      ln(CAST(c + 1 AS DOUBLE) / (t + v)) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS lp_micro_sum
        |  FROM toks JOIN freq USING (token) CROSS JOIN totals GROUP BY doc_id),
        |w AS (SELECT doc_id, CAST(round(CAST(lp_micro_sum AS DOUBLE) / n_tokens, 0)
        |    AS BIGINT) AS lp_tok_micro FROM scored),
        |q AS (SELECT quantile_cont(lp_tok_micro, 0.1) AS thr FROM w)
        |SELECT doc_id, lp_tok_micro FROM w, q WHERE lp_tok_micro > thr
        |ORDER BY doc_id""".stripMargin,

    "e_centroids" ->
      """WITH e AS (SELECT label, i AS dim,
        |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS xm
        |  FROM embeddings, unnest(range(len(embedding))) AS u(i))
        |SELECT label, CAST(dim AS INT) AS dim, count(*) AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_micro,
        |  CAST(sum(xm) AS DOUBLE) / count(*) / 1e6 AS centroid
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "d_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |s AS (SELECT doc_id, l, unnest(range(0, (len(l) - 1) // 24 + 1)) AS i FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(len(l[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(l[i*24+1 : i*24+32], ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "d_pack" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
         |s AS (SELECT doc_id, l, unnest(range(0, (len(l) - 1) // 24 + 1)) AS i FROM t),
         |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |    CAST(len(l[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens,
         |    ${hexPrefix("md5(CAST(doc_id AS VARCHAR))", 12)} % 8 AS shard FROM s),
         |p AS (SELECT shard, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM c)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(floor(prior / 256.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin,

    "d_corpus_stats" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |g AS (SELECT array_to_string(l[i : i+2], ' ') AS gram
        |  FROM t, unnest(range(1, len(l) - 1)) AS u(i) WHERE len(l) >= 3)
        |SELECT (SELECT count(*) FROM t) AS n_docs,
        |  (SELECT CAST(sum(len(l)) AS BIGINT) FROM t) AS n_tokens,
        |  (SELECT count(DISTINCT gram) FROM g) AS distinct_3grams,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p90_ok""".stripMargin,

    "d_profile" ->
      """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_nulls, count(DISTINCT doc_id) AS n_distinct,
        |  min(CAST(doc_id AS VARCHAR)) AS min_val, max(CAST(doc_id AS VARCHAR)) AS max_val,
        |  TRUE AS hll_ok FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
        |  min(lang), max(lang), TRUE FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
        |  min(source), max(source), TRUE FROM documents
        |UNION ALL
        |SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
        |  min(text), max(text), TRUE FROM documents
        |ORDER BY col_name""".stripMargin,

    "d_drift" ->
      """WITH ta AS (SELECT unnest(string_split_regex(text, ' +')) AS token
        |            FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(string_split_regex(text, ' +')) AS token
        |       FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT token, count(*) AS c FROM ta GROUP BY 1),
        |cb AS (SELECT token, count(*) AS c FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.token, cb.token) AS token,
        |             coalesce(ca.c, 0) AS count_a, coalesce(cb.c, 0) AS count_b
        |      FROM ca FULL JOIN cb ON ca.token = cb.token)
        |SELECT token, CAST(count_a AS BIGINT) AS count_a,
        |       CAST(count_b AS BIGINT) AS count_b,
        |       CAST(abs(count_a * (SELECT count(*) FROM tb)
        |              - count_b * (SELECT count(*) FROM ta)) AS BIGINT) AS drift
        |FROM j ORDER BY drift DESC, token LIMIT 20""".stripMargin,

    "d_weighted_sample" ->
      """WITH q AS (SELECT doc_id,
        |  len(string_split_regex(text, ' +')) AS nt, md5(text) AS h
        |  FROM documents)
        |SELECT doc_id FROM q
        |WHERE (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)
        |  < floor(least(1.0, greatest(0.0, CAST(nt AS DOUBLE) / 400.0)) * 65536)
        |ORDER BY doc_id""".stripMargin,

    "d_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16 +
        |      (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
        |  < CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 64 WHEN 'es' THEN 64
        |              WHEN 'fr' THEN 32 WHEN 'zh' THEN 16 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    "d_bloom_dedup" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT (SELECT count(*) FROM batch b
        |        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text))
        |         AS n_exact_new,
        |       CAST(0 AS BIGINT) AS n_violations,
        |       TRUE AS kept_le_exact, TRUE AS recall_ok""".stripMargin,

    "d_source_mix" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |norm AS (
        |  SELECT source, n_docs,
        |         power(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE), 0.5) AS pa,
        |         sum(n_docs) OVER () AS total
        |  FROM counts)
        |SELECT source, n_docs,
        |       round(pa / sum(pa) OVER (), 6) AS weight,
        |       round(pa / sum(pa) OVER () * total, 3) AS expected_docs
        |FROM norm ORDER BY source""".stripMargin,

    "d_mix_plan" ->
      """WITH w AS (SELECT * FROM (VALUES
        |    ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.25 AS DOUBLE)),
        |    ('src2', CAST(0.125 AS DOUBLE)), ('src_books', CAST(0.125 AS DOUBLE)))
        |  AS t(source, wt)),
        |st AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT w.source, COALESCE(n_docs, 0) AS n_docs,
        |  COALESCE(n_tokens, 0) AS n_tokens,
        |  CAST(floor(1000000 * wt) AS BIGINT) AS need_tokens,
        |  CASE WHEN COALESCE(n_tokens, 0) > 0
        |    THEN CAST(CAST(floor(1000000 * wt) AS BIGINT) AS DOUBLE) / n_tokens
        |  END AS epochs
        |FROM w LEFT JOIN st USING (source) ORDER BY source""".stripMargin,

    "d_stream_dedup" ->
      """SELECT count(*) AS n_total,
        |       count(DISTINCT md5(coalesce(text,''))) AS n_keys,
        |       true AS kept_eq_keys, true AS one_per_key,
        |       CAST(0 AS BIGINT) AS violations
        |FROM documents""".stripMargin,

    "d_incremental_dedup" ->
      """SELECT doc_id FROM (
        |  SELECT b.doc_id,
        |    row_number() OVER (PARTITION BY md5(b.text) ORDER BY b.doc_id) AS rn
        |  FROM documents b
        |  WHERE b.doc_id % 10 = 0
        |    AND NOT EXISTS (SELECT 1 FROM documents c
        |                    WHERE c.doc_id % 10 <> 0 AND md5(c.text) = md5(b.text)))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // 3-gram decontamination: distinct-shingle overlap counts; string
    // shingles on the DuckDB side vs 64-bit hashed shingles on the Spark
    // side (identical counts barring ~2^-65-scale hash collisions — the
    // same equivalence d_ngram_pairs hash-proves).
    "d_decontaminate" ->
      """WITH tr AS (SELECT doc_id, string_split_regex(text, ' +') AS l
        |  FROM documents WHERE doc_id >= 20),
        |ev AS (SELECT string_split_regex(text, ' +') AS l
        |  FROM documents WHERE doc_id < 20),
        |trs AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS sh
        |  FROM tr),
        |evs AS (SELECT DISTINCT unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS sh
        |  FROM ev)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM trs JOIN evs USING (sh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_fuzzy_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |    ELSE list_transform(range(1, len(l) - 3 + 2),
        |                        i -> array_to_string(l[i:i+2], ' ')) END)) AS shingle
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cand AS (SELECT t.doc_id AS tid, e.doc_id AS eid, count(*) AS shared
        |  FROM sh t JOIN sh e ON t.shingle = e.shingle
        |  WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
        |  GROUP BY 1, 2),
        |exact AS (SELECT tid, eid FROM cand
        |  JOIN sizes st ON st.doc_id = tid
        |  JOIN sizes se ON se.doc_id = eid
        |  WHERE CAST(shared AS DOUBLE) / (st.sz + se.sz - shared) >= 0.2)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(0 AS BIGINT) AS n_violations,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM exact""".stripMargin,

    "e_covariance" ->
      """WITH e AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS xm
        |  FROM embeddings, unnest(range(1, 65)) AS t(i)),
        |s AS (SELECT i, CAST(sum(xm) AS BIGINT) AS sm FROM e GROUP BY 1),
        |p AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
        |    CAST(sum(a.xm * b.xm) AS BIGINT) AS pm
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2)
        |SELECT p.i, p.j, p.n AS n, sa.sm AS s_i_micro, sb.sm AS s_j_micro,
        |  p.pm AS p_micro2,
        |  (CAST(p.pm AS DOUBLE) / 1e12
        |    - (CAST(sa.sm AS DOUBLE) / 1e6) * (CAST(sb.sm AS DOUBLE) / 1e6) / p.n)
        |    / p.n AS cov
        |FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
        |ORDER BY 1, 2""".stripMargin,

    "e_whiten" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |       TRUE AS offdiag_ok, TRUE AS diag_ok""".stripMargin,

    "e_opq" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |       TRUE AS norms_ok, TRUE AS offdiag_ok""".stripMargin,

    "e_index_stats" ->
      """SELECT CAST(16 AS INT) AS n_cells, CAST(16 AS INT) AS m,
        |       CAST(32 AS INT) AS k, CAST(64 AS INT) AS dim,
        |       (SELECT count(*) FROM embeddings) AS n_vectors,
        |       TRUE AS cells_ok, TRUE AS occupancy_ok,
        |       CAST(1 AS BIGINT) AS n_epochs, TRUE AS drift_neutral,
        |       FALSE AS retrain_advised""".stripMargin,

    "e_index_drift" ->
      """WITH n AS (SELECT count(*) AS c FROM embeddings)
        |SELECT CAST(e AS BIGINT) AS epoch,
        |       (SELECT c FROM n) AS n_vectors,
        |       TRUE AS ratio_ok,
        |       (e = 2) AS retrain_advised
        |FROM (VALUES (0), (1), (2)) AS t(e)
        |ORDER BY epoch""".stripMargin,

    // Exact replay of the rebuild loop: pre-rebuild the shifted append
    // (epoch 1) fires the advisory; post-rebuild ALL vectors sit in one
    // epoch-0 row at ratio exactly 1.0 with the advisory clear.
    "e_index_rebuild" ->
      """WITH n AS (SELECT count(*) AS c FROM embeddings)
        |SELECT phase, CAST(epoch AS BIGINT) AS epoch,
        |       CAST(n_vectors AS BIGINT) AS n_vectors,
        |       ratio_ok, retrain_advised
        |FROM (
        |  SELECT 'pre' AS phase, 0 AS epoch, (SELECT c FROM n) AS n_vectors,
        |         TRUE AS ratio_ok, FALSE AS retrain_advised
        |  UNION ALL
        |  SELECT 'pre', 1, (SELECT c FROM n), TRUE, TRUE
        |  UNION ALL
        |  SELECT 'post', 0, 2 * (SELECT c FROM n), TRUE, FALSE)
        |ORDER BY phase, epoch""".stripMargin,

    // Int8 quantization: element-wise doubles are bit-identical across
    // engines (same operands, same ops); the cross-element error sum is
    // exact integer picounits.
    "e_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
        |s AS (SELECT vec_id, x,
        |    list_max(list_transform(x, e -> abs(e))) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, x, scale,
        |    list_transform(x, e -> round(e / scale)) AS qq
        |  FROM s WHERE scale > 0.0)
        |SELECT vec_id, round(scale, 6) AS scale6,
        |  CAST(len(list_filter(qq, e -> abs(e) = 127.0)) AS BIGINT) AS n_sat,
        |  CAST(list_sum(list_transform(range(1, len(x) + 1),
        |    i -> CAST(round((x[i] - qq[i] * scale) * (x[i] - qq[i] * scale) * 1e12)
        |         AS BIGINT))) AS BIGINT) AS err_pico
        |FROM q ORDER BY vec_id""".stripMargin,

    "e_knn_q8" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(3 * count(*) AS BIGINT) AS n_returned,
        |       CAST(1 AS BIGINT) AS hits_ok,
        |       CAST(1 AS BIGINT) AS ranked_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    // Full structural replay of the bucket guard's loud side: rebuild the
    // synthetic signature (0 for every fifth doc, v·(1+2^16+2^32+2^48)
    // otherwise), explode the four 16-bit bands, count every bucket, keep
    // the >cap ones as dropped_bucket rows, and count surviving pairs as
    // C(k,2) per identical-signature light residue class at or under the
    // cap (identical sigs verify at hamming 0; distinct residues never
    // share a bucket; the planted cluster is dropped in all four bands so
    // it contributes zero pairs).
    "m_bucket_audit" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 0
        |         ELSE ((doc_id % 961) + 1) * 281479271743489 END AS sig
        |  FROM documents),
        |bands AS (SELECT doc_id, band, (sig >> (band * 16)) & 65535 AS bits
        |  FROM d CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)),
        |df AS (SELECT band, bits, count(*) AS bucket_df
        |  FROM bands GROUP BY 1, 2),
        |dropped AS (SELECT 'dropped_bucket' AS kind, CAST(band AS INT) AS band,
        |    CAST(bits AS BIGINT) AS bits, bucket_df AS n
        |  FROM df WHERE bucket_df > 50),
        |-- pairs come from EVERY identical-signature group whose per-band
        |-- bucket df (= the group size) is at or under the cap — the
        |-- planted zero-sig cluster INCLUDED, so the replay mirrors the
        |-- guard's cap logic at any corpus size instead of assuming the
        |-- cluster always trips it (it survives, and pairs, when
        |-- n/5 <= 50)
        |surv AS (SELECT 'surviving_pairs' AS kind, CAST(-1 AS INT) AS band,
        |    CAST(-1 AS BIGINT) AS bits,
        |    CAST(COALESCE(SUM((k * (k - 1)) // 2), 0) AS BIGINT) AS n
        |  FROM (SELECT count(*) AS k FROM d GROUP BY sig)
        |  WHERE k <= 50)
        |SELECT * FROM dropped UNION ALL SELECT * FROM surv
        |ORDER BY kind, band, bits""".stripMargin,

    // Exact replay of the planted JPEG dedup structure — identical in
    // shape to m_image_dedup (the fixture lifts the same pattern/flip
    // construction to block granularity): within-group pairs among
    // m ∈ {0,1,2}, n_diff_ch = 0 for base↔copy and 3 (one flipped
    // grayscale thumb pixel = three replicated channels) for pairs
    // touching the re-encoded member; independents and cross-group
    // pairs must NOT appear.
    "m_jpeg_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(CASE WHEN a.m <= 1 AND b.m <= 1 THEN 0 ELSE 3 END
        |            AS BIGINT) AS n_diff_ch
        |FROM d a JOIN d b
        |  ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Structural replay of the marker-level metadata: dims and variant
    // flags from doc_id arithmetic; restart_interval is the DRI in
    // effect at EOI (0 for progressive — the encoder disables restarts
    // before its refinement scan); quality_est is constant 93: the
    // all-8s table sums to 512, the Annex K luma base to 3688, so
    // scale = round(51200/3688) = 14 and quality = (200-14)/2 = 93.
    "m_jpeg_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(10 + doc_id % 23 AS INT) AS width,
        |  CAST(9 + doc_id % 19 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS INT)
        |    AS n_components,
        |  doc_id % 5 >= 3 AS progressive,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS INT) AS samp_h,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS INT) AS samp_v,
        |  CAST(CASE WHEN doc_id % 5 >= 3 THEN 0
        |            WHEN doc_id % 4 = 1 THEN 1 + doc_id % 3
        |            ELSE 0 END AS INT) AS restart_interval,
        |  CAST(93 AS INT) AS quality_est,
        |  CAST(CASE WHEN doc_id % 7 < 3 THEN 1 + doc_id % 8
        |            ELSE 0 END AS INT) AS orientation
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY media_id""".stripMargin,

    // Analytic replay of the JPEG decode: the planted stream is exact
    // (constant DC-only blocks, quantizer 8), so each decoded pixel is
    // pure integer arithmetic over doc_id — luma from the 8x8 block
    // grid, chroma from the cs x cs region grid (16 for 4:2:0, 8 for
    // 4:4:4), converted with the decoder's libjpeg fixed-point
    // constants (91881/22554/46802/116130, +32768 >> 16; offsets are
    // nonnegative so integer division floors identically). The
    // truncated doc_id%17=0 cohort is DROPPED by the decoder and
    // excluded here.
    "m_jpeg" ->
      """WITH m AS (SELECT doc_id, doc_id % 3 AS v,
        |    10 + doc_id % 23 AS w, 9 + doc_id % 19 AS h,
        |    CASE WHEN doc_id % 3 = 1 THEN 16 ELSE 8 END AS cs
        |  FROM documents WHERE doc_id % 17 <> 0),
        |s AS (SELECT doc_id, w, h,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    64 + (doc_id*31 + ((p // h) // 8)*7 + ((p % h) // 8)*13) % 128
        |    + CASE WHEN v = 0 THEN 0 ELSE
        |        (91881 * ((doc_id*7 + ((p // h) // cs)*5
        |                   + ((p % h) // cs)*3) % 32) + 32768) // 65536
        |      END)) AS sr,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    64 + (doc_id*31 + ((p // h) // 8)*7 + ((p % h) // 8)*13) % 128
        |    - CASE WHEN v = 0 THEN 0 ELSE
        |        (22554 * ((doc_id*5 + ((p // h) // cs)*3
        |                   + ((p % h) // cs)*11) % 32)
        |         + 46802 * ((doc_id*7 + ((p // h) // cs)*5
        |                     + ((p % h) // cs)*3) % 32) + 32768) // 65536
        |      END)) AS sg,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    64 + (doc_id*31 + ((p // h) // 8)*7 + ((p % h) // 8)*13) % 128
        |    + CASE WHEN v = 0 THEN 0 ELSE
        |        (116130 * ((doc_id*5 + ((p // h) // cs)*3
        |                    + ((p % h) // cs)*11) % 32) + 32768) // 65536
        |      END)) AS sb
        |  FROM m)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(sr AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(sb AS DOUBLE) / (w * h) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // Analytic replay of the PNG decode: lossless, so each channel is
    // pure modular arithmetic over doc_id and the pixel index — gray
    // (ct 0) replicates one ramp, palette (ct 2 → colour type 3) looks
    // up a 16-slot planted palette by p%16, truecolour/RGBA share the
    // channel ramps (alpha dropped). The truncated doc_id%17=0 cohort
    // is refused by the CRC chunk walk and excluded here.
    "m_png" ->
      """WITH m AS (SELECT doc_id, doc_id % 4 AS ct,
        |    8 + doc_id % 13 AS w, 6 + doc_id % 11 AS h
        |  FROM documents WHERE doc_id % 17 <> 0),
        |s AS (SELECT doc_id, w, h,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN ct = 0 THEN (doc_id*7 + p*5) % 256
        |         WHEN ct = 2 THEN (doc_id + (p % 16)*17) % 256
        |         ELSE (doc_id*3 + p) % 256 END)) AS sr,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN ct = 0 THEN (doc_id*7 + p*5) % 256
        |         WHEN ct = 2 THEN (doc_id*3 + (p % 16)*29) % 256
        |         ELSE (doc_id*5 + 2*p) % 256 END)) AS sg,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN ct = 0 THEN (doc_id*7 + p*5) % 256
        |         WHEN ct = 2 THEN (doc_id*7 + (p % 16)*41) % 256
        |         ELSE (doc_id*11 + 3*p) % 256 END)) AS sb
        |  FROM m)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(sr AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(sb AS DOUBLE) / (w * h) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // Exact replay of the planted PNG dedup structure: all three
    // members m ∈ {0,1,2} decode to IDENTICAL pixels (m=1 exact bytes,
    // m=2 a lossless re-encode), so every within-group pair sits at
    // hamming 0 / n_diff_ch 0; independents and cross-group pairs must
    // NOT appear.
    "m_png_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_ch
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Analytic replay of the VP8L decode: lossless, so each channel is
    // pure modular arithmetic over doc_id and the pixel index — the
    // palette variant (v=4) looks up a 16-slot planted palette by
    // (p+doc_id)%16, the row-repeat variant (v=5) depends on x only,
    // the rest share the ramp forms. The truncated doc_id%17=0 cohort
    // refuses in the bitstream and is excluded here.
    "m_webp" ->
      """WITH m AS (SELECT doc_id, doc_id % 6 AS v,
        |    8 + doc_id % 13 AS w, 6 + doc_id % 11 AS h
        |  FROM documents WHERE doc_id % 17 <> 0),
        |s AS (SELECT doc_id, w, h,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN v = 4 THEN (doc_id + ((p + doc_id) % 16)*17) % 256
        |         WHEN v = 5 THEN (doc_id*3 + (p % w)) % 256
        |         ELSE (doc_id*3 + p) % 256 END)) AS sr,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN v = 4 THEN (doc_id*3 + ((p + doc_id) % 16)*29) % 256
        |         WHEN v = 5 THEN (doc_id*5 + 2*(p % w)) % 256
        |         ELSE (doc_id*5 + 2*p) % 256 END)) AS sg,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    CASE WHEN v = 4 THEN (doc_id*7 + ((p + doc_id) % 16)*41) % 256
        |         WHEN v = 5 THEN (doc_id*7 + 3*(p % w)) % 256
        |         ELSE (doc_id*11 + 3*p) % 256 END)) AS sb
        |  FROM m)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(sr AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(sb AS DOUBLE) / (w * h) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // Exact replay of the planted VP8L dedup structure: all three
    // members m ∈ {0,1,2} decode to IDENTICAL pixels (m=1 exact bytes,
    // m=2 a lossless re-encode through a different transform stack),
    // so every within-group pair sits at hamming 0 / n_diff_ch 0;
    // independents and cross-group pairs must NOT appear.
    "m_webp_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_ch
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the planted rotated-re-save structure: the
    // tag-8 member normalizes onto its base (one pair per group at
    // hamming 0), the untagged rotated control and the tagged
    // independent pair with nothing.
    "m_orient_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_ch
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m = 0 AND b.m = 1
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the oriented-index probe: only the tag-8 member
    // matches (its base, hamming 0, identical thumb); the untagged
    // rotated control and the tagged independent match nothing.
    "m_orient_index" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |       CAST(gid * 4 AS BIGINT) AS match_id,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_ch
        |FROM d WHERE m = 1
        |ORDER BY media_id""".stripMargin,

    // Structural replay of the decodeless PNG chunk walk: geometry and
    // colour type from doc_id arithmetic (ct 0→gray 0, 1→truecolour 2,
    // 2→palette 3 with the planted 16-slot PLTE, 3→RGBA 6), depth
    // always 8, never interlaced; alpha only on the RGBA cohort. The
    // truncated %17 cohort drops at the CRC walk.
    "m_png_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 13 AS INT) AS width,
        |  CAST(6 + doc_id % 11 AS INT) AS height,
        |  CAST(8 AS INT) AS bit_depth,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 2
        |       WHEN 2 THEN 3 ELSE 6 END AS INT) AS color_type,
        |  doc_id % 5 = 0 AS interlaced,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 16 ELSE 0 END AS INT)
        |    AS palette_size,
        |  doc_id % 4 = 3 AS has_alpha
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY media_id""".stripMargin,

    // Analytic replay of the GIF decode: lossless palette lookup, so
    // each channel mean is pure modular arithmetic (palette channel
    // formulas composed with the index raster formula). All four
    // variants (plain/interlaced/animated/transparent) share the same
    // FIRST-frame pixels by construction.
    "m_gif" ->
      """WITH m AS (SELECT doc_id, 6 + doc_id % 9 AS w, 5 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 17 <> 0),
        |s AS (SELECT doc_id, w, h,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    (doc_id*5 + ((p*3 + doc_id) % 16) * 11) % 256)) AS sr,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    (doc_id*7 + ((p*3 + doc_id) % 16) * 23) % 256)) AS sg,
        |  list_sum(list_transform(range(0, w * h), p ->
        |    (doc_id*11 + ((p*3 + doc_id) % 16) * 31) % 256)) AS sb
        |  FROM m)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(sr AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(sb AS DOUBLE) / (w * h) AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // Exact replay of the animated-GIF trim structure: base/copy pairs
    // share all nf = 3+gid%3 frames, pairs touching the trimmed member
    // share nf−1; every match is in temporal order so lis = n_matched;
    // the independent member pairs with nothing.
    "m_gif_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS n_matched,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS lis
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Structural replay of the APNG census: every stream animates,
    // nf = 3+gid%3 frames (the m=2 trim one fewer), 4 cs per frame.
    "m_apng_meta" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  TRUE AS animated,
        |  CAST(CASE WHEN m = 2 THEN 2 + gid % 3
        |       ELSE 3 + gid % 3 END AS INT) AS n_frames,
        |  CAST(4 * CASE WHEN m = 2 THEN 2 + gid % 3
        |       ELSE 3 + gid % 3 END AS INT) AS total_delay_cs
        |FROM d ORDER BY media_id""".stripMargin,

    // Exact replay of the APNG trim structure — the m_gif_dedup shape:
    // base/copy pairs share all nf = 3+gid%3 composited frames, pairs
    // touching the trimmed member nf−1, temporal order throughout so
    // lis = n_matched; the independent member pairs with nothing.
    "m_apng_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS n_matched,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS lis
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the animated-WebP trim structure (same shape).
    "m_awebp_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS n_matched,
        |       CAST(CASE WHEN a.m = 2 OR b.m = 2 THEN 2 + a.gid % 3
        |            ELSE 3 + a.gid % 3 END AS BIGINT) AS lis
        |FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the cross-format transcode structure: the APNG
    // (m=1) and animated-WebP (m=2) members match their GIF corpus
    // base (4g) with all nf = 3+gid%3 frames in temporal order; the
    // independent corpus member (m=3) matches nothing.
    "m_anim_xformat" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |       CAST(gid * 4 AS BIGINT) AS match_id,
        |       CAST(3 + gid % 3 AS BIGINT) AS n_matched,
        |       CAST(3 + gid % 3 AS BIGINT) AS lis
        |FROM d WHERE m IN (1, 2)
        |ORDER BY media_id, match_id""".stripMargin,

    // Structural replay of the decodeless GIF block walk: every column
    // from the doc_id%4 variant arithmetic; the truncated cohort drops
    // because the walk must reach the trailer.
    "m_gif_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(6 + doc_id % 9 AS INT) AS width,
        |  CAST(5 + doc_id % 7 AS INT) AS height,
        |  CASE WHEN doc_id % 4 >= 2 THEN '89a' ELSE '87a' END AS version,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 1 END AS INT)
        |    AS n_frames,
        |  doc_id % 4 = 2 AS animated,
        |  doc_id % 4 = 3 AS has_transparency,
        |  CAST(16 AS INT) AS gct_size,
        |  doc_id % 4 = 1 AS interlaced,
        |  CAST(CASE WHEN doc_id % 4 = 2 THEN 5 + doc_id % 5 + doc_id % 7
        |       ELSE 0 END AS INT) AS total_delay_cs
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY media_id""".stripMargin,

    // Structural replay of the WebP container walk: format by doc_id%3,
    // the lossless alpha-hint cohort, the animated ANMF census; the
    // truncated cohort drops via the RIFF length check.
    "m_webp_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 200 AS INT) AS width,
        |  CAST(14 + doc_id % 150 AS INT) AS height,
        |  CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
        |       ELSE 'extended' END AS format,
        |  doc_id % 3 = 1 AND doc_id % 2 = 0 AS has_alpha,
        |  doc_id % 3 = 2 AND doc_id % 5 = 0 AS animated,
        |  CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 5 = 0
        |       THEN 1 + doc_id % 4 ELSE 1 END AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 5 = 0
        |       THEN 40 * (1 + doc_id % 4) ELSE -1 END AS BIGINT)
        |    AS total_duration_ms
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY media_id""".stripMargin,

    // Structural replay of the unified metadata pre-pass: each
    // format's columns from its fixture arithmetic (the m_jpeg_meta /
    // m_png_meta / m_mp3_meta / m_mp4_meta forms plus the wav/y4m
    // closed forms), −1 sentinels on the axes a modality lacks, each
    // truncated %17 cohort dropped by its own strict walk.
    "m_media_meta" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |mp3 AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2'
        |         ELSE '2.5' END AS version,
        |    CAST((doc_id // 3) % 3 AS INT) AS sridx,
        |    3 + doc_id % 7 AS nf
        |  FROM docs WHERE doc_id % 17 <> 0),
        |mp3r AS (SELECT doc_id, nf,
        |  CASE version
        |    WHEN '1' THEN list_extract([44100,48000,32000], sridx + 1)
        |    WHEN '2' THEN list_extract([22050,24000,16000], sridx + 1)
        |    ELSE list_extract([11025,12000,8000], sridx + 1) END AS sr,
        |  CASE WHEN version = '1' THEN 1152 ELSE 576 END AS spf
        |  FROM mp3)
        |SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS modality,
        |    'jpeg' AS format, CAST(10 + doc_id % 23 AS INT) AS width,
        |    CAST(9 + doc_id % 19 AS INT) AS height,
        |    CAST(-1 AS BIGINT) AS duration_ms, CAST(-1 AS INT) AS sample_rate
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT), 'image', 'png',
        |    CAST(8 + doc_id % 13 AS INT), CAST(6 + doc_id % 11 AS INT),
        |    CAST(0 AS BIGINT), CAST(-1 AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(20000000 + doc_id AS BIGINT), 'audio', 'mp3',
        |    CAST(-1 AS INT), CAST(-1 AS INT),
        |    CAST(nf * spf * 1000 // sr AS BIGINT), CAST(sr AS INT)
        |  FROM mp3r
        |  UNION ALL
        |  SELECT CAST(30000000 + doc_id AS BIGINT), 'video', 'mp4',
        |    CAST(-1 AS INT), CAST(-1 AS INT),
        |    CAST((1000 + doc_id % 5000) * 1000
        |         // (600 * (1 + doc_id % 4)) AS BIGINT), CAST(-1 AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(40000000 + doc_id AS BIGINT), 'audio', 'wav',
        |    CAST(-1 AS INT), CAST(-1 AS INT),
        |    CAST((40 + doc_id % 50) * 1000
        |         // (8000 + (doc_id % 8) * 1000) AS BIGINT),
        |    CAST(8000 + (doc_id % 8) * 1000 AS INT)
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(50000000 + doc_id AS BIGINT), 'video', 'y4m',
        |    CAST(4 + (doc_id % 3) * 2 AS INT),
        |    CAST(4 + (doc_id % 2) * 2 AS INT),
        |    CAST((2 + doc_id % 4) * 40 AS BIGINT), CAST(-1 AS INT)
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(60000000 + doc_id AS BIGINT), 'unknown', 'unknown',
        |    CAST(-1 AS INT), CAST(-1 AS INT), CAST(-1 AS BIGINT),
        |    CAST(-1 AS INT)
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(70000000 + doc_id AS BIGINT), 'image', 'gif',
        |    CAST(6 + doc_id % 9 AS INT), CAST(5 + doc_id % 7 AS INT),
        |    CAST(CASE WHEN doc_id % 4 = 2
        |         THEN (5 + doc_id % 5 + doc_id % 7) * 10
        |         ELSE 0 END AS BIGINT), CAST(-1 AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(80000000 + doc_id AS BIGINT), 'image', 'webp',
        |    CAST(16 + doc_id % 200 AS INT), CAST(14 + doc_id % 150 AS INT),
        |    CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 5 = 0
        |         THEN 40 * (1 + doc_id % 4) ELSE -1 END AS BIGINT),
        |    CAST(-1 AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(100000000 + doc_id AS BIGINT), 'audio', 'flac',
        |    CAST(-1 AS INT), CAST(-1 AS INT),
        |    CAST((1000 + doc_id % 90000) * 1000
        |         // list_extract([8000,16000,44100,48000],
        |                         CAST(doc_id % 4 AS INT) + 1) AS BIGINT),
        |    CAST(list_extract([8000,16000,44100,48000],
        |                      CAST(doc_id % 4 AS INT) + 1) AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT CAST(110000000 + doc_id AS BIGINT), 'audio', 'ogg',
        |    CAST(-1 AS INT), CAST(-1 AS INT),
        |    CAST(CASE doc_id % 3
        |         WHEN 0 THEN (4800 + doc_id % 100000) * 1000
        |              // list_extract([8000,11025,22050,44100],
        |                              CAST(doc_id % 4 AS INT) + 1)
        |         WHEN 1 THEN (4800 + doc_id % 100000 - 312) * 1000 // 48000
        |         ELSE -1 END AS BIGINT),
        |    CAST(CASE doc_id % 3
        |         WHEN 0 THEN list_extract([8000,11025,22050,44100],
        |                                  CAST(doc_id % 4 AS INT) + 1)
        |         WHEN 1 THEN 48000 ELSE -1 END AS INT)
        |  FROM docs WHERE doc_id % 17 <> 0)
        |ORDER BY media_id""".stripMargin,

    // Structural replay of the cross-modality gate: per-cohort
    // dispositions from each fixture's arithmetic — geometry for the
    // image cohorts, integer-division durations for audio/video, the
    // junk cohort's four image drop kinds, unknown kept.
    "m_media_gate" ->
      """WITH docs AS (SELECT doc_id FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS modality,
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         ELSE 'kept' END AS gate
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT), 'image',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(20000000 + doc_id AS BIGINT), 'audio',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(30000000 + doc_id AS BIGINT), 'video',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         WHEN (1000 + doc_id % 5000) * 1000
        |              // (600 * (1 + doc_id % 4)) > 5000
        |         THEN 'dropped_huge' ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(40000000 + doc_id AS BIGINT), 'audio',
        |    CASE WHEN (40 + doc_id % 50) * 1000
        |              // (8000 + (doc_id % 8) * 1000) < 5
        |         THEN 'dropped_tiny' ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(50000000 + doc_id AS BIGINT), 'video',
        |    CASE WHEN doc_id % 3 = 0 OR doc_id % 2 = 0
        |         THEN 'dropped_tiny' ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(60000000 + doc_id AS BIGINT), 'unknown', 'kept'
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(70000000 + doc_id AS BIGINT), 'image',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         WHEN doc_id % 7 = 0 THEN 'dropped_tiny'
        |         ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(80000000 + doc_id AS BIGINT), 'image',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(90000000 + doc_id AS BIGINT), 'image',
        |    CASE (doc_id // 4) % 4 WHEN 0 THEN 'dropped_tiny'
        |         WHEN 1 THEN 'dropped_huge'
        |         WHEN 2 THEN 'dropped_malformed'
        |         ELSE 'dropped_unsupported' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(100000000 + doc_id AS BIGINT), 'audio',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         WHEN (1000 + doc_id % 90000) * 1000
        |              // list_extract([8000,16000,44100,48000],
        |                              CAST(doc_id % 4 AS INT) + 1) > 5000
        |         THEN 'dropped_huge' ELSE 'kept' END
        |  FROM docs
        |  UNION ALL
        |  SELECT CAST(110000000 + doc_id AS BIGINT), 'audio',
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         WHEN doc_id % 3 = 0 AND (4800 + doc_id % 100000) * 1000
        |              // list_extract([8000,11025,22050,44100],
        |                              CAST(doc_id % 4 AS INT) + 1) > 5000
        |         THEN 'dropped_huge' ELSE 'kept' END
        |  FROM docs)
        |ORDER BY media_id""".stripMargin,

    // Structural replay of the pre-decode gate dispositions: the
    // m_jpeg fixture keeps everything except its truncated %17 cohort;
    // the junk cohort's gate follows its group kind (gid%4).
    "m_meta_gate" ->
      """SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CASE WHEN doc_id % 17 = 0 THEN 'dropped_malformed'
        |         ELSE 'kept' END AS gate
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(1000000 + doc_id AS BIGINT),
        |    CASE (doc_id // 4) % 4 WHEN 0 THEN 'dropped_tiny'
        |         WHEN 1 THEN 'dropped_huge'
        |         WHEN 2 THEN 'dropped_malformed'
        |         ELSE 'dropped_unsupported' END
        |  FROM documents)
        |ORDER BY media_id""".stripMargin,

    // Exact replay of the composed gate→decode→dedup run: the kept
    // JPEG cohort pairs exactly as m_jpeg_dedup (within-group m ≤ 2,
    // perceptual); each junk group's byte-identical copies star under
    // the min key as exact_blob.
    "m_gated_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |         CAST(b.doc_id AS BIGINT) AS id_b, 'perceptual' AS kind
        |  FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        |   WHERE a.m <= 2 AND b.m <= 2
        |  UNION ALL
        |  SELECT CAST(1000000 + gid * 4 AS BIGINT),
        |         CAST(1000000 + doc_id AS BIGINT), 'exact_blob'
        |  FROM d WHERE m <> 0)
        |ORDER BY id_a, id_b, kind""".stripMargin,

    // Structural replay of the MP3 frame-header walk: the public
    // bitrate/sample-rate tables inlined as lists, frame count and
    // sample-per-frame arithmetic from doc_id; the truncated %17
    // cohort drops because frame lengths must chain exactly to EOF.
    "m_mp3_meta" ->
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2'
        |         ELSE '2.5' END AS version,
        |    CAST(1 + doc_id % 13 AS INT) AS bridx,
        |    CAST((doc_id // 3) % 3 AS INT) AS sridx,
        |    3 + doc_id % 7 AS nf
        |  FROM documents WHERE doc_id % 17 <> 0),
        |t AS (SELECT doc_id, version, nf,
        |  CASE WHEN version = '1'
        |    THEN list_extract([32,40,48,56,64,80,96,112,128,160,192,224,
        |                       256,320], bridx)
        |    ELSE list_extract([8,16,24,32,40,48,56,64,80,96,112,128,
        |                       144,160], bridx) END AS br,
        |  CASE version
        |    WHEN '1' THEN list_extract([44100,48000,32000], sridx + 1)
        |    WHEN '2' THEN list_extract([22050,24000,16000], sridx + 1)
        |    ELSE list_extract([11025,12000,8000], sridx + 1) END AS sr,
        |  CASE WHEN version = '1' THEN 1152 ELSE 576 END AS spf
        |  FROM m)
        |SELECT doc_id AS media_id, version, CAST(3 AS INT) AS layer,
        |  CAST(sr AS INT) AS sample_rate, CAST(br AS INT) AS bitrate_kbps,
        |  doc_id % 6 = 0 AS vbr,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(nf * spf * 1000 // sr AS BIGINT) AS duration_ms,
        |  doc_id % 2 = 0 AS has_id3v2,
        |  doc_id % 5 = 0 AS has_id3v1
        |FROM t ORDER BY media_id""".stripMargin,

    // Structural replay of the FLAC STREAMINFO fields and the
    // metadata-block census from doc_id arithmetic; the truncated %17
    // cohort drops (cut inside STREAMINFO).
    "m_flac_meta" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract([8000,16000,44100,48000],
        |                 CAST(doc_id % 4 AS INT) + 1) AS sr,
        |    1000 + doc_id % 90000 AS total
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT doc_id AS media_id,
        |  CAST(sr AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 24 ELSE 16 END AS INT)
        |    AS bits_per_sample,
        |  CAST(total AS BIGINT) AS total_samples,
        |  CAST(total * 1000 // sr AS BIGINT) AS duration_ms,
        |  CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
        |         + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
        |         + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_blocks,
        |  doc_id % 5 = 0 AS has_seek_table,
        |  doc_id % 2 = 0 AS has_vorbis_comment
        |FROM m ORDER BY media_id""".stripMargin,

    // Structural replay of the Ogg page walk: codec by doc_id%3, page
    // census (BOS + audio pages), terminal granule = total samples,
    // vorbis duration at the declared rate, opus at the fixed 48 kHz
    // minus the 312-sample pre-skip, unknown codecs with −1 sentinels;
    // the truncated %17 cohort drops (tiling + CRC both break).
    "m_ogg_meta" ->
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'vorbis' WHEN 1 THEN 'opus'
        |         ELSE 'unknown' END AS codec,
        |    list_extract([8000,11025,22050,44100],
        |                 CAST(doc_id % 4 AS INT) + 1) AS vr,
        |    4800 + doc_id % 100000 AS total
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT doc_id AS media_id, codec,
        |  CAST(CASE codec WHEN 'vorbis' THEN vr WHEN 'opus' THEN 48000
        |       ELSE -1 END AS INT) AS sample_rate,
        |  CAST(CASE WHEN codec = 'unknown' THEN -1
        |       ELSE 1 + doc_id % 2 END AS INT) AS n_channels,
        |  CAST(2 + doc_id % 4 AS INT) AS n_pages,
        |  CAST(total AS BIGINT) AS last_granule,
        |  CAST(CASE codec WHEN 'vorbis' THEN total * 1000 // vr
        |       WHEN 'opus' THEN (total - 312) * 1000 // 48000
        |       ELSE -1 END AS BIGINT) AS duration_ms
        |FROM m ORDER BY media_id""".stripMargin,

    // Structural replay of the ISO-BMFF box walk: brand, timescale,
    // duration, track census, and codec fourccs all from doc_id
    // arithmetic; the truncated %17 cohort drops because box sizes
    // must chain exactly to EOF.
    "m_mp4_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
        |       ELSE 'M4A ' END AS major_brand,
        |  CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
        |  CAST((1000 + doc_id % 5000) * 1000
        |       // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS INT)
        |    AS n_tracks,
        |  CASE WHEN doc_id % 4 = 1 THEN ''
        |       WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END
        |    AS video_codec,
        |  'mp4a' AS audio_codec,
        |  doc_id % 9 <> 0 AS has_mdat
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY media_id""".stripMargin,

    "m_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(4 + doc_id % 5 AS INT) AS width,
        |  CAST(3 + doc_id % 4 AS INT) AS height,
        |  CAST(list_sum(list_transform(range(0, 4 + doc_id % 5),
        |      x -> (x * 255) // (3 + doc_id % 5))) AS DOUBLE)
        |    / (4 + doc_id % 5) AS mean_r,
        |  CAST(list_sum(list_transform(range(0, 3 + doc_id % 4),
        |      y -> (y * 255) // (2 + doc_id % 4))) AS DOUBLE)
        |    / (3 + doc_id % 4) AS mean_g
        |FROM documents ORDER BY media_id""".stripMargin,

    // Analytic oracle for the QOI decode: even rows carry an x-gradient in
    // r and a y-gradient in g; odd rows are constant (r=200, g=10). Means
    // are exact integer sums over those closed forms, divided once.
    "m_features" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  5 + doc_id % 6 AS w, 4 + doc_id % 5 AS h FROM documents)
        |SELECT media_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(((h + 1) // 2) * list_sum(list_transform(range(0, w),
        |         x -> (x * 255) // (w - 1)))
        |       + (h // 2) * w * 200 AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(list_sum(list_transform(range(0, h),
        |         y -> CASE WHEN y % 2 = 0 THEN w * ((y * 255) // (h - 1))
        |              ELSE w * 10 END)) AS DOUBLE) / (w * h) AS mean_g
        |FROM m ORDER BY media_id""".stripMargin,

    // Analytic oracle for the WAV decode: sample i of doc d is
    // ((i·a + b) mod 97 − 48)·100 with a = 3 + d%5, b = d%7 — peak and
    // mean replayed as closed-form integer folds.
    "m_audio" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    8000 + (doc_id % 8) * 1000 AS rate, 40 + doc_id % 50 AS n,
        |    3 + doc_id % 5 AS a, doc_id % 7 AS b FROM documents)
        |SELECT media_id, CAST(rate AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(list_max(list_transform(range(0, n),
        |      i -> abs(((i * a + b) % 97 - 48) * 100))) AS INT) AS peak,
        |  CAST(list_sum(list_transform(range(0, n),
        |      i -> ((i * a + b) % 97 - 48) * 100)) AS DOUBLE) / n AS mean
        |FROM m ORDER BY media_id""".stripMargin,

    // Analytic oracle for the Y4M decode: luma pixel p of frame k in doc d
    // is (p·3 + k·5 + d) mod 251 — per-frame means replayed in closed form.
    "m_video" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    4 + (doc_id % 3) * 2 AS w, 4 + (doc_id % 2) * 2 AS h,
        |    2 + doc_id % 4 AS n FROM documents),
        |f AS (SELECT media_id, w, h, unnest(range(0, n)) AS k FROM m)
        |SELECT media_id, CAST(k AS INT) AS frame_idx, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(25 AS INT) AS fps,
        |  CAST(list_sum(list_transform(range(0, w * h),
        |      p -> (p * 3 + k * 5 + media_id) % 251)) AS DOUBLE)
        |    / (w * h) AS mean_y
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    "m_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  n_chars * 10 AS duration_ms FROM documents),
        |f AS (SELECT media_id, kind,
        |  CASE WHEN kind = 'video'
        |       THEN greatest(CAST(floor(duration_ms / 1000.0 * 1.0) AS BIGINT), 1)
        |       ELSE 1 END AS nf
        |  FROM m)
        |SELECT media_id, kind, unnest(range(nf)) AS frame_idx,
        |       CAST(floor(unnest(range(nf)) * 1000.0 / 1.0) AS BIGINT) AS frame_ts_ms
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // Exact replay of the planted perceptual-dup structure (see the query
    // comment): all within-group pairs among members m ∈ {0,1,2};
    // n_diff_ch = 0 iff both sides are the base/exact-copy pair, else 3
    // (the one flipped RGB pixel). Recall is guaranteed by construction
    // (≤2 differing dHash bits ⇒ ≥1 of 4 bands agrees); precision is the
    // absence of every other pair from this list.
    "m_image_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(CASE WHEN a.m <= 1 AND b.m <= 1 THEN 0 ELSE 3 END
        |            AS BIGINT) AS n_diff_ch
        |FROM d a JOIN d b
        |  ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the planted audio structure: all within-group pairs
    // among members {base, exact copy, 2x-amplitude copy} at fingerprint
    // distance 0 with 0 differing frame words; only base↔copy is
    // byte-identical. Round 19 adds the resampled cohorts (7000000+3g):
    // the 16 kHz master pairs its 32 kHz exact-upsample twin at
    // hamming 0 (rate normalization), the independent 32 kHz control
    // pairs with nothing. Precision = no other pair appears.
    "m_audio_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |g AS (SELECT doc_id // 4 AS gid FROM documents WHERE doc_id % 4 = 0)
        |SELECT * FROM (
        |  SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |         CAST(b.doc_id AS BIGINT) AS id_b,
        |         CAST(0 AS BIGINT) AS hamming,
        |         CAST(0 AS BIGINT) AS n_diff_words,
        |         (a.m <= 1 AND b.m <= 1) AS identical
        |  FROM d a JOIN d b
        |    ON a.gid = b.gid AND a.doc_id < b.doc_id
        |   WHERE a.m <= 2 AND b.m <= 2
        |  UNION ALL
        |  SELECT CAST(7000000 + 3 * gid AS BIGINT),
        |         CAST(7000000 + 3 * gid + 1 AS BIGINT),
        |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE
        |  FROM g)
        |ORDER BY id_a, id_b""".stripMargin,

    // Lossless twice over: the m_audio closed form survives the FLAC
    // encode→decode round trip bit-exactly, so the SAME analytic
    // replay applies to the rice/LPC decode path.
    "m_flac" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    8000 + (doc_id % 8) * 1000 AS rate, 40 + doc_id % 50 AS n,
        |    3 + doc_id % 5 AS a, doc_id % 7 AS b FROM documents)
        |SELECT media_id, CAST(rate AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(list_max(list_transform(range(0, n),
        |      i -> abs(((i * a + b) % 97 - 48) * 100))) AS INT) AS peak,
        |  CAST(list_sum(list_transform(range(0, n),
        |      i -> ((i * a + b) % 97 - 48) * 100)) AS DOUBLE) / n AS mean
        |FROM m ORDER BY media_id""".stripMargin,

    // Exact replay of the planted transcode structure: every
    // within-group pair among {WAV master, FLAC transcode, 32 kHz
    // FLAC resample} at fingerprint hamming 0 / 0 differing frame
    // words, NONE byte-identical (three different byte streams of one
    // master); the independent member appears in no pair.
    "m_flac_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        |       CAST(b.doc_id AS BIGINT) AS id_b,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_words,
        |       FALSE AS identical
        |FROM d a JOIN d b
        |  ON a.gid = b.gid AND a.doc_id < b.doc_id
        | WHERE a.m <= 2 AND b.m <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the planted video structure: matched-frame counts
    // are nf = 3 + gid%3 for full-frame-set pairs and nf-1 for pairs
    // touching the replaced-frame member ('cut'); the perturbed member
    // (3000000+gid) carries the full set at 1-2 drifted bits and the
    // REVERSED member (5000000+gid) carries the full set in reverse
    // order — lis collapses to 1 on any pair touching it. The
    // beyond-radius member (4000000+gid) is in the INPUT and absent
    // from every pair: the oracle's no-false-positive leg.
    "m_video_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id // 4 AS gid FROM documents),
        |mem AS (
        |  SELECT doc_id AS id, gid, FALSE AS cut, FALSE AS rev
        |  FROM d WHERE m <= 1
        |  UNION ALL
        |  SELECT doc_id, gid, TRUE, FALSE FROM d WHERE m = 2
        |  UNION ALL
        |  SELECT 3000000 + gid, gid, FALSE, FALSE FROM g
        |  UNION ALL
        |  SELECT 5000000 + gid, gid, FALSE, TRUE FROM g),
        |base AS (
        |  SELECT CAST(a.id AS BIGINT) AS id_a,
        |         CAST(b.id AS BIGINT) AS id_b,
        |         CAST(CASE WHEN a.cut OR b.cut THEN 2 + a.gid % 3
        |              ELSE 3 + a.gid % 3 END AS BIGINT) AS n_matched,
        |         CAST(CASE WHEN a.rev <> b.rev THEN 1
        |              WHEN a.cut OR b.cut THEN 2 + a.gid % 3
        |              ELSE 3 + a.gid % 3 END AS BIGINT) AS lis
        |  FROM mem a JOIN mem b
        |    ON a.gid = b.gid AND a.id < b.id)
        |SELECT * FROM (
        |  SELECT *, 'all' AS policy FROM base
        |  UNION ALL
        |  SELECT *, 'temporal' FROM base
        |  WHERE lis >= ceil(0.8 * n_matched))
        |ORDER BY id_a, id_b, policy""".stripMargin,

    // Exact replay of the byte-identical blob groups: members m=0 and m=1
    // of each group encode identical rasters to the same format, so every
    // group holding both contributes one 2-copy blob group.
    "m_blob_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 4 <= 1),
        |g AS (SELECT doc_id // 4 AS gid, min(doc_id) AS kept,
        |        count(*) AS n, sum(doc_id) AS ks
        |      FROM d GROUP BY 1 HAVING count(*) >= 2)
        |SELECT CAST(kept AS BIGINT) AS kept_key,
        |       CAST(n AS BIGINT) AS n_copies,
        |       CAST(ks AS BIGINT) AS key_sum
        |FROM g ORDER BY kept_key""".stripMargin,

    // Exact replay of the planted structure through the frozen-index
    // stream: the copy (m=1, 0 differing channels) and the flipped
    // member (m=2, the one RGB pixel) each match their group base;
    // the independent index member never matches.
    "m_stream_image_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |       CAST(gid * 4 AS BIGINT) AS match_id,
        |       CAST(CASE WHEN m = 1 THEN 0 ELSE 3 END AS BIGINT)
        |         AS n_diff_ch
        |FROM d WHERE m IN (1, 2)
        |ORDER BY media_id""".stripMargin,

    // Exact replay of the routed dedup: flat rasters (all byte-identical)
    // collapse to star pairs under their min key via the exact-blob
    // branch; the planted perceptual groups pair within-group as ever.
    "m_routed_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(1000000 + (SELECT min(doc_id) FROM d) AS BIGINT)
        |           AS id_a,
        |         CAST(1000000 + doc_id AS BIGINT) AS id_b,
        |         'exact_blob' AS kind
        |  FROM d WHERE doc_id > (SELECT min(doc_id) FROM d)
        |  UNION ALL
        |  SELECT CAST(a.doc_id AS BIGINT), CAST(b.doc_id AS BIGINT),
        |         'perceptual'
        |  FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        |  WHERE a.m <= 2 AND b.m <= 2)
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the incremental split: within the new batch the
    // copy and the flipped member pair with each other (3 differing
    // channels — the one flipped pixel); against the frozen corpus each
    // matches its group base (0 for the exact copy, 3 for the flip);
    // the independent corpus member matches nothing.
    "m_incr_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(gid * 4 + 1 AS BIGINT) AS id_a,
        |         CAST(gid * 4 + 2 AS BIGINT) AS id_b,
        |         CAST(3 AS BIGINT) AS n_diff_ch, 'batch' AS side
        |  FROM (SELECT DISTINCT gid FROM d)
        |  UNION ALL
        |  SELECT CAST(gid * 4 AS BIGINT), CAST(doc_id AS BIGINT),
        |         CAST(CASE WHEN m = 1 THEN 0 ELSE 3 END AS BIGINT),
        |         'corpus'
        |  FROM d WHERE m IN (1, 2))
        |ORDER BY id_a, id_b, side""".stripMargin,

    // Exact replay of the routed audio dedup: byte-identical silent
    // clips star-pair under their min key; planted audible groups pair
    // within-group (the m_audio_dedup structure).
    "m_routed_audio" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(1000000 + (SELECT min(doc_id) FROM d) AS BIGINT)
        |           AS id_a,
        |         CAST(1000000 + doc_id AS BIGINT) AS id_b,
        |         'exact_blob' AS kind
        |  FROM d WHERE doc_id > (SELECT min(doc_id) FROM d)
        |  UNION ALL
        |  SELECT CAST(a.doc_id AS BIGINT), CAST(b.doc_id AS BIGINT),
        |         'perceptual'
        |  FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        |  WHERE a.m <= 2 AND b.m <= 2)
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the routed video dedup: byte-identical all-black
    // clips (one stop frame each) star-pair under their min key; planted
    // perceptual groups pair within-group via BANDED frame matching —
    // including the bit-perturbed member (3000000+gid, banding-only
    // recall) — while the beyond-radius member (4000000+gid) pairs with
    // nothing despite riding the perceptual route.
    "m_routed_video" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |mem AS (
        |  SELECT doc_id AS id, gid FROM d WHERE m <= 2
        |  UNION ALL
        |  SELECT 3000000 + gid, gid
        |  FROM (SELECT DISTINCT doc_id // 4 AS gid FROM documents))
        |SELECT * FROM (
        |  SELECT CAST(1000000 + (SELECT min(doc_id) FROM d) AS BIGINT)
        |           AS id_a,
        |         CAST(1000000 + doc_id AS BIGINT) AS id_b,
        |         'exact_blob' AS kind
        |  FROM d WHERE doc_id > (SELECT min(doc_id) FROM d)
        |  UNION ALL
        |  SELECT CAST(a.id AS BIGINT), CAST(b.id AS BIGINT),
        |         'perceptual'
        |  FROM mem a JOIN mem b ON a.gid = b.gid AND a.id < b.id)
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the unified mixed-modality routing: each planted
    // modality's group triangle at its id offset, plus the star pairs of
    // the byte-identical unknown-magic cohort.
    "m_routed_media" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |tri AS (SELECT a.doc_id AS ia, b.doc_id AS ib
        |        FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        |        WHERE a.m <= 2 AND b.m <= 2)
        |SELECT * FROM (
        |  SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
        |         'perceptual' AS kind, 'image' AS modality FROM tri
        |  UNION ALL
        |  SELECT CAST(2000000 + ia AS BIGINT), CAST(2000000 + ib AS BIGINT),
        |         'perceptual', 'audio' FROM tri
        |  UNION ALL
        |  SELECT CAST(4000000 + ia AS BIGINT), CAST(4000000 + ib AS BIGINT),
        |         'perceptual', 'video' FROM tri
        |  UNION ALL
        |  SELECT CAST(6000000 + (SELECT min(doc_id) FROM d) AS BIGINT),
        |         CAST(6000000 + doc_id AS BIGINT), 'exact_blob', 'unknown'
        |  FROM d WHERE doc_id > (SELECT min(doc_id) FROM d)
        |  UNION ALL
        |  SELECT CAST(8000000 + gid * 4 AS BIGINT),
        |         CAST(8000000 + doc_id AS BIGINT), 'exact_blob', 'image'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(10000000 + ia AS BIGINT), CAST(10000000 + ib AS BIGINT),
        |         'perceptual', 'image' FROM tri
        |  UNION ALL
        |  SELECT CAST(12000000 + ia AS BIGINT), CAST(12000000 + ib AS BIGINT),
        |         'perceptual', 'image' FROM tri
        |  UNION ALL
        |  SELECT CAST(14000000 + gid * 4 AS BIGINT),
        |         CAST(14000000 + doc_id AS BIGINT), 'exact_blob', 'image'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(22000000 + ia AS BIGINT), CAST(22000000 + ib AS BIGINT),
        |         'perceptual', 'audio' FROM tri)
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact replay of the composed cross-modality gate: the kept
    // cohorts pair exactly as m_routed_media (the gate admits every
    // dedup fixture — 8×8 rasters at minSide 8, 64-200 ms clips inside
    // [5 ms, 5 s]); the three junk cohorts drop at the gate and keep
    // only their per-group exact stars, each in its magic-derived
    // modality.
    "m_gated_media" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |tri AS (SELECT a.doc_id AS ia, b.doc_id AS ib
        |        FROM d a JOIN d b ON a.gid = b.gid AND a.doc_id < b.doc_id
        |        WHERE a.m <= 2 AND b.m <= 2)
        |SELECT * FROM (
        |  SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
        |         'perceptual' AS kind, 'image' AS modality FROM tri
        |  UNION ALL
        |  SELECT CAST(2000000 + ia AS BIGINT), CAST(2000000 + ib AS BIGINT),
        |         'perceptual', 'audio' FROM tri
        |  UNION ALL
        |  SELECT CAST(4000000 + ia AS BIGINT), CAST(4000000 + ib AS BIGINT),
        |         'perceptual', 'video' FROM tri
        |  UNION ALL
        |  SELECT CAST(6000000 + (SELECT min(doc_id) FROM d) AS BIGINT),
        |         CAST(6000000 + doc_id AS BIGINT), 'exact_blob', 'unknown'
        |  FROM d WHERE doc_id > (SELECT min(doc_id) FROM d)
        |  UNION ALL
        |  SELECT CAST(8000000 + gid * 4 AS BIGINT),
        |         CAST(8000000 + doc_id AS BIGINT), 'exact_blob', 'image'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(10000000 + ia AS BIGINT), CAST(10000000 + ib AS BIGINT),
        |         'perceptual', 'image' FROM tri
        |  UNION ALL
        |  SELECT CAST(12000000 + ia AS BIGINT), CAST(12000000 + ib AS BIGINT),
        |         'perceptual', 'image' FROM tri
        |  UNION ALL
        |  SELECT CAST(14000000 + gid * 4 AS BIGINT),
        |         CAST(14000000 + doc_id AS BIGINT), 'exact_blob', 'image'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(16000000 + gid * 4 AS BIGINT),
        |         CAST(16000000 + doc_id AS BIGINT), 'exact_blob', 'image'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(18000000 + gid * 4 AS BIGINT),
        |         CAST(18000000 + doc_id AS BIGINT), 'exact_blob', 'audio'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(20000000 + gid * 4 AS BIGINT),
        |         CAST(20000000 + doc_id AS BIGINT), 'exact_blob', 'video'
        |  FROM d WHERE m <> 0
        |  UNION ALL
        |  SELECT CAST(22000000 + ia AS BIGINT), CAST(22000000 + ib AS BIGINT),
        |         'perceptual', 'audio' FROM tri)
        |ORDER BY id_a, id_b, kind""".stripMargin,

    // Exact replay of the audio stream: the copy (m=1) AND the
    // 2x-amplitude member (m=2) fingerprint identically to their group
    // base — hamming 0, zero differing frame words.
    "m_stream_audio_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |       CAST(gid * 4 AS BIGINT) AS match_id,
        |       CAST(0 AS BIGINT) AS hamming,
        |       CAST(0 AS BIGINT) AS n_diff_words
        |FROM d WHERE m IN (1, 2)
        |ORDER BY media_id, match_id""".stripMargin,

    // Exact replay of the video stream: the copy shares all nf = 3+gid%3
    // frames with its base, the last-frame-replaced member nf-1, and the
    // bit-perturbed member all nf through the banding only; every
    // planted match is in temporal order, so lis = n_matched.
    "m_stream_video_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |         CAST(gid * 4 AS BIGINT) AS match_id,
        |         CAST(CASE WHEN m = 1 THEN 3 + gid % 3
        |                   ELSE 2 + gid % 3 END AS BIGINT) AS n_matched,
        |         CAST(CASE WHEN m = 1 THEN 3 + gid % 3
        |                   ELSE 2 + gid % 3 END AS BIGINT) AS lis
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(3000000 + gid AS BIGINT), CAST(gid * 4 AS BIGINT),
        |         CAST(3 + gid % 3 AS BIGINT), CAST(3 + gid % 3 AS BIGINT)
        |  FROM (SELECT DISTINCT gid FROM d))
        |ORDER BY media_id, match_id""".stripMargin,

    // Exact replay of the incremental audio split: within the new batch
    // the copy and the 2x member pair at hamming 0 (identical
    // fingerprints); against the frozen corpus each matches its base.
    "m_incr_audio" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(gid * 4 + 1 AS BIGINT) AS id_a,
        |         CAST(gid * 4 + 2 AS BIGINT) AS id_b,
        |         CAST(0 AS BIGINT) AS hamming, 'batch' AS side
        |  FROM (SELECT DISTINCT gid FROM d)
        |  UNION ALL
        |  SELECT CAST(gid * 4 AS BIGINT), CAST(doc_id AS BIGINT),
        |         CAST(0 AS BIGINT), 'corpus'
        |  FROM d WHERE m IN (1, 2))
        |ORDER BY id_a, id_b, side""".stripMargin,

    // Exact replay of the incremental video split: batch pairs share
    // nf-1 frames (the replaced last frame) except pairs touching the
    // bit-perturbed member (full set through the banding); corpus
    // matches share nf (copy, perturbed) and nf-1 (replaced). Every
    // planted match is in temporal order, so lis = n_matched.
    "m_incr_video" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |b AS (
        |  SELECT doc_id AS id, gid, (m = 2) AS cut
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT 3000000 + gid, gid, FALSE
        |  FROM (SELECT DISTINCT doc_id // 4 AS gid FROM documents))
        |SELECT * FROM (
        |  SELECT CAST(x.id AS BIGINT) AS id_a,
        |         CAST(y.id AS BIGINT) AS id_b,
        |         CAST(CASE WHEN x.cut OR y.cut THEN 2 + x.gid % 3
        |                   ELSE 3 + x.gid % 3 END AS BIGINT) AS n_matched,
        |         CAST(CASE WHEN x.cut OR y.cut THEN 2 + x.gid % 3
        |                   ELSE 3 + x.gid % 3 END AS BIGINT) AS lis,
        |         'batch' AS side
        |  FROM b x JOIN b y ON x.gid = y.gid AND x.id < y.id
        |  UNION ALL
        |  SELECT CAST(x.gid * 4 AS BIGINT), CAST(x.id AS BIGINT),
        |         CAST(CASE WHEN x.cut THEN 2 + x.gid % 3
        |                   ELSE 3 + x.gid % 3 END AS BIGINT),
        |         CAST(CASE WHEN x.cut THEN 2 + x.gid % 3
        |                   ELSE 3 + x.gid % 3 END AS BIGINT),
        |         'corpus'
        |  FROM b x)
        |ORDER BY id_a, id_b, side""".stripMargin,

    // Exact replay of the incremental mixed-modality split: within the
    // batch each modality's m=1/m=2 members pair perceptually and the
    // byte-identical unknown cohort star-pairs under its min batch key;
    // against the frozen corpus every batch member matches its group
    // base perceptually, the m=1 copies also match exactly by content
    // hash, and every batch unknown matches the corpus representative.
    "m_incr_media" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |g AS (SELECT DISTINCT gid FROM d),
        |bu AS (SELECT min(doc_id) AS mn FROM d WHERE m IN (1, 2)),
        |cu AS (SELECT min(doc_id) AS mn FROM d WHERE m IN (0, 3))
        |SELECT * FROM (
        |  SELECT CAST(gid * 4 + 1 AS BIGINT) AS id_a,
        |         CAST(gid * 4 + 2 AS BIGINT) AS id_b,
        |         'perceptual' AS kind, 'image' AS modality, 'batch' AS side
        |  FROM g
        |  UNION ALL
        |  SELECT CAST(2000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(2000000 + gid * 4 + 2 AS BIGINT),
        |         'perceptual', 'audio', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(4000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(4000000 + gid * 4 + 2 AS BIGINT),
        |         'perceptual', 'video', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(6000000 + (SELECT mn FROM bu) AS BIGINT),
        |         CAST(6000000 + doc_id AS BIGINT),
        |         'exact_blob', 'unknown', 'batch'
        |  FROM d WHERE m IN (1, 2) AND doc_id > (SELECT mn FROM bu)
        |  UNION ALL
        |  SELECT CAST(gid * 4 AS BIGINT), CAST(doc_id AS BIGINT),
        |         'perceptual', 'image', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(2000000 + gid * 4 AS BIGINT),
        |         CAST(2000000 + doc_id AS BIGINT),
        |         'perceptual', 'audio', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(4000000 + gid * 4 AS BIGINT),
        |         CAST(4000000 + doc_id AS BIGINT),
        |         'perceptual', 'video', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(gid * 4 AS BIGINT), CAST(doc_id AS BIGINT),
        |         'exact_blob', 'image', 'corpus' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(2000000 + gid * 4 AS BIGINT),
        |         CAST(2000000 + doc_id AS BIGINT),
        |         'exact_blob', 'audio', 'corpus' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(4000000 + gid * 4 AS BIGINT),
        |         CAST(4000000 + doc_id AS BIGINT),
        |         'exact_blob', 'video', 'corpus' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(6000000 + (SELECT mn FROM cu) AS BIGINT),
        |         CAST(6000000 + doc_id AS BIGINT),
        |         'exact_blob', 'unknown', 'corpus'
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(8000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(8000000 + gid * 4 + 2 AS BIGINT),
        |         'exact_blob', 'image', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(8000000 + gid * 4 AS BIGINT),
        |         CAST(8000000 + doc_id AS BIGINT),
        |         'exact_blob', 'image', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(10000000 + gid * 4 + 2 AS BIGINT),
        |         'perceptual', 'image', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(10000000 + gid * 4 AS BIGINT),
        |         CAST(10000000 + doc_id AS BIGINT),
        |         'perceptual', 'image', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + gid * 4 AS BIGINT),
        |         CAST(10000000 + doc_id AS BIGINT),
        |         'exact_blob', 'image', 'corpus' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(12000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(12000000 + gid * 4 + 2 AS BIGINT),
        |         'perceptual', 'image', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(12000000 + gid * 4 AS BIGINT),
        |         CAST(12000000 + doc_id AS BIGINT),
        |         'perceptual', 'image', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(12000000 + gid * 4 AS BIGINT),
        |         CAST(12000000 + doc_id AS BIGINT),
        |         'exact_blob', 'image', 'corpus' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(14000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(14000000 + gid * 4 + 2 AS BIGINT),
        |         'exact_blob', 'image', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(14000000 + gid * 4 AS BIGINT),
        |         CAST(14000000 + doc_id AS BIGINT),
        |         'exact_blob', 'image', 'corpus' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(22000000 + gid * 4 + 1 AS BIGINT),
        |         CAST(22000000 + gid * 4 + 2 AS BIGINT),
        |         'perceptual', 'audio', 'batch' FROM g
        |  UNION ALL
        |  SELECT CAST(22000000 + gid * 4 AS BIGINT),
        |         CAST(22000000 + doc_id AS BIGINT),
        |         'perceptual', 'audio', 'corpus' FROM d WHERE m IN (1, 2))
        |ORDER BY id_a, id_b, side, kind""".stripMargin,

    // Exact replay of the mixed-modality stream: every m in {1,2} member
    // matches its group base perceptually (at each modality's id
    // offset), the byte-identical m=1 copies also match exactly, and
    // every stream unknown matches the corpus representative by content
    // hash.
    "m_stream_media" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |cu AS (SELECT min(doc_id) AS mn FROM d WHERE m IN (0, 3))
        |SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |         CAST(gid * 4 AS BIGINT) AS match_id,
        |         'perceptual' AS kind, 'image' AS modality
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(2000000 + doc_id AS BIGINT),
        |         CAST(2000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'audio' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(4000000 + doc_id AS BIGINT),
        |         CAST(4000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'video' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT), CAST(gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(2000000 + doc_id AS BIGINT),
        |         CAST(2000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'audio' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(4000000 + doc_id AS BIGINT),
        |         CAST(4000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'video' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(6000000 + doc_id AS BIGINT),
        |         CAST(6000000 + (SELECT mn FROM cu) AS BIGINT),
        |         'exact_blob', 'unknown'
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(8000000 + doc_id AS BIGINT),
        |         CAST(8000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT),
        |         CAST(10000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT),
        |         CAST(10000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(12000000 + doc_id AS BIGINT),
        |         CAST(12000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(12000000 + doc_id AS BIGINT),
        |         CAST(12000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(14000000 + doc_id AS BIGINT),
        |         CAST(14000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(22000000 + doc_id AS BIGINT),
        |         CAST(22000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'audio' FROM d WHERE m IN (1, 2))
        |ORDER BY media_id, match_id, kind""".stripMargin,

    // Exact replay of the GATED stream: kept cohorts match exactly as
    // m_stream_media; the three junk cohorts drop at the per-batch
    // header gate and match their frozen corpus representatives ONLY
    // by content hash (never a decode).
    "m_stream_gated" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents),
        |cu AS (SELECT min(doc_id) AS mn FROM d WHERE m IN (0, 3))
        |SELECT * FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |         CAST(gid * 4 AS BIGINT) AS match_id,
        |         'perceptual' AS kind, 'image' AS modality
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(2000000 + doc_id AS BIGINT),
        |         CAST(2000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'audio' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(4000000 + doc_id AS BIGINT),
        |         CAST(4000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'video' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT), CAST(gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(2000000 + doc_id AS BIGINT),
        |         CAST(2000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'audio' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(4000000 + doc_id AS BIGINT),
        |         CAST(4000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'video' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(6000000 + doc_id AS BIGINT),
        |         CAST(6000000 + (SELECT mn FROM cu) AS BIGINT),
        |         'exact_blob', 'unknown'
        |  FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(8000000 + doc_id AS BIGINT),
        |         CAST(8000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT),
        |         CAST(10000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(10000000 + doc_id AS BIGINT),
        |         CAST(10000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(12000000 + doc_id AS BIGINT),
        |         CAST(12000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(12000000 + doc_id AS BIGINT),
        |         CAST(12000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m = 1
        |  UNION ALL
        |  SELECT CAST(14000000 + doc_id AS BIGINT),
        |         CAST(14000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(16000000 + doc_id AS BIGINT),
        |         CAST(16000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'image' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(18000000 + doc_id AS BIGINT),
        |         CAST(18000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'audio' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(20000000 + doc_id AS BIGINT),
        |         CAST(20000000 + gid * 4 AS BIGINT),
        |         'exact_blob', 'video' FROM d WHERE m IN (1, 2)
        |  UNION ALL
        |  SELECT CAST(22000000 + doc_id AS BIGINT),
        |         CAST(22000000 + gid * 4 AS BIGINT),
        |         'perceptual', 'audio' FROM d WHERE m IN (1, 2))
        |ORDER BY media_id, match_id, kind""".stripMargin,

    // Exact replay of the composed media pipeline: the near-dup cluster
    // {4g, 4g+1, 4g+2} is labeled by its min id (4g — the DEGRADED
    // member), quality-aware keepBest crowns the sharp original 4g+1
    // (edge_energy beats the degraded copy; the tie with the identical
    // 4g+2 breaks toward the smaller id), the independent member 4g+3
    // survives as its own singleton, and every survivor's exported blob
    // reads back byte-identical from the tar shards.
    "m_dedup_pipeline" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS m
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS survivor_id,
        |       CAST(CASE WHEN m = 1 THEN gid * 4 ELSE doc_id END
        |            AS BIGINT) AS cluster_id,
        |       CAST(CASE WHEN m = 1 THEN 3 ELSE 1 END AS BIGINT)
        |         AS n_members,
        |       TRUE AS blob_ok
        |FROM d WHERE m IN (1, 3)
        |ORDER BY survivor_id""".stripMargin,

    "m_webdataset" ->
      """WITH m AS (SELECT doc_id % 16 AS shard, doc_id AS k,
        |  11 + (4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS nb
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(nb) AS BIGINT) AS blob_bytes,
        |       CAST(sum(k) AS BIGINT) AS key_sum
        |FROM m GROUP BY shard ORDER BY shard""".stripMargin,

    "q1_pricing" ->
      """WITH t AS (SELECT l_returnflag, l_linestatus,
        |  CAST(l_quantity AS DECIMAL(12,2)) AS qty,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) AS base,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |       * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS disc_price,
        |  CAST(l_discount AS DECIMAL(4,2)) AS disc,
        |  CAST(l_tax AS DECIMAL(4,2)) AS tax
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'),
        |t2 AS (SELECT *,
        |  CAST(disc_price * (1 + tax) AS DECIMAL(24,6)) AS charge FROM t)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS DOUBLE) AS sum_qty,
        |  CAST(sum(base) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(disc_price) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(charge) AS DOUBLE) AS sum_charge,
        |  CAST(sum(qty) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(base) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(disc) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM t2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q10_returns" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE)
        |      AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name,
        |  CAST(c_acctbal AS DOUBLE) AS acctbal, revenue
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo" ->
      """WITH t AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS dp,
        |    p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN dp
        |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(dp) AS DOUBLE) AS total_revenue,
        |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN dp
        |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(dp) AS DOUBLE) AS promo_pct
        |FROM t""".stripMargin,

    "q18_large" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sumq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
        |  CAST(o_totalprice AS DOUBLE) AS totalprice,
        |  CAST(sumq AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q3_revenue" ->
      """SELECT l_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
        |  o_orderpriority,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_nation_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q4_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_customers" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, '') AS f, coalesce(l_linestatus, '') AS s,
        |  CAST(GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, f, s""".stripMargin,

    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |      FROM orders) t
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,

    "q2_min_cost" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (
        |  SELECT ps.*, s_name, s_acctbal, n_name
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |mc AS (SELECT l_partkey AS mk, min(cost) AS min_cost FROM eu GROUP BY 1)
        |SELECT l_partkey AS p_partkey, s_name, n_name,
        |  CAST(s_acctbal AS DOUBLE) AS acctbal, CAST(cost AS DOUBLE) AS cost
        |FROM eu JOIN mc ON l_partkey = mk AND cost = min_cost
        |ORDER BY acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '1999-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q8_market_share" ->
      """WITH v AS (
        |  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol
        |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE) AS mkt_share,
        |  CAST(sum(vol) AS DOUBLE) AS total_volume
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_qty" ->
      """WITH stats AS (
        |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sq,
        |         count(*) AS cq
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         / 7.0 AS avg_yearly,
        |       count(*) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#13'
        |JOIN stats ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * 5 * cq < sq""".stripMargin,

    "q22_opportunity" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |pos AS (SELECT sum(bal_cents) AS s, count(*) AS n
        |        FROM c WHERE bal_cents > 0)
        |SELECT c_nationkey AS nation, count(*) AS numcust,
        |  sum(bal_cents) / 100.0 AS totacctbal
        |FROM c, pos
        |WHERE bal_cents > 0 AND bal_cents * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_forecast" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.05
        |  AND l_quantity < 24""".stripMargin,

    "q9_profit" ->
      """WITH t AS (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS dp,
        |    CAST(CAST(p_retailprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,4)) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey)
        |SELECT nation, o_year,
        |  CAST(sum(dp) AS DOUBLE) - CAST(sum(cost) AS DOUBLE) AS sum_profit
        |FROM t GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_stock" ->
      """WITH scoped AS (
        |  SELECT l_partkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS dp
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'),
        |per_part AS (
        |  SELECT l_partkey AS ps_partkey, sum(dp) AS v
        |  FROM scoped GROUP BY 1),
        |tot AS (SELECT sum(v) AS t, count(*) AS n FROM per_part)
        |SELECT ps_partkey, CAST(v AS DOUBLE) AS value
        |FROM per_part, tot
        |WHERE v * n > 2 * t
        |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q12_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_supplier_cnt" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11 AND p_type = 'SMALL')
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20 AND p_type = 'MEDIUM')
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30 AND p_type = 'LARGE')""".stripMargin,

    "q20_excess" ->
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '2000-01-01'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey AS pk, sum(qty) AS tq FROM sq GROUP BY 1),
        |qual AS (
        |  SELECT DISTINCT l_suppkey FROM sq JOIN tot ON l_partkey = pk
        |  WHERE 2 * qty > tq)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM qual)
        |  AND n_name IN ('NATION_3', 'NATION_4')
        |ORDER BY s_name""".stripMargin,

    "q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "t_funnel" ->
      s"""$TrailsCte
         |SELECT uuid,
         |  min(CASE WHEN event_type = 'signup' THEN time END) AS first_signup,
         |  max(CASE WHEN event_type = 'purchase' THEN time END) AS last_purchase
         |FROM trails GROUP BY uuid
         |HAVING min(CASE WHEN event_type = 'signup' THEN time END) IS NOT NULL
         |   AND max(CASE WHEN event_type = 'purchase' THEN time END)
         |       > min(CASE WHEN event_type = 'signup' THEN time END)
         |ORDER BY uuid""".stripMargin,

    "t_funnel_windowed" ->
      s"""$TrailsCte,
         |s1 AS (SELECT uuid, min(time) AS t0 FROM trails
         |       WHERE coalesce(event_type,'') = 'view' GROUP BY uuid),
         |s2 AS (SELECT tr.uuid AS uuid, min(tr.time) AS t1 FROM trails tr
         |       JOIN s1 ON tr.uuid IS NOT DISTINCT FROM s1.uuid
         |       WHERE coalesce(event_type,'') = 'click' AND tr.time > s1.t0
         |       GROUP BY tr.uuid),
         |s3 AS (SELECT tr.uuid AS uuid, min(tr.time) AS t2 FROM trails tr
         |       JOIN s2 ON tr.uuid IS NOT DISTINCT FROM s2.uuid
         |       WHERE coalesce(event_type,'') = 'purchase' AND tr.time > s2.t1
         |       GROUP BY tr.uuid),
         |u AS (SELECT DISTINCT uuid FROM trails)
         |SELECT u.uuid,
         |  CAST(CASE WHEN s1.t0 IS NULL THEN 0
         |       WHEN s2.t1 IS NULL OR s2.t1 - s1.t0 > 86400 THEN 1
         |       WHEN s3.t2 IS NULL OR s3.t2 - s1.t0 > 86400 THEN 2
         |       ELSE 3 END AS BIGINT) AS funnel_level,
         |  s1.t0 AS first_time
         |FROM u LEFT JOIN s1 ON u.uuid IS NOT DISTINCT FROM s1.uuid
         |  LEFT JOIN s2 ON u.uuid IS NOT DISTINCT FROM s2.uuid
         |  LEFT JOIN s3 ON u.uuid IS NOT DISTINCT FROM s3.uuid
         |ORDER BY u.uuid""".stripMargin,

    "t_paths" ->
      s"""$TrailsCte
         |, s AS (SELECT uuid, list(coalesce(event_type, '')
         |    ORDER BY time, seq, coalesce(event_type, '')) AS evs
         |  FROM trails GROUP BY uuid)
         |, g AS (SELECT array_to_string(evs[i : i+2], '>') AS path
         |  FROM s, unnest(range(1, len(evs) - 1)) AS u(i) WHERE len(evs) >= 3)
         |SELECT path, count(*) AS cnt FROM g
         |GROUP BY path ORDER BY cnt DESC, path LIMIT 25""".stripMargin,

    "t_paths_streamed" ->
      s"""$TrailsCte
         |, s AS (SELECT uuid, list(coalesce(event_type, '')
         |    ORDER BY time, seq, coalesce(event_type, '')) AS evs
         |  FROM trails GROUP BY uuid)
         |, g AS (SELECT array_to_string(evs[i : i+2], '>') AS path
         |  FROM s, unnest(range(1, len(evs) - 1)) AS u(i) WHERE len(evs) >= 3)
         |SELECT path, count(*) AS cnt FROM g
         |GROUP BY path ORDER BY cnt DESC, path LIMIT 25""".stripMargin,

    "q_events_daily" ->
      """SELECT event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    // ASOF LEFT JOIN finds the latest click <= view time; the tolerance
    // bound nulls the match when it is older than 600s — since the asof
    // match is the LATEST candidate, "latest too old" == "none in window".
    "t_asof_tol" ->
      s"""$TrailsCte,
         |l AS (SELECT uuid, time, seq FROM trails
         |      WHERE coalesce(event_type,'') = 'view'),
         |r AS (SELECT uuid, time, max(time) AS click_time,
         |             max(coalesce(props,'')) AS click_props
         |      FROM trails WHERE coalesce(event_type,'') = 'click'
         |      GROUP BY uuid, time)
         |SELECT l.uuid, l.time, l.seq,
         |       CASE WHEN r.click_time >= l.time - 600
         |            THEN r.click_time END AS asof_click_time,
         |       CASE WHEN r.click_time >= l.time - 600
         |            THEN r.click_props END AS asof_click_props
         |FROM l ASOF LEFT JOIN r ON l.uuid = r.uuid AND l.time >= r.time
         |ORDER BY l.uuid, l.time, l.seq""".stripMargin,

    "t_asof_tol_native" ->
      s"""$TrailsCte,
         |l AS (SELECT uuid, time, seq FROM trails
         |      WHERE coalesce(event_type,'') = 'view'),
         |r AS (SELECT uuid, time, max(time) AS click_time,
         |             max(coalesce(props,'')) AS click_props
         |      FROM trails WHERE coalesce(event_type,'') = 'click'
         |      GROUP BY uuid, time)
         |SELECT l.uuid, l.time, l.seq,
         |       CASE WHEN r.click_time >= l.time - 600
         |            THEN r.click_time END AS asof_click_time,
         |       CASE WHEN r.click_time >= l.time - 600
         |            THEN r.click_props END AS asof_click_props
         |FROM l ASOF LEFT JOIN r ON l.uuid = r.uuid AND l.time >= r.time
         |ORDER BY l.uuid, l.time, l.seq""".stripMargin,

    "t_attribution" ->
      s"""$TrailsCte,
         |c AS (SELECT uuid, time, seq, coalesce(event_type,'') AS et,
         |  last_value(CASE WHEN coalesce(event_type,'') IN ('view','click')
         |      THEN {'t': time, 'c': coalesce(event_type,'')} END IGNORE NULLS)
         |    OVER (PARTITION BY uuid ORDER BY time, seq
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM trails)
         |SELECT uuid, time, seq,
         |  CASE WHEN touch IS NOT NULL AND touch.t > time - 259200
         |       THEN touch.c ELSE 'direct' END AS channel,
         |  CASE WHEN touch IS NOT NULL AND touch.t > time - 259200
         |       THEN touch.t END AS touch_time
         |FROM c WHERE et = 'purchase'
         |ORDER BY uuid, time, seq""".stripMargin,

    "t_attribution_multi" ->
      s"""$TrailsCte,
         |c AS (SELECT uuid, time, seq, coalesce(event_type,'') AS et,
         |  coalesce(list({'t': time, 'c': coalesce(event_type,'')})
         |    OVER (PARTITION BY uuid ORDER BY time, seq
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    []) AS pre
         |  FROM trails),
         |tt AS (SELECT uuid, time, seq,
         |  list_filter(pre, x -> x.c IN ('view','click')
         |    AND x.t > time - 259200) AS touches
         |  FROM c WHERE et = 'purchase'),
         |e AS (SELECT uuid, time, seq, len(touches) AS n,
         |  CASE WHEN len(touches) = 0
         |    THEN [{'t': CAST(NULL AS BIGINT), 'c': 'direct'}]
         |    ELSE touches END AS arr
         |  FROM tt),
         |x AS (SELECT uuid, time, seq, n, i AS p, arr[i] AS tch
         |  FROM e, unnest(generate_series(1, len(arr))) AS u(i))
         |SELECT uuid, time, seq,
         |  CAST(CASE WHEN n = 0 THEN 0 ELSE p END AS BIGINT) AS pos,
         |  tch.c AS channel, tch.t AS touch_time,
         |  CAST(CASE WHEN n <= 1 THEN 1.0
         |       WHEN n = 2 THEN 0.5
         |       WHEN p = 1 OR p = n THEN 0.4
         |       ELSE round((CAST(1.0 AS DOUBLE) - 2 * CAST(0.4 AS DOUBLE))
         |                  / (n - 2), 6) END AS DOUBLE)
         |    AS credit
         |FROM x ORDER BY uuid, time, seq, pos""".stripMargin,

    "t_gaps" ->
      s"""$TrailsCte,
         |g AS (SELECT time - lag(time) OVER (
         |        PARTITION BY uuid ORDER BY time, seq) AS gap
         |      FROM trails)
         |SELECT CASE WHEN gap < 60 THEN 'lt_1m'
         |            WHEN gap < 3600 THEN '1m_1h'
         |            WHEN gap < 86400 THEN '1h_1d'
         |            ELSE 'ge_1d' END AS gap_band,
         |       CAST(count(*) AS BIGINT) AS n_gaps
         |FROM g WHERE gap IS NOT NULL
         |GROUP BY 1 ORDER BY gap_band""".stripMargin,

    "t_heatmap" ->
      s"""$TrailsCte
         |SELECT (time // 86400 + 4) % 7 AS dow,
         |       (time % 86400) // 3600 AS hour,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM trails GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,

    "t_transitions" ->
      s"""$TrailsCte,
         |p AS (SELECT coalesce(event_type,'') AS from_type,
         |  lead(coalesce(event_type,'')) OVER (
         |    PARTITION BY uuid ORDER BY time, seq) AS to_type
         |  FROM trails),
         |g AS (SELECT from_type, to_type, count(*) AS cnt FROM p
         |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, cnt,
         |  round(CAST(cnt AS DOUBLE) /
         |    CAST(sum(cnt) OVER (PARTITION BY from_type) AS BIGINT), 6) AS p
         |FROM g ORDER BY from_type, to_type""".stripMargin,

    "q_topk_agg" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey) AS BIGINT)
        |    AS rank,
        |  CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders
        |ORDER BY rank LIMIT 15""".stripMargin,

    // With 5 live keys on a 4x1024 grid the sketch is collision-free in at
    // least one hash row per key pair (spec-proven, data-independent), so
    // the estimate equals the exact count and a plain GROUP BY oracles it.
    "t_cms" ->
      s"""$TrailsCte
         |SELECT coalesce(event_type,'') AS event_type, count(*) AS cnt
         |FROM trails GROUP BY 1 ORDER BY event_type""".stripMargin,

    "d_bigram_lp" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS l
        |  FROM documents),
        |grams AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS bigram
        |  FROM toks, unnest(range(1, len(l))) AS u(i) WHERE len(l) >= 2),
        |freq AS (SELECT bigram, count(*) AS c FROM grams GROUP BY 1),
        |ctx AS (SELECT string_split(bigram, ' ')[1] AS w1,
        |        CAST(sum(c) AS BIGINT) AS ca FROM freq GROUP BY 1),
        |vocab AS (SELECT count(*) AS v FROM freq)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CAST(round(
        |    ln(CAST(c + 1 AS DOUBLE) / (ca + v)) * 1e6) AS BIGINT)) AS BIGINT)
        |    AS lp2_micro_sum
        |FROM grams JOIN freq USING (bigram)
        |  JOIN ctx ON string_split(bigram, ' ')[1] = ctx.w1
        |  CROSS JOIN vocab
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_range_join" ->
      """WITH camp AS (
        |  SELECT o_orderkey AS campaign,
        |         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS w_start
        |  FROM orders WHERE o_orderkey % 997 = 1),
        |pts AS (
        |  SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_ts,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem)
        |SELECT c.campaign, c.w_start,
        |       count(*) AS n_items,
        |       CAST(sum(p.price_cents) AS BIGINT) AS sum_price_cents
        |FROM camp c JOIN pts p
        |  ON p.ship_ts >= c.w_start AND p.ship_ts < c.w_start + 2592000
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "t_rolling" ->
      """WITH tv AS (
        |  SELECT printf('%032x', user_id) AS uuid,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS time,
        |         event_id AS seq,
        |         CAST(round(coalesce(value, 0) * 1e6) AS BIGINT) AS v_micro
        |  FROM events)
        |SELECT uuid, time, seq,
        |       count(*) OVER w AS n_win,
        |       CAST(sum(v_micro) OVER w AS BIGINT) AS sum_win
        |FROM tv
        |WINDOW w AS (PARTITION BY uuid ORDER BY time
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY uuid, time, seq""".stripMargin,

    "t_decay" ->
      s"""$TrailsCte,
         |m AS (SELECT uuid, time,
         |        max(time) OVER (PARTITION BY uuid) AS mx FROM trails)
         |SELECT uuid, count(*) AS n_events, max(time) AS last_time,
         |  CAST(sum(CAST(round(
         |    exp(CAST(time - mx AS DOUBLE) / 86400.0) * 1e6) AS BIGINT))
         |    AS BIGINT) AS score_micro
         |FROM m GROUP BY uuid ORDER BY uuid""".stripMargin,

    "t_funnel_excl" ->
      s"""$TrailsCte,
         |e AS (SELECT uuid, time, seq, coalesce(event_type,'') AS et,
         |  count(CASE WHEN coalesce(event_type,'') = 'error' THEN 1 END)
         |    OVER (PARTITION BY uuid ORDER BY time, seq
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
         |  FROM trails),
         |tr AS (SELECT * FROM e WHERE et != 'error'),
         |s1 AS (SELECT uuid, seg, min(time) AS t0 FROM tr
         |       WHERE et = 'view' GROUP BY uuid, seg),
         |s2 AS (SELECT tr.uuid AS uuid, tr.seg AS seg, min(tr.time) AS t1
         |       FROM tr JOIN s1 ON tr.uuid IS NOT DISTINCT FROM s1.uuid
         |         AND tr.seg = s1.seg
         |       WHERE et = 'click' AND tr.time > s1.t0 GROUP BY 1, 2),
         |s3 AS (SELECT tr.uuid AS uuid, tr.seg AS seg, min(tr.time) AS t2
         |       FROM tr JOIN s2 ON tr.uuid IS NOT DISTINCT FROM s2.uuid
         |         AND tr.seg = s2.seg
         |       WHERE et = 'purchase' AND tr.time > s2.t1 GROUP BY 1, 2),
         |lv AS (SELECT s1.uuid, s1.seg, s1.t0,
         |    CASE WHEN s2.t1 IS NULL OR s2.t1 - s1.t0 > 86400 THEN 1
         |         WHEN s3.t2 IS NULL OR s3.t2 - s1.t0 > 86400 THEN 2
         |         ELSE 3 END AS lvl
         |  FROM s1
         |  LEFT JOIN s2 ON s1.uuid IS NOT DISTINCT FROM s2.uuid
         |    AND s1.seg = s2.seg
         |  LEFT JOIN s3 ON s1.uuid IS NOT DISTINCT FROM s3.uuid
         |    AND s1.seg = s3.seg),
         |best AS (SELECT uuid, lvl, t0, row_number() OVER (
         |    PARTITION BY uuid ORDER BY lvl DESC, seg ASC) AS rn FROM lv),
         |u AS (SELECT DISTINCT uuid FROM trails)
         |SELECT u.uuid,
         |  CAST(coalesce(b.lvl, 0) AS BIGINT) AS funnel_level,
         |  b.t0 AS first_time
         |FROM u LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON u.uuid IS NOT DISTINCT FROM b.uuid
         |ORDER BY u.uuid""".stripMargin,

    "t_funnel_streamed" ->
      s"""$TrailsCte,
         |e AS (SELECT uuid, time, seq, coalesce(event_type,'') AS et,
         |  count(CASE WHEN coalesce(event_type,'') = 'error' THEN 1 END)
         |    OVER (PARTITION BY uuid ORDER BY time, seq
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seg
         |  FROM trails),
         |tr AS (SELECT * FROM e WHERE et != 'error'),
         |s1 AS (SELECT uuid, seg, min(time) AS t0 FROM tr
         |       WHERE et = 'view' GROUP BY uuid, seg),
         |s2 AS (SELECT tr.uuid AS uuid, tr.seg AS seg, min(tr.time) AS t1
         |       FROM tr JOIN s1 ON tr.uuid IS NOT DISTINCT FROM s1.uuid
         |         AND tr.seg = s1.seg
         |       WHERE et = 'click' AND tr.time > s1.t0 GROUP BY 1, 2),
         |s3 AS (SELECT tr.uuid AS uuid, tr.seg AS seg, min(tr.time) AS t2
         |       FROM tr JOIN s2 ON tr.uuid IS NOT DISTINCT FROM s2.uuid
         |         AND tr.seg = s2.seg
         |       WHERE et = 'purchase' AND tr.time > s2.t1 GROUP BY 1, 2),
         |lv AS (SELECT s1.uuid, s1.seg, s1.t0,
         |    CASE WHEN s2.t1 IS NULL OR s2.t1 - s1.t0 > 86400 THEN 1
         |         WHEN s3.t2 IS NULL OR s3.t2 - s1.t0 > 86400 THEN 2
         |         ELSE 3 END AS lvl
         |  FROM s1
         |  LEFT JOIN s2 ON s1.uuid IS NOT DISTINCT FROM s2.uuid
         |    AND s1.seg = s2.seg
         |  LEFT JOIN s3 ON s1.uuid IS NOT DISTINCT FROM s3.uuid
         |    AND s1.seg = s3.seg),
         |best AS (SELECT uuid, lvl, t0, row_number() OVER (
         |    PARTITION BY uuid ORDER BY lvl DESC, seg ASC) AS rn FROM lv),
         |u AS (SELECT DISTINCT uuid FROM trails)
         |SELECT u.uuid,
         |  CAST(coalesce(b.lvl, 0) AS BIGINT) AS funnel_level,
         |  b.t0 AS first_time
         |FROM u LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON u.uuid IS NOT DISTINCT FROM b.uuid
         |ORDER BY u.uuid""".stripMargin,

    "t_compact" ->
      s"""$TrailsCte,
         |r AS (SELECT uuid, time, event_type, props, seq,
         |  row_number() OVER (PARTITION BY uuid
         |    ORDER BY time DESC, seq DESC) AS rn
         |  FROM trails WHERE time >= 1704500000)
         |SELECT uuid, time, event_type, props, seq FROM r WHERE rn <= 5
         |ORDER BY uuid, time, seq""".stripMargin,

    "d_domain_cap" ->
      """SELECT doc_id, source, n_chars, cap_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cap_rank
        |  FROM documents)
        |WHERE cap_rank <= 5
        |ORDER BY source, cap_rank""".stripMargin,

    "d_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS l FROM documents),
        |spans AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(l[i:i+4], ' ') AS g
        |  FROM toks, unnest(generate_series(1, len(l) - 4)) AS u(i)),
        |firsts AS (
        |  SELECT doc_id, p,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
        |  FROM spans),
        |cov AS (
        |  SELECT DISTINCT doc_id, p + j AS t
        |  FROM firsts, unnest(generate_series(0, 4)) AS v(j) WHERE rn > 1),
        |pos AS (
        |  SELECT doc_id, i - 1 AS t, l[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(l))) AS u(i)),
        |kept AS (
        |  SELECT pos.doc_id, pos.t, pos.tok FROM pos
        |  LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.t = cov.t
        |  WHERE cov.t IS NULL),
        |kc AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY t) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t0.doc_id, CAST(len(t0.l) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(kc.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(kc.text_clean, '') AS text_clean
        |FROM toks t0 LEFT JOIN kc USING (doc_id)
        |ORDER BY t0.doc_id""".stripMargin,
  )
}
