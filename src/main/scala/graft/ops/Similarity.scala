package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ParquetInputs

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Two tiers:
  *
  *  - [[bruteForceKnn]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus side.
  *    The correctness baseline.
  *  - [[lshKnn]]: random-hyperplane LSH (Charikar, STOC'02) — corpus and
  *    queries bucketed by sign-pattern; search only within matching buckets
  *    (plus multiprobe neighbors). The 100 TB path: bucket join instead of
  *    cross join, with per-bucket top-k.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns in double
    * (deterministic left-to-right order — bit-reproducible). Native codegen
    * expression: one primitive loop per pair, no intermediate array (this
    * is the innermost loop of every pairwise join; see
    * [[graft.functions.DotF64]]).
    *
    * PRECONDITION: dense, equal-length arrays (every embedding column in
    * this library). On ragged or null-element inputs this returns a number
    * (truncates to min length, treats null elements as 0) where the builtin
    * [[dotFold]] composition would return NULL — the bit-identical
    * equivalence holds only on dense equal-length inputs. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotF64(a, b)

  /** The builtin-composed fold [[dot]] replaced (kept for the equivalence
    * spec — bit-identical doubles on dense equal-length arrays; see the
    * precondition on [[dot]] for the ragged/null divergence). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a float-array column, in double (same native fold). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** [[norm]] with the non-zero precondition ENFORCED: every ANN path
    * divides by this norm, and a zero-norm vector yields NaN cosine —
    * which the TopK shortlist aggregate ranks LAST while the window sort
    * it replays ranks FIRST (and probeCells' sort_array has the same
    * divergence for a zero-norm query). Both deterministic, but they
    * disagree, so the documented precondition becomes a loud plan-side
    * failure instead of a silent rank divergence (ADVICE r6). */
  private[ops] def checkedNorm(v: Column, side: String): Column = {
    val n = norm(v)
    when(n > 0, n).otherwise(raise_error(lit(
      s"graft ANN: zero-norm $side vector — cosine is NaN and shortlist " +
      "order is undefined; filter zero-norm vectors upstream")))
  }

  /** Sequential-fold cosine similarity between two float-array columns,
    * computed in double. For pairwise workloads prefer precomputing
    * [[norm]] per row — recomputing both norms per PAIR triples the
    * flops of the inner join loop. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR'98):
    * greedily select k of the top-`candidateN` cosine candidates,
    * each pick maximizing
    * `lambda·cos(q,d) − (1−lambda)·max_{s∈selected} cos(d,s)` —
    * the diversified-retrieval step that follows ANN candidate
    * generation in a RAG / training-data-selection pipeline.
    *
    * Scale shape: candidate generation is the distributed part
    * ([[bruteForceKnn]] here; swap in [[lshKnn]]/[[ivfKnn]] for a 100 TB
    * corpus) — the greedy rerank then runs driver-side over N rows,
    * because N (the candidate budget) is small BY DEFINITION and the
    * objective is inherently sequential (each pick changes every
    * remaining score). O(k·N²) double ops on ≤ a few hundred rows.
    *
    * Determinism: scores are IEEE doubles computed with the same
    * fold order as the distributed [[cosine]] (and DuckDB's
    * list_cosine_similarity — the e_knn_brute oracle hash-proves the
    * equivalence), ties break on id ascending, so the selection
    * replays exactly in any engine.
    */
  def mmrSelect(corpus: DataFrame, query: DataFrame, candidateN: Int, k: Int,
      lambda: Double, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && k <= candidateN, s"need 1 <= k <= candidateN")
    mmrSelectOver(corpus, bruteForceKnn(corpus, query, candidateN, vecCol, idCol),
      k, lambda, vecCol, idCol)
  }

  /** MMR rerank over an EXTERNALLY-generated candidate set — the 100 TB
    * composition: candidates come from any ANN path ([[pqKnn]], [[lshKnn]],
    * [[ivfKnn]]; each returns `(corpus_id, cosine, …)` with cosine exact
    * after rerank), the greedy tradeoff then runs driver-side over the
    * bounded candidate budget exactly as in [[mmrSelect]]. */
  def mmrSelectOver(corpus: DataFrame, cands: DataFrame, k: Int,
      lambda: Double, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]")
    val spark = corpus.sparkSession
    val rows = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_v"))
      .join(broadcast(cands.select("corpus_id", "cosine")), "corpus_id")
      .select("corpus_id", "cosine", "_v").collect()

    def ddot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    final case class Cand(id: Long, rel: Double, v: Array[Float], n: Double)
    val cs = rows.map { r =>
      val v = r.getSeq[Float](2).toArray
      Cand(r.getLong(0), r.getDouble(1), v, math.sqrt(ddot(v, v)))
    }
    // A multi-query candidate frame (duplicate corpus ids with per-query
    // scores) would silently corrupt the greedy objective — refuse it.
    require(cs.map(_.id).distinct.length == cs.length,
      "mmrSelectOver: duplicate candidate ids — pass ONE query's candidate " +
        "set (filter the ANN output to a single query_id)")
    def sim(a: Cand, b: Cand): Double = ddot(a.v, b.v) / (a.n * b.n)

    val divW = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[Cand]
    val remaining = scala.collection.mutable.ArrayBuffer(cs.sortBy(c => (-c.rel, c.id)): _*)
    while (selected.length < k && remaining.nonEmpty) {
      val best =
        if (selected.isEmpty) remaining.head // pre-sorted: argmax rel, id tie-break
        else remaining.minBy { c =>
          (-(lambda * c.rel - divW * selected.iterator.map(sim(c, _)).max), c.id)
        }
      selected += best
      remaining -= best
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.id, c.rel) }.toSeq
      .toDF("rank", "vec_id", "relevance")
  }

  /** Invariant summary for an MMR selection over an ANN candidate set —
    * the oracle shape for the composition whose candidate set is
    * model-specific (DuckDB cannot recompute WHICH 40 ids PQ shortlists)
    * but whose CONTRACT is: (1) exactly `k` rows ranked 1..k, (2) every
    * selected id came from the candidate set, (3) each relevance equals
    * the exact double-fold cosine — recomputed from the raw vectors when
    * the `query` frame is passed (pass it: without it the check only
    * certifies selection/candidate agreement), and
    * (4) the selection IS the greedy MMR chain over that candidate set —
    * verified by an independent driver-side replay (fresh cosine matrix
    * from raw vectors, not mmrSelect's internals): pick i must be the
    * `lambda·rel − (1−lambda)·maxSim`-argmax (id tie-break) among the
    * remaining candidates given picks 1..i−1.
    *
    * One row: (n_selected, ranks_ok, subset_ok, rel_exact_ok, chain_ok) —
    * n_selected is DuckDB-recomputable (min(k, candidates)), the flags are
    * contract constants (all 1). */
  def mmrInvariant(corpus: DataFrame, cands: DataFrame, selection: DataFrame,
      k: Int, lambda: Double, vecCol: String = "embedding",
      idCol: String = "vec_id", query: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val candRows = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_v"))
      .join(broadcast(cands.select("corpus_id", "cosine")), "corpus_id")
      .select("corpus_id", "cosine", "_v").collect()
    val sel = selection.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    def ddot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val vecs = candRows.map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    // Relevance source for rel_exact_ok and the chain replay: with `query`
    // given, each candidate's cosine is RECOMPUTED from the raw vectors
    // (same left-to-right fold as the distributed cosine — bit-identical
    // when the ANN rerank is right, so a wrong rerank cosine trips the
    // flag). Without it, rel falls back to the cands cosine column and the
    // flag only certifies sel/cands agreement (r5 ADVICE).
    val rel: Map[Long, Double] = query match {
      case Some(qdf) =>
        val qRows = qdf.select(col(vecCol)).collect()
        require(qRows.length == 1,
          s"mmrInvariant: query must be exactly one row, got ${qRows.length}")
        val qv = qRows(0).getSeq[Float](0).toArray
        val qn = math.sqrt(ddot(qv, qv))
        vecs.map { case (id, v) =>
          id -> ddot(v, qv) / (math.sqrt(ddot(v, v)) * qn)
        }
      case None => candRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val norms = vecs.map { case (id, v) => id -> math.sqrt(ddot(v, v)) }
    def sim(a: Long, b: Long): Double = ddot(vecs(a), vecs(b)) / (norms(a) * norms(b))

    val ranksOk = sel.map(_._1).toSeq == (1L to sel.length).toSeq
    val subsetOk = sel.forall(s => rel.contains(s._2))
    val relOk = subsetOk && sel.forall(s => s._3 == rel(s._2))
    val divW = 1.0 - lambda
    var chainOk = subsetOk
    if (subsetOk) {
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      for ((_, id, _) <- sel if chainOk) {
        val remaining = rel.keys.filterNot(picked.contains)
        val expected =
          if (picked.isEmpty) remaining.minBy(c => (-rel(c), c))
          else remaining.minBy(c =>
            (-(lambda * rel(c) - divW * picked.iterator.map(sim(c, _)).max), c))
        chainOk = expected == id
        picked += id
      }
    }
    import spark.implicits._
    Seq((sel.length.toLong, if (ranksOk) 1L else 0L, if (subsetOk) 1L else 0L,
        if (relOk) 1L else 0L, if (chainOk) 1L else 0L))
      .toDF("n_selected", "ranks_ok", "subset_ok", "rel_exact_ok", "chain_ok")
  }

  /** Per-query bounded-memory top-k over a scored candidate stream — the
    * shortlist step shared by every ANN path. [[graft.ops.Sketch.TopK]] as
    * a grouped aggregate: each map task keeps ≤k `(score, corpus_id)` pairs
    * per query, the exchange carries ≤k rows per (partition, query), and
    * the merge is associative — provably equal to
    * `row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id)`
    * (`q_topk_agg` hash-proves the equivalence for the global case; ties
    * break on corpus id both ways). The window form it replaces funneled
    * the ENTIRE scored stream for one query into ONE task — at a 10^9-row
    * corpus each query's partition IS the corpus; this shape's shuffle is
    * bounded at any corpus size.
    *
    * `corpus_id` is cast to long (the aggregator's id type) — every id
    * column in this library is int/long. Output: one row per kept
    * candidate, `(query_id, rank, corpus_id, <outScore>)`, rank 1..k.
    *
    * PRECONDITION: scores are non-NaN (a zero-norm vector yields NaN
    * cosine; Spark's window sort ranks NaN first under DESC while the
    * aggregator's Ordering ranks it last — both deterministic, but they
    * diverge, so exclude zero-norm vectors upstream if the corpus can
    * contain them).
    */
  private[ops] def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int,
      outScore: String): DataFrame = {
    Sketch.requireIntegralId(scored.schema, "corpus_id", "topKPerQuery")
    val tk = udaf(Sketch.TopK(k))
    scored.groupBy("query_id")
      .agg(tk(col(scoreCol).cast("double"), col("corpus_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("_2").as("corpus_id"),
        col("col").getField("_1").as(outScore))
  }

  /** Exact top-k by cosine for each query vector. `queries` is expected to
    * be small (it is broadcast); ties break on corpus id for determinism.
    * The per-query shortlist is the mergeable [[topKPerQuery]] aggregate —
    * ≤k rows per partition through the shuffle, never a per-query global
    * sort.
    *
    * `excludeSelf` (default true) drops candidates whose id equals the
    * query id — the self-kNN convention (queries drawn FROM the corpus
    * must not retrieve themselves). Pass false when corpus and queries
    * are INDEPENDENT collections with unrelated id spaces (e.g.
    * [[Mining.bitextMine]]'s two sides): there an id collision is a
    * coincidence, not an identity, and the filter would silently drop a
    * legitimate cross-collection pair. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      excludeSelf: Boolean = true): DataFrame =
    crossScoredTopK(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        checkedNorm(col(vecCol), "corpus").as("cn")),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        checkedNorm(col(vecCol), "query").as("qn")),
      k,
      keep = if (excludeSelf) Some(col("corpus_id") =!= col("query_id"))
             else None)

  /** The shared broadcast-scoring scaffold of [[bruteForceKnn]] and
    * [[hardNegatives]]: corpus × broadcast(queries), an optional pair
    * predicate, the exact cosine, and the mergeable TopK shortlist — one
    * definition so a change to norm checking, the cosine fold, or the
    * shortlist discipline cannot drift between the variants. Expects the
    * canonical (corpus_id, cv, cn) / (query_id, qv, qn) projections plus
    * any predicate columns. */
  private def crossScoredTopK(c: DataFrame, q: DataFrame, k: Int,
      keep: Option[Column]): DataFrame = {
    val paired = c.crossJoin(broadcast(q))
    val scored = keep.fold(paired)(paired.filter)
      .withColumn("cosine", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPerQuery(scored, "cosine", k, "cosine")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) —
    * xxhash64 of the index pair mapped to [-1, 1]. No RNG state. */
  private def planeComponent(plane: Int, dim: Column): Column = {
    val ix = dim + lit(plane * 65536)
    val mixed = xxhash64(ix)
    (mixed.cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Sign-pattern LSH bucket id from `nPlanes` deterministic hyperplanes.
    * bucket = sum over planes of (dot(v, plane) > 0) << plane. Native
    * codegen expression ([[graft.functions.SignLsh]]): the plane-weight
    * table is derived once per JVM and each row is one primitive
    * multiply-add loop — the interpreted per-row higher-order fold it
    * replaces ([[lshBucketFold]], kept for the bit-identity spec) was the
    * dominant cost of LSH corpus prep. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    graft.functions.GraftFunctions.signLsh(vec, nPlanes, dim)

  /** The builtin-composed per-plane fold [[lshBucket]] replaced — kept for
    * the equivalence spec (bit-identical bucket ids on dense length-`dim`
    * vectors: same weight derivation, same left-to-right double fold). */
  private[graft] def lshBucketFold(vec: Column, nPlanes: Int, dim: Int): Column = {
    val planes = (0 until nPlanes).map { p =>
      val dot = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), lit(dim - 1)), d => planeComponent(p, d)),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }
    planes.reduce(_ + _)
  }

  /** IVF (inverted-file) ANN: K-Means coarse quantizer partitions the
    * corpus into cells; each query probes its `nprobe` nearest centroids
    * and scores only those cells. The standard FAISS-style scale path —
    * training samples the corpus, assignment is one scan, search is a
    * (cell-key) bucket join. Deterministic via fixed seed. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int = 16,
      nprobe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val (cells, qCells) = coarseBlock(corpus, queries, nCells, nprobe,
      vecCol, idCol)
    val scored = cells.join(broadcast(qCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPerQuery(scored, "cosine", k, "cosine")
  }

  /** Exact FILTERED top-k: each query retrieves only corpus rows whose
    * `filterCol` value equals the query row's own — the metadata-constrained
    * vector search every serving stack needs (retrieve within a language,
    * a tenant, a safety tier). The predicate is an equi-join KEY, not a
    * post-filter: the broadcast hash join pairs each corpus row only with
    * queries of its own filter value, so the shortlist aggregate scores
    * qualifying candidates exclusively and each query gets k MATCHING
    * neighbors. The tempting alternative — run unfiltered kNN, then filter
    * the shortlist — silently returns <k rows whenever the true neighbors
    * are off-predicate (at selectivity 1/s, the expected survivors are k/s);
    * this shape has no such failure mode and never scores a row the
    * predicate excludes.
    *
    * NULL filter values follow equi-join semantics: a NULL-valued corpus
    * row matches no query, and a NULL-valued QUERY row returns zero rows
    * (not an error) — coalesce a sentinel upstream if NULL should be a
    * matchable group. For different-label retrieval see [[hardNegatives]]
    * (which treats NULL as its own label, null-safely). */
  def filteredKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      filterCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id", excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      checkedNorm(col(vecCol), "corpus").as("cn"), col(filterCol).as("_fv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn"), col(filterCol).as("_fv"))
    val paired = c.join(broadcast(q), Seq("_fv"))
    val scored = (if (excludeSelf)
        paired.filter(col("corpus_id") =!= col("query_id")) else paired)
      .withColumn("cosine", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPerQuery(scored, "cosine", k, "cosine")
  }

  /** Hard-negative mining (round 8): each query's top-k most similar
    * corpus rows with a DIFFERENT label — the contrastive-training
    * counterpart of [[filteredKnn]] (a hard negative is maximally
    * similar while labeled otherwise; random negatives are trivially
    * easy and teach nothing — the standard retrieval/embedding-training
    * recipe). Same broadcast + mergeable-TopK discipline; the label
    * INEQUALITY cannot be an equi-join key, so the predicate rides the
    * broadcast-join filter below the shortlist — still never a
    * post-filter of an unfiltered shortlist (which would starve exactly
    * when the nearest neighbors are same-label, i.e. always, for a good
    * embedding). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    crossScoredTopK(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        checkedNorm(col(vecCol), "corpus").as("cn"), col(labelCol).as("_cl")),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        checkedNorm(col(vecCol), "query").as("qn"), col(labelCol).as("_ql")),
      k,
      keep = Some(!(col("_cl") <=> col("_ql"))))

  /** Filtered IVF: [[ivfKnn]]'s coarse-cell pruning with the metadata
    * predicate pushed INSIDE the probed cells — the bucket join keys on
    * `(cell, filter value)`, so a probed cell contributes only its
    * predicate-matching rows to the scoring stream. At serving scale this
    * is the difference between "scan nprobe cells, keep 1/s of what you
    * scored" and "scan the 1/s qualifying slice of nprobe cells": the
    * scored stream (the dominant cost) shrinks by the predicate's
    * selectivity, and the per-query shortlist stays the bounded mergeable
    * [[topKPerQuery]] aggregate. Cells are trained on the full corpus
    * (one quantizer, all filter values) — per-value quantizers would
    * fragment training at high cardinality; the join key composition gets
    * the same pruning without extra models. */
  def filteredIvfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 2, filterCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val (cells, qCells) = coarseBlock(corpus, queries, nCells, nprobe,
      vecCol, idCol, carryCol = Some(filterCol))
    val scored = cells.join(broadcast(qCells), Seq("cell", "_fv"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPerQuery(scored, "cosine", k, "cosine")
  }

  /** The coarse-quantizer blocking step shared by [[ivfKnn]] and the
    * cross-collection miner ([[Mining]]): train centroids with an
    * in-process Lloyd on a deterministic capped sample (same rationale as
    * pqTrain — an MLlib fit paid per execution was all job overhead),
    * assign each corpus row its nearest cell via the codegen'd PqCodes
    * expression with m=1 (one subspace spanning the whole vector = plain
    * nearest-centroid), probe each query's `nprobe` nearest cells.
    * Returns (corpus cells `(corpus_id, cv, cn, cell)`, probe frame
    * `(query_id, qv, qn, cell)`). The IVF-PQ paths keep their own copies:
    * they thread the residual/`_qcdot` terms this shape deliberately
    * drops. */
  private[ops] def coarseBlock(corpus: DataFrame, queries: DataFrame,
      nCells: Int, nprobe: Int, vecCol: String, idCol: String,
      maxSample: Int = 65536, carryCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val cents = lloyd(sampleVectors(corpus, vecCol, maxSample = maxSample),
      nCells, iters = 10, seed = 42L)
    val flat = cents.flatMap(_.toSeq).toSeq
    val carryC = carryCol.map(c => Seq(col(c).as("_fv"))).getOrElse(Nil)
    val cells = corpus.select(Seq(col(idCol).as("corpus_id"),
      col(vecCol).as("cv"),
      checkedNorm(col(vecCol), "corpus").as("cn"),
      element_at(graft.functions.GraftFunctions.pqCodes(
        col(vecCol), 1, nCells, flat), 1).as("cell")) ++ carryC: _*)
    val q = queries.select(Seq(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn")) ++ carryC: _*)
    val qCells = probeCells(q, cents, nprobe)
      .select(("query_id" +: "qv" +: "qn" +: "cell" +:
        carryCol.map(_ => "_fv").toSeq).map(col): _*)
    (cells, qCells)
  }

  /** Each query's `nprobe` nearest coarse cells, as a pure PROJECTION over
    * the driver-local centroids (they were just trained in-process): one
    * inline cosine per centroid literal, struct-sort, slice nprobe,
    * explode — no crossJoin, no window, no shuffle of the query side.
    * Sort key (−cdist, cell) replays the row_number window's (cdist DESC,
    * cell ASC) ordering this replaced; the centroid norm is the same
    * left-to-right double fold the native norm() computes, replayed on the
    * driver, so cdist is bit-identical to the join form. Requires
    * `qv`/`qn` columns on `q`; all existing columns ride along, plus
    * `cell` and `_qcdot` = <qv, centroid(cell)> (the IVFADC first-order
    * term — a trailing struct field, so it can never perturb the
    * (negd, cell) probe order). */
  private[ops] def probeCells(q: DataFrame, cents: Array[Array[Float]],
      nprobe: Int): DataFrame = {
    def driverNorm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val cellCands = array(cents.zipWithIndex.map { case (c, i) =>
      val qcdot = dot(col("qv"), typedLit(c.toSeq))
      struct(
        (-(qcdot / (col("qn") * lit(driverNorm(c))))).as("negd"),
        lit(i).as("cell"),
        qcdot.as("qcdot"))
    }: _*)
    q.withColumn("_pc", explode(slice(sort_array(cellCands), 1, nprobe)))
      .withColumn("cell", col("_pc.cell"))
      .withColumn("_qcdot", col("_pc.qcdot"))
      .drop("_pc")
  }

  /** IVF-PQ ANN — the composed 100 TB search path (Jégou et al.,
    * TPAMI'11 §IV's IVFADC structure): the coarse quantizer PRUNES (each
    * query ADC-scores only its `nprobe` cells ≈ nprobe/nCells of the
    * corpus, vs [[pqKnn]]'s full-corpus ADC pass), PQ codes COMPRESS (the
    * candidate stream is (id, norm, cell, m bytes) — no raw vectors), and
    * the exact rerank keeps the output contract bit-identical to every
    * other ANN variant: (query_id, rank, corpus_id, cosine) with
    * exact-cosine-descending ranks.
    *
    * Residual encoding (round 7 — classic IVFADC, Jégou §IV-A): codes
    * quantize the RESIDUAL x − c(cell) with ONE product quantizer shared
    * by all cells, trained on the residual sample. Residuals have far
    * less variance than raw vectors, so the same m×k code budget
    * quantizes much tighter. The ADC estimate decomposes as
    * <q, x> ≈ <q, c(cell)> + Σ_s tbl_q[s][codes_s] — the first-order term
    * is a per-(query, probed-cell) SCALAR that [[probeCells]] computes
    * from the same driver centroid literals it already sorts on, and the
    * lookup table stays per-QUERY (built from q itself, shared across
    * probed cells), so the plan shape is unchanged: encode is one
    * codegen'd [[graft.functions.PqResidualCodes]] scan (subtraction
    * fused into the argmin loop), search adds one column to the broadcast
    * probe frame. Both prunes are approximations the rerank repairs
    * within the shortlist.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4, m: Int = 4, codebookK: Int = 16,
      shortlist: Int = 50, dim: Int = 64, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val pts = sampleVectors(corpus, vecCol)
    val cents = lloyd(pts, nCells, iters = 10, seed = 42L)
    val flatCells = cents.flatMap(_.toSeq).toSeq
    val cb = pqTrainPoints(residualPoints(pts, cents), m, codebookK, dim)
    // candidate stream: cell + residual codes + norm ONLY (no raw vectors)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("_cv"),
        checkedNorm(col(vecCol), "corpus").as("cn"),
        element_at(graft.functions.GraftFunctions.pqCodes(
          col(vecCol), 1, nCells, flatCells), 1).as("cell"))
      .withColumn("codes", graft.functions.GraftFunctions.pqResidualCodes(
        col("_cv"), col("cell"), m, codebookK, cb.flat, flatCells))
      .drop("_cv")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn"), adcTable(col(vecCol), cb).as("tbl"))
    val qCells = probeCells(q, cents, nprobe)
      .select("query_id", "qn", "tbl", "cell", "_qcdot")
    // ADC over the PROBED cells only — the join key prunes before any
    // score is computed; shortlist via the mergeable top-k aggregate.
    val adc = c.join(broadcast(qCells), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc",
        (col("_qcdot") +
          graft.functions.GraftFunctions.adcSum(col("codes"), col("tbl"))) /
        (col("cn") * col("qn")))
    val short = topKPerQuery(adc, "adc", shortlist, "adc")
      .select("query_id", "corpus_id")
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val rer = raw.join(broadcast(short), Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cosine",
        dot(col("cv"), col("qv")) / (norm(col("cv")) * col("qn")))
    topKPerQuery(rer, "cosine", k, "cosine")
  }

  /** PERSISTENT IVF-PQ index — the offline-build / online-search split a
    * deployed 100 TB corpus actually runs: [[ivfPqKnn]] retrains the
    * quantizers and re-encodes the whole corpus on every call, which is
    * right for a one-shot query but wrong for a serving table. Build
    * writes the trained model + the encoded candidate stream ONCE:
    *
    *  - `<path>/codes`: (corpus_id, cn, codes) parquet PARTITIONED BY the
    *    coarse cell — a probe reads only its nprobe/nCells partitions via
    *    static partition pruning (the spec pins `PartitionFilters` in the
    *    scan), the Spark-native analog of IVF's inverted lists.
    *  - `<path>/meta`: one-row parquet holding the coarse centroids and
    *    residual codebooks (flattened float arrays + dims).
    *
    * Search never touches raw corpus vectors until the exact rerank of
    * the tiny shortlist (the `corpus` arg — the source table — supplies
    * them; the index stays m×log2(k) bits per vector). Same
    * residual-IVFADC math as [[ivfPqKnn]]; IvfPqIndexSpec proves
    * build+search ≡ the in-one-pass operator row-for-row.
    *
    * `opq = true` (round 11) trains a [[fitOpqRotation]] on the corpus
    * and freezes it in the index meta: centroids, codebooks, and codes
    * all live in the ROTATED space (where PQ subspace variances are
    * balanced — the README aniso table's measured recall win), and
    * every later query/append batch is rotated with the frozen rows
    * before encoding. The rotation is orthogonal, so cosine neighbors
    * are mathematically unchanged — only quantization error shrinks —
    * and the exact rerank still runs on RAW vectors. */
  def buildIvfPqIndex(corpus: DataFrame, path: String, nCells: Int = 16,
      m: Int = 4, codebookK: Int = 16, dim: Int = 64,
      vecCol: String = "embedding", idCol: String = "vec_id",
      opq: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rot: Option[OpqRotation] =
      if (opq) Some(fitOpqRotation(corpus, dim, m, vecCol)) else None
    val src = applyRotation(corpus, rot, vecCol, "_ev")
    val pts = sampleVectors(src, "_ev")
    val cents = lloyd(pts, nCells, iters = 10, seed = 42L)
    val flatCells = cents.flatMap(_.toSeq).toSeq
    val cb = pqTrainPoints(residualPoints(pts, cents), m, codebookK, dim)
    src.select(col(idCol).as("corpus_id"), col("_ev").as("_cv"),
        checkedNorm(col("_ev"), "corpus").as("cn"),
        element_at(graft.functions.GraftFunctions.pqCodes(
          col("_ev"), 1, nCells, flatCells), 1).as("cell"))
      .withColumn("codes", graft.functions.GraftFunctions.pqResidualCodes(
        col("_cv"), col("cell"), m, codebookK, cb.flat, flatCells))
      // drift bookkeeping (round 13): the assignment distance is recorded
      // AT ENCODE TIME (exact, from the vector we are already holding) so
      // later health checks never re-read vectors; epoch 0 = build.
      .withColumn("cdist", cdistCol(col("_cv"), col("cell"), flatCells, dim))
      .withColumn("epoch", lit(0))
      .drop("_cv")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val rotFlat: Seq[Double] = rot.map(_.rows.flatten).getOrElse(Seq.empty)
    Seq((nCells, m, codebookK, dim, flatCells, cb.flat, rotFlat))
      .toDF("ncells", "m", "k", "dim", "cells", "codebooks", "rot")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Rotate `vecCol` into `outCol` with the frozen OPQ rows (identity
    * when none). The PQ/ADC expressions are float-typed, so the rotated
    * doubles cast back to float — the same rounding on the build, append,
    * and query paths, so all three see one consistent geometry. */
  private def applyRotation(df: DataFrame, rot: Option[OpqRotation],
      vecCol: String, outCol: String): DataFrame = rot match {
    case Some(r) =>
      r.transform(df, vecCol, outCol)
        .withColumn(outCol, col(outCol).cast("array<float>"))
    case None => df.withColumn(outCol, col(vecCol))
  }

  /** Parse the frozen rotation out of an index meta row. Absent column
    * (an index built before round 11) or an empty array both mean "no
    * rotation" — on-disk back-compat. */
  private def rotationFromMeta(meta: org.apache.spark.sql.Row,
      dim: Int): Option[OpqRotation] =
    if (!meta.schema.fieldNames.contains("rot")) None
    else {
      val flat = meta.getSeq[Double](meta.fieldIndex("rot"))
      if (flat.isEmpty) None
      else {
        require(flat.length == dim * dim,
          s"ivfpq index: rot has ${flat.length} entries, want ${dim * dim}")
        Some(OpqRotation(flat.grouped(dim).map(_.toSeq).toSeq))
      }
    }

  /** Append new vectors to a [[buildIvfPqIndex]] index WITHOUT retraining
    * — the incremental-ingest path (the batch-vs-corpus analog of
    * incrementalDedup): the frozen model (meta centroids + codebooks)
    * encodes the new batch exactly like the build pass, and the codes
    * append into the same cell partitions (parquet append to the
    * partitioned dir — new files land inside the existing cell=…
    * directories, so probes keep pruning). The FAISS convention: the
    * trained quantizers are fixed at build; drift far enough from the
    * training distribution and recall decays — rebuild is the answer,
    * and the spec's recall contract is the drift alarm. Caller owns id
    * uniqueness across appends (same contract as the build corpus). */
  def appendToIvfPqIndex(newRows: DataFrame, indexPath: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val spark = newRows.sparkSession
    val meta = ParquetInputs.read(spark, s"$indexPath/meta").head()
    val nCells = meta.getAs[Int]("ncells")
    val m = meta.getAs[Int]("m")
    val codebookK = meta.getAs[Int]("k")
    val dim = meta.getAs[Int]("dim")
    val flatCells = meta.getSeq[Float](meta.fieldIndex("cells"))
    val flatCb = meta.getSeq[Float](meta.fieldIndex("codebooks"))
    val rot = rotationFromMeta(meta, dim)
    // each append batch is its own drift EPOCH (one narrow-column agg on
    // the existing codes; an index built before drift tracking starts at
    // epoch 1 — its build rows read as epoch 0 in the drift view)
    val existing = ParquetInputs.read(spark, s"$indexPath/codes")
    // refuse to create a mixed-schema codes dir: appending drift-tracked
    // rows to a pre-drift index would leave parquet footers disagreeing
    // on (cdist, epoch), and a later read picks one nondeterministically
    // — epoch detection and the epoch-0 baseline both break silently
    require(existing.columns.contains("epoch") &&
      existing.columns.contains("cdist"),
      s"index at $indexPath predates drift tracking (no cdist/epoch " +
      "columns) — rebuild it (rebuildIvfPqIndex) before appending")
    val epoch = existing.agg(max(col("epoch"))).head().getInt(0) + 1
    applyRotation(newRows, rot, vecCol, "_ev")
      .select(col(idCol).as("corpus_id"), col("_ev").as("_cv"),
        checkedNorm(col("_ev"), "corpus").as("cn"),
        element_at(graft.functions.GraftFunctions.pqCodes(
          col("_ev"), 1, nCells, flatCells), 1).as("cell"))
      .withColumn("codes", graft.functions.GraftFunctions.pqResidualCodes(
        col("_cv"), col("cell"), m, codebookK, flatCb, flatCells))
      .withColumn("cdist", cdistCol(col("_cv"), col("cell"), flatCells, dim))
      .withColumn("epoch", lit(epoch))
      .drop("_cv")
      .write.mode("append").partitionBy("cell").parquet(s"$indexPath/codes")
  }

  /** Retrain a persistent index in place — the one-call answer to
    * [[ivfPqIndexDrift]]'s retrain advisory: re-train the coarse/product
    * quantizers (and the OPQ rotation if the old index had one) on the
    * CURRENT corpus, re-encode everything, and swap the staged result in
    * with same-filesystem renames (the TrailIndex rebuild convention —
    * a searcher never reads a half-written MIX of old and new; there is
    * a brief unavailability window between the two renames where a
    * concurrent open fails loud on a missing path, and on a failed swap
    * the old index is rolled back). Geometry (nCells, m, k, dim) carries
    * over from the old
    * meta; every re-encoded row is drift epoch 0 again, so the next
    * drift report starts from a fresh ≈1.0 baseline. `corpus` is the
    * current source table — the index stores codes, not vectors, so the
    * caller supplies the rows to retrain on (same contract as search's
    * rerank side). */
  def rebuildIvfPqIndex(corpus: DataFrame, indexPath: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val spark = corpus.sparkSession
    val meta = ParquetInputs.read(spark, s"$indexPath/meta").head()
    val opq = meta.schema.fieldNames.contains("rot") &&
      meta.getSeq[Double](meta.fieldIndex("rot")).nonEmpty
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(tag: String) = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    val tmp = stage("rebuild")
    try {
      buildIvfPqIndex(corpus, tmp.toString, meta.getAs[Int]("ncells"),
        meta.getAs[Int]("m"), meta.getAs[Int]("k"), meta.getAs[Int]("dim"),
        vecCol, idCol, opq)
    } catch {
      case e: Throwable =>
        // a failed retrain must not leave a staged half-index behind
        if (fs.exists(tmp)) fs.delete(tmp, true)
        throw e
    }
    val old = stage("old")
    if (!fs.rename(p, old))
      throw new java.io.IOException(
        s"rebuildIvfPqIndex: could not stage out the old index at $p")
    if (!fs.rename(tmp, p)) {
      // roll the old index back before failing loud; if the rollback
      // rename ALSO fails the old index is stranded at the hidden
      // staging path — surface that path so the operator can recover it
      val rolledBack = fs.rename(old, p)
      throw new java.io.IOException(
        s"rebuildIvfPqIndex: could not move staged rebuild $tmp to $p" +
          (if (rolledBack) "" else
            s"; rollback ALSO failed — the previous index is stranded at $old"))
    }
    fs.delete(old, true)
  }

  /** Exact L2 distance of an encoded vector to its assigned coarse
    * centroid, composed from codegen'd builtins over the frozen centroid
    * literal — recorded per row at build/append so drift checks are a
    * narrow column aggregate, never a vector re-read. */
  private def cdistCol(vecCol: Column, cellCol: Column,
      flatCells: Seq[Float], dim: Int): Column =
    sqrt(aggregate(
      zip_with(vecCol,
        slice(lit(flatCells.toArray), (cellCol * dim + 1).cast("int"), lit(dim)),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x))

  /** Append-drift health of a persistent index (round 13): the frozen
    * quantizers encode every later batch, so as the data distribution
    * walks away from the build-time centroids the assignment distances
    * grow and recall silently decays — this measures exactly that, from
    * the `cdist` recorded at encode time. Per epoch (or per cell × epoch
    * with `perCell = true`): vector count, mean assignment distance, and
    * `drift_ratio` = mean ÷ the BUILD epoch's mean; `retrain_advised`
    * fires when an append epoch's ratio exceeds `warnRatio`. An identical-
    * distribution append sits at ratio ≈ 1; rebuild (or re-cluster) when
    * the advisory fires — appending further only compounds the decay.
    *
    * Scale: one narrow (cell, epoch, cdist) scan + tiny aggregates; the
    * epoch-0 baseline broadcast is one row (or ≤ nCells rows per-cell). */
  def ivfPqIndexDrift(spark: SparkSession, indexPath: String,
      warnRatio: Double = 1.5, perCell: Boolean = false): DataFrame = {
    val codes = ParquetInputs.read(spark, s"$indexPath/codes")
    require(codes.columns.contains("cdist") && codes.columns.contains("epoch"),
      s"index at $indexPath predates drift tracking (no cdist/epoch " +
      "columns) — rebuild it to enable drift stats")
    val keys = if (perCell) Seq(col("cell"), col("epoch")) else Seq(col("epoch"))
    // localCheckpoint: the baseline derives from this same tiny frame —
    // materializing it means BOTH join sides read the one computed
    // average, so epoch 0's drift_ratio is exactly 1.0 by construction
    // (recomputing the avg per side leaves it at the mercy of double
    // partial-merge order, which can differ by an ulp across shuffles)
    val agg = codes.groupBy(keys: _*).agg(count(lit(1)).as("n_vectors"),
      avg(col("cdist")).as("mean_cdist")).localCheckpoint()
    val base = agg.filter(col("epoch") === 0)
    val joined =
      if (perCell) agg.join(
        base.select(col("cell"), col("mean_cdist").as("_base")),
        Seq("cell"), "left")
      else agg.crossJoin(broadcast(
        base.select(col("mean_cdist").as("_base"))))
    // a NULL baseline (perCell: append rows landed in a cell the build
    // never populated) is the MOST drifted case — data where the frozen
    // quantizer saw nothing — so it fires the advisory, never drops out.
    // A ZERO baseline with a zero epoch mean (every vector ON its
    // centroid — tiny or heavily-deduplicated corpora) is NO drift:
    // ratio pins to 1.0 instead of 0/0 = NaN, which Spark's ordering
    // treats as greater than warnRatio and would fire a spurious
    // advisory on a perfectly healthy index. A zero baseline with a
    // nonzero epoch mean divides to +Infinity — genuine drift, fires.
    joined
      .withColumn("drift_ratio",
        when(col("_base") === 0d && col("mean_cdist") === 0d, lit(1.0))
          .otherwise(col("mean_cdist") / col("_base")))
      .withColumn("retrain_advised",
        col("epoch") > 0 &&
          (col("_base").isNull || col("drift_ratio") > warnRatio))
      .drop("_base")
  }

  /** Operational statistics of a persistent index (round 9) — the "is my
    * index healthy" check before trusting search results at scale: cell
    * occupancy (empty cells waste probes; a whale cell concentrates
    * search cost — the README embskew hazard), total code count (must
    * equal the corpus after build+appends, or the index silently serves
    * a subset), and the declared geometry. ONE aggregate over the codes
    * table's partition column — at 100 TB this reads parquet footers'
    * worth of work per cell, never vectors. */
  def ivfPqIndexStats(spark: SparkSession, indexPath: String): DataFrame = {
    val meta = ParquetInputs.read(spark, s"$indexPath/meta").head()
    val nCells = meta.getAs[Int]("ncells")
    val codes = ParquetInputs.read(spark, s"$indexPath/codes")
    // append-drift summary (round 13): worst epoch ratio + the advisory,
    // computed eagerly (tiny aggregate) so the health check can WARN
    // loudly instead of hiding a decayed index behind a lazy column.
    // Indexes written before drift tracking report neutral values.
    val (nEpochs, maxRatio, advised) =
      if (codes.columns.contains("cdist") && codes.columns.contains("epoch")) {
        val d = ivfPqIndexDrift(spark, indexPath)
          .agg(count(lit(1)).as("ne"),
            max(coalesce(col("drift_ratio"), lit(1.0))).as("mr"),
            max(col("retrain_advised").cast("int")).as("adv")).head()
        // an empty drift frame (no codes rows at all) aggregates to
        // (0, null, null) — report neutral instead of NPEing on the null
        if (d.isNullAt(1)) (d.getLong(0), 1.0, false)
        else (d.getLong(0), d.getDouble(1), d.getInt(2) == 1)
      } else (1L, 1.0, false)
    if (advised) Console.err.println(
      s"[ivfPqIndexStats] RETRAIN ADVISED for $indexPath: an append " +
      f"epoch's mean assignment distance is $maxRatio%.2f× the build " +
      "epoch's — the frozen quantizers no longer fit the data; recall is " +
      "decaying. Rebuild the index (ivfPqIndexDrift(...) per epoch/cell " +
      "shows which batches drifted).")
    val perCell = codes.groupBy("cell").agg(count(lit(1)).as("_n"))
    perCell.agg(
        count(lit(1)).as("n_cells_used"),
        sum("_n").as("n_vectors"),
        min("_n").as("min_cell"),
        max("_n").as("max_cell"))
      .select(lit(nCells).as("n_cells"),
        lit(meta.getAs[Int]("m")).as("m"),
        lit(meta.getAs[Int]("k")).as("k"),
        lit(meta.getAs[Int]("dim")).as("dim"),
        col("n_cells_used"), col("n_vectors"),
        col("min_cell"), col("max_cell"),
        lit(nEpochs).as("n_epochs"),
        lit(maxRatio).as("max_drift_ratio"),
        lit(advised).as("retrain_advised"))
  }

  /** Query a [[buildIvfPqIndex]] index. `corpus` is the SOURCE table (for
    * the exact rerank of the shortlist only); candidate generation runs
    * entirely off the index. Output contract identical to [[ivfPqKnn]]. */
  /** Driver-resident view of a persistent index's COMPACT side: coarse
    * centroids + product codebooks (the codes table stays on disk). */
  private[graft] final case class IvfPqIndexMeta(cents: Array[Array[Float]],
      cb: PqCodebooks, rot: Option[OpqRotation])

  private[graft] def loadIvfPqIndexMeta(spark: SparkSession,
      indexPath: String): IvfPqIndexMeta = {
    val meta = ParquetInputs.read(spark, s"$indexPath/meta").head()
    val nCells = meta.getAs[Int]("ncells")
    val m = meta.getAs[Int]("m")
    val codebookK = meta.getAs[Int]("k")
    val dim = meta.getAs[Int]("dim")
    val flatCells = meta.getSeq[Float](meta.fieldIndex("cells")).toArray
    val flatCb = meta.getSeq[Float](meta.fieldIndex("codebooks")).toArray
    require(flatCells.length == nCells * dim && dim % m == 0,
      s"ivfpq index $indexPath: meta dims inconsistent")
    val cents = Array.tabulate(nCells)(i => flatCells.slice(i * dim, (i + 1) * dim))
    val subDim = dim / m
    IvfPqIndexMeta(cents, PqCodebooks(m, codebookK, subDim,
      Array.tabulate(m, codebookK) { (s, j) =>
        flatCb.slice((s * codebookK + j) * subDim, (s * codebookK + j + 1) * subDim)
      }), rotationFromMeta(meta, dim))
  }

  /** Query-side ADC scoring against a persistent index — the pipeline
    * shared by the batch search (which adds static partition pruning and
    * exact rerank) and [[streamingIndexSearch]] (where a driver collect
    * on the query side is illegal, so the codes join stays a plain
    * stream-static equi-join on `cell`). */
  private[graft] def indexAdcScores(indexPath: String, queries: DataFrame,
      nprobe: Int, vecCol: String, idCol: String,
      pruneCells: Boolean): DataFrame = {
    val spark = queries.sparkSession
    val idx = loadIvfPqIndexMeta(spark, indexPath)
    // frozen-rotation queries: probe cells, ADC tables, and norms are all
    // computed in the SAME rotated space the codes were encoded in
    val q = applyRotation(queries, idx.rot, vecCol, "_eqv")
      .select(col(idCol).as("query_id"), col("_eqv").as("qv"),
        checkedNorm(col("_eqv"), "query").as("qn"),
        adcTable(col("_eqv"), idx.cb).as("tbl"))
    val qCells = probeCells(q, idx.cents, nprobe)
      .select("query_id", "qn", "tbl", "cell", "_qcdot")
    val codes = ParquetInputs.read(spark, s"$indexPath/codes")
    // The union of probed cells is BOUNDED by nCells regardless of query
    // count, so collecting it is always driver-safe — and turning it into
    // a literal isin() is what makes the codes scan PARTITION-PRUNE
    // statically (a join key alone prunes nothing at plan time). Streams
    // cannot collect, so the streaming path joins unpruned — per-batch
    // cost is one codes scan, the price of a fully declarative plan.
    val c =
      if (pruneCells) {
        val probed = qCells.select("cell").distinct().collect().map(_.getInt(0))
        codes.filter(col("cell").isin(probed.map(Int.box): _*))
      } else codes
    c.join(if (pruneCells) broadcast(qCells) else qCells, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc",
        (col("_qcdot") +
          graft.functions.GraftFunctions.adcSum(col("codes"), col("tbl"))) /
        (col("cn") * col("qn")))
  }

  /** STREAMING search against a frozen persistent index (round 9) — the
    * model-serving shape: an unbounded stream of query vectors scored
    * against [[buildIvfPqIndex]]'s on-disk codes, emitting each query's
    * ADC top-k. The whole pipeline is stream-legal: probe-cell selection
    * and ADC tables are pure expressions, the codes join is
    * stream-static, and the shortlist is the mergeable Sketch.TopK
    * aggregate — run it with `outputMode("update")` (each query's row
    * group finalizes in the micro-batch that carries the query; state is
    * O(k) per distinct query_id, so bound upstream query-id cardinality
    * with a watermark/dedup for truly unbounded feeds). Returns ADC-
    * ranked hits (query_id, rank, corpus_id, adc) — the exact-cosine
    * rerank of the batch path needs a second stateful stage; do it
    * downstream (foreachBatch) where the shortlist is already tiny.
    * Spec-proven EQUAL to the batch execution of the same pipeline. */
  def streamingIndexSearch(indexPath: String, queryStream: DataFrame, k: Int,
      nprobe: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    topKPerQuery(
      indexAdcScores(indexPath, queryStream, nprobe, vecCol, idCol,
        pruneCells = false),
      "adc", k, "adc")

  /** The PRUNED streaming search — the production serving shape at index
    * scale. [[streamingIndexSearch]] is fully declarative but its
    * stream-static codes join cannot partition-prune (pruning needs a
    * driver collect of the probed cells, illegal on a stream): every
    * micro-batch scans ALL cells — an nCells/nprobe waste per batch on a
    * big index. This variant runs each micro-batch through the BATCH
    * pipeline inside foreachBatch, where the collect is legal again, so
    * each batch reads only its probed cell partitions (same
    * PartitionFilters the plan guard pins on the batch path) and the
    * results go to `sink`. Exactly the same recorded rows as the
    * declarative twin (spec-proven); trade: output is a callback, not a
    * composable streaming DataFrame. */
  def streamingIndexSearchPruned(indexPath: String, queryStream: DataFrame,
      k: Int, nprobe: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(topKPerQuery(
        indexAdcScores(indexPath, batch, nprobe, vecCol, idCol,
          pruneCells = true),
        "adc", k, "adc"), batchId)
    }

  def searchIvfPqIndex(indexPath: String, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4, shortlist: Int = 50,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val adc = indexAdcScores(indexPath, queries, nprobe, vecCol, idCol,
      pruneCells = true)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn"))
    val short = topKPerQuery(adc, "adc", shortlist, "adc")
      .select("query_id", "corpus_id")
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val rer = raw.join(broadcast(short), Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cosine",
        dot(col("cv"), col("qv")) / (norm(col("cv")) * col("qn")))
    topKPerQuery(rer, "cosine", k, "cosine")
  }

  /** ANN top-k: join corpus and queries on LSH bucket, rank within bucket.
    * `nPlanes` controls recall/cost (2^nPlanes buckets). Multiprobe: each
    * query also probes the nPlanes single-bit-flip neighbor buckets, which
    * recovers most near-boundary misses at (nPlanes+1)× query fanout
    * (queries are the small side — cheap). */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
      dim: Int = 64, multiprobe: Boolean = true,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      checkedNorm(col(vecCol), "corpus").as("cn"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn"),
      lshBucket(col(vecCol), nPlanes, dim).as("qbucket"))
    val q =
      if (!multiprobe) qBase.withColumn("bucket", col("qbucket"))
      else qBase.withColumn("bucket",
          explode(array_distinct(array(
            col("qbucket") +:
            (0 until nPlanes).map(p => col("qbucket").bitwiseXOR(lit(1L << p))): _*))))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPerQuery(scored, "cosine", k, "cosine")
  }

  /** Per-vector symmetric int8 scalar quantization: scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [-127, 127] — the standard 4× compression for
    * embedding stores (what an ANN index persists at 100 TB scale). Pure
    * projection: streams through the scan, no shuffle.
    *
    * Output columns: the per-vector reconstruction DIAGNOSTICS (not the
    * code bytes — the quantization is deterministic from the raw vector,
    * so the serving path rematerializes codes where it needs them, and
    * [[dequantized]] is the reconstructed-corpus view for quantized
    * search): `scale6` (round-6 scale), `n_sat` (saturated |q|=127
    * codes), and `err_pico` (Σ per-element squared reconstruction error,
    * each element rounded to an exact integer in 1e-12 units BEFORE the
    * sum so the cross-element total is order-independent exact integer
    * arithmetic). Vectors with max|x| = 0 have no defined scale and are
    * dropped.
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol),
        graft.functions.GraftFunctions.int8QuantStats(col(vecCol)).as("_q"))
      .filter(col("_q").isNotNull) // max|x| = 0: no defined scale, dropped
      .select(col(idCol), col("_q.scale6").as("scale6"),
        col("_q.n_sat").as("n_sat"), col("_q.err_pico").as("err_pico"))

  /** The builtin-composed form [[quantizeInt8]] replaced — five interpreted
    * higher-order passes per row; kept for the bit-identity equivalence
    * spec against the native [[graft.functions.Int8QuantStats]]. */
  private[graft] def quantizeInt8Fold(df: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val xd = transform(col(vecCol), e => e.cast("double"))
    val scale = array_max(transform(xd, e => abs(e))) / lit(127.0)
    val base = df.select(col(idCol), xd.as("x"), scale.as("scale"))
      .filter(col("scale") > 0.0)
      .withColumn("q", transform(col("x"), e => round(e / col("scale"), 0)))
    base.select(col(idCol),
      round(col("scale"), 6).as("scale6"),
      size(filter(col("q"), e => abs(e) === 127.0)).cast("long").as("n_sat"),
      aggregate(
        zip_with(col("x"), col("q"), (x, q) =>
          round((x - q * col("scale")) * (x - q * col("scale")) * lit(1e12), 0)
            .cast("long")),
        lit(0L), (acc, e) => acc + e).as("err_pico"))
  }

  /** The dequantized corpus view for quantized search: x̂_i = q_i·scale as
    * a double array, ready for [[bruteForceKnn]]/[[lshKnn]] — top-k over
    * int8-reconstructed vectors is the memory-bound fast path; recall vs
    * the exact float path is the quality contract (oracled as an
    * [[graft.SparkEntry]] ANN invariant). */
  def dequantized(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol),
        graft.functions.GraftFunctions.dequantizeInt8(col(vecCol)).as(vecCol))
      .filter(col(vecCol).isNotNull)

  /** The builtin-composed form [[dequantized]] replaced — kept for the
    * bit-identity spec against [[graft.functions.DequantizeInt8]]. */
  private[graft] def dequantizedFold(df: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val xd = transform(col(vecCol), e => e.cast("double"))
    val scale = array_max(transform(xd, e => abs(e))) / lit(127.0)
    df.select(col(idCol), xd.as("_x"), scale.as("_s"))
      .filter(col("_s") > 0.0)
      .select(col(idCol),
        transform(col("_x"), e => round(e / col("_s"), 0) * col("_s"))
          .cast("array<float>").as(vecCol))
  }

  /** Trained product-quantization codebooks: `centroids(s)(j)` is the j-th
    * centroid of subspace s (subDim floats each). */
  final case class PqCodebooks(m: Int, k: Int, subDim: Int,
      centroids: Array[Array[Array[Float]]]) {
    /** Row-major flattening for [[graft.functions.PqCodes]]. */
    def flat: Seq[Float] =
      centroids.flatMap(_.flatMap(_.toSeq)).toSeq
  }

  /** Train PQ codebooks (Jégou et al., TPAMI'11): an independent K-Means
    * per contiguous subspace over a bounded corpus sample. Codebook
    * training is a driver-local operation BY DESIGN — the sample is capped
    * at `maxSample` rows regardless of corpus size (the FAISS convention:
    * train on ~10⁵ vectors in-process), so one collect replaces m
    * distributed K-Means fits whose per-fit job overhead would dominate
    * (m=16 MLlib fits measured ~16s against <0.1s in-process on the same
    * sample). The distributed parts stay distributed: encode is the
    * codegen'd [[graft.functions.PqCodes]] scan, search is the ADC pass.
    * Deterministic: seeded shuffle init + fixed Lloyd iterations. */
  def pqTrain(corpus: DataFrame, m: Int, k: Int, dim: Int,
      vecCol: String = "embedding", sampleFraction: Double = 1.0,
      seed: Long = 42L, maxSample: Int = 65536): PqCodebooks = {
    val pts = sampleVectors(corpus, vecCol, sampleFraction, seed, maxSample)
    pqTrainPoints(pts, m, k, dim, seed)
  }

  /** Residual sample for the shared IVFADC product quantizer: the SAME
    * capped sample, each point minus its nearest coarse centroid
    * (argmin-L2 with first-index ties — exactly the assignment
    * PqCodes(m=1) replays on the corpus side). */
  private def residualPoints(pts: Array[Array[Float]],
      cents: Array[Array[Float]]): Array[Array[Float]] =
    pts.map { p =>
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        var d = 0.0; var t = 0
        while (t < p.length) {
          val diff = p(t).toDouble - cents(j)(t); d += diff * diff; t += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      val r = new Array[Float](p.length)
      var t = 0
      while (t < p.length) { r(t) = p(t) - cents(best)(t); t += 1 }
      r
    }

  /** Codebook fit over an in-process point set — the training kernel of
    * [[pqTrain]], also fed RESIDUAL samples by [[ivfPqKnn]] (IVFADC trains
    * its shared product quantizer on x − c(x), not on x). */
  private[ops] def pqTrainPoints(pts: Array[Array[Float]], m: Int, k: Int,
      dim: Int, seed: Long = 42L): PqCodebooks = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    require(pts.forall(_.length == dim),
      s"pqTrain: every vector must have exactly dim=$dim elements, " +
        s"got lengths ${pts.map(_.length).distinct.take(5).mkString(",")}")
    val cents = (0 until m).map { s =>
      val sub = pts.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      lloyd(sub, k, iters = 10, seed = seed + s)
    }.toArray
    PqCodebooks(m, k, subDim, cents)
  }

  /** Deterministic capped training sample for in-process quantizer fits.
    * Content-hash order makes the sample a function of the DATA, not of
    * file listing / partition layout (a bare limit() would pick arbitrary
    * rows past the cap and could flip recall floors across environments).
    * orderBy+limit plans as TakeOrderedAndProject — each partition
    * contributes at most maxSample rows to the shuffle, bounded at any
    * corpus size.
    *
    * MEMOIZED per JVM by the corpus plan's semantic hash + parameters: a
    * quantizer is a train-once artifact of an immutable corpus (this
    * engine's finalized tables never mutate in place), so repeated PQ/IVF/
    * SemDeDup queries over the same corpus reuse one sample collect
    * instead of re-running the training scan per query execution. The
    * cache cannot see external file mutation within a session — matching
    * the immutable-table contract everywhere else in the library.
    * BOUNDED: each entry can hold ~16+ MB of float arrays, so a
    * long-lived driver (notebook, serving session) querying many
    * distinct corpora/filtered views must not accumulate one entry per
    * semantic hash forever — past `SampleCacheMaxEntries` the cache
    * resets (train-once still holds within a working set; a reset only
    * re-pays one training scan per live corpus). */
  private val SampleCacheMaxEntries = 16
  private val sampleCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, Double, Long, Int), Array[Array[Float]]]()
  private[ops] def sampleVectors(corpus: DataFrame, vecCol: String,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxSample: Int = 65536): Array[Array[Float]] = {
    val key = (corpus.queryExecution.analyzed.semanticHash(), vecCol,
      sampleFraction, seed, maxSample)
    if (sampleCache.size() >= SampleCacheMaxEntries &&
        !sampleCache.containsKey(key))
      sampleCache.clear()
    sampleCache.computeIfAbsent(key, _ => {
      val sampled = if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed) else corpus
      // NULL vectors cannot train a quantizer (and NPE the collect) —
      // they are legitimate corpus rows (operators route them around the
      // vector machinery), just never training input
      val pts = sampled.select(col(vecCol)).filter(col(vecCol).isNotNull)
        .orderBy(xxhash64(col(vecCol))).limit(maxSample).collect()
        .map(_.getSeq[Float](0).toArray)
      require(pts.nonEmpty, "quantizer training: empty sample")
      pts
    })
  }

  /** Deterministic in-process Lloyd's K-Means (seeded-shuffle init; empty
    * clusters keep their previous centroid; fewer points than k duplicates
    * the tail — harmless, codes just never pick the duplicates). */
  private[ops] def lloyd(pts: Array[Array[Float]], k: Int, iters: Int,
      seed: Long): Array[Array[Float]] = {
    val d = pts.head.length
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle(pts.indices.toVector)
    val cents = Array.tabulate(k)(j => pts(order(j % order.length)).clone())
    val assign = new Array[Int](pts.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var dist = 0.0; var t = 0
          while (t < d) {
            val diff = p(t).toDouble - cents(j)(t); dist += diff * diff; t += 1
          }
          if (dist < bestD) { bestD = dist; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      i = 0
      while (i < pts.length) {
        val j = assign(i); counts(j) += 1
        var t = 0
        while (t < d) { sums(j)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var t = 0
          while (t < d) { cents(j)(t) = (sums(j)(t) / counts(j)).toFloat; t += 1 }
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** Per-query ADC lookup tables: `tbl(s)(j)` = <query subvector s,
    * centroid j of subspace s>. Built with builtin folds — the QUERY side
    * is small by definition, so interpreted higher-order lambdas are fine
    * here (the corpus side uses the codegen'd [[graft.functions.PqCodes]]
    * instead). */
  /** The builtin-composed ADC fold [[graft.functions.AdcSum]] replaced —
    * kept for the bit-identity equivalence spec (same left-to-right
    * addition order). */
  private[graft] def adcFold(codes: Column, tbl: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(element_at(tbl, s + 1), element_at(codes, s + 1) + 1))

  /** Per-query ADC table — the NATIVE expression (round 19): one
    * imperative m×k×subDim loop per query row replaces the former m×k
    * tree of interpreted aggregate∘zip_with sub-expressions, whose
    * analyzer/optimizer walks alone cost ~2.5 s per pqKnn PLAN at
    * m=16, k=32 (the measured pqKnn floor; guide §1.2 step 2 and §4:
    * native expressions over composed interpreted lambdas in the hot
    * path). Bit-identical by construction — each entry is the same
    * left-to-right double fold — and pinned against [[adcTableFold]]
    * in OpsSpec. */
  private[graft] def adcTable(vec: Column, cb: PqCodebooks): Column =
    graft.functions.GraftFunctions.adcTable(vec, cb.m, cb.k, cb.flat)

  /** The composed-builtins ADC table [[adcTable]] replaced, retained for
    * the bit-identity spec (the [[adcFold]] convention). */
  private[graft] def adcTableFold(vec: Column, cb: PqCodebooks): Column =
    array((0 until cb.m).map { s =>
      val sub = slice(vec, s * cb.subDim + 1, cb.subDim)
      array((0 until cb.k).map { j =>
        aggregate(
          zip_with(sub, typedLit(cb.centroids(s)(j).toSeq),
            (x, c) => x.cast("double") * c),
          lit(0.0), (acc, x) => acc + x)
      }: _*)
    }: _*)

  /** Product-quantization ANN with exact rerank — the memory-bound 100 TB
    * search path. The corpus streams as (id, norm, m-byte PQ code): the
    * ADC scoring pass never touches raw vectors — the approximate inner
    * product is m table lookups per (corpus row, query) instead of a
    * dim-wide dot (dim/m × fewer flops, 4·dim → m bytes less candidate
    * state). Per query, the `shortlist` best ADC candidates are then
    * reranked with EXACT cosine by joining the shortlist (tiny: queries ×
    * shortlist rows, broadcast) back to the raw vectors — the standard
    * shortlist-then-rerank pipeline, so the reported cosine is exact and
    * rank order is exact-cosine-descending by construction.
    *
    * ADC ranks by approx-dot / exact norms (the PQ approximation touches
    * only the numerator). Same output contract as the other ANN variants:
    * (query_id, rank, corpus_id, cosine).
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
      codebookK: Int = 16, shortlist: Int = 50, dim: Int = 64,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cb = pqTrain(corpus, m, codebookK, dim, vecCol)
    // candidate stream: codes + norm ONLY (no raw vectors)
    val c = corpus.select(col(idCol).as("corpus_id"),
      checkedNorm(col(vecCol), "corpus").as("cn"),
      graft.functions.GraftFunctions.pqCodes(col(vecCol), m, codebookK, cb.flat)
        .as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      checkedNorm(col(vecCol), "query").as("qn"), adcTable(col(vecCol), cb).as("tbl"))
    // ADC score via the native expression — m table lookups per
    // (candidate, query) inside the scan's codegen span; the builtin
    // aggregate∘element_at composition it replaces is kept as [[adcFold]]
    // for the bit-identity spec.
    val adc = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("adc",
        graft.functions.GraftFunctions.adcSum(col("codes"), col("tbl")) /
        (col("cn") * col("qn")))
    // Shortlist via the mergeable top-k aggregate: the exchange carries
    // ≤shortlist (adc, id) pairs per (partition, query) — the window form
    // it replaced funneled the whole scored corpus stream for one query
    // into one task, the plan shape that dies at a 10^9-row corpus.
    val short = topKPerQuery(adc, "adc", shortlist, "adc")
      .select("query_id", "corpus_id")
    // Exact rerank: join the tiny shortlist (queries × shortlist rows,
    // broadcast both sides) back to the raw vectors. The corpus norm is
    // recomputed AFTER the join — only the ~q×shortlist surviving rows pay
    // it (same fold, bit-identical to the pre-join norm it replaced).
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val rer = raw.join(broadcast(short), Seq("corpus_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cosine",
        dot(col("cv"), col("qv")) / (norm(col("cv")) * col("qn")))
    topKPerQuery(rer, "cosine", k, "cosine")
  }

  /** Per-label centroids of an embedding column — the class-centroid /
    * mean-pooling primitive (semantic-dedup seeds, per-language embedding
    * means, IVF warm starts). Elements are fixed to exact micro-units
    * before summing, so the aggregate is an order-independent integer sum
    * (bit-reproducible on any cluster size / partitioning — the same trick
    * as BM25 and the unigram-LM scores); the mean is one division at the
    * end. One explode + one shuffle on (label, dim) with full map-side
    * combine: the shuffle carries labels × dims rows per partition, never
    * the vectors.
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .withColumn("_x_micro",
        round(col("_x").cast("double") * lit(1e6), 0).cast("long"))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("_x_micro")).as("sum_micro"))
      .withColumn("centroid",
        col("sum_micro").cast("double") / col("n") / lit(1e6))

  /** Mergeable Gram-matrix accumulator over embedding vectors: one buffer
    * of (n, Σ micro(x_i), Σ micro(x_i)·micro(x_j) for i ≤ j) per partial —
    * dim(dim+3)/2 + 1 longs through the shuffle regardless of corpus size
    * (the whale-safe shape for second-moment statistics; an
    * explode-and-self-join formulation would shuffle corpus × dim² rows).
    * Products are exact micro² integers, so sums are order-independent
    * and engine-replayable. */
  final case class Gram(dim: Int) extends org.apache.spark.sql.expressions
      .Aggregator[Seq[Float], (Long, Array[Long], Array[Long]),
        (Long, Seq[Long], Seq[Long])] {
    require(dim > 0, s"dim must be positive, got $dim")

    override def zero: (Long, Array[Long], Array[Long]) =
      (0L, new Array[Long](dim), new Array[Long](dim * (dim + 1) / 2))

    override def reduce(b: (Long, Array[Long], Array[Long]),
        v: Seq[Float]): (Long, Array[Long], Array[Long]) = {
      require(v != null && v.length == dim,
        s"gram: expected dense $dim-dim vector, got " +
          (if (v == null) "null" else s"length ${v.length}"))
      val xm = new Array[Long](dim)
      var i = 0
      while (i < dim) {
        // HALF_UP away from zero — SQL round() semantics (both Spark's
        // round(col, 0) and DuckDB's); Math.round is half-toward-+inf and
        // diverges on negative halves.
        val y = v(i).toDouble * 1e6
        xm(i) = (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
        b._2(i) += xm(i); i += 1
      }
      var idx = 0
      i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { b._3(idx) += xm(i) * xm(j); idx += 1; j += 1 }
        i += 1
      }
      (b._1 + 1L, b._2, b._3)
    }

    override def merge(a: (Long, Array[Long], Array[Long]),
        b: (Long, Array[Long], Array[Long])): (Long, Array[Long], Array[Long]) = {
      var i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      i = 0
      while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
      (a._1 + b._1, a._2, a._3)
    }

    // product output (not kryo): the result lands as a plain struct, so a
    // streaming memory/table sink stores readable columns and the batch
    // head() needs no custom deserialization
    override def finish(b: (Long, Array[Long], Array[Long])):
        (Long, Seq[Long], Seq[Long]) = (b._1, b._2.toSeq, b._3.toSeq)

    override def bufferEncoder:
        org.apache.spark.sql.Encoder[(Long, Array[Long], Array[Long])] =
      org.apache.spark.sql.Encoders.kryo[(Long, Array[Long], Array[Long])]
    override def outputEncoder:
        org.apache.spark.sql.Encoder[(Long, Seq[Long], Seq[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Long], Seq[Long])]()
  }

  /** Dimension-covariance matrix of an embedding corpus — the statistic
    * behind whitening, PCA energy plots, and "are my dimensions already
    * decorrelated" checks before trusting subspace quantizers (PQ splits
    * assume roughly isotropic subspaces). One [[Gram]] aggregate (a
    * dim²-sized buffer per partition through the shuffle — never the
    * corpus), unpacked driver-side into the dim(dim+1)/2-row upper
    * triangle: (i, j, n, s_i/s_j micro sums, p micro² product sum, and
    * the biased covariance as one fixed double-expression chain both
    * engines replay identically).
    *
    * Integer-exactness bound: p accumulates micro²-unit products, so
    * |Σ| < 2⁶³ needs n · (1e6·max|x|)² < 9.2e18 — ~9M rows at |x| ≤ 1.
    * The `maxRows` guard refuses LOUDLY past it (for bigger corpora,
    * sample first — a covariance estimate does not need every row; the
    * guard message says so). */
  def covarianceMatrix(df: DataFrame, dim: Int,
      vecCol: String = "embedding", maxRows: Long = 4000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The guard PRE-CHECK stays a count(): column pruning makes it a
    // near-metadata pass, and folding it into the Gram result would make
    // the REFUSAL path cost a full O(n·dim²) aggregate before throwing —
    // exactly the cost-bomb shape the bound exists to refuse (r19:
    // measured the fold, reverted on review).
    val n0 = df.count()
    require(n0 <= maxRows,
      s"covarianceMatrix: $n0 rows exceeds the $maxRows exact-integer " +
        "bound (micro^2 product sums overflow i64 past ~9M unit-norm " +
        "rows) — hashSample the corpus first; a covariance estimate " +
        "does not need every row")
    val (n, s, p) = df.select(col(vecCol).cast("array<float>"))
      .as[Seq[Float]].select(Gram(dim).toColumn).head()
    covarianceFromMoments(spark, dim, n, s, p)
  }

  /** Unpack [[Gram]] moments into the upper-triangle covariance frame —
    * shared by batch [[covarianceMatrix]] and the streaming twin's
    * sink-side finisher (`StreamSessions.streamingGram` maintains the
    * moments live; this turns the latest snapshot into the same frame). */
  def covarianceFromMoments(spark: org.apache.spark.sql.SparkSession,
      dim: Int, n: Long, s: Seq[Long], p: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(s.length == dim && p.length == dim * (dim + 1) / 2,
      s"gram moments: expected $dim sums / ${dim * (dim + 1) / 2} products, " +
        s"got ${s.length} / ${p.length}")
    val rows = for {
      i <- 0 until dim; j <- i until dim
    } yield (i, j, n, s(i), s(j), p(i * dim - i * (i - 1) / 2 + (j - i)))
    rows.toDF("i", "j", "n", "s_i_micro", "s_j_micro", "p_micro2")
      .withColumn("cov",
        (col("p_micro2").cast("double") / lit(1e12) -
          (col("s_i_micro").cast("double") / lit(1e6)) *
          (col("s_j_micro").cast("double") / lit(1e6)) / col("n")) / col("n"))
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix (the
    * dim×dim covariance — a DRIVER-sized problem; the corpus-sized work
    * is [[Gram]]). Returns (eigenvalues, eigenvector columns), unordered.
    * Loud on non-convergence rather than returning a half-rotated basis. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      maxSweeps: Int = 100, tol: Double = 1e-14):
      (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    // scale-relative stop: off-diagonal energy vs total energy
    val total0 = math.max(off() + (0 until n).map(i => a(i)(i) * a(i)(i)).sum,
      Double.MinPositiveValue)
    var sweep = 0
    while (sweep < maxSweeps && off() > tol * total0) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = app - t * apq
            a(q)(q) = aqq + t * apq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var k = 0
            while (k < n) {
              if (k != p && k != q) {
                val akp = a(k)(p); val akq = a(k)(q)
                a(k)(p) = c * akp - s * akq; a(p)(k) = a(k)(p)
                a(k)(q) = s * akp + c * akq; a(q)(k) = a(k)(q)
              }
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    require(off() <= tol * total0,
      s"jacobiEigen: no convergence in $maxSweeps sweeps " +
        s"(residual ${off()}, scale $total0)")
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** PCA whitening of an embedding column: y = Λ^(−1/2) Qᵀ (x − μ) with
    * (Λ, Q) from the corpus covariance — the decorrelate-and-equalize
    * transform run before subspace quantizers (PQ assumes roughly
    * isotropic subspaces) and similarity calibration. Components are
    * ordered by eigenvalue DESC, so truncating the output array is PCA
    * dimensionality reduction for free.
    *
    * Scale shape: statistics via ONE [[Gram]] aggregate (driver-sized
    * result), eigendecomposition driver-side on the dim×dim matrix
    * ([[jacobiEigen]]), and the transform itself a pure projection —
    * dim codegen'd zip_with/aggregate folds over broadcast literal rows
    * of Λ^(−1/2)Qᵀ. No shuffle, no UDF; composes with any scan.
    *
    * Near-zero eigenvalues (rank-deficient corpora) are floored at `eps`:
    * those output dims carry ~zero variance instead of amplified noise —
    * the whitened covariance's diagonal is λ/(λ+eps), ≈1 for live dims,
    * ≈0 for degenerate ones (the WhitenSpec contract). */
  def whiten(df: DataFrame, dim: Int, eps: Double = 1e-9,
      vecCol: String = "embedding", outCol: String = "whitened"): DataFrame =
    fitWhitener(df, dim, eps, vecCol).transform(df, vecCol, outCol)

  /** A fitted whitening model: the mean and the Λ^(−1/2)Qᵀ rows
    * (eigenvalue-DESC). FIT ONCE on a reference corpus, [[transform]]
    * every later batch with the FROZEN model — the same model-freeze
    * convention as [[appendToIvfPqIndex]] (encoding new data under a
    * drifted model is the caller's drift alarm, not a crash). The
    * transform is a pure projection (dim codegen'd folds over literal
    * rows): it runs UNCHANGED on a streaming batch (StreamingSpec),
    * composes with any scan, and needs no shuffle. Serializable — ship
    * it in a closure or persist its two fields next to the index. */
  final case class Whitener(mu: Seq[Double], w: Seq[Seq[Double]])
      extends Serializable {
    def dim: Int = mu.length
    def transform(df: DataFrame, vecCol: String = "embedding",
        outCol: String = "whitened"): DataFrame = {
      val centered = zip_with(col(vecCol).cast("array<double>"),
        typedLit(mu), (x, m) => x - m)
      val comps = w.map { row =>
        aggregate(zip_with(centered, typedLit(row), (x, y) => x * y),
          lit(0.0), (acc, e) => acc + e)
      }
      df.withColumn(outCol, array(comps: _*))
    }
  }

  /** Fit a [[Whitener]] on a corpus: ONE [[Gram]] aggregate for the
    * moments, driver-side [[jacobiEigen]] on the dim×dim covariance. */
  def fitWhitener(df: DataFrame, dim: Int, eps: Double = 1e-9,
      vecCol: String = "embedding"): Whitener = {
    require(eps > 0, s"eps must be positive, got $eps")
    val stats = covarianceMatrix(df, dim, vecCol)
      .select("i", "j", "n", "s_i_micro", "p_micro2", "cov").collect()
    require(stats.nonEmpty && stats.head.getLong(2) > 0,
      "whiten: empty corpus")
    val n = stats.head.getLong(2)
    val cov = Array.ofDim[Double](dim, dim)
    val mu = new Array[Double](dim)
    stats.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(5))
      cov(i)(j) = c; cov(j)(i) = c
      if (i == j) mu(i) = r.getLong(3).toDouble / 1e6 / n
    }
    val (lambda, q) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(k => -lambda(k))
    // row k of the whitening matrix: Q column order(k) scaled by
    // 1/sqrt(λ+eps)
    val w: Seq[Seq[Double]] = order.map { k =>
      val sc = 1.0 / math.sqrt(math.max(lambda(k), 0.0) + eps)
      (0 until dim).map(i => q(i)(k) * sc)
    }
    Whitener(mu.toSeq, w)
  }

  /** A fitted OPQ rotation (round 9): a PURE ORTHOGONAL transform — no
    * centering, no scaling — so norms, inner products, and therefore
    * COSINE NEIGHBORS are exactly preserved: searching the rotated space
    * returns the raw space's answer, only the PQ quantization error
    * changes. Same model-freeze convention as [[Whitener]]: fit once,
    * transform every later batch with the frozen rows; the transform is
    * dim codegen'd folds over literal rows, shuffle-free and
    * streaming-safe. */
  final case class OpqRotation(rows: Seq[Seq[Double]]) extends Serializable {
    def dim: Int = rows.length
    def transform(df: DataFrame, vecCol: String = "embedding",
        outCol: String = "rotated"): DataFrame = {
      val x = col(vecCol).cast("array<double>")
      val comps = rows.map { row =>
        aggregate(zip_with(x, typedLit(row), (a, b) => a * b),
          lit(0.0), (acc, e) => acc + e)
      }
      df.withColumn(outCol, array(comps: _*))
    }
  }

  /** Fit an OPQ rotation by EIGENVALUE ALLOCATION (the parametric OPQ of
    * Ge et al., CVPR'13 §4 — no iterative codebook/rotation alternation):
    * rotate to the PCA eigenbasis, then PERMUTE eigendirections into the
    * m product-quantizer subspaces so the per-subspace variance PRODUCTS
    * balance (greedy: eigenvalues descending, each to the non-full bucket
    * with the smallest log-variance sum). This is what PQ actually wants
    * — variance balanced ACROSS subspaces — where full whitening
    * (flatten per-dimension) measurably HURTS coarse PQ on low-rank
    * corpora (README aniso table: m=4 recall 0.245→0.200 whitened,
    * vs gains under this rotation). Fit cost: one [[Gram]] covariance
    * aggregate + driver Jacobi on dim×dim, same as [[fitWhitener]]. */
  def fitOpqRotation(df: DataFrame, dim: Int, m: Int,
      vecCol: String = "embedding"): OpqRotation = {
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val stats = covarianceMatrix(df, dim, vecCol)
      .select("i", "j", "n", "cov").collect()
    require(stats.nonEmpty && stats.head.getLong(2) > 0,
      "opq: empty corpus")
    val cov = Array.ofDim[Double](dim, dim)
    stats.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(3))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (lambda, q) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(k => -lambda(k))
    val cap = dim / m
    val bucketOf = new Array[Int](dim) // position in `order` → bucket
    val logSum = new Array[Double](m)
    val fill = new Array[Int](m)
    order.indices.foreach { pos =>
      val lam = math.max(lambda(order(pos)), 1e-300)
      var best = -1
      var bestSum = Double.MaxValue
      var b = 0
      while (b < m) {
        if (fill(b) < cap && logSum(b) < bestSum) { best = b; bestSum = logSum(b) }
        b += 1
      }
      bucketOf(pos) = best
      logSum(best) += math.log(lam)
      fill(best) += 1
    }
    // rows grouped bucket-by-bucket: subspace s occupies output dims
    // [s·cap, (s+1)·cap) — exactly the contiguous slices pqTrain cuts
    val rows: Seq[Seq[Double]] = (0 until m).flatMap { b =>
      order.indices.filter(pos => bucketOf(pos) == b).map { pos =>
        val k = order(pos)
        (0 until dim).map(i => q(i)(k))
      }
    }
    OpqRotation(rows)
  }
}
