package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.ParquetInputs
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** One-off measurement harness for picking the recall floors baked into the
  * invariant oracles of the hash-family-specific queries (d_minhash_lsh,
  * e_knn_lsh, e_knn_ivf, e_neardup_lsh). Prints observed recalls per sf dir
  * so the floors in SparkEntry are set with measured margin, not guessed. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()

    if (args.contains("--aniso")) { anisoWhiteningProbe(spark); return }

    val docs = ParquetInputs.read(spark, s"$dir/documents.parquet")
    val emb = ParquetInputs.read(spark, s"$dir/embeddings.parquet")

    // d_minhash_lsh vs exact ngram pairs (threshold 0.2, 64/32, k=3)
    val lshPairs = Dedup.minhashDedupPairs(docs, threshold = 0.2,
      numHashes = 64, bands = 32, k = 3).select("id_a", "id_b")
    val exactPairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.2)
      .select("id_a", "id_b")
    val nExact = exactPairs.count()
    val nLsh = lshPairs.count()
    val nViol = lshPairs.join(exactPairs, Seq("id_a", "id_b"), "left_anti").count()
    println(s"[probe] minhash_lsh: n_exact=$nExact n_lsh=$nLsh violations=$nViol " +
      s"recall=${(nLsh - nViol).toDouble / math.max(nExact, 1)}")

    // e_knn_{lsh,ivf} recall@3 vs brute per query
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceKnn(emb, q, k = 3)
      .select("query_id", "corpus_id")
    for ((name, ann) <- Seq(
        "knn_lsh" -> Similarity.lshKnn(emb, q, k = 3, nPlanes = 6),
        "knn_ivf" -> Similarity.ivfKnn(emb, q, k = 3, nCells = 16, nprobe = 3),
        // floor 24 in e_knn_pq; measured totals 30/29/28 at sf0.001/.01/.1
        "knn_pq" -> Similarity.pqKnn(emb, q, k = 3, m = 16, codebookK = 32,
          shortlist = 50),
        "knn_ivfpq" -> Similarity.ivfPqKnn(emb, q, k = 3, nCells = 16,
          nprobe = 4, m = 16, codebookK = 32, shortlist = 50))) {
      val perQ = ann.select("query_id", "corpus_id")
        .join(brute.withColumn("_hit", lit(1)), Seq("query_id", "corpus_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ret"), sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
        .collect()
      val minRet = if (perQ.isEmpty) 0L else perQ.map(_.getLong(1)).min
      val minHit = if (perQ.isEmpty) 0L else perQ.map(_.getLong(2)).min
      println(s"[probe] $name: queries=${perQ.length} min_returned=$minRet " +
        s"min_hits=$minHit hits=${perQ.map(_.getLong(2)).sorted.mkString(",")}")
    }

    // e_knn_ivf_filtered: filtered IVF vs the exact filtered baseline
    val fBrute = Similarity.filteredKnn(emb, q, k = 3)
      .select("query_id", "corpus_id")
    for (np <- Seq(3, 4)) {
      val fIvf = Similarity.filteredIvfKnn(emb, q, k = 3, nCells = 16,
          nprobe = np)
        .select("query_id", "corpus_id")
        .join(fBrute.withColumn("_hit", lit(1)), Seq("query_id", "corpus_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ret"), sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
        .collect()
      println(s"[probe] knn_ivf_filtered(np=$np): queries=${fIvf.length} " +
        s"total_hits=${fIvf.map(_.getLong(2)).sum}/30 " +
        s"hits=${fIvf.map(_.getLong(2)).sorted.mkString(",")}")
    }

    // e_knn_q8: int8-reconstructed brute-force top-k vs exact
    val q8 = Similarity.bruteForceKnn(Similarity.dequantized(emb), q, k = 3)
      .select("query_id", "corpus_id")
      .join(brute.withColumn("_hit", lit(1)), Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_ret"), sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
      .collect()
    println(s"[probe] knn_q8: queries=${q8.length} " +
      s"total_hits=${q8.map(_.getLong(2)).sum}/30 " +
      s"hits=${q8.map(_.getLong(2)).sorted.mkString(",")}")

    // e_neardup_lsh vs label-blocked exact (threshold 0.35), plane sweep
    val exactNd = Dedup.embeddingNearDup(emb, threshold = 0.35,
      blockCol = Some("label")).select("id_a", "id_b")
    val labels = emb.select(col("vec_id"), col("label"))
    val nExactNd = exactNd.count()
    for (np <- Seq(4, 5, 6)) {
      val lshNd = Dedup.embeddingNearDupLsh(emb, threshold = 0.35, nPlanes = np)
        .select("id_a", "id_b")
      val lshSameLabel = lshNd
        .join(labels.select(col("vec_id").as("id_a"), col("label").as("la")), "id_a")
        .join(labels.select(col("vec_id").as("id_b"), col("label").as("lb")), "id_b")
        .filter(col("la") === col("lb")).select("id_a", "id_b")
      val nSame = lshSameLabel.count()
      val nViolNd = lshSameLabel.join(exactNd, Seq("id_a", "id_b"), "left_anti").count()
      println(s"[probe] neardup_lsh(np=$np): n_exact_lb=$nExactNd n_lsh_same_label=$nSame " +
        s"violations=$nViolNd recall=${(nSame - nViolNd).toDouble / math.max(nExactNd, 1)}")
    }

    // d_simhash: identical-text pairs all found at hamming 0
    val sim = Dedup.simhashPairs(docs, maxHamming = 8)
    val byText = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val dupPairs = byText.as("a").join(byText.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val nDup = dupPairs.count()
    val nDupH0 = dupPairs.join(sim.filter(col("hamming") === 0)
      .select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    println(s"[probe] simhash: identical_pairs=$nDup found_h0=$nDupH0 " +
      s"over_max=${sim.filter(col("hamming") > 8).count()}")

    // e_semantic_dedup: dropped-count floor (nCells=8, threshold=0.35)
    val sem = Dedup.semanticDedup(emb, nCells = 8, threshold = 0.35)
    val semAgg = sem.agg(count(lit(1)).as("n"),
      sum((!col("kept")).cast("long")).as("nd")).head()
    println(s"[probe] semantic_dedup: n_total=${semAgg.getLong(0)} " +
      s"n_dropped=${semAgg.getLong(1)}")

    // e_bitext_ann: blocked-miner pair overlap vs the exact miner
    val ba = emb.filter(col("label") === 0)
    val bb = emb.filter(col("label") === 1)
    // Both pair frames are consumed twice (count + join) — checkpoint the
    // ≤|A|-row results so neither mining pipeline runs twice.
    val exactPairsBt = graft.ops.Mining.bitextMine(ba, bb, k = 4)
      .select("src_id", "dst_id").localCheckpoint()
    val blockedBt = graft.ops.Mining.bitextMineBlocked(ba, bb, k = 4,
      nCells = 8, nprobe = 3).select("src_id", "dst_id").localCheckpoint()
    val nExactBt = exactPairsBt.count()
    val nBlockedBt = blockedBt.count()
    val nHitBt = blockedBt.join(exactPairsBt, Seq("src_id", "dst_id")).count()
    println(s"[probe] bitext: n_exact=$nExactBt n_blocked=$nBlockedBt " +
      s"pair_hits=$nHitBt")

    // d_fingerprint: identical-text docs share identical fingerprint sets
    val fp = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h"),
      graft.functions.GraftFunctions.winnow(
        TextAnalysis.shingleHashes(col("text"), 5), 4).as("fp"))
    val grp = fp.groupBy("h").agg(count(lit(1)).as("n"),
        count_distinct(col("fp")).as("nfp"))
      .filter(col("n") > 1)
    val nGroups = grp.count()
    val nConsistent = grp.filter(col("nfp") === 1).count()
    println(s"[probe] fingerprint: dup_groups=$nGroups consistent=$nConsistent")

    spark.stop()
  }

  /** `--aniso` (round 9, r8 VERDICT task 4): measure whitening's value
    * case for PQ on a LOW-RANK-DOMINANT corpus — the shape real model
    * embeddings have (a handful of dominant directions over isotropic
    * noise), which the driver's near-isotropic synthetic embeddings
    * (eigenvalue spread 1.9×) cannot exhibit. 8 orthonormal dominant
    * directions with scales 8..1.5 over σ=0.25 noise at dim 64, then
    * PQ recall@10 against exact search IN THE SAME SPACE, with and
    * without [[Similarity.whiten]] feeding the quantizer — apples to
    * apples: does PQ approximate its own search space better once
    * components are decorrelated and variance-balanced? */
  private def anisoWhiteningProbe(spark: SparkSession): Unit = {
    import spark.implicits._
    val dim = 64; val nDom = 8; val n = 3000; val nQ = 40; val k = 10
    val rnd = new scala.util.Random(1234L)
    val dirs = Array.ofDim[Double](nDom, dim)
    for (j <- 0 until nDom) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      for (p <- 0 until j) {
        val d = dirs(p)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v(i) * d(i); i += 1 }
        i = 0
        while (i < dim) { v(i) -= dot * d(i); i += 1 }
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      dirs(j) = v.map(_ / nrm)
    }
    val scales = Array(8.0, 6.5, 5.0, 4.0, 3.0, 2.5, 2.0, 1.5)
    val sigma = 0.25
    def sample(id: Long): (Long, Array[Float]) = {
      val x = Array.fill(dim)(sigma * rnd.nextGaussian())
      for (j <- 0 until nDom) {
        val a = scales(j) * rnd.nextGaussian()
        var i = 0
        while (i < dim) { x(i) += a * dirs(j)(i); i += 1 }
      }
      (id, x.map(_.toFloat))
    }
    val corpus = (0 until n).map(i => sample(i.toLong))
      .toDF("vec_id", "embedding").localCheckpoint()
    val queries = (0 until nQ).map(i => sample(100000L + i))
      .toDF("vec_id", "embedding").localCheckpoint()

    def recallOf(ann: org.apache.spark.sql.DataFrame,
        truth: org.apache.spark.sql.DataFrame): Double = {
      val t = truth.select("query_id", "corpus_id").localCheckpoint()
      val hits = ann.select("query_id", "corpus_id")
        .join(t, Seq("query_id", "corpus_id")).count()
      hits.toDouble / t.count()
    }
    def arm(tag: String, m: Int, c: org.apache.spark.sql.DataFrame,
        q: org.apache.spark.sql.DataFrame): Unit = {
      val truth = Similarity.bruteForceKnn(c, q, k = k)
      val pq = Similarity.pqKnn(c, q, k = k, m = m, codebookK = 16,
        shortlist = 50, dim = dim)
      println(f"[probe] aniso pq recall@$k m=$m $tag: ${recallOf(pq, truth)}%.3f")
    }
    val wh = Similarity.fitWhitener(corpus, dim)
    def white(df: org.apache.spark.sql.DataFrame) =
      wh.transform(df).select(col("vec_id"),
        col("whitened").cast("array<float>").as("embedding")).localCheckpoint()
    val (cw, qw) = (white(corpus), white(queries))
    for (m <- Seq(4, 8, 16)) {
      arm("raw      ", m, corpus, queries)
      arm("whitened ", m, cw, qw)
      // OPQ eigenvalue-allocation rotation is fit PER m (the allocation
      // depends on the subspace count); pure rotation → same cosine
      // neighbors as raw, so its recall is directly comparable
      val rot = Similarity.fitOpqRotation(corpus, dim, m)
      def rotated(df: org.apache.spark.sql.DataFrame) =
        rot.transform(df).select(col("vec_id"),
          col("rotated").cast("array<float>").as("embedding")).localCheckpoint()
      arm("opq-rot  ", m, rotated(corpus), rotated(queries))
    }
    // The SERVING-path form of the same comparison (round 11): the
    // persistent IVF-PQ index built with and without the frozen OPQ
    // rotation, searched through the normal query path (probe → ADC →
    // exact rerank). Coarse m=4 codes are where subspace-variance
    // imbalance hurts most, so the rotation's recall win shows here.
    val truth = Similarity.bruteForceKnn(corpus, queries, k = k)
      .localCheckpoint()
    for (opq <- Seq(false, true)) {
      val dir = java.nio.file.Files
        .createTempDirectory("probe-aniso-ivfpq").toString
      Similarity.buildIvfPqIndex(corpus, dir, nCells = 16, m = 4,
        codebookK = 16, dim = dim, opq = opq)
      val ann = Similarity.searchIvfPqIndex(dir, corpus, queries, k = k,
        nprobe = 4, shortlist = 50)
      println(f"[probe] aniso ivfpq-index recall@$k m=4 opq=$opq%-5s: " +
        f"${recallOf(ann, truth)}%.3f")
    }
    spark.stop()
  }
}
