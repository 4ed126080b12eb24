package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.pipeline.Rng

/** ANN scale smoke: brute-force vs multi-table LSH top-k over a synthetic
  * corpus large enough that the bucket structure matters (the testdata
  * embeddings are only 2 k vectors). Vectors are drawn from a mixture of
  * `nClusters` centers plus noise, so near-neighbor structure is real and
  * recall is a meaningful number.
  *
  *   runMain graft.AnnScaleBench [nVectors] [dim] [nQueries] [cores]
  */
object AnnScaleBench {

  def vec(seed: Long, dim: Int, nClusters: Int): Array[Float] = {
    val cluster = Rng.bounded(Rng.mix(seed), nClusters)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val center = ((Rng.mix2(cluster.toLong * 7919L, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 2.0
      val noise = ((Rng.mix2(seed, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 0.4
      out(i) = (center + noise).toFloat
      i += 1
    }
    out
  }

  def corpus(spark: SparkSession, n: Long, dim: Int, nClusters: Int = 256): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => (id, vec(id, dim, nClusters))).toDF("vec_id", "embedding")
  }

  /** Same mixture, but cluster membership CORRELATES with vec_id (contiguous
    * id blocks per cluster) — the id layout of any corpus ingested shard-by-
    * shard or time-ordered. This is the corpus that exposes a biased IVF
    * training sample: training on the smallest ids sees ONE cluster and the
    * coarse quantizer learns a corner.
    */
  def vecCorrelated(id: Long, n: Long, dim: Int, nClusters: Int): Array[Float] = {
    val cluster = math.min(nClusters - 1, (id * nClusters / n).toInt)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val center = ((Rng.mix2(cluster.toLong * 7919L, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 2.0
      val noise = ((Rng.mix2(id, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 0.4
      out(i) = (center + noise).toFloat
      i += 1
    }
    out
  }

  def corpusCorrelated(spark: SparkSession, n: Long, dim: Int, nClusters: Int = 16): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => (id, vecCorrelated(id, n, dim, nClusters))).toDF("vec_id", "embedding")
  }

  def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val dim = if (args.length > 1) args(1).toInt else 64
    val nQueries = if (args.length > 2) args(2).toInt else 100
    val cores = if (args.length > 3) args(3).toInt else Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ann-scale-bench")
      .config("spark.sql.shuffle.partitions", math.max(16, cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = BenchMetrics.install(spark.sparkContext)
    try {
      val emb = corpus(spark, n, dim).repartition(math.max(16, cores * 2)).persist()
      emb.count()
      val queries = emb.filter(col("vec_id") < nQueries)

      def run(name: String)(df: => DataFrame): Set[(Long, Long)] = {
        val (rows, secs, sw, sr) = BenchMetrics.timedWithShuffle(metrics)(
          df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
        println(f"[ann-scale] $name n=$n dim=$dim queries=$nQueries wall=$secs%.1fs " +
          f"shuffleWrite=${sw / 1e6}%.1fMB shuffleRead=${sr / 1e6}%.1fMB cores=$cores")
        rows
      }
      val brute = run("brute")(Similarity.bruteForceKnn(emb, queries, k = 10))
      val lsh = run("lsh-oneshot")(Similarity.lshKnn(emb, queries, k = 10, nBits = 10, nTables = 4))
      val recall = lsh.intersect(brute).size.toDouble / brute.size
      println(f"[ann-scale] recall@10=$recall%.3f")

      // build-once-query-many: index staged to parquet (the 100 TB shape —
      // index build paid once, per-batch queries touch only the index).
      // The staged artifact is the SLIM layout: (bucket, id) rows ×nTables
      // plus ONE copy of the vectors — index bytes reported so the
      // amplification factor vs an embedded-vector index is visible.
      val stage = graft.pipeline.Staging.tempDir("graft-ann-index")
      try {
        val t0 = System.nanoTime()
        Similarity.lshIndex(emb, nBits = 10, nTables = 4).write.parquet(s"$stage/lsh")
        Similarity.vectorTable(emb).write.parquet(s"$stage/vectors")
        println(f"[ann-scale] lsh-index-build wall=${(System.nanoTime() - t0) / 1e9}%.1fs " +
          f"buckets=${dirBytes(s"$stage/lsh") / 1e6}%.1fMB vectors=${dirBytes(s"$stage/vectors") / 1e6}%.1fMB")
        val idx = spark.read.parquet(s"$stage/lsh")
        val vecs = spark.read.parquet(s"$stage/vectors")
        val staged = run("lsh-query-staged")(
          Similarity.lshKnnIndexed(idx, vecs, queries, k = 10, nBits = 10, nTables = 4))
        val recallStaged = staged.intersect(brute).size.toDouble / brute.size
        println(f"[ann-scale] staged recall@10=$recallStaged%.3f")
      } finally graft.pipeline.Staging.deleteRecursively(stage)
      // emb's last use was the staged-LSH arm; freeing it before the PQ and
      // correlated-id phases keeps three corpus-sized caches from coexisting
      // (eviction/spill during a later timed run = bench contamination)
      emb.unpersist()

      // IVF-PQ: the compressed-index path — the scan side holds nSub+4 bytes
      // per vector instead of 4·dim, and the only exchange after the ADC
      // scan carries the bounded candidate list. Measured on a FINE-GRAINED
      // corpus (65,536 clusters ≈ 15 members each): the regime where kNN is
      // the right tool. The shared 256-cluster corpus above is DEGENERATE
      // for quantized ranking — ~n/256 near-equidistant members per cluster
      // put the true top-10's score margins far below any codebook's
      // quantization error, so ADC finds the right cluster but the top-R
      // cut inside it is effectively random (measured recall@10 = 0.016 ≈
      // R / cluster-size at 1 M; raw-vector and residual codebooks alike).
      // That corpus is the dedup regime (embeddingNearDupPairs), not the
      // kNN regime; when near-dup clusters are expected, dedup first or
      // widen rerank to cover the cluster.
      val embFine = corpus(spark, n, dim, nClusters = 65536)
        .repartition(math.max(16, cores * 2)).persist()
      embFine.count()
      val qFine = embFine.filter(col("vec_id") < nQueries)
      val bruteFine = run("brute-fine")(Similarity.bruteForceKnn(embFine, qFine, k = 10))
      val stagePq = graft.pipeline.Staging.tempDir("graft-pq-index")
      try {
        val t0 = System.nanoTime()
        val mU = Similarity.IvfTwoLevel.flat(Similarity.ivfTrain(embFine, nCells = 64))
        val pq = Similarity.pqTrainTwoLevel(embFine, mU, nSub = 8, k = 256, sampleSize = 2048)
        Similarity.ivfPqIndexTwoLevel(embFine, mU, pq).write.partitionBy("cell").parquet(s"$stagePq/ivfpq")
        Similarity.ivfIndexTwoLevel(embFine, mU).write.partitionBy("cell").parquet(s"$stagePq/ivf")
        println(f"[ann-scale] ivfpq-index-build wall=${(System.nanoTime() - t0) / 1e9}%.1fs " +
          f"pqIndex=${dirBytes(s"$stagePq/ivfpq") / 1e6}%.1fMB " +
          f"rawIvfIndex=${dirBytes(s"$stagePq/ivf") / 1e6}%.1fMB")
        val pqStaged = run("ivfpq-query-staged")(Similarity.ivfPqKnnTwoLevelIndexed(
          spark.read.parquet(s"$stagePq/ivfpq"), mU, pq,
          Similarity.vectorTable(embFine), qFine, k = 10, nProbe = 8, nProbeSuper = 1, rerank = 8))
        val recallPq = pqStaged.intersect(bruteFine).size.toDouble / bruteFine.size
        println(f"[ann-scale] ivfpq recall@10=$recallPq%.3f (fine-grained corpus)")
        val rawStaged = run("ivf-query-staged")(Similarity.ivfKnnTwoLevelIndexed(
          spark.read.parquet(s"$stagePq/ivf"), mU, qFine, k = 10, nProbe = 8, nProbeSuper = 1))
        val recallRaw = rawStaged.intersect(bruteFine).size.toDouble / bruteFine.size
        println(f"[ann-scale] ivf-raw recall@10=$recallRaw%.3f (fine-grained corpus)")

        // Distributed trainer at REAL cell counts: 4096 cells on the same
        // 65,536-cluster corpus, compared to the 64-cell driver-trained
        // config above at EQUAL probe fraction (12.5% — nProbe 512/4096 vs
        // 8/64). The driver trainer cannot reach 4096 cells (it needs a
        // sample ≫ nCells collected to the driver and O(sample·nCells·dim)
        // driver flops per iteration); the distributed trainer keeps only
        // the model on the driver (4096 × 64 floats = 1 MB) and runs each
        // Lloyd pass as a cluster job over a seeded quarter-slice.
        val tTrain = System.nanoTime()
        val cs4k = Similarity.ivfTrainDistributed(embFine, nCells = 4096,
          iterations = 3, sampleFraction = 0.25)
        val modelMb = cs4k.length.toLong * cs4k.head.length * 4 / 1e6
        println(f"[ann-scale] ivf-dist-train nCells=4096 iters=3 frac=0.25 " +
          f"wall=${(System.nanoTime() - tTrain) / 1e9}%.1fs driverModel=$modelMb%.1fMB")
        val tIdx = System.nanoTime()
        val m4k = Similarity.IvfTwoLevel.flat(cs4k)
        val idx4k = Similarity.ivfIndexTwoLevel(embFine, m4k).persist()
        idx4k.count()
        println(f"[ann-scale] ivf-dist-index-build wall=${(System.nanoTime() - tIdx) / 1e9}%.1fs")
        val dist = run("ivf-dist-4096c")(
          Similarity.ivfKnnTwoLevelIndexed(idx4k, m4k, qFine, k = 10, nProbe = 512, nProbeSuper = 1))
        val recallDist = dist.intersect(bruteFine).size.toDouble / bruteFine.size
        idx4k.unpersist()
        println(f"[ann-scale] ivf-dist recall@10=$recallDist%.3f vs 64-cell $recallRaw%.3f " +
          "(equal probe fraction 12.5%)")

        // cacheTraining=false: the streaming-pass mode for corpora beyond
        // executor storage. Both arms train from an UNPERSISTED generator-
        // backed frame (each Lloyd pass re-derives its input — exactly the
        // re-scan the mode exists for); fixed-point reduction ⇒ the model
        // must be BIT-IDENTICAL either way, only wall time moves.
        val embCold = corpus(spark, n, dim, nClusters = 65536)
          .repartition(math.max(16, cores * 2))
        val tCa = System.nanoTime()
        val csCached = Similarity.ivfTrainDistributed(embCold, nCells = 4096,
          iterations = 3, sampleFraction = 0.25)
        val wallCa = (System.nanoTime() - tCa) / 1e9
        val tNc = System.nanoTime()
        val csNoCache = Similarity.ivfTrainDistributed(embCold, nCells = 4096,
          iterations = 3, sampleFraction = 0.25, cacheTraining = false)
        val wallNc = (System.nanoTime() - tNc) / 1e9
        val modelEq = csCached.length == csNoCache.length &&
          csCached.zip(csNoCache).forall { case (a, b) => java.util.Arrays.equals(a, b) }
        println(f"[ann-scale] ivf-dist-train cacheTraining: cached=$wallCa%.1fs " +
          f"streamed=$wallNc%.1fs modelBitIdentical=$modelEq")
        require(modelEq, "cacheTraining=false changed the model — determinism contract broken")

        // TWO-LEVEL at cells == natural clusters: 65,536 cells (256 supers
        // × 256 children each). FLAT assignment at this cell count costs
        // n × nCells × dim ≈ 4e12 dot-mults (minutes of cluster time per
        // build); the two-level router costs n × (nSuper + topSuper·kChild)
        // = 85× less. The payoff that matters at 100 TB: with cells
        // coinciding with clusters, probing 64 of 65,536 cells touches
        // ~0.1% of the corpus per query.
        val t2l = System.nanoTime()
        val m2l = Similarity.ivfTrainTwoLevel(embFine, nCells = 65536, nSuper = 256,
          iterations = 3, sampleFraction = 0.25)
        println(f"[ann-scale] ivf-2l-train nCells=65536 nSuper=256 iters=3 frac=0.25 " +
          f"wall=${(System.nanoTime() - t2l) / 1e9}%.1fs driverModel=${65536L * 64 * 4 / 1e6}%.1fMB")
        val tIdx2 = System.nanoTime()
        val idx2l = Similarity.ivfIndexTwoLevel(embFine, m2l).persist()
        idx2l.count()
        println(f"[ann-scale] ivf-2l-index-build wall=${(System.nanoTime() - tIdx2) / 1e9}%.1fs " +
          "(routed assignment: 768 dots/vector vs 65,536 flat)")
        for (np <- Seq(64, 512)) {
          val got = run(s"ivf-2l-probe$np")(
            Similarity.ivfKnnTwoLevelIndexed(idx2l, m2l, qFine, k = 10, nProbe = np, nProbeSuper = 8))
          val r = got.intersect(bruteFine).size.toDouble / bruteFine.size
          println(f"[ann-scale] ivf-2l recall@10=$r%.3f at nProbe=$np/65536 " +
            f"(probe fraction ${np / 655.36}%.2f%%)")
        }

        // INCREMENTAL APPEND vs FULL REBUILD on the daily-growth shape: 10%
        // new vectors (same mixture, fresh ids). Append = one assign-only
        // routed pass over the DELTA through the frozen model; rebuild =
        // retrain two-level + reassign the whole grown corpus. The recall
        // gap on the grown corpus is the staleness signal that decides when
        // appends must give way to a retrain (the s11 driver gate).
        val nd = n / 10
        val delta = corpus(spark, n + nd, dim, nClusters = 65536)
          .filter(col("vec_id") >= n)
        val grown = embFine.unionByName(delta)
        val qGrown = grown.filter(col("vec_id") < nQueries / 2 ||
          (col("vec_id") >= n && col("vec_id") < n + nQueries / 2))
        val bruteGrown = run("brute-grown")(Similarity.bruteForceKnn(grown, qGrown, k = 10))
        val tApp = System.nanoTime()
        val deltaIdx = Similarity.ivfIndexTwoLevel(delta, m2l).persist()
        deltaIdx.count()
        val wallApp = (System.nanoTime() - tApp) / 1e9
        val idxAppended = idx2l.unionByName(deltaIdx)
        val gotApp = run("ivf-2l-appended")(Similarity.ivfKnnTwoLevelIndexed(
          idxAppended, m2l, qGrown, k = 10, nProbe = 64, nProbeSuper = 8))
        val rApp = gotApp.intersect(bruteGrown).size.toDouble / bruteGrown.size
        val tReb = System.nanoTime()
        val mReb = Similarity.ivfTrainTwoLevel(grown, nCells = 65536, nSuper = 256,
          iterations = 3, sampleFraction = 0.25)
        val idxReb = Similarity.ivfIndexTwoLevel(grown, mReb).persist()
        idxReb.count()
        val wallReb = (System.nanoTime() - tReb) / 1e9
        val gotReb = run("ivf-2l-rebuilt")(Similarity.ivfKnnTwoLevelIndexed(
          idxReb, mReb, qGrown, k = 10, nProbe = 64, nProbeSuper = 8))
        val rReb = gotReb.intersect(bruteGrown).size.toDouble / bruteGrown.size
        deltaIdx.unpersist(); idxReb.unpersist()
        println(f"[ann-scale] ivf-2l append-vs-rebuild (+10%%): append=$wallApp%.1fs " +
          f"recall=$rApp%.3f | rebuild=$wallReb%.1fs recall=$rReb%.3f " +
          f"(staleness gap=${rReb - rApp}%.3f)")

        idx2l.unpersist()

        // COMPOSED: router + PQ codes — 65,536 cells of nSub+4 B/vector.
        // The scan side at 0.1% probe fraction reads compressed code rows
        // only; raw vectors are touched by the bounded exact re-rank.
        val tPq2 = System.nanoTime()
        val pq2l = Similarity.pqTrainTwoLevel(embFine, m2l, nSub = 8, k = 256,
          sampleSize = 2048)
        val idxPq2l = Similarity.ivfPqIndexTwoLevel(embFine, m2l, pq2l).persist()
        idxPq2l.count()
        println(f"[ann-scale] ivf-2lpq-build wall=${(System.nanoTime() - tPq2) / 1e9}%.1fs")
        val gotPq2l = run("ivf-2lpq-probe64")(Similarity.ivfPqKnnTwoLevelIndexed(
          idxPq2l, m2l, pq2l, Similarity.vectorTable(embFine), qFine,
          k = 10, nProbe = 64, nProbeSuper = 8, rerank = 8))
        val rPq2l = gotPq2l.intersect(bruteFine).size.toDouble / bruteFine.size
        idxPq2l.unpersist()
        println(f"[ann-scale] ivf-2lpq recall@10=$rPq2l%.3f at nProbe=64/65536 " +
          "(compressed scan + routed probes)")
      } finally graft.pipeline.Staging.deleteRecursively(stagePq)
      embFine.unpersist()

      // IVF on a cluster-correlated id layout: the case a biased training
      // sample (smallest ids = one cluster) fails. uniform = ivfTrain's
      // seeded hash-ordered sample over the whole corpus; biased = the same
      // trainer restricted to the smallest 256 ids (exactly what ordering by
      // raw vec_id used to sample). Expect uniform recall to hold and
      // biased recall to collapse.
      val nCorr = math.min(n, 200000L)
      val embCorr = corpusCorrelated(spark, nCorr, dim).repartition(math.max(16, cores * 2)).persist()
      embCorr.count()
      val qCorr = embCorr.filter(col("vec_id") % (nCorr / nQueries) === 0)
      val bruteCorr = run("brute-correlated")(Similarity.bruteForceKnn(embCorr, qCorr, k = 10))
      def ivfRecall(label: String, trainFrame: DataFrame): Double = {
        val m = Similarity.IvfTwoLevel.flat(Similarity.ivfTrain(trainFrame, nCells = 16))
        val got = run(s"ivf-$label")(Similarity.ivfKnnTwoLevelIndexed(
          Similarity.ivfIndexTwoLevel(embCorr, m), m, qCorr, k = 10, nProbe = 4, nProbeSuper = 1))
        val r = got.intersect(bruteCorr).size.toDouble / bruteCorr.size
        println(f"[ann-scale] ivf-$label recall@10=$r%.3f (correlated ids, n=$nCorr)")
        r
      }
      val uniformRecall = ivfRecall("uniform-sample", embCorr)
      val biasedRecall = ivfRecall("biased-sample", embCorr.filter(col("vec_id") < 256))
      println(f"[ann-scale] ivf sample-bias delta: uniform=$uniformRecall%.3f biased=$biasedRecall%.3f")
    } finally spark.stop()
  }
}
