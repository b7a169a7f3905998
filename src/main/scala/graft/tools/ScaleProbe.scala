package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Synthetic N x 64-dim IVF build + ANN-vs-brute scale probe (invoked by
 * Bench per round at N=100k, and standalone for big-N anchors). The
 * standalone main exists because sbt's own JVM heap caps the probe around
 * 4M rows — run the 10M+ anchors in a dedicated JVM:
 *
 *   java -Xmx100g -XX:+UseG1GC \
 *     -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
 *     graft.tools.ScaleProbe 10000000
 *
 * Big-N switches (env), for anchors whose working set cannot double-live
 * in RAM and on disk:
 *   SPARK_GRAFT_SCALE_NOCACHE=1  source table lives ONLY as parquet on
 *       disk (generate -> write -> read back); every scan including the
 *       build pays the disk read, like a real 100 TB table would. The
 *       RAM-cached serving tier (`_scale_ann`/`_scale_brute`) is skipped.
 *   SPARK_GRAFT_SCALE_NOSRC=1  no parquet source table AT ALL (source
 *       stays RAM-cached; the disk-scan brute comparisons are skipped,
 *       the RAM-resident batch comparison is kept). For the 100M anchor:
 *       source parquet + build shuffle + index files cannot coexist in
 *       this box's free disk, but cache(35G) + shuffle(23G) + index(20G)
 *       can.
 *   SPARK_GRAFT_SCALE_STORAGE=both|f32|f16  which storage tiers to
 *       build. 100M x 64d f32 gen + src + shuffle spill overruns this
 *       box's disk; f16 fits.
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0) else "100000"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = runN(spark, n.toInt)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","n":$n,"timings":$qs}""")
    spark.stop()
  }

  def run(spark: SparkSession): Seq[(String, Double)] =
    runN(spark, sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "100000").toInt)

  private def runN(spark: SparkSession, nRows: Int): Seq[(String, Double)] = scaleProbe(spark, nRows)

  private def scaleProbe(spark: org.apache.spark.sql.SparkSession, nRows: Int): Seq[(String, Double)] = {
    import spark.implicits._
    try {
      val n = nRows
      // SPARK_GRAFT_SCALE_DIM: anchor geometry. 64 is the bench default;
      // 768 reproduces BASELINE.md's flagship rows (100M x 768d) — keys
      // carry a _d<dim> suffix when not 64 so bench keys stay stable
      val dim = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIM", "64").toInt
      val dimTag = if (dim == 64) "" else s"_d$dim"
      val nocache = sys.env.get("SPARK_GRAFT_SCALE_NOCACHE").contains("1")
      val nosrc = sys.env.get("SPARK_GRAFT_SCALE_NOSRC").contains("1")
      val storage = sys.env.getOrElse("SPARK_GRAFT_SCALE_STORAGE", "both")
      val f32Tier = storage != "f16"
      val f16Tier = storage != "f32"
      def say(s: String): Unit = System.err.println(s"[scale] $s")
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def timed(key: String)(body: => Unit): Unit = {
        val t = System.nanoTime(); body
        val sec = (System.nanoTime() - t) / 1e9
        out += (key -> sec); say(f"$key = $sec%.2fs")
      }
      def timedRet[A](key: String)(body: => A): A = {
        val t = System.nanoTime(); val r = body
        val sec = (System.nanoTime() - t) / 1e9
        out += (key -> sec); say(f"$key = $sec%.2fs")
        r
      }
      // NO repartition: spark.range already yields defaultParallelism
      // partitions — a repartition here round-robin-shuffled the ENTIRE
      // generated table (42 GB at 10M x 768d) for nothing, and the
      // shuffle files stay pinned while `gen` is referenced
      val gen = spark.range(n).map { i =>
        val rng = new scala.util.Random(i)
        (i, Array.fill(dim)(rng.nextFloat() * 2 - 1))
      }.toDF("id", "vec")
      val dir = s"${sys.props("java.io.tmpdir")}/graft-bench-scale-$n$dimTag"
      val srcDir = s"$dir-src"
      val df =
        if (nocache) {
          // disk-resident source: the build and every brute scan read
          // parquet, the regime a 100 TB table actually lives in.
          // Generation is deterministic per row id, so a completed
          // previous write (_SUCCESS present) is byte-equivalent — reuse
          // it instead of paying the multi-GB generate+write again
          val done = new java.io.File(s"$srcDir/_SUCCESS").exists()
          if (!done) gen.write.mode("overwrite").parquet(srcDir)
          else say(s"reusing existing source parquet at $srcDir")
          spark.read.parquet(srcDir)
        } else { val d = gen.cache(); d.count(); d }
      // config scales with n the way the reference's build guidance does
      // (BASELINE.md: hierarchical k-means + kmeans_dimension reduction +
      // bounded sampling are what make the 100M/20min and 1B/128GB claims):
      // >=500k rows adds a two-level centroid tree and clusters in a
      // 16-dim rotated-truncated space to keep the driver k-means bounded.
      val cfg =
        if (n >= 500000)
          graft.index.IvfConfig(lists = 256, kmeansAlgo = "hierarchical",
            kmeansDim = 16, lists1 = 16, samplingFactor = 128,
            assignByTree = true)
        else graft.index.IvfConfig(lists = 64, kmeansAlgo = "hierarchical")
      val q = Array.tabulate(dim)(j => ((j % 7) - 3) * 0.1f)
      val probes = math.max(8, math.ceil(math.sqrt(cfg.lists.toDouble)).toInt)
      var idx: graft.index.IvfIndex = null
      if (f32Tier) {
        timed(s"_scale_build_$n$dimTag") {
          idx = graft.index.IvfIndex.build(df, "id", "vec", dir, cfg)
        }
      }
      if (!nocache && !nosrc) df.write.mode("overwrite").parquet(srcDir)
      // UNCACHED tier — the disk-resident regime the reference's
      // economics target: ANN touches only the probed clusters' code
      // columns; brute decodes every stored vector
      if (f32Tier) {
        val coldIdx = graft.index.IvfIndex.load(spark, dir)
        timed(s"_scale_ann_uncached_$n$dimTag") {
          coldIdx.search(q, 10, probes = probes, refine = 8).count()
        }
      }
      if (!nosrc) timed(s"_scale_brute_uncached_$n$dimTag") {
        graft.ops.Knn.topK(spark.read.parquet(srcDir), "id", "vec", q, 10).count()
      }
      // halfvec storage tier: same index shape, rerank vectors stored as
      // packed f16 — half the rerank bytes on an uncached scan
      val dir16 = s"$dir-f16"
      var idx16: graft.index.IvfIndex = null
      if (f16Tier) {
        timed(s"_scale_build_f16_$n$dimTag") {
          graft.index.IvfIndex.build(df, "id", "vec", dir16, cfg.copy(storage = "f16"))
        }
        // measured like the f32 uncached tier: a freshly loaded instance
        idx16 = graft.index.IvfIndex.load(spark, dir16)
        timed(s"_scale_ann_f16_uncached_$n$dimTag") {
          idx16.search(q, 10, probes = probes, refine = 8).count()
        }
      }
      // serving model: index prewarmed (reference vchordrq_prewarm), same
      // memory residency the brute-force side gets from its cached df.
      // Skipped under NOCACHE: there is no RAM-resident brute side to
      // compare against at this N.
      val servIdx = if (idx != null) idx else idx16
      servIdx.prewarm()
      if (!nocache && f32Tier) {
        timed(s"_scale_ann_$n$dimTag") {
          idx.search(q, 10, probes = probes, refine = 8).count()
        }
        timed(s"_scale_brute_$n$dimTag") {
          graft.ops.Knn.topK(df, "id", "vec", q, 10).count()
        }
      }
      // range tier (opclass strategy 2, round 5): a SELECTIVE sphere —
      // radius self-calibrated to the (n/1000)-th nearest distance so
      // selectivity stays ~0.1% at every N. DISK-RESIDENT regime, the
      // economics the reference's strategy-2 scan targets: the indexed
      // path reads only sphere-intersecting cells' CODE columns plus the
      // candidates' vectors; the exact filter decodes every stored
      // vector. Each path runs once untimed first (JIT + the one-time
      // per-cell-radius artifact, a build-side cost like prewarm), so
      // the timed numbers compare steady-state work, both sides
      // page-cache warm.
      if (!nosrc && f32Tier) {
        val kR = math.max(50, n / 1000)
        val radius = graft.ops.Knn.topK(df, "id", "vec", q, kR)
          .select("dist").collect().last.getDouble(0)
        val rangeIdx = graft.index.IvfIndex.load(spark, dir)
        rangeIdx.rangeSearch(q, radius).count()
        timed(s"_scale_range_indexed_$n$dimTag") {
          rangeIdx.rangeSearch(q, radius).count()
        }
        import org.apache.spark.sql.functions.{col, lit, typedlit}
        def scanFilter() = spark.read.parquet(srcDir).filter(
          graft.functions.GraftFunctions.sphereL2Contains(
            col("vec"), typedlit(q.toSeq), lit(radius)))
        scanFilter().count()
        timed(s"_scale_range_scan_$n$dimTag") { scanFilter().count() }
        // CLUSTERED variant: uniform-random vectors are the adversarial
        // case for ANY geometric pruning (cell radii ≈ the whole data
        // spread, nothing prunes — same reason the cached brute scan wins
        // the uniform single-query comparison above). Real embedding
        // corpora cluster; this anchor shows the cell bound working where
        // it is designed to: 256 Gaussian clusters (sigma 0.05 vs ~4.8
        // inter-center spread), sphere around one cluster's center —
        // the triangle bound keeps a handful of cells, the scan decodes
        // everything.
        // at bench N (100k) BOTH range paths are dominated by fixed job
        // overhead and the one-job scan wins — the crossover needs the
        // scan's decode cost to grow, so standalone big-N runs size the
        // clustered corpus with n (COVERAGE §2.6 records the 4M anchor)
        val nc = math.min(n, 4000000)
        val cgen = spark.range(nc).map { i =>
          val c = (i % 256).toInt
          val crng = new scala.util.Random(9000 + c)
          val center = Array.fill(dim)(crng.nextFloat() * 2 - 1)
          val rng = new scala.util.Random(i)
          (i.toLong, center.map(x => x + rng.nextGaussian().toFloat * 0.05f))
        }.toDF("id", "vec")
        val cdir = s"$dir-clustered"
        val csrc = s"$cdir-src"
        cgen.write.mode("overwrite").parquet(csrc)
        val cdf = spark.read.parquet(csrc)
        val cidx = graft.index.IvfIndex.build(cdf, "id", "vec", cdir,
          graft.index.IvfConfig(lists = 256, kmeansAlgo = "hierarchical",
            samplingFactor = 64))
        val cq = {
          val crng = new scala.util.Random(9000)
          Array.fill(dim)(crng.nextFloat() * 2 - 1)
        }
        val cRadius = graft.ops.Knn.topK(cdf, "id", "vec", cq, math.max(50, nc / 1000))
          .select("dist").collect().last.getDouble(0)
        cidx.rangeSearch(cq, cRadius).count()
        timed(s"_scale_rangec_indexed_$n$dimTag") {
          cidx.rangeSearch(cq, cRadius).count()
        }
        def cScan() = cdf.filter(graft.functions.GraftFunctions.sphereL2Contains(
          col("vec"), typedlit(cq.toSeq), lit(cRadius)))
        cScan().count()
        timed(s"_scale_rangec_scan_$n$dimTag") { cScan().count() }
      }
      // batch serving: nBatch queries in two jobs via searchMany vs the
      // brute partition-local-heap knnJoin — per-query job overhead
      // amortizes, which is where the index pays off in a batch engine
      val nBatch = 256
      val qs = Array.tabulate(nBatch) { i =>
        val rng = new scala.util.Random(1000 + i)
        i.toLong -> Array.fill(dim)(rng.nextFloat() * 2 - 1)
      }
      timed(s"_scale_annbatch${nBatch}_$n$dimTag") {
        servIdx.searchMany(qs, 10, probes = probes, refine = 8).count()
      }
      timed(s"_scale_brutebatch${nBatch}_$n$dimTag") {
        graft.ops.Knn.knnJoin(df, "id", "vec", qs, 10).count()
      }
      // sharded graph tier anchor (env-gated: Vamana build is the
      // expensive phase; the point is that it runs INSIDE executor tasks
      // with no driver cap, shards in parallel)
      if (sys.env.get("SPARK_GRAFT_SCALE_GRAPH").contains("1")) {
        val gdir = s"$dir-gshard"
        val gShards = math.max(4, nRows / 40000)
        timed(s"_scale_gshard_build_$n$dimTag") {
          graft.index.ShardedVamana.build(df, "id", "vec", gdir,
            graft.index.VamanaConfig(), shards = gShards)
        }
        val h = graft.index.ShardedVamana.load(spark, gdir)
        timed(s"_scale_gshard_batch64_$n$dimTag") {
          h.search(spark, qs.take(64), 10).count()
        }
        h.unpersist()
      }
      if (!nocache) df.unpersist()
      // BULK media-decode throughput (round-7): the goldens prove the
      // codec path on capped doc counts; these keys measure decode
      // rows/sec at bulk through the same partition-local batch kernels.
      // Blobs are generated+cached UNTIMED (real encoded bytes — PNG via
      // ImageIO, WAV via javax.sound, MJPEG concatenation), so the timed
      // pass is pure decode+stats work.
      if (!sys.env.get("SPARK_GRAFT_SCALE_MM").contains("0")) {
        val nMm = sys.env.getOrElse("SPARK_GRAFT_SCALE_MM_N", "50000").toInt
        val imgs = spark.range(nMm)
          .map(i => (i, graft.ops.Multimodal.syntheticPng(i)))
          .toDF("id", "blob").cache()
        imgs.count()
        timed(s"_scale_mm_decode${nMm / 1000}k") {
          assert(graft.ops.Multimodal.imageStats(imgs, "id", "blob").count() == nMm)
        }
        timed(s"_scale_mm_features${nMm / 1000}k") {
          assert(graft.ops.Multimodal.extractFeatures(imgs, "id", "blob", dim = 64)
            .count() == nMm)
        }
        imgs.unpersist()
        val wavs = spark.range(nMm)
          .map(i => (i, graft.ops.Multimodal.syntheticWav(i)))
          .toDF("id", "blob").cache()
        wavs.count()
        timed(s"_scale_mm_audio${nMm / 1000}k") {
          assert(graft.ops.Multimodal.audioStats(wavs, "id", "blob").count() == nMm)
        }
        wavs.unpersist()
        // video tier: fewer clips, 8 real JPEG frames each — sampleFrames
        // walks the marker structure, the downstream decode re-parses the
        // sampled frames (frames emitted = clips x 4 at everyN=2)
        val nClips = nMm / 10
        val clips = spark.range(nClips)
          .map(i => (i, graft.ops.Multimodal.syntheticMjpeg(i, frames = 8)))
          .toDF("id", "blob").cache()
        clips.count()
        val clipTag = if (nClips >= 1000) s"${nClips / 1000}k" else nClips.toString
        timed(s"_scale_mm_frames$clipTag") {
          val fr = graft.ops.Multimodal.sampleFrames(clips, "id", "blob",
            everyN = 2, maxFrames = 4)
          assert(graft.ops.Multimodal.imageStats(
            fr.selectExpr("id * 10 + frame_no AS fid", "frame_blob"),
            "fid", "frame_blob").count() == nClips.toLong * 4)
        }
        clips.unpersist()
      }
      // BULK curation throughput (round-8): the curation goldens prove
      // semantics at oracle scale; these keys measure rows/sec at bulk
      // through the same operators. Docs are generated+cached UNTIMED
      // (deterministic ~100-token synthetic text), so the timed pass is
      // pure operator work. Aggregations force the computed columns —
      // count() alone would let Spark prune pure projections.
      if (!sys.env.get("SPARK_GRAFT_SCALE_CURATE").contains("0")) {
        import org.apache.spark.sql.functions._
        val nDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CURATE_N", "200000").toInt
        val vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table",
          "value", "part", "hash", "merge", "batch", "spark", "window", "order",
          "data", "column", "join", "small", "line", "customer", "query", "big",
          "vector", "stream", "filter", "sort", "group", "the", "a")
        val docsDf = spark.range(nDocs).map { i =>
          val sb = new java.lang.StringBuilder(600)
          var x = i * 6364136223846793005L + 1442695040888963407L
          val len = 60 + (math.abs(x) % 80).toInt
          var j = 0
          while (j < len) {
            x = x * 6364136223846793005L + 1442695040888963407L
            if (j > 0) sb.append(' ')
            sb.append(vocab((math.abs(x) % vocab.length).toInt))
            j += 1
          }
          (i, sb.toString)
        }.toDF("doc_id", "text").cache()
        docsDf.count()
        val tag = s"${nDocs / 1000}k"
        val evalSlice = docsDf.filter(col("doc_id") % 97 === 0)
        timed(s"_scale_curate_decon$tag") {
          graft.ops.Curation.decontaminate(
            docsDf.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
            evalSlice, "text", n = 5, minOverlap = 3).count()
        }
        timed(s"_scale_curate_chunk$tag") {
          // sum over chunk token counts forces the slice/join work
          graft.ops.Curation.chunkTokens(docsDf, "doc_id", "text", 32, 24)
            .agg(sum(length(col("chunk_text"))), sum(col("n_tokens"))).collect()
        }
        timed(s"_scale_curate_rep$tag") {
          val (topF, distR, dupG) = graft.ops.Curation.repetitionSignals(col("text"))
          docsDf.select(topF.as("t"), distR.as("d"), dupG.as("g"))
            .agg(sum(col("t")), sum(col("d")), sum(col("g"))).collect()
        }
        timed(s"_scale_curate_mix$tag") {
          graft.ops.Curation.sampleMix(docsDf, "doc_id", "text",
            Map.empty, defaultRate = 0.5).count()
        }
        timed(s"_scale_curate_pii$tag") {
          val (red, n) = graft.ops.Curation.redactPii(
            concat(col("text"), lit(" u"), col("doc_id").cast("string"),
              lit("@ex.org at 10.0."), (col("doc_id") % 256).cast("string"), lit(".9")))
          docsDf.select(length(red).as("l"), n.as("n"))
            .agg(sum(col("l")), sum(col("n"))).collect()
        }
        timed(s"_scale_curate_substr$tag") {
          // k=8 over the 30-word vocab: plenty of genuinely duplicated
          // 8-grams at 200k docs, so the cover join + rebuild do real work
          graft.ops.Curation.substringDedup(docsDf, "doc_id", "text", k = 8)
            .agg(sum(length(col("text_clean"))), sum(col("n_removed"))).collect()
        }
        timed(s"_scale_curate_lines$tag") {
          // ' value ' occurs naturally in the vocab stream — the line
          // synthesis mirrors the dedup_lines oracle query
          graft.ops.Curation.dedupLinesCorpus(
            docsDf.withColumn("__ml",
              expr("replace(text, ' value ', chr(10))")), "doc_id", "__ml")
            .agg(sum(length(col("text_clean"))), sum(col("n_removed"))).collect()
        }
        timed(s"_scale_curate_score$tag") {
          val vocabDf = docsDf
            .select(explode(split(col("text"), " ")).as("term")).distinct()
            .withColumn("weight",
              graft.ops.Curation.hashUnit(col("term"), "w") - 0.5)
          graft.ops.Curation.scoreWithModel(docsDf, "doc_id", "text", vocabDf)
            .agg(sum(col("score"))).collect()
        }
        timed(s"_scale_curate_pack$tag") {
          graft.ops.Curation.packSequences(
            docsDf.withColumn("__n", size(split(col("text"), " "))),
            "doc_id", "__n", budget = 512, buckets = 256)
            .agg(max(col("pack_no")), sum(col("n_tokens"))).collect()
        }
        timed(s"_scale_curate_cap$tag") {
          graft.ops.Curation.capPerKey(
            docsDf.withColumn("__src", (col("doc_id") % 1000).cast("string")),
            "__src", "doc_id", 50).count()
        }
        timed(s"_scale_curate_dsir$tag") {
          // DSIR bulk: both histogram passes + the broadcast-ratio scoring
          // pass over all docs (target = the 1/97 eval slice)
          graft.ops.Curation.importanceWeights(docsDf, "doc_id", "text",
              evalSlice, "text", n = 2, buckets = 8192)
            .agg(sum(col("weight")), sum(col("n_shingles"))).collect()
        }
        timed(s"_scale_curate_xent$tag") {
          // bigram-LM scoring bulk: LM histograms from the eval slice +
          // the zip/join/reduce scoring pass over every doc
          graft.ops.Curation.ngramCrossEntropy(docsDf, "doc_id", "text",
              evalSlice, "text", buckets = 8192)
            .agg(sum(col("xent")), sum(col("n_bigrams"))).collect()
        }
        timed(s"_scale_curate_gopher$tag") {
          val g = graft.ops.Curation.gopherRules(
            expr("replace(text, ' value ', chr(10))"))
          docsDf.select(g.meanWordLen.as("m"), g.bulletFrac.as("b"),
              g.alphaFrac.as("a"), g.keep.cast("int").as("k"))
            .agg(sum(col("m")), sum(col("b")), sum(col("a")), sum(col("k")))
            .collect()
        }
        timed(s"_scale_curate_norm$tag") {
          docsDf.select(length(graft.ops.TextOps.normalizeText(
              col("text"), "nfkc", lower = true, stripAccents = true)).as("l"))
            .agg(sum(col("l"))).collect()
        }
        timed(s"_scale_bm25$tag") {
          // stats pass + shuffle-free scoring scan + TakeOrdered top-100
          graft.ops.Search.bm25TopK(docsDf, "doc_id", "text",
            Seq("spark", "merge", "window"), 100).collect()
        }
        val postingsDir =
          s"${sys.props("java.io.tmpdir")}/graft-scale-postings$tag"
        val postings = timedRet(s"_scale_bm25_build$tag") {
          graft.ops.Search.buildPostings(docsDf, "doc_id", "text",
            postingsDir, nBuckets = 64)
        }
        timed(s"_scale_bm25_indexed$tag") {
          // postings path: reads only the 3 query terms' buckets
          postings.search(spark, Seq("spark", "merge", "window"), 100)
            .collect()
        }
        val bpeModel = timedRet(s"_scale_bpe_train$tag") {
          // corpus word-freq pass + 200 merge rounds over the dictionary
          graft.ops.Bpe.train(docsDf, "text", nMerges = 200)
        }
        timed(s"_scale_bpe_encode$tag") {
          // per-doc min-rank encode under the trained model (no shuffle)
          graft.ops.Bpe.tokenCounts(docsDf, "doc_id", "text", bpeModel)
            .agg(sum(col("n_tokens"))).collect()
        }
        timed(s"_scale_shard$tag") {
          // md5-deterministic shuffle + 32-way shard/pos assignment
          graft.ops.Curation.shuffleShards(docsDf, "doc_id", 32)
            .agg(max(col("pos")), sum(col("shard"))).collect()
        }
        timed(s"_scale_corpstats$tag") {
          graft.ops.Curation.corpusStats(
            docsDf.withColumn("__lang", (col("doc_id") % 5).cast("string")),
            "text", Seq("__lang")).collect()
        }
        docsDf.unpersist()
      }
      // Keyword-retrieval scan-vs-index economics: a 10k-word Zipf-ish
      // vocab (u² rank bias) makes the probe terms SELECTIVE — the
      // shared 30-word curate fixture is the adversarial case where
      // Σ df ≈ corpus and an inverted index cannot win. Corpus is
      // written to parquet (the standing-corpus regime both paths
      // actually serve — a RAM-cached scan baseline would be comparing
      // memory against disk); scan cost grows with the corpus, the
      // postings path reads only the query terms' buckets.
      if (!sys.env.get("SPARK_GRAFT_SCALE_KW").contains("0")) {
        import org.apache.spark.sql.functions.col
        val nKw = sys.env.getOrElse("SPARK_GRAFT_SCALE_KW_N", "200000").toInt
        val kwTag = s"${nKw / 1000}k"
        val kwBase = s"${sys.props("java.io.tmpdir")}/graft-scale-kw$kwTag"
        // SPARK_GRAFT_SCALE_KW_REUSE=1 reuses an existing corpus+index
        // (skip gen+build; re-measure the serving paths on a quiet box)
        val kwReuse = sys.env.get("SPARK_GRAFT_SCALE_KW_REUSE").contains("1") &&
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$kwBase/postings/meta.properties"))
        // corpus content is deterministic in doc_id — an existing docs
        // parquet is identical to a fresh gen, so reuse it even when
        // re-measuring the build (kwReuse skips gen AND build)
        val kwHaveDocs = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$kwBase/docs/_SUCCESS"))
        if (!kwReuse && !kwHaveDocs) spark.range(nKw).map { i =>
          val sb = new java.lang.StringBuilder(800)
          var x = i * 2862933555777941757L + 3037000493L
          var j = 0
          while (j < 100) {
            x = x * 6364136223846793005L + 1442695040888963407L
            val u = (x >>> 11).toDouble / (1L << 53).toDouble
            if (j > 0) sb.append(' ')
            sb.append('w').append((u * u * 10000).toInt)
            j += 1
          }
          (i, sb.toString)
        }.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$kwBase/docs")
        val kwDocs = spark.read.parquet(s"$kwBase/docs")
        val kwTerms = Seq("w8111", "w9222", "w9333")
        val kwStats = graft.ops.Search.bm25Stats(kwDocs, "text", kwTerms)
        timed(s"_scale_kwscan$kwTag") {
          // per-query scan cost with standing stats: the corpus read +
          // shuffle-free scoring + TakeOrdered
          graft.ops.Search.bm25TopK(kwDocs, "doc_id", "text", kwTerms, 100,
            stats = Some(kwStats)).collect()
        }
        val kwIdx =
          if (kwReuse) graft.ops.Search.loadPostings(s"$kwBase/postings")
          else timedRet(s"_scale_kwbuild$kwTag") {
            graft.ops.Search.buildPostings(kwDocs, "doc_id", "text",
              s"$kwBase/postings", nBuckets = 64)
          }
        timed(s"_scale_kwindexed$kwTag") {
          kwIdx.search(spark, kwTerms, 100).collect()
        }
      }
      // MaxSim retrieval at ColBERT-ish width through the R = 1 batch
      // face: 64 query tokens x kPerToken=1000 -> 64k pooled estimates,
      // then an exact rescore of k x refine docs (100, then 400)
      if (!sys.env.get("SPARK_GRAFT_SCALE_MAXSIM").contains("0")) {
        val nMsDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_MAXSIM_N", "20000").toInt
        val toksPerDoc = 10
        val dimMs = 32
        def unitMs(x0: Long): Float = {
          val x = x0 * 6364136223846793005L + 1442695040888963407L
          (((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0).toFloat
        }
        val tokDf = spark.range(nMsDocs.toLong * toksPerDoc).map { r =>
          val doc = r / toksPerDoc
          val pos = (r % toksPerDoc).toInt
          (doc, pos, Array.tabulate(dimMs)(j => unitMs(r * 31L + j)).toSeq)
        }.toDF("doc", "pos", "v")
        val msDir = s"${sys.props("java.io.tmpdir")}/graft-scale-maxsim$nMsDocs"
        val msIdx = timedRet(s"_scale_maxsim_build${nMsDocs / 1000}k") {
          graft.ops.MaxSim.buildTokenIndex(tokDf, "doc", "pos", "v", msDir,
            graft.index.IvfConfig(metric = "negdot", lists = 64, residual = false))
        }
        val msQuery = Array.tabulate(64)(qi =>
          Array.tabulate(dimMs)(j => unitMs(qi * 977L + j)))
        def maxsim(refine: Int) = graft.ops.MaxSim.maxsimManyMulti(Seq(msIdx),
          Array(0L -> msQuery), 100, kPerToken = 1000, probes = Seq(8),
          refine = refine).count()
        timed(s"_scale_maxsim_approx${nMsDocs / 1000}k") { maxsim(1) }
        timed(s"_scale_maxsim_refine${nMsDocs / 1000}k") { maxsim(4) }
      }
      // SemDeDup bulk: 100k x 16d embeddings in 256 planted clusters —
      // assignment scan (argmin over 256 codegen cosdists) + the
      // in-cluster quadratic pair join, the operator's real cost shape
      if (!sys.env.get("SPARK_GRAFT_SCALE_SEMDEDUP").contains("0")) {
        import org.apache.spark.sql.functions.col
        val nEmb = sys.env.getOrElse("SPARK_GRAFT_SCALE_SEMDEDUP_N", "100000").toInt
        val kC = 256
        val dimE = 16
        def lcg(x0: Long): Long = x0 * 6364136223846793005L + 1442695040888963407L
        def unit(x0: Long): Double = {
          val x = lcg(x0); ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
        }
        val cents = Array.tabulate(kC)(c =>
          Array.tabulate(dimE)(j => unit(c * 131L + j).toFloat))
        val embDf = spark.range(nEmb).map { i =>
          val c = cents((i % kC).toInt)
          val v = Array.tabulate(dimE)(j => c(j) + 0.05f * unit(i * 17L + j).toFloat)
          (i, v.toSeq)
        }.toDF("vec_id", "embedding").cache()
        embDf.count()
        timed(s"_scale_semdedup${nEmb / 1000}k") {
          graft.ops.Dedup.semDedup(embDf, "vec_id", "embedding", 0.01, cents).count()
        }
        embDf.unpersist()
      }
      // Many-root PLANNING latency (the partitioned-table serve's driver
      // cost): 8 children x 2k rows, one index per child, time the
      // OPTIMIZER producing the served plan (the flat multi-root codes
      // read runs inside it — one pool job, one analyzed relation at any
      // width). Fixture + timing in `ManyRootFixture` (the width sweep's
      // figures are in COVERAGE.md); cached in tmp across runs; warm
      // once, report min of 3.
      if (!sys.env.get("SPARK_GRAFT_SCALE_MANYROOT").contains("0")) {
        val nR = 8
        val best = graft.tools.ManyRootFixture.planRuns(spark, nR).min
        out += (s"_scale_manyroot${nR}_plan" -> best)
        say(f"_scale_manyroot${nR}_plan = $best%.3fs")
        // batched-face latency floors over the SAME fixture (round 14):
        // regression canaries for the constant-job batch machinery —
        // searchManyMulti (16 queries, 2 flat jobs) and
        // rangeSearchManyMulti (8 spheres) across the 8 children.
        // Throughput-scale numbers (16 x 100k) are in COVERAGE.md; these
        // track the per-call overhead per round. Warm once, min of 3.
        val idxs = graft.tools.ManyRootFixture.ensureFixture(spark, nR)._2
          .map(graft.index.IvfIndex.load(spark, _))
        val rngB = new scala.util.Random(271)
        val qB = Array.tabulate(16)(i =>
          (i.toLong, Array.fill(8)(rngB.nextFloat() * 2 - 1)))
        def bestOf(f: () => Unit): Double = {
          f()
          (1 to 3).map { _ =>
            val t = System.nanoTime(); f(); (System.nanoTime() - t) / 1e9
          }.min
        }
        val tBatch = bestOf(() => {
          graft.index.IvfIndex.searchManyMulti(idxs, qB, k = 5, probes = 2,
            refine = 8).count()
          ()
        })
        out += (s"_scale_manyroot${nR}_batch16" -> tBatch)
        say(f"_scale_manyroot${nR}_batch16 = $tBatch%.3fs")
        val spheres = Array.tabulate(8)(i =>
          (i.toLong, qB(i)._2, 1.2))
        val tRange = bestOf(() => {
          graft.index.IvfIndex.rangeSearchManyMulti(idxs, spheres).count()
          ()
        })
        out += (s"_scale_manyroot${nR}_range8" -> tRange)
        say(f"_scale_manyroot${nR}_range8 = $tRange%.3fs")
        // planner KNN JOIN over the same fixture (round 15): 16 query
        // rows through the windowed rank shape end to end — the serve's
        // bounded queries collect + ONE batched candidate job + the
        // restricted window execution; job count constant in R and B
        locally {
          val (tableDir, idxDirs) =
            graft.tools.ManyRootFixture.ensureFixture(spark, nR)
          (0 until nR).foreach { p =>
            graft.plans.AnnCatalog.register(s"$tableDir/part=$p",
              idxDirs(p), "id", "vec")
          }
          val uninstall = graft.plans.AnnTopKRewrite.install(spark)
          try {
            import org.apache.spark.sql.functions.{col, row_number}
            val qdf = qB.map { case (qid, v) => (qid, v.toSeq) }.toSeq
              .toDF("qid", "center")
            val wSpec = org.apache.spark.sql.expressions.Window
              .partitionBy("qid")
              .orderBy(graft.functions.GraftFunctions
                .vecL2(col("vec"), col("center")), col("id"))
            def kj() = qdf.crossJoin(spark.read.parquet(tableDir))
              .withColumn("rn", row_number().over(wSpec))
              .filter(col("rn") <= 5)
            val tKj = bestOf(() => { kj().count(); () })
            out += (s"_scale_manyroot${nR}_knnjoin16" -> tKj)
            say(f"_scale_manyroot${nR}_knnjoin16 = $tKj%.3fs")
            // sliced BULK join (round 16): 600 query rows — past the
            // 256-per-slice cap — through the same windowed shape;
            // planning is 1 + ceil(600/256) = 4 bounded jobs and the
            // indexed side restricts to the union of per-slice
            // candidates, amortizing instead of declining to the
            // 600 x 16k cross join
            val qBig = Array.tabulate(600)(i =>
              (i.toLong, Array.fill(8)(rngB.nextFloat() * 2 - 1)))
            val qdfBig = qBig.map { case (qid, v) => (qid, v.toSeq) }.toSeq
              .toDF("qid", "center")
            def kjBig() = qdfBig.crossJoin(spark.read.parquet(tableDir))
              .withColumn("rn", row_number().over(wSpec))
              .filter(col("rn") <= 5)
            // the key must measure the SLICED SERVE, not a silent decline
            // to the 600 x 16k cross join — skip (loudly) rather than
            // record the wrong path's time as the canary
            if (!graft.plans.AnnTopKRewrite.inServed(
                kjBig().queryExecution.optimizedPlan.toString))
              say(s"_scale_manyroot${nR}_knnjoinsliced600 SKIPPED: the " +
                "bulk windowed join was not index-served — slicing " +
                "regressed or a budget declined")
            else {
              val tKjS = bestOf(() => { kjBig().count(); () })
              out += (s"_scale_manyroot${nR}_knnjoinsliced600" -> tKjS)
              say(f"_scale_manyroot${nR}_knnjoinsliced600 = $tKjS%.3fs")
            }
          } finally {
            uninstall()
            (0 until nR).foreach(p =>
              graft.plans.AnnCatalog.unregister(s"$tableDir/part=$p"))
          }
        }
      }
      // B5 deep-tree probe economics: flat vs 3-level descent over 1024
      // synthetic centroids, 2000 probes each (driver-side cost only)
      val (tProbeFlat, tProbeTree) = graft.index.ProbeBench.run(spark)
      out += ("_scale_probe2k_flat_1024" -> tProbeFlat)
      out += ("_scale_probe2k_tree_1024" -> tProbeTree)
      out.toSeq
    } catch {
      case e: Throwable =>
        System.err.println(s"[scale] probe failed: ${e.getClass.getName}: ${e.getMessage}")
        Seq.empty
    }
  }
}
