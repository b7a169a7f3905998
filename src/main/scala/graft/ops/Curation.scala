package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Training-data curation operators — the pipeline stages between "raw
 * corpus" and "training mix" that sit alongside dedup/quality/ANN in a
 * large-scale LLM data pipeline:
 *
 *  - [[decontaminate]]: benchmark decontamination — flag/remove training
 *    documents that share n-gram shingles with an evaluation set, so test
 *    data never leaks into the training mix.
 *  - [[sampleMix]]: deterministic weighted sampling per source — build a
 *    training mix ("2x books, 0.3x web") reproducibly from a hash of the
 *    document id, with no RNG state and no shuffle.
 *  - [[chunkTokens]]: overlapping token-window chunking — split documents
 *    into model-context-sized pieces with a configurable stride.
 *  - [[repetitionSignals]]: Gopher-style repetition/diversity signals
 *    (top-word fraction, distinct-word ratio, duplicate-2-gram fraction)
 *    used to drop boilerplate and degenerate documents.
 *
 * Design rules shared with [[TextOps]]: every operator is built from
 * native Spark column functions (no UDFs — everything stays inside
 * whole-stage codegen), arithmetic is double-precision and reproducible
 * by any SQL engine, and per-document work is linear in document length
 * (token arrays never leave their row). At 100 TB each of these is a
 * narrow projection/flatMap over the corpus — no shuffle except where a
 * join is the semantics (decontamination's overlap count), and that join
 * broadcasts the (small) eval side.
 */
object Curation {

  private def toks(text: Column): Column = split(text, " ")

  /** All n-token shingles of `text` as space-joined strings; empty array
    * when the document has fewer than n tokens. A native codegen
    * expression ([[graft.functions.TokenShinglesExpr]]): the
    * higher-order-function formulation (`transform` + `slice` +
    * `array_join`) computes the same array but through Catalyst's
    * interpreted HOF path — measured ~7x slower end-to-end on the
    * decontamination query at sf0.1. The DuckDB oracles compute the
    * identical set from `array_to_string(t[i:i+n-1], ' ')`. */
  def shingles(text: Column, n: Int): Column = tokenShingles(toks(text), n)

  /** [[shingles]] over an already-tokenized array column. */
  def tokenShingles(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokenShinglesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens), n))

  /**
   * Benchmark decontamination: count, per training document, the distinct
   * n-gram shingles it shares with ANY document of `evalDf`, and keep
   * documents at or above `minOverlap` (the contaminated set — anti-join
   * against it for the clean corpus, see [[decontaminateKeep]]).
   *
   * Scale shape: the eval side (benchmarks are thousands of docs, not
   * billions) collapses to DISTINCT shingles and broadcasts; the corpus
   * side is one narrow scan producing (doc_id, shingle) pairs that
   * semi-join the broadcast and aggregate by doc — one partial-agg
   * shuffle of contaminated ids only. Nothing in the plan is
   * proportional to corpus x eval.
   *
   * Output: (doc_id, n_overlap) for contaminated docs.
   */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    evalDf: DataFrame, evalTextCol: String,
                    n: Int = 3, minOverlap: Int = 1): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val evalShingles = evalDf
      .select(explode(shingles(col(evalTextCol), n)).as("sh"))
      .distinct()
    val docShingles = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), n))).as("sh"))
    docShingles
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** The cleaned corpus: `df` minus [[decontaminate]]'s flagged ids. */
  def decontaminateKeep(df: DataFrame, idCol: String, textCol: String,
                        evalDf: DataFrame, evalTextCol: String,
                        n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val bad = decontaminate(df, idCol, textCol, evalDf, evalTextCol, n, minOverlap)
      .select(col("doc_id"))
    df.join(bad, df(idCol) === bad("doc_id"), "left_anti")
  }

  /**
   * STREAMING-shaped decontamination: [[decontaminate]] aggregates
   * per-doc overlap through a shuffle, which a streaming ingest stage
   * cannot do statelessly — this variant counts each row's distinct
   * shingle-hash overlap against a BROADCAST eval set entirely in-row
   * (no aggregation, no shuffle), so it drops contaminated documents in
   * any batch OR streaming pipeline. The eval set (benchmarks: small)
   * is hashed once on the driver via [[Dedup.hash64]] token shingles
   * and shared as a sorted array (binary search per shingle).
   *
   * Same keep/drop decision as [[decontaminateKeep]] up to 64-bit hash
   * collisions (the batch path compares shingle STRINGS; this one
   * compares FNV-64 hashes — collision odds ~n²/2⁶⁴).
   */
  def decontaminateIngest(docs: DataFrame, idCol: String, textCol: String,
                          evalDf: DataFrame, evalTextCol: String,
                          n: Int = 3, minOverlap: Int = 1): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val spark = docs.sparkSession
    import spark.implicits._
    val evalSh: Array[Long] = evalDf.select(col(evalTextCol).cast("string"))
      .as[String]
      .flatMap(t => Dedup.sortedShingleSet(t.split(' ').map(Dedup.hash64), n))
      .distinct().collect().sorted
    val bEval = spark.sparkContext.broadcast(evalSh)
    val overlaps = udf { (text: String) =>
      val ev = bEval.value
      val sh = Dedup.sortedShingleSet(text.split(' ').map(Dedup.hash64), n)
      var i = 0; var hits = 0
      while (i < sh.length && hits < minOverlap) {
        if (java.util.Arrays.binarySearch(ev, sh(i)) >= 0) hits += 1
        i += 1
      }
      hits >= minOverlap
    }
    docs.filter(!overlaps(col(textCol).cast("string")))
  }

  /**
   * SPAN-level decontamination: instead of dropping a contaminated
   * document ([[decontaminateKeep]]), remove only the token spans
   * covered by an eval-set k-gram — the right tool when documents are
   * long and the leak is a quoted benchmark item, not the whole doc.
   * Same skeleton as [[substringDedup]] with the dup-key set replaced
   * by the BROADCAST eval shingle set (128-bit md5 keys for the same
   * birthday-at-scale reason); the cover + rebuild run through the
   * native interval-sweep kernel.
   *
   * Output: (doc_id, text_clean, n_removed).
   */
  def decontaminateSpans(df: DataFrame, idCol: String, textCol: String,
                         evalDf: DataFrame, evalTextCol: String,
                         k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // same ShingleMd5Expr digests as substringDedup: bit-identical keys,
    // no shingle-string materialization, no md5 hex round trip
    val evalKeys = evalDf
      .select(explode(shingleMd5s(toks(col(evalTextCol)), k)).as("__h"))
      .distinct()
    val docs = df.select(col(idCol).as("doc_id"), toks(col(textCol)).as("__t"))
    val occ = docs
      .select(col("doc_id"),
        posexplode(shingleMd5s(col("__t"), k)).as(Seq("__i", "__h")))
    val cover = occ.join(broadcast(evalKeys), Seq("__h"))
      .groupBy("doc_id")
      .agg(collect_list(col("__i")).as("__starts"))
    def coverFilter(t: Column, s: Column): Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.TokenCoverFilterExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(t),
          org.apache.spark.sql.graft.ColumnBridge.expression(s), k))
    docs.join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__starts").isNull, col("__t"))
          .otherwise(coverFilter(col("__t"), col("__starts"))).as("__kept"),
        col("__t"))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("text_clean"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Uniform deterministic unit sample key in [0, 1): the first 8 hex
    * chars of md5(seed:id) as a 32-bit integer over 2^32. Identical in
    * any engine with md5 (the DuckDB oracle recomputes it verbatim), no
    * RNG state, stable under repartitioning — the property `rand()`
    * does NOT have (its stream is per-partition). */
  def hashUnit(id: Column, seed: String): Column =
    // one generated call straight off the md5 digest bytes — identical
    // value to conv(substring(md5(bytes),1,8),16,10)/2^32, minus the
    // per-row hex-string round trip (see Md5UnitExpr)
    kcol(graft.functions.Md5UnitExpr(kexpr(
      concat(lit(seed), lit(":"), id.cast("string")))))

  /**
   * Deterministic weighted sampling for training-mix construction: keep a
   * row of source s iff hashUnit(id) < rates(s) (default `defaultRate`).
   * Rates <= 0 drop the source; rate >= 1 keeps everything. One narrow
   * filter scan — no shuffle, no RNG, reproducible row-for-row across
   * runs, partitionings, and engines; changing `seed` draws an
   * independent sample.
   *
   * (Upsampling weights > 1 are a separate concern — epoch repetition in
   * the data loader — and deliberately out of scope for a filter.)
   */
  def sampleMix(df: DataFrame, idCol: String, sourceCol: String,
                rates: Map[String, Double], defaultRate: Double = 1.0,
                seed: String = "mix"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(idCol), seed) < rate)
  }

  /** The [[gopherRules]] signal bundle. */
  final case class GopherSignals(nWords: Column, meanWordLen: Column,
                                 symbolRatio: Column, bulletFrac: Column,
                                 ellipsisFrac: Column, alphaFrac: Column,
                                 stopHits: Column, keep: Column)

  /**
   * Gopher quality rules (Rae et al. 2021, appendix A1.1) — the
   * published heuristic gate most pipelines start from: word-count
   * bounds, mean-word-length bounds, symbol-to-word ratio (# and …),
   * bullet-started / ellipsis-ended line fractions, fraction of words
   * with an alphabetic character, and a minimum stop-word hit count.
   * Complements [[repetitionSignals]] (the paper's repetition table)
   * and the classifier path ([[trainQualityModel]]/[[scoreWithModel]]).
   * All signals are native column expressions over one row — no
   * shuffle, engine-neutral (the oracle recomputes each from scratch).
   */
  def gopherRules(text: Column, sep: String = "\n",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): GopherSignals = {
    val words = split(text, s"[ $sep]")
    val nW = size(words).cast("double")
    val meanLen = (length(regexp_replace(text, s"[ $sep]", "")).cast("double")) / nW
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("double")
    val nEll = ((length(text) - length(replace(text, lit("..."), lit("")))) / 3).cast("double")
    val symRatio = (nHash + nEll) / nW
    val lines = split(text, sep)
    val nL = size(lines).cast("double")
    val bulletFrac = size(filter(lines, l => l.rlike("^[-*•]"))).cast("double") / nL
    val ellipsisFrac = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("double") / nL
    val alphaFrac = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") / nW
    // stop-hits over the SAME word split the other signals use
    val enStops = graft.ops.TextOps.stopwords.toMap.apply("en")
    val stopHits = size(filter(words, w => w.isInCollection(enStops))).cast("long")
    val keep = nW.between(minWords, maxWords) &&
      meanLen.between(minMeanLen, maxMeanLen) &&
      symRatio <= maxSymbolRatio && bulletFrac <= maxBulletFrac &&
      ellipsisFrac <= maxEllipsisFrac && alphaFrac >= minAlphaFrac &&
      stopHits >= minStopHits
    GopherSignals(nW.cast("long"), meanLen, symRatio, bulletFrac,
      ellipsisFrac, alphaFrac, stopHits, keep)
  }

  /**
   * Deterministic dataset splitting (train/val/test): assign each row a
   * split name by where its md5 unit hash lands in the cumulative
   * weight ranges — no RNG, stable under repartitioning, reproducible
   * in any md5 engine, and rows NEVER migrate between splits when a
   * split's weight grows (ranges extend monotonically in declaration
   * order). Weights are normalized; declaration order fixes the ranges.
   * One codegen CASE over a hash — no shuffle.
   */
  def assignSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)],
                  seed: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      splits.map(_._2).sum > 0, "splits need nonnegative weights, sum > 0")
    val total = splits.map(_._2).sum
    val u = hashUnit(col(idCol), seed)
    // CASE from the top: u < c1 -> s1, u < c2 -> s2, ..., else last
    var cum = 0.0
    val bounds = splits.dropRight(1).map { case (name, wt) =>
      cum += wt / total
      (name, cum)
    }
    val expr = bounds.reverse.foldLeft(lit(splits.last._1): Column) {
      case (acc, (name, bound)) => when(u < bound, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /**
   * DSIR importance weights — Data Selection via Importance Resampling
   * (Xie et al. 2023, arXiv:2302.03169): score every corpus document by
   * how much its hashed n-gram distribution looks like a TARGET corpus
   * (the data you wish you had more of) relative to the raw corpus
   * (the data you actually have). weight(doc) = Σ_g [ln p̂_target(b(g))
   * − ln p̂_raw(b(g))] over the document's n-gram shingles g with
   * multiplicity, where b hashes shingles into `buckets` counts and both
   * distributions are add-alpha smoothed — the paper's bag-of-hashed-
   * n-grams likelihood ratio, exactly.
   *
   * Scale shape: two narrow count passes build the hashed histograms —
   * the target side is small by definition, the raw side is one
   * partial-agg shuffle whose result is at most `buckets` rows (the
   * histogram, not the corpus). The per-bucket log-ratio table then
   * BROADCASTS into a third narrow pass (shingle → bucket → ratio
   * lookup), and the per-doc reduce is a partial aggregation carrying
   * one (count, sum) pair per doc per partition. Shingle construction
   * is the codegen [[graft.functions.TokenShinglesExpr]]; the bucket
   * hash is the engine-neutral md5 form any SQL oracle can replicate.
   * Nothing in the plan is proportional to corpus × target.
   *
   * Documents with fewer than n tokens have no shingles and no weight —
   * they are absent from the output (gate such docs on length upstream).
   *
   * Output: (doc_id, n_shingles, weight).
   */
  /** Engine-neutral shingle→bucket hash: first 8 hex chars of md5 as a
    * 32-bit integer mod `buckets` (the bucket form of [[hashUnit]]). */
  private def kcol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def kexpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** `pmod(conv(substring(md5(g),1,8),16,10), buckets)` as ONE generated
    * call straight off the digest bytes — the hex-string round trip
    * (md5 → 32-char hex → substring → conv string-parse) cost ~1 µs per
    * N-GRAM and dominated every LM/DSIR histogram and scoring pass
    * (measured r17: lm_xent's scoring stage 719 ms for 265k bigrams).
    * Bucket values are bit-identical (same first-4-digest-bytes unsigned
    * int, non-negative so pmod == %). */
  private def bucketOf(g: Column, buckets: Int): Column =
    kcol(graft.functions.Md5BucketExpr(kexpr(g.cast("string")), buckets.toLong))

  /** Full-digest shingle hashes straight from token bytes — the
    * 128-bit sibling of [[bucketOf]] (see
    * [[graft.functions.ShingleMd5Expr]]). */
  private def shingleMd5s(tokens: Column, n: Int): Column =
    kcol(graft.functions.ShingleMd5Expr(kexpr(tokens), n))

  /**
   * The DSIR model as DATA: the per-bucket smoothed log-ratio table
   * (bucket, logratio) between a target and a raw corpus — train it
   * here or anywhere, persist it, score with [[importanceWeights]]
   * (batch) or [[importanceIngest]] (streaming). At most `buckets`
   * rows regardless of corpus size.
   */
  def importanceModel(target: DataFrame, targetTextCol: String,
                      raw: DataFrame, rawTextCol: String,
                      n: Int = 2, buckets: Int = 8192,
                      alpha: Double = 0.01): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    val spark = target.sparkSession
    spark.createDataset(
        importanceTable(target, targetTextCol, raw, rawTextCol, n, buckets,
          alpha).zipWithIndex.map { case (w, b) => (b.toLong, w) }.toSeq)(
        org.apache.spark.sql.Encoders.product[(Long, Double)])
      .toDF("bucket", "logratio")
  }

  /** [[importanceModel]] as the dense per-bucket log-ratio array the
    * in-row scorer consumes directly. */
  private def importanceTable(target: DataFrame, targetTextCol: String,
                              raw: DataFrame, rawTextCol: String,
                              n: Int, buckets: Int,
                              alpha: Double,
                              targetHist: Option[Array[Long]] = None): Array[Double] = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    require(targetHist.forall(_.length == buckets),
      "precomputed target histogram must have exactly `buckets` entries")
    val spark = target.sparkSession
    import spark.implicits._
    // the histograms are <= `buckets` rows by construction: collect them
    // ONCE and finish on the driver. Per-doc bucket arrays come from ONE
    // generated kernel call (ShingleBucketsExpr) instead of a
    // per-shingle string explode + hex-md5 chain — guide §4.
    def hist(d: DataFrame, t: String): Array[Long] = {
      val h = new Array[Long](buckets)
      d.select(explode(kcol(graft.functions.ShingleBucketsExpr(
          kexpr(toks(col(t))), n, buckets))).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("__c")).as[(Long, Long)].collect()
        .foreach { case (b, c) => h(b.toInt) = c }
      h
    }
    // the two histogram jobs are independent — overlap them (guide
    // §2.6: submit independent actions from driver threads so the
    // second job's tasks back-fill the first's stragglers). Failures
    // surface unchanged through Await. A caller holding the target's
    // histogram already (r18: a bigram LM's `cb` half IS the n=2
    // shingle histogram of the same corpus — identical md5 bytes, see
    // LmExprKernels) passes it in and skips that whole corpus pass.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val thF = targetHist.map(Future.successful)
      .getOrElse(Future(hist(target, targetTextCol)))
    val rhF = Future(hist(raw, rawTextCol))
    val th = Await.result(thF, Duration.Inf)
    // a target with no shingles has no signal to model — loud. An EMPTY
    // raw corpus is fine: zero counts smooth to the uniform 1/buckets
    // distribution (and there is nothing to score anyway), so empty
    // pipeline slices flow through instead of failing.
    require(th.exists(_ > 0),
      s"importance model: target corpus has no $n-gram shingles")
    val rh = Await.result(rhF, Duration.Inf)
    val tTot = th.sum
    val rTot = rh.sum
    Array.tabulate(buckets)(b =>
      math.log((th(b) + alpha) / (tTot + alpha * buckets)) -
        math.log((rh(b) + alpha) / (rTot + alpha * buckets)))
  }

  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        n: Int = 2, buckets: Int = 8192,
                        alpha: Double = 0.01,
                        targetHist: Option[Array[Long]] = None): DataFrame = {
    val w = importanceTable(target, targetTextCol, df, textCol, n, buckets,
      alpha, targetHist)
    // per-doc scoring IN-ROW (one kernel call accumulating in token
    // order — the same order the explode + broadcast-join + partial-agg
    // formulation summed in, since a document's exploded rows never
    // split across partitions). explode(array(·)) pins the kernel to
    // ONE evaluation per row: a plain projection would collapse into
    // the filter above it and re-evaluate the kernel per consumer.
    val score = kcol(graft.functions.ShingleScoreExpr(
      kexpr(toks(col(textCol))), n, w))
    df.select(col(idCol).as("doc_id"), explode(array(score)).as("__r"))
      .filter(col("__r")(0) > 0)
      .select(col("doc_id"), col("__r")(0).cast("long").as("n_shingles"),
        col("__r")(1).as("weight"))
  }

  /**
   * STREAMING-shaped DSIR scoring: [[importanceWeights]] aggregates
   * per-doc sums through an explode + shuffle, which an append-mode
   * streaming ingest cannot do statelessly — this variant scores each
   * row IN-ROW against the driver-collected [[importanceModel]] table
   * (a dense Array[Double] of at most `buckets` entries — bounded by
   * construction, unlike a vocabulary). The in-row bucket hash
   * recomputes the same md5 form, so weights match the batch operator
   * to double-summation reordering (~1e-15 relative). Use for a
   * quality gate on a document stream: score, then filter on weight.
   */
  def importanceIngest(df: DataFrame, idCol: String, textCol: String,
                       model: DataFrame, n: Int = 2): DataFrame = {
    require(df.columns.contains(idCol) && df.columns.contains(textCol),
      s"importanceIngest needs columns $idCol and $textCol")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = model.select(col("bucket").cast("int"), col("logratio").cast("double"))
      .as[(Int, Double)].collect()
    require(rows.nonEmpty, "importanceIngest: empty model")
    val buckets = rows.map(_._1).max + 1
    val table = new Array[Double](buckets)
    rows.foreach { case (b, w) => table(b) = w }
    val bTable = spark.sparkContext.broadcast(table)
    val nn = n
    val score = udf { (text: String) =>
      val t = bTable.value
      val b = t.length
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = text.split(' ')
      var s = 0.0
      var cnt = 0L
      var i = 0
      while (i + nn <= toks.length) {
        val sb = new java.lang.StringBuilder(64)
        var j = 0
        while (j < nn) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        val d = md.digest(sb.toString.getBytes("UTF-8"))
        md.reset()
        val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        s += t((u % b).toInt)
        cnt += 1
        i += 1
      }
      (cnt, s)
    }
    // COLUMN-PRESERVING (unlike the batch op's narrow output): ingest
    // stages compose — a later in-row stage still sees the text
    df.withColumn("__r", score(col(textCol).cast("string")))
      .filter(col("__r._1") > 0)
      .withColumn("n_shingles", col("__r._1"))
      .withColumn("weight", col("__r._2"))
      .drop("__r")
  }

  /**
   * DSIR selection: [[importanceWeights]] + the paper's Gumbel-top-k
   * resampling, made DETERMINISTIC — the Gumbel noise −ln(−ln u) draws
   * its uniform u from [[hashUnit]](id, seed) instead of an RNG, so the
   * selected set is reproducible across runs, partitionings, and
   * engines while still sampling ∝ exp(weight/temperature) in
   * distribution. temperature → 0 degenerates to hard top-k by weight;
   * large temperature approaches uniform sampling. The selection is a
   * bounded TakeOrdered (top-nKeep merge), never a full sort shuffle.
   */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
                   target: DataFrame, targetTextCol: String, nKeep: Int,
                   n: Int = 2, buckets: Int = 8192, alpha: Double = 0.01,
                   temperature: Double = 1.0,
                   seed: String = "dsir",
                   targetHist: Option[Array[Long]] = None): DataFrame = {
    require(nKeep >= 1, s"nKeep must be >= 1, got $nKeep")
    require(temperature > 0, s"temperature must be > 0, got $temperature")
    val w = importanceWeights(df, idCol, textCol, target, targetTextCol,
      n, buckets, alpha, targetHist)
    w.withColumn("__key",
        col("weight") / lit(temperature) - log(-log(hashUnit(col("doc_id"), seed))))
      .orderBy(col("__key").desc, col("doc_id"))
      .limit(nKeep)
      .drop("__key")
  }

  /**
   * Perplexity-style quality scoring — per-document CROSS-ENTROPY under
   * an add-alpha hashed bigram language model trained on a reference
   * corpus (the CCNet signal: score web documents under a Wikipedia LM
   * and drop the high-perplexity tail). For tokens t1..tm:
   * xent = −(1/(m−1)) Σ ln p(ti | ti−1) with p(w2|w1) =
   * (c(w1 w2) + alpha) / (c(w1) + alpha·buckets), both counts living in
   * md5-hashed bucket histograms — the model is two tables of at most
   * `buckets` rows each, engine-neutral and SQL-replicable like the
   * DSIR model. Perplexity = exp(xent) if you want the headline number;
   * the log form is what you should threshold on.
   *
   * Scale shape: one narrow histogram pass over the LM corpus (two
   * partial-agg shuffles whose results are <= `buckets` rows, collected
   * and re-emitted as literal tables), then one scoring pass — aligned
   * context/bigram arrays zip IN-ROW, the two model tables broadcast-
   * join, the per-doc reduce is a partial aggregation. No UDF anywhere;
   * nothing is proportional to corpus × LM-corpus.
   *
   * Documents with fewer than 2 tokens have no bigrams and are absent.
   *
   * Output: (doc_id, n_bigrams, xent).
   */
  /** The hashed bigram LM as two dense histograms: (bigram counts,
    * context counts), each indexed by md5 bucket — the model behind
    * [[ngramCrossEntropy]] and [[ngramCrossEntropyIngest]]. Loud when
    * the LM corpus has no bigrams (a model from nothing is an error). */
  def ngramLm(lmDf: DataFrame, lmTextCol: String,
              buckets: Int = 8192): (Array[Long], Array[Long]) = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    val spark = lmDf.sparkSession
    import spark.implicits._
    // ONE pass over the LM corpus builds BOTH histograms: the kernel
    // emits each document's bigram buckets followed by its context
    // buckets offset by `buckets` (a tag in the key), one explode + one
    // small groupBy, split back on the driver. Previously two full
    // tokenize+md5 jobs.
    val h2 = new Array[Long](2 * buckets)
    lmDf.select(explode(kcol(graft.functions.NgramLmBucketsExpr(
        kexpr(toks(col(lmTextCol))), buckets))).as("__k"))
      .groupBy("__k").agg(count(lit(1)).as("__c"))
      .as[(Long, Long)].collect()
      .foreach { case (k, c) => h2(k.toInt) = c }
    val cb = java.util.Arrays.copyOfRange(h2, 0, buckets)
    val cu = java.util.Arrays.copyOfRange(h2, buckets, 2 * buckets)
    require(cb.exists(_ > 0), "ngram LM corpus has no bigrams")
    (cb, cu)
  }

  /**
   * STREAMING-shaped LM scoring: [[ngramCrossEntropy]]'s per-doc reduce
   * runs through an explode + shuffle — this variant scores each row
   * IN-ROW against the collected [[ngramLm]] histograms (dense arrays,
   * bounded by `buckets`), the [[importanceIngest]] pattern: identical
   * xent up to double-summation reordering, append-mode safe.
   */
  def ngramCrossEntropyIngest(df: DataFrame, idCol: String, textCol: String,
                              lm: (Array[Long], Array[Long]),
                              alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    require(df.columns.contains(idCol) && df.columns.contains(textCol),
      s"ngramCrossEntropyIngest needs columns $idCol and $textCol")
    val (cb, cu) = lm
    require(cb.length == cu.length && cb.nonEmpty,
      "ngram LM histograms must be same-length and non-empty")
    val spark = df.sparkSession
    val bCb = spark.sparkContext.broadcast(cb)
    val bCu = spark.sparkContext.broadcast(cu)
    val aa = alpha
    val score = udf { (text: String) =>
      val hb = bCb.value
      val hc = bCu.value
      val b = hb.length
      val md = java.security.MessageDigest.getInstance("MD5")
      def bucket(s: String): Int = {
        val d = md.digest(s.getBytes("UTF-8"))
        md.reset()
        (((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
           ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))) % b).toInt
      }
      val toks = text.split(' ')
      var s = 0.0
      var cnt = 0L
      var i = 0
      while (i + 2 <= toks.length) {
        val b2 = bucket(toks(i) + " " + toks(i + 1))
        val b1 = bucket(toks(i))
        s += math.log((hb(b2) + aa) / (hc(b1) + aa * b))
        cnt += 1
        i += 1
      }
      (cnt, s)
    }
    // COLUMN-PRESERVING (see importanceIngest): ingest stages compose
    df.withColumn("__r", score(col(textCol).cast("string")))
      .filter(col("__r._1") > 0)
      .withColumn("n_bigrams", col("__r._1"))
      .withColumn("xent", (-col("__r._2") / col("__r._1")))
      .drop("__r")
  }

  def ngramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                        lmDf: DataFrame, lmTextCol: String,
                        buckets: Int = 8192, alpha: Double = 0.1): DataFrame = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    ngramCrossEntropyWithLm(df, idCol, textCol,
      ngramLm(lmDf, lmTextCol, buckets), alpha)
  }

  /** [[ngramCrossEntropy]] over a PRECOMPUTED [[ngramLm]] model — for
    * pipelines that score several stages under one LM (or reuse the
    * model's bigram histogram as a DSIR target hist, r18) without
    * re-running the LM-corpus pass per consumer. Identical output to
    * the one-call form: the scoring kernel is the same expression over
    * the same dense tables. */
  def ngramCrossEntropyWithLm(df: DataFrame, idCol: String, textCol: String,
                              lm: (Array[Long], Array[Long]),
                              alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    val (cb, cu) = lm
    require(cb.length == cu.length && cb.nonEmpty,
      "ngram LM histograms must be same-length and non-empty")
    // per-doc scoring IN-ROW: one generated kernel call accumulating
    // ln p(bigram | ctx) in token order — the same order (and the same
    // long+double arithmetic) the explode + two-broadcast-join +
    // partial-agg formulation produced, since a document's exploded rows
    // never split across partitions. Replaces ~2 internal rows and two
    // join probes per bigram with zero row expansion (guide step 4).
    // explode(array(·)) pins the kernel to ONE evaluation per row (a
    // plain projection would collapse into the filter and re-evaluate
    // per consumer).
    val score = kcol(graft.functions.NgramScoreExpr(
      kexpr(toks(col(textCol))), cb, cu, alpha))
    df.select(col(idCol).as("doc_id"), explode(array(score)).as("__r"))
      .filter(col("__r")(0) > 0)
      .select(col("doc_id"), col("__r")(0).cast("long").as("n_bigrams"),
        (-col("__r")(1) / col("__r")(0)).as("xent"))
  }

  /**
   * Overlapping token-window chunking: split each document's token
   * sequence into windows of `window` tokens starting every `stride`
   * tokens — the standard context-length preprocessing before
   * tokenization. Every token lands in at least one chunk (the last
   * window may be short); a document shorter than one window is one
   * chunk. Chunk count per doc: 1 + ceil(max(0, n - window) / stride).
   *
   * Output: (doc_id, chunk_no, chunk_text, n_tokens), chunk_no 0-based
   * in document order. One narrow flatMap scan, rows expand by the
   * chunk count; no shuffle.
   */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    val t = toks(col(textCol))
    val n = size(t)
    val nChunks = when(n <= window, lit(1L))
      .otherwise(ceil((n - window).cast("double") / stride) + 1L)
    df.select(col(idCol).as("doc_id"), t.as("__toks"), nChunks.as("__nc"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0L), col("__nc") - 1L)).as(Seq("chunk_no", "__i")),
        col("__toks"))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        array_join(slice(col("__toks"), (col("__i") * stride + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("__toks"), (col("__i") * stride + 1).cast("int"), lit(window)))
          .cast("long").as("n_tokens"))
  }

  /**
   * Gopher-style repetition/diversity signals, one row per document:
   *  - `top_word_frac`: occurrences of the most frequent token / tokens —
   *    high = degenerate repetition ("buy buy buy ...");
   *  - `distinct_ratio`: distinct tokens / tokens — low = low diversity;
   *  - `dup_2gram_frac`: 1 - distinct 2-grams / 2-grams — high =
   *    boilerplate/template text (0 when the doc has < 2 tokens).
   *
   * Everything is per-row array arithmetic on native functions; the
   * top-word count is O(distinct x n) per document which is the right
   * trade at corpus scale (no per-doc shuffle, no UDF boxing).
   */
  def repetitionSignals(text: Column): (Column, Column, Column) = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression}
    def stats(c: Column): Column =
      toCol(graft.functions.TokenStatsExpr(expression(c)))
    val t = toks(text)
    val n = size(t)
    // one-pass native kernel: [top multiplicity, distinct count] — the
    // HOF formulation (array_max over transform+filter) is O(d*n) and
    // interpreted; this is linear and codegen'd (measured 11x at bulk)
    val ts = stats(t)
    val topFrac = ts.getItem(0).cast("double") / n
    val distinctRatio = ts.getItem(1).cast("double") / n
    val grams = shingles(text, 2)
    val gs = stats(grams)
    val dupGramFrac = when(size(grams) === 0, lit(0.0))
      .otherwise(lit(1.0) - gs.getItem(1).cast("double") / size(grams))
    (topFrac, distinctRatio, dupGramFrac)
  }

  /** PII patterns shared by [[redactPii]] and the SQL oracles. Kept in
    * the common Java-regex / RE2 dialect subset (character classes,
    * bounded repetition, `\b`) so Spark's `regexp_replace` (Java) and
    * DuckDB's (RE2) match the same spans. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /**
   * PII redaction — the standard pre-training scrub (emails, IPv4
   * addresses, US-style phone numbers) replaced with typed placeholder
   * tokens. Returns (redacted text, number of redactions).
   *
   * Replacement is STAGED (emails, then IPs on the email-redacted text,
   * then phones) and the count counts matches at each stage, so count ==
   * number of placeholders inserted even when patterns could overlap.
   * All three passes are native `regexp_replace`/`regexp_count` column
   * functions — one narrow projection scan, codegen'd, no UDFs, no
   * shuffle; at 100 TB this is a pure map over the corpus.
   */
  def redactPii(text: Column): (Column, Column) = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val redacted = regexp_replace(afterIp, PhoneRe, "<PHONE>")
    val n = regexp_count(text, lit(EmailRe)) +
      regexp_count(afterEmail, lit(Ipv4Re)) +
      regexp_count(afterIp, lit(PhoneRe))
    (redacted, n.cast("long"))
  }

  /**
   * C4-style line-level cleaning: keep only lines with at least
   * `minWords` whitespace words that end in terminal punctuation
   * (`. ! ? " '`) and contain none of `banned` (case-insensitive),
   * rejoined with newlines. Returns (cleaned text, lines kept, lines
   * total).
   *
   * Per-row array work over the line list (the HOF path — lines per doc
   * are few, unlike token shingles, so interpretation cost is
   * negligible); no shuffle. The kept/total counts let callers drop
   * documents that lose most of their lines (the usual follow-on rule).
   */
  def cleanLines(text: Column, minWords: Int = 3,
                 banned: Seq[String] = Seq("lorem ipsum", "{")): (Column, Column, Column) = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val lines = split(text, "\n")
    val kept = filter(lines, l => {
      val wordsOk = size(split(l, " ")) >= minWords
      val termOk = l.rlike("[.!?\"']$")
      banned.foldLeft(wordsOk && termOk) { (acc, b) =>
        acc && !lower(l).contains(b.toLowerCase)
      }
    })
    (array_join(kept, "\n"), size(kept).cast("long"), size(lines).cast("long"))
  }

  /**
   * EXACT SUBSTRING deduplication (the Lee et al. 2022 "Deduplicating
   * Training Data Makes Language Models Better" operator): remove every
   * token covered by a `k`-token shingle whose exact text occurs at
   * least `minCount` times across the whole corpus (multiplicity counts,
   * so within-document repeats are removed too). Document-level dedup
   * ([[Dedup]]) drops whole near-identical documents; this removes the
   * boilerplate SPANS (headers, license blocks, templated paragraphs)
   * that survive document-level passes.
   *
   * Output: (doc_id, text_clean, n_removed) for every input document —
   * docs with no duplicated span pass through unchanged, docs shorter
   * than k tokens are never touched.
   *
   * Scale shape (nothing is corpus x corpus):
   *  1. one narrow scan emits (shingle-md5, doc, pos) — fixed-width
   *     16-byte keys, n_tokens rows, like the decontamination scan;
   *  2. occurrence counts by key: partial-agg shuffle (hot boilerplate
   *     shingles combine map-side — skew-safe);
   *  3. occurrences join the (small) duplicated-key set — AQE picks
   *     broadcast when it fits;
   *  4. covered positions aggregate per doc (bounded by doc length) and
   *     a final per-row array filter rebuilds the text.
   * The md5 key makes a cross-document collision a 2^-128 event — at
   * 100 TB shingle cardinality a 64-bit key WOULD collide (birthday at
   * ~4B) and silently delete unique text, so the wider key is the
   * correctness choice, not a style choice.
   */
  /**
   * Per-key document cap — "domain diversification": keep at most `n`
   * rows per key (domain / source / site), chosen as the `n` SMALLEST
   * `orderCol` values (ids = first-crawled under monotonic ids). The
   * standard defense against a handful of giant domains dominating a
   * training mix (RefinedWeb / C4 keep per-host caps).
   *
   * `orderCol` must be unique per row (a document id) — it is both the
   * selection order and the join-back key.
   *
   * Scale shape — deliberately NOT a `row_number()` window: a window
   * partitioned by key sends EVERY row of a hot key through one reducer
   * (the exact skew a per-domain cap exists to fight — the biggest
   * domain is by definition the hottest key). Instead:
   *  1. per input partition, each key keeps its n smallest orders
   *     (bounded local state, hot keys spread across all partitions);
   *  2. the per-partition survivors (<= partitions x n per key) shuffle
   *     on the key and reduce to the global n smallest;
   *  3. the tiny keep set joins back on (key, order) — AQE broadcasts it.
   * No stage ever concentrates a hot key's full row set.
   */
  def capPerKey(df: DataFrame, keyCol: String, orderCol: String,
                n: Int): DataFrame = {
    require(n >= 1, s"cap must be >= 1, got $n")
    val topn = (c: Column) => slice(array_sort(c), 1, n)
    val local = df.select(col(keyCol), col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .groupBy(col(keyCol), col("__pid"))
      .agg(topn(collect_list(col(orderCol))).as("__top"))
    val keep = local.groupBy(col(keyCol))
      .agg(topn(flatten(collect_list(col("__top")))).as("__keep"))
      .select(col(keyCol), explode(col("__keep")).as(orderCol))
    df.join(keep, Seq(keyCol, orderCol))
  }

  /**
   * Corpus-wide EXACT LINE deduplication (the C4/RefinedWeb line rule):
   * every line whose exact text occurs more than once in the corpus
   * keeps only its FIRST occurrence — smallest (doc, position) in
   * `idCol` order — and every other occurrence is removed. Catches the
   * navigation bars / cookie banners / footer boilerplate that repeat
   * across pages of a site but never form whole duplicate documents.
   *
   * Output: (doc_id, text_clean, n_removed) for every input document.
   *
   * Scale shape (the [[substringDedup]] pattern at line granularity):
   *  1. one narrow scan emits (line-md5, doc, pos) — 16-byte keys;
   *  2. per-key count + lexicographic-min keeper via ONE partial-agg
   *     shuffle (a million-occurrence boilerplate line combines
   *     map-side into a single (count, min) pair — skew-safe);
   *  3. occurrences join the (small) duplicated-key set, survivors
   *     minus keepers aggregate removal positions per doc;
   *  4. a final per-row array filter rebuilds the text.
   * The 128-bit key is the same correctness choice as substringDedup:
   * 64-bit birthday-collides at 100 TB line cardinality and would
   * silently delete unique lines.
   */
  def dedupLinesCorpus(df: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n"): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), split(col(textCol), sep).as("__l"))
    val occ = docs
      .select(col("doc_id"), posexplode(col("__l")).as(Seq("__p", "__line")))
      .select(col("doc_id"), col("__p"),
        // bit-identical digest, no md5→hex→unhex round trip per line
        kcol(graft.functions.Md5BinExpr(kexpr(col("__line")))).as("__h"))
    val dups = occ.groupBy("__h")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id").as("d"), col("__p").as("p"))).as("__keep"))
      .filter(col("__c") >= 2)
      .select("__h", "__keep")
    val removals = occ.join(dups, Seq("__h"))
      .filter(struct(col("doc_id").as("d"), col("__p").as("p")) =!= col("__keep"))
      .groupBy("doc_id")
      .agg(collect_set(col("__p")).as("__rm"))
    // positional removal = the k=1 case of the substring-dedup cover
    // kernel (one generated interval sweep instead of an interpreted
    // HOF filter with a linear array_contains per line)
    def rmFilter(l: Column, s: Column): Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.TokenCoverFilterExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(l),
          org.apache.spark.sql.graft.ColumnBridge.expression(s), 1))
    docs.join(removals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__rm").isNull, col("__l"))
          .otherwise(rmFilter(col("__l"), col("__rm"))).as("__kept"),
        col("__l"))
      .select(col("doc_id"),
        array_join(col("__kept"), sep).as("text_clean"),
        (size(col("__l")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /**
   * Linear bag-of-words quality scoring — the fastText-classifier shape
   * every major pipeline uses for model-based quality filtering (CCNet /
   * LLaMA "looks like Wikipedia" filters): score = sigmoid(bias +
   * mean(weight(token))), tokens absent from the vocabulary contributing
   * 0. The model is DATA (`weights`: one (term, weight) row per
   * vocabulary entry) — train it anywhere, score with it here.
   *
   * Output: (doc_id, n_tokens, score).
   *
   * Scale shape: tokens explode in a narrow scan and LEFT-join the
   * broadcast vocabulary (vocabularies are 10⁵-10⁶ terms — always the
   * broadcast side); the per-doc reduce is a partial aggregation, so the
   * shuffle carries one (sum, count) pair per doc per partition, never
   * token rows. Everything stays in whole-stage codegen — no UDF.
   */
  def scoreWithModel(df: DataFrame, idCol: String, textCol: String,
                     weights: DataFrame, termCol: String = "term",
                     weightCol: String = "weight",
                     bias: Double = 0.0): DataFrame = {
    val w = broadcast(weights.select(col(termCol).as("__tok"),
      col(weightCol).cast("double").as("__w")))
    df.select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("__tok"))
      .join(w, Seq("__tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("__w")), lit(0.0)).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) / (lit(1.0) +
          exp(-(lit(bias) + col("__s") / col("n_tokens"))))).as("score"))
  }

  /**
   * Train the quality classifier [[scoreWithModel]] serves — the
   * fastText-style bag-of-words logistic regression every major
   * pipeline uses for quality filtering (CCNet wiki-likeness, LLaMA):
   * score = sigmoid(bias + mean token weight). Training runs
   * full-batch gradient descent over HASHED unigram features on a
   * bounded, deterministically-drawn sample (ordered by the md5 unit
   * hash — no RNG, stable under repartitioning), collected to the
   * driver: classifier training corpora are labeled subsets in the
   * 10^5-10^6 range, so the driver loop is the right engineering —
   * Spark does the distributed feature pass here and the corpus-scale
   * SERVING in [[scoreWithModel]]/[[scoreWithModelIngest]].
   * `sampleCap` bounds driver memory loudly.
   *
   * Returns the (term, weight) vocabulary over the sample's distinct
   * terms (each term carrying its hash bucket's learned weight — OOV
   * terms score 0 at serve time, as scoreWithModel defines) plus the
   * learned bias: exactly the inputs scoreWithModel takes.
   */
  def trainQualityModel(docs: DataFrame, textCol: String, labelCol: String,
                        buckets: Int = 32768, iters: Int = 100,
                        lr: Double = 2.0, sampleCap: Int = 200000,
                        seed: String = "train"): (DataFrame, Double) = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    require(iters >= 1 && lr > 0, "iters >= 1 and lr > 0 required")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows: Array[(Double, String)] = docs
      .select(col(labelCol).cast("double"), col(textCol).cast("string"))
      .withColumn("__r", hashUnit(col(textCol), seed))
      .orderBy(col("__r"), col(labelCol))
      .limit(sampleCap + 1)
      .select(col(labelCol).cast("double"), col(textCol).cast("string"))
      .as[(Double, String)].collect()
    require(rows.length <= sampleCap,
      s"training sample exceeds sampleCap=$sampleCap — raise the cap or " +
        "pre-sample the labeled set")
    require(rows.nonEmpty, "trainQualityModel: empty training set")
    require(rows.forall(r => r._1 == 0.0 || r._1 == 1.0),
      "labels must be 0.0 or 1.0")
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(s: String): Int = {
      val d = md.digest(s.getBytes("UTF-8"))
      md.reset()
      (((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
         ((d(2) & 0xffL) << 8) | (d(3) & 0xffL))) % buckets).toInt
    }
    // sparse per-doc features: (bucket -> count)/m
    val feats: Array[(Double, Array[Int], Array[Double])] = rows.map {
      case (y, text) =>
        val toks = text.split(' ')
        val m = new java.util.HashMap[Integer, Integer]()
        toks.foreach { t =>
          val b = Integer.valueOf(bucket(t))
          val p = m.get(b); m.put(b, Integer.valueOf(if (p == null) 1 else p + 1))
        }
        val ks = new Array[Int](m.size)
        val vs = new Array[Double](m.size)
        var i = 0
        val it = m.entrySet().iterator()
        // deterministic feature order: sort by bucket
        val entries = new Array[(Int, Int)](m.size)
        while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey.intValue, e.getValue.intValue); i += 1 }
        java.util.Arrays.sort(entries, Ordering.by((p: (Int, Int)) => p._1))
        i = 0
        while (i < entries.length) {
          ks(i) = entries(i)._1
          vs(i) = entries(i)._2.toDouble / toks.length
          i += 1
        }
        (y, ks, vs)
    }
    val w = new Array[Double](buckets)
    var bias = 0.0
    val n = feats.length.toDouble
    var iter = 0
    while (iter < iters) {
      val gw = new Array[Double](buckets)
      var gb = 0.0
      feats.foreach { case (y, ks, vs) =>
        var s = bias
        var i = 0
        while (i < ks.length) { s += w(ks(i)) * vs(i); i += 1 }
        val r = 1.0 / (1.0 + math.exp(-s)) - y
        gb += r
        i = 0
        while (i < ks.length) { gw(ks(i)) += r * vs(i); i += 1 }
      }
      var b = 0
      while (b < buckets) { w(b) -= lr * gw(b) / n; b += 1 }
      bias -= lr * gb / n
      iter += 1
    }
    val terms: Array[(String, Double)] = rows
      .iterator.flatMap(_._2.split(' ')).toSet[String].toArray.sorted
      .map(t => t -> w(bucket(t)))
    (spark.createDataset(terms.toSeq).toDF("term", "weight"), bias)
  }

  /**
   * STREAMING-shaped model scoring: [[scoreWithModel]] aggregates through
   * an explode + shuffle, which an append-mode streaming ingest cannot do
   * statelessly — this variant scores each row IN-ROW against a
   * driver-collected broadcast vocabulary (the [[decontaminateIngest]]
   * pattern), so a quality gate runs identically in batch or streaming.
   * Scores match the batch operator to double-summation reordering
   * (~1e-15 relative — the shuffle sums tokens in partition order, this
   * sums in document order). Vocabulary must fit the driver (the same
   * bound the broadcast join has); `maxVocab` fails loudly past it.
   */
  def scoreWithModelIngest(df: DataFrame, idCol: String, textCol: String,
                           weights: DataFrame, termCol: String = "term",
                           weightCol: String = "weight", bias: Double = 0.0,
                           maxVocab: Int = 5000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w: Array[(String, Double)] = weights
      .select(col(termCol).cast("string"), col(weightCol).cast("double"))
      .as[(String, Double)].limit(maxVocab + 1).collect()
    require(w.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — raise the cap or score in batch")
    val bW = spark.sparkContext.broadcast(w.toMap)
    val score = udf { (text: String) =>
      val m = bW.value
      val toks = text.split(' ')
      var s = 0.0
      var i = 0
      while (i < toks.length) { s += m.getOrElse(toks(i), 0.0); i += 1 }
      1.0 / (1.0 + math.exp(-(bias + s / toks.length)))
    }
    df.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      score(col(textCol).cast("string")).as("score"))
  }

  /**
   * Deterministic SEQUENCE PACKING — the training-prep step that bins
   * documents into fixed token budgets (one "pack" ≈ one training
   * sequence): documents are dealt into `buckets` by id hash, ordered
   * deterministically inside each bucket (hash, then id), and greedily
   * packed — a pack closes when adding the next document would exceed
   * `budget` tokens (a single over-budget document still gets a pack).
   * No RNG state: the same corpus packs identically on any run,
   * partitioning, or engine.
   *
   * Output: (doc_id, bucket, pack_no, n_tokens) — pack_no is 0-based
   * within its bucket; (bucket, pack_no) is the global pack key.
   *
   * Scale shape: one hash-partition shuffle + an in-partition sort, then
   * a single sequential pass per bucket. Parallelism is `buckets` —
   * size it so a bucket's documents fit one task comfortably (packing
   * is order-sensitive WITHIN a bucket by construction, so buckets are
   * the parallel unit; at corpus scale use thousands).
   */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
                    budget: Long, buckets: Int,
                    seed: String = "pack"): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(idCol).cast("long").as("doc_id"),
        col(nTokensCol).cast("long").as("n_tokens"),
        hashUnit(col(idCol), seed).as("__r"))
      .withColumn("bucket", floor(col("__r") * buckets).cast("int"))
    keyed.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("__r"), col("doc_id"))
      .select(col("bucket"), col("doc_id"), col("n_tokens"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        var curBucket = Int.MinValue
        var pack = 0L
        var cum = 0L
        it.map { case (b, id, n) =>
          if (b != curBucket) { curBucket = b; pack = 0L; cum = n }
          else if (cum + n > budget) { pack += 1; cum = n }
          else cum += n
          (id, b, pack, n)
        }
      }
      .toDF("doc_id", "bucket", "pack_no", "n_tokens")
  }

  /**
   * Exact substring (k-token-gram) deduplication: every k-gram occurring
   * `minCount`+ times corpus-wide has all its occurrences' token spans
   * removed from every document (the exact-substring pass of dedup
   * pipelines); output (doc_id, text_clean, n_removed).
   *
   * Scale shape: one occurrence explode, one count aggregation, one
   * occurrence-side join back, one per-doc starts aggregation (bounded
   * by doc length), and the cover/rebuild in a codegen kernel.
   * `maxKeyFreq` is the skew valve (results UNCHANGED): keys with more
   * occurrences than it match via a broadcast semi-join instead of the
   * shuffle join — see the split below.
   */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minCount: Int = 2,
                     maxKeyFreq: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    require(maxKeyFreq >= minCount,
      s"maxKeyFreq ($maxKeyFreq) must be >= minCount ($minCount)")
    val docs = df.select(col(idCol).as("doc_id"), toks(col(textCol)).as("__t"))
    // (key, doc, 0-based shingle start) — every occurrence, not distinct
    // digests straight from token bytes (ShingleMd5Expr): bit-identical
    // to unhex(md5(cast(shingle as binary))) over token_shingles, minus
    // the per-occurrence shingle-string allocation and the md5→hex→
    // unhex round trip — measured, that chain dominated the 200k-doc
    // bulk run (_scale_curate_substr200k)
    val occ = docs
      .select(col("doc_id"),
        posexplode(shingleMd5s(col("__t"), k)).as(Seq("__i", "__h")))
    val counts = occ.groupBy("__h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
    // SKEW SPLIT, results unchanged: a corpus-saturating k-gram (the
    // same boilerplate header in every doc) routes ALL its occurrences
    // to one task of the occurrence-side shuffle join — the straggler
    // that turned the adversarial tiny-vocab bulk run superlinear. Keys
    // past `maxKeyFreq` occurrences instead match through a BROADCAST
    // semi-join (there are at most totalOccurrences / maxKeyFreq such
    // keys, so the broadcast is small by construction); keys at or
    // under the cap keep the shuffle join, whose per-key row count is
    // now bounded. The two count ranges are disjoint, so each
    // occurrence matches exactly one branch — the union is exactly the
    // old single join's output, and the oracle goldens are unchanged.
    // dupKeys gets its OWN exchange (an explicit repartition on the join
    // key): the c-range filters run inside the count-agg stage, so
    // without the boundary AQE prices the semi-join's build side at the
    // PRE-filter stage size (~every distinct k-gram) and keeps a
    // SortMergeJoin that exchanges and sorts the full occurrence side —
    // measured 8.1s steady on the 200k-doc fixture, where the true
    // dup-key set is a few hundred rows. With the boundary AQE sees the
    // post-filter size and converts to a broadcast semi-join: the
    // occurrence side is never shuffled (3.0s steady, same fixture). At
    // a dup-heavy 100 TB the boundary costs one keys-only exchange and
    // the join stays a sort-merge — the conversion is AQE's, per scale.
    val dupKeys = counts.filter(col("__c") <= maxKeyFreq).select("__h")
      .hint("rebalance", "__h")
    val hotKeys = counts.filter(col("__c") > maxKeyFreq).select("__h")
    val matched = occ.join(dupKeys, Seq("__h"), "left_semi")
      .unionByName(occ.join(broadcast(hotKeys), Seq("__h"), "left_semi"))
    // dup-shingle STARTS aggregate per doc (bounded by doc length); the
    // k-window cover + token rebuild happen inside one codegen kernel.
    // The previous shape exploded each occurrence into k covered
    // positions (k x the aggregation input) and rebuilt via an
    // interpreted HOF filter with a linear array_contains per token —
    // together they dominated the bulk run (49s -> see bench key).
    val cover = matched
      .groupBy("doc_id")
      .agg(collect_list(col("__i")).as("__starts"))
    def coverFilter(t: Column, s: Column): Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.TokenCoverFilterExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(t),
          org.apache.spark.sql.graft.ColumnBridge.expression(s), k))
    docs.join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__starts").isNull, col("__t"))
          .otherwise(coverFilter(col("__t"), col("__starts"))).as("__kept"),
        col("__t"))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("text_clean"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /**
   * Per-slice corpus profile — the report a curation run starts and ends
   * with: document/token/char volume, mean doc length, distinct exact
   * fingerprints (-> exact-dup rate) per grouping key. ONE partial-agg
   * shuffle on the grouping keys; the distinct-count is Spark's native
   * count(DISTINCT) (expand + partial agg — still one pass over the
   * data, and the key space is bounded by the slice's fingerprints).
   */
  def corpusStats(df: DataFrame, textCol: String,
                  keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "corpusStats: no grouping keys")
    val t = toks(col(textCol))
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(t)).cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        (sum(size(t)).cast("double") / count(lit(1))).as("avg_tokens"),
        countDistinct(md5(to_binary(lower(col(textCol)), lit("utf-8"))))
          .as("n_distinct"))
  }

  /**
   * Deterministic global shuffle + fixed-count shard assignment — the
   * final stage before training: `(row..., shard, pos)` where `shard` is
   * md5-uniform over `numShards` and `pos` is the row's 0-based position
   * within its shard in md5 order. Engine-neutral and stable under any
   * input partitioning (the property a seeded `repartition` does NOT
   * have); changing `seed` draws an independent permutation.
   *
   * Scale shape: one hash-partition exchange on `shard` + an in-partition
   * sort (Spark's window over `partitionBy(shard)`) — exactly the
   * write-side shuffle a sharded training-set writer pays anyway. Size
   * `numShards` so a shard fits an executor (100 TB / numShards).
   */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    seed: String = "shard"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val hx = substring(md5(to_binary(
      concat(lit(seed), lit(":"), col(idCol).cast("string")), lit("utf-8"))), 1, 16)
    val h = conv(substring(hx, 1, 8), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", hx)
      .withColumn("shard", pmod(h, lit(numShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Write [[shuffleShards]] output as one file per shard under `path`
    * (parquet, `shard=<n>/` directories), rows in-shard ordered by
    * `pos`. Returns the assignment for auditing. */
  def writeShards(df: DataFrame, idCol: String, numShards: Int,
                  path: String, seed: String = "shard"): DataFrame = {
    val assigned = shuffleShards(df, idCol, numShards, seed)
    assigned
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    assigned
  }
}
