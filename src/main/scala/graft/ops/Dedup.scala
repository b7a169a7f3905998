package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines:
 *
 *  - exact duplicate grouping (hash group-by; one shuffle on the hash)
 *  - exact n-gram (shingle) Jaccard similarity pairs
 *  - MinHash + LSH banding near-duplicate candidates (the scale path:
 *    candidate generation touches only docs sharing a band bucket, never
 *    the n^2 pair space)
 *  - SimHash 64-bit fingerprints with pigeonhole band blocking
 *  - embedding-cosine near-duplicates (brute pair join at small n;
 *    random-hyperplane LSH bucketing as the scale path)
 *
 * All hash functions are engine-local deterministic (FNV-1a based), no
 * dependence on Spark's partitioning or on java hashCode.
 */
object Dedup {

  /** FNV-1a 64-bit over a string's UTF-8 bytes; deterministic everywhere. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Mix a base hash with a seed — cheap independent-ish hash family. */
  @inline def mix(h: Long, seed: Int): Long = {
    var x = h ^ (seed.toLong * 0x9E3779B97F4A7C15L)
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /**
   * Distinct word n-gram shingles per doc: (id, shingle: Long). Each
   * shingle is a rolling combination of per-token FNV hashes, so a doc is
   * processed in O(tokens) with no string materialization, and
   * deduplication happens inside the row (shingle duplicates can only
   * occur within one doc) — no global distinct shuffle. Whitespace
   * tokenization; docs shorter than n produce no shingles.
   */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        shingleSet(text.split(' ').map(hash64), n).iterator.map(h => (id, h))
      }
      .toDF("id", "shingle")
  }

  /** Distinct word n-gram shingle hashes of one doc, SORTED ascending —
    * the per-row kernel of [[shingles]], shared with the streaming
    * exact-verify path so both sides hash identically. */
  private[graft] def shingleSet(th: Array[Long], n: Int): Array[Long] = {
    val seen = new scala.collection.mutable.HashSet[Long]
    var i = 0
    while (i + n <= th.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) { h = h * 0x100000001b3L ^ th(j); j += 1 }
      seen += h
      i += 1
    }
    seen.toArray
  }

  /** [[shingleSet]] sorted — the canonical form [[jaccardSorted]] needs;
    * the batch explode path skips the per-doc O(s log s) sort since row
    * order is lost in the shuffle anyway. */
  private[graft] def sortedShingleSet(th: Array[Long], n: Int): Array[Long] = {
    val out = shingleSet(th, n)
    java.util.Arrays.sort(out)
    out
  }

  /** Exact Jaccard of two SORTED distinct-hash arrays (merge count). */
  private[graft] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /**
   * Exact Jaccard similarity over shingle sets for every pair sharing at
   * least one shingle, filtered to >= threshold.
   * Output: (da, db, jac) with da < db.
   *
   * `maxShingleFreq > 0` drops shingles shared by more than that many docs
   * BEFORE pairing (stop-shingle removal): the in-bucket emission is an
   * intersection COUNT, so it cannot be star-capped without corrupting the
   * values — the skew defense is to remove the quadratic buckets entirely
   * and compute Jaccard consistently over the filtered shingle universe.
   * A shingle in >10^4 docs is boilerplate carrying no dedup signal; its
   * bucket alone would emit >5*10^7 pairs from one task. 0 = exact
   * (all-pairs semantics — the oracle mode; use minhashDedup at scale).
   */
  def jaccardPairs(sh: DataFrame, threshold: Double,
                   maxShingleFreq: Int = 0): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val shF =
      if (maxShingleFreq <= 0) sh
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
        sh.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= maxShingleFreq).drop("__df")
      }
    val counts = shF.groupBy("id").agg(count(lit(1)).as("n"))
    // intersection sizes via per-shingle buckets (one groupBy + in-bucket
    // pair emission) — a self-join would evaluate and shuffle the shingle
    // set twice; shingles are already distinct within a doc, so each
    // shared shingle contributes exactly one (da, db) emission
    val inter = groupRuns(
        shF.select(col("shingle"), col("id").cast("long")).as[(Long, Long)],
        pairParts(spark))((_, ids) => bucketPairs(ids.iterator, cap = 0))
      .toDF("da", "db")
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("id").as("da"), col("n").as("na")), Seq("da"))
      .join(counts.select(col("id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jac", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= threshold)
      .select("da", "db", "jac")
  }

  /** Exact-duplicate groups by full-text hash (or any key expression). */
  def exactDupGroups(df: DataFrame, idCol: String, keyExpr: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(keyExpr.as("grp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /**
   * MinHash signatures: (id, sig Array[Long]) — one pass over each doc's
   * shingles, H minima. Then LSH banding: docs sharing any (band, value)
   * bucket become candidates; exact Jaccard verifies. No false positives
   * (exact verify); false-negative rate = prod over bands of
   * (1 - j^rowsPerBand).
   */
  def minhashCandidates(sh: DataFrame, numHashes: Int = 64, bands: Int = 16,
                        maxBucket: Int = 4096): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sigs = sh.select(col("id").cast("long"), col("shingle")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val sig = Array.fill(numHashes)(Long.MaxValue)
        it.foreach { case (_, h) =>
          var j = 0
          while (j < numHashes) { val v = mix(h, j); if (v < sig(j)) sig(j) = v; j += 1 }
        }
        (id, sig)
      }
    bandPairs(sigs.toDF("id", "sig"), numHashes, bands, maxBucket)
  }

  /**
   * MinHash signatures straight from text — one narrow map per doc, NO
   * shuffle (the signature is a streaming min, so per-doc shingle
   * deduplication is unnecessary: min over a multiset = min over its set).
   * Docs shorter than n shingle words produce no signature.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val th = text.split(' ').map(hash64)
        if (th.length < n) Iterator.empty
        else Iterator.single((id, sigFromTokens(th, n, numHashes)))
      }
      .toDF("id", "sig")
  }

  /** Streaming-min MinHash signature over a doc's token-hash sequence
    * (shared with the streaming dedup ingest). */
  private[graft] def sigFromTokens(th: Array[Long], n: Int, numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i + n <= th.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) { h = h * 0x100000001b3L ^ th(j); j += 1 }
      var k = 0
      while (k < numHashes) { val v = mix(h, k); if (v < sig(k)) sig(k) = v; k += 1 }
      i += 1
    }
    sig
  }

  /** Exact-duplicate collapse: (key, (id, sig)) -> (min id, sorted member
    * ids, sig). One map-side-combined shuffle; identical keys imply
    * identical sigs (the key is a hash of the text the sig derives from),
    * so keeping any one is deterministic. Returned as an RDD so every
    * downstream consumer reuses the same shuffle files instead of
    * recomputing the upstream scan. */
  private def collapseByKey[S: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[(String, (Long, S))])
      : org.apache.spark.rdd.RDD[(Long, Seq[Long], S)] =
    rdd.combineByKey[(scala.collection.mutable.ArrayBuffer[Long], S)](
        (v: (Long, S)) => (scala.collection.mutable.ArrayBuffer(v._1), v._2),
        (c: (scala.collection.mutable.ArrayBuffer[Long], S), v: (Long, S)) =>
          { c._1 += v._1; c },
        (a: (scala.collection.mutable.ArrayBuffer[Long], S),
         b: (scala.collection.mutable.ArrayBuffer[Long], S)) =>
          { a._1 ++= b._1; a })
      .map { case (_, (ms, sig)) =>
        val sorted = ms.toArray
        java.util.Arrays.sort(sorted)
        (sorted(0), sorted.toSeq, sig)
      }

  private def hexBytes(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x =>
      sb.append(Character.forDigit((x >> 4) & 0xf, 16))
        .append(Character.forDigit(x & 0xf, 16))
    }
    sb.toString
  }

  /** One 64-bit LSH bucket key per band of a MinHash signature (band
    * ordinal folded into the key) — shared by the batch banding pass and
    * the streaming dedup ingest. */
  private[graft] def bandKeys(sig: Array[Long], bands: Int, r: Int): Array[Long] =
    Array.tabulate(bands) { b =>
      var key = 0xcbf29ce484222325L
      var j = b * r
      while (j < (b + 1) * r) { key = mix(key ^ sig(j), j); j += 1 }
      mix(key, 0x5bd1e995 + b)
    }

  /** LSH banding over (id, sig) signatures: emit candidate pairs sharing
    * any (band, bandKey) bucket. One groupBy on the bucket key with
    * in-bucket pair generation — a self-join would evaluate the signature
    * scan twice and shuffle both sides. */
  private def bandPairs(sigs: DataFrame, numHashes: Int, bands: Int,
                        maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val spark = sigs.sparkSession
    import spark.implicits._
    groupRuns(
        sigs.as[(Long, Array[Long])].flatMap { case (id, sig) =>
          bandKeys(sig, bands, r).map(k => (k, id))
        },
        pairParts(spark))((_, ids) => bucketPairs(ids.iterator, maxBucket))
      .toDF("da", "db")
      .distinct()
  }

  /** Explicit shuffle-partition count for the bucket-pair exchanges:
    * the per-bucket work downstream is QUADRATIC in bucket size, which
    * AQE's bytes-based coalescing cannot see — measured at sf0.1 it
    * folded a ~2M-pair generation stage into ONE task (964 ms serial)
    * because the keyed rows were only ~1 MB. An explicit count is
    * exempt from coalescing; the value is the session's shuffle
    * parallelism, so it scales with the deployment, not the box. */
  private def pairParts(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Hash-partition (key, value) rows by key with an EXPLICIT partition
    * count, sort within partitions, and stream each key's value-run
    * through `f` — the Dataset groupByKey shape without its
    * object-codec group materialization and without AQE folding the
    * quadratic per-key work into one task. One key's values are
    * buffered at a time (the same bound groupByKey's external map
    * has). */
  private def groupRuns[T](kv: org.apache.spark.sql.Dataset[(Long, Long)],
                           parts: Int)(f: (Long, Array[Long]) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    kv.toDF("__k", "__v")
      .repartition(parts, col("__k"))
      .sortWithinPartitions("__k", "__v")
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
      .mapPartitions { it0 =>
        val b = it0.buffered
        new Iterator[T] {
          private var cur: Iterator[T] = Iterator.empty
          private def advance(): Boolean = {
            while (!cur.hasNext && b.hasNext) {
              val k = b.head._1
              val vs = new scala.collection.mutable.ArrayBuffer[Long]()
              while (b.hasNext && b.head._1 == k) vs += b.next()._2
              cur = f(k, vs.toArray)
            }
            cur.hasNext
          }
          def hasNext: Boolean = advance()
          def next(): T = {
            if (!advance()) throw new NoSuchElementException("empty group run")
            cur.next()
          }
        }
      }
  }

  /** Ordered (da < db) pairs among the ids sharing one bucket.
    *
    * Skew defense: a bucket of b ids wants b(b-1)/2 pairs inside ONE task —
    * a stop-phrase band shared by millions of crawl docs would emit ~10^11
    * tuples. Past `cap` ids the bucket degrades to STAR pairs (every id
    * paired with the bucket minimum): O(b) emissions that keep the bucket
    * CONNECTED, so dedup-by-connected-component semantics survive; only
    * the exhaustive pair listing inside monster buckets is given up, and
    * the exact-duplicate pre-collapse upstream means such a bucket holds
    * > cap DISTINCT texts, not mere copies. cap <= 0 disables the defense. */
  private def bucketPairs(it: Iterator[Long], cap: Int): Iterator[(Long, Long)] = {
    val ids = it.toArray
    if (ids.length < 2) Iterator.empty
    else {
      java.util.Arrays.sort(ids)
      if (cap > 0 && ids.length > cap)
        ids.iterator.drop(1).map(b => (ids(0), b))
      else
        for {
          i <- ids.indices.iterator
          j <- ((i + 1) until ids.length).iterator
        } yield (ids(i), ids(j))
    }
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification.
    * Signatures come straight from text (no shingle-table shuffle), and
    * the verify is PAIR-LOCAL: only docs that appear in some LSH
    * candidate pair are re-read, each as one sorted shingle-hash set,
    * and every candidate pair merges its two sets with [[jaccardSorted]]
    * — the n^2 pair space never materializes and no per-shingle table is
    * exploded or shuffled. A pair is kept when `jac > 0` and
    * `jac >= threshold`: it must share at least one shingle, as in
    * [[jaccardPairs]], even at `threshold <= 0`; `jac` is bit-identical
    * to [[jaccardPairs]]' value.
    *
    * Exact duplicates are COLLAPSED before LSH: a crawl with 10^6 copies
    * of one page contributes ONE signature (a 10^6-id bucket would want
    * ~5*10^11 in-bucket pairs), keyed by 128-bit md5 of the text (64-bit
    * birthday collisions are expected at ~10^10 docs). The collapse is
    * lossless: identical text => identical signature AND identical shingle
    * set, so rep-level candidates/Jaccard transfer verbatim to every
    * member — results are expanded back bit-identically (within-group
    * pairs have Jaccard exactly 1.0 by definition). Groups larger than
    * `maxBucket` expand to star pairs (member -> group min), preserving
    * connected-component semantics while bounding output. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String, threshold: Double,
                   n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   maxBucket: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one narrow pass: (text-key, (id, signature)); docs shorter than n
    // shingle words have no signature and (as in the uncollapsed pipeline)
    // can never pair. The collapse runs as ONE RDD shuffle whose files
    // every downstream branch REUSES (skipped map stages): the DataFrame
    // groupBy formulation re-ran the text scan + signatures once per
    // consumer branch, because column pruning specializes each branch's
    // aggregate and ReuseExchange never fires across them (measured: 4
    // scans in the physical plan). The shuffle carries fixed-width
    // signatures, never text, and no eager cache is held.
    val sigsRdd = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .rdd.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val th = text.split(' ').map(hash64)
          if (th.length < n) Iterator.empty
          else Iterator.single(
            (hexBytes(md.digest(text.getBytes("UTF-8"))),
              (id, sigFromTokens(th, n, numHashes))))
        }
      }
    val grouped = spark.createDataset(collapseByKey(sigsRdd))
      .toDF("id", "members", "sig")
    val repSigs = grouped.select(col("id"), col("sig"))
    val multi = grouped.filter(size(col("members")) > 1)
      .select(col("id").as("gid"), col("members"))
    // pair-local exact verify: each candidate rep pair merges the two
    // reps' sorted shingle sets (only candidate docs are re-read); the
    // jac > 0 guard keeps the shared-shingle rule at threshold <= 0
    val verifiedReps = verifySorted(
        bandPairs(repSigs, numHashes, bands, maxBucket), n, (df, idCol, textCol))
      .filter(col("jac") > 0 && col("jac") >= threshold)
    // expand rep-level pairs across exact-duplicate groups (native
    // explode, no UDF); singleton reps fall through the left joins
    val crossed = verifiedReps
      .join(multi.select(col("gid").as("da"), col("members").as("ma")), Seq("da"), "left")
      .join(multi.select(col("gid").as("db"), col("members").as("mb")), Seq("db"), "left")
      .select(coalesce(col("ma"), array(col("da"))).as("ma"),
        coalesce(col("mb"), array(col("db"))).as("mb"), col("jac"))
      .select(explode(col("ma")).as("xa"), col("mb"), col("jac"))
      .select(col("xa"), explode(col("mb")).as("xb"), col("jac"))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"), col("jac"))
    // within-group pairs: Jaccard is exactly 1.0 (identical shingle sets)
    val internal = multi.select(col("members")).as[Seq[Long]].flatMap { ms =>
      if (maxBucket > 0 && ms.length > maxBucket)
        ms.iterator.drop(1).map(b => (ms.head, b, 1.0))
      else
        for { i <- ms.indices.iterator; j <- ((i + 1) until ms.length).iterator }
          yield (ms(i), ms(j), 1.0)
    }.toDF("da", "db", "jac")
    crossed.unionByName(internal)
  }

  /** Exact Jaccard of candidate pairs, computed PAIR-LOCALLY: the
    * `(id, sortedShingleSet)` rows of candidate docs only are fetched
    * through a left-semi re-read of their corpus, and each pair joins
    * both sides' sets and merges them with [[jaccardSorted]].
    *
    * `pairs` holds the pair's two Long id columns; the first column's
    * docs come from `a`, the second's from `b`, each given as (corpus,
    * id column, text column). `b = None` means both columns index `a`,
    * whose candidate docs are then read and shingled once.
    * Output: the two id columns plus `jac`, unfiltered. */
  private def verifySorted(pairs: DataFrame, n: Int,
                           a: (DataFrame, String, String),
                           b: Option[(DataFrame, String, String)] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(pa, pb) = pairs.columns
    def sets(side: (DataFrame, String, String), ids: DataFrame): DataFrame = {
      val (d, id, t) = side
      d.join(ids, d(id).cast("long") === ids("__cid"), "left_semi")
        .select(col(id).cast("long"), col(t).cast("string")).as[(Long, String)]
        .map { case (i, text) =>
          (i, sortedShingleSet(text.split(' ').map(hash64), n)) }
        .toDF("__cid", "__set")
    }
    def ids(c: String) = pairs.select(col(c).as("__cid"))
    val (aSets, bSets) = b match {
      // no distinct: the left-semi join dedups the union implicitly
      case None => val s = sets(a, ids(pa).union(ids(pb))); (s, s)
      case Some(r) => (sets(a, ids(pa)), sets(r, ids(pb)))
    }
    pairs.join(aSets.toDF(pa, "__sa"), pa)
      .join(bSets.toDF(pb, "__sb"), pb)
      .select(pa, pb, "__sa", "__sb")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (x, y, sa, sb) => (x, y, jaccardSorted(sa, sb)) }
      .toDF(pa, pb, "jac")
  }

  /**
   * Cross-corpus MinHash dedup — the A-vs-B form of [[minhashDedup]]:
   * near-duplicate pairs BETWEEN `df` (the incoming corpus, e.g. a new
   * crawl) and `refDf` (the corpus already held, e.g. the current
   * training set), answering the ingestion question "which new documents
   * duplicate something we already have" without ever touching the
   * |df| × |refDf| pair space: candidates come only from BIPARTITE LSH
   * buckets (a band bucket containing docs of one side alone emits
   * nothing).
   *
   * Same discipline as [[minhashDedup]]: exact duplicates collapse per
   * side before banding (128-bit md5 text key), candidates are
   * exact-Jaccard verified over hashed shingle sets (only candidate docs
   * are ever re-read), results expand back across both sides' member
   * lists. A bipartite monster bucket (> `maxBucket` DISTINCT texts on
   * either side) degrades to star pairs anchored at each side's min id —
   * every doc in the bucket keeps at least one candidate, only the
   * exhaustive cross listing is given up.
   *
   * Output: (da, db, jac) with da from `df`, db from `refDf` — the two
   * id spaces are independent and may overlap.
   */
  def minhashDedupAgainst(df: DataFrame, idCol: String, textCol: String,
                          refDf: DataFrame, refIdCol: String, refTextCol: String,
                          threshold: Double, n: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = df.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    def side(d: DataFrame, id: String, t: String): DataFrame = {
      val rdd = d.select(col(id).cast("long"), col(t)).as[(Long, String)]
        .rdd.mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (i, text) =>
            val th = text.split(' ').map(hash64)
            if (th.length < n) Iterator.empty
            else Iterator.single((hexBytes(md.digest(text.getBytes("UTF-8"))),
              (i, sigFromTokens(th, n, numHashes))))
          }
        }
      spark.createDataset(collapseByKey(rdd)).toDF("id", "members", "sig")
    }
    val a = side(df, idCol, textCol)
    val b = side(refDf, refIdCol, refTextCol)
    def bandRdd(s: DataFrame) = s.select(col("id"), col("sig"))
      .as[(Long, Array[Long])]
      .rdd.flatMap { case (i, sig) => bandKeys(sig, bands, r).map(k => (k, i)) }
    val cand = bandRdd(a).cogroup(bandRdd(b)).flatMap { case (_, (as, bs)) =>
      if (as.isEmpty || bs.isEmpty) Iterator.empty
      else {
        val na = as.toArray; java.util.Arrays.sort(na)
        val nb = bs.toArray; java.util.Arrays.sort(nb)
        if (maxBucket > 0 && (na.length > maxBucket || nb.length > maxBucket))
          na.iterator.map(x => (x, nb(0))) ++ nb.iterator.map(y => (na(0), y))
        else na.iterator.flatMap(x => nb.iterator.map(y => (x, y)))
      }
    }.toDF("na", "rb").distinct()
    // exact verify: the same pair-local sorted-set kernel as minhashDedup
    val verified = verifySorted(cand, n, (df, idCol, textCol),
        Some((refDf, refIdCol, refTextCol)))
      .filter(col("jac") >= threshold)
    val aMulti = a.filter(size(col("members")) > 1)
      .select(col("id").as("na"), col("members").as("ma"))
    val bMulti = b.filter(size(col("members")) > 1)
      .select(col("id").as("rb"), col("members").as("mb"))
    verified.join(aMulti, Seq("na"), "left").join(bMulti, Seq("rb"), "left")
      .select(coalesce(col("ma"), array(col("na"))).as("ma"),
        coalesce(col("mb"), array(col("rb"))).as("mb"), col("jac"))
      .select(explode(col("ma")).as("da"), col("mb"), col("jac"))
      .select(col("da"), explode(col("mb")).as("db"), col("jac"))
  }

  /**
   * STREAMING form of [[minhashDedupAgainst]]: flag documents of a
   * STREAM that near-duplicate a STATIC reference corpus (an ingestion
   * gate: "drop arrivals we already hold"). The reference side is
   * collapsed, signed, and collected ONCE — a band-bucket index plus
   * per-rep hashed shingle sets, broadcast to executors; each arriving
   * row computes its signature and band keys IN-ROW, probes the
   * broadcast buckets, exact-verifies Jaccard against candidate refs'
   * shingle sets, and emits its matches. Stateless and shuffle-free, so
   * it runs identically in batch or append-mode Structured Streaming,
   * and output matches [[minhashDedupAgainst]] (same signatures, same
   * buckets, same verify) whenever no bucket tripped that operator's
   * star cap.
   *
   * The broadcast holds the whole reference model in memory —
   * `maxRefDocs` fails loudly past the cap (size the cap to executor
   * memory: ~(shingles + 2·numHashes)·8 bytes per distinct ref text).
   *
   * Output: (da, db, jac) — da stream doc, db ref doc (expanded across
   * the ref side's exact-duplicate members).
   */
  def minhashDedupAgainstIngest(df: DataFrame, idCol: String, textCol: String,
                                refDf: DataFrame, refIdCol: String,
                                refTextCol: String, threshold: Double,
                                n: Int = 3, numHashes: Int = 64,
                                bands: Int = 16,
                                maxRefDocs: Int = 2000000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = df.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val refRdd = refDf
      .select(col(refIdCol).cast("long"), col(refTextCol).cast("string"))
      .as[(Long, String)]
      .rdd.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (i, text) =>
          val th = text.split(' ').map(hash64)
          if (th.length < n) Iterator.empty
          else Iterator.single((hexBytes(md.digest(text.getBytes("UTF-8"))),
            (i, (sigFromTokens(th, n, numHashes), sortedShingleSet(th, n)))))
        }
      }
    val reps: Array[(Long, Seq[Long], (Array[Long], Array[Long]))] =
      collapseByKey(refRdd).collect()
    require(reps.length <= maxRefDocs,
      s"minhashDedupAgainstIngest reference holds ${reps.length} distinct " +
        s"texts (cap $maxRefDocs): raise maxRefDocs to match executor " +
        "memory or run the batch operator")
    // band-bucket index over rep ordinals
    val buckets = {
      val tmp = new java.util.HashMap[java.lang.Long,
        scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < reps.length) {
        bandKeys(reps(i)._3._1, bands, r).foreach { k =>
          tmp.computeIfAbsent(k, _ =>
            scala.collection.mutable.ArrayBuffer.empty[Int]) += i
        }
        i += 1
      }
      val out = new java.util.HashMap[java.lang.Long, Array[Int]](tmp.size * 2)
      tmp.forEach((k, v) => out.put(k, v.toArray))
      out
    }
    val bModel = spark.sparkContext.broadcast(
      (reps.map { case (id, ms, (_, sh)) => (id, ms.toArray, sh) }, buckets))
    val (nn, bb, rr, thr) = (n, bands, r, threshold)
    val nh = numHashes
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (da, text) =>
        val (repArr, bIdx) = bModel.value
        val th = text.split(' ').map(hash64)
        if (th.length < nn) Iterator.empty
        else {
          val sig = sigFromTokens(th, nn, nh)
          val sh = sortedShingleSet(th, nn)
          val seen = scala.collection.mutable.Set.empty[Int]
          bandKeys(sig, bb, rr).foreach { k =>
            val hit = bIdx.get(k)
            if (hit != null) hit.foreach(seen += _)
          }
          seen.iterator.flatMap { ix =>
            val (_, members, refSh) = repArr(ix)
            val j = jaccardSorted(sh, refSh)
            if (j >= thr) members.iterator.map(db => (da, db, j))
            else Iterator.empty
          }
        }
      }
      .toDF("da", "db", "jac")
  }

  /** 64-bit token hash = last 8 MD5 digest bytes, little-endian — the
    * exact value DuckDB's `md5_number_lower(w)` produces, which makes
    * SimHash cross-engine reproducible (the dedup_simhash oracle recomputes
    * the whole fingerprint in SQL). */
  def md5Hash64(s: String): Long =
    md5Hash64(java.security.MessageDigest.getInstance("MD5"), s)

  private def md5Hash64(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes("UTF-8")) // digest() resets the instance
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** 64-bit SimHash of a doc's whitespace tokens (md5-based token hash —
    * see [[md5Hash64]]; one digest instance per document, not per token). */
  def simhash64(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    text.split(' ').foreach { w =>
      if (w.nonEmpty) {
        val h = md5Hash64(md, w)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /**
   * SimHash near-dup pairs with hamming distance <= maxHamming (<= 3 for
   * the 4-band pigeonhole blocking to be lossless).
   *
   * Scale shape: band keys are 16-bit (65,536 buckets per band), so past
   * ~10M docs every bucket is populated and in-bucket pairing is the
   * quadratic risk — defended the same way as MinHash: exact duplicates
   * (identical text => identical fingerprint) collapse to one
   * representative before banding, in-bucket emission star-caps past
   * `maxBucket`, and results expand back exactly (within-group hamming is
   * 0 by definition; cross-group hamming equals the rep-level hamming).
   */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
                   maxBucket: Int = 4096): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is only lossless for hamming <= 3")
    val spark = df.sparkSession
    import spark.implicits._
    // one narrow pass: (text-key, (id, fingerprint)); the collapse runs as
    // ONE RDD shuffle whose files all four downstream branches reuse —
    // see minhashDedup for why the DataFrame groupBy version rescanned
    // the text per branch
    val sigsRdd = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .rdd.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          (hexBytes(md.digest(text.getBytes("UTF-8"))), (id, simhash64(text)))
        }
      }
    val grouped = spark.createDataset(collapseByKey(sigsRdd))
      .toDF("id", "members", "sig")
    val repSigs = grouped.select(col("id"), col("sig"))
    val multi = grouped.filter(size(col("members")) > 1)
      .select(col("id").as("gid"), col("members"))
    // bucket-groupBy pair generation (no self-join: one shuffle of the
    // fixed-width banded keys) with the star cap; the 8-byte fingerprint
    // rides along in the bucket so hamming needs no join-back
    val repPairs = repSigs.as[(Long, Long)].flatMap { case (id, sig) =>
      (0 until 4).map(b => (b.toLong << 16 | ((sig >>> (b * 16)) & 0xffffL), id, sig))
    }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val sigOf = rows.map(r => r._2 -> r._3).toMap
        bucketPairs(rows.iterator.map(_._2), maxBucket)
          .map { case (a, b) => (a, b, sigOf(a), sigOf(b)) }
      }
      .toDF("da", "db", "sa", "sb")
      .distinct()
    val verifiedReps = repPairs
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
    val crossed = verifiedReps
      .join(multi.select(col("gid").as("da"), col("members").as("ma")), Seq("da"), "left")
      .join(multi.select(col("gid").as("db"), col("members").as("mb")), Seq("db"), "left")
      .select(coalesce(col("ma"), array(col("da"))).as("ma"),
        coalesce(col("mb"), array(col("db"))).as("mb"), col("hamming"))
      .select(explode(col("ma")).as("xa"), col("mb"), col("hamming"))
      .select(col("xa"), explode(col("mb")).as("xb"), col("hamming"))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"), col("hamming"))
    // within-group pairs: identical text, hamming 0
    val internal = multi.select(col("members")).as[Seq[Long]].flatMap { ms =>
      if (maxBucket > 0 && ms.length > maxBucket)
        ms.iterator.drop(1).map(b => (ms.head, b, 0))
      else
        for { i <- ms.indices.iterator; j <- ((i + 1) until ms.length).iterator }
          yield (ms(i), ms(j), 0)
    }.toDF("da", "db", "hamming")
    crossed.unionByName(internal)
  }

  /** Hyperplane-separation probability for a pair AT cosine distance
    * `tau`: p = theta/pi with theta = acos(1 - tau). The building block
    * of the LSH recall model below. */
  def lshSeparationProb(tau: Double): Double =
    math.acos(1.0 - math.min(math.max(tau, 0.0), 2.0)) / math.Pi

  /**
   * Candidate-stage false-negative rate of random-hyperplane LSH for a
   * pair at cosine distance exactly `tau` (the WORST qualifying pair —
   * closer pairs survive with higher probability, so this bounds the
   * miss rate of the whole `cosdist < tau` result set):
   *
   *   fnr = (1 - (1 - p)^bits)^tables,  p = acos(1 - tau) / pi
   *
   * A table keeps the pair only when all `bits` planes agree ((1-p)^bits);
   * the pair is lost only when every table drops it. The exact-cosine
   * verify step adds no false positives, so 1 - fnr IS the recall bound.
   */
  def lshFalseNegativeRate(tau: Double, bits: Int, tables: Int): Double = {
    require(bits > 0 && tables > 0, "bits and tables must be positive")
    math.pow(1.0 - math.pow(1.0 - lshSeparationProb(tau), bits), tables)
  }

  /** Smallest table count whose boundary-pair recall (1 - fnr) meets
    * `targetRecall` at the given `tau` and `bits` — the auto-sizing
    * embeddingNearDup applies when `lshTables <= 0`. More bits = smaller
    * buckets but more tables for the same recall; cost scales with
    * bits*tables dot products per row plus tables bucket emissions. */
  def lshTablesFor(tau: Double, bits: Int, targetRecall: Double = 0.95): Int = {
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    val keepOne = math.pow(1.0 - lshSeparationProb(tau), bits)
    require(keepOne > 1e-12,
      s"a $bits-bit table keeps a boundary pair at tau=$tau with probability " +
      f"$keepOne%.2e — no realistic table count reaches recall $targetRecall; " +
      "use fewer bits")
    math.max(1, math.ceil(math.log(1.0 - targetRecall) / math.log1p(-keepOne)).toInt)
  }

  /**
   * Embedding cosine near-duplicate pairs: cosdist(a, b) < tau, da < db.
   * `lshBits > 0` switches to random-hyperplane bucketing (only pairs
   * agreeing on all bits in at least one of `lshTables` tables are
   * compared) — the 100TB path; 0 = exact pair join, which broadcasts the
   * table and is GATED at `bruteCap` rows: past the gate it fails loudly
   * with instructions instead of silently OOMing the driver — switching
   * to LSH implicitly would silently change recall, so the caller must
   * choose.
   *
   * LSH OPERATING POINT: recall is governed by the closed form in
   * [[lshFalseNegativeRate]] — e.g. tau=0.5 (theta = 60 deg, p = 1/3):
   * 4 bits x 16 tables gives fnr ~ 3%, while the same bits with 8 tables
   * silently misses ~17% of boundary pairs. Pass `lshTables <= 0` to
   * auto-size the table count for a 95% boundary-pair recall via
   * [[lshTablesFor]] (logged cost: tables*bits dot products per row).
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
                       lshBits: Int = 0, lshTables: Int = 0,
                       bruteCap: Int = 200000, maxBucket: Int = 4096): DataFrame = {
    import graft.core.{VectorKernels => K}
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
    if (lshBits == 0) {
      // broadcast-block pair scan: one side broadcast as primitive arrays,
      // the other streamed per-partition — no per-pair row machinery. At
      // sizes past broadcast limits, use the lshBits path instead.
      // r18: ONE bounded CollectLimit peek replaces the count()+collect()
      // double pass — past the cap the peek cost O(bruteCap), not O(n),
      // and under it the peeked rows ARE the broadcast side.
      val spark = df.sparkSession
      import spark.implicits._
      val rows = base.as[(Long, Seq[Float])]
      val peek = rows.limit(bruteCap + 1).collect()
      require(peek.length <= bruteCap,
        s"embeddingNearDup exact mode would broadcast more than $bruteCap " +
        s"rows (cap $bruteCap): pass lshBits > 0 (random-hyperplane " +
        "bucketing, the scale path) or raise bruteCap explicitly")
      val side = spark.sparkContext.broadcast(
        peek.map { case (id, v) => (id, v.toArray, K.norm(v.toArray)) })
      rows.mapPartitions { it =>
        val all = side.value
        it.flatMap { case (ida, va0) =>
          val va = va0.toArray
          val na = K.norm(va)
          all.iterator.collect {
            case (idb, vb, nb) if ida < idb =>
              val c = if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - K.dot(va, vb) / (na * nb)
              (ida, idb, c)
          }.filter(_._3 < tau)
        }
      }.toDF("da", "db", "cosdist")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val bits = lshBits
      val tables = if (lshTables > 0) lshTables else lshTablesFor(tau, lshBits)
      // candidate generation over IDS ONLY: one narrow pass emits
      // (bucket, id), one groupBy shuffles 16-byte rows — vectors never
      // ride the candidate shuffle. In-bucket emission reuses the same
      // star-cap as MinHash banding: a crawl where one hyperplane bucket
      // collects millions of near-identical embeddings emits O(b) star
      // pairs (connectivity preserved) instead of b^2/2.
      // Array[Float]: zero-boxing deserialization on this whole-table pass
      val keyed = base.as[(Long, Array[Float])].mapPartitions { it =>
        var planes: Array[Array[Double]] = null // sized from the first row
        it.flatMap { case (id, v) =>
          val va = v
          if (planes == null) planes = hyperplanes(va.length, tables * bits)
          (0 until tables).iterator.map { t =>
            var key = 0L
            var b = 0
            while (b < bits) {
              val w = planes(t * bits + b)
              var dot = 0.0
              var j = 0
              while (j < va.length) { dot += va(j) * w(j); j += 1 }
              if (dot > 0) key |= (1L << b)
              b += 1
            }
            // fold the table ordinal into the key: one 64-bit bucket id
            (mix(key, 0x27d4eb2f + t), id)
          }
        }
      }
      // r17: when the table fits the same loud broadcast budget the
      // exact mode already uses, verify candidates IN-BUCKET against a
      // broadcast of the vectors: the candidate pair stream (tables ×
      // Σ bucket²/2 emissions — measured ~2M rows at sf0.1) never
      // becomes DataFrame rows at all; only TRUE pairs are emitted, so
      // the 2M-row distinct exchange and both vector-fetch joins
      // disappear. K.cosdist accumulates bit-identically to the
      // VecCosDistExpr codegen kernel (same double order, same
      // zero-norm => 1.0), so emitted distances are unchanged. Past the
      // budget, the join-verify path below is the 100 TB shape:
      // candidates as narrow rows, vectors fetched by id for survivors.
      // r18 (ADVICE): the gate is ONE bounded CollectLimit peek, not a
      // full count() pass — at scale the decision costs O(bruteCap) —
      // and it is bytes-aware: past `graft.dedup.broadcastBytes`
      // (estimated n*dim*4, default 256 MB) the broadcast is declined
      // even under the row cap, because 200k wide vectors are GBs on the
      // driver and every executor where the join path streams them. The
      // peeked rows themselves become the broadcast, so the table is
      // scanned once either way. The broadcast's lifetime is tied to the
      // returned (lazy) DataFrame, so it is released by the context
      // cleaner when the plan is dropped — there is no action here to
      // destroy() after.
      val bcastBytes = spark.conf.getOption("graft.dedup.broadcastBytes")
        .orElse(spark.conf.getOption("spark.graft.dedup.broadcastBytes"))
        .map(_.toLong).getOrElse(256L << 20)
      val peek = base.as[(Long, Array[Float])].limit(bruteCap + 1).collect()
      val estBytes = if (peek.isEmpty) 0L
        else peek.length.toLong * (peek.head._2.length.toLong * 4L + 32L)
      if (peek.length <= bruteCap && estBytes <= bcastBytes) {
        val side = spark.sparkContext.broadcast(peek.toMap)
        groupRuns(keyed, pairParts(spark)) { (_, ids) =>
          val m = side.value
          bucketPairs(ids.iterator, maxBucket).flatMap { case (a, b) =>
            val c = K.cosdist(m(a), m(b))
            if (c < tau) Iterator.single((a, b, c)) else Iterator.empty
          }
        }
          .toDF("da", "db", "cosdist")
          .distinct()
      } else {
        val cand = groupRuns(keyed, pairParts(spark))(
            (_, ids) => bucketPairs(ids.iterator, maxBucket))
          .toDF("da", "db")
          .distinct()
        // only surviving candidate pairs ever carry vectors: fetch both
        // sides by id for the exact cosine verify (no false positives).
        // The kernel is the NATIVE codegen expression — the candidate set
        // at an adversarial tau can approach n^2/2 pairs, and a Scala UDF
        // here deserializes two boxed Seq[Float] per pair (measured: the
        // MapObjects loop dominated the whole query)
        cand
          .join(base.select(col("id").as("da"), col("v").as("va")), Seq("da"))
          .join(base.select(col("id").as("db"), col("v").as("vb")), Seq("db"))
          .withColumn("cosdist",
            graft.functions.GraftFunctions.vecCosdist(col("va"), col("vb")))
          .filter(col("cosdist") < tau)
          .select("da", "db", "cosdist")
      }
    }
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
   * deduplication at corpus scale: assign every embedding to its nearest
   * centroid (cosine), then search near-duplicate pairs
   * (`cosdist < eps`) only WITHIN each cluster. Cost drops from O(n^2)
   * all-pairs to O(n·k) assignment + Σ|cluster|^2 in-cluster pairs; with
   * k sized so clusters stay in the tens of thousands (the paper uses
   * k ≈ 100k on web-scale corpora), per-cluster work is bounded and the
   * whole operator is one narrow assignment scan + one shuffle on
   * `cluster`. The trade is recall at cluster boundaries: a pair split
   * across two clusters is missed — that is the published algorithm's
   * semantics, not an approximation of this implementation.
   *
   * Scale shape: centroids ride into the assignment scan as literal
   * arrays inside a native codegen expression (k cosine distances per
   * row, no shuffle, no UDF); pair generation self-joins on `cluster`
   * (hash shuffle on a small int key) with the exact-distance filter
   * fused into the join output — vectors cross the wire once per side.
   * A cluster exceeding `maxCluster` fails LOUDLY (the fix is more
   * centroids, the knob the algorithm already has) instead of letting
   * one mega-cluster degenerate to n^2/2.
   *
   * Assignment ties break to the LOWEST centroid index
   * (`array_position` returns the first minimum) — deterministic and
   * replicated by the oracle's `ORDER BY cd, cid` row_number.
   *
   * Production centroids come from [[graft.kmeans.KMeans.lloyd]] over a
   * bounded sample ([[semDedupAuto]]); any externally-trained codebook
   * works too — centroids are data, not state.
   *
   * Output: (cluster, da, db, cosdist) with da < db.
   */
  /** Nearest-centroid cluster assignment (cosine argmin, ties to the
    * lowest index): (id, v, cluster) — the shared substrate of
    * [[semDedup]] and per-cluster diversity quotas
    * (`Curation.capPerKey` over the cluster column). ONE fused argmin
    * expression, not `array_position` over k cosdist children: the
    * k-child tree stops fitting JIT method limits past ~100 centroids
    * and Catalyst quietly degrades to interpreted per-row eval of every
    * child (measured 20x at k=256); the codebook rides into generated
    * code as a referenced object instead. */
  def assignClusters(df: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Float]]): DataFrame = {
    require(centroids.nonEmpty, "assignClusters needs at least one centroid")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      "centroids must share one dimensionality")
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .withColumn("cluster",
        graft.functions.GraftFunctions.vecNearest(col("v"), centroids))
  }

  def semDedup(df: DataFrame, idCol: String, vecCol: String, eps: Double,
               centroids: Array[Array[Float]],
               maxCluster: Int = 100000): DataFrame = {
    require(eps > 0.0 && eps <= 2.0, s"eps must be in (0, 2], got $eps")
    import graft.functions.GraftFunctions.vecCosdist
    val assigned = assignClusters(df, idCol, vecCol, centroids)
    // loud skew guard: one cheap partial-agg pass over (cluster) ids only
    // — vectors don't ride it. Recompute of the assignment scan is the
    // price of failing BEFORE the quadratic join, not after.
    val over = assigned.groupBy("cluster").count()
      .filter(col("count") > maxCluster).limit(1).collect()
    require(over.isEmpty, {
      val r = over.head
      s"semDedup cluster ${r.getInt(0)} holds ${r.getLong(1)} rows " +
        s"(cap $maxCluster): use more centroids (SemDeDup's own scale " +
        "knob) or raise maxCluster explicitly"
    })
    // EXPLICIT join partitioning (r17): the in-cluster pair join's cost
    // is Σ|cluster|² — quadratic in rows per partition, invisible to
    // AQE's bytes-based coalescing, which folded the whole verify stage
    // into ONE task at small scale (measured 247 ms single-task while
    // 31 cores idled). repartition with an explicit count is exempt
    // from AQE coalescing, keeps the join shuffle-free (both sides
    // share the partitioning), and at real scale equals what the join
    // exchange would have done anyway.
    val parts = assigned.sparkSession.conf
      .getOption("spark.sql.shuffle.partitions").map(_.toInt)
      .getOrElse(assigned.sparkSession.sparkContext.defaultParallelism)
    val byCluster = assigned.repartition(parts, col("cluster"))
    val left = byCluster.select(col("cluster"), col("id").as("da"), col("v").as("va"))
    val right = byCluster.select(col("cluster").as("__cb"), col("id").as("db"), col("v").as("vb"))
    left.join(right, col("cluster") === col("__cb") && col("da") < col("db"))
      .withColumn("cosdist", vecCosdist(col("va"), col("vb")))
      .filter(col("cosdist") < eps)
      .select("cluster", "da", "db", "cosdist")
  }

  /** [[semDedup]] with centroids trained in place: deterministic
    * fixed-seed k-means over a bounded sample of the corpus itself
    * (same sampling/seeding discipline as the IVF index build). */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String, eps: Double,
                   k: Int, sampleCap: Int = 65536,
                   maxCluster: Int = 100000): DataFrame = {
    import df.sparkSession.implicits._
    val sample = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("v"))
      .orderBy(xxhash64(col("id")))
      .limit(sampleCap)
      .select(col("v")).as[Array[Float]].collect()
    require(sample.nonEmpty, "semDedupAuto: no vectors to train centroids on")
    semDedup(df, idCol, vecCol, eps, graft.kmeans.KMeans.lloyd(sample, k),
      maxCluster)
  }

  /**
   * Connected components over a near-dup pair set: (id, rep) where rep is
   * the MINIMUM id reachable through the pair graph — the step a dedup
   * pipeline runs after pair generation to pick one canonical document
   * per duplicate cluster (keep rep, drop the rest).
   *
   * Iterative min-label propagation: each round, every vertex adopts the
   * smallest label among itself and its neighbors; converged when no
   * label changes. Rounds = graph diameter; the upstream pair generators
   * keep components star-shaped (bucket min linked to every member), so
   * real near-dup graphs converge in a handful of rounds. Each round is
   * one join + one groupBy over (id, label) pairs — fixed-width rows,
   * never text or vectors — and lineage is truncated per round so plans
   * stay flat at scale. Fails loudly past `maxIters` (a pathological
   * chain) rather than silently emitting unconverged labels.
   */
  def components(pairs: DataFrame, aCol: String = "da", bCol: String = "db",
                 maxIters: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // SMALL-GRAPH FAST PATH (r17 optimization): the distributed loop
    // below costs ~5 jobs per round (join, groupBy, checkpoint,
    // convergence agg) — measured 40+ jobs of almost pure orchestration
    // on sub-second pair sets. Real near-dup pair sets are tiny relative
    // to their corpus (they are the DUPLICATES), so when the pair set
    // fits a loud driver budget, one bounded collect + union-find
    // produces the IDENTICAL min-reachable-id labels in one job. The
    // budget is a conf (graft.dedup.components.maxDriverPairs, rows;
    // 0 disables); past it the distributed propagation runs unchanged —
    // the 100 TB path. The peek costs one bounded CollectLimit job that
    // the distributed path simply would not have run.
    val maxDriver = spark.conf
      .getOption("graft.dedup.components.maxDriverPairs")
      .orElse(spark.conf.getOption("spark.graft.dedup.components.maxDriverPairs"))
      .map(_.toLong).getOrElse(1L << 20)
    // r18 (ADVICE): the peek's CollectLimit runs the pair pipeline's
    // upstream shuffle map stages, and when the pair set then exceeds
    // the budget the distributed path would recompute that same
    // upstream from scratch — for a direct components() call on
    // UNCACHED pairs at scale that is the whole minhash/LSH job twice.
    // So when the plan is neither already-cached nor exchange-free (an
    // exchange-free CollectLimit is an incremental executeTake; a
    // cached source costs nothing to re-read), the edges are PERSISTED
    // across the peek: a fallthrough rides the cache instead of
    // recomputing, and the cache is released as soon as the chosen
    // path no longer needs it.
    val fastPathOn = maxDriver > 0 && maxDriver < Int.MaxValue
    def peekIsCheap: Boolean = try {
      val qe = edges.queryExecution
      val cached = qe.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
      cached || !qe.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    } catch { case scala.util.control.NonFatal(_) => true }
    val edgesCachedForPeek = fastPathOn && !peekIsCheap
    val edgesP =
      if (edgesCachedForPeek)
        edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else edges
    if (fastPathOn) {
      val peek = edgesP.limit(maxDriver.toInt + 1).as[(Long, Long)].collect()
      if (peek.length <= maxDriver) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.get(x)
          while (p != x) { // path halving
            val gp = parent.get(p)
            parent.put(x, gp)
            x = gp
            p = parent.get(x)
          }
          x
        }
        peek.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val minOf = new java.util.HashMap[Long, Long]()
        parent.keySet().forEach { id =>
          val r = find(id)
          val cur = minOf.getOrDefault(r, Long.MaxValue)
          if (id < cur) minOf.put(r, id)
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
        parent.keySet().forEach(id => out += ((id, minOf.get(find(id)))))
        if (edgesCachedForPeek) edgesP.unpersist()
        return spark.createDataset(out.toSeq).toDF("id", "rep")
      }
      // else: fall through — the pair set outgrew the driver budget;
      // adj below reads the peek's cache, not a recomputation
    }
    // symmetric adjacency in ONE pass over the pair source (a union of
    // two selects would run the upstream pair pipeline twice — at scale
    // that is the whole minhash/LSH job, the expensive part); one
    // shuffle, reused every round
    val adj = edgesP
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // round 1 fused into initialization: label_0 = min(id, neighbors) is
      // one groupBy over the edge set — no join — so star-shaped graphs
      // (the shape the upstream bucket generators emit) finish with a
      // single confirming round after this
      var labels = adj.groupBy("a")
        .agg(least(col("a"), min(col("b"))).as("rep"))
        .withColumnRenamed("a", "id")
        .localCheckpoint()
      // adj is materialized by the eager checkpoint above; the peek's
      // edge cache (if any) has served its purpose
      if (edgesCachedForPeek) edgesP.unpersist()
      var it = 0
      var converged = false
      while (!converged) {
        require(it < maxIters,
          s"components did not converge in $maxIters rounds — pathological " +
          "chain-shaped pair graph; raise maxIters explicitly")
        val nbrMin = adj.join(labels, adj("b") === labels("id"))
          .groupBy(adj("a").as("id")).agg(min("rep").as("nrep"))
        // the new label AND a did-it-change flag ride the same
        // checkpointed rows (truncating per-round lineage), so the
        // convergence test is a shuffle-free scan of in-memory blocks —
        // not a second join job per round
        val nxt = least(col("rep"), coalesce(col("nrep"), col("rep")))
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), nxt.as("nxt"),
            (nxt =!= col("rep")).cast("long").as("chg"))
          .localCheckpoint()
        converged = Option(next.agg(sum("chg")).first().get(0))
          .forall(_.asInstanceOf[Long] == 0L)
        // the previous round's checkpoint blocks are dead once `next` is
        // materialized (localCheckpoint is eager) — release them now
        // rather than pinning every round's labels until GC sweeps them
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointLeaves(labels)
        labels = next.select(col("id"), col("nxt").as("rep"))
        it += 1
      }
      labels
    } finally adj.unpersist()
  }

  /**
   * End-to-end dedup: drop every document that is not its duplicate
   * cluster's canonical representative (minimum id), given near-dup
   * pairs from ANY of the pair generators above. The final step of a
   * training-data dedup pipeline — the output is the cleaned table.
   *
   * Shape at scale: components() labels ride fixed-width (id, rep) rows;
   * the drop set joins back LEFT ANTI on the id key — broadcast when the
   * dup fraction is small (AQE decides), shuffle-on-id otherwise. The
   * full-width document rows are never shuffled more than that one join.
   */
  def dedupe(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dedupeFromLabels(df, idCol, components(pairs))

  /** Cleaned table from PRECOMPUTED component labels (id, rep) — the
    * anti-join step alone, for pipelines that already ran [[components]]
    * (running it again here would repeat the label propagation, and at
    * scale the pair generation feeding it). */
  def dedupeFromLabels(df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val drops = labels
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("_graft_drop_id"))
    df.join(drops, col(idCol).cast("long") === col("_graft_drop_id"), "left_anti")
  }

  /** Pair set + component labels + cleaned table of one dedup run. The
    * `pairs` frame is persisted (fixed-width rows) — call [[Pipeline
    * .unpersist]] when done. `labels` is already materialized (components
    * localCheckpoints each round), so reuse never re-propagates;
    * `unpersist` releases BOTH the pairs cache and the labels checkpoint
    * blocks (which `DataFrame.unpersist` alone would leave pinned). */
  final case class Pipeline(pairs: DataFrame, labels: DataFrame, cleaned: DataFrame) {
    /** Releases ALL pipeline storage: the pairs cache and the labels
      * localCheckpoint blocks. Call it AFTER consuming the outputs — a
      * locally-checkpointed plan cannot be recomputed once its blocks are
      * dropped, so actions on `labels`/`cleaned` after unpersist() fail
      * (by design: the alternative was pinning the checkpoint blocks in
      * executor storage for the session, the round-5 leak). */
    def unpersist(): Unit = {
      pairs.unpersist()
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointLeaves(labels)
    }
  }

  /**
   * End-to-end dedup pipeline computing each stage ONCE: near-dup pairs
   * (from `mkPairs`, any generator above) -> connected-component labels ->
   * cleaned table. Running the stages separately repeats the pair
   * generation per consumer — at scale that is the whole MinHash/LSH job
   * twice over; here the pair set is persisted as fixed-width (da, db)
   * rows and both downstream stages ride it.
   */
  def pipeline(df: DataFrame, idCol: String,
               mkPairs: DataFrame => DataFrame): Pipeline = {
    val pairs = mkPairs(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = components(pairs)
    Pipeline(pairs, labels, dedupeFromLabels(df, idCol, labels))
  }

  /** Deterministic pseudo-random hyperplane weights: plane p, component j
    * weight derived from mix(0x9E..15 + j, p) — identical on every
    * executor, no broadcast needed. */
  private def hyperplanes(dim: Int, nPlanes: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { j =>
        (mix(0x9E3779B97F4A7C15L + j, p) >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    }
}
