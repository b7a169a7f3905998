package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.{VectorKernels => K}

/**
 * Distributed MaxSim (`@#`) over exploded multivectors — the scale shape
 * of the reference's multi-vector scan (reference:
 * src/index/vchordrq/scanners/maxsim.rs; score = sum over query tokens of
 * min over doc tokens of negdot, per
 * src/datatype/operators_rabitq8.rs:123-139).
 *
 * Docs arrive as one row per token `(doc, token_vec)` (the reference
 * explodes vector arrays the same way, opclass.rs:91-141). The Aggregator
 * keeps, per doc, the running minimum negdot against EACH query token —
 * a fixed-width Array[Double] buffer — so Spark's partial aggregation
 * (map-side combine) does the heavy lifting and the shuffle carries one
 * small buffer per (partition, doc), never the token sets. Min is
 * associative/commutative and the final sum runs in fixed query order:
 * byte-for-byte deterministic under any partitioning.
 */
object MaxSim {

  /** Aggregator over token vectors: buffer = per-query-token min negdot.
    * Input is Array[Float] (primitive-array encoder, zero boxing) — a
    * Seq input would box every component of every token on the scan. */
  final class MaxSimAgg(query: Array[Array[Float]])
      extends Aggregator[Array[Float], Array[Double], Double] {
    override def zero: Array[Double] = Array.fill(query.length)(Double.PositiveInfinity)
    override def reduce(buf: Array[Double], tok: Array[Float]): Array[Double] = {
      val t = tok
      var qi = 0
      while (qi < query.length) {
        val nd = K.negdot(t, query(qi))
        if (nd < buf(qi)) buf(qi) = nd
        qi += 1
      }
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < buf.length) { if (buf(i) != Double.PositiveInfinity) s += buf(i); i += 1 }
      s
    }
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /**
   * Score every doc in `tokens(docCol, vecCol)` (one row per token) against
   * `query`; output (doc, maxsim).
   */
  def score(tokens: DataFrame, docCol: String, vecCol: String,
            query: Array[Array[Float]]): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(docCol).cast("long").as("doc"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new MaxSimAgg(query).toColumn.name("maxsim"))
      .toDF("doc", "maxsim")
  }

  /** Top-k most similar docs (ascending score = most similar first). */
  def topK(tokens: DataFrame, docCol: String, vecCol: String,
           query: Array[Array[Float]], k: Int): DataFrame =
    score(tokens, docCol, vecCol, query)
      .orderBy(col("maxsim"), col("doc")).limit(k)

  /** Aggregator over RETRIEVED candidate rows `(tokenIdx, dist)`: buffer
    * = per-query-token min retrieved distance in fixed slots; finish
    * sums in token order with `estimates(i)` standing in for tokens that
    * did not retrieve this doc — the distributed form of
    * [[approxTopK]]'s doc scoring (min is order-insensitive and the
    * final sum runs in fixed token order, so the result is
    * byte-identical to the sequential loop under any partitioning). */
  final class RetrievedMinAgg(nTokens: Int, estimates: Array[Double])
      extends Aggregator[(Long, Double), Array[Double], Double] {
    override def zero: Array[Double] = Array.fill(nTokens)(Double.PositiveInfinity)
    override def reduce(buf: Array[Double], r: (Long, Double)): Array[Double] = {
      val qi = r._1.toInt
      if (r._2 < buf(qi)) buf(qi) = r._2
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < buf.length) {
        s += (if (buf(i) == Double.PositiveInfinity) estimates(i) else buf(i))
        i += 1
      }
      s
    }
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  // ------------------------------------------------------------ index path

  /** Pack (doc, token position) into one long row key — the reference's
    * payload encoding (reference: src/index/fetcher.rs:234-246, position
    * in the low 16 bits). */
  def packKey(doc: Long, pos: Int): Long = {
    require(pos >= 0 && pos < 65536, s"position out of u16 range: $pos")
    (doc << 16) | pos.toLong
  }
  def unpackDoc(key: Long): Long = key >> 16

  /** Index a token table (doc, pos, vec) for approximate MaxSim: ids are
    * position-packed, metric is negdot. */
  def buildTokenIndex(tokens: DataFrame, docCol: String, posCol: String,
                      vecCol: String, dir: String,
                      cfg: graft.index.IvfConfig = graft.index.IvfConfig(metric = "negdot"))
      : graft.index.IvfIndex = {
    require(cfg.metric == "negdot", "MaxSim token index must use the negdot metric")
    val badPos = tokens.filter(col(posCol) < 0 || col(posCol) >= 65536).limit(1).count()
    require(badPos == 0, "token positions must fit u16 (0 <= pos < 65536)")
    val packed = tokens.select(
      ((col(docCol).cast("long") * 65536L) + col(posCol).cast("long")).as("id"),
      col(vecCol).as("vec"))
    graft.index.IvfIndex.build(packed, "id", "vec", dir, cfg)
  }

  /**
   * Approximate MaxSim through the IVF index (reference `maxsim_search` +
   * `maxsim_threshold`, crates/vchordrq/src/search.rs:199-380 and
   * scanners/maxsim.rs): each query token retrieves its `kPerToken` best
   * token vectors; a doc's missing token contributes the token's worst
   * retrieved distance as the pessimistic estimate for unvisited cells;
   * docs score by the sum.
   *
   * `refineDocs > 0` adds the reference's `maxsim_refine` step: that many
   * of the best estimated docs are RE-SCORED EXACTLY from the index's
   * stored token vectors (one distributed pass over just those docs'
   * tokens), and the final top-k orders by exact score — estimate error
   * can then only cost recall at the candidate boundary, never ordering.
   *
   * `refinePerToken >= 0` switches to the reference's PER-TOKEN refine
   * budget (`vchordrq.maxsim_refine`, scanners/maxsim.rs:99-260): each
   * query token's retrieved candidates are ranked by code estimate and
   * only the first `refinePerToken` get exact distances — the remainder
   * contribute their estimate (0 = pure-estimate retrieval, the
   * reference's maxsim_refine=0). Exact-scoring cost is then
   * refinePerToken * |query tokens|, independent of how many tokens the
   * candidate DOCS have (the per-doc `refineDocs` rescore costs
   * |doc tokens| * |query tokens| per refined doc — under sparse probes
   * the per-token budget buys more ranking fidelity per exact scoring).
   * -1 (default) keeps the fully-exact retrieval path.
   *
   * `maxsimThreshold > 0` enables the reference's threshold pricing
   * (search.rs:369-380 + scanners/maxsim.rs:698-717): a token's stand-in
   * for docs it did not retrieve becomes max(worst retrieved distance,
   * centroid distance of the first unprobed cells covering that many
   * tuples) — the probe iterator keeps being consumed WITHOUT scanning
   * until `maxsimThreshold` tuples are covered. Pricing misses at an
   * unvisited-cell distance (instead of the optimistic worst-retrieved)
   * penalizes docs whose tokens live outside the probe horizon, which is
   * what keeps sparse-probe rankings honest.
   */
  def approxTopK(idx: graft.index.IvfIndex, query: Array[Array[Float]], k: Int,
                 kPerToken: Int = 100, probes: Int = 4, refine: Int = 8,
                 refineDocs: Int = 0, maxsimThreshold: Int = 0,
                 refinePerToken: Int = -1): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    // ALL tokens retrieve through ONE batch call (qid = token index):
    // per-token `search` is searchMany with one query, so the batch
    // answers the same rows for 2 Spark jobs total instead of 2 per
    // token — a 100-token ColBERT query would otherwise serialize 200
    // driver-scheduled jobs. With a per-token
    // budget the batch runs in mixed exact/estimate mode (epsilon = 0 so
    // the estimate stand-ins carry no lower-bound slack).
    val tokQueries = query.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val retrieved0 =
      if (refinePerToken >= 0)
        idx.searchMany(tokQueries, kPerToken, probes, epsilon = 0.0,
          exactBudget = refinePerToken)
      else
        idx.searchMany(tokQueries, kPerToken, probes, refine = refine)
    // the retrieved candidate set feeds TWO passes (per-token worst
    // distance, then doc scoring) — persist so the retrieval plan runs
    // once; everything downstream is bounded, so both passes are cheap
    val retrieved = retrieved0.select(col("qid"), col("id"), col("dist")).persist()
    try {
      // per-token WORST retrieved distance — |tokens| rows, the only
      // driver-side collect left on this path (doc scoring itself runs
      // distributed below; at kPerToken=1000 x 100 tokens the old
      // collect-and-loop shape shipped 100k rows to the driver)
      val worst: Map[Long, Double] = retrieved.groupBy("qid")
        .agg(max(col("dist")).as("w"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // estimation_by_threshold: walk the probe iterator past the probed
      // cells, consuming per-cell tuple counts until the threshold is
      // covered; the last consumed cell's centroid distance prices misses
      val thresholdEst: Seq[Double] =
        if (maxsimThreshold <= 0) query.indices.map(_ => Double.NegativeInfinity)
        else {
          val counts = idx.clusterCounts
          query.toSeq.map { q =>
            val order = idx.cellOrder(q)
            var remaining = maxsimThreshold.toLong
            var i = 0
            while (i < math.min(probes, order.length)) {
              remaining -= counts.getOrElse(order(i)._1, 0L); i += 1
            }
            var est = Double.NegativeInfinity
            while (i < order.length && remaining > 0) {
              remaining -= counts.getOrElse(order(i)._1, 0L)
              est = order(i)._2
              i += 1
            }
            est
          }
        }
      val estimates: Array[Double] = query.indices.map { qi =>
        worst.get(qi.toLong) match {
          case Some(w) => math.max(w, thresholdEst(qi))
          case None    => 0.0 // token retrieved nothing
        }
      }.toArray
      // DISTRIBUTED doc scoring: per-doc fixed-slot min aggregation with
      // estimate fallbacks (map-side combine carries one |tokens|-wide
      // buffer per doc — never the candidate rows), then a bounded
      // TakeOrdered; byte-identical to the former driver loop (spec'd)
      val scored = retrieved
        .select(shiftright(col("id"), 16).as("doc"), col("qid"), col("dist"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new RetrievedMinAgg(query.length, estimates).toColumn.name("maxsim"))
        .toDF("doc", "maxsim")
      if (refineDocs <= 0) {
        // bounded: k rows to the driver, returned as a local result so
        // the persisted retrieval can be released eagerly
        val top = scored.orderBy(col("maxsim"), col("doc")).limit(k)
          .as[(Long, Double)].collect()
        top.toSeq.toDF("doc", "maxsim")
      } else {
        val cand = scored.orderBy(col("maxsim"), col("doc"))
          .limit(math.max(refineDocs, k))
          .select("doc").as[Long].collect()
        if (cand.isEmpty) // nothing retrieved: exactRescore's per-doc
          // range predicate would be an empty reduce
          Seq.empty[(Long, Double)].toDF("doc", "maxsim")
        else exactRescore(idx, query,
            scala.collection.immutable.ArraySeq.unsafeWrapArray(cand))
          .orderBy(col("maxsim"), col("doc"))
          .limit(k)
      }
    } finally { retrieved.unpersist(); () }
  }

  /**
   * Candidate docs for a PARTITIONED multivector corpus — per-child
   * token indexes serving a whole-table MaxSim query (reference
   * scanners/maxsim.rs semantics over partition.slt-style per-child
   * indexes). ONE Spark job retrieves every (root, token) pool from a
   * single flat parquet read spanning all roots' probed cells
   * (IvfIndex.multiEstimatePools, epsilon = 0 — unbiased estimates, the
   * reference's maxsim_refine=0 retrieval mode); docs then score on the
   * driver over the BOUNDED pools (≤ roots x tokens x kPerToken rows):
   * per (root, doc), per-token min retrieved estimate, with the token's
   * worst retrieved distance in that root standing in for misses (the
   * [[approxTopK]] estimate contract applied per root — a doc never
   * competes against another root's stand-ins). Returns per root the
   * top `docsPerRoot` (root, doc, score) by ascending estimate.
   *
   * Callers MUST rerank exactly (the served plan's own Sort over the
   * source table does) — estimate error costs recall at the candidate
   * boundary only, never final ordering. Docs are unique across roots
   * (a partitioned corpus holds each doc's tokens in exactly one child).
   */
  def multiRootCandidateDocs(idxs: Seq[graft.index.IvfIndex],
      query: Array[Array[Float]], docsPerRoot: Int, kPerToken: Int,
      probes: Seq[Int]): Array[(Int, Long, Double)] = {
    require(query.nonEmpty, "empty token query")
    val pools = graft.index.IvfIndex.multiEstimatePools(idxs, query,
      kPerToken, probes, epsilon = 0.0)
    val nQ = query.length
    val worst = pools.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._4).max).toMap
    pools.groupBy(_._1).iterator.flatMap { case (root, rows) =>
      // token retrieved nothing in this root -> 0.0 (the approxTopK
      // no-retrieval stand-in)
      val est = Array.tabulate(nQ)(qi => worst.getOrElse((root, qi), 0.0))
      scoreRootPool(rows.iterator.map(t => (t._2, t._3, t._4)), nQ, est,
        docsPerRoot).map { case (doc, s) => (root, doc, s) }
    }.toArray
  }

  /** ONE root's estimate-scoring core, shared by
    * [[multiRootCandidateDocs]] and [[maxsimManyMulti]]: fold pool rows
    * (tokenIdx, packedId, lb) to per-doc per-token min estimates, price
    * misses with `est` (worst retrieved per token, the approxTopK
    * contract), sum in token order, return the best `take` docs
    * ascending (score, doc). One implementation so the miss-stand-in
    * semantics cannot silently fork between the faces. */
  private def scoreRootPool(rows: Iterator[(Int, Long, Double)], nTok: Int,
      est: Array[Double], take: Int): Array[(Long, Double)] = {
    val perDoc = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
    rows.foreach { case (ti, id, lb) =>
      val buf = perDoc.getOrElseUpdate(unpackDoc(id),
        Array.fill(nTok)(Double.PositiveInfinity))
      if (lb < buf(ti)) buf(ti) = lb
    }
    perDoc.iterator.map { case (doc, buf) =>
      var s = 0.0
      var i = 0
      while (i < nTok) {
        s += (if (buf(i) == Double.PositiveInfinity) est(i) else buf(i))
        i += 1
      }
      (doc, s)
    }.toArray.sortBy(t => (t._2, t._1)).take(take)
  }

  /** Aggregator over rescore rows `(queryIdx, root, doc, tokvec)` grouped
    * by (queryIdx, doc): buffer = per-query-token min negdot against the
    * (root, query)-specific rotated token set from the broadcast table —
    * the batched form of [[MaxSimAgg]] (one instance serves EVERY
    * (query, root) pairing, so the whole batch reranks in one shuffle
    * with map-side combine). Every doc token row updates all slots, so
    * finish never sees +inf. Buffers lazily size to the owning query's
    * token count on first reduce (zero() cannot know the query). */
  final class BatchMaxSimAgg(
      bQ: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Array[Float]]]]])
      extends Aggregator[(Int, Int, Long, Array[Float]), Array[Double], Double] {
    override def zero: Array[Double] = Array.empty
    override def reduce(buf0: Array[Double], r: (Int, Int, Long, Array[Float])): Array[Double] = {
      val (qi, root, _, tok) = r
      val q = bQ.value(root)(qi)
      val buf =
        if (buf0.length == q.length) buf0
        else Array.fill(q.length)(Double.PositiveInfinity)
      var i = 0
      while (i < q.length) {
        val nd = K.negdot(tok, q(i))
        if (nd < buf(i)) buf(i) = nd
        i += 1
      }
      buf
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        var i = 0
        while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
        a
      }
    override def finish(buf: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < buf.length) { s += buf(i); i += 1 }
      s
    }
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /**
   * Batched MULTI-ROOT MaxSim — the batch face of the partitioned serve
   * ([[multiRootCandidateDocs]] + exact rescore) and the multi-root form
   * of [[approxTopK]] with `refineDocs = k * refine`: B query documents x
   * R per-child token indexes answered in TWO flat passes whose job
   * count is CONSTANT in B and R (AQE materializes the rescore's one
   * shuffle stage as its own scheduler job — 3 jobs total, flat).
   *
   *   job 1: ONE pooled retrieval over every (root, query-token) from a
   *          single flat parquet read spanning all roots' probed cells
   *          (IvfIndex.multiEstimatePools, epsilon = 0 — the reference's
   *          maxsim_refine=0 unbiased-estimate retrieval,
   *          crates/vchordrq/src/search.rs:199-380); docs then score on
   *          the driver over the BOUNDED pools, per (query, root), with
   *          each token's worst retrieved distance IN THAT ROOT standing
   *          in for misses (the approxTopK estimate contract applied per
   *          root) — the best `k * refine` docs per (query, root) become
   *          rescore candidates, folded PER DOC across roots (a doc
   *          selected by ANY root's estimates rescores over ALL its
   *          stored tokens in every root, so a cross-root split doc is
   *          always scored whole — candidate-boundary misses are the
   *          only estimate effect, never a token-subset score)
   *   job 2: EXACT rescore of every candidate doc from the indexes' own
   *          stored token vectors (per-root packed-key range predicates
   *          pushed to parquet row groups, the [[coalesceDocRanges]]
   *          machinery), one shuffle with map-side combine scoring every
   *          (query, doc) pair against the root-rotated query tokens —
   *          final ordering is exact, estimate error can only cost
   *          recall at the candidate boundary
   *
   * Requires homogeneous negdot children sharing the query dim. The
   * exact rescore reads the indexes' own stored vectors, so children
   * must ALSO share storage and store vectors — UNLESS `rerankTable`
   * supplies the original token table `(tokensDf, docCol, vecCol)` (one
   * row per token keyed by doc): then job 2 rescored candidate docs
   * from the SOURCE table against the RAW queries (original-space
   * vectors — rotation and storage are index-internal and irrelevant),
   * which serves codes-only and storage-mixed token children — the
   * rerank-in-table contract the top-k and range batch faces share.
   * The per-root dataDf reads
   * union into one plan, so planning is linear in R — the DSL batch
   * face's trade (the planner's serveMaxSimMulti stays the flat-relation
   * path for very wide corpora). Output: (qid, doc, maxsim) — top `k`
   * docs per query ascending (maxsim, doc), the [[approxTopK]] contract
   * keyed by qid.
   */
  def maxsimManyMulti(idxs: Seq[graft.index.IvfIndex],
      queries: Array[(Long, Array[Array[Float]])], k: Int,
      kPerToken: Int = 100, probes: Seq[Int] = Nil,
      refine: Int = 8,
      rerankTable: Option[(DataFrame, String, String)] = None): DataFrame = {
    require(idxs.nonEmpty, "no root indexes")
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "empty query batch or empty token query")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate qids in query batch — results would silently merge")
    val h = idxs.head
    require(idxs.forall(ix => ix.meta.dim == h.meta.dim &&
        ix.meta.cfg.metric == "negdot"),
      "maxsimManyMulti requires homogeneous negdot children (token " +
      "indexes) sharing the query dim")
    require(rerankTable.nonEmpty || idxs.forall(ix =>
        ix.meta.cfg.storeVectors && ix.meta.cfg.storage == h.meta.cfg.storage),
      "codes-only or storage-mixed token children hold no uniform stored " +
      "vectors for the exact rescore: pass rerankTable=Some((tokensDf, " +
      "docCol, vecCol)) — one row per token keyed by doc — so the exact " +
      "phase fetches original token vectors from the source table")
    val spark = h.spark
    import spark.implicits._
    val prb = if (probes.nonEmpty) probes else idxs.map(ix =>
      math.max(1, math.ceil(math.sqrt(ix.meta.cfg.lists.toDouble)).toInt))
    require(prb.length == idxs.length, "one probe budget per root index")
    val nQ = queries.length
    val qidArr = queries.map(_._1)
    // flatten to global token slots: query qi owns [offsets(qi),
    // offsets(qi+1)) — one multiEstimatePools call retrieves the whole
    // batch's tokens in one flat job
    val offsets = queries.scanLeft(0)(_ + _._2.length).toArray
    val allTokens: Array[Array[Float]] = queries.flatMap(_._2)
    // driver-pool budget (the serveMaxSimMulti guard, loud): the pooled
    // retrieval collects ≤ roots x totalTokens x kPerToken tuples
    val maxPool = scala.util.Try(
        spark.conf.get("graft.ann.maxsim.maxPoolTuples").toLong)
      .getOrElse(4000000L)
    require(idxs.length.toLong * allTokens.length * kPerToken <= maxPool,
      s"maxsimManyMulti pool budget exceeded: ${idxs.length} roots x " +
      s"${allTokens.length} tokens x $kPerToken > $maxPool " +
      "(graft.ann.maxsim.maxPoolTuples) — lower kPerToken or split the batch")
    val pools = graft.index.IvfIndex.multiEstimatePools(idxs, allTokens,
      kPerToken, prb, epsilon = 0.0)
    val docsPerRoot = k * math.max(refine, 1)
    def qiOf(gti: Int): Int = {
      var lo = 0
      while (offsets(lo + 1) <= gti) lo += 1
      lo
    }
    // per (root, global token): worst retrieved estimate (the miss
    // stand-in); token retrieved nothing in that root -> 0.0
    val worst = pools.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._4).max).toMap
    // per (query, root): estimate-score docs over that root's pools with
    // per-root stand-ins ([[scoreRootPool]], the multiRootCandidateDocs
    // core), keep the best docsPerRoot per (query, root) as rescore
    // candidates. Candidacy is then folded PER DOC (union of selecting
    // queries over ALL roots): a doc whose tokens split across roots may
    // be selected by only one root's estimates, and gating the rescore
    // on (root, doc) would score it over a token SUBSET — an inflated,
    // wrong maxsim. Doc-level membership admits every root's rows of a
    // selected doc, so the rescore is always whole-doc exact; per-root
    // selections are kept separately for the span predicates below.
    val candDoc = scala.collection.mutable.HashMap.empty[Long, List[Int]]
    val selByRoot = Array.fill(idxs.length)(
      scala.collection.mutable.HashSet.empty[Long])
    pools.groupBy(t => (t._1, qiOf(t._2))).foreach { case ((root, qi), rows) =>
      val nTok = queries(qi)._2.length
      val base = offsets(qi)
      val est = Array.tabulate(nTok)(ti =>
        worst.getOrElse((root, base + ti), 0.0))
      scoreRootPool(rows.iterator.map(t => (t._2 - base, t._3, t._4)), nTok,
        est, docsPerRoot).foreach { case (doc, _) =>
          selByRoot(root) += doc
          val cur = candDoc.getOrElse(doc, Nil)
          if (!cur.contains(qi)) candDoc(doc) = qi :: cur
      }
    }
    if (candDoc.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("qid", "doc", "maxsim")
    // job 2, rerank-in-TABLE: exact rescore from the ORIGINAL token
    // table against the RAW queries — the source rows are
    // original-space vectors, so per-root rotation and storage are
    // irrelevant (candidacy from any root's estimates only gates
    // membership; the table is the single source of truth, the
    // scoredManyMulti in-table semantics applied to whole docs). One
    // broadcast-join pass over the candidates' token rows, the same
    // map-side-combined aggregation as the in-index path.
    rerankTable.foreach { case (src, docCol, vecCol) =>
      import org.apache.spark.sql.functions.broadcast
      val bCand = spark.sparkContext.broadcast(
        candDoc.view.mapValues(_.toArray).toMap)
      // one pseudo-root slot holding the UNROTATED queries
      val bQraw = spark.sparkContext.broadcast(Array(queries.map(_._2)))
      val candIds = candDoc.keysIterator.toArray.sorted
      val scoredT = src
        .join(broadcast(candIds.toSeq.toDF("__cand_doc")),
          col(docCol).cast("long") === col("__cand_doc"))
        .select(col(docCol).cast("long"), col(vecCol).cast("array<float>"))
        .as[(Long, Seq[Float])]
        .flatMap { case (doc, tok) =>
          val t = tok.toArray
          bCand.value.getOrElse(doc, Array.empty[Int]).iterator
            .map(qi => (qi, 0, doc, t))
        }
        .groupByKey(r => (r._1, r._3))
        .agg(new BatchMaxSimAgg(bQraw).toColumn.name("maxsim"))
        .map { case ((qi, doc), s) => (qi, doc, s) }
        .collect() // bounded: ≤ B x R x docsPerRoot rows
      val outT = scoredT.groupBy(_._1).toSeq.flatMap { case (qi, rs) =>
        rs.map(r => (r._3, r._2)).toSeq.sorted.take(k)
          .map { case (s, doc) => (qidArr(qi), doc, s) }
      }
      return outT.toDF("qid", "doc", "maxsim")
    }
    // rotated query tokens PER ROOT (rotation preserves dot products, so
    // rotating queries aligns with the index-space stored vectors)
    val qByRoot: Array[Array[Array[Array[Float]]]] =
      idxs.toArray.map { ix =>
        val rot =
          if (ix.meta.cfg.rotate) Some(new graft.core.Rotation(ix.meta.origDim))
          else None
        queries.map(_._2.map(t => rot.map(_.apply(t)).getOrElse(t)))
      }
    val bQ = spark.sparkContext.broadcast(qByRoot)
    val bCand = spark.sparkContext.broadcast(
      candDoc.view.mapValues(_.toArray).toMap)
    val isF16 = h.meta.cfg.storage == "f16"
    // job 2: ONE flat parquet relation over every root's cells (a
    // per-root union of dataDf reads expresses the same scan but
    // analyzes R relations per plan — linear planning in R), with the
    // candidate docs' packed-key ranges coalesced PER ROOT (tight spans
    // inside each root's doc slice keep parquet page pruning effective —
    // a global coalesce widened spans across root boundaries and DOUBLED
    // the rescore read, measured at the 16 x 100k anchor) under a total
    // budget of 2048 Or-terms split across roots (at R=16 that is the
    // union shape's original 64-span tightness). The filter's ONLY value
    // is the parquet row-group/page pruning — membership re-gates every
    // row — so the rescore action runs with whole-stage codegen OFF for
    // its stage: a useful span count cannot fit Janino's 64 KB method
    // limit (512 terms already collapsed to interpreted eval with a
    // failed-compile stall per task batch), and the interpreted
    // evaluation only ever touches rows page pruning already admitted
    // (measured at the anchor: tight spans + interpreted 0.55 s/query vs
    // codegen-compilable coarse spans 2.7 s/query — pruning is the whole
    // game). Admitted foreign rows fall to the membership check.
    // InternalRow
    // scan (the IvfIndex.rerank pattern): candidate membership checks
    // on the raw row BEFORE any vector decode — the typed-Dataset form
    // boxed every scanned row's vector first, which at 100k-doc corpora
    // made the rescore read dominate the whole batch (measured 3.1
    // s/query -> 1.46 decode-gated at the 16 x 100k anchor).
    val perRootBudget = math.max(1, 2048 / idxs.length)
    // BALANCED or-tree, not a left-deep reduce: Spark 4's column-node
    // converter and parquet's filter visitor both recurse per node — a
    // left-deep 512-term chain overflows the stack at plan time
    def orAll(cs: IndexedSeq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      if (cs.length == 1) cs.head
      else orAll(cs.take(cs.length / 2)) || orAll(cs.drop(cs.length / 2))
    // spans from per-root SELECTIONS: packed keys are root-agnostic, so
    // any root's rows of a doc selected anywhere pass some span — the
    // doc-level membership above then admits them (whole-doc rescore)
    val pred = orAll((0 until idxs.length).flatMap { r =>
      val docs = selByRoot(r).toSeq
      if (docs.isEmpty) Nil
      else coalesceDocRanges(docs, perRootBudget).map { case (a, b) =>
        col("id").between(a << 16, (b << 16) | 0xffffL)
      }
    })
    // the conf wrap covers PLAN FINALIZATION (toInternalRdd compiles the
    // scan stage) through the collect — codegen decisions are made at
    // physical planning, not execution
    val scored = graft.core.Confs.withConfs(spark,
        "spark.sql.codegen.wholeStage" -> "false") {
      val (vecDf, rootMap) = graft.index.IvfIndex.flatAllVecsFor(idxs, Some(pred))
      val bRoot = spark.sparkContext.broadcast(rootMap)
      val scoredRows = org.apache.spark.sql.graft.ColumnBridge
        .toInternalRdd(vecDf)
        .mapPartitions { it =>
          val cands = bCand.value
          val roots = bRoot.value
          val dirCache = new java.util.HashMap[String, Integer]()
          it.flatMap { row =>
            val doc = row.getLong(0) >> 16
            cands.get(doc) match {
              case None => Iterator.empty
              case Some(qis) =>
                // root resolved only for MEMBERS (query rotation is per
                // root); non-candidates pay neither the lookup nor decode
                val root =
                  graft.index.IvfIndex.rootOf(roots, dirCache, row.getString(2))
                val v: Array[Float] =
                  if (isF16) graft.core.Half.decodeBytes(row.getBinary(1))
                  else row.getArray(1).toFloatArray()
                qis.iterator.map(qi => (qi, root, doc, v))
            }
          }
        }
      spark.createDataset(scoredRows)(
          org.apache.spark.sql.Encoders.tuple(Encoders.scalaInt,
            Encoders.scalaInt, Encoders.scalaLong,
            ExpressionEncoder[Array[Float]]()))
        .groupByKey(r => (r._1, r._3))
        .agg(new BatchMaxSimAgg(bQ).toColumn.name("maxsim"))
        .map { case ((qi, doc), s) => (qi, doc, s) }
        .collect() // bounded: ≤ B x R x docsPerRoot rows
    }
    val out = scored.groupBy(_._1).toSeq.flatMap { case (qi, rs) =>
      rs.map(r => (r._3, r._2)).toSeq.sorted.take(k)
        .map { case (s, doc) => (qidArr(qi), doc, s) }
    }
    out.toDF("qid", "doc", "maxsim")
  }

  /** Cap on the pushed rescore range count — few enough that parquet's
    * per-row-group Or evaluation stays cheap and nowhere near its
    * recursion limit, enough that scattered candidate docs still prune
    * to their own row groups. */
  private[ops] val maxRescoreRanges = 64

  /** Coalesce sorted candidate docs into ≤ [[maxRescoreRanges]] packed-key
    * spans. Adjacent docs merge EXACTLY (doc d's span ends one key before
    * doc d+1's). Past the cap, the widest inter-range gaps survive as
    * separators (1-D clustering) and everything between merges — the
    * widened spans may admit foreign docs' keys into the SCAN, which the
    * caller's membership filter removes before scoring. */
  private[ops] def coalesceDocRanges(docs: Seq[Long],
                                     maxRanges: Int = maxRescoreRanges): Seq[(Long, Long)] = {
    val s = docs.distinct.sorted
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    s.foreach { d =>
      if (merged.nonEmpty && d == merged.last._2 + 1)
        merged(merged.size - 1) = (merged.last._1, d)
      else merged += ((d, d))
    }
    if (merged.length <= maxRanges) merged.toSeq
    else {
      val seps = (1 until merged.length)
        .map(i => (merged(i)._1 - merged(i - 1)._2, i))
        .sortBy(-_._1).take(maxRanges - 1).map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = 0
      (seps :+ merged.length).foreach { sep =>
        out += ((merged(start)._1, merged(sep - 1)._2))
        start = sep
      }
      out.toSeq
    }
  }

  /** Exact MaxSim for `docs` from the index's own stored token vectors
    * (the reference's refine fetches tuples from the index the same way). */
  private def exactRescore(idx: graft.index.IvfIndex, query: Array[Array[Float]],
                           docs: Seq[Long]): DataFrame = {
    val spark = idx.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // stored vectors live in the index space: rotation preserves dot
    // products, so rotating the query tokens aligns exactly; f16 storage
    // decodes to the same precision the estimates saw
    val rot =
      if (idx.meta.cfg.rotate) Some(new graft.core.Rotation(idx.meta.origDim)) else None
    val q = query.map(t => rot.map(_.apply(t)).getOrElse(t))
    val f16 = idx.meta.cfg.storage == "f16"
    // RANGE predicates on the raw packed key — unlike a filter on
    // shiftright(id, 16), these push down to Parquet row-group stats (the
    // position payload occupies the low 16 bits, so a doc's tokens are
    // exactly the keys in [doc<<16, doc<<16 | 0xFFFF]). The per-DOC
    // formulation produced an O(docs)-deep Or chain (400 clauses in the
    // bench plans; parquet evaluates O(clauses) per row group and its
    // recursive visitor overflows the stack past ~1-2k): the sorted docs
    // COALESCE into at most [[maxRescoreRanges]] spans instead, and the
    // cheap exact membership filter keeps semantics identical however
    // wide the capped spans get.
    val uniq = docs.distinct
    val docPred = coalesceDocRanges(uniq).map { case (a, b) =>
      col("id").between(a << 16, (b << 16) | 0xffffL)
    }.reduce(_ || _)
    val rows = idx.dataDf
      .filter(docPred && shiftright(col("id"), 16).isInCollection(uniq))
      .withColumn("doc", shiftright(col("id"), 16))
    val tokens =
      if (f16) {
        val dec = udf((b: Array[Byte]) => graft.core.Half.decodeBytes(b).toSeq)
        rows.select(col("doc"), dec(col("vec")).as("v"))
      } else rows.select(col("doc"), col("vec").as("v"))
    score(tokens, "doc", "v", q)
  }
}
