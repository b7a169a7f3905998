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
   * The MaxSim candidate phase (reference scanners/maxsim.rs), for a batch
   * of token queries over one token index or a partitioned corpus's
   * per-child ones. ONE Spark job pools every (root, query token)'s
   * `kPerToken` best estimates from a single flat read spanning all
   * roots' probed cells (IvfIndex.multiEstimateCandidates, epsilon = 0 —
   * the reference's maxsim_refine=0 unbiased-estimate retrieval,
   * crates/vchordrq/src/search.rs:199-380). Docs then score on the driver
   * over the BOUNDED pools, per (root, query): per-token min retrieved
   * estimate, with the token's worst retrieved estimate IN THAT ROOT
   * standing in for misses (0.0 when it retrieved nothing there), summed
   * in token order — a doc never competes against another root's
   * stand-ins. Returns the best `docsPerRoot` docs per (root, query) as
   * (root, queryIdx, doc, estimate), ascending (estimate, doc).
   *
   * Callers MUST rescore exactly: estimate error may cost recall at the
   * candidate boundary, never final ordering. Pool budgets are the
   * callers' (the planner declines, [[maxsimManyMulti]] refuses).
   */
  private[graft] def candidateDocs(idxs: Seq[graft.index.IvfIndex],
      queries: Array[Array[Array[Float]]], docsPerRoot: Int, kPerToken: Int,
      probes: Seq[Int]): Array[(Int, Int, Long, Double)] = {
    // global token slots: query qi owns [offsets(qi), offsets(qi + 1))
    val offsets = queries.scanLeft(0)(_ + _.length)
    val qiOf = queries.indices.flatMap(qi => Seq.fill(queries(qi).length)(qi))
    val pools = graft.index.IvfIndex.multiEstimateCandidates(idxs,
      queries.flatten, kPerToken, probes, epsilon = 0.0)._1
    val worst = pools.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._4).max).toMap
    pools.groupBy(t => (t._1, qiOf(t._2))).iterator.flatMap { case ((root, qi), rows) =>
      val nTok = queries(qi).length
      val base = offsets(qi)
      val est = Array.tabulate(nTok)(ti => worst.getOrElse((root, base + ti), 0.0))
      val perDoc = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
      rows.foreach { case (_, gti, id, lb) =>
        val buf = perDoc.getOrElseUpdate(unpackDoc(id),
          Array.fill(nTok)(Double.PositiveInfinity))
        if (lb < buf(gti - base)) buf(gti - base) = lb
      }
      perDoc.iterator.map { case (doc, buf) =>
        var s = 0.0
        var i = 0
        while (i < nTok) {
          s += (if (buf(i) == Double.PositiveInfinity) est(i) else buf(i))
          i += 1
        }
        (doc, s)
      }.toArray.sortBy(t => (t._2, t._1)).take(docsPerRoot)
        .map { case (doc, s) => (root, qi, doc, s) }
    }.toArray
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
   * Batched MULTI-ROOT MaxSim, the one MaxSim retrieval (the reference's
   * per-token search, doc-keyed merge and `maxsim_refine`, SURVEY §3.3):
   * B query documents x R per-child token indexes (R = 1 for a single
   * token index) answered in TWO flat passes whose job count is CONSTANT
   * in B and R (AQE materializes the rescore's one shuffle stage as its
   * own scheduler job — 3 jobs total, flat).
   *
   *   job 1: [[candidateDocs]] — the best `k * refine` docs per
   *          (query, root) by estimate become rescore candidates, folded
   *          PER DOC across roots (a doc selected by ANY root's estimates
   *          rescores over ALL its stored tokens in every root, so a
   *          cross-root split doc is always scored whole — candidate-
   *          boundary misses are the only estimate effect, never a
   *          token-subset score)
   *   job 2: EXACT rescore of every candidate doc from the indexes' own
   *          stored token vectors (per-root packed-key range predicates
   *          pushed to parquet row groups, the [[coalesceDocRanges]]
   *          machinery), one shuffle with map-side combine scoring every
   *          (query, doc) pair against the root-rotated query tokens
   *
   * Requires homogeneous negdot children sharing the query dim. The
   * exact rescore reads the indexes' own stored vectors, so children
   * must ALSO share storage and store vectors — UNLESS `rerankTable`
   * supplies the original token table `(tokensDf, docCol, vecCol)` (one
   * row per token keyed by doc): then job 2 rescores candidate docs
   * from the SOURCE table against the RAW queries (original-space
   * vectors — rotation and storage are index-internal and irrelevant),
   * which serves codes-only and storage-mixed token children — the
   * rerank-in-table contract the top-k and range batch faces share.
   * Output: (qid, doc, maxsim) — top `k` docs per query ascending
   * (maxsim, doc), exact scores.
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
      graft.core.AnnConf.autoProbes(ix.meta.cfg.lists))
    require(prb.length == idxs.length, "one probe budget per root index")
    val qidArr = queries.map(_._1)
    // driver-pool budget (the serveMaxSimMulti guard, loud): the pooled
    // retrieval collects ≤ roots x totalTokens x kPerToken tuples
    val nTokens = queries.map(_._2.length.toLong).sum
    val maxPool = graft.core.AnnConf(spark).maxsimMaxPoolTuples
    require(idxs.length.toLong * nTokens * kPerToken <= maxPool,
      s"maxsimManyMulti pool budget exceeded: ${idxs.length} roots x " +
      s"$nTokens tokens x $kPerToken > $maxPool " +
      "(graft.ann.maxsim.maxPoolTuples) — lower kPerToken or split the batch")
    // candidacy folds PER DOC (see job 1 above); per-root selections
    // feed the span predicates below
    val candDoc = scala.collection.mutable.HashMap.empty[Long, List[Int]]
    val selByRoot = Array.fill(idxs.length)(
      scala.collection.mutable.HashSet.empty[Long])
    candidateDocs(idxs, queries.map(_._2), k * math.max(refine, 1), kPerToken,
        prb).foreach { case (root, qi, doc, _) =>
      selByRoot(root) += doc
      val cur = candDoc.getOrElse(doc, Nil)
      if (!cur.contains(qi)) candDoc(doc) = qi :: cur
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
    // InternalRow scan (the IvfIndex.rerank pattern): candidate membership checks
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
      val (vecDf, rootOf) = graft.index.IvfIndex.flatAllVecsFor(idxs, Some(pred))
      val scoredRows = org.apache.spark.sql.graft.ColumnBridge
        .toInternalRdd(vecDf)
        .mapPartitions { it =>
          val cands = bCand.value
          it.flatMap { row =>
            val doc = row.getLong(0) >> 16
            cands.get(doc) match {
              case None => Iterator.empty
              case Some(qis) =>
                // root resolved only for MEMBERS (query rotation is per
                // root); non-candidates pay neither the lookup nor decode
                val root = rootOf(row.getString(2))
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
}
