package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{RaBitQ, VectorKernels => K}

/**
 * DiskANN/Vamana-style graph ANN index — the `vchordg` capability
 * (reference: greedy beam search crates/vchordg/src/search.rs:34-140,
 * robust prune crates/vchordg/src/prune.rs:19-72 with ascending alpha
 * passes [1.0, 1.2] and degree cap m=32 per crates/vchordg/src/types.rs:
 * 24-82, insert crates/vchordg/src/insert.rs:34-395, defaults
 * ef_construction=64 / ef_search=64 per src/index/gucs.rs:36-58).
 *
 * Graph traversal is pointer-chasing and inherently sequential, so —
 * exactly as SURVEY §2.4 G1 prescribes — the graph lives in memory and
 * batch queries fan out over executors with the graph BROADCAST; this is
 * the right Spark shape for moderate graph sizes (the billion-scale path
 * in this engine is the IVF index). Build is deterministic: fixed
 * insertion order, deterministic medoid, tie-breaks by id.
 *
 * `bits > 0` stores QUANTIZED vertex codes instead of f32 vectors
 * (reference vchordg scores vertices from RaBitQ codes and reranks,
 * crates/vchordg/src/search.rs:34-60, bits per types.rs:25-45): the
 * broadcast shrinks ~16x at bits=2 and ~32x at bits=1 (the reference's
 * most-compressed tier: dim/8 bytes + 16B metadata vs 4*dim),
 * beam search ranks by code estimates, and `searchBatch(rerankTable=...)`
 * restores exact distances for the ef-bounded candidates in one join —
 * the same estimate-then-rerank economics as the IVF path.
 */
final case class VamanaConfig(
    m: Int = 32,                     // max degree
    efConstruction: Int = 64,
    efSearch: Int = 64,
    alphas: Seq[Double] = Seq(1.0, 1.2),
    metric: String = "l2",
    bits: Int = 0)                   // 0 = f32 vertices; 1|2|4|8 = RaBitQ codes

final class VamanaGraph(
    val ids: Array[Long],
    val vecs: Array[Array[Float]],
    val adj: Array[Array[Int]],
    val medoid: Int,
    val cfg: VamanaConfig,
    val codes: Array[RaBitQ.Code] = null,
    val sourceComplete: Boolean = false) extends Serializable {

  def quantized: Boolean = codes != null

  /** Copy with the source-completeness attestation (did every row of the
    * build source enter the graph? — the planner's license for the bare
    * parquet-pushable candidate IN; see IvfIndex.sourceComplete for the
    * contract). Only the DataFrame build and load can attest; insertAll
    * returns unattested graphs (it receives pre-collected arrays and
    * cannot see rows a caller dropped from the raw batch), vacuum
    * preserves the flag (removing index entries for deleted table rows
    * does not create unindexed null rows). */
  private[index] def attested(b: Boolean): VamanaGraph =
    new VamanaGraph(ids, vecs, adj, medoid, cfg, codes, b)

  /** Approximate broadcast footprint in bytes (ids + vectors-or-codes +
    * adjacency, with per-array header overhead): an O(n) ESTIMATE for
    * budget checks, no serialization pass. */
  def approxBytes: Long = {
    val n = ids.length.toLong
    val vecBytes =
      if (quantized)
        codes.iterator.map(c => 48L + c.codes.length + 4L * c.meta.length).sum
      else vecs.iterator.map(v => 16L + 4L * v.length).sum
    8L * n + vecBytes + adj.iterator.map(a => 16L + 4L * a.length).sum
  }

  private def distFn(a: Array[Float], b: Array[Float]): Double = cfg.metric match {
    case "l2"      => K.l2(a, b)
    case "negdot"  => K.negdot(a, b)
    case "cosdist" => K.cosdist(a, b)
  }

  /** Vertex-to-query scorer: exact kernel, or code-estimate when the
    * graph is quantized (reference O::process on vertex codes). */
  private[index] def mkScorer(q: Array[Float]): Int => Double =
    if (!quantized) { i => distFn(vecs(i), q) }
    else {
      var qSum = 0.0; var qNormSq = 0.0
      var j = 0
      while (j < q.length) { qSum += q(j); qNormSq += q(j).toDouble * q(j); j += 1 }
      cfg.metric match {
        case "l2" => i =>
          math.sqrt(math.max(qNormSq + codes(i).disU2.toDouble -
            2.0 * RaBitQ.estimateDot(codes(i), q, qSum), 0.0))
        case "negdot" => i => -RaBitQ.estimateDot(codes(i), q, qSum)
        case "cosdist" => i => {
          val n = math.sqrt(qNormSq * codes(i).disU2.toDouble)
          if (n == 0.0) 1.0 else 1.0 - RaBitQ.estimateDot(codes(i), q, qSum) / n
        }
      }
    }

  /** Vertex-to-vertex distance: exact, or code-vs-code when quantized
    * (the rabitq operator family) — used by prune during inserts. */
  private[index] def vdist(a: Int, b: Int): Double =
    if (!quantized) distFn(vecs(a), vecs(b))
    else cfg.metric match {
      case "l2"      => RaBitQ.l2QQ(codes(a), codes(b))
      case "negdot"  => RaBitQ.negdotQQ(codes(a), codes(b))
      case "cosdist" => RaBitQ.cosdistQQ(codes(a), codes(b))
    }

  /**
   * Greedy beam search (reference search.rs:34-140): best-first expansion
   * from the medoid with an ef-bounded result set; terminates when the
   * closest unexpanded candidate is worse than the ef-th result. On a
   * quantized graph distances are code ESTIMATES — use
   * `searchBatch(rerankTable=...)` for exact output.
   */
  def search(q: Array[Float], k: Int, ef: Int = -1): Array[(Long, Double)] = {
    val efUse = math.max(if (ef <= 0) cfg.efSearch else ef, k)
    if (ids.isEmpty) return Array.empty
    val score = mkScorer(q)
    val visited = new java.util.HashSet[Integer]()
    // candidates: min-heap by (dist, idx); results: max-heap bounded to ef
    val candOrd = Ordering.by[(Double, Int), (Double, Int)](identity).reverse
    val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(candOrd)
    val resOrd = Ordering.by[(Double, Int), (Double, Int)](identity)
    val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(resOrd)
    val d0 = score(medoid)
    cand.enqueue((d0, medoid)); res.enqueue((d0, medoid)); visited.add(medoid)
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (res.size >= efUse && dc > res.head._1) {
        cand.clear() // early termination (peek_ef_th < dis_c)
      } else {
        adj(c).foreach { n =>
          if (!visited.contains(n)) {
            visited.add(n)
            val dn = score(n)
            if (res.size < efUse || dn < res.head._1 ||
                (dn == res.head._1 && ids(n) < ids(res.head._2))) {
              cand.enqueue((dn, n))
              res.enqueue((dn, n))
              if (res.size > efUse) res.dequeue()
            }
          }
        }
      }
    }
    res.dequeueAll.reverse.toArray
      .map { case (d, i) => (d, ids(i), i) }
      .sortBy(t => (t._1, t._2))
      .take(k)
      .map(t => (t._2, t._1))
  }

  /** ε-scaled LOWER-BOUND scorer for range traversal: on a quantized
    * graph, the code estimate minus `epsilon` times the RaBitQ per-code
    * error bound (the IvfIndex estFrame rule — a vertex is a range
    * CANDIDATE when its lower bound is inside the sphere; the exact
    * rerank applies the strict cutoff). Exact graphs score exactly;
    * epsilon = 0 degrades to the plain estimate. */
  private[index] def mkRangeScorer(q: Array[Float],
      epsilon: Double): Int => Double =
    if (!quantized) { i => distFn(vecs(i), q) }
    else {
      var qSum = 0.0; var qNormSq = 0.0
      var j = 0
      while (j < q.length) { qSum += q(j); qNormSq += q(j).toDouble * q(j); j += 1 }
      val qNorm = math.sqrt(qNormSq)
      val sqrtDim = math.sqrt(q.length.toDouble)
      cfg.metric match {
        case "l2" => i => {
          val (e, err) = RaBitQ.estimateL2s(codes(i), q, qSum, qNormSq)
          math.sqrt(math.max(e - epsilon * err, 0.0))
        }
        case "negdot" => i => {
          val d = RaBitQ.estimateDot(codes(i), q, qSum)
          val err = qNorm * codes(i).scale * sqrtDim
          -d - epsilon * err
        }
        case "cosdist" => i => {
          val n = math.sqrt(qNormSq * codes(i).disU2.toDouble)
          if (n == 0.0) 1.0
          else {
            val d = RaBitQ.estimateDot(codes(i), q, qSum)
            val err = qNorm * codes(i).scale * sqrtDim
            1.0 - (d + epsilon * err) / n
          }
        }
      }
    }

  /** Range traversal (reference vchordg strategy-2 sphere SEARCH:
    * sql/install/vchord--1.1.1.sql:1230-1290 `OPERATOR 2 <<->>
    * (vector, sphere_vector) FOR SEARCH`, served by beam +
    * `take_while(dist < radius)` at
    * src/index/vchordg/scanners/default.rs:108-110,912-913): the greedy
    * beam of [[search]] whose exploration EXPANDS while the frontier
    * stays inside the sphere — the loop keeps expanding a node when it
    * either improves the ef-bounded beam (the top-k descent part, which
    * routes the walk toward the sphere when the entry point is far) OR
    * its (lower-bound) score is inside the radius, so ef acts as the
    * minimum exploration and the in-sphere region is walked exhaustively
    * past it. BEST-EFFORT like the reference: an in-sphere vertex
    * reachable only through out-of-sphere hops beyond the beam can be
    * missed — at ef >= graph size every reachable vertex is visited and
    * the result is exact. Returns (vertexIdx, score) for every visited
    * vertex with score < radius (strict); the result is bounded by the
    * graph size, which is driver-resident by construction. */
  private[index] def rangeBeam(q: Array[Float], radius: Double, ef: Int,
      epsilon: Double): Array[(Int, Double)] = {
    if (ids.isEmpty) return Array.empty
    val efUse = math.max(if (ef <= 0) cfg.efSearch else ef, 1)
    val score = mkRangeScorer(q, epsilon)
    val visited = new java.util.HashSet[Integer]()
    val candOrd = Ordering.by[(Double, Int), (Double, Int)](identity).reverse
    val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(candOrd)
    val resOrd = Ordering.by[(Double, Int), (Double, Int)](identity)
    val beam = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(resOrd)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val d0 = score(medoid)
    cand.enqueue((d0, medoid)); beam.enqueue((d0, medoid)); visited.add(medoid)
    if (d0 < radius) hits += ((medoid, d0))
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      // terminate when the closest unexpanded candidate can neither
      // improve the ef beam nor lie inside the sphere: everything left
      // in the frontier is at least as far
      if (dc >= radius && beam.size >= efUse && dc > beam.head._1) cand.clear()
      else {
        adj(c).foreach { n =>
          if (!visited.contains(n)) {
            visited.add(n)
            val dn = score(n)
            if (dn < radius) hits += ((n, dn))
            if (dn < radius || beam.size < efUse || dn < beam.head._1 ||
                (dn == beam.head._1 && ids(n) < ids(beam.head._2))) {
              cand.enqueue((dn, n))
              beam.enqueue((dn, n))
              if (beam.size > efUse) beam.dequeue()
            }
          }
        }
      }
    }
    hits.toArray
  }

  /** Driver-side range search over this graph: every id whose distance
    * to `q` is STRICTLY under `radius`, best-effort per [[rangeBeam]]
    * (exact at saturating ef on a connected graph). On a QUANTIZED
    * graph the distances are code ESTIMATES and the cutoff is applied
    * to them — refuse unless the caller opts in; the exact form is
    * [[VamanaGraph.rangeSearchManyMulti]] with a `rerankTable`. */
  def rangeSearch(q: Array[Float], radius: Double, ef: Int = -1,
      allowEstimates: Boolean = false): Array[(Long, Double)] = {
    require(!quantized || allowEstimates,
      "rangeSearch on a quantized graph cuts at code-ESTIMATE distances, " +
      "not exact ones: use VamanaGraph.rangeSearchManyMulti(rerankTable=" +
      "...) for an exact strict-< cutoff, or allowEstimates=true to opt in")
    rangeBeam(q, radius, ef, epsilon = 0.0)
      .map { case (i, d) => (ids(i), d) }
      .sortBy(t => (t._2, t._1))
  }

  /** Batch search: queries fan out across executors, graph broadcast.
    * With `rerankTable` the beam's ef-bounded candidates are re-scored
    * EXACTLY from the source table in one join (mandatory economics on a
    * quantized graph, optional belt-and-braces on an exact one).
    * On a QUANTIZED graph a missing `rerankTable` would silently emit
    * code-ESTIMATE distances — the reference always reranks to exact
    * (crates/vchordg/src/search.rs:98-140) — so that combination fails
    * loudly unless the caller opts in with `allowEstimates=true`.
    * Output: (qid, id, dist, rn). */
  def searchBatch(spark: SparkSession, queries: Array[(Long, Array[Float])],
                  k: Int, ef: Int = -1,
                  rerankTable: Option[(DataFrame, String, String)] = None,
                  allowEstimates: Boolean = false): DataFrame = {
    import spark.implicits._
    require(!quantized || rerankTable.nonEmpty || allowEstimates,
      "searchBatch on a quantized graph without rerankTable returns code-ESTIMATE " +
      "distances, not exact ones: pass rerankTable=Some((sourceDf, idCol, vecCol)) " +
      "to rerank exactly (reference semantics), or allowEstimates=true to opt in")
    if (queries.isEmpty)
      return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "id", "dist", "rn")
    val bg = spark.sparkContext.broadcast(this)
    rerankTable match {
      case None =>
        spark.sparkContext.parallelize(queries.toSeq, math.min(queries.length, 32))
          .flatMap { case (qid, q) =>
            bg.value.search(q, k, ef).zipWithIndex.map { case ((id, d), i) =>
              (qid, id, d, (i + 1).toLong)
            }
          }
          .toDF("qid", "id", "dist", "rn")
      case Some((src, idCol, vecCol)) =>
        // job 1: beam per query, keep the FULL ef candidate pool
        val efUse = math.max(if (ef <= 0) cfg.efSearch else ef, k)
        val candPairs = spark.sparkContext
          .parallelize(queries.toSeq, math.min(queries.length, 32))
          .flatMap { case (qid, q) =>
            bg.value.search(q, efUse, efUse).map { case (id, _) => (qid, id) }
          }.collect()
        val qById = queries.toMap
        val idToQ = candPairs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        val bIdToQ = spark.sparkContext.broadcast(idToQ)
        val bQs = spark.sparkContext.broadcast(qById)
        val metric = cfg.metric
        // job 2: exact distances for candidate rows only
        val candIds = candPairs.map(_._2).distinct.toSeq
        val scored = src
          .join(broadcast(candIds.toDF("__cand_id")),
            col(idCol).cast("long") === col("__cand_id"))
          .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            val kern: (Array[Float], Array[Float]) => Double = metric match {
              case "l2"      => K.l2
              case "negdot"  => K.negdot
              case "cosdist" => K.cosdist
            }
            bIdToQ.value.getOrElse(id, Array.empty[Long]).toSeq
              .map(qid => (qid, id, kern(v, bQs.value(qid))))
          }.collect()
        val out = scored.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.map(r => (r._3, r._2)).sorted.take(k).zipWithIndex
            .map { case ((d, id), i) => (qid, id, d, (i + 1).toLong) }
        }
        out.toDF("qid", "id", "dist", "rn")
    }
  }

  def degreeStats: (Int, Double) = {
    if (adj.isEmpty) return (0, 0.0)
    val degs = adj.map(_.length)
    (degs.max, degs.sum.toDouble / degs.length)
  }

  /** Broadcast payload bytes of the vertex store (vectors or codes) —
    * what the quantized tier shrinks. */
  def vertexBytes: Long =
    if (quantized) codes.map(c => c.codes.length.toLong + 16L).sum
    else vecs.map(_.length.toLong * 4L).sum

  /**
   * Incremental insert (reference `aminsert`, crates/vchordg/src/
   * insert.rs:34-395): new vertices beam-search the LIVE graph for their
   * neighborhoods and link bidirectionally with overflow re-prune — the
   * existing graph is reused, not rebuilt, so cost is O(batch * search)
   * instead of O(n * search). Returns a NEW graph (this one is untouched).
   */
  def insertAll(rows: Array[(Long, Array[Float])]): VamanaGraph = {
    if (rows.isEmpty) return this
    require(rows.map(_._1).distinct.length == rows.length, "duplicate ids in insert batch")
    // first insert into an empty graph = the initial build (no medoid to
    // beam from yet); batch validation above still applies
    if (ids.isEmpty) return VamanaGraph.build(rows.map(_._1), rows.map(_._2), cfg)
    rows.foreach { case (id, _) =>
      require(java.util.Arrays.binarySearch(ids, id) < 0, s"id $id already in graph")
    }
    // merge keeping canonical ascending-id order; remap old adjacency
    val newSorted = rows.sortBy(_._1)
    val n0 = ids.length
    val n2 = n0 + newSorted.length
    val ids2 = new Array[Long](n2)
    val vecs2 = if (quantized) Array.empty[Array[Float]] else new Array[Array[Float]](n2)
    val codes2 = if (quantized) new Array[RaBitQ.Code](n2) else null
    val oldToNew = new Array[Int](n0)
    val isNew = new Array[Boolean](n2)
    var oi = 0; var ni = 0; var w = 0
    while (w < n2) {
      val takeNew = oi >= n0 || (ni < newSorted.length && newSorted(ni)._1 < ids(oi))
      if (takeNew) {
        ids2(w) = newSorted(ni)._1
        if (quantized) codes2(w) = RaBitQ.quantize(newSorted(ni)._2, cfg.bits)
        else vecs2(w) = newSorted(ni)._2
        isNew(w) = true
        ni += 1
      } else {
        ids2(w) = ids(oi)
        if (quantized) codes2(w) = codes(oi) else vecs2(w) = vecs(oi)
        oldToNew(oi) = w
        oi += 1
      }
      w += 1
    }
    val adjBuf = Array.fill(n2)(scala.collection.mutable.ArrayBuffer[Int]())
    val adjView = new Array[Array[Int]](n2)
    var i = 0
    while (i < n0) {
      val mapped = adj(i).map(oldToNew)
      adjBuf(oldToNew(i)) ++= mapped
      adjView(oldToNew(i)) = mapped
      i += 1
    }
    (0 until n2).foreach(j => if (adjView(j) == null) adjView(j) = Array.empty)
    val g2 = new VamanaGraph(ids2, vecs2, adjView, oldToNew(medoid), cfg, codes2)
    // pending (merged-index order) and newSorted (id order) align: both
    // ascend by id, so the j-th pending vertex is newSorted(j) — its RAW
    // vector drives the insert search even on a quantized graph
    val pending = (0 until n2).filter(isNew).toArray
    VamanaGraph.runInsertion(g2, adjBuf, adjView, pending, pos => newSorted(pos)._2)
    // runInsertion mutates adjBuf/adjView; materialize the final adjacency
    new VamanaGraph(ids2, vecs2, adjBuf.map(_.toArray), oldToNew(medoid), cfg, codes2)
  }

  def save(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    if (!quantized)
      ids.indices.map(i => (ids(i), vecs(i).toSeq, adj(i).map(ids).toSeq))
        .toDF("id", "vec", "neighbors")
        .write.mode("overwrite").parquet(s"$dir/graph")
    else
      ids.indices.map(i => (ids(i), codes(i).meta.toSeq, codes(i).codes, adj(i).map(ids).toSeq))
        .toDF("id", "cmeta", "codes", "neighbors")
        .write.mode("overwrite").parquet(s"$dir/graph")
    // dim is persisted explicitly: recovering it from packed code byte
    // length is ambiguous for dims the bit width does not divide evenly
    // (bits=2 packs 4/byte, so 10-dim and 12-dim codes are byte-identical
    // in length). -1 marks the empty graph (dim unknown AND unneeded).
    val dimVal =
      if (ids.isEmpty) -1 else if (quantized) codes(0).dim else vecs(0).length
    val medoidId = if (ids.isEmpty) -1L else ids(medoid)
    Seq((cfg.m, cfg.efConstruction, cfg.efSearch, cfg.alphas.mkString(","),
        cfg.metric, medoidId, cfg.bits, dimVal, sourceComplete))
      .toDF("m", "ef_construction", "ef_search", "alphas", "metric",
        "medoid_id", "bits", "dim", "source_complete")
      .write.mode("overwrite").parquet(s"$dir/config")
  }
}

object VamanaGraph {

  /** Batched MULTI-GRAPH search — the graph-tier analogue of
    * [[IvfIndex.searchManyMulti]] and the amortized form of the planner's
    * partitioned-graph serve (AnnTopKRewrite.serveGraphMulti, reference
    * partition.slt semantics over per-child vchordg indexes): B queries x
    * R driver-resident graphs. Beams fan out over executors (queries
    * parallelize, the graph set broadcasts once — the searchBatch
    * economics times R); per (query, graph) the candidate budget matches
    * the planner serve (k on exact graphs; the full ef pool on quantized
    * ones, whose code estimates the exact phase corrects). Ids colliding
    * across graphs fold to one slot with their best distance (the
    * searchManyMulti output contract). With `rerankTable` the pooled
    * candidates re-score EXACTLY from the source table in ONE join for
    * the whole batch — mandatory on quantized graphs unless
    * `allowEstimates=true` (the searchBatch rule). Output
    * (qid, id, dist, rn). */
  def searchManyMulti(spark: SparkSession, graphs: Seq[VamanaGraph],
                      queries: Array[(Long, Array[Float])], k: Int,
                      ef: Int = -1,
                      rerankTable: Option[(DataFrame, String, String)] = None,
                      allowEstimates: Boolean = false): DataFrame = {
    import spark.implicits._
    require(graphs.nonEmpty, "no graphs")
    require(queries.nonEmpty, "empty query batch")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate qids in query batch — results would silently merge")
    val anyQuantized = graphs.exists(_.quantized)
    require(!anyQuantized || rerankTable.nonEmpty || allowEstimates,
      "searchManyMulti over quantized graphs without rerankTable returns " +
      "code-ESTIMATE distances, not exact ones: pass " +
      "rerankTable=Some((sourceDf, idCol, vecCol)) to rerank exactly, " +
      "or allowEstimates=true to opt in")
    val metrics = graphs.map(_.cfg.metric).distinct
    require(metrics.length == 1,
      s"searchManyMulti requires one metric across graphs, got $metrics — " +
      "distances under different metrics cannot merge into one top-k")
    // driver-pool budget, the no-silent-caps rule (the searchManyMulti
    // guard): the beam fan-out collects up to B x sum-of-per-graph
    // budgets candidate rows — refuse loudly instead of OOMing
    val conf = graft.core.AnnConf(spark)
    val maxPool = conf.batchMaxPoolTuples
    val perGraphBudget = graphs.map { g =>
      val efUse = math.max(if (ef <= 0) g.cfg.efSearch else ef, k)
      if (g.quantized || rerankTable.nonEmpty) efUse.toLong else k.toLong
    }.sum
    require(queries.length.toLong * perGraphBudget <= maxPool,
      s"graph searchManyMulti pool budget exceeded: ${queries.length} " +
      s"queries x $perGraphBudget summed per-graph candidates > $maxPool " +
      "(graft.ann.batch.maxPoolTuples) — lower ef or split the batch")
    // BROADCAST byte budget (the no-silent-caps rule): R driver-tier
    // graphs ship to every executor as ONE broadcast value — estimate
    // the footprint and refuse loudly past the cap instead of stalling
    // the fan-out on a multi-GB torrent or OOMing executors
    val maxBytes = conf.graphBatchMaxBroadcastBytes
    val totBytes = graphs.map(_.approxBytes).sum
    require(totBytes <= maxBytes,
      s"graph searchManyMulti broadcast budget exceeded: ${graphs.length} " +
      s"graphs ~ $totBytes bytes > $maxBytes " +
      "(graft.ann.graph.batch.maxBroadcastBytes) — split the batch by " +
      "graph, serve this tier from ShardedVamana, or raise the conf on " +
      "a big-memory cluster")
    val bgs = spark.sparkContext.broadcast(graphs.toIndexedSeq)
    val rerank = rerankTable.nonEmpty
    val kArg = k
    // job 1: beams fan out per query; each task runs its query against
    // EVERY graph — per-graph budget k (exact) or the ef pool (quantized,
    // or any rerank: the wider pool only helps the exact phase)
    val candRows: Array[(Long, Long, Double)] = spark.sparkContext
      .parallelize(queries.toSeq, math.min(queries.length, 32))
      .flatMap { case (qid, q) =>
        bgs.value.iterator.flatMap { g =>
          val efUse = math.max(if (ef <= 0) g.cfg.efSearch else ef, kArg)
          val kCand = if (g.quantized || rerank) efUse else kArg
          g.search(q, kCand, efUse).iterator.map { case (id, d) => (qid, id, d) }
        }
      }.collect()
    rerankTable match {
      case None =>
        // beam distances are exact on unquantized graphs (estimates only
        // under allowEstimates): fold per (qid, id) to the best distance
        // and take k — zero further Spark work
        val out = candRows.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.groupBy(_._2).valuesIterator
            .map(dups => dups.minBy(r => (r._3, r._2)))
            .map(r => (r._3, r._2)).toSeq
            .sorted.take(kArg).zipWithIndex
            .map { case ((d, id), i) => (qid, id, d, (i + 1).toLong) }
        }
        out.toDF("qid", "id", "dist", "rn")
      case Some((src, idCol, vecCol)) =>
        // job 2: ONE exact pass over the batch's pooled candidates from
        // the source table (original vectors, raw queries)
        val qById = queries.toMap
        val idToQ = candRows.map(t => (t._1, t._2)).distinct
          .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        val bIdToQ = spark.sparkContext.broadcast(idToQ)
        val bQs = spark.sparkContext.broadcast(qById)
        val metric = metrics.head
        val candIds = idToQ.keysIterator.toSeq
        val scored = src
          .join(broadcast(candIds.toDF("__cand_id")),
            col(idCol).cast("long") === col("__cand_id"))
          .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            val kern: (Array[Float], Array[Float]) => Double = metric match {
              case "l2"      => K.l2
              case "negdot"  => K.negdot
              case "cosdist" => K.cosdist
            }
            bIdToQ.value.getOrElse(id, Array.empty[Long]).toSeq
              .map(qid => (qid, id, kern(v, bQs.value(qid))))
          }.collect()
        // fold per (qid, id) to the BEST distance — mirroring the
        // no-rerank branch: a source table holding two rows for one id
        // (append-without-delete) must not let that id occupy two of the
        // k slots
        val out = scored.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.groupBy(_._2).valuesIterator
            .map(dups => dups.minBy(r => (r._3, r._2)))
            .map(r => (r._3, r._2)).toSeq
            .sorted.take(kArg).zipWithIndex
            .map { case ((d, id), i) => (qid, id, d, (i + 1).toLong) }
        }
        out.toDF("qid", "id", "dist", "rn")
    }
  }

  /** Batched MULTI-GRAPH range search — the graph-tier analogue of
    * [[IvfIndex.rangeSearchManyMulti]] and the strategy-2 sibling of
    * [[searchManyMulti]] (reference vchordg sphere SEARCH operators,
    * sql/install/vchord--1.1.1.sql:1230-1290, beam +
    * `take_while(dist < radius)` at
    * src/index/vchordg/scanners/default.rs:108-110,912-913): B (qid,
    * center, radius) queries x R driver-resident graphs, beams fanning
    * out over executors with the graph set broadcast once. BEST-EFFORT
    * like the reference — an in-sphere vertex reachable only through
    * out-of-sphere hops beyond the beam can be missed; at ef >= graph
    * size the walk is exhaustive and the result exact (the
    * completeness-guaranteed tier is an IVF registration,
    * `IvfIndex.rangeSearchManyMulti`). On quantized graphs candidates
    * collect by ε-scaled code LOWER bound and one exact pass over the
    * pooled candidates applies the strict-< cutoff (`rerankTable`
    * mandatory unless `allowEstimates=true`, the searchManyMulti rule).
    * Per-query candidate pools are bounded LOUDLY by
    * `graft.ann.batch.maxPoolTuples` (shared with the top-k faces).
    * Output: (qid, id, dist), dist strictly < the query's radius. */
  def rangeSearchManyMulti(spark: SparkSession, graphs: Seq[VamanaGraph],
      queries: Array[(Long, Array[Float], Double)], ef: Int = -1,
      epsilon: Double = 1.9,
      rerankTable: Option[(DataFrame, String, String)] = None,
      allowEstimates: Boolean = false): DataFrame = {
    import spark.implicits._
    require(graphs.nonEmpty, "no graphs")
    require(queries.nonEmpty, "empty query batch")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate qids in query batch — results would silently merge")
    val anyQuantized = graphs.exists(_.quantized)
    require(!anyQuantized || rerankTable.nonEmpty || allowEstimates,
      "rangeSearchManyMulti over quantized graphs without rerankTable " +
      "cuts at code-ESTIMATE distances, not exact ones: pass " +
      "rerankTable=Some((sourceDf, idCol, vecCol)) for the exact " +
      "strict-< cutoff, or allowEstimates=true to opt in")
    val metrics = graphs.map(_.cfg.metric).distinct
    require(metrics.length == 1,
      s"rangeSearchManyMulti requires one metric across graphs, got " +
      s"$metrics — sphere membership under different metrics cannot merge")
    val conf = graft.core.AnnConf(spark)
    val maxBytes = conf.graphBatchMaxBroadcastBytes
    val totBytes = graphs.map(_.approxBytes).sum
    require(totBytes <= maxBytes,
      s"graph rangeSearchManyMulti broadcast budget exceeded: " +
      s"${graphs.length} graphs ~ $totBytes bytes > $maxBytes " +
      "(graft.ann.graph.batch.maxBroadcastBytes) — split the batch by " +
      "graph or serve this tier from ShardedVamana")
    // per-QUERY pool budget (the no-silent-caps rule): a range hit set is
    // data-dependent — a sphere covering the whole corpus yields O(N)
    // rows per query — so the bound is enforced INSIDE the task, loudly,
    // instead of silently truncating the sphere
    val maxPool = conf.batchMaxPoolTuples
    val perQueryBudget = math.max(1L, maxPool / queries.length)
    val bgs = spark.sparkContext.broadcast(graphs.toIndexedSeq)
    val rerank = rerankTable.nonEmpty
    val efArg = ef
    val epsArg = epsilon
    // job 1: beams fan out per query against EVERY graph; quantized
    // graphs under a rerank widen membership to the ε lower bound (the
    // exact pass below re-tightens), estimate-cut otherwise
    val candRows: Array[(Long, Long, Double)] = spark.sparkContext
      .parallelize(queries.toSeq, math.min(queries.length, 32))
      .flatMap { case (qid, q, r) =>
        val hits = bgs.value.iterator.flatMap { g =>
          val eps = if (g.quantized && rerank) epsArg else 0.0
          g.rangeBeam(q, r, efArg, eps).iterator
            .map { case (i, d) => (qid, g.ids(i), d) }
        }.toArray
        require(hits.length <= perQueryBudget,
          s"graph range pool budget exceeded: query $qid matched " +
          s"${hits.length} candidates > $perQueryBudget " +
          "(graft.ann.batch.maxPoolTuples / batch size) — shrink the " +
          "radius, split the batch, or raise the conf")
        hits.iterator
      }.collect()
    rerankTable match {
      case None =>
        // scores are exact on unquantized graphs (estimates only under
        // allowEstimates) and already strictly inside each radius: fold
        // cross-graph duplicates to their best distance
        val out = candRows.groupBy(t => (t._1, t._2)).valuesIterator
          .map(dups => dups.minBy(_._3)).toSeq
        out.toDF("qid", "id", "dist")
      case Some((src, idCol, vecCol)) =>
        // job 2: ONE exact pass over the batch's pooled candidates from
        // the source table, strict-< cutoff per query radius
        val qById = queries.iterator.map(t => (t._1, (t._2, t._3))).toMap
        val idToQ = candRows.map(t => (t._1, t._2)).distinct
          .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        val bIdToQ = spark.sparkContext.broadcast(idToQ)
        val bQs = spark.sparkContext.broadcast(qById)
        val metric = metrics.head
        val candIds = idToQ.keysIterator.toSeq
        val scored = src
          .join(broadcast(candIds.toDF("__cand_id")),
            col(idCol).cast("long") === col("__cand_id"))
          .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            val kern: (Array[Float], Array[Float]) => Double = metric match {
              case "l2"      => K.l2
              case "negdot"  => K.negdot
              case "cosdist" => K.cosdist
            }
            bIdToQ.value.getOrElse(id, Array.empty[Long]).toSeq.flatMap { qid =>
              val (q, r) = bQs.value(qid)
              val d = kern(v, q)
              if (d < r) Some((qid, id, d)) else None
            }
          }.collect()
        // fold per (qid, id) to the best distance — a source table
        // holding two rows for one id must not emit the id twice
        val out = scored.groupBy(t => (t._1, t._2)).valuesIterator
          .map(dups => dups.minBy(_._3)).toSeq
        out.toDF("qid", "id", "dist")
    }
  }

  /** Build from a DataFrame — collects vectors (moderate-scale index; see
    * class doc) and runs the deterministic batch Vamana construction.
    *
    * The collect is CAPPED and fails loudly past `maxRows`: a silent
    * limit() would quietly index a subset while callers still expect
    * whole-table search, and an uncapped collect OOMs the driver with no
    * explanation. The cap reads at most maxRows+1 rows (no extra count
    * job, no full materialization of an oversized table). */
  def build(df: DataFrame, idCol: String, vecCol: String,
            cfg: VamanaConfig = VamanaConfig(), maxRows: Int = 200000): VamanaGraph = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL vectors never enter the graph (reference: NULL rows are absent
    // from the AM — tests/general/issue_427.slt builds vchordg over an
    // all-NULL column; the resulting EMPTY graph serves empty results and
    // bootstraps on the first insert)
    val rows = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol))
      .limit(maxRows + 1)
      .as[(Long, Seq[Float])].collect()
    require(rows.length <= maxRows,
      s"graph index build exceeds the driver-build cap $maxRows rows: " +
      "use the IVF index for this tier, build a quantized graph " +
      "(VamanaConfig(bits=2)) from a dedicated pipeline, or raise maxRows " +
      "explicitly")
    // source completeness (round 17, IvfIndex.sourceComplete analog):
    // one count job over the source frame — equal counts mean the null
    // filter dropped nothing and served top-k plans may keep the bare
    // parquet-pushable candidate IN
    val srcCount = df.count()
    val sorted = rows.sortBy(_._1)
    build(sorted.map(_._1), sorted.map(_._2.toArray), cfg)
      .attested(srcCount == rows.length)
  }

  /** Robust prune (reference prune.rs:19-72): ascending alpha passes; a
    * candidate survives if no already-kept neighbor dominates it:
    * alpha * d(kept, cand) < d(point, cand). */
  private def robustPrune(g: VamanaGraph, p: Int, candidates: Seq[Int]): Array[Int] = {
    val cfg = g.cfg
    val pool = candidates.distinct.filter(_ != p)
      .map(c => (g.vdist(p, c), c)).sortBy(identity)
    val kept = scala.collection.mutable.ArrayBuffer[(Double, Int)]()
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    for (alpha <- cfg.alphas if kept.length < cfg.m) {
      var i = 0
      while (i < remaining.length && kept.length < cfg.m) {
        val (dc, c) = remaining(i)
        val dominated = kept.exists { case (_, kIdx) => alpha * g.vdist(kIdx, c) < dc }
        if (!dominated) {
          kept += ((dc, c))
          remaining.remove(i)
        } else i += 1
      }
    }
    kept.map(_._2).toArray
  }

  /** Deterministic parallel insertion in doubling batches: every batch
    * searches against the adjacency frozen at batch start (driver cores in
    * parallel — the batch analogue of the reference's parallel build
    * workers, am/am_build.rs:611-1080), then links sequentially in fixed
    * index order. Mutates `adjBuf`/`adjView` in place. `queryOf` supplies
    * the RAW insert vector on a quantized graph (scoring new points via
    * their float vector keeps insert search quality; `null` falls back to
    * the stored vertex). */
  private[index] def runInsertion(g: VamanaGraph,
      adjBuf: Array[scala.collection.mutable.ArrayBuffer[Int]],
      adjView: Array[Array[Int]], pending: Array[Int],
      queryOf: Int => Array[Float] = _ => null): Unit = {
    val cfg = g.cfg
    val ids = g.ids
    def searchIdx(q: Array[Float], self: Int, ef: Int): Seq[Int] = {
      val qq = if (q != null) q else g.vecs(self)
      g.search(qq, ef, ef).map { case (id, _) =>
        java.util.Arrays.binarySearch(ids, id)
      }.filter(_ >= 0).toSeq
    }
    // backlink slack: let a neighbor list grow to 1.5m before re-pruning
    // (re-prune is the expensive O(cap^2) step; amortizing it is the
    // standard DiskANN batch-build move). The caller restores the hard cap.
    val cap = cfg.m + cfg.m / 2
    var start = 0
    var built = math.max(g.adj.count(_.nonEmpty), 1)
    while (start < pending.length) {
      val batch = math.min(built, pending.length - start)
      val idxs = java.util.Arrays.copyOfRange(pending, start, start + batch)
      val found = new Array[Seq[Int]](batch)
      java.util.stream.IntStream.range(0, batch).parallel().forEach { bi =>
        found(bi) = searchIdx(queryOf(start + bi), idxs(bi), cfg.efConstruction)
      }
      var bi = 0
      while (bi < batch) {
        val i = idxs(bi)
        val newNbrs = robustPrune(g, i, found(bi))
        adjBuf(i).clear()
        adjBuf(i) ++= newNbrs
        adjView(i) = newNbrs
        newNbrs.foreach { nb =>
          if (!adjBuf(nb).contains(i)) {
            adjBuf(nb) += i
            if (adjBuf(nb).length > cap) {
              val pruned = robustPrune(g, nb, adjBuf(nb).toSeq)
              adjBuf(nb).clear()
              adjBuf(nb) ++= pruned
            }
            adjView(nb) = adjBuf(nb).toArray
          }
        }
        bi += 1
      }
      start += batch
      built += batch
    }
    // restore the degree-cap invariant (m) everywhere
    var v = 0
    while (v < adjBuf.length) {
      if (adjBuf(v).length > cfg.m) {
        val pruned = robustPrune(g, v, adjBuf(v).toSeq)
        adjBuf(v).clear()
        adjBuf(v) ++= pruned
        adjView(v) = adjBuf(v).toArray
      }
      v += 1
    }
  }

  def build(ids0: Array[Long], vecs0: Array[Array[Float]], cfg: VamanaConfig): VamanaGraph = {
    require(cfg.bits == 0 || cfg.bits == 1 || cfg.bits == 2 || cfg.bits == 4 ||
        cfg.bits == 8,
      s"bits must be 0 (exact) or 1|2|4|8, got ${cfg.bits}")
    // empty graph (issue_427: CREATE INDEX on an all-NULL column): search
    // returns no rows (beam guards ids.isEmpty); the first insertAll
    // bootstraps a real build
    if (ids0.isEmpty)
      return new VamanaGraph(Array.empty, Array.empty, Array.empty, -1, cfg,
        if (cfg.bits > 0) Array.empty[RaBitQ.Code] else null)
    // canonical ascending-id order (search uses binarySearch on ids)
    val order = ids0.indices.sortBy(ids0)
    val ids = order.map(ids0).toArray
    val vecs = order.map(vecs0).toArray
    val n = ids.length
    // deterministic medoid: point nearest the mean
    val dim = vecs(0).length
    val mean = {
      val s = new Array[Double](dim)
      vecs.foreach { v => var j = 0; while (j < dim) { s(j) += v(j); j += 1 } }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) { out(j) = (s(j) / n).toFloat; j += 1 }
      out
    }
    val medoid = vecs.indices.minBy(i => (K.l2s(vecs(i), mean), i))
    // BUILD always runs on full f32 vectors (the reference also builds
    // from raw vectors and stores codes); quantization happens at the end
    val adjBuf = Array.fill(n)(scala.collection.mutable.ArrayBuffer[Int]())
    val adjView: Array[Array[Int]] = Array.fill(n)(Array.empty[Int])
    val buildGraph = new VamanaGraph(ids, vecs, adjView, medoid, cfg.copy(bits = 0))
    val pending = (0 until n).filter(_ != medoid).toArray
    runInsertion(buildGraph, adjBuf, adjView, pending)
    val adj = adjBuf.map(_.toArray)
    if (cfg.bits == 0) new VamanaGraph(ids, vecs, adj, medoid, cfg)
    else {
      val codes = vecs.map(RaBitQ.quantize(_, cfg.bits))
      // vectors are DROPPED: the broadcast carries codes + metadata only
      new VamanaGraph(ids, Array.empty, adj, medoid, cfg, codes)
    }
  }

  def load(spark: SparkSession, dir: String): VamanaGraph = {
    import spark.implicits._
    val cfgDf = spark.read.parquet(s"$dir/config")
    val withBits =
      if (cfgDf.columns.contains("bits")) cfgDf
      else cfgDf.withColumn("bits", lit(0))
    // pre-round-6 dirs carry no dim column: -1 triggers the byte-length
    // fallback below (exact only where the bit width divides the dim)
    val withDim =
      if (withBits.columns.contains("dim")) withBits
      else withBits.withColumn("dim", lit(-1))
    // pre-round-17 dirs never measured completeness -> false
    val withComplete =
      if (withDim.columns.contains("source_complete")) withDim
      else withDim.withColumn("source_complete", lit(false))
    val (m, efc, efs, alphas, metric, medoidId, bits, dimCfg, srcComplete) =
      withComplete.select("m", "ef_construction", "ef_search", "alphas", "metric",
          "medoid_id", "bits", "dim", "source_complete")
        .as[(Int, Int, Int, String, String, Long, Int, Int, Boolean)].head()
    val cfg = VamanaConfig(m, efc, efs, alphas.split(",").map(_.toDouble).toSeq, metric, bits)
    // explicit read schemas: an EMPTY graph's save writes no part files,
    // and a schema-inferred read would fail on the fileless directory
    import org.apache.spark.sql.types._
    if (bits == 0) {
      val rows = spark.read.schema(StructType(Seq(
          StructField("id", LongType),
          StructField("vec", ArrayType(FloatType)),
          StructField("neighbors", ArrayType(LongType)))))
        .parquet(s"$dir/graph")
        .as[(Long, Seq[Float], Seq[Long])].collect().sortBy(_._1)
      if (rows.isEmpty)
        return new VamanaGraph(Array.empty, Array.empty, Array.empty, -1, cfg)
      val ids = rows.map(_._1)
      val idToIdx = ids.zipWithIndex.toMap
      new VamanaGraph(ids, rows.map(_._2.toArray),
        rows.map(_._3.flatMap(idToIdx.get).toArray), idToIdx(medoidId), cfg,
        null, srcComplete)
    } else {
      val rows = spark.read.schema(StructType(Seq(
          StructField("id", LongType),
          StructField("cmeta", ArrayType(FloatType)),
          StructField("codes", BinaryType),
          StructField("neighbors", ArrayType(LongType)))))
        .parquet(s"$dir/graph")
        .select("id", "cmeta", "codes", "neighbors")
        .as[(Long, Seq[Float], Array[Byte], Seq[Long])].collect().sortBy(_._1)
      if (rows.isEmpty)
        return new VamanaGraph(Array.empty, Array.empty, Array.empty, -1, cfg,
          Array.empty[RaBitQ.Code])
      val dim =
        if (dimCfg > 0) dimCfg
        // legacy fallback for dirs saved before dim was persisted: bits=1
        // recovers exactly from cmeta (normOfLattice = sqrt(dim) on the
        // +-1 lattice); wider bits only from packed byte length, which is
        // exact only when the width divides the dim
        else if (bits == 1) math.round(
          rows.head._2(1).toDouble * rows.head._2(1).toDouble).toInt
        else {
          val c = rows.head._3.length
          if (bits == 8) c else if (bits == 4) c * 2 else c * 4
        }
      val ids = rows.map(_._1)
      val idToIdx = ids.zipWithIndex.toMap
      val codes = rows.map(r => RaBitQ.Code(r._2.toArray, r._3, bits, dim))
      new VamanaGraph(ids, Array.empty,
        rows.map(_._4.flatMap(idToIdx.get).toArray), idToIdx(medoidId), cfg,
        codes, srcComplete)
    }
  }

  /** Full-rebuild vacuum: drop vertices and reconstruct from raw vectors.
    * Requires an exact graph (a quantized one has no raw vectors); for the
    * quantized tier — or to avoid the O(n) rebuild — use [[vacuum]]. */
  def deleteAndRebuild(g: VamanaGraph, dead: Set[Long]): VamanaGraph = {
    require(!g.quantized,
      "deleteAndRebuild needs raw vectors: on a quantized graph use " +
      "VamanaGraph.vacuum (in-place relink through dead vertices)")
    val keep = g.ids.indices.filter(i => !dead.contains(g.ids(i)))
    build(keep.map(g.ids).toArray, keep.map(g.vecs).toArray, g.cfg)
      .attested(g.sourceComplete) // delete preserves (as vacuum)
  }

  /** In-place vacuum (reference G4, crates/vchordg/src/maintain.rs:38-227
    * + bulkdelete.rs:24-94): every live vertex that pointed at a dead one
    * RELINKS through it — candidates = its surviving neighbors plus the
    * dead neighbor's surviving neighbors, robust-pruned — then dead
    * vertices are compacted out. Needs only vertex-to-vertex distances,
    * which [[VamanaGraph.vdist]] serves from codes too, so THIS is the
    * delete path for the quantized tier (the memory-efficient tier has no
    * raw vectors to rebuild from). Cost: O(touched vertices * prune),
    * not O(n * search) like a rebuild. */
  def vacuum(g: VamanaGraph, dead: Set[Long]): VamanaGraph = {
    if (dead.isEmpty) return g
    val n = g.ids.length
    val isDead = g.ids.map(dead.contains)
    val adj2 = new Array[Array[Int]](n)
    var p = 0
    while (p < n) {
      if (!isDead(p)) {
        val nbrs = g.adj(p)
        if (nbrs.exists(isDead)) {
          // one hop through each dead neighbor, order-stable, then prune
          val cand = scala.collection.mutable.LinkedHashSet[Int]()
          nbrs.foreach { nb =>
            if (!isDead(nb)) cand += nb
            else g.adj(nb).foreach(nn => if (!isDead(nn) && nn != p) cand += nn)
          }
          adj2(p) = robustPrune(g, p, cand.toSeq)
        } else adj2(p) = nbrs
      }
      p += 1
    }
    val keep = (0 until n).filter(i => !isDead(i)).toArray
    // vacuuming every vertex leaves the EMPTY graph (the reference's
    // bulkdelete of all rows leaves a servable empty index), which the
    // next insertAll re-bootstraps
    if (keep.isEmpty)
      return new VamanaGraph(Array.empty, Array.empty, Array.empty, -1, g.cfg,
        if (g.quantized) Array.empty[RaBitQ.Code] else null, g.sourceComplete)
    val old2new = Array.fill(n)(-1)
    keep.zipWithIndex.foreach { case (o, nw) => old2new(o) = nw }
    val ids2 = keep.map(g.ids)
    val vecs2 = if (g.quantized) Array.empty[Array[Float]] else keep.map(g.vecs)
    val codes2 = if (g.quantized) keep.map(g.codes) else null
    val adj3 = keep.map(o => adj2(o).collect { case x if old2new(x) >= 0 => old2new(x) })
    val medoid2 =
      if (!isDead(g.medoid)) old2new(g.medoid)
      else old2new(keep.minBy(i => (g.vdist(g.medoid, i), g.ids(i))))
    new VamanaGraph(ids2, vecs2, adj3, medoid2, g.cfg, codes2, g.sourceComplete)
  }
}
