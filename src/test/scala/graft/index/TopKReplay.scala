package graft.index

import graft.core.{RaBitQ, VectorKernels => K}
import org.apache.spark.sql.DataFrame

/** Driver-side replay of the IVF top-k contract for the parity specs in
  * `IvfIndexSpec`: it collects the index's stored rows and recomputes
  * everything the serve does without running any of its jobs. Per
  * query: the probed cells' rows get their RaBitQ lower bound from
  * [[IvfIndex.lbOf]] (query prep, residual and cluster dot computed
  * here), the top `k * refine` (lb, id) pairs form the pool, every
  * scanned row of a pooled id is scored exactly — against the prepped
  * query from the stored vector, or against the raw query from the
  * rerank table — and the best row per id ranks by (dist, id). The
  * rerank scans the union of the batch's probed cells, as the batched
  * serve does. `idPred` replays a key-only prefilter: only rows whose id
  * it passes enter the pool. Unrotated indexes only. [[pool]] is the
  * estimate step alone, for replays of the planner's candidate pools. */
object TopKReplay {
  def topK(idx: IvfIndex, queries: Seq[(Long, Array[Float])], k: Int,
           probes: Int, refine: Int, epsilon: Double = 1.9,
           table: Option[Seq[(Long, Array[Float])]] = None,
           idPred: Long => Boolean = _ => true)
      : Map[Long, Seq[(Long, Double)]] = {
    val cfg = idx.meta.cfg
    val rows = rowsOf(idx)
    val scanned = queries.flatMap { case (_, q) => idx.probe(q, probes) }.toSet
    queries.map { case (qid, q) =>
      val qq = if (cfg.metric == "cosdist") K.normalize(q) else q
      val cand = pool(idx, rows, q, probes, math.max(k * refine, k), epsilon, idPred)
        .map(_._2).toSet
      val scored: Seq[(Long, Double)] = table match {
        case Some(t) =>
          t.filter(r => cand.contains(r._1)).map { case (id, v) =>
            val d = cfg.metric match {
              case "l2"      => K.l2(v, q)
              case "negdot"  => K.negdot(v, q)
              case "cosdist" => K.cosdist(v, q)
            }
            (id, d)
          }
        case None =>
          rows.filter(r => scanned.contains(r.cid) && cand.contains(r.id)).map { r =>
            val d = cfg.metric match {
              case "l2"      => K.l2(r.vec, qq)
              case "negdot"  => K.negdot(r.vec, qq)
              case "cosdist" => 1.0 + K.negdot(r.vec, qq)
            }
            (r.id, d)
          }
      }
      qid -> scored.groupBy(_._1).values.map(_.minBy(t => (t._2, t._1))).toSeq
        .sortBy(t => (t._2, t._1)).take(k)
    }.toMap
  }

  /** Assert a served answer equals the replay: same ids in order,
    * distances within 1e-9. */
  def check(got: Seq[(Long, Double)], want: Seq[(Long, Double)], clue: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$clue: ids ${got.map(_._1)} != ${want.map(_._1)}")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9, s"$clue: dist $a != $b")
    }
  }

  /** Per-qid (id, dist) rows of a searchMany / searchManyMulti frame in
    * rank order. */
  def byQid(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.select("qid", "id", "dist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).map { case (qid, rs) =>
        qid -> rs.sortBy(_._4).map(t => (t._2, t._3)).toSeq
      }

  /** (id, dist) rows of a search frame in output order. */
  def rowsOfSearch(df: DataFrame): Seq[(Long, Double)] =
    df.select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** The estimate pool of one query: the top `nCand` (lb, id) pairs, by
    * (lb, id), of the rows of `idx` (collected by [[rowsOf]]) in its
    * `probes` nearest cells whose id `idPred` passes. */
  def pool(idx: IvfIndex, rows: Seq[Row], q: Array[Float], probes: Int, nCand: Int,
           epsilon: Double = 1.9, idPred: Long => Boolean = _ => true): Seq[(Double, Long)] = {
    val cfg = idx.meta.cfg
    require(!cfg.rotate, "replay covers unrotated indexes")
    val isL2 = cfg.metric == "l2"
    val qq = if (cfg.metric == "cosdist") K.normalize(q) else q
    val probed = idx.probe(q, probes).toSet
    rows.filter(r => probed.contains(r.cid) && idPred(r.id)).map { r =>
      val c = idx.meta.centroids(r.cid)
      val qr =
        if (cfg.residual && isL2) qq.indices.map(j => qq(j) - c(j)).toArray else qq
      val cDot = if (cfg.residual && !isL2) K.dot(qq, c) else 0.0
      val lb = IvfIndex.lbOf(RaBitQ.Code(r.cmeta, r.codes, cfg.bits, idx.meta.dim),
        cfg.bits, idx.meta.dim, isL2, qr, qr.map(_.toDouble).sum, K.normSq(qr), cDot,
        epsilon)
      (lb, r.id)
    }.sorted.take(nCand)
  }

  final case class Row(cid: Int, id: Long, cmeta: Array[Float],
      codes: Array[Byte], vec: Array[Float])

  /** The stored rows of `idx`, with their vectors when it stores them. */
  def rowsOf(idx: IvfIndex): Seq[Row] = {
    val withVec = idx.meta.cfg.storeVectors
    val f16 = idx.meta.cfg.storage == "f16"
    val cols = Seq("cluster_id", "id", "cmeta", "codes") ++ (if (withVec) Seq("vec") else Nil)
    idx.dataDf.select(cols.head, cols.tail: _*).collect().map { r =>
      val vec =
        if (!withVec) null
        else if (f16) graft.core.Half.decodeBytes(r.getAs[Array[Byte]](4))
        else r.getSeq[Float](4).toArray
      Row(r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray,
        r.getAs[Array[Byte]](3), vec)
    }.toSeq
  }
}
