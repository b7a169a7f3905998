package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.ops.Dedup
import graft.perfbench.Workload.timedMs

/**
 * dedup_curate: one op is a full near-duplicate pass over a seeded corpus
 * with planted duplicate groups and decoys: `Dedup.minhashDedup` ->
 * `components` -> `dedupeFromLabels`, each materialized. Quality is scored
 * against the planted groups: pair recall and pair precision of the
 * components.
 *
 * Copies replace 2-5 words of their base, for a Jaccard of 0.56-0.82
 * against the 0.5 threshold. MinHash LSH (16 bands of 4) finds a pair of
 * Jaccard J with probability 1 - (1 - J^4)^16, about 0.8 at J = 0.56, so
 * the copies nearest the threshold are found only most of the time and a
 * coarser or cheaper candidate step shows as lost recall. Decoys replace
 * 8 words (Jaccard 0.38-0.45): a pass that joins them loses precision.
 */
final class DedupCurate extends Workload {
  val name = "dedup_curate"
  val threshold = 0.5
  private val nDocs = 10000

  val setupRepeats = 5
  val minOps = 1
  val mix = Map("pass" -> 1.0)
  val workPerOp: Double = nDocs

  private var space: Data.DocSpace = _
  private var docs: DataFrame = _
  private var planted: Set[(Long, Long)] = Set.empty
  // counts of the latest pass: every pass over one corpus finds the same
  private var pairCount = 0L
  private var compCount = 0L
  private var usefulFrac = 0.0

  def generate(c: Ctx): Unit =
    space = Data.DocSpace(c.seed, nDocs, nGroups = nDocs / 5, nDecoys = nDocs / 40,
      words = 60, vocab = 20000, dupEdits = Seq(2, 3, 4, 5), decoyEdits = 8)

  def setup(c: Ctx): Unit = {
    docs = c.tracer.span("data.cache") {
      val d = space.frame(c.spark, c.cores).persist(StorageLevel.MEMORY_ONLY)
      d.count()
      d
    }
  }

  def reset(c: Ctx): Unit = if (docs != null) { docs.unpersist(true); docs = null }

  def prepare(c: Ctx): Unit = planted = space.plantedPairs

  /** One dedup pass, timed, checked and scored into `t`. */
  def op(c: Ctx, i: Int, t: Tally): Unit = t.attempt(s"dedup pass $i") {
    val ((pairs, labels, kept), ms) = timedMs(c.tracer.op("op.dedup") {
      val pairs = c.tracer.span("ops.minhash") {
        val p = Dedup.minhashDedup(docs, "id", "text", threshold)
          .select("da", "db").persist(StorageLevel.MEMORY_ONLY)
        p.count()
        p
      }
      val labels = c.tracer.span("ops.components")(Dedup.components(pairs))
      val kept = c.tracer.span("ops.dedupe")(Dedup.dedupeFromLabels(docs, "id", labels).count())
      (pairs, labels, kept)
    })
    val pairIds = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val labelRows = labels.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rep")))
    Dedup.Pipeline(pairs, labels, docs).unpersist()
    t.sample("pass", ms)
    val reps = labelRows.groupBy(_._2)
    val components = nDocs - labelRows.length + reps.size
    t.check(kept == components,
      s"dedupe kept $kept rows, but there are $components components")
    pairCount = pairIds.length
    compCount = components
    usefulFrac = if (pairIds.isEmpty) 0.0
      else pairIds.count(p => planted((math.min(p._1, p._2), math.max(p._1, p._2)))).toDouble /
        pairIds.length
    // pair quality of the components against the planted groups
    val sameComp: Set[(Long, Long)] = reps.values.iterator.flatMap { ms =>
      val ids = ms.map(_._1).sorted
      for { i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator }
        yield (ids(i), ids(j))
    }.toSet
    t.recalls += planted.count(sameComp).toDouble / planted.size
    t.precisions += (if (sameComp.isEmpty) 0.0
      else sameComp.count(planted).toDouble / sameComp.size)
  }

  def layers(c: Ctx, spans: Seq[Span]): Map[String, Double] = Map(
    "ops.minhash_s" -> Tracer.medianMs(spans, "ops.minhash") / 1e3,
    "ops.components_s" -> Tracer.medianMs(spans, "ops.components") / 1e3,
    "ops.dedupe_s" -> Tracer.medianMs(spans, "ops.dedupe") / 1e3,
    "ops.pairs" -> pairCount.toDouble,
    "ops.components" -> compCount.toDouble,
    "ops.pairs_useful_frac" -> usefulFrac)
}
