package graft.core

import org.apache.spark.sql.{RuntimeConfig, SparkSession}

/**
 * Every `graft.ann.*` session conf, read through one typed snapshot.
 *
 * Each key is declared once below with its default and its README text,
 * so a default cannot drift between the planner, the index faces and
 * the docs (`AnnConfSpec` pins the README table to [[AnnConf.markdownRows]]).
 * A snapshot reads a key the first time a field is used and keeps the
 * value, so a planner pass that meets no ANN shape reads only
 * `graft.ann.enable`.
 *
 * Malformed values: most keys fail loudly (`NumberFormatException`,
 * `IllegalArgumentException` from `toBoolean`); the driver-budget keys
 * marked `lenient` fall back to their default, as their readers in the
 * batched index faces always did. `graft.ann.topk.keepNulls` reads any
 * value other than `true` / `false` as `auto`.
 */
final class AnnConf private (conf: RuntimeConfig) {
  import AnnConf._

  private def str(k: Key): String = conf.get(k.name, k.default)
  private def lenientLong(k: Key): Long =
    conf.getOption(k.name).flatMap(_.toLongOption).getOrElse(k.default.toLong)

  lazy val enable: Boolean = str(Enable).toBoolean
  lazy val costEnable: Boolean = str(CostEnable).toBoolean
  lazy val rangeEnable: Boolean = str(RangeEnable).toBoolean
  lazy val rangeJoinEnable: Boolean = str(RangeJoinEnable).toBoolean
  lazy val knnJoinEnable: Boolean = str(KnnJoinEnable).toBoolean
  lazy val probes: String = str(Probes)
  lazy val refine: Int = str(Refine).toInt
  lazy val epsilon: Double = str(Epsilon).toDouble
  lazy val maxInList: Int = str(MaxInList).toInt
  lazy val efSearch: Int = str(EfSearch).toInt
  lazy val kPerToken: Int = str(KPerToken).toInt
  lazy val maxsimMaxPoolTuples: Long = lenientLong(MaxsimMaxPoolTuples)
  lazy val batchMaxPoolTuples: Long = lenientLong(BatchMaxPoolTuples)
  lazy val flatDirectCollectMax: Long = lenientLong(FlatDirectCollectMax)
  lazy val rangeMaxDriverSurvivors: Long = lenientLong(RangeMaxDriverSurvivors)
  lazy val graphBatchMaxBroadcastBytes: Long = lenientLong(GraphBatchMaxBroadcastBytes)
  lazy val knnJoinMaxQueries: Int = str(KnnJoinMaxQueries).toInt
  lazy val rangeJoinMaxQueries: Int = str(RangeJoinMaxQueries).toInt
  lazy val rangeServedMaxQueries: Int = str(RangeServedMaxQueries).toInt
  lazy val knnServedMaxQueries: Int = str(KnnServedMaxQueries).toInt
  lazy val maxsimServedMaxQueries: Int = str(MaxsimServedMaxQueries).toInt
  lazy val keepNulls: String = str(TopkKeepNulls)

  /** The effective queries-side collect bound of the KNN join (and the
    * maxsim join): a raised per-slice cap still widens the collect. */
  lazy val knnJoinMaxQueriesTotal: Int = math.max(1, math.max(
    str(KnnJoinMaxQueriesTotal).toInt, knnJoinMaxQueries))

  /** The range join's effective queries-side collect bound. */
  lazy val rangeJoinMaxQueriesTotal: Int = math.max(1, math.max(
    rangeJoinMaxQueries, str(RangeJoinMaxQueriesTotal).toInt))

  /** `graft.ann.probes` for an index of `lists` cells. */
  def probesFor(lists: Int): Int =
    if (probes == "auto") autoProbes(lists) else probes.toInt
}

object AnnConf {
  final case class Key(name: String, default: String, doc: String)

  private val keys = scala.collection.mutable.ArrayBuffer.empty[Key]
  private def key(suffix: String, default: String, doc: String): Key = {
    val k = Key("graft.ann." + suffix, default, doc)
    keys += k
    k
  }

  val Enable = key("enable", "true", "`vchordrq.enable_scan` kill switch")
  val Probes = key("probes", "auto",
    "`vchordrq.probes`; `auto` = ⌈√lists⌉ per index (the reloption fallback)")
  val Refine = key("refine", "8", "rerank candidate multiplier (k·refine)")
  val CostEnable = key("cost.enable", "true",
    "`amcostestimate` (decline the index when the exact scan is cheaper)")
  val MaxInList = key("maxInList", "8192",
    "candidate-id budget of every served `IN` list (prefilter escalation, " +
      "partitioned pools, joins) — past it the exact plan is served")
  val EfSearch = key("efSearch", "64", "`vchordg.ef_search` (graph beam width)")
  val Epsilon = key("epsilon", "1.9",
    "RaBitQ lower-bound slack of the range estimate pass (range serves and " +
      "the batched range faces)")
  val RangeEnable = key("range.enable", "true",
    "serve `WHERE dist(vec, c) < r` sphere filters from the index")
  val RangeJoinEnable = key("range.join.enable", "true",
    "serve the range JOIN `ON dist(d.vec, q.center) < q.radius`")
  val KnnJoinEnable = key("knn.join.enable", "true",
    "serve the windowed top-k KNN JOIN (`row_number() … WHERE rn <= k`)")
  val KPerToken = key("maxsim.kPerToken", "100",
    "per-token retrieval depth for MaxSim scans")
  val MaxsimMaxPoolTuples = key("maxsim.maxPoolTuples", "4000000",
    "MaxSim driver-pool budget (lenient) — past roots×tokens×kPerToken the " +
      "serve declines and the batch face refuses loudly")
  val KnnJoinMaxQueries = key("knn.join.maxQueries", "256",
    "KNN-JOIN per-SLICE size — larger query sets run several bounded " +
      "candidate jobs, one per slice")
  val KnnJoinMaxQueriesTotal = key("knn.join.maxQueriesTotal", "4096",
    "KNN-JOIN hard cap on the queries-side collect — past it the serve " +
      "declines loudly to the exact windowed cross join")
  val RangeJoinMaxQueries = key("range.join.maxQueries", "256",
    "range-JOIN per-slice size (same contract as the KNN join)")
  val RangeJoinMaxQueriesTotal = key("range.join.maxQueriesTotal", "4096",
    "range-JOIN hard cap (same contract as the KNN join)")
  val RangeServedMaxQueries = key("range.served.maxQueries", "4096",
    "`AnnCatalog.servedRangeMany` queries-table cap (loud refusal past it)")
  val KnnServedMaxQueries = key("knn.served.maxQueries", "4096",
    "`AnnCatalog.servedSearchMany` queries-table cap (loud refusal past it)")
  val MaxsimServedMaxQueries = key("maxsim.served.maxQueries", "1024",
    "`AnnCatalog.servedMaxsimMany` queries-table cap (loud refusal past it)")
  val BatchMaxPoolTuples = key("batch.maxPoolTuples", "4000000",
    "driver-pool budget shared by the batched top-k and range faces " +
      "(lenient) — past roots×queries×candidates they refuse loudly and the " +
      "KNN-join serve declines")
  val FlatDirectCollectMax = key("flat.directCollectMax", "4000000",
    "flat multi-root read (lenient): worst-case per-partition heap tuples " +
      "collected directly; past it heaps merge on executors first")
  val RangeMaxDriverSurvivors = key("range.maxDriverSurvivors", "1000000",
    "batched range faces (lenient): estimate survivors collected to the " +
      "driver; past it (or at `0`) the distributed survivor tier runs")
  val GraphBatchMaxBroadcastBytes = key("graph.batch.maxBroadcastBytes",
    "4294967296",
    "batched graph faces (lenient): broadcast byte budget of the " +
      "driver-tier graphs — past it they refuse loudly")
  val TopkKeepNulls = key("topk.keepNulls", "auto",
    "does a served top-k restrict with the null-keeping `id IN (…) OR vec " +
      "IS NULL` (NULL-vector rows keep their ASC NULLS FIRST rank exactly as " +
      "in the plan they replace; maxsim orderings also keep `size(tokens)=0` " +
      "docs — `vec_maxsim([], q)` is 0.0, a value) or the bare " +
      "parquet-pushable IN? `auto`: bare IN when every resolved root ATTESTS " +
      "source completeness (recorded at build by comparing source vs written " +
      "row counts; IVF roots are tainted by a null-dropping delta append via " +
      "a `SOURCE_INCOMPLETE` marker, graph/sharded tiers lose the " +
      "attestation on insertAll and keep it through vacuum; maxsim tiers " +
      "cannot attest — a token index never sees empty/null docs — and always " +
      "keep the Or), else the Or. `true`: always the Or (the IsNull disjunct " +
      "on an array column is not ParquetFilters-convertible, so the whole Or " +
      "runs post-scan — row-group pruning lost). `false`: always the bare IN " +
      "(operator asserts the corpus null-free). Exact in every mode on " +
      "corpora matching the attestation/assertion")

  /** Every key, in README order. */
  val all: Seq[Key] = keys.toList

  def apply(spark: SparkSession): AnnConf = new AnnConf(spark.conf)

  /** The `probes = auto` budget: ⌈√lists⌉, at least 1. */
  def autoProbes(lists: Int): Int =
    math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)

  /** README conf-table rows, one per key. */
  def markdownRows: Seq[String] =
    all.map(k => s"| `${k.name}` | `${k.default}` | ${k.doc} |")
}
