package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ColumnBridge

import graft.core.AnnConf
import graft.functions.{VecCosDistExpr, VecL2Expr, VecMaxSimExpr, VecNegDotExpr}
import graft.index.IvfIndex
import graft.plans.AnnCatalog.Kind

/**
 * The `CREATE INDEX` planner integration (SURVEY §4.1 row 1 / build plan
 * M7): the reference's Postgres planner matches `ORDER BY embedding <op> q
 * LIMIT k` to a vchordrq opclass and plans an index scan (reference:
 * opclasses sql/install/vchord--1.1.1.sql:1138-1228, pushdown goldens
 * tests/vchordrq/pushdown_plan.slt). Here the same contract is a Catalyst
 * optimizer rule:
 *
 *     GlobalLimit k (Sort [vec_l2|vec_cosdist|vec_negdot(col, q) ASC]
 *       ([Project] [Filter pred] relation))
 *
 * over a Parquet relation registered in [[AnnCatalog]] becomes
 *
 *     GlobalLimit k (Sort [...] (Filter id IN (<ANN candidates>) child))
 *
 * The index supplies candidate row ids (probe -> estimate -> rerank); the
 * IN filter pushes down to the Parquet scan, so the full-table sort
 * collapses to a k-row sort over fetched candidates. An index serves only
 * its own metric (one opclass per operator, like the reference).
 *
 * Three planner behaviors mirror the reference's access-method glue:
 *
 *  - COST (reference `amcostestimate`, src/index/vchordrq/am/mod.rs:
 *    270-385): the rewrite is taken only when the estimated index work
 *    (code-only scan of the probed fraction + exact rerank of k*refine
 *    rows) undercuts the exact full scan. `probes = auto` sizes the probe
 *    budget as ceil(sqrt(lists)) (the GUC's reloption fallback role,
 *    src/index/gucs.rs:114-133). Kill switch: graft.ann.cost.enable.
 *
 *  - PREFILTER (reference `vchordrq.prefilter`, scanners/default.rs:
 *    178-224): a deterministic Filter between the Sort and the relation no
 *    longer disables the rewrite — candidates are fetched, the filter's
 *    survivor count is checked, and the probe/refine budget escalates
 *    (x4 per round, like re-scanning with a larger budget) until k
 *    survivors exist or the candidate set provably covers the table —
 *    at which point the plan is exact. Non-deterministic predicates
 *    conservatively keep the original plan.
 *
 *  - KILL SWITCH `graft.ann.enable=false` = `vchordrq.enable_scan`
 *    (reference: src/index/gucs.rs:60).
 *
 * Enable per session:
 *   spark.experimental.extraOptimizations ++= Seq(AnnTopKRewrite(spark))
 * or globally with spark.sql.extensions=graft.plans.GraftSparkExtensions.
 */
object AnnCatalog {
  /** One registration: reads of a table (or of one partition child) may
    * be served by the index at `indexDir`, whose rows key on `idCol` and
    * index `vecCol` (for a MaxSim token index: the doc column and the
    * token-array column). `tablePath` is kept on IVF entries so a
    * CODES-ONLY index (storeVectors = false) can fetch rerank vectors
    * from its source table at serve time. */
  final case class Entry(indexDir: String, idCol: String, vecCol: String,
                         tablePath: String = "")

  /** Index families, in the order [[resolve]] tries them. */
  sealed abstract class Kind
  object Kind {
    case object Ivf extends Kind
    /** Driver-resident Vamana graphs (vchordg). */
    case object Graph extends Kind
    /** The distributed graph tier ([[graft.index.ShardedVamana]]). */
    case object Sharded extends Kind
    /** MaxSim token indexes (opclass strategy 3). */
    case object Tokens extends Kind
    /** The vector-column families, in serve order. */
    val vectors: Seq[Kind] = Seq(Ivf, Graph, Sharded)
  }

  /** A resolved cover: the family, and the entry of every root it serves. */
  final case class Tier(kind: Kind, entries: Seq[Entry])

  private val regs: Map[Kind, java.util.concurrent.ConcurrentHashMap[String, Entry]] =
    (Kind.vectors :+ Kind.Tokens).map(k =>
      k -> new java.util.concurrent.ConcurrentHashMap[String, Entry]()).toMap
  private val indexes = new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]()

  /** Serializes catalog MUTATIONS (register/unregister of every family,
    * and the release's check-then-act over them): without it, a
    * registration for the same indexDir landing between [[release]]'s
    * stillUsed scan and its remove would have its freshly memoized
    * instance evicted and its persisted plans dropped. Lookups and
    * serves stay lock-free on the concurrent maps — so an unregister
    * racing an IN-FLIGHT query on the same index can still release that
    * query's cache mid-run (it recomputes, correct but slower); don't
    * unregister an index while queries it serves run. */
  private val mutationLock = new Object

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def put(kind: Kind, tablePath: String, e: Entry): Unit =
    mutationLock.synchronized {
      regs(kind).put(norm(tablePath), e)
      coverCache.clear() // catalog changed: every cached cover decision is stale
    }

  private def remove(kind: Kind, tablePath: String): Unit =
    mutationLock.synchronized {
      val old = regs(kind).remove(norm(tablePath))
      coverCache.clear()
      if (old != null) release(kind, old.indexDir)
    }

  /** Register: reads of `tablePath` may be served by the index at `indexDir`. */
  def register(tablePath: String, indexDir: String, idCol: String, vecCol: String): Unit =
    put(Kind.Ivf, tablePath, Entry(indexDir, idCol, vecCol, tablePath))

  def unregister(tablePath: String): Unit = remove(Kind.Ivf, tablePath)

  /** Release the memoized instance behind `dir` once no live
    * registration still references it. IVF, partial and token indexes
    * share one IvfIndex cache: a prewarm-persisted dataDf is pinned by
    * Spark's CacheManager until explicitly unpersisted, so dropping only
    * the catalog entry would leak the executor-memory copy for every
    * dropped index forever. A graph dir drops its driver-resident graph;
    * a sharded dir unpersists its resident shard RDD. Callers hold
    * [[mutationLock]] — the stillUsed scan plus the remove must be atomic
    * against concurrent registrations of the same dir. */
  private def release(kind: Kind, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    def used(k: Kind) = regs(k).values.asScala.exists(_.indexDir == dir)
    kind match {
      case Kind.Graph => if (!used(Kind.Graph)) graphs.remove(dir)
      case Kind.Sharded =>
        if (!used(Kind.Sharded))
          Option(sgHandles.remove(dir)).foreach(_._2.unpersist())
      case _ =>
        val stillUsed = used(Kind.Ivf) || used(Kind.Tokens) ||
          partials.values.asScala.exists(_.exists(_.entry.indexDir == dir))
        if (!stillUsed) Option(indexes.remove(dir)).foreach(_.release())
    }
  }

  /** An entry may serve a relation only when it covers EVERY root:
    * first-match semantics on a multi-root read would silently restrict
    * the scan to one root's candidates and drop the other roots' rows
    * from the top-k (distinct per-root entries are [[resolve]]'s
    * union-serve case instead). */
  private def covering[T](rootPaths: Seq[String], get: String => T): Option[T] = {
    val vs = rootPaths.map(norm).map(p => Option(get(p)))
    if (vs.nonEmpty && vs.forall(_.isDefined)) {
      val d = vs.flatten.distinct
      if (d.size == 1) Some(d.head) else None
    } else None
  }

  def lookup(rootPaths: Seq[String]): Option[Entry] =
    covering(rootPaths, regs(Kind.Ivf).get)

  /** The ONE catalog resolve every serve shares: the first family in
    * `kinds` whose registrations cover the scan, and that indexes column
    * `col` in `metric` (None = any) under one id column. A family covers
    * the scan through
    *  - one entry per root path (a single registered table, or a
    *    multi-root `spark.read.parquet(rootA, rootB)` read over a
    *    manually-partitioned table — None unless EVERY root is
    *    registered: serving a subset would silently drop the unindexed
    *    roots' rows), or
    *  - per-child entries jointly covering every file the scan reads
    *    (a `part=*` table under one root, see [[coverByFilesIn]]).
    * The sharded tier serves one covering entry only — it has no
    * cross-root merge. `files` is forced at most once, and only when
    * some entry of a tried family sits under the roots. */
  def resolve(spark: SparkSession, roots: Seq[String], files: => Seq[String],
      kinds: Seq[Kind], col: Option[String] = None,
      metric: Option[String] = None): Option[Tier] = {
    lazy val fileSeq = files
    kinds.iterator.flatMap { kind =>
      val byRoot = roots.map(p => Option(regs(kind).get(norm(p))))
      val es =
        if (byRoot.nonEmpty && byRoot.forall(_.isDefined))
          Some(byRoot.flatten.distinct)
            .filter(es => kind != Kind.Sharded || es.size == 1)
        else if (kind == Kind.Sharded) None
        else coverByFilesIn(kind, roots, fileSeq)
      es.filter(es => col.forall(c => es.forall(_.vecCol == c)) &&
          es.map(_.idCol).distinct.size == 1 &&
          metric.forall(m => es.forall(metricOf(spark, kind, _) == m)))
        .map(Tier(kind, _))
    }.nextOption()
  }

  private def metricOf(spark: SparkSession, kind: Kind, e: Entry): String =
    kind match {
      case Kind.Graph   => graph(spark, e).cfg.metric
      case Kind.Sharded => shardedGraph(spark, e).cfg.metric
      case _            => index(spark, e).meta.cfg.metric
    }

  /** Partitioned-table cover under ONE discovered root (a `tableDir`
    * whose `part=*` children each carry their own index, the reference's
    * per-partition indexes — tests/vchordrq/partition.slt:1-35): Some
    * iff every FILE the scan would read lies under a registered path of
    * `kind`, i.e. the per-child indexes jointly cover the whole scan.
    *
    * Only entries at or below one of the scan's root paths are
    * considered: an entry above the root (an index registered for the
    * whole table while the scan reads one child dir) indexes MORE rows
    * than the scan — its global top-k is not the subset's top-k, so
    * "covering" through it would silently drop rows.
    *
    * This runs at plan time for every unserved ANN-shaped query, so it
    * must NOT be O(files x entries) per plan (a 100k-file covered table
    * would pay the full walk on every query). Two reductions: (1) files
    * in one leaf directory share their covering decision, so the prefix
    * match runs once per distinct PARENT DIRECTORY — O(partitions), not
    * O(files); (2) per-directory decisions are memoized across plans in
    * [[coverCache]], invalidated wholesale on any register/unregister
    * (cheap: re-deciding a directory is one prefix scan). Appends add
    * files to EXISTING partition dirs or new dirs — cached dirs stay
    * valid, new dirs get decided and cached on first sight. */
  private def coverByFilesIn(kind: Kind, rootPaths: Seq[String],
      files: => Seq[String]): Option[Seq[Entry]] = {
    import scala.jdk.CollectionConverters._
    val all = regs(kind)
    if (all.isEmpty) return None
    val rootPrefixes = rootPaths.map(p => norm(p) + "/")
    val rootsKey = kind.toString + "|" + rootPrefixes.sorted.mkString("|")
    val under = all.asScala.toSeq.collect {
      case (p, e) if rootPrefixes.exists(r => (p + "/").startsWith(r)) =>
        (p + "/", e)
    }
    // the registered-entry gate runs BEFORE `files` is forced: the
    // common unserved case (an ANN-shaped query over a table with no
    // child registrations at all) must not pay the O(files) inputFiles
    // materialization the caller passes by name — at 50k-file tables
    // that array build is the only per-plan cost that scales with the
    // table, and it buys nothing when no entry sits under the roots
    if (under.isEmpty) return None
    val fileSeq = files
    if (fileSeq.isEmpty) return None
    val out = scala.collection.mutable.LinkedHashSet.empty[Entry]
    val seenDirs = scala.collection.mutable.HashSet.empty[String]
    val it = fileSeq.iterator
    while (it.hasNext) {
      val f = it.next()
      // dedupe on the RAW dir substring before normalizing: norm builds
      // a Hadoop Path + URI per call (~1 us), and paying it per FILE was
      // the walk's dominant term at 50k files (~50 ms/plan measured);
      // per distinct DIR it is O(partitions)
      val rawCut = f.lastIndexOf('/')
      val rawDir = if (rawCut >= 0) f.substring(0, rawCut) else f
      if (seenDirs.add(rawDir)) { // each distinct leaf dir decided once per plan
        val dir = norm(rawDir) + "/"
        val key = rootsKey + "|#|" + dir
        var dec = coverCache.get(key)
        if (dec == null) {
          dec = under.find { case (prefix, _) => dir.startsWith(prefix) }
            .map(_._2)
          coverCache.put(key, dec)
        }
        dec match {
          case Some(e) => out += e
          case None => return None // first uncovered directory decides
        }
      }
    }
    Some(out.toSeq)
  }

  /** Memoized per-directory cover decisions: key = family + rootsKey +
    * leaf dir, value = the covering entry (or None = provably
    * uncovered). Cleared on any catalog mutation. Bounded by distinct
    * (family, roots, partition-dir) triples actually planned —
    * partitions, not files. */
  private val coverCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Entry]]()

  // ---- PARTIAL (predicate-scoped) indexes — the reference's
  // `CREATE INDEX ... WHERE (category_id = 1)` (partition.slt:40-48):
  // the index covers only rows satisfying the predicate, and may serve
  // only queries whose own predicate implies it ----

  final case class PartialEntry(predicateSql: String, entry: Entry)

  private val partials =
    new java.util.concurrent.ConcurrentHashMap[String, List[PartialEntry]]()

  /** Register a partial index: `indexDir` indexes exactly the rows of
    * `tablePath` satisfying `predicateSql` (caller contract, like
    * [[register]]). A query is served only when its own predicate
    * contains every conjunct of `predicateSql` (semantic equality) —
    * the restricted implication Postgres partial indexes use. */
  def registerPartial(tablePath: String, indexDir: String, idCol: String,
                      vecCol: String, predicateSql: String): Unit =
    mutationLock.synchronized {
      partials.compute(norm(tablePath), (_, cur) =>
        PartialEntry(predicateSql, Entry(indexDir, idCol, vecCol, tablePath)) ::
          (if (cur == null) Nil else cur.filterNot(_.entry.indexDir == indexDir)))
      ()
    }

  def unregisterPartial(tablePath: String, indexDir: String): Unit =
    mutationLock.synchronized {
      partials.computeIfPresent(norm(tablePath),
        (_, cur) => cur.filterNot(_.entry.indexDir == indexDir) match {
          case Nil => null
          case rest => rest
        })
      release(Kind.Ivf, indexDir)
    }

  /** Covering semantics like [[lookup]]: every root must resolve to the
    * SAME partial-entry list — a partial index registered on one root of
    * a multi-root read indexes none of the other roots' qualifying rows
    * and must not serve the union. */
  def lookupPartials(rootPaths: Seq[String]): Seq[PartialEntry] =
    covering(rootPaths, partials.get).getOrElse(Nil)

  /** The memoized IVF (or token) index behind an entry. */
  def index(spark: SparkSession, e: Entry): IvfIndex =
    indexes.computeIfAbsent(e.indexDir, d => IvfIndex.load(spark, d))

  // ---- graph-index (vchordg) entries: same ORDER BY <-> LIMIT k shape,
  // served by beam search over the broadcast Vamana graph ----

  // dir -> (stamp, graph): a rebuild REPLACES the stale entry (the old
  // driver-resident graph becomes garbage) — a stamp-IN-KEY cache would
  // retain one full graph per rebuild forever, the leak the sharded
  // tier's handle cache already avoids
  private val graphs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, graft.index.VamanaGraph)]()

  def registerGraph(tablePath: String, graphDir: String, idCol: String, vecCol: String): Unit =
    put(Kind.Graph, tablePath, Entry(graphDir, idCol, vecCol))

  def unregisterGraph(tablePath: String): Unit = remove(Kind.Graph, tablePath)

  /** Latest modification stamp under a graph dir — a rebuild+save into the
    * same dir (the deleteAndRebuild vacuum flow) must not be served stale. */
  private def graphStamp(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.mapToLong(f => java.nio.file.Files.getLastModifiedTime(f).toMillis).max().orElse(0L)
      finally s.close()
    }
  }

  def graph(spark: SparkSession, e: Entry): graft.index.VamanaGraph = {
    val stamp = graphStamp(e.indexDir)
    graphs.compute(e.indexDir, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else (stamp, graft.index.VamanaGraph.load(spark, e.indexDir)))._2
  }

  // ---- SHARDED graph entries: the distributed graph tier serves the
  // same ORDER BY <-> LIMIT k shape when the driver-tier graph can't
  // hold the table ----

  // dir -> (stamp, handle): a rebuild EVICTS and unpersists the stale
  // handle (it holds executor memory via its persisted RDD — a stamp-keyed
  // cache would leak one resident graph per rebuild)
  private val sgHandles =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, graft.index.ShardedVamana.Handle)]()

  def registerShardedGraph(tablePath: String, dir: String, idCol: String, vecCol: String): Unit =
    put(Kind.Sharded, tablePath, Entry(dir, idCol, vecCol))

  def unregisterShardedGraph(tablePath: String): Unit =
    remove(Kind.Sharded, tablePath)

  def shardedGraph(spark: SparkSession, e: Entry): graft.index.ShardedVamana.Handle = {
    val stamp = graphStamp(e.indexDir)
    sgHandles.compute(e.indexDir, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else {
        if (cur != null) cur._2.unpersist()
        (stamp, graft.index.ShardedVamana.load(spark, e.indexDir))
      })._2
  }

  // ---- multi-vector (MaxSim, reference opclass strategy 3) entries ----

  /** Register: `tablePath` rows are (docCol, tokensCol: array<array<float>>)
    * documents whose exploded tokens were indexed (MaxSim.buildTokenIndex)
    * at `indexDir`. */
  def registerMaxSim(tablePath: String, indexDir: String,
                     docCol: String, tokensCol: String): Unit =
    put(Kind.Tokens, tablePath, Entry(indexDir, docCol, tokensCol))

  def unregisterMaxSim(tablePath: String): Unit = remove(Kind.Tokens, tablePath)

  /** The served batch entry points' resolve: the corpus's file relation
    * resolves EXACTLY as the planner's serves do (first covering family
    * of `kinds`); unregistered corpora refuse loudly. */
  private def resolveServed(spark: SparkSession, tablePath: String,
      face: String, kinds: Seq[Kind]): Tier = {
    val fsRel = spark.read.parquet(tablePath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalArgumentException(
      s"$face: '$tablePath' did not resolve to a file-backed relation"))
    resolve(spark, fsRel.location.rootPaths.map(_.toString),
        fsRel.location.inputFiles.toSeq, kinds)
      .getOrElse(throw new IllegalArgumentException(
        if (kinds == Seq(Kind.Tokens))
          s"$face: no registered token index covers '$tablePath' — " +
          "register the corpus (or every partition child) with " +
          "AnnCatalog.registerMaxSim first"
        else
          s"$face: no registered index, graph, or sharded graph covers " +
          s"'$tablePath' — register the table (or every partition child) " +
          "with AnnCatalog.register / registerGraph / registerShardedGraph " +
          "first; unregistered corpora have the exact DSL faces instead of " +
          "a silent full scan"))
  }

  /** Bounded queries-side collect for the served entry points: the cap
    * is LOUD (the batch collects to the driver, the join-serve policy). */
  private def boundedRows(df: org.apache.spark.sql.DataFrame, maxQ: Int,
      face: String, conf: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxQ + 1).collect()
    require(rows.length <= maxQ,
      s"$face: queries table exceeds $maxQ rows ($conf) — the batch " +
      "collects to the driver; split it or raise the conf")
    rows
  }

  /** The rerank table of a graph or sharded tier whose vertices are
    * quantized: the corpus itself (estimate distances never reach the
    * caller). */
  private def quantizedRerank(spark: SparkSession, quantized: Boolean,
      tablePath: String, e: Entry): Option[(org.apache.spark.sql.DataFrame, String, String)] =
    if (quantized) Some((spark.read.parquet(tablePath), e.idCol, e.vecCol))
    else None

  /** Codes-only IVF children rerank from their registered source table —
    * expressible only when every entry shares ONE table (the per-child
    * entries of a partitioned corpus each point at their own child; the
    * batched faces refuse those loudly). */
  private def ivfRerank(spark: SparkSession, es: Seq[Entry], idxs: Seq[IvfIndex])
      : Option[(org.apache.spark.sql.DataFrame, String, String)] =
    if (idxs.forall(_.meta.cfg.storeVectors)) None
    else es.map(_.tablePath).filter(_.nonEmpty).distinct match {
      case Seq(tp) => Some((spark.read.parquet(tp), es.head.idCol, es.head.vecCol))
      case _ => None
    }

  /** "SQL in, batch out" (round 15): answer a bounded queries TABLE of
    * spheres over a REGISTERED corpus through the batched range face.
    * The corpus resolves EXACTLY as the planner's range serves do — one
    * covering entry, explicit multi-root registrations, or the
    * per-child cover of every file the scan would read — then the whole
    * batch runs through [[IvfIndex.rangeSearchManyMulti]]: constant job
    * count in queries x roots, two-tier survivor delivery, per-query
    * scan fallback — the >maxInList regime the planner's IN rewrite
    * (`serveRangeJoin`) deliberately declines. Unregistered corpora and
    * oversized query tables refuse LOUDLY (the queries side must be
    * bounded: it collects to the driver, like the join serve's cap).
    * Rows with a null qid/center/radius match nothing (the join-serve
    * null contract) and are dropped. Output: (qid, id, dist).
    *
    * TIER CONTRACT (round 17): IVF registrations resolve first and are
    * the COMPLETE tier — every row inside the sphere is returned (the
    * ε-bounded estimate pass is a superset filter, the exact cutoff
    * runs over it). GRAPH and SHARDED-GRAPH registrations now serve
    * range too, with the reference's own strategy-2 semantics
    * (sql/install/vchord--1.1.1.sql:1230-1290; beam +
    * `take_while(dist < radius)` at
    * src/index/vchordg/scanners/default.rs:108-110,912-913): the beam
    * is BEST-EFFORT — an in-sphere vertex reachable only through
    * out-of-sphere hops beyond `graft.ann.efSearch` can be missed, and
    * the result is exact only at saturating ef. Callers needing the
    * completeness guarantee should register (or add) a codes-only IVF
    * index for the corpus — the guarantee is structural there, not a
    * budget. Quantized graph tiers rerank exactly from the corpus
    * table, so returned distances are always exact and strictly inside
    * the radius on every tier. */
  def servedRangeMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      centerCol: String, radiusCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val tier = resolveServed(spark, tablePath, "servedRangeMany", Kind.vectors)
    val c = AnnConf(spark)
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(centerCol).cast("array<float>"), col(radiusCol).cast("double")),
      c.rangeServedMaxQueries, "servedRangeMany",
      AnnConf.RangeServedMaxQueries.name)
    val queries = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
    }
    val es = tier.entries
    tier.kind match {
      case Kind.Ivf =>
        val idxs = es.map(index(spark, _))
        IvfIndex.rangeSearchManyMulti(idxs, queries, c.epsilon,
          ivfRerank(spark, es, idxs))
      case Kind.Graph =>
        val gs = es.map(graph(spark, _))
        graft.index.VamanaGraph.rangeSearchManyMulti(spark, gs, queries,
          ef = c.efSearch, epsilon = c.epsilon, rerankTable =
            quantizedRerank(spark, gs.exists(_.quantized), tablePath, es.head))
      case _ =>
        val h = shardedGraph(spark, es.head)
        h.rangeSearch(spark, queries, ef = c.efSearch, epsilon = c.epsilon,
          rerankTable = quantizedRerank(spark, h.cfg.bits > 0, tablePath, es.head))
    }
  }

  /** The TOP-K sibling of [[servedRangeMany]]: a bounded queries table
    * of (qid, center) rows over a REGISTERED corpus. The corpus resolves
    * across ALL the access tiers the planner's KNN-join serve routes —
    * IVF registrations first (single, explicit multi-root, or per-child
    * cover) through [[IvfIndex.searchManyMulti]] (two flat jobs however
    * many queries and roots), then driver-resident GRAPH registrations
    * through [[graft.index.VamanaGraph.searchManyMulti]], then the
    * SHARDED distributed graph through its resident-RDD search (round
    * 16 — tier parity with the KNN-join serve). Quantized graph tiers
    * rerank exactly from the corpus table itself. Probe/refine/ef
    * budgets come from the session confs the planner serves use
    * (`graft.ann.probes` / `graft.ann.refine` / `graft.ann.efSearch`).
    * Null rows are dropped; unregistered corpora and oversized query
    * tables refuse loudly. Output: (qid, id, dist, rn) — the
    * searchMany contract. The SQL-shape route to the same faces is the
    * planner's KNN-join serve (`serveKnnJoin`); this is the DSL door
    * for callers holding a queries DataFrame. */
  def servedSearchMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      centerCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val tier = resolveServed(spark, tablePath, "servedSearchMany", Kind.vectors)
    val c = AnnConf(spark)
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(centerCol).cast("array<float>")),
      c.knnServedMaxQueries, "servedSearchMany",
      AnnConf.KnnServedMaxQueries.name)
    val queries = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "id", "dist", "rn")
    }
    val es = tier.entries
    tier.kind match {
      case Kind.Ivf =>
        val idxs = es.map(index(spark, _))
        IvfIndex.searchManyMulti(idxs, queries, k,
          probes = idxs.map(ix => c.probesFor(ix.meta.cfg.lists)).max,
          refine = c.refine, rerankTable = ivfRerank(spark, es, idxs))
      case Kind.Graph =>
        val gs = es.map(graph(spark, _))
        graft.index.VamanaGraph.searchManyMulti(spark, gs, queries, k,
          ef = c.efSearch, rerankTable =
            quantizedRerank(spark, gs.exists(_.quantized), tablePath, es.head))
      case _ =>
        val h = shardedGraph(spark, es.head)
        h.search(spark, queries, k, ef = c.efSearch, rerankTable =
          quantizedRerank(spark, h.cfg.bits > 0, tablePath, es.head))
    }
  }

  /** The MULTIVECTOR sibling (strategy 3): a bounded queries table of
    * (qid, tokens: array<array<float>>) documents over a REGISTERED
    * multivector corpus, answered by [[graft.ops.MaxSim.maxsimManyMulti]]
    * (one pooled retrieval + one exact rescore for the whole batch).
    * Codes-only or storage-mixed token children rescore from the
    * registered corpus itself (its doc/tokens columns explode into the
    * rerank token table). Output: (qid, doc, maxsim). */
  def servedMaxsimMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      tokensCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val es = resolveServed(spark, tablePath, "servedMaxsimMany",
      Seq(Kind.Tokens)).entries
    val idxs = es.map(index(spark, _))
    val c = AnnConf(spark)
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(tokensCol).cast("array<array<float>>")),
      c.maxsimServedMaxQueries, "servedMaxsimMany",
      AnnConf.MaxsimServedMaxQueries.name)
    val queries: Array[(Long, Array[Array[Float]])] = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0),
        r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray))
      .filter(_._2.nonEmpty)
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("qid", "doc", "maxsim")
    }
    val h = idxs.head
    // codes-only / storage-mixed children: the rerank token table is the
    // registered corpus itself, exploded to one row per token
    val rt =
      if (idxs.forall(ix => ix.meta.cfg.storeVectors &&
          ix.meta.cfg.storage == h.meta.cfg.storage)) None
      else Some((spark.read.parquet(tablePath)
        .select(col(es.head.idCol), explode(col(es.head.vecCol)).as("__tok")),
        es.head.idCol, "__tok"))
    graft.ops.MaxSim.maxsimManyMulti(idxs, queries, k, kPerToken = c.kPerToken,
      probes = idxs.map(ix => c.probesFor(ix.meta.cfg.lists)),
      refine = c.refine, rerankTable = rt)
  }
}

/** The serve/decline COST FORMULAS, extracted pure so the BOUNDARY —
  * the smallest corpus at which each tier's gate flips to serve — is
  * spec-pinned instead of assumed (round-16 verdict, What's wrong #2;
  * `CostGateBoundarySpec`). Units are "rows touched per query row", the
  * reference's amcostestimate shape: every gate compares the index
  * path's work against the exact scan of all nTotal rows, and in the
  * JOIN routes the query-row count multiplies both sides, so it
  * cancels — the single-query and batch gates are the SAME formulas.
  * True = serve. */
private[plans] object CostGates {
  /** Per-root IVF work: the probed fraction of the corpus scanned as
    * codes (0.3 discount — code rows are far narrower than exact rows),
    * the bounded rerank fetch, and a small per-list descent term. */
  def ivfRootCost(rowCount: Long, lists: Int, probes: Int, k: Int,
      refine: Int): Double =
    rowCount.toDouble * probes / lists * 0.3 +
      math.min(k.toDouble * refine, rowCount.toDouble) +
      lists.toDouble * 0.01

  /** IVF serve gate (single-query serve and KNN-join route):
    * roots = (rowCount, lists, probes) per registered root. */
  def ivf(roots: Seq[(Long, Int, Int)], k: Int, refine: Int): Boolean =
    roots.map { case (n, lists, probes) =>
      ivfRootCost(n, lists, probes, k, refine)
    }.sum < roots.map(_._1).sum.toDouble

  /** Graph-tier gate (single serve, multi serve, and join route): the
    * summed ef-bounded beams plus the k-row fetch vs the exact scan. */
  def graph(nGraphs: Int, sumVertices: Long, ef: Int, k: Int): Boolean =
    nGraphs.toDouble * ef + k < sumVertices.toDouble

  /** Sharded-graph gate: per-shard beams vs the exact scan. */
  def sharded(shards: Int, totalVertices: Long, ef: Int, k: Int): Boolean =
    shards.toDouble * ef + k < totalVertices.toDouble

  /** Planning-time RECALL hint (round 17): true when the rerank pool
    * (k x refine) is far below a mean cluster's occupancy — the regime
    * where the KnnJoinAnchor measured recall as refine-limited (0.93 ->
    * 0.98 going refine 16 -> 64 on 1M rows / 64 lists). The serve still
    * runs; the hint points the operator at the knob BEFORE the recall
    * report does. The /8 keeps toy fixtures (hundreds of rows) quiet. */
  def refineLimited(rowCount: Long, lists: Int, k: Int, refine: Int): Boolean =
    lists > 0 && k.toDouble * refine < rowCount.toDouble / lists / 8

  /** MaxSim gate (single serve and join route): per query token, the
    * probed code scan plus the kPerToken pool, plus the doc-level exact
    * rescore, vs the exact maxsim scan (nTotal docs x qn tokens). */
  def maxsim(roots: Seq[(Long, Int, Int)], meanTokens: Double,
      kPerToken: Int, k: Int, refine: Int): Boolean = {
    val nTotal = roots.map(_._1).sum.toDouble
    val costIdx = roots.map { case (n, lists, probes) =>
      meanTokens * (n.toDouble * probes / lists * 0.3 + kPerToken)
    }.sum + k.toDouble * refine * 32
    costIdx < nTotal * meanTokens
  }
}

object AnnTopKRewrite {
  /** Spark jobs launched DURING PLANNING (prefilter escalation only):
    * each pool fetch and each survivor count is a bounded driver-blocking
    * job inside the optimizer rule — the Spark analogue of the
    * reference's scan-time escalation, which likewise does index work
    * before returning rows. Observable so operators can tell "slow
    * planning" apart from "slow execution"; reset is test-only. */
  val planningJobs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Stamped on every Filter this rule produces. Provenance the fixpoint
    * checks EXPLICITLY instead of inferring it from an In-over-id-column
    * conjunct: a legitimate user predicate `id IN (...) AND dist < r`
    * must stay servable, while the rule's own output must never be
    * re-served (Spark preserves tags through withNewChildren/makeCopy, so
    * the stamp survives the optimizer's own rewrites of the node). */
  val ServedFilterTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.ann.served")

  /** True while THIS thread is inside a planning-time helper job (the
    * prefilter survivor counts). The rule no-ops under the guard: a
    * survivor-count plan contains the user's own Filter, and optimizing
    * it would otherwise RE-FIRE the Filter-rooted serve cases (a sphere
    * conjunct re-launching range-candidate jobs once per escalation
    * round) — recursive serving of the planner's own internal queries.
    * ThreadLocal: Catalyst plans the nested query synchronously on the
    * calling thread, so the guard scopes exactly to the helper job. */
  private val inPlanning = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[plans] def planningGuardActive: Boolean = inPlanning.get()

  private[plans] def withPlanningGuard[T](body: => T): T = {
    val prev = inPlanning.get()
    inPlanning.set(java.lang.Boolean.TRUE)
    try body finally inPlanning.set(prev)
  }

  /** The candidate-id restriction over `ids`: a literal In( ) chain up
    * to Spark's own OptimizeIn threshold, an InSet past it. This rule
    * runs in extraOptimizations — AFTER the main optimizer batches — so
    * OptimizeIn never revisits the Filter it emits; at thousands of ids
    * a raw In chain blows Janino's 64KB method limit, whole-stage
    * codegen falls back to interpreted evaluation, and the restricted
    * scan ran ~10x SLOWER than the exact scan it replaced (measured at
    * 1280 ids on a 16-root partitioned serve). Parquet pushdown
    * translates both forms to the same sources.In filter. */
  private[graft] def idsInExpr(attr: Expression, ids: Seq[Long],
                               idLit: Long => Literal): Expression = {
    val thresh = org.apache.spark.sql.internal.SQLConf.get
      .optimizerInSetConversionThreshold
    if (ids.length > thresh)
      InSet(attr, ids.iterator.map(id => idLit(id).value).toSet)
    else
      In(attr, ids.iterator.map(idLit).toSeq)
  }

  /** The TOP-K candidate restriction INCLUDING the exact plan's
    * null-ordering rows: `id IN (...) OR vec IS NULL`. Spark ascending
    * sorts are NULLS FIRST, so an indexed-side row whose vector (or
    * token array) is NULL sits at the TOP of every exact top-k / window
    * partition — but no index ever stores nulls, so a bare id
    * restriction would silently DROP those rows and the served plan
    * would diverge from the exact plan it replaces (round-17 self
    * review; regression-tested in AnnRewriteSpec / KnnJoinServeSpec).
    * COST: ParquetFilters cannot convert IsNull on an array column, so
    * the whole Or stays a post-scan filter — the IN list loses its
    * row-group pruning. `graft.ann.topk.keepNulls` (see
    * `AnnTopKRewrite.keepNullsFor`) restores the bare pushable IN for
    * corpora the operator asserts — or the index attests — null-free.
    * RANGE serves always use
    * the bare id restriction — their retained sphere predicate
    * (`dist < r`) is null-killing, so the exact plan never returns
    * null-vector rows.
    *
    * `keepEmpty` (MAXSIM orderings only): `vec_maxsim([], q)` is 0.0 —
    * a VALUE, not null — so a doc with an EMPTY token array ranks like
    * any scored row in the exact window (ahead of every doc scoring
    * positive) yet contributes no token to the index; the restriction
    * must keep `size(tokens) = 0` rows too or the serve drops them
    * whenever fewer than k candidates score below zero. The SCALAR
    * metrics need no empty keep: their kernels `require` matching
    * dims, so a degenerate vector crashes the exact plan and the
    * served plan identically (parity holds by both failing). */
  private[graft] def topkRestriction(idAttr: Expression, ids: Seq[Long],
      idLit: Long => Literal, vecAttr: Expression,
      keepEmpty: Boolean = false): Expression = {
    val keep =
      if (keepEmpty)
        Or(IsNull(vecAttr), EqualTo(Size(vecAttr, legacySizeOfNull = false),
          Literal(0)))
      else IsNull(vecAttr)
    Or(idsInExpr(idAttr, ids, idLit), keep)
  }

  /** Does an optimized-plan string show the rule's id restriction, in
    * either literal form? The one predicate every plan assert
    * (specs, goldens, probes) should use. */
  def inServed(planStr: String): Boolean =
    planStr.contains(" IN ") || planStr.contains(" INSET ")

  /** Occurrences of the id restriction in a plan string — literal In
    * prints " IN ", the large-set form " INSET " (disjoint substrings).
    * The counting companion of [[inServed]]: asserts that distinguish
    * "user IN only" from "user IN + candidate restriction" count
    * through this, so a new literal form is added HERE once. */
  def candInCount(planStr: String): Int = {
    def c(n: String) =
      planStr.split(java.util.regex.Pattern.quote(n), -1).length - 1
    c(" IN ") + c(" INSET ")
  }

  /** A matched `ORDER BY <dist> LIMIT k` shape: the original plan `gl`,
    * its Sort over `child`, and the limit body's projection. */
  private[plans] final case class TopK(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
      projOpt: Option[Seq[NamedExpression]], k: Int)

  /** The id column a serve restricts, with the literal builder matching
    * its type (the plan is already analyzed — no implicit casts will be
    * inserted). */
  private[plans] final case class IdCol(attr: Attribute, lit: Long => Literal) {
    def in(ids: Seq[Long]): Expression = idsInExpr(attr, ids, lit)
  }

  /** The scan under a serve: a file relation (bare, column-pruned or
    * prefiltered, see the rule's `destructure`) and its prefilter. */
  private[plans] final case class Scan(rel: LogicalRelation, fs: HadoopFsRelation,
      pred: Option[Expression]) {
    def roots: Seq[String] = fs.location.rootPaths.map(_.toString)
  }

  /** A matched KNN-join shape: the rank Filter over the Window over the
    * (projected) join, the indexed side and the id/vec columns its
    * candidate restriction uses. */
  private[plans] final case class KnnJoin(f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]], indexedSide: LogicalPlan,
      indexedIsLeft: Boolean, id: IdCol, vecAttr: Attribute)
}

case class AnnTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import AnnTopKRewrite.{IdCol, KnnJoin, Scan, TopK}

  private def idCol(output: Seq[Attribute], name: String): Option[IdCol] =
    output.find(_.name == name).flatMap(a => a.dataType match {
      case org.apache.spark.sql.types.LongType    => Some(IdCol(a, (id: Long) => Literal(id)))
      case org.apache.spark.sql.types.IntegerType => Some(IdCol(a, (id: Long) => Literal(id.toInt)))
      case _ => None
    })

  /** The ONE IN-plan tail of every top-k serve: the original ordering
    * over the `restricted` child, the limit body's projection, the limit.
    * The plan's own exact Sort reranks whatever candidates the child
    * admits. */
  private def inPlan(t: TopK, restricted: LogicalPlan): LogicalPlan = {
    val sorted = Sort(t.sort.order, global = true, restricted)
    val body = t.projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
    GlobalLimit(Literal(t.k), LocalLimit(Literal(t.k), body))
  }

  /** The served top-k over candidate `ids` (no candidates: the exact
    * plan stays). */
  private def served(c: AnnConf, t: TopK, id: IdCol, ids: Seq[Long],
      complete: => Boolean): LogicalPlan =
    if (ids.isEmpty) t.gl
    else inPlan(t, topkFilter(c, t.sort, t.child, id, ids, complete))

  /** Stamped candidate Filter for the Sort-based TOP-K serves: the id
    * restriction plus the exact plan's null-ordering keep (see
    * [[AnnTopKRewrite.topkRestriction]]). The vec/tokens attribute is
    * recovered from the head sort key's references into `child`; a key
    * with no child reference (cannot happen for the matched distance
    * orderings) degrades to the bare id restriction. A maxsim ordering
    * additionally keeps empty token arrays (see
    * [[AnnTopKRewrite.topkRestriction]]'s `keepEmpty`). `complete` =
    * does the serving tier ATTEST that every source row entered the
    * index (IvfIndex.sourceComplete folded over every resolved root)?
    * Under the default keepNulls=auto an attested-complete corpus keeps
    * the bare parquet-pushable IN — there is nothing to keep. */
  private def topkFilter(c: AnnConf, sort: Sort, child: LogicalPlan, id: IdCol,
      ids: Seq[Long], complete: => Boolean): Filter = {
    ensureInPushdown(ids.length)
    val vecOpt =
      if (!keepNullsFor(c, complete)) None
      else sort.order.headOption
        .flatMap(_.child.references.find(a => child.outputSet.contains(a)))
    val maxsim = sort.order.headOption
      .exists(_.child.exists(_.isInstanceOf[VecMaxSimExpr]))
    stamped(Filter(vecOpt.map(v =>
        AnnTopKRewrite.topkRestriction(id.attr, ids, id.lit, v,
          keepEmpty = maxsim))
      .getOrElse(id.in(ids)), child))
  }

  /** `graft.ann.topk.keepNulls` — does a served top-k restrict with the
    * null-keeping `id IN (...) OR vec IS NULL` (so NULL-vector rows rank
    * first exactly as the ASC NULLS FIRST plan they replace would rank
    * them) or the bare parquet-pushable IN?
    *   - `auto` (default): bare IN when EVERY resolved root attests
    *     source completeness (recorded at build by comparing source vs
    *     written counts; IVF: IvfIndex.sourceComplete, tainted by
    *     null-bearing delta appends; graph/sharded:
    *     VamanaGraph/ShardedVamana.sourceComplete, cleared by
    *     insertAll, preserved by vacuum; MAXSIM tiers cannot attest — a
    *     token index never sees empty/null DOCS — and always keep the
    *     Or), the null-keeping Or otherwise. Exact either way; complete
    *     corpora — the overwhelmingly common case — keep row-group
    *     pruning.
    *   - `true`: always the null-keeping Or (the IsNull disjunct on an
    *     array column is not ParquetFilters-convertible, so the whole
    *     Or runs post-scan — candidate row-group pruning is lost).
    *   - `false`: always the bare IN — the operator asserts the corpus
    *     null-free regardless of what the index attests.
    * Range serves are unaffected in every mode (their retained sphere
    * predicate is null-killing). */
  private def keepNullsFor(c: AnnConf, complete: => Boolean): Boolean =
    c.keepNulls match {
      case "false" => false
      case "true"  => true
      case _       => !complete
    }

  /** The served plans inject `id IN (candidates)` over the SOURCE table —
    * the pushdown-threshold management (raise to the list size, clamp
    * down past the or-chain-SOE cap) is [[IvfIndex.ensureInPushdown]],
    * shared with the index's own candidate fetches. */
  private def ensureInPushdown(n: Int): Unit =
    IvfIndex.ensureInPushdown(spark, n)

  /** One distance opclass per operator, like the reference's
    * vector_l2_ops / vector_cosine_ops / vector_ip_ops. */
  private object DistOn {
    def unapply(e: Expression): Option[(String, AttributeReference, ArrayData)] = e match {
      case VecL2Expr(a: AttributeReference, Literal(v: ArrayData, _))      => Some(("l2", a, v))
      case VecCosDistExpr(a: AttributeReference, Literal(v: ArrayData, _)) => Some(("cosdist", a, v))
      case VecNegDotExpr(a: AttributeReference, Literal(v: ArrayData, _))  => Some(("negdot", a, v))
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def numLit(v: Any): Option[Double] = v match {
    case d: java.lang.Double  => Some(d)
    case f: java.lang.Float   => Some(f.toDouble)
    case i: java.lang.Integer => Some(i.toDouble)
    case l: java.lang.Long    => Some(l.toDouble)
    case s: java.lang.Short   => Some(s.toDouble)
    case b: java.lang.Byte    => Some(b.toDouble)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  /** Sphere range predicate (reference opclass strategy 2,
    * opclass.rs:145-172): some conjunct is the folded form of
    * `sphereContains` — `dist(attr, center) < radius`. Unrelated conjuncts
    * (including IN over non-id columns) are fine — the serve keeps the
    * whole original predicate; idempotence vs the rule's own output is
    * checked at the use sites against the catalog entry's id column. */
  private object SphereCond {
    def unapply(pred: Expression): Option[(String, AttributeReference, ArrayData, Double)] =
      conjuncts(pred).collectFirst(Function.unlift[Expression,
          (String, AttributeReference, ArrayData, Double)] {
        case LessThan(DistOn(metric, attr, qv), Literal(r, _)) =>
          numLit(r).map(rr => (metric, attr, qv, rr))
        case GreaterThan(Literal(r, _), DistOn(metric, attr, qv)) =>
          numLit(r).map(rr => (metric, attr, qv, rr))
        case _ => None
      })
  }

  /** Distance between a data vector COLUMN and a per-row query COLUMN —
    * the join-condition form of the sphere predicate (`vec_l2(d.vec,
    * q.center) < q.radius`). Either argument order: the metrics are
    * symmetric in their operands (l2/cosdist) or the reference treats the
    * query side uniformly (negdot), so side assignment happens at the
    * join matcher from attribute membership, not argument position. */
  private object DistCols {
    def unapply(e: Expression): Option[(String, AttributeReference, AttributeReference)] = e match {
      case VecL2Expr(a: AttributeReference, b: AttributeReference)      => Some(("l2", a, b))
      case VecCosDistExpr(a: AttributeReference, b: AttributeReference) => Some(("cosdist", a, b))
      case VecNegDotExpr(a: AttributeReference, b: AttributeReference)  => Some(("negdot", a, b))
      case _ => None
    }
  }

  /** Per-row radius: a queries-side column (possibly wrapped in the
    * analyzer's numeric widening Cast) or a plain literal. */
  private object RadiusExpr {
    def unapply(e: Expression): Option[Either[AttributeReference, Double]] = e match {
      case a: AttributeReference if a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        Some(scala.util.Left(a))
      case Cast(a: AttributeReference, _, _, _)
          if a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => Some(scala.util.Left(a))
      case Literal(v, _) => numLit(v).map(scala.util.Right(_))
      case _ => None
    }
  }

  /** True iff the subtree contains a Filter this rule produced (the
    * [[AnnTopKRewrite.ServedFilterTag]] stamp) — the idempotence guard for
    * the fixpoint user batch. Explicit provenance, not inference: a USER
    * predicate `id IN (...) AND dist < r` carries no tag and is served
    * normally. */
  private def isServedPlan(p: LogicalPlan): Boolean =
    p.exists {
      case f: Filter => f.getTagValue(AnnTopKRewrite.ServedFilterTag).contains(true)
      case _ => false
    }

  /** Stamp + return (Filter construction sites below). */
  private def stamped(f: Filter): Filter = {
    f.setTagValue(AnnTopKRewrite.ServedFilterTag, true)
    f
  }

  /** Supported sort children: bare relation, column-pruning Project,
    * deterministic prefilter, or Project over prefilter. */
  private def destructure(plan: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = plan match {
    case r: LogicalRelation => Some((r, None))
    case Project(pl, r: LogicalRelation)
        if pl.forall(_.isInstanceOf[AttributeReference]) => Some((r, None))
    case Filter(pred, r: LogicalRelation) if pred.deterministic => Some((r, Some(pred)))
    case Project(pl, Filter(pred, r: LogicalRelation))
        if pl.forall(_.isInstanceOf[AttributeReference]) && pred.deterministic =>
      Some((r, Some(pred)))
    case _ => None
  }

  /** Limit body: the Sort itself, or a deterministic Project over it.
    * Column pruning places the final projection between LocalLimit and
    * Sort for `.orderBy(dist).limit(k).select(cols)` queries; SQL
    * subselects (`SELECT id, round(vec_l2(...),3) AS dist FROM
    * (... ORDER BY vec_l2(...) LIMIT k)`) put COMPUTED columns there, so
    * the project list admits any deterministic expressions — the serve
    * rebuilds the identical projection over the candidate-filtered sort,
    * which stays well-formed because its inputs are the sort's output. */
  private object LimitBody {
    def unapply(p: LogicalPlan): Option[(Option[Seq[NamedExpression]], Sort)] = p match {
      case s: Sort => Some((None, s))
      case Project(pl, s: Sort) if pl.forall(_.deterministic) =>
        Some((Some(pl), s))
      case _ => None
    }
  }

  private def scanOf(plan: LogicalPlan): Option[Scan] =
    destructure(plan).flatMap { case (rel, pred) =>
      rel.relation match {
        case h: HadoopFsRelation => Some(Scan(rel, h, pred))
        case _ => None
      }
    }

  /** The one catalog resolve of a scan ([[AnnCatalog.resolve]]), plus
    * the resolved tier's id column in `output`. The graph, sharded and
    * token tiers have no prefilter machinery (like the reference's graph
    * AM and its `@#` recall harness), so a prefiltered scan resolves its
    * IVF tier only. */
  private def resolveIn(s: Scan, output: Seq[Attribute], kinds: Seq[Kind],
      col: String, metric: String): Option[(AnnCatalog.Tier, IdCol)] =
    for {
      tier <- AnnCatalog.resolve(spark, s.roots, s.fs.location.inputFiles.toSeq,
        if (s.pred.isEmpty) kinds else kinds.filter(_ == Kind.Ivf),
        Some(col), Some(metric))
      id <- idCol(output, tier.entries.head.idCol)
    } yield (tier, id)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (AnnTopKRewrite.planningGuardActive) return plan
    val c = AnnConf(spark)
    if (!c.enable) return plan
    plan.transformDown {
      // IDEMPOTENCE: the user batch runs to fixpoint, so the rule sees its
      // own output — every serve stamps its Filter with ServedFilterTag;
      // re-serving would launch redundant planning jobs every iteration.
      // A USER `id IN (...)` conjunct carries no tag and still serves.
      case gl @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, LimitBody(projOpt, sort @ Sort(
            Seq(SortOrder(sortExpr, Ascending, _, _)),
            true, child, _)))) if k > 0 && !isServedPlan(child) =>
        serveTopK(c, TopK(gl, sort, child, projOpt, k), sortExpr).getOrElse(gl)

      // `WHERE vec <<metric>> sphere(c, r)` with NO accompanying order-by
      // (reference pushdown_range.slt): the sphere's center becomes the
      // scan vector and the radius a cutoff — candidates from the index's
      // range scan, the original predicate retained for exactness.
      case f @ Filter(SphereCond(metric, attr, cv, radius), rel: LogicalRelation)
          if c.rangeEnable =>
        serveRange(c, f, metric, attr, cv, radius, rel).getOrElse(f)

      // BATCH range as a JOIN (the SQL surface of rangeSearchManyMulti):
      //   SELECT ... FROM queries q JOIN docs d
      //     ON vec_l2(d.vec, q.center) < q.radius
      // — an index nested-loop range join. The queries side is collected
      // at planning time (bounded), each sphere's estimate survivors come
      // from the index's codes-only range scan, and the UNION of candidate
      // ids restricts the indexed side; the original join condition is
      // retained, so output is exact. Without the serve this shape plans
      // as a broadcast nested-loop join over the FULL table per query row.
      case j @ Join(_, _, org.apache.spark.sql.catalyst.plans.Inner, Some(_), _)
          if c.rangeJoinEnable && !isServedPlan(j) =>
        serveRangeJoin(c, j).getOrElse(j)

      // TOP-K KNN JOIN (the SQL surface of searchMany / searchManyMulti —
      // SURVEY §2.6's batch KNN-join; the reference drives one scan per
      // query, crates/vchordrq/src/search.rs:36):
      //   SELECT ... FROM (
      //     SELECT q.*, e.*, row_number() OVER (PARTITION BY q.<key>
      //       ORDER BY vec_l2(e.vec, q.center) [, tiebreaks]) AS rn
      //     FROM queries q JOIN docs e) WHERE rn <= k
      // — the lateral "k nearest per query row". The bounded queries side
      // is collected at planning time, per-query candidates come from ONE
      // batched searchManyMulti call (one root or a partitioned corpus),
      // the indexed side is restricted to the candidate UNION, and the
      // window reranks with the ORIGINAL distance expression, so each
      // query's output is the exact top-k of its candidate superset (the
      // standard ANN serve contract). Without the serve this shape is a
      // broadcast nested-loop cross join over the full table per query
      // row.
      case f @ Filter(_, _: Window)
          if c.knnJoinEnable && !isServedPlan(f) =>
        serveKnnJoin(c, f).getOrElse(f)
    }
  }

  /** Every `ORDER BY <dist> LIMIT k` serve: one catalog resolve, then the
    * one top-k serve of the resolved family, for one root or a
    * partitioned table's many. A vector ordering resolves IVF first (the
    * only family with prefilter escalation), then a vchordg-style graph,
    * then the distributed graph tier, each serving only its own metric
    * (one opclass per operator, like the reference); a MaxSim ordering
    * (reference opclass strategy 3) resolves the token index. */
  private def serveTopK(c: AnnConf, t: TopK, sortExpr: Expression): Option[LogicalPlan] = {
    val (kinds, col, metric, qv) = sortExpr match {
      case DistOn(m, a, v) => (Kind.vectors, a.name, m, v)
      case VecMaxSimExpr(a: AttributeReference, Literal(v: ArrayData, _)) =>
        (Seq(Kind.Tokens), a.name, "negdot", v)
      case _ => return None
    }
    scanOf(t.child).flatMap { s =>
      resolveIn(s, t.child.output, kinds, col, metric).flatMap {
        case (tier, id) => tier.kind match {
          case Kind.Ivf     => serveMulti(c, t, tier.entries, id, qv, s.pred)
          case Kind.Graph   => serveGraphMulti(c, t, tier.entries, id, qv)
          case Kind.Sharded => serveShardedGraph(c, t, tier.entries.head, id, qv)
          case Kind.Tokens  => serveMaxSimMulti(c, t, tier.entries, id, qv)
        }
      }.orElse(if (kinds == Kind.vectors) servePartial(c, t, s, col, metric, qv) else None)
    }
  }

  /** PARTIAL index (reference partition.slt:40-48): served only when the
    * query predicate IMPLIES the index predicate (index conjuncts ⊆ query
    * conjuncts); leftover conjuncts run the prefilter escalation against
    * the partial index's own row population. */
  private def servePartial(c: AnnConf, t: TopK, s: Scan, col: String,
      metric: String, qv: ArrayData): Option[LogicalPlan] =
    for {
      pred <- s.pred
      (pe, remaining) <- AnnCatalog.lookupPartials(s.roots)
        .iterator.flatMap(pe =>
          partialMatch(pe.predicateSql, pred, s.rel.output).map(pe -> _))
        .nextOption()
      if col == pe.entry.vecCol
      id <- idCol(t.child.output, pe.entry.idCol)
      if AnnCatalog.index(spark, pe.entry).meta.cfg.metric == metric
      served <- serveMulti(c, t, Seq(pe.entry), id, qv, remaining)
    } yield served

  /** Index-served top-k KNN join (see the match site). Declines — leaving
    * the original exact plan — when: the window is not a single
    * row_number() ranked ascending by a column-column distance; the rank
    * bound conjunct is missing; the join carries a residual condition
    * touching the INDEXED side (it breaks the per-query k-floor the
    * candidate restriction guarantees; a deterministic queries-side-only
    * condition filters query rows, not candidates, and is applied before
    * the bounded collect instead); the window partition keys off the
    * indexed side; the queries side is non-deterministic, past the HARD
    * cap (`graft.ann.knn.join.maxQueriesTotal` — declined with a loud
    * log naming the DSL batch faces), or holds a NULL center (its pairs
    * rank by null-dist NULLS FIRST — semantics a candidate restriction
    * cannot reproduce); the candidate union exceeds `graft.ann.maxInList`;
    * or the cost model prefers the exact scan. Planning cost: one capped
    * queries-side collect plus ONE batched candidate job per
    * `graft.ann.knn.join.maxQueries`-sized SLICE of the (content-deduped)
    * query set — 1 + ceil(Q / maxQueries) bounded driver-blocking jobs,
    * the former EXACTLY-TWO for sets within one slice — all counted in
    * [[AnnTopKRewrite.planningJobs]]; a bulk query set amortizes through
    * the batch machinery instead of falling back to the O(Q x N) cross
    * join. A deterministic PREFILTER on the indexed side escalates
    * instead of declining (the single-query serve's contract, batched per
    * slice): the predicate is query-independent, so each round is one
    * pooled candidate job plus one bounded survivor fetch flooring EVERY
    * query's survivor count at once; probes/refine x4 until every query
    * holds k survivors or the pools provably cover the table. */
  private def serveKnnJoin(c: AnnConf, f: Filter): Option[LogicalPlan] = {
    val w = f.child.asInstanceOf[Window]
    // exactly one window expression: row_number() — rank() admits past-k
    // ties and dense_rank changes what the bound counts, so only
    // row_number's "k rows per partition" matches the KNN-join contract
    val rnAttr = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)) => a.toAttribute
      case _ => return None
    }
    // the rank bound: some conjunct `rn <= k` (any literal spelling);
    // other conjuncts only further restrict the output and are kept
    val k = conjuncts(f.condition).collectFirst {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(n))
          if a.exprId == rnAttr.exprId => n
      case LessThan(a: AttributeReference, IntegerLiteral(n))
          if a.exprId == rnAttr.exprId => n - 1
      case GreaterThanOrEqual(IntegerLiteral(n), a: AttributeReference)
          if a.exprId == rnAttr.exprId => n
      case GreaterThan(IntegerLiteral(n), a: AttributeReference)
          if a.exprId == rnAttr.exprId => n - 1
      case EqualTo(a: AttributeReference, IntegerLiteral(1))
          if a.exprId == rnAttr.exprId => 1
      case EqualTo(IntegerLiteral(1), a: AttributeReference)
          if a.exprId == rnAttr.exprId => 1
    } match {
      case Some(n) if n >= 1 => n
      case _ => return None
    }
    // strip the optimizer's WindowGroupLimit (physical per-partition
    // pruning inserted by InferWindowGroupLimit — same rows)
    val wchild = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val (projOpt, join) = wchild match {
      case j: Join => (None, j)
      case p @ Project(pl, j: Join) if pl.forall(_.deterministic) =>
        (Some(pl), j)
      case _ => return None
    }
    // per-query top-k needs the bare cross product ON THE INDEXED SIDE: a
    // residual join condition touching the indexed side (or mixed) could
    // leave fewer than k qualifying rows among the candidates — the
    // under-k recall problem the single-query serve solves with
    // escalation; those conservatively decline. A deterministic condition
    // referencing ONLY the queries side filters query ROWS, not
    // candidates — it is applied to the queries side before the bounded
    // collect and the original join keeps it for execution, so the serve
    // stays exact (checked per side assignment below, where the queries
    // side is known).
    join.joinType match {
      case org.apache.spark.sql.catalyst.plans.Inner |
           org.apache.spark.sql.catalyst.plans.Cross => ()
      case _ => return None
    }
    // window order/partition expressions are extracted into the Project
    // below the Window by the analyzer (`_w0`) — resolve them back
    def resolveThroughProj(e: Expression): Expression = e match {
      case a: AttributeReference =>
        projOpt.flatMap(_.collectFirst {
          case al @ Alias(c, _) if al.exprId == a.exprId => c
        }).getOrElse(a)
      case other => other
    }
    val headOrder = w.orderSpec.headOption.getOrElse(return None)
    if (headOrder.direction != Ascending) return None
    val (kinds, metric, readings) = resolveThroughProj(headOrder.child) match {
      // side assignment as in the range join: the metrics are operand-
      // symmetric, so try both (vec, center) readings on both join sides
      case DistCols(m, a, b) => (Kind.vectors, m, Seq((a, b), (b, a)))
      // the MULTIVECTOR ordering (strategy 3, reference
      // src/index/vchordrq/scanners/maxsim.rs:14-796): `row_number()
      // OVER (PARTITION BY q.<key> ORDER BY vec_maxsim(e.tokens,
      // q.qtokens))` — "k best documents per query DOCUMENT", answered
      // through the batched maxsim face instead of the exact O(Q x N)
      // maxsim cross join. vec_maxsim is ASYMMETRIC (doc tokens left,
      // query tokens right), so side assignment is fixed by argument
      // position — no both-ways reading
      case VecMaxSimExpr(d: AttributeReference, q: AttributeReference) =>
        (Seq(Kind.Tokens), "negdot", Seq((d, q)))
      case _ => return None
    }
    val sides = readings.flatMap { case (v, q) =>
      if (join.left.outputSet.contains(v) && join.right.outputSet.contains(q))
        Seq((join.left, join.right, v, q, true))
      else if (join.right.outputSet.contains(v) && join.left.outputSet.contains(q))
        Seq((join.right, join.left, v, q, false))
      else Nil
    }
    sides.view.flatMap { case (indexedSide, queriesSide, vecAttr, qAttr, indexedIsLeft) =>
      val condQueriesOnly = join.condition.forall(cond =>
        cond.deterministic && cond.references.subsetOf(queriesSide.outputSet))
      if (!condQueriesOnly) None
      else {
        val effQueries = join.condition
          .map(cond => Filter(cond, queriesSide): LogicalPlan).getOrElse(queriesSide)
        // ONE bounded queries-side collect per side assignment, memoized:
        // a route reads it for its cost gate and again for its slices
        lazy val centers = collectCenters(c, effQueries, qAttr)
        lazy val tokenSets = collectTokenQueries(c, effQueries, qAttr)
        joinTier(w, resolveThroughProj, indexedSide, effQueries, kinds,
            vecAttr.name, metric).flatMap { case (s, tier, id) =>
          val j = KnnJoin(f, w, join, projOpt, indexedSide, indexedIsLeft, id, vecAttr)
          tier.kind match {
            case Kind.Ivf     => knnJoinIvf(c, j, k, tier.entries, s.pred, () => centers)
            case Kind.Graph   => knnJoinGraph(c, j, k, tier.entries, () => centers)
            case Kind.Sharded => knnJoinSharded(c, j, k, tier.entries.head, () => centers)
            case Kind.Tokens  => knnJoinMaxSim(c, j, k, tier.entries, s.roots, () => tokenSets)
          }
        }
      }
    }.headOption
  }

  /** The guard every KNN-join route shares, then the one catalog resolve
    * of its indexed side. "k per QUERY row": the window partition must
    * key off the queries side — partitioning by anything on the indexed
    * side is a different operator (k query rows per doc) the candidate
    * restriction breaks — and queries-side rows must reproduce
    * identically at execution time. */
  private def joinTier(w: Window, resolveThroughProj: Expression => Expression,
      indexedSide: LogicalPlan, queriesSide: LogicalPlan, kinds: Seq[Kind],
      col: String, metric: String): Option[(Scan, AnnCatalog.Tier, IdCol)] =
    if (w.partitionSpec.isEmpty ||
        !w.partitionSpec.forall(pe =>
          resolveThroughProj(pe).references.subsetOf(queriesSide.outputSet)) ||
        queriesSide.exists(p => !p.expressions.forall(_.deterministic))) None
    else for {
      s <- scanOf(indexedSide)
      (tier, id) <- resolveIn(s, indexedSide.output, kinds, col, metric)
    } yield (s, tier, id)

  /** The one bounded queries-side collect every KNN-join route shares.
    * NULL centers decline (their pairs rank by null dist NULLS FIRST —
    * semantics a candidate restriction cannot reproduce); identical
    * centers dedupe by CONTENT and share a candidate fetch; a set past
    * `graft.ann.knn.join.maxQueriesTotal` declines LOUDLY, naming the
    * DSL batch faces built for bulk query tables (the exact windowed
    * cross join that then runs is O(Q x N) — at that Q the user should
    * reach for `searchMany`/`searchManyMulti` or register the table for
    * the served batch routes). An empty array means an empty queries
    * side — the caller short-circuits to an empty relation. The hard cap
    * never undercuts a user-RAISED per-slice cap (see
    * [[AnnConf.knnJoinMaxQueriesTotal]]). */
  private def collectCenters(c: AnnConf, queriesSide: LogicalPlan,
      centerAttr: AttributeReference): Option[Array[Array[Float]]] = {
    val maxQTotal = c.knnJoinMaxQueriesTotal
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val qRows = ColumnBridge.ofRows(spark,
        Project(Seq(Alias(centerAttr, "c")()), queriesSide))
      .limit(maxQTotal + 1).collect()
    if (qRows.length > maxQTotal) {
      logWarning(s"KNN-join serve declined: queries side exceeds " +
        s"graft.ann.knn.join.maxQueriesTotal=$maxQTotal rows — the exact " +
        "O(queries x table) windowed cross join will run. For bulk query " +
        "tables use the batched DSL faces (IvfIndex.searchMany / " +
        "searchManyMulti, VamanaGraph.searchManyMulti) or raise the cap.")
      None
    } else if (qRows.exists(_.isNullAt(0))) None
    else Some(qRows.iterator.map(_.getSeq[Float](0)).toArray
      .distinct.map(_.toArray))
  }

  /** The maxsim sibling of [[collectCenters]]: one bounded queries-side
    * collect of TOKEN-SET queries (array<array<float>>), content-deduped.
    * NULL or EMPTY token sets decline — an empty query scores 0.0 for
    * EVERY document (vec_maxsim sums over query tokens), a full-table
    * tie a candidate restriction cannot reproduce. Shares the KNN-join
    * caps (`graft.ann.knn.join.maxQueries[Total]`) and their one-way
    * interaction contract. */
  private def collectTokenQueries(c: AnnConf, queriesSide: LogicalPlan,
      qAttr: AttributeReference): Option[Array[Array[Array[Float]]]] = {
    val maxQTotal = c.knnJoinMaxQueriesTotal
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val qRows = ColumnBridge.ofRows(spark,
        Project(Seq(Alias(qAttr, "q")()), queriesSide))
      .limit(maxQTotal + 1).collect()
    if (qRows.length > maxQTotal) {
      logWarning(s"maxsim-join serve declined: queries side exceeds " +
        s"graft.ann.knn.join.maxQueriesTotal=$maxQTotal rows — the exact " +
        "O(queries x table) maxsim cross join will run. For bulk query " +
        "tables use the batched DSL faces (MaxSim.maxsimManyMulti, " +
        "AnnCatalog.servedMaxsimMany) or raise the cap.")
      None
    } else if (qRows.exists(_.isNullAt(0))) None
    else {
      val sets = qRows.iterator
        .map(_.getSeq[scala.collection.Seq[Float]](0)
          .map(_.toVector).toVector)
        .toArray.distinct
      if (sets.exists(_.isEmpty)) None
      else Some(sets.map(_.map(_.toArray).toArray))
    }
  }

  /** MaxSim windowed KNN join (strategy 3, reference
    * src/index/vchordrq/scanners/maxsim.rs:14-796): the [[serveKnnJoin]]
    * shape ordered by `vec_maxsim(e.tokens, q.qtokens)` — "k best
    * documents per query DOCUMENT" — served through the batched maxsim
    * face ([[graft.ops.MaxSim.maxsimManyMulti]]: one pooled token
    * retrieval + one exact rescore per slice) with the same contract as
    * the scalar routes: one memoized bounded queries-side collect,
    * slice-bounded planning jobs, the candidate-doc UNION IN-restricting
    * the indexed side, and the ORIGINAL window kept for the exact
    * rerank. Declines mirror the scalar matcher (residual indexed-side
    * conditions, indexed-side partition keys, non-deterministic or
    * oversized queries sides, NULL/empty token sets, pool/IN budgets,
    * cost gate). A prefilter would need a maxsim survivor-escalation
    * loop the maxsim face does not have, so prefiltered indexed sides
    * decline (the resolve admits no token tier for them). */
  private def knnJoinMaxSim(c: AnnConf, j: KnnJoin, k: Int,
      es: Seq[AnnCatalog.Entry], roots: Seq[String],
      tokenSets: () => Option[Array[Array[Array[Float]]]]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col => fcol, explode}
    val idxs = es.map(AnnCatalog.index(spark, _))
    val probes = idxs.map(ix => c.probesFor(ix.meta.cfg.lists))
    // k-floor + cost gate (serveMaxSimMulti's formulas; the query-row
    // count multiplies both sides of the cost comparison, so a
    // representative single-query figure decides — token counts enter
    // via the collected queries, checked per slice below)
    if (idxs.length.toLong * k > c.maxInList) return None
    val costOk = !c.costEnable || tokenSets().exists { qs =>
      val qn = if (qs.isEmpty) 0.0 else qs.map(_.length).sum.toDouble / qs.length
      CostGates.maxsim(idxs.zip(probes).map { case (ix, p) =>
        (ix.rowCount, ix.meta.cfg.lists, p) }, qn, c.kPerToken, k, c.refine)
    }
    if (!costOk) return None
    val h = idxs.head
    // codes-only / storage-mixed children rescore from the corpus itself
    // (the indexed side's own files), exploded to one row per token — the
    // servedMaxsimMany rule
    def rtOf: Option[(org.apache.spark.sql.DataFrame, String, String)] =
      if (idxs.forall(ix => ix.meta.cfg.storeVectors &&
          ix.meta.cfg.storage == h.meta.cfg.storage)) None
      else Some((spark.read.parquet(roots: _*)
        .select(fcol(es.head.idCol), explode(fcol(es.head.vecCol)).as("__tok")),
        es.head.idCol, "__tok"))
    serveKnnJoinRestrict(c, j, tokenSets, keepEmpty = true) { slice =>
      // the batched face's own pool budget, checked here so the planner
      // DECLINES instead of throwing mid-rule
      if (idxs.length.toLong * slice.map(_.length.toLong).sum * c.kPerToken >
          c.maxsimMaxPoolTuples) None
      else {
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val queries = slice.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        Some(graft.ops.MaxSim.maxsimManyMulti(idxs, queries, k,
            kPerToken = c.kPerToken, probes = probes, refine = c.refine,
            rerankTable = rtOf)
          .select("doc").distinct()
          .collect().map(_.getLong(0)))
      }
    }
  }

  /** Shared tail of every KNN-join route: takes the side assignment's
    * memoized queries-side centers (see [[collectCenters]]), fetches
    * candidates in `graft.ann.knn.join.maxQueries`-sized SLICES through
    * the route's batched candidate job — a bulk query set amortizes
    * through the batch machinery instead of declining to the O(Q x N)
    * windowed cross join (one bounded candidate job per slice, so
    * planning cost is 1 + ceil(Q / maxQueries) driver-blocking jobs; a
    * set within the per-slice cap keeps the former EXACTLY-TWO) — then
    * the IN-restriction of the candidate UNION over the indexed side,
    * and the plan rebuild with the original window kept for exact
    * rerank. */
  private def serveKnnJoinRestrict[C: scala.reflect.ClassTag](c: AnnConf,
      j: KnnJoin, centersOf: () => Option[Array[C]],
      keepEmpty: Boolean = false,
      complete: => Boolean = false)(
      cands: Array[C] => Option[Array[Long]]): Option[LogicalPlan] = {
    val maxInList = c.maxInList
    val sliceSize = math.max(1, c.knnJoinMaxQueries)
    centersOf().flatMap { centers =>
      if (centers.isEmpty) Some(LocalRelation(j.f.output))
      else {
        // per-slice fold with an EARLY EXIT on the running distinct-id
        // count: once the ids already exceed maxInList no remaining slice
        // can rescue the serve, so the decline fires without paying for
        // the unfetched candidate jobs (with maxQueriesTotal=4096 and
        // 256-query slices, up to 16 driver-blocking jobs — plus
        // prefilter escalation rounds — would otherwise run before a
        // post-hoc decline; round-16 ADVICE)
        val slices = centers.grouped(sliceSize).toArray
        val seen = scala.collection.mutable.HashSet.empty[Long]
        var sliceIdx = 0
        var candDeclined = false
        while (!candDeclined && sliceIdx < slices.length &&
            seen.size <= maxInList) {
          cands(slices(sliceIdx)) match {
            case None => candDeclined = true
            case Some(got) => seen ++= got; sliceIdx += 1
          }
        }
        val ids0: Option[Array[Long]] =
          if (candDeclined) None
          else if (seen.size > maxInList) {
            // loud: this decline lands AFTER (some) candidate jobs ran,
            // and the exact cross join that follows is the expensive
            // path — tell the operator which budget to move, and how
            // much work the early exit saved
            logWarning(s"KNN-join serve declined AFTER candidate fetch: " +
              s"${seen.size} distinct candidate ids already exceed " +
              s"graft.ann.maxInList=$maxInList after $sliceIdx of " +
              s"${slices.length} slices (remaining slices skipped) — the " +
              "exact windowed cross join will run. Raise the budget, " +
              "lower k/refine, or use the DSL batch faces for this " +
              "query volume.")
            None
          } else Some(seen.toArray)
        ids0.flatMap { raw =>
          val ids = raw.sorted
          // empty candidates only arise from an empty/degenerate index —
          // decline rather than guess at the table's rows
          if (ids.isEmpty) None
          else {
            ensureInPushdown(ids.length)
            val restricted = stamped(Filter(
              if (keepNullsFor(c, complete))
                AnnTopKRewrite.topkRestriction(j.id.attr, ids, j.id.lit,
                  j.vecAttr, keepEmpty = keepEmpty)
              else j.id.in(ids),
              j.indexedSide))
            val newJoin = if (j.indexedIsLeft) j.join.copy(left = restricted)
                          else j.join.copy(right = restricted)
            val newBody: LogicalPlan = j.projOpt
              .map(pl => Project(pl, newJoin): LogicalPlan).getOrElse(newJoin)
            val newWchild = j.w.child match {
              case wgl: WindowGroupLimit => wgl.withNewChildren(Seq(newBody))
              case _ => newBody
            }
            Some(j.f.withNewChildren(Seq(j.w.withNewChildren(Seq(newWchild)))))
          }
        }
      }
    }
  }

  /** Graph-tier KNN join: the same windowed rank shape served from
    * driver-resident Vamana graphs (single registration or per-child
    * partitioned cover) — every query beams against every graph ON THE
    * DRIVER (zero Spark jobs at planning, the serveGraphMulti economics
    * times the query count; one bounded queries-side collect only).
    * Per-(query, graph) candidate budgets match the planner's graph
    * serve: k on exact graphs, the full ef pool on quantized ones (the
    * window's exact rerank corrects estimate ordering). Declines mirror
    * [[knnJoinIvf]] plus the graph cost gate. */
  private def knnJoinGraph(c: AnnConf, j: KnnJoin, k: Int,
      ges: Seq[AnnCatalog.Entry],
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    val gs = ges.map(AnnCatalog.graph(spark, _))
    val ef = c.efSearch
    // per query row: summed beam work vs the exact cross join's per-query
    // row scan (serveGraphMulti's gate — M cancels)
    if (c.costEnable &&
        !CostGates.graph(gs.length, gs.map(_.ids.length.toLong).sum, ef, k)) None
    else serveKnnJoinRestrict(c, j, centersOf,
        complete = gs.forall(_.sourceComplete)) { centers =>
      Some(centers.flatMap { q =>
        gs.flatMap { g =>
          val kCand = if (g.quantized) math.max(ef, k) else k
          g.search(q, kCand, ef).map(_._1)
        }
      })
    }
  }

  /** Sharded-graph KNN join: the same windowed rank shape served from
    * the DISTRIBUTED graph tier — the whole batch beams in ONE
    * [[graft.index.ShardedVamana.Handle.search]] call over the resident
    * shard RDD (Spark jobs at planning time, like the single-query
    * sharded serve); quantized shards keep the ef pool as candidates
    * and the window's exact rerank restores ordering. */
  private def knnJoinSharded(c: AnnConf, j: KnnJoin, k: Int,
      se: AnnCatalog.Entry,
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    val h = AnnCatalog.shardedGraph(spark, se)
    val ef = c.efSearch
    if (c.costEnable && !CostGates.sharded(h.shards, h.totalVertices, ef, k)) None
    else serveKnnJoinRestrict(c, j, centersOf,
        complete = h.sourceComplete) { centers =>
      AnnTopKRewrite.planningJobs.incrementAndGet()
      val queries = centers.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      val kCand = if (h.cfg.bits > 0) math.max(ef, k) else k
      Some(h.search(spark, queries, kCand, ef, allowEstimates = true)
        .select("id").distinct()
        .collect().map(_.getLong(0)))
    }
  }

  private def knnJoinIvf(c: AnnConf, j: KnnJoin, k: Int,
      es: Seq[AnnCatalog.Entry], predOpt: Option[Expression],
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    val idxs = es.map(AnnCatalog.index(spark, _))
    val maxInList = c.maxInList
    val refine = c.refine
    // cost gate: per query row, summed per-root index work vs the exact
    // cross join touching every indexed row — the query-row count
    // multiplies both sides, so it cancels (serveMulti's formula)
    val costOk = !c.costEnable ||
      CostGates.ivf(idxs.map(ix => (ix.rowCount, ix.meta.cfg.lists,
        c.probesFor(ix.meta.cfg.lists))), k, refine)
    // recall hint (not a gate): at production cluster occupancy the
    // rerank pool is the recall limiter — say so at planning time so
    // the operator finds the knob before the recall report does
    idxs.find(ix => CostGates.refineLimited(ix.rowCount,
        ix.meta.cfg.lists, k, refine)).foreach { ix =>
      logWarning(s"KNN-join serve: k*refine = ${k * refine} is far " +
        s"below the mean cluster occupancy " +
        s"(~${ix.rowCount / math.max(1, ix.meta.cfg.lists)} rows/list " +
        s"on ${ix.dir}) — recall may be refine-limited; raise " +
        "graft.ann.refine (the 1M-row anchor measured recall " +
        "0.93 -> 0.98 going refine 16 -> 64)")
    }
    // searchManyMulti reranks from the roots' own stored vectors or
    // from one rerank table: codes-only children would need a union
    // table the per-child entries cannot supply, so codes-only serves
    // only on one root with a tablePath (rtOf below)
    val multiOk = idxs.forall(_.meta.cfg.storeVectors) ||
      (idxs.length == 1 && es.head.tablePath.nonEmpty)
    // batched-face driver-pool budget (the face itself refuses
    // loudly past it; the planner declines instead of throwing)
    val maxPool = c.batchMaxPoolTuples
    if (!costOk || !multiOk) None
    else serveKnnJoinRestrict(c, j, centersOf,
        complete = idxs.forall(_.sourceComplete)) { centers =>
      import spark.implicits._
      val queries = centers.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      def rtOf: Option[(org.apache.spark.sql.DataFrame, String, String)] = {
        val e0 = es.head
        if (idxs.head.meta.cfg.storeVectors || e0.tablePath.isEmpty) None
        else Some((spark.read.parquet(e0.tablePath), e0.idCol, e0.vecCol))
      }
      // per-query candidate POOLS of k*r ids by estimate order (the
      // escalateMulti() pool semantics — refine=1, the survivor floor needs
      // the whole pool, not its reranked top-k) at the given probe
      // scale — ONE batched job however many queries and roots
      def pools(probeScale: Int, r: Int): Option[Map[Long, Array[Long]]] = {
        val nCand = math.max(k * r, k)
        if (idxs.length.toLong * queries.length * nCand > maxPool) None
        else {
          AnnTopKRewrite.planningJobs.incrementAndGet()
          val probes = idxs.map(ix =>
            math.min(ix.meta.cfg.lists,
              c.probesFor(ix.meta.cfg.lists) * probeScale)).max
          Some(IvfIndex.searchManyMulti(idxs, queries, nCand,
              probes = probes, refine = 1, rerankTable = rtOf)
            .select("qid", "id").as[(Long, Long)].collect()
            .groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
        }
      }
      predOpt match {
        case None =>
          // no prefilter: per-query exact-reranked top-k candidates in
          // one batched job (the window reranks the union again)
          val nCand = math.max(k * refine, k)
          if (idxs.length.toLong * queries.length * nCand > maxPool) None
          else {
            AnnTopKRewrite.planningJobs.incrementAndGet()
            val probes = idxs.map(ix => c.probesFor(ix.meta.cfg.lists)).max
            Some(IvfIndex.searchManyMulti(idxs, queries, k, probes = probes,
                refine = refine, rerankTable = rtOf)
              .select("id").as[Long].collect())
          }
        case Some(_) =>
          // PREFILTER on the indexed side — the escalation contract of
          // the single-query serve, per query: the predicate is
          // query-INDEPENDENT, so one bounded survivor fetch per round
          // (ids of `indexedSide` rows — the user Filter is inside it —
          // within the pooled candidates) floors every query's
          // survivor count at once; probes/refine escalate x4 until
          // every query holds k survivors or the pools provably cover
          // the table. Overflowing maxInList declines to the exact
          // plan (a giant IN loses to the cross join).
          def survivorSet(allIds: Array[Long]): Option[Set[Long]] =
            if (allIds.isEmpty) Some(Set.empty)
            else if (allIds.length > maxInList) None
            else {
              AnnTopKRewrite.planningJobs.incrementAndGet()
              ensureInPushdown(allIds.length)
              AnnTopKRewrite.withPlanningGuard {
                Some(ColumnBridge.ofRows(spark,
                    Filter(j.id.in(allIds), j.indexedSide))
                  .select(j.id.attr.name).as[Long].collect().toSet)
              }
            }
          var scale = 1
          var r = refine
          // coverage = "the pool provably holds EVERY row": full
          // probes per root AND k*r at least the SUMMED corpus row
          // count — pools() truncates to k*r candidates per query
          // GLOBALLY across roots (searchManyMulti's final
          // fold), so a per-root rowCount comparison would declare
          // coverage with rows of the larger corpus missing and skip
          // the survivor floor
          def covered: Boolean =
            idxs.forall(ix =>
              c.probesFor(ix.meta.cfg.lists) * scale >= ix.meta.cfg.lists) &&
              k.toLong * r >= idxs.map(_.rowCount).sum
          var out: Option[Array[Long]] = None
          var done = false
          while (!done) {
            pools(scale, r) match {
              case None => done = true // pool budget: decline
              case Some(byQ) =>
                val allIds = byQ.valuesIterator.flatten.toArray.distinct
                if (allIds.length > maxInList) done = true // decline
                else if (covered) { out = Some(allIds); done = true }
                else survivorSet(allIds) match {
                  case None => done = true // IN budget: decline
                  case Some(surv) =>
                    // a query absent from the pool map retrieved
                    // nothing — zero survivors, keep escalating
                    val minSurv =
                      if (byQ.size < queries.length) 0L
                      else byQ.valuesIterator
                        .map(_.count(surv.contains).toLong).min
                    if (minSurv >= k) { out = Some(allIds); done = true }
                    else { scale *= 4; r *= 4 }
                }
            }
          }
          // loud: a budget decline here lands AFTER one or more
          // escalation rounds already ran planning jobs, and the
          // prefiltered exact cross join that follows is the
          // expensive path
          if (out.isEmpty)
            logWarning("KNN-join prefilter escalation declined after " +
              s"running its planning rounds (pool budget $maxPool, IN " +
              s"budget $maxInList) — the exact windowed cross join " +
              "will run. Raise the budgets or pre-filter the table " +
              "into a registered corpus.")
          out
      }
    }
  }

  /** Index-served range join (see the match site). The indexed side may
    * be a single registered table OR a PARTITIONED one whose children
    * each carry their own index (the one `AnnCatalog.resolve` cover — every
    * scanned child must be covered or the serve declines). Declines —
    * leaving the original exact plan — when: no sphere conjunct over a
    * registered indexed relation, the queries side exceeds
    * max(`graft.ann.range.join.maxQueries`,
    * `graft.ann.range.join.maxQueriesTotal`=4096) — a LOUD decline
    * naming the DSL faces — any non-deterministic expression
    * feeds the queries side (its rows must be identical at planning and
    * execution), or the candidate union exceeds `graft.ann.maxInList` (a
    * giant IN loses to the exact join). Planning cost: EXACTLY TWO
    * bounded driver-blocking jobs regardless of query-row count AND root
    * count (both counted in [[AnnTopKRewrite.planningJobs]]) — one
    * collect of the capped queries side, then ONE pooled codes pass
    * answering every sphere over one flat relation spanning every root's
    * intersecting cells ([[IvfIndex.multiRangeCandidateIds]], one root or
    * many). The old shape serialized one probe job per query row (up to
    * maxQueries=256 planner-stalling jobs per range-join plan). For bulk
    * M past the cap use [[IvfIndex.rangeSearchManyMulti]]. */
  private def serveRangeJoin(c: AnnConf, j: Join): Option[LogicalPlan] = {
    val cond = j.condition.get
    val sphere = conjuncts(cond).collectFirst(Function.unlift[Expression,
        (String, AttributeReference, AttributeReference, Either[AttributeReference, Double])] {
      case LessThan(DistCols(m, a, b), RadiusExpr(r)) => Some((m, a, b, r))
      case GreaterThan(RadiusExpr(r), DistCols(m, a, b)) => Some((m, a, b, r))
      case _ => None
    })
    sphere.flatMap { case (metric, x, y, rad) =>
      // side assignment: the operands are positionally symmetric, so try
      // BOTH (vecAttr, centerAttr) readings on both join sides and keep
      // the first whose vec attr resolves against a registered index —
      // `vec_l2(q.center, e.vec)` must serve the same as
      // `vec_l2(e.vec, q.center)`
      val assignments = Seq((x, y), (y, x)).flatMap { case (v, q) =>
        if (j.left.outputSet.contains(v) && j.right.outputSet.contains(q))
          Seq((j.left, j.right, v, q))
        else if (j.right.outputSet.contains(v) && j.left.outputSet.contains(q))
          Seq((j.right, j.left, v, q))
        else Nil
      }
      assignments.view.flatMap { case (indexedSide, queriesSide, vecAttr, centerAttr) =>
        tryServeRangeJoin(c, j, metric, rad, indexedSide, queriesSide, vecAttr, centerAttr)
      }.headOption
    }
  }

  private def tryServeRangeJoin(c: AnnConf, j: Join, metric: String,
      rad: Either[AttributeReference, Double],
      indexedSide: LogicalPlan, queriesSide: LogicalPlan,
      vecAttr: AttributeReference, centerAttr: AttributeReference): Option[LogicalPlan] = {
    for {
      _ <- Some(())
      radOk = rad match {
        case scala.util.Left(a)  => queriesSide.outputSet.contains(a)
        case scala.util.Right(_) => true
      }
      if radOk
      // queries-side rows must reproduce identically at execution time
      if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
      // single covering entry, or a PARTITIONED indexed side: per-child
      // indexes jointly covering the scan
      s <- scanOf(indexedSide)
      (tier, id) <- resolveIn(s, indexedSide.output, Seq(Kind.Ivf),
        vecAttr.name, metric)
      served <- {
        val idxs = tier.entries.map(AnnCatalog.index(spark, _))
        // the pooled candidate job below is ONE codes pass at ANY sphere
        // count, so unlike the KNN join there is nothing to slice — the
        // cap only bounds the queries-side collect. Round 16: the
        // effective cap is max(maxQueries, maxQueriesTotal=4096), the
        // KNN-join hard-cap contract (a raised legacy conf still wins),
        // and overflow declines LOUDLY naming the DSL faces.
        val maxQ = c.rangeJoinMaxQueriesTotal
        val maxInList = c.maxInList
        val eps = c.epsilon
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val projOut = Seq(
          Alias(centerAttr, "c")(),
          Alias(Cast(rad match {
            case scala.util.Left(a)  => a
            case scala.util.Right(d) => Literal(d)
          }, org.apache.spark.sql.types.DoubleType), "r")())
        val qRows = ColumnBridge.ofRows(spark, Project(projOut, queriesSide))
          .limit(maxQ + 1).collect()
        if (qRows.length > maxQ) {
          logWarning(s"range-join serve declined: queries side exceeds " +
            s"$maxQ rows (graft.ann.range.join.maxQueries[Total]) — the " +
            "exact nested-loop join will run. For bulk sphere tables use " +
            "IvfIndex.rangeSearchManyMulti or " +
            "AnnCatalog.servedRangeMany, or raise the cap.")
          None
        }
        else {
          // rows with a null center or radius can match nothing (the join
          // condition evaluates to null) — they contribute no sphere
          val spheres = qRows.iterator
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => (r.getSeq[Float](0).toArray, r.getDouble(1)))
            .toArray
          if (spheres.isEmpty) Some(LocalRelation(j.output))
          else {
            // ONE pooled candidate job for the whole batch: every
            // sphere's estimate survivors from one flat relation spanning
            // every root's intersecting cells, capped so overflow
            // detection is itself bounded
            AnnTopKRewrite.planningJobs.incrementAndGet()
            val ids = IvfIndex.multiRangeCandidateIds(idxs, spheres, eps, maxInList)
            // overflow BEFORE dedup (the flat rows may carry gen+delta
            // duplicates): a truncated-then-deduped list could
            // sneak under the cap while missing candidates past it
            if (ids.length > maxInList) None
            else if (ids.isEmpty) Some(LocalRelation(j.output))
            else {
              val dids = ids.distinct.sorted
              ensureInPushdown(dids.length)
              val restricted = stamped(Filter(id.in(dids), indexedSide))
              Some(if (indexedSide eq j.left) j.copy(left = restricted)
                   else j.copy(right = restricted))
            }
          }
        }
      }
    } yield served
  }

  /** Range-filter serve (opclass strategy 2): candidate ids = the index's
    * estimate-phase survivors of the radius cutoff (codes-only scan of
    * sphere-intersecting cells). The rewritten plan keeps the ORIGINAL
    * predicate and adds `id IN (candidates)` — pushed to the Parquet scan
    * — so output is exact as long as candidates are a superset of
    * qualifying rows. Declines past `graft.ann.maxInList` (a huge IN loses
    * to the exact scan) — the same bound the prefilter escalation uses.
    * PARTITIONED tables serve too (one entry per root / per covered
    * child dir, like the top-k union path): each root's index answers
    * the sphere over its own rows, the candidate union is exact-superset
    * for the whole scan. */
  private def serveRange(c: AnnConf, f: Filter, metric: String,
                         attr: AttributeReference, cv: ArrayData, radius: Double,
                         rel: LogicalRelation): Option[LogicalPlan] =
    for {
      // IDEMPOTENCE: this rule's own output carries ServedFilterTag;
      // user In conjuncts (`id IN (...)`, `category IN (...)`) do NOT
      // block the serve
      _ <- Some(()) if !isServedPlan(f)
      s <- scanOf(rel)
      (tier, id) <- resolveIn(s, rel.output, Seq(Kind.Ivf), attr.name, metric)
      served <- {
        val maxInList = c.maxInList
        // ONE planning job AND one analyzed relation however many roots
        // (same flat shape as serveMulti): all roots' sphere-intersecting
        // cluster dirs read as a single scan, the union-level limit makes
        // overflow detection itself bounded — a sphere covering most of a
        // 500-child corpus stops after maxInList+1 ids instead of
        // materializing every root's pool
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val raw = IvfIndex.multiRangeCandidateIds(
          tier.entries.map(AnnCatalog.index(spark, _)),
          Array((cv.toFloatArray(), radius)), c.epsilon, maxInList)
        // overflow check BEFORE dedup: a truncated-then-deduped list could
        // sneak under the cap while silently missing candidates past the
        // limit — serving it would drop qualifying rows.
        // DECISION (round 12, deliberate): overflow DECLINES to the exact
        // plan rather than escalating. Unlike top-k, a range's output is
        // every qualifying row — there is no k-floor to fill toward, and
        // past maxInList candidates the IN plan loses to the exact
        // cell-pruned scan anyway. Callers with genuinely huge spheres
        // have IvfIndex.rangeSearch / rangeSearchManyMulti, which serve
        // that regime with a DISTRIBUTED candidate join and a no-prune
        // scan fallback — machinery a planner rewrite cannot express as
        // an IN.
        if (raw.length > maxInList) None
        else if (raw.isEmpty) Some(LocalRelation(f.output))
        else {
          val all = raw.distinct
          ensureInPushdown(all.length)
          Some(stamped(Filter(And(f.condition, id.in(all)), f.child)))
        }
      }
    } yield served

  /** Candidate ids within the IN budget, from a `pool` of (id, estimate,
    * root) with unique ids: the whole pool when it fits; past
    * `maxInList`, every root's estimated top-k (no root loses
    * representation — its local winners must reach the exact rerank),
    * then the rest of the budget globally by estimate. This is the
    * single-index cell-pool policy applied across roots, instead of
    * blind per-root truncation.
    * ANN CONTRACT NOTE: the per-root floor ranks by estimate, not exact
    * distance — a root's true top-k member whose estimate ranks past k
    * AND past the global fill can be dropped. This is the same
    * estimate-order candidate admission every IVF pool uses (cells admit
    * by code bound before any exact rerank); the epsilon-scaled lb makes
    * it rare, and it only arises at all when the pool exceeds maxInList
    * (where the old per-root exact shape paid one serialized Spark job
    * per root to avoid it — the wrong trade at hundreds of roots). */
  private def withinInBudget(pool: Array[(Long, Double, Int)], k: Int,
      maxInList: Int): Array[Long] =
    if (pool.length <= maxInList) pool.map(_._1)
    else {
      val floor = pool.groupBy(_._3).valuesIterator
        .flatMap(_.sortBy(t => (t._2, t._1)).take(k)).toArray
      val floorIds = floor.map(_._1).toSet
      val rest = pool.filter(t => !floorIds.contains(t._1))
        .sortBy(t => (t._2, t._1))
      floor.map(_._1) ++ rest.take(maxInList - floorIds.size).map(_._1)
    }

  /** The MaxSim top-k serve (strategy 3, reference scanners/maxsim.rs),
    * for one token index or a partitioned corpus's per-child ones: ONE
    * flat retrieval job pools every (root, token)'s estimate candidates,
    * docs score per root on the driver with per-root miss stand-ins
    * (MaxSim.multiRootCandidateDocs), and the rewritten plan's own exact
    * Sort+Limit over the IN-restricted scan restores exact ordering.
    * Candidate budget: k*refine docs per root by estimate, floored at
    * each root's top-k then filled globally when over
    * `graft.ann.maxInList` ([[withinInBudget]]). Cost gate: summed
    * per-root token-index work vs the total exact scan of every root's
    * token rows. */
  private def serveMaxSimMulti(c: AnnConf, t: TopK, es: Seq[AnnCatalog.Entry],
                               id: IdCol, qv: ArrayData): Option[LogicalPlan] = {
    val idxs = es.map(AnnCatalog.index(spark, _))
    val k = t.k
    val query: Array[Array[Float]] =
      Array.tabulate(qv.numElements())(i => qv.getArray(i).toFloatArray())
    if (query.isEmpty) return Some(t.gl)
    val probes = idxs.map(ix => c.probesFor(ix.meta.cfg.lists))
    val kPerToken = c.kPerToken
    if (c.costEnable &&
        !CostGates.maxsim(idxs.zip(probes).map { case (ix, p) =>
            (ix.rowCount, ix.meta.cfg.lists, p) },
          query.length.toDouble, kPerToken, k, c.refine))
      return None
    // the k-floor is the serve/decline line (as serveMulti): if even k
    // docs per root overflow the IN budget, the exact plan wins
    if (idxs.length.toLong * k > c.maxInList) return Some(t.gl)
    // DRIVER-POOL budget: the pooled retrieval collects up to
    // roots x tokens x kPerToken (root, token, id, lb) tuples to the
    // driver for scoring. The flat read caps the collect at
    // max(4M direct-collect budget, that figure): past the budget it
    // merges partition-local heaps per (root, token) slot on executors
    // before collecting (IvfIndex.multiEstimatePools), so no scan
    // width can blow the guard below out by its partition count.
    // Bounded by construction, but a 256-child
    // corpus x a 64-token query x kPerToken=1000 would be 16M tuples
    // (~0.5 GB boxed). Past the cap the serve DECLINES LOUDLY to the
    // exact scan instead of silently truncating pools (the no-silent-
    // caps rule); lower kPerToken or raise the conf to serve wider.
    if (idxs.length.toLong * query.length * kPerToken > c.maxsimMaxPoolTuples)
      return Some(t.gl)
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val perRoot = graft.ops.MaxSim.multiRootCandidateDocs(idxs, query,
      docsPerRoot = k * math.max(c.refine, 1), kPerToken = kPerToken,
      probes = probes)
    // docs are unique across roots (each doc's tokens live in one child)
    val ids = withinInBudget(perRoot.map { case (root, doc, s) => (doc, s, root) },
      k, c.maxInList)
    Some(served(c, t, id, ids, complete = false))
  }

  /** The graph (vchordg) top-k serve, for one driver-tier Vamana graph or
    * a partitioned table's one per child: every graph beams
    * (ef-bounded; `graft.ann.efSearch` mirrors the ef_search GUC,
    * default 64, reference src/index/gucs.rs:38-44) for k candidates, or
    * for its whole ef pool when quantized (code estimates, which the
    * plan's exact Sort corrects); the ids union (docs are unique across
    * roots), and the standard exact Sort+Limit runs over the
    * IN-restricted scan. Driver-side only — zero Spark jobs at planning.
    * Cost gate: summed beam work (~roots*ef + k) vs the total exact scan
    * — declines on tiny tables. The IN budget declines past
    * `graft.ann.maxInList`. */
  private def serveGraphMulti(c: AnnConf, t: TopK, ges: Seq[AnnCatalog.Entry],
                              id: IdCol, qv: ArrayData): Option[LogicalPlan] = {
    val gs = ges.map(AnnCatalog.graph(spark, _))
    val ef = c.efSearch
    if (c.costEnable &&
        !CostGates.graph(gs.length, gs.map(_.ids.length.toLong).sum, ef, t.k))
      return None
    val q = qv.toFloatArray()
    val ids = gs.flatMap { g =>
      val kCand = if (g.quantized) math.max(ef, t.k) else t.k
      g.search(q, kCand, ef).map(_._1)
    }.distinct
    if (ids.length > c.maxInList) Some(t.gl)
    else Some(served(c, t, id, ids, gs.forall(_.sourceComplete)))
  }

  /** Sharded-graph serve: every shard beams, the bounded merge supplies
    * candidate ids. Runs Spark jobs AT PLANNING TIME over the resident
    * shard RDD (counted in [[AnnTopKRewrite.planningJobs]], like
    * prefilter escalation). Cost gate: total beam work is ~shards*ef —
    * decline when the exact scan is no more work. */
  private def serveShardedGraph(c: AnnConf, t: TopK, entry: AnnCatalog.Entry,
                                id: IdCol, qv: ArrayData): Option[LogicalPlan] = {
    val h = AnnCatalog.shardedGraph(spark, entry)
    val ef = c.efSearch
    if (c.costEnable && !CostGates.sharded(h.shards, h.totalVertices, ef, t.k))
      return None
    AnnTopKRewrite.planningJobs.incrementAndGet()
    // on QUANTIZED shards the merge ranks by code estimates — keep the
    // whole ef pool as candidates (the rewritten plan's exact Sort+Limit
    // over the source table restores exactness, rerank-in-table style)
    val kCand = if (h.cfg.bits > 0) math.max(ef, t.k) else t.k
    val ids = h.search(spark, Array(0L -> qv.toFloatArray()), kCand, ef,
        allowEstimates = true)
      .select("id").collect().map(_.getLong(0))
    Some(served(c, t, id, ids, h.sourceComplete))
  }

  /** Partial-index predicate implication, the restricted form Postgres
    * uses (`predicate_implied_by`): parse + resolve the registered
    * predicate against the relation's attributes, then require every
    * index conjunct to be PROVEN by some query conjunct — semantic
    * equality, or the literal-range implication [[impliesCmp]] handles
    * (`x > 6 ⇒ x > 5`, `x = 7 ⇒ x > 5`, BETWEEN narrowing via its two
    * conjuncts). Returns the REMAINING query conjuncts (None = every
    * query conjunct was an exact index conjunct — the partial index's
    * population IS the qualifying set; Some(expr) = extra-or-stronger
    * conjuncts, caller escalates like any prefilter; an implied-but-not-
    * equal conjunct MUST stay residual — the index population is wider
    * than the query's set). Parse or resolution failure, or an unprovable
    * conjunct, declines (None result) — a partial index must never serve
    * a query it doesn't cover. */
  private def partialMatch(predicateSql: String, queryPred: Expression,
      output: Seq[Attribute]): Option[Option[Expression]] = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicateSql)
      catch { case scala.util.control.NonFatal(_) => return None }
    var ok = true
    val resolved = parsed.transformUp {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        output.find(a => spark.sessionState.conf.resolver(a.name, ua.name))
          .getOrElse { ok = false; ua }
    }
    if (!ok || !resolved.resolved) return None
    val idxConj = conjuncts(resolved)
    val qConj = conjuncts(queryPred)
    if (!idxConj.forall(ic =>
        qConj.exists(qc => qc.semanticEquals(ic) || impliesPred(qc, ic)))) None
    else Some(qConj.filterNot(qc => idxConj.exists(_.semanticEquals(qc)))
      .reduceOption(And))
  }

  /** Predicate implication with DISJUNCTIONS, the subset of Postgres
    * `predicate_implied_by` the partial-index serve needs beyond
    * [[impliesCmp]]'s literal ranges:
    *
    *  - query side: `x IN (6,7)` / `x = 6 OR x = 7` implies `ic` iff
    *    EVERY disjunct implies it (a disjunction is true when any arm is,
    *    so all arms must land inside ic's value set);
    *  - index side: `q` implies `x IN (1,2)` / `a OR b` iff q implies
    *    SOME disjunct (any arm true makes the disjunction true).
    *
    * IN lists decompose to equality disjuncts only when every element is
    * a literal (a non-literal element can't be proven); a null element
    * fails [[impliesCmp]]'s null guard and declines the whole proof —
    * conservative, like Postgres's predtest. Non-disjunctive shapes fall
    * through to [[impliesCmp]] unchanged. */
  private def impliesPred(q: Expression, ic: Expression): Boolean = {
    (q, ic) match {
      case _ if q.semanticEquals(ic) => true
      // query-side disjunction: every arm must imply ic
      case (Or(l, r), _)    => impliesPred(l, ic) && impliesPred(r, ic)
      case (InD(qds), _)    => qds.forall(d => impliesPred(d, ic))
      // index-side disjunction: q need only imply one arm
      case (_, Or(l, r))    => impliesPred(q, l) || impliesPred(q, r)
      case (_, InD(ids))    => ids.exists(d => impliesPred(q, d))
      case _                => impliesCmp(q, ic)
    }
  }

  /** IN-over-literals decomposed to equality disjuncts (see
    * [[impliesPred]]). */
  private object InD {
    def unapply(e: Expression): Option[Seq[Expression]] = e match {
      case In(a: Attribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(v => EqualTo(a, v.asInstanceOf[Literal])))
      case _ => None
    }
  }

  /** Literal-comparison implication: does query conjunct `q` imply index
    * conjunct `ic`? Both must be a comparison of the SAME attribute
    * against a non-null literal of the SAME type; the proof is interval
    * containment (q's value set ⊆ ic's value set) under the type's own
    * ordering. Anything else — casts, expressions over the attribute,
    * mismatched types, null literals — conservatively fails, like
    * Postgres's operator-family-scoped predtest. No integer-width
    * reasoning (`x > 5 ⇒ x >= 6` over ints is NOT proven): containment
    * must hold over the type's full ordered domain. */
  private def impliesCmp(q: Expression, ic: Expression): Boolean = {
    def norm(e: Expression): Option[(Attribute, String, Literal)] = e match {
      case EqualTo(a: Attribute, l: Literal)            => Some((a, "=", l))
      case EqualTo(l: Literal, a: Attribute)            => Some((a, "=", l))
      case GreaterThan(a: Attribute, l: Literal)        => Some((a, ">", l))
      case GreaterThan(l: Literal, a: Attribute)        => Some((a, "<", l))
      case GreaterThanOrEqual(a: Attribute, l: Literal) => Some((a, ">=", l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => Some((a, "<=", l))
      case LessThan(a: Attribute, l: Literal)           => Some((a, "<", l))
      case LessThan(l: Literal, a: Attribute)           => Some((a, ">", l))
      case LessThanOrEqual(a: Attribute, l: Literal)    => Some((a, "<=", l))
      case LessThanOrEqual(l: Literal, a: Attribute)    => Some((a, ">=", l))
      case _ => None
    }
    (norm(q), norm(ic)) match {
      case (Some((qa, qop, ql)), Some((ia, iop, il)))
          if qa.semanticEquals(ia) && ql.dataType == il.dataType &&
             ql.value != null && il.value != null =>
        val ord =
          try org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(ql.dataType)
          catch { case scala.util.control.NonFatal(_) => return false }
        val c = ord.compare(ql.value, il.value)
        (qop, iop) match {
          case ("=", "=")   => c == 0
          case ("=", ">")   => c > 0
          case ("=", ">=")  => c >= 0
          case ("=", "<")   => c < 0
          case ("=", "<=")  => c <= 0
          case (">", ">")   => c >= 0 // {x > ql} ⊆ {x > il} iff ql >= il
          case (">=", ">")  => c > 0  // [ql,∞) ⊆ (il,∞) needs ql strictly above
          case (">", ">=")  => c >= 0
          case (">=", ">=") => c >= 0
          case ("<", "<")   => c <= 0
          case ("<=", "<")  => c < 0
          case ("<", "<=")  => c <= 0
          case ("<=", "<=") => c <= 0
          case _ => false
        }
      case _ => false
    }
  }

  /** The IVF top-k serve, for one root or a partitioned table's many:
    * one estimate-only pool of k·refine ids per root (RaBitQ lower
    * bounds, no in-index rerank), unioned, then the standard exact
    * Sort+Limit over the IN-restricted scan reranks the pool — the
    * reference's probe, estimate, rerank pass with the rerank in the
    * plan. `probes = auto` sizes each root's probe budget as
    * ceil(sqrt(lists)). Cost model sums the per-root index costs against
    * the total exact scan. Declines when even k ids per root exceed
    * `graft.ann.maxInList`. */
  private def serveMulti(c: AnnConf, t: TopK, es: Seq[AnnCatalog.Entry],
                         id: IdCol, qv: ArrayData,
                         predOpt: Option[Expression]): Option[LogicalPlan] = {
    val idxs = es.map(AnnCatalog.index(spark, _))
    val k = t.k
    val refine0 = c.refine
    val maxInList = c.maxInList
    if (c.costEnable &&
        !CostGates.ivf(idxs.map(ix => (ix.rowCount,
          ix.meta.cfg.lists, c.probesFor(ix.meta.cfg.lists))), k, refine0))
      return None
    val qArr = qv.toFloatArray()
    // ONE planning job AND one analyzed relation however many roots: all
    // roots' probed cluster dirs read as a single flat parquet scan
    // (IvfIndex.multiEstimateCandidates), each row scored with its own
    // root's prep from a broadcast dir map, per-root top k*refine (id,
    // lb) merged from bounded partition-local heaps. The per-root
    // union-of-frames shape this replaces was one JOB but linear DRIVER
    // cost — Catalyst analyzed R union branches and listed R relations
    // (measured 0.44 s at 4 roots -> 3.09 s at 32). The per-root exact
    // rerank the pre-round-11 shape paid one serialized Spark job each
    // for stays unnecessary: the rewritten plan's own Sort+Limit over
    // the IN-restricted scan reranks the pooled candidates exactly, and
    // the full-depth pool per root is a superset of what per-root rerank
    // would have kept — end-to-end recall is the old path's or better.
    // A single root reads its own cache-aware codes relation instead of
    // the flat files (the pool picks its row source by root count).
    // the k-floor is the serve/decline line, as in the old per-root
    // shape: if even k ids per root overflow maxInList, decline to exact
    if (idxs.length.toLong * k > maxInList) return Some(t.gl)
    // one unioned collect per call: (id, lb, root) for the per-root top
    // k*refineScale estimate candidates at the given probe scale
    def unionPool(probeScale: Int, refineScale: Int): Array[(Long, Double, Int)] = {
      AnnTopKRewrite.planningJobs.incrementAndGet()
      val nCand = math.max(k * refineScale, k)
      val prs = idxs.map(ix =>
        math.min(ix.meta.cfg.lists, c.probesFor(ix.meta.cfg.lists) * probeScale))
      IvfIndex.multiEstimateCandidates(idxs, qArr, nCand, prs)
    }
    // dedup ids across roots, and within a root across generation and
    // delta (keep the best lb for budgeting): one id must not take two of
    // the k*refine slots
    def dedup(pool: Array[(Long, Double, Int)]): Array[(Long, Double, Int)] =
      pool.groupBy(_._1).valuesIterator.map(_.minBy(t => (t._2, t._3))).toArray
    def planWith(ids: Array[Long]): LogicalPlan =
      served(c, t, id, ids, idxs.forall(_.sourceComplete))

    predOpt match {
      case None =>
        Some(planWith(withinInBudget(dedup(unionPool(1, refine0)), k, maxInList)))
      case Some(pred) =>
        // PREFILTER: pool candidates, count the predicate's survivors
        // among them (child already contains the user Filter), escalate
        // probes/refine x4 until k survivors exist or every root is
        // provably covered. The IN list must be the POOL, not a top-k —
        // a top-k list holds k survivors only if the predicate passes all
        // of them. Each round is ONE unioned pool job + ONE survivor
        // count, regardless of root count. A pool past maxInList means
        // the exact plan is equivalent-or-cheaper than a giant IN —
        // declined BEFORE the pool job runs.
        def escalateMulti(): Option[LogicalPlan] = {
          var scale = 1
          var r = refine0
          // tight at full probes, conservative below — per root
          // min(k*r, rows), summed
          def poolBound: Long =
            idxs.map(ix => math.min(k.toLong * r, ix.rowCount)).sum
          def covered: Boolean = idxs.forall { ix =>
            math.min(ix.meta.cfg.lists,
              c.probesFor(ix.meta.cfg.lists) * scale) >= ix.meta.cfg.lists &&
              k.toLong * r >= ix.rowCount
          }
          def survivors(ids: Array[Long]): Long =
            if (ids.isEmpty) 0L
            else {
              AnnTopKRewrite.planningJobs.incrementAndGet()
              ensureInPushdown(ids.length)
              // guard: the count plan contains the user's own Filter —
              // optimizing it must not re-fire this rule's Filter cases.
              // An RDD count: one job, no shuffle (Dataset.count is an
              // aggregate — two jobs and an exchange under AQE)
              AnnTopKRewrite.withPlanningGuard {
                ColumnBridge.toInternalRdd(ColumnBridge.ofRows(spark,
                  Filter(id.in(ids), t.child))).count()
              }
            }
          if (poolBound > maxInList) return Some(t.gl)
          var ids = dedup(unionPool(scale, r)).map(_._1)
          if (ids.length > maxInList) return Some(t.gl)
          // check coverage FIRST: a covered pool serves regardless of the
          // survivor count, so the count job is pure waste there
          var cov = covered
          while (!cov && survivors(ids) < k) {
            scale *= 4
            r *= 4
            if (poolBound > maxInList) return Some(t.gl)
            ids = dedup(unionPool(scale, r)).map(_._1)
            if (ids.length > maxInList) return Some(t.gl)
            cov = covered
          }
          Some(planWith(ids))
        }
        pred match {
          // sphere prefilter in the shared index metric (reference
          // opclass strategy 2 WITH an order-by, pushdown_range.slt):
          // per-root RANGE candidates (cell + code lower bounds — a
          // SUPERSET of every qualifying row per root) union into one
          // job; no escalation rounds, exact output (the plan keeps the
          // original filter + sort). Oversized pools fall back to the
          // generic escalation. Without this branch the generic loop
          // would stop at k pool-order survivors — approximate where
          // this branch is exact.
          case SphereCond(sphMetric, sphAttr, sphCv, sphRadius)
              if idxs.forall(_.meta.cfg.metric == sphMetric) &&
                 sphAttr.name == es.head.vecCol =>
            AnnTopKRewrite.planningJobs.incrementAndGet()
            // one flat read over every root's sphere-intersecting cluster
            // dirs (no per-root union branches — see unionPool)
            val raw = IvfIndex.multiRangeCandidateIds(idxs,
              Array((sphCv.toFloatArray(), sphRadius)), c.epsilon, maxInList)
            // overflow BEFORE dedup: a truncated-then-deduped list could
            // silently miss qualifying candidates past the limit
            if (raw.length > maxInList) escalateMulti()
            else if (raw.isEmpty) Some(LocalRelation(t.gl.output))
            else {
              // merge the IN into the EXISTING Filter and stamp it: a
              // fresh In-Filter
              // wrapped AROUND the unstamped sphere Filter would leave
              // the inner node servable by the standalone range case —
              // a second planning job re-serving this rule's own output
              val ids = raw.distinct
              ensureInPushdown(ids.length)
              val inExpr = id.in(ids)
              Some(inPlan(t, t.child match {
                case Filter(p, rel0)              => stamped(Filter(And(p, inExpr), rel0))
                case Project(pl, Filter(p, rel0)) =>
                  Project(pl, stamped(Filter(And(p, inExpr), rel0)))
                case other                        => stamped(Filter(inExpr, other))
              }))
            }
          case _ => escalateMulti()
        }
    }
  }
}

/** `spark.sql.extensions` entry point. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(session => AnnTopKRewrite(session))
}
