package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import java.nio.file.{Files, Paths, Path}
import java.util.Comparator

import graft.core.{RaBitQ, Rotation, VectorKernels => K}
import graft.kmeans.KMeans

/**
 * IVF + quantized-code ANN index, persisted as partitioned Parquet.
 *
 * The Spark re-expression of the reference's `vchordrq` access method
 * (reference: index layout crates/vchordrq/src/tuples.rs:50-84, build
 * lifecycle src/index/vchordrq/am/am_build.rs:208-443, search
 * crates/vchordrq/src/search.rs:36-196):
 *
 *   page "tapes" per cell      ->  Parquet files partitioned by cluster_id
 *   meta page                  ->  small `config` + `centroids` Parquet +
 *                                  a CURRENT generation pointer
 *   multi-probe tree descent   ->  driver-side centroid scoring + Parquet
 *                                  PARTITION PRUNING on cluster_id
 *   RaBitQ LUT leaf scoring    ->  code-only column scan (column pruning:
 *                                  the estimate phase never reads vectors)
 *   eps-lower-bound + rerank   ->  top (k*refine) by (est - eps*err), then
 *                                  exact re-score of just those rows
 *   frozen + appendable tapes  ->  gen-N/ (compacted) + delta/ (appends)
 *   aminsert (B11)             ->  appendDelta()
 *   maintain/compaction (B12)  ->  compact(): rewrite gen-(N+1), drop delta
 *   ambulkdelete/vacuum (B13)  ->  delete(): anti-filter rewrite
 *   external build (B7)        ->  buildExternal() from a centroid table
 *   prewarm                    ->  prewarm(): cache + count
 *
 * Scale design: the only full-data pass at build is one assignment +
 * shuffle-on-cluster write; k-means runs on a bounded sample
 * (lists x samplingFactor rows) on the driver, as in the reference.
 * Search reads only probed partitions, and only (id, meta, codes) columns
 * until the rerank step touches the handful of candidate vectors.
 * Generations make compact/delete atomic: readers follow CURRENT, a
 * rewrite lands in gen-(N+1) before the pointer moves.
 */
final case class IvfConfig(
    lists: Int = 16,
    bits: Int = 8,                // estimate-code width: 1 = the reference
                                  // index's CLASSIC RaBitQ binary code
                                  // (crates/rabitq/src/bit.rs — what
                                  // vchordrq tuples store for the fast
                                  // scan; 8x smaller codes, refine/rerank
                                  // restores exactness), 4|8 = the
                                  // extended rabitq4/8 codecs. 2 is NOT
                                  // an index tier (nor in the reference):
                                  // the b=1 round lattice zeroes most
                                  // mid-range components — it exists only
                                  // as a graph VERTEX code where big ef
                                  // pools + rerank absorb the coarseness
    residual: Boolean = true,
    metric: String = "l2", // l2 | cosdist | negdot
    samplingFactor: Int = 256,
    kmeansIters: Int = 10,
    kmeansAlgo: String = "lloyd", // lloyd | hierarchical (reference B2/B3)
    kmeansDim: Int = 0,           // >0: cluster in rotated+truncated space (B4)
    rotate: Boolean = false,      // store FHT-rotated vectors (B6)
    lists1: Int = 0,              // >0: one internal level — shorthand for
                                  // upperLists = Seq(lists1)
    assignByTree: Boolean = false, // build-time assignment DESCENDS the
                                  // centroid tree (score each level's
                                  // survivors' children, not all leaves)
                                  // — the reference's hierarchical build
                                  // assignment. At lists=256/lists1=16 x
                                  // 768d this is 8x fewer flops per row
                                  // and was the dominant build cost at
                                  // scale; assignment near cell borders
                                  // may differ from flat argmin (same
                                  // trade the reference takes — probes
                                  // cover neighbor cells at search)
    storage: String = "f32",      // f32 | f16 — rerank-vector storage (halfvec
                                  // index: half the vec bytes on disk/scan;
                                  // codes quantize the f16-roundtripped vector
                                  // so estimate and rerank see one store)
    upperLists: Seq[Int] = Nil,   // internal level sizes, coarse -> fine —
                                  // the reference's lists=[l1,...,lk] trees
                                  // of height 1-8 (crates/vchordrq/src/
                                  // tuples.rs:74-76 `cells: Vec<u32>`,
                                  // am/am_build.rs:1355-1385); leaves stay
                                  // `lists`
    dim: Int = 0,                 // >0: declared vector dim — the
                                  // reference's `vector(3)` typmod (S13).
                                  // Optional when data has vectors (then
                                  // it must MATCH); required to build over
                                  // a column with no non-null vectors
                                  // (tests/general/issue_427.slt indexes
                                  // an all-NULL column without error)
    buildPasses: Int = 1,         // >1: STAGED build — encode+shuffle+write
                                  // in this many disjoint cluster-range
                                  // passes instead of one job. Each pass
                                  // shuffles only ~n/passes rows and its
                                  // shuffle scratch is released before the
                                  // next starts, so peak build scratch is
                                  // (final index bytes) + (one pass's
                                  // shuffle) instead of (index) + (full
                                  // shuffle). The trade: the map side
                                  // (scan + assignment) reruns per pass —
                                  // CPU ∝ passes, IO unchanged (every row
                                  // still shuffles and writes exactly
                                  // once). Results are byte-identical to a
                                  // one-pass build: same centroids, same
                                  // assignment, same per-cluster rows —
                                  // only the write order differs. This is
                                  // how a 1B x 96d build fits a disk that
                                  // a single-shot shuffle would overflow
    storeVectors: Boolean = true) { // false = CODES-ONLY index: no vec
                                  // column is written — the reference's
                                  // small-index economics behind
                                  // `rerank_in_table=true` (src/index/
                                  // vchordrq/types.rs:19-45, rerank from
                                  // the heap crates/vchordrq/src/rerank.rs
                                  // :111+). At 768d the vec column is
                                  // ~12-24x the code bytes, so this cuts
                                  // build IO and index size ~10x; every
                                  // search/range call must then pass
                                  // rerankTable=Some((sourceDf, id, vec))
  /** Internal level sizes, coarse -> fine (lists1 is sugar for one level). */
  def effectiveUpper: Seq[Int] =
    if (upperLists.nonEmpty) upperLists else if (lists1 > 0) Seq(lists1) else Nil

  /** Option validation — the reference rejects bad reloptions at CREATE
    * INDEX (tests/vchordrq/options.slt, src/index/vchordrq/types.rs). */
  def validate(): Unit = {
    require(lists >= 1, s"lists must be >= 1, got $lists")
    require(bits == 1 || bits == 4 || bits == 8,
      s"bits must be 1, 4 or 8, got $bits (2-bit codes are a graph-vertex " +
      "tier, not an index estimate tier — see IvfConfig.bits)")
    require(Set("l2", "cosdist", "negdot")(metric), s"unknown metric '$metric'")
    require(samplingFactor >= 1, s"samplingFactor must be >= 1, got $samplingFactor")
    require(kmeansIters >= 1, s"kmeansIters must be >= 1, got $kmeansIters")
    require(Set("lloyd", "hierarchical")(kmeansAlgo), s"unknown kmeansAlgo '$kmeansAlgo'")
    require(kmeansDim >= 0, s"kmeansDim must be >= 0, got $kmeansDim")
    require(lists1 >= 0 && lists1 <= lists,
      s"lists1 must be in [0, lists], got $lists1 (lists=$lists)")
    require(upperLists.isEmpty || lists1 == 0,
      "set either lists1 or upperLists, not both")
    val eu = effectiveUpper
    require(eu.length <= 7,
      s"at most 7 internal levels (tree height 1-8, as the reference), got ${eu.length}")
    require(eu.forall(s => s >= 1 && s <= lists),
      s"internal level sizes must be in [1, lists]: $eu (lists=$lists)")
    require(eu == eu.sorted,
      s"internal levels must be coarse -> fine (ascending): $eu")
    require(Set("f32", "f16")(storage), s"unknown storage '$storage'")
    require(dim >= 0, s"dim must be >= 0, got $dim")
    require(!assignByTree || eu.nonEmpty,
      "assignByTree needs an internal level (set lists1 or upperLists)")
    require(buildPasses >= 1, s"buildPasses must be >= 1, got $buildPasses")
  }
}

/** `dim` = stored vector dim (padded when rotated); `origDim` = input dim.
  * `upperCentroids`/`upperChildren`: optional internal levels, coarse ->
  * fine (reference B5 — `lists=[l1,...,lk]` chains levels by
  * nearest-centroid lookup, am/am_build.rs:1355-1385): level i's
  * children(j) indexes level i+1's centroid array, the FINEST level's
  * children are leaf cell ids, so probing descends the tree and only
  * scores surviving subtrees. */
final case class IvfMeta(dim: Int, origDim: Int, cfg: IvfConfig,
                         centroids: Array[Array[Float]],
                         upperCentroids: Seq[Array[Array[Float]]] = Nil,
                         upperChildren: Seq[Array[Array[Int]]] = Nil,
                         sourceComplete: Boolean = false) {
  /** Finest internal level (back-compat accessors for the 2-level shape). */
  def l1Centroids: Array[Array[Float]] =
    if (upperCentroids.nonEmpty) upperCentroids.last else Array.empty
  def l1Children: Array[Array[Int]] =
    if (upperChildren.nonEmpty) upperChildren.last else Array.empty
}

object IvfIndex {

  /** Largest IN value list pushed to parquet as the exact set. Past this,
    * parquet's left-deep or-chain visitor recursion overflows the task
    * stack (measured on this JVM: 1024 values ok, 2048 SOE), so
    * ensureInPushdown stops raising the threshold and the scan falls back
    * to min/max-range push + the exact Catalyst filter. */
  val inPushdownCap = 1000

  /** Ensure the session's parquet IN-pushdown threshold admits an
    * `n`-value list — RAISED when below (the exact value set then
    * reaches parquet row-group/page pruning; past the threshold the
    * push degrades to a min/max range that prunes nothing for
    * scattered ids — measured 7x on the 10M x 768d codes-only anchor),
    * and CLAMPED DOWN to [[inPushdownCap]] when anyone set it above
    * (parquet evaluates the pushed set as a left-deep or-chain whose
    * recursive visitor overflows the task stack past ~1-2k values —
    * measured on this JVM: 1024 ok, 2048 StackOverflowError — so the
    * crash guard must not depend on who raised the conf). The single
    * implementation behind both the index and the planner rule. */
  def ensureInPushdown(spark: SparkSession, n: Int): Unit = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val cur =
      try spark.conf.get(key).toInt
      catch { case scala.util.control.NonFatal(_) => 10 }
    val want = math.min(n, inPushdownCap)
    if (cur < want) spark.conf.set(key, want.toString)
    else if (cur > inPushdownCap) spark.conf.set(key, inPushdownCap.toString)
  }

  /** Count of range spheres that fell back to the straight exact scan
    * because the code bound kept more than [[rangeScanFallbackFrac]] of
    * the table (no pruning to exploit). */
  val rangeScanFallbacks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Range estimate hits brought to the driver by [[collectHits]], summed
    * over calls. */
  private[index] val rangeDriverTuples = new java.util.concurrent.atomic.AtomicLong(0)

  /** Candidate fraction above which a range sphere abandons the
    * candidate path for a direct exact scan: past this the estimate
    * pass retained most rows, so the join adds cost without removing
    * work (measured 10x brute on uniform 768d bits=1). */
  val rangeScanFallbackFrac = 0.25

  /** Largest distributed-tier range candidate set shipped as a broadcast
    * instead of a shuffle join (10M ids ~ 80 MB broadcast). Below this,
    * broadcasting beats re-shuffling the (much wider) data/source side by
    * orders of magnitude; above it the sphere covers so much of the table
    * that the shuffle join is the honest plan. */
  val rangeBroadcastCap = 10000000L

  /** The one `cluster_id` restriction every cell-pruned scan applies.
    * The cell set is a referenced BitSet inside [[CellIn]], never code
    * literals, so each new probe set reuses the compiled class. */
  private[graft] def inCells(cells: Array[Int]): Column = {
    val bits = new java.util.BitSet()
    cells.foreach(c => bits.set(c))
    ColumnBridge.column(CellIn(ColumnBridge.expression(col("cluster_id")), bits))
  }

  private def spherical(cfg: IvfConfig): Boolean = cfg.metric == "cosdist"

  /** Encode rows to (cluster_id, id, vec, cmeta, codes) via broadcast
    * centroids. `vec` is array<float> for f32 storage, packed f16 bytes
    * for halfvec storage (quantization then sees the f16-roundtripped
    * vector, so codes and stored vectors describe the same point). */
  private[index] def encodeRows(df: DataFrame, idCol: String, vecCol: String,
                                cfg: IvfConfig, centroids: Array[Array[Float]],
                                origDim: Int,
                                upper: Option[(Seq[Array[Array[Float]]], Seq[Array[Array[Int]]])] = None,
                                clusterRange: Option[(Int, Int)] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    // assignByTree: descend the internal levels — at each level score only
    // the surviving parent's children (the reference's hierarchical build
    // assignment; flat argmin over all leaves is O(lists*dim) per row and
    // dominated the 768d build)
    val bUp = upper.filter(_ => cfg.assignByTree)
      .map(u => spark.sparkContext.broadcast(u))
    val residual = cfg.residual
    val bits = cfg.bits
    val sph = spherical(cfg)
    val f16 = cfg.storage == "f16"
    val rot = if (cfg.rotate) Some(new Rotation(origDim)) else None
    // NULL vectors never enter the index (reference: NULL rows are simply
    // absent from the AM, tests/general/issue_427.slt indexes an all-NULL
    // column without error)
    // Array[Float], NOT Seq[Float]: the primitive-array encoder ser/deser
    // through UnsafeArrayData.fromPrimitiveArray / toFloatArray with ZERO
    // boxing. The Seq formulation boxed every component both ways —
    // n*dim Float objects churned through the young gen, which turned
    // superlinear past ~10M rows (measured 30M f32 build: 235s boxed)
    val base = df.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    // staged-build pass restriction: rows assigned outside [lo, hi) exit
    // BEFORE quantization (the range check sits right after assignment),
    // so an out-of-range row costs only vector prep + tree assignment —
    // and nothing ships into the pass's shuffle
    val range = clusterRange
    @inline def inRange(cid: Int): Boolean =
      range match { case Some((lo, hi)) => cid >= lo && cid < hi; case None => true }
    /** null = assigned outside this pass's cluster range (skip row). */
    def encodeOne(id: Long, v: Array[Float]): (Int, Long, Array[Float], Array[Float], Array[Byte]) = {
      val raw = v
      val pre = if (sph) K.normalize(raw) else raw
      val rotated = rot.map(_.apply(pre)).getOrElse(pre)
      val vec = if (f16) graft.core.Half.roundtrip(rotated) else rotated
      val cs = bc.value
      val cid = bUp match {
        case Some(b) =>
          // root level scores all its centroids; each subsequent level
          // scores only the chosen parent's children; the finest level's
          // children are LEAF cell ids scored against the leaf centroids.
          // A childless internal centroid (k-means can strand one) falls
          // back to the flat argmin for that row.
          val (upC, upCh) = b.value
          var ok = true
          var pick = KMeans.nearest(vec, upC(0))
          var lvl = 0
          while (ok && lvl < upC.length - 1) {
            val kids = upCh(lvl)(pick)
            if (kids.isEmpty) ok = false
            else pick = KMeans.nearestAmong(vec, upC(lvl + 1), kids)
            lvl += 1
          }
          val leafKids = if (ok) upCh(upC.length - 1)(pick) else Array.empty[Int]
          if (leafKids.isEmpty) KMeans.nearest(vec, cs)
          else KMeans.nearestAmong(vec, cs, leafKids)
        case None => KMeans.nearest(vec, cs)
      }
      if (!inRange(cid)) null
      else {
        val toCode =
          if (residual) {
            val c = cs(cid)
            val r = new Array[Float](vec.length)
            var j = 0
            while (j < vec.length) { r(j) = vec(j) - c(j); j += 1 }
            r
          } else vec
        val code = RaBitQ.quantize(toCode, bits)
        (cid, id, vec, code.meta, code.codes)
      }
    }
    if (!cfg.storeVectors)
      // codes-only: the full vector is still computed (quantization input)
      // but never ships past this map — no Half encode, no array column,
      // ~10x fewer written bytes at 768d (the measured 87%-IO build wall)
      base.flatMap { case (id, v) =>
        Option(encodeOne(id, v)).map { case (cid, i, _, m, c) => (cid, i, m, c) }
      }.toDF("cluster_id", "id", "cmeta", "codes")
    else if (f16)
      base.flatMap { case (id, v) =>
        Option(encodeOne(id, v)).map { case (cid, i, vec, m, c) =>
          (cid, i, graft.core.Half.encodeBytes(vec), m, c)
        }
      }.toDF("cluster_id", "id", "vec", "cmeta", "codes")
    else
      base.flatMap { case (id, v) => Option(encodeOne(id, v)) }
        .toDF("cluster_id", "id", "vec", "cmeta", "codes")
  }

  /** Meta is driver-side data measured in kilobytes — written as plain
    * files (properties + little-endian f32 block), NOT Spark jobs: the
    * reference's meta page analog. Pre-round-2 indexes carried parquet
    * meta; `load` still reads those. */
  private def writeMeta(spark: SparkSession, dir: String, dim: Int, origDim: Int,
                        cfg: IvfConfig, centroids: Array[Array[Float]],
                        sourceComplete: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dir))
    val p = new java.util.Properties()
    p.setProperty("source_complete", sourceComplete.toString)
    p.setProperty("dim", dim.toString)
    p.setProperty("orig_dim", origDim.toString)
    p.setProperty("lists", cfg.lists.toString)
    p.setProperty("bits", cfg.bits.toString)
    p.setProperty("residual", cfg.residual.toString)
    p.setProperty("metric", cfg.metric)
    p.setProperty("sampling_factor", cfg.samplingFactor.toString)
    p.setProperty("kmeans_iters", cfg.kmeansIters.toString)
    p.setProperty("kmeans_algo", cfg.kmeansAlgo)
    p.setProperty("kmeans_dim", cfg.kmeansDim.toString)
    p.setProperty("rotate", cfg.rotate.toString)
    p.setProperty("lists1", cfg.lists1.toString)
    p.setProperty("storage", cfg.storage)
    p.setProperty("store_vectors", cfg.storeVectors.toString)
    p.setProperty("assign_by_tree", cfg.assignByTree.toString)
    p.setProperty("upper_lists", cfg.upperLists.mkString(","))
    val w = Files.newBufferedWriter(Paths.get(dir, "meta.properties"))
    try p.store(w, "graft ivf index meta") finally w.close()
    Files.write(Paths.get(dir, "centroids.bin"), floatBlock(centroids))
  }

  private def floatBlock(rows: Array[Array[Float]]): Array[Byte] = {
    val dim = if (rows.isEmpty) 0 else rows(0).length
    val bb = java.nio.ByteBuffer.allocate(8 + rows.length * dim * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(rows.length); bb.putInt(dim)
    rows.foreach { r => var j = 0; while (j < dim) { bb.putFloat(r(j)); j += 1 } }
    bb.array()
  }

  private def readFloatBlock(path: Path): Array[Array[Float]] = {
    val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(path))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt(); val dim = bb.getInt()
    Array.fill(n) { val r = new Array[Float](dim); var j = 0; while (j < dim) { r(j) = bb.getFloat(); j += 1 }; r }
  }

  /** Bytes currently held by this JVM's local-mode shuffle scratch
    * (blockmgr-* dirs under java.io.tmpdir). Observability for the staged
    * build; COVERAGE.md's 1B-row codes-only anchor sampled peak scratch. */
  private[graft] def shuffleScratchBytes(): Long = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("blockmgr-"))
      .map { d =>
        val root = d.toPath
        try {
          val s = Files.walk(root)
          try s.filter(Files.isRegularFile(_)).mapToLong(p =>
            try Files.size(p) catch { case _: java.io.IOException => 0L }).sum()
          finally s.close()
        } catch { case _: java.io.IOException => 0L }
      }.sum
  }

  /** Between staged-build passes: drop the finished pass's shuffle files.
    * Spark removes shuffle scratch when the ShuffleDependency is GC'd
    * (ContextCleaner), which in a tight pass loop can lag arbitrarily —
    * exactly what staging exists to prevent. Force GCs and poll until the
    * blockmgr footprint drops within 1 GB of `baseline` — the footprint
    * measured before this build's passes began, so scratch owned by OTHER
    * JVMs sharing the tmpdir never traps the loop in futile full GCs —
    * or attempts run out (stale files then still clear on the next pass's
    * GC pressure). */
  private def releaseShuffleScratch(baseline: Long): Unit = {
    var attempts = 0
    while (attempts < 15 && shuffleScratchBytes() > baseline + (1L << 30)) {
      System.gc()
      Thread.sleep(1000)
      attempts += 1
    }
  }

  private def finishBuild(df: DataFrame, idCol: String, vecCol: String, dir: String,
                          cfg: IvfConfig, centroids: Array[Array[Float]],
                          origDim: Int): IvfIndex = {
    val spark = df.sparkSession
    val dim = centroids(0).length
    // internal levels first (driver-side, centroid-count work): the
    // encode pass needs them when cfg.assignByTree descends
    val (upC, upCh) = buildUpper(centroids, cfg.effectiveUpper, cfg.kmeansIters)
    val up = if (upC.nonEmpty) Some((upC, upCh)) else None
    val passes = math.min(math.max(1, cfg.buildPasses), centroids.length)
    // partitionOverwriteMode pinned STATIC on every build write: under a
    // session-level dynamic mode, "overwrite" would only replace the
    // partitions present in THIS job's output — a rebuild into an
    // existing dir would interleave stale clusters from the previous
    // generation (and the staged path's later append passes would append
    // next to them)
    if (passes <= 1)
      encodeRows(df, idCol, vecCol, cfg, centroids, origDim, upper = up)
        // co-locate each cluster before the partitioned write: one shuffle on
        // the cluster key -> O(lists) files instead of tasks x lists
        .repartition(col("cluster_id"))
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("cluster_id").parquet(s"$dir/gen-0")
    else {
      // STAGED build (cfg.buildPasses): disjoint cluster-range passes, each
      // its own shuffle+write job over only its range's rows, shuffle
      // scratch released between passes. Ranges partition [0, lists), so
      // every row lands exactly once and the union of passes equals the
      // one-pass output row-for-row.
      val per = (centroids.length + passes - 1) / passes
      // baseline AFTER the k-means/sample phase: foreign JVMs sharing
      // java.io.tmpdir (or a crashed run's leftovers) contribute scratch
      // this JVM can never release — the release loop targets growth
      // above this run's own starting footprint, not an absolute floor
      val scratch0 = shuffleScratchBytes()
      var p = 0
      while (p < passes) {
        val lo = p * per
        val hi = math.min(centroids.length, lo + per)
        if (lo < hi) {
          encodeRows(df, idCol, vecCol, cfg, centroids, origDim, upper = up,
              clusterRange = Some((lo, hi)))
            .repartition(col("cluster_id"))
            .write.mode(if (p == 0) "overwrite" else "append")
            .option("partitionOverwriteMode", "static")
            .partitionBy("cluster_id").parquet(s"$dir/gen-0")
          releaseShuffleScratch(scratch0)
        }
        p += 1
      }
    }
    // SOURCE COMPLETENESS (round 17): did every source row enter the
    // index? The encode pass silently drops NULL-vector / NULL-id rows
    // (they have no home in any cell), so a bare candidate-id
    // restriction in a served top-k plan would drop rows the exact
    // ASC-NULLS-FIRST plan ranks at the very top. Recording the answer
    // HERE — two footer/metadata-level count jobs, one over the source
    // frame and one over the freshly written generation — lets the
    // planner keep the fully parquet-pushable bare IN whenever nothing
    // was excluded (the overwhelmingly common corpus), and fall back to
    // the null-keeping Or only on corpora that actually hold nulls.
    // Absent on pre-round-17 indexes -> false (conservative: the Or).
    // CONTRACT: `df` must be the same frame the table registration
    // serves — completeness of a pre-filtered build input says nothing
    // about the table (the existing serve-coverage contract, verbatim).
    val srcCount = df.count()
    val keptCount =
      try spark.read.parquet(s"$dir/gen-0").count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    val sourceComplete = srcCount == keptCount
    writeMeta(spark, dir, dim, origDim, cfg, centroids, sourceComplete)
    Files.createDirectories(Paths.get(dir))
    // a rebuild into a dir tainted by an earlier instance's null-bearing
    // delta append starts from this build's own fresh verdict
    Files.deleteIfExists(Paths.get(dir, "SOURCE_INCOMPLETE"))
    Files.writeString(Paths.get(dir, "CURRENT"), "gen-0")
    upC.indices.foreach { lvl =>
      Files.write(Paths.get(dir, s"upper$lvl.centroids.bin"), floatBlock(upC(lvl)))
      Files.writeString(Paths.get(dir, s"upper$lvl.children.txt"),
        upCh(lvl).map(_.mkString(",")).mkString("\n"))
    }
    new IvfIndex(spark, dir,
      IvfMeta(dim, origDim, cfg, centroids, upC, upCh, sourceComplete))
  }

  /** Internal build: sampled driver-side k-means (reference B1-B5). */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
            cfg: IvfConfig = IvfConfig()): IvfIndex = {
    cfg.validate()
    val spark = df.sparkSession
    import spark.implicits._
    val cap = math.max(cfg.lists * cfg.samplingFactor, cfg.lists)
    // Randomized sample, not a prefix: a limit(cap) would take the FIRST
    // cap rows, and on data sorted/clustered by time or source (every real
    // big table) k-means would learn one corner of the distribution. The
    // reference does a randomized table-sample scan
    // (reference: src/index/sample.rs:14-262). Ordering by a seeded hash of
    // the id is (a) uniform, (b) deterministic across runs/partitionings
    // (unlike rand(), whose streams are per-partition), and (c) scale-safe:
    // orderBy+limit plans as TakeOrderedAndProject — a bounded per-partition
    // heap of cap rows, no full sort shuffle.
    // Two-phase so driver task-result volume is bounded by cap VECTORS, not
    // cap-per-task: a single orderBy+limit over the vector column plans as
    // TakeOrderedAndProject, whose per-partition partials (up to cap FULL
    // rows each) all ship to the driver — megabytes at 64d, but at 768d
    // (3 KB/row) the partials total partitions x cap x rowBytes and break
    // spark.driver.maxResultSize (measured: >8 GiB at 10M x 768d). Phase 1
    // takes the global top-cap over narrow (rk, id) pairs — 16 bytes/row,
    // tiny at any dim/partition count; phase 2 fetches exactly those rows'
    // vectors via a broadcast semi-join (one more scan, bounded output).
    val sampleBase = df.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
    val topIds: Array[Long] = sampleBase
      .select(xxhash64(col(idCol).cast("long"), lit(0x9E3779B9L)).as("__rk"),
        col(idCol).cast("long").as("__id"))
      .orderBy(col("__rk"), col("__id"))
      .limit(cap)
      .select(col("__id")).as[Long].collect()
    val rkRank: Map[Long, Int] = topIds.zipWithIndex.toMap
    val sample0: Array[Array[Float]] = sampleBase
      .select(col(idCol).cast("long").as("__id"), col(vecCol))
      .join(broadcast(topIds.toSeq.toDF("__sid")), col("__id") === col("__sid"), "leftsemi")
      .as[(Long, Array[Float])].collect()
      .sortBy { case (id, _) => rkRank.getOrElse(id, Int.MaxValue) }
      .take(cap)
      .map(_._2)
    // Empty build (reference tests/general/issue_427.slt: CREATE INDEX on
    // an all-NULL column succeeds — the standard create-then-insert
    // lifecycle). Dim cannot come from the data, so it must be declared;
    // a single zero centroid makes every later appendDelta/search well
    // defined (inserts land in cell 0 until a post-load rebuild).
    if (sample0.isEmpty) {
      require(cfg.dim > 0,
        "cannot build an index without at least one non-null vector unless " +
        "IvfConfig(dim=...) declares the dimension (the reference takes dim " +
        "from the column typmod and builds empty, tests/general/issue_427.slt)")
      val storedDim = if (cfg.rotate) new Rotation(cfg.dim).paddedDim else cfg.dim
      return finishBuild(df, idCol, vecCol, dir, cfg,
        Array(new Array[Float](storedDim)), cfg.dim)
    }
    val origDim = sample0(0).length
    require(cfg.dim == 0 || cfg.dim == origDim,
      s"declared dim ${cfg.dim} does not match the data's dim $origDim " +
      "(the reference rejects typmod-mismatched vectors, S13)")
    // centroids live in the STORED space: normalize first (cosine), THEN
    // rotate — the same normalize-then-rotate order as encodeRows and
    // prepQuery, so clustering, assignment, and probing share one space.
    // Rotation is orthonormal, so spherical centroid renormalization
    // remains valid after it.
    val sampleN = if (spherical(cfg)) sample0.map(K.normalize) else sample0
    val sample =
      if (cfg.rotate) { val r = new Rotation(origDim); sampleN.map(r.apply) }
      else sampleN
    val hier = cfg.kmeansAlgo == "hierarchical"
    val centroids =
      if (cfg.kmeansDim > 0)
        KMeans.reducedDim(sample, cfg.lists, cfg.kmeansDim, cfg.kmeansIters,
          hier, spherical(cfg))
      else if (hier) KMeans.hierarchical(sample, cfg.lists, cfg.kmeansIters,
        spherical(cfg))
      else KMeans.lloyd(sample, cfg.lists, cfg.kmeansIters, spherical(cfg))
    finishBuild(df, idCol, vecCol, dir, cfg, centroids, origDim)
  }

  /** Cluster one tier into a parent level; children(i) lists the indices
    * of the tier below assigned to parent i. */
  private def clusterLevel(below: Array[Array[Float]], size: Int,
                           iters: Int): (Array[Array[Float]], Array[Array[Int]]) = {
    val cents = KMeans.lloyd(below, size, iters)
    val children = Array.fill(cents.length)(scala.collection.mutable.ArrayBuffer[Int]())
    below.indices.foreach { i =>
      children(KMeans.nearest(below(i), cents)) += i
    }
    (cents, children.map(_.toArray))
  }

  /** Assemble the internal levels bottom-up (reference B5,
    * am/am_build.rs:1355-1385): leaf centroids cluster into the finest
    * internal level, that level's centroids into the next coarser, and so
    * on — `sizes` is coarse -> fine. Returned seqs are coarse -> fine;
    * the finest level's children are LEAF cell ids. */
  private[index] def buildUpper(centroids: Array[Array[Float]], sizes: Seq[Int],
                                iters: Int): (Seq[Array[Array[Float]]], Seq[Array[Array[Int]]]) = {
    var below = centroids
    var acc = List.empty[(Array[Array[Float]], Array[Array[Int]])]
    sizes.reverse.foreach { size =>
      val lvl = clusterLevel(below, size, iters)
      acc = lvl :: acc
      below = lvl._1
    }
    (acc.map(_._1), acc.map(_._2))
  }

  /**
   * External build from a user-provided centroid table (reference B7:
   * am/am_build.rs:1589-1752 — `(id, parent, vector)` rows; validated:
   * unique ids, consistent dims, and when `parent` is present a single
   * root, no cycles, all nodes reachable). Leaf rows become the IVF cells.
   */
  def buildExternal(df: DataFrame, idCol: String, vecCol: String, dir: String,
                    centroidTable: DataFrame, cfg: IvfConfig = IvfConfig()): IvfIndex = {
    cfg.validate()
    val spark = df.sparkSession
    import spark.implicits._
    val hasParent = centroidTable.columns.contains("parent")
    val rows: Array[(Long, Option[Long], Array[Float])] =
      if (hasParent)
        centroidTable.select(col("id").cast("long"), col("parent").cast("long"), col("vector"))
          .as[(Long, Option[Long], Seq[Float])].collect()
          .map { case (i, p, v) => (i, p, v.toArray) }
      else
        centroidTable.select(col("id").cast("long"), col("vector"))
          .as[(Long, Seq[Float])].collect()
          .map { case (i, v) => (i, None: Option[Long], v.toArray) }
    require(rows.nonEmpty, "external centroid table is empty")
    val ids = rows.map(_._1)
    require(ids.distinct.length == ids.length, "duplicate ids in external centroid table")
    val dims = rows.map(_._3.length).distinct
    require(dims.length == 1, s"inconsistent centroid dims: ${dims.mkString(",")}")
    val leaves: Array[Array[Float]] =
      if (!hasParent || rows.forall(_._2.isEmpty)) rows.sortBy(_._1).map(_._3)
      else {
        val byId = rows.map(r => r._1 -> r).toMap
        val roots = rows.filter(_._2.isEmpty)
        require(roots.length == 1, s"expected exactly one root, got ${roots.length}")
        // parent links must reach the root acyclically
        rows.foreach { r =>
          var cur = r
          var steps = 0
          while (cur._2.isDefined) {
            require(steps <= rows.length, s"cycle detected at centroid id ${r._1}")
            val p = cur._2.get
            require(byId.contains(p), s"dangling parent $p for centroid ${r._1}")
            cur = byId(p)
            steps += 1
          }
        }
        val parentIds = rows.flatMap(_._2).toSet
        val leafRows = rows.filter(r => !parentIds.contains(r._1))
        require(leafRows.nonEmpty, "centroid tree has no leaves")
        leafRows.sortBy(_._1).map(_._3)
      }
    require(!cfg.rotate, "external centroid tables are in the unrotated space")
    val cfgAdj = cfg.copy(lists = leaves.length)
    finishBuild(df, idCol, vecCol, dir, cfgAdj, leaves, leaves(0).length)
  }

  def load(spark: SparkSession, dir: String): IvfIndex = {
    if (Files.exists(Paths.get(dir, "meta.properties"))) {
      val p = new java.util.Properties()
      val r = Files.newBufferedReader(Paths.get(dir, "meta.properties"))
      try p.load(r) finally r.close()
      val upperProp = Option(p.getProperty("upper_lists")).getOrElse("")
      val cfg = IvfConfig(
        lists = p.getProperty("lists").toInt,
        bits = p.getProperty("bits").toInt,
        residual = p.getProperty("residual").toBoolean,
        metric = p.getProperty("metric"),
        samplingFactor = p.getProperty("sampling_factor").toInt,
        kmeansIters = p.getProperty("kmeans_iters").toInt,
        kmeansAlgo = p.getProperty("kmeans_algo"),
        kmeansDim = p.getProperty("kmeans_dim").toInt,
        rotate = p.getProperty("rotate").toBoolean,
        lists1 = p.getProperty("lists1").toInt,
        storage = p.getProperty("storage"),
        upperLists = if (upperProp.isEmpty) Nil else upperProp.split(",").map(_.toInt).toSeq,
        // pre-round-7 indexes always stored vectors
        storeVectors = Option(p.getProperty("store_vectors")).forall(_.toBoolean),
        assignByTree = Option(p.getProperty("assign_by_tree")).exists(_.toBoolean))
      val centroids = readFloatBlock(Paths.get(dir, "centroids.bin"))
      def readChildren(path: Path): Array[Array[Int]] =
        Files.readString(path).split("\n")
          .map(line => if (line.isEmpty) Array.empty[Int]
                       else line.split(",").map(_.toInt))
      val nUpper = cfg.effectiveUpper.length
      val (upC, upCh) =
        if (nUpper == 0) (Nil, Nil)
        else if (Files.exists(Paths.get(dir, "upper0.centroids.bin")))
          ((0 until nUpper).map(l => readFloatBlock(Paths.get(dir, s"upper$l.centroids.bin"))),
            (0 until nUpper).map(l => readChildren(Paths.get(dir, s"upper$l.children.txt"))))
        else // pre-round-3 single-internal-level layout
          (Seq(readFloatBlock(Paths.get(dir, "l1centroids.bin"))),
            Seq(readChildren(Paths.get(dir, "l1children.txt"))))
      return new IvfIndex(spark, dir,
        IvfMeta(p.getProperty("dim").toInt, p.getProperty("orig_dim").toInt,
          cfg, centroids, upC, upCh,
          // pre-round-17 metas never measured completeness -> false
          sourceComplete = Option(p.getProperty("source_complete"))
            .exists(_.toBoolean)))
    }
    // pre-round-2 layout: parquet config/centroids/l1
    import spark.implicits._
    val cfgDf = spark.read.parquet(s"$dir/config")
    // pre-halfvec indexes have no storage column
    val withStorage =
      if (cfgDf.columns.contains("storage")) cfgDf
      else cfgDf.withColumn("storage", org.apache.spark.sql.functions.lit("f32"))
    val (dim, origDim, lists, bits, residual, metric, sf, it, algo, kdim, rotate, lists1, storage) =
      withStorage.select("dim", "orig_dim", "lists", "bits", "residual", "metric",
          "sampling_factor", "kmeans_iters", "kmeans_algo", "kmeans_dim", "rotate",
          "lists1", "storage")
        .as[(Int, Int, Int, Int, Boolean, String, Int, Int, String, Int, Boolean, Int, String)]
        .head()
    val centroids = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
    val (upC, upCh) =
      if (lists1 > 0) {
        val rows = spark.read.parquet(s"$dir/l1")
          .as[(Int, Seq[Float], Seq[Int])].collect().sortBy(_._1)
        (Seq(rows.map(_._2.toArray)), Seq(rows.map(_._3.toArray)))
      } else (Nil, Nil)
    new IvfIndex(spark, dir,
      IvfMeta(dim, origDim,
        IvfConfig(lists, bits, residual, metric, sf, it, algo, kdim, rotate,
          lists1 = lists1, storage = storage),
        centroids, upC, upCh))
  }

  private[index] def rmRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  // ------------------------------------------------------------------
  // FLAT MULTI-ROOT planning reads: the partitioned-table planner
  // (AnnTopKRewrite.serveMulti / serveRange over per-child indexes,
  // reference tests/vchordrq/partition.slt) needs the union of every
  // child index's candidates in one job. The union-of-per-root-frames
  // shape got the JOB count to one but left planning cost linear in
  // child count — Catalyst analyzes R union branches and lists R
  // separate relations (measured 0.44 s at 4 roots -> 3.09 s at 32;
  // ~25 s extrapolated at a 256-child date-partitioned corpus). These
  // helpers instead list every root's PROBED CLUSTER directories as
  // explicit leaf parquet paths and read them as ONE relation: a single
  // analyzed scan at any width, with each row resolving its owning
  // (root, cluster) from its file path against a directory
  // map and scored with that root's own prep (residual query, sums,
  // cluster dot — roots may differ in bits/storage/rotation).
  //
  // Trade, documented: the direct file read bypasses a prewarm() /
  // prewarmCodes() cache on the indexes it reads (probed cells come
  // from the OS page cache instead), so a single root never reads flat.
  // The one cell scan (top-k pool and sphere range alike) has three
  // row sources (PoolPlan.poolRows): a warm single root runs over its
  // resident source, planned once per persisted cache; a cold single
  // root plans a partition-pruned scan per scan; more roots plan the
  // flat read per scan.
  // ------------------------------------------------------------------

  /** Per-dir info for the flat read: (root, clusterId). Each root's code
    * layout and the query preps travel separately ([[CellScan]]). */
  private type DirInfo = (Int, Int)

  /** Register the probed-cluster leaf dirs of `ix` (current generation +
    * delta): structural info into `into`, and the dirs' pre-listed data
    * FileStatuses into `files`. Existence and listing resolve against
    * ONE atomic cached snapshot ([[IvfIndex.dirListing]]) — no per-plan
    * filesystem walk, and no torn view if a compact flips CURRENT
    * mid-plan (cids and file map come from the same snapshot). */
  private def probedDirs(ix: IvfIndex, root: Int, probed: Iterable[Int],
      into: scala.collection.mutable.HashMap[String, DirInfo],
      files: scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus])
      : Unit = {
    val dl = ix.dirListing
    val gen = dl.gen
    val genCids = dl.genCids
    val deltaCids = dl.deltaCids
    probed.foreach { cid =>
      val cands =
        (if (genCids.contains(cid)) s"${ix.dir}/$gen/cluster_id=$cid" :: Nil else Nil) :::
        (if (deltaCids.contains(cid)) s"${ix.dir}/delta/cluster_id=$cid" :: Nil else Nil)
      cands.foreach { d =>
        // ABSOLUTIZE before keying: an index registered under a relative
        // dir would otherwise key the map with a relative URI path while
        // executors resolve _metadata.file_path to the absolute one — a
        // guaranteed lookup miss only on this flat path
        val abs = Paths.get(d).toAbsolutePath.normalize.toString
        val key = new org.apache.hadoop.fs.Path(abs).toUri.getPath
        into(key) = (root, cid)
        dl.filesByDir.get(key).foreach(files ++= _)
      }
    }
  }

  /** Flat VECTOR read spanning EVERY cell of every root (gen + delta) as
    * ONE parquet relation, with an optional predicate pushed into the
    * scan — the rescore face of the flat multi-root read for callers
    * whose candidates are not cell-localized (packed-key MaxSim docs).
    * Returns the raw (id, vec, __path) frame plus the [[RootOfPath]]
    * that resolves a row's root (captured per task, not broadcast: its
    * dir cache is per copy). A per-root
    * union of dataDf reads expresses the same scan but analyzes R
    * relations per plan — the linear planning term the flat read exists
    * to remove. Requires homogeneous storage across roots. */
  private[graft] def flatAllVecsFor(idxs: Seq[IvfIndex],
      pred: Option[org.apache.spark.sql.Column])
      : (org.apache.spark.sql.DataFrame, RootOfPath) = {
    val h = idxs.head
    val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
    val files =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    idxs.zipWithIndex.foreach { case (ix, r) =>
      val dl = ix.dirListing
      probedDirs(ix, r, dl.genCids ++ dl.deltaCids, info, files)
    }
    val df0 = flatVecsDf(h.spark, files.toArray, h.meta.cfg.storage == "f16")
    (pred.map(df0.filter).getOrElse(df0), new RootOfPath(info.toMap))
  }

  /** One query set's scoring preps for one (root, cell), as parallel
    * arrays — the scan loop reads primitives, with no map lookup or
    * tuple unpacking per (row, query) pair: query index, prepped
    * (residual) query, its sum and squared norm, and the dot-family
    * cluster term dot(q, c). */
  private final class CellPreps(val qis: Array[Int], val qr: Array[Array[Float]],
      val qSum: Array[Double], val qNormSq: Array[Double], val cDot: Array[Double])
      extends Serializable

  /** What one cell scan plans on the driver and its exact phase reuses
    * (no re-probing): per root the prepped queries (`qq(root)(qi)`), each
    * query's cells (`cells(root)(qi)`) and their union (`probed`); past
    * one root, the flat read's dir map and the probed cells' files. */
  private final class PoolPlan(val idxs: Seq[IvfIndex],
      val qq: Array[Array[Array[Float]]], val cells: Array[Array[Array[Int]]],
      val probed: Array[Array[Int]],
      val info: Map[String, DirInfo],
      val files: Array[org.apache.hadoop.fs.FileStatus]) {
    /** Past one root, both phases read ONE flat parquet relation over
      * every root's probed cell dirs, resolving (root, cell) from each
      * row's file path; one root reads its own relations (`cluster_id`
      * is a column). */
    def flat: Boolean = idxs.length > 1
    def empty: Boolean = if (flat) files.isEmpty else probed(0).isEmpty
    /** Scan rows (id, cmeta, codes, cluster_id | file path), from one of
      * three sources:
      *  - warm resident: one root whose prewarm() / prewarmCodes() cache
      *    is valid reuses the RDD planned once over that cache
      *    ([[IvfIndex.residentPool]]), every cell, no plan per query;
      *  - cold pruned: one root otherwise plans a partition-pruned scan
      *    of the probed cells ([[IvfIndex.poolScan]]);
      *  - flat: more roots plan the flat read of the probed cells' files. */
    def poolRows: RDD[InternalRow] =
      if (flat) planPoolSource(flatCodesFor(idxs.head.spark, files))
      else idxs.head.residentPool.map(_._2)
        .getOrElse(planPoolSource(idxs.head.poolScan(probed(0))))
    /** Exact-phase rows: (id, vec[, file path]). */
    def vecs: DataFrame =
      if (flat) flatVecsDf(idxs.head.spark, files, idxs.head.meta.cfg.storage == "f16")
      else idxs.head.rerankScan(probed(0))
    /** This plan over only the cells of queries `qis`: a range's exact
      * phase skips the cells only its scan-fallback spheres probe, and
      * the fallback reads only its own spheres' cells. */
    def only(qis: Seq[Int]): PoolPlan = {
      val sub = cells.map(byQ => qis.flatMap(byQ(_)).distinct.sorted.toArray)
      val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
      val files =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      if (flat) idxs.zipWithIndex.foreach { case (ix, r) =>
        probedDirs(ix, r, sub(r), info, files)
      }
      new PoolPlan(idxs, qq, cells, sub, info.toMap, files.toArray)
    }
  }

  /** Pool row sources planned (Catalyst analysis through physical plan)
    * so far: one per cold or flat scan, one per persisted relation for a
    * warm root. */
  private[index] val poolSourcePlans = new java.util.concurrent.atomic.AtomicLong(0)

  private[index] def planPoolSource(df: DataFrame): RDD[InternalRow] = {
    poolSourcePlans.incrementAndGet()
    ColumnBridge.toInternalRdd(df)
  }

  /** What a cell-scan task ships: per root, dense over cells, the preps
    * of the queries scanning each cell (null = none); the flat read's dir
    * map; each root's code layout; and epsilon. */
  private final class CellScan(val preps: Array[Array[CellPreps]],
      val info: Map[String, DirInfo], val flat: Boolean, val bits: Array[Int],
      val dims: Array[Int], val isL2: Array[Boolean], val eps: Double) extends Serializable

  /** The driver half of every IVF cell scan, shared by the top-k pool and
    * the sphere range: per root, each query is recorded, prepped and
    * given its cells by `cellsOf(root, queryIdx, prepped query)` (the
    * nearest centroids for top-k, the sphere-intersecting cells for
    * range), and each cell the scoring preps of the queries scanning it.
    * Queries are prepped PER ROOT (roots may differ in bits, storage and
    * rotation). */
  private def planCells(idxs: Seq[IvfIndex], queries: Array[Array[Float]],
      epsilon: Double, cellsOf: (Int, Int, Array[Float]) => Array[Int])
      : (PoolPlan, CellScan) = {
    require(queries.nonEmpty, "empty query batch")
    val nQ = queries.length
    val nRoots = idxs.length
    val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
    val files =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val qq = Array.ofDim[Array[Float]](nRoots, nQ)
    val cells = Array.ofDim[Array[Int]](nRoots, nQ)
    val probed = new Array[Array[Int]](nRoots)
    // per root, dense over cells: the preps of the queries scanning each
    val preps = new Array[Array[CellPreps]](nRoots)
    idxs.zipWithIndex.foreach { case (ix, r) =>
      val byCell = scala.collection.mutable.HashMap.empty[Int,
        scala.collection.mutable.ArrayBuffer[(Int, (Array[Float], Double, Double, Double))]]
      queries.zipWithIndex.foreach { case (q, qi) =>
        graft.eval.QueryRecorder.record(ix.dir, q)
        qq(r)(qi) = ix.prepQuery(q)
        cells(r)(qi) = cellsOf(r, qi, qq(r)(qi))
        val pc = ix.clusterPrep(qq(r)(qi), cells(r)(qi))
        cells(r)(qi).foreach { cid =>
          byCell.getOrElseUpdate(cid,
            scala.collection.mutable.ArrayBuffer.empty) += ((qi, pc(cid)))
        }
      }
      probed(r) = byCell.keys.toArray.sorted
      preps(r) = new Array[CellPreps](ix.meta.centroids.length)
      byCell.foreach { case (cid, ps) =>
        preps(r)(cid) = new CellPreps(ps.map(_._1).toArray, ps.map(_._2._1).toArray,
          ps.map(_._2._2).toArray, ps.map(_._2._3).toArray, ps.map(_._2._4).toArray)
      }
      if (nRoots > 1) probedDirs(ix, r, probed(r), info, files)
    }
    val plan = new PoolPlan(idxs, qq, cells, probed, info.toMap, files.toArray)
    (plan, new CellScan(preps, plan.info, plan.flat, idxs.map(_.meta.cfg.bits).toArray,
      idxs.map(_.meta.dim).toArray, idxs.map(_.meta.cfg.metric == "l2").toArray, epsilon))
  }

  /** One task's walk over cell-scan rows: `cell` resolves a row's
    * (root, cell) — from its file path when flat, else `cluster_id` —
    * and returns the preps of the queries scanning that cell (null =
    * none, so a source holding every cell scans exactly what a pruned
    * one does); `unpack` decodes the row's codes ONCE; `lb` is query
    * slot i's epsilon-scaled lower bound over them, bit-identical to
    * [[lbOf]] (no cosdist output shift). The one per-row bound of the
    * top-k pool and the sphere range. */
  private final class RowBound(s: CellScan) {
    private val dirCache = new java.util.HashMap[String, DirInfo]()
    private val scratch = new Array[Float](s.dims.max)
    private val bias = s.bits.map(RaBitQ.biasOf)
    private val sqrtDim = s.dims.map(d => math.sqrt(d.toDouble))
    private var disU2 = 0.0
    private var scale = 0.0
    var root = 0
    def cell(row: InternalRow): CellPreps = {
      var cid = 0
      if (s.flat) {
        val d = dirInfoFor(s.info, dirCache, row.getString(3))
        root = d._1; cid = d._2
      } else cid = row.getInt(3)
      val rp = s.preps(root)
      if (cid >= 0 && cid < rp.length) rp(cid) else null
    }
    def unpack(row: InternalRow): Unit = {
      val cm = row.getArray(1)
      disU2 = cm.getFloat(0)
      scale = RaBitQ.scaleOf(cm.getFloat(0), cm.getFloat(1))
      RaBitQ.unpackTo(row.getBinary(2), s.bits(root), s.dims(root), scratch)
    }
    def lb(cp: CellPreps, i: Int): Double = {
      val qNormSq = cp.qNormSq(i)
      val d = RaBitQ.estimateDotUnpacked(scratch, s.dims(root), scale, bias(root),
        cp.qr(i), cp.qSum(i))
      val err = math.sqrt(qNormSq) * scale * sqrtDim(root)
      // L2 from the residual estimate; dot-family adds the cluster term
      // dot(q, c) back
      if (s.isL2(root)) {
        val e = math.max(qNormSq + disU2 - 2.0 * d, 0.0)
        math.sqrt(math.max(e - s.eps * err, 0.0))
      } else -(d + cp.cDot(i)) - s.eps * err
    }
  }

  /** The ONE IVF top-k estimate pool (reference crates/vchordrq/src/
    * search.rs:36-196: probe, then RaBitQ lower bound rough - eps*err):
    * per (root, query), the exact top `nCand` (id, lb) by (lb, id) over
    * that root's probed cells, from ONE Spark job for R roots x B
    * queries. Each row's codes unpack ONCE and every query probing its
    * cell scores against that scratch ([[RowBound]]); partition-local
    * [[graft.core.BoundedTopK]] heaps bound each partition's output, and
    * [[collectPools]] bounds the driver collect. `lb` carries no cosdist
    * output shift (ordering only). `keep` ([[KeyFilter]]) admits a row to
    * the pools before its codes unpack, so the pools are the top `nCand`
    * of the rows it passes. Returns the plan for the rerank plus
    * (root, queryIdx, id, lb) rows, sorted by (lb, id) within each
    * (root, query). */
  private def pools(idxs: Seq[IvfIndex], queries: Array[Array[Float]],
      nCand: Int, probes: Seq[Int], epsilon: Double,
      probes1: Int = -1, keep: Option[KeyFilter] = None)
      : (PoolPlan, Array[(Int, Int, Long, Double)]) = {
    require(idxs.nonEmpty && probes.length == idxs.length,
      "one probe budget per root index")
    val nQ = queries.length
    val (plan, scan) = planCells(idxs, queries, epsilon,
      (r, qi, _) => idxs(r).probe(queries(qi), probes(r), probes1))
    if (plan.empty) return (plan, Array.empty)
    val task = new PoolTask(scan, nQ, nCand, keep.orNull)
    (plan, collectPools(idxs.head.spark, plan.poolRows, task, idxs.length * nQ, nCand)
      .map { case (slot, id, lb) => (slot / nQ, slot % nQ, id, lb) })
  }

  /** A key-only prefilter for [[pools]]: `pred`, bound to the one-column
    * row (id: long) every pool row source leads with, and the pool job's
    * counts of the probed rows it was asked about and of those it passed.
    * It runs interpreted, so a query with new literals compiles no class. */
  private final class KeyFilter(val pred: Expression,
      val asked: org.apache.spark.util.LongAccumulator,
      val passed: org.apache.spark.util.LongAccumulator) extends Serializable

  /** The pool's per-partition kernel, a named task ([[graft.core.BareJob]]:
    * no closure cleaning, and the preps ride in the stage's task binary).
    * Per (root, query) slot `root * nQ + qi`, the partition's exact top
    * `nCand` (slot, id, lb) by (lb, id). A probed row `keep` (null = every
    * row) rejects is skipped. */
  private final class PoolTask(scan: CellScan, nQ: Int, nCand: Int, keep: KeyFilter)
      extends ((TaskContext, Iterator[InternalRow]) => Array[(Int, Long, Double)])
      with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Array[(Int, Long, Double)] = {
      val admit =
        if (keep == null) null
        else {
          val p = Predicate.createInterpreted(keep.pred)
          p.initialize(ctx.partitionId())
          p
        }
      var asked = 0L
      var passed = 0L
      val rb = new RowBound(scan)
      val heaps = new Array[graft.core.BoundedTopK](scan.preps.length * nQ)
      it.foreach { row =>
        val cp = rb.cell(row)
        var in = cp != null
        if (in && admit != null) {
          asked += 1
          in = admit.eval(row)
          if (in) passed += 1
        }
        if (in) {
          val id = row.getLong(0)
          rb.unpack(row)
          var i = 0
          while (i < cp.qis.length) {
            val slot = rb.root * nQ + cp.qis(i)
            var h = heaps(slot)
            if (h == null) { h = new graft.core.BoundedTopK(nCand); heaps(slot) = h }
            h.offer(rb.lb(cp, i), id)
            i += 1
          }
        }
      }
      if (keep != null) { keep.asked.add(asked); keep.passed.add(passed) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      var s = 0
      while (s < heaps.length) {
        val h = heaps(s)
        if (h != null) h.foreachPair((lb, id) => out += ((s, id, lb)))
        s += 1
      }
      out.toArray
    }
  }

  /** The sphere range's per-partition kernel over the same rows and
    * bound as [[PoolTask]]: (queryIdx, root, id) for each sphere whose
    * bound, cos-shifted at the cutoff, is below its radius — every
    * passing sphere, or only the first when `firstHit`. `apply` returns
    * a partition's first `cap` hits and its full hit count, the two
    * halves of the bounded driver collect ([[collectHits]]); the
    * distributed survivor tier maps `hits` uncapped. A gen+delta double
    * row emits its tuples twice. */
  private final class RangeTask(scan: CellScan, radii: Array[Double],
      isCos: Array[Boolean], firstHit: Boolean, val cap: Int = Int.MaxValue)
      extends ((TaskContext, Iterator[InternalRow]) => (Array[(Int, Int, Long)], Long))
      with Serializable {
    def capped(c: Int): RangeTask = new RangeTask(scan, radii, isCos, firstHit, c)
    def hits(it: Iterator[InternalRow]): Iterator[(Int, Int, Long)] = {
      val rb = new RowBound(scan)
      it.flatMap { row =>
        val cp = rb.cell(row)
        if (cp == null) Iterator.empty
        else {
          val id = row.getLong(0)
          val root = rb.root
          rb.unpack(row)
          val pass = cp.qis.indices.iterator.filter { i =>
            val lb = rb.lb(cp, i)
            (if (isCos(root)) 1.0 + lb else lb) < radii(cp.qis(i))
          }.map(i => (cp.qis(i), root, id))
          if (firstHit) pass.take(1) else pass
        }
      }
    }
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): (Array[(Int, Int, Long)], Long) = {
      val out = Array.newBuilder[(Int, Int, Long)]
      var n = 0L
      hits(it).foreach { h => if (n < cap) out += h; n += 1 }
      (out.result(), n)
    }
  }

  /** The range estimate's driver collect, bounded in TOTAL: every
    * (queryIdx, root, id) hit of `task` over `rows` when there are at
    * most `lim`, else null. A first job ships each partition's first
    * ceil((lim + 1) / partitions) hits and its full count, so at most
    * lim + partitions tuples reach the driver however large the sphere;
    * only when the counts sum to at most `lim` but some partition passed
    * its share does a second job re-collect just those partitions whole
    * (at most `lim` tuples). The usual bounded range is one job. */
  private def collectHits(rows: RDD[InternalRow], task: RangeTask,
      lim: Int): Array[(Int, Int, Long)] = {
    val nParts = math.max(1, rows.getNumPartitions)
    val share = ((lim.toLong + nParts) / nParts).toInt
    val first = graft.core.BareJob.run("ivf.range", rows, task.capped(share))
    val total = first.iterator.map(_._2).sum
    rangeDriverTuples.addAndGet(first.iterator.map(_._1.length.toLong).sum)
    if (total > lim) null
    else {
      val over = first.indices.filter(p => first(p)._2 > first(p)._1.length)
      val again =
        if (over.isEmpty) Array.empty[Array[(Int, Int, Long)]]
        else graft.core.BareJob.run("ivf.range", rows, task, over).map(_._1)
      rangeDriverTuples.addAndGet(again.iterator.map(_.length.toLong).sum)
      (first.indices.filterNot(over.toSet).flatMap(first(_)._1) ++ again.iterator.flatten).toArray
    }
  }

  /** The pool's driver collect, exact top `nCand` per slot sorted by
    * (lb, id). It must not grow with the scan's partition count: each
    * partition emits up to slots x nCand heap rows. Narrow scans (the
    * planning-latency path) collect directly in one stage; past
    * `graft.ann.flat.directCollectMax` (default 4M tuples ≈ 130 MB
    * boxed — comfortably inside any driver sized for planning work)
    * a map-side-combined aggregateByKey merges heaps per slot ON
    * EXECUTORS first, making the collect exactly ≤ slots x nCand at one
    * extra (tiny) shuffle stage. Both are exact and identically
    * tie-ordered: the heap's (lb, id) order is total. */
  private def collectPools(spark: SparkSession, rows: RDD[InternalRow],
      task: PoolTask, nSlots: Int, nCand: Int): Array[(Int, Long, Double)] = {
    val directMax = graft.core.AnnConf(spark).flatDirectCollectMax
    if (rows.getNumPartitions.toLong * nSlots * nCand <= directMax)
      graft.core.BareJob.run("ivf.pool", rows, task).flatten.groupBy(_._1).valuesIterator
        .flatMap(_.sortBy(t => (t._3, t._2)).take(nCand)).toArray
    else {
      // reducer count sized to the SLOT count, not inherited from the
      // wide scan (one reduce task per scan partition for ≤ slots keys)
      val reducers = math.max(1, math.min(nSlots,
        spark.sparkContext.defaultParallelism))
      rows.mapPartitions(it => task(TaskContext.get(), it).iterator)
        .map { case (slot, id, lb) => (slot, (lb, id)) }
        .aggregateByKey(new graft.core.BoundedTopK(nCand), reducers)(
          (h, t) => { h.offer(t._1, t._2); h },
          (a, b) => a.mergeFrom(b))
        .collect()
        .flatMap { case (slot, h) => h.sorted().map { case (lb, id) => (slot, id, lb) } }
    }
  }

  /** Per-(root, query) IVF estimate pools, one job for the whole batch:
    * the planner's candidates (the top-k serve's one query, a KNN-join
    * slice's many) and the partitioned MaxSim serves' (T = query tokens,
    * scored by the caller). Per (root, query) the exact top `nCand`
    * (root, queryIdx, id, lb) in (lb, id) order, lb without the cosdist
    * shift, among the rows `keep` — a key-only prefilter bound as in
    * [[KeyFilter]] — passes, plus how many probed rows `keep` was asked
    * about and passed (0 and 0 without it). */
  private[graft] def multiEstimateCandidates(idxs: Seq[IvfIndex],
      queries: Array[Array[Float]], nCand: Int, probes: Seq[Int],
      epsilon: Double = 1.9, keep: Option[Expression] = None)
      : (Array[(Int, Int, Long, Double)], Long, Long) = {
    val sc = idxs.head.spark.sparkContext
    val kf = keep.map(new KeyFilter(_, sc.longAccumulator, sc.longAccumulator))
    val cands = pools(idxs, queries, nCand, probes, epsilon, keep = kf)._2
    (cands, kf.fold(0L)(_.asked.value), kf.fold(0L)(_.passed.value))
  }

  /** The sphere range's cell scan (reference scanners/default.rs:111-117:
    * the top-k scanner with the center as scan vector and the radius as
    * cutoff): [[planCells]] over each sphere's intersecting cells
    * (`rangeCells`), and the [[RangeTask]] that emits their hits. */
  private def rangeScan(idxs: Seq[IvfIndex], centers: Array[Array[Float]],
      radii: Array[Double], epsilon: Double,
      firstHit: Boolean): (PoolPlan, RangeTask) = {
    val (plan, scan) = planCells(idxs, centers, epsilon,
      (r, qi, qq) => idxs(r).rangeCells(qq, radii(qi)))
    (plan, new RangeTask(scan, radii, idxs.map(_.meta.cfg.metric == "cosdist").toArray,
      firstHit))
  }

  /** Multi-root MULTI-SPHERE range candidates: ids whose code lower bound
    * undercuts SOME sphere's radius in that sphere's intersecting cells
    * of ANY root (a row exits at its first passing sphere), or None past
    * `cap` of them — overflow is detected by the bounded
    * [[collectHits]], never an unbounded collect. ONE Spark job over the
    * pool's row sources (a second only when a partition passes its share
    * of `cap` while the total stays under it) — every planner range
    * serve (standalone filter and order-by at M = 1, range join at any
    * M, on one root or many) pools through this. May contain gen+delta
    * duplicates, counted toward `cap` — callers dedup. */
  private[graft] def multiRangeCandidateIds(idxs: Seq[IvfIndex],
      spheres: Array[(Array[Float], Double)], epsilon: Double,
      cap: Int): Option[Array[Long]] = {
    require(idxs.nonEmpty, "no root indexes")
    require(spheres.nonEmpty, "no spheres")
    val (plan, task) = rangeScan(idxs, spheres.map(_._1), spheres.map(_._2), epsilon,
      firstHit = true)
    if (plan.empty) Some(Array.empty)
    else Option(collectHits(plan.poolRows, task, cap)).map(_.map(_._3))
  }

  /** One index's on-disk layout snapshot: current generation name, the
    * cluster ids under it and under delta, and every cluster dir's
    * data-file statuses keyed by the dir's scheme-less URI path. Cached
    * PER INSTANCE under the dataDf invalidation key
    * ([[IvfIndex.dirListing]]) — an append/compact re-lists only the
    * mutated root, and flat multi-root planning does no per-plan
    * directory walk and never a distributed listing job (re-listing
    * 16k dirs through spark.read measured ~20 s, and a relation-level
    * cache would re-pay it after EVERY append/compact of ANY root). */
  private[graft] final case class DirListing(gen: String, genCids: Set[Int],
      deltaCids: Set[Int],
      filesByDir: Map[String, Array[org.apache.hadoop.fs.FileStatus]])

  /** Minimal static [[org.apache.spark.sql.execution.datasources.FileIndex]]:
    * serves a pre-resolved file set with ZERO filesystem access at plan
    * time (the extension point Delta-style table formats use). */
  private final class StaticFileIndex(
      override val rootPaths: Seq[org.apache.hadoop.fs.Path],
      files: Array[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.datasources.PartitionDirectory
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files))
    override def inputFiles: Array[String] = files.map(_.getPath.toString)
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(Nil)
  }

  /** The flat codes read over exactly `files`: a parquet
    * HadoopFsRelation over a [[StaticFileIndex]] — the statuses come
    * from the per-root [[rootFiles]] cache, so building this relation
    * does NO listing and the job scans ONLY the probed cells' files.
    * Pruned to the estimate columns plus the file path (no vec bytes
    * read — same column economics as codesDf). */
  private def flatCodesFor(spark: SparkSession,
      files: Array[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("cmeta", ArrayType(FloatType)),
      StructField("codes", BinaryType)))
    val roots = files.map(_.getPath.getParent).distinct.toSeq
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new StaticFileIndex(roots, files),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
      .select(col("id"), col("cmeta"), col("codes"),
        col("_metadata.file_path").as("__path"))
  }

  /** Flat VECTOR read over exactly `files` (the rerank face of
    * [[flatCodesFor]]): id + stored vector + file path, schema pinned by
    * the (homogeneous) storage tier. */
  private def flatVecsDf(spark: SparkSession,
      files: Array[org.apache.hadoop.fs.FileStatus],
      f16: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val vecType: DataType = if (f16) BinaryType else ArrayType(FloatType)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vec", vecType)))
    val roots = files.map(_.getPath.getParent).distinct.toSeq
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new StaticFileIndex(roots, files),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
      .select(col("id"), col("vec"), col("_metadata.file_path").as("__path"))
  }

  /** Batched MULTI-ROOT top-k, the one IVF top-k face every other
    * serves through: R roots x B queries answered by [[pools]] (one job)
    * plus [[rerank]] (one job). Queries are prepped PER ROOT, so per-root
    * rotation and cosine normalization are honored. Children must share
    * dim and metric (one query vector, one comparable distance);
    * STORAGE-mixed corpora (f32 + f16 children, or full + codes-only
    * with a rerank table) serve by homogeneous (storage, storeVectors)
    * group — the flat reads pin one schema per relation — merged exactly
    * in the shared final fold (2 x G jobs for G groups). The driver pool
    * is budgeted by `graft.ann.batch.maxPoolTuples` (a loud refusal past
    * it). Output (qid, id, dist, rn): per query the k best DISTINCT ids
    * in (dist, id) order. */
  def searchManyMulti(idxs: Seq[IvfIndex], queries: Array[(Long, Array[Float])],
                      k: Int, probes: Int = 4, refine: Int = 8,
                      epsilon: Double = 1.9,
                      rerankTable: Option[(org.apache.spark.sql.DataFrame, String, String)] = None)
      : org.apache.spark.sql.DataFrame = {
    require(idxs.nonEmpty, "no root indexes")
    requireBatch(queries.map(_._1))
    val h = idxs.head
    // dim and metric must agree across ALL children — one query vector
    // cannot probe two dims, and distances under different metrics are
    // not comparable in one top-k (these stay a loud refusal)
    require(idxs.forall(ix => ix.meta.dim == h.meta.dim &&
        ix.meta.cfg.metric == h.meta.cfg.metric),
      "searchManyMulti requires homogeneous dim and metric across " +
      "children — distances under different metrics cannot merge into " +
      "one top-k; mixed-metric corpora serve per query through the planner")
    require(rerankTable.nonEmpty || idxs.forall(_.meta.cfg.storeVectors),
      "codes-only children (storeVectors=false) store no vectors: pass " +
      "rerankTable=Some((sourceDf, idCol, vecCol)) so the exact phase " +
      "fetches original vectors from the source table")
    val nCand = math.max(k * refine, k)
    requirePoolBudget(h.spark, "searchManyMulti", idxs.length, queries.length, nCand)
    val qvecs = queries.map(_._2)
    val groups: Seq[Seq[IvfIndex]] =
      idxs.groupBy(ix => (ix.meta.cfg.storage, ix.meta.cfg.storeVectors))
        .toSeq.sortBy(_._1).map(_._2)
    val scored = groups.toArray.flatMap { g =>
      val (plan, pool) = pools(g, qvecs, nCand, Seq.fill(g.length)(probes), epsilon)
      rerank(plan, pool.map(t => (t._1, t._2, t._3)), qvecs, rerankTable)
    }
    topKFold(h.spark, scored, k, queries.map(_._1))
  }

  private def requireBatch(qids: Array[Long]): Unit = {
    require(qids.nonEmpty, "empty query batch")
    require(qids.distinct.length == qids.length,
      "duplicate qids in query batch — results would silently merge")
  }

  /** Driver-pool budget, the no-silent-caps rule: the pool collect, the
    * candidate broadcast and the rerank output all scale as
    * roots x queries x nCand — a caller gets a LOUD refusal, not an OOM
    * (lower refine or split the batch; conf-raise for big drivers). */
  private def requirePoolBudget(spark: SparkSession, face: String, roots: Int,
      nQ: Int, nCand: Int): Unit = {
    val maxPool = graft.core.AnnConf(spark).batchMaxPoolTuples
    require(roots.toLong * nQ * nCand <= maxPool,
      s"$face pool budget exceeded: $roots roots x $nQ queries x $nCand " +
      s"candidates > $maxPool (graft.ann.batch.maxPoolTuples) — lower " +
      "refine or split the batch")
  }

  /** The ONE IVF exact rerank (reference crates/vchordrq/src/rerank.rs:
    * 34-110 in-index, 111+ in-table): exact distances for pooled
    * (root, queryIdx, id) candidates, as raw (queryIdx, id, dist) rows,
    * from ONE job. In-index, a bare job ([[ExactTask]]) scans the probed
    * cells' vectors once, checks membership per root and scores against
    * the root-prepped query. In-table, [[tableScores]]. Rows are not
    * folded: a gen+delta double row scores twice ([[topKFold]] keeps its
    * best). */
  private def rerank(p: PoolPlan, cands: Array[(Int, Int, Long)],
      raw: Array[Array[Float]],
      rerankTable: Option[(DataFrame, String, String)]): Array[(Int, Long, Double)] = {
    if (cands.isEmpty) return Array.empty
    val cfg = p.idxs.head.meta.cfg
    rerankTable match {
      case Some((src, idCol, vecCol)) =>
        tableScores(src, idCol, vecCol, cands, raw, cfg.metric).collect()
      case None =>
        val byRoot = cands.groupBy(_._1)
        val members = Array.tabulate(p.idxs.length)(r =>
          Members.of(byRoot.getOrElse(r, Array.empty[(Int, Int, Long)])))
        graft.core.BareJob.run("ivf.rerank", ColumnBridge.toInternalRdd(p.vecs),
          new ExactTask(members, null, p.qq, p.info, p.flat,
            cfg.storage == "f16", cfg.metric, stored = true))
          .flatMap { case (qi, id, d) => qi.indices.iterator.map(i => (qi(i), id(i), d(i))) }
    }
  }

  /** One root's rerank membership: its sorted unique candidate ids and,
    * CSR-style, each id's distinct query slots
    * (`slots(offs(i) until offs(i + 1))`). Primitive arrays, so a task
    * binary holding a million candidates (a large range) serializes and
    * deserializes in a few bulk copies. */
  private final class Members(val ids: Array[Long], val offs: Array[Int],
      val slots: Array[Int]) extends Serializable

  private object Members {
    private val byIdThenSlot: Comparator[(Int, Int, Long)] = (a, b) => {
      val c = java.lang.Long.compare(a._3, b._3)
      if (c != 0) c else Integer.compare(a._2, b._2)
    }
    /** From one root's (root, queryIdx, id) candidates in any order;
      * repeats fold. */
    def of(cands: Array[(Int, Int, Long)]): Members = {
      val s = cands.clone()
      java.util.Arrays.sort(s, byIdThenSlot)
      val ids = Array.newBuilder[Long]
      val offs = Array.newBuilder[Int]
      val slots = Array.newBuilder[Int]
      var n = 0
      var i = 0
      while (i < s.length) {
        val newId = i == 0 || s(i)._3 != s(i - 1)._3
        if (newId) { ids += s(i)._3; offs += n }
        if (newId || s(i)._2 != s(i - 1)._2) { slots += s(i)._2; n += 1 }
        i += 1
      }
      offs += n
      new Members(ids.result(), offs.result(), slots.result())
    }
  }

  /** The in-table exact phase, lazy: candidates from any root only gate
    * membership, since the source table's rows are the single exact
    * truth; they are point-fetched ([[pointFetch]]) and scored against
    * the RAW queries of their slots, as (queryIdx, id, dist). A NULL
    * vector scores nothing. Also the driver graph tier's exact phase
    * (`VamanaGraph.searchManyMulti` / `rangeSearchManyMulti`). */
  private[index] def tableScores(src: DataFrame, idCol: String, vecCol: String,
      cands: Array[(Int, Int, Long)], raw: Array[Array[Float]],
      metric: String): Dataset[(Int, Long, Double)] = {
    val spark = src.sparkSession
    import spark.implicits._
    val id2q: Map[Long, Array[Int]] =
      cands.groupBy(_._3).view.mapValues(_.map(_._2).distinct).toMap
    tableVecs(pointFetch(src, idCol, id2q.keys.toArray.sorted), idCol, vecCol)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val kern = exactKernel(metric, stored = false)
        it.flatMap { case (id, v) =>
          if (v == null) Iterator.empty
          else id2q.getOrElse(id, Array.empty[Int]).iterator
            .map(qi => (qi, id, kern(v, raw(qi))))
        }
      }
  }

  /** A rerank table's exact-phase rows: (id: long, vec: array<float>). */
  private def tableVecs(src: DataFrame, idCol: String, vecCol: String): DataFrame =
    src.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))

  /** The exact phase's kernel over (id, vec[, file path]) rows, a named
    * task: a row whose id is among its root's [[Members]] (binary search
    * on the raw row, BEFORE any vector decode) scores against each of
    * that id's query slots; with `members` null every row scores against
    * every slot in `all` (the range's scan fallback).
    * Output (queryIdx, id, dist): stored vectors against the root-prepped
    * queries `qs(root)`, table vectors (`stored` false, one root) against
    * the raw ones. A NULL id or vector scores nothing. */
  private final class ExactTask(members: Array[Members],
      all: Array[Int], qs: Array[Array[Array[Float]]], info: Map[String, DirInfo],
      flat: Boolean, f16: Boolean, metric: String, stored: Boolean)
      extends ((TaskContext, Iterator[InternalRow]) =>
        (Array[Int], Array[Long], Array[Double]))
      with Serializable {
    def scores(it: Iterator[InternalRow]): Iterator[(Int, Long, Double)] = {
      val kern = exactKernel(metric, stored)
      val dirCache = new java.util.HashMap[String, DirInfo]()
      it.flatMap { row =>
        val root = if (flat) dirInfoFor(info, dirCache, row.getString(2))._1 else 0
        val slots: Iterator[Int] =
          if (row.isNullAt(0) || row.isNullAt(1)) null
          else if (members == null) all.iterator
          else {
            val m = members(root)
            val at = java.util.Arrays.binarySearch(m.ids, row.getLong(0))
            if (at < 0) null else (m.offs(at) until m.offs(at + 1)).iterator.map(m.slots(_))
          }
        if (slots == null) Iterator.empty
        else {
          val id = row.getLong(0)
          val v =
            if (f16) graft.core.Half.decodeBytes(row.getBinary(1))
            else row.getArray(1).toFloatArray()
          slots.map(qi => (qi, id, kern(v, qs(root)(qi))))
        }
      }
    }
    /** The rows as parallel primitive arrays, which a driver collect
      * deserializes in bulk. */
    def apply(ctx: TaskContext, it: Iterator[InternalRow])
        : (Array[Int], Array[Long], Array[Double]) = {
      val qi = Array.newBuilder[Int]
      val id = Array.newBuilder[Long]
      val dist = Array.newBuilder[Double]
      scores(it).foreach { t => qi += t._1; id += t._2; dist += t._3 }
      (qi.result(), id.result(), dist.result())
    }
  }

  /** The top-k faces' final driver fold: [[foldOne]] per query, as
    * (qid, id, dist, rn). */
  private[index] def topKFold(spark: SparkSession, rows: Array[(Int, Long, Double)],
      k: Int, qids: Array[Long]): DataFrame = {
    import spark.implicits._
    rows.groupBy(_._1).toSeq.flatMap { case (qi, rs) =>
      foldOne(rs.iterator.map(r => (r._2, r._3)), k)
        .map { case (id, d, rn) => (qids(qi), id, d, rn) }
    }.toDF("qid", "id", "dist", "rn")
  }

  /** One query's top-k fold (IVF and driver graph): ONE row per id at its
    * best distance (an id in both gen and delta, append-without-delete,
    * in two storage groups or in two graphs scores twice), then the k
    * best by (dist, id), as (id, dist, rn). */
  private[index] def foldOne(rows: Iterator[(Long, Double)],
      k: Int): Seq[(Long, Double, Long)] =
    rows.toSeq.groupBy(_._1).valuesIterator
      .map(dups => dups.minBy(r => (r._2, r._1)))
      .map(r => (r._2, r._1)).toSeq
      .sorted.take(k).zipWithIndex
      .map { case ((d, id), i) => (id, d, (i + 1).toLong) }

  /** The rerank-table POINT FETCH, shared by top-k and range: source
    * rows whose id is a candidate. While the id set fits a pushed parquet
    * IN (≤ [[inPushdownCap]]) the exact set reaches row-group/page
    * pruning, so the fetch reads only the pages the candidates live in
    * (measured 7x on the 10M x 768d codes-only anchor — see
    * [[ensureInPushdown]]); past the cap the pushed set would overflow
    * parquet's or-chain visitor, so larger sets broadcast-join instead. */
  private def pointFetch(src: DataFrame, idCol: String, ids: Array[Long]): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    if (ids.length <= inPushdownCap) {
      ensureInPushdown(spark, ids.length)
      src.filter(col(idCol).isin(ids.map(java.lang.Long.valueOf): _*))
    } else
      src.join(broadcast(ids.toSeq.toDF("__cand_id")),
        col(idCol).cast("long") === col("__cand_id"))
  }

  /** The one exact-distance kernel. `stored` = the index's own stored
    * vectors against the root-prepped query: normalized under cosdist,
    * so cosdist = 1 + negdot. Otherwise raw table vectors against the
    * raw query, where cosdist renormalizes. */
  private def exactKernel(metric: String,
      stored: Boolean): (Array[Float], Array[Float]) => Double =
    metric match {
      case "l2"                => K.l2
      case "negdot"            => K.negdot
      case "cosdist" if stored => (v, q) => 1.0 + K.negdot(v, q)
      case "cosdist"           => K.cosdist
    }

  /** Batched MULTI-ROOT sphere range — the ONE IVF range implementation
    * (reference opclass strategy 2, scanners/default.rs:111-117 cutoff):
    * M spheres x R roots answered by a CONSTANT number of Spark jobs.
    * [[IvfIndex.rangeSearch]] is this fold at M = 1, R = 1; a batch over
    * one index passes `Seq(idx)`; partition.slt-style corpora pass every
    * per-child index. The estimate is the top-k pool's cell scan: ONE
    * job of [[RangeTask]] over [[PoolPlan.poolRows]] (the resident
    * source when a single root is warm, a pruned scan when it is cold,
    * one flat relation past one root) emits (qid, root, id) survivors
    * whose epsilon-scaled lower bound, cos-shifted at the cutoff, is
    * below the radius. Survivor delivery is two-tier: BOUNDED survivor
    * sets (under `graft.ann.range.maxDriverSurvivors`, default 1M tuples)
    * collect in that job, bounded in total ([[collectHits]]: a second
    * job only when one partition passes its share of the bound), and the
    * exact strict-< cutoff is the top-k [[rerank]] of the probed cells'
    * vectors followed by `dist < radius` on the driver — two jobs, and
    * the answer returns as a sorted local frame (with a rerank table,
    * the point fetch [[tableScores]] stays a lazy frame); past the
    * bound, survivors stay a DATAFRAME end to end — joined to the vector
    * read on (root, id), broadcast while bounded ([[rangeBroadcastCap]]) — so a
    * low-selectivity sphere over billions of rows is served without any
    * driver candidate collect. Spheres whose code bound kept more than
    * [[rangeScanFallbackFrac]] of the corpus take the direct-scan
    * fallback over their own probed cells instead (per query — mixed
    * batches split row sets, not plans). Queries are prepped PER ROOT
    * (rotation / cosine normalization may differ), and each row scores
    * only under its own root's prep. Children must share dim and metric;
    * STORAGE-mixed corpora (f32 + f16, full + codes-only with a rerank
    * table) serve by homogeneous group — per-group survivor rows union
    * exactly, since the range contract is a per-row cutoff with no
    * cross-group merge state. An id stored twice in one root (gen +
    * delta, append-without-delete) yields its rows independently — both
    * pass the exact cutoff honestly. Output: (qid, id, dist) ascending
    * (qid, dist, id). */
  def rangeSearchManyMulti(idxs: Seq[IvfIndex],
      queries: Array[(Long, Array[Float], Double)],
      epsilon: Double = 1.9,
      rerankTable: Option[(org.apache.spark.sql.DataFrame, String, String)] = None)
      : org.apache.spark.sql.DataFrame = {
    require(idxs.nonEmpty, "no root indexes")
    requireBatch(queries.map(_._1))
    val h = idxs.head
    // dim and metric must agree (one sphere center, one comparable
    // cutoff); STORAGE-mixed corpora serve by homogeneous group below —
    // range output is a per-row cutoff with no cross-group merge state,
    // so group rows union exactly (the searchManyMulti policy)
    require(idxs.forall(ix => ix.meta.dim == h.meta.dim &&
        ix.meta.cfg.metric == h.meta.cfg.metric),
      "rangeSearchManyMulti requires homogeneous dim and metric across " +
      "children — mixed-metric corpora serve per query through the planner")
    require(rerankTable.nonEmpty || idxs.forall(_.meta.cfg.storeVectors),
      "codes-only children (storeVectors=false) store no vectors: pass " +
      "rerankTable=Some((sourceDf, idCol, vecCol)) so the exact cutoff " +
      "reads original vectors from the source table")
    val groups: Seq[Seq[IvfIndex]] =
      idxs.groupBy(ix => (ix.meta.cfg.storage, ix.meta.cfg.storeVectors))
        .toSeq.sortBy(_._1).map(_._2)
    // per-group serve, rows unioned, one global ordering: each group's
    // rows are its own exact strict-< survivors, and the range contract
    // has no cross-root fold — the union IS the answer. With a
    // rerankTable the groups share ONE source of truth, so the union can
    // carry identical duplicate rows (an id indexed by roots in two
    // groups scores from the same table row in each; a group's no-prune
    // scan fallback re-emits other groups' survivors from the shared
    // table): distinct folds them — exact, because in-table rows are
    // unique per (qid, id). The no-rerank union keeps per-root rows
    // independently (different stored vectors, the colliding-ids
    // contract). The driver-survivor cap divides by the group count so
    // a mixed call collects no more than a homogeneous one.
    val dedup = rerankTable.nonEmpty && groups.length > 1
    val parts = groups.map(g => rangeManyMultiHomogeneous(g, queries,
      epsilon, rerankTable, capDivisor = groups.length))
    val local = parts.flatMap(_._1)
    val spread = parts.flatMap(_._2)
    import h.spark.implicits._
    // only the in-index rerank answers locally, so `dedup` (a rerank
    // table's) never applies to `local`
    if (spread.isEmpty) {
      val sorted = local.toArray
      java.util.Arrays.sort(sorted, byQidDistId)
      sorted.toSeq.toDF("qid", "id", "dist")
    }
    else {
      val all = (local.toDF("qid", "id", "dist") +: spread).reduce(_ unionByName _)
      (if (dedup) all.distinct() else all).orderBy("qid", "dist", "id")
    }
  }

  /** Range output order (qid, dist, id), comparing fields in place (no
    * key tuple per row). -0.0 ties 0.0 (an orthogonal negdot / cosdist
    * row), as in Spark's orderBy. */
  private val byQidDistId: Comparator[(Long, Long, Double)] = (a, b) => {
    val q = java.lang.Long.compare(a._1, b._1)
    val d = java.lang.Double.compare(a._3 + 0.0, b._3 + 0.0)
    if (q != 0) q else if (d != 0) d else java.lang.Long.compare(a._2, b._2)
  }

  /** One HOMOGENEOUS group's [[rangeSearchManyMulti]] body: the rows the
    * driver survivor tier answered, plus the UNORDERED (qid, id, dist)
    * frame of the distributed tier and the scan fallback when either
    * runs (the caller unions groups and orders once; `capDivisor` splits
    * the driver-survivor budget across groups). */
  private def rangeManyMultiHomogeneous(idxs: Seq[IvfIndex],
      queries: Array[(Long, Array[Float], Double)],
      epsilon: Double,
      rerankTable: Option[(org.apache.spark.sql.DataFrame, String, String)],
      capDivisor: Int = 1)
      : (Seq[(Long, Long, Double)], Option[DataFrame]) = {
    val h = idxs.head
    val spark = h.spark
    import spark.implicits._
    val cfg = h.meta.cfg
    val f16 = cfg.storage == "f16"
    val nQ = queries.length
    val qids = queries.map(_._1)
    val centers = queries.map(_._2)
    val radii = queries.map(_._3)
    // TWO-TIER survivor delivery. Common case (bounded survivors): the
    // estimate job collects the (qi, root, id) survivors to the driver —
    // per-query no-prune counts come free, and the exact phase is the
    // top-k rerank (no join, no broadcast). The collect is bounded in
    // total ([[collectHits]]: at most lim + partitions tuples decide the
    // tier). Past
    // `graft.ann.range.maxDriverSurvivors` (default 1M tuples ≈ 24 MB
    // boxed) the huge-sphere path takes over: survivors stay a
    // DataFrame end to end — one count job for the no-prune split, the
    // estimate pass re-runs inside the join (the honest duplicate at
    // sizes where the join dominates anyway), candidates broadcast
    // while bounded. Both tiers are exact and spec'd equal. The bound
    // counts collected tuples before the driver dedup, so gen+delta
    // doubles can tip a sphere near it into the distributed tier.
    val maxDriver = graft.core.AnnConf(spark).rangeMaxDriverSurvivors /
      math.max(1, capDivisor)
    val lim = math.min(math.max(maxDriver, 0L), (Int.MaxValue - 2).toLong).toInt
    val (plan, task) = rangeScan(idxs, centers, radii, epsilon, firstHit = false)
    if (plan.empty) return (Nil, None)
    val rows = plan.poolRows
    val probeRows: Array[(Int, Int, Long)] =
      if (maxDriver <= 0) null
      else Option(collectHits(rows, task, lim)).map(_.distinct).orNull
    // the distributed tier dedups so a gen+delta double row does not
    // multiply through the join below
    lazy val cand0 = rows.mapPartitions(it => task.hits(it))
      .toDF("qi", "root", "id").distinct()
    val nTable = idxs.map(_.rowCount).sum
    // per-query no-prune check over THIS GROUP's corpus (on a
    // storage-mixed call each group decides its own scan fallback
    // against its own rows — the fallback concerns the scan the group
    // itself would run): spheres whose code bound kept most rows take
    // the direct scan of their own probed cells — the join adds cost
    // without removing work there.
    val perQ: Array[(Int, Long)] =
      if (probeRows != null)
        probeRows.groupBy(_._1).view.mapValues(_.length.toLong).toArray
      else cand0.groupBy("qi").count().as[(Int, Long)].collect()
    val scanQis: Set[Int] =
      perQ.filter(_._2 > nTable * rangeScanFallbackFrac).map(_._1).toSet
    if (scanQis.nonEmpty) rangeScanFallbacks.addAndGet(scanQis.size)
    val nJoinSurvivors = perQ.collect { case (q, c) if !scanQis.contains(q) => c }.sum
    // the exact phase reads only the JOIN-tier spheres' cells: cells
    // probed ONLY by scan-fallback spheres hold no possible members, and
    // the scan pass below reads them anyway
    val joinPlan =
      if (scanQis.isEmpty) plan else plan.only((0 until nQ).filterNot(scanQis.contains))
    // the strict-< cutoff of exact (queryIdx, id, dist) rows
    def cutDf(scored: Dataset[(Int, Long, Double)]): DataFrame =
      scored.flatMap { case (qi, id, d) =>
        if (d < radii(qi)) Some((qids(qi), id, d)) else None
      }.toDF("qid", "id", "dist")
    // DRIVER-survivor tier: the top-k rerank, whose in-index rows return
    // to the driver; the in-table point fetch stays a lazy frame
    val surv =
      if (probeRows == null) Array.empty[(Int, Int, Long)]
      else probeRows.collect { case (qi, r, id) if !scanQis.contains(qi) => (r, qi, id) }
    val (local, fetched) = rerankTable match {
      case Some((src, idCol, vecCol)) if surv.nonEmpty =>
        (Nil, Some(cutDf(tableScores(src, idCol, vecCol, surv, centers, cfg.metric))))
      case _ =>
        (rerank(joinPlan, surv, centers, None)
          .collect { case (qi, id, d) if d < radii(qi) => (qids(qi), id, d) }.toSeq, None)
    }
    // HUGE-survivor tier: candidates stay distributed end to end, joined
    // to the exact-phase rows on (root, id), each row tagged with its
    // owning root first, so a stored row meets only its own root's
    // spheres (colliding ids across roots)
    val joined: Option[DataFrame] =
      if (probeRows != null || joinPlan.empty) None
      else Some {
        val candJoin0 =
          if (scanQis.isEmpty) cand0
          else cand0.filter(!col("qi").isin(scanQis.toSeq.map(Integer.valueOf): _*))
        def bcast(df: DataFrame): DataFrame =
          if (nJoinSurvivors <= rangeBroadcastCap) broadcast(df) else df
        val metric = cfg.metric
        rerankTable match {
          case None =>
            val qq = plan.qq
            val vecs = joinPlan.vecs
            val root =
              if (joinPlan.flat) udf(new RootOfPath(joinPlan.info)).apply(col("__path"))
              else lit(0)
            cutDf(vecs.select(root.as("root"), col("id"), col("vec"))
              .join(bcast(candJoin0), Seq("root", "id"))
              .select("qi", "root", "id", "vec")
              .mapPartitions { (it: Iterator[Row]) =>
                val kern = exactKernel(metric, stored = true)
                it.map { row =>
                  val qi = row.getInt(0)
                  val v =
                    if (f16) graft.core.Half.decodeBytes(row.getAs[Array[Byte]](3))
                    else row.getSeq[Float](3).toArray
                  (qi, row.getLong(2), kern(v, qq(row.getInt(1))(qi)))
                }
              })
          case Some((src, idCol, vecCol)) =>
            val candIds = candJoin0.select(col("qi"), col("id")).distinct()
            cutDf(tableVecs(src, idCol, vecCol).toDF("id", "__v")
              .join(bcast(candIds), "id").select("qi", "id", "__v")
              .mapPartitions { (it: Iterator[Row]) =>
                val kern = exactKernel(metric, stored = false)
                it.flatMap { row =>
                  if (row.isNullAt(2)) Iterator.empty
                  else {
                    val qi = row.getInt(0)
                    Iterator.single((qi, row.getLong(1),
                      kern(row.getSeq[Float](2).toArray, centers(qi))))
                  }
                }
              })
        }
      }
    // direct-scan rows for the no-prune spheres: one pass over THOSE
    // spheres' probed cells, every scan sphere tested per row under its
    // own root's prep
    val scanned: Option[DataFrame] =
      if (scanQis.isEmpty) None
      else {
        val sp = plan.only(scanQis.toSeq.sorted)
        if (sp.empty) None
        else Some {
          val scanArr = scanQis.toArray.sorted
          val (vecRows, t) = rerankTable match {
            case None => (sp.vecs, new ExactTask(null, scanArr, sp.qq, sp.info,
              sp.flat, f16, cfg.metric, stored = true))
            case Some((src, idCol, vecCol)) => (tableVecs(src, idCol, vecCol),
              new ExactTask(null, scanArr, Array(centers), Map.empty,
                flat = false, f16 = false, cfg.metric, stored = false))
          }
          cutDf(ColumnBridge.toInternalRdd(vecRows).mapPartitions(it => t.scores(it)).toDS())
        }
      }
    (local, (fetched ++ joined ++ scanned).reduceOption(_ unionByName _))
  }

  /** A flat read row's owning root from its file path ([[dirInfoFor]]),
    * as a UDF body or a captured function; each task deserializes its
    * own copy, and so its own dir cache. */
  private[graft] final class RootOfPath(info: Map[String, (Int, Int)])
      extends (String => Int) with Serializable {
    @transient private lazy val cache = new java.util.HashMap[String, DirInfo]()
    def apply(path: String): Int = dirInfoFor(info, cache, path)._1
  }

  /** Resolve a row's owning dir info from its file path (normalized to
    * the URI path, schemes stripped), memoized per distinct dir. */
  private def dirInfoFor(info: Map[String, DirInfo],
                         cache: java.util.HashMap[String, DirInfo],
                         path: String): DirInfo = {
    val cut = path.lastIndexOf('/')
    val dirStr = if (cut >= 0) path.substring(0, cut) else path
    var inf = cache.get(dirStr)
    if (inf == null) {
      val key = new org.apache.hadoop.fs.Path(dirStr).toUri.getPath
      inf = info.getOrElse(key, throw new IllegalStateException(
        s"flat multi-root read: file dir '$dirStr' (key '$key') matches no " +
        "registered probed-cluster dir — a path-normalization mismatch"))
      cache.put(dirStr, inf)
    }
    inf
  }

  /** The RaBitQ estimator on a packed code: epsilon-scaled code lower
    * bound in the root's own metric (dot-family WITHOUT the cosdist
    * output shift — the range applies it at the cutoff). The cell scan
    * computes the same bound over codes unpacked once per row
    * ([[RowBound]]); the replay specs grade against this one. */
  private[index] def lbOf(code: RaBitQ.Code, bits: Int, dim: Int, isL2: Boolean,
                   qr: Array[Float], qSum: Double, qNormSq: Double,
                   cDot: Double, epsilon: Double): Double =
    if (isL2) {
      val (e, err) = RaBitQ.estimateL2s(code, qr, qSum, qNormSq)
      math.sqrt(math.max(e - epsilon * err, 0.0))
    } else {
      val d = RaBitQ.estimateDot(code, qr, qSum) + cDot
      val err = math.sqrt(qNormSq) * code.scale * math.sqrt(dim.toDouble)
      -d - epsilon * err
    }
}

final class IvfIndex(val spark: SparkSession, val dir: String, val meta: IvfMeta) {

  import spark.implicits._

  private def currentGen: String =
    Files.readString(Paths.get(dir, "CURRENT")).trim

  private def deltaExists: Boolean = {
    val p = Paths.get(dir, "delta")
    Files.exists(p) && Files.list(p).findFirst().isPresent
  }

  /** Cheap EXTERNAL-append signal folded into every delta-sensitive cache
    * key: a hash over the delta area's child cluster dirs — each child's
    * name, nanosecond mtime, AND the hash of its ENTRY NAMES (one readdir
    * per child, no per-file stat). Same-JVM appends already bump
    * `mutations`, but a delta append through ANOTHER IvfIndex instance or
    * process adds files to existing `delta/cluster_id=*` dirs without
    * flipping delta-existence or this instance's counter — invisible to a
    * (gen, exists, mutations) key, so searches could silently miss fresh
    * rows in multi-writer-instance use. The mtime alone is bounded by the
    * filesystem's stored resolution (1 s on some mounts — two appends in
    * one granule with a read between them would collide); appended
    * parquet part-files carry fresh unique names, so the entry-name hash
    * catches every append regardless of timestamp granularity.
    * -1 = no delta. */
  private def deltaSig: Long = {
    val p = Paths.get(dir, "delta")
    if (!Files.exists(p)) -1L
    else {
      val s = Files.list(p)
      try {
        var h = 1L
        var n = 0
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          h = h * 31 + c.getFileName.toString.hashCode
          h = h * 31 + Files.getLastModifiedTime(c)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)
          // entry-name hash: ORDER-INSENSITIVE sum (readdir order is not
          // stable across filesystems) of the child's file-name hashes
          if (Files.isDirectory(c)) {
            val cs = Files.list(c)
            try {
              var eh = 0L
              val cit = cs.iterator()
              while (cit.hasNext)
                eh += cit.next().getFileName.toString.hashCode.toLong
              h = h * 31 + eh
            } finally cs.close()
          }
          n += 1
        }
        // empty dir == absent (deltaExists' contract): -1 either way;
        // a real hash landing on -1 must not masquerade as "absent"
        if (n == 0) -1L else if (h == -1L) 0L else h
      } finally s.close()
    }
  }

  // One atomic on-disk layout snapshot for the flat multi-root read:
  // the current generation name, the cluster ids under it and under
  // delta, and every cluster dir's data-file statuses — cached with the
  // dataDf invalidation key (a generation dir is IMMUTABLE once CURRENT
  // points at it; same-JVM delta appends bump `mutations`). PER
  // INSTANCE, like cachedData: a globally-keyed cache collided across
  // instance lifetimes (an in-place rebuild re-creates gen-0 with
  // mutations back at 0 — the same key, stale listings), and this
  // instance's staleness contract is exactly dataDf's. One listing per
  // (re)build replaces the per-PLAN Files.exists walk + spark.read
  // re-listing that were the last linear planning terms at
  // date-partitioned widths (~1.3 s/plan at 512 probed dirs).
  // Single-call atomicity matters: resolving cids and files in separate
  // snapshots let a concurrent compact flip CURRENT between them, and
  // old-gen dir keys would miss a new-gen file map — silently emptying
  // that root's candidates even though old-gen dirs are deliberately
  // retained one cycle for live readers.
  @volatile private var cachedListing: (String, Long, Long, IvfIndex.DirListing) = null

  private[graft] def dirListing: IvfIndex.DirListing = {
    val gen = currentGen
    val dsig = deltaSig
    val ver = mutations.get()
    val c = cachedListing
    if (c != null && c._1 == gen && c._2 == dsig && c._3 == ver) c._4
    else {
      val delta = dsig != -1L
      val conf = spark.sparkContext.hadoopConfiguration
      def listArea(area: String)
          : (Set[Int], Map[String, Array[org.apache.hadoop.fs.FileStatus]]) = {
        val basePath = new org.apache.hadoop.fs.Path(
          Paths.get(dir, area).toAbsolutePath.normalize.toString)
        val fs = basePath.getFileSystem(conf)
        val children =
          try fs.listStatus(basePath)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] }
        val cids = Set.newBuilder[Int]
        val files = Map.newBuilder[String, Array[org.apache.hadoop.fs.FileStatus]]
        children.foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith("cluster_id=")) {
            val cid =
              try n.substring("cluster_id=".length).toInt
              catch { case _: NumberFormatException => -1 }
            if (cid >= 0) {
              cids += cid
              val fsts =
                (try fs.listStatus(st.getPath)
                 catch { case _: java.io.FileNotFoundException =>
                   Array.empty[org.apache.hadoop.fs.FileStatus] })
                .filter { f =>
                  val fn = f.getPath.getName
                  f.isFile && !fn.startsWith("_") && !fn.startsWith(".")
                }
              files += st.getPath.toUri.getPath -> fsts
            }
          }
        }
        (cids.result(), files.result())
      }
      val (gc, gf) = listArea(gen)
      val (dc, dfm) =
        if (delta) listArea("delta")
        else (Set.empty[Int],
          Map.empty[String, Array[org.apache.hadoop.fs.FileStatus]])
      val r = IvfIndex.DirListing(gen, gc, dc, gf ++ dfm)
      cachedListing = (gen, dsig, ver, r)
      r
    }
  }

  private val dataCols: Seq[String] =
    if (meta.cfg.storeVectors) Seq("cluster_id", "id", "vec", "cmeta", "codes")
    else Seq("cluster_id", "id", "cmeta", "codes")

  /** Explicit read schema: an EMPTY generation (built over a table with no
    * non-null vectors, issue_427 lifecycle) writes no part files, and a
    * schema-inferred read would fail on the fileless directory. Partition
    * column first; Spark fills it from the directory names when files
    * exist. */
  private def dataSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val vecType: DataType =
      if (meta.cfg.storage == "f16") BinaryType else ArrayType(FloatType)
    val vecField =
      if (meta.cfg.storeVectors) Seq(StructField("vec", vecType)) else Nil
    StructType(Seq(
      StructField("cluster_id", IntegerType),
      StructField("id", LongType)) ++ vecField ++ Seq(
      StructField("cmeta", ArrayType(FloatType)),
      StructField("codes", BinaryType)))
  }

  // The plan for the current generation is cached so repeated searches
  // skip file re-listing and footer reads (at lists=256 that is hundreds
  // of directories per query). Invalidated when CURRENT changes, this
  // instance mutates the index (appendDelta bumps `mutations`), or the
  // delta area's child-dir signature moves (an append through ANOTHER
  // instance/process — existence alone is not a valid key);
  // `prewarm()` persists this same plan, so every subsequent search hits
  // the in-memory columnar cache.
  @volatile private var cachedData: (String, Long, Long, DataFrame) = null
  private val mutations = new java.util.concurrent.atomic.AtomicLong()

  /** Drop this instance's cached (possibly prewarm-PERSISTED) plans —
    * the catalog's eviction path. Spark's CacheManager pins a persisted
    * DataFrame until it is explicitly unpersisted, so letting a dropped
    * index's instance go to garbage alone would leak its executor-memory
    * copy forever. Safe on never-persisted plans (unpersist no-ops). */
  private[graft] def release(): Unit = {
    val d = cachedData
    if (d != null) { d._4.unpersist(false); cachedData = null }
    val c = cachedCodes
    if (c != null) { c._4.unpersist(false); cachedCodes = null }
    warm = null
    resident = null
    cachedListing = null
  }

  /** Current index contents: compacted generation plus any delta appends.
    * A filter on cluster_id prunes partitions in BOTH branches of the
    * union independently. */
  def dataDf: DataFrame = {
    val genName = currentGen
    val dsig = deltaSig
    val delta = dsig != -1L
    val ver = mutations.get()
    val c = cachedData
    if (c != null && c._1 == genName && c._2 == dsig && c._3 == ver) c._4
    else {
      // release the superseded plan's persisted blocks (prewarm caches the
      // plan; without unpersist every compaction cycle would pin one full
      // copy of the index in executor memory). No-op if never persisted.
      if (c != null) c._4.unpersist(false)
      val gen = spark.read.schema(dataSchema).parquet(s"$dir/$genName")
        .select(dataCols.map(col): _*)
      val df =
        if (delta)
          gen.unionByName(spark.read.schema(dataSchema).parquet(s"$dir/delta")
            .select(dataCols.map(col): _*))
        else gen
      cachedData = (genName, dsig, ver, df)
      df
    }
  }

  /** Indexed row count, cached until a mutation, generation change, or a
    * delta area appearing (another instance may append the first delta —
    * same invalidation key as dataDf). */
  @volatile private var rowCountCache: (String, Long, Long, Long) = null
  def rowCount: Long = {
    val gen = currentGen
    val dsig = deltaSig
    val ver = mutations.get()
    val c = rowCountCache
    if (c != null && c._1 == gen && c._2 == dsig && c._3 == ver) c._4
    else {
      val n = dataDf.count()
      rowCountCache = (gen, dsig, ver, n)
      n
    }
  }

  /** TRUE when every row of the build source entered the index AND no
    * later delta append dropped rows to the null filter — the planner's
    * license to serve the bare parquet-pushable candidate IN instead of
    * the null-keeping `IN ... OR vec IS NULL` (see
    * AnnTopKRewrite.topkRestriction). Build-time verdict in meta;
    * later taint as a marker file so it is visible across instances and
    * survives compaction (a fresh build clears it). */
  def sourceComplete: Boolean =
    meta.sourceComplete && !Files.exists(Paths.get(dir, "SOURCE_INCOMPLETE"))

  /** Incremental ingest (reference `aminsert`, B11): encode rows against
    * the existing centroids and append to the delta area. */
  def appendDelta(df: DataFrame, idCol: String, vecCol: String): Unit = {
    // taint BEFORE the write: a batch holding rows the encode filter
    // drops (NULL vec/id) breaks the build-time completeness verdict.
    // One cheap agg job, skipped once the index is already incomplete.
    if (sourceComplete) {
      val r = df.agg(count(lit(1)),
        count(when(col(vecCol).isNotNull && col(idCol).isNotNull, lit(1)))).head()
      if (r.getLong(0) != r.getLong(1))
        Files.writeString(Paths.get(dir, "SOURCE_INCOMPLETE"),
          s"delta append dropped ${r.getLong(0) - r.getLong(1)} null rows")
    }
    IvfIndex.encodeRows(df, idCol, vecCol, meta.cfg, meta.centroids, meta.origDim,
        upper = if (meta.upperCentroids.nonEmpty)
          Some((meta.upperCentroids, meta.upperChildren)) else None)
      .repartition(col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$dir/delta")
    mutations.incrementAndGet()
  }

  /** Compaction (reference `maintain`, B12): fold delta into a new
    * generation, then atomically advance CURRENT and drop old dirs. */
  def compact(): Unit = rewrite(identity)

  /** Bulk delete (reference vacuum, B13): drop rows whose id is in `ids`
    * and rewrite — the MVCC-free Parquet analog of tape vacuuming. */
  def delete(ids: Seq[Long]): Unit =
    rewrite(df => df.filter(!col("id").isin(ids.map(java.lang.Long.valueOf): _*)))

  /** Shrink THIS full index into a codes-only sibling at `dstDir` —
    * the reference's `rerank_in_table=true` small-index economics
    * (src/index/vchordrq/types.rs:19-45) applied RETROACTIVELY: no
    * re-sample, no k-means, no re-encode. One narrow-column pass copies
    * (cluster_id, id, cmeta, codes) — parquet column pruning means the
    * dominant vec bytes (~12-24x the codes at 768d) are never read — and
    * the centroid tree/meta are carried over verbatim, with any delta
    * appends folded in (the copy is born compacted). Every search on the
    * result must pass `rerankTable` (see [[IvfConfig.storeVectors]]).
    * Answers are identical to a fresh `storeVectors=false` build with the
    * same config: codes, centroids, and probe order are byte-equal. */
  def dropVectors(dstDir: String): IvfIndex = {
    require(meta.cfg.storeVectors,
      s"index at $dir is already codes-only (storeVectors=false)")
    require(dstDir != dir, "dstDir must differ from the source index dir")
    IvfIndex.rmRecursive(Paths.get(dstDir))
    // no repartition: the source generation is already co-located by
    // cluster_id, so the narrow copy is shuffle-free
    codesDf.write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$dstDir/gen-0")
    IvfIndex.writeMeta(spark, dstDir, meta.dim, meta.origDim,
      meta.cfg.copy(storeVectors = false), meta.centroids,
      sourceComplete = meta.sourceComplete)
    // a live taint travels with the copy (the sibling serves the same
    // source table the tainting append diverged from)
    if (Files.exists(Paths.get(dir, "SOURCE_INCOMPLETE")))
      Files.copy(Paths.get(dir, "SOURCE_INCOMPLETE"),
        Paths.get(dstDir, "SOURCE_INCOMPLETE"))
    Files.writeString(Paths.get(dstDir, "CURRENT"), "gen-0")
    meta.upperCentroids.indices.foreach { lvl =>
      Files.write(Paths.get(dstDir, s"upper$lvl.centroids.bin"),
        IvfIndex.floatBlock(meta.upperCentroids(lvl)))
      Files.writeString(Paths.get(dstDir, s"upper$lvl.children.txt"),
        meta.upperChildren(lvl).map(_.mkString(",")).mkString("\n"))
    }
    IvfIndex.load(spark, dstDir)
  }

  /** Single-writer assumption (like the reference's vacuum). The previous
    * generation is RETAINED for one cycle so readers that resolved CURRENT
    * just before the pointer moved keep their files; generations older
    * than that are dropped. Delta files are folded into the new generation
    * and removed — a reader concurrent with compaction may need to retry
    * (known limitation; full snapshot isolation is a table-format
    * concern). */
  private def rewrite(f: DataFrame => DataFrame): Unit = {
    val old = currentGen
    val oldN = old.stripPrefix("gen-").toInt
    val next = s"gen-${oldN + 1}"
    f(dataDf).repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$dir/$next")
    Files.writeString(Paths.get(dir, "CURRENT"), next)
    (0 until oldN).foreach(g => IvfIndex.rmRecursive(Paths.get(dir, s"gen-$g")))
    IvfIndex.rmRecursive(Paths.get(dir, "delta"))
    mutations.incrementAndGet()
  }

  /** Cache the index into executor memory (reference `vchordrq_prewarm`).
    * The cached layout is hash-partitioned on cluster_id at the session's
    * shuffle parallelism: the on-disk layout packs many small per-cluster
    * files into few scan splits (fine for I/O, terrible for a cached scan's
    * parallelism), while the re-layout gives every core work. A cached
    * scan reads every batch: the layout is not sorted within partitions,
    * and the cell predicate ([[CellIn]]) is no in-memory batch-stats
    * filter. Subsequent `dataDf` plans reuse this cached relation, and the
    * one-root top-k pool runs over its resident source ([[residentPool]]). */
  def prewarm(): Long = {
    val prev = cachedData
    val df = dataDf.repartition(col("cluster_id")).cache()
    cachedData = (currentGen, deltaSig, mutations.get(), df)
    warmWith(cachedData)
    if (prev != null && (prev._4 ne df)) prev._4.unpersist(false)
    df.count()
  }

  // Codes-only cache for the PARTIAL prewarm tier: estimate scans read it
  // when valid; rerank still reads the (cold) vec column from disk.
  @volatile private var cachedCodes: (String, Long, Long, DataFrame) = null

  /** Height-limited prewarm (reference `vchordrq_prewarm(height)`,
    * src/index/functions.rs:44-63, which warms internal levels + code
    * pages but not the vectors): centroid levels are always
    * driver-resident here, so the partial tier caches the ESTIMATE-phase
    * columns (cluster_id, id, cmeta, codes) — a fraction of full prewarm's
    * memory — while exact rerank keeps streaming vectors from disk. */
  def prewarmCodes(): Long = {
    val prev = cachedCodes
    val df = dataDf.select(dataCols.filter(_ != "vec").map(col): _*)
      .repartition(col("cluster_id")).cache()
    cachedCodes = (currentGen, deltaSig, mutations.get(), df)
    warmWith(cachedCodes)
    if (prev != null && (prev._4 ne df)) prev._4.unpersist(false)
    df.count()
  }

  // The warm one-root pool's row source. prewarm() and prewarmCodes()
  // record the relation they persisted (`warm`, the latest wins); the
  // next pool plans it ONCE into an RDD over the pool columns
  // (`resident`), and every later pool runs its job straight over that
  // RDD. Its scan reads every cached batch, as a CellIn-filtered scan of
  // the cache already did (CellIn is no in-memory batch-stats filter, and
  // the cache is hash-partitioned, not sorted); the pool kernel skips
  // unprobed cells. `warm` carries dataDf's invalidation key: an append,
  // delete or compact (here or through another writer) sends pools back
  // to the cold pruned scan until the next prewarm, and release() drops
  // both. `resident` names the relation it was planned from, so a
  // re-prewarm never serves the superseded cache's plan.
  @volatile private var warm: (String, Long, Long, DataFrame) = null
  @volatile private var resident: (DataFrame, DataFrame, RDD[InternalRow]) = null

  private def warmWith(persisted: (String, Long, Long, DataFrame)): Unit = {
    warm = persisted
    resident = null
  }

  /** The resident pool source (its planned scan and rows) while the
    * recorded prewarm cache is valid, planned on first use. */
  private[index] def residentPool: Option[(DataFrame, RDD[InternalRow])] = {
    val w = warm
    if (w == null || w._1 != currentGen || w._2 != deltaSig || w._3 != mutations.get()) None
    else {
      val r = resident
      if (r != null && (r._1 eq w._4)) Some((r._2, r._3))
      else {
        val scan = w._4.select("id", "cmeta", "codes", "cluster_id")
        val rows = IvfIndex.planPoolSource(scan)
        resident = (w._4, scan, rows)
        Some((scan, rows))
      }
    }
  }

  /** Whether a resident pool source is held (planned and not dropped). */
  private[index] def holdsResident: Boolean = resident != null

  /** Estimate-phase projection: the codes cache when warm, else a pruned
    * scan of the current data (same columns, vec never read). */
  private def codesDf: DataFrame = {
    val c = cachedCodes
    if (c != null && c._1 == currentGen && c._2 == deltaSig && c._3 == mutations.get()) c._4
    else dataDf.select(dataCols.filter(_ != "vec").map(col): _*)
  }

  /** The one-root top-k pool's rows over `cells`: (id, cmeta, codes,
    * cluster_id) from [[codesDf]] — cached when warm, else a
    * partition-pruned parquet scan without the vec column. */
  private[index] def poolScan(cells: Array[Int]): DataFrame =
    codesDf.filter(IvfIndex.inCells(cells)).select("id", "cmeta", "codes", "cluster_id")

  /** The one-root top-k rerank's rows over `cells`: (id, vec) from
    * [[dataDf]] (the prewarm() cache when warm). */
  private[index] def rerankScan(cells: Array[Int]): DataFrame =
    dataDf.filter(IvfIndex.inCells(cells)).select("id", "vec")

  /** Codes-only indexes have no stored vectors to rerank against — every
    * exact-distance phase must fetch from the source table, the pairing
    * the reference enforces for its small-index mode (rerank_in_table,
    * src/index/vchordrq/types.rs:19-45). */
  private def requireRerankSource(rt: Option[(DataFrame, String, String)]): Unit =
    require(meta.cfg.storeVectors || rt.nonEmpty,
      "codes-only index (storeVectors=false) stores no vectors: pass " +
      "rerankTable=Some((sourceDf, idCol, vecCol)) so the exact phase can " +
      "fetch original vectors from the source table")

  private def prepQuery(q: Array[Float]): Array[Float] = {
    val pre = if (meta.cfg.metric == "cosdist") K.normalize(q) else q
    if (meta.cfg.rotate) new Rotation(meta.origDim)(pre) else pre
  }

  /** User-visible distance from internal stored vectors (already
    * normalized for cosine), matching reference output mapping
    * (reference: src/index/vchordrq/opclass.rs:244-262). Both storage
    * tiers use native codegen expressions (query as an array literal —
    * no boxed deserialization, stays in WholeStageCodegen); the f16 tier
    * decodes half floats element-at-a-time inside the generated loop. */
  private def exactDistCol(qq: Array[Float]): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val qLit = typedlit(qq.toSeq)
    import graft.functions.GraftFunctions._
    if (meta.cfg.storage == "f16") {
      meta.cfg.metric match {
        case "l2"      => v => vecL2Half(v, qLit)
        case "negdot"  => v => vecNegdotHalf(v, qLit)
        // stored vectors are normalized: cosdist = 1 + negdot(v, q_normalized)
        case "cosdist" => v => lit(1.0) + vecNegdotHalf(v, qLit)
      }
    } else {
      meta.cfg.metric match {
        case "l2"      => v => vecL2(v, qLit)
        case "negdot"  => v => vecNegdot(v, qLit)
        // stored vectors are normalized: cosdist = 1 + negdot(v, q_normalized)
        case "cosdist" => v => lit(1.0) + vecNegdot(v, qLit)
      }
    }
  }

  /** Exact metric distance column against the RAW query over a user
    * table's f32 vector column (rerank-in-table fetch) — native codegen
    * expressions with the query as an array literal; no boxed Seq[Float]
    * UDF deserialization on the search path. */
  private def rawDistCol(q: Array[Float]): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val qLit = typedlit(q.toSeq)
    meta.cfg.metric match {
      case "l2"      => v => graft.functions.GraftFunctions.vecL2(v, qLit)
      case "negdot"  => v => graft.functions.GraftFunctions.vecNegdot(v, qLit)
      case "cosdist" => v => graft.functions.GraftFunctions.vecCosdist(v, qLit)
    }
  }

  /** Per-probed-cluster precomputed query vector + sums (broadcast by the
    * searchers). L2 is translation-invariant, so residual codes pair with
    * the residual query (q - c). Dot metrics are NOT: dot(q-c, v-c)
    * differs from dot(q, v) by a PER-VECTOR term — so for dot-family
    * metrics the estimate uses the raw query against the residual code
    * plus the per-cluster constant dot(q, c):
    * dot(q, v) = dot(q, v-c) + dot(q, c). */
  private def clusterPrep(qq: Array[Float], probed: Array[Int])
      : Map[Int, (Array[Float], Double, Double, Double)] = {
    val residual = meta.cfg.residual
    val isL2m = meta.cfg.metric == "l2"
    probed.map { cid =>
      val c = meta.centroids(cid)
      val qr =
        if (residual && isL2m) {
          val r = new Array[Float](qq.length)
          var j = 0
          while (j < qq.length) { r(j) = qq(j) - c(j); j += 1 }
          r
        } else qq
      var s = 0.0; var j = 0
      while (j < qr.length) { s += qr(j); j += 1 }
      val clusterDot = if (residual && !isL2m) K.dot(qq, c) else 0.0
      cid -> (qr, s, K.normSq(qr), clusterDot)
    }.toMap
  }

  /** Probed leaf cluster ids: nearest `probes` leaf centroids. With
    * internal levels (B5), the probe DESCENDS the tree: each level keeps
    * only its best groups and expands their children, so a deep tree
    * scores O(level sizes) centroids instead of all `lists` leaves — the
    * reason a 10^6-leaf index stays driver-probeable. `probes1` bounds the
    * FINEST internal level (the reference's per-level probes list);
    * coarser levels auto-scale with requested leaf coverage (floor 4). */
  def probe(q: Array[Float], probes: Int, probes1: Int = -1): Array[Int] = {
    val qq = prepQuery(q)
    var leafPool: Array[Int] = null // null = all leaves
    if (meta.upperCentroids.nonEmpty) {
      val nLevels = meta.upperCentroids.length
      // start from every root group, then narrow level by level
      var pool: Array[Int] = meta.upperCentroids.head.indices.toArray
      var lvl = 0
      while (lvl < nLevels) {
        val cents = meta.upperCentroids(lvl)
        val budget =
          if (lvl == nLevels - 1 && probes1 > 0) probes1
          else math.max(4, math.ceil(
            probes.toDouble * cents.length / meta.centroids.length).toInt)
        val kept = pool
          .map(i => (K.l2s(qq, cents(i)), i))
          .sortBy(identity)
          .take(math.min(budget, pool.length))
          .map(_._2)
        pool = kept.flatMap(meta.upperChildren(lvl))
        lvl += 1
      }
      leafPool = pool
    }
    val pool = if (leafPool == null) meta.centroids.indices.toArray else leafPool
    pool
      .map(i => (K.l2s(qq, meta.centroids(i)), i))
      .sortBy(identity)
      .take(math.min(probes, pool.length))
      .map(_._2)
  }

  /**
   * ANN top-k for one query: [[searchMany]] with one query. `probes` =
   * clusters scanned; `epsilon` scales the code error bound (reference
   * default 1.9, src/index/gucs.rs:66); `refine` = candidate multiplier
   * for the exact rerank (refine*k candidates). Runs its two jobs at call
   * time and returns a local frame.
   * Output: (id, dist) ascending, deterministic (dist, id) ties.
   */
  def search(q: Array[Float], k: Int, probes: Int = 4, epsilon: Double = 1.9,
             refine: Int = 8,
             rerankTable: Option[(DataFrame, String, String)] = None,
             probes1: Int = -1): DataFrame =
    searchMany(Array(0L -> q), k, probes, epsilon, refine, rerankTable, probes1)
      .select("id", "dist")

  /** Per-cell radius: max stored-space L2 distance from a member to its
    * centroid, cached with dataDf's invalidation key. The cell-level
    * triangle bound for [[rangeSearch]]: a cell can hold a row within `r`
    * of the query only if d(q, centroid) - cellRadius < r.
    *
    * With residual codes (the default), the radius comes from the CODES
    * METADATA alone: RaBitQ stores disU2 = |quantizer input|^2 and the
    * residual input IS (v - centroid) in stored space, so sqrt(disU2) is
    * exactly the member->centroid distance — no vector column touched
    * (works on codes-only indexes, and turns the first-range-query pass
    * into a narrow cmeta scan on every index). Radii are inflated by a
    * hair to cover f32-vs-f64 accumulation differences: an INFLATED
    * radius only ever keeps extra cells (the exact cutoff filters them),
    * an underestimated one could wrongly prune a boundary row.
    *
    * Non-residual indexes fall back to the vec-column pass (zero-boxing
    * partition-local maxima, ≤ partitions·lists pairs to the driver, no
    * shuffle); non-residual AND codes-only returns None — callers then
    * skip cell pruning (correct, just unpruned). */
  @volatile private var cellRadiiCache: (String, Boolean, Long, Option[Map[Int, Double]]) = null
  private def cellRadii: Option[Map[Int, Double]] = {
    val gen = currentGen
    val delta = deltaExists
    val ver = mutations.get()
    val c = cellRadiiCache
    if (c != null && c._1 == gen && c._2 == delta && c._3 == ver) c._4
    else {
      val bc = spark.sparkContext.broadcast(meta.centroids)
      def partials[T](ds: Dataset[(Int, T)], dist: (T, Array[Float]) => Double)
          : Array[(Int, Double)] =
        ds.mapPartitions { it =>
          val acc = new java.util.HashMap[Integer, java.lang.Double]()
          val cents = bc.value
          it.foreach { case (cid, v) =>
            val d = dist(v, cents(cid))
            val cur = acc.get(Integer.valueOf(cid))
            if (cur == null || d > cur.doubleValue)
              acc.put(Integer.valueOf(cid), java.lang.Double.valueOf(d))
          }
          import scala.jdk.CollectionConverters._
          acc.entrySet().iterator().asScala
            .map(e => (e.getKey.intValue, e.getValue.doubleValue))
        }.collect()
      val parts: Option[Array[(Int, Double)]] =
        if (meta.cfg.residual)
          Some(partials[Array[Float]](
            codesDf.select(col("cluster_id"), col("cmeta")).as[(Int, Array[Float])],
            (cm, _) => math.sqrt(cm(0).toDouble) * (1.0 + 1e-3) + 1e-6))
        else if (!meta.cfg.storeVectors) None
        else if (meta.cfg.storage == "f16")
          Some(partials[Array[Byte]](
            dataDf.select(col("cluster_id"), col("vec")).as[(Int, Array[Byte])],
            (b, c) => K.l2(graft.core.Half.decodeBytes(b), c)))
        else
          Some(partials[Array[Float]](
            dataDf.select(col("cluster_id"), col("vec").cast("array<float>"))
              .as[(Int, Array[Float])],
            (v, c) => K.l2(v, c)))
      val res = parts.map { ps =>
        val m = scala.collection.mutable.HashMap[Int, Double]()
        ps.foreach { case (cid, d) =>
          if (d > m.getOrElse(cid, -1.0)) m(cid) = d
        }
        m.toMap
      }
      cellRadiiCache = (gen, delta, ver, res)
      res
    }
  }

  /** Cells the sphere (center in PREPPED space `qq`, `radius` in index
    * metric) can intersect, via the cell-radius triangle bound. L2 prunes
    * directly; cosine maps to stored-space L2 (vectors are normalized, so
    * l2^2 = 2*cosdist); negdot has no triangle bound — every cell stays
    * (the codes-only estimate scan still never touches vectors). */
  private def rangeCells(qq: Array[Float], radius: Double): Array[Int] = {
    // strict `dist < radius` can never hold for a nonnegative metric with
    // radius <= 0 — return no cells instead of launching estimate/rerank
    // jobs that must come back empty (negdot distances go negative, so
    // that metric keeps its all-cells behavior)
    if (radius <= 0 && meta.cfg.metric != "negdot") return Array.empty
    val l2Radius = meta.cfg.metric match {
      case "l2"      => Some(radius)
      case "cosdist" => Some(math.sqrt(2.0 * math.min(radius, 2.0)))
      case _ => None
    }
    (l2Radius, cellRadii) match {
      case (Some(r), Some(radii)) =>
        meta.centroids.indices.filter { i =>
          math.sqrt(K.l2s(qq, meta.centroids(i))) - radii.getOrElse(i, 0.0) < r
        }.toArray
      // no radii (non-residual codes-only) or no triangle bound (negdot):
      // every cell stays — the codes-only estimate scan still prunes rows
      case _ => meta.centroids.indices.toArray
    }
  }

  /**
   * Sphere range query SERVED BY THE INDEX — reference opclass strategy 2
   * (`WHERE embedding <<metric>> sphere(c, r)`): the sphere center becomes
   * the scan vector and the radius a cutoff
   * (src/index/vchordrq/opclass.rs:145-172, scanners/default.rs:75-117).
   *
   * Three-stage pruning: (1) CELL — triangle bound d(q, centroid) -
   * cellRadius < r keeps only cells intersecting the sphere; (2) ROW —
   * the epsilon-scaled code lower bound drops rows that cannot qualify,
   * from the codes columns only; (3) the exact strict `dist < radius`
   * cutoff (vec column read only for estimate survivors). This is the
   * batched multi-root fold ([[IvfIndex.rangeSearchManyMulti]]) with one
   * sphere and one root, so survivor delivery, the no-prune scan
   * fallback and the rerank-table point fetch are that fold's. With
   * bounded survivors and stored vectors it runs two Spark jobs when
   * called, warm or cold
   * (the estimate over the top-k pool's row source, then the exact
   * rerank; a third only when one partition of the source passes its
   * share of the survivor bound), and returns a local frame.
   * Output: (id, dist) ascending (dist, id).
   */
  def rangeSearch(center: Array[Float], radius: Double, epsilon: Double = 1.9,
                  rerankTable: Option[(DataFrame, String, String)] = None): DataFrame =
    IvfIndex.rangeSearchManyMulti(Seq(this), Array((0L, center, radius)),
        epsilon, rerankTable)
      .select("id", "dist")

  /**
   * Batch ANN over this index: the multi-root core
   * ([[IvfIndex.searchManyMulti]]'s pool and rerank) at one root, so all
   * `queries` cost TWO Spark jobs whatever the batch size — the
   * throughput shape Spark is built for (BASELINE.md: the Spark engine
   * targets batch KNN-join queries/sec, not point-query latency). The
   * pool reads this index's codes relation and the rerank its data
   * relation, both cell-pruned and served from a prewarm() /
   * prewarmCodes() cache when one is valid. Refuses loudly past
   * `graft.ann.batch.maxPoolTuples` pooled tuples.
   *
   * Output: (qid, id, dist, rn).
   */
  def searchMany(queries: Array[(Long, Array[Float])], k: Int, probes: Int = 4,
                 epsilon: Double = 1.9, refine: Int = 8,
                 rerankTable: Option[(DataFrame, String, String)] = None,
                 probes1: Int = -1): DataFrame = {
    IvfIndex.requireBatch(queries.map(_._1))
    requireRerankSource(rerankTable)
    val nCand = math.max(k * refine, k)
    IvfIndex.requirePoolBudget(spark, "searchMany", 1, queries.length, nCand)
    val qvecs = queries.map(_._2)
    val (plan, pool) =
      IvfIndex.pools(Seq(this), qvecs, nCand, Seq(probes), epsilon, probes1)
    val scored = IvfIndex.rerank(plan, pool.map(t => (t._1, t._2, t._3)),
      qvecs, rerankTable)
    IvfIndex.topKFold(spark, scored, k, queries.map(_._1))
  }

  /**
   * Exact search through the index path (all partitions, no estimate) —
   * the recall ground truth, and the oracle-checkable mode. On a
   * codes-only index the scan runs over the rerank table's original
   * vectors instead (same distances; the index stores nothing exact).
   */
  def searchExact(q: Array[Float], k: Int,
                  rerankTable: Option[(DataFrame, String, String)] = None): DataFrame = {
    requireRerankSource(rerankTable)
    rerankTable match {
      case Some((src, idCol, vecCol)) if !meta.cfg.storeVectors =>
        val exact = rawDistCol(q)
        src.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
          .select(col(idCol).cast("long").as("id"), exact(col(vecCol)).as("dist"))
          .orderBy(col("dist"), col("id"))
          .limit(k)
      case _ =>
        val qq = prepQuery(q)
        val exact = exactDistCol(qq)
        dataDf
          .select($"id", exact($"vec").as("dist"))
          .orderBy($"dist", $"id")
          .limit(k)
    }
  }

  /**
   * Recall of ANN vs exact for one query — the reference's
   * `vchordrq_evaluate_query_recall` (reference:
   * sql/install/vchord--1.1.1.sql:1021-1092).
   */
  def evaluateRecall(q: Array[Float], k: Int, probes: Int = 4, epsilon: Double = 1.9,
                     refine: Int = 8,
                     rerankTable: Option[(DataFrame, String, String)] = None): Double = {
    val ann = search(q, k, probes, epsilon, refine, rerankTable)
      .select("id").as[Long].collect().toSet
    val exact = searchExact(q, k, rerankTable).select("id").as[Long].collect().toSet
    if (exact.isEmpty) Double.NaN
    else ann.intersect(exact).size.toDouble / exact.size
  }
}

/** `cluster_id` membership in a fixed cell set. A literal `isin`
  * compiles the probed ids into generated code (an In chain, or an int
  * `switch` past the InSet threshold), so every new query vector cost
  * fresh Janino classes whose tasks then ran before the JIT had
  * compiled them. Here the set is a referenced BitSet: one class for
  * every probe set, O(1) membership at any probe count. Deterministic
  * over the partition column alone, so parquet partition pruning still
  * applies it on an uncached index. */
final case class CellIn(child: Expression, cells: java.util.BitSet)
    extends UnaryExpression with Predicate with ImplicitCastInputTypes {
  override def prettyName: String = "cell_in"
  override def inputTypes = Seq(IntegerType)
  override protected def nullSafeEval(c: Any): Any = {
    val cid = c.asInstanceOf[Int]
    cid >= 0 && cells.get(cid)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cells", cells, "java.util.BitSet")
    defineCodeGen(ctx, ev, c => s"($c >= 0 && $ref.get($c))")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
