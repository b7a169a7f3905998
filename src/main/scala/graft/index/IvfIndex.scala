package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
    * build and for [[tools.NovecScale]]'s peak-scratch sampler. */
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
  // (root, cluster) from its file path against a broadcast directory
  // map and scored with that root's own prep (residual query, sums,
  // cluster dot — roots may differ in bits/storage/rotation).
  //
  // Trade, documented: the direct file read bypasses a prewarm() /
  // prewarmCodes() cache on the indexes it reads (probed cells come
  // from the OS page cache instead). Every IVF range path — single-root
  // included — reads flat, so range never uses those caches. The top-k
  // pool has three row sources (PoolPlan.poolRows): a warm single root
  // runs over its resident source, planned once per persisted cache; a
  // cold single root plans a partition-pruned scan per pool; more roots
  // plan the flat read per pool.
  // ------------------------------------------------------------------

  /** Per-dir structural info for the flat read: (root, clusterId, bits,
    * dim, isL2, isCos). Query preps travel separately, per (root, cell). */
  private type DirInfo = (Int, Int, Int, Int, Boolean, Boolean)

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
    val bits = ix.meta.cfg.bits
    val dim = ix.meta.dim
    val isL2 = ix.meta.cfg.metric == "l2"
    val isCos = ix.meta.cfg.metric == "cosdist"
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
        into(key) = (root, cid, bits, dim, isL2, isCos)
        dl.filesByDir.get(key).foreach(files ++= _)
      }
    }
  }

  /** Flat VECTOR read spanning EVERY cell of every root (gen + delta) as
    * ONE parquet relation, with an optional predicate pushed into the
    * scan — the rescore face of the flat multi-root read for callers
    * whose candidates are not cell-localized (packed-key MaxSim docs).
    * Returns the raw (id, vec, __path) frame plus the dir -> root map
    * (broadcast by the caller; resolve rows with [[rootOf]]). A per-root
    * union of dataDf reads expresses the same scan but analyzes R
    * relations per plan — the linear planning term the flat read exists
    * to remove. Requires homogeneous storage across roots. */
  private[graft] def flatAllVecsFor(idxs: Seq[IvfIndex],
      pred: Option[org.apache.spark.sql.Column])
      : (org.apache.spark.sql.DataFrame, Map[String, Int]) = {
    val h = idxs.head
    val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
    val files =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    idxs.zipWithIndex.foreach { case (ix, r) =>
      val dl = ix.dirListing
      probedDirs(ix, r, dl.genCids ++ dl.deltaCids, info, files)
    }
    val df0 = flatVecsDf(h.spark, files.toArray, h.meta.cfg.storage == "f16")
    (pred.map(df0.filter).getOrElse(df0),
      info.iterator.map { case (k, v) => k -> v._1 }.toMap)
  }

  /** Resolve a row's owning ROOT from its file path against a
    * [[flatAllVecsFor]] dir map, memoized per distinct dir. */
  private[graft] def rootOf(info: Map[String, Int],
      cache: java.util.HashMap[String, Integer], path: String): Int = {
    val cut = path.lastIndexOf('/')
    val dirStr = if (cut >= 0) path.substring(0, cut) else path
    var r = cache.get(dirStr)
    if (r == null) {
      val key = new org.apache.hadoop.fs.Path(dirStr).toUri.getPath
      r = Integer.valueOf(info.getOrElse(key, throw new IllegalStateException(
        s"flat all-cells read: file dir '$dirStr' (key '$key') matches no " +
        "registered cluster dir — a path-normalization mismatch")))
      cache.put(dirStr, r)
    }
    r.intValue()
  }

  /** One query set's scoring preps for one (root, cell), as parallel
    * arrays — the scan loop reads primitives, with no map lookup or
    * tuple unpacking per (row, query) pair: query index, prepped
    * (residual) query, its sum and squared norm, and the dot-family
    * cluster term dot(q, c). */
  private final class CellPreps(val qis: Array[Int], val qr: Array[Array[Float]],
      val qSum: Array[Double], val qNormSq: Array[Double], val cDot: Array[Double])
      extends Serializable

  /** What one pool pass plans on the driver and its rerank reuses (no
    * re-probing): per root the prepped queries (`qq(root)(qi)`) and the
    * union of probed cells; past one root, the flat read's dir map and
    * the probed cells' files. */
  private final class PoolPlan(val idxs: Seq[IvfIndex],
      val qq: Array[Array[Array[Float]]], val probed: Array[Array[Int]],
      val info: Map[String, DirInfo],
      val files: Array[org.apache.hadoop.fs.FileStatus]) {
    /** Past one root, both phases read ONE flat parquet relation over
      * every root's probed cell dirs, resolving (root, cell) from each
      * row's file path; one root reads its own relations (`cluster_id`
      * is a column). */
    def flat: Boolean = idxs.length > 1
    def empty: Boolean = if (flat) files.isEmpty else probed(0).isEmpty
    /** Pool rows (id, cmeta, codes, cluster_id | file path), from one of
      * three sources:
      *  - warm resident: one root whose prewarm() / prewarmCodes() cache
      *    is valid reuses the RDD planned once over that cache
      *    ([[IvfIndex.residentPool]]), every cell, no plan per query;
      *  - cold pruned: one root otherwise plans a partition-pruned scan
      *    of the probed cells ([[IvfIndex.poolScan]]);
      *  - flat: more roots plan the flat read of the probed cells' files. */
    def poolRows: RDD[InternalRow] =
      if (flat) planPoolSource(flatCodesFor(idxs.head.spark, files).toDF())
      else idxs.head.residentPool.map(_._2)
        .getOrElse(planPoolSource(idxs.head.poolScan(probed(0))))
    /** Rerank rows: (id, vec[, file path]). */
    def vecs: DataFrame =
      if (flat) flatVecsDf(idxs.head.spark, files, idxs.head.meta.cfg.storage == "f16")
      else idxs.head.rerankScan(probed(0))
  }

  /** Pool row sources planned (Catalyst analysis through physical plan)
    * so far: one per cold or flat pool, one per persisted relation for a
    * warm root. */
  private[index] val poolSourcePlans = new java.util.concurrent.atomic.AtomicLong(0)

  private[index] def planPoolSource(df: DataFrame): RDD[InternalRow] = {
    poolSourcePlans.incrementAndGet()
    ColumnBridge.toInternalRdd(df)
  }

  /** The ONE IVF top-k estimate pool (reference crates/vchordrq/src/
    * search.rs:36-196: probe, then RaBitQ lower bound rough - eps*err):
    * per (root, query), the exact top `nCand` (id, lb) by (lb, id) over
    * that root's probed cells, from ONE Spark job for R roots x B
    * queries. Each row's codes unpack ONCE and every query probing its
    * cell scores against that scratch (bit-identical to
    * [[RaBitQ.estimateDot]]); partition-local [[graft.core.BoundedTopK]]
    * heaps bound each partition's output, and [[collectPools]] bounds the
    * driver collect. Queries are prepped PER ROOT (roots may differ in
    * bits, storage and rotation). `lb` carries no cosdist output shift
    * (ordering only). `keep` ([[KeyFilter]]) admits a row to the pools
    * before its codes unpack, so the pools are the top `nCand` of the
    * rows it passes. Returns the plan for the rerank plus
    * (root, queryIdx, id, lb) rows, sorted by (lb, id) within each
    * (root, query). */
  private def pools(idxs: Seq[IvfIndex], queries: Array[Array[Float]],
      nCand: Int, probes: Seq[Int], epsilon: Double,
      probes1: Int = -1, keep: Option[KeyFilter] = None)
      : (PoolPlan, Array[(Int, Int, Long, Double)]) = {
    require(idxs.nonEmpty && probes.length == idxs.length,
      "one probe budget per root index")
    require(queries.nonEmpty, "empty query batch")
    val spark = idxs.head.spark
    val nQ = queries.length
    val nRoots = idxs.length
    val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
    val files =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val qq = Array.ofDim[Array[Float]](nRoots, nQ)
    val probed = new Array[Array[Int]](nRoots)
    // per root, dense over cells: the preps of the queries probing each
    val preps = new Array[Array[CellPreps]](nRoots)
    idxs.zipWithIndex.foreach { case (ix, r) =>
      val byCell = scala.collection.mutable.HashMap.empty[Int,
        scala.collection.mutable.ArrayBuffer[(Int, (Array[Float], Double, Double, Double))]]
      queries.zipWithIndex.foreach { case (q, qi) =>
        graft.eval.QueryRecorder.record(ix.dir, q)
        qq(r)(qi) = ix.prepQuery(q)
        val cells = ix.probe(q, probes(r), probes1)
        val pc = ix.clusterPrep(qq(r)(qi), cells)
        cells.foreach { cid =>
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
    val plan = new PoolPlan(idxs, qq, probed, info.toMap, files.toArray)
    if (plan.empty) return (plan, Array.empty)
    val task = new PoolTask(preps, plan.info, plan.flat, nQ, nCand,
      idxs.map(_.meta.cfg.bits).toArray, idxs.map(_.meta.dim).toArray,
      idxs.map(_.meta.cfg.metric == "l2").toArray, epsilon, keep.orNull)
    (plan, collectPools(spark, plan.poolRows, task, nRoots * nQ, nCand)
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
    * `nCand` (slot, id, lb) by (lb, id). A row resolves (root, cell) from
    * its file path when `flat`, else reads `cluster_id`; a cell no query
    * probes (`preps(root)(cid) == null`) is skipped, so a source that
    * holds every cell pools exactly what a pruned one does. A probed row
    * `keep` (null = every row) rejects is skipped too. */
  private final class PoolTask(preps: Array[Array[CellPreps]],
      info: Map[String, DirInfo], flat: Boolean, nQ: Int, nCand: Int,
      bits: Array[Int], dims: Array[Int], isL2: Array[Boolean], eps: Double,
      keep: KeyFilter)
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
      val dirCache = new java.util.HashMap[String, DirInfo]()
      val heaps = new Array[graft.core.BoundedTopK](preps.length * nQ)
      val scratch = new Array[Float](dims.max)
      val bias = bits.map(RaBitQ.biasOf)
      val sqrtDim = dims.map(d => math.sqrt(d.toDouble))
      it.foreach { row =>
        var root = 0
        var cid = 0
        if (flat) {
          val d = dirInfoFor(info, dirCache, row.getString(3))
          root = d._1; cid = d._2
        } else cid = row.getInt(3)
        val rp = preps(root)
        val cp = if (cid >= 0 && cid < rp.length) rp(cid) else null
        var in = cp != null
        if (in && admit != null) {
          asked += 1
          in = admit.eval(row)
          if (in) passed += 1
        }
        if (in) {
          val id = row.getLong(0)
          val cm = row.getArray(1)
          val disU2 = cm.getFloat(0)
          val scale = RaBitQ.scaleOf(disU2, cm.getFloat(1))
          val dim = dims(root)
          RaBitQ.unpackTo(row.getBinary(2), bits(root), dim, scratch)
          var i = 0
          while (i < cp.qis.length) {
            val qNormSq = cp.qNormSq(i)
            val d = RaBitQ.estimateDotUnpacked(scratch, dim, scale, bias(root),
              cp.qr(i), cp.qSum(i))
            val err = math.sqrt(qNormSq) * scale * sqrtDim(root)
            // the lbOf bound: L2 from the residual estimate; dot-family
            // adds the cluster term dot(q, c) back
            val lb =
              if (isL2(root)) {
                val e = math.max(qNormSq + disU2 - 2.0 * d, 0.0)
                math.sqrt(math.max(e - eps * err, 0.0))
              } else -(d + cp.cDot(i)) - eps * err
            val slot = root * nQ + cp.qis(i)
            var h = heaps(slot)
            if (h == null) { h = new graft.core.BoundedTopK(nCand); heaps(slot) = h }
            h.offer(lb, id)
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
      graft.core.BareJob.run(rows, task).flatten.groupBy(_._1).valuesIterator
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

  /** Per-(root, query) estimate pools for callers that score them
    * themselves (the partitioned MaxSim serves, T = query tokens):
    * (root, queryIdx, id, lb), lb without the cosdist shift. */
  private[graft] def multiEstimatePools(idxs: Seq[IvfIndex],
      queries: Array[Array[Float]], nCand: Int, probes: Seq[Int],
      epsilon: Double): Array[(Int, Int, Long, Double)] =
    pools(idxs, queries, nCand, probes, epsilon)._2

  /** The planner's IVF candidate pools (the top-k serve's one query, a
    * KNN-join slice's many): per (root, query) the exact top `nCand`
    * (root, queryIdx, id, lb) in (lb, id) order among the rows `keep` —
    * a key-only prefilter bound as in [[KeyFilter]] — passes, plus how
    * many probed rows `keep` was asked about and passed (0 and 0
    * without it), one job for the whole batch. */
  private[graft] def multiEstimateCandidates(idxs: Seq[IvfIndex],
      queries: Array[Array[Float]], nCand: Int, probes: Seq[Int],
      epsilon: Double = 1.9, keep: Option[Expression] = None)
      : (Array[(Int, Int, Long, Double)], Long, Long) = {
    val sc = idxs.head.spark.sparkContext
    val kf = keep.map(new KeyFilter(_, sc.longAccumulator, sc.longAccumulator))
    val cands = pools(idxs, queries, nCand, probes, epsilon, keep = kf)._2
    (cands, kf.fold(0L)(_.asked.value), kf.fold(0L)(_.passed.value))
  }

  /** Driver-side range prep of every root plus the code-estimate
    * survivor kernel — the ONE range estimate kernel, shared by the
    * planner's candidate pool ([[multiRangeCandidateIds]]) and the
    * batched range fold ([[rangeManyMultiHomogeneous]]). Per root and
    * sphere: the prepped query, the sphere-intersecting cells
    * (`rangeCells`) and their scoring preps. `codes` reads those cells'
    * codes as ONE flat relation (null when no cell is probed); `hits`
    * maps its rows to (qi, root, id) for each sphere whose
    * epsilon-scaled lower bound (cos-shifted at the cutoff) undercuts
    * its radius — every passing sphere, or only the first when
    * `firstHit`. Callers run `hits` in their own mapPartitions so each
    * picks its output encoder. A gen+delta double row emits its tuples
    * twice. */
  private final case class RangeEstimate(
      codes: Dataset[(Long, Array[Float], Array[Byte], String)],
      hits: Iterator[(Long, Array[Float], Array[Byte], String)] => Iterator[(Int, Int, Long)],
      files: Array[org.apache.hadoop.fs.FileStatus],
      bInfo: org.apache.spark.broadcast.Broadcast[Map[String, DirInfo]],
      qq: Array[Array[Array[Float]]],
      cells: Array[Array[Array[Int]]])

  private def rangeEstimate(idxs: Seq[IvfIndex],
      spheres: Array[(Array[Float], Double)], epsilon: Double,
      firstHit: Boolean): RangeEstimate = {
    val spark = idxs.head.spark
    import spark.implicits._
    val nQ = spheres.length
    val info = scala.collection.mutable.HashMap.empty[String, DirInfo]
    val files =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    // per root: cid -> preps of the spheres whose range cells include it
    // ((queryIdx, radius, qr, qSum, qNormSq, clusterDot) per sphere); and
    // per (root, query) the prepped vector + probed cells (the fold's
    // exact phase and scan fallback reuse them — no re-probing)
    val prepByRoot = Array.fill(idxs.length)(scala.collection.mutable
      .HashMap.empty[Int, List[(Int, Double, Array[Float], Double, Double, Double)]])
    val qqByRoot = Array.ofDim[Array[Float]](idxs.length, nQ)
    val cellsByRootQ = Array.ofDim[Array[Int]](idxs.length, nQ)
    idxs.zipWithIndex.foreach { case (ix, r) =>
      val allProbed = scala.collection.mutable.LinkedHashSet.empty[Int]
      spheres.zipWithIndex.foreach { case ((center, radius), qi) =>
        graft.eval.QueryRecorder.record(ix.dir, center)
        val qq = ix.prepQuery(center)
        qqByRoot(r)(qi) = qq
        val probed = ix.rangeCells(qq, radius)
        cellsByRootQ(r)(qi) = probed
        val pc = ix.clusterPrep(qq, probed)
        probed.foreach { cid =>
          val (qr, qSum, qNormSq, cDot) = pc(cid)
          prepByRoot(r)(cid) = (qi, radius, qr, qSum, qNormSq, cDot) ::
            prepByRoot(r).getOrElse(cid, Nil)
          allProbed += cid
        }
      }
      probedDirs(ix, r, allProbed, info, files)
    }
    val bInfo = spark.sparkContext.broadcast(info.toMap)
    val bPreps = spark.sparkContext.broadcast(
      prepByRoot.map(_.view.mapValues(_.toArray).toMap))
    val eps = epsilon
    val hits = (it: Iterator[(Long, Array[Float], Array[Byte], String)]) => {
      val info = bInfo.value
      val preps = bPreps.value
      val dirCache = new java.util.HashMap[String, DirInfo]()
      it.flatMap { case (id, cm, codes, path) =>
        val (root, cid, bits, dim, isL2, isCos) = dirInfoFor(info, dirCache, path)
        val sps = preps(root).getOrElse(cid,
          Array.empty[(Int, Double, Array[Float], Double, Double, Double)])
        if (sps.isEmpty) Iterator.empty
        else {
          val code = RaBitQ.Code(cm, codes, bits, dim)
          val pass = sps.iterator.filter { case (_, rad, qr, qSum, qNormSq, cDot) =>
            val lb0 = lbOf(code, bits, dim, isL2, qr, qSum, qNormSq, cDot, eps)
            val lb = if (isCos) 1.0 + lb0 else lb0 // cosdist output shift
            lb < rad
          }.map(sp => (sp._1, root, id))
          if (firstHit) pass.take(1) else pass
        }
      }
    }
    RangeEstimate(if (files.isEmpty) null else flatCodesFor(spark, files.toArray),
      hits, files.toArray, bInfo, qqByRoot, cellsByRootQ)
  }

  /** One-read multi-root MULTI-SPHERE range candidates: ids whose code
    * lower bound undercuts SOME sphere's radius in that sphere's
    * intersecting cells of ANY root ([[rangeEstimate]], a row exits at
    * its first passing sphere), capped at `cap + 1` rows so callers
    * detect overflow without an unbounded collect. One Spark job and ONE
    * analyzed relation for R roots x M spheres — every planner range
    * serve (standalone filter and order-by at M = 1, range join at any
    * M, on one root or many) pools through this. May contain gen+delta
    * duplicates — callers dedup after the overflow check. */
  private[graft] def multiRangeCandidateIds(idxs: Seq[IvfIndex],
      spheres: Array[(Array[Float], Double)], epsilon: Double,
      cap: Int): Array[Long] = {
    require(idxs.nonEmpty, "no root indexes")
    require(spheres.nonEmpty, "no spheres")
    val spark = idxs.head.spark
    import spark.implicits._
    val e = rangeEstimate(idxs, spheres, epsilon, firstHit = true)
    if (e.codes == null) Array.empty
    else {
      val hits = e.hits
      e.codes.mapPartitions(it => hits(it).map(_._3)).limit(cap + 1).collect()
    }
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
      files: Array[org.apache.hadoop.fs.FileStatus])
      : Dataset[(Long, Array[Float], Array[Byte], String)] = {
    import spark.implicits._
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
      .as[(Long, Array[Float], Array[Byte], String)]
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
    * (root, queryIdx, id) candidates, as raw (queryIdx, id, dist) rows.
    * In-index, one scan of the probed cells' vectors checks membership
    * on the raw InternalRow (sorted-id binary search per root) BEFORE any
    * vector decode and scores against the root-prepped query. In-table,
    * candidates from any root only gate membership: the source table's
    * rows are the single exact truth, point-fetched ([[pointFetch]]) and
    * scored against the RAW queries. Rows are not folded: a gen+delta
    * double row scores twice ([[topKFold]] keeps its best). */
  private def rerank(p: PoolPlan, cands: Array[(Int, Int, Long)],
      raw: Array[Array[Float]],
      rerankTable: Option[(DataFrame, String, String)]): Array[(Int, Long, Double)] = {
    if (cands.isEmpty) return Array.empty
    val h = p.idxs.head
    val spark = h.spark
    import spark.implicits._
    rerankTable match {
      case Some((src, idCol, vecCol)) =>
        val id2q: Map[Long, Array[Int]] =
          cands.groupBy(_._3).view.mapValues(_.map(_._2).distinct).toMap
        val kern = exactKernel(h.meta.cfg.metric, stored = false)
        val bState = spark.sparkContext.broadcast((id2q, raw))
        pointFetch(src, idCol, id2q.keys.toArray.sorted)
          .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            val (i2q, qs) = bState.value
            i2q.getOrElse(id, Array.empty[Int]).iterator.map(qi => (qi, id, kern(v, qs(qi))))
          }.collect()
      case None =>
        // per root: sorted candidate ids + each id's query slots
        val ids = Array.fill(p.idxs.length)(Array.empty[Long])
        val qis = Array.fill(p.idxs.length)(Array.empty[Array[Int]])
        cands.groupBy(_._1).foreach { case (r, cs) =>
          val byId = cs.groupBy(_._3).toArray.sortBy(_._1)
          ids(r) = byId.map(_._1)
          qis(r) = byId.map(_._2.map(_._2).distinct)
        }
        val kern = exactKernel(h.meta.cfg.metric, stored = true)
        val f16 = h.meta.cfg.storage == "f16"
        val flat = p.flat
        val bState = spark.sparkContext.broadcast((ids, qis, p.qq, p.info))
        ColumnBridge.toInternalRdd(p.vecs).mapPartitions { it =>
          val (ids, qis, qq, info) = bState.value
          val dirCache = new java.util.HashMap[String, DirInfo]()
          it.flatMap { row =>
            val id = row.getLong(0)
            val root = if (flat) dirInfoFor(info, dirCache, row.getString(2))._1 else 0
            val at = java.util.Arrays.binarySearch(ids(root), id)
            if (at < 0) Iterator.empty
            else {
              val v =
                if (f16) graft.core.Half.decodeBytes(row.getBinary(1))
                else row.getArray(1).toFloatArray()
              qis(root)(at).iterator.map(qi => (qi, id, kern(v, qq(root)(qi))))
            }
          }
        }.collect()
    }
  }

  /** The top-k faces' final driver fold: per query, ONE row per id at
    * its best distance (an id in both gen and delta, append-without-
    * delete, or in two storage groups scores twice), then the k best by
    * (dist, id). Output (qid, id, dist, rn). */
  private def topKFold(spark: SparkSession, rows: Array[(Int, Long, Double)],
      k: Int, qids: Array[Long]): DataFrame = {
    import spark.implicits._
    rows.groupBy(_._1).toSeq.flatMap { case (qi, rs) =>
      rs.groupBy(_._2).valuesIterator
        .map(dups => dups.minBy(r => (r._3, r._2)))
        .map(r => (r._3, r._2)).toSeq
        .sorted.take(k).zipWithIndex
        .map { case ((d, id), i) => (qids(qi), id, d, (i + 1).toLong) }
    }.toDF("qid", "id", "dist", "rn")
  }

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
    * per-child index. Job 1 pools (qid, root, id) code-estimate
    * survivors over every root's sphere-intersecting cells from ONE flat
    * parquet relation (a row passes its cell's spheres' epsilon-scaled
    * lower bound, cos-shifted at the cutoff). Survivor delivery is
    * two-tier: BOUNDED survivor sets (under
    * `graft.ann.range.maxDriverSurvivors`, default 1M tuples) collect
    * once and the exact strict-< cutoff runs as a membership
    * mapPartitions over the flat VECTOR read (or a point fetch from the
    * rerank table) — two jobs total; past the bound, survivors stay a
    * DATAFRAME end to end — joined to the root-tagged vector read on
    * (root, id), broadcast while bounded ([[rangeBroadcastCap]]) — so a
    * low-selectivity sphere over billions of rows is served without any
    * driver candidate collect. Spheres whose code bound kept more than
    * [[rangeScanFallbackFrac]] of the corpus take the direct-scan
    * fallback over their own probed cells instead (per query — mixed
    * batches split row sets, not plans). Queries are prepped PER ROOT
    * (rotation / cosine normalization may differ), and each row scores
    * only under its own root's prep. Children must share dim and metric;
    * STORAGE-mixed corpora (f32 + f16, full + codes-only with a rerank
    * table) serve by homogeneous group — per-group survivor frames union
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
    // so group frames union exactly (the searchManyMulti policy)
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
    if (groups.length > 1) {
      // per-group serve, frames unioned, one global ordering: each
      // group's rows are its own exact strict-< survivors, and the range
      // contract has no cross-root fold — the union IS the answer. With
      // a rerankTable the groups share ONE source of truth, so the union
      // can carry identical duplicate rows (an id indexed by roots in
      // two groups scores from the same table row in each; a group's
      // no-prune scan fallback re-emits other groups' survivors from the
      // shared table): distinct() folds them — exact, because in-table
      // rows are unique per (qid, id). The no-rerank union keeps
      // per-root rows independently (different stored vectors, the
      // colliding-ids contract). The driver-survivor cap divides by the
      // group count so a mixed call collects no more than a homogeneous
      // one.
      val unioned = groups.map(g => rangeManyMultiHomogeneous(g, queries,
          epsilon, rerankTable, capDivisor = groups.length))
        .reduce(_ unionByName _)
      return (if (rerankTable.nonEmpty) unioned.distinct() else unioned)
        .orderBy("qid", "dist", "id")
    }
    rangeManyMultiHomogeneous(idxs, queries, epsilon, rerankTable)
      .orderBy("qid", "dist", "id")
  }

  /** One HOMOGENEOUS group's [[rangeSearchManyMulti]] body, returning
    * the UNORDERED (qid, id, dist) survivor frame (the caller unions
    * groups and orders once; `capDivisor` splits the driver-survivor
    * budget across groups). */
  private def rangeManyMultiHomogeneous(idxs: Seq[IvfIndex],
      queries: Array[(Long, Array[Float], Double)],
      epsilon: Double,
      rerankTable: Option[(org.apache.spark.sql.DataFrame, String, String)],
      capDivisor: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val h = idxs.head
    val spark = h.spark
    import spark.implicits._
    val met = h.meta.cfg.metric
    val f16 = h.meta.cfg.storage == "f16"
    val nQ = queries.length
    // job 1 (lazy plan): the shared code-estimate pass, emitting EVERY
    // passing sphere (per-qid survivors, unlike the planner's
    // any-sphere pooled ids). The driver tier dedups what it collects;
    // the distributed tier dedups `cand0` so a gen+delta double row
    // does not multiply through the join below
    val RangeEstimate(codes, hits, files, bInfo, qqByRoot, cellsByRootQ) =
      rangeEstimate(idxs, queries.map(q => (q._2, q._3)), epsilon, firstHit = false)
    if (codes == null)
      return Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
    val est = codes.mapPartitions(hits)
    val qidArr = queries.map(_._1)
    lazy val cand0 = est.toDF("qi", "root", "id").distinct()
    val nTable = idxs.map(_.rowCount).sum
    // TWO-TIER survivor delivery. Common case (bounded survivors): ONE
    // estimate pass collects the (qi, root, id) survivors to the driver
    // — per-query no-prune counts come free, and the exact phase is a
    // straight membership mapPartitions over the flat vector read (no
    // join, no broadcast-exchange job, no second codes pass). Past
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
    val probeRows: Array[(Int, Int, Long)] =
      if (maxDriver <= 0) null
      else {
        val lim = math.min(maxDriver, (Int.MaxValue - 2).toLong).toInt
        val r = est.limit(lim + 1).collect()
        if (r.length > lim) null else r.distinct
      }
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
      perQ.filter(_._2 > nTable * IvfIndex.rangeScanFallbackFrac).map(_._1).toSet
    if (scanQis.nonEmpty) IvfIndex.rangeScanFallbacks.addAndGet(scanQis.size)
    val nJoinSurvivors = perQ.collect { case (q, c) if !scanQis.contains(q) => c }.sum
    // the exact-phase vector read serves only JOIN-tier spheres: when
    // some queries fell back to direct scan, cells probed ONLY by scan
    // queries hold no possible members — reading them in the membership
    // pass just rereads bytes the scan pass below reads again. Restrict
    // to the join-tier queries' own probed cells (the cellsByRootQ
    // bookkeeping the scan fallback already uses); dir resolution stays
    // on the full `info` map (a superset is fine).
    lazy val vecFiles: Array[org.apache.hadoop.fs.FileStatus] =
      if (scanQis.isEmpty) files
      else {
        val jInfo = scala.collection.mutable.HashMap.empty[String, DirInfo]
        val jFiles =
          scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        idxs.zipWithIndex.foreach { case (ix, r) =>
          val cells = (0 until nQ).filterNot(scanQis.contains)
            .flatMap(qi => cellsByRootQ(r)(qi)).distinct
          probedDirs(ix, r, cells, jInfo, jFiles)
        }
        jFiles.toArray
      }
    val bQq = spark.sparkContext.broadcast(qqByRoot)
    val bQid = spark.sparkContext.broadcast(qidArr)
    val bRad = spark.sparkContext.broadcast(queries.map(_._3))
    val isF16 = f16
    // exact strict-< cutoff for (qi, root, id, vec) rows against the
    // root-prepped query (stored vectors are in index space)
    val kStored = exactKernel(met, stored = true)
    def cutRows(it: Iterator[(Int, Int, Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
      val qq = bQq.value
      val qids = bQid.value
      val rads = bRad.value
      it.flatMap { case (qi, root, id, v) =>
        val d = kStored(v, qq(root)(qi))
        if (d < rads(qi)) Iterator.single((qids(qi), id, d)) else Iterator.empty
      }
    }
    // in-table exact kernel: RAW queries against original vectors;
    // candidates from any root gate membership only (the source table's
    // rows are the single exact truth)
    val kRaw = exactKernel(met, stored = false)
    val bQs = spark.sparkContext.broadcast(queries.map(q => (q._2, q._3)))
    def cutRaw(it: Iterator[(Int, Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
      val qs = bQs.value
      val qids = bQid.value
      it.flatMap { case (qi, id, va) =>
        val (q, r) = qs(qi)
        val d = kRaw(va, q)
        if (d < r) Iterator.single((qids(qi), id, d)) else Iterator.empty
      }
    }
    lazy val emptyScored = Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
    val scored: org.apache.spark.sql.DataFrame = if (probeRows != null) {
      // DRIVER-survivor tier: membership maps ship as broadcasts; the
      // flat vector read is scanned ONCE with per-row membership checks
      // (the [[rerank]] shape — same I/O as the broadcast join, none
      // of the exchange machinery)
      val surv = probeRows.filter(t => !scanQis.contains(t._1))
      if (surv.isEmpty) emptyScored
      else rerankTable match {
        case None =>
          val cmap: Map[(Int, Long), Array[Int]] =
            surv.groupBy(t => (t._2, t._3)).view.mapValues(_.map(_._1)).toMap
          val bC = spark.sparkContext.broadcast(cmap)
          // InternalRow scan (the [[rerank]] pattern):
          // membership on the raw row BEFORE any vector decode — the
          // typed-Dataset form decoded f16 bytes / boxed f32 Seqs for
          // EVERY scanned row first, a per-row allocation storm the
          // selective-sphere case pays for nothing
          val isF16L = isF16
          org.apache.spark.sql.graft.ColumnBridge
            .toInternalRdd(flatVecsDf(spark, vecFiles, f16))
            .mapPartitions { it =>
              val info = bInfo.value
              val cm = bC.value
              val dirCache = new java.util.HashMap[String, DirInfo]()
              cutRows(it.flatMap { row =>
                val id = row.getLong(0)
                val root = dirInfoFor(info, dirCache, row.getString(2))._1
                cm.get((root, id)) match {
                  case None => Iterator.empty
                  case Some(qis) =>
                    val v: Array[Float] =
                      if (isF16L) graft.core.Half.decodeBytes(row.getBinary(1))
                      else row.getArray(1).toFloatArray()
                    qis.iterator.map(qi => (qi, root, id, v))
                }
              })
            }.toDF("qid", "id", "dist")
        case Some((src, idCol, vecCol)) =>
          val id2q: Map[Long, Array[Int]] =
            surv.groupBy(_._3).view.mapValues(_.map(_._1).distinct).toMap
          val bI2Q = spark.sparkContext.broadcast(id2q)
          pointFetch(src, idCol, id2q.keysIterator.toArray.sorted)
            .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
            .as[(Long, Seq[Float])]
            .mapPartitions { it =>
              val i2q = bI2Q.value
              cutRaw(it.flatMap { case (id, v) =>
                val va = v.toArray
                i2q.getOrElse(id, Array.empty[Int]).iterator
                  .map(qi => (qi, id, va))
              })
            }.toDF("qid", "id", "dist")
      }
    } else {
      // HUGE-survivor tier: candidates stay distributed end to end
      val candJoin0 =
        if (scanQis.isEmpty) cand0
        else cand0.filter(!col("qi").isin(scanQis.toSeq.map(Integer.valueOf): _*))
      if (vecFiles.isEmpty) emptyScored // every sphere fell back to scan
      else rerankTable match {
        case None =>
          // flat VECTOR read over the JOIN-tier probed files, tagged with
          // its owning root so survivors join on (root, id) — colliding
          // ids across roots score only under their own root's spheres
          val vecRows = flatVecsDf(spark, vecFiles, f16)
          val tagged =
            if (isF16)
              vecRows.as[(Long, Array[Byte], String)].mapPartitions { it =>
                val info = bInfo.value
                val dirCache = new java.util.HashMap[String, DirInfo]()
                it.map { case (id, vb, path) =>
                  (dirInfoFor(info, dirCache, path)._1, id, vb)
                }
              }.toDF("root", "id", "vb")
            else
              vecRows.as[(Long, Seq[Float], String)].mapPartitions { it =>
                val info = bInfo.value
                val dirCache = new java.util.HashMap[String, DirInfo]()
                it.map { case (id, v, path) =>
                  (dirInfoFor(info, dirCache, path)._1, id, v)
                }
              }.toDF("root", "id", "v")
          val cand =
            if (nJoinSurvivors <= IvfIndex.rangeBroadcastCap) broadcast(candJoin0)
            else candJoin0
          val joined = tagged.join(cand, Seq("root", "id"))
          if (isF16)
            joined.select(col("qi"), col("root"), col("id"), col("vb"))
              .as[(Int, Int, Long, Array[Byte])]
              .mapPartitions(it => cutRows(it.map { case (qi, r, id, vb) =>
                (qi, r, id, graft.core.Half.decodeBytes(vb)) }))
              .toDF("qid", "id", "dist")
          else
            joined.select(col("qi"), col("root"), col("id"), col("v"))
              .as[(Int, Int, Long, Seq[Float])]
              .mapPartitions(it => cutRows(it.map { case (qi, r, id, v) =>
                (qi, r, id, v.toArray) }))
              .toDF("qid", "id", "dist")
        case Some((src, idCol, vecCol)) =>
          val candIds = candJoin0.select(col("qi"), col("id")).distinct()
          val cand =
            if (nJoinSurvivors <= IvfIndex.rangeBroadcastCap) broadcast(candIds)
            else candIds
          src.select(col(idCol).cast("long").as("id"),
              col(vecCol).cast("array<float>").as("__v"))
            .join(cand, Seq("id"))
            .select(col("qi"), col("id"), col("__v"))
            .as[(Int, Long, Seq[Float])]
            .mapPartitions { it =>
              cutRaw(it.map { case (qi, id, v) => (qi, id, v.toArray) })
            }.toDF("qid", "id", "dist")
      }
    }
    // direct-scan rows for the no-prune spheres: one pass over THOSE
    // spheres' probed cells (a second flat relation over the subset),
    // every scan sphere tested per row under its own root's prep
    val scanned: Option[org.apache.spark.sql.DataFrame] =
      if (scanQis.isEmpty) None
      else {
        val scanInfo = scala.collection.mutable.HashMap.empty[String, DirInfo]
        val scanFiles =
          scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        idxs.zipWithIndex.foreach { case (ix, r) =>
          val cells = scanQis.toSeq.flatMap(qi => cellsByRootQ(r)(qi)).distinct
          probedDirs(ix, r, cells, scanInfo, scanFiles)
        }
        if (scanFiles.isEmpty) None
        else Some {
          val bSInfo = spark.sparkContext.broadcast(scanInfo.toMap)
          val scanArr = scanQis.toArray.sorted
          val bScan = spark.sparkContext.broadcast(scanArr)
          rerankTable match {
            case None =>
              val rows = flatVecsDf(spark, scanFiles.toArray, f16)
              def scanIt(it: Iterator[(Long, Array[Float], String)],
                         info: Map[String, DirInfo]): Iterator[(Int, Int, Long, Array[Float])] = {
                val dirCache = new java.util.HashMap[String, DirInfo]()
                val qis = bScan.value
                it.flatMap { case (id, v, path) =>
                  val root = dirInfoFor(info, dirCache, path)._1
                  qis.iterator.map(qi => (qi, root, id, v))
                }
              }
              if (isF16)
                rows.as[(Long, Array[Byte], String)].mapPartitions { it =>
                  cutRows(scanIt(it.map { case (id, vb, p) =>
                    (id, graft.core.Half.decodeBytes(vb), p) }, bSInfo.value))
                }.toDF("qid", "id", "dist")
              else
                rows.as[(Long, Seq[Float], String)].mapPartitions { it =>
                  cutRows(scanIt(it.map { case (id, v, p) =>
                    (id, v.toArray, p) }, bSInfo.value))
                }.toDF("qid", "id", "dist")
            case Some((src, idCol, vecCol)) =>
              src.select(col(idCol).cast("long").as("id"),
                  col(vecCol).cast("array<float>").as("__v"))
                .as[(Long, Seq[Float])]
                .mapPartitions { it =>
                  val qis = bScan.value
                  cutRaw(it.flatMap { case (id, v) =>
                    val va = v.toArray
                    qis.iterator.map(qi => (qi, id, va))
                  })
                }.toDF("qid", "id", "dist")
          }
        }
      }
    scanned.map(s => scored.unionByName(s)).getOrElse(scored)
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
    * output shift — range callers apply it at the cutoff). The top-k
    * pool computes the same bound over codes unpacked once per row. */
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

  /** Per-cluster indexed row counts (cached with dataDf's invalidation
    * key) — the analog of the reference's per-cell `tuples()` counter on
    * jump tuples, used by MaxSim threshold pricing. */
  @volatile private var clusterCountsCache: (String, Boolean, Long, Map[Int, Long]) = null
  def clusterCounts: Map[Int, Long] = {
    val gen = currentGen
    val delta = deltaExists
    val ver = mutations.get()
    val c = clusterCountsCache
    if (c != null && c._1 == gen && c._2 == delta && c._3 == ver) c._4
    else {
      val m = dataDf.groupBy("cluster_id").count()
        .as[(Int, Long)].collect().toMap
      clusterCountsCache = (gen, delta, ver, m)
      m
    }
  }

  /** Every leaf cell in probe order (the same l2s-to-centroid ordering
    * `probe` uses, so the first `probes` entries ARE the probed set),
    * carrying the INDEX-METRIC distance from the query to the centroid —
    * the value stream of the reference's maxsim probe iterator
    * (crates/vchordrq/src/search.rs:283-301), used to price unvisited
    * cells. */
  def cellOrder(q: Array[Float]): Array[(Int, Double)] = {
    val qq = prepQuery(q)
    meta.centroids.indices
      .map(i => (K.l2s(qq, meta.centroids(i)), i))
      .sortBy(identity)
      .map { case (l2s, i) =>
        val d = meta.cfg.metric match {
          case "l2"      => math.sqrt(l2s)
          case "negdot"  => K.negdot(qq, meta.centroids(i))
          case "cosdist" => 1.0 + K.negdot(qq, meta.centroids(i))
        }
        (i, d)
      }.toArray
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
   * fallback and the rerank-table point fetch are that fold's.
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
   * `exactBudget >= 0` switches to the reference's per-query refine
   * budget (maxsim_refine, src/index/vchordrq/scanners/maxsim.rs:99-260):
   * the output set is the top-k BY ESTIMATE, of which only the first
   * exactBudget rows per query are re-scored exactly — the remainder keep
   * their estimate as the distance (callers wanting honest mixing pass
   * epsilon = 0). `exactBudget = 0` runs no exact phase, so a codes-only
   * index serves it without a rerank table.
   * Output: (qid, id, dist, rn).
   */
  def searchMany(queries: Array[(Long, Array[Float])], k: Int, probes: Int = 4,
                 epsilon: Double = 1.9, refine: Int = 8,
                 rerankTable: Option[(DataFrame, String, String)] = None,
                 probes1: Int = -1, exactBudget: Int = -1): DataFrame = {
    IvfIndex.requireBatch(queries.map(_._1))
    if (exactBudget != 0) requireRerankSource(rerankTable)
    val budgeted = exactBudget >= 0
    val nCand = if (budgeted) k else math.max(k * refine, k)
    IvfIndex.requirePoolBudget(spark, "searchMany", 1, queries.length, nCand)
    val qvecs = queries.map(_._2)
    val (plan, pool) =
      IvfIndex.pools(Seq(this), qvecs, nCand, Seq(probes), epsilon, probes1)
    // budgeted: the first exactBudget candidates per query in estimate
    // order rerank; the rest keep their lower bound as the distance
    val (exact, rough) =
      if (!budgeted) (pool, Array.empty[(Int, Int, Long, Double)])
      else pool.groupBy(_._2).valuesIterator
        .flatMap(_.sortBy(t => (t._4, t._3)).zipWithIndex).toArray
        .partition(_._2 < exactBudget) match {
          case (e, r) => (e.map(_._1), r.map(_._1))
        }
    val scored = IvfIndex.rerank(plan, exact.map(t => (t._1, t._2, t._3)),
      qvecs, rerankTable)
    IvfIndex.topKFold(spark, scored ++ rough.map(t => (t._2, t._3, t._4)), k,
      queries.map(_._1))
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
