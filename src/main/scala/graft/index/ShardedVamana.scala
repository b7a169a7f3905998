package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{RaBitQ, VectorKernels => K}

/**
 * Sharded Vamana graph — the DISTRIBUTED scale path for the graph tier.
 *
 * `VamanaGraph` builds on the driver and broadcasts whole — the right
 * shape for moderate N (and it caps loudly). This shards the table by a
 * hash of the id into `shards` subgraphs and builds EVERY shard inside
 * an executor task (no driver collect, no table-size cap — only the
 * SHARD must fit a task), the same decompose-build-merge pattern the
 * DiskANN line of work uses for billion-scale graphs. Reference
 * analogue: vchordg is a single-node disk graph
 * (/root/reference/crates/vchordg/src/insert.rs, maintain.rs); on Spark
 * the disk is the cluster, so the partition IS the page.
 *
 * Serving inverts the broadcast: shard graphs stay put as a persisted
 * RDD (built once per load, the `prewarm` analogue) and the QUERY BATCH
 * broadcasts over them. Every shard answers every query — the standard
 * sharded-ANN cost — but each shard emits at most k (or ef with rerank)
 * rows per query, so the merge shuffle is bounded at shards*k*B rows of
 * fixed width, never vectors.
 *
 * Maintenance follows vchordg's lifecycle per shard: `insertAll` routes
 * new rows to their hash shard and runs the live-graph insert inside the
 * task (aminsert); `vacuum` relinks through dead vertices in place
 * (maintain.rs shape) — both return a NEW handle, old one untouched.
 */
object ShardedVamana {

  private val hashSalt = 0x517cc1b7L

  private val vertexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cmeta",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("codes", org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("neighbors",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("medoid_id", org.apache.spark.sql.types.LongType),
    // vector dim, persisted per vertex (graph-constant): byte-length
    // recovery is ambiguous for dims the bit width does not divide evenly
    org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType)))

  private def writeMeta(dir: String, cfg: VamanaConfig, shards: Int,
                        sourceComplete: Boolean = false): Unit = {
    val p = new java.util.Properties()
    p.setProperty("m", cfg.m.toString)
    p.setProperty("ef_construction", cfg.efConstruction.toString)
    p.setProperty("ef_search", cfg.efSearch.toString)
    p.setProperty("alphas", cfg.alphas.mkString(","))
    p.setProperty("metric", cfg.metric)
    p.setProperty("bits", cfg.bits.toString)
    p.setProperty("shards", shards.toString)
    p.setProperty("source_complete", sourceComplete.toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val w = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(dir, "meta.properties"))
    try p.store(w, "graft sharded vamana meta") finally w.close()
  }

  private def shardOf(id: Long, shards: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong(id ^ hashSalt, 42)
    ((h % shards) + shards) % shards
  }

  /** Build per-shard graphs; one shuffle on the shard key, each task
    * builds the shards it holds sequentially and emits one parquet row
    * per vertex (neighbors stored as GLOBAL ids, per-shard medoid id
    * denormalized). Fails loudly when a shard exceeds `maxShardRows` —
    * pick `shards` so a shard fits executor memory. */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
            cfg: VamanaConfig = VamanaConfig(), shards: Int = 32,
            maxShardRows: Int = 2000000): Unit = {
    require(shards > 0, "shards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nShards = shards
    val capRows = maxShardRows
    val bcfg = cfg
    val base = df.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val quant = cfg.bits > 0
    val rows = base.rdd
      .map { case (id, v) => (shardOf(id, nShards), (id, v)) }
      .partitionBy(new org.apache.spark.HashPartitioner(nShards))
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (shard, members) =>
          require(members.length <= capRows,
            s"sharded graph build: shard $shard holds ${members.length} rows, " +
            s"over the per-shard cap $capRows — raise `shards` (or " +
            "maxShardRows explicitly) so each shard fits an executor task")
          val sorted = members.map(_._2).sortBy(_._1)
          val g = VamanaGraph.build(sorted.map(_._1), sorted.map(_._2), bcfg)
          val medoidId = g.ids(g.medoid)
          g.ids.indices.iterator.map { i =>
            Row(shard, g.ids(i),
              if (quant) null else g.vecs(i).toSeq,
              if (quant) g.codes(i).meta.toSeq else null,
              if (quant) g.codes(i).codes else null,
              g.adj(i).map(g.ids).toSeq, medoidId,
              if (quant) g.codes(i).dim else g.vecs(i).length)
          }
        }
      }
    spark.createDataFrame(rows, vertexSchema)
      .write.mode("overwrite").parquet(s"$dir/graph")
    // source completeness (round 17, IvfIndex.sourceComplete analog):
    // equal source and written vertex counts mean the null filter
    // dropped nothing — served top-k plans may keep the bare
    // parquet-pushable candidate IN. Two footer/metadata-level jobs.
    val srcCount = df.count()
    val keptCount =
      try spark.read.schema(vertexSchema).parquet(s"$dir/graph").count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    // driver-side meta, kilobytes — plain properties like IvfIndex
    writeMeta(dir, cfg, shards, sourceComplete = srcCount == keptCount)
  }

  /** Shard graphs resident as a persisted RDD[(shard, graph)] — load
    * once, search many (the prewarm analogue). */
  final class Handle private[index] (
      private[index] val graphs: org.apache.spark.rdd.RDD[(Int, VamanaGraph)],
      val cfg: VamanaConfig, val shards: Int,
      /** Source-completeness attestation (IvfIndex.sourceComplete
        * contract): build/load carry it; insertAll clears it (the raw
        * batch frame is not visible here); vacuum preserves it. */
      val sourceComplete: Boolean = false) {

    /** Total vertex count across shards (one cheap job over the resident
      * RDD, computed on demand and memoized — the planner's cost gate). */
    lazy val totalVertices: Long =
      graphs.map(_._2.ids.length.toLong).fold(0L)(_ + _)

    /** Batch search, (qid, id, dist, rn) like VamanaGraph.searchBatch.
      * Queries broadcast over the resident shard RDD; per-shard
      * candidates are bounded (k, or ef with rerank) id/dist rows; the
      * global top-k merge is one fixed-width shuffle. `rerankTable`
      * re-scores the full per-shard ef pool EXACTLY from the source
      * table — mandatory economics on quantized shards — via joins, no
      * driver collect. */
    def search(spark: SparkSession, queries: Array[(Long, Array[Float])],
               k: Int, ef: Int = -1,
               rerankTable: Option[(DataFrame, String, String)] = None,
               allowEstimates: Boolean = false): DataFrame = {
      import spark.implicits._
      // quantized shards score by code ESTIMATES; without a rerank table
      // the output distances would silently be estimates — the reference
      // always reranks to exact (crates/vchordg/src/search.rs:98-140)
      require(queries.map(_._1).distinct.length == queries.length,
        "duplicate qids in query batch — results would silently merge " +
        "(the searchManyMulti guard, same contract)")
      require(cfg.bits == 0 || rerankTable.nonEmpty || allowEstimates,
        "search on a quantized sharded graph without rerankTable returns " +
        "code-ESTIMATE distances, not exact ones: pass " +
        "rerankTable=Some((sourceDf, idCol, vecCol)) to rerank exactly " +
        "(reference semantics), or allowEstimates=true to opt in")
      if (queries.isEmpty)
        return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "id", "dist", "rn")
      val bq = spark.sparkContext.broadcast(queries)
      val metric = cfg.metric
      // rn cast to long: the (qid, id, dist, rn) searchMany contract is
      // LongType rn on every tier (IVF and driver-graph emit
      // (i+1).toLong) — row_number() alone would make the sharded tier
      // the one IntegerType outlier and flip servedSearchMany's schema
      // by registration (round-16 ADVICE)
      def topk(cand: DataFrame, kk: Int): DataFrame = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("dist"), col("id")))
          .cast("long"))
        .filter(col("rn") <= kk)
      rerankTable match {
        case None =>
          val cand = graphs.flatMap { case (_, g) =>
            bq.value.iterator.flatMap { case (qid, q) =>
              g.search(q, k, ef).iterator.map { case (id, d) => (qid, id, d) }
            }
          }.toDF("qid", "id", "dist")
          topk(cand, k)
        case Some((src, idCol, vecCol)) =>
          val efUse = math.max(if (ef <= 0) cfg.efSearch else ef, k)
          val cand = graphs.flatMap { case (_, g) =>
            bq.value.iterator.flatMap { case (qid, q) =>
              g.search(q, efUse, efUse).iterator.map { case (id, _) => (qid, id) }
            }
          }.toDF("qid", "id").distinct()
          val qDf = bq.value.toSeq.toDF("qid", "qvec")
          // native codegen distance — no boxed Seq[Float] UDF on the
          // rerank path (both sides are f32 array columns)
          import graft.functions.{GraftFunctions => GF}
          val kern: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
            metric match {
              case "l2"      => GF.vecL2
              case "negdot"  => GF.vecNegdot
              case "cosdist" => GF.vecCosdist
            }
          val scored = cand
            .join(src.select(col(idCol).cast("long").as("id"),
              col(vecCol).cast("array<float>").as("__v")), Seq("id"))
            .join(broadcast(qDf), Seq("qid"))
            .select(col("qid"), col("id"), kern(col("__v"), col("qvec")).as("dist"))
          topk(scored, k)
      }
    }

    /** Batch RANGE search, (qid, id, dist) like
      * [[VamanaGraph.rangeSearchManyMulti]] — the sharded strategy-2
      * route (reference vchordg sphere SEARCH, beam +
      * `take_while(dist < radius)` at
      * src/index/vchordg/scanners/default.rs:108-110,912-913). Queries
      * broadcast over the resident shard RDD; every shard walks its
      * in-sphere region (BEST-EFFORT per [[VamanaGraph.rangeBeam]] —
      * exact at ef >= shard size on connected shards; hash sharding
      * keeps shards small, so saturation is cheap per shard). Fully
      * DISTRIBUTED: per-shard hits stay executor-side; the quantized
      * path collects by ε lower bound and reranks EXACTLY from the
      * source table via joins, strict-< cutoff per query radius — no
      * driver collect anywhere. Per-(shard, query) hit counts are
      * bounded loudly by `graft.ann.batch.maxPoolTuples` / batch size. */
    def rangeSearch(spark: SparkSession,
                    queries: Array[(Long, Array[Float], Double)],
                    ef: Int = -1, epsilon: Double = 1.9,
                    rerankTable: Option[(DataFrame, String, String)] = None,
                    allowEstimates: Boolean = false): DataFrame = {
      import spark.implicits._
      require(queries.map(_._1).distinct.length == queries.length,
        "duplicate qids in query batch — results would silently merge " +
        "(the searchManyMulti guard, same contract)")
      require(cfg.bits == 0 || rerankTable.nonEmpty || allowEstimates,
        "rangeSearch on a quantized sharded graph cuts at code-ESTIMATE " +
        "distances, not exact ones: pass rerankTable=Some((sourceDf, " +
        "idCol, vecCol)) for the exact strict-< cutoff (reference " +
        "semantics), or allowEstimates=true to opt in")
      if (queries.isEmpty)
        return Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
      val maxPool = graft.core.AnnConf(spark).batchMaxPoolTuples
      val perQueryBudget = math.max(1L, maxPool / queries.length)
      val bq = spark.sparkContext.broadcast(queries)
      val metric = cfg.metric
      val efArg = ef
      val rerank = rerankTable.nonEmpty
      val epsArg = epsilon
      def shardHits(g: VamanaGraph): Iterator[(Long, Long, Double)] =
        bq.value.iterator.flatMap { case (qid, q, r) =>
          val eps = if (g.quantized && rerank) epsArg else 0.0
          val hits = g.rangeBeam(q, r, efArg, eps)
          require(hits.length <= perQueryBudget,
            s"sharded range pool budget exceeded: query $qid matched " +
            s"${hits.length} candidates in one shard > $perQueryBudget " +
            "(graft.ann.batch.maxPoolTuples / batch size) — shrink the " +
            "radius, split the batch, or raise the conf")
          hits.iterator.map { case (i, d) => (qid, g.ids(i), d) }
        }
      rerankTable match {
        case None =>
          // scores exact on bits=0 shards (estimates only under the
          // opt-in) and already strictly inside each radius; shard
          // disjointness means no cross-shard duplicate ids
          graphs.flatMap { case (_, g) => shardHits(g) }
            .toDF("qid", "id", "dist")
        case Some((src, idCol, vecCol)) =>
          val cand = graphs.flatMap { case (_, g) =>
            shardHits(g).map { case (qid, id, _) => (qid, id) }
          }.toDF("qid", "id").distinct()
          val qDf = queries.toSeq.toDF("qid", "qvec", "radius")
          import graft.functions.{GraftFunctions => GF}
          val kern: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
            metric match {
              case "l2"      => GF.vecL2
              case "negdot"  => GF.vecNegdot
              case "cosdist" => GF.vecCosdist
            }
          cand
            .join(src.select(col(idCol).cast("long").as("id"),
              col(vecCol).cast("array<float>").as("__v")), Seq("id"))
            .join(broadcast(qDf), Seq("qid"))
            .select(col("qid"), col("id"),
              kern(col("__v"), col("qvec")).as("dist"), col("radius"))
            .filter(col("dist") < col("radius"))
            .select("qid", "id", "dist")
      }
    }

    /** Route new rows to their hash shard and run the live-graph insert
      * inside each task (vchordg aminsert per shard). Returns a NEW
      * handle; persist survives on the new RDD, the old one is released. */
    def insertAll(spark: SparkSession, rows: Array[(Long, Array[Float])]): Handle = {
      val byShard = rows.groupBy { case (id, _) => shardOf(id, shards) }
      val bNew = spark.sparkContext.broadcast(byShard)
      // a batch may route to a shard with NO resident graph (hash gap at
      // build, or a vacuum emptied it) — those inserts must seed a fresh
      // shard graph, not vanish in the map over existing keys
      val existing = graphs.keys.collect().toSet
      val updated = graphs.map { case (shard, g) =>
        bNew.value.get(shard) match {
          case Some(batch) => (shard, g.insertAll(batch))
          case None        => (shard, g)
        }
      }
      val fresh = (byShard.keySet -- existing).toSeq.sorted.map { s =>
        val batch = byShard(s).sortBy(_._1)
        (s, VamanaGraph.build(batch.map(_._1), batch.map(_._2), cfg))
      }
      val next = (if (fresh.isEmpty) updated
                  else updated.union(
                    spark.sparkContext.parallelize(fresh, fresh.size)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      graphs.unpersist()
      // unattested: rows the caller dropped from the raw batch (nulls)
      // are invisible here — only a fresh build/load can re-attest
      new Handle(next, cfg, shards)
    }

    /** In-place relink vacuum per shard (vchordg maintain.rs shape via
      * VamanaGraph.vacuum). Returns a NEW handle. */
    def vacuum(spark: SparkSession, dead: Set[Long]): Handle = {
      val bDead = spark.sparkContext.broadcast(dead)
      val next = graphs.flatMap { case (shard, g) =>
        val local = g.ids.filter(bDead.value.contains).toSet
        if (local.isEmpty) Iterator.single((shard, g))
        else if (local.size == g.ids.length) Iterator.empty // shard fully dead
        else Iterator.single((shard, VamanaGraph.vacuum(g, local)))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      graphs.unpersist()
      new Handle(next, cfg, shards, sourceComplete)
    }

    /** Persist the current shard graphs to `dir` (post-insert /
      * post-vacuum snapshot), same layout as build() — works for the
      * original dir or a fresh one (meta is written either way). */
    def save(spark: SparkSession, dir: String): Unit = {
      val quant = cfg.bits > 0
      val rows = graphs.mapPartitions { it =>
        it.flatMap { case (shard, g) =>
          val medoidId = g.ids(g.medoid)
          g.ids.indices.iterator.map { i =>
            Row(shard, g.ids(i),
              if (quant) null else g.vecs(i).toSeq,
              if (quant) g.codes(i).meta.toSeq else null,
              if (quant) g.codes(i).codes else null,
              g.adj(i).map(g.ids).toSeq, medoidId,
              if (quant) g.codes(i).dim else g.vecs(i).length)
          }
        }
      }
      // stage then swap: the source of this write is the RESIDENT RDD,
      // not the parquet being overwritten, so a direct overwrite would
      // also be safe — staging keeps a readable copy through the write
      spark.createDataFrame(rows, vertexSchema)
        .write.mode("overwrite").parquet(s"$dir/graph-next")
      spark.read.schema(vertexSchema).parquet(s"$dir/graph-next")
        .write.mode("overwrite").parquet(s"$dir/graph")
      writeMeta(dir, cfg, shards, sourceComplete)
      // drop the staging dir so repeated snapshots don't accumulate
      val stage = new java.io.File(s"$dir/graph-next")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stage)
    }

    def unpersist(): Unit = { graphs.unpersist(); () }
  }

  def load(spark: SparkSession, dir: String): Handle = {
    val p = new java.util.Properties()
    val r = java.nio.file.Files.newBufferedReader(
      java.nio.file.Paths.get(dir, "meta.properties"))
    try p.load(r) finally r.close()
    val cfg = VamanaConfig(
      m = p.getProperty("m").toInt,
      efConstruction = p.getProperty("ef_construction").toInt,
      efSearch = p.getProperty("ef_search").toInt,
      alphas = p.getProperty("alphas").split(",").map(_.toDouble).toSeq,
      metric = p.getProperty("metric"),
      bits = p.getProperty("bits").toInt)
    val shards = p.getProperty("shards").toInt
    val quant = cfg.bits > 0
    // explicit schema: a fileless graph dir (built over a table with no
    // non-null vectors, issue_427 lifecycle) loads as zero shards
    val graphs = spark.read.schema(vertexSchema).parquet(s"$dir/graph")
      .select("shard", "id", "vec", "cmeta", "codes", "neighbors", "medoid_id", "dim")
      .rdd
      .map(r => (r.getInt(0), r))
      .partitionBy(new org.apache.spark.HashPartitioner(shards))
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.map { case (shard, rs) =>
          val sorted = rs.map(_._2).sortBy(_.getLong(1))
          val ids = sorted.map(_.getLong(1))
          val medoidId = sorted(0).getLong(6)
          val adj = sorted.map { r =>
            r.getSeq[Long](5).map(nid => java.util.Arrays.binarySearch(ids, nid))
              .filter(_ >= 0).toArray
          }
          val medoid = java.util.Arrays.binarySearch(ids, medoidId)
          val g =
            if (quant) {
              val codes = sorted.map { r =>
                val cb = r.getAs[Array[Byte]](4)
                val cm = r.getSeq[Float](3)
                // dim is persisted per vertex; legacy dirs (null column)
                // fall back to recovery — exact for bits=1 (cmeta lattice
                // norm = sqrt(dim)), byte-length-derived otherwise, which
                // is exact only when the bit width divides the dim
                val dim =
                  if (!r.isNullAt(7)) r.getInt(7)
                  else if (cfg.bits == 1)
                    math.round(cm(1).toDouble * cm(1).toDouble).toInt
                  else if (cfg.bits == 8) cb.length
                  else if (cfg.bits == 4) cb.length * 2
                  else cb.length * 4
                RaBitQ.Code(cm.toArray, cb, cfg.bits, dim)
              }
              new VamanaGraph(ids, Array.empty, adj, medoid, cfg, codes)
            } else {
              val vecs = sorted.map(_.getSeq[Float](2).toArray)
              new VamanaGraph(ids, vecs, adj, medoid, cfg)
            }
          (shard, g)
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    graphs.count() // materialize: load IS the prewarm
    new Handle(graphs, cfg, shards,
      // pre-round-17 metas never measured completeness -> false
      Option(p.getProperty("source_complete")).exists(_.toBoolean))
  }
}
