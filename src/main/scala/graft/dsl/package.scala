package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, typedlit}

import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import graft.ops.{Dedup, Knn, MaxSim}

/**
 * User-facing DSL — the library entry points a reference user would reach
 * for (SURVEY.md §7.1 item 8: `ann.topK`, `ann.range`, `ann.maxsim`,
 * `knnJoin`, index build):
 *
 * {{{
 *   import graft.dsl._
 *   df.annTopK("embedding", q, k = 10)                    // ORDER BY <-> LIMIT k
 *   df.annRange("embedding", center, radius = 1.5)        // WHERE <<->> sphere
 *   df.knnJoin("id", "embedding", queries, k = 5)         // batch KNN
 *   tokens.annMaxsim("doc", "vec", queryTokens, k = 18)   // ORDER BY @# LIMIT k
 *   df.buildIvfIndex("id", "embedding", dir)              // CREATE INDEX
 *   df.nearDupPairs("id", "text", threshold = 0.8)        // MinHash-LSH dedup
 * }}}
 */
package object dsl {

  implicit final class GraftDataFrameOps(private val df: DataFrame) {

    /** `SELECT .. ORDER BY vec <metric> q LIMIT k` — exact top-k. */
    def annTopK(vecCol: String, q: Array[Float], k: Int,
                metric: String = "l2", idCol: String = "id"): DataFrame =
      Knn.topK(df, idCol, vecCol, q, k, metric)

    /** `WHERE vec <<metric>> sphere(center, radius)` — strict-< range filter. */
    def annRange(vecCol: String, center: Array[Float], radius: Double,
                 metric: String = "l2"): DataFrame = {
      val sph = GraftFunctions.sphere(typedlit(center.toSeq), lit(radius))
      df.filter(GraftFunctions.sphereContains(col(vecCol), sph, metric))
    }

    /** Batch KNN: k nearest rows for every (qid, qvec). */
    def knnJoin(idCol: String, vecCol: String, queries: Array[(Long, Array[Float])],
                k: Int, metric: String = "l2", excludeSelf: Boolean = false): DataFrame =
      Knn.knnJoin(df, idCol, vecCol, queries, k, metric, excludeSelf)

    /** `ORDER BY multivec @# query LIMIT k` over exploded token rows. */
    def annMaxsim(docCol: String, vecCol: String, query: Array[Array[Float]],
                  k: Int): DataFrame =
      MaxSim.topK(df, docCol, vecCol, query, k)

    /** `CREATE INDEX ... USING vchordrq` analog: build an IVF index. */
    def buildIvfIndex(idCol: String, vecCol: String, dir: String,
                      cfg: IvfConfig = IvfConfig()): IvfIndex =
      IvfIndex.build(df, idCol, vecCol, dir, cfg)

    /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification. */
    def nearDupPairs(idCol: String, textCol: String, threshold: Double): DataFrame =
      Dedup.minhashDedup(df, idCol, textCol, threshold)

    /** Real image decode: per-row raster stats from a binary blob column. */
    def imageStats(idCol: String, blobCol: String): DataFrame =
      graft.ops.Multimodal.imageStats(df, idCol, blobCol)

    /** Real audio decode: per-clip sample stats from a binary blob column. */
    def audioStats(idCol: String, blobCol: String): DataFrame =
      graft.ops.Multimodal.audioStats(df, idCol, blobCol)

    /** Frame sampling: every `everyN`-th decoded frame. Default decoder is
      * the JDK-pure MJPEG parser; plug a [[graft.ops.Multimodal.FrameDecoder]]
      * for containers needing an external codec (H.264/MP4). */
    def sampleFrames(idCol: String, blobCol: String, everyN: Int = 10,
                     maxFrames: Int = 8,
                     decoder: graft.ops.Multimodal.FrameDecoder =
                       graft.ops.Multimodal.MjpegDecoder): DataFrame =
      graft.ops.Multimodal.sampleFrames(df, idCol, blobCol, everyN, maxFrames, decoder)

    /** Media feature vectors (decoded-pixel stats, hash fallback). */
    def mediaFeatures(idCol: String, blobCol: String, dim: Int = 64): DataFrame =
      graft.ops.Multimodal.extractFeatures(df, idCol, blobCol, dim)

    /** Build a vchordg-style Vamana graph index. */
    def buildGraphIndex(idCol: String, vecCol: String,
                        cfg: graft.index.VamanaConfig = graft.index.VamanaConfig())
        : graft.index.VamanaGraph =
      graft.index.VamanaGraph.build(df, idCol, vecCol, cfg)

    /** Build the DISTRIBUTED sharded graph tier (no driver-size cap) and
      * return the resident handle. */
    def buildShardedGraph(idCol: String, vecCol: String, dir: String,
                          cfg: graft.index.VamanaConfig = graft.index.VamanaConfig(),
                          shards: Int = 32): graft.index.ShardedVamana.Handle = {
      graft.index.ShardedVamana.build(df, idCol, vecCol, dir, cfg, shards)
      graft.index.ShardedVamana.load(df.sparkSession, dir)
    }

    /** Drop non-canonical duplicates given near-dup pairs (keep each
      * cluster's min id) — the cleaned-table step of a dedup pipeline. */
    def dedupeBy(idCol: String, pairs: DataFrame): DataFrame =
      Dedup.dedupe(df, idCol, pairs)

    /** End-to-end dedup pipeline: pairs computed ONCE (persisted), then
      * component labels and the cleaned table ride the shared set. */
    def dedupPipeline(idCol: String,
                      mkPairs: DataFrame => DataFrame): Dedup.Pipeline =
      Dedup.pipeline(df, idCol, mkPairs)

    /** EXACT SUBSTRING dedup: remove tokens covered by any k-token span
      * occurring >= minCount times corpus-wide (Lee et al. 2022). */
    def dedupSubstrings(idCol: String, textCol: String,
                        k: Int = 8, minCount: Int = 2): DataFrame =
      graft.ops.Curation.substringDedup(df, idCol, textCol, k, minCount)

    /** PII scrub: adds `<redactedCol>` and `<countCol>` from the staged
      * email/IPv4/phone redaction of `textCol`. */
    def redactPii(textCol: String, redactedCol: String = "text_redacted",
                  countCol: String = "n_pii"): DataFrame = {
      val (red, n) = graft.ops.Curation.redactPii(df(textCol))
      df.withColumn(redactedCol, red).withColumn(countCol, n)
    }

    /** C4-style line cleaning of `textCol` into `<cleanedCol>` (+ kept /
      * total line counts). */
    def cleanLines(textCol: String, minWords: Int = 3,
                   cleanedCol: String = "text_clean"): DataFrame = {
      val (cleaned, kept, total) = graft.ops.Curation.cleanLines(df(textCol), minWords)
      df.withColumn(cleanedCol, cleaned)
        .withColumn("n_lines_kept", kept).withColumn("n_lines_total", total)
    }

    /** Domain diversification: keep at most `n` rows per key (skew-safe
      * two-stage top-n, no hot-key window reducer). */
    def capPerKey(keyCol: String, orderCol: String, n: Int): DataFrame =
      graft.ops.Curation.capPerKey(df, keyCol, orderCol, n)

    /** Corpus-wide exact line dedup: duplicate lines keep only their
      * first (doc, pos) occurrence (the C4/RefinedWeb line rule). */
    def dedupLines(idCol: String, textCol: String): DataFrame =
      graft.ops.Curation.dedupLinesCorpus(df, idCol, textCol)

    /** Linear bag-of-words quality scoring against a (term, weight)
      * vocabulary table — the fastText-classifier shape. */
    def scoreQuality(idCol: String, textCol: String, weights: DataFrame,
                     bias: Double = 0.0): DataFrame =
      graft.ops.Curation.scoreWithModel(df, idCol, textCol, weights, bias = bias)

    /** Deterministic sequence packing: greedy token-budget bins inside
      * hash buckets — same corpus, same packs, on any run or engine. */
    def packSequences(idCol: String, nTokensCol: String, budget: Long,
                      buckets: Int): DataFrame =
      graft.ops.Curation.packSequences(df, idCol, nTokensCol, budget, buckets)
  }

  implicit final class GraftIvfIndexOps(private val idx: IvfIndex) {
    /** Batch ANN: every (qid, qvec) answered in two Spark jobs total. */
    def annBatch(queries: Array[(Long, Array[Float])], k: Int,
                 probes: Int = 4, refine: Int = 8): DataFrame =
      idx.searchMany(queries, k, probes = probes, refine = refine)

    /** Index-served sphere range (opclass strategy 2): cell-pruned codes
      * scan + exact strict-< cutoff — the batched range fold with one
      * sphere. Output (id, dist) ascending (dist, id). */
    def annRange(center: Array[Float], radius: Double): DataFrame =
      idx.rangeSearch(center, radius)

    /** Batch sphere range: M (qid, center, radius) spheres through the
      * batched range fold over this one index — a constant number of
      * jobs at any M. Output (qid, id, dist) ascending (qid, dist, id). */
    def annRangeBatch(queries: Array[(Long, Array[Float], Double)]): DataFrame =
      IvfIndex.rangeSearchManyMulti(Seq(idx), queries)
  }
}
