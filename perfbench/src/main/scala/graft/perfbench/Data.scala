package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Seeded inputs. Every row is a pure function of (seed, stream, id), so
 * executors generate the corpus in parallel and the driver regenerates any
 * row it needs for an answer check, with no collect.
 */
object Data {

  /** SplitMix64 finalizer: decorrelates (seed, stream, id) triples. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  // streams: one per kind of input, so adding one never shifts another
  val Centres = 1L
  val CorpusRows = 2L
  val QueryRows = 3L
  val Docs = 4L
  val Picks = 5L

  /** Gaussian mixture around `nCentres` seeded centres. */
  final case class VecSpace(seed: Long, dim: Int, nCentres: Int, sigma: Double) {
    val centres: Array[Array[Float]] = {
      val r = rng(seed, Centres, 0)
      Array.fill(nCentres)(Array.fill(dim)(r.nextGaussian().toFloat))
    }

    private def draw(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(nCentres))
      Array.tabulate(dim)(j => (c(j) + sigma * r.nextGaussian()).toFloat)
    }

    /** Corpus row `id`. */
    def row(id: Long): Array[Float] = draw(rng(seed, CorpusRows, id))

    /** Query `qid`: the same distribution, an independent stream. */
    def query(qid: Long): Array[Float] = draw(rng(seed, QueryRows, qid))

    /** Ids [from, until) as an (id, vec) frame, generated on executors. */
    def frame(spark: SparkSession, from: Long, until: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.range(from, until, 1, parts).as[Long]
        .map(id => (id, self.row(id))).toDF("id", "vec")
    }
  }

  /**
   * Documents of ~`words` words over a `vocab`-word vocabulary, with
   * planted near-duplicate groups and decoys. A group is a base document
   * and 1-3 copies; copy j of group g has `dupEdits((g + j) % n)` words
   * replaced. A decoy is a base document and one copy with `decoyEdits`
   * words replaced: similar, but not a duplicate. Replaced words sit at
   * least 3 apart, so with word 3-gram shingles each edit changes exactly 3
   * shingles, and a copy's Jaccard with its base is (S - 3e) / (S + 3e) for
   * S = words - 2 shingles and e edits.
   */
  final case class DocSpace(seed: Long, nDocs: Int, nGroups: Int, nDecoys: Int, words: Int,
                            vocab: Int, dupEdits: Seq[Int], decoyEdits: Int) {
    require(4L * nGroups + 2L * nDecoys <= nDocs,
      "planted groups (up to 4 documents each) and decoys exceed the corpus")
    require(words >= 3 * decoyEdits.max(dupEdits.max) + 12, "too many edits for the document length")

    /** Planted groups, member 0 the base document, then decoy pairs. Ids
      * are drawn without replacement, so no document is in two of them. */
    val (groups, decoys) = {
      val r = rng(seed, Picks, 0)
      val ids = Array.tabulate(nDocs)(_.toLong)
      var next = 0
      def take(): Long = { // partial Fisher-Yates
        val j = next + r.nextInt(nDocs - next)
        val t = ids(j); ids(j) = ids(next); ids(next) = t
        next += 1
        t
      }
      (Array.fill(nGroups)(Array.fill(2 + r.nextInt(3))(take())),
        Array.fill(nDecoys)((take(), take())))
    }

    /** Edited copies: id -> (base id, words replaced). */
    private val copyOf: Map[Long, (Long, Int)] =
      groups.zipWithIndex.flatMap { case (g, gi) =>
        g.tail.zipWithIndex.map { case (id, j) => id -> ((g.head, dupEdits((gi + j) % dupEdits.length))) }
      }.toMap ++ decoys.map { case (b, d) => d -> ((b, decoyEdits)) }

    private def word(i: Int): String = "w" + Integer.toString(i, 36)

    private def fresh(id: Long): Array[String] = {
      val r = rng(seed, Docs, id)
      Array.fill(words - 5 + r.nextInt(11))(word(r.nextInt(vocab)))
    }

    def text(id: Long): String = copyOf.get(id) match {
      case None => fresh(id).mkString(" ")
      case Some((b, edits)) =>
        val ws = fresh(b)
        val r = rng(seed, Docs, -1 - id)
        // positions 3, 6, 9, ...: each inside all three shingles that cover it
        val slots = Array.range(1, (ws.length - 3) / 3 + 1)
        for (n <- 0 until edits) { // partial Fisher-Yates over the slots
          val j = n + r.nextInt(slots.length - n)
          val s = slots(j); slots(j) = slots(n); slots(n) = s
          val pos = 3 * s
          val old = ws(pos)
          while (ws(pos) == old) ws(pos) = word(r.nextInt(vocab))
        }
        ws.mkString(" ")
    }

    def frame(spark: SparkSession, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.range(0, nDocs, 1, parts).as[Long]
        .map(id => (id, self.text(id))).toDF("id", "text")
    }

    /** Unordered planted duplicate pairs (a < b). */
    def plantedPairs: Set[(Long, Long)] =
      groups.iterator.flatMap { g =>
        for { i <- g.indices.iterator; j <- (i + 1 until g.length).iterator }
          yield (math.min(g(i), g(j)), math.max(g(i), g(j)))
      }.toSet
  }
}
