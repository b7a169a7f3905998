package graft.plans

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex, TopKReplay}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Seeded CONFIG-AXIS FUZZ over the KNN-join serve: random (query-count,
 * k, metric, table-form) combinations, every trial executed with the rule
 * active and compared row-for-row against a driver-side brute force.
 * Probes cover every cell, refine is generous, and the cost model is off,
 * so every valid shape serves in the exact regime — a row mismatch is a
 * planner bug, not ANN slack — and the serve assert catches a silent
 * decline regression on any axis combination.
 */
class KnnJoinFuzzSpec extends SparkSpec {

  private val dim = 8
  private val n = 300

  /** (metric -> flat tableDir), plus a two-root partitioned l2 corpus. */
  private lazy val fixture: (Map[String, String], String) = {
    import spark.implicits._
    val rng = new scala.util.Random(2027)
    val rows = (0L until n.toLong).map(i => (i, Seq.fill(dim)(rng.nextFloat() * 2 - 1)))
    val flat = Seq("l2", "cosdist", "negdot").map { m =>
      val dir = Files.createTempDirectory(s"graft-kjf-$m").toString
      rows.toDF("id", "vec").write.mode("overwrite").parquet(dir)
      val idir = Files.createTempDirectory(s"graft-kjf-$m-idx").toString
      IvfIndex.build(spark.read.parquet(dir), "id", "vec", idir,
        IvfConfig(lists = 4, metric = m))
      AnnCatalog.register(dir, idir, "id", "vec")
      m -> dir
    }.toMap
    val part = Files.createTempDirectory("graft-kjf-part").toString
    spark.read.parquet(flat("l2"))
      .withColumn("pt", (col("id") % 2).cast("int"))
      .write.partitionBy("pt").mode("overwrite").parquet(part)
    (0 to 1).foreach { p =>
      val idir = Files.createTempDirectory(s"graft-kjf-pidx$p").toString
      IvfIndex.build(spark.read.parquet(s"$part/pt=$p"), "id", "vec", idir,
        IvfConfig(lists = 4))
      AnnCatalog.register(s"$part/pt=$p", idir, "id", "vec")
    }
    (flat, part)
  }

  private lazy val allRows: Array[(Long, Array[Float])] = {
    import spark.implicits._
    spark.read.parquet(fixture._1("l2")).select("id", "vec")
      .as[(Long, Seq[Float])].collect().map { case (i, v) => (i, v.toArray) }
  }

  /** NULL axis corpus: the l2 rows plus three NULL-vector rows (ids
    * 300..302). The index build skips them, but the exact windowed plan
    * ranks them 1..3 in EVERY query partition (ASC NULLS FIRST, id
    * tiebreak) — the served restriction must keep them (round-17
    * null-ordering fix). */
  private lazy val nullDir: String = {
    import spark.implicits._
    val rows: Seq[(Long, Option[Seq[Float]])] =
      allRows.toSeq.map { case (i, v) => (i, Option(v.toSeq)) } ++
        (n.toLong until n.toLong + 3).map(i => (i, Option.empty[Seq[Float]]))
    val dir = Files.createTempDirectory("graft-kjf-nulls").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(dir)
    val idir = Files.createTempDirectory("graft-kjf-nulls-idx").toString
    IvfIndex.build(spark.read.parquet(dir), "id", "vec", idir,
      IvfConfig(lists = 4))
    AnnCatalog.register(dir, idir, "id", "vec")
    dir
  }
  private val nullIds = Seq(300L, 301L, 302L)

  test("30 seeded (queries x k x metric x form) trials: served rows == brute force") {
    val (flat, part) = fixture
    val rng = new scala.util.Random(555)
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark,
        "graft.ann.probes" -> "4", "graft.ann.refine" -> "40",
        "graft.ann.cost.enable" -> "false") {
      import spark.implicits._
      (1 to 30).foreach { trial =>
        val metric = Seq("l2", "cosdist", "negdot")(rng.nextInt(3))
        val partitioned = metric == "l2" && rng.nextBoolean()
        // NULL axis: ~1/3 of flat l2 trials run over the null-bearing
        // corpus — its three NULL-vector rows must surface at ranks 1..3
        // of every query partition, through slicing and prefilters alike
        val withNulls = metric == "l2" && !partitioned && rng.nextInt(3) == 0
        val dir = if (withNulls) nullDir else if (partitioned) part else flat(metric)
        val m = 1 + rng.nextInt(6)
        val k = 1 + rng.nextInt(12)
        // SLICE-BOUNDARY axis (round 16): a per-trial maxQueries cap of 2
        // or 4 makes m straddle the slice size — the sliced candidate
        // fetch must union to the same exact rows as one big batch
        val sliceCap = Seq("2", "4", "256")(rng.nextInt(3))
        // PREFILTER axis (round 15): ~1/3 of trials filter the indexed
        // side (id % pm == pr) — the serve escalates; refine is raised so
        // the pools provably cover the table and the outcome stays a
        // deterministic brute-force equality (multi-round partial-pool
        // escalation is spec'd separately)
        val pred: Option[(Long, Long)] =
          if (rng.nextInt(3) == 0) Some((2L + rng.nextInt(4), rng.nextInt(2).toLong))
          else None
        // RESIDUAL axis: about half of the prefiltered trials add a
        // conjunct over vec (element_at(vec, j) > x), which stays residual
        // beside the key-only one; at this axis's full coverage the first
        // pool round serves and the plan's own Filter applies it. It drops
        // NULL-vector rows, as the exact plan's Filter does
        val residual: Option[(Int, Float)] =
          if (pred.isDefined && rng.nextBoolean())
            Some((1 + rng.nextInt(dim), rng.nextFloat() - 0.5f))
          else None
        val qs = (0 until m).map { i =>
          // half data rows (self-match exercises dist=0 ties), half random
          val v = if (rng.nextBoolean()) allRows(rng.nextInt(n))._2
                  else Array.fill(dim)(rng.nextFloat() * 2 - 1)
          (i.toLong, v)
        }
        val distFn = metric match {
          case "l2"      => GraftFunctions.vecL2 _
          case "cosdist" => GraftFunctions.vecCosdist _
          case "negdot"  => GraftFunctions.vecNegdot _
        }
        val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(distFn(col("vec"), col("center")), col("id"))
        val e0 = spark.read.parquet(dir)
        val e = pred.map { case (pm, pr) =>
          e0.filter(residual.foldLeft(col("id") % pm === pr) { case (p, (j, x)) =>
            p && element_at(col("vec"), j) > x })
        }.getOrElse(e0)
        def build() = {
          graft.core.Confs.withConfs(spark,
              "graft.ann.knn.join.maxQueries" -> sliceCap) {
            val df = qdf.crossJoin(e)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") <= k)
              .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
            // force planning inside the conf scope (the serve runs in the
            // optimizer; collect() outside would re-plan with defaults)
            df.queryExecution.optimizedPlan
            df
          }
        }
        val got = (pred match {
          case Some(_) => graft.core.Confs.withConfs(spark,
              "graft.ann.refine" -> "400") {
            val df = build()
            assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              s"trial $trial (m=$m k=$k metric=$metric part=$partitioned " +
              s"pred=$pred residual=$residual) was not served:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
          case None =>
            val df = build()
            assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              s"trial $trial (m=$m k=$k metric=$metric part=$partitioned) " +
              s"was not served:\n${df.queryExecution.optimizedPlan}")
            df.collect()
        }).map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(t => (t._1, t._3))
        val fn = graft.ops.Knn.metricFn(metric)
        val rows = pred.map { case (pm, pr) =>
          allRows.filter(r => r._1 % pm == pr && residual.forall { case (j, x) => r._2(j - 1) > x })
        }.getOrElse(allRows)
        // null-dist rows rank first in every partition (NULLS FIRST),
        // ordered among themselves by the window's id tiebreak
        val nulls: Seq[Long] =
          if (!withNulls || residual.isDefined) Seq.empty
          else pred.map { case (pm, pr) => nullIds.filter(_ % pm == pr) }
            .getOrElse(nullIds)
        val want = qs.flatMap { case (qid, q) =>
          val top = nulls.take(k).zipWithIndex
            .map { case (id, i) => (qid, id, (i + 1).toLong) }
          val rest = rows.map { case (id, v) => (fn(v, q), id) }.sorted
            .take(math.max(0, k - top.length)).zipWithIndex
            .map { case ((_, id), i) => (qid, id, (top.length + i + 1).toLong) }
          top ++ rest
        }
        assert(got == want,
          s"trial $trial (m=$m k=$k metric=$metric part=$partitioned " +
          s"pred=$pred residual=$residual nulls=$withNulls) mismatch")
      }
    } finally uninstall()
  }

  /** The planner's IVF prefilter escalation for one KNN join, replayed
    * on the driver ([[TopKReplay.pool]] per (root, query)): the distinct
    * centers slice by `sliceCap`, and each slice pools the top k*r of the
    * probed rows `keyOnly` passes, then probes and refine widen x4 while
    * a query not covered on every root (all cells probed and k*r reaching
    * the root's rows, or its pool short of k*r) holds fewer than k rows
    * passing the whole prefilter (`passes`), or would expect fewer than k
    * in an unfiltered k*r pool at the round's key-only pass rate over the
    * probed rows. Returns the union of every slice's last pools: the ids
    * the served join restricts its indexed side to. */
  private def escalationReplay(roots: Seq[(IvfIndex, Seq[TopKReplay.Row])],
      centers: Seq[Array[Float]], k: Int, probes: Int, refine: Int, sliceCap: Int,
      keyOnly: Long => Boolean, passes: Long => Boolean): Set[Long] =
    centers.map(_.toSeq).distinct.map(_.toArray).grouped(sliceCap).flatMap { slice =>
      var scale = 1
      var r = refine
      def round(): (Seq[Seq[Int]], Seq[Set[Long]], Long, Long) = {
        val byRoot = roots.map { case (ix, rows) =>
          val p = math.min(ix.meta.cfg.lists, probes * scale)
          val probed = slice.flatMap(q => ix.probe(q, p)).toSet
          val asked = rows.filter(row => probed.contains(row.cid))
          (slice.map(q => TopKReplay.pool(ix, rows, q, p, k * r, idPred = keyOnly).map(_._2)),
            asked.length.toLong, asked.count(row => keyOnly(row.id)).toLong)
        }
        (byRoot.map(_._1.map(_.length)),
          slice.indices.map(qi => byRoot.flatMap(_._1(qi)).toSet),
          byRoot.map(_._2).sum, byRoot.map(_._3).sum)
      }
      def short(rd: (Seq[Seq[Int]], Seq[Set[Long]], Long, Long)): Boolean = {
        val (pooled, byQ, asked, passed) = rd
        slice.indices.exists { qi =>
          val covered = roots.zipWithIndex.forall { case ((ix, rows), ri) =>
            probes * scale >= ix.meta.cfg.lists &&
              (k.toLong * r >= rows.length || pooled(ri)(qi) < k.toLong * r)
          }
          val surv = byQ(qi).count(passes).toLong
          !covered &&
            (surv < k || passed.toDouble * surv * r < asked.toDouble * byQ(qi).size)
        }
      }
      var rd = round()
      while (short(rd)) {
        scale *= 4
        r *= 4
        rd = round()
      }
      rd._2.flatten
    }.toSet

  test("12 seeded prefiltered trials below full coverage: served rows == " +
       "the exact top-k of a replayed escalation's pools") {
    val (flat, part) = fixture
    val rng = new scala.util.Random(919)
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark,
        "graft.ann.probes" -> "1", "graft.ann.refine" -> "2",
        "graft.ann.cost.enable" -> "false") {
      import spark.implicits._
      (1 to 12).foreach { trial =>
        val metric = Seq("l2", "cosdist", "negdot")(rng.nextInt(3))
        val partitioned = metric == "l2" && rng.nextBoolean()
        val dirs =
          if (partitioned) Seq(s"$part/pt=0", s"$part/pt=1") else Seq(flat(metric))
        val roots = dirs.map { d =>
          val ix = AnnCatalog.index(spark, AnnCatalog.lookup(Seq(d)).get)
          (ix, TopKReplay.rowsOf(ix))
        }
        val m = 1 + rng.nextInt(5)
        val k = 1 + rng.nextInt(8)
        val sliceCap = Seq(2, 256)(rng.nextInt(2))
        val (pm, pr) = (2L + rng.nextInt(4), rng.nextInt(2).toLong)
        val residual: Option[(Int, Float)] =
          if (rng.nextBoolean()) Some((1 + rng.nextInt(dim), rng.nextFloat() - 0.5f))
          else None
        val qs = (0 until m).map { i =>
          val v = if (rng.nextBoolean()) allRows(rng.nextInt(n))._2
                  else Array.fill(dim)(rng.nextFloat() * 2 - 1)
          (i.toLong, v)
        }
        val distFn = metric match {
          case "l2"      => GraftFunctions.vecL2 _
          case "cosdist" => GraftFunctions.vecCosdist _
          case "negdot"  => GraftFunctions.vecNegdot _
        }
        val qdf = qs.map { case (qid, q) => (qid, q.toSeq) }.toDF("qid", "center")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(distFn(col("vec"), col("center")), col("id"))
        val e = spark.read.parquet(if (partitioned) part else flat(metric))
          .filter(residual.foldLeft(col("id") % pm === pr) { case (p, (j, x)) =>
            p && element_at(col("vec"), j) > x })
        val clue = s"trial $trial (m=$m k=$k metric=$metric part=$partitioned " +
          s"slice=$sliceCap pred=id % $pm = $pr residual=$residual)"
        val got = graft.core.Confs.withConfs(spark,
            "graft.ann.knn.join.maxQueries" -> sliceCap.toString) {
          val df = qdf.crossJoin(e)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .select(col("qid"), col("id"), col("rn").cast("long").as("rn"))
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"$clue was not served:\n${df.queryExecution.optimizedPlan}")
          df.collect()
        }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(t => (t._1, t._3))
        val keyOnly = (id: Long) => id % pm == pr
        val passing = allRows.filter { case (id, v) =>
          keyOnly(id) && residual.forall { case (j, x) => v(j - 1) > x }
        }
        val passIds = passing.map(_._1).toSet
        val pooled = escalationReplay(roots, qs.map(_._2), k, 1, 2, sliceCap,
          keyOnly, passIds.contains)
        val fn = graft.ops.Knn.metricFn(metric)
        val want = qs.flatMap { case (qid, q) =>
          passing.filter(t => pooled.contains(t._1)).map { case (id, v) => (fn(v, q), id) }
            .sorted.take(k).zipWithIndex
            .map { case ((_, id), i) => (qid, id, (i + 1).toLong) }
        }
        assert(got == want, s"$clue mismatch: got $got want $want")
      }
    } finally uninstall()
  }

  /** Multivector corpus for the MAXSIM-join axis: 40 docs x 1-4 tokens
    * (ragged — the asymmetric kernel must handle unequal token counts),
    * token index registered. */
  private lazy val msFixture: (String, Array[(Long, Seq[Array[Float]])]) = {
    import spark.implicits._
    val rng = new scala.util.Random(2029)
    val docs = (0L until 40L).map { d =>
      d -> Seq.fill(1 + rng.nextInt(4))(
        Seq.fill(dim)(rng.nextFloat() * 2 - 1))
    }
    val dir = Files.createTempDirectory("graft-kjf-ms").toString
    docs.toDF("doc", "tokens").write.mode("overwrite").parquet(dir)
    val toks = docs.flatMap { case (d, ts) =>
      ts.zipWithIndex.map { case (t, p) => (d, p, t) }
    }.toDF("doc", "pos", "v")
    val idir = Files.createTempDirectory("graft-kjf-ms-idx").toString
    graft.ops.MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idir,
      IvfConfig(metric = "negdot", lists = 4))
    AnnCatalog.registerMaxSim(dir, idir, "doc", "tokens")
    (dir, docs.map { case (d, ts) => (d, ts.map(_.toArray)) }.toArray)
  }

  test("15 seeded maxsim-join trials (queries x k x slice): served rows == brute") {
    import spark.implicits._
    val (dir, docs) = msFixture
    val rng = new scala.util.Random(777)
    val uninstall = AnnTopKRewrite.install(spark)
    try graft.core.Confs.withConfs(spark,
        "graft.ann.probes" -> "4", "graft.ann.refine" -> "8",
        "graft.ann.maxsim.kPerToken" -> "256",
        "graft.ann.cost.enable" -> "false") {
      (1 to 15).foreach { trial =>
        val m = 1 + rng.nextInt(5)
        val k = 1 + rng.nextInt(8)
        val sliceCap = Seq("2", "3", "256")(rng.nextInt(3))
        val qs = (0 until m).map { i =>
          (i.toLong, Seq.fill(1 + rng.nextInt(3))(
            Array.fill(dim)(rng.nextFloat() * 2 - 1)))
        }
        val qdf = qs.map { case (qid, ts) => (qid, ts.map(_.toSeq)) }
          .toDF("qid", "qtokens")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(GraftFunctions.vecMaxsim(col("tokens"), col("qtokens")),
            col("doc"))
        val got = graft.core.Confs.withConfs(spark,
            "graft.ann.knn.join.maxQueries" -> sliceCap) {
          val df = qdf.crossJoin(spark.read.parquet(dir))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .select(col("qid"), col("doc"), col("rn").cast("long").as("rn"))
          assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
            s"maxsim trial $trial (m=$m k=$k slice=$sliceCap) not served:\n" +
            df.queryExecution.optimizedPlan)
          df.collect()
        }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(t => (t._1, t._3))
        val want = qs.flatMap { case (qid, qts) =>
          docs.map { case (d, ts) =>
            (qts.map(q => ts.map(t =>
              graft.core.VectorKernels.negdot(t, q)).min).sum, d)
          }.sortBy(identity).take(k)
            .zipWithIndex.map { case ((_, d), i) => (qid, d, (i + 1).toLong) }
        }
        assert(got == want,
          s"maxsim trial $trial (m=$m k=$k slice=$sliceCap) mismatch")
      }
    } finally uninstall()
  }
}
