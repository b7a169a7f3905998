package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.index.{IvfConfig, IvfIndex}
import graft.ops.{Curation, Dedup, Knn, MaxSim, Multimodal, TextOps}

/**
 * The operator inventory (SURVEY.md §2) as named queries, each paired —
 * where SQL-expressible — with ANSI SQL the DuckDB oracle replays on the
 * same parquet tables.
 *
 * Determinism contract with the oracle:
 *  - every distance is accumulated in double precision on both sides, so
 *    values agree to ~1e-13 and round(_, 3) is stable;
 *  - money sums go through DECIMAL(18,2) (exact) before the final double;
 *  - every result has a total ORDER BY with id tie-breaks;
 *  - integer outputs are cast to BIGINT on both sides.
 */
object GraftQueries {

  final case class Q(impl: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS); the events queries do exact
    // integer arithmetic on raw nanos longs. Environments differ on how
    // that type reads:
    //  - where spark.sql.legacy.parquet.nanosAsLong is honored, ts
    //    arrives as the raw nanos long directly;
    //  - Spark 4.1.2 here IGNORES the legacy conf even when set before
    //    the session (verified: conf reads back true, schema is still
    //    timestamp_ntz at microsecond precision), so the read is
    //    normalized back to nanos: UTC-interpreted micros * 1000. The
    //    testdata's nano values are exact microsecond multiples
    //    (verified against DuckDB epoch_ns row-by-row), so the
    //    round-trip is lossless.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType)) {
      // cast NTZ->timestamp interprets the wall time in the SESSION zone;
      // pin it to UTC so the epoch arithmetic matches DuckDB regardless
      // of the host's zone
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    } else df
  }

  /** Embedding of a given vec_id, collected to the driver. */
  private def qvec(spark: SparkSession, sfDir: String, id: Long): Array[Float] = {
    import spark.implicits._
    tbl(spark, sfDir, "embeddings").filter(col("vec_id") === id)
      .select(col("embedding")).as[Seq[Float]].head().toArray
  }

  /** Embeddings of several vec_ids in ONE bounded collect — a query
    * needing k query vectors previously paid k filter+head jobs plus k
    * planning gaps (~100 ms each at sf0.1; measured 13 prelude jobs on
    * maxsim_join_served). */
  private def qvecs(spark: SparkSession, sfDir: String,
                    ids: Seq[Long]): Map[Long, Array[Float]] = {
    import spark.implicits._
    val m = tbl(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(ids.map(Long.box): _*))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (i, v) => i -> v.toArray }.toMap
    require(ids.forall(m.contains),
      s"qvecs: missing vec_ids ${ids.filterNot(m.contains).mkString(", ")}")
    m
  }

  private def lv(q: Array[Float]): Column = typedlit(q.toSeq)

  // --- shared oracle SQL fragments (dim is 64 in all testdata tiers) ----

  /** CTE computing per-vector double-precision L2/dot/norms vs vec 0. */
  /** DSIR oracle scaffolding: hashed-bigram histograms for target (zh
    * docs) and raw corpus, the add-alpha log-ratio table, per-doc sums.
    * Mirrors Curation.importanceWeights(n=2, buckets=256, alpha=0.01). */
  private val dsirCte: String =
    """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS g
      |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM tk) _x),
      |bk AS (SELECT doc_id, lang, CAST(concat('0x', substr(md5(g),1,8)) AS BIGINT) % 256 AS b FROM sh),
      |tc AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'zh' GROUP BY b),
      |rc AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
      |tot AS (SELECT (SELECT sum(ct) FROM tc) AS tt, (SELECT sum(cr) FROM rc) AS rt),
      |lr AS (SELECT rc.b AS b,
      |  ln((coalesce(tc.ct, 0) + 0.01) / (tot.tt + 0.01 * 256)) -
      |  ln((rc.cr + 0.01) / (tot.rt + 0.01 * 256)) AS w
      |  FROM rc CROSS JOIN tot LEFT JOIN tc ON tc.b = rc.b),
      |w AS (SELECT bk.doc_id, count(*) AS n_shingles, sum(lr.w) AS wt
      |  FROM bk JOIN lr ON lr.b = bk.b GROUP BY 1)""".stripMargin

  private val distCte: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
      |dd AS (SELECT e.vec_id AS vec_id,
      |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist,
      |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)) AS nd,
      |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE), 2))) AS na,
      |  sqrt(sum(power(CAST(q.qe[i+1] AS DOUBLE), 2))) AS nb
      |  FROM e, q GROUP BY e.vec_id)""".stripMargin

  private val knnOracle: String =
    s"""$distCte
       |SELECT vec_id, round(dist, 3) AS dist FROM dd ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin

  private def knnOracleWhere(pred: String): String =
    s"""$distCte
       |SELECT vec_id, round(dist, 3) AS dist FROM dd WHERE $pred
       |ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin

  /** Graph-style oracle: exact top-10 with a rank column (WHERE applies
    * before the window, as SQL semantics require). */
  private def graphOracle(where: String): String = {
    val w = if (where.isEmpty) "" else s"WHERE $where\n|"
    s"""$distCte
       |SELECT vec_id, round(dist, 3) AS dist,
       |row_number() OVER (ORDER BY dd.dist, vec_id) AS rn
       |FROM dd ${w}ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin
  }

  /** Canonical top-k output shape: (vec_id, dist) ordered by raw distance
    * with id tie-breaks, rounded last (the oracle determinism contract). */
  private def topkOut(res: DataFrame): DataFrame =
    res.select(col("id").as("vec_id"), col("dist").as("raw"))
      .orderBy(col("raw"), col("vec_id"))
      .select(col("vec_id"), round(col("raw"), 3).as("dist"))

  private def graphOut(res: DataFrame): DataFrame =
    res.select(col("id").as("vec_id"), round(col("dist"), 3).as("dist"), col("rn"))
      .orderBy("rn")

  private def candInCount(plan: String): Int =
    graft.plans.AnnTopKRewrite.candInCount(plan)

  /** [[graft.core.Confs.withConfs]] — snapshot-and-restore every key so
    * a query's per-plan tuning never clobbers a session-level value in
    * any run order. Only safe around bodies that COLLECT inside: a
    * lazily-returned DataFrame re-plans on the next action with the
    * restored confs. */
  private def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T =
    graft.core.Confs.withConfs(s, kvs: _*)(body)

  private val enList = TextOps.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")

  // ---------------------------------------------------------------- queries

  private def embQ(spark: SparkSession, sfDir: String): (DataFrame, Array[Float]) =
    (tbl(spark, sfDir, "embeddings"), qvec(spark, sfDir, 0))

  /** Deterministic per-label mean centroids (the semdedup-family
    * prelude): ONE distributed `groupBy(label)` aggregation of per-dim
    * double sums + a BOUNDED collect of the <= k result rows, averaged
    * on the driver (r18 — the r17 version collected the entire
    * embeddings table to the driver, an unbounded collect in a declared
    * query path). The doubles are identical to the r17 driver loop on
    * the fixture: hash aggregation accumulates each group's values in
    * scan order within a partition, which on the single-partition
    * fixture is exactly the collect order the driver loop summed in
    * (and `element_at(...).cast("double")` is the same float->double
    * widening). `dim` comes from the aggregate itself (highest position
    * + 1, no extra job); a label whose rows are shorter, or ragged
    * lengths within a label, fail loudly rather than silently
    * mis-summing. */
  private[graft] def labelCentroids(e: DataFrame): Array[Array[Float]] = {
    // posexplode + a NARROW (l, p) groupBy rather than dim-many sum
    // columns: the 64-sum formulation generated a per-query codegen
    // function heavy enough to cost ~0.4 s at the fixture (r18 bench
    // A/B); this shape shuffles n*dim 16-byte rows, collects <= k*dim
    // aggregated rows, and keeps the generated code tiny. Per-(l, p)
    // sums accumulate in row order within a partition — the same
    // doubles as the r17 driver loop on the single-partition fixture.
    val rows = e.select(col("label").cast("int").as("l"),
        posexplode(col("embedding")))
      .groupBy(col("l"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("col").cast("double")).as("s"))
      .collect()
    require(rows.nonEmpty, "labelCentroids: empty embeddings table")
    val k = rows.iterator.map(_.getInt(0)).max + 1
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val sums = Array.fill(k)(new Array[Double](dim))
    val cnts = Array.fill(k)(-1L)
    val perLabelRows = new Array[Int](k)
    rows.foreach { r =>
      val l = r.getInt(0); val p = r.getInt(1); val n = r.getLong(2)
      sums(l)(p) = r.getDouble(3)
      if (cnts(l) < 0) cnts(l) = n
      require(cnts(l) == n, "labelCentroids: ragged embedding lengths")
      perLabelRows(l) += 1
    }
    require(perLabelRows.forall(c => c == 0 || c == dim),
      s"labelCentroids: embedding lengths differ across labels (longest $dim)")
    Array.tabulate(k)(c => Array.tabulate(dim)(j =>
      if (cnts(c) <= 0) 0.0f else (sums(c)(j) / cnts(c)).toFloat))
  }

  // ---- keyword-retrieval oracle scaffolding (ops/Search.scala) ----

  /** Query terms for the BM25/hybrid goldens (mid-frequency corpus words). */
  private def bm25Terms: Seq[String] = Seq("spark", "merge", "window")

  /** DuckDB CTEs mirroring Search.bm25Score exactly: per-doc tf/dl, the
    * (N, avgdl, df) stats row, and the per-term BM25 sum with the SAME
    * literal constants and parenthesization as the Spark expression
    * (constants interpolated from the same Scala doubles, so both engines
    * parse the identical double). */
  private def bm25Cte(terms: Seq[String]): String = {
    val k1 = 1.2; val b = 0.75
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS DOUBLE) AS tf$i" }.mkString(", ")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(t, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
    }.mkString(", ")
    val score = terms.indices.map { i =>
      s"ln((st.n - st.df$i + 0.5) / (st.df$i + 0.5) + 1.0) * tf$i * ${k1 + 1.0} / " +
        s"(tf$i + $k1 * (${1.0 - b} + $b * (dl / st.avgdl)))"
    }.mkString(" + ")
    val hasAny = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pt AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, $tfs FROM tk),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |  CAST(coalesce(sum(len(t)), 0) AS DOUBLE) / count(*) AS avgdl, $dfs FROM tk),
       |sc AS (SELECT doc_id, ($score) AS score FROM pt, st WHERE $hasAny)""".stripMargin
  }

  /** DuckDB replay of the MMR greedy loop, unrolled: candidates = ANN
    * top-10 by cosine rel to vec 0, pairwise sims among them, then one
    * CTE per greedy step picking argmax round(λ·rel − (1−λ)·maxSimToSel,
    * 6) with id tie-breaks — exactly [[graft.ops.Search.mmr]]'s
    * selection rule. */
  private def mmrOracle(k: Int, lambda: Double): String = {
    val relExpr = "1.0 - (1.0 - (-nd) / (na * nb))"
    def selUnion(upto: Int): String =
      (1 to upto).map(i => s"SELECT vec_id FROM p$i").mkString(" UNION ALL ")
    val steps = (2 to k).map { i =>
      s"""p$i AS (SELECT c.vec_id, round($lambda * c.rel - ${1.0 - lambda} * (
         |  SELECT max(ps.s) FROM ps WHERE ps.va = c.vec_id
         |    AND ps.vb IN (${selUnion(i - 1)})), 6) + 0.0 AS sc
         |  FROM cand c WHERE c.vec_id NOT IN (${selUnion(i - 1)})
         |  ORDER BY sc DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(i =>
      s"SELECT vec_id, CAST($i AS BIGINT) AS rank, sc AS mmr FROM p$i")
      .mkString(" UNION ALL ")
    s"""$distCte,
       |cand AS (SELECT dd.vec_id AS vec_id, $relExpr AS rel FROM dd
       |  ORDER BY round($relExpr, 6) DESC, dd.vec_id LIMIT 10),
       |pe AS (SELECT e.vec_id, e.embedding, e.i FROM e
       |  JOIN cand ON cand.vec_id = e.vec_id),
       |ps AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |  sum(CAST(a.embedding[a.i+1] AS DOUBLE) * CAST(b.embedding[a.i+1] AS DOUBLE)) /
       |  (sqrt(sum(power(CAST(a.embedding[a.i+1] AS DOUBLE), 2))) *
       |   sqrt(sum(power(CAST(b.embedding[a.i+1] AS DOUBLE), 2)))) AS s
       |  FROM pe a JOIN pe b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |p1 AS (SELECT vec_id, round(rel, 6) + 0.0 AS sc FROM cand
       |  ORDER BY round(rel, 6) DESC, vec_id LIMIT 1),
       |$steps
       |SELECT * FROM ($out) _m ORDER BY rank""".stripMargin
  }

  val all: Map[String, Q] = Map(

    // ---- scalar operator surface (SURVEY §2.1) ----

    "s1_l2" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.select(col("vec_id"), round(vecL2(col("embedding"), lv(q)), 3).as("dist"))
          .orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist FROM dd ORDER BY vec_id""".stripMargin)),

    "s2_negdot" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.select(col("vec_id"), (round(vecNegdot(col("embedding"), lv(q)), 3) + 0.0).as("negdot"))
          .orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id, round(nd, 3) + 0.0 AS negdot FROM dd ORDER BY vec_id""".stripMargin)),

    "s3_cosdist" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.select(col("vec_id"), (round(vecCosdist(col("embedding"), lv(q)), 3) + 0.0).as("cosdist"))
          .orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id, round(1.0 - (-nd) / (na * nb), 3) + 0.0 AS cosdist FROM dd ORDER BY vec_id""".stripMargin)),

    "s4_sphere_l2" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.filter(sphereL2Contains(col("embedding"), lv(q), lit(1.3)))
          .select(col("vec_id")).orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id FROM dd WHERE dist < 1.3 ORDER BY vec_id""".stripMargin)),

    "s5_sphere_negdot" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.filter(sphereNegdotContains(col("embedding"), lv(q), lit(-0.15)))
          .select(col("vec_id")).orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id FROM dd WHERE nd < -0.15 ORDER BY vec_id""".stripMargin)),

    "s6_sphere_cos" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.filter(sphereCosContains(col("embedding"), lv(q), lit(0.8)))
          .select(col("vec_id")).orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id FROM dd WHERE 1.0 - (-nd) / (na * nb) < 0.8 ORDER BY vec_id""".stripMargin)),

    "s7_maxsim" -> Q(
      (s, d) => {
        val e = tbl(s, d, "embeddings")
        val qv = qvecs(s, d, 1L to 3L)
        val qs = (1L to 3L).map(qv)
        val docs = e.groupBy(col("label").as("doc"))
          .agg(collect_list(col("embedding")).as("tokens"))
        val raw = vecMaxsim(col("tokens"), typedlit(qs.map(_.toSeq)))
        docs.select(col("doc"), raw.as("raw"))
          .orderBy(col("raw"), col("doc"))
          .select(col("doc"), (round(col("raw"), 3) + 0.0).as("maxsim")) },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (1, 2, 3)),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT e.label AS doc, e.vec_id AS did, qt.qid AS qid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3),
             |m AS (SELECT doc, qid, min(negdot) AS mind FROM nd GROUP BY doc, qid)
             |SELECT doc, round(sum(mind), 3) + 0.0 AS maxsim FROM m GROUP BY doc ORDER BY sum(mind), doc""".stripMargin)),

    "v_norm" -> Q(
      (s, d) => tbl(s, d, "embeddings")
        .select(col("vec_id"), round(vecNorm(col("embedding")), 3).as("nrm"))
        .orderBy("vec_id"),
      Some(s"""$distCte
              |SELECT vec_id, round(na, 3) AS nrm FROM dd ORDER BY vec_id""".stripMargin)),

    "v_normalize" -> Q(
      (s, d) => tbl(s, d, "embeddings")
        .select(col("vec_id"),
          round(vecNorm(vecNormalize(col("embedding"))), 3).as("unit_norm"))
        .orderBy("vec_id"),
      Some(s"""$distCte
              |SELECT vec_id, round(na / na, 3) AS unit_norm FROM dd ORDER BY vec_id""".stripMargin)),

    "v_text_roundtrip" -> Q(
      (s, d) => tbl(s, d, "embeddings")
        .select(col("vec_id"),
          (vecFromText(vecToText(col("embedding"))) === col("embedding")).as("ok"))
        .orderBy("vec_id"),
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    // halfvec round-trip: f32 -> f16 -> f32 keeps relative L2 error within
    // fp16 precision for every stored embedding.
    "v_half_roundtrip" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          val x = v.toArray
          val back = graft.core.Half.decode(graft.core.Half.encode(x))
          val n = graft.core.VectorKernels.norm(x)
          n == 0.0 || graft.core.VectorKernels.l2(back, x) / n < 2e-3
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    // rabitq8 text format '(m,..)[c,..]' round-trips losslessly.
    "v_qtext_roundtrip" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          val q0 = {
            val c = graft.core.RaBitQ.quantize(v.toArray, 8)
            QCode(c.meta.toSeq, c.codes, c.bits, c.dim)
          }
          val q1 = qcodeFromText(qcodeToText(q0), 8)
          q0.meta == q1.meta && java.util.Arrays.equals(q0.codes, q1.codes) && q0.dim == q1.dim
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    // quantize/dequantize round-trips: the codec lattice is engine-defined
    // (not SQL-replicable bit-for-bit — f32 sequential accumulation in the
    // metadata), so the oracle-checked contract is the per-row error BOUND
    // (reference analogue: rabitq8 "<1% recall loss" README claim; exact
    // lattice properties are spec'd in RaBitQSpec). Empirical max rel_err
    // on the test corpora: 0.0101 (8-bit), 0.191 (4-bit).
    "v_quantize8_roundtrip" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          val x = v.toArray
          val deq = graft.core.RaBitQ.dequantize(graft.core.RaBitQ.quantize(x, 8))
          val n = graft.core.VectorKernels.norm(x)
          n == 0.0 || graft.core.VectorKernels.l2(deq, x) / n < 0.015
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    "v_quantize4_roundtrip" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          val x = v.toArray
          val deq = graft.core.RaBitQ.dequantize(graft.core.RaBitQ.quantize(x, 4))
          val n = graft.core.VectorKernels.norm(x)
          n == 0.0 || graft.core.VectorKernels.l2(deq, x) / n < 0.25
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    // distance operators over QUANTIZED columns (reference
    // operators_rabitq8.rs / operators_rabitq4.rs): both sides stay coded.
    // The codec lattice is engine-defined, so (as with the roundtrip
    // oracles) the checked contract is the error BOUND of each coded
    // distance against the exact distance on the raw pair — margins sized
    // from the per-vector round-trip bounds (8-bit <3%, 4-bit <25% per
    // side), verified per-row on the real corpus.
    "v_qdist8_ops" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          import graft.core.{RaBitQ, VectorKernels => K}
          val x = v.toArray
          val y = x.map(f => 0.8f * f - 1.0f)
          val a = RaBitQ.quantize(x, 8); val b = RaBitQ.quantize(y, 8)
          val nx = K.norm(x); val ny = K.norm(y)
          math.abs(RaBitQ.l2QQ(a, b) - K.l2(x, y)) <= 0.03 * (1e-9 + nx + ny) &&
            math.abs(RaBitQ.negdotQQ(a, b) - K.negdot(x, y)) <= 0.03 * (1e-9 + nx * ny) &&
            math.abs(RaBitQ.cosdistQQ(a, b) - K.cosdist(x, y)) <= 0.05
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    "v_qdist4_ops" -> Q(
      (s, d) => {
        val ok = udf { (v: Seq[Float]) =>
          import graft.core.{RaBitQ, VectorKernels => K}
          val x = v.toArray
          val y = x.map(f => 0.8f * f - 1.0f)
          val a = RaBitQ.quantize(x, 4); val b = RaBitQ.quantize(y, 4)
          val nx = K.norm(x); val ny = K.norm(y)
          math.abs(RaBitQ.l2QQ(a, b) - K.l2(x, y)) <= 0.3 * (1e-9 + nx + ny) &&
            math.abs(RaBitQ.negdotQQ(a, b) - K.negdot(x, y)) <= 0.5 * (1e-9 + nx * ny) &&
            math.abs(RaBitQ.cosdistQQ(a, b) - K.cosdist(x, y)) <= 0.5
        }
        tbl(s, d, "embeddings")
          .select(col("vec_id"), ok(col("embedding")).as("ok"))
          .orderBy("vec_id") },
      Some("SELECT vec_id, TRUE AS ok FROM embeddings ORDER BY vec_id")),

    // ---- KNN / index scans (SURVEY §2.2) ----

    "knn_topk" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        Knn.topK(e, "vec_id", "embedding", q, 10)
          .select(col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(knnOracle)),

    // The reference's SQL surface end-to-end: the exact query text a
    // pgvector/VectorChord user writes (`SELECT ... ORDER BY embedding
    // <-> q LIMIT k` with <-> spelled vec_l2) goes through spark.sql(),
    // the registered function resolves, and the injected AnnTopKRewrite
    // serves the Sort+Limit from the IVF index — asserted in-query, so
    // this row FAILS rather than silently degrading to a full scan.
    "sql_knn" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_sql")
        val qSql = q.map(_.toString).mkString("array(", "F, ", "F)")
        // collect INSIDE withConfs: the served rows are pinned while the
        // probe budget is in effect, and the session confs restore —
        // returning the lazy frame would both leak probes=16 into the
        // session AND re-plan downstream actions under restored confs
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16") {
            val df = s.sql(
              s"""SELECT vec_id, round(vec_l2(embedding, $qSql), 3) AS dist FROM (
                 |  SELECT vec_id, embedding FROM emb_sql
                 |  ORDER BY vec_l2(embedding, $qSql) LIMIT 10
                 |) ORDER BY dist, vec_id""".stripMargin)
            require(graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              "sql_knn was NOT index-served — the planner rule failed to match " +
              "the SQL Sort+Limit shape:\n" + df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          .toDF("vec_id", "dist").orderBy("dist", "vec_id")
      },
      Some(knnOracle)),

    // NULL-ordering parity of the served top-k (round 17): a corpus
    // holding NULL-vector rows (absent from the index — the reference's
    // issue_427 behavior) must rank them FIRST in an ascending distance
    // sort, exactly as the ASC NULLS FIRST plan the rule replaces. The
    // build sees the nulls -> no completeness attestation -> the serve
    // restricts with `vec_id IN (…) OR embedding IS NULL` (asserted
    // in-query). Oracle: DuckDB needs the explicit NULLS FIRST (its ASC
    // default is NULLS LAST — the opposite of Spark's).
    "knn_nulls" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val path = nullEmbTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("null_emb")
        val qSql = q.map(_.toString).mkString("array(", "F, ", "F)")
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16") {
            val df = s.sql(
              s"""SELECT vec_id, round(vec_l2(embedding, $qSql), 3) AS dist FROM (
                 |  SELECT vec_id, embedding FROM null_emb
                 |  ORDER BY vec_l2(embedding, $qSql) LIMIT 10
                 |) ORDER BY dist ASC NULLS FIRST, vec_id""".stripMargin)
            val plan = df.queryExecution.optimizedPlan.toString
            require(graft.plans.AnnTopKRewrite.inServed(plan),
              "knn_nulls was NOT index-served:\n" + plan)
            require(plan.toLowerCase.contains("isnull"),
              "knn_nulls must carry the null-keeping Or (the corpus holds " +
              "NULL vectors, so the bare IN would drop them):\n" + plan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
          .toDF("vec_id", "dist")
          .orderBy(col("dist").asc_nulls_first, col("vec_id"))
      },
      Some(s"""$distCte,
           |nulls AS (SELECT (SELECT max(vec_id) FROM embeddings) + 1 + r AS vec_id,
           |  CAST(NULL AS DOUBLE) AS dist FROM range(3) t(r))
           |SELECT vec_id, round(dist, 3) AS dist FROM (
           |  SELECT vec_id, dist FROM dd UNION ALL SELECT vec_id, dist FROM nulls
           |) ORDER BY dist ASC NULLS FIRST, vec_id LIMIT 10""".stripMargin)),

    // Partitioned-table ANN serving (reference tests/vchordrq/
    // partition.slt: per-child indexes answer parent-table queries):
    // embeddings split into two parquet roots (pt = vec_id % 2), each
    // root carrying its OWN index; the whole-table read is served by
    // the UNION of the per-root candidate pools — asserted in-query, so
    // this row FAILS rather than silently degrading to a full scan.
    // Same oracle as knn_topk: the partitioned copy holds identical rows.
    "knn_partitioned" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val path = partitionedEmbTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        // at verify scale the per-root overheads double and the cost
        // model rightly declines (a 250-row root IS cheaper to scan) —
        // force the serve WHILE BUILDING this plan so the partitioned
        // plumbing is exercised and plan-asserted, then restore the
        // model so later queries' plans don't depend on run order
        // (decline behavior itself is spec'd in AnnRewriteSpec)
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16", "graft.ann.cost.enable" -> "false") {
            val df = s.read.parquet(path)
              .orderBy(vecL2(col("embedding"), lv(q)))
              .limit(10)
            require(graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              "knn_partitioned was NOT index-served — the per-partition index " +
              "cover failed to match:\n" + df.queryExecution.optimizedPlan)
            // pin the served rows: downstream actions build fresh
            // QueryExecutions (with the cost model back on, they would
            // re-plan exact — same rows, but then the timed path is not
            // the index serve this query exists to measure)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(r.fieldIndex("vec_id")),
            r.getSeq[Float](r.fieldIndex("embedding"))))
          .toSeq.toDF("vec_id", "embedding")
          .select(col("vec_id"), vecL2(col("embedding"), lv(q)).as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist"))
      },
      Some(knnOracle)),

    // PREFILTERED partitioned serving (round 11): a deterministic filter
    // between the Sort and the partitioned scan no longer declines to the
    // exact plan — the per-root estimate pools escalate (x4 probes/refine
    // per round, ONE unioned pool job each round) until k survivors exist
    // or every root is provably covered. `vec_id % 251 = 3` is key-only,
    // so it runs inside the pool task and no survivor fetch runs. It
    // keeps fewer than k rows at every tier, so the serve always
    // terminates at full coverage and the output is exact —
    // hash-compared against DuckDB recomputing the filtered top-k.
    "knn_partitioned_prefilter" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val path = partitionedEmbTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16", "graft.ann.cost.enable" -> "false") {
            val df = s.read.parquet(path)
              .filter(col("vec_id") % 251 === 3)
              .orderBy(vecL2(col("embedding"), lv(q)))
              .limit(10)
            require(graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              "knn_partitioned_prefilter was NOT index-served — the " +
              "prefiltered partitioned escalation failed to match:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(r.fieldIndex("vec_id")),
            r.getSeq[Float](r.fieldIndex("embedding"))))
          .toSeq.toDF("vec_id", "embedding")
          .select(col("vec_id"), vecL2(col("embedding"), lv(q)).as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist"))
      },
      Some(knnOracleWhere("vec_id % 251 = 3"))),

    // Partitioned MAXSIM serving (round 12; reference scanners/maxsim.rs
    // over partition.slt-style per-child indexes): the doc corpus split
    // into two parquet roots (pt = doc % 2), each with its own token
    // index; the whole-table `ORDER BY @# LIMIT k` is served by ONE flat
    // retrieval job pooling both roots' per-token candidates, then the
    // plan's own exact top-k tail reranks — asserted in-query. k covers every
    // doc and kPerToken covers every token row, so the output is exact
    // and hash-matches the same DuckDB oracle as s7_maxsim/maxsim_agg.
    "maxsim_partitioned" -> Q(
      (s, d) => {
        val path = partitionedMaxSimTable(s, d)
        val qv = qvecs(s, d, 1L to 3L)
        val qs = (1L to 3L).map(qv)
        graft.plans.AnnTopKRewrite.install(s)
        // probes=8 (full coverage of lists=8 children) while other ANN
        // queries in the same session rely on their own 16 or the auto
        // default — withConfs snapshots ALL THREE keys so neither the
        // probe budget nor a session-level kPerToken/cost setting leaks
        // in any run order
        val served = withConfs(s, "graft.ann.probes" -> "8",
          "graft.ann.maxsim.kPerToken" -> "1024",
          "graft.ann.cost.enable" -> "false") {
            val df = s.read.parquet(path)
              .orderBy(vecMaxsim(col("tokens"), typedlit(qs.map(_.toSeq))))
              .limit(10)
            require(graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              "maxsim_partitioned was NOT index-served — the per-partition " +
              "token-index cover failed to match:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map { r =>
          // runtime element type is mutable.ArraySeq — type the inner Seq
          // loosely and convert, or the encoder cast fails
          val toks = r.getSeq[scala.collection.Seq[Float]](r.fieldIndex("tokens"))
            .map(_.toSeq).toSeq
          (r.getLong(r.fieldIndex("doc")), toks)
        }.toSeq.toDF("doc", "tokens")
          .select(col("doc").cast("int").as("doc"),
            vecMaxsim(col("tokens"), typedlit(qs.map(_.toSeq))).as("raw"))
          .orderBy(col("raw"), col("doc"))
          .select(col("doc"), (round(col("raw"), 3) + 0.0).as("maxsim"))
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (1, 2, 3)),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT e.label AS doc, e.vec_id AS did, qt.qid AS qid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3),
             |m AS (SELECT doc, qid, min(negdot) AS mind FROM nd GROUP BY doc, qid)
             |SELECT doc, round(sum(mind), 3) + 0.0 AS maxsim FROM m GROUP BY doc ORDER BY sum(mind), doc""".stripMargin)),

    // Batched MULTI-ROOT MaxSim (round 14): TWO query documents (token
    // sets = embeddings 1-3 and 4-6) answered across the partitioned
    // multivector corpus's per-child token indexes in two flat passes
    // (MaxSim.maxsimManyMulti — one pooled retrieval for every
    // (root, query-token), one exact rescore of the candidate docs from
    // the indexes' stored token vectors). Full coverage (probes = lists,
    // kPerToken over every token row, docsPerRoot over every doc) makes
    // the batch exact, so it hash-matches the per-qid form of the same
    // DuckDB sum-min oracle as maxsim_partitioned.
    "maxsim_batch_multi" -> Q(
      (s, d) => {
        val path = partitionedMaxSimTable(s, d)
        val idxs = cached(s"msparttbl-idxs:$d") {
          (0 to 1).map(p => IvfIndex.load(s, s"$path-idx$p"))
        }
        val qv6 = qvecs(s, d, 1L to 6L)
        val qs = Array(
          1L -> (1L to 3L).map(qv6).toArray,
          2L -> (4L to 6L).map(qv6).toArray)
        MaxSim.maxsimManyMulti(idxs, qs, k = 10, kPerToken = 1024,
            probes = Seq(8, 8), refine = 8)
          .select(col("qid"), col("doc").cast("int").as("doc"),
            col("maxsim").as("raw"))
          .orderBy(col("qid"), col("raw"), col("doc"))
          .select(col("qid"), col("doc"),
            (round(col("raw"), 3) + 0.0).as("maxsim")) },
      Some("""WITH qt AS (SELECT CAST(CASE WHEN vec_id <= 3 THEN 1 ELSE 2 END AS BIGINT) AS qid,
             |  vec_id AS tid, embedding AS qe FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT qt.qid AS qid, e.label AS doc, e.vec_id AS did, qt.tid AS tid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3, 4),
             |m AS (SELECT qid, doc, tid, min(negdot) AS mind FROM nd GROUP BY qid, doc, tid)
             |SELECT qid, doc, round(sum(mind), 3) + 0.0 AS maxsim FROM m
             |GROUP BY qid, doc ORDER BY qid, sum(mind), doc""".stripMargin)),

    // Partitioned GRAPH serving (round 12): the same two-root split with
    // one driver-tier Vamana graph per root; the whole-table read is
    // served by the union of per-child beams (zero planning jobs — the
    // graphs are broadcast-resident) and the plan's exact top-k tail
    // reranks. Same oracle as knn_topk.
    "graph_knn_partitioned" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val path = partitionedGraphTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        // generous beam (ef=256 over ~half-tier-sized children) — the
        // same exact-recall regime the graph_knn golden relies on;
        // withConfs snapshot-restores so a session-level efSearch or
        // cost setting is never clobbered
        val served = withConfs(s, "graft.ann.efSearch" -> "256",
          "graft.ann.cost.enable" -> "false") {
            val df = s.read.parquet(path)
              .orderBy(vecL2(col("embedding"), lv(q)))
              .limit(10)
            require(graft.plans.AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
              "graph_knn_partitioned was NOT index-served — the per-partition " +
              "graph cover failed to match:\n" + df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(r.fieldIndex("vec_id")),
            r.getSeq[Float](r.fieldIndex("embedding"))))
          .toSeq.toDF("vec_id", "embedding")
          .select(col("vec_id"), vecL2(col("embedding"), lv(q)).as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist"))
      },
      Some(knnOracle)),

    // Batched MULTI-GRAPH search (round 14): three queries answered
    // across the partitioned graph fixture's per-child driver-resident
    // Vamana graphs in one fan-out (VamanaGraph.searchManyMulti — beams
    // parallelize over executors, the graph set broadcasts once, ids
    // fold per query to their best distance). Generous beams (ef=256
    // over half-tier children, the graph_knn_partitioned premise) make
    // the batch exact, so it hash-matches the per-qid exact top-k
    // oracle.
    "graph_batch_multi" -> Q(
      (s, d) => {
        val path = partitionedGraphTable(s, d)
        val graphs = cached(s"gparttbl-graphs:$d") {
          (0 to 1).map(p => graft.index.VamanaGraph.load(s, s"$path-g$p"))
        }
        val qv = qvecs(s, d, 0L to 2L)
        val qs = (0L to 2L).map(i => i -> qv(i)).toArray
        graft.index.VamanaGraph.searchManyMulti(s, graphs, qs, k = 10,
            ef = 256)
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"),
            col("rn"))
          .orderBy("qid", "rn")
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"),
            col("rn")) },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),

    "knn_join" -> Q(
      (s, d) => {
        import s.implicits._
        val e = tbl(s, d, "embeddings")
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
          .map { case (id, v) => (id, v.toArray) }
        Knn.knnJoin(e, "vec_id", "embedding", qs, 3, excludeSelf = true)
          .select(col("qid"), col("id").as("vec_id"),
            round(col("dist"), 3).as("dist"), col("rn").cast("long").as("rn"))
          .orderBy("qid", "rn") },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt WHERE e.vec_id <> qt.qid GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // PLANNER-SERVED top-k KNN JOIN (round 15; SURVEY §2.6 batch
    // KNN-join — the SQL surface of searchMany): the windowed
    // rank-filter shape a SQL user writes for "k nearest per query row"
    // (row_number() OVER (PARTITION BY qid ORDER BY vec_l2(...)) <= k
    // over a cross join) is matched by AnnTopKRewrite.serveKnnJoin,
    // which collects the bounded queries side at planning time, answers
    // every query in ONE batched searchMany job, and restricts the
    // indexed side to the candidate union — the window reranks with the
    // original expression, so output is exact at these probe budgets.
    // Asserted in-query: a silent regression to the broadcast
    // nested-loop cross join fails the run rather than just slowing it.
    "knn_join_indexed" -> Q(
      (s, d) => {
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_kj")
        // cost model off WHILE BUILDING the plan (the knn_partitioned
        // policy): at the sf0.001 tier a 50-row table is rightly cheaper
        // to cross-join exactly, but this query exists to exercise and
        // plan-assert the serve on every tier
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16", "graft.ann.cost.enable" -> "false") {
            val df = s.sql(
              """SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.vec_id,
                |         round(vec_l2(e.embedding, q.center), 3) AS dist,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_l2(e.embedding, q.center), e.vec_id) AS rn
                |  FROM (SELECT vec_id AS qid, embedding AS center FROM emb_kj
                |        WHERE vec_id IN (0, 1, 2)) q
                |  JOIN emb_kj e
                |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
            // the queries-side subquery carries its own user IN — the
            // serve adds a SECOND one (the candidate restriction)
            require(candInCount(df.queryExecution.optimizedPlan.toString) >= 2,
              "knn_join_indexed was NOT index-served — the KNN-join rule " +
              "failed to match the windowed rank shape:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "vec_id", "dist", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // The same KNN JOIN against the PARTITIONED copy: the indexed side
    // resolves through the per-child cover and all queries x all roots
    // answer in ONE flat searchManyMulti job (two planning jobs total,
    // root-count independent). Identical rows to knn_join_indexed (the
    // partitioned copy holds the same data), so the same oracle.
    "knn_join_partitioned" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_kj_part")
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16", "graft.ann.cost.enable" -> "false") {
            val df = s.sql(
              """SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.vec_id,
                |         round(vec_l2(e.embedding, q.center), 3) AS dist,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_l2(e.embedding, q.center), e.vec_id) AS rn
                |  FROM (SELECT vec_id AS qid, embedding AS center FROM emb_kj_part
                |        WHERE vec_id IN (0, 1, 2)) q
                |  JOIN emb_kj_part e
                |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
            require(candInCount(df.queryExecution.optimizedPlan.toString) >= 2,
              "knn_join_partitioned was NOT index-served — the partitioned " +
              "KNN-join cover failed to match:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "vec_id", "dist", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // The GRAPH-tier KNN JOIN: the same windowed rank shape served from
    // the partitioned graph fixture's per-child driver-resident Vamana
    // graphs (zero planning Spark jobs beyond the queries collect —
    // every query beams on the driver through the top-k serve's graph
    // candidate fetch). Generous beams make it exact; collected inside
    // withConfs so the pinned rows reflect the forced serve (the cost
    // model rightly declines on tiny tiers, as knn_partitioned).
    "knn_join_graph" -> Q(
      (s, d) => {
        val path = partitionedGraphTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_kj_graph")
        val served = withConfs(s, "graft.ann.efSearch" -> "256",
          "graft.ann.cost.enable" -> "false") {
            val df = s.sql(
              """SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.vec_id,
                |         round(vec_l2(e.embedding, q.center), 3) AS dist,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_l2(e.embedding, q.center), e.vec_id) AS rn
                |  FROM (SELECT vec_id AS qid, embedding AS center FROM emb_kj_graph
                |        WHERE vec_id IN (0, 1, 2)) q
                |  JOIN emb_kj_graph e
                |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
            require(candInCount(df.queryExecution.optimizedPlan.toString) >= 2,
              "knn_join_graph was NOT graph-served — the graph-tier " +
              "KNN-join cover failed to match:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "vec_id", "dist", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // The SHARDED-graph-tier KNN JOIN (round 16 — tier parity): the same
    // windowed rank shape served from the DISTRIBUTED graph tier — the
    // whole batch beams in ONE ShardedVamana search over the resident
    // shard RDD. Registered against a private table copy reusing the
    // graph_knn_sharded fixture's on-disk shards; generous beams
    // (ef=256 over 4 shards of ~125 vertices) make it exact.
    "knn_join_sharded" -> Q(
      (s, d) => {
        val path = shardedKjTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_kj_shard")
        val served = withConfs(s, "graft.ann.efSearch" -> "256",
          "graft.ann.cost.enable" -> "false") {
            val df = s.sql(
              """SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.vec_id,
                |         round(vec_l2(e.embedding, q.center), 3) AS dist,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_l2(e.embedding, q.center), e.vec_id) AS rn
                |  FROM (SELECT vec_id AS qid, embedding AS center FROM emb_kj_shard
                |        WHERE vec_id IN (0, 1, 2)) q
                |  JOIN emb_kj_shard e
                |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
            require(candInCount(df.queryExecution.optimizedPlan.toString) >= 2,
              "knn_join_sharded was NOT shard-served — the sharded-graph " +
              "KNN-join route failed to match:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "vec_id", "dist", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // BULK KNN JOIN past the per-slice cap (round 16): 300 query rows —
    // past graft.ann.knn.join.maxQueries=256 — serve by SLICING the
    // deduped query set through the batched candidate job instead of
    // declining to the O(Q x N) windowed cross join (the round-15 judge's
    // #1 scale hazard). The in-query assert requires BOTH the candidate
    // restriction (inServed) and >= 3 planning jobs (one queries collect
    // + at least two per-slice candidate jobs), so a silent regression to
    // either the cross join or a single unsliced fetch fails the run.
    "knn_join_sliced" -> Q(
      (s, d) => {
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_kj_bulk")
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16", "graft.ann.cost.enable" -> "false") {
            val before = graft.plans.AnnTopKRewrite.planningJobs.get()
            val df = s.sql(
              """SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.vec_id,
                |         round(vec_l2(e.embedding, q.center), 3) AS dist,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_l2(e.embedding, q.center), e.vec_id) AS rn
                |  FROM (SELECT vec_id AS qid, embedding AS center FROM emb_kj_bulk
                |        WHERE vec_id < 300) q
                |  JOIN emb_kj_bulk e
                |) WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
            val plan = df.queryExecution.optimizedPlan.toString
            require(graft.plans.AnnTopKRewrite.inServed(plan),
              "knn_join_sliced was NOT index-served — the sliced KNN-join " +
              s"serve failed to match:\n$plan")
            require(graft.plans.AnnTopKRewrite.planningJobs.get() - before >= 3,
              "knn_join_sliced planned in fewer than 3 jobs — 300 queries " +
              "did not slice through the batched candidate machinery")
            df.collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "vec_id", "dist", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 300),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    "ivf_knn" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        IvfCache.get(s, d).searchExact(q, 10)
          .select(col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(knnOracle)),

    // estimate-path ANN scan, oracle-checked against the exact top-k.
    // Matches the reference's CI recall golden EXACTLY: recall.slt:37-45
    // runs `SET vchordrq.probes = ''` — every cell probed — so the ==1
    // assertion gates the RaBitQ estimate + epsilon bound + bounded-rerank
    // machinery, NOT probe selection (on unstructured vectors a fixed
    // probe cut can miss honestly; probe-LIMITED recall==1 is asserted in
    // ScalaTest on clustered fixtures where it is robust —
    // IvfBuildVariantsSpec "B1"). Unlike ivf_knn/searchExact, every
    // candidate here must survive the quantized estimate ranking.
    "ivf_knn_probe" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        IvfCache.get(s, d).search(q, 10, probes = 16, refine = 16)
          .select(col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(knnOracle)),

    // distributed MaxSim: explode -> partial-agg sum(min) Aggregator —
    // same semantics as s7_maxsim (same oracle), different physical plan
    // (no collect_list; shuffle carries fixed-width buffers).
    "maxsim_agg" -> Q(
      (s, d) => {
        val e = tbl(s, d, "embeddings")
        val qv = qvecs(s, d, 1L to 3L)
        val qs = (1L to 3L).map(qv).toArray
        MaxSim.score(e.select(col("label"), col("embedding")), "label", "embedding", qs)
          .select(col("doc").cast("int").as("doc"), col("maxsim").as("raw"))
          .orderBy(col("raw"), col("doc"))
          .select(col("doc"), (round(col("raw"), 3) + 0.0).as("maxsim")) },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (1, 2, 3)),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT e.label AS doc, e.vec_id AS did, qt.qid AS qid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3),
             |m AS (SELECT doc, qid, min(negdot) AS mind FROM nd GROUP BY doc, qid)
             |SELECT doc, round(sum(mind), 3) + 0.0 AS maxsim FROM m GROUP BY doc ORDER BY sum(mind), doc""".stripMargin)),

    // recall-evaluation harness as a first-class query (reference
    // vchordrq_evaluate_query_recall). Golden: recall == 1 with every
    // cell probed — the exact configuration the reference CI pins
    // (tests/vchordrq/recall.slt:37-45 under `SET vchordrq.probes = ''`):
    // the gate is on estimate quality, not probe luck.
    "knn_recall" -> Q(
      (s, d) => {
        import s.implicits._
        val q = qvec(s, d, 0)
        val idx = IvfCache.get(s, d)
        val r = idx.evaluateRecall(q, 10, probes = 16, refine = 16)
        Seq((10, 16, r)).toDF("k", "probes", "recall") },
      Some("SELECT 10 AS k, 16 AS probes, CAST(1.0 AS DOUBLE) AS recall")),

    // graph (vchordg-style) ANN: Vamana build + beam search. Beam search
    // is approximate by construction, but on the test corpus the golden is
    // exact-top-k equality (recall == 1, like the reference CI floor);
    // the configured-recall floor at larger scale is in VamanaGraphSpec.
    "graph_knn" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        graft.index.VamanaGraph.searchManyMulti(s, Seq(GraphCache.get(s, d)),
            Array(0L -> q), 10)
          .select(col("id").as("vec_id"), round(col("dist"), 3).as("dist"), col("rn"))
          .orderBy("rn") },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist,
              |row_number() OVER (ORDER BY dd.dist, vec_id) AS rn
              |FROM dd ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin)),

    // Same exact-top-k golden served by the DISTRIBUTED graph tier:
    // per-shard graphs built inside executor tasks (no driver collect),
    // queries broadcast over the resident shard RDD, global merge.
    "graph_knn_sharded" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        ShardGraphCache.get(s, d).search(s, Array(0L -> q), 10)
          .select(col("id").as("vec_id"), round(col("dist"), 3).as("dist"), col("rn"))
          .orderBy("rn") },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist,
              |row_number() OVER (ORDER BY dd.dist, vec_id) AS rn
              |FROM dd ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin)),

    // Quantized sharded tier: per-shard beams rank by vertex-code
    // estimates, rerank-in-table restores exact distances for the ef pool
    // — the memory-efficient distributed graph, end to end.
    "graph_knn_sharded_quantized" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        ShardGraphCache.getQuantized(s, d).search(s, Array(0L -> q), 10,
            rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))
          .select(col("id").as("vec_id"), round(col("dist"), 3).as("dist"), col("rn"))
          .orderBy("rn") },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist,
              |row_number() OVER (ORDER BY dd.dist, vec_id) AS rn
              |FROM dd ORDER BY dd.dist, vec_id LIMIT 10""".stripMargin)),

    "range_order" -> Q(
      (s, d) => { val (e, q) = embQ(s, d)
        e.filter(sphereL2Contains(col("embedding"), lv(q), lit(1.3)))
          .select(col("vec_id"), vecL2(col("embedding"), lv(q)).as("raw"))
          .orderBy(col("raw"), col("vec_id")).limit(20)
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
              |ORDER BY dd.dist, vec_id LIMIT 20""".stripMargin)),

    // INDEX-SERVED sphere range + order-by (reference opclass strategy 2
    // WITH sort, pushdown_range.slt): same rows as range_order, but the
    // sphere filter's candidates come from IvfIndex.multiRangeCandidateIds
    // at planning time — cell-pruned codes-only scan, IN pushed to parquet.
    // Served against the registered PRIVATE table copy (see
    // ivf_knn_prefilter for why the original path is never registered).
    "range_order_indexed" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        val served = s.read.parquet(path)
          .filter(sphereL2Contains(col("embedding"), lv(q), lit(1.3)))
          .orderBy(vecL2(col("embedding"), lv(q)))
          .limit(20)
          .select(col("vec_id"), vecL2(col("embedding"), lv(q)).as("raw"))
        served.orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
              |ORDER BY dd.dist, vec_id LIMIT 20""".stripMargin)),

    // INDEX-SERVED sphere range with NO accompanying order-by (the bare
    // `WHERE embedding <<->> sphere(c, r)` shape): the standalone
    // Filter(sphereContains) case in AnnTopKRewrite rewrites the filter to
    // ride the index's range candidates while keeping the exact predicate.
    "range_filter_indexed" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        s.read.parquet(path)
          .filter(sphereL2Contains(col("embedding"), lv(q), lit(1.3)))
          .select(col("vec_id"), round(vecL2(col("embedding"), lv(q)), 3).as("dist"))
          .orderBy("vec_id") },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
              |ORDER BY vec_id""".stripMargin)),

    // BATCH range (the M-sphere form of strategy 2): three probe centers
    // answered by the batched range fold over the one index
    // (IvfIndex.rangeSearchManyMulti with R = 1) — one codes pass over the
    // union of intersecting cells, per-cell sphere lists, then the exact
    // cutoff over the survivors.
    "range_batch_indexed" -> Q(
      (s, d) => {
        val idx = IvfCache.get(s, d)
        val qv = qvecs(s, d, 0L to 2L)
        val qs = Array(0, 1, 2).map(i => (i.toLong, qv(i.toLong), 1.3))
        IvfIndex.rangeSearchManyMulti(Seq(idx), qs)
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("qid"), col("raw"), col("vec_id"))
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // The SQL surface of the batch range: an index nested-loop RANGE JOIN
    // — `queries JOIN docs ON vec_l2(docs.vec, q.center) < q.radius` with
    // a PER-ROW center and radius, the query text a SQL user writes for
    // "all matches within each query's own radius". AnnTopKRewrite's join
    // serve collects the (bounded) queries side at planning time, unions
    // each sphere's codes-only candidate ids, and restricts the indexed
    // side to that union while keeping the join condition — exact output,
    // no full-table nested-loop scan. Asserted in-query: a silent
    // regression to the BNL join fails the run rather than just slowing it.
    "range_join_indexed" -> Q(
      (s, d) => {
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_rj")
        val served = s.sql(
          """SELECT q.qid, e.vec_id, round(vec_l2(e.embedding, q.center), 3) AS dist
            |FROM (SELECT vec_id AS qid, embedding AS center,
            |        0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
            |      FROM emb_rj WHERE vec_id IN (0, 1, 2)) q
            |JOIN emb_rj e ON vec_l2(e.embedding, q.center) < q.radius
            |ORDER BY q.qid, vec_l2(e.embedding, q.center), e.vec_id""".stripMargin)
        // the queries-side subquery carries its own user IN — the serve
        // adds a SECOND one (the candidate union on the indexed side)
        require(candInCount(served.queryExecution.optimizedPlan.toString) >= 2,
          "range_join_indexed was NOT index-served — the join rule failed to " +
          "match the range-join shape:\n" + served.queryExecution.optimizedPlan)
        served
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
             |  0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
             |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, q.radius AS radius, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, q.radius, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < radius
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // The same range JOIN against the PARTITIONED copy (round 12): the
    // indexed side resolves through the per-child cover, all spheres x
    // all roots pool in ONE flat candidate job. Identical rows to
    // range_join_indexed (the partitioned copy holds the same data), so
    // the same oracle.
    "range_join_partitioned" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("emb_rj_part")
        val served = s.sql(
          """SELECT q.qid, e.vec_id, round(vec_l2(e.embedding, q.center), 3) AS dist
            |FROM (SELECT vec_id AS qid, embedding AS center,
            |        0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
            |      FROM emb_rj_part WHERE vec_id IN (0, 1, 2)) q
            |JOIN emb_rj_part e ON vec_l2(e.embedding, q.center) < q.radius
            |ORDER BY q.qid, vec_l2(e.embedding, q.center), e.vec_id""".stripMargin)
        require(candInCount(served.queryExecution.optimizedPlan.toString) >= 2,
          "range_join_partitioned was NOT index-served — the partitioned " +
          "range-join cover failed to match:\n" +
          served.queryExecution.optimizedPlan)
        served
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
             |  0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
             |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, q.radius AS radius, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, q.radius, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < radius
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // ---- dedup suite (training-data pipeline ops) ----

    "dedup_exact" -> Q(
      (s, d) => Dedup.exactDupGroups(tbl(s, d, "documents"), "doc_id",
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 5)).cast("binary")))
        .select(col("grp"), col("keep_id"), col("n")).orderBy("grp"),
      Some("""WITH p AS (SELECT doc_id, md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS grp FROM documents)
             |SELECT grp, min(doc_id) AS keep_id, count(*) AS n FROM p
             |GROUP BY grp HAVING count(*) > 1 ORDER BY grp""".stripMargin)),

    "dedup_jaccard" -> Q(
      (s, d) => Dedup.jaccardPairs(
          Dedup.shingles(tbl(s, d, "documents"), "doc_id", "text", 3), 0.4)
        .select(col("da"), col("db"), round(col("jac"), 3).as("jac"))
        .orderBy("da", "db"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
             |SELECT da, db, round(jac, 3) AS jac FROM j WHERE jac >= 0.4 ORDER BY da, db""".stripMargin)),

    // maxShingleFreq capped mode: stop-shingles (document frequency above
    // the cap) are REMOVED before pairing and Jaccard is computed over the
    // filtered shingle universe — the oracle applies the identical
    // df-filter in SQL, pinning the capped semantics (not just "fewer
    // pairs"): counts, intersections, and values all over filtered sets.
    "dedup_jaccard_capped" -> Q(
      (s, d) => Dedup.jaccardPairs(
          Dedup.shingles(tbl(s, d, "documents"), "doc_id", "text", 3), 0.4,
          maxShingleFreq = 4)
        .select(col("da"), col("db"), round(col("jac"), 3).as("jac"))
        .orderBy("da", "db"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh0 AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |sh AS (SELECT doc_id, s FROM sh0 QUALIFY count(*) OVER (PARTITION BY s) <= 4),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
             |SELECT da, db, round(jac, 3) AS jac FROM j WHERE jac >= 0.4 ORDER BY da, db""".stripMargin)),

    // MinHash-LSH + exact verification, oracle-checked against the full
    // exact-Jaccard pair set: verification makes false positives
    // impossible, so hash-matching the exact oracle is an end-to-end
    // no-false-negative golden for the banding scheme (the no-miss
    // property DedupSpec asserts, enforced per-round on real data).
    "dedup_minhash" -> Q(
      (s, d) => Dedup.minhashDedup(tbl(s, d, "documents"), "doc_id", "text", 0.4)
        .select(col("da"), col("db"), round(col("jac"), 3).as("jac"))
        .orderBy("da", "db"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
             |SELECT da, db, round(jac, 3) AS jac FROM j WHERE jac >= 0.4 ORDER BY da, db""".stripMargin)),

    // Connected components over the MinHash near-dup pair graph: the
    // canonical-doc assignment a dedup pipeline ends with (keep rep, drop
    // the rest). Oracle: DuckDB recursive CTE computes min-reachable-id
    // over the SAME exact-Jaccard pair set the dedup_minhash golden pins.
    "dedup_components" -> Q(
      (s, d) => Dedup.components(dedupPipe(s, d).pairs)
        .orderBy("id"),
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db),
             |p AS (SELECT da, db FROM j WHERE jac >= 0.4),
             |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db AS a, da AS b FROM p),
             |reach AS (
             |  SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM e) _v
             |  UNION
             |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b)
             |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS rep
             |FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // The cleaned table itself: documents minus non-canonical duplicates
    // (keep each cluster's min doc_id) — the end-to-end output of the
    // dedup pipeline. Oracle: same recursive-CTE labels, anti-filtered.
    "dedup_keep" -> Q(
      (s, d) => Dedup.dedupeFromLabels(tbl(s, d, "documents"), "doc_id",
          dedupPipe(s, d).labels)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db),
             |p AS (SELECT da, db FROM j WHERE jac >= 0.4),
             |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db AS a, da AS b FROM p),
             |reach AS (
             |  SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM e) _v
             |  UNION
             |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
             |lbl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
             |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
             |WHERE doc_id NOT IN (SELECT id FROM lbl WHERE id <> rep)
             |ORDER BY doc_id""".stripMargin)),

    // SimHash uses an md5-based token hash (DuckDB md5_number_lower), so
    // the ORACLE recomputes the full fingerprint in SQL: per-(doc, bit)
    // majority sign -> pairwise hamming distance. The 4-band pigeonhole
    // blocking is lossless for hamming <= 3, so the Spark output must
    // equal the exhaustive pair set — an end-to-end blocking golden.
    "dedup_simhash" -> Q(
      (s, d) => Dedup.simhashDedup(tbl(s, d, "documents"), "doc_id", "text", 3)
        .select(col("da"), col("db"), col("hamming").cast("long").as("hamming"))
        .orderBy("da", "db"),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |tw AS (SELECT doc_id, md5_number_lower(w) AS h FROM t WHERE w <> ''),
             |bits AS (SELECT doc_id, b,
             |  CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
             |  FROM tw, (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
             |p AS (SELECT a.doc_id AS da, bb.doc_id AS db,
             |  sum(CASE WHEN a.bit <> bb.bit THEN 1 ELSE 0 END) AS hamming
             |  FROM bits a JOIN bits bb ON a.b = bb.b AND a.doc_id < bb.doc_id GROUP BY 1, 2)
             |SELECT da, db, CAST(hamming AS BIGINT) AS hamming FROM p
             |WHERE hamming <= 3 ORDER BY da, db""".stripMargin)),

    "dedup_embedding" -> Q(
      (s, d) => Dedup.embeddingNearDup(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.5)
        .select(col("da"), col("db"), round(col("cosdist"), 3).as("cosdist"))
        .orderBy("da", "db"),
      Some("""WITH e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |n AS (SELECT vec_id, sqrt(sum(power(CAST(embedding[i+1] AS DOUBLE), 2))) AS nrm FROM e GROUP BY vec_id),
             |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |  sum(CAST(a.embedding[a.i+1] AS DOUBLE) * CAST(b.embedding[a.i+1] AS DOUBLE)) AS dot
             |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
             |SELECT va AS da, vb AS db, round(1.0 - dot / (na.nrm * nb.nrm), 3) AS cosdist
             |FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb
             |WHERE 1.0 - dot / (na.nrm * nb.nrm) < 0.5 ORDER BY da, db""".stripMargin)),

    // Random-hyperplane LSH path against the same EXACT all-pairs oracle:
    // the cosine verify makes false positives impossible, so hash-matching
    // the exact pair set is an end-to-end no-false-negative golden for the
    // bucketing (this data's near-dup pairs sit at cosdist 0.40-0.50,
    // hyperplane LSH's worst case — 4-bit keys x 16 tables is the
    // operating point that still catches them all; real near-dups at
    // cosdist < 0.1 are caught with far fewer tables).
    "dedup_embedding_lsh" -> Q(
      (s, d) => Dedup.embeddingNearDup(tbl(s, d, "embeddings"), "vec_id", "embedding", 0.5,
          lshBits = 4, lshTables = 16)
        .select(col("da"), col("db"), round(col("cosdist"), 3).as("cosdist"))
        .orderBy("da", "db"),
      Some("""WITH e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |n AS (SELECT vec_id, sqrt(sum(power(CAST(embedding[i+1] AS DOUBLE), 2))) AS nrm FROM e GROUP BY vec_id),
             |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |  sum(CAST(a.embedding[a.i+1] AS DOUBLE) * CAST(b.embedding[a.i+1] AS DOUBLE)) AS dot
             |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
             |SELECT va AS da, vb AS db, round(1.0 - dot / (na.nrm * nb.nrm), 3) AS cosdist
             |FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb
             |WHERE 1.0 - dot / (na.nrm * nb.nrm) < 0.5 ORDER BY da, db""".stripMargin)),

    // The round-8 flagship composition — every NEW curation stage in one
    // pipeline, hash-matched against a single DuckDB CTE chain:
    // Unicode-normalize -> bigram-LM perplexity gate (en LM) ->
    // cross-corpus near-dup drop vs the eval slice -> DSIR top-100
    // toward the en distribution.
    "curate_corpus_v2" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val nd = docs.select(col("doc_id"), col("lang"), col("source"),
          TextOps.normalizeText(col("text"), "nfc", lower = true,
            stripAccents = true).as("tn"))
        // persist the stage boundaries: the model-building stages
        // (bigram-LM + DSIR histograms) COLLECT driver-side, and without
        // materialization each collect re-runs normalize + every earlier
        // gate — measured ~6 upstream recomputations across the chain.
        // Exactly what a production pipeline does between stages.
        val evalDf = nd.filter(col("doc_id") % 7 === 0)
        val train = nd.filter(col("doc_id") % 7 =!= 0).persist()
        val enLm = train.filter(col("lang") === "en")
        // ONE pass over the LM corpus feeds BOTH models (r18): the
        // bigram LM's `cb` histogram IS the n=2 shingle histogram DSIR
        // needs for its target side — identical md5 buckets and counts
        // (LmExprKernels: head2(a, b) == windowHead over [a, b]) — so
        // the DSIR stage below skips its own enLm pass + collect.
        val lm = Curation.ngramLm(enLm, "tn", buckets = 256)
        val scored = Curation.ngramCrossEntropyWithLm(train, "doc_id", "tn",
          lm, alpha = 0.1)
        val gated = train.join(
          scored.filter(col("xent") <= 2.15).select("doc_id"), Seq("doc_id"))
          .persist()
        val dupHits = Dedup.minhashDedupAgainst(gated, "doc_id", "tn",
            evalDf, "doc_id", "tn", 0.4)
          .select(col("da").as("doc_id")).distinct()
        val dd = gated.join(dupHits, Seq("doc_id"), "left_anti").persist()
        Curation.dsirResample(dd, "doc_id", "tn", enLm, "tn", nKeep = 100,
            n = 2, buckets = 256, alpha = 0.01, targetHist = Some(lm._1))
          .select(col("doc_id"), (round(col("weight"), 3) + 0.0).as("weight"))
          .orderBy("doc_id")
      },
      Some("""WITH nd AS (SELECT doc_id, lang, source, lower(strip_accents(nfc_normalize(text))) AS tn FROM documents),
             |tr AS (SELECT * FROM nd WHERE doc_id % 7 <> 0),
             |lt AS (SELECT string_split(tn, ' ') AS t FROM tr WHERE lang = 'en'),
             |lb AS (SELECT CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1]),1,8)) AS BIGINT) % 256 AS b
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM lt) _a),
             |cb AS (SELECT b, count(*) AS c FROM lb GROUP BY b),
             |lc AS (SELECT CAST(concat('0x', substr(md5(t[i]),1,8)) AS BIGINT) % 256 AS b
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM lt) _c),
             |cu AS (SELECT b, count(*) AS c FROM lc GROUP BY b),
             |dk AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
             |  FROM (SELECT doc_id, string_split(tn, ' ') AS t FROM tr) _d),
             |q AS (SELECT doc_id,
             |  CAST(concat('0x', substr(md5(t[i]),1,8)) AS BIGINT) % 256 AS b1,
             |  CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1]),1,8)) AS BIGINT) % 256 AS b2
             |  FROM dk),
             |sc AS (SELECT doc_id, ln((coalesce(cb.c, 0) + 0.1) / (coalesce(cu.c, 0) + 0.1 * 256)) AS lp
             |  FROM q LEFT JOIN cb ON cb.b = q.b2 LEFT JOIN cu ON cu.b = q.b1),
             |x AS (SELECT doc_id, -sum(lp) / count(*) AS xe FROM sc GROUP BY 1),
             |gated AS (SELECT tr.* FROM tr JOIN x ON x.doc_id = tr.doc_id WHERE x.xe <= 2.15),
             |t3 AS (SELECT doc_id, string_split(tn, ' ') AS toks FROM nd),
             |x3 AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t3 WHERE len(toks) >= 3),
             |s3 AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh FROM x3),
             |c3 AS (SELECT doc_id, count(*) AS n FROM s3 GROUP BY 1),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM s3 a
             |  JOIN s3 b ON a.sh = b.sh AND a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             |  WHERE a.doc_id IN (SELECT doc_id FROM gated) GROUP BY 1, 2),
             |hits AS (SELECT DISTINCT da FROM inter
             |  JOIN c3 ca ON ca.doc_id = da JOIN c3 cc ON cc.doc_id = db
             |  WHERE CAST(i AS DOUBLE) / (ca.n + cc.n - i) >= 0.4),
             |dd AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT da FROM hits)),
             |g2 AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
             |        FROM (SELECT doc_id, string_split(tn, ' ') AS t FROM dd) _q) _g),
             |bk AS (SELECT doc_id, CAST(concat('0x', substr(md5(g),1,8)) AS BIGINT) % 256 AS b FROM g2),
             |tg AS (SELECT CAST(concat('0x', substr(md5(array_to_string(t[i:i+1], ' ')),1,8)) AS BIGINT) % 256 AS b
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM lt) _t),
             |tc AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
             |rc AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
             |tot AS (SELECT (SELECT sum(ct) FROM tc) AS tt, (SELECT sum(cr) FROM rc) AS rt),
             |lr AS (SELECT rc.b AS b,
             |  ln((coalesce(tc.ct, 0) + 0.01) / (tot.tt + 0.01 * 256)) -
             |  ln((rc.cr + 0.01) / (tot.rt + 0.01 * 256)) AS w
             |  FROM rc CROSS JOIN tot LEFT JOIN tc ON tc.b = rc.b),
             |wt AS (SELECT bk.doc_id, sum(lr.w) AS wv FROM bk JOIN lr ON lr.b = bk.b GROUP BY 1),
             |sel AS (SELECT doc_id, wv FROM (SELECT doc_id, wv,
             |    wv - ln(-ln(CAST(concat('0x', substr(md5(concat('dsir:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0)) AS k
             |  FROM wt) _s ORDER BY k DESC, doc_id LIMIT 100)
             |SELECT doc_id, round(wv, 3) + 0.0 AS weight FROM sel ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity filtering: cross-entropy of every document
    // under a hashed bigram LM trained on the en slice. The oracle
    // rebuilds both histograms and re-scores every bigram from scratch.
    "lm_xent" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Curation.ngramCrossEntropy(docs, "doc_id", "text",
            docs.filter(col("lang") === "en"), "text",
            buckets = 256, alpha = 0.1)
          .select(col("doc_id"), col("n_bigrams"),
            (round(col("xent"), 3) + 0.0).as("xent"))
          .orderBy("doc_id")
      },
      Some("""WITH lt AS (SELECT string_split(text, ' ') AS t FROM documents WHERE lang = 'en'),
             |lb AS (SELECT CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1]),1,8)) AS BIGINT) % 256 AS b
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM lt) _a),
             |cb AS (SELECT b, count(*) AS c FROM lb GROUP BY b),
             |lc AS (SELECT CAST(concat('0x', substr(md5(t[i]),1,8)) AS BIGINT) % 256 AS b
             |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM lt) _c),
             |cu AS (SELECT b, count(*) AS c FROM lc GROUP BY b),
             |dk AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) _d),
             |q AS (SELECT doc_id,
             |  CAST(concat('0x', substr(md5(t[i]),1,8)) AS BIGINT) % 256 AS b1,
             |  CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1]),1,8)) AS BIGINT) % 256 AS b2
             |  FROM dk),
             |sc AS (SELECT doc_id,
             |  ln((coalesce(cb.c, 0) + 0.1) / (coalesce(cu.c, 0) + 0.1 * 256)) AS lp
             |  FROM q LEFT JOIN cb ON cb.b = q.b2 LEFT JOIN cu ON cu.b = q.b1),
             |w AS (SELECT doc_id, count(*) AS n_bigrams, -sum(lp) / count(*) AS xe FROM sc GROUP BY 1)
             |SELECT doc_id, n_bigrams, round(xe, 3) + 0.0 AS xent FROM w ORDER BY doc_id""".stripMargin)),

    // Cross-corpus dedup: odd doc_ids are the "new crawl", even ids the
    // held corpus — pairs must cross sides only. The oracle is the same
    // exact-Jaccard no-false-negative form as dedup_minhash restricted
    // to cross-parity pairs.
    "dedup_against" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Dedup.minhashDedupAgainst(
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 0.4)
          .select(col("da"), col("db"), round(col("jac"), 3).as("jac"))
          .orderBy("da", "db")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |x AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 2)) AS i FROM t WHERE len(toks) >= 3),
             |sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s FROM x),
             |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i FROM sh a
             |  JOIN sh b ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2),
             |j AS (SELECT da, db, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jac FROM inter
             |  JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
             |SELECT da, db, round(jac, 3) AS jac FROM j WHERE jac >= 0.4 ORDER BY da, db""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-then-dedup — near-dup pairs
    // searched only WITHIN each embedding cluster. The golden pins the
    // full algorithm (assignment argmin + in-cluster pair search) with
    // deterministic per-label mean centroids the oracle recomputes from
    // scratch; production uses KMeans centroids (Dedup.semDedupAuto).
    "semdedup" -> Q(
      (s, d) => {
        val e = tbl(s, d, "embeddings")
        val cents = labelCentroids(e)
        Dedup.semDedup(e, "vec_id", "embedding", 0.6, cents)
          .select(col("cluster"), col("da"), col("db"),
            round(col("cosdist"), 3).as("cosdist"))
          .orderBy("da", "db")
      },
      // centroid components round through REAL exactly like the engine's
      // float centroid arrays; every distance accumulates in double on
      // both sides. Assignment ties break (cd, cid) = array_position's
      // first minimum.
      Some("""WITH e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |cm AS (SELECT label AS cid, i,
             |  CAST(CAST(avg(CAST(embedding[i+1] AS DOUBLE)) AS REAL) AS DOUBLE) AS cv
             |  FROM (SELECT label, embedding, unnest(range(0, 64)) AS i FROM embeddings) GROUP BY 1, 2),
             |ad AS (SELECT e.vec_id, cm.cid,
             |  1.0 - sum(CAST(e.embedding[e.i+1] AS DOUBLE) * cm.cv)
             |      / (sqrt(sum(power(CAST(e.embedding[e.i+1] AS DOUBLE), 2))) * sqrt(sum(power(cm.cv, 2)))) AS cd
             |  FROM e JOIN cm ON e.i = cm.i GROUP BY 1, 2),
             |asn AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |  row_number() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS rn FROM ad) t WHERE rn = 1),
             |pp AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
             |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id),
             |n AS (SELECT vec_id, sqrt(sum(power(CAST(embedding[i+1] AS DOUBLE), 2))) AS nrm FROM e GROUP BY vec_id),
             |p AS (SELECT pp.cid, pp.va, pp.vb,
             |  sum(CAST(a.embedding[a.i+1] AS DOUBLE) * CAST(b.embedding[a.i+1] AS DOUBLE)) AS dot
             |  FROM pp JOIN e a ON a.vec_id = pp.va JOIN e b ON b.vec_id = pp.vb AND b.i = a.i
             |  GROUP BY 1, 2, 3)
             |SELECT CAST(p.cid AS INT) AS cluster, va AS da, vb AS db,
             |  round(1.0 - dot / (na.nrm * nb.nrm), 3) AS cosdist
             |FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb
             |WHERE 1.0 - dot / (na.nrm * nb.nrm) < 0.6 ORDER BY da, db""".stripMargin)),

    // End-to-end SEMANTIC dedup: semDedup pairs -> connected components
    // -> cleaned table (the semantic analogue of dedup_keep; oracle
    // replays assignment, in-cluster pairs, and min-reachable-id via a
    // recursive CTE, then anti-selects non-canonical ids).
    "semdedup_keep" -> Q(
      (s, d) => {
        val e = tbl(s, d, "embeddings")
        val cents = labelCentroids(e)
        val pairs = Dedup.semDedup(e, "vec_id", "embedding", 0.6, cents)
        Dedup.dedupe(e, "vec_id", pairs)
          .select(col("vec_id").cast("long").as("vec_id"))
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |cm AS (SELECT label AS cid, i,
             |  CAST(CAST(avg(CAST(embedding[i+1] AS DOUBLE)) AS REAL) AS DOUBLE) AS cv
             |  FROM (SELECT label, embedding, unnest(range(0, 64)) AS i FROM embeddings) GROUP BY 1, 2),
             |ad AS (SELECT e.vec_id, cm.cid,
             |  1.0 - sum(CAST(e.embedding[e.i+1] AS DOUBLE) * cm.cv)
             |      / (sqrt(sum(power(CAST(e.embedding[e.i+1] AS DOUBLE), 2))) * sqrt(sum(power(cm.cv, 2)))) AS cd
             |  FROM e JOIN cm ON e.i = cm.i GROUP BY 1, 2),
             |asn AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |  row_number() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS rn FROM ad) t WHERE rn = 1),
             |pp AS (SELECT a.vec_id AS va, b.vec_id AS vb
             |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id),
             |n AS (SELECT vec_id, sqrt(sum(power(CAST(embedding[i+1] AS DOUBLE), 2))) AS nrm FROM e GROUP BY vec_id),
             |pd AS (SELECT pp.va, pp.vb,
             |  sum(CAST(a.embedding[a.i+1] AS DOUBLE) * CAST(b.embedding[a.i+1] AS DOUBLE)) AS dot
             |  FROM pp JOIN e a ON a.vec_id = pp.va JOIN e b ON b.vec_id = pp.vb AND b.i = a.i
             |  GROUP BY 1, 2),
             |p AS (SELECT va AS da, vb AS db FROM pd
             |  JOIN n na ON na.vec_id = pd.va JOIN n nb ON nb.vec_id = pd.vb
             |  WHERE 1.0 - dot / (na.nrm * nb.nrm) < 0.6),
             |ed AS (SELECT da AS a, db AS b FROM p UNION SELECT db AS a, da AS b FROM p),
             |reach AS (
             |  SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM ed) _v
             |  UNION
             |  SELECT ed.a AS id, reach.r FROM ed JOIN reach ON reach.id = ed.b),
             |lbl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
             |SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
             |WHERE vec_id NOT IN (SELECT id FROM lbl WHERE id <> rep)
             |ORDER BY vec_id""".stripMargin)),

    // Diversity filtering (the SemDeDup paper's companion op): cluster
    // embeddings, keep a deterministic per-cluster quota — assignment via
    // the same label-mean centroids, quota via capPerKey over the md5
    // unit hash (the skew-safe non-window top-n).
    "cluster_diversify" -> Q(
      (s, d) => {
        val e = tbl(s, d, "embeddings")
        val cents = labelCentroids(e)
        val assigned = Dedup.assignClusters(e, "vec_id", "embedding", cents)
          .select(col("id").as("vec_id"), col("cluster"))
          .withColumn("u", Curation.hashUnit(col("vec_id"), "div"))
        Curation.capPerKey(assigned, "cluster", "u", 20)
          .select(col("vec_id"), col("cluster"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |cm AS (SELECT label AS cid, i,
             |  CAST(CAST(avg(CAST(embedding[i+1] AS DOUBLE)) AS REAL) AS DOUBLE) AS cv
             |  FROM (SELECT label, embedding, unnest(range(0, 64)) AS i FROM embeddings) GROUP BY 1, 2),
             |ad AS (SELECT e.vec_id, cm.cid,
             |  1.0 - sum(CAST(e.embedding[e.i+1] AS DOUBLE) * cm.cv)
             |      / (sqrt(sum(power(CAST(e.embedding[e.i+1] AS DOUBLE), 2))) * sqrt(sum(power(cm.cv, 2)))) AS cd
             |  FROM e JOIN cm ON e.i = cm.i GROUP BY 1, 2),
             |asn AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |  row_number() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS rn FROM ad) t WHERE rn = 1),
             |u AS (SELECT vec_id, cid,
             |  CAST(concat('0x', substr(md5(concat('div:', CAST(vec_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0 AS uu
             |  FROM asn),
             |sel AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |  row_number() OVER (PARTITION BY cid ORDER BY uu) AS rn FROM u) _t WHERE rn <= 20)
             |SELECT vec_id, CAST(cid AS INT) AS cluster FROM sel ORDER BY vec_id""".stripMargin)),

    // ---- text analysis suite ----

    // Unicode normalization: NFC + accent strip + lower over text with a
    // PLANTED precomposed-É / decomposed-e+U+0301 prefix — the oracle
    // replays it through DuckDB's nfc_normalize/strip_accents/lower.
    "normalize_text" -> Q(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"),
          TextOps.normalizeText(
            concat(lit("CAFÉ Naïve Ça Café "), col("text")),
            "nfc", lower = true, stripAccents = true).as("text_norm"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  lower(strip_accents(nfc_normalize('CAF' || chr(201) || ' Na' || chr(239) || 've ' || chr(199) || 'a Cafe' || chr(769) || ' ' || text))) AS text_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "lang_id" -> Q(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some {
        val cases = TextOps.stopwords.map { case (lang, words) =>
          s"sum(CASE WHEN w IN (${words.map(w => s"'$w'").mkString(", ")}) THEN 1 ELSE 0 END) AS $lang"
        }.mkString(",\n  ")
        val langs = TextOps.stopwords.map(_._1)
        val g = s"greatest(${langs.mkString(", ")})"
        val branches = langs.map(l => s"WHEN $l = $g THEN '$l'").mkString(" ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           |s AS (SELECT doc_id,
           |  $cases
           |  FROM t GROUP BY doc_id)
           |SELECT doc_id, CASE WHEN $g = 0 THEN 'und' $branches ELSE 'und' END AS lang_pred
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    "text_quality" -> Q(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TextOps.avgTokenLen(col("text")), 3).as("avg_len"),
          round(TextOps.stopRatio(col("text")), 3).as("stop_ratio"),
          round(TextOps.qualityScore(col("text")), 3).as("score"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              |h AS (SELECT doc_id, sum(CASE WHEN w IN ($enList) THEN 1 ELSE 0 END) AS hits, count(*) AS n FROM t GROUP BY doc_id),
              |c AS (SELECT doc_id, CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nc FROM documents)
              |SELECT h.doc_id AS doc_id, CAST(h.n AS BIGINT) AS n_tokens,
              |  round(c.nc / h.n, 3) AS avg_len,
              |  round(CAST(h.hits AS DOUBLE) / h.n, 3) AS stop_ratio,
              |  round(least(1.0, CAST(h.n AS DOUBLE) / 100.0) * (0.5 + 0.5 * (CAST(h.hits AS DOUBLE) / h.n)), 3) AS score
              |FROM h JOIN c ON c.doc_id = h.doc_id ORDER BY doc_id""".stripMargin)),

    "token_count" -> Q(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_ws"),
          TextOps.bpeTokenCount(col("n_chars")).as("n_bpe"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             |CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe FROM documents ORDER BY doc_id""".stripMargin)),

    "fingerprint" -> Q(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id")),

    // ---- training-data curation (ops/Curation.scala): benchmark
    // decontamination, deterministic mix sampling, context-window
    // chunking, repetition signals — all native column functions ----

    // Benchmark decontamination: docs sharing >= 2 distinct trigram
    // shingles with the "benchmark" slice (doc_id % 37 == 0). The corpus
    // side never shuffles wide data: distinct eval shingles broadcast,
    // overlap counts aggregate contaminated ids only.
    "decontaminate" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Curation.decontaminate(
          docs.filter(col("doc_id") % 37 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 37 === 0), "text",
          n = 3, minOverlap = 2)
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
             |ix AS (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i FROM tk),
             |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh FROM ix),
             |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0),
             |ds AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 37 <> 0)
             |SELECT ds.doc_id AS doc_id, count(*) AS n_overlap
             |FROM ds JOIN ev ON ds.sh = ev.sh
             |GROUP BY 1 HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin)),

    // Deterministic weighted training-mix sampling: md5-hash unit keys,
    // per-source rates (down-weight src0, boost src1, drop src2, half
    // everything else) — reproducible row-for-row in any md5-bearing
    // engine, no RNG state, no shuffle.
    "sample_mix" -> Q(
      (s, d) => Curation.sampleMix(tbl(s, d, "documents"), "doc_id", "source",
          Map("src0" -> 0.2, "src1" -> 0.8, "src2" -> 0.0), defaultRate = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |WHERE CAST(concat('0x', substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0
             |  < (CASE WHEN source = 'src0' THEN 0.2 WHEN source = 'src1' THEN 0.8
             |          WHEN source = 'src2' THEN 0.0 ELSE 0.5 END)
             |ORDER BY doc_id""".stripMargin)),

    // Span-level decontamination: remove eval-set trigram spans from the
    // train docs instead of dropping the docs.
    "decon_spans" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Curation.decontaminateSpans(
            docs.filter(col("doc_id") % 37 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 37 === 0), "text", k = 3)
          .select(col("doc_id"), md5(col("text_clean").cast("binary")).as("fp"),
            col("n_removed"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |ix AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tk),
             |sh AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS sh FROM ix),
             |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0),
             |cov AS (SELECT DISTINCT s.doc_id, unnest(range(s.i, s.i + 3)) AS p
             |        FROM sh s JOIN ev ON s.sh = ev.sh WHERE s.doc_id % 37 <> 0),
             |tr AS (SELECT doc_id, t FROM tk WHERE doc_id % 37 <> 0),
             |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tr),
             |kept AS (SELECT pos.doc_id, pos.p, pos.t[pos.p] AS w FROM pos
             |         LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
             |         WHERE cov.p IS NULL),
             |agg AS (SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS clean,
             |        count(*) AS nk FROM kept GROUP BY doc_id)
             |SELECT tr.doc_id AS doc_id, md5(coalesce(agg.clean, '')) AS fp,
             |  CAST(len(tr.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
             |FROM tr LEFT JOIN agg ON tr.doc_id = agg.doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher rules (Rae et al. 2021 A1.1) over documents with PLANTED
    // line/bullet/ellipsis/symbol structure (deterministic replaces both
    // engines run identically); every signal + the keep decision
    // recomputed from scratch by the oracle.
    "gopher_rules" -> Q(
      (s, d) => {
        val tx = replace(replace(replace(col("text"),
            lit(" value "), lit("\n- ")),
            lit(" slow "), lit("...\n")),
            lit(" fast "), lit(" # "))
        val g = Curation.gopherRules(tx)
        // arithmetic 3dp rounding (floor(x*1000+0.5)/1000): Spark's
        // round() rounds the double's DECIMAL string (4.0375 -> 4.038)
        // while DuckDB rounds the binary double (…749999 -> 4.037);
        // this form evaluates identically on the identical doubles
        def r3(c: Column) = floor(c * 1000 + 0.5) / 1000
        tbl(s, d, "documents")
          .select(col("doc_id"), g.nWords.as("n_words"),
            r3(g.meanWordLen).as("mean_len"),
            r3(g.symbolRatio).as("symbol_ratio"),
            r3(g.bulletFrac).as("bullet_frac"),
            r3(g.ellipsisFrac).as("ellipsis_frac"),
            r3(g.alphaFrac).as("alpha_frac"),
            g.stopHits.as("stop_hits"), g.keep.as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH p AS (SELECT doc_id, replace(replace(replace(text, ' value ', chr(10) || '- '), ' slow ', '...' || chr(10)), ' fast ', ' # ') AS tx FROM documents),
             |w AS (SELECT doc_id, tx,
             |  string_split_regex(tx, '[ ' || chr(10) || ']') AS ws,
             |  string_split(tx, chr(10)) AS ls FROM p),
             |s AS (SELECT doc_id, len(ws) AS nw,
             |  CAST(length(regexp_replace(tx, '[ ' || chr(10) || ']', '', 'g')) AS DOUBLE) / len(ws) AS ml,
             |  (CAST(length(tx) - length(replace(tx, '#', '')) AS DOUBLE)
             |   + (length(tx) - length(replace(tx, '...', ''))) / 3) / len(ws) AS sym,
             |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE) / len(ls) AS bf,
             |  CAST(len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS DOUBLE) / len(ls) AS ef,
             |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(ws) AS af,
             |  len(list_filter(ws, x -> x IN ($enList))) AS sh
             |  FROM w)
             |SELECT doc_id, CAST(nw AS BIGINT) AS n_words, floor(ml * 1000 + 0.5) / 1000 AS mean_len,
             |  floor(sym * 1000 + 0.5) / 1000 AS symbol_ratio, floor(bf * 1000 + 0.5) / 1000 AS bullet_frac,
             |  floor(ef * 1000 + 0.5) / 1000 AS ellipsis_frac, floor(af * 1000 + 0.5) / 1000 AS alpha_frac,
             |  CAST(sh AS BIGINT) AS stop_hits,
             |  ((nw BETWEEN 50 AND 100000) AND (ml BETWEEN 3 AND 10) AND sym <= 0.1
             |   AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2) AS keep
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test assignment by cumulative hash ranges.
    "assign_split" -> Q(
      (s, d) => Curation.assignSplit(tbl(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |  CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0 AS u
             |  FROM documents) _u ORDER BY doc_id""".stripMargin)),

    // DSIR (Xie et al. 2023): hashed-bigram importance weights of every
    // document against a target slice (the zh docs), and the
    // deterministic Gumbel-top-k selection over those weights. The
    // oracle rebuilds both hashed histograms, the smoothed log-ratio
    // table, and the per-doc sums from scratch.
    "dsir_weights" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Curation.importanceWeights(docs, "doc_id", "text",
            docs.filter(col("lang") === "zh"), "text",
            n = 2, buckets = 256, alpha = 0.01)
          .select(col("doc_id"), col("n_shingles"),
            round(col("weight"), 3).as("weight"))
          .orderBy("doc_id")
      },
      Some(s"""$dsirCte
             |SELECT doc_id, n_shingles, round(wt, 3) + 0.0 AS weight FROM w ORDER BY doc_id""".stripMargin)),

    "dsir_sample" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        Curation.dsirResample(docs, "doc_id", "text",
            docs.filter(col("lang") === "zh"), "text", nKeep = 200,
            n = 2, buckets = 256, alpha = 0.01)
          .select(col("doc_id"), (round(col("weight"), 3) + 0.0).as("weight"))
          .orderBy("doc_id")
      },
      Some(s"""$dsirCte,
             |s AS (SELECT doc_id, wt,
             |  wt - ln(-ln(CAST(concat('0x', substr(md5(concat('dsir:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0)) AS k
             |  FROM w),
             |sel AS (SELECT doc_id, wt FROM s ORDER BY k DESC, doc_id LIMIT 200)
             |SELECT doc_id, round(wt, 3) + 0.0 AS weight FROM sel ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 32-token windows every 24 tokens (8-token
    // overlap); every token covered, short tails kept, chunk_no 0-based.
    "chunk_docs" -> Q(
      (s, d) => Curation.chunkTokens(tbl(s, d, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_no"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
             |c AS (SELECT doc_id, t, len(t) AS n,
             |  CASE WHEN len(t) <= 32 THEN 1 ELSE CAST(ceil((len(t)-32)/24.0) AS BIGINT)+1 END AS nc FROM tk),
             |e AS (SELECT doc_id, t, n, unnest(range(0, nc)) AS chunk_no FROM c)
             |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
             |  array_to_string(t[chunk_no*24+1 : chunk_no*24+32], ' ') AS chunk_text,
             |  CAST(least(n - chunk_no*24, 32) AS BIGINT) AS n_tokens
             |FROM e ORDER BY doc_id, chunk_no""".stripMargin)),

    // Gopher-style repetition/diversity signals per doc.
    "text_repetition" -> Q(
      (s, d) => {
        val (topFrac, distinctRatio, dupGram) =
          Curation.repetitionSignals(col("text"))
        tbl(s, d, "documents")
          .select(col("doc_id"),
            round(topFrac, 3).as("top_word_frac"),
            round(distinctRatio, 3).as("distinct_ratio"),
            round(dupGram, 3).as("dup_2gram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
             |wc AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1,2),
             |s AS (SELECT doc_id, max(c) AS topc, count(*) AS nd, sum(c) AS n FROM wc GROUP BY 1),
             |tk AS (SELECT doc_id, string_split(text,' ') AS tt FROM documents),
             |gx AS (SELECT doc_id, tt, unnest(range(1, len(tt))) AS i FROM tk),
             |g AS (SELECT doc_id, array_to_string(tt[i:i+1],' ') AS gm FROM gx),
             |g2 AS (SELECT doc_id, count(*) AS ng, count(DISTINCT gm) AS ndg FROM g GROUP BY 1)
             |SELECT s.doc_id AS doc_id, round(CAST(topc AS DOUBLE)/n, 3) AS top_word_frac,
             | round(CAST(nd AS DOUBLE)/n, 3) AS distinct_ratio,
             | round(CASE WHEN ng IS NULL OR ng = 0 THEN 0.0 ELSE 1.0 - CAST(ndg AS DOUBLE)/ng END, 3) AS dup_2gram_frac
             |FROM s LEFT JOIN g2 ON s.doc_id = g2.doc_id ORDER BY doc_id""".stripMargin)),

    // The FLAGSHIP curation pipeline: every stage a real training-data
    // pipeline runs, composed end-to-end and hash-matched against one
    // oracle — signals filter (length + repetition), prefix-5 exact
    // dedup (canonical = min doc_id), benchmark decontamination vs the
    // eval slice, then deterministic mix sampling. Scale shape: two
    // narrow scans + one dedup shuffle + one broadcast semi-join — no
    // stage is corpus x corpus.
    "curate_corpus" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
        val train = docs.filter(col("doc_id") % 37 =!= 0)
        val evalDf = docs.filter(col("doc_id") % 37 === 0)
        val (topF, _, _) = Curation.repetitionSignals(col("text"))
        val signaled = train
          .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
          .filter(col("n_tokens") >= 15 && topF <= 0.13)
        // same grouping key as dedup_exact: md5 of the first 5 tokens
        val grp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 5)).cast("binary"))
        val canon = signaled.withColumn("__keep", min(col("doc_id")).over(Window.partitionBy(grp)))
          .filter(col("doc_id") === col("__keep")).drop("__keep")
        val clean = Curation.decontaminateKeep(canon, "doc_id", "text", evalDf, "text",
          n = 3, minOverlap = 2)
        Curation.sampleMix(clean, "doc_id", "source", Map("src0" -> 0.2), defaultRate = 0.9)
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH train AS (SELECT * FROM documents WHERE doc_id % 37 <> 0),
             |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM train),
             |wc AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1,2),
             |sig AS (SELECT doc_id, max(c) AS topc, sum(c) AS n FROM wc GROUP BY 1),
             |keepsig AS (SELECT d.doc_id, d.source, d.text, s.n AS n_tokens
             |  FROM train d JOIN sig s ON d.doc_id = s.doc_id
             |  WHERE s.n >= 15 AND CAST(s.topc AS DOUBLE)/s.n <= 0.13),
             |pfx AS (SELECT doc_id, md5(array_to_string(string_split(text,' ')[1:5], ' ')) AS grp FROM keepsig),
             |canon AS (SELECT k.* FROM keepsig k JOIN
             |  (SELECT grp, min(doc_id) AS keep_id FROM pfx GROUP BY grp) g
             |  ON md5(array_to_string(string_split(k.text,' ')[1:5], ' ')) = g.grp AND k.doc_id = g.keep_id),
             |tk AS (SELECT doc_id, string_split(text,' ') AS tt FROM documents),
             |ix AS (SELECT doc_id, tt, unnest(range(1, len(tt)-1)) AS i FROM tk),
             |sh AS (SELECT doc_id, array_to_string(tt[i:i+2], ' ') AS sh FROM ix),
             |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0),
             |ds AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 37 <> 0),
             |contaminated AS (SELECT ds.doc_id FROM ds JOIN ev ON ds.sh = ev.sh GROUP BY 1 HAVING count(*) >= 2),
             |clean AS (SELECT * FROM canon WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
             |mixed AS (SELECT doc_id, source, n_tokens FROM clean
             |  WHERE CAST(concat('0x', substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0
             |    < (CASE WHEN source = 'src0' THEN 0.2 ELSE 0.9 END))
             |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens FROM mixed ORDER BY doc_id""".stripMargin)),

    // PII redaction: the docs text carries no PII, so the query plants
    // deterministic PII (email on even ids, an IPv4 always, a phone on
    // ids % 3 == 0) and both engines redact it with the same
    // Java-regex/RE2-compatible patterns. n_pii varies 1..3 per row and
    // the md5 fingerprint pins the exact replacement spans.
    "redact_pii" -> Q(
      (s, d) => {
        val aug = tbl(s, d, "documents").withColumn("__aug",
          concat(col("text"),
            when(col("doc_id") % 2 === 0,
              concat(lit(" mail u"), col("doc_id").cast("string"), lit("@ex.org")))
              .otherwise(lit("")),
            lit(" ip 10.1."), (col("doc_id") % 256).cast("string"), lit(".9"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" tel 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234")))
              .otherwise(lit(""))))
        val (red, n) = Curation.redactPii(col("__aug"))
        aug.select(col("doc_id"), md5(red.cast("binary")).as("fp"), n.as("n_pii"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (SELECT doc_id, concat(text,
             |    CASE WHEN doc_id % 2 = 0 THEN concat(' mail u', CAST(doc_id AS VARCHAR), '@ex.org') ELSE '' END,
             |    ' ip 10.1.', CAST(doc_id % 256 AS VARCHAR), '.9',
             |    CASE WHEN doc_id % 3 = 0 THEN concat(' tel 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-1234') ELSE '' END
             |  ) AS t FROM documents),
             |s1 AS (SELECT doc_id, t, regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM aug),
             |s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2 FROM s1),
             |s3 AS (SELECT doc_id, t, t1, t2, regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t3 FROM s2)
             |SELECT doc_id, md5(t3) AS fp,
             |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |     + len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             |     + len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_pii
             |FROM s3 ORDER BY doc_id""".stripMargin)),

    // C4-style line cleaning: the docs text is single-line, so the query
    // first manufactures lines deterministically (every ' value ' becomes
    // '.\n' in BOTH engines), then keeps lines with >= 4 words ending in
    // terminal punctuation. Kept/total counts + cleaned-text fingerprint.
    "clean_lines" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .withColumn("__ml", expr("replace(text, ' value ', concat('.', chr(10)))"))
        val (cleaned, kept, total) = Curation.cleanLines(col("__ml"), minWords = 4)
        docs.select(col("doc_id"), md5(cleaned.cast("binary")).as("fp"),
            kept.as("n_kept"), total.as("n_lines"))
          .orderBy("doc_id")
      },
      Some("""WITH ml AS (SELECT doc_id, replace(text, ' value ', '.' || chr(10)) AS t FROM documents),
             |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM ml),
             |k AS (SELECT doc_id, lines, list_filter(lines, l ->
             |    len(string_split(l, ' ')) >= 4 AND regexp_matches(l, '[.!?"'']$')
             |    AND NOT contains(lower(l), 'lorem ipsum') AND NOT contains(lower(l), '{')) AS kept FROM ls)
             |SELECT doc_id, md5(coalesce(array_to_string(kept, chr(10)), '')) AS fp,
             |  CAST(len(kept) AS BIGINT) AS n_kept, CAST(len(lines) AS BIGINT) AS n_lines
             |FROM k ORDER BY doc_id""".stripMargin)),

    // EXACT SUBSTRING dedup (Lee et al. 2022): remove tokens covered by
    // any 5-token shingle occurring >= 2 times corpus-wide. The oracle
    // recomputes the duplicated-shingle set and the covered positions
    // from scratch in SQL.
    "dedup_substrings" -> Q(
      (s, d) => Curation.substringDedup(tbl(s, d, "documents"), "doc_id", "text",
          k = 5, minCount = 2)
        .select(col("doc_id"), md5(col("text_clean").cast("binary")).as("fp"),
          col("n_removed"))
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |ix AS (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM tk),
             |sh AS (SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS sh FROM ix),
             |dup AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) >= 2),
             |cov AS (SELECT DISTINCT s.doc_id, unnest(range(s.i, s.i + 5)) AS p
             |        FROM sh s JOIN dup d ON s.sh = d.sh),
             |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tk),
             |kept AS (SELECT pos.doc_id, pos.p, pos.t[pos.p] AS w FROM pos
             |         LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
             |         WHERE cov.p IS NULL),
             |agg AS (SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS clean,
             |        count(*) AS nk FROM kept GROUP BY doc_id)
             |SELECT tk.doc_id AS doc_id, md5(coalesce(agg.clean, '')) AS fp,
             |  CAST(len(tk.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
             |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id ORDER BY doc_id""".stripMargin)),

    // Per-source document cap (domain diversification): keep at most 5
    // docs per source, smallest doc_ids. The Spark side deliberately
    // avoids a row_number window (hot-key reducer concentration) — the
    // oracle IS the window, pinning the equivalence of the skew-safe
    // two-stage top-n to the textbook formulation.
    "cap_per_source" -> Q(
      (s, d) => Curation.capPerKey(tbl(s, d, "documents"), "source", "doc_id", 5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 5
             |ORDER BY doc_id""".stripMargin)),

    // Corpus-wide exact line dedup (C4/RefinedWeb line rule): duplicate
    // lines keep only their first (doc, pos) occurrence. Lines are
    // synthesized from the single-line test docs the same way as
    // clean_lines; the oracle recomputes keepers and removals from
    // scratch by grouping the LINE TEXT itself.
    "dedup_lines" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents").withColumn("__ml",
          expr("replace(replace(text, ' value ', chr(10)), ' query ', chr(10))"))
        Curation.dedupLinesCorpus(docs, "doc_id", "__ml")
          .select(col("doc_id"), md5(col("text_clean").cast("binary")).as("fp"),
            col("n_removed"))
          .orderBy("doc_id")
      },
      Some("""WITH ml AS (SELECT doc_id, replace(replace(text, ' value ', chr(10)), ' query ', chr(10)) AS t FROM documents),
             |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM ml),
             |occ AS (SELECT doc_id, generate_subscripts(lines, 1) - 1 AS p, unnest(lines) AS line FROM ls),
             |dup AS (SELECT line, min(struct_pack(d := doc_id, p := p)) AS keep FROM occ
             |  GROUP BY line HAVING count(*) >= 2),
             |rm AS (SELECT o.doc_id, o.p FROM occ o JOIN dup ON o.line = dup.line
             |  WHERE NOT (o.doc_id = dup.keep.d AND o.p = dup.keep.p)),
             |ko AS (SELECT o.doc_id, o.p, o.line FROM occ o LEFT JOIN rm r
             |  ON o.doc_id = r.doc_id AND o.p = r.p WHERE r.doc_id IS NULL),
             |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS tc,
             |  count(*) AS kept FROM ko GROUP BY doc_id)
             |SELECT ls.doc_id, md5(coalesce(agg.tc, '')) AS fp,
             |  CAST(len(ls.lines) - coalesce(agg.kept, 0) AS BIGINT) AS n_removed
             |FROM ls LEFT JOIN agg ON ls.doc_id = agg.doc_id ORDER BY ls.doc_id""".stripMargin)),

    // Deterministic sequence packing: docs dealt into 8 hash buckets,
    // greedily binned into 512-token packs in (hash, id) order. The
    // oracle replays the greedy scan as a recursive CTE over the same
    // hash ordering — pack assignments match row-for-row, pinning the
    // determinism claim (same corpus -> same packs in any engine).
    "pack_sequences" -> Q(
      (s, d) => Curation.packSequences(
          tbl(s, d, "documents").withColumn("__n", size(split(col("text"), " "))),
          "doc_id", "__n", budget = 512, buckets = 8)
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
             |  CAST(concat('0x', substr(md5(concat('pack:', CAST(doc_id AS VARCHAR))),1,8)) AS BIGINT) / 4294967296.0 AS r
             |  FROM documents),
             |b AS (SELECT doc_id, n, r, CAST(floor(r * 8) AS INT) AS bucket FROM d),
             |o AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY r, doc_id) AS rn FROM b),
             |p AS (
             |  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS pack_no, n AS cum FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.bucket, o.rn, o.doc_id, o.n,
             |    CASE WHEN p.cum + o.n > 512 THEN p.pack_no + 1 ELSE p.pack_no END,
             |    CASE WHEN p.cum + o.n > 512 THEN o.n ELSE p.cum + o.n END
             |  FROM o JOIN p ON o.bucket = p.bucket AND o.rn = p.rn + 1)
             |SELECT doc_id, bucket, pack_no, n AS n_tokens FROM p ORDER BY doc_id""".stripMargin)),

    // Model-based quality scoring (the fastText linear-classifier shape):
    // sigmoid(bias + mean token weight) against a vocabulary table. The
    // demo model's weights are hash-derived (md5-unit - 0.5, the
    // sample_mix construction) so BOTH engines rebuild the identical
    // model from scratch — the op itself takes any (term, weight) table.
    "quality_score" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val vocab = docs.select(explode(split(col("text"), " ")).as("term")).distinct()
          .withColumn("weight", Curation.hashUnit(col("term"), "w") - 0.5)
        Curation.scoreWithModel(docs, "doc_id", "text", vocab, bias = 0.1)
          .select(col("doc_id"), col("n_tokens"),
            (round(col("score"), 3) + 0.0).as("score"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |w AS (SELECT DISTINCT term,
             |  CAST(concat('0x', substr(md5(concat('w:', term)), 1, 8)) AS BIGINT) / 4294967296.0 - 0.5 AS wt
             |  FROM tk),
             |sc AS (SELECT tk.doc_id, count(*) AS n_tokens, sum(w.wt) AS s
             |  FROM tk JOIN w ON tk.term = w.term GROUP BY tk.doc_id)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  round(1.0 / (1.0 + exp(-(0.1 + s / n_tokens))), 3) + 0.0 AS score
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // ---- multimodal columns (opaque blob + typed metadata; real
    // ImageIO/javax.sound/MJPEG decode in ops/Multimodal.scala) ----

    "mm_blob_stats" -> Q(
      (s, d) => Multimodal.attachBlob(tbl(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          md5(col("blob")).as("fp"),
          col("mm_meta.width").as("width"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             |md5(text) AS fp, CAST((doc_id % 4) * 256 + 256 AS INT) AS width
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "mm_features" -> Q(
      (s, d) => {
        val blobs = Multimodal.attachBlob(tbl(s, d, "documents"), "doc_id", "text")
        Multimodal.extractFeatures(blobs, "doc_id", "blob", dim = 64)
          .select(col("id").as("doc_id"),
            size(col("features")).as("dim"),
            round(vecNorm(col("features")), 3).as("unit_norm"))
          .orderBy("doc_id") },
      Some("SELECT doc_id, 64 AS dim, CAST(1.0 AS DOUBLE) AS unit_norm FROM documents ORDER BY doc_id")),

    // REAL image decode golden: synthetic PNGs (one per doc_id, channel
    // ramps with closed-form means) are encoded with javax.imageio, then
    // DECODED BACK by the real codec path — the oracle recomputes the
    // expected raster stats from the generation parameters alone, so a
    // fake decoder cannot pass (it would have to parse real PNG bytes)
    "mm_decode" -> Q(
      (s, d) => {
        import s.implicits._
        // capped at 2000 docs: the golden proves the codec path (encode
        // with ImageIO, decode back through the real registry), not bulk
        // throughput — uncapped it decoded 50k images at sf0.1 and
        // dominated the whole bench
        val blobs = tbl(s, d, "documents")
          .select(col("doc_id").cast("long")).filter(col("doc_id") < 2000)
          // spread the PNG encode across the box: the filtered scan is
          // 1-2 row groups, which serialized 2000 codec calls on one
          // task (r17; results id-deterministic, output ordered below)
          .repartition(s.sparkContext.defaultParallelism)
          .as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.syntheticPng(id))))
          .toDF("doc_id", "blob")
        Multimodal.imageStats(blobs, "doc_id", "blob")
          .select(col("id").as("doc_id"), col("width"), col("height"),
            round(col("mean_r"), 3).as("mean_r"),
            round(col("mean_g"), 3).as("mean_g"),
            round(col("mean_b"), 3).as("mean_b"))
          .orderBy("doc_id") },
      Some("""SELECT doc_id, CAST(64 AS INT) AS width, CAST(16 AS INT) AS height,
             |CAST(126.0 AS DOUBLE) AS mean_r, CAST(120.0 AS DOUBLE) AS mean_g,
             |round(CAST(doc_id % 256 AS DOUBLE), 3) AS mean_b
             |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin)),

    // REAL audio decode golden, the WAV analogue of mm_decode: synthetic
    // square-wave clips (amp = 512*(2 + id%60), chosen so rms = peak =
    // amp/32768 = k/64 is exact in double math and 6-decimal rounding)
    // are encoded with javax.sound.sampled, then DECODED BACK by the real
    // codec path — the oracle recomputes rms/peak/duration from the
    // generation parameters alone, so a fake decoder cannot pass
    "mm_audio" -> Q(
      (s, d) => {
        import s.implicits._
        // capped at 2000 docs like mm_decode: the golden proves the codec
        // path, not bulk throughput
        val blobs = tbl(s, d, "documents")
          .select(col("doc_id").cast("long")).filter(col("doc_id") < 2000)
          // NO generation spread here, unlike mm_decode/mm_frames: the
          // synthetic WAV is raw PCM (no codec work worth spreading) and
          // the r17 AND r18 A/B probes both measured the exchange
          // costing more than it saves (r18 medians: 0.785 -> 0.898 s)
          .as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
          .toDF("doc_id", "blob")
        Multimodal.audioStats(blobs, "doc_id", "blob")
          .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
            col("duration_ms"),
            round(col("rms"), 6).as("rms"),
            round(col("peak"), 6).as("peak"))
          .orderBy("doc_id") },
      Some("""SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
             |CAST(1 AS INT) AS channels, CAST(100 AS BIGINT) AS duration_ms,
             |round((512 * (2 + doc_id % 60)) / 32768.0, 6) AS rms,
             |round((512 * (2 + doc_id % 60)) / 32768.0, 6) AS peak
             |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin)),

    // REAL video-path golden: synthetic MJPEG clips (6 concatenated
    // solid-gray JPEG frames, gray = 16*((doc_id + frame)%16)) are frame-
    // sampled by the real SOI-scanning parser, every sampled frame decoded
    // by the real JPEG codec, and the decoded mean SNAPPED to the nearest
    // 16-step recovers the planted level exactly (JPEG DC error on a
    // solid frame is far under the 8-level snap radius) — the oracle
    // recomputes plant levels from the generation parameters alone
    "mm_frames" -> Q(
      (s, d) => {
        import s.implicits._
        val blobs = tbl(s, d, "documents")
          .select(col("doc_id").cast("long")).filter(col("doc_id") < 500)
          // spread the MJPEG encode (6 JPEG frames per doc) across the
          // box before generation — the filtered scan is 1-2 row groups,
          // which serialized ~3000 codec calls on one 500 ms task while
          // 31 cores idled (r18 JobProfile; the exchange moves 500 longs,
          // not blobs; generation is id-deterministic, output ordered)
          .repartition(s.sparkContext.defaultParallelism)
          .as[Long]
          .mapPartitions(_.map(id => (id, Multimodal.syntheticMjpeg(id, frames = 6))))
          .toDF("doc_id", "blob")
        val frames = Multimodal.sampleFrames(blobs, "doc_id", "blob",
          everyN = 2, maxFrames = 3)
        val stats = Multimodal.imageStats(
          frames.select((col("id") * 8 + col("frame_no")).as("fid"),
            col("frame_blob")),
          "fid", "frame_blob")
        stats.select(
          floor(col("id") / 8).cast("long").as("doc_id"),
          pmod(col("id"), lit(8)).cast("int").as("frame_no"),
          (round(col("mean_r") / 16, 0) * 16).cast("int").as("gray"))
          .orderBy("doc_id", "frame_no") },
      Some("""SELECT doc_id, CAST(f AS INT) AS frame_no,
             |CAST(16 * ((doc_id + f) % 16) AS INT) AS gray
             |FROM documents CROSS JOIN (SELECT unnest([0, 2, 4]) AS f)
             |WHERE doc_id < 500 ORDER BY doc_id, frame_no""".stripMargin)),

    // ---- relational core (scan/filter/agg/join/window/setop/sort) ----

    "q1_agg" -> Q(
      (s, d) => tbl(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          round(avg(col("l_quantity")), 3).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             |round(avg(l_quantity), 3) AS avg_qty, round(avg(l_discount), 6) AS avg_disc,
             |count(*) AS cnt FROM lineitem
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q3_join" -> Q(
      (s, d) => tbl(s, d, "orders")
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name"),
      Some("""SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    "q_window" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("c_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, d, "orders")
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 2)
          .orderBy("c_custkey", "rn") },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
             |  SELECT c_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM customer JOIN orders ON o_custkey = c_custkey) z
             |WHERE rn <= 2 ORDER BY c_custkey, rn""".stripMargin)),

    "q_setop" -> Q(
      (s, d) => tbl(s, d, "customer").select(col("c_nationkey"))
        .intersect(tbl(s, d, "supplier").select(col("s_nationkey").as("c_nationkey")))
        .orderBy("c_nationkey"),
      Some("""SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier
             |ORDER BY c_nationkey""".stripMargin)),

    "q_antijoin" -> Q(
      (s, d) => tbl(s, d, "customer")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    "q_sort_limit" -> Q(
      (s, d) => tbl(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
             |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),

    "q_rollup" -> Q(
      (s, d) => tbl(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---- events: windowed aggregation + sessionization (streaming analog) ----

    "q_events_hourly" -> Q(
      // ts arrives as a raw nanos long (see tbl); hour bucket via exact
      // integer division — matches DuckDB's date_trunc on the timestamp.
      (s, d) => tbl(s, d, "events")
        .groupBy(expr("(ts div 3600000000000) * 3600").as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
        .orderBy("hr", "event_type"),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr, event_type,
             |count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "q_sessionize" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        tbl(s, d, "events")
          .withColumn("pts", lag(col("ts"), 1).over(w))
          .withColumn("brk",
            when(col("pts").isNull || col("ts") - col("pts") > 1800000000000L, 1L)
              .otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("brk")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id") },
      Some("""WITH l AS (SELECT user_id, event_id, ts,
             |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM events),
             |b AS (SELECT user_id,
             |  CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000 THEN 1 ELSE 0 END AS brk FROM l)
             |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions, count(*) AS n_events
             |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- build/maintenance/serving variants, each oracle-checked by an
    // exact-KNN golden: the variant path must return the exact top-k
    // end-to-end (estimate + rerank through that build/serve mode). ----

    // rerank-in-table (Q6, reference rerank_in_table=true): candidates
    // fetch their ORIGINAL vectors from the source table by row key.
    "ivf_knn_rtable" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(IvfCache.get(s, d).search(q, 10, probes = 16, refine = 16,
          rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))) },
      Some(knnOracle)),

    // CODES-ONLY index (storeVectors=false — the reference's actual
    // rerank_in_table design: the index holds codes, the heap holds
    // vectors; src/index/vchordrq/types.rs:19-45). Same exact-top-k
    // golden through an index that never wrote a vec column.
    "ivf_knn_novec" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "novec").search(q, 10, probes = 16, refine = 16,
          rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))) },
      Some(knnOracle)),

    // Sphere range served by the codes-only index: cell pruning from the
    // CODES METADATA radii (disU2 = |v - centroid|^2), exact cutoff from
    // the source table — no stored vectors anywhere on the path.
    "range_novec" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        variantIvf(s, d, "novec").rangeSearch(q, 1.3,
            rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))
          .limit(20)
          .select(col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(s"""$distCte
              |SELECT vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
              |ORDER BY dd.dist, vec_id LIMIT 20""".stripMargin)),

    // hierarchical (bisecting) k-means build (B3).
    "ivf_knn_hier" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "hier").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracle)),

    // dim-reduced k-means clustering (B4): assignment in rotated 8-dim
    // space, full-dim centroids/codes.
    "ivf_knn_dimred" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "dimred").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracle)),

    // 3-level centroid tree (B5): the probe DESCENDS root groups -> level-2
    // groups -> leaves; probes1 bounds the finest internal level.
    "ivf_knn_tree3" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "tree3")
          .search(q, 10, probes = 16, refine = 16, probes1 = 8)) },
      Some(knnOracle)),

    // FHT-rotated storage (B6): distances are preserved, so the rotated
    // index must return the identical exact top-k.
    "ivf_knn_rotate" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "rotate").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracle)),

    // external build from a user-supplied centroid table (B7) — centroids
    // here are deliberately arbitrary (the first 16 embeddings), so cells
    // are skewed and the estimate/rerank bound still has to recover the
    // exact top-k.
    "ivf_knn_external" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "ext").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracle)),

    // single-row insert path + compaction (B11+B12): half the table is
    // bulk-built, half arrives via appendDelta, then compact() folds the
    // delta into a new generation.
    "ivf_knn_insert" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "ins").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracle)),

    // bulk delete / vacuum (B13): deleted rows must never resurface.
    "ivf_knn_delete" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        topkOut(variantIvf(s, d, "del").search(q, 10, probes = 16, refine = 16)) },
      Some(knnOracleWhere("vec_id % 7 <> 0"))),

    // batch ANN (searchMany): B queries in two Spark jobs; per-query
    // results must equal the single-query path (and the exact oracle).
    "ivf_knn_batch" -> Q(
      (s, d) => {
        val qv = qvecs(s, d, 0L to 2L)
        val qs = (0L to 2L).map(i => i -> qv(i)).toArray
        IvfCache.get(s, d).searchMany(qs, 5, probes = 16, refine = 16)
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"), col("rn"))
          .orderBy("qid", "rn")
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"), col("rn")) },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Batched MULTI-ROOT search (round 13): the same 3-query batch
    // answered across the two-root partitioned copy's per-child indexes
    // in TWO flat jobs (one pooled estimate pass, one file-pruned exact
    // rerank — IvfIndex.searchManyMulti, the amortized form of the
    // partitioned planner serve). Full probe coverage over lists=8
    // children makes the batch exact, so it hash-matches the SAME
    // oracle as ivf_knn_batch (the partitioned copy holds identical
    // rows).
    "ivf_knn_batch_multi" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        // memoized like the fixture itself: re-loading per execution
        // would discard each instance's dirListing/dataDf caches and
        // time repeated meta reads instead of the serve
        val idxs = cached(s"parttbl-idxs:$d") {
          (0 to 1).map(p => IvfIndex.load(s, s"$path-idx$p"))
        }
        val qv = qvecs(s, d, 0L to 2L)
        val qs = (0L to 2L).map(i => i -> qv(i)).toArray
        IvfIndex.searchManyMulti(idxs, qs, 5, probes = 8, refine = 16)
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"), col("rn"))
          .orderBy("qid", "rn")
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"), col("rn")) },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Batched MULTI-ROOT range (round 14): the same three spheres as
    // range_batch_indexed answered across the two-root partitioned
    // copy's per-child indexes in a constant number of flat jobs
    // (IvfIndex.rangeSearchManyMulti — one pooled code-estimate pass
    // over every root's sphere-intersecting cells, survivors reranked
    // over the flat vector read for the exact strict-< cutoff). The cutoff is
    // exact and the triangle cell bound complete, so it hash-matches the
    // SAME oracle as range_batch_indexed (the partitioned copy holds
    // identical rows).
    "range_batch_multi" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        val idxs = cached(s"parttbl-idxs:$d") {
          (0 to 1).map(p => IvfIndex.load(s, s"$path-idx$p"))
        }
        val qv = qvecs(s, d, 0L to 2L)
        val qs = Array(0, 1, 2).map(i => (i.toLong, qv(i.toLong), 1.3))
        IvfIndex.rangeSearchManyMulti(idxs, qs)
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("qid"), col("raw"), col("vec_id"))
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < 1.3
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // "SQL in, batch out" (round 15): a queries TABLE of per-row
    // (center, radius) spheres over the REGISTERED partitioned corpus,
    // routed through AnnCatalog.servedRangeMany — catalog resolution via
    // the same per-child cover the planner serves use, then the whole
    // batch answered by rangeSearchManyMulti (constant job count,
    // two-tier survivors — the >maxInList regime the range-JOIN rewrite
    // declines). Asserted in-query that the per-child cover resolves
    // (the registered-partitioned premise) — an unregistered corpus
    // refuses loudly inside servedRangeMany itself. Same rows as
    // range_join_indexed (identical data, same per-row radii), so the
    // same oracle.
    "range_batch_served" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        require(graft.plans.AnnCatalog.resolve(s, Seq(path),
            s.read.parquet(path).inputFiles.toSeq,
            Seq(graft.plans.AnnCatalog.Kind.Ivf)).exists(_.entries.size == 2),
          "range_batch_served: the partitioned corpus is not covered by " +
          "its per-child registrations — the served route would refuse")
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"),
            (lit(0.9) + col("vec_id").cast("double") * 0.2).as("radius"))
        graft.plans.AnnCatalog.servedRangeMany(s, path, qdf,
            "qid", "center", "radius")
          .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"))
          .orderBy(col("qid"), col("raw"), col("vec_id"))
          .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
             |  0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
             |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, q.radius AS radius, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, q.radius, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < radius
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // GRAPH-tier range search (round 17 — the reference's vchordg
    // strategy-2 sphere operators, sql/install/vchord--1.1.1.sql:
    // 1230-1290, served by beam + take_while(dist < radius) at
    // src/index/vchordg/scanners/default.rs:108-110,912-913): the same
    // sphere queries table resolved against the partitioned graph
    // fixture's per-child Vamana registrations — no IVF entry covers
    // this corpus, so rows returning proves the graph route. The beam
    // is best-effort at production ef; SATURATING ef (>= corpus size)
    // walks every vertex, so the result is exact and hash-matches the
    // brute strict-< oracle.
    "range_graph" -> Q(
      (s, d) => {
        val path = partitionedGraphTable(s, d)
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"),
            (lit(0.9) + col("vec_id").cast("double") * 0.2).as("radius"))
        withConfs(s, "graft.ann.efSearch" -> "4096") {
          graft.plans.AnnCatalog.servedRangeMany(s, path, qdf,
              "qid", "center", "radius")
            .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"))
            .orderBy(col("qid"), col("raw"), col("vec_id"))
            .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"))
        } },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
             |  0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
             |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, q.radius AS radius, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, q.radius, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < radius
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // The SHARDED-tier range route: the same sphere queries resolved
    // against the sharded-graph registration — per-shard beams walk each
    // shard's in-sphere region fully distributed (no driver collect).
    // Hash shards are small (corpus/32), so saturating ef per shard is
    // cheap and the union is exact against the brute strict-< oracle.
    "range_graph_sharded" -> Q(
      (s, d) => {
        val path = shardedKjTable(s, d)
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"),
            (lit(0.9) + col("vec_id").cast("double") * 0.2).as("radius"))
        withConfs(s, "graft.ann.efSearch" -> "4096") {
          graft.plans.AnnCatalog.servedRangeMany(s, path, qdf,
              "qid", "center", "radius")
            .select(col("qid"), col("id").as("vec_id"), col("dist").as("raw"))
            .orderBy(col("qid"), col("raw"), col("vec_id"))
            .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"))
        } },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
             |  0.9 + CAST(vec_id AS DOUBLE) * 0.2 AS radius
             |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT q.qid AS qid, q.radius AS radius, e.vec_id AS vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, q GROUP BY q.qid, q.radius, e.vec_id)
             |SELECT qid, vec_id, round(dist, 3) AS dist FROM dd WHERE dist < radius
             |ORDER BY qid, dd.dist, vec_id""".stripMargin)),

    // The TOP-K sibling of range_batch_served: a queries TABLE over the
    // registered partitioned corpus routed through
    // AnnCatalog.servedSearchMany -> searchManyMulti (two flat jobs for
    // the whole batch). Full probes make it exact, so it hash-matches
    // the same per-qid windowed oracle as ivf_knn_batch_multi.
    "knn_batch_served" -> Q(
      (s, d) => {
        val path = partitionedEmbTable(s, d)
        require(graft.plans.AnnCatalog.resolve(s, Seq(path),
            s.read.parquet(path).inputFiles.toSeq,
            Seq(graft.plans.AnnCatalog.Kind.Ivf)).exists(_.entries.size == 2),
          "knn_batch_served: the partitioned corpus is not covered by " +
          "its per-child registrations — the served route would refuse")
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"))
        withConfs(s, "graft.ann.probes" -> "8", "graft.ann.refine" -> "16") {
          graft.plans.AnnCatalog.servedSearchMany(s, path, qdf,
              "qid", "center", k = 5)
            .select(col("qid"), col("id").as("vec_id"),
              col("dist").as("raw"), col("rn"))
            .orderBy("qid", "rn")
            .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"),
              col("rn"))
        } },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // The MULTIVECTOR sibling: a queries TABLE of token-set documents
    // over the registered partitioned multivector corpus, routed through
    // AnnCatalog.servedMaxsimMany -> maxsimManyMulti. Full coverage
    // budgets make it exact — the same per-qid sum-min oracle as
    // maxsim_batch_multi.
    "maxsim_batch_served" -> Q(
      (s, d) => {
        import s.implicits._
        val path = partitionedMaxSimTable(s, d)
        require(graft.plans.AnnCatalog.resolve(s, Seq(path),
            s.read.parquet(path).inputFiles.toSeq,
            Seq(graft.plans.AnnCatalog.Kind.Tokens)).exists(_.entries.size == 2),
          "maxsim_batch_served: the partitioned multivector corpus is " +
          "not covered by its per-child registrations")
        val qv6 = qvecs(s, d, 1L to 6L)
        val qdf = Seq(
            (1L, (1L to 3L).map(qv6(_).toSeq).toSeq),
            (2L, (4L to 6L).map(qv6(_).toSeq).toSeq))
          .toDF("qid", "tokens")
        withConfs(s, "graft.ann.probes" -> "8",
          "graft.ann.maxsim.kPerToken" -> "1024", "graft.ann.refine" -> "8") {
          graft.plans.AnnCatalog.servedMaxsimMany(s, path, qdf,
              "qid", "tokens", k = 10)
            .select(col("qid"), col("doc").cast("int").as("doc"),
              col("maxsim").as("raw"))
            .orderBy(col("qid"), col("raw"), col("doc"))
            .select(col("qid"), col("doc"),
              (round(col("raw"), 3) + 0.0).as("maxsim"))
        } },
      Some("""WITH qt AS (SELECT CAST(CASE WHEN vec_id <= 3 THEN 1 ELSE 2 END AS BIGINT) AS qid,
             |  vec_id AS tid, embedding AS qe FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT qt.qid AS qid, e.label AS doc, e.vec_id AS did, qt.tid AS tid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3, 4),
             |m AS (SELECT qid, doc, tid, min(negdot) AS mind FROM nd GROUP BY qid, doc, tid)
             |SELECT qid, doc, round(sum(mind), 3) + 0.0 AS maxsim FROM m
             |GROUP BY qid, doc ORDER BY qid, sum(mind), doc""".stripMargin)),

    // The MAXSIM windowed KNN join (round 17 — reference strategy-3
    // order-by, src/index/vchordrq/scanners/maxsim.rs:14-796): the
    // serveKnnJoin SQL shape ordered by vec_maxsim(e.tokens, q.qtokens)
    // — "k best documents per query DOCUMENT" — served through the
    // batched maxsim face (one pooled retrieval + one exact rescore per
    // slice) with the candidate-doc union IN-restricting the corpus and
    // the ORIGINAL window kept for exact rerank. Plan-asserted; full
    // budgets (kPerToken covers every token) make it exact against the
    // per-qid brute maxsim window.
    "maxsim_join_served" -> Q(
      (s, d) => {
        import s.implicits._
        val path = partitionedMaxSimTable(s, d)
        graft.plans.AnnTopKRewrite.install(s)
        graft.functions.GraftFunctions.registerAll(s)
        s.read.parquet(path).createOrReplaceTempView("ms_kj")
        val qv6 = qvecs(s, d, 1L to 6L)
        Seq(
            (1L, (1L to 3L).map(qv6(_).toSeq).toSeq),
            (2L, (4L to 6L).map(qv6(_).toSeq).toSeq))
          .toDF("qid", "qtokens").createOrReplaceTempView("msq_kj")
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.maxsim.kPerToken" -> "1024", "graft.ann.refine" -> "8",
          "graft.ann.cost.enable" -> "false") {
            val df = s.sql(
              """SELECT qid, doc, maxsim, CAST(rn AS BIGINT) AS rn FROM (
                |  SELECT q.qid, e.doc,
                |         round(vec_maxsim(e.tokens, q.qtokens), 3) + 0.0 AS maxsim,
                |         row_number() OVER (PARTITION BY q.qid
                |           ORDER BY vec_maxsim(e.tokens, q.qtokens), e.doc) AS rn
                |  FROM msq_kj q JOIN ms_kj e
                |) WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)
            require(candInCount(df.queryExecution.optimizedPlan.toString) >= 1,
              "maxsim_join_served was NOT index-served — the maxsim " +
              "KNN-join rule failed to match the windowed rank shape:\n" +
              df.queryExecution.optimizedPlan)
            df.collect()
          }
        served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.toDF("qid", "doc", "maxsim", "rn").orderBy("qid", "rn")
      },
      Some("""WITH qt AS (SELECT CAST(CASE WHEN vec_id <= 3 THEN 1 ELSE 2 END AS BIGINT) AS qid,
             |  vec_id AS tid, embedding AS qe FROM embeddings WHERE vec_id BETWEEN 1 AND 6),
             |e AS (SELECT label, vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |nd AS (SELECT qt.qid AS qid, e.label AS doc, e.vec_id AS did, qt.tid AS tid,
             |  -sum(CAST(e.embedding[i+1] AS DOUBLE) * CAST(qt.qe[i+1] AS DOUBLE)) AS negdot
             |  FROM e, qt GROUP BY 1, 2, 3, 4),
             |m AS (SELECT qid, doc, tid, min(negdot) AS mind FROM nd GROUP BY qid, doc, tid),
             |ms AS (SELECT qid, CAST(doc AS BIGINT) AS doc, sum(mind) AS raw FROM m GROUP BY qid, doc),
             |r AS (SELECT qid, doc, raw, row_number() OVER (PARTITION BY qid ORDER BY raw, doc) AS rn FROM ms)
             |SELECT qid, doc, round(raw, 3) + 0.0 AS maxsim, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // The GRAPH-tier served batch route (round 16 — tier parity with the
    // KNN-join serve): the same queries-table face resolved against the
    // partitioned graph fixture's per-child Vamana registrations — no IVF
    // entry covers this path, so returning rows at all proves the graph
    // route (an unresolved corpus refuses loudly inside servedSearchMany).
    // Generous beams make it exact — the same per-qid windowed oracle as
    // graph_batch_multi.
    "knn_batch_served_graph" -> Q(
      (s, d) => {
        val path = partitionedGraphTable(s, d)
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"))
        withConfs(s, "graft.ann.efSearch" -> "256") {
          graft.plans.AnnCatalog.servedSearchMany(s, path, qdf,
              "qid", "center", k = 10)
            .select(col("qid"), col("id").as("vec_id"),
              col("dist").as("raw"), col("rn"))
            .orderBy("qid", "rn")
            .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"),
              col("rn"))
        } },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),

    // The SHARDED-tier served batch route: the same face resolved
    // against the sharded-graph registration (the knn_join_sharded
    // fixture) — the whole batch beams in one resident-RDD search.
    "knn_batch_served_sharded" -> Q(
      (s, d) => {
        val path = shardedKjTable(s, d)
        val qdf = s.read.parquet(path)
          .filter(col("vec_id").isin(0, 1, 2))
          .select(col("vec_id").as("qid"), col("embedding").as("center"))
        withConfs(s, "graft.ann.efSearch" -> "256") {
          graft.plans.AnnCatalog.servedSearchMany(s, path, qdf,
              "qid", "center", k = 10)
            .select(col("qid"), col("id").as("vec_id"),
              col("dist").as("raw"), col("rn").cast("long").as("rn"))
            .orderBy("qid", "rn")
            .select(col("qid"), col("vec_id"), round(col("raw"), 3).as("dist"),
              col("rn"))
        } },
      Some("""WITH qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
             |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
             |dd AS (SELECT qt.qid, e.vec_id,
             |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qt.qe[i+1] AS DOUBLE), 2))) AS dist
             |  FROM e, qt GROUP BY 1, 2),
             |r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM dd)
             |SELECT qid, vec_id, round(dist, 3) AS dist, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),

    // planner-served prefilter (Q7, reference vchordrq.prefilter): a
    // Filter under ORDER BY metric LIMIT k escalates the candidate pool
    // until k predicate survivors (`vec_id % 2 = 0` is key-only: it runs
    // inside the pool task); served through AnnTopKRewrite against a
    // registered PRIVATE copy of the table (registering the original path
    // would reroute every embeddings scan in the suite).
    "ivf_knn_prefilter" -> Q(
      (s, d) => {
        val q = qvec(s, d, 0)
        val idx = IvfCache.get(s, d)
        val path = prefilterTable(s, d)
        graft.plans.AnnCatalog.register(path, idx.dir, "vec_id", "embedding")
        graft.plans.AnnTopKRewrite.install(s)
        // collect inside withConfs (see sql_knn): pins the escalation
        // serve under probes=16 and restores the session confs
        val served = withConfs(s, "graft.ann.probes" -> "16",
          "graft.ann.refine" -> "16") {
            s.read.parquet(path)
              .filter(col("vec_id") % 2 === 0)
              .orderBy(vecL2(col("embedding"), lv(q)))
              .limit(10)
              .select(col("vec_id"),
                vecL2(col("embedding"), lv(q)).as("raw"))
              .collect()
          }
        import s.implicits._
        served.map(r => (r.getLong(0), r.getDouble(1))).toSeq
          .toDF("vec_id", "raw")
          .orderBy(col("raw"), col("vec_id"))
          .select(col("vec_id"), round(col("raw"), 3).as("dist")) },
      Some(knnOracleWhere("vec_id % 2 = 0"))),

    // incremental graph insert (G3, reference aminsert): half the corpus
    // is inserted into the LIVE graph post-build, then searched.
    "graph_knn_insert" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        graphOut(graft.index.VamanaGraph.searchManyMulti(s,
          Seq(variantGraph(s, d, "gins")), Array(0L -> q), 10)) },
      Some(graphOracle(""))),

    // quantized graph vertices (G1, reference vchordg RaBitQ codes): the
    // beam ranks by code estimates; rerank-in-table restores exact
    // distances for the ef pool.
    "graph_knn_quantized" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        graphOut(graft.index.VamanaGraph.searchManyMulti(s,
          Seq(variantGraph(s, d, "gq")), Array(0L -> q), 10,
          rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))) },
      Some(graphOracle(""))),

    // graph vacuum (G4): deleted vertices must never surface.
    "graph_knn_vacuum" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        graphOut(graft.index.VamanaGraph.searchManyMulti(s,
          Seq(variantGraph(s, d, "gvac")), Array(0L -> q), 10)) },
      Some(graphOracle("vec_id % 7 <> 0"))),

    // QUANTIZED-tier vacuum (G4, reference maintain.rs relink-in-place):
    // delete support on the memory-efficient tier, where no raw vectors
    // exist to rebuild from — live vertices relink through their dead
    // neighbors over code-vs-code distances, then rerank-in-table restores
    // exact output.
    "graph_knn_vacuum_quantized" -> Q(
      (s, d) => { val q = qvec(s, d, 0)
        graphOut(graft.index.VamanaGraph.searchManyMulti(s,
          Seq(variantGraph(s, d, "gvacq")), Array(0L -> q), 10,
          rerankTable = Some((tbl(s, d, "embeddings"), "vec_id", "embedding")))) },
      Some(graphOracle("vec_id % 7 <> 0"))),

    // ---- keyword & hybrid retrieval (ops/Search.scala) ----

    // Okapi BM25 top-k: shuffle-free scoring (one codegen tf pass per
    // doc via TokenTfExpr, df/idf baked in from one bounded stats pass),
    // (rounded-score, id) cutoff so both engines pick the same set.
    "bm25_topk" -> Q(
      (s, d) => {
        val sc = graft.ops.Search.bm25Score(
          tbl(s, d, "documents"), "doc_id", "text", bm25Terms)
        sc.orderBy(round(col("score"), 3).desc, col("doc_id")).limit(20)
          .select(col("doc_id"), round(col("score"), 3).as("score"))
      },
      Some(s"""${bm25Cte(bm25Terms)}
              |SELECT doc_id, round(score, 3) AS score FROM sc
              |ORDER BY round(score, 3) DESC, doc_id LIMIT 20""".stripMargin)),

    // Hybrid retrieval: BM25 top-20 fused with ANN top-20 (L2 to query
    // vec 0; doc_id == vec_id in the testdata) by reciprocal-rank fusion,
    // k_rrf = 60 (Cormack et al. 2009). Ranks are over (rounded metric,
    // id) so both engines agree rank-for-rank; rrf contributions are
    // exact dyadic rationals, so the fused sum matches bit-for-bit.
    "hybrid_rrf" -> Q(
      (s, d) => {
        val (e, q) = embQ(s, d)
        val bm = graft.ops.Search.bm25Score(
          tbl(s, d, "documents"), "doc_id", "text", bm25Terms)
          .orderBy(round(col("score"), 3).desc, col("doc_id")).limit(20)
        val ann = e.select(col("vec_id").as("doc_id"),
            round(vecL2(col("embedding"), lv(q)), 3).as("dist"))
          .orderBy(col("dist"), col("doc_id")).limit(20)
        graft.ops.Search.rrfFuse(Seq(
            bm -> round(col("score"), 3).desc,
            ann -> col("dist").asc), "doc_id", kRrf = 60, topK = 10)
          .select(col("doc_id"), round(col("rrf_score"), 6).as("rrf"))
      },
      Some(s"""${bm25Cte(bm25Terms)},
              |bmr AS (SELECT doc_id,
              |  row_number() OVER (ORDER BY round(score, 3) DESC, doc_id) AS r
              |  FROM sc QUALIFY r <= 20),
              |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
              |e AS (SELECT vec_id, embedding, unnest(range(0, 64)) AS i FROM embeddings),
              |dd AS (SELECT e.vec_id AS vec_id,
              |  sqrt(sum(power(CAST(e.embedding[i+1] AS DOUBLE) - CAST(q.qe[i+1] AS DOUBLE), 2))) AS dist
              |  FROM e, q GROUP BY e.vec_id),
              |annr AS (SELECT vec_id AS doc_id,
              |  row_number() OVER (ORDER BY round(dist, 3) ASC, vec_id) AS r
              |  FROM dd QUALIFY r <= 20),
              |u AS (SELECT doc_id, 1.0 / (60 + r) AS c FROM bmr
              |  UNION ALL SELECT doc_id, 1.0 / (60 + r) AS c FROM annr)
              |SELECT doc_id, round(sum(c), 6) AS rrf FROM u GROUP BY doc_id
              |ORDER BY sum(c) DESC, doc_id LIMIT 10""".stripMargin)),

    // INDEX-served BM25: the same query through the term-bucketed
    // postings index — reads only the query terms' buckets (partition-
    // pruned), per-term contributions pivoted to fixed positions so the
    // score sums in scan order. Same oracle SQL as bm25_topk: the index
    // path must be bit-identical to the corpus scan.
    "bm25_topk_indexed" -> Q(
      (s, d) => {
        val idx = PostingsCache.get(s, d)
        idx.score(s, bm25Terms)
          .orderBy(round(col("score"), 3).desc, col("doc_id")).limit(20)
          .select(col("doc_id"), round(col("score"), 3).as("score"))
      },
      Some(s"""${bm25Cte(bm25Terms)}
              |SELECT doc_id, round(score, 3) AS score FROM sc
              |ORDER BY round(score, 3) DESC, doc_id LIMIT 20""".stripMargin)),

    // MMR diversification (Carbonell & Goldstein 1998): ANN top-10 by
    // cosine rel, greedily re-ranked to k=5 with λ=0.5 — the stage after
    // retrieval that stops near-duplicate results crowding the page.
    // The oracle replays the greedy loop step-by-step in SQL.
    "mmr_rerank" -> Q(
      (s, d) => {
        val (e, q) = embQ(s, d)
        val rel = lit(1.0) - vecCosdist(col("embedding"), lv(q))
        val cand = e.select(col("vec_id"), col("embedding"), rel.as("rel"))
          .orderBy(round(col("rel"), 6).desc, col("vec_id")).limit(10)
        graft.ops.Search.mmr(cand, "vec_id", "embedding", "rel",
            k = 5, lambda = 0.5)
          .select(col("vec_id"), col("rank"),
            (round(col("mmr"), 6) + 0.0).as("mmr"))
          .orderBy("rank")
      },
      Some(mmrOracle(k = 5, lambda = 0.5))),

    // ---- tokenizer training (ops/Bpe.scala) ----

    // The statistic BPE's first merge round maximizes: frequency-weighted
    // adjacent symbol-pair counts over the char-level + </w> dictionary —
    // the corpus-pass half of training, hash-matched against DuckDB.
    "bpe_pairs" -> Q(
      (s, d) => graft.ops.Bpe.pairCounts(
          graft.ops.Bpe.wordFreq(tbl(s, d, "documents"), "text"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(30)
        .select(col("a"), col("b"), col("cnt").cast("long").as("cnt")),
      Some("""WITH w AS (SELECT word, count(*) AS freq FROM
             |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents) _
             |  WHERE length(word) > 0 GROUP BY word),
             |p AS (
             |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
             |  FROM (SELECT word, freq, unnest(range(1, len(word))) AS i FROM w) _
             |  UNION ALL
             |  SELECT substr(word, len(word), 1) AS a, '</w>' AS b, freq FROM w)
             |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY a, b
             |ORDER BY cnt DESC, a, b LIMIT 30""".stripMargin)),

    // Per-doc token counts through the GPT-2 min-rank encoder under a
    // FIXED 2-merge model — the SQL-expressible restricted golden for
    // the encode path. With single-codepoint merge components, min-rank
    // encoding degenerates to sequential left-to-right non-overlapping
    // replacement (one mergePair pass exhausts each rank: a merged
    // symbol is a 2-char string, so it can never re-form a single-char
    // pair), which DuckDB replays exactly with nested replace() onto
    // sentinel chars absent from the corpus. Exercises the identical
    // encodeWord/memo machinery as a trained model; full-model merge
    // sequences + trained-encode goldens live in BpeSpec (training is
    // not SQL-replayable).
    "bpe_encode" -> Q(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val model = graft.ops.Bpe.BpeModel(IndexedSeq(("e", "r"), ("i", "n")))
        graft.ops.Bpe.tokenCounts(docs, "doc_id", "text", model)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |  FROM documents),
             |c AS (SELECT doc_id,
             |  sum(length(replace(replace(word, 'er', chr(1)), 'in', chr(2))) + 1) AS n
             |  FROM w WHERE length(word) > 0 GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
             |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- corpus reporting + training-set sharding (ops/Curation.scala) ----

    // Per-(lang, source) corpus profile: volume, mean length, exact-dup
    // fingerprint cardinality — one partial-agg shuffle.
    "corpus_stats" -> Q(
      (s, d) => Curation.corpusStats(tbl(s, d, "documents"), "text",
          Seq("lang", "source"))
        .withColumn("avg_tokens", round(col("avg_tokens"), 3))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |CAST(sum(length(text)) AS BIGINT) AS n_chars,
             |round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 3) AS avg_tokens,
             |CAST(count(DISTINCT md5(lower(text))) AS BIGINT) AS n_distinct
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Deterministic md5-order global shuffle + 8-way shard assignment —
    // the training-set writer's permutation, engine-replayable exactly.
    "shard_assign" -> Q(
      (s, d) => Curation.shuffleShards(
          tbl(s, d, "documents").select("doc_id"), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id,
             |  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 16) AS hx FROM documents),
             |a AS (SELECT doc_id, hx,
             |  CAST(CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % 8 AS INT) AS shard FROM h)
             |SELECT doc_id, shard,
             |CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos
             |FROM a ORDER BY doc_id""".stripMargin))
  )

  // ---- build/maintenance variant caches (one build per JVM per tier) ----

  private val variantCache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cached[T <: AnyRef](key: String)(f: => T): T =
    variantCache.computeIfAbsent(key, _ => f).asInstanceOf[T]

  private def vdir(sfDir: String, tag: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-$tag-${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  private def rmTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  private val cfg16 = IvfConfig(lists = 16, bits = 8, residual = true)

  /** Build-path variants (SURVEY §2.3), each oracle-checked end-to-end by
    * an exact-KNN query: the estimate + rerank machinery must return the
    * exact top-k THROUGH the variant build. Stale dirs are cleared first —
    * a leftover generation from a previous JVM would corrupt reloads. */
  private def variantIvf(s: SparkSession, d: String, tag: String): IvfIndex =
    cached(s"ivf:$tag:$d") {
      val dir = vdir(d, s"ivf-$tag"); rmTree(dir)
      val e = tbl(s, d, "embeddings")
      tag match {
        case "hier"   => IvfIndex.build(e, "vec_id", "embedding", dir,
          cfg16.copy(kmeansAlgo = "hierarchical"))
        case "tree3"  => IvfIndex.build(e, "vec_id", "embedding", dir,
          cfg16.copy(upperLists = Seq(2, 8))) // 3-level tree (B5)
        case "rotate" => IvfIndex.build(e, "vec_id", "embedding", dir,
          cfg16.copy(rotate = true))
        case "dimred" => IvfIndex.build(e, "vec_id", "embedding", dir,
          cfg16.copy(kmeansDim = 8)) // cluster in rotated 8-dim space (B4)
        case "ext" => // external build from a centroid table (B7)
          val cents = e.filter(col("vec_id") < 16)
            .select(col("vec_id").as("id"), col("embedding").as("vector"))
          IvfIndex.buildExternal(e, "vec_id", "embedding", dir, cents, cfg16)
        case "ins" => // half bulk-built, half inserted via delta + compaction
          val idx = IvfIndex.build(e.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", dir, cfg16)
          idx.appendDelta(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
          idx.compact()
          idx
        case "del" => // bulk delete / vacuum (B13)
          import s.implicits._
          val idx = IvfIndex.build(e, "vec_id", "embedding", dir, cfg16)
          val dead = e.filter(col("vec_id") % 7 === 0)
            .select(col("vec_id").cast("long")).as[Long].collect()
          idx.delete(dead.toSeq)
          idx
        case "novec" => // CODES-ONLY index: no vec column, every exact
          // phase fetches from the source table (the reference's
          // rerank_in_table=true small-index mode). Derived from the
          // shared base index via dropVectors — a shuffle-free
          // narrow-column copy instead of a second full k-means build
          // (same config, so codes/centroids/answers are identical; the
          // conversion path itself is spec'd against a fresh build)
          IvfCache.get(s, d).dropVectors(dir)
      }
    }

  private def fullRows(s: SparkSession, d: String): Array[(Long, Array[Float])] = {
    import s.implicits._
    tbl(s, d, "embeddings").select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map { case (i, v) => (i, v.toArray) }
  }

  /** Graph-lifecycle variants (SURVEY §2.4): incremental insert (G3),
    * quantized vertices + exact rerank (G1), vacuum (G4). */
  private def variantGraph(s: SparkSession, d: String, tag: String): graft.index.VamanaGraph =
    cached(s"g:$tag:$d") {
      tag match {
        case "gins" => // build on even ids, aminsert-style insert the odd half
          val rows = fullRows(s, d)
          val (evens, odds) = rows.partition(_._1 % 2 == 0)
          graft.index.VamanaGraph.build(evens.map(_._1), evens.map(_._2),
            graft.index.VamanaConfig()).insertAll(odds)
        case "gq" => // RaBitQ vertex codes guide the beam; rerank restores exact
          val rows = fullRows(s, d)
          graft.index.VamanaGraph.build(rows.map(_._1), rows.map(_._2),
            graft.index.VamanaConfig(bits = 8))
        case "gvac" =>
          import s.implicits._
          val dead = tbl(s, d, "embeddings").filter(col("vec_id") % 7 === 0)
            .select(col("vec_id").cast("long")).as[Long].collect().toSet
          graft.index.VamanaGraph.deleteAndRebuild(GraphCache.get(s, d), dead)
        case "gvacq" => // in-place relink vacuum on the QUANTIZED tier (G4)
          import s.implicits._
          val dead = tbl(s, d, "embeddings").filter(col("vec_id") % 7 === 0)
            .select(col("vec_id").cast("long")).as[Long].collect().toSet
          graft.index.VamanaGraph.vacuum(variantGraph(s, d, "gq"), dead)
      }
    }

  /** One shared dedup pipeline per sfDir (Dedup.pipeline): the MinHash
    * pair set is computed ONCE and persisted as fixed-width rows;
    * dedup_components runs label propagation live over the shared pairs
    * and dedup_keep runs the anti-join live over the shared labels — each
    * pipeline stage is paid once, the shape a real dedup run has
    * (regenerating pairs per consumer was most of both queries' cost).
    * Built in warmCaches so the shared pair cost lands in _index_builds. */
  private def dedupPipe(s: SparkSession, d: String): Dedup.Pipeline =
    cached(s"dedup-pipe:$d") {
      val p = Dedup.pipeline(tbl(s, d, "documents"), "doc_id",
        docs => Dedup.minhashDedup(docs, "doc_id", "text", 0.4))
      p.pairs.count() // materialize the persisted pair set
      p
    }

  /** Private copy of the embeddings table for the planner-served prefilter
    * query: registering the ORIGINAL path in AnnCatalog would silently
    * reroute every other query that scans embeddings with an ORDER BY
    * metric LIMIT k shape through the index. */
  private def prefilterTable(s: SparkSession, d: String): String =
    cached(s"pftbl:$d") {
      val dst = vdir(d, "pftbl")
      tbl(s, d, "embeddings").write.mode("overwrite").parquet(dst)
      dst
    }

  /** Embeddings plus three NULL-vector rows (ids max+1..max+3), IVF
    * indexed and registered — the `knn_nulls` fixture. The build counts
    * source vs kept rows, sees the three drops, and does NOT attest
    * completeness, so the serve keeps the `OR embedding IS NULL`
    * restriction the oracle requires. */
  private def nullEmbTable(s: SparkSession, d: String): String =
    cached(s"nulltbl:$d") {
      val dst = vdir(d, "nulltbl")
      val e = tbl(s, d, "embeddings").select("vec_id", "embedding")
      val maxId = e.agg(max("vec_id")).head().getLong(0)
      val nulls = s.range(3).select((col("id") + maxId + 1).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
      e.unionByName(nulls).write.mode("overwrite").parquet(dst)
      val idir = s"$dst-idx"
      rmTree(idir)
      IvfIndex.build(s.read.parquet(dst), "vec_id", "embedding", idir, cfg16)
      graft.plans.AnnCatalog.register(dst, idir, "vec_id", "embedding")
      dst
    }

  /** Two-root partitioned copy of embeddings (pt = vec_id % 2) with one
    * IVF index per root, both registered — the partition.slt serving
    * fixture (`knn_partitioned`). */
  private def partitionedEmbTable(s: SparkSession, d: String): String =
    cached(s"parttbl:$d") {
      val dst = vdir(d, "parttbl")
      tbl(s, d, "embeddings")
        .withColumn("pt", (col("vec_id") % 2).cast("int"))
        .write.partitionBy("pt").mode("overwrite").parquet(dst)
      (0 to 1).foreach { p =>
        val idir = s"$dst-idx$p"
        IvfIndex.build(s.read.parquet(s"$dst/pt=$p"), "vec_id", "embedding",
          idir, IvfConfig(lists = 8, bits = 8, residual = true))
        graft.plans.AnnCatalog.register(s"$dst/pt=$p", idir, "vec_id", "embedding")
      }
      dst
    }

  /** Private copy of embeddings registered against the SHARDED graph
    * tier (reusing [[ShardGraphCache]]'s on-disk shards) — the sharded
    * KNN-join serving fixture (`knn_join_sharded`). A separate copy
    * because the IVF-registered prefilter table would serve first in the
    * KNN-join route order. */
  private def shardedKjTable(s: SparkSession, d: String): String =
    cached(s"skjtbl:$d") {
      val dst = vdir(d, "skjtbl")
      tbl(s, d, "embeddings").write.mode("overwrite").parquet(dst)
      ShardGraphCache.get(s, d) // ensure the shards exist on disk
      graft.plans.AnnCatalog.registerShardedGraph(dst,
        ShardGraphCache.dirFor(d), "vec_id", "embedding")
      dst
    }

  /** Two-root partitioned copy of embeddings with one driver-tier Vamana
    * GRAPH per root, both registered — the graph-tier per-partition-index
    * fixture (`graph_knn_partitioned`). */
  private def partitionedGraphTable(s: SparkSession, d: String): String =
    cached(s"gparttbl:$d") {
      val dst = vdir(d, "gparttbl")
      tbl(s, d, "embeddings")
        .withColumn("pt", (col("vec_id") % 2).cast("int"))
        .write.partitionBy("pt").mode("overwrite").parquet(dst)
      (0 to 1).foreach { p =>
        val gdir = s"$dst-g$p"
        graft.index.VamanaGraph
          .build(s.read.parquet(s"$dst/pt=$p"), "vec_id", "embedding",
            graft.index.VamanaConfig())
          .save(s, gdir)
        graft.plans.AnnCatalog.registerGraph(s"$dst/pt=$p", gdir,
          "vec_id", "embedding")
      }
      dst
    }

  /** Two-root partitioned MULTIVECTOR corpus (docs = labels, pt = doc % 2)
    * with one token index per root, both registered — the strategy-3
    * per-partition-index fixture (`maxsim_partitioned`; reference
    * scanners/maxsim.rs over partition.slt-style children). */
  private def partitionedMaxSimTable(s: SparkSession, d: String): String =
    cached(s"msparttbl:$d") {
      val dst = vdir(d, "msparttbl")
      val e = tbl(s, d, "embeddings")
      e.groupBy(col("label").cast("long").as("doc"))
        .agg(collect_list(col("embedding")).as("tokens"))
        .withColumn("pt", (col("doc") % 2).cast("int"))
        .write.partitionBy("pt").mode("overwrite").parquet(dst)
      (0 to 1).foreach { p =>
        val idir = s"$dst-idx$p"
        val toks = e.filter(col("label") % 2 === p)
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("label")).orderBy(col("vec_id"))) - 1)
          .select(col("label").cast("long").as("doc"), col("pos"),
            col("embedding").as("v"))
        MaxSim.buildTokenIndex(toks, "doc", "pos", "v", idir,
          IvfConfig(metric = "negdot", lists = 8))
        graft.plans.AnnCatalog.registerMaxSim(s"$dst/pt=$p", idir, "doc", "tokens")
      }
      dst
    }

  /** Build every index/graph the queries cache. Bench calls this in
    * warmup so per-query timings measure query execution; index builds
    * are one-time costs reported separately (`_index_builds`). */
  def warmCaches(s: SparkSession, d: String): Unit = {
    IvfCache.get(s, d); GraphCache.get(s, d); ShardGraphCache.get(s, d)
    ShardGraphCache.getQuantized(s, d)
    Seq("hier", "tree3", "rotate", "dimred", "ext", "ins", "del", "novec")
      .foreach(variantIvf(s, d, _))
    Seq("gins", "gq", "gvac", "gvacq").foreach(variantGraph(s, d, _))
    prefilterTable(s, d)
    partitionedEmbTable(s, d)
    partitionedMaxSimTable(s, d)
    partitionedGraphTable(s, d)
    shardedKjTable(s, d)
    dedupPipe(s, d)
    PostingsCache.get(s, d)
    BpeCache.get(s, d)
    ()
  }

  /** Per-sfDir Vamana graph cache (built once per JVM). */
  object GraphCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, graft.index.VamanaGraph]()
    def get(spark: SparkSession, sfDir: String): graft.index.VamanaGraph = {
      val cached = cache.get(sfDir)
      if (cached != null) cached
      else {
        // driver-side sequential build serves MODERATE sizes (the IVF
        // index is the at-scale path). The cap must fail LOUDLY: a silent
        // limit() would quietly index a subset while queries still claim
        // exact-top-k goldens.
        val cap = 20000L
        val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val n = df.count()
        require(n <= cap,
          s"graph index build over $n rows exceeds the driver-build cap $cap: " +
          "use the IVF index for this tier, or build a quantized graph " +
          "(VamanaConfig(bits=2)) from a dedicated pipeline")
        val g = graft.index.VamanaGraph.build(df,
          "vec_id", "embedding", graft.index.VamanaConfig())
        cache.put(sfDir, g)
        g
      }
    }
  }

  /** Per-sfDir SHARDED graph cache — executor-side builds, resident
    * shard RDD (the distributed graph tier; no driver-size cap). */
  object ShardGraphCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, graft.index.ShardedVamana.Handle]()
    def get(spark: SparkSession, sfDir: String): graft.index.ShardedVamana.Handle =
      getWith(spark, sfDir, "", graft.index.VamanaConfig())
    /** bits=8 vertex codes per shard — the memory-efficient tier. */
    def getQuantized(spark: SparkSession, sfDir: String): graft.index.ShardedVamana.Handle =
      getWith(spark, sfDir, "q", graft.index.VamanaConfig(bits = 8))
    /** On-disk shard directory for a tier — the sharded KNN-join fixture
      * registers these shards against its own private table copy instead
      * of building a second shard set. */
    def dirFor(sfDir: String, tag: String = ""): String =
      s"${sys.props("java.io.tmpdir")}/graft-gshard$tag-${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
    private def getWith(spark: SparkSession, sfDir: String, tag: String,
                        cfg: graft.index.VamanaConfig): graft.index.ShardedVamana.Handle = {
      val key = s"$sfDir#$tag"
      val cached = cache.get(key)
      if (cached != null) cached
      else {
        val dir = dirFor(sfDir, tag)
        graft.index.ShardedVamana.build(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding",
          dir, cfg, shards = 4)
        // load THROUGH the catalog's handle cache: the sharded KNN-join
        // fixture registers this same dir, and two independent loads
        // would hold the shard RDD resident twice
        val h = graft.plans.AnnCatalog.shardedGraph(spark,
          graft.plans.AnnCatalog.Entry(dir, "vec_id", "embedding"))
        cache.put(key, h)
        h
      }
    }
  }

  /** Per-sfDir BM25 postings index (built once per tier per JVM). */
  object PostingsCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Search.PostingsIndex]()
    def get(spark: SparkSession, sfDir: String): graft.ops.Search.PostingsIndex =
      cache.computeIfAbsent(sfDir, _ => {
        val dir = s"${sys.props("java.io.tmpdir")}/graft-postings-${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
        graft.ops.Search.buildPostings(
          tbl(spark, sfDir, "documents"), "doc_id", "text", dir, nBuckets = 16)
      })
  }

  /** Per-sfDir trained BPE model (training is deterministic, so one
    * model per tier serves every loop iteration). */
  object BpeCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Bpe.BpeModel]()
    def get(spark: SparkSession, sfDir: String): graft.ops.Bpe.BpeModel =
      cache.computeIfAbsent(sfDir, _ =>
        graft.ops.Bpe.train(tbl(spark, sfDir, "documents"), "text", nMerges = 64))
  }

  /** Per-(session, sfDir) IVF index cache so bench loops don't rebuild. */
  object IvfCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]()
    def get(spark: SparkSession, sfDir: String): IvfIndex = {
      val key = sfDir
      val cached = cache.get(key)
      if (cached != null) cached
      else {
        val dir = s"${sys.props("java.io.tmpdir")}/graft-ivf-${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
        val idx = IvfIndex.build(
          spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding",
          dir, IvfConfig(lists = 16, bits = 8, residual = true))
        cache.put(key, idx)
        idx
      }
    }
  }
}
