package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Scale design: brute force is a broadcast of the (small) query set over a
  * single pass of the candidate corpus — linear, no shuffle of the corpus.
  * The LSH variant replaces the pass with an equi-join on (table, bucket):
  * at 100 TB the corpus is bucketed once at write time and each query probes
  * only its buckets. Dot products are `aggregate(zip_with(...))` — native,
  * codegen'd, no UDF.
  */
object Similarity {

  /** Sequential left-to-right double dot product — the fold order the
    * DuckDB oracle replicates exactly. Native codegen'd
    * [[graft.plans.VecDot]]; bit-identical to the HOF composition
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` it replaced
    * (pinned by VecDotSpec). */
  def dot(a: Column, b: Column): Column = graft.plans.VecDot(a, b)

  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** cos(a,b) with the division sequence (dot / |a| / |b|) pinned to match
    * the oracle bit-for-bit. */
  private def cosine(va: Column, na: Column, vb: Column, nb: Column): Column =
    dot(va, vb) / na / nb

  /** The frozen IVF codebook over normed vectors (vec_id, v, nrm): every
    * 50th vector is a centroid (cent_id, cv, cn). */
  private[graft] def frozenCents(n: DataFrame): DataFrame =
    n.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))

  /** Rounded cosine of a normed vector (v, nrm) to a centroid (cv, cn):
    * the score IVF assignment ranks on. */
  private[graft] val centSim: Column =
    Num.roundOut(cosine(col("v"), col("nrm"), col("cv"), col("cn")), 6)

  /** Assign normed vectors (vec_id, v, nrm) to their rk≤k nearest
    * centroids of the frozen codebook ([[frozenCents]]), ties to the lower
    * cent_id. Per-vector independent, so the x14/x83 index builders,
    * x101's Δ pass and st21's streaming fold all call it and cannot
    * drift. */
  private[graft] def assignFrozen(n: DataFrame, cents: DataFrame,
      k: Int): DataFrame = {
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cent_id"))
    n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        centSim.as("sim"))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("v"), col("nrm"), col("rk"), col("cent_id"))
  }

  /** x101's relational answer — shared VERBATIM with st21's streaming
    * index maintenance (the x119↔st19 contract applied to ANN serving). */
  private[graft] val x101OracleSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v,
      |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM e
      |), c AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
      |  WHERE vec_id % 50 = 0
      |), a AS (
      |  SELECT n.vec_id, c.cent_id,
      |         round(1e-9 + list_sum(list_transform(range(64),
      |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
      |  FROM n, c
      |), r AS (
      |  SELECT vec_id, cent_id, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
      |  FROM a
      |), corpus AS (
      |  SELECT vec_id, cent_id FROM r WHERE rk = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM r WHERE vec_id < 10 AND rk <= 2
      |), cand AS (
      |  SELECT p.query_id, co.vec_id AS cand_id
      |  FROM probes p JOIN corpus co ON p.cent_id = co.cent_id
      |  WHERE co.vec_id <> p.query_id
      |), sims AS (
      |  SELECT cand.query_id, cand.cand_id,
      |         round(1e-9 + list_sum(list_transform(range(64),
      |                 i -> q.v[i+1] * x.v[i+1])) / q.nrm / x.nrm, 6) AS cos_sim
      |  FROM cand JOIN n q ON q.vec_id = cand.query_id
      |            JOIN n x ON x.vec_id = cand.cand_id
      |), rk2 AS (
      |  SELECT query_id, cand_id, cos_sim, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
      |  FROM sims
      |)
      |SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk,
      |       cand_id % 10 = 7 AS from_delta
      |FROM rk2 WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** x101's probe finish over an rk≤2 assignment table (vec_id, v, nrm,
    * rk, cent_id): queries vec_id<10, nprobe=2, exact cosine within the
    * probed lists, top-5 with Δ provenance. Called on the batch-merged
    * index AND on st21's converged streaming state. */
  private[graft] def ivfProbeReport(merged: DataFrame): DataFrame = {
    val corpus = merged.filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
    val probes = merged.filter(col("vec_id") < 10 && col("rk") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cent_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
    corpus.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        Num.roundOut(cosine(col("qv"), col("qn"), col("v"), col("nrm")), 6)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rnk"),
        (col("cand_id") % 10 === 7).as("from_delta"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** 32 deterministic pseudo-random hyperplanes (4 tables × 8 planes),
    * components from a fixed LCG — reproducible across sessions. */
  private[operators] def planes: Seq[(Int, Int, Seq[Double])] = {
    var state = 88172645463325252L
    def next(): Double = { // xorshift64, uniform in [-0.5, 0.5)
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      ((state >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    for (t <- 0 until 4; j <- 0 until 8)
      yield (t, j, Seq.fill(64)(next()))
  }

  /** The 32 hyperplanes as DuckDB VALUES rows (tbl, j, [64 doubles]) for
    * the x06 oracle — Double.toString is the shortest round-trip repr, so
    * DuckDB parses back the identical bit pattern. A def: `entries`
    * initializes first. */
  private def planesValuesSql: String =
    planes.map { case (t, j, comps) =>
      s"($t, $j, [${comps.mkString(", ")}])"
    }.mkString(",\n      ")

  /** Sign-bit bucket per (vector, table): 8 hyperplane signs → 0..255. */
  private def bucketed(df: DataFrame): DataFrame = {
    val byTable = planes.groupBy(_._1).toSeq.sortBy(_._1)
    byTable.foldLeft(df) { case (acc, (t, ps)) =>
      val bits = ps.sortBy(_._2).zipWithIndex.map { case ((_, _, comps), j) =>
        val planeCol = array(comps.map(lit): _*)
        when(dot(col("v"), planeCol) > 0, 1 << j).otherwise(0)
      }
      acc.withColumn(s"bucket_$t", bits.reduce(_ + _))
    }
  }

  /** The persisted 4-table LSH index (vec_id, v, nrm, tbl, bucket) —
    * shared by x06's multi-table probe and x113's multiprobe (same
    * family ⇒ one on-disk artifact). BUILT ONCE per corpus content and
    * probed per query — at 100 TB the build is the ingest job, and
    * queries never re-scan the corpus. */
  private def lshIndex(s: SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.lsh) {
      val n0 = bucketed(withNorm(Tables.embeddings(s, d)))
      (0 until 4).map { t =>
        n0.select(col("vec_id"), col("v"), col("nrm"),
          lit(t).as("tbl"), col(s"bucket_$t").as("bucket"))
      }.reduce(_.unionByName(_))
    }

  /** Johnson-Lindenstrauss ±1 sign matrix entry — pure integer arithmetic,
    * identical on both engines (see x43's rationale for the k·j cross
    * term: an affine family's rows are correlated cyclic shifts and
    * measurably destroy the JL bound). */
  private def jlSign(k: Long, j: Long): Double =
    if (((k * 73856093L + j * 19349663L
      + (k + 1L) * (j + 1L) * 83492791L) % 1000003L) % 2L == 0L) 1.0
    else -1.0

  /** The 16 projected dims as FLAT codegen'd sums (the x03 simhash trick)
    * instead of an interpreted transform×aggregate lambda (1024
    * interpreted steps per row, 3x slower). reduce() is the same left
    * fold in j order as the oracle's list_reduce, so the doubles stay
    * bit-identical; rounded to 6 decimals for presentation parity. */
  private def jlProjCols: Seq[Column] = (0 until 16).map { k =>
    Num.roundOut(
      (0 until 64).map { j =>
        element_at(col("embedding"), j + 1).cast("double") *
          lit(jlSign(k.toLong, j.toLong))
      }.reduce(_ + _), 6).as("p%02d".format(k))
  }

  /** One projected dim as DuckDB SQL (shared by the x43 and x73 oracles). */
  private def jlColSql(k: Int): String =
    s"""  round(1e-9 + list_reduce(
       |    list_transform(range(64), j ->
       |      (CASE WHEN (($k * 73856093 + j * 19349663
       |                   + ${k + 1} * (j + 1) * 83492791) % 1000003) % 2 = 0
       |            THEN 1.0 ELSE -1.0 END)
       |      * CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)),
       |    (a, b) -> a + b), 6) AS p${"%02d".format(k)}""".stripMargin

  /** The projected corpus PERSISTED content-keyed — at scale this 4x-
    * smaller table is the serving artifact a brute-force tier scans
    * instead of the raw 64-dim vectors; x73 reads it. */
  private def jlProjTable(s: SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.jlproj) {
      Tables.table(s, d, "embeddings").select(col("vec_id") +: jlProjCols: _*)
    }

  val entries: Seq[QueryDef] = Seq(

    // Exact brute-force cosine top-5 per query vector (vec_id < 10).
    // Ranking on Num.roundOut(cos, 6) with vec_id tiebreak keeps cross-engine
    // ordering stable against last-ulp drift.
    QueryDef("x05_cosine_topk",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * c.v[i+1])) / q.nrm / c.nrm, 6) AS cos_sim
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10
        |)
        |SELECT query_id, cand_id, cos_sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_sim DESC, cand_id) AS rnk
        |  FROM sims)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
      val n = withNorm(Tables.embeddings(s, d))
      val q = n.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
        .filter(col("query_id") < 10)
      val c = n.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn"))
      val sims = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6).as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      sims.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // ANN via IVF (inverted-file) partitioning: every 50th vector serves as
    // a centroid (deterministic "training"); corpus vectors are assigned to
    // their nearest centroid (one pass, broadcast centroids); a query
    // probes its nprobe=2 nearest centroid lists and re-ranks exactly.
    // At 100 TB the assignment is computed once at ingest and the probe is
    // a partition-pruned equi-join — no corpus scan per query.
    // Oracle-checked since late round 6 (assignment sims rounded to 6
    // decimals — x05's rank-on-rounded rule — so the cross-engine
    // ordering is exact); SinksAndIvfSpec additionally pins duplicate
    // recall on a crafted corpus.
    QueryDef("x14_ann_ivf",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), c AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id % 50 = 0
        |), a AS (
        |  SELECT n.vec_id, c.cent_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
        |  FROM n, c
        |), r AS (
        |  SELECT vec_id, cent_id, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM a
        |), corpus AS (
        |  SELECT vec_id, cent_id FROM r WHERE rk = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cent_id FROM r WHERE vec_id < 10 AND rk <= 2
        |), cand AS (
        |  SELECT p.query_id, co.vec_id AS cand_id
        |  FROM probes p JOIN corpus co ON p.cent_id = co.cent_id
        |  WHERE co.vec_id <> p.query_id
        |), sims AS (
        |  SELECT cand.query_id, cand.cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * x.v[i+1])) / q.nrm / x.nrm, 6) AS cos_sim
        |  FROM cand JOIN n q ON q.vec_id = cand.query_id
        |            JOIN n x ON x.vec_id = cand.cand_id
        |), rk2 AS (
        |  SELECT query_id, cand_id, cos_sim, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
        |  FROM sims
        |)
        |SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk
        |FROM rk2 WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
      val assigned2 = ivfAssignedTable(s, d)
      val corpus = assigned2.filter(col("rk") === 1) // inverted lists
        .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
      val probes = assigned2.filter(col("vec_id") < 10 && col("rk") <= 2) // nprobe=2
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("cent_id"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      corpus.join(broadcast(probes), Seq("cent_id")) // probe only 2 lists
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("v"), col("nrm")), 6)
            .as("cos_sim"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // IVF RECALL-vs-NPROBE SWEEP — the serving-quality tuning table every
    // IVF deployment reads before picking its probe budget: for nprobe ∈
    // {1, 2, 4}, each query's top-5 from the probed lists is compared
    // against the EXACT brute-force top-5 (x05's oracle-checked ranking,
    // recomputed in-query), reporting candidates examined and recall@5.
    // Assignments rank on ROUNDED sims (x05's rule) so the probe sets are
    // bit-identical cross-engine; recall is pure set arithmetic after
    // that. The monotone recall/cost trade (more probes ⇒ ⊇ candidates ⇒
    // ≥ recall) is spec-pinned.
    //
    // Scale: the rk≤4 assignment table persists partitionBy(cent_id)
    // (the inverted-file layout — probe joins prune to the probed lists'
    // directories); per query the work is |probed lists| × their sizes
    // for EACH nprobe tier, and the exact arm is the oracle's calibration
    // — at 100 TB the sweep runs on a sampled query set, never the corpus.
    QueryDef("x83_ivf_nprobe_sweep",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), c AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id % 50 = 0
        |), a AS (
        |  SELECT n.vec_id, c.cent_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
        |  FROM n, c
        |), r AS (
        |  SELECT vec_id, cent_id, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM a
        |), corpus AS (
        |  SELECT vec_id, cent_id FROM r WHERE rk = 1
        |), np(np) AS (VALUES (1), (2), (4)),
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS query_id, np.np, co.vec_id AS cand_id
        |  FROM r p CROSS JOIN np
        |  JOIN corpus co ON p.cent_id = co.cent_id
        |  WHERE p.vec_id < 10 AND p.rk <= np.np AND co.vec_id <> p.vec_id
        |), asims AS (
        |  SELECT cand.query_id, cand.np, cand.cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * x.v[i+1])) / q.nrm / x.nrm, 6) AS cos_sim
        |  FROM cand JOIN n q ON q.vec_id = cand.query_id
        |            JOIN n x ON x.vec_id = cand.cand_id
        |), approx5 AS (
        |  SELECT query_id, np, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id, np
        |              ORDER BY cos_sim DESC, cand_id) AS rnk
        |    FROM asims) WHERE rnk <= 5
        |), esims AS (
        |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * x.v[i+1])) / q.nrm / x.nrm, 6) AS cos_sim
        |  FROM n q JOIN n x ON x.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10
        |), exact5 AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos_sim DESC, cand_id) AS rnk
        |    FROM esims) WHERE rnk <= 5
        |), nc AS (
        |  SELECT query_id, np, CAST(count(*) AS BIGINT) AS n_cand
        |  FROM cand GROUP BY 1, 2
        |), hits AS (
        |  SELECT a.query_id, a.np, CAST(count(e.cand_id) AS INT) AS n_hit
        |  FROM approx5 a LEFT JOIN exact5 e
        |    ON e.query_id = a.query_id AND e.cand_id = a.cand_id
        |  GROUP BY 1, 2
        |)
        |SELECT nc.query_id, CAST(nc.np AS INT) AS nprobe, nc.n_cand,
        |       hits.n_hit,
        |       round(1e-9 + hits.n_hit / 5.0, 4) AS recall5
        |FROM nc JOIN hits ON hits.query_id = nc.query_id AND hits.np = nc.np
        |ORDER BY nc.query_id, nprobe""".stripMargin) { (s, d) =>
      import s.implicits._
      // rk≤4 assignment artifact, inverted-file layout (x14's builder at
      // a deeper probe budget — a separate table so x14's rk≤2 index
      // stays byte-stable)
      val assigned4 = DerivedTable(s, d, Artifacts.ivf4,
          Seq("cent_id")) {
        val n = withNorm(Tables.embeddings(s, d))
        assignFrozen(n, frozenCents(n), 4)
      }
      val corpus = assigned4.filter(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
      val nps = broadcast(Seq(1, 2, 4).toDF("np"))
      val probes = assigned4.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("rk"), col("cent_id"))
        .crossJoin(nps).filter(col("rk") <= col("np"))
      val cand = corpus.join(broadcast(probes), Seq("cent_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("np"), col("vec_id").as("cand_id"))
        .distinct()
      // Fresh scan + norm + checkpoint, NOT an artifact read: measured
      // (r12, isolated sf0.1) this is the fastest of three shapes —
      // 1.20 s vs 1.47 s reading the cent_id-partitioned ivf4 artifact
      // twice and 1.44 s checkpointing the artifact rows; the
      // partitioned artifact's many small files cost more to decode
      // than one flat scan + 64-term norm. SCALING.md r12 reconciles
      // r10's 0.82 s in-pass figure as warm-JVM adjacency, not a
      // regression; x83 joined the sentinel set to track this.
      val n = withNorm(Tables.embeddings(s, d)).localCheckpoint()
      val q = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val x = n.select(col("vec_id").as("cand_id"), col("v").as("xv"),
        col("nrm").as("xn"))
      val asims = cand.join(broadcast(q), "query_id").join(x, "cand_id")
        .select(col("query_id"), col("np"), col("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("xv"), col("xn")), 6)
            .as("cos_sim"))
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("np"))
        .orderBy(col("cos_sim").desc, col("cand_id"))
      val approx5 = asims.withColumn("rnk", row_number().over(wa))
        .filter(col("rnk") <= 5).select(col("query_id"), col("np"), col("cand_id"))
      val esims = x.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("xv"), col("xn")), 6)
            .as("cos_sim"))
      val we = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      val exact5 = esims.withColumn("rnk", row_number().over(we))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
      val nc = cand.groupBy(col("query_id"), col("np"))
        .agg(count(lit(1)).as("n_cand"))
      val hits = approx5.join(broadcast(exact5), Seq("query_id", "cand_id"), "left")
        .groupBy(col("query_id"), col("np"))
        .agg(count(col("hit")).cast("int").as("n_hit"))
      nc.join(hits, Seq("query_id", "np"))
        .select(col("query_id"), col("np").cast("int").as("nprobe"),
          col("n_cand"), col("n_hit"),
          Num.roundOut(col("n_hit") / 5.0, 4).as("recall5"))
        .orderBy(col("query_id"), col("nprobe"))
    },

    // EMBEDDING-SPACE QA per label — the cohesion/separation audit run
    // before trusting embeddings for classification or triplet mining
    // (x68's QA companion): per label, the dim-wise mean centroid
    // (rounded 6 — the x33 centroid rule that masks cross-row summation
    // drift), the mean member→own-centroid cosine (cohesion), the most
    // similar OTHER centroid (nearest confusable class), and the margin
    // between them. A negative/thin margin flags the label pairs a
    // classifier will confuse — the actionable row of the table.
    //
    // Scale: centroids are one (label, dim) partial-agg pass (640 cells
    // at any corpus size); cohesion is a second broadcast-centroid pass;
    // separation runs on the labels × labels centroid table — driver-
    // tiny. Nothing pairwise ever touches member vectors (x34's lesson).
    QueryDef("x86_embedding_qa",
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), cm AS (
        |  SELECT label, CAST(dim AS INT) AS dim, round(1e-9 + avg(x), 6) AS cv
        |  FROM (SELECT label, unnest(range(64)) AS dim, unnest(v) AS x FROM e)
        |  GROUP BY label, dim
        |), cent AS (
        |  SELECT label, list(cv ORDER BY dim) AS c FROM cm GROUP BY label
        |), cn AS (
        |  SELECT label, c,
        |         sqrt(list_sum(list_transform(c, x -> x * x))) AS cnrm
        |  FROM cent
        |), coh AS (
        |  SELECT e.label, CAST(count(*) AS BIGINT) AS n_members,
        |         round(1e-9 + avg(round(1e-9 +
        |           list_sum(list_transform(range(64), i -> e.v[i+1] * cn.c[i+1]))
        |           / sqrt(list_sum(list_transform(e.v, x -> x * x))) / cn.cnrm,
        |           6)), 6) AS cohesion
        |  FROM e JOIN cn ON cn.label = e.label
        |  GROUP BY e.label
        |), sep AS (
        |  SELECT a.label, b.label AS other,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> a.c[i+1] * b.c[i+1])) / a.cnrm / b.cnrm, 6) AS sim,
        |         row_number() OVER (PARTITION BY a.label
        |           ORDER BY round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> a.c[i+1] * b.c[i+1])) / a.cnrm / b.cnrm, 6) DESC,
        |           b.label) AS rn
        |  FROM cn a JOIN cn b ON a.label <> b.label
        |)
        |SELECT coh.label, coh.n_members, coh.cohesion,
        |       CAST(sep.other AS INT) AS nearest_label,
        |       sep.sim AS nearest_sim,
        |       round(1e-9 + coh.cohesion - sep.sim, 6) AS margin
        |FROM coh JOIN sep ON sep.label = coh.label AND sep.rn = 1
        |ORDER BY coh.label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
      val cm = e.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(Num.roundOut(avg(col("x")), 6).as("cv"))
      val cent = cm.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          s => s.getField("cv")).as("c"))
      val cn = cent.select(col("label"), col("c"),
        sqrt(dot(col("c"), col("c"))).as("cnrm"))
      val coh = e.join(broadcast(cn), "label")
        .select(col("label"),
          Num.roundOut(dot(col("v"), col("c"))
            / sqrt(dot(col("v"), col("v"))) / col("cnrm"), 6).as("cos"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          Num.roundOut(avg(col("cos")), 6).as("cohesion"))
      val a = cn.select(col("label"), col("c").as("ca"), col("cnrm").as("na"))
      val b = cn.select(col("label").as("other"), col("c").as("cb"),
        col("cnrm").as("nb"))
      val sep = a.join(broadcast(b), col("label") =!= col("other"))
        .select(col("label"), col("other"),
          Num.roundOut(dot(col("ca"), col("cb")) / col("na") / col("nb"), 6)
            .as("sim"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
            .orderBy(col("sim").desc, col("other"))))
        .filter(col("rn") === 1)
      coh.join(sep, "label")
        .select(col("label"), col("n_members"), col("cohesion"),
          col("other").cast("int").as("nearest_label"),
          col("sim").as("nearest_sim"),
          Num.roundOut(col("cohesion") - col("sim"), 6).as("margin"))
        .orderBy(col("label"))
    },

    // ANN via random-hyperplane LSH: 4 tables × 8-bit sign buckets;
    // candidates share a bucket in ANY table; exact cosine re-rank, top 5.
    // Oracle-checked since late round 6: the 32 deterministic hyperplanes
    // are INTERPOLATED into the SQL as literal lists (shortest-roundtrip
    // double repr → bit-identical parse), so DuckDB computes the same
    // sign buckets — the x05 fold-parity rule extended to the sign test
    // (a flipped sign needs |dot| under ~1 ulp; the fixture's dots are
    // O(1)). SimilaritySpec still pins recall on crafted near-duplicates.
    QueryDef("x06_ann_lsh",
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), pl(tbl, j, p) AS (
        |  VALUES $planesValuesSql
        |), bits AS (
        |  SELECT n.vec_id, pl.tbl,
        |         CASE WHEN list_sum(list_transform(range(64),
        |                i -> n.v[i+1] * pl.p[i+1])) > 0
        |              THEN (1 << pl.j) ELSE 0 END AS bit
        |  FROM n, pl
        |), buckets AS (
        |  SELECT vec_id, tbl, CAST(sum(bit) AS INT) AS bucket
        |  FROM bits GROUP BY vec_id, tbl
        |), q AS (
        |  SELECT vec_id AS query_id, tbl, bucket FROM buckets WHERE vec_id < 10
        |), pairs AS (
        |  SELECT DISTINCT q.query_id, b.vec_id AS cand_id
        |  FROM buckets b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
        |  WHERE b.vec_id <> q.query_id
        |), sims AS (
        |  SELECT pairs.query_id, pairs.cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> a.v[i+1] * c.v[i+1])) / a.nrm / c.nrm, 6) AS cos_sim
        |  FROM pairs JOIN n a ON a.vec_id = pairs.query_id
        |             JOIN n c ON c.vec_id = pairs.cand_id
        |)
        |SELECT query_id, cand_id, cos_sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_sim DESC, cand_id) AS rnk
        |  FROM sims)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
      // Persisted hash-table index (one row per vector per table); at
      // cluster scale this is additionally bucketBy(tbl, bucket) so the
      // probe join is exchange-free (w02's layout applied to ANN).
      val tables = lshIndex(s, d)
      val q = tables.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
      val pairs = tables.join(broadcast(q),
          Seq("tbl", "bucket")) // bucket probe, not a corpus scan
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"))
        .distinct() // a pair may collide in several tables
      // v and nrm come from the index itself (tbl 0 holds every vector
      // once) — no second corpus scan or norm recompute for the re-rank
      val base = tables.filter(col("tbl") === 0)
      val qv = base.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      val cv = base.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      pairs.join(broadcast(qv), "query_id").join(cv, "cand_id")
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6).as("cos_sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .orderBy(col("query_id"), col("rnk"))
    },

    // MULTIPROBE LSH (Lv et al., VLDB'07) — recall without more tables:
    // besides its own table-0 bucket, each query probes the buckets
    // reached by flipping its TWO least-confident hyperplane bits
    // (smallest |margin| = the signs most likely wrong), trading a few
    // extra bucket reads for the recall that x06 buys with 4× index
    // copies. Candidates carry provenance (from_flip: found only via a
    // flipped bucket) so the recall contribution of probing is
    // measurable; exact cosine re-rank on the union.
    //
    // Scale: the corpus side is the SAME persisted index artifact x06
    // probes (one build, two consumers); per query the work is 3 bucket
    // reads + margins on the query vector only — multiprobe is exactly
    // the knob that keeps index storage flat while the corpus grows.
    QueryDef("x113_multiprobe_lsh",
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), pl(tbl, j, p) AS (
        |  VALUES $planesValuesSql
        |), d0 AS (
        |  SELECT n.vec_id, pl.j,
        |         list_sum(list_transform(range(64),
        |           i -> n.v[i+1] * pl.p[i+1])) AS dp
        |  FROM n, pl WHERE pl.tbl = 0
        |), bk AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dp > 0 THEN (1 << j) ELSE 0 END) AS INT)
        |           AS bucket
        |  FROM d0 GROUP BY vec_id
        |), fl AS (
        |  SELECT vec_id, j, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY abs(dp), j) AS rconf
        |  FROM d0 WHERE vec_id < 10
        |), probes AS (
        |  SELECT vec_id AS query_id, bucket AS pbucket, 0 AS lvl
        |  FROM bk WHERE vec_id < 10
        |  UNION ALL
        |  SELECT fl.vec_id, CAST(xor(bk.bucket, (1 << fl.j)) AS INT), 1
        |  FROM fl JOIN bk ON bk.vec_id = fl.vec_id WHERE fl.rconf <= 2
        |), cand AS (
        |  SELECT p.query_id, b.vec_id AS cand_id, min(p.lvl) AS lvl
        |  FROM probes p JOIN bk b ON b.bucket = p.pbucket
        |  WHERE b.vec_id <> p.query_id
        |  GROUP BY 1, 2
        |), sims AS (
        |  SELECT cand.query_id, cand.cand_id, cand.lvl,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> a.v[i+1] * c.v[i+1])) / a.nrm / c.nrm, 6) AS cos_sim
        |  FROM cand JOIN n a ON a.vec_id = cand.query_id
        |            JOIN n c ON c.vec_id = cand.cand_id
        |)
        |SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk,
        |       lvl = 1 AS from_flip
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos_sim DESC, cand_id) AS rnk FROM sims)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
      val tbl0 = lshIndex(s, d).filter(col("tbl") === 0)
      val p0 = planes.filter(_._1 == 0).sortBy(_._2)
      // query-side margins: 8 plane dots on the 10 query vectors only
      val dcols = p0.map { case (_, j, comps) =>
        dot(col("v"), array(comps.map(lit): _*)).as(s"d$j")
      }
      val q = withNorm(Tables.embeddings(s, d))
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id") +: dcols: _*)
      val qbucket = p0.map { case (_, j, _) =>
        when(col(s"d$j") > 0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      // the two least-confident planes: sort (|margin|, j) structs
      val conf = array_sort(array(p0.map { case (_, j, _) =>
        struct(abs(col(s"d$j")).as("a"), lit(j).as("j"))
      }: _*))
      val withB = q.select(col("query_id"), qbucket.as("qb"), conf.as("conf"))
      val main = withB.select(col("query_id"), col("qb").as("pbucket"),
        lit(0).as("lvl"))
      val flips = withB
        .select(col("query_id"), col("qb"),
          explode(slice(col("conf"), 1, 2)).as("f"))
        .select(col("query_id"),
          col("qb").bitwiseXOR(element_at(
            array((0 until 8).map(j => lit(1 << j)): _*), col("f.j") + 1))
            .as("pbucket"),
          lit(1).as("lvl"))
      val probes = main.unionByName(flips)
      val cand = tbl0.join(broadcast(probes),
          col("bucket") === col("pbucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("cand_id"))
        .agg(min(col("lvl")).as("lvl"))
      val qv = tbl0.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val cv = tbl0.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      cand.join(broadcast(qv), "query_id").join(cv, "cand_id")
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6)
            .as("cos_sim"), col("lvl"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rnk"),
          (col("lvl") === 1).as("from_flip"))
        .orderBy(col("query_id"), col("rnk"))
    },

    // K-CENTER SEED SELECTION (Gonzalez 1985 greedy, 2-approximation) —
    // the diversity/coreset primitive: pick 5 maximally-spread vectors
    // by repeatedly taking the point FARTHEST from the chosen set (the
    // k-means++ deterministic cousin, and the seed rule diverse eval-set
    // builders use). Each round reports its selection radius — the
    // covering radius of the set chosen so far — so the output is also
    // the "how many centers until coverage stops improving" curve;
    // radii are provably nonincreasing (spec-pinned) and the final row
    // is the 5-seed covering radius over the whole corpus.
    //
    // Scale: each round is one broadcast of a SINGLE seed row over a
    // corpus pass that keeps a running min-distance column — k rounds =
    // k linear passes, no pairwise matrix, no driver-side collect (the
    // argmax is a 1-row TakeOrdered that feeds the next round's
    // broadcast). Distances are the same left-fold doubles as the
    // k-means tier, so the DuckDB oracle replays every selection
    // exactly, ties broken by vec_id.
    QueryDef("x115_kcenter_seeds",
      {
        def sqd(a: String, b: String) =
          s"""list_reduce(list_transform(range(64),
             |             i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])),
             |             (a, b) -> a + b)""".stripMargin
        s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), s0 AS (
        |  SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1
        |), d1 AS (
        |  SELECT e.vec_id, e.v, ${sqd("e.v", "s0.v")} AS md FROM e, s0
        |), s1 AS (
        |  SELECT vec_id, v, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1
        |), d2 AS (
        |  SELECT d.vec_id, d.v, least(d.md, ${sqd("d.v", "s1.v")}) AS md
        |  FROM d1 d, s1
        |), s2 AS (
        |  SELECT vec_id, v, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1
        |), d3 AS (
        |  SELECT d.vec_id, d.v, least(d.md, ${sqd("d.v", "s2.v")}) AS md
        |  FROM d2 d, s2
        |), s3 AS (
        |  SELECT vec_id, v, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1
        |), d4 AS (
        |  SELECT d.vec_id, d.v, least(d.md, ${sqd("d.v", "s3.v")}) AS md
        |  FROM d3 d, s3
        |), s4 AS (
        |  SELECT vec_id, v, md FROM d4 ORDER BY md DESC, vec_id LIMIT 1
        |), d5 AS (
        |  SELECT least(d.md, ${sqd("d.v", "s4.v")}) AS md FROM d4 d, s4
        |)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INT) AS round,
        |         (SELECT vec_id FROM s0) AS seed_id, 0.0 AS radius
        |  UNION ALL SELECT 1, (SELECT vec_id FROM s1),
        |    round(1e-9 + (SELECT md FROM s1), 6)
        |  UNION ALL SELECT 2, (SELECT vec_id FROM s2),
        |    round(1e-9 + (SELECT md FROM s2), 6)
        |  UNION ALL SELECT 3, (SELECT vec_id FROM s3),
        |    round(1e-9 + (SELECT md FROM s3), 6)
        |  UNION ALL SELECT 4, (SELECT vec_id FROM s4),
        |    round(1e-9 + (SELECT md FROM s4), 6)
        |  UNION ALL SELECT 5, CAST(NULL AS BIGINT),
        |    round(1e-9 + (SELECT max(md) FROM d5), 6)
        |) ORDER BY round""".stripMargin
      }) { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val s0 = e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("sid"), col("v").as("sv"))
      def pick(dN: DataFrame): DataFrame =
        dN.orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("sid"), col("v").as("sv"),
            col("md").as("smd"))
      def shrink(dN: DataFrame, seed: DataFrame): DataFrame =
        dN.crossJoin(broadcast(seed.select(col("sv"))))
          .select(col("vec_id"), col("v"),
            least(col("md"), kmeansSqDist(col("v"), col("sv"))).as("md"))
      val d1 = e.crossJoin(broadcast(s0.select(col("sv"))))
        .select(col("vec_id"), col("v"),
          kmeansSqDist(col("v"), col("sv")).as("md"))
      val s1 = pick(d1)
      val d2 = shrink(d1, s1); val s2 = pick(d2)
      val d3 = shrink(d2, s2); val s3 = pick(d3)
      val d4 = shrink(d3, s3); val s4 = pick(d4)
      val d5 = shrink(d4, s4)
      val r0 = s0.select(lit(0).as("round"), col("sid").as("seed_id"),
        lit(0.0).as("radius"))
      val rks = Seq(s1 -> 1, s2 -> 2, s3 -> 3, s4 -> 4).map { case (df, r) =>
        df.select(lit(r).as("round"), col("sid").as("seed_id"),
          Num.roundOut(col("smd"), 6).as("radius"))
      }
      val fin = d5.agg(max(col("md")).as("m"))
        .select(lit(5).as("round"), lit(null).cast("long").as("seed_id"),
          Num.roundOut(col("m"), 6).as("radius"))
      (r0 +: rks :+ fin).reduce(_.unionByName(_)).orderBy(col("round"))
    },

    // Int8 SCALAR QUANTIZATION of the embedding column — the 4× storage
    // shrink every large-scale vector pipeline applies before ANN. Per
    // vector: symmetric max-abs scale, q_i = clamp(floor(v_i/scale·127)),
    // plus the reconstruction-error report that decides whether int8 is
    // safe for the corpus. All per-row column math (embarrassingly
    // parallel); floor/clamp on identical doubles keeps the codes
    // bit-identical to the oracle, and the error sum is the same
    // left-to-right fold both engines evaluate (x13's precedent).
    QueryDef("x24_sq8",
      """WITH n AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, label, v,
        |         list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM n
        |), q AS (
        |  SELECT vec_id, label, scale, v,
        |         list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |           ELSE greatest(least(CAST(floor(x / scale * 127) AS BIGINT),
        |                               127), -127) END) AS qv
        |  FROM s
        |)
        |SELECT vec_id, label, round(1e-9 + scale, 6) AS scale,
        |       CAST(list_max(qv) AS BIGINT) AS max_q,
        |       round(1e-9 + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |               list_transform(range(64),
        |                 i -> abs(v[i+1] - qv[i+1] * scale / 127.0))),
        |             (acc, x) -> acc + x) / 64, 6) AS mean_abs_err
        |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      val v = transform(col("embedding"), _.cast("double"))
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), v.as("v"))
        .withColumn("scale", array_max(transform(col("v"), abs(_))))
      val qv = when(col("scale") === 0,
        transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"), x =>
          greatest(least(floor(x / col("scale") * 127), lit(127L)),
            lit(-127L))))
      // err computed BEFORE the select that aliases the rounded scale:
      // lateral column alias resolution would otherwise silently rebind
      // col("scale") inside the lambda to the rounded output column and
      // drift the error term off the oracle (which uses the exact scale)
      base.withColumn("qv", qv)
        .withColumn("err_sum", aggregate(
          zip_with(col("v"), col("qv"),
            (a, q) => abs(a - q * col("scale") / 127.0)),
          lit(0.0), (acc, x) => acc + x))
        .select(col("vec_id"), col("label"),
          Num.roundOut(col("scale"), 6).as("scale"),
          array_max(col("qv")).as("max_q"),
          Num.roundOut(col("err_sum") / 64, 6).as("mean_abs_err"))
        .orderBy(col("vec_id"))
    },

    // K-MEANS clustering over embeddings (the SemDeDup / domain-discovery
    // primitive): k=4, TWO unrolled Lloyd iterations, deterministic init
    // (the first k vec_ids). Fully oracle-checked — cross-engine FP parity
    // holds because (a) squared-L2 distances are sequential left folds
    // over the dim order on BOTH engines (zip_with+aggregate here,
    // list_reduce in DuckDB — identical add sequence), and (b) updated
    // centroids are ROUNDED (6 dp, nudged) each iteration, so the
    // summation-order-sensitive mean never feeds unrounded bits into the
    // next distance computation. Ties in assignment break by cluster id.
    //
    // Scale shape: the classic distributed k-means — centroids (k×dim,
    // tiny) BROADCAST to a single corpus pass for assignment; the update
    // is a (cluster, dim) partial aggregate that map-side combines, so
    // each iteration is one broadcast + one bounded shuffle of k×dim
    // partials per partition. At 100 TB swap the first-k init for
    // k-means|| over a sample; the iteration plumbing is unchanged.
    // Empty clusters keep their previous centroid (left-join coalesce).
    QueryDef("x33_kmeans",
      s"""WITH $kmeansCteSql
        |SELECT vec_id, cluster, round(1e-9 + dist, 4) AS dist
        |FROM af WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      kmeansListsTable(s, d)
        .select(col("vec_id"), col("cluster"),
          Num.roundOut(col("dist"), 4).as("dist"))
        .orderBy(col("vec_id"))
    },

    // SemDeDup (Abbas et al. 2023): semantic deduplication INSIDE k-means
    // clusters — the full composition of x33's clustering with within-
    // cluster cosine pruning. Every vector reports its most-similar
    // cluster neighbor; a vector is DROPPED when an earlier-id neighbor
    // sits above the similarity threshold (τ=0.35 here — the fixture has
    // no planted embedding dups, so the demo threshold sits inside the
    // random-cosine tail; production τ≈0.95+), so each dup chain keeps
    // exactly its lowest id. Aggregates are max/count — order-independent,
    // no FP-accumulation hazard; cosines themselves are the same pinned
    // VecDot/list_sum sequential folds as x13.
    //
    // Scale: this is WHY SemDeDup clusters first — pairwise work is
    // Σ(cluster_size²), not N²; k grows with the corpus so cluster size
    // stays bounded, and the pair join shuffles on cluster id with ≤k
    // keys. The cluster-skew ceiling is AQE skew-split territory.
    QueryDef("x34_semdedup",
      s"""WITH $kmeansCteSql,
        |asg AS (
        |  SELECT af.vec_id, af.cluster, v.v FROM af
        |  JOIN v ON af.vec_id = v.vec_id WHERE af.rn = 1
        |), mm AS (
        |  SELECT vec_id, cluster, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM asg
        |), pr AS (
        |  SELECT a.vec_id, a.cluster,
        |         max(list_sum(list_transform(range(64),
        |               i -> a.v[i+1] * b.v[i+1])) / a.nrm / b.nrm) AS mx,
        |         CAST(sum(CASE WHEN list_sum(list_transform(range(64),
        |                 i -> a.v[i+1] * b.v[i+1])) / a.nrm / b.nrm > 0.35
        |               AND b.vec_id < a.vec_id THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_earlier
        |  FROM mm a JOIN mm b
        |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |  GROUP BY a.vec_id, a.cluster
        |)
        |SELECT asg.vec_id, asg.cluster,
        |       round(1e-9 + coalesce(pr.mx, -1.0), 6) AS max_cos,
        |       coalesce(pr.n_earlier, 0) AS n_earlier,
        |       coalesce(pr.n_earlier, 0) = 0 AS kept
        |FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
        |ORDER BY asg.vec_id""".stripMargin) { (s, d) =>
      val m = kmeansListsTable(s, d)
        .select(col("vec_id"), col("cluster"), col("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .localCheckpoint() // feeds both pair sides + the report left join
      val a = m.select(col("cluster"), col("vec_id"),
        col("v").as("va"), col("nrm").as("na"))
      val b = m.select(col("cluster"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val pr = a.join(b, Seq("cluster"))
        .filter(col("vec_id") =!= col("vec_b"))
        .withColumn("cos", dot(col("va"), col("vb")) / col("na") / col("nb"))
        .groupBy(col("vec_id"), col("cluster"))
        .agg(max(col("cos")).as("mx"),
          sum(when(col("cos") > 0.35 && col("vec_b") < col("vec_id"), 1)
            .otherwise(0)).as("n_earlier"))
        .select(col("vec_id"), col("mx"), col("n_earlier"))
      m.select(col("vec_id"), col("cluster"))
        .join(pr, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          Num.roundOut(coalesce(col("mx"), lit(-1.0)), 6).as("max_cos"),
          coalesce(col("n_earlier"), lit(0L)).as("n_earlier"),
          (coalesce(col("n_earlier"), lit(0L)) === 0).as("kept"))
        .orderBy(col("vec_id"))
    },

    // Johnson-Lindenstrauss RANDOM PROJECTION: 64-dim float embeddings down
    // to 16 dims through a deterministic ±1 matrix derived from pure
    // integer arithmetic — both engines synthesize the identical matrix,
    // no stored artifact, no RNG. The sign hash needs a k*j CROSS term: an
    // affine k*a + j*b (mod p) makes every matrix row a cyclic shift of
    // one base pattern, and the correlated rows measurably destroy the JL
    // bound (mean cosine error 0.38 vs 0.16 with mixing; pinned in
    // Round6Spec). Per output dim the dot product is a SEQUENTIAL left
    // fold in array order (the x33 parity rule), so the doubles are
    // bit-identical cross-engine before the 6-decimal presentation round.
    //
    // Scale: embarrassingly parallel per-row column math — zero shuffle
    // except the presentation sort. This is the front door to making
    // brute-force search 4x cheaper: x05-style scans run against `proj`
    // (16 mults/row) instead of the raw 64-dim vectors, with JL deciding
    // the dim budget vs recall (pinned in Round6Spec).
    // 16 SCALAR columns p00..p15 rather than one array<double> column: the
    // driver's correctness compare sorts cell values with pandas, which
    // cannot hash/sort numpy arrays — an array-typed output is structurally
    // unverifiable by that harness even when every double matches. Scalar
    // columns also match what a downstream x05-style scan over the projected
    // space wants (16 independent codegen'd doubles, no array allocation);
    // x73 runs that scan over the same projection, persisted.
    QueryDef("x43_random_projection",
      "SELECT vec_id,\n" + (0 until 16).map(jlColSql).mkString(",\n") +
        "\nFROM embeddings ORDER BY vec_id") { (s, d) =>
      Tables.table(s, d, "embeddings")
        .select(col("vec_id") +: jlProjCols: _*)
        .orderBy(col("vec_id"))
    },

    // JL-PROJECTED SEARCH — the payoff of x43's projection: brute-force
    // top-5 cosine for the x05 query set (vec_id < 10) computed in the
    // 16-dim projected space, with a per-neighbor flag marking whether
    // the exact 64-dim top-5 (x05's oracle-checked ranking) contains it —
    // recall@5 of the compressed tier, measured relationally on both
    // engines. The projected values are the ROUNDED p-columns (x43's
    // hash-checked output), so projected dots and norms are bit-identical
    // cross-engine; ranking is on round(cos, 6) with cand tiebreak (the
    // x05 rule).
    //
    // Scale: the scan runs against the PERSISTED projected table
    // ([[DerivedTable]] jlproj) — 16 doubles/row instead of 64 floats, a
    // 4x cheaper corpus pass with zero index build or probe machinery;
    // the query set broadcasts, the corpus never shuffles (x05's shape).
    // JL says recall degrades smoothly with the dim budget — this query
    // IS the measurement a serving tier tunes that budget with. Measured
    // honestly: recall@5 is LOW here (2/50 at sf0.001, 6/50 at sf0.01) —
    // the synthetic embeddings are near-uniform, so top-5 cosines sit
    // within the d=16 distortion band (Round6Spec: mean error 0.16) and
    // the projection scrambles their order. That is the signal telling a
    // tier this corpus needs a bigger budget (x67's Matryoshka audit
    // makes the same budget-vs-recall call from prefix dims).
    QueryDef("x73_jl_search",
      ("""WITH pj AS (
        |  SELECT vec_id,
        |""".stripMargin +
        (0 until 16).map(jlColSql).mkString(",\n") + """
        |  FROM embeddings
        |), pn AS (
        |  SELECT vec_id, pv,
        |         sqrt(list_sum(list_transform(pv, x -> x * x))) AS nrm
        |  FROM (SELECT vec_id,
        |          [p00, p01, p02, p03, p04, p05, p06, p07,
        |           p08, p09, p10, p11, p12, p13, p14, p15] AS pv
        |        FROM pj)
        |), sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(1e-9 + list_sum(list_transform(range(16),
        |                 i -> q.pv[i+1] * c.pv[i+1])) / q.nrm / c.nrm, 6)
        |           AS cos_proj
        |  FROM pn q JOIN pn c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10
        |), pr AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY cos_proj DESC, cand_id) AS rnk
        |  FROM sims
        |), e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), esims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * c.v[i+1])) / q.nrm / c.nrm, 6) AS cos_ex
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10
        |), ex AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos_ex DESC, cand_id) AS rk
        |    FROM esims)
        |  WHERE rk <= 5
        |)
        |SELECT p.query_id, p.cand_id, p.rnk, p.cos_proj,
        |       ex.cand_id IS NOT NULL AS in_exact_top5
        |FROM pr p LEFT JOIN ex ON ex.query_id = p.query_id
        |                      AND ex.cand_id = p.cand_id
        |WHERE p.rnk <= 5
        |ORDER BY p.query_id, p.rnk""").stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      val pv = jlProjTable(s, d)
        .select(col("vec_id"),
          array((0 until 16).map(k => col("p%02d".format(k))): _*).as("pv"))
        .withColumn("nrm", sqrt(dot(col("pv"), col("pv"))))
      val q = pv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("pv").as("qv"),
          col("nrm").as("qn"))
      val c = pv.select(col("vec_id").as("cand_id"), col("pv").as("cv"),
        col("nrm").as("cn"))
      val pr = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(dot(col("qv"), col("cv")) / col("qn") / col("cn"), 6)
            .as("cos_proj"))
        .withColumn("rnk", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("cos_proj").desc, col("cand_id"))))
        .filter(col("rnk") <= 5)
      val n = withNorm(Tables.embeddings(s, d))
      val qe = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("ev"),
          col("nrm").as("en"))
      val ce = n.select(col("vec_id").as("cand_id"), col("v").as("fv"),
        col("nrm").as("fn"))
      val ex = ce.join(broadcast(qe), col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(cosine(col("ev"), col("en"), col("fv"), col("fn")), 6)
            .as("cos_ex"))
        .withColumn("rk", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("cos_ex").desc, col("cand_id"))))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
      pr.join(ex, Seq("query_id", "cand_id"), "left")
        .select(col("query_id"), col("cand_id"), col("rnk"), col("cos_proj"),
          coalesce(col("hit"), lit(false)).as("in_exact_top5"))
        .orderBy(col("query_id"), col("rnk"))
    },

    // PRODUCT QUANTIZATION encode (Jégou et al. 2011) — the compression
    // layer real ANN serving runs on: 64-dim vectors split into 4
    // subspaces of 16 dims; a SHARED 8-centroid codebook is k-means-
    // trained on the pooled subvectors (x33's exact Lloyd machinery —
    // first-8 init, 2 iterations, centroids rounded to 6 decimals for
    // cross-engine parity); each vector stores 4 one-byte codes instead
    // of 256 float bytes (64x compression). Output: the 4 codes + the
    // quantization error, both hash-checked — the CODEBOOK ITSELF is
    // oracle-verified through them.
    //
    // Scale: training pools 4N subvectors but k-means state is k×16
    // per partition partial (x33's argument); encoding is one broadcast-
    // codebook pass, embarrassingly parallel; the persisted code table
    // ([[DerivedTable]], like the IVF index) is what a 100 TB corpus
    // actually stores and scans.
    QueryDef("x57_pq_encode",
      s"""WITH $pqCteSql
        |SELECT vec_id,
        |       CAST(max(CASE WHEN sub = 0 THEN cluster END) AS INT) AS c0,
        |       CAST(max(CASE WHEN sub = 1 THEN cluster END) AS INT) AS c1,
        |       CAST(max(CASE WHEN sub = 2 THEN cluster END) AS INT) AS c2,
        |       CAST(max(CASE WHEN sub = 3 THEN cluster END) AS INT) AS c3,
        |       round(1e-9 + sum(dist), 4) AS qerr
        |FROM qaf WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
      pqCodes(s, d)
        .groupBy(col("vec_id"))
        .agg(
          max(when(col("sub") === 0, col("cluster"))).cast("int").as("c0"),
          max(when(col("sub") === 1, col("cluster"))).cast("int").as("c1"),
          max(when(col("sub") === 2, col("cluster"))).cast("int").as("c2"),
          max(when(col("sub") === 3, col("cluster"))).cast("int").as("c3"),
          Num.roundOut(sum(col("dist")), 4).as("qerr"))
        .orderBy(col("vec_id"))
    },

    // PQ ASYMMETRIC DISTANCE search (ADC): queries stay full-precision,
    // the corpus is its PQ codes. The query builds a LOOKUP TABLE —
    // distance from each query subvector to each of the 8 codebook
    // centroids (queries × 4 subs × 8 cells = 96 rows here, k×m×|q|
    // always) — and every corpus vector's approximate distance is then
    // FOUR TABLE LOOKUPS summed, never a 64-dim float op. Top-10 per
    // query by (adc, vec_id).
    //
    // Scale: THE reason billion-vector search is feasible — the scan
    // touches 4-byte codes + a broadcast LUT (the x05 brute scan touches
    // 256-byte vectors and does 64 multiplies each); the LUT join is a
    // broadcast equi-join on (sub, cluster), the per-vector sum a 4-row
    // partial aggregate keyed by (query, vec). Composes with x14's IVF
    // partitioning (IVF-PQ) by nesting this scan inside probed cells.
    QueryDef("x58_pq_adc",
      s"""WITH $pqCteSql,
        |codes AS (
        |  SELECT vec_id, sub, cluster FROM qaf WHERE rn = 1 AND vec_id >= 3
        |), q AS (
        |  SELECT vec_id AS query_id, sub, v FROM sv WHERE vec_id < 3
        |), lut AS (
        |  SELECT q.query_id, q.sub, qc2.cluster,
        |         list_reduce(list_transform(range(16),
        |           i -> (q.v[i+1] - qc2.c[i+1]) * (q.v[i+1] - qc2.c[i+1])),
        |           (a, b) -> a + b) AS d
        |  FROM q CROSS JOIN qc2
        |), ad AS (
        |  SELECT codes.vec_id, lut.query_id,
        |         round(1e-9 + sum(lut.d), 4) AS adc
        |  FROM codes JOIN lut
        |    ON codes.sub = lut.sub AND codes.cluster = lut.cluster
        |  GROUP BY codes.vec_id, lut.query_id
        |), rk AS (
        |  SELECT query_id, vec_id, adc, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        |  FROM ad
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc
        |FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val codes = pqCodes(s, d).filter(col("vec_id") >= 3)
        .select(col("vec_id"), col("sub"), col("cluster"))
      val q = pqSubvectors(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("sub"), col("v"))
      val lut = q.crossJoin(pqCodebook(s, d))
        .withColumn("d", pqSqDist(col("v"), col("c")))
        .select(col("query_id"), col("sub"), col("cluster"), col("d"))
      // rank on the ROUNDED sum (x05's rule): the 4-term ADC addition has
      // no defined order on either engine, so an unrounded tie at the
      // top-k boundary flips between runs — rounding first makes the
      // (adc, vec_id) order exact cross-engine
      codes.join(broadcast(lut), Seq("sub", "cluster"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(Num.roundOut(sum(col("d")), 4).as("adc"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adc"), col("vec_id"))).cast("int"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF-PQ — the full billion-scale ANN serving stack composed from its
    // two oracle-checked halves: x33's k-means clusters are the COARSE
    // inverted lists (a query visits only its nprobe=2 nearest lists —
    // the corpus scan disappears), and inside the probed lists distance
    // is x58's ADC (4 code lookups in a broadcast LUT — the float vectors
    // disappear too). Both artifacts (coarse centroids, PQ codes) are the
    // SAME persisted tables x33/x57 built; this query only composes reads.
    //
    // Scale: candidate work ∝ corpus/k · nprobe, per-candidate cost 4
    // lookups; the list membership join keys by coarse cluster (≤ k
    // values — at scale the code table is PARTITIONED by it, x14's DPP
    // layout), the LUT is O(|q|·4·8) broadcast. This is FAISS IVFPQ
    // (by_residual=false) as three relational joins.
    QueryDef("x60_ivf_pq",
      s"""WITH $kmeansCteSql, $pqCteSql,
        |lists AS (
        |  SELECT vec_id, cluster AS list_id FROM af WHERE rn = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cluster AS list_id
        |  FROM af WHERE vec_id < 3 AND rn <= 2
        |), codes AS (
        |  SELECT vec_id, sub, cluster FROM qaf WHERE rn = 1 AND vec_id >= 3
        |), q AS (
        |  SELECT vec_id AS query_id, sub, v FROM sv WHERE vec_id < 3
        |), lut AS (
        |  SELECT q.query_id, q.sub, qc2.cluster,
        |         list_reduce(list_transform(range(16),
        |           i -> (q.v[i+1] - qc2.c[i+1]) * (q.v[i+1] - qc2.c[i+1])),
        |           (a, b) -> a + b) AS d
        |  FROM q CROSS JOIN qc2
        |), cand AS (
        |  SELECT DISTINCT p.query_id, l.vec_id
        |  FROM probes p JOIN lists l ON p.list_id = l.list_id
        |  WHERE l.vec_id >= 3
        |), ad AS (
        |  SELECT cand.query_id, cand.vec_id,
        |         round(1e-9 + sum(lut.d), 4) AS adc
        |  FROM cand
        |  JOIN codes ON cand.vec_id = codes.vec_id
        |  JOIN lut ON lut.query_id = cand.query_id
        |          AND lut.sub = codes.sub AND lut.cluster = codes.cluster
        |  GROUP BY cand.query_id, cand.vec_id
        |), rk AS (
        |  SELECT query_id, vec_id, adc, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        |  FROM ad
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc
        |FROM rk WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // coarse lists: the PERSISTED x33 assignment artifact — a scan of
      // the partitioned inverted file, never a fresh corpus assignment
      // pass (VERDICT r9 item 2; PlanShapeSpec pins the artifact read)
      val lists = kmeansListsTable(s, d)
        .select(col("vec_id"), col("cluster").as("list_id"))
      val cents = kmeansCentroids(s, d)
      // query probes: 2 nearest coarse centroids per query — the vec_id
      // filter reaches the embeddings scan; only the 3 query vectors are
      // ever read here (the corpus vectors live in the artifact)
      val probes = Tables.embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("dist", kmeansSqDist(col("v"), col("c")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("dist"), col("cluster"))))
        .filter(col("rn") <= 2)
        .select(col("vec_id").as("query_id"), col("cluster").as("list_id"))
      val codes = pqCodes(s, d).filter(col("vec_id") >= 3)
        .select(col("vec_id"), col("sub"), col("cluster"))
      val q = pqSubvectors(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("sub"), col("v"))
      val lut = q.crossJoin(pqCodebook(s, d))
        .withColumn("d", pqSqDist(col("v"), col("c")))
        .select(col("query_id"), col("sub"), col("cluster"), col("d"))
      val cand = probes.join(lists, "list_id")
        .filter(col("vec_id") >= 3)
        .select(col("query_id"), col("vec_id")).distinct()
      cand.join(codes, "vec_id")
        .join(broadcast(lut), Seq("query_id", "sub", "cluster"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(Num.roundOut(sum(col("d")), 4).as("adc")) // rank-on-rounded: see x58
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adc"), col("vec_id"))).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
        .orderBy(col("query_id"), col("rank"))
    },

    // MATRYOSHKA-style prefix-dimension search audit (Kusupati et al.
    // 2022): rank by cosine over only the first m dims (m = 16, 32) and
    // measure top-5 recall against the full 64-dim exact ranking (x05's
    // definition: rank on sims rounded to 6, cand_id tiebreak) — the
    // measurement that decides how far a deployment can truncate stored
    // vectors before search quality pays for the 2-4× memory cut. Both
    // rankings and the overlap count are relationally recomputed by
    // DuckDB; recall is the exact rational n/5.
    //
    // Scale: prefix sims are the same broadcast-queries-over-one-corpus-
    // pass as x05, with the dot product m/64ths the work (and at serving
    // time, slice() never reads the truncated tail from parquet — column
    // pruning can't split an array, but a prefix-dim TABLE written at
    // ingest would scan 4× less; that's the layout decision this audit
    // informs). The dims explode multiplies candidate rows by 2, not the
    // corpus.
    QueryDef("x67_matryoshka_recall",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), fullk AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |           round(1e-9 + list_sum(list_transform(range(64),
        |                   i -> q.v[i+1] * c.v[i+1])) / q.nrm / c.nrm, 6)
        |             AS cos_sim,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY round(1e-9 + list_sum(list_transform(range(64),
        |                   i -> q.v[i+1] * c.v[i+1])) / q.nrm / c.nrm, 6) DESC,
        |               c.vec_id) AS rnk
        |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rnk <= 5
        |), pre AS (
        |  SELECT m, query_id, cand_id FROM (
        |    SELECT d.m, q.vec_id AS query_id, c.vec_id AS cand_id,
        |           round(1e-9 + list_sum(list_transform(range(d.m),
        |                   i -> q.v[i+1] * c.v[i+1]))
        |             / sqrt(list_sum(list_transform(range(d.m),
        |                   i -> q.v[i+1] * q.v[i+1])))
        |             / sqrt(list_sum(list_transform(range(d.m),
        |                   i -> c.v[i+1] * c.v[i+1]))), 6) AS psim,
        |           row_number() OVER (PARTITION BY d.m, q.vec_id
        |             ORDER BY round(1e-9 + list_sum(list_transform(range(d.m),
        |                   i -> q.v[i+1] * c.v[i+1]))
        |               / sqrt(list_sum(list_transform(range(d.m),
        |                   i -> q.v[i+1] * q.v[i+1])))
        |               / sqrt(list_sum(list_transform(range(d.m),
        |                   i -> c.v[i+1] * c.v[i+1]))), 6) DESC,
        |               c.vec_id) AS rnk
        |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |         CROSS JOIN (SELECT unnest([16, 32]) AS m) d
        |    WHERE q.vec_id < 10)
        |  WHERE rnk <= 5
        |), spine AS (
        |  SELECT d.m, q.vec_id AS query_id
        |  FROM (SELECT unnest([16, 32]) AS m) d,
        |       (SELECT vec_id FROM e WHERE vec_id < 10) q
        |), hits AS (
        |  SELECT p.m, p.query_id, count(*) AS n_overlap
        |  FROM pre p JOIN fullk f
        |    ON p.query_id = f.query_id AND p.cand_id = f.cand_id
        |  GROUP BY 1, 2
        |)
        |SELECT CAST(s.m AS INT) AS dims, s.query_id,
        |       CAST(coalesce(h.n_overlap, 0) AS INT) AS n_overlap,
        |       round(1e-9 + coalesce(h.n_overlap, 0) / 5.0, 4) AS recall
        |FROM spine s LEFT JOIN hits h
        |  ON s.m = h.m AND s.query_id = h.query_id
        |ORDER BY dims, s.query_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      def nrm(a: Column) = sqrt(dot(a, a))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val c = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
      val pairs = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      val fullk = pairs
        .select(col("query_id"), col("cand_id"),
          Num.roundOut(dot(col("qv"), col("cv"))
            / nrm(col("qv")) / nrm(col("cv")), 6).as("sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col("cand_id"))))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("cand_id"))
      val pre = pairs
        .withColumn("m", explode(array(lit(16), lit(32))))
        .select(col("m"), col("query_id"), col("cand_id"),
          Num.roundOut(
            dot(slice(col("qv"), lit(1), col("m")),
              slice(col("cv"), lit(1), col("m")))
              / nrm(slice(col("qv"), lit(1), col("m")))
              / nrm(slice(col("cv"), lit(1), col("m"))), 6).as("psim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("m"), col("query_id"))
            .orderBy(col("psim").desc, col("cand_id"))))
        .filter(col("rnk") <= 5)
      val hits = pre.join(fullk, Seq("query_id", "cand_id"))
        .groupBy(col("m"), col("query_id"))
        .agg(count(lit(1)).as("n_overlap"))
      val spine = q.select(col("query_id"))
        .withColumn("m", explode(array(lit(16), lit(32))))
      spine.join(hits, Seq("m", "query_id"), "left")
        .select(col("m").cast("int").as("dims"), col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).cast("int").as("n_overlap"),
          Num.roundOut(coalesce(col("n_overlap"), lit(0L)) / 5.0, 4)
            .as("recall"))
        .orderBy(col("dims"), col("query_id"))
    },

    // EMBEDDING DRIFT MONITOR between corpus halves (vec_id parity —
    // x90's chi-square audit, played for the vector space): per
    // dimension, a two-sample z statistic of the half means. The monitor
    // an embedding pipeline runs when the encoder or the corpus shifts —
    // per-DIMENSION drift localizes the change (a few drifting dims =
    // encoder feature drift; broad drift = corpus shift). Embedding
    // components are QUANTIZED to exact micro-unit longs
    // (floor(x·10⁶) — float→double exact, one rounding, identical both
    // engines) so every sum is exact integer arithmetic; the z formula
    // then runs in doubles with ONE pinned association mirrored verbatim
    // (means, variances, sqrt — division and correctly-rounded IEEE
    // sqrt only, the x90 contract).
    //
    // Scale: one posexplode pass → (dim)-keyed partial agg with
    // conditional half sums (map-side combine; 64 groups at any corpus
    // size); the statistic runs on 64 rows. No pairwise work, no
    // broadcast of anything data-sized.
    QueryDef("x99_embedding_drift",
      """WITH q AS (
        |  SELECT vec_id % 2 AS half, CAST(i AS INT) AS dim,
        |         CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
        |              * 1000000) AS BIGINT) AS v
        |  FROM embeddings, (SELECT unnest(range(64)) AS i)
        |), g AS (
        |  SELECT dim,
        |         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN half = 0 THEN v ELSE 0 END) AS BIGINT) AS sa,
        |         CAST(sum(CASE WHEN half = 1 THEN v ELSE 0 END) AS BIGINT) AS sb,
        |         CAST(sum(CASE WHEN half = 0 THEN v * v ELSE 0 END) AS BIGINT)
        |           AS qa,
        |         CAST(sum(CASE WHEN half = 1 THEN v * v ELSE 0 END) AS BIGINT)
        |           AS qb
        |  FROM q GROUP BY dim
        |), z AS (
        |  SELECT dim, na, nb,
        |         sa * 1.0 / na AS ma, sb * 1.0 / nb AS mb,
        |         qa * 1.0 / na - (sa * 1.0 / na) * (sa * 1.0 / na) AS va,
        |         qb * 1.0 / nb - (sb * 1.0 / nb) * (sb * 1.0 / nb) AS vb
        |  FROM g
        |)
        |SELECT dim, round(1e-9 + ma / 1000000.0, 6) AS mean_a,
        |       round(1e-9 + mb / 1000000.0, 6) AS mean_b,
        |       round(1e-9 + (ma - mb) / sqrt(va / na + vb / nb), 4) AS z
        |FROM z ORDER BY dim""".stripMargin) { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select((col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("half"), col("dim"),
          floor(col("x").cast("double") * 1000000).cast("long").as("v"))
      val g = q.groupBy(col("dim")).agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("half") === 0, col("v")).otherwise(0L)).as("sa"),
        sum(when(col("half") === 1, col("v")).otherwise(0L)).as("sb"),
        sum(when(col("half") === 0, col("v") * col("v")).otherwise(0L)).as("qa"),
        sum(when(col("half") === 1, col("v") * col("v")).otherwise(0L)).as("qb"))
      val z = g.select(col("dim"), col("na"), col("nb"),
        (col("sa") * 1.0 / col("na")).as("ma"),
        (col("sb") * 1.0 / col("nb")).as("mb"),
        (col("qa") * 1.0 / col("na")
          - (col("sa") * 1.0 / col("na")) * (col("sa") * 1.0 / col("na")))
          .as("va"),
        (col("qb") * 1.0 / col("nb")
          - (col("sb") * 1.0 / col("nb")) * (col("sb") * 1.0 / col("nb")))
          .as("vb"))
      z.select(col("dim"),
          Num.roundOut(col("ma") / 1000000.0, 6).as("mean_a"),
          Num.roundOut(col("mb") / 1000000.0, 6).as("mean_b"),
          Num.roundOut((col("ma") - col("mb"))
            / sqrt(col("va") / col("na") + col("vb") / col("nb")), 4).as("z"))
        .orderBy(col("dim"))
    },

    // IVF INDEX MAINTENANCE UNDER APPEND — x61's Δ contract played for
    // ANN serving: a 10% "arriving" slice (vec_id % 10 = 7) is assigned
    // to the EXISTING centroids in its own pass (work ∝ |Δ| — the
    // broadcast-centroid crossJoin sees only delta rows), then unioned
    // with the persisted base lists; queries probe the merged index.
    // Because IVF assignment is per-vector independent (nearest centroid
    // of a FIXED centroid set), append-maintained lists are PROVABLY
    // bit-identical to a full rebuild — the property that makes IVF the
    // index you can run on a live corpus (k-means re-centering, by
    // contrast, would move lists under you; x33 re-trains offline).
    // Round8Spec pins merged == rebuilt row-for-row; candidates carry a
    // from_delta provenance flag (the freshness audit a serving layer
    // exposes).
    //
    // Scale: the centroid set never left the base build (all % 50 = 0
    // ids sit outside the delta slice by construction); per append batch
    // the only new work is |Δ| × k broadcast similarity + a partitioned
    // append to the probed layout. Probe cost is unchanged: cent_id
    // equi-join against base ∪ delta lists.
    QueryDef("x101_ivf_append", Similarity.x101OracleSql) { (s, d) =>
      Similarity.ivfProbeReport(ivfAppendMerged(s, d))
    },

    // MUTUAL-kNN GRAPH — the neighborhood graph behind SNN/density
    // clustering, graph-dedup, and diversity sampling (an edge survives
    // only if BOTH endpoints rank each other in their top-3, which
    // strips the hub vectors that plain directed kNN drowns in). Every
    // corpus vector is a query; candidates come from the persisted IVF
    // inverted file at nprobe=2 (each vector scores only the two lists
    // nearest it, not the corpus), exact cosine within candidates, top-3
    // per vector, then the mutual filter is an equi-self-join of the
    // directed edge set on the reversed key pair.
    //
    // Scale: this is the 10^11-vector realization of "kNN graph" — the
    // all-pairs form is quadratic and unrunnable, while here the
    // candidate join's work is Σ (list size of the ≤2 probed lists) per
    // vector and the edge table that shuffles afterwards holds ≤3 rows
    // per vector. The probe join keys on cent_id against the
    // partitionBy(cent_id) artifact (partition-pruned at read), and the
    // mutual join keys on (lo, hi) vec_id pairs — both plain shuffles
    // of id-sized rows, never vectors past the scoring stage.
    QueryDef("x105_mutual_knn",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), c AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id % 50 = 0
        |), a AS (
        |  SELECT n.vec_id, c.cent_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
        |  FROM n, c
        |), r AS (
        |  SELECT vec_id, cent_id, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM a
        |), corpus AS (
        |  SELECT vec_id, cent_id FROM r WHERE rk = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, cent_id FROM r WHERE rk <= 2
        |), cand AS (
        |  SELECT p.query_id, co.vec_id AS cand_id
        |  FROM probes p JOIN corpus co ON p.cent_id = co.cent_id
        |  WHERE co.vec_id <> p.query_id
        |), sims AS (
        |  SELECT cand.query_id, cand.cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.v[i+1] * x.v[i+1])) / q.nrm / x.nrm, 6) AS cos_sim
        |  FROM cand JOIN n q ON q.vec_id = cand.query_id
        |            JOIN n x ON x.vec_id = cand.cand_id
        |), knn AS (
        |  SELECT query_id, cand_id, cos_sim, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
        |  FROM sims QUALIFY rnk <= 3
        |)
        |SELECT f.query_id AS a_id, f.cand_id AS b_id, f.cos_sim,
        |       CAST(f.rnk AS INT) AS rank_ab, CAST(b.rnk AS INT) AS rank_ba
        |FROM knn f JOIN knn b
        |  ON f.query_id = b.cand_id AND f.cand_id = b.query_id
        |WHERE f.query_id < f.cand_id
        |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val assigned = ivfAssignedTable(s, d)
      val corpus = assigned.filter(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
      val probes = assigned.filter(col("rk") <= 2)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cent_id"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
      val knn = corpus.join(probes, Seq("cent_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          Num.roundOut(cosine(col("qv"), col("qnrm"), col("v"), col("nrm")), 6)
            .as("cos_sim"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rnk"))
      val back = knn.select(col("query_id").as("cand_id"),
        col("cand_id").as("query_id"), col("rnk").as("rank_ba"))
      knn.join(back, Seq("query_id", "cand_id"))
        .filter(col("query_id") < col("cand_id"))
        .select(col("query_id").as("a_id"), col("cand_id").as("b_id"),
          col("cos_sim"), col("rnk").as("rank_ab"), col("rank_ba"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // IVF TOMBSTONE-DELETE MAINTENANCE — the other half of x101's index
    // lifecycle: deletes don't rewrite inverted lists, they mark
    // (vec_id % 10 = 3 plays the deleted slice) and serving filters
    // live rows; this query is the COMPACTION AUDIT that decides when a
    // list must actually be rewritten. Per inverted list: live/dead
    // occupancy, the ≥30 % dead-fraction compaction trigger as an
    // integer predicate (10·dead ≥ 3·total — no float boundary), and
    // the mean centroid-affinity of the SURVIVING members in micro
    // units (floor(sim·10⁶) per row, integer sum, integer div — a list
    // whose live members drifted from their centroid needs re-CENTERING
    // (x33's k-means step), not just compaction; both maintenance
    // signals in one pass).
    //
    // Scale: one scan of the persisted cent_id-partitioned inverted
    // file (rk=1 members only), map-side flags and quantization, then a
    // centroids-sized aggregate — the audit costs one pass over index
    // metadata regardless of corpus size, exactly what a nightly
    // maintenance job can afford.
    QueryDef("x128_ivf_tombstone",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), c AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id % 50 = 0
        |), a AS (
        |  SELECT n.vec_id, c.cent_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
        |  FROM n, c
        |), r AS (
        |  SELECT vec_id, cent_id, sim, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM a
        |), m AS (
        |  SELECT cent_id, sim, vec_id % 10 = 3 AS dead,
        |         CAST(floor(sim * 1000000) AS BIGINT) AS sim_micro
        |  FROM r WHERE rk = 1
        |), g AS (
        |  SELECT cent_id,
        |         CAST(sum(CASE WHEN dead THEN 0 ELSE 1 END) AS BIGINT)
        |           AS n_live,
        |         CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_dead,
        |         CAST(sum(CASE WHEN dead THEN 0 ELSE sim_micro END)
        |              AS BIGINT) AS live_sim_sum
        |  FROM m GROUP BY cent_id
        |)
        |SELECT cent_id, n_live, n_dead,
        |       round(1e-9 + n_dead * 1.0 / (n_live + n_dead), 4)
        |         AS dead_frac,
        |       10 * n_dead >= 3 * (n_live + n_dead) AS needs_compact,
        |       CAST(CASE WHEN n_live = 0 THEN 0
        |            ELSE live_sim_sum // n_live END AS BIGINT)
        |         AS mean_live_sim_micro
        |FROM g ORDER BY cent_id""".stripMargin) { (s, d) =>
      // the persisted inverted file holds (vec_id, v, nrm, cent_id) but
      // not the assignment sim — recompute the member↔centroid affinity
      // from the same codebook and score the index was built with
      // (bit-identical rounded sims)
      val members = ivfAssignedTable(s, d).filter(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))
      val cents = frozenCents(withNorm(Tables.embeddings(s, d)))
      members.join(broadcast(cents), "cent_id")
        .select(col("cent_id"),
          (col("vec_id") % 10 === 3).as("dead"),
          floor(centSim * 1000000).cast("long").as("sim_micro"))
        .groupBy(col("cent_id"))
        .agg(sum(when(col("dead"), 0L).otherwise(1L)).as("n_live"),
          sum(when(col("dead"), 1L).otherwise(0L)).as("n_dead"),
          sum(when(col("dead"), 0L).otherwise(col("sim_micro")))
            .as("live_sim_sum"))
        .select(col("cent_id"), col("n_live"), col("n_dead"),
          Num.roundOut(col("n_dead") * 1.0 / (col("n_live") + col("n_dead")), 4)
            .as("dead_frac"),
          (lit(10) * col("n_dead") >= lit(3) * (col("n_live") + col("n_dead")))
            .as("needs_compact"),
          when(col("n_live") === 0, 0L)
            .otherwise(expr("live_sim_sum div n_live"))
            .as("mean_live_sim_micro"))
        .orderBy(col("cent_id"))
    },

    // IVF REBALANCE PLAN — the list-size maintenance decision x128's
    // tombstone audit doesn't make: which inverted lists to SPLIT
    // (> 1.15× the mean — a crowded list caps probe recall and hogs its
    // scan task) and which to MERGE into their nearest neighboring
    // centroid (< 0.8× — an underfull list wastes a probe slot). Size
    // ratios are exact integers (n·k·10⁶ div total — no float mean),
    // thresholds are integer cross-products, and the merge target is
    // the nearest OTHER centroid by the same rounded cosine the
    // assignment uses. This is the periodic job an ANN serving tier
    // runs between full retrains (FAISS's add_with_ids + rebalance
    // cycle); x101 handles arrivals, x128 deletions, this one drift.
    //
    // Scale: list sizes come from the PERSISTED IVF artifact (one
    // metadata-sized aggregate over `cent_id` partitions — the vectors
    // themselves never move for the plan); the centroid-pair similarity
    // table is k×k — bounded by codebook size, not corpus — and the
    // report is k rows. Executing a split/merge then rewrites only the
    // affected partition directories.
    QueryDef("x150_ivf_rebalance",
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), c AS (
        |  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
        |  WHERE vec_id % 50 = 0
        |), a AS (
        |  SELECT n.vec_id, c.cent_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> n.v[i+1] * c.cv[i+1])) / n.nrm / c.cn, 6) AS sim
        |  FROM n, c
        |), r AS (
        |  SELECT vec_id, cent_id, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM a
        |), g AS (
        |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM r WHERE rk = 1 GROUP BY cent_id
        |), t AS (
        |  SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
        |         CAST(count(*) AS BIGINT) AS k
        |  FROM g
        |), cc AS (
        |  SELECT x.cent_id AS ca, y.cent_id AS cb,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> x.cv[i+1] * y.cv[i+1])) / x.cn / y.cn, 6) AS sim
        |  FROM c x, c y WHERE x.cent_id <> y.cent_id
        |), nn AS (
        |  SELECT ca AS cent_id, cb AS nearest, row_number() OVER (
        |    PARTITION BY ca ORDER BY sim DESC, cb) AS rnn
        |  FROM cc
        |)
        |SELECT g.cent_id, g.n_vecs,
        |       CAST(g.n_vecs * t.k * 1000000 // t.total AS BIGINT)
        |         AS size_ratio_ppm,
        |       CASE WHEN 20 * g.n_vecs * t.k > 23 * t.total THEN 'split'
        |            WHEN 5 * g.n_vecs * t.k < 4 * t.total THEN 'merge'
        |            ELSE 'keep' END AS action,
        |       CAST(CASE WHEN 5 * g.n_vecs * t.k < 4 * t.total
        |                 THEN nn.nearest END AS BIGINT) AS merge_into
        |FROM g CROSS JOIN t
        |LEFT JOIN nn ON nn.cent_id = g.cent_id AND nn.rnn = 1
        |ORDER BY g.cent_id""".stripMargin) { (s, d) =>
      val sizes = ivfAssignedTable(s, d)
        .filter(col("rk") === 1)
        .groupBy(col("cent_id")).agg(count(lit(1)).as("n_vecs"))
      val t = sizes.agg(sum(col("n_vecs")).as("total"),
        count(lit(1)).as("k"))
      val cents = frozenCents(withNorm(Tables.embeddings(s, d)))
        .localCheckpoint() // both sides of the k×k pair table read it
      val nn = cents.select(col("cent_id").as("ca"), col("cv").as("va"),
          col("cn").as("na"))
        .crossJoin(broadcast(cents.select(col("cent_id").as("cb"),
          col("cv").as("vb"), col("cn").as("nb"))))
        .filter(col("ca") =!= col("cb"))
        .select(col("ca"), col("cb"),
          Num.roundOut(cosine(col("va"), col("na"), col("vb"), col("nb")), 6)
            .as("sim"))
        .withColumn("rnn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("ca"))
            .orderBy(col("sim").desc, col("cb"))))
        .filter(col("rnn") === 1)
        .select(col("ca").as("cent_id"), col("cb").as("nearest"))
      sizes.crossJoin(broadcast(t))
        .join(broadcast(nn), Seq("cent_id"), "left")
        .select(col("cent_id"), col("n_vecs"),
          expr("n_vecs * k * 1000000 div total").as("size_ratio_ppm"),
          when(lit(20) * col("n_vecs") * col("k") > lit(23) * col("total"),
            "split")
            .when(lit(5) * col("n_vecs") * col("k") < lit(4) * col("total"),
              "merge")
            .otherwise("keep").as("action"),
          when(lit(5) * col("n_vecs") * col("k") < lit(4) * col("total"),
            col("nearest")).as("merge_into"))
        .orderBy(col("cent_id"))
    },

    // MMR DIVERSIFIED RERANKING — the serving-side step between ANN
    // retrieval and the context window: from each query's top-12
    // candidate pool, greedily pick 5 results maximizing
    // λ·relevance − (1−λ)·max-similarity-to-already-picked (λ = 0.7,
    // Carbonell & Goldstein SIGIR'98), so near-duplicate hits don't
    // crowd the answer set. The greedy loop is unrolled to 5 bounded
    // rounds; relevance and candidate-pair sims are rounded to 6 before
    // the greedy order (x05's rank-on-rounded rule) with cand_id as the
    // total-order tiebreak, so both engines walk the identical sequence.
    //
    // Scale: the corpus is touched ONCE — candidate generation runs
    // through the native [[graft.plans.TopKPerGroup]] operator
    // (per-partition bounded heaps, no per-query global sort); every
    // greedy round after that operates on the queries×12 candidate
    // table and its queries×12×11 pair-sim table — bounded by K², not
    // by corpus size, at any scale. The candidate table is
    // localCheckpoint'ed so the five rounds don't re-run retrieval.
    QueryDef("x155_mmr_rerank",
      {
        val rounds = (2 to 5).map { k =>
          s"""s$k AS (
            |  SELECT query_id, cand_id, CAST($k AS INT) AS pos,
            |         round(1e-9 + m, 6) AS mmr
            |  FROM (
            |    SELECT query_id, cand_id, m, row_number() OVER (
            |      PARTITION BY query_id ORDER BY m DESC, cand_id) AS rn
            |    FROM (
            |      SELECT c.query_id, c.cand_id,
            |             CAST(0.7 AS DOUBLE) * c.rel
            |               - CAST(0.3 AS DOUBLE) * max(p.sim) AS m
            |      FROM cand c
            |      JOIN ps p ON p.query_id = c.query_id AND p.ca = c.cand_id
            |      JOIN u${k - 1} u ON u.query_id = p.query_id
            |                      AND u.cand_id = p.cb
            |      WHERE NOT EXISTS (SELECT 1 FROM u${k - 1} w
            |                        WHERE w.query_id = c.query_id
            |                          AND w.cand_id = c.cand_id)
            |      GROUP BY c.query_id, c.cand_id, c.rel))
            |  WHERE rn = 1
            |), u$k AS (
            |  SELECT query_id, cand_id FROM u${k - 1}
            |  UNION ALL SELECT query_id, cand_id FROM s$k
            |)""".stripMargin
        }.mkString(", ")
        s"""WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), q AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
        |  WHERE vec_id < 4
        |), scored AS (
        |  SELECT q.query_id, c.vec_id AS cand_id,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.qv[i+1] * c.v[i+1])) / q.qn / c.nrm, 6) AS rel
        |  FROM n c JOIN q ON c.vec_id <> q.query_id
        |), cand AS (
        |  SELECT query_id, cand_id, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY rel DESC, cand_id) AS rnk FROM scored)
        |  WHERE rnk <= 12
        |), ps AS (
        |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> x.v[i+1] * y.v[i+1])) / x.nrm / y.nrm, 6) AS sim
        |  FROM cand a
        |  JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
        |  JOIN n x ON x.vec_id = a.cand_id
        |  JOIN n y ON y.vec_id = b.cand_id
        |), s1 AS (
        |  SELECT query_id, cand_id, CAST(1 AS INT) AS pos,
        |         round(1e-9 + CAST(0.7 AS DOUBLE) * rel, 6) AS mmr
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |          ORDER BY rel DESC, cand_id) AS rn FROM cand)
        |  WHERE rn = 1
        |), u1 AS (
        |  SELECT query_id, cand_id FROM s1
        |), $rounds
        |SELECT query_id, pos, cand_id, mmr FROM (
        |  SELECT query_id, cand_id, pos, mmr FROM s1
        |  UNION ALL SELECT query_id, cand_id, pos, mmr FROM s2
        |  UNION ALL SELECT query_id, cand_id, pos, mmr FROM s3
        |  UNION ALL SELECT query_id, cand_id, pos, mmr FROM s4
        |  UNION ALL SELECT query_id, cand_id, pos, mmr FROM s5)
        |ORDER BY query_id, pos""".stripMargin
      }) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      val cand = mmrCandidates(s, d)
        .localCheckpoint() // 4×12 rows; read by ps and all five rounds
      val ps = cand.select(col("query_id"), col("cand_id").as("ca"),
          col("cv").as("va"), col("cn").as("na"))
        .join(cand.select(col("query_id"), col("cand_id").as("cb"),
          col("cv").as("vb"), col("cn").as("nb")), Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          Num.roundOut(cosine(col("va"), col("na"), col("vb"), col("nb")), 6)
            .as("sim"))
        .localCheckpoint() // 4×12×11 rows; read by four greedy rounds
      val candSlim = cand.select(col("query_id"), col("cand_id"), col("rel"))
      val s1 = candSlim
        .withColumn("rn", row_number().over(w.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("cand_id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(1).as("pos"),
          Num.roundOut(lit(0.7) * col("rel"), 6).as("mmr"))
      def round(prev: DataFrame, k: Int): DataFrame = {
        val sel = prev.select(col("query_id"), col("cand_id").as("cb"))
        val ms = ps.join(sel, Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca"))
          .agg(max(col("sim")).as("ms"))
          .withColumnRenamed("ca", "cand_id")
        candSlim
          .join(prev.select(col("query_id"), col("cand_id")),
            Seq("query_id", "cand_id"), "left_anti")
          .join(ms, Seq("query_id", "cand_id"))
          .select(col("query_id"), col("cand_id"),
            (lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("m"))
          .withColumn("rn", row_number().over(w.partitionBy(col("query_id"))
            .orderBy(col("m").desc, col("cand_id"))))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("cand_id"), lit(k).as("pos"),
            Num.roundOut(col("m"), 6).as("mmr"))
      }
      var selected = s1.localCheckpoint() // ≤4 rows; each round's plan
      var picks = Vector(selected)        // restarts from materialized picks
      (2 to 5).foreach { k =>
        val sk = round(selected, k).localCheckpoint()
        selected = selected.unionByName(sk)
        picks :+= sk
      }
      picks.reduce(_.unionByName(_))
        .select(col("query_id"), col("pos"), col("cand_id"), col("mmr"))
        .orderBy(col("query_id"), col("pos"))
    },

    // TOP PRINCIPAL COMPONENT BY POWER ITERATION — the embedding-space
    // health check behind anisotropy audits (a dominant direction
    // hoarding variance means cosine similarities collapse toward it —
    // Ethayarajh EMNLP'19): mean-center, then three unrolled iterations
    // of v ← normalize(Xᵀ(Xv)) from the deterministic start v₀ = 1/√64,
    // reporting the 64 loadings and the variance share the component
    // explains. Per-iteration rounding (s to 6, w to 4, v to 6 — the
    // PageRank per-round parity discipline) keeps both engines walking
    // the identical float sequence; degenerate norms are DESIGNED NULLs
    // via the same guarded CASE (x142's pattern).
    //
    // Scale: the dim-exploded fact table (vec_id, i, val) makes every
    // step a relational aggregate with map-side partials — Xv is a
    // 64-row broadcast join + per-vector sum, XᵀXv a corpus equi-join
    // on vec_id + 64-group sum; per iteration that is two exchanges,
    // each carrying keys and partial sums only. The ×64 row blow-up is
    // the price of staying relational; the array-native alternative
    // (VecDot against a broadcast v, one pass, no explode) drops in for
    // the scan side without changing the algebra. The iterate count is
    // THREE at any corpus size — cost is 6 bounded-shuffle passes, not
    // a convergence loop.
    QueryDef("x160_pca_power",
      {
        val iters = (1 to 3).map { k =>
          s"""s$k AS (
            |  SELECT x.vec_id, round(1e-9 + sum(x.val * v.v), 6) AS s
            |  FROM xc x JOIN v${k - 1} v ON v.i = x.i GROUP BY 1
            |), w$k AS (
            |  SELECT x.i, round(1e-9 + sum(x.val * s.s), 4) AS w
            |  FROM xc x JOIN s$k s ON s.vec_id = x.vec_id GROUP BY 1
            |), n$k AS (
            |  SELECT sqrt(sum(w * w)) AS nrm FROM w$k
            |), v$k AS (
            |  SELECT i, CASE WHEN nrm = 0 THEN CAST(0.0 AS DOUBLE)
            |            ELSE round(1e-9 + w / nrm, 6) END AS v
            |  FROM w$k CROSS JOIN n$k
            |)""".stripMargin
        }.mkString(", ")
        s"""WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), x AS (
        |  SELECT vec_id, CAST(r.range AS INT) AS i, e.v[r.range + 1] AS val
        |  FROM e CROSS JOIN range(64) r
        |), mu AS (
        |  SELECT i, round(1e-9 + avg(val), 6) AS mu FROM x GROUP BY 1
        |), xc AS (
        |  SELECT vec_id, x.i, val - mu AS val FROM x JOIN mu ON mu.i = x.i
        |), v0 AS (
        |  SELECT CAST(r.range AS INT) AS i, CAST(0.125 AS DOUBLE) AS v
        |  FROM range(64) r
        |), $iters, sc AS (
        |  SELECT x.vec_id, round(1e-9 + sum(x.val * v.v), 6) AS s
        |  FROM xc x JOIN v3 v ON v.i = x.i GROUP BY 1
        |), tot AS (
        |  SELECT sum(val * val) AS ss FROM xc
        |), nm AS (
        |  SELECT sum(s * s) AS sn FROM sc
        |)
        |SELECT v3.i, v3.v AS loading,
        |       CASE WHEN ss = 0 THEN NULL
        |            ELSE round(1e-9 + sn / ss, 6) END AS var_share
        |FROM v3 CROSS JOIN nm CROSS JOIN tot ORDER BY i""".stripMargin
      }) { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(transform(col("embedding"), _.cast("double")))
            .as(Seq("i", "val")))
      val mu = x.groupBy(col("i"))
        .agg(Num.roundOut(avg(col("val")), 6).as("mu"))
      val xc = x.join(broadcast(mu), "i")
        .select(col("vec_id"), col("i"), (col("val") - col("mu")).as("val"))
        .localCheckpoint() // read by all six iteration passes + totals
      var v = mu.select(col("i"), lit(0.125).as("v"))
      (1 to 3).foreach { _ =>
        val sK = xc.join(broadcast(v), "i")
          .groupBy(col("vec_id"))
          .agg(Num.roundOut(sum(col("val") * col("v")), 6).as("s"))
        val wK = xc.join(sK, "vec_id")
          .groupBy(col("i"))
          .agg(Num.roundOut(sum(col("val") * col("s")), 4).as("w"))
        val nK = wK.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        v = wK.crossJoin(broadcast(nK))
          .select(col("i"),
            when(col("nrm") === 0, lit(0.0).cast("double"))
              .otherwise(Num.roundOut(col("w") / col("nrm"), 6)).as("v"))
          .localCheckpoint() // 64 rows; next iteration + final read it
      }
      val sc = xc.join(broadcast(v), "i")
        .groupBy(col("vec_id"))
        .agg(Num.roundOut(sum(col("val") * col("v")), 6).as("s"))
      val tot = xc.agg(sum(col("val") * col("val")).as("ss"))
      val nm = sc.agg(sum(col("s") * col("s")).as("sn"))
      v.crossJoin(broadcast(nm)).crossJoin(broadcast(tot))
        .select(col("i"), col("v").as("loading"),
          when(col("ss") === 0, lit(null).cast("double"))
            .otherwise(Num.roundOut(col("sn") / col("ss"), 6))
            .as("var_share"))
        .orderBy(col("i"))
    },

    // HARD-NEGATIVE TRIPLET MINING — the contrastive-training prep step
    // (FaceNet CVPR'15 semi-hard policy) that x86's centroid margins
    // audit only in aggregate: per anchor, the hardest positive
    // alternative (nearest same-label vector) and the hardest negative
    // (nearest other-label vector), with the semi-hard band flag
    // (negative inside 0.05 of the positive but not past it) and the
    // violation flag (negative outranks the positive — the pair a
    // curriculum surfaces first). Sims round to 6 before any
    // comparison (x05's rank-on-rounded rule); the negative's identity
    // resolves by the deterministic (sim, then smallest id) rule via
    // the two-step argmax join — no per-anchor window ever sees
    // corpus-sized input.
    //
    // Scale: ONE corpus pass — the anchor batch broadcasts against the
    // vector scan (x05's shape) and collapses map-side into two
    // conditional MAX partials per anchor; the argmax join re-reads
    // only rows matching the already-known best sim. No vector×vector
    // blow-up, no window. Batching anchors (here 32) is how the full
    // mining job tiles at 100 TB.
    QueryDef("x161_hard_negatives",
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), a AS (
        |  SELECT vec_id AS anchor_id, label AS albl, v AS av, nrm AS an
        |  FROM n WHERE vec_id < 32
        |), cand AS (
        |  SELECT a.anchor_id, a.albl, c.vec_id AS cand_id, c.label AS clbl,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> a.av[i+1] * c.v[i+1])) / a.an / c.nrm, 6) AS sim
        |  FROM n c JOIN a ON c.vec_id <> a.anchor_id
        |), agg AS (
        |  SELECT anchor_id, albl,
        |         max(CASE WHEN clbl = albl THEN sim END) AS pos_sim,
        |         max(CASE WHEN clbl <> albl THEN sim END) AS neg_sim
        |  FROM cand GROUP BY 1, 2
        |), neg AS (
        |  SELECT c.anchor_id, CAST(min(c.cand_id) AS BIGINT) AS neg_id
        |  FROM cand c JOIN agg g ON g.anchor_id = c.anchor_id
        |   AND c.clbl <> g.albl AND c.sim = g.neg_sim
        |  GROUP BY 1
        |)
        |SELECT g.anchor_id, g.albl AS anchor_label,
        |       g.pos_sim, g.neg_sim, neg.neg_id, nl.label AS neg_label,
        |       g.neg_sim < g.pos_sim
        |         AND g.neg_sim > g.pos_sim - CAST(0.05 AS DOUBLE)
        |         AS semi_hard,
        |       g.neg_sim >= g.pos_sim AS violation
        |FROM agg g
        |JOIN neg ON neg.anchor_id = g.anchor_id
        |JOIN e nl ON nl.vec_id = neg.neg_id
        |ORDER BY g.anchor_id""".stripMargin) { (s, d) =>
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      val a = n.filter(col("vec_id") < 32)
        .select(col("vec_id").as("anchor_id"), col("label").as("albl"),
          col("v").as("av"), col("nrm").as("an"))
      val cand = n.join(broadcast(a), col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("albl"),
          col("vec_id").as("cand_id"), col("label").as("clbl"),
          Num.roundOut(dot(col("av"), col("v")) / col("an") / col("nrm"), 6)
            .as("sim"))
        .localCheckpoint() // read by the max pass and the argmax join
      val agg = cand.groupBy(col("anchor_id"), col("albl"))
        .agg(max(when(col("clbl") === col("albl"), col("sim"))).as("pos_sim"),
          max(when(col("clbl") =!= col("albl"), col("sim"))).as("neg_sim"))
      val neg = cand.join(broadcast(agg.select(col("anchor_id"),
          col("albl").as("gl"), col("neg_sim").as("gs"))), "anchor_id")
        .filter(col("clbl") =!= col("gl") && col("sim") === col("gs"))
        .groupBy(col("anchor_id")).agg(min(col("cand_id")).as("neg_id"))
      // the label probe keeps the corpus on the build side of a plain
      // equi-join — the 32-row mined side is the broadcastable one
      agg.join(broadcast(neg), "anchor_id")
        .join(n.select(col("vec_id").as("neg_id"),
          col("label").as("neg_label")), "neg_id")
        .select(col("anchor_id"), col("albl").as("anchor_label"),
          col("pos_sim"), col("neg_sim"), col("neg_id"), col("neg_label"),
          (col("neg_sim") < col("pos_sim")
            && col("neg_sim") > col("pos_sim") - 0.05).as("semi_hard"),
          (col("neg_sim") >= col("pos_sim")).as("violation"))
        .orderBy(col("anchor_id"))
    },

    // MMR DIVERSITY GAIN — the evaluation that justifies x155's extra
    // greedy work: per query, how many DISTINCT labels the plain
    // relevance top-5 covers vs the MMR top-5 (subtopic recall, the
    // α-nDCG family's coverage core), plus the mean relevance each set
    // pays — quantifying the diversity-vs-relevance trade instead of
    // asserting it. Both rankings re-derive from the SAME candidate
    // stage as x155 ([[mmrCandidates]]), so this measures exactly the
    // reranker x155 ships.
    //
    // Scale: everything after candidate retrieval is queries×12
    // bounded (the x155 contract); label probes ride the candidate
    // rows, the plain top-5 is a window over ≤12 rows per query, and
    // the MMR picks re-run the same unrolled bounded greedy.
    QueryDef("x170_mmr_diversity",
      {
        val rounds = (2 to 5).map { k =>
          s"""s$k AS (
            |  SELECT query_id, cand_id, lbl FROM (
            |    SELECT query_id, cand_id, lbl, m, row_number() OVER (
            |      PARTITION BY query_id ORDER BY m DESC, cand_id) AS rn
            |    FROM (
            |      SELECT c.query_id, c.cand_id, c.lbl,
            |             CAST(0.7 AS DOUBLE) * c.rel
            |               - CAST(0.3 AS DOUBLE) * max(p.sim) AS m
            |      FROM cand c
            |      JOIN ps p ON p.query_id = c.query_id AND p.ca = c.cand_id
            |      JOIN u${k - 1} u ON u.query_id = p.query_id
            |                      AND u.cand_id = p.cb
            |      WHERE NOT EXISTS (SELECT 1 FROM u${k - 1} w
            |                        WHERE w.query_id = c.query_id
            |                          AND w.cand_id = c.cand_id)
            |      GROUP BY c.query_id, c.cand_id, c.lbl, c.rel))
            |  WHERE rn = 1
            |), u$k AS (
            |  SELECT query_id, cand_id FROM u${k - 1}
            |  UNION ALL SELECT query_id, cand_id FROM s$k
            |)""".stripMargin
        }.mkString(", ")
        s"""WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e
        |), q AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
        |  WHERE vec_id < 4
        |), scored AS (
        |  SELECT q.query_id, c.vec_id AS cand_id, c.label AS lbl,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> q.qv[i+1] * c.v[i+1])) / q.qn / c.nrm, 6) AS rel
        |  FROM n c JOIN q ON c.vec_id <> q.query_id
        |), cand AS (
        |  SELECT query_id, cand_id, lbl, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY rel DESC, cand_id) AS rnk FROM scored)
        |  WHERE rnk <= 12
        |), ps AS (
        |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
        |         round(1e-9 + list_sum(list_transform(range(64),
        |                 i -> x.v[i+1] * y.v[i+1])) / x.nrm / y.nrm, 6) AS sim
        |  FROM cand a
        |  JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
        |  JOIN n x ON x.vec_id = a.cand_id
        |  JOIN n y ON y.vec_id = b.cand_id
        |), plain AS (
        |  SELECT query_id, cand_id, lbl, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY rel DESC, cand_id) AS rn FROM cand)
        |  WHERE rn <= 5
        |), s1 AS (
        |  SELECT query_id, cand_id, lbl FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY rel DESC, cand_id) AS rn FROM cand)
        |  WHERE rn = 1
        |), u1 AS (
        |  SELECT query_id, cand_id FROM s1
        |), $rounds, mmr AS (
        |  SELECT query_id, cand_id, lbl FROM s1
        |  UNION ALL SELECT query_id, cand_id, lbl FROM s2
        |  UNION ALL SELECT query_id, cand_id, lbl FROM s3
        |  UNION ALL SELECT query_id, cand_id, lbl FROM s4
        |  UNION ALL SELECT query_id, cand_id, lbl FROM s5
        |), pm AS (
        |  SELECT query_id, CAST(count(DISTINCT lbl) AS BIGINT) AS labels_plain,
        |         round(1e-9 + avg(rel), 6) AS mean_rel_plain
        |  FROM plain GROUP BY 1
        |), mm AS (
        |  SELECT m.query_id,
        |         CAST(count(DISTINCT m.lbl) AS BIGINT) AS labels_mmr,
        |         round(1e-9 + avg(c.rel), 6) AS mean_rel_mmr
        |  FROM mmr m JOIN cand c ON c.query_id = m.query_id
        |                        AND c.cand_id = m.cand_id
        |  GROUP BY 1
        |)
        |SELECT pm.query_id, pm.labels_plain, mm.labels_mmr,
        |       mm.labels_mmr - pm.labels_plain AS label_gain,
        |       pm.mean_rel_plain, mm.mean_rel_mmr
        |FROM pm JOIN mm ON mm.query_id = pm.query_id
        |ORDER BY pm.query_id""".stripMargin
      }) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
      // x155's candidate stage + labels: same TopKPerGroup retrieval,
      // labels probed onto the 4×12 pool by one equi-join
      val lbl = Tables.embeddings(s, d)
        .select(col("vec_id").as("cand_id"), col("label").as("lbl"))
      val cand = mmrCandidates(s, d).join(lbl, "cand_id")
        .localCheckpoint() // 4×12 rows; both rankings + ps read it
      val ps = cand.select(col("query_id"), col("cand_id").as("ca"),
          col("cv").as("va"), col("cn").as("na"))
        .join(cand.select(col("query_id"), col("cand_id").as("cb"),
          col("cv").as("vb"), col("cn").as("nb")), Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          Num.roundOut(cosine(col("va"), col("na"), col("vb"), col("nb")), 6)
            .as("sim"))
        .localCheckpoint()
      val slim = cand.select(col("query_id"), col("cand_id"), col("lbl"),
        col("rel"))
      val plain = slim.withColumn("rn", row_number().over(
          w.partitionBy(col("query_id"))
            .orderBy(col("rel").desc, col("cand_id"))))
        .filter(col("rn") <= 5)
      val s1 = plain.filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("lbl"))
        .localCheckpoint()
      def round(prev: DataFrame, k: Int): DataFrame = {
        val sel = prev.select(col("query_id"), col("cand_id").as("cb"))
        val ms = ps.join(sel, Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca"))
          .agg(max(col("sim")).as("ms"))
          .withColumnRenamed("ca", "cand_id")
        slim.join(prev.select(col("query_id"), col("cand_id")),
            Seq("query_id", "cand_id"), "left_anti")
          .join(ms, Seq("query_id", "cand_id"))
          .select(col("query_id"), col("cand_id"), col("lbl"),
            (lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("m"))
          .withColumn("rn", row_number().over(w.partitionBy(col("query_id"))
            .orderBy(col("m").desc, col("cand_id"))))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("cand_id"), col("lbl"))
      }
      var selected = s1
      var picks = Vector(s1)
      (2 to 5).foreach { k =>
        val sk = round(selected, k).localCheckpoint()
        selected = selected.unionByName(sk)
        picks :+= sk
      }
      val mmr = picks.reduce(_.unionByName(_))
      val pm = plain.groupBy(col("query_id"))
        .agg(countDistinct(col("lbl")).as("labels_plain"),
          Num.roundOut(avg(col("rel")), 6).as("mean_rel_plain"))
      val mm = mmr.join(slim.select(col("query_id"), col("cand_id"),
          col("rel")), Seq("query_id", "cand_id"))
        .groupBy(col("query_id"))
        .agg(countDistinct(col("lbl")).as("labels_mmr"),
          Num.roundOut(avg(col("rel")), 6).as("mean_rel_mmr"))
      pm.join(mm, "query_id")
        .select(col("query_id"), col("labels_plain"), col("labels_mmr"),
          (col("labels_mmr") - col("labels_plain")).as("label_gain"),
          col("mean_rel_plain"), col("mean_rel_mmr"))
        .orderBy(col("query_id"))
    }
  )

  /** x155's corpus-touching stage, exposed un-checkpointed so
    * PlanShapeSpec can pin that candidate retrieval is the native
    * bounded-heap [[graft.plans.TopKPerGroup]], not a per-query global
    * sort (the entry localCheckpoints it, which hides the operator from
    * the final plan). */
  private[graft] def mmrCandidates(s: SparkSession, d: String): DataFrame = {
    val n = withNorm(Tables.embeddings(s, d))
    val q = n.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        Num.roundOut(dot(col("qv"), col("v")) / col("qn") / col("nrm"), 6)
          .as("rel"),
        col("v").as("cv"), col("nrm").as("cn"))
    graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("rel", true), ("cand_id", false)), 12)
  }

  /** The x33 k-means pipeline as shared DuckDB CTEs (v → c0 → a1/m1/c1 →
    * a2/m2/c2 → af), interpolated into both the x33 and x34 oracles so the
    * clustering definition can't drift between them. A def, not a val:
    * `entries` initializes first and would capture null. */
  private def kmeansCteSql: String =
    """v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), c0 AS (
        |  SELECT CAST(vec_id AS INT) AS cluster, v AS c FROM v WHERE vec_id < 4
        |), a1 AS (
        |  SELECT vec_id, cluster, dist, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT v.vec_id, c0.cluster,
        |           list_reduce(list_transform(range(64),
        |             i -> (v.v[i+1] - c0.c[i+1]) * (v.v[i+1] - c0.c[i+1])),
        |             (a, b) -> a + b) AS dist
        |    FROM v, c0)
        |), m1 AS (
        |  SELECT cluster, CAST(dim AS INT) AS dim,
        |         round(1e-9 + avg(x), 6) AS cv
        |  FROM (
        |    SELECT a1.cluster, unnest(range(64)) AS dim, unnest(v.v) AS x
        |    FROM a1 JOIN v ON a1.vec_id = v.vec_id WHERE a1.rn = 1)
        |  GROUP BY cluster, dim
        |), c1 AS (
        |  SELECT c0.cluster, coalesce(m.c, c0.c) AS c
        |  FROM c0 LEFT JOIN (
        |    SELECT cluster, list(cv ORDER BY dim) AS c FROM m1 GROUP BY cluster) m
        |  ON c0.cluster = m.cluster
        |), a2 AS (
        |  SELECT vec_id, cluster, dist, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT v.vec_id, c1.cluster,
        |           list_reduce(list_transform(range(64),
        |             i -> (v.v[i+1] - c1.c[i+1]) * (v.v[i+1] - c1.c[i+1])),
        |             (a, b) -> a + b) AS dist
        |    FROM v, c1)
        |), m2 AS (
        |  SELECT cluster, CAST(dim AS INT) AS dim,
        |         round(1e-9 + avg(x), 6) AS cv
        |  FROM (
        |    SELECT a2.cluster, unnest(range(64)) AS dim, unnest(v.v) AS x
        |    FROM a2 JOIN v ON a2.vec_id = v.vec_id WHERE a2.rn = 1)
        |  GROUP BY cluster, dim
        |), c2 AS (
        |  SELECT c1.cluster, coalesce(m.c, c1.c) AS c
        |  FROM c1 LEFT JOIN (
        |    SELECT cluster, list(cv ORDER BY dim) AS c FROM m2 GROUP BY cluster) m
        |  ON c1.cluster = m.cluster
        |), af AS (
        |  SELECT vec_id, cluster, dist, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT v.vec_id, c2.cluster,
        |           list_reduce(list_transform(range(64),
        |             i -> (v.v[i+1] - c2.c[i+1]) * (v.v[i+1] - c2.c[i+1])),
        |             (a, b) -> a + b) AS dist
        |    FROM v, c2)
        |)""".stripMargin

  /** Shared k-means pipeline (k=4, two Lloyd iterations, first-k init):
    * returns the final assignment as (vec_id, v, cluster, dist). Exactly
    * mirrors [[kmeansCteSql]] — see x33's parity notes. Consumers read
    * the PERSISTED [[kmeansListsTable]] instead of calling this; the one
    * live call site is that table's builder. */
  def kmeansAssign(s: SparkSession, d: String): DataFrame =
    kmeansAssignTo(kmeansVectors(s, d), kmeansCentroids(s, d))
      .select(col("vec_id"), col("v"), col("cluster"), col("dist"))

  /** The final Lloyd assignment persisted content-keyed and PARTITIONED
    * BY cluster — the literal IVF-flat coarse inverted file (each list
    * directory holds its members' vectors). x33's report, x34's within-
    * cluster pairing, and x60's coarse probe all read THIS table; before
    * r10, x60 re-ran the corpus×centroid assignment pass inline per call
    * (VERDICT r9 item 2) instead of scanning the artifact the other
    * consumers already paid to build. A probe's equi-join on the ≤k
    * cluster values prunes to the probed lists' directories (x14's
    * partition-pruning layout). */
  private[graft] def kmeansListsTable(s: SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.kmlists, Seq("cluster")) {
      kmeansAssign(s, d)
    }

  /** The trained k=4 centroid table (two Lloyd rounds from a first-4
    * init, centroids rounded to 6 decimals — [[kmeansCteSql]] parity),
    * persisted content-keyed; x33/x34 assignment and x60's coarse
    * quantizer all read this one artifact. */
  def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.kmeans) {
      val v = kmeansVectors(s, d)
      val init = v.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cluster"), col("v").as("c"))
      val c1 = kmeansUpdate(kmeansAssignTo(v, init), init)
      kmeansUpdate(kmeansAssignTo(v, c1), c1)
    }

  /** (vec_id, v) double vectors, checkpointed: training scans them 5x
    * (3 assigns + 2 updates). */
  private def kmeansVectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()

  /** Sequential left fold over dim order — DuckDB's list_reduce order. */
  private def kmeansSqDist(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, y) => acc + y)

  /** Nearest-centroid assignment (broadcast centroids, (dist, cluster)
    * tiebreak) — the single shared Lloyd building block. */
  private def kmeansAssignTo(v: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    v.crossJoin(broadcast(cent))
      .withColumn("dist", kmeansSqDist(col("v"), col("c")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("cluster"))))
      .filter(col("rn") === 1)
  }

  /** Centroid update: per-(cluster, dim) mean rounded to 6 decimals;
    * empty clusters keep their previous centroid. */
  private def kmeansUpdate(assigned: DataFrame, cent: DataFrame): DataFrame = {
    val m = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(Num.roundOut(avg(col("x")), 6).as("cv"))
      .groupBy(col("cluster"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        p => p.getField("cv")).as("mc"))
    cent.join(m, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("mc"), col("c")).as("c"))
      .localCheckpoint() // k x dim rows; severs the iteration lineage
  }

  /** The PQ chain as shared DuckDB CTEs (sv subvectors → c0 init → two
    * Lloyd rounds over the POOLED subvectors → c2 codebook → af code
    * assignment), interpolated into both the x57 and x58 oracles. Same
    * parity rules as [[kmeansCteSql]]: sequential-fold distances, 6-decimal
    * centroid rounding, (dist, cluster) tiebreak. */
  private def pqCteSql: String =
    """sv AS (
      |  SELECT vec_id, CAST(s AS INT) AS sub,
      |         list_transform(range(16),
      |           i -> CAST(embedding[s * 16 + i + 1] AS DOUBLE)) AS v
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(4)) AS s)
      |), qc0 AS (
      |  SELECT CAST(vec_id * 4 + sub AS INT) AS cluster, v AS c
      |  FROM sv WHERE vec_id < 2
      |), qa1 AS (
      |  SELECT vec_id, sub, cluster, dist, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY dist, cluster) AS rn
      |  FROM (
      |    SELECT sv.vec_id, sv.sub, qc0.cluster,
      |           list_reduce(list_transform(range(16),
      |             i -> (sv.v[i+1] - qc0.c[i+1]) * (sv.v[i+1] - qc0.c[i+1])),
      |             (a, b) -> a + b) AS dist
      |    FROM sv, qc0)
      |), qm1 AS (
      |  SELECT cluster, CAST(dim AS INT) AS dim,
      |         round(1e-9 + avg(x), 6) AS cv
      |  FROM (
      |    SELECT qa1.cluster, unnest(range(16)) AS dim, unnest(sv.v) AS x
      |    FROM qa1 JOIN sv ON qa1.vec_id = sv.vec_id AND qa1.sub = sv.sub
      |    WHERE qa1.rn = 1)
      |  GROUP BY cluster, dim
      |), qc1 AS (
      |  SELECT qc0.cluster, coalesce(m.c, qc0.c) AS c
      |  FROM qc0 LEFT JOIN (
      |    SELECT cluster, list(cv ORDER BY dim) AS c FROM qm1 GROUP BY cluster) m
      |  ON qc0.cluster = m.cluster
      |), qa2 AS (
      |  SELECT vec_id, sub, cluster, dist, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY dist, cluster) AS rn
      |  FROM (
      |    SELECT sv.vec_id, sv.sub, qc1.cluster,
      |           list_reduce(list_transform(range(16),
      |             i -> (sv.v[i+1] - qc1.c[i+1]) * (sv.v[i+1] - qc1.c[i+1])),
      |             (a, b) -> a + b) AS dist
      |    FROM sv, qc1)
      |), qm2 AS (
      |  SELECT cluster, CAST(dim AS INT) AS dim,
      |         round(1e-9 + avg(x), 6) AS cv
      |  FROM (
      |    SELECT qa2.cluster, unnest(range(16)) AS dim, unnest(sv.v) AS x
      |    FROM qa2 JOIN sv ON qa2.vec_id = sv.vec_id AND qa2.sub = sv.sub
      |    WHERE qa2.rn = 1)
      |  GROUP BY cluster, dim
      |), qc2 AS (
      |  SELECT qc1.cluster, coalesce(m.c, qc1.c) AS c
      |  FROM qc1 LEFT JOIN (
      |    SELECT cluster, list(cv ORDER BY dim) AS c FROM qm2 GROUP BY cluster) m
      |  ON qc1.cluster = m.cluster
      |), qaf AS (
      |  SELECT vec_id, sub, cluster, dist, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY dist, cluster) AS rn
      |  FROM (
      |    SELECT sv.vec_id, sv.sub, qc2.cluster,
      |           list_reduce(list_transform(range(16),
      |             i -> (sv.v[i+1] - qc2.c[i+1]) * (sv.v[i+1] - qc2.c[i+1])),
      |             (a, b) -> a + b) AS dist
      |    FROM sv, qc2)
      |)""".stripMargin

  /** Sequential left-fold squared distance in dim order (the x33 parity
    * rule: matches DuckDB's list_reduce exactly). */
  private def pqSqDist(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, y) => acc + y)

  /** (vec_id, sub, 16-dim subvector) — mirrors the sv CTE. */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v64"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("sub"),
        col("v64"))
      .select(col("vec_id"), col("sub"),
        slice(col("v64"), col("sub") * 16 + 1, lit(16)).as("v"))

  /** Shared 8-centroid codebook k-means-trained on the pooled subvectors
    * (first-8 init = the subvectors of vec_id 0 and 1; two Lloyd rounds,
    * centroids rounded to 6 decimals). Persisted content-keyed — the PQ
    * model artifact. */
  def pqCodebook(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    DerivedTable(s, d, Artifacts.pqbook) {
      val sv = pqSubvectors(s, d).localCheckpoint() // 3 assigns + 2 updates
      val init = sv.filter(col("vec_id") < 2)
        .select((col("vec_id") * 4 + col("sub")).cast("int").as("cluster"),
          col("v").as("c"))
      def assign(cent: DataFrame): DataFrame =
        sv.crossJoin(broadcast(cent))
          .withColumn("dist", pqSqDist(col("v"), col("c")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id"), col("sub"))
              .orderBy(col("dist"), col("cluster"))))
          .filter(col("rn") === 1)
      def update(assigned: DataFrame, cent: DataFrame): DataFrame = {
        val m = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cluster"), col("dim"))
          .agg(Num.roundOut(avg(col("x")), 6).as("cv"))
          .groupBy(col("cluster"))
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            p => p.getField("cv")).as("mc"))
        cent.join(m, Seq("cluster"), "left")
          .select(col("cluster"), coalesce(col("mc"), col("c")).as("c"))
          .localCheckpoint()
      }
      val c1 = update(assign(init), init)
      update(assign(c1), c1)
    }
  }

  /** The x14 rk≤2 IVF assignment artifact, persisted PARTITIONED BY
    * cent_id — the literal inverted-file layout: a probe's equi-join on
    * cent_id prunes to the probed lists' directories (DPP at scale).
    * builderVersion 2: assignment ranks on ROUNDED sims (oracle parity).
    * Shared by x14's probe and x101's append-maintenance proof. */
  private[graft] def ivfAssignedTable(s: SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.ivf, Seq("cent_id")) {
      val n = withNorm(Tables.embeddings(s, d))
      assignFrozen(n, frozenCents(n), 2)
    }

  /** x101's append-maintained index: the persisted BASE lists (artifact
    * minus the arriving vec_id % 10 = 7 slice) unioned with a fresh
    * Δ-only assignment pass against the SAME broadcast centroids. Equals
    * the full artifact row-for-row because IVF assignment is per-vector
    * independent of every other vector — Round8Spec pins the equality. */
  private[graft] def ivfAppendMerged(s: SparkSession, d: String): DataFrame = {
    val base = ivfAssignedTable(s, d)
      .filter(col("vec_id") % 10 =!= 7)
      .select("vec_id", "v", "nrm", "rk", "cent_id")
    val n = withNorm(Tables.embeddings(s, d))
    base.unionByName(
      assignFrozen(n.filter(col("vec_id") % 10 === 7), frozenCents(n), 2))
  }

  /** The encoded corpus: (vec_id, sub, cluster code, residual sq dist) —
    * the persisted PQ index (what a 100 TB corpus stores and scans). */
  def pqCodes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    DerivedTable(s, d, Artifacts.pqcodes) {
      pqSubvectors(s, d).crossJoin(broadcast(pqCodebook(s, d)))
        .withColumn("dist", pqSqDist(col("v"), col("c")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"), col("sub"))
            .orderBy(col("dist"), col("cluster"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cluster"), col("dist"))
    }
  }
}
