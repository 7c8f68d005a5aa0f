package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}
import graft.functions.Text

/** Deduplication suite for the training-data pipeline — exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard, all over the `documents` table.
  *
  * Scale design:
  *  - Exact dedup groups by md5(text): the shuffle carries a 16-byte digest
  *    per row, never the document body — the only viable shape at 100 TB.
  *  - MinHash/SimHash candidate generation is strictly
  *    signature → band-bucket explode → equi-join on (band, bucket):
  *    no all-pairs comparison ever materializes; work is proportional to
  *    colliding candidates, as in the LSH literature.
  *  - The trigram-Jaccard verifier runs ONLY on candidate pairs (or within a
  *    blocking key for the exhaustive variant), never on the cross product.
  */
object Dedup {

  /** x163's per-round stages, exposed un-checkpointed so PlanShapeSpec
    * can pin the round shape (the entry localCheckpoints each pick,
    * which hides the round plans from the final query): the gram fact
    * table, and one greedy round = broadcast anti-joins against the
    * bounded covered/picked state + map-side gain partials +
    * TakeOrderedAndProject(1). */
  private[graft] def coverageGrams(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    shingleTable(s, d).select(col("doc_id"), explode(col("tri")).as("g"))

  private[graft] def coverageRound(gd: DataFrame,
      state: Option[(DataFrame, DataFrame)]): DataFrame = {
    val eligible = state match {
      case None => gd
      case Some((covered, picked)) =>
        gd.join(broadcast(picked), Seq("doc_id"), "left_anti")
          .join(broadcast(covered), Seq("g"), "left_anti")
    }
    eligible.groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      .orderBy(col("gain").desc, col("doc_id")).limit(1)
  }

  /** doc_id, source, distinct word-trigram shingle set. */
  private def shingled(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"), col("lang"),
      Text.shingles(col("text"), 3).as("tri"))

  /** The shingle table PERSISTED content-keyed — the "write the signature
    * table once at ingest" artifact x04 and x20 both consume (shingling is
    * an interpreted nested-HOF expression; computing it once per corpus
    * instead of once per query is the production contract, and warm reads
    * skip it entirely). */
  private[operators] def shingleTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.shingles) {
      shingled(Tables.documents(s, d))
    }

  /** Exact-dup ∪ thresholded near-dup edge set, shared by x20 and x59
    * (one definition — the fingerprintSql rule). Exact edges group by
    * content digest (only 16-byte digests shuffle, x01's contract);
    * near edges run x04's inverted-index co-occurrence plan over the
    * SAME persisted shingle table, Jaccard ≥ 0.05 evaluated on
    * integer-derived doubles (bit-identical classification). */
  private def dupEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed.as("a")
      .join(hashed.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
    val inv = shingleTable(s, d)
      .select(col("source"), col("lang"), col("doc_id"),
        size(col("tri")).as("sz"), explode(col("tri")).as("sh"))
    val near = inv.as("a")
      .join(inv.as("b"),
        col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("i"))
      .filter(col("i").cast("double") / (col("sza") + col("szb") - col("i"))
        >= 0.05)
      .select(col("a"), col("b"))
    exact.union(near)
  }

  /** The same edge set + recursive-reachability labeling as DuckDB CTEs
    * (s → ex/ne → e/u/n → reach → lab), interpolated into the x20 and
    * x59 oracles. A def, not a val: `entries` initializes first. */
  private def dupClusterCteSql: String =
    """s AS (
      |  SELECT doc_id, source, lang,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []
      |           ELSE list_transform(range(len(ws) - 2),
      |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
      |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
      |        FROM documents)
      |), ex AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM documents a JOIN documents b
      |    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
      |), ne AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM s a JOIN s b ON a.source = b.source AND a.lang = b.lang
      |                   AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.tri, b.tri)) > 0
      |    AND len(list_intersect(a.tri, b.tri)) * 1.0 /
      |        (len(a.tri) + len(b.tri) - len(list_intersect(a.tri, b.tri)))
      |        >= 0.05
      |), e AS (
      |  SELECT a, b FROM ex UNION SELECT a, b FROM ne
      |), u AS (
      |  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
      |), n AS (
      |  SELECT DISTINCT a AS node FROM u
      |), reach(node, r) AS (
      |  SELECT node, node FROM n
      |  UNION
      |  SELECT reach.node, u.b FROM reach JOIN u ON u.a = reach.r
      |), lab AS (
      |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
      |)""".stripMargin

  private val MinhashP = 1000000007L

  /** The portable 8-perm MinHash signature pipeline over an arbitrary
    * documents-shaped frame (doc_id, text, …) → (doc_id, tri, sig).
    * Char hash runs once per DISTINCT shingle. Factored out of
    * [[pminhashTable]] so st10's streaming ingest computes per-batch
    * signatures through the IDENTICAL expression tree (value parity is
    * what makes streaming == batch provable there). */
  private[graft] def portableSigs(docs: DataFrame): DataFrame = {
    val base = shingled(docs)
      .select(col("doc_id"), col("tri"))
      .filter(size(col("tri")) > 0)
      .localCheckpoint()
    val ex = base.select(col("doc_id"), explode(col("tri")).as("sh"))
    val vocab = ex.select(col("sh")).distinct()
      .withColumn("h", Text.charHash(col("sh")))
    val minCols = (0 until 8).map { k =>
      min((col("h") * (2L * k + 1L) + (k * 40503L + 17L)) % MinhashP).as(s"m$k")
    }
    val sigs = ex.join(vocab, "sh")
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 8).map(k => col(s"m$k")): _*).as("sig"))
    base.join(sigs, "doc_id")
  }

  /** The portable-minhash signature table (doc_id, tri, 8-perm sig) —
    * x39's persisted content-keyed artifact, shared with x61's
    * incremental probe. */
  private[operators] def pminhashTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.pminhash) {
      portableSigs(Tables.documents(s, d))
    }

  /** 4×2 band buckets of a signature frame, UNCAPPED — st10 applies the
    * crowded-bucket cap on FINAL sizes instead (cap semantics are a
    * whole-corpus property; see st10's proof sketch). */
  private[graft] def bandedSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("bnd"), col("sig"))
      .select(col("doc_id"), col("bnd").cast("int").as("band"),
        (element_at(col("sig"), (col("bnd") * 2 + 1).cast("int")) * MinhashP +
         element_at(col("sig"), (col("bnd") * 2 + 2).cast("int"))).as("bucket"))

  /** The portable-SimHash bit table (doc_id, i, b) — x63's persisted
    * content-keyed artifact. Per DISTINCT token, [[Text.charHash]] seeds
    * x62's integer mixer once per bit index (i+1 folded in BEFORE the
    * avalanche, so bits are not affine shifts of one another — x43's
    * lesson); per-doc bits are the sign of the vote sum. Long-form
    * (row per bit) so the DuckDB oracle replays it join-for-join. */
  private[graft] def psimhashBits(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"),
      explode(filter(array_distinct(Text.tokens(col("text"))),
        w => length(w) > 0)).as("tok"))
    DerivedTable(s, d, Artifacts.psimhash) { simhashBitsOf(tok) }
  }

  /** The portable-SimHash bit pipeline over ANY (doc_id, tok) token set —
    * shared by [[psimhashBits]] (document text, x63's tier) and m22's
    * caption tier, so the two tiers' fingerprints live in the same
    * 32-bit hash space and are directly band-joinable. The vote table
    * derives only from the token STRING, so the same token hashes
    * identically whichever tier contributes it. */
  private[graft] def simhashBitsOf(tok: DataFrame): DataFrame = {
    val voc = tok.select(col("tok")).distinct()
      .withColumn("h", Text.charHash(col("tok")))
    val tb = voc.select(col("tok"), col("h"),
        explode(sequence(lit(0), lit(31))).as("i"))
      .withColumn("a", expr("(h + (i + 1) * 2654435761) & 4294967295"))
    val t1 = tb.withColumn("a",
      expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
    val t2 = t1.withColumn("a",
      expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
    val tv = t2.select(col("tok"), col("i"),
      when(expr("(shiftright(a, 16) ^ a) & 1") === 1, 1).otherwise(-1).as("v"))
    tok.join(tv, "tok")
      .groupBy(col("doc_id"), col("i"))
      .agg(sum(col("v")).as("sv"))
      .select(col("doc_id"), col("i"),
        when(col("sv") > 0, 1).otherwise(0).as("b"))
  }

  /** 4×2 band buckets over the signature table, crowded buckets (>100)
    * dropped — the shared candidate-generation layer of x39/x61 (and,
    * since r16, x231's stage-2 rule over the stage-1 survivor corpus:
    * bucket SIZES are a corpus property, so the cap must be taken over
    * whatever signature subset the caller passes). */
  private[graft] def pminhashPruned(sig: DataFrame): DataFrame = {
    val banded = bandedSig(sig)
    val keepb = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, 100))
      .select(col("band"), col("bucket"))
    banded.join(keepb, Seq("band", "bucket"))
  }

  /** x231's STAGE-2 near-dup rule over an explicit (doc_id, tri, sig)
    * signature frame — x39's banded candidate generation (4×2 band
    * buckets, crowded-bucket cap over the frame the CALLER scoped, e.g.
    * the stage-1 survivor corpus) followed by an exact-Jaccard verify on
    * the bounded candidate set and the deterministic keep-min decision:
    * a document is a casualty iff it is the LARGER doc_id of some
    * candidate pair with 3-shingle Jaccard ≥ ½. The threshold compare is
    * integer cross-multiplication (2·|∩| ≥ |∪|), never a float, so the
    * engine and the DuckDB oracle cannot disagree at the boundary.
    * Work ∝ colliding pairs (banded, capped) — never all-pairs. */
  private[graft] def neardupCasualties(sig: DataFrame): DataFrame = {
    val pruned = pminhashPruned(sig)
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val tri = sig.select(col("doc_id"), col("tri"))
    pairs
      .join(tri.select(col("doc_id").as("doc_a"), col("tri").as("tri_a")),
        "doc_a")
      .join(tri.select(col("doc_id").as("doc_b"), col("tri").as("tri_b")),
        "doc_b")
      .withColumn("inter",
        size(array_intersect(col("tri_a"), col("tri_b"))).cast("long"))
      .filter(col("inter") * 2 >=
        (size(col("tri_a")) + size(col("tri_b"))).cast("long") - col("inter"))
      .select(col("doc_b").as("doc_id")).distinct()
  }

  /** The x39 chain (shingles → portable hashes → 8-perm signatures → 4×2
    * band buckets → crowded-bucket cap) as shared DuckDB CTEs,
    * interpolated into the x39 and x61 oracles. Parameterized (r16) with
    * a CTE-name prefix and a source relation so x231's oracle can run
    * the IDENTICAL chain over the stage-1 survivor corpus — the default
    * arguments reproduce the historical text byte-for-byte. */
  private[graft] def pminhashCteSql(p: String = "",
      src: String = "documents"): String =
    s"""${p}s AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(ws) < 3 THEN []
      |           ELSE list_transform(range(len(ws) - 2),
      |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)
      |), ${p}h AS (
      |  SELECT doc_id, tri,
      |         list_transform(tri, sh ->
      |           list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(len(sh)),
      |               i -> CAST(unicode(sh[i+1]) AS BIGINT))),
      |             (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
      |  FROM ${p}s WHERE len(tri) > 0
      |), ${p}sig AS (
      |  SELECT doc_id, tri,
      |         list_transform(range(8), k -> list_min(list_transform(hs,
      |           x -> (x * (2*k + 1) + k * 40503 + 17) % 1000000007))) AS sig
      |  FROM ${p}h
      |), ${p}bk AS (
      |  SELECT doc_id, CAST(band AS INT) AS band,
      |         sig[band*2 + 1] * 1000000007 + sig[band*2 + 2] AS bucket
      |  FROM (SELECT doc_id, sig, unnest(range(4)) AS band FROM ${p}sig)
      |), ${p}keepb AS (
      |  SELECT band, bucket FROM ${p}bk
      |  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 100
      |), ${p}pr AS (
      |  SELECT ${p}bk.* FROM ${p}bk JOIN ${p}keepb USING (band, bucket)
      |)""".stripMargin

  /** x39's complete oracle SQL — also st10's: the streaming ingest's
    * final state provably equals the batch pipeline (bottom-of-file
    * proof sketch in Streams.st10), so the SAME relational oracle checks
    * both, the st09↔x64 move applied to LSH dedup. */
  private[graft] def x39OracleSql: String =
    s"""WITH ${pminhashCteSql()}, pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pr a JOIN pr b ON a.band = b.band AND a.bucket = b.bucket
      |                     AND a.doc_id < b.doc_id
      |)
      |SELECT p.doc_a, p.doc_b,
      |       round(1e-9 + list_sum(list_transform(range(8),
      |             i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1]
      |                       THEN 1 ELSE 0 END)) / 8.0, 6) AS est,
      |       round(1e-9 + len(list_intersect(sa.tri, sb.tri)) * 1.0 /
      |             (len(sa.tri) + len(sb.tri)
      |              - len(list_intersect(sa.tri, sb.tri))), 6) AS jaccard
      |FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
      |             JOIN sig sb ON p.doc_b = sb.doc_id
      |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** x91's calibration-sample bound (VERDICT r13 item 5): the sweep
    * measures precision/recall on AT MOST ~SampleCap documents. The old
    * selector (fingerprint % 2) took half the CORPUS — linear in data,
    * which made the one measurement query with an exact ground-truth arm
    * superlinear end-to-end (2.25× at 2× data: truth-arm pairs ∝ sample
    * postings²). Calibration is a bounded MEASUREMENT, not a production
    * pass: at 100 TB you calibrate a (b, r) choice on a fixed-size
    * content-keyed sample and band the corpus once. The modulus ladder
    * keeps membership deterministic and content-keyed: m = the smallest
    * power of two with ceil(n / SampleCap) ≤ m, selector fp % m = 0 —
    * both engines derive m from the same 1-row count through the same
    * generated CASE ladder ([[pow2LadderSql]]), so the sample is
    * identical and the whole sweep's cost is O(corpus scan) + O(1). */
  private val SampleCap = 2048L

  /** CASE ladder picking the smallest power of two ≥ q (q = the ceil
    * division count/SampleCap) — generated once, shared verbatim by the
    * oracle SQL and (via [[pow2Ladder]]) the Spark plan. */
  private val ladderPows: Seq[Long] = (0 to 40).map(k => 1L << k)

  private def pow2LadderSql: String =
    "CASE " + ladderPows.map(p => s"WHEN q <= $p THEN $p").mkString(" ") +
      s" ELSE ${1L << 41} END"

  private def pow2Ladder(q: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    ladderPows.foldRight(lit(1L << 41): org.apache.spark.sql.Column)(
      (p, acc) => when(q <= p, p).otherwise(acc))

  /** The bounded calibration sample (doc_id): fp % m = 0 with m from the
    * shared ladder. */
  private def calibSample(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val m = graft.Tables.documents(s, d).agg(count(lit(1)).as("n"))
      .select(expr(s"CAST((n + ${SampleCap - 1}) div $SampleCap AS BIGINT)")
        .as("q"))
      .select(pow2Ladder(col("q")).as("m"))
    TextAnalysis.fingerprintTable(s, d)
      .crossJoin(broadcast(m))
      .filter(col("fp") % col("m") === 0)
      .select(col("doc_id"))
  }

  /** The oracle's sample CTEs (nn → mm → samp), mirroring
    * [[calibSample]] through the same generated ladder. */
  private def calibSampleCteSql: String =
    s"""nn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |), mm AS (
      |  SELECT CAST($pow2LadderSql AS BIGINT) AS m
      |  FROM (SELECT (n + ${SampleCap - 1}) // $SampleCap AS q FROM nn)
      |), samp AS (
      |  SELECT doc_id FROM documents, mm
      |  WHERE ${graft.operators.TextAnalysis.fingerprintSql} % m = 0
      |)""".stripMargin

  /** The x91 band-configuration sweep: (bands, rows-per-band) splits of the
    * SAME 8-perm signature budget. Theory capture probability at J = 0.5
    * (1 − (1 − J^r)^b) is computed ONCE here, rounded, and interpolated as
    * the identical literal into both engines. */
  private val x91Configs: Seq[(Int, Int, String)] =
    Seq((8, 1), (4, 2), (2, 4)).map { case (b, r) =>
      val p = 1.0 - math.pow(1.0 - math.pow(0.5, r), b)
      (b, r, f"${math.rint(p * 1e4) / 1e4}%.4f")
    }

  /** x91's oracle: the shared sig CTE, an inverted-index ground truth at
    * J ≥ 1/2 (integer test — 3·|∩| ≥ |A|+|B|), then one structurally
    * identical banding block per config. */
  private def x91OracleSql: String = {
    val blocks = x91Configs.map { case (b, r, p) =>
      s"""bd$b AS (
        |  SELECT doc_id, band,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range($r), i -> sig[band * $r + i + 1])),
        |           (acc, x) -> (acc * 1000003 + x) % 1000000007) AS bucket
        |  FROM (SELECT doc_id, sig, unnest(range($b)) AS band FROM sg)
        |), kp$b AS (
        |  SELECT band, bucket FROM bd$b
        |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 100
        |), pc$b AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM (SELECT bd$b.* FROM bd$b JOIN kp$b USING (band, bucket)) a
        |  JOIN (SELECT bd$b.* FROM bd$b JOIN kp$b USING (band, bucket)) b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.doc_id < b.doc_id
        |), r$b AS (
        |  SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
        |         (SELECT CAST(count(*) AS BIGINT) FROM pc$b) AS n_cand,
        |         (SELECT CAST(count(*) AS BIGINT) FROM pc$b
        |          JOIN tj ON pc$b.doc_a = tj.doc_a
        |                 AND pc$b.doc_b = tj.doc_b) AS n_hit,
        |         CAST($p AS DOUBLE) AS p_capture_50
        |)""".stripMargin
    }.mkString(", ")
    val union = x91Configs.map { case (b, _, _) => s"SELECT * FROM r$b" }
      .mkString(" UNION ALL ")
    s"""WITH ${pminhashCteSql()}, $calibSampleCteSql, sg AS (
      |  SELECT sig.* FROM sig JOIN samp USING (doc_id)
      |), ex AS (
      |  SELECT doc_id, unnest(tri) AS g FROM sg
      |), sz AS (
      |  SELECT doc_id, len(tri) AS sz FROM sg
      |), pc AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), tj AS (
      |  SELECT pc.doc_a, pc.doc_b FROM pc
      |  JOIN sz sa ON sa.doc_id = pc.doc_a
      |  JOIN sz sb ON sb.doc_id = pc.doc_b
      |  WHERE 3 * pc.inter >= sa.sz + sb.sz
      |), nt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tj
      |), $blocks, u AS ($union)
      |SELECT bands, rows_per_band, n_cand, n_hit, nt.n_truth,
      |       CASE WHEN n_cand = 0 THEN CAST(0.0 AS DOUBLE)
      |            ELSE round(1e-9 + n_hit * 1.0 / n_cand, 4) END AS prec,
      |       CASE WHEN nt.n_truth = 0 THEN CAST(0.0 AS DOUBLE)
      |            ELSE round(1e-9 + n_hit * 1.0 / nt.n_truth, 4) END AS rec,
      |       p_capture_50
      |FROM u, nt ORDER BY bands DESC""".stripMargin
  }

  /** x96's relational answer — shared VERBATIM with st15's streaming
    * cluster-state maintenance (the st13↔q78 rule applied to dedup
    * economics): one final answer definition, so batch and streaming
    * can't drift. */
  private[graft] val x96OracleSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars, md5(text) AS th FROM documents
      |), g AS (
      |  SELECT th, count(*) AS csize, CAST(sum(n_chars) AS BIGINT) AS mass
      |  FROM h GROUP BY th
      |), t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total FROM h
      |)
      |SELECT CAST(g.csize AS INT) AS cluster_size,
      |       CAST(count(*) AS BIGINT) AS n_clusters,
      |       CAST(count(*) * g.csize AS BIGINT) AS n_docs,
      |       CAST(sum(g.mass) AS BIGINT) AS chars_total,
      |       CAST(count(*) * (g.csize - 1) AS BIGINT) AS docs_removable,
      |       round(1e-9 + count(*) * (g.csize - 1) * 1.0 / t.n_total, 4)
      |         AS removable_frac
      |FROM g, t GROUP BY g.csize, t.n_total
      |ORDER BY cluster_size""".stripMargin

  /** The winnowing fingerprint table (doc_id, fp) — x75's persisted
    * content-keyed ingest artifact. Extraction is one codegen'd per-row
    * pass: ordered gram hashes, w=4 window minima via
    * `array_min(slice(...))` inside a let-bound lambda (no window
    * function, no shuffle), distinct per doc. */
  private[graft] def winnowTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.winnow) {
      winnowFps(Tables.documents(s, d))
    }

  /** Winnowing fingerprint extraction over an arbitrary documents-shaped
    * frame — factored out of [[winnowTable]] so the spec can pin the
    * equal-stream ⇒ equal-fingerprints guarantee on synthetic rows. */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    val W = 4
    val hsCol = transform(Text.rawShingles(col("text"), 3),
      g => Text.charHash(g))
    // let-bind the hash array (lambdas have no CSE — same idiom as
    // Text.shingles), then window minima + distinct inside the row
    val fpsCol = get(
      transform(array(hsCol), h => {
        val wins = transform(
          sequence(lit(1), greatest(size(h) - (W - 1), lit(1))),
          j => array_min(slice(h, j, lit(W))))
        array_distinct(wins)
      }),
      lit(0))
    docs
      .filter(size(Text.tokens(col("text"))) >= 3)
      .select(col("doc_id"), explode(fpsCol).as("fp"))
  }

  /** The CONVERGED duplicate-cluster map (node, label), persisted
    * content-keyed: the hash-min loop runs once per corpus at ingest and
    * both x20 and x59 read the artifact — the "cluster table" every
    * production dedup pipeline stores next to its signature table. */
  private def dupClusterTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    DerivedTable(s, d, Artifacts.dupclusters) {
      connectedComponents(dupEdges(s, d))
    }

  /** Connected components by hash-min label propagation (Rastogi et al.,
    * "Finding Connected Components in Map-Reduce"). `edges` has long
    * columns (a, b), one row per undirected edge; returns (node, label)
    * where label = min node id reachable. Each round is one equi-shuffle
    * join + one partial-agg min — converges in O(log diameter) rounds
    * (dedup clusters are near-cliques: 2-3 rounds at any corpus size).
    * localCheckpoint truncates the per-round lineage, standing in for the
    * checkpoint every iterative Spark job writes at scale. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().localCheckpoint()
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    var labels = und.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 25) {
      val nbr = und.join(labels, und("b") === labels("node"))
        .select(und("a").as("node"), col("label"))
      val next = labels.union(nbr)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      changed = next.as("nx").join(labels.as("pv"), col("nx.node") === col("pv.node"))
        .filter(col("nx.label") =!= col("pv.label")).count()
      labels = next
      rounds += 1
    }
    labels
  }

  val entries: Seq[QueryDef] = Seq(

    // Exact dedup: one keeper (min doc_id) per distinct text, keyed by
    // content digest so only digests shuffle.
    QueryDef("x01_dedup_exact",
      """SELECT min(doc_id) AS keep_id, md5(text) AS text_hash,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("text_hash"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // DEDUP IMPACT audit per source: how many documents (and how much
    // character mass) x01's keep-first exact dedup removes from each
    // source — the report a curation pipeline publishes with every dedup
    // pass, because "we deduped" is only actionable as "source X lost
    // 40% of its mass" (that source is the one to renegotiate quotas
    // for, x81's mixing inputs). Keep rule is x01's verbatim:
    // min(doc_id) per md5(text).
    //
    // Scale: bodies are hashed MAP-SIDE (only the 32-char digest plus
    // source/n_chars/doc_id ever shuffles); the keep decision is a
    // partition-local min window over the hash key — ONE exchange shared
    // by decision and audit, no self-join back to the corpus; the
    // per-source rollup is a partial agg over already-shuffled rows.
    QueryDef("x89_dedup_impact",
      """WITH h AS (
        |  SELECT doc_id, source, n_chars, md5(text) AS th FROM documents
        |), k AS (
        |  SELECT doc_id, source, n_chars,
        |         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY th)
        |              THEN 1 ELSE 0 END AS removed
        |  FROM h
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(removed) AS BIGINT) AS n_removed,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |       CAST(sum(CASE WHEN removed = 1 THEN n_chars ELSE 0 END)
        |            AS BIGINT) AS chars_removed,
        |       round(1e-9 + sum(CASE WHEN removed = 1 THEN n_chars ELSE 0 END)
        |             * 1.0 / sum(n_chars), 4) AS removed_frac
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text")).as("th"))
      val k = h.withColumn("removed",
        when(col("doc_id") =!=
          min(col("doc_id")).over(Window.partitionBy(col("th"))), 1)
          .otherwise(0))
      k.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("removed")).cast("long").as("n_removed"),
          sum(col("n_chars")).cast("long").as("chars_total"),
          sum(when(col("removed") === 1, col("n_chars")).otherwise(0L))
            .cast("long").as("chars_removed"),
          Num.roundOut(
            sum(when(col("removed") === 1, col("n_chars")).otherwise(0L))
              * 1.0 / sum(col("n_chars")), 4).as("removed_frac"))
        .orderBy(col("source"))
    },

    // DEDUP SURVIVORSHIP POLICY COMPARISON — x01/x89 keep the FIRST copy
    // (min doc_id) per content hash, but byte-identical copies carry
    // different ATTRIBUTION, and attribution drives quotas (x22's mixing
    // weights) and licensing. The production alternative is a
    // source-preference policy: keep the copy from the RAREST source
    // (fewer corpus docs ≈ the curated feed; the common-crawl-sized
    // source is the one that scraped it) — the crawl-preference rule
    // behind provenance-aware dedup. Per source: docs, cluster winners
    // under each policy, and the delta — NEGATIVE where a bulk source
    // loses credit for copies a rarer source also carries, which is
    // exactly the quota-renegotiation signal x89's mass report can't
    // see. (Quality-based survivorship is a non-policy for EXACT dups —
    // quality is text-derived, so byte-identical copies tie by
    // construction; near-dup survivorship rides x59's cluster
    // canonicalization instead.)
    //
    // Scale: ONE hash-keyed exchange shared by both policy windows (the
    // x89 shape with a second ordering); the source-size dimension is a
    // sources-sized broadcast. The preference order (n_src ASC, source,
    // doc_id) is total — no cross-engine tie ambiguity.
    QueryDef("x201_survivorship_policy",
      """WITH h AS (
        |  SELECT doc_id, source, md5(text) AS th FROM documents
        |), c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |  FROM h GROUP BY source
        |), j AS (
        |  SELECT h.doc_id, h.source, h.th, c.n_src
        |  FROM h JOIN c USING (source)
        |), k AS (
        |  SELECT doc_id, source, n_src,
        |         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY th)
        |              THEN 1 ELSE 0 END AS keep_first,
        |         CASE WHEN row_number() OVER (PARTITION BY th
        |                ORDER BY n_src, source, doc_id) = 1
        |              THEN 1 ELSE 0 END AS keep_pref
        |  FROM j
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(max(n_src) AS BIGINT) AS source_size,
        |       CAST(sum(keep_first) AS BIGINT) AS n_kept_first,
        |       CAST(sum(keep_pref) AS BIGINT) AS n_kept_pref,
        |       CAST(sum(keep_pref) - sum(keep_first) AS BIGINT)
        |         AS kept_delta
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("th"))
      val c = h.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val j = h.join(broadcast(c), "source")
      val byTh = Window.partitionBy(col("th"))
      val pref = Window.partitionBy(col("th"))
        .orderBy(col("n_src"), col("source"), col("doc_id"))
      val k = j
        .withColumn("keep_first",
          when(col("doc_id") === min(col("doc_id")).over(byTh), 1)
            .otherwise(0))
        .withColumn("keep_pref",
          when(row_number().over(pref) === 1, 1).otherwise(0))
      k.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max(col("n_src")).cast("long").as("source_size"),
          sum(col("keep_first")).cast("long").as("n_kept_first"),
          sum(col("keep_pref")).cast("long").as("n_kept_pref"),
          (sum(col("keep_pref")) - sum(col("keep_first")))
            .cast("long").as("kept_delta"))
        .orderBy(col("source"))
    },

    // CORPUS NOVELTY CURVE — per-doc fraction of trigram TYPES never seen
    // in any earlier doc (doc_id as ingest order): the diminishing-novelty
    // signal behind data-curation decisions (when a source's curve decays,
    // more of it buys repetition, not coverage — the per-doc view of
    // x28's duplicate-gram mass). First occurrence is min(doc_id) per
    // gram — the keep-first rule streaming dedup applies, computed here
    // as one gram-keyed partial agg; n_new per doc is then a count over
    // the first-occurrence table, and n_distinct comes FREE from the
    // persisted shingle table's array length (no second corpus pass).
    //
    // Scale: only (gram, doc_id) keys shuffle, never bodies (x41's
    // contract); the min-agg is mergeable partial state; the per-doc
    // report joins doc-keyed — at 100 TB this is the incremental-append
    // shape: new docs' novelty needs only the accumulated first-seen
    // table (x61's Δ contract applied to novelty measurement).
    QueryDef("x84_novelty_curve",
      """WITH s AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), g AS (
        |  SELECT doc_id, unnest(tri) AS g FROM s
        |), f AS (
        |  SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1
        |), nn AS (
        |  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
        |  FROM f GROUP BY 1
        |)
        |SELECT s.doc_id, CAST(len(s.tri) AS BIGINT) AS n_distinct,
        |       coalesce(nn.n_new, 0) AS n_new,
        |       round(1e-9 + CASE WHEN len(s.tri) = 0 THEN 0.0
        |             ELSE coalesce(nn.n_new, 0) * 100.0 / len(s.tri) END, 4)
        |         AS novelty_pct
        |FROM s LEFT JOIN nn ON nn.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val sets = shingleTable(s, d).select(col("doc_id"), col("tri"))
      val f = sets.select(col("doc_id"), explode(col("tri")).as("g"))
        .groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      val nn = f.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_new"))
      sets.select(col("doc_id"), size(col("tri")).cast("long").as("n_distinct"))
        .join(nn, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_distinct"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          Num.roundOut(when(col("n_distinct") === 0, 0.0)
            .otherwise(coalesce(col("n_new"), lit(0L)) * 100.0
              / col("n_distinct")), 4).as("novelty_pct"))
        .orderBy(col("doc_id"))
    },

    // bucket collisions, verified with exact trigram Jaccard, top 50.
    // Not ANSI-expressible (xxhash64 signature) → pinned by DedupSpec.
    QueryDef.noOracle("x02_minhash_lsh") { (s, d) =>
      // The signature table (doc_id, shingles, 16-perm minhash sig) is the
      // "write the signature table" step every production dedup pipeline
      // has — persisted content-keyed ([[DerivedTable]]), built once per
      // corpus, feeding all four downstream subplans (two sides of the
      // bucket self-join + two exact-verify joins).
      // Signatures are computed FLAT: explode shingles, hash once per row,
      // take 16 per-permutation MINs in one columnar hash aggregate —
      // whole-stage codegen'd, unlike nested higher-order lambdas (which
      // are interpreted per element and generate huge methods).
      val p = 2147483647L
      val sets = DerivedTable(s, d, Artifacts.minhash) {
        val base = shingled(Tables.documents(s, d)).localCheckpoint()
        val hashed = base
          .select(col("doc_id"), explode(col("tri")).as("sh"))
          .select(col("doc_id"), pmod(xxhash64(col("sh")), lit(p)).as("h"))
        val minCols = (0 until 16).map { i =>
          min(pmod(col("h") * (2L * i + 1L) + (i * 40503L + 17L), lit(p))).as(s"m$i")
        }
        val sigs = hashed.groupBy(col("doc_id"))
          .agg(minCols.head, minCols.tail: _*)
          .select(col("doc_id"),
            array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
        base.join(sigs, "doc_id")
      }
      val banded = sets.select(col("doc_id"), col("sig"),
          explode(Text.lshBands(col("sig"), 4, 4)).as("bb"))
        .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bucket"))
      // Crowded buckets (boilerplate clusters) would make the self-join
      // quadratic — cap them, the standard web-dedup mitigation; singleton
      // buckets can't produce pairs and are dropped too.
      val keepBuckets = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz").between(2, 100))
        .select(col("band"), col("bucket"))
      val pruned = banded.join(keepBuckets, Seq("band", "bucket"))
      // Stage 1: cheap signature-agreement estimate on colliding pairs.
      val est = pruned.as("a")
        .join(pruned.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (size(filter(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)) / 16.0)
            .as("e"))
        .groupBy(col("doc_a"), col("doc_b")).agg(max(col("e")).as("est"))
        .orderBy(col("est").desc, col("doc_a"), col("doc_b"))
        .limit(500)
      // Stage 2: exact trigram Jaccard ONLY on the shortlist.
      val left = sets.select(col("doc_id").as("doc_a"), col("tri").as("tri_a"))
      val right = sets.select(col("doc_id").as("doc_b"), col("tri").as("tri_b"))
      est.join(left, "doc_a").join(right, "doc_b")
        // both-empty shingle sets would divide by zero under ANSI mode
        // (near-empty docs collide in every band: their signatures are all
        // null). Same guard x04 applies.
        .filter(size(col("tri_a")) + size(col("tri_b")) > 0)
        .select(col("doc_a"), col("doc_b"),
          Num.roundOut(Text.jaccard(col("tri_a"), col("tri_b")), 6).as("jaccard"),
          col("est"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // SimHash near-dup: 64-bit fingerprints, 4×16-bit band join, closest 50
    // pairs by hamming distance. Not ANSI-expressible → DedupSpec.
    // Bit votes are computed per DISTINCT TOKEN once (the vocabulary is
    // orders of magnitude smaller than Σ doc tokens), broadcast back as 64
    // FLAT ±1 columns, and summed per doc as 64 primitive SUM aggregates —
    // one whole-stage-codegen hash aggregate with map-side partials, no
    // per-row array boxing (identical result to hashing inside every
    // document, ~|vocab|/|tokens| of the hash work).
    QueryDef.noOracle("x03_simhash") { (s, d) =>
      // Fingerprint table persisted content-keyed ([[DerivedTable]]) —
      // reused by the band explode + both pair-join sides, and across runs.
      val fp = DerivedTable(s, d, Artifacts.simhash) {
        val docToks = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(Text.tokens(col("text")))).as("tok"))
        val bitCols = (0 until 64).map { i =>
          (pmod(xxhash64(concat(col("tok"), lit(s"#$i"))), lit(2L)) * 2L - 1L)
            .as(s"t$i")
        }
        val vocab = docToks.select(col("tok")).distinct()
          .select(col("tok") +: bitCols: _*)
        val voteCols = (0 until 64).map(i => sum(col(s"t$i")).as(s"v$i"))
        docToks.join(broadcast(vocab), "tok")
          .groupBy(col("doc_id"))
          .agg(voteCols.head, voteCols.tail: _*)
          .withColumn("bits", array((0 until 64).map(i =>
            when(col(s"v$i") > 0, 1L).otherwise(0L)): _*))
          .withColumn("simhash", Text.simhashValue(col("bits")))
          .select(col("doc_id"), col("bits"), col("simhash"))
      }
      val banded = fp.select(col("doc_id"),
          posexplode(Text.simhashChunks(col("bits"))).as(Seq("band", "chunk")))
      // Pair generation via collect_list per bucket (ONE shuffle) instead of
      // a bucket-size prune + bucket self-join (four): sort the bucket's
      // doc ids, emit all i<j pairs in-place, distinct across bands. The
      // 2..100 size cap still bounds any crowded bucket quadratically.
      val cands = banded.groupBy(col("band"), col("chunk"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 100))
        .select(explode(flatten(transform(
          sequence(lit(0), size(col("ds")) - 2),
          i => transform(
            slice(col("ds"), i + 2, size(col("ds"))),
            b => struct(element_at(col("ds"), i + 1).as("doc_a"), b.as("doc_b")))))
        ).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .distinct()
      val la = fp.select(col("doc_id").as("doc_a"), col("bits").as("bits_a"),
        col("simhash").as("simhash_a"))
      val lb = fp.select(col("doc_id").as("doc_b"), col("bits").as("bits_b"))
      cands.join(la, "doc_a").join(lb, "doc_b")
        .select(col("doc_a"), col("doc_b"), col("simhash_a"),
          Text.hamming(col("bits_a"), col("bits_b")).as("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // Embedding-cosine near-dup: most-similar vector pairs within a
    // blocking key (label) — the semantic-dedup path of a training
    // pipeline. Exact within blocks; x06's LSH is the unblocked scale path.
    QueryDef("x13_embedding_neardup",
      """WITH n AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, label, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM n
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |       round(1e-9 + list_sum(list_transform(range(64),
        |               i -> a.v[i+1] * b.v[i+1])) / a.nrm / b.nrm, 6) AS cos_sim
        |FROM m a JOIN m b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20""".stripMargin) { (s, d) =>
      // Per-pair dot is the native codegen'd VecDot loop (one fused
      // multiply-accumulate over Tungsten ArrayData, left-to-right — the
      // exact addition sequence the oracle's sequential list_sum uses, so
      // results stay bit-identical). Replaces the earlier 64-flat-column
      // unpack workaround: same codegen quality, none of the schema blowup.
      val m = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      val a = m.select(col("label"), col("vec_id").as("vec_a"),
        col("nrm").as("na"), col("v").as("va"))
      val b = m.select(col("label"), col("vec_id").as("vec_b"),
        col("nrm").as("nb"), col("v").as("vb"))
      a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("label"),
          Num.roundOut(Similarity.dot(col("va"), col("vb")) / col("na") / col("nb"), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
        .limit(20)
    },

    // Exhaustive n-gram Jaccard within a blocking key (source, lang) — the
    // oracle-checked ground truth for the approximate methods above.
    QueryDef("x04_ngram_jaccard",
      """WITH s AS (
        |  SELECT doc_id, source, lang,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        |        FROM documents)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(1e-9 + len(list_intersect(a.tri, b.tri)) * 1.0 /
        |             (len(a.tri) + len(b.tri) - len(list_intersect(a.tri, b.tri))),
        |             6) AS jaccard
        |FROM s a JOIN s b ON a.source = b.source AND a.lang = b.lang
        |                 AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.tri, b.tri)) > 0
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      // Inverted-index similarity join (Vernica et al., SIGMOD'10 shape):
      // explode shingles, equi-join postings on (block, shingle), count
      // co-occurrences = |∩| per pair. Work is proportional to SHARED
      // shingles, not block-size², and the shuffle carries (block, shingle,
      // doc_id, set-size) — never a document body or full shingle array.
      // Both sides rank only pairs with a NON-EMPTY intersection (the
      // oracle filters on it explicitly): a near-duplicate report has no
      // use for jaccard-0 pairs, and the contract then holds at any SF
      // regardless of how many positive pairs the fixture contains.
      // Shingling is an interpreted higher-order expression (re-splits text
      // per lambda eval) and feeds both join sides plus an inferred explode
      // filter — read it from the persisted signature table: built once per
      // corpus at ingest, shared with x20, plain parquet scan when warm.
      val sets = shingleTable(s, d)
      val inv = sets.select(col("source"), col("lang"), col("doc_id"),
        size(col("tri")).as("sz"), explode(col("tri")).as("sh"))
      inv.as("a")
        .join(inv.as("b"),
          col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sz").as("sza"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("i"))
        .select(col("doc_a"), col("doc_b"),
          Num.roundOut(col("i").cast("double") / (col("sza") + col("szb") - col("i")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // Shingle CONTAINMENT — the asymmetric companion to x04's Jaccard:
    // C = |∩| / min(|A|,|B|) catches a short document quoted inside a
    // long one, which Jaccard's union denominator dilutes to ~0 (the
    // quote-detection / partial-decontamination signal; x19's overlap
    // uses the same idea against eval sets). Identical inverted-index
    // plan and exchange budget as x04 — only the final scalar changes —
    // and the same persisted shingle table feeds both.
    QueryDef("x52_containment",
      """WITH s AS (
        |  SELECT doc_id, source, lang,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        |        FROM documents)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) AS n_shared,
        |       round(1e-9 + len(list_intersect(a.tri, b.tri)) * 1.0 /
        |             least(len(a.tri), len(b.tri)), 6) AS containment
        |FROM s a JOIN s b ON a.source = b.source AND a.lang = b.lang
        |                 AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.tri, b.tri)) > 0
        |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      val sets = shingleTable(s, d)
      val inv = sets.select(col("source"), col("lang"), col("doc_id"),
        size(col("tri")).as("sz"), explode(col("tri")).as("sh"))
      inv.as("a")
        .join(inv.as("b"),
          col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sz").as("sza"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("i"))
        .select(col("doc_a"), col("doc_b"),
          col("i").cast("long").as("n_shared"),
          Num.roundOut(col("i").cast("double") / least(col("sza"), col("szb")), 6)
            .as("containment"))
        .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // Duplicate CLUSTERS: connected components over the union of exact-dup
    // edges (identical md5) and near-dup edges (trigram Jaccard ≥ 0.05,
    // x04's inverted-index shape) — the step that turns pairwise dedup
    // reports into "keep one doc per cluster" (transitivity matters: A≈B,
    // B≈C must collapse to ONE keeper even when A and C never pair).
    // Clustering is [[connectedComponents]] hash-min propagation; the
    // driver never sees the graph, only the converged/not-converged count.
    QueryDef("x20_dup_clusters",
      s"""WITH RECURSIVE $dupClusterCteSql
        |SELECT doc_id, cluster_id,
        |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |       doc_id = cluster_id AS is_keeper
        |FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
      dupClusterTable(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("label"))))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"), (col("node") === col("label")).as("is_keeper"))
        .orderBy(col("doc_id"))
    },

    // CANONICAL-SURVIVOR selection — the step a dedup pipeline runs AFTER
    // x20's clustering: inside each duplicate cluster, keep the highest-
    // QUALITY member (x08's composite score — one shared definition on
    // both engines — rounded 4 so the cross-engine ranking is exact;
    // doc_id breaks ties), drop the rest. "Lowest id wins" (x20's
    // is_keeper) is the cheap default; ranking by quality is what
    // production pipelines actually do, so the kept corpus retains the
    // best-written copy of every duplicated document.
    //
    // Scale: the ranking window partitions by cluster_id — cluster sizes
    // are bounded (they're near-clique dup groups), so no window grows
    // with the corpus; edges and components reuse the persisted shingle
    // table and the O(log diameter) hash-min loop.
    QueryDef("x59_cluster_canon",
      s"""WITH RECURSIVE $dupClusterCteSql, ${TextAnalysis.qualityMSql},
        |q AS (
        |  SELECT doc_id, ${TextAnalysis.qualitySql} AS quality
        |  FROM m WHERE n_tokens > 0
        |), j AS (
        |  SELECT lab.doc_id, lab.cluster_id, q.quality
        |  FROM lab JOIN q USING (doc_id)
        |), rk AS (
        |  SELECT doc_id, cluster_id, quality,
        |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |         row_number() OVER (PARTITION BY cluster_id
        |           ORDER BY quality DESC, doc_id) AS rn
        |  FROM j
        |)
        |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        |       quality, rn = 1 AS is_canonical
        |FROM rk ORDER BY doc_id""".stripMargin) { (s, d) =>
      val labels = dupClusterTable(s, d)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val q = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityCol.as("quality"),
          size(Text.tokens(col("text"))).as("n_tokens"))
        .filter(col("n_tokens") > 0).drop("n_tokens")
      val byCluster = Window.partitionBy(col("cluster_id"))
      labels.join(q, "doc_id")
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .withColumn("rn", row_number().over(
          byCluster.orderBy(col("quality").desc, col("doc_id"))))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("quality"), (col("rn") === 1).as("is_canonical"))
        .orderBy(col("doc_id"))
    },

    // Cross-document duplicate n-gram FRACTION (the RefinedWeb / Lee et
    // al. "deduplicating training data" signal, fixed-window form): what
    // share of a doc's distinct 5-grams also appear in at least one OTHER
    // document. Unlike x04 (pairwise similarity) this is a per-document
    // scalar used as a drop/keep filter, and unlike x21 (within-doc
    // repetition) it measures corpus-level boilerplate.
    //
    // Scale: the shuffle key is the window; at web scale you'd shuffle its
    // 64-bit hash instead of the string (8 bytes, collision-tolerant for a
    // fractional signal) — the string is kept here for exact oracle
    // parity. The per-window count side is one row per window; hot
    // boilerplate windows skew a reducer but the join output stays |w|.
    QueryDef("x28_dup_ngram_frac",
      """WITH w AS (
        |  SELECT doc_id, unnest(
        |    list_distinct(CASE WHEN len(ws) < 5 THEN []
        |      ELSE list_transform(range(len(ws) - 4),
        |           i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]
        |                || '_' || ws[i+4] || '_' || ws[i+5]) END)) AS win
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), sh AS (
        |  SELECT win, count(*) AS n_docs FROM w GROUP BY win
        |), per AS (
        |  SELECT w.doc_id, count(*) AS n_win,
        |         CAST(sum(CASE WHEN sh.n_docs >= 2 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_dup
        |  FROM w JOIN sh ON w.win = sh.win GROUP BY w.doc_id
        |)
        |SELECT d.doc_id, coalesce(per.n_win, 0) AS n_win,
        |       coalesce(per.n_dup, 0) AS n_dup,
        |       round(1e-9 + CASE WHEN coalesce(per.n_win, 0) = 0 THEN 0.0
        |                         ELSE per.n_dup * 1.0 / per.n_win END,
        |             6) AS dup_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // interpreted-HOF shingling feeds both the counter and the probe —
      // materialize once (x04's rationale; 5-grams, so not the shared
      // 3-gram signature table)
      val w = docs.select(col("doc_id"),
        explode(Text.shingles(col("text"), 5)).as("win")).localCheckpoint()
      val sh = w.groupBy(col("win")).agg(count(lit(1)).as("n_docs"))
      val per = w.join(sh, Seq("win"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_win"),
          sum(when(col("n_docs") >= 2, 1).otherwise(0)).as("n_dup"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_win"), lit(0L)).as("n_win"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          Num.roundOut(
            when(coalesce(col("n_win"), lit(0L)) === 0, 0.0)
              .otherwise(col("n_dup").cast("double") / col("n_win")), 6)
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // MinHash+LSH with a PORTABLE hash — the oracle-pinned twin of x02.
    // x02 runs the production signature (xxhash64, engine-specific, spec-
    // pinned); this variant swaps in the char-level rolling hash both
    // engines compute identically ([[Text.charHash]]), so the ENTIRE LSH
    // pipeline — shingle→hash→8-perm signature→4×2 band buckets→crowded-
    // bucket cap→candidate join→exact-Jaccard verify — is hash-checked
    // against DuckDB end to end, not just rows-counted. Same plan shape as
    // x02: signatures shuffle, documents don't; candidates come only from
    // bucket collisions (work ∝ colliding pairs, never all-pairs).
    QueryDef("x39_minhash_portable", x39OracleSql) { (s, d) =>
      val p = 1000000007L
      // Signature table persisted content-keyed, like x02's. The portable
      // char hash is an interpreted per-char HOF — orders of magnitude
      // slower than codegen'd xxhash64 — so it runs once per DISTINCT
      // shingle (4-10× fewer than instances at fixture scale, and the gap
      // only widens: boilerplate repeats, vocabulary saturates), joined
      // back by shingle. The 8 per-permutation mins are FLAT codegen'd
      // aggregates over the exploded rows (x02's shape), not a per-doc
      // lambda fold: h_k(x) = (x·(2k+1) + 40503k + 17) mod p, x·15 < 2^34
      // — no overflow either engine.
      val sig = pminhashTable(s, d)
      val pruned = pminhashPruned(sig)
      val pairs = pruned.as("a")
        .join(pruned.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = sig.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("tri").as("tri_a"))
      val sb = sig.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("tri").as("tri_b"))
      pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          Num.roundOut(size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)) / 8.0, 6)
            .as("est"),
          Num.roundOut(Text.jaccard(col("tri_a"), col("tri_b")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // INCREMENTAL dedup of an APPEND batch against the persisted corpus
    // state — the daily-ingest shape q86 plays for views, played for
    // dedup: "incoming" documents (content-hash bucket, ~10%) probe the
    // SAME persisted signature table x39 built; candidate pairs must
    // involve at least one incoming doc, so yesterday's base×base pairs
    // (already adjudicated) are never regenerated. Output keeps the
    // (incoming×base / incoming×incoming) provenance flags an ingest
    // pipeline routes on: new-vs-base → drop the new copy, new-vs-new →
    // keep one.
    //
    // Scale: the state IS the signature table (content-keyed, built once);
    // an incremental run hashes only the append batch (here the shared
    // table already covers it — the query's work is the probe), and the
    // bucket join touches only buckets CONTAINING an incoming doc. Work
    // ∝ |append| × collision rate, independent of corpus history — the
    // dedup analogue of q86's maintenance-∝-|Δ| contract.
    QueryDef("x61_incremental_dedup",
      s"""WITH ${pminhashCteSql()}, inc AS (
        |  SELECT doc_id, (${TextAnalysis.fingerprintSql} % 10 = 0) AS inc
        |  FROM documents
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.band = b.band AND a.bucket = b.bucket
        |                     AND a.doc_id < b.doc_id
        |)
        |SELECT p.doc_a, p.doc_b, ia.inc AS inc_a, ib.inc AS inc_b,
        |       round(1e-9 + list_sum(list_transform(range(8),
        |             i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1]
        |                       THEN 1 ELSE 0 END)) / 8.0, 6) AS est,
        |       round(1e-9 + len(list_intersect(sa.tri, sb.tri)) * 1.0 /
        |             (len(sa.tri) + len(sb.tri)
        |              - len(list_intersect(sa.tri, sb.tri))), 6) AS jaccard
        |FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
        |             JOIN sig sb ON p.doc_b = sb.doc_id
        |             JOIN inc ia ON p.doc_a = ia.doc_id
        |             JOIN inc ib ON p.doc_b = ib.doc_id
        |WHERE ia.inc OR ib.inc
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin) { (s, d) =>
      val sig = pminhashTable(s, d)
      val inc = TextAnalysis.fingerprintTable(s, d)
        .select(col("doc_id"), (col("fp") % 10 === 0).as("inc"))
      val pruned = pminhashPruned(sig)
        .join(inc, "doc_id") // carry the flag through the bucket join
      val pairs = pruned.as("a")
        .join(pruned.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id") &&
            (col("a.inc") || col("b.inc")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.inc").as("inc_a"), col("b.inc").as("inc_b"))
        .distinct()
      val sa = sig.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"), col("tri").as("tri_a"))
      val sb = sig.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"), col("tri").as("tri_b"))
      pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inc_a"), col("inc_b"),
          Num.roundOut(size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)) / 8.0, 6)
            .as("est"),
          Num.roundOut(Text.jaccard(col("tri_a"), col("tri_b")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // PREFIX-FILTERED set-similarity join (the PPJoin family: Chaudhuri
    // et al. ICDE'06, Xiao et al. WWW'08) at Jaccard ≥ 4/5 — the THIRD
    // candidate-generation strategy next to x02's LSH (probabilistic) and
    // x04's full inverted index (work ∝ every shared shingle): under a
    // global rarest-first token order, J(A,B) ≥ t forces the first
    // |x| − ⌈t·|x|⌉ + 1 tokens of EACH side to share a gram (with the
    // 5·min ≥ 4·max length filter), so only PREFIX grams are indexed —
    // the frequent grams that dominate x04's postings never enter the
    // join. The threshold is evaluated in INTEGERS (9·|∩| ≥ 4·(|A|+|B|)
    // ⟺ J ≥ 4/5): no float boundary, bit-identical across engines. t=0.8
    // is the near-dup operating point (the fixture's true pairs all sit
    // at J ≥ 0.9); it also keeps the prefix SHORT (~0.2·|x|+1) — on this
    // synthetic low-vocab corpus a t=0.5 prefix indexed half of every
    // document and candidate pairs exploded 25x for zero extra output.
    //
    // Scale: the posting list of a stop-gram ("the_of_and") is the square
    // term in any inverted-index join; prefix filtering drops exactly
    // those (a frequent gram is last in the canonical order, so it leaves
    // every prefix first as sets grow). Candidate work ∝ shared RARE
    // grams; the verify join ships full shingle arrays only for surviving
    // candidate pairs (PrefixJoinSpec pins the candidate count strictly
    // under x04's co-occurrence count on the same fixture). The df
    // ranking itself is one vocabulary-sized aggregate, broadcast-free.
    QueryDef("x56_prefix_join",
      """WITH s AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), p AS (
        |  SELECT doc_id, tri, len(tri) AS sz FROM s WHERE len(tri) > 0
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(1e-9 + len(list_intersect(a.tri, b.tri)) * 1.0 /
        |             (a.sz + b.sz - len(list_intersect(a.tri, b.tri))), 6)
        |         AS jaccard
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE 9 * len(list_intersect(a.tri, b.tri)) >= 4 * (a.sz + b.sz)
        |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin) { (s, d) =>
      val sets = shingleTable(s, d)
        .select(col("doc_id"), col("tri"), size(col("tri")).as("sz"))
        .filter(col("sz") > 0)
      val grams = sets.select(col("doc_id"), col("sz"),
        explode(col("tri")).as("g"))
      // canonical order: rarest-first by (document frequency, gram)
      val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      // materialized once: the self-join would otherwise rebuild the df
      // aggregate + ranking window PER SIDE (plan-audited) — at scale this
      // is the prefix-index write every PPJoin implementation does
      // prefix length |x| - ceil(t*|x|) + 1 at t = 4/5, computed in
      // INTEGERS ((4*sz+4) div 5 = ceil(4sz/5)): float 0.8*sz rounds UP on
      // some sizes, silently shortening the prefix below the sound bound
      // persisted content-keyed: this IS the prefix-index write every
      // PPJoin implementation does at ingest (was localCheckpoint — warm
      // runs re-ran the df aggregate + per-doc ranking window each time)
      val prefix = DerivedTable(s, d, Artifacts.ppjprefix) {
        grams.join(df, "g")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
          .filter(col("rn") <=
            col("sz") - expr("(4 * sz + 4) div 5") + 1)
          .select(col("doc_id"), col("sz"), col("g"))
      }
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
            lit(5) * least(col("a.sz"), col("b.sz")) >=
              lit(4) * greatest(col("a.sz"), col("b.sz")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val ta = sets.select(col("doc_id").as("doc_a"),
        col("tri").as("tri_a"), col("sz").as("sza"))
      val tb = sets.select(col("doc_id").as("doc_b"),
        col("tri").as("tri_b"), col("sz").as("szb"))
      cand.join(ta, "doc_a").join(tb, "doc_b")
        .withColumn("i", size(array_intersect(col("tri_a"), col("tri_b"))))
        .filter(lit(9) * col("i") >= lit(4) * (col("sza") + col("szb")))
        .select(col("doc_a"), col("doc_b"),
          Num.roundOut(col("i").cast("double")
            / (col("sza") + col("szb") - col("i")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
    },

    // CONTRASTIVE TRIPLET MINING from the dedup index — the curation step
    // that turns the near-dup machinery into retriever training data
    // (DPR/SimCSE-style hard negatives): for every anchor doc, a POSITIVE
    // (its most-similar bucket-mate at trigram Jaccard ≥ 1/2) and up to
    // three HARD NEGATIVES (bucket-mates strictly below 1/2 — lexically
    // close enough to collide in x39's LSH, so they are the negatives a
    // trained model actually confuses; random negatives are free but
    // worthless). Candidate pairs are made undirected (both orientations)
    // so every member of a dup cluster can anchor. Thresholds compare in
    // INTEGERS (2·|∩| ≥ |A|+|B|−|∩| ⟺ J ≥ 1/2); ranking uses the exact
    // rational Jaccard rounded 6 with doc-id tiebreaks — every triplet is
    // relationally recomputed by DuckDB.
    //
    // Scale: mining reads the SAME persisted signature table as x39/x61 —
    // no new corpus pass; candidates only from band-bucket collisions
    // under the crowded-bucket cap, and the per-anchor top-k windows run
    // over collision rows only. This is the "dedup index doubles as the
    // mining index" contract production curation pipelines rely on.
    QueryDef("x68_triplet_mining",
      s"""WITH ${pminhashCteSql()}, pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pr a JOIN pr b ON a.band = b.band AND a.bucket = b.bucket
        |                     AND a.doc_id < b.doc_id
        |), und AS (
        |  SELECT doc_a AS anchor, doc_b AS cand FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS anchor, doc_a AS cand FROM pairs
        |), jac AS (
        |  SELECT u.anchor, u.cand,
        |         len(list_intersect(sa.tri, sb.tri)) AS i,
        |         len(sa.tri) AS na, len(sb.tri) AS nb,
        |         round(1e-9 + len(list_intersect(sa.tri, sb.tri)) * 1.0 /
        |               (len(sa.tri) + len(sb.tri)
        |                - len(list_intersect(sa.tri, sb.tri))), 6) AS j
        |  FROM und u JOIN sig sa ON u.anchor = sa.doc_id
        |             JOIN sig sb ON u.cand = sb.doc_id
        |), pos AS (
        |  SELECT anchor, cand AS positive, j AS j_pos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY anchor
        |              ORDER BY j DESC, cand) AS rn
        |    FROM jac WHERE 2 * i >= na + nb - i)
        |  WHERE rn = 1
        |), neg AS (
        |  SELECT anchor, cand AS negative, j AS j_neg,
        |         CAST(rn AS INT) AS rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY anchor
        |              ORDER BY j DESC, cand) AS rn
        |    FROM jac WHERE 2 * i < na + nb - i)
        |  WHERE rn <= 3
        |)
        |SELECT p.anchor, p.positive, n.negative, n.rank, p.j_pos, n.j_neg
        |FROM pos p JOIN neg n ON p.anchor = n.anchor
        |ORDER BY p.anchor, n.rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sig = pminhashTable(s, d)
      val pruned = pminhashPruned(sig)
      val pairs = pruned.as("a")
        .join(pruned.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val und = pairs.select(col("doc_a").as("anchor"), col("doc_b").as("cand"))
        .unionAll(pairs.select(col("doc_b").as("anchor"), col("doc_a").as("cand")))
      val sa = sig.select(col("doc_id").as("anchor"), col("tri").as("tri_a"))
      val sb = sig.select(col("doc_id").as("cand"), col("tri").as("tri_b"))
      val jac = und.join(sa, "anchor").join(sb, "cand")
        .withColumn("i", size(array_intersect(col("tri_a"), col("tri_b"))))
        .withColumn("na", size(col("tri_a")))
        .withColumn("nb", size(col("tri_b")))
        .withColumn("j", Num.roundOut(col("i").cast("double")
          / (col("na") + col("nb") - col("i")), 6))
        .select(col("anchor"), col("cand"), col("i"), col("na"), col("nb"),
          col("j"))
      val w = Window.partitionBy(col("anchor"))
        .orderBy(col("j").desc, col("cand"))
      val pos = jac.filter(lit(2) * col("i") >= col("na") + col("nb") - col("i"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("anchor"), col("cand").as("positive"), col("j").as("j_pos"))
      val neg = jac.filter(lit(2) * col("i") < col("na") + col("nb") - col("i"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("anchor"), col("cand").as("negative"), col("j").as("j_neg"),
          col("rn").cast("int").as("rank"))
      pos.join(neg, "anchor")
        .select(col("anchor"), col("positive"), col("negative"), col("rank"),
          col("j_pos"), col("j_neg"))
        .orderBy(col("anchor"), col("rank"))
    },

    // SimHash with a PORTABLE hash — the oracle-pinned twin of x03 (the
    // x02→x39 move applied to the OTHER near-dup sketch). x03 runs the
    // production 64-bit signature (xxhash64, engine-specific, spec-
    // pinned); this variant builds a 32-bit SimHash from primitives both
    // engines spell natively: per distinct TOKEN, the char-level rolling
    // hash ([[Text.charHash]]) seeds x62's published integer mixer
    // (xor/shift/multiply, avalanche in the low bit) once per bit index —
    // NOT an affine family (a·h+b mod p) whose members are correlated
    // shifts of each other (x43's measured lesson). Every per-(token,bit)
    // ±1 vote, per-doc bit, 8-bit band chunk, candidate pair, and hamming
    // distance is relationally recomputed by DuckDB and hash-checked.
    //
    // Scale: identical shape to x03 — the vote table is vocab-sized (32
    // rows per DISTINCT token, never per occurrence), doc bits come from
    // one (doc, bit) partial agg, candidates only from 8-bit band-chunk
    // collisions with the 2..100 crowded-bucket cap. The bit table is
    // persisted content-keyed: the signature build is the ingest job.
    QueryDef("x63_simhash_portable",
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(list_distinct(string_split(text, ' ')),
        |                w -> len(w) > 0)) AS tok
        |  FROM documents
        |), voc AS (
        |  SELECT DISTINCT tok FROM tok
        |), vh AS (
        |  SELECT tok,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(len(tok)),
        |             i -> CAST(unicode(tok[i+1]) AS BIGINT))),
        |           (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM voc
        |), tb AS (
        |  SELECT tok, CAST(i AS INT) AS i,
        |         (h + (i + 1) * 2654435761) & 4294967295 AS a
        |  FROM vh, (SELECT unnest(range(32)) AS i)
        |), t1 AS (
        |  SELECT tok, i, (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM tb
        |), t2 AS (
        |  SELECT tok, i, (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM t1
        |), tv AS (
        |  SELECT tok, i,
        |         CASE WHEN xor(a >> 16, a) & 1 = 1 THEN 1 ELSE -1 END AS v
        |  FROM t2
        |), bits AS (
        |  SELECT doc_id, i, CASE WHEN sv > 0 THEN 1 ELSE 0 END AS b
        |  FROM (SELECT t.doc_id, tv.i, sum(tv.v) AS sv
        |        FROM tok t JOIN tv ON t.tok = tv.tok GROUP BY 1, 2)
        |), fp AS (
        |  SELECT doc_id, CAST(sum(CAST(b AS BIGINT) << i) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1
        |), ch AS (
        |  -- band chunks are just byte slices of the fingerprint; hamming
        |  -- below is popcount-of-xor — the integer forms of what the bit
        |  -- table spells out row-wise (bit_count/xor exist on both engines)
        |  SELECT doc_id, CAST(band AS INT) AS band,
        |         CAST((simhash >> (CAST(band AS INT) * 8)) & 255 AS INT) AS chunk,
        |         simhash
        |  FROM fp, (SELECT unnest(range(4)) AS band)
        |), keepb AS (
        |  SELECT band, chunk FROM ch
        |  GROUP BY band, chunk HAVING count(*) BETWEEN 2 AND 100
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.simhash AS fp_a, b.simhash AS fp_b
        |  FROM ch a
        |  JOIN keepb k ON a.band = k.band AND a.chunk = k.chunk
        |  JOIN ch b ON a.band = b.band AND a.chunk = b.chunk
        |            AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS dist,
        |       bit_count(xor(fp_a, fp_b)) <= 3 AS neardup, fp_a, fp_b
        |FROM cand
        |ORDER BY dist, doc_a, doc_b LIMIT 100""".stripMargin) { (s, d) =>
      val bits = psimhashBits(s, d)
      val fpT = bits.groupBy(col("doc_id"))
        .agg(sum(expr("shiftleft(CAST(b AS BIGINT), i)")).as("simhash"))
      val ch = fpT.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("chunk",
          expr("CAST(shiftright(simhash, band * 8) & 255 AS INT)"))
      val keepb = ch.groupBy(col("band"), col("chunk"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz").between(2, 100))
        .select(col("band"), col("chunk"))
      val chk = ch.join(keepb, Seq("band", "chunk"))
      val cand = chk.as("a")
        .join(chk.as("b"),
          col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
        .distinct()
      cand
        .withColumn("dist", expr("CAST(bit_count(fp_a ^ fp_b) AS INT)"))
        .select(col("doc_a"), col("doc_b"), col("dist"),
          (col("dist") <= 3).as("neardup"), col("fp_a"), col("fp_b"))
        .orderBy(col("dist"), col("doc_a"), col("doc_b"))
        .limit(100)
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    // MOSS algorithm): hash every word trigram IN POSITION ORDER, slide a
    // w=4 window over the hash sequence, keep each window's minimum — the
    // distinct selected hashes are the doc's fingerprint set. Guarantee:
    // any shared run of ≥ w+n-1 = 6 tokens surfaces at least one shared
    // fingerprint, while only ~2/(w+1) of the grams are kept, so the
    // inverted index (the only shuffle) carries a third of x04's postings
    // volume. Candidate pairs come from fingerprint co-occurrence with the
    // standard crowded-key cap [2,100]; overlap = shared / min(|A|,|B|)
    // (containment-style, robust to length mismatch). Fingerprint
    // EXTRACTION is one codegen'd per-row pass — window minima are
    // `array_min(slice(...))` inside a let-bound lambda, no window
    // function, no shuffle — the shape that holds at 100 TB.
    QueryDef("x75_winnowing",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id, list_transform(range(len(ws) - 2),
        |         i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) AS grams
        |  FROM t WHERE len(ws) >= 3
        |), h AS (
        |  SELECT doc_id, list_transform(grams, sh ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(len(sh)),
        |        i -> CAST(unicode(sh[i+1]) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
        |  FROM g
        |), f AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |      range(greatest(len(hs) - 3, 1)),
        |      j -> list_min(hs[j+1:j+4]))) AS fps
        |  FROM h
        |), fp AS (
        |  SELECT doc_id, unnest(fps) AS fp FROM f
        |), nf AS (
        |  SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1
        |), keep AS (
        |  SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND 100
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM fp a JOIN keep USING (fp)
        |  JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_a, p.doc_b, CAST(p.shared AS INT) AS shared,
        |       round(1e-9 + p.shared * 1.0 / least(na.nfp, nb.nfp), 6) AS overlap
        |FROM pr p JOIN nf na ON na.doc_id = p.doc_a
        |          JOIN nf nb ON nb.doc_id = p.doc_b
        |ORDER BY overlap DESC, doc_a, doc_b LIMIT 50""".stripMargin) { (s, d) =>
      val fp = winnowTable(s, d)
      val nf = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val keep = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 100)).select(col("fp"))
      val kept = fp.join(keep, "fp")
      val pr = kept.as("a")
        .join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
      pr.join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("nfa")), "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nfb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("shared").cast("int").as("shared"),
          Num.roundOut(col("shared") * 1.0 / least(col("nfa"), col("nfb")), 6)
            .as("overlap"))
        .orderBy(col("overlap").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // LSH BAND-CONFIGURATION CALIBRATION — the dedup-side twin of x83's
    // IVF nprobe sweep: the SAME persisted 8-perm signature budget split
    // three ways ((bands, rows) ∈ {(8,1), (4,2), (2,4)}), each config's
    // candidate set scored for precision AND recall against an EXACT
    // Jaccard ≥ 1/2 ground truth. This is the measurement a pipeline runs
    // before committing a banding scheme to a 100 TB corpus, because the
    // (b, r) choice is irreversible once signatures are banded at ingest:
    // more bands = recall (capture P at J is 1 − (1 − J^r)^b, surfaced
    // per config as the theory column the measured recall brackets),
    // fewer = precision (r rows per band ⇒ per-band collision P = J^r).
    // The threshold test is INTEGER (3·|∩| ≥ |A|+|B| ⟺ J ≥ 1/2) — no
    // float boundary either engine. Band buckets fold each signature
    // slice mod 1e9+7 (exact longs: acc < 2^30, ·1000003 < 2^50); the
    // crowded-bucket cap (2..100) is x39's production guardrail, applied
    // identically per config.
    //
    // Scale: the WHOLE sweep — candidates and ground truth — runs on a
    // BOUNDED deterministic content-keyed sample (fp % m = 0 with m the
    // smallest power of two capping the sample near [[SampleCap]] docs —
    // r14; the r13 half-sample still grew linearly and made the sweep's
    // exact truth arm superlinear end-to-end), because calibration is a
    // measurement, not a production pass: at 100 TB you calibrate on a
    // fixed-size slice and band the corpus once (x83's sampled query
    // set applied to banding). The ground-truth arm
    // is the x04 inverted-index join (work ∝ shared grams within the
    // sample); each config's candidate generation is the same banded
    // equi-join the production pipeline uses, work ∝ collisions. Nothing
    // in the sweep is all-pairs; the three configs share one signature
    // scan.
    QueryDef("x91_lsh_calibration", x91OracleSql) { (s, d) =>
      // bounded content-keyed sample (fp % m, m from the shared power-of-
      // two ladder) — the sweep's cost no longer grows with the corpus
      val samp = calibSample(s, d)
      val sig = pminhashTable(s, d)
        .join(samp, "doc_id")
        .select(col("doc_id"), col("tri"), col("sig"))
        .localCheckpoint() // truth arm + three banding views all read it
      val ex = sig.select(col("doc_id"), explode(col("tri")).as("g"))
      // Count-based exact Jaccard (the x04 shape): |∩| falls out of the
      // postings co-occurrence count — the 300-element tri arrays never
      // cross the pair join (a first cut shipped them to 1.1M candidate
      // pairs for array_intersect and spent 10 s where this spends <1).
      val sz = sig.select(col("doc_id"), size(col("tri")).as("sz"))
      val pc = ex.as("a")
        .join(ex.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val truth = pc
        .join(broadcast(sz.select(col("doc_id").as("doc_a"), col("sz").as("sza"))),
          "doc_a")
        .join(broadcast(sz.select(col("doc_id").as("doc_b"), col("sz").as("szb"))),
          "doc_b")
        .filter(col("inter") * 3 >= col("sza") + col("szb"))
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint() // three configs probe it; score it once
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      // All three configs ride ONE chain: union the banded views under a
      // (bands) tag, then a single bucket-size filter, a single pair
      // join, and a single per-config aggregate — 3 separate per-config
      // job chains cost ~2 s of scheduler overhead at fixture scale for
      // identical results.
      val banded = x91Configs.map { case (b, r, _) =>
        sig
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(b - 1))).as("band"), col("sig"))
          .select(lit(b).as("bands"), col("doc_id"), col("band"),
            aggregate(
              slice(col("sig"), col("band") * r + 1, lit(r)),
              lit(0L),
              (acc, x) => (acc * 1000003L + x) % 1000000007L).as("bucket"))
      }.reduce(_.union(_))
      val keep = banded.groupBy(col("bands"), col("band"), col("bucket"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz").between(2, 100))
        .select(col("bands"), col("band"), col("bucket"))
      val pruned = banded.join(keep, Seq("bands", "band", "bucket"))
      val pairs = pruned.as("a")
        .join(pruned.as("b"),
          col("a.bands") === col("b.bands") &&
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.bands").as("bands"),
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint() // n_cand and n_hit both read it
      val candCnt = pairs.groupBy(col("bands")).agg(count(lit(1)).as("n_cand"))
      val hitCnt = pairs.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        .groupBy(col("bands")).agg(count(lit(1)).as("n_hit"))
      import s.implicits._
      val confDf = x91Configs
        .map { case (b, r, p) => (b, r, p.toDouble) }
        .toDF("bands", "rows_per_band", "p_capture_50")
      confDf
        .join(candCnt, Seq("bands"), "left")
        .join(hitCnt, Seq("bands"), "left")
        .na.fill(0L, Seq("n_cand", "n_hit"))
        .crossJoin(broadcast(nTruth))
        .select(col("bands"), col("rows_per_band"), col("n_cand"),
          col("n_hit"), col("n_truth"),
          when(col("n_cand") === 0, 0.0)
            .otherwise(Num.roundOut(col("n_hit") * 1.0 / col("n_cand"), 4))
            .as("prec"),
          when(col("n_truth") === 0, 0.0)
            .otherwise(Num.roundOut(col("n_hit") * 1.0 / col("n_truth"), 4))
            .as("rec"),
          col("p_capture_50"))
        .orderBy(col("bands").desc)
    },

    // DUPLICATE-CLUSTER SIZE HISTOGRAM — the dedup economics report:
    // how duplicate mass distributes across cluster sizes (a corpus
    // where dup mass sits in a few huge boilerplate clusters dedups
    // cheaply and catastrophically-skewed; one where it spreads across
    // millions of pairs needs the near-dup machinery). Per exact-dup
    // cluster (x01's md5 key): size; per size: cluster count, docs,
    // char mass, docs removable under keep-one (size − 1 each), and the
    // removable share of the whole corpus — the "what does dedup buy"
    // number a curation run publishes before committing (x89's
    // per-source view, re-cut by cluster size).
    //
    // Scale: digests-only shuffle (16-byte keys, never bodies) into a
    // cluster-sized partial agg, then a SECOND partial agg over cluster
    // rows keyed by size — both map-side combining; the corpus total is
    // a 1-row broadcast. Cluster count ≤ docs, size histogram is O(max
    // cluster size) rows at any scale.
    QueryDef("x96_dup_size_histogram", Dedup.x96OracleSql) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("th"))
      val g = h.groupBy(col("th"))
        .agg(count(lit(1)).as("csize"), sum(col("n_chars")).as("mass"))
      val t = h.agg(count(lit(1)).as("n_total"))
      g.groupBy(col("csize"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("mass")).as("chars_total"))
        .crossJoin(broadcast(t))
        .select(col("csize").cast("int").as("cluster_size"),
          col("n_clusters"),
          (col("n_clusters") * col("csize")).as("n_docs"),
          col("chars_total"),
          (col("n_clusters") * (col("csize") - 1)).as("docs_removable"),
          Num.roundOut(
            col("n_clusters") * (col("csize") - 1) * 1.0 / col("n_total"), 4)
            .as("removable_frac"))
        .orderBy(col("cluster_size"))
    },

    // SORTED-NEIGHBORHOOD near-dup blocking (Hernández & Stolfo
    // SIGMOD'95) — the third candidate-generation family next to LSH
    // (x39) and prefix filtering (x56): sort the corpus by a
    // content-derived key (the three lexicographically-smallest distinct
    // tokens — stable under word reordering, the failure mode that
    // defeats raw-prefix keys), then compare only documents within a
    // sliding window of 4 ranks. Candidates get the exact token-set
    // Jaccard; top-20 reported with their rank distance.
    //
    // Scale: the global rank is NOT a single-partition sort — rows
    // partition by the key's first character (an order-preserving range
    // split), rank locally per partition, and add broadcast per-bucket
    // offsets: the two-pass distributed rank, each pass parallel. The
    // window join is an equi-join on block id (rank div 4, left side
    // exploded to block and block+1), so only O(w·n) candidate rows ever
    // shuffle — no rank-range theta join, no quadratic bucket.
    QueryDef("x118_snm_dedup",
      """WITH t AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(list_filter(string_split(text, ' '),
        |                                             w -> len(w) > 0))) AS toks
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, toks,
        |         coalesce(toks[1], '') || ' ' || coalesce(toks[2], '')
        |           || ' ' || coalesce(toks[3], '') AS skey
        |  FROM t
        |), r AS (
        |  SELECT doc_id, toks, skey,
        |         CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT)
        |           AS rnk
        |  FROM k
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(b.rnk - a.rnk AS INT) AS dist,
        |       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
        |         AS n_shared,
        |       round(1e-9 + len(list_intersect(a.toks, b.toks)) * 1.0 /
        |             (len(a.toks) + len(b.toks)
        |              - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4
        |WHERE len(list_intersect(a.toks, b.toks)) > 0
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          array_sort(array_distinct(
            filter(Text.tokens(col("text")), w => length(w) > 0))).as("toks"))
        .withColumn("skey", concat(
          coalesce(get(col("toks"), lit(0)), lit("")), lit(" "),
          coalesce(get(col("toks"), lit(1)), lit("")), lit(" "),
          coalesce(get(col("toks"), lit(2)), lit(""))))
      // the two-pass distributed rank (first landed here inline; the r9
      // shared definition is Ranks.twoPassRank) over order-preserving
      // first-character buckets of the sort key
      val r = Ranks.twoPassRank(t, Nil, substring(col("skey"), 1, 1),
          Seq(col("skey"), col("doc_id")), rnName = "rnk")
        .select(col("doc_id"), col("toks"), col("rnk"))
        .localCheckpoint() // both window-join sides read the ranked table
      val a = r.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
          col("rnk").as("rnk_a"),
          explode(array(expr("(rnk - 1) div 4"),
            expr("(rnk - 1) div 4 + 1"))).as("blk"))
      val b = r.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("rnk").as("rnk_b"), expr("(rnk - 1) div 4").as("blk"))
      a.join(b, Seq("blk"))
        .filter(col("rnk_b") > col("rnk_a") && col("rnk_b") <= col("rnk_a") + 4)
        .withColumn("i", size(array_intersect(col("toks_a"), col("toks_b"))))
        .filter(col("i") > 0)
        .select(col("doc_a"), col("doc_b"),
          (col("rnk_b") - col("rnk_a")).cast("int").as("dist"),
          col("i").cast("long").as("n_shared"),
          Num.roundOut(col("i") * 1.0 /
            (size(col("toks_a")) + size(col("toks_b")) - col("i")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // CV-FOLD LEAKAGE AUDIT — the split-integrity check a dedup-aware
    // training pipeline runs AFTER assigning folds: if near-duplicate
    // pairs straddle fold boundaries, held-out evaluation leaks (the
    // x19 contamination failure, internal to the corpus). Folds come
    // from the content fingerprint (fp mod 5 — the x17 split key, so
    // exact copies always co-fold by construction); candidate near-dup
    // pairs are x04's blocked shingle-overlap set; the report is the
    // 5×5 fold-pair matrix with a MICRO-averaged Jaccard (Σ|∩| / Σ|∪| —
    // two exact integer sums, one division, no float accumulation to
    // drift cross-engine). Off-diagonal mass = leakage to fix by
    // re-assigning whole dup-clusters (x20) to one fold.
    //
    // Scale: reuses the persisted shingle + fingerprint tables; the
    // pair stage is x04's inverted-index join (work ∝ shared shingles),
    // fold lookup is a doc-keyed join, and the matrix is 15 rows at any
    // corpus size.
    QueryDef("x122_fold_leakage",
      s"""WITH s AS (
        |  SELECT doc_id, source, lang,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        |        FROM documents)
        |), fp AS (
        |  SELECT doc_id, ${TextAnalysis.fingerprintSql} % 5 AS fold
        |  FROM documents
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |         len(list_intersect(a.tri, b.tri)) AS i,
        |         len(a.tri) + len(b.tri) - len(list_intersect(a.tri, b.tri))
        |           AS u
        |  FROM s a JOIN s b ON a.source = b.source AND a.lang = b.lang
        |                   AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.tri, b.tri)) > 0
        |), pf AS (
        |  SELECT least(fa.fold, fb.fold) AS fold_lo,
        |         greatest(fa.fold, fb.fold) AS fold_hi, i, u
        |  FROM p JOIN fp fa ON fa.doc_id = p.da
        |         JOIN fp fb ON fb.doc_id = p.db
        |)
        |SELECT CAST(fold_lo AS BIGINT) AS fold_lo,
        |       CAST(fold_hi AS BIGINT) AS fold_hi,
        |       count(*) AS n_pairs,
        |       CAST(sum(i) AS BIGINT) AS sum_shared,
        |       round(1e-9 + sum(i) * 1.0 / sum(u), 6) AS jaccard_micro,
        |       fold_lo <> fold_hi AS is_leak
        |FROM pf GROUP BY fold_lo, fold_hi
        |ORDER BY fold_lo, fold_hi""".stripMargin) { (s, d) =>
      val inv = shingleTable(s, d)
        .select(col("source"), col("lang"), col("doc_id"),
          size(col("tri")).as("sz"), explode(col("tri")).as("sh"))
      val pairs = inv.as("a")
        .join(inv.as("b"),
          col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.sz").as("sza"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("i"))
        .select(col("da"), col("db"), col("i"),
          (col("sza") + col("szb") - col("i")).as("u"))
      val folds = TextAnalysis.fingerprintTable(s, d)
        .select(col("doc_id"), (col("fp") % 5).as("fold"))
      pairs
        .join(folds.select(col("doc_id").as("da"), col("fold").as("fa")), "da")
        .join(folds.select(col("doc_id").as("db"), col("fold").as("fb")), "db")
        .groupBy(least(col("fa"), col("fb")).as("fold_lo"),
          greatest(col("fa"), col("fb")).as("fold_hi"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("i")).as("sum_shared"),
          sum(col("u")).as("sum_u"))
        .select(col("fold_lo"), col("fold_hi"), col("n_pairs"),
          col("sum_shared"),
          Num.roundOut(col("sum_shared") * 1.0 / col("sum_u"), 6)
            .as("jaccard_micro"),
          (col("fold_lo") =!= col("fold_hi")).as("is_leak"))
        .orderBy(col("fold_lo"), col("fold_hi"))
    },

    // CROSS-SOURCE COPY-FLOW MATRIX — x52's containment, lifted to the
    // provenance question a corpus curator actually asks: which sources
    // copy from which? Pairs block by LANGUAGE ONLY (same-source
    // blocking would hide exactly the cross-source copying this
    // measures); a pair flags when containment ≥ 0.5 as the integer
    // predicate 2·|∩| ≥ min(|A|,|B|), and direction points from the
    // SMALLER shingle set (the quoted text) to the larger (the quoting
    // one), ties to the smaller doc_id. The per-(src_from, src_to)
    // rollup with an is_internal flag separates in-source duplication
    // (x01/x20's territory) from genuine cross-source flow — the signal
    // that decides which source is derivative and should be
    // down-weighted in x81's mix.
    //
    // Scale: the same inverted-index postings join as x04/x52, keyed by
    // (lang, shingle) — work ∝ shared shingles across the language
    // slice, never a source-pair cross product; the matrix is at most
    // sources²-sized.
    QueryDef("x135_copy_flow",
      """WITH s AS (
        |  SELECT doc_id, source, lang,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        |        FROM documents)
        |), p AS (
        |  SELECT a.doc_id AS da, a.source AS sa, len(a.tri) AS za,
        |         b.doc_id AS db, b.source AS sb, len(b.tri) AS zb,
        |         len(list_intersect(a.tri, b.tri)) AS i
        |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE 2 * len(list_intersect(a.tri, b.tri))
        |          >= least(len(a.tri), len(b.tri))
        |    AND len(list_intersect(a.tri, b.tri)) > 0
        |), dirn AS (
        |  SELECT CASE WHEN za < zb OR (za = zb AND da < db)
        |              THEN sa ELSE sb END AS src_from,
        |         CASE WHEN za < zb OR (za = zb AND da < db)
        |              THEN sb ELSE sa END AS src_to,
        |         i
        |  FROM p
        |)
        |SELECT src_from, src_to, count(*) AS n_pairs,
        |       CAST(sum(i) AS BIGINT) AS sum_shared,
        |       src_from = src_to AS is_internal
        |FROM dirn GROUP BY src_from, src_to
        |ORDER BY src_from, src_to""".stripMargin) { (s, d) =>
      val inv = shingleTable(s, d)
        .select(col("lang"), col("source"), col("doc_id"),
          size(col("tri")).as("sz"), explode(col("tri")).as("sh"))
      val pairs = inv.as("a")
        .join(inv.as("b"),
          col("a.lang") === col("b.lang") && col("a.sh") === col("b.sh") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("a.source").as("sa"),
          col("a.sz").as("za"), col("b.doc_id").as("db"),
          col("b.source").as("sb"), col("b.sz").as("zb"))
        .agg(count(lit(1)).as("i"))
        .filter(lit(2) * col("i") >= least(col("za"), col("zb")))
      val fromA = col("za") < col("zb") ||
        (col("za") === col("zb") && col("da") < col("db"))
      pairs
        .select(when(fromA, col("sa")).otherwise(col("sb")).as("src_from"),
          when(fromA, col("sb")).otherwise(col("sa")).as("src_to"),
          col("i"))
        .groupBy(col("src_from"), col("src_to"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("i")).as("sum_shared"))
        .select(col("src_from"), col("src_to"), col("n_pairs"),
          col("sum_shared"),
          (col("src_from") === col("src_to")).as("is_internal"))
        .orderBy(col("src_from"), col("src_to"))
    },

    // HEAPS'-LAW VOCABULARY GROWTH — the corpus-scaling LAW x84's
    // per-doc novelty curve doesn't fit: V(N) ≈ K·N^β estimated by OLS
    // on (ln N, ln V) at power-of-two doc-prefix checkpoints (doc_id as
    // ingest order, the x84 convention). β tells curation how much NEW
    // vocabulary another 10× of this corpus buys (β≈0.5–0.8 for natural
    // text; β→0 flags a corpus gone repetitive); the fitted curve also
    // projects tokenizer-vocab coverage at target corpus size. The
    // "vocabulary" here is TRIGRAM TYPES (x84's unit): the synthetic
    // fixture's word vocabulary is ~31 types and saturates inside the
    // first checkpoint (a constant y ⇒ zero OLS variance), while gram
    // types keep growing — and n-gram-type growth is the form an LM
    // pipeline actually sizes (context-coverage, not word lists).
    // Degenerate inputs stay DESIGNED outputs, not errors: beta/lnk/r2
    // go NULL via the same guarded CASE on both engines when the fit
    // variance vanishes (x142's guarded-division pattern).
    //
    // Exactness: checkpoint token totals and first-occurrence vocab
    // counts are exact longs; ln is x80's piecewise mantissa ln6, OLS
    // moments are exact long sums, and the only FP ops are the three
    // final divisions (x80's discipline). Bound: ≤ 55 checkpoints
    // (pow2 table), ln6 ≤ 4.4·10⁷ for counts ≤ 2⁶², so
    // r·Σxy ≤ 55²·(4.4·10⁷)² ≈ 6·10¹⁸ stays in a long at ANY corpus
    // size — checkpoint count is log-bounded by construction.
    //
    // Scale: per-doc gram counts are scan-side column math; first
    // occurrence is x84's gram-keyed min over the PERSISTED shingle
    // table (mergeable partial state, only grams shuffle — built once
    // per corpus content); each fact row then joins the
    // BROADCAST ≤55-row checkpoint table (work ∝ corpus·log corpus,
    // map-side collapsed to ≤55 partials). The regression itself runs
    // on ≤55 rows.
    QueryDef("x158_heaps_law",
      s"""WITH sw AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), dc AS (
        |  SELECT doc_id, CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS nt
        |  FROM sw
        |), gg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END)
        |           AS g
        |  FROM sw
        |), fo AS (
        |  SELECT g, min(doc_id) AS first_doc FROM gg GROUP BY 1
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |), p2(k, v) AS (
        |  VALUES ${TextAnalysis.pow2ValuesSql}
        |), chk AS (
        |  SELECT v AS p FROM p2 CROSS JOIN nd WHERE v >= 8 AND v <= n_docs
        |), ntc AS (
        |  SELECT chk.p, CAST(sum(dc.nt) AS BIGINT) AS n_tokens
        |  FROM chk JOIN dc ON dc.doc_id < chk.p GROUP BY 1
        |), vvc AS (
        |  SELECT chk.p, CAST(count(*) AS BIGINT) AS vocab
        |  FROM chk JOIN fo ON fo.first_doc < chk.p GROUP BY 1
        |), pts AS (
        |  SELECT ntc.p, n_tokens, vocab
        |  FROM ntc JOIN vvc ON vvc.p = ntc.p
        |), u2 AS (
        |  SELECT p, 'x' AS tag, n_tokens AS u FROM pts
        |  UNION ALL SELECT p, 'y', vocab FROM pts
        |), fl AS (
        |  SELECT p, tag, u, max(k) AS kk
        |  FROM u2 JOIN p2 ON p2.v <= u2.u GROUP BY 1, 2, 3
        |), lnt(lk, lq) AS (
        |  VALUES ${TextAnalysis.ln6ValuesSql}
        |), lv AS (
        |  SELECT p, tag, CAST(lq AS BIGINT)
        |           + greatest(kk - 6, 0) * ${TextAnalysis.Ln2Fp6} AS l
        |  FROM (SELECT p, tag, kk, u >> greatest(kk - 6, 0) AS m FROM fl) f
        |  JOIN lnt ON lnt.lk = f.m
        |), xy AS (
        |  SELECT x.p, x.l AS x, y.l AS y
        |  FROM lv x JOIN lv y ON x.p = y.p
        |  WHERE x.tag = 'x' AND y.tag = 'y'
        |), ols AS (
        |  SELECT CAST(count(*) AS BIGINT) AS r,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM xy
        |), fin AS (
        |  SELECT r, sx, sy,
        |         r * sxy - sx * sy AS num,
        |         r * sxx - sx * sx AS den,
        |         r * syy - sy * sy AS dyy
        |  FROM ols
        |)
        |SELECT CAST(pts.p AS BIGINT) AS chk_docs, pts.n_tokens, pts.vocab,
        |       CAST(fin.r AS INT) AS n_points,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE round(1e-9 + num * 1.0 / den, 6) END AS beta,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE round(1e-9 + (sy * 1.0 / r
        |                   - (num * 1.0 / den) * (sx * 1.0 / r))
        |                 / 1000000.0, 6) END AS lnk_nats,
        |       CASE WHEN den = 0 OR dyy = 0 THEN NULL
        |            ELSE round(1e-9 + (num * 1.0 * num)
        |                 / ((den * 1.0) * dyy), 6) END AS r2
        |FROM pts CROSS JOIN fin ORDER BY chk_docs""".stripMargin) { (s, d) =>
      import s.implicits._
      val dc = Tables.documents(s, d).select(col("doc_id"),
        greatest(size(Text.tokens(col("text"))) - 2, lit(0))
          .cast("long").as("nt"))
      val fo = shingleTable(s, d)
        .select(col("doc_id"), explode(col("tri")).as("g"))
        .groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val p2 = TextAnalysis.pow2Table.toDF("k", "v")
      val chk = p2.crossJoin(broadcast(nd))
        .filter(col("v") >= 8 && col("v") <= col("n_docs"))
        .select(col("v").as("p"))
        .localCheckpoint() // ≤55 rows; broadcast against both fact tables
      val ntc = dc.join(broadcast(chk), col("doc_id") < col("p"))
        .groupBy(col("p")).agg(sum(col("nt")).as("n_tokens"))
      val vvc = fo.join(broadcast(chk), col("first_doc") < col("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("vocab"))
      val pts = ntc.join(vvc, "p").localCheckpoint() // ≤55 rows
      val u2 = pts.select(col("p"),
          expr("stack(2, 'x', n_tokens, 'y', vocab)").as(Seq("tag", "u")))
      val lnt = broadcast(TextAnalysis.ln6Table.toDF("lk", "lq"))
      val lv = u2.join(broadcast(p2), col("v") <= col("u"))
        .groupBy(col("p"), col("tag"), col("u")).agg(max(col("k")).as("kk"))
        .withColumn("sh", greatest(col("kk") - 6, lit(0)))
        .withColumn("m", expr("shiftright(u, sh)"))
        .join(lnt, col("lk") === col("m"))
        .select(col("p"), col("tag"),
          (col("lq") + col("sh") * lit(TextAnalysis.Ln2Fp6)).as("l"))
      val xy = lv.filter(col("tag") === "x").select(col("p"), col("l").as("x"))
        .join(lv.filter(col("tag") === "y")
          .select(col("p"), col("l").as("y")), "p")
      val fin = xy.agg(count(lit(1)).as("r"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("num", col("r") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("r") * col("sxx") - col("sx") * col("sx"))
        .withColumn("dyy", col("r") * col("syy") - col("sy") * col("sy"))
      pts.crossJoin(broadcast(fin))
        .select(col("p").cast("long").as("chk_docs"), col("n_tokens"),
          col("vocab"), col("r").cast("int").as("n_points"),
          when(col("den") === 0, lit(null).cast("double"))
            .otherwise(Num.roundOut(col("num") * 1.0 / col("den"), 6))
            .as("beta"),
          when(col("den") === 0, lit(null).cast("double"))
            .otherwise(Num.roundOut((col("sy") * 1.0 / col("r")
              - (col("num") * 1.0 / col("den"))
                * (col("sx") * 1.0 / col("r"))) / 1000000.0, 6))
            .as("lnk_nats"),
          when(col("den") === 0 || col("dyy") === 0,
            lit(null).cast("double"))
            .otherwise(Num.roundOut((col("num") * 1.0 * col("num"))
              / ((col("den") * 1.0) * col("dyy")), 6))
            .as("r2"))
        .orderBy(col("chk_docs"))
    },

    // FUZZY NAME MATCHING (record linkage) — multi-pass blocked join
    // with a native Jaro-Winkler verifier: candidate pairs come from TWO
    // blocking passes over the DISTINCT-name table (same last token ∪
    // same first token — the Fellegi-Sunter multi-key blocking that
    // catches a typo in either half of a "modifier noun" name), then
    // each candidate is scored by [[graft.plans.JaroWinkler]] — a
    // codegen'd Catalyst expression (Spark ships levenshtein but no JW;
    // a UDF would box two Strings per pair). Kept pairs at ≥ 0.85 with
    // which block caught them and how many part rows they cover.
    // JaroWinklerSpec pins kernel parity against DuckDB's
    // `jaro_winkler_similarity` (known-value + property tests) and that
    // blocking loses NOTHING at this threshold vs all-pairs on the
    // fixture.
    //
    // Scale: the corpus collapses to the distinct-name table first
    // (name-template-sized, not row-sized — the x39 vocab lesson);
    // blocking keys are name halves, so the self-joins are equi-joins
    // whose candidate volume is Σ block², bounded by template
    // cardinality; the JW kernel runs ONLY on blocked candidates,
    // inside whole-stage codegen. A skewed real-world block would take
    // x02's bucket-size cap; the template blocks here are audited by
    // the spec instead.
    QueryDef("x159_fuzzy_names",
      """WITH nm AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1
        |), tk AS (
        |  SELECT name, n_parts,
        |         string_split(name, ' ')[1] AS adj,
        |         string_split(name, ' ')[-1] AS noun
        |  FROM nm
        |), cand AS (
        |  SELECT a.name AS name_a, b.name AS name_b
        |  FROM tk a JOIN tk b ON a.noun = b.noun AND a.name < b.name
        |  UNION
        |  SELECT a.name, b.name
        |  FROM tk a JOIN tk b ON a.adj = b.adj AND a.name < b.name
        |), sc AS (
        |  SELECT name_a, name_b,
        |         round(1e-9 + jaro_winkler_similarity(name_a, name_b), 6)
        |           AS jw
        |  FROM cand
        |)
        |SELECT sc.name_a, sc.name_b,
        |       CASE WHEN ta.adj = tb.adj AND ta.noun = tb.noun THEN 'both'
        |            WHEN ta.noun = tb.noun THEN 'noun'
        |            ELSE 'adj' END AS shared,
        |       sc.jw, ta.n_parts + tb.n_parts AS n_parts_covered
        |FROM sc
        |JOIN tk ta ON ta.name = sc.name_a
        |JOIN tk tb ON tb.name = sc.name_b
        |WHERE sc.jw >= 0.85
        |ORDER BY sc.name_a, sc.name_b""".stripMargin) { (s, d) =>
      val tk = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .select(col("name"), col("n_parts"),
          element_at(split(col("name"), " "), 1).as("adj"),
          element_at(split(col("name"), " "), -1).as("noun"))
        .localCheckpoint() // template-sized; four join sides read it
      def block(key: String) = tk.select(col("name").as("name_a"),
          col(key).as("k"))
        .join(tk.select(col("name").as("name_b"), col(key).as("k")), "k")
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"))
      val cand = block("noun").union(block("adj")).distinct()
      val sc = cand.select(col("name_a"), col("name_b"),
        Num.roundOut(
          graft.plans.JaroWinkler(col("name_a"), col("name_b")), 6).as("jw"))
      sc.join(tk.select(col("name").as("name_a"), col("adj").as("aa"),
          col("noun").as("na"), col("n_parts").as("pa")), "name_a")
        .join(tk.select(col("name").as("name_b"), col("adj").as("ab"),
          col("noun").as("nb"), col("n_parts").as("pb")), "name_b")
        .select(col("name_a"), col("name_b"),
          when(col("aa") === col("ab") && col("na") === col("nb"), "both")
            .when(col("na") === col("nb"), "noun")
            .otherwise("adj").as("shared"),
          col("jw"), (col("pa") + col("pb")).as("n_parts_covered"))
        .filter(col("jw") >= 0.85)
        .orderBy(col("name_a"), col("name_b"))
    },

    // GOLDEN-RECORD SURVIVORSHIP — the step record linkage exists FOR:
    // x159 finds the fuzzy match pairs, this resolves them into entities
    // and emits one survivor row per entity (the MDM "golden record").
    // Match pairs become an undirected graph; connected components
    // (x146's hybrid min-label machinery, reused verbatim on string
    // nodes) assign every matched name variant to exactly one entity
    // whose canonical id is the lexicographically-least member; then
    // survivorship folds the member rows — variant count, covered part
    // rows, and the price envelope in EXACT integer cents (converted
    // per row BEFORE aggregation, the x175 money rule; min/max carry no
    // accumulation order). Only multi-variant entities report — the
    // merges are the product.
    //
    // Scale: the pair stage is x159's blocked join (template-sized); CC
    // runs on the match graph, which is BOUNDED BY THE MATCHES, not the
    // corpus (near-dup name clusters are small — the x34 cluster
    // argument); survivorship is one aggregate over matched names.
    // 4 hybrid CC rounds converge any fixture component (pointer
    // jumping doubles reach per round; fixpoint pinned rounds=4 vs 5).
    QueryDef("x184_golden_record", Dedup.x184OracleSql) { (s, d) =>
      val e0 = fuzzyNamePairs(s, d)
      val e = e0.select(col("name_a").as("src"), col("name_b").as("dst"))
        .union(e0.select(col("name_b").as("src"), col("name_a").as("dst")))
        .distinct()
        .localCheckpoint() // match-graph-sized; feeds every CC round
      goldenRecords(e, nameStatsDelta(Tables.part(s, d)))
    },

    // BLOCKING-QUALITY AUDIT — the record-linkage meta-step that decides
    // whether x159/x184's candidate generation can be TRUSTED: for each
    // blocking scheme (adj key, noun key, their union) report candidate
    // volume, pairs completeness against the TRUE match set, and the
    // reduction ratio vs all-pairs (Christen's blocking metrics). The
    // ground truth is exact — every (a<b) name pair scored with the
    // native Jaro-Winkler kernel — which is only honest because the
    // name domain is a TEMPLATE table (64 distinct names, SF-invariant):
    // all-pairs is 2016 rows regardless of corpus size. Completeness
    // and reduction are exact integer ppm (single div of exact counts).
    //
    // Scale: every input here is the distinct-name template table, not
    // the corpus — the audit costs O(|templates|²) and is independent
    // of row count. For an unbounded name domain the truth arm would
    // sample blocks (the x91 calibration discipline); the report shape
    // stays identical.
    QueryDef("x185_blocking_audit",
      """WITH nm AS (SELECT DISTINCT p_name AS name FROM part),
        |tk AS (
        |  SELECT name, string_split(name, ' ')[1] AS adj,
        |         string_split(name, ' ')[-1] AS noun
        |  FROM nm
        |), ap AS (
        |  SELECT a.name AS na, b.name AS nb
        |  FROM nm a JOIN nm b ON a.name < b.name
        |), truth AS (
        |  SELECT na, nb FROM ap
        |  WHERE round(1e-9 + jaro_winkler_similarity(na, nb), 6) >= 0.85
        |), cn AS (
        |  SELECT a.name AS na, b.name AS nb
        |  FROM tk a JOIN tk b ON a.noun = b.noun AND a.name < b.name
        |), ca AS (
        |  SELECT a.name AS na, b.name AS nb
        |  FROM tk a JOIN tk b ON a.adj = b.adj AND a.name < b.name
        |), cu AS (
        |  SELECT na, nb FROM cn UNION SELECT na, nb FROM ca
        |), cands AS (
        |  SELECT 'adj' AS scheme, na, nb FROM ca
        |  UNION ALL SELECT 'noun' AS scheme, na, nb FROM cn
        |  UNION ALL SELECT 'union' AS scheme, na, nb FROM cu
        |), hits AS (
        |  SELECT c.scheme,
        |         CASE WHEN t.na IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM cands c LEFT JOIN truth t ON t.na = c.na AND t.nb = c.nb
        |), tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ap) AS n_allpairs,
        |         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth
        |)
        |SELECT scheme, CAST(count(*) AS BIGINT) AS n_candidates,
        |       CAST(sum(hit) AS BIGINT) AS n_found, tot.n_truth,
        |       CAST(sum(hit) AS BIGINT) * 1000000 // tot.n_truth
        |         AS completeness_ppm,
        |       (tot.n_allpairs - count(*)) * 1000000 // tot.n_allpairs
        |         AS reduction_ppm
        |FROM hits, tot
        |GROUP BY scheme, tot.n_allpairs, tot.n_truth
        |ORDER BY scheme""".stripMargin) { (s, d) =>
      val nm = Tables.part(s, d).select(col("p_name").as("name"))
        .distinct().localCheckpoint() // template-sized; read by every arm
      val tk = nm.select(col("name"),
        element_at(split(col("name"), " "), 1).as("adj"),
        element_at(split(col("name"), " "), -1).as("noun"))
      // all-pairs over the TEMPLATE table only (64 names) — the one
      // place a cross join is the honest plan, per the x159 recall spec
      val ap = nm.select(col("name").as("na"))
        .crossJoin(broadcast(nm.select(col("name").as("nb"))))
        .filter(col("na") < col("nb"))
      val truth = ap.filter(Num.roundOut(
          graft.plans.JaroWinkler(col("na"), col("nb")), 6) >= 0.85)
        .localCheckpoint() // scored once; probed by hits and counted
      def cand(key: String) = tk
        .select(col("name").as("na"), col(key).as("k"))
        .join(tk.select(col("name").as("nb"), col(key).as("k")), "k")
        .filter(col("na") < col("nb")).select(col("na"), col("nb"))
      val cn = cand("noun"); val ca = cand("adj")
      val cu = cn.union(ca).distinct()
      val cands = ca.withColumn("scheme", lit("adj"))
        .unionByName(cn.withColumn("scheme", lit("noun")))
        .unionByName(cu.withColumn("scheme", lit("union")))
      val tot = ap.agg(count(lit(1)).as("n_allpairs"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      cands
        .join(broadcast(truth.withColumn("hit", lit(1L))),
          Seq("na", "nb"), "left")
        .groupBy(col("scheme"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .crossJoin(broadcast(tot))
        .select(col("scheme"), col("n_candidates"), col("n_found"),
          col("n_truth"),
          expr("n_found * 1000000 div n_truth").as("completeness_ppm"),
          expr("(n_allpairs - n_candidates) * 1000000 div n_allpairs")
            .as("reduction_ppm"))
        .orderBy(col("scheme"))
    },

    // GREEDY MAX-COVERAGE SUBSET SELECTION — the submodular data-subset
    // step (Nemhauser's (1−1/e) greedy; the facility-location shape
    // behind coreset curation): pick 6 documents, each maximizing the
    // count of trigram TYPES not covered by the picks so far, reporting
    // per pick its marginal gain, cumulative coverage, and ppm of the
    // corpus type inventory. The x32/x115 diversity samplers pick by
    // geometry; this picks by exact set cover — what "which 6 docs teach
    // the most n-grams" actually asks.
    //
    // Scale: the covered set after j picks is ≤ j·max-grams-per-doc rows
    // — BROADCAST-sized by construction at any corpus scale — so each
    // round is one broadcast anti-join over the persisted gram table
    // folded map-side into per-doc gains, and the argmax is
    // TakeOrderedAndProject (per-partition heaps, 1 row out). Six fixed
    // rounds ⇒ six scan passes; the standard at-scale accelerations
    // (CELF lazy evaluation, a candidate pool pre-filtered by x84
    // novelty) drop in without changing the pick semantics. All gains
    // and coverage numbers are exact integers.
    QueryDef("x163_coverage_greedy",
      {
        val rounds = (2 to 6).map { j =>
          s"""gain$j AS (
            |  SELECT gd.doc_id, CAST(count(*) AS BIGINT) AS gain
            |  FROM gd
            |  ANTI JOIN c${j - 1} ON c${j - 1}.g = gd.g
            |  WHERE gd.doc_id NOT IN (SELECT doc_id FROM u${j - 1})
            |  GROUP BY 1
            |), p$j AS (
            |  SELECT doc_id, gain FROM gain$j
            |  ORDER BY gain DESC, doc_id LIMIT 1
            |), u$j AS (
            |  SELECT doc_id FROM u${j - 1} UNION ALL SELECT doc_id FROM p$j
            |), c$j AS (
            |  SELECT g FROM c${j - 1}
            |  UNION SELECT gd.g FROM gd JOIN p$j ON p$j.doc_id = gd.doc_id
            |), cc$j AS (
            |  SELECT CAST(count(*) AS BIGINT) AS cum FROM c$j
            |), o$j AS (
            |  SELECT CAST($j AS INT) AS pos, p$j.doc_id, p$j.gain,
            |         cc$j.cum FROM p$j CROSS JOIN cc$j
            |)""".stripMargin
        }.mkString(", ")
        s"""WITH sw AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END)
        |           AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), gd AS (
        |  SELECT doc_id, unnest(tri) AS g FROM sw
        |), tt AS (
        |  SELECT CAST(count(DISTINCT g) AS BIGINT) AS tot FROM gd
        |), gain1 AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
        |  FROM gd GROUP BY 1
        |), p1 AS (
        |  SELECT doc_id, gain FROM gain1 ORDER BY gain DESC, doc_id LIMIT 1
        |), u1 AS (
        |  SELECT doc_id FROM p1
        |), c1 AS (
        |  SELECT DISTINCT gd.g FROM gd JOIN p1 ON p1.doc_id = gd.doc_id
        |), cc1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cum FROM c1
        |), o1 AS (
        |  SELECT CAST(1 AS INT) AS pos, p1.doc_id, p1.gain, cc1.cum
        |  FROM p1 CROSS JOIN cc1
        |), $rounds, oo AS (
        |  SELECT * FROM o1 UNION ALL SELECT * FROM o2
        |  UNION ALL SELECT * FROM o3 UNION ALL SELECT * FROM o4
        |  UNION ALL SELECT * FROM o5 UNION ALL SELECT * FROM o6
        |)
        |SELECT pos, doc_id, gain, cum AS covered_cum,
        |       CAST(cum * 1000000 // tot AS BIGINT) AS coverage_ppm
        |FROM oo CROSS JOIN tt ORDER BY pos""".stripMargin
      }) { (s, d) =>
      val gd = coverageGrams(s, d)
        .localCheckpoint() // read by all six gain passes + the total
      val tt = gd.agg(countDistinct(col("g")).as("tot"))
      // the argmax is ONE row — collect it and carry the ≤6 picked ids
      // as driver values (r17: the pick/picked-union checkpoints were
      // two more jobs per round over 1-and-j-row frames); the picked
      // frame handed to the shared coverageRound is a j-row
      // LocalRelation of this run's own picks, covered stays the
      // checkpointed broadcast-sized gram set
      val sess = gd.sparkSession
      def pickedDf(ids: Seq[Long]): DataFrame = {
        import scala.jdk.CollectionConverters._
        sess.createDataFrame(
          ids.map(org.apache.spark.sql.Row(_)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
      }
      var covered: DataFrame = null
      var ids = Vector.empty[Long]
      var out = Vector.empty[DataFrame]
      (1 to 6).foreach { j =>
        val state = if (j == 1) None else Some((covered, pickedDf(ids)))
        val prow = coverageRound(gd, state).collect()(0)
        val (pid, gain) = (prow.getLong(0), prow.getLong(1))
        val newCov = gd.filter(col("doc_id") === pid)
          .select(col("g")).distinct()
        covered =
          (if (j == 1) newCov else covered.unionByName(newCov).distinct())
            .localCheckpoint() // ≤ j·max-grams rows, broadcast next round
        ids :+= pid
        val cum = covered.agg(count(lit(1)).as("cum"))
        out :+= cum.select(lit(j).as("pos"), lit(pid).as("doc_id"),
          lit(gain).as("gain"), col("cum"))
      }
      out.reduce(_.unionByName(_)).crossJoin(broadcast(tt))
        .select(col("pos"), col("doc_id"), col("gain"),
          col("cum").as("covered_cum"),
          expr("cum * 1000000 div tot").as("coverage_ppm"))
        .orderBy(col("pos"))
    },

    // DUPLICATED-SUBSTRING LENGTH SWEEP — the exact-substring dedup
    // curve (Lee et al. ACL'22's "Deduplicating Training Data Makes LMs
    // Better" measurement): at window lengths 8/16/32 tokens, how much
    // of the corpus token stream sits inside a window that occurs ≥ 2
    // times ANYWHERE (within- or cross-document)? x28 reports per-doc
    // dup fractions at one fixed length; this is the corpus-level curve
    // that picks the dedup threshold — the length where dup_ppm
    // collapses is where substring dedup stops buying anything.
    // Instances count with MULTIPLICITY (rawShingles): a doc repeating
    // one 8-gram fifty times is fifty duplicated instances, which is
    // exactly the mass dedup would remove.
    //
    // Scale: per length, one explode → gram-keyed count (map-side
    // partials; only gram keys shuffle) → one equi-join back for
    // docs-hit; work ∝ token stream × 3 fixed lengths. At web scale the
    // shuffle key becomes the window's 64-bit hash (x28's recorded
    // swap) — 8 bytes per instance instead of the window text.
    QueryDef("x164_dup_length_sweep",
      {
        val blocks = Seq(8, 16, 32).map { l =>
          val cat = (1 to l).map(k => s"ws[i+$k]").mkString(" || '_' || ")
          s"""w$l AS (
            |  SELECT doc_id, unnest(CASE WHEN len(ws) < $l THEN []
            |    ELSE list_transform(range(len(ws) - ${l - 1}),
            |         i -> $cat) END) AS g
            |  FROM sw
            |), c$l AS (
            |  SELECT g, CAST(count(*) AS BIGINT) AS c FROM w$l GROUP BY 1
            |), a$l AS (
            |  SELECT CAST($l AS INT) AS win_len,
            |         CAST(sum(c) AS BIGINT) AS total_windows,
            |         CAST(count(*) AS BIGINT) AS distinct_windows,
            |         CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0)
            |              AS BIGINT) AS dup_instances,
            |         CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 END), 0)
            |              AS BIGINT) AS dup_grams
            |  FROM c$l
            |), d$l AS (
            |  SELECT CAST(count(DISTINCT w.doc_id) AS BIGINT) AS docs_hit
            |  FROM w$l w JOIN c$l c ON c.g = w.g AND c.c >= 2
            |), o$l AS (
            |  SELECT win_len, total_windows, distinct_windows,
            |         dup_instances, dup_grams, docs_hit,
            |         CASE WHEN total_windows = 0 THEN NULL
            |              ELSE CAST(dup_instances * 1000000 // total_windows
            |                        AS BIGINT) END AS dup_ppm
            |  FROM a$l CROSS JOIN d$l
            |)""".stripMargin
        }.mkString(", ")
        s"""WITH sw AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), $blocks
        |SELECT * FROM o8 UNION ALL SELECT * FROM o16
        |UNION ALL SELECT * FROM o32 ORDER BY win_len""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // the three window lengths are INDEPENDENT pipelines whose eager
      // materializations serialized on the driver — submit them from a
      // thread pool so each length's jobs back-fill the others' task
      // tails (guide §2.6); the builds only stage frames, the final
      // union still computes everything in this run
      val perL = Seq(8, 16, 32).map { l =>
        scala.concurrent.Future {
        val w = docs.select(col("doc_id"),
            explode(Text.rawShingles(col("text"), l)).as("g"))
          .localCheckpoint() // counter + docs-hit probe both read it
        val c = w.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // aggregate + join probe both read it
        val a = c.agg(sum(col("c")).as("total_windows"),
          count(lit(1)).as("distinct_windows"),
          coalesce(sum(when(col("c") >= 2, col("c"))), lit(0L))
            .as("dup_instances"),
          coalesce(sum(when(col("c") >= 2, 1L)), lit(0L)).as("dup_grams"))
        val dh = w.join(c.filter(col("c") >= 2).select(col("g")), "g")
          .agg(countDistinct(col("doc_id")).as("docs_hit"))
        a.crossJoin(dh)
          .select(lit(l).as("win_len"), col("total_windows"),
            col("distinct_windows"), col("dup_instances"), col("dup_grams"),
            col("docs_hit"),
            when(col("total_windows") === 0, lit(null).cast("long"))
              .otherwise(expr("dup_instances * 1000000 div total_windows"))
              .as("dup_ppm"))
        }(scala.concurrent.ExecutionContext.global)
      }
      perL
        .map(scala.concurrent.Await
          .result(_, scala.concurrent.duration.Duration.Inf))
        .reduce(_.unionByName(_)).orderBy(col("win_len"))
    }
  )

  /** x184's relational answer — shared VERBATIM with st28's streaming
    * golden-record maintenance (the x183↔st27 one-definition contract).
    * `lazy`: referenced from the entries Seq above, which initializes
    * before this val in declaration order. */
  private[graft] lazy val x184OracleSql: String =
    """WITH RECURSIVE nm AS (
      |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
      |         CAST(min(round(p_retailprice * 100)) AS BIGINT)
      |           AS min_cents,
      |         CAST(max(round(p_retailprice * 100)) AS BIGINT)
      |           AS max_cents
      |  FROM part GROUP BY 1
      |), tk AS (
      |  SELECT name, string_split(name, ' ')[1] AS adj,
      |         string_split(name, ' ')[-1] AS noun
      |  FROM nm
      |), e0 AS (
      |  SELECT a.name AS src, b.name AS dst
      |  FROM tk a JOIN tk b
      |    ON (a.noun = b.noun OR a.adj = b.adj) AND a.name < b.name
      |  WHERE round(1e-9 + jaro_winkler_similarity(a.name, b.name), 6)
      |        >= 0.85
      |), e AS (
      |  SELECT src, dst FROM e0
      |  UNION
      |  SELECT dst AS src, src AS dst FROM e0
      |), r AS (
      |  SELECT src AS node, src AS m FROM e
      |  UNION
      |  SELECT e.src AS node, r.m FROM e JOIN r ON r.node = e.dst
      |), c AS (
      |  SELECT node, min(m) AS comp FROM r GROUP BY node
      |)
      |SELECT c.comp AS canonical_name,
      |       CAST(count(*) AS BIGINT) AS n_variants,
      |       CAST(sum(nm.n_parts) AS BIGINT) AS n_parts,
      |       CAST(min(nm.min_cents) AS BIGINT) AS min_cents,
      |       CAST(max(nm.max_cents) AS BIGINT) AS max_cents
      |FROM c JOIN nm ON nm.name = c.node
      |GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY canonical_name""".stripMargin

  /** x184's per-name survivorship partial over a part slice — every
    * field mergeable (count sums, cents min/max; cents converted per ROW
    * before any aggregate, the x175 money rule), which is what lets st28
    * fold it per micro-batch. */
  private[graft] def nameStatsDelta(part: DataFrame): DataFrame =
    part.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"),
        min(round(col("p_retailprice") * 100).cast("long")).as("min_cents"),
        max(round(col("p_retailprice") * 100).cast("long")).as("max_cents"))

  /** x184's finish from a symmetric match-edge list + per-name stats —
    * CC canonicals then survivorship. Shared VERBATIM with st28's
    * streaming maintenance (the x183↔st27 one-definition contract). */
  private[graft] def goldenRecords(e: DataFrame, nm: DataFrame): DataFrame =
    Corpus.ccLabels(e, rounds = 4)
      .join(nm, col("node") === col("name"))
      .groupBy(col("comp").as("canonical_name"))
      .agg(count(lit(1)).as("n_variants"), sum(col("n_parts")).as("n_parts"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .filter(col("n_variants") >= 2)
      .orderBy(col("canonical_name"))

  /** x159's blocked-and-verified match pairs, reduced to the edge list
    * (name_a < name_b, rounded JW ≥ 0.85) — x184's entity-resolution
    * input. Same blocking keys and kernel as x159 (whose spec pins full
    * recall vs all-pairs at this threshold), so the pair set is
    * IDENTICAL to the one x159 reports. */
  private[graft] def fuzzyNamePairs(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val tk = Tables.part(s, d)
      .select(col("p_name").as("name")).distinct()
      .select(col("name"),
        element_at(split(col("name"), " "), 1).as("adj"),
        element_at(split(col("name"), " "), -1).as("noun"))
      .localCheckpoint() // template-sized; both block passes read it
    def block(key: String) = tk.select(col("name").as("name_a"),
        col(key).as("k"))
      .join(tk.select(col("name").as("name_b"), col(key).as("k")), "k")
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
    block("noun").union(block("adj")).distinct()
      .filter(Num.roundOut(
        graft.plans.JaroWinkler(col("name_a"), col("name_b")), 6) >= 0.85)
  }
}
