package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}
import graft.functions.Text

/** Corpus-preparation operators for the training-data pipeline: RAG-style
  * document chunking, CCNet-style paragraph-level exact dedup, tokenizer
  * vocabulary construction, and lexical-diversity scoring. Everything is
  * oracle-checked: metrics stay RATIONAL (integer counts + single
  * divisions) so cross-engine FP parity holds (x23's libm lesson).
  *
  * Scale notes per query inline; the common shape is explode → partial
  * aggregate → one keyed shuffle, never a per-row O(n²) lambda or a
  * driver-side loop.
  */
object Corpus {

  /** x42's relational heavy-hitter answer — shared VERBATIM with st11's
    * streaming form (the st10↔x39 move applied to frequency sketching):
    * one final answer definition, so the batch and streaming paths can't
    * drift apart. */
  private[graft] val x42OracleSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
      |), t AS (SELECT count(*) AS n FROM w)
      |SELECT word, CAST(count(*) AS BIGINT) AS cnt
      |FROM w, t
      |GROUP BY word, t.n
      |HAVING count(*) * 40 > t.n
      |ORDER BY cnt DESC, word""".stripMargin

  /** The two unrolled label-propagation rounds as DuckDB CTEs (through
    * `l2`), shared by the x133 oracle and x138's modularity oracle — one
    * definition of the algorithm for every consumer (the x33/x34 rule). */
  private[graft] val lpCteSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT CAST(doc_id % 100 AS INT) AS src,
      |         CAST((doc_id * 31) % 100 AS INT) AS dst
      |  FROM documents
      |  WHERE doc_id < 400 AND (doc_id * 48271) % 100 < 25
      |    AND CAST(doc_id % 100 AS INT) <> CAST((doc_id * 31) % 100 AS INT)
      |), e AS (
      |  SELECT src, dst FROM e0
      |  UNION SELECT dst AS src, src AS dst FROM e0
      |), l0 AS (
      |  SELECT DISTINCT src AS node, CAST(src AS INT) AS lbl FROM e
      |), v1 AS (
      |  SELECT e.src AS node, l0.lbl, count(*) AS c
      |  FROM e JOIN l0 ON l0.node = e.dst GROUP BY 1, 2
      |), l1 AS (
      |  SELECT node, lbl FROM (
      |    SELECT node, lbl, row_number() OVER (
      |      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v1) t
      |  WHERE rn = 1
      |), v2 AS (
      |  SELECT e.src AS node, l1.lbl, count(*) AS c
      |  FROM e JOIN l1 ON l1.node = e.dst GROUP BY 1, 2
      |), l2 AS (
      |  SELECT node, lbl FROM (
      |    SELECT node, lbl, row_number() OVER (
      |      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v2) t
      |  WHERE rn = 1
      |)""".stripMargin

  private[graft] val x133OracleSql: String =
    s"""$lpCteSql, sz AS (
      |  SELECT lbl, count(*) AS community_size FROM l2 GROUP BY 1
      |)
      |SELECT l2.node, l1.lbl AS label_r1, l2.lbl AS label_r2,
      |       sz.community_size
      |FROM l2 JOIN l1 USING (node) JOIN sz ON sz.lbl = l2.lbl
      |ORDER BY l2.node""".stripMargin

  /** Symmetrized deterministic LP edge list — recomputed per query (the
    * doc_id predicate pushes to the parquet scan; edges are tiny). */
  private def lpEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e0 = Tables.documents(s, d)
      .filter(col("doc_id") < 400 && (col("doc_id") * 48271) % 100 < 25)
      .select((col("doc_id") % 100).cast("int").as("src"),
        ((col("doc_id") * 31) % 100).cast("int").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // tiny edge list feeds both rounds + modularity
  }

  /** The label-propagation pipeline: the edge list plus the round-1 and
    * round-2 label vectors — ONE partition definition shared by x133
    * (community report), x138 (modularity), and x145 (conductance). The
    * label table is a persisted content-keyed [[DerivedTable]] (VERDICT
    * r8 item 4): the iterative fold runs once per source CONTENT, after
    * which each judge of the partition pays only its own finish cost —
    * the same artifact discipline as the fingerprint/shingle/IVF tables.
    */
  private[graft] def lpPipeline(s: org.apache.spark.sql.SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val e = lpEdges(s, d)
    val labels = DerivedTable(s, d, Artifacts.lplabels) {
      val l0 = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").cast("int").as("lbl"))
      def lpRound(l: DataFrame): DataFrame =
        e.join(broadcast(l.withColumnRenamed("node", "dst")), Seq("dst"))
          .groupBy(col("src").as("node"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("node")).orderBy(col("c").desc, col("lbl"))))
          .filter(col("rn") === 1)
          .select(col("node"), col("lbl"))
          .localCheckpoint() // nodes-sized; severs the iteration lineage
      val l1 = lpRound(l0)
      l1.join(lpRound(l1).withColumnRenamed("lbl", "lbl2"), "node")
        .select(col("node"), col("lbl").as("lbl1"), col("lbl2"))
    }
    (e,
      labels.select(col("node"), col("lbl1").as("lbl")),
      labels.select(col("node"), col("lbl2").as("lbl")))
  }

  val entries: Seq[QueryDef] = Seq(

    // Sliding-window document CHUNKING (the RAG / context-window prep
    // step): 64-token chunks on a 48-token stride, each chunk carrying its
    // provenance (doc_id, chunk_id, token offset). Pure per-row column
    // math — sequence() generates the stride starts, posexplode keeps the
    // chunk ordinal, slice() cuts the window — so the operator is
    // embarrassingly parallel: no shuffle at all until the presentation
    // sort, and at 100 TB chunks land partition-local next to their
    // source documents (the property a chunk store wants for locality).
    QueryDef("x29_chunk",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), b AS (
        |  SELECT doc_id, ws, CAST(len(ws) AS INT) AS n FROM t
        |), st AS (
        |  SELECT doc_id, ws, n, unnest(range(0, n, 48)) AS start FROM b
        |)
        |SELECT doc_id, CAST(start // 48 AS INT) AS chunk_id,
        |       CAST(start AS INT) AS tok_start,
        |       CAST(len(list_slice(ws, start + 1, least(start + 64, n))) AS INT)
        |         AS n_tokens,
        |       array_to_string(list_slice(ws, start + 1, least(start + 64, n)), ' ')
        |         AS chunk
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
        .withColumn("n", size(col("ws")))
        .select(col("doc_id"), col("ws"),
          posexplode(sequence(lit(0), col("n") - 1, lit(48)))
            .as(Seq("chunk_id", "tok_start")))
        .withColumn("cw", slice(col("ws"), col("tok_start") + 1, lit(64)))
        .select(col("doc_id"), col("chunk_id"), col("tok_start"),
          size(col("cw")).as("n_tokens"),
          array_join(col("cw"), " ").as("chunk"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // CONTENT-DEFINED CHUNKING (the FastCDC/rsync family: boundaries
    // where a rolling hash of the last w=4 chars ≡ 0 mod 32) + chunk-
    // level exact dedup. x29's fixed stride breaks on INSERTION — one
    // added word shifts every later chunk boundary, so every downstream
    // chunk re-hashes as "new". Content-defined cuts resynchronize within
    // one window of an edit, which is why dedup storage (and near-dup
    // corpus diffing between crawl snapshots) cuts this way: the shared
    // suffix of two document versions yields IDENTICAL chunks again.
    // Per position i ≥ w the hash is Σ code(c_j)·31^(i−j) mod 1e9+7 over
    // the w-char window (FastCDC's gear window is similarly small — the
    // window only needs enough entropy to make cuts content-local),
    // evaluated as one unrolled integer expression per position; chunk
    // identity is the chunk text's md5 (codegen-native both engines, the
    // x89 digest), so the whole table hash-matches.
    //
    // Scale: boundary detection and chunk emission are PER-ROW column
    // math (nested let-bound lambdas — codes, then the hash array, each
    // bound ONCE; no CSE in HOF lambdas, the x04 lesson) — zero shuffle
    // until the chunk-fp dedup count, whose exchange carries (fp, extent)
    // keys, never chunk bodies. O(n·w) work per document, embarrassingly
    // parallel; the dedup count is the same digest-keyed shape as x01.
    QueryDef("x92_cdc_chunks",
      """WITH d AS (
        |  SELECT doc_id, text, CAST(len(text) AS INT) AS n,
        |         list_transform(range(len(text)),
        |           i -> CAST(unicode(text[i+1]) AS BIGINT)) AS cds
        |  FROM documents
        |), hsv AS (
        |  SELECT doc_id, text, n,
        |         list_transform(range(4, greatest(n, 4) + 1),
        |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                  cds[i-3:i]),
        |                  (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
        |  FROM d
        |), cu AS (
        |  SELECT doc_id, text, n,
        |         list_filter(range(4, greatest(n, 4) + 1),
        |           i -> hs[i - 3] % 32 = 0) AS cuts
        |  FROM hsv
        |), en AS (
        |  SELECT doc_id, text,
        |         CASE WHEN n < 4 THEN [CAST(n AS BIGINT)]
        |              WHEN list_contains(cuts, n) THEN cuts
        |              ELSE list_concat(cuts, [CAST(n AS BIGINT)]) END AS ends
        |  FROM cu
        |), ch AS (
        |  SELECT doc_id, text, ends, unnest(range(len(ends))) AS k0 FROM en
        |), cc AS (
        |  SELECT doc_id, CAST(k0 + 1 AS INT) AS chunk_idx,
        |         CAST(CASE WHEN k0 = 0 THEN 1
        |              ELSE ends[k0] + 1 END AS INT) AS cstart,
        |         CAST(ends[k0 + 1]
        |              - CASE WHEN k0 = 0 THEN 1 ELSE ends[k0] + 1 END
        |              + 1 AS INT) AS clen,
        |         substring(text,
        |           CAST(CASE WHEN k0 = 0 THEN 1
        |                ELSE ends[k0] + 1 END AS INT),
        |           CAST(ends[k0 + 1]
        |                - CASE WHEN k0 = 0 THEN 1 ELSE ends[k0] + 1 END
        |                + 1 AS INT)) AS ctext
        |  FROM ch
        |), fp AS (
        |  SELECT doc_id, chunk_idx, cstart, clen, md5(ctext) AS chunk_fp
        |  FROM cc
        |)
        |SELECT doc_id, chunk_idx, cstart, clen, chunk_fp,
        |       CAST(count(*) OVER (PARTITION BY chunk_fp) AS BIGINT)
        |         AS n_copies,
        |       count(*) OVER (PARTITION BY chunk_fp) > 1 AS is_dup
        |FROM fp ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      // Boundary extraction is the native codegen'd
      // [[graft.plans.CdcBoundaries]] expression (w=4 gear window, cut at
      // hash ≡ 0 mod 32) — an interpreted-HOF first cut of the same math
      // cost 5.2 s at sf0.1; the Expression runs inside whole-stage
      // codegen at scan bandwidth. The oracle replays the identical fold
      // relationally (per-step mod, congruent to the loop's single mod).
      val ch = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          graft.plans.CdcBoundaries(col("text"), 4, 32).as("ends"))
        .select(col("doc_id"), col("text"), col("ends"),
          posexplode(col("ends")).as(Seq("k0", "cend")))
        .withColumn("cstart",
          when(col("k0") === 0, 1)
            .otherwise(element_at(col("ends"), col("k0")) + 1))
        .withColumn("clen", col("cend") - col("cstart") + 1)
        .select(col("doc_id"),
          (col("k0") + 1).cast("int").as("chunk_idx"),
          col("cstart").cast("int").as("cstart"),
          col("clen").cast("int").as("clen"),
          md5(expr("substring(text, cstart, clen)")).as("chunk_fp"))
      ch.withColumn("n_copies",
          count(lit(1)).over(Window.partitionBy(col("chunk_fp"))))
        .withColumn("is_dup", col("n_copies") > 1)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Paragraph-level exact DEDUP with reassembly (the CCNet shape: dedup
    // at sub-document granularity, then stitch the survivors back into
    // cleaned documents). The fixture has no newlines, so a "paragraph" is
    // a consecutive 5-token chunk. Keep the FIRST occurrence of each
    // paragraph text in corpus order (doc_id, idx); drop later copies;
    // reassemble each document from its kept paragraphs in order.
    //
    // Scale: one shuffle keyed by paragraph text for the keep-first window,
    // one keyed by doc_id for reassembly. Unlike x01 the text MUST cross an
    // exchange once — reassembly needs it back — so digest-keying the
    // decision window would only narrow the sort comparisons, not the
    // shuffled bytes; the text-keyed window is the honest shape. No
    // broadcast, no all-pairs.
    QueryDef("x30_para_dedup",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), b AS (
        |  SELECT doc_id, ws, CAST(ceil(len(ws) / 5.0) AS INT) AS np FROM t
        |), p AS (
        |  SELECT doc_id, ws, np, unnest(range(0, np)) AS idx FROM b
        |), pp AS (
        |  SELECT doc_id, CAST(idx AS INT) AS idx,
        |         array_to_string(list_slice(ws, idx*5 + 1,
        |           least(idx*5 + 5, len(ws))), ' ') AS para
        |  FROM p
        |), k AS (
        |  SELECT doc_id, idx, para, row_number() OVER (
        |    PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM pp
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(para, ' ' ORDER BY idx) AS clean_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT b.doc_id, b.np AS n_paras,
        |       CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
        |       coalesce(a.clean_text, '') AS clean_text
        |FROM b LEFT JOIN agg a ON b.doc_id = a.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("ws"))
        .withColumn("np", ceil(size(col("ws")) / 5.0).cast("int"))
      val paras = base
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), col("np") - 1)).as("idx"))
        .select(col("doc_id"), col("idx"),
          array_join(slice(col("ws"), col("idx") * 5 + 1, lit(5)), " ").as("para"))
      val kept = paras
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("para")).orderBy(col("doc_id"), col("idx"))))
        .filter(col("rn") === 1)
      val agg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("idx"), col("para")))),
              x => x.getField("para")), " ").as("clean_text"))
      base.select(col("doc_id"), col("np").as("n_paras"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_paras"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    },

    // Tokenizer VOCABULARY construction: global word counts → top-K
    // (K=100) by (freq DESC, word) → contiguous token ids + cumulative
    // corpus coverage. The top-K is orderBy+limit — Spark plans
    // TakeOrderedAndProject, a distributed partial top-k (each partition
    // keeps its own K, only K·partitions rows reach the driver-side
    // merge), NOT a global sort; the id/coverage window then runs over
    // K rows only. Coverage denominator is the exact long total over the
    // FULL count table. This is how a 100 TB corpus trains a word-level
    // tokenizer: the only full-corpus pass is the count aggregate.
    QueryDef("x31_vocab_build",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), c AS (
        |  SELECT word, count(*) AS c FROM tok GROUP BY word
        |), t AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS total FROM c
        |), r AS (
        |  SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rk
        |  FROM c
        |)
        |SELECT CAST(rk - 1 AS INT) AS token_id, word, c AS freq,
        |       round(1e-9 + (sum(c) OVER (ORDER BY rk
        |         ROWS UNBOUNDED PRECEDING)) * 1.0 / total, 4) AS cum_coverage
        |FROM r, t WHERE rk <= 100 ORDER BY rk""".stripMargin) { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the total AND the top-k — one count pass
      val total = counts.agg(sum(col("c")).as("total"))
      val topk = counts.orderBy(col("c").desc, col("word")).limit(100)
      val w = Window.orderBy(col("c").desc, col("word"))
      topk.crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select((col("rk") - 1).cast("int").as("token_id"), col("word"),
          col("c").as("freq"),
          Num.roundOut(col("cum") * 1.0 / col("total"), 4).as("cum_coverage"))
        .orderBy(col("token_id"))
    },

    // VOCABULARY COVERAGE / OOV-rate audit per source: what fraction of a
    // source's token stream the x31 top-100 vocabulary covers, and how
    // many distinct out-of-vocabulary types it carries — the go/no-go
    // check before freezing a tokenizer vocab against a new corpus mix
    // (a source with low coverage will fragment into fallback tokens and
    // blow up its effective sequence length). Same vocab rule as x31:
    // top-K words by (freq DESC, word).
    //
    // Scale: the vocab is a top-K via TakeOrderedAndProject then a
    // 100-row BROADCAST — the coverage probe is a map-side hash lookup
    // on the token stream, no shuffle; the only keyed exchanges are the
    // global word count (partial-agg) and the per-source distinct-OOV
    // aggregate. At 100 TB: one count pass + one broadcast-probe pass.
    // VOCABULARY COVERAGE SWEEP — the vocab-size tuning curve a
    // tokenizer freeze reads before x88's single-point audit: for K ∈
    // {10, 100, 1000}, the fraction of the token STREAM covered by the
    // top-K types (type counts are the x31 ranking rule: count desc,
    // word). The elbow of this curve is where vocabulary growth stops
    // paying.
    //
    // Scale: type counts shuffle once with map-side combine; the top-1000
    // candidate set comes from a distributed TakeOrderedAndProject (no
    // global sort, no vocabulary-sized window — the rank window runs on
    // 1000 rows AFTER the take); every K's coverage is computed FROM that
    // 1000-row table against broadcast corpus totals, so the sweep's cost
    // is independent of vocabulary size.
    QueryDef("x112_vocab_coverage_sweep",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), tf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE word <> '' GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
        |         CAST(count(*) AS BIGINT) AS n_types
        |  FROM tf
        |), top AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rd
        |  FROM tf QUALIFY rd <= 1000
        |), ks(k) AS (VALUES (CAST(10 AS BIGINT)), (100), (1000))
        |SELECT ks.k, CAST(count(*) AS BIGINT) AS n_in_vocab,
        |       CAST(sum(top.c) AS BIGINT) AS covered_tokens,
        |       tot.total_tokens, tot.n_types,
        |       round(1e-9 + sum(top.c) * 1.0 / tot.total_tokens, 6)
        |         AS coverage
        |FROM ks JOIN top ON top.rd <= ks.k, tot
        |GROUP BY ks.k, tot.total_tokens, tot.n_types
        |ORDER BY ks.k""".stripMargin) { (s, d) =>
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("total_tokens"),
        count(lit(1)).as("n_types"))
      val top = tf.orderBy(col("c").desc, col("word")).limit(1000)
        .withColumn("rd",
          row_number().over(Window.orderBy(col("c").desc, col("word"))))
      Seq(10L, 100L, 1000L).toDF("k")
        .join(broadcast(top), col("rd") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_in_vocab"),
          sum(col("c")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_in_vocab"), col("covered_tokens"),
          col("total_tokens"), col("n_types"),
          Num.roundOut(col("covered_tokens") * 1.0 / col("total_tokens"), 6)
            .as("coverage"))
        .orderBy(col("k"))
    },

    QueryDef("x88_oov_rate",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word
        |  FROM documents
        |), c AS (
        |  SELECT word, count(*) AS c FROM tok GROUP BY word
        |), v AS (
        |  SELECT word FROM c ORDER BY c DESC, word LIMIT 100
        |), j AS (
        |  SELECT t.source, t.word,
        |         CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END AS iv
        |  FROM tok t LEFT JOIN v ON t.word = v.word
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(iv) AS BIGINT) AS in_vocab,
        |       CAST(count(DISTINCT CASE WHEN iv = 0 THEN word END)
        |            AS BIGINT) AS oov_types,
        |       round(1e-9 + sum(iv) * 1.0 / count(*), 4) AS coverage
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(Text.tokens(col("text"))).as("word"))
      val vocab = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word")).limit(100)
        .select(col("word"), lit(1).as("hit"))
      tok.join(broadcast(vocab), Seq("word"), "left")
        .withColumn("iv", coalesce(col("hit"), lit(0)))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(col("iv")).cast("long").as("in_vocab"),
          countDistinct(when(col("iv") === 0, col("word")))
            .cast("long").as("oov_types"),
          Num.roundOut(sum(col("iv")) * 1.0 / count(lit(1)), 4)
            .as("coverage"))
        .orderBy(col("source"))
    },

    // Lexical DIVERSITY scoring: Gini–Simpson index and hapax fraction per
    // document — the entropy-family quality signal kept rational on
    // purpose (repeat-pair count D = Σc·(c−1) over term frequencies gives
    // 1 − D/(n·(n−1)) without a logarithm, so both engines compute
    // identical integer operands and ONE final division; a log2 entropy
    // would sum libm calls whose last ulp differs cross-engine — x23's
    // lesson). Shape: explode → (doc, word) partial-agg count → per-doc
    // agg; both aggregates map-side combine, the only shuffles are the
    // two keyed exchanges.
    QueryDef("x32_diversity",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
        |), m AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_hapax
        |  FROM tf GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, n_distinct, n_hapax,
        |       round(1e-9 + CASE WHEN n_tokens > 1
        |         THEN 1 - rep_pairs * 1.0 / (n_tokens * (n_tokens - 1))
        |         ELSE 0 END, 4) AS simpson,
        |       round(1e-9 + n_hapax * 1.0 / n_distinct, 4) AS hapax_frac
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"),
          sum(when(col("c") === 1, 1).otherwise(0)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("n_hapax"),
          Num.roundOut(when(col("n_tokens") > 1,
            lit(1) - col("rep_pairs") * 1.0
              / (col("n_tokens") * (col("n_tokens") - 1))).otherwise(0.0), 4)
            .as("simpson"),
          Num.roundOut(col("n_hapax") * 1.0 / col("n_distinct"), 4)
            .as("hapax_frac"))
        .orderBy(col("doc_id"))
    },

    // TOKENIZE → PACK end-to-end (the composition x31 + x18 feed): map
    // every token to its vocab id (top-100, OOV → id 100), reassemble
    // per-doc id sequences in token order, pack docs into 2048-token bins
    // per content-hash shard, and emit a rolling-hash CHECKSUM of each
    // bin's concatenated id stream (fold order: doc_id, then token
    // position). The checksum proves the exact packed content — ids,
    // order, and boundaries — without emitting arrays the hash compare
    // can't canonicalize. Scale: the vocab broadcast is K+1 ids forever;
    // per-doc reassembly is one (doc_id) shuffle; packing reuses x18's
    // per-shard window — one packing task per shard.
    QueryDef("x36_pack_ids",
      s"""WITH tok0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), w AS (
        |  SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS word
        |  FROM tok0
        |), c AS (
        |  SELECT word, count(*) AS c FROM w GROUP BY word
        |), r AS (
        |  SELECT word, row_number() OVER (ORDER BY c DESC, word) - 1 AS tid
        |  FROM c
        |), v AS (
        |  SELECT word, tid FROM r WHERE tid < 100
        |), ids AS (
        |  SELECT w.doc_id, w.pos, CAST(coalesce(v.tid, 100) AS BIGINT) AS id
        |  FROM w LEFT JOIN v ON w.word = v.word
        |), da AS (
        |  SELECT doc_id, list(id ORDER BY pos) AS ids, count(*) AS n_toks
        |  FROM ids GROUP BY doc_id
        |), sh AS (
        |  SELECT d.doc_id, da.ids, da.n_toks,
        |         CAST(${TextAnalysis.fingerprintSql} % 4 AS INT) AS shard
        |  FROM documents d JOIN da ON d.doc_id = da.doc_id
        |), cb AS (
        |  SELECT shard, doc_id, ids, n_toks,
        |         sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) - n_toks AS cum_before
        |  FROM sh
        |)
        |SELECT shard, CAST(floor(cum_before / 2048.0) AS INT) AS bin,
        |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
        |       list_reduce(list_prepend(CAST(7 AS BIGINT),
        |           flatten(list(ids ORDER BY doc_id))),
        |         (a, b) -> (a * 31 + b) % 1000000007) AS checksum
        |FROM cb GROUP BY shard, CAST(floor(cum_before / 2048.0) AS INT)
        |ORDER BY shard, bin""".stripMargin) { (s, d) =>
      // the persisted token-position table: tokenize runs once per
      // corpus, and this query's three consumers of the stream (vocab
      // count, id assignment, per-doc assembly) all read the same parquet
      val toks = Tokens.table(s, d).withColumnRenamed("i", "pos")
      val counts = toks.groupBy(col("word")).agg(count(lit(1)).as("c"))
      val vocab = counts.orderBy(col("c").desc, col("word")).limit(100)
        .withColumn("tid", (row_number().over(
          Window.orderBy(col("c").desc, col("word"))) - 1).cast("long"))
        .select(col("word"), col("tid"))
      val ids = toks.join(broadcast(vocab), Seq("word"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("tid"), lit(100L)).as("id"))
      val da = ids.groupBy(col("doc_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("id")))),
          p => p.getField("id")).as("ids"),
          count(lit(1)).as("n_toks"))
      val sh = TextAnalysis.fingerprintTable(s, d)
        .select(col("doc_id"), (col("fp") % 4).cast("int").as("shard"))
        .join(da, Seq("doc_id"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sh.withColumn("cum_before", sum(col("n_toks")).over(w) - col("n_toks"))
        .select(col("shard"),
          floor(col("cum_before") / 2048.0).cast("int").as("bin"),
          col("doc_id"), col("ids"), col("n_toks"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_tokens"),
          aggregate(
            flatten(transform(
              array_sort(collect_list(struct(col("doc_id"), col("ids")))),
              p => p.getField("ids"))),
            lit(7L), (acc, i) => (acc * 31 + i) % 1000000007L).as("checksum"))
        .orderBy(col("shard"), col("bin"))
    },

    // Domain-AUTHORITY scoring via PageRank (the Common-Crawl-style seed
    // quality signal: harmonic/PageRank centrality decides which domains'
    // pages are worth crawling and how hard to filter them). The link
    // graph is synthesized deterministically from doc ids (the fixture
    // has no hyperlinks) and pinned to doc_id < 400 so the graph — and
    // the oracle answer — is identical at every SF; a multiplicative
    // hash sparsifies it to irregular in/out-degrees. Two damped
    // (α=0.85) power iterations, unrolled. Cross-engine parity uses
    // x33's iterative-rounding trick: per-edge contributions AND per-node
    // ranks are rounded (8 dp, nudged) each iteration, so summation-order
    // noise never compounds. Dangling mass is not redistributed (sum<1):
    // authority is a relative quality WEIGHT here, not a distribution.
    //
    // Scale: each iteration is one (src) broadcast-or-shuffle join of the
    // rank vector onto the edge list plus a (dst) partial-agg — the
    // standard relational PageRank; ranks are |nodes|-sized, edges
    // |E|-sized, and the iteration count is fixed, so the plan is k
    // bounded shuffles regardless of corpus size.
    QueryDef("x37_pagerank",
      """WITH e AS (
        |  SELECT DISTINCT CAST(doc_id % 20 AS INT) AS src,
        |         CAST((doc_id // 20) % 20 AS INT) AS dst
        |  FROM documents
        |  WHERE doc_id < 400 AND (doc_id * 48271) % 100 < 18
        |    AND CAST(doc_id % 20 AS INT) <> CAST((doc_id // 20) % 20 AS INT)
        |), deg AS (
        |  SELECT src, count(*) AS d FROM e GROUP BY src
        |), nodes AS (
        |  SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e
        |), n AS (
        |  SELECT count(*) AS n FROM nodes
        |), p0 AS (
        |  SELECT node, round(1e-9 + 1.0 / n, 6) AS pr FROM nodes, n
        |), p1 AS (
        |  SELECT nodes.node,
        |         round(1e-9 + 0.15 / n + 0.85 * coalesce(s.m, 0), 6) AS pr
        |  FROM nodes
        |  LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + p0.pr / deg.d, 6)) AS m
        |    FROM e JOIN p0 ON e.src = p0.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) s ON nodes.node = s.node, n
        |), p2 AS (
        |  SELECT nodes.node,
        |         round(1e-9 + 0.15 / n + 0.85 * coalesce(s.m, 0), 6) AS pr
        |  FROM nodes
        |  LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + p1.pr / deg.d, 6)) AS m
        |    FROM e JOIN p1 ON e.src = p1.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) s ON nodes.node = s.node, n
        |)
        |SELECT node AS domain_id, pr AS authority,
        |       CAST(row_number() OVER (ORDER BY pr DESC, node) AS INT) AS rank
        |FROM p2 ORDER BY node""".stripMargin) { (s, d) =>
      val e = Tables.documents(s, d)
        .filter(col("doc_id") < 400 && (col("doc_id") * 48271) % 100 < 18)
        .select((col("doc_id") % 20).cast("int").as("src"),
          (expr("doc_id div 20") % 20).cast("int").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint() // tiny edge list feeds every iteration
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val n = nodes.agg(count(lit(1)).as("n"))
      val p0 = nodes.crossJoin(broadcast(n))
        .select(col("node"), Num.roundOut(lit(1.0) / col("n"), 6).as("pr"))
      def step(p: DataFrame): DataFrame = {
        val contrib = e
          .join(p.withColumnRenamed("node", "src"), Seq("src"))
          .join(deg, Seq("src"))
          .select(col("dst"), Num.roundOut(col("pr") / col("d"), 6).as("w"))
          .groupBy(col("dst")).agg(sum(col("w")).as("m"))
        nodes
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .crossJoin(broadcast(n))
          .select(col("node"), Num.roundOut(
            lit(0.15) / col("n") + lit(0.85) * coalesce(col("m"), lit(0.0)), 6)
            .as("pr"))
          .localCheckpoint() // |nodes| rows; severs the iteration lineage
      }
      val p2 = step(step(p0))
      // Partition-less rank window: input is the |nodes| authority vector
      // (≤20-row fixture graph; node-count-bounded at any corpus size) —
      // enrolled in Round9Spec's window inventory with that bound.
      p2.withColumn("rank", row_number().over(
          Window.orderBy(col("pr").desc, col("node"))).cast("int"))
        .select(col("node").as("domain_id"), col("pr").as("authority"),
          col("rank"))
        .orderBy(col("domain_id"))
    },

    // PERSONALIZED PageRank / TrustRank (Gyöngyi et al. VLDB'04; Haveliwala
    // WWW'02) — x37's teleport redirected to a TRUSTED SEED SET: restart
    // mass lands only on seeds {0, 7, 14}, so authority measures proximity
    // to trust rather than global centrality — the seed-propagation device
    // behind spam demotion and retrieval expansion. Same fixture graph,
    // same iterative-rounding parity trick (per-edge contributions AND
    // per-node ranks rounded 6 dp each of the THREE unrolled iterations,
    // so summation-order noise never compounds), with the trust-lift
    // column (milli-ratio of PPR to x37's global PR after the same number
    // of rounds) naming which domains trust REACHES vs which merely
    // accumulate in-links. Non-seed nodes with no trust path hold exactly
    // the damped-tail mass that reached them; the two vectors share every
    // building block (edges, degrees, nodes), so the comparison is
    // apples-to-apples by construction.
    //
    // Scale: identical to x37 — k bounded shuffles (rank-vector join onto
    // edges + dst partial-agg per iteration); the seed vector is a CASE
    // over the node id, never a table.
    QueryDef("x198_personalized_pagerank",
      """WITH e AS (
        |  SELECT DISTINCT CAST(doc_id % 20 AS INT) AS src,
        |         CAST((doc_id // 20) % 20 AS INT) AS dst
        |  FROM documents
        |  WHERE doc_id < 400 AND (doc_id * 48271) % 100 < 18
        |    AND CAST(doc_id % 20 AS INT) <> CAST((doc_id // 20) % 20 AS INT)
        |), deg AS (
        |  SELECT src, count(*) AS d FROM e GROUP BY src
        |), nodes AS (
        |  SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e
        |), n AS (
        |  SELECT count(*) AS n FROM nodes
        |), s0 AS (
        |  SELECT node,
        |         CASE WHEN node % 7 = 0 THEN round(1e-9 + 1.0 / 3, 6)
        |              ELSE 0.0 END AS sv
        |  FROM nodes
        |), t0 AS (SELECT node, sv AS pr FROM s0
        |), t1 AS (
        |  SELECT s0.node,
        |         round(1e-9 + 0.15 * s0.sv + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM s0 LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + t0.pr / deg.d, 6)) AS m
        |    FROM e JOIN t0 ON e.src = t0.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON s0.node = c.node
        |), t2 AS (
        |  SELECT s0.node,
        |         round(1e-9 + 0.15 * s0.sv + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM s0 LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + t1.pr / deg.d, 6)) AS m
        |    FROM e JOIN t1 ON e.src = t1.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON s0.node = c.node
        |), t3 AS (
        |  SELECT s0.node,
        |         round(1e-9 + 0.15 * s0.sv + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM s0 LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + t2.pr / deg.d, 6)) AS m
        |    FROM e JOIN t2 ON e.src = t2.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON s0.node = c.node
        |), g0 AS (
        |  SELECT node, round(1e-9 + 1.0 / n, 6) AS pr FROM nodes, n
        |), g1 AS (
        |  SELECT nodes.node,
        |         round(1e-9 + 0.15 / n + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM nodes
        |  LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + g0.pr / deg.d, 6)) AS m
        |    FROM e JOIN g0 ON e.src = g0.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node, n
        |), g2 AS (
        |  SELECT nodes.node,
        |         round(1e-9 + 0.15 / n + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM nodes
        |  LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + g1.pr / deg.d, 6)) AS m
        |    FROM e JOIN g1 ON e.src = g1.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node, n
        |), g3 AS (
        |  SELECT nodes.node,
        |         round(1e-9 + 0.15 / n + 0.85 * coalesce(c.m, 0), 6) AS pr
        |  FROM nodes
        |  LEFT JOIN (
        |    SELECT e.dst AS node, sum(round(1e-9 + g2.pr / deg.d, 6)) AS m
        |    FROM e JOIN g2 ON e.src = g2.node JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) c ON nodes.node = c.node, n
        |)
        |SELECT t3.node AS domain_id,
        |       CASE WHEN t3.node % 7 = 0 THEN 1 ELSE 0 END AS is_seed,
        |       t3.pr AS trust, g3.pr AS authority,
        |       CAST(round(1e-9 + t3.pr * 1000 / g3.pr) AS BIGINT)
        |         AS trust_lift_milli,
        |       CAST(row_number() OVER (ORDER BY t3.pr DESC, t3.node)
        |         AS INT) AS trust_rank
        |FROM t3 JOIN g3 ON t3.node = g3.node
        |ORDER BY domain_id""".stripMargin) { (s, d) =>
      val e = Tables.documents(s, d)
        .filter(col("doc_id") < 400 && (col("doc_id") * 48271) % 100 < 18)
        .select((col("doc_id") % 20).cast("int").as("src"),
          (expr("doc_id div 20") % 20).cast("int").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint() // tiny edge list feeds every iteration
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val n = nodes.agg(count(lit(1)).as("n"))
      val sv = when(col("node") % 7 === 0,
        Num.roundOut(lit(1.0) / 3.0, 6)).otherwise(lit(0.0))
      def contrib(p: DataFrame): DataFrame = e
        .join(p.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), Num.roundOut(col("pr") / col("d"), 6).as("w"))
        .groupBy(col("dst")).agg(sum(col("w")).as("m"))
      def stepT(p: DataFrame): DataFrame = nodes
        .join(contrib(p).withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), Num.roundOut(
          lit(0.15) * sv + lit(0.85) * coalesce(col("m"), lit(0.0)), 6)
          .as("pr"))
        .localCheckpoint()
      def stepG(p: DataFrame): DataFrame = nodes
        .join(contrib(p).withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"), Num.roundOut(
          lit(0.15) / col("n") + lit(0.85) * coalesce(col("m"), lit(0.0)), 6)
          .as("pr"))
        .localCheckpoint()
      val t0 = nodes.select(col("node"), sv.as("pr"))
      val t3 = stepT(stepT(stepT(t0)))
      val g0 = nodes.crossJoin(broadcast(n))
        .select(col("node"), Num.roundOut(lit(1.0) / col("n"), 6).as("pr"))
      val g3 = stepG(stepG(stepG(g0)))
      t3.withColumnRenamed("pr", "trust")
        .join(g3.withColumnRenamed("pr", "authority"), Seq("node"))
        // Partition-less rank window over the |nodes| trust vector —
        // node-count-bounded; enrolled in Round9Spec's window inventory.
        .withColumn("trust_rank", row_number().over(
          Window.orderBy(col("trust").desc, col("node"))).cast("int"))
        .select(col("node").as("domain_id"),
          when(col("node") % 7 === 0, 1).otherwise(0).as("is_seed"),
          col("trust"), col("authority"),
          round(lit(1e-9) + col("trust") * 1000 / col("authority"))
            .cast("long").as("trust_lift_milli"),
          col("trust_rank"))
        .orderBy(col("domain_id"))
    },

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): rank the raw pool by
    // how much each document's hashed-unigram distribution looks like a
    // curated TARGET domain (here: source 'src18', the largest). The LM
    // is HASHED — every word maps to one of 8192 buckets via the portable
    // char hash — so the model is ≤8192 rows FOREVER (broadcastable at any
    // corpus size; an unhashed vocab LM would outgrow the broadcast,
    // x07's lesson). Importance weight per bucket stays in INTEGER space:
    // r(b) = (1+target_b)·10^6 div (1+total_b) — add-one smoothing, one
    // integer division both engines compute identically; the only float is
    // the final per-doc mean, a single exact int64/int64 division (x23's
    // rational-parity rule). Plan: one explode+count pass builds the model
    // AND the per-doc bucket counts; scoring is a broadcast join.
    QueryDef("x38_dsir_select",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(len(t)),
        |             i -> CAST(unicode(t[i+1]) AS BIGINT))),
        |           (acc, c) -> (acc * 31 + c) % 1000000007) % 8192 AS b
        |  FROM (SELECT doc_id, source, unnest(list_filter(
        |          string_split(text, ' '), x -> len(x) > 0)) AS t
        |        FROM documents)
        |), db AS (
        |  SELECT doc_id, source, b, count(*) AS c FROM tok GROUP BY 1, 2, 3
        |), model AS (
        |  SELECT b,
        |         CAST((1 + sum(CASE WHEN source = 'src18' THEN c ELSE 0 END))
        |              * 1000000 AS BIGINT)
        |         // CAST(1 + sum(c) AS BIGINT) AS r
        |  FROM db GROUP BY b
        |)
        |SELECT d.doc_id, d.source, CAST(sum(d.c) AS BIGINT) AS n_tokens,
        |       round(1e-9 + sum(d.c * m.r) * 1.0 / sum(d.c), 6) AS dsir_score
        |FROM db d JOIN model m USING (b)
        |WHERE d.source <> 'src18'
        |GROUP BY d.doc_id, d.source
        |ORDER BY dsir_score DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(filter(Text.tokens(col("text")), w => length(w) > 0)).as("t"))
        .select(col("doc_id"), col("source"),
          (Text.charHash(col("t")) % 8192L).as("b"))
      val db = tok.groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // one tokenize pass feeds model AND scoring
      val model = db.groupBy(col("b"))
        .agg(sum(when(col("source") === "src18", col("c")).otherwise(0L)).as("t"),
          sum(col("c")).as("g"))
        .select(col("b"),
          expr("CAST((1 + t) * 1000000 AS BIGINT) div CAST(1 + g AS BIGINT)")
            .as("r"))
      db.filter(col("source") =!= "src18")
        .join(broadcast(model), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c") * col("r")).as("score"), sum(col("c")).as("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          Num.roundOut(col("score").cast("double") / col("n_tokens"), 6)
            .as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(100)
    },

    // Substring-SPAN dedup (Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better", the ExactSubstr idea at word
    // granularity): any 5-gram whose first corpus occurrence is EARLIER
    // (by (doc_id, offset)) marks its 5-token span as duplicated; covered
    // tokens are dropped and the survivors reassemble in order. Finer
    // than x30's fixed paragraphs — spans overlap and splice arbitrarily.
    //
    // Scale: the decision window shuffles (gram, doc, offset) keyed by
    // gram — never document bodies; coverage expansion is a bounded
    // explode (5 rows per duplicated gram); the kill-list anti-join and
    // reassembly are doc-keyed. The true suffix-array construction the
    // paper uses is a single-node algorithm; this gram-granular relational
    // form is the shape that distributes.
    QueryDef("x41_span_dedup", Corpus.x41OracleSql) { (s, d) =>
      Corpus.spanDedupFrom(Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("ws")))
    },

    // Heavy hitters by ESTIMATE-THEN-VERIFY: a Misra-Gries summary
    // ([[graft.functions.MisraGriesAggregator]], k=256) nominates an O(k)
    // candidate set whose membership may vary with partition order but is
    // GUARANTEED to contain every word above n/k; an exact recount of just
    // those candidates then applies the 1/40 report threshold. The final
    // answer is deterministic — which is what lets an approximate sketch
    // be DuckDB-hash-checked (same pattern as x02's estimate-then-verify
    // and x39's portable LSH).
    //
    // Scale: pass 1 aggregates to O(k) state per partition partial — no
    // per-word exchange, unlike groupBy(word) whose shuffle carries the
    // whole vocabulary (10^8+ keys on a web corpus). Pass 2 semi-joins on
    // a broadcast candidate list, so only <=k distinct keys reach the
    // exact count's exchange (map-side partials make it k rows per task).
    QueryDef("x42_heavy_hitters", Corpus.x42OracleSql) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
      val summary = words.agg(
        graft.functions.HeavyHitters(col("word")).as("mg"),
        count(lit(1)).as("n"))
      val candidates = summary
        .select(explode(map_keys(col("mg"))).as("word"), col("n"))
      words
        .join(broadcast(candidates.select("word")), Seq("word"), "left_semi")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(candidates.select("n").limit(1)))
        .filter(col("cnt") * 40 > col("n"))
        .select(col("word"), col("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    },

    // BPE MERGE LEARNING (Sennrich et al. 2016), three unrolled iterations
    // over the (word, freq) vocabulary: count adjacent symbol pairs
    // weighted by word frequency, take the top pair, merge it, repeat.
    // The sequential "apply merge greedily left-to-right, non-overlapping"
    // step — the reason BPE trainers are single-node loops — is expressed
    // relationally: inside each RUN of consecutive matching positions
    // (gaps-and-islands), greedy selection is exactly every OTHER position
    // from the run start ((pos - island_start) % 2 = 0), e.g. 'aaaa' under
    // (a,a) merges positions {0,2} -> 'aa aa'. Both engines compute the
    // identical selection, so the learned merges are hash-checked.
    //
    // Scale: everything after the initial corpus word count runs on the
    // VOCABULARY (distinct words × symbols) — orders of magnitude under
    // the corpus, the same working set a production BPE trainer holds.
    // Per iteration: two word-keyed window passes + one pair aggregate;
    // the top pair is a one-row broadcast.
    QueryDef("x44_bpe_merges",
      s"""WITH $bpeChainSql, p3 AS (
        |  SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, freq
        |  FROM r2
        |), t3 AS (
        |  SELECT l, r, sum(freq) AS cnt FROM p3 WHERE r IS NOT NULL
        |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
        |)
        |SELECT CAST(1 AS INT) AS rank, l, r, l || r AS merged, CAST(cnt AS BIGINT) AS cnt FROM t1
        |UNION ALL
        |SELECT 2, l, r, l || r, CAST(cnt AS BIGINT) FROM t2
        |UNION ALL
        |SELECT 3, l, r, l || r, CAST(cnt AS BIGINT) FROM t3
        |ORDER BY rank""".stripMargin) { (s, d) =>
      val (t1, t2, r2) = bpeLearn(s, d)
      val t3 = bpeTopPair(r2)
      def shape(t: DataFrame, rank: Int): DataFrame =
        t.select(lit(rank).as("rank"), col("l"), col("r"),
          concat(col("l"), col("r")).as("merged"), col("cnt"))
      shape(t1, 1).unionAll(shape(t2, 2)).unionAll(shape(t3, 3))
        .orderBy(col("rank"))
    },

    // BPE ENCODING — the learned artifact APPLIED: x44's first two merges
    // segment every vocabulary word into pieces, and the corpus is encoded
    // through a BROADCAST (word → piece count) map — the word-cache design
    // every production tokenizer uses (encode distinct words once, not
    // every token occurrence). Reports per-document fertility
    // (pieces/word), the standard tokenizer-quality metric.
    //
    // Scale: merge learning + word segmentation stay vocabulary-sized; the
    // corpus-sized work is one broadcast-join pass over tokens with a
    // per-doc partial aggregate. The word cache is |vocab| rows — if the
    // vocab outgrew a broadcast, the join degrades to one equi-shuffle on
    // word, nothing else changes.
    QueryDef("x45_bpe_encode",
      s"""WITH $bpeChainSql, pieces AS (
        |  SELECT word, count(*) AS n_pieces FROM r2 GROUP BY word
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |)
        |SELECT doc_id, count(*) AS n_words,
        |       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
        |       round(1e-9 + sum(n_pieces) * 1.0 / count(*), 4) AS pieces_per_word
        |FROM tok JOIN pieces USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (_, _, r2) = bpeLearn(s, d)
      val pieces = r2.groupBy(col("word")).agg(count(lit(1)).as("n_pieces"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
        .join(broadcast(pieces), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          Num.roundOut(sum(col("n_pieces")) * 1.0 / count(lit(1)), 4)
            .as("pieces_per_word"))
        .orderBy(col("doc_id"))
    },

    // COUNT-MIN SKETCH point queries ([[graft.functions.CountMinAggregator]],
    // d=4×w=64): one corpus pass folds every word occurrence into a 256-cell
    // counter matrix; est(x) = min over rows of x's cell — an overestimate,
    // NEVER an under (Cormode & Muthukrishnan 2005). Merge is pointwise
    // addition, so the merged sketch equals the sketch of the whole stream
    // whatever the partition order — which makes the sketch itself
    // RELATIONALLY CHECKABLE: the oracle recomputes each probed cell as
    // Σ counts of the words hashing into it and takes the same min. The
    // report probes the exact top-20 words and surfaces est − true ≥ 0,
    // the collision overcount (w=64 is sized so the fixture vocabulary
    // actually collides — the guarantee is exercised, not vacuous).
    //
    // Scale: the sketch pass carries O(d·w) state per partition partial
    // and NO per-word exchange — the x42 contrast is the point: Misra-
    // Gries answers "which keys are heavy", CMS answers "how often is
    // key x" for any x, both in fixed memory; groupBy(word) here exists
    // only to ground-truth the probe set.
    QueryDef("x54_countmin",
      s"""WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), c AS (
        |  SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word
        |), h AS (
        |  SELECT word, cnt, CAST(i AS INT) AS i,
        |         CAST(${graft.functions.Sketches.foldHashSql("word", "i")}
        |              % ${graft.functions.SketchAgg.CmsW} AS INT) AS cell
        |  FROM c CROSS JOIN (SELECT unnest(range(${graft.functions.SketchAgg.CmsD})) AS i)
        |), cells AS (
        |  SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS v FROM h GROUP BY i, cell
        |), probe AS (
        |  SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20
        |), est AS (
        |  SELECT p.word, p.cnt, min(cl.v) AS cms_est
        |  FROM probe p JOIN h ON h.word = p.word
        |  JOIN cells cl ON cl.i = h.i AND cl.cell = h.cell
        |  GROUP BY p.word, p.cnt
        |)
        |SELECT word, CAST(cnt AS BIGINT) AS cnt, cms_est,
        |       CAST(cms_est - cnt AS BIGINT) AS overcount
        |FROM est ORDER BY cnt DESC, word""".stripMargin) { (s, d) =>
      import graft.functions.{SketchAgg, Sketches}
      val words = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
      val sketch = words.agg(SketchAgg.countMin(col("word")).as("cms"))
      val probe = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
      probe.crossJoin(broadcast(sketch))
        .select(col("word"), col("cnt"),
          least((0 until SketchAgg.CmsD).map(i =>
            element_at(col("cms"),
              (lit(i * SketchAgg.CmsW) +
                pmod(Sketches.foldHashCol(col("word"), i),
                  lit(SketchAgg.CmsW.toLong))).cast("int") + 1)): _*)
            .as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    },

    // COUNTSKETCH FREQUENCY ESTIMATION — the UNBIASED sibling of x54's
    // Count-Min: signed counters (sign from an independent hash row)
    // make colliding types cancel in expectation instead of always
    // inflating, and the estimate is the MEDIAN over the d=3 rows
    // (computed exactly as sum − max − min — pure integers). On the
    // deliberately tiny 3×32 grid every bucket holds ~30 fighting
    // types, so the report's error column shows BOTH signs — the
    // under-counts Count-Min can never produce. The mergeable-summaries
    // contract is identical (pointwise addition), so every signed cell
    // is recomputed relationally by the oracle and checked exactly.
    //
    // Scale: one 96-counter row per partition partial regardless of
    // vocabulary; the probe is x54's broadcast-sketch shape — at 10^8+
    // types this is the frequency layer that replaces a groupBy(word)
    // exchange entirely.
    QueryDef("x114_countsketch",
      s"""WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |), c AS (
        |  SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word
        |), h AS (
        |  SELECT word, cnt, CAST(i AS INT) AS i,
        |         CAST(${graft.functions.Sketches.foldHashSql("word", "i")}
        |              % ${graft.functions.SketchAgg.CsW} AS INT) AS cell,
        |         CAST(1 - 2 * (${graft.functions.Sketches.foldHashSql("word",
               s"i + ${graft.functions.SketchAgg.CsD}")} % 2) AS BIGINT) AS sgn
        |  FROM c CROSS JOIN (SELECT unnest(range(${
               graft.functions.SketchAgg.CsD})) AS i)
        |), cells AS (
        |  SELECT i, cell, CAST(sum(sgn * cnt) AS BIGINT) AS v
        |  FROM h GROUP BY i, cell
        |), probe AS (
        |  SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20
        |), est AS (
        |  SELECT p.word, p.cnt,
        |         CAST(sum(h.sgn * cl.v) - max(h.sgn * cl.v)
        |              - min(h.sgn * cl.v) AS BIGINT) AS cs_est
        |  FROM probe p JOIN h ON h.word = p.word
        |  JOIN cells cl ON cl.i = h.i AND cl.cell = h.cell
        |  GROUP BY p.word, p.cnt
        |)
        |SELECT word, CAST(cnt AS BIGINT) AS cnt, cs_est,
        |       CAST(cs_est - cnt AS BIGINT) AS err
        |FROM est ORDER BY cnt DESC, word""".stripMargin) { (s, d) =>
      import graft.functions.{SketchAgg, Sketches}
      val words = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
      val sketch = words.agg(SketchAgg.countSketch(col("word")).as("cs"))
      val probe = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
      val ests = (0 until SketchAgg.CsD).map { i =>
        val sgn = lit(1L) - lit(2L) *
          pmod(Sketches.foldHashCol(col("word"), i + SketchAgg.CsD), lit(2L))
        (sgn * element_at(col("cs"),
          (lit(i * SketchAgg.CsW) +
            pmod(Sketches.foldHashCol(col("word"), i),
              lit(SketchAgg.CsW.toLong))).cast("int") + 1)).as(s"e$i")
      }
      probe.crossJoin(broadcast(sketch))
        .select(col("word") +: col("cnt") +: ests: _*)
        .select(col("word"), col("cnt"),
          (ests.indices.map(i => col(s"e$i")).reduce(_ + _)
            - greatest(ests.indices.map(i => col(s"e$i")): _*)
            - least(ests.indices.map(i => col(s"e$i")): _*)).as("cs_est"))
        .withColumn("err", col("cs_est") - col("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    },

    // BLOOM-FILTER DECONTAMINATION — the at-scale path for x19's
    // train-gram overlap check: an 8 KB bloom bitset
    // ([[graft.functions.BloomAggregator]], k=4, m=2^16) built over the
    // DISTINCT train trigrams in one pass (merge = bitwise OR) replaces
    // "join every eval gram against the train vocabulary" with "probe a
    // broadcast bitset, then exact-verify only the survivors". No false
    // negatives ever, so n_true below is the EXACT per-doc contamination
    // count x19 computes — while the verify join's probe side shrank to
    // true hits + ~11% false positives (fill^k at the fixture's load
    // factor; the n_bloom > n_true rows in the output are those FPs,
    // proving the probabilistic layer is real and accounted, not hidden).
    //
    // Scale: the train side aggregates to ONE 8 KB row regardless of
    // corpus size — broadcasting the train gram set itself (the x19
    // join's build side) stops being possible long before 100 TB, and
    // this is exactly Spark's own runtime-bloom-join shape, made explicit
    // and cross-engine-checkable. Bit probes are native column arithmetic
    // (element_at + shiftleft) — codegen'd, no UDF in the per-gram path.
    QueryDef("x55_bloom_decon",
      s"""WITH sp AS (
        |  SELECT doc_id, text,
        |         CASE WHEN ${TextAnalysis.fingerprintSql} % 100 < 80 THEN 'train'
        |              WHEN ${TextAnalysis.fingerprintSql} % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, split,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, split, string_split(text, ' ') AS ws FROM sp)
        |), tg AS (
        |  SELECT DISTINCT unnest(tri) AS g FROM s WHERE split = 'train'
        |), sb AS (
        |  -- the SHARED m-bit array (one bitset, k hash rows — classic
        |  -- Bloom, matching the aggregator): a bit is set if ANY (gram,
        |  -- row) lands on it, so i is deliberately absent here
        |  SELECT DISTINCT
        |         CAST(${graft.functions.Sketches.foldHashSql("g", "i")}
        |              % ${graft.functions.SketchAgg.BloomM} AS INT) AS pos
        |  FROM tg CROSS JOIN (SELECT unnest(range(${graft.functions.SketchAgg.BloomK})) AS i)
        |), ev AS (
        |  SELECT doc_id, split, CAST(len(tri) AS BIGINT) AS n_grams, tri
        |  FROM s WHERE split <> 'train'
        |), evh AS (
        |  SELECT doc_id, g, CAST(i AS INT) AS i,
        |         CAST(${graft.functions.Sketches.foldHashSql("g", "i")}
        |              % ${graft.functions.SketchAgg.BloomM} AS INT) AS pos
        |  FROM (SELECT doc_id, unnest(tri) AS g FROM ev)
        |  CROSS JOIN (SELECT unnest(range(${graft.functions.SketchAgg.BloomK})) AS i)
        |), bloomhit AS (
        |  SELECT doc_id, g FROM evh JOIN sb ON sb.pos = evh.pos
        |  GROUP BY doc_id, g
        |  HAVING count(*) = ${graft.functions.SketchAgg.BloomK}
        |), nb AS (
        |  SELECT doc_id, count(*) AS n_bloom FROM bloomhit GROUP BY doc_id
        |), tru AS (
        |  SELECT b.doc_id, count(*) AS n_true
        |  FROM bloomhit b JOIN tg ON b.g = tg.g GROUP BY b.doc_id
        |)
        |SELECT ev.doc_id, ev.split, ev.n_grams,
        |       CAST(coalesce(nb.n_bloom, 0) AS BIGINT) AS n_bloom,
        |       CAST(coalesce(tru.n_true, 0) AS BIGINT) AS n_true
        |FROM ev LEFT JOIN nb ON ev.doc_id = nb.doc_id
        |        LEFT JOIN tru ON ev.doc_id = tru.doc_id
        |ORDER BY ev.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.{SketchAgg, Sketches}
      val tri = Dedup.shingleTable(s, d)
        .join(TextAnalysis.fingerprintTable(s, d), "doc_id")
        .withColumn("bucket", TextAnalysis.fpBucket)
        .select(col("doc_id"),
          TextAnalysis.splitLabel(col("bucket")).as("split"),
          col("tri"))
      // feeds the bloom build AND the exact verify join (x23's pattern);
      // the gram set AND the bitset are persisted ingest artifacts — the
      // bloom build folds 4 interpreted char hashes per distinct train
      // gram, which warm runs now skip entirely
      val trainGrams = TextAnalysis.trainGramTable(s, d)
      val bloomDf = DerivedTable(s, d, Artifacts.bloombits) {
        trainGrams.agg(SketchAgg.bloomBits(col("g")).as("bits"))
      }
      val ev = tri.filter(col("split") =!= "train")
      val evg = ev.select(col("doc_id"), explode(col("tri")).as("g"))
      // the fold hash is an interpreted per-char HOF — the heavy scalar
      // here — and a bloom verdict depends only on the GRAM, so probe
      // each DISTINCT gram once (~40x fewer folds than per-occurrence)
      // and semi-join occurrences against the passing grams
      val distinctG = evg.select(col("g")).distinct()
        .crossJoin(broadcast(bloomDf))
      val withPos = (0 until SketchAgg.BloomK).foldLeft(distinctG)((df, i) =>
        df.withColumn(s"p$i",
          pmod(Sketches.foldHashCol(col("g"), i),
            lit(SketchAgg.BloomM.toLong)).cast("int")))
      val hit = (0 until SketchAgg.BloomK).map(i =>
          expr(s"(element_at(bits, CAST((p$i div 64) + 1 AS INT)) & " +
            s"shiftleft(CAST(1 AS BIGINT), p$i % 64)) != 0"))
        .reduce(_ && _)
      val passing = withPos.filter(hit).select(col("g"))
      val hits = evg.join(passing, Seq("g"), "left_semi")
        .select(col("doc_id"), col("g"))
      val nb = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))
      val tru = hits.join(trainGrams, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_true"))
      ev.select(col("doc_id"), col("split"),
          size(col("tri")).cast("long").as("n_grams"))
        .join(nb, Seq("doc_id"), "left")
        .join(tru, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"), col("n_grams"),
          coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
          coalesce(col("n_true"), lit(0L)).as("n_true"))
        .orderBy(col("doc_id"))
    },

    // STRATIFIED EVAL-SET CONSTRUCTION with exact proportional allocation
    // (Hamilton's largest-remainder method): a fixed budget of B=40 docs
    // is split across (source, lang) strata as q0_k = ⌊B·n_k/N⌋ plus one
    // bonus seat for the L = B−Σq0 strata with the largest integer
    // remainders B·n_k mod N (ties → stratum name). Within each stratum
    // the quota is filled by x64's deterministic integer-mixer priority
    // over doc_id — re-ingestion-stable, cluster-order-independent, zero
    // RNG. Output pins the full allocation AND the exact selection
    // (id_sum) per stratum. Every step is integer math; there is no FP
    // anywhere in the query.
    //
    // Scale: stratum stats are one partial-agg pass; the allocation table
    // is strata-sized (broadcast); selection is a per-stratum bounded
    // top-quota (quota ≤ B) — the per-stratum window sorts only within
    // strata, and B is a constant, so at 100 TB this is the salted
    // bottom-k shape (x64) with a trivially small k.
    QueryDef("x77_stratified_eval",
      """WITH d AS (
        |  SELECT doc_id, source, lang FROM documents
        |), n AS (
        |  SELECT source, lang, count(*) AS n_k FROM d GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(n_k) AS BIGINT) AS n FROM n
        |), q AS (
        |  SELECT source, lang, n_k,
        |         CAST((40 * n_k) // n AS BIGINT) AS q0,
        |         CAST((40 * n_k) % n AS BIGINT) AS rem
        |  FROM n, tot
        |), lft AS (
        |  SELECT CAST(40 - sum(q0) AS BIGINT) AS l FROM q
        |), qq AS (
        |  SELECT source, lang, n_k, q0,
        |         row_number() OVER (ORDER BY rem DESC, source, lang) AS rr
        |  FROM q
        |), quota AS (
        |  SELECT source, lang, n_k,
        |         q0 + CASE WHEN rr <= l THEN 1 ELSE 0 END AS quota
        |  FROM qq, lft
        |), h0 AS (
        |  SELECT doc_id, source, lang, doc_id & 4294967295 AS a FROM d
        |), h1 AS (
        |  SELECT doc_id, source, lang,
        |         (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM h0
        |), h2 AS (
        |  SELECT doc_id, source, lang,
        |         (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM h1
        |), pv AS (
        |  SELECT doc_id, source, lang, xor(a >> 16, a) AS pri FROM h2
        |), rk AS (
        |  SELECT source, lang, doc_id,
        |         row_number() OVER (PARTITION BY source, lang
        |                            ORDER BY pri, doc_id) AS rn
        |  FROM pv
        |), sel AS (
        |  SELECT r.source, r.lang, r.doc_id
        |  FROM rk r JOIN quota t ON r.source = t.source AND r.lang = t.lang
        |  WHERE r.rn <= t.quota
        |)
        |SELECT t.source, t.lang, CAST(t.n_k AS BIGINT) AS n_docs,
        |       CAST(t.quota AS BIGINT) AS quota,
        |       CAST(count(s.doc_id) AS BIGINT) AS n_sel,
        |       CAST(coalesce(sum(s.doc_id), 0) AS BIGINT) AS id_sum
        |FROM quota t LEFT JOIN sel s
        |  ON s.source = t.source AND s.lang = t.lang
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val B = 40
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"))
      val n = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_k"))
      val tot = n.agg(sum(col("n_k")).as("n"))
      val q = n.crossJoin(broadcast(tot))
        .withColumn("q0", expr(s"($B * n_k) div n"))
        .withColumn("rem", expr(s"($B * n_k) % n"))
      val lft = q.agg((lit(B) - sum(col("q0"))).as("l"))
      val quota = q
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("source"), col("lang"))))
        .crossJoin(broadcast(lft))
        .select(col("source"), col("lang"), col("n_k"),
          (col("q0") + when(col("rr") <= col("l"), 1).otherwise(0))
            .as("quota"))
      val pv = docs
        .withColumn("a", expr("doc_id & 4294967295"))
        .withColumn("a", expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
        .withColumn("a", expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
        .withColumn("pri", expr("shiftright(a, 16) ^ a"))
        .drop("a")
      val rk = pv.withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("lang"))
          .orderBy(col("pri"), col("doc_id"))))
      val sel = rk.join(broadcast(quota), Seq("source", "lang"))
        .filter(col("rn") <= col("quota"))
        .select(col("source"), col("lang"), col("doc_id"))
      quota.join(
          sel.groupBy(col("source"), col("lang"))
            .agg(count(lit(1)).as("n_sel"), sum(col("doc_id")).as("id_sum")),
          Seq("source", "lang"), "left")
        .select(col("source"), col("lang"), col("n_k").as("n_docs"),
          col("quota"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"))
        .orderBy(col("source"), col("lang"))
    },

    // COUNT-MIN JOIN-SIZE ESTIMATION (Cormode & Muthukrishnan 2005 §4.2;
    // the AMS-style sketch inner product every cost-based optimizer
    // variant of this uses): |A ⋈ B| on a key = Σ_k cnt_A(k)·cnt_B(k),
    // estimated as min_i Σ_cell cmA[i][cell]·cmB[i][cell] — each sketch
    // row's inner product ≥ the true join size (collision mass only
    // adds), so min is the tightest upper bound; the estimate NEVER
    // undercounts (spec-pinned). Sketches reuse x54's d=4×w=64 layout
    // and fold hash, so every counter is integer and both engines build
    // bit-identical sketches; the one float op is the final over-factor.
    //
    // Scale: this is the point of the operator — each side compresses to
    // ONE d·w-counter row in a single partial-agg pass (mergeable across
    // any partitioning), and the "join" being sized never runs. At
    // 100 TB the exact arm below (key-count join) is what the estimator
    // replaces; it is computed here only because the testdata makes the
    // ground truth affordable for the oracle.
    QueryDef("x78_cm_join_estimate",
      s"""WITH ko AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS cnt
        |  FROM orders GROUP BY 1
        |), kc AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS k, count(*) AS cnt
        |  FROM customer GROUP BY 1
        |), ho AS (
        |  SELECT k, cnt, CAST(i AS INT) AS i,
        |         CAST(${graft.functions.Sketches.foldHashSql("k", "i")}
        |              % ${graft.functions.SketchAgg.CmsW} AS INT) AS cell
        |  FROM ko CROSS JOIN
        |    (SELECT unnest(range(${graft.functions.SketchAgg.CmsD})) AS i)
        |), hc AS (
        |  SELECT k, cnt, CAST(i AS INT) AS i,
        |         CAST(${graft.functions.Sketches.foldHashSql("k", "i")}
        |              % ${graft.functions.SketchAgg.CmsW} AS INT) AS cell
        |  FROM kc CROSS JOIN
        |    (SELECT unnest(range(${graft.functions.SketchAgg.CmsD})) AS i)
        |), co AS (
        |  SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS v FROM ho GROUP BY 1, 2
        |), cc AS (
        |  SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS v FROM hc GROUP BY 1, 2
        |), ip AS (
        |  SELECT a.i, CAST(sum(a.v * b.v) AS BIGINT) AS est
        |  FROM co a JOIN cc b ON a.i = b.i AND a.cell = b.cell GROUP BY 1
        |), ex AS (
        |  SELECT CAST(coalesce(sum(o.cnt * c.cnt), 0) AS BIGINT) AS exact_rows
        |  FROM ko o JOIN kc c ON o.k = c.k
        |)
        |SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM ko) AS n_orders,
        |       (SELECT CAST(sum(cnt) AS BIGINT) FROM kc) AS n_customers,
        |       exact_rows,
        |       (SELECT CAST(min(est) AS BIGINT) FROM ip) AS cm_est,
        |       round(1e-9 + (SELECT min(est) FROM ip) * 1.0 / exact_rows, 4)
        |         AS over_factor
        |FROM ex""".stripMargin) { (s, d) =>
      import graft.functions.SketchAgg
      val D = SketchAgg.CmsD; val W = SketchAgg.CmsW
      val ko = Tables.orders(s, d)
        .select(col("o_custkey").cast("string").as("k"))
      val kc = Tables.customer(s, d)
        .select(col("c_custkey").cast("string").as("k"))
      val cmO = ko.agg(SketchAgg.countMin(col("k")).as("cma"))
      val cmC = kc.agg(SketchAgg.countMin(col("k")).as("cmb"))
      def rowIp(i: Int) = aggregate(
        zip_with(slice(col("cma"), i * W + 1, W), slice(col("cmb"), i * W + 1, W),
          (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      val est = cmO.crossJoin(cmC)
        .select(least((0 until D).map(rowIp): _*).as("cm_est"))
      val cntO = ko.groupBy(col("k")).agg(count(lit(1)).as("cnt_o"))
      val cntC = kc.groupBy(col("k")).agg(count(lit(1)).as("cnt_c"))
      val exact = cntO.join(cntC, "k")
        .agg(coalesce(sum(col("cnt_o") * col("cnt_c")), lit(0L))
          .as("exact_rows"))
      val sizes = ko.agg(count(lit(1)).as("n_orders"))
        .crossJoin(kc.agg(count(lit(1)).as("n_customers")))
      sizes.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
        .select(col("n_orders"), col("n_customers"), col("exact_rows"),
          col("cm_est"),
          Num.roundOut(col("cm_est") * 1.0 / col("exact_rows"), 4)
            .as("over_factor"))
    },

    // TEMPERATURE-WEIGHTED SOURCE MIXING (the multinomial α-sampling every
    // multi-source LLM corpus uses; α = 1/2 here): each source's sampling
    // weight ∝ its token count to the α, i.e. √tokens — upweighting small
    // high-quality sources, damping the web crawl. The √ is taken ONCE per
    // source on a 10⁶-scaled integer (floor(√(tokens·10⁶)) — IEEE sqrt is
    // correctly rounded, so the integer weight is bit-identical
    // cross-engine), and the B=1000-doc budget is then allocated by x77's
    // integer-exact Hamilton largest-remainder — no FP anywhere in the
    // allocation itself. `epochs` (quota/docs) > 1 flags the sources the
    // mixture would repeat — the number a training-data curator actually
    // reads off this table.
    //
    // Scale: per-source token counts are one partial-agg pass over the
    // corpus (the per-row token count is column math, no explode); the
    // allocation table is sources-sized — broadcast territory forever.
    QueryDef("x81_temperature_mix",
      """WITH sz AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(list_filter(string_split(text, ' '),
        |                  w -> len(w) > 0))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, n_docs, n_tok,
        |         CAST(floor(sqrt(n_tok * 1000000.0)) AS BIGINT) AS wt
        |  FROM sz
        |), tw AS (
        |  SELECT CAST(sum(wt) AS BIGINT) AS tot FROM w
        |), q AS (
        |  SELECT source, n_docs, n_tok, wt,
        |         CAST((1000 * wt) // tot AS BIGINT) AS q0,
        |         CAST((1000 * wt) % tot AS BIGINT) AS rem,
        |         CAST((1000000 * wt) // tot AS BIGINT) AS weight_ppm
        |  FROM w, tw
        |), lft AS (
        |  SELECT CAST(1000 - sum(q0) AS BIGINT) AS l FROM q
        |), qq AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM q
        |)
        |SELECT source, n_docs, n_tok AS n_tokens, weight_ppm,
        |       q0 + CASE WHEN rr <= l THEN 1 ELSE 0 END AS quota,
        |       round(1e-9 + (q0 + CASE WHEN rr <= l THEN 1 ELSE 0 END) * 1.0
        |             / n_docs, 4) AS epochs
        |FROM qq, lft ORDER BY source""".stripMargin) { (s, d) =>
      val B = 1000
      val sz = Tables.documents(s, d)
        .select(col("source"),
          size(filter(Text.tokens(col("text")), w => length(w) > 0))
            .cast("long").as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tok"))
      val w = sz.withColumn("wt",
        floor(sqrt(col("n_tok") * lit(1000000.0))).cast("long"))
      val tw = w.agg(sum(col("wt")).as("tot"))
      val q = w.crossJoin(broadcast(tw))
        .withColumn("q0", expr(s"($B * wt) div tot"))
        .withColumn("rem", expr(s"($B * wt) % tot"))
        .withColumn("weight_ppm", expr("(1000000 * wt) div tot"))
      val lft = q.agg((lit(B) - sum(col("q0"))).as("l"))
      val quota = q
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(lft))
        .withColumn("quota",
          col("q0") + when(col("rr") <= col("l"), 1L).otherwise(0L))
      quota.select(col("source"), col("n_docs"), col("n_tok").as("n_tokens"),
          col("weight_ppm"), col("quota"),
          Num.roundOut(col("quota") * 1.0 / col("n_docs"), 4).as("epochs"))
        .orderBy(col("source"))
    },

    // LENGTH-CURRICULUM BUCKETING — the padding-waste audit behind bucketed
    // batching (group sequences into power-of-two length buckets so a batch
    // pads to its bucket cap, not the global max): per-doc token counts map
    // to the smallest 2^k ≥ n (floor cap 8), and each bucket reports its
    // doc count, real tokens, pad tokens, and waste% — the table that
    // decides whether a trainer needs sequence packing (x18) or can batch
    // by bucket. next-pow-2 comes from the shared [[TextAnalysis.pow2Table]]
    // greatest-lower-bound join (pure integers; no FP until the one
    // waste-percentage division, same-order on both engines).
    //
    // Scale: the per-doc token count is column math on the documents scan
    // (no explode); the bucket map is a 63-row broadcast; the final state
    // is one row per occupied bucket — O(log max_len) forever.
    QueryDef("x82_length_curriculum",
      s"""WITH dn AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
        |                  w -> len(w) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), p2(k, v) AS (
        |  VALUES ${TextAnalysis.pow2ValuesSql}
        |), cap AS (
        |  SELECT doc_id, n, greatest(CAST(min(v) AS BIGINT), 8) AS cap
        |  FROM dn JOIN p2 ON p2.v >= dn.n GROUP BY doc_id, n
        |)
        |SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS sum_tokens,
        |       CAST(sum(cap - n) AS BIGINT) AS padding,
        |       round(1e-9 + sum(cap - n) * 100.0 / (count(*) * cap), 4)
        |         AS waste_pct
        |FROM cap GROUP BY cap ORDER BY cap""".stripMargin) { (s, d) =>
      import s.implicits._
      val dn = Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(Text.tokens(col("text")), w => length(w) > 0))
            .cast("long").as("n"))
      val p2 = broadcast(TextAnalysis.pow2Table.toDF("k", "v"))
      val cap = dn.join(p2, col("v") >= col("n"))
        .groupBy(col("doc_id"), col("n"))
        .agg(greatest(min(col("v")), lit(8L)).as("cap"))
      cap.groupBy(col("cap"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("sum_tokens"),
          sum(col("cap") - col("n")).as("padding"))
        .select(col("cap"), col("n_docs"), col("sum_tokens"), col("padding"),
          Num.roundOut(col("padding") * 100.0 / (col("n_docs") * col("cap")), 4)
            .as("waste_pct"))
        .orderBy(col("cap"))
    },

    // HITS HUBS-AND-AUTHORITIES over the bipartite user↔event-type graph
    // (Kleinberg JACM'99) — x37's pagerank answers "which nodes are
    // globally central"; HITS answers the two-sided question a
    // source-selection pipeline actually has: which CONTENT TYPES do the
    // most engaged accounts concentrate on (authority), weighting each
    // account by the breadth of types it touches (hub). Two unnormalized
    // iterations stay in pure INTEGERS — a₀ ≡ 1, h₁(u) = deg(u),
    // a₁(t) = Σ_{u∈N(t)} h₁(u), h₂(u) = Σ_{t∈N(u)} a₁(t), a₂(t) =
    // Σ_{u∈N(t)} h₂(u); normalization only rescales, so the RANKING is
    // the converged ranking signal and cross-engine parity is exact
    // (no per-iteration float rounding at all, one step simpler than
    // x37's rounded-contribution trick). [[hitsAuthorities]] is the
    // whole iteration; Round8Spec replays it on a crafted graph against
    // hand-computed scores.
    //
    // Scale: each half-iteration is one equi-join of a score vector onto
    // the distinct edge list plus a partial+final aggregate — the
    // relational HITS. The authority vector is event-types-sized
    // (broadcast onto the edges); the hub vector is users-sized and
    // shuffles on user_id like every other per-user aggregate here.
    QueryDef("x120_hits",
      """WITH e AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |), h1 AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS h FROM e GROUP BY 1
        |), a1 AS (
        |  SELECT e.event_type, CAST(sum(h1.h) AS BIGINT) AS a
        |  FROM e JOIN h1 USING (user_id) GROUP BY 1
        |), h2 AS (
        |  SELECT e.user_id, CAST(sum(a1.a) AS BIGINT) AS h
        |  FROM e JOIN a1 USING (event_type) GROUP BY 1
        |), a2 AS (
        |  SELECT e.event_type, CAST(sum(h2.h) AS BIGINT) AS a
        |  FROM e JOIN h2 USING (user_id) GROUP BY 1
        |), nu AS (
        |  SELECT event_type, count(*) AS n_users FROM e GROUP BY 1
        |)
        |SELECT a2.event_type, nu.n_users, a1.a AS auth_1, a2.a AS auth_2,
        |       CAST(row_number() OVER (ORDER BY a2.a DESC, a2.event_type)
        |            AS INT) AS rnk
        |FROM a2 JOIN a1 USING (event_type) JOIN nu USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      Corpus.hitsAuthorities(
        Tables.events(s, d).select(col("user_id"), col("event_type")))
    },

    // STOPWORD DISCOVERY — corpus-driven stopword induction by DOCUMENT
    // frequency (the retrieval/indexing decision x48's scorer and x31's
    // vocabulary both depend on): a term in ≥ half the documents carries
    // no discrimination power (its BM25 idf ≈ 0) and belongs on the
    // index's skip list. Per candidate: df (documents containing), cf
    // (stream occurrences), df share, token-stream share — cf vs df
    // separates "everywhere and often" (true stopword) from "everywhere
    // but once" (boilerplate header, a different removal policy). The
    // ≥50 % rule is the integer predicate 2·df ≥ N — no float boundary.
    //
    // Scale: df needs distinct (word, doc) — one map-side-combined
    // distinct then a word-keyed count; cf is a plain word count; both
    // read the persisted token table, and the report is a top-20
    // TakeOrderedAndProject.
    QueryDef("x131_stopwords",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |                                    w -> len(w) > 0)) AS word
        |  FROM documents
        |), cf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY 1
        |), df AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY 1
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST((SELECT sum(cf) FROM cf) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT cf.word, df.df, cf.cf,
        |       round(1e-9 + df.df * 1.0 / nn.n_docs, 4) AS df_pct,
        |       round(1e-9 + cf.cf * 1.0 / nn.n_tokens, 6) AS stream_share,
        |       2 * df.df >= nn.n_docs AS is_stopword
        |FROM cf JOIN df USING (word), nn
        |ORDER BY df.df DESC, cf.word LIMIT 20""".stripMargin) { (s, d) =>
      val tok = Tokens.table(s, d).filter(length(col("word")) > 0)
      val cf = tok.groupBy(col("word")).agg(count(lit(1)).as("cf"))
      val df = tok.select(col("doc_id"), col("word")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val nn = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(cf.agg(sum(col("cf")).as("n_tokens")))
      cf.join(df, "word")
        .crossJoin(broadcast(nn))
        .select(col("word"), col("df"), col("cf"),
          Num.roundOut(col("df") * 1.0 / col("n_docs"), 4).as("df_pct"),
          Num.roundOut(col("cf") * 1.0 / col("n_tokens"), 6).as("stream_share"),
          (lit(2) * col("df") >= col("n_docs")).as("is_stopword"))
        .orderBy(col("df").desc, col("word"))
        .limit(20)
    },

    // LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007) — the fourth
    // graph primitive next to x37's pagerank (centrality), x20's
    // hash-min connected components (reachability), and q80/q84: LP
    // finds DENSELY-linked groups inside one component by majority
    // vote — each node adopts the most frequent label among its
    // neighbours, ties broken by SMALLEST label, two synchronous rounds
    // unrolled. Vote counting is pure integers and the tiebreak a
    // deterministic rank, so both engines converge identically (no
    // float, no randomized order — the async/random variant of LP is
    // deliberately avoided for reproducibility). The graph is x37's
    // deterministic synthesis widened to 100 nodes and symmetrized
    // (LP is an undirected-graph algorithm).
    //
    // Scale: each round is one join of the labels vector onto the edge
    // list + a (node, label) partial count + a per-node rank — the
    // relational LP step; labels are nodes-sized, rounds fixed. The
    // report aggregates to communities.
    QueryDef("x133_label_prop", Corpus.x133OracleSql) { (s, d) =>
      val (_, l1, l2) = Corpus.lpPipeline(s, d)
      val sz = l2.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
      l2.join(l1.withColumnRenamed("lbl", "label_r1"), "node")
        .join(broadcast(sz), "lbl")
        .select(col("node"), col("label_r1"), col("lbl").as("label_r2"),
          col("community_size"))
        .orderBy(col("node"))
    },

    // MODULARITY SCORING of the LP partition — the quality number that
    // says whether x133's communities are REAL structure or noise
    // (Newman–Girvan Q: internal-edge fraction minus the degree-squared
    // expectation under random rewiring; Q ≈ 0 ⇒ no better than
    // chance). Per community the contribution is computed in MICRO
    // units of pure integers — q_micro = (e_c·10⁶) div (2m) −
    // (d_c²·10⁶) div (4m²), directed-edge convention so 2m = |E_sym| —
    // identical truncation on both engines, no float anywhere. The
    // same lpPipeline (and, in the oracle, the same lpCteSql) that
    // produced the labels produces the score: one algorithm definition,
    // two consumers.
    //
    // Scale: internal-edge counting is one labels⋈edges⋈labels
    // equi-join with a communities-sized aggregate; degree sums are a
    // node-keyed count. Everything after the edge join is
    // communities-sized.
    QueryDef("x138_modularity",
      s"""${Corpus.lpCteSql}, deg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |  FROM e GROUP BY 1
        |), tm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
        |intra AS (
        |  SELECT la.lbl, CAST(count(*) AS BIGINT) AS e_c
        |  FROM e JOIN l2 la ON la.node = e.src
        |         JOIN l2 lb ON lb.node = e.dst
        |  WHERE la.lbl = lb.lbl GROUP BY la.lbl
        |), dsum AS (
        |  SELECT l2.lbl, CAST(sum(deg.d) AS BIGINT) AS d_c,
        |         CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM l2 JOIN deg USING (node) GROUP BY l2.lbl
        |)
        |SELECT dsum.lbl AS community, dsum.n_nodes,
        |       CAST(coalesce(intra.e_c, 0) AS BIGINT) AS internal_directed,
        |       dsum.d_c AS degree_sum,
        |       CAST(coalesce(intra.e_c, 0) * 1000000 // tm.m2
        |            - dsum.d_c * dsum.d_c * 1000000 // (tm.m2 * tm.m2)
        |            AS BIGINT) AS q_micro
        |FROM dsum LEFT JOIN intra ON intra.lbl = dsum.lbl, tm
        |ORDER BY community""".stripMargin) { (s, d) =>
      val (e, _, l2) = Corpus.lpPipeline(s, d)
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val m2 = e.agg(count(lit(1)).as("m2"))
      val la = l2.select(col("node").as("src"), col("lbl").as("la"))
      val lb = l2.select(col("node").as("dst"), col("lbl").as("lb"))
      val intra = e.join(broadcast(la), "src").join(broadcast(lb), "dst")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
      val dsum = l2.join(deg, "node")
        .groupBy(col("lbl"))
        .agg(sum(col("dg")).as("d_c"), count(lit(1)).as("n_nodes"))
      dsum.join(intra, Seq("lbl"), "left")
        .crossJoin(broadcast(m2))
        .select(col("lbl").as("community"), col("n_nodes"),
          coalesce(col("e_c"), lit(0L)).as("internal_directed"),
          col("d_c").as("degree_sum"),
          (expr("coalesce(e_c, 0) * 1000000 div m2")
            - expr("d_c * d_c * 1000000 div (m2 * m2)")).as("q_micro"))
        .orderBy(col("community"))
    },

    // BLOOM-FILTER SIZING SWEEP — the m-bits decision x55's fixed-size
    // filter hard-codes, measured instead of guessed (the x83-nprobe /
    // x91-bands protocol applied to the decontamination bitset): the
    // SAME train-gram member set is folded into bitsets of m ∈ {2¹⁴,
    // 2¹⁶, 2¹⁸} (k = 4 throughout), then probed with the TRUE NEGATIVES
    // (val/test grams provably absent from train), giving the measured
    // false-positive rate next to the occupancy that drives it — the
    // fpp ≈ occupancy⁴ relation is directly visible across the three
    // rows, which is exactly the evidence needed to size m for a target
    // fpp at 100 TB membership scale. The k hash folds are computed
    // ONCE per gram and reduced mod each m (the sweep costs three
    // modulos, not three hash passes).
    //
    // Scale: positions are (grams × k × |m-sweep|)-sized with map-side
    // distinct; the probe is an inverted equi-join on (m, position);
    // the report is 3 rows. At production scale the bitset itself is
    // the persisted artifact and this sweep runs once per corpus
    // generation.
    QueryDef("x137_bloom_sizing",
      s"""WITH sp AS (
        |  SELECT doc_id, text,
        |         CASE WHEN ${TextAnalysis.fingerprintSql} % 100 < 80
        |              THEN 'train' ELSE 'eval' END AS split
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, split,
        |         list_distinct(CASE WHEN len(ws) < 3 THEN []
        |           ELSE list_transform(range(len(ws) - 2),
        |                i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3]) END) AS tri
        |  FROM (SELECT doc_id, split, string_split(text, ' ') AS ws FROM sp)
        |), tg AS (
        |  SELECT DISTINCT unnest(tri) AS g FROM s WHERE split = 'train'
        |), neg AS (
        |  SELECT eg.g FROM (
        |    SELECT DISTINCT unnest(tri) AS g FROM s WHERE split = 'eval') eg
        |  LEFT JOIN tg ON tg.g = eg.g WHERE tg.g IS NULL
        |), ms(m) AS (VALUES (16384), (65536), (262144)),
        |mh AS (
        |  SELECT g, CAST(i AS INT) AS i,
        |         ${graft.functions.Sketches.foldHashSql("g", "i")} AS h
        |  FROM tg CROSS JOIN (SELECT unnest(range(4)) AS i)
        |), mpos AS (
        |  SELECT DISTINCT ms.m, CAST(mh.h % ms.m AS INT) AS pos
        |  FROM mh CROSS JOIN ms
        |), occ AS (
        |  SELECT m, CAST(count(*) AS BIGINT) AS bits_set FROM mpos GROUP BY m
        |), nh AS (
        |  SELECT g, CAST(i AS INT) AS i,
        |         ${graft.functions.Sketches.foldHashSql("g", "i")} AS h
        |  FROM neg CROSS JOIN (SELECT unnest(range(4)) AS i)
        |), nhit AS (
        |  SELECT ms.m, nh.g
        |  FROM nh CROSS JOIN ms
        |  JOIN mpos ON mpos.m = ms.m AND mpos.pos = CAST(nh.h % ms.m AS INT)
        |  GROUP BY ms.m, nh.g HAVING count(*) = 4
        |), fp AS (
        |  SELECT m, CAST(count(*) AS BIGINT) AS n_fp FROM nhit GROUP BY m
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_neg FROM neg),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM tg)
        |SELECT occ.m, nm.n_members, occ.bits_set,
        |       round(1e-9 + occ.bits_set * 1.0 / occ.m, 6) AS occupancy,
        |       nn.n_neg, CAST(coalesce(fp.n_fp, 0) AS BIGINT) AS n_fp,
        |       round(1e-9 + coalesce(fp.n_fp, 0) * 1.0 / nn.n_neg, 6) AS fpp
        |FROM occ LEFT JOIN fp ON fp.m = occ.m, nn, nm
        |ORDER BY occ.m""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.Sketches
      val tg = TextAnalysis.trainGramTable(s, d)
      val split = Dedup.shingleTable(s, d)
        .join(TextAnalysis.fingerprintTable(s, d), "doc_id")
        .select(col("tri"), TextAnalysis.fpBucket.as("bucket"))
      val neg = split.filter(TextAnalysis.isHeldOut(col("bucket")))
        .select(explode(col("tri")).as("g")).distinct()
        .join(tg, Seq("g"), "left_anti")
        .localCheckpoint() // probes AND the n_neg count read it
      val ms = broadcast(Seq(16384, 65536, 262144).toDF("m"))
      def hashed(grams: DataFrame) = (0 until 4).map(i =>
          grams.select(col("g"), lit(i).as("i"),
            Sketches.foldHashCol(col("g"), i).as("h")))
        .reduce(_ unionByName _)
      val mpos = hashed(tg).crossJoin(ms)
        .select(col("m"), pmod(col("h"), col("m")).cast("int").as("pos"))
        .distinct()
        .localCheckpoint() // occupancy AND the probe join read it
      val occ = mpos.groupBy(col("m")).agg(count(lit(1)).as("bits_set"))
      val nhit = hashed(neg).crossJoin(ms)
        .select(col("m"), col("g"), pmod(col("h"), col("m")).cast("int").as("pos"))
        .join(mpos, Seq("m", "pos"))
        .groupBy(col("m"), col("g")).agg(count(lit(1)).as("k_hits"))
        .filter(col("k_hits") === 4)
      val fp = nhit.groupBy(col("m")).agg(count(lit(1)).as("n_fp"))
      val nn = neg.agg(count(lit(1)).as("n_neg"))
      val nm = tg.agg(count(lit(1)).as("n_members"))
      occ.join(fp, Seq("m"), "left")
        .crossJoin(broadcast(nn)).crossJoin(broadcast(nm))
        .select(col("m"), col("n_members"), col("bits_set"),
          Num.roundOut(col("bits_set") * 1.0 / col("m"), 6).as("occupancy"),
          col("n_neg"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          Num.roundOut(coalesce(col("n_fp"), lit(0L)) * 1.0 / col("n_neg"), 6)
            .as("fpp"))
        .orderBy(col("m"))
    },

    // DEDUP-ADJUSTED MIXTURE WEIGHTS — x81's temperature weights
    // recomputed over the UNIQUE token mass (global keep-first exact
    // dedup, x01/x89's survivor rule) next to the raw-mass weights: a
    // source whose volume is mostly copies loses exactly the weight its
    // duplicates were buying it (delta_ppm < 0), which is the
    // double-counting bug in any mixing policy that weighs raw bytes —
    // weigh-then-dedup and dedup-then-weigh differ, and this table
    // measures by how much, per source. Same τ=0.5 integer-sqrt weight
    // formula as x81 on both masses; all counts exact integers, the
    // ppm columns single integer divisions.
    //
    // Scale: one md5-keyed survivor pass (16-byte digests shuffle,
    // x01's contract) plus two sources-sized weight tables.
    QueryDef("x140_dedup_adjusted_mix",
      """WITH tok AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                              w -> len(w) > 0)) AS BIGINT) AS nt
        |  FROM documents
        |), surv AS (
        |  SELECT h, min(doc_id) AS keep FROM tok GROUP BY h
        |), u AS (
        |  SELECT t.source, t.nt FROM tok t JOIN surv ON surv.keep = t.doc_id
        |), raw AS (
        |  SELECT source, CAST(sum(nt) AS BIGINT) AS m_raw FROM tok GROUP BY 1
        |), ded AS (
        |  SELECT source, CAST(sum(nt) AS BIGINT) AS m_uni FROM u GROUP BY 1
        |), j AS (
        |  SELECT raw.source, raw.m_raw,
        |         CAST(coalesce(ded.m_uni, 0) AS BIGINT) AS m_uni
        |  FROM raw LEFT JOIN ded USING (source)
        |), w AS (
        |  SELECT source, m_raw, m_uni,
        |         CAST(floor(sqrt(m_raw * 1000000.0)) AS BIGINT) AS wr,
        |         CAST(floor(sqrt(m_uni * 1000000.0)) AS BIGINT) AS wu
        |  FROM j
        |), t AS (
        |  SELECT CAST(sum(wr) AS BIGINT) AS tr,
        |         CAST(sum(wu) AS BIGINT) AS tu FROM w
        |)
        |SELECT source, m_raw AS tokens_raw, m_uni AS tokens_unique,
        |       CAST((1000000 * wr) // t.tr AS BIGINT) AS ppm_raw,
        |       CAST((1000000 * wu) // t.tu AS BIGINT) AS ppm_dedup,
        |       CAST((1000000 * wu) // t.tu - (1000000 * wr) // t.tr
        |            AS BIGINT) AS delta_ppm
        |FROM w, t ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          size(filter(Text.tokens(col("text")), w => length(w) > 0))
            .cast("long").as("nt"))
        .localCheckpoint() // raw mass, survivors, and unique mass read it
      val surv = tok.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
      val u = tok.join(surv, col("doc_id") === col("keep"))
      val raw = tok.groupBy(col("source")).agg(sum(col("nt")).as("m_raw"))
      val ded = u.groupBy(col("source")).agg(sum(col("nt")).as("m_uni"))
      val j = raw.join(ded, Seq("source"), "left")
        .select(col("source"), col("m_raw"),
          coalesce(col("m_uni"), lit(0L)).as("m_uni"))
        .withColumn("wr", floor(sqrt(col("m_raw") * lit(1000000.0))).cast("long"))
        .withColumn("wu", floor(sqrt(col("m_uni") * lit(1000000.0))).cast("long"))
      val t = j.agg(sum(col("wr")).as("tr"), sum(col("wu")).as("tu"))
      j.crossJoin(broadcast(t))
        .select(col("source"), col("m_raw").as("tokens_raw"),
          col("m_uni").as("tokens_unique"),
          expr("(1000000 * wr) div tr").as("ppm_raw"),
          expr("(1000000 * wu) div tu").as("ppm_dedup"),
          expr("(1000000 * wu) div tu - (1000000 * wr) div tr").as("delta_ppm"))
        .orderBy(col("source"))
    },

    // DEGREE ASSORTATIVITY — the fifth graph statistic (after
    // centrality, components, communities, and modularity): Newman's
    // degree-correlation coefficient over the symmetrized edge list —
    // do high-degree nodes link to high-degree nodes? Every moment
    // (Σx, Σxy, Σx²) is an exact integer sum over directed edges
    // (symmetry makes the x and y marginals identical); r is assembled
    // from those integers in one pinned float sequence and rounded —
    // the x51 group-regression determinism recipe applied to a graph.
    //
    // Scale: one labels-free join of the degree table onto the edge
    // list + a single global aggregate; moments are O(1) columns.
    QueryDef("x141_assortativity",
      s"""${Corpus.lpCteSql}, deg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM e GROUP BY 1
        |), ed AS (
        |  SELECT da.dg AS x, db.dg AS y
        |  FROM e JOIN deg da ON da.node = e.src
        |         JOIN deg db ON db.node = e.dst
        |), mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM ed
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT nn.n_nodes, mo.m AS m2,
        |       CAST((1000 * mo.sx) // mo.m AS BIGINT) AS mean_deg_milli,
        |       round(1e-9 + (mo.m * mo.sxy - mo.sx * mo.sx) * 1.0
        |             / (mo.m * mo.sxx - mo.sx * mo.sx), 6) AS r_assort
        |FROM mo, nn""".stripMargin) { (s, d) =>
      val (e, _, _) = Corpus.lpPipeline(s, d)
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val ed = e
        .join(broadcast(deg.select(col("node").as("src"), col("dg").as("x"))), "src")
        .join(broadcast(deg.select(col("node").as("dst"), col("dg").as("y"))), "dst")
      val mo = ed.agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      mo.crossJoin(broadcast(nn))
        .select(col("n_nodes"), col("m").as("m2"),
          expr("(1000 * sx) div m").as("mean_deg_milli"),
          Num.roundOut((col("m") * col("sxy") - col("sx") * col("sx")) * 1.0
            / (col("m") * col("sxx") - col("sx") * col("sx")), 6)
            .as("r_assort"))
    },

    // K-CORE DECOMPOSITION — the sixth graph statistic (centrality,
    // components, communities, modularity, assortativity, now coreness):
    // per-node max k ∈ {1,2,3} such that the node survives iterated
    // k-degree peeling (Seidman '83; the Batagelj–Zaveršnik fixpoint run
    // as SYNCHRONOUS rounds, the x133 LP convention). The LP graph is a
    // forest (its 2-core is empty — measured), so this runs on a DENSER
    // deterministic synthesis: a 997-modulus avalanche of doc_id feeds
    // hub-biased endpoints (src over 64 node ids, dst over the 20 hub
    // ids), giving a layered graph with all three coreness levels
    // populated at every SF (doc_id < 400 exists at every SF, so the
    // graph — like LP's — is SF-invariant). Peeling is unrolled to 4
    // synchronous rounds on BOTH engines; the fixture converges in 2
    // (Round8Spec pins the brute-force fixpoint == the round-4 sets, so
    // the unroll depth is proven sufficient, not assumed).
    //
    // Scale: each round is one edges→survivor semi-join + a degree
    // aggregate with the nodes-sized survivor set broadcast; the edge
    // list is touched once per round and never self-joined. Coreness
    // labels at warehouse scale ship as two more broadcast semi-joins.
    QueryDef("x143_kcore",
      s"""WITH $kcoreCteSql
        |SELECT nd.node, nd.deg_full,
        |       CAST(1 + (CASE WHEN c2.node IS NULL THEN 0 ELSE 1 END)
        |              + (CASE WHEN c3.node IS NULL THEN 0 ELSE 1 END)
        |            AS INT) AS coreness
        |FROM nd LEFT JOIN s2_4 c2 ON c2.node = nd.node
        |        LEFT JOIN s3_4 c3 ON c3.node = nd.node
        |ORDER BY nd.node""".stripMargin) { (s, d) =>
      val e = kcoreGraph(s, d)
      val nd = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg_full"))
      val c2 = kcoreSurvivors(e, 2, 4).withColumn("in2", lit(1))
      val c3 = kcoreSurvivors(e, 3, 4).withColumn("in3", lit(1))
      nd.join(broadcast(c2), Seq("node"), "left")
        .join(broadcast(c3), Seq("node"), "left")
        .select(col("node"), col("deg_full"),
          (lit(1) + coalesce(col("in2"), lit(0))
            + coalesce(col("in3"), lit(0))).cast("int").as("coreness"))
        .orderBy(col("node"))
    },

    // LOCAL CLUSTERING COEFFICIENT — the seventh graph statistic: per
    // node, how close its neighborhood is to a clique (Watts–Strogatz
    // C_v = 2·tri(v) / deg(v)(deg(v)−1)), over x143's layered graph
    // (q80 counts triangles GLOBALLY on the events graph; this is the
    // per-node profile). Triangles come from the standard wedge join —
    // paths a→b→c closed by the a→c edge; on the symmetrized edge list
    // each unordered triangle at a is counted twice, so tri2 = 2·tri(v)
    // lands exactly in C_v's numerator and lcc_micro = tri2·10⁶ div
    // (deg·(deg−1)) is a single integer division (exact, engine-neutral).
    // Round8Spec pins the whole row set against brute-force adjacency
    // counting; the fixture is non-degenerate (50 triangles, C_v spans
    // 0 to 1 — measured before landing).
    //
    // Scale: the wedge join is DEGREE-ORIENTED (VERDICT r8 item 6):
    // each undirected edge points from its lower-(deg, id) endpoint, so
    // wedges enumerate only from each triangle's lowest-degree vertex —
    // O(Σ outdeg²) with outdeg ≤ O(√m) on ANY graph (the classic
    // Chiba–Nishizeki / Schank–Wagner bound), killing the hub term a
    // symmetric Σ deg² join pays on power-law graphs. Each triangle is
    // detected exactly ONCE and exploded to its three vertices; the
    // closing probe stays an equi-join on (b, c), never an all-pairs
    // test. The oracle keeps the symmetric wedge form, pinning
    // oriented == symmetric counts; Round9Spec pins it per node.
    QueryDef("x144_clustering_coeff",
      s"""WITH $kcoreGraphCteSql, dg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1
        |), tr AS (
        |  SELECT e1.src AS node, CAST(count(*) AS BIGINT) AS tri2
        |  FROM e e1
        |  JOIN e e2 ON e2.src = e1.dst
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
        |  GROUP BY 1
        |)
        |SELECT dg.node, dg.deg,
        |       CAST(coalesce(tr.tri2, 0) // 2 AS BIGINT) AS n_tri,
        |       CAST(CASE WHEN dg.deg >= 2
        |         THEN (coalesce(tr.tri2, 0) * 1000000)
        |              // (dg.deg * (dg.deg - 1))
        |         ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM dg LEFT JOIN tr ON tr.node = dg.node
        |ORDER BY dg.node""".stripMargin) { (s, d) =>
      val e = kcoreGraph(s, d)
      val dg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint() // orients the edges AND anchors the report
      // orient: keep each undirected edge once, pointing low-(deg, id) →
      // high-(deg, id); both degree probes are broadcast node-table joins
      val o = e
        .join(broadcast(dg.select(col("node").as("src"),
          col("deg").as("ds"))), "src")
        .join(broadcast(dg.select(col("node").as("dst"),
          col("deg").as("dd"))), "dst")
        .filter(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col("src") < col("dst")))
        .select(col("src"), col("dst"), col("dd"))
        .localCheckpoint() // both wedge sides + the closing probe read it
      // wedges from the lowest-(deg, id) vertex a, out-pair (b, c) ordered
      // the same way so each candidate (and so each triangle) forms once
      val w = o.select(col("src").as("a"), col("dst").as("b"),
          col("dd").as("db"))
        .join(o.select(col("src").as("a"), col("dst").as("c"),
          col("dd").as("dc")), "a")
        .filter(col("db") < col("dc") ||
          (col("db") === col("dc") && col("b") < col("c")))
      val tr = w
        .join(o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg((count(lit(1)) * 2).as("tri2"))
      dg.join(broadcast(tr), Seq("node"), "left")
        .select(col("node"), col("deg"),
          expr("coalesce(tri2, 0) div 2").as("n_tri"),
          when(col("deg") >= 2,
            expr("(coalesce(tri2, 0) * 1000000) div (deg * (deg - 1))"))
            .otherwise(0L).as("lcc_micro"))
        .orderBy(col("node"))
    },

    // COMMUNITY CONDUCTANCE — x138's modularity says how much better
    // than chance the LP partition is; conductance says how LEAKY each
    // community is in absolute terms (φ_c = cut / min(vol, 2m − vol),
    // the Shi–Malik / Leskovec NCP quantity): cut counts directed edges
    // leaving the community, vol its directed degree mass, both exact
    // integers from the SAME factored lpPipeline / lpCteSql as x133/x138
    // — one partition definition, three judges of it. φ in integer
    // micro units via a single guarded division (min = 0, i.e. a
    // whole-graph community, reports 0 — nothing to leak through).
    // Round8Spec recomputes every community from collected edges+labels
    // and pins the cross-community symmetry Σcut = 2·(inter edges).
    //
    // Scale: two broadcast label probes onto the edge list (cut) + one
    // onto the degree table (vol); shuffles are communities-sized.
    QueryDef("x145_conductance",
      s"""${Corpus.lpCteSql}, dg AS (
        |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1
        |), mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
        |vl AS (
        |  SELECT l2.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
        |         CAST(sum(dg.deg) AS BIGINT) AS vol
        |  FROM l2 JOIN dg ON dg.node = l2.node GROUP BY 1
        |), ct AS (
        |  SELECT la.lbl, CAST(count(*) AS BIGINT) AS cut
        |  FROM e JOIN l2 la ON la.node = e.src
        |         JOIN l2 lb ON lb.node = e.dst
        |  WHERE la.lbl <> lb.lbl GROUP BY 1
        |)
        |SELECT vl.lbl, vl.n_nodes, vl.vol,
        |       CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
        |       CAST(CASE WHEN least(vl.vol, mm.m2 - vl.vol) = 0 THEN 0
        |            ELSE (coalesce(ct.cut, 0) * 1000000)
        |                 // least(vl.vol, mm.m2 - vl.vol) END AS BIGINT)
        |         AS conductance_micro
        |FROM vl LEFT JOIN ct USING (lbl), mm
        |ORDER BY vl.lbl""".stripMargin) { (s, d) =>
      val (e, _, l2) = Corpus.lpPipeline(s, d)
      val dg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val mm = e.agg(count(lit(1)).as("m2"))
      val vl = l2.join(dg, "node")
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("vol"))
      val ct = e
        .join(broadcast(l2.select(col("node").as("src"), col("lbl").as("la"))), "src")
        .join(broadcast(l2.select(col("node").as("dst"), col("lbl").as("lb"))), "dst")
        .filter(col("la") =!= col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("cut"))
      vl.join(broadcast(ct), Seq("lbl"), "left")
        .crossJoin(broadcast(mm))
        .select(col("lbl"), col("n_nodes"), col("vol"),
          coalesce(col("cut"), lit(0L)).as("cut"),
          when(least(col("vol"), col("m2") - col("vol")) === 0, 0L)
            .otherwise(expr(
              "(coalesce(cut, 0) * 1000000) div least(vol, m2 - vol)"))
            .as("conductance_micro"))
        .orderBy(col("lbl"))
    },

    // CONNECTED COMPONENTS — the one classic graph statistic the tier
    // still lacked (x133's LP finds dense communities; this finds exact
    // reachability classes — the partition dedup clustering, corpus
    // provenance grouping, and "is the graph one piece?" audits all
    // need). Component id = min node id reachable (canonical and
    // engine-neutral). The graph is a deterministic BLOCK-STRUCTURED
    // synthesis ([[ccGraph]]) whose 8 components are non-trivial and
    // SF-invariant; the oracle computes the fixpoint by recursive
    // label closure, the Spark side by MIN-NEIGHBOR PROPAGATION +
    // POINTER JUMPING (comp ← comp(comp), the Shiloach–Vishkin
    // device), which reaches min-within-distance-2^k after k hybrid
    // rounds — 4 fixed rounds here; Round9Spec pins that a 5th round
    // changes nothing, so the two fixpoint routes provably agree.
    //
    // Scale: every round is one equi-join + groupBy-min plus one
    // label-to-label equi-join; the label table is nodes-sized
    // (broadcast here, shuffle-partitioned on a real cluster) and
    // localCheckpoint severs the iteration lineage. Pointer jumping is
    // what turns O(diameter) propagation into O(log n) rounds — the
    // hash-to-min bound (Rastogi et al., ICDE'13) — so a 100 TB edge
    // list converges in tens of rounds, not thousands.
    QueryDef("x146_connected_components", Corpus.x146OracleSql) { (s, d) =>
      ccReport(ccLabels(ccGraph(s, d), rounds = 4))
    },

    // TWO-HOP RECOMMENDATIONS (friend-of-friend): for every node, the
    // top-3 non-neighbors sharing the most common neighbors — the
    // standard link-prediction / "related items" workload over the
    // x143 graph. Candidates are wedges a–b–c centered at b; direct
    // edges are removed by an anti-join; ranking is (count DESC, id).
    //
    // Scale: wedge volume is hub-dominated (Σ deg²), and unlike x144
    // degree orientation cannot apply — common-neighbor counting needs
    // EVERY wedge at its center. The production mitigation is the HUB
    // CAP: centers with deg > 8 generate no wedges (a hub shared by
    // everyone carries ~zero link-prediction signal — the same reason
    // TF-IDF downweights stopwords), which bounds candidate volume by
    // CAP·2m — LINEAR in edges. The cap is a designed parameter applied
    // identically by both engines. Candidate pruning to top-3 runs
    // through the native [[graft.plans.TopKPerGroup]] operator (bounded
    // per-group heaps, partial+final, no sort of the candidate set);
    // the rank column is then a window over ≤3 rows per node.
    QueryDef("x148_two_hop_recs",
      s"""WITH $kcoreGraphCteSql, dg AS (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
        |), w AS (
        |  SELECT e1.dst AS a, e2.dst AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.src = e1.src
        |  JOIN dg ON dg.node = e1.src
        |  WHERE dg.deg <= 8 AND e1.dst <> e2.dst
        |), cand AS (
        |  SELECT a, c, count(*) AS n_common FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.c)
        |  GROUP BY a, c
        |), rk AS (
        |  SELECT a, c, n_common,
        |         row_number() OVER (PARTITION BY a
        |                            ORDER BY n_common DESC, c) AS rk
        |  FROM cand
        |)
        |SELECT CAST(a AS INT) AS node, CAST(c AS INT) AS rec,
        |       CAST(n_common AS BIGINT) AS n_common, CAST(rk AS INT) AS rk
        |FROM rk WHERE rk <= 3
        |ORDER BY node, rk""".stripMargin) { (s, d) =>
      val e = kcoreGraph(s, d)
      val dg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val centers = dg.filter(col("deg") <= 8).select(col("node").as("b"))
      val half = e.select(col("src").as("b"), col("dst"))
        .join(broadcast(centers), "b")
        .localCheckpoint() // both wedge sides read the capped half-edges
      val w = half.select(col("b"), col("dst").as("a"))
        .join(half.select(col("b"), col("dst").as("c")), "b")
        .filter(col("a") =!= col("c"))
      val cand = w
        .join(e.select(col("src").as("a"), col("dst").as("c")),
          Seq("a", "c"), "left_anti")
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n_common"))
      val top = graft.plans.TopKPerGroup(cand, Seq("a"),
        Seq(("n_common", true), ("c", false)), 3)
      top.withColumn("rk", row_number().over(
          Window.partitionBy(col("a"))
            .orderBy(col("n_common").desc, col("c"))))
        .select(col("a").as("node"), col("c").as("rec"),
          col("n_common"), col("rk"))
        .orderBy(col("node"), col("rk"))
    },

    // INCREMENTAL CONNECTED-COMPONENTS MAINTENANCE — the fourth index
    // family to get the Δ story (dedup x61, ANN x101/st21, BM25 x129):
    // after an edge batch arrives, component labels refresh ∝ Δ +
    // components, never by rescanning the base graph. The base partition
    // (~2/3 of x146's graph: 12 components) is labeled once; each delta
    // edge maps its endpoints through the base labels (new nodes label
    // themselves) giving a CONTRACTION GRAPH over component ids — a
    // components-sized object — whose own CC fold decides every merge;
    // one broadcast mapping join relabels. Because component ids are
    // min-node-ids at every level, min-of-mins == global min, so the
    // incremental labels equal a full rebuild EXACTLY (Round9Spec pins
    // merged == rebuilt; the oracle recomputes both closures from
    // scratch). The report shows each node's old/new component and a
    // changed flag — 4 of the 12 base components merge, 16 nodes arrive.
    //
    // Scale: the base fold is the ingest-time job (x146); the refresh
    // touches the delta edges once (one broadcast-label probe), folds a
    // components-sized graph, and applies one broadcast mapping —
    // exactly the merge work a 100 TB graph store wants per batch.
    QueryDef("x149_cc_incremental",
      s"""WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT CAST((h % 4) * 25 + (h // 4) % 25 AS INT) AS src,
        |         CAST((h % 4) * 25 + (h // 100) % 25 AS INT) AS dst, h
        |  FROM (SELECT (doc_id * 48271 + 11) % 997 AS h FROM documents
        |        WHERE doc_id < 400) t
        |  WHERE h % 3 = 0 AND (h // 4) % 25 <> (h // 100) % 25
        |), b0 AS (
        |  SELECT DISTINCT src, dst FROM e0 WHERE h % 11 < 7
        |), eb AS (
        |  SELECT src, dst FROM b0 UNION SELECT dst AS src, src AS dst FROM b0
        |), ef AS (
        |  SELECT src, dst FROM e0
        |  UNION SELECT dst AS src, src AS dst FROM e0
        |), rb AS (
        |  SELECT src AS node, src AS m FROM eb
        |  UNION
        |  SELECT eb.src AS node, rb.m FROM eb JOIN rb ON rb.node = eb.dst
        |), cb AS (SELECT node, min(m) AS comp FROM rb GROUP BY node),
        |rf AS (
        |  SELECT src AS node, src AS m FROM ef
        |  UNION
        |  SELECT ef.src AS node, rf.m FROM ef JOIN rf ON rf.node = ef.dst
        |), cf AS (SELECT node, min(m) AS comp FROM rf GROUP BY node),
        |sz AS (
        |  SELECT comp, CAST(count(*) AS BIGINT) AS comp_size
        |  FROM cf GROUP BY comp
        |)
        |SELECT cf.node, cf.comp AS component, sz.comp_size,
        |       CAST(coalesce(cb.comp, cf.node) AS INT) AS base_component,
        |       cf.comp <> coalesce(cb.comp, cf.node) AS changed
        |FROM cf JOIN sz USING (comp) LEFT JOIN cb ON cb.node = cf.node
        |ORDER BY cf.node""".stripMargin) { (s, d) =>
      val (eb, d0) = ccGraphSplit(s, d)
      val baseL = ccLabels(eb, rounds = 4)
      // one [[ccMergeStep]] folds the delta (shared with st22's live fold)
      val fin = ccMergeStep(baseL, d0)
        .withColumnRenamed("comp", "component")
      val sz = fin.groupBy(col("component")).agg(count(lit(1)).as("comp_size"))
      fin.join(broadcast(sz), "component")
        .join(broadcast(baseL.select(col("node"), col("comp").as("bc"))),
          Seq("node"), "left")
        .select(col("node"), col("component"), col("comp_size"),
          coalesce(col("bc"), col("node")).cast("int").as("base_component"),
          (col("component") =!= coalesce(col("bc"), col("node")))
            .as("changed"))
        .orderBy(col("node"))
    },

    // BPE COMPRESSION CURVE — the tokenizer-SIZING view x44 (which
    // merges) and x45 (fertility after both) don't give: corpus piece
    // count, pieces-per-word, and chars-per-piece at merge budgets
    // k = 0, 1, 2 — the marginal-compression-per-merge curve whose
    // flattening point picks the vocab size (Sennrich BPE economics).
    // All three stages read the SAME learned chain as x44/x45 (shared
    // CTEs / shared bpeApplyMerge), so the curve describes exactly the
    // tokenizer the other two queries ship. Exact integers: piece
    // counts are Σ freq long sums, ratios milli-scaled integer
    // divisions.
    //
    // Scale: every stage is vocabulary-sized (symbol streams of
    // DISTINCT words weighted by freq) — the corpus is touched once for
    // the vocab count; merge budgets extend by chaining more
    // apply-merge passes, each vocab-sized.
    QueryDef("x168_bpe_compression",
      s"""WITH $bpeChainSql, tw AS (
        |  SELECT CAST(sum(freq) AS BIGINT) AS words,
        |         CAST(sum(freq * len(word)) AS BIGINT) AS chars
        |  FROM vocab
        |), c0 AS (
        |  SELECT CAST(0 AS INT) AS n_merges,
        |         CAST(sum(freq) AS BIGINT) AS pieces
        |  FROM syms0
        |), c1 AS (
        |  SELECT CAST(1 AS INT), CAST(sum(freq) AS BIGINT) FROM r1
        |), c2 AS (
        |  SELECT CAST(2 AS INT), CAST(sum(freq) AS BIGINT) FROM r2
        |), cc AS (
        |  SELECT * FROM c0 UNION ALL SELECT * FROM c1
        |  UNION ALL SELECT * FROM c2
        |)
        |SELECT n_merges, pieces, words, chars,
        |       CAST(pieces * 1000 // words AS BIGINT)
        |         AS pieces_per_word_milli,
        |       CAST(chars * 1000 // pieces AS BIGINT)
        |         AS chars_per_piece_milli
        |FROM cc CROSS JOIN tw ORDER BY n_merges""".stripMargin) { (s, d) =>
      val vocab = graft.Tables.documents(s, d)
        .select(explode(graft.functions.Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .localCheckpoint() // totals + symbol stream both read it
      val syms0 = vocab
        .select(col("word"), col("freq"),
          posexplode(split(col("word"), "")).as(Seq("pos", "sym")))
        .localCheckpoint() // stage-0 count + the merge apply read it
      val (t1, t2, _) = bpeLearn(s, d)
      val r1 = bpeApplyMerge(syms0, t1).localCheckpoint()
      val r2 = bpeApplyMerge(r1, t2)
      val tw = vocab.agg(sum(col("freq")).as("words"),
        sum(col("freq") * length(col("word"))).as("chars"))
      def stage(df: DataFrame, k: Int): DataFrame =
        df.agg(sum(col("freq")).as("pieces"))
          .select(lit(k).as("n_merges"), col("pieces"))
      stage(syms0, 0).unionByName(stage(r1, 1)).unionByName(stage(r2, 2))
        .crossJoin(broadcast(tw))
        .select(col("n_merges"), col("pieces"), col("words"), col("chars"),
          expr("pieces * 1000 div words").as("pieces_per_word_milli"),
          expr("chars * 1000 div pieces").as("chars_per_piece_milli"))
        .orderBy(col("n_merges"))
    },

    // NEYMAN ALLOCATION — the variance-optimal eval-budget split x77's
    // proportional quotas don't give (Neyman 1934): stratum h gets
    // n_h ∝ N_h·σ_h, so high-variance sources buy more eval samples per
    // doc and uniform sources fewer — minimizing the estimator variance
    // at a fixed budget of 200. The identity N_h·σ_h = √(N_h·Σx² −
    // (Σx)²) makes the weight ONE correctly-rounded IEEE sqrt of an
    // exact long (x81's bit-identical-sqrt device; the radicand stays
    // in a long to ~10⁶ docs/stratum at 4-digit lengths — past that,
    // scale lengths to kilo-units first, same designed output).
    // Integer Hamilton rounding (x77's) turns both weight vectors into
    // exact quotas; the report shows the Neyman-vs-proportional SHIFT
    // per source — the actionable column.
    //
    // Scale: one conditional-aggregate pass collapses the corpus to
    // sources-sized moment rows; everything after (weights, quotas,
    // remainder ranks) runs on that bounded table.
    QueryDef("x171_neyman_allocation",
      """WITH st AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
        |         CAST(sum(n_chars) AS BIGINT) AS s_h,
        |         CAST(sum(n_chars * n_chars) AS BIGINT) AS ssq_h
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, n_h,
        |         CAST(floor(sqrt(CAST(n_h * ssq_h - s_h * s_h AS DOUBLE))
        |              * 1000) AS BIGINT) AS wi
        |  FROM st
        |), tw AS (
        |  SELECT CAST(sum(wi) AS BIGINT) AS tww,
        |         CAST(sum(n_h) AS BIGINT) AS n FROM w
        |), q AS (
        |  SELECT source, n_h, wi,
        |         (200 * wi) // tww AS q0, (200 * wi) % tww AS rem,
        |         (200 * n_h) // n AS p0, (200 * n_h) % n AS prem
        |  FROM w CROSS JOIN tw
        |), l1 AS (
        |  SELECT CAST(200 - sum(q0) AS BIGINT) AS l FROM q
        |), l2 AS (
        |  SELECT CAST(200 - sum(p0) AS BIGINT) AS lp FROM q
        |), r1 AS (
        |  SELECT source, row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM q
        |), r2 AS (
        |  SELECT source, row_number() OVER (ORDER BY prem DESC, source) AS pr
        |  FROM q
        |)
        |SELECT q.source, q.n_h AS n_docs, q.wi AS weight_milli,
        |       CAST(q.q0 + CASE WHEN r1.rr <= l1.l THEN 1 ELSE 0 END
        |            AS BIGINT) AS quota_neyman,
        |       CAST(q.p0 + CASE WHEN r2.pr <= l2.lp THEN 1 ELSE 0 END
        |            AS BIGINT) AS quota_prop,
        |       CAST((q.q0 + CASE WHEN r1.rr <= l1.l THEN 1 ELSE 0 END)
        |          - (q.p0 + CASE WHEN r2.pr <= l2.lp THEN 1 ELSE 0 END)
        |            AS BIGINT) AS shift
        |FROM q
        |JOIN r1 ON r1.source = q.source
        |JOIN r2 ON r2.source = q.source
        |CROSS JOIN l1 CROSS JOIN l2
        |ORDER BY q.source""".stripMargin) { (s, d) =>
      val st = graft.Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_h"), sum(col("n_chars")).as("s_h"),
          sum(col("n_chars") * col("n_chars")).as("ssq_h"))
      val w = st.select(col("source"), col("n_h"),
        floor(sqrt((col("n_h") * col("ssq_h") - col("s_h") * col("s_h"))
          .cast("double")) * 1000).cast("long").as("wi"))
      val tw = w.agg(sum(col("wi")).as("tww"), sum(col("n_h")).as("n"))
      val q = w.crossJoin(broadcast(tw))
        .select(col("source"), col("n_h"), col("wi"),
          expr("(200 * wi) div tww").as("q0"),
          expr("(200 * wi) % tww").as("rem"),
          expr("(200 * n_h) div n").as("p0"),
          expr("(200 * n_h) % n").as("prem"))
        .localCheckpoint() // sources-sized; four readers below
      val l1 = q.agg((lit(200L) - sum(col("q0"))).as("l"))
      val l2 = q.agg((lit(200L) - sum(col("p0"))).as("lp"))
      val r1 = q.select(col("source"), row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).as("rr"))
      val r2 = q.select(col("source"), row_number().over(
        Window.orderBy(col("prem").desc, col("source"))).as("pr"))
      q.join(broadcast(r1), "source").join(broadcast(r2), "source")
        .crossJoin(broadcast(l1)).crossJoin(broadcast(l2))
        .select(col("source"), col("n_h").as("n_docs"),
          col("wi").as("weight_milli"),
          (col("q0") + when(col("rr") <= col("l"), 1L).otherwise(0L))
            .as("quota_neyman"),
          (col("p0") + when(col("pr") <= col("lp"), 1L).otherwise(0L))
            .as("quota_prop"))
        .withColumn("shift", col("quota_neyman") - col("quota_prop"))
        .orderBy(col("source"))
    }
  )

  /** x146's deterministic BLOCK-STRUCTURED graph: the avalanched hash
    * splits into 4 blocks of 25 node slots, and both endpoints land in
    * the SAME block — so components never span blocks (each block then
    * splits further on its own sparsity). 8 components, 98 nodes,
    * SF-invariant by the doc_id < 400 cap (measured identical at
    * sf0.001/0.01/0.1 before landing). */

  /** x41's oracle — shared verbatim with st36's streaming serve (the
    * st35 contract applied to span dedup: the folded positional index
    * must answer the batch question exactly). */
  private[graft] lazy val x41OracleSql: String =
    """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), b AS (
        |  SELECT doc_id, ws, CAST(len(ws) AS INT) AS n FROM t
        |), g AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |         array_to_string(list_slice(ws, i + 1, i + 5), '_') AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 4)) AS i
        |        FROM b WHERE n >= 5)
        |), r AS (
        |  SELECT doc_id, i,
        |         row_number() OVER (PARTITION BY gram
        |                            ORDER BY doc_id, i) AS rn
        |  FROM g
        |), cover AS (
        |  SELECT DISTINCT doc_id, CAST(p AS INT) AS pos
        |  FROM (SELECT doc_id, unnest(range(i, i + 5)) AS p
        |        FROM r WHERE rn > 1)
        |), tok AS (
        |  SELECT doc_id, CAST(j AS INT) AS pos, ws[j + 1] AS w
        |  FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS j FROM b)
        |), kept AS (
        |  SELECT t.doc_id, CAST(count(*) AS INT) AS n_kept,
        |         string_agg(t.w, ' ' ORDER BY t.pos) AS clean_text
        |  FROM tok t LEFT JOIN cover c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.doc_id IS NULL
        |  GROUP BY t.doc_id
        |)
        |SELECT b.doc_id, b.n AS n_tokens,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM b LEFT JOIN kept k ON b.doc_id = k.doc_id
        |ORDER BY b.doc_id""".stripMargin

  /** x41's span-dedup pipeline over an explicit (doc_id, ws) frame —
    * ONE definition shared by the batch query (ws from documents) and
    * st36's serve (ws reassembled from the folded positional index), so
    * the two plans cannot drift. */
  private[graft] def spanDedupFrom(docTokens: DataFrame): DataFrame = {
    val base = docTokens
      .select(col("doc_id"), col("ws"))
      .withColumn("n", size(col("ws")))
      .localCheckpoint() // feeds grams, token stream, and presentation
      val grams = base.filter(col("n") >= 5)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), col("n") - 5)).as("i"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("ws"), col("i") + 1, lit(5)), "_").as("gram"))
      val dup = grams
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("i"))))
        .filter(col("rn") > 1)
      val cover = dup
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + 4)).as("pos"))
        .distinct()
      val tok = base.select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "w")))
      val kept = tok.join(cover, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")), " ").as("clean_text"))
      base.select(col("doc_id"), col("n").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
  }

  private[graft] def ccGraph(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e0 = Tables.documents(s, d)
      .filter(col("doc_id") < 400)
      .select(((col("doc_id") * 48271 + 11) % 997).as("h"))
      .filter(col("h") % 3 === 0)
      .select(((col("h") % 4) * 25 + expr("(h div 4) % 25")).cast("int")
          .as("src"),
        ((col("h") % 4) * 25 + expr("(h div 100) % 25")).cast("int")
          .as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // tiny edge list feeds every CC round
  }

  /** [[ccGraph]]'s directed edges WITH their generating hash — the
    * splitter key x149 (base/delta) and st22 (micro-batch slices) cut
    * on. */
  private[graft] def ccRawEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 400)
      .select(((col("doc_id") * 48271 + 11) % 997).as("h"))
      .filter(col("h") % 3 === 0)
      .select(((col("h") % 4) * 25 + expr("(h div 4) % 25")).cast("int")
          .as("src"),
        ((col("h") % 4) * 25 + expr("(h div 100) % 25")).cast("int")
          .as("dst"),
        col("h"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** x149's base/delta split of [[ccGraph]]: edges whose generating hash
    * has h % 11 < 7 are the base partition (12 components, 82 nodes at
    * any SF), the rest the arriving batch (bridges 4 merges and brings
    * 16 new nodes). Delta kept directed (the contraction symmetrizes). */
  private[graft] def ccGraphSplit(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val raw = ccRawEdges(s, d)
    val b0 = raw.filter(col("h") % 11 < 7).select("src", "dst").distinct()
    val d0 = raw.filter(col("h") % 11 >= 7).select("src", "dst").distinct()
    (b0.union(b0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(),
      d0.localCheckpoint())
  }

  private[graft] lazy val ccGraphCteSql: String =
    """e0 AS (
      |  SELECT DISTINCT CAST((h % 4) * 25 + (h // 4) % 25 AS INT) AS src,
      |         CAST((h % 4) * 25 + (h // 100) % 25 AS INT) AS dst
      |  FROM (SELECT (doc_id * 48271 + 11) % 997 AS h FROM documents
      |        WHERE doc_id < 400) t
      |  WHERE h % 3 = 0 AND (h // 4) % 25 <> (h // 100) % 25
      |), e AS (
      |  SELECT src, dst FROM e0
      |  UNION SELECT dst AS src, src AS dst FROM e0
      |)""".stripMargin

  /** Shared by x146 (batch CC) and st22 (streaming CC maintenance) —
    * the one-definition rule the streaming tier applies everywhere:
    * stream and batch must be the SAME function of the data. */
  private[graft] lazy val x146OracleSql: String =
    s"""WITH RECURSIVE $ccGraphCteSql,
      |r AS (
      |  SELECT src AS node, src AS m FROM e
      |  UNION
      |  SELECT e.src AS node, r.m FROM e JOIN r ON r.node = e.dst
      |), c AS (
      |  SELECT node, min(m) AS comp FROM r GROUP BY node
      |), sz AS (
      |  SELECT comp, CAST(count(*) AS BIGINT) AS comp_size
      |  FROM c GROUP BY comp
      |)
      |SELECT c.node, c.comp AS component, sz.comp_size,
      |       (c.node = c.comp) AS is_root
      |FROM c JOIN sz USING (comp)
      |ORDER BY c.node""".stripMargin

  /** The x146 report columns from a converged (node, comp) label table —
    * shared by the batch query and st22's streaming state finish. */
  private[graft] def ccReport(labels: DataFrame): DataFrame = {
    val sz = labels.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
    labels.join(broadcast(sz), "comp")
      .select(col("node"), col("comp").as("component"), col("comp_size"),
        (col("node") === col("comp")).as("is_root"))
      .orderBy(col("node"))
  }

  /** One incremental CC merge step: fold `delta` (directed edges) into a
    * prior (node, comp) label table — x149's contraction device, shared
    * with st22's per-micro-batch fold. Unknown endpoints label
    * themselves; the contraction graph is components-sized and
    * converged to FIXPOINT by [[ccLabelsFix]] (r16 — the fixed 4-round
    * count was both a silent under-convergence risk on a long merge
    * chain, the r15 st37 lesson, and two wasted no-op rounds per
    * micro-batch on the fixture, where the contraction converges in
    * 1–2). Fixpoint output is identical where 4 rounds sufficed —
    * oracle equality at three SFs re-pinned. */
  private[graft] def ccMergeStep(prior: DataFrame,
      delta: DataFrame): DataFrame = {
    val pre = prior.unionByName(
      delta.select(col("src").as("node"))
        .union(delta.select(col("dst").as("node"))).distinct()
        .join(prior.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("comp")))
      .localCheckpoint() // read by the probe AND the relabel
    val dmap = delta
      .join(broadcast(pre.select(col("node").as("src"),
        col("comp").as("csrc"))), Seq("src"), "left")
      .join(broadcast(pre.select(col("node").as("dst"),
        col("comp").as("cdst"))), Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("a"),
        coalesce(col("cdst"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
    val cg = dmap
      .union(dmap.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint() // components-sized; feeds its own CC fold
    pre
      .join(broadcast(ccLabelsFix(cg).select(col("node").as("comp"),
        col("comp").as("mc"))), Seq("comp"), "left")
      .select(col("node"), coalesce(col("mc"), col("comp")).as("comp"))
  }

  /** `rounds` hybrid rounds of min-neighbor propagation + pointer
    * jumping over a symmetrized edge list; labels start as node ids, so
    * every comp value is a live node id and the jump join total.
    * Factored so Round9Spec can pin the fixpoint (rounds vs rounds+1). */
  private[graft] def ccLabels(e: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(ccInit(e))((l, _) => ccRound(e)(l))

  private def ccInit(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))

  /** One hybrid round (min-neighbor propagation + pointer jump) —
    * [[ccLabels]]'s fold step, factored so [[ccLabelsFix]] can iterate
    * it with a change test instead of a fixed count. */
  private def ccRound(e: DataFrame)(l: DataFrame): DataFrame = {
      val viaNbr = e
        .join(broadcast(l.select(col("node").as("dst"), col("comp").as("nc"))),
          "dst")
        .groupBy(col("src").as("node")).agg(min(col("nc")).as("nc"))
      val stepped = l.join(viaNbr, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
      stepped
        .join(broadcast(stepped.select(col("node").as("comp"),
          col("comp").as("jc"))), Seq("comp"))
        .select(col("node"), col("jc").as("comp"))
        .localCheckpoint() // nodes-sized; severs the iteration lineage
  }

  /** [[ccLabels]] iterated to FIXPOINT — st37's contraction-graph
    * converger (r15 review: a fixed 4-round count covers the fixture's
    * chains but a single micro-batch chaining ~30+ prior components
    * would silently under-converge and persist wrong labels; the
    * change test makes the round count data-derived). The graph here
    * is batch-contraction-sized, so each extra round + its ≤1-row
    * anti-join probe is small; hybrid rounds converge in O(log
    * diameter). */
  private[graft] def ccLabelsFix(e: DataFrame): DataFrame = {
    // label sum as the convergence probe (r16): every node's label is
    // non-increasing per round (min-propagation and the pointer jump
    // both only lower it), so the sum strictly decreases iff ANY label
    // changed — a 1-row agg over the already-checkpointed round output
    // replaces the anti-join + limit probe (~3 stage-jobs fewer per
    // round in every st22/st37 micro-batch). Null sum (empty graph)
    // reads as 0: the first round of an empty graph is empty and stops.
    // INVARIANTS the probe rests on (ADVICE r16 — documented where it
    // matters): (a) MONOTONICITY — any future ccRound edit that can
    // RAISE a label silently invalidates "sum unchanged ⇒ converged";
    // (b) MAGNITUDE — labels are non-negative node ids and Σcomp must
    // not wrap Int64 at init, or a wrapped per-round decrease could
    // alias back to the previous sum. Every in-repo graph uses small
    // integer ids (≤1e3 nodes here; the CcScaleBench tiers stay ≤2e5
    // ids), so Σ ≤ n·max_id ≪ 2⁶³; a caller feeding ≥~2³⁰ hash-derived
    // 64-bit ids must first densify them (or move this sum to
    // DecimalType).
    def labelSum(d: DataFrame): Long = {
      val r = d.agg(sum(col("comp"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var l = ccInit(e).localCheckpoint()
    var prev = labelSum(l)
    var changed = true
    while (changed) {
      val next = ccRound(e)(l)
      val cur = labelSum(next)
      changed = cur != prev
      prev = cur
      l = next
    }
    l
  }

  /** x143's deterministic layered graph: doc_id avalanched through the
    * 997 modulus, endpoints hub-biased (dst ∈ [0,20) ⊂ src ∈ [0,64)),
    * symmetrized and deduped. SF-invariant by the doc_id < 400 cap. */
  private[graft] def kcoreGraph(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e0 = Tables.documents(s, d)
      .filter(col("doc_id") < 400)
      .select(((col("doc_id") * 48271 + 11) % 997).as("h"))
      .filter(col("h") % 3 === 0)
      .select((col("h") % 64).cast("int").as("src"),
        expr("(h div 31) % 20").cast("int").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // tiny edge list feeds every peel round
  }

  /** Synchronous k-degree peeling, `rounds` rounds: survivors after
    * round 1 are nodes of full degree ≥ k; each later round restricts
    * the edge list to both-endpoint survivors and re-applies the degree
    * threshold. The survivor set only shrinks, so extra rounds past the
    * fixpoint are no-ops (Round8Spec pins fixpoint-by-round-4). */
  private[graft] def kcoreSurvivors(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var surv = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= k).select(col("node"))
      .localCheckpoint() // nodes-sized; severs the iteration lineage
    for (_ <- 2 to rounds) {
      surv = e
        .join(broadcast(surv.select(col("node").as("src"))), "src")
        .join(broadcast(surv.select(col("node").as("dst"))), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("node"))
        .localCheckpoint()
    }
    surv
  }

  /** x143's graph + unrolled peels as DuckDB CTEs (h → e0 → e → nd →
    * s2_1..s2_4 → s3_1..s3_4), one definition for the oracle. `lazy`
    * because `entries` (declared earlier) interpolates it during object
    * init — a strict val here would read as null there (the Ln2Fp6
    * declaration-order lesson). */
  private[graft] lazy val kcoreCteSql: String = {
    def peel(k: Int, i: Int): String = {
      val prev = s"s${k}_${i - 1}"
      s"""s${k}_$i AS (
         |  SELECT e.src AS node FROM e
         |  JOIN $prev a ON a.node = e.src
         |  JOIN $prev b ON b.node = e.dst
         |  GROUP BY 1 HAVING count(*) >= $k
         |)""".stripMargin
    }
    val rounds = (for (k <- Seq(2, 3); i <- 2 to 4) yield peel(k, i))
      .mkString(", ")
    s"""$kcoreGraphCteSql, nd AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg_full
       |  FROM e GROUP BY 1
       |), s2_1 AS (SELECT node FROM nd WHERE deg_full >= 2),
       |s3_1 AS (SELECT node FROM nd WHERE deg_full >= 3),
       |$rounds""".stripMargin
  }

  /** Just the graph synthesis (h → e0 → e) — shared by x143's peels and
    * x144's wedge join. Same `lazy` rationale as [[kcoreCteSql]]. */
  private[graft] lazy val kcoreGraphCteSql: String =
    """h AS (
      |  SELECT CAST((doc_id * 48271 + 11) % 997 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 400
      |), e0 AS (
      |  SELECT DISTINCT CAST(h % 64 AS INT) AS src,
      |         CAST((h // 31) % 20 AS INT) AS dst
      |  FROM h WHERE h % 3 = 0
      |    AND CAST(h % 64 AS INT) <> CAST((h // 31) % 20 AS INT)
      |), e AS (
      |  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
      |)""".stripMargin

  /** Two integer HITS iterations over a bipartite (user_id, event_type)
    * edge multiset: distinct edges, then alternating join+aggregate
    * passes. Factored so Round8Spec can replay it on a crafted graph. */
  private[graft] def hitsAuthorities(pairs: DataFrame): DataFrame = {
    val e = pairs.distinct().localCheckpoint() // feeds all four passes
    val h1 = e.groupBy(col("user_id")).agg(count(lit(1)).as("h"))
    val a1 = e.join(h1, "user_id")
      .groupBy(col("event_type")).agg(sum(col("h")).as("a1"))
    val h2 = e.join(broadcast(a1), "event_type")
      .groupBy(col("user_id")).agg(sum(col("a1")).as("h"))
    val a2 = e.join(h2, "user_id")
      .groupBy(col("event_type")).agg(sum(col("h")).as("auth_2"))
    val nu = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    a2.join(broadcast(a1), "event_type").join(broadcast(nu), "event_type")
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("auth_2").desc, col("event_type"))).cast("int"))
      .select(col("event_type"), col("n_users"), col("a1").as("auth_1"),
        col("auth_2"), col("rnk"))
      .orderBy(col("event_type"))
  }

  /** One BPE iteration chain (vocab → char symbols → top pair t1 → merged
    * r1 → top pair t2 → merged r2) as DuckDB CTEs, interpolated into both
    * the x44 and x45 oracles (the x33/x34 shared-CTE pattern: one
    * definition, so learning and encoding can't drift apart). */
  private def bpeChainSql: String =
    """vocab AS (
      |  SELECT word, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word
      |), syms0 AS (
      |  SELECT word, freq, CAST(i AS INT) AS pos, word[i+1] AS sym
      |  FROM (SELECT word, freq, unnest(range(len(word))) AS i FROM vocab)
      |), p1 AS (
      |  SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, freq
      |  FROM syms0
      |), t1 AS (
      |  SELECT l, r, sum(freq) AS cnt FROM p1 WHERE r IS NOT NULL
      |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
      |), m1 AS (
      |  SELECT s.word, s.freq, s.pos, s.sym,
      |         coalesce(s.sym = t.l AND
      |           lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = t.r,
      |           false) AS mtch
      |  FROM syms0 s CROSS JOIN t1 t
      |), i1 AS (
      |  SELECT *, CASE WHEN mtch THEN pos - row_number()
      |    OVER (PARTITION BY word, mtch ORDER BY pos) END AS grp FROM m1
      |), s1 AS (
      |  SELECT *, mtch AND (pos - min(pos)
      |    OVER (PARTITION BY word, grp)) % 2 = 0 AS sel
      |  FROM i1
      |), r1 AS (
      |  SELECT word, freq,
      |         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS INT) AS pos,
      |         CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
      |  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
      |               lag(sel) OVER (PARTITION BY word ORDER BY pos) AS psel
      |        FROM s1)
      |  WHERE NOT coalesce(psel, false)
      |), p2 AS (
      |  SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, freq
      |  FROM r1
      |), t2 AS (
      |  SELECT l, r, sum(freq) AS cnt FROM p2 WHERE r IS NOT NULL
      |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
      |), m2 AS (
      |  SELECT s.word, s.freq, s.pos, s.sym,
      |         coalesce(s.sym = t.l AND
      |           lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = t.r,
      |           false) AS mtch
      |  FROM r1 s CROSS JOIN t2 t
      |), i2 AS (
      |  SELECT *, CASE WHEN mtch THEN pos - row_number()
      |    OVER (PARTITION BY word, mtch ORDER BY pos) END AS grp FROM m2
      |), s2 AS (
      |  SELECT *, mtch AND (pos - min(pos)
      |    OVER (PARTITION BY word, grp)) % 2 = 0 AS sel
      |  FROM i2
      |), r2 AS (
      |  SELECT word, freq,
      |         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS INT) AS pos,
      |         CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
      |  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
      |               lag(sel) OVER (PARTITION BY word ORDER BY pos) AS psel
      |        FROM s2)
      |  WHERE NOT coalesce(psel, false)
      |)""".stripMargin

  private val bpeOrd = Window.partitionBy(col("word")).orderBy(col("pos"))

  /** Highest-weight adjacent symbol pair, ties broken lexically — 1 row. */
  private def bpeTopPair(syms: DataFrame): DataFrame =
    syms.withColumn("nxt", lead(col("sym"), 1).over(bpeOrd))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)

  /** Greedy left-to-right non-overlapping merge of `top` into the symbol
    * stream: every other position inside each consecutive-match run. */
  private def bpeApplyMerge(syms: DataFrame, top: DataFrame): DataFrame = {
    val m = syms.crossJoin(broadcast(top))
      .withColumn("nxt", lead(col("sym"), 1).over(bpeOrd))
      .withColumn("mtch", coalesce(
        col("sym") === col("l") && col("nxt") === col("r"), lit(false)))
    val sel = m
      .withColumn("grp", when(col("mtch"), col("pos") - row_number().over(
        Window.partitionBy(col("word"), col("mtch")).orderBy(col("pos")))))
      .withColumn("sel", col("mtch") && (col("pos") - min(col("pos")).over(
        Window.partitionBy(col("word"), col("grp")))) % 2 === 0)
    sel.withColumn("psel", lag(col("sel"), 1).over(bpeOrd))
      .filter(!coalesce(col("psel"), lit(false)))
      .withColumn("pos2", (row_number().over(bpeOrd) - 1).cast("int"))
      .select(col("word"), col("freq"), col("pos2").as("pos"),
        when(col("sel"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** Two learned merges over the corpus vocabulary: (t1, t2, r2) where
    * r2 is the symbol stream after both merges. Each stage checkpoints —
    * vocab-sized — because it feeds two downstream consumers. */
  /** The learned-BPE artifacts PERSISTED content-keyed ([[DerivedTable]]):
    * a production tokenizer trains once and ships its merge table + word
    * segmentation; before this, every x44/x45 run re-ran the three
    * iteration stages (top-pair aggregate + gaps-and-islands merge apply,
    * each a vocab-sized shuffle) from scratch — warm x45 measured 1.76 s
    * at sf0.1, mostly re-learning. The merge tables are 1 row each; the
    * segmentation is vocab×symbols. */
  private def bpeLearn(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def learned(): (DataFrame, DataFrame, DataFrame) = {
      val vocab = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val syms0 = vocab
        .select(col("word"), col("freq"),
          posexplode(split(col("word"), "")).as(Seq("pos", "sym")))
        .localCheckpoint()
      val t1 = bpeTopPair(syms0).localCheckpoint()
      val r1 = bpeApplyMerge(syms0, t1).localCheckpoint()
      val t2 = bpeTopPair(r1).localCheckpoint()
      val r2 = bpeApplyMerge(r1, t2).localCheckpoint()
      (t1, t2, r2)
    }
    // one lazy build shared by the three persisted artifacts: the first
    // DerivedTable miss triggers `learned()` once; hits read parquet only
    lazy val built = learned()
    val t1 = DerivedTable(s, d, Artifacts.bpemerge1) { built._1 }
    val t2 = DerivedTable(s, d, Artifacts.bpemerge2) { built._2 }
    val r2 = DerivedTable(s, d, Artifacts.bpeseg) { built._3 }
    (t1, t2, r2)
  }
}
