package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 pins.
  *
  * 1. The `events.ts` ENCODING contract: the driver's testdata generator has
  *    already shipped `ts` two ways (parquet TIMESTAMP(NANOS) through r6,
  *    TIMESTAMP_NTZ(MICROS) from r7's regen), and the switch silently broke
  *    14 queries because ingest assumed one encoding. [[Tables.normalizeTs]]
  *    must yield the SAME micro-precision TimestampType instants for every
  *    encoding the generator has used — pinned here on a crafted fixture
  *    written all three ways, so the next drift fails this spec instead of
  *    being discovered by the driver's correctness run.
  */
class Round8Spec extends AnyFunSuite {
  import SparkTestSession._

  private def writeEncodings(): (String, String, String) = {
    val base = Files.createTempDirectory("graft_ts_enc").toString
    // Instants chosen to straddle a midnight within 1 ms (the day-boundary
    // rounding hazard the nanos path's integer `div` exists to avoid) plus
    // a plain mid-day instant; micros resolution on the NTZ side.
    val micros = Seq(
      (1L, 1700006399999999L), // 1 us before a midnight
      (2L, 1700006400000001L), // 1 us after it
      (3L, 1700050000123456L))
    import spark.implicits._
    val asLongNanos = micros.toDF("event_id", "us")
      .select(col("event_id"), (col("us") * 1000L).as("ts"))
    val asNtz = micros.toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val asTs = micros.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
    val (d1, d2, d3) = (s"$base/nanos_long", s"$base/ntz", s"$base/tstz")
    asLongNanos.write.parquet(d1)
    asNtz.write.parquet(d2)
    asTs.write.parquet(d3)
    (d1, d2, d3)
  }

  test("normalizeTs yields identical TimestampType instants for long-nanos, NTZ-micros, and plain-timestamp encodings") {
    val (d1, d2, d3) = writeEncodings()
    val dfs = Seq(d1, d2, d3).map(d => Tables.normalizeTs(spark.read.parquet(d)))
    dfs.foreach { df =>
      assert(df.schema("ts").dataType == TimestampType, df.schema.treeString)
    }
    val canon = dfs.map(
      _.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(canon(0) == canon(1), "long-nanos vs NTZ-micros instants diverge")
    assert(canon(0) == canon(2), "long-nanos vs plain-timestamp instants diverge")
    assert(canon(0).map(_._2) == Seq(1700006399999999L, 1700006400000001L, 1700050000123456L))
  }

  test("the shipped events table normalizes to TimestampType (whatever encoding the driver last generated)") {
    val ev = Tables.events(spark, sf0_001)
    assert(ev.schema("ts").dataType == TimestampType)
    // to_date must be usable directly — this is what q34/q77/q79 and the
    // streaming tier all assume downstream of the normalizer.
    assert(ev.select(to_date(col("ts"))).distinct().count() > 0)
  }

  // ---- round-8 operator invariants (beyond the driver's oracle rows) ----

  test("x89 conservation: Σ n_removed == n_docs − distinct text hashes, and kept mass is never negative") {
    val out = SparkEntry.queries("x89_dedup_impact")(spark, sf0_001)
    val docs = Tables.documents(spark, sf0_001)
    val removed = out.agg(sum(col("n_removed"))).first().getLong(0)
    val expect = docs.count() - docs.select(md5(col("text"))).distinct().count()
    assert(removed == expect, "every non-first copy, and nothing else, is removed")
    assert(out.filter(col("chars_removed") > col("chars_total")).count() == 0)
  }

  test("x88 conservation: per-source token counts sum to the corpus stream; coverage in [0,1]") {
    val out = SparkEntry.queries("x88_oov_rate")(spark, sf0_001)
    val total = out.agg(sum(col("n_tokens"))).first().getLong(0)
    val stream = Tables.documents(spark, sf0_001)
      .select(explode(graft.functions.Text.tokens(col("text")))).count()
    assert(total == stream)
    assert(out.filter(col("coverage") < 0 || col("coverage") > 1).count() == 0)
    assert(out.filter(col("in_vocab") > col("n_tokens")).count() == 0)
  }

  test("x90 statistics are non-negative and every reported term meets min support") {
    val out = SparkEntry.queries("x90_vocab_shift")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("chi2") >= 0.0)
      assert(r.getAs[Long]("a") + r.getAs[Long]("b") >= 20)
    }
  }

  test("st12's converged streaming register state reproduces the batch x62 sketch row exactly") {
    // The DuckDB oracle already checks both against the same SQL; this pins
    // the stronger engine-internal equality directly (any micro-batch
    // slicing must yield the SAME registers — max-merge is order-free).
    val stream = SparkEntry.queries("st12_stream_hll")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x62_hll_portable")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("x91 calibration: counts are consistent and the precision/recall tradeoff is monotone across band configs") {
    val out = SparkEntry.queries("x91_lsh_calibration")(spark, sf0_001)
      .orderBy(col("bands").desc).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_cand"))
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
    }
    // more bands (shorter rows) ⇒ more candidates and ≥ recall; fewer
    // bands (longer rows) ⇒ ≥ precision — the tradeoff the sweep exists
    // to measure, and the theory column must rank the same way.
    val byBandsDesc = out.toSeq
    assert(byBandsDesc.map(_.getAs[Long]("n_cand")).sliding(2).forall(p => p.head >= p.last))
    assert(byBandsDesc.map(_.getAs[Double]("rec")).sliding(2).forall(p => p.head >= p.last))
    assert(byBandsDesc.map(_.getAs[Double]("prec")).sliding(2).forall(p => p.head <= p.last))
    assert(byBandsDesc.map(_.getAs[Double]("p_capture_50")).sliding(2).forall(p => p.head > p.last))
  }

  test("x92 chunks tile each document exactly: contiguous extents covering [1, len(text)]") {
    val out = SparkEntry.queries("x92_cdc_chunks")(spark, sf0_001)
    val lens = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), length(col("text")).as("n"))
    // per doc: Σ clen == n, first chunk starts at 1, extents are contiguous
    val agg = out.groupBy(col("doc_id")).agg(
      sum(col("clen")).as("covered"), min(col("cstart")).as("first_start"),
      max(col("cstart") + col("clen") - 1).as("last_end"))
    val bad = agg.join(lens, "doc_id")
      .filter(col("covered") =!= col("n") || col("first_start") =!= 1 ||
        col("last_end") =!= col("n"))
    assert(bad.count() == 0, "chunk extents must tile the document")
    val gaps = out.withColumn("next_start", lead(col("cstart"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("chunk_idx"))))
      .filter(col("next_start").isNotNull &&
        col("next_start") =!= col("cstart") + col("clen"))
    assert(gaps.count() == 0, "chunks must be contiguous")
  }

  test("x92 is content-defined: an inserted prefix re-synchronizes chunk fingerprints within one window") {
    // The fixture's duplicate docs guarantee shared chunks; pin the dedup
    // payoff directly: at least one chunk fingerprint recurs corpus-wide.
    val out = SparkEntry.queries("x92_cdc_chunks")(spark, sf0_001)
    assert(out.filter(col("is_dup")).count() > 0,
      "duplicate documents must share content-defined chunks")
  }

  test("x93 scoring is conserved: score_sum equals the independent per-token weight fold") {
    val out = SparkEntry.queries("x93_hashed_linear_score")(spark, sf0_001)
    // n_tokens must match the non-empty token stream per doc, and the
    // keep bit must be exactly sign(score_sum).
    val stream = Tables.documents(spark, sf0_001)
      .select(col("doc_id"),
        size(filter(graft.functions.Text.tokens(col("text")),
          w => length(w) > 0)).as("n_stream"))
    val bad = out.join(stream, "doc_id")
      .filter(col("n_tokens") =!= col("n_stream") ||
        (col("keep") =!= (col("score_sum") > 0)))
    assert(bad.count() == 0)
    assert(out.count() == Tables.documents(spark, sf0_001).count())
  }

  test("st13's converged streaming cohort state reproduces the batch q78 rows exactly") {
    // The oracle already checks both against q78OracleSql; this pins the
    // stronger engine-internal equality directly: min-fold and set-union
    // state must converge to the batch answer under any batching.
    val stream = SparkEntry.queries("st13_stream_retention")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("q78_retention_cohorts")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("m12 buckets partition the decodable images and the padded envelope dominates the pixel mass") {
    val out = SparkEntry.queries("m12_aspect_buckets")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val decodable = Tables.documents(spark, sf0_001)
      .filter(length(encode(col("text"), "UTF-8")) >= 24).count()
    assert(out.map(_.getAs[Long]("n_images")).sum == decodable,
      "every decodable image lands in exactly one bucket")
    out.foreach { r =>
      assert(r.getAs[Long]("pixels_padded") >= r.getAs[Long]("pixels_total"))
      val wf = r.getAs[Double]("waste_frac")
      assert(wf >= 0.0 && wf < 1.0)
    }
  }

  test("x94 medians are rank-selected data values and outliers are bounded by group size") {
    val out = SparkEntry.queries("x94_mad_outliers")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val total = Tables.events(spark, sf0_001)
      .filter(col("value").isNotNull).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n"))
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Double]("max_adiff") >= r.getAs[Double]("mad"))
    }
  }

  test("x95 transition counts conserve: Σn == events − users (each user's last event emits no pair), rows sum to 1") {
    val out = SparkEntry.queries("x95_event_transitions")(spark, sf0_001).collect()
    val ev = Tables.events(spark, sf0_001)
    val expect = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == expect)
    out.groupBy(_.getAs[String]("from_type")).foreach { case (_, rows) =>
      val psum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(psum - 1.0) < 0.01, s"row-conditional probs sum to $psum")
    }
  }

  test("x96 histogram conserves docs and removals against the corpus") {
    val out = SparkEntry.queries("x96_dup_size_histogram")(spark, sf0_001).collect()
    val docs = Tables.documents(spark, sf0_001)
    val n = docs.count()
    val distinct = docs.select(md5(col("text"))).distinct().count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == n)
    assert(out.map(_.getAs[Long]("docs_removable")).sum == n - distinct)
    assert(out.map(_.getAs[Long]("chars_total")).sum ==
      docs.agg(sum(col("n_chars"))).first().getLong(0))
  }

  test("x97 weighted sampling over-represents heavy documents and is deterministic") {
    val out = SparkEntry.queries("x97_priority_sample")(spark, sf0_001).collect()
    assert(out.length == 20)
    val sampleMean = out.map(_.getAs[Long]("n_chars")).sum / 20.0
    val corpusMean = Tables.documents(spark, sf0_001)
      .agg(avg(col("n_chars"))).first().getDouble(0)
    assert(sampleMean > corpusMean,
      s"length-weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
    val again = SparkEntry.queries("x97_priority_sample")(spark, sf0_001).collect()
    assert(out.toSeq == again.toSeq, "content-keyed sampling must be reproducible")
  }

  test("x98 canonical-key distincts are bounded by raw distincts and doc counts") {
    val out = SparkEntry.queries("x98_normalization_gain")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0_001).count())
    out.foreach { r =>
      assert(r.getAs[Long]("distinct_norm") <= r.getAs[Long]("distinct_raw"))
      assert(r.getAs[Long]("distinct_raw") <= r.getAs[Long]("n_docs"))
    }
  }

  test("st14's converged streaming sample reproduces the batch x97 draw exactly") {
    val stream = SparkEntry.queries("st14_stream_sample")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x97_priority_sample")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq,
      "top-k by total priority order must be batching-free")
  }

  test("the cdc_boundaries SQL function matches the Column API on the fixture corpus") {
    graft.plans.CdcBoundariesSql.register(spark)
    val docs = Tables.documents(spark, sf0_001).limit(50)
      .select(col("doc_id"), col("text"))
    val viaSql = docs.selectExpr("doc_id", "cdc_boundaries(text, 4, 32) AS ends")
    val viaCol = docs.select(col("doc_id"),
      graft.plans.CdcBoundaries(col("text"), 4, 32).as("ends"))
    assert(viaSql.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaSql).isEmpty)
    // reference fold on one concrete value: boundaries of "abcdefgh"-style
    // strings must satisfy the gear-hash definition
    val row = docs.select(col("text"),
      graft.plans.CdcBoundaries(col("text"), 4, 32).as("ends")).first()
    val text = row.getString(0)
    val ends = row.getSeq[Int](1)
    val expected = {
      val n = text.length
      val cuts = (4 to n).filter { i =>
        var h = 0L
        (i - 4 until i).foreach(k => h = h * 31L + text.charAt(k))
        h % 1000000007L % 32 == 0
      }
      if (cuts.isEmpty || cuts.last != n) cuts :+ n else cuts
    }
    assert(ends == expected)
  }

  test("m13 segment structure is consistent: pigeonhole bound on the longest segment") {
    val out = SparkEntry.queries("m13_segment_bounds")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nf = r.getAs[Int]("n_frames")
      val segs = r.getAs[Int]("n_segments")
      val longest = r.getAs[Int]("longest_seg")
      assert(segs == r.getAs[Int]("n_cuts") + 1)
      assert(longest <= nf)
      assert(longest.toLong * segs >= nf, "longest segment must cover its pigeonhole share")
      assert(r.getAs[Long]("peak_jump") >= 0L)
    }
  }

  test("x99 reports one finite statistic per dimension") {
    val out = SparkEntry.queries("x99_embedding_drift")(spark, sf0_001).collect()
    assert(out.length == 64)
    out.foreach { r =>
      assert(!r.getAs[Double]("z").isNaN && !r.getAs[Double]("z").isInfinite)
    }
  }

  test("x100 intervals are ordered, bracket the observed mean on the fixture, and are reproducible") {
    val out = SparkEntry.queries("x100_bootstrap_ci")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (lo, m, hi) = (r.getAs[Double]("ci_lo"),
        r.getAs[Double]("mean_chars"), r.getAs[Double]("ci_hi"))
      assert(lo <= hi)
      assert(lo <= m && m <= hi,
        s"fixture-scale bootstrap interval [$lo, $hi] should bracket $m")
    }
    val again = SparkEntry.queries("x100_bootstrap_ci")(spark, sf0_001).collect()
    assert(out.toSeq == again.toSeq, "content-keyed bootstrap must be reproducible")
  }

  test("x101 append-maintained IVF lists equal the full rebuild row-for-row") {
    // IVF assignment is per-vector independent, so base-lists ∪ Δ-pass
    // must be EXACTLY the artifact built over everything — the property
    // that makes the index maintainable on a live corpus.
    val full = graft.operators.Similarity.ivfAssignedTable(spark, sf0_001)
      .select(col("vec_id"), col("rk"), col("cent_id"))
    val merged = graft.operators.Similarity.ivfAppendMerged(spark, sf0_001)
      .select(col("vec_id"), col("rk"), col("cent_id"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // the delta slice is genuinely present on both sides
    assert(full.filter(col("vec_id") % 10 === 7).count() > 0)
  }

  test("x102 is leakage-free: the window derivation equals an independent strictly-before join") {
    val out = SparkEntry.queries("x102_pit_features")(spark, sf0_001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).sorted.toSeq
    val ev = Tables.events(spark, sf0_001)
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("ceid"), col("value").as("cv"))
    val lastClick = labels
      .join(clicks, col("user_id") === col("cu") && col("cts") < col("ts"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_id"))
          .orderBy(col("cts").desc_nulls_last, col("ceid").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("cv"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    val expect = lastClick
      .join(views, col("user_id") === col("vu") && col("vts") < col("ts"), "left")
      .groupBy(col("user_id"), col("ts"), col("event_id"), col("value"), col("cv"))
      .agg(count(col("vts")).as("nv"))
      .collect().map(r => (r.getLong(0), r.getAs[java.sql.Timestamp]("ts"),
        math.rint((r.getDouble(3) + 1e-9) * 1e4) / 1e4,
        math.rint(((if (r.isNullAt(4)) -1.0 else r.getDouble(4)) + 1e-9) * 1e4) / 1e4,
        r.getLong(5)))
      .map(t => (t._1, t._2.toInstant.getEpochSecond * 1000000L
        + t._2.toInstant.getNano / 1000L, t._3, t._4, t._5))
      .sorted.toSeq
    assert(out == expect)
  }

  test("x103 buckets respect their log2 bounds, conserve conversions, and the cumulative share ends at 1") {
    val out = SparkEntry.queries("x103_conversion_latency")(spark, sf0_001)
      .orderBy(col("bucket")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val k = r.getAs[Int]("bucket")
      val (lo, hi) = (r.getAs[Long]("min_lat_s"), r.getAs[Long]("max_lat_s"))
      assert(lo >= (1L << k) - 1 && hi < (1L << (k + 1)) - 1,
        s"bucket $k holds latencies with lat+1 in [2^$k, 2^${k + 1})")
      assert(lo <= hi)
    }
    assert(math.abs(out.last.getAs[Double]("cum_frac") - 1.0) < 1e-9)
    // conservation: Σn == purchases with a strictly-before click, which
    // x102 reports as last_click_value != -1
    val withClick = SparkEntry.queries("x102_pit_features")(spark, sf0_001)
      .filter(col("last_click_value") =!= -1.0).count()
    assert(out.map(_.getAs[Long]("n")).sum == withClick)
  }

  test("st15's converged streaming cluster state reproduces the batch x96 histogram exactly") {
    val stream = SparkEntry.queries("st15_stream_dup_stats")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x96_dup_size_histogram")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq,
      "sum-merged per-digest state must be batching-free")
  }

  test("w11: analyzed statistics reach the optimizer's plan-level stats") {
    val out = SparkEntry.queries("w11_stats_collect")(spark, sf0_001).collect()
    val rc = out.head.getAs[Long]("row_count")
    // after ANALYZE, the logical relation must carry the exact rowCount
    // under CBO — this is what join reorder and broadcast sizing read
    // (plan stats expose only sizeInBytes when CBO is off, so the pin
    // runs on a CBO-enabled session clone; the shared catalog serves
    // the same analyzed table)
    val cbo = spark.newSession()
    cbo.conf.set("spark.sql.cbo.enabled", "true")
    cbo.conf.set("spark.sql.statistics.planStats.enabled", "true")
    val tbl = cbo.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.startsWith("g_user_stats_v2_")).head
    // stats are computed lazily against the THREAD's active SQLConf —
    // pin it to the CBO clone for the read
    org.apache.spark.sql.classic.SparkSession.setActiveSession(
      cbo.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    try {
      val planStats = cbo.table(tbl).queryExecution.optimizedPlan.stats
      assert(planStats.rowCount.contains(BigInt(rc)),
        s"optimizer stats ${planStats.rowCount} should carry the analyzed rowCount $rc")
    } finally org.apache.spark.sql.classic.SparkSession.setActiveSession(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  test("m11 reports only frames shared by ≥2 docs, with occurrence ≥ doc counts") {
    val out = SparkEntry.queries("m11_frame_dedup")(spark, sf0_001).collect()
    assert(out.nonEmpty) // the fixture's duplicate docs share frames
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("first_doc") <= r.getAs[Long]("last_doc"))
    }
  }

  test("x104 HRW minimal disruption: movers land ONLY on the new shard; mod-N rehash moves strictly more") {
    val rows = SparkEntry.queries("x104_rendezvous_shards")(spark, sf0_001)
      .collect()
    val nDocs = Tables.documents(spark, sf0_001).count()
    // conservation: both assignments place every doc exactly once
    assert(rows.map(_.getAs[Long]("n8_hrw")).sum == nDocs)
    assert(rows.map(_.getAs[Long]("n9_hrw")).sum == nDocs)
    // THE rendezvous property: growing 8→9 only ever moves a doc to the
    // NEW shard (argmax over a superset changes iff the new element wins)
    rows.filter(_.getAs[Long]("shard") < 8).foreach { r =>
      assert(r.getAs[Long]("moved_in_hrw") == 0L,
        s"HRW moved a doc into pre-existing shard ${r.getAs[Long]("shard")}")
    }
    val s8row = rows.find(_.getAs[Long]("shard") == 8L).get
    assert(s8row.getAs[Long]("moved_in_hrw") == s8row.getAs[Long]("n9_hrw"),
      "shard 8's population must be exactly the movers")
    // and the contrast that motivates HRW: mod-N rehash reshuffles ~8/9
    val hrwMoved = rows.map(_.getAs[Long]("moved_in_hrw")).sum
    val modMoved = rows.map(_.getAs[Long]("moved_in_mod")).sum
    assert(hrwMoved < modMoved,
      s"HRW must move fewer docs than mod rehash ($hrwMoved vs $modMoved)")
    assert(hrwMoved <= nDocs / 3, "HRW movement should be near n/9, not bulk")
  }

  test("x105 mutual-kNN edges: canonical a<b, both ranks within top-3, node degree ≤ 3") {
    val out = SparkEntry.queries("x105_mutual_knn")(spark, sf0_001)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      val (ab, ba) = (r.getAs[Int]("rank_ab"), r.getAs[Int]("rank_ba"))
      assert(ab >= 1 && ab <= 3 && ba >= 1 && ba <= 3)
    }
    // mutuality bounds the degree by k: a node can keep at most its own 3
    val deg = out.select(col("a_id").as("id"))
      .unionAll(out.select(col("b_id").as("id")))
      .groupBy("id").count().agg(max("count")).first().getLong(0)
    assert(deg <= 3L, s"mutual-kNN degree exceeded k: $deg")
  }

  test("x106 Kneser-Ney is a proper conditional distribution: Σ_w2 P(w2|w1) == 1 over the full vocab") {
    // Recompute the model components for the densest context and check the
    // analytical normalization: Σ_observed (c−D)/c1 + λ·Σ_vocab Pcont = 1
    // with λ = D·N1+(w1•)/c1 and Σ_vocab Pcont = 1 by construction. Summing
    // the OBSERVED continuation mass and adding λ·(1 − Σ_obs Pcont) covers
    // the unobserved tail without enumerating the vocabulary.
    val c2 = Tables.documents(spark, sf0_001)
      .select(explode(graft.functions.Text.rawShingles(col("text"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .withColumn("w1", split(col("bg"), "_").getItem(0))
      .withColumn("w2", split(col("bg"), "_").getItem(1))
    val tt = c2.count().toDouble
    val top = c2.groupBy(col("w1"))
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("fw"))
      .orderBy(col("c1").desc, col("w1")).first()
    val (w1v, c1, fw) = (top.getString(0), top.getLong(1).toDouble,
      top.getLong(2).toDouble)
    val bw = c2.groupBy(col("w2")).agg(count(lit(1)).as("nbw"))
    val obs = c2.filter(col("w1") === w1v).join(bw, "w2")
      .select(
        (greatest(col("c") - 0.75, lit(0.0))
          + (lit(0.75) * lit(fw)) * (col("nbw") * lit(1.0) / lit(tt)))
          .as("num"),
        (col("nbw") * lit(1.0) / lit(tt)).as("pcont"))
      .agg(sum(col("num")), sum(col("pcont"))).first()
    val total = obs.getDouble(0) / c1 +
      (0.75 * fw / c1) * (1.0 - obs.getDouble(1))
    assert(math.abs(total - 1.0) < 1e-9, s"KN mass sums to $total, not 1")
  }

  test("x107 co-activity Jaccard: canonical pairs, shared bounded by both set sizes, jaccard in (0,1]") {
    val rows = SparkEntry.queries("x107_coactivity_jaccard")(spark, sf0_001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("u1") < r.getAs[Long]("u2"))
      val (sh, h1, h2) = (r.getAs[Long]("shared"),
        r.getAs[Long]("h1"), r.getAs[Long]("h2"))
      assert(sh >= 1 && sh <= math.min(h1, h2),
        s"shared $sh outside [1, min($h1,$h2)]")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0 + 1e-9, s"jaccard $j outside (0,1]")
    }
  }

  test("m14 channel histograms conserve mass: buckets sum to the channel pixel count, sums bounded by 255·n") {
    val out = SparkEntry.queries("m14_channel_histogram")(spark, sf0_001)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length % 3 == 0, "three channel rows per doc")
    rows.foreach { r =>
      val bsum = r.getAs[Long]("b0") + r.getAs[Long]("b1") +
        r.getAs[Long]("b2") + r.getAs[Long]("b3")
      assert(bsum == r.getAs[Long]("n_ch"), "bucket counts must tile the channel")
      assert(r.getAs[Long]("sum_v") <= 255L * r.getAs[Long]("n_ch"))
    }
    // the three channels of one doc de-interleave the SAME raster: equal n_ch
    val perDoc = out.groupBy(col("doc_id"))
      .agg(countDistinct(col("n_ch")).as("k"), count(lit(1)).as("n"))
      .filter(col("k") =!= 1 || col("n") =!= 3).count()
    assert(perDoc == 0, "every doc must emit exactly 3 equal-sized channels")
  }

  test("x108 Gini is in [0,1) and exactly 0 on a uniform count distribution") {
    SparkEntry.queries("x108_token_gini")(spark, sf0_001).collect().foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= -1e-9 && g < 1.0, s"gini $g outside [0,1)")
      val sh = r.getAs[Double]("top10_share")
      assert(sh > 0.0 && sh <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_terms") <= r.getAs[Long]("total_tokens"))
    }
    // closed-form anchor: n equal counts ⇒ 2·Σr·c/(n·Σc) − (n+1)/n = 0
    val n = 7L; val c = 13L
    val src = (1L to n).map(r => r * c).sum
    assert(2.0 * src / (n * (n * c)) - (n + 1.0) / n == 0.0)
  }

  test("x109 growth accounting conserves users: active = new + retained + resurrected, churn = prev active − retained") {
    val rows = SparkEntry.queries("x109_growth_accounting")(spark, sf0_001)
      .orderBy(col("week")).collect()
    assert(rows.nonEmpty)
    var prevActive = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") == r.getAs[Long]("n_new")
        + r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"))
      assert(r.getAs[Long]("n_churned") == prevActive - r.getAs[Long]("n_retained"))
      assert(r.getAs[Long]("n_retained") <= prevActive,
        "cannot retain more users than were active last week")
      prevActive = r.getAs[Long]("n_active")
    }
    assert(rows.head.getAs[Long]("n_new") == rows.head.getAs[Long]("n_active"),
      "the first observed week is all-new by definition")
    // Σ new across weeks = total distinct users ever seen
    val users = Tables.events(spark, sf0_001).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum == users)
  }

  test("st16 streaming growth ledger equals the batch x109 ledger row-for-row") {
    val batch = SparkEntry.queries("x109_growth_accounting")(spark, sf0_001)
      .collect().toSeq
    val stream = SparkEntry.queries("st16_stream_growth")(spark, sf0_001)
      .collect().toSeq
    assert(stream == batch,
      "converged union+distinct state must reproduce the batch scan")
  }

  test("x114 CountSketch errors carry BOTH signs on the collision-heavy grid (Count-Min never under-counts)") {
    val errs = SparkEntry.queries("x114_countsketch")(spark, sf0_001)
      .collect().map(_.getAs[Long]("err"))
    assert(errs.nonEmpty)
    assert(errs.exists(_ < 0), "no under-count — signed cancellation not visible")
    assert(errs.exists(_ > 0), "no over-count — suspicious for a 3x32 grid")
  }

  test("x115 k-center selection radii are nonincreasing and the final covering radius is bounded by the last pick") {
    val rows = SparkEntry.queries("x115_kcenter_seeds")(spark, sf0_001)
      .orderBy(col("round")).collect()
    assert(rows.length == 6)
    val radii = rows.map(_.getAs[Double]("radius"))
    (2 to 4).foreach { r =>
      assert(radii(r) <= radii(r - 1) + 1e-9,
        s"greedy farthest-point radius grew at round $r: ${radii(r - 1)} -> ${radii(r)}")
    }
    assert(radii(5) <= radii(4) + 1e-9,
      "covering radius of 5 seeds must not exceed the last selection distance")
    val seeds = rows.take(5).map(_.getAs[Long]("seed_id"))
    assert(seeds.distinct.length == 5, "seeds must be distinct")
    assert(rows(5).isNullAt(rows(5).fieldIndex("seed_id")))
  }

  test("x116 retrieval metrics respect their bounds: dcg <= idcg, ndcg/mrr/p@10 in [0,1]") {
    val r = SparkEntry.queries("x116_retrieval_ndcg")(spark, sf0_001)
      .collect().head
    val (dcg, idcg) = (r.getAs[Double]("dcg"), r.getAs[Double]("idcg"))
    assert(dcg > 0.0 && idcg > 0.0 && dcg <= idcg + 1e-9,
      "the ideal ordering can never score below the ranker's")
    assert(r.getAs[Double]("ndcg_10") <= 1.0 + 1e-9)
    val mrr = r.getAs[Double]("mrr")
    assert(mrr == 0.0 || (mrr >= 0.1 - 1e-9 && mrr <= 1.0 + 1e-9),
      "MRR over 10 ranks is 0 or in [1/10, 1]")
    val p = r.getAs[Double]("p_at_10")
    assert(p >= 0.0 && p <= 1.0 + 1e-9)
  }

  test("x117 calibration bins partition the scored corpus; rates in [0,1]; bin aggregate score inside the bin's range") {
    val rows = SparkEntry.queries("x117_score_calibration")(spark, sf0_001)
      .collect()
    assert(rows.nonEmpty)
    val scored = graft.operators.TextAnalysis
      .hashedScoreTable(spark, sf0_001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scored,
      "bins must partition every scored doc exactly once")
    rows.foreach { r =>
      val rate = r.getAs[Double]("pos_rate")
      assert(rate >= 0.0 && rate <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_docs"))
      val (lo, sc) = (r.getAs[Long]("bin_lo"), r.getAs[Double]("bin_score"))
      assert(sc >= lo - 1e-6 && sc < lo + 100 + 1e-6,
        s"aggregate score $sc outside its bin [$lo, ${lo + 100})")
    }
  }

  test("st17 streaming A/B readout equals the batch x111 readout row-for-row") {
    val batch = SparkEntry.queries("x111_ab_test_readout")(spark, sf0_001)
      .collect().toSeq
    val stream = SparkEntry.queries("st17_stream_ab")(spark, sf0_001)
      .collect().toSeq
    assert(stream == batch,
      "sum-merged moment state must reproduce the batch scan exactly")
  }

  test("m15 perceptual buckets: every bucket has >= 2 docs, distinct thumbs <= docs, and exact dups collapse to 1 thumb") {
    val rows = SparkEntry.queries("m15_perceptual_hash")(spark, sf0_001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_distinct_thumbs") >= 1
        && r.getAs[Long]("n_distinct_thumbs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Int]("phash") >= 0 && r.getAs[Int]("phash") <= 255)
      assert(r.getAs[Long]("first_doc") < r.getAs[Long]("last_doc"))
    }
    // the fixture has byte-identical duplicate documents (x89's premise):
    // at least one bucket must show thumbs < docs (exact copies grouped)
    assert(rows.exists(r =>
      r.getAs[Long]("n_distinct_thumbs") < r.getAs[Long]("n_docs")),
      "no bucket contains byte-identical thumbnails — dedup found nothing")
  }

  test("x111 arm counts partition the measured events; significance flag is consistent with z") {
    val rows = SparkEntry.queries("x111_ab_test_readout")(spark, sf0_001).collect()
    assert(rows.nonEmpty)
    val measured = Tables.events(spark, sf0_001)
      .filter(col("value").isNotNull).count()
    assert(rows.map(r => r.getAs[Long]("n_control")
      + r.getAs[Long]("n_treatment")).sum == measured)
    rows.foreach { r =>
      assert((math.abs(r.getAs[Double]("z")) > 1.96)
        == r.getAs[Boolean]("significant"))
      assert(r.getAs[Long]("n_control") > 0 && r.getAs[Long]("n_treatment") > 0)
    }
  }

  test("x112 coverage is monotone in K, bounded by 1, and n_in_vocab = min(K, types)") {
    val rows = SparkEntry.queries("x112_vocab_coverage_sweep")(spark, sf0_001)
      .orderBy(col("k")).collect()
    assert(rows.length == 3)
    var prev = 0.0
    rows.foreach { r =>
      val cov = r.getAs[Double]("coverage")
      assert(cov >= prev && cov <= 1.0 + 1e-9, "coverage must be monotone in K")
      prev = cov
      assert(r.getAs[Long]("n_in_vocab")
        == math.min(r.getAs[Long]("k"), r.getAs[Long]("n_types")))
      assert(r.getAs[Long]("covered_tokens") <= r.getAs[Long]("total_tokens"))
    }
  }

  test("x113 multiprobe finds candidates beyond the home bucket, ranks are a top-5 prefix") {
    val rows = SparkEntry.queries("x113_multiprobe_lsh")(spark, sf0_001).collect()
    assert(rows.nonEmpty)
    // the whole point of probing: flipped buckets contribute results
    assert(rows.exists(_.getAs[Boolean]("from_flip")),
      "no candidate came from a flipped bucket — probing did nothing")
    assert(rows.exists(!_.getAs[Boolean]("from_flip")),
      "home bucket contributed nothing — flip bookkeeping is wrong")
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rnk")).sorted.toList
      assert(ranks == (1 to ranks.length).toList,
        "ranks must be a dense 1..n prefix")
      assert(ranks.length <= 5)
    }
  }

  test("x110 trigram session support never exceeds occurrences, and both are positive") {
    val rows = SparkEntry.queries("x110_session_ngrams")(spark, sf0_001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (occ, ses) = (r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_sessions"))
      assert(occ >= ses && ses >= 1, s"occurrences $occ < sessions $ses")
      assert(r.getAs[String]("trigram").split(">").length == 3)
    }
  }

  // ---- wave 6 ----

  test("x119 CUSUM: the final day's statistic telescopes to 0 and is_peak marks exactly the argmax rows") {
    val rows = SparkEntry.queries("x119_changepoint")(spark, sf0_001)
      .orderBy(col("day")).collect()
    assert(rows.nonEmpty)
    assert(rows.last.getAs[Long]("g") == 0L,
      "g_n = |n·S_n − n·S_n| must be 0 — the telescoping identity")
    val gmax = rows.map(_.getAs[Long]("g")).max
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_peak") == (r.getAs[Long]("g") == gmax))
    }
    // cumulative sums must be strictly increasing (counts are positive)
    assert(rows.map(_.getAs[Long]("cum")).sliding(2).forall(p => p.head < p.last))
  }

  test("x120 HITS on a crafted bipartite graph reproduces hand-computed integer scores") {
    import spark.implicits._
    // users 1,2,3; types A,B: edges 1-A, 2-A, 2-B, 3-B
    // deg: u1=1, u2=2, u3=1 → a1(A)=h(1)+h(2)=3, a1(B)=h(2)+h(3)=3
    // h2: u1=a1(A)=3, u2=3+3=6, u3=3 → a2(A)=3+6=9, a2(B)=6+3=9
    val edges = Seq((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B"), (3L, "B"))
      .toDF("user_id", "event_type") // duplicate edge must collapse
    val out = operators.Corpus.hitsAuthorities(edges)
      .orderBy(col("event_type")).collect()
    assert(out.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_users"),
      r.getAs[Long]("auth_1"), r.getAs[Long]("auth_2"), r.getAs[Int]("rnk")))
      .toSeq == Seq(("A", 2L, 3L, 9L, 1), ("B", 2L, 3L, 9L, 2)))
  }

  test("x121 adjacency-join phrase counts equal an independent per-array HOF recount") {
    val out = SparkEntry.queries("x121_phrase_positions")(spark, sf0_001)
    val first = out.limit(1).collect()
    assert(first.nonEmpty, "fixture must contain at least one phrase hit")
    val (w1, w2) = (first.head.getAs[String]("word_a"), first.head.getAs[String]("word_b"))
    // independent plan: no self-join — count adjacent positions inside
    // each document's token array with a higher-order filter
    def cnt(a: String, b: String) = {
      val toks = graft.functions.Text.tokens(col("text"))
      // try_element_at: null (→ filter-false) beyond the array, so the
      // guard covers 0/1-token docs without branching
      size(filter(sequence(lit(0), greatest(size(toks) - 2, lit(0))), i =>
        try_element_at(toks, i + 1) === a && try_element_at(toks, i + 2) === b))
    }
    val alt = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), cnt(w1, w2).cast("long").as("n_fwd"),
        cnt(w2, w1).cast("long").as("n_rev"))
      .filter(col("n_fwd") > 0 || col("n_rev") > 0)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = out.orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_fwd"),
        r.getAs[Long]("n_rev"))).toSeq
    assert(got == alt, "postings-intersection and array-scan plans disagree")
  }

  test("x122 fold matrix conserves the candidate-pair set and flags exactly the off-diagonal") {
    val out = SparkEntry.queries("x122_fold_leakage")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("is_leak") ==
        (r.getAs[Long]("fold_lo") != r.getAs[Long]("fold_hi")))
      assert(r.getAs[Long]("fold_lo") <= r.getAs[Long]("fold_hi"))
    }
    // Σ n_pairs over the matrix == the x04 candidate-pair universe
    // (recomputed independently from the shingle table)
    val tri = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("source"), col("lang"),
        graft.functions.Text.shingles(col("text"), 3).as("tri"))
    val pairs = tri.as("a").join(tri.as("b"),
        col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(size(array_intersect(col("a.tri"), col("b.tri"))) > 0)
      .count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum == pairs)
  }

  test("x123 spectrum conserves rows and keys; heaviest-first cumulative share ends at 1") {
    val out = SparkEntry.queries("x123_skew_audit")(spark, sf0_001).collect()
    val li = Tables.lineitem(spark, sf0_001)
    assert(out.map(_.getAs[Long]("bucket_rows")).sum == li.count())
    assert(out.map(_.getAs[Long]("n_keys")).sum ==
      li.select(col("l_partkey")).distinct().count())
    val last = out.minBy(_.getAs[Long]("freq"))
    assert(math.abs(last.getAs[Double]("cum_share_heavy") - 1.0) < 1e-6)
    out.foreach(r => assert(r.getAs[Long]("bucket_rows") ==
      r.getAs[Long]("freq") * r.getAs[Long]("n_keys")))
  }

  test("x124 overlap matrix is the full source-pair triangle with a brute-force-checked cell") {
    val out = SparkEntry.queries("x124_source_overlap")(spark, sf0_001).collect()
    val nSrc = Tables.documents(spark, sf0_001)
      .select(col("source")).distinct().count()
    assert(out.length.toLong == nSrc * (nSrc - 1) / 2,
      "every source pair shares at least one word in the fixture")
    out.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0 && j <= 1.0 + 1e-9)
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
    // brute-force one cell: distinct-token sets of the two sources
    val c = out.head
    def vocab(src: String) = Tables.documents(spark, sf0_001)
      .filter(col("source") === src)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0)).toSet
    val (va, vb) = (vocab(c.getAs[String]("src_a")), vocab(c.getAs[String]("src_b")))
    assert(c.getAs[Long]("n_shared") == (va & vb).size.toLong)
  }

  test("x125 leaderboard: dense ranks, non-increasing totals, and ledger-conserving sums") {
    val out = SparkEntry.queries("x125_value_topk")(spark, sf0_001).collect()
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toList == (1 to sorted.length).toList)
      assert(sorted.length <= 3)
      val svs = sorted.map(_.getAs[Long]("sv_milli"))
      assert(svs.sliding(2).forall(p => p.length < 2 || p.head >= p.last))
    }
    // rank-1 rows really are the per-type argmax of the full ledger
    val led = operators.Analytics.userValueState(Tables.events(spark, sf0_001))
    val maxes = led.groupBy(col("event_type")).agg(max(col("sv_milli")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(r.getAs[Long]("sv_milli") == maxes(r.getAs[String]("event_type")))
    }
  }

  test("x118 SNM two-pass distributed rank agrees with a direct global-window recompute") {
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"),
        array_sort(array_distinct(filter(
          graft.functions.Text.tokens(col("text")), w => length(w) > 0)))
          .as("toks"))
      .withColumn("skey", concat(
        coalesce(get(col("toks"), lit(0)), lit("")), lit(" "),
        coalesce(get(col("toks"), lit(1)), lit("")), lit(" "),
        coalesce(get(col("toks"), lit(2)), lit(""))))
    val W = org.apache.spark.sql.expressions.Window
    val r = docs.withColumn("rnk",
      row_number().over(W.orderBy(col("skey"), col("doc_id"))).cast("long"))
    val a = r.select(col("doc_id").as("doc_a"), col("toks").as("ta"), col("rnk").as("ra"))
    val b = r.select(col("doc_id").as("doc_b"), col("toks").as("tb"), col("rnk").as("rb"))
    val brute = a.join(b, col("rb") > col("ra") && col("rb") <= col("ra") + 4)
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("i") > 0)
      .select(col("doc_a"), col("doc_b"), (col("rb") - col("ra")).cast("int").as("dist"),
        col("i").cast("long").as("n_shared"),
        round(col("i") * 1.0 / (size(col("ta")) + size(col("tb")) - col("i")) + lit(1e-9), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSeq
    val got = SparkEntry.queries("x118_snm_dedup")(spark, sf0_001)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dist"), r.getAs[Long]("n_shared"),
        r.getAs[Double]("jaccard"))).toSeq
    assert(got == brute, "bucketed two-pass rank diverges from the global window")
  }

  test("m16 patches tile each image exactly and means stay in the brightness domain") {
    val out = SparkEntry.queries("m16_patchify")(spark, sf0_001)
    val perDoc = out.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_patches"), sum(col("n_px")).as("px_total"))
      .collect()
    assert(perDoc.nonEmpty)
    val hs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"),
        expr("octet_length(encode(text, 'UTF-8')) div 24").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perDoc.foreach { r =>
      assert(r.getAs[Long]("n_patches") == 4L)
      assert(r.getAs[Long]("px_total") == 8L * hs(r.getAs[Long]("doc_id")),
        "2×2 patches must partition the full 8×h raster")
    }
    assert(out.filter(col("mean_b") > 765 || col("mean_b") < 0).count() == 0)
  }

  test("st18's converged streaming ledger reproduces the batch x125 leaderboard row-for-row") {
    val stream = SparkEntry.queries("st18_stream_topk")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x125_value_topk")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  // ---- wave 7 ----

  test("x126 KS statistic matches a driver-side brute-force CDF sup-norm for every source") {
    val out = SparkEntry.queries("x126_ks_distance")(spark, sf0_001).collect()
    val docs = Tables.documents(spark, sf0_001)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val all = docs.map(_._2).sorted
    val n = all.length.toLong
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = docs.filter(_._1 == src).map(_._2)
      val ns = mine.length.toLong
      val grid = all.distinct
      val devs = grid.map { v =>
        (v, math.abs(mine.count(_ <= v) * n - all.count(_ <= v) * ns))
      }
      val dmax = devs.map(_._2).max
      assert(r.getAs[Long]("d_scaled") == dmax, s"$src d_scaled")
      assert(r.getAs[Long]("at_val") == devs.filter(_._2 == dmax).map(_._1).min,
        s"$src argmax")
      assert(r.getAs[Long]("n_docs") == ns)
      val ks = r.getAs[Double]("ks")
      assert(ks >= 0 && ks <= 1.0 + 1e-9)
    }
  }

  test("x127 SRM conserves per-type distinct users and flags exactly the chi-square exceedances") {
    val out = SparkEntry.queries("x127_srm_check")(spark, sf0_001).collect()
    val users = Tables.events(spark, sf0_001)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getAs[String]("event_type")).toSet == users.keySet)
    out.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(na + nb == users(r.getAs[String]("event_type")),
        "arms must partition the type's distinct users")
      val chi2 = 1000L * (na - nb) * (na - nb) / (na + nb)
      assert(r.getAs[Long]("chi2_milli") == chi2)
      assert(r.getAs[Boolean]("srm_flag") == (chi2 >= 3841L))
    }
  }

  test("x128 occupancy conserves the corpus and triggers exactly at the 30% integer boundary") {
    val out = SparkEntry.queries("x128_ivf_tombstone")(spark, sf0_001).collect()
    val nVecs = Tables.embeddings(spark, sf0_001).count()
    assert(out.map(r => r.getAs[Long]("n_live") + r.getAs[Long]("n_dead")).sum
      == nVecs, "every vector sits in exactly one rk=1 inverted list")
    out.foreach { r =>
      val (live, dead) = (r.getAs[Long]("n_live"), r.getAs[Long]("n_dead"))
      assert(r.getAs[Boolean]("needs_compact") == (10 * dead >= 3 * (live + dead)))
      assert(r.getAs[Long]("mean_live_sim_micro") <= 1000000L,
        "cosine affinity cannot exceed 1")
    }
  }

  test("st19's converged streaming daily ledger reproduces the batch x119 report row-for-row") {
    val stream = SparkEntry.queries("st19_stream_changepoint")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x119_changepoint")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  // ---- wave 8 ----

  test("x129 base+delta merged BM25 stats equal the from-scratch row, and the ranking equals x48's") {
    val merged = operators.Mining.bm25MergedStats(spark, sf0_001).collect()
    // the stats function x48 itself scores with, over the full corpus
    val full = operators.Mining.bm25Stats(Tables.documents(spark, sf0_001))
      .collect()
    assert(merged.toSeq == full.toSeq,
      "sum-merge of slice partials must equal the full-corpus stats row")
    val inc = SparkEntry.queries("x129_bm25_incremental")(spark, sf0_001)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    val scratch = SparkEntry.queries("x48_bm25")(spark, sf0_001)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSeq
    assert(inc == scratch, "maintained-stats ranking must equal the rebuild")
  }

  test("x130 normalization: full decile grid per source and harmonized spread never exceeds raw spread") {
    val out = SparkEntry.queries("x130_quantile_norm")(spark, sf0_001).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Int]("decile")).sorted.toList == (0 to 9).toList,
        s"$src must fill all 10 deciles")
      val sorted = rs.sortBy(_.getAs[Int]("decile"))
      assert(sorted.map(_.getAs[Long]("avg_norm_milli")).sliding(2)
        .forall(p => p.length < 2 || p.head <= p.last),
        s"$src normalized deciles must be monotone")
    }
    // harmonization: across sources, per-decile spread of the NORMALIZED
    // average is no larger (summed over deciles) than the raw spread
    def spread(f: org.apache.spark.sql.Row => Long) =
      (0 to 9).map { dec =>
        val vs = out.filter(_.getAs[Int]("decile") == dec).map(f)
        vs.max - vs.min
      }.sum
    assert(spread(_.getAs[Long]("avg_norm_milli")) <=
      spread(_.getAs[Long]("avg_raw_milli")),
      "quantile normalization must not widen the cross-source spread")
  }

  test("x131 stopword columns are internally consistent and the top word's df recomputes") {
    val out = SparkEntry.queries("x131_stopwords")(spark, sf0_001).collect()
    assert(out.length == 20)
    val nDocs = Tables.documents(spark, sf0_001).count()
    out.foreach { r =>
      assert(r.getAs[Long]("cf") >= r.getAs[Long]("df"),
        "a word occurs at least once per containing doc")
      assert(r.getAs[Long]("df") <= nDocs)
      assert(r.getAs[Boolean]("is_stopword") ==
        (2 * r.getAs[Long]("df") >= nDocs))
    }
    val top = out.head
    val brute = Tables.documents(spark, sf0_001)
      .filter(array_contains(graft.functions.Text.tokens(col("text")),
        top.getAs[String]("word"))).count()
    assert(top.getAs[Long]("df") == brute)
  }

  test("st20's converged streaming activity set reproduces the batch x127 SRM gate row-for-row") {
    val stream = SparkEntry.queries("st20_stream_srm")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x127_srm_check")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  // ---- wave 9 ----

  test("x132 rolling sketch: first-day window equals the single-day distinct and estimates stay in band") {
    val out = SparkEntry.queries("x132_hll_rolling")(spark, sf0_001)
      .orderBy(col("day")).collect()
    assert(out.nonEmpty)
    val du = Tables.events(spark, sf0_001)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val firstDay = out.head.getAs[java.sql.Date]("day")
    val d1 = du.filter(col("day") === lit(firstDay)).count()
    assert(out.head.getAs[Long]("n_exact") == d1,
      "day 1's trailing-7 window is just day 1")
    // window exacts can never shrink below any single covered day
    val daily = du.groupBy(col("day")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") >= daily(r.getAs[java.sql.Date]("day").toString))
      assert(r.getAs[Double]("rel_err") < 0.4,
        s"256-register estimate out of band on ${r.getAs[java.sql.Date]("day")}")
    }
  }

  test("x133 LP: round-2 labels are genuine neighbourhood majority votes and sizes are consistent") {
    val out = SparkEntry.queries("x133_label_prop")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    // recompute round 2 independently from the query's own round-1 labels
    val docs = Tables.documents(spark, sf0_001)
      .filter(col("doc_id") < 400 && (col("doc_id") * 48271) % 100 < 25)
      .select((col("doc_id") % 100).cast("int").as("src"),
        ((col("doc_id") * 31) % 100).cast("int").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val edges = docs.union(docs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    val l1 = out.map(r => r.getAs[Int]("node") -> r.getAs[Int]("label_r1")).toMap
    out.foreach { r =>
      val node = r.getAs[Int]("node")
      val votes = edges.filter(_._1 == node).map(e => l1(e._2))
        .groupBy(identity).map { case (l, vs) => (l, vs.length) }
      val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      assert(r.getAs[Int]("label_r2") == best, s"node $node majority vote")
    }
    val sizes = out.groupBy(_.getAs[Int]("label_r2"))
    sizes.foreach { case (lbl, rs) =>
      assert(rs.forall(_.getAs[Long]("community_size") == rs.length.toLong),
        s"community $lbl size column")
    }
  }

  // ---- wave 10 ----

  test("w12 time travel: v1 reads stay byte-identical after the v2 append, and versions reconcile") {
    val (v1, v2) = operators.PhysicalDesign.timeTravelVersions(spark, sf0_001)
    // v2 exists; v1 must still equal the pre-append slice exactly
    val ev = Tables.events(spark, sf0_001)
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(sig(operators.PhysicalDesign.readVersion(spark, v1)) ==
      sig(ev.filter(col("event_id") % 10 =!= 7)),
      "read@v1 after the v2 commit must equal the original snapshot")
    assert(sig(operators.PhysicalDesign.readVersion(spark, v2)) == sig(ev),
      "read@v2 must see base + delta exactly")
    // base immutability: building again (idempotent) rewrites nothing
    val baseDir = java.nio.file.Paths.get(v1).getParent.resolve("base")
    val before = java.nio.file.Files.list(baseDir).toArray.map(_.toString).sorted.toSeq
    operators.PhysicalDesign.timeTravelVersions(spark, sf0_001)
    val after = java.nio.file.Files.list(baseDir).toArray.map(_.toString).sorted.toSeq
    assert(before == after, "v1's files are immutable")
  }

  test("x134 seasonal expectations and anomaly flags recompute from the output itself") {
    val out = SparkEntry.queries("x134_seasonal_anomaly")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    // expected_milli per weekday == integer mean of that weekday's counts
    out.groupBy(_.getAs[Int]("wd")).foreach { case (_, rs) =>
      val mean = 1000L * rs.map(_.getAs[Long]("cnt")).sum / rs.length
      rs.foreach(r => assert(r.getAs[Long]("expected_milli") == mean))
    }
    // MAD threshold: recompute the median of |residual| and re-derive flags
    val absRes = out.map(r => math.abs(r.getAs[Long]("residual_milli"))).sorted
    val n = absRes.length
    val mad = if (n % 2 == 1) absRes(n / 2).toDouble
      else (absRes(n / 2 - 1) + absRes(n / 2)) / 2.0
    out.foreach { r =>
      assert(r.getAs[Boolean]("is_anomaly") ==
        (math.abs(r.getAs[Long]("residual_milli")) > 3 * mad))
      assert(r.getAs[Long]("residual_milli") ==
        1000 * r.getAs[Long]("cnt") - r.getAs[Long]("expected_milli"))
    }
  }

  test("x135 copy-flow matrix equals a brute-force all-pairs containment recompute") {
    val tri = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("source"), col("lang"),
        graft.functions.Text.shingles(col("text"), 3).as("tri"))
    val brute = tri.as("a").join(tri.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("a.source").as("sa"),
        size(col("a.tri")).as("za"), col("b.doc_id").as("db"),
        col("b.source").as("sb"), size(col("b.tri")).as("zb"),
        size(array_intersect(col("a.tri"), col("b.tri"))).as("i"))
      .filter(col("i") > 0 && lit(2) * col("i") >= least(col("za"), col("zb")))
      .collect()
      .map { r =>
        val fromA = r.getAs[Int]("za") < r.getAs[Int]("zb") ||
          (r.getAs[Int]("za") == r.getAs[Int]("zb") &&
            r.getAs[Long]("da") < r.getAs[Long]("db"))
        (if (fromA) r.getAs[String]("sa") else r.getAs[String]("sb"),
          if (fromA) r.getAs[String]("sb") else r.getAs[String]("sa"),
          r.getAs[Int]("i").toLong)
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((f, t), vs) => (f, t, vs.length.toLong, vs.map(_._3).sum) }
      .toSeq.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("x135_copy_flow")(spark, sf0_001).collect()
      .map(r => (r.getAs[String]("src_from"), r.getAs[String]("src_to"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("sum_shared"))).toSeq
    assert(got == brute, "inverted-index plan diverges from all-pairs truth")
  }

  // ---- wave 11 ----

  test("x136 distributed prefix-max equals the direct global-window frontier, and shares telescope") {
    val out = SparkEntry.queries("x136_lateness_audit")(spark, sf0_001)
      .orderBy(col("bucket_id")).collect()
    assert(out.nonEmpty)
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-5)
    assert(math.abs(out.last.getAs[Double]("kept_under_edge") - 1.0) < 1e-6)
    assert(out.map(_.getAs[Double]("kept_under_edge")).sliding(2)
      .forall(p => p.length < 2 || p.head <= p.last))
    // independent recompute: single global window over the arrival key
    val W = org.apache.spark.sql.expressions.Window
    val direct = Tables.events(spark, sf0_001)
      .select(col("event_id"), col("ts"),
        (col("event_id") + when(col("event_id") % 17 === 3, 293L)
          .otherwise(0L)).as("akey"))
      .withColumn("frontier", max(col("ts")).over(
        W.orderBy(col("akey"), col("event_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(expr(
        "(unix_micros(frontier) - unix_micros(ts)) div 1000000").as("late_s"))
      .select(when(col("late_s") === 0, 0).when(col("late_s") <= 3600, 1)
        .when(col("late_s") <= 21600, 2).when(col("late_s") <= 86400, 3)
        .otherwise(4).as("bucket_id"))
      .groupBy(col("bucket_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_events") == direct(r.getAs[Int]("bucket_id")),
        "two-pass prefix max diverges from the global window")
    }
  }

  test("x137 sizing sweep: occupancy and fpp fall monotonically with m, within hard bounds") {
    val out = SparkEntry.queries("x137_bloom_sizing")(spark, sf0_001)
      .orderBy(col("m")).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (m, bits) = (r.getAs[Int]("m"), r.getAs[Long]("bits_set"))
      assert(bits <= m.toLong && bits <= 4 * r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_fp") <= r.getAs[Long]("n_neg"))
    }
    assert(out.map(_.getAs[Double]("occupancy")).sliding(2)
      .forall(p => p.head > p.last), "bigger filter, lower occupancy")
    assert(out.map(_.getAs[Double]("fpp")).sliding(2)
      .forall(p => p.head >= p.last), "bigger filter, no worse fpp")
  }

  // ---- wave 12 ----

  test("x138 modularity conserves edges, degrees and nodes, and the total Q is a valid score") {
    val out = SparkEntry.queries("x138_modularity")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val (e, _, l2) = operators.Corpus.lpPipeline(spark, sf0_001)
    val m2 = e.count()
    val nodes = l2.count()
    assert(out.map(_.getAs[Long]("degree_sum")).sum == m2,
      "per-community degree sums must partition 2m")
    assert(out.map(_.getAs[Long]("n_nodes")).sum == nodes)
    assert(out.map(_.getAs[Long]("internal_directed")).sum <= m2)
    val q = out.map(_.getAs[Long]("q_micro")).sum
    assert(q >= -1000000L && q <= 1000000L, s"Q=$q out of [-1,1] micro")
    // brute-force one community's internal edge count
    val labels = l2.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val edges = e.collect().map(r => (r.getInt(0), r.getInt(1)))
    val c0 = out.head.getAs[Int]("community")
    val brute = edges.count { case (s0, d0) =>
      labels(s0) == c0 && labels(d0) == c0 }
    assert(out.head.getAs[Long]("internal_directed") == brute.toLong)
  }

  test("x139 gap accounting: gaps = events - users, and the session count telescopes to users") {
    val out = SparkEntry.queries("x139_gap_histogram")(spark, sf0_001)
      .orderBy(col("bucket_id")).collect()
    assert(out.nonEmpty)
    val ev = Tables.events(spark, sf0_001)
    val nEvents = ev.count()
    val nUsers = ev.select(col("user_id")).distinct().count()
    assert(out.map(_.getAs[Long]("n_gaps")).sum == nEvents - nUsers,
      "every event except each user's first contributes one gap")
    assert(out.map(_.getAs[Long]("sessions_if_cut_here")).sliding(2)
      .forall(p => p.length < 2 || p.head >= p.last),
      "a looser threshold can only merge sessions")
    assert(out.last.getAs[Long]("sessions_if_cut_here") == nUsers,
      "an infinite threshold leaves one session per user")
  }

  // ---- wave 13: the derived-partsupp TPC-H tier ----

  test("derived partsupp is a valid relation: <=4 suppliers per part, bounded columns, real keys") {
    val ps = operators.Supply.partsuppTable(spark, sf0_001)
    val perPart = ps.groupBy(col("p_partkey")).agg(count(lit(1)).as("c"))
    assert(perPart.filter(col("c") > 4).count() == 0)
    assert(ps.filter(col("ps_availqty") < 1 || col("ps_availqty") > 9999).count() == 0)
    assert(ps.filter(col("ps_cost_cents") < 100 || col("ps_cost_cents") > 99999).count() == 0)
    val nSupp = Tables.supplier(spark, sf0_001).count()
    assert(ps.filter(col("ps_suppkey") < 0 || col("ps_suppkey") >= nSupp).count() == 0,
      "every synthesized suppkey must exist in supplier")
    // deterministic: two builds are identical
    val a = ps.orderBy(col("p_partkey"), col("ps_suppkey")).collect().toSeq
    val b = operators.Supply.partsuppTable(spark, sf0_001)
      .orderBy(col("p_partkey"), col("ps_suppkey")).collect().toSeq
    assert(a == b)
  }

  test("q90 picks exactly one EUROPE supplier per part, and it is the cheapest") {
    val out = SparkEntry.queries("q90_min_cost_supplier")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("p_partkey")).distinct.length == out.length)
    // every chosen row is the min cost among that part's EU candidates
    val eu = Tables.supplier(spark, sf0_001)
      .join(Tables.nation(spark, sf0_001), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf0_001).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    val ps = operators.Supply.partsuppTable(spark, sf0_001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    out.foreach { r =>
      val cands = ps.filter(p => p._1 == r.getAs[Long]("p_partkey") && eu(p._2))
      assert(cands.nonEmpty && r.getAs[Long]("ps_cost_cents") == cands.map(_._3).min)
      assert(eu(r.getAs[Long]("s_suppkey")))
    }
  }

  test("q91 per-cell profits sum to the ungrouped total (integer cents conservation)") {
    val out = SparkEntry.queries("q91_nation_profit")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val total = Tables.lineitem(spark, sf0_001)
      .join(operators.Supply.partsuppTable(spark, sf0_001),
        col("l_partkey") === col("p_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .select((floor(lit(100) * col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("long") - col("ps_cost_cents") * col("l_quantity").cast("long")).as("p"))
      .agg(sum(col("p"))).first().getLong(0)
    assert(out.map(_.getAs[Long]("profit_cents")).sum == total,
      "grouping must conserve total profit")
  }

  test("q92 rows all clear the integer 0.1% threshold and shares are consistent") {
    val out = SparkEntry.queries("q92_important_stock")(spark, sf0_001).collect()
    assert(out.nonEmpty, "nation 3 has suppliers at every SF")
    val totalShare = out.map(_.getAs[Double]("share")).sum
    assert(totalShare <= 1.0 + 1e-6)
    val values = out.map(_.getAs[Long]("value_cents"))
    assert(values.sliding(2).forall(p => p.length < 2 || p.head >= p.last),
      "ordered by value desc")
  }

  test("q93 excess flags recompute: every reported supplier has 2*avail > shipped on some part") {
    val out = SparkEntry.queries("q93_excess_availability")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val shipped = Tables.lineitem(spark, sf0_001)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("q")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ps = operators.Supply.partsuppTable(spark, sf0_001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { r =>
      val sk = r.getAs[Long]("s_suppkey")
      val n = ps.count { case (pk, su, av) =>
        su == sk && shipped.get((pk, su)).exists(q => 2 * av > q) }
      assert(r.getAs[Long]("n_excess") == n.toLong, s"supplier $sk excess count")
    }
  }

  // ---- wave 14 ----

  test("st21's converged streaming inverted file equals the batch assignment and serves x101's answer") {
    val stream = SparkEntry.queries("st21_stream_ivf")(spark, sf0_001).collect()
    val batch = SparkEntry.queries("x101_ivf_append")(spark, sf0_001).collect()
    assert(stream.toSeq == batch.toSeq,
      "probe over the streamed index must equal the batch index's answer")
    // the state itself converges to the batch assignment (as a key set)
    val key = graft.ContentKey.key(
      java.nio.file.Paths.get(sf0_001, "embeddings.parquet"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("rk").cast("int"),
        col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val state = keyed(
      spark.read.parquet(graft.Scratch.path(s"graft_stivf_v1_$key")))
    val full = keyed(operators.Similarity.ivfAssignedTable(spark, sf0_001))
    assert(state == full, "converged streamed assignment must equal batch")
  }

  test("q94 excludes complaint suppliers and counts match a brute-force recompute") {
    val out = SparkEntry.queries("q94_partsupp_supplier_cnt")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val ps = operators.Supply.partsuppTable(spark, sf0_001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, sk) => sk % 7 != 2 }
    val parts = Tables.part(spark, sf0_001)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40))
      .collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
          r.getAs[Int]("p_size"))).toMap
    val brute = ps.flatMap { case (pk, sk) => parts.get(pk).map(g => (g, sk)) }
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).distinct.length }
    out.foreach { r =>
      val g = (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
        r.getAs[Int]("p_size"))
      assert(r.getAs[Long]("supplier_cnt") == brute(g).toLong, s"group $g")
      assert(r.getAs[Long]("supplier_cnt") <= 4)
    }
    assert(out.length == brute.size, "every qualifying group is reported")
  }

  // ---- wave 15 ----

  test("x140 unique mass never exceeds raw mass, ppm columns sum to ~1e6, and deltas balance") {
    val out = SparkEntry.queries("x140_dedup_adjusted_mix")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("tokens_unique") <= r.getAs[Long]("tokens_raw"))
      assert(r.getAs[Long]("delta_ppm") ==
        r.getAs[Long]("ppm_dedup") - r.getAs[Long]("ppm_raw"))
    }
    // integer-division ppm columns each sum to 1e6 minus truncation dust
    val sumRaw = out.map(_.getAs[Long]("ppm_raw")).sum
    val sumDed = out.map(_.getAs[Long]("ppm_dedup")).sum
    assert(sumRaw > 1000000L - out.length && sumRaw <= 1000000L)
    assert(sumDed > 1000000L - out.length && sumDed <= 1000000L)
    // global conservation: unique token mass across sources == tokens of
    // distinct texts
    val uniq = Tables.documents(spark, sf0_001)
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("keep"))
      .join(Tables.documents(spark, sf0_001),
        col("keep") === col("doc_id"))
      .select(size(filter(graft.functions.Text.tokens(col("text")),
        w => length(w) > 0)).cast("long").as("nt"))
      .agg(sum(col("nt"))).first().getLong(0)
    assert(out.map(_.getAs[Long]("tokens_unique")).sum == uniq)
  }

  test("x141 assortativity is a valid correlation computed from integer moments") {
    val out = SparkEntry.queries("x141_assortativity")(spark, sf0_001).collect()
    assert(out.length == 1)
    val r = out.head.getAs[Double]("r_assort")
    assert(r >= -1.0 - 1e-6 && r <= 1.0 + 1e-6, s"r=$r outside [-1,1]")
    // brute-force from the same edge list
    val (e, _, _) = operators.Corpus.lpPipeline(spark, sf0_001)
    val deg = e.collect().map(_.getInt(0))
      .groupBy(identity).map { case (n, vs) => n -> vs.length }
    val xy = e.collect().map(row => (deg(row.getInt(0)), deg(row.getInt(1))))
    val m = xy.length.toLong
    val sx = xy.map(_._1.toLong).sum
    val sxy = xy.map(p => p._1.toLong * p._2).sum
    val sxx = xy.map(p => p._1.toLong * p._1).sum
    val expect = math.floor(((m * sxy - sx * sx) * 1.0 /
      (m * sxx - sx * sx) + 1e-9) * 1e6 + 0.5) / 1e6
    assert(math.abs(r - expect) < 1e-9, s"r=$r expect=$expect")
  }

  test("m17 gain algebra: integer peak-normalization bounds and cap flag hold for every container") {
    val out = SparkEntry.queries("m17_gain_plan")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (peak, gain) = (r.getAs[Long]("peak"), r.getAs[Long]("gain_milli"))
      if (peak > 0) {
        assert(gain == 32767000L / peak)
        assert(peak * gain <= 32767000L, "gain may never push past full scale")
        assert(peak * (gain + 1) > 32767000L, "gain is the largest safe one")
      } else assert(gain == 0L)
      assert(r.getAs[Boolean]("is_capped") == (gain > 20000L))
      assert(r.getAs[Long]("capped_gain_milli") == math.min(gain, 20000L))
      assert(r.getAs[Long]("headroom_milli") == 1000L * (32767L - peak) / 32767L)
    }
  }

  // ---- wave 16 ----

  test("x142 auc_num2 equals the brute-force Mann–Whitney pair count and auc is its single normalization") {
    val out = SparkEntry.queries("x142_auc_rank")(spark, sf0_001).collect()
    assert(out.length == 1)
    val r = out.head
    // independent recompute: per-doc milli-mean score from the shared
    // score table, quality label re-derived from raw text by the formula
    // (not via qualityCol), then ALL pos×neg pairs counted directly
    val sm = operators.TextAnalysis.hashedScoreTable(spark, sf0_001)
      .selectExpr("doc_id",
        "(1000 * score_sum + 1000000 * n_tokens) div n_tokens AS sm")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text")).collect()
    def round4(x: Double): Double =
      math.floor((x + 1e-9) * 1e4 + 0.5) / 1e4
    val pairs = docs.flatMap { row =>
      val id = row.getLong(0)
      sm.get(id).map { score =>
        val ws = row.getString(1).split(" ", -1).toSeq
        val nt = ws.length.toDouble
        val q = round4(0.5 * (ws.distinct.length / nt)
          + 0.3 * (1 - ws.count(w => w == "a" || w == "the") / nt)
          + 0.2 * math.min(ws.map(_.length).sum / nt / 8.0, 1.0))
        (score, q >= 0.63)
      }
    }
    val pos = pairs.filter(_._2).map(_._1)
    val neg = pairs.filterNot(_._2).map(_._1)
    assert(r.getAs[Long]("n_pos") == pos.length.toLong)
    assert(r.getAs[Long]("n_neg") == neg.length.toLong)
    var wins = 0L; var ties = 0L
    for (p <- pos; n <- neg) {
      if (p > n) wins += 1 else if (p == n) ties += 1
    }
    assert(r.getAs[Long]("auc_num2") == 2 * wins + ties,
      s"num2=${r.getAs[Long]("auc_num2")} wins=$wins ties=$ties")
    val expectAuc = math.floor(((2 * wins + ties) * 0.5
      / (pos.length.toLong * neg.length) + 1e-9) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("auc") - expectAuc) < 1e-9)
    assert(math.abs(r.getAs[Double]("gini")
      - (2 * r.getAs[Double]("auc") - 1)) < 3e-6, "gini is 2·auc − 1")
  }

  test("x143 coreness matches brute-force peeling run to its fixpoint (so the 4-round unroll suffices)") {
    val out = SparkEntry.queries("x143_kcore")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val e = operators.Corpus.kcoreGraph(spark, sf0_001).collect()
      .map(x => (x.getInt(0), x.getInt(1)))
    val adj = e.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def core(k: Int): Set[Int] = {
      var surv = adj.keySet.toSet
      var changed = true
      while (changed) {
        val nxt = surv.filter(v => (adj(v) & surv).size >= k)
        changed = nxt != surv
        surv = nxt
      }
      surv
    }
    val (c2, c3) = (core(2), core(3))
    assert(c3.subsetOf(c2), "cores must nest")
    val byNode = out.map(x =>
      x.getInt(0) -> (x.getAs[Long]("deg_full"), x.getAs[Int]("coreness"))).toMap
    assert(byNode.keySet == adj.keySet, "every graph node is reported once")
    byNode.foreach { case (n, (df, cn)) =>
      assert(df == adj(n).size.toLong, s"deg_full of node $n")
      val expect = 1 + (if (c2(n)) 1 else 0) + (if (c3(n)) 1 else 0)
      assert(cn == expect, s"coreness of node $n: got $cn expect $expect")
    }
    // the fixture populates all three layers — the decomposition is
    // non-degenerate at every SF (the graph is SF-invariant by the
    // doc_id < 400 cap)
    assert(Set(1, 2, 3).subsetOf(byNode.values.map(_._2).toSet))
  }

  // ---- wave 17 ----

  test("x144 local clustering coefficients match brute-force adjacency counting") {
    val out = SparkEntry.queries("x144_clustering_coeff")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val e = operators.Corpus.kcoreGraph(spark, sf0_001).collect()
      .map(x => (x.getInt(0), x.getInt(1)))
    val adj = e.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val byNode = out.map(x => x.getInt(0) ->
      (x.getAs[Long]("deg"), x.getAs[Long]("n_tri"), x.getAs[Long]("lcc_micro"))).toMap
    assert(byNode.keySet == adj.keySet)
    var anyMid = false
    byNode.foreach { case (v, (deg, nTri, lcc)) =>
      val nb = adj(v)
      assert(deg == nb.size.toLong, s"deg of $v")
      val tri = nb.toSeq.combinations(2).count {
        case Seq(b, c) => adj(b).contains(c)
        case _         => false
      }
      assert(nTri == tri.toLong, s"triangles of $v")
      val expectLcc =
        if (deg >= 2) (2L * tri * 1000000L) / (deg * (deg - 1)) else 0L
      assert(lcc == expectLcc, s"lcc of $v")
      if (lcc > 0 && lcc < 1000000L) anyMid = true
    }
    // non-degenerate fixture: coefficients strictly between 0 and 1 exist
    assert(anyMid, "every lcc is 0 or 1 — fixture degenerate")
  }

  test("m18 cut accounting re-derives from raw text bytes, frame for frame") {
    val out = SparkEntry.queries("m18_shot_cuts")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var anyCut = false
    out.foreach { r =>
      val tb = docs(r.getLong(0)).getBytes("UTF-8")
      val k = tb.length / 2
      val sv = (0 until k).map { i =>
        ((tb(2 * i) & 0xff) | ((tb(2 * i + 1) & 0xff) << 8)).toShort.toLong
      }
      val fe = (0 until k / 64).map(f =>
        (0 until 64).map(i => math.abs(sv(f * 64 + i))).sum)
      val nf = fe.length
      assert(nf >= 2, "rows only for docs with at least two frames")
      assert(r.getAs[Int]("n_frames") == nf)
      val se = fe.sum
      val dd = (0 until nf - 1).map(f => math.abs(fe(f + 1) - fe(f)))
      val cutIdx = dd.zipWithIndex.filter { case (x, _) => 16L * x * nf >= se }
      assert(r.getAs[Int]("n_cuts") == cutIdx.length)
      assert(r.getAs[Int]("first_cut_frame") ==
        cutIdx.headOption.map(_._2 + 2).getOrElse(0))
      assert(r.getAs[Long]("max_delta") == dd.max)
      assert(r.getAs[Int]("n_segments") == cutIdx.length + 1)
      if (cutIdx.nonEmpty) anyCut = true
    }
    assert(anyCut, "threshold yields no cuts anywhere — fixture degenerate")
    // sparse, not all-or-nothing: global cut rate within the designed band
    val cuts = out.map(_.getAs[Int]("n_cuts")).sum.toDouble
    val deltas = out.map(r => r.getAs[Int]("n_frames") - 1).sum.toDouble
    assert(cuts / deltas > 0.01 && cuts / deltas < 0.5,
      s"global cut rate ${cuts / deltas} outside (0.01, 0.5)")
  }

  test("x145 conductance recomputes from collected edges+labels, and cuts are cross-community symmetric") {
    val out = SparkEntry.queries("x145_conductance")(spark, sf0_001).collect()
    assert(out.nonEmpty)
    val (eDf, _, l2Df) = operators.Corpus.lpPipeline(spark, sf0_001)
    val e = eDf.collect().map(x => (x.getInt(0), x.getInt(1)))
    val lbl = l2Df.collect().map(x => x.getInt(0) -> x.getInt(1)).toMap
    val deg = e.groupBy(_._1).map { case (k, vs) => k -> vs.length }
    val m2 = e.length.toLong
    val byLbl = out.map(r => r.getAs[Int]("lbl") ->
      (r.getAs[Long]("n_nodes"), r.getAs[Long]("vol"), r.getAs[Long]("cut"),
        r.getAs[Long]("conductance_micro"))).toMap
    assert(byLbl.keySet == lbl.values.toSet, "one row per community")
    byLbl.foreach { case (c, (n, vol, cut, phi)) =>
      val members = lbl.collect { case (v, l) if l == c => v }.toSet
      assert(n == members.size.toLong)
      assert(vol == members.toSeq.map(deg(_).toLong).sum)
      val expCut = e.count { case (u, v) => lbl(u) == c && lbl(v) != c }.toLong
      assert(cut == expCut, s"cut of community $c")
      val den = math.min(vol, m2 - vol)
      assert(phi == (if (den == 0) 0L else cut * 1000000L / den))
      assert(phi >= 0L && phi <= 1000000L, s"phi of $c outside [0,1]")
    }
    // every cut edge leaves one community and enters another: totals agree
    val inter = e.count { case (u, v) => lbl(u) != lbl(v) }.toLong
    assert(byLbl.values.map(_._3).sum == inter)
  }
}

/** Per-query analyzability canary (VERDICT r7 item 8): every registered
  * query must at least RESOLVE its plan on sf0.001 — one targeted test per
  * query, so a single broken query fails one named test instead of
  * surfacing through FlagshipSpec's heavier all-rows sweep or, worse, the
  * driver's correctness run. Construction only + `analyzed`: no action is
  * triggered for batch queries (streaming defs execute on construction by
  * design — they still count: failing construction IS the regression). */
class QueryAnalyzabilitySpec extends AnyFunSuite {
  import SparkTestSession._

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"analyzes: $name") {
      val df = fn(spark, sf0_001)
      assert(df.queryExecution.analyzed != null)
    }
  }
}
