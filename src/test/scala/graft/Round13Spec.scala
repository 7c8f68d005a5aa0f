package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: O(Δ) streaming state folds (append-only deltas +
  * compaction — batch k must never rewrite batch k−1's files), the
  * vacuum's UNKNOWN-age surfacing, and the de-stringed classifier
  * oracle generator.
  */
class Round13Spec extends AnyFunSuite {
  import SparkTestSession._

  // ---- vacuum: UNKNOWN entries surfaced with age, never deleted ----

  test("vacuum: UNKNOWN entries are never in any delete set but always in the manifest with an age") {
    import operators.ArtifactVacuum
    val wh = java.nio.file.Files.createTempDirectory("r13wh")
    val unknown = "someone_elses_experiment"
    java.nio.file.Files.createDirectories(wh.resolve(unknown))
    val roots = ArtifactVacuum.liveRoots(sf0_001)
    // even the most aggressive sweep must refuse the unknown entry
    val swept = ArtifactVacuum.vacuum(wh.toString, roots,
      sweepScratch = true).toSet
    assert(!swept.contains(unknown),
      "UNKNOWN entries must never be deleted, even with sweepScratch")
    assert(java.nio.file.Files.exists(wh.resolve(unknown)))
    Publish.deleteTree(wh)

    // ... and the real manifest carries every unknown warehouse entry
    // with a non-null age_days (what the sweep refuses to touch must at
    // least be visible)
    val rows = operators.ArtifactVacuum.manifest(spark, sf0_001).collect()
    val unknowns = rows.filter(_.getAs[String]("family") == "unknown")
    unknowns.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("age_days")),
        s"unknown entry ${r.getAs[String]("live_dir")} must carry an age")
      assert(r.getAs[String]("live_dir").nonEmpty)
    }
    // family rows keep a null age (age is an unknown-entry diagnostic)
    rows.filter(_.getAs[String]("family") != "unknown").foreach { r =>
      assert(r.isNullAt(r.fieldIndex("age_days")))
    }
  }

  test("vacuum: liveRoots leases a sibling root that has only a non-documents source table") {
    import operators.ArtifactVacuum
    val parent = java.nio.file.Files.createTempDirectory("r13roots")
    val a = parent.resolve("sfA"); val b = parent.resolve("sfB")
    java.nio.file.Files.createDirectories(a)
    java.nio.file.Files.createDirectories(b)
    // root A is the queried dir; root B carries ONLY events.parquet —
    // before r13 it was not leased and its artifacts were deletable
    java.nio.file.Files.createFile(b.resolve("events.parquet"))
    val roots = ArtifactVacuum.liveRoots(a.toString)
    assert(roots.map(_.getFileName.toString).contains("sfB"),
      s"events-only sibling must be a live root: $roots")
    Publish.deleteTree(parent)
  }

  // ---- O(Δ) streaming state folds (VERDICT r12 item 1) ----

  test("streaming folds are O(delta): batch k appends to the state log and never rewrites batch k-1's files") {
    val n0 = streaming.StateFold.events.size
    SparkEntry.queries("st31_stream_curation")(spark, sf0_001).collect()
    SparkEntry.queries("st33_stream_classifier")(spark, sf0_001).collect()
    SparkEntry.queries("st30_stream_bpe")(spark, sf0_001).collect()
    val evs = streaming.StateFold.events.drop(n0)
      .filter(e => e.dir.contains("graft_stcur_v1_") ||
        e.dir.contains("graft_stqcls_") || e.dir.contains("graft_stbpe_v1_"))
      .groupBy(_.dir)
    assert(evs.size == 5,
      s"curation + 3 classifier dirs + bpe dir expected: ${evs.keys.toSeq.sorted}")
    evs.foreach { case (dir, es) =>
      assert(es.forall(_.kind == "append"),
        s"$dir: fixture-scale logs must never trip compaction")
      assert(es.count(e => e.after.size > e.before.size) >= 2,
        s"$dir: the 2-batch feed must append new part-files per batch")
      es.foreach { e =>
        assert(e.before.subsetOf(e.after),
          s"$dir: an append must only ADD part-files — " +
            s"removed: ${e.before.diff(e.after)}")
      }
      // the journal is gap-free per dir: nothing mutates the log between
      // one batch's append and the next (batch k−1's files survive verbatim)
      es.sliding(2).foreach {
        case Seq(a, b) => assert(b.before == a.after,
          s"$dir: files changed outside the journaled appends")
        case _ => ()
      }
    }
  }

  test("st06 exercises in-stream compaction: a compact event fires and the oracle answer survives it") {
    val n0 = streaming.StateFold.events.size
    val out = SparkEntry.queries("st06_stream_aggmv")(spark, sf0_001)
      .collect()
    assert(out.nonEmpty)
    val es = streaming.StateFold.events.drop(n0)
      .filter(_.dir.contains("graft_staggmv_v1_"))
    assert(es.exists(_.kind == "compact"),
      "st06's low threshold must trip compaction during the stream " +
        "(the in-stream answer-preservation coverage)")
    assert(es.exists(_.kind == "append"))
    // every compact shrinks the log to a materially smaller generation
    es.filter(_.kind == "compact").foreach { c =>
      assert(c.after.size < c.before.size,
        s"compaction must shrink the log: ${c.before.size} -> ${c.after.size}")
    }
  }

  test("StateFold compaction merges write-then-swap, preserves the fold answer, and the log stays appendable") {
    import org.apache.spark.sql.functions.{col, sum}
    val dir = Scratch.path("r13_compact_probe")
    Publish.deleteTree(java.nio.file.Paths.get(dir))
    import spark.implicits._
    val d1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val d2 = Seq(("a", 3L), ("c", 4L)).toDF("k", "v")
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("k")).agg(sum(col("v")).as("v"))
    streaming.StateFold.append(d1, dir)
    streaming.StateFold.append(d2, dir)
    streaming.StateFold.maybeCompact(spark, dir, maxFiles = 0)(merge)
    val es = streaming.StateFold.events.filter(_.dir == dir)
    assert(es.map(_.kind) == Seq("append", "append", "compact"))
    def state() = merge(spark.read.parquet(dir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state() == Map("a" -> 4L, "b" -> 2L, "c" -> 4L),
      "compaction must not change the merged answer")
    // post-compaction appends keep folding
    streaming.StateFold.append(d1, dir)
    assert(state() == Map("a" -> 5L, "b" -> 4L, "c" -> 4L))

    // a Log folds under its one merge: opening it empties `dir`, each
    // add journals exactly one append, and forced compaction (maxFiles =
    // 0: compact after every add) leaves the state rows unchanged
    val eagerDir = Scratch.path("r13_compact_probe_eager")
    val n0 = streaming.StateFold.events.size
    val plain = new streaming.StateFold.Log(dir, merge)
    assert(streaming.StateFold.partFiles(dir).isEmpty,
      "opening a log over a non-empty directory must empty it")
    val eager = new streaming.StateFold.Log(eagerDir, merge, maxFiles = 0)
    val d3 = Seq(("b", 5L), ("d", 6L)).toDF("k", "v")
    Seq(d1, d2, d3).foreach { d => plain.add(d); eager.add(d) }
    def rows(l: streaming.StateFold.Log) = l.state(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows(plain) == Map("a" -> 4L, "b" -> 7L, "c" -> 4L, "d" -> 6L))
    assert(rows(eager) == rows(plain),
      "forced compaction must not change the merged state")
    assert(spark.read.parquet(eagerDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq ==
      rows(plain).toSeq.sorted, "compaction must fold the log with its merge")
    def kinds(d: String) =
      streaming.StateFold.events.drop(n0).filter(_.dir == d).map(_.kind)
    assert(kinds(dir) == Seq.fill(3)("append"))
    assert(kinds(eagerDir) == Seq.fill(3)(Seq("append", "compact")).flatten)
    Seq(dir, eagerDir).foreach(p => Publish.deleteTree(java.nio.file.Paths.get(p)))
  }

  // ---- composed streaming curation loop (VERDICT r12 item 2) ----

  test("a duplicate split across micro-batches never reaches the mixer: the folded curation state dedups globally before the mix stage") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0_001)
    // a doc that would SURVIVE to the mixer on its own (passes the
    // quality gate) — duplicating it is the meaningful case: without
    // global dedup over the folded state it would be double-sampled
    val passing = operators.Mining.curationFrame(docs)
      .filter(col("quality") >= 0.63 && col("n_tokens") > 0)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0)
    val others = docs.filter(col("doc_id") =!= passing)
      .orderBy(col("doc_id")).limit(2)
    val dup = docs.filter(col("doc_id") === passing)
      .withColumn("doc_id", lit(999999L)) // same TEXT, later id → loser
    val batchA = docs.filter(col("doc_id") === passing).unionByName(others)
    val batchB = dup
    val log = Scratch.path("r13_dupsplit_probe")
    Publish.deleteTree(java.nio.file.Paths.get(log))
    streaming.StateFold.append(operators.Mining.curationFrame(batchA), log)
    streaming.StateFold.append(operators.Mining.curationFrame(batchB), log)
    val rep = operators.Mining.curationReport(spark.read.parquet(log))
      .collect().map(r => r.getAs[String]("stage") -> r).toMap
    assert(rep("1_dedup").getAs[Long]("docs_in") == 4)
    assert(rep("1_dedup").getAs[Long]("docs_kept") == 3,
      "the cross-batch duplicate must lose at the dedup stage")
    // telescoping: the mixer's input IS the gate's output — the dedup
    // loser cannot reappear downstream
    assert(rep("3_mix").getAs[Long]("docs_in") ==
      rep("2_quality").getAs[Long]("docs_kept"))
    assert(rep("2_quality").getAs[Long]("docs_kept") >= 1,
      "the surviving original must still reach the mixer")
    Publish.deleteTree(java.nio.file.Paths.get(log))
  }

  // ---- x212 span corruption / x213 epoch allocation ----

  test("x212: spans match a sequential brute-force replay, stay in-block, and the corpus noise density is near the 15% target") {
    val rows = SparkEntry.queries("x212_span_corruption")(spark, sf0_001)
      .collect()
    assert(rows.nonEmpty)
    var tok = 0L; var msk = 0L
    rows.foreach { r =>
      val (nb, ns, nm, nt) = (r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_masked"),
        r.getAs[Long]("n_tokens"))
      assert(ns <= nb, "at most one span per block")
      assert(nm <= 3 * ns, "span length is capped at 3")
      tok += nt; msk += nm
    }
    val ratio = msk.toDouble / tok
    assert(ratio > 0.12 && ratio < 0.19,
      s"corpus noise density $ratio must sit near the 15% target")
    // brute-force replay of the plan for a few docs (the sequential
    // reference implementation of the hash/length/offset rule)
    val docs = Tables.documents(spark, sf0_001)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .limit(5).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { dr =>
      val id = dr.getAs[Long]("doc_id")
      val n = dr.getAs[String]("text").split(" ", -1).length
      var masked = 0L
      val spans = scala.collection.mutable.Set.empty[Long]
      (0 until n).foreach { i =>
        val blk = i / 13
        var a = (id * 8191 + blk) & 4294967295L
        a = ((a >> 16) ^ a) * 73244475L & 4294967295L
        a = ((a >> 16) ^ a) * 73244475L & 4294967295L
        val h = (a >> 16) ^ a
        val l = 1 + h % 3
        val off = (h / 3) % (13 - l + 1)
        if (i % 13 >= off && i % 13 <= off + l - 1) {
          masked += 1; spans += blk
        }
      }
      val r = byId(id)
      assert(r.getAs[Long]("n_tokens") == n.toLong &&
        r.getAs[Long]("n_masked") == masked &&
        r.getAs[Long]("n_spans") == spans.size.toLong,
        s"doc $id: relational plan must equal the sequential replay")
    }
  }

  test("x213: the 4-epoch cap binds for some sources and not others, allocation never exceeds the cap, and the residual reconciles") {
    val rows = SparkEntry.queries("x213_epoch_allocation")(spark, sf0_001)
      .collect()
    assert(rows.nonEmpty)
    val budget = rows.head.getAs[Long]("budget_tokens")
    val resid = rows.head.getAs[Long]("residual_tokens")
    rows.foreach { r =>
      assert(r.getAs[Double]("epochs_capped") <= 4.0)
      assert(r.getAs[Long]("alloc_tokens") <=
        4L * r.getAs[Long]("n_tokens") + 1,
        "allocation can never exceed 4 epochs of the source's supply")
      assert(r.getAs[Long]("budget_tokens") == budget &&
        r.getAs[Long]("residual_tokens") == resid)
    }
    assert(rows.exists(r => r.getAs[Double]("epochs_raw") > 4.0) &&
      rows.exists(r => r.getAs[Double]("epochs_raw") < 4.0),
      "the fixture must exercise BOTH the capped and uncapped branches")
    assert(resid >= 0 &&
      resid == budget - rows.map(_.getAs[Long]("alloc_tokens")).sum,
      "residual = budget - allocated, the number the cap strands")
  }

  test("x214: the repeat manifest quantizes x213's plan — capped sources emit exactly 4 copies per doc, fractional ones fe or fe+1") {
    val alloc = SparkEntry.queries("x213_epoch_allocation")(spark, sf0_001)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val rows = SparkEntry.queries("x214_repeat_sampling")(spark, sf0_001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val e = r.getAs[Double]("epochs_capped")
      assert(e == alloc(src).getAs[Double]("epochs_capped"),
        "the manifest must carry the plan's epoch number verbatim")
      val nd = r.getAs[Long]("n_docs")
      val ec = r.getAs[Long]("emitted_copies")
      val fe = math.floor(e).toLong
      assert(ec >= fe * nd && ec <= (fe + 1) * nd,
        s"$src: every doc repeats floor(e) or floor(e)+1 times")
      if (e == 4.0)
        assert(ec == 4 * nd,
          s"$src: a cap-bound source emits exactly 4 copies per doc")
      assert(r.getAs[Long]("fill_ppm") ==
        r.getAs[Long]("emitted_tokens") * 1000000L /
          r.getAs[Long]("alloc_tokens"))
    }
    // the hash-bucket quantization is live: some fractional source must
    // emit a MIX of fe and fe+1 (not all docs on one side)
    assert(rows.exists { r =>
      val e = r.getAs[Double]("epochs_capped"); val nd = r.getAs[Long]("n_docs")
      val ec = r.getAs[Long]("emitted_copies"); val fe = math.floor(e).toLong
      e < 4.0 && ec > fe * nd && ec < (fe + 1) * nd
    }, "at least one fractional source must split docs across fe/fe+1")
  }

  // ---- validation-gated early stop (VERDICT r12 item 4) ----

  test("x210/x211: the stopping rule never does worse than fixed-24 on the selection split, and the served model is the chosen round's") {
    val curve = SparkEntry.queries("x210_validated_training")(spark, sf0_001)
      .collect().sortBy(_.getAs[Int]("round"))
    assert(curve.length == operators.Quality.Epochs)
    assert(curve.count(_.getAs[Int]("chosen") == 1) == 1,
      "exactly one chosen round")
    val byRound = curve.map(r =>
      r.getAs[Int]("round") -> r.getAs[Long]("val_correct")).toMap
    val chosen = curve.find(_.getAs[Int]("chosen") == 1).get
    assert(chosen.getAs[Long]("val_correct") >=
      byRound(operators.Quality.Epochs),
      "argmax selection must be >= the fixed-24 model's val accuracy")
    // earliest-tie rule: no earlier round has the same val_correct
    val cr = chosen.getAs[Int]("round")
    assert(curve.filter(_.getAs[Int]("round") < cr)
      .forall(_.getAs[Long]("val_correct") < chosen.getAs[Long]("val_correct")),
      "ties must resolve to the earliest round")
    val model = SparkEntry.queries("x211_early_stop_model")(spark, sf0_001)
      .collect()
    assert(model.nonEmpty &&
      model.forall(_.getAs[Int]("stop_round") == cr),
      "the served model must be stamped with the chosen round")
  }

  // ---- classifier oracle generator: shared head, no string surgery ----

  test("x209 oracle chain is generated from the shared head, not sliced from the full chain") {
    val head = operators.Quality.logitHeadSql
    assert(operators.Quality.logitCteSql.startsWith(head + ", z1 AS"),
      "full-corpus chain = shared head + epoch CTEs")
    assert(operators.Quality.logitTrainCteSql.startsWith(head + ", trsel AS"),
      "split-trained chain = the SAME shared head + train-split CTEs")
    assert(operators.Quality.logitTrainCteSql.contains(
      s"tw${operators.Quality.Epochs} AS MATERIALIZED"),
      "split chain must reach the final epoch weight CTE")
  }

  // ---- x215: optimal (Viterbi) segmentation audit ----

  test("x215: the DP optimum equals a sequential brute force, lower-bounds both encoders, and a crafted case proves greedy regret is detectable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // brute-force min-piece DP over the SAME trained piece inventory
    val wsym = operators.Mining.bpeSymsArtifact(spark, sf0_001)
      .collect().map(r => (r.getAs[String]("word"), r.getAs[String]("sym")))
    val words = wsym.map(_._1).distinct.sorted
    val pieces = wsym.map(_._2).toSet ++ words.flatMap(_.map(_.toString))
    def dp(w: String): Long = {
      val best = Array.fill(w.length + 1)(Long.MaxValue)
      best(0) = 0L
      for (i <- 0 until w.length if best(i) != Long.MaxValue;
           j <- i + 1 to w.length
           if pieces.contains(w.substring(i, j)))
        best(j) = math.min(best(j), best(i) + 1)
      best(w.length)
    }
    val got = operators.Mining.optimalEncode(
      words.toSeq.toDF("word"), pieces.toSeq.toDF("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == words.map(w => w -> dp(w)).toMap)
    // the optimum lower-bounds greedy AND the merge-order encoding, and
    // every word terminates (totality is asserted inside optimalEncode)
    val audit = SparkEntry.queries("x215_optimal_encode_audit")(
      spark, sf0_001).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getAs[Long]("greedy_regret") >= 0L &&
        r.getAs[Long]("merge_regret") >= 0L,
        s"optimal must lower-bound both encoders: $r")
      assert(r.getAs[Long]("optimal_tokens") <= r.getAs[Long]("merge_tokens"))
    }
    // crafted divergence: greedy longest-match takes abc|d|e|f = 4 where
    // the DP finds ab|cdef = 2 — the regret column catches real vocabs
    val crafted = operators.Mining.optimalEncode(
      Seq("abcdef").toDF("word"),
      Seq("ab", "cdef", "abc").toDF("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(crafted == Map("abcdef" -> 2L),
      "the DP must find the 2-piece segmentation greedy misses")
  }

  // ---- x216: lexicon span tagging with dominance resolution ----

  test("x216: kept spans equal a sequential brute-force replay, and a crafted stream proves longer-span dominance fires") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // sequential replay of lexicon selection + dominance at sf0.001
    val toks = operators.Tokens.table(spark, sf0_001)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("i").toLong, r.getAs[String]("word")))
      .filter(_._3.nonEmpty)
    val byDoc = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.sortBy(_._2).map(t => (t._2, t._3))
    }
    def gramsOf(n: Int): Seq[(Long, Long, Long, String)] =
      byDoc.toSeq.flatMap { case (id, ts) =>
        val pos = ts.map(_._1).toSet
        ts.filter(t => (1 until n).forall(k => pos.contains(t._1 + k)))
          .map { t =>
            val w = (0 until n).map(k =>
              ts.find(_._1 == t._1 + k).get._2).mkString(" ")
            (id, t._1, n.toLong, w)
          }
      }
    def lexOf(g: Seq[(Long, Long, Long, String)]): Set[String] =
      g.groupBy(_._4).view.mapValues(_.size).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(4).map(_._1).toSet
    val bg = gramsOf(2); val tg = gramsOf(3)
    val lex2 = lexOf(bg); val lex3 = lexOf(tg)
    val sp = bg.filter(s => lex2.contains(s._4)) ++
      tg.filter(s => lex3.contains(s._4))
    val spByDoc = sp.groupBy(_._1)
    val expect = sp.filter { s =>
      !spByDoc(s._1).exists(x =>
        x._2 <= s._2 + s._3 - 1 && s._2 <= x._2 + x._3 - 1 &&
        x._3 > s._3)
    }.toSet
    val got = operators.Tokens.taggedSpans(spark, sf0_001)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("spos"),
        r.getAs[Long]("plen"), r.getAs[String]("phrase"))).toSet
    assert(got == expect, "longest-wins kept spans must match the replay")
    // crafted stream: one doc "x y z w" — every bigram ("x y","y z",
    // "z w") and trigram ("x y z","y z w") tops its tier; both trigrams
    // overlap every bigram, so longest-match-wins must keep EXACTLY the
    // two (mutually overlapping, same-length ⇒ both maximal) trigrams
    val crafted = Seq("x", "y", "z", "w").zipWithIndex
      .map { case (w, k) => (1L, k.toLong, w) }
      .toDF("doc_id", "i", "word")
    val keptC = operators.Tokens.taggedSpansFrom(crafted)
      .collect().map(r => (r.getAs[Long]("spos"), r.getAs[Long]("plen"),
        r.getAs[String]("phrase"))).toSet
    assert(keptC == Set((0L, 3L, "x y z"), (1L, 3L, "y z w")),
      s"only the two maximal trigram spans may survive: $keptC")
  }

  test("x218: the cursor telescopes per source, agrees with x194's manifest, and the resume bin is the mid-run ceiling") {
    import org.apache.spark.sql.functions.col
    val manifest = SparkEntry.queries("x194_packing_emission")(
      spark, sf0_001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin_id")))
    val nBins = manifest.map(_._2).max + 1
    val k = (nBins + 1) / 2
    val rows = SparkEntry.queries("x218_resume_cursor")(spark, sf0_001)
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("consumed_docs") + r.getAs[Long]("remaining_docs")
        == r.getAs[Long]("n_docs"), s"cursor must telescope: $r")
      assert(r.getAs[Long]("resume_bin") == k,
        s"resume bin must be ceil(nBins/2) = $k: $r")
    }
    val consumed = rows.map(_.getAs[Long]("consumed_docs")).sum
    assert(consumed == manifest.count(_._2 < k),
      "the cursor must count exactly the manifest docs in bins [0, k)")
    // consumed mass fits in the consumed sequences (bucketed policy)
    val consumedTok = rows.map(_.getAs[Long]("consumed_tokens")).sum
    assert(consumedTok <= k * 512L)
  }

  test("x219: split keeps every token, truncate loses some at budget 64, both pads reconcile, and a sequential replay agrees") {
    val rows = SparkEntry.queries("x219_split_policy")(spark, sf0_001)
      .collect().map(r => r.getAs[String]("policy") -> r).toMap
    val sp = rows("split_pack"); val tr = rows("truncate")
    // sequential replay from raw doc token counts
    val ns = Tables.documents(spark, sf0_001).collect()
      .map(_.getAs[String]("text").split(" ", -1).count(_.nonEmpty).toLong)
      .filter(_ > 0)
    def packSeqs(lens: Seq[Long]): Long =
      lens.groupBy(identity).map { case (l, g) =>
        val dps = 64L / l; (g.size + dps - 1) / dps
      }.sum
    val total = ns.sum
    val expSplit = ns.map(_ / 64).sum + packSeqs(ns.map(_ % 64).filter(_ > 0))
    val expTrunc = packSeqs(ns.map(math.min(_, 64L)))
    assert(sp.getAs[Long]("n_seqs") == expSplit &&
      tr.getAs[Long]("n_seqs") == expTrunc, "replay disagrees")
    assert(sp.getAs[Long]("kept_tokens") == total &&
      sp.getAs[Long]("lost_tokens") == 0L,
      "split must keep every token")
    assert(tr.getAs[Long]("lost_tokens") > 0L,
      "budget 64 must make truncation fire on this fixture")
    assert(tr.getAs[Long]("kept_tokens") + tr.getAs[Long]("lost_tokens")
      == total)
    Seq(sp, tr).foreach { r =>
      assert(r.getAs[Long]("pad_tokens") ==
        64L * r.getAs[Long]("n_seqs") - r.getAs[Long]("kept_tokens"))
    }
    assert(sp.getAs[Long]("n_seqs") >= (total + 63) / 64,
      "the token lower bound must hold")
  }

  test("x220: the suffix-rank LCP histogram equals a sequential suffix sort + adjacent-LCP replay") {
    // brute force: materialize every per-doc suffix, sort
    // lexicographically by token sequence (prefix < extension, matching
    // the −1 sentinel), tie-break (doc_id, i), adjacent common-prefix
    // lengths, histogram
    val toks = operators.Tokens.table(spark, sf0_001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("i"),
        r.getAs[String]("word")))
    val docs = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.sortBy(_._2).map(_._3).toVector
    }
    val sufs = docs.toSeq.flatMap { case (id, ws) =>
      ws.indices.map(i => (id, i, ws.drop(i)))
    }
    val ord = sufs.sortWith { case ((ad, ai, a), (bd, bi, b)) =>
      val c = a.zip(b).find { case (x, y) => x != y }
      c match {
        case Some((x, y)) => x < y
        case None =>
          if (a.length != b.length) a.length < b.length
          else if (ad != bd) ad < bd else ai < bi
      }
    }
    val lcps = ord.sliding(2).collect { case Seq((_, _, a), (_, _, b)) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    }.toSeq
    val expect = lcps.filter(_ >= 1L).groupBy(identity)
      .map { case (l, g) => (l, g.size.toLong) }
    val got = SparkEntry.queries("x220_suffix_repeats")(spark, sf0_001)
      .collect()
      .map(r => r.getAs[Long]("lcp") -> r.getAs[Long]("n_pairs")).toMap
    assert(got == expect,
      s"suffix-rank LCP spectrum must match the replay: got $got")
    assert(got.nonEmpty && got.keys.max >= 2L,
      "the fixture must exercise a multi-token repeat")
  }

  test("x221: repeated-span coverage equals a sequential suffix-sort + interval-union replay, and the fixture flags real repeats") {
    val toks = operators.Tokens.table(spark, sf0_001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("i"),
        r.getAs[String]("word")))
    val docs = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.sortBy(_._2).map(_._3).toVector
    }
    val sufs = docs.toSeq.flatMap { case (id, ws) =>
      ws.indices.map(i => (id, i, ws.drop(i)))
    }
    val ord = sufs.sortWith { case ((ad, ai, a), (bd, bi, b)) =>
      a.zip(b).find { case (x, y) => x != y } match {
        case Some((x, y)) => x < y
        case None =>
          if (a.length != b.length) a.length < b.length
          else if (ad != bd) ad < bd else ai < bi
      }
    }
    // per-position repeat length = max LCP with the two order-neighbors
    val rlen = scala.collection.mutable.Map[(Long, Int), Long]()
      .withDefaultValue(0L)
    ord.sliding(2).foreach { case Seq((ad, ai, a), (bd, bi, b)) =>
      val l = a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      rlen((ad, ai)) = math.max(rlen((ad, ai)), l)
      rlen((bd, bi)) = math.max(rlen((bd, bi)), l)
    }
    // ≥8 spans, interval union per doc, covered tokens
    val covered = rlen.toSeq.filter(_._2 >= 8L)
      .groupBy(_._1._1).map { case (id, ps) =>
        val spans = ps.map { case ((_, i), l) => (i.toLong, i + l) }
          .sortBy(_._1)
        var cov = 0L; var curS = -1L; var curE = -1L
        spans.foreach { case (s0, e0) =>
          if (s0 > curE) { if (curE > curS) cov += curE - curS
            curS = s0; curE = e0
          } else curE = math.max(curE, e0)
        }
        if (curE > curS) cov += curE - curS
        id -> cov
      }
    val srcOf = Tables.documents(spark, sf0_001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val expect = docs.keys.toSeq.groupBy(srcOf).map { case (src, ids) =>
      src -> (ids.map(id => covered.getOrElse(id, 0L)).sum,
        ids.map(id => docs(id).size.toLong).sum)
    }
    val got = SparkEntry.queries("x221_repeat_spans")(spark, sf0_001)
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("repeat_tokens"), r.getAs[Long]("total_tokens")))
      .toMap
    assert(got == expect, s"replay disagrees: got $got expect $expect")
    assert(got.values.map(_._1).sum > 0L,
      "the fixture must contain a >=8-token cross-corpus repeat")
  }

  test("x222: the longest repeated passage, its length, and its occurrence count match a sequential replay") {
    val toks = operators.Tokens.table(spark, sf0_001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("i"),
        r.getAs[String]("word")))
    val docs = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.sortBy(_._2).map(_._3).toVector
    }
    val sufs = docs.toSeq.flatMap { case (id, ws) =>
      ws.indices.map(i => (id, i, ws.drop(i)))
    }
    val ord = sufs.sortWith { case ((ad, ai, a), (bd, bi, b)) =>
      a.zip(b).find { case (x, y) => x != y } match {
        case Some((x, y)) => x < y
        case None =>
          if (a.length != b.length) a.length < b.length
          else if (ad != bd) ad < bd else ai < bi
      }
    }.toIndexedSeq
    val lcps = ord.indices.dropRight(1).map { j =>
      ord(j)._3.zip(ord(j + 1)._3)
        .takeWhile { case (x, y) => x == y }.size.toLong
    }
    val ml = lcps.max
    val first = lcps.indexOf(ml)
    var last = first
    while (last + 1 < lcps.size && lcps(last + 1) == ml) last += 1
    val phrase = ord(first)._3.take(ml.toInt).mkString(" ")
    val row = SparkEntry.queries("x222_longest_repeat")(spark, sf0_001)
      .collect().head
    assert(row.getAs[Long]("repeat_len") == ml)
    assert(row.getAs[Long]("n_occurrences") == (last - first + 2).toLong,
      "occurrences must be the argmax run's pair count + 1")
    assert(row.getAs[String]("phrase") == phrase)
    assert(ml >= 2L, "the fixture must have a multi-token longest repeat")
  }

  test("st35: the folded positional index answers the batch tagger row-for-row") {
    val batch = SparkEntry.queries("x216_lexicon_tagging")(spark, sf0_001)
      .collect().map(_.toSeq).toSeq
    val stream = SparkEntry.queries("st35_stream_tagging")(spark, sf0_001)
      .collect().map(_.toSeq).toSeq
    assert(stream == batch,
      "stream-folded state must reproduce the batch answer exactly")
  }

  // ---- x217: quality-curriculum phases ----

  test("x217: phases partition the corpus with ntile arithmetic, margins descend across phases, and the token line telescopes") {
    val rows = SparkEntry.queries("x217_quality_curriculum")(spark, sf0_001)
      .collect()
    assert(rows.map(_.getAs[Long]("phase")).toSeq == Seq(1L, 2L, 3L, 4L))
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(spark, sf0_001).count()
    assert(n == nDocs, "phases must partition the corpus")
    rows.foreach { r =>
      val k = r.getAs[Long]("phase")
      val want = n / 4 + (if (k <= n % 4) 1L else 0L)
      assert(r.getAs[Long]("n_docs") == want,
        s"phase $k must hold the ntile(4) tile size $want")
    }
    rows.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi.getAs[Long]("min_margin") >= lo.getAs[Long]("max_margin"),
        "curriculum phases must be margin-descending (ties may touch)")
    }
    var cum = 0L
    rows.foreach { r =>
      cum += r.getAs[Long]("phase_tokens")
      assert(r.getAs[Long]("cum_tokens") == cum,
        "the cumulative token line must telescope")
    }
  }
}
