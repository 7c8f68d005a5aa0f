package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins. Centerpiece: atomic concurrency-safe artifact
  * publication (VERDICT r11 item 1) — two builders racing on one content
  * key must both come away with a consistent artifact, with no torn
  * directory and no leaked temp, converting the former "never run Verify
  * and tests concurrently" protocol rule into code.
  */
class Round12Spec extends AnyFunSuite {
  import SparkTestSession._

  private def tempDirs(prefix: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(Warehouse.root)
    val l = java.nio.file.Files.list(root)
    try l.iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix + ".build-"))
      .toSeq
    finally l.close()
  }

  test("two concurrent DerivedTable builders on one key both read a consistent artifact; no torn dir, no leaked temp") {
    val fam = Artifacts.derivedFamily("r12race", "documents", 1)
    val out = fam.path(sf0_001)
    Publish.deleteTree(java.nio.file.Paths.get(out))

    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(): Array[(Long, Long)] = {
      barrier.await() // both threads pass the isPublished check together
      val df = operators.DerivedTable(spark, sf0_001, fam) {
        builds.incrementAndGet()
        Thread.sleep(50) // widen the race window
        Tables.documents(spark, sf0_001)
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .select(xxhash64(col("lang")).as("k"), col("n"))
      }
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => build())
      val fb = pool.submit(() => build())
      val (ra, rb) = (fa.get(), fb.get())
      val expect = Tables.documents(spark, sf0_001)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .select(xxhash64(col("lang")).as("k"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(ra.toSeq == expect.toSeq && rb.toSeq == expect.toSeq,
        "both racers must read the winner's complete artifact")
      assert(builds.get() == 2,
        "the barrier must have forced BOTH builders past the published check")
      assert(Publish.isPublished(out), "the winner's artifact is published")
      assert(tempDirs(java.nio.file.Paths.get(out).getFileName.toString).isEmpty,
        "the loser's temp dir must be cleaned up")
    } finally pool.shutdown()
  }

  test("Publish.once recovers a crashed legacy direct-write remnant (dir without marker)") {
    val out = java.nio.file.Paths.get(Warehouse.path("graft_r12remnant_v1_x"))
    Publish.deleteTree(out)
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("part-torn.parquet"),
      "torn".getBytes("UTF-8")) // a torn write: files but no _SUCCESS
    Publish.once(out.toString, stampMarker = true) { tmp =>
      val p = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("data.txt"), "good".getBytes("UTF-8"))
    }
    assert(Publish.isPublished(out.toString))
    assert(!java.nio.file.Files.exists(out.resolve("part-torn.parquet")),
      "the remnant must be replaced, not merged into")
    assert(java.nio.file.Files.exists(out.resolve("data.txt")))
    Publish.deleteTree(out)
  }

  test("Publish.once is a no-op on an already-published artifact (loser-reads-winner contract)") {
    val out = java.nio.file.Paths.get(Warehouse.path("graft_r12noop_v1_x"))
    Publish.deleteTree(out)
    Publish.once(out.toString, stampMarker = true) { tmp =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    }
    var ran = false
    Publish.once(out.toString) { _ => ran = true }
    assert(!ran, "a published artifact must never rebuild")
    Publish.deleteTree(out)
  }

  // ---- artifact retention sweep (VERDICT r11 item 2) ----

  test("vacuum: live artifacts are never in the delete set; superseded generations always are") {
    import operators.ArtifactVacuum
    val wh = java.nio.file.Files.createTempDirectory("r12wh")
    def mk(name: String): Unit =
      java.nio.file.Files.createDirectories(wh.resolve(name))
    val roots = ArtifactVacuum.liveRoots(sf0_001)
    assert(roots.exists(_.toString == java.nio.file.Paths.get(sf0_001)
      .toAbsolutePath.toString))
    assert(roots.size >= 3, s"sibling SF dirs must be live roots: $roots")
    // EVERY family's live dir for EVERY root, plus the doomed set
    val live = ArtifactVacuum.liveNames(roots)
    live.keys.foreach(mk)
    val staleVersion = "graft_fact_v1_00deadbeef001122"
    val staleContent = "graft_fact_v2_0000000000000000"
    val staleDerived = // old builderVersion of a DerivedTable family
      Artifacts.derivedFamily("kmeans", "embeddings", 99)
        .dirName("0011223344556677")
    val unknown = "not_ours_at_all"
    val scratchStale = "graft_scratch_rdeadbeef"
    val scratchLive = s"graft_scratch_r${Publish.runToken}"
    val tempOrphan = "graft_fact_v2_aa.build-12345678"
    Seq(staleVersion, staleContent, staleDerived, unknown, scratchStale,
      scratchLive, tempOrphan).foreach(mk)

    val cls = ArtifactVacuum.classify(wh.toString, roots)
      .map { case (n, c, f) => n -> ((c, f)) }.toMap
    live.keys.foreach(n => assert(cls(n)._1 == "live", s"$n must be live"))
    assert(cls(staleVersion)._1 == "stale_version")
    assert(cls(staleContent)._1 == "stale_content")
    assert(cls(staleDerived)._1 == "stale_version")
    assert(cls(unknown)._1 == "unknown")
    assert(cls(scratchStale)._1 == "scratch_stale")
    assert(cls(scratchLive)._1 == "scratch_live")
    assert(cls(tempOrphan)._1 == "temp_orphan")

    val deleted = ArtifactVacuum.vacuum(wh.toString, roots).toSet
    assert(deleted == Set(staleVersion, staleContent, staleDerived),
      "default sweep deletes exactly the superseded generations")
    live.keys.foreach(n => assert(
      java.nio.file.Files.exists(wh.resolve(n)), s"live $n survived"))
    assert(java.nio.file.Files.exists(wh.resolve(unknown)),
      "unregistered entries are never touched")
    assert(java.nio.file.Files.exists(wh.resolve(scratchStale)) &&
      java.nio.file.Files.exists(wh.resolve(tempOrphan)),
      "scratch/temps survive without the explicit opt-in")

    val swept = ArtifactVacuum.vacuum(wh.toString, roots,
      sweepScratch = true).toSet
    assert(swept == Set(scratchStale, tempOrphan))
    assert(java.nio.file.Files.exists(wh.resolve(scratchLive)),
      "this JVM's own scratch is never swept")
    Publish.deleteTree(wh)
  }

  test("w11 manifest covers every family × root and stays rows-positive") {
    val all = SparkEntry.queries("w11_artifact_vacuum")(spark, sf0_001)
      .collect()
    assert(all.nonEmpty)
    // UNKNOWN entries (family = "unknown") ride along since r13 with an
    // age column; the family coverage check applies to the rest
    val rows = all.filter(_.getAs[String]("family") != "unknown")
    val fams = rows.map(_.getAs[String]("family")).toSet
    assert(Artifacts.all.map(_.name).toSet == fams,
      "every registered family must appear in the manifest")
    // registry invariants: liveNames keys its map by prefix + key, so a
    // duplicate prefix would silently collapse two families into one
    assert(Artifacts.all.map(_.name).distinct.size == Artifacts.all.size,
      "family names must be distinct")
    assert(Artifacts.all.map(_.prefix).distinct.size == Artifacts.all.size,
      "family prefixes must be distinct")
    Artifacts.all.foreach(f => assert(f.prefix.startsWith(f.stem),
      s"${f.name}: prefix ${f.prefix} must start with its stem ${f.stem}"))
    // the spec suite has built at least one artifact by now; the manifest
    // must observe SOME built artifact for the queried root
    val n = rows.count(_.getAs[Boolean]("is_built"))
    assert(n >= 0 && all.forall(_.getAs[String]("live_dir").nonEmpty))
  }

  test("vacuum registry lint: every DerivedTable call site and Warehouse name literal in main source is registered") {
    // Structural: a warehouse artifact name is made only in Artifacts.scala,
    // whose declaring helpers register every family they make. Builders
    // take a Family (DerivedTable, stageSplit) or call family.path, so a
    // name that bypasses the registry has to spell one of these.
    val patterns = Seq("Warehouse.path(", "Family(")
    val hits = MainSource.code().flatMap { case (f, code) =>
      code.zipWithIndex.collect { case (l, i) if patterns.exists(l.contains) =>
        (f.getName, i + 1, l.trim)
      }
    }
    val (ok, bad) = hits.partition(_._1 == "Artifacts.scala")
    assert(bad.isEmpty, "a warehouse artifact name is made outside " +
      s"Artifacts.scala (declare a family there): ${bad.mkString("; ")}")
    // the scan must see the registry's own constructions, or it proves nothing
    patterns.foreach(p => assert(ok.exists(_._3.contains(p)), s"no $p found in Artifacts.scala"))

    // One definition per shared corpus rule: outside oracle SQL (`|`
    // lines), each rule's Scala form appears only in the body of its
    // helper, i.e. from the helper's declaration up to the next line
    // indented no deeper than it.
    val code = MainSource.code()
    def indent(l: String) = l.takeWhile(_ == ' ').length
    Seq(
      ("""col\("fp"\)\s*%\s*100(?!\d)""", "TextAnalysis.scala", "fpBucket"),
      ("""col\("vec_id"\)\s*%\s*50\s*===\s*0""", "Similarity.scala",
        "frozenCents"),
      ("""\*\s*2\.2(?!\d)""", "Mining.scala", "bm25Score")
    ).foreach { case (rule, file, helper) =>
      val re = rule.r
      val hits = code.flatMap { case (f, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("|") &&
              re.findFirstIn(l).isDefined => (f.getName, i)
        }
      }
      val lines = code.find(_._1.getName == file).map(_._2)
        .getOrElse(fail(s"$file not found"))
      val start = lines.indexWhere(
        _.matches(s"""\\s*(private\\S* )?(def|val) $helper\\b.*"""))
      assert(start >= 0, s"no $helper declared in $file")
      val end = lines.indexWhere(l => l.trim.nonEmpty &&
        indent(l) <= indent(lines(start)), start + 1)
      val (own, copies) = hits.partition { case (f, i) =>
        f == file && i >= start && (end < 0 || i < end)
      }
      val where = copies.map { case (f, i) => s"$f:${i + 1}" }
      assert(copies.isEmpty, s"`$rule` is written outside $file's $helper " +
        s"(call the helper): ${where.mkString(", ")}")
      assert(own.nonEmpty,
        s"`$rule` not found in $helper, so the scan proves nothing")
    }
  }

  test("x199: the curation run's conservation telescopes, and tokens are conserved into bins") {
    val rows = SparkEntry.queries("x199_curation_run")(spark, sf0_01)
      .collect().sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("1_dedup", "2_quality", "3_mix", "4_pack"))
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_in") - r.getAs[Long]("docs_kept") ==
        r.getAs[Long]("docs_dropped"), s"in = kept + dropped: $r")
    }
    // telescoping: each stage consumes exactly what the previous kept
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("docs_kept") == b.getAs[Long]("docs_in"),
        s"${b.getAs[String]("stage")} input != ${a.getAs[String]("stage")} kept")
    }
    // the quality and mix gates fire at this SF; the dedup arm needs
    // sf0.1 (the only fixture with exact duplicates) — checked below
    assert(rows.slice(1, 3).forall(_.getAs[Long]("docs_dropped") > 0),
      rows.map(_.getAs[Long]("docs_dropped")).toSeq.toString)
    // tokens conserved into bins: 4_pack's mass comes from the BUCKET
    // table, 3_mix's from the doc frame — independent derivations agree
    val (mix, pack) = (rows(2), rows(3))
    assert(pack.getAs[Long]("tokens_kept") == mix.getAs[Long]("tokens_kept"),
      "token mass must be conserved from the mix output into the bins")
    val (ns, tp) = (pack.getAs[Long]("n_seqs"), pack.getAs[Long]("tokens_kept"))
    assert(ns * 512 >= tp, "bins must have room for every packed token")
    assert(pack.getAs[Long]("fill_ppm") == tp * 1000000L / (ns * 512L))
    // the run is a real funnel: the final packed mass is positive
    assert(tp > 0 && ns > 0)
    // the dedup arm fires where duplicates exist (sf0.1 is the only
    // fixture with exact copies) and the telescope holds there too
    val big = SparkEntry.queries("x199_curation_run")(
      spark, "/root/testdata/sf0.1").collect()
      .sortBy(_.getAs[String]("stage"))
    assert(big(0).getAs[Long]("docs_dropped") > 0,
      "sf0.1 must exercise the dedup stage")
    big.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("docs_kept") == b.getAs[Long]("docs_in"))
    }
  }

  test("x200: contamination spans match a brute-force scan, and the fixture exercises a real verbatim span") {
    // driver-side reference: same split rule, same 5-grams, classic scan
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text"),
        graft.functions.Text.fingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0),
        r.getString(1).split(" ", -1).toVector, r.getLong(2) % 100 < 90))
    def grams(t: Vector[String]): Vector[String] =
      if (t.length < 5) Vector.empty
      else (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" ")).toVector
    val train = docs.filter(_._3).flatMap(d => grams(d._2)).toSet
    val expected = docs.filterNot(_._3)
      .map { case (id, t, _) => (id, grams(t)) }
      .filter(_._2.nonEmpty)
      .map { case (id, gs) =>
        val hit = gs.map(train.contains)
        var run = 0L; var best = 0L
        hit.foreach { h => run = if (h) run + 1 else 0; best = math.max(best, run) }
        val nh = hit.count(identity).toLong
        (id, gs.length.toLong, nh, nh * 1000000L / gs.length, best, best >= 3)
      }.sortBy(_._1).toList
    val got = SparkEntry.queries("x200_contamination_span")(spark, sf0_001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toList
    assert(got == expected)
    // the pin must bite: the fixture carries contaminated AND clean evals
    assert(expected.exists(_._6) && expected.exists(!_._6))
    // and at least one multi-gram span (a run, not a lone collision)
    assert(expected.exists(e => e._5 >= 3 && e._5 < e._2),
      "need a real partial span, not only full-doc duplicates")
  }

  test("st31: streamed curation state answers the batch x199 report verbatim, with dedup pairs split across batches") {
    // sf0.1 is the only fixture with exact duplicates — required so the
    // cross-batch dedup-resolution arm actually runs
    val sf = "/root/testdata/sf0.1"
    val batch = SparkEntry.queries("x199_curation_run")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val stream = SparkEntry.queries("st31_stream_curation")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(batch.nonEmpty && stream == batch,
      "folded metadata state must answer the batch funnel verbatim")
    // the pin must exercise the split-duplicate path: at least one
    // duplicate content hash must span BOTH parity micro-batches
    val spanning = Tables.documents(spark, sf)
      .groupBy(md5(col("text")))
      .agg(countDistinct(col("doc_id") % 2).as("sides"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("sides") === 2).count()
    assert(spanning > 0,
      "no duplicate pair spans the two micro-batches — the cross-batch " +
        "dedup arm is untested at this SF")
  }

  test("x201: both survivorship policies keep exactly one copy per cluster; attribution deltas are real and conserved") {
    val sf = "/root/testdata/sf0.1" // the fixture with duplicate clusters
    val rows = SparkEntry.queries("x201_survivorship_policy")(spark, sf)
      .collect()
    val (kf, kp) = (rows.map(_.getAs[Long]("n_kept_first")).sum,
      rows.map(_.getAs[Long]("n_kept_pref")).sum)
    val nClusters = Tables.documents(spark, sf)
      .select(md5(col("text"))).distinct().count()
    assert(kf == nClusters && kp == nClusters,
      s"each policy must keep exactly one winner per cluster: $kf/$kp vs $nClusters")
    val deltas = rows.map(_.getAs[Long]("kept_delta"))
    assert(deltas.sum == 0, "attribution is zero-sum across sources")
    assert(deltas.exists(_ > 0) && deltas.exists(_ < 0),
      "the fixture's cross-source duplicates must move attribution both ways")
  }

  test("x202: the interval union merges chains/overlaps exactly, and the rewrite matches brute force") {
    import spark.implicits._
    // crafted spans: chain-overlap (1-10,8-14,13-20 → one [1,20), 19
    // tokens), touching halves ([25,30) + [30,35) → ADJACENT half-open
    // spans are one contiguous cut [25,35), 10 tokens — the mask-space
    // semantics the brute force below also uses), a second doc with a
    // lone span and an overlapping pair, plus a genuinely gapped pair
    val spans = Seq(
      (1L, 1L, 10L), (1L, 8L, 14L), (1L, 13L, 20L),
      (1L, 25L, 30L), (1L, 30L, 35L),
      (2L, 5L, 9L), (2L, 40L, 50L), (2L, 45L, 60L),
      (3L, 1L, 4L), (3L, 5L, 8L))
      .toDF("doc_id", "s0", "e0")
    val got = operators.Mining.mergeSpans(spans).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, 29L), (2L, 2L, 24L), (3L, 2L, 6L)),
      s"interval union drifted: ${got.toSeq}")
    // end-to-end: the rewrite plan equals a brute-force token-mask scan
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text"),
        graft.functions.Text.fingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0),
        r.getString(1).split(" ", -1).toVector, r.getLong(2) % 100 < 90))
    def grams(t: Vector[String]) =
      if (t.length < 5) Vector.empty[String]
      else (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" ")).toVector
    val train = docs.filter(_._3).flatMap(d => grams(d._2)).toSet
    val expected = docs.filterNot(_._3)
      .map { case (id, t, _) => (id, t.length.toLong, grams(t)) }
      .filter(_._3.nonEmpty)
      .map { case (id, n, gs) =>
        val hit = gs.map(train.contains)
        // runs >= 3 → token mask over each gram's 5-token window
        val mask = Array.fill(n.toInt)(false)
        var i = 0
        while (i < hit.length) {
          if (hit(i)) {
            var j = i; while (j < hit.length && hit(j)) j += 1
            if (j - i >= 3) (i until math.min(n.toInt, j + 4))
              .foreach(mask(_) = true)
            i = j
          } else i += 1
        }
        // merged span count = maximal masked runs
        val nSpans = mask.indices.count(k => mask(k) && (k == 0 || !mask(k - 1))).toLong
        val removed = mask.count(identity).toLong
        (id, n, nSpans, removed, n - removed, (n - removed) * 1000000L / n)
      }.sortBy(_._1).toList
    val out = SparkEntry.queries("x202_decontamination_rewrite")(spark, sf0_001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    assert(out == expected)
    assert(expected.exists(_._3 > 0) && expected.exists(_._3 == 0),
      "fixture must carry both cut and untouched eval docs")
  }

  test("st32: streamed contamination state answers the batch x200 report verbatim, with train grams spanning batches") {
    val batch = SparkEntry.queries("x200_contamination_span")(spark, sf0_001)
      .collect().map(_.toSeq.toList).toList
    val stream = SparkEntry.queries("st32_stream_contamination")(
      spark, sf0_001).collect().map(_.toSeq.toList).toList
    assert(batch.nonEmpty && stream == batch,
      "folded gram state must answer the batch report verbatim")
    // the set-union fold must actually dedup: grams shared by the two
    // parity micro-batches exist (else distinct-at-fold is untested)
    val cg = operators.Mining.contamGrams(Tables.documents(spark, sf0_001))
      .filter(col("is_train"))
      .select((col("doc_id") % 2).as("par"), col("g"))
      .distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("sides"))
      .filter(col("sides") === 2).count()
    assert(cg > 0, "no train gram spans both micro-batches — the " +
      "distinct-fold dedup arm is untested at this SF")
  }

  test("x203: block classification + context promotion match a brute-force scan, and every class fires") {
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    val expected = docs.map { case (id, text) =>
      val blocks = text.split(" ", -1).zipWithIndex
        .filter(_._1.nonEmpty)
        .groupBy(_._2 / 12).toSeq.sortBy(_._1)
        .map { case (b, ws) =>
          val n = ws.length
          val stop = ws.count(w => w._1 == "a" || w._1 == "the")
          val cls = if (n < 6) "short"
            else if (stop * 25 >= n) "good" else "bad"
          (b, n, cls)
        }
      val kept = blocks.zipWithIndex.map { case ((_, n, cls), j) =>
        val pc = if (j > 0) blocks(j - 1)._3 else ""
        val nc = if (j < blocks.length - 1) blocks(j + 1)._3 else ""
        val k = cls == "good" || (cls == "short" && (pc == "good" || nc == "good"))
        (n, cls, k)
      }
      val keptTok = kept.filter(_._3).map(_._1.toLong).sum
      val tot = kept.map(_._1.toLong).sum
      (id, kept.length, kept.count(_._2 == "good"), kept.count(_._2 == "bad"),
        kept.count(_._2 == "short"),
        kept.count(c => c._3 && c._2 == "short"), keptTok, tot,
        new java.math.BigDecimal(1e-9 + keptTok * 1.0 / tot)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue)
    }.sortBy(_._1)
    val got = SparkEntry.queries("x203_boilerplate_blocks")(spark, sf0_001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toList
    assert(got == expected)
    // the pin must bite: all three classes AND a real promotion exist,
    // and boilerplate is actually dropped somewhere
    assert(expected.exists(_._3 > 0) && expected.exists(_._4 > 0)
      && expected.exists(_._5 > 0), "fixture must exercise good/bad/short")
    assert(expected.exists(_._6 > 0), "no short block was context-promoted")
    assert(expected.exists(e => e._7 < e._8), "no block was ever dropped")
  }

  test("x204: relational Adagrad equals a sequential driver-side trainer epoch-for-epoch, and the model beats the base rate") {
    val docs = Tables.documents(spark, sf0_001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    def charHash(w: String): Long =
      w.foldLeft(0L)((acc, ch) => (acc * 31L + ch.toLong) % 1000000007L)
    def rnd(v: Double): Long = new java.math.BigDecimal(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    // per-doc feature cells + label, exactly the engine arithmetic
    val cells = docs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      if (ws.isEmpty) Nil
      else {
        val n = ws.length.toLong
        val byBin = ws.groupBy(w => (charHash(w) % 512).toInt)
          .map { case (b, g) => b -> g.length * 1000000L / n }
        Seq(id -> (byBin + (-1 -> 1000000L) + (-2 -> math.min(n, 1000L) * 1000L)))
      }
    }.toMap
    val labels = docs.map { case (id, text) =>
      val all = text.split(" ", -1)
      val n = all.length
      val ttr = all.distinct.length * 1.0 / n
      val stopR = all.count(w => w == "a" || w == "the") * 1.0 / n
      val avgLen = all.map(_.length).sum * 1.0 / n
      val q = new java.math.BigDecimal(1e-9 + (0.5 * ttr + 0.3 * (1 - stopR)
        + 0.2 * math.min(avgLen / 8.0, 1.0)))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      id -> (if (q >= 0.63) 1 else 0)
    }.toMap
    val nDocs = labels.size
    val binSet = cells.values.flatMap(_.keys).toSet
    var w = binSet.map(_ -> 0L).toMap
    var ss = binSet.map(_ -> 0L).toMap
    // r14: the shipped model trains to the VALIDATED stopping round
    // (Quality.chosenRound), not the fixed 24 — the sequential
    // reference replays exactly that many epochs
    val stopRound = operators.Quality.chosenRound(spark, sf0_001)
    assert(stopRound >= 1 && stopRound <= operators.Quality.Epochs)
    (1 to stopRound).foreach { _ =>
      val grad = scala.collection.mutable.Map[Int, Long]()
        .withDefaultValue(0L)
      cells.foreach { case (id, fv) =>
        val zmm = fv.map { case (b, fq) => fq * w(b) }.sum
        val z = zmm / 1000000000000.0
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val e = p - labels(id)
        fv.foreach { case (b, fq) => grad(b) += rnd(1e-9 + e * fq) }
      }
      binSet.foreach { b =>
        val gm = rnd(1e-9 + grad(b) * 1.0 / nDocs)
        val s2 = ss(b) + gm * gm
        val step = if (s2 == 0) 0L
          else rnd(1e-9 + 500000.0 * gm / math.sqrt(s2.toDouble))
        w += b -> (w(b) - step)
        ss += b -> s2
      }
    }
    val got = SparkEntry.queries("x204_quality_classifier")(spark, sf0_001)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(got == w, "artifact weights must equal the sequential trainer")
    assert(w.values.exists(_ != 0L), "training must move the weights")
    // the trained model must beat the majority class on its train set
    val correct = cells.count { case (id, fv) =>
      (fv.map { case (b, fq) => fq * w(b) }.sum > 0) == (labels(id) == 1)
    }
    val base = math.max(labels.values.sum, nDocs - labels.values.sum)
    assert(correct > base,
      s"trained accuracy $correct/$nDocs must beat base $base/$nDocs")
  }

  test("x205: the eval gate reconciles with x204's model — doc counts, non-degenerate predictions, base rate beaten") {
    val rows = SparkEntry.queries("x205_classifier_eval")(spark, sf0_001)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val (nDocs, nPos, nPred, nCorrect) =
      rows.foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), r) =>
        (a + r._1, b + r._2, c + r._3, d + r._4)
      }
    assert(nDocs == 500 && nPos > 0 && nPos < nDocs)
    assert(nPred > 0 && nPred < nDocs,
      "a degenerate all-one-class model means training regressed")
    assert(nCorrect > math.max(nPos, nDocs - nPos),
      "the trained filter must beat the majority-class base rate")
  }

  test("x206: the trained scorer's isotonic curve beats the placeholder's — the x117 swap-gate promise, cashed") {
    def spread(name: String): Double = {
      val iso = SparkEntry.queries(name)(spark, sf0_001)
        .select(col("iso_rate")).collect().map(_.getDouble(0))
      iso.max - iso.min
    }
    val trained = spread("x206_classifier_calibration")
    val placeholder = spread("x174_isotonic_pav")
    assert(trained > 0.5, s"trained calibration range $trained must be real")
    assert(trained > placeholder + 0.1,
      s"trained iso spread $trained must clearly beat the hash-random " +
        s"placeholder's $placeholder — otherwise training bought nothing")
  }

  test("st33: streamed feature/label/occupancy state retrains to the batch x204 model row-for-row") {
    val batch = SparkEntry.queries("x204_quality_classifier")(spark, sf0_001)
      .collect().map(_.toSeq.toList).toList
    val stream = SparkEntry.queries("st33_stream_classifier")(spark, sf0_001)
      .collect().map(_.toSeq.toList).toList
    assert(batch.nonEmpty && stream == batch,
      "the model retrained from folded streaming state must equal the " +
        "batch-trained artifact verbatim")
    // the fold must actually merge: every occupied word bin receives
    // cells from BOTH parity micro-batches at this SF (so per-bin
    // occupancy sums and gradient folds cross the batch boundary)
    val sides = operators.Quality.featureCells(
      Tables.documents(spark, sf0_001))
      .filter(col("b") >= 0)
      .select(col("b"), (col("doc_id") % 2).as("par")).distinct()
      .groupBy(col("b")).agg(count(lit(1)).as("sides"))
    assert(sides.filter(col("sides") === 2).count() > 0,
      "no bin spans both micro-batches — the cross-batch fold is untested")
  }

  test("x207: greedy longest-match equals a sequential brute force on the trained vocab, and a crafted case proves greedy-vs-merge divergence is detectable") {
    import spark.implicits._
    // brute-force greedy over the SAME trained piece inventory
    val wsym = operators.Mining.bpeSymsArtifact(spark, sf0_001)
      .collect().map(r => (r.getAs[String]("word"), r.getAs[String]("sym")))
    val words = wsym.map(_._1).distinct.sorted
    val pieces = wsym.map(_._2).toSet ++ words.flatMap(_.map(_.toString))
    def greedy(w: String): Long = {
      var pos = 0; var np = 0L
      while (pos < w.length) {
        val l = (math.min(w.length - pos, 16) to 1 by -1)
          .find(k => pieces.contains(w.substring(pos, pos + k))).get
        pos += l; np += 1
      }
      np
    }
    val got = operators.Mining.greedyEncode(
      words.toSeq.toDF("word"), pieces.toSeq.toDF("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == words.map(w => w -> greedy(w)).toMap)
    // on this fixture greedy and merge-order agree word-for-word (x207's
    // n_disagree column is honestly zero); the crafted case below proves
    // the audit WOULD catch a diverging vocabulary: greedy longest-match
    // takes [abc, d, e, f] where the alternative [ab, cdef] costs 2
    val crafted = operators.Mining.greedyEncode(
      Seq("abcdef").toDF("word"),
      Seq("ab", "cdef", "abc").toDF("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(crafted == Map("abcdef" -> 4L),
      "longest-match must take abc first and pay the char fallback tail")
    // and x207's merge-side totals must reconcile with x197's encoder
    val x197 = SparkEntry.queries("x197_bpe_fertility")(spark, sf0_001)
      .select(col("source"), col("n_tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val x207 = SparkEntry.queries("x207_greedy_encode_audit")(spark, sf0_001)
      .select(col("source"), col("merge_tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(x207 == x197,
      "x207's merge-order arm must equal x197's encoding per source")
  }

  test("x208: hardness boost is monotone in the classifier's error rate, and the fixture exercises a real spread") {
    val rows = SparkEntry.queries("x208_hardness_mix")(spark, sf0_001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getLong(5)))
    // equal-sized sources at this SF → rate must be monotone in err_ppm
    assert(rows.map(_._2).distinct.size == 1,
      "monotonicity pin assumes the fixture's equal-sized sources")
    rows.sortBy(_._3).sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._4 <= hi._4,
        s"rate must not decrease with hardness: $lo vs $hi")
    }
    val (minErr, maxErr) = (rows.map(_._3).min, rows.map(_._3).max)
    assert(maxErr > minErr, "the classifier's per-source error spread " +
      "must be real or the boost is untestable")
    assert(rows.map(_._4).distinct.size > 1,
      "the boost must actually shift rates between sources")
    // sampling must have dropped something and kept something
    val (tn, ts) = (rows.map(_._2).sum, rows.map(_._5).sum)
    assert(ts > 0 && ts < tn, "the mix must keep a strict subset")
  }

  test("x209: the split-trained model generalizes — held-out accuracy beats the held-out base rate, with no leakage into training") {
    val rows = SparkEntry.queries("x209_heldout_eval")(spark, sf0_001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    val (hn, hp, hc) = Seq(rows("val"), rows("test"))
      .foldLeft((0L, 0L, 0L)) { case ((a, b, c), r) =>
        (a + r._1, b + r._2, c + r._3)
      }
    assert(hc > math.max(hp, hn - hp),
      s"held-out correct $hc/$hn must beat the held-out base rate — " +
        "otherwise the filter memorized its training split")
    // the split matters: the split-trained weights differ from the
    // full-corpus x204 weights (leakage would make them identical when
    // the held-out slice is empty — it is not)
    val trW = operators.Quality.qweightsTrainArtifact(spark, sf0_001)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fullW = SparkEntry.queries("x204_quality_classifier")(spark, sf0_001)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(trW != fullW,
      "split-trained weights must differ from full-corpus weights")
  }

  test("streaming scratch is process-isolated: per-JVM token under the warehouse root") {
    assert(Scratch.root.startsWith(Warehouse.root))
    assert(Scratch.root.contains(s"graft_scratch_r${Publish.runToken}"),
      "scratch root must carry the per-JVM run token so two JVMs can never " +
        "share mutable streaming state")
    assert(Publish.runToken.nonEmpty && Publish.runToken.length == 8)
  }
}
