package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge
import graft.streaming.Streams

/** Watermark/append late-data semantics and the foreachBatch incremental
  * upsert (the reference's freshness model, SURVEY.md §2.9). */
class StreamingSemanticsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("watermarked append emits closed windows and drops late rows") {
    import spark.implicits._
    // base aligned to the 5-minute window grid so t(0)/t(2) share a window
    val base = 1700000000000L - (1700000000000L % 300000L)
    def t(m: Int) = new Timestamp(base + m * 60000L)
    val src = java.nio.file.Files.createTempDirectory("wm").toString
    // batch 1: rows up to minute 30 → watermark will advance to 20
    Seq((1L, t(0), 1.0), (2L, t(6), 1.0), (3L, t(30), 1.0))
      .toDF("user_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(src)
    val q = Streams.windowedAppend(spark, src, "wm_sink")
    try {
      q.processAllAvailable()
      // batch 2: one on-time row (minute 31) and one LATE row (minute 2,
      // far behind the watermark) that must be dropped
      Seq((4L, t(31), 1.0), (5L, t(2), 1.0))
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
      // batch 3: advance event time far enough to close everything open
      Seq((6L, t(120), 1.0)).toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val wins = spark.table("wm_sink")
      .select(col("win_start"), col("n")).collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    // window [0,5) emitted with ONE row: the late minute-2 row was dropped
    assert(wins(t(0).getTime) == 1L, s"late row must be dropped: $wins")
    // window [5,10) and [30,35) eventually emitted
    assert(wins.contains(t(5).getTime) && wins.contains(t(30).getTime))
  }

  test("foreachBatch incremental upsert converges to batch keepLatest") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("inc_src").toString
    val fact = java.nio.file.Files.createTempDirectory("inc_fact").toString + "/fact"
    val keys = Seq("user_id", "event_type")
    val ord = Seq(col("ts").desc, col("event_id").desc)
    val batch1 = Seq(
      (1L, t(0), 7L, "click", 1.0),
      (2L, t(5), 7L, "click", 2.0),  // newer for (7, click)
      (3L, t(1), 8L, "view", 3.0))
    val batch2 = Seq(
      (4L, t(2), 7L, "click", 9.0),  // OLDER than event 2 → must lose
      (5L, t(9), 8L, "view", 4.0),   // newer for (8, view) → must win
      (6L, t(3), 9L, "error", 5.0))  // new key → insert
    def dump(rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    dump(batch1)
    Streams.incrementalUpsert(spark, src, fact, keys, ord)
    dump(batch2)
    Streams.incrementalUpsert(spark, src, fact, keys, ord)
    val got = spark.read.parquet(fact)
      .select("event_id").as[Long].collect().sorted.toSeq
    // expected: keepLatest over ALL events
    val all = (batch1 ++ batch2)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = Merge.keepLatest(all, keys, ord)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == expected && got == Seq(2L, 5L, 6L))
  }

  test("dropDuplicatesWithinWatermark suppresses replays, drops sub-watermark rows") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("ddw").toString
    def dump(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("event_id", "ts")
        .coalesce(1).write.mode("append").parquet(src)
    // batch 1: two events 30 min apart → watermark advances to t(30)-10min
    dump(Seq((1L, t(0)), (2L, t(30))))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("ts", "timestamp")
    val q = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ddw_sink").start()
    try {
      q.processAllAvailable()
      // batch 2: a replay of event 2 (within watermark → suppressed by
      // state), a replay of event 1 with a ts BELOW the watermark (late →
      // dropped by the pre-state late filter, NOT re-emitted even though
      // its state may have been evicted), and a fresh on-time event.
      dump(Seq((2L, t(30)), (1L, t(0)), (3L, t(31))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ddw_sink")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"each event must be emitted exactly once, got $got")
  }

  test("session_window gap boundary is INCLUSIVE: exactly-30-minute gap merges") {
    import spark.implicits._
    // Spark merges an event that lands ON the previous window's end
    // (gap inclusive); only a strictly-greater gap splits. q40's oracle
    // mirrors this with new-session = `ts - lag(ts) > INTERVAL 30 MINUTE`.
    val justOver = new Timestamp(t(59).getTime + 30 * 60000L + 1L)
    val rows = Seq(
      (1L, t(0)),    // session 1
      (2L, t(29)),   // 29 min later → merges
      (3L, t(59)),   // exactly 30 min after t(29) → still MERGES
      (4L, justOver)) // 30 min + 1 ms after t(59) → NEW session
    val sessions = rows.toDF("event_id", "ts")
      .withColumn("user_id", lit(7L))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("start"), col("n"))
      .orderBy(col("start"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(sessions == Seq((t(0), 3L), (justOver, 1L)),
      s"expected inclusive-gap merge then split, got $sessions")
  }

  test("streaming conf scope (nanos flag + 8 state partitions) restores the session") {
    val k = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(k)
    val nanosBefore = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    // a streaming query runs with the scoped confs...
    val out = graft.streaming.Streams.streamingDaily(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    // ...and both confs come back to their pre-query values afterwards —
    // the batch side of a shared session must never inherit the streaming
    // state-partition sizing or the nanos legacy flag as a side effect
    assert(spark.conf.get(k) == before,
      s"shuffle.partitions leaked: ${spark.conf.get(k)} != $before")
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") == nanosBefore,
      "nanosAsLong leaked out of the streaming scope")
  }

  test("the streaming clone serves with the AQE setting it started with") {
    val aqe = "spark.sql.adaptive.enabled"
    def adaptive(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val parent = SparkSession.builder().config(aqe, "false").create()
    try {
      val off = Streams.streamingDaily(parent, sf0_001)
      assert(off.sparkSession.conf.get(aqe) == "false")
      assert(!adaptive(off), "a parent built with AQE off got an adaptive serve plan")
      assert(off.count() > 0)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
    // the default session keeps AQE on for the serve plan
    val on = Streams.streamingDaily(spark, sf0_001)
    assert(on.sparkSession.conf.get(aqe) == "true")
    assert(adaptive(on))
  }

  /** A stage of `slices.size` parquet files, file i holding `slices(i)` as
    * column `id`, with strictly increasing mtimes (the file source's
    * arrival order). */
  private def stageOf(slices: Seq[Seq[Long]]): String = {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("drv_stage")
    slices.zipWithIndex.foreach { case (ids, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("drv_slice")
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = java.nio.file.Files.list(tmp)
      val part = try l.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally l.close()
      val dst = stage.resolve(s"batch_$i.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
    }
    stage.toString
  }

  test("stream driver: replay + drain runs one micro-batch per staged file, in file order") {
    val stage = stageOf(Seq(Seq(3L, 1L, 2L), Seq(20L, 10L)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    Streams.drain(Streams.replay(spark, stage)) { batch =>
      seen.add(batch.collect().map(_.getLong(0)).toSeq.sorted); ()
    }
    assert(seen.toArray.toSeq == Seq(Seq(1L, 2L, 3L), Seq(10L, 20L)))
    assert(spark.streams.active.isEmpty)
  }

  test("stream driver: an exception in the fold reaches the caller and no query stays active") {
    val stage = stageOf(Seq(Seq(1L), Seq(2L)))
    val e = intercept[Exception] {
      Streams.drain(Streams.replay(spark, stage)) { _ =>
        throw new IllegalStateException("fold failed")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "fold failed"), s"fold exception lost: $chain")
    assert(spark.streams.active.isEmpty)
  }

  test("stream driver: collect returns every row of a Complete-mode aggregate") {
    val stage = stageOf(Seq(Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L)))
    val agg = Streams.replay(spark, stage)
      .groupBy((col("id") % 2).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    val got = Streams.collect(agg,
        org.apache.spark.sql.streaming.OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 3L, 10L), (1L, 4L, 12L)))
    assert(spark.streams.active.isEmpty)
  }

  test("stream driver lint: main code starts a stream sink only inside the Streams driver") {
    // a sink pattern may appear only in these defs of Streams.scala;
    // windowedAppend returns its running query, which its spec drives
    // mid-stream
    val allowed = Set("replay", "drain", "collect", "windowedAppend")
    // and a state log compacts only through StateFold.Log, so no query can
    // pass compaction a second copy of its merge
    val compact = "maybeCompact("
    val patterns = Seq("processAllAvailable", ".foreachBatch", "format(\"memory\")",
      compact)
    val scope = ("""^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:final\s+)?""" +
      """(?:def|val|lazy val|object|class|trait)\s+(\w+)""").r
    val files = MainSource.code()
    assert(files.exists(_._1.getName == "Streams.scala"), "lint scanned no source")
    val hits = files.flatMap { case (f, code) =>
      def indent(l: String) = l.takeWhile(_ == ' ').length
      code.zipWithIndex.collect { case (l, i) if patterns.exists(l.contains) =>
        // the enclosing scopes, innermost first: walking up, a scope line
        // encloses the hit only if it is less indented than every code
        // line passed so far (a less-indented sibling is not an owner)
        val owners = (i - 1 to 0 by -1).foldLeft((indent(l), List.empty[String])) {
          case ((lim, acc), j) =>
            val owner = scope.findFirstMatchIn(code(j))
              .filter(_.group(1).length < lim).map(_.group(2))
            val next = if (code(j).trim.isEmpty) lim else math.min(lim, indent(code(j)))
            (next, owner.fold(acc)(_ :: acc))
        }._2.reverse
        (f.getName, i + 1, owners, l.trim)
      }
    }
    val (ok, bad) = hits.partition { case (name, _, owners, l) =>
      if (l.contains(compact)) name == "StateFold.scala"
      else name == "Streams.scala" && owners.exists(allowed)
    }
    assert(bad.isEmpty, "a stream sink is started outside the Streams driver " +
      "(use replay/drain/collect), or a log is compacted outside StateFold " +
      s"(use StateFold.Log): ${bad.mkString("; ")}")
    // the scan must see the driver's own sinks, or it proves nothing
    patterns.foreach(p => assert(ok.exists(_._4.contains(p)), s"no $p found in the driver"))
    assert(ok.map(_._3.find(allowed)).distinct.flatten.toSet ==
      Set("drain", "collect", "windowedAppend"))
  }

  test("stageSplit call sites publish under registered staging directory names") {
    // call sites pass an Artifacts family (a Round12Spec lint keeps every
    // warehouse name in Artifacts.scala); the published dir is its prefix
    // plus the source's content key
    val stage = Streams.stageSplit(spark, sf0_001, Artifacts.stageDocsSplit, "doc_id")
    assert(java.nio.file.Paths.get(stage).getFileName.toString ==
      "graft_stream_docsplit_v1_" +
        ContentKey.key(java.nio.file.Paths.get(sf0_001, "documents.parquet")))
  }
}
