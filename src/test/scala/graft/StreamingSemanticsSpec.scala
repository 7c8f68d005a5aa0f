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
}
