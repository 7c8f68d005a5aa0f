package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.JobLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Num
import graft.operators.{Flagship, Matview}

/** The facade sequences the reference's entry points correctly. */
class EngineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("runEtl derives, persists, and verifies (etl.py main analog)") {
    val out = java.nio.file.Files.createTempDirectory("etl").toString
    val counts = new Engine(spark, sf0_001).runEtl(out)
    assert(counts("events") == 1000L)
    assert(counts("daily") > 0 && counts("fact") > 0)
    // fact is deduped: one row per (user_id, event_type)
    val fact = spark.read.parquet(
      operators.Matview.factPath(spark, sf0_001))
    assert(fact.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("dashboard filters + bucket counts + metrics (viz.py analog)") {
    val engine = new Engine(spark, sf0_001)
    engine.runEtl(java.nio.file.Files.createTempDirectory("etl2").toString)
    // keep-latest dedup concentrates fact rows at month end — use a window
    // that overlaps it
    val r = engine.dashboard(
      dateFrom = "2024-01-15", dateTo = "2024-01-31",
      eventTypes = Seq("click", "purchase"), minValue = 10.0)
    val buckets = r.perBucket.collect()
    assert(buckets.length == 10) // all dimension rows preserved
    val total = buckets.map(_.getAs[Long]("n_events")).sum
    assert(total == r.filtered.count())
    val m = r.metrics.head()
    assert(m.getAs[Long]("n_rows") == total)
    assert(m.getAs[Double]("avg_value") >= 10.0)
  }

  /** The dashboard as it was served before the fused aggregate: a
    * per-bucket join + sort and a separate metrics aggregate, two actions. */
  private def twoActions(dir: String, from: String, to: String,
      types: Seq[String], min: Double): (DataFrame, DataFrame) = {
    val filtered = spark.read.parquet(Matview.factPath(spark, dir))
      .filter(col("day").between(from, to))
      .transform(df => if (types.isEmpty) df
        else df.filter(col("event_type").isin(types: _*)))
      .filter(col("value") >= min)
    val perBucket = Flagship.buckets(spark)
      .join(filtered.groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("cnt")), Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"),
        coalesce(col("cnt"), lit(0L)).as("n_events"))
      .orderBy(col("lo"))
    val metrics = filtered.agg(
      count(lit(1)).as("n_rows"),
      Num.roundOut(avg(col("value")), 4).as("avg_value"),
      Num.roundOut(median(col("value")), 4).as("med_value"))
    (perBucket, metrics)
  }

  private def assertSameAsTwoActions(dir: String, from: String, to: String,
      types: Seq[String], min: Double): DashboardResult = {
    val r = new Engine(spark, dir).dashboard(from, to, types, min)
    val (perBucket, metrics) = twoActions(dir, from, to, types, min)
    val at = s"$from..$to $types >= $min"
    assert(r.perBucket.schema == perBucket.schema, at)
    assert(r.metrics.schema == metrics.schema, at)
    assert(r.perBucket.collect().toSeq == perBucket.collect().toSeq, at)
    assert(r.metrics.collect().toSeq == metrics.collect().toSeq, at)
    r
  }

  test("dashboard: the fused aggregate equals the two-action formulation over a filter grid") {
    Seq(
      ("2024-01-15", "2024-01-31", Seq("click", "purchase"), 10.0),
      ("2024-01-01", "2024-12-31", Nil, 0.0),                 // eventTypes = Nil
      ("2024-01-07", "2024-01-07", Seq("view"), 0.0),         // one day
      ("2024-01-01", "2024-12-31", Seq("click"), 1e9),        // min above every value
      ("2025-03-01", "2025-03-31", Nil, 0.0),                 // empty window
      ("2024-01-20", "2024-01-10", Nil, 0.0)                  // inverted, empty
    ).foreach { case (from, to, types, min) =>
      assertSameAsTwoActions(sf0_001, from, to, types, min)
    }
    // an empty window: one metrics row (0, null, null) and all 10 buckets at 0
    val empty = new Engine(spark, sf0_001).dashboard("2025-03-01", "2025-03-31")
    assert(empty.metrics.collect().toSeq == Seq(Row(0L, null, null)))
    assert(empty.perBucket.collect().toSeq ==
      (0 until 500 by 50).map(lo => Row(lo, lo + 50, 0L)))
  }

  test("dashboard: fact rows outside every bucket (lo = null) count in metrics only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dash").toString
    def at(day: Int) = Timestamp.from(Instant.parse(f"2024-01-$day%02dT10:00:00Z"))
    Seq[(Long, Timestamp, Long, String, Option[Double], String)](
      (1L, at(5), 1L, "click", Some(-5.0), """{"k":1}"""),
      (2L, at(5), 2L, "click", Some(520.0), """{"k":2}"""),
      (3L, at(6), 3L, "view", Some(75.0), """{"k":3}"""),
      (4L, at(6), 4L, "view", Some(499.99), """{"k":4}"""),
      (5L, at(7), 5L, "click", None, """{"k":5}"""),
      (6L, at(7), 6L, "click", Some(0.0), """{"k":6}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = assertSameAsTwoActions(dir, "2024-01-01", "2024-01-31", Nil, -100.0)
    assert(r.metrics.head().getLong(0) == 5L) // the null value never passes >= min
    assert(r.perBucket.collect().map(_.getLong(2)).sum == 3L)
    Seq(("2024-01-05", "2024-01-05", Seq("click"), -10.0),
        ("2024-01-06", "2024-01-07", Seq("click", "view"), 0.0))
      .foreach { case (from, to, types, min) =>
        assertSameAsTwoActions(dir, from, to, types, min) }
  }

  test("dashboard: a warm request starts at most 2 jobs, all labelled with its window") {
    val engine = new Engine(spark, sf0_001)
    def request() = {
      val r = engine.dashboard("2024-01-10", "2024-01-20", Seq("click"), 5.0)
      (r.perBucket.collect(), r.metrics.collect())
    }
    request() // builds the fact and memoises its schema
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      val (_, jobs) = JobLog(sc)(request())
      assert(jobs.nonEmpty && jobs.size <= 2, jobs)
      assert(jobs.forall(_ == "dashboard 2024-01-10..2024-01-20"), jobs)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
  }

  test("Publish.read: a warm read starts no job; a republished schema is seen") {
    val out = Files.createTempDirectory("publish").resolve("artifact").toString
    Publish.once(out)(t => spark.range(3).toDF("a").write.parquet(t))
    val (_, cold) = JobLog(spark.sparkContext)(Publish.read(spark, out))
    assert(cold.nonEmpty) // the first read infers the schema with a job
    val (warm, jobs) = JobLog(spark.sparkContext)(Publish.read(spark, out))
    assert(jobs.isEmpty, jobs)
    assert(warm.schema.fieldNames.toSeq == Seq("a"))
    // delete and republish at the same path with another schema
    Publish.deleteTree(Paths.get(out))
    Publish.once(out)(t => spark.range(4).selectExpr("id AS b", "'x' AS c").write.parquet(t))
    val republished = Publish.read(spark, out)
    assert(republished.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(republished.count() == 4L)
  }

  test("refreshFact: newer incoming wins, older loses (upsert analog)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val engine = new Engine(spark, sf0_001)
    val existing = Seq((10L, t(5), 1L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val incoming = Seq(
      (11L, t(1), 1L, "click", 2.0), // older → must lose
      (12L, t(9), 1L, "click", 3.0)) // newer → must win
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ids = engine.refreshFact(existing, incoming)
      .select("event_id").as[Long].collect().toSeq
    assert(ids == Seq(12L))
  }
}
