package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{QueryDef, Tables}

/** The flagship pipeline: the Spark re-expression of the reference's
  * "accidents per district, with that day's weather" analytics
  * (reference: queries.py:69-91, etl.py:251-288, performance_test.py:17-22).
  *
  * Domain transfer (SURVEY.md §7.1): `events` plays `traffic_incidents`
  * (timestamped point facts), value-range buckets play the
  * `community_boundaries` containment dimension (point-in-polygon → 1-D
  * range containment), and a per-day aggregate of `events` plays the daily
  * `weather` dimension.
  *
  * Scale design (the part that matters at 100 TB):
  *  - The containment join is INNER with the tiny bucket side BROADCAST, so
  *    the nested-loop probe is a single pass over the fact stream with no
  *    shuffle — the Spark analog of the reference's GIST index
  *    (etl.py:230-237). Empty dimension rows are restored afterwards with a
  *    tiny dimension-side left join (J3 semantics), instead of streaming the
  *    100 TB side into a broadcast.
  *  - The daily dimension (one row per day) is broadcast for the temporal
  *    equi join (J2) — the fact side never shuffles.
  *  - The per-bucket aggregate is a hash aggregate with map-side partials;
  *    only the tiny aggregated result crosses the exchange.
  */
object Flagship {

  /** Width of one value bucket; bucket `lo` covers `[lo, lo + 50)`. */
  final val BucketWidth = 50

  /** Lower bounds of the 10 value buckets covering events.value ∈ [0, 500),
    * in `lo` order — the one definition of the bucket dimension. */
  val bucketLos: Seq[Int] = 0 until 500 by BucketWidth

  /** Value-range containment dimension over [[bucketLos]] — the
    * `community_boundaries` analog. */
  def buckets(spark: SparkSession): DataFrame =
    spark.range(bucketLos.head, bucketLos.last + BucketWidth, BucketWidth).select(
      col("id").cast("int").as("lo"),
      (col("id") + BucketWidth).cast("int").as("hi"))

  /** Daily aggregate of events — the `weather` daily-dimension analog
    * (reference: etl.py:86-105 fetch + queries.py:60-61 join key). */
  def daily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("day_events"),
        avg(col("value")).as("day_avg"))

  /** Flagship: per-bucket event count + value stats, enriched with the
    * day-level average (J1-analog containment join + J2 temporal equi join
    * + J3 dimension-preserving count + A1 group count + O1 order). */
  def apply(spark: SparkSession, dir: String): DataFrame = {
    val e  = Tables.events(spark, dir)
    val b  = buckets(spark)
    val d  = daily(spark, dir)

    val perBucket = e
      .join(broadcast(b), col("value") >= col("lo") && col("value") < col("hi"))
      .join(broadcast(d), to_date(col("ts")) === col("day"), "left")
      .groupBy(col("lo"), col("hi"))
      .agg(
        count(col("event_id")).as("cnt"),
        Num.roundOut(avg(col("value")), 4).as("avg_value"),
        Num.roundOut(avg(col("day_avg")), 4).as("avg_day_avg"))

    // Restore empty buckets (J3: every dimension row appears, count 0) via a
    // tiny dim-side left join instead of left-outer-joining the fact stream.
    b.join(perBucket, Seq("lo", "hi"), "left")
      .select(
        col("lo"), col("hi"),
        coalesce(col("cnt"), lit(0L)).as("n_events"),
        col("avg_value"), col("avg_day_avg"))
      .orderBy(col("lo"))
  }

  /** DuckDB oracle for [[apply]] — declarative form, same semantics. */
  val oracle: String =
    """WITH buckets AS (
      |  SELECT CAST(range AS INT) AS lo, CAST(range + 50 AS INT) AS hi
      |  FROM range(0, 500, 50)
      |), daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS day_events, avg(value) AS day_avg
      |  FROM events GROUP BY 1
      |)
      |SELECT b.lo, b.hi,
      |       count(e.event_id) AS n_events,
      |       round(1e-9 + avg(e.value), 4) AS avg_value,
      |       round(1e-9 + avg(d.day_avg), 4) AS avg_day_avg
      |FROM buckets b
      |LEFT JOIN events e ON e.value >= b.lo AND e.value < b.hi
      |LEFT JOIN daily d ON CAST(e.ts AS DATE) = d.day
      |GROUP BY b.lo, b.hi
      |ORDER BY b.lo""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q01_flagship", oracle)((s, d) => apply(s, d)))
}
