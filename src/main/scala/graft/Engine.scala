package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.Num
import graft.operators.{Flagship, Matview, Merge}

/** User-facing facade mirroring the reference's three entry points, so a
  * user of pi-sister/seng550_a3-etl can switch 1:1:
  *
  *  - `python etl.py`              → [[Engine.runEtl]]   (load + derive +
  *    incremental fact merge, with the reference's count verification)
  *  - `streamlit run viz.py`       → [[Engine.dashboard]] (the dashboard's
  *    filter → count → metrics pipeline as DataFrames)
  *  - `python performance_test.py` → [[graft.Bench]]
  *
  * All heavy lifting delegates to the operator modules; this class only
  * sequences them the way the reference's mains do.
  */
final class Engine(spark: SparkSession, dataDir: String) {

  /** ETL run (reference etl.py:331-384): derive the daily dimension, build
    * the deduped denormalized fact, persist both, verify row counts.
    * Re-running is the reference's freshness model — the fact build is the
    * M1 keep-latest merge, so newer rows win (idempotent). */
  def runEtl(outDir: String): Map[String, Long] = {
    Flagship.daily(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/daily")
    val counts = Map(
      "daily" -> spark.read.parquet(s"$outDir/daily").count(),
      "fact" -> Matview.fact(spark, dataDir).count(),
      "events" -> Tables.events(spark, dataDir).count())
    // reference etl.py:214-218: verify every load produced rows
    require(counts.values.forall(_ > 0), s"ETL verification failed: $counts")
    counts
  }

  /** Dashboard pipeline (reference viz.py): interactive filters over the
    * fact table → per-bucket counts (choropleth analog) + summary metrics.
    * The fact parquet plays the cached `accident_facts` frame. One action
    * per request, an ungrouped aggregate; `perBucket` and `metrics` are
    * local frames built from its row, so collecting them starts no job. */
  def dashboard(
      dateFrom: String = "2024-01-01", dateTo: String = "2024-12-31",
      eventTypes: Seq[String] = Nil, minValue: Double = 0.0): DashboardResult = {
    val filtered = Matview.fact(spark, dataDir)
      .filter(col("day").between(dateFrom, dateTo))          // P6
      .transform(df => if (eventTypes.isEmpty) df
        else df.filter(col("event_type").isin(eventTypes: _*))) // P7
      .filter(col("value") >= minValue)                      // P8/P9
    val fused = filtered.agg(
      count(lit(1)).as("n_rows"),                            // A4
      Num.roundOut(avg(col("value")), 4).as("avg_value") +:  // A5
      Num.roundOut(median(col("value")), 4).as("med_value") +: // A6
      Flagship.bucketLos.map(lo => count_if(col("lo") === lo)): _*) // J3/P11
    val sc = spark.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"dashboard $dateFrom..$dateTo")
    val v = try fused.head().toSeq finally sc.setJobDescription(description)
    val perBucket = Flagship.bucketLos.zip(v.drop(3))
      .map { case (lo, n) => Row(lo, lo + Flagship.BucketWidth, n) }
    DashboardResult(filtered,
      spark.createDataFrame(perBucket.asJava,
        Flagship.buckets(spark).schema.add("n_events", LongType, nullable = false)),
      spark.createDataFrame(Seq(Row.fromSeq(v.take(3))).asJava,
        StructType(fused.schema.take(3))))
  }

  /** Incremental refresh (reference etl.py:317-327): merge a new slice of
    * events into an existing fact snapshot, newer rows winning. */
  def refreshFact(existing: DataFrame, incoming: DataFrame): DataFrame =
    Merge.upsert(existing, incoming, Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
}

final case class DashboardResult(
    filtered: DataFrame, perBucket: DataFrame, metrics: DataFrame)
