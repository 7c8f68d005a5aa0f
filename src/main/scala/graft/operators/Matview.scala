package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}

/** Materialized-view / denormalized-fact physical design — the reference's
  * `accident_geo_view` + `accident_facts` optimization (etl.py:251-288,
  * queries.py:94-118, SURVEY.md §4): precompute the joined fact once per
  * ETL run, let every analytics query scan the precomputed parquet instead
  * of re-joining base tables. `performance_test.py` measures exactly this
  * config-1-vs-config-3/4 gap; [[graft.Bench]] reproduces it.
  *
  * Scale: the fact parquet is partitioned by day — readers with a date
  * predicate prune whole partitions (the B-tree-index analog); the
  * bucket/daily joins are paid once at build time, not per query.
  */
object Matview {

  /** Build (idempotently, keyed by the source's content fingerprint) the
    * deduped denormalized fact parquet and return its path. The key covers
    * the events parquet's size+mtime, so regenerating the testdata at the
    * same path yields a new cache entry instead of stale serving. */
  def factPath(s: SparkSession, dir: String): String = {
    val out = Artifacts.fact.path(dir)
    graft.Publish.once(out) { tmp =>
      FactBuild.build(s, dir)
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }
    out
  }

  /** The published fact for `dir`, built on first use. */
  def fact(s: SparkSession, dir: String): DataFrame =
    graft.Publish.read(s, factPath(s, dir))

  /** Every bucket in `lo` order; one missing from `perBucket` counts 0. */
  private def allBuckets(s: SparkSession, perBucket: DataFrame): DataFrame =
    Flagship.buckets(s)
      .join(perBucket, Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"),
        coalesce(col("cnt"), lit(0L)).as("n_rows"), col("avg_value"))
      .orderBy(col("lo"))

  /** Per-(day, bucket) partials of the fact: row count and raw value sum. */
  private def partials(f: DataFrame): DataFrame =
    f.filter(col("lo").isNotNull)
      .groupBy(col("day"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Serve buckets from partials; avg is re-derived as sum(sum)/sum(cnt),
    * the shape Spark's own aggregate partials take. That sums in another
    * order than the oracle's avg; `roundOut`'s 1e-9 nudge keeps the drift
    * off half-ulp rounding boundaries. */
  private def combine(s: SparkSession, partials: DataFrame): DataFrame =
    allBuckets(s, partials.groupBy(col("lo"), col("hi"))
      .agg(sum(col("cnt")).as("cnt"),
        Num.roundOut(sum(col("sum_value")) / sum(col("cnt")), 4).as("avg_value")))

  /** Shared oracle: the flagship aggregate recomputed from BASE tables —
    * q25 (fact) and q52 (aggregate matview) must both reproduce it; only
    * the physical serving path differs (reference configs 3 vs 4). */
  private val servingOracle =
      """WITH dedup AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |  WHERE rn = 1
        |), buckets AS (
        |  SELECT CAST(range AS INT) AS lo, CAST(range + 50 AS INT) AS hi
        |  FROM range(0, 500, 50)
        |)
        |SELECT b.lo, b.hi, count(de.event_id) AS n_rows,
        |       round(1e-9 + avg(de.value), 4) AS avg_value
        |FROM buckets b
        |LEFT JOIN dedup de ON de.value >= b.lo AND de.value < b.hi
        |GROUP BY b.lo, b.hi ORDER BY b.lo""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    // The flagship-shaped aggregate served FROM the precomputed fact
    // (reference config 4). Oracle recomputes the same result from base
    // tables declaratively — results must be identical, only the physical
    // path differs.
    QueryDef("q25_fact_serving", servingOracle) { (s, d) =>
      allBuckets(s, fact(s, d).filter(col("lo").isNotNull)
        .groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("cnt"),
          Num.roundOut(avg(col("value")), 4).as("avg_value")))
    },

    // The AGGREGATE matview: GENERALIZES the reference's matview config
    // (config 3, `accident_geo_view` etl.py:251-288 — a row-level
    // denormalized join whose serving query still aggregates at query
    // time) by additionally pre-aggregating: day×bucket partials (count,
    // raw sum) precomputed FROM the fact parquet at build time. Serving
    // combines ~days×buckets partial rows — O(dimensions), independent of
    // event count: at 100 TB the base scan is off the serving path
    // entirely, and the matview is incrementally maintainable (append a
    // day's partials, never recompute history).
    QueryDef("q52_agg_matview", servingOracle) { (s, d) =>
      combine(s, DerivedTable(s, d, Artifacts.aggmv) {
        // dims-sized (days×buckets) — one file, no small-file tax
        partials(fact(s, d)).coalesce(1)
      })
    },

    // INCREMENTAL matview refresh: the maintenance story q52's design
    // promises, executed. A "stale" partial table (days ≤ 25, the artifact
    // yesterday's run persisted) is combined with a DELTA computed only
    // from the new days — and because the fact parquet is partitioned by
    // day, the delta scan partition-prunes to the new directories: refresh
    // cost ∝ new data, independent of history size. Serving then combines
    // partials exactly as q52 does and must reproduce the full base-table
    // recompute (same oracle). Honesty note: partials re-aggregate cleanly
    // because the fact is already PK-deduped; in production a late event
    // that changes an old day's keep-latest winner flows through the
    // st02-style upsert first, and its (day, bucket) partials are the
    // delta — the same bounded-work shape.
    QueryDef("q55_matview_refresh", servingOracle) { (s, d) =>
      val stale = DerivedTable(s, d, Artifacts.aggmvStale) {
        partials(fact(s, d)
          .filter(col("day") <= lit("2024-01-25").cast("date")))
          .coalesce(1)
      }
      val delta = partials(fact(s, d)
        .filter(col("day") > lit("2024-01-25").cast("date")))
      combine(s, stale.unionByName(delta))
    },

    // JOIN-DELTA incremental view maintenance WITH RETRACTIONS — the
    // delta rule q55 doesn't cover: the view is an aggregate over a JOIN
    // (revenue per customer nation from orders ⋈ customer), and the
    // change stream DELETES rows (a retraction batch: every o_orderkey
    // divisible by 10 is withdrawn). Because the delta touches only the
    // orders side, Δ(O ⋈ C) = ΔO ⋈ C — the maintenance join runs on the
    // DELTA, never rescans the base, and the view merges by SUBTRACTING
    // partials (count/sum are self-inverse; groups whose count reaches 0
    // drop out). The oracle recomputes from the surviving base rows — the
    // algebra must land on the same answer.
    //
    // Money runs through EXACT INTEGER CENTS: retraction algebra on
    // floats drifts (sum(all) − sum(removed) ≠ sum(kept) in float, and
    // repeated maintenance compounds it — the z-set/DBSP lesson), so the
    // view keeps long cents and converts to currency only at the edge,
    // where both engines divide the identical long by 100.
    //
    // Scale: maintenance cost ∝ |ΔO| (one delta-keyed join + one
    // aggregate merge keyed by the view's own group key) — history-size-
    // independent, the property that makes a 100 TB view maintainable.
    QueryDef("q86_join_ivm",
      """WITH kept AS (
        |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |)
        |SELECT n.n_name, count(*) AS n_orders,
        |       CAST(sum(k.cents) AS DOUBLE) / 100.0 AS revenue
        |FROM kept k
        |JOIN customer c ON k.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val cents = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      def gamma(o: DataFrame): DataFrame =
        o.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cts"))
      // "yesterday's" materialized aggregate (checkpoint stands in for
      // the persisted table) + today's retraction batch
      val mvFull = gamma(cents).localCheckpoint()
      val retract = gamma(cents.filter(col("o_orderkey") % 10 === 0))
        .withColumnRenamed("n", "dn").withColumnRenamed("cts", "dcts")
      val maintained = mvFull.join(retract, Seq("c_nationkey"), "left")
        .select(col("c_nationkey"),
          (col("n") - coalesce(col("dn"), lit(0L))).as("n_orders"),
          (col("cts") - coalesce(col("dcts"), lit(0L))).as("kept_cents"))
        .filter(col("n_orders") > 0)
      maintained
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_orders"),
          (col("kept_cents").cast("double") / 100.0).as("revenue"))
        .orderBy(col("n_name"))
    }
  )
}

/** The fact-build plan shared by q22 (verified against the oracle) and the
  * persisted matview. */
private[operators] object FactBuild {
  def build(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val deduped = Merge.keepLatest(e, Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
    val b = Flagship.buckets(s)
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(Num.roundOut(avg(col("value")), 4).as("day_avg"))
    deduped
      .join(broadcast(b), col("value") >= col("lo") && col("value") < col("hi"), "left")
      .join(broadcast(daily), to_date(col("ts")) === col("day"), "left")
      .select(col("user_id"), col("event_type"), col("event_id"),
        to_date(col("ts")).as("day"), col("lo"), col("hi"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"), col("day_avg"))
  }
}
