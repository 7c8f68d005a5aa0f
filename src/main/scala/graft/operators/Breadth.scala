package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{QueryDef, Tables}

/** Capability-breadth battery beyond the reference's inventory — the rest
  * of the relational surface a user of a general engine expects (SURVEY.md
  * notes the reference has no set ops / grouping sets / ranking windows;
  * a complete library still ships them, oracle-checked).
  */
object Breadth {

  val entries: Seq[QueryDef] = Seq(

    // Ranking/navigation windows: dense_rank, ntile, lead, first/last in
    // frame — all over a total deterministic order.
    QueryDef("q28_window_extras",
      """SELECT event_id, user_id,
        |       dense_rank() OVER (PARTITION BY user_id ORDER BY CAST(ts AS DATE)) AS day_dense,
        |       ntile(4) OVER w AS quartile,
        |       lead(event_id) OVER w AS next_event_id,
        |       first_value(event_id) OVER w AS first_event_id,
        |       last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wDay = Window.partitionBy(col("user_id")).orderBy(to_date(col("ts")))
      Tables.events(s, d).select(col("event_id"), col("user_id"),
          dense_rank().over(wDay).as("day_dense"),
          ntile(4).over(w).as("quartile"),
          lead(col("event_id"), 1).over(w).as("next_event_id"),
          first(col("event_id")).over(w).as("first_event_id"),
          last(col("event_id")).over(wAll).as("last_event_id"))
        .orderBy(col("event_id"))
    },

    // Set operations (UNION ALL / INTERSECT / EXCEPT — distinct semantics).
    QueryDef("q29_set_ops",
      """WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |buyers AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT user_id, 'both' AS tag FROM
        |        (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buyers)
        |      UNION ALL
        |      SELECT user_id, 'click_only' AS tag FROM
        |        (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM buyers))
        |SELECT tag, count(*) AS n_users FROM u GROUP BY tag ORDER BY tag""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click").select(col("user_id"))
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val both = clicks.intersect(buyers).withColumn("tag", lit("both"))
      val clickOnly = clicks.except(buyers).withColumn("tag", lit("click_only"))
      both.unionByName(clickOnly)
        .groupBy(col("tag")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("tag"))
    },

    // Duplicate-preserving set ops (EXCEPT ALL / INTERSECT ALL): bag
    // semantics — multiplicities subtract/min rather than collapsing.
    // Counts per user keep the result small and the multiplicity math
    // visible. One shuffle each (hash by the whole row).
    QueryDef("q42_set_ops_all",
      """WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |views AS (SELECT user_id FROM events WHERE event_type = 'view'),
        |u AS (SELECT user_id, 'click_minus_view' AS tag FROM
        |        (SELECT user_id FROM clicks EXCEPT ALL SELECT user_id FROM views)
        |      UNION ALL
        |      SELECT user_id, 'click_and_view' AS tag FROM
        |        (SELECT user_id FROM clicks INTERSECT ALL SELECT user_id FROM views))
        |SELECT user_id, tag, count(*) AS n FROM u
        |GROUP BY user_id, tag ORDER BY user_id, tag""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click").select(col("user_id"))
      val views = e.filter(col("event_type") === "view").select(col("user_id"))
      val minus = clicks.exceptAll(views).withColumn("tag", lit("click_minus_view"))
      val and = clicks.intersectAll(views).withColumn("tag", lit("click_and_view"))
      minus.unionByName(and)
        .groupBy(col("user_id"), col("tag")).agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("tag"))
    },

    // ANSI-safe scalar surface: try_cast / try_divide degrade to NULL
    // where strict ANSI evaluation would throw — the defensive-parse layer
    // every ingestion pipeline needs (reference parses API payloads
    // defensively, etl.py:145-156). DuckDB equivalents: TRY_CAST and
    // NULLIF-guarded arithmetic. Failures are the RARE path (1-2% of
    // rows): Spark's TryEval catches a real thrown error per failing row,
    // so an always-failing try_cast costs an exception per row — the
    // realistic dirty-minority shape is also the fast one.
    QueryDef("q43_try_battery",
      """SELECT event_id,
        |       TRY_CAST(CASE WHEN event_id % 100 = 0 THEN event_type
        |                     ELSE CAST(event_id AS VARCHAR) END AS INT) AS dirty_int,
        |       TRY_CAST(ROUND(1e-9 + value, 0) AS BIGINT) AS value_int,
        |       value / NULLIF(CAST(event_id % 3 AS DOUBLE), 0.0) AS safe_div,
        |       TRY_CAST('20' || repeat('9', CASE WHEN event_id % 50 = 0 THEN 4 ELSE 1 END)
        |                AS SMALLINT) AS near_overflow
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
          when(col("event_id") % 100 === 0, col("event_type"))
            .otherwise(col("event_id").cast("string"))
            .try_cast("int").as("dirty_int"),
          // the 1e-9 nudge is the cross-engine half-rounding convention
          // (Num.roundOut) — here the result feeds a cast, not a double
          round(col("value") + lit(1e-9), 0).try_cast("bigint").as("value_int"),
          try_divide(col("value"), (col("event_id") % 3).cast("double")).as("safe_div"),
          // '2099' fits; the 2% '209999' rows overflow SMALLINT → NULL
          concat(lit("20"),
            repeat(lit("9"), when(col("event_id") % 50 === 0, 4).otherwise(1)))
            .try_cast("smallint").as("near_overflow"))
        .orderBy(col("event_id"))
    },

    // Rollup (grouping-sets family): per (type, day-of-month band) with
    // subtotals and grand total; grouping() disambiguates rolled-up NULLs.
    QueryDef("q30_rollup",
      """SELECT event_type,
        |       CAST(day(ts) > 15 AS INT) AS late_month,
        |       count(*) AS n,
        |       CAST(grouping(event_type) AS INT) AS g_type,
        |       CAST(grouping(CAST(day(ts) > 15 AS INT)) AS INT) AS g_band
        |FROM events
        |GROUP BY ROLLUP(event_type, CAST(day(ts) > 15 AS INT))
        |ORDER BY g_type, g_band, event_type NULLS FIRST, late_month NULLS FIRST""".stripMargin) { (s, d) =>
      val band = (dayofmonth(col("ts")) > 15).cast("int")
      Tables.events(s, d)
        .select(col("event_type"), band.as("late_month"))
        .rollup(col("event_type"), col("late_month"))
        .agg(count(lit(1)).as("n"),
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("late_month")).cast("int").as("g_band"))
        .orderBy(col("g_type"), col("g_band"),
          col("event_type").asc_nulls_first, col("late_month").asc_nulls_first)
    },

    // Semi/anti joins (EXISTS / NOT EXISTS) — implicit in the reference's
    // upsert (SURVEY.md §2.3 note), explicit here.
    QueryDef("q31_semi_anti",
      """WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |     users AS (SELECT DISTINCT user_id FROM events)
        |SELECT c.user_id, c.kind FROM (
        |  SELECT u.user_id, 'has_purchase' AS kind FROM users u
        |   WHERE EXISTS (SELECT 1 FROM buyers b WHERE b.user_id = u.user_id)
        |  UNION ALL
        |  SELECT u.user_id, 'no_purchase' AS kind FROM users u
        |   WHERE NOT EXISTS (SELECT 1 FROM buyers b WHERE b.user_id = u.user_id)
        |) c ORDER BY c.user_id, c.kind""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val users = e.select(col("user_id")).distinct()
      val semi = users.join(buyers, Seq("user_id"), "left_semi")
        .withColumn("kind", lit("has_purchase"))
      val anti = users.join(buyers, Seq("user_id"), "left_anti")
        .withColumn("kind", lit("no_purchase"))
      semi.unionByName(anti).orderBy(col("user_id"), col("kind"))
    },

    // Exact interpolating quantiles (percentile ≙ quantile_cont).
    QueryDef("q32_quantiles",
      """SELECT event_type,
        |       round(1e-9 + quantile_cont(value, 0.25), 4) AS p25,
        |       round(1e-9 + quantile_cont(value, 0.5), 4) AS p50,
        |       round(1e-9 + quantile_cont(value, 0.75), 4) AS p75,
        |       round(1e-9 + quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          Num.roundOut(percentile(col("value"), lit(0.25)), 4).as("p25"),
          Num.roundOut(percentile(col("value"), lit(0.5)), 4).as("p50"),
          Num.roundOut(percentile(col("value"), lit(0.75)), 4).as("p75"),
          Num.roundOut(percentile(col("value"), lit(0.95)), 4).as("p95"))
        .orderBy(col("event_type"))
    },

    // Datetime battery: extraction + arithmetic (conventions that agree
    // across engines: year/month/day/hour, day diff vs a fixed date).
    QueryDef("q33_datetime",
      """SELECT event_id,
        |       year(ts) AS y, month(ts) AS mo, day(ts) AS dd, hour(ts) AS hh,
        |       datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since,
        |       CAST(CAST(ts AS DATE) + INTERVAL 7 DAY AS DATE) AS week_later
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
          year(col("ts")).as("y"), month(col("ts")).as("mo"),
          dayofmonth(col("ts")).as("dd"), hour(col("ts")).as("hh"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("days_since"),
          date_add(to_date(col("ts")), 7).as("week_later"))
        .orderBy(col("event_id"))
    },

    // String-function battery (case, trim/pad, replace, regex, edit
    // distance — levenshtein agrees across engines).
    QueryDef("q35_string_battery",
      """SELECT doc_id,
        |       upper(source) AS src_upper,
        |       lpad(lang, 5, '_') AS lang_pad,
        |       replace(substring(text, 1, 20), ' ', '-') AS head_dashed,
        |       regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |       length(trim(substring(text, 1, 30))) AS head_len,
        |       levenshtein(lang, 'en') AS lang_dist,
        |       split_part(source, 'rc', 2) AS src_num
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          upper(col("source")).as("src_upper"),
          lpad(col("lang"), 5, "_").as("lang_pad"),
          regexp_replace(substring(col("text"), 1, 20), " ", "-").as("head_dashed"),
          regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
          length(trim(substring(col("text"), 1, 30))).as("head_len"),
          levenshtein(col("lang"), lit("en")).as("lang_dist"),
          // split_part semantics under ANSI: a source without 'rc' must
          // degrade to '' (DuckDB) not throw INVALID_ARRAY_INDEX; `get` is
          // the non-throwing 0-based accessor.
          when(col("source").isNull, lit(null).cast("string"))
            .otherwise(coalesce(get(split(col("source"), "rc"), lit(1)), lit("")))
            .as("src_num"))
        .orderBy(col("doc_id"))
    },

    // Null-handling battery: NULLIF/COALESCE/NVL2-style logic,
    // greatest/least, null-safe equality.
    QueryDef("q36_null_battery",
      """SELECT event_id,
        |       nullif(event_type, 'error') AS type_or_null,
        |       coalesce(nullif(event_type, 'error'), 'scrubbed') AS type_scrubbed,
        |       CASE WHEN nullif(event_type, 'error') IS NULL THEN 0 ELSE 1 END AS has_type,
        |       greatest(value, 100.0) AS at_least_100,
        |       least(value, 100.0) AS at_most_100,
        |       CAST(nullif(event_type, 'error') IS NOT DISTINCT FROM event_type AS INT)
        |         AS null_safe_eq
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val scrub = nullif(col("event_type"), lit("error"))
      Tables.events(s, d).select(col("event_id"),
          scrub.as("type_or_null"),
          coalesce(scrub, lit("scrubbed")).as("type_scrubbed"),
          when(scrub.isNull, 0).otherwise(1).as("has_type"),
          greatest(col("value"), lit(100.0)).as("at_least_100"),
          least(col("value"), lit(100.0)).as("at_most_100"),
          (scrub <=> col("event_type")).cast("int").as("null_safe_eq"))
        .orderBy(col("event_id"))
    },

    // Batch sessionization via gaps-and-islands (lag + cumulative sum) —
    // the declarative twin of streaming/Streams.sessionize (cross-checked
    // in ExtensionSpec). One shuffle by user; windows pipeline after it.
    QueryDef("q34_sessions_batch",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id,
        |       CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM marked GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapMicros = 30L * 60L * 1000000L
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }
  )
}
