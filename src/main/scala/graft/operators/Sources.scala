package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Geo
import graft.{Artifacts, QueryDef, Tables}

/** Source-shape operators: the reference's REST/GeoJSON ingestion path
  * (SURVEY.md §2.1 S2/S3 + F1: FeatureCollection unwrap → explode features
  * → hoist `properties.*` → geometry → WKT; etl.py:62-159) re-expressed as
  * a deterministic JSON→relational pipeline.
  *
  * A per-region FeatureCollection payload is synthesized from `nation`
  * identically in both engines (string concat + lexically-sorted
  * aggregation), then parsed with from_json and EXPLODED — the exact shape
  * `spark.read.json` yields on a fetched FeatureCollection, so the unwrap
  * logic is the real thing. Scale: JSON parsing is per-row codegen'd
  * (`JsonToStructs`); the explode is pipelined, no shuffle.
  */
object Sources {

  private val fcSchema = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("properties", StructType(Seq(
        StructField("name", StringType),
        StructField("key", LongType)))),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", ArrayType(DoubleType)))))))))))

  val entries: Seq[QueryDef] = Seq(

    QueryDef("q26_geojson_unwrap",
      """WITH feature AS (
        |  SELECT n_regionkey,
        |         '{"type":"Feature","properties":{"name":"' || n_name ||
        |         '","key":' || n_nationkey ||
        |         '},"geometry":{"type":"Point","coordinates":[' ||
        |         n_nationkey || '.0,' || n_regionkey || '.0]}}' AS fj
        |  FROM nation
        |), fc AS (
        |  SELECT n_regionkey,
        |         '{"type":"FeatureCollection","features":[' ||
        |         string_agg(fj, ',' ORDER BY fj) || ']}' AS payload
        |  FROM feature GROUP BY n_regionkey
        |), exploded AS (
        |  SELECT unnest(CAST(json_extract(payload, '$.features[*]') AS JSON[])) AS f
        |  FROM fc
        |)
        |SELECT json_extract_string(f, '$.properties.name') AS name,
        |       CAST(json_extract_string(f, '$.properties.key') AS BIGINT) AS key,
        |       concat('POINT(',
        |         CAST(CAST(json_extract(f, '$.geometry.coordinates[0]') AS DOUBLE) AS VARCHAR),
        |         ' ',
        |         CAST(CAST(json_extract(f, '$.geometry.coordinates[1]') AS DOUBLE) AS VARCHAR),
        |         ')') AS wkt
        |FROM exploded ORDER BY key""".stripMargin) { (s, d) =>
      // synthesize the same per-region FeatureCollection a REST GeoJSON
      // endpoint would deliver (lexically-sorted feature order, both engines)
      val feature = Tables.nation(s, d).select(col("n_regionkey"), concat(
        lit("""{"type":"Feature","properties":{"name":""""), col("n_name"),
        lit("""","key":"""), col("n_nationkey").cast("string"),
        lit("""},"geometry":{"type":"Point","coordinates":["""),
        col("n_nationkey").cast("string"), lit(".0,"),
        col("n_regionkey").cast("string"),
        lit(".0]}}")).as("fj"))
      val payload = feature.groupBy(col("n_regionkey"))
        .agg(concat(lit("""{"type":"FeatureCollection","features":["""),
          concat_ws(",", array_sort(collect_list(col("fj")))),
          lit("]}")).as("payload"))
      // the actual unwrap: parse → explode features → hoist → WKT.
      // The properties struct additionally takes a to_json→from_json
      // roundtrip (F3, reference etl.py:149-155's json.dumps of nested
      // values) — identity on the data, so the oracle is unaffected, but
      // the serialization path is exercised under the hash check.
      val propSchema = fcSchema("features").dataType
        .asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType]("properties").dataType
      payload
        .withColumn("fc", from_json(col("payload"), fcSchema))
        .select(explode(col("fc.features")).as("f"))
        .withColumn("props_json", to_json(col("f.properties")))
        .withColumn("p2", from_json(col("props_json"), propSchema))
        .select(
          col("p2.name").as("name"),
          col("p2.key").as("key"),
          Geo.formatPointWkt(
            element_at(col("f.geometry.coordinates"), 1),
            element_at(col("f.geometry.coordinates"), 2)).as("wkt"))
        .orderBy(col("key"))
    },

    // The SQL front door: the same statement text runs verbatim in Spark
    // SQL (over a temp view) and DuckDB — exercising a CORRELATED SCALAR
    // SUBQUERY, which Catalyst de-correlates into an aggregate + join
    // (one shuffle on the correlation key), never a per-row re-scan.
    // max() is order-independent, so 0.9*max compares exactly across
    // engines (an avg() threshold would diverge by summation order).
    QueryDef("q41_subquery_sql", Sources.subquerySql) { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(Sources.subquerySql)
    },

    // CSV sink + source roundtrip (S1/S6 format breadth): write a typed
    // extract as CSV once per source content, read it back with an
    // EXPLICIT schema (schema inference at 100 TB means a full extra
    // pass), aggregate. Doubles survive textually: Spark writes the
    // shortest representation that round-trips.
    QueryDef("w03_csv_roundtrip",
      """SELECT event_type, count(*) AS n,
        |       round(1e-9 + sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val out = Artifacts.csvSink.path(d)
      graft.Publish.once(out) { t =>
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
          .write.mode("overwrite").option("header", "true").csv(t)
      }
      s.read
        .schema("event_id BIGINT, event_type STRING, user_id BIGINT, value DOUBLE")
        .option("header", "true").csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Num.roundOut(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // JSON-lines sink + source roundtrip (S3: nested values as JSON text).
    QueryDef("w04_jsonl_roundtrip",
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val out = Artifacts.jsonlSink.path(d)
      graft.Publish.once(out) { t =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").json(t)
      }
      s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT").json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },

    // ORC sink + source roundtrip (columnar-format breadth alongside the
    // parquet mainline): write a typed extract as ORC once per source
    // content, read it back, aggregate — the oracle runs on the original
    // parquet, so the check proves the ORC write/read is lossless for
    // longs, strings and doubles. ORC is Spark's other first-class
    // columnar format (predicate pushdown + column pruning work the same
    // way); a lakehouse migration between the two is exactly this query.
    QueryDef("w07_orc_roundtrip",
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       round(1e-9 + sum(n_chars) * 1.0 / count(*), 4) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val out = Artifacts.orcSink.path(d)
      graft.Publish.once(out) { t =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").orc(t)
      }
      s.read.orc(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          graft.functions.Num.roundOut(
            sum(col("n_chars")) * 1.0 / count(lit(1)), 4).as("avg_chars"))
        .orderBy(col("source"))
    },

    // Dynamic partition overwrite (the warehouse "replace one day"
    // backfill): a day-partitioned copy of events is built once, then ONE
    // partition (2024-01-05) is overwritten with a reduced extract
    // (clicks only) using partitionOverwriteMode=dynamic — only
    // partitions present in the incoming data are replaced, every other
    // day's files are untouched. The oracle recomputes the expected
    // post-overwrite state from the source table, so a static-overwrite
    // bug (clobbering all partitions) or a partition-pruning bug would
    // break the hash. At 100 TB this is THE idempotent-backfill
    // primitive: rewriting one day never touches the other ~3650.
    QueryDef("w08_dynamic_overwrite",
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_click
        |FROM events
        |WHERE CAST(ts AS DATE) <> DATE '2024-01-05' OR event_type = 'click'
        |GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin) { (s, d) =>
      val out = Artifacts.dynamicOverwrite.path(d)
      graft.Publish.once(out, marker = "_GRAFT_DONE", stampMarker = true) { t =>
        val ev = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("event_id"),
            col("event_type"))
        ev.write.mode("overwrite").partitionBy("day").parquet(t)
        // the backfill: replace exactly the 2024-01-05 partition
        ev.filter(col("day") === lit("2024-01-05").cast("date") &&
            col("event_type") === "click")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(t)
      }
      s.read.parquet(out)
        .groupBy(col("day").cast("date").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "click", 1).otherwise(0))
            .cast("long").as("n_click"))
        .orderBy(col("day"))
    },

    // Schema-evolution read (mergeSchema): two batches of the same
    // logical table written with DIFFERENT schemas — the later batch
    // adds a `source` column — read back as one frame, the missing
    // column null-filled for the old batch. This is the lakehouse
    // reality of any long-lived table; the oracle recomputes the merged
    // view from the source, so a dropped column or misaligned fill
    // breaks the hash. mergeSchema is opt-in per read because at 100 TB
    // footer-merging across millions of files is a real planning cost —
    // production tables pin the evolved schema in a catalog instead.
    QueryDef("w09_schema_evolution",
      """SELECT lang,
        |       coalesce(CASE WHEN doc_id >= 250 THEN source END, 'unknown')
        |         AS src,
        |       count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val out = Artifacts.schemaEvolution.path(d)
      graft.Publish.once(out, marker = "_GRAFT_DONE", stampMarker = true) { t =>
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$t/batch=v1")
        docs.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
          .write.mode("overwrite").parquet(s"$t/batch=v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$out/batch=v1", s"$out/batch=v2")
        .groupBy(col("lang"), coalesce(col("source"), lit("unknown")).as("src"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"), col("src"))
    },

    // Targeted delete (the GDPR right-to-be-forgotten rewrite): given a
    // deletion-request KEY SET, rewrite the table as an ANTI JOIN against
    // it and verify zero residual rows for the deleted keys. Immutable
    // storage has no DELETE — compliance deletion IS this rewrite, and
    // the residual audit column is the proof regulators ask for. The key
    // set stays a broadcast (requests are rare relative to the corpus);
    // the rewrite is one scan + broadcast anti-join, embarrassingly
    // parallel, and only affected files need rewriting when the table is
    // clustered by the key (w05's layout).
    QueryDef("w10_targeted_delete",
      """SELECT event_type, count(*) AS n_kept,
        |       CAST(sum(CASE WHEN user_id % 10 = 3 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_residual
        |FROM events
        |WHERE user_id % 10 <> 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val out = Artifacts.gdprRewrite.path(d)
      graft.Publish.once(out, marker = "_GRAFT_DONE", stampMarker = true) { t =>
        val ev = Tables.events(s, d)
        // the deletion-request set, as an explicit key relation (not a
        // predicate): exactly how erasure requests arrive in production
        val requests = ev.select(col("user_id")).distinct()
          .filter(col("user_id") % 10 === 3)
        ev.join(broadcast(requests), Seq("user_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$t/table")
      }
      s.read.parquet(s"$out/table")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("user_id") % 10 === 3, 1).otherwise(0))
            .cast("long").as("n_residual"))
        .orderBy(col("event_type"))
    }
  )

  /** Shared Spark/DuckDB statement for q41 (dialect-free ANSI). A def, not
    * a val: `entries` above initializes first and would capture null. */
  private def subquerySql: String =
    """SELECT e.event_type, count(*) AS n_near_max
      |FROM events e
      |WHERE e.value >= 0.9 * (SELECT max(i.value) FROM events i
      |                        WHERE i.event_type = e.event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin
}
