package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}

/** Physical-design operators beyond the matview/fact table (SURVEY.md §4):
  * partitioned layout with partition pruning, and bucketed layout with a
  * shuffle-free co-located join. These are the two cluster-scale layout
  * levers the reference approximates with B-tree/GIST indexes — at 100 TB
  * they ARE the index: pruning skips whole directories, bucketing removes
  * the join exchange entirely.
  *
  * Both layouts are built idempotently per source content fingerprint
  * (same invalidation contract as [[Matview.factPath]]).
  */
object PhysicalDesign {

  /** 8+8-bit Morton (Z-order) interleave — the multi-dimensional
    * clustering key Delta/Iceberg expose as Z-ORDER. Pure bit arithmetic
    * (16 shift/mask/or terms, whole-stage codegen'd); [[zSql]] renders the
    * IDENTICAL expression for the DuckDB oracle so the two can't drift.
    * Inputs must already be bucketed to [0, 255]. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  def zSql(a: String, b: String): String =
    (0 until 8).map(i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) | ((($b >> $i) & 1) << ${2 * i})")
      .mkString("(", " | ", ")")

  /** Z-clustered copy of events keyed on (day-of-month, value bucket) —
    * range partitions follow the Z curve, so every file bounds BOTH
    * dimensions (a day-sorted layout bounds only the day: any value-range
    * predicate touches every file). Built once per source content. */
  def zorderEventsPath(s: SparkSession, dir: String): String = {
    val out = Artifacts.eventsZorder.path(dir)
    graft.Publish.once(out) { t =>
      zKeyed(Tables.events(s, dir))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(t)
    }
    out
  }

  /** The (a, b, z) projection shared by the layout build and the spec. */
  def zKeyed(events: DataFrame): DataFrame = {
    val a = dayofmonth(col("ts")).cast("long")
    val b = greatest(least(floor(col("value") / 2), lit(255L)), lit(0L))
      .cast("long")
    events.filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        a.as("za"), b.as("zb"))
      .withColumn("z", zValue(col("za"), col("zb")))
  }

  /** Day-partitioned copy of events; built once per source content. */
  def partitionedEventsPath(s: SparkSession, dir: String): String = {
    val out = Artifacts.eventsByday.path(dir)
    graft.Publish.once(out) { t =>
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(t)
    }
    out
  }

  /** The pruned-read plan (shared by the query and PhysicalDesignSpec,
    * which asserts the partition filters actually prune the scan). */
  def prunedDaily(s: SparkSession, dir: String): DataFrame =
    graft.Publish.read(s, partitionedEventsPath(s, dir))
      .filter(col("day").between(lit("2024-01-10").cast("date"),
        lit("2024-01-19").cast("date")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Num.roundOut(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_type"))

  /** Build one bucketed table's FILES atomically (bucketBy requires
    * saveAsTable, so the write goes through a per-run scaffold table name
    * pointing into the publish temp dir — dropped immediately, external so
    * the files stay), then register the catalog entry over the published
    * location via DDL. Two JVMs racing on one content key each publish-or-
    * lose on the files and register in their own catalogs; a fresh JVM
    * over a warm warehouse skips the build entirely and just registers.
    * Table names and paths are content-keyed so a session that ever serves
    * two sf dirs (specs use sf0.001 while Verify/Bench use their own)
    * never crosses data. */
  private def bucketedBuild(s: SparkSession, table: String, out: String,
      ddlCols: String)(df: => DataFrame): Unit = {
    graft.Publish.once(out) { t =>
      // per-CALL nonce (the publish temp dir's UUID fragment), not the
      // per-JVM runToken: two threads first-touching the bucketed tier in
      // one JVM must not race on a shared scaffold catalog name (ADVICE
      // r12 — concurrent saveAsTable overwrite + DROP on one name)
      val bld = s"${table}_bld_${t.substring(t.lastIndexOf('-') + 1)}"
      df.write.bucketBy(8, "user_id").sortBy("user_id")
        .option("path", t).mode("overwrite").saveAsTable(bld)
      s.sql(s"DROP TABLE IF EXISTS $bld") // external: data stays put
    }
    s.sql(s"""CREATE TABLE IF NOT EXISTS $table ($ddlCols) USING parquet
      CLUSTERED BY (user_id) SORTED BY (user_id) INTO 8 BUCKETS
      LOCATION '$out'""")
  }

  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    // both families are keyed on events.parquet: one key names the pair
    val (stats, purch) = (Artifacts.bucketedStats, Artifacts.bucketedPurch)
    val key = stats.key(dir)
    val (t1, t2) = (stats.dirName(key), purch.dirName(key))
    // check BOTH tables: a failure between the two builds (swallowed by
    // Bench's warmup) must not leave a half-built pair latched for the
    // rest of the session
    if (!s.catalog.tableExists(t1) || !s.catalog.tableExists(t2)) {
      bucketedBuild(s, t1, stats.pathOf(key),
        "user_id BIGINT, n_events BIGINT, sum_value DOUBLE") {
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Num.roundOut(sum(col("value")), 4).as("sum_value"))
      }
      bucketedBuild(s, t2, purch.pathOf(key),
        "user_id BIGINT, n_purchases BIGINT") {
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"))
      }
    }
    (t1, t2)
  }

  /** The co-located join plan (shared by the query and PhysicalDesignSpec,
    * which asserts the join has NO shuffle exchange). The merge hint keeps
    * the plan a sort-merge join even when one side is broadcast-small at
    * test SF — at production scale neither side broadcasts, and bucketing
    * is exactly what removes both exchanges. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = bucketedTables(s, dir)
    s.table(t1).hint("merge")
      .join(s.table(t2).hint("merge"), Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("sum_value"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("user_id"))
  }

  /** Scaled-down stand-in for the production 128 MiB–1 GiB compaction
    * target; the sizing math is the same at any scale. */
  val TargetFileBytes: Long = 1L << 20

  /** A deliberately fragmented copy of events — 64 tiny files, the layout
    * a micro-batch ingest leaves behind. Built once per source content. */
  def fragmentedEventsPath(s: SparkSession, dir: String): String = {
    val out = Artifacts.eventsFrag.path(dir)
    graft.Publish.once(out) { t =>
      Tables.events(s, dir).repartition(64)
        .write.mode("overwrite").parquet(t)
    }
    out
  }

  def parquetFileCount(dir: String): Long = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  private def dirBytes(dir: String): Long = {
    val d = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.list(d)
    try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  /** Compacted rewrite of the fragmented layout: output file count sized
    * from observed bytes / [[TargetFileBytes]], written via coalesce (no
    * exchange — partitions merge in place, rows never re-shuffle). File
    * sizing reads only directory METADATA on the driver — at cluster scale
    * that listing comes from the table format's manifest, not the
    * filesystem, but the sizing math is identical. */
  def compactedEventsPath(s: SparkSession, dir: String): String = {
    val frag = fragmentedEventsPath(s, dir)
    val out = Artifacts.eventsCompact.path(dir)
    graft.Publish.once(out) { t =>
      val n = math.max(1L,
        (dirBytes(frag) + TargetFileBytes - 1) / TargetFileBytes).toInt
      // Read with per-file partitions (splits already coalesce small files
      // up to maxPartitionBytes; coalesce(n) then merges down to the
      // target count without an exchange).
      graft.Publish.read(s, frag).coalesce(n)
        .write.mode("overwrite").parquet(t)
    }
    out
  }

  val entries: Seq[QueryDef] = Seq(

    // Partition-pruned scan: only the 10 matching day= directories are
    // read (the at-scale analog of the reference's date-range B-tree).
    QueryDef("w01_partition_prune",
      """SELECT event_type, count(*) AS n,
        |       round(1e-9 + sum(value), 4) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)(prunedDaily),

    // Bucketed co-located join: both sides pre-hashed into 8 user_id
    // buckets at write time → the join runs with zero exchanges.
    QueryDef("w02_bucketed_join",
      """WITH t1 AS (
        |  SELECT user_id, count(*) AS n_events,
        |         round(1e-9 + sum(value), 4) AS sum_value
        |  FROM events GROUP BY user_id
        |), t2 AS (
        |  SELECT user_id, count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |)
        |SELECT t1.user_id, t1.n_events, t1.sum_value,
        |       coalesce(t2.n_purchases, 0) AS n_purchases
        |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        |ORDER BY t1.user_id""".stripMargin)(bucketedJoin),

    // Z-order clustering profile, served FROM the z-clustered layout (so
    // the layout's contents are on the oracle path): per-Z-tile row counts
    // and per-dimension bounding boxes. PhysicalDesignSpec asserts the
    // layout property itself — every file bounds both dimensions, unlike a
    // single-column sort.
    // OPTIMIZE-style small-file compaction (the maintenance op every
    // streaming/incremental ingest needs: micro-batches leave thousands of
    // KB-scale files; scans then pay per-file open + footer costs and the
    // driver pays per-file listing). The compactor sizes the output from
    // observed bytes and TARGET_FILE_BYTES, then rewrites via coalesce() —
    // a partition MERGE with no exchange (Delta's OPTIMIZE bin-packs whole
    // files the same way; rows never re-shuffle). Serving the oracle-checked
    // aggregate FROM the compacted copy proves the rewrite is lossless.
    // PhysicalDesignSpec asserts the file-count collapse itself.
    QueryDef("w06_compact",
      """SELECT event_type, count(*) AS n,
        |       round(1e-9 + sum(value), 4) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      graft.Publish.read(s, compactedEventsPath(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Num.roundOut(sum(col("value")), 4).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },

    QueryDef("w05_zorder_layout",
      s"""WITH k AS (
        |  SELECT CAST(date_part('day', ts) AS BIGINT) AS za,
        |         CAST(greatest(least(floor(value / 2), 255), 0) AS BIGINT) AS zb
        |  FROM events WHERE value IS NOT NULL
        |), z AS (
        |  SELECT za, zb, ${zSql("za", "zb")} AS z FROM k
        |)
        |SELECT z >> 10 AS z_tile, count(*) AS n,
        |       min(za) AS min_day, max(za) AS max_day,
        |       min(zb) AS min_vb, max(zb) AS max_vb
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.Publish.read(s, zorderEventsPath(s, d))
        .groupBy(shiftright(col("z"), 10).as("z_tile"))
        .agg(count(lit(1)).as("n"),
          min(col("za")).as("min_day"), max(col("za")).as("max_day"),
          min(col("zb")).as("min_vb"), max(col("zb")).as("max_vb"))
        .orderBy(col("z_tile"))
    },

    // CBO STATISTICS COLLECTION — `ANALYZE TABLE … COMPUTE STATISTICS
    // FOR COLUMNS` over the bucketed per-user table, with the catalog's
    // recorded column stats (rowCount, min, max, nullCount — the EXACT
    // ones; ndv is HLL-approximate and excluded) emitted as the query
    // result and hash-checked against DuckDB recomputing the same
    // statistics from the data. This is the statistics layer the
    // cost-based optimizer reorders joins and sizes broadcasts from —
    // at 100 TB ANALYZE is part of the ingest contract (stale stats =
    // wrong join order), and this query is the audit that the recorded
    // numbers match the data. StatsSpec additionally pins that the
    // optimizer's plan stats surface the analyzed rowCount.
    //
    // Scale: ANALYZE itself is one partial-agg pass per column batch
    // (min/max/count combine map-side); reading the stats back is
    // catalog metadata, not a data scan — the output is built from the
    // table's catalog entry.
    QueryDef("w11_stats_collect",
      """WITH t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY user_id
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rc FROM t
        |)
        |SELECT 'n_events' AS col_name, s.rc AS row_count,
        |       CAST(min(t.n_events) AS BIGINT) AS min_val,
        |       CAST(max(t.n_events) AS BIGINT) AS max_val,
        |       CAST(0 AS BIGINT) AS null_count
        |FROM t, s GROUP BY s.rc
        |UNION ALL
        |SELECT 'user_id', s.rc,
        |       CAST(min(t.user_id) AS BIGINT),
        |       CAST(max(t.user_id) AS BIGINT), CAST(0 AS BIGINT)
        |FROM t, s GROUP BY s.rc
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val (t1, _) = bucketedTables(s, d)
      s.sql(s"ANALYZE TABLE $t1 COMPUTE STATISTICS FOR COLUMNS user_id, n_events")
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t1))
      val stats = meta.stats.getOrElse(
        sys.error(s"ANALYZE left no stats on $t1"))
      val rc = stats.rowCount
        .getOrElse(sys.error("no rowCount recorded")).toLong
      val rows = Seq("n_events", "user_id").map { c =>
        val cs = stats.colStats.getOrElse(c,
          sys.error(s"no column stats recorded for $c"))
        (c, rc, cs.min.getOrElse(sys.error("no min")).toLong,
          cs.max.getOrElse(sys.error("no max")).toLong,
          cs.nullCount.getOrElse(sys.error("no nullCount")).toLong)
      }
      import s.implicits._
      rows.toDF("col_name", "row_count", "min_val", "max_val", "null_count")
        .orderBy(col("col_name"))
    },

    // RENDEZVOUS (HIGHEST-RANDOM-WEIGHT) SHARD REBALANCE AUDIT — the
    // planning table for growing a sharded 100 TB store from N=8 to N=9
    // shards (Thaler & Ravishankar 1998, the scheme behind Ceph CRUSH /
    // consistent routing). Each doc's shard is argmax over shards of a
    // per-(key, shard) hash — the seed-7 polynomial fold of the cross-
    // engine sketch family with the shard id as the per-row multiplier
    // (functions/Sketches.scala), so the DuckDB oracle replays every
    // weight exactly. The audit contrasts HRW with naive `id mod N`:
    // HRW's minimal-disruption property means the ONLY docs that move
    // are those the new shard now wins (expected n/9, all into shard 8
    // — spec-pinned), while mod-N rehash moves ~8/9 of the corpus.
    //
    // Scale: assignment is pure map-side — the 9 candidate weights are a
    // per-row higher-order `transform` + `array_max` (no shard-table
    // join, no explode, no shuffle); the audit explodes 6 (role, shard)
    // tags per doc into ONE hash aggregate whose map-side partials are
    // ≤54 rows per task. Nothing leaves an executor except the 9-row
    // histogram — exactly the cost profile a rebalance dry-run must
    // have when the doc spine is 10^11 rows.
    QueryDef("x104_rendezvous_shards",
      s"""WITH sh AS (
        |  SELECT CAST(unnest(range(9)) AS BIGINT) AS shard
        |), w AS (
        |  SELECT d.doc_id, sh.shard,
        |         ${graft.functions.Sketches.foldHashSql(
               "lpad(CAST(d.doc_id AS VARCHAR), 12, '0')", "sh.shard")} AS w
        |  FROM documents d CROSS JOIN sh
        |), r9 AS (
        |  SELECT doc_id, shard, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY w DESC, shard DESC) AS r
        |  FROM w
        |), r8 AS (
        |  SELECT doc_id, shard, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY w DESC, shard DESC) AS r
        |  FROM w WHERE shard < 8
        |), per AS (
        |  SELECT d.doc_id, e.shard AS s8, n.shard AS s9,
        |         d.doc_id % 8 AS m8, d.doc_id % 9 AS m9
        |  FROM documents d
        |  JOIN (SELECT doc_id, shard FROM r8 WHERE r = 1) e USING (doc_id)
        |  JOIN (SELECT doc_id, shard FROM r9 WHERE r = 1) n USING (doc_id)
        |), roles AS (
        |  SELECT 'n8_hrw' AS role, s8 AS shard FROM per
        |  UNION ALL SELECT 'n9_hrw', s9 FROM per
        |  UNION ALL SELECT 'moved_in_hrw', s9 FROM per WHERE s8 <> s9
        |  UNION ALL SELECT 'n8_mod', m8 FROM per
        |  UNION ALL SELECT 'n9_mod', m9 FROM per
        |  UNION ALL SELECT 'moved_in_mod', m9 FROM per WHERE m8 <> m9
        |)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) FILTER (WHERE role = 'n8_hrw') AS BIGINT) AS n8_hrw,
        |  CAST(count(*) FILTER (WHERE role = 'n9_hrw') AS BIGINT) AS n9_hrw,
        |  CAST(count(*) FILTER (WHERE role = 'moved_in_hrw') AS BIGINT)
        |    AS moved_in_hrw,
        |  CAST(count(*) FILTER (WHERE role = 'n8_mod') AS BIGINT) AS n8_mod,
        |  CAST(count(*) FILTER (WHERE role = 'n9_mod') AS BIGINT) AS n9_mod,
        |  CAST(count(*) FILTER (WHERE role = 'moved_in_mod') AS BIGINT)
        |    AS moved_in_mod
        |FROM roles GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      // The key is LEFT-PADDED to 12 chars so the polynomial fold WRAPS
      // the 1e9+7 modulus (39^12 ≫ p): an unwrapped fold of a short
      // decimal id is monotone in the shard multiplier, which silently
      // degenerates HRW into "largest shard always wins" — caught by the
      // all-docs-moved spec pin before this pad existed.
      val key = lpad(col("doc_id").cast("string"), 12, "0")
      // weight(key, shard): the Sketches.foldHash fold with the shard id
      // as the row multiplier, evaluated for all 9 shards inside one
      // per-row lambda (shard is the OUTER lambda variable of the nested
      // fold — no join against a shard table).
      def weight(shard: org.apache.spark.sql.Column) =
        aggregate(sequence(lit(1), length(key)), lit(7L),
          (acc, j) => (acc * (lit(31L) + shard)
            + ascii(key.substr(j.cast("int"), lit(1))).cast("long"))
            % 1000000007L)
      val ws = transform(sequence(lit(0), lit(8)), sh =>
        struct(weight(sh).as("w"), sh.cast("long").as("shard")))
      // array_max on struct(w, shard) = max weight, ties to the larger
      // shard id — mirrored by the oracle's ORDER BY w DESC, shard DESC.
      val per = Tables.documents(s, d).select(
        col("doc_id"),
        array_max(filter(ws, x => x.getField("shard") < 8))
          .getField("shard").as("s8"),
        array_max(ws).getField("shard").as("s9"),
        pmod(col("doc_id"), lit(8L)).as("m8"),
        pmod(col("doc_id"), lit(9L)).as("m9"))
      per.select(explode(array(
          struct(lit("n8_hrw").as("role"), col("s8").as("shard")),
          struct(lit("n9_hrw").as("role"), col("s9").as("shard")),
          struct(lit("moved_in_hrw").as("role"),
            when(col("s8") =!= col("s9"), col("s9")).as("shard")),
          struct(lit("n8_mod").as("role"), col("m8").as("shard")),
          struct(lit("n9_mod").as("role"), col("m9").as("shard")),
          struct(lit("moved_in_mod").as("role"),
            when(col("m8") =!= col("m9"), col("m9")).as("shard")))).as("r"))
        .select(col("r.role").as("role"), col("r.shard").as("shard"))
        .filter(col("shard").isNotNull)
        .groupBy(col("shard"))
        .pivot("role", Seq("n8_hrw", "n9_hrw", "moved_in_hrw",
          "n8_mod", "n9_mod", "moved_in_mod"))
        .count()
        .na.fill(0L)
        .orderBy(col("shard"))
    },

    // TIME-TRAVEL READS via VERSION MANIFESTS — the lakehouse snapshot
    // contract (Delta/Iceberg's core idea) on plain parquet: a version
    // is a MANIFEST (list of immutable file directories), an append
    // writes NEW files plus a new manifest, and readers resolve a
    // version's manifest to a union scan — v1's files are never touched,
    // so read@v1 after the v2 append returns byte-identical results
    // (Round8Spec pins exactly that, plus base-directory immutability).
    // Here: v1 = the event table without the late slice (event_id%10=7,
    // the x101/x129 Δ convention), v2 = v1's directories + the appended
    // slice. The report reads BOTH versions through the manifest reader
    // and reconciles them per event type — the audit a pipeline runs
    // after every snapshot commit.
    //
    // Scale: commits write only Δ files + a manifest (no table rewrite,
    // no read-modify-write); version resolution is a driver-side
    // manifest read (tiny), and the union scan parallelizes per file
    // like any multi-directory parquet read. Retention/vacuum = delete
    // directories no live manifest references.
    QueryDef("w12_time_travel",
      """SELECT event_type,
        |       CAST(sum(CASE WHEN event_id % 10 <> 7 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_v1,
        |       count(*) AS n_v2,
        |       CAST(sum(CASE WHEN event_id % 10 = 7 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_added
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val (v1, v2) = PhysicalDesign.timeTravelVersions(s, d)
      val a1 = PhysicalDesign.readVersion(s, v1)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_v1"))
      val a2 = PhysicalDesign.readVersion(s, v2)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_v2"))
      a1.join(a2, "event_type")
        .select(col("event_type"), col("n_v1"), col("n_v2"),
          (col("n_v2") - col("n_v1")).as("n_added"))
        .orderBy(col("event_type"))
    },

    // BROADCAST-THRESHOLD ADVISOR — SCALING.md's broadcast-vs-shuffle
    // cost model operationalized as a query: for every base table, the
    // estimated in-memory build size (rows · (16B object overhead +
    // 8B per fixed-width column) + exact string byte mass) against the
    // 10 MiB autoBroadcastJoinThreshold, emitting the join-side verdict
    // the repo's plans hard-code today and a CBO would derive from
    // w11's stats at runtime. The estimate is deliberately the SIMPLE
    // planner formula, not a serialized-size probe — the point is that
    // the verdict is SCALE-DEPENDENT: at sf0.001 every table
    // broadcasts; at sf0.1 the fact-side tables (lineitem, orders,
    // events, documents) cross the threshold and the oracle-checked
    // verdict column flips with them. All integer: counts, fixed
    // widths, octet_length sums, one integer division per row.
    //
    // Scale: one column-pruned scan per table (string columns only;
    // count+sum combine map-side); the report is 9 rows at any SF.
    QueryDef("w13_broadcast_advisor",
      """WITH est AS (
        |  SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(*) * (16 + 8 * 1)
        |              + COALESCE(sum(octet_length(encode(r_name))), 0) AS BIGINT)
        |           AS est_bytes
        |  FROM region
        |  UNION ALL
        |  SELECT 'nation', count(*),
        |         CAST(count(*) * (16 + 8 * 2)
        |              + COALESCE(sum(octet_length(encode(n_name))), 0) AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'customer', count(*),
        |         CAST(count(*) * (16 + 8 * 3)
        |              + COALESCE(sum(octet_length(encode(c_name))
        |                             + octet_length(encode(c_mktsegment))), 0)
        |              AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supplier', count(*),
        |         CAST(count(*) * (16 + 8 * 3)
        |              + COALESCE(sum(octet_length(encode(s_name))), 0) AS BIGINT)
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'part', count(*),
        |         CAST(count(*) * (16 + 8 * 3)
        |              + COALESCE(sum(octet_length(encode(p_name))
        |                  + octet_length(encode(p_brand))
        |                  + octet_length(encode(p_type))), 0) AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT 'orders', count(*),
        |         CAST(count(*) * (16 + 8 * 4)
        |              + COALESCE(sum(octet_length(encode(o_orderstatus))
        |                  + octet_length(encode(o_orderpriority))), 0) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', count(*),
        |         CAST(count(*) * (16 + 8 * 9)
        |              + COALESCE(sum(octet_length(encode(l_returnflag))
        |                  + octet_length(encode(l_linestatus))), 0) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events', count(*),
        |         CAST(count(*) * (16 + 8 * 4)
        |              + COALESCE(sum(octet_length(encode(event_type))
        |                  + octet_length(encode(props))), 0) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents', count(*),
        |         CAST(count(*) * (16 + 8 * 2)
        |              + COALESCE(sum(octet_length(encode(text))
        |                  + octet_length(encode(lang))
        |                  + octet_length(encode(source))), 0) AS BIGINT)
        |  FROM documents
        |)
        |SELECT tbl, n_rows, est_bytes,
        |       CAST(est_bytes // n_rows AS BIGINT) AS bytes_per_row,
        |       CASE WHEN est_bytes < 10485760 THEN 'broadcast'
        |            ELSE 'shuffle' END AS join_side
        |FROM est ORDER BY tbl""".stripMargin) { (s, d) =>
      def est(df: DataFrame, name: String, fixedCols: Int,
          strCols: Seq[String]): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) * (16 + 8 * fixedCols)
            + coalesce(sum(strCols.map(c => octet_length(col(c)))
              .reduce(_ + _)), lit(0L))).as("est_bytes"))
          .select(lit(name).as("tbl"), col("n_rows"), col("est_bytes"))
      est(Tables.region(s, d), "region", 1, Seq("r_name"))
        .unionByName(est(Tables.nation(s, d), "nation", 2, Seq("n_name")))
        .unionByName(est(Tables.customer(s, d), "customer", 3,
          Seq("c_name", "c_mktsegment")))
        .unionByName(est(Tables.supplier(s, d), "supplier", 3,
          Seq("s_name")))
        .unionByName(est(Tables.part(s, d), "part", 3,
          Seq("p_name", "p_brand", "p_type")))
        .unionByName(est(Tables.orders(s, d), "orders", 4,
          Seq("o_orderstatus", "o_orderpriority")))
        .unionByName(est(Tables.lineitem(s, d), "lineitem", 9,
          Seq("l_returnflag", "l_linestatus")))
        .unionByName(est(Tables.events(s, d), "events", 4,
          Seq("event_type", "props")))
        .unionByName(est(Tables.documents(s, d), "documents", 2,
          Seq("text", "lang", "source")))
        .select(col("tbl"), col("n_rows"), col("est_bytes"),
          expr("est_bytes div n_rows").as("bytes_per_row"),
          when(col("est_bytes") < 10485760L, "broadcast")
            .otherwise("shuffle").as("join_side"))
        .orderBy(col("tbl"))
    }
  )

  /** Build (idempotently, content-keyed) the two-version snapshot store:
    * `base/` holds v1's files, `delta1/` the appended slice; `v1.manifest`
    * and `v2.manifest` list the directories each version reads. Returns
    * the two manifest paths. Append-only: v2 re-lists base/ unchanged. */
  private[graft] def timeTravelVersions(s: SparkSession, d: String): (String, String) = {
    val root = Artifacts.timeTravel.path(d)
    // Manifests list data dirs RELATIVE to themselves (like every real
    // table-format manifest) — required for the atomic temp-dir build,
    // whose final location differs from where the files were written.
    graft.Publish.once(root, marker = "_GRAFT_DONE", stampMarker = true) { t =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") % 10 =!= 7)
        .write.mode("overwrite").parquet(s"$t/base")
      ev.filter(col("event_id") % 10 === 7)
        .write.mode("overwrite").parquet(s"$t/delta1")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(t, "v1.manifest"), "base\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(t, "v2.manifest"), "base\ndelta1\n")
    }
    (s"$root/v1.manifest", s"$root/v2.manifest")
  }

  /** Resolve a manifest to its union scan — the time-travel reader.
    * Entries are manifest-relative. */
  private[graft] def readVersion(s: SparkSession, manifest: String): DataFrame = {
    val mp = java.nio.file.Paths.get(manifest)
    val dirs = java.nio.file.Files.readAllLines(mp)
      .toArray(Array.empty[String]).filter(_.nonEmpty)
      .map(rel => mp.getParent.resolve(rel).toString)
    s.read.parquet(dirs.toIndexedSeq: _*)
  }
}
