package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Num
import graft.{Artifacts, QueryDef, Tables}

/** Structured Streaming surface. The reference itself has NO streaming
  * (SURVEY.md §2.9 — batch pull + incremental upsert), so this module is the
  * capability extension: the same daily aggregation the batch engine runs,
  * executed as a real `readStream → agg → memory sink` query, plus a
  * stateful sessionization operator (`mapGroupsWithState`) exercised by
  * ExtensionSpec.
  *
  * Scale: file-source streaming partitions work by file; the windowed
  * aggregate is the same partial+final hash aggregate as batch. In
  * production the complete-mode memory sink becomes a parquet/Kafka sink
  * with watermark + append — the plumbing is identical.
  */
object Streams {

  private val sinkId = new AtomicInteger(0)

  /** Run `body` against a CLONED session (shared SparkContext and table
    * cache, ISOLATED SQL conf — `SparkSession.newSession`) carrying the
    * streaming-scoped confs: the events table's nanos-ts flag plus a LOWER
    * shuffle-partition count. Cloning means a batch query running
    * CONCURRENTLY on the parent session can never observe these confs;
    * builder-time options (timezone, AQE) propagate to the clone via the
    * session's initial options.
    *
    * `partitions` sizes the state-store count, which is fixed for the
    * life of a streaming checkpoint; store checkpoint/commit cost is per
    * store, not per row. Invariant: 8 partitions (the per-node sizing)
    * for an operator with one state store per partition, 4 for a
    * stream-stream join, which keeps four stores per partition
    * (left/right × keyToNumValues/keyWithIndexToValue). On a cluster the
    * base is executors × cores, lowered the same way for a multi-store
    * operator. */
  private def withStreamingConfs[T](s: SparkSession, partitions: Int = 8)(
      body: SparkSession => T): T = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // AQE OFF for the streaming clone (r17, guide §1.2/§2): every AQE
    // shuffle stage materializes as its OWN scheduler job, so a
    // micro-batch fold of ~20 actions paid ~60 job round-trips of pure
    // driver latency per batch (measured: st37 63 jobs/batch, ~55 ms
    // fixed cost each). The fold/serve frames here are Δ-/state-sized
    // with their partition count pinned by the per-query `partitions`
    // knob above — the exact decision AQE would re-derive at run time,
    // paid per stage per batch. On a cluster the same reasoning holds
    // (state partitioning is fixed for the checkpoint's life); re-enable
    // per query only if a serve-side join needs runtime skew handling.
    val aqe = "spark.sql.adaptive.enabled"
    val servingAqe = ss.conf.get(aqe)
    ss.conf.set(aqe, "false")
    val out = body(ss)
    // body() has run the stream to convergence (every fold action above
    // executed AQE-off); what escapes is the SERVE plan, which executes
    // lazily after this returns. The serve is one data-sized analytics
    // query, planned like any batch query of the session: the clone gets
    // back the AQE setting it started with (on by default, where it
    // skew-splits/coalesces the banded candidate joins; off when the
    // session was built with it off). State-log writes inside the fold
    // opt back in per action via StateFold.withWriteAqe.
    ss.conf.set(aqe, servingAqe)
    out
  }

  /** The stream source of every staged query: `stage`'s parquet files
    * under the stage's own schema, one file per micro-batch, so a split
    * stage replays one micro-batch per slice, in file order. */
  private[graft] def replay(ss: SparkSession, stage: String): DataFrame =
    ss.readStream.schema(ss.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)

  /** The fold sink: run `fold` on every micro-batch of `stream` until all
    * available input is processed. The query is stopped on every exit, so
    * a failing fold surfaces to the caller and leaves no active query. */
  private[graft] def drain(stream: DataFrame)(fold: DataFrame => Unit): Unit = {
    val q = stream.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) => fold(batch) }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The memory sink: run `stream` to convergence in `mode` and return
    * the sink's rows, a uniquely named table of the stream's session. */
  private[graft] def collect(stream: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"stream_sink_${sinkId.incrementAndGet()}"
    val q = stream.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    stream.sparkSession.table(name)
  }

  /** A query's per-run state directories, one per stem: each is the
    * scratch path `graft_<stem>_<content key of table.parquet>`, emptied,
    * so every state log and keyed store starts its run empty. The
    * content key is computed once per call. */
  private def fresh(d: String, table: String, stems: String*): Seq[String] = {
    val key = graft.ContentKey.key(java.nio.file.Paths.get(d, s"$table.parquet"))
    stems.map { stem =>
      val dir = graft.Scratch.path(s"graft_${stem}_$key")
      graft.Publish.deleteTree(java.nio.file.Paths.get(dir))
      dir
    }
  }

  /** Atomically publish a staged micro-batch directory: each slice is
    * written as a single `batch_<i>.parquet` inside a process-unique temp
    * dir, `check` (if any) validates the layout, then the WHOLE dir
    * renames into place ([[graft.Publish.once]], marker `_DONE`).
    * Concurrent stagers in other threads/JVMs either win the rename or
    * discard their temp and read the winner — the build-once half of the
    * st14 race (VERDICT r11 item 1). `mtimeBase`, when set, stamps
    * strictly increasing file mtimes so the file source replays slices in
    * order. */
  private def stageSlices(stage: java.nio.file.Path,
      slices: Seq[DataFrame], mtimeBase: Option[Long] = None)
      (check: java.nio.file.Path => Unit = _ => ()): String = {
    graft.Publish.once(stage.toString, marker = "_DONE",
        stampMarker = true) { tmpDir =>
      val root = java.nio.file.Paths.get(tmpDir)
      java.nio.file.Files.createDirectories(root)
      slices.zipWithIndex.foreach { case (df, par) =>
        val tmp = root.resolve(s"tmp_$par")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val l = java.nio.file.Files.list(tmp)
          try l.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally l.close()
        }
        val dst = root.resolve(s"batch_$par.parquet")
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        mtimeBase.foreach { base =>
          // mtime encodes arrival order (file-source listing order); the
          // lexicographic name order agrees as the tie-break
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(base + par * 60000L))
        }
        graft.Publish.deleteTree(tmp)
      }
      check(root)
    }
    stage.toString
  }

  /** Stage the single-file source table as a DIRECTORY of hard links for
    * the file-stream source. Content-keyed (ADVICE r01): if the source is
    * regenerated the key changes, so we stage a fresh link instead of
    * keeping the old inode and silently diverging from the oracle.
    * Atomic like [[stageSlices]]: links land in a temp dir that renames
    * into place, so two JVMs never interleave link/copy on one layout. */
  private def stageLinks(stage: java.nio.file.Path,
      src: java.nio.file.Path, names: Seq[String]): String = {
    graft.Publish.once(stage.toString, marker = "_DONE",
        stampMarker = true) { tmpDir =>
      val root = java.nio.file.Paths.get(tmpDir)
      java.nio.file.Files.createDirectories(root)
      names.foreach { n =>
        val dst = root.resolve(n)
        try java.nio.file.Files.createLink(dst, src)
        catch { case _: Exception =>
          java.nio.file.Files.copy(src, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
    stage.toString
  }

  /** Stage the single-file events table as a stream-source directory
    * (build-once per content key). */
  private[graft] def stageEvents(dir: String): String =
    stageLinks(java.nio.file.Paths.get(Artifacts.stageEvents.path(dir)),
      java.nio.file.Paths.get(dir, "events.parquet"), Seq("events.parquet"))

  /** Stage events TWICE (two hard links → two micro-batches with
    * maxFilesPerTrigger=1) so every event arrives as a duplicate — the
    * input st03's streaming dedup must suppress. */
  private[graft] def stageEventsDuplicated(dir: String): String =
    stageLinks(java.nio.file.Paths.get(Artifacts.stageEventsDup.path(dir)),
      java.nio.file.Paths.get(dir, "events.parquet"),
      Seq("events_a.parquet", "events_b.parquet"))

  /** Stage the `family`'s source table SPLIT in two disjoint halves by
    * the parity of its integer `key` (two files → two micro-batches under
    * [[replay]]), so incremental folds actually merge across batches.
    * Published at the family's path for `dir`. Written through Spark, so a
    * staged events `ts` keeps whatever encoding the source read produced
    * (long nanos or NTZ micros) — consumers normalize via
    * [[graft.Tables.normalizeTs]]. */
  private[graft] def stageSplit(s: SparkSession, dir: String,
      family: Artifacts.Family, key: String): String =
    stageSlices(java.nio.file.Paths.get(family.path(dir)),
      Seq(0, 1).map(par => graft.Tables.table(s, dir, family.srcTable)
        .filter(col(key) % 2 === par)))()

  /** Stage EVENTS as three TIME-ORDERED slices (date terciles by pure
    * integer arithmetic on datediff — no window) with strictly
    * increasing file mtimes, so `maxFilesPerTrigger=1` replays event
    * time in order across micro-batches. st23's cross-batch
    * last-event-per-user state is only correct under time-ordered
    * arrival — which is exactly how a production event log lands.
    * Content-keyed like [[stageSplit]]. */
  private[graft] def stageEventsTimeSplit(s: SparkSession, dir: String): String = {
    val ev = Tables.events(s, dir) // ts normalized to micros on disk
    val bounds = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
    val sliced = ev.crossJoin(broadcast(bounds))
      .withColumn("slice", expr(
        "least(2, (datediff(to_date(ts), d0) * 3) div (datediff(d1, d0) + 1))"))
    stageSlices(java.nio.file.Paths.get(Artifacts.stageEventsTsplit.path(dir)),
      Seq(0, 1, 2).map(par => sliced.filter(col("slice") === par)
        .drop("slice", "d0", "d1")),
      mtimeBase = Some(1600000000000L)) { root =>
      // st23's cross-batch frontier fold assumes every event in batch k+1
      // is strictly newer (by the event-time ordering key) than every
      // event in batch k — true today because the slicer cuts on whole
      // DATES, but the invariant must fail LOUDLY if the slice key ever
      // drifts to a sub-date grain (ADVICE r9: a comment is not a guard).
      // Checked once at staging time, before publication makes the layout
      // reusable; non-empty slices only (a tercile can be empty at tiny
      // SFs without breaking the ordering of the others).
      val sliceBounds = Seq(0, 1, 2).flatMap { par =>
        s.read.parquet(root.resolve(s"batch_$par.parquet").toString)
          .agg(min(col("ts")).cast("string").as("lo"),
            max(col("ts")).cast("string").as("hi"))
          .collect().toSeq
          .filterNot(_.isNullAt(0))
          .map(r => (par, r.getString(0), r.getString(1)))
      }
      sliceBounds.sliding(2).foreach {
        case Seq((pa, _, hiA), (pb, loB, _)) =>
          require(hiA < loB,
            s"stageEventsTimeSplit: slice $pa max ts $hiA does not precede " +
              s"slice $pb min ts $loB — st23's frontier invariant is broken")
        case _ => ()
      }
    }
  }

  /** Streaming exact dedup: `dropDuplicates(event_id)` over a stream that
    * replays every event twice (two micro-batches). The first batch seeds
    * the dedup state; the replay batch must be suppressed ENTIRELY by it —
    * so the emitted rows equal the batch table exactly, which is what the
    * st03 oracle asserts. Rows sink in append mode (dedup alone supports
    * it); the daily rollup is batch presentation on the sink. Unbounded
    * dedup state is the demo trade-off: production bounds it with
    * `dropDuplicatesWithinWatermark`, whose eviction/late-drop contract
    * StreamingSemanticsSpec pins on a crafted two-batch feed. */
  def streamingDedupDaily(s: SparkSession, dir: String): DataFrame =
    withStreamingConfs(s) { ss =>
      val deduped = Tables.normalizeTs(replay(ss, stageEventsDuplicated(dir)))
        .dropDuplicates("event_id")
      collect(deduped, OutputMode.Append())
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Num.roundOut(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    }

  /** Watermarked STREAM-STREAM inner join (the ad-attribution shape):
    * purchases joined to same-user clicks at most 10 minutes older. Both
    * sides carry watermarks and the join condition bounds event-time skew,
    * so Spark can evict click state older than the horizon — state is
    * O(events in the watermark window), not history. Inner-join emission
    * is micro-batch-insensitive: the emitted SET equals the batch join
    * whatever the file/trigger slicing, which is exactly what the st04
    * oracle asserts. */
  def streamingAttribution(s: SparkSession, dir: String): DataFrame =
    withStreamingConfs(s, 4) { ss => // stream-stream: 4 stores/partition
      val raw = Tables.normalizeTs(replay(ss, stageEvents(dir)))
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = raw.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      collect(joined, OutputMode.Append())
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }

  /** Daily per-type counts computed by a genuine streaming query over the
    * staged events parquet (nanos ts normalized the same way as
    * [[graft.Tables.events]]). */
  def streamingDaily(s: SparkSession, dir: String): DataFrame =
    withStreamingConfs(s) { ss =>
      // schema-adaptive: see Tables.normalizeTs
      val events = Tables.normalizeTs(replay(ss, stageEvents(dir)))
      val agg = events
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Num.roundOut(sum(col("value")), 4).as("sum_value"))
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("n"), col("sum_value"))
      collect(agg, OutputMode.Complete()).orderBy(col("day"), col("event_type"))
    }

  /** Streaming session-window aggregation (SURVEY.md §2.9): the same
    * 30-minute-gap merge q40 runs in batch, maintained incrementally as
    * stream state — sessions extend and MERGE as events arrive. */
  def streamingSessions(s: SparkSession, dir: String): DataFrame =
    withStreamingConfs(s) { ss =>
      val events = Tables.normalizeTs(replay(ss, stageEvents(dir)))
      val agg = events
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          Num.roundOut(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start"),
          unix_micros(col("w.end")).as("session_end"),
          col("n"), col("sum_value"))
      collect(agg, OutputMode.Complete())
        .orderBy(col("user_id"), col("session_start"))
    }

  /** Watermarked append-mode windowed aggregation over a file-source
    * stream: only windows the 10-minute watermark has closed are emitted,
    * and rows arriving later than the watermark are dropped — the
    * late-data contract StreamingSemanticsSpec pins with a crafted
    * two-batch feed. */
  def windowedAppend(s: SparkSession, srcDir: String,
      sinkName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts", "timestamp").add("value", "double")
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch so the
      .parquet(srcDir)                   // watermark advances between files
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("n"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(sinkName)
      .start()
  }

  /** The reference's incremental-freshness model in streaming form
    * (SURVEY.md §2.9): each micro-batch is merged into the persistent fact
    * table with the SAME conditional-upsert semantics as the batch M1
    * operator — `foreachBatch` + [[graft.operators.Merge.upsert]].
    * Keep-latest REPLACES prior rows, so the state cannot be an
    * append-only delta log; since r14 it is a KEYED store instead
    * ([[StateFold KeyedFold]]): the fact parquet is partitioned by
    * key-hash, each batch prunes its read to the partitions its keys
    * fall in, merges, and dynamic-partition-overwrites ONLY those —
    * per-batch I/O ∝ touched keys, never total fact size (the parquet
    * shape of the Delta MERGE this becomes on a cluster). Journal-
    * pinned in Round14Spec: a batch leaves untouched kh partitions'
    * files byte-identical. */
  def incrementalUpsert(s: SparkSession, srcDir: String, factDir: String,
      keys: Seq[String], ordering: Seq[org.apache.spark.sql.Column]): Unit = {
    // no one-file cap (unlike `replay`): every file already in `srcDir`
    // merges in one micro-batch
    val src = s.readStream.schema(s.read.parquet(srcDir).schema).parquet(srcDir)
    drain(src) { batch =>
      val spark = batch.sparkSession
      val parts = KeyedFold.touched(batch, keys)
      val existing = KeyedFold.readParts(spark, factDir, parts, batch)
      val merged = graft.operators.Merge
        .upsert(existing, batch, keys, ordering)
        .localCheckpoint() // sever lineage from the files being overwritten
      KeyedFold.overwriteTouched(merged, keys, factDir, parts)
    }
  }

  // ---- stateful sessionization (mapGroupsWithState) ----

  case class Ev(user_id: Long, tsMicros: Long)
  case class SessionSummary(user_id: Long, n_sessions: Int, n_events: Long)
  private case class SessState(lastTs: Long, sessions: Int, events: Long)

  /** Per-user session counting with a gap timeout: events more than
    * `gapMinutes` apart start a new session. Batch-driven in tests via
    * `processAllAvailable`; the operator is the real streaming state
    * machine. */
  def sessionize(s: SparkSession, events: DataFrame, gapMinutes: Int): DataFrame = {
    import s.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val ds = events.select(col("user_id"),
        unix_micros(col("ts")).as("tsMicros")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .mapGroupsWithState[SessState, SessionSummary](GroupStateTimeout.NoTimeout) {
        (uid, evs, state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(_.tsMicros)
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0, 0L))
          sorted.foreach { e =>
            val newSession = st.lastTs == Long.MinValue || e.tsMicros - st.lastTs > gapMicros
            st = SessState(e.tsMicros,
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          SessionSummary(uid, st.sessions, st.events)
      }
    out.toDF()
  }

  val entries: Seq[QueryDef] = Seq(
    // Oracle-checked: the streaming result must equal the batch daily agg.
    QueryDef("st01_stream_daily",
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       count(*) AS n, round(1e-9 + sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => streamingDaily(s, d)),

    // Oracle-checked: the foreachBatch incremental merge (the reference's
    // freshness model, M1) must CONVERGE to the batch keep-latest answer —
    // same oracle shape as q13, reached through the streaming path. ts
    // stays raw long nanos here: the merge ordering only compares it,
    // never emits it.
    QueryDef("st02_stream_upsert",
      """SELECT user_id, event_type, event_id, round(1e-9 + value, 4) AS value
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val stage = stageEvents(d)
      val Seq(root) = fresh(d, "events", "stfact_v3")
      val factDir = s"$root/fact"
      withStreamingConfs(s) { ss =>
        incrementalUpsert(ss, stage, factDir, Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))
      }
      s.read.parquet(factDir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          Num.roundOut(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // Oracle-checked: streaming dedup over a stream that replays every
    // event twice must emit each exactly once — daily counts equal the
    // clean batch aggregate (st01's oracle) despite the duplicated input.
    QueryDef("st03_stream_dedup",
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       count(*) AS n, round(1e-9 + sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(
      (s, d) => streamingDedupDaily(s, d)),

    // Oracle-checked: the watermarked stream-stream attribution join must
    // emit exactly the batch join's pair set.
    QueryDef("st04_stream_join",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin)(
      (s, d) => streamingAttribution(s, d)),

    // Oracle-checked: STREAMING session windows must converge to the batch
    // session_window answer (q40's oracle verbatim — gaps-and-islands in
    // SQL). The streaming state merges adjacent sessions as events arrive;
    // at scale the state is keyed by (user, open session), bounded by the
    // watermark horizon in append/update mode — Complete mode here because
    // the oracle needs every session emitted, including the last open one
    // per user (an append-mode watermark would hold those back forever on
    // a finite fixture).
    QueryDef("st05_stream_session",
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |       epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start,
        |       epoch_us(CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE) AS session_end,
        |       count(*) AS n, round(1e-9 + sum(value), 4) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)(
      (s, d) => streamingSessions(s, d)),

    // Oracle-checked: INCREMENTAL AGGREGATE maintenance — each micro-batch
    // folds its partial daily counts/sums into a persistent aggregate
    // matview (q55's freshness model, maintained from a stream instead of
    // a partition delta; st02 merges ROWS, this merges AGGREGATES). The
    // input arrives as two disjoint halves, so the merge genuinely
    // combines partials across batches; the converged matview must equal
    // the one-shot batch aggregate (st01's oracle). Merge state is
    // O(groups), never O(events) — counts and sums are associative, the
    // only aggregate class this pattern is legal for. The matview is an
    // O(Δ) [[StateFold.Log]]: each batch appends its partials, and batch
    // k never rewrites batch k−1's files.
    QueryDef("st06_stream_aggmv",
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       count(*) AS n, round(1e-9 + sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(root) = fresh(d, "events", "staggmv_v1")
        // deliberately LOW threshold (1 — AQE coalesces the tiny
        // fixture deltas to one file per append): this family
        // exercises the in-stream compaction path, so the
        // answer-preservation contract is oracle-covered, not just
        // unit-tested — Round13Spec pins that a compact event
        // actually fired here
        val mv = new StateFold.Log(s"$root/mv", df => df
          .groupBy(col("day"), col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv")), maxFiles = 1)
        drain(replay(ss, stage)) { batch =>
          mv.add(Tables.normalizeTs(batch)
            .groupBy(to_date(col("ts")).as("day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv")))
        }
        mv.state(ss)
          .select(col("day"), col("event_type"), col("n"),
            Num.roundOut(col("sv"), 4).as("sum_value"))
          .orderBy(col("day"), col("event_type"))
      }
    },

    // Oracle-checked: STREAM-STATIC enrichment — the production shape
    // where a stream joins a slowly-changing batch dimension (here each
    // day's average value, computed in batch and rounded identically on
    // both engines before the comparison). No streaming state at all:
    // every micro-batch hash-joins the static frame and feeds one
    // Complete-mode aggregate. At scale the static side is a broadcast
    // refreshed per trigger — the kill-the-shuffle contract batch q08
    // pins, carried into streaming.
    QueryDef("st07_stream_enrich",
      """WITH dim AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         round(1e-9 + avg(value), 4) AS day_avg
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN e.value > d.day_avg THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_above
        |FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.day
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val dim = Tables.events(ss, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(Num.roundOut(avg(col("value")), 4).as("day_avg"))
        val agg = Tables.normalizeTs(replay(ss, stageEvents(d)))
          .join(broadcast(dim), to_date(col("ts")) === col("day"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") > col("day_avg"), 1).otherwise(0))
              .cast("long").as("n_above"))
        collect(agg, OutputMode.Complete()).orderBy(col("event_type"))
      }
    },

    // Oracle-checked: stream-stream LEFT OUTER join — st04's attribution
    // shape plus the rows st04 cannot express: clicks that never convert,
    // emitted with a NULL purchase once the watermark proves no purchase
    // can still arrive (state eviction is the EMISSION mechanism, not
    // just a cleanup). An outer result is only final behind the
    // watermark, so both engines restrict to clicks older than
    // max(ts) − (1 h watermark + 10 min join window): ahead of that
    // horizon Spark still holds the click in state, and a batch engine
    // would call the same click "unmatched" only because the fixture
    // ends — the cutoff is the point where the two semantics provably
    // agree, derived from the data on both sides (microsecond integers,
    // the q77 epoch_us parity rule).
    //
    // Scale: identical state bound to st04 — both sides watermarked, the
    // join condition bounds event-time skew, so click state is O(events
    // in the 70-minute horizon) per user shard, evicted as the watermark
    // advances; the no-data micro-batch after the last file is what
    // flushes the final unmatched clicks.
    QueryDef("st08_stream_outer_join",
      """WITH mx AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END),
        |    max(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)) AS m
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id, c.click_id, p.purchase_id
        |FROM c JOIN mx ON true
        |LEFT JOIN p ON c.user_id = p.p_user
        |           AND p.purchase_ts >= c.click_ts
        |           AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
        |WHERE epoch_us(CAST(c.click_ts AS TIMESTAMP)) < mx.m - 4200000000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      withStreamingConfs(s, 4) { ss => // stream-stream: 4 stores/partition
        val raw = Tables.normalizeTs(replay(ss, stageEvents(d)))
        val clicks = raw.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = raw.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
          "left_outer")
        val emitted = collect(joined, OutputMode.Append())
        // the GLOBAL watermark is the MIN across both inputs' watermark
        // columns (multipleWatermarkPolicy=min): the horizon only reaches
        // as far as the SLOWER side has seen events
        val cutoff = Tables.events(ss, d)
          .agg(least(
            max(when(col("event_type") === "click", unix_micros(col("ts")))),
            max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
            .as("m")).head().getLong(0) - 4200000000L
        emitted
          .filter(unix_micros(col("click_ts")) < cutoff)
          .select(col("user_id"), col("click_id"), col("purchase_id"))
          .orderBy(col("click_id"), col("purchase_id"))
      }
    },

    // Oracle-checked: STREAMING QUANTILES with O(k) state — x64's
    // mergeable bottom-k sample maintained across micro-batches
    // (foreachBatch folds each batch's local bottom-64 into the persisted
    // per-group sample, st06's pattern applied to a SKETCH instead of an
    // associative aggregate). Streaming == batch is PROVABLE here, not
    // just observed: bottom-k by a deterministic total priority order is
    // insensitive to arrival order and batch slicing (PortableSketchSpec
    // pins the merge identity), so the final state equals the batch
    // sample exactly and the oracle is x64's sample-side SQL verbatim.
    // The split stage guarantees ≥2 micro-batches — the cross-batch
    // merge is real.
    //
    // Scale: state is ≤ 64 rows per event_type FOREVER (vs an exact
    // streaming percentile whose state grows with the stream); each
    // micro-batch does one local bottom-k plus a k-vs-k merge. The same
    // contract as st06's O(groups) matview, for a rank statistic no
    // associative aggregate can express.
    QueryDef("st09_stream_quantile",
      """WITH ev AS (
        |  SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL
        |), h0 AS (
        |  SELECT event_type, event_id, value,
        |         event_id & 4294967295 AS a FROM ev
        |), h1 AS (
        |  SELECT event_type, event_id, value,
        |         (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM h0
        |), h2 AS (
        |  SELECT event_type, event_id, value,
        |         (xor(a >> 16, a) * 73244475) & 4294967295 AS a FROM h1
        |), pv AS (
        |  SELECT event_type, event_id, value, xor(a >> 16, a) AS pri FROM h2
        |), samp AS (
        |  SELECT event_type, event_id, value FROM (
        |    SELECT event_type, event_id, value,
        |           row_number() OVER (PARTITION BY event_type
        |                              ORDER BY pri, event_id) AS rn
        |    FROM pv) WHERE rn <= 64
        |), sq AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS vr,
        |         count(*) OVER (PARTITION BY event_type) AS ns
        |  FROM samp
        |)
        |SELECT event_type, max(ns) AS n_sample,
        |       round(1e-9 + max(CASE WHEN vr = (ns + 1) // 2
        |                             THEN value END), 4) AS p50_sample,
        |       round(1e-9 + max(CASE WHEN vr = (9 * ns + 9) // 10
        |                             THEN value END), 4) AS p90_sample
        |FROM sq GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(root) = fresh(d, "events", "stquant_v1")
        def bottomK(df: DataFrame): DataFrame = df
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("event_type"))
              .orderBy(col("pri"), col("event_id"))))
          .filter(col("rn") <= 64).drop("rn")
        // each batch appends its own bottom-k; the log's k-vs-k merge is
        // bottomK again — legal because bottom-k under a total order is
        // a mergeable fold (top-k(A∪B) = top-k(top-k(A) ∪ top-k(B)))
        val sample = new StateFold.Log(s"$root/sample", bottomK)
        drain(replay(ss, stage)) { batch =>
          sample.add(bottomK(batch
            .select(col("event_type"), col("event_id"), col("value"))
            .filter(col("value").isNotNull)
            .withColumn("a", expr("event_id & 4294967295"))
            .withColumn("a",
              expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
            .withColumn("a",
              expr("(shiftright(a, 16) ^ a) * 73244475 & 4294967295"))
            .withColumn("pri", expr("shiftright(a, 16) ^ a"))
            .drop("a")))
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        sample.state(ss)
          .withColumn("vr", row_number().over(
            w.orderBy(col("value"), col("event_id"))))
          .withColumn("ns", count(lit(1)).over(w))
          .groupBy(col("event_type"))
          .agg(max(col("ns")).as("n_sample"),
            Num.roundOut(max(when(col("vr") === expr("(ns + 1) div 2"),
              col("value"))), 4).as("p50_sample"),
            Num.roundOut(max(when(col("vr") === expr("(9 * ns + 9) div 10"),
              col("value"))), 4).as("p90_sample"))
          .orderBy(col("event_type"))
      }
    },

    // Oracle-checked: STREAMING NEAR-DUP DEDUP — x39's LSH pipeline run
    // as a 2-micro-batch ingest with persistent signature/bucket/pair
    // state (x61's incremental probe, made continuous). Per batch:
    // compute the batch's portable signatures through the IDENTICAL
    // expression tree as x39 ([[graft.operators.Dedup.portableSigs]]),
    // band them, probe the accumulated bucket state for pairs involving
    // a new doc, and append (sigs, bands, pairs) to the state dirs. The
    // crowded-bucket cap (2..100) is a WHOLE-CORPUS property, so
    // emission uses only a work guard (skip buckets already past 100 —
    // they can only grow) and the exact cap is applied to FINAL bucket
    // sizes at read time.
    //
    // streaming == batch, provable: bucket sizes grow monotonically, so
    // (a) every pair of a finally-small bucket is emitted at the batch
    // where its later member arrives (bucket size then ≤ final ≤ 100),
    // and (b) pairs emitted from buckets that END crowded are dropped by
    // the final [2,100] filter — the surviving pair set is EXACTLY
    // x39's, whatever the batch slicing. The oracle is x39's relational
    // SQL verbatim (the st09↔x64 move applied to LSH dedup).
    //
    // Scale: state grows with the corpus but per-batch work is
    // |batch| × collision rate (x61's maintenance-∝-|Δ| contract); the
    // probe is an equi-join on (band, bucket) between the batch's bands
    // and the state — never a corpus self-join per batch.
    QueryDef("st10_stream_neardup",
      graft.operators.Dedup.x39OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(root) = fresh(d, "documents", "stneardup_v1")
        val sigDir = s"$root/sigs"
        val bandDir = s"$root/bands"
        val pairDir = s"$root/pairs"
        def exists(p: String) =
          java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS"))
        drain(replay(ss, stage)) { batch =>
          val spark = batch.sparkSession
          val sigs = graft.operators.Dedup.portableSigs(batch)
            .localCheckpoint()
          val newB = graft.operators.Dedup.bandedSig(sigs).localCheckpoint()
          val oldB =
            if (exists(bandDir)) spark.read.parquet(bandDir)
            else newB.limit(0)
          val union = oldB.unionByName(newB)
          // work guard: buckets already past the cap can only grow —
          // never generate pairs from them again
          val small = union.groupBy(col("band"), col("bucket"))
            .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= 100)
            .select(col("band"), col("bucket"))
          val pairs = newB.as("a")
            .join(union.join(small, Seq("band", "bucket")).as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc_id") =!= col("b.doc_id"))
            .select(
              least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
              col("a.band").as("band"), col("a.bucket").as("bucket"))
            .distinct()
          // append order matters: pairs (derived from the band state
          // just read) land first; only then do the new bands/sigs
          // extend the state dirs (the st09 no-self-overwrite rule)
          StateFold.append(pairs, pairDir)
          StateFold.append(newB, bandDir)
          StateFold.append(sigs, sigDir)
        }
        val keep = ss.read.parquet(bandDir)
          .groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz").between(2, 100))
          .select(col("band"), col("bucket"))
        val finalPairs = ss.read.parquet(pairDir)
          .join(keep, Seq("band", "bucket"))
          .select(col("doc_a"), col("doc_b")).distinct()
        val sig = ss.read.parquet(sigDir)
        val sa = sig.select(col("doc_id").as("doc_a"),
          col("sig").as("sig_a"), col("tri").as("tri_a"))
        val sb = sig.select(col("doc_id").as("doc_b"),
          col("sig").as("sig_b"), col("tri").as("tri_b"))
        finalPairs.join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"),
            Num.roundOut(size(filter(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)) / 8.0,
              6).as("est"),
            Num.roundOut(graft.functions.Text.jaccard(
              col("tri_a"), col("tri_b")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      }
    },

    // Oracle-checked: STREAMING HEAVY HITTERS — x42's estimate-then-verify
    // run as a 2-micro-batch ingest with a MERGEABLE Misra-Gries summary
    // as the only cross-batch state (Agarwal et al. PODS'12: sum the
    // counters, subtract the (k+1)-th largest, drop ≤ 0 — [[mgReduce]]).
    // Per batch: exact batch word counts (a batch count IS a lossless MG
    // summary) merge into the ≤ k=256-entry state via write-then-swap
    // (the st09 rule). The summary's guarantee survives merging: counts
    // only ever UNDER-estimate, by ≤ n/k in total, so every word with
    // true count > n/k is still present in the final state — a superset
    // of the n/40 report set. The final answer is x42's second pass
    // verbatim: exact recount of just the candidates over the full
    // corpus, 1/40 threshold — so streaming == batch for ANY batch
    // slicing, and the oracle is x42's SQL ([[graft.operators.Corpus
    // .x42OracleSql]], the st10↔x39 single-answer-definition move).
    //
    // Scale: cross-batch state is O(k) rows — CONSTANT in the corpus (vs
    // st03-style dedup state ∝ history); per-batch work is one partial
    // agg over the batch plus a k-row merge. This is the shape a
    // continuous trending-terms pipeline keeps per window at any volume.
    QueryDef("st11_stream_heavyhitter",
      graft.operators.Corpus.x42OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(mgDir) = fresh(d, "documents", "stheavy_v1")
        // each batch's exact counts (a lossless MG summary) append; the
        // MG reduction runs over the summed log — mergeability per
        // Agarwal et al. survives either order, and a single reduction
        // over exact totals under-estimates LESS than the per-batch
        // cascade, so the superset guarantee the verified recount needs
        // still holds.
        val mg = new StateFold.Log(mgDir, df => mgReduce(
          df.groupBy(col("word")).agg(sum(col("cnt")).as("cnt")), 256))
        drain(replay(ss, stage)) { batch =>
          mg.add(batch
            .select(explode(graft.functions.Text.tokens(col("text")))
              .as("word"))
            .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
        }
        // x42's verification pass: exact recount of the state's candidate
        // words over the full corpus (the staged dirs hold exactly the
        // corpus), then the 1/40 threshold — identical final answer
        val words = ss.read.parquet(stage)
          .select(explode(graft.functions.Text.tokens(col("text")))
            .as("word"))
        val candidates = mg.state(ss).select(col("word"))
        words
          .join(broadcast(candidates), Seq("word"), "left_semi")
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(words.agg(count(lit(1)).as("n"))))
          .filter(col("cnt") * 40 > col("n"))
          .select(col("word"), col("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      }
    },

    // STREAMING DISTINCT COUNT: x62's portable HLL maintained as
    // micro-batch state — each batch folds its per-row (reg, rho) into a
    // persistent 256-row register table by max-merge, the one aggregate
    // class whose streaming fold is EXACTLY order-and-batching-free
    // (max is idempotent + commutative + associative), so the converged
    // state provably equals the batch sketch and the oracle is
    // x62OracleSql VERBATIM (the st10↔x39 / st11↔x42 rule). The exact
    // recount rides along as calibration, same as batch x62.
    //
    // Scale: cross-batch state is 256 rows — CONSTANT in stream volume
    // (st06's matview fold is O(groups), st11's Misra-Gries O(k); this
    // is the smallest state class of the three). Each micro-batch ships
    // ≤256 partial maxima after map-side combine; the estimate math at
    // read time touches 256 rows. This is how a 100 TB/day stream serves
    // "distinct users so far" without ever holding a distinct set.
    QueryDef("st12_stream_hll",
      graft.operators.TextAnalysis.x62OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(regDir) = fresh(d, "events", "sthll_v1")
        val regs = new StateFold.Log(regDir,
          _.groupBy(col("reg")).agg(max(col("rho")).as("rho")))
        drain(replay(ss, stage)) { batch =>
          regs.add(graft.operators.TextAnalysis
            .hllRegRho(batch.select(col("user_id")))
            .groupBy(col("reg")).agg(max(col("rho")).as("rho")))
        }
        val ev = ss.read.parquet(stage).select(col("user_id"))
        graft.operators.TextAnalysis.hllEstimate(ss, regs.state(ss),
          ev.agg(countDistinct(col("user_id")).as("n_exact")))
      }
    },

    // STREAMING COHORT RETENTION — q78 maintained incrementally across
    // micro-batches. The two state tables are both from provably
    // batching-free aggregate classes: per-user FIRST-purchase ts is a
    // min-fold (idempotent + commutative + associative, st12's register
    // argument), and the (user, week) activity set is a set-union
    // (idempotent by construction). Whatever the file/trigger slicing,
    // the converged states equal their batch definitions, so the final
    // derivation IS q78's finish and the oracle is q78OracleSql VERBATIM
    // (the st10↔x39 rule applied to retention analytics).
    //
    // Scale: cross-batch state is O(users) + O(users × active weeks) —
    // the same tables a warehouse materializes for cohort serving; each
    // micro-batch ships only its per-user partial minima and its new
    // distinct (user, week) pairs after map-side combine. Late events
    // fold in exactly (min absorbs them; the set ignores repeats) — no
    // watermark needed for CORRECTNESS, only for state eviction when
    // cohorts age out of the reporting horizon.
    QueryDef("st13_stream_retention",
      graft.operators.Analytics.q78OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(firstDir, actDir) =
          fresh(d, "events", "stret_first_v1", "stret_act_v1")
        val first = new StateFold.Log(firstDir, _.groupBy(col("user_id"))
          .agg(min(col("first_ts")).as("first_ts")))
        val act = new StateFold.Log(actDir, _.distinct())
        drain(replay(ss, stage)) { batch =>
          val purch = Tables.normalizeTs(batch)
            .filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"))
            .localCheckpoint() // both folds share one evaluation
          first.add(purch.groupBy(col("user_id"))
            .agg(min(col("ts")).as("first_ts")))
          act.add(purch
            .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
            .distinct())
        }
        // q78's finish, read from the converged streaming state.
        val f = first.state(ss)
          .select(col("user_id"),
            date_trunc("week", col("first_ts")).as("cohort"))
        val a = act.state(ss)
        val sz = f.groupBy(col("cohort")).agg(count(lit(1)).as("n_cohort"))
        f.join(a, Seq("user_id"))
          .groupBy(col("cohort"), col("w"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sz), Seq("cohort"))
          .select(col("cohort").cast("date").as("cohort_week"),
            expr("CAST(datediff(w, cohort) div 7 AS BIGINT)").as("offset_w"),
            col("n_active"), col("n_cohort"),
            Num.roundOut(col("n_active") * 1.0 / col("n_cohort"), 4)
              .as("retention"))
          .orderBy(col("cohort_week"), col("offset_w"))
      }
    },

    // STREAMING WEIGHTED-SAMPLE MAINTENANCE — x97's priority sample kept
    // live as documents stream in. Top-k under a TOTAL priority order is
    // a mergeable fold over disjoint batches: top-k(A ∪ B) =
    // top-k(top-k(A) ∪ top-k(B)) — so the cross-batch state is exactly
    // the 20-row sample, each micro-batch contributes its own top-20,
    // and the converged state provably equals the batch draw (oracle =
    // x97OracleSql VERBATIM). This is how an eval-set draw stays current
    // over a live corpus without re-scanning history: priority sampling's
    // content-keyed uniform means arrival order and batching CANNOT
    // change the sample.
    //
    // Scale: per-batch work is the batch's priorities + a 20-row
    // TakeOrdered; cross-batch state is K rows forever — the smallest
    // state class next to st12's registers. The fingerprint is computed
    // on the batch (∝ batch), exactly the ingest-time artifact
    // fingerprintTable persists for the batch path.
    QueryDef("st14_stream_sample",
      graft.operators.TextAnalysis.x97OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(sampleDir) = fresh(d, "documents", "stsample_v1")
        val sample = new StateFold.Log(sampleDir,
          _.orderBy(col("pri").desc, col("doc_id")).limit(20))
        drain(replay(ss, stage)) { batch =>
          sample.add(batch
            .select(col("doc_id"), col("source"), col("n_chars"),
              Num.roundOut(col("n_chars") * 1000000008.0
                / (graft.functions.Text.fingerprint(col("text")) + 1), 4)
                .as("pri"))
            .orderBy(col("pri").desc, col("doc_id")).limit(20))
        }
        sample.state(ss)
      }
    },

    // STREAMING DEDUP ECONOMICS — x96's cluster-size histogram maintained
    // from a live document stream. The cross-batch state is the
    // per-digest cluster table (md5 → member count, char mass): both
    // folds are SUM-merges over disjoint batches (a doc lands in exactly
    // one micro-batch), so converged state equals the batch grouping and
    // the histogram derivation IS x96's, oracle verbatim. This is the
    // dashboard a live curation pipeline serves — "what would dedup buy
    // right now" — maintained at O(distinct digests) state without ever
    // re-scanning history.
    //
    // Scale: per batch, bodies hash map-side and only (digest, partials)
    // cross the exchange (x01's contract); the state table is bounded by
    // DISTINCT content, not stream volume — re-crawled copies only bump
    // counters. The histogram finish reads cluster rows, never
    // documents.
    QueryDef("st15_stream_dup_stats",
      graft.operators.Dedup.x96OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stateDir) = fresh(d, "documents", "stdup_v1")
        val clusters = new StateFold.Log(stateDir, _.groupBy(col("th"))
          .agg(sum(col("csize")).as("csize"), sum(col("mass")).as("mass")))
        drain(replay(ss, stage)) { batch =>
          clusters.add(batch
            .select(md5(col("text")).as("th"), col("n_chars"))
            .groupBy(col("th"))
            .agg(count(lit(1)).as("csize"), sum(col("n_chars")).as("mass")))
        }
        // x96's finish, read from the converged cluster state.
        val g = clusters.state(ss)
        val t = g.agg(sum(col("csize")).as("n_total"))
        g.groupBy(col("csize"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("mass")).as("chars_total"))
          .crossJoin(broadcast(t))
          .select(col("csize").cast("int").as("cluster_size"),
            col("n_clusters"),
            (col("n_clusters") * col("csize")).as("n_docs"),
            col("chars_total"),
            (col("n_clusters") * (col("csize") - 1)).as("docs_removable"),
            Num.roundOut(
              col("n_clusters") * (col("csize") - 1) * 1.0 / col("n_total"), 4)
              .as("removable_frac"))
          .orderBy(col("cluster_size"))
      }
    },

    // STREAMING GROWTH ACCOUNTING — x109's weekly
    // new/retained/resurrected/churned ledger maintained over the live
    // event stream (the q78↔st13 contract applied to growth): the ONLY
    // cross-batch state is the distinct (user_id, week) activity set,
    // folded per micro-batch by union + distinct — idempotent,
    // commutative, associative, so the converged state equals the batch
    // scan's for ANY slicing or replay, and the ledger finish runs the
    // SAME growthLedger code (and oracle SQL, verbatim) as x109. Late or
    // duplicated events fold in exactly: the set ignores repeats, and a
    // late week simply appears when it arrives.
    //
    // Scale: each micro-batch ships its own distinct (user, week) pairs
    // after map-side combine — state grows with ACTIVITY (users ×
    // active-weeks), not with events; eviction past the reporting
    // horizon is a week-predicate delete on the state table.
    QueryDef("st16_stream_growth",
      graft.operators.Analytics.x109OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(actDir) = fresh(d, "events", "stgrow_act_v1")
        val act = new StateFold.Log(actDir, _.distinct())
        drain(replay(ss, stage)) { batch =>
          act.add(Tables.normalizeTs(batch)
            .select(col("user_id"),
              to_date(date_trunc("week", col("ts"))).as("w"))
            .distinct())
        }
        graft.operators.Analytics.growthLedger(act.state(ss))
      }
    },

    // STREAMING A/B READOUT — x111's experiment table maintained as
    // events arrive, the "peeking dashboard" every live experiment has:
    // the cross-batch state is the per-(event_type) exact moment table
    // (n/Σv/Σv² per arm — all plain sums, so partials from disjoint
    // batches ADD into exactly the full-scan table, any slicing), and
    // the Welch-z finish plus oracle SQL are shared verbatim with x111.
    // Milli-unit quantization happens per batch BEFORE the fold — the
    // state never holds a float, so merge order cannot drift the
    // statistic.
    //
    // Scale: state is event-types-sized forever (the smallest state
    // class alongside st12's registers and st14's k rows); each batch
    // contributes one partial-agg pass over its own rows.
    QueryDef("st17_stream_ab",
      graft.operators.Analytics.x111OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(momDir) = fresh(d, "events", "stab_mom_v1")
        val moments = new StateFold.Log(momDir,
          _.groupBy(col("event_type")).agg(
            sum(col("na")).as("na"), sum(col("nb")).as("nb"),
            sum(col("sa")).as("sa"), sum(col("sb")).as("sb"),
            sum(col("qa")).as("qa"), sum(col("qb")).as("qb")))
        drain(replay(ss, stage)) { batch =>
          moments.add(graft.operators.Analytics.abMoments(
            Tables.normalizeTs(batch)))
        }
        graft.operators.Analytics.abReadout(moments.state(ss))
      }
    },

    // STREAMING GROUPED TOP-K — x125's per-event-type leaderboard
    // maintained over the live stream (the x111↔st17 contract applied
    // to rankings): the cross-batch state is the per-(event_type, user)
    // ledger of counts and MILLI-QUANTIZED value sums — plain integer
    // sums, so partials from disjoint batches ADD into exactly the
    // full-scan ledger under any slicing or replay — and the top-3
    // finish plus oracle SQL are shared verbatim with x125
    // ([[graft.operators.Analytics.userValueState]] /
    // [[graft.operators.Analytics.valueTopK]]). Ranking is NOT mergeable
    // on its own (a user outside every batch's top-3 can lead overall),
    // which is exactly why the state is the ledger and the rank is a
    // finish — st11's Misra-Gries is the bounded-state fallback when
    // even the ledger outgrows its budget.
    //
    // Scale: state is (event_types × active users)-sized, shuffled on
    // the same keys as the batch aggregate; each micro-batch contributes
    // one map-side-combined partial pass over its own rows.
    QueryDef("st18_stream_topk",
      graft.operators.Analytics.x125OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(ledDir) = fresh(d, "events", "sttopk_led_v1")
        val ledger = new StateFold.Log(ledDir,
          _.groupBy(col("event_type"), col("user_id")).agg(
            sum(col("n_events")).as("n_events"),
            sum(col("sv_milli")).as("sv_milli")))
        drain(replay(ss, stage)) { batch =>
          ledger.add(graft.operators.Analytics.userValueState(
            Tables.normalizeTs(batch)))
        }
        graft.operators.Analytics.valueTopK(ledger.state(ss))
      }
    },

    // STREAMING CHANGE-POINT — x119's CUSUM drift monitor maintained
    // over the live stream (the x125↔st18 contract applied to drift
    // detection): the cross-batch state is the per-day event-count
    // table, folded by PLAIN SUMS — partials from disjoint batches add
    // into exactly the full-scan daily series under any slicing, replay,
    // or late arrival (a late day's counts simply add in) — and the
    // integer CUSUM finish plus oracle SQL are shared verbatim with
    // x119 ([[graft.operators.Analytics.changepointReport]]). The
    // statistic is deliberately NOT mergeable (it needs the whole
    // series); the daily ledger is, which is why the split sits exactly
    // there.
    //
    // Scale: state is days-sized forever (the st17 moment-table class);
    // each batch contributes one map-side-combined daily count pass
    // over its own rows, and the finish runs on a few hundred rows.
    QueryDef("st19_stream_changepoint",
      graft.operators.Analytics.x119OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(dayDir) = fresh(d, "events", "stchg_day_v1")
        val days = new StateFold.Log(dayDir,
          _.groupBy(col("day")).agg(sum(col("cnt")).as("cnt")))
        drain(replay(ss, stage)) { batch =>
          days.add(Tables.normalizeTs(batch)
            .groupBy(to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("cnt")))
        }
        graft.operators.Analytics.changepointReport(days.state(ss))
      }
    },

    // STREAMING SAMPLE-RATIO-MISMATCH GATE — x127's A/B validity check
    // maintained live next to st17's readout (a peeking dashboard that
    // shows Welch-z without a live SRM gate invites exactly the silent
    // corruption the batch check exists to catch): the cross-batch state
    // is the distinct (event_type, user_id) activity set, folded by
    // union + distinct — idempotent, commutative, associative, so the
    // converged state equals the batch distinct under any slicing,
    // replay, or duplication — and the integer chi-square finish plus
    // oracle SQL are shared verbatim with x127
    // ([[graft.operators.Analytics.srmReadout]]).
    //
    // Scale: state grows with (event_types × distinct users), the same
    // class as st16's activity set; each batch ships only its own
    // distinct pairs after map-side combine.
    QueryDef("st20_stream_srm",
      graft.operators.Analytics.x127OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageEventsSplit, "event_id")
        val Seq(actDir) = fresh(d, "events", "stsrm_act_v1")
        val act = new StateFold.Log(actDir, _.distinct())
        drain(replay(ss, stage)) { batch =>
          act.add(batch.select(col("event_type"), col("user_id")).distinct())
        }
        graft.operators.Analytics.srmReadout(act.state(ss))
      }
    },

    // STREAMING IVF INDEX MAINTENANCE — the incremental trilogy (x61
    // dedup, x101/x128 IVF, x129 BM25) made LIVE: vectors arrive in
    // micro-batches and each batch's rows are assigned to their rk≤2
    // nearest centroids of the FROZEN codebook (exactly production:
    // centroids train once, arrivals assign against them), folded into
    // the inverted-file state by union+distinct — assignment is
    // per-vector independent and deterministic, so the fold is
    // idempotent under replay and the converged state equals the batch
    // index for ANY slicing. The codebook, the assignment, the serve-path
    // finish (nprobe=2 probe, exact cosine in probed lists, top-5) and the
    // oracle SQL are x101's own definitions
    // ([[graft.operators.Similarity.frozenCents]],
    // [[graft.operators.Similarity.assignFrozen]],
    // [[graft.operators.Similarity.ivfProbeReport]]).
    //
    // Scale: each batch ships (arrivals × 2) assignment rows after a
    // broadcast-codebook pass over its own vectors; state grows with
    // the corpus exactly like the persisted inverted file it IS. In
    // production the union+distinct fold becomes an append of
    // partitioned files (x101's layout) — the semantics here are the
    // proof that append converges.
    QueryDef("st21_stream_ivf",
      graft.operators.Similarity.x101OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageVecSplit, "vec_id")
        val Seq(ivfDir) = fresh(d, "embeddings", "stivf_v1")
        // assignment is per-vector deterministic, so the log's distinct
        // is only replay armor
        val ivf = new StateFold.Log(ivfDir, _.distinct())
        import graft.operators.Similarity.{assignFrozen, frozenCents,
          ivfProbeReport, withNorm}
        drain(replay(ss, stage)) { batch =>
          val cents = frozenCents(
            withNorm(Tables.embeddings(batch.sparkSession, d)))
          ivf.add(assignFrozen(withNorm(batch), cents, 2))
        }
        ivfProbeReport(ivf.state(ss))
      }
    },

    // STREAMING CONNECTED-COMPONENTS MAINTENANCE — x149's incremental
    // merge made LIVE (the graph family joins st21's pattern): edge
    // batches arrive one file per trigger and each folds into the label
    // state via the SAME [[graft.operators.Corpus.ccMergeStep]] x149
    // uses — endpoints probe the current labels, a components-sized
    // contraction graph decides every merge, one broadcast join
    // relabels. Min-label canonicalization makes the fold ORDER- and
    // SLICING-INSENSITIVE (min of mins is the global min, whichever
    // batch carried the bridging edge), so the converged state equals
    // the batch x146 labels for ANY slicing — the oracle (shared
    // verbatim with x146) and Round9Spec's slicing pin both enforce it.
    //
    // Scale: per batch the state read is the label table (nodes-sized,
    // the artifact a graph store keeps anyway), the work is ∝ batch
    // edges + components, and no base edge is ever rescanned — the
    // streaming form of x149's refresh-∝-Δ claim. A merge can RELABEL
    // arbitrary prior rows, so the label state is not a mergeable delta
    // log; since r14 it is a KEYED store (KeyedFold): labels partition
    // by node-hash, the batch's new/relabeled nodes select the touched
    // partitions, and dynamic partition overwrite rewrites ONLY those —
    // write ∝ relabeled keys (the read stays nodes-sized: a merge must
    // probe every label to decide what relabels, exactly the label scan
    // x149's batch form does). Journal-pinned in Round14Spec. st37 is
    // the measured frontier-chase variant whose READ prunes too, via a
    // second comp-keyed membership store. MEASURED crossover evidence
    // (r16, CcScaleBench over derived testdata graphs of 8×10³ to
    // 1.7×10⁵ state nodes, SCALING r16): this single-store fold wins at
    // EVERY derivable fixture scale — its per-batch cost is near-flat
    // (the full label scan costs ~0.5 s per 10⁵ rows here) while st37
    // carries ~1.5-2 s of fixed second-store overhead per batch (extra
    // driver round-trips: the second touched/present collects, pruned
    // reads, intent I/O). The measured slope puts the crossover around
    // 10⁵·(st37 fixed cost / per-10⁵ scan cost) ≈ 3×10⁵–10⁶ nodes on
    // this host, so st22 stays the default; st37 is the shape to take
    // when the label table outgrows the per-batch scan budget (on a
    // cluster: when a full label read stops fitting the micro-batch
    // interval — the fixed overhead there is a second task-scheduling
    // round, not wall-seconds).
    QueryDef("st22_stream_cc",
      graft.operators.Corpus.x146OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageCcEdgesSplit(ss, d)
        val Seq(ccDir) = fresh(d, "documents", "stcc_v2")
        drain(replay(ss, stage))(singleStoreCcBatch(_, ccDir))
        // no-state fallback carries the real (node, comp) schema off the
        // stage (a 0-column emptyDataFrame would fail ccReport's column
        // resolution on an empty staged split — r14 review)
        graft.operators.Corpus.ccReport(
          KeyedFold.readAll(ss, ccDir,
            ss.read.parquet(stage).select(col("src").as("node"),
              col("src").as("comp"))))
      }
    },

    // STREAMING TRANSITION-MATRIX MAINTENANCE — the Δ story for the
    // x95/x162 journey spine (the fifth maintained index family after
    // dedup x61, ANN x101/st21, BM25 x129, and CC x149/st22): event
    // micro-batches arrive in event-time order (the production log
    // shape; [[stageEventsTimeSplit]]), and each batch folds into two
    // Δ-sized state tables — the (from,to) count matrix and the
    // last-event-per-user frontier. Within-batch successor pairs come
    // from the batch-local x95 lead() spine; the ONLY cross-batch work
    // is one frontier⋈batch-firsts join producing the boundary pairs a
    // batch-at-a-time view would drop. The converged counts answer
    // EXACTLY the batch x95 oracle — no rescan of history, state
    // ∝ users + types², never ∝ events.
    QueryDef("st23_stream_transitions",
      graft.operators.Analytics.x95OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageEventsTimeSplit(ss, d)
        val Seq(stDir) = fresh(d, "events", "sttrans_v1")
        val counts = new StateFold.Log(s"$stDir/counts",
          _.groupBy(col("from_type"), col("to_type"))
            .agg(sum(col("n")).as("n")))
        // the frontier is each user's max (ts, event_id) event — a
        // mergeable max, so no carry-forward anti-join is needed
        val mergeLast = (df: DataFrame) => df
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"),
            col("event_type"))).as("f"))
          .select(col("user_id"), col("f.ts").as("ts"),
            col("f.event_id").as("event_id"),
            col("f.event_type").as("event_type"))
        val last = new StateFold.Log(s"$stDir/last", mergeLast)
        drain(replay(ss, stage)) { batch =>
          val b = batch.select(col("user_id"), col("ts"),
            col("event_id"), col("event_type")).localCheckpoint()
          val priorLast =
            mergeLast(StateFold.readOr(batch.sparkSession, last.dir, b))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          val inPairs = b
            .withColumn("to_type", lead(col("event_type"), 1).over(w))
            .filter(col("to_type").isNotNull)
            .select(col("event_type").as("from_type"), col("to_type"))
          val firsts = b.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_type").as("to_type"))
          val boundary = priorLast
            .select(col("user_id"), col("event_type").as("from_type"))
            .join(firsts, "user_id")
            .select(col("from_type"), col("to_type"))
          // counts delta first (it reads the pre-batch frontier), then
          // the frontier delta extends the log
          counts.add(inPairs.unionByName(boundary)
            .groupBy(col("from_type"), col("to_type"))
            .agg(count(lit(1)).as("n")))
          last.add(b.withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("user_id"))
                .orderBy(col("ts").desc, col("event_id").desc)))
            .filter(col("rn") === 1).drop("rn"))
        }
        graft.operators.Analytics.transReport(counts.state(ss))
      }
    },

    // STREAMING DRIFT-STATE MAINTENANCE — the drift toolkit's streaming
    // arm: document micro-batches fold into the (source, length, count)
    // state behind x156's KS test. The state is PURELY ADDITIVE
    // (per-batch counts merge by sum — order- and slicing-insensitive
    // by construction, the easiest of the maintained families), so the
    // converged state answers the batch x156 oracle verbatim through
    // the SAME grid + report definitions (one `ksReport`, one
    // `lengthEcdfGridFrom`). At serving time the monitor recomputes
    // only the sources×domain grid from counts — never rescans
    // documents — which is the entire point of maintaining drift state
    // incrementally at 100 TB ingest rates.
    QueryDef("st24_stream_drift",
      graft.operators.Analytics.x156OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stDir) = fresh(d, "documents", "stdrift_v1")
        val lengths = new StateFold.Log(stDir,
          _.groupBy(col("source"), col("v")).agg(sum(col("c")).as("c")))
        drain(replay(ss, stage)) { batch =>
          lengths.add(batch
            .groupBy(col("source"), col("n_chars").as("v"))
            .agg(count(lit(1)).as("c")))
        }
        graft.operators.Analytics.ksReport(
          graft.operators.Analytics.lengthEcdfGridFrom(lengths.state(ss)))
      }
    },

    // STREAMING CALIBRATION MAINTENANCE — the SIXTH Δ-maintained family
    // (after dedup state, ANN lists, BM25 stats, CC, transitions, drift
    // counts): document micro-batches fold into the purely ADDITIVE
    // (bin, n, p) reliability state behind x174's isotonic fit. The
    // hashing-trick score and the quality label are pure per-document
    // functions (no global vocabulary), so each batch's delta is
    // computed inline and the folded state equals the full-corpus bin
    // table bit-for-bit regardless of slicing. Serving re-fits PAV on
    // the bins-bounded state only — the model refreshes per ingest
    // batch at bins³ cost, never by corpus re-scan — and the converged
    // state answers the batch x174 oracle VERBATIM through the same
    // pavReport definition (the q78↔st13 / x156↔st24 contract).
    QueryDef("st25_stream_calibration",
      graft.operators.TextAnalysis.x174OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stDir) = fresh(d, "documents", "stcalib_v1")
        val bins = new StateFold.Log(stDir, _.groupBy(col("bin"))
          .agg(sum(col("n")).as("n"), sum(col("p")).as("p")))
        drain(replay(ss, stage)) { batch =>
          bins.add(graft.operators.TextAnalysis.calibrationBinDelta(batch))
        }
        graft.operators.TextAnalysis.pavReport(bins.state(ss))
      }
    },

    // STREAMING TREND MAINTENANCE — the SEVENTH Δ-maintained family:
    // order micro-batches fold into the ADDITIVE (week, cents) revenue
    // state behind x175's Theil–Sen fit. Money is exact integer cents
    // per order before any aggregation (the x175 discipline), so the
    // folded state equals the full-table weekly series BIT-FOR-BIT
    // regardless of slicing — no float accumulation order to converge
    // "close enough". Serving re-fits Theil–Sen + OLS on the
    // weeks-bounded state only (weeks² pair work, calendar-bounded) —
    // the robust trend refreshes per ingest batch without an orders
    // re-scan — and the converged state answers the batch x175 oracle
    // VERBATIM through the same theilSenReport definition.
    QueryDef("st26_stream_trend",
      graft.operators.Classic.x175OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageOrdersSplit, "o_orderkey")
        val Seq(stDir) = fresh(d, "orders", "sttrend_v1")
        val weeks = new StateFold.Log(stDir,
          _.groupBy(col("w")).agg(sum(col("cents")).as("cents")))
        drain(replay(ss, stage)) { batch =>
          weeks.add(graft.operators.Classic.weeklyCents(batch))
        }
        graft.operators.Classic.theilSenReport(weeks.state(ss))
      }
    },

    // STREAMING PACKING MAINTENANCE — the EIGHTH Δ-maintained family:
    // document micro-batches fold into the purely ADDITIVE (len,
    // n_docs) bucket state behind x183's sequence-packing plan. The
    // truncated token length is a pure per-document function, so each
    // batch's delta is computed inline and the folded state equals the
    // full-corpus bucket table bit-for-bit regardless of slicing.
    // Serving recomputes the plan on the ≤512-row state only — the
    // data-loader's packing schedule refreshes per ingest batch at
    // budget-bounded cost, never by corpus re-scan — and the converged
    // state answers the batch x183 oracle VERBATIM through the same
    // packingPlan definition (the q78↔st13 / x174↔st25 contract).
    QueryDef("st27_stream_packing",
      graft.operators.Mining.x183OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stDir) = fresh(d, "documents", "stpack_v1")
        val buckets = new StateFold.Log(stDir,
          _.groupBy(col("l")).agg(sum(col("n_docs")).as("n_docs")))
        drain(replay(ss, stage)) { batch =>
          buckets.add(graft.operators.Mining.packingBucketDelta(batch))
        }
        graft.operators.Mining.packingPlan(buckets.state(ss))
      }
    },

    // STREAMING GOLDEN-RECORD MAINTENANCE — the NINTH Δ-maintained
    // family: incremental ENTITY RESOLUTION. Part micro-batches fold two
    // states: (a) per-name survivorship partials (count sums, cents
    // min/max — all mergeable), and (b) the fuzzy-match edge set, grown
    // by blocking ONLY the names first seen in this batch against the
    // accumulated name dictionary (a pair lands exactly once, in the
    // batch where its LATER endpoint first appears — so the folded edge
    // set equals the full-corpus blocked join regardless of slicing).
    // Per-batch match cost is new-names × blocked candidates, never a
    // re-block of the whole dictionary; serving runs CC + survivorship
    // on the template-sized state only, through the same goldenRecords
    // definition as batch x184, whose oracle this answers VERBATIM.
    QueryDef("st28_stream_golden_record",
      graft.operators.Dedup.x184OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stagePartSplit, "p_partkey")
        val Seq(stDir) = fresh(d, "part", "stgolden_v1")
        val names = new StateFold.Log(s"$stDir/names", _.groupBy(col("name"))
          .agg(sum(col("n_parts")).as("n_parts"),
            min(col("min_cents")).as("min_cents"),
            max(col("max_cents")).as("max_cents")))
        // a pair lands exactly once, in the batch where its later
        // endpoint first appears, so the edge log is already
        // duplicate-free across batches; its distinct is replay armor
        val edges = new StateFold.Log(s"$stDir/edges", _.distinct())
        drain(replay(ss, stage)) { batch =>
          val spark = batch.sparkSession
          // checkpoint under AQE (StateFold.withWriteAqe): the frozen
          // layout feeds the names APPEND below, and without AQE the
          // agg's 8 pinned shuffle partitions land 8 near-empty state
          // files per batch (measured 16 vs 2 per stream)
          val delta = StateFold.withWriteAqe(spark) {
            graft.operators.Dedup.nameStatsDelta(batch)
              .localCheckpoint() // read twice (new-name probe + append)
          }
          val prior = StateFold.readOr(spark, names.dir, delta)
          // (b) first: new names = in delta, absent from prior state
          val newNames = delta.select(col("name"))
            .join(prior.select(col("name")), Seq("name"), "left_anti")
          def tk(df: DataFrame) = df.select(col("name"),
            element_at(split(col("name"), " "), 1).as("adj"),
            element_at(split(col("name"), " "), -1).as("noun"))
          val allNames = prior.select(col("name"))
            .union(delta.select(col("name"))).distinct()
          val newTk = tk(newNames).localCheckpoint()
          val allTk = tk(allNames).localCheckpoint()
          def block(key: String) = newTk
            .select(col("name").as("na"), col(key).as("k"))
            .join(allTk.select(col("name").as("nb"), col(key).as("k")),
              "k")
            .filter(col("na") =!= col("nb"))
            .select(least(col("na"), col("nb")).as("src"),
              greatest(col("na"), col("nb")).as("dst"))
          val newEdges = block("noun").union(block("adj")).distinct()
            .filter(graft.functions.Num.roundOut(
              graft.plans.JaroWinkler(col("src"), col("dst")), 6)
              >= 0.85)
          edges.add(newEdges)
          // (a) then: the survivorship partials extend the names log
          names.add(delta)
        }
        val half = edges.state(ss)
        val sym = half
          .union(half.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().localCheckpoint()
        graft.operators.Dedup.goldenRecords(sym, names.state(ss))
      }
    },

    // STREAMING SCD2 MAINTENANCE — the TENTH Δ-maintained family:
    // warehouse dimension-building as a stream. Event micro-batches
    // (time-ordered slices; the staging `require` guards the frontier
    // invariant st23 also relies on) fold into the RAW run state behind
    // x191: each batch's local runs (Merge.scd2RawRuns over the batch
    // alone) either EXTEND the user's open run — same status at the
    // boundary ⇒ add n_events, keep the original valid_from — or append
    // as new runs at offset = the user's prior run count. The state IS
    // the raw run table (rows = status runs, not events); serving
    // applies the same scd2Finish (valid_to/is_current) as batch x191,
    // whose oracle this answers VERBATIM (Round11Spec pins stream ==
    // batch row-for-row).
    //
    // Scale: per-batch cost is the batch's own run table joined against
    // a one-row-per-user frontier — never a rescan of event history;
    // the frontier derives from the state by a keyed aggregate.
    // Extending a user's open run MUTATES its prior row (n_events), so
    // the run state is not a mergeable delta log; since r14 it is a
    // KEYED store (KeyedFold): runs partition by user-hash, the batch
    // prunes its read to the partitions its users fall in (closed runs
    // of untouched users are never even scanned), and dynamic partition
    // overwrite rewrites only those — per-batch I/O ∝ batch users, the
    // Delta/Iceberg MERGE shape. This is how a 100 TB warehouse keeps
    // SCD2 dimensions current: closed runs never change, only the open
    // frontier absorbs new events. Journal-pinned in Round14Spec.
    QueryDef("st29_stream_scd2",
      graft.operators.Merge.x191OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageEventsTimeSplit(ss, d)
        val Seq(stDir) = fresh(d, "events", "stscd2_v2")
        val runsDir = s"$stDir/runs"
        drain(replay(ss, stage)) { batch =>
          val spark = batch.sparkSession
          val local = graft.operators.Merge.scd2RawRuns(batch)
            .localCheckpoint()
          val parts = KeyedFold.touched(local, Seq("user_id"))
          val prior = KeyedFold
            .readParts(spark, runsDir, parts, local)
            .localCheckpoint() // frontier + merge both read the slice
          // frontier: each user's open run (max run_id) and its status
          val frontier = prior
            .groupBy(col("user_id"))
            .agg(max(struct(col("run_id"), col("status"))).as("f"))
            .select(col("user_id"), col("f.run_id").as("p_runs"),
              col("f.status").as("p_status"))
          // does the batch's FIRST local run extend the open run?
          val flags = local.filter(col("run_id") === 1)
            .join(frontier, Seq("user_id"), "left")
            .select(col("user_id"),
              coalesce(col("p_runs"), lit(0L)).as("p_runs"),
              (col("p_runs").isNotNull &&
                col("p_status") <=> col("status")).as("mrg"))
          val loc2 = local.join(flags, Seq("user_id"))
          val mergedDelta = loc2
            .filter(col("run_id") === 1 && col("mrg"))
            .select(col("user_id"), col("p_runs").as("run_id"),
              col("n_events").as("delta"))
          val freshRuns = loc2
            .filter(!(col("run_id") === 1 && col("mrg")))
            .select(col("user_id"),
              (col("p_runs") + col("run_id")
                - when(col("mrg"), 1L).otherwise(0L)).as("run_id"),
              col("status"), col("valid_from"), col("n_events"))
          val updated = prior
            .join(mergedDelta, Seq("user_id", "run_id"), "left")
            .withColumn("n_events",
              col("n_events") + coalesce(col("delta"), lit(0L)))
            .drop("delta")
            .unionByName(freshRuns)
            .localCheckpoint() // sever from the files being replaced
          // `updated` = every surviving run of the touched partitions
          // (prior slice rows pass through with a null delta), so the
          // dynamic overwrite replaces exactly those kh dirs
          KeyedFold.overwriteTouched(updated, Seq("user_id"), runsDir,
            parts)
        }
        // no-state fallback carries the real raw-runs schema (derived
        // through scd2RawRuns on a 0-row stage slice — r14 review: a
        // 0-column emptyDataFrame breaks scd2Finish's resolution)
        graft.operators.Merge.scd2Finish(
          KeyedFold.readAll(ss, runsDir,
            graft.operators.Merge.scd2RawRuns(
              ss.read.parquet(stage).limit(0))))
          .orderBy(col("user_id"), col("run_id"))
      }
    },

    // STREAMING TOKENIZER RETRAINING — the ELEVENTH Δ-maintained
    // family: BPE's only corpus-sized pass is the word-count aggregate,
    // and word counts are PURELY ADDITIVE (st24's easiest-class state:
    // per-batch counts merge by sum, order- and slicing-insensitive).
    // Document micro-batches fold (word, wc) deltas into the state;
    // serving re-runs the three vocab-sized training rounds on the
    // folded counts — at 100 TB the corpus is touched once per batch
    // for its own words, and "retrain the tokenizer on everything
    // ingested so far" costs vocab × rounds, not a corpus rescan.
    // Answers x196's oracle VERBATIM through the same bpeTrain.
    QueryDef("st30_stream_bpe",
      graft.operators.Mining.x196OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stDir) = fresh(d, "documents", "stbpe_v1")
        val words = new StateFold.Log(stDir,
          _.groupBy(col("word")).agg(sum(col("wc")).as("wc")))
        drain(replay(ss, stage)) { batch =>
          words.add(graft.operators.Mining.bpeWordCounts(batch))
        }
        val (_, reports) = graft.operators.Mining.bpeTrain(
          graft.operators.Mining.bpeSym0FromCounts(words.state(ss)),
          graft.operators.Mining.BpeBudget)
        reports.reduce(_ unionByName _).orderBy(col("round"))
      }
    },

    // STREAMING CURATION RUN — x199's end-to-end funnel maintained from
    // a live document stream: the TWELFTH Δ-maintained family, and the
    // one that composes the others' point. The cross-batch state is the
    // per-doc curation METADATA frame (content hash, packable length,
    // quality, fingerprint bucket — `Mining.curationFrame`, shared
    // verbatim with x199): text is touched ONCE per micro-batch at
    // ingest, each doc contributes exactly one row (disjoint batches →
    // purely additive state, the st30 contract), and serving runs
    // x199's `curationReport` tail over the folded frame — dedup
    // winners resolve globally there, so a duplicate pair SPLIT ACROSS
    // micro-batches still keeps the global first. Answers x199's
    // oracle verbatim (stream == batch pinned in Round12Spec).
    //
    // Scale: per-batch work ∝ batch text (hash + tokenize + quality,
    // all map-side); state ∝ distinct documents in METADATA columns —
    // never body text, never re-scanned; the serve-side funnel is the
    // metadata window + sources-sized mix + ≤512-row packing, identical
    // to the batch plan.
    QueryDef("st31_stream_curation",
      graft.operators.Mining.x199OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(stDir) = fresh(d, "documents", "stcur_v1")
        val meta = new StateFold.Log(stDir, identity)
        drain(replay(ss, stage)) { batch =>
          meta.add(graft.operators.Mining.curationFrame(batch))
        }
        graft.operators.Mining.curationReport(meta.state(ss))
      }
    },

    // STREAMING CONTAMINATION MAINTENANCE — x200's decontamination
    // report kept live as documents arrive: the THIRTEENTH Δ-maintained
    // family. Cross-batch state is two tables, both mergeable folds of
    // `Mining.contamGrams` (the one pass that touches text, shared
    // verbatim with x200/x202): the TRAIN side is a distinct-gram SET
    // (fold = union + distinct — set union is idempotent and mergeable,
    // re-crawled grams dedup at fold time), the EVAL side is positioned
    // gram rows (purely additive over disjoint batches). Serving runs
    // the shared contamReport over the folded state, answering x200's
    // oracle verbatim — this is the "is tomorrow's benchmark already in
    // today's crawl" monitor a training-data pipeline keeps hot.
    //
    // Scale: per-batch work ∝ batch tokens (gram explode map-side, one
    // distinct per fold); train state is bounded by DISTINCT grams (the
    // traingrams-artifact class — re-crawls only dedup), eval state by
    // eval tokens (eval ≪ train by the split's construction). Serving
    // is the linear gram semi-join + doc-partitioned islands, identical
    // to the batch plan.
    QueryDef("st32_stream_contamination",
      graft.operators.Mining.x200OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(trDir, evDir) =
          fresh(d, "documents", "stcontam_tr_v1", "stcontam_ev_v1")
        val train = new StateFold.Log(trDir, _.distinct())
        val eval = new StateFold.Log(evDir, identity)
        drain(replay(ss, stage)) { batch =>
          val cg = graft.operators.Mining.contamGrams(batch)
            .localCheckpoint() // both folds share one gram pass
          train.add(cg.filter(col("is_train")).select(col("g")).distinct())
          eval.add(cg.filter(!col("is_train"))
            .select(col("doc_id"), col("pos"), col("g")))
        }
        graft.operators.Mining.contamReport(train.state(ss), eval.state(ss))
      }
    },

    // STREAMING CLASSIFIER MAINTENANCE — x204's trained quality filter
    // kept current as documents arrive: the FOURTEENTH Δ-maintained
    // family. Cross-batch state is three mergeable folds of the shared
    // Quality fragments (text touched once per batch): the per-doc
    // FEATURE CELLS and LABELS are purely additive (each doc lands in
    // exactly one batch — st31's metadata-frame class), the per-bin
    // occupancy stats merge by sum (st30's word-count class). Serving
    // RETRAINS from the folded cells through the same `trainFromCells`
    // the batch artifact builder runs — answering x204's oracle
    // VERBATIM — because full-batch Adagrad needs every doc's gradient
    // each epoch: the honest streaming contract here is "feature
    // extraction is incremental, optimization is not", exactly how
    // production filter models retrain on a schedule from an
    // incrementally-maintained feature store.
    //
    // Scale: per-batch work ∝ batch text (tokenize + hash + quality
    // label, map-side); state ∝ docs × ≤514 INTEGER cells — never body
    // text, never re-scanned; serve-side retraining is Epochs bounded
    // passes over the folded cell table, the identical batch plan.
    QueryDef("st33_stream_classifier",
      graft.operators.Quality.x204OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(ceDir, lbDir, bsDir) = fresh(d, "documents",
          "stqcls_ce_v1", "stqcls_lb_v1", "stqcls_bs_v1")
        val cells = new StateFold.Log(ceDir, identity)
        val labels = new StateFold.Log(lbDir, identity)
        val binStats = new StateFold.Log(bsDir, _.groupBy(col("b"))
          .agg(sum(col("bin_tokens")).as("bin_tokens"),
            sum(col("bin_docs")).as("bin_docs")))
        drain(replay(ss, stage)) { batch =>
          // One tokenize pass per batch (r16): the cell fold and the
          // bin-stat fold both derive from the same checkpointed
          // counts instead of re-tokenizing the text. Since r17 the
          // checkpoint is the BINNED (doc, b, c) frame, so the
          // vocab-sized distinct-words hash join also runs once per
          // batch (each builder re-ran it) and the checkpoint carries
          // bins, never word strings.
          val tokb = graft.operators.Quality.binnedCounts(
            graft.operators.Quality.tokenCounts(batch))
            .localCheckpoint()
          cells.add(graft.operators.Quality.featureCellsFromBinned(tokb))
          labels.add(graft.operators.Quality.labelTable(batch))
          binStats.add(graft.operators.Quality.binStatsFromBinned(tokb))
        }
        // retrain to the VALIDATED stopping round (r14): the chosen
        // round is a once-per-content hyperparameter off the persisted
        // qvalcurve artifact — a <=24-row read, not a corpus pass — and
        // x204's oracle re-derives it, so a drifted round hash-fails.
        // At sf0.01 this cuts the serve retrain from 24 to 7 epochs.
        graft.operators.Quality.serveModel(
          graft.operators.Quality.modelTable(
            graft.operators.Quality.trainFromCells(
              cells.state(ss), labels.state(ss),
              graft.operators.Quality.chosenRound(ss, d)),
            binStats.state(ss)))
      }
    },

    // STREAMING CLASSIFIER-IN-THE-LOOP MIX (VERDICT r12 item 2) — the
    // FIFTEENTH Δ-maintained family:
    // the live curation loop COMPOSED end-to-end: documents arrive in
    // micro-batches, three O(Δ) folds maintain the classifier's feature
    // cells + labels (st33's state) and the mix metadata frame
    // (doc_id, source, fingerprint bucket — [[graft.operators.Quality
    // .mixMeta]], a pure per-document function, additive like st31's
    // frame), and the SERVE composes the whole loop from folded state
    // only: retrain through the shared `trainFromCells` → score every
    // doc's folded cells → per-source confusion → x208's hardness boost
    // → the persisted-bucket sampler — one `hardnessMix`, shared
    // VERBATIM with batch x208, whose oracle this answers. This is the
    // live form of the reference's incremental re-run model
    // (etl.py:331-384) applied to the LLM tier: ingest folds deltas,
    // the expensive model refresh runs at serve on state, never on
    // re-scanned corpus text.
    //
    // Scale: per-batch work ∝ batch text (tokenize + hash + label +
    // fingerprint, all map-side); state ∝ docs × metadata columns; the
    // serve is st33's Epochs-bounded retrain + x208's sources-sized mix
    // algebra — no corpus text pass at serve. Duplicates split across
    // batches reach the mixer only as x208 defines (the mix itself does
    // not dedup; the composed curation funnel's dedup-before-mix
    // contract is Round13Spec's crafted-feed pin on the st31 state).
    QueryDef("st34_stream_hardness_mix",
      graft.operators.Quality.x208OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(ceDir, lbDir, mmDir) = fresh(d, "documents",
          "sthm_ce_v1", "sthm_lb_v1", "sthm_mm_v1")
        val cellLog = new StateFold.Log(ceDir, identity)
        val labelLog = new StateFold.Log(lbDir, identity)
        val mixLog = new StateFold.Log(mmDir, identity)
        drain(replay(ss, stage)) { batch =>
          cellLog.add(graft.operators.Quality.featureCells(batch))
          labelLog.add(graft.operators.Quality.labelTable(batch))
          mixLog.add(graft.operators.Quality.mixMeta(batch))
        }
        val cells = cellLog.state(ss)
        val labels = labelLog.state(ss)
        // st33's r14 rule: the retrain-at-serve stops at the validated
        // round (persisted hyperparameter, re-derived by x208's oracle)
        graft.operators.Quality.hardnessMix(
          graft.operators.Quality.trainFromCells(cells, labels,
            graft.operators.Quality.chosenRound(ss, d)),
          cells, labels, mixLog.state(ss))
      }
    },

    // STREAMING LEXICON TAGGING — x216's span tagger kept live as
    // documents arrive: the SIXTEENTH Δ-maintained family. Cross-batch
    // state is the POSITIONAL INDEX itself — (doc_id, i, word) rows,
    // purely additive over disjoint batches (each doc tokenizes in
    // exactly one batch; this is the streaming build of the Tokens
    // ingest artifact every positional operator serves from) — plus the
    // (doc_id, source) metadata frame (st31's class). The lexicon is a
    // GLOBAL top-4 and so cannot finalize before the stream drains:
    // serving runs the shared `taggedSpansFrom` + `taggingReport` over
    // the folded index, answering x216's oracle VERBATIM — the honest
    // contract is "the index folds incrementally, lexicon selection and
    // dominance run at serve", the same shape as st33's scheduled
    // retrain over an incrementally-maintained feature store.
    //
    // Scale: per-batch work ∝ batch tokens (one tokenize pass,
    // map-side, identity merge); state ∝ corpus tokens — but that state
    // IS the ingest artifact a batch pipeline persists anyway, appended
    // at O(Δ) per batch. Serving is x216's plan: position equi-joins,
    // broadcast top-4 lexicon, bounded ±2-offset dominance join.
    QueryDef("st35_stream_tagging",
      graft.operators.Tokens.x216OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(ixDir, mdDir) =
          fresh(d, "documents", "sttag_ix_v1", "sttag_md_v1")
        val index = new StateFold.Log(ixDir, identity)
        val meta = new StateFold.Log(mdDir, identity)
        drain(replay(ss, stage)) { batch =>
          index.add(batch.select(col("doc_id"),
            posexplode(graft.functions.Text.tokens(col("text")))
              .as(Seq("i", "word"))))
          meta.add(batch.select(col("doc_id"), col("source")))
        }
        graft.operators.Tokens.taggingReport(
          graft.operators.Tokens.taggedSpansFrom(index.state(ss)),
          meta.state(ss))
      }
    },

    // STREAMING SPAN DEDUP — the Δ-SERVICEABLE arm of the r14 substring
    // story, the SEVENTEENTH Δ-maintained family. The exact suffix tier
    // (x220–x224) rebuilds whole per corpus content — suffix arrays do
    // not merge incrementally (the slcp artifact's inline cadence
    // contract) — so the APPEND path a live corpus needs is exactly
    // x41's gram-granular approximation, kept current here: document
    // micro-batches fold the (doc_id, i, word) positional index O(Δ)
    // (per-doc computable, purely additive — st35's state class; this
    // IS the ingest artifact, shared shape with the batch Tokens
    // table), and the serve reassembles per-doc token arrays and runs
    // the SHARED spanDedupFrom — first-corpus-occurrence keep-first
    // over 5-grams — answering x41's oracle VERBATIM. A duplicate span
    // split across batches cuts exactly as the batch plan cuts it,
    // because the decision runs on the converged index, not per batch.
    //
    // Scale: per-batch work ∝ batch tokens (one tokenize pass,
    // map-side, identity merge); serve is x41's plan — a gram-keyed
    // first-occurrence window + bounded explode + doc-keyed splice —
    // over state that grows only with the corpus. Between exact suffix
    // rebuilds (x224's cadence), THIS is the dedup decision a live
    // ingest pipeline serves.
    QueryDef("st36_stream_span_dedup",
      graft.operators.Corpus.x41OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(ixDir) = fresh(d, "documents", "stspan_ix_v1")
        val index = new StateFold.Log(ixDir, identity)
        drain(replay(ss, stage)) { batch =>
          index.add(batch.select(col("doc_id"),
            posexplode(graft.functions.Text.tokens(col("text")))
              .as(Seq("i", "word"))))
        }
        val base = index.state(ss)
          .groupBy(col("doc_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("i"), col("word")))),
            x => x.getField("word")).as("ws"))
        graft.operators.Corpus.spanDedupFrom(base)
      }
    },

    // FRONTIER-CHASE STREAMING CC — st22 with the per-batch state READ
    // made ∝ the affected frontier too (VERDICT r14 item 2: st22's
    // read stays nodes-sized because a single (node, comp) table gives
    // no way to find "every member of component X" without scanning
    // all labels). The device is a SECOND keyed store — the
    // component-membership inverted index mem(comp → node), partitioned
    // by comp-hash — so a batch resolves in two pruned hops: (1) read
    // ONLY the lab partitions holding the batch's endpoints → endpoint
    // labels; (2) contract batch edges to a batch-sized comp graph and
    // converge it (the "iterate to fixpoint" runs HERE, on the
    // contraction, never against state — prior labels are canonical
    // min-ids, so the mapping closes transitively in one pass); (3)
    // read ONLY the mem partitions holding relabeled comps → exactly
    // the nodes that must relabel. Writes rewrite only touched
    // partitions in both stores. Per-batch I/O: read ∝ endpoint
    // partitions + affected-component partitions, write ∝ relabeled
    // nodes — never total state on either side. The price is the
    // second store (2× state storage + a second overwrite per batch):
    // st22 remains the single-store variant; SCALING.md r15 carries the
    // measured comparison. Min-label canonicalization keeps the fold
    // order- and slicing-insensitive exactly as st22's; the converged
    // labels answer the batch x146 oracle verbatim. Read-pruning is
    // journal-pinned in Round15Spec (kind "keyed-read"). The two-store
    // fold is made REPLAY-SAFE by the cross-store intent marker
    // (ADVICE r15): a crash or foreachBatch retry between the lab and
    // mem overwrites is detected at the next batch and mem's affected
    // partitions are rebuilt from lab — Round16Spec pins that a
    // desynced mem with a pending intent heals and the subsequent
    // merge still reaches every member.
    QueryDef("st37_stream_cc_frontier",
      graft.operators.Corpus.x146OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageCcEdgesSplit(ss, d)
        val Seq(labDir, memDir) =
          fresh(d, "documents", "stccf_lab_v1", "stccf_mem_v1")
        drain(replay(ss, stage))(frontierCcBatch(_, labDir, memDir))
        graft.operators.Corpus.ccReport(
          KeyedFold.readAll(ss, labDir,
            ss.read.parquet(stage).select(col("src").as("node"),
              col("src").as("comp"))))
      }
    },

    // DUAL-ARM STREAMING CONTAMINATION SERVE (VERDICT r15 item 1) — the
    // serving pattern that composes the repo's two contamination arms
    // with their freshness contracts: the exact suffix tier rebuilds
    // whole on a cadence (the slcp artifact — stale-but-exact between
    // rebuilds), while st32's gram state folds O(Δ) per micro-batch
    // (fresh-but-approximate). The EIGHTEENTH Δ-maintained family.
    // Per-batch folds, all purely additive (each doc lands in exactly
    // one batch): per-train-doc 5-grams (doc-attributed so the serve
    // can split them at the as-of — the inverted gram list st32's plain
    // gram SET cannot provide), positioned eval 5-grams (st32's eval
    // state verbatim), and the per-doc (is_train, n_tokens) metadata
    // frame. The serve reads the slcp artifact (content-keyed to the
    // corpus the stream has converged to — at convergence the cadence's
    // as-of IS the full corpus, self-described by the artifact's doc
    // set) and runs [[graft.operators.Tokens.dualArmContam]]: exact
    // spans from the artifact's frontier, gram spans from only the hit
    // pairs the artifact cannot see — both fresh branches provably (and
    // actually) empty on the converged stream, so the answer is x225's
    // oracle VERBATIM, while the SAME code path serves mid-cadence with
    // fn = 0 (Round16Spec's cross-batch pin: a train/eval pair split
    // across micro-batches is caught by the fresh arm before any
    // rebuild, and tightens to the exact spans after it). This is the
    // incremental-freshness model of the reference's re-run pipeline
    // (etl.py:380-381) applied to the decontamination instrument.
    //
    // Scale: per-batch work ∝ batch text (one shared contamGrams pass,
    // map-side); train-gram state ∝ corpus grams (doc-attributed — the
    // price of as-of splits; compaction dedups within doc), eval state
    // ∝ eval tokens; the serve is artifact-scan + gram semi-joins —
    // never a corpus text rescan.
    QueryDef("st38_stream_contam_dual",
      graft.operators.Tokens.x225OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(tgDir, egDir, mdDir) = fresh(d, "documents",
          "stdual_tg_v1", "stdual_eg_v1", "stdual_md_v1")
        val trainGrams = new StateFold.Log(tgDir, _.distinct())
        val evalGrams = new StateFold.Log(egDir, identity)
        val meta = new StateFold.Log(mdDir, identity)
        drain(replay(ss, stage)) { batch =>
          val cg = graft.operators.Mining.contamGrams(batch)
            .localCheckpoint() // both gram folds share one text pass
          trainGrams.add(cg.filter(col("is_train"))
            .select(col("doc_id"), col("g")).distinct())
          evalGrams.add(cg.filter(!col("is_train"))
            .select(col("doc_id"), col("pos"), col("g")))
          meta.add(batch.select(col("doc_id"),
            (graft.functions.Text.fingerprint(col("text")) % 100 < 90)
              .as("is_train"),
            size(graft.functions.Text.tokens(col("text"))).cast("long")
              .as("n_tokens")))
        }
        // no checkpoint: the artifact is already a stable parquet scan,
        // read once by the frontier and once by the as-of projection
        val lcp = graft.operators.Tokens.suffixLcpArtifact(ss, d)
        val md = meta.state(ss).localCheckpoint() // split + base
        val hp = graft.operators.Tokens.exactContamFrontier(
          graft.operators.Tokens.islandMembers(lcp, 7),
          md.select(col("doc_id"), col("is_train")))
        // the artifact self-describes its as-of: the docs whose suffixes
        // it ranked (every ≥1-token doc as of its build). Checkpointed
        // (r17): both gram tables' as-of joins read it, and each read
        // re-ran the two artifact scans + distinct
        val asOf = lcp.select(col("ad").as("doc_id"))
          .unionByName(lcp.select(col("bd").as("doc_id"))).distinct()
          .localCheckpoint()
        graft.operators.Tokens.dualArmContam(
          hp, asOf,
          trainGrams.state(ss), evalGrams.state(ss),
          md.filter(!col("is_train") && col("n_tokens") >= 1)
            .select(col("doc_id"), col("n_tokens")))
      }
    },

    // STREAMING DEDUP WATERFALL — x231's three-stage curation report
    // kept live as documents arrive: the NINETEENTH Δ-maintained
    // family, composing the repo's streaming state classes in one
    // serve. Per-batch folds, both purely additive (each doc lands in
    // exactly one batch): the per-doc METADATA frame (doc_id, source,
    // md5 content hash, token count — st31's class, one map-side pass)
    // and the per-doc portable-MinHash SIGNATURE rows (doc_id, tri,
    // sig — per-doc pure functions of text, st10's streaming-ingest
    // class; this IS the signature artifact x39's batch pipeline
    // persists, appended O(Δ)). The serve derives stage 1 (keep-min
    // per content hash) from the folded hashes, runs stage 2's banded
    // near-dup rule over the folded signatures scoped to the stage-1
    // survivors (banding + the crowded-bucket cap are corpus
    // properties, so they MUST run at serve — the st35 lexicon
    // contract), takes stage 3's cut counts from the content-keyed
    // wfslcp artifact (the suffix tier's rebuild cadence, as in st38),
    // and feeds the SHARED waterfallRollup — answering x231's oracle
    // VERBATIM on the converged stream.
    //
    // Scale: per-batch work ∝ batch text (hash + tokenize + shingle,
    // map-side); signature state ∝ corpus shingles (the persisted
    // ingest artifact's own size); the serve is one hash agg + the
    // banded candidate join + an artifact scan — no corpus text
    // rescan.
    QueryDef("st39_stream_waterfall",
      graft.operators.Tokens.x231OracleSql) { (s, d) =>
      withStreamingConfs(s) { ss =>
        val stage = stageSplit(ss, d, Artifacts.stageDocsSplit, "doc_id")
        val Seq(mdDir, sgDir) =
          fresh(d, "documents", "stwf_md_v1", "stwf_sg_v1")
        val meta = new StateFold.Log(mdDir, identity)
        val sigs = new StateFold.Log(sgDir, identity)
        drain(replay(ss, stage)) { batch =>
          meta.add(batch.select(col("doc_id"), col("source"),
            md5(col("text")).as("h"),
            size(graft.functions.Text.tokens(col("text"))).cast("long")
              .as("ntok")))
          sigs.add(graft.operators.Dedup.portableSigs(batch))
        }
        val md = meta.state(ss).localCheckpoint()
        val surv = md.groupBy(col("h"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        val ndCas = graft.operators.Dedup.neardupCasualties(
          sigs.state(ss).join(surv, "doc_id"))
        graft.operators.Tokens.waterfallRollup(md, ndCas,
          graft.operators.Tokens.wfslcpArtifact(ss, d))
      }
    }
  )

  /** One single-store CC micro-batch fold (st22's per-batch body,
    * factored in r16 so [[CcScaleBench]] can drive the exact production
    * fold head-to-head with [[frontierCcBatch]] on derived large
    * graphs): read the WHOLE label table, merge the batch's edges, and
    * rewrite only the kh partitions holding changed nodes. */
  private[graft] def singleStoreCcBatch(batch: DataFrame,
      ccDir: String): Unit = {
    val spark = batch.sparkSession
    val prior = KeyedFold.readAll(spark, ccDir,
        batch.select(col("src").as("node"), col("src").as("comp")))
      .localCheckpoint() // read by the merge AND the changed diff
    val next = graft.operators.Corpus
      .ccMergeStep(prior, batch.select(col("src"), col("dst")))
      .localCheckpoint() // sever from the files being replaced
    // changed = new nodes + relabeled nodes; their kh set is the
    // touched-partition list. The overwrite must carry EVERY
    // surviving row of a touched partition, so re-slice `next`
    // by the changed partitions rather than writing `changed`.
    val changed = next.join(prior, Seq("node", "comp"), "left_anti")
    val parts = KeyedFold.touched(changed, Seq("node"))
    val updated = next
      .filter(KeyedFold.kh(Seq(col("node")))
        .isin(parts.map(Integer.valueOf): _*))
    // stableKeys: node-keyed, nodes are never deleted and a node's kh
    // never changes — a touched partition cannot empty (r16: skips the
    // per-batch emptied-partition collect)
    KeyedFold.overwriteTouched(updated, Seq("node"), ccDir, parts,
      stableKeys = true)
  }

  /** One frontier-chase CC micro-batch fold over the two keyed stores
    * (lab: node → comp by node-hash; mem: comp → node by comp-hash) —
    * st37's per-batch body, factored so Round15Spec can drive crafted
    * batches through the exact production fold and pin the pruned read
    * set. See st37's header for the three-hop contract. */
  private[graft] def frontierCcBatch(batch: DataFrame, labDir: String,
      memDir: String): Unit = {
    val spark = batch.sparkSession
    // CRASH RECOVERY (ADVICE r15): a pending intent means a previous
    // batch died between its lab and mem overwrites — the one window
    // replay cannot heal (the re-run would read the merged lab, derive
    // an empty delta, and leave mem desynced forever). Rebuild exactly
    // the intent's mem partitions from lab (mem is lab's inverted
    // index, so the full-lab scan is the repair's whole cost — paid
    // only here, never in steady state), then proceed.
    KeyedFold.pendingIntent(memDir).foreach { parts =>
      val rebuilt = KeyedFold.readAll(spark, labDir,
          batch.select(col("src").as("node"), col("src").as("comp")))
        .select(col("comp"), col("node"))
        .filter(KeyedFold.kh(Seq(col("comp")))
          .isin(parts.map(Integer.valueOf): _*))
        .localCheckpoint() // sever from the files being replaced
      KeyedFold.overwriteTouched(rebuilt, Seq("comp"), memDir, parts)
      KeyedFold.clearIntent(memDir)
    }
    val edges = batch.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint() // endpoints + the contraction both read it
    val endpoints = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // hop 1: endpoint labels from the PRUNED lab slice — ONE outer join
    // carries both the label lookup and the new-node flag (r16: the
    // separate anti-join frame was a second checkpoint per batch)
    val epParts = KeyedFold.touched(endpoints, Seq("node"))
    val labSlice = KeyedFold.readParts(spark, labDir, epParts,
        endpoints.select(col("node"), col("node").as("comp")))
    val epInfo = endpoints.join(labSlice, Seq("node"), "left")
      .select(col("node"), col("comp").as("prior_comp"),
        coalesce(col("comp"), col("node")).as("comp"))
      .localCheckpoint()
    val epLab = epInfo.select(col("node"), col("comp"))
    val newNodes = epInfo.filter(col("prior_comp").isNull)
      .select(col("node"))
    // hop 2: batch-sized comp contraction → transitive merge mapping
    // (prior labels are canonical, so converging the CONTRACTION graph
    // closes the mapping — the fixpoint runs HERE, iterated to a
    // data-derived round count by ccLabelsFix, never against state)
    val dmap = edges
      .join(broadcast(epLab.select(col("node").as("src"),
        col("comp").as("ca"))), "src")
      .join(broadcast(epLab.select(col("node").as("dst"),
        col("comp").as("cb"))), "dst")
      .select(col("ca").as("a"), col("cb").as("b"))
      .filter(col("a") =!= col("b"))
    val cg = dmap.union(dmap.select(col("b").as("a"), col("a").as("b")))
      .distinct().select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint() // components-sized; feeds its own CC fold
    // ccLabelsFix returns a CHECKPOINTED frame — mc/relabelFrom are
    // narrow select/filter views over it, so their own checkpoints (two
    // more jobs per batch) bought nothing (r17)
    val mc = graft.operators.Corpus.ccLabelsFix(cg)
      .select(col("node").as("comp"), col("comp").as("mc"))
    val relabelFrom = mc.filter(col("comp") =!= col("mc"))
    // hop 3: chase ONLY the relabeled comps through the membership
    // store — the read is ∝ partitions holding affected components
    val fromParts = KeyedFold.touched(
      relabelFrom.select(col("comp")), Seq("comp"))
    val memSliceFrom = KeyedFold.readParts(spark, memDir, fromParts,
        relabelFrom.select(col("comp"), col("comp").as("node")))
    // ONE checkpoint materializes both update frames (r17 — was three:
    // relabNodes, newLab, addMem): the tag column splits them back as
    // narrow filter views, addMem is simply the untag'd union, and every
    // downstream broadcast builds from the cached rows instead of
    // re-running the join per consumer
    val updAll = memSliceFrom
      .join(broadcast(relabelFrom), Seq("comp"))
      .select(col("node"), col("mc").as("comp"), lit(0).as("t"))
      .unionByName(newNodes
        .join(broadcast(mc), newNodes("node") === mc("comp"), "left")
        .select(newNodes("node"),
          coalesce(col("mc"), newNodes("node")).as("comp"), lit(1).as("t")))
      .localCheckpoint()
    val relabNodes = updAll.filter(col("t") === 0).drop("t")
    val newLab = updAll.filter(col("t") === 1).drop("t")
    // the mem write set is computed FIRST so the batch can declare its
    // cross-store intent before either store is touched (ADVICE r15 —
    // see KeyedFold.writeIntent's protocol; memParts is non-empty
    // whenever the lab write set is, so the intent covers every batch
    // that mutates state)
    val addMem = updAll.select(col("comp"), col("node"))
    val memParts = KeyedFold.touched(
      relabelFrom.select(col("comp"))
        .union(addMem.select(col("comp"))).distinct(), Seq("comp"))
    if (memParts.nonEmpty) KeyedFold.writeIntent(memDir, memParts)
    // lab overwrite: every surviving row of the touched partitions
    val updNodes = updAll.select("node").distinct()
    val labParts = KeyedFold.touched(updNodes, Seq("node"))
    if (labParts.nonEmpty) {
      val labSurv = KeyedFold.readParts(spark, labDir, labParts, newLab)
      val labUpd = labSurv
        .join(broadcast(relabNodes.select(col("node"),
          col("comp").as("nc"))), Seq("node"), "left")
        .select(col("node"), coalesce(col("nc"), col("comp")).as("comp"))
        .unionByName(newLab)
        .localCheckpoint() // sever from the files being replaced
      // stableKeys: node-keyed, nodes never deleted, kh(node) immutable
      KeyedFold.overwriteTouched(labUpd, Seq("node"), labDir, labParts,
        stableKeys = true)
    }
    // mem overwrite: drop relabeled comps' rows, add the new memberships
    if (memParts.nonEmpty) {
      val memUpd = KeyedFold.readParts(spark, memDir, memParts, addMem)
        .join(broadcast(relabelFrom.select(col("comp"))),
          Seq("comp"), "left_anti")
        .unionByName(addMem)
        .localCheckpoint() // sever from the files being replaced
      KeyedFold.overwriteTouched(memUpd, Seq("comp"), memDir, memParts)
      KeyedFold.clearIntent(memDir)
    }
  }

  /** Stage [[graft.operators.Corpus.ccRawEdges]] as THREE batch files
    * (sliced on the generating hash — deterministic, SF-invariant) for
    * st22's file-stream source. Content-keyed on documents.parquet. */
  private[graft] def stageCcEdgesSplit(s: SparkSession, dir: String): String =
    stageSlices(java.nio.file.Paths.get(Artifacts.stageCcSplit.path(dir)),
      Seq(0, 1, 2).map(par => graft.operators.Corpus.ccRawEdges(s, dir)
        .filter(expr("(h div 3) % 3") === par)
        .select(col("src"), col("dst"))))()

  /** One Misra-Gries MERGE step (Agarwal et al. PODS'12 mergeable
    * summaries): given combined (word, cnt) counters, subtract the
    * (k+1)-th largest count from every counter and keep the strictly
    * positive ones — at most k survive (ties with the pivot reduce to
    * zero), each under-estimating its true count by at most the total
    * decrement mass n/k. Only the PIVOT needs a rank: it comes from
    * x64's salted two-level top-(k+1) (per-salt prune → k+1-row global
    * window), so the batch-vocabulary-sized counter set is never sorted
    * on one partition — the survivors are then a broadcast-pivot filter.
    * Exposed for Round7Spec's small-k guarantee pin (the fixture
    * vocabulary never overflows k=256, so the production path exercises
    * the empty-pivot branch). */
  private[graft] def mgReduce(counts: DataFrame, k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val local = counts
      .withColumn("salt", pmod(xxhash64(col("word")), lit(32)))
      .withColumn("rn1", row_number().over(
        W.partitionBy(col("salt")).orderBy(col("cnt").desc, col("word"))))
      .filter(col("rn1") <= k + 1)
    val kth = local
      .withColumn("rn", row_number().over(
        W.orderBy(col("cnt").desc, col("word"))))
      .filter(col("rn") === k + 1)
      .select(col("cnt").as("sub"))
    // left join on TRUE: when ≤ k entries exist the pivot is EMPTY and
    // the decrement is zero — a crossJoin would silently drop every row
    counts.join(broadcast(kth), lit(true), "left")
      .withColumn("adj", col("cnt") - coalesce(col("sub"), lit(0L)))
      .filter(col("adj") > 0)
      .select(col("word"), col("adj").as("cnt"))
  }
}
