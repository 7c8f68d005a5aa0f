package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, Publish, SparkEntry, Warehouse}

/** Benchmark JVM: one closed-loop client drives one workload against the
  * engine's public entry points and writes `<out>/result.json`.
  *
  * Usage: `graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR`
  *
  * A run is: set-up (timed [[SetupReps]] times, median reported), one cold
  * pass, the workload's `warmupPasses` warm-up passes (the cold and the
  * first warm-up pass write their outputs for the correctness check), then
  * the whole passes that end nearest to `seconds`. With
  * `--trace 1` the same run also records spans and listener counters.
  */
object Main {
  /** The first repetition also pays for JVM and Spark warm-up and is the
    * slowest, so the nearest-rank median of three is the slower of the two
    * warm repetitions. */
  final val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val root = Paths.get(Warehouse.root)
    require(listDir(root).isEmpty, s"warehouse $root must start empty")
    val trace = kv("trace") == "1"
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(kv("out"), "spark-warehouse").toString)
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanTimes].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = if (trace) Some(new LayerStats) else None
    stats.foreach(spark.sparkContext.addSparkListener)

    val r = new Runner(spark, kv("data"), kv("out"), kv("seed").toLong,
      kv("seconds").toDouble, new Tracer(trace), stats)
    val w: Workload = kv("workload") match {
      case "dashboard" => new Dashboard(r)
      case "batch"     => new Batch(r)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = r.run(w)
    val pw = new java.io.PrintWriter(Paths.get(kv("out"), "result.json").toFile, "UTF-8")
    try pw.print(org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    finally pw.close()
    spark.stop()
  }

  def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    listDir(from).filter(Files.isRegularFile(_))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}

/** One timed operation of the client. */
final case class OpRecord(phase: String, pass: Int, kind: String, name: String,
    ms: Double, ok: Boolean)

/** A workload: a seeded plan of operations, run in passes. */
trait Workload {
  /** Op kinds whose latencies make `op_mean_ms`, `op_p50_ms`, `op_p95_ms`. */
  def primary: Set[String]
  /** The generated inputs, printed so a run can be re-checked. */
  def plan: Map[String, Any]
  /** One pass over the plan. Outputs go to `results` for the correctness
    * check (cold and first warm-up pass), else to the noop sink. */
  def pass(index: Int, results: Option[Path]): Unit
  /** Warm-up passes before the timed window; the first one is checked, the
    * rest go to the noop sink. A count, not a time: the engine retains a
    * little heap per query run, so `heap_live_mb` follows the number of
    * passes, which must not depend on how fast the host is. */
  def warmupPasses: Int = 1
  /** Workload-specific figures for the report (medians per op kind, ...). */
  def extra(timed: Seq[OpRecord]): Map[String, Any] = Map.empty
  /** What the Python side checks against DuckDB. */
  def checks: Map[String, Any]
  /** Per-layer counters only this workload knows, from the timed window's
    * spans (trace mode). */
  def layers(timed: Seq[Span], passes: Int): Map[String, Double] = Map.empty
}

/** Shared run loop, timing, failure accounting and tracing. */
final class Runner(val spark: SparkSession, val baseData: String, val out: String,
    val seed: Long, seconds: Double, val tracer: Tracer, stats: Option[LayerStats]) {
  import Main._

  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  private var phase = "setup"
  private var passIndex = 0
  val resultsDir: Path = Paths.get(out, "results")
  var data: String = baseData

  /** Times `body` as one client operation; a throw is recorded as a failed
    * operation and the run goes on. */
  def op(kind: String, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { tracer.op(name)(body); true }
    catch {
      case NonFatal(e) =>
        failures += Map("op" -> name, "phase" -> phase, "error" -> e.toString.take(500))
        false
    }
    ops += OpRecord(phase, passIndex, kind, name, (System.nanoTime() - t0) / 1e6, ok)
  }

  /** Runs a query builder and its action: a parquet write into
    * `results/<name>` when the pass is checked, else the noop sink (it
    * executes the full plan, as `graft.Bench` does). */
  def query(kind: String, name: String, results: Option[Path]): Unit = op(kind, name) {
    val df = tracer("operators", name)(SparkEntry.queries(name)(spark, data))
    tracer("exec", name) {
      results match {
        case Some(dir) => df.write.parquet(dir.resolve(name).toString)
        case None      => df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private val uptime = mutable.LinkedHashMap.empty[String, Long]
  def mark(phase: String): Unit =
    uptime(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime

  def run(w: Workload): Map[String, Any] = {
    mark("session")
    // Set-up: the warm warehouse every workload starts from (daily
    // dimension + fact matview), built on a fresh copy of the tables each
    // time so every repetition builds from nothing.
    var counts = Map.empty[String, Long]
    val setup = (0 until SetupReps).map { k =>
      val d = Paths.get(out, s"tables-setup$k")
      copyTree(Paths.get(baseData), d)
      data = d.toString
      timeS { counts = new Engine(spark, data).runEtl(s"$out/setup-etl$k") }
    }
    mark("setup")
    phase = "cold"
    val coldS = timeS(w.pass(0, Some(resultsDir.resolve("cold"))))
    mark("cold")
    phase = "warmup"
    passIndex = 1
    w.pass(1, Some(resultsDir.resolve("warm")))
    (2 to w.warmupPasses).foreach { _ =>
      passIndex += 1
      w.pass(passIndex, None)
    }
    mark("warmup")
    phase = "timed"
    val before = Snapshot.take(stats)
    val passMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // whole passes, as many as end nearest to `seconds`: the next one runs
    // when it would end closer to `seconds` than the window does now
    while (passMs.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + passMs.last / 2000 < seconds) {
      passIndex += 1
      passMs += timeS(w.pass(passIndex, None)) * 1000
    }
    val windowMs = (System.nanoTime() - t0) / 1e6
    mark("timed")
    val timed = ops.filter(_.phase == "timed").toSeq
    val lat = timed.filter(o => w.primary(o.kind)).map(_.ms)
    val e2e = Map(
      "setup_s" -> median(setup),
      "op_mean_ms" -> lat.sum / math.max(1, lat.size),
      "op_p50_ms" -> median(lat),
      "op_p95_ms" -> quantile(lat, 0.95),
      "pass_s" -> median(passMs.toSeq) / 1000,
      "cold_pass_s" -> coldS)
    val layers = stats.map { s =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val timedSpans = tracer.spans.filter(_.startMs >= before.startMs)
      Snapshot.layers(s, before, timedSpans, windowMs, passMs.size) ++
        w.layers(timedSpans, passMs.size)
    }
    val heapLive = heapLiveMb
    mark("end")
    Map(
      "uptime_ms" -> uptime,
      "workload" -> w.getClass.getSimpleName.toLowerCase,
      "seed" -> seed,
      "plan" -> w.plan,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failures" -> failures.toSeq,
      "e2e" -> e2e,
      "setup_reps_s" -> setup,
      "pass_ms" -> passMs.toSeq,
      "op_ms" -> ops.groupBy(_.name).map { case (n, rs) =>
        n -> Map("cold" -> rs.filter(_.phase == "cold").map(_.ms),
          "timed_median" -> median(rs.filter(_.phase == "timed").map(_.ms).toSeq))
      },
      "n_timed_ops" -> lat.size,
      "extra" -> w.extra(timed),
      "layers" -> layers,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms)),
      "checks" -> (w.checks + ("setup_counts" -> counts)),
      "heap_live_mb" -> heapLive,
      "peak_rss_mb" -> peakRssMb)
  }

  /** Heap still in use after a full collection at the end of the run: the
    * memory the engine retains (caches, broadcasts, state). Unlike the
    * process's peak RSS it does not depend on how far the collector let
    * the heap grow. */
  private def heapLiveMb: Double = {
    // later collections free what Spark's ContextCleaner released after
    // the earlier ones (broadcasts, shuffle metadata)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** High-water resident set of this JVM (Linux `VmHWM`). */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Counter values at the start of the timed window, so the layer figures
  * cover whole timed passes only. */
final case class Snapshot(stats: Map[String, Double], jobs: Int, stages: Int,
    progress: Int, startMs: Long, fold: Int, planMs: Long, buildS: Double,
    artifacts: Int, artifactBytes: Long)

object Snapshot {
  import Main._

  private def counters(s: LayerStats): Map[String, Double] = s.synchronized {
    Map(
    "exec.stages" -> s.stages.toDouble,
    "exec.tasks" -> s.tasks.toDouble,
    "exec.failed_tasks" -> s.failedTasks.toDouble,
    "exec.cpu_s" -> s.cpuNs / 1e9,
    "exec.gc_s" -> s.gcMs / 1e3,
    "exec.shuffle_read_mb" -> s.shuffleRead / 1e6,
    "exec.shuffle_write_mb" -> s.shuffleWrite / 1e6,
    "exec.spill_mb" -> s.spill / 1e6,
    "tables.bytes_read" -> s.inputBytes.toDouble,
    "tables.rows_read" -> s.inputRows.toDouble,
    "stream.queries" -> s.queriesStarted.toDouble)
  }

  /** Warehouse entries other than the per-run streaming scratch root. */
  private def artifacts: Seq[Path] =
    listDir(Paths.get(Warehouse.root))
      .filterNot(_.getFileName.toString.startsWith("graft_scratch"))

  private def artifactBytes: Long = artifacts.map(treeBytes).sum

  def take(stats: Option[LayerStats]): Snapshot = stats match {
    case None => Snapshot(Map.empty, 0, 0, 0, 0L, 0, 0L, 0.0, 0, 0L)
    case Some(s) =>
      org.apache.spark.BenchBus.drain(org.apache.spark.SparkContext.getOrCreate())
      // locals, not arguments: a monitor block needs an empty operand stack
      val jobs = s.synchronized(s.jobs.size)
      val stages = s.synchronized(s.completed.size)
      val progress = s.synchronized(s.progress.size)
      Snapshot(counters(s), jobs, stages, progress,
        System.currentTimeMillis(), graft.streaming.StateFold.events.size,
        PlanTimes.totalMs, Publish.buildSeconds,
        artifacts.size, artifactBytes)
  }

  /** Per-pass layer figures over the timed window. */
  def layers(s: LayerStats, b: Snapshot, timedSpans: Seq[Span], windowMs: Double,
      passes: Int): Map[String, Double] = {
    val n = passes.toDouble
    val now = counters(s)
    val delta = now.map { case (k, v) => k -> (v - b.stats(k)) / n }
    val jobs = s.synchronized(s.jobs.drop(b.jobs).toSeq)
    val opsIv = timedSpans.filter(_.layer == "operators").map(x => (x.startMs, x.endMs))
    val inOps = jobs.count { case (a, _) => opsIv.exists { case (x, y) => a >= x && a <= y } }
    val prog = s.synchronized(s.progress.drop(b.progress).toSeq)
    def dur(key: String) = prog.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    val trig = prog.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
    val streamOps = timedSpans.filter(x => x.layer == "operators" && x.name.startsWith("st"))
    val fold = graft.streaming.StateFold.events.drop(b.fold)
    val self = Tracer.selfMs(timedSpans)
    delta ++ Map(
      "exec.jobs" -> jobs.size / n,
      "exec.driver_gap_ms" -> (windowMs - Tracer.unionLength(jobs)) / n,
      "exec.task_skew" -> s.taskSkew(b.stages),
      "exec.failed_tasks" -> (now("exec.failed_tasks") - b.stats("exec.failed_tasks")),
      "operators.build_ms" -> timedSpans.filter(_.layer == "operators").map(_.ms).sum / n,
      "operators.build_jobs" -> inOps / n,
      "plans.plan_ms" -> (PlanTimes.totalMs - b.planMs) / n,
      "self.client_ms" -> self.getOrElse("client", 0.0) / n,
      "self.engine_ms" -> self.getOrElse("engine", 0.0) / n,
      "self.operators_ms" -> self.getOrElse("operators", 0.0) / n,
      "self.exec_ms" -> self.getOrElse("exec", 0.0) / n,
      "stream.batches" -> prog.size / n,
      "stream.query_planning_ms" -> dur("queryPlanning") / n,
      "stream.latest_offset_ms" -> dur("latestOffset") / n,
      "stream.wal_commit_ms" -> dur("walCommit") / n,
      "stream.add_batch_ms" -> dur("addBatch") / n,
      "stream.outside_trigger_ms" -> (streamOps.map(_.ms).sum - trig.sum) / n,
      "stream.input_rows" -> prog.map(_.numInputRows.toDouble).sum / n,
      "stream.microbatch_p50_ms" -> median(trig),
      "stream.microbatch_p95_ms" -> quantile(trig, 0.95),
      "statefold.appends" -> fold.count(_.kind == "append") / n,
      "statefold.compactions" -> fold.count(_.kind == "compact") / n,
      "statefold.scratch_mb" -> treeBytes(Paths.get(graft.Scratch.root)) / 1e6,
      "publish.build_s" -> (Publish.buildSeconds - b.buildS) / n,
      "publish.artifacts" -> (artifacts.size - b.artifacts) / n,
      "publish.bytes_written" -> (artifactBytes - b.artifactBytes) / n)
  }
}
