package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Flagship, Matview}

/** Benchmark main — reproduces the reference's `performance_test.py`
  * methodology (3 timed runs per config, warm engine) on Spark, hardened
  * for noisy hosts: configs run interleaved round-robin and report the
  * min-of-3 (the mean let one GC pause swing the headline 4×):
  *
  *  - config "base":  flagship join-aggregate computed from base tables
  *    (reference config 1, no physical design);
  *  - config "fact":  the same-shaped aggregate served from the precomputed
  *    denormalized fact parquet (reference configs 3/4) — must be faster,
  *    mirroring the reference's matview/fact speedup expectation
  *    (BASELINE.md).
  *
  * Also times every declared query once (after a warmup that absorbs
  * JVM/codegen startup) and prints the driver-contract JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // noop sink executes the FULL declared plan — a count() would let the
    // optimizer delete final sorts and unused projections and under-measure
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // a failed query stays visible on stderr (stdout carries only the two
    // JSON lines); the timed loop still reports it as -1.0
    def failed(name: String, e: Throwable): Unit =
      System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")

    // Warmup: one untimed pass of every query at the benchmark SF —
    // absorbs JVM/classloader/codegen startup, populates the OS page
    // cache, and builds the one-time physical layouts (matview, w01/w02
    // partitioned+bucketed tables), so the timed runs measure steady-state
    // serving (reference methodology: warm connection,
    // performance_test.py:38-46).
    // SPARK_GRAFT_ONLY=q01,x56 (dev loop only — unset in driver runs)
    // restricts warmup + timing to the named queries for quick iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // The warmup pass IS the artifact pre-warm (VERDICT r15 item 5):
    // every content-keyed DerivedTable / matview / staged layout builds
    // here, outside the timed loop. The Publish.buildSeconds snapshots
    // make that explicit in the JSON: warmup reports how many seconds
    // went to builds, and the per-query artifact_build map shows any
    // residual build that still ran inside a timed window (expected ≈ 0
    // on a warm warehouse; non-zero entries explain headline drift
    // without re-measurement).
    val wb0 = Publish.buildSeconds
    val warmupSec = time {
      selected.foreach { case (name, fn) =>
        try run(fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(e) => failed(name, e) } // OOM etc must fail loudly
      }
    }
    val warmupBuild = Publish.buildSeconds - wb0

    // performance_test.py configs: join-from-base (config 1) vs precomputed
    // denormalized fact (config 4) vs aggregate matview (config 3).
    // Interleaved round-robin + min-of-3: a single GC/compaction pause on a
    // busy host inflates one sample 2-3× (same rationale as the per-query
    // min-of-2 below), and a plain sequential mean let exactly one such
    // pause swing the headline speedup 4× between rounds (r2 vs r3 measured
    // IDENTICAL base code at 0.54 s vs 2.07 s). Interleaving spreads any
    // transient across all three configs; min is the reproducible cost.
    Matview.factPath(spark, sfDir) // build once, outside timing
    val cfgSamples = (1 to 3).map { _ =>
      (time { run(Flagship(spark, sfDir)) },
        time { run(SparkEntry.queries("q25_fact_serving")(spark, sfDir)) },
        time { run(SparkEntry.queries("q52_agg_matview")(spark, sfDir)) })
    }
    val baseCfg = cfgSamples.map(_._1).min
    val factCfg = cfgSamples.map(_._2).min
    val mvCfg = cfgSamples.map(_._3).min

    // min of 2 runs per query: GC/compaction noise on a busy host inflates
    // single samples by 2-3×; the min is the reproducible cost.
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val b0 = Publish.buildSeconds
      val t = try (1 to 2).map(_ => time { run(fn(spark, sfDir)) }).min
        catch { case scala.util.control.NonFatal(e) => failed(name, e); -1.0 }
      (name, t, Publish.buildSeconds - b0)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // artifact-build seconds that executed INSIDE a timed window (both
    // min-of-2 samples pooled) — ≈ empty on a warm warehouse; entries
    // here are the cold-start component of this pass's headline number
    val ab = results.filter(_._3 > 0.01)
      .map { case (k, _, b) => "\"" + k + "\":" + f"$b%.3f" }
      .mkString("{", ",", "}")
    val abTotal = results.map(_._3).sum
    val total = results.map(_._2).filter(_ >= 0).sum
    // A zero factCfg would interpolate Infinity (invalid JSON) — emit 0.
    val speedup = if (factCfg > 0) baseCfg / factCfg else 0.0
    val speedupMv = if (mvCfg > 0) baseCfg / mvCfg else 0.0
    val configs =
      s"""{"base_join_3run_min":$baseCfg,"fact_serving_3run_min":$factCfg,"speedup":$speedup,"agg_matview_3run_min":$mvCfg,"speedup_matview":$speedupMv}"""
    val hygiene =
      s"""{"warmup_sec":${f"$warmupSec%.1f"},"warmup_artifact_build_sec":${
        f"$warmupBuild%.1f"},"timed_artifact_build_sec":${
        f"$abTotal%.2f"},"artifact_build":$ab}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"configs":$configs,"hygiene":$hygiene,"sf":"$sfDir"}""")
    // Compact totals record printed LAST (VERDICT r8 item 5): the driver
    // archives only the final ~2000 bytes of output, which truncates the
    // per-query map mid-JSON — this self-contained line is small enough
    // to always survive the tail, so the round total, query count, and
    // config comparison stay recoverable from BENCH_r{N}.json alone.
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${results.size},"configs":$configs,"timed_artifact_build_sec":${f"$abTotal%.2f"},"warmup_sec":${f"$warmupSec%.1f"},"sf":"$sfDir"}""")
    spark.stop()
  }
}
