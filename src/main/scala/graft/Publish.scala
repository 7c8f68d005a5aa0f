package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic build-once publication for warehouse artifacts (VERDICT r11
  * item 1). The legacy pattern — `write.mode("overwrite")` straight into
  * the final directory, readers gating on `_SUCCESS` — made two JVMs
  * racing on one content key corrupt each other (the documented cause of
  * the st14 false red, previously mitigated only by a "never run Verify
  * and tests concurrently" protocol rule). Here every builder writes into
  * a process-unique sibling temp directory and rename(2)s it into place:
  * readers see either nothing (and build) or a COMPLETE artifact, never a
  * partial one, and a builder that loses the race discards its temp and
  * reads the winner's identical output (builders are deterministic per
  * content key, so any winner's artifact is THE artifact).
  *
  * Scale: rename is atomic on POSIX filesystems and HDFS within one
  * directory — the warehouse root — which is exactly where both temp and
  * final live. Object stores without atomic rename need a manifest-commit
  * layer (Delta/Iceberg's job); `SPARK_GRAFT_WAREHOUSE` should point at a
  * rename-capable mount, same caveat as [[Warehouse]]'s scaladoc.
  */
object Publish {

  /** True when `out` holds a complete published artifact (its completion
    * marker is only ever visible post-rename, so this can't see a torn
    * write from a live builder). */
  def isPublished(out: String, marker: String = "_SUCCESS"): Boolean =
    Files.exists(Paths.get(out, marker))

  /** Wall-seconds spent ACTUALLY BUILDING artifacts through [[once]] in
    * this JVM (already-published no-ops cost nothing and add nothing).
    * Bench snapshots this around its warmup and around each timed query
    * (VERDICT r15 item 5) so the headline number's cold/warm
    * composition is explicit: a query whose timed window includes an
    * artifact build shows it in the JSON's artifact_build map instead
    * of silently inflating the round total. */
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def buildSeconds: Double = buildNanos.get / 1e9

  /** Build-once: if `out` is already published, no-op; otherwise run
    * `build` against a process-unique temp path and atomically rename it
    * to `out`. `build` must leave `marker` in the temp dir (Spark's
    * parquet writer emits `_SUCCESS` itself; non-Spark builders can ask
    * [[once]] to stamp it via `stampMarker = true`). Safe under any number
    * of concurrent builders in any number of JVMs: exactly one rename
    * wins, every loser deletes its temp and the subsequent read serves
    * the winner. */
  def once(out: String, marker: String = "_SUCCESS",
      stampMarker: Boolean = false)(build: String => Unit): Unit = {
    if (isPublished(out, marker)) return
    val t0 = System.nanoTime()
    val tmp = Paths.get(
      out + ".build-" + java.util.UUID.randomUUID().toString.take(8))
    try {
      build(tmp.toString)
      if (stampMarker && !Files.exists(tmp.resolve(marker)))
        Files.createFile(tmp.resolve(marker))
      require(Files.exists(tmp.resolve(marker)),
        s"builder for $out did not produce completion marker $marker")
      rename(tmp, Paths.get(out), marker)
    } finally {
      deleteTree(tmp) // no-op for the winner (tmp moved away)
      buildNanos.addAndGet(System.nanoTime() - t0); ()
    }
  }

  /** Inferred schema per published `out`, stamped with its `_SUCCESS`
    * marker's mtime and file key. */
  private val schemas =
    new ConcurrentHashMap[String, ((AnyRef, AnyRef), StructType)]()

  /** Read the published parquet artifact at `out`. Its schema is inferred
    * once per publication and passed to later reads with `.schema`, so a
    * warm read starts no schema-inference job. Only the `StructType` is
    * memoised: files are listed fresh on every read. Sound because a
    * published artifact is immutable until it is deleted, and a
    * republication writes a new marker, whose mtime and file key start a
    * new memo entry. Throws when `out` has no `_SUCCESS` marker. */
  def read(s: SparkSession, out: String): DataFrame = {
    val attrs = Files.readAttributes(Paths.get(out, "_SUCCESS"), classOf[BasicFileAttributes])
    val stamp = (attrs.lastModifiedTime, attrs.fileKey)
    schemas.get(out) match {
      case (`stamp`, schema) => s.read.schema(schema).parquet(out)
      case _ =>
        val inferred = s.read.parquet(out)
        schemas.put(out, (stamp, inferred.schema))
        inferred
    }
  }

  /** rename(2) `tmp` onto `out`. A directory rename fails when the target
    * exists, which disambiguates the two non-clean cases: a COMPLETE
    * target means another builder won the race (discard tmp); an
    * INCOMPLETE target can only be a remnant of a crashed pre-atomic
    * (legacy direct-write) build — clear it and retry once. */
  private def rename(tmp: Path, out: Path, marker: String): Unit =
    try { Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE); () }
    catch {
      case _: java.nio.file.FileSystemException =>
        if (!Files.exists(out.resolve(marker))) {
          deleteTree(out)
          try { Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE); () }
          catch {
            case _: java.nio.file.FileSystemException
                if Files.exists(out.resolve(marker)) => // raced again; lost
          }
        }
    }

  /** Recursive delete; tolerates the path not existing (and files
    * vanishing underneath — another cleaner may race this one). The
    * stream pipeline wraps a concurrent-deletion NoSuchFileException in
    * UncheckedIOException (ADVICE r12), so both shapes are absorbed. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    catch {
      case _: java.nio.file.NoSuchFileException =>
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
    }
    finally s.close()
  }

  /** Per-JVM scratch token: streaming state directories (per-run
    * read-modify-write scratch, NOT build-once artifacts) live under a
    * [[Scratch]] root suffixed with this, so two JVMs replaying the same
    * streaming query at the same content key never share mutable state —
    * the other half of the st14 race. Within one JVM the token is stable,
    * so a query's own reset-then-fold cycle over its state directories
    * is unaffected. Stale scratch from dead JVMs is swept by
    * [[operators.ArtifactVacuum]]. */
  lazy val runToken: String =
    java.util.UUID.randomUUID().toString.take(8)
}

/** Per-JVM root for MUTABLE per-run state (streaming read-modify-write
  * scratch). Build-once artifacts stay directly under [[Warehouse]] and
  * publish atomically via [[Publish.once]]; scratch instead gets process
  * isolation — each JVM mutates only its own subtree, so the cross-JVM
  * overwrite race cannot exist by construction. On a cluster this is the
  * per-job checkpoint/state directory every streaming job already owns
  * privately; Structured Streaming's own state stores follow the same
  * one-writer-per-query rule. */
object Scratch {

  lazy val root: String = {
    val p = java.nio.file.Paths.get(
      Warehouse.root, s"graft_scratch_r${Publish.runToken}")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Absolute path of a named per-run scratch directory. */
  def path(name: String): String =
    java.nio.file.Paths.get(root, name).toString
}
