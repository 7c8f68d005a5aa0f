package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-keyed persisted derived tables — the ingest-time artifacts of a
  * production pipeline (matviews, ANN indexes, dedup signature tables,
  * trained profiles). Built once per source CONTENT (same invalidation
  * contract as [[Matview.factPath]]: the key covers size+mtime, so a
  * regenerated source rebuilds instead of serving stale data), then read
  * back with [[graft.Publish.read]]. Only input-side structures are
  * persisted this way — never query results.
  */
object DerivedTable {

  /** Global schema epoch — bump only for changes that touch EVERY builder
    * (e.g. the key format itself). Per-builder logic changes bump the
    * caller's `builderVersion` instead (ADVICE r05), so invalidation is
    * local: editing the k-means updater can't serve stale centroids, and
    * bumping it doesn't throw away every other derived table. The cache
    * key covers source content but cannot see code — without a version a
    * warehouse dir from an older build would be served verbatim. */
  private val codeVersion = 3 // v3: langprof gained the top-K cap

  /** Current on-disk directory name for a builder's artifact — the name
    * [[ArtifactVacuum]] treats as LIVE for a given source content key. */
  private[graft] def dirName(tag: String, builderVersion: Int,
      key: String): String =
    s"graft_${tag}_v${codeVersion}_b${builderVersion}_$key"

  /** Everything before the content key — one builder family's namespace
    * at the CURRENT code/builder version; older-version generations share
    * the `graft_<tag>_` stem but not this prefix. */
  private[graft] def livePrefix(tag: String, builderVersion: Int): String =
    dirName(tag, builderVersion, "")

  def apply(s: SparkSession, srcDir: String, srcTable: String, tag: String,
      partCols: Seq[String] = Nil, builderVersion: Int = 1)
      (build: => DataFrame): DataFrame = {
    val key = graft.ContentKey.key(
      java.nio.file.Paths.get(srcDir, s"$srcTable.parquet"))
    val out = graft.Warehouse.path(dirName(tag, builderVersion, key))
    // Atomic build-once (VERDICT r11 item 1): the builder writes into a
    // process-unique temp dir and rename(2)s it into place, so concurrent
    // builders in other threads/JVMs either win the rename or discard
    // their temp and read the winner — never a torn artifact.
    graft.Publish.once(out) { tmp =>
      val w = build.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp)
    }
    graft.Publish.read(s, out)
  }
}
