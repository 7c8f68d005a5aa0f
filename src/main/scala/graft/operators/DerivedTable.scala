package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Artifacts.Family

/** Content-keyed persisted derived tables — the ingest-time artifacts of a
  * production pipeline (matviews, ANN indexes, dedup signature tables,
  * trained profiles). Built once per source CONTENT (same invalidation
  * contract as [[Matview.factPath]]: the key covers size+mtime, so a
  * regenerated source rebuilds instead of serving stale data), then read
  * back with [[graft.Publish.read]]. Only input-side structures are
  * persisted this way — never query results. Each builder names its
  * artifact by a [[graft.Artifacts]] family, which fixes the source table,
  * the directory name and the versions, and registers it with the vacuum.
  */
object DerivedTable {

  def apply(s: SparkSession, srcDir: String, family: Family,
      partCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val out = family.path(srcDir)
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
