package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone maps (per-file min/max statistics) + range-pruned reads — the
  * data-skipping half of the clustering story ([[ZOrder]] writes files
  * so key ranges are narrow; THIS is the read side that cashes that
  * in). The same idea Parquet applies per row-group, surfaced at file
  * granularity where an engine can act on it before planning the scan:
  * a predicate on the zone-map key reads only the files whose range
  * intersects it.
  *
  * Scale shape: the zone map is O(#files) rows — metadata, not data
  * (a 100 TB table at 512 MB/file is ~200k rows; the build is one
  * map-side-combined agg over the table, paid at write time alongside
  * the clustered write). Pruning collects the FILE LIST only (the
  * bounded-metadata pattern, same class as k-means centroids), then
  * hands Spark the surviving paths; the exact predicate is re-applied
  * after the read, so pruning can only remove provably-disjoint files —
  * the result is byte-equal to the unpruned filter no matter how the
  * table was laid out. */
object ZoneMap {

  /** One pass over a written table: (path, lo, hi, rows) per file for
    * a long-typed `keyCol`. Run at write time, persist next to the
    * table (a [[MergeUpsert.publishPlain]] artifact in production). */
  def stats(df: DataFrame, keyCol: String): DataFrame =
    // decoded path, not input_file_name()'s URI-encoded form — a table
    // path with a space/'%' must re-read by its literal on-disk name
    // (same fix class as TableManifest.decodeUri)
    df.groupBy(TableManifest.decodeUri(input_file_name()).as("path"))
      .agg(min(col(keyCol)).cast("long").as("lo"),
        max(col(keyCol)).cast("long").as("hi"),
        count(lit(1)).as("rows"))

  /** Cluster-write `df` by range of `keyCol` into `numFiles` files —
    * what makes zone ranges narrow and pruning selective. (For
    * multi-column predicates, cluster by [[ZOrder.zValueRanged]]
    * instead; the zone map itself is layout-agnostic.) */
  def clusterWrite(df: DataFrame, keyCol: String, numFiles: Int,
                   path: String): Unit =
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.parquet(path)

  /** Files kept / files total by a pruned read — the skipping
    * evidence a spec (or an ops dashboard) asserts on. */
  final case class PruneReport(filesTotal: Int, filesKept: Int)

  /** Read only the files whose [lo, hi] zone intersects [lo, hi] of
    * the predicate, then re-apply the exact `between` — exactness
    * never depends on the zone map being right, only the skipping
    * does. Returns the pruned frame plus the skipping evidence. */
  def prunedRead(spark: SparkSession, zoneMap: DataFrame, keyCol: String,
                 lo: Long, hi: Long): (DataFrame, PruneReport) = {
    // one row per FILE — bounded metadata, not table data
    val files = zoneMap.select("path", "lo", "hi").collect()
    val kept = files.filter(r => r.getLong(1) <= hi && r.getLong(2) >= lo)
      .map(_.getString(0))
    require(files.nonEmpty, "zone map is empty — stats() saw no files")
    val df =
      if (kept.isEmpty)
        // all files pruned: an empty frame with the right schema
        spark.read.parquet(files.head.getString(0))
          .filter(lit(false))
      else spark.read.parquet(kept.toIndexedSeq: _*)
    (df.filter(col(keyCol).between(lo, hi)),
      PruneReport(files.length, kept.length))
  }
}
