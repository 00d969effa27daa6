package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The one protocol every parquet SIDECAR of a store follows — file-
  * stats bands, key blooms and IVF postings — and the only module
  * that knows where they live and how they are written.
  *
  * Layout: `<store>/_stats/filestats` (stats rows keyed by manifest
  * entry `file`), `<store>/_bloom/keybloom` (one bloom per (field,
  * file), the file path-normalized), `<store>/_vecindex/postings`
  * (posting rows keyed by manifest `entry`) beside the pinned
  * `_vecindex/centroids`. Underscore directories: [[Snapshots.vacuum]]'s
  * root-level `.parquet` sweep never touches them.
  *
  * Append: a refresh scans only keys the sidecar does not cover yet
  * (every refresher emits a marker row per scanned key, so an all-null
  * or empty file is covered too) and APPENDS their rows as a new
  * generation part — O(new files) per refresh. Sound because rows are
  * write-once per key and every reader merges by plain union
  * ([[ParquetRead]]`(spark, dir)` sees all parts, under the schema of
  * the first part's footer, the one Spark's inference reads — so a
  * sidecar's parts share one row shape).
  *
  * Fold: once a directory holds more than [[MaxParts]] data parts,
  * [[append]] rewrites the generations as one part — amortized
  * O(sidecar / MaxParts) per refresh. The caller's `transform` may
  * drop rows during the fold (vanished-file pruning).
  *
  * Replace: every whole-content rewrite — the fold, a rebuild, a
  * retired field, a prune — goes through [[replace]]'s stage-and-swap:
  * write `<dir>__tmp` fully, delete the live directory, rename. A crash
  * before the swap leaves the live sidecar intact and a stale tmp that
  * the next replace deletes first.
  *
  * Prune: rows whose key no committed manifest (or listing) holds any
  * more are harmless to every reader — pruning always intersects the
  * live set — but cost sidecar bytes. [[keepLive]] is the one
  * broadcast semi-join that drops them, during a fold or in
  * [[prune]]. */
private[sources] object SidecarDelta {

  /** Generations folded once a sidecar directory exceeds this many
    * data parts — bounds reader fan-in (and stale-row carry) while
    * keeping the steady-state refresh O(new files). */
  val MaxParts = 16

  def statsPath(root: Path): Path =
    new Path(new Path(root, "_stats"), "filestats")
  def bloomPath(root: Path): Path =
    new Path(new Path(root, "_bloom"), "keybloom")
  def vecDir(root: Path): Path = new Path(root, "_vecindex")
  def postingsPath(root: Path): Path = new Path(vecDir(root), "postings")
  def centroidsPath(root: Path): Path =
    new Path(vecDir(root), "centroids")

  /** Visible data parts in `dir` (committed parquet parts only —
    * `_temporary`/`_SUCCESS`/checksum files excluded). */
  def dataParts(fs: FileSystem, dir: Path): Int =
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Add `rows` as one generation part (creating the sidecar when it
    * does not exist); once the directory holds more than
    * [[MaxParts]] parts, fold them into one, with `transform`
    * dropping rows during the fold. */
  def append(spark: SparkSession, fs: FileSystem, dir: Path,
      rows: DataFrame,
      transform: DataFrame => DataFrame = identity): Unit = {
    rows.coalesce(1).write.mode("append").parquet(dir.toString)
    if (dataParts(fs, dir) > MaxParts)
      replace(fs, dir,
        transform(ParquetRead(spark, dir.toString)).coalesce(1))
  }

  /** Replace the sidecar's whole content with `rows` by stage-and-
    * swap. `rows` may read the live directory: the tmp is fully
    * written before the live directory is deleted. */
  def replace(fs: FileSystem, dir: Path, rows: DataFrame): Unit = {
    val tmp = new Path(dir.getParent, dir.getName + "__tmp")
    fs.delete(tmp, true)
    rows.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(dir, true)
    require(fs.rename(tmp, dir), s"rename failed replacing $dir")
  }

  /** Rows of `df` whose `key` is in `live` — a broadcast semi-join
    * (the live set is O(files), driver-held either way). */
  def keepLive(df: DataFrame, key: Column, live: Set[String]): DataFrame = {
    import df.sparkSession.implicits._
    df.join(broadcast(live.toSeq.toDF("__live")), key === col("__live"),
      "left_semi")
  }

  /** Drop the rows whose `key` column is not in `live` (evaluated
    * only when the sidecar exists), as one part. ONE count action
    * decides the no-op. Returns rows dropped. */
  def prune(spark: SparkSession, fs: FileSystem, dir: Path, key: String,
      live: => Set[String]): Long = {
    if (!fs.exists(dir)) return 0L
    import spark.implicits._
    val keys = live
    val existing = ParquetRead(spark, dir.toString)
    val dropped = existing.join(broadcast(keys.toSeq.toDF("__live")),
      col(key) === col("__live"), "left_anti").count()
    if (dropped > 0L)
      replace(fs, dir, keepLive(existing, col(key), keys).coalesce(1))
    dropped
  }
}
