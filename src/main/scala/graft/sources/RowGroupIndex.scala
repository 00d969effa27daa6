package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Secondary data-skipping index + selector algebra — the one
  * petastorm optimization Catalyst does not provide
  * (etl/rowgroup_indexing.py:37-158, rowgroup_indexers.py,
  * selectors.py:32-100).
  *
  * Spark-first shape: the index maps `field value → files containing
  * it` at *file* granularity (the reference indexes row groups — a
  * materialize with row-group-sized files makes these coincide, see
  * [[GraftRead]] doc). Build is one distributed aggregation over
  * `(value, input_file_name)`; the result is a small parquet sidecar.
  * Applying a selector shrinks the scan's file list *before* Spark
  * plans it — data skipping beyond what min/max footer stats can do
  * (e.g. membership of specific values in unordered columns).
  */
object RowGroupIndex {

  /** What to index. `arrayField`: index every element of an array
    * column (SingleFieldIndexer's array mode, rowgroup_indexers.py:
    * 58-66). `notNull`: index only presence of non-null values
    * (FieldNotNullIndexer, :78-124). */
  final case class Indexer(field: String, arrayField: Boolean = false,
      notNull: Boolean = false)

  /** Build the sidecar at `indexUrl`: rows (field, value, files).
    * For `notNull` indexers, value is the constant "__notnull__". */
  def build(spark: SparkSession, datasetUrl: String,
      indexers: Seq[Indexer], indexUrl: String): Unit = {
    val df = ParquetRead(spark, dataFiles(spark, datasetUrl))
      .withColumn("__file", input_file_name())
    val parts = indexers.map { ix =>
      val projected =
        if (ix.arrayField)
          // generators can't nest in expressions: explode first
          df.select(lit(ix.field).as("field"),
              explode(col(ix.field)).as("__v"), col("__file"))
            .select(col("field"), col("__v").cast("string").as("value"),
              col("__file"))
        else {
          val value =
            if (ix.notNull) when(col(ix.field).isNotNull, lit("__notnull__"))
            else col(ix.field).cast("string")
          df.select(lit(ix.field).as("field"), value.as("value"), col("__file"))
        }
      projected.filter(col("value").isNotNull)
        .groupBy("field", "value")
        .agg(collect_set(col("__file")).as("files"))
    }
    val dir = new Path(indexUrl)
    SidecarDelta.replace(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir,
      parts.reduce(_.unionByName(_)))
  }

  /** Selector algebra over the index (selectors.py:32-100): resolves
    * to the set of files that may contain matching rows. */
  sealed trait Selector {
    def files(index: DataFrame): Set[String]
  }
  /** Any of `values` present in `field` (SingleIndexSelector). */
  final case class ValueIn(field: String, values: Seq[Any]) extends Selector {
    def files(index: DataFrame): Set[String] =
      index.filter(col("field") === field &&
          col("value").isin(values.map(_.toString): _*))
        .select(explode(col("files"))).distinct()
        .collect().map(_.getString(0)).toSet
  }
  /** Field has at least one non-null (FieldNotNullIndexer read). */
  final case class NotNull(field: String) extends Selector {
    def files(index: DataFrame): Set[String] =
      ValueIn(field, Seq("__notnull__")).files(index)
  }
  /** AND across selectors (IntersectIndexSelector). */
  final case class Intersect(sels: Seq[Selector]) extends Selector {
    def files(index: DataFrame): Set[String] =
      sels.map(_.files(index)).reduce(_ intersect _)
  }
  /** OR across selectors (UnionIndexSelector). */
  final case class Union(sels: Seq[Selector]) extends Selector {
    def files(index: DataFrame): Set[String] =
      sels.map(_.files(index)).reduce(_ union _)
  }

  /** The subset of the dataset's files the selector admits — the
    * data-skipping decision, exposed so callers/tests can assert the
    * scan actually shrank. */
  def selectedFiles(spark: SparkSession, datasetUrl: String,
      indexUrl: String, selector: Selector): Seq[String] = {
    val index = ParquetRead(spark, indexUrl)
    val keep = selector.files(index).map(norm)
    dataFiles(spark, datasetUrl).filter(f => keep.contains(norm(f)))
  }

  /** The data files an index covers: a plain store's listing, or a
    * [[Snapshots]] store's retained manifests' data files (its root
    * also holds debris and the half-written files of running writes). */
  private def dataFiles(spark: SparkSession,
      datasetUrl: String): Seq[String] = {
    val vs = Snapshots.versions(spark, datasetUrl)
    if (vs.isEmpty) Materialize.listParquetFiles(spark, datasetUrl)
    else {
      // qualified, like the listing: sidecar rows key qualified paths
      val (fs, root) = Snapshots.fsOf(spark, datasetUrl)
      Snapshots.liveEntries(spark, datasetUrl, vs)
        .map(e => Snapshots.splitEntry(e)._1).distinct.sorted
        .map(n => new Path(fs.makeQualified(root), n).toString)
    }
  }

  /** Bloom file index — the data-skipping index for HIGH-CARDINALITY
    * fields, where [[build]]'s exact value→files map would be
    * vocabulary-sized: ONE Bloom filter per (field, file), so the
    * sidecar is file-count-sized no matter how many distinct values
    * the field carries (a doc-id index over 100 TB is ~bytes·files,
    * not ~rows). Skipping is a SUPERSET guarantee at the filter's
    * fpp — a probed file may be a false positive but never a false
    * negative — so callers keep their row-level filter and results
    * stay exact; fpp only costs extra files scanned.
    *
    * Build shape: per-partition partial blooms per file (a task
    * folds only the rows it already reads), merged per (field, file)
    * — no per-file single-task funnel, shuffle carries bloom bytes
    * per partition. `expectedPerFile` sizes the filter (Spark's
    * BloomFilter merge requires identical geometry, so it is pinned
    * in the sidecar's build, not guessed per file). */
  def buildBloom(spark: SparkSession, datasetUrl: String,
      fields: Seq[String], indexUrl: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    require(fields.nonEmpty, "buildBloom needs fields")
    val files = dataFiles(spark, datasetUrl)
    val dir = new Path(indexUrl)
    SidecarDelta.replace(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir,
      bloomRowsFor(spark, files, fields, expectedPerFile, fpp))
  }

  /** Incremental bloom refresh for append-only/merged stores: only
    * files ABSENT from the existing index are scanned and bloomed,
    * and their rows APPEND as a new generation part
    * ([[SidecarDelta]]) — O(new files) scanned AND written per call,
    * so batch k of a landing stream costs O(new files), not O(store).
    * Rows for files that vanished (compaction, vacuumed
    * [[Snapshots.upsert]] rewrites) are harmless to every probe
    * (pruning intersects the live listing) and are dropped when the
    * generation fold runs. Geometry (`expectedPerFile`, fpp) must
    * match the original build (Spark bloom merge and probe semantics
    * are geometry-bound); `fields` must equal the built fields —
    * enforced against the sidecar's existing field set.
    *
    * A missing index falls back to a full [[buildBloom]]. */
  def updateBloom(spark: SparkSession, datasetUrl: String,
      fields: Seq[String], indexUrl: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit =
    refreshBloom(spark, datasetUrl, indexUrl, _ => Some(fields),
      expectedPerFile, fpp): Unit

  /** [[updateBloom]] with its field set chosen off the refresher's
    * own covered-set read: `fieldsFor` gets the indexed field set
    * (empty without an index) and returns the fields to index, or
    * None to skip (nothing scanned or written). Returns whether it
    * refreshed. */
  private[sources] def refreshBloom(spark: SparkSession,
      datasetUrl: String, indexUrl: String,
      fieldsFor: Set[String] => Option[Seq[String]],
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Boolean = {
    val idxPath = new Path(indexUrl)
    val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(idxPath)) fieldsFor(Set.empty) match {
      case Some(f) =>
        buildBloom(spark, datasetUrl, f, indexUrl, expectedPerFile, fpp)
        return true
      case None => return false
    }
    val known = ParquetRead(spark, indexUrl).select("field", "file")
      .collect().map(r => (r.getString(0), norm(r.getString(1)))).toSet
    val knownFields = known.map(_._1)
    val fields = fieldsFor(knownFields) match {
      case Some(f) => f
      case None => return false
    }
    require(fields.toSet == knownFields || knownFields.isEmpty,
      s"field set ${fields.sorted} != indexed ${knownFields.toSeq.sorted}" +
        " — rebuild with buildBloom")
    val current = dataFiles(spark, datasetUrl)
    val fresh = current.filter(f =>
      fields.exists(fl => !known.contains((fl, norm(f)))))
    if (fresh.nonEmpty) {
      // the fold keeps live files' rows only, joined on the
      // normalized path: rows already store `Path.toUri.getPath`
      // ([[bloomRowsFor]]); the regexp strips a URI scheme/authority
      // the same way, as the probe side's normalization does
      val fileNorm = regexp_replace(col("file"),
        "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "")
      SidecarDelta.append(spark, fs, idxPath,
        bloomRowsFor(spark, fresh, fields, expectedPerFile, fpp),
        df => SidecarDelta.keepLive(df, fileNorm, current.map(norm).toSet)
          .dropDuplicates("field", "file"))
    }
    true
  }

  /** The shared per-file bloom build over an explicit file list
    * ([[buildBloom]]'s body, reusable for incremental refresh).
    *
    * COVERAGE CONTRACT: emits exactly ONE row per (field, file) pair
    * scanned — a pair whose column is entirely null gets an EMPTY
    * geometry-consistent bloom (admits nothing, which is correct: an
    * all-null file cannot contain any probe value). Without the
    * marker, [[updateBloom]] would re-classify such a file as fresh
    * on every refresh — rescanned each time, with duplicate rows for
    * its other fields accumulating unboundedly. File names are
    * stored path-normalized (`Path.toUri.getPath`) so the marker
    * seeding and `input_file_name()`'s URI form key identically. */
  private def bloomRowsFor(spark: SparkSession, files: Seq[String],
      fields: Seq[String], expectedPerFile: Long,
      fpp: Double): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val df = ParquetRead(spark, files)
      .withColumn("__file", input_file_name())
    val parts = fields.map { f =>
      df.select(col("__file"), col(f).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("field", lit(f))
    }
    val all = parts.reduce(_.unionByName(_))
    import spark.implicits._
    val partials = all.mapPartitions { it =>
      val blooms = scala.collection.mutable.HashMap
        .empty[(String, String), BloomFilter]
      it.foreach { r =>
        val key = (r.getString(2),
          new Path(r.getString(0)).toUri.getPath)
        val bf = blooms.getOrElseUpdate(key,
          BloomFilter.create(expectedPerFile, fpp))
        bf.putString(r.getString(1))
      }
      blooms.iterator.map { case ((fld, file), bf) =>
        (fld, file, graft.codecs.BloomBytes.toBytes(bf))
      }
    }
    // one zero-length-bytes marker per (field, file) pair seeds the
    // reduce — the sentinel is the identity of the merge, and any
    // pair that saw no values surfaces as exactly one empty bloom
    // row (materialized per-task from geometry, not shipped per-row)
    val markers = spark.createDataset(
      for { fl <- fields; f <- files }
        yield (fl, norm(f), Array.empty[Byte]))
    partials.union(markers)
      .groupByKey { case (fld, file, _) => (fld, file) }
      .reduceGroups { (a, b) =>
        if (a._3.isEmpty) b
        else if (b._3.isEmpty) a
        else {
          val x = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(a._3))
          val y = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(b._3))
          x.mergeInPlace(y)
          (a._1, a._2, graft.codecs.BloomBytes.toBytes(x))
        }
      }
      .map(_._2)
      .map { case (fld, file, bytes) =>
        if (bytes.nonEmpty) (fld, file, bytes)
        else (fld, file, graft.codecs.BloomBytes.toBytes(
          BloomFilter.create(expectedPerFile, fpp)))
      }
      .toDF("field", "file", "bloom")
  }

  /** Files a bloom index admits for `field IN values` — every file
    * whose filter might contain ANY of the values (union semantics,
    * mirroring [[ValueIn]]), mapped from [[bloomProbe]]'s names to
    * the dataset's paths. */
  def bloomSelectedFiles(spark: SparkSession, datasetUrl: String,
      indexUrl: String, field: String, values: Seq[Any]): Seq[String] = {
    val keep = bloomProbe(spark, indexUrl, field, values)._1
    dataFiles(spark, datasetUrl).filter(f => keep(new Path(f).getName))
  }

  /** One sidecar scan answering BOTH upsert questions: (flat names of
    * the files a bloom might-contain ANY probe value in, flat names
    * of every file the sidecar covers). The coverage half feeds the
    * staleness guard ([[Snapshots.upsert]]) without re-reading the
    * sidecar — on a 100k-file store the index scan + driver collect
    * happens once per merge, not twice. Probing runs where the
    * sidecar rows live; only (name, admitted) pairs reach the
    * driver, and nothing lists the store. */
  def bloomProbe(spark: SparkSession, indexUrl: String, field: String,
      values: Seq[Any]): (Set[String], Set[String]) = {
    import org.apache.spark.util.sketch.BloomFilter
    val probes = values.map(_.toString).toArray
    val idx = ParquetRead(spark, indexUrl)
      .filter(col("field") === field)
    import spark.implicits._
    val rows = idx.mapPartitions { it =>
      it.map { r =>
        val bf = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        (new Path(r.getAs[String]("file")).getName,
          probes.exists(bf.mightContainString))
      }
    }.collect()
    (rows.collect { case (f, true) => f }.toSet, rows.map(_._1).toSet)
  }

  /** Path key that compares `input_file_name()` URIs and Hadoop Path
    * strings, whose scheme renderings differ (file:/// vs file:/). */
  private def norm(s: String): String = new Path(s).toUri.getPath

  /** File names (flat, no directory) the bloom sidecar covers for
    * `field` — every file with an index row, including the empty-
    * bloom markers. O(files) driver-side; the staleness guard
    * [[Snapshots.upsert]] needs: a live file ABSENT here was never
    * indexed and cannot be bloom-pruned. */
  def bloomCoveredFiles(spark: SparkSession, indexUrl: String,
      field: String): Set[String] =
    ParquetRead(spark, indexUrl)
      .filter(col("field") === field)
      .select(col("file")).distinct().collect()
      .map(r => new Path(r.getString(0)).getName)
      .toSet

  /** Read scanning only bloom-admitted files (superset at fpp —
    * callers still apply the row filter; see [[buildBloom]]). Plain
    * stores only: a [[Snapshots]] store refuses (read it through
    * [[GraftRead]]). */
  def readBloomSelected(spark: SparkSession, datasetUrl: String,
      indexUrl: String, field: String, values: Seq[Any]): DataFrame = {
    refuseSnapshotStore(spark, datasetUrl, "readBloomSelected",
      "bloomIndex")
    readFiles(spark, datasetUrl,
      bloomSelectedFiles(spark, datasetUrl, indexUrl, field, values))
  }

  /** Read the dataset scanning ONLY files the selector admits.
    * Returns an empty DataFrame (with the right schema) when the
    * selector admits nothing. The selected files are a superset
    * guarantee: rows matching the selector's semantics are all in
    * them — callers still apply their row-level filter. Plain
    * stores only: a [[Snapshots]] store refuses (read it through
    * [[GraftRead]]). */
  def readSelected(spark: SparkSession, datasetUrl: String,
      indexUrl: String, selector: Selector): DataFrame = {
    refuseSnapshotStore(spark, datasetUrl, "readSelected", "index")
    readFiles(spark, datasetUrl,
      selectedFiles(spark, datasetUrl, indexUrl, selector))
  }

  /** `selected` files of a plain store; none selected reads 0 rows. */
  private def readFiles(spark: SparkSession, datasetUrl: String,
      selected: Seq[String]): DataFrame =
    if (selected.isEmpty)
      ParquetRead(spark, Materialize.listParquetFiles(spark, datasetUrl),
        Map("basePath" -> datasetUrl)).limit(0)
    else ParquetRead(spark, selected, Map("basePath" -> datasetUrl))

  /** The index reads list the store's root, and a [[Snapshots]] root
    * holds every version's files until [[Snapshots.vacuum]] — an
    * upserted key would come back with both its old and new value.
    * [[GraftRead]] intersects the admitted files with the head
    * manifest, so it is the index read for such a store. */
  private def refuseSnapshotStore(spark: SparkSession, url: String,
      method: String, readerMethod: String): Unit =
    require(Snapshots.versions(spark, url).isEmpty,
      s"RowGroupIndex.$method reads every file under $url, which is " +
        "a Snapshots store holding dead versions' files — use " +
        s"GraftRead.reader(spark, url).$readerMethod(...).load()")
}
