package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned parquet store: MVCC time travel over a plain
  * directory, the capability a 100 TB training corpus needs for
  * reproducible runs ("read the corpus AS OF the snapshot that
  * trained the model") and safe concurrent readers during CDC.
  *
  * The reference has no mutation layer at all — its
  * `materialize_dataset` (etl/dataset_metadata.py:66-103) is
  * write-once, so appending to or compacting one of its stores in
  * place exposes half-done work to in-flight readers. This store
  * removes that limit the lakehouse way (Delta/Iceberg-style,
  * re-derived from first principles):
  *
  *  - Data files are IMMUTABLE once committed. Every mutation writes
  *    new files and a new manifest; nothing is renamed over or
  *    deleted until [[vacuum]].
  *  - A manifest `_snap/v%08d.json` lists the root-relative data
  *    files LIVE at that version. Readers resolve ONE manifest and
  *    read exactly those files — no listing races, no transient
  *    duplicates, snapshot isolation for free.
  *  - Commits are atomic via create-exclusive manifest writes: two
  *    racing writers at the same parent version collide on the same
  *    manifest name and the loser FAILS (optimistic concurrency)
  *    instead of silently interleaving.
  *  - [[vacuum]] is the only delete path: it removes data files
  *    referenced ONLY by versions older than the retention floor,
  *    then the expired manifests. A crash mid-vacuum leaves orphan
  *    files (re-vacuum collects them), never a broken live version.
  *
  * [[upsert]] is the library's only keyed MERGE, [[appendOnce]] the
  * only exactly-once append (the `GraftStream` sinks commit through
  * it) and [[compactSmall]] the only compaction. A plain parquet
  * store cannot be converted in place: once `_snap` exists,
  * [[GraftRead]] resolves through it and no longer sees files a
  * manifest does not list.
  *
  * Scale: a manifest holds file NAMES only — O(files), not O(rows) —
  * and version resolution is a single `_snap` listing. [[upsert]] is
  * copy-on-write over the bloom-admitted affected files, so a CDC
  * batch costs O(changed files) in writes and ZERO disturbance to
  * readers of any existing version.
  */
object Snapshots {

  private val SnapDir = "_snap"

  /** One resolved manifest. `files` are root-relative names.
    * `schema`, when present, is the version's PINNED read schema
    * (Delta-style schema-in-the-log): readers resolve it from the
    * manifest in O(1) instead of merging footers across 100k files,
    * and files written before a column existed read it as NULL.
    *
    * `colmap` maps LOGICAL column names (what the pinned schema and
    * every reader/API sees) to the PHYSICAL names stored inside the
    * parquet files — non-identity entries only, written by
    * [[renameColumn]] (physical names never change once a column is
    * born, so files never rewrite for a rename). `dropped` records
    * physical names retired by [[dropColumn]]; they still occupy
    * bytes in old files (column pruning keeps them unread) and may
    * never be re-born as new columns (a re-used physical name would
    * silently read the dropped column's stale bytes). */
  final case class Snap(version: Int, op: String, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      colmap: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil) {
    /** Physical name of a logical column under this manifest. */
    def phys(logical: String): String =
      colmap.getOrElse(logical, logical)
  }

  private[sources] def fsOf(spark: SparkSession, url: String): (FileSystem, Path) =
    fsOf(spark.sessionState.newHadoopConf(), url)

  private[sources] def fsOf(conf: Configuration, url: String): (FileSystem, Path) = {
    val p = new Path(url)
    (p.getFileSystem(conf), p)
  }

  private def manifestPath(root: Path, v: Int) =
    new Path(new Path(root, SnapDir), f"v$v%08d.json")

  /** All committed versions, ascending (empty for a non-store). */
  def versions(spark: SparkSession, url: String): Seq[Int] =
    versions(spark.sessionState.newHadoopConf(), url)

  private[sources] def versions(conf: Configuration, url: String): Seq[Int] = {
    val (fs, root) = fsOf(conf, url)
    val dir = new Path(root, SnapDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  def latest(spark: SparkSession, url: String): Int = {
    val vs = versions(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    vs.last
  }

  // Manifests are WRITE-ONCE (commit claims the slot exclusively —
  // hard-link/exclusive-rename — and nothing ever rewrites one), so
  // a parsed Snap caches by file identity (path, mtime, length): the
  // Tables schema-cache doctrine applied to the manifest walk. The
  // lifecycle paths re-resolve the same manifests dozens of times
  // per operation (snap → slurp → base64 → DataType.fromJson each
  // call); the cache turns those into one getFileStatus. Bounded
  // LRU; a vacuum-deleted manifest misses getFileStatus and fails
  // exactly as before (no stale resurrection — identity is checked
  // against the live file every call).
  private val SnapCacheMax = 4096
  private val snapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), Snap](
        256, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Snap]): Boolean =
        size() > SnapCacheMax
    })

  /** Resolve one manifest (the whole read path goes through here). */
  def snap(spark: SparkSession, url: String, version: Int): Snap =
    snap(spark.sessionState.newHadoopConf(), url, version)

  private[sources] def snap(conf: Configuration, url: String,
      version: Int): Snap = {
    val (fs, root) = fsOf(conf, url)
    val p = manifestPath(root, version)
    val st =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    require(st.isDefined, s"no snapshot v$version at $url " +
      s"(versions: ${versions(conf, url).mkString(",")})")
    val key = (p.toString, st.get.getModificationTime, st.get.getLen)
    val hit = snapCache.get(key)
    if (hit != null) hit
    else {
      val s = parseManifest(SidecarJson.slurp(fs, p))
      snapCache.put(key, s)
      s
    }
  }

  /** Manifest JSON is self-authored (names come from [[commit]]'s
    * renamer, charset `[A-Za-z0-9._-]`), so a split parse is exact. */
  private def parseManifest(json: String): Snap = {
    def field(k: String): String = {
      val m = ("\"" + k + "\":").r.findFirstMatchIn(json)
        .getOrElse(sys.error(s"manifest missing $k"))
      json.drop(m.end)
    }
    val v = field("version").takeWhile(_.isDigit).toInt
    val op = field("op").drop(1).takeWhile(_ != '"')
    val arr = field("files")
    val body = arr.slice(arr.indexOf('[') + 1, arr.indexOf(']'))
    val files =
      if (body.trim.isEmpty) Seq.empty
      else body.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    // optional pinned schema: base64 of StructType.json (base64's
    // charset has no quotes, so takeWhile is exact)
    val schema = "\"schema\":\"".r.findFirstMatchIn(json).map { m =>
      val b64 = json.drop(m.end).takeWhile(_ != '"')
      org.apache.spark.sql.types.DataType
        .fromJson(new String(java.util.Base64.getDecoder.decode(b64),
          "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    def b64Field(k: String): Option[String] =
      ("\"" + k + "\":\"").r.findFirstMatchIn(json).map { m =>
        new String(java.util.Base64.getDecoder.decode(
          json.drop(m.end).takeWhile(_ != '"')), "UTF-8")
      }
    // colmap: base64 of `logical\tphysical` lines ([[renameColumn]]
    // refuses names carrying tab/newline, so the split is exact)
    val colmap = b64Field("colmap").map(_.split("\n").toSeq
      .filter(_.nonEmpty)
      .map { l => val a = l.split("\t", 2); a(0) -> a(1) }.toMap)
      .getOrElse(Map.empty[String, String])
    val dropped = b64Field("dropped")
      .map(_.split("\n").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    Snap(v, op, files, schema, colmap, dropped)
  }

  /** Atomic commit: stage the manifest under an underscore-invisible
    * temp name, then claim the version slot exclusively.
    *
    * The claim is scheme-aware because "atomic exclusive" differs:
    *  - `file://`: Hadoop's local FS delegates rename to POSIX
    *    rename(2), which silently REPLACES an existing destination —
    *    two writers racing the same version could both pass an
    *    exists() check (TOCTOU) and the second rename would erase
    *    the first manifest, a lost commit. link(2) is the POSIX
    *    primitive with the right semantics: atomic-exclusive (the
    *    loser gets EEXIST) and content-atomic (the linked name
    *    appears fully written). We hard-link tmp → slot and unlink
    *    tmp. Filesystems without hard links fall back to the
    *    exists+rename path below (best-effort, like every local
    *    test harness).
    *  - real Hadoop filesystems (HDFS; ABFS/GCS connectors): rename
    *    onto an existing destination fails atomically in the
    *    namenode/store, so exists+rename keeps the exactly-once
    *    contract there. */
  private[sources] def commit(spark: SparkSession, root: Path,
      version: Int, op: String, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      colmap: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil): Int = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(files.forall(f => !f.contains("/") && !f.contains("\"")),
      "manifest entries must be flat root-relative names")
    val dir = new Path(root, SnapDir)
    fs.mkdirs(dir)
    val schemaField = schema.map { st =>
      val b64 = java.util.Base64.getEncoder
        .encodeToString(st.json.getBytes("UTF-8"))
      s""","schema":"$b64""""
    }.getOrElse("")
    def b64(s: String): String = java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    val colmapField =
      if (colmap.isEmpty) ""
      else s""","colmap":"${b64(colmap.toSeq.sorted
        .map { case (l, p) => s"$l\t$p" }.mkString("\n"))}""""
    val droppedField =
      if (dropped.isEmpty) ""
      else s""","dropped":"${b64(dropped.sorted.mkString("\n"))}""""
    val json = files.sorted
      .map(f => "\"" + f + "\"").mkString(
        s"""{"version":$version,"op":"$op","files":[""", ",",
        s"]$schemaField$colmapField$droppedField}")
    val tmp = new Path(dir, s"_tmp-v$version-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val dst = manifestPath(root, version)
    val claimed =
      if (fs.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          // EEXIST → another writer holds the slot (must precede the
          // generic case: FileAlreadyExistsException IS a
          // FileSystemException)
          case _: java.nio.file.FileAlreadyExistsException => false
          // linkless filesystems (CIFS/FAT/some FUSE): the JDK Unix
          // provider surfaces EOPNOTSUPP/EPERM as FileSystemException,
          // NOT UnsupportedOperationException — fall back to the
          // best-effort exists+rename those mounts always had
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            !fs.exists(dst) && fs.rename(tmp, dst)
        }
      } else !fs.exists(dst) && fs.rename(tmp, dst)
    fs.delete(tmp, false) // no-op if the rename path consumed it
    if (!claimed)
      sys.error(s"concurrent commit lost the race for v$version at $root")
    version
  }

  /** [[commit]] `parent.version + 1` under the parent's column
    * mapping — every derived version except the ones that decide a
    * mapping ([[create]], [[overwrite]], [[restore]],
    * [[renameColumn]], [[dropColumn]], [[cloneStore]] and the SQL
    * `INSERT OVERWRITE`). */
  private[sources] def commitNext(spark: SparkSession, root: Path,
      parent: Snap, op: String, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Int =
    commit(spark, root, parent.version + 1, op, files, Some(schema),
      parent.colmap, parent.dropped)

  /** The one lost-race retry loop. Each attempt lists the versions
    * ONCE and feeds that listing to both `dedup` (a version that
    * already holds this commit, returned as-is) and the parent
    * `write` commits on (its max). Listing twice left an
    * exactly-once hole: a twin could pass the dedup check before its
    * rival's commit landed, then resolve the parent AFTER it landed
    * and commit a second copy into a later free slot with no race to
    * lose. From one listing, seeing the later parent implies seeing
    * the rival's manifest, so `dedup` catches it; not seeing it means
    * both target the same slot and [[commit]]'s exclusive claim
    * decides. Only that lost-race signal retries (at most 16 times):
    * any other failure surfaces on its own attempt with its own
    * cause. */
  private def commitOnHead(spark: SparkSession, url: String)(
      dedup: Seq[Int] => Option[Int])(write: Snap => Int): Int = {
    var attempts = 0
    var out: Option[Int] = None
    while (out.isEmpty) {
      val vs = versions(spark, url)
      require(vs.nonEmpty, s"no snapshot store at $url")
      try out = Some(dedup(vs).getOrElse(
        write(snap(spark, url, vs.max))))
      catch {
        case e: RuntimeException
            if e.getMessage != null && e.getMessage
              .startsWith("concurrent commit lost the race") &&
              attempts < 16 => attempts += 1
      }
    }
    out.get
  }

  /** Write `df`'s rows as `nFiles` immutable data files
    * ([[writeArranged]]) and return the names. `clusterBy`
    * range-partitions instead of round-robin, giving each file a
    * narrow value band — what makes [[indexStats]] pruning actually
    * skip files. */
  private def writeFiles(spark: SparkSession, root: Path, df: DataFrame,
      version: Int, nFiles: Int,
      clusterBy: Option[String] = None,
      colmap: Map[String, String] = Map.empty): Seq[String] =
    writeArranged(spark, root,
      clusterBy
        .map(c => df.repartitionByRange(math.max(1, nFiles), col(c)))
        .getOrElse(df.repartition(math.max(1, nFiles))),
      version, colmap)

  /** [[writeFiles]] for a frame whose partitioning IS the layout
    * (z-order, bin-packing): writes it as-is, one file per
    * partition, straight into the root ([[GraftWriteV2.stage]]).
    * `colmap` renames LOGICAL columns to their PHYSICAL names right
    * before the write (a projection — partitioning survives), so
    * every data file of a renamed store keeps one stable physical
    * schema forever. */
  private[sources] def writeArranged(spark: SparkSession, root: Path,
      arranged0: DataFrame, version: Int,
      colmap: Map[String, String] = Map.empty): Seq[String] = {
    val arranged =
      if (colmap.isEmpty) arranged0
      else arranged0.select(arranged0.columns.toSeq.map(c =>
        col(c).as(colmap.getOrElse(c, c))): _*)
    GraftWriteV2.stage(spark, root, arranged, GraftWriteV2.stemOf(version))
  }

  /** The schema a version's rows read under: the manifest's pinned
    * schema, or (pre-pinning stores) one inferred from its files. */
  private def schemaOf(spark: SparkSession, root: Path,
      s: Snap): org.apache.spark.sql.types.StructType =
    s.schema.getOrElse {
      require(s.files.nonEmpty, s"v${s.version} has no schema source")
      // composite entries infer from their DATA file (the DV sidecar
      // carries positions, not columns)
      ParquetRead(spark, s.files.map(f =>
        new Path(root, splitEntry(f)._1).toString)).schema
    }

  /** Additive schema evolution: base columns keep position and type,
    * genuinely new columns append as NULLABLE (files written before
    * the column existed read it as null). A type change is refused —
    * that is a rewrite ([[overwrite]]), not an evolution. */
  private def evolve(base: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val baseNames = base.fieldNames.toSet
    val addByName = add.fields.map(f => f.name -> f).toMap
    add.fields.filter(f => baseNames.contains(f.name)).foreach { f =>
      require(base(f.name).dataType == f.dataType,
        s"column ${f.name} type changed (${base(f.name).dataType} -> " +
          s"${f.dataType}) — additive evolution only; use overwrite")
    }
    // nullability must stay HONEST, not just the base's claim: a
    // base column the new batch lacks reads as null from the new
    // files, and one the batch carries as nullable may now hold
    // nulls — either way the pinned field must widen to nullable,
    // or the optimizer constant-folds IsNull on it to empty and
    // silently hides rows from null audits.
    val widened = base.fields.map { f =>
      val stillStrict = !f.nullable &&
        addByName.get(f.name).exists(a => !a.nullable)
      f.copy(nullable = !stillStrict)
    }
    org.apache.spark.sql.types.StructType(widened ++
      add.fields.filterNot(f => baseNames.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  // ------------------------------------------------------------------
  // Merge-on-read deletion vectors (position deletes)
  // ------------------------------------------------------------------
  //
  // A COPY-ON-WRITE delete ([[deleteWhere]]) rewrites every file that
  // holds a matching row — the right trade for wide retention sweeps,
  // the wrong one for SPARSE deletes (a 100-row GDPR erasure inside a
  // 100 TB store should not rewrite gigabytes). Merge-on-read records
  // the deleted ROW POSITIONS in a sidecar parquet (the deletion
  // vector) and re-lists the data file with a marker suffix; readers
  // anti-join the positions at scan time and [[purgeDv]] folds the
  // vectors back into plain files when maintenance chooses to pay the
  // rewrite (Delta DVs / Iceberg position deletes, re-derived).
  //
  // A DV'd file appears in the manifest as ONE composite entry
  //   `data.parquet--dv--dvNNNNNNNN-tag.parquet`
  // instead of a side table, which buys two properties for free:
  //  - manifest-diff CDC stays EXACT with zero new logic: a MoR
  //    delete drops the old entry and adds the composite one, so
  //    [[changes]] reads old-effective vs new-effective rows and the
  //    whole-tuple anti-join emits exactly the deleted rows;
  //  - every code path that is NOT deletion-vector-aware fails
  //    LOUDLY (the composite name exists nowhere on disk), never
  //    silently resurrects deleted rows — the silent-empty doctrine
  //    applied to silent-undelete.

  /** Marker splitting a composite manifest entry into its data file
    * and its deletion-vector file. Data files are uuid-named by
    * [[writeArranged]] and can never contain it. */
  private[sources] val DvSep = "--dv--"

  /** (data file, deletion-vector file if any) of a manifest entry. */
  private[sources] def splitEntry(e: String): (String, Option[String]) = {
    val i = e.indexOf(DvSep)
    if (i < 0) (e, None)
    else (e.substring(0, i), Some(e.substring(i + DvSep.length)))
  }

  /** Physical root-relative names an entry references — what
    * [[vacuum]] must keep alive and [[cloneStore]] must link. */
  private[sources] def entryPhysical(e: String): Seq[String] = {
    val (d, dv) = splitEntry(e)
    d +: dv.toSeq
  }

  /** Position columns carried by the DV read path. Underscore-graft
    * names so a store column can never collide silently (refused in
    * [[readEntriesWithPos]]). */
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** The PHYSICAL schema files store under `colmap` (logical field
    * names replaced; types/nullability unchanged). */
  private[sources] def physSchema(
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String])
      : org.apache.spark.sql.types.StructType =
    if (colmap.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = colmap.getOrElse(f.name, f.name))))

  /** Effective rows of `entries` PLUS their physical position
    * ([[DvFileCol]] = data file name, [[DvPosCol]] = row index in
    * it, from the parquet scan's `_metadata` — stable because data
    * files are immutable). Plain entries scan directly; composite
    * entries anti-join their deletion vector's (file, pos) pairs,
    * grouped per DV file so one MoR commit's entries share one scan.
    * Never broadcast-forced: position joins are equi-joins and AQE
    * sizes the small DV side. */
  private def readEntriesWithPos(spark: SparkSession, root: Path,
      entries: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String] = Map.empty): DataFrame = {
    // both name spaces must be clean: a LOGICAL collision would
    // alias wrong, and a PHYSICAL collision (a renamed column whose
    // birth name is a position column) would be overwritten by the
    // metadata projection and read back as file names
    requireUnreserved(schema, colmap, DvFileCol, DvPosCol)
    // scan under the PHYSICAL schema, present LOGICAL names
    val outCols = schema.fieldNames.toSeq.map(l =>
      col(colmap.getOrElse(l, l)).as(l)) ++
      Seq(col(DvFileCol), col(DvPosCol))
    val plain = entries.map(splitEntry).collect { case (d, None) => d }
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty)
      parts += scanWithPos(spark, root, plain, schema, colmap)
        .select(outCols: _*)
    dvGroups(spark, root, entries, schema, colmap).foreach {
      case (_, eff) => parts += eff.select(outCols: _*)
    }
    parts.result().reduce(_ unionByName _)
  }

  private def requireUnreserved(
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String], names: String*): Unit = {
    val taken = schema.fieldNames.toSet ++
      physSchema(schema, colmap).fieldNames
    require(!names.exists(taken),
      s"store schema uses reserved column ${names.mkString("/")} " +
        "(logical or physical)")
  }

  /** Data files scanned under the PHYSICAL schema, with their
    * [[DvFileCol]]/[[DvPosCol]] position columns. */
  private def scanWithPos(spark: SparkSession, root: Path,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String]): DataFrame =
    spark.read.schema(physSchema(schema, colmap))
      .parquet(files.map(f => new Path(root, f).toString): _*)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))

  /** The composite entries among `entries`, one frame per deletion
    * vector (sorted by its name): the data files it applies to,
    * scanned with positions, minus the vector's (file, pos) pairs —
    * so one MoR commit's entries share one scan. */
  private def dvGroups(spark: SparkSession, root: Path,
      entries: Seq[String], schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String]): Seq[(String, DataFrame)] =
    entries.map(splitEntry).collect { case (d, Some(dv)) => dv -> d }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (dv, group) =>
        val raw = scanWithPos(spark, root, group.map(_._2), schema,
          colmap)
        val dvDf = ParquetRead(spark, new Path(root, dv).toString)
        dv -> raw.join(dvDf,
          raw(DvFileCol) === dvDf("__dv_file") &&
            raw(DvPosCol) === dvDf("__dv_pos"), "left_anti")
      }

  /** Read the EFFECTIVE rows of manifest entries under `schema`:
    * what a version's rows ARE once deletion vectors apply. Plain
    * entries keep the unchanged single-batch parquet scan (no
    * metadata columns, no join — the pre-DV plan); only composite
    * entries pay the anti-join. */
  private[sources] def readEntriesEff(spark: SparkSession, root: Path,
      entries: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String] = Map.empty): DataFrame = {
    val (dvd, plain) = entries.partition(_.contains(DvSep))
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty) {
      val raw = spark.read.schema(physSchema(schema, colmap))
        .parquet(plain.map(p => new Path(root, p).toString): _*)
      parts += (if (colmap.isEmpty) raw
        else raw.select(schema.fieldNames.toSeq.map(l =>
          col(colmap.getOrElse(l, l)).as(l)): _*))
    }
    if (dvd.nonEmpty)
      parts += readEntriesWithPos(spark, root, dvd, schema, colmap)
        .drop(DvFileCol, DvPosCol)
    parts.result().reduce(_ unionByName _)
  }

  /** Effective rows of `entries` with an extra string column
    * `tagCol` carrying each row's manifest ENTRY name — the
    * per-entry attribution every sidecar builder needs
    * ([[indexStats]], [[VectorIndex.index]]): plain entries tag from
    * `input_file_name`, composite MoR entries tag their data file's
    * name + the vector suffix, so the same data file can carry one
    * sidecar row per DV generation it appears under. */
  private[sources] def readEntriesTagged(spark: SparkSession,
      root: Path, entries: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      tagCol: String,
      colmap: Map[String, String] = Map.empty): DataFrame = {
    requireUnreserved(schema, colmap, tagCol, DvFileCol, DvPosCol)
    val logicalCols = schema.fieldNames.toSeq.map(l =>
      col(colmap.getOrElse(l, l)).as(l))
    val plain = entries.filterNot(_.contains(DvSep))
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty)
      parts += spark.read.schema(physSchema(schema, colmap))
        .parquet(plain.map(f => new Path(root, f).toString): _*)
        .select(logicalCols :+ element_at(
          split(input_file_name(), "/"), -1).as(tagCol): _*)
    dvGroups(spark, root, entries, schema, colmap).foreach {
      case (dv, eff) => parts += eff.select(logicalCols :+
        concat(col(DvFileCol), lit(DvSep + dv)).as(tagCol): _*)
    }
    parts.result().reduce(_ unionByName _)
  }

  /** Public effective read of an explicit entry subset (the pruned
    * fact probe [[JoinView.refresh]] runs): `paths` are the strings
    * the pruned-file family returns — absolute path forms whose last
    * segment is the manifest entry. Exactness on a MoR store comes
    * from reading entries, not raw files. */
  def readEntryPaths(spark: SparkSession, url: String, version: Int,
      paths: Seq[String]): DataFrame = {
    val (_, root) = fsOf(spark, url)
    val s = snap(spark, url, version)
    val entries = paths.map(p => new Path(p).getName)
    val unknown = entries.filterNot(s.files.toSet)
    require(unknown.isEmpty,
      s"readEntryPaths: ${unknown.take(3).mkString(",")} not in " +
        s"v$version's manifest")
    val schema = schemaOf(spark, root, s)
    if (entries.isEmpty) readAsOf(spark, url, version).filter(lit(false))
    else readEntriesEff(spark, root, entries, schema, s.colmap)
  }

  /** Write one deletion-vector parquet (`__dv_file` string,
    * `__dv_pos` long) and return its name, prefixed `dv{version}-`.
    * One file per MoR commit: a DV holds the SPARSE delete's positions
    * (16 bytes/row before compression) — a delete wide enough to make
    * this file heavy should have been a copy-on-write
    * [[deleteWhere]], which also resets the read-side join cost. */
  private def writeDv(spark: SparkSession, root: Path, del: DataFrame,
      version: Int): String =
    GraftWriteV2.stage(spark, root, del.repartition(1),
      "dv" + GraftWriteV2.stemOf(version).tail).head

  /** Create version 1 (refuses an existing store). */
  def create(spark: SparkSession, url: String, df: DataFrame,
      nFiles: Int = 8, clusterBy: Option[String] = None): Int = {
    val (fs, root) = fsOf(spark, url)
    require(versions(spark, url).isEmpty,
      s"snapshot store already exists at $url")
    clusterBy.foreach(f => require(df.columns.contains(f),
      s"create: no column $f to cluster on"))
    fs.mkdirs(root)
    // clusterBy writes v1 range-clustered directly — one write
    // instead of create + a full [[cluster]] rewrite when the
    // layout is known up front
    commit(spark, root, 1, "create",
      writeFiles(spark, root, df, 1, nFiles, clusterBy),
      Some(df.schema))
  }

  /** Append-only commit: new files + the parent's, no rewrites.
    * The committed schema is the parent's evolved additively with
    * `df`'s — appending a frame with a NEW column upgrades the
    * store's read schema in the manifest, and every pre-existing
    * file reads the column as null.
    *
    * CONCURRENT-WRITER safe: an append's content does not depend on
    * which head it lands on (new files + whatever the parent lists),
    * so a lost version race retries at the new head instead of
    * failing — many jobs can append to one store simultaneously
    * (the multi-pipeline ingest shape). The one exception: a rename/
    * drop interleaving the race changes the physical names staged
    * files should have been written under — refused loudly. */
  def append(spark: SparkSession, url: String, df: DataFrame,
      nFiles: Int = 8): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    validateBatch(spark, root, url, df)
    val staged = writeFiles(spark, root, df, parent.version + 1,
      nFiles, colmap = parent.colmap)
    commitAppendStaged(spark, root, url, "append", staged, df.schema,
      parent.colmap)
  }

  /** Commit already-staged append files through [[commitOnHead]]
    * (lost version races retry at the re-resolved head) — shared by
    * [[append]] and [[appendOnce]]. `dedupOp`: when set, a version
    * whose op equals it (committed by a racing at-least-once twin)
    * wins and is returned, leaving this call's staged files as
    * vacuum orphans — the exactly-once contract under concurrency. */
  private[sources] def commitAppendStaged(spark: SparkSession,
      root: Path,
      url: String, op: String, staged: Seq[String],
      batchSchema: org.apache.spark.sql.types.StructType,
      stagedColmap: Map[String, String],
      dedupOp: Option[String] = None): Int =
    commitOnHead(spark, url)(vs => dedupOp.flatMap(o =>
        vs.find(v => snap(spark, url, v).op == o))) { parent =>
      // staged files carry stagedColmap's PHYSICAL names; a
      // rename/drop interleaving the race would make them stale
      require(parent.colmap == stagedColmap,
        s"append raced a column-mapping change at $url — " +
          "staged files carry the previous physical names; " +
          "re-run the append")
      commitNext(spark, root, parent, op, parent.files ++ staged,
        evolveFrom(spark, root, parent, batchSchema))
    }

  /** Write-audit-publish append: stage the batch's files, run the
    * caller's `audit` over EXACTLY the rows readers would see (the
    * staged files read back), and commit the manifest only when the
    * audit returns normally. An audit throw aborts the publish —
    * staged files deleted, the store untouched, readers never saw a
    * row. CHECK constraints ([[addConstraint]]) validate per-ROW
    * contracts; this validates whole-BATCH invariants on the actual
    * persisted bytes: row-count bounds, aggregate sanity, key
    * uniqueness against the live version — the audit can join
    * against [[read]] freely, the staged files are invisible to it.
    * A concurrent commit that wins the version race after a passing
    * audit fails this call loudly; its staged files are crash
    * debris [[vacuum]] sweeps. */
  def appendAudited(spark: SparkSession, url: String, df: DataFrame,
      nFiles: Int = 8)(audit: DataFrame => Unit): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    validateBatch(spark, root, url, df)
    val v = parent.version + 1
    val staged = writeFiles(spark, root, df, v, nFiles,
      colmap = parent.colmap)
    // NonFatal only: an executor loss / OOM / interrupt during the
    // audit job is an infrastructure failure, not a data refusal —
    // it propagates as itself (staged files become crash debris
    // vacuum sweeps), never mislabeled as "batch refused"
    try audit(readEntriesEff(spark, root, staged, df.schema,
      parent.colmap))
    catch {
      case scala.util.control.NonFatal(e) =>
        GraftWriteV2.deleteStaged(spark, url, staged)
        throw new IllegalArgumentException(
          s"append audit refused the batch: ${e.getMessage}", e)
    }
    commitNext(spark, root, parent, "append", parent.files ++ staged,
      evolveFrom(spark, root, parent, df.schema))
  }

  /** The schema an append commits: the parent's evolved with the
    * batch's (a parent with no files and no pinned schema — e.g. an
    * empty bootstrap commit — contributes nothing). */
  private[sources] def evolveFrom(spark: SparkSession, root: Path,
      parent: Snap,
      batchSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (parent.files.isEmpty && parent.schema.isEmpty) batchSchema
    else {
      val base = schemaOf(spark, root, parent)
      // a NEW column's physical name = its logical name; it may not
      // collide with a renamed column's physical slot or a dropped
      // column's retired bytes (old files would serve the stale
      // column's values as the new column — the silent-wrong class)
      val clash = reservedPhysical(parent, batchSchema.fieldNames
        .filterNot(base.fieldNames.toSet).toSeq)
      require(clash.isEmpty,
        s"evolution adds ${clash.mkString(",")} whose physical " +
          "name is reserved by a renamed or dropped column — " +
          "choose a different name")
      evolve(base, batchSchema)
    }

  /** The `names` a new column may not take under `parent`: those
    * matching a renamed column's physical slot or a dropped column's
    * retired bytes, CASE-INSENSITIVELY — Spark resolves parquet
    * columns case-insensitively by default, so adding `BAL` after
    * dropColumn(`bal`) would serve the retired bytes as the new
    * column ([[validateBatch]]'s applicability doctrine). */
  private def reservedPhysical(parent: Snap,
      names: Seq[String]): Seq[String] = {
    val reserved = (parent.colmap.values ++ parent.dropped)
      .map(_.toLowerCase).toSet
    names.filter(n => reserved(n.toLowerCase))
  }

  /** Exactly-once append for at-least-once callers (foreachBatch
    * retries, re-run jobs): the commit's `op` field carries
    * `append:<commitKey>`, and a retry whose key already sits in ANY
    * manifest is a no-op returning that version. The key scan reads
    * the manifests we already list for version resolution —
    * O(versions), no data files touched. The loser of a concurrent
    * commit race retries through the same dedup check, so a crash
    * between data-file staging and manifest commit leaves only
    * vacuum-collectable orphans, never duplicate rows. */
  def appendOnce(spark: SparkSession, url: String, df: DataFrame,
      commitKey: String, nFiles: Int = 8): Int = {
    require(commitKey.matches("[A-Za-z0-9_.-]+"),
      s"commitKey '$commitKey' must be [A-Za-z0-9_.-]+")
    val op = s"append:$commitKey"
    val prior = versions(spark, url)
      .find(v => snap(spark, url, v).op == op)
    prior.getOrElse {
      val (_, root) = fsOf(spark, url)
      val parent = snap(spark, url, latest(spark, url))
      validateBatch(spark, root, url, df)
      val staged = writeFiles(spark, root, df, parent.version + 1,
        nFiles, colmap = parent.colmap)
      // race-retrying commit with the key re-checked each attempt:
      // an at-least-once TWIN that won the race makes this call
      // return its version (staged files become vacuum orphans) —
      // exactly-once even under concurrent replays
      commitAppendStaged(spark, root, url, op, staged, df.schema,
        parent.colmap, dedupOp = Some(op))
    }
  }

  /** Replace the live file set wholesale (schema migration, full
    * rewrite) — old versions stay readable until [[vacuum]]. */
  def overwrite(spark: SparkSession, url: String, df: DataFrame,
      nFiles: Int = 8, clusterBy: Option[String] = None): Int = {
    val (_, root) = fsOf(spark, url)
    validateBatch(spark, root, url, df)
    clusterBy.foreach(f => require(df.columns.contains(f),
      s"overwrite: no column $f to cluster on"))
    val v = latest(spark, url) + 1
    commit(spark, root, v, "overwrite",
      writeFiles(spark, root, df, v, nFiles, clusterBy),
      Some(df.schema))
  }

  /** Copy-on-write keyed MERGE, the library's only one: rows whose
    * `keyCol` matches an update are replaced, or deleted when
    * `deleteCol` is true; unmatched updates insert. Duplicate update
    * keys, a null key, a batch of more than `maxKeys` distinct keys
    * and a batch whose columns differ from the store's are refused
    * (`IllegalArgumentException`, nothing committed); a larger batch
    * should compact its changelog first
    * ([[graft.ops.Dedup.compactLatest]]). Affected files are
    * REWRITTEN as new immutable files and the commit lists
    * `unaffected ++ rewritten`. Readers of older versions see
    * nothing; there is no crash window (an uncommitted manifest means
    * the store is still at the parent version, and the orphaned new
    * files are vacuum fodder). With a bloom sidecar the affected set
    * is the bloom-admitted files — O(changed files), the property
    * that makes CDC viable at 100 TB. */
  def upsert(spark: SparkSession, url: String, updates: DataFrame,
      keyCol: String, deleteCol: Option[String] = None,
      bloomIndexUrl: Option[String] = None,
      maxKeys: Int = 1000000,
      expectedParentVersion: Int = -1): Int = {
    val (_, root) = fsOf(spark, url)
    val (parent, storeSchema, affected, rewritten) = stageUpsert(
      spark, url, updates, keyCol, deleteCol, bloomIndexUrl, maxKeys,
      expectedParentVersion)
    commitNext(spark, root, parent, "upsert",
      parent.files.filterNot(affected.toSet) ++ rewritten, storeSchema)
  }

  /** The staging half of [[upsert]]: validate, compute the affected
    * file set, write the rewritten files — but commit NOTHING (the
    * staged files are invisible orphans until a manifest lists
    * them). Shared by [[upsert]] (which commits immediately) and
    * [[upsertTogether]] (which journals first). */
  private[sources] def stageUpsert(spark: SparkSession, url: String,
      updates: DataFrame, keyCol: String, deleteCol: Option[String],
      bloomIndexUrl: Option[String], maxKeys: Int,
      expectedParentVersion: Int)
      : (Snap, org.apache.spark.sql.types.StructType,
         Seq[String], Seq[String]) = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    // optimistic pin for callers whose PRE-CHECKS were computed
    // against a specific head ([[Branch.mergeBack]]'s conflict scan):
    // a commit that interleaved after the checks makes this upsert
    // fail loudly instead of silently landing on unexamined state —
    // together with [[commit]]'s exclusive version claim this closes
    // the check-then-commit window (the loser re-runs its checks)
    require(expectedParentVersion < 0 ||
      parent.version == expectedParentVersion,
      s"upsert: store moved to v${parent.version} past the expected " +
        s"v$expectedParentVersion — re-run the caller's pre-checks")
    // schema from the manifest (or file inference via schemaOf) —
    // never a data read; an all-deleted parent (zero files, pinned
    // schema) accepts re-inserts
    val storeSchema = schemaOf(spark, root, parent)
    val dataCols = storeSchema.fieldNames.toSeq
    val upCols = updates.columns.toSeq.filterNot(deleteCol.contains)
    require(upCols.sorted == dataCols.sorted,
      s"update schema ${upCols.sorted} != store schema ${dataCols.sorted}")
    // The update batch is consumed by multiple actions (the key
    // contract check, the rewrite's union side) — without a persist
    // each one re-executes the caller's whole plan (a CDC feed is
    // several manifest-diff joins; measured 3× the batch plan per
    // upsert on the lifecycle queries). Bounded by the maxKeys
    // contract, so MEMORY_AND_DISK is safe (guide §1.2/§5: reused
    // AND expensive to recompute). The try starts IMMEDIATELY so
    // every exit path — including the contract requires below —
    // reaches the unpersist.
    val up = updates.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action answers both contract questions: group by key and
      // collect (key, multiplicity) — distinct-key cardinality vs
      // maxKeys AND duplicate detection from the same result set (the
      // r19 shape paid a second full pass for `up.count()`).
      val keyRows = up.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__n"))
        .limit(maxKeys + 1).collect()
      require(keyRows.length <= maxKeys,
        s"update batch exceeds maxKeys=$maxKeys distinct keys")
      require(keyRows.forall(_.getLong(1) == 1L),
        s"duplicate $keyCol values in the update batch")
      val keys = keyRows.map(_.get(0)).toSeq
      require(!keys.contains(null), s"null $keyCol in the update batch")
      val affected: Seq[String] = bloomIndexUrl match {
        case Some(idx) =>
          val (selNames, covered) =
            RowGroupIndex.bloomProbe(spark, idx, keyCol, keys)
          // Staleness guard: the sidecar only prunes files it has
          // actually indexed. A live file with NO index row (committed
          // after the last updateBloom — e.g. snapshotSink refreshes
          // stats but not blooms) might hold matching keys, and
          // treating it as unaffected would leave duplicate keys in
          // the new version. Uncovered live files are conservatively
          // affected: correctness never depends on sidecar freshness,
          // pruning quality does. One sidecar scan serves both halves.
          // Blooms index the PHYSICAL data file, so a composite MoR
          // entry probes on its data-file name (conservative: a bloom
          // hit on a DV-deleted row admits the entry, never drops it).
          parent.files.filter { e =>
            val d = splitEntry(e)._1
            selNames.contains(d) || !covered.contains(d)
          }
        case None => parent.files
      }
      val upserts = deleteCol
        .map(d => up.filter(!coalesce(col(d), lit(false))).drop(d))
        .getOrElse(up)
        .select(dataCols.map(col): _*)
      validateBatch(spark, root, url, upserts) // only NEW rows checked
      // anti-join build side from the ALREADY-COLLECTED keys (they
      // are on the driver, bounded by maxKeys) — a broadcast of
      // updates.select(keyCol) would re-execute the batch plan a
      // fourth time for rows we are holding in hand
      val keysDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          keyRows.map(r => org.apache.spark.sql.Row(r.get(0))).toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          updates.schema(keyCol).copy(name = "__mk"))))
      val merged =
        if (affected.isEmpty) upserts
        else readEntriesEff(spark, root, affected, storeSchema,
            parent.colmap)
          .join(broadcast(keysDf), col(keyCol) === col("__mk"),
            "left_anti")
          .unionByName(upserts)
      val v = parent.version + 1
      val rewritten = writeFiles(spark, root, merged, v,
        math.max(1, affected.length), colmap = parent.colmap)
      (parent, storeSchema, affected, rewritten)
    } finally up.unpersist()
  }

  /** Copy-on-write range DELETE — `DELETE FROM store WHERE field
    * BETWEEN lo AND hi` as a NEW version, under the copy-on-write
    * contract of [[deleteWhereCond]] with the range as its band. Rows
    * with a NULL field survive (a range predicate cannot match NULL).
    * Like every range entry point it takes a `Long` range on an
    * integral/date/timestamp field or a `String` range on a string
    * field ([[BandKey]]); any other pairing refuses before anything
    * is read. Returns the committed version, or the current one when
    * no row matches. */
  def deleteWhere[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K): Int =
    rewriteRows(spark, url, "deleteWhere",
      Left(BandKey[K].range(field, lo, hi)), None)

  /** Copy-on-write DELETE — `DELETE FROM store WHERE <any condition>`
    * as a NEW version; the SQL `DELETE FROM` path ([[GraftCatalog]]).
    * This is the one copy-on-write contract every row rewrite
    * ([[deleteWhere]], [[updateWhere]], [[updateWhereCond]]) follows:
    *  - pruning: when the condition is a bound conjunction on one
    *    integral or string column ([[BandRoute.ofExpr]]; the range
    *    flavors pass their range), the `_stats` sidecar prunes the
    *    candidate entries — one O(files) metadata read; otherwise,
    *    or without a sidecar, every entry is a candidate;
    *  - exact attribution: one tagged scan of the candidates (only
    *    the predicate's columns) finds the entries that CONTAIN a
    *    matching row, and only those are rewritten — band-admitted
    *    entries without a match and untouched files re-list as-is;
    *  - clustering: the rewritten rows are range-clustered on the
    *    band field whenever a range is known, so repeated sweeps
    *    never de-cluster the store;
    *  - no-op: when nothing matches, nothing is committed and the
    *    CURRENT version is returned.
    * A row matches only when the condition is TRUE (NULL survives,
    * SQL semantics). Old versions stay readable and the CDC feed
    * sees exactly the changed rows. */
  def deleteWhereCond(spark: SparkSession, url: String,
      cond: Column): Int =
    rewriteRows(spark, url, "deleteWhereCond", Right(cond), None)

  /** Copy-on-write UPDATE — `UPDATE store SET ... WHERE <any
    * condition>` as a NEW version; the SQL `UPDATE` path
    * ([[GraftDml]]). Pruning, attribution, clustering and the no-op
    * follow [[deleteWhereCond]]. `sets` maps EXISTING columns to
    * expressions evaluated on the matched row's PRE-update values;
    * a SET whose type safely upcasts to the pinned column type is
    * cast implicitly, anything lossy refuses ([[upcastSets]]), and
    * the changed rows re-check the store's CHECK constraints. */
  def updateWhereCond(spark: SparkSession, url: String, cond: Column,
      sets: Map[String, Column]): Int =
    rewriteRows(spark, url, "updateWhereCond", Right(cond), Some(sets))

  /** Copy-on-write range UPDATE — `UPDATE store SET c = expr WHERE
    * field BETWEEN lo AND hi` as a NEW version: [[updateWhereCond]]
    * with the range as its band (`"n" -> col("n") + 1` increments;
    * rows with a NULL field never match). Range pairings as
    * [[deleteWhere]]. */
  def updateWhere[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K, set: Map[String, Column]): Int =
    rewriteRows(spark, url, "updateWhere",
      Left(BandKey[K].range(field, lo, hi)), Some(set))

  /** The one copy-on-write row rewrite (contract: [[deleteWhereCond]]).
    * `where` is a known band range or a condition to classify;
    * `sets` None deletes the matching rows, Some updates them. Every
    * refusal (SET policy, range type gate) happens before any read. */
  private def rewriteRows(spark: SparkSession, url: String,
      caller: String, where: Either[BandRange, Column],
      sets: Option[Map[String, Column]]): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val schema = schemaOf(spark, root, parent)
    val casted = sets.map(upcastSets(spark, caller, schema, _))
    val range = where.fold(Some(_), bandOf(spark, schema, _))
    val candidates = range.fold(parent.files)(r =>
      pruneRanges(spark, url, parent, caller, Seq(r)))
    val hit = coalesce(where.fold(_.residual(schema), identity),
      lit(false))
    val affected =
      if (candidates.isEmpty) Nil
      else readEntriesTagged(spark, root, candidates, schema,
          "__graft_cow_entry", parent.colmap)
        .filter(hit).select(col("__graft_cow_entry")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted // O(files) bounded
    if (affected.isEmpty) return parent.version
    rewriteEntries(spark, root, parent, schema,
      if (casted.isEmpty) "delete" else "update", affected,
      range.map(_.field)) { rows =>
      casted match {
        case None => rows.filter(!hit)
        case Some(set) =>
          // constraints re-check the changed rows only
          validateBatch(spark, root, url, rows.filter(hit).select(
            schema.fieldNames.toSeq.map(c =>
              set.get(c).map(_.as(c)).getOrElse(col(c))): _*))
          rows.select(schema.fieldNames.toSeq.map(c =>
            set.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
              .getOrElse(col(c))): _*)
      }
    }
  }

  /** Rewrite `affected` entries' effective rows through `edit` as
    * fresh files (range-clustered on `clusterBy` when set) and commit
    * them in the entries' place — the tail of [[rewriteRows]] and
    * [[purgeDv]]. */
  private def rewriteEntries(spark: SparkSession, root: Path,
      parent: Snap, schema: org.apache.spark.sql.types.StructType,
      op: String, affected: Seq[String], clusterBy: Option[String])(
      edit: DataFrame => DataFrame): Int = {
    val rows = edit(readEntriesEff(spark, root, affected, schema,
      parent.colmap))
    commitNext(spark, root, parent, op,
      parent.files.filterNot(affected.toSet) ++
        writeFiles(spark, root, rows, parent.version + 1,
          math.max(1, affected.length), clusterBy, parent.colmap),
      schema)
  }

  /** MERGE-ON-READ range DELETE — `DELETE FROM store WHERE field
    * BETWEEN lo AND hi` WITHOUT rewriting any data file: matching
    * row positions land in a deletion-vector sidecar and each
    * affected file re-lists as a composite `--dv--` entry; readers
    * anti-join the positions at scan time. The SPARSE-delete shape
    * at 100 TB (a 100-row GDPR erasure pays one small sidecar write,
    * not a gigabyte rewrite); wide deletes should stay
    * [[deleteWhere]] (copy-on-write), which also keeps the read path
    * join-free. Only band-admitted files are scanned for matches;
    * repeated MoR deletes on the same file MERGE positions into a
    * fresh vector (old versions keep reading their own); old
    * versions stay readable; the CDC feed sees exactly the deleted
    * rows ([[changes]] — the composite entry is a manifest-level
    * drop+add). Rows with a NULL field survive. [[purgeDv]] folds
    * vectors back into plain files; [[vacuum]] collects vectors
    * exactly when no surviving manifest names them. Returns the
    * committed version — the CURRENT one when no row matches (true
    * no-op, nothing committed). */
  def deleteWhereMor[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K): Int = {
    val r = BandKey[K].range(field, lo, hi)
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val entries = pruneRanges(spark, url, parent, "deleteWhereMor",
      Seq(r))
    if (entries.isEmpty) return parent.version
    val storeSchema = schemaOf(spark, root, parent)
    // positions of newly matching rows among the candidates'
    // EFFECTIVE rows (already-deleted positions never re-match)
    val hits = readEntriesWithPos(spark, root, entries, storeSchema,
        parent.colmap)
      .filter(coalesce(r.residual(storeSchema), lit(false)))
      .select(col(DvFileCol).as("__dv_file"),
        col(DvPosCol).as("__dv_pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // O(candidate files) driver frame — the order every pruning
      // probe already pays
      val affectedData = hits.select("__dv_file").distinct()
        .collect().map(_.getString(0)).toSet
      if (affectedData.isEmpty) return parent.version // true no-op
      // disjoint by construction: hits come from effective rows
      val allDel = (hits +: carriedPositions(spark, root, entries,
        affectedData)).reduce(_ unionByName _)
      commitMor(spark, root, parent, "mordelete", affectedData,
        allDel, Nil, storeSchema)
    } finally hits.unpersist()
  }

  /** Chained-MoR carry: the AFFECTED files' prior deletion vectors,
    * restricted to those files — merged into every new vector so
    * each version's entry names exactly ONE vector and readers never
    * stack joins. One read per distinct prior vector. */
  private def carriedPositions(spark: SparkSession, root: Path,
      entries: Seq[String],
      affectedData: Set[String]): Seq[DataFrame] =
    entries.map(splitEntry)
      .collect { case (d, Some(dv)) if affectedData.contains(d) =>
        dv -> d }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (dv, group) =>
        ParquetRead(spark, new Path(root, dv).toString)
          .filter(col("__dv_file").isin(group.map(_._2): _*)) }

  /** Shared MoR commit tail: write ONE merged vector, re-point every
    * affected entry at it, append `extraFiles` (morupdate's fresh
    * images), commit under the parent's colmap/dropped. */
  private def commitMor(spark: SparkSession, root: Path, parent: Snap,
      op: String, affectedData: Set[String], allDel: DataFrame,
      extraFiles: Seq[String],
      storeSchema: org.apache.spark.sql.types.StructType): Int = {
    val v = parent.version + 1
    val dvName = writeDv(spark, root, allDel, v)
    val replaced = parent.files.map { e =>
      val d = splitEntry(e)._1
      if (affectedData.contains(d)) s"$d$DvSep$dvName" else e
    }
    commitNext(spark, root, parent, op, replaced ++ extraFiles,
      storeSchema)
  }

  /** MERGE-ON-READ range UPDATE — `UPDATE store SET c = expr WHERE
    * field BETWEEN lo AND hi` WITHOUT rewriting the matched files:
    * the matched rows' positions land in a deletion vector (their
    * old images stop reading) and their UPDATED images append as one
    * fresh file — both in ONE commit (op "morupdate"). The sparse-
    * correction shape at 100 TB; wide updates should stay
    * [[updateWhere]] (copy-on-write). Same contracts as the COW
    * flavor: `set` maps EXISTING columns to expressions over the
    * matched row's current values under the [[upcastSets]] policy,
    * CHECK constraints re-checked on the updated rows, NULL field rows
    * never match, no-match is a true no-op, old versions read their
    * own vectors, and the CDC feed emits exact update (+pre-image)
    * rows — the manifest diff prices the commit as drop+add. */
  def updateWhereMor[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K, set: Map[String, Column]): Int = {
    val r = BandKey[K].range(field, lo, hi)
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val storeSchema = schemaOf(spark, root, parent)
    val casted = upcastSets(spark, "updateWhereMor", storeSchema, set)
    val entries = pruneRanges(spark, url, parent, "updateWhereMor",
      Seq(r))
    if (entries.isEmpty) return parent.version
    val hit = coalesce(r.residual(storeSchema), lit(false))
    val matched = readEntriesWithPos(spark, root, entries, storeSchema,
        parent.colmap)
      .filter(hit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affectedData = matched.select(col(DvFileCol)).distinct()
        .collect().map(_.getString(0)).toSet
      if (affectedData.isEmpty) return parent.version // true no-op
      val updated = matched.select(storeSchema.fieldNames.toSeq.map {
        c => casted.get(c).map(_.as(c)).getOrElse(col(c)) }: _*)
      validateBatch(spark, root, url, updated)
      // delete side: matched positions + prior deletions of the
      // affected files (the [[deleteWhereMor]] chain contract)
      val hits = matched.select(col(DvFileCol).as("__dv_file"),
        col(DvPosCol).as("__dv_pos"))
      val allDel = (hits +: carriedPositions(spark, root, entries,
        affectedData)).reduce(_ unionByName _)
      // the updated images land clustered on the range field (they
      // span exactly the range's band — one narrow-band file)
      val fresh = writeFiles(spark, root, updated,
        parent.version + 1, 1, clusterBy = Some(field),
        colmap = parent.colmap)
      commitMor(spark, root, parent, "morupdate", affectedData,
        allDel, fresh, storeSchema)
    } finally matched.unpersist()
  }

  /** Fold every deletion vector of the latest version back into
    * plain data files (op "purgedv"): the DV'd entries' EFFECTIVE
    * rows rewrite as fresh files, untouched entries re-list as-is.
    * The maintenance escape from accumulated MoR deletes — after it
    * the read path is join-free again and [[vacuum]] can collect the
    * old vectors. `clusterBy` keeps a clustered store's layout
    * (the [[compactSmall]] rationale). Returns the committed version
    * (the current one when nothing carries a vector). */
  def purgeDv(spark: SparkSession, url: String,
      clusterBy: Option[String] = None): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val dvd = parent.files.filter(_.contains(DvSep))
    if (dvd.isEmpty) return parent.version
    rewriteEntries(spark, root, parent, schemaOf(spark, root, parent),
      "purgedv", dvd, clusterBy)(identity)
  }

  /** Read exactly one version's file set (snapshot isolation) under
    * its pinned schema — files older than an evolved column read it
    * as null; schema resolution never opens a data file. */
  def readAsOf(spark: SparkSession, url: String, version: Int): DataFrame = {
    val (_, root) = fsOf(spark, url)
    val s = snap(spark, url, version)
    // an all-delete upsert legitimately commits ZERO files; with a
    // pinned schema the version reads as an empty frame (so read/
    // changes/cluster keep working) — only a schemaless-AND-fileless
    // manifest is unreadable
    if (s.files.isEmpty) {
      require(s.schema.isDefined,
        s"v$version of $url is empty with no pinned schema")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        s.schema.get)
    }
    if (s.files.exists(_.contains(DvSep)) || s.colmap.nonEmpty)
      // merge-on-read entries anti-join their deleted positions at
      // scan; renamed columns scan physically and present logically;
      // plain un-renamed versions keep their direct batch scan
      return readEntriesEff(spark, root, s.files,
        schemaOf(spark, root, s), s.colmap)
    val paths = s.files.map(f => new Path(root, f).toString)
    s.schema.fold(ParquetRead(spark, paths))(
      spark.read.schema(_).parquet(paths: _*))
  }

  /** Read the latest committed version. */
  def read(spark: SparkSession, url: String): DataFrame =
    readAsOf(spark, url, latest(spark, url))

  /** Change-data feed between two committed versions, computed from
    * the MANIFEST DIFF: only files added or dropped between `fromV`
    * and `toV` are read — a CDC consumer pays O(changed files), never
    * O(store), which is what makes incremental downstream pipelines
    * viable at 100 TB (the 10-file upsert on a 100k-file corpus reads
    * ~20 files here vs two full scans for a naive snapshot diff).
    *
    * Emits one row per changed key with `_change` ∈ insert / update /
    * delete and the NEW row values (deletes carry the old values):
    *  - key only in added files            → insert
    *  - key in added AND dropped files     → update (new values)
    *  - key only in dropped files          → delete (old values)
    * Keys present in files shared by both versions never appear —
    * untouched files are never opened. Requires `keyCol` unique per
    * version (the [[upsert]] store contract). The exchange is keyed
    * on the changed files' rows only. */
  def changes(spark: SparkSession, url: String, keyCol: String,
      fromV: Int, toV: Int): DataFrame =
    changes(spark, url, keyCol, fromV, toV, includeOld = false)

  /** With `includeOld`, each update also emits its PRE-image as an
    * `update_old` row — the retraction a downstream incremental
    * aggregate needs (−old +new); see
    * [[MaterializedView.applyCdc]]. */
  def changes(spark: SparkSession, url: String, keyCol: String,
      fromV: Int, toV: Int, includeOld: Boolean): DataFrame = {
    require(fromV < toV, s"changes needs fromV < toV, got $fromV..$toV")
    val (_, root) = fsOf(spark, url)
    val fromSnap = snap(spark, url, fromV)
    val a = fromSnap.files.toSet
    val toSnap = snap(spark, url, toV)
    val b = toSnap.files.toSet
    val droppedF = (a -- b).toSeq.sorted
    val addedF = (b -- a).toSeq.sorted
    val schema = readAsOf(spark, url, toV).schema
    // both sides read under toV's schema, so a feed crossing an
    // evolution boundary sees the old rows' new column as null
    // instead of a resolution error. Entries read EFFECTIVE rows: a
    // MoR delete drops `f.parquet` and adds `f.parquet--dv--D`, so
    // the manifest diff prices it like any rewrite and the tuple
    // anti-join below emits exactly the deleted rows.
    //
    // Each side resolves physical column names under its OWN
    // snapshot's lineage: dropped files belong to fromV, and when
    // the colmap lineage shifted inside the range (renameColumn
    // then overwrite — overwrite commits an empty colmap), scanning
    // them under toV's colmap would silently read the renamed
    // column as NULL in every delete/update_old row. Resolution per
    // toV logical name L, exact where lineage is provable and LOUD
    // where it is not (the silent-wrong doctrine):
    //  - L in fromV's schema → fromSnap.phys(L) (physical names are
    //    stable from birth; every dropped file is in fromV's
    //    manifest, so fromV's resolution is exact for them) — unless
    //    a rename in the range used L as its SOURCE, which makes a
    //    same-named L at toV a different column (refused);
    //  - else L renamed INTO existence in the range (op trail)
    //    → toSnap.colmap must still carry it and its source's fromV
    //    physical must agree (a reset in between loses the lineage
    //    — refused);
    //  - else L was added in the range → absent from fromV-era
    //    files, any physical reads null — unless an overwrite in
    //    the range also reset the `dropped` reservations and L
    //    matches a retired fromV physical slot, where old files
    //    would serve stale bytes (refused).
    val dropColmap: Map[String, String] =
      if (droppedF.isEmpty) toSnap.colmap
      else {
        val fromSchema = schemaOf(spark, root, fromSnap)
        val fromNames = fromSchema.fieldNames.toSet
        // the shortcut needs BOTH equal colmaps and equal logical
        // name sets: a rename + overwrite inside the range leaves
        // two EMPTY (equal) colmaps while the dropped files still
        // store the pre-rename physical names
        if (fromSnap.colmap == toSnap.colmap &&
            fromNames == schema.fieldNames.toSet)
          toSnap.colmap
        else {
        // the op trail must be COMPLETE: a vacuumed intermediate
        // manifest could hide a rename and silently misclassify a
        // column as added-in-range (nulls) — refuse instead
        val rangeOps = ((fromV + 1) to toV).map { vv =>
          try snap(spark, url, vv).op
          catch { case _: Exception => sys.error(
            s"changes($fromV, $toV) on $url: v$vv's manifest is " +
              "unreadable (vacuumed?) while the colmap lineage " +
              "shifted inside the range — the rename trail cannot " +
              "be reconstructed; derive the feed from surviving " +
              "versions") }
        }
        val renames = rangeOps.filter(_.startsWith("rename:"))
          .map(_.stripPrefix("rename:").split("->", 2))
          .collect { case ar if ar.length == 2 => (ar(0), ar(1)) }
        val hasOverwrite = rangeOps.contains("overwrite")
        val fromPhysLower =
          (physSchema(fromSchema, fromSnap.colmap).fieldNames ++
            fromSnap.dropped).map(_.toLowerCase).toSet
        def refuse(l: String, why: String): Nothing = sys.error(
          s"changes($fromV, $toV) on $url: column $l $why — the " +
            "colmap lineage shifted inside the range and dropped-" +
            "side files cannot be resolved exactly; split the feed " +
            "range at the rename/overwrite version")
        schema.fieldNames.toSeq.map { l =>
          val p =
            if (fromNames.contains(l)) {
              if (renames.exists(_._1 == opSafe(l)))
                refuse(l, "was a rename SOURCE in the range yet " +
                  "exists at both endpoints")
              fromSnap.phys(l)
            } else renames.find(_._2 == opSafe(l)) match {
              case Some((src, _))
                  if fromNames.exists(n => opSafe(n) == src) =>
                val srcCands = fromNames.filter(n => opSafe(n) == src)
                if (!toSnap.colmap.contains(l) || srcCands.size != 1 ||
                    fromSnap.phys(srcCands.head) != toSnap.phys(l))
                  refuse(l, "was renamed inside the range but its " +
                    "pre-rename physical slot is not provable")
                toSnap.phys(l)
              case _ =>
                // born inside the range (possibly renamed since):
                // absent from fromV-era files under any physical —
                // unless an overwrite reset the `dropped`
                // reservations and the physical matches a retired
                // fromV slot, where old files hold stale bytes
                if (hasOverwrite &&
                    fromPhysLower(toSnap.phys(l).toLowerCase))
                  refuse(l, "was added after an overwrite but " +
                    "matches a retired fromV physical slot")
                toSnap.phys(l)
            }
          l -> p
        }.filter { case (l, p) => l != p }.toMap
        }
      }
    def readOr(entries: Seq[String],
        cm: Map[String, String]): DataFrame =
      if (entries.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readEntriesEff(spark, root, entries, schema, cm)
    val added = readOr(addedF, toSnap.colmap)
    val dropped = readOr(droppedF, dropColmap)
    val valueCols = schema.fieldNames.filterNot(_ == keyCol).toSeq
    // SINGLE-SCAN diff: each file set is scanned exactly once (the
    // r19 shape referenced `added` 2-3x and `dropped` 3-4x — tuple
    // anti-join + key-distinct probes + the includeOld pre-image arm
    // each re-read the changed files). Both sides union under a side
    // marker; ONE hash exchange on the key and ONE sort on (key, the
    // other columns) then serve both windows (the tuple partitioning
    // refines the key's), and every row classifies independently:
    //  - rows co-resident in a rewritten file land in added files
    //    with UNCHANGED values; a dropped row with the identical
    //    whole tuple exists, so tuple-window counts cancel them
    //    (window partitioning groups nulls together = the old
    //    null-safe <=> anti-join semantics);
    //  - key-window counts decide insert vs update vs delete with
    //    the old joins' NULL-UNSAFE `===` semantics preserved by the
    //    explicit null-key guards (a null-key added row is an
    //    insert, a null-key dropped row a delete — never a pair).
    // Each input row yields at most ONE output row, so no leg union
    // re-references the scans.
    val un = added.withColumn("__side", lit(1))
      .unionByName(dropped.withColumn("__side", lit(0)))
    import org.apache.spark.sql.expressions.Window
    val wKey = Window.partitionBy(col(keyCol))
    val wTuple = Window.partitionBy((keyCol +: valueCols).map(col): _*)
    val addSide = when(col("__side") === 1, lit(1))
    val dropSide = when(col("__side") === 0, lit(1))
    // hash on the key, then the tuple window, led by the key: its
    // clustering is met by hash(key) (key ⊆ tuple) and its sort on
    // (key, the other columns) already orders the key window's
    // partitions, so the plan carries ONE Exchange and ONE Sort
    val counted = un.repartition(col(keyCol))
      .withColumn("__at", count(addSide).over(wTuple))
      .withColumn("__dt", count(dropSide).over(wTuple))
      .withColumn("__ak", count(addSide).over(wKey))
      .withColumn("__dk", count(dropSide).over(wKey))
    val oldArm =
      if (includeOld)
        when(col("__at") === 0, lit("update_old"))
          .otherwise(lit(null).cast("string"))
      else lit(null).cast("string")
    val change = when(col("__side") === 1,
        when(col("__dt") > 0, lit(null).cast("string"))
          .when(col(keyCol).isNotNull && col("__dk") > 0,
            lit("update"))
          .otherwise(lit("insert")))
      .otherwise(
        when(col(keyCol).isNull || col("__ak") === 0, lit("delete"))
          .otherwise(oldArm))
    counted.withColumn("_change", change)
      .filter(col("_change").isNotNull)
      .select((keyCol +: valueCols).map(col) :+ col("_change"): _*)
  }

  // ------------------------------------------------------------------
  // File statistics & data skipping (Delta/Iceberg-style, re-derived)
  // ------------------------------------------------------------------

  /** Conventional in-store location of the key-bloom sidecar
    * ([[SidecarDelta]]'s layout). The programmatic API always took an
    * explicit `bloomIndexUrl`; the SQL surface has no parameter slot,
    * so the SQL write commands DISCOVER this location
    * ([[discoverBloom]]) — a store that maintains it gets O(changed
    * files) SQL MERGE instead of a whole-store rewrite. */
  def bloomSidecarUrl(spark: SparkSession, url: String): String = {
    val (_, root) = fsOf(spark, url)
    SidecarDelta.bloomPath(root).toString
  }

  /** Build or incrementally refresh the conventional key-bloom
    * sidecar for `fields` ([[RowGroupIndex.updateBloom]] semantics:
    * only files absent from the index are scanned; vanished files'
    * entries prune) — O(new files) per call. */
  def indexBloom(spark: SparkSession, url: String,
      fields: Seq[String], expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit =
    RowGroupIndex.updateBloom(spark, url, fields,
      bloomSidecarUrl(spark, url), expectedPerFile, fpp)

  /** Incrementally refresh whichever CONVENTIONAL sidecars the store
    * maintains — the `_stats` band index and the `_bloom` key index —
    * with the field sets they were built with (stats fields recover
    * their logical names through the head column map; bloom fields
    * are stored logical). O(new files) each: both refreshers scan
    * only files absent from their sidecar, and each learns its field
    * set from that same covered-set read. A sidecar whose field no
    * longer resolves in the head schema (renamed away without a
    * colmap, dropped) is SKIPPED, not failed — staleness is safe
    * everywhere (coverage guards fall back to the scan / the
    * conservative rewrite), while a refusal here would fail a write
    * whose data is already durably committed. Returns
    * (statsRefreshed, bloomRefreshed). */
  def refreshSidecars(spark: SparkSession,
      url: String): (Boolean, Boolean) = {
    val (_, root) = fsOf(spark, url)
    val vs = versions(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    val stats = refreshStats(spark, url, vs, (known, logicalOf) => {
      val logical = known.toSeq.flatMap(logicalOf)
      if (logical.size != known.size || logical.isEmpty) None
      else Some(logical.sorted)
    }).isDefined
    val names = schemaOf(spark, root, snap(spark, url, vs.max))
      .fieldNames.toSet
    val bloom = RowGroupIndex.refreshBloom(spark, url,
      bloomSidecarUrl(spark, url), fields =>
        if (fields.isEmpty || !fields.forall(names)) None
        else Some(fields.toSeq.sorted))
    (stats, bloom)
  }

  /** Field set of the conventional bloom sidecar; None when the
    * sidecar does not exist. */
  private def bloomFields(spark: SparkSession,
      url: String): Option[Set[String]] = {
    val (fs, root) = fsOf(spark, url)
    val p = SidecarDelta.bloomPath(root)
    if (!fs.exists(p)) None
    else Some(ParquetRead(spark, p.toString)
      .select("field").distinct().collect().map(_.getString(0)).toSet)
  }

  /** Discover the conventional bloom sidecar for `field`:
    * Some(indexUrl) iff the sidecar exists AND carries rows for the
    * field. A renamed key or a foreign-field sidecar discovers as
    * None and the caller falls back to the unpruned rewrite;
    * STALENESS (live files the sidecar has not seen) is already
    * safe inside [[stageUpsert]]'s coverage guard — uncovered files
    * are conservatively affected. */
  def discoverBloom(spark: SparkSession, url: String,
      field: String): Option[String] =
    bloomFields(spark, url).filter(_.contains(field))
      .map(_ => bloomSidecarUrl(spark, url))

  /** The store's de-facto KEY column by the sidecar convention:
    * Some(field) iff the conventional key-bloom sidecar exists and
    * indexes exactly ONE field. What lets keyless SQL surfaces (the
    * `store$changes` metadata table) resolve the key the programmatic
    * API takes explicitly — a multi-field or absent sidecar is
    * ambiguous and resolves None (callers refuse loudly). */
  def bloomKeyField(spark: SparkSession,
      url: String): Option[String] =
    bloomFields(spark, url).collect { case f if f.size == 1 => f.head }

  /** Version `v`'s change-feed step `df` as columns under `fields`,
    * aligned by PHYSICAL slot identity: `phys` maps each target field
    * to its slot (the head's [[Snap.phys]] for [[changesRange]], the
    * one pinned at stream start for the streaming source). A step
    * before a `renameColumn` emits a column under its then-current
    * logical name, and the target name resolves to it through the
    * stable slot — only columns genuinely absent at the step (added
    * by later evolution) read as null. */
  private[graft] def alignStep(spark: SparkSession, url: String,
      df: DataFrame, v: Int,
      fields: Seq[org.apache.spark.sql.types.StructField],
      phys: String => String): Seq[Column] = {
    val (_, root) = fsOf(spark, url)
    val s = snap(spark, url, v)
    val names =
      if (s.files.isEmpty && s.schema.isEmpty) df.columns.toSeq
      else schemaOf(spark, root, s).fieldNames.toSeq
    fields.map { f =>
      names.find(n => s.phys(n) == phys(f.name)) match {
        case Some(n) if df.columns.contains(n) => col(n).as(f.name)
        case _ => lit(null).cast(f.dataType).as(f.name)
      }
    }
  }

  /** ONE version's change feed: the diff against its immediate
    * surviving predecessor ([[changes]]), or — for the store's birth
    * version — the full contents tagged `insert` (a feed consumer's
    * bootstrap batch). */
  def changesStep(spark: SparkSession, url: String, keyCol: String,
      v: Int, includeOld: Boolean = false): DataFrame = {
    val vs = versions(spark, url)
    require(vs.contains(v), s"v$v is not a committed version of $url")
    changesStepFrom(spark, url, keyCol, vs.filter(_ < v).maxOption,
      v, includeOld)
  }

  /** [[changesStep]] with the predecessor already resolved — what
    * per-version ITERATIONS (changesAll, the streaming source's
    * multi-version batches) call so a k-version walk lists the
    * manifest directory once, not k times. */
  private[graft] def changesStepFrom(spark: SparkSession, url: String,
      keyCol: String, priorV: Option[Int], v: Int,
      includeOld: Boolean): DataFrame =
    priorV match {
      case None =>
        readAsOf(spark, url, v).withColumn("_change", lit("insert"))
      case Some(p) => changes(spark, url, keyCol, p, v, includeOld)
    }

  /** The store's ENTIRE history as one change feed: per-version
    * [[changesStep]] frames under the HEAD schema, each tagged
    * `_commit_version`. Columns align by PHYSICAL identity, not
    * name: a step before a `renameColumn` emits the column under its
    * then-current logical name, and the head name resolves to it
    * through the stable physical slot — only columns genuinely
    * absent at a step (added by later evolution) read as null.
    * O(sum of per-version changed files) — the audit/backfill shape;
    * incremental consumers should ride the streaming source
    * (`format("graft-changes")`) instead. */
  def changesAll(spark: SparkSession, url: String, keyCol: String,
      includeOld: Boolean = false): DataFrame =
    changesRange(spark, url, keyCol, None, None, includeOld)

  /** [[changesAll]] scoped to the versions in `[fromV, toV]`
    * (either bound open): the plan carries ONLY the range's legs —
    * on a long-history store, `changesAll(...).filter(version >= n)`
    * still pays the analyzer one union leg PER VERSION before
    * Catalyst folds the out-of-range ones empty, while this builds
    * k legs for a k-version range. Each in-range version still
    * diffs against its immediate surviving PREDECESSOR (even when
    * that predecessor is outside the range), so the range feed is
    * exactly the full feed's `_commit_version` filter. The columns
    * align to the HEAD schema, like the full feed. */
  def changesRange(spark: SparkSession, url: String, keyCol: String,
      fromV: Option[Int], toV: Option[Int],
      includeOld: Boolean = false): DataFrame = {
    val (_, root) = fsOf(spark, url)
    val all = versions(spark, url)
    require(all.nonEmpty, s"no snapshot store at $url")
    val headSnap = snap(spark, url, all.max)
    val base = schemaOf(spark, root, headSnap)
    val priorOf = all.zip(None +: all.init.map(Some(_))).toMap
    val vs = all.filter(v => fromV.forall(v >= _) && toV.forall(v <= _))
    if (vs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(base.fields :+
          org.apache.spark.sql.types.StructField("_change",
            org.apache.spark.sql.types.StringType, nullable = false) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false)))
    vs.map { v =>
      val df = changesStepFrom(spark, url, keyCol, priorOf(v), v,
        includeOld)
      df.select(alignStep(spark, url, df, v, base.fields.toSeq,
        headSnap.phys)
        :+ col("_change") :+ lit(v.toLong).as("_commit_version"): _*)
    }.reduce(_ unionByName _)
  }

  /** The head version's pinned LOGICAL schema — manifest (or file
    * footer) resolution only, no data read. */
  def headSchema(spark: SparkSession,
      url: String): org.apache.spark.sql.types.StructType = {
    val (_, root) = fsOf(spark, url)
    schemaOf(spark, root, snap(spark, url, latest(spark, url)))
  }

  /** An empty frame of `schema`: what the SET and WHERE probes
    * analyze expressions over — no data read. */
  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The one SET policy of every UPDATE flavor (SQL store-assignment
    * semantics): `sets` must be non-empty and name existing columns,
    * and each expression's result type — probed by analysis over an
    * [[emptyFrame]] — must equal the pinned column type or SAFELY
    * upcast to it (the cast is inserted); a lossy SET refuses.
    * Refusals name the calling `op`. */
  private def upcastSets(spark: SparkSession, op: String,
      storeSchema: org.apache.spark.sql.types.StructType,
      sets: Map[String, Column]): Map[String, Column] = {
    require(sets.nonEmpty, s"$op: empty SET clause")
    sets.keys.foreach(c =>
      require(storeSchema.fieldNames.contains(c),
        s"$op: SET names unknown column $c — updates never add " +
          "columns (that is schema evolution, use append/upsert)"))
    val probe = emptyFrame(spark, storeSchema)
      .select(storeSchema.fieldNames.toSeq.map(c =>
        sets.get(c).map(_.as(c)).getOrElse(col(c))): _*).schema
    sets.map { case (c, e) =>
      val actual = probe(c).dataType
      val pinned = storeSchema(c).dataType
      if (actual == pinned) c -> e
      else {
        require(org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(actual, pinned),
          s"$op: SET $c yields $actual but the pinned column is " +
            s"$pinned — not a safe upcast; cast explicitly")
        c -> e.cast(pinned)
      }
    }
  }

  /** The band range `cond` is equivalent to ([[BandRoute.ofExpr]] on
    * the condition resolved over an [[emptyFrame]] of `schema`), or
    * None when it is not a bound conjunction on one integral or
    * string column. */
  private[sources] def bandOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      cond: Column): Option[BandRange] =
    emptyFrame(spark, schema).filter(cond).queryExecution.analyzed
      match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(e, _) =>
          BandRoute.ofExpr(e)
        case _ => None
      }

  /** Whether the `_stats` sidecar covers `field` — the gate of the
    * SQL filtered `count(*)` pricing ([[GraftCatalog]]), which must
    * stay a metadata walk at optimization time. */
  def statsCovers(spark: SparkSession, url: String,
      field: String): Boolean = {
    val (fs, root) = fsOf(spark, url)
    val sp = SidecarDelta.statsPath(root)
    if (!fs.exists(sp)) return false
    val head = snap(spark, url, latest(spark, url))
    if (!schemaOf(spark, root, head).fieldNames.contains(field))
      return false
    ParquetRead(spark, sp.toString)
      .filter(col("field") === head.phys(field)).take(1).nonEmpty
  }

  /** Band prefix length for string statistics, in Unicode code
    * points (the unit Spark's `substring` counts). 32 is the
    * Iceberg-ish default: long document bodies band on their
    * opening characters; keys and names band exactly. */
  private[sources] val StrBandCp = 32

  /** Code-point comparator matching Spark's UTF8String binary order
    * (UTF-8 byte order = Unicode scalar order). Java's
    * `String.compareTo` orders by UTF-16 unit, which sorts
    * supplementary characters BELOW some BMP characters —
    * disagreeing with the engine that computed the bands. */
  private[sources] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** First `n` code points of `s` (all of `s` when shorter). */
  private def cpPrefix(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** Smallest convenient upper bound for every string sharing the
    * truncated prefix `p`: strip trailing maximal scalars, then
    * replace the last code point with its successor SCALAR (U+D7FF
    * steps over the surrogate gap to U+E000 — incrementing into a
    * lone surrogate would UTF-8-encode as a replacement byte and
    * break the band order). None when every code point is U+10FFFF:
    * the caller stores "unbounded above" and pruning must-reads. */
  private def cpBump(p: String): Option[String] = {
    var end = p.length
    while (end > 0) {
      val at = p.offsetByCodePoints(end, -1)
      val cp = p.codePointAt(at)
      if (cp != 0x10FFFF) {
        val succ = if (cp == 0xD7FF) 0xE000 else cp + 1
        return Some(p.substring(0, at) +
          new String(Character.toChars(succ)))
      }
      end = at
    }
    None
  }

  /** Build or incrementally refresh the per-file min/max statistics
    * sidecar for `fields`. Long bands (`min_v`/`max_v`) cover
    * integral, date and timestamp columns; STRING columns get
    * prefix bands (`min_s` inclusive lower bound = truncated
    * minimum; `max_s` inclusive-safe upper bound = the maximum when
    * untruncated, else the truncated prefix's scalar successor via
    * [[cpBump]] — a deliberate overestimate, so pruning stays
    * conservative). Any other column type is REFUSED loudly here:
    * before this gate a non-band-able field silently cast to
    * all-null marker bands, which [[pruneEntries]] reads as "never
    * hits" — `readWhere` then returned EMPTY with no error, the one
    * wrong-answer-shaped path in the skipping layer.
    *
    * Data files are immutable, so a stats row is valid for EVERY
    * version that references the file and a refresh scans only
    * files not yet covered — O(new files) per call, the property
    * that keeps stats maintenance viable when a 100 TB store takes
    * a 10-file CDC batch. Emits exactly one row per (field, file)
    * scanned — all-null and zero-row files get a marker row (both
    * band sides null) rather than being re-classified as fresh
    * forever (the [[RowGroupIndex.updateBloom]] coverage lesson).
    * The per-file band aggregate is assembled distributed
    * (prefix/successor kernels as metadata-path udfs) — the driver
    * holds only the covered-file set and the marker frame, the same
    * O(files) order every pruning probe already pays. The sidecar
    * lives under `_stats/` where [[vacuum]]'s root-level `.parquet`
    * sweep never looks.
    *
    * Returns the number of files scanned this call. */
  def indexStats(spark: SparkSession, url: String,
      fields: Seq[String]): Int = {
    require(fields.nonEmpty, "indexStats needs at least one field")
    refreshStats(spark, url, versions(spark, url), (_, _) => Some(fields))
      .get
  }

  /** [[indexStats]] with its field set chosen off the refresher's own
    * sidecar read: `fieldsFor` gets the indexed PHYSICAL field names
    * (empty without a sidecar) and the head's physical→logical
    * lookup, and returns the logical fields to index, or None to
    * skip (then nothing is scanned or written). Returns the number
    * of files scanned. */
  private def refreshStats(spark: SparkSession, url: String,
      vs: Seq[Int],
      fieldsFor: (Set[String], String => Option[String]) =>
        Option[Seq[String]]): Option[Int] = {
    val (fs, root) = fsOf(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    import org.apache.spark.sql.types._
    val head = snap(spark, url, vs.max)
    val schema = schemaOf(spark, root, head)
    val sp = SidecarDelta.statsPath(root)
    val existing: Option[DataFrame] =
      if (fs.exists(sp)) Some(ParquetRead(spark, sp.toString)) else None
    // ONE (field, file) collect answers both the indexed field set
    // and the covered files
    val indexed = existing.toSeq.flatMap(_.select("field", "file")
      .collect().map(r => (r.getString(0), r.getString(1))))
    val known = indexed.map(_._1).toSet
    val logicalOf = schema.fieldNames.map(l => head.phys(l) -> l).toMap
    val fields = fieldsFor(known, logicalOf.get) match {
      case Some(f) => f
      case None => return None
    }
    val strFields: Set[String] = fields.flatMap { f =>
      require(schema.fieldNames.contains(f),
        s"indexStats: no column $f in the store schema")
      schema(f).dataType match {
        case StringType => Some(f)
        case ByteType | ShortType | IntegerType | LongType |
             DateType | TimestampType => None
        case dt => throw new IllegalArgumentException(
          s"indexStats: column $f is $dt — only integral/date/" +
            "timestamp (long bands) and string (prefix bands) " +
            "columns can be indexed")
      }
    }.toSet
    existing.foreach { e =>
      // the sidecar keys fields by their PHYSICAL name, so a
      // renameColumn never invalidates existing stats rows
      require(known == fields.map(head.phys).toSet,
        s"stats field set ${fields.sorted} != indexed " +
          s"${known.toSeq.sorted} — delete _stats and rebuild")
      require(strFields.isEmpty || e.columns.contains("min_s"),
        "legacy stats sidecar predates string bands — delete " +
          "_stats and rebuild")
    }
    val covered = indexed.map(_._2).toSet
    val allFiles = liveEntries(spark, url, vs)
    val fresh = allFiles.filterNot(covered)
    if (fresh.isEmpty) return Some(0)
    // one prefix code point MORE than the band length, so assembly
    // can tell "exact maximum" from "truncated" (Spark's substring
    // counts code points; truncation is order-monotone, so
    // min/max of prefixes = prefix of min/max)
    val perField = fields.map { f =>
      if (strFields(f))
        struct(lit(head.phys(f)).as("field"),
          lit(null).cast("long").as("v"),
          substring(col(f), 1, StrBandCp + 1).as("s"),
          col(f).isNull.as("isn"))
      else
        struct(lit(head.phys(f)).as("field"),
          col(f).cast("long").as("v"),
          lit(null).cast("string").as("s"), col(f).isNull.as("isn"))
    }
    // scan under the PINNED schema: a refresh crossing a
    // schema-evolution boundary must read pre-evolution files'
    // missing columns as null (correct all-null marker bands), not
    // inherit an arbitrary footer's schema and fail analysis
    // the BAND aggregate stays distributed (the prefix/successor
    // kernels run as udfs — a metadata job, never the scan hot
    // path); the driver still holds the O(files) covered-set and
    // the O(fresh·fields) marker frame, the same order the pruning
    // readers pay per probe
    val prefixBand = udf((s: String) =>
      if (s == null) null else cpPrefix(s, StrBandCp))
    val upperBand = udf((s: String) =>
      if (s == null) null
      else if (s.codePointCount(0, s.length) <= StrBandCp) s
      else cpBump(cpPrefix(s, StrBandCp)).orNull)
    // stats rows are keyed by the manifest ENTRY: a plain entry's
    // key is its file name; a composite MoR entry keys (and scans)
    // its EFFECTIVE rows — so bands, row counts and per-file sums
    // stay EXACT after a merge-on-read delete, and the same data
    // file can carry one row per DV generation it appears under
    val scanned = readEntriesTagged(spark, root, fresh, schema,
        "__entry", head.colmap)
      .select(col("__entry").as("__f"),
        explode(array(perField: _*)).as("e"))
      .groupBy(col("__f"), col("e.field").as("field"))
      .agg(min(col("e.v")).as("min_v"), max(col("e.v")).as("max_v"),
        min(col("e.s")).as("min_p"), max(col("e.s")).as("max_p"),
        sum(when(col("e.isn"), 1L).otherwise(0L)).as("n_null"),
        count(lit(1)).as("n_rows"),
        // per-file value sum (long fields; null on string fields) —
        // what makes [[aggWhere]] answer contained files from
        // metadata. DECIMAL(38,0): a file of Long.MaxValue rows
        // cannot overflow it
        sum(col("e.v").cast("decimal(38,0)")).as("sum_v"))
      .withColumnRenamed("__f", "file")
      .withColumn("min_s", prefixBand(col("min_p")))
      .withColumn("max_s", upperBand(col("max_p")))
      .drop("min_p", "max_p")
    // marker rows: a zero-row file produces no aggregate — without
    // one it would be rescanned on every refresh
    import spark.implicits._
    val frame = fresh.flatMap(f => fields.map(fl => (f, head.phys(fl))))
      .toDF("file", "field")
    val freshRows = frame.join(scanned, Seq("file", "field"), "left")
      .select(col("file"), col("field"), col("min_v"), col("max_v"),
        col("min_s"), col("max_s"),
        coalesce(col("n_null"), lit(0L)).as("n_null"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("sum_v"))
    existing match {
      case Some(e)
          if e.schema.fields.map(f => (f.name, f.dataType)).toSet !=
            freshRows.schema.fields.map(f => (f.name, f.dataType))
              .toSet =>
        // a LEGACY sidecar whose parts predate the current row shape
        // (no string bands / sum_v): mixed-schema parts under one
        // directory would make the plain parquet read's footer choice
        // arbitrary, so fold once by name (null fill is exactly what
        // assembly would have written for the missing bands)
        SidecarDelta.replace(fs, sp,
          e.unionByName(freshRows, allowMissingColumns = true)
            .coalesce(1))
      case _ => SidecarDelta.append(spark, fs, sp, freshRows)
    }
    Some(fresh.length)
  }

  /** One (field, file) statistics band. Exactly one of the long /
    * string sides is populated (never both); BOTH empty is the
    * all-null-or-empty-file marker. A populated string band may
    * still have `maxS` = None — the [[cpBump]]-failed "unbounded
    * above" case, which pruning must-reads on the upper side. */
  private[sources] final case class Band(minV: Option[Long],
      maxV: Option[Long], minS: Option[String], maxS: Option[String]) {
    def allNull: Boolean = minV.isEmpty && minS.isEmpty
  }

  /** The key domain of a [[BandRange]]. `Long` bands integral, date
    * and timestamp columns (the latter two in their `cast("long")`
    * form, the domain their bands were computed in); `String` bands
    * string columns by truncated code-point prefixes. Every range
    * entry point is generic in the key through this typeclass, so
    * one definition serves both domains. */
  sealed abstract class BandKey[K](kind: String, columns: String) {
    def range(field: String, lo: K, hi: K): BandRange
    /** The order the sidecar computed the bands under. */
    private[sources] val ord: Ordering[K]
    /** A band's bounds in this domain (upper None = unbounded). */
    private[sources] def bounds(b: Band): (K, Option[K])
    private[sources] def admits(
        dt: org.apache.spark.sql.types.DataType): Boolean
    /** A row value as a key of this domain, if it is one. */
    private[sources] def keyOf(v: Any): Option[K]

    /** Refuse a column this domain cannot band: a wrong-typed range
      * would coerce to never-matching and "succeed" touching
      * nothing — the silent-empty class. */
    private[sources] def gate(op: String,
        schema: org.apache.spark.sql.types.StructType,
        field: String): Unit = {
      require(schema.fieldNames.contains(field),
        s"$op: no column $field in the store schema")
      val dt = schema(field).dataType
      require(admits(dt),
        s"$op: column $field is $dt — a $kind range bands $columns " +
          "columns only")
    }

    /** Key-set band test: does some key of `keys` sit inside the
      * band? Binary search for the first key ≥ the band's lower
      * bound, O(log k) per file. */
    private[sources] def anyIn(keys: Seq[K]): Band => Boolean = {
      val sorted = keys.distinct.sorted(ord).toIndexedSeq
      b => {
        val (mn, mx) = bounds(b)
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ord.lt(sorted(mid), mn)) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && mx.forall(ord.lteq(sorted(lo), _))
      }
    }
  }

  object BandKey {
    def apply[K](implicit k: BandKey[K]): BandKey[K] = k

    implicit object LongKey
        extends BandKey[Long]("Long", "integral/date/timestamp") {
      def range(field: String, lo: Long, hi: Long): BandRange =
        LongRange(field, lo, hi)
      private[sources] val ord: Ordering[Long] = Ordering.Long
      private[sources] def bounds(b: Band) = (b.minV.get, b.maxV)
      private[sources] def admits(
          dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        dt match {
          case ByteType | ShortType | IntegerType | LongType |
               DateType | TimestampType => true
          case _ => false
        }
      }
      private[sources] def keyOf(v: Any): Option[Long] = v match {
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case _ => None
      }
    }

    implicit object StrKey extends BandKey[String]("String", "string") {
      def range(field: String, lo: String, hi: String): BandRange =
        StrRange(field, lo, hi)
      private[sources] val ord: Ordering[String] =
        Ordering.fromLessThan(cpCompare(_, _) < 0)
      private[sources] def bounds(b: Band) = (b.minS.get, b.maxS)
      private[sources] def admits(
          dt: org.apache.spark.sql.types.DataType): Boolean =
        dt == org.apache.spark.sql.types.StringType
      private[sources] def keyOf(v: Any): Option[String] = v match {
        case s: String => Some(s)
        case _ => None
      }
    }
  }

  /** A closed key range `[lo, hi]` on one store field — the one
    * currency of the stats-sidecar skipping layer. [[prunedFiles]],
    * [[readWhere]], [[countWhere]] and the banded DML flavors build
    * one from their arguments; [[prunedFilesAll]] / [[readWhereAll]]
    * take a conjunction of them; the WHERE classifier
    * ([[BandRoute]]) and the reader chain (`GraftRead.range`) pass
    * theirs through. A range owns its band tests and its exact
    * residual filter; its [[BandKey]] owns the key order and the
    * column-type gate. */
  sealed trait BandRange {
    type K
    def field: String
    def lo: K
    def hi: K
    def key: BandKey[K]

    /** Can a file with band `b` hold a key in the range? An absent
      * upper bound must-reads. */
    private[sources] def overlaps(b: Band): Boolean = {
      val (mn, mx) = key.bounds(b)
      key.ord.lteq(mn, hi) && mx.forall(key.ord.lteq(lo, _))
    }

    /** Is every non-null key of band `b` inside the range? Sound
      * under prefix truncation: a string band's lower bound is ≤
      * the file's true minimum and its successor upper bound ≥ the
      * true maximum; an unbounded band is never contained. */
    private[sources] def contains(b: Band): Boolean = {
      val (mn, mx) = key.bounds(b)
      key.ord.lteq(lo, mn) && mx.exists(key.ord.lteq(_, hi))
    }

    /** The exact row filter pruning is a superset admission for.
      * Date/timestamp columns compare through the SAME
      * `cast("long")` their bands were computed under (a bare long
      * literal would fail analysis on them); every other column
      * compares directly, so the predicate still pushes into the
      * parquet scan. Spark's string order is the UTF-8 binary order
      * the string bands use, so band survival and residual agree. */
    def residual(schema: org.apache.spark.sql.types.StructType): Column = {
      import org.apache.spark.sql.types.{DateType, TimestampType}
      val c = schema(field).dataType match {
        case DateType | TimestampType => col(field).cast("long")
        case _ => col(field)
      }
      c >= lit(lo) && c <= lit(hi)
    }
  }

  final case class LongRange(field: String, lo: Long, hi: Long)
      extends BandRange {
    type K = Long
    def key: BandKey[Long] = BandKey.LongKey
  }

  final case class StrRange(field: String, lo: String, hi: String)
      extends BandRange {
    type K = String
    def key: BandKey[String] = BandKey.StrKey
  }

  /** ONE read of the stats sidecar: the rows of the physical
    * `fields` as (physical field, file, band, row), the row carrying
    * the `extra` columns from index 6 on. A column a legacy sidecar
    * predates (string bands, row counts, sums) reads as null. None =
    * no sidecar. */
  private def statsRows(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      fields: Seq[String], extra: Seq[String] = Nil)
      : Option[Seq[(String, String, Band, Row)]] = {
    val sp = SidecarDelta.statsPath(root)
    if (!fs.exists(sp)) return None
    val df = ParquetRead(spark, sp.toString)
    val cols = Seq("field", "file", "min_v", "max_v", "min_s",
      "max_s") ++ extra
    Some(df.filter(col("field").isin(fields: _*))
      .select(cols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), Band(
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        Option(r.getString(4)), Option(r.getString(5))), r)))
  }

  /** The ONE skipping skeleton under every pruning entry point: gate
    * each probed field's type against the version's schema, load the
    * bands of every probed field in one sidecar read, and keep each
    * manifest entry whose band passes every probe. The conservatism
    * contract lives here once: no sidecar → read everything; file
    * without a stats row → must read; all-null band → a value
    * predicate never hits. Returns root-relative entries. */
  private def pruneEntries(spark: SparkSession, url: String, s: Snap,
      op: String, probes: Seq[(String, BandKey[_], Band => Boolean)])
      : Seq[String] = {
    val (fs, root) = fsOf(spark, url)
    val schema = schemaOf(spark, root, s)
    probes.foreach { case (f, k, _) => k.gate(op, schema, f) }
    // the sidecar keys fields physically (rename-proof)
    statsRows(spark, fs, root, probes.map(p => s.phys(p._1)).distinct)
      match {
        case None => s.files
        case Some(rows) =>
          val bands = rows.map { case (f, file, b, _) =>
            (f, file) -> b }.toMap
          s.files.filter(e => probes.forall { case (f, _, hit) =>
            bands.get((s.phys(f), e)) match {
              case None => true
              case Some(b) if b.allNull => false
              case Some(b) => hit(b)
            }
          })
      }
  }

  private def pruneRanges(spark: SparkSession, url: String, s: Snap,
      op: String, ranges: Seq[BandRange]): Seq[String] =
    pruneEntries(spark, url, s, op,
      ranges.map(r => (r.field, r.key, r.overlaps _)))

  /** Root-relative entries in the public path form (one string per
    * surviving manifest ENTRY — on a merge-on-read store a composite
    * entry's path form exists nowhere on disk; read survivors
    * through [[readEntryPaths]], never raw `spark.read`). */
  private def entryPaths(url: String, entries: Seq[String]): Seq[String] =
    entries.map(f => new Path(new Path(url), f).toString)

  /** The subset of `version`'s files that can contain a row with
    * `field` in [lo, hi] — resolved from the stats sidecar WITHOUT
    * opening any data file. A file is kept when its stats band can
    * overlap the range, or when no stats row covers it (stats lag is
    * a performance bug, never a correctness bug). All-null and
    * zero-row files are skipped: a range predicate cannot match
    * NULL. `Long` ranges probe integral/date/timestamp fields,
    * `String` ranges string fields by their truncated prefix bands
    * (conservative: never skips a file that could hold a match; the
    * caller's residual filter keeps the read exact). Returns
    * absolute paths. */
  def prunedFiles[K: BandKey](spark: SparkSession, url: String,
      version: Int, field: String, lo: K, hi: K): Seq[String] =
    entryPaths(url, pruneRanges(spark, url, snap(spark, url, version),
      "prunedFiles", Seq(BandKey[K].range(field, lo, hi))))

  /** Range-predicate read with file skipping: resolve the version's
    * manifest, prune files through [[prunedFiles]], and apply the
    * range's residual filter to the survivors (so the result is
    * exact even when stats are stale or absent). The metadata cost
    * is O(files); the data cost is only the overlapping band — on a
    * store [[cluster]]ed by `field`, a narrow range touches a handful
    * of files out of 100k. */
  def readWhere[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K, version: Int = -1): DataFrame =
    readWhereAll(spark, url, Seq(BandKey[K].range(field, lo, hi)),
      version)

  /** Maintenance rewrite: re-lay the live rows range-clustered on
    * `field` as a NEW version (op "cluster") — old versions stay
    * readable, readers never see a half-clustered store. Pair with
    * [[indexStats]] to turn the layout into file skipping. */
  def cluster(spark: SparkSession, url: String, field: String,
      nFiles: Int = 8): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val df = readAsOf(spark, url, parent.version)
    require(df.columns.contains(field), s"no column $field to cluster on")
    commitNext(spark, root, parent, "cluster",
      writeFiles(spark, root, df, parent.version + 1, nFiles,
        clusterBy = Some(field), colmap = parent.colmap),
      df.schema)
  }

  /** Multi-dimensional maintenance rewrite: re-lay the live rows
    * sorted by the Morton z-value of `fields` ([[graft.ops.Zorder]])
    * as a new version, so each file covers a sub-RECTANGLE of the
    * key space and [[indexStats]] on the same fields prunes on ANY
    * of them — the 1-D [[cluster]] skips only on its own column.
    * `bits` must bound every field's values (`Zorder.zvalue` raises
    * on out-of-range rather than folding into a wrong cell). */
  def zcluster(spark: SparkSession, url: String, bits: Int,
      fields: Seq[String], nFiles: Int = 8): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    val df = readAsOf(spark, url, parent.version)
    fields.foreach(f => require(df.columns.contains(f),
      s"no column $f to z-order on"))
    val z = graft.ops.Zorder.zvalue(bits, fields.map(col): _*)
    val arranged = df.repartitionByRange(math.max(1, nFiles), z)
      .sortWithinPartitions(z)
    commitNext(spark, root, parent, "zcluster",
      writeArranged(spark, root, arranged, parent.version + 1,
        parent.colmap), df.schema)
  }

  /** Conjunctive multi-field pruning with ONE sidecar read: a file
    * survives only if EVERY range can overlap it ([[prunedFiles]]
    * per range, intersected). Long and string ranges mix freely —
    * on a [[zcluster]]ed store each range prunes independently.
    * Returns sorted absolute paths. */
  def prunedFilesAll(spark: SparkSession, url: String, version: Int,
      ranges: Seq[BandRange]): Seq[String] = {
    require(ranges.nonEmpty, "prunedFilesAll needs at least one range")
    entryPaths(url, pruneRanges(spark, url, snap(spark, url, version),
      "prunedFilesAll", ranges)).sorted
  }

  /** File pruning for a KEY SET — the CDC-invalidation shape
    * ([[JoinView.refresh]]'s dim-driven side probes the fact store
    * with the changed dim keys): a file survives iff its stats band
    * can hold at least one probed key. One stats-sidecar read,
    * O(files · log k) driver work (binary search per band).
    * Exactness is the caller's residual filter: files without a
    * stats row are conservatively kept, all-null bands are skipped —
    * the [[prunedFiles]] contract. */
  def prunedFilesForKeys[K: BandKey](spark: SparkSession, url: String,
      version: Int, field: String, keys: Seq[K]): Seq[String] = {
    if (keys.isEmpty) return Seq.empty
    val k = BandKey[K]
    entryPaths(url, pruneEntries(spark, url, snap(spark, url, version),
      "prunedFilesForKeys", Seq((field, k, k.anyIn(keys)))))
  }

  /** [[readWhere]] over a conjunction of ranges: files pruned by
    * [[prunedFilesAll]] (one sidecar read), every residual applied —
    * one call answers `price IN [lo,hi] AND name IN [a,b]` exactly.
    * Survivors read under the version's PINNED schema (pruning to
    * pre-evolution files must not make evolved columns vanish — the
    * [[readAsOf]] contract); a schema-shaped empty frame when
    * nothing survives. */
  def readWhereAll(spark: SparkSession, url: String,
      ranges: Seq[BandRange], version: Int = -1): DataFrame = {
    require(ranges.nonEmpty, "readWhereAll needs at least one range")
    val root = fsOf(spark, url)._2
    val s = snap(spark, url,
      if (version > 0) version else latest(spark, url))
    val entries = pruneRanges(spark, url, s, "readWhere", ranges)
    val schema = schemaOf(spark, root, s)
    if (entries.isEmpty) readAsOf(spark, url, s.version).filter(lit(false))
    else readEntriesEff(spark, root, entries, schema, s.colmap)
      .filter(ranges.map(_.residual(schema)).reduce(_ && _))
  }

  /** The band walk [[countWhere]] and [[aggWhere]] share: gate `r`,
    * then answer each of the version's files from its sidecar row
    * when the range contains its band and `fromMeta` accepts the row
    * (its `extra` columns start at index 6, null where a legacy
    * sidecar predates them), skip it when its band is all-null or
    * disjoint, and scan it otherwise — no stats row, a straddling
    * band, or a row `fromMeta` refuses. No sidecar scans everything.
    * Returns (metadata-answered rows, files scanned, the scanned
    * files' residual-filtered rows — None when nothing is
    * scanned). */
  private def walkBands(spark: SparkSession, url: String,
      version: Int, op: String, r: BandRange, extra: Seq[String])
      (fromMeta: Row => Boolean): (Seq[Row], Int, Option[DataFrame]) = {
    val (fs, root) = fsOf(spark, url)
    val s = snap(spark, url,
      if (version > 0) version else latest(spark, url))
    val schema = schemaOf(spark, root, s)
    r.key.gate(op, schema, r.field)
    val rows = statsRows(spark, fs, root, Seq(s.phys(r.field)), extra)
      .getOrElse(Nil).map { case (_, f, b, row) => f -> ((b, row)) }
      .toMap
    val meta = Seq.newBuilder[Row]
    val toScan = Seq.newBuilder[String]
    s.files.foreach { f =>
      rows.get(f) match {
        case None => toScan += f
        case Some((b, _)) if b.allNull => () // no value can match
        case Some((b, row)) =>
          if (r.contains(b) && fromMeta(row)) meta += row
          else if (r.overlaps(b)) toScan += f
      }
    }
    val files = toScan.result()
    (meta.result(), files.size,
      if (files.isEmpty) None
      else Some(readEntriesEff(spark, root, files, schema, s.colmap)
        .filter(r.residual(schema))))
  }

  /** Exact `SELECT count(*) WHERE field BETWEEN lo AND hi` that
    * opens only band-STRADDLING files: a file whose band lies fully
    * inside the range contributes `n_rows − n_null` from the stats
    * sidecar alone (every non-null value is in range by the band
    * bound), a disjoint or all-null file contributes 0, and only
    * files partially overlapping the range — or not yet covered by
    * stats — are scanned with the residual predicate. On a store
    * [[cluster]]ed by the field, a wide range over 100k files scans
    * the two BOUNDARY files; metadata answers the rest. String
    * ranges count by prefix bands ([[BandRange]]'s containment stays
    * sound under truncation). Exactness never depends on stats
    * freshness: no sidecar (or a legacy one without row counts)
    * degrades to scan-counting the band-admitted files. Returns
    * (count, filesScanned) so callers can assert the scan subset. */
  def countWhere[K: BandKey](spark: SparkSession, url: String,
      field: String, lo: K, hi: K, version: Int = -1): (Long, Int) = {
    val (meta, scanned, scan) = walkBands(spark, url, version,
      "countWhere", BandKey[K].range(field, lo, hi),
      Seq("n_null", "n_rows"))(!_.isNullAt(7))
    (meta.map(r => r.getLong(7) - r.getLong(6)).sum +
      scan.fold(0L)(_.count()), scanned)
  }

  /** [[aggWhere]]'s result: exact aggregates over the rows whose
    * field value lies in the range (min/max None when count is 0).
    * Values live in the band domain — date/timestamp fields
    * aggregate their cast(long) form, the same contract as
    * [[readWhere]]'s range arguments. */
  final case class RangeAgg(count: Long, sum: BigDecimal,
      min: Option[Long], max: Option[Long], filesScanned: Int)

  /** Exact `count/sum/min/max OVER field BETWEEN lo AND hi` opening
    * only band-STRADDLING files: a file whose band lies fully inside
    * the range contributes its sidecar row counts, per-file value
    * sum, and band endpoints from metadata alone; only partial
    * overlaps (or files the sidecar hasn't covered, or legacy
    * sidecar rows written before per-file sums existed) are scanned
    * with the residual predicate. The dashboard/retention-audit
    * query — `sum(bytes) in the last 30 days` on a 100k-file store —
    * becomes one sidecar read plus two boundary files. Long-band
    * fields only (a string sum is meaningless — [[countWhere]]
    * covers string ranges); exactness never depends on stats
    * freshness. */
  def aggWhere(spark: SparkSession, url: String, field: String,
      lo: Long, hi: Long, version: Int = -1): RangeAgg = {
    val (meta, scanned, scan) = walkBands(spark, url, version,
      "aggWhere", LongRange(field, lo, hi),
      Seq("n_null", "n_rows", "sum_v"))(!_.isNullAt(8))
    val vc = col(field).cast("long")
    val agg = scan.map(_.agg(count(lit(1)),
      sum(vc.cast("decimal(38,0)")), min(vc), max(vc)).collect()(0))
    // min_v/max_v sit at 2/3 of a sidecar row, as min/max do in agg
    def longs(i: Int): Seq[Long] = meta.map(_.getLong(i)) ++
      agg.filterNot(_.isNullAt(i)).map(_.getLong(i))
    RangeAgg(
      meta.map(r => r.getLong(7) - r.getLong(6)).sum +
        agg.fold(0L)(_.getLong(0)),
      (meta.map(_.getDecimal(8)) ++
        agg.filterNot(_.isNullAt(1)).map(_.getDecimal(1)))
        .map(BigDecimal(_)).sum,
      longs(2).minOption, longs(3).maxOption, scanned)
  }

  /** Bin-pack maintenance: rewrite ONLY the live files smaller than
    * `smallBytes` into ~`targetBytes` files (new version, op
    * "compact"); files already at weight are re-listed untouched.
    * Incremental ingest (streaming epochs, small CDC batches) makes
    * small files constantly; compaction cost here is proportional to
    * the SMALL tail, never the store — the property that keeps the
    * scan-side file count bounded at 100 TB without ever rewriting
    * cold data. Returns the committed version (or the current one
    * when fewer than two small files exist — nothing to pack). */
  def compactSmall(spark: SparkSession, url: String,
      smallBytes: Long, targetBytes: Long = 128L << 20,
      clusterBy: Option[String] = None): Int = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      s"need 0 < smallBytes <= targetBytes")
    val (fs, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    // a composite MoR entry sizes by its DATA file (the weight a
    // scan pays); packing it reads effective rows, so compaction of
    // a small DV'd entry also folds its deletion vector away
    val sized = parent.files.map(f =>
      f -> fs.getFileStatus(new Path(root, splitEntry(f)._1)).getLen)
    val small = sized.filter(_._2 < smallBytes)
    if (small.size < 2) return parent.version
    val totalSmall = small.map(_._2).sum
    val n = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val schema = schemaOf(spark, root, parent)
    val read = readEntriesEff(spark, root, small.map(_._1), schema,
      parent.colmap)
    // on a clustered store pass its cluster field: a round-robin
    // pack would give every compacted file a full-width stats band
    // and cost the layout its skippability ingest by ingest
    val packed = clusterBy match {
      case Some(f) =>
        require(schema.fieldNames.contains(f),
          s"compactSmall: no column $f to cluster on")
        read.repartitionByRange(n, col(f)).sortWithinPartitions(col(f))
      case None => read.repartition(n)
    }
    val smallNames = small.map(_._1).toSet
    commitNext(spark, root, parent, "compact",
      parent.files.filterNot(smallNames) ++
        writeArranged(spark, root, packed, parent.version + 1,
          parent.colmap),
      schema)
  }

  // ------------------------------------------------------------------
  // Column mapping: rename/drop without rewriting a byte
  // ------------------------------------------------------------------

  /** Rename a LOGICAL column as a METADATA-ONLY commit (op
    * `rename:from->to`) — zero data files touched at any size: the
    * column's PHYSICAL name inside parquet never changes; the
    * manifest's colmap translates at every scan and every write
    * (the [[writeArranged]] / [[readEntriesEff]] choke points), so
    * old versions keep reading their own names and the stats
    * sidecar (keyed physically) stays valid — a range probe on the
    * renamed column still prunes. Refused when a CHECK constraint's
    * expression references the column (the stored SQL would break
    * or silently retarget — drop the constraint first), when the
    * target name exists, or when the store has no pinned schema.
    * Tab/newline in names refused (the colmap wire format). */
  def renameColumn(spark: SparkSession, url: String, from: String,
      to: String): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    require(parent.schema.isDefined,
      "renameColumn needs a pinned-schema store (pre-pinning legacy " +
        "stores must overwrite first)")
    val schema = parent.schema.get
    require(schema.fieldNames.contains(from),
      s"renameColumn: no column $from in the store schema")
    // CASE-INSENSITIVE collision: Spark resolves columns
    // case-insensitively by default, so a rename to `ID` beside an
    // existing `id` would make every reference ambiguous (and a
    // target matching a retired physical slot would alias stale
    // bytes under the default resolution)
    require(!schema.fieldNames.exists(f =>
      f != from && f.equalsIgnoreCase(to)),
      s"renameColumn: column $to already exists")
    require(!parent.dropped.exists(_.equalsIgnoreCase(to)) ||
      to.equalsIgnoreCase(parent.phys(from)),
      s"renameColumn: $to matches a dropped column's retired " +
        "physical name — old files would alias its stale bytes")
    require(to.nonEmpty && !to.contains("\t") && !to.contains("\n") &&
      !from.contains("\t") && !from.contains("\n"),
      "renameColumn: names may not contain tab/newline")
    requireUnconstrained(spark, url, "renameColumn", from)
    val phys = parent.phys(from)
    val newColmap = (parent.colmap - from) ++
      (if (to == phys) Map.empty[String, String] else Map(to -> phys))
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
    // provenance only — sanitized so a quote-bearing column name can
    // never corrupt the self-authored manifest JSON (real names live
    // base64-safe in the pinned schema and the colmap)
    commit(spark, root, parent.version + 1,
      s"rename:${opSafe(from)}->${opSafe(to)}",
      parent.files, Some(newSchema), newColmap, parent.dropped)
  }

  /** Refuse an `op` on `column` while a CHECK constraint's SQL names
    * it (the stored expression would break or silently retarget). */
  private def requireUnconstrained(spark: SparkSession, url: String,
      op: String, column: String): Unit = {
    val refs = constraints(spark, url).filter { case (_, e) =>
      ("\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
        .findFirstIn(e).isDefined }
    require(refs.isEmpty,
      s"$op: constraint(s) ${refs.map(_._1).mkString(",")} " +
        s"reference $column — dropConstraint first")
  }

  /** Manifest `op`-field sanitizer: ops are provenance strings inside
    * self-authored JSON; anything outside [A-Za-z0-9_.-] flattens to
    * `_` (the [[appendOnce]] commitKey charset). */
  private def opSafe(s: String): String =
    s.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Add a NULLABLE column as a METADATA-ONLY commit (op
    * `addcol:<name>`) — the explicit `ALTER TABLE ADD COLUMN` /
    * `MERGE WITH SCHEMA EVOLUTION` surface of the same additive
    * evolution appends already perform implicitly: zero data files
    * touched at any size, files written before the column existed
    * read it as null. Same reservation doctrine as appends
    * ([[evolveFrom]]): the new name may not collide case-
    * insensitively with a live column, a renamed column's physical
    * slot, or a dropped column's retired bytes (old files would
    * serve stale values as the new column — the silent-wrong
    * class). Tab/newline refused (colmap wire format); unpinned
    * legacy stores must overwrite first. */
  def addColumn(spark: SparkSession, url: String, name: String,
      dt: org.apache.spark.sql.types.DataType): Int = {
    val (_, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    require(parent.schema.isDefined,
      "addColumn needs a pinned-schema store (pre-pinning legacy " +
        "stores must overwrite first)")
    val schema = parent.schema.get
    require(name.nonEmpty && !name.contains("\t") &&
      !name.contains("\n"),
      "addColumn: names may not contain tab/newline")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"addColumn: column $name already exists")
    require(reservedPhysical(parent, Seq(name)).isEmpty,
      s"addColumn: $name matches a renamed or dropped column's " +
        "physical slot — old files would serve its stale bytes; " +
        "choose a different name")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dt, nullable = true))
    commitNext(spark, root, parent, s"addcol:${opSafe(name)}",
      parent.files, newSchema)
  }

  /** Drop a LOGICAL column as a METADATA-ONLY commit (op
    * `dropcol:name`): the bytes stay in existing files but column
    * pruning keeps them unread forever — a 100 TB column retires
    * for the cost of one manifest. The physical name is RESERVED
    * (recorded in `dropped`): a later evolution re-adding it is
    * refused, because old files would serve the retired bytes as
    * the new column's values. Stats-sidecar rows for the dropped
    * field are pruned here (so a later [[indexStats]] over the
    * remaining fields still type-checks). Same refusals as
    * [[renameColumn]] for constraints and unpinned stores; the last
    * column cannot be dropped. */
  def dropColumn(spark: SparkSession, url: String,
      name: String): Int = {
    val (fs, root) = fsOf(spark, url)
    val parent = snap(spark, url, latest(spark, url))
    require(parent.schema.isDefined,
      "dropColumn needs a pinned-schema store")
    val schema = parent.schema.get
    require(schema.fieldNames.contains(name),
      s"dropColumn: no column $name in the store schema")
    require(schema.fields.length > 1,
      "dropColumn: cannot drop the last column")
    require(!name.contains("\t") && !name.contains("\n"),
      "dropColumn: names may not contain tab/newline")
    requireUnconstrained(spark, url, "dropColumn", name)
    val phys = parent.phys(name)
    // sidecar hygiene: retire the dropped field's stats rows (tiny,
    // O(files) rewrite) so the field-set equality check keeps
    // working for the remaining fields
    val sp = SidecarDelta.statsPath(root)
    if (fs.exists(sp)) {
      val existing = ParquetRead(spark, sp.toString)
      if (!existing.filter(col("field") === phys).isEmpty)
        SidecarDelta.replace(fs, sp,
          existing.filter(col("field") =!= phys).coalesce(1))
    }
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    commit(spark, root, parent.version + 1,
      s"dropcol:${opSafe(name)}",
      parent.files, Some(newSchema), parent.colmap - name,
      parent.dropped :+ phys)
  }

  // ------------------------------------------------------------------
  // CHECK constraints (Delta-style, SQL semantics: NULL passes)
  // ------------------------------------------------------------------

  private def constraintsPath(root: Path) =
    new Path(root, "_constraints.json")

  /** Declare a CHECK constraint every future write must satisfy
    * (ingest-side data contracts: a 100 TB corpus is cheaper to keep
    * clean at the write boundary than to audit after). SQL CHECK
    * semantics: a row violates only when the expression evaluates to
    * FALSE — NULL/unknown passes, matching every SQL engine. The
    * whole batch is refused on the first violating row (validation
    * is one combined pass over the batch, O(batch) per commit).
    * Constraints do NOT retro-validate existing rows — declare
    * before the offending data, or [[overwrite]] clean. */
  def addConstraint(spark: SparkSession, url: String, name: String,
      exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"constraint name '$name' must be [A-Za-z0-9_.-]+")
    require(!exprSql.contains("\"") && !exprSql.contains("\\"),
      "constraint SQL must not contain quotes or backslashes")
    org.apache.spark.sql.functions.expr(exprSql) // parse now, not at write
    val (fs, root) = fsOf(spark, url)
    require(versions(spark, url).nonEmpty, s"no snapshot store at $url")
    val existing = constraints(spark, url)
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already declared")
    val all = existing :+ (name, exprSql)
    val json = all.map { case (n, e) => s"""{"name":"$n","expr":"$e"}""" }
      .mkString("[", ",", "]")
    val tmp = new Path(root, "_constraints.json__tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fs.delete(constraintsPath(root), false)
    require(fs.rename(tmp, constraintsPath(root)),
      s"rename failed for ${constraintsPath(root)}")
  }

  /** Declared constraints, oldest first. */
  def constraints(spark: SparkSession, url: String): Seq[(String, String)] = {
    val (fs, root) = fsOf(spark, url)
    val p = constraintsPath(root)
    if (!fs.exists(p)) return Seq.empty
    val json = SidecarJson.slurp(fs, p)
    """\{"name":"([^"]+)","expr":"([^"]+)"\}""".r
      .findAllMatchIn(json).map(m => (m.group(1), m.group(2))).toSeq
  }

  /** One combined validation pass over a write batch; throws with
    * the first violated constraint's name. */
  private[sources] def validateBatch(spark: SparkSession, root: Path,
      url: String, df: DataFrame): Unit = {
    val cs = constraints(spark, url)
    if (cs.isEmpty) return
    // applicability matches Spark's own resolution: CASE-INSENSITIVE
    // (a constraint on "ID" must guard a column named "id", not be
    // silently skipped) and struct references apply by their ROOT
    // column ("meta.size" is applicable when `meta` is present)
    val cols = df.columns.map(_.toLowerCase).toSet
    val applicable = cs.filter { case (_, e) =>
      spark.sessionState.sqlParser.parseExpression(e)
        .references.map(_.name.split("\\.")(0).toLowerCase)
        .forall(cols.contains) }
    if (applicable.isEmpty) return
    val flags = applicable.map { case (n, e) =>
      (coalesce(expr(e), lit(true)) === false).as(s"__viol_$n") }
    val hit = df.select(flags: _*)
      .filter(applicable.map(c => col(s"__viol_${c._1}")).reduce(_ || _))
      .limit(1).collect()
    hit.headOption.foreach { r =>
      val bad = applicable.indices.find(i => r.getBoolean(i)).get
      throw new IllegalArgumentException(
        s"CHECK constraint '${applicable(bad)._1}' " +
          s"(${applicable(bad)._2}) violated by the write batch — " +
          "commit refused")
    }
  }

  /** The commit log as a DataFrame — one row per version with its
    * op, live-file count, and the file-level delta against its
    * parent (what a "describe history" audit reads before trusting a
    * store: which commit rewrote half the files, which one only
    * touched two). Resolution is manifests only — O(versions ×
    * files) driver-side metadata, no data file opened. */
  def history(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    val snaps = vs.map(v => snap(spark, url, v))
    val rows = snaps.zipWithIndex.map { case (s, k) =>
      val parent = if (k == 0) Set.empty[String]
                   else snaps(k - 1).files.toSet
      val cur = s.files.toSet
      (s.version, s.op, s.files.size.toLong,
        (cur -- parent).size.toLong, (parent -- cur).size.toLong)
    }
    rows.toDF("version", "op", "n_files", "n_added", "n_removed")
  }

  /** Largest version committed at or before `ts` (epoch millis) —
    * timestamp time travel, resolved from manifest mtimes alone
    * ("read the corpus as of last Tuesday's training run"). The
    * commit claim (rename on Hadoop filesystems, hard-link on
    * `file://` — same inode, same mtime) preserves the manifest's
    * write time, and versions commit in order, so mtimes are
    * monotone per store. Instants below the vacuum retention floor
    * fail loudly here (no surviving manifest is old enough) instead
    * of resolving to a newer version. */
  def versionAt(spark: SparkSession, url: String, ts: Long): Int = {
    val (fs, root) = fsOf(spark, url)
    val vs = versions(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    val at = vs.filter(v =>
      fs.getFileStatus(manifestPath(root, v)).getModificationTime <= ts)
    require(at.nonEmpty,
      s"no version committed at or before $ts (earliest is v${vs.min})")
    at.max
  }

  /** [[readAsOf]] by wall-clock instant instead of version number. */
  def readAsOfTime(spark: SparkSession, url: String, ts: Long): DataFrame =
    readAsOf(spark, url, versionAt(spark, url, ts))

  /** Drop stats-sidecar rows for files NO committed manifest
    * references any more — [[vacuum]]'s sidecar hygiene (stale rows
    * are harmless for correctness, pruning always intersects the
    * manifest, but an unbounded sidecar is a metadata leak). Returns
    * rows dropped. */
  def pruneStats(spark: SparkSession, url: String): Long = {
    val (fs, root) = fsOf(spark, url)
    SidecarDelta.prune(spark, fs, SidecarDelta.statsPath(root), "file",
      liveEntries(spark, url, versions(spark, url)).toSet)
  }

  /** Every entry some committed manifest among `vs` lists — the key
    * set a sidecar row must belong to to stay live. */
  private[sources] def liveEntries(spark: SparkSession, url: String,
      vs: Seq[Int]): Seq[String] =
    vs.flatMap(v => snap(spark, url, v).files).distinct

  /** Roll the store back (or forward) to `toVersion`'s exact content
    * as a NEW commit — zero data movement (the manifest re-lists the
    * target's immutable files), history is never rewritten, the bad
    * version stays auditable, and in-flight readers are never torn.
    * The op records the provenance (`restore:v<N>`). */
  def restore(spark: SparkSession, url: String, toVersion: Int): Int = {
    val (_, root) = fsOf(spark, url)
    val target = snap(spark, url, toVersion)
    val head = latest(spark, url)
    require(toVersion != head,
      s"v$toVersion is already the latest version")
    commit(spark, root, head + 1, s"restore:v$toVersion", target.files,
      Some(schemaOf(spark, root, target)), target.colmap,
      target.dropped)
  }

  /** Incremental profile diff between two versions, computed from
    * the CHANGE FEED — "what moved in the corpus between v7 and v8"
    * at O(changed files), never two full scans: insert/update rows
    * weigh +1, delete/update_old rows −1, so per-group row and value
    * deltas equal the difference of full GROUP BYs over both
    * versions. Groups whose deltas all cancel (or were untouched)
    * are dropped — the report lists what MOVED. */
  def profileDelta(spark: SparkSession, url: String, keyCol: String,
      fromV: Int, toV: Int, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "profileDelta needs group columns")
    val feed = changes(spark, url, keyCol, fromV, toV, includeOld = true)
    val sign = when(col("_change").isin("insert", "update"), lit(1L))
      .when(col("_change").isin("delete", "update_old"), lit(-1L))
      .otherwise(lit(0L))
    val aggs = sum(col("__s")).cast("long").as("d_cnt") +:
      sumCols.map(c =>
        sum(col("__s") * col(c).cast("long")).cast("long").as(s"d_$c"))
    feed.withColumn("__s", sign)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter((col("d_cnt") =!= 0L) +:
        sumCols.map(c => col(s"d_$c") =!= 0L) reduce (_ || _))
  }

  /** Retire history: drop every version below `keepFrom`, delete data
    * files referenced ONLY by dropped versions, then the dropped
    * manifests (in that order — a crash leaves orphan data files,
    * which a re-vacuum collects; it can never delete a file a
    * surviving manifest references). Unreferenced files from FAILED
    * commits (crashed before their manifest landed) are also
    * collected, `graceMs` old at least (so an in-flight writer's
    * staged files survive). Returns (filesDeleted, manifestsDeleted).
    *
    * RETENTION CONTRACT (time-travel interaction): `keepFrom` is the
    * retention floor. Below it every read fails LOUDLY, never
    * approximately — [[readAsOf]] on a vacuumed version raises "no
    * snapshot vN" (its manifest is gone), [[readAsOfTime]] with an
    * instant older than the floor's commit raises "no version
    * committed at or before ts" rather than silently resolving to a
    * newer version, and [[changes]]/[[profileDelta]] spanning a
    * vacuumed `fromV` fail on the manifest resolve. A lazy DataFrame
    * handle obtained from [[readAsOf]] BEFORE the vacuum races it
    * (manifests resolve eagerly, data files lazily) — collect
    * pinned-version aggregates before vacuuming, as q279 does. */
  /** Shallow clone — an independent store at `dstUrl` whose v1 holds
    * exactly `srcUrl`@`version`'s rows (latest when `version` < 0).
    * Data files are HARD-LINKED on `file://` (zero bytes copied — the
    * dev-branch clone of lakehouse practice) and byte-copied on
    * filesystems without link(2). Divergence is free by construction:
    * data files are immutable (the [[writeFiles]] contract — every
    * commit lands NEW uuid-named files), so neither store can ever
    * write through a shared inode; each side's [[vacuum]] unlinks
    * only its own NAME and the inode survives while any clone still
    * references it. Stats sidecars and CHECK constraints deliberately
    * do not travel — sidecars regenerate ([[indexStats]]) and
    * constraints are store-local policy.
    *
    * Scale shape: O(files) namespace operations, zero data movement
    * on POSIX — cloning a 100k-file store is a metadata pass. */
  def cloneStore(spark: SparkSession, srcUrl: String, dstUrl: String,
      version: Int = -1): Int = {
    val v = if (version < 0) latest(spark, srcUrl) else version
    val s = snap(spark, srcUrl, v)
    val (sfs, srcRoot) = fsOf(spark, srcUrl)
    val (dfs, dstRoot) = fsOf(spark, dstUrl)
    require(versions(spark, dstUrl).isEmpty,
      s"clone target $dstUrl is already a snapshot store")
    dfs.mkdirs(dstRoot)
    val conf = spark.sessionState.newHadoopConf()
    // composite MoR entries link BOTH physical names (data file +
    // deletion vector); the manifest entry itself travels verbatim
    s.files.flatMap(entryPhysical).distinct.foreach { f =>
      val from = new Path(srcRoot, f); val to = new Path(dstRoot, f)
      // a retried clone (crash after some links, before the commit —
      // the empty-store check above still passes) finds debris at
      // `to`. Remove it BEFORE linking: letting the link throw
      // FileAlreadyExistsException and falling into the copy path
      // would open the destination with O_TRUNC — and on a retry the
      // destination IS the source's inode, so the copy would first
      // truncate the SOURCE data file. Deleting the name only drops
      // the debris link; the source's own name keeps the inode.
      if (dfs.exists(to)) dfs.delete(to, false)
      val linked =
        sfs.getUri.getScheme == "file" &&
          dfs.getUri.getScheme == "file" && {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(to.toUri.getPath),
              java.nio.file.Paths.get(from.toUri.getPath))
            true
          } catch {
            // a name appearing AFTER the pre-delete above means a
            // CONCURRENT clone is racing this destination — fail
            // loudly; falling into the copy path would O_TRUNC the
            // winner's link (= the source inode). Must precede the
            // generic case: FileAlreadyExistsException IS a
            // FileSystemException (the [[commit]] ordering).
            case _: java.nio.file.FileAlreadyExistsException =>
              sys.error(s"concurrent clone raced $to — " +
                "clone targets must have a single writer")
            // cross-device links (EXDEV) and linkless mounts fall
            // back to a byte copy, same doctrine as [[commit]]
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException => false
          }
        }
      if (!linked)
        require(org.apache.hadoop.fs.FileUtil
          .copy(sfs, from, dfs, to, false, conf),
          s"clone copy failed for $f")
    }
    commit(spark, dstRoot, 1, "clone", s.files,
      Some(schemaOf(spark, srcRoot, s)), s.colmap, s.dropped)
  }

  // ---- named refs (tags): human-named immutable version pins ----
  private def refsDir(root: Path) = new Path(root, "_refs")

  /** Pin `version` (default: the latest) under a human name — the
    * reproducible-training-set primitive: "train-2026-08" keeps
    * meaning the same bytes forever. [[vacuum]] keeps a tagged
    * version's manifest AND files alive regardless of `keepFrom`,
    * and [[readTag]] is snapshot-isolated [[readAsOf]]. Tags are
    * IMMUTABLE pins: re-tagging a live name is refused
    * ([[deleteTag]] first) — a silently moved pin would un-reproduce
    * someone's recorded run, the worst failure mode a pin can have.
    * O(1) metadata: one flat file under `_refs/`, no data touched. */
  def setTag(spark: SparkSession, url: String, name: String,
      version: Int = -1): Int = {
    val (fs, root) = fsOf(spark, url)
    require(name.nonEmpty && name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"tag name '$name' must be [A-Za-z0-9._-] with a leading alnum")
    val vs = versions(spark, url)
    require(vs.nonEmpty, s"no snapshot store at $url")
    val v = if (version > 0) version else vs.max
    require(vs.contains(v), s"setTag: v$v is not a committed version")
    val dir = refsDir(root)
    fs.mkdirs(dir)
    val p = new Path(dir, name)
    require(!fs.exists(p),
      s"tag '$name' already exists (immutable pin — deleteTag first)")
    val out = fs.create(p, false)
    try out.write(s"""{"name":"$name","version":$v}""".getBytes("UTF-8"))
    finally out.close()
    v
  }

  /** Remove a tag (the pinned version becomes ordinary [[vacuum]]
    * prey again). Refuses an unknown name — a typo'd delete that
    * "succeeds" would leave the caller believing a pin was lifted. */
  def deleteTag(spark: SparkSession, url: String, name: String): Unit = {
    val (fs, root) = fsOf(spark, url)
    val p = new Path(refsDir(root), name)
    require(fs.exists(p), s"no tag '$name' at $url")
    require(fs.delete(p, false), s"delete failed for tag '$name'")
  }

  /** All tags as (name, version), name-sorted. O(tags) metadata. */
  def tags(spark: SparkSession, url: String): Seq[(String, Int)] = {
    val (fs, root) = fsOf(spark, url)
    val dir = refsDir(root)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isFile).map { st =>
      val body = {
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      val m = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
        .getOrElse(sys.error(
          s"corrupt tag file ${st.getPath} — no version field"))
      (st.getPath.getName, m.group(1).toInt)
    }.sortBy(_._1)
  }

  /** Resolve a tag to its pinned version; loud on an unknown name. */
  def tagVersion(spark: SparkSession, url: String, name: String): Int =
    tags(spark, url).collectFirst { case (`name`, v) => v }
      .getOrElse(throw new IllegalArgumentException(
        s"no tag '$name' at $url (have: " +
          tags(spark, url).map(_._1).mkString(", ") + ")"))

  /** [[readAsOf]] the version a tag pins. */
  def readTag(spark: SparkSession, url: String, name: String): DataFrame =
    readAsOf(spark, url, tagVersion(spark, url, name))

  // ---- multi-store atomic publish (intent journal + roll-forward) ----
  private def txnDir(root: Path) = new Path(root, "_txn")
  /** One participant of an atomic publish: `files` stage INTO the
    * next manifest, `drops` (keyed-upsert rewrites only) leave it. */
  private[sources] final case class TxnPart(url: String,
    files: Seq[String], drops: Seq[String] = Nil)
  /** `key` (exactly-once [[commitTogether]]) is journaled so a
    * roll-forward commit carries it too — without that, a crash
    * before any participant commits would recover key-less and the
    * caller's retry would re-publish the batch. */
  private[sources] final case class TxnPlan(id: String,
    parts: Seq[TxnPart], key: Option[String] = None)

  /** Publish one APPEND batch to EACH of several stores so that all
    * of them become visible or none stay visible — the fact ⋈ dim
    * consistency primitive (a mart where new orders land without
    * their new customers serves wrong joins until the second commit;
    * this closes that window up to crash-recovery):
    *
    *  1. every batch's files stage into its own store (no manifest
    *     moves — staged bytes are invisible and, if abandoned,
    *     vacuum-collectable orphans);
    *  2. an INTENT journal naming every (store, staged files) pair
    *     lands in each participant's `_txn/` — the atomicity point:
    *     before it, nothing publishes; after it, the transaction
    *     WILL complete, by this call or by [[recoverTxns]]
    *     roll-forward after a crash;
    *  3. manifests commit store by store (a lost version race
    *     retries at the new head — the staged file set is the
    *     transaction's identity, not the version number);
    *  4. the journal clears.
    *
    * Semantics are all-or-nothing DURABILITY, not isolation: a
    * reader between steps 3's commits sees one store ahead — run
    * [[recoverTxns]] at pipeline start (and before [[vacuum]], whose
    * grace window is what bounds how long staged bytes survive a
    * crash) to close any open window. Batches must match their
    * store's pinned schema exactly (atomic publish + schema
    * evolution is two migrations at once — refused). CHECK
    * constraints validate per store before anything stages. */
  def commitTogether(spark: SparkSession,
      parts: Seq[(String, DataFrame, Int)]): Seq[Int] =
    commitTogether(spark, parts, commitKey = None)

  /** [[commitTogether]] with EXACTLY-ONCE semantics for
    * at-least-once callers (foreachBatch retries, re-run jobs) — the
    * multi-store [[appendOnce]]: the commits' op field carries
    * `txn-append:<commitKey>`, and a retry first ROLLS FORWARD any
    * open journal in the participants (a crash mid-publish must
    * complete before the key check is meaningful), then returns the
    * already-committed versions if any participant carries the key.
    * The key scan reads manifests only — O(versions), no data. */
  def commitTogether(spark: SparkSession,
      parts: Seq[(String, DataFrame, Int)],
      commitKey: Option[String]): Seq[Int] = {
    require(parts.nonEmpty, "commitTogether: no participants")
    require(parts.map(_._1).distinct.size == parts.size,
      "commitTogether: duplicate store url (one batch per store)")
    parts.foreach { case (url, _, _) =>
      require(!url.contains("\"") && !url.contains("\\"),
        s"commitTogether: url $url — quotes/backslashes unsupported") }
    commitKey.foreach { key =>
      require(key.matches("[A-Za-z0-9_.-]+"),
        s"commitKey '$key' must be [A-Za-z0-9_.-]+")
      // complete any crashed predecessor FIRST: the dedup check is
      // only sound once every journaled transaction has published
      parts.foreach { case (url, _, _) => recoverTxns(spark, url) }
      val op = s"txn-append:$key"
      val prior = parts.map { case (url, _, _) =>
        versions(spark, url).find(v => snap(spark, url, v).op == op)
      }
      if (prior.exists(_.isDefined)) {
        // all-or-nothing: after recovery, a key present anywhere
        // must be present everywhere
        require(prior.forall(_.isDefined),
          s"commitTogether key $key found in only some participants" +
            " — journals were cleared without completing; manual " +
            "repair required")
        return prior.map(_.get)
      }
    }
    // validate everything BEFORE staging anything: a refusal here
    // costs zero IO and leaves zero debris
    val resolved = parts.map { case (url, df, nFiles) =>
      val (_, root) = fsOf(spark, url)
      val parent = snap(spark, url, latest(spark, url))
      val schema = schemaOf(spark, root, parent)
      require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"commitTogether: batch schema for $url must equal the " +
          s"pinned store schema (no evolution inside a transaction)")
      validateBatch(spark, root, url, df)
      (url, df, nFiles, root, parent)
    }
    val staged = resolved.map { case (url, df, nFiles, root, parent) =>
      TxnPart(url, writeFiles(spark, root, df, parent.version + 1,
        nFiles, colmap = parent.colmap))
    }
    val plan = TxnPlan(
      java.util.UUID.randomUUID().toString.take(12), staged,
      commitKey)
    writeTxnMarkers(spark, plan)
    val vs = plan.parts.map(p =>
      commitStagedInto(spark, p.url, p.files, key = plan.key))
    clearTxnMarkers(spark, plan)
    vs
  }

  /** One keyed-upsert participant of [[upsertTogether]]. */
  final case class UpsertPart(url: String, updates: DataFrame,
    keyCol: String, deleteCol: Option[String] = None,
    bloomIndexUrl: Option[String] = None)

  /** [[commitTogether]] for keyed UPSERT batches — the CDC shape the
    * fact ⋈ dim consistency story actually needs (an order update
    * without its customer update serves wrong joins until the second
    * commit). Each participant's copy-on-write rewrite stages first
    * ([[stageUpsert]]: affected files computed, rewritten files
    * written, NOTHING committed), the intent journal records every
    * (store, staged, dropped) triple, then manifests commit store by
    * store and the journal clears. A crash after the journal lands
    * is rolled FORWARD by [[recoverTxns]] through the same
    * idempotent commit (staged-set membership is the transaction's
    * identity). Same semantics envelope as [[commitTogether]]:
    * all-or-nothing durability, not isolation — run [[recoverTxns]]
    * at pipeline start. Mutation transactions are single-writer per
    * store (the documented maintenance contract): a commit that
    * interleaves between staging and publish and retires an affected
    * file fails the roll-forward loudly rather than dropping files a
    * new head no longer lists. Unlike [[commitTogether]]'s
    * append-only batches, validation here is interleaved with
    * staging (the affected-set computation IS part of validation),
    * so a refusal on a later participant leaves earlier
    * participants' staged files behind — invisible, never
    * published, vacuum-collectable orphans. */
  def upsertTogether(spark: SparkSession,
      parts: Seq[UpsertPart], maxKeys: Int = 1000000): Seq[Int] = {
    require(parts.nonEmpty, "upsertTogether: no participants")
    require(parts.map(_.url).distinct.size == parts.size,
      "upsertTogether: duplicate store url (one batch per store)")
    parts.foreach { p =>
      require(!p.url.contains("\"") && !p.url.contains("\\"),
        s"upsertTogether: url ${p.url} — quotes/backslashes " +
          "unsupported") }
    val staged = parts.map { p =>
      val (_, _, affected, rewritten) = stageUpsert(spark, p.url,
        p.updates, p.keyCol, p.deleteCol, p.bloomIndexUrl, maxKeys,
        expectedParentVersion = -1)
      TxnPart(p.url, rewritten, affected)
    }
    val plan = TxnPlan(
      java.util.UUID.randomUUID().toString.take(12), staged)
    writeTxnMarkers(spark, plan)
    val vs = plan.parts.map(p =>
      commitStagedInto(spark, p.url, p.files, p.drops))
    clearTxnMarkers(spark, plan)
    vs
  }

  /** Commit staged file names into a store's next version,
    * surviving version races (retry at the new head) and re-runs
    * (a version already listing every staged file is returned
    * as-is — the roll-forward idempotence [[recoverTxns]] needs).
    * `drops` (keyed-upsert transactions) are the affected files the
    * rewrite replaces: they leave the manifest in the same commit.
    * A head that no longer lists every drop (a foreign commit
    * interleaved — mutation transactions are single-writer per
    * store) refuses loudly rather than un-listing files some other
    * commit owns. */
  private[sources] def commitStagedInto(spark: SparkSession,
      url: String, staged: Seq[String],
      drops: Seq[String] = Nil,
      key: Option[String] = None): Int = {
    val (fs, root) = fsOf(spark, url)
    val stagedSet = staged.toSet
    val opStr = (if (drops.isEmpty) "txn-append" else "txn-upsert") +
      key.map(":" + _).getOrElse("")
    commitOnHead(spark, url) { vs =>
      vs.find(v => stagedSet.subsetOf(snap(spark, url, v).files.toSet))
        // per-ATTEMPT key re-check (not just the pre-staging scan in
        // commitTogether): two concurrent callers with the same
        // commitKey can both pass the initial check-then-act scan;
        // whoever loses the version race must find the winner's
        // keyed commit HERE and return it instead of double-
        // publishing (the loser's staged files stay invisible,
        // vacuum-collectable orphans)
        .orElse(if (key.isEmpty) None
          else vs.filter(v => snap(spark, url, v).op == opStr)
            .minOption)
    } { parent =>
      staged.foreach(f =>
        require(fs.exists(new Path(root, f)),
          s"staged file $f missing at $url (vacuumed before " +
            "recovery?) — transaction cannot complete"))
      val missingDrops = drops.filterNot(parent.files.toSet)
      require(missingDrops.isEmpty,
        s"txn-upsert at $url: affected file(s) " +
          s"${missingDrops.take(3).mkString(",")} left the " +
          s"manifest at v${parent.version} — a foreign commit " +
          "interleaved with the transaction (mutation " +
          "transactions are single-writer per store)")
      commitNext(spark, root, parent, opStr,
        parent.files.filterNot(drops.toSet) ++ staged,
        schemaOf(spark, root, parent))
    }
  }

  private[sources] def writeTxnMarkers(spark: SparkSession,
      plan: TxnPlan): Unit = {
    val keyField = plan.key
      .map(k => s""""key":"$k",""").getOrElse("")
    val json = s"""{"txn":"${plan.id}",$keyField"parts":[""" +
      plan.parts.map { p =>
        val dropsField =
          if (p.drops.isEmpty) ""
          else s""","drops":[${p.drops.sorted
            .map("\"" + _ + "\"").mkString(",")}]"""
        s"""{"url":"${p.url}","files":[""" +
          p.files.sorted.map("\"" + _ + "\"").mkString(",") +
          s"]$dropsField}"
      }.mkString(",") + "]}"
    plan.parts.foreach { p =>
      val (fs, root) = fsOf(spark, p.url)
      fs.mkdirs(txnDir(root))
      val out = fs.create(new Path(txnDir(root), plan.id), false)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
  }

  private def clearTxnMarkers(spark: SparkSession,
      plan: TxnPlan): Unit =
    plan.parts.foreach { p =>
      val (fs, root) = fsOf(spark, p.url)
      fs.delete(new Path(txnDir(root), plan.id), false)
    }

  /** Transactions whose intent journal is still open in this store
    * (crashed mid-[[commitTogether]], or racing right now). */
  def pendingTxns(spark: SparkSession, url: String): Seq[String] = {
    val (fs, root) = fsOf(spark, url)
    val dir = txnDir(root)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath.getName).sorted
  }

  /** Roll FORWARD every open transaction journaled in this store:
    * each participant whose staged files are not yet in a manifest
    * gets them committed (idempotent — already-committed stores are
    * skipped), then the journal clears in every participant. Run at
    * pipeline start and before [[vacuum]]. Returns the number of
    * transactions completed. */
  def recoverTxns(spark: SparkSession, url: String): Int = {
    val (fs, root) = fsOf(spark, url)
    val dir = txnDir(root)
    if (!fs.exists(dir)) return 0
    val markers = fs.listStatus(dir).toSeq.filter(_.isFile)
    markers.foreach { st =>
      val body = {
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      val id = """"txn"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(sys.error(
          s"corrupt txn journal ${st.getPath}"))
      def names(s: String): Seq[String] = s.split(",").toSeq
        .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\""))
      val parts =
        """\{"url":"([^"]+)","files":\[([^\]]*)\](?:,"drops":\[([^\]]*)\])?\}""".r
          .findAllMatchIn(body).map { m =>
            TxnPart(m.group(1), names(m.group(2)),
              Option(m.group(3)).map(names).getOrElse(Nil))
          }.toSeq
      require(parts.nonEmpty, s"corrupt txn journal ${st.getPath}")
      val key = """"key"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(body).map(_.group(1))
      parts.foreach(p =>
        commitStagedInto(spark, p.url, p.files, p.drops, key))
      clearTxnMarkers(spark, TxnPlan(id, parts, key))
    }
    markers.size
  }

  /** Exact global (min, max) of an integral stats-indexed field at
    * `version`, priced from the `_stats` sidecar alone — O(files)
    * metadata rows, no data file opened. Returns None unless EVERY
    * entry of the version carries a stats row for the field (a
    * partially-covered sidecar could hide the true extremum) and the
    * field is a long-band column (string bands are truncated
    * prefixes — exact for pruning, not for answering). Inner options
    * are None when the version holds no non-null value (SQL min/max
    * of an empty/all-null column is NULL). Exact across
    * merge-on-read versions: stats rows are keyed by manifest ENTRY
    * and aggregate EFFECTIVE rows ([[indexStats]]). */
  def statsMinMax(spark: SparkSession, url: String, field: String,
      version: Int = -1): Option[(Option[Long], Option[Long])] = {
    import org.apache.spark.sql.types._
    val (fs, root) = fsOf(spark, url)
    val sp = SidecarDelta.statsPath(root)
    if (!fs.exists(sp)) return None
    val v = if (version > 0) version else latest(spark, url)
    val s = snap(spark, url, v)
    if (s.files.isEmpty) return Some((None, None))
    val schema = schemaOf(spark, root, s)
    if (!schema.fieldNames.contains(field)) return None
    schema(field).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case _ => return None
    }
    val rows = ParquetRead(spark, sp.toString)
      .filter(col("field") === s.phys(field))
      .select(col("file"), col("min_v"), col("max_v"))
      .collect()
    val byEntry = rows.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    if (!s.files.forall(byEntry.contains)) return None
    val mins = s.files.flatMap(f => byEntry(f)._1)
    val maxs = s.files.flatMap(f => byEntry(f)._2)
    Some((mins.minOption, maxs.maxOption))
  }

  /** EFFECTIVE row count of a version from parquet FOOTERS alone —
    * `COUNT(*)` without touching a data page: every data file's
    * record count comes from its footer (one small metadata read,
    * distributed over executors — a 100k-file store answers in
    * seconds), and merge-on-read entries subtract their deletion
    * vectors' paired positions (the DV parquets are sparse-small by
    * contract). Exact by construction: footers are written with the
    * files and files are immutable. The complement to the
    * stats-sidecar pricing ([[countWhere]] for RANGE counts): this
    * needs no sidecar and no clustering, just the manifest. */
  def rowCountMeta(spark: SparkSession, url: String,
      version: Int = -1): Long = {
    val (_, root) = fsOf(spark, url)
    val v = if (version > 0) version else latest(spark, url)
    val s = snap(spark, url, v)
    if (s.files.isEmpty) return 0L
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val dataPaths = s.files
      .map(e => new Path(root, splitEntry(e)._1).toString)
    val total = spark.sparkContext
      .parallelize(dataPaths, math.max(1, math.min(dataPaths.size, 64)))
      .map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p), conf.value))
        try r.getRecordCount finally r.close()
      }.sum().toLong
    // DV'd entries: subtract exactly the positions paired to THIS
    // version's (data, vector) entries — a shared DV file may also
    // carry positions for data files re-listed plain elsewhere
    val dvGroups = s.files.map(splitEntry)
      .collect { case (d, Some(dv)) => (dv, d) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val deleted = dvGroups.map { case (dv, grp) =>
      ParquetRead(spark, new Path(root, dv).toString)
        .filter(col("__dv_file").isin(grp.map(_._2): _*)).count()
    }.sum
    total - deleted
  }

  def vacuum(spark: SparkSession, url: String, keepFrom: Int,
      graceMs: Long = 3600L * 1000): (Int, Int) = {
    val (fs, root) = fsOf(spark, url)
    val vs = versions(spark, url)
    require(vs.contains(keepFrom), s"keepFrom=$keepFrom not a version")
    // an open txn journal means staged-but-uncommitted files that a
    // roll-forward still needs — collecting them would wedge the
    // transaction permanently
    require(pendingTxns(spark, url).isEmpty,
      s"open transactions at $url — run recoverTxns before vacuum")
    // tagged versions are pinned: their manifests and files survive
    // any keepFrom (the reproducibility contract of [[setTag]])
    val pinned = tags(spark, url).map(_._2).toSet
    def keeps(v: Int): Boolean = v >= keepFrom || pinned.contains(v)
    // reference sets expand composite MoR entries to their PHYSICAL
    // names: a deletion-vector parquet is alive exactly as long as
    // some surviving manifest's entry names it
    def physical(vs: Seq[Int]): Set[String] =
      liveEntries(spark, url, vs).flatMap(entryPhysical).toSet
    val live = physical(vs.filter(keeps))
    // files an expiring manifest references die with it; files NO
    // manifest references are either failed-commit debris or an
    // IN-FLIGHT commit's staged files (writers land data files in the
    // root before the manifest) — only the grace window tells them
    // apart, so orphans must outlive it before collection
    val retired = physical(vs.filterNot(keeps)) -- live
    val cutoff = System.currentTimeMillis() - graceMs
    val onDisk = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val doomed = onDisk.filter { st =>
      val n = st.getPath.getName
      !live.contains(n) &&
        (retired.contains(n) || st.getModificationTime < cutoff)
    }
    // Re-check against the CURRENT manifest set right before
    // deleting: a concurrent restore() commits a NEW head that
    // re-lists retired files, and the live set above was computed
    // from a listing that predates it. Maintenance ops are
    // documented single-writer, but this narrows the window from
    // the whole vacuum to one listing round-trip — a file any
    // now-visible surviving manifest references is never deleted.
    val liveNow = physical(versions(spark, url).filter(keeps))
    val safe = doomed.filterNot(st => liveNow.contains(st.getPath.getName))
    safe.foreach(st => require(fs.delete(st.getPath, false),
      s"delete failed vacuuming ${st.getPath}"))
    val deadVs = vs.filterNot(keeps)
    deadVs.foreach(v => require(fs.delete(manifestPath(root, v), false),
      s"delete failed retiring manifest v$v"))
    // crash-debris sweep beyond root-level data files: a JVM dying
    // inside commit leaves a `_snap/_tmp-v*` manifest, and stores
    // written by earlier releases, which staged through a directory,
    // can still hold a `_snap_stage_*` staging DIR — neither matches
    // the .parquet file filter above, so without this they leak
    // forever (the documented vacuum contract says failed-commit
    // debris is collectable). Grace-gated like everything else.
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_snap_stage_") &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val snapDir = new Path(root, SnapDir)
    if (fs.exists(snapDir))
      fs.listStatus(snapDir).toSeq
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith("_tmp-v") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    pruneStats(spark, url) // sidecar hygiene rides every vacuum
    VectorIndex.prunePostings(spark, url) // ... postings included
    (safe.length, deadVs.length)
  }
}
