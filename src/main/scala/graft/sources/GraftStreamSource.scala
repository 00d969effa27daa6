package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.table("graft.store")`: a [[VersionLogStream]]
  * whose batches are store FILES, decoded on executors by Spark's own
  * parquet reader ([[StreamBridge.readFunc]]), one [[InputPartition]]
  * per file.
  *
  * Batch contents: the batch from version 0 (the default
  * `startingVersion`) is the store's current contents at its end
  * version, whatever history produced them. It is DV- and
  * colmap-aware: composite entries drop their vector's positions in
  * the per-file reader, and files decode under their physical names
  * and present logical ones. Every later batch is the files its
  * versions appended.
  *
  * Lineage: append-only past the start. Every version number in a
  * later batch's range must still be committed and be a create,
  * append or txn-append commit; anything else refuses, naming
  * `format("graft-changes")` ([[graft.streaming
  * .GraftChangesProvider]]), which diffs mutating and vacuumed
  * ranges. Re-emitting rewritten files would duplicate rows, and
  * skipping them would drop data. A vacuumed version fails the check
  * because its manifest, the only record of what it did, is gone. */
private[sources] class GraftMicroBatchStream(
    protected val spark: SparkSession,
    protected val url: String, label: String, dataSchema: StructType,
    requiredSchema: StructType,
    protected val options: VersionStreamOptions)
    extends MicroBatchStream with VersionLogStream {

  private val AllowedOp = "^(create|append|txn-append)".r
  // the column mapping is pinned at stream start, like the schema:
  // a rename later in the stream is a mutation the op check refuses
  private val colmap: Map[String, String] =
    Snapshots.snap(spark, url, Snapshots.latest(spark, url)).colmap

  override def latestOffset(): Offset = reportLatestOffset()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = VersionOffset.of(start)
    val e = VersionOffset.of(end)
    if (e <= s) return Array.empty
    val endSnap = Snapshots.snap(spark, url, e)
    val entries: Seq[String] =
      if (s == 0) {
        require(endSnap.colmap == colmap,
          s"streaming read of $label: the column mapping changed " +
            "between stream creation and its first batch — restart " +
            "the stream")
        endSnap.files.sorted
      } else {
        val all = Snapshots.versions(spark, url).toSet
        val gone = (s to e).filterNot(all)
        require(gone.isEmpty,
          s"streaming read of $label: vacuum retired " +
            s"v${gone.mkString(", v")} of the batch range v$s..v$e, " +
            "so its append-only lineage cannot be checked; use " +
            "format(\"graft-changes\") (CDC), which diffs across " +
            "surviving versions")
        ((s + 1) to e).foreach { v =>
          val sn = Snapshots.snap(spark, url, v)
          require(AllowedOp.findFirstIn(sn.op).isDefined,
            s"streaming read of $label: v$v is '${sn.op}' — the " +
              "stream contract is an append-only lineage past the " +
              "start offset; use format(\"graft-changes\") (CDC) " +
              "for mutating stores")
        }
        val base = Snapshots.snap(spark, url, s).files.toSet
        val added = endSnap.files.filterNot(base)
        // appends only ever add PLAIN files; a composite entry here
        // means a mutation slipped the op trail (defense in depth)
        require(added.forall(!_.contains(Snapshots.DvSep)),
          s"streaming read of $label: merge-on-read entries in the " +
            "appended range — use format(\"graft-changes\")")
        added.sorted
      }
    val root = new Path(url)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE directory listing serves every entry's (path, length,
    // mtime) — a per-file getFileStatus loop is O(files) driver
    // round-trips, the planning bottleneck on an object store at
    // 100k files (a flat store listing is one paged call)
    val byName = fs.listStatus(root).iterator
      .filter(_.isFile)
      .map(st => st.getPath.getName ->
        (st.getPath.toString, st.getLen, st.getModificationTime))
      .toMap
    def statOf(name: String): (String, Long, Long) =
      byName.getOrElse(name, {
        val st = fs.getFileStatus(new Path(root, name))
        (st.getPath.toString, st.getLen, st.getModificationTime)
      })
    entries.map { f =>
      val (data, dvOpt) = Snapshots.splitEntry(f)
      val (p, len, mt) = statOf(data)
      GraftFilePartition(p, len, mt, data,
        dvOpt.map(statOf)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // files store PHYSICAL names; InternalRow is positional, so
    // reading the physically-renamed required schema IS the logical
    // projection
    val phys = Snapshots.physSchema(dataSchema, colmap)
    val physReq = Snapshots.physSchema(requiredSchema, colmap)
    new GraftStreamReaderFactory(
      StreamBridge.readFunc(spark, phys, physReq,
        spark.sessionState.newHadoopConf()),
      StreamBridge.readFunc(spark, GraftStreamSource.DvSchema,
        GraftStreamSource.DvSchema,
        spark.sessionState.newHadoopConf()))
  }

}

private[sources] object GraftStreamSource {
  /** Deletion-vector sidecar schema ([[Snapshots]] MoR commits). */
  val DvSchema: StructType = StructType(Seq(
    StructField("__dv_file", StringType),
    StructField("__dv_pos", LongType)))
}

private[sources] case class GraftFilePartition(path: String,
    length: Long, modificationTime: Long,
    dataName: String = "",
    dv: Option[(String, Long, Long)] = None) extends InputPartition

/** Executor-side reader: Spark's own parquet decode per file
  * (vectorized; flattened to rows at the boundary). The read
  * function is the serializable closure the batch file scan ships —
  * same codecs, same schema-evolution null fill. A composite MoR
  * partition first loads its OWN file's deleted positions from the
  * vector sidecar (sparse by contract), then drops them by row
  * index — exact because a whole-file single-partition scan with no
  * pushed filters decodes rows in file order, the same order the
  * DV's `_metadata.row_index` positions were minted from. */
private[sources] class GraftStreamReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    dvReadFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val base = readFunc(StreamBridge.wholeFile(p.path, p.length,
      p.modificationTime))
    val it = p.dv match {
      case None => base
      case Some((dvPath, dvLen, dvM)) =>
        val dropped = new java.util.HashSet[Long]()
        dvReadFunc(StreamBridge.wholeFile(dvPath, dvLen, dvM))
          .foreach { r =>
            if (!r.isNullAt(0) &&
                r.getUTF8String(0).toString == p.dataName)
              dropped.add(r.getLong(1))
          }
        var pos = -1L
        base.filter { _ => pos += 1; !dropped.contains(pos) }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
