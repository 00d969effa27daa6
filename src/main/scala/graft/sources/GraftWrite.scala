package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType

/** NATIVE DataSourceV2 writes for [[GraftCatalog]] tables — the
  * write-side twin of the inlined effective scan: executors write
  * parquet data files DIRECTLY into the store root under their final
  * names through [[WriteBridge]] (the one writer of a store's files;
  * every [[Snapshots]] commit stages through it too, by
  * [[GraftWriteV2.stage]]), and the driver commits the manifest once
  * every task has reported its file. No staging directory, no
  * driver-side renames: uncommitted names are invisible to readers
  * and a crashed write leaves only the grace-windowed debris
  * [[Snapshots.vacuum]] already sweeps — the commit protocol object
  * stores need at 100 TB, where a per-file rename pass is itself a
  * scaling bottleneck.
  *
  * Semantics match the manifest layer exactly:
  *  - `INSERT INTO` commits one `append` version through the SAME
  *    race-retrying [[Snapshots.commitAppendStaged]] the programmatic
  *    API uses (concurrent appends land contiguous versions; a
  *    rename interleaving the race refuses loudly);
  *  - `INSERT OVERWRITE` (truncate) commits one `overwrite` version
  *    whose pinned schema is the batch's (column mapping resets,
  *    exactly like [[Snapshots.overwrite]]);
  *  - `df.writeStream.toTable("graft.store")` commits one append
  *    version PER EPOCH, exactly-once: the commit's op carries
  *    `append:sw-<queryId>-e<epoch>`, so a replayed epoch (sink
  *    retry, restart from an uncommitted checkpoint) finds the prior
  *    commit and no-ops, its staged files left as vacuum orphans —
  *    the [[Snapshots.appendOnce]] contract, natively;
  *  - CHECK constraints validate against the STAGED BYTES — the rows
  *    readers would actually see — before any manifest is written; a
  *    violation deletes the staged files and refuses with the
  *    constraint's name;
  *  - renamed stores write their files under PHYSICAL names
  *    ([[Snapshots.physSchema]]), so every data file of a store keeps
  *    one stable physical schema forever;
  *  - CDC, time travel and the metadata tables all see the commit —
  *    nothing bypasses the manifest layer;
  *  - post-commit, the store's CONVENTIONAL sidecars (stats bands,
  *    key bloom) refresh incrementally ([[Snapshots
  *    .refreshSidecars]]), so SQL-ingested stores keep banded DML
  *    routing, MERGE bloom discovery and metadata-priced aggregates
  *    live with zero manual CALLs.
  *
  * File-count behavior is the scan-side dual of one-partition-one-
  * file: each input task writes exactly one data file (none when the
  * task is empty), so write parallelism equals append parallelism
  * and no forced exchange sits in front of the sink — AQE's coalesced
  * partitioning decides the file count, the layout `compactSmall`/
  * `cluster` own anyway. */
private[sources] class GraftWriteBuilderV2(url: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
  private var overwriteAll = false
  override def truncate(): WriteBuilder = { overwriteAll = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(url, info.schema(), overwriteAll)
    override def toStreaming: StreamingWrite = {
      require(!overwriteAll,
        "graft streaming writes are append-only — 'complete'/" +
          "'truncate' output modes would rewrite the store every " +
          "epoch; use outputMode(\"append\")")
      new GraftStreamingWrite(url, info.schema(), info.queryId())
    }
    override def description(): String =
      s"graft-v2-write[$url, overwrite=$overwriteAll]"
  }
}

/** One task's committed data file (absent when the task opened none
  * — empty partitions stage nothing). */
private[sources] case class GraftFileCommit(name: Option[String])
    extends WriterCommitMessage

/** Driver-side commit machinery shared by the batch and streaming
  * writes, and the staging write every [[Snapshots]] commit uses. */
private[sources] object GraftWriteV2 {
  /** Write `df` into the store root as one Spark job, one file per
    * partition named `<stem>-p<partition>-t<task>.parquet`; return the
    * names in partition order. The files are those `df.write.parquet`
    * stages (Spark 4.1's `FileFormatWriter` rule): partition 0 always,
    * one empty task for a frame with no partitions (so an empty frame
    * stages one file carrying its schema), no other empty partition.
    * A failed task drops its partial file ([[GraftDataWriter.abort]]). */
  def stage(spark: SparkSession, root: Path, df: DataFrame,
      stem: String): Seq[String] = {
    val dir = root.toString
    WriteBridge.withRows(df) { (schema, rdd) =>
      val writers = WriteBridge.parquetTaskWriters(spark, schema)
      spark.sparkContext.runJob(
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1),
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val w = new GraftDataWriter(dir, stem, ctx.partitionId(),
            ctx.taskAttemptId(), writers)
          try {
            if (ctx.partitionId() == 0) w.openFile()
            rows.foreach(w.write)
            w.commit().name
          } catch { case e: Throwable => w.abort(); throw e }
        }).toSeq.flatten
    }
  }

  /** The name stem `s{version}-{tag}` of a write's staged files. */
  def stemOf(version: Int): String =
    f"s$version%08d-${java.util.UUID.randomUUID().toString.take(8)}"

  def deleteStaged(spark: SparkSession, url: String,
      names: Seq[String]): Unit = {
    val (fs, root) = Snapshots.fsOf(spark, url)
    names.foreach { n =>
      try fs.delete(new Path(root, n), false)
      catch { case _: java.io.IOException => () }
    }
  }

  def stagedOf(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.collect { case GraftFileCommit(Some(n)) => n }
      .sorted

  /** Commit a SQL write's staged files: validate CHECK constraints
    * against their LOGICAL view (no scan without a constraint), then
    * `commit`, deleting them on a refusal or a failed commit. After
    * the commit the store's conventional sidecars refresh — O(new
    * files); a failure there must not fail a write whose data is
    * already durably committed (stale sidecars are safe by the
    * coverage guards; the next refresh catches up). */
  def publish(spark: SparkSession, url: String, staged: Seq[String],
      logicalSchema: StructType, colmap: Map[String, String])(
      commit: (Path, Seq[String]) => Unit): Unit = {
    val (_, root) = Snapshots.fsOf(spark, url)
    try {
      if (staged.nonEmpty)
        Snapshots.validateBatch(spark, root, url, Snapshots
          .readEntriesEff(spark, root, staged, logicalSchema, colmap))
      commit(root, staged)
    } catch {
      case e: Throwable => deleteStaged(spark, url, staged); throw e
    }
    try Snapshots.refreshSidecars(spark, url): Unit
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft: sidecar refresh after commit to $url failed " +
            s"(stale sidecars are safe; next refresh catches up): " +
            s"${e.getMessage}")
    }
  }
}

private[sources] class GraftBatchWrite(url: String,
    logicalSchema: StructType, overwriteAll: Boolean)
    extends BatchWrite {

  private def spark: SparkSession = SparkSession.active
  // resolved ONCE at write start: the parent's column mapping names
  // the physical fields appended files must carry; an overwrite
  // resets the mapping (fresh files under logical names), mirroring
  // Snapshots.overwrite
  private val parentColmap: Map[String, String] =
    if (overwriteAll) Map.empty
    else Snapshots.snap(spark, url, Snapshots.latest(spark, url)).colmap
  private val physical: StructType =
    Snapshots.physSchema(logicalSchema, parentColmap)
  // cosmetic version prefix for staged names (the manifest, not the
  // name, is what binds a file to a version — race retries may land
  // the commit at a later slot)
  private val stem = GraftWriteV2.stemOf(Snapshots.latest(spark, url) + 1)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val writers = WriteBridge.parquetTaskWriters(spark, physical)
    val (r, st) = (new Path(url).toString, stem)
    (partitionId: Int, taskId: Long) =>
      new GraftDataWriter(r, st, partitionId, taskId, writers)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteV2.publish(spark, url, GraftWriteV2.stagedOf(messages),
        logicalSchema, parentColmap) { (root, staged) =>
      if (overwriteAll) {
        // same non-retrying contract as Snapshots.overwrite: the
        // replacement set does not depend on the head, but racing
        // overwrites should surface, not silently stack
        Snapshots.commit(spark, root,
          Snapshots.latest(spark, url) + 1, "overwrite", staged,
          Some(logicalSchema)): Unit
      } else {
        Snapshots.commitAppendStaged(spark, root, url, "append",
          staged, logicalSchema, parentColmap): Unit
      }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteV2.deleteStaged(spark, url,
      GraftWriteV2.stagedOf(messages))
}

/** `writeStream.toTable("graft.store")` — one append version per
  * epoch, exactly-once under replays via the epoch-keyed commit op
  * (see class doc above). Empty epochs commit nothing (no version
  * noise; replaying an empty epoch is idempotent by vacuity).
  *
  * Cost note: the exactly-once dedup scans the manifest log
  * (O(versions) small JSON reads per epoch, same as
  * [[Snapshots.appendOnce]]) — bounded in practice by vacuum
  * retention, which caps the live version count; a sink driving a
  * store past ~10k un-vacuumed versions should schedule
  * `Warehouse.maintain` (or `CALL graft.vacuum`) into its cadence. */
private[sources] class GraftStreamingWrite(url: String,
    logicalSchema: StructType, queryId: String)
    extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active
  // pinned at stream start, like the schema: a rename mid-stream is
  // caught by commitAppendStaged's colmap guard and refuses loudly
  private val parentColmap: Map[String, String] =
    Snapshots.snap(spark, url, Snapshots.latest(spark, url)).colmap
  private val physical: StructType =
    Snapshots.physSchema(logicalSchema, parentColmap)
  private val stem = GraftWriteV2.stemOf(Snapshots.latest(spark, url) + 1)
  require(queryId != null && queryId.matches("[A-Za-z0-9_.-]+"),
    s"streaming write needs a path-safe query id, got '$queryId'")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val writers = WriteBridge.parquetTaskWriters(spark, physical)
    val (r, st) = (new Path(url).toString, stem)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new GraftDataWriter(r, s"$st-e$epochId", partitionId, taskId,
        writers)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = GraftWriteV2.stagedOf(messages)
    if (staged.nonEmpty)
      GraftWriteV2.publish(spark, url, staged, logicalSchema,
          parentColmap) { (root, staged) =>
        Snapshots.commitAppendStaged(spark, root, url,
          s"append:sw-$queryId-e$epochId", staged, logicalSchema,
          parentColmap,
          dedupOp = Some(s"append:sw-$queryId-e$epochId")): Unit
      }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftWriteV2.deleteStaged(spark, url,
      GraftWriteV2.stagedOf(messages))
}

/** Ships to executors: opens one parquet writer per non-empty task,
  * writing `{stem}-p{partition}-t{task}.parquet` directly in the
  * store root (task id in the name keeps retry attempts distinct;
  * the commit coordinator ensures exactly one attempt's message is
  * committed — the loser's file is vacuum debris). */
private[sources] class GraftDataWriter(rootStr: String, stem: String,
    partitionId: Int, taskId: Long, writers: WriteBridge.TaskWriters)
    extends DataWriter[InternalRow] {
  private val name = f"$stem-p$partitionId%05d-t$taskId.parquet"
  private var open: WriteBridge.RowFileWriter = _
  private var opened = false

  // lazy open: an empty partition stages NO file (a tiny INSERT
  // lands one file, not one per shuffle partition); stage opens its
  // partition 0 up front
  def openFile(): Unit = if (!opened) {
    open = writers.open(s"$rootStr/$name", partitionId, taskId)
    opened = true
  }

  override def write(row: InternalRow): Unit = {
    openFile()
    open.write(row)
  }

  override def commit(): GraftFileCommit = {
    close()
    GraftFileCommit(if (opened) Some(name) else None)
  }

  override def abort(): Unit = {
    if (open != null) {
      try open.close() catch { case _: java.io.IOException => () }
      open.drop()
      open = null
    }
  }

  override def close(): Unit =
    if (open != null) { open.close(); open = null }
}
