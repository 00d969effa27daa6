package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => V2Offset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Snapshots

/** STREAMING change-data feed over a snapshot store — the streaming
  * read for MUTATING stores (the append-only
  * `readStream.table("graft.store")` source refuses upserts/deletes/
  * compactions by contract; this source is their tool):
  * {{{
  *   spark.readStream.format("graft-changes")
  *     .option("url", "/data/store").option("keyCol", "id")
  *     .load()   // store columns + _change + _commit_version
  * }}}
  *
  * Offsets are manifest VERSIONS (`{"version":7}` in the checkpoint —
  * exact, replayable, human-readable). Each micro-batch emits the
  * PER-VERSION diffs of the versions it covers, one
  * [[Snapshots.changes]] frame per step tagged `_commit_version`, so
  * the feed is identical no matter where batch boundaries fall (a
  * range-collapsed diff would silently merge two upserts to one key
  * when they land in one trigger). Version 1 emits the initial
  * contents as `insert` rows (the Delta convention: the stream's
  * first batch is the full state, every later batch a delta).
  *
  * Scale shape: each step's diff is the manifest-diff CDC — only
  * files ADDED or DROPPED by that version are read, the exchange
  * carries changed rows only; a 10-file upsert on a 100k-file corpus
  * prices ~20 files, never the store. Metadata-only commits (rename,
  * tag) diff to zero files and emit nothing; a compaction reads its
  * rewritten files and emits nothing (whole-tuple anti-join). The
  * retention contract is the reader's: versions the stream has not
  * consumed must outlive [[Snapshots.vacuum]]'s keepFrom, exactly
  * like any CDC consumer.
  *
  * Options: `url` (required), `keyCol` (required — the
  * unique-per-version key the upsert contract already pins),
  * `includeOld` (default false: updates also emit their PRE-image as
  * `update_old` rows — the retraction incremental aggregates need),
  * `startingVersion` (default 0 = full initial snapshot; a committed
  * version v starts the feed at the v→v+1 diff, for consumers that
  * bootstrap from a batch read of v), `maxVersionsPerTrigger`
  * (admission control: cap each micro-batch at N committed versions
  * — a resume after a long gap drains as bounded batches instead of
  * one batch unioning a leg per version; safe because the cap is
  * applied in `latestOffset(start, limit)` whose start the ENGINE
  * supplies from the checkpoint, never a getOffset-side guess that
  * could regress a committed offset). */
class GraftChangesProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  private def opt(parameters: Map[String, String],
      key: String): String =
    parameters.getOrElse(key, throw new IllegalArgumentException(
      s"graft-changes needs option '$key'"))

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-changes derives its schema from the store — drop the " +
        ".schema(...) call")
    // validate EVERYTHING here: load() resolves only the schema (the
    // source itself is created lazily at query start), and a bad
    // option should refuse at load, not first trigger
    val url = opt(parameters, "url")
    val spark = ctx.sparkSession
    require(Snapshots.versions(spark, url).nonEmpty,
      s"no snapshot store at $url")
    val out = GraftChangesSource.cdfSchema(spark, url)
    val keyCol = opt(parameters, "keyCol")
    require(Snapshots.headSchema(spark, url).fieldNames
      .contains(keyCol), s"store $url has no column $keyCol")
    (shortName(), out)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val url = opt(parameters, "url")
    val keyCol = opt(parameters, "keyCol")
    val includeOld = parameters.get("includeOld").exists(_.toBoolean)
    val startV = parameters.get("startingVersion").map(_.toInt)
      .getOrElse(0)
    val maxVersions = parameters.get("maxVersionsPerTrigger")
      .map(_.toInt)
    maxVersions.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    val spark = ctx.sparkSession
    require(Snapshots.versions(spark, url).nonEmpty,
      s"no snapshot store at $url")
    require(Snapshots.headSchema(spark, url).fieldNames
      .contains(keyCol), s"store $url has no column $keyCol")
    if (startV > 0)
      require(Snapshots.versions(spark, url).contains(startV),
        s"startingVersion=$startV is not a committed version of $url")
    new GraftChangesSource(spark, url, keyCol, includeOld, startV,
      maxVersions)
  }
}

private[streaming] object GraftChangesSource {
  val ChangeCol = "_change"
  val VersionCol = "_commit_version"

  def cdfSchema(spark: SparkSession, url: String): StructType = {
    val base = Snapshots.headSchema(spark, url)
    require(!base.fieldNames.contains(ChangeCol) &&
      !base.fieldNames.contains(VersionCol),
      s"store schema reserves $ChangeCol/$VersionCol")
    StructType(base.fields :+
      StructField(ChangeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))
  }
}

private[streaming] case class GraftCdfOffset(v: Int) extends V1Offset {
  override def json(): String = s"""{"version":$v}"""
}

private[streaming] class GraftChangesSource(spark: SparkSession,
    url: String, keyCol: String, includeOld: Boolean, startV: Int,
    maxVersions: Option[Int])
    extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftChangesSource._

  override val schema: StructType = cdfSchema(spark, url)
  private val baseFields = schema.fields.dropRight(2).toSeq
  // physical slot of each declared column, pinned at stream start:
  // logical names shift under renameColumn, physical slots never do,
  // so steps before/after a rename in the covered history align to
  // the declared schema exactly
  private val declared = Snapshots.snap(spark, url,
    Snapshots.latest(spark, url))

  override def getOffset: Option[V1Offset] = {
    val l = Snapshots.latest(spark, url)
    if (l <= math.max(startV, 0)) None else Some(GraftCdfOffset(l))
  }

  // --- Admission control (the FileStreamSource shape: a V1 Source
  // implementing the V2 SupportsAdmissionControl traits). The start
  // offset below is ENGINE-SUPPLIED from the checkpoint, so a cap
  // can never regress a committed offset and re-emit — the unsafety
  // that made a getOffset-side cap wrong (SURVEY §2 r18 analysis).
  // With `maxVersionsPerTrigger`, a resume after a long gap drains
  // as ceil(gap/N) bounded micro-batches instead of one batch whose
  // union plan carries a leg per version — the 100 TB recovery
  // shape for a store committing a version a minute over a weekend.

  private var availableNowEndV: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEndV = Some(Snapshots.latest(spark, url))

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.allAvailable() // the cap is the source's own option

  override def reportLatestOffset(): V2Offset =
    GraftCdfOffset(Snapshots.latest(spark, url))

  override def latestOffset(startOffset: V2Offset,
      limit: ReadLimit): V2Offset = {
    val s = Option(startOffset).map(vOf)
      .getOrElse(math.max(startV, 0))
    val all = Snapshots.versions(spark, url)
    val head = all.lastOption.getOrElse(0)
    // AvailableNow pins its end at prepare time (versions committed
    // mid-drain belong to the next run); admission counts COMMITTED
    // versions in the gap — version numbers may be sparse
    val end0 = availableNowEndV.map(math.min(_, head)).getOrElse(head)
    val admitted = all.filter(v => v > s && v <= end0)
    val end = maxVersions match {
      case Some(n) if admitted.size > n => admitted(n - 1)
      case _ => if (admitted.isEmpty) s else admitted.last
    }
    if (end <= s) null else GraftCdfOffset(end)
  }

  /** Version of ANY offset representation — a live [[GraftCdfOffset]]
    * or the engine's checkpoint-deserialized form (both carry the
    * same json). */
  private def vOf(o: V2Offset): Int = {
    val Re = """\{"version":(\d+)\}""".r
    o.json() match {
      case Re(n) => n.toInt
      case other => throw new IllegalArgumentException(
        s"not a graft-changes offset: $other")
    }
  }

  /** One version's feed rows under the DECLARED schema, aligned by
    * PHYSICAL slot identity ([[Snapshots.alignStep]], the same
    * alignment [[Snapshots.changesAll]] uses). Delegates to
    * [[Snapshots.changesStepFrom]] — one canonical diff for the
    * stream, the `store$changes` SQL table and programmatic
    * consumers. */
  private def step(priorV: Option[Int], v: Int): DataFrame = {
    val df = Snapshots.changesStepFrom(spark, url, keyCol, priorV, v,
      includeOld)
    df.select(Snapshots.alignStep(spark, url, df, v, baseFields,
      declared.phys) :+ col(ChangeCol) :+ lit(v.toLong).as(VersionCol): _*)
  }

  override def getBatch(start: Option[V1Offset],
      end: V1Offset): DataFrame = {
    val s = start.map(vOf).getOrElse(math.max(startV, 0))
    val e = vOf(end)
    val all = Snapshots.versions(spark, url)
    // the RESUME point must still be a committed version: if vacuum
    // retired it, the first surviving step's predecessor chain no
    // longer reaches the consumer's offset, and the bootstrap path
    // (priorV = None) would re-emit the whole snapshot as inserts —
    // silent duplication. Refuse loudly: the retention contract is
    // the reader's (versions the stream has not consumed must
    // outlive vacuum's keepFrom). A resume on a surviving PINNED
    // version below keepFrom stays exact — the manifest diff spans
    // any two surviving versions, just coarser-grained.
    require(s == 0 || all.contains(s),
      s"graft-changes on $url: resume offset v$s was vacuumed — " +
        "the stream's lag fell below the store's retention; " +
        "rebuild the consumer from a batch read (startingVersion)")
    val priorOf = all.zip(None +: all.init.map(Some(_))).toMap
    val vs = all.filter(v => v > s && v <= e)
    val frames = vs.map(v => step(priorOf(v), v))
    val batch =
      if (frames.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      else frames.reduce(_ unionByName _)
    // V1 source contract: the returned frame must be streaming-
    // tagged; wrap through an internal-row pass-through
    org.apache.spark.sql.graftbridge.StreamBridge
      .asStreaming(batch)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
}
