package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{Snapshots, VersionLogStream, VersionOffset, VersionStreamOptions}

/** Change-data feed stream over a snapshot store, the streaming read
  * for MUTATING stores (the append-only `readStream.table` source
  * refuses their upserts, deletes and compactions):
  * {{{
  *   spark.readStream.format("graft-changes")
  *     .option("url", "/data/store").option("keyCol", "id")
  *     .load()   // store columns + _change + _commit_version
  * }}}
  *
  * A [[VersionLogStream]] (offsets, admission, `startingVersion` and
  * `maxVersionsPerTrigger`). Batch contents: one
  * [[Snapshots.changesStepFrom]] diff per committed version in the
  * batch, tagged `_commit_version`, so the feed is the same wherever
  * batch boundaries fall (a range-collapsed diff would merge two
  * upserts to one key that land in one trigger). The store's first
  * surviving version, from `startingVersion` 0, emits its contents as
  * `insert` rows. Each step reads only the files its version added or
  * dropped: metadata-only commits emit nothing, and so does a
  * compaction (whole-tuple anti-join).
  *
  * Lineage: any surviving predecessor. Each version diffs against the
  * committed version before it, however many numbers vacuum retired
  * between them; only the resume offset itself must survive, the
  * retention contract of any CDC consumer.
  *
  * Options: `url` and `keyCol` (required; the key is unique per
  * version, as the upsert contract pins), `includeOld` (default
  * false: updates also emit their PRE-image as `update_old` rows,
  * the retraction incremental aggregates need). */
class GraftChangesProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  /** Every option, checked: `sourceSchema` checks them too, because
    * load() resolves only the schema (the source itself is created
    * at query start) and a bad option should refuse at load. */
  private def checked(spark: SparkSession,
      parameters: Map[String, String])
      : (String, String, VersionStreamOptions) = {
    def opt(key: String): String =
      parameters.getOrElse(key, throw new IllegalArgumentException(
        s"graft-changes needs option '$key'"))
    val url = opt("url")
    require(Snapshots.versions(spark, url).nonEmpty,
      s"no snapshot store at $url")
    val keyCol = opt("keyCol")
    require(Snapshots.headSchema(spark, url).fieldNames
      .contains(keyCol), s"store $url has no column $keyCol")
    (url, keyCol,
      VersionStreamOptions.read(spark, url, url, parameters.get))
  }

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-changes derives its schema from the store — drop the " +
        ".schema(...) call")
    val (url, _, _) = checked(ctx.sparkSession, parameters)
    (shortName(), GraftChangesSource.cdfSchema(ctx.sparkSession, url))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (url, keyCol, options) = checked(ctx.sparkSession, parameters)
    new GraftChangesSource(ctx.sparkSession, url, keyCol,
      parameters.get("includeOld").exists(_.toBoolean), options)
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

private[streaming] class GraftChangesSource(
    protected val spark: SparkSession, protected val url: String,
    keyCol: String, includeOld: Boolean,
    protected val options: VersionStreamOptions)
    extends Source with VersionLogStream {
  import GraftChangesSource._

  override val schema: StructType = cdfSchema(spark, url)
  private val baseFields = schema.fields.dropRight(2).toSeq
  // physical slot of each declared column, pinned at stream start:
  // logical names shift under renameColumn, physical slots never do,
  // so steps before/after a rename in the covered history align to
  // the declared schema exactly
  private val declared = Snapshots.snap(spark, url,
    Snapshots.latest(spark, url))

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is called instead")

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
    val s = start.fold(options.startingVersion)(VersionOffset.of)
    val e = VersionOffset.of(end)
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
}
