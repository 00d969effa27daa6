package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, SupportsTriggerAvailableNow}

/** A version-log stream's offset: one committed snapshot version,
  * `{"version":7}` in the checkpoint. Spark's V1 offset is also a V2
  * one, so the same class serves the V2 table stream and the V1
  * `graft-changes` source. */
private[graft] case class VersionOffset(v: Int)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json(): String = s"""{"version":$v}"""
}

private[graft] object VersionOffset {
  private val Re = """\{"version":(\d+)\}""".r

  def parse(json: String): VersionOffset = json match {
    case Re(n) => VersionOffset(n.toInt)
    case other => throw new IllegalArgumentException(
      s"not a graft stream offset: $other")
  }

  /** The version of any offset form: a live [[VersionOffset]] or the
    * engine's checkpoint-deserialized one (same json). */
  def of(o: Offset): Int = parse(o.json()).v
}

/** The two read options every version-log stream takes:
  *  - `startingVersion` (default 0): 0 starts with a bootstrap batch
  *    of the store's contents; a committed version v starts after v,
  *    for consumers that seed from a batch read of v;
  *  - `maxVersionsPerTrigger`: cap each micro-batch at N committed
  *    versions, so a resume after a long gap drains as bounded
  *    batches instead of one recovery batch. */
private[graft] case class VersionStreamOptions(startingVersion: Int,
    maxVersionsPerTrigger: Option[Int])

private[graft] object VersionStreamOptions {
  /** Reads both options through `get` and checks them against the
    * store `label` names. */
  def read(spark: SparkSession, url: String, label: String,
      get: String => Option[String]): VersionStreamOptions = {
    val start = get("startingVersion").fold(0)(_.toInt)
    val max = get("maxVersionsPerTrigger").map(_.toInt)
    max.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    require(start == 0 || Snapshots.versions(spark, url).contains(start),
      s"startingVersion=$start is not a committed version of $label")
    VersionStreamOptions(start, max)
  }
}

/** The core of graft's two micro-batch sources over a store's
  * manifest log (`readStream.table`, [[GraftMicroBatchStream]]; and
  * `readStream.format("graft-changes")`,
  * [[graft.streaming.GraftChangesProvider]]). The log is the
  * stream's write-ahead log, so offsets are exact and replayable: a
  * restart resumes from the checkpointed version, with no listing
  * heuristics and no modification-time races.
  *
  * Offset and admission contract:
  *  - an offset is a committed version ([[VersionOffset]]); the
  *    initial one is `startingVersion`;
  *  - a micro-batch from start s ends at a committed version after
  *    s. Version numbers may be sparse after a vacuum, so admission
  *    counts committed versions, never version numbers;
  *  - `maxVersionsPerTrigger` caps a batch at that many committed
  *    versions. The cap applies to the ENGINE-supplied start, read
  *    from the checkpoint, so it can never regress a committed
  *    offset and re-emit;
  *  - `Trigger.AvailableNow` pins the end at the head when the
  *    trigger fires: versions committed mid-drain belong to the next
  *    run, however many bounded batches the drain takes;
  *  - nothing admitted is no batch (a null offset).
  *
  * A source adds only what a batch emits for the versions in
  * (start, end] and the lineage it demands of them. */
private[graft] trait VersionLogStream extends SupportsTriggerAvailableNow {
  protected def spark: SparkSession
  protected def url: String
  protected def options: VersionStreamOptions

  private var availableNowEnd: Option[Int] = None

  override def initialOffset(): Offset =
    VersionOffset(options.startingVersion)

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    VersionOffset(Snapshots.latest(spark, url))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Snapshots.latest(spark, url))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = Option(start).fold(options.startingVersion)(VersionOffset.of)
    val admitted = Snapshots.versions(spark, url)
      .filter(v => v > s && availableNowEnd.forall(v <= _))
    options.maxVersionsPerTrigger.fold(admitted)(admitted.take)
      .lastOption.map(VersionOffset(_)).orNull
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
