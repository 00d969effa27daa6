package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained keyed aggregate view (IVM) over a stream
  * of delta batches — the "running corpus ledger" pattern: per-key
  * COUNT/SUM/MIN/MAX kept current as new data lands, WITHOUT ever
  * rescanning the history.
  *
  * Out of the reference's scope entirely (its ETL is write-once); at
  * 100 TB a full nightly recompute of `GROUP BY key` over the fact
  * history is the single most wasteful job in a pipeline, and the fix
  * is the classic log-structured view:
  *
  *  - State lives as PARTIAL aggregates partitioned by
  *    `__b` (= pmod(xxhash64(keys), buckets)) and `__batch` (the
  *    caller's batch id). [[applyDelta]] aggregates ONLY the incoming
  *    batch — a batch-sized map-side-combined exchange — and lands it
  *    with dynamic partition overwrite into its own
  *    `__b=…/__batch=…` partitions.
  *  - Replay-IDEMPOTENT by construction: re-running a batch
  *    overwrites exactly its own partitions with identical content
  *    (what `GraftStream.viewMaintain` relies on; unlike the
  *    streaming sinks, which commit through `Snapshots` manifests,
  *    the view keeps partitions because [[readKeys]] prunes on
  *    `__b`). There is no read-modify-write of existing state, hence
  *    no double-count crash window at all.
  *  - [[read]] folds partials with one keys-exchange; COUNT/SUM/
  *    MIN/MAX are self-mergeable, AVG is derived. [[readKeys]] point
  *    lookups prune to the probed keys' buckets — O(state/buckets)
  *    scan, not O(state).
  *  - Read cost grows with the batch count until [[rebuild]] folds
  *    history into a single base batch on a FRESH url (blue/green):
  *    the swap is the caller's atomic pointer flip, so no fold/delete
  *    crash window exists here either.
  */
object MaterializedView {

  private val MetaName = "_mv.json"

  final case class MvMeta(keys: Seq[String], sums: Seq[String],
      buckets: Int, retractable: Boolean = false,
      moments: Boolean = false)

  private def metaPath(url: String) = new Path(new Path(url), MetaName)

  /** `retractable = true` declares a COUNT/SUM-only view that a CDC
    * feed can maintain through deletions ([[applyCdc]]): partials
    * carry signed weights and MIN/MAX — which cannot retract — are
    * not kept. `moments = true` additionally keeps the signed second
    * moment `sq_<c>` = Σ x² per sum column — exact long partials
    * from which a reader derives mean and variance; they retract, so
    * the two flags compose. */
  def init(spark: SparkSession, url: String, keys: Seq[String],
      sums: Seq[String], buckets: Int = 64,
      retractable: Boolean = false,
      moments: Boolean = false): Unit = {
    require(keys.nonEmpty && buckets > 0)
    require((keys ++ sums).forall(c => !c.contains("\"")))
    val p = metaPath(url)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(p), s"materialized view already exists at $url")
    fs.mkdirs(p.getParent)
    val json = s"""{"keys":[${keys.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""sums":[${sums.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""buckets":$buckets,"retract":${if (retractable) 1 else 0},""" +
      s""""moments":${if (moments) 1 else 0}}"""
    val out = fs.create(p, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def meta(spark: SparkSession, url: String): MvMeta = {
    val p = metaPath(url)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no materialized view at $url")
    val json = SidecarJson.slurp(fs, p)
    MvMeta(SidecarJson.arr(json, "keys"), SidecarJson.arr(json, "sums"),
      SidecarJson.num(json, "buckets").toInt,
      json.contains("\"retract\":1"), json.contains("\"moments\":1"))
  }

  private def bucketCol(m: MvMeta): Column =
    pmod(xxhash64(m.keys.map(col): _*), lit(m.buckets)).cast("int")

  /** The batch's partial-aggregate frame (shared by apply + rebuild).
    * `sign` weights rows (+1 inserts, −1 retractions); MIN/MAX only
    * exist in non-retractable views, where sign is constant +1. */
  private def partials(delta: DataFrame, m: MvMeta,
      sign: Column = lit(1L)): DataFrame = {
    val aggs = sum(sign).cast("long").as("__cnt") +:
      m.sums.flatMap(c => Seq(
        sum(sign * col(c).cast("long")).as(s"sum_$c")) ++
        (if (m.moments) Seq( // signed second moment: retracts too
          sum(sign * col(c).cast("long") * col(c).cast("long"))
            .as(s"sq_$c")) else Seq.empty) ++
        (if (m.retractable) Seq.empty else Seq(
          min(col(c).cast("long")).as(s"min_$c"),
          max(col(c).cast("long")).as(s"max_$c"))))
    delta.groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Land one delta batch. Safe to re-run with the same `batchId`
    * and the same data (exact overwrite); a batchId reuse with
    * DIFFERENT data silently replaces the old batch — callers own
    * batch-id discipline (the streaming sink's epoch id fits). */
  def applyDelta(spark: SparkSession, url: String, delta: DataFrame,
      batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative")
    applyDeltaKeyed(spark, url, delta, f"b$batchId%08d")
  }

  /** Keyed form for streams: the partition value is
    * `<streamId>_b<epoch>` ([[graft.streaming.GraftStream]]'s
    * lineage discipline — epoch ids restart at 0 on a fresh
    * checkpoint, so the stream qualifier keeps a new lineage's
    * batch 0 from silently replacing an old one's). Path-safe keys
    * only: the value becomes a literal partition directory name. */
  def applyDeltaKeyed(spark: SparkSession, url: String,
      delta: DataFrame, batchKey: String): Unit = {
    val m = meta(spark, url)
    require(batchKey.matches("[A-Za-z0-9_.-]+"),
      s"batchKey '$batchKey' must be path-safe ([A-Za-z0-9_.-]+)")
    partials(delta, m)
      .withColumn("__b", bucketCol(m))
      .withColumn("__batch", lit(batchKey))
      .write.partitionBy("__b", "__batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(url)
  }

  /** Maintain a `retractable` view straight from a
    * [[Snapshots.changes]] feed (taken with `includeOld = true`):
    * insert/update rows weigh +1, delete/update_old rows −1, so the
    * landed partials retract exactly what the store mutation
    * removed. Same idempotent partition contract as
    * [[applyDeltaKeyed]] — key a batch by its version span
    * (`v<from>-v<to>`) and a replay is a no-op. The view equals a
    * GROUP BY over the store's LATEST version at all times, at
    * O(changed files) per increment. */
  def applyCdc(spark: SparkSession, url: String, changes: DataFrame,
      batchKey: String): Unit = {
    val m = meta(spark, url)
    require(m.retractable,
      "applyCdc needs a retractable view (init(..., retractable = " +
        "true)): MIN/MAX partials cannot retract deletions")
    require(changes.columns.contains("_change"),
      "applyCdc expects a Snapshots.changes frame (_change column)")
    val sign = when(col("_change").isin("insert", "update"), lit(1L))
      .when(col("_change").isin("delete", "update_old"), lit(-1L))
    val signed = changes.withColumn("__sign",
      coalesce(sign, lit(0L)))
    val keyed = partials(signed.filter(col("__sign") =!= 0L),
      m, col("__sign"))
    require(batchKey.matches("[A-Za-z0-9_.-]+"),
      s"batchKey '$batchKey' must be path-safe ([A-Za-z0-9_.-]+)")
    keyed
      .withColumn("__b", bucketCol(m))
      .withColumn("__batch", lit(batchKey))
      .write.partitionBy("__b", "__batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(url)
  }

  private def foldPartials(state: DataFrame, m: MvMeta): DataFrame = {
    val aggs = sum(col("__cnt")).cast("long").as("cnt") +:
      m.sums.flatMap(c => Seq(
        sum(col(s"sum_$c")).cast("long").as(s"sum_$c")) ++
        (if (m.moments) Seq(
          sum(col(s"sq_$c")).cast("long").as(s"sq_$c")) else Seq.empty) ++
        (if (m.retractable) Seq.empty else Seq(
          min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c"))))
    val folded = state.groupBy(m.keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // a fully-retracted key folds to cnt 0 — it left the view
    if (m.retractable) folded.filter(col("cnt") =!= 0L) else folded
  }

  /** Current view: one fold exchange over the partials. */
  def read(spark: SparkSession, url: String): DataFrame =
    foldPartials(spark.read.parquet(url), meta(spark, url))

  /** Point lookups: bucket-pruned — the scan touches only the probed
    * keys' `__b=` partitions (partition pruning on the filter), so a
    * k-key probe reads ~k/buckets of the state. Single-key-column
    * views only (composite probes would need tuple literals). */
  def readKeys(spark: SparkSession, url: String,
      keys: Seq[Any]): DataFrame = {
    val m = meta(spark, url)
    require(m.keys.length == 1, "readKeys: single-key views only")
    require(keys.nonEmpty)
    val k = m.keys.head
    val probe = spark.range(1).select(
      explode(array(keys.map(lit): _*)).as(k))
      .select(col(k), bucketCol(m).as("__pb"))
      .collect().map(r => r.getInt(1)).distinct.toSeq
    val state = spark.read.parquet(url)
      .filter(col("__b").isin(probe: _*))
      .filter(col(k).isin(keys: _*))
    foldPartials(state, m)
  }

  /** Fold history into a fresh single-batch view at `newUrl`
    * (blue/green: the caller flips its pointer, then drops the old
    * url — no in-place fold, no crash window). */
  def rebuild(spark: SparkSession, url: String, newUrl: String): Unit = {
    val m = meta(spark, url)
    // forward EVERY meta flag: a rebuilt retractable view must stay
    // retractable (or read() on the new url references min_/max_
    // columns the folded base never wrote, and applyCdc refuses it),
    // and a moments view must keep sq_<c> in its meta so later
    // applyDelta partials share the base batch's parquet schema.
    init(spark, newUrl, m.keys, m.sums, m.buckets, m.retractable,
      m.moments)
    val folded = foldPartials(spark.read.parquet(url), m)
      .withColumnRenamed("cnt", "__cnt")
    folded
      .withColumn("__b", bucketCol(m))
      .withColumn("__batch", lit("base"))
      .write.partitionBy("__b", "__batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(newUrl)
  }
}
