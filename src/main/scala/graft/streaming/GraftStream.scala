package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.predicates.RowPredicate
import graft.schema.GraftSchema
import graft.sources.{GraftRead, Materialize, Snapshots}

/** Structured-Streaming surface over graft stores. The reference has
  * no streaming at all (SURVEY §2: its only "streams" are bounded
  * epochs over static parquet) — this is the beyond-reference piece a
  * training-data pipeline needs when a store is continuously appended
  * (e.g. a crawler landing new document files): incremental reads of
  * newly-arrived files with the same schema/codec semantics as the
  * batch reader, and an encoding sink that commits each micro-batch
  * exactly once as a snapshot version of a codec store.
  *
  * Everything composes built-in Structured Streaming operators
  * (file source, watermarks, windowed aggs, foreachBatch sink) — no
  * custom physical operators needed; decode/encode reuse the exact
  * batch-path codec projections, so streamed rows are bit-identical
  * to batch reads of the same store.
  */
object GraftStream {

  /** Streaming flavor of [[GraftRead.reader]]: new parquet files
    * appearing under `url` are processed incrementally. Stored
    * schema + codec decode + schema views + predicates behave exactly
    * like the batch reader (shard/shuffle/epochs are batch-only
    * concepts and intentionally absent). */
  final case class Reader(
      spark: SparkSession,
      url: String,
      fieldSel: Seq[String],
      preds: Seq[Column],
      maxFilesPerTrigger: Option[Int],
      globFilter: Option[String] = None) {

    def fields(selectors: String*): Reader = copy(fieldSel = selectors)
    def predicate(p: RowPredicate): Reader = copy(preds = preds :+ p.toColumn)
    def predicate(c: Column): Reader = copy(preds = preds :+ c)
    /** Bound per-micro-batch file intake (backpressure knob). */
    def maxFiles(n: Int): Reader = copy(maxFilesPerTrigger = Some(n))
    /** Restrict to files matching `pattern` under `url` — the file
      * stream source requires a DIRECTORY path, so reading one table
      * out of a shared landing dir goes through pathGlobFilter. */
    def glob(pattern: String): Reader = copy(globFilter = Some(pattern))

    def load(): DataFrame = {
      // schema precedence mirrors GraftRead: graft sidecar, else a
      // PETASTORM store's own pickled Unischema (npy auto-decode —
      // Materialize.loadPetastormSchema), else inferred
      val schema = Materialize.loadSchema(spark, url)
        .orElse(Materialize.loadPetastormSchema(spark, url))
        .getOrElse {
          val r0 = spark.read
          val r1 = globFilter.map(g => r0.option("pathGlobFilter", g))
            .getOrElse(r0)
          GraftSchema.fromStructType("inferred", r1.parquet(url).schema)
        }
      val viewed = if (fieldSel.isEmpty) schema else schema.view(fieldSel)
      val rs0 = spark.readStream.schema(schema.toStructType)
      val rs = globFilter.map(g => rs0.option("pathGlobFilter", g))
        .getOrElse(rs0)
      val storage = maxFilesPerTrigger
        .map(n => rs.option("maxFilesPerTrigger", n)).getOrElse(rs)
        .parquet(url)
      val projected = storage.select(viewed.fieldNames.map(col): _*)
      val decoded = Materialize.decodeColumns(projected, viewed)
      preds.foldLeft(decoded)(_.filter(_))
    }
  }

  def reader(spark: SparkSession, url: String): Reader =
    Reader(spark, url, Nil, Nil, None)

  /** Encoding sink: append micro-batches into a graft codec store at
    * `url` through the batch encode path ([[Materialize.encodeColumns]]:
    * same codecs, same nullability enforcement) and the snapshot
    * commit ([[graft.sources.Snapshots.appendOnce]]).
    *
    * The first epoch creates the store: an empty version 1 plus the
    * graft schema sidecar, so [[GraftRead]] decodes the codec cells.
    * Every epoch then commits one version keyed
    * `<checkpoint id>_b<epoch>`, the checkpoint id a digest of the
    * qualified `checkpoint` path. foreachBatch's at-least-once
    * retries are therefore no-ops, a second checkpoint lineage
    * writing into the same store (epoch ids restart at 0) commits its
    * own epochs, and readers resolve a manifest, each of which is
    * pre- or post-batch: a crashed epoch's staged files are never
    * visible. A plain parquet directory (no `_snap` manifest) is
    * refused, since a manifest would hide its rows from [[GraftRead]].
    * The file-stream [[reader]] does not resolve manifests; read a
    * sink store with [[GraftRead]]. Small epoch files pack with
    * [[graft.sources.Snapshots.compactSmall]]. */
  def sink(df: DataFrame, url: String, schema: GraftSchema,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sinkBatch(batch, epoch, url, schema, checkpoint)
      }

  /** One [[sink]] micro-batch — exposed so replay semantics are
    * directly testable. Idempotent per (checkpoint, epoch). */
  def sinkBatch(batch: DataFrame, epoch: Long, url: String,
      schema: GraftSchema, checkpoint: String): Unit = {
    val s = batch.sparkSession
    val encoded = Materialize.encodeColumns(batch, schema)
    if (Snapshots.versions(s, url).isEmpty) {
      val root = new org.apache.hadoop.fs.Path(url)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      require(!fs.exists(root) ||
          Materialize.listParquetFiles(s, url).isEmpty,
        s"$url holds parquet files but no _snap manifest: the sink " +
          "commits through manifests, which would hide those rows " +
          "from GraftRead — sink into a fresh path")
      // sidecar first: a crash before create leaves no manifest, so
      // the next epoch redoes both steps
      fs.mkdirs(root)
      Materialize.writeMetadata(s, url, schema)
      Snapshots.create(s, url, encoded.limit(0), nFiles = 1)
    }
    commitEpoch(encoded, url, s"${sinkId(s, checkpoint)}_b$epoch")
  }

  /** A [[sink]] lineage's commit-key prefix: a digest of the qualified
    * checkpoint path, stable across restarts of one checkpoint and
    * distinct across checkpoints. */
  private[streaming] def sinkId(s: SparkSession,
      checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint)
    val qualified = p.getFileSystem(s.sessionState.newHadoopConf())
      .makeQualified(p).toString
    "ck" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
  }

  /** The per-epoch body of [[sink]] and [[snapshotSink]]: one
    * exactly-once [[graft.sources.Snapshots.appendOnce]] under `key`,
    * then the requested sidecar maintenance. */
  private def commitEpoch(batch: DataFrame, url: String, key: String,
      nFiles: Int = 8, statsFields: Seq[String] = Nil,
      bloomIndex: Option[(String, Seq[String])] = None,
      vectorIndex: Option[(String, String, Int)] = None,
      bloomFields: Seq[String] = Nil): Unit = {
    val s = batch.sparkSession
    Snapshots.appendOnce(s, url, batch, key, nFiles): Unit
    // per-epoch stats maintenance: the incremental refresh scans
    // ONLY this epoch's new files (covered files are skipped), so
    // range-skipping reads stay fresh at O(batch) per epoch — and
    // a retried epoch whose append no-opped rescans nothing
    if (statsFields.nonEmpty)
      Snapshots.indexStats(s, url, statsFields): Unit
    // per-epoch bloom maintenance ((indexUrl, fields)):
    // updateBloom indexes only files without a sidecar row — the
    // same O(new files) shape. A sink WITHOUT this stays safe
    // because upsert's coverage guard treats unindexed files as
    // affected; WITH it, upsert keeps its O(changed files) prune
    // through a live stream.
    bloomIndex.foreach { case (idxUrl, fields) =>
      graft.sources.RowGroupIndex.updateBloom(s, url, fields, idxUrl)
    }
    // bloomFields is the CONVENTIONAL-location shortcut
    // (<store>/_bloom/keybloom via Snapshots.indexBloom): a stream
    // maintaining it makes SQL MERGE's sidecar DISCOVERY work with
    // zero further configuration — the live store prunes its
    // copy-on-write rewrites out of the box
    if (bloomFields.nonEmpty)
      Snapshots.indexBloom(s, url, bloomFields)
    // per-epoch vector-postings maintenance ((idCol, embCol, k)):
    // VectorIndex.index scans only entries without posting rows —
    // O(batch) per epoch like the other sidecars. Epoch 0 trains
    // the pinned centroids from the rows present then (any pinned
    // set keeps search EXACT over probed cells; selectivity is
    // what training sees — watch VectorIndex.health on a drifting
    // stream). A sink WITHOUT this stays safe: uncovered entries
    // are conservatively read by every probe.
    vectorIndex.foreach { case (idCol, embCol, k) =>
      graft.sources.VectorIndex.index(s, url, idCol, embCol, k): Unit
    }
  }

  /** Streaming append into a [[graft.sources.Snapshots]] store:
    * every micro-batch becomes one snapshot version via
    * [[graft.sources.Snapshots.appendOnce]] keyed
    * `<streamId>_b<epoch>`, so foreachBatch's at-least-once retries
    * commit exactly once (a replayed epoch finds its key in the
    * manifest log and no-ops) and readers NEVER see a torn batch —
    * they resolve a manifest, each of which is pre- or post-batch.
    * The store must exist ([[graft.sources.Snapshots.create]]) —
    * version 1 anchors the lineage. */
  def snapshotSink(batches: DataFrame, url: String,
      streamId: String, nFiles: Int = 8,
      statsFields: Seq[String] = Nil,
      bloomIndex: Option[(String, Seq[String])] = None,
      vectorIndex: Option[(String, String, Int)] = None,
      bloomFields: Seq[String] = Nil): DataStreamWriter[Row] = {
    require(streamId.matches("[A-Za-z0-9_.-]+"),
      s"streamId '$streamId' must be path-safe ([A-Za-z0-9_.-]+)")
    batches.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      commitEpoch(batch, url, s"${streamId}_b$id", nFiles, statsFields,
        bloomIndex, vectorIndex, bloomFields)
    }
  }

  /** Exactly-once streaming APPEND into SEVERAL snapshot stores at
    * once — the multi-store [[snapshotSink]]: each micro-batch is
    * split by the per-store projections and published through
    * [[graft.sources.Snapshots.commitTogether]] under the commit key
    * `<streamId>_b<epoch>`, so (1) all stores advance or none stay
    * visible (intent-journal roll-forward across a crash), and
    * (2) foreachBatch's at-least-once retries are exact no-ops (the
    * retry first completes any open journal, then finds its key in
    * the manifests and returns). The enriched-stream shape: one
    * source fanned into consistent fact/dim (or per-domain) stores
    * that downstream JOIN views can refresh against without ever
    * seeing one side ahead. Every store must exist
    * ([[graft.sources.Snapshots.create]]). */
  def snapshotSinkMulti(batches: DataFrame, streamId: String,
      parts: Seq[(String, DataFrame => DataFrame, Int)],
      statsFields: Map[String, Seq[String]] = Map.empty,
      bloomFields: Map[String, Seq[String]] = Map.empty)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_.-]+"),
      s"streamId '$streamId' must be path-safe ([A-Za-z0-9_.-]+)")
    require(parts.nonEmpty, "snapshotSinkMulti: no target stores")
    val urls = parts.map(_._1).toSet
    statsFields.keys.foreach(u => require(urls.contains(u),
      s"statsFields names $u, which is not a sink target"))
    bloomFields.keys.foreach(u => require(urls.contains(u),
      s"bloomFields names $u, which is not a sink target"))
    batches.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      graft.sources.Snapshots.commitTogether(batch.sparkSession,
        parts.map { case (url, f, nFiles) => (url, f(batch), nFiles) },
        Some(s"${streamId}_b$id")): Unit
      // per-epoch stats maintenance per store — the [[snapshotSink]]
      // shape: incremental, covered files skipped, retry-safe
      statsFields.foreach { case (url, fields) =>
        graft.sources.Snapshots.indexStats(batch.sparkSession, url,
          fields): Unit
      }
      // conventional key-bloom sidecar per store (the snapshotSink
      // bloomFields shape): O(new files) per epoch, and SQL MERGE's
      // discovery finds it with zero configuration
      bloomFields.foreach { case (url, fields) =>
        graft.sources.Snapshots.indexBloom(batch.sparkSession, url,
          fields)
      }
    }
  }

  /** Streaming maintenance of a [[Materialize]]-independent keyed
    * aggregate view ([[graft.sources.MaterializedView]]): every
    * micro-batch lands as its own partial-aggregate partition under
    * the `<streamId>_b<epoch>` key, so Structured Streaming's
    * at-least-once foreachBatch retries are EXACT no-ops (dynamic
    * partition overwrite replays the identical partition) and a
    * fresh checkpoint lineage cannot collide with an old one's
    * epochs. Increment cost is O(batch); the view is readable midway
    * through the stream ([[graft.sources.MaterializedView.read]]).
    * `streamId` must be stable across restarts of one checkpoint
    * lineage and unique across lineages (derive from the checkpoint
    * path). */
  def viewMaintain(batches: DataFrame, url: String,
      streamId: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_.-]+"),
      s"streamId '$streamId' must be path-safe ([A-Za-z0-9_.-]+)")
    batches.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      graft.sources.MaterializedView.applyDeltaKeyed(
        batch.sparkSession, url, batch, s"${streamId}_b$id")
    }
  }

  /** Event-time tumbling-window counts with a watermark — the
    * canonical streaming aggregation, parameterized the way the
    * training-data pipelines use it (events/documents per key per
    * window, late data bounded by the watermark). `tsCol` must be a
    * TimestampType column. */
  def windowedCounts(df: DataFrame, tsCol: String, windowDuration: String,
      watermarkDelay: String, groupCols: Seq[String] = Nil): DataFrame = {
    val w = window(col(tsCol), windowDuration)
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(w +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        groupCols.map(col) :+ col("n"): _*)
  }

  /** Gap-based sessionization over event time (`session_window`):
    * consecutive events of a key closer than `gap` merge into one
    * session row (start, end, n_events). Works identically on batch
    * and streaming frames; streaming append mode finalizes a session
    * once the watermark passes its close. The batch form is also the
    * scalable answer to NGram-style "activity burst" questions that
    * don't need per-offset projection. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      gap: String, watermarkDelay: Option[String] = None): DataFrame = {
    val wm = watermarkDelay.map(d => df.withWatermark(tsCol, d)).getOrElse(df)
    wm.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Streaming near-duplicate ingest — the daily-crawl admission
    * pipeline as one foreachBatch composition over persisted state:
    * every micro-batch (1) LSH-joins its band keys against the
    * PERSISTED corpus band table ([[graft.ops.NearDedup.bandTable]]
    * layout at `bandsUrl`) — never re-hashing the corpus, work is
    * O(batch + matched buckets); (2) exact-verifies candidate pairs
    * by shingle Jaccard against the corpus docs store, reading only
    * join-matched rows' text (store the docs bucketed/indexed by id
    * — [[graft.sources.Materialize.materializeBucketed]] /
    * [[graft.sources.RowGroupIndex]] — to also prune the verify
    * SCAN at 100 TB); (3) appends the verified pairs, the batch's
    * bands, and the batch's docs, so the next batch — or tomorrow's
    * restart — sees this batch as corpus. Intra-batch duplicates are
    * deliberately out of scope (run the batch-level
    * [[graft.ops.NearDedup.nearDuplicates]] on the batch if needed).
    *
    * Replay safety: foreachBatch is at-least-once under retries, so
    * every persisted table (bands, docs, pairs) is PARTITIONED BY an
    * `ingest_key` (= `streamId` + batch id) and written with dynamic
    * partition overwrite — a replayed batch REPLACES its own
    * partition instead of appending a second copy — and the corpus
    * views exclude the replaying batch's own partition, so a retry
    * that crashed after the bands append can never pair the batch
    * against itself. Net effect: the output stores are exactly-once
    * at batch granularity. (Batch-sized partition directories are
    * the idempotency unit; compact them offline if a long-lived
    * stream accretes too many.)
    *
    * `streamId` must be STABLE across restarts of one checkpoint
    * lineage (derive it from the checkpoint path) and UNIQUE across
    * lineages: Structured Streaming batch ids restart at 0 on a
    * fresh checkpoint, so without the stream qualifier a new run's
    * batch 0 would silently overwrite — and hide from its corpus —
    * an old run's batch-0 partition. Returns the writer — caller
    * picks trigger + checkpoint and starts. */

  /** Shared idempotent-ingest machinery for the foreachBatch sinks
    * ([[nearDupIngest]] / [[lmGateIngest]] / [[jsonlQuarantineIngest]]):
    * the path-safe id check, the epoch partition key, the
    * pre-ingest_key layout guard (every WRITE onto an existing
    * READABLE store must pass it — a dynamic overwrite on top of
    * loose legacy files corrupts the layout silently), the
    * own-partition dynamic overwrite, and replay partition hygiene.
    * ONE implementation of the exactly-once-by-overwrite contract —
    * the three sinks had drifted (one lost the write guard entirely)
    * before this was hoisted. */
  private final case class IngestPartition(s: SparkSession,
      streamId: String, batchId: Long) {
    require(streamId.matches("[A-Za-z0-9_.-]+"),
      s"streamId '$streamId' must be path-safe ([A-Za-z0-9_.-]+) — it " +
        "names partition directories")
    val ingestKey = s"${streamId}_b$batchId"
    def exists(url: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(url)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    def requireIngestLayout(df: DataFrame, url: String): DataFrame = {
      require(df.columns.contains("ingest_key"),
        s"store at $url was written by the pre-ingest_key (append + " +
          "batch_id) layout — rewrite it partitioned by ingest_key, " +
          "or point the stream at fresh store paths")
      df
    }
    /** Layout-guard an existing store before writing into it; a
      * directory with no parquet footers (a crashed write's leftover,
      * or an emptied partition) has nothing to corrupt. */
    private def guardWrite(url: String): Unit =
      if (exists(url)) {
        try requireIngestLayout(s.read.parquet(url), url)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => ()
        }
      }
    def overwriteOwn(df: DataFrame, url: String): Unit = {
      guardWrite(url)
      df.withColumn("ingest_key", lit(ingestKey))
        .write.partitionBy("ingest_key")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(url)
    }
    /** Drop this batch's partition (replay hygiene when the batch
      * now produces nothing: skipping the write would leave a
      * pre-crash attempt's stale rows in place). */
    def dropOwn(url: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(url,
        s"ingest_key=$ingestKey")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    /** Empty frames drop the partition, non-empty overwrite it — a
      * zero-row dynamic overwrite would leave a footer-less dir. */
    def landOrDrop(df: DataFrame, url: String): Unit =
      if (df.isEmpty) dropOwn(url) else overwriteOwn(df, url)
  }

  def nearDupIngest(batches: DataFrame, idCol: String, textCol: String,
      bandsUrl: String, docsUrl: String, pairsUrl: String,
      streamId: String, minJaccardPpm: Long = 500000L, k: Int = 16,
      bands: Int = 4, rows: Int = 4, shingleN: Int = 3,
      maxBucket: Int = 1000, unicode: Boolean = false): DataStreamWriter[Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatch(batch, batchId, idCol, textCol, bandsUrl, docsUrl,
        pairsUrl, streamId, minJaccardPpm, k, bands, rows, shingleN,
        maxBucket, unicode)
    }

  /** One [[nearDupIngest]] micro-batch — exposed so replay semantics
    * are directly testable (call twice with the same `streamId` +
    * `batchId` to simulate a post-append retry). Idempotent per
    * (streamId, batchId): see [[nearDupIngest]]. */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, bandsUrl: String, docsUrl: String,
      pairsUrl: String, streamId: String,
      minJaccardPpm: Long = 500000L, k: Int = 16,
      bands: Int = 4, rows: Int = 4, shingleN: Int = 3,
      maxBucket: Int = 1000, unicode: Boolean = false): Unit = {
    import graft.ops.NearDedup
    val s = batch.sparkSession
    // path-safe id check, layout guard, own-partition overwrite and
    // replay hygiene all live in [[IngestPartition]]
    val ip = IngestPartition(s, streamId, batchId)
    val ingestKey = ip.ingestKey
    val slim = batch.select(col(idCol), col(textCol)).persist()
    try {
      // an empty micro-batch must write NOTHING: a zero-row dynamic
      // overwrite creates a directory with no parquet footers, which
      // would pass the exists() guard below on the NEXT batch and
      // crash its corpus read on schema inference. It must still run
      // replay hygiene first: if a replayed batch re-reads as EMPTY
      // (non-replayable source, e.g. retention expiry), a pre-crash
      // attempt's partitions for this ingest_key would otherwise
      // survive and re-enter later batches' corpus views (r8 advice)
      if (slim.isEmpty) {
        Seq(bandsUrl, docsUrl, pairsUrl).foreach { url =>
          ip.dropOwn(url)
        }
        return
      }
      // both stores must exist — a first-batch retry that crashed
      // between the bands and docs appends has bands but no docs
      if (ip.exists(bandsUrl) && ip.exists(docsUrl)) {
        // corpus = every batch EXCEPT this one (partition-pruned):
        // on replay the batch's own pre-crash bands are invisible,
        // so it can never pair with itself
        val corpusBands = ip.requireIngestLayout(s.read.parquet(bandsUrl),
            bandsUrl)
          .filter(col("ingest_key") =!= lit(ingestKey)).drop("ingest_key")
        val pairs = NearDedup.incrementalPairs(slim, corpusBands,
          idCol, textCol, k, bands, rows, shingleN, maxBucket, unicode)
          .filter(col("id_new") =!= col("id_corpus"))
        // verify against ONLY the matched corpus docs (AQE
        // broadcasts the small matched-id side)
        val matchedDocs = ip.requireIngestLayout(s.read.parquet(docsUrl),
            docsUrl)
          .filter(col("ingest_key") =!= lit(ingestKey)).drop("ingest_key")
          .join(pairs.select(col("id_corpus").as(idCol)).distinct(),
            Seq(idCol), "left_semi")
        val verified = NearDedup.verifyPairsJaccardPpm(pairs, slim,
            matchedDocs, idCol, textCol, shingleN, unicode)
          .filter(col("jaccard_ppm") >= minJaccardPpm)
          .persist()
        // no pairs → no zero-row write (it would create the
        // footer-less store the empty-batch guard exists for), but a
        // REPLAY must still clear any pre-crash attempt's partition —
        // e.g. the operator restarted with a stricter threshold. The
        // pin keeps the emptiness probe from re-running the verify
        // pipeline for the write.
        try {
          if (verified.isEmpty) ip.dropOwn(pairsUrl)
          else ip.overwriteOwn(verified, pairsUrl)
        } finally verified.unpersist()
      }
      // admit the batch into the corpus AFTER matching (a batch
      // never pairs with itself)
      ip.overwriteOwn(
        NearDedup.bandTable(slim, idCol, textCol, k, bands, rows, shingleN,
          unicode),
        bandsUrl)
      ip.overwriteOwn(slim, docsUrl)
    } finally slim.unpersist()
  }

  /** Streaming LM quality gate — the ingest-time CCNet filter: each
    * micro-batch is scored against a STATIC pre-trained bigram LM
    * ([[graft.ops.TextAnalysis.lmTables]], typically read back from
    * its persisted parquet) and only documents whose `mean_ppm`
    * clears `minMeanPpm` are admitted to the output store, scores
    * attached. foreachBatch, so each batch runs the plain batch
    * [[graft.ops.TextAnalysis.lmScore]] plan (broadcast LM joins, no
    * streaming-agg state: the LM is corpus-static, so per-batch
    * scoring is exact — a stream-native per-doc aggregation would
    * buy nothing and cost complete-mode or per-doc state).
    *
    * Output rows: the batch's (idCol, textCol) plus n_trans /
    * score_sum / mean_ppm, partitioned by `ingest_key` with dynamic
    * partition overwrite — the [[nearDupIngest]] idempotency
    * contract (replays REPLACE their own partition; empty replays
    * drop it; `streamId` must be checkpoint-stable and path-safe).
    * Duplicate-id batch rows each carry their id's whole-batch score
    * ([[graft.ops.TextAnalysis.lmScore]]'s distinct-id contract). */
  def lmGateIngest(batches: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame, minMeanPpm: Long, outUrl: String,
      streamId: String, unicode: Boolean = false): DataStreamWriter[Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      lmGateBatch(batch, batchId, idCol, textCol, uni, bi, minMeanPpm,
        outUrl, streamId, unicode)
    }

  /** One [[lmGateIngest]] micro-batch — exposed so replay semantics
    * are directly testable. Idempotent per (streamId, batchId). */
  def lmGateBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, uni: DataFrame, bi: DataFrame, minMeanPpm: Long,
      outUrl: String, streamId: String, unicode: Boolean = false): Unit = {
    import graft.ops.TextAnalysis
    val s = batch.sparkSession
    val ip = IngestPartition(s, streamId, batchId)
    // the batch feeds three scans (transition explode, distinct ids,
    // the gate join) — pin it for the duration, as nearDupIngest does
    val slim = batch.select(col(idCol), col(textCol)).persist()
    try {
      // pin the scored frame too: the emptiness probe would otherwise
      // run the whole LM pipeline (explode + three broadcast joins)
      // once for the probe and again for the write — the same shape
      // ingestBatch pins `verified` for
      val admitted = slim
        .join(TextAnalysis.lmScore(slim, idCol, textCol, uni, bi, unicode)
            .filter(col("mean_ppm") >= minMeanPpm),
          Seq(idCol))
        .persist()
      // empty batches (or none admitted) write NOTHING — a zero-row
      // dynamic overwrite leaves a footer-less directory — but still
      // run replay hygiene: a replayed batch whose admissions changed
      // (or re-read empty) must not leave a pre-crash attempt's rows
      try ip.landOrDrop(admitted, outUrl)
      finally admitted.unpersist()
    } finally slim.unpersist()
  }

  /** Streaming JSONL landing ingest with corrupt-record quarantine —
    * [[graft.sources.JsonlIngest]] as a continuous pipeline: raw
    * JSONL files arrive (the crawler landing zone), every micro-batch
    * parses under the ENFORCED schema, admitted rows land in
    * `goodUrl` and the raw offending lines in `quarantineUrl` —
    * never dropped, never aborting the stream, inspectable for
    * replay. Both stores are partitioned by `ingest_key` under the
    * [[nearDupIngest]] idempotency contract: a replayed batch
    * REPLACES its own partitions on both sides (a changed or empty
    * replay drops its stale partitions), so restarts never double-
    * or half-land a batch.
    *
    * Parsing uses `from_json` in PERMISSIVE mode with the corrupt
    * column — per-batch, stateless, the exact batch-reader
    * semantics; there is no streaming-agg state to size. */
  def jsonlQuarantineIngest(lines: DataFrame, schema: org.apache.spark.sql.types.StructType,
      goodUrl: String, quarantineUrl: String,
      streamId: String): DataStreamWriter[Row] =
    lines.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      jsonlQuarantineBatch(batch, batchId, schema, goodUrl,
        quarantineUrl, streamId)
    }

  /** One [[jsonlQuarantineIngest]] micro-batch — exposed so replay
    * semantics are directly testable. Idempotent per
    * (streamId, batchId). */
  def jsonlQuarantineBatch(batch: DataFrame, batchId: Long,
      schema: org.apache.spark.sql.types.StructType, goodUrl: String,
      quarantineUrl: String, streamId: String): Unit = {
    import graft.sources.JsonlIngest
    require(!schema.fieldNames.contains(JsonlIngest.CorruptCol),
      s"schema already contains ${JsonlIngest.CorruptCol}")
    val s = batch.sparkSession
    // landOrDrop via IngestPartition also gains the pre-ingest_key
    // layout guard the other sinks enforce (this sink used to write
    // unguarded — a legacy flat store would have been corrupted
    // silently)
    val ip = IngestPartition(s, streamId, batchId)
    def landOrDrop(df: DataFrame, url: String): Unit =
      ip.landOrDrop(df, url)
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        JsonlIngest.CorruptCol,
        org.apache.spark.sql.types.StringType, nullable = true))
    // one parse, two routes — pin the parsed frame across them
    val parsed = batch
      .select(from_json(col("value"), withCorrupt, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> JsonlIngest.CorruptCol))
        .as("__j"), col("value"))
      .persist()
    try {
      // a null struct (e.g. an empty line) is quarantine, not an
      // all-null admitted row
      val bad = col("__j").isNull ||
        col(s"__j.${JsonlIngest.CorruptCol}").isNotNull
      landOrDrop(
        parsed.filter(!bad)
          .select(schema.fieldNames.map(f => col(s"__j.$f")): _*),
        goodUrl)
      landOrDrop(
        parsed.filter(bad).select(col("value").as("raw_line")),
        quarantineUrl)
    } finally parsed.unpersist()
  }

  /** Compact an ingest-keyed store ([[nearDupIngest]] /
    * [[lmGateIngest]] output) IN PLACE, partition by partition — the
    * maintenance pass those sinks document ("compact them offline"):
    * a long-lived stream lands one directory per batch and several
    * files per directory, and [[graft.sources.Snapshots.compactSmall]]
    * packs only manifest stores. Compacting WITHIN partitions
    * preserves the partition-per-batch idempotency unit, so a later
    * replay of a compacted batch still overwrites exactly its own
    * partition.
    *
    * Per partition: if the file count exceeds what `targetFileMb`
    * implies, rewrite into a `_compact_tmp` subdir (underscore =
    * invisible to readers), then commit with a marker protocol:
    * a `_COMMIT` file LISTING the old file names is created only
    * once staging is complete — from that point the staged set is
    * the truth — then old files are deleted and staged files
    * promoted by renames. Crash-safe at every point: a rerun that
    * finds `_compact_tmp` WITHOUT the marker rolls back (deletes
    * the partial staging; old files were never touched), and WITH
    * the marker rolls forward (deletes any listed old files still
    * visible, promotes the remaining staged files) — no state loses
    * rows or double-counts them. Concurrent readers can catch one
    * partition's brief promote window — run it on retired streams
    * or quiet stores. Returns (partitionsRewritten, filesBefore,
    * filesAfter). */
  def compactIngestStore(spark: SparkSession, url: String,
      targetFileMb: Int = 256): (Int, Int, Int) = {
    import org.apache.hadoop.fs.Path
    require(targetFileMb > 0, s"targetFileMb must be positive (got $targetFileMb)")
    val root = new Path(url)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no store at $url")
    val parts = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("ingest_key="))
    require(parts.nonEmpty, s"store at $url has no ingest_key " +
      "partitions — use Snapshots.compactSmall for snapshot stores")
    var rewritten = 0
    var before = 0
    var after = 0
    parts.foreach { p =>
      val tmp = new Path(p.getPath, "_compact_tmp")
      val marker = new Path(tmp, "_COMMIT")
      def promote(): Int = {
        val staged = fs.listStatus(tmp).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        staged.foreach { f =>
          require(fs.rename(f.getPath, new Path(p.getPath, f.getPath.getName)),
            s"rename failed promoting ${f.getPath.getName}")
        }
        fs.delete(tmp, true)
        staged.length
      }
      // recovery from a crashed previous run: marker present means
      // the staged set was committed — roll FORWARD (delete any
      // listed old files still visible, promote the rest); marker
      // absent means staging never completed — roll BACK (old files
      // were never touched)
      if (fs.exists(tmp)) {
        if (fs.exists(marker)) {
          val in = fs.open(marker)
          val listed = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList finally in.close()
          listed.foreach { n =>
            val f = new Path(p.getPath, n)
            if (fs.exists(f)) fs.delete(f, false)
          }
          // the marker dies only WITH the tmp dir (inside promote):
          // deleting it earlier would turn a crash here into a
          // rollback of committed data after the olds are gone
          promote()
        } else fs.delete(tmp, true)
      }
      val files = fs.listStatus(p.getPath).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      before += files.length
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1,
        math.ceil(bytes.toDouble / (targetFileMb.toLong << 20)).toInt)
      if (files.length > nOut) {
        // partition files carry no ingest_key column (it lives in the
        // directory name), so a partition-scoped rewrite round-trips
        // the rows as-is; coalesce, not repartition — merging small
        // files needs no exchange
        spark.read.parquet(p.getPath.toString).coalesce(nOut)
          .write.mode("overwrite").parquet(tmp.toString)
        // commit point: the marker records exactly which old files
        // the staged set replaces. Staged under a temp name and
        // RENAMED into place — create-then-write would make a
        // half-written marker visible to a crash-recovery run, which
        // would read a truncated old-file list and roll forward into
        // duplicated rows
        val markerTmp = new Path(tmp, "_COMMIT_tmp")
        val out = fs.create(markerTmp, false)
        try out.write(files.map(_.getPath.getName).mkString("\n")
          .getBytes("UTF-8"))
        finally out.close()
        require(fs.rename(markerTmp, marker),
          s"marker commit failed at $marker")
        files.foreach(f => fs.delete(f.getPath, false))
        after += promote()
        rewritten += 1
      } else after += files.length
    }
    (rewritten, before, after)
  }

  /** Stream-stream interval join: pair each left row with the right
    * rows of the same key whose event time falls in
    * `[leftTs, leftTs + bound]` — the streaming enrichment shape
    * ("which purchases followed this click within 5 minutes"),
    * expressed as Structured Streaming's watermarked inner join so
    * BOTH sides' buffered state is evictable: with watermark d and
    * bound b, a right row leaves the store once the left watermark
    * passes its timestamp, a left row once `leftTs + b` falls behind
    * the right watermark — state is a sliding window of the streams,
    * never their history. The same call works on batch frames (the
    * watermark is a no-op there), which is what the q83 oracle
    * replays in SQL.
    *
    * Sides are aliased `l` / `r`; the caller projects (`col("l.k")`)
    * since key columns appear on both. Inner append-mode only (the
    * only mode a stream-stream time-interval join supports). */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, watermarkDelay: String,
      bound: String): DataFrame = {
    require(leftTsCol != rightTsCol,
      s"time columns must be named apart (both '$leftTsCol') — the " +
        "join OUTPUT carries both, and a shared name would make every " +
        "downstream reference ambiguous")
    val l = left.withWatermark(leftTsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTsCol, watermarkDelay).alias("r")
    // fully qualified: either input may ALSO carry a column named
    // like the other side's ts (self-enrichment of one event schema)
    // and unqualified references would resolve ambiguously
    l.join(r, expr(
      s"l.$keyCol = r.$keyCol AND " +
        s"r.$rightTsCol >= l.$leftTsCol AND " +
        s"r.$rightTsCol <= l.$leftTsCol + INTERVAL $bound"))
  }

  /** Stateful per-key admission quota — keep only the FIRST `n` rows
    * per key in `(orderCol, tieCol)` order, with the admitted count
    * carried ACROSS micro-batches: the `flatMapGroupsWithState`
    * custom-state operator a training pipeline needs when the
    * built-in stateful ops can't express the rule ("at most n
    * documents per source/user, earliest wins, forever").
    *
    * Scale shape: state per key is a single long (no timeout needed —
    * a saturated key stores 8 bytes, not its rows), and within a
    * batch only the `n - used` best rows are held in a bounded heap —
    * the group's rows stream through the iterator, never buffer.
    * Quota is first-come-first-served across batches: a row admitted
    * in batch b is never evicted by an earlier-ordered row arriving
    * in batch b+1 (that persistence is the point of the state).
    * Within one batch, admission order is exactly `(orderCol,
    * tieCol)` ascending, so a single-batch run (or a batch frame —
    * Spark runs the same function per group with empty state) equals
    * the `row_number() <= n` spelling. `orderCol`/`tieCol` must be
    * LongType and NON-NULL (a null fails loudly with the column
    * named); keys group by their string form, a null key holding its
    * own quota distinct from the literal string "null". */
  def admitFirstN(df: DataFrame, keyCol: String, orderCol: String,
      tieCol: String, n: Int): DataFrame = {
    require(n > 0, s"quota must be positive, got $n")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val ordIdx = schema.fieldIndex(orderCol)
    val tieIdx = schema.fieldIndex(tieCol)
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    // key by a DISAMBIGUATED string form: a null key and the literal
    // string "null" must hold separate quotas, not share one
    df.groupByKey((r: Row) =>
        if (r.isNullAt(keyIdx)) "\u0000null"
        else "k:" + String.valueOf(r.get(keyIdx)))
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val quota = n - used.toInt
          if (quota <= 0) Iterator.empty
          else {
            // bounded max-heap of the quota smallest (order, tie) rows
            val ord: Ordering[(Long, Long, Row)] =
              Ordering.by((p: (Long, Long, Row)) => (p._1, p._2))
            val heap = mutable.PriorityQueue.empty[(Long, Long, Row)](ord)
            rows.foreach { r =>
              // a null order/tie value is a data bug — fail with the
              // column named, not an opaque NPE inside the state fn
              require(!r.isNullAt(ordIdx) && !r.isNullAt(tieIdx),
                s"admitFirstN: null $orderCol/$tieCol — filter " +
                  "nulls upstream (the order contract is LongType, " +
                  "non-null)")
              val cand = (r.getLong(ordIdx), r.getLong(tieIdx), r)
              if (heap.size < quota) heap.enqueue(cand)
              else if (ord.lt(cand, heap.head)) {
                heap.dequeue(); heap.enqueue(cand)
              }
            }
            val admit = heap.dequeueAll.reverse // ascending admission order
            state.update(used + admit.length)
            admit.iterator.map(_._3)
          }
      }.toDF(schema.fieldNames: _*)
  }

  /** Streaming exact-dedup by content fingerprint within the
    * watermark horizon — the streaming face of the batch exact-dedup
    * operator, composed from the built-in stateful operator (state is
    * bounded by the watermark, so it scales indefinitely). */
  def dedupByFingerprint(df: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String): DataFrame =
    df.withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
}
