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
  * batch reader (plain directories only: a manifest store is read
  * with [[GraftRead]] or `spark.readStream.table`), and foreachBatch
  * sinks that commit each micro-batch exactly once as a
  * [[graft.sources.Snapshots]] version keyed by the epoch —
  * `appendOnce` into one store, keyed `commitTogether` into several.
  * The encoding [[sink]] and the ingest sinks ([[nearDupIngest]],
  * [[lmGateIngest]], [[jsonlQuarantineIngest]]) create their stores
  * on the first epoch; [[viewMaintain]] alone keeps its view's
  * partition-overwrite layout, which the view's key reads prune on.
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
    * concepts and intentionally absent). [[load]] refuses a
    * [[graft.sources.Snapshots]] store. */
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
      // a manifest store's directory also holds files no version
      // lists (a crashed append's staged files, vacuum-pending ones),
      // which a file-stream source would read as rows
      val root = new org.apache.hadoop.fs.Path(url)
      require(!root.getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new org.apache.hadoop.fs.Path(root, "_snap")),
        s"$url is a Snapshots store (it holds _snap): the file-stream " +
          "reader would read every file in it, committed or not — " +
          "batch-read it with GraftRead, or stream its versions with " +
          "spark.readStream.table")
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
    * The first epoch creates the store ([[ensureStore]]): the graft
    * schema sidecar, so [[GraftRead]] decodes the codec cells, and an
    * empty version 1. Every epoch then commits one version keyed
    * `<checkpoint id>_b<epoch>`, the checkpoint id a digest of the
    * qualified `checkpoint` path. foreachBatch's at-least-once
    * retries are therefore no-ops, a second checkpoint lineage
    * writing into the same store (epoch ids restart at 0) commits its
    * own epochs, and readers resolve a manifest, each of which is
    * pre- or post-batch: a crashed epoch's staged files are never
    * visible. A plain parquet directory (no `_snap` manifest) is
    * refused, since a manifest would hide its rows from [[GraftRead]].
    * The file-stream [[reader]] refuses manifest stores; read a sink
    * store with [[GraftRead]]. Small epoch files pack with
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
    val encoded = Materialize.encodeColumns(batch, schema)
    ensureStore(url, encoded, Some(schema))
    commitEpoch(encoded, url,
      s"${sinkId(batch.sparkSession, checkpoint)}_b$epoch")
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

  /** The first-epoch bootstrap of every sink that creates its own
    * stores ([[sink]] and the ingest sinks): a no-op once `url` holds
    * a manifest. Otherwise a directory holding parquet files is
    * refused (a manifest would hide those rows from the manifest
    * readers), the graft `sidecar` schema is written when given, and
    * an empty version 1 pins `batch`'s schema. A crash before the
    * create leaves no manifest, so the next epoch redoes every
    * step. */
  private def ensureStore(url: String, batch: DataFrame,
      sidecar: Option[GraftSchema] = None): Unit = {
    val s = batch.sparkSession
    if (Snapshots.versions(s, url).isEmpty) {
      val root = new org.apache.hadoop.fs.Path(url)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      require(!fs.exists(root) ||
          Materialize.listParquetFiles(s, url).isEmpty,
        s"$url holds parquet files but no _snap manifest: the sink " +
          "commits through manifests, which would hide those rows " +
          "from GraftRead and Snapshots.read — sink into a fresh path")
      fs.mkdirs(root)
      sidecar.foreach(Materialize.writeMetadata(s, url, _))
      Snapshots.create(s, url, batch.limit(0), nFiles = 1)
    }
  }

  /** Files each sink commit writes per store and epoch. */
  private val EpochFiles = 8

  private def requireStreamId(streamId: String): Unit =
    require(streamId.matches("[A-Za-z0-9_.-]+"),
      s"streamId '$streamId' must be path-safe ([A-Za-z0-9_.-]+)")

  /** The single-store epoch commit of [[sink]], [[snapshotSink]] and
    * [[lmGateIngest]]: one exactly-once
    * [[graft.sources.Snapshots.appendOnce]] under `key`, then the
    * requested sidecar maintenance. */
  private def commitEpoch(batch: DataFrame, url: String, key: String,
      nFiles: Int = EpochFiles, statsFields: Seq[String] = Nil,
      bloomIndex: Option[(String, Seq[String])] = None,
      vectorIndex: Option[(String, String, Int)] = None,
      bloomFields: Seq[String] = Nil): Unit = {
    Snapshots.appendOnce(batch.sparkSession, url, batch, key, nFiles): Unit
    maintainSidecars(batch.sparkSession, url, statsFields, bloomIndex,
      vectorIndex, bloomFields)
  }

  /** The multi-store epoch commit of the ingest sinks: every store is
    * bootstrapped ([[ensureStore]]), then all of them publish through
    * one keyed [[graft.sources.Snapshots.commitTogether]], so they
    * advance together and a replayed `key` is a no-op. */
  private def commitEpochTogether(key: String,
      parts: Seq[(String, DataFrame)]): Unit = {
    parts.foreach { case (url, df) => ensureStore(url, df) }
    Snapshots.commitTogether(parts.head._2.sparkSession,
      parts.map { case (url, df) => (url, df, EpochFiles) },
      Some(key)): Unit
  }

  /** Per-epoch sidecar maintenance of one store after its commit. */
  private def maintainSidecars(s: SparkSession, url: String,
      statsFields: Seq[String] = Nil,
      bloomIndex: Option[(String, Seq[String])] = None,
      vectorIndex: Option[(String, String, Int)] = None,
      bloomFields: Seq[String] = Nil): Unit = {
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
      streamId: String, nFiles: Int = EpochFiles,
      statsFields: Seq[String] = Nil,
      bloomIndex: Option[(String, Seq[String])] = None,
      vectorIndex: Option[(String, String, Int)] = None,
      bloomFields: Seq[String] = Nil): DataStreamWriter[Row] = {
    requireStreamId(streamId)
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
    requireStreamId(streamId)
    require(parts.nonEmpty, "snapshotSinkMulti: no target stores")
    val urls = parts.map(_._1)
    statsFields.keys.foreach(u => require(urls.contains(u),
      s"statsFields names $u, which is not a sink target"))
    bloomFields.keys.foreach(u => require(urls.contains(u),
      s"bloomFields names $u, which is not a sink target"))
    batches.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      Snapshots.commitTogether(batch.sparkSession,
        parts.map { case (url, f, nFiles) => (url, f(batch), nFiles) },
        Some(s"${streamId}_b$id")): Unit
      urls.foreach { url =>
        maintainSidecars(batch.sparkSession, url,
          statsFields = statsFields.getOrElse(url, Nil),
          bloomFields = bloomFields.getOrElse(url, Nil))
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
    requireStreamId(streamId)
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
    * join-matched rows' text; (3) appends the verified pairs, the
    * batch's bands, and the batch's docs, so the next batch — or
    * tomorrow's restart — sees this batch as corpus. Intra-batch
    * duplicates are deliberately out of scope (run the batch-level
    * [[graft.ops.NearDedup.nearDuplicates]] on the batch if needed).
    *
    * The three outputs are [[graft.sources.Snapshots]] stores (read
    * them with [[graft.sources.Snapshots.read]]); the first
    * non-empty epoch creates them. Each non-empty epoch publishes to
    * all three through one [[graft.sources.Snapshots.commitTogether]]
    * keyed `<streamId>_b<epoch>`, after matching against the
    * committed corpus — read once any open commit journal has rolled
    * forward — so a batch never pairs with itself. The first
    * committed attempt wins: a replay of a committed epoch (same
    * rows, changed rows, a changed threshold, or an empty re-read)
    * is a no-op, and a replay after a crash mid-publish completes the
    * crashed publish. Empty epochs commit nothing. Small epoch files
    * pack with [[graft.sources.Snapshots.compactSmall]].
    *
    * `streamId` must be STABLE across restarts of one checkpoint
    * lineage (derive it from the checkpoint path) and UNIQUE across
    * lineages: Structured Streaming batch ids restart at 0 on a
    * fresh checkpoint, so without the stream qualifier a new run's
    * batch 0 would find an old run's batch-0 key and commit nothing.
    * Returns the writer — caller picks trigger + checkpoint and
    * starts. */
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
    * `batchId` to simulate a retry). Idempotent per
    * (streamId, batchId): see [[nearDupIngest]]. */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, bandsUrl: String, docsUrl: String,
      pairsUrl: String, streamId: String,
      minJaccardPpm: Long = 500000L, k: Int = 16,
      bands: Int = 4, rows: Int = 4, shingleN: Int = 3,
      maxBucket: Int = 1000, unicode: Boolean = false): Unit = {
    import graft.ops.NearDedup
    requireStreamId(streamId)
    val s = batch.sparkSession
    val slim = batch.select(col(idCol), col(textCol)).persist()
    try if (!slim.isEmpty) {
      val newBands = NearDedup.bandTable(slim, idCol, textCol, k, bands,
        rows, shingleN, unicode)
      ensureStore(bandsUrl, newBands)
      ensureStore(docsUrl, slim)
      // the corpus is what the committed manifests list: a crashed
      // publish rolls forward first, so bands and docs agree
      Seq(bandsUrl, docsUrl).foreach(Snapshots.recoverTxns(s, _))
      val pairs = NearDedup.incrementalPairs(slim,
          Snapshots.read(s, bandsUrl), idCol, textCol, k, bands, rows,
          shingleN, maxBucket, unicode)
        .filter(col("id_new") =!= col("id_corpus"))
      // verify against ONLY the matched corpus docs (AQE
      // broadcasts the small matched-id side)
      val matchedDocs = Snapshots.read(s, docsUrl)
        .join(pairs.select(col("id_corpus").as(idCol)).distinct(),
          Seq(idCol), "left_semi")
      val verified = NearDedup.verifyPairsJaccardPpm(pairs, slim,
          matchedDocs, idCol, textCol, shingleN, unicode)
        .filter(col("jaccard_ppm") >= minJaccardPpm)
      // the batch's bands and docs join the corpus in the same
      // commit as its pairs: the next batch sees all three or none
      commitEpochTogether(s"${streamId}_b$batchId", Seq(
        bandsUrl -> newBands, docsUrl -> slim, pairsUrl -> verified))
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
    * score_sum / mean_ppm, in a [[graft.sources.Snapshots]] store the
    * first non-empty epoch creates. Each non-empty epoch commits one
    * [[graft.sources.Snapshots.appendOnce]] keyed
    * `<streamId>_b<epoch>` (possibly of zero admitted rows), so the
    * first committed attempt wins and a replay — even one whose
    * admissions changed — is a no-op (`streamId` must be
    * checkpoint-stable and path-safe, as for [[nearDupIngest]]).
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
    requireStreamId(streamId)
    // the batch feeds three scans (transition explode, distinct ids,
    // the gate join) — pin it for the duration, as nearDupIngest does
    val slim = batch.select(col(idCol), col(textCol)).persist()
    try if (!slim.isEmpty) {
      val admitted = slim
        .join(TextAnalysis.lmScore(slim, idCol, textCol, uni, bi, unicode)
            .filter(col("mean_ppm") >= minMeanPpm),
          Seq(idCol))
      ensureStore(outUrl, admitted)
      commitEpoch(admitted, outUrl, s"${streamId}_b$batchId")
    } finally slim.unpersist()
  }

  /** Streaming JSONL landing ingest with corrupt-record quarantine —
    * [[graft.sources.JsonlIngest]] as a continuous pipeline: raw
    * JSONL files arrive (the crawler landing zone), every micro-batch
    * parses under the ENFORCED schema, admitted rows land in
    * `goodUrl` and the raw offending lines in `quarantineUrl` —
    * never dropped, never aborting the stream, inspectable for
    * replay. Both are [[graft.sources.Snapshots]] stores the first
    * non-empty epoch creates; each non-empty epoch publishes to both
    * through one keyed [[graft.sources.Snapshots.commitTogether]]
    * (the [[nearDupIngest]] contract: first committed attempt wins,
    * a replay is a no-op), so restarts never double- or half-land a
    * batch.
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
    requireStreamId(streamId)
    if (batch.isEmpty) return
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
      commitEpochTogether(s"${streamId}_b$batchId", Seq(
        goodUrl -> parsed.filter(!bad)
          .select(schema.fieldNames.map(f => col(s"__j.$f")): _*),
        quarantineUrl -> parsed.filter(bad)
          .select(col("value").as("raw_line"))))
    } finally parsed.unpersist()
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
