package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.EpochBridge
import org.apache.spark.sql.internal.SQLConf

import graft.functions.GraftFunctions
import graft.ops.TransformSpec
import graft.predicates.RowPredicate
import graft.schema.{CodecSpec, GraftSchema}

/** The reader builder — `make_reader` re-expressed as a declarative
  * composition over `spark.read.parquet`
  * (reference: reader.py:60-206, Reader pipeline reader.py:416-423).
  *
  * {{{
  * GraftRead.reader(spark, url)
  *   .fields("id", "emb.*")        // schema view, regex ok (P1)
  *   .predicate(p)                 // predicate algebra (F1)
  *   .shard(0, 4)                  // deterministic sharding (SH1)
  *   .shuffle(seed = 7)            // seeded order randomization (O1-O3)
  *   .epochs(2)                    // iteration control (E1)
  *   .load()
  * }}}
  *
  * Everything stays a Catalyst plan: pruning/pushdown are automatic,
  * and the shuffle orders rows by a storage-position key (file name,
  * row index): one order on any cluster size, split plan or copy. A
  * read that fits one range partition decodes in the scan's own tasks
  * and, drained by `collect` or `toLocalIterator`, is ordered on the
  * driver in the same job ([[org.apache.spark.sql.graftbridge.EpochBridge]]);
  * a larger one sorts the key at the scan, before decode.
  * Planning runs no Spark job: the storage schema is read on the
  * driver from one footer, the file Spark's own parquet inference
  * would read, and handed to the scan (`.evolved` reads still let
  * Spark merge every footer).
  *
  * Sharding divergence vs the reference (reader.py:573-597): the
  * reference shards at row-group granularity; we shard the stable-
  * sorted *file* list — the Spark-native unit of work. With
  * row-group-sized files (the materialize default) they coincide.
  * Like the reference, sharding with fewer files than shards raises.
  *
  * Multi-store reads (`make_batch_reader(dataset_url_or_urls)`,
  * reader.py:209-227, URL normalization :51-57): a reader over
  * several store URLs unions their file lists in URL order (each
  * store's listing stably sorted), requires every present sidecar
  * schema to agree, and shards/shuffles across the combined list.
  * Hive-partition column derivation needs a single `basePath` and is
  * therefore single-store only.
  */
final case class GraftRead private (
    spark: SparkSession,
    urls: Seq[String],
    fieldSel: Seq[String],
    preds: Seq[Column],
    shardSpec: Option[(Int, Int)],
    shuffleSeed: Option[Long],
    epochCount: Int,
    decodeOutput: Boolean,
    transformSpec: Option[TransformSpec],
    cacheLevel: Option[org.apache.spark.storage.StorageLevel],
    allowEvolution: Boolean,
    indexSel: Option[(String, RowGroupIndex.Selector)] = None,
    bloomSel: Option[(String, String, Seq[Any])] = None,
    asOfVersion: Option[Int] = None,
    ranges: Seq[Snapshots.BandRange] = Nil) {

  def fields(selectors: String*): GraftRead = copy(fieldSel = selectors)
  def predicate(p: RowPredicate): GraftRead = copy(preds = preds :+ p.toColumn)
  def predicate(c: Column): GraftRead = copy(preds = preds :+ c)
  def shard(index: Int, count: Int): GraftRead = {
    require(count > 0 && index >= 0 && index < count,
      s"bad shard($index, $count)")
    copy(shardSpec = Some((index, count)))
  }
  def shuffle(seed: Long): GraftRead = copy(shuffleSeed = Some(seed))

  /** Time-travel over a [[Snapshots]] store: pin the read to one
    * committed version's manifest. Single-store only. Without this,
    * a snapshot store already reads through its LATEST manifest —
    * never the raw listing, which holds every version's files. */
  def asOf(version: Int): GraftRead = copy(asOfVersion = Some(version))

  /** Reader-param parity with `make_reader(rowgroup_selector=…)`
    * (reader.py:92, applied :599-618): scan ONLY the files a
    * [[RowGroupIndex]] sidecar admits for `selector`, composed with
    * fields/predicate/shard/shuffle in one chain. Like the
    * reference, selection intersects with sharding (shard membership
    * is by position in the full stable listing, so a file's shard
    * never changes with the selector). Admitted files are a superset
    * contract — keep the row predicate for exactness. Single-store
    * only (the index sidecar is per-store); an empty admission reads
    * an empty frame with the store schema, mirroring the reference's
    * empty-selection warning path. */
  def index(indexUrl: String, selector: RowGroupIndex.Selector): GraftRead =
    copy(indexSel = Some((indexUrl, selector)))

  /** [[index]]'s Bloom-sidecar variant for HIGH-CARDINALITY fields
    * ([[RowGroupIndex.buildBloom]]): admits files whose filter might
    * contain any of `values` (superset at fpp — keep the row
    * predicate; fpp only costs extra files scanned). */
  def bloomIndex(indexUrl: String, field: String,
      values: Seq[Any]): GraftRead =
    copy(bloomSel = Some((indexUrl, field, values)))

  /** Range-predicate file skipping over a [[Snapshots]] store with a
    * [[Snapshots.indexStats]] sidecar: the file list is pruned to
    * the [lo, hi]-overlapping band before the scan (every range of
    * the chain in ONE sidecar read, [[Snapshots.prunedFilesAll]]),
    * and the range's own residual is applied after decode — exact
    * even with stale or absent stats. `Long` ranges probe
    * integral/date/timestamp fields, `String` ranges string fields
    * by their truncated-prefix bands ([[Snapshots.BandKey]]).
    * Composes with fields/predicate/shard/shuffle/asOf in one chain;
    * single-store only (the sidecar is per-store). */
  def range[K: Snapshots.BandKey](field: String, lo: K,
      hi: K): GraftRead =
    copy(ranges = ranges :+ Snapshots.BandKey[K].range(field, lo, hi))

  /** Iteration control (E1). `k ≥ 1` unions k epoch copies, epoch j
    * permuted at the scan with seed+j (ventilator re-shuffle parity,
    * reader.py:666-682). `epochs(0)` is the `num_epochs=None`
    * INFINITE-iteration contract (the reference reader iterates
    * forever, reader.py:95-98, and `reset()` restarts it,
    * reader.py:503-527): a Spark DataFrame is already a re-iterable
    * handle — every action re-executes the plan — so the unbounded
    * form returns the single-pass frame with no `__epoch` column and
    * the training loop runs one action per epoch; re-call `load()`
    * with a bumped `shuffle` seed for a fresh permutation (the
    * `reset()` equivalent). Nothing is ever materialized k times. */
  def epochs(k: Int): GraftRead = {
    require(k >= 0, s"epochs($k): negative epoch count")
    copy(epochCount = k)
  }
  /** Skip codec decode — storage-typed columns out (make_batch_reader
    * flavor over a graft store). */
  def rawStorage: GraftRead = copy(decodeOutput = false)

  /** Schema-evolution mode for multi-store reads: instead of
    * requiring byte-identical sidecars, the per-store schemas are
    * merged BY NAME — shared fields must agree on type/shape/codec
    * (nullability may differ), and a field missing from some store
    * reads as null there (the parquet `mergeSchema` union). The
    * append-only evolution story: yesterday's stores keep serving
    * after a column lands in today's writer. Type changes are still
    * refused — a widened int is a rewrite, not an evolution. */
  def evolved: GraftRead = copy(allowEvolution = true)

  /** Post-decode user transform with schema-edit bookkeeping (T1,
    * transform.py:27-89); runs after predicates on the permuted stream:
    * a row-wise func keeps its order, a repartition or join sets its own. */
  def transform(spec: TransformSpec): GraftRead = copy(transformSpec = Some(spec))

  /** C1/C2 parity (cache.py:21-39, local_disk_cache.py:23-83): keep
    * the decoded/filtered dataset materialized across re-reads. The
    * reference's per-row-group diskcache maps onto Spark's native
    * per-partition persistence; DISK_ONLY is the local-disk-cache
    * analogue, MEMORY_AND_DISK the usual training-loop choice. */
  def cache(level: org.apache.spark.storage.StorageLevel =
      org.apache.spark.storage.StorageLevel.DISK_ONLY): GraftRead =
    copy(cacheLevel = Some(level))

  /** Plan the read. No Spark job runs here; every action on the
    * returned frame re-executes the plan.
    *
    * Draining: a shuffled read that fits one range partition (one
    * epoch, viewed columns under AQE's advisory partition size) drains
    * through `collect` or `toLocalIterator` in one Spark job: the
    * scan's tasks decode in parallel and the driver orders the rows.
    * An unshuffled read drained by `toLocalIterator` runs one Spark job
    * per scan split, one after another (the iterator fetches a
    * partition per job); for a small one use `collect`. */
  def load(): DataFrame = {
    // 1. stable file listing (per store, URL order) + shard (SH1/O5).
    //    A Snapshots store resolves through a MANIFEST — latest by
    //    default, `asOf` pinned — because its directory holds every
    //    version's immutable files and a raw listing would read dead
    //    versions alongside live rows.
    require(asOfVersion.isEmpty || urls.length == 1,
      "asOf() is single-store: versions are per-store")
    // one Hadoop conf for every file-system call planning makes
    val hadoopConf = spark.sessionState.newHadoopConf()
    val listed = urls.map { u =>
      val versions = Snapshots.versions(hadoopConf, u)
      if (versions.nonEmpty) {
        val v = asOfVersion.getOrElse(versions.last)
        val root = new org.apache.hadoop.fs.Path(u)
        val snapV = Snapshots.snap(hadoopConf, u, v)
        // the reader chain scans raw files; a renamed store's
        // physical names would surface — refuse loudly rather than
        // serve wrong column names (Snapshots.read translates)
        require(snapV.colmap.isEmpty,
          s"$u@v$v carries renamed columns — read via " +
            "Snapshots.read/readWhere (the reader chain scans " +
            "physical files)")
        // a dropped column's bytes are still in the files; the raw
        // footer-inferred scan would resurrect it (and post-drop
        // appends make the inferred schema file-order dependent)
        require(snapV.dropped.isEmpty,
          s"$u@v$v carries dropped columns — read via " +
            "Snapshots.read (raw scans would serve retired bytes)")
        val entries = snapV.files.sorted
        // the reader chain shards/prunes per FILE; a merge-on-read
        // entry is not one file (its deletion vector must anti-join
        // at scan) — refuse loudly rather than resurrect deleted
        // rows; Snapshots.read/readWhere serve MoR stores, or
        // Snapshots.purgeDv folds the vectors away
        require(entries.forall(!_.contains(Snapshots.DvSep)),
          s"$u@v$v carries merge-on-read deletion vectors — read " +
            "via Snapshots.read/readWhere or run Snapshots.purgeDv " +
            "before the reader chain")
        (entries.map(new org.apache.hadoop.fs.Path(root, _).toString), Some(v))
      } else {
        require(asOfVersion.isEmpty,
          s"asOf() needs a Snapshots store (no _snap manifests at $u)")
        (Materialize.listParquetFiles(hadoopConf, u), None)
      }
    }
    val allFiles = listed.flatMap(_._1)
    require(allFiles.nonEmpty, s"no parquet files at ${urls.mkString(", ")}")
    val sharded = shardSpec match {
      case Some((i, n)) =>
        require(allFiles.length >= n,
          s"cannot shard ${allFiles.length} files into $n shards " +
            "(reference parity: NoDataAvailableError, reader.py:583-585)")
        allFiles.zipWithIndex.collect { case (f, idx) if idx % n == i => f }
      case None => allFiles
    }
    // 1b. index-sidecar admission (rowgroup_selector parity): shard
    //     membership came from the FULL listing above, so selection
    //     only ever narrows a shard (reference order: selector then
    //     original-index modulo, reader.py:556-566)
    //     Paths compare qualified: a relative store url resolves its
    //     manifest to relative paths, while index()/bloomIndex()
    //     admit from the absolute listing.
    lazy val qualFs = new org.apache.hadoop.fs.Path(urls.head)
      .getFileSystem(hadoopConf)
    def normPath(s: String): String =
      qualFs.makeQualified(new org.apache.hadoop.fs.Path(s)).toUri.getPath
    val admitted: Option[Set[String]] =
      if (indexSel.isEmpty && bloomSel.isEmpty && ranges.isEmpty) None
      else {
        require(urls.length == 1,
          "index()/bloomIndex()/range() are single-store: the index " +
            "sidecar is built per store")
        val viaSel = indexSel.map { case (iu, sel) =>
          RowGroupIndex.selectedFiles(spark, urls.head, iu, sel) }
        val viaBloom = bloomSel.map { case (iu, f, vs) =>
          RowGroupIndex.bloomSelectedFiles(spark, urls.head, iu, f, vs) }
        // every range prunes against step 1's version in one sidecar
        // read: a later head could drop files a concurrent commit
        // replaced from the intersection, silently losing their rows
        val viaRange = if (ranges.isEmpty) None else {
          val v = listed.head._2
          require(v.nonEmpty,
            ".range() needs a Snapshots store (the stats sidecar " +
              "lives in its root; see Snapshots.indexStats)")
          Some(Snapshots.prunedFilesAll(spark, urls.head, v.get, ranges))
        }
        Some((viaSel.toSeq ++ viaBloom.toSeq ++ viaRange.toSeq)
          .map(_.map(normPath).toSet).reduce(_ intersect _))
      }
    val files = admitted match {
      case None => sharded
      case Some(keep) => sharded.filter(f => keep(normPath(f)))
    }
    // empty admission: read the store's schema but zero rows (the
    // reference warns and yields nothing; a DataFrame needs a schema)
    val emptySelection = files.isEmpty
    val readFiles = if (emptySelection) allFiles else files
    // basePath keeps hive-partition columns derivable when reading an
    // explicit (possibly sharded) file list from a partitioned store;
    // with several stores there is no single base → no derivation
    // (and a single-FILE store has no base directory at all)
    // sidecar schemas load (and merge-validate) BEFORE the parquet
    // read: a type-conflicting evolution must fail with the sidecar
    // diagnostic, not Spark's raw mergeSchema error
    val graftSidecars = urls.flatMap(u =>
      Materialize.loadSchema(hadoopConf, u).map(u -> _))
    // no graft sidecar → a PETASTORM store's own pickled Unischema
    // serves as the schema (parsed on the JVM, nothing executed —
    // see UnischemaPickle.parse): make_reader-written datasets open
    // with full codec decode and no user-side field declarations
    val sidecars =
      if (graftSidecars.nonEmpty) graftSidecars
      else urls.flatMap(u =>
        Materialize.loadPetastormSchema(hadoopConf, u).map(u -> _))
    require(sidecars.isEmpty || sidecars.length == urls.length,
      s"mixed stores: ${sidecars.length} of ${urls.length} have a " +
        "schema sidecar — all must, or none (plain parquet)")
    if (!allowEvolution) sidecars.drop(1).foreach { case (u, s) =>
      require(s.toJson == sidecars.head._2.toJson,
        s"store schemas disagree: $u vs ${sidecars.head._1} " +
          "(use .evolved for by-name schema-evolution merges)")
    }
    val sidecarSchema = sidecars.headOption.map { case (_, s0) =>
      if (!allowEvolution || sidecars.length == 1) s0
      else mergeSchemas(sidecars)
    }

    val singleDir = urls.length == 1 && {
      val p = new Path(urls.head)
      p.getFileSystem(hadoopConf).getFileStatus(p).isDirectory
    }
    val opts = Map("basePath" -> urls.head).filter(_ => singleDir) ++
      Map("mergeSchema" -> "true").filter(_ => allowEvolution)
    // the storage schema comes from the one footer Spark's inference
    // would read (ParquetRead), so planning runs no Spark job;
    // `.evolved` keeps Spark's merging inference, which reads every
    // footer
    val storage0 = ParquetRead(spark, readFiles, opts, hadoopConf)
    val storage = if (emptySelection) storage0.limit(0) else storage0

    // 2. schema: stored or inferred (dataset_metadata.py:410-418);
    //    "inferred" is the storage schema above: one footer's, or
    //    Spark's merge of all footers under `.evolved`.
    //    Multi-store: ALL stores must have sidecars (each checked to
    //    agree, or merged by name under `.evolved`) or NONE
    //    (inferred) — a sidecar-less plain store mixed with a
    //    codec-bearing one would silently have the codec schema
    //    applied to bytes that were never encoded with it
    val schema = sidecarSchema
      .getOrElse(GraftSchema.fromStructType("inferred", storage.schema))
    val viewed = if (fieldSel.isEmpty) schema else schema.view(fieldSel)

    // 3. schema view (P1: exact names or regex, unischema.py:199-240)
    //    and 4. codec decode (utils.py:52-85 decode_row): one projection
    //    of the viewed fields either way, plus any `carried` columns
    def decoded(scan: DataFrame, carried: Seq[Column]): DataFrame = {
      val fields =
        if (!decodeOutput) viewed.fieldNames.toSeq.map(col)
        else Materialize.decodedColumns(viewed)
      // 5. residual predicate (decoded values, like the worker-side
      //    predicate; Catalyst pushes what it can into the scan).
      //    range()'s residual rides here too: skipping is a superset
      //    admission, the filter makes it exact (typed by the STORED
      //    schema — the field may sit outside the fields() view)
      (preds ++ ranges.map(_.residual(storage.schema)))
        .foldLeft(scan.select(fields ++ carried: _*))(_.filter(_))
    }

    // 7. epochs × seeded shuffle (E1 + O1-O3): order by a storage
    //    position key, (xxhash64(seed, file name, row index), file
    //    path, row index): the file NAME keeps a copied store's order,
    //    and the key is a total order on any split plan. A read that
    //    fits one range partition (sized like AQE's target) carries the
    //    key through the decode projection, so decode runs in the
    //    scan's own tasks, and is ordered by coalesce(1) plus a local
    //    sort under a projection that drops the key; GraftExtensions
    //    plans that shape as one job that sorts on the driver
    //    (EpochBridge). A larger read, and every epoch of epochs(k ≥ 2),
    //    range-partitions and sorts the SCAN instead, so no decoded
    //    tensor crosses the exchange. Epoch k uses seed+k (reader.py:666)
    lazy val parts = (storage.select(viewed.fieldNames.map(col): _*)
      .queryExecution.optimizedPlan.stats.sizeInBytes / spark.sessionState
      .conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(spark.sessionState.conf.numShufflePartitions).toInt
    def positionKey(seed: Long): Seq[Column] = {
      val meta = storage.metadataColumn("_metadata") // never a user field
      Seq(xxhash64(lit(seed), meta("file_name"), meta("row_index")),
        meta("file_path"), meta("row_index"))
    }
    def ordered(seed: Option[Long]): DataFrame = seed match {
      case None => decoded(storage, Nil)
      case Some(s) if epochCount <= 1 && parts == 1 =>
        val key = positionKey(s).zip(GraftRead.KeyNames).map { case (c, n) =>
          EpochBridge.keyColumn(c, n) }
        decoded(storage, key).coalesce(1)
          .sortWithinPartitions(GraftRead.KeyNames.map(col): _*)
          .select(viewed.fieldNames.map(col): _*)
      case Some(s) =>
        val key = positionKey(s)
        decoded(storage.repartitionByRange(parts, key: _*)
          .sortWithinPartitions(key: _*), Nil)
    }
    // 6. post-decode transform (T1), on the permuted stream
    def epoch(seed: Option[Long]): DataFrame = {
      val rows = ordered(seed)
      transformSpec.map(_(rows)).getOrElse(rows)
    }
    val out =
      if (epochCount <= 1) epoch(shuffleSeed)
      else (0 until epochCount).map { k =>
        epoch(shuffleSeed.map(_ + k)).withColumn("__epoch", lit(k))
      }.reduce(_.unionByName(_))

    // 8. optional persistence (C1/C2)
    cacheLevel.map(out.persist).getOrElse(out)
  }

  /** Row-oriented typed flavor (`make_reader`'s namedtuple surface):
    * decoded rows as a `Dataset[T]` with a case-class encoder. */
  def loadAs[T: org.apache.spark.sql.Encoder](): org.apache.spark.sql.Dataset[T] =
    load().as[T]

  /** By-name schema merge for [[evolved]] reads: field order is
    * first appearance across stores (URL order); shared fields must
    * be identical apart from nullability; a field absent from any
    * store is nullable in the merge (its rows read as null there). */
  private def mergeSchemas(
      sidecars: Seq[(String, GraftSchema)]): GraftSchema = {
    val all = sidecars.map(_._2)
    val order = scala.collection.mutable.LinkedHashSet[String]()
    all.foreach(_.fields.foreach(f => order += f.name))
    val merged = order.toSeq.map { n =>
      val present = all.flatMap(_.fields.find(_.name == n))
      val base = present.head
      present.tail.foreach { f =>
        require(f.copy(nullable = base.nullable) == base,
          s"evolved stores disagree on field '$n' beyond nullability: " +
            s"$f vs $base — type/shape/codec changes need a rewrite")
      }
      base.copy(nullable = base.nullable || present.exists(_.nullable) ||
        present.length < all.length)
    }
    GraftSchema(all.head.name, merged)
  }
}

object GraftRead {
  /** Names of the position-key columns a one-partition shuffled epoch
    * carries from the scan to its sort (never in `load()`'s output). */
  private val KeyNames = Seq("__graft_pos_hash", "__graft_pos_file",
    "__graft_pos_row")

  def reader(spark: SparkSession, url: String): GraftRead =
    reader(spark, Seq(url))

  /** Multi-store reader (`dataset_url_or_urls` parity): one logical
    * dataset over several store URLs with agreeing schemas. */
  def reader(spark: SparkSession, urls: Seq[String]): GraftRead = {
    require(urls.nonEmpty, "need at least one store url")
    GraftRead(spark, urls, Nil, Nil, None, None, 1, decodeOutput = true, None,
      None, allowEvolution = false)
  }
}
