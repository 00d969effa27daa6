package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AnnSearch

/** Vector-aware FILE SKIPPING for [[Snapshots]] stores — the IVF
  * analogue of [[Snapshots.indexStats]]'s scalar bands: a `_vecindex`
  * sidecar records k trained centroids and, per manifest ENTRY, which
  * coarse cells its rows fall in (the posting list). A query then
  * probes its `nprobe` nearest cells and opens ONLY the files that
  * hold those cells — on a store [[cluster]]ed by cell id, an ANN
  * probe over 100k files reads a handful, the same economics the
  * scalar bands give a range predicate.
  *
  * Contracts, mirroring the skipping layer's doctrine:
  *  - search is EXACT over the probed cells (coarse prune + full
  *    integer rescore of every candidate); `nprobe = k` is exhaustive
  *    and equals brute force — the oracle anchor (q370).
  *  - ranking is the q316 integer contract (floor(x·1e6) quantize →
  *    BIGINT dot / floor-sqrt norms → `((dp+2·den)·1e5) div den`,
  *    ties by id) — addition-order-free, engine-reproducible.
  *    Embeddings are unit-norm scale by contract (|x| ≤ ~1), which
  *    keeps every product inside BIGINT.
  *  - sidecar lag is a PERFORMANCE bug, never a correctness bug: an
  *    entry without postings (committed after the last [[index]]
  *    refresh) is conservatively read; a refresh scans only
  *    uncovered entries — O(new files), and merge-on-read entries
  *    re-scan their EFFECTIVE rows (the [[Snapshots.indexStats]]
  *    attribution).
  *  - centroids are trained ONCE (deterministic md5-ordered sample,
  *    [[AnnSearch.ivfCentroids]]) and pinned: a refresh with a
  *    different `k` refuses loudly — silently re-training would
  *    invalidate every posting row.
  */
object VectorIndex {

  import SidecarDelta.{centroidsPath, postingsPath, vecDir}

  private def fsOf(spark: SparkSession, url: String) = {
    val p = new Path(url)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Build or incrementally refresh the sidecar for the latest
    * version: first call trains `k` centroids from the store's
    * effective rows; every call scans only entries without posting
    * rows and appends their (entry, cell, n) histogram. Returns the
    * number of entries scanned. */
  def index(spark: SparkSession, url: String, idCol: String,
      embCol: String, k: Int): Int = {
    require(k > 0, "need k > 0 centroids")
    val (fs, root) = fsOf(spark, url)
    val v = Snapshots.latest(spark, url)
    val s = Snapshots.snap(spark, url, v)
    val eff = Snapshots.readAsOf(spark, url, v)
    require(eff.columns.contains(idCol) && eff.columns.contains(embCol),
      s"vector index needs columns $idCol and $embCol")
    val cp = centroidsPath(root)
    if (!fs.exists(cp)) trainCentroids(fs, root, eff, idCol, embCol, k)
    val centroids = ParquetRead(spark, cp.toString)
      .select(col("centroid_id"), col("__cemb"))
    val have = centroids.count()
    require(have == k,
      s"vector index was trained with $have centroids, not $k — " +
        "delete _vecindex to re-train (postings would be invalid)")
    val pp = postingsPath(root)
    val covered =
      if (!fs.exists(pp)) Set.empty[String]
      else ParquetRead(spark, pp.toString).select("entry").distinct()
        .collect().map(_.getString(0)).toSet
    val freshE = s.files.filterNot(covered)
    if (freshE.isEmpty) return 0
    val schema = eff.schema
    val tagged = Snapshots
      .readEntriesTagged(spark, root, freshE, schema, "__entry",
        s.colmap)
      .filter(col(embCol).isNotNull)
    // codegen'd argmax assignment (zero shuffles) keyed by ENTRY
    val assigned = AnnSearch.ivfAssign(tagged, "__entry", embCol,
      centroids)
    val freshRows = assigned
      .groupBy(col("cid").as("entry"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    // marker row per scanned entry so all-null / empty entries are
    // not re-classified as fresh forever (the indexStats lesson)
    import spark.implicits._
    val frame = freshE.toDF("entry")
    val withMarkers = frame.join(freshRows, Seq("entry"), "left")
      .select(col("entry"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
    // the fold prunes rows whose entry no manifest lists any more
    // (same liveness rule as [[prunePostings]])
    SidecarDelta.append(spark, fs, pp, withMarkers, df =>
      SidecarDelta.keepLive(df, col("entry"), Snapshots.liveEntries(
        spark, url, Snapshots.versions(spark, url)).toSet))
    freshE.length
  }

  /** The centroid frame (id, embedding), id-sorted, driver-side —
    * k-small by contract. */
  private def loadCentroids(spark: SparkSession, root: Path)
      : Array[(Any, Array[Double])] = {
    val cp = centroidsPath(root)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(cp),
      s"no vector index under $root — run VectorIndex.index first")
    ParquetRead(spark, cp.toString)
      .select(col("centroid_id"), col("__cemb").cast("array<double>"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1).toArray))
  }

  /** Integer rank key of a quantized candidate vs the quantized
    * query — higher is nearer; exactly the q316 formula. */
  private def keyOf(q: Array[Long], c: Array[Long]): Long = {
    var dp = 0L; var cn2 = 0L; var qn2 = 0L; var i = 0
    while (i < q.length) {
      dp += q(i) * c(i); cn2 += c(i) * c(i); qn2 += q(i) * q(i)
      i += 1
    }
    val den = math.max(1L,
      math.floor(math.sqrt(qn2.toDouble)).toLong *
        math.floor(math.sqrt(cn2.toDouble)).toLong)
    (dp + 2L * den) * 100000L / den
  }

  private def quantize(e: Seq[Double]): Array[Long] =
    e.map(x => math.floor(x * 1000000d).toLong).toArray

  /** The query's `nprobe` nearest cells over already-loaded
    * centroid rows (integer key, ties by cell id string form). */
  private def rankedCells(cent: Array[(Any, Array[Double])],
      q: Array[Long], nprobe: Int): Seq[Any] =
    cent.map { case (id, ce) => (id, keyOf(q, quantize(ce.toSeq))) }
      .sortBy { case (id, key) => (-key, String.valueOf(id)) }
      .take(nprobe).map(_._1).toSeq

  /** The query's `nprobe` nearest cells — driver-side over the k
    * pinned centroids. */
  def probeCells(spark: SparkSession, url: String,
      queryEmb: Seq[Double], nprobe: Int): Seq[Any] = {
    require(nprobe > 0)
    val (_, root) = fsOf(spark, url)
    rankedCells(loadCentroids(spark, root), quantize(queryEmb), nprobe)
  }

  /** ONE postings-sidecar read → the raw (entry, bucket, n) rows.
    * None when the sidecar does not exist. Every driver-side view of
    * the postings ([[loadPostings]], [[health]]'s mass histogram)
    * derives from this single collect — never a second sidecar
    * scan. */
  private def loadPostingRows(spark: SparkSession, root: Path)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val pp = postingsPath(root)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(pp)) return None
    Some(ParquetRead(spark, pp.toString)
      .select(col("entry"), col("bucket"), col("n")).collect())
  }

  /** (covered entry set, entry → posted cells); None when the
    * sidecar does not exist. */
  private def loadPostings(spark: SparkSession, root: Path)
      : Option[(Set[String], Map[String, Set[Any]])] =
    loadPostingRows(spark, root).map { rows =>
      val covered = rows.map(_.getString(0)).toSet
      val posted = rows
        .filter(r => !r.isNullAt(2) && r.getLong(2) > 0L)
        .groupBy(_.getString(0))
        .map { case (e, rs) => e -> rs.map(_.get(1)).toSet }
      (covered, posted)
    }

  private def pruneByCells(spark: SparkSession, root: Path,
      entries: Seq[String], cells: Set[Any]): Seq[String] =
    loadPostings(spark, root) match {
      case None => entries
      case Some((covered, posted)) => entries.filter { e =>
        if (!covered.contains(e)) true // sidecar lag: must read
        else posted.get(e).exists(_.exists(cells.contains))
      }
    }

  /** Manifest entries a probed search must open: entries posting any
    * probed cell, plus entries the sidecar has not covered
    * (conservative — the stats-lag contract). O(entries · cells)
    * driver work off one sidecar read. */
  def prunedEntries(spark: SparkSession, url: String, version: Int,
      queryEmb: Seq[Double], nprobe: Int): Seq[String] = {
    val (_, root) = fsOf(spark, url)
    val s = Snapshots.snap(spark, url, version)
    pruneByCells(spark, root, s.files,
      probeCells(spark, url, queryEmb, nprobe).toSet)
  }

  /** ANN search, exact over the probed cells: prune entries through
    * the postings, effective-read the survivors, re-assign rows with
    * the SAME pinned centroids, keep rows in probed cells, integer-
    * rescore every candidate against the query and return the top
    * `topK` as (rank, id, key). `nprobe = k` probes every cell —
    * exhaustive, equal to brute force over the store. The scan is
    * the only corpus-sized work; the top-k is a TakeOrdered, never a
    * global sort materialization. */
  def search(spark: SparkSession, url: String, idCol: String,
      embCol: String, queryEmb: Seq[Double], topK: Int,
      nprobe: Int, version: Int = -1): DataFrame = {
    require(topK > 0 && nprobe > 0)
    val (_, root) = fsOf(spark, url)
    val v = if (version > 0) version else Snapshots.latest(spark, url)
    // one centroid read and one postings read serve the whole query
    val centRows = loadCentroids(spark, root)
    val cells = rankedCells(centRows, quantize(queryEmb), nprobe).toSet
    val entries = pruneByCells(spark, root,
      Snapshots.snap(spark, url, v).files, cells)
    val base = Snapshots.readEntryPaths(spark, url, v,
      entries.map(e => new Path(root, e).toString))
      .filter(col(embCol).isNotNull && col(idCol).isNotNull)
    val centroids = centroidFrame(spark, centRows,
      base.schema(idCol).dataType)
    val assigned = AnnSearch.ivfAssign(base, idCol, embCol, centroids)
    val probed = assigned.filter(col("bucket")
      .isin(cells.toSeq.map(c => c: Any): _*))
    val q = quantize(queryEmb)
    // fused codegen rescore (quantize + dot + norm in ONE array
    // pass): this runs over every row of every probed cell — the hot
    // path of a search — where the HOF spelling
    // (aggregate∘zip_with, r16) evaluated an interpreted lambda per
    // element. Arithmetic contract unchanged (q370/q374 hashes).
    val scored = probed
      .withColumn("key", graft.functions.GraftFunctions.column(
        graft.codecs.IvfRankKey(
          graft.functions.GraftFunctions.expr(col("__ce")), q)))
      .select(col("cid").as("id"), col("key"))
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("key").desc, col("id")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("key").desc, col("id"))))
      .select(col("rank"), col("id"), col("key"))
  }

  private def centroidFrame(spark: SparkSession,
      centRows: Array[(Any, Array[Double])],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id", idType),
      org.apache.spark.sql.types.StructField("__cemb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        centRows.toSeq.map { case (id, ce) =>
          org.apache.spark.sql.Row(id, ce.toSeq) }, 1), schema)
  }

  private def floorMicros(c: Column): Column =
    graft.functions.GraftFunctions.column(graft.codecs.FloorMicros(
      graft.functions.GraftFunctions.expr(c)))

  /** BATCHED ANN search — a query TABLE against the store, the
    * retrieval-workload shape ([[search]] is one-query-at-a-time
    * with driver-side cell ranking; a thousand-query batch wants the
    * cells ranked IN the plan). Exact over each query's probed
    * cells, same integer contract as [[search]]:
    *
    *  1. the k pinned centroids broadcast against the query table;
    *     every (query, cell) pair gets the integer pair key and a
    *     per-query window keeps the `nprobe` nearest cells (Q·k
    *     rows — centroid-bounded, never corpus-bounded);
    *  2. ONE postings read prunes the manifest to entries posting
    *     any probed cell (plus sidecar-lag entries, conservative);
    *  3. the surviving entries are effective-read ONCE, assigned
    *     with the same pinned centroids, and candidates equi-join
    *     the probe pairs on cell id — each query meets exactly the
    *     rows of its own probed cells;
    *  4. fused codegen rescore ([[graft.codecs.RankKeyPair]]) and
    *     the two-phase bounded-heap top-k ([[AnnSearch.rankTopK]]:
    *     per-partition heaps before the only shuffle).
    *
    * `nprobe = k` probes every cell — per query equal to brute
    * force over the store (the oracle anchor). `qidCol` must be
    * unique per query row (the [[AnnSearch.rankTopK]] heap keys on
    * it — two embeddings sharing a qid would merge into one top-k).
    * Output: (qid, rank, id, key). */
  def searchMany(spark: SparkSession, url: String, idCol: String,
      embCol: String, queries: DataFrame, qidCol: String,
      qEmbCol: String, topK: Int, nprobe: Int,
      version: Int = -1): DataFrame = {
    require(topK > 0 && nprobe > 0)
    val (_, root) = fsOf(spark, url)
    val v = if (version > 0) version else Snapshots.latest(spark, url)
    val cp = centroidsPath(root)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(cp),
      s"no vector index under $root — run VectorIndex.index first")
    // the pinned centroid frame straight from the sidecar (k-small;
    // collected once inside ivfAssign, broadcast for the probe rank)
    val centDf = ParquetRead(spark, cp.toString)
      .select(col("centroid_id"), col("__cemb").cast("array<double>"))
    val q = queries
      .filter(col(qidCol).isNotNull && col(qEmbCol).isNotNull)
      .select(col(qidCol).as("qid"), col(qEmbCol).as("__qe"))
      .withColumn("__qv", floorMicros(col("__qe")))
      .drop("__qe")
    val cents = centDf
      .withColumn("__cv", floorMicros(col("__cemb")))
      .select(col("centroid_id"), col("__cv"))
    // per-query probe cells: key desc, ties by cell id string form —
    // exactly [[rankedCells]]'s driver-side order
    val pairKey = (a: Column, b: Column) =>
      graft.functions.GraftFunctions.column(graft.codecs.RankKeyPair(
        graft.functions.GraftFunctions.expr(a),
        graft.functions.GraftFunctions.expr(b)))
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("__ck").desc, col("centroid_id").cast("string"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("__ck", pairKey(col("__qv"), col("__cv")))
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("__qv"),
        col("centroid_id").as("__cell"))
    // distinct probed cells bound the entry prune — ≤ k driver rows
    val cellSet = probes.select(col("__cell")).distinct()
      .collect().map(_.get(0)).toSet
    val entries = pruneByCells(spark, root,
      Snapshots.snap(spark, url, v).files, cellSet)
    val base = Snapshots.readEntryPaths(spark, url, v,
      entries.map(e => new Path(root, e).toString))
      .filter(col(embCol).isNotNull && col(idCol).isNotNull)
    val assigned = AnnSearch.ivfAssign(base, idCol, embCol, centDf)
      .filter(col("bucket").isin(cellSet.toSeq.map(c => c: Any): _*))
      .withColumn("__cq", floorMicros(col("__ce")))
      .select(col("cid"), col("bucket"), col("__cq"))
    val scored = assigned.join(probes,
        col("bucket") === col("__cell"))
      .withColumn("cos_m", pairKey(col("__qv"), col("__cq")))
      .select(col("qid"), col("cid"), col("cos_m"))
    AnnSearch.rankTopK(scored, topK)
      .select(col("qid"), col("rank"), col("cid").as("id"),
        col("cos_m").as("key"))
  }

  /** Re-lay the store's live rows CELL-CLUSTERED (range-partitioned
    * by each row's coarse IVF cell under the pinned centroids) as a
    * new version, then refresh the postings over the new entries —
    * the ANN analogue of [[Snapshots.cluster]]: after appends and
    * merge-on-read churn spread every cell across every file, one
    * maintenance rewrite re-concentrates postings so an `nprobe`
    * probe opens ~nprobe/k of the files again instead of all of
    * them. Effective rows only (deletion vectors fold away, like
    * every wholesale rewrite); old versions stay readable; search
    * results are unchanged by construction (layout, not content).
    * Returns the committed version. */
  def cluster(spark: SparkSession, url: String, idCol: String,
      embCol: String, nFiles: Int = 8): Int = {
    val (_, root) = fsOf(spark, url)
    val mat = loadCentroids(spark, root).map(_._2)
    val parent = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url))
    val df = Snapshots.readAsOf(spark, url, parent.version)
    require(df.columns.contains(embCol) && df.columns.contains(idCol),
      s"vector cluster needs columns $idCol and $embCol")
    val cellIdx = graft.functions.GraftFunctions.column(
      graft.codecs.ArgMaxCosM(graft.functions.GraftFunctions.expr(
        col(embCol).cast("array<double>")), mat))
    // partition by cell INDEX (layout only — posting rows key the
    // cell ID, re-derived by the index refresh below)
    val arranged = df.withColumn("__vcell", cellIdx)
      .repartitionByRange(math.max(1, nFiles), col("__vcell"))
      .drop("__vcell")
    val committed = Snapshots.commitNext(spark, root, parent,
      "vcluster", Snapshots.writeArranged(spark, root, arranged,
        parent.version + 1, parent.colmap), df.schema)
    // cover the fresh entries immediately (O(new files)); old
    // entries' posting rows retire with their manifests via
    // prunePostings on vacuum
    index(spark, url, idCol, embCol, mat.length)
    committed
  }

  /** Health-triggered RETRAIN — the churn recovery [[health]]
    * reports the need for, as ONE operation: when the pinned
    * centroids have degraded (posting-mass balance above
    * `maxBalanceX100`, sidecar missing, or `k` changed — or
    * unconditionally with `force`), drop `_vecindex`, train `k`
    * FRESH centroids from the store's CURRENT effective rows, write
    * them, and [[cluster]] the store on them (one commit; its index
    * refresh rebuilds the postings over the new layout). Centroids
    * are deliberately PINNED between retrains (incremental [[index]]
    * refreshes never move them — moving centroids would invalidate
    * every posting row), so this is the intended response when
    * ingest drift concentrates mass in few cells and probe
    * selectivity decays toward a full scan.
    *
    * `balance_x100` reads as max-cell mass ÷ mean-cell mass × 100:
    * 100 = perfectly even, k×100 = everything in one cell. The
    * default gate (300 = one cell holding 3× its share) is the
    * point where an nprobe-sized probe starts opening a third of
    * the corpus. Returns Some(committed vcluster version) when a
    * retrain ran, None when health was under the gate (no-op, no
    * commit, sidecar untouched). Cost when it fires: one centroid
    * training pass + one corpus rewrite — the same bill as the
    * initial [[cluster]], paid only on degradation. */
  def retrain(spark: SparkSession, url: String, idCol: String,
      embCol: String, k: Int, maxBalanceX100: Long = 300L,
      force: Boolean = false, nFiles: Int = 8): Option[Int] = {
    require(k > 0, "need k > 0 centroids")
    val (fs, root) = fsOf(spark, url)
    val degraded = force || !fs.exists(centroidsPath(root)) || {
      val kNow = loadCentroids(spark, root).length
      kNow != k || {
        val h = health(spark, url).collect()(0)
        h.getAs[Long]("balance_x100") > maxBalanceX100
      }
    }
    if (!degraded) return None
    fs.delete(vecDir(root), true)
    trainCentroids(fs, root, Snapshots.readAsOf(spark, url,
      Snapshots.latest(spark, url)), idCol, embCol, k)
    Some(cluster(spark, url, idCol, embCol, nFiles))
  }

  /** Train `k` centroids from the effective rows `eff` and write
    * them as the pinned set — refusing a store with fewer than `k`
    * non-null embeddings. */
  private def trainCentroids(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, eff: DataFrame, idCol: String, embCol: String,
      k: Int): Unit = {
    val trained = AnnSearch.ivfCentroids(
      eff.select(col(idCol), col(embCol)), idCol, embCol, k)
      .persist()
    try {
      require(trained.count() == k,
        s"store has fewer than $k non-null embeddings to train on")
      SidecarDelta.replace(fs, centroidsPath(root), trained.coalesce(1))
    } finally trained.unpersist()
  }

  /** Sidecar hygiene, the [[Snapshots.pruneStats]] analogue: drop
    * posting rows whose entry NO committed manifest lists (retired
    * by purgeDv/compactSmall/vacuum, or a superseded DV generation
    * of a MoR entry) — without it the postings sidecar only ever
    * grows. Rides every [[Snapshots.vacuum]]. Returns rows
    * dropped. */
  def prunePostings(spark: SparkSession, url: String): Long = {
    val (fs, root) = fsOf(spark, url)
    SidecarDelta.prune(spark, fs, postingsPath(root), "entry",
      Snapshots.liveEntries(spark, url, Snapshots.versions(spark, url))
        .toSet)
  }

  /** Index-health report off ONE sidecar read — the operator signal
    * for when pinned centroids have drifted from the corpus (pruning
    * stays CORRECT regardless; it degrades to weak selectivity
    * silently, which is exactly what this surfaces). One row:
    *  - `k` trained cells, `cells_posted` actually holding rows;
    *  - `entries_total` (current manifest) vs `entries_covered`
    *    (with posting rows) — `uncovered_pm` per-mille of entries a
    *    probe must conservatively read;
    *  - `mass_total` posted rows, `mass_max_cell`, and
    *    `balance_x100` = max-cell mass over the perfectly-uniform
    *    share ×100 (100 = uniform; ≫100 = a hot cell most probes
    *    open — delete `_vecindex` and re-train). */
  def health(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val (_, root) = fsOf(spark, url)
    val k = loadCentroids(spark, root).length
    val files = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files
    // ONE postings collect serves coverage AND the mass histogram —
    // the r19 shape re-scanned and re-aggregated the sidecar for the
    // per-cell mass (a second Spark action per health probe)
    val postRows = loadPostingRows(spark, root)
    val covered = postRows.map(_.map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    val coveredNow = files.count(covered.contains)
    val massByCell: Map[String, Long] = postRows
      .getOrElse(Array.empty[org.apache.spark.sql.Row])
      .filter(r => !r.isNullAt(2) && r.getLong(2) > 0L)
      .groupBy(r => String.valueOf(r.get(1)))
      .map { case (c, rs) => c -> rs.map(_.getLong(2)).sum }
    val massTotal = massByCell.values.sum
    val massMax = if (massByCell.isEmpty) 0L else massByCell.values.max
    val cellsPosted = massByCell.size
    val uncoveredPm =
      if (files.isEmpty) 0L
      else (files.size - coveredNow).toLong * 1000L / files.size
    val balance =
      if (massTotal == 0L || cellsPosted == 0) 0L
      else massMax * cellsPosted.toLong * 100L / massTotal
    Seq((k.toLong, cellsPosted.toLong, files.size.toLong,
      coveredNow.toLong, uncoveredPm, massTotal, massMax, balance))
      .toDF("k", "cells_posted", "entries_total", "entries_covered",
        "uncovered_pm", "mass_total", "mass_max_cell", "balance_x100")
  }
}
