package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained JOIN view — the join-bearing member of
  * the materialized-view family ([[MaterializedView]] covers keyed
  * aggregates; this covers `fact ⋈ dim₁ ⋈ … ⋈ dimₖ`): a snapshot
  * store holding the inner star join of a fact snapshot store with
  * one or more dimension snapshot stores, kept current from their
  * CDC feeds WITHOUT re-joining the corpus.
  *
  * Maintenance is the classic recompute-affected-keys IVM, exact
  * for any mix of inserts / updates / deletes on any side:
  *
  *   affected = keys(ΔF) ∪ ⋃ₖ { fact keys with joinKeyₖ ∈ keys(ΔDₖ) }
  *   current  = (fact@to ⋉ affected) ⋈ dim₁@to ⋈ … ⋈ dimₖ@to
  *   upsert(current); delete(affected ∖ keys(current))
  *
  * so a fact row whose dim partner changed is re-joined against the
  * NEW dim row, a deleted dim row retracts all its fact partners
  * (inner-join semantics), and a fact update that moves a row onto
  * a missing dim key correctly drops it from the view.
  *
  * Contracts: `factKey` unique per fact version and each `joinKey`
  * unique per its dim version (both are the [[Snapshots.upsert]]
  * store contract; a duplicate dim key fails loudly in the view
  * upsert's own duplicate check). Each join column must carry the
  * SAME NAME on the fact and its dim — rename before [[initStar]].
  *
  * Scale shape per refresh: the CDC feeds are manifest-diff-priced
  * (O(changed files), [[Snapshots.changes]]); the fact-side delta
  * drives a key-semi-join; each dim-side delta costs one fact scan
  * filtered by a broadcast of that dim's changed keys — cluster the
  * fact store by the hottest `joinKey` ([[Snapshots.cluster]]) and
  * file-stats skipping prunes that scan to the touched key bands
  * (long AND string join keys both prune —
  * [[Snapshots.prunedFilesForKeys]]).
  * The view upsert rewrites only files that can hold an affected
  * key (copy-on-write — supply a `factKey` bloom sidecar to
  * [[refreshStar]]; without one [[Snapshots.upsert]] conservatively
  * rewrites all view files). Nothing is ever O(history).
  *
  * Crash contract: refresh commits the view version FIRST, then
  * advances `_joinview.json`; a crash between the two replays the
  * same deltas onto identical content (same affected set, same
  * current rows) — an extra version, never a wrong row. */
object JoinView {

  private val MetaName = "_joinview.json"

  final case class JvMeta(factKey: String, joinKeys: Seq[String],
      factV: Int, dimVs: Seq[Int])

  private def metaPath(url: String) = new Path(new Path(url), MetaName)

  /** Meta advances by ATOMIC SWAP, never truncate-in-place: the JSON
    * is staged under a temp name, then moved onto the slot (POSIX
    * rename replaces atomically on `file://`; on Hadoop filesystems
    * the delete+rename window can only lose the file entirely —
    * [[meta]] then fails loudly — never expose a torn write). A
    * crash before the swap leaves the OLD meta: the next refresh
    * replays the same deltas onto identical content. */
  private def writeMeta(spark: SparkSession, url: String,
      m: JvMeta, overwrite: Boolean): Unit = {
    require(m.joinKeys.nonEmpty &&
      m.joinKeys.length == m.dimVs.length, "joinKeys/dimVs aligned")
    (m.factKey +: m.joinKeys).foreach(k =>
      require(!k.contains("\"") && !k.contains(","),
        s"key name $k would break the sidecar JSON"))
    val p = metaPath(url)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    require(overwrite || !fs.exists(p),
      s"join view already exists at $url")
    val json = s"""{"factKey":"${m.factKey}",""" +
      s""""joinKeys":[${m.joinKeys.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""factV":${m.factV},"dimVs":[${m.dimVs.mkString(",")}]}"""
    val tmp = new Path(p.getParent, s"_tmp-jv-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (fs.getUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the nio move bypasses ChecksumFileSystem: drop the tmp's
      // now-orphaned .crc, and any stale .crc sitting at the slot
      // (e.g. from a foreign fs.create) that would poison reads
      def crc(q: Path) = new Path(q.getParent, s".${q.getName}.crc")
      fs.delete(crc(tmp), false); fs.delete(crc(p), false)
    } else {
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p), s"meta swap failed at $p")
    }
  }

  def meta(spark: SparkSession, url: String): JvMeta = {
    val p = metaPath(url)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no join view at $url")
    val json = SidecarJson.slurp(fs, p)
    if (json.contains("\"joinKeys\""))
      JvMeta(SidecarJson.str(json, "factKey"),
        SidecarJson.arr(json, "joinKeys"),
        SidecarJson.num(json, "factV").toInt,
        SidecarJson.arr(json, "dimVs").map(_.toInt))
    else // pre-star sidecar: singular joinKey/dimV fields
      JvMeta(SidecarJson.str(json, "factKey"),
        Seq(SidecarJson.str(json, "joinKey")),
        SidecarJson.num(json, "factV").toInt,
        Seq(SidecarJson.num(json, "dimV").toInt))
  }

  /** Materialize `fact@latest ⋈ dim₁@latest ⋈ … ⋈ dimₖ@latest`
    * (inner, each dim on its own join key) into a fresh snapshot
    * store at `viewUrl` keyed by `factKey`. `dims` is ordered
    * (dimUrl, joinKey) — [[refreshStar]] takes its dim urls in the
    * SAME order. */
  def initStar(spark: SparkSession, viewUrl: String, factUrl: String,
      dims: Seq[(String, String)], factKey: String,
      nFiles: Int = 8, clusterByFactKey: Boolean = false): Unit = {
    require(dims.nonEmpty, "star join needs at least one dim")
    require(dims.map(_._2).distinct.length == dims.length,
      s"duplicate join keys: ${dims.map(_._2)}")
    val fv = Snapshots.latest(spark, factUrl)
    val fact = Snapshots.readAsOf(spark, factUrl, fv)
    require(fact.columns.contains(factKey),
      s"fact store needs $factKey")
    val dvs = dims.map { case (u, _) => Snapshots.latest(spark, u) }
    val dimDfs = dims.zip(dvs).map { case ((u, jk), dv) =>
      val d = Snapshots.readAsOf(spark, u, dv)
      require(fact.columns.contains(jk), s"fact store needs $jk")
      require(d.columns.contains(jk), s"dim store $u needs $jk")
      (d, jk)
    }
    // pairwise collision check across fact + every dim (beyond each
    // dim's own join key): a star join must produce unambiguous
    // column names or the view store schema would be ill-formed.
    // Each dim's set excludes only its OWN join key — a dim carrying
    // ANOTHER dim's join key as payload is a collision too (the
    // later join on that key would be ambiguous after this one)
    val sides = ("fact", fact.columns.toSet) +:
      dimDfs.zipWithIndex.map { case ((d, jk), i) =>
        (s"dim$i", d.columns.toSet - jk) }
    for (i <- sides.indices; j <- (i + 1) until sides.length) {
      val overlap = sides(i)._2.intersect(sides(j)._2)
      require(overlap.isEmpty,
        s"${sides(i)._1}/${sides(j)._1} column collision beyond " +
          s"each dim's own join key: $overlap")
    }
    val joined = dimDfs.foldLeft(fact) { case (acc, (d, jk)) =>
      acc.join(d, Seq(jk), "inner") }
    // clusterByFactKey writes the view born key-clustered: the
    // layout [[refreshStar]]'s copy-on-write upsert wants (narrow
    // key bands per file), without a separate full cluster rewrite
    Snapshots.create(spark, viewUrl, joined, nFiles = nFiles,
      clusterBy = if (clusterByFactKey) Some(factKey) else None)
    writeMeta(spark, viewUrl,
      JvMeta(factKey, dims.map(_._2), fv, dvs), overwrite = false)
  }

  /** Two-store convenience form of [[initStar]]. */
  def init(spark: SparkSession, viewUrl: String, factUrl: String,
      dimUrl: String, factKey: String, joinKey: String,
      nFiles: Int = 8, clusterByFactKey: Boolean = false): Unit =
    initStar(spark, viewUrl, factUrl, Seq((dimUrl, joinKey)),
      factKey, nFiles, clusterByFactKey)

  /** Current view contents (the latest committed version). */
  def read(spark: SparkSession, viewUrl: String): DataFrame =
    Snapshots.read(spark, viewUrl)

  /** Blue/green rebuild — the recovery path [[refreshStar]] refuses
    * (bases recreated/rolled back below the recorded versions, or a
    * dim delta past `maxKeys`): materialize a FRESH view at `newUrl`
    * from the bases' CURRENT latest under the old view's keys. The
    * swap to the new url is the caller's atomic pointer flip, so no
    * rebuild/crash window exists (the [[MaterializedView.rebuild]]
    * doctrine). The old view stays readable throughout. */
  def rebuildStar(spark: SparkSession, viewUrl: String,
      newUrl: String, factUrl: String, dimUrls: Seq[String],
      nFiles: Int = 8, clusterByFactKey: Boolean = false): Unit = {
    val m = meta(spark, viewUrl)
    require(dimUrls.length == m.joinKeys.length,
      s"view joins ${m.joinKeys.length} dims, got ${dimUrls.length}")
    // a born-clustered view must ask for clusterByFactKey here too:
    // the recovery rebuild would otherwise silently re-lay it
    // round-robin and cost every later refresh its pruned probes
    initStar(spark, newUrl, factUrl, dimUrls.zip(m.joinKeys),
      m.factKey, nFiles, clusterByFactKey)
  }

  /** Two-store convenience form of [[rebuildStar]]. */
  def rebuild(spark: SparkSession, viewUrl: String, newUrl: String,
      factUrl: String, dimUrl: String, nFiles: Int = 8,
      clusterByFactKey: Boolean = false): Unit =
    rebuildStar(spark, viewUrl, newUrl, factUrl, Seq(dimUrl), nFiles,
      clusterByFactKey)

  /** Advance the view to the base stores' latest versions from
    * their CDC feeds. `dimUrls` in [[initStar]]'s dim order.
    * Returns the view's (possibly unchanged) version.
    *
    * `bloomIndexUrl`: a [[RowGroupIndex.buildBloom]] sidecar on the
    * view store keyed by `factKey`. Without it the view upsert
    * rewrites every view file (the [[Snapshots.upsert]] default);
    * with it, only files that can hold an affected key are rewritten
    * — the copy-on-write behavior a large view needs — and the
    * sidecar is refreshed here after each commit (an O(new files)
    * scan, [[RowGroupIndex.updateBloom]]). */
  def refreshStar(spark: SparkSession, viewUrl: String,
      factUrl: String, dimUrls: Seq[String], maxKeys: Int = 1000000,
      bloomIndexUrl: Option[String] = None): Int = {
    val m = meta(spark, viewUrl)
    require(dimUrls.length == m.joinKeys.length,
      s"view joins ${m.joinKeys.length} dims, got ${dimUrls.length}")
    // writeMeta's key-name guard must fire HERE, before any data
    // commit: a legacy view whose key would fail the guard must
    // refuse up front, not wedge itself by committing the upsert
    // and then throwing before the meta swap on every replay
    (m.factKey +: m.joinKeys).foreach(k =>
      require(!k.contains("\"") && !k.contains(","),
        s"key name $k would break the sidecar JSON — rebuild the " +
          "view under a renamed key"))
    val fv = Snapshots.latest(spark, factUrl)
    val dvs = dimUrls.map(Snapshots.latest(spark, _))
    require(fv >= m.factV && dvs.zip(m.dimVs).forall(p => p._1 >= p._2),
      s"base stores went backwards (restore?) — rebuild the view")
    if (fv == m.factV && dvs == m.dimVs)
      return Snapshots.latest(spark, viewUrl)
    val factNow = Snapshots.readAsOf(spark, factUrl, fv)
    val dimNows = dimUrls.zip(dvs).map { case (u, dv) =>
      Snapshots.readAsOf(spark, u, dv) }
    val viewSchema = Snapshots.read(spark, viewUrl).schema
    val dFKeys =
      if (fv > m.factV)
        Snapshots.changes(spark, factUrl, m.factKey, m.factV, fv,
          includeOld = false).select(col(m.factKey))
      else factNow.select(col(m.factKey)).limit(0)
    // dim deltas are dimension-sized: collect each dim's changed
    // keys (bounded-action, same maxKeys doctrine as the view
    // upsert) so the fact probe can be file-stats-pruned driver-side
    val perDimAffected = dimUrls.indices.map { k =>
      val jk = m.joinKeys(k)
      val dDKeyVals: Seq[Any] =
        if (dvs(k) > m.dimVs(k)) {
          val rows = Snapshots.changes(spark, dimUrls(k), jk,
            m.dimVs(k), dvs(k), includeOld = false)
            .select(col(jk)).distinct()
            .limit(maxKeys + 1).collect()
          require(rows.length <= maxKeys,
            s"dim $k delta exceeds maxKeys=$maxKeys changed keys — " +
              "rebuild the view instead of refreshing")
          rows.map(_.get(0)).toSeq
        } else Seq.empty
      if (dDKeyVals.isEmpty)
        factNow.select(col(m.factKey)).limit(0)
      else {
        val dDKeys = spark.createDataFrame(
          spark.sparkContext.parallelize(
            dDKeyVals.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            dimNows(k).schema(jk))))
        // dim-driven invalidation: probe the fact store with the
        // changed dim keys. With a stats sidecar the probe opens
        // ONLY files whose band holds a changed key — long and
        // STRING keys alike via [[Snapshots.prunedFilesForKeys]]
        // (cluster the fact store by the join key to make the bands
        // narrow); the broadcast semi-join stays as the exact
        // residual. Falls back to the full fact scan only for other
        // key types or absent stats.
        def probe[K](key: Snapshots.BandKey[K]): Option[DataFrame] = {
          val keys = dDKeyVals.flatMap(key.keyOf)
          if (keys.length < dDKeyVals.length) None
          else {
            val files = Snapshots.prunedFilesForKeys(spark, factUrl,
              fv, jk, keys)(key)
            Some(if (files.isEmpty) factNow.limit(0)
              else Snapshots.readEntryPaths(spark, factUrl, fv, files))
          }
        }
        val factProbe = probe(Snapshots.BandKey.LongKey)
          .orElse(probe(Snapshots.BandKey.StrKey)).getOrElse(factNow)
        factProbe.join(broadcast(dDKeys), Seq(jk), "left_semi")
          .select(col(m.factKey))
      }
    }
    val affected = perDimAffected.foldLeft(dFKeys)(_.unionByName(_))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val current = dimNows.zip(m.joinKeys).foldLeft(
        factNow.join(affected, Seq(m.factKey), "left_semi")) {
      case (acc, (d, jk)) => acc.join(d, Seq(jk), "inner") }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try starts immediately after the persists so every exit path
    // (upsert contract refusals included) reaches the unpersists
    val v = try {
      val curAligned = current
        .select(viewSchema.fieldNames.toSeq.map(col): _*)
        .withColumn("__del", lit(false))
      val delRows = affected
        .join(current.select(col(m.factKey)), Seq(m.factKey),
          "left_anti")
        .select(viewSchema.fields.toSeq.map { f =>
          if (f.name == m.factKey) col(m.factKey)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
        .withColumn("__del", lit(true))
      val committed = Snapshots.upsert(spark, viewUrl,
        curAligned.unionByName(delRows), m.factKey,
        deleteCol = Some("__del"), bloomIndexUrl = bloomIndexUrl,
        maxKeys = maxKeys)
      bloomIndexUrl.foreach(idx =>
        RowGroupIndex.updateBloom(spark, viewUrl, Seq(m.factKey), idx))
      committed
    } finally { affected.unpersist(); current.unpersist() }
    writeMeta(spark, viewUrl, m.copy(factV = fv, dimVs = dvs),
      overwrite = true)
    v
  }

  /** Two-store convenience form of [[refreshStar]]. */
  def refresh(spark: SparkSession, viewUrl: String, factUrl: String,
      dimUrl: String, maxKeys: Int = 1000000,
      bloomIndexUrl: Option[String] = None): Int =
    refreshStar(spark, viewUrl, factUrl, Seq(dimUrl), maxKeys,
      bloomIndexUrl)
}
