package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The refresh contract of the conventional sidecars, on one store:
  * [[Snapshots.refreshSidecars]] refreshes exactly the sidecars the
  * store maintains, with the field sets they were built with, skips
  * one whose field no longer resolves, and never commits a version;
  * [[Snapshots.discoverBloom]]/[[Snapshots.bloomKeyField]] answer
  * from the bloom sidecar's field set; [[Snapshots.pruneStats]] and
  * [[VectorIndex.prunePostings]] return the rows they drop. */
class SidecarRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def emb(i: Long): Seq[Double] =
    Seq(math.sin(i * 1.7), math.cos(i * 0.3))

  private def statsRows(sp: String): Set[Seq[Any]] =
    spark.read.parquet(sp).collect().map(_.toSeq).toSet

  private def bloomRows(idx: String): Set[(String, String, Seq[Byte])] =
    spark.read.parquet(idx).collect().map(r => (r.getAs[String]("field"),
      r.getAs[String]("file"), r.getAs[Array[Byte]]("bloom").toSeq)).toSet

  test("refreshSidecars refreshes the maintained sidecars, skips an " +
      "unresolvable one, and prunes return the dropped rows") {
    val url = scratch(
      s"sidecar_refresh/${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = new Path(url).getFileSystem(
      spark.sessionState.newHadoopConf())
    val sp = s"$url/_stats/filestats"
    val pp = s"$url/_vecindex/postings"
    Snapshots.create(spark, url,
      (0L until 40L).map(i => (i, i * 10L, emb(i))).toDF("id", "v", "e"),
      nFiles = 4, clusterBy = Some("id"))

    // no sidecars: nothing to refresh, nothing to discover
    assert(Snapshots.refreshSidecars(spark, url) == ((false, false)))
    assert(!fs.exists(new Path(sp)))
    assert(Snapshots.discoverBloom(spark, url, "id").isEmpty)
    assert(Snapshots.bloomKeyField(spark, url).isEmpty)

    Snapshots.indexStats(spark, url, Seq("v"))
    Snapshots.indexBloom(spark, url, Seq("id"))
    VectorIndex.index(spark, url, "id", "e", 4)
    val idx = Snapshots.bloomSidecarUrl(spark, url)
    assert(Snapshots.discoverBloom(spark, url, "id") == Some(idx))
    assert(Snapshots.discoverBloom(spark, url, "v").isEmpty)
    assert(Snapshots.bloomKeyField(spark, url) == Some("id"))

    // an append and an upsert: both sidecars refresh, and each holds
    // exactly the rows a from-scratch rebuild writes
    Snapshots.append(spark, url,
      Seq((100L, 1000L, emb(100L))).toDF("id", "v", "e"), nFiles = 1)
    Snapshots.upsert(spark, url,
      Seq((5L, -5L, emb(5L)), (200L, 2000L, emb(200L)))
        .toDF("id", "v", "e"), "id")
    VectorIndex.index(spark, url, "id", "e", 4)
    assert(Snapshots.refreshSidecars(spark, url) == ((true, true)))
    val refreshedStats = statsRows(sp)
    fs.delete(new Path(sp), true)
    Snapshots.indexStats(spark, url, Seq("v"))
    assert(refreshedStats == statsRows(sp))
    val rebuilt = s"$url/_bloom/rebuilt"
    RowGroupIndex.buildBloom(spark, url, Seq("id"), rebuilt)
    assert(bloomRows(idx) == bloomRows(rebuilt))
    fs.delete(new Path(rebuilt), true)

    // vacuum retires the upsert's rewritten entries; put the pre-
    // vacuum sidecars back and the prunes report the rows they drop
    val saved = new Path(new Path(url).getParent,
      "saved_" + new Path(url).getName)
    fs.mkdirs(saved)
    Seq(sp, pp).foreach(d => FileUtil.copy(fs, new Path(d), fs,
      new Path(saved, new Path(d).getName), false, fs.getConf))
    Snapshots.vacuum(spark, url, Snapshots.latest(spark, url),
      graceMs = 0L)
    val live = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
      .files.toSet
    val staleStats = spark.read.parquet(s"$saved/filestats")
      .filter(!col("file").isin(live.toSeq: _*)).count()
    val stalePost = spark.read.parquet(s"$saved/postings")
      .filter(!col("entry").isin(live.toSeq: _*)).count()
    assert(staleStats > 0L && stalePost > 0L)
    Seq(sp, pp).foreach { d =>
      fs.delete(new Path(d), true)
      FileUtil.copy(fs, new Path(saved, new Path(d).getName), fs,
        new Path(d), false, fs.getConf)
    }
    fs.delete(saved, true)
    assert(Snapshots.pruneStats(spark, url) == staleStats)
    assert(VectorIndex.prunePostings(spark, url) == stalePost)
    assert(Snapshots.pruneStats(spark, url) == 0L)
    assert(VectorIndex.prunePostings(spark, url) == 0L)
    assert(spark.read.parquet(sp).select("file").distinct()
      .as[String].collect().toSet == live)

    // a renamed stats field still refreshes, through the column map
    Snapshots.renameColumn(spark, url, "v", "w")
    Snapshots.append(spark, url,
      Seq((300L, 3000L, emb(300L))).toDF("id", "w", "e"), nFiles = 1)
    assert(Snapshots.refreshSidecars(spark, url) == ((true, true)))
    val head = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
    assert(head.files.toSet.subsetOf(spark.read.parquet(sp)
      .select("file").as[String].collect().toSet))
    assert(Snapshots.statsCovers(spark, url, "w"))

    // a dropped bloom field skips the bloom refresh; the refresh
    // itself never commits
    Snapshots.dropColumn(spark, url, "id")
    Snapshots.append(spark, url,
      Seq((4000L, emb(400L))).toDF("w", "e"), nFiles = 1)
    val bloomBefore = bloomRows(idx)
    val v = Snapshots.latest(spark, url)
    assert(Snapshots.refreshSidecars(spark, url) == ((true, false)))
    assert(Snapshots.latest(spark, url) == v)
    assert(bloomRows(idx) == bloomBefore)
  }

  test("bloom builds and refreshes index the manifests' files, not " +
      "uncommitted debris in the root") {
    val url = scratch(
      s"sidecar_refresh/${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = new Path(url).getFileSystem(
      spark.sessionState.newHadoopConf())
    Snapshots.create(spark, url,
      (0L until 20L).map(i => (i, i * 10L)).toDF("id", "v"), nFiles = 2)
    // what a crashed or still-running write leaves: a name no
    // manifest lists, with no parquet footer
    val debris = "s99999999-deadbeef-p00000-t0.parquet"
    fs.create(new Path(url, debris), false).close()
    val idx = Snapshots.bloomSidecarUrl(spark, url)
    Snapshots.indexBloom(spark, url, Seq("id"))
    Snapshots.append(spark, url,
      Seq((100L, 1000L)).toDF("id", "v"), nFiles = 1)
    assert(Snapshots.refreshSidecars(spark, url) == ((false, true)))
    val live = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
      .files.toSet
    val indexed = bloomRows(idx).map(r => new Path(r._2).getName)
    assert(!indexed.contains(debris))
    assert(indexed == live)
    // the refresh scanned the appended file only: one row per file
    assert(spark.read.parquet(idx).count() == live.size.toLong)
  }
}
