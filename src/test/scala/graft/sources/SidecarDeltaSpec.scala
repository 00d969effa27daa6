package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the r20 delta-generation sidecar layout ([[SidecarDelta]]):
  * a long append/refresh run stays O(new files) per epoch — the
  * sidecar directory's part count is BOUNDED by the fold (the r19
  * whole-rewrite made epoch k pay O(k), quadratic over a streaming
  * run) — while every reader sees exactly the rows a from-scratch
  * rebuild would produce. */
class SidecarDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = scratch(
    s"sidecar_delta_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  private def parts(url: String): Int = {
    val p = new Path(url)
    SidecarDelta.dataParts(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  test("bloom sidecar: 40-epoch refresh run keeps part count " +
      "bounded and probes equal to a fresh rebuild") {
    val url = fresh("bloom")
    val idx = s"$url/_bloom/keybloom"
    Snapshots.create(spark, url,
      (0L until 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    RowGroupIndex.buildBloom(spark, url, Seq("id"), idx)
    var maxParts = 0
    (1 to 40).foreach { e =>
      Snapshots.append(spark, url,
        Seq((1000L * e, e.toLong)).toDF("id", "v"), nFiles = 1)
      RowGroupIndex.updateBloom(spark, url, Seq("id"), idx)
      maxParts = math.max(maxParts, parts(idx))
    }
    // the fold bounds the generations: never more than MaxParts
    // appends accumulate past the last fold (+1 for the fold output)
    assert(maxParts <= SidecarDelta.MaxParts + 1,
      s"sidecar grew to $maxParts parts — fold never ran")
    assert(parts(idx) <= SidecarDelta.MaxParts + 1)
    // probe equivalence vs a from-scratch rebuild
    val rebuilt = s"$url/_bloom/rebuilt"
    RowGroupIndex.buildBloom(spark, url, Seq("id"), rebuilt)
    val probes = Seq[Any](0L, 5L, 1000L, 17000L, 40000L, 999999L)
    val a = RowGroupIndex.bloomSelectedFiles(spark, url, idx, "id",
      probes).toSet
    val b = RowGroupIndex.bloomSelectedFiles(spark, url, rebuilt, "id",
      probes).toSet
    assert(a == b, s"delta-layout probe ${a.size} files != rebuild " +
      s"${b.size}")
    // coverage half of the upsert staleness guard unchanged: every
    // live file is covered
    val covered = RowGroupIndex.bloomCoveredFiles(spark, idx, "id")
    val liveNames = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files
      .map(f => new Path(f).getName).toSet
    assert(liveNames.subsetOf(covered))
  }

  test("stats sidecar: refresh run stays bounded; rows equal a " +
      "from-scratch rebuild; pruning still exact") {
    val url = fresh("stats")
    Snapshots.create(spark, url,
      (0L until 20L).map(i => (i, i)).toDF("id", "v"), nFiles = 2)
    Snapshots.indexStats(spark, url, Seq("id"))
    val sp = s"$url/_stats/filestats"
    var maxParts = 0
    (1 to 40).foreach { e =>
      Snapshots.append(spark, url,
        Seq((100L * e, e.toLong)).toDF("id", "v"), nFiles = 1)
      Snapshots.indexStats(spark, url, Seq("id"))
      maxParts = math.max(maxParts, parts(sp))
    }
    assert(maxParts <= SidecarDelta.MaxParts + 1,
      s"stats sidecar grew to $maxParts parts — fold never ran")
    // row-level equivalence: delete the sidecar, rebuild from
    // scratch, compare full row sets (files are write-once so the
    // rebuild must reproduce the delta run's rows exactly)
    val viaDelta = spark.read.parquet(sp).collect()
      .map(_.toSeq).toSet
    val p = new Path(sp)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    Snapshots.indexStats(spark, url, Seq("id"))
    val rebuilt = spark.read.parquet(sp).collect()
      .map(_.toSeq).toSet
    assert(viaDelta == rebuilt)
    // and a banded read over the delta-layout sidecar stays exact
    assert(Snapshots.countWhere(spark, url, "id", 0L, 50L)._1 ==
      Snapshots.read(spark, url)
        .filter(col("id") >= 0L && col("id") <= 50L).count())
  }

  test("postings sidecar: per-epoch index refresh stays bounded " +
      "with health coverage intact") {
    val url = fresh("post")
    val emb = (i: Long) => Seq(math.sin(i * 1.7), math.cos(i * 0.3))
    Snapshots.create(spark, url,
      (0L until 20L).map(i => (i, emb(i))).toDF("id", "e"), nFiles = 2)
    VectorIndex.index(spark, url, "id", "e", 4)
    val pp = s"$url/_vecindex/postings"
    var maxParts = 0
    (1 to 40).foreach { k =>
      Snapshots.append(spark, url,
        Seq((100L * k, emb(k))).toDF("id", "e"), nFiles = 1)
      VectorIndex.index(spark, url, "id", "e", 4)
      maxParts = math.max(maxParts, parts(pp))
    }
    assert(maxParts <= SidecarDelta.MaxParts + 1,
      s"postings sidecar grew to $maxParts parts — fold never ran")
    val h = VectorIndex.health(spark, url).collect()(0)
    assert(h.getAs[Long]("uncovered_pm") == 0L,
      "delta-layout postings left live entries uncovered")
    // mass must count every live row exactly once (duplicate
    // generations would inflate it)
    assert(h.getAs[Long]("mass_total") == 60L,
      s"mass ${h.getAs[Long]("mass_total")} != 60 live rows")
  }

  test("a crash between the tmp write and the swap leaves the live " +
      "sidecar readable; the next prune and fold replace the tmp") {
    val url = fresh("crash")
    val fs = new Path(url).getFileSystem(
      spark.sessionState.newHadoopConf())
    Snapshots.create(spark, url,
      (0L until 20L).map(i => (i, i)).toDF("id", "v"), nFiles = 2,
      clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id"))
    val sp = s"$url/_stats/filestats"
    val before = spark.read.parquet(sp).collect().map(_.toSeq).toSet
    // the debris a crash after the tmp write leaves: a full tmp
    // whose rows do not match the live sidecar's
    Seq("junk").toDF("x").write.parquet(s"${sp}__tmp")
    assert(spark.read.parquet(sp).collect().map(_.toSeq).toSet == before)
    assert(Snapshots.countWhere(spark, url, "id", 0L, 9L)._1 == 10L)
    // vacuum's prune rewrites the stats sidecar through the tmp slot
    Snapshots.upsert(spark, url, Seq((3L, 30L)).toDF("id", "v"), "id")
    Snapshots.indexStats(spark, url, Seq("id"))
    Snapshots.vacuum(spark, url, Snapshots.latest(spark, url),
      graceMs = 0L)
    assert(!fs.exists(new Path(s"${sp}__tmp")))
    val live = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
      .files.toSet
    assert(spark.read.parquet(sp).select("file").as[String].collect()
      .toSet == live)
    // and a fold over a leftover tmp
    val dir = new Path(s"$url/_fold/side")
    Seq("junk").toDF("x").write.parquet(s"$dir" + "__tmp")
    (1 to SidecarDelta.MaxParts + 1).foreach(i =>
      SidecarDelta.append(spark, fs, dir, Seq(i.toLong).toDF("n")))
    assert(parts(dir.toString) == 1)
    assert(!fs.exists(new Path(s"$dir" + "__tmp")))
    assert(spark.read.parquet(dir.toString).as[Long].collect().sorted
      .toSeq == (1L to SidecarDelta.MaxParts + 1L))
  }
}
