package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ReaderAsOfSpec extends SparkSpec {
  import spark.implicits._

  test("GraftRead resolves a Snapshots store through its manifest: " +
      "latest by default, asOf pinned, never the raw listing") {
    val url = scratch(
      s"rd_asof/${java.util.UUID.randomUUID().toString.take(8)}")
    val v1 = (1L to 30L).map(i => (i, i * 2)).toDF("id", "x")
    Snapshots.create(spark, url, v1, nFiles = 3)
    Snapshots.upsert(spark, url,
      Seq((1L, 99L), (31L, 1L)).toDF("id", "x"), "id")
    // the DIRECTORY now holds v1's originals AND v2's rewrites — a
    // raw listing would double-count; the reader must not
    val latest = GraftRead.reader(spark, url).load()
    assert(latest.count() == 31)
    assert(latest.filter(col("id") === 1L).select("x")
      .as[Long].head() == 99L)
    val pinned = GraftRead.reader(spark, url).asOf(1).load()
    assert(pinned.count() == 30)
    assert(pinned.filter(col("id") === 1L).select("x")
      .as[Long].head() == 2L)
    // composes with the rest of the builder chain
    val composed = GraftRead.reader(spark, url).asOf(1)
      .fields("x").predicate(col("x") > 40L).load()
    assert(composed.columns.toSeq == Seq("x"))
    assert(composed.count() == 10) // x = 42..60 even
    // a non-snapshot store refuses asOf with a clear message
    val plain = scratch(
      s"rd_asof/plain_${java.util.UUID.randomUUID().toString.take(8)}")
    v1.write.parquet(plain)
    val e = intercept[IllegalArgumentException] {
      GraftRead.reader(spark, plain).asOf(1).load()
    }
    assert(e.getMessage.contains("Snapshots store"))
  }

  test("reader.range() prunes a clustered snapshot store's file " +
      "list from the stats sidecar and stays exact; composes with " +
      "fields/predicate/asOf") {
    val url = scratch(
      s"rd_range/${java.util.UUID.randomUUID().toString.take(8)}")
    val v1 = (1L to 400L).map(i => (i, i % 7, i)).toDF("id", "g", "x")
    Snapshots.create(spark, url, v1, nFiles = 8)
    Snapshots.cluster(spark, url, "x", nFiles = 8)
    Snapshots.indexStats(spark, url, Seq("x"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val df = GraftRead.reader(spark, url).range("x", 10L, 60L).load()
    // fewer files in the scan than the store holds (prune proof via
    // the plan's file-source listing)
    val scanned = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned < total, s"scanned $scanned of $total files")
    assert(df.agg(sum("x")).as[Long].head() == (10L to 60L).sum)
    // exactness with STALE stats: mutate without refreshing
    Snapshots.upsert(spark, url,
      Seq((1000L, 0L, 30L)).toDF("id", "g", "x"), "id")
    val stale = GraftRead.reader(spark, url).range("x", 10L, 60L)
      .fields("x").load()
    assert(stale.columns.toSeq == Seq("x"))
    assert(stale.agg(sum("x")).as[Long].head() ==
      (10L to 60L).sum + 30L)
    // pinned version still reads the pre-mutation band
    val pinned = GraftRead.reader(spark, url).asOf(v)
      .range("x", 10L, 60L).load()
    assert(pinned.count() == 51)
    // chained ranges intersect (conjunction), still exact — the
    // upserted x=30 row falls outside [40,60] and must not appear
    val two = GraftRead.reader(spark, url)
      .range("x", 10L, 60L).range("x", 40L, 100L).load()
    assert(two.agg(sum("x")).as[Long].head() == (40L to 60L).sum)
    // a plain store refuses range() with a clear message
    val plain = scratch(
      s"rd_range/plain_${java.util.UUID.randomUUID().toString.take(8)}")
    v1.write.parquet(plain)
    val e = intercept[IllegalArgumentException] {
      GraftRead.reader(spark, plain).range("x", 1L, 2L).load()
    }
    assert(e.getMessage.contains("Snapshots store"))
  }

  test("reader.rangeStr() prunes by string prefix bands and stays " +
      "exact, composing with range() on another field") {
    val url = scratch(
      s"rd_rangestr/${java.util.UUID.randomUUID().toString.take(8)}")
    val rows = ('a' to 'z').flatMap(c =>
      (1 to 20).map(i => (f"${c}key_$i%02d", i.toLong)))
      .toDF("name", "v")
    Snapshots.create(spark, url, rows, nFiles = 8)
    Snapshots.cluster(spark, url, "name", nFiles = 8)
    Snapshots.indexStats(spark, url, Seq("name"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val df = GraftRead.reader(spark, url)
      .range("name", "c", "d").load()
    val scanned = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned < total, s"scanned $scanned of $total files")
    assert(df.count() == 20L &&
      df.agg(sum("v")).as[Long].head() == (1L to 20L).sum)
    // conjunction across the typed range flavors stays exact
    val both = GraftRead.reader(spark, url)
      .range("name", "c", "d").range("v", 5L, 7L).load()
    assert(both.agg(sum("v")).as[Long].head() == (5L to 7L).sum)
  }

  test("reader.range() on a timestamp field applies the range's own " +
      "cast(long) residual: the same rows as Snapshots.readWhere") {
    val url = scratch(
      s"rd_tsrange/${java.util.UUID.randomUUID().toString.take(8)}")
    val rows = (1L to 300L).map(i =>
      (i, new java.sql.Timestamp(1600000000000L + i * 1000L)))
    Snapshots.create(spark, url, rows.toDF("id", "event_ts"),
      nFiles = 5, clusterBy = Some("event_ts"))
    Snapshots.indexStats(spark, url, Seq("event_ts"))
    // the band domain of a timestamp is cast(long) SECONDS
    val lo = 1600000000L + 100L; val hi = 1600000000L + 150L
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted
    val viaStore = ids(Snapshots.readWhere(spark, url, "event_ts",
      lo, hi))
    assert(viaStore == (100L to 150L))
    assert(ids(GraftRead.reader(spark, url)
      .range("event_ts", lo, hi).load()) == viaStore)
  }

  test("versionAt/readAsOfTime resolve timestamp time travel from " +
      "manifest mtimes; pruneStats drops sidecar rows vacuum " +
      "orphaned") {
    val url = scratch(
      s"rd_time/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url, Seq((1L, "a")).toDF("id", "v"))
    Snapshots.overwrite(spark, url, Seq((2L, "b")).toDF("id", "v"))
    Snapshots.indexStats(spark, url, Seq("id"))
    // pin synthetic, deterministic mtimes on the manifests
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDir = new org.apache.hadoop.fs.Path(root, "_snap")
    fs.setTimes(new org.apache.hadoop.fs.Path(snapDir,
      "v00000001.json"), 1000L, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(snapDir,
      "v00000002.json"), 2000L, -1)
    assert(Snapshots.versionAt(spark, url, 1500L) == 1)
    assert(Snapshots.versionAt(spark, url, 2500L) == 2)
    assert(Snapshots.readAsOfTime(spark, url, 1500L)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    intercept[IllegalArgumentException] {
      Snapshots.versionAt(spark, url, 500L)
    }
    // vacuum to v2 retires v1's file; its stats rows go with it
    val dropped = {
      Snapshots.vacuum(spark, url, keepFrom = 2, graceMs = 0L)
      val sp = new org.apache.hadoop.fs.Path(url, "_stats/filestats")
      spark.read.parquet(sp.toString).select("file").as[String]
        .collect().toSet
    }
    assert(dropped == Snapshots.snap(spark, url, 2).files.toSet)
  }
}
