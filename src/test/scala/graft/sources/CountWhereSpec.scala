package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Metadata-priced exact range counts: fully-contained files answer
  * from the stats sidecar's n_rows/n_null, only band-straddling
  * files are scanned, and exactness never depends on stats
  * freshness (fallback = scan-count the band-admitted files). */
class CountWhereSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"cw_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("countWhere: exact under nulls, scans only straddlers, " +
      "zero scans when every file is contained, flavor-gated") {
    val url = fresh("long")
    val rows = (1L to 1000L).map(i =>
      (i, if (i % 53 == 0) None else Some(i))).toDF("id", "x")
    Snapshots.create(spark, url, rows, nFiles = 10,
      clusterBy = Some("x"))
    Snapshots.indexStats(spark, url, Seq("x"))
    val total = Snapshots
      .snap(spark, url, Snapshots.latest(spark, url)).files.size
    // interior range: exact count, strict scan subset
    val expect = (200L to 700L).count(_ % 53 != 0).toLong
    val (n, scanned) = Snapshots.countWhere(spark, url, "x", 200L, 700L)
    assert(n == expect)
    assert(scanned > 0 && scanned < total,
      s"scanned $scanned/$total — interior files should be metadata")
    // a range containing every value needs ZERO file opens
    val (all, s0) = Snapshots.countWhere(spark, url, "x", 0L, 2000L)
    assert(all == (1L to 1000L).count(_ % 53 != 0).toLong)
    assert(s0 == 0, s"full-cover range scanned $s0 files")
    // a disjoint range is zero without opening anything
    assert(Snapshots.countWhere(spark, url, "x", 5000L, 9999L) ==
      ((0L, 0)))
    // flavor gate
    intercept[IllegalArgumentException] {
      Snapshots.countWhere(spark, url, "x", "a", "b")
    }
  }

  test("countWhere without a stats sidecar degrades to an exact " +
      "scan-count; string flavor counts by prefix bands") {
    val url = fresh("nostats")
    Snapshots.create(spark, url,
      (1L to 300L).map(i => (i, i)).toDF("id", "x"), nFiles = 4)
    val (n, scanned) = Snapshots.countWhere(spark, url, "x", 50L, 120L)
    assert(n == 71L && scanned == 4, "no sidecar: scan everything")
    // string store
    val surl = fresh("str")
    val srows = ('a' to 'j').flatMap(c =>
      (1 to 30).map(i => (f"$c$i%02d", i.toLong))).toDF("k", "v")
    Snapshots.create(spark, surl, srows, nFiles = 5,
      clusterBy = Some("k"))
    Snapshots.indexStats(spark, surl, Seq("k"))
    val totalS = Snapshots
      .snap(spark, surl, Snapshots.latest(spark, surl)).files.size
    val (ns, ss) = Snapshots.countWhere(spark, surl, "k", "c", "e~")
    assert(ns == 90L) // all of c, d, e
    assert(ss < totalS, s"string count scanned $ss/$totalS")
    intercept[IllegalArgumentException] {
      Snapshots.countWhere(spark, surl, "k", 1L, 2L)
    }
    // stats lag: new files without stats rows are scanned, count exact
    Snapshots.append(spark, surl,
      Seq(("c99", 99L)).toDF("k", "v"), nFiles = 1)
    val (n2, s2) = Snapshots.countWhere(spark, surl, "k", "c", "e~")
    assert(n2 == 91L && s2 >= 1)
  }

  test("aggWhere: exact count/sum/min/max under nulls, metadata for " +
      "contained files, scan fallback without a sidecar, type-gated") {
    val url = fresh("agg")
    val rows = (1L to 1000L).map(i =>
      (i, if (i % 53 == 0) None else Some(i))).toDF("id", "x")
    Snapshots.create(spark, url, rows, nFiles = 10,
      clusterBy = Some("x"))
    Snapshots.indexStats(spark, url, Seq("x"))
    val total = Snapshots
      .snap(spark, url, Snapshots.latest(spark, url)).files.size
    val in = (200L to 700L).filter(_ % 53 != 0)
    val r = Snapshots.aggWhere(spark, url, "x", 200L, 700L)
    assert(r.count == in.size.toLong)
    assert(r.sum == BigDecimal(in.sum))
    assert(r.min.contains(in.min) && r.max.contains(in.max))
    assert(r.filesScanned > 0 && r.filesScanned < total,
      s"scanned ${r.filesScanned}/$total")
    // full-cover range: pure metadata, zero file opens
    val all = (1L to 1000L).filter(_ % 53 != 0)
    val rAll = Snapshots.aggWhere(spark, url, "x", 0L, 2000L)
    assert(rAll == Snapshots.RangeAgg(all.size.toLong,
      BigDecimal(all.sum), Some(all.min), Some(all.max), 0))
    // empty range: zero aggregates, no min/max
    assert(Snapshots.aggWhere(spark, url, "x", 5000L, 9999L) ==
      Snapshots.RangeAgg(0L, BigDecimal(0), None, None, 0))
    // no sidecar: degrades to an exact scan-agg
    val url2 = fresh("agg_nostats")
    Snapshots.create(spark, url2,
      (1L to 100L).map(i => (i, i)).toDF("id", "x"), nFiles = 4)
    val r2 = Snapshots.aggWhere(spark, url2, "x", 10L, 20L)
    assert(r2.count == 11L && r2.sum == BigDecimal((10L to 20L).sum)
      && r2.min.contains(10L) && r2.max.contains(20L)
      && r2.filesScanned == 4)
    // string fields refuse the numeric aggregate loudly
    val surl = fresh("agg_str")
    Snapshots.create(spark, surl, Seq(("a", 1L)).toDF("k", "v"),
      nFiles = 1)
    intercept[IllegalArgumentException] {
      Snapshots.aggWhere(spark, surl, "k", 1L, 2L)
    }
    // stats lag: an unindexed append is scanned, result stays exact
    Snapshots.append(spark, url,
      Seq((2000L, Some(250L))).toDF("id", "x"), nFiles = 1)
    val r3 = Snapshots.aggWhere(spark, url, "x", 200L, 700L)
    assert(r3.count == in.size + 1L &&
      r3.sum == BigDecimal(in.sum + 250L) && r3.filesScanned >= 1)
  }

  test("rowCountMeta: footer-priced COUNT(*) stays exact across " +
      "append, MoR delete (shared vector), purge and time travel") {
    val url = scratch(
      s"rowcount/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1L to 100L).map(i => (i, i)).toDF("id", "v"), nFiles = 4)
    assert(Snapshots.rowCountMeta(spark, url) == 100L)
    Snapshots.append(spark, url,
      (101L to 120L).map(i => (i, i)).toDF("id", "v"), nFiles = 2)
    assert(Snapshots.rowCountMeta(spark, url) == 120L)
    // MoR delete: one vector shared by several entries
    Snapshots.deleteWhereMor(spark, url, "id", 10L, 40L)
    assert(Snapshots.rowCountMeta(spark, url) ==
      Snapshots.read(spark, url).count())
    assert(Snapshots.rowCountMeta(spark, url) == 89L)
    // time travel: pre-delete versions keep their counts
    assert(Snapshots.rowCountMeta(spark, url, version = 2) == 120L)
    // purge folds the vectors; counts unchanged
    Snapshots.purgeDv(spark, url)
    assert(Snapshots.rowCountMeta(spark, url) == 89L)
  }
}
