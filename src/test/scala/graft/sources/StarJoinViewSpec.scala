package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Star-schema join view: `fact ⋈ dim₁ ⋈ dim₂` maintained from
  * three CDC feeds, refresh equals the full re-join; string join
  * keys prune the dim-driven fact probe; pre-star meta sidecars
  * still read. */
class StarJoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"sjv_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  private def full(factUrl: String, dims: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame =
    dims.foldLeft(Snapshots.read(spark, factUrl)) {
      case (acc, (u, jk)) =>
        acc.join(Snapshots.read(spark, u), Seq(jk), "inner") }

  test("two-dim star refresh equals the full re-join across " +
      "insert/update/delete on fact and BOTH dims") {
    val factUrl = fresh("fact"); val d1Url = fresh("d1")
    val d2Url = fresh("d2"); val viewUrl = fresh("view")
    val fact = (1L to 60L).map(i => (i, i % 6, i % 4, i * 10))
      .toDF("ok", "ck", "pk", "amt")
    val dim1 = (0L to 5L).map(k => (k, s"seg$k")).toDF("ck", "seg")
    val dim2 = (0L to 3L).map(k => (k, s"cat$k")).toDF("pk", "cat")
    Snapshots.create(spark, factUrl, fact, nFiles = 3)
    Snapshots.create(spark, d1Url, dim1, nFiles = 1)
    Snapshots.create(spark, d2Url, dim2, nFiles = 1)
    val dims = Seq((d1Url, "ck"), (d2Url, "pk"))
    JoinView.initStar(spark, viewUrl, factUrl, dims, "ok")
    def got() = JoinView.read(spark, viewUrl)
      .select(col("ok"), col("ck"), col("pk"), col("amt"),
        col("seg"), col("cat"))
      .as[(Long, Long, Long, Long, String, String)].collect().toSet
    def expect() = full(factUrl, dims)
      .select(col("ok"), col("ck"), col("pk"), col("amt"),
        col("seg"), col("cat"))
      .as[(Long, Long, Long, Long, String, String)].collect().toSet
    assert(got() == expect() && got().size == 60)
    // fact: update ok=1, delete ok=2, insert ok=100 (valid dims),
    // insert ok=101 dangling on dim2's key (must not appear)
    Snapshots.upsert(spark, factUrl, Seq(
      (1L, 1L, 1L, 111L, false), (2L, 2L, 2L, 0L, true),
      (100L, 3L, 3L, 1000L, false), (101L, 3L, 99L, 1010L, false))
      .toDF("ok", "ck", "pk", "amt", "del"), "ok",
      deleteCol = Some("del"))
    // dim1: update ck=4's segment, delete ck=5 (retracts its facts)
    Snapshots.upsert(spark, d1Url, Seq(
      (4L, "SEG4", false), (5L, "x", true))
      .toDF("ck", "seg", "del"), "ck", deleteCol = Some("del"))
    // dim2: update pk=0's category
    Snapshots.upsert(spark, d2Url,
      Seq((0L, "CAT0")).toDF("pk", "cat"), "pk")
    JoinView.refreshStar(spark, viewUrl, factUrl,
      Seq(d1Url, d2Url))
    assert(got() == expect())
    // the retractions really happened (ck=5 held 10 facts, ok=2 gone)
    assert(got().forall(r => r._2 != 5L && r._1 != 2L))
    assert(got().exists(r => r._1 == 100L && r._6 == "cat3"))
    assert(!got().exists(_._1 == 101L))
    // a second dim-only round on the OTHER dim composes
    Snapshots.upsert(spark, d2Url,
      Seq((2L, "CAT2")).toDF("pk", "cat"), "pk")
    JoinView.refreshStar(spark, viewUrl, factUrl, Seq(d1Url, d2Url))
    assert(got() == expect())
    // no-op refresh commits nothing
    val v = Snapshots.latest(spark, viewUrl)
    assert(JoinView.refreshStar(spark, viewUrl, factUrl,
      Seq(d1Url, d2Url)) == v)
  }

  test("string join key: the dim-driven fact probe prunes by " +
      "prefix bands and refresh matches the full re-join") {
    val factUrl = fresh("str_f"); val dimUrl = fresh("str_d")
    val viewUrl = fresh("str_v")
    val fact = (1L to 400L).map(i => (i, f"user_${i % 40}%02d", i))
      .toDF("ok", "uid", "amt")
    val dim = (0L to 39L).map(k => (f"user_$k%02d", s"tier$k"))
      .toDF("uid", "tier")
    Snapshots.create(spark, factUrl, fact, nFiles = 8)
    Snapshots.cluster(spark, factUrl, "uid", nFiles = 8)
    Snapshots.indexStats(spark, factUrl, Seq("uid"))
    Snapshots.create(spark, dimUrl, dim, nFiles = 1)
    JoinView.init(spark, viewUrl, factUrl, dimUrl, "ok", "uid")
    // the probe for one changed STRING key opens a strict subset —
    // before string bands this fell back to the full fact scan
    val fv = Snapshots.latest(spark, factUrl)
    val total = Snapshots.snap(spark, factUrl, fv).files.length
    val pruned = Snapshots.prunedFilesForKeys(spark, factUrl, fv,
      "uid", Seq("user_07"))
    assert(pruned.nonEmpty && pruned.length < total,
      s"expected a strict subset, got ${pruned.length}/$total")
    Snapshots.upsert(spark, dimUrl,
      Seq(("user_07", "CHANGED")).toDF("uid", "tier"), "uid")
    JoinView.refresh(spark, viewUrl, factUrl, dimUrl)
    val expect = full(factUrl, Seq((dimUrl, "uid")))
      .select(col("ok"), col("uid"), col("amt"), col("tier"))
      .as[(Long, String, Long, String)].collect().toSet
    val got = JoinView.read(spark, viewUrl)
      .select(col("ok"), col("uid"), col("amt"), col("tier"))
      .as[(Long, String, Long, String)].collect().toSet
    assert(got == expect)
    assert(got.count(_._4 == "CHANGED") == 10)
  }

  test("pre-star meta sidecars (singular joinKey/dimV) still read " +
      "and refresh") {
    val factUrl = fresh("leg_f"); val dimUrl = fresh("leg_d")
    val viewUrl = fresh("leg_v")
    Snapshots.create(spark, factUrl,
      Seq((1L, 10L, 1L)).toDF("ok", "ck", "amt"), nFiles = 1)
    Snapshots.create(spark, dimUrl,
      Seq((10L, "a")).toDF("ck", "seg"), nFiles = 1)
    JoinView.init(spark, viewUrl, factUrl, dimUrl, "ok", "ck")
    // rewrite the sidecar in the pre-star format
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(viewUrl), "_joinview.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      """{"factKey":"ok","joinKey":"ck","factV":1,"dimV":1}"""
        .getBytes("UTF-8"))
    finally out.close()
    val m = JoinView.meta(spark, viewUrl)
    assert(m.joinKeys == Seq("ck") && m.dimVs == Seq(1))
    Snapshots.upsert(spark, factUrl,
      Seq((2L, 10L, 2L)).toDF("ok", "ck", "amt"), "ok")
    JoinView.refresh(spark, viewUrl, factUrl, dimUrl)
    assert(JoinView.read(spark, viewUrl).count() == 2L)
    // and the refreshed meta is in the star format now
    assert(SidecarJson.slurp(fs, p).contains("\"joinKeys\""))
  }

  test("initStar refuses column collisions across dims and " +
      "duplicate join keys") {
    val factUrl = fresh("col_f"); val d1 = fresh("col_d1")
    val d2 = fresh("col_d2")
    Snapshots.create(spark, factUrl,
      Seq((1L, 10L, 20L)).toDF("ok", "ck", "pk"), nFiles = 1)
    Snapshots.create(spark, d1,
      Seq((10L, "a")).toDF("ck", "name"), nFiles = 1)
    Snapshots.create(spark, d2,
      Seq((20L, "b")).toDF("pk", "name"), nFiles = 1)
    intercept[IllegalArgumentException] {
      JoinView.initStar(spark, fresh("col_v"), factUrl,
        Seq((d1, "ck"), (d2, "pk")), "ok")
    }
    intercept[IllegalArgumentException] {
      JoinView.initStar(spark, fresh("col_v2"), factUrl,
        Seq((d1, "ck"), (d1, "ck")), "ok")
    }
    // a dim carrying ANOTHER dim's join key as payload would make
    // the later join ambiguous — refused up front
    val d3 = fresh("col_d3")
    Snapshots.create(spark, d3,
      Seq((10L, 20L)).toDF("ck", "pk"), nFiles = 1)
    intercept[IllegalArgumentException] {
      JoinView.initStar(spark, fresh("col_v3"), factUrl,
        Seq((d3, "ck"), (d2, "pk")), "ok")
    }
  }
}
