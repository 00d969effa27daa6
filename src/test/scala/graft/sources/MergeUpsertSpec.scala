package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Keyed MERGE ([[Snapshots.upsert]]): replace/insert/delete
  * semantics, bloom-bounded file rewrites, and the guard rails. */
class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def store(tag: String, withBloom: Boolean): (String, Option[String]) = {
    val data = scratch(
      s"merge_${tag}_data/${java.util.UUID.randomUUID().toString.take(8)}")
    // clustered on id: 8 files, each a contiguous key band
    Snapshots.create(spark, data,
      (1 to 400).map(i => (i.toLong, s"v$i", i % 8))
        .toDF("id", "payload", "bucket"),
      nFiles = 8, clusterBy = Some("id"))
    val idx = if (withBloom) {
      Snapshots.indexBloom(spark, data, Seq("id"), expectedPerFile = 1000L)
      Some(Snapshots.bloomSidecarUrl(spark, data))
    } else None
    (data, idx)
  }

  private def files(data: String, v: Int): Set[String] =
    Snapshots.snap(spark, data, v).files.toSet

  test("merge replaces, inserts and deletes; result is exact") {
    val (data, idx) = store("sem", withBloom = true)
    val updates = Seq(
      (5L, "CHANGED", 5, false), (13L, "CHANGED", 5, false),
      (9001L, "NEW", 1, false),
      (7L, "", 7, true)) // tombstone
      .toDF("id", "payload", "bucket", "del")
    Snapshots.upsert(spark, data, updates, "id",
      bloomIndexUrl = idx, deleteCol = Some("del"))
    val got = Snapshots.read(spark, data)
    assert(got.count() == 400L - 1L + 1L)
    assert(got.filter(col("id") === 5L).select("payload")
      .as[String].head() == "CHANGED")
    assert(got.filter(col("id") === 9001L).count() == 1L)
    assert(got.filter(col("id") === 7L).count() == 0L)
    assert(got.filter(col("id") === 8L).select("payload")
      .as[String].head() == "v8") // untouched rows survive verbatim
  }

  test("bloom index bounds the rewrite to affected files") {
    val (data, idx) = store("bound", withBloom = true)
    val total = Materialize.listParquetFiles(spark, data).length
    val updates = Seq((5L, "X", 5, false)).toDF("id", "payload",
      "bucket", "del")
    val v2 = Snapshots.upsert(spark, data, updates, "id",
      bloomIndexUrl = idx, deleteCol = Some("del"))
    val all = files(data, 1).size
    // rewritten = the v1 files the new head no longer lists
    val rewritten = (files(data, 1) -- files(data, v2)).size
    assert(all == total)
    assert(rewritten < total, s"no skip: $rewritten/$total")
    assert(Snapshots.read(spark, data).count() == 400L)
  }


  test("stale bloom sidecar cannot cause duplicate keys: files the " +
      "sidecar never indexed are conservatively affected") {
    val (data, idx) = store("stale", withBloom = true)
    // land a NEW file AFTER the sidecar was built — key 9500 lives
    // only there, and the sidecar has no row for that file
    Snapshots.append(spark, data,
      Seq((9500L, "late", 3)).toDF("id", "payload", "bucket"),
      nFiles = 1)
    val updates = Seq((9500L, "MERGED", 3, false))
      .toDF("id", "payload", "bucket", "del")
    Snapshots.upsert(spark, data, updates, "id",
      bloomIndexUrl = idx, deleteCol = Some("del"))
    val hits = Snapshots.read(spark, data).filter(col("id") === 9500L)
      .select("payload").as[String].collect().toSeq
    // pre-guard this was Seq("late", "MERGED") — a duplicate key
    assert(hits == Seq("MERGED"))
  }

  test("without an index every file is rewritten — still exact") {
    val (data, _) = store("full", withBloom = false)
    val updates = Seq((1L, "Y", 1)).toDF("id", "payload", "bucket")
    val v2 = Snapshots.upsert(spark, data, updates, "id")
    val all = files(data, 1).size
    val rewritten = (files(data, 1) -- files(data, v2)).size
    assert(rewritten == all)
    val got = Snapshots.read(spark, data)
    assert(got.count() == 400L)
    assert(got.filter(col("id") === 1L).select("payload")
      .as[String].head() == "Y")
  }

  test("duplicate update keys are refused") {
    val (data, _) = store("dup", withBloom = false)
    val updates = Seq((1L, "a", 1), (1L, "b", 1))
      .toDF("id", "payload", "bucket")
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, data, updates, "id")
    }
  }

  test("schema drift in the update batch is refused") {
    val (data, _) = store("drift", withBloom = false)
    val updates = Seq((1L, "a")).toDF("id", "payload")
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, data, updates, "id")
    }
  }

  test("merge is idempotent on re-apply") {
    val (data, idx) = store("idem", withBloom = true)
    val updates = Seq((5L, "Z", 5, false)).toDF("id", "payload",
      "bucket", "del")
    Snapshots.upsert(spark, data, updates, "id", Some("del"), idx)
    Snapshots.upsert(spark, data, updates, "id",
      bloomIndexUrl = None, deleteCol = Some("del"))
    val got = Snapshots.read(spark, data)
    assert(got.count() == 400L)
    assert(got.filter(col("id") === 5L).count() == 1L)
  }

  test("a batch above maxKeys distinct keys is refused and commits " +
      "nothing") {
    val (data, _) = store("maxkeys", withBloom = false)
    val updates = Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3))
      .toDF("id", "payload", "bucket")
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, data, updates, "id", maxKeys = 2)
    }
    assert(Snapshots.latest(spark, data) == 1)
  }

  test("a null key in the update batch is refused and commits " +
      "nothing") {
    val (data, _) = store("nullkey", withBloom = false)
    val updates = Seq((Some(1L), "a", 1), (None, "b", 2))
      .toDF("id", "payload", "bucket")
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, data, updates, "id")
    }
    assert(Snapshots.latest(spark, data) == 1)
  }
}
