package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom file index: skip-proof, superset guarantee, empty-admit
  * path, and multi-field sidecars. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def store(tag: String): (String, String) = {
    val data = scratch(s"bloom_${tag}_data")
    val idx = scratch(s"bloom_${tag}_idx")
    // 8 files keyed so each id lands in a known bucket
    (1 to 800).map(i => (i.toLong, s"u${i % 97}", i % 8))
      .toDF("id", "user", "bucket")
      .repartition(8, col("bucket"))
      .write.mode("overwrite").parquet(data)
    RowGroupIndex.buildBloom(spark, data, Seq("id", "user"), idx,
      expectedPerFile = 1000L)
    (data, idx)
  }

  test("bloom probe skips files and keeps results exact") {
    val (data, idx) = store("basic")
    // hash-partitioning 8 buckets into 8 tasks leaves some empty
    // (collisions) — several non-empty files is what matters
    val total = Materialize.listParquetFiles(spark, data).length
    assert(total >= 4, s"fixture too small: $total files")
    val sel = RowGroupIndex.bloomSelectedFiles(spark, data, idx,
      "id", Seq(5L, 13L))
    // two ids live in at most 2 buckets; fpp may admit a few more,
    // but at fpp 1% over 8 files skipping must actually happen
    assert(sel.nonEmpty && sel.length < total,
      s"no skip: ${sel.length}/$total")
    val got = RowGroupIndex.readBloomSelected(spark, data, idx,
        "id", Seq(5L, 13L))
      .filter(col("id").isin(5L, 13L))
      .select("id", "user").as[(Long, String)].collect().toSet
    assert(got == Set((5L, "u5"), (13L, "u13")))
  }

  test("absent probe values admit (almost) nothing, read stays sane") {
    val (data, idx) = store("absent")
    val got = RowGroupIndex.readBloomSelected(spark, data, idx,
        "id", Seq(99999L))
      .filter(col("id") === 99999L)
    assert(got.count() == 0L)
    // schema survives even when zero files are admitted
    assert(got.columns.toSeq == Seq("id", "user", "bucket"))
  }

  test("second indexed field probes independently") {
    val (data, idx) = store("multi")
    // u13 appears for ids 13, 110, 207, ... across many buckets
    val sel = RowGroupIndex.bloomSelectedFiles(spark, data, idx,
      "user", Seq("u13"))
    assert(sel.nonEmpty)
    val got = RowGroupIndex.readBloomSelected(spark, data, idx,
        "user", Seq("u13"))
      .filter(col("user") === "u13")
    val expect = spark.read.parquet(data).filter(col("user") === "u13")
    assert(got.count() == expect.count() && got.count() > 0L)
  }

  test("updateBloom indexes only new files and prunes vanished ones") {
    val data = scratch("bloom_upd_data")
    val idx = scratch("bloom_upd_idx")
    (1 to 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
      .repartition(4, col("bucket"))
      .write.mode("overwrite").parquet(data)
    RowGroupIndex.buildBloom(spark, data, Seq("id"), idx, 1000L)
    val before = spark.read.parquet(idx)
      .select("file").as[String].collect().toSet
    // append a new file carrying fresh keys
    Seq((9001L, 9)).toDF("id", "bucket")
      .coalesce(1).write.mode("append").parquet(data)
    RowGroupIndex.updateBloom(spark, data, Seq("id"), idx, 1000L)
    val after = spark.read.parquet(idx)
      .select("file").as[String].collect().toSet
    assert(before.subsetOf(after) && after.size == before.size + 1,
      s"expected exactly one fresh entry: ${after.size} vs ${before.size}")
    // the fresh key probes through the updated sidecar
    val got = RowGroupIndex.readBloomSelected(spark, data, idx,
        "id", Seq(9001L))
      .filter(col("id") === 9001L)
    assert(got.count() == 1L)
    // compaction: rewrite the store to one file; the refresh blooms
    // the survivor. Vanished-file rows may LINGER until the
    // generation fold (the r20 delta-sidecar contract — they are
    // harmless: probing always intersects the live listing) but
    // probes stay exact immediately
    val all = spark.read.parquet(data)
    val tmp = scratch("bloom_upd_tmp")
    all.coalesce(1).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).coalesce(1)
      .write.mode("overwrite").parquet(data)
    RowGroupIndex.updateBloom(spark, data, Seq("id"), idx, 1000L)
    assert(RowGroupIndex.readBloomSelected(spark, data, idx, "id",
      Seq(42L)).filter(col("id") === 42L).count() == 1L)
    // drive the generation fold (one append+refresh per epoch past
    // the part bound): the fold drops every vanished file's rows
    (1 to SidecarDelta.MaxParts + 1).foreach { e =>
      Seq((20000L + e, e)).toDF("id", "bucket")
        .coalesce(1).write.mode("append").parquet(data)
      RowGroupIndex.updateBloom(spark, data, Seq("id"), idx, 1000L)
    }
    val live = Materialize.listParquetFiles(spark, data).map(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val files = spark.read.parquet(idx).select("file")
      .as[String].collect().toSet
    assert(files.map(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath) == live,
      s"fold left stale entries or lost coverage: $files vs $live")
    assert(RowGroupIndex.readBloomSelected(spark, data, idx, "id",
      Seq(42L)).filter(col("id") === 42L).count() == 1L)
  }

  test("updateBloom: an all-null field reaches steady state (marker " +
      "rows, no duplicate sidecar entries)") {
    val data = scratch("bloom_null_data")
    val idx = scratch("bloom_null_idx")
    // file whose `user` column is ENTIRELY null: without marker rows
    // it would emit no (user, file) sidecar entry and be re-scanned
    // (and re-duplicated for `id`) on every refresh
    Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "user").coalesce(1)
      .write.mode("overwrite").parquet(data)
    Seq((3L, Option("u3"))).toDF("id", "user").coalesce(1)
      .write.mode("append").parquet(data)
    RowGroupIndex.buildBloom(spark, data, Seq("id", "user"), idx, 100L)
    val nFiles = Materialize.listParquetFiles(spark, data).length
    def pairs() = spark.read.parquet(idx)
      .select("field", "file").as[(String, String)].collect().toSeq
    // full coverage: one row per (field, file), including the
    // all-null (user, file) pair
    assert(pairs().length == 2 * nFiles, s"coverage: ${pairs()}")
    assert(pairs().distinct.length == pairs().length)
    // repeated refreshes are no-ops: no growth, no duplicates
    RowGroupIndex.updateBloom(spark, data, Seq("id", "user"), idx, 100L)
    RowGroupIndex.updateBloom(spark, data, Seq("id", "user"), idx, 100L)
    assert(pairs().length == 2 * nFiles,
      s"sidecar grew across refreshes: ${pairs()}")
    assert(pairs().distinct.length == pairs().length,
      s"duplicate (field, file) rows: ${pairs()}")
    // the empty bloom admits nothing for the all-null file, and
    // results stay exact for the real one
    val got = RowGroupIndex.readBloomSelected(spark, data, idx,
        "user", Seq("u3"))
      .filter(col("user") === "u3")
    assert(got.count() == 1L)
  }

  test("updateBloom refuses a changed field set; missing idx builds") {
    val data = scratch("bloom_upd2_data")
    val idx = scratch("bloom_upd2_idx")
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(data)
    // no index yet -> full build fallback
    RowGroupIndex.updateBloom(spark, data, Seq("id"), idx, 100L)
    assert(spark.read.parquet(idx).count() >= 1L)
    intercept[IllegalArgumentException] {
      RowGroupIndex.updateBloom(spark, data, Seq("s"), idx, 100L)
    }
  }

  test("index reads refuse a Snapshots store: its root still holds " +
      "the upserted key's dead version") {
    val url = scratch(
      s"bloom_snap_data/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "payload"),
      nFiles = 4, clusterBy = Some("id"))
    Snapshots.indexBloom(spark, url, Seq("id"), expectedPerFile = 1000L)
    Snapshots.upsert(spark, url,
      Seq((42L, "NEW")).toDF("id", "payload"), "id")
    Snapshots.refreshSidecars(spark, url)
    val idx = Snapshots.bloomSidecarUrl(spark, url)
    intercept[IllegalArgumentException] {
      RowGroupIndex.readBloomSelected(spark, url, idx, "id", Seq(42L))
    }
    intercept[IllegalArgumentException] {
      RowGroupIndex.readSelected(spark, url, idx,
        RowGroupIndex.ValueIn("id", Seq(42L)))
    }
    // the manifest-resolved index read serves the head value only
    val got = GraftRead.reader(spark, url)
      .bloomIndex(idx, "id", Seq(42L)).load()
      .filter(col("id") === 42L)
      .select("payload").as[String].collect().toSeq
    assert(got == Seq("NEW"))
  }

  test("sidecar is file-count-sized per field") {
    val (data, idx) = store("size")
    val n = spark.read.parquet(idx)
      .groupBy("field").count().as[(String, Long)].collect().toMap
    assert(n("id") <= 8L && n("user") <= 8L)
  }
}
