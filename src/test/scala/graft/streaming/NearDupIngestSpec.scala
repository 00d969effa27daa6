package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.Snapshots

/** nearDupIngest: cross-batch pairing against the persisted band
  * table, no intra-batch or self pairs, corpus accretion, restart
  * continuity, and the keyed-commit replay contract (first committed
  * attempt wins; a crashed publish rolls forward).
  */
class NearDupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "and then runs far away into the deep dark forest tonight"

  private def land(dir: java.io.File, name: String, modTime: Long,
      rows: Seq[(Long, String)]): Unit = {
    val tmp = scratch("ndi-tmp-" + name)
    rows.toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    assert(dst.setLastModified(modTime))
  }

  private def ingest(srcDir: String, root: String): Unit = {
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = GraftStream.nearDupIngest(src, "doc_id", "text",
        s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "run1")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  private def read(url: String): DataFrame = Snapshots.read(spark, url)

  private def ops(url: String): Seq[String] =
    Snapshots.history(spark, url).orderBy($"version").select($"op")
      .as[String].collect().toSeq

  /** Every row of the three stores plus their commit logs. */
  private def state(root: String): Seq[Any] =
    Seq("bands", "docs", "pairs").flatMap { store =>
      Seq(read(s"$root/$store").collect().map(_.toString).sorted.toSeq,
        ops(s"$root/$store"))
    }

  /** Hand-place the state a crash in the middle of the latest
    * publish (`key`) leaves: the intent journal naming every store's
    * staged files is open, the bands manifest committed, the docs and
    * pairs manifests not. */
  private def crashLatestPublish(root: String, key: String): Unit = {
    val urls = Seq("bands", "docs", "pairs").map(st => s"$root/$st")
    val staged = urls.map { u =>
      val v = Snapshots.latest(spark, u)
      u -> (Snapshots.snap(spark, u, v).files.toSet --
        Snapshots.snap(spark, u, v - 1).files).toSeq.sorted
    }
    val journal = s"""{"txn":"crashed0","key":"$key","parts":[""" +
      staged.map { case (u, fs) =>
        s"""{"url":"$u","files":[""" +
          fs.map("\"" + _ + "\"").mkString(",") + "]}"
      }.mkString(",") + "]}"
    urls.foreach { u =>
      val txn = new java.io.File(s"$u/_txn"); txn.mkdirs()
      java.nio.file.Files.write(new java.io.File(txn, "crashed0").toPath,
        journal.getBytes("UTF-8"))
    }
    urls.tail.foreach { u =>
      val v = Snapshots.latest(spark, u)
      new java.io.File(f"$u/_snap/v$v%08d.json").delete()
      new java.io.File(f"$u/_snap/.v$v%08d.json.crc").delete()
    }
  }

  test("batches pair only against earlier batches; corpus accretes") {
    val root = scratch("ndi-" + java.util.UUID.randomUUID().toString.take(8))
    val srcDir = new java.io.File(s"$root/src"); srcDir.mkdirs()
    val t0 = System.currentTimeMillis() - 60000
    // batch 1: two near-identical docs — must NOT pair (intra-batch)
    land(srcDir, "a.parquet", t0,
      Seq((1L, base), (2L, base + " extra")))
    // batch 2: near-dup of doc 1 + an unrelated doc
    land(srcDir, "b.parquet", t0 + 5000,
      Seq((10L, base + " indeed"),
        (11L, "completely different words about cooking pasta with " +
          "tomatoes basil garlic olive oil and fresh bread rolls")))
    ingest(srcDir.getAbsolutePath, root)

    val pairs = read(s"$root/pairs")
      .select("id_new", "id_corpus", "jaccard_ppm")
      .as[(Long, Long, Long)].collect().toSet
    // batch-2 doc 10 pairs with BOTH batch-1 docs (1 and 2); doc 11
    // with nothing; no intra-batch (1,2) pair
    assert(pairs.map(p => (p._1, p._2)) == Set((10L, 1L), (10L, 2L)))
    assert(pairs.forall(_._3 >= 500000L))
    // corpus now holds all four docs' bands and texts
    assert(read(s"$root/docs").count() == 4)
    assert(read(s"$root/bands").select("doc_id").distinct().count() == 4)
    // one keyed commit per epoch in every store
    Seq("bands", "docs", "pairs").foreach { store =>
      assert(ops(s"$root/$store") ==
        Seq("create", "txn-append:run1_b0", "txn-append:run1_b1"))
    }
  }

  test("a later run (restart) pairs against the persisted corpus") {
    val root = scratch("ndi2-" + java.util.UUID.randomUUID().toString.take(8))
    val src1 = new java.io.File(s"$root/src1"); src1.mkdirs()
    val t0 = System.currentTimeMillis() - 60000
    land(src1, "a.parquet", t0, Seq((1L, base)))
    ingest(src1.getAbsolutePath, s"$root/state")

    // fresh stream, fresh checkpoint — tomorrow's run
    val src2 = new java.io.File(s"$root/src2"); src2.mkdirs()
    land(src2, "b.parquet", t0 + 5000, Seq((20L, base + " anew")))
    val s2 = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(src2.getAbsolutePath)
    // fresh checkpoint restarts batch ids at 0 — the distinct
    // streamId keeps run-2 batch 0 from colliding with run-1 batch 0
    val q = GraftStream.nearDupIngest(s2, "doc_id", "text",
        s"$root/state/bands", s"$root/state/docs", s"$root/state/pairs",
        streamId = "run2")
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val pairs = read(s"$root/state/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(pairs == Set((20L, 1L)))
  }

  test("a replayed batch is idempotent: no self-pairs, no duplicated " +
      "corpus rows (r7 advice: retry after append, before checkpoint)") {
    val root = scratch("ndi3-" + java.util.UUID.randomUUID().toString.take(8))
    val b1 = Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
    val b2 = Seq((10L, base + " indeed"), (11L, base + " indeed also"))
      .toDF("doc_id", "text")
    def ingest(df: DataFrame, id: Long): Unit =
      GraftStream.ingestBatch(df, id, "doc_id", "text",
        s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "r")
    ingest(b1, 0)
    ingest(b2, 1)
    val firstPairs = read(s"$root/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    // batch-2 docs pair only with batch-1 corpus docs — never with
    // each other (10/11 are near-identical, so a self-corpus bug
    // WOULD pair them)
    assert(firstPairs.nonEmpty)
    assert(firstPairs.forall { case (n, c) =>
      Set(10L, 11L)(n) && Set(1L, 2L)(c) })
    val committed = state(root)
    // the retry: batch 2 replays AFTER its bands/docs/pairs landed —
    // its key is committed, so it is a no-op
    ingest(b2, 1)
    val replayPairs = read(s"$root/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSeq
    assert(replayPairs.toSet == firstPairs)
    assert(replayPairs.size == firstPairs.size)
    assert(read(s"$root/docs").count() == 4)
    assert(read(s"$root/bands")
      .groupBy("doc_id", "band_key").count()
      .filter($"count" > 1).isEmpty)
    assert(state(root) == committed)
    // replay with a stricter threshold (operator restarted with new
    // args): the first committed attempt wins, so the committed
    // pairs are unchanged
    GraftStream.ingestBatch(b2, 1, "doc_id", "text",
      s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "r",
      minJaccardPpm = 1000000L)
    assert(state(root) == committed)
  }

  test("an empty re-read of a committed batch leaves the stores " +
      "unchanged, and the next batch pairs only against the committed " +
      "corpus") {
    val root = scratch("ndi5-" + java.util.UUID.randomUUID().toString.take(8))
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    val b2 = Seq((10L, base + " indeed")).toDF("doc_id", "text")
    def ingest(df: DataFrame, id: Long): Unit =
      GraftStream.ingestBatch(df, id, "doc_id", "text",
        s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "r")
    ingest(b1, 0)
    ingest(b2, 1)
    val committed = state(root)
    // the replay re-reads batch 1 as EMPTY (retention expiry on a
    // non-replayable source): an empty epoch commits nothing
    ingest(b1.filter($"doc_id" < 0L), 1)
    assert(state(root) == committed)
    // the corpus is batches 0 and 1 as committed: a new doc pairs
    // with both, and with nothing else
    ingest(Seq((20L, base + " again")).toDF("doc_id", "text"), 2)
    val pairs = read(s"$root/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L), (20L, 1L), (20L, 10L)), s"$pairs")
  }

  test("partial-crash replay: bands landed, docs/pairs did not " +
      "(the r7 advice scenario) — no self-pairs, state converges") {
    val root = scratch("ndi4-" + java.util.UUID.randomUUID().toString.take(8))
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    val b2 = Seq((10L, base + " indeed"), (11L, base + " indeed also"))
      .toDF("doc_id", "text")
    def ingest(df: DataFrame, id: Long): Unit =
      GraftStream.ingestBatch(df, id, "doc_id", "text",
        s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "r")
    ingest(b1, 0)
    ingest(b2, 1)
    val faultFree = state(root)
    crashLatestPublish(root, "r_b1")
    assert(read(s"$root/docs").count() == 1)
    assert(Snapshots.pendingTxns(spark, s"$root/bands") == Seq("crashed0"))
    // the retry rolls the crashed publish forward and then finds its
    // key committed: it never pairs the batch against its own bands
    ingest(b2, 1)
    val pairs = read(s"$root/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (n, c) => Set(10L, 11L)(n) && c == 1L },
      s"self-pairs leaked through a partial-crash replay: $pairs")
    assert(read(s"$root/docs").count() == 3)
    assert(read(s"$root/bands")
      .groupBy("doc_id", "band_key").count()
      .filter($"count" > 1).isEmpty)
    assert(state(root) == faultFree)
    Seq("bands", "docs", "pairs").foreach { st =>
      assert(Snapshots.pendingTxns(spark, s"$root/$st").isEmpty)
    }
  }

  test("a batch after a crashed publish pairs against the " +
      "rolled-forward corpus") {
    val root = scratch("ndi6-" + java.util.UUID.randomUUID().toString.take(8))
    def ingest(df: DataFrame, id: Long): Unit =
      GraftStream.ingestBatch(df, id, "doc_id", "text",
        s"$root/bands", s"$root/docs", s"$root/pairs", streamId = "r")
    ingest(Seq((1L, base)).toDF("doc_id", "text"), 0)
    ingest(Seq((10L, base + " indeed")).toDF("doc_id", "text"), 1)
    crashLatestPublish(root, "r_b1")
    // batch 1's bands are visible but its docs are not until the
    // journal rolls forward: a corpus read before that would drop
    // the (20, 10) candidate at verification
    ingest(Seq((20L, base + " indeed again")).toDF("doc_id", "text"), 2)
    val pairs = read(s"$root/pairs")
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L), (20L, 1L), (20L, 10L)), s"$pairs")
    assert(read(s"$root/docs").count() == 3)
  }
}
