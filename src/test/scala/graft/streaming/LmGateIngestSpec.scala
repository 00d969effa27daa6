package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.TextAnalysis
import graft.sources.Snapshots

/** lmGateIngest: static-LM gating per micro-batch, one keyed commit
  * per batch, replay idempotence incl. the changed-admissions and
  * empty-replay edges, and the refusal of a pre-manifest layout.
  */
class LmGateIngestSpec extends SparkSpec {
  import spark.implicits._

  // LM corpus: "a b" dominates (kept bigram), everything else backs off
  private val lmCorpus = Seq(
    (1L, "a b a b a b"), (2L, "a b c d")).toDF("doc_id", "text")
  private def lm = TextAnalysis.lmTables(lmCorpus, "text", minCount = 2L)

  private def land(dir: java.io.File, name: String, modTime: Long,
      rows: Seq[(Long, String)]): Unit = {
    val tmp = scratch("lmg-tmp-" + name)
    rows.toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    assert(dst.setLastModified(modTime))
  }

  private def ops(url: String): Seq[String] =
    Snapshots.history(spark, url).orderBy($"version").select($"op")
      .as[String].collect().toSeq

  test("multi-batch gate: admitted docs land per-batch and equal " +
      "the batch scoring; below-threshold docs are dropped") {
    val root = scratch("lmg-" + java.util.UUID.randomUUID().toString.take(8))
    val srcDir = new java.io.File(s"$root/src"); srcDir.mkdirs()
    val t0 = System.currentTimeMillis() - 60000
    // doc 10 "a b a b": p(a b)=4/4, p(b a)=2/4 (both bigrams kept)
    // → mean (2·1000000 + 500000) div 3 = 833333; "x y z" backs off to 0
    land(srcDir, "a.parquet", t0, Seq((10L, "a b a b"), (11L, "x y z")))
    land(srcDir, "b.parquet", t0 + 5000, Seq((20L, "a b")))
    val (uni, bi) = lm
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(srcDir.getAbsolutePath)
    val q = GraftStream.lmGateIngest(src, "doc_id", "text", uni, bi,
        minMeanPpm = 500000L, s"$root/out", streamId = "run1")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = Snapshots.read(spark, s"$root/out")
      .select($"doc_id", $"text", $"mean_ppm")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((10L, "a b a b", 833333L), (20L, "a b", 1000000L)))
    assert(ops(s"$root/out") ==
      Seq("create", "append:run1_b0", "append:run1_b1"))
  }

  test("replay idempotence: same batch twice = one copy; a changed " +
      "replay of a committed batch is a no-op") {
    val root = scratch("lmg-" + java.util.UUID.randomUUID().toString.take(8))
    val (uni, bi) = lm
    val b0 = Seq((1L, "a b a b")).toDF("doc_id", "text")
    GraftStream.lmGateBatch(b0, 0L, "doc_id", "text", uni, bi,
      500000L, s"$root/out", "run1")
    GraftStream.lmGateBatch(b0, 0L, "doc_id", "text", uni, bi,
      500000L, s"$root/out", "run1")
    assert(Snapshots.read(spark, s"$root/out").count() == 1L)
    // replay of batch 0 that now admits nothing: the first committed
    // attempt wins
    GraftStream.lmGateBatch(
      Seq((1L, "x y")).toDF("doc_id", "text"), 0L, "doc_id", "text",
      uni, bi, 500000L, s"$root/out", "run1")
    assert(Snapshots.read(spark, s"$root/out").select($"doc_id")
      .as[Long].collect().toSeq == Seq(1L))
    assert(ops(s"$root/out") == Seq("create", "append:run1_b0"))
  }

  test("empty replay on a store that does not exist yet is a no-op") {
    val root = scratch("lmg-" + java.util.UUID.randomUUID().toString.take(8))
    val (uni, bi) = lm
    GraftStream.lmGateBatch(
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text"),
      0L, "doc_id", "text", uni, bi, 500000L, s"$root/out", "run1")
    assert(!new java.io.File(s"$root/out").exists())
  }

  test("a target holding the old ingest_key= layout is refused and " +
      "left byte-untouched") {
    val root = scratch("lmg-" + java.util.UUID.randomUUID().toString.take(8))
    val url = s"$root/out"
    Seq((1L, "a b", 1L, 0L, 1000000L))
      .toDF("doc_id", "text", "n_trans", "score_sum", "mean_ppm")
      .withColumn("ingest_key", lit("run1_b0"))
      .write.partitionBy("ingest_key").parquet(url)
    def files(): Map[String, Seq[Byte]] = {
      val rootPath = java.nio.file.Paths.get(url)
      val walk = java.nio.file.Files.walk(rootPath)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => rootPath.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = files()
    val (uni, bi) = lm
    val e = intercept[IllegalArgumentException] {
      GraftStream.lmGateBatch(Seq((2L, "a b a b")).toDF("doc_id", "text"),
        1L, "doc_id", "text", uni, bi, 500000L, url, "run1")
    }
    assert(e.getMessage.contains("no _snap manifest"))
    assert(files() == before)
  }
}
