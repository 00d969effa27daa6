package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[ParquetRead]] is `spark.read.parquet` without the schema-
  * inference job: the same schema on every store-internal layout
  * (sidecars, deletion vectors, data files), plain inference — the
  * same schema or the same error — wherever the one-footer answer
  * could differ, and the job counts of the CDC operations that read
  * through it. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = scratch(
    s"parquet_read/$tag-${java.util.UUID.randomUUID().toString.take(8)}")

  /** The one parquet part of `df` written alone, as a local file. */
  private def onePart(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
    val dir = fresh("part")
    df.coalesce(1).write.parquet(dir)
    Materialize.listParquetFiles(spark, dir).map(f => Paths.get(new Path(f).toUri))
      .head
  }

  /** The helper's schema is inference's, and building it runs no job. */
  private def sameAsInferred(paths: Seq[String]): org.apache.spark.sql.types.StructType = {
    val inferred = spark.read.parquet(paths: _*).schema
    var got: org.apache.spark.sql.types.StructType = null
    val jobs = jobsDuring { got = ParquetRead(spark, paths).schema }
    assert(got == inferred, s"$paths")
    assert(jobs == 0, s"$paths planned $jobs jobs")
    got
  }

  /** No footer answer: the helper infers, with the same schema or
    * the same error as `spark.read.parquet`. */
  private def fallsBack(path: String): Unit = {
    assert(ParquetRead.footerSchema(spark, Seq(path), Map.empty,
      spark.sessionState.newHadoopConf()).isEmpty, path)
    val inferred = scala.util.Try(spark.read.parquet(path).schema)
    val got = scala.util.Try(ParquetRead(spark, path).schema)
    assert(got.map(Right(_)).recover { case e => Left(e.getMessage) } ==
      inferred.map(Right(_)).recover { case e => Left(e.getMessage) }, path)
  }

  test("sidecars, deletion vectors and data files read under " +
      "inference's schema without a Spark job") {
    val url = fresh("store")
    Snapshots.create(spark, url, (0L until 40L).map(i => (i, i * 10L, s"s$i"))
      .toDF("id", "v", "s"), nFiles = 4, clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id", "s"))
    Snapshots.indexBloom(spark, url, Seq("id"))
    sameAsInferred(Seq(Snapshots.bloomSidecarUrl(spark, url)))

    // a stats sidecar whose parts mix the legacy row shape (no string
    // bands, row counts or sums) with the current one: the first
    // footer in path order wins, whichever shape it is
    val stats = Paths.get(url, "_stats", "filestats")
    val current = sameAsInferred(Seq(stats.toString))
    val legacy = onePart(Seq(("id", "f.parquet", 0L, 1L, 0L))
      .toDF("field", "file", "min_v", "max_v", "n_null"))
    Seq("part-0.parquet", "part-99999.parquet").foreach { name =>
      val part = stats.resolve(name)
      Files.copy(legacy, part, StandardCopyOption.REPLACE_EXISTING)
      val got = sameAsInferred(Seq(stats.toString))
      // part-0.parquet sorts before the writer's part-00000-<uuid>
      if (name == "part-0.parquet")
        assert(got.fieldNames.toSeq == Seq("field", "file", "min_v", "max_v", "n_null"))
      else assert(got == current)
      Files.delete(part)
    }

    // a merge-on-read delete's deletion-vector file
    Snapshots.deleteWhereMor(spark, url, "id", 10L, 12L)
    val dvs = new java.io.File(url).listFiles().map(_.getName)
      .filter(n => n.startsWith("dv") && n.endsWith(".parquet"))
    assert(dvs.length == 1)
    sameAsInferred(Seq(s"$url/${dvs.head}"))

    // a plain multi-file data set, as a directory and as its files
    val plain = fresh("plain")
    spark.range(30).select($"id", ($"id" * 2).cast("int").as("x"))
      .repartition(3).write.parquet(plain)
    sameAsInferred(Seq(plain))
    sameAsInferred(Materialize.listParquetFiles(spark, plain))
  }

  test("a summary file, a k=v subdirectory and an empty directory " +
      "fall back to inference") {
    val summary = fresh("summary")
    spark.range(5).toDF("x").write.parquet(summary)
    Files.copy(onePart(Seq("a").toDF("y")), Paths.get(summary, "_common_metadata"))
    fallsBack(summary)
    assert(ParquetRead(spark, summary).schema.fieldNames.toSeq == Seq("y"))

    val parted = fresh("parted")
    spark.range(5).toDF("x").write.parquet(s"$parted/k=1")
    fallsBack(parted)
    assert(ParquetRead(spark, parted).schema.fieldNames.toSeq == Seq("x", "k"))

    val empty = fresh("empty")
    Files.createDirectories(Paths.get(empty))
    fallsBack(empty)
    assert(scala.util.Try(ParquetRead(spark, empty)).isFailure)
  }

  test("CDC operations run the pinned job counts") {
    val url = fresh("jobs")
    Snapshots.create(spark, url, (0L until 40L).map(i => (i, i * 10L))
      .toDF("id", "v"), nFiles = 4, clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id"))
    Snapshots.indexBloom(spark, url, Seq("id"))
    // one fresh file the stats sidecar already covers: two sidecar
    // reads, and the bloom scan and write
    Snapshots.append(spark, url, Seq((100L, 1000L)).toDF("id", "v"), nFiles = 1)
    Snapshots.indexStats(spark, url, Seq("id"))
    val bloomOnly = jobsDuring(Snapshots.refreshSidecars(spark, url))
    assert(bloomOnly <= 4, s"refreshSidecars ran $bloomOnly jobs")
    // one file fresh to both sidecars adds the stats scan and write
    Snapshots.append(spark, url, Seq((101L, 1010L)).toDF("id", "v"), nFiles = 1)
    val both = jobsDuring(Snapshots.refreshSidecars(spark, url))

    val read = jobsDuring(
      Snapshots.readWhere(spark, url, "id", 5L, 8L).agg(count(lit(1))).head())
    val upsert = jobsDuring(Snapshots.upsert(spark, url,
      Seq((5L, -5L, false), (6L, 0L, true), (200L, 2000L, false))
        .toDF("id", "v", "del"), "id", Some("del"),
      Some(Snapshots.bloomSidecarUrl(spark, url))))
    val vacuum = jobsDuring(Snapshots.vacuum(spark, url,
      Snapshots.latest(spark, url), graceMs = 0))
    // none of these is a schema-inference job: each sidecar,
    // deletion vector and data-file read plans from one footer
    assert((both, read, upsert, vacuum) == ((7, 3, 7, 5)),
      "refreshSidecars, readWhere, upsert, vacuum jobs")
  }
}
