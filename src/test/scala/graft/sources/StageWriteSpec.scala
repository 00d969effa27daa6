package graft.sources

import java.io.{IOException, OutputStream}
import java.net.URI
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Local filesystem under the `failfs` scheme whose armed data-file
  * streams fail on close — the flush that writes a parquet file's row
  * group and footer — so a write task fails after its file exists. */
class FailingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    if (!FailingFs.armed.exists(f.getName.contains)) out
    else {
      FailingFs.created.add(f.getName)
      new OutputStream {
        override def write(b: Int): Unit = out.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          out.write(b, off, len)
        override def close(): Unit = {
          out.close()
          throw new IOException("injected write failure")
        }
      }
    }
  }
}

object FailingFs {
  /** Name fragment of the data files whose streams fail. */
  @volatile var armed: Option[String] = None
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The one writer of a Snapshots store's data files
  * ([[GraftWriteV2.stage]]): for every frame shape it stages exactly
  * the files `df.write.parquet` stages — the same count, footer
  * schema, key-value metadata (`org.apache.spark.sql.parquet.row
  * .metadata` included) and rows per file — so an empty frame still
  * leaves the one file a reader needs; a write task that fails drops
  * its partial file, the commit never happens, and vacuum collects
  * whatever the failed write's other tasks left. */
class StageWriteSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    s"stage_write/${java.util.UUID.randomUUID().toString.take(8)}"
  private def fresh(name: String): String =
    new java.io.File(scratch(s"$base/$name")).getAbsolutePath

  private val richSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("pt", StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("ys", ArrayType(DoubleType, containsNull = false))))),
    StructField("tags", MapType(StringType, IntegerType)),
    StructField("amt", DecimalType(12, 3)),
    StructField("big", DecimalType(30, 5)),
    StructField("ts", TimestampType),
    StructField("day", DateType)))

  private def rich: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((1 to 7).map { i =>
      Row(i.toLong, if (i % 3 == 0) null else s"n$i",
        Row(i, Seq(i * 0.5, i * 1.5)), Map(s"k$i" -> i),
        new java.math.BigDecimal(s"$i.125"),
        new java.math.BigDecimal(s"12345678901234567890.0000$i"),
        new java.sql.Timestamp(1700000000000L + i * 3600000L),
        java.sql.Date.valueOf(s"2024-01-0$i"))
    }, 2), richSchema)

  /** (footer schema, key-value metadata, rows) per file. */
  private def footers(paths: Seq[String])
      : Seq[(String, Map[String, String], Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val meta = r.getFooter.getFileMetaData
        (meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap,
          r.getRecordCount)
      } finally r.close()
    }
  }

  /** Stages `df` both ways; returns the reference's file count. */
  private def sameAsWriteParquet(name: String, df: DataFrame): Int = {
    val ref = fresh(s"$name-ref")
    df.write.parquet(ref)
    val refFiles = Materialize.listParquetFiles(spark, ref)
    val root = new Path(fresh(s"$name-stage"))
    root.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(root)
    val staged = GraftWriteV2.stage(spark, root, df, "s00000001-cafef00d")
    assert(staged == staged.sorted, s"$name: not in partition order")
    assert(staged.forall(
      _.matches("s00000001-cafef00d-p\\d{5}-t\\d+\\.parquet")), staged)
    val got = footers(staged.map(n => new Path(root, n).toString))
    val want = footers(refFiles)
    assert(got == want, s"$name: staged $got\n!= df.write.parquet $want")
    assert(want.head._2.contains(
      "org.apache.spark.sql.parquet.row.metadata"))
    want.length
  }

  test("stage writes the files df.write.parquet writes: non-nullable, " +
      "nested, decimal and timestamp columns") {
    assert(sameAsWriteParquet("rich", rich.repartition(3)) == 3)
    assert(footers(Materialize.listParquetFiles(spark,
      fresh("rich-ref"))).head._1.contains("required int64 id"))
  }

  test("stage skips the empty partitions df.write.parquet skips, " +
      "except partition 0") {
    val n = sameAsWriteParquet("sparse",
      Seq(1, 2, 3).toDF("x").repartition(8))
    assert(n >= 1 && n <= 4, s"3 rows over 8 partitions wrote $n files")
  }

  test("an empty frame, with or without partitions, stages one file " +
      "carrying its schema") {
    assert(sameAsWriteParquet("limit0", rich.limit(0)) == 1)
    val noParts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], richSchema)
    assert(noParts.rdd.getNumPartitions == 0)
    assert(sameAsWriteParquet("noparts", noParts) == 1)
  }

  test("a store created from an empty frame holds one file and reads " +
      "zero rows") {
    val url = fresh("empty-store")
    Snapshots.create(spark, url, rich.limit(0))
    assert(Snapshots.snap(spark, url, 1).files.length == 1)
    val back = GraftRead.reader(spark, url).load()
    assert(back.count() == 0L)
    assert(back.schema.fieldNames.toSeq == richSchema.fieldNames.toSeq)
  }

  test("an append whose write task fails commits nothing and leaves " +
      "no partial file; vacuum then leaves exactly the live files") {
    spark.conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    try {
      val url = "failfs://" + fresh("crash")
      Snapshots.create(spark, url,
        (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), nFiles = 2)
      val root = new Path(url)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def parquetNames(): Set[String] = fs.listStatus(root).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
      FailingFs.created.clear()
      FailingFs.armed = Some("-p00002-")
      val err =
        try intercept[Exception] {
          Snapshots.append(spark, url,
            (21L to 60L).map(i => (i, s"v$i")).toDF("id", "v"),
            nFiles = 4)
        } finally FailingFs.armed = None
      assert(Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage)
          .contains("injected write failure")), err)
      // the failed write's sibling tasks finish on their own
      val sc = spark.sparkContext
      val deadline = System.nanoTime() + 30e9.toLong
      while (sc.statusTracker.getExecutorInfos
          .exists(_.numRunningTasks > 0) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(Snapshots.latest(spark, url) == 1)
      val failed = FailingFs.created.asScala.toSet
      assert(failed.size == 1, failed)
      val left = parquetNames()
      assert((failed & left).isEmpty, s"partial file left: $failed")
      // whatever else the failed write left is complete parquet
      val live = Snapshots.snap(spark, url, 1).files.toSet
      footers((left -- live).toSeq.map(n => new Path(root, n).toString))
      Snapshots.vacuum(spark, url, keepFrom = 1, graceMs = 0L)
      assert(parquetNames() == live)
      assert(Snapshots.read(spark, url).count() == 20L)
    } finally spark.conf.unset("fs.failfs.impl")
  }
}
