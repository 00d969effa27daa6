package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{IntegerType, ShortType}
import org.apache.spark.storage.StorageLevel

import graft.codecs.{Dtype, ImageCodec, TensorCodec}
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}
import graft.sources.{GraftRead, Materialize}

/** ML-training ingest, the reference's one published path: shuffled
  * epochs of a hello_world-shaped store drained through
  * `toLocalIterator` by a consumer that touches every sample, with a
  * materialize of fresh rows after each epoch (the write side of the
  * codecs). Pixels are seeded-random, as in the reference, so png does
  * not compress them away. */
final class HelloWorldTrain(ctx: Ctx) extends Workload {
  import HelloWorldTrain._
  val name = "hello_world_train"
  val out = new Outcome(name)
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val rows = if (ctx.smoke) 16 else 100
  private val batchRows = if (ctx.smoke) 8 else 16

  private var input: DataFrame = _
  private var url = ""
  private var matUrl = ""
  private var epoch = 0
  private var batch = 0
  private lazy val expected: Array[(Long, Long)] =
    Array.tabulate(rows)(id => sums(seed, id))

  private val epochS = mutable.ArrayBuffer[Double]()
  private val planS = mutable.ArrayBuffer[Double]()
  private val matS = mutable.ArrayBuffer[Double]()
  private var samples = 0L
  private var matRows = 0L

  def opSeconds: Seq[Double] = epochS.toSeq

  def resetStats(): Unit = {
    epochS.clear(); planS.clear(); matS.clear(); samples = 0; matRows = 0
  }

  def prepare(dir: String): Unit = {
    input = frame(spark, seed, 0, rows).persist(StorageLevel.MEMORY_ONLY)
    input.count()
    expected
  }

  def setup(dir: String): Unit = {
    url = s"$dir/hello_world"
    matUrl = s"$dir/materialized"
    Materialize.materialize(input, url, Schema,
      partitions = Some(2 * ctx.cores))
  }

  def op(): Unit = {
    epoch += 1
    try ctx.tracer.op("train.epoch", "bench") {
      val ((n, ids, bad, checkS), s) = ctx.timed {
        ctx.tracer.phase("train.epoch", "bench") {
          val (df, plan) = ctx.timed(ctx.tracer.span("GraftRead.load", "reader")(
            GraftRead.reader(spark, url).shuffle(seed + epoch).load()))
          planS += plan
          ctx.tracer.span("toLocalIterator", "spark")(consume(df))
        }
      }
      epochS += s - checkS
      samples += n
      val badRows = if (ctx.corruptNow()) bad + 1 else bad
      out.check(s"epoch $epoch",
        n == rows && ids.size == rows && ids.forall(i => i >= 0 && i < rows) &&
          badRows == 0,
        s"$n samples, ${ids.size} distinct ids, $badRows wrong checksums")
    } catch { case e: Exception => out.error(s"epoch $epoch", e) }
    materializeBatch()
  }

  /** Drain `df`, checksumming every decoded sample against the
    * generator: (samples, distinct ids, samples with a wrong sum,
    * seconds spent checksumming — the oracle's own work, which callers
    * keep out of the epoch's latency). */
  private def consume(df: DataFrame): (Int, Set[Int], Int, Double) = {
    val it = df.toLocalIterator()
    var n = 0
    var bad = 0
    var checkNs = 0L
    val ids = mutable.Set[Int]()
    while (it.hasNext) {
      val r = it.next()
      val t0 = System.nanoTime()
      val id = r.getInt(0)
      n += 1
      ids += id
      val got = rowSums(r)
      if (id < 0 || id >= expected.length || got != expected(id)) bad += 1
      checkNs += System.nanoTime() - t0
    }
    (n, ids.toSet, bad, checkNs / 1e9)
  }

  private def materializeBatch(): Unit = {
    batch += 1
    val lo = rows.toLong + batch * batchRows
    val fresh = frame(spark, seed, lo, lo + batchRows)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      fresh.count() // generate outside the timed write
      val (_, s) = ctx.timed(ctx.tracer.op("train.materialize", "bench") {
        ctx.tracer.phase("train.materialize", "bench") {
          ctx.tracer.span("Materialize.materialize", "materialize")(
            Materialize.materialize(fresh, matUrl, Schema,
              partitions = Some(ctx.cores)))
        }
      })
      matS += s
      matRows += batchRows
      val back = GraftRead.reader(spark, matUrl).load().collect()
      val bad = back.count(r => rowSums(r) != sums(seed, r.getInt(0)))
      val ids = back.map(_.getInt(0).toLong).toSet
      out.check(s"materialize batch $batch",
        back.length == batchRows && bad == 0 &&
          ids == (lo until lo + batchRows).toSet,
        s"${back.length} rows read back, $bad wrong checksums")
    } catch { case e: Exception => out.error(s"materialize batch $batch", e) }
    finally fresh.unpersist()
  }

  def named(): Unit = {
    out.named("read_samples_per_s") = (samples / epochS.sum, "1/s",
      s"$rows-sample epochs, n=${epochS.size}")
    out.named("materialize_rows_per_s") = (matRows / matS.sum, "1/s",
      s"$batchRows-row batches, n=${matS.size}")
  }

  def layers(): Unit = {
    val reps = if (ctx.smoke) 1 else 3
    def med(body: => Unit): Double =
      Stats.median((1 to reps).map(_ => ctx.timed(body)._2))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val reader = GraftRead.reader(spark, url)
    val raw = med(noop(reader.rawStorage.load()))
    val decoded = med(noop(reader.load()))
    val shuffled = med(noop(reader.shuffle(seed).load()))
    val drained = Stats.median((1 to reps).map { _ =>
      val ((_, _, _, checkS), s) = ctx.timed(consume(reader.shuffle(seed).load()))
      s - checkS
    })
    out.layers("reader.plan_s.train") = (Stats.median(planS.toSeq), "s")
    out.layers("reader.scan_s") = (raw, "s")
    out.layers("reader.decode_s") = (decoded - raw, "s")
    out.layers("reader.shuffle_s") = (shuffled - decoded, "s")
    out.layers("reader.handoff_s") = (drained - shuffled, "s")
    // the four parts telescope to one drained epoch; this is the share
    // of the loop's median epoch they account for
    out.layers("reader.split_of_epoch") = (drained / Stats.median(epochS.toSeq), "ratio")

    val cells = reader.rawStorage.load().limit(16).collect()
    val pngs = cells.map(_.getAs[Array[Byte]]("image1"))
    val tensors = cells.map(_.getAs[Array[Byte]]("array_4d"))
    def perCell(n: Int)(body: Int => Unit): Double = {
      body(0) // warm
      val reps = if (ctx.smoke) 1 else 5
      Stats.median((1 to reps).map { _ =>
        ctx.timed((0 until n).foreach(body))._2
      }) / n * 1e6
    }
    out.layers("codecs.png.decode_us_per_cell") =
      (perCell(pngs.length)(i => ImageCodec.decodeImage(pngs(i))), "us")
    out.layers("codecs.ndarray.decode_us_per_cell") =
      (perCell(tensors.length)(i => TensorCodec.decode(tensors(i))), "us")
    val img = pixelsOf(seed, 0)
    val arr = arrayOf(seed, 0)
    val imgDims = UnsafeArrayData.fromPrimitiveArray(ImageShape.toArray)
    val imgData = UnsafeArrayData.fromPrimitiveArray(img)
    val arrData = UnsafeArrayData.fromPrimitiveArray(arr)
    val dtype = Dtype.forSparkType(ShortType)
    out.layers("codecs.png.encode_us_per_cell") = (perCell(8)(_ =>
      ImageCodec.encodeImage(imgDims, imgData, "png", 80)), "us")
    out.layers("codecs.ndarray.encode_us_per_cell") = (perCell(8)(_ =>
      TensorCodec.encode(dtype, ArrayShape.toArray, arrData, compressed = false)),
      "us")

    out.layers("materialize.write_s") = (Stats.median(matS.toSeq), "s")
    val fs = new org.apache.hadoop.fs.Path(matUrl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val written = fs.getContentSummary(new org.apache.hadoop.fs.Path(matUrl)).getLength
    out.layers("materialize.bytes_per_user_byte") =
      (written.toDouble / (batchRows.toLong * UserBytesPerRow), "ratio")
  }
}

object HelloWorldTrain {
  val ImageShape = Seq(128, 256, 3)
  val ArrayShape = Seq(4, 128, 30, 3)
  val ImageLen: Int = ImageShape.product
  val ArrayLen: Int = ArrayShape.product
  /** Raw uint8 payload of one sample: id (int32) + image + array. */
  val UserBytesPerRow: Long = 4L + ImageLen + ArrayLen

  val Schema: GraftSchema = GraftSchema("HelloWorld", Seq(
    FieldSpec("id", IntegerType, codec = Some(CodecSpec("scalar"))),
    FieldSpec("image1", ShortType, shape = ImageShape,
      codec = Some(CodecSpec("png"))),
    FieldSpec("array_4d", ShortType, shape = ArrayShape,
      codec = Some(CodecSpec("ndarray")))))

  def pixelsOf(seed: Long, id: Long): Array[Short] =
    Gen.pixels(seed, 2 * id, ImageLen)
  def arrayOf(seed: Long, id: Long): Array[Short] =
    Gen.pixels(seed, 2 * id + 1, ArrayLen)
  def sums(seed: Long, id: Long): (Long, Long) =
    (Gen.checksum(pixelsOf(seed, id)), Gen.checksum(arrayOf(seed, id)))

  /** (image, array) checksums of one decoded row. */
  def rowSums(r: Row): (Long, Long) =
    (Gen.checksum(r.getStruct(1).getSeq[Short](1)),
      Gen.checksum(r.getStruct(2).getSeq[Short](1)))

  def frame(spark: org.apache.spark.sql.SparkSession, seed: Long,
      lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi).as[Long]
      .map(id => (id.toInt, pixelsOf(seed, id), arrayOf(seed, id)))
      .toDF("id", "image1", "array_4d")
  }
}
