package graft.codecs

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}
import graft.sources.{GraftRead, Materialize}

/** Image codec parity suite (reference:
  * petastorm/tests/test_codec_compressed_image.py + codecs.py:58-130):
  * png is LOSSLESS — round-trip must be exact for every value,
  * grayscale and RGB; jpeg is lossy but shape/dims-preserving. */
class ImageCodecSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip(dims: Seq[Int], pixels: Seq[Int], format: String)
      : (Seq[Int], Seq[Int]) = {
    val df = Seq((dims, pixels.map(_.toShort))).toDF("dims", "data")
    val enc = GraftFunctions.encodeImage($"dims", $"data", format)
    val out = df.select(GraftFunctions.decodeImage(enc).as("img"))
      .select($"img.dims", $"img.data")
      .as[(Seq[Int], Seq[Short])].head()
    (out._1, out._2.map(_.toInt))
  }

  test("png grayscale round-trip is exact for ALL 256 values") {
    // 16x16 image containing every uint8 value once — the ADVICE r2
    // defect: setRGB's sRGB conversion corrupted 73/256 of these.
    val px = (0 until 256).toSeq
    val (dims, data) = roundTrip(Seq(16, 16), px, "png")
    assert(dims == Seq(16, 16))
    assert(data == px)
  }

  test("png RGB round-trip is exact") {
    val px = (0 until 4 * 5 * 3).map(i => (i * 37 + 11) % 256)
    val (dims, data) = roundTrip(Seq(4, 5, 3), px, "png")
    assert(dims == Seq(4, 5, 3))
    assert(data == px)
  }

  test("jpeg preserves dims; values within lossy tolerance on flat image") {
    val px = Seq.fill(8 * 8 * 3)(128)
    val (dims, data) = roundTrip(Seq(8, 8, 3), px, "jpeg")
    assert(dims == Seq(8, 8, 3))
    assert(data.forall(v => math.abs(v - 128) <= 8))
  }

  test("encode rejects bad dims and mismatched pixel counts") {
    intercept[Exception](roundTrip(Seq(2, 2, 2), Seq.fill(8)(0), "png"))
    intercept[Exception](roundTrip(Seq(2, 2), Seq.fill(5)(0), "png"))
  }

  test("materialize->read lifecycle with a png field decodes exactly") {
    val url = scratch("image-store")
    val src = spark.range(20).toDF("id")
      .withColumn("img", transform(sequence(lit(0), lit(8 * 8 - 1)),
        i => pmod($"id" * 31 + i, lit(256)).cast("short")))
    val schema = GraftSchema("imgs", Seq(
      FieldSpec("id", LongType),
      FieldSpec("img", ShortType, shape = Seq(8, 8),
        codec = Some(CodecSpec("png")))))
    Materialize.materialize(src, url, schema, partitions = Some(2))

    // storage side really is binary png bytes
    val raw = spark.read.parquet(url)
    assert(raw.schema("img").dataType == BinaryType)
    val magic = raw.select($"img").as[Array[Byte]].head().take(4)
    assert(magic.sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte,
      'G'.toByte)))

    val back = GraftRead.reader(spark, url).load()
      .select($"id", $"img.dims", $"img.data")
      .as[(Long, Seq[Int], Seq[Short])].collect().sortBy(_._1)
    assert(back.length == 20)
    back.foreach { case (id, dims, data) =>
      assert(dims == Seq(8, 8))
      assert(data.map(_.toInt) == (0 until 64).map(i => ((id * 31 + i) % 256).toInt))
    }
  }

  test("jpeg quality codec arg is honored (higher q = bigger file)") {
    def encodedSize(q: Int): Int = {
      val px = (0 until 16 * 16 * 3).map(i => (i * 97 + 3) % 256)
      val df = Seq((Seq(16, 16, 3), px.map(_.toShort))).toDF("dims", "data")
      df.select(length(GraftFunctions.encodeImage($"dims", $"data", "jpeg",
        quality = q))).as[Int].head()
    }
    assert(encodedSize(95) > encodedSize(10))
  }

  test("jpeg grayscale keeps one channel and stays within lossy tolerance") {
    val px = Seq.fill(8 * 8)(100)
    val (dims, data) = roundTrip(Seq(8, 8), px, "jpeg")
    assert(dims == Seq(8, 8)) // decoded as single-channel, not promoted
    assert(data.forall(v => math.abs(v - 100) <= 8))
  }

  // ---- direct PNG decode vs the ImageIO reference -------------------
  // Every PNG below is assembled chunk by chunk, so the filter on each
  // row, the IDAT split and the chunk set are forced by the case rather
  // than chosen by an encoder.

  private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
    val t = tpe.getBytes("ISO-8859-1")
    val crc = new CRC32; crc.update(t); crc.update(data)
    ByteBuffer.allocate(12 + data.length).putInt(data.length).put(t)
      .put(data).putInt(crc.getValue.toInt).array()
  }

  private def zlib(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater(); d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(); val tmp = new Array[Byte](4096)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end(); out.toByteArray
  }

  /** One scanline filtered with `ftype` against `prev` (zeros for the
    * first row), `bpp` bytes per complete pixel. */
  private def filterRow(ftype: Int, row: Array[Byte], prev: Array[Byte],
      bpp: Int): Array[Byte] = {
    def at(a: Array[Byte], i: Int) = if (i >= 0) a(i) & 0xFF else 0
    val out = new Array[Byte](row.length + 1)
    out(0) = ftype.toByte
    for (x <- row.indices) {
      val (a, b, c) = (at(row, x - bpp), at(prev, x), at(prev, x - bpp))
      val pred = ftype match {
        case 0 => 0
        case 1 => a
        case 2 => b
        case 3 => (a + b) / 2
        case 4 =>
          val p = a + b - c
          val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      out(x + 1) = ((row(x) & 0xFF) - pred).toByte
    }
    out
  }

  /** A non-interlaced PNG of `rows` (unfiltered scanline bytes). */
  private def png(w: Int, h: Int, colorType: Int, rows: Seq[Array[Byte]],
      depth: Int = 8, filter: Int => Int = _ => 0, idatParts: Int = 1,
      interlace: Int = 0, before: Seq[Array[Byte]] = Nil,
      after: Seq[Array[Byte]] = Nil, scan: Option[Array[Byte]] = None)
      : Array[Byte] = {
    val channels = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)(colorType)
    val bpp = math.max(1, channels * depth / 8)
    val raw = scan.getOrElse {
      var prev = new Array[Byte](rows.head.length)
      rows.zipWithIndex.flatMap { case (r, y) =>
        val f = filterRow(filter(y), r, prev, bpp); prev = r; f
      }.toArray
    }
    val z = zlib(raw)
    val cut = (0 to idatParts).map(i => z.length * i / idatParts)
    val idats = cut.zip(cut.tail).map { case (a, b) => chunk("IDAT", z.slice(a, b)) }
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h).put(depth.toByte)
      .put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put(interlace.toByte).array()
    val parts = Seq(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n'),
      chunk("IHDR", ihdr)) ++ before ++ idats ++ after ++
      Seq(chunk("IEND", Array.emptyByteArray))
    parts.flatten.toArray
  }

  private def pixelRows(w: Int, h: Int, bytesPerPixel: Int): Seq[Array[Byte]] =
    (0 until h).map(y => Array.tabulate(w * bytesPerPixel)(x =>
      ((x * 7 + y * 13 + (x * y) % 11) & 0xFF).toByte))

  /** Seeded noise: unlike a gradient it hits every predictor tie. */
  private def noiseRows(w: Int, h: Int, bytesPerPixel: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(w * 31 + h)
    (0 until h).map(_ => Array.fill(w * bytesPerPixel)(rnd.nextInt(256).toByte))
  }

  private def view(r: InternalRow): (Seq[Int], Seq[Short]) =
    (r.getArray(0).toIntArray().toSeq, r.getArray(1).toShortArray().toSeq)

  /** What a decode did: its value, or the exception class and message. */
  private def outcome(f: => InternalRow): Either[(Class[_], String), (Seq[Int], Seq[Short])] =
    try Right(view(f)) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  private def assertDirect(b: Array[Byte]): Unit = {
    assert(ImageCodec.decodePngDirect(b) != null, "direct path declined")
    assert(view(ImageCodec.decodeImage(b)) == view(ImageCodec.decodeImageIO(b)))
  }

  private def assertFallback(b: Array[Byte]): Unit = {
    assert(ImageCodec.decodePngDirect(b) == null, "direct path accepted")
    assert(outcome(ImageCodec.decodeImage(b)) == outcome(ImageCodec.decodeImageIO(b)))
  }

  test("direct png decode equals ImageIO: gray and RGB, filters 0-4 on every row") {
    for (ct <- Seq(0, 2); f <- 0 to 4) {
      val ch = if (ct == 0) 1 else 3
      withClue(s"colorType $ct filter $f: ") {
        assertDirect(png(9, 6, ct, pixelRows(9, 6, ch), filter = _ => f))
        assertDirect(png(40, 30, ct, noiseRows(40, 30, ch), filter = _ => f))
      }
    }
    // filters mixed row by row, as an adaptive encoder picks them
    assertDirect(png(17, 10, 2, pixelRows(17, 10, 3), filter = y => y % 5))
  }

  test("direct png decode equals ImageIO: split IDAT, 1x1, odd width, " +
      "metadata chunks, ImageIO-written cells") {
    assertDirect(png(31, 12, 2, pixelRows(31, 12, 3), filter = y => (y * 3) % 5,
      idatParts = 5))
    assertDirect(png(1, 1, 0, Seq(Array(200.toByte)), filter = _ => 4))
    assertDirect(png(1, 1, 2, Seq(Array(1, 2, 3).map(_.toByte)), filter = _ => 3))
    assertDirect(png(7, 5, 0, pixelRows(7, 5, 1), filter = y => y % 5))
    assertDirect(png(13, 3, 2, pixelRows(13, 3, 3), filter = _ => 4))
    val text = chunk("tEXt", "Comment\u0000direct".getBytes("ISO-8859-1"))
    val phys = chunk("pHYs", ByteBuffer.allocate(9).putInt(2835).putInt(2835)
      .put(1.toByte).array())
    val time = chunk("tIME", Array(7, 234, 10, 18, 6, 30, 0).map(_.toByte))
    assertDirect(png(6, 4, 2, pixelRows(6, 4, 3), before = Seq(phys, text),
      after = Seq(time)))
    // what encode_image writes (materialized stores) takes the direct path
    for ((dims, n) <- Seq((Array(16, 16), 256), (Array(5, 7, 3), 105))) {
      val px = Array.tabulate(n)(i => ((i * 37 + 11) % 256).toShort)
      assertDirect(ImageCodec.encodeImage(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(dims),
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(px),
        "png", 80))
    }
  }

  test("png shapes outside the direct path fall back to ImageIO unchanged") {
    // palette
    val plte = chunk("PLTE", Array.tabulate(4 * 3)(i => (i * 60).toByte))
    assertFallback(png(5, 3, 3, pixelRows(5, 3, 1).map(_.map(b => (b & 3).toByte)),
      before = Seq(plte)))
    // gray + alpha, RGBA, 16-bit gray and RGB
    assertFallback(png(5, 3, 4, pixelRows(5, 3, 2), filter = y => y))
    assertFallback(png(5, 3, 6, pixelRows(5, 3, 4), filter = y => y + 1))
    assertFallback(png(5, 3, 0, pixelRows(5, 3, 2), depth = 16))
    assertFallback(png(5, 3, 2, pixelRows(5, 3, 6), depth = 16, filter = _ => 4))
    // Adam7: each of the seven passes is its own run of filtered rows
    val (w, h) = (10, 9)
    val img = pixelRows(w, h, 1)
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val adam7 = passes.flatMap { case (x0, y0, dx, dy) =>
      for (y <- y0 until h by dy if x0 < w)
        yield 0.toByte +: (x0 until w by dx).map(img(y)(_)).toArray
    }.flatten.toArray
    val laced = png(w, h, 0, img, interlace = 1, scan = Some(adam7))
    assertFallback(laced)
    assert(view(ImageCodec.decodeImage(laced))._2 == img.flatten.map(b => (b & 0xFF).toShort))
    // an embedded colour profile
    val icc = java.awt.color.ICC_Profile.getInstance(java.awt.color.ColorSpace.CS_sRGB).getData
    val iccp = chunk("iCCP", "sRGB".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ zlib(icc))
    assertFallback(png(4, 4, 2, pixelRows(4, 4, 3), before = Seq(iccp)))
    // jpeg
    val jpg = ImageCodec.encodeImage(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array(8, 8, 3)),
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array.fill[Short](192)(90)),
      "jpeg", 80)
    assertFallback(jpg)
  }

  test("truncated and corrupt png bytes raise as the ImageIO path does") {
    val good = png(12, 8, 2, pixelRows(12, 8, 3), filter = y => y % 5, idatParts = 2)
    assertDirect(good)
    // truncations inside the header, the first IDAT and the last chunk:
    // ImageIO raises on some and reads a missing IEND as the end, and the
    // direct path declines all of them, so each outcome is ImageIO's
    for (n <- Seq(4, 20, 60, good.length / 2, good.length - 5)) {
      val cut = good.take(n)
      withClue(s"truncated at $n: ")(assertFallback(cut))
      if (n <= 60) assert(outcome(ImageCodec.decodeImage(cut)).isLeft)
    }
    // a flipped byte with its CRC left stale, and with the CRC fixed
    val idatAt = good.indexOfSlice("IDAT".getBytes("ISO-8859-1"))
    val flipped = good.clone(); flipped(idatAt + 10) = (flipped(idatAt + 10) ^ 0x5A).toByte
    assertFallback(flipped)
    // an unknown filter byte (5) on the second row, well-formed otherwise
    val rows = pixelRows(4, 3, 1)
    val scan = rows.zipWithIndex.flatMap { case (r, y) =>
      (if (y == 1) 5.toByte else 0.toByte) +: r }.toArray
    val badFilter = png(4, 3, 0, rows, scan = Some(scan))
    assertFallback(badFilter)
    assert(outcome(ImageCodec.decodeImage(badFilter)).isLeft)
    // a short zlib stream (fewer bytes than the scanlines need)
    val short = png(4, 3, 0, rows, scan = Some(scan.take(9)))
    assertFallback(short)
    assert(outcome(ImageCodec.decodeImage("not an image".getBytes)).isLeft)
  }

  test("every png cell of the petastorm 0.7.6 fixture decodes equal to ImageIO") {
    val cells = spark.read.parquet(
      new java.io.File("fixtures/petastorm_legacy_0.7.6").getAbsolutePath)
      .select("image_png").as[Array[Byte]].collect()
    assert(cells.nonEmpty)
    cells.foreach(assertDirect)
  }
}
