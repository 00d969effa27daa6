package graft.codecs

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{CRC32, DataFormatException, Inflater}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** CompressedImageCodec equivalent (reference: codecs.py:58-130) on
  * `javax.imageio` — no native deps.
  *
  * Contract (parity with the reference's numpy arrays):
  *  - grayscale: dims (H, W), one uint8 (stored as Short) per pixel;
  *  - color: dims (H, W, 3), C-order RGB — the reference stores RGB
  *    and swaps to OpenCV's BGR only at the cv2 call boundary
  *    (codecs.py:87-116); with ImageIO we work in RGB directly, so
  *    there is no swap anywhere.
  *  - png is lossless (round-trip exact, like the reference's
  *    png test); jpeg is lossy with a quality knob (codecs.py:77-84).
  *
  * Decode has two paths with one output. The common PNG shape — 8-bit
  * gray or RGB, not interlaced, with no chunk beyond IHDR, IDAT, IEND
  * and the metadata-only tEXt/zTXt/iTXt/tIME/pHYs — is decoded
  * directly: the chunks are walked (CRCs checked), the IDAT stream is
  * inflated into one scanline buffer and filters 0-4 are undone in
  * place. That is one native inflate per cell, like the reference's
  * single `cv2.imdecode` call, where ImageIO would add a ColorModel
  * call per pixel. Everything else — palette, alpha, 16-bit,
  * interlaced, a colour-bearing chunk such as iCCP or tRNS, jpeg, and
  * any structural mismatch (bad length or CRC, short or overlong
  * inflate, unknown filter byte) — goes to ImageIO unchanged, so its
  * values and its errors are exactly those of the ImageIO path.
  */
object ImageCodec {

  // ImageIO's stream cache is DISK-backed by default: every
  // encode/decode would create+delete a temp file. Per-row codec
  // calls must stay in memory.
  ImageIO.setUseCache(false)

  def encodeImage(dims: ArrayData, data: ArrayData, format: String,
      quality: Int): Array[Byte] = {
    val d = dims.toIntArray()
    require(d.length == 2 || (d.length == 3 && d(2) == 3),
      s"image dims must be (H,W) or (H,W,3), got ${d.mkString("x")}")
    val (h, w) = (d(0), d(1))
    val color = d.length == 3
    val n = data.numElements()
    require(n == h * w * (if (color) 3 else 1),
      s"pixel count $n != dims ${d.mkString("x")}")
    val img = new BufferedImage(w, h,
      if (color) BufferedImage.TYPE_INT_RGB else BufferedImage.TYPE_BYTE_GRAY)
    // Grayscale goes through the raster (setSample), NOT setRGB:
    // setRGB on a gray image runs an sRGB→linear-gray color-space
    // conversion that corrupts 73/256 values (e.g. 1..5 → 0) and
    // breaks the lossless-png contract.
    val raster = img.getRaster
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (color) {
          val r = data.getShort(i) & 0xFF
          val g = data.getShort(i + 1) & 0xFF
          val b = data.getShort(i + 2) & 0xFF
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          i += 3
        } else {
          raster.setSample(x, y, 0, data.getShort(i) & 0xFF)
          i += 1
        }
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    format match {
      case "png" =>
        ImageIO.write(img, "png", out)
      case "jpeg" =>
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality / 100.0f)
        val ios = ImageIO.createImageOutputStream(out)
        writer.setOutput(ios)
        // jpeg writer rejects alpha-less gray? gray is fine; RGB ok
        writer.write(null, new IIOImage(img, null, null), p)
        writer.dispose(); ios.close()
      case f => throw new IllegalArgumentException(s"unknown image format $f")
    }
    out.toByteArray
  }

  /** Decode png/jpeg bytes → struct<dims: array<int>, data: array<short>>:
    * the direct PNG path where it applies, ImageIO otherwise (see the
    * object doc). Static (codegen-callable). */
  def decodeImage(bytes: Array[Byte]): InternalRow = {
    val direct = decodePngDirect(bytes)
    if (direct != null) direct else decodeImageIO(bytes)
  }

  /** The ImageIO decode every input could take; the reference the
    * direct PNG path must equal. */
  private[codecs] def decodeImageIO(bytes: Array[Byte]): InternalRow = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val (h, w) = (img.getHeight, img.getWidth)
    val gray = img.getColorModel.getNumComponents == 1
    if (gray) {
      // raster samples, not getRGB — see the encode-side comment on
      // the sRGB↔gray conversion loss.
      val raster = img.getRaster
      val a = new Array[Short](h * w)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          a(i) = raster.getSample(x, y, 0).toShort
          i += 1; x += 1
        }
        y += 1
      }
      InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(h, w)),
        UnsafeArrayData.fromPrimitiveArray(a))
    } else {
      val a = new Array[Short](h * w * 3)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          a(i) = ((rgb >> 16) & 0xFF).toShort
          a(i + 1) = ((rgb >> 8) & 0xFF).toShort
          a(i + 2) = (rgb & 0xFF).toShort
          i += 3; x += 1
        }
        y += 1
      }
      InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(h, w, 3)),
        UnsafeArrayData.fromPrimitiveArray(a))
    }
  }

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
  private def chunkType(s: String): Int =
    (s(0) << 24) | (s(1) << 16) | (s(2) << 8) | s(3)
  private val IHDR = chunkType("IHDR")
  private val IDAT = chunkType("IDAT")
  private val IEND = chunkType("IEND")
  /** Ancillary chunks ImageIO keeps as metadata only; any other chunk
    * (iCCP, tRNS, gAMA, PLTE, ...) sends the cell to ImageIO. */
  private val MetadataOnly =
    Set("tEXt", "zTXt", "iTXt", "tIME", "pHYs").map(chunkType)

  /** Per-thread inflater, CRC and scanline buffer, reset per cell (the
    * TensorCodec pattern: no native allocation per row). A buffer over
    * `KeptScanlineBytes` is used once and not kept, so a task thread
    * never pins a huge image's scanlines. */
  private final class PngScratch {
    val inflater = new Inflater()
    val crc = new CRC32()
    var raw = new Array[Byte](0)
  }
  private val KeptScanlineBytes = 8 << 20
  private val scratchTL = new ThreadLocal[PngScratch] {
    override def initialValue(): PngScratch = new PngScratch
  }

  private def int32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  /** The direct path: the decoded row, or null for any input it does
    * not take (the caller then runs ImageIO). */
  private[codecs] def decodePngDirect(bytes: Array[Byte]): InternalRow = {
    val len = bytes.length
    // signature + IHDR (8 + 12 + 13) + one empty chunk
    if (len < 45) return null
    var k = 0
    while (k < 8) { if (bytes(k) != Signature(k)) return null; k += 1 }
    if (int32(bytes, 8) != 13 || int32(bytes, 12) != IHDR) return null
    val w = int32(bytes, 16)
    val h = int32(bytes, 20)
    val depth = bytes(24)
    val colorType = bytes(25)
    // compression 0, filter method 0, no interlace; gray or RGB at 8 bits
    if (w <= 0 || h <= 0 || depth != 8 || (colorType != 0 && colorType != 2) ||
        bytes(26) != 0 || bytes(27) != 0 || bytes(28) != 0) return null
    val ch = if (colorType == 0) 1 else 3
    val stride = w.toLong * ch
    val rawLen = (stride + 1) * h
    if (rawLen >= Int.MaxValue - 16) return null
    val st = scratchTL.get()
    val raw =
      if (st.raw.length > rawLen) st.raw
      else {
        val b = new Array[Byte](rawLen.toInt + 1)
        if (b.length <= KeptScanlineBytes) st.raw = b
        b
      }
    val inf = st.inflater
    val crc = st.crc
    inf.reset()
    var out = 0 // inflated bytes so far; one spare byte detects an overlong stream
    var idat = 0 // 0 none yet, 1 inside the IDAT run, 2 after it
    var pos = 8
    var ended = false
    try {
      while (!ended) {
        if (pos > len - 12) return null
        val n = int32(bytes, pos)
        if (n < 0 || n > len - 12 - pos) return null
        val tpe = int32(bytes, pos + 4)
        crc.reset()
        crc.update(bytes, pos + 4, n + 4)
        if (crc.getValue.toInt != int32(bytes, pos + 8 + n)) return null
        if (tpe == IDAT) {
          if (idat == 2) return null
          idat = 1
          if (n > 0) {
            if (inf.finished()) return null
            inf.setInput(bytes, pos + 8, n)
            while (!inf.needsInput() && !inf.finished()) {
              val got = inf.inflate(raw, out, rawLen.toInt + 1 - out)
              out += got
              // no progress with input left: a dictionary or a full buffer
              if (got == 0 && !inf.needsInput() && !inf.finished()) return null
            }
            if (inf.getRemaining != 0) return null
          }
        } else if (tpe == IEND) {
          if (n != 0 || pos + 12 != len) return null
          ended = true
        } else if (pos == 8) {
          // IHDR, validated above
        } else if (MetadataOnly.contains(tpe)) {
          if (idat == 1) idat = 2
        } else return null
        pos += 12 + n
      }
    } catch { case _: DataFormatException => return null }
    if (idat == 0 || !inf.finished() || out != rawLen) return null
    if (!unfilter(raw, h, stride.toInt, ch)) return null
    val a = new Array[Short]((stride * h).toInt)
    var y = 0
    var i = 0
    while (y < h) {
      var r = y * (stride.toInt + 1) + 1
      val rEnd = r + stride.toInt
      while (r < rEnd) { a(i) = (raw(r) & 0xFF).toShort; i += 1; r += 1 }
      y += 1
    }
    val dims = if (ch == 1) Array(h, w) else Array(h, w, 3)
    InternalRow(UnsafeArrayData.fromPrimitiveArray(dims),
      UnsafeArrayData.fromPrimitiveArray(a))
  }

  /** Undo PNG filter types 0-4 in place over `h` rows of `1 + stride`
    * bytes (filter byte first), `bpp` bytes per pixel. Returns false on
    * an unknown filter byte. */
  private def unfilter(raw: Array[Byte], h: Int, stride: Int, bpp: Int): Boolean = {
    var y = 0
    while (y < h) {
      val row = y * (stride + 1) + 1
      val prev = row - (stride + 1) // only read when y > 0
      raw(row - 1) match {
        case 0 =>
        case 1 =>
          var x = bpp
          while (x < stride) { raw(row + x) = (raw(row + x) + raw(row + x - bpp)).toByte; x += 1 }
        case 2 =>
          if (y > 0) {
            var x = 0
            while (x < stride) { raw(row + x) = (raw(row + x) + raw(prev + x)).toByte; x += 1 }
          }
        case 3 =>
          var x = 0
          while (x < stride) {
            val left = if (x >= bpp) raw(row + x - bpp) & 0xFF else 0
            val up = if (y > 0) raw(prev + x) & 0xFF else 0
            raw(row + x) = (raw(row + x) + ((left + up) >>> 1)).toByte
            x += 1
          }
        case 4 =>
          var x = 0
          while (x < stride) {
            val a = if (x >= bpp) raw(row + x - bpp) & 0xFF else 0
            val b = if (y > 0) raw(prev + x) & 0xFF else 0
            val c = if (x >= bpp && y > 0) raw(prev + x - bpp) & 0xFF else 0
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            raw(row + x) = (raw(row + x) + pred).toByte
            x += 1
          }
        case _ => return false
      }
      y += 1
    }
    true
  }
}

/** `encode_image(dims, pixels)` → png/jpeg bytes. */
case class EncodeImage(left: Expression, right: Expression,
    format: String, quality: Int = 80) extends BinaryExpression {
  require(format == "png" || format == "jpeg", s"format $format")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullSafeEval(dims: Any, data: Any): Any =
    ImageCodec.encodeImage(dims.asInstanceOf[ArrayData],
      data.asInstanceOf[ArrayData], format, quality)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (dims, data) =>
      s"""${ev.value} = graft.codecs.ImageCodec.encodeImage($dims, $data, "$format", $quality);""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "encode_image"
}

/** `decode_image(bin)` → struct<dims: array<int>, data: array<short>>. */
case class DecodeImage(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("dims", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("data", ArrayType(ShortType, containsNull = false), nullable = false)))
  override def nullSafeEval(v: Any): Any =
    ImageCodec.decodeImage(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.codecs.ImageCodec.decodeImage($c);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "decode_image"
}
