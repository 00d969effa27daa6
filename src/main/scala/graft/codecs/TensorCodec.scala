package graft.codecs

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Portable binary tensor layout — our NdarrayCodec equivalent
  * (reference semantics: codecs.py:133-212; byte-compat with numpy
  * `.npy` is explicitly a non-goal, see SURVEY §7.2).
  *
  * Layout (little-endian payload; header fields as noted):
  * {{{
  *   magic   4B  the literal bytes 'G','R','T','1'
  *   dtype   1B  code (see Dtype)
  *   flags   1B  bit0 = deflate-compressed payload
  *   ndim    1B
  *   dims    ndim × int32 (little-endian)
  *   payload raw element bytes, C-order (deflated if flag set)
  * }}}
  *
  * Unsigned numpy dtypes widen to the next signed Spark type exactly
  * like the reference (unischema.py:128-154): uint8→Short,
  * uint16→Int, uint32→Long — but are STORED at their natural width
  * (1/2/4 bytes), masked back to non-negative values on decode.
  */
object Dtype {
  final case class Spec(code: Byte, width: Int, sparkType: DataType)
  val ByName: Map[String, Spec] = Map(
    "int8"    -> Spec(1, 1, ByteType),
    "int16"   -> Spec(2, 2, ShortType),
    "int32"   -> Spec(3, 4, IntegerType),
    "int64"   -> Spec(4, 8, LongType),
    "float32" -> Spec(5, 4, FloatType),
    "float64" -> Spec(6, 8, DoubleType),
    "uint8"   -> Spec(7, 1, ShortType),
    "uint16"  -> Spec(8, 2, IntegerType),
    "uint32"  -> Spec(9, 4, LongType),
    "bool"    -> Spec(10, 1, BooleanType))
  val ByCode: Map[Byte, (String, Spec)] =
    ByName.map { case (n, s) => s.code -> (n, s) }
  def apply(name: String): Spec = ByName.getOrElse(name,
    throw new IllegalArgumentException(s"unknown tensor dtype: $name"))
  def name(code: Byte): String = ByCode(code)._1

  /** Signed dtype name for a Spark element type (the unsigned names
    * are only reachable by declaring them explicitly). */
  def forSparkType(dt: DataType): String = dt match {
    case ByteType    => "int8"
    case ShortType   => "int16"
    case IntegerType => "int32"
    case LongType    => "int64"
    case FloatType   => "float32"
    case DoubleType  => "float64"
    case BooleanType => "bool"
    case t => throw new IllegalArgumentException(s"no tensor dtype for $t")
  }
}

object TensorCodec {
  private val MagicBytes = Array[Byte]('G', 'R', 'T', '1')
  private val HeaderLen = 7

  /** Encode an ArrayData of elements (in the dtype's *Spark* logical
    * type) into the GRT1 binary layout. Static (codegen-callable). */
  def encodeFromArrays(dims: ArrayData, data: ArrayData, code: Byte,
      compressed: Boolean): Array[Byte] = {
    val spec = Dtype.ByCode(code)._2
    val d = dims.toIntArray()
    val n = data.numElements()
    if (d.nonEmpty) {
      var prod = 1L
      d.foreach(x => prod *= x)
      require(prod == n, s"shape ${d.mkString("x")} does not match $n elements")
    }
    val byteLen = n.toLong * spec.width
    require(byteLen <= Int.MaxValue - 64L,
      s"tensor too large: $byteLen bytes (max ~2GB per cell)")
    val payload = ByteBuffer.allocate(byteLen.toInt).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    code match {
      case 1  => while (i < n) { payload.put(data.getByte(i)); i += 1 }
      case 2  => while (i < n) { payload.putShort(data.getShort(i)); i += 1 }
      case 3  => while (i < n) { payload.putInt(data.getInt(i)); i += 1 }
      case 4  => while (i < n) { payload.putLong(data.getLong(i)); i += 1 }
      case 5  => while (i < n) { payload.putFloat(data.getFloat(i)); i += 1 }
      case 6  => while (i < n) { payload.putDouble(data.getDouble(i)); i += 1 }
      case 7  => while (i < n) { payload.put((data.getShort(i) & 0xFF).toByte); i += 1 }
      case 8  => while (i < n) { payload.putShort((data.getInt(i) & 0xFFFF).toShort); i += 1 }
      case 9  => while (i < n) { payload.putInt((data.getLong(i) & 0xFFFFFFFFL).toInt); i += 1 }
      case 10 => while (i < n) { payload.put(if (data.getBoolean(i)) 1.toByte else 0.toByte); i += 1 }
      case c  => throw new IllegalStateException(s"unsupported dtype code $c")
    }
    val raw = payload.array()
    // writer-side heuristic (decode honors the per-cell flag, so this
    // is free to vary): payloads under MinDeflateLen are stored raw
    // without even attempting deflate — the stream overhead (~11B)
    // means tiny real-valued cells essentially never win, and the
    // attempt would cost a deflate on every write AND an inflate on
    // every read; larger payloads try and keep whichever is smaller
    // (an EXPANDED "compressed" cell would be strictly worse than raw).
    val body =
      if (!compressed || raw.length < MinDeflateLen) raw
      else {
        val z = deflate(raw)
        if (z.length < raw.length) z else raw
      }
    val flagCompressed = compressed && (body ne raw)
    val out = ByteBuffer.allocate(HeaderLen + 4 * d.length + body.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(MagicBytes)
    out.put(code)
    out.put(if (flagCompressed) 1.toByte else 0.toByte)
    out.put(d.length.toByte)
    d.foreach(out.putInt)
    out.put(body)
    out.array()
  }

  /** Below this payload size deflate is never attempted (see
    * [[encodeFromArrays]]). */
  val MinDeflateLen = 64

  def encode(dtype: String, dims: Array[Int], data: ArrayData,
      compressed: Boolean): Array[Byte] =
    encodeFromArrays(new GenericArrayData(dims.map(i => i: Any)), data,
      Dtype(dtype).code, compressed)

  /** Decode into `struct<dims: array<int>, data: array<T>>` as an
    * InternalRow. Validates magic, dtype, and that the payload length
    * equals dims-product × element-width. Element arrays are built
    * from primitive arrays (zero boxing). Static (codegen-callable). */
  def decodeStruct(bytes: Array[Byte], expectedCode: Byte): InternalRow = {
    require(bytes.length >= HeaderLen, "truncated GRT1 tensor")
    require(bytes(0) == 'G' && bytes(1) == 'R' && bytes(2) == 'T' && bytes(3) == '1',
      "not a GRT1 tensor")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(4)
    val code = buf.get()
    require(code == expectedCode,
      s"stored dtype ${Dtype.name(code)} != requested ${Dtype.name(expectedCode)}")
    val flags = buf.get()
    val ndim = buf.get().toInt
    val dims = Array.fill(ndim)(buf.getInt())
    val spec = Dtype.ByCode(code)._2
    // an uncompressed payload is read where it lies, never copied
    val p =
      if ((flags & 1) != 0) ByteBuffer.wrap(inflate(bytes, buf.position()))
      else buf.slice()
    p.order(ByteOrder.LITTLE_ENDIAN)
    val bodyLen = p.remaining()
    require(bodyLen % spec.width == 0,
      s"payload ${bodyLen}B not a multiple of element width ${spec.width}")
    val n = bodyLen / spec.width
    if (ndim > 0) {
      var prod = 1L
      dims.foreach(x => prod *= x)
      require(prod == n, s"payload has $n elements but dims say $prod")
    }
    // native-width dtypes fill with one typed-buffer bulk get each
    val data: ArrayData = code match {
      case 1 =>
        val a = new Array[Byte](n); p.get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 2 =>
        val a = new Array[Short](n); p.asShortBuffer().get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 3 =>
        val a = new Array[Int](n); p.asIntBuffer().get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 4 =>
        val a = new Array[Long](n); p.asLongBuffer().get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 5 =>
        val a = new Array[Float](n); p.asFloatBuffer().get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 6 =>
        val a = new Array[Double](n); p.asDoubleBuffer().get(a)
        UnsafeArrayData.fromPrimitiveArray(a)
      case 7 =>
        val a = new Array[Short](n)
        var i = 0; while (i < n) { a(i) = (p.get() & 0xFF).toShort; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case 8 =>
        val a = new Array[Int](n)
        var i = 0; while (i < n) { a(i) = p.getShort() & 0xFFFF; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case 9 =>
        val a = new Array[Long](n)
        var i = 0; while (i < n) { a(i) = p.getInt() & 0xFFFFFFFFL; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case 10 =>
        val a = new Array[Boolean](n)
        var i = 0; while (i < n) { a(i) = p.get() != 0; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(a)
      case c => throw new IllegalStateException(s"unsupported dtype code $c")
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(dims), data)
  }

  /** @return (dtypeName, dims, elements) — test-friendly view. */
  def decode(bytes: Array[Byte]): (String, Array[Int], ArrayData) = {
    require(bytes.length >= HeaderLen, "truncated GRT1 tensor")
    val code = bytes(4)
    val row = decodeStruct(bytes, code)
    (Dtype.name(code), row.getArray(0).toIntArray(), row.getArray(1))
  }

  // (De|In)flaters are reused per task thread via reset() — per-cell
  // native allocation dominated the cost for small tensor payloads
  // (one new Deflater per ROW). BEST_SPEED: the format flag only says
  // "deflate stream"; level is a writer-side choice, and for numeric
  // tensor bytes level 1 compresses nearly as well at a fraction of
  // the cpu (measured on q18's 4-double cells).
  private val deflaterTL = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(Deflater.BEST_SPEED)
  }
  private val inflaterTL = new ThreadLocal[Inflater] {
    override def initialValue(): Inflater = new Inflater()
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = deflaterTL.get()
    d.reset()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    out.toByteArray
  }

  /** Inflate `b` from offset `off` to its end. */
  private def inflate(b: Array[Byte], off: Int): Array[Byte] = {
    val inf = inflaterTL.get()
    inf.reset()
    inf.setInput(b, off, b.length - off)
    val out = new java.io.ByteArrayOutputStream((b.length - off) * 3 + 64)
    val tmp = new Array[Byte](8192)
    while (!inf.finished()) {
      val k = inf.inflate(tmp)
      if (k == 0 && inf.needsInput()) throw new IllegalStateException("truncated deflate stream")
      out.write(tmp, 0, k)
    }
    out.toByteArray
  }
}

/** `encode_tensor(dims, data)` → binary. Null-safe: null in either
  * input yields null (parity with explicit-null insertion,
  * unischema.py:409-424). Codegen'd: emits a static call, so it stays
  * inside whole-stage codegen. */
case class EncodeTensor(left: Expression, right: Expression,
    dtype: String, compressed: Boolean)
    extends BinaryExpression {
  private val spec = Dtype(dtype)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullSafeEval(dims: Any, data: Any): Any =
    TensorCodec.encodeFromArrays(dims.asInstanceOf[ArrayData],
      data.asInstanceOf[ArrayData], spec.code, compressed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (dims, data) =>
      s"${ev.value} = graft.codecs.TensorCodec.encodeFromArrays(" +
        s"$dims, $data, (byte) ${spec.code}, $compressed);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "encode_tensor"
}

/** `decode_tensor(bin)` → struct<dims: array<int>, data: array<T>>.
  * The flat data+dims representation (instead of nested arrays) keeps
  * decode allocation-light and lets fixed-shape consumers reshape
  * lazily — at 100 TB the decode is the hot loop, so elements land in
  * UnsafeArrayData built from primitive arrays (no per-element
  * boxing) and the call is codegen'd (no CodegenFallback). */
case class DecodeTensor(child: Expression, dtype: String)
    extends UnaryExpression {
  private val spec = Dtype(dtype)
  override def dataType: DataType = StructType(Seq(
    StructField("dims", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("data", ArrayType(spec.sparkType, containsNull = false), nullable = false)))
  override def nullSafeEval(v: Any): Any =
    TensorCodec.decodeStruct(v.asInstanceOf[Array[Byte]], spec.code)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.codecs.TensorCodec.decodeStruct($c, (byte) ${spec.code});")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "decode_tensor"
}
