package perfbench

import scala.collection.mutable

/** Seeded generators shared by the workloads and their oracles: the
  * same (seed, stream) always yields the same values, on the driver
  * and inside Spark tasks alike. */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` uniformly random uint8 values (stored as short, the numpy
    * uint8 convention of the codecs). */
  def pixels(seed: Long, stream: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var s = mix(seed * 0x632BE59BD9B4E019L + stream)
    var i = 0
    while (i < n) {
      s = mix(s)
      var v = s
      var k = 0
      while (k < 8 && i < n) {
        out(i) = (v & 0xFF).toShort
        v >>>= 8; i += 1; k += 1
      }
    }
    out
  }

  /** Position-weighted sum: detects changed values and reordering. */
  def checksum(a: Array[Short]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i).toLong * (i % 65521 + 1); i += 1 }
    s
  }

  def checksum(a: scala.collection.Seq[Short]): Long = {
    var s = 0L
    var i = 0
    val it = a.iterator
    while (it.hasNext) { s += it.next().toLong * (i % 65521 + 1); i += 1 }
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile). Below 21 samples that percentile would not
    * lie above the median; the maximum is reported, as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 21) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Minimal JSON writer (the result file is read by run.py). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}

/** What one workload reports: its correctness tally, the generic
  * end-to-end metrics every workload prints, the issue-named
  * end-to-end metrics it owns, and (traced runs) per-layer metrics. */
final class Outcome(val workload: String) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** name -> (value, unit, note) */
  val e2e = mutable.LinkedHashMap[String, (Double, String, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** The measured loop's unit-operation latencies, in order. */
  var opSeconds: Seq[Double] = Nil
  /** Wall seconds of each stage of the run (prepare, set-ups, ...). */
  val timeline = mutable.LinkedHashMap[String, Double]()

  /** Count one operation; a wrong result counts as failed. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$what: $detail"
    }
  }

  def error(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += s"$what: threw ${e.getClass.getName}: ${e.getMessage}"
  }

  def toJson: String = {
    def m(x: mutable.LinkedHashMap[String, (Double, String, String)]) =
      Json.obj(x.map { case (k, (v, u, n)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)) ++
          (if (n.isEmpty) Nil else Seq("note" -> Json.str(n))))
      })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "op_seconds" -> Json.arr(opSeconds.map(Json.num)),
      "timeline_s" -> Json.obj(timeline.map { case (k, v) => k -> Json.num(v) }),
      "e2e" -> m(e2e),
      "named" -> m(named),
      "layers" -> Json.obj(layers.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}
