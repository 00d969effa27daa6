package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer, val smoke: Boolean, corrupt: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private var corruptionLeft = false

  /** Arm the corruption self-test (if on) for the next workload. */
  def armCorruption(): Unit = corruptionLeft = corrupt

  /** True once per armed workload when the corruption self-test is on:
    * the caller then falsifies one observed result before its check. */
  def corruptNow(): Boolean = {
    val c = corruptionLeft
    corruptionLeft = false
    c
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One closed-loop workload with a single client thread. */
trait Workload {
  def name: String
  def out: Outcome
  /** Generate the seeded inputs under `dir` (untimed: the program
    * receives only the generated frames). */
  def prepare(dir: String): Unit
  /** Build the workload's stores from the prepared inputs under `dir`;
    * timed, and repeated for `setup_s`. */
  def setup(dir: String): Unit
  /** One measured operation: time it, check it, record it. */
  def op(): Unit
  /** Latencies of the unit operation since the last reset. */
  def opSeconds: Seq[Double]
  def resetStats(): Unit
  /** Checks that run after the loop (batched oracles). */
  def verify(): Unit = ()
  /** Issue-named end-to-end metrics, from the untraced loop. */
  def named(): Unit
  /** Layer probes and per-layer metrics, from the traced loop. */
  def layers(): Unit
}

/** Entry point. Runs each named workload: its inputs are generated,
  * then set up several times (the median is `setup_s`), warm-up
  * operations run, then the closed loop for `--seconds`. With
  * `--trace 1` each workload is set up once and its loop runs for a
  * third of `--seconds` untraced, then a third traced; per-layer
  * metrics come from the traced loop and from layer probes after it,
  * and the gap between the two loops is the tracing overhead. */
object Main {
  val Workloads = Seq("hello_world_train", "lineitem_selective_read",
    "orders_cdc_cycle")
  val WarmSeconds = 8.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val names = arg("--workload").split(",").toSeq
      .flatMap(n => if (n == "all") Workloads else Seq(n))
    names.foreach(n => require(Workloads.contains(n), s"unknown workload $n"))
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = arg("--work")
    val smoke = args.get("--smoke").contains("1")
    val corrupt = args.get("--corrupt").contains("1")

    val spark = graft.GraftSession.build("perfbench")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, work, tracer, smoke, corrupt)
    val outcomes = names.map { n =>
      val w: Workload = n match {
        case "hello_world_train" => new HelloWorldTrain(ctx)
        case "lineitem_selective_read" => new LineitemSelectiveRead(ctx)
        case "orders_cdc_cycle" => new OrdersCdcCycle(ctx)
      }
      run(ctx, w, seconds, trace)
      w.out
    }
    val evidence = Json.obj(Seq(
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "master" -> Json.str(spark.sparkContext.master),
      "cores" -> ctx.cores.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString))
    val spans = tracer.all
    Files.writeString(Paths.get(arg("--out")), Json.obj(Seq(
      "evidence" -> evidence,
      "spans" -> spans.size.toString,
      "workloads" -> Json.arr(outcomes.map(_.toJson)))))
    if (trace) Files.writeString(Paths.get(arg("--out") + ".spans.jsonl"),
      spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
          "parent" -> s.parent.toString, "group" -> Json.str(s.group),
          "name" -> Json.str(s.name),
          "layer" -> Json.str(s.layer), "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString))
      }.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def loop(w: Workload, seconds: Double, minOps: Int): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.op(); n += 1
    }
  }

  private def run(ctx: Ctx, w: Workload, seconds: Double,
      trace: Boolean): Unit = {
    val base = s"${ctx.work}/${w.name}"
    def stage[T](name: String)(body: => T): T = {
      val (r, s) = ctx.timed(body)
      w.out.timeline(name) = s
      r
    }
    ctx.armCorruption()
    stage("prepare")(w.prepare(s"$base/input"))
    val setups = if (trace || ctx.smoke) 1 else 5
    val setupS = (1 to setups).map { i =>
      val dir = s"$base/setup$i"
      val s = stage(s"setup$i")(ctx.timed(w.setup(dir))._2)
      if (i < setups) deleteTree(dir)
      s
    }
    // warm-up until the JIT has settled: checked, but kept out of the
    // loop's latencies (epochs and cycles still speed up for several
    // seconds after the first one)
    stage("warm")(loop(w, if (ctx.smoke) 0 else WarmSeconds, minOps = 1))
    w.resetStats()
    if (!trace) {
      stage("loop")(loop(w, seconds, minOps = 3))
      stage("verify")(w.verify())
      val ops = w.opSeconds
      w.out.opSeconds = ops
      val (tail, pct) = Stats.tail(ops)
      w.out.e2e("setup_s") = (Stats.median(setupS), "s",
        s"median of $setups set-ups")
      w.out.e2e("op_s.p50") = (Stats.median(ops), "s", s"n=${ops.size}")
      w.out.named("op_s.tail") = (tail, "s", f"p$pct%.1f of n=${ops.size}")
      w.named()
      w.out.named("setup_s") = w.out.e2e("setup_s")
    } else {
      // the same loop untraced, then traced: the gap is the overhead
      stage("untraced")(loop(w, seconds / 3, minOps = 1))
      val untraced = Stats.median(w.opSeconds)
      w.resetStats()
      ctx.tracer.enable(w.name)
      stage("loop")(loop(w, seconds / 3, minOps = 1))
      ctx.tracer.disable()
      stage("verify")(w.verify())
      w.out.opSeconds = w.opSeconds
      val traced = Stats.median(w.opSeconds)
      w.out.layers(s"trace.op_s.p50.${w.name}") = (traced, "s")
      w.out.layers(s"trace.overhead.${w.name}") = (traced / untraced - 1, "ratio")
      ctx.tracer.phaseMetrics(ctx.cores).foreach { case (k, v, u) =>
        w.out.layers(k) = (v, u)
      }
      ctx.tracer.selfSecondsPerOp(w.name).foreach { case (l, s) =>
        w.out.layers(s"self_s_per_op.${w.name}.$l") = (s, "s")
      }
      stage("layers")(w.layers())
    }
    val share = w.out.failed.toDouble / math.max(1, w.out.attempted)
    w.out.named("failed_share") = (share, "ratio",
      s"${w.out.failed} of ${w.out.attempted}")
    deleteTree(base)
  }

  def deleteTree(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
  }
}
