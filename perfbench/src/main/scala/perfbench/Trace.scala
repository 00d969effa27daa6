package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call across a layer boundary. `op` groups the spans of
  * one benchmark operation; `parent` is 0 for an operation's root. */
final case class Span(id: Int, op: Int, parent: Int, group: String,
    name: String, layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans, Spark job/task attribution and Hadoop `file` statistics,
  * recorded only while enabled (the traced half of a traced run).
  * Everything is kept in memory and written out once, when the run
  * ends. While disabled every wrapper just runs its body, so untraced
  * timings carry no bookkeeping. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = 0
  private var group = ""
  private val listener = new PhaseListener
  private val phaseTotals = mutable.LinkedHashMap[String, PhaseTotals]()
  private var on = false

  def enabled: Boolean = on

  /** Start tracing; spans recorded from now on belong to `g`. */
  def enable(g: String): Unit = {
    spark.sparkContext.addSparkListener(listener)
    phaseTotals.clear()
    group = g
    on = true
  }

  def disable(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  /** A new benchmark operation: its spans share one id. */
  def op[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else { opId += 1; span(name, layer)(body) }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, opId, parent, group, name, layer, t0,
          System.nanoTime())
        stack = stack.tail
      }
    }

  /** A span that is also a Spark/FS attribution phase: jobs started
    * inside it are tagged with `phase` (a local property the listener
    * reads), and the `file` statistics are differenced around it. */
  def phase[T](phase: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prior = sc.getLocalProperty(PhaseListener.Key)
      sc.setLocalProperty(PhaseListener.Key, phase)
      val fs0 = FsStats.snapshot()
      val t0 = System.currentTimeMillis()
      try span(phase, layer)(body)
      finally {
        val t1 = System.currentTimeMillis()
        val fs1 = FsStats.snapshot()
        sc.setLocalProperty(PhaseListener.Key, prior)
        val pt = phaseTotals.getOrElseUpdate(phase, new PhaseTotals)
        pt.count += 1
        pt.intervals += ((t0, t1))
        pt.fs = pt.fs.plus(fs1.minus(fs0))
      }
    }

  /** Per-phase Spark and FS metrics, each a mean per phase execution. */
  def phaseMetrics(cores: Int): Seq[(String, Double, String)] =
    phaseTotals.toSeq.flatMap { case (p, pt) =>
      val l = listener.totals(p)
      val n = pt.count.toDouble
      val wallMs = pt.intervals.map { case (a, b) => b - a }.sum.toDouble
      val jobMs = pt.intervals.map { case (a, b) =>
        unionMs(l.jobs.toSeq.map { case (s, e) =>
          (math.max(s, a), math.min(e, b)) }.filter(x => x._2 > x._1))
      }.sum.toDouble
      Seq(
        (s"$p.spark.jobs", l.jobs.size / n, "count"),
        (s"$p.spark.driver_gap_s", (wallMs - jobMs) / 1e3 / n, "s"),
        (s"$p.spark.core_util",
          if (wallMs <= 0) 0.0 else l.taskMs / (wallMs * cores), "ratio"),
        (s"$p.spark.shuffle_bytes", l.shuffleBytes / n, "bytes"),
        (s"$p.spark.spill_bytes", l.spillBytes / n, "bytes"),
        (s"$p.fs.list_ops", pt.fs.listOps / n, "count"),
        (s"$p.fs.bytes_read", pt.fs.bytesRead / n, "bytes"),
        (s"$p.fs.bytes_written", pt.fs.bytesWritten / n, "bytes"))
    }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer and operation: each span's duration minus
    * the part of it its child spans cover (children run on the same
    * thread, so they never overlap each other), summed per layer over
    * the operations of group `g`, divided by their number. */
  def selfSecondsPerOp(g: String): Map[String, Double] = {
    val mine = spans.filter(_.group == g)
    val ops = math.max(1, mine.map(_.op).distinct.size)
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    mine.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    mine.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - childNs(s.id)).sum / 1e9 / ops
    }
  }
}

private final class PhaseTotals {
  var count = 0
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
  var fs = FsStats(0, 0, 0)
}

/** Job intervals, task time, shuffle and spill bytes per phase. */
private final class PhaseListener extends SparkListener {
  final class Acc {
    val jobs = mutable.ArrayBuffer[(Long, Long)]()
    var taskMs = 0.0
    var shuffleBytes = 0.0
    var spillBytes = 0.0
  }
  private val jobPhase = mutable.Map[Int, (String, Long)]()
  private val stagePhase = mutable.Map[Int, String]()
  private val acc = mutable.Map[String, Acc]()

  def totals(p: String): Acc = synchronized(acc.getOrElseUpdate(p, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(PhaseListener.Key))).foreach { p =>
      jobPhase(e.jobId) = (p, e.time)
      e.stageIds.foreach(stagePhase(_) = p)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPhase.remove(e.jobId).foreach { case (p, t0) =>
      acc.getOrElseUpdate(p, new Acc).jobs += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { p =>
      val a = acc.getOrElseUpdate(p, new Acc)
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

private object PhaseListener {
  val Key = "perfbench.phase"
}

/** Hadoop statistics of the `file` scheme (bytes) and the listings
  * [[ListCountingFileSystem]] counted — every store URL here is a plain
  * `file:` path, so these cover the stores' I/O (driver and, in local
  * mode, executors alike). */
final case class FsStats(listOps: Long, bytesRead: Long, bytesWritten: Long) {
  def minus(o: FsStats) =
    FsStats(listOps - o.listOps, bytesRead - o.bytesRead,
      bytesWritten - o.bytesWritten)
  def plus(o: FsStats) =
    FsStats(listOps + o.listOps, bytesRead + o.bytesRead,
      bytesWritten + o.bytesWritten)
}

object FsStats {
  def snapshot(): FsStats = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    def l(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    FsStats(ListCountingFileSystem.listings.get, l("bytesRead"),
      l("bytesWritten"))
  }
}
