package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** One row of the `orders` store; every value is a function of
  * (seed, key, rev), so the benchmark's model can recompute any row. */
final case class Order(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Long, o_orderdate: java.sql.Date,
    o_orderpriority: String, o_clerk: String, o_shippriority: Int,
    o_comment: String)

/** An upsert batch row: an [[Order]] plus the delete flag. */
final case class OrderChange(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Long, o_orderdate: java.sql.Date,
    o_orderpriority: String, o_clerk: String, o_shippriority: Int,
    o_comment: String, _delete: Boolean)

/** The snapshot store used for writes beside reads. Each cycle runs an
  * exactly-once append of new keys, a seeded upsert batch (updates,
  * deletes and inserts in one key window, pruned through the bloom
  * sidecar), a sidecar refresh, the change feed from the cycle's first
  * version to its last, a range read of the head, then maintenance:
  * small files compacted and old versions vacuumed. (A run holds only
  * a few cycles, so maintenance runs in each; with every second cycle
  * the median would flip with the parity of the cycle count. The next
  * cycle's refresh indexes the compacted files.) A model
  * of the head, kept by the benchmark, checks every step. */
final class OrdersCdcCycle(ctx: Ctx) extends Workload {
  import OrdersCdcCycle._
  val name = "orders_cdc_cycle"
  val out = new Outcome(name)
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val initial = if (ctx.smoke) 5000L else 20000L
  private val files = if (ctx.smoke) 4 else 8
  private val (nAppend, nUpdate, nDelete, nInsert) =
    if (ctx.smoke) (20, 20, 5, 5) else (200, 200, 50, 50)
  private val window = if (ctx.smoke) 500L else 2000L

  private var url = ""
  private val rng = new scala.util.Random(seed)
  /** The model: live key -> revision, live keys for sampling, sums. */
  private val revs = mutable.LongMap[Int]()
  private val live = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L
  private var cycle = 0
  private var sums = Sums.Zero
  private var refreshedFiles = Set.empty[String]

  private val cycleS, appendS, upsertS, refreshS, changesS, readS =
    mutable.ArrayBuffer[Double]()
  private val compactS, vacuumS, resolveS = mutable.ArrayBuffer[Double]()
  private val rewritten, usefulRewrites, changedFiles, parts, scanned =
    mutable.ArrayBuffer[Double]()
  private var bytesWritten = 0L
  private var userBytes = 0L
  private var spaceAmp = Double.NaN

  def opSeconds: Seq[Double] = cycleS.toSeq
  def resetStats(): Unit =
    Seq(cycleS, appendS, upsertS, refreshS, changesS, readS, compactS,
      vacuumS, resolveS, rewritten, usefulRewrites, changedFiles, parts,
      scanned).foreach(_.clear())

  private var src = ""

  def prepare(dir: String): Unit = {
    import spark.implicits._
    src = s"$dir/orders"
    val s = seed
    spark.range(1, initial + 1).as[Long].map(k => order(s, k, 0))
      .write.parquet(src)
    (1L to initial).foreach { k => revs(k) = 0; live += k }
    nextKey = initial + 1
    sums = (1L to initial).foldLeft(Sums.Zero)((a, k) => a + Sums.of(order(seed, k, 0)))
  }

  def setup(dir: String): Unit = {
    url = s"$dir/orders"
    Snapshots.create(spark, url, spark.read.parquet(src),
      nFiles = files, clusterBy = Some("o_orderkey"))
    Snapshots.indexStats(spark, url, Seq("o_orderkey"))
    Snapshots.indexBloom(spark, url, Seq("o_orderkey"),
      expectedPerFile = 2 * initial / files)
    refreshedFiles = head().files.toSet
  }

  private def head(): Snapshots.Snap = {
    val (s, t) = ctx.timed(ctx.tracer.span("resolve", "snapshots")(
      Snapshots.snap(spark, url, Snapshots.latest(spark, url))))
    resolveS += t
    s
  }

  private def phase[T](p: String, layer: String, into: mutable.ArrayBuffer[Double])(
      body: => T): T = {
    val (r, s) = ctx.timed(ctx.tracer.phase(p, "bench")(
      ctx.tracer.span(p, layer)(body)))
    into += s
    r
  }

  def op(): Unit = {
    cycle += 1
    try ctx.tracer.op("cdc.cycle", "bench")(runCycle())
    catch { case e: Exception => out.error(s"cycle $cycle", e) }
  }

  private def runCycle(): Unit = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val fs0 = FsStats.snapshot()
    val prev = head()

    // 1. exactly-once append of new keys
    val appended = (0 until nAppend).map(_ => { nextKey += 1; nextKey - 1 })
    val appendRows = appended.map(k => order(seed, k, 0))
    phase("cdc.append", "snapshots", appendS)(Snapshots.appendOnce(spark, url,
      appendRows.toDF(), s"s${seed}c$cycle", nFiles = 1))

    // 2. upsert: updates and deletes drawn from one key window of the
    //    keys live before the cycle (CDC locality), plus new inserts
    val lo = live(rng.nextInt(live.size))
    val inWindow = live.filter(k => k >= lo && k < lo + window)
    val picked = rng.shuffle(inWindow.toSeq).take(nUpdate + nDelete)
    val (updated, deleted) =
      picked.splitAt(picked.size * nUpdate / (nUpdate + nDelete))
    val inserted = (0 until nInsert).map(_ => { nextKey += 1; nextKey - 1 })
    val batch = updated.map(k => change(order(seed, k, revs(k) + 1), false)) ++
      deleted.map(k => change(order(seed, k, revs(k)), true)) ++
      inserted.map(k => change(order(seed, k, 0), false))
    val beforeUpsert = head()
    phase("cdc.upsert", "snapshots", upsertS)(Snapshots.upsert(spark, url,
      batch.toDF(), "o_orderkey", Some("_delete"),
      Some(Snapshots.bloomSidecarUrl(spark, url))))
    val afterUpsert = head()
    // traced runs: how many rewritten files held a changed key — read
    // before the vacuum below deletes them, and kept out of the cycle
    val probeS = if (!ctx.tracer.enabled) 0L else ctx.timed {
      val dropped = beforeUpsert.files.toSet -- afterUpsert.files
      rewritten += dropped.size
      if (dropped.nonEmpty) {
        val keys = (updated ++ deleted).map(Long.box)
        usefulRewrites += spark.read
          .parquet(dropped.toSeq.map(f => s"$url/$f"): _*)
          .filter(col("o_orderkey").isin(keys: _*))
          .select(input_file_name()).distinct().count().toDouble
      }
    }._2

    // 3. sidecars
    phase("cdc.refresh", "sidecar", refreshS)(Snapshots.refreshSidecars(spark, url))

    // 4. change feed of the whole cycle, consumed
    val feed = phase("cdc.changes", "snapshots", changesS) {
      Snapshots.changes(spark, url, "o_orderkey", prev.version, afterUpsert.version)
        .groupBy("_change").agg(count(lit(1)), sum("o_totalprice"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }

    // 5. range read of the head, consumed
    val rlo = 1 + (rng.nextDouble() * nextKey).toLong
    val rhi = rlo + window
    val read = phase("cdc.read", "snapshots", readS) {
      Snapshots.readWhere(spark, url, "o_orderkey", rlo, rhi)
        .agg(count(lit(1)), coalesce(sum("o_orderkey"), lit(0L)),
          coalesce(sum("o_totalprice"), lit(0L))).head()
    }

    // maintenance: pack small files, drop older versions
    {
      val (_, c) = ctx.timed(ctx.tracer.span("compactSmall", "sidecar")(
        Snapshots.compactSmall(spark, url, smallBytes = SmallBytes,
          clusterBy = Some("o_orderkey"))))
      compactS += c
      val (_, v) = ctx.timed(ctx.tracer.span("vacuum", "sidecar")(
        Snapshots.vacuum(spark, url, Snapshots.latest(spark, url), graceMs = 0)))
      vacuumS += v
    }
    cycleS += (System.nanoTime() - t0) / 1e9 - probeS
    val written = FsStats.snapshot().minus(fs0).bytesWritten

    // the expected feed (from the model before this cycle), the model
    // update, then the checks — all outside the timed cycle
    val wantFeed = Map(
      "insert" -> ((appended ++ inserted).size.toLong,
        (appended ++ inserted).map(k => order(seed, k, 0).o_totalprice).sum),
      "update" -> (updated.size.toLong,
        updated.map(k => order(seed, k, revs(k) + 1).o_totalprice).sum),
      "delete" -> (deleted.size.toLong,
        deleted.map(k => order(seed, k, revs(k)).o_totalprice).sum))
      .filter(_._2._1 > 0)
    appended.foreach { k => revs(k) = 0; live += k; sums += Sums.of(order(seed, k, 0)) }
    updated.foreach { k =>
      sums -= Sums.of(order(seed, k, revs(k)))
      revs(k) += 1
      sums += Sums.of(order(seed, k, revs(k)))
    }
    deleted.foreach { k => sums -= Sums.of(order(seed, k, revs(k))); revs -= k }
    val gone = deleted.toSet
    live.filterInPlace(k => !gone(k))
    inserted.foreach { k => revs(k) = 0; live += k; sums += Sums.of(order(seed, k, 0)) }

    val inRange = revs.keys.filter(k => k >= rlo && k <= rhi).toSeq
    val wantRead = (inRange.size.toLong, inRange.sum,
      inRange.map(k => order(seed, k, revs(k)).o_totalprice).sum)
    val gotRead = (read.getLong(0), read.getLong(1), read.getLong(2))
    val headSums = Sums.ofFrame(Snapshots.read(spark, url))
    val gotHead = if (ctx.corruptNow()) headSums.copy(count = headSums.count + 1)
      else headSums
    out.check(s"cycle $cycle",
      feed == wantFeed && gotRead == wantRead && gotHead == sums,
      s"feed $feed vs $wantFeed; read $gotRead vs $wantRead; " +
        s"head $gotHead vs $sums")

    if (ctx.tracer.enabled) {
      changedFiles += (prev.files.toSet -- afterUpsert.files).size +
        (afterUpsert.files.toSet -- prev.files).size
      val root = new Path(url)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // committed generation parts of the stats and bloom sidecars
      parts += Seq("_stats/filestats", "_bloom/keybloom").map { d =>
        val p = new Path(root, d)
        if (!fs.exists(p)) 0
        else fs.listStatus(p).count { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      }.sum
      val now = head().files.toSet
      scanned += (now -- refreshedFiles).size
      refreshedFiles = now
      bytesWritten += written
      userBytes += (appendRows ++ batch.map(unflag)).map(Sums.userBytes).sum
    }
    if (spaceAmp.isNaN) spaceAmp = amplification()
  }

  /** Bytes under the store root over bytes of the head's live files. */
  private def amplification(): Double = {
    val root = new Path(url)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val liveBytes = head().files.map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
    fs.getContentSummary(root).getLength.toDouble / liveBytes
  }

  def named(): Unit = {
    val (tail, pct) = Stats.tail(cycleS.toSeq)
    out.named("cycle_s.p50") = (Stats.median(cycleS.toSeq), "s", s"n=${cycleS.size}")
    out.named("cycle_s.tail") = (tail, "s", f"p$pct%.1f of n=${cycleS.size}")
    out.named("upsert_s.p50") = (Stats.median(upsertS.toSeq), "s", "")
    out.named("append_s.p50") = (Stats.median(appendS.toSeq), "s", "")
    out.named("changes_s.p50") = (Stats.median(changesS.toSeq), "s", "")
    out.named("snapshot_read_s.p50") = (Stats.median(readS.toSeq), "s", "")
    out.named("space_amplification") = (spaceAmp, "ratio",
      "after the first cycle")
  }

  def layers(): Unit = {
    def med(xs: mutable.ArrayBuffer[Double]) =
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    out.layers("snapshots.resolve_s.cdc") = (med(resolveS), "s")
    out.layers("upsert.files_rewritten") = (med(rewritten), "count")
    out.layers("upsert.useful_ratio") =
      (usefulRewrites.sum / math.max(1.0, rewritten.sum), "ratio")
    out.layers("changes.files_read") = (med(changedFiles), "count")
    out.layers("store.write_amplification") =
      (bytesWritten.toDouble / math.max(1L, userBytes), "ratio")
    out.layers("sidecar.refresh_s") = (med(refreshS), "s")
    out.layers("sidecar.parts") = (med(parts), "count")
    out.layers("sidecar.files_scanned") = (med(scanned), "count")
    out.layers("maintenance.compact_s") = (med(compactS), "s")
    out.layers("maintenance.vacuum_s") = (med(vacuumS), "s")
  }
}

object OrdersCdcCycle {
  val SmallBytes: Long = 256L << 10

  private val Status = Array("O", "F", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def order(seed: Long, key: Long, rev: Int): Order = {
    val h = Gen.mix(seed * 0x2545F4914F6CDD1DL + key * 131 + rev)
    val g = Gen.mix(h)
    Order(key, 1 + (h & 0xFFFF), Status((g & 3).toInt % 3),
      100 + ((h >>> 16) & 0xFFFFFF),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8035 + (g >>> 8) % 2400)),
      Priority(((g >>> 20) % 5).toInt),
      f"Clerk#${(g >>> 30) % 1000}%09d", 0,
      s"rev $rev of order $key " + "x" * ((g >>> 40) % 40).toInt)
  }

  def change(o: Order, delete: Boolean): OrderChange =
    OrderChange(o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
      o.o_orderdate, o.o_orderpriority, o.o_clerk, o.o_shippriority,
      o.o_comment, delete)

  def unflag(c: OrderChange): Order =
    Order(c.o_orderkey, c.o_custkey, c.o_orderstatus, c.o_totalprice,
      c.o_orderdate, c.o_orderpriority, c.o_clerk, c.o_shippriority,
      c.o_comment)

  /** The head checksum the model and the store must agree on. */
  final case class Sums(count: Long, keys: Long, prices: Long, custs: Long,
      commentChars: Long) {
    def +(o: Sums) = Sums(count + o.count, keys + o.keys, prices + o.prices,
      custs + o.custs, commentChars + o.commentChars)
    def -(o: Sums) = Sums(count - o.count, keys - o.keys, prices - o.prices,
      custs - o.custs, commentChars - o.commentChars)
  }

  object Sums {
    val Zero = Sums(0, 0, 0, 0, 0)
    def of(o: Order) = Sums(1, o.o_orderkey, o.o_totalprice, o.o_custkey,
      o.o_comment.length)
    def ofFrame(df: org.apache.spark.sql.DataFrame): Sums = {
      val r = df.agg(count(lit(1)), sum("o_orderkey"), sum("o_totalprice"),
        sum("o_custkey"), sum(length(col("o_comment")))).head()
      Sums(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    /** Raw bytes a user hands over for one row. */
    def userBytes(o: Order): Long =
      8 + 8 + o.o_orderstatus.length + 8 + 4 + o.o_orderpriority.length +
        o.o_clerk.length + 4 + o.o_comment.length
  }
}
