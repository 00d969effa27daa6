package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftRead, RowGroupIndex, Snapshots}

/** `make_batch_reader`-style scalar reads with pruning: a seeded,
  * round-robin mix of narrow and wide `.range`, `.bloomIndex` key-set
  * lookups, an unprunable `.predicate` and a `.fields().shard()` read
  * over a `lineitem` store clustered on `l_orderkey` with stats and
  * bloom sidecars. Each query is consumed by a checksum aggregate
  * over every returned column; after the loop, one unpruned pass over
  * the plain source parquet answers every query as the oracle. */
final class LineitemSelectiveRead(ctx: Ctx) extends Workload {
  import LineitemSelectiveRead._
  val name = "lineitem_selective_read"
  val out = new Outcome(name)
  private val spark = ctx.spark
  private val rows = if (ctx.smoke) 20000L else 100000L
  private val orders = rows / 4
  private val files = if (ctx.smoke) 8 else 16
  private val shards = 8

  private var src = ""
  private var url = ""
  private var bloomUrl = ""
  private val rng = new scala.util.Random(ctx.seed)
  private var issued = 0
  /** (query, observed count, observed checksum) of every query run. */
  private val results = mutable.ArrayBuffer[(Query, Long, Long)]()
  private val queryS = mutable.ArrayBuffer[Double]()
  private val planS = mutable.ArrayBuffer[Double]()
  private val probeS = mutable.ArrayBuffer[Double]()
  private val resolveS = mutable.ArrayBuffer[Double]()
  private val admitted = mutable.ArrayBuffer[(Query, Seq[String])]()

  def opSeconds: Seq[Double] = queryS.toSeq
  def resetStats(): Unit = { queryS.clear(); planS.clear() }

  def prepare(dir: String): Unit = {
    src = s"$dir/source"
    generate(spark, ctx.seed, rows).write.mode("overwrite").parquet(src)
  }

  def setup(dir: String): Unit = {
    url = s"$dir/store"
    Snapshots.create(spark, url, spark.read.parquet(src), nFiles = files,
      clusterBy = Some("l_orderkey"))
    Snapshots.indexStats(spark, url, Seq("l_orderkey"))
    Snapshots.indexBloom(spark, url, Seq("l_orderkey"),
      expectedPerFile = 2 * rows / files)
    bloomUrl = Snapshots.bloomSidecarUrl(spark, url)
  }

  /** The next query of the seeded mix; kinds rotate so every run's
    * median sees the same proportions. */
  private def next(): Query = {
    issued += 1
    def key() = 1 + (rng.nextDouble() * orders).toLong
    (issued - 1) % 5 match {
      case 0 => val lo = key(); Narrow(issued, lo, lo + orders / 1000)
      case 1 => Bloom(issued, Seq.fill(20)(key()).distinct.sorted)
      case 2 => val lo = key(); Wide(issued, lo, lo + orders / 5)
      case 3 => Unprunable(issued, 1 + rng.nextInt(50))
      case _ => Shard(issued, rng.nextInt(shards), shards)
    }
  }

  private def reader(q: Query): GraftRead = {
    val r = GraftRead.reader(spark, url)
    q match {
      case Narrow(_, lo, hi) => r.range("l_orderkey", lo, hi)
      case Wide(_, lo, hi) => r.range("l_orderkey", lo, hi)
      case Bloom(_, keys) =>
        r.bloomIndex(bloomUrl, "l_orderkey", keys).predicate(q.pred)
      case Unprunable(_, _) => r.predicate(q.pred)
      case Shard(_, i, n) => r.fields(ShardFields: _*).shard(i, n)
    }
  }

  def op(): Unit = {
    val q = next()
    try ctx.tracer.op("read.query", "bench") {
      val ((cnt, sum), s) = ctx.timed(ctx.tracer.phase("read.query", "bench") {
        val (df, plan) = ctx.timed(
          ctx.tracer.span("GraftRead.load", "reader")(reader(q).load()))
        planS += plan
        ctx.tracer.span("checksum", "spark")(checksum(df, q.cols))
      })
      queryS += s
      results += ((q, cnt, if (ctx.corruptNow()) sum + 1 else sum))
      if (ctx.tracer.enabled) probe(q)
    } catch { case e: Exception => out.error(s"query ${q.id}", e) }
  }

  /** Traced runs only: time the pruning calls the query made, from
    * outside, and keep the admitted files for the useful ratio. */
  private def probe(q: Query): Unit = {
    val (v, rs) = ctx.timed(ctx.tracer.span("resolve", "snapshots") {
      Snapshots.snap(spark, url, Snapshots.latest(spark, url)).version
    })
    resolveS += rs
    q match {
      case _: Narrow | _: Wide | _: Bloom =>
        val (fs, s) = ctx.timed(ctx.tracer.span("prune", "snapshots")(q match {
          case Bloom(_, keys) => RowGroupIndex.bloomSelectedFiles(spark, url,
            bloomUrl, "l_orderkey", keys)
          case Narrow(_, lo, hi) =>
            Snapshots.prunedFiles(spark, url, v, "l_orderkey", lo, hi)
          case Wide(_, lo, hi) =>
            Snapshots.prunedFiles(spark, url, v, "l_orderkey", lo, hi)
          case _ => Nil
        }))
        probeS += s
        admitted += ((q, fs))
      case _ =>
    }
  }

  override def verify(): Unit = {
    // the oracle scans with parquet filter pushdown off: no pruning of
    // any kind stands between it and the source rows
    val plain = spark.newSession()
    plain.conf.set("spark.sql.parquet.filterPushdown", "false")
    val source = plain.read.parquet(src)
    val filtered = results.map(_._1).filterNot(_.isInstanceOf[Shard]).distinct
    val want = mutable.Map[Int, (Long, Long)]()
    filtered.grouped(200).foreach { qs =>
      val tags = array(qs.map(q => when(q.pred, lit(q.id))).toSeq: _*)
      source.select(rowHash(AllCols).as("h"), explode(tags).as("q"))
        .filter(col("q").isNotNull)
        .groupBy("q").agg(count(lit(1)), sum(col("h")))
        .collect().foreach(r => want(r.getInt(0)) = (r.getLong(1), r.getLong(2)))
    }
    // a shard is a set of store files by listing position; the oracle
    // reads those files plainly and checks the rows the reader served
    val head = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
    val listing = head.files.sorted.map(f => s"$url/$f")
    results.map(_._1).collect { case s: Shard => (s.i, s.n) }.distinct.foreach {
      case (i, n) =>
        val mine = listing.zipWithIndex.collect { case (f, k) if k % n == i => f }
        val r = plain.read.parquet(mine: _*)
          .agg(count(lit(1)), coalesce(sum(rowHash(ShardFields)), lit(0L))).head()
        results.collect { case (s: Shard, _, _) if s.i == i && s.n == n => s.id }
          .foreach(id => want(id) = (r.getLong(0), r.getLong(1)))
    }
    results.foreach { case (q, cnt, sum) =>
      val (wc, ws) = want.getOrElse(q.id, (0L, 0L))
      out.check(s"query ${q.id} (${q.kind})", cnt == wc && sum == ws,
        s"got ($cnt, $sum), source says ($wc, $ws)")
    }
  }

  def named(): Unit = {
    val (tail, pct) = Stats.tail(queryS.toSeq)
    out.named("query_s.p50") = (Stats.median(queryS.toSeq), "s",
      s"n=${queryS.size}")
    out.named("query_s.tail") = (tail, "s", f"p$pct%.1f of n=${queryS.size}")
  }

  def layers(): Unit = {
    out.layers("reader.plan_s") = (Stats.median(planS.toSeq), "s")
    out.layers("prune.probe_s") = (Stats.median(probeS.toSeq), "s")
    out.layers("snapshots.resolve_s") = (Stats.median(resolveS.toSeq), "s")
    val nAdmitted = admitted.map(_._2.size).sum
    out.layers("prune.files_admitted") =
      (nAdmitted.toDouble / admitted.size, "count")
    // useful: admitted files holding at least one result row; base is
    // every file admitted over the traced prunable queries
    val useful = admitted.map { case (q, fs) =>
      if (fs.isEmpty) 0L
      else spark.read.parquet(fs: _*).filter(q.pred)
        .select(input_file_name()).distinct().count()
    }.sum
    out.layers("prune.useful_ratio") =
      (if (nAdmitted == 0) 0.0 else useful.toDouble / nAdmitted, "ratio")
  }
}

object LineitemSelectiveRead {
  sealed trait Query {
    def id: Int
    def kind: String = getClass.getSimpleName
    def pred: Column = this match {
      case Narrow(_, lo, hi) => col("l_orderkey").between(lo, hi)
      case Wide(_, lo, hi) => col("l_orderkey").between(lo, hi)
      case Bloom(_, keys) => col("l_orderkey").isin(keys: _*)
      case Unprunable(_, qty) => col("l_quantity") === qty
      case Shard(_, _, _) => lit(true)
    }
    def cols: Seq[String] = this match {
      case _: Shard => ShardFields
      case _ => AllCols
    }
  }
  final case class Narrow(id: Int, lo: Long, hi: Long) extends Query
  final case class Wide(id: Int, lo: Long, hi: Long) extends Query
  final case class Bloom(id: Int, keys: Seq[Long]) extends Query
  final case class Unprunable(id: Int, quantity: Int) extends Query
  final case class Shard(id: Int, i: Int, n: Int) extends Query

  val AllCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate", "l_commitdate", "l_receiptdate",
    "l_shipinstruct", "l_shipmode", "l_comment")
  val ShardFields = Seq("l_orderkey", "l_partkey", "l_extendedprice",
    "l_shipdate")

  /** Order-independent row checksum term (32-bit, so sums never overflow). */
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))

  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val Words = "furiously regular deposits sleep carefully final " +
    "packages ironic accounts haggle blithely quickly express requests " +
    "pending instructions special theodolites wake bold foxes"

  /** TPC-H-shaped lineitem: four lines per order, values seeded-hashed
    * from (seed, row). */
  def generate(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    def h(k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
    def pick(k: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(k), lit(xs.size)) + 1).cast("int"))
    def day(k: Int, span: Int): Column =
      date_add(lit("1992-01-01").cast("date"), pmod(h(k), lit(span)).cast("int"))
    spark.range(0, rows).select(
      (floor(col("id") / 4) + 1).cast("long").as("l_orderkey"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).cast("int").as("l_quantity"),
      (pmod(h(4), lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(h(5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(6), lit(9L)) / 100.0).as("l_tax"),
      pick(7, "A", "N", "R").as("l_returnflag"),
      pick(8, "O", "F").as("l_linestatus"),
      day(9, 2500).as("l_shipdate"),
      day(10, 2500).as("l_commitdate"),
      day(11, 2500).as("l_receiptdate"),
      pick(12, "DELIVER IN PERSON", "COLLECT COD", "NONE",
        "TAKE BACK RETURN").as("l_shipinstruct"),
      pick(13, "REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .as("l_shipmode"),
      substring(lit(Words), (pmod(h(14), lit(100L)) + 1).cast("int"),
        (pmod(h(15), lit(33L)) + 10).cast("int")).as("l_comment"))
  }
}
