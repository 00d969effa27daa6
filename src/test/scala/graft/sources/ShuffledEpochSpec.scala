package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SortedEpochExec
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.codecs.{DecodeImage, DecodeTensor}
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}

/** A shuffled read that plans as one range partition is one Spark job:
  * decode in the scan's tasks, order on the driver
  * ([[org.apache.spark.sql.graftbridge.EpochBridge]]). Each case is
  * checked against the multi-partition path (the exchange-and-sort
  * plan every larger read takes), which must give the same rows in the
  * same order. */
class ShuffledEpochSpec extends SparkSpec {
  import spark.implicits._

  private val schema = GraftSchema("epoch", Seq(
    FieldSpec("id", LongType),
    FieldSpec("label", StringType, nullable = true),
    FieldSpec("image", ShortType, shape = Seq(4, 3),
      codec = Some(CodecSpec("ndarray"))),
    FieldSpec("pic", ShortType, shape = Seq(4, 5, 3),
      codec = Some(CodecSpec("png")))))

  private def source(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    .withColumn("label", concat(lit("l"), col("id") % 3))
    .withColumn("image", transform(sequence(lit(0), lit(11)),
      i => ((col("id") + i) % 256).cast("short")))
    .withColumn("pic", transform(sequence(lit(0), lit(59)),
      i => ((col("id") * 7 + i) % 256).cast("short")))

  private def store(name: String, lo: Long, hi: Long): String = {
    val u = scratch(s"shuffled-epoch/$name-${java.util.UUID.randomUUID()}")
    Materialize.materialize(source(lo, hi), u, schema, partitions = Some(4))
    u
  }
  private lazy val url = store("a", 0, 100)
  private lazy val url2 = store("b", 100, 140)

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** A row's values with arrays and nested rows made comparable. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }
  private def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(norm)

  private def root(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def nodes(df: DataFrame): Seq[SparkPlan] = root(df) match {
    case a: AdaptiveSparkPlanExec => a.initialPlan.collect { case p => p }
    case p => p.collect { case n => n }
  }

  /** The read under the one-partition gate, and the rows of the same
    * read under a 1 KB advisory size, which range-partitions any
    * non-empty read here. */
  private def bothPaths(r: GraftRead): (DataFrame, Seq[Any]) = {
    val reference = withConf(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024") {
      val df = r.load()
      val got = rows(df)
      assert(got.isEmpty || nodes(df).exists(_.isInstanceOf[Exchange]))
      got
    }
    (r.load(), reference)
  }

  test("a drained epoch runs one Spark job, with no exchange and the " +
      "epoch node at the root") {
    val r = GraftRead.reader(spark, url).shuffle(7)
    val df = r.load()
    assert(root(df).isInstanceOf[SortedEpochExec], root(df).treeString)
    assert(!nodes(df).exists(_.isInstanceOf[Exchange]))
    var n = 0
    assert(jobsDuring {
      val it = r.load().toLocalIterator()
      while (it.hasNext) { it.next(); n += 1 }
    } == 1)
    assert(n == 100)
    assert(jobsDuring(r.load().collect()) == 1)
  }

  test("rows and order equal the multi-partition path") {
    val base = GraftRead.reader(spark, url)
    val snapUrl = scratch(s"shuffled-epoch/snap-${java.util.UUID.randomUUID()}")
    Snapshots.create(spark, snapUrl,
      (0L until 60L).map(i => (i, i * 2)).toDF("id", "x"), nFiles = 3)
    Snapshots.upsert(spark, snapUrl,
      Seq((5L, -1L), (60L, 120L)).toDF("id", "x"), "id")
    Snapshots.indexStats(spark, snapUrl, Seq("x"))
    val shadow = scratch(s"shuffled-epoch/shadow-${java.util.UUID.randomUUID()}")
    (0L until 20L).toDF("id").withColumn("_metadata", lit("user"))
      .repartition(2).write.parquet(shadow)
    val cases = Seq(
      "plain" -> base,
      "fields" -> base.fields("id", "lab.*"),
      "predicate" -> base.predicate(element_at(col("image.data"), 1) >= 50),
      "shard" -> base.shard(1, 4),
      "two stores" -> GraftRead.reader(spark, Seq(url, url2)),
      "snapshots after upsert" -> GraftRead.reader(spark, snapUrl),
      "rawStorage" -> base.rawStorage,
      "user _metadata column" -> GraftRead.reader(spark, shadow))
    cases.foreach { case (what, r) =>
      val (df, reference) = bothPaths(r.shuffle(7))
      assert(root(df).isInstanceOf[SortedEpochExec], what)
      assert(rows(df) == reference, what)
      assert(reference.nonEmpty, what)
    }
    val none = GraftRead.reader(spark, snapUrl).range("x", 1000L, 2000L)
      .shuffle(7)
    val (df, reference) = bothPaths(none)
    assert(rows(df).isEmpty && reference.isEmpty)
    assert(df.schema == GraftRead.reader(spark, snapUrl).load().schema)
    // the seed moves the order, the rows stay
    val other = rows(GraftRead.reader(spark, url).shuffle(8).load())
    assert(other != rows(base.shuffle(7).load()))
    assert(other.map(_.toString).sorted == rows(base.shuffle(7).load())
      .map(_.toString).sorted)
  }

  test("the root hand-off and the one sorted partition give the same " +
      "rows in the same order") {
    val df = GraftRead.reader(spark, url).shuffle(7).load()
    val handed = rows(df)
    val it = df.toLocalIterator()
    val iterated = Iterator.continually(it).takeWhile(_.hasNext)
      .map(i => norm(i.next())).toSeq
    assert(iterated == handed)
    val viaRdd = df.rdd
    assert(viaRdd.getNumPartitions == 1)
    assert(viaRdd.collect().toSeq.map(norm) == handed)
    assert(df.count() == 100)
    // an operator on top runs the node's own partition, not its root
    // hand-off
    val limited = df.limit(1000)
    assert(!root(limited).isInstanceOf[SortedEpochExec])
    assert(root(limited).exists(_.isInstanceOf[SortedEpochExec]))
    assert(rows(limited) == handed)
    val ids = df.select("id").as[Long].collect().toSeq
    assert(df.mapPartitions(_.map(_.getLong(0))).collect().toSeq == ids)
  }

  private def decodes(p: SparkPlan): Boolean = p.exists(_.expressions.exists(
    _.exists { case _: DecodeTensor | _: DecodeImage => true; case _ => false }))

  private def pushed(df: DataFrame): String = nodes(df).collectFirst {
    case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
  }.get

  test("frames composed on a shuffled load() keep pruning and pushdown " +
      "on both paths") {
    val r = GraftRead.reader(spark, url).shuffle(7)
    def check(df: DataFrame, gated: Boolean): Unit = {
      val ps = nodes(df)
      if (gated) assert(!ps.exists(_.isInstanceOf[Exchange]))
      else assert(ps.exists(_.isInstanceOf[Exchange]))
      val ids = df.select("id")
      assert(!nodes(ids).exists(decodes), ids.queryExecution.executedPlan)
      assert(nodes(df).exists(decodes))
      val small = df.filter(col("id") < 10)
      assert(pushed(small).contains("LessThan(id,10)"), pushed(small))
      assert(small.count() == 10)
      val counted = df.groupBy().count()
      assert(!counted.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]))
      assert(!nodes(counted).exists(p =>
        p.isInstanceOf[SortExec] || p.isInstanceOf[SortedEpochExec]))
      assert(counted.head().getLong(0) == 100)
    }
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024") {
      check(r.load(), gated = false)
    }
    check(r.load(), gated = true)
  }
}
