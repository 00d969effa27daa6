package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Batching, Generator}
import graft.schema.{FieldSpec, GraftSchema}

class IndexConverterSpec extends SparkSpec {
  import spark.implicits._

  // 4-file store with a low-cardinality category column and an array col
  private lazy val dataUrl: String = {
    val u = scratch("index-ds")
    spark.range(400).toDF("id")
      .withColumn("cat", concat(lit("c"), pmod($"id", lit(8))))
      .withColumn("tags", array(concat(lit("t"), pmod($"id", lit(5))),
        concat(lit("t"), pmod($"id" + 1, lit(5)))))
      .withColumn("maybe", when(pmod($"id", lit(100)) === 0, $"id"))
      .repartition(4, $"id")
      .write.mode("overwrite").parquet(u)
    u
  }

  private lazy val idxUrl: String = {
    val u = scratch("index-sidecar")
    RowGroupIndex.build(spark, dataUrl, Seq(
      RowGroupIndex.Indexer("cat"),
      RowGroupIndex.Indexer("tags", arrayField = true),
      RowGroupIndex.Indexer("maybe", notNull = true)), u)
    u
  }

  test("index build: values map to the files containing them") {
    val idx = spark.read.parquet(idxUrl)
    val fields = idx.select("field").distinct().as[String].collect().toSet
    assert(fields == Set("cat", "tags", "maybe"))
    // every cat value lives in (likely) all 4 hash-partitioned files
    val catFiles = idx.filter($"field" === "cat").select("value", "files")
      .as[(String, Seq[String])].collect()
    assert(catFiles.length == 8)
    assert(catFiles.forall(_._2.nonEmpty))
  }

  test("selector read returns a file superset; filter completes the query") {
    val sel = RowGroupIndex.ValueIn("cat", Seq("c3"))
    val df = RowGroupIndex.readSelected(spark, dataUrl, idxUrl, sel)
      .filter($"cat" === "c3")
    assert(df.count() == 50)
    assert(df.select("id").as[Long].collect().forall(_ % 8 == 3))
  }

  test("intersect/union selectors combine file sets") {
    val i = RowGroupIndex.Intersect(Seq(
      RowGroupIndex.ValueIn("cat", Seq("c1")),
      RowGroupIndex.ValueIn("tags", Seq("t2"))))
    val rows = RowGroupIndex.readSelected(spark, dataUrl, idxUrl, i)
      .filter($"cat" === "c1" && array_contains($"tags", "t2")).count()
    // id%8==1 and (id%5==2 or (id+1)%5==2): ids ≡ 1 mod 8, ≡ 2 or 1 mod 5
    assert(rows == spark.range(400).filter(x =>
      x % 8 == 1 && (x % 5 == 2 || (x + 1) % 5 == 2)).count())
    val u = RowGroupIndex.Union(Seq(
      RowGroupIndex.ValueIn("cat", Seq("c1")),
      RowGroupIndex.ValueIn("cat", Seq("c2"))))
    assert(RowGroupIndex.readSelected(spark, dataUrl, idxUrl, u)
      .filter($"cat".isin("c1", "c2")).count() == 100)
  }

  test("not-null selector prunes to files with non-null values") {
    val sel = RowGroupIndex.NotNull("maybe")
    val df = RowGroupIndex.readSelected(spark, dataUrl, idxUrl, sel)
      .filter($"maybe".isNotNull)
    assert(df.count() == 4) // ids 0,100,200,300
  }

  test("empty selector result yields empty frame with right schema") {
    val sel = RowGroupIndex.ValueIn("cat", Seq("nope"))
    val df = RowGroupIndex.readSelected(spark, dataUrl, idxUrl, sel)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "cat", "tags", "maybe"))
  }

  test("converter: plan-equality cache reuses materialization") {
    SparkConverter.clearCache()
    val src = spark.range(50).toDF("id").withColumn("x", $"id" * 1.5)
    val h1 = SparkConverter.convert(src, scratch("conv-cache"))
    val again = spark.range(50).toDF("id").withColumn("x", $"id" * 1.5)
    val h2 = SparkConverter.convert(again, scratch("conv-cache"))
    assert(h1.url == h2.url)
    assert(SparkConverter.cacheSize == 1)
    val other = SparkConverter.convert(src.filter($"id" > 10), scratch("conv-cache"))
    assert(other.url != h1.url)
    assert(SparkConverter.cacheSize == 2)
    // X2: float64 narrowed to float32
    assert(h1.df.schema("x").dataType ==
      org.apache.spark.sql.types.FloatType)
    assert(h1.count == 50)
    other.delete(spark)
    assert(SparkConverter.cacheSize == 1)
  }

  test("converter: MLlib vectors become arrays (X3)") {
    import org.apache.spark.ml.linalg.Vectors
    val df = Seq((1L, Vectors.dense(1.0, 2.0))).toDF("id", "v")
    val h = SparkConverter.convert(df, scratch("conv-vec"))
    val dt = h.df.schema("v").dataType
    assert(dt.typeName == "array")
    assert(h.df.select($"v"(0)).as[Float].collect()(0) == 1.0f)
  }

  test("waitAvailable polls until files exist (X4)") {
    val u = scratch("wait-ds")
    spark.range(3).toDF("id").write.mode("overwrite").parquet(u)
    val files = Materialize.listParquetFiles(spark, u)
    assert(SparkConverter.waitAvailable(spark, files, timeoutMs = 2000))
    assert(!SparkConverter.waitAvailable(spark, Seq(u + "/nope.parquet"),
      timeoutMs = 300, pollMs = 50))
  }

  test("batch regrouping assigns exact-size consecutive batches (T5)") {
    val df = spark.range(103).toDF("id")
    val b = Batching.withBatchId(df, 10, Seq("id"))
    val sizes = b.groupBy("batch_id").count().orderBy("batch_id")
      .as[(Long, Long)].collect().toSeq
    assert(sizes.map(_._2) == Seq.fill(10)(10L) :+ 3L)
    // batch 3 holds ids 30-39
    assert(b.filter($"batch_id" === 3).select(min("id"), max("id"))
      .as[(Long, Long)].collect()(0) == ((30L, 39L)))
  }

  test("RDD bridge exposes decoded rows (S8)") {
    val rdd = Batching.asRdd(spark.range(5).toDF("id"))
    assert(rdd.map(_.getLong(0)).collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("generator: deterministic schema-shaped synthetic data (S10)") {
    val schema = GraftSchema("gen", Seq(
      FieldSpec("id", org.apache.spark.sql.types.LongType),
      FieldSpec("name", org.apache.spark.sql.types.StringType),
      FieldSpec("flag", org.apache.spark.sql.types.BooleanType),
      FieldSpec("vec", org.apache.spark.sql.types.DoubleType, shape = Seq(3))))
    val a = Generator.generate(spark, schema, 20).collect()
    val b = Generator.generate(spark, schema, 20).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.length == 20)
    assert(a.head.getSeq[Double](3).length == 3)
    val c = Generator.generate(spark, schema, 20, seed = 7).collect()
    assert(a.map(_.toString).toSeq != c.map(_.toString).toSeq)
  }

  test("deleteAll removes cached materializations and their files") {
    SparkConverter.clearCache()
    val h = SparkConverter.convert(
      spark.range(10).toDF("id"), scratch("conv-delall"))
    assert(new java.io.File(h.url).exists())
    SparkConverter.deleteAll(spark)
    assert(SparkConverter.cacheSize == 0)
    assert(!new java.io.File(h.url).exists())
  }

  test("size-evicted materializations stay deletable (no orphaned datasets)") {
    SparkConverter.clearCache()
    val saved = SparkConverter.MaxCacheEntries
    try {
      SparkConverter.MaxCacheEntries = 2
      val hs = (0 until 3).map(i => SparkConverter.convert(
        spark.range(10 + i).toDF("id"), scratch("conv-evict")))
      assert(SparkConverter.cacheSize == 2) // oldest evicted
      assert(SparkConverter.evictedCount == 1)
      assert(hs.forall(h => new java.io.File(h.url).exists()))
      SparkConverter.deleteAll(spark)
      // the EVICTED dataset's files must be gone too, not leaked
      assert(hs.forall(h => !new java.io.File(h.url).exists()))
      assert(SparkConverter.evictedCount == 0)
    } finally {
      SparkConverter.MaxCacheEntries = saved
      SparkConverter.clearCache()
    }
  }
}
