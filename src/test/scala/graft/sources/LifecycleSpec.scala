package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.predicates.InExpr
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}

/** End-to-end materialize → read lifecycle — the Scala analogue of
  * tests/test_end_to_end.py:107-129 (+ shard/shuffle :451-559,
  * :386-433). */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val schema = GraftSchema("hello", Seq(
    FieldSpec("id", LongType),
    FieldSpec("label", StringType, nullable = true),
    FieldSpec("image", ShortType, shape = Seq(4, 3),
      codec = Some(CodecSpec("ndarray"))),
    FieldSpec("emb", DoubleType, shape = Seq(-1),
      codec = Some(CodecSpec("compressed_ndarray")))))

  // 100 rows: id, label, a 4x3 uint8-ish image, a variable-length emb
  private lazy val source = spark.range(100).toDF("id")
    .withColumn("label", concat(lit("l"), col("id") % 3))
    .withColumn("image", transform(sequence(lit(0), lit(11)),
      i => ((col("id") + i) % 256).cast("short")))
    .withColumn("emb", transform(sequence(lit(0), pmod(col("id"), lit(3)) + 1),
      i => (col("id") * 10 + i).cast("double")))

  private lazy val url: String = {
    val u = scratch("lifecycle-ds")
    Materialize.materialize(source, u, schema, rowGroupSizeMb = 1,
      partitions = Some(4))
    u
  }

  test("materialize writes sidecar with schema + row-group counts") {
    val loaded = Materialize.loadSchema(spark, url)
    assert(loaded.isDefined)
    assert(loaded.get.fields == schema.fields)
    val counts = Materialize.rowGroupCounts(spark, url)
    assert(counts.size == 4) // partitions = 4 files
    assert(counts.values.forall(_ >= 1))
  }

  test("storage types on disk are binary for codec fields") {
    val raw = spark.read.parquet(url)
    assert(raw.schema("image").dataType == BinaryType)
    assert(raw.schema("emb").dataType == BinaryType)
    assert(raw.schema("id").dataType == LongType)
  }

  test("read back decodes tensors to dims+data with exact values") {
    val back = GraftRead.reader(spark, url).load()
      .select(col("id"), col("image.dims"), col("image.data"), col("emb.data").as("emb"))
      .orderBy("id").collect()
    assert(back.length == 100)
    val r7 = back(7)
    assert(r7.getSeq[Int](1) == Seq(4, 3))
    assert(r7.getSeq[Short](2) == (0 until 12).map(i => ((7 + i) % 256).toShort))
    assert(r7.getSeq[Double](3) == (0 to (7 % 3) + 1).map(i => 70.0 + i))
  }

  test("fields() regex view prunes columns (P1)") {
    val df = GraftRead.reader(spark, url).fields("id", "im.*").load()
    assert(df.columns.toSeq == Seq("id", "image"))
  }

  test("fields() with unknown selector raises (unischema.py:224-238)") {
    intercept[IllegalArgumentException](
      GraftRead.reader(spark, url).fields("nope").load())
  }

  test("predicate filters on decoded values") {
    val n = GraftRead.reader(spark, url)
      .predicate(InExpr(Set("id"), col("id") < 10))
      .load().count()
    assert(n == 10)
  }

  test("shard(i,n) partitions files disjointly and completely (SH1)") {
    val counts = (0 until 4).map(i =>
      GraftRead.reader(spark, url).shard(i, 4).load()
        .select("id").as[Long].collect().toSet)
    assert(counts.map(_.size).sum == 100)
    assert(counts.reduce(_ ++ _).size == 100)
    // more shards than files raises, like NoDataAvailableError
    intercept[IllegalArgumentException](
      GraftRead.reader(spark, url).shard(0, 99).load())
  }

  test("shuffle(seed) is a deterministic permutation; seeds differ") {
    def order(seed: Long): Seq[Long] =
      GraftRead.reader(spark, url).fields("id").shuffle(seed).load()
        .select("id").as[Long].collect().toSeq
    val a1 = order(7); val a2 = order(7); val b = order(8)
    assert(a1 == a2)
    assert(a1 != b)
    assert(a1.sorted == (0L until 100L))
    assert(a1 != (0L until 100L)) // actually permuted
  }

  test("epochs(k) yields k tagged copies, independently shuffled (E1)") {
    val df = GraftRead.reader(spark, url).fields("id").shuffle(3).epochs(2).load()
    assert(df.count() == 200)
    val byEpoch = df.groupBy("__epoch").count().orderBy("__epoch")
      .as[(Int, Long)].collect().toSeq
    assert(byEpoch == Seq((0, 100L), (1, 100L)))
  }

  test("epochs(0) is the infinite-iteration contract: a re-iterable " +
      "single-pass handle (num_epochs=None parity, reader.py:95-98)") {
    val df = GraftRead.reader(spark, url).fields("id").shuffle(3).epochs(0)
      .load()
    assert(!df.columns.contains("__epoch")) // unbounded = untagged
    // the handle re-iterates: each action is one epoch over the data
    val pass1 = df.select("id").as[Long].collect().toSeq
    val pass2 = df.select("id").as[Long].collect().toSeq
    assert(pass1 == pass2 && pass1.sorted == (0L until 100L))
    // reset() parity: re-call load() with a bumped seed for a fresh
    // permutation of the same rows
    val next = GraftRead.reader(spark, url).fields("id").shuffle(4).epochs(0)
      .load().select("id").as[Long].collect().toSeq
    assert(next != pass1 && next.sorted == pass1.sorted)
    intercept[IllegalArgumentException](
      GraftRead.reader(spark, url).epochs(-1))
  }

  private def shuffledIds(r: GraftRead, seed: Long = 7): Seq[Long] =
    r.shuffle(seed).load().select("id").as[Long].collect().toSeq

  test("shuffle order does not depend on split planning, shuffle " +
      "partitions, AQE or the store's directory") {
    val base = shuffledIds(GraftRead.reader(spark, url).fields("id"))
    val defaultSplits = spark.read.parquet(url).rdd.getNumPartitions
    Seq(
      Seq("spark.sql.files.maxPartitionBytes" -> "600",
        "spark.sql.files.openCostInBytes" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.adaptive.enabled" -> "false"),
      // several range partitions instead of one
      Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024")
    ).foreach { confs =>
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        if (confs.head._1 == "spark.sql.files.maxPartitionBytes")
          assert(spark.read.parquet(url).rdd.getNumPartitions >
            defaultSplits) // the scan really is split differently
        if (confs.head._1.endsWith("advisoryPartitionSizeInBytes"))
          assert(GraftRead.reader(spark, url).shuffle(7).load().rdd
            .getNumPartitions > 1)
        // all fields: the projection does not move the order either
        assert(shuffledIds(GraftRead.reader(spark, url)) == base, confs)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // a byte copy of the store elsewhere keeps the order: the key
    // hashes the file name, not its path
    val copy = scratch(s"lifecycle-copy/${java.util.UUID.randomUUID()}")
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(url)
    val fs = src.getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(copy), false, conf))
    assert(shuffledIds(GraftRead.reader(spark, copy).fields("id")) == base)
  }

  test("shuffle composes with predicate, fields, shard and epochs") {
    val all = shuffledIds(GraftRead.reader(spark, url).fields("id"))
    // predicate on a decoded value: the unfiltered order, restricted
    val big = GraftRead.reader(spark, url).fields("id", "emb")
      .predicate(element_at(col("emb.data"), 1) >= 500.0)
    assert(shuffledIds(big) == all.filter(_ >= 50))
    // fields + shard: a permutation of exactly that shard's rows
    val shardRows = GraftRead.reader(spark, url).shard(1, 4).load()
      .select("id").as[Long].collect().toSeq.sorted
    val sharded = GraftRead.reader(spark, url).fields("id", "label")
      .shard(1, 4).shuffle(7).load()
    assert(sharded.columns.toSeq == Seq("id", "label"))
    val shardIds = sharded.select("id").as[Long].collect().toSeq
    assert(shardIds.sorted == shardRows && shardIds != shardRows)
    // epochs(2): each epoch a full permutation under seed+k
    val tagged = GraftRead.reader(spark, url).fields("id").shuffle(3)
      .epochs(2).load().select("__epoch", "id").as[(Int, Long)].collect()
    val e0 = tagged.filter(_._1 == 0).map(_._2).toSeq
    val e1 = tagged.filter(_._1 == 1).map(_._2).toSeq
    assert(e0.sorted == (0L until 100L) && e1.sorted == (0L until 100L))
    assert(e0 != e1)
    assert(e0 == shuffledIds(GraftRead.reader(spark, url).fields("id"), 3))
    assert(e1 == shuffledIds(GraftRead.reader(spark, url).fields("id"), 4))
    // a user column named `_metadata` does not shadow the position key
    val shadow = scratch(s"lifecycle-shadow/${java.util.UUID.randomUUID()}")
    (0L until 20L).toDF("id").withColumn("_metadata", lit("user"))
      .repartition(2).write.parquet(shadow)
    val shadowed = GraftRead.reader(spark, shadow).shuffle(7).load()
    assert(shadowed.columns.toSeq == Seq("id", "_metadata"))
    assert(shadowed.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 20L))
  }

  test("shuffle over a Snapshots store: head rows once after an " +
      "upsert; a range admitting nothing reads an empty frame") {
    val snapUrl = scratch(s"lifecycle-snap/${java.util.UUID.randomUUID()}")
    Snapshots.create(spark, snapUrl,
      (0L until 60L).map(i => (i, i * 2)).toDF("id", "x"), nFiles = 3)
    Snapshots.upsert(spark, snapUrl,
      Seq((5L, -1L), (60L, 120L)).toDF("id", "x"), "id")
    val rows = GraftRead.reader(spark, snapUrl).shuffle(7).load()
      .select("id", "x").as[(Long, Long)].collect().toSeq
    assert(rows.map(_._1).sorted == (0L to 60L))
    assert(rows.toMap.apply(5L) == -1L)
    Snapshots.indexStats(spark, snapUrl, Seq("x"))
    val none = GraftRead.reader(spark, snapUrl).range("x", 1000L, 2000L)
      .shuffle(7).load()
    assert(none.schema == GraftRead.reader(spark, snapUrl).load().schema)
    assert(none.collect().isEmpty)
  }

  test("non-nullable field with null raises at materialize (S2 parity)") {
    val bad = Seq((1L, null.asInstanceOf[String])).toDF("id", "label")
      .withColumn("image", transform(sequence(lit(0), lit(11)), i => i.cast("short")))
      .withColumn("emb", array(lit(1.0)))
    val strict = GraftSchema("strict", schema.fields.map(f =>
      if (f.name == "label") f.copy(nullable = false) else f))
    val e = intercept[Exception] {
      Materialize.materialize(bad, scratch("bad-ds"), strict)
    }
    assert(e.getMessage != null)
  }

  test("multi-store reader unions file lists; schemas must agree (reader.py:209-227)") {
    val (uA, uB) = (scratch("multistore-a"), scratch("multistore-b"))
    val half = (u: String, m: Int) => Materialize.materialize(
      source.filter(pmod($"id", lit(2)) === m), u, schema,
      rowGroupSizeMb = 1, partitions = Some(2))
    half(uA, 0); half(uB, 1)
    val both = GraftRead.reader(spark, Seq(uA, uB)).load()
    assert(both.count() == 100)
    // decoded exactly like a single-store read of the same rows
    val ids = both.select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 100L))
    val img7 = both.filter($"id" === 7)
      .select($"image.data").as[Seq[Short]].collect()(0)
    assert(img7 == (7 until 19).map(_.toShort))
    // shard splits the COMBINED file list disjointly
    val s0 = GraftRead.reader(spark, Seq(uA, uB)).shard(0, 2).load()
    val s1 = GraftRead.reader(spark, Seq(uA, uB)).shard(1, 2).load()
    assert(s0.count() + s1.count() == 100)
    // a store with a different sidecar schema is refused
    val uC = scratch("multistore-c")
    Materialize.materialize(
      spark.range(5).toDF("id").withColumn("other", lit("x")),
      uC, GraftSchema("different", Seq(
        FieldSpec("id", LongType),
        FieldSpec("other", StringType, nullable = true))))
    val ex = intercept[IllegalArgumentException](
      GraftRead.reader(spark, Seq(uA, uC)).load())
    assert(ex.getMessage.contains("store schemas disagree"))
    // a sidecar-less plain store mixed with a codec store is refused —
    // adopting the codec schema for never-encoded bytes would be wrong
    val uD = scratch("multistore-plain")
    spark.range(5).toDF("id").write.mode("overwrite").parquet(uD)
    val exMixed = intercept[IllegalArgumentException](
      GraftRead.reader(spark, Seq(uA, uD)).load())
    assert(exMixed.getMessage.contains("mixed stores"))
  }

  test("evolved multi-store read merges schemas by name, nulls missing fields") {
    val (u1, u2) = (scratch("evolve-v1"), scratch("evolve-v2"))
    // v1 predates the `score` column AND a codec field
    Materialize.materialize(
      spark.range(50).toDF("id").withColumn("label", concat(lit("l"), $"id" % 3)),
      u1, GraftSchema("v1", Seq(
        FieldSpec("id", LongType),
        FieldSpec("label", StringType, nullable = true))))
    Materialize.materialize(
      spark.range(50, 80).toDF("id")
        .withColumn("label", concat(lit("l"), $"id" % 3))
        .withColumn("score", $"id" * 2)
        .withColumn("emb", transform(sequence(lit(0), lit(3)),
          i => ($"id" + i).cast("double"))),
      u2, GraftSchema("v2", Seq(
        FieldSpec("id", LongType),
        FieldSpec("label", StringType, nullable = true),
        FieldSpec("score", LongType),
        FieldSpec("emb", DoubleType, shape = Seq(-1),
          codec = Some(CodecSpec("compressed_ndarray"))))))
    // strict mode still refuses
    val strict = intercept[IllegalArgumentException](
      GraftRead.reader(spark, Seq(u1, u2)).load())
    assert(strict.getMessage.contains("disagree"))
    val df = GraftRead.reader(spark, Seq(u1, u2)).evolved.load()
    assert(df.columns.toSeq == Seq("id", "label", "score", "emb"))
    assert(df.count() == 80)
    // old rows: evolved fields null; new rows: real values (codec decoded)
    assert(df.filter($"id" < 50 && $"score".isNull && $"emb".isNull).count() == 50)
    val r60 = df.filter($"id" === 60).select($"score", $"emb.data").collect()(0)
    assert(r60.getLong(0) == 120)
    assert(r60.getSeq[Double](1) == Seq(60.0, 61.0, 62.0, 63.0))
    // predicates/fields still compose over the merged view
    val sel = GraftRead.reader(spark, Seq(u1, u2)).evolved
      .fields("id", "score").predicate($"id" >= 48).load()
    assert(sel.columns.toSeq == Seq("id", "score"))
    assert(sel.count() == 32)
    // a TYPE change is refused even in evolved mode
    val u3 = scratch("evolve-v3")
    Materialize.materialize(
      spark.range(5).toDF("id").withColumn("score", lit(1).cast("int")),
      u3, GraftSchema("v3", Seq(
        FieldSpec("id", LongType), FieldSpec("score", IntegerType))))
    val ex = intercept[IllegalArgumentException](
      GraftRead.reader(spark, Seq(u2, u3)).evolved.load())
    assert(ex.getMessage.contains("beyond nullability"))
  }

  test("compact merges small files byte-preservingly; sidecar follows") {
    val u = scratch("compact-ds-" + java.util.UUID.randomUUID().toString.take(8))
    Snapshots.create(spark, u, Materialize.encodeColumns(source, schema),
      nFiles = 16) // 16 tiny files
    Materialize.writeMetadata(spark, u, schema)
    def decoded() = GraftRead.reader(spark, u).load()
      .select($"id", $"label", $"image.data", $"emb.data")
      .as[(Long, String, Seq[Short], Seq[Double])].collect().sortBy(_._1).toSeq
    val before = decoded()
    val v = Snapshots.compactSmall(spark, u, smallBytes = 256L << 20,
      targetBytes = 256L << 20)
    assert(Snapshots.snap(spark, u, 1).files.size == 16)
    assert(Snapshots.snap(spark, u, v).files.size == 1)
    // decoded content identical after compaction (codec cells opaque),
    // read through the same schema sidecar
    val after = decoded()
    assert(after.length == 100 && after == before)
  }

  test("plain parquet store reads via inferred schema (S4/make_batch_reader)") {
    val u = scratch("plain-ds")
    spark.range(10).toDF("x").write.mode("overwrite").parquet(u)
    val df = GraftRead.reader(spark, u).load()
    assert(df.count() == 10 && df.columns.toSeq == Seq("x"))
  }

  test("writeMetadata runs no Spark job; loadSchema still reads a " +
      "sidecar carrying the old rowGroupCounts census") {
    val u = scratch("sidecar-nojob-" +
      java.util.UUID.randomUUID().toString.take(8))
    spark.range(10).toDF("id").repartition(2).write.parquet(u)
    val plain = GraftSchema("plain", Seq(FieldSpec("id", LongType)))
    assert(jobsDuring(Materialize.writeMetadata(spark, u, plain)) == 0)
    val sidecar = java.nio.file.Paths.get(u, Materialize.SidecarName)
    assert(!new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8")
      .contains("rowGroupCounts"))
    assert(Materialize.loadSchema(spark, u).map(_.fields) ==
      Some(plain.fields))
    // a sidecar written before the census was dropped
    java.nio.file.Files.write(sidecar,
      (s"""{"version":1,"schema":${schema.toJson},""" +
        """"rowGroupCounts":{"part-0.parquet":1,"part-1.parquet":2}}""")
        .getBytes("UTF-8"))
    new java.io.File(u, s".${Materialize.SidecarName}.crc").delete()
    assert(Materialize.loadSchema(spark, u).map(_.fields) ==
      Some(schema.fields))
  }

  test("load() plans without a Spark job; the storage schema is Spark's " +
      "inferred one") {
    assert(jobsDuring(GraftRead.reader(spark, url).shuffle(7).load()) == 0)

    val plain = scratch("footer-plain")
    spark.range(10).toDF("x").withColumn("s", $"x".cast("string"))
      .write.mode("overwrite").parquet(plain)
    val hive = scratch("footer-hive")
    Materialize.materialize(spark.range(30).toDF("id")
        .withColumn("cat", concat(lit("c"), pmod($"id", lit(3)))),
      hive, GraftSchema("p", Seq(FieldSpec("id", LongType),
        FieldSpec("cat", StringType))), partitionCols = Seq("cat"))
    val fixture = new java.io.File("fixtures/petastorm_legacy_0.7.6").getAbsolutePath
    val snap = scratch(s"footer-snap/${java.util.UUID.randomUUID()}")
    Snapshots.create(spark, snap, (0L until 20L).map(i => (i, i * 2)).toDF("id", "x"),
      nFiles = 2)
    Snapshots.upsert(spark, snap, Seq((3L, -1L)).toDF("id", "x"), "id")
    val single = Materialize.listParquetFiles(spark, plain).head
    // a stored column that is also the partition directory's key:
    // inference keeps its data position, so the reader must infer too
    val overlap = scratch("footer-overlap")
    spark.range(4).select(lit(5).as("cat"), $"id")
      .write.mode("overwrite").parquet(s"$overlap/cat=1")
    val (uA, uB) = (scratch("footer-multi-a"), scratch("footer-multi-b"))
    Materialize.materialize(source.filter($"id" < 50), uA, schema, partitions = Some(2))
    Materialize.materialize(source.filter($"id" >= 50), uB, schema, partitions = Some(2))

    def snapFiles(u: String): Seq[String] = {
      val s = Snapshots.snap(spark, u, Snapshots.versions(spark, u).last)
      s.files.sorted.map(f => new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(u), f).toString)
    }
    // (urls, the files the reader scans, whether basePath applies)
    val cases = Seq(
      (Seq(url), Materialize.listParquetFiles(spark, url), true),
      (Seq(plain), Materialize.listParquetFiles(spark, plain), true),
      (Seq(hive), Materialize.listParquetFiles(spark, hive), true),
      (Seq(fixture), Materialize.listParquetFiles(spark, fixture), true),
      (Seq(snap), snapFiles(snap), true),
      (Seq(single), Seq(single), false),
      (Seq(uA, uB), Materialize.listParquetFiles(spark, uA) ++
        Materialize.listParquetFiles(spark, uB), false),
      (Seq(overlap), Materialize.listParquetFiles(spark, overlap), true))
    cases.foreach { case (urls, files, based) =>
      val opts = if (based) Map("basePath" -> urls.head) else Map.empty[String, String]
      val inferred = spark.read.options(opts).parquet(files: _*).schema
      val reader = GraftRead.reader(spark, urls).rawStorage
      var got: StructType = null
      val jobs = jobsDuring { got = reader.load().schema }
      // a petastorm store's Unischema orders the fields its own way;
      // by name, each field is exactly the inferred one
      assert(got.fieldNames.toSet == inferred.fieldNames.toSet &&
        got == StructType(got.fieldNames.map(inferred(_))), s"$urls")
      if (!urls.contains(fixture)) assert(got == inferred, s"$urls")
      assert(jobs == (if (urls == Seq(overlap)) 1 else 0), s"$urls planned $jobs jobs")
    }
  }

  test("decimal / date / timestamp scalars round-trip through a store") {
    // parity: reference TestSchema stores Decimal via ScalarCodec and
    // datetime fields (tests/test_common.py:47, unischema.py:488-497)
    val u = scratch("scalar-types-ds")
    val src = spark.range(10).toDF("id")
      .withColumn("price", (col("id") * 7 + 0.25).cast(DecimalType(10, 2)))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        col("id").cast("int")))
      .withColumn("at", timestamp_seconds(
        unix_timestamp(to_timestamp(lit("2020-06-01 12:00:00"))) + col("id")))
    val schema = GraftSchema("scalars", Seq(
      FieldSpec("id", LongType),
      FieldSpec("price", DecimalType(10, 2), codec = Some(CodecSpec("scalar"))),
      FieldSpec("day", DateType, codec = Some(CodecSpec("scalar"))),
      FieldSpec("at", TimestampType, codec = Some(CodecSpec("scalar")))))
    Materialize.materialize(src, u, schema)
    val back = GraftRead.reader(spark, u).load().orderBy("id")
    assert(back.schema("price").dataType == DecimalType(10, 2))
    assert(back.schema("day").dataType == DateType)
    assert(back.schema("at").dataType == TimestampType)
    val r = back.select($"id", $"price".cast("string"), $"day".cast("string"),
      $"at".cast("long")).as[(Long, String, String, Long)].collect()
    assert(r(3) == ((3L, "21.25", "2020-01-04",
      java.time.Instant.parse("2020-06-01T12:00:03Z").getEpochSecond)))
  }
}
