package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}
import graft.sources.{GraftRead, Materialize, Snapshots}

class GraftStreamSpec extends SparkSpec {
  import spark.implicits._

  /** memory-sink queries can't recover from a previous run's
    * checkpoint — every run gets a fresh dir */
  private def freshCkpt(name: String): String =
    scratch(s"ckpt-$name-" + java.util.UUID.randomUUID().toString.take(8))

  private def runAvailableNow(df: org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", freshCkpt(name))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  test("streaming reader decodes a graft store identically to batch") {
    val url = scratch("stream-src")
    val src = spark.range(50).toDF("id")
      .withColumn("vec", array($"id".cast("double"), lit(2.5), lit(7.0)))
    val schema = GraftSchema("s", Seq(
      FieldSpec("id", LongType),
      FieldSpec("vec", DoubleType, shape = Seq(3),
        codec = Some(CodecSpec("ndarray")))))
    Materialize.materialize(src, url, schema, partitions = Some(3))

    runAvailableNow(
      GraftStream.reader(spark, url).predicate($"id" % 2 === 0).load()
        .select($"id", $"vec.data"(0).as("v0")),
      "stream_read")
    val streamed = spark.table("stream_read")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val batch = GraftRead.reader(spark, url).predicate($"id" % 2 === 0).load()
      .select($"id", $"vec.data"(0).as("v0"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.length == 25)
    assert(streamed.forall { case (id, v0) => v0 == id.toDouble })
  }

  test("streaming sink encodes batches and keeps the sidecar current") {
    val url = scratch("stream-sink-" + java.util.UUID.randomUUID().toString.take(8))
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val schema = GraftSchema("sunk", Seq(
      FieldSpec("id", LongType),
      FieldSpec("vec", DoubleType, shape = Seq(2),
        codec = Some(CodecSpec("ndarray")))))
    val q = GraftStream.sink(
      input.toDF().toDF("id", "vec"), url, schema,
      checkpoint = freshCkpt("sink"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)))
      q.processAllAvailable()
      input.addData((3L, Seq(5.0, 6.0)))
      q.processAllAvailable()
    } finally q.stop()

    // sidecar present and loadable; read back through the batch reader
    assert(Materialize.loadSchema(spark, url).exists(_.name == "sunk"))
    val rows = GraftRead.reader(spark, url).load()
      .select($"id", $"vec.data")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(1L -> Seq(1.0, 2.0), 2L -> Seq(3.0, 4.0),
      3L -> Seq(5.0, 6.0)))
  }

  test("sink replay is exactly-once: a re-run epoch no-ops, a " +
      "half-promoted crash sweeps its own debris") {
    val url = scratch("sink-replay-" +
      java.util.UUID.randomUUID().toString.take(8))
    val ckpt = freshCkpt("replay")
    val schema = GraftSchema("replayed", Seq(
      FieldSpec("id", LongType)))
    val b0 = Seq(1L, 2L).toDF("id")
    GraftStream.sinkBatch(b0, 0L, url, schema, ckpt)
    // at-least-once retry of the SAME epoch must not duplicate
    GraftStream.sinkBatch(b0, 0L, url, schema, ckpt)
    // crash simulation for epoch 1: an append that died after
    // staging its data file but before its manifest commit leaves an
    // s<version>-*.parquet file the manifest never lists
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(9L).toDF("id").write.parquet(url + "/_debris_tmp")
    val part = Materialize.listParquetFiles(spark,
      url + "/_debris_tmp").head
    val next = Snapshots.latest(spark, url) + 1
    fs.rename(new org.apache.hadoop.fs.Path(part),
      new org.apache.hadoop.fs.Path(root,
        f"s$next%08d-crashed0-00000.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(url + "/_debris_tmp"), true)
    GraftStream.sinkBatch(Seq(3L).toDF("id"), 1L, url, schema, ckpt)
    val ids = GraftRead.reader(spark, url).load()
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"replay duplicated or leaked debris rows: $ids")
    // one committed version per epoch, keyed by the checkpoint
    val id = GraftStream.sinkId(spark, ckpt)
    val appends = Snapshots.history(spark, url).select($"op").as[String]
      .collect().filter(_.startsWith("append:")).toSeq
    assert(appends == Seq(s"append:${id}_b0", s"append:${id}_b1"))
  }

  test("sink: two checkpoint lineages into one store both land every " +
      "epoch") {
    val url = scratch("sink-lineages-" +
      java.util.UUID.randomUUID().toString.take(8))
    val schema = GraftSchema("lineages", Seq(FieldSpec("id", LongType)))
    // epoch ids restart at 0 on a fresh checkpoint: the second
    // lineage's epochs 0 and 1 must commit, not no-op
    Seq(Seq(Seq(1L, 2L), Seq(3L)), Seq(Seq(10L), Seq(11L, 12L)))
      .zipWithIndex.foreach { case (epochs, k) =>
        val input = MemoryStream[Long](spark)
        val q = GraftStream.sink(input.toDF().toDF("id"), url, schema,
          checkpoint = freshCkpt(s"lineage$k"))
          .trigger(Trigger.ProcessingTime(0)).start()
        try epochs.foreach { rows =>
          input.addData(rows: _*)
          q.processAllAvailable()
        } finally q.stop()
      }
    val ids = GraftRead.reader(spark, url).load()
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("sink refuses a plain parquet directory") {
    val url = scratch("sink-plain-" +
      java.util.UUID.randomUUID().toString.take(8))
    val schema = GraftSchema("plain", Seq(FieldSpec("id", LongType)))
    Materialize.materialize(Seq(1L, 2L).toDF("id"), url, schema)
    val e = intercept[IllegalArgumentException] {
      GraftStream.sinkBatch(Seq(3L).toDF("id"), 0L, url, schema,
        freshCkpt("plain"))
    }
    assert(e.getMessage.contains("no _snap manifest"))
    // nothing was committed, and the store still reads its own rows
    assert(Snapshots.versions(spark, url).isEmpty)
    assert(GraftRead.reader(spark, url).load().count() == 2)
  }

  test("file-stream reader refuses a sink store") {
    val url = scratch("sink-stream-read-" +
      java.util.UUID.randomUUID().toString.take(8))
    val ckpt = freshCkpt("stream-read")
    val schema = GraftSchema("streamread", Seq(FieldSpec("id", LongType)))
    GraftStream.sinkBatch(Seq(1L, 2L).toDF("id"), 0L, url, schema, ckpt)
    GraftStream.sinkBatch(Seq(3L).toDF("id"), 1L, url, schema, ckpt)
    Snapshots.compactSmall(spark, url, smallBytes = 1L << 20)
    // listing the directory would stream the pre- and post-compaction
    // files alike (1,1,2,2,3,3); the manifest readers see 1,2,3
    val e = intercept[IllegalArgumentException] {
      GraftStream.reader(spark, url).load()
    }
    assert(e.getMessage.contains("GraftRead") &&
      e.getMessage.contains("readStream.table"))
    assert(GraftRead.reader(spark, url).load().select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("watermarked tumbling-window counts over event time") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val counts = GraftStream.windowedCounts(
      input.toDF().toDF("ts", "kind"), "ts", "10 seconds", "5 seconds",
      groupCols = Seq("kind"))
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete")
      .option("checkpointLocation", freshCkpt("win"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(s: Long) = new Timestamp(s * 1000)
      input.addData((t(1), "a"), (t(3), "a"), (t(12), "a"), (t(2), "b"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("win_counts")
      .select($"window_start".cast("long"), $"kind", $"n")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((0L, "a", 2L), (10L, "a", 1L), (0L, "b", 1L)))
  }

  test("streaming dedup by fingerprint within the watermark") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val dedup = GraftStream.dedupByFingerprint(
      input.toDF().toDF("ts", "text"), "text", "ts", "10 seconds")
    val q = dedup.writeStream.format("memory").queryName("stream_dedup")
      .option("checkpointLocation", freshCkpt("dedup"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def t(s: Long) = new Timestamp(s * 1000)
      input.addData((t(1), "same  doc"), (t(2), "SAME DOC"), (t(3), "other"))
      q.processAllAvailable()
    } finally q.stop()
    // "same doc" normalizes to one fingerprint → one survivor
    val texts = spark.table("stream_dedup").select("text")
      .as[String].collect().toSeq
    assert(texts.length == 2)
    assert(texts.contains("other"))
  }

  test("sessionize merges events within the gap (batch + streaming plan)") {
    def t(sec: Long) = new Timestamp(sec * 1000)
    val events = Seq(
      (t(0), "u1"), (t(5), "u1"), (t(8), "u1"),   // one session 0..18
      (t(60), "u1"),                               // second session
      (t(2), "u2")).toDF("ts", "user")
    val out = GraftStream.sessionize(events, "user", "ts", "10 seconds")
      .select($"user", $"session_start".cast("long"),
        $"session_end".cast("long"), $"n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("u1", 0L, 18L, 3L), ("u1", 60L, 70L, 1L), ("u2", 2L, 12L, 1L)))
    // the streaming flavor analyzes with a watermark (append-ready)
    val input = MemoryStream[(Timestamp, String)](spark)
    val sdf = GraftStream.sessionize(input.toDF().toDF("ts", "user"),
      "user", "ts", "10 seconds", watermarkDelay = Some("5 seconds"))
    assert(sdf.isStreaming)
    assert(sdf.queryExecution.analyzed.toString.contains("session_window"))
  }

  test("sessionize APPEND mode: watermark-closed sessions emit once, " +
      "equal batch on the closed set, state evicted (q152's " +
      "production shape)") {
    def t(sec: Long) = new Timestamp(sec * 1000)
    val input = MemoryStream[(Timestamp, String)](spark)
    val sess = GraftStream.sessionize(input.toDF().toDF("ts", "user"),
      "user", "ts", "10 seconds", watermarkDelay = Some("5 seconds"))
    val q = sess.writeStream.format("memory").queryName("sess_append")
      .outputMode("append")
      .option("checkpointLocation", freshCkpt("sess_append"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((t(0), "u1"), (t(5), "u1"), (t(8), "u1"), (t(2), "u2"))
      q.processAllAvailable()
      // nothing closed yet (watermark still at 3s): append emits none
      assert(spark.table("sess_append").isEmpty)
      // t=100 advances the watermark to 95s — both early sessions
      // (ends 18s, 12s) close and emit; the 100s session stays open
      input.addData((t(100), "u1"))
      q.processAllAvailable()
      val emitted = spark.table("sess_append")
        .select($"user", $"session_start".cast("long"),
          $"session_end".cast("long"), $"n_events")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(emitted == Set(("u1", 0L, 18L, 3L), ("u2", 2L, 12L, 1L)))
      // closed-window equality with the batch spelling over the same
      // events (the q83/q129 discipline): batch sessions whose end
      // precedes the watermark == exactly the append emissions
      val batchClosed = GraftStream.sessionize(
          Seq((t(0), "u1"), (t(5), "u1"), (t(8), "u1"), (t(2), "u2"),
            (t(100), "u1")).toDF("ts", "user"),
          "user", "ts", "10 seconds")
        .filter($"session_end".cast("long") <= 95L)
        .select($"user", $"session_start".cast("long"),
          $"session_end".cast("long"), $"n_events")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(emitted == batchClosed)
      // exactly-once: closing the last session must not re-emit the
      // earlier ones
      input.addData((t(200), "u2"))
      q.processAllAvailable()
      val all = spark.table("sess_append")
        .select($"user", $"session_start".cast("long"))
        .as[(String, Long)].collect().toSeq
      assert(all.size == all.distinct.size, s"re-emission: $all")
      assert(all.toSet == Set(("u1", 0L), ("u2", 2L), ("u1", 100L)))
      // bounded state: only the single open session (u2 @200s) may
      // hold state after the watermark passed everything else
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st(0).numRowsTotal <= 2,
        s"state not evicted: ${st(0).numRowsTotal} rows")
    } finally q.stop()
  }

  test("seasonal profile APPEND mode: closed windows equal the batch " +
      "cells, open window withheld (q250's production shape)") {
    def t(sec: Long) = new Timestamp(sec * 1000)
    // hour-of-day parity scaled down: 60s 'days', 10s 'hours' —
    // bucket = (secs / 10) % 6 rides windowedCounts as a group col
    val input = MemoryStream[(Timestamp, String)](spark)
    val src = input.toDF().toDF("ts", "kind")
      .withColumn("bucket",
        expr("(CAST(ts AS LONG) div 10) % 6"))
    val prof = GraftStream.windowedCounts(src, "ts", "60 seconds",
      "5 seconds", groupCols = Seq("kind", "bucket"))
    val q = prof.writeStream.format("memory").queryName("seas_append")
      .outputMode("append")
      .option("checkpointLocation", freshCkpt("seas_append"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      val day1 = Seq((t(1), "a"), (t(11), "a"), (t(12), "a"),
        (t(31), "b"), (t(55), "a"))
      input.addData(day1: _*)
      q.processAllAvailable()
      assert(spark.table("seas_append").isEmpty) // day 1 still open
      input.addData((t(130), "a")) // watermark 125s closes day 1
      q.processAllAvailable()
      val emitted = spark.table("seas_append")
        .select($"window_start".cast("long"), $"kind", $"bucket", $"n")
        .as[(Long, String, Long, Long)].collect().toSet
      val batchDay1 = day1.toDF("ts", "kind")
        .withColumn("bucket", expr("(CAST(ts AS LONG) div 10) % 6"))
        .groupBy($"kind", $"bucket").agg(count(lit(1)).as("n"))
        .select(lit(0L), $"kind", $"bucket", $"n")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(emitted == batchDay1,
        s"closed-day cells diverge: $emitted vs $batchDay1")
    } finally q.stop()
  }

  test("streaming reader auto-decodes a PETASTORM store from its own " +
      "pickled Unischema (schema parity with GraftRead)") {
    val fx = {
      val f = new java.io.File("fixtures/petastorm_legacy_0.7.6")
      if (f.exists) f.getAbsolutePath
      else "/root/repo/fixtures/petastorm_legacy_0.7.6"
    }
    val stream = GraftStream.reader(spark, fx).load()
    assert(stream.isStreaming)
    runAvailableNow(stream.select($"id", $"matrix_uint16", $"sensor_name"),
      "ps_stream")
    val got = spark.table("ps_stream")
    assert(got.count() == 100L)
    val row = got.filter($"id" === 3L).head()
    assert(row.getSeq[Long](1).length == 32 * 16 * 3)
    assert(row.getSeq[String](2) == Seq("test_sensor"))
    // equal to the batch auto-decode path
    val batch = GraftRead.reader(spark, fx).load()
      .select($"id", $"matrix_uint16", $"sensor_name")
    assert(got.orderBy($"id").collect().toSeq ==
      batch.orderBy($"id").collect().toSeq)
  }

  test("admitFirstN on a batch frame equals the row_number spelling") {
    val df = Seq(
      (1L, 30L, 103L), (1L, 10L, 101L), (1L, 20L, 102L), (1L, 40L, 104L),
      (2L, 5L, 201L), (2L, 5L, 200L), (2L, 7L, 202L),
      (3L, 9L, 300L)).toDF("key", "ord", "id")
    val got = GraftStream.admitFirstN(df, "key", "ord", "id", n = 2)
      .as[(Long, Long, Long)].collect().toSet
    val want = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"key")
          .orderBy($"ord", $"id")))
      .filter($"rn" <= 2).drop("rn")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // tie on ord broken by id: (2,5,200) admitted before (2,5,201)
    assert(got.contains((2L, 5L, 200L)) && got.contains((2L, 5L, 201L)))
    assert(!got.contains((2L, 7L, 202L)))
  }

  test("admitFirstN carries quota state ACROSS micro-batches (FCFS)") {
    val dir = new java.io.File(scratch(
      "quota-src-" + java.util.UUID.randomUUID().toString.take(8)))
    dir.mkdirs()
    def land(name: String, modTime: Long, rows: (Long, Long, Long)*): Unit = {
      val tmp = scratch("quota-tmp-" + name)
      rows.toSeq.toDF("key", "ord", "id").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(modTime))
    }
    // batch 1 (older file): u1 gets ords 100,200 — fills its n=2 quota
    val t0 = System.currentTimeMillis() - 60000
    land("a.parquet", t0, (1L, 100L, 1L), (1L, 200L, 2L), (2L, 50L, 3L))
    // batch 2 (newer file): u1 ord=10 is EARLIER but must be rejected
    // (quota spent in batch 1); u2 still has room
    land("b.parquet", t0 + 5000, (1L, 10L, 4L), (2L, 60L, 5L), (2L, 70L, 6L))

    val src = spark.readStream
      .schema("key LONG, ord LONG, id LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
    val admitted = GraftStream.admitFirstN(src, "key", "ord", "id", n = 2)
    runAvailableNow(admitted, "stream_quota")
    val got = spark.table("stream_quota")
      .as[(Long, Long, Long)].collect().toSet
    // u1: batch-1 rows win despite batch-2's earlier ord (state carry);
    // u2: one slot left after batch 1 → earliest batch-2 row takes it
    assert(got == Set(
      (1L, 100L, 1L), (1L, 200L, 2L),
      (2L, 50L, 3L), (2L, 60L, 5L)))
  }

  test("streaming reader handles hive-partitioned stores + maxFiles knob") {
    val url = scratch("stream-part-" + java.util.UUID.randomUUID().toString.take(8))
    val src = spark.range(60).toDF("id")
      .withColumn("cat", concat(lit("c"), pmod($"id", lit(3))))
    val schema = GraftSchema("p", Seq(
      FieldSpec("id", LongType), FieldSpec("cat", StringType)))
    Materialize.materialize(src, url, schema, partitionCols = Seq("cat"))
    runAvailableNow(
      GraftStream.reader(spark, url).maxFiles(2)
        .predicate($"cat" === "c1").load(),
      "stream_part")
    val rows = spark.table("stream_part").select($"id", $"cat")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows.length == 20)
    assert(rows.forall { case (id, cat) => id % 3 == 1 && cat == "c1" })
  }
}
