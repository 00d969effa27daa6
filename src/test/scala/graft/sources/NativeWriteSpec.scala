package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The NATIVE V2 batch write ([[GraftWriteBuilderV2]]): SQL INSERT
  * INTO / INSERT OVERWRITE stage parquet files executor-side
  * DIRECTLY in the store root (no staging directory, no driver
  * renames) and commit one manifest version — with the staged-name
  * signature proving the path, physical-name writes on renamed
  * stores, colmap reset on overwrite, constraint refusal cleaning
  * its staged files, lazy-open one-file-per-non-empty-task layout,
  * and the plan carrying a genuine V2 AppendData (no
  * V1-fallback node). */
class NativeWriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = {
    val r = scratch(
      s"nativewrite/${java.util.UUID.randomUUID().toString.take(8)}")
    spark.conf.set("spark.sql.catalog.gw",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gw.root",
      new java.io.File(r).getAbsolutePath)
    r
  }

  /** Staged names carry the executor-direct signature
    * `s{v}-{tag}-p{part}-t{task}.parquet` of the one store writer
    * (SQL writes and programmatic commits alike). */
  private def v2Named(f: String): Boolean =
    f.matches("s\\d{8}-[0-9a-f]{8}-p\\d{5}-t\\d+\\.parquet")

  test("INSERT INTO stages executor-direct files and commits one " +
      "append version; the plan is a native V2 AppendData") {
    val url = s"$root/ins"
    Snapshots.create(spark, url,
      (1L to 50L).map(i => (i, i * 3)).toDF("id", "v"), nFiles = 2)
    (51L to 80L).map(i => (i, i * 3)).toDF("id", "v")
      .createOrReplaceTempView("nw_src")
    spark.sql("INSERT INTO gw.ins SELECT * FROM nw_src")
    val s2 = Snapshots.snap(spark, url, 2)
    assert(s2.op == "append")
    val added = s2.files.toSet -- Snapshots.snap(spark, url, 1).files
    assert(added.nonEmpty && added.forall(v2Named),
      s"staged names missed the V2 signature: $added")
    // no staging DIRECTORY was ever created (the V1 path's
    // _snap_stage_* round trip is gone)
    val fs = new Path(url)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new Path(url))
      .exists(_.getPath.getName.startsWith("_snap_stage_")))
    assert(spark.sql("SELECT sum(v) AS s FROM gw.ins").as[Long]
      .head() == (1L to 80L).map(_ * 3).sum)
    // the INSERT plan is the V2 AppendData exec, not a V1 fallback
    val planStr = {
      val qe = spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(
          "INSERT INTO gw.ins SELECT * FROM nw_src WHERE id > 999"))
      qe.executedPlan.toString
    }
    assert(planStr.contains("AppendData") &&
      !planStr.contains("AppendDataExecV1"), planStr)
  }

  test("lazy open: a single-partition INSERT stages exactly one " +
      "file; an all-empty INSERT commits a version with no new " +
      "files") {
    val url = s"$root/lazy"
    Snapshots.create(spark, url,
      Seq((1L, "a")).toDF("id", "s"), nFiles = 1)
    spark.sql("INSERT INTO gw.lazy VALUES (2, 'b')")
    val s2 = Snapshots.snap(spark, url, 2)
    val added = s2.files.toSet -- Snapshots.snap(spark, url, 1).files
    assert(added.size == 1, s"VALUES insert staged $added")
    // empty source: version bumps (the statement committed), zero
    // new files, schema intact
    spark.sql("INSERT INTO gw.lazy SELECT * FROM gw.lazy WHERE id > 99")
    val s3 = Snapshots.snap(spark, url, 3)
    assert(s3.op == "append" && s3.files.toSet == s2.files.toSet)
    assert(Snapshots.read(spark, url).count() == 2L)
  }

  test("renamed store: INSERT writes PHYSICAL names; INSERT " +
      "OVERWRITE resets the column mapping") {
    val url = s"$root/ren"
    Snapshots.create(spark, url,
      (1L to 10L).map(i => (i, s"d$i")).toDF("id", "data"),
      nFiles = 1)
    Snapshots.renameColumn(spark, url, "data", "body")
    spark.sql("INSERT INTO gw.ren VALUES (11, 'd11')")
    val postIns = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
    assert(postIns.colmap == Map("body" -> "data"))
    // the staged file must carry the PHYSICAL field name (one stable
    // physical schema per store lifetime)
    val newFile = (postIns.files.toSet --
      Snapshots.snap(spark, url, 2).files).head
    val raw = spark.read.parquet(new Path(url, newFile).toString)
    assert(raw.columns.toSeq == Seq("id", "data"), raw.columns.toSeq)
    assert(Snapshots.read(spark, url).filter(col("id") === 11L)
      .select("body").as[String].head() == "d11")
    // OVERWRITE pins the batch's schema and resets colmap — files
    // under LOGICAL names from here on
    spark.sql("INSERT OVERWRITE gw.ren VALUES (1, 'fresh')")
    val head = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
    assert(head.op == "overwrite" && head.colmap.isEmpty)
    val owFile = head.files.head
    assert(spark.read.parquet(new Path(url, owFile).toString)
      .columns.toSeq == Seq("id", "body"))
    assert(Snapshots.read(spark, url).select("id", "body")
      .as[(Long, String)].collect().toSeq == Seq((1L, "fresh")))
  }

  test("CHECK constraint refusal deletes its staged files and " +
      "leaves the store at the parent version") {
    val url = s"$root/chk"
    Snapshots.create(spark, url,
      Seq((1L, 10L)).toDF("id", "v"), nFiles = 1)
    Snapshots.addConstraint(spark, url, "v_pos", "v > 0")
    val before = Snapshots.snap(spark, url, 1).files.toSet
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gw.chk VALUES (2, -5)")
    }
    assert(e.getMessage.contains("v_pos") ||
      e.getCause != null && e.getCause.getMessage.contains("v_pos"),
      e.getMessage)
    assert(Snapshots.latest(spark, url) == 1)
    // the refused batch's executor-staged files are GONE (not even
    // vacuum debris)
    val fs = new Path(url)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = fs.listStatus(new Path(url)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == before, s"staged debris survived: " +
      s"${onDisk -- before}")
  }

  test("concurrent SQL INSERTs land contiguous versions (the " +
      "race-retrying append commit)") {
    val url = s"$root/conc"
    Snapshots.create(spark, url,
      Seq((0L, 0L)).toDF("id", "v"), nFiles = 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { k =>
      Future {
        spark.sql(s"INSERT INTO gw.conc VALUES ($k, ${k * 10})")
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(Snapshots.versions(spark, url) == (1 to 5))
    assert(Snapshots.read(spark, url).agg(sum("v")).as[Long]
      .head() == 100L)
  }

  test("SQL INSERT keeps the conventional sidecars LIVE: the stats " +
      "coverage gate and the bloom discovery survive ingest with " +
      "zero manual CALLs") {
    val url = s"$root/side"
    Snapshots.create(spark, url,
      (1L to 40L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 2,
      clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id"))
    Snapshots.indexBloom(spark, url, Seq("id"))
    spark.sql("INSERT INTO gw.side VALUES (41, 82), (99, 198)")
    // the coverage gate requires EVERY entry indexed — a stale
    // sidecar would price None and this would scan
    assert(Snapshots.statsMinMax(spark, url, "id") ==
      Some((Some(1L), Some(99L))),
      "post-insert stats must cover the new files")
    val priced = spark.sql("SELECT max(id) AS hi FROM gw.side")
    assert(priced.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      "min/max must stay metadata-priced after SQL ingest")
    assert(priced.as[Long].head() == 99L)
    // MERGE pruning still discovers a LIVE bloom: a 1-key merge on
    // the 3-file store (2 create + 1 insert) rewrites fewer files
    // than the store holds
    val before = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    Seq((41L, 500L)).toDF("id", "v")
      .createOrReplaceTempView("side_src")
    spark.sql(
      """MERGE INTO gw.side AS t USING side_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(after.intersect(before).nonEmpty,
      "bloom-discovered MERGE must not rewrite the whole store")
  }

  test("writeStream.toTable: one append version per epoch, " +
      "exactly-once across restarts, end-to-end native pipe from " +
      "readStream.table") {
    import org.apache.spark.sql.streaming.Trigger
    val src = s"$root/pipe_src"
    val dst = s"$root/pipe_dst"
    val ck = scratch(
      s"nw_ck/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, src,
      (1L to 50L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 2)
    Snapshots.create(spark, dst,
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row],
        Snapshots.headSchema(spark, src)), nFiles = 1)
    def drain(): Unit = spark.readStream.table("gw.pipe_src")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .toTable("gw.pipe_dst").awaitTermination()
    drain()
    assert(Snapshots.read(spark, dst).select(col("id")).as[Long]
      .collect().sorted.toSeq == (1L to 50L),
      "first drain must land the source's full contents")
    val headOp = Snapshots.snap(spark, dst,
      Snapshots.latest(spark, dst)).op
    assert(headOp.startsWith("append:sw-"),
      s"epoch commits must carry the exactly-once key, got $headOp")
    // restart with NO new source data: no new version (empty epochs
    // commit nothing; the checkpoint resumes past the consumed
    // offset)
    val vAfterFirst = Snapshots.latest(spark, dst)
    drain()
    assert(Snapshots.latest(spark, dst) == vAfterFirst,
      "an empty drain must not mint versions")
    // append at the source; only the delta lands
    Snapshots.append(spark, src,
      (51L to 60L).map(i => (i, i * 2)).toDF("id", "v"))
    drain()
    assert(Snapshots.read(spark, dst).select(col("id")).as[Long]
      .collect().sorted.toSeq == (1L to 60L),
      "the second drain must land exactly the appended delta")
    // end-to-end parity with the batch read
    assert(Snapshots.read(spark, dst).select(col("id"), col("v"))
      .as[(Long, Long)].collect().toSet ==
      Snapshots.read(spark, src).select(col("id"), col("v"))
        .as[(Long, Long)].collect().toSet)
  }

  test("streaming writes compose with column mapping and CHECK " +
      "constraints: epochs stage physical names; a violating epoch " +
      "fails the stream loudly and leaves no version") {
    import org.apache.spark.sql.streaming.Trigger
    val src = s"$root/swc_src"
    val dst = s"$root/swc_dst"
    Snapshots.create(spark, src,
      (1L to 10L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 1)
    Snapshots.create(spark, dst,
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row],
        Snapshots.headSchema(spark, src)), nFiles = 1)
    Snapshots.renameColumn(spark, dst, "v", "val")
    Snapshots.addConstraint(spark, dst, "val_cap", "val < 100")
    def drain(ck: String, srcTable: String): Unit =
      spark.readStream.table(srcTable)
        .withColumnRenamed("v", "val")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .toTable("gw.swc_dst").awaitTermination()
    drain(scratch(s"swc_ck/${java.util.UUID.randomUUID().toString
      .take(8)}"), "gw.swc_src")
    // the landed epoch staged PHYSICAL names under the colmap
    val head = Snapshots.snap(spark, dst, Snapshots.latest(spark, dst))
    assert(head.colmap == Map("val" -> "v"))
    val newFile = head.files.filterNot(
      Snapshots.snap(spark, dst, 2).files.toSet).head
    assert(spark.read.parquet(
      new Path(dst, newFile).toString).columns.toSeq == Seq("id", "v"))
    assert(Snapshots.read(spark, dst).select(col("val")).as[Long]
      .collect().sorted.toSeq == (1L to 10L).map(_ * 2))
    // a violating epoch (val = 999 >= 100) refuses with the
    // constraint named; the store stays at its version
    val vBefore = Snapshots.latest(spark, dst)
    Snapshots.append(spark, src, Seq((99L, 999L)).toDF("id", "v"))
    val e = intercept[Exception] {
      drain(scratch(s"swc_ck2/${java.util.UUID.randomUUID().toString
        .take(8)}"), "gw.swc_src")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("val_cap")),
      s"expected the constraint refusal, got ${chain(e).take(3)}")
    assert(Snapshots.latest(spark, dst) == vBefore,
      "a refused epoch must not commit")
  }

  test("schema evolution stays guarded: writeTo append with a new " +
      "column evolves additively; old files read it as null") {
    val url = s"$root/evo"
    Snapshots.create(spark, url,
      Seq((1L, "x")).toDF("id", "s"), nFiles = 1)
    // SQL INSERT enforces the table schema; the DataFrame writeTo
    // path goes through the same V2 builder
    Seq((2L, "y")).toDF("id", "s").writeTo("gw.evo").append()
    assert(Snapshots.read(spark, url).count() == 2L)
    assert(Snapshots.snap(spark, url, 2).op == "append")
  }
}
