package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshUrl(tag: String): String = {
    val u = scratch(s"snap_$tag/${java.util.UUID.randomUUID().toString.take(8)}")
    u
  }

  test("create/append/overwrite commit monotone versions and " +
      "readAsOf sees each version's exact rows") {
    val url = freshUrl("basic")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Snapshots.create(spark, url, a, nFiles = 2) == 1)
    assert(Snapshots.append(spark, url,
      Seq((3L, "c")).toDF("id", "v"), nFiles = 1) == 2)
    assert(Snapshots.overwrite(spark, url,
      Seq((9L, "z")).toDF("id", "v"), nFiles = 1) == 3)
    assert(Snapshots.versions(spark, url) == Seq(1, 2, 3))
    assert(Snapshots.readAsOf(spark, url, 1).count() == 2)
    assert(Snapshots.readAsOf(spark, url, 2).count() == 3)
    assert(Snapshots.read(spark, url).as[(Long, String)].collect()
      .toSet == Set((9L, "z")))
    // an appended version shares its parent's files (no rewrite)
    val s1 = Snapshots.snap(spark, url, 1).files.toSet
    val s2 = Snapshots.snap(spark, url, 2).files.toSet
    assert(s1.subsetOf(s2) && (s2 -- s1).size == 1)
  }

  test("upsert is copy-on-write: the parent version still reads " +
      "its pre-merge rows, and unaffected files are shared") {
    val url = freshUrl("cow")
    val base = (1L to 100L).map(i => (i, i * 10)).toDF("id", "x")
    Snapshots.create(spark, url, base, nFiles = 4)
    val ups = Seq((5L, 999L, false), (101L, 1L, false), (7L, 0L, true))
      .toDF("id", "x", "del")
    val v = Snapshots.upsert(spark, url, ups, "id",
      deleteCol = Some("del"))
    assert(v == 2)
    // old version intact
    val old = Snapshots.readAsOf(spark, url, 1)
      .as[(Long, Long)].collect().toMap
    assert(old(5L) == 50L && old.contains(7L) && old.size == 100)
    // new version merged
    val now = Snapshots.read(spark, url).as[(Long, Long)].collect().toMap
    assert(now(5L) == 999L && !now.contains(7L) && now(101L) == 1L &&
      now.size == 100)
  }

  test("vacuum retires only below the floor; orphans need grace; " +
      "surviving versions stay readable") {
    val url = freshUrl("vac")
    Snapshots.create(spark, url,
      (1L to 50L).toDF("id"), nFiles = 4)
    Snapshots.overwrite(spark, url,
      (51L to 60L).toDF("id"), nFiles = 2)
    Snapshots.append(spark, url, Seq(61L).toDF("id"), nFiles = 1)
    val (nF, nM) = Snapshots.vacuum(spark, url, keepFrom = 2,
      graceMs = 0L)
    assert(nF == 4 && nM == 1) // v1's 4 files + its manifest
    assert(Snapshots.versions(spark, url) == Seq(2, 3))
    assert(Snapshots.read(spark, url).count() == 11)
    assert(Snapshots.readAsOf(spark, url, 2).count() == 10)
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, url, 1)
    }
    // an unreferenced file younger than the grace window survives
    // (it may be an in-flight commit's staged rename)
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(
      spark.sessionState.newHadoopConf())
    val stray = new org.apache.hadoop.fs.Path(root,
      "s99999999-deadbeef-00000.parquet")
    fs.create(stray, true).close()
    val (nF2, _) = Snapshots.vacuum(spark, url, keepFrom = 2,
      graceMs = 3600L * 1000)
    assert(nF2 == 0 && fs.exists(stray))
    val (nF3, _) = Snapshots.vacuum(spark, url, keepFrom = 2,
      graceMs = 0L)
    assert(nF3 == 1 && !fs.exists(stray))
  }

  test("changes: manifest-diff CDC feed is value-level exact — " +
      "co-resident rewritten rows do not appear") {
    val url = freshUrl("cdc")
    val base = (1L to 40L).map(i => (i, i * 10)).toDF("id", "x")
    Snapshots.create(spark, url, base, nFiles = 2)
    // file-granular rewrite: ids 1..40 live in 2 files, so the
    // upsert of 3 keys rewrites files carrying ~20 neighbors each
    val ups = Seq((5L, 999L, false), (100L, 1L, false), (7L, 0L, true))
      .toDF("id", "x", "del")
    Snapshots.upsert(spark, url, ups, "id", deleteCol = Some("del"))
    val got = Snapshots.changes(spark, url, "id", 1, 2)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((5L, 999L, "update"), (100L, 1L, "insert"),
      (7L, 70L, "delete")))
    // append span: pure inserts
    Snapshots.append(spark, url, Seq((200L, 2L)).toDF("id", "x"))
    assert(Snapshots.changes(spark, url, "id", 2, 3)
      .as[(Long, Long, String)].collect().toSeq ==
      Seq((200L, 2L, "insert")))
    // full-span diff composes: v1 -> v3
    val full = Snapshots.changes(spark, url, "id", 1, 3)
      .as[(Long, Long, String)].collect().toSet
    assert(full == Set((5L, 999L, "update"), (100L, 1L, "insert"),
      (7L, 70L, "delete"), (200L, 2L, "insert")))
    intercept[IllegalArgumentException] {
      Snapshots.changes(spark, url, "id", 2, 2)
    }
  }

  test("appendOnce: a replayed commit key is a no-op (exactly-once " +
      "for at-least-once callers), distinct keys append") {
    val url = freshUrl("once")
    Snapshots.create(spark, url, Seq(1L).toDF("id"), nFiles = 1)
    val v2 = Snapshots.appendOnce(spark, url, Seq(2L).toDF("id"),
      "s1_b0", nFiles = 1)
    assert(v2 == 2)
    // replay (the foreachBatch retry): same key, same version, no
    // new rows even with different data offered
    assert(Snapshots.appendOnce(spark, url, Seq(99L).toDF("id"),
      "s1_b0", nFiles = 1) == 2)
    assert(Snapshots.read(spark, url).count() == 2)
    assert(Snapshots.appendOnce(spark, url, Seq(3L).toDF("id"),
      "s1_b1", nFiles = 1) == 3)
    assert(Snapshots.read(spark, url).count() == 3)
    intercept[IllegalArgumentException] {
      Snapshots.appendOnce(spark, url, Seq(4L).toDF("id"), "bad key")
    }
  }

  test("snapshotSink streams micro-batches into versioned commits " +
      "— one version per epoch, replay-safe lineage") {
    import org.apache.spark.sql.streaming.Trigger
    val base = freshUrl("sink")
    val stage = s"$base/stage"
    val url = s"$base/store"
    val df = (1L to 9L).toDF("id")
    df.repartition(3).write.parquet(stage)
    Snapshots.create(spark, url, Seq(0L).toDF("id"), nFiles = 1)
    val src = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = graft.streaming.GraftStream
      .snapshotSink(src, url, "t1", nFiles = 1)
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(Snapshots.read(spark, url).count() == 10)
    val ops = Snapshots.versions(spark, url)
      .map(v => Snapshots.snap(spark, url, v).op)
    assert(ops.head == "create" &&
      ops.tail.forall(_.startsWith("append:t1_b")))
    assert(ops.tail.distinct.length == ops.tail.length)
  }

  test("snapshotSink bloomIndex hook keeps the sidecar fresh per " +
      "epoch: post-stream upsert prunes AND stays exact") {
    import org.apache.spark.sql.streaming.Trigger
    val base = freshUrl("sinkbloom")
    val stage = s"$base/stage"
    val url = s"$base/store"
    val idx = s"$base/idx"
    val df = (1L to 9L).map(i => (i, s"v$i")).toDF("id", "v")
    df.repartition(3).write.parquet(stage)
    Snapshots.create(spark, url, Seq((0L, "v0")).toDF("id", "v"),
      nFiles = 1)
    RowGroupIndex.buildBloom(spark, url, Seq("id"), idx, 1000L)
    val src = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = graft.streaming.GraftStream
      .snapshotSink(src, url, "t2", nFiles = 1,
        bloomIndex = Some((idx, Seq("id"))))
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every live file is covered — the sidecar tracked each epoch
    val covered = RowGroupIndex.bloomCoveredFiles(spark, idx, "id")
    val live = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(live.subsetOf(covered), s"uncovered: ${live -- covered}")
    // and the upsert prune actually bites: one key touches few files
    val parentFiles = live.size
    val v = Snapshots.upsert(spark, url,
      Seq((5L, "MERGED", false)).toDF("id", "v", "del"),
      "id", deleteCol = Some("del"), bloomIndexUrl = Some(idx))
    val kept = Snapshots.snap(spark, url, v).files
      .count(f => live.contains(f))
    assert(kept > 0, "no file survived — prune did nothing")
    assert(kept < parentFiles, s"no prune: rewrote all $parentFiles")
    val hits = Snapshots.read(spark, url).filter(col("id") === 5L)
      .select("v").as[String].collect().toSeq
    assert(hits == Seq("MERGED"))
    assert(Snapshots.read(spark, url).count() == 10L)
  }

  test("concurrent commit loses the race loudly (create-exclusive " +
      "manifest), duplicate update keys and schema drift refused") {
    val url = freshUrl("race")
    Snapshots.create(spark, url, Seq((1L, "a")).toDF("id", "v"))
    val root = new org.apache.hadoop.fs.Path(url)
    // two writers that both resolved parent v1 race for the v2
    // slot: the second commit to the same version must fail (the
    // create-exclusive manifest is the whole concurrency story)
    Snapshots.commit(spark, root, 2, "append", Seq())
    val e = intercept[RuntimeException] {
      Snapshots.commit(spark, root, 2, "append", Seq())
    }
    assert(e.getMessage.contains("concurrent commit"))
    // a LATER writer sees the winner and builds on it
    assert(Snapshots.append(spark, url,
      Seq((2L, "b")).toDF("id", "v")) == 3)
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, url,
        Seq((1L, "x"), (1L, "y")).toDF("id", "v"), "id")
    }
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, url,
        Seq((1L, "x", 0)).toDF("id", "v", "extra"), "id")
    }
  }

  test("indexStats + cluster: range reads skip files by manifest " +
      "stats, refresh is O(new files), stale stats stay correct") {
    val url = freshUrl("stats")
    val base = (1L to 400L).map(i => (i, i % 7, i)).toDF("id", "g", "x")
    Snapshots.create(spark, url, base, nFiles = 8)
    // round-robin layout: every file spans the full x range, so
    // stats prune nothing — clustering is what creates skippability
    Snapshots.cluster(spark, url, "x", nFiles = 8)
    assert(Snapshots.indexStats(spark, url, Seq("x")) ==
      Snapshots.versions(spark, url)
        .flatMap(v => Snapshots.snap(spark, url, v).files).distinct.size)
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val pruned = Snapshots.prunedFiles(spark, url, v, "x", 10L, 60L)
    assert(pruned.size < total,
      s"expected pruning on a clustered store (kept ${pruned.size}/$total)")
    val got = Snapshots.readWhere(spark, url, "x", 10L, 60L)
      .agg(count(lit(1)), sum("x")).as[(Long, Long)].head()
    assert(got == ((51L, (10L to 60L).sum)))
    // a second refresh scans nothing (every file covered, including
    // the pre-cluster v1 files)
    assert(Snapshots.indexStats(spark, url, Seq("x")) == 0)
    // stale stats: new files from an upsert are unknown → kept, so
    // the read stays exact before any refresh
    Snapshots.upsert(spark, url,
      Seq((1000L, 0L, 30L, false)).toDF("id", "g", "x", "del"),
      "id", deleteCol = Some("del"))
    val got2 = Snapshots.readWhere(spark, url, "x", 10L, 60L)
      .agg(count(lit(1)), sum("x")).as[(Long, Long)].head()
    assert(got2 == ((52L, (10L to 60L).sum + 30L)))
    // refresh now covers exactly the upsert's rewritten files
    val newFiles = Snapshots.versions(spark, url)
      .flatMap(vv => Snapshots.snap(spark, url, vv).files)
      .distinct.size
    val covered = total + Snapshots.snap(spark, url, 1).files.size
    assert(Snapshots.indexStats(spark, url, Seq("x")) ==
      newFiles - covered)
    // field-set drift is refused (a half-indexed sidecar would
    // silently stop pruning the missing field)
    intercept[IllegalArgumentException] {
      Snapshots.indexStats(spark, url, Seq("x", "g"))
    }
  }

  test("schema evolution: append with a new column pins the merged " +
      "schema in the manifest; old files read it as null; type " +
      "changes refused; CDC crosses the boundary") {
    val url = freshUrl("evolve")
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Snapshots.create(spark, url, v1, nFiles = 1)
    // additive append: new column `score` arrives
    Snapshots.append(spark, url,
      Seq((3L, "c", 10L)).toDF("id", "v", "score"), nFiles = 1)
    val now = Snapshots.read(spark, url)
    assert(now.columns.toSeq == Seq("id", "v", "score"))
    val rows = now.as[(Long, String, Option[Long])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(10L))))
    // time travel still reads v1 under ITS schema (no score column)
    assert(Snapshots.readAsOf(spark, url, 1).columns.toSeq ==
      Seq("id", "v"))
    // schema resolution came from the manifest, not a footer merge
    assert(Snapshots.snap(spark, url, 2).schema.isDefined)
    // a type change is refused (rewrite territory, not evolution)
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, url,
        Seq((4L, "d", "not-a-long")).toDF("id", "v", "score"))
    }
    assert(e.getMessage.contains("type changed"))
    // upsert and CDC work across the boundary: old rows' score is
    // null in the feed, not a resolution error
    Snapshots.upsert(spark, url,
      Seq((1L, "a2", 5L, false)).toDF("id", "v", "score", "del"),
      "id", deleteCol = Some("del"))
    val feed = Snapshots.changes(spark, url, "id", 2, 3)
      .as[(Long, String, Option[Long], String)].collect().toSet
    assert(feed == Set((1L, "a2", Some(5L), "update")))
  }

  test("restore re-lists an old version's files as a new commit — " +
      "zero data movement, history intact") {
    val url = freshUrl("restore")
    Snapshots.create(spark, url, Seq((1L, "a")).toDF("id", "v"))
    Snapshots.overwrite(spark, url, Seq((9L, "bad")).toDF("id", "v"))
    val v3 = Snapshots.restore(spark, url, 1)
    assert(v3 == 3)
    // exact v1 content, and the SAME immutable files (no rewrite)
    assert(Snapshots.read(spark, url).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
    assert(Snapshots.snap(spark, url, 3).files ==
      Snapshots.snap(spark, url, 1).files)
    assert(Snapshots.snap(spark, url, 3).op == "restore:v1")
    // the bad version stays auditable
    assert(Snapshots.readAsOf(spark, url, 2).as[(Long, String)]
      .collect().toSet == Set((9L, "bad")))
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, url, 3)
    }
  }

  test("zcluster + prunedFilesAll: a z-ordered store prunes on " +
      "EITHER dimension; the 1-D layout cannot") {
    val url = freshUrl("zorder")
    // 4096-point uniform grid: x, y in [0, 64)
    val grid = (0L until 4096L)
      .map(i => (i, i % 64, i / 64)).toDF("id", "x", "y")
    Snapshots.create(spark, url, grid, nFiles = 16)
    Snapshots.cluster(spark, url, "x", nFiles = 16) // 1-D layout
    Snapshots.zcluster(spark, url, 6, Seq("x", "y"), nFiles = 16)
    Snapshots.indexStats(spark, url, Seq("x", "y"))
    val zV = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, zV).files.size
    // a narrow rectangle prunes on both dims under z-order
    val rect = Seq(Snapshots.LongRange("x", 0L, 15L),
      Snapshots.LongRange("y", 0L, 15L))
    val keptZ = Snapshots.prunedFilesAll(spark, url, zV, rect).size
    assert(keptZ < total, s"z-order kept $keptZ/$total")
    // the 1-D x-clustered version prunes on x but NOT on y
    val kept1dY = Snapshots.prunedFiles(spark, url, zV - 1, "y",
      0L, 15L).size
    assert(kept1dY == Snapshots.snap(spark, url, zV - 1).files.size,
      "x-clustered files should all span the full y range")
    // and the read is exact
    val got = Snapshots.readWhereAll(spark, url, rect)
      .agg(count(lit(1))).as[Long].head()
    assert(got == 16L * 16L)
  }

  test("compactSmall bin-packs ONLY the small tail: big files " +
      "re-listed by name, reads identical, history intact") {
    val url = freshUrl("binpack")
    val big = (1L to 20000L).map(i => (i, i)).toDF("id", "x")
    Snapshots.create(spark, url, big, nFiles = 1)
    // a stream of tiny appends builds up a small-file tail
    (1 to 5).foreach { k =>
      Snapshots.append(spark, url,
        Seq((100000L + k, k.toLong)).toDF("id", "x"), nFiles = 1)
    }
    val parent = Snapshots.snap(spark, url, Snapshots.latest(spark, url))
    assert(parent.files.size == 6)
    val bigName = Snapshots.snap(spark, url, 1).files.head
    val v = Snapshots.compactSmall(spark, url, smallBytes = 64 << 10)
    assert(v == 7)
    val now = Snapshots.snap(spark, url, v)
    // the big file survives by NAME (never rewritten); the 5 tiny
    // files collapsed into one packed file
    assert(now.files.contains(bigName))
    assert(now.files.size == 2)
    assert(Snapshots.read(spark, url).count() == 20005L)
    assert(Snapshots.readAsOf(spark, url, 6).count() == 20005L)
    // idempotent: one packed file left under the threshold is not
    // worth a new version
    assert(Snapshots.compactSmall(spark, url, smallBytes = 64 << 10)
      == v)
  }

  test("compactSmall(clusterBy) keeps the packed files band-narrow " +
      "so the layout stays skippable after compaction") {
    val url = freshUrl("binpack_cl")
    Snapshots.create(spark, url,
      (1L to 20000L).map(i => (i, i)).toDF("id", "x"), nFiles = 1)
    Snapshots.cluster(spark, url, "x", nFiles = 8)
    // small appends land rows SCATTERED across the whole x range —
    // the worst case for band width
    (1 to 4).foreach { k =>
      Snapshots.append(spark, url,
        (1L to 3000L).map(i => (1000000L * k + i, (i * 37) % 20000L))
          .toDF("id", "x"), nFiles = 1)
    }
    val pre = Snapshots
      .snap(spark, url, Snapshots.latest(spark, url)).files.toSet
    Snapshots.compactSmall(spark, url, smallBytes = 64 << 10,
      targetBytes = 64 << 10, clusterBy = Some("x"))
    val v = Snapshots.latest(spark, url)
    val now = Snapshots.snap(spark, url, v).files
    val packed = now.filterNot(pre).toSet
    assert(packed.size >= 2,
      s"need >=2 packed files to show banding, got ${packed.size}")
    Snapshots.indexStats(spark, url, Seq("x"))
    // a narrow probe must skip at least one PACKED file: the
    // clustered pack gives each packed file a sub-band of x (a
    // round-robin pack would give every packed file the full width)
    val hit = Snapshots.prunedFiles(spark, url, v, "x", 100L, 200L)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert((packed -- hit).nonEmpty,
      s"every packed file spans the probe: packed=$packed hit=$hit")
    // and the compacted store still reads exactly
    assert(Snapshots.read(spark, url).count() == 20000L + 4 * 3000L)
  }

  test("CHECK constraints refuse violating writes atomically (SQL " +
      "semantics: NULL passes), skip columns a batch lacks") {
    val url = freshUrl("check")
    Snapshots.create(spark, url,
      Seq((1L, 10L)).toDF("id", "x"))
    Snapshots.addConstraint(spark, url, "x_nonneg", "x >= 0")
    intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, url, "x_nonneg", "x >= 1")
    }
    // good batch commits; NULL x passes (SQL CHECK semantics)
    Snapshots.append(spark, url,
      Seq[(Long, java.lang.Long)]((2L, 5L), (3L, null)).toDF("id", "x"))
    // violating append refused, store unchanged
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, url, Seq((4L, -1L)).toDF("id", "x"))
    }
    assert(e.getMessage.contains("x_nonneg"))
    assert(Snapshots.latest(spark, url) == 2)
    assert(Snapshots.read(spark, url).count() == 3)
    // violating upsert refused; delete-marked rows are NOT validated
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, url, Seq((1L, -5L)).toDF("id", "x"), "id")
    }
    Snapshots.upsert(spark, url,
      Seq((1L, -5L, true)).toDF("id", "x", "del"), "id",
      deleteCol = Some("del")) // a delete row may carry any values
    assert(Snapshots.read(spark, url).count() == 2)
    // an evolved append lacking the constrained column still commits
    // (the column reads as NULL there — which CHECK passes)
    Snapshots.addConstraint(spark, url, "y_pos", "y > 0")
    Snapshots.append(spark, url, Seq((9L, 1L)).toDF("id", "x"))
    assert(Snapshots.read(spark, url).count() == 3)
  }

  test("indexStats marker rows: all-null and empty files are " +
      "skipped by range reads and never rescanned") {
    val url = freshUrl("statsnull")
    val withNulls = Seq[(Long, java.lang.Long)](
      (1L, 5L), (2L, 6L), (3L, null), (4L, null), (5L, null),
      (6L, null), (7L, null), (8L, null))
      .toDF("id", "x")
    // only 2 non-null rows over 4 files: by pigeonhole at least two
    // files are all-null (or empty) on x
    Snapshots.create(spark, url, withNulls, nFiles = 4)
    assert(Snapshots.indexStats(spark, url, Seq("x")) ==
      Snapshots.snap(spark, url, 1).files.size)
    // nothing fresh on re-run: the all-null files got marker rows
    assert(Snapshots.indexStats(spark, url, Seq("x")) == 0)
    // a range read never keeps an all-null file (NULL can't match)
    val kept = Snapshots.prunedFiles(spark, url, 1, "x", 0L, 100L)
    assert(kept.size < Snapshots.snap(spark, url, 1).files.size)
    assert(Snapshots.readWhere(spark, url, "x", 5L, 5L)
      .as[(Long, java.lang.Long)].collect().toSet ==
      Set((1L, 5L: java.lang.Long)))
  }
  test("commit slot claim is exclusive on the local FS: N racing " +
      "writers for one version -> exactly one wins, its manifest " +
      "survives intact (POSIX rename would have replaced it)") {
    val url = freshUrl("race")
    Snapshots.create(spark, url,
      Seq((1L, "a")).toDF("id", "v"), nFiles = 1)
    val root = new org.apache.hadoop.fs.Path(url)
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        gate.await()
        val ok = try {
          Snapshots.commit(spark, root, 2, "append",
            Seq(s"s2-writer$i-0.parquet"))
          true
        } catch { case _: Throwable => false }
        results.put(i, ok)
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(60000))
    val winners = (0 until n).filter(results.get(_))
    assert(winners.size == 1, s"winners: $winners")
    // the surviving manifest is the winner's, byte-consistent
    val s2 = Snapshots.snap(spark, url, 2)
    assert(s2.files == Seq(s"s2-writer${winners.head}-0.parquet"))
    assert(Snapshots.versions(spark, url) == Seq(1, 2))
    // and no _tmp staging files leak
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_snap"))
      .map(_.getPath.getName).filter(_.startsWith("_tmp"))
    assert(left.isEmpty, left.mkString(","))
  }
  test("upsert with a stale bloom sidecar: a post-index append's keys " +
      "are still merged (uncovered files are affected)") {
    val url = freshUrl("stalebloom")
    val idx = freshUrl("stalebloom_idx")
    Snapshots.create(spark, url,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), nFiles = 4)
    RowGroupIndex.buildBloom(spark, url, Seq("id"), idx, 1000L)
    // v2 lands AFTER the sidecar build — its file has no bloom row
    Snapshots.append(spark, url,
      Seq((500L, "late")).toDF("id", "v"), nFiles = 1)
    Snapshots.upsert(spark, url,
      Seq((500L, "MERGED", false)).toDF("id", "v", "del"),
      "id", deleteCol = Some("del"), bloomIndexUrl = Some(idx))
    val hits = Snapshots.read(spark, url).filter(col("id") === 500L)
      .select("v").as[String].collect().toSeq
    // pre-guard the stale sidecar admitted no files for key 500, the
    // late file was treated as unaffected, and BOTH rows survived
    assert(hits == Seq("MERGED"))
    assert(Snapshots.read(spark, url).count() == 101L)
  }
  test("retention contract: every read below the vacuum floor fails " +
      "loudly — version, timestamp, and change-feed paths") {
    val url = freshUrl("retention")
    Snapshots.create(spark, url,
      Seq((1L, "a")).toDF("id", "v"), nFiles = 1)
    Snapshots.append(spark, url,
      Seq((2L, "b")).toDF("id", "v"), nFiles = 1)
    Snapshots.append(spark, url,
      Seq((3L, "c")).toDF("id", "v"), nFiles = 1)
    val (fs, root) = (new org.apache.hadoop.fs.Path(url)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(url))
    val v2mtime = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      root, "_snap/v00000002.json")).getModificationTime
    Snapshots.vacuum(spark, url, keepFrom = 2, graceMs = 0L)
    // version path: the manifest is gone, the error names it
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, url, 1)
    }
    assert(e1.getMessage.contains("no snapshot v1"))
    // timestamp path: an instant below the floor never resolves to a
    // newer version silently
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.readAsOfTime(spark, url, v2mtime - 1)
    }
    assert(e2.getMessage.contains("no version committed"))
    // change-feed path: a vacuumed fromV fails on manifest resolve
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.changes(spark, url, "id", 1, 3).collect()
    }
    assert(e3.getMessage.contains("no snapshot v1"))
    // surviving versions read exactly
    assert(Snapshots.readAsOf(spark, url, 2).count() == 2L)
    assert(Snapshots.read(spark, url).count() == 3L)
    assert(Snapshots.readAsOfTime(spark, url,
      System.currentTimeMillis()).count() == 3L)
  }
}
