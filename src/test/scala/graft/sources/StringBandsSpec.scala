package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** String prefix bands in the file-stats skipping layer, and the
  * type gate that closes the silent-empty hazard: before it, a
  * non-band-able field cast to all-null marker bands that pruning
  * read as "never hits" — readWhere then returned EMPTY, no error. */
class StringBandsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"sbands_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("indexStats refuses non-band-able column types loudly") {
    val url = fresh("refuse")
    Snapshots.create(spark, url,
      Seq((1L, 0.5, "a")).toDF("id", "score", "name"), nFiles = 1)
    val e = intercept[IllegalArgumentException] {
      Snapshots.indexStats(spark, url, Seq("score"))
    }
    assert(e.getMessage.contains("score") &&
      e.getMessage.contains("Double"))
    intercept[IllegalArgumentException] {
      Snapshots.indexStats(spark, url, Seq("nope"))
    }
  }

  test("string bands prune a name-clustered store; readWhereStr " +
      "stays exact; cross-type probes fail loudly") {
    val url = fresh("prune")
    val names = ('a' to 'z').flatMap(c =>
      (1 to 20).map(i => (f"${c}name_$i%02d", i.toLong)))
    Snapshots.create(spark, url, names.toDF("name", "v"), nFiles = 8)
    Snapshots.cluster(spark, url, "name", nFiles = 8)
    Snapshots.indexStats(spark, url, Seq("name"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val pruned = Snapshots.prunedFiles(spark, url, v, "name",
      "c", "d")
    assert(pruned.size < total,
      s"expected string-band pruning (kept ${pruned.size}/$total)")
    val got = Snapshots.readWhere(spark, url, "name", "c", "d")
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(got == ((20L, (1L to 20L).sum)))
    // no-hit range skips every file but the read is still exact
    assert(Snapshots.prunedFiles(spark, url, v, "name",
      "zzz", "zzzz").isEmpty)
    assert(Snapshots.readWhere(spark, url, "name",
      "zzz", "zzzz").count() == 0L)
    // a numeric-range probe on a STRING-banded field is a type
    // confusion, not an empty read
    intercept[IllegalArgumentException] {
      Snapshots.prunedFiles(spark, url, v, "name", 1L, 2L)
    }
    // and the reverse on a LONG-banded field
    val url2 = fresh("longside")
    Snapshots.create(spark, url2,
      (1L to 50L).map(i => (i, i)).toDF("id", "x"), nFiles = 2)
    Snapshots.indexStats(spark, url2, Seq("x"))
    intercept[IllegalArgumentException] {
      Snapshots.prunedFiles(spark, url2,
        Snapshots.latest(spark, url2), "x", "a", "b")
    }
  }

  test("truncated prefixes stay conservative: long shared-prefix " +
      "strings never skip a matching file, and the residual keeps " +
      "reads exact") {
    val url = fresh("trunc")
    val pad = "p" * 40 // every value shares a 40-char prefix > band
    val rows = (1 to 200).map(i => (f"$pad$i%03d", i.toLong))
    Snapshots.create(spark, url, rows.toDF("k", "v"), nFiles = 4)
    Snapshots.cluster(spark, url, "k", nFiles = 4)
    Snapshots.indexStats(spark, url, Seq("k"))
    val v = Snapshots.latest(spark, url)
    // range keyed BEYOND the 32-cp band: bands alone cannot decide,
    // so every clustered file must survive (no false skip)...
    val lo = f"${pad}050"; val hi = f"${pad}060"
    val clustered = Snapshots.snap(spark, url, v).files.size
    assert(Snapshots.prunedFiles(spark, url, v, "k", lo, hi)
      .nonEmpty)
    // ...and the residual filter keeps the answer exact
    val got = Snapshots.readWhere(spark, url, "k", lo, hi)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(got == ((11L, (50L to 60L).sum)))
    assert(clustered >= 4)
  }

  test("maximal-scalar prefixes (unbumpable upper bound) must-read " +
      "instead of mis-skipping") {
    val url = fresh("maxcp")
    val weird = new String(Character.toChars(0x10FFFF)) * 40
    Snapshots.create(spark, url,
      Seq((weird, 1L), ("aaa", 2L)).toDF("k", "v"), nFiles = 1)
    Snapshots.indexStats(spark, url, Seq("k"))
    val v = Snapshots.latest(spark, url)
    // upper bound is unbounded → the file survives any probe above
    // its minimum; the residual keeps the read exact (empty here)
    assert(Snapshots.prunedFiles(spark, url, v, "k",
      "zzz", "zzzz").nonEmpty)
    assert(Snapshots.readWhere(spark, url, "k", "zzz", "zzzz")
      .count() == 0L)
    // a probe that does hit still reads its row
    assert(Snapshots.readWhere(spark, url, "k", weird, weird)
      .count() == 1L)
  }

  test("prunedFilesForKeysStr: key-set probe skips non-overlapping " +
      "files, all-null string files, and keeps band hits") {
    val url = fresh("keys")
    val rows = ('a' to 'h').flatMap(c =>
      (1 to 25).map(i => (s"$c$i", i.toLong)))
    Snapshots.create(spark, url, rows.toDF("k", "v"), nFiles = 4)
    Snapshots.cluster(spark, url, "k", nFiles = 4)
    Snapshots.indexStats(spark, url, Seq("k"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val hit = Snapshots.prunedFilesForKeys(spark, url, v, "k",
      Seq("b3", "b7"))
    assert(hit.nonEmpty && hit.size < total,
      s"expected key-set pruning (kept ${hit.size}/$total)")
    assert(Snapshots.prunedFilesForKeys(spark, url, v, "k",
      Seq("zzz")).isEmpty)
    assert(Snapshots.prunedFilesForKeys(spark, url, v, "k",
      Seq.empty[String]).isEmpty)
  }

  test("readWhereMixed: long + string ranges conjoin with one " +
      "sidecar read, prune, and stay exact") {
    val url = fresh("mixed")
    val rows = ('a' to 'j').flatMap(c =>
      (1 to 30).map(i => (s"${c}_row$i", i.toLong)))
    Snapshots.create(spark, url, rows.toDF("name", "v"), nFiles = 5)
    Snapshots.cluster(spark, url, "name", nFiles = 5)
    Snapshots.indexStats(spark, url, Seq("name", "v"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val ranges = Seq(Snapshots.LongRange("v", 5L, 7L),
      Snapshots.StrRange("name", "c", "d"))
    val files = Snapshots.prunedFilesAll(spark, url, v, ranges)
    assert(files.nonEmpty && files.size < total)
    val got = Snapshots.readWhereAll(spark, url, ranges)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(got == ((3L, 5L + 6L + 7L)))
    // a string range alone through the conjunctive API
    assert(Snapshots.readWhereAll(spark, url,
      Seq(Snapshots.StrRange("name", "a", "b"))).count() == 30L)
  }

  test("deleteWhere: copy-on-write range delete rewrites only the " +
      "overlapping band, keeps nulls, no-ops cleanly, feeds CDC") {
    val url = fresh("del")
    val rows = (1L to 400L).map(i => (i, if (i % 97 == 0) None
      else Some(i))).toDF("id", "x")
    Snapshots.create(spark, url, rows, nFiles = 8)
    Snapshots.cluster(spark, url, "x", nFiles = 8)
    Snapshots.indexStats(spark, url, Seq("x"))
    val v0 = Snapshots.latest(spark, url)
    val before = Snapshots.snap(spark, url, v0).files.toSet
    val v1 = Snapshots.deleteWhere(spark, url, "x", 100L, 200L)
    assert(v1 == v0 + 1)
    val after = Snapshots.snap(spark, url, v1).files.toSet
    // untouched band files are re-listed as-is (copy-on-write)
    assert((before intersect after).nonEmpty,
      "delete rewrote every file — not copy-on-write")
    val now = Snapshots.read(spark, url)
    assert(now.filter(col("x").between(100L, 200L)).count() == 0L)
    // nulls survive a range delete; total matches the predicate
    val nulls = (1L to 400L).count(_ % 97 == 0)
    val killed = (100L to 200L).count(_ % 97 != 0)
    assert(now.count() == 400L - killed)
    assert(now.filter(col("x").isNull).count() == nulls)
    // old version still reads the full corpus; CDC sees the deletes
    assert(Snapshots.readAsOf(spark, url, v0).count() == 400L)
    val feed = Snapshots.changes(spark, url, "id", v0, v1)
    assert(feed.filter(col("_change") === "delete").count() ==
      killed.toLong)
    // a no-match range is a true no-op: same version back
    assert(Snapshots.deleteWhere(spark, url, "x", 9000L, 9999L) == v1)
    // and the string variant prunes by prefix bands
    val surl = fresh("dels")
    val srows = ('a' to 'j').flatMap(c =>
      (1 to 20).map(i => (s"$c$i", i.toLong))).toDF("k", "v")
    Snapshots.create(spark, surl, srows, nFiles = 5)
    Snapshots.cluster(spark, surl, "k", nFiles = 5)
    Snapshots.indexStats(spark, surl, Seq("k"))
    val sv0 = Snapshots.latest(spark, surl)
    val sBefore = Snapshots.snap(spark, surl, sv0).files.toSet
    Snapshots.deleteWhere(spark, surl, "k", "c", "d")
    val sAfter = Snapshots.snap(spark, surl,
      Snapshots.latest(spark, surl)).files.toSet
    assert((sBefore intersect sAfter).nonEmpty)
    assert(Snapshots.read(spark, surl).count() == 180L)
    assert(Snapshots.read(spark, surl)
      .filter(col("k").startsWith("c")).count() == 0L)
  }

  test("updateWhere: copy-on-write range update rewrites only the " +
      "overlapping band, sees current values, gates types, no-ops, " +
      "re-checks constraints, feeds CDC") {
    val url = fresh("upd")
    val rows = (1L to 400L).map(i => (i, if (i % 97 == 0) None
      else Some(i), s"t$i")).toDF("id", "x", "tag")
    Snapshots.create(spark, url, rows, nFiles = 8,
      clusterBy = Some("x"))
    Snapshots.indexStats(spark, url, Seq("x"))
    Snapshots.addConstraint(spark, url, "tag_nonempty",
      "length(tag) > 0")
    val v0 = Snapshots.latest(spark, url)
    val before = Snapshots.snap(spark, url, v0).files.toSet
    // replacement sees the row's CURRENT values: increment + retag
    val v1 = Snapshots.updateWhere(spark, url, "x", 100L, 200L,
      Map("x" -> (col("x") + 1000L), "tag" -> lit("touched")))
    assert(v1 == v0 + 1)
    val after = Snapshots.snap(spark, url, v1).files.toSet
    assert((before intersect after).nonEmpty,
      "update rewrote every file — not copy-on-write")
    val now = Snapshots.read(spark, url)
    val hit = (100L to 200L).count(_ % 97 != 0)
    assert(now.filter(col("tag") === "touched").count() == hit.toLong)
    assert(now.filter(col("x").between(1100L, 1200L)).count() ==
      hit.toLong)
    assert(now.filter(col("x").between(100L, 200L)).count() == 0L)
    // nulls never match a range; totals are row-preserving
    assert(now.count() == 400L)
    assert(now.filter(col("x").isNull).count() ==
      (1L to 400L).count(_ % 97 == 0).toLong)
    // old version reads the original values; CDC sees updated keys
    assert(Snapshots.readAsOf(spark, url, v0)
      .filter(col("tag") === "touched").isEmpty)
    val feed = Snapshots.changes(spark, url, "id", v0, v1)
    assert(feed.filter(col("_change") === "update" &&
      col("tag") === "touched").count() == hit.toLong)
    // a no-match range is a true no-op: same version back
    assert(Snapshots.updateWhere(spark, url, "x", 9000L, 9999L,
      Map("tag" -> lit("zz"))) == v1)
    // loud gates: wrong result type, unknown column, wrong flavor
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, url, "x", 1L, 2L,
        Map("x" -> lit("oops")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, url, "x", 1L, 2L,
        Map("nope" -> lit(1L)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, url, "x", "a", "b",
        Map("tag" -> lit("s")))
    }
    // a CHECK-violating update is refused with nothing committed
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, url, "x", 1L, 50L,
        Map("tag" -> lit("")))
    }
    assert(Snapshots.latest(spark, url) == v1)
    // the string flavor prunes by prefix bands and updates exactly
    val surl = fresh("upds")
    val srows = ('a' to 'j').flatMap(c =>
      (1 to 20).map(i => (s"$c$i", i.toLong))).toDF("k", "v")
    Snapshots.create(spark, surl, srows, nFiles = 5,
      clusterBy = Some("k"))
    Snapshots.indexStats(spark, surl, Seq("k"))
    val sBefore = Snapshots.snap(spark, surl,
      Snapshots.latest(spark, surl)).files.toSet
    Snapshots.updateWhere(spark, surl, "k", "c", "d",
      Map("v" -> (col("v") * -1L)))
    val sAfter = Snapshots.snap(spark, surl,
      Snapshots.latest(spark, surl)).files.toSet
    assert((sBefore intersect sAfter).nonEmpty)
    val sNow = Snapshots.read(spark, surl)
    assert(sNow.filter(col("v") < 0L).count() == 20L)
    assert(sNow.filter(col("k").startsWith("c") && col("v") > 0L)
      .count() == 0L)
    assert(sNow.count() == 200L)
  }

  test("timestamp columns band, prune, read and delete through the " +
      "long-range APIs (the cast(long)-seconds contract)") {
    val url = fresh("ts")
    val rows = (1L to 300L).map(i =>
      (i, new java.sql.Timestamp(1600000000000L + i * 1000L)))
    Snapshots.create(spark, url, rows.toDF("id", "event_ts"),
      nFiles = 5, clusterBy = Some("event_ts"))
    Snapshots.indexStats(spark, url, Seq("event_ts"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    // bands and residual both live in cast-to-long SECONDS
    val lo = 1600000000L + 100L; val hi = 1600000000L + 150L
    val pruned = Snapshots.prunedFiles(spark, url, v, "event_ts",
      lo, hi)
    assert(pruned.nonEmpty && pruned.size < total,
      s"timestamp bands failed to prune (${pruned.size}/$total)")
    val got = Snapshots.readWhere(spark, url, "event_ts", lo, hi)
      .agg(count(lit(1)), sum("id")).as[(Long, Long)].head()
    assert(got == ((51L, (100L to 150L).sum)))
    // the retention shape: deleteWhere on the time column
    val v1 = Snapshots.deleteWhere(spark, url, "event_ts", lo, hi)
    assert(v1 == v + 1)
    assert(Snapshots.read(spark, url).count() == 249L)
    // and the string flavor refuses the time column loudly
    intercept[IllegalArgumentException] {
      Snapshots.deleteWhere(spark, url, "event_ts", "a", "b")
    }
  }

  test("appendAudited: a failing audit publishes NOTHING (files " +
      "deleted, version unchanged); a passing one commits; the " +
      "audit sees exactly the staged rows") {
    val url = fresh("wap")
    Snapshots.create(spark, url,
      (1L to 100L).map(i => (i, i % 5)).toDF("id", "g"), nFiles = 2)
    val v0 = Snapshots.latest(spark, url)
    val root = new org.apache.hadoop.fs.Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(root)
      .count(_.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    // failing audit: duplicate keys vs the LIVE version
    val dup = Seq((50L, 9L), (101L, 9L)).toDF("id", "g")
    val e = intercept[IllegalArgumentException] {
      Snapshots.appendAudited(spark, url, dup, nFiles = 1) { staged =>
        val clash = staged.join(Snapshots.read(spark, url),
          Seq("id"), "left_semi").count()
        require(clash == 0L, s"$clash keys already live")
      }
    }
    assert(e.getMessage.contains("audit refused"))
    assert(Snapshots.latest(spark, url) == v0)
    assert(Snapshots.read(spark, url).count() == 100L)
    assert(dataFiles() == before, "staged files leaked after refusal")
    // passing audit sees exactly the staged rows and commits
    var seen = -1L
    Snapshots.appendAudited(spark, url,
      Seq((101L, 9L), (102L, 9L)).toDF("id", "g"), nFiles = 1) {
      staged => seen = staged.count() }
    assert(seen == 2L)
    assert(Snapshots.latest(spark, url) == v0 + 1)
    assert(Snapshots.read(spark, url).count() == 102L)
  }

  test("all-null and empty string files band as markers and are " +
      "skipped; mixed long+string field sets coexist") {
    val url = fresh("markers")
    Snapshots.create(spark, url,
      Seq((1L, "aa"), (2L, "bb")).toDF("id", "k"), nFiles = 1)
    Snapshots.append(spark, url,
      Seq((3L, Option.empty[String]), (4L, Option.empty[String]))
        .toDF("id", "k"), nFiles = 1)
    Snapshots.indexStats(spark, url, Seq("id", "k"))
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    assert(total == 2)
    // the all-null file cannot hold any string value → skipped
    assert(Snapshots.prunedFiles(spark, url, v, "k", "a", "c")
      .size == 1)
    // while the long side prunes independently on the same sidecar
    assert(Snapshots.prunedFiles(spark, url, v, "id", 3L, 4L)
      .size == 1)
    val got = Snapshots.readWhere(spark, url, "k", "a", "c")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }
}
