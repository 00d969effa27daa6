package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Merge-on-read deletes (deletion vectors): a sparse DELETE records
  * row POSITIONS in a sidecar and re-lists the affected file as a
  * composite `--dv--` manifest entry — zero data-file rewrites. The
  * suite proves the three contracts that make that safe: reads are
  * effective everywhere (readAsOf / readWhere / countWhere / CDC /
  * clone / compact / upsert), physical data files never rewrite on
  * the MoR path, and every non-DV-aware path fails LOUDLY (the
  * composite name exists nowhere on disk) instead of silently
  * resurrecting deleted rows. */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"mor_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  private def mk(url: String, n: Int = 100, files: Int = 4): Int = {
    val df = (1 to n).map(i => (i.toLong, s"doc_$i", i % 7)).toSeq
      .toDF("id", "body", "grp")
    Snapshots.create(spark, url, df, nFiles = files,
      clusterBy = Some("id"))
  }

  private def dataParts(url: String, v: Int): Seq[String] =
    Snapshots.snap(spark, url, v).files
      .map(e => e.split("--dv--")(0)).sorted

  test("MoR delete: effective reads, physical files untouched, old " +
      "versions intact, no-op when nothing matches") {
    val url = fresh("basic")
    val v1 = mk(url)
    Snapshots.indexStats(spark, url, Seq("id"))
    val before = Snapshots.snap(spark, url, v1).files.sorted
    val v2 = Snapshots.deleteWhereMor(spark, url, "id", 10L, 19L)
    assert(v2 == v1 + 1)
    // data files are SHARED, not rewritten: same physical data parts
    assert(dataParts(url, v2) == before,
      "MoR delete must not rewrite data files")
    // affected entries are composite; at least one plain file (the
    // store is id-clustered, the range is narrow) stays plain
    val entries = Snapshots.snap(spark, url, v2).files
    assert(entries.exists(_.contains("--dv--")))
    assert(entries.exists(!_.contains("--dv--")))
    // effective read
    val got = Snapshots.read(spark, url).select("id")
      .as[Long].collect().sorted
    assert(got.toSeq == ((1L to 9L) ++ (20L to 100L)))
    // snapshot isolation: v1 still reads all 100
    assert(Snapshots.readAsOf(spark, url, v1).count() == 100L)
    // no-match range: true no-op, nothing committed
    assert(Snapshots.deleteWhereMor(spark, url, "id", 5000L, 6000L)
      == v2)
    // flavor gate: string range on a long column refuses
    intercept[IllegalArgumentException] {
      Snapshots.deleteWhereMor(spark, url, "id", "a", "b")
    }
  }

  test("chained MoR deletes merge positions into ONE vector per " +
      "entry (readers never stack joins)") {
    val url = fresh("chain")
    val v1 = mk(url, n = 60, files = 2)
    val v2 = Snapshots.deleteWhereMor(spark, url, "id", 1L, 5L)
    val v3 = Snapshots.deleteWhereMor(spark, url, "id", 8L, 10L)
    assert(v3 == v2 + 1 && v2 == v1 + 1)
    // one dv ref per entry, and the v3 entry is NOT v2's vector
    val e2 = Snapshots.snap(spark, url, v2).files
      .filter(_.contains("--dv--"))
    val e3 = Snapshots.snap(spark, url, v3).files
      .filter(_.contains("--dv--"))
    assert(e3.forall(_.split("--dv--").length == 2))
    assert(e2.intersect(e3).isEmpty,
      "chained delete must re-point to a merged vector")
    val got = Snapshots.read(spark, url).select("id")
      .as[Long].collect().sorted
    assert(got.toSeq == ((6L to 7L) ++ (11L to 60L)))
    // the intermediate version still reads under ITS vector
    assert(Snapshots.readAsOf(spark, url, v2).count() == 55L)
  }

  test("CDC across a MoR commit is exact: changes() emits exactly " +
      "the deleted rows, nothing else") {
    val url = fresh("cdc")
    val v1 = mk(url, n = 40, files = 2)
    val v2 = Snapshots.deleteWhereMor(spark, url, "id", 3L, 6L)
    val feed = Snapshots.changes(spark, url, "id", v1, v2)
      .select(col("id"), col("_change")).as[(Long, String)]
      .collect().sorted
    assert(feed.toSeq ==
      (3L to 6L).map(i => (i, "delete")))
  }

  test("stats refresh prices MoR entries from EFFECTIVE rows: " +
      "countWhere/aggWhere exact, metadata-answered off the band") {
    val url = fresh("stats")
    mk(url, n = 200, files = 8)
    Snapshots.indexStats(spark, url, Seq("id"))
    Snapshots.deleteWhereMor(spark, url, "id", 50L, 59L)
    // fresh composite entries are uncovered → scanned exactly
    val (c0, _) = Snapshots.countWhere(spark, url, "id", 40L, 70L)
    assert(c0 == 31L - 10L)
    // refresh covers the composite entries with effective bands
    assert(Snapshots.indexStats(spark, url, Seq("id")) > 0)
    val (c1, scanned1) = Snapshots.countWhere(spark, url, "id",
      1L, 200L)
    assert(c1 == 190L)
    assert(scanned1 == 0, "full-range count must be metadata-only " +
      s"after refresh (scanned $scanned1)")
    val agg = Snapshots.aggWhere(spark, url, "id", 1L, 200L)
    assert(agg.count == 190L &&
      agg.sum == BigDecimal((1L to 200L).sum - (50L to 59L).sum))
    // readWhere through the band path stays effective
    assert(Snapshots.readWhere(spark, url, "id", 45L, 65L)
      .count() == 11L)
  }

  test("purgeDv folds vectors into plain files; vacuum then " +
      "collects the dead vectors but keeps referenced ones") {
    val url = fresh("purge")
    val v1 = mk(url, n = 80, files = 4)
    val v2 = Snapshots.deleteWhereMor(spark, url, "id", 11L, 30L)
    val v3 = Snapshots.purgeDv(spark, url, clusterBy = Some("id"))
    assert(v3 == v2 + 1)
    val entries = Snapshots.snap(spark, url, v3).files
    assert(entries.forall(!_.contains("--dv--")))
    assert(Snapshots.read(spark, url).count() == 60L)
    // vacuum below v3: v2's manifest dies, its vector must die too
    val (root, fs) = {
      val p = new org.apache.hadoop.fs.Path(url)
      (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
    }
    def dvOnDisk: Seq[String] = fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("dv") && n.endsWith(".parquet"))
    assert(dvOnDisk.nonEmpty)
    Snapshots.vacuum(spark, url, keepFrom = v3, graceMs = 0L)
    assert(dvOnDisk.isEmpty, "dead deletion vector must be collected")
    assert(Snapshots.read(spark, url).count() == 60L)
    // and a vector still referenced by a live version SURVIVES
    val url2 = fresh("purgekeep")
    mk(url2, n = 20, files = 2)
    val k2 = Snapshots.deleteWhereMor(spark, url2, "id", 1L, 4L)
    Snapshots.vacuum(spark, url2, keepFrom = k2, graceMs = 0L)
    assert(Snapshots.read(spark, url2).count() == 16L)
  }

  test("clone links data + vectors; upsert and compactSmall read " +
      "effective rows and fold vectors out of rewritten files") {
    val url = fresh("maint")
    mk(url, n = 50, files = 2)
    Snapshots.deleteWhereMor(spark, url, "id", 1L, 10L)
    // clone: composite entries travel with both physical names
    val dst = fresh("maint_clone")
    Snapshots.cloneStore(spark, url, dst)
    assert(Snapshots.read(spark, dst).count() == 40L)
    // upsert on the MoR store: affected files rewrite effectively
    val up = Seq((20L, "patched", 99)).toDF("id", "body", "grp")
    Snapshots.upsert(spark, url, up, "id")
    val now = Snapshots.read(spark, url)
    assert(now.count() == 40L)
    assert(now.filter(col("id") === 20L).select("body")
      .as[String].head() == "patched")
    assert(now.filter(col("id") <= 10L).isEmpty)
    // compactSmall on a (different) MoR store packs effective rows
    val url3 = fresh("maint_pack")
    mk(url3, n = 30, files = 3)
    Snapshots.deleteWhereMor(spark, url3, "id", 5L, 8L)
    val pv = Snapshots.compactSmall(spark, url3,
      smallBytes = 10L << 20, clusterBy = Some("id"))
    val packed = Snapshots.snap(spark, url3, pv).files
    assert(packed.forall(!_.contains("--dv--")),
      "compaction of small DV'd entries must fold vectors away")
    assert(Snapshots.read(spark, url3).count() == 26L)
  }

  test("MoR UPDATE: matched rows re-point through a vector and the " +
      "new images append — one commit, zero rewrites, exact CDC") {
    val url = fresh("update")
    val v1 = mk(url, n = 60, files = 3)
    val physBefore = dataParts(url, v1)
    val v2 = Snapshots.updateWhereMor(spark, url, "id", 10L, 14L,
      Map("body" -> lit("edited"), "grp" -> (col("grp") + 100)))
    assert(v2 == v1 + 1)
    // old data files survive untouched; ONE fresh file appends
    val e2 = Snapshots.snap(spark, url, v2).files
    assert(e2.map(_.split("--dv--")(0)).toSet
      .intersect(physBefore.toSet) == physBefore.toSet)
    assert(e2.count(!physBefore.map(_.split("--dv--")(0)).toSet
      .contains(_)) >= 1)
    val now = Snapshots.read(spark, url)
    assert(now.count() == 60L, "MoR update changed the row count")
    assert(now.filter(col("id").between(10L, 14L))
      .select("body").as[String].collect().toSet == Set("edited"))
    assert(now.filter(col("id") === 12L).select("grp")
      .as[Int].head() == (12 % 7) + 100)
    // pre-update version reads originals
    assert(Snapshots.readAsOf(spark, url, v1)
      .filter(col("body") === "edited").isEmpty)
    // CDC: exactly 5 updates with NEW values, plus their pre-images
    val feed = Snapshots.changes(spark, url, "id", v1, v2,
      includeOld = true)
    assert(feed.filter(col("_change") === "update").count() == 5L)
    assert(feed.filter(col("_change") === "update_old")
      .select("body").as[String].collect()
      .forall(_ != "edited"))
    assert(feed.filter(col("_change").isin("insert", "delete"))
      .isEmpty)
    // no-match update: true no-op; wrong flavor refuses
    assert(Snapshots.updateWhereMor(spark, url, "id", 900L, 999L,
      Map("body" -> lit("x"))) == v2)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhereMor(spark, url, "id", "a", "b",
        Map("body" -> lit("x")))
    }
    // chained on the same file AFTER a MoR delete: both fold
    val v3 = Snapshots.deleteWhereMor(spark, url, "id", 11L, 12L)
    val v4 = Snapshots.updateWhereMor(spark, url, "id", 13L, 13L,
      Map("body" -> lit("again")))
    assert(v4 == v3 + 1)
    val last = Snapshots.read(spark, url)
    assert(last.count() == 58L)
    assert(last.filter(col("id") === 13L).select("body")
      .as[String].head() == "again")
    assert(last.filter(col("id") === 10L).select("body")
      .as[String].head() == "edited")
  }

  test("non-DV-aware paths fail LOUDLY, never resurrect: the " +
      "reader chain refuses a MoR store") {
    val url = fresh("loud")
    mk(url, n = 20, files = 1)
    Snapshots.deleteWhereMor(spark, url, "id", 1L, 2L)
    val e = intercept[IllegalArgumentException] {
      GraftRead.reader(spark, url).load()
    }
    assert(e.getMessage.contains("deletion vectors"))
    // null range field survives a MoR delete (range ≠ NULL)
    val url2 = fresh("loudnull")
    Snapshots.create(spark, url2,
      Seq((Some(1L), "a"), (None, "keep"), (Some(2L), "b"))
        .toDF("id", "body"), nFiles = 1)
    Snapshots.deleteWhereMor(spark, url2, "id", 1L, 2L)
    val left = Snapshots.read(spark, url2).select("body")
      .as[String].collect().toSeq
    assert(left == Seq("keep"))
  }
}
