package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** SQL DML pruning: band-able WHERE shapes prune the copy-on-write
  * attribution scan by stats, SQL MERGE discovers the
  * conventional key-bloom sidecar, and the supporting hardening
  * (catalog path-traversal refusal, '$'-name fallthrough, per-
  * attempt commit-key dedup). */
class SqlDmlRouteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = {
    val r = new java.io.File(scratch(
      s"dmlroute/${java.util.UUID.randomUUID().toString.take(8)}"))
      .getAbsolutePath
    spark.conf.set("spark.sql.catalog.gdml",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdml.root", r)
    r
  }

  private val longSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  /** [[BandRoute.ofExpr]] on `c` resolved over `longSchema`, as the
    * DML conditions are ([[Snapshots.bandOf]]). */
  private def go(c: Column) = Snapshots.bandOf(spark, longSchema, c)

  test("BandRoute.ofExpr: long shapes, combination, fallbacks") {
    val k = col("k")
    assert(go(k === 7) ==
      Some(Snapshots.LongRange("k", 7, 7)))
    assert(go(k >= 5 && k < 9) ==
      Some(Snapshots.LongRange("k", 5, 8)))
    // strict bounds tighten by ±1; IsNotNull absorbed
    assert(go(k > 5 && k.isNotNull) ==
      Some(Snapshots.LongRange("k", 6, Long.MaxValue)))
    // one-sided upper
    assert(go(k <= 3) ==
      Some(Snapshots.LongRange("k", Long.MinValue, 3)))
    // overflow-adjacent strict bound refuses
    assert(go(k > Long.MaxValue).isEmpty)
    // two different fields refuse
    assert(go(k === 1 && col("s") === "x").isEmpty)
    // a bare IS NOT NULL is not a range
    assert(go(k.isNotNull).isEmpty)
    // untranslatable node refuses
    assert(go(col("s").startsWith("a")).isEmpty)
    // disjunction refuses
    assert(go(k === 1 || k === 2).isEmpty)
  }

  test("BandRoute.ofExpr: string shapes") {
    val s = col("s")
    assert(go(s === "m") ==
      Some(Snapshots.StrRange("s", "m", "m")))
    assert(go(s >= "b" && s <= "d") ==
      Some(Snapshots.StrRange("s", "b", "d")))
    // strict lower bound = binary-order successor
    assert(go(s > "b" && s <= "d") ==
      Some(Snapshots.StrRange("s", "b\u0000", "d")))
    // no upper bound → not expressible as an inclusive band
    assert(go(s >= "b").isEmpty)
    // strict upper bound has no predecessor
    assert(go(s < "d").isEmpty)
  }

  /** Build a 3-file store where band admission ≠ exact containment
    * for range [5,7]: file A bands 0..9 but holds no row in the
    * range, file B holds matches, file C is disjoint. Exact
    * attribution rewrites only B, so A and C survive every
    * DELETE/UPDATE of the range; a stats sidecar prunes C from the
    * attribution scan. C holds `cRows` rows (k from 20, v = k - 6). */
  private def threeFileStore(name: String, cRows: Int = 2): String = {
    val url = s"$root/$name"
    Snapshots.create(spark, url,
      Seq((0L, 10L), (9L, 11L)).toDF("k", "v"), nFiles = 1)
    Snapshots.append(spark, url,
      Seq((5L, 12L), (6L, 13L)).toDF("k", "v"), nFiles = 1)
    Snapshots.append(spark, url,
      (20L until 20L + cRows).map(k => (k, k - 6)).toDF("k", "v"),
      nFiles = 1)
    url
  }

  /** C's rows in a [[threeFileStore]] built with `cRows` = 40: large
    * enough that pruning C saves more records than the stats
    * sidecar read costs. */
  private val bigC = (20L until 60L).map(k => (k, k - 6))

  /** Files A and C of a [[threeFileStore]]: v1's file and the one v3
    * added. */
  private def filesAC(url: String): Set[String] = {
    def files(v: Int) = Snapshots.snap(spark, url, v).files.toSet
    files(1) ++ (files(3) -- files(2))
  }

  /** The original files of a [[threeFileStore]] still listed by its
    * head. */
  private def survivors(url: String): Set[String] =
    Snapshots.snap(spark, url, Snapshots.latest(spark, url)).files.toSet
      .intersect(Snapshots.snap(spark, url, 3).files.toSet)

  /** Input records read by the tasks of `body`. */
  private def recordsRead(body: => Any): Long = {
    val total = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) total.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(l)
    total.get()
  }

  test("SQL DELETE routes banded when stats cover the field") {
    val url = threeFileStore("delband", bigC.size)
    Snapshots.indexStats(spark, url, Seq("k"))
    val plain = threeFileStore("delbandplain", bigC.size)
    val readStats = recordsRead(
      spark.sql("DELETE FROM gdml.delband WHERE k BETWEEN 5 AND 7"))
    val readPlain = recordsRead(
      spark.sql("DELETE FROM gdml.delbandplain WHERE k BETWEEN 5 AND 7"))
    Seq(url, plain).foreach { u =>
      assert(Snapshots.snap(spark, u, Snapshots.latest(spark, u)).op ==
        "delete")
      // exact attribution rewrote ONLY file B, with or without stats:
      // band-admitted A holds no match and survives
      assert(survivors(u) == filesAC(u),
        s"expected exactly A and C to survive, got ${survivors(u)}")
      assert(Snapshots.read(spark, u).select(col("k")).as[Long]
        .collect().sorted.toSeq == Seq(0L, 9L) ++ bigC.map(_._1))
    }
    // the stats band still prunes C from the attribution scan
    assert(readStats < readPlain,
      s"stats store read $readStats records, no-stats $readPlain")
  }

  test("SQL DELETE keeps the exact path when no stats sidecar") {
    val url = threeFileStore("delcond")
    val before = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    spark.sql("DELETE FROM gdml.delcond WHERE k BETWEEN 5 AND 7")
    val head = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url))
    val survivors = head.files.toSet.intersect(before)
    // exact containment attribution rewrote ONLY file B
    assert(survivors.size == 2,
      s"expected A and C to survive the EXACT delete, got $survivors")
    assert(Snapshots.read(spark, url).select(col("k")).as[Long]
      .collect().sorted.toSeq == Seq(0L, 9L, 20L, 21L))
  }

  test("SQL UPDATE routes banded when stats cover the field, " +
      "exact otherwise, same results") {
    val url = threeFileStore("updband", bigC.size)
    Snapshots.indexStats(spark, url, Seq("k"))
    val readStats = recordsRead(spark.sql(
      "UPDATE gdml.updband SET v = v + 100 WHERE k >= 5 AND k <= 7"))
    val head = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url))
    assert(head.op == "update")
    assert(survivors(url) == filesAC(url),
      "the update must rewrite only the containing file B")
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 10L), (5L, 112L), (6L, 113L), (9L, 11L)) ++ bigC)

    val url2 = threeFileStore("updcond", bigC.size)
    val before2 = Snapshots.snap(spark, url2,
      Snapshots.latest(spark, url2)).files.toSet
    val readPlain = recordsRead(spark.sql(
      "UPDATE gdml.updcond SET v = v + 100 WHERE k >= 5 AND k <= 7"))
    val head2 = Snapshots.snap(spark, url2,
      Snapshots.latest(spark, url2))
    assert(head2.files.toSet.intersect(before2).size == 2,
      "exact update must rewrite only the containing file B")
    assert(Snapshots.read(spark, url2).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 10L), (5L, 112L), (6L, 113L), (9L, 11L)) ++ bigC)
    // the stats band still prunes C from the attribution scan
    assert(readStats < readPlain,
      s"stats store read $readStats records, no-stats $readPlain")
  }

  test("programmatic range DELETE/UPDATE rewrite only the entries " +
      "holding a match") {
    Seq("delete", "update").foreach { op =>
      val url = threeFileStore(s"prog$op")
      Snapshots.indexStats(spark, url, Seq("k"))
      val v = op match {
        case "delete" => Snapshots.deleteWhere(spark, url, "k", 5L, 7L)
        case _ => Snapshots.updateWhere(spark, url, "k", 5L, 7L,
          Map("v" -> (col("v") + 100)))
      }
      assert(v == 4 && Snapshots.snap(spark, url, v).op == op)
      // A is band-admitted but holds no match: only B is rewritten
      assert(survivors(url) == filesAC(url),
        s"$op rewrote more than B: survivors ${survivors(url)}")
      val want = op match {
        case "delete" => Seq((0L, 10L), (9L, 11L), (20L, 14L),
          (21L, 15L))
        case _ => Seq((0L, 10L), (5L, 112L), (6L, 113L), (9L, 11L),
          (20L, 14L), (21L, 15L))
      }
      assert(Snapshots.read(spark, url).select(col("k"), col("v"))
        .as[(Long, Long)].collect().sorted.toSeq == want)
      // a range with no matching row stays a true no-op
      assert(Snapshots.deleteWhere(spark, url, "k", 1L, 4L) == v)
    }
  }

  test("programmatic range UPDATE flavors take the safe-upcast SET " +
      "policy: an int on a long column casts, a string refuses") {
    val url = s"$root/progcast"
    Snapshots.create(spark, url,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), nFiles = 1)
    Snapshots.updateWhere(spark, url, "k", 2L, 2L, Map("v" -> lit(7)))
    Snapshots.updateWhereMor(spark, url, "k", 3L, 3L, Map("v" -> lit(8)))
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 7L), (3L, 8L)))
    val head = Snapshots.latest(spark, url)
    Seq[Map[String, Column] => Int](
      Snapshots.updateWhere(spark, url, "k", 1L, 1L, _),
      Snapshots.updateWhereMor(spark, url, "k", 1L, 1L, _)).foreach { f =>
      val e = intercept[IllegalArgumentException](
        f(Map("v" -> lit("seven"))))
      assert(e.getMessage.contains("not a safe upcast"), e.getMessage)
    }
    assert(Snapshots.latest(spark, url) == head)
  }

  test("SQL UPDATE banded route keeps safe-upcast SET semantics") {
    val url = s"$root/updcast"
    Snapshots.create(spark, url,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), nFiles = 1)
    Snapshots.indexStats(spark, url, Seq("k"))
    // SET v = 7 (int literal on a long column) must upcast, not
    // refuse — identical to the general path's semantics
    spark.sql("UPDATE gdml.updcast SET v = 7 WHERE k = 2")
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 7L)))
  }

  test("SQL MERGE discovers the conventional bloom sidecar and " +
      "rewrites only admitted files") {
    val url = s"$root/mergeb"
    val base = (0L until 800L).map(i => (i, i % 7, s"seg${i % 5}"))
      .toDF("k", "grp", "seg")
    Snapshots.create(spark, url, base, nFiles = 8,
      clusterBy = Some("k"))
    Snapshots.indexBloom(spark, url, Seq("k"))
    val before = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(before.size == 8)
    Seq((3L, 99L, "MERGED"), (700L, 99L, "MERGED"),
        (9999L, 1L, "NEW"))
      .toDF("k", "grp", "seg").createOrReplaceTempView("mergeb_src")
    spark.sql(
      """MERGE INTO gdml.mergeb AS t USING mergeb_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val head = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url))
    assert(head.op == "upsert")
    val survivors = head.files.toSet.intersect(before)
    // 2 clustered keys admit ≤2 files (+ rare bloom fp): at least
    // half the store must survive untouched — without discovery the
    // rewrite takes ALL 8
    assert(survivors.size >= 4,
      s"bloom-pruned MERGE rewrote ${8 - survivors.size} of 8 files")
    val out = Snapshots.read(spark, url)
    assert(out.count() == 801L)
    assert(out.filter(col("seg") === "MERGED").count() == 2L)
    assert(out.filter(col("k") === 9999L).count() == 1L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns evolve " +
      "the store as a metadata-only commit, then the merge applies; " +
      "ALTER TABLE ADD COLUMN rides the same layer") {
    val url = s"$root/mevo"
    Snapshots.create(spark, url,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      nFiles = 1)
    // explicit ALTER first: metadata-only, old rows read null
    spark.sql("ALTER TABLE gdml.mevo ADD COLUMN note STRING")
    val va = Snapshots.latest(spark, url)
    assert(Snapshots.snap(spark, url, va).op == "addcol:note",
      "ADD COLUMN must be a metadata-only commit")
    assert(spark.sql("SELECT count(*) AS n FROM gdml.mevo " +
      "WHERE note IS NULL").as[Long].head() == 3L)
    // WITH SCHEMA EVOLUTION: 'score' exists only in the source
    Seq((2L, 222L, "b2", 9L), (4L, 44L, "b4", 7L))
      .toDF("k", "v", "note", "score")
      .createOrReplaceTempView("mevo_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gdml.mevo AS t
        |USING mevo_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(Snapshots.headSchema(spark, url).fieldNames.toSeq ==
      Seq("k", "v", "note", "score"),
      "evolution must append the source-only column")
    val got = Snapshots.read(spark, url)
      .select(col("k"), col("v"), col("note"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), Option(r.get(3))))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 10L, None, None),
      (2L, 222L, Some("b2"), Some(9L)),
      (3L, 30L, None, None),
      (4L, 44L, Some("b4"), Some(7L))), s"got $got")
    // the addcol commit feeds CDC like any other metadata commit:
    // zero feed rows of its own
    // refusal: re-adding a DROPPED column's name would alias stale
    // bytes
    spark.sql("ALTER TABLE gdml.mevo DROP COLUMN note")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gdml.mevo ADD COLUMN note STRING")
    }
    assert(e.getMessage.contains("stale bytes"), e.getMessage)
    // plain MERGE (no evolution clause) against a wider source is
    // standard SQL: star expands over TARGET columns, the source-
    // only column is simply not referenced
    spark.sql(
      """MERGE INTO gdml.mevo AS t USING mevo_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND s.k = 4 THEN UPDATE SET *""".stripMargin)
    assert(Snapshots.read(spark, url).filter(col("k") === 4L)
      .select(col("v")).as[Long].head() == 44L)
    assert(Snapshots.headSchema(spark, url).fieldNames.toSeq ==
      Seq("k", "v", "score"),
      "a plain MERGE must not evolve the schema")
  }

  test("MERGE-DELETE with NULL source keys: nulls are UNMATCHED " +
      "under SQL join semantics — a no-op, not a batch-contract " +
      "failure") {
    val url = s"$root/mnull"
    Snapshots.create(spark, url,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      nFiles = 1)
    Seq(Some(2L), None, None).toDF("k")
      .createOrReplaceTempView("mnull_src")
    spark.sql(
      """MERGE INTO gdml.mnull AS t USING mnull_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(Snapshots.read(spark, url).select(col("k")).as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L),
      "null keys must no-op; key 2 must delete")
    // all-null source: nothing matches, no version minted
    val before = Snapshots.latest(spark, url)
    Seq(Option.empty[Long]).toDF("k")
      .createOrReplaceTempView("mnull_all")
    spark.sql(
      """MERGE INTO gdml.mnull AS t USING mnull_all AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(Snapshots.latest(spark, url) == before,
      "an all-null MERGE-DELETE must not mint a version")
  }

  test("MERGE conditional clauses: WHEN MATCHED AND cond THEN " +
      "UPDATE/DELETE compose as one keyed upsert") {
    val url = s"$root/mcond"
    Snapshots.create(spark, url,
      Seq((1L, 10L, "a"), (2L, -5L, "b"), (3L, 30L, "c"),
        (4L, -40L, "d"), (5L, 50L, "e"))
        .toDF("k", "v", "tag"), nFiles = 2)
    Seq((1L, 100L), (2L, 200L), (4L, 400L), (9L, 900L))
      .toDF("k", "delta").createOrReplaceTempView("mcond_src")
    // conditional UPDATE referencing BOTH sides; only positive
    // balances update; the unmatched source key 9 does NOT insert
    spark.sql(
      """MERGE INTO gdml.mcond AS t USING mcond_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND t.v > 0 THEN UPDATE SET
        |  v = t.v + s.delta, tag = concat(t.tag, '!')""".stripMargin)
    assert(Snapshots.read(spark, url)
      .select(col("k"), col("v"), col("tag"))
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 110L, "a!"), (2L, -5L, "b"), (3L, 30L, "c"),
        (4L, -40L, "d"), (5L, 50L, "e")))
    // conditional DELETE: only matched negatives go
    spark.sql(
      """MERGE INTO gdml.mcond AS t USING mcond_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND t.v < 0 THEN DELETE""".stripMargin)
    assert(Snapshots.read(spark, url).select(col("k")).as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // matched-only UNCONDITIONAL update (no insert clause) also
    // translates now
    spark.sql(
      """MERGE INTO gdml.mcond AS t USING mcond_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 100L), (3L, 30L), (5L, 50L)))
    // MERGE cardinality violation (two source rows match one key)
    // refuses loudly instead of last-writer-wins
    Seq((1L, 7L), (1L, 8L)).toDF("k", "delta")
      .createOrReplaceTempView("mcond_dup")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO gdml.mcond AS t USING mcond_dup AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("duplicate")),
      s"expected the duplicate-key refusal, got ${chain(e)}")
  }

  test("MERGE conditional UPDATE combined with NOT MATCHED INSERT: " +
      "one atomic upsert covers both arms") {
    val url = s"$root/mcins"
    Snapshots.create(spark, url,
      Seq((1L, 10L, "a"), (2L, -5L, "b"), (3L, 30L, "c"))
        .toDF("k", "v", "tag"), nFiles = 1)
    Seq((1L, 100L), (2L, 200L), (9L, 900L))
      .toDF("k", "delta").createOrReplaceTempView("mcins_src")
    val v0 = Snapshots.latest(spark, url)
    spark.sql(
      """MERGE INTO gdml.mcins AS t USING mcins_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND t.v > 0 THEN UPDATE SET
        |  v = t.v + s.delta, tag = t.tag
        |WHEN NOT MATCHED THEN INSERT (k, v, tag)
        |  VALUES (s.k, s.delta, 'new')""".stripMargin)
    // ONE committed version covers update + insert atomically
    assert(Snapshots.latest(spark, url) == v0 + 1)
    assert(Snapshots.read(spark, url)
      .select(col("k"), col("v"), col("tag"))
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 110L, "a"), (2L, -5L, "b"), (3L, 30L, "c"),
        (9L, 900L, "new")))
    // partial unconditional SET + INSERT also routes the general
    // path (assignments differ between the clauses)
    spark.sql(
      """MERGE INTO gdml.mcins AS t USING mcins_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.delta
        |WHEN NOT MATCHED THEN INSERT (k, v, tag)
        |  VALUES (s.k, s.delta, 'late')""".stripMargin)
    assert(Snapshots.read(spark, url)
      .select(col("k"), col("v"), col("tag"))
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 100L, "a"), (2L, 200L, "b"), (3L, 30L, "c"),
        (9L, 900L, "new")))
  }

  test("MERGE NOT MATCHED BY SOURCE: target-side anti-join arm " +
      "composes with the other clauses in one atomic upsert") {
    val url = s"$root/mnbs"
    Snapshots.create(spark, url,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"),
        (4L, 40L, "d")).toDF("k", "v", "tag"), nFiles = 1)
    Seq((1L, 100L), (9L, 900L)).toDF("k", "delta")
      .createOrReplaceTempView("mnbs_src")
    val v0 = Snapshots.latest(spark, url)
    // the FULL matrix in one statement: matched update + insert +
    // by-source conditional delete — one committed version
    spark.sql(
      """MERGE INTO gdml.mnbs AS t USING mnbs_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
        |WHEN NOT MATCHED THEN INSERT (k, v, tag)
        |  VALUES (s.k, s.delta, 'new')
        |WHEN NOT MATCHED BY SOURCE AND t.v >= 30 THEN DELETE"""
        .stripMargin)
    assert(Snapshots.latest(spark, url) == v0 + 1,
      "the full matrix must commit exactly one version")
    assert(Snapshots.read(spark, url)
      .select(col("k"), col("v"), col("tag"))
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 110L, "a"), (2L, 20L, "b"), (9L, 900L, "new")))
    // by-source UPDATE arm (target-only expressions)
    spark.sql(
      """MERGE INTO gdml.mnbs AS t USING mnbs_src AS s
        |ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
        |  tag = concat(t.tag, '?')""".stripMargin)
    assert(Snapshots.read(spark, url)
      .select(col("k"), col("tag"))
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b?"), (9L, "new")))
  }

  test("a stream maintaining the conventional bloom makes SQL MERGE " +
      "prune with zero further configuration") {
    val url = s"$root/sbloom"
    val stage = scratch(
      s"sbloom_stage/${java.util.UUID.randomUUID().toString.take(8)}")
    val ck = scratch(
      s"sbloom_ck/${java.util.UUID.randomUUID().toString.take(8)}")
    import org.apache.spark.sql.SaveMode
    (0 until 4).foreach { p =>
      (p * 100L until (p + 1) * 100L).map(k => (k, k * 3))
        .toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Append).parquet(stage)
    }
    val schema = spark.read.parquet(stage).schema
    Snapshots.create(spark, url,
      spark.read.parquet(stage).limit(0), nFiles = 1)
    val q = graft.streaming.GraftStream.snapshotSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        url, "sbloomtest", nFiles = 1, bloomFields = Seq("k"))
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val before = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(before.size >= 4, s"expected >=4 streamed files, " +
      s"got ${before.size}")
    Seq((5L, 999L)).toDF("k", "v")
      .createOrReplaceTempView("sbloom_src")
    spark.sql(
      """MERGE INTO gdml.sbloom AS t USING sbloom_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val head = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url))
    val survivors = head.files.toSet.intersect(before)
    assert(before.size - survivors.size <= 2,
      s"stream-maintained bloom must bound the MERGE rewrite: " +
        s"rewrote ${before.size - survivors.size} of ${before.size}")
    assert(Snapshots.read(spark, url)
      .filter(col("k") === 5L).select(col("v")).as[Long]
      .head() == 999L)
    assert(Snapshots.read(spark, url).count() == 400L)
  }

  test("SQL-ONLY pruning setup: CALL index_stats/index_bloom build " +
      "the sidecars the SQL write paths consume") {
    // the whole lifecycle in SQL: CTAS + INSERTs build the A/B/C
    // band-vs-containment store shape, CALLs build both sidecars,
    // then DELETE routes banded and MERGE prunes via discovery
    Seq((0L, 10L), (9L, 11L)).toDF("k", "v")
      .createOrReplaceTempView("sqlonly_a")
    spark.sql(
      "CREATE TABLE gdml.sqlonly AS SELECT * FROM sqlonly_a")
    Seq((5L, 12L), (6L, 13L)).toDF("k", "v")
      .createOrReplaceTempView("sqlonly_b")
    spark.sql("INSERT INTO gdml.sqlonly SELECT * FROM sqlonly_b")
    Seq((20L, 14L), (21L, 15L)).toDF("k", "v")
      .createOrReplaceTempView("sqlonly_c")
    spark.sql("INSERT INTO gdml.sqlonly SELECT * FROM sqlonly_c")
    val url = s"$root/sqlonly"
    assert(spark.sql("CALL gdml.index_stats('sqlonly', 'k')")
      .collect()(0).getLong(0) >= 3L)
    assert(spark.sql("CALL gdml.index_bloom('sqlonly', 'k', 100000)")
      .collect()(0).getString(0).endsWith("keybloom"))
    val before = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    // the banded DELETE prices its attribution from the CALL-built
    // sidecar and leaves non-overlapping files untouched (WHICH
    // path runs is pinned by the dedicated delband/updband tests;
    // SQL INSERT's file-per-partition layout has no band-vs-
    // containment gap to exploit here)
    spark.sql("DELETE FROM gdml.sqlonly WHERE k BETWEEN 5 AND 7")
    val afterDel = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(afterDel.intersect(before).nonEmpty,
      s"banded delete rewrote every file: before=$before " +
        s"after=$afterDel")
    assert(Snapshots.read(spark, url).select(col("k")).as[Long]
      .collect().sorted.toSeq == Seq(0L, 9L, 20L, 21L))
    // MERGE prunes through the discovered conventional bloom: a
    // 1-key merge on what remains leaves at least one file untouched
    Seq((20L, 999L)).toDF("k", "v")
      .createOrReplaceTempView("sqlonly_m")
    spark.sql(
      """MERGE INTO gdml.sqlonly AS t USING sqlonly_m AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).files.toSet
    assert(afterMerge.intersect(afterDel).nonEmpty,
      "bloom-discovered merge must leave unadmitted files untouched")
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 10L), (9L, 11L), (20L, 999L), (21L, 15L)))
  }

  test("CALL retrain_index exposes the vector retrain over SQL") {
    val url = s"$root/vcall"
    Snapshots.create(spark, url,
      (1L to 60L).map(i => (i, Seq(
        if (i % 2 == 0) 0.9 else 0.05, if (i % 2 == 0) 0.05 else 0.9,
        (i % 7).toDouble / 100)))
        .toDF("id", "emb"), nFiles = 2)
    // no sidecar yet → retrain fires unconditionally
    val first = spark.sql(
      "CALL gdml.retrain_index('vcall', 'id', 'emb', 2, 300)")
      .collect()(0)
    assert(first.getLong(0) == 1L, s"expected a retrain, got $first")
    assert(Snapshots.snap(spark, url, first.getLong(1).toInt)
      .op == "vcluster")
    // healthy now → a lax gate no-ops, version stays
    val second = spark.sql(
      "CALL gdml.retrain_index('vcall', 'id', 'emb', 2, 100000)")
      .collect()(0)
    assert(second.getLong(0) == 0L)
    assert(second.getLong(1) == Snapshots.latest(spark, url).toLong)
  }

  test("MERGE conditional clause on a RENAMED store binds by " +
      "attribute id, not name") {
    val url = s"$root/mcren"
    Snapshots.create(spark, url,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), nFiles = 1)
    Snapshots.renameColumn(spark, url, "id", "k")
    Seq((2L, 5L)).toDF("k", "delta")
      .createOrReplaceTempView("mcren_src")
    spark.sql(
      """MERGE INTO gdml.mcren AS t USING mcren_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND t.v >= 20 THEN UPDATE SET
        |  v = t.v + s.delta""".stripMargin)
    assert(Snapshots.read(spark, url).select(col("k"), col("v"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 25L)))
  }

  test("catalog refuses path-traversal identifiers") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gdml.`../delband`").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("path separators")),
      s"unexpected failure shape: ${chain(e)}")
  }

  test("a store named with '$' resolves (unknown suffix falls " +
      "through to the real table)") {
    val url = s"$root/od$$dd"
    Snapshots.create(spark, url,
      Seq((1L, 2L)).toDF("a", "b"), nFiles = 1)
    assert(spark.sql("SELECT count(*) AS n FROM gdml.`od$dd`")
      .as[Long].head() == 1L)
    // and its OWN metadata tables still resolve
    assert(spark.sql(
      "SELECT count(*) AS n FROM gdml.`od$dd$history`")
      .as[Long].head() >= 1L)
  }

  test("COUNT(*) pushdown: footer-priced LocalTableScan for the " +
      "bare global count, normal scan when filtered/grouped") {
    val url = s"$root/cnt"
    // v is NULLABLE with real nulls: count(v) must stay a true scan
    // (a non-nullable column's count(v) folds to count(1) via
    // Spark's NullPropagation and is then LEGITIMATELY priced)
    Snapshots.create(spark, url,
      (1L to 40L).map(i =>
        (i, if (i % 10 == 0) None else Some(i * 3)))
        .toDF("id", "v"), nFiles = 3)
    Snapshots.deleteWhereMor(spark, url, "id", 5L, 14L)
    val n = spark.sql("SELECT count(*) AS n FROM gdml.cnt")
    assert(n.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      s"not footer-priced:\n${n.queryExecution.executedPlan}")
    assert(n.as[Long].head() == 30L)
    // pinned version counts pre-delete
    assert(spark.sql(
      "SELECT count(*) AS n FROM gdml.cnt VERSION AS OF 1")
      .as[Long].head() == 40L)
    // a FILTERED count must NOT short-circuit (and stays right)
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM gdml.cnt WHERE id <= 20")
    assert(!filtered.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"),
      "filtered count must not be metadata-priced")
    assert(filtered.as[Long].head() == 10L)
    // count(col) on a NULLABLE column is null-sensitive — not
    // priced, and exact (nulls at 20/30/40 survive the MoR delete)
    val colCount = spark.sql("SELECT count(v) AS n FROM gdml.cnt")
    assert(!colCount.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    assert(colCount.as[Long].head() == 27L)
  }

  test("FILTERED count pushdown: a banded WHERE on a stats-indexed " +
      "store prices count(*) from the sidecar walk (LocalTableScan, " +
      "MoR-exact); uncovered fields and multi-field filters stay " +
      "real scans") {
    val url = s"$root/fcnt"
    Snapshots.create(spark, url,
      (1L to 80L).map(i => (i, i * 3, s"t${i % 7}"))
        .toDF("k", "v", "tag"), nFiles = 4, clusterBy = Some("k"))
    Snapshots.indexStats(spark, url, Seq("k", "tag"))
    Snapshots.deleteWhereMor(spark, url, "k", 11L, 14L) // MoR holes
    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString
    def run(sql: String): Long = spark.sql(sql).as[Long].head()
    // whole-file containment: files fully inside the band priced
    // from metadata; MoR-deleted positions subtracted exactly
    val q = "SELECT count(*) AS n FROM gdml.fcnt " +
      "WHERE k BETWEEN 1 AND 40"
    assert(planOf(q).contains("LocalTableScan") &&
      !planOf(q).contains("BatchScan"),
      s"banded filtered count must be sidecar-priced:\n${planOf(q)}")
    assert(run(q) == 36L) // 40 − the 4 MoR-deleted keys
    // strict bounds and equality shapes price too
    assert(run("SELECT count(*) AS n FROM gdml.fcnt " +
      "WHERE k > 40 AND k < 61") == 20L)
    assert(planOf("SELECT count(*) AS n FROM gdml.fcnt WHERE k = 7")
      .contains("LocalTableScan"))
    assert(run("SELECT count(*) AS n FROM gdml.fcnt WHERE k = 7")
      == 1L)
    assert(run("SELECT count(*) AS n FROM gdml.fcnt WHERE k = 12")
      == 0L) // MoR-deleted key
    // string bands: equality/range on the indexed string field
    val sq = "SELECT count(*) AS n FROM gdml.fcnt WHERE tag = 't3'"
    assert(planOf(sq).contains("LocalTableScan"), planOf(sq))
    assert(run(sq) ==
      Snapshots.read(spark, url).filter(col("tag") === "t3").count())
    // NOT priced: a field without sidecar coverage, two fields, a
    // disjunction — all stay real scans and stay exact
    val un = "SELECT count(*) AS n FROM gdml.fcnt " +
      "WHERE v BETWEEN 1 AND 60"
    assert(!spark.sql(un).queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), "uncovered field must scan")
    assert(run(un) == 16L)
    val two = "SELECT count(*) AS n FROM gdml.fcnt " +
      "WHERE k <= 40 AND tag = 't1'"
    assert(!spark.sql(two).queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), "multi-field filter must scan")
    assert(run(two) == spark.sql(two).as[Long].head())
    val disj = "SELECT count(*) AS n FROM gdml.fcnt " +
      "WHERE k <= 5 OR k >= 70"
    assert(!spark.sql(disj).queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), "disjunction must scan")
    assert(run(disj) == 16L)
  }

  test("FILTERED count pushdown classifies through BandRoute: a " +
      "projected alias, reversed operands and a strict string lower " +
      "bound price from the sidecar and equal the DataFrame count") {
    val url = s"$root/fcls"
    Snapshots.create(spark, url,
      (1L to 80L).map(i => (i, f"${('a' + i % 26).toChar}$i%02d"))
        .toDF("k", "s"), nFiles = 4, clusterBy = Some("k"))
    Snapshots.indexStats(spark, url, Seq("k", "s"))
    val df = Snapshots.read(spark, url)
    def priced(sql: String): Long = {
      val q = spark.sql(sql)
      assert(q.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
        s"not sidecar-priced:\n${q.queryExecution.executedPlan}")
      q.as[Long].head()
    }
    assert(priced("SELECT count(*) FROM (SELECT k AS x FROM " +
      "gdml.fcls) WHERE x BETWEEN 10 AND 30") ==
      df.filter(col("k").between(10L, 30L)).count())
    assert(priced("SELECT count(*) FROM gdml.fcls " +
      "WHERE 5 <= k AND 20 > k") ==
      df.filter(col("k") >= 5L && col("k") < 20L).count())
    assert(priced("SELECT count(*) FROM gdml.fcls " +
      "WHERE s > 'm' AND s <= 't'") ==
      df.filter(col("s") > "m" && col("s") <= "t").count())
  }

  test("min/max pushdown: stats-sidecar-priced when every entry is " +
      "covered (MoR-exact), scan otherwise") {
    val url = s"$root/mm"
    Snapshots.create(spark, url,
      (1L to 60L).map(i =>
        (i, if (i % 15 == 0) None else Some(i * 3)))
        .toDF("id", "v"), nFiles = 3, clusterBy = Some("id"))
    // no sidecar yet: a min/max query must stay a real scan
    val unpriced = spark.sql(
      "SELECT min(id) AS lo, max(id) AS hi FROM gdml.mm")
    assert(!unpriced.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"),
      "min/max must not be priced without a stats sidecar")
    assert(unpriced.as[(Long, Long)].head() == ((1L, 60L)))
    Snapshots.indexStats(spark, url, Seq("id", "v"))
    // covered: LocalTableScan, no file touched — mixed with count(*)
    val priced = spark.sql(
      "SELECT min(id) AS lo, max(id) AS hi, count(*) AS n, " +
        "max(v) AS hv FROM gdml.mm")
    assert(priced.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      s"not sidecar-priced:\n${priced.queryExecution.executedPlan}")
    assert(priced.as[(Long, Long, Long, Long)].head() ==
      ((1L, 60L, 60L, 177L))) // max v = 59*3 (60 is a null slot)
    // MoR delete that REMOVES the current max id: the sidecar keeps
    // a per-ENTRY exact row for the rewritten composite entry only
    // after a refresh — unrefreshed coverage fails loudly into the
    // scan, a refreshed one prices the new extremum
    Snapshots.deleteWhereMor(spark, url, "id", 50L, 60L)
    val afterMor = spark.sql(
      "SELECT max(id) AS hi FROM gdml.mm")
    assert(!afterMor.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"),
      "uncovered MoR entries must fall back to the scan")
    assert(afterMor.as[Long].head() == 49L)
    Snapshots.indexStats(spark, url, Seq("id", "v"))
    val refreshed = spark.sql(
      "SELECT max(id) AS hi, min(id) AS lo FROM gdml.mm")
    assert(refreshed.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      "refreshed sidecar must price the MoR head")
    assert(refreshed.as[(Long, Long)].head() == ((49L, 1L)))
    // a filtered min stays on the scan
    val filteredMin = spark.sql(
      "SELECT min(id) AS lo FROM gdml.mm WHERE id > 10")
    assert(!filteredMin.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    assert(filteredMin.as[Long].head() == 11L)
    // an expression argument (min(id+1)) is not a column — scan
    val exprMin = spark.sql(
      "SELECT min(id + 1) AS lo FROM gdml.mm")
    assert(!exprMin.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    assert(exprMin.as[Long].head() == 2L)
  }

  test("commitStagedInto dedups the commit key per attempt") {
    val url = s"$root/keydup"
    Snapshots.create(spark, url,
      Seq((1L, 1L)).toDF("a", "b"), nFiles = 1)
    val kv = Snapshots.commitTogether(spark,
      Seq((url, Seq((2L, 2L)).toDF("a", "b"), 1)), Some("K1")).head
    assert(Snapshots.snap(spark, url, kv).op == "txn-append:K1")
    // simulate the check-then-act loser: its staged file exists on
    // disk but the winner's keyed commit already published — the
    // per-attempt re-check must return the winner's version, not
    // double-publish
    val rootP = new org.apache.hadoop.fs.Path(url)
    val fs = rootP.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataFile = Snapshots.snap(spark, url, kv).files.head
    val orphan = s"loser-${java.util.UUID.randomUUID().toString
      .take(8)}.parquet"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(rootP, dataFile), fs,
      new org.apache.hadoop.fs.Path(rootP, orphan), false,
      spark.sparkContext.hadoopConfiguration)
    val got = Snapshots.commitStagedInto(spark, url, Seq(orphan),
      key = Some("K1"))
    assert(got == kv, "same-key retry must return the winner")
    assert(Snapshots.latest(spark, url) == kv,
      "no new version may be published for a deduped key")
  }
}
