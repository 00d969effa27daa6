package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the r20 SINGLE-SCAN [[Snapshots.changes]] (window-classified
  * union) to the r19 join-shape semantics it replaced:
  *  - value-level exactness (co-resident rows rewritten with
  *    unchanged values never appear in the feed);
  *  - insert/update/delete classification == the full-snapshot diff
  *    model on contract-abiding (key-unique, non-null) stores;
  *  - the includeOld pre-image arm;
  *  - the old joins' NULL-key semantics (null-unsafe `===`: a
  *    null-key added row is an insert, a null-key dropped row a
  *    delete — but IDENTICAL null-key tuples still cancel, the
  *    null-safe `<=>` of the tuple filter);
  *  - plan shape: each changed file set is scanned exactly ONCE
  *    (the r19 shape referenced the added scan 2-3x and the dropped
  *    scan 3-4x per materialization). */
class ChangesSingleScanSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = scratch(
    s"chg1scan_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("feed == full-snapshot diff model on an upsert store, " +
      "batch and includeOld arms both") {
    val url = fresh("model")
    // 60 keys over 6 files so upserts rewrite a few files and carry
    // co-resident unchanged rows through the rewrite
    Snapshots.create(spark, url,
      (0L until 60L).map(i => (i, i * 10, s"v$i"))
        .toDF("id", "n", "s"), nFiles = 6)
    Snapshots.upsert(spark, url,
      // updates: keys % 7 == 0 get new values; inserts: 100..104;
      // deletes: keys % 11 == 3 (minus the update overlap — upsert
      // refuses duplicate batch keys)
      ((0L until 60L).filter(i => i % 7 == 0 && i % 11 != 3)
        .map(i => (i, i * 10 + 1, s"v$i+", false)) ++
        (100L until 105L).map(i => (i, i, s"new$i", false)) ++
        (0L until 60L).filter(_ % 11 == 3)
          .map(i => (i, 0L, "x", true)))
        .toDF("id", "n", "s", "del"),
      "id", deleteCol = Some("del"))
    val before = Snapshots.readAsOf(spark, url, 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val after = Snapshots.readAsOf(spark, url, 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    val expect = (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some((n, s))) => Seq((k, n, s, "insert"))
        case (Some(_), None) =>
          val (n, s) = before(k); Seq((k, n, s, "delete"))
        case (Some(o), Some(nw)) if o != nw =>
          Seq((k, nw._1, nw._2, "update"))
        case _ => Nil
      }
    }
    val got = Snapshots.changes(spark, url, "id", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == expect, s"feed mismatch:\n got=$got\n exp=$expect")
    // includeOld adds exactly the updated keys' PRE-images
    val expectOld = expect ++ expect.collect {
      case (k, _, _, "update") =>
        val (n, s) = before(k); (k, n, s, "update_old")
    }
    val gotOld = Snapshots.changes(spark, url, "id", 1, 2,
        includeOld = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(gotOld == expectOld)
  }

  test("null keys keep the join-era semantics: added nulls insert " +
      "(tuple-cancelled when identical), dropped nulls always " +
      "delete, never paired as updates") {
    val url = fresh("nulls")
    val v1 = Seq[(java.lang.Long, String)](
      (null, "same"), (null, "goes"), (1L, "a"), (2L, "b"))
      .toDF("id", "s")
    val v2 = Seq[(java.lang.Long, String)](
      (null, "same"), (null, "arrives"), (1L, "a2"), (3L, "c"))
      .toDF("id", "s")
    Snapshots.create(spark, url, v1, nFiles = 1)
    Snapshots.overwrite(spark, url, v2, nFiles = 1)
    val got = Snapshots.changes(spark, url, "id", 1, 2)
      .collect().map(r => (Option(r.get(0)), r.getString(1),
        r.getString(2))).toSet
    // the ADDED (null,"same") row is tuple-identical to a dropped
    // row -> cancelled (the null-safe <=> tuple filter); but the
    // DROPPED (null,"same") row still emits delete — the old join
    // shape's delete leg anti-joined on null-unsafe `===` with NO
    // tuple filter, so null-key dropped rows always surfaced. Null
    // rows are never paired as updates; key 1 updates, 2 deletes,
    // 3 inserts.
    assert(got == Set(
      (None, "arrives", "insert"),
      (None, "same", "delete"),
      (None, "goes", "delete"),
      (Some(1L), "a2", "update"),
      (Some(2L), "b", "delete"),
      (Some(3L), "c", "insert")), s"got $got")
    // and the includeOld arm never emits a null-key pre-image
    val gotOld = Snapshots.changes(spark, url, "id", 1, 2,
        includeOld = true)
      .collect().map(r => (Option(r.get(0)), r.getString(1),
        r.getString(2))).toSet
    assert(gotOld == got + ((Some(1L), "a", "update_old")), s"got $gotOld")
  }

  test("plan shape: one scan per changed file set, one exchange " +
      "serving both window partitionings") {
    val url = fresh("plan")
    Snapshots.create(spark, url,
      (0L until 40L).map(i => (i, i)).toDF("id", "v"), nFiles = 4)
    Snapshots.upsert(spark, url,
      (0L until 40L by 5).map(i => (i, i + 1)).toDF("id", "v"), "id")
    val feed = Snapshots.changes(spark, url, "id", 1, 2)
    val scans = feed.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.size == 2,
      s"expected exactly 2 scan references (added, dropped), got " +
        s"${scans.size}")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(feed.queryExecution.executedPlan.toString).size
    assert(exchanges == 1,
      s"expected ONE hash exchange (key partitioning reused by the " +
        s"tuple window), got $exchanges")
    // the plan AQE starts from: the tuple window's sort on (key, the
    // other columns) also orders the key window's partitions
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val initial = feed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shape = (initial.collect { case e: ShuffleExchangeExec => e }.size,
      initial.collect { case s: SortExec => s }.size)
    assert(shape == (1, 1),
      s"expected one Exchange and one Sort, got $shape in\n$initial")
  }
}
