package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The one column-type gate behind every range entry point: a
  * `Long` range bands integral and timestamp columns, a `String`
  * range string columns, and every other pairing refuses with an
  * IllegalArgumentException before anything is read or committed. */
class BandRangeGateSpec extends SparkSpec {
  import spark.implicits._

  test("every range entry point × {long, string, timestamp column} × " +
      "{Long, String range}: admitted or refused loudly, and a " +
      "refused mutation commits nothing") {
    val url = scratch(
      s"bandgate/${java.util.UUID.randomUUID().toString.take(8)}")
    val rows = (1L to 40L).map(i => (i, f"n$i%02d",
      new java.sql.Timestamp(1600000000000L + i * 1000L)))
    Snapshots.create(spark, url, rows.toDF("id", "name", "ts"),
      nFiles = 2)
    Snapshots.indexStats(spark, url, Seq("id", "name", "ts"))
    val v0 = Snapshots.latest(spark, url)
    // no range below matches a row, so an admitted mutation is a
    // true no-op and the head version never moves
    val entryPoints: Seq[(String, Snapshots.BandRange => Any)] = Seq(
      "prunedFiles" -> (r =>
        Snapshots.prunedFiles(spark, url, v0, r.field, r.lo, r.hi)(r.key)),
      "prunedFilesForKeys" -> (r =>
        Snapshots.prunedFilesForKeys(spark, url, v0, r.field,
          Seq(r.lo))(r.key)),
      "prunedFilesAll" -> (r =>
        Snapshots.prunedFilesAll(spark, url, v0, Seq(r))),
      "readWhere" -> (r =>
        Snapshots.readWhere(spark, url, r.field, r.lo, r.hi)(r.key)
          .count()),
      "readWhereAll" -> (r =>
        Snapshots.readWhereAll(spark, url, Seq(r)).count()),
      "countWhere" -> (r =>
        Snapshots.countWhere(spark, url, r.field, r.lo, r.hi)(r.key)),
      "deleteWhere" -> (r =>
        Snapshots.deleteWhere(spark, url, r.field, r.lo, r.hi)(r.key)),
      "deleteWhereMor" -> (r =>
        Snapshots.deleteWhereMor(spark, url, r.field, r.lo, r.hi)(
          r.key)),
      "updateWhere" -> (r =>
        Snapshots.updateWhere(spark, url, r.field, r.lo, r.hi,
          Map("name" -> upper(col("name"))))(r.key)),
      "updateWhereMor" -> (r =>
        Snapshots.updateWhereMor(spark, url, r.field, r.lo, r.hi,
          Map("name" -> upper(col("name"))))(r.key)))
    val ranges: Seq[(String, Snapshots.BandRange)] = Seq("id", "name",
      "ts").flatMap(c => Seq(
        s"Long@$c" -> Snapshots.LongRange(c, -2L, -1L),
        s"String@$c" -> Snapshots.StrRange(c, "~~", "~~~")))
    val admitted = Set("Long@id", "Long@ts", "String@name")
    val wrong = for {
      (op, call) <- entryPoints
      (cell, r) <- ranges
      outcome = try { call(r); "ok" } catch {
        case _: IllegalArgumentException => "refused"
        case e: Throwable => s"threw ${e.getClass.getSimpleName}"
      }
      expected = if (admitted(cell)) "ok" else "refused"
      head = Snapshots.latest(spark, url)
      if outcome != expected || head != v0
    } yield s"$op($cell): $outcome (expected $expected), head v$head"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
