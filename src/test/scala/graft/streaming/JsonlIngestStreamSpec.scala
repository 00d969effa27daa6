package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.sources.Snapshots

/** jsonlQuarantineBatch: routing, one keyed commit per batch across
  * both stores, and the replay contract (first committed attempt
  * wins). */
class JsonlIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))

  private def run(lines: Seq[String], batchId: Long, base: String): Unit =
    GraftStream.jsonlQuarantineBatch(lines.toDF("value"), batchId,
      schema, s"$base/good", s"$base/bad", "t")

  /** A new directory per run: the stores are manifest stores, and a
    * leftover from an earlier run would already hold the keys. */
  private def fresh(name: String): String =
    scratch(s"$name-${java.util.UUID.randomUUID().toString.take(8)}")

  private def read(url: String): DataFrame = Snapshots.read(spark, url)

  private def ops(url: String): Seq[String] =
    Snapshots.history(spark, url).orderBy($"version").select($"op")
      .as[String].collect().toSeq

  test("routes good and corrupt lines to their stores") {
    val base = fresh("jsonl_stream_route")
    run(Seq("""{"id":1,"s":"a"}""", "broken {", """{"id":2,"s":"b"}"""),
      0L, base)
    val good = read(s"$base/good")
    assert(good.select("id").as[Long].collect().toSet == Set(1L, 2L))
    val bad = read(s"$base/bad")
    assert(bad.select("raw_line").as[String].collect().toSeq ==
      Seq("broken {"))
  }

  test("same-batch replay replaces, never duplicates") {
    val base = fresh("jsonl_stream_replay")
    run(Seq("""{"id":1,"s":"a"}""", "x"), 0L, base)
    run(Seq("""{"id":1,"s":"a"}""", "x"), 0L, base)
    assert(read(s"$base/good").count() == 1L)
    assert(read(s"$base/bad").count() == 1L)
    Seq("good", "bad").foreach { store =>
      assert(ops(s"$base/$store") == Seq("create", "txn-append:t_b0"))
    }
  }

  test("changed replay of a committed batch is a no-op on both stores") {
    val base = fresh("jsonl_stream_changed")
    run(Seq("""{"id":1,"s":"a"}""", "x"), 0L, base)
    // the replay now parses clean, but the first committed attempt
    // wins: the quarantined line stays, the new good row never lands
    run(Seq("""{"id":1,"s":"a"}""", """{"id":2,"s":"b"}"""), 0L, base)
    assert(read(s"$base/good").select("id").as[Long].collect().toSeq ==
      Seq(1L))
    assert(read(s"$base/bad").select("raw_line").as[String].collect()
      .toSeq == Seq("x"))
    Seq("good", "bad").foreach { store =>
      assert(ops(s"$base/$store") == Seq("create", "txn-append:t_b0"))
    }
  }

  test("batches accumulate by partition") {
    val base = fresh("jsonl_stream_acc")
    run(Seq("""{"id":1,"s":"a"}"""), 0L, base)
    run(Seq("""{"id":2,"s":"b"}"""), 1L, base)
    assert(read(s"$base/good").count() == 2L)
    // one keyed commit per batch, on the quarantine side too
    Seq("good", "bad").foreach { store =>
      assert(ops(s"$base/$store") ==
        Seq("create", "txn-append:t_b0", "txn-append:t_b1"))
    }
  }

  test("empty line and type mismatch both quarantine") {
    val base = fresh("jsonl_stream_types")
    run(Seq("", """{"id":"NaN-ish","s":"a"}""", """{"id":3,"s":"c"}"""),
      0L, base)
    assert(read(s"$base/good").count() == 1L)
    assert(read(s"$base/bad").count() == 2L)
  }
}
