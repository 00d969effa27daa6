package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * sbt forks one test JVM, so suites share it and tests stay fast). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // tests run small data; 4 threads keeps startup+shuffles snappy
    val b = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.extensions",
        "graft.functions.GraftExtensions")
    Tables.SessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  // stable identifier so suites can `import spark.implicits._`
  final lazy val spark: SparkSession = SparkSpec.spark
  /** scratch dir under target/ (never outside the repo). */
  def scratch(name: String): String = {
    val p = java.nio.file.Paths.get("target", "test-scratch", name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Spark jobs started by `body` on this thread: its jobs run under a
    * job group (which the stage and broadcast jobs AQE starts from its
    * own threads inherit), and a marker job after it proves the
    * listener has seen every earlier event (one listener's events
    * arrive in order). */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }
}
