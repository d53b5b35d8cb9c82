package graft

import graft.metrics.MetricsListener

/** The JSONL metrics trail (ralf's snapshot/counter analog). */
class MetricsSpec extends SparkSpec {

  test("listener appends one JSON line per completed action with rows and duration") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-metrics").toString + "/m.jsonl"
    val l = MetricsListener.attach(spark, path)
    try {
      Seq(1, 2, 3).toDF("x").filter("x > 1").count()
      // the listener fires asynchronously on the listener bus, and
      // closes the file on each write: a drained bus means a complete file
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      val lines = scala.io.Source.fromFile(path).getLines().toList
      assert(lines.nonEmpty, "expected at least one metrics line")
      val line = lines.head
      assert(line.contains(""""action":"count""""))
      assert(line.contains(""""status":"ok""""))
      assert(line.contains(""""duration_ms":"""))
    } finally MetricsListener.detach(spark, l)
  }

  test("listener records a failed action with the error class") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udf
    val path = java.nio.file.Files.createTempDirectory("graft-metrics-f").toString + "/m.jsonl"
    val l = MetricsListener.attach(spark, path)
    try {
      val boom = udf((i: Int) => if (i > 1) throw new IllegalStateException("boom") else i)
      intercept[Exception] {
        Seq(1, 2, 3).toDF("x").select(boom($"x")).collect()
      }
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      val line =
        if (!new java.io.File(path).exists()) None
        else scala.io.Source.fromFile(path).getLines().find(_.contains(""""status":"failed""""))
      assert(line.isDefined, "expected a failed-status metrics line")
      assert(line.get.contains(""""error":""""))
    } finally MetricsListener.detach(spark, l)
  }
}
