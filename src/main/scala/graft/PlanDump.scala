package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the r13 optimization-round evidence trail (`plans/r13/<q>_before/
  * _after.txt`). Args: <outDir> <suffix> <q1,q2,...>. Uses the same
  * session shape as [[Bench]] so plans match what the bench executes.
  * Iterative operators surface only their final frame here (loop
  * internals sit behind localCheckpoint barriers — the repo's PlanSpec
  * listener pins cover those); the dump still captures scan pushdown,
  * exchange count and join strategy of the visible tail.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession()
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    names.foreach { n =>
      val df = qs(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $n ($suffix)")
    }
    spark.stop()
  }
}
