package graft

import org.apache.spark.sql.SparkSession

/** The local session the [[Bench]], [[Verify]] and [[PlanDump]] mains
  * run on: `local[cpus]` with one shuffle partition per core, UTC, no
  * UI. `SPARK_GRAFT_CPUS` sets the core count; the default is the
  * host's available processors, so a run never oversubscribes its host.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
