package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan evidence artifacts for optimization rounds (plans/rNN).
  * Uses the Bench session config so the plans match what the bench
  * actually executes.
  * Usage: sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <query> [query..]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query> [query..]")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = GraftSession.build("graft-plandump", GraftSession.cores,
      None)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(f, plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $f (${plan.length} bytes)")
    }
    spark.stop()
  }
}
