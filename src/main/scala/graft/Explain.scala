package graft

import java.nio.file.{Files, Paths}

/** Plan auditor: dumps `explain("formatted")` for every query so scan
  * pushdown (PushedFilters / ReadSchema), join strategies (broadcast vs
  * sort-merge), TakeOrderedAndProject, and WholeStageCodegen spans can
  * be reviewed without running anything.
  *
  * Usage: runMain graft.Explain <outFile> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_plans.txt"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkEntry.localSession(cpus = "4", logLevel = "ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n========== $name ==========\n")
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(plan)
      } catch {
        case e: Throwable => sb.append(s"EXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans -> $out")
    spark.stop()
  }
}
