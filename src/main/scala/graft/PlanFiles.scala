package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (optimization rounds): dump `.explain("formatted")` of named
  * queries to individual files — `plans/r<N>/<query>_<tag>.txt` — the
  * before/after plan evidence the optimization deliverable commits.
  *
  * Usage: runMain graft.PlanFiles <outDir> <tag> <q1,q2,...> [sfDir]
  * Dumps `SparkEntry.timed(name)`: the plan reviewed is the plan Bench
  * times.
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.timed(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "�")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      System.err.println(s"[plans] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
    sys.exit(0)
  }
}
