package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev utility: dump the plans of catalog queries to files.
  * args: sfDir outDir suffix [query...] (no queries = all). One file per query:
  * `<outDir>/<query>_<suffix>.txt`, holding [[render]]'s two plans. Same session shape as
  * Bench (local[cpus], shuffle.partitions=cpus) so the plans match what the bench
  * executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-shuffle"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = render(df)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      spark.catalog.clearCache()
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** `explain("formatted")` of `df` — the unexecuted plan: operators, pushed filters,
    * expressions, but no code-generation stages — followed by the final executed plan of
    * `df` itself, run with its rows discarded on the executors: its `*(n)` markers show
    * which operators each WholeStageCodegen stage compiled (an operator without one runs
    * interpreted). */
  def render(df: DataFrame): String = {
    val qe = df.queryExecution
    val formatted = qe.explainString(FormattedMode)
    qe.toRdd.foreach(_ => ())
    val fin = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case plan => plan
    }
    s"$formatted\n== Final executed plan ==\n${fin.treeString}"
  }
}
