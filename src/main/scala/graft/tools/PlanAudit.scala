package graft.tools

/** Prints formatted physical plans for representative queries — used to
  * audit pushdown (PushedFilters/ReadSchema), WholeStageCodegen spans, and
  * shuffle counts per operator (dev tool; see SURVEY.md §6). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else
      Set("q01_hist_regular", "q05_hist_dims", "q17_hist2d_dims_weighted",
        "q23_stat_median", "q45_ann_bruteforce")
    val spark = DevSession()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n========== $name ==========")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
