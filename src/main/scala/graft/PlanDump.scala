package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit tool: print the formatted physical plan of registered
  * queries without executing them — the `.explain("formatted")` loop the
  * build rules require after each operator lands (PushedFilters /
  * ReadSchema / WholeStageCodegen spans / exchange placement).
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.001 pca_variance quality_lr_score"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query> [query...]")
    val sfDir = args(0)
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
