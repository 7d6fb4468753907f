package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    for (name <- args) {
      println(s"===== $name =====")
      println(Registry.byName(name).run(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
