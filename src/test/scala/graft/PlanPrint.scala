package graft

/** Dev tool: print the executed physical plan of any registered query —
  * the `.explain`-and-iterate loop the scale discipline requires,
  * runnable as `sbt "Test/runMain graft.PlanPrint <query> [sfDir]"`. */
object PlanPrint {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: PlanPrint <query> [sfDir]"))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(cores = 4)
    val df = SparkEntry.queries(name)(spark, dir)
    println(s"=== $name executed plan ===")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
