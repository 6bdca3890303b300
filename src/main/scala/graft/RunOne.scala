package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: run named queries and print each one's wall time.
  * Usage: runMain graft.RunOne <name>[,<name>…] [sfDir] [explain]
  * [warm] [dump:<dir>]. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    if (args.contains("warm")) { // absorb JVM/codegen warm-up like Bench does
      try SparkEntry.entry(spark).count()
      catch { case _: Throwable => () }
    }
    val dfs = names.map { name =>
      val fn = SparkEntry.queries(name)
      // time the whole query fn + a full plan execution (NOT
      // Dataset.count, whose rewrite can prune cardinality-preserving
      // joins and the presentation sort — Bench.scala has the details)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (args.length > 2 && args(2) == "explain") df.explain("formatted")
      val n = df.queryExecution.executedPlan.execute().count()
      println(f"[runone] $name rows=$n took ${(System.nanoTime() - t0) / 1e9}%.2f s")
      name -> df
    }
    // "dump:<dir>" writes <dir>/<name> parquet per key + one
    // oracle_sql.json naming every key, so one tools/selfcheck.py call
    // gates them all
    val failures = args.find(_.startsWith("dump:")).map(_.stripPrefix("dump:")).toSeq
      .flatMap { out =>
        Verify.dump(spark, sfDir, out,
          dfs.map { case (name, df) => name -> ((_: SparkSession, _: String) => df) },
          SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
      }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
