package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev utility: run named queries and print each one's wall time.
  * Usage: runMain graft.RunOne <name>[,<name>…] [sfDir] [explain]
  * [warm] [dump:<dir>]. With dump:<dir> the printed time covers
  * building and writing each key (see [[dump]]). */
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
    val explain = args.length > 2 && args(2) == "explain"
    def build(name: String)(s: SparkSession, sf: String): DataFrame = {
      val df = SparkEntry.queries(name)(s, sf)
      if (explain) df.explain("formatted")
      df
    }
    val failures = args.find(_.startsWith("dump:")).map(_.stripPrefix("dump:")) match {
      case Some(out) =>
        dump(spark, sfDir, out, names.map(n => n -> (build(n) _)),
          SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
      case None =>
        names.foreach { name =>
          // time the whole query fn + a full plan execution (NOT
          // Dataset.count, whose rewrite can prune cardinality-preserving
          // joins and the presentation sort — Bench.scala has the details)
          val t0 = System.nanoTime()
          val n = build(name)(spark, sfDir).queryExecution.executedPlan.execute().count()
          println(f"[runone] $name rows=$n took ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        Nil
    }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** "dump:<dir>": writes <dir>/<name> parquet per key + one
    * oracle_sql.json naming every key, so one tools/selfcheck.py call
    * gates them all. Each key is built, timed and written once, inside
    * Verify.dump's per-key try: a key that throws is listed in
    * failures.txt and the others still dump. */
  private[graft] def dump(spark: SparkSession, sfDir: String, out: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Map[String, String]): Seq[(String, String)] =
    Verify.dump(spark, sfDir, out, queries, oracleSql,
      dumped = (name, s) => println(f"[runone] $name dumped in $s%.2f s"))
}
