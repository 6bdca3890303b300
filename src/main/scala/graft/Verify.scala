package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/selfcheck.py). Exits
  * non-zero when any key throws, after dumping the rest. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the GraftSession.tune conf RunOne, Bench and perfbench run
    // under, so the gate checks the config that is timed
    val spark = GraftSession.local(cpus)
    // SPARK_GRAFT_VERIFY_ONLY=q32,t10 (name-prefix filter) restricts the
    // dump for local bisection — same contract as Bench's BENCH_ONLY;
    // the driver never sets it, so the gate output is unchanged
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val failures = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter(kv => selected(kv._1)).toSeq,
      SparkEntry.oracleSql.filter(kv => selected(kv._1)))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} key(s) failed; see $outDir/failures.txt")
      sys.exit(1)
    }
  }

  /** Dump each key's result to `outDir/<key>` as parquet and write
    * `oracle_sql.json`. A key that throws is logged and the remaining
    * keys still dump; the failed keys are written to `failures.txt`
    * (key TAB message, one per line) and returned as (key, message).
    * With no failure, a stale `failures.txt` from an earlier run is
    * removed. `dumped` is told each written key and its seconds, from
    * building the query to the end of its write. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Map[String, String],
      dumped: (String, Double) => Unit = (_, _) => ()): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped(name, (System.nanoTime() - t0) / 1e9)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Option(e.getMessage).getOrElse(e.toString)
          .replaceAll("\\s+", " "))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifest = Paths.get(s"$outDir/failures.txt")
    if (failures.isEmpty) Files.deleteIfExists(manifest)
    else Files.writeString(manifest,
      failures.map { case (k, m) => s"$k\t$m\n" }.mkString)
    failures
  }
}
