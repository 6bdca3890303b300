package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump loop fails loudly: a key that throws is recorded in
  * the failures manifest while every other key still dumps. */
class VerifySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 4)

  test("a throwing key lands in failures.txt; the other keys and oracle_sql.json still dump") {
    val out = Files.createTempDirectory("verifyspec")
    def ok(n: Int): (SparkSession, String) => DataFrame = (s, _) => s.range(n).toDF("x")
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok_a" -> ok(3),
      "boom" -> ((_, _) => throw new IllegalStateException("deliberate\nfailure")),
      "ok_b" -> ok(2))
    val sql = Map("ok_a" -> "SELECT 1", "boom" -> "SELECT 2", "ok_b" -> "SELECT 3")
    try {
      val failures = Verify.dump(spark, "unused", out.toString, queries, sql)
      assert(failures == Seq("boom" -> "deliberate failure"))
      assert(spark.read.parquet(out.resolve("ok_a").toString).count() == 3)
      assert(spark.read.parquet(out.resolve("ok_b").toString).count() == 2)
      assert(!Files.exists(out.resolve("boom")))
      assert(Files.readString(out.resolve("failures.txt")) == "boom\tdeliberate failure\n")
      assert(Files.readString(out.resolve("oracle_sql.json")).contains("\"ok_b\": \"SELECT 3\""))
      // a clean rerun into the same directory drops the stale manifest
      assert(Verify.dump(spark, "unused", out.toString,
        queries.filterNot(_._1 == "boom"), sql).isEmpty)
      assert(!Files.exists(out.resolve("failures.txt")))
      // RunOne's dump mode builds, times and writes each key once through
      // the same per-key try: the throwing key aborts nothing
      val one = out.resolve("runone")
      val printed = new java.io.ByteArrayOutputStream()
      val runFailures = Console.withOut(printed) {
        RunOne.dump(spark, "unused", one.toString, queries, sql)
      }
      assert(runFailures == Seq("boom" -> "deliberate failure"))
      assert(spark.read.parquet(one.resolve("ok_a").toString).count() == 3)
      assert(spark.read.parquet(one.resolve("ok_b").toString).count() == 2)
      assert(!Files.exists(one.resolve("boom")))
      assert(Files.readString(one.resolve("failures.txt")) == "boom\tdeliberate failure\n")
      val timed = printed.toString.linesIterator.map(_.split(" ").take(2).mkString(" ")).toSeq
      assert(timed == Seq("[runone] ok_a", "[runone] ok_b"), printed.toString)
    } finally {
      val p = new org.apache.hadoop.fs.Path(out.toString)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}
