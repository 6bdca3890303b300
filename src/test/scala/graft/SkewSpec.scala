package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salted join must be result-identical to the plain join, including
  * on pathologically skewed keys (one key holding 90% of rows). */
class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  test("salted join == plain join on skewed data") {
    import spark.implicits._
    val big = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong % 7 + 2, i)))
      .toDF("k", "v")
    val small = (1L to 10L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k"))
      .groupBy($"name").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .orderBy($"name").as[(String, Long, Long)].collect().toSeq
    val salted = Skew.saltedJoin(big, small, "k", $"v", nSalts = 5)
      .groupBy($"name").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .orderBy($"name").as[(String, Long, Long)].collect().toSeq
    assert(salted == plain)
    assert(plain.map(_._2).sum == 1000L) // nothing lost, nothing duplicated
  }
}
