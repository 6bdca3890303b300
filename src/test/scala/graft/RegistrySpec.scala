package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{AdvancedQueries, AnalyticsQueries, PipelineQueries,
  Relational, StreamingQueries, XmlQueries}

/** Structural guards on the driver contract itself. The r11 split
  * recomposed the analytics oracle map from seven per-family
  * fragments; these pins make a wiring mistake (a dropped fragment, a
  * key landing in two families, a query registered without its
  * oracle) a unit failure instead of a driver-gate surprise. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries with NO oracle entry: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles with NO query: ${(o -- q).toSeq.sorted}")
  }

  test("registry keys are globally unique across the six registries") {
    val maps = Seq(
      "Relational" -> Relational.queries, "XmlQueries" -> XmlQueries.queries,
      "StreamingQueries" -> StreamingQueries.queries,
      "AnalyticsQueries" -> AnalyticsQueries.queries,
      "PipelineQueries" -> PipelineQueries.queries,
      "AdvancedQueries" -> AdvancedQueries.queries)
    val total = maps.map(_._2.size).sum
    val union = maps.flatMap(_._2.keys).toSet
    assert(union.size == total,
      s"duplicate keys across registries: " +
        maps.flatMap(_._2.keys).groupBy(identity).collect {
          case (k, v) if v.size > 1 => k
        }.toSeq.sorted.mkString(", "))
  }

  test("oracle SQL is non-empty and names the query's own tables") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k has a blank oracle")
      assert(sql.length > 20, s"$k oracle suspiciously short: $sql")
    }
  }

  test("the surface is 233 queries (update alongside COVERAGE/PERF counts)") {
    assert(SparkEntry.queries.size == 233,
      s"registered surface is ${SparkEntry.queries.size} — if you added a " +
        "query, bump this and the counts in README/COVERAGE/PERF")
  }

  test("the library ships four entry mains, all built through GraftSession") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val builders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder()") => p
    }
    assert(builders == Seq("graft/GraftSession.scala"),
      s"SparkSession.builder() outside GraftSession: $builders")
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources.flatMap { case (_, src) =>
      """def main\(""".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "ProfileOne", "RunOne", "Verify"),
      s"def main objects: ${mains.sorted}")
  }
}
