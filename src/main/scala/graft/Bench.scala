package graft

/** Bench main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * A warm-up pass at sf0.001 runs first so per-query numbers measure
  * the queries, not JVM/codegen/classloading warm-up (~4s otherwise
  * landing on whichever query runs first). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    // JVM / codegen warm-up on the smallest SF (not timed)
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }

    // n repetitions per query, report the MEDIAN — single runs on this
    // container carry ±30% noise on sub-second queries
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // SPARK_GRAFT_BENCH_ONLY=x01,x02 (name-prefix filter) restricts the
    // run for local bisection; the driver never sets it, so the
    // contract output is unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val results = selected.map { case (name, fn) =>
      val outcomes = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          // execute the physical plan AS WRITTEN, not Dataset.count():
          // the count() rewrite lets Catalyst prune cardinality-
          // preserving subtrees (a left outer join against a unique
          // aggregate key — d09/d14/t20's shape — benched as a bare
          // base-table count) and elide every presentation sort, so
          // count-based timings systematically undershoot the work the
          // correctness gate actually verifies
          try { fn(spark, sfDir).queryExecution.executedPlan.execute().count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val good = outcomes.filter(_._2).map(_._1)
      (name, good.headOption.map(_ => median(good)), outcomes.count(!_._2), good)
    }
    // a failed rep must never read as a fast run: queries with zero
    // successful reps report null, and any failure lands in "failures"
    // medians print at millisecond precision: single-run noise on this
    // container is ±30%, so sub-ms digits are pure line length — and
    // line length matters because the driver's stdout capture keeps
    // only a ~2 KB tail (BENCH_r05/r08 lost their heads that way; the
    // whole-artifact copy below is the canonical record)
    def fmt(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + v.map(fmt).getOrElse("null")
    }.mkString("{", ",", "}")
    val failures = results.filter(_._3 > 0)
      .map { case (k, _, n, _) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    // per-query [min, median, max] over the successful reps: drift
    // adjudication needs the spread, not just the median — a +25%
    // median move whose new value sits inside the old [min, max] is
    // run-to-run noise; one outside it is a regression (r9's s23
    // episode was argued by narrative for want of exactly this field)
    val spread = results.map { case (k, _, _, good) =>
      "\"" + k + "\":" +
        (if (good.isEmpty) "null"
         else s"[${fmt(good.min)},${fmt(median(good))},${fmt(good.max)}]")
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // "spread" precedes "queries" so the driver's ~2 KB stdout TAIL
    // capture still lands on per-query medians (the field the round
    // artifact is read for); the file copies carry everything anyway
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","spread":$spread,"queries":$qs,"failures":$failures,"sf":"$sfDir","reps":$reps}"""
    println(json)
    // The stdout line can be truncated by tail-capture (BENCH_r05 lost
    // a01..q09's medians that way); the file is the whole-artifact copy
    // the driver/judge can ingest intact.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_out.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    // second copy OUTSIDE the gitignored target/ dir: the per-round
    // artifact built from the captured stdout tail has repeatedly lost
    // most of its per-query medians to the ~2 KB capture window, while
    // the complete file sat uncommitted beside it — a tracked-path
    // copy survives as the whole-artifact record. Anchored to the repo
    // root (nearest ancestor of CWD holding build.sbt, env-overridable)
    // rather than a bare relative name, so a bench launched from
    // another directory can't silently strand the record elsewhere —
    // and a read-only CWD downgrades to a warning, not a failed bench.
    val copyPath = sys.env.get("SPARK_GRAFT_BENCH_COPY")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        // anchor on build.sbt AND .git so a nested sbt sub-build (or
        // a different sbt project above CWD) can't silently swallow
        // the record — only a repository root qualifies
        Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
          .takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")) &&
            java.nio.file.Files.exists(p.resolve(".git")))
          .map(_.resolve("BENCH_full_latest.json"))
      }
    copyPath match {
      case Some(p) =>
        try java.nio.file.Files.write(p, json.getBytes("UTF-8"))
        catch { case e: java.io.IOException =>
          System.err.println(s"[bench] tracked-copy write to $p failed: ${e.getMessage}")
        }
      case None =>
        System.err.println("[bench] no repo root found above CWD; tracked copy skipped")
    }
    spark.stop()
  }
}
