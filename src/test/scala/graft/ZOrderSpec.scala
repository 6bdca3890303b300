package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The z-order layout's reason to exist, MEASURED: on a single-column
  * sort, a range predicate on the OTHER column reads the whole table;
  * on the Morton-interleaved sort, row-group min/max statistics prune
  * for predicates on EITHER column. The pin compares records actually
  * produced by the parquet reader (task input metrics — pruned row
  * groups contribute zero) for the same query over the same data in
  * two layouts, and that both layouts return identical results.
  * p26's DuckDB oracle separately pins that the clustered REWRITE
  * preserves the data exactly; this spec pins that the layout does
  * its scan-pruning job. */
class ZOrderSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(cores = 4)

  private lazy val read = {
    val a = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) a.add(m.inputMetrics.recordsRead)
      }
    })
    a
  }

  private def recordsReadBy(body: => Unit): Long = {
    // listener bus is async: drain it at both snapshots so no task
    // event lands outside the measured window
    def drained(): Long = {
      org.apache.spark.sql.graft.Internals.drainListenerBus(spark.sparkContext)
      read.sum()
    }
    val r0 = drained()
    body
    drained() - r0
  }

  test("y-predicate prunes row groups on the z-order layout, reads everything on an x-sort") {
    val n = 200000L
    // two INDEPENDENT uniform 16-bit dimensions — the worst case for a
    // single-column sort (sorting by x tells min/max stats nothing
    // about y)
    val df = spark.range(n).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(65536L)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(65536L)).as("y"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_spec").toString
    val xDir = s"$tmp/by_x"
    val zDir = s"$tmp/by_z"
    df.repartitionByRange(8, col("x")).sortWithinPartitions(col("x"))
      .write.option("parquet.block.size", 64 * 1024).parquet(xDir)
    val zv = graft.operators.ZOrder.zvalue16(
      graft.operators.ZOrder.bucket16(col("x"), 0L, 65535L),
      graft.operators.ZOrder.bucket16(col("y"), 0L, 65535L))
    df.withColumn("zv", zv)
      .repartitionByRange(8, col("zv")).sortWithinPartitions(col("zv")).drop("zv")
      .write.option("parquet.block.size", 64 * 1024).parquet(zDir)

    // a 10% slice of y — the dimension the x-sort knows nothing about
    val expected = df.filter(col("y") < 6553).count()
    var xCount = 0L; var zCount = 0L
    val xRead = recordsReadBy {
      xCount = spark.read.parquet(xDir).filter(col("y") < 6553).count()
    }
    val zRead = recordsReadBy {
      zCount = spark.read.parquet(zDir).filter(col("y") < 6553).count()
    }
    assert(xCount == expected && zCount == expected,
      s"layouts disagree with the data: x=$xCount z=$zCount expected=$expected")
    // the x-sorted layout cannot prune a y predicate: it reads ~all n.
    // The z-layout's contiguous row groups fix the top y bits, so a
    // 10% y-slice touches ~1/8 of groups — require 2x headroom on the
    // theoretical ~12.5%
    assert(xRead >= (n * 9) / 10,
      s"x-sorted layout unexpectedly pruned a y predicate: read $xRead of $n")
    assert(zRead * 2 < xRead,
      s"z-order layout failed to prune: read $zRead vs x-sort's $xRead")

    // and the z layout still prunes the x dimension too — the point is
    // BOTH dimensions prune on one copy of the data
    val zReadX = recordsReadBy {
      spark.read.parquet(zDir).filter(col("x") < 6553).count()
    }
    assert(zReadX * 2 < n,
      s"z-order layout failed to prune an x predicate: read $zReadX of $n")
  }

  test("the SQL interleave matches an independent Morton reference, bit for bit") {
    import spark.implicits._
    // independent reference: textbook bit-by-bit Morton encode in the
    // engine's ONE convention (a → odd positions, b → even — shared by
    // p14, whose DuckDB oracle mirrors it, and p26). A disagreement
    // means the shift/mask Column fold encodes a DIFFERENT curve than
    // documented (locality claims silently off).
    def morton(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i)))
    val rnd = new java.util.Random(4242)
    val pairs = Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.operators.ZOrder.zvalue16(col("a"), col("b")).as("zv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, zv) =>
      assert(zv == morton(a, b), s"zvalue16($a, $b) = $zv, reference = ${morton(a, b)}")
    }
  }
}
