package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._

/** Z-order layout contracts: the Morton interleave against a driver
  * reference (bijective on the bucket grid), the quadrant-confinement
  * law that makes min/max stats useful, and the measured payoff — a 2-D
  * box query must touch a small fraction of z-ordered files where an
  * x-sorted layout of the same data needs nearly all of them.
  */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  private def mortonRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zkey matches the driver-side Morton reference and is bijective on the grid") {
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", ZOrder.zkey($"x", $"y", 5).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) == mortonRef(x, y, 5), s"($x,$y)") }
    assert(got.values.toSet.size == pts.size, "interleave must be injective on the grid")
    assert(got.values.min == 0L && got.values.max == 1023L, "and fill [0, 4^bits)")
  }

  test("writeZOrdered rejects a non-positive file count") {
    val df = spark.range(10).toDF("x")
    Seq(0, -1).foreach { n =>
      intercept[IllegalArgumentException] {
        ZOrder.writeZOrdered(df, $"x", $"x", 4, n, "/tmp/graft_test_zorder_bad")
      }
    }
  }

  test("every 4096-key z-block confines both dimensions to a 64-wide quadrant") {
    val rows = ops.SqlSurface.zorderKey.run(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 63, s"x span in zbucket ${r.getLong(0)}")
      assert(r.getLong(5) - r.getLong(4) <= 63, s"y span in zbucket ${r.getLong(0)}")
    }
  }

  test("box query touches far fewer z-ordered files than x-sorted files, same results") {
    val li = Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    val zdir = "/tmp/graft_test_zorder"
    val xdir = "/tmp/graft_test_xsort"
    ZOrder.writeZOrdered(li, $"l_orderkey" % 256, $"l_partkey" % 256, 8, 16, zdir)
    li.repartitionByRange(16, ($"l_orderkey" % 256).asc)
      .sortWithinPartitions(($"l_orderkey" % 256).asc)
      .write.mode("overwrite").parquet(xdir)

    // per-file y-extent decides whether a y-box predicate can skip the
    // file via min/max stats; measure how many files each layout needs
    def filesTouched(dir: String): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
      val touched = files.count { f =>
        val mm = spark.read.parquet(f)
          .agg(min($"l_partkey" % 256), max($"l_partkey" % 256)).collect()(0)
        mm.getLong(0) <= 79 && mm.getLong(1) >= 64 // y ∈ [64, 79] box
      }
      (touched, files.length)
    }
    val (zTouched, zTotal) = filesTouched(zdir)
    val (xTouched, xTotal) = filesTouched(xdir)
    assert(zTotal >= 8 && xTotal >= 8, s"want real file counts, got $zTotal/$xTotal")
    // x-sorted layout spreads every y value across ~all files; z-order
    // confines the box to the quadrant-overlapping minority
    assert(xTouched >= (xTotal * 3) / 4, s"x-sorted: $xTouched/$xTotal")
    assert(zTouched * 2 <= zTotal, s"z-ordered should halve the touch set: $zTouched/$zTotal")

    // correctness parity on the box query itself
    val box = (df: org.apache.spark.sql.DataFrame) => df
      .filter($"l_partkey" % 256 >= 64 && $"l_partkey" % 256 <= 79 &&
        $"l_orderkey" % 256 >= 32 && $"l_orderkey" % 256 <= 47)
      .agg(count(lit(1)), sum($"l_quantity".cast("decimal(18,2)")))
      .collect()(0)
    val a = box(spark.read.parquet(zdir))
    val b = box(spark.read.parquet(xdir))
    assert(a == b, "layout must not change query results")
  }
}
