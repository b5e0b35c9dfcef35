package graft

import graft.ext.Zorder
import org.apache.spark.sql.functions._

/** Z-order clustering: interleave correctness and the box-bound
  * property pruning relies on. The clustered write and its box pruning
  * are covered through the commit log by LakeSkipSpec
  * (`appendCommitZorder` / `optimizeZorder`). */
class ZorderSpec extends SparkSpec {
  import spark.implicits._

  test("zOf interleaves bits (hand-computed cases)") {
    assert(Zorder.zOf(0L, 0L) == 0L)
    assert(Zorder.zOf(1L, 0L) == 1L)   // x bit 0 -> position 0
    assert(Zorder.zOf(0L, 1L) == 2L)   // y bit 0 -> position 1
    assert(Zorder.zOf(3L, 3L) == 15L)
    assert(Zorder.zOf(5L, 3L) == 27L)  // 101 ⨯ 011 -> 011011
    assert(Zorder.zOf(65535L, 65535L) == (1L << 32) - 1)
  }

  test("column interleave agrees with the scalar twin") {
    val pts = (0 until 200).map(i => ((i * 7919L) % 256, (i * 104729L) % 256))
    val got = pts.toDF("x", "y")
      .select(Zorder.zInterleave(col("x"), col("y"), 8).as("z"))
      .as[Long].collect().toSeq
    assert(got == pts.map { case (x, y) => Zorder.zOf(x, y, 8) })
  }

  test("box corners bound the z of every point inside the box") {
    val (x1, y1, x2, y2) = (40L, 60L, 90L, 130L)
    val lo = Zorder.zOf(x1, y1, 8)
    val hi = Zorder.zOf(x2, y2, 8)
    for (x <- x1 to x2; y <- y1 to y2) {
      val z = Zorder.zOf(x, y, 8)
      assert(z >= lo && z <= hi, s"z($x,$y)=$z outside [$lo,$hi]")
    }
  }
}
