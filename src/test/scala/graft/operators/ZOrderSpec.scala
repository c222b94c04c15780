package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: x=5,y=3 over 3 bits -> 27") {
    // x=101b -> positions 0,4; y=011b -> positions 1,3; z = 1+2+8+16
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 3).as("z"))
      .head().getLong(0)
    assert(z == 27L)
  }

  test("quadrant ordering: lower-left tile sorts entirely below upper-right") {
    val grid = (for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y))
      .toDF("x", "y")
      .withColumn("z", ZOrder.zValue(Seq(col("x"), col("y")), bits = 4))
    val ll = grid.filter(col("x") < 8 && col("y") < 8)
      .agg(max("z")).head().getLong(0)
    val ur = grid.filter(col("x") >= 8 && col("y") >= 8)
      .agg(min("z")).head().getLong(0)
    assert(ll < ur)
  }

  test("normalize maps ranges into [0, 2^bits) incl. degenerate and offset") {
    val df = Seq(100L, 150L, 200L).toDF("v")
    val got = df.select(ZOrder.normalize(col("v"), 100L, 200L, 4).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 7L, 15L))
    val deg = df.select(ZOrder.normalize(col("v"), 100L, 100L, 4).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(deg == Seq(0L, 0L, 0L))
  }

  test("cluster narrows per-file min/max footprints in every dimension") {
    val rows = (for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y))
    val df = rows.toDF("x", "y").repartition(8) // scattered input layout
    val out = tempDir("graft-zorder").toString + "/t"
    ZOrder.cluster(df, Seq("x", "y"), numFiles = 4, bits = 6)
      .write.parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size == 4)
    // each z-range file should cover a tile, not the full span, in BOTH
    // dims (a 1-D sort would leave the other dim's span at ~full width
    // in every file)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
    }
    // repartitionByRange samples boundaries, so a tile can straddle a
    // quadrant seam and exact per-file spans jitter run to run. The
    // discriminating property is statistical: BOTH dimensions narrow on
    // average (mean tile span ~32-45 here), where any 1-D sort leaves
    // one dimension at full span (63) in EVERY file.
    assert(spans.map(_._1).sum / spans.size <= 52,
      s"mean x-span should be tile-sized, got $spans")
    assert(spans.map(_._2).sum / spans.size <= 52,
      s"mean y-span should be tile-sized, got $spans")
    // re-layout only — contents intact
    assert(spark.read.parquet(out).count() == rows.size)
  }

  test("zSql mirrors the Column form") {
    // same constants through both paths; compare on a value grid
    val cols = Seq("a" -> ((3L, 40L)), "b" -> ((0L, 17L)))
    val df = (for { a <- 3L to 40L by 7L; b <- 0L to 17L by 5L }
      yield (a, b)).toDF("a", "b")
    df.createOrReplaceTempView("zmirror")
    val viaSql = spark.sql(
      s"SELECT a, b, ${ZOrder.zSql(cols, bits = 5)} AS z FROM zmirror")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaCol = df.select(col("a"), col("b"),
      ZOrder.zValueRanged(Seq(col("a") -> ((3L, 40L)), col("b") -> ((0L, 17L))),
        bits = 5).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaSql == viaCol)
  }
}
