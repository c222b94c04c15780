package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def writeClustered(n: Long, files: Int): String = {
    val dir = tempDir("graft-zm-spec")
      .toString + "/t"
    ZoneMap.clusterWrite((0L until n).map(i => (i, i % 7)).toDF("k", "v"),
      "k", files, dir)
    dir
  }

  test("pruned read equals the plain filter and actually skips files") {
    val dir = writeClustered(1000, 4)
    val written = spark.read.parquet(dir)
    val zm = ZoneMap.stats(written, "k")
    assert(zm.count() == 4)
    val (pruned, rep) = ZoneMap.prunedRead(spark, zm, "k", 100, 199)
    // a 10% band over a 4-file range clustering keeps exactly 1 file
    assert(rep.filesTotal == 4 && rep.filesKept == 1, s"got $rep")
    val got = pruned.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = written.filter($"k".between(100, 199)).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got.size == 100)
  }

  test("a predicate spanning the whole range keeps every file") {
    val dir = writeClustered(400, 4)
    val zm = ZoneMap.stats(spark.read.parquet(dir), "k")
    val (pruned, rep) = ZoneMap.prunedRead(spark, zm, "k", 0, 399)
    assert(rep.filesKept == rep.filesTotal)
    assert(pruned.count() == 400)
  }

  test("a disjoint predicate reads zero files and zero rows") {
    val dir = writeClustered(400, 4)
    val zm = ZoneMap.stats(spark.read.parquet(dir), "k")
    val (pruned, rep) = ZoneMap.prunedRead(spark, zm, "k", 5000, 6000)
    assert(rep.filesKept == 0)
    assert(pruned.count() == 0)
    // schema survives total pruning (downstream plans still resolve)
    assert(pruned.columns.toSeq == Seq("k", "v"))
  }

  test("incremental maintenance: merged per-generation stats prune " +
    "across generations and equal the plain filter") {
    val base = tempDir("graft-zm-inc")
      .toString
    val gen0 = (0L until 500L).map(i => (i, i % 7)).toDF("k", "v")
    val gen1 = (500L until 1000L).map(i => (i, i % 7)).toDF("k", "v")
    ZoneMap.clusterWrite(gen0, "k", 2, s"$base/g0")
    ZoneMap.clusterWrite(gen1, "k", 2, s"$base/g1")
    // union of immutable per-file stats — the append story
    val zm = ZoneMap.stats(spark.read.parquet(s"$base/g0"), "k")
      .unionByName(ZoneMap.stats(spark.read.parquet(s"$base/g1"), "k"))
    assert(zm.count() == 4)
    // band straddling the generation boundary keeps one file per gen
    val (pruned, rep) = ZoneMap.prunedRead(spark, zm, "k", 400, 599)
    assert(rep.filesTotal == 4 && rep.filesKept == 2, s"got $rep")
    assert(pruned.count() == 200)
  }

  test("zone-map paths survive a table dir needing URI escaping " +
    "(space, '%'): stats store decoded names, prunedRead re-reads them") {
    val base = tempDir("graft-zm-esc")
      .toString
    // a space AND a literal '%' in the table path: input_file_name()
    // URI-encodes both; the stored path must be the literal on-disk name
    val dir = s"$base/zone map%table"
    ZoneMap.clusterWrite((0L until 100L).map(i => (i, i)).toDF("k", "v"),
      "k", 2, dir)
    val zm = ZoneMap.stats(spark.read.parquet(dir), "k")
    val paths = zm.select("path").collect().map(_.getString(0))
    assert(paths.forall(p => p.contains("zone map%table") &&
      !p.contains("%20") && !p.contains("%25")),
      s"paths must be decoded literal names, got ${paths.head}")
    val (pruned, rep) = ZoneMap.prunedRead(spark, zm, "k", 10, 20)
    assert(rep.filesTotal == 2 && rep.filesKept == 1)
    assert(pruned.count() == 11)
  }

  test("pruning boundary is inclusive on both zone edges") {
    val dir = writeClustered(100, 2) // files cover [0,49] and [50,99]
    val zm = ZoneMap.stats(spark.read.parquet(dir), "k")
    // predicate touching only the exact hi edge of file 1
    val (p1, r1) = ZoneMap.prunedRead(spark, zm, "k", 49, 49)
    assert(r1.filesKept == 1 && p1.count() == 1)
    // predicate straddling the file boundary keeps both
    val (p2, r2) = ZoneMap.prunedRead(spark, zm, "k", 49, 50)
    assert(r2.filesKept == 2 && p2.count() == 2)
  }
}
