package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types._

class JsonLinesSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  test("jsonl: write/read round-trip, malformed lines to the reject sink") {
    val dir = tempDir("graft-jsonl").toString
    val docs = Seq(
      (1L, "hello world", "en"),
      (2L, "guten tag", "de"),
      (3L, "", "en")
    ).toDF("doc_id", "text", "lang")
    JsonLines.write(docs, s"$dir/out")
    // corrupt the shipment: a sidecar file with a malformed line and a
    // truncated one (a NEW file — appending to a Spark part file would
    // break its .crc checksum sidecar, a different failure)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/out/zz-corrupt.txt"),
      "{\"doc_id\": 4, \"text\": \"unclosed\n{not json at all}\n")
    val split = JsonLines.read(spark, s"$dir/out", docSchema)
    val got = split.good.as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "hello world", "en"), (2L, "guten tag", "de"),
      (3L, "", "en")))
    val rej = split.rejects.collect().map(_.getString(0))
    assert(rej.length == 2, s"got ${rej.toSeq}")
    assert(rej.exists(_.contains("unclosed")) &&
      rej.exists(_.contains("not json")))
    // the split owns exactly one cached scan; unpersist releases it
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    split.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore - 1,
      "unpersist must release the shared cached scan")
  }

  test("jsonl: schema is enforced, not inferred (extra fields pruned, missing null)") {
    val dir = tempDir("graft-jsonl2").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/a.jsonl"),
      """{"doc_id": 1, "text": "x", "lang": "en", "extra": 99}
        |{"doc_id": 2, "text": "y"}
        |""".stripMargin)
    val split = JsonLines.read(spark, s"$dir/in", docSchema)
    assert(split.rejects.count() == 0)
    assert(split.good.columns.toSeq == Seq("doc_id", "text", "lang"))
    val rows = split.good.orderBy("doc_id").collect()
    assert(rows(1).isNullAt(2), "missing field reads as null")
    split.unpersist()
  }

  test("jsonl: corrupt-record column collision rejected") {
    intercept[IllegalArgumentException] {
      JsonLines.read(spark, "/tmp/nowhere",
        docSchema.add("_corrupt_record", StringType))
    }
  }
}
