package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def writeArrival(dir: String, name: String,
                           rows: Seq[(Long, Long, Double)]): Unit = {
    rows.toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage-$name")
    val src = new java.io.File(s"$dir/stage-$name").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(s"$dir/arrivals/$name.parquet"))
  }

  test("enrichment equals the batch join; unmatched keys survive as null") {
    val work = tempDir("graft-enrich-spec").toString
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$work/arrivals"))
    writeArrival(work, "b0",
      Seq((1L, 10L, 1.0), (2L, 11L, 2.0), (3L, 99L, 3.0)))
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("k", "tier")
    StreamEnrich.enrichAvailableNow(spark, s"$work/arrivals", schema,
      dim, "user_id", "k", s"$work/out", s"$work/cp")
    val got = StreamEnrich.readEnriched(spark, s"$work/out")
      .select($"event_id", $"tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
  }

  test("restart with the same checkpoint is exactly-once: old files never re-enrich") {
    val work = tempDir("graft-enrich-restart").toString
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$work/arrivals"))
    val dim = Seq((10L, "gold")).toDF("k", "tier")
    writeArrival(work, "b0", Seq((1L, 10L, 1.0)))
    StreamEnrich.enrichAvailableNow(spark, s"$work/arrivals", schema,
      dim, "user_id", "k", s"$work/out", s"$work/cp")
    // second drain with one NEW file — the old file must not duplicate
    writeArrival(work, "b1", Seq((2L, 10L, 2.0)))
    StreamEnrich.enrichAvailableNow(spark, s"$work/arrivals", schema,
      dim, "user_id", "k", s"$work/out", s"$work/cp")
    val ids = StreamEnrich.readEnriched(spark, s"$work/out")
      .select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }
}
