package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.MergeUpsert

class StreamStatsSpec extends SparkSpec {
  import org.apache.spark.sql.types._
  import spark.implicits._

  private def vocabMap(store: String) =
    StreamStats.readVocab(spark, store)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("applyBatch maintains counts additively and is idempotent per batch") {
    val store = tempDir("graft-svocab").toString + "/v"
    StreamStats.applyBatch(spark, store,
      Seq("a b a", "B c").toDF("text"), "text", batchId = 0)
    assert(vocabMap(store) == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    // redelivery of the SAME batch id must not double-count
    StreamStats.applyBatch(spark, store,
      Seq("a b a", "B c").toDF("text"), "text", batchId = 0)
    assert(vocabMap(store) == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    // the next batch adds
    StreamStats.applyBatch(spark, store,
      Seq("c d").toDF("text"), "text", batchId = 1)
    assert(vocabMap(store) ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
    assert(StreamStats.lastApplied(spark, store).contains(1L))
  }

  test("streamed vocabulary converges to the batch word count, survives restart") {
    val work = tempDir("graft-sv2").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(StructField("text", StringType)))
    def arrive(texts: Seq[String], name: String): Unit = {
      val stage = s"$work/stage-$name"
      texts.toDF("text").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
    }
    arrive(Seq("x y x", "z"), "f1.parquet")
    val q1 = StreamStats.maintainVocab(spark, s"$work/in", schema,
      s"$work/store", "text", s"$work/cp", interval = "100 milliseconds")
    try {
      q1.processAllAvailable()
      assert(vocabMap(s"$work/store") == Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
    } finally q1.stop()
    // arrival while down + restart from the same checkpoint
    arrive(Seq("z w"), "f2.parquet")
    val q2 = StreamStats.maintainVocab(spark, s"$work/in", schema,
      s"$work/store", "text", s"$work/cp", interval = "100 milliseconds")
    try {
      q2.processAllAvailable()
      assert(vocabMap(s"$work/store") ==
        Map("x" -> 2L, "y" -> 1L, "z" -> 2L, "w" -> 1L))
    } finally q2.stop()
  }
}
