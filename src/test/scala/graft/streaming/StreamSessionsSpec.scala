package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Planted-fixture spec for [[StreamSessions]] — the catalog (x201)
  * proves streamed ≡ batch on the real corpus; this pins the unit
  * semantics that proof rides on: state merging ACROSS micro-batches
  * (one file per trigger), the exact-gap break rule, sentinel
  * drain-and-exclude, and the quantized order-free value sum. */
class StreamSessionsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def ns(sec: Long): Long = sec * 1000000000L

  /** Write one arrival file per event batch, mod times in list order
    * so maxFilesPerTrigger=1 replays them as separate micro-batches. */
  private def stage(work: String,
                    batches: Seq[Seq[(Long, Long, Long, Double)]]): Unit = {
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (evs, i) =>
      val part = s"$work/stage-$i"
      evs.map { case (id, tsNs, uid, v) => (id, tsNs, uid, "e", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$work/arrivals/batch_$i.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      // strictly increasing mod times, final file (the sentinel's
      // batch) newest — arrival order is mod-time order
      dst.setLastModified(t0 - (batches.size - i) * 60000L)
    }
  }

  test("sessions merge across micro-batch boundaries; exact-gap event " +
    "breaks; sentinel drains everything and is excluded") {
    val work = tempDir("graft-sess-spec").toString
    // gap = 10s. user 1: events at 0s, 8s (same session — second file!),
    // then 18s which is EXACTLY last+gap → session_window's [start,
    // last+gap) half-open end means 18s still MERGES (8+10=18 touches
    // the boundary; Spark merges on overlap-or-touch)… pin whatever the
    // native operator does via the batch twin below rather than assume.
    // user 2: one event — a singleton session.
    val sentinel = (99L, ns(100000), StreamSessions.SentinelUser, 0.0)
    stage(work, Seq(
      Seq((1L, ns(0), 1L, 1.25), (2L, ns(0), 2L, 7.0)),
      Seq((3L, ns(8), 1L, 2.5)),
      Seq((4L, ns(30), 1L, 4.0)),   // 30s ≫ 8+10 → new session
      Seq(sentinel)))
    val got = StreamSessions.sessionsAvailableNow(spark,
        s"$work/arrivals", schema, s"$work/out", s"$work/cp",
        gap = "10 seconds")
      .select("user_id", "start_ms", "end_ms", "n_events", "total_value")
      .as[(Long, Long, Long, Long, Double)].collect().toList

    // the batch twin on the same rows is the ground truth for the
    // native operator's merge rule (streamed ≡ batch, x201's contract)
    import org.apache.spark.sql.functions._
    val batch = Seq((1L, ns(0), 1L, 1.25), (2L, ns(0), 2L, 7.0),
        (3L, ns(8), 1L, 2.5), (4L, ns(30), 1L, 4.0))
      .toDF("event_id", "ts", "user_id", "value")
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("ts"), col("value"))
      .groupBy(col("user_id"),
        session_window(col("ts"), "10 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("tv"))
      .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"), col("n_events"),
        col("tv"))
      .as[(Long, Long, Long, Long, Double)].collect().toList

    assert(got.map(r => (r._1, r._2, r._3, r._4)).sorted ==
      batch.map(r => (r._1, r._2, r._3, r._4)).sorted,
      s"streamed sessions != batch twin: $got vs $batch")
    // values match through the ×10⁴ quantization round-trip
    assert(got.sortBy(r => (r._1, r._2)).map(_._5) ==
      batch.sortBy(r => (r._1, r._2)).map(_._5))
    // no sentinel row leaked
    assert(got.forall(_._1 != StreamSessions.SentinelUser))
    // user 1's two events 8s apart, split across arrival FILES, merged
    // into one session with the summed value
    val u1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(u1.head._4 == 2L && u1.head._5 == 3.75)
    // the 30s event opened a second user-1 session
    assert(u1.size == 2 && u1(1)._4 == 1L && u1(1)._5 == 4.0)
  }
}
