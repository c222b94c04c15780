package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

// top-level: Spark can't derive an Encoder for a class nested in the
// spec instance
case class StreamDedupEv(event_id: Long, ts: Timestamp, value: Double)

class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, sec: Long, v: Double) =
    StreamDedupEv(id, new Timestamp((1000 + sec) * 1000), v)

  test("redelivered events within the watermark dedup to one, " +
    "even with re-stamped timestamps") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamDedupEv]
    val deduped = StreamDedup.dedupWithinWatermark(
      input.toDF(), "ts", "30 seconds", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(ev(1, 0, 1.0), ev(2, 5, 2.0))
      q.processAllAvailable()
      // batch 2: event 1 redelivered with a RE-STAMPED ts (+3 s) — a
      // (key, ts) dropDuplicates would pass it; within-watermark dedup
      // must not. event 3 is genuinely new.
      input.addData(ev(1, 3, 1.0), ev(3, 8, 3.0))
      q.processAllAvailable()
      val got = spark.table("sdedup")
        .select($"event_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 2L, 3L), got.mkString(","))
    } finally q.stop()
  }

  test("batch frame degrades to whole-history dropDuplicates (backfill path)") {
    val batch = Seq(ev(1, 0, 1.0), ev(1, 3, 1.0), ev(2, 5, 2.0)).toDF()
    val got = StreamDedup.dedupWithinWatermark(batch, "ts", "30 seconds",
      Seq("event_id")).select($"event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  // ---- dedupeAvailableNow (file-drain) contract ----

  private val fileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.LongType)))

  // Base all event times well past epoch 0: the initial watermark is
  // 0 ms, and rows at-or-below the watermark are dropped as late, so a
  // ts=0 test event dies on arrival — a degenerate boundary no real
  // stream sits on.
  private val baseMs = 1000000000L
  private def ns(ms: Long): Long = (baseMs + ms) * 1000000L

  private def writeArrival(dir: String, name: String,
                           rows: Seq[(Long, Long)]): Unit = {
    val stage = s"$dir/stage-$name"
    rows.toDF("event_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val src = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(s"$dir/arrivals/$name.parquet"))
  }

  private def mkWork(prefix: String): String = {
    val work = tempDir(prefix).toString
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$work/arrivals"))
    work
  }

  test("restarted drain with the same checkpoint re-emits nothing") {
    val work = mkWork("graft-sdedup-restart")
    writeArrival(work, "f0", Seq((1L, ns(0)), (2L, ns(100))))
    def drain() = StreamDedup.dedupeAvailableNow(spark, s"$work/arrivals",
      fileSchema, "event_id", "ts", s"$work/out", s"$work/cp",
      watermarkDelay = "1 hour")
    drain()
    // second drain: a redelivery of event 1 plus a genuinely-new event.
    // Old output must not duplicate; the redelivery dies against the
    // CHECKPOINTED dedup state (cross-drain, not just cross-batch).
    writeArrival(work, "f1", Seq((1L, ns(0)), (3L, ns(200))))
    drain()
    val got = StreamDedup.readDeduped(spark, s"$work/out")
      .select($"event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L), got.mkString(","))
  }

  test("beyond-horizon contract pinned: late dup dropped, re-stamped dup re-admitted") {
    // the documented flip side of bounded state: once the watermark
    // passes a key's event time + delay, the key is GONE from state.
    // A duplicate arriving after that is either (a) carrying its
    // original old timestamp → below the watermark → late-DROPPED
    // (output stays deduped, by luck of the late filter, not by state),
    // or (b) re-stamped fresh → indistinguishable from a new event →
    // RE-ADMITTED. Both paths pinned here so the scaladoc's "MAY pass"
    // has one observed meaning per path.
    val work = mkWork("graft-sdedup-horizon")
    // f0: event 1 @0s, event 2 @100s → watermark after f0 ≈ 99s,
    // evicting key 1 (expiry 0s+1s) well before f1 processes
    writeArrival(work, "f0", Seq((1L, ns(0)), (2L, ns(100000))))
    // f1: dup of event 1 at its ORIGINAL ts (now far below watermark)
    writeArrival(work, "f1", Seq((1L, ns(0))))
    // f2: dup of event 1 RE-STAMPED beyond the horizon
    writeArrival(work, "f2", Seq((1L, ns(101000))))
    StreamDedup.dedupeAvailableNow(spark, s"$work/arrivals", fileSchema,
      "event_id", "ts", s"$work/out", s"$work/cp",
      watermarkDelay = "1 second")
    val got = StreamDedup.readDeduped(spark, s"$work/out")
      .groupBy("event_id").count()
      .as[(Long, Long)].collect().toMap
    assert(got(2L) == 1L)
    assert(got(1L) == 2L,
      s"expected original + re-stamped dup (late dup dropped), got $got")
  }

  test("dedup state evicts as the watermark advances (bounded, not O(keys))") {
    val work = mkWork("graft-sdedup-evict")
    // 6 single-event files, one per minute; delay 2 s → each file's key
    // is evictable as soon as the next file moves the watermark
    (0 until 6).foreach { m =>
      writeArrival(work, f"f$m%02d", Seq((m.toLong, ns(m * 60000L))))
    }
    val q = StreamDedup.dedupeAvailableNow(spark, s"$work/arrivals",
      fileSchema, "event_id", "ts", s"$work/out", s"$work/cp",
      watermarkDelay = "2 seconds")
    assert(StreamDedup.readDeduped(spark, s"$work/out").count() == 6)
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows > 0 && stateRows <= 2,
      s"6 keys ingested but state must hold only the horizon, got $stateRows")
  }
}
