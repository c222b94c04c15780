package graft.streaming

import graft.SparkSpec
import graft.operators.Scd2

class StreamScd2Spec extends SparkSpec {
  import spark.implicits._

  private def store() = tempDir("graft-scd2-stream").toString + "/hist"

  private def hist(path: String) =
    StreamScd2.readHistory(spark, path)
      .select("key", "status", "valid_from", "valid_to", "is_current")
      .orderBy("key", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4)))
      .toSeq

  test("incremental applies equal the batch operator; runs re-merge across boundaries") {
    val all = Seq(
      (1L, 1, "A"), (1L, 2, "A"), (1L, 3, "B"),
      (1L, 4, "B"), (1L, 5, "A"), (2L, 4, "X"))
    val p = store()
    // batch 0 = times 1-2, batch 1 = 3, batch 2 = 4-5: the A-run spans
    // the 0/1 boundary unchanged-then-changed; the B-run spans 1/2
    Seq(0L -> all.filter(_._2 <= 2), 1L -> all.filter(_._2 == 3),
      2L -> all.filter(_._2 >= 4)).foreach { case (id, rows) =>
      StreamScd2.applyBatch(spark, p, rows.toDF("key", "batch", "status"),
        "key", "batch", Seq("status"), id)
    }
    val expect = Scd2.history(all.toDF("key", "batch", "status"),
        "key", "batch", Seq("status"))
      .select("key", "status", "valid_from", "valid_to", "is_current")
      .orderBy("key", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4))).toSeq
    assert(hist(p) == expect)
    // spot-check the cross-boundary merge: one A interval [1,3), one
    // B interval [3,5), one current A
    assert(hist(p).filter(_._1 == 1L) == Seq(
      (1L, "A", 1, 3, false), (1L, "B", 3, 5, false), (1L, "A", 5, -1, true)))
  }

  test("redelivered batch is a no-op; watermark rides the publish") {
    val p = store()
    val b0 = Seq((1L, 1, "A")).toDF("key", "batch", "status")
    val b1 = Seq((1L, 2, "B")).toDF("key", "batch", "status")
    StreamScd2.applyBatch(spark, p, b0, "key", "batch", Seq("status"), 0L)
    StreamScd2.applyBatch(spark, p, b1, "key", "batch", Seq("status"), 1L)
    val once = hist(p)
    assert(StreamScd2.lastApplied(spark, p).contains(1L))
    // redeliver both — nothing may change (double-apply would close
    // and reopen intervals)
    StreamScd2.applyBatch(spark, p, b1, "key", "batch", Seq("status"), 1L)
    StreamScd2.applyBatch(spark, p, b0, "key", "batch", Seq("status"), 0L)
    assert(hist(p) == once)
  }

  test("same-timestamp re-observation: the newer batch's attrs win deterministically") {
    val p = store()
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 5, "A")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 0L)
    // batch 1 re-observes key 1 at the SAME snapshot time with a new
    // value — without the anti-join this is two run starts at one
    // (key, valid_from) and a nondeterministic merge
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 5, "B")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 1L)
    assert(hist(p) == Seq((1L, "B", 5, -1, true)))
  }

  test("empty batch applies harmlessly and later batches still apply") {
    val p = store()
    val empty = Seq.empty[(Long, Int, String)].toDF("key", "batch", "status")
    StreamScd2.applyBatch(spark, p, empty, "key", "batch", Seq("status"), 0L)
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 1, "A")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 1L)
    assert(hist(p) == Seq((1L, "A", 1, -1, true)))
  }

  test("interval provenance: surviving intervals keep their creating batch id") {
    val p = store()
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 1, "A")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 0L)
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 5, "B")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 1L)
    val tags = StreamScd2.readHistory(spark, p)
      .select("valid_from", StreamScd2.BatchCol)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(tags == Map(1 -> 0L, 5 -> 1L))
  }

  test("interval provenance: a same-(key, valid_from) correction is " +
    "attributed to the correcting batch, unchanged intervals keep theirs") {
    val p = store()
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 1, "A"), (2L, 1, "X")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 0L)
    // batch 1 re-observes key 1 at the SAME valid_from with changed
    // attrs: the recreated interval's contents come from batch 1, so
    // its _batch_id must say so; key 2's untouched interval keeps 0
    StreamScd2.applyBatch(spark, p,
      Seq((1L, 1, "B")).toDF("key", "batch", "status"),
      "key", "batch", Seq("status"), 1L)
    val tags = StreamScd2.readHistory(spark, p)
      .select("key", StreamScd2.BatchCol)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tags == Map(1L -> 1L, 2L -> 0L),
      "corrected interval must carry the correcting batch's id")
  }
}
