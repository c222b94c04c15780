package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regressions from the round-1 code review. */
class RegressionSpec extends SparkSpec {
  import spark.implicits._

  test("resizePooled: zero-byte payloads are absent, not a job crash") {
    val docs = Seq((1L, ""), (2L, "abcdefghijklmnop")).toDF("doc_id", "text")
    val out = Multimodal.resizePooled(
      Multimodal.withPayload(docs, "doc_id", "text"), outLen = 8)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L))
    assert(out.filter($"doc_id" === 2L)
      .select(size($"pooled")).head().getInt(0) == 8)
  }

  test("resizePooled: payloads shorter than outLen pool sparsely, no crash") {
    // n in 2..7 with outLen=8 used to throw AIOOBE (pool id i*8/n >= n)
    val docs = (2L to 7L).map(n => (n, "a" * n.toInt)).toDF("doc_id", "text")
    val out = Multimodal.resizePooled(
      Multimodal.withPayload(docs, "doc_id", "text"), outLen = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (2L to 7L).foreach { n =>
      assert(out(n).length == n, s"n=$n: one pool per byte when n < outLen")
      assert(out(n).forall(_ == 97.0), s"n=$n: all-'a' payload pools to 97")
    }
  }

  test("sampleFrames: payload shorter than stride yields zero frames") {
    val docs = Seq((1L, "abc"), (2L, "a" * 25)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
      Multimodal.withPayload(docs, "doc_id", "text"), stride = 10)
    assert(frames.filter($"doc_id" === 1L).count() == 0)
    assert(frames.filter($"doc_id" === 2L).count() == 2)
  }

  test("empty documents: minhash drops them, decodeFeatures means 0.0 " +
    "(the contract the oracle SQL mirrors)") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "three word doc here"))
      .toDF("doc_id", "text")
    // WordShingles on empty/whitespace-only text is an empty array, so
    // the doc has no signature and can never pair
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 8)
      .select("doc_id_").as[Long].collect().toSet
    assert(sigs == Set(3L))
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
    assert(pairs.isEmpty)
    val mean = Multimodal.decodeFeatures(
      Multimodal.withPayload(docs.filter($"doc_id" === 1L), "doc_id", "text"))
      .toDF().select("mean_intensity").as[Double].head()
    assert(mean == 0.0)
  }

  test("ingest: across files, the lexically-later file wins duplicate keys " +
    "regardless of split layout") {
    val base = tempDir("graft-reg-mf").toString
    val hdr = "date,state,inpatient_beds,inpatient_beds_used," +
      "total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy"
    // the same (date, region) key in two files; file b is much smaller,
    // so size-ordered bin-packing reads it FIRST — the (file, pos)
    // priority must still pick it as the winner
    val rowsA = (1 to 200).map(i => s"2024-02-${i % 9 + 10},Pad$i,10,5,2,1")
      .mkString("\n")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$base/in"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/in/a_batch.csv"),
      s"$hdr\n2024-01-15,California,50000,40000,5000,4000\n$rowsA\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/in/b_batch.csv"),
      s"$hdr\n2024-01-15,California,50000,43000,5000,4800\n")
    graft.pipeline.IngestJob.run(spark, s"$base/in", s"$base/cap",
      s"$base/reg", s"$base/rej", s"$base/runs", "r1", "test",
      ts("2024-01-16 00:00:00"))
    val ca = spark.read.parquet(s"$base/cap")
      .filter($"date" === lit(java.sql.Date.valueOf("2024-01-15")))
      .join(spark.read.parquet(s"$base/reg"), Seq("region_id"))
      .filter($"name" === "California")
      .select("occupied_beds").as[Int].collect()
    assert(ca.toSeq == Seq(43000), "row from the later-named file must win")
  }

  test("ingest: in-batch duplicate key keeps the LAST file row (reference order)") {
    val base = tempDir("graft-reg").toString
    val csv =
      """date,state,inpatient_beds,inpatient_beds_used,total_staffed_adult_icu_beds,staffed_adult_icu_bed_occupancy
        |2024-01-15,California,50000,40000,5000,4000
        |2024-01-15,California,50000,42000,5000,4800
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/in.csv"), csv)
    graft.pipeline.IngestJob.run(spark, s"$base/in.csv", s"$base/cap",
      s"$base/reg", s"$base/rej", s"$base/runs", "r1", "test",
      ts("2024-01-16 00:00:00"))
    val rows = spark.read.parquet(s"$base/cap")
      .select("occupied_beds").as[Int].collect()
    assert(rows.toSeq == Seq(42000), "last row in file order must win")
  }

  test("bestCoverage on empty qualifying set returns zero rows, not NULL row") {
    val metrics = Seq(("2024-01-15", "CA")).toDF("date_s", "region_id")
      .withColumn("date", to_date($"date_s")).drop("date_s")
    assert(graft.pipeline.QueryLayer.bestCoverage(metrics, minRows = 99).count() == 0)
  }

  test("simhash bucket cap drops oversized buckets") {
    // 20 identical docs → every block bucket has 20 members; cap at 5
    // removes all candidates
    val docs = (1L to 20L).map(i => (i, "same words in every doc"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 2, maxBucket = 5)
    assert(capped.count() == 0)
    val uncapped = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 2, maxBucket = 10000)
    assert(uncapped.count() == 190) // 20 choose 2
  }
}
