package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("x38 invariant: union of per-append candidates == from-scratch " +
    "LSH on the union corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val store = tempDir("graft-incd").toString + "/sigs"
    val emissions = (0 until 3).map { k =>
      val batch = docs.filter(col("doc_id") % 3 === k)
      // materialize each emission before the next append shifts the
      // store (the documented consumption contract)
      IncrementalDedup
        .appendBatch(spark, store, batch, "doc_id", "text")
        .localCheckpoint()
    }
    val incremental = emissions.map(pairSet).reduce(_ union _)
    val scratch = pairSet(Dedup.minhashLsh(docs, "doc_id", "text"))
    assert(incremental == scratch,
      s"incremental ${incremental.size} pairs vs from-scratch ${scratch.size}")
    // the store holds one signature row per shingled doc
    val nSigs = IncrementalDedup.signatures(spark, store).count()
    val nShingled = Dedup
      .minhashSignatures(docs, "doc_id", "text", 32).count()
    assert(nSigs == nShingled)
  }

  test("re-appending a batch is idempotent on the store and re-emits " +
    "only that batch's pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val store = tempDir("graft-incd2").toString + "/sigs"
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    val e0 = pairSet(IncrementalDedup
      .appendBatch(spark, store, b0, "doc_id", "text").localCheckpoint())
    val e1 = pairSet(IncrementalDedup
      .appendBatch(spark, store, b1, "doc_id", "text").localCheckpoint())
    val before = IncrementalDedup.signatures(spark, store).count()
    // redelivery of b1 (at-least-once source): store unchanged, and the
    // re-emission is exactly the pairs involving b1 — a (id_a, id_b)-
    // keyed consumer absorbs it
    val again = pairSet(IncrementalDedup
      .appendBatch(spark, store, b1, "doc_id", "text").localCheckpoint())
    assert(IncrementalDedup.signatures(spark, store).count() == before)
    assert(again == e1)
    assert((e0 union e1) == pairSet(Dedup.minhashLsh(docs, "doc_id", "text")))
  }

  test("x41 invariant: exact-dup report over appends == from-scratch " +
    "exact dedup, and redelivery does not double-count") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val store = tempDir("graft-ince").toString + "/hashes"
    def rep(df: org.apache.spark.sql.DataFrame) =
      df.select("text_hash", "keep_id", "n_copies").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    (0 until 3).foreach { k =>
      IncrementalDedup.appendExact(spark, store,
        docs.filter(col("doc_id") % 3 === k), "doc_id", "text").count()
    }
    val scratch = rep(Dedup.exact(docs, "doc_id", "text"))
    assert(rep(IncrementalDedup.exactReport(spark, store)) == scratch)
    // redeliver batch 1 (at-least-once): the doc-keyed store absorbs it
    IncrementalDedup.appendExact(spark, store,
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text").count()
    assert(rep(IncrementalDedup.exactReport(spark, store)) == scratch,
      "an aggregated store would double-count here; the keyed one must not")
  }

  test("store growth is bounded: version retention holds across appends") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val store = tempDir("graft-incd3").toString + "/sigs"
    for (k <- 0 until 4)
      IncrementalDedup.appendBatch(spark, store, docs
        .filter(col("doc_id") % 4 === k), "doc_id", "text").count()
    val versionDirs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("v-"))
    assert(versionDirs.length <= 2,
      s"default retention keeps live + 1 superseded, got ${versionDirs.toSeq}")
  }
}
