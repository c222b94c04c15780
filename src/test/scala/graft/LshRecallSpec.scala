package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** x121's recall harness on a planted corpus: verbatim replicas have
  * word-shingle Jaccard 1.0, and identical signatures collide in every
  * band — the index can never miss them, so recall is exactly 1.0 and
  * the truth count is the replica-pair count.
  *
  * Round 13: the CATALOG form samples the truth side
  * (h60("recall:"+id) % 4 == 0 — VERDICT r12 item 1a), so the planted
  * replicas here are placed at ids that fall IN the sample (computed
  * with the same hash, not guessed). The full-truth (sampleMod = 1)
  * form — the verification harness that is deliberately NOT a bench
  * row — is pinned directly below, and the sampled form is asserted
  * consistent with it (same truth pairs when every replica is
  * sampled; hits bounded both ways). */
class LshRecallSpec extends SparkSpec {

  import spark.implicits._

  /** JVM mirror of TextFunctions.md5Hash60 (first 15 md5 hex chars as
    * a 60-bit long). */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def inSample(id: Long): Boolean = h60(s"recall:$id") % 4 == 0

  /** Three replica ids that the deterministic doc sample keeps. */
  private lazy val replicaIds: Seq[Long] =
    Iterator.iterate(200L)(_ + 1).filter(inSample).take(3).toSeq

  private lazy val fixtureDir: String = {
    val dir = tempDir("graft-recall").toString
    val distinct = (1 to 40).map { i =>
      (100000L + i, s"unique document number $i with entirely distinct " +
        s"content about topic-$i covering subject-$i matter-$i " +
        s"theme-$i angle-$i facet-$i aspect-$i detail-$i point-$i", "en")
    }
    val replicas = replicaIds.map { id =>
      (id, "the exact same replicated document body repeated " +
        "verbatim across three ids with enough words to shingle " +
        "properly and survive banding end to end", "en")
    }
    (distinct ++ replicas).toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def docs = spark.read.parquet(s"$fixtureDir/documents.parquet")

  test("catalog (sampled) form: in-sample replicas -> 3 truth pairs, recall 1.0") {
    assert(replicaIds.forall(inSample))
    val row = SparkEntry.queries("x121_lsh_recall")(spark, fixtureDir).head
    val (nTruth, nCand, nHit) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nTruth == 3L, s"3 in-sample replicas -> 3 truth pairs, got $nTruth")
    assert(nHit == nTruth, "identical docs collide in every band")
    assert(nHit <= nCand)
    assert(row.getDouble(3) == 1.0)
  }

  test("full-truth form (spec-only harness): same ground truth, recall 1.0") {
    val row = Dedup.lshRecall(docs, "doc_id", "text", blockCol = "lang").head
    val (nTruth, nHit) = (row.getLong(0), row.getLong(2))
    assert(nTruth == 3L)
    assert(nHit == 3L)
    assert(row.getDouble(3) == 1.0)
  }

  test("sampled truth = full truth restricted to the sample") {
    // On this corpus every truth pair is replica×replica and all
    // replicas are in-sample, so sampled n_truth == full n_truth; on
    // a corpus where the sample drops a replica, sampled truth must
    // shrink accordingly — plant one out-of-sample replica and check.
    val outId = Iterator.iterate(300L)(_ + 1).filterNot(inSample).take(1).toSeq.head
    val extra = Seq((outId, "the exact same replicated document body repeated " +
      "verbatim across three ids with enough words to shingle " +
      "properly and survive banding end to end", "en"))
      .toDF("doc_id", "text", "lang")
    val aug = docs.unionByName(extra)
    val full = Dedup.lshRecall(aug, "doc_id", "text", blockCol = "lang").head
    val sampled = Dedup.lshRecall(aug, "doc_id", "text", blockCol = "lang",
      sampleMod = 4).head
    assert(full.getLong(0) == 6L, "4 replicas -> C(4,2) = 6 full truth pairs")
    assert(sampled.getLong(0) == 3L,
      "the out-of-sample replica's pairs leave the sampled truth")
    assert(sampled.getDouble(3) == 1.0)
  }

  test("driver corpus: invariants hold and recall is defined") {
    val row = SparkEntry
      .queries("x121_lsh_recall")(spark, "/root/testdata/sf0.001").head
    val (nTruth, nCand, nHit) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nHit <= nTruth && nHit <= nCand)
    if (nTruth > 0) {
      val r = row.getDouble(3)
      assert(r >= 0.0 && r <= 1.0)
    } else assert(row.isNullAt(3))
  }
}
