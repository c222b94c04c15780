package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  test("overlapping token windows: starts, sizes, tail, empty docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only two"),
      (3L, "")
    ).toDF("doc_id", "text")
    val chunks = Chunking.tokenWindows(docs, "doc_id", "text",
      window = 4, stride = 3).orderBy("doc_id", "chunk_id").collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    // doc 1: starts 0,3,6,9 → sizes 4,4,4,1
    assert(byDoc(1L).map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq ==
      Seq((0, 0, 4L), (1, 3, 4L), (2, 6, 4L), (3, 9, 1L)))
    // doc 2: one window of 2 tokens
    assert(byDoc(2L).map(r => (r.getInt(1), r.getLong(3))).toSeq == Seq((0, 2L)))
    // empty doc: no chunks (and no descending-sequence garbage)
    assert(!byDoc.contains(3L))
    // chunk hash matches the joined slice
    val h = chunks.find(r => r.getLong(0) == 1L && r.getInt(1) == 3).get.getString(4)
    assert(h == org.apache.commons.codec.digest.DigestUtils.md5Hex("t10"))
  }

  test("sequence packing: contiguous fill per shard, spanning docs keep " +
    "their start offset") {
    // shard "en": docs of 3, 4, 6, 2 tokens into seqLen 8 →
    // starts 0, 3, 7, 13 → seq ids 0, 0, 0 (starts at 7, spans), 1
    // shard "de": one 9-token doc → start 0, seq 0 (spans into seq 1)
    val docs = Seq(
      (1L, "en", 3L), (2L, "en", 4L), (3L, "en", 6L), (4L, "en", 2L),
      (5L, "de", 9L)
    ).toDF("doc_id", "lang", "n_tok")
    val r = Chunking.packSequences(docs, "doc_id", "n_tok", "lang", 8)
      .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4))))
      .toMap
    assert(r == Map(1L -> ((0L, 0L)), 2L -> ((0L, 3L)), 3L -> ((0L, 7L)),
      4L -> ((1L, 5L)), 5L -> ((0L, 0L))))
    // duplicate doc_id within a shard would double-pack the same token
    // span — must fail loudly, not corrupt silently
    val dup = Seq((1L, "en", 3L), (1L, "en", 3L)).toDF("doc_id", "lang", "n_tok")
    val e = intercept[Exception] {
      Chunking.packSequences(dup, "doc_id", "n_tok", "lang", 8).collect()
    }
    assert(e.getMessage.contains("duplicate doc_id") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate doc_id")))
    // duplicate NULL ids are duplicates too: the guard must use
    // null-safe equality or this pair double-packs silently
    val nullDup = Seq((Option.empty[Long], "en", 3L),
      (Option.empty[Long], "en", 3L)).toDF("doc_id", "lang", "n_tok")
    val e2 = intercept[Exception] {
      Chunking.packSequences(nullDup, "doc_id", "n_tok", "lang", 8).collect()
    }
    assert(e2.getMessage.contains("duplicate doc_id") ||
      Option(e2.getCause).exists(_.getMessage.contains("duplicate doc_id")))
  }

  test("sentenceChunks: whole sentences only — chunk ids follow start " +
    "offsets, never mid-sentence cuts") {
    import spark.implicits._
    // sentences of 3, 3, 3, 10 tokens; budget 6
    val docs = Seq((1L,
      "one two three. four five six! seven eight nine? " +
        "a b c d e f g h i j.")).toDF("doc_id", "text")
    val got = Chunking.sentenceChunks(docs, "doc_id", "text", budget = 6)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // offsets: 0,3,6,9 → chunks 0,0,1,1 under the start-div model
    assert(got.toSeq == Seq((0L, 2L, 6L), (1L, 2L, 13L)), s"${got.toSeq}")
  }

  test("sentenceChunks: no terminal punctuation = one sentence; " +
    "empty docs emit nothing; layout independent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "no punctuation at all here"),
      (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val got = Chunking.sentenceChunks(docs, "doc_id", "text", budget = 3)
    // one unterminated sentence = ONE chunk holding all 5 tokens —
    // sentences never split, so a chunk may exceed the budget
    assert(got.count() == 1)
    val r = got.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(3) == 5L)
    val a = Chunking.sentenceChunks(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val b = Chunking.sentenceChunks(docs.repartition(5), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(a == b)
  }

  private def longText: String =
    (1 to 200).map(i => s"w${i * 7 % 97}x${i % 13}").mkString(" ")

  test("cdcChunks: chunks reconstruct the doc exactly; short docs are " +
    "one chunk; empty docs emit nothing") {
    import spark.implicits._
    val docs = Seq((1L, longText), (2L, "tiny"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Chunking.cdcChunks(docs, "doc_id", "text", w = 8, mask = 63)
    val perDoc = got.groupBy("doc_id")
      .agg(sum("chunk_len").as("chars"), count(lit(1)).as("n"),
        max("chunk_idx").as("mx"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(perDoc(1L)._1 == longText.length.toLong,
      "chunk lengths must tile the document")
    assert(perDoc(1L)._2 > 5, "a ~1400-char doc should split into chunks")
    assert(perDoc(1L)._3 == perDoc(1L)._2 - 1, "chunk_idx contiguous from 0")
    assert(perDoc(2L) == ((4L, 1L, 0L)), "short doc = single chunk")
    assert(!perDoc.contains(3L), "empty doc emits nothing")
  }

  test("cdcChunks: prefix-edit locality — inserting one char at the " +
    "head changes at most the chunks overlapping the edit") {
    import spark.implicits._
    val docs = Seq((1L, longText), (2L, "Z" + longText))
      .toDF("doc_id", "text")
    val h = Chunking.cdcChunks(docs, "doc_id", "text", w = 8, mask = 63)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("chunk_hash")).toSeq }
    // boundaries are functions of WINDOW CONTENT, so the shifted copy
    // re-finds every boundary after the edit: only the first chunk
    // (which absorbed the inserted char) may differ
    val lost = h(1L).diff(h(2L)) // multiset difference
    assert(lost.size <= 1,
      s"prefix edit must not re-chunk the tail (lost ${lost.size} chunks)")
    // fixed-stride chunking would lose EVERY chunk here; require the
    // overwhelming majority survive
    assert(h(1L).intersect(h(2L)).size >= h(1L).size - 1)
  }

  test("cdcChunkStats: dup mass of a cloned source is visible; " +
    "layout independent") {
    import spark.implicits._
    val docs = Seq(
      (1L, longText, "a"), (2L, longText, "a"), // full clone inside a
      (3L, longText.substring(100), "b"),       // content shared with a
      (4L, "unrelated content entirely", "b"))
      .toDF("doc_id", "text", "source")
    val r = Chunking.cdcChunkStats(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("dup_ratio"))).toMap
    assert(r("a")._3 >= 0.5, "a cloned doc halves the distinct ratio")
    assert(r("a")._2 <= r("a")._1 / 2 + 1)
    val again = Chunking.cdcChunkStats(docs.repartition(7), "doc_id",
      "text", "source").collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSet
    assert(again == r.map { case (k, v) => (k, v._1, v._2) }.toSet)
  }

  test("cdcChunks: supplementary-plane characters count as ONE position " +
    "(codepoints, not UTF-16 units) and still tile exactly") {
    import spark.implicits._
    // astral chars (4 UTF-8 bytes, 2 UTF-16 units) interleaved with
    // ascii: boundary positions, chunk lengths and the substring math
    // must all agree on the CODEPOINT metric Spark's length() uses
    val astral = (1 to 60).map(i => s"w$i😀x").mkString(" ")
    val docs = Seq((1L, astral)).toDF("doc_id", "text")
    val got = Chunking.cdcChunks(docs, "doc_id", "text", w = 8, mask = 15)
      .agg(sum("chunk_len"), count(lit(1))).head()
    val cpLen = astral.codePointCount(0, astral.length).toLong
    assert(got.getLong(0) == cpLen,
      s"chunk lengths must sum to the codepoint count $cpLen")
    assert(got.getLong(1) > 1, "mask 15 must split a ~360-cp doc")
    // layout independence with the astral payload
    val a = Chunking.cdcChunks(docs, "doc_id", "text", 8, 15)
      .collect().map(_.getAs[Long]("chunk_hash")).sorted.toSeq
    val b = Chunking.cdcChunks(docs.repartition(3), "doc_id", "text", 8, 15)
      .collect().map(_.getAs[Long]("chunk_hash")).sorted.toSeq
    assert(a == b)
  }

  test("cdc store: novelty curve attributes first-seen to the earliest " +
    "batch; a redelivered batch is a no-op") {
    import spark.implicits._
    val store = tempDir("graft-cdc-spec").toString + "/ledger"
    val b0 = Seq((1L, longText)).toDF("doc_id", "text")
    // batch 1 re-ships batch 0's content under a new id plus one
    // genuinely new doc — its novelty must count only the new doc
    val b1 = Seq((2L, longText), (3L, longText.reverse))
      .toDF("doc_id", "text")
    Chunking.appendCdcChunks(spark, store, b0, "doc_id", "text", 0L)
    Chunking.appendCdcChunks(spark, store, b1, "doc_id", "text", 1L)
    val r = Chunking.cdcStoreReport(spark, store)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(r(0L)._3 == r(0L)._2, "first batch: everything is novel")
    assert(r(1L)._3 < r(1L)._2,
      "re-shipped content must not count as novel")
    assert(r(1L)._3 > 0L, "the reversed doc brings new chunks")
    // redelivery: same batch upserts the same keyed rows — no change
    Chunking.appendCdcChunks(spark, store, b1, "doc_id", "text", 1L)
    val again = Chunking.cdcStoreReport(spark, store)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == r)
  }

  test("cdc store: the grouped append converges to exactly the " +
    "sequential appends' state, one publish instead of N") {
    import spark.implicits._
    val base = tempDir("graft-cdc-multi").toString
    val b0 = Seq((1L, longText), (2L, "tiny doc here")).toDF("doc_id", "text")
    // batch 1 REDELIVERS doc 1 (same bytes — the ledger's contract)
    // alongside new content: the overlap exercises the in-group LWW
    val b1 = Seq((1L, longText), (3L, longText.reverse))
      .toDF("doc_id", "text")
    val batches = Seq(0L -> b0, 1L -> b1)
    batches.foreach { case (tag, b) =>
      Chunking.appendCdcChunks(spark, s"$base/seq", b, "doc_id", "text", tag)
    }
    Chunking.appendCdcChunksBatches(spark, s"$base/multi", batches,
      "doc_id", "text")
    def rows(p: String) = MergeUpsert.readPlain(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(rows(s"$base/multi") == rows(s"$base/seq"),
      "grouped and sequential ledgers must be row-identical " +
        "(including the redelivered doc's winning batch tag)")
    // exactly ONE published version: the round-trip saving is the point
    assert(MergeUpsert.retainedVersions(spark, s"$base/multi").size == 1)
  }

  test("cdcChunks: a carry column named like a reserved " +
    "output/intermediate is refused loudly, not silently shadowed") {
    import spark.implicits._
    val df = Seq((1L, "some text", "x"))
      .toDF("doc_id", "text", "start_")
    val err = intercept[IllegalArgumentException] {
      Chunking.cdcChunks(df, "doc_id", "text", carryCols = Seq("start_"))
    }
    assert(err.getMessage.contains("start_"))
  }
}
