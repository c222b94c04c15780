package graft.pipeline

import graft.SparkSpec

class CurationJobSpec extends SparkSpec {

  test("curation pipeline: counts are a funnel, curated corpus is written") {
    val out = tempDir("graft-cur").toString
    val c = CurationJob.run(spark,
      "/root/testdata/sf0.001/documents.parquet",
      "/root/testdata/sf0.001/embeddings.parquet",
      s"$out/curated", minQuality = 0.3,
      rates = Map("en" -> 0.8), defaultRate = 0.5)
    // monotone funnel: each stage can only shrink the previous
    assert(c.input >= c.quality && c.quality >= c.keepers &&
      c.keepers >= c.sampled && c.sampled >= c.withEmbedding, c.toString)
    assert(c.sampled > 0, s"empty curated corpus: $c")
    val written = spark.read.parquet(s"$out/curated")
    assert(written.count() == c.sampled)
    // the curated schema carries text + predicted lang + quantized vector
    Seq("doc_id", "text", "lang_pred", "quality", "scale", "codes")
      .foreach(col => assert(written.columns.contains(col), col))
    // quantized vectors attached where an embedding existed
    assert(written.filter(written("codes").isNotNull).count() == c.withEmbedding)
  }
}
