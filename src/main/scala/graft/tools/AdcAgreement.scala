package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** rescoreK-sizing measurement for [[graft.operators.Similarity
  * .ivfProbePostingsAdc]]: builds the IVF index + PQ codebooks over
  * the given corpus, runs the exact single-stage probe and the
  * two-stage ADC probe across a rescoreK sweep, and reports row-set
  * agreement per setting — the MEASUREMENT behind the two-stage
  * contract ("exactness holds iff ADC's top-rescoreK contains the
  * exact top-k; size it by measured agreement").
  *
  * On the driver's synthetic embeddings this tool documents a NEGATIVE
  * result worth stating precisely: the vectors are near-isotropic
  * (effectively random directions), so an m=4/k=8 product quantizer
  * retains almost none of the dot product's variance and the ADC rank
  * is uninformative — agreement stays far below 100% until rescoreK
  * approaches the whole candidate set, at which point the two-stage
  * read saves nothing. PQ shortlists earn their keep only on
  * CLUSTERABLE embeddings (real text/image encoders), which is why the
  * x235 production margin path stays single-stage exact on this
  * corpus; SimilaritySpec proves the two-stage path exact on clustered
  * vectors where the quantizer has structure to exploit.
  *
  * `runMain graft.tools.AdcAgreement <sfDir> [rescoreKs...]` */
object AdcAgreement {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdcAgreement <sfDir> [rescoreKs...]")
    val dir = args(0)
    val sweeps: Seq[Int] =
      if (args.length > 1) args.drop(1).map(_.toInt).toIndexedSeq
      else Seq(16, 32, 64, 128, 256)
    val spark = graft.Sessions.local("32", "32")
    import graft.operators.{MergeUpsert, Similarity}

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bSide = emb.filter(col("label") % 2 === 1)
    val aSide = emb.filter(col("label") % 2 === 0)
    val k = 8
    val kCents = math.max(16, (math.sqrt(bSide.count().toDouble) / 2).toInt)
    val work = java.nio.file.Files.createTempDirectory("graft-adc").toString
    MergeUpsert.publishPlain(spark, s"$work/cent", Similarity.kmeansCentroids(
      bSide, "vec_id", "embedding", k = kCents, iters = 2))
    val cents = MergeUpsert.readPlain(spark, s"$work/cent")
    Similarity.appendIvfPostings(spark, s"$work/post", bSide,
      "vec_id", "embedding", cents)
    val postings = MergeUpsert.readPlain(spark, s"$work/post")
    MergeUpsert.publishPlain(spark, s"$work/book", Similarity.pqCodebooks(
      bSide, "vec_id", "embedding", m = 4, k = 8, iters = 1))
    val books = MergeUpsert.readPlain(spark, s"$work/book")
    val coded = postings.join(
      Similarity.pqCodesWith(bSide, "vec_id", "embedding", books, m = 4)
        .withColumnRenamed("vec_id", "eid"), "eid")
      .localCheckpoint()

    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("qid", "eid", "sim").collect()
        .map(_.toSeq.toIndexedSeq: Seq[Any]).toSet

    var t0 = System.nanoTime()
    val exact = rows(Similarity.ivfProbePostings(aSide, "vec_id",
      "embedding", postings, k = k, cents, nProbe = 2))
    val tExact = (System.nanoTime() - t0) / 1e9
    println(f"[adc] $dir exact probe: ${exact.size} rows $tExact%.2f s " +
      s"(kCents=$kCents)")
    sweeps.foreach { r =>
      t0 = System.nanoTime()
      val adc = rows(Similarity.ivfProbePostingsAdc(aSide, "vec_id",
        "embedding", coded, k = k, cents, books, m = 4, nProbe = 2,
        rescoreK = r))
      val t = (System.nanoTime() - t0) / 1e9
      val agree = (exact intersect adc).size
      println(f"[adc] rescoreK=$r%4d: agreement $agree/${exact.size} " +
        f"(${100.0 * agree / math.max(1, exact.size)}%.1f%%)  $t%.2f s")
    }
    spark.stop()
  }
}
