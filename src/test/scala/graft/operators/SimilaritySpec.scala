package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k: self-similarity ranks first at 1.0") {
    val top = Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", k = 5)
    val firsts = top.filter($"rn" === 1)
      .select("qid", "eid", "sim").collect()
    assert(firsts.forall(r => r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0))
  }

  test("LSH ANN: recall@10 vs brute force is usable and self is found") {
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", 10, planes = 4)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // sign-LSH on near-orthogonal RANDOM vectors is the adversarial
    // case (top-10 neighbors barely beat chance-angle); 4 planes +
    // multiprobe-1 probes ~5/16 of the corpus and should comfortably
    // beat that fraction. Real corpora with true near-dups do far
    // better (see the planted-duplicate test below).
    assert(recall > 0.35, s"recall=$recall")
    assert(approx.forall { case (qid, _) => true } &&
      (0L until 10L).forall(i => approx.contains((i, i))), "self must be found")
  }

  test("IVF ANN: self found, recall comparable to probing fraction") {
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 10,
      nCentroids = 8, nProbe = 2)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    assert((0L until 10L).forall(i => ivf.contains((i, i))), "self must be found")
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall") // ~2/8 of corpus probed
  }

  test("IVF ANN: trained k-means centroids don't lose recall vs untrained seeds") {
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    def recallAt(iters: Int) = {
      val got = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 10,
        nCentroids = 8, nProbe = 2, kmeansIters = iters)
        .select($"qid", $"eid").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val untrained = recallAt(0)
    val trained = recallAt(2)
    // Lloyd steps balance the inverted lists toward the data's density;
    // on this corpus that must not COST recall at equal nProbe
    assert(trained >= untrained, s"trained=$trained untrained=$untrained")
  }

  test("embedding near-dup finds a planted duplicate vector") {
    val base = emb.limit(50)
    val dup = base.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(99999L))
    val r = Similarity.embeddingNearDup(base.unionByName(dup),
      "vec_id", "embedding", threshold = 0.999, planes = 4)
    val pairs = r.select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.contains((0L, 99999L)))
  }

  test("int8 quantization: codes bounded, reconstruction tight, top-k preserved") {
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val stats = q.select(
      array_max(transform($"codes", c => abs(c))).as("cmax"),
      aggregate(zip_with($"v",
          Similarity.dequantizeInt8($"codes", $"scale"),
          (a, b) => abs(a.cast("double") - b)), lit(0.0),
        (acc, x) => greatest(acc, x)).as("maxerr"),
      $"scale")
    // codes within int8 range; per-element error ≤ scale/2 by construction
    assert(stats.filter($"cmax" > 127).isEmpty)
    assert(stats.filter($"maxerr" > $"scale" * 0.5 + 1e-12).isEmpty)
    // exact top-k on DEQUANTIZED vectors ≈ top-k on originals
    val dq = q.select($"vec_id",
      Similarity.dequantizeInt8($"codes", $"scale").as("embedding"))
    val exact = Similarity.bruteForceTopK(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding", 10)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    val approx = Similarity.bruteForceTopK(
        dq.filter($"vec_id" < 10), dq, "vec_id", "embedding", 10)
      .select($"qid", $"eid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall — int8 must not break ranking")
  }

  test("pq codes: complete, layout-independent, equal vectors share codes") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val codes = Similarity.pqCodes(emb, "vec_id", "embedding", m = 4, k = 4)
    val rows = codes.collect()
    assert(rows.length == emb.count())
    assert(codes.columns.toSeq ==
      Seq("vec_id", "code0", "code1", "code2", "code3"))
    // a duplicated vector under a fresh id must code identically
    val dup = emb.limit(1).select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val withDup = emb.unionByName(dup)
    val m2 = Similarity.pqCodes(withDup, "vec_id", "embedding", m = 4, k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val origId = emb.limit(1).select("vec_id").head().getLong(0)
    assert(m2(origId + 1000000L) == m2(origId))
    // layout independence
    val m3 = Similarity.pqCodes(emb.repartition(7), "vec_id", "embedding",
      m = 4, k = 4).collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val m1 = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m1 == m3)
  }

  test("pq ADC top-k: k rows per query, far above chance on 500 vectors") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    val adc = Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.length == 50)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("qid", "eid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = adc.count(exact.contains).toDouble / exact.size
    // unstructured random vectors are PQ's worst case (no cluster
    // structure to exploit) — the floor guards against a broken
    // LUT/code join, where recall collapses to chance (10/500 = 0.02)
    assert(recall >= 0.1, s"ADC recall=$recall (chance = 0.02)")
  }

  test("ivf+pq: gated candidate set is a subset of flat ADC; recall above chance") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    val ivfpq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivfpq.length == 50, "k rows per query")
    // the IVF gate only RESTRICTS the ADC candidate set: any (q, e)
    // hit must score identically in the flat pqTopK run — verify via
    // the larger flat result's containment on the same-probe pairs is
    // not directly comparable, so assert the cheaper invariant: every
    // returned eid shares the query's probed coarse lists (true by
    // construction) and recall vs exact beats chance
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("qid", "eid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = ivfpq.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.05, s"recall=$recall (chance ~ 10/500 = 0.02)")
  }

  test("semDedup: planted scaled copies drop, originals keep, clusters bound pairs") {
    val base = emb.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val planted = base.select(($"vec_id" + 1000000000000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.02)).as("embedding"))
    val out = Similarity.semDedup(base.unionByName(planted),
      "vec_id", "embedding", nClusters = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = base.count()
    assert(out.length == 2 * n, "every input vector is labeled")
    // every planted copy has its original at smaller id with cosine 1.0
    // in the SAME cluster (cosine is scale-invariant) → dropped
    assert(out.filter(_._1 >= 1000000000000L).forall(!_._3), "copies drop")
    // near-orthogonal originals never reach 0.95 → all kept
    assert(out.filter(_._1 < 1000000000000L).forall(_._3), "originals keep")
    // copy and original share a cluster
    val cid = out.map(t => t._1 -> t._2).toMap
    assert(out.filter(_._1 < 1000000000000L).forall(t =>
      cid(t._1 + 1000000000000L) == t._2))
  }

  test("semDedup: empty dup set (high threshold, no planted copies) keeps all") {
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999)
    assert(out.filter(!$"keep").count() == 0)
    assert(out.count() == emb.count())
  }

  test("centroidDrift: aligned group → cos 1.0, opposed group lower") {
    // group A: all vectors along +e1 (the corpus mean points +e1 too);
    // group B: along -e1 → cosine with the global centroid is negative
    val rows =
      (1 to 6).map(i => ("a", Array(1.0f * i, 0f, 0f))) ++
      (1 to 2).map(i => ("b", Array(-0.5f * i, 0f, 0f)))
    val out = Similarity.centroidDrift(
        rows.toDF("src", "embedding"), "embedding", "src")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(out("a")._1 == 6L && out("b")._1 == 2L)
    assert(out("a")._2 == 1.0, s"aligned group: ${out("a")._2}")
    assert(out("b")._2 == -1.0, s"opposed group: ${out("b")._2}")
  }

  test("centroidDrift is invariant to input partitioning/order") {
    val rows = (1 to 40).map(i =>
      (s"g${i % 4}", Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6) / 3.0f)))
    val df = rows.toDF("src", "embedding")
    val a = Similarity.centroidDrift(df, "embedding", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val b = Similarity.centroidDrift(df.repartition(7).sortWithinPartitions(
        org.apache.spark.sql.functions.rand(99)), "embedding", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(a == b, "fixed-point sums must kill float-order dependence")
  }

  test("hardNegatives: same-label neighbors excluded at the join, k kept") {
    // label 0: tight cluster around e1; label 1: around e2; query is in
    // the label-0 cluster, so its nearest SAME-label vectors must not
    // crowd out the k different-label rows
    def v(x: Float, y: Float) = Array(x, y, 0.0f, 0.0f)
    val df = Seq(
      (0L, 0, v(1.0f, 0.00f)),  // query
      (1L, 0, v(1.0f, 0.01f)),  // near-identical, same label
      (2L, 0, v(1.0f, 0.02f)),
      (3L, 1, v(1.0f, 0.10f)),  // closest different-label
      (4L, 1, v(0.9f, 0.50f)),
      (5L, 2, v(0.0f, 1.00f)))  // orthogonal, different label
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(df.filter($"vec_id" === 0L), df,
      "vec_id", "embedding", "label", k = 3).collect()
    assert(got.length == 3)
    assert(got.forall(_.getInt(2) != 0), "no same-label rows")
    // ranked by similarity: 3 (closest different-label) first, 5 last
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 4L, 5L))
    assert(got.map(r => r.getInt(4)).toSeq == Seq(1, 2, 3))
  }

  test("hardNegatives k=1: partial-agg path equals the window path, ties to low eid") {
    def v(x: Float, y: Float) = Array(x, y, 0.0f, 0.0f)
    // vec 7 and vec 3 are the SAME vector (exact sim tie vs any query):
    // the k=1 max-struct path must pick the lower eid, like the window's
    // (sim desc, eid asc) ordering does
    val df = Seq(
      (0L, 0, v(1.0f, 0.00f)),
      (1L, 0, v(0.8f, 0.30f)),
      (3L, 1, v(1.0f, 0.10f)),
      (7L, 1, v(1.0f, 0.10f)),
      (5L, 2, v(0.0f, 1.00f)))
      .toDF("vec_id", "label", "embedding")
    val qs = df.filter($"vec_id" <= 1L)
    val fast = Similarity.hardNegatives(qs, df,
      "vec_id", "embedding", "label", k = 1).collect()
    assert(fast.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 3L), (1L, 3L)), "tie must break to the lower eid")
    assert(fast.forall(_.getInt(4) == 1))
    // schema + values identical to what the window path would produce
    val slow = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val q = broadcast(qs.select($"vec_id".as("qid"), $"label".as("qlabel"),
        $"embedding".as("qv")))
      df.select($"vec_id".as("eid"), $"label".as("elabel"),
          $"embedding".as("ev"))
        .join(q, $"qlabel" =!= $"elabel")
        .select($"qid", $"eid", $"elabel",
          nanvl(round(Similarity.dot($"qv", $"ev") /
            (sqrt(Similarity.dot($"qv", $"qv")) *
              sqrt(Similarity.dot($"ev", $"ev"))), 4), lit(-1.0)).as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("sim"), $"eid")))
        .filter($"rn" === 1).orderBy("qid").collect()
    }
    assert(fast.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq ==
      slow.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq)
  }

  test("incremental IVF postings probe equals the from-scratch index") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" < 3)
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 4, iters = 2)
    val fromScratch = Similarity.ivfTopKWith(q, corpus, "vec_id",
      "embedding", k = 5, cents, nProbe = 2).collect().toSeq
    val store = tempDir("graft-ivfpost").toString + "/p"
    // uneven batches, one redelivered — dedup by assignment determinism
    Seq(0L, 1L, 1L, 2L).foreach { b =>
      Similarity.appendIvfPostings(spark, store,
        corpus.filter($"vec_id" % 3 === b), "vec_id", "embedding", cents)
    }
    val incremental = Similarity.ivfProbePostings(q, "vec_id", "embedding",
      MergeUpsert.readPlain(spark, store), k = 5, cents, nProbe = 2)
      .collect().toSeq
    assert(incremental == fromScratch)
  }

  test("ivfProbePostingsAdc: full-cover shortlist equals the exact " +
    "probe row-for-row; a 10-of-50 shortlist admits only genuine " +
    "cluster-mates into the top-k") {
    // 8 well-separated prototypes with ~2% jitter; each QUERY also has
    // an exact duplicate planted in the corpus (the query's own vector
    // under the next odd id, which is the SMALLEST eid of its cluster,
    // so an ADC code-tie can never crowd it out of the shortlist)
    val dims = 64
    def vec(i: Long): Array[Float] = {
      val p = ((i / 2) % 8).toInt // clusters span BOTH parity halves
      Array.tabulate(dims) { d =>
        val base = if (d % 8 == p) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 11 - 5) * 0.02f
      }
    }
    val all = (0L until 400L).map { i =>
      // odd ids below 60 duplicate the preceding even (query) vector
      if (i % 2 == 1 && i < 60) (i, vec(i - 1)) else (i, vec(i))
    }.toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 2 === 1)
    val q = all.filter($"vec_id" % 2 === 0 && $"vec_id" < 60)
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2)
    val store = tempDir("graft-adcpost").toString + "/p"
    Similarity.appendIvfPostings(spark, store, corpus,
      "vec_id", "embedding", cents)
    val postings = MergeUpsert.readPlain(spark, store)
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 4, k = 8, iters = 1)
    val coded = postings.join(
      Similarity.pqCodesWith(corpus, "vec_id", "embedding", books, m = 4)
        .withColumnRenamed("vec_id", "eid"), "eid")
    val exact = Similarity.ivfProbePostings(q, "vec_id", "embedding",
      postings, k = 5, cents, nProbe = 2)
      .collect().map(_.toSeq).toSet
    // (a) the GUARANTEE path: a shortlist covering every candidate
    // (~50/query here) makes the two-stage read exactly the one-stage
    // probe — same rounding, same tiebreaks, row-for-row
    val full = Similarity.ivfProbePostingsAdc(q, "vec_id", "embedding",
      coded, k = 5, cents, books, m = 4, nProbe = 2, rescoreK = 60)
      .collect().map(_.toSeq).toSet
    assert(full == exact,
      s"full-cover two-stage must equal exact: " +
        s"only-exact=${(exact -- full).take(3)} " +
        s"only-adc=${(full -- exact).take(3)}")
    // (b) the USEFUL path, stated structurally: nProbe=2 admits ~25
    // own-cluster and ~25 foreign-cluster candidates per query; the
    // ADC scores separate the two LISTS cleanly (within-cluster ranks
    // are quantization ties), so a 10-of-~50 shortlist must fill the
    // final top-5 exclusively with genuine cluster-mates, rescored to
    // their true near-1 cosines — no foreign candidate leaks through
    val small = Similarity.ivfProbePostingsAdc(q, "vec_id", "embedding",
      coded, k = 5, cents, books, m = 4, nProbe = 2, rescoreK = 10)
      .collect()
    assert(small.length == 30 * 5)
    small.foreach { r =>
      val (qid, eid, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert((eid / 2) % 8 == (qid / 2) % 8 && sim >= 0.999,
        s"shortlist let a foreign-cluster candidate into the top-5: $r")
    }
  }

  test("retrievalMetrics: perfect, shifted, and missing-top1 rankings") {
    def rk(rows: (Long, Long, Int)*) = rows.toDF("qid", "eid", "rn")
    val truth = rk((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
    // perfect: identical ranking
    val perfect = Similarity.retrievalMetrics(truth, truth, k = 3).head()
    assert(perfect.getDouble(1) == 1.0 && perfect.getDouble(2) == 1.0)
    // truth's best at ann rank 2, one truth item missing entirely
    val shifted = rk((0L, 99L, 1), (0L, 10L, 2), (0L, 11L, 3))
    val s = Similarity.retrievalMetrics(shifted, truth, k = 3).head()
    assert(s.getDouble(1) == 0.5, "rr = 1/rank-in-ann of truth top1")
    // dcg = 1/log2(3) + 1/log2(4); idcg = 1 + 1/log2(3) + 1/log2(4)
    val dcg = 1 / (math.log(3) / math.log(2)) + 1 / (math.log(4) / math.log(2))
    val ndcg = dcg / (1.0 + dcg)
    assert(math.abs(s.getDouble(2) - ndcg) < 1e-4)
    // ann shares nothing with truth
    val disjoint = rk((0L, 97L, 1), (0L, 98L, 2), (0L, 99L, 3))
    val d = Similarity.retrievalMetrics(disjoint, truth, k = 3).head()
    assert(d.getDouble(1) == 0.0 && d.getDouble(2) == 0.0)
  }

  test("mmrTopK prefers a diverse pick over a redundant higher-rel one") {
    // query along e1; X = tight high-rel cluster, Y = slightly less
    // relevant but diverse. Pure relevance ranks X,X,Y; MMR must rank
    // X,Y,X (the second X pays sim≈1 to the first).
    def v(a: Float, b: Float, c: Float) = Array(a, b, c, 0.0f)
    val corpus = Seq(
      (1L, v(0.95f, 0.3122f, 0f)),   // x1: rel ≈ .95
      (2L, v(0.95f, 0.3123f, 0f)),   // x2: rel ≈ .95, sim(x1,x2) ≈ 1
      (3L, v(0.90f, 0f, 0.4359f)),   // y:  rel .90, sim to X ≈ .855
      (4L, v(0.10f, 0.99f, 0f)))     // filler, low rel
      .toDF("vec_id", "embedding")
    val q = Seq((0L, v(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(q, corpus, "vec_id", "embedding",
      k = 3, poolK = 4).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L),
      got.mkString(";"))
    assert(got.map(_.getInt(2)).toSeq == Seq(1, 2, 3))
    // rank 1's mmr is its relevance; later scores carry the penalty
    assert(got.head.getDouble(3) > got(1).getDouble(3))
  }

  test("mmrTopK with mu=0 degenerates to relevance order") {
    val corpus = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.4359f, 0f, 0f)),
      (3L, Array(0.8f, 0.6f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrTopK(q, corpus, "vec_id", "embedding",
      k = 4, poolK = 4, mu = 0.0).collect().map(_.getLong(1)).toSeq
    val rel = Similarity.bruteForceTopK(q, corpus, "vec_id", "embedding",
      k = 4).collect().map(_.getLong(1)).toSeq
    assert(mmr == rel, s"mmr=$mmr rel=$rel")
  }

  test("kCenterSelect: outliers picked before cluster-interior points; " +
    "seed is min id at distance 0; layout-independent") {
    import spark.implicits._
    // 10 near-identical points at the origin, two far outliers
    val corpus = ((0L until 10L).map(i =>
        (i, Seq(0.001f * i, 0.0f))) ++
      Seq((100L, Seq(10.0f, 0.0f)), (101L, Seq(0.0f, -10.0f))))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(corpus, "vec_id", "embedding", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.head == ((1, 0L, 0L))) // min-id seed, dist 0
    // both outliers are taken before any interior point
    assert(got.slice(1, 3).map(_._2).toSet == Set(100L, 101L), s"$got")
    assert(got(3)._2 != 100L && got(3)._2 != 101L)
    // distances are non-increasing after the seed (farthest-first)
    val ds = got.drop(1).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, s"$got")
    val again = Similarity.kCenterSelect(corpus.repartition(7),
      "vec_id", "embedding", k = 4).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == again.toSeq)
  }

  test("centroidConfusion: separable labels land on the diagonal, a " +
    "mislabeled point lands in its true region's row") {
    import spark.implicits._
    // label 0 clusters near (0,0); label 1 near (10,10); vec 99 is
    // LABELED 0 but sits in label-1 territory
    val emb = ((0L until 5L).map(i => (i, Seq(0.1f * i, 0.0f), 0)) ++
      (10L until 15L).map(i => (i, Seq(10.0f, 0.1f * i), 1)) ++
      Seq((99L, Seq(10.0f, 1.0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidConfusion(emb, "vec_id", "embedding",
        "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0, 0)) == 5L) // the true label-0 cluster
    assert(got((1, 1)) == 5L) // the label-1 cluster
    assert(got((0, 1)) == 1L, s"mislabeled point must confuse: $got")
    // layout independence
    val again = Similarity.centroidConfusion(emb.repartition(7),
        "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == again)
  }

  test("kCenterSelect: k beyond corpus size returns the whole corpus") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0f)), (2L, Seq(2.0f)), (3L, Seq(5.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(corpus, "vec_id", "embedding", k = 9)
    assert(got.count() == 3)
    assert(got.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("marginPairs: the margin criterion rejects the hub a raw " +
    "cosine would pick") {
    // b=10 is a hub: moderately close to EVERYTHING on side A, so its
    // knn level is high; b=11 is a's genuinely exclusive partner.
    val a = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f)))
    val b = Seq(
      (10L, Seq(0.6f, 0.6f, 0.6f)),  // hub: cos ~0.577 with every a
      (11L, Seq(0.9f, 0.3f, 0.0f)))  // partner of a=1: cos ~0.949
    val got = Similarity.marginPairs(
        a.toDF("vec_id", "embedding"), b.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        r.getAs[Double]("margin"))).toMap
    // a=1 pairs with its exclusive partner, margin > 1 (above local level)
    assert(got(1L)._1 == 11L)
    assert(got(1L)._2 > 1.0)
    // a=3/a=5 have no exclusive partner: the hub wins but with a
    // margin close to 1 (no signal above the local level)
    assert(got(3L)._1 == 10L && got(3L)._2 <= got(1L)._2)
  }

  test("marginPairs: zero-vector neighborhoods report margin 0, not inf") {
    val a = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val b = Seq((2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.marginPairs(a, b, "vec_id", "embedding")
      .collect()
    got.foreach { r =>
      val m = r.getAs[Double]("margin")
      assert(!m.isNaN && !m.isInfinite)
    }
  }

  test("marginPairs is layout-independent") {
    val vecs = (0 until 40).map(i => (i.toLong,
      Seq((i % 5).toFloat, (i % 7).toFloat, (i % 3).toFloat)))
    val a = vecs.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val b = vecs.filter(_._1 % 2 == 1).toDF("vec_id", "embedding")
    val x = Similarity.marginPairs(a, b, "vec_id", "embedding")
      .collect().map(_.toSeq).toSeq
    val y = Similarity.marginPairs(a.repartition(7), b.repartition(5),
      "vec_id", "embedding").collect().map(_.toSeq).toSeq
    assert(x == y)
  }

  test("embeddingOutliers: planted displaced vector tops the list with " +
    "the exact z-square sum; constant dimension contributes zero") {
    // dim 1 constant (den = 0 guard); dim 2: nine 2.0s and one 102.0:
    // mean 12, outlier z^2 = 9.0 exactly, inlier z^2 = 1/9
    val vecs = ((0 until 9).map(i => (i.toLong, Seq(1.0f, 2.0f))) :+
      (9L, Seq(1.0f, 102.0f))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliers(vecs, "vec_id", "embedding",
      k = 20).collect()
    assert(got.length == 10)
    assert(got.head.getLong(0) == 9L && got.head.getInt(2) == 1)
    assert(got.head.getDouble(1) == 9.0)
    assert(got.tail.forall(_.getDouble(1) == 0.1111))
    // ties broken by vec_id ascending
    assert(got.tail.map(_.getLong(0)).toSeq == (0L to 8L))
    val re = Similarity.embeddingOutliers(vecs.repartition(5),
      "vec_id", "embedding", k = 20).collect().map(_.toSeq).toSeq
    assert(re == got.map(_.toSeq).toSeq, "layout-independent")
  }
}
