package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress for the candidate-pair operators: replicate documents/
  * embeddings Nx with perturbed ids/text and watch for superlinear
  * blowups. Usage: runMain graft.tools.ScaleStress [factor] [onlySubstr]
  * — the optional second arg runs just the entries whose label contains
  * it (data prep still runs). */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val only = args.drop(1).headOption
    val spark = graft.Sessions.local("32", "64")
    val dir = "/root/testdata/sf0.1"
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    // replicate with id offsets; perturb text per copy so replicas are
    // not exact dups (suffix token), keeping realistic near-dup density
    val docs = (0 until factor).map { k =>
      docs0.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" copytag$k")).as("text"), col("lang"))
    }.reduce(_ unionByName _).repartition(64).cache()
    val emb = (0 until factor).map { k =>
      emb0.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _).repartition(64).cache()
    println(s"[stress] docs=${docs.count()} emb=${emb.count()} (factor $factor)")
    def time(label: String)(f: => Long): Unit =
      if (only.forall(label.contains)) {
        val t0 = System.nanoTime(); val n = f
        println(f"[stress] $label%-26s ${(System.nanoTime()-t0)/1e9}%8.1f s  out=$n")
      }
    import graft.operators.{Dedup, Similarity}
    time("exact dedup")(Dedup.exact(docs, "doc_id", "text").count())
    time("minhash lsh")(Dedup.minhashLsh(docs, "doc_id", "text").count())
    time("simhash pairs h<=2")(Dedup.simhashPairs(docs, "doc_id", "text", 2).count())
    time("ngram jaccard")(Dedup.ngramJaccard(docs, "doc_id", "text", "lang", 3, 25, 0.2).count())
    time("ann lsh topk")(Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", 10, planes = 8).count())
    time("embedding neardup")(Similarity.embeddingNearDup(emb, "vec_id", "embedding", 0.95, 8).count())
    time("winnow overlap")(Dedup.winnowOverlapPairs(docs, "doc_id", "text").count())
    // round-13 scan-shaped additions: all three must stay linear in the
    // replica corpus (no pair joins anywhere in their plans)
    time("cdc chunk stats")(graft.operators.Chunking
      .cdcChunkStats(docs, "doc_id", "text", "lang").count())
    time("ring rebalance")(graft.operators.Sampling
      .ringRebalance(docs, "doc_id", 8, 9).count())
    time("lang segments")(graft.operators.CorpusStats
      .langSegments(docs, "doc_id", "text").count())
    // adversarial skew: 10% of the corpus is ONE boilerplate text, so
    // its band buckets hold factor*500 docs each — n² pair blowup
    // without the maxBucket valve. Prove the valve keeps the pair count
    // linear AND report what it dropped (the no-silent-caps rule).
    time("skewed lsh mega-bucket")({
      val boiler = "subscribe to our newsletter for daily updates and " +
        "follow us on social media all rights reserved terms of service " +
        "privacy policy cookie settings contact us about careers"
      val skewed = docs.select(col("doc_id"),
        when(col("doc_id") % 10 === 0, lit(boiler))
          .otherwise(col("text")).as("text"))
      val dropped = Dedup.lshDroppedBuckets(skewed, "doc_id", "text",
        maxBucket = 1000).collect()
      val pairs = Dedup.minhashLsh(skewed, "doc_id", "text",
        maxBucket = 1000).count()
      val megaDocs = dropped.map(_.getLong(1)).sum / 8 // 8 bands/doc
      println(s"[stress]   skew report: ${dropped.length} buckets " +
        s"dropped (~$megaDocs docs); capped pairs=$pairs " +
        s"(uncapped would add ~${megaDocs * (megaDocs - 1) / 2}")
      assert(dropped.nonEmpty, "mega-bucket must be reported, not silent")
      // linear bound: the replicated corpus legitimately pairs each
      // base doc's `factor` copies (≈ docs·factor/2 pairs); the capped
      // run must stay in that band, nowhere near the +n²/2 mega-bucket
      // blowup the valve prevented
      assert(pairs < docs.count() * factor,
        s"capped pair count must stay linear in the corpus, got $pairs")
      pairs
    })
    time("dedup clusters")(Dedup.resolveClusters(docs, "doc_id",
      Dedup.nearDupPipeline(docs, "doc_id", "text")).count())
    // recall harness at scale: the full-truth join is quadratic in
    // block occupancy (replica cliques), the sampled-truth variant is
    // the deployed shape — same index, 1/mod² of the truth pairs
    time("lsh recall (sampled m=4)")({
      val r = Dedup.lshRecall(docs, "doc_id", "text", "lang",
        sampleMod = 4).head
      println(s"[stress]   recall report: truth=${r.getLong(0)} " +
        s"cand=${r.getLong(1)} hit=${r.getLong(2)} " +
        s"recall=${if (r.isNullAt(3)) "NULL" else r.getDouble(3)}")
      r.getLong(0)
    })
    // replica cliques are THE adversarial dedup input at scale: each
    // base doc's `factor` perturbed copies form a clique, so all-pairs
    // verify emits ~C(factor,2) pairs per clique (quadratic in the
    // replication) while spanning emits factor−1 star edges (linear).
    // Same clusters either way (DedupSpec pins it); compare the counts.
    time("neardup pairs (all)")(Dedup.nearDupPipeline(
      docs, "doc_id", "text").count())
    time("neardup pairs (spanning)")(Dedup.nearDupPipeline(
      docs, "doc_id", "text", edges = "spanning").count())
    time("clusters via spanning")(Dedup.resolveClusters(docs, "doc_id",
      Dedup.nearDupPipeline(docs, "doc_id", "text",
        edges = "spanning")).count())
    time("ivf topk (kmeans)")(Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", 10).count())
    // write-time vs read-time split for the persisted-artifact path:
    // train+publish once (the write-time cost), then probe from the
    // stored artifact — the per-query cost once training is amortized.
    // Compare "ivf probe (stored)" to "ivf topk (kmeans)" above: the
    // delta is the k-means training the store moved out of the query.
    val ivfStore = java.nio.file.Files
      .createTempDirectory("graft-stress-ivfstore").toString + "/cents"
    time("ivf artifact train+pub")({
      graft.operators.MergeUpsert.publishPlain(spark, ivfStore,
        Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, 2))
      16L
    })
    time("ivf probe (stored)")(Similarity.ivfTopKWith(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10,
      graft.operators.MergeUpsert.readPlain(spark, ivfStore)).count())
    time("int8 quantize")(Similarity.quantizeInt8(emb, "vec_id", "embedding").count())
    time("stratified sample")(graft.operators.Sampling.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.4), 0.1).count())
    time("kmv sketch")(graft.operators.Sketches.kmvSketch(
      docs.select(col("lang"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("t")),
      "lang", col("t"), 64, 1099511627776L).count())

    // ---- r3/r4 additions (x32–x42) ----
    import graft.functions.QualityRules
    import graft.operators.{Chunking, Contamination, IncrementalDedup, Sketches, TfIdf}
    time("gopher rules")(docs
      .select(col("doc_id"), QualityRules.tokenStats(col("text")).as("st"))
      .filter(QualityRules.gopherKeep(col("st"))).count())
    time("contamination flag")(Contamination.flag(docs, "doc_id", "text",
      docs0.filter(col("doc_id") % 50 === 0), "text").count())
    time("token chunking w128 s96")(Chunking.tokenWindows(
      docs, "doc_id", "text", window = 128, stride = 96).count())
    time("tfidf top-3")(TfIdf.topTerms(docs, "doc_id", "text", k = 3).count())
    time("mix rebalance")(graft.operators.Sampling.rebalanceMix(
      docs, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.3)).count())
    time("kmv pairwise overlap")({
      val toks = docs.select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      val sk = Sketches.kmvSketch(toks, "lang", col("t"), 64, 1099511627776L)
        .select(col("lang"), col("sketch"))
      sk.as("a").join(sk.as("b"), col("a.lang") < col("b.lang"))
        .select(Sketches.kmvUnionEstimate(col("a.sketch"), col("b.sketch"),
          64, 1099511627776L).as("u")).count()
    })
    time("line repetition stats")(graft.functions.QualityRules
      .lineRepetitionStats(docs, "doc_id", "text").count())
    time("sequence packing")(Chunking.packSequences(
      docs.select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", "lang", seqLen = 2048).count())
    time("incremental exact 2 appends")({
      val store = java.nio.file.Files
        .createTempDirectory("graft-stress-ince").toString + "/hashes"
      IncrementalDedup.appendExact(spark, store,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text").count()
      IncrementalDedup.appendExact(spark, store,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").count()
    })
    time("incremental dedup 2 appends")({
      val store = java.nio.file.Files
        .createTempDirectory("graft-stress-inc").toString + "/sigs"
      val n1 = IncrementalDedup.appendBatch(spark, store,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text").count()
      val n2 = IncrementalDedup.appendBatch(spark, store,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").count()
      n1 + n2
    })

    // ---- r4 additions (x43–x51) ----
    import graft.operators.{BloomFilter, CorpusStats, MergeUpsert,
      RepeatedSpans, ZOrder}
    time("repeated spans k=8")(RepeatedSpans.spanStats(
      docs, "doc_id", "text").count())
    time("vocab top-500")(CorpusStats.vocabTopK(docs, "text", 500).count())
    time("composition report")(CorpusStats.compositionReport(
      docs.withColumn("source", col("lang")), Seq("source", "lang"),
      "text").count())
    time("bigram novelty")(CorpusStats.bigramNovelty(
      docs, "doc_id", "text").count())
    time("length quantiles")(CorpusStats.lengthQuantiles(
      docs.withColumn("n_chars", length(col("text"))), "lang",
      "n_chars").count())
    time("temperature mix a=0.5")(graft.operators.Sampling.temperatureMix(
      docs, "doc_id", "lang").count())
    time("bloom contamination")(BloomFilter.flagBloom(docs, "doc_id", "text",
      docs0.filter(col("doc_id") % 50 === 0), "text").count())
    time("store compact (3 merges)")({
      val store = java.nio.file.Files
        .createTempDirectory("graft-stress-compact").toString + "/docs"
      (0 until 3).foreach { k =>
        MergeUpsert.mergeWritePlain(spark, store,
          docs.filter(col("doc_id") % 3 === k), Seq("doc_id"))
      }
      val rep = MergeUpsert.compactPlain(spark, store,
        targetBytes = 64L << 20)
      rep.filesAfter.toLong
    })

    // reference-parity path at scale: replicate lineitem/orders
    val li0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val o0 = spark.read.parquet(s"$dir/orders.parquet")
    val li = (0 until factor).map { k =>
      li0.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
    }.reduce(_ unionByName _).repartition(64).cache()
    val o = (0 until factor).map { k =>
      o0.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
    }.reduce(_ unionByName _).repartition(64).cache()
    println(s"[stress] lineitem=${li.count()} orders=${o.count()}")
    time("zorder key 6M rows")({
      val rs = ZOrder.ranges(li, Seq("l_partkey", "l_suppkey"))
      // consume the aggregate VALUE (collect, not count): a count()
      // over an ungrouped agg lets Catalyst prune the sum and the
      // whole z projection, timing a bare row-count scan instead
      li.select(ZOrder.zValueRanged(
        Seq(col("l_partkey") -> rs(0), col("l_suppkey") -> rs(1))).as("z"))
        .agg(sum("z")).collect().length.toLong
    })
    time("star join + agg")(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .count())
    time("validation cascade")(
      li.select(graft.functions.Validation.rejectReason(Seq(
        graft.functions.Validation.Rule(col("l_quantity").isNull, "q req"),
        graft.functions.Validation.Rule(col("l_discount") > col("l_tax"), "d>t")))
        .as("r")).filter(col("r").isNotNull).count())
    time("merge 1pct batch")({
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.operators.MergeUpsert.merge(o, updates, Seq("o_orderkey")).count()
    })
    time("range join (1.5k windows)")({
      val pts = o.select(unix_date(to_date(col("o_orderdate"))).as("d"))
      val windows = o.filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey").as("win_id"),
          unix_date(to_date(col("o_orderdate"))).as("lo"),
          (unix_date(to_date(col("o_orderdate"))) + 30).as("hi"))
      graft.operators.RangeJoin.pointInInterval(pts, "d", windows,
        "lo", "hi", bucketWidth = 30L).count()
    })
    time("asof daily delta")({
      val daily = o.groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(sum("o_totalprice").as("v"))
      graft.operators.AsOfDelta.strictLag(daily, Seq("o_orderpriority"), "day", Seq("v")).count()
    })

    // full CSV ingest pipeline at scale: orders -> capacity-shaped CSV
    // (~factor*600k rows incl. ~2% invalid), S1->P3->J4->S7 end to end
    val work = java.nio.file.Files.createTempDirectory("graft-ingest-stress").toString
    val csvDf = (0 until factor * 4).map { k =>
      o0.select(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
        concat(lit("region_"), (col("o_custkey") % 500).cast("string")).as("state"),
        (col("o_orderkey") % 10000 + 1000 + k).cast("string").as("inpatient_beds"),
        when(col("o_orderkey") % 50 === 0, lit("-5")) // planted invalid rows
          .otherwise((col("o_orderkey") % 900 + 50).cast("string"))
          .as("inpatient_beds_used"),
        (col("o_orderkey") % 500).cast("string").as("total_staffed_adult_icu_beds"),
        (col("o_orderkey") % 400).cast("string").as("staffed_adult_icu_bed_occupancy"))
    }.reduce(_ unionByName _)
    csvDf.coalesce(8).write.option("header", "true").mode("overwrite")
      .csv(s"$work/in")
    println(s"[stress] ingest csv rows=${csvDf.count()}")
    time("full csv ingest")({
      val r = graft.pipeline.IngestJob.run(spark, s"$work/in", s"$work/cap",
        s"$work/reg", s"$work/rej", s"$work/runs", "stress-run", "stress",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      r.rowsLoaded
    })
    time("metrics derive")({
      graft.pipeline.MetricsJob.run(spark, s"$work/cap", s"$work/met",
        s"$work/runs", "stress-met", java.sql.Timestamp.valueOf("2026-01-01 00:01:00"))
    })

    // ---- r4 session-3 additions (x62–x69) ----
    import graft.operators.{Bpe, CorpusStats, GraphRank, Sampling, Scd2}
    time("semdedup (kmeans 64)")(Similarity.semDedup(emb, "vec_id",
      "embedding", nClusters = 64, threshold = 0.95).count())
    time("bm25 topk")(TfIdf.bm25TopK(docs, "doc_id", "text",
      Seq("merge", "vector", "spark"), k = 20).count())
    time("dsir weights")(Sampling.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en").count())
    time("line boilerplate")({
      val planted = docs.select(col("doc_id"),
        concat(col("text"), lit("\nsubscribe to our newsletter")).as("text"))
      Dedup.lineBoilerplate(planted, "doc_id", "text", minDocs = 100).count()
    })
    time("unigram bits")(CorpusStats.unigramBits(docs, "doc_id", "text")
      .count())
    time("source cap")(Sampling.capPerGroup(
      docs.select(col("doc_id"), col("lang"),
        length(col("text")).as("len")),
      "doc_id", "lang", "len", cap = 1000).count())
    time("scd2 history")({
      val snap = o.groupBy(col("o_custkey").as("key"),
          col("o_orderdate").as("batch"))
        .agg(max(col("o_orderstatus")).as("status"))
      Scd2.history(snap, "key", "batch", Seq("status")).count()
    })
    time("pagerank 3 iters")(GraphRank.pageRank(
      docs.select("doc_id"), "doc_id",
      Dedup.nearDupPipeline(docs, "doc_id", "text")
        .select("id_a", "id_b"), iters = 3).count())
    time("bpe train+encode")({
      val (_, vocab) = Bpe.train(docs, "text", numMerges = 20)
      Bpe.encodeStats(docs, "doc_id", "text", vocab).count()
    })
    // realistic-vocab training cadence: batched top-m selection, one
    // pair aggregation + one checkpoint per ROUND of up to 64 merges
    // (sequential train would be 1024 driver round-trips here). The
    // synthetic corpus's word vocabulary exhausts after ~100 merges,
    // so high-entropy hash words are mixed in to give the trainer a
    // realistically deep pair structure.
    time("bpe batched 1024 merges")({
      val hexed = docs.select(concat_ws(" ", col("text"),
        md5(col("doc_id").cast("string")),
        md5(concat(col("doc_id").cast("string"), lit("x"))),
        sha1(col("doc_id").cast("string"))).as("text"))
      val (m, _) = Bpe.trainBatched(hexed, "text", numMerges = 1024,
        batchSize = 64)
      m.size.toLong
    })
    // events carry ns timestamps — the raw parquet read throws
    // PARQUET_TYPE_ILLEGAL; the catalog's reader scopes the nanos conf
    val ev0 = graft.queries.ReferenceCatalog.events(spark, dir)
    val ev = (0 until factor).map { k =>
      ev0.select((col("event_id") + lit(k * 10000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 1000000L)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _)
    time("moving avg 1h")(graft.streaming.WindowedAgg.movingAvg(
      ev, "ts", "user_id", "value", 3600000L).count())
    time("rollup report")(CorpusStats.rollupReport(
      docs, "lang", "lang", "text").count())
    time("contamination spans")(graft.operators.Contamination.spans(
      docs, "doc_id", "text",
      docs0.filter(col("doc_id") % 50 === 0), "text").count())
    time("js divergence")(CorpusStats.jsDivergence(
      docs, "lang", "text").count())
    time("dup-weighted sample")(Sampling.dupWeightedSample(
      Dedup.resolveClusters(docs, "doc_id",
        Dedup.nearDupPipeline(docs, "doc_id", "text")), 0.3).count())
    time("normalize text")(docs.select(
      graft.functions.TextFunctions.normalizeText(col("text"))).count())
    time("token entropy")(CorpusStats.tokenEntropy(
      docs, "doc_id", "text").count())
    time("pmi topk")(CorpusStats.pmiTopK(docs, "text").count())
    time("distinct ngrams")(CorpusStats.distinctNgrams(
      docs, "lang", "text").count())
    time("token gini")(CorpusStats.tokenGini(docs, "lang", "text").count())
    time("keepfirst lines")({
      // 3-line docs with corpus-wide repeated header/footer: the repeat
      // windows hold factor*5k rows each — the hot-key bound in action
      val multi = docs.select(col("doc_id"),
        concat(lit("shared header line\n"), col("text"),
          when(col("doc_id") % 2 === 0, lit("\nall rights reserved"))
            .otherwise(lit("\nprivacy policy"))).as("text"))
      Dedup.keepFirstLines(multi, "doc_id", "text").count()
    })
    time("priority sample")(graft.operators.Sampling.prioritySample(
      docs.withColumn("w", length(col("text"))), "doc_id", "w",
      k = 100).count())
    // x174's shape: two hash aggregates over the corpus + the bounded
    // two-level class prefix sum — must stay linear in docs
    time("token budget")(graft.operators.Sampling.tokenBudget(
      docs.select(col("doc_id"), col("lang").as("source"),
        graft.functions.TextFunctions.qualityScore(col("text"))
          .as("quality"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok")),
      "doc_id", "source", "quality", "n_tok").count())
    time("curriculum 10 bands")(CorpusStats.curriculum(
      docs.select(col("doc_id"),
        length(col("text")).cast("double").as("score")),
      "doc_id", "score").count())
    time("rrf fusion")({
      val a = TfIdf.bm25TopK(docs, "doc_id", "text",
        Seq("merge", "vector", "spark"), k = 20)
      val b = TfIdf.queryScoreTopK(docs, "doc_id", "text",
        Seq("merge", "vector", "spark"), k = 20)
      TfIdf.rrfFusion(a, b, "doc_id", k = 10).count()
    })
    time("hard negatives")(Similarity.hardNegatives(
      emb.filter(col("vec_id") < 5)
        .withColumn("label", (col("vec_id") % 7).cast("int")),
      emb.withColumn("label", (col("vec_id") % 7).cast("int")),
      "vec_id", "embedding", "label", k = 10).count())
    // the x168 shape: anchors in the thousands, k=1 — exercises the
    // partial-aggregating max-struct reduction (the window path here
    // would sort |anchors|×|corpus| rows through one shuffle; at sf1
    // that was 1030 s pre-fix)
    time("hard negatives k=1 bulk")(Similarity.hardNegatives(
      emb.filter(col("vec_id") % 41 === 0)
        .withColumn("label", (col("vec_id") % 7).cast("int")),
      emb.withColumn("label", (col("vec_id") % 7).cast("int")),
      "vec_id", "embedding", "label", k = 1).count())
    time("asof join events")({
      // ev: the replicated ns-read events table built above
      val right = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts").as("rts"),
          col("event_id").as("rid"), col("value").as("rvalue"))
      graft.operators.AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts"), right,
        Seq("user_id"), "ts", "rts", "rid", Seq("rvalue")).count()
    })
    time("value histogram")(graft.operators.Profiling.valueHistogram(
      ev, "value").count())
    time("mad outliers")(graft.operators.Profiling.madOutliers(
      ev, "event_type", "value").count())
    time("cooccurrence")(graft.operators.Funnels.cooccurrence(
      ev, "user_id", "event_type").count())
    time("pearson matrix")(graft.operators.Profiling.correlation(
      docs.select(col("doc_id"),
        length(col("text")).cast("double").as("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("double").as("n_tok"),
        graft.functions.TextFunctions.classifierProb(col("text"))
          .as("cls_prob")),
      Seq("n_chars", "n_tok", "cls_prob"),
      qBitsFor = Map("n_chars" -> 0, "n_tok" -> 0, "cls_prob" -> 20))
      .count())
    time("vocab coverage")(CorpusStats.vocabCoverage(docs, "text").count())
    time("shard balance")(graft.operators.Sampling.shardBalance(
      docs, "doc_id", "text", shards = 64).count())
    time("incremental scd2 3 applies")({
      val p = java.nio.file.Files
        .createTempDirectory("graft-scd2s").toString + "/h"
      def snap(f: org.apache.spark.sql.DataFrame) = f
        .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("batch"))
        .agg(max(col("o_orderstatus")).as("status"))
      val cut1 = to_timestamp(lit("1994-01-01"))
      val cut2 = to_timestamp(lit("1996-01-01"))
      Seq(0L -> o.filter(col("o_orderdate") < cut1),
        1L -> o.filter(col("o_orderdate") >= cut1 &&
          col("o_orderdate") < cut2),
        2L -> o.filter(col("o_orderdate") >= cut2)).foreach {
        case (id, b) => graft.streaming.StreamScd2.applyBatch(
          spark, p, snap(b), "key", "batch", Seq("status"), id)
      }
      graft.streaming.StreamScd2.readHistory(spark, p).count()
    })

    // round-8 families. Sparse cosine: the df≤cap prefix filter keeps
    // stopword lists out of candidate generation, sized as a CORPUS
    // SHARE (1% of N). On THIS corpus the measured df floor is ~5% of
    // N — the synthetic vocabulary is tiny and uniform, so NO term is
    // discriminative and zero candidates is the valve doing its job:
    // raising the cap past the floor would degenerate into the
    // all-pairs join the filter exists to prevent. Report the floor so
    // the 0 reads as a measured corpus property, not a silent miss.
    time("sparse cosine pairs")({
      val toks = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .as("term"))
      val dfreq = toks.groupBy("doc_id", "term").agg(count(lit(1)))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val cap = docs.count() / 100
      val eligible = dfreq.filter(col("df") <= cap).count()
      val minDf = dfreq.agg(min("df")).head().getLong(0)
      val pairs = graft.operators.TfIdf.cosinePairs(
        docs, "doc_id", "text", minCosineBp = 50, maxDf = cap).count()
      println(s"[stress]   cosine report: cap=$cap minDf=$minDf " +
        s"eligibleTerms=$eligible pairs=$pairs")
      assert(eligible > 0 || pairs == 0,
        "no eligible terms must mean no candidate pairs")
      pairs
    })
    // phash: one codegen pass per doc, then 4-band buckets of the
    // replica cliques — pairs ≈ C(factor,2)·base docs, linear corpus scan
    time("phash neardup")(graft.operators.Multimodal.pHashPairs(
      graft.operators.Multimodal.aHash(
        graft.operators.Multimodal.withPayload(docs, "doc_id", "text")),
      maxHamming = 6).count())
    // k-center: k−1 rounds of one broadcast join + TakeOrdered(1) —
    // cost is k scans of the corpus, flat per-scan at any factor
    time("kcenter select k=8")(Similarity.kCenterSelect(
      emb, "vec_id", "embedding", k = 8).count())
    // pca: the one data-scale pass is the n·d² scatter products with
    // map-side combine (shuffle stays d² rows/partition at any n)
    time("pca top component")(graft.operators.Pca.topComponent(
      emb, "embedding").count())
    // zone map: stats build is one agg over the written table; the
    // pruned read's cost tracks the band width, not the table
    time("zonemap build+prune")({
      val p = java.nio.file.Files
        .createTempDirectory("graft-stress-zm").toString + "/t"
      graft.operators.ZoneMap.clusterWrite(
        docs.select(col("doc_id"), col("text")), "doc_id", 64, p)
      val zm = graft.operators.ZoneMap.stats(
        spark.read.parquet(p), "doc_id")
      val (pruned, rep) = graft.operators.ZoneMap.prunedRead(
        spark, zm, "doc_id", 0, 499)
      println(s"[stress]   zonemap report: kept ${rep.filesKept} of " +
        s"${rep.filesTotal} files")
      assert(rep.filesKept < rep.filesTotal,
        "narrow band over clustered layout must skip files")
      pruned.count()
    })

    // round-9 families.
    // margin mining: the exact baseline is |A|×|B| — THE documented
    // quadratic; at corpus scale the same margin math runs over ANN
    // candidates. Measured here so the curve (≈factor²) is on record
    // next to the linear candidates-based families.
    time("margin pairs (exact)")({
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 === 1)
      Similarity.marginPairs(a, b, "vec_id", "embedding").count()
    })
    // margin over ANN candidates (x200's composition), split the way
    // production splits it: index TRAIN+ASSIGN amortizes to write time
    // (the x115/x134 store pattern), the PROBE+margin half is the
    // recurring per-mining-run cost — THAT is the row to hold linear
    // against the exact baseline above. Full left side, no batch bound.
    locally {
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 === 1)
      // index sized to the corpus (~√n lists, the FAISS rule): candidate
      // work per query is nProbe·n/k rows — a fixed k would silently
      // degrade the "linear" claim back toward n²/k
      val nCents = math.max(16,
        math.sqrt(b.count().toDouble).toInt / 2)
      var posts: org.apache.spark.sql.DataFrame = null
      var cents: org.apache.spark.sql.DataFrame = null
      time("margin ANN train (write)")({
        cents = Similarity.kmeansCentroids(b, "vec_id", "embedding",
          k = nCents, iters = 2).cache()
        posts = Similarity.ivfAssign(b, "vec_id", "embedding", cents)
          .cache()
        posts.count()
      })
      time("margin over ANN (linear)")({
        val cands = Similarity.ivfProbePostings(a, "vec_id",
          "embedding", posts, k = 8, cents, nProbe = 2)
        Similarity.marginOverCandidates(cands.select(
          col("qid").as("aid"), col("eid").as("bid"),
          col("sim"))).count()
      })
      if (posts != null) posts.unpersist()
      if (cents != null) cents.unpersist()
    }
    // audio fingerprint: one linear decode+landmark scan, then a
    // hash-bucket join — replica PCM copies land in shared buckets
    // (the clique class phash also pays), everything else stays apart
    // at fine bands
    time("audio fingerprint")({
      val pcm = graft.operators.Multimodal.pcmArray(
        graft.operators.Multimodal.withWavPayload(docs, "doc_id", "text"))
      graft.operators.Multimodal.fingerprintMatches(
        graft.operators.Multimodal.audioLandmarks(pcm),
        minMatches = 4).count()
    })
    // heaps fit: one token explode + per-term min + ONE conditional
    // aggregate — corpus-linear with a vocab-sized shuffle
    time("heaps fit")(graft.operators.CorpusStats.heapsFit(
      docs, "doc_id", "text").count())
    // ccnet buckets: ONE bigram-extraction shuffle (bigramBitsSubset —
    // the model gate rides along as a flag), vs round-9's two passes
    time("ccnet bigram scoring")({
      graft.operators.CorpusStats.bigramBitsSubset(
        docs, "doc_id", "text",
        graft.functions.QualityRules.gopherKeep(
          graft.functions.QualityRules.tokenStats(col("text")))).count()
    })
    // entity resolution: replicated customers with per-copy perturbed
    // names; candidates stay O(n·window) by construction (asserted)
    time("entity resolution snm")({
      val c0 = spark.read.parquet(s"$dir/customer.parquet")
      val cust = (0 until factor).map { k =>
        c0.select((col("c_custkey") + lit(k * 10000000L)).as("id"),
          concat(col("c_name"), lit(s" v$k")).as("nm"),
          col("c_nationkey").as("blk"), col("c_acctbal").as("bal"),
          col("c_mktsegment").as("seg"))
      }.reduce(_ unionByName _)
      val n = cust.count()
      val cand = graft.operators.EntityResolution.sortedNeighborhood(
        cust, "id", "blk", "nm", "bal", "seg", minScore = 0.0).count()
      println(s"[stress]   snm report: rows=$n candidates=$cand " +
        s"bound=${n * 3}")
      assert(cand <= n * 3, "SNM candidates must stay O(n·window)")
      cand
    })

    // round-10b tranche: the shapes with a data-dependent fan-out.
    // weighted Jaccard rides the verified-pair subset (replica cliques
    // inflate pairs ~factor²/2 per base doc under all-pairs verify —
    // measure against the SPANNING edge set, the production shape,
    // where pair count is linear in the replication)
    time("weighted jaccard (spanning)")({
      val pairs = Dedup.nearDupPipeline(docs, "doc_id", "text",
        edges = "spanning")
      Dedup.weightedJaccard(docs, "doc_id", "text", pairs).count()
    })
    // Poisson bootstrap: the honest 20× row fan-out must combine
    // map-side to (group, replicate) grain — wall time linear in
    // corpus, shuffle bounded by g·B rows
    time("bootstrap ci (B=20)")({
      val scored = docs.select(col("doc_id"), col("lang"),
        (pmod(col("doc_id"), lit(10000L)).cast("double") / lit(10000.0))
          .as("p"))
      graft.operators.Sampling.bootstrapCi(scored, "doc_id", "lang",
        "p").count()
    })
    // source novelty: one positional-gram fan-out + distinct + min
    // owner — the x43 cost class, linear in corpus tokens
    time("source novelty k=8")(graft.operators.CorpusStats
      .sourceNovelty(docs, "lang", "text").count())
    // spearman: histogram ranks + one materialized row frame — the
    // rank machinery isolated behind a cheap upstream score
    time("spearman ranks")({
      val rows = docs.select(pmod(col("doc_id"), lit(10000L)).as("va"),
        length(col("text")).cast("long").as("vb"))
      graft.operators.LabelQuality.spearman(rows, "va", "vb").count()
    })

    if (only.isEmpty) MergeStress.run(spark, factor, work)
    spark.stop()
  }
}
