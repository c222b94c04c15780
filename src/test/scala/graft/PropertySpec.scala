package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.{CapacityFunctions, TextFunctions, Validation}
import graft.operators.{Dedup, MergeUpsert}

/** Property-based invariants (SURVEY.md §5.3): strain bounds, merge
  * idempotence, validation partitioning, jaccard bounds, portable
  * rounding parity. ScalaCheck generators produce the case batches;
  * Spark evaluates each property as ONE job over the generated column
  * (not one job per case). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Gen.sample can return None; retry instead of flaking. */
  private def sampled[T](g: org.scalacheck.Gen[T]): T =
    Iterator.continually(g.sample).flatten.next()

  test("strain index is always in [0, 100] and null-safe on icu") {
    val cases = Gen.listOfN(200, for {
      total <- Gen.chooseNum(0, 100000)
      occ <- Gen.chooseNum(0, 150000)
      icuB <- Gen.option(Gen.chooseNum(0, 50000))
      icuO <- Gen.option(Gen.chooseNum(0, 80000))
    } yield (total, occ, icuB.map(Int.box).orNull, icuO.map(Int.box).orNull))
    val casesV = sampled(cases)
    val df = casesV.map { case (t, o, ib, io) =>
      (t, o, Option(ib).map(_.toInt), Option(io).map(_.toInt))
    }.toDF("total_beds", "occupied_beds", "icu_beds", "icu_occupied")
    val bed = CapacityFunctions.bedOccPctEtl($"occupied_beds", $"total_beds")
    val icu = CapacityFunctions.icuOccPct($"icu_occupied", $"icu_beds")
    val out = df.select(CapacityFunctions.strainIndex(bed, icu).as("s"))
      .agg(min("s"), max("s"), count(when($"s".isNull, 1))).head()
    assert(out.getDouble(0) >= 0.0 && out.getDouble(1) <= 100.0)
    assert(out.getLong(2) == 0)
  }

  test("merge is idempotent and key-unique for random batches") {
    val gen = Gen.listOfN(60, for {
      d <- Gen.oneOf("2024-01-15", "2024-01-16", "2024-01-17")
      r <- Gen.oneOf("CA", "TX", "NY", "WA")
      v <- Gen.chooseNum(0, 1000)
    } yield (d, r, v))
    val base = sampled(gen).toDF("date", "region_id", "v")
      .dropDuplicates("date", "region_id")
    val batch = sampled(gen).toDF("date", "region_id", "v")
    val once = MergeUpsert.merge(base, batch, Seq("date", "region_id"))
    val twice = MergeUpsert.merge(once, batch, Seq("date", "region_id"))
    val a = once.as[(String, String, Int)].collect().toSet
    val b = twice.as[(String, String, Int)].collect().toSet
    assert(a == b)
    // key uniqueness
    val dupKeys = once.groupBy("date", "region_id").count().filter($"count" > 1)
    assert(dupKeys.isEmpty)
  }

  test("validation split partitions any input") {
    val rows = Gen.listOfN(120, for {
      date <- Gen.oneOf("2024-01-15", "garbage", null)
      region <- Gen.oneOf("CA", "", null)
      tb <- Gen.oneOf("100", "-5", "abc", null)
      ob <- Gen.oneOf("50", "200", "-1", null)
    } yield (date, region, tb, ob))
    val rowsV = sampled(rows)
    val df = rowsV.toDF("date", "region", "total_beds", "occupied_beds")
      .withColumn("_dp", $"date".try_cast("date"))
      .withColumn("_tb", $"total_beds".try_cast("int"))
      .withColumn("_ob", $"occupied_beds".try_cast("int"))
      .withColumn("_reject_reason", Validation.rejectReason(
        Validation.capacityRules($"date", $"_dp", $"region", $"_tb", $"_ob",
          lit(null).cast("int"), lit(null).cast("int"))))
    val (acc, rej) = Validation.split(df)
    assert(acc.count() + rej.count() == rowsV.size)
    // accepted rows satisfy every rule
    assert(acc.filter($"_tb" < 0 || $"_ob" < 0 || $"_ob" > $"_tb" ||
      $"_dp".isNull || $"region".isNull || trim($"region") === "").isEmpty)
  }

  test("ngram jaccard values are in [0,1] and id-ordered") {
    val texts = Gen.listOfN(30, Gen.nonEmptyListOf(
      Gen.oneOf("spark", "query", "merge", "scan", "join", "row", "data"))
      .map(_.mkString(" ")))
    val textsV = sampled(texts)
    val df = textsV.zipWithIndex.map { case (t, i) => (i.toLong, t, "b") }
      .toDF("doc_id", "text", "blk")
    val pairs = Dedup.ngramJaccard(df, "doc_id", "text", "blk",
      bucketChars = 10000, minJaccard = 0.0)
    val bad = pairs.filter($"jaccard" < 0.0 || $"jaccard" > 1.0 ||
      $"id_a" >= $"id_b")
    assert(bad.isEmpty)
  }

  test("winnowing guarantee: a planted shared run of w+k-1 chars always " +
    "yields a shared fingerprint; disjoint alphabets never do") {
    val k = 8; val w = 4
    val alpha = Gen.listOfN(40, Gen.alphaLowerChar).map(_.mkString)
    val digits = Gen.listOfN(40, Gen.numChar).map(_.mkString)
    val cases = Gen.listOfN(25, for {
      a <- alpha; b <- alpha
      shared <- Gen.listOfN(w + k - 1, Gen.alphaUpperChar).map(_.mkString)
      cutA <- Gen.chooseNum(0, 40); cutB <- Gen.chooseNum(0, 40)
    } yield (a.take(cutA) + shared + a.drop(cutA),
             b.take(cutB) + shared + b.drop(cutB)))
    val casesV = sampled(cases)
    val docs = casesV.zipWithIndex.flatMap { case ((ta, tb), i) =>
      Seq((2L * i, ta), (2L * i + 1, tb))
    }.toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    casesV.indices.foreach { i =>
      assert(fp(2L * i).intersect(fp(2L * i + 1)).nonEmpty,
        s"case $i: shared ${w + k - 1}-char run must share a fingerprint")
    }
    // disjoint alphabets (lowercase vs digits) share no 8-gram at all
    val da = sampled(alpha); val db = sampled(digits)
    val dfp = Dedup.winnowFingerprints(
      Seq((0L, da), (1L, db)).toDF("doc_id", "text"), "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(dfp(0L).intersect(dfp(1L)).isEmpty)
  }

  test("incremental LSH equals from-scratch LSH for random batch splits") {
    import graft.operators.IncrementalDedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").cache()
    val scratch = Dedup.minhashLsh(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // random partition of the corpus into 1..4 batches, random order
    val splitGen = for {
      k <- Gen.chooseNum(1, 4)
      seed <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (k, seed)
    (1 to 3).foreach { _ =>
      val (k, seed) = sampled(splitGen)
      val store = tempDir("graft-prop-inc").toString + "/sigs"
      val order = new scala.util.Random(seed).shuffle((0 until k).toList)
      val got = order.map { part =>
        IncrementalDedup.appendBatch(spark, store,
            // pmod, not abs(h) % k: abs(Int.MinValue) overflows
            // negative and would silently drop that doc from every
            // batch (a ~n/2^32 seed-dependent flake)
            docs.filter(pmod(hash(col("doc_id"), lit(seed)), lit(k)) === part),
            "doc_id", "text")
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      }.reduce(_ union _)
      assert(got == scratch, s"split k=$k seed=$seed")
    }
    docs.unpersist()
  }

  test("repeated-span coverage is bounded by n_tok; an exact duplicate " +
    "of a long-enough doc is fully covered") {
    import graft.operators.RepeatedSpans
    val docGen = Gen.listOfN(40, for {
      n <- Gen.chooseNum(0, 30)
      toks <- Gen.listOfN(n, Gen.oneOf(
        "aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"))
    } yield toks.mkString(" "))
    val texts = sampled(docGen)
    // duplicate every third doc verbatim under a fresh id
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      texts.zipWithIndex.collect { case (t, i) if i % 3 == 0 =>
        (1000L + i, t) }
    val k = 4
    val out = RepeatedSpans.spanStats(rows.toDF("doc_id", "text"),
      "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    out.foreach { case (id, (nTok, dupTok)) =>
      assert(dupTok >= 0 && dupTok <= nTok, s"doc $id: $dupTok of $nTok")
    }
    rows.filter(_._1 >= 1000L).foreach { case (id, _) =>
      val (nTok, dupTok) = out(id)
      if (nTok >= k)
        assert(dupTok == nTok, s"duplicated doc $id should be fully covered")
    }
  }

  test("z-value is monotone in each dimension with the other fixed") {
    import graft.operators.ZOrder
    val pairGen = Gen.listOfN(150, for {
      x <- Gen.chooseNum(0L, 1023L)
      y <- Gen.chooseNum(0L, 1023L)
    } yield (x, y))
    val pts = sampled(pairGen).distinct
    val z = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.zValue(Seq(col("x"), col("y")), bits = 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.groupBy(_._2).values.foreach { sameY =>
      val sorted = sameY.sortBy(_._1)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(z(a) < z(b), s"z not monotone in x at $a -> $b")
      }
    }
    pts.groupBy(_._1).values.foreach { sameX =>
      val sorted = sameX.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(z(a) < z(b), s"z not monotone in y at $a -> $b")
      }
    }
  }

  test("portable rounding matches DuckDB-style scale-round on exact .5 cases") {
    // values whose 10^4-scaled double is exactly representable at .5
    val vals = Seq(0.03125, 0.484250, 0.000050, 0.99995, 0.12345)
    val got = vals.toDF("x")
      .select(TextFunctions.portableRound($"x", 4).as("r")).as[Double].collect()
    val expected = vals.map(v => math.floor(v * 10000.0 + 0.5) / 10000.0)
    assert(got.toSeq == expected)
  }

  test("line boilerplate below threshold is the identity (reassembly is lossless)") {
    // random multi-line docs with unique-per-doc lines: nothing reaches
    // minDocs, so clean_text must reproduce text BYTE-identically —
    // including blank lines, trailing newlines and tab edges
    val docGen = Gen.listOfN(60, for {
      id <- Gen.chooseNum(1L, 1000000L)
      lines <- Gen.listOf(Gen.oneOf("", " ", "\t", "alpha", "beta b"))
    } yield (id, lines.mkString("\n") + s" uniq$id"))
    val docs = sampled(docGen).distinctBy(_._1)
    val got = graft.operators.Dedup
      .lineBoilerplate(docs.toDF("doc_id", "text"), "doc_id", "text",
        minDocs = docs.size + 1)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == text, s"doc $id not reassembled losslessly")
    }
  }

  test("scd2 intervals partition each key's observed span with no overlaps") {
    val snapGen = Gen.listOfN(300, for {
      key <- Gen.chooseNum(1L, 8L)
      batch <- Gen.chooseNum(1, 40)
      v <- Gen.oneOf("A", "B", "C")
    } yield (key, batch, v))
    val snaps = sampled(snapGen).distinctBy(t => (t._1, t._2))
    val hist = graft.operators.Scd2
      .history(snaps.toDF("key", "batch", "v"), "key", "batch", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getInt(2),
        if (r.isNullAt(3)) Int.MaxValue else r.getInt(3), r.getBoolean(4)))
    hist.groupBy(_._1).foreach { case (key, rows) =>
      val sorted = rows.sortBy(_._2)
      // exactly one current, and it is the last
      assert(sorted.count(_._4) == 1 && sorted.last._4)
      // half-open intervals chain exactly: valid_to == next valid_from
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._3 == b._2, s"key $key: gap/overlap between $a and $b")
      }
      // first interval starts at the key's first observed batch
      val firstObs = snaps.filter(_._1 == key).map(_._2).min
      assert(sorted.head._2 == firstObs)
    }
  }

  test("bpe encode: piece count per word is within [1, word length] and total shrinks monotonically") {
    val words = Seq("alpha", "alphabet", "beta", "betamax", "gamma",
      "gam", "a", "ab", "abc")
    val docs = words.zipWithIndex.map { case (w, i) =>
      (i.toLong, (w + " ") * 3)
    }.toDF("doc_id", "text")
    val (_, v5) = graft.operators.Bpe.train(docs, "text", 5)
    val (_, v10) = graft.operators.Bpe.train(docs, "text", 10)
    val p5 = v5.as[(String, Long)].collect().toMap
    val p10 = v10.as[(String, Long)].collect().toMap
    words.foreach { w =>
      assert(p5(w) >= 1 && p5(w) <= w.length)
      assert(p10(w) <= p5(w), s"more merges can never grow $w's pieces")
    }
  }

  test("cdc chunks: for random strings the chunks exactly tile the " +
    "document, and a planted shared run yields a shared chunk hash") {
    import graft.operators.Chunking
    val w = 8
    val rand = Gen.listOfN(300,
      Gen.frequency((20, Gen.alphaLowerChar), (4, Gen.const(' ')),
        (2, Gen.numChar))).map(_.mkString)
    val casesV = sampled(Gen.listOfN(25, for {
      a <- rand; b <- rand
      // boundaries inside the run depend only on run content, so both
      // copies chunk its interior identically; ~9 expected boundaries
      // in 600 chars ⇒ a FULL common chunk exists w.p. ≈ 1 − 1e-3
      shared <- Gen.listOfN(600, Gen.alphaUpperChar).map(_.mkString)
      cutA <- Gen.chooseNum(0, 300); cutB <- Gen.chooseNum(0, 300)
    } yield (a.take(cutA) + shared + a.drop(cutA),
             b.take(cutB) + shared + b.drop(cutB))))
    val docs = casesV.zipWithIndex.flatMap { case ((ta, tb), i) =>
      Seq((2L * i, ta), (2L * i + 1, tb))
    }.toDF("doc_id", "text")
    val chunks = Chunking.cdcChunks(docs, "doc_id", "text", w, mask = 63)
      .collect()
    val lens = chunks.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("chunk_len")).sum).toMap
    val texts = casesV.zipWithIndex.flatMap { case ((ta, tb), i) =>
      Seq(2L * i -> ta, 2L * i + 1 -> tb) }.toMap
    texts.foreach { case (id, t) =>
      assert(lens(id) == t.length.toLong,
        s"doc $id: chunks must tile the text exactly")
    }
    // ONE shared chunk hash per planted pair: the shared run is long
    // enough that identical content-defined boundaries recur inside it
    // (same alphabet trick as the winnowing guarantee above). The run
    // is all-uppercase and the hosts are lowercase/digit/space, so a
    // shared hash cannot come from the host strings.
    val hs = chunks.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Long]("chunk_hash")).toSet).toMap
    val sharedCount = casesV.indices
      .count(i => hs(2L * i).intersect(hs(2L * i + 1)).nonEmpty)
    assert(sharedCount >= 22,
      s"only $sharedCount/25 planted pairs share a chunk — CDC boundary " +
        "locality is broken")
  }
}
