package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamIngestSpec extends SparkSpec {
  import org.apache.spark.sql.types._
  import spark.implicits._
  import graft.streaming.StreamIngest

  test("availableNow drains are exactly-once per file and upsert on key") {
    val work = tempDir("graft-ss").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))

    // the file source does not recurse: arrivals must be real files, so
    // write to a staging dir and move the part file in (as S3 put would)
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$work/stage-$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
    }

    arrive(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "f1.parquet")
    StreamIngest.ingestAvailableNow(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp")
    assert(MergeUpsert.readPlain(spark, s"$work/target").count() == 2)

    // corrected re-delivery: same key new value + a new key
    arrive(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), "f2.parquet")
    StreamIngest.ingestAvailableNow(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp")
    val got = MergeUpsert.readPlain(spark, s"$work/target")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("manifested availableNow drain: post-drain manifest matches the " +
    "batch-built twin; redelivery idempotent under manifest maintenance") {
    val work = tempDir("graft-ssm").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("date", StringType)))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$work/stage-$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
    }
    val b1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("k", "v", "date")
    val b2 = Seq((2L, "b2", "2024-01-02"), (3L, "c", "2024-01-02"))
      .toDF("k", "v", "date")
    arrive(b1, "f1.parquet"); arrive(b2, "f2.parquet")
    // explicit mod times: one file per micro-batch, f1 strictly first,
    // so the stream's merge ORDER equals the batch twin's
    val t0 = System.currentTimeMillis()
    new java.io.File(s"$work/in/f1.parquet").setLastModified(t0 - 60000L)
    new java.io.File(s"$work/in/f2.parquet").setLastModified(t0)
    StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp",
      maxFilesPerTrigger = Some(1))
    // batch twin: the same two batches merged through the batch path
    TableManifest.mergeWriteManifested(spark, s"$work/twin", b1,
      keys = Seq("k"))
    TableManifest.mergeWriteManifested(spark, s"$work/twin", b2,
      keys = Seq("k"))
    def manifestShape(p: String) = TableManifest.load(spark, p).get
      .select("part", "rows", "key_lo", "key_hi").collect()
      .map(_.toSeq).toSet
    assert(manifestShape(s"$work/target") == manifestShape(s"$work/twin"),
      "streamed manifest (part, rows, zones) must equal the batch twin's")
    def table(p: String) = TableManifest.readViaManifest(spark, p)
      .select("k", "v", "date").collect().map(_.toSeq).toSet
    assert(table(s"$work/target") == table(s"$work/twin"))
    // redelivery with a FRESH checkpoint (at-least-once delivery): the
    // merge stays last-writer-wins idempotent and the manifest shape is
    // unchanged — note f1/f2 re-merge in arrival order, so k=2 keeps b2
    StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp2",
      maxFilesPerTrigger = Some(1))
    assert(manifestShape(s"$work/target") == manifestShape(s"$work/twin"))
    assert(table(s"$work/target") == table(s"$work/twin"))
  }

  test("vacuumEvery bounds copy-on-write growth at streaming cadence: " +
    "post-drain storage equals the live file set, content unchanged") {
    val work = tempDir("graft-ssv").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("date", StringType)))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String,
               mod: Long): Unit = {
      val stage = s"$work/stage-$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
      new java.io.File(s"$work/in/$name").setLastModified(mod)
    }
    // four single-file batches ALL rewriting the same partition: the
    // copy-on-write growth worst case (one new generation per merge)
    val t0 = System.currentTimeMillis()
    (1 to 4).foreach { i =>
      arrive(Seq((i.toLong, s"v$i", "2024-01-01"), (100L + i, s"w$i",
        "2024-01-01")).toDF("k", "v", "date"),
        s"f$i.parquet", t0 - (5 - i) * 60000L)
    }
    StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp",
      maxFilesPerTrigger = Some(1), vacuumEvery = 1, keepVersions = 1)
    // the partition column reads back type-inferred (DATE); compare in
    // string space
    val got = TableManifest.readViaManifest(spark, s"$work/target")
      .select(col("k"), col("v"), col("date").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(got.size == 8 && got.contains(Seq(3L, "v3", "2024-01-01")))
    // keepVersions=1 + vacuum every batch → the partition dir holds
    // EXACTLY the live file set (without vacuum it would hold one
    // generation per merge); plain read agrees with the manifest read
    val dirFiles = new java.io.File(s"$work/target/date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val manifestFiles = TableManifest.load(spark, s"$work/target").get
      .count()
    assert(dirFiles.toLong == manifestFiles,
      s"vacuum cadence must hold storage at the live set: " +
        s"dir=$dirFiles manifest=$manifestFiles")
    assert(spark.read.parquet(s"$work/target")
      .select(col("k"), col("v"), col("date").cast("string"))
      .collect().map(_.toSeq).toSet == got)
  }

  test("crash between manifest flip and checkpoint commit: restart " +
    "replays the uncommitted batch and converges byte-identically") {
    val work = tempDir("graft-sscr").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("date", StringType)))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String,
               mod: Long): Unit = {
      val stage = s"$work/stage-$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
      new java.io.File(s"$work/in/$name").setLastModified(mod)
    }
    val t0 = System.currentTimeMillis()
    arrive(Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("k", "v", "date"), "f1.parquet", t0 - 60000L)
    arrive(Seq((2L, "b2", "2024-01-02"), (3L, "c", "2024-01-02"))
      .toDF("k", "v", "date"), "f2.parquet", t0)

    // clean-run twin: the byte-identical invariant's reference table
    StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
      s"$work/clean", Seq("k"), s"$work/cpc",
      maxFilesPerTrigger = Some(1))

    // crashed run: die AFTER batch 0's merge + manifest flip, BEFORE
    // its checkpoint commit — the exact interleaving the COW protocol
    // must survive (publish is ahead of the commit log)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
        s"$work/target", Seq("k"), s"$work/cp",
        maxFilesPerTrigger = Some(1),
        afterBatch = bid =>
          if (bid == 0) sys.error("injected crash between flip and commit"))
    }
    // the manifest DID flip before the crash (that is the case under test)
    assert(TableManifest.load(spark, s"$work/target").isDefined,
      "batch 0's manifest publish must precede the injected crash")

    // restart, SAME checkpoint: the uncommitted batch 0 is redelivered,
    // re-merged (last-writer-wins, idempotent), then batch 1 proceeds
    StreamIngest.ingestAvailableNowManifested(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp",
      maxFilesPerTrigger = Some(1))

    def table(p: String) = TableManifest.readViaManifest(spark, p)
      .select(col("k"), col("v"), col("date").cast("string"))
      .collect().map(_.toSeq).toSet
    def manifestShape(p: String) = TableManifest.load(spark, p).get
      .select("part", "rows", "key_lo", "key_hi").collect()
      .map(_.toSeq).toSet
    assert(table(s"$work/target") == table(s"$work/clean"),
      "replay must converge to the no-crash table")
    assert(manifestShape(s"$work/target") == manifestShape(s"$work/clean"),
      "replayed manifest (part, rows, zones) must equal the clean run's")
  }

  test("continuous trigger: micro-batches merge as files arrive, and a " +
       "restart from checkpoint resumes exactly-once") {
    val work = tempDir("graft-cont").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$work/stage-$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name"))
    }
    def target = MergeUpsert.readPlain(spark, s"$work/target")
      .orderBy("k").as[(Long, String)].collect().toSeq

    // run 1: two micro-batches under a ProcessingTime trigger
    arrive(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "f1.parquet")
    val q1 = StreamIngest.ingestContinuous(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp", interval = "100 milliseconds")
    try {
      q1.processAllAvailable()
      assert(target == Seq((1L, "a"), (2L, "b")))
      arrive(Seq((2L, "b2")).toDF("k", "v"), "f2.parquet")
      q1.processAllAvailable()
      assert(target == Seq((1L, "a"), (2L, "b2")))
    } finally q1.stop() // "kill" between micro-batches (offsets committed)

    // while the query is down, a file arrives — nobody processes it
    arrive(Seq((3L, "c")).toDF("k", "v"), "f3.parquet")
    assert(target == Seq((1L, "a"), (2L, "b2")))

    // run 2, SAME checkpoint: resumes with only the unseen file. The
    // versioned sink makes batch count observable: exactly 3 merges
    // total means f1/f2 were NOT re-merged on restart.
    val q2 = StreamIngest.ingestContinuous(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp", interval = "100 milliseconds")
    try {
      q2.processAllAvailable()
      assert(target == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
      assert(MergeUpsert.currentPlainVersion(spark, s"$work/target")
        .contains("v-0000000003"),
        "restart must not re-merge committed batches (one version per merge)")
    } finally q2.stop()
  }

  test("compaction cadence bounds live-version file decay under streaming") {
    val work = tempDir("graft-scomp").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$work/in"))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$work/stage-$name"
      // ONE file per arrival, ONE atomic move: the running 100 ms
      // trigger may list the source dir at any instant, and a
      // multi-file move loop can get split across two micro-batches
      // (observed as a rare suite-load flake), which shifts the exact
      // version-count assertion below. Merge-output file counts come
      // from the merge's own shuffle, not from arrival file counts, so
      // nothing this test asserts depends on multi-file arrivals.
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$work/in/$name.parquet"))
    }
    def liveFiles: Int = {
      val v = MergeUpsert.currentPlainVersion(spark, s"$work/target").get
      new java.io.File(s"$work/target/$v").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    val q = StreamIngest.ingestContinuous(spark, s"$work/in", schema,
      s"$work/target", Seq("k"), s"$work/cp", interval = "100 milliseconds",
      compactEvery = 2, compactTargetBytes = 1L << 30)
    try {
      (0 until 4).foreach { b =>
        arrive((1L to 40L).map(k => (k, s"b$b")).toDF("k", "v"),
          s"f$b")
        q.processAllAvailable()
      }
      // every 2nd data batch triggers a compaction republish: the live
      // version must be the single-file compacted layout, not the
      // merge parallelism's multi-file one
      assert(liveFiles == 1, s"live version should be compacted, got $liveFiles files")
      // 4 merge publishes + 2 cadence compaction publishes = version 6
      // (proves the cadence actually fired; liveFiles alone could pass
      // vacuously if AQE coalesced a tiny merge to one file)
      assert(MergeUpsert.currentPlainVersion(spark, s"$work/target")
        .contains("v-0000000006"),
        s"expected 2 compaction publishes, at ${
          MergeUpsert.currentPlainVersion(spark, s"$work/target")}")
      val got = MergeUpsert.readPlain(spark, s"$work/target")
        .orderBy("k").as[(Long, String)].collect().toSeq
      assert(got == (1L to 40L).map(k => (k, "b3")))
    } finally q.stop()
  }
}
