package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Validation
import graft.operators.{DimResolver, MergeUpsert}
import graft.sources.Tables

/** The ingest pipeline S1→P1→P2→P3→S8→J4→P4→S7 (+S11 lineage), one lazy
  * DataFrame plan end-to-end (reference: ingest_capacity.py:74-226).
  *
  * Where the reference runs pandas `iterrows()` row loops and a driver-side
  * dict pipeline, this is a single Catalyst plan: the CSV scan, projection,
  * validation cascade, dim-resolve broadcast join, and keyed merge all run
  * distributed with whole-stage codegen. The only driver-side values are
  * the lineage counters, gathered in one pass via `Dataset.observe`-style
  * counts over the split.
  */
object IngestJob {

  final case class IngestResult(rowsIn: Long, rowsLoaded: Long,
                                rowsRejected: Long, runId: String)

  /** S1 + P1: scan the CSV with an explicit all-string schema and apply
    * the rename map, failing fast if required source columns are missing
    * (reference: ingest_capacity.py:100,106-123). */
  def scanAndRename(spark: SparkSession, csvPath: String,
                    renameMap: Seq[(String, String)] = Tables.hhsRenameMap): DataFrame = {
    val raw = spark.read.option("header", "true").csv(csvPath)
    val missing = renameMap.map(_._1).filterNot(raw.columns.contains)
    require(missing.isEmpty, s"Missing required columns: ${missing.mkString(", ")}")
    // _metadata is only resolvable on the scan itself, so the split's
    // file offset is captured here: it anchors the last-writer-wins
    // priority to TRUE file order even when one file spans several
    // splits (split→partition assignment orders by split size, not
    // offset — see validateSplit)
    raw.select(renameMap.map { case (src, dst) => col(src).as(dst) } :+
      col("_metadata.file_block_start").as("_graft_block_start"): _*)
  }

  /** P2 + P3: parse, run the ordered validation cascade, and split.
    * Input columns: date, region, total_beds, occupied_beds, icu_beds,
    * icu_occupied (all string). Returns (accepted-typed, rejected-raw). */
  def validateSplit(renamed: DataFrame): (DataFrame, DataFrame) = {
    val withIdx = renamed
      .withColumn("_original_index",
        monotonically_increasing_id()) // reject provenance (S8)
      // Last-writer-wins priority: (file path, split offset, row index)
      // — TRUE global file order, independent of split sizing:
      //   · file path dominates → later file wins across files;
      //   · _graft_block_start (the split's byte offset, captured from
      //     _metadata at the scan) orders splits WITHIN a file — Spark
      //     assigns splits to partitions by size, not offset, so the
      //     monotonic id alone is layout-dependent for multi-split
      //     files;
      //   · within one split rows are parsed sequentially, so the
      //     monotonic id gives exact row order there.
      // reuses _original_index rather than a second independent
      // monotonically_increasing_id(): two instances of a
      // nondeterministic expression only agree while they stay in one
      // collapsed projection — referencing the column is provably stable
      .withColumn("_src_order",
        struct(input_file_name().as("f"),
          (if (renamed.columns.contains("_graft_block_start"))
             col("_graft_block_start") else lit(0L)).as("b"),
          col("_original_index").as("i")))
    // try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    // cell must become a reject row (P2/P3), not a query error.
    val typed = withIdx
      .withColumn("_date_parsed", col("date").try_cast("date"))
      .withColumn("_total_beds", col("total_beds").try_cast("int"))
      .withColumn("_occupied_beds", col("occupied_beds").try_cast("int"))
      .withColumn("_icu_beds", col("icu_beds").try_cast("int"))
      .withColumn("_icu_occupied", col("icu_occupied").try_cast("int"))
    val reason = Validation.rejectReason(Validation.capacityRules(
      date = col("date"), dateParsed = col("_date_parsed"),
      region = col("region"),
      totalBeds = col("_total_beds"), occupiedBeds = col("_occupied_beds"),
      icuBeds = col("_icu_beds"), icuOccupied = col("_icu_occupied")))
    val flagged = typed.withColumn("_reject_reason", reason)
    val accepted = flagged.filter(col("_reject_reason").isNull)
      .select(
        col("_date_parsed").as("date"), col("region"),
        col("_total_beds").as("total_beds"),
        col("_occupied_beds").as("occupied_beds"),
        col("_icu_beds").as("icu_beds"),
        col("_icu_occupied").as("icu_occupied"),
        // kept for last-writer-wins in-batch dedup (reference row order)
        col("_src_order"))
    // the block-start column is plumbing for _src_order, not user data —
    // keep it out of the reject sink's provenance columns
    val rejected = flagged.filter(col("_reject_reason").isNotNull)
      .select(renamed.columns.filterNot(_ == "_graft_block_start").map(col) :+
        col("_reject_reason") :+ col("_original_index"): _*)
    (accepted, rejected)
  }

  /** Full ingest: CSV → validated facts merged into `capacityPath`,
    * rejects to `rejectsPath` (S8), dims get-or-created at `regionsPath`
    * (J4), lineage rows at `runsPath` (S11). */
  def run(spark: SparkSession, csvPath: String, capacityPath: String,
          regionsPath: String, rejectsPath: String, runsPath: String,
          runId: String, source: String,
          now: java.sql.Timestamp): IngestResult = {
    Lineage.append(spark, runsPath,
      Lineage.RunState(runId, source, "running", now))
    try {
      val renamed = scanAndRename(spark, csvPath)
      // S11 lineage counters ride the main pass via Dataset.observe
      // (SURVEY §2.1): the input count and reject count both fire on
      // the reject-sink write (the input observe node is below the
      // split, so the reject branch's plan contains it), and
      // loaded = in − rejected because the validation split partitions
      // the input (ValidationSpec proves disjoint + complete). No
      // dedicated count() jobs. NOTE: a below-cache observation failed
      // to surface in this pipeline's shape (first consuming action =
      // the dim write over a pruned in-memory scan returned an empty
      // metrics map) — whether cache-interior metrics fire is
      // shape-dependent on Spark 4.1.2, so the counters sit on the
      // uncached reject branch, where firing is unconditional.
      val obsIn = new org.apache.spark.sql.Observation("graft_rows_in")
      val obsRej = new org.apache.spark.sql.Observation("graft_rejected")
      val (accepted, rejected) = validateSplit(
        renamed.observe(obsIn, count(lit(1)).as("n")))
      val cachedAccepted = accepted.cache()

      // S8 — reject sink with reasons (ingest_capacity.py:146-153)
      rejected.observe(obsRej, count(lit(1)).as("n"))
        .write.mode("overwrite").option("header", "true")
        .csv(s"$rejectsPath/capacity_rejects_$runId")
      val rowsRejected = obsRej.get("n").asInstanceOf[Long]
      val rowsIn = obsIn.get("n").asInstanceOf[Long]
      val rowsLoaded = rowsIn - rowsRejected

      // J4 — dim get-or-create + key substitution
      val dimExists = recoverSwap(spark, regionsPath)
      val dim0 =
        if (dimExists)
          spark.read.schema(Tables.regionsSchema).parquet(regionsPath)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Tables.regionsSchema)
      val (dim1, _) = DimResolver.getOrCreate(
        dim0.withColumn("created_at", coalesce(col("created_at"), lit(now))),
        cachedAccepted.select(col("region").as("name")))
      val dimOut = dim1.withColumn("created_at", coalesce(col("created_at"), lit(now)))
      dimOut.write.mode("overwrite").parquet(s"$regionsPath.tmp")
      swap(spark, s"$regionsPath.tmp", regionsPath, dimExists)

      // In-batch duplicate (date, region) rows: the LAST row in file
      // order wins, like the reference's ON CONFLICT DO UPDATE loop —
      // dedup by (file path, intra-file position) before the keyed merge.
      val facts = MergeUpsert.dedupByPriority(
        DimResolver.resolveKeys(
          cachedAccepted.withColumnRenamed("region", "name"),
          spark.read.schema(Tables.regionsSchema).parquet(regionsPath),
          factNameCol = "name"),
        keys = Seq("date", "region_id"), priorityCol = "_src_order")
        .select(col("date"), col("region_id"), col("total_beds"),
          col("occupied_beds"), col("icu_beds"), col("icu_occupied"),
          lit(runId).as("source_run_id"))

      // S7 — idempotent keyed merge on (date, region_id), through the
      // file manifest: the existing-rows read plans from per-file
      // zones instead of an O(partitions) root listing, and each
      // publish refreshes only the touched partitions' manifest rows
      // (MergeStress: merge 8.0→2.1 s, lookup 4.6→0.4 s at 2400
      // partitions). region_id zones serve the point-lookup path.
      graft.operators.TableManifest.mergeWriteManifested(spark,
        capacityPath, facts, keys = Seq("date", "region_id"),
        zoneKey = Some("region_id"))

      Lineage.append(spark, runsPath, Lineage.RunState(runId, source,
        "success", now, Some(now), Some(rowsIn), Some(rowsLoaded),
        Some(rowsRejected)))
      cachedAccepted.unpersist()
      IngestResult(rowsIn, rowsLoaded, rowsRejected, runId)
    } catch {
      case e: Throwable =>
        Lineage.append(spark, runsPath, Lineage.RunState(runId, source,
          "failed", now, Some(now), notes = Some(e.getMessage)))
        throw e
    }
  }

  /** Where [[swap]] parks the live dim dir while the new one moves in. */
  private def aside(dst: String): String = s"$dst.old"

  /** Dim directory swap for the non-partitioned dim rewrite (SURVEY.md
    * §7.4.4 — write-new-then-swap), in three steps whose order keeps a
    * complete dim table on disk at every point: the live `dst` is
    * renamed aside, `tmp` is renamed in, then the aside copy is
    * deleted. `dst` keeps its flat layout (readers use a plain
    * `spark.read.parquet`). A crash between the two renames leaves only
    * the aside copy, which [[recoverSwap]] restores on the next run;
    * a crash before the delete leaves a stale aside copy, removed here
    * before it could be renamed into. `dstExists` is the caller's
    * [[recoverSwap]] result. */
  private def swap(spark: SparkSession, tmp: String, dst: String,
                   dstExists: Boolean): Unit = {
    val fs = fsFor(spark, dst)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val asideP = new org.apache.hadoop.fs.Path(aside(dst))
    if (dstExists) {
      if (fs.exists(asideP)) fs.delete(asideP, true)
      if (!fs.rename(dstP, asideP))
        throw new java.io.IOException(s"cannot move $dst aside")
    }
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dstP))
      throw new java.io.IOException(s"cannot swap $tmp into $dst")
    if (dstExists) fs.delete(asideP, true)
    // Spark's shared FileStatusCache would otherwise serve the deleted
    // file listing to the next read of this path.
    spark.catalog.refreshByPath(dst)
  }

  /** Whether the dim dir `dst` exists, after restoring it from
    * [[swap]]'s aside copy when a crash between the swap's two renames
    * left it missing. */
  private def recoverSwap(spark: SparkSession, dst: String): Boolean = {
    val fs = fsFor(spark, dst)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val asideP = new org.apache.hadoop.fs.Path(aside(dst))
    fs.exists(dstP) || (fs.exists(asideP) && fs.rename(asideP, dstP))
  }

  private def fsFor(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
}
