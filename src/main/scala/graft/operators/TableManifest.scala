package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File manifest for keyed, date-partitioned parquet tables — the
  * Delta/Iceberg idea reduced to its load-bearing core: readers and
  * point lookups plan from a SMALL metadata table instead of an
  * O(partitions) recursive directory listing, which MergeStress
  * measured as the dominant cost of incremental merges and point
  * lookups at 2400 partitions (PERF.md round-8 — "the argument for a
  * manifest-backed table format in front of the same merge plan").
  *
  * One row per data file: (file, part, rows, key lo/hi) — the zone-map
  * stats (x140) keyed by file, published through the same atomic
  * `_CURRENT`-pointer protocol as every other store in this engine
  * ([[MergeUpsert]]'s versioned plain store on `path/_manifest`; the
  * underscore prefix keeps it invisible to plain parquet readers of
  * `path`).
  * Maintenance is O(touched): after a merge rewrites k partitions, only
  * those partitions' NEW files are scanned and their rows replaced; the
  * publish is the same pointer flip the data itself gets.
  *
  * COPY-ON-WRITE data protocol (round 12): a merge or compaction
  * APPENDS new immutable files and never deletes — what changes is
  * which files the freshly published manifest version references. That
  * makes every retained manifest version a complete, readable SNAPSHOT
  * of the table ([[readVersion]] time travel; an in-flight reader that
  * planned from the previous version keeps valid files under its
  * feet), at the price that the partition dirs accumulate superseded
  * files until [[vacuum]] reclaims the ones no retained version
  * references. Consequently a manifested table is NOT plain-readable
  * after its first rewrite — `spark.read.parquet(path)` would see both
  * generations; every read must plan from the manifest
  * ([[readViaManifest]] / [[readPartitions]] / [[lookup]]), exactly
  * Delta's contract for its log.
  *
  * ONE COMMIT: the four writers — [[mergeWriteManifested]] (the
  * engine's keyed partitioned merge), [[appendManifested]],
  * [[replacePartitions]], [[compactManifested]] — each add only their
  * own data step to the same private `commit`:
  *  1. pin the manifest base version and read its contents from that
  *     version's own path (`pin`);
  *  2. list the landing partition dirs before and after the data write
  *     — the difference is exactly the new files, no committer hook;
  *  3. compute the new files' manifest rows (`statsForFiles`);
  *  4. drop the replaced partitions and files from the pinned manifest;
  *  5. publish ONE manifest file through the flip guarded against the
  *     pinned version, inside the metadata window.
  * A concurrent publish since the pin is refused at the flip
  * (ConcurrentModificationException); a crash anywhere before the flip
  * leaves unreferenced files that no reader sees and [[vacuum]]
  * reclaims. The seam between steps 2 and 3 is where both land.
  *
  * Reference: the reference stores rows in Postgres where point
  * lookups ride a B-tree (`backend/app/main.py:110-373`); at 100 TB the
  * manifest's (partition, key-range) pruning is the distributed
  * equivalent of that index. */
object TableManifest {

  private def manifestPath(path: String) = s"$path/_manifest"

  /** Driver-side planning bound: a manifest read materializes the
    * MATCHING file rows (never the whole manifest) on the driver to
    * hand Spark an explicit file list — one string per data file, the
    * same driver cost Delta pays to plan a scan. At the Delta-scale
    * contract of ~100 MB–1 GB data files, 2M rows ≈ 200 TB–2 PB of
    * addressed data; a collect beyond it means the table needs
    * [[compactManifested]], not a bigger driver. */
  private val MaxPlanFiles = 2000000

  /** [[vacuum]]'s driver-fast-path gates: at most this many partition
    * dirs are listed driver-side, and at most this many on-disk files
    * set-diffed in driver memory (≈ a few MB of path strings). Past
    * either, vacuum switches to the distributed listing + anti-join —
    * the 1e6-file MergeStress shape. */
  private val VacuumDriverMaxParts = 256
  private val VacuumDriverMaxFiles = 100000

  /** `input_file_name()` returns the URI-ENCODED path (SparkPath's
    * url-encoded form); the manifest stores the DECODED filesystem
    * path, so re-reads address the literal on-disk names (a partition
    * value with a space yields a dir with a literal space but a `%20`
    * in the URI form — reading the encoded string back would miss it).
    * `url_decode` form-decodes `'+'` to space, so literal `'+'` is
    * protected first; a real `'%'` in the name is always `%25` in the
    * URI form, so one decode is exact. */
  private[operators] def decodeUri(c: Column): Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  /** Scheme-and-slash-count–insensitive identity for a file path:
    * manifest rows carry `input_file_name`'s decoded URI form
    * (`file:///tmp/...`) while FileSystem listings print `file:/tmp/...`
    * — both normalize to the same raw `/tmp/...` through the Path→URI
    * round-trip (which [[TableManifestSpec]] proves for names carrying
    * spaces, '%', '+', ':'). Used ONLY for set membership
    * ([[vacuum]]'s live/dead split); reads use the original strings. */
  private def canon(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** [[canon]] as a column (vacuum's distributed live/dead split runs
    * it on executors). A UDF, deliberately: the normalization must be
    * THE SAME function the spec proves on hostile names — replicating
    * Path→URI semantics in regexp would fork the definition. Metadata
    * scale only (manifest rows and dir listings), never row data. */
  private val canonCol =
    udf((s: String) => new org.apache.hadoop.fs.Path(s).toUri.getPath)

  private def partDir(path: String, partitionCol: String, v: Any): String =
    s"$path/$partitionCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v.toString)

  /** The given partition values' current on-disk parquet files, with
    * their byte lengths — k LIST calls against the partition DIRS
    * (absent dirs contribute nothing), never a recursive root listing.
    * The before/after pair of these listings around a copy-on-write
    * append is how the new files are identified without any committer
    * hook. */
  private def listPartFiles(spark: SparkSession, path: String,
                            partitionCol: String,
                            parts: Seq[Any]): Map[String, Long] = {
    val fs = MergeUpsert.fsFor(spark, path)
    parts.flatMap { v =>
      val d = new org.apache.hadoop.fs.Path(partDir(path, partitionCol, v))
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toIndexedSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.toString -> st.getLen)
    }.toMap
  }

  /** On-disk parquet bytes under the given partitions' dirs — the
    * output-sizing input of a fold (metadata only: superseded
    * copy-on-write generations still on disk overcount by at most the
    * retention factor, which only rounds a file-count target up). */
  def partitionBytes(spark: SparkSession, path: String,
                     partitionCol: String, parts: Seq[Any]): Long =
    listPartFiles(spark, path, partitionCol, parts).values.sum

  /** Per-file KEY-BLOOM sizing (the `key_bloom` manifest column an
    * epoch-partitioned keyed store opts into via `bloomKeys`): 32 bits
    * per key, k = 16 → FPP ≈ 3e-7 per (key, file) probe. The FPP budget
    * is sized to the probe's fan-out — a batch probes every retained
    * file's bloom, so per-batch expected false fires ≈ batch keys ×
    * files × FPP, and each false fire costs one spurious copy-on-write
    * file rewrite (never a wrong row). Bits are clamped to
    * [[BloomMinBits]], [[BloomMaxBits]] (a capped file merely degrades
    * toward more false fires). */
  private[operators] val BloomKeyK = 16
  private val BloomBitsPerKey = 32L
  private val BloomMinBits = 2048L
  private val BloomMaxBits = 1L << 26

  /** One manifest row per given data file — O(new files), the
    * incremental refresh unit of every copy-on-write publish.
    *
    * `bloomKeys` (the epoch-store contract, see
    * [[filesMaybeContaining]]) adds two columns: `bloom_m` (bloom bit
    * count, sized to the file's row count) and `key_bloom` (dense
    * array<long> bitmap over xxhash64 of the key columns). Costs one
    * extra pass over the same just-written, cache-warm files. */
  private def statsForFiles(spark: SparkSession, path: String,
                            files: Seq[String], partitionCol: String,
                            keyCol: String,
                            bloomKeys: Option[Seq[String]] = None)
      : DataFrame = {
    val base = spark.read.option("basePath", path)
      .parquet(files: _*)
      .groupBy(decodeUri(input_file_name()).as("file"),
        col(partitionCol).cast("string").as("part"))
      .agg(count(lit(1)).as("rows"),
        min(col(keyCol)).cast("string").as("key_lo"),
        max(col(keyCol)).cast("string").as("key_hi"))
    bloomKeys match {
      case None => base
      case Some(bk) =>
        // m per file from the row count (round up to whole words)
        val sized = base.select(col("file"),
          least(lit(BloomMaxBits), greatest(lit(BloomMinBits),
            shiftleft(shiftright(col("rows") * BloomBitsPerKey + 63, 6), 6)))
            .as("bloom_m"))
        val hashed = spark.read.option("basePath", path)
          .parquet(files: _*)
          .select(decodeUri(input_file_name()).as("file"),
            BloomFilter.keyHashCols(bk.map(col)).as("h"))
        val words = hashed.join(broadcast(sized), Seq("file"))
          .select(col("file"), col("bloom_m"),
            explode(array(BloomFilter.positionsDyn(col("h"), col("bloom_m"),
              BloomKeyK): _*)).as("pos"))
          .groupBy(col("file"), col("bloom_m"),
            shiftright(col("pos"), 6).as("widx"))
          .agg(bit_or(call_function("shiftleft", lit(1L),
            (col("pos") % 64).cast("int"))).as("word"))
        // LINEAR dense assembly (r17 step-profile finding) — the
        // gap-fill walk lives in BloomFilter.denseWords (factored so
        // HofAudit times the exact production expression; its scaladoc
        // carries the O((m/64)^2) history this replaced)
        val blooms = words.groupBy("file", "bloom_m")
          .agg(array_sort(collect_list(struct(col("widx"), col("word"))))
            .as("ws"))
          .select(col("file"), col("bloom_m"),
            BloomFilter.denseWords(col("ws"), col("bloom_m"))
              .as("key_bloom"))
        // left join (never loses a stats row), though every file with a
        // stats row has >= 1 row and therefore a bloom; a null bloom
        // reads as always-maybe at the probe
        base.join(blooms, Seq("file"), "left")
    }
  }

  /** The manifest version a writer plans from, and that version's
    * contents (None/None before the first publish; a legacy flat
    * manifest has contents but no version, so no guard is possible). */
  private final case class Pinned(version: Option[String],
                                  manifest: Option[DataFrame])

  /** Pin the manifest base FIRST, with the contents read explicitly
    * from THAT version's path (r14 advice): reading the live manifest
    * and the pointer separately left a window where a concurrent
    * publish landing between the two paired stale contents with the
    * new pointer — the flip guard passed and the new manifest silently
    * unreferenced the interleaver's files. */
  private def pin(spark: SparkSession, path: String): Pinned = {
    val (v, m) = MergeUpsert.pinnedPlain(spark, manifestPath(path))
    Pinned(v, m)
  }

  /** Test seam on [[commit]], called with the table path after the
    * data write and before the manifest publish — where a concurrent
    * writer's flip or a crash lands. A no-op outside the specs. */
  @volatile private[operators] var beforePublish: String => Unit = _ => ()

  /** The copy-on-write commit every writer ends in (see the object
    * scaladoc): `write` lands the writer's data under the `landing`
    * partitions; the files it added there are registered,
    * `dropParts`/`dropFiles` leave the pinned manifest, and one
    * manifest version is published against `base.version`.
    *
    * Nothing landed and nothing dropped publishes nothing — an empty
    * batch into an epoch store is a no-op, not a version bump per tick
    * (the drop probe is one limit(1) over the tiny manifest, run only
    * when there is something to drop).
    *
    * The metadata window is skipped when another thread holds a scoped
    * window ([[graft.ScopedSessionConf.withMetaConfUnlessHeldElsewhere]]):
    * StreamCuration's store merges commit from helper threads of its
    * batch window, which already runs at micro sizing. */
  private def commit[T](spark: SparkSession, path: String, base: Pinned,
                        partitionCol: String, landing: Seq[Any],
                        zoneKey: String, retainVersions: Int,
                        dropParts: Seq[Any] = Nil,
                        dropFiles: Seq[String] = Nil,
                        bloomKeys: Option[Seq[String]] = None)
                       (write: => T): T = {
    val before = listPartFiles(spark, path, partitionCol, landing).keySet
    val out = write
    val newFiles =
      (listPartFiles(spark, path, partitionCol, landing).keySet -- before)
        .toSeq
    beforePublish(path)
    // manifest maintenance is METADATA-scale always (rows = file
    // count, bounded by MaxPlanFiles) — its stats agg and publish
    // write must not inherit the session's data-sized shuffle count
    // (measured ~0.3 s/publish of pure tiny-task overhead at 32) nor
    // AQE (every exchange = one query-stage JOB of scheduler latency;
    // JobCount r17: 60-80% of each protocol row's jobs)
    graft.ScopedSessionConf.withMetaConfUnlessHeldElsewhere(spark, 4) {
      // `dropFiles` drops SPECIFIC superseded files (the epoch stores'
      // per-file steal rewrite — file granularity, so a fired bloom
      // never forces a whole-partition rewrite); strings match exactly
      // because callers take them from this manifest's rows
      def isIn(c: String, vs: Seq[String]) =
        if (vs.isEmpty) lit(false) else col(c).isin(vs: _*)
      val drops = dropParts.nonEmpty || dropFiles.nonEmpty
      val dropped = isIn("part", dropParts.map(_.toString)) ||
        isIn("file", dropFiles)
      val kept = base.manifest.map(m => if (drops) m.filter(!dropped) else m)
      val fresh =
        if (newFiles.isEmpty) None
        else Some(statsForFiles(spark, path, newFiles, partitionCol, zoneKey,
          bloomKeys))
      def dropsAnything = drops &&
        base.manifest.exists(m => !m.filter(dropped).limit(1).isEmpty)
      val next = (kept, fresh) match {
        case (Some(k), Some(f)) => Some(k.unionByName(f))
        case (Some(k), None) => if (dropsAnything) Some(k) else None
        case (None, f) => f
      }
      // coalesce(1): a manifest version is metadata (one row per data
      // file) and is re-read/collected on EVERY subsequent store read
      // and probe — one file per version beats shuffle-partition-many
      // KB-sized files at streaming cadence (r17; a 1e6-row manifest is
      // still a single ~50 MB task, maintenance-scale)
      next.foreach { m =>
        MergeUpsert.publishPlainFrom(spark, manifestPath(path),
          m.coalesce(1), retainVersions, base.version)
      }
    }
    out
  }

  /** The live manifest, or None before the first publish. */
  def load(spark: SparkSession, path: String): Option[DataFrame] =
    MergeUpsert.existingPlain(spark, manifestPath(path))

  /** The matching file rows' paths, collected BOUNDED: only rows whose
    * partition matches reach the driver (O(files in the requested
    * partitions), never O(table files)). */
  private def keptFiles(m: DataFrame, parts: Seq[String]): Array[String] = {
    val kept = m.filter(col("part").isin(parts: _*))
      .select("file").collect().map(_.getString(0))
    require(kept.length <= MaxPlanFiles,
      s"${kept.length} files match ${parts.length} partitions — beyond " +
        s"the $MaxPlanFiles-file planning bound; compact the table " +
        "(compactManifested) before reading this partition set")
    kept
  }

  /** An explicit-file-list read that stays schema-correct when the
    * list is empty: one manifest-listed file is read (for its schema)
    * under a false filter. `mergeSchema` reconciles files written under
    * EVOLVED schemas (add-column appends — x244): absent columns read
    * null, at the cost of a footer read per listed file (distributed,
    * but not free — leave it off for fixed-schema tables). */
  private def readFiles(spark: SparkSession, path: String, m: DataFrame,
                        kept: Seq[String],
                        mergeSchema: Boolean = false): DataFrame = {
    val rd = spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema.toString)
    if (kept.isEmpty) {
      val sample = m.select("file").limit(1).collect()
      require(sample.nonEmpty, s"manifest at $path lists no files")
      rd.parquet(sample.head.getString(0)).filter(lit(false))
    } else rd.parquet(kept: _*)
  }

  /** Past this estimated distinct-key count a keyed merge's anti-join
    * shuffles the batch keys instead of broadcasting them, and its
    * write keeps AQE: a backfill-scale key set — whether spread over
    * 600 dates or packed into 2 — would make the broadcast the
    * bottleneck (MergeStress's backfill and few-huge shapes). */
  private val BroadcastMaxKeys = 500000L

  /** ONE stats pass over a merge batch: the touched-partition IN-list
    * (small by construction — one ingest covers few dates) and the
    * key-cardinality estimate the join decision needs. The same
    * aggregate counts null partition values and refuses them: the row
    * would land under the `__HIVE_DEFAULT_PARTITION__` dir, which the
    * IN-list (collect_set drops nulls) never names, so the commit
    * would never register its file and every manifest-planned read
    * would silently miss it. */
  private def batchStats(updates: DataFrame, keys: Seq[String],
                         partitionCol: String): (Seq[Any], Long) = {
    // AQE off for the collect: a global agg's exchange carries one
    // partial row per map task regardless of batch size (nothing to
    // adapt), and AQE would materialize it as its own query-stage JOB —
    // pure scheduler latency on every merge (JobCount r17)
    val statsRow = graft.ScopedSessionConf.withConf(
        updates.sparkSession, "spark.sql.adaptive.enabled", "false") {
      updates.agg(
        collect_set(col(partitionCol)).as("parts"),
        approx_count_distinct(xxhash64(keys.map(col): _*)).as("key_est"),
        count(when(col(partitionCol).isNull, lit(1))).as("null_parts"))
        .collect().head
    }
    val nullParts = statsRow.getLong(2)
    if (nullParts > 0)
      throw new IllegalArgumentException(
        s"$nullParts batch row(s) have a null partition column " +
          s"'$partitionCol' — a keyed merge cannot register them")
    (statsRow.getSeq[Any](0), statsRow.getLong(1))
  }

  /** The engine's keyed partitioned merge (S7 — the reference's
    * `INSERT ... ON CONFLICT (date, region_id) DO UPDATE`), copy-on-write
    * under the manifest: rows of `updates` replace same-key rows, and
    * ONLY the partitions the batch touches are read and rewritten.
    *  1. one stats pass over the batch (touched partitions + key
    *     estimate, O(batch));
    *  2. the touched partitions' existing rows, planned from the
    *     pinned manifest (file list per partition, zero root listing —
    *     MergeStress measured the O(partitions) recursive listing as
    *     the dominant cost of incremental merges at 2400 partitions);
    *  3. [[MergeUpsert.merge]], broadcasting the batch's key set while
    *     its estimate stays under [[BroadcastMaxKeys]];
    *  4. one file per touched date, rows sorted by the keys (clustered
    *     row groups — parquet min/max stats prune key lookups inside
    *     each date file);
    *  5. APPENDED as new immutable files; the commit registers exactly
    *     those and drops the touched partitions' old rows. The
    *     superseded generation stays on disk for retained-version
    *     readers and [[readVersion]] until [[vacuum]].
    * No manifest yet means nothing to read: the batch is deduplicated
    * on `keys` and written through the same layout and commit. Files
    * under `path` that no manifest version registers are invisible to
    * the merge, as to every manifest-planned read. A crash between the
    * append and the manifest publish leaves unreferenced files that no
    * reader ever sees and [[vacuum]] reclaims.
    *
    * Rows with a null `partitionCol` are refused
    * (IllegalArgumentException) before anything is written.
    *
    * `zoneKey` picks the manifest's zone column (default `keys.head`);
    * it must stay the same across every publish to a table — mixed-key
    * zones would make [[lookup]]'s typed zone cast silently prune
    * wrong. */
  def mergeWriteManifested(spark: SparkSession, path: String,
                           updates: DataFrame, keys: Seq[String],
                           partitionCol: String = "date",
                           zoneKey: Option[String] = None,
                           retainVersions: Int = 2)
      : MergeUpsert.MergeWriteReport = {
    // the base is pinned before any work, so a second manifested writer
    // interleaving anywhere in the merge+append span is refused at the
    // flip instead of silently unreferencing the other writer's publish
    val base = pin(spark, path)
    val (touched, keyEst) = batchStats(updates, keys, partitionCol)
    val incremental = keyEst <= BroadcastMaxKeys
    commit(spark, path, base, partitionCol, touched,
      zoneKey.getOrElse(keys.head), retainVersions, dropParts = touched) {
      val merged = base.manifest match {
        case Some(m) =>
          val existing = readFiles(spark, path, m,
            keptFiles(m, touched.map(_.toString)).toIndexedSeq)
          MergeUpsert.merge(existing, updates, keys,
            broadcastKeys = incremental)
        case None => updates.dropDuplicates(keys)
      }
      val laidOut = merged
        .repartition(col(partitionCol)) // one task per date → one file per date
        .sortWithinPartitions(keys.map(col): _*)
      // incremental-sized batches also drop AQE for the write: the
      // plan's exchanges (update dedup, the layout repartition) would
      // each materialize as a sequential query-stage JOB, and an
      // incremental merge has nothing for AQE to adapt. Backfill-scale
      // batches keep AQE (skew + coalescing matter there).
      if (incremental)
        graft.ScopedSessionConf.withConf(spark,
          "spark.sql.adaptive.enabled", "false") {
          appendFiles(spark, path, laidOut, partitionCol)
        }
      else appendFiles(spark, path, laidOut, partitionCol)
    }
    MergeUpsert.MergeWriteReport(touched.length, keyEst,
      broadcastKeys = base.manifest.isDefined && incremental)
  }

  /** Wholesale COPY-ON-WRITE replacement of a PARTITION SET's
    * contents: `df` (whose rows must all fall in `replaceParts` — the
    * caller owns that containment) is appended as new immutable files,
    * and one atomic manifest publish drops every existing row of
    * `replaceParts` while adding exactly the new files. Partitions
    * outside `replaceParts` are untouched — this is the fold primitive
    * for merge-on-read layouts (StreamCuration's curated epochs: N
    * published epoch partitions minus a deletes store collapse into
    * one fresh epoch, while unpublished epochs above the fold keep
    * accumulating). The superseded generation stays on disk for
    * retained-version readers ([[readVersion]]) until [[vacuum]].
    * Same interleave guard as every writer here: a concurrent publish
    * is refused at the flip and this call's appended files stay
    * vacuumable orphans.
    *
    * The first write BOOTSTRAPS (no manifest yet → nothing to drop):
    * replacePartitions doubles as the idempotent "this partition's
    * contents ARE this frame" writer (StreamCuration's epoch inserts).
    * `landing` names every partition value `df` writes: only those
    * dirs get the before/after listing (the dropped partitions leave
    * the manifest by name), and a missed value leaves that dir's new
    * files unregistered. Callers know it from how they built `df`, so
    * `df` executes exactly once, in the write.
    * `replaceFiles` additionally drops specific files of other
    * partitions (the epoch stores' per-file steal rewrite). An empty
    * `df` that drops nothing publishes nothing. */
  def replacePartitions(spark: SparkSession, path: String, df: DataFrame,
                        keyCol: String, partitionCol: String,
                        replaceParts: Seq[Any],
                        landing: Seq[Any],
                        retainVersions: Int = 2,
                        replaceFiles: Seq[String] = Nil,
                        bloomKeys: Option[Seq[String]] = None): Unit = {
    val base = pin(spark, path)
    commit(spark, path, base, partitionCol, landing, keyCol, retainVersions,
      dropParts = replaceParts, dropFiles = replaceFiles,
      bloomKeys = bloomKeys)(appendFiles(spark, path, df, partitionCol))
  }

  /** Append `df` as new files of the partitioned table at `path`. */
  private def appendFiles(spark: SparkSession, path: String, df: DataFrame,
                          partitionCol: String): Unit = {
    df.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path)
    spark.catalog.refreshByPath(path)
  }

  /** The manifest files whose per-file key bloom MIGHT contain any of
    * `probe`'s keys — the epoch-store steal detector: an
    * epoch-partitioned keyed store carries the reused-key overwrite
    * contract not by partition pruning (arbitrary keys overlap every
    * epoch's range) but by probing every retained file's bloom with the
    * batch's key set; almost always nothing fires (append-only
    * batches), and a genuine reuse names exactly the files holding the
    * stolen keys. Returns (file, part) pairs.
    *
    * ONE small job: the distinct probe-key hashes against the
    * broadcast manifest bloom rows under a codegen'd membership
    * condition (broadcast nested loop — per-pair cost is k map
    * lookups). Rows without a bloom (legacy publishes) are
    * always-maybe. `bloomKeys` must match the writes'. */
  def filesMaybeContaining(spark: SparkSession, path: String,
                           probe: DataFrame, bloomKeys: Seq[String])
      : Seq[(String, String)] =
    load(spark, path) match {
      case None => Seq.empty
      case Some(m) =>
        val hashes = probe
          .select(BloomFilter.keyHashCols(bloomKeys.map(col)).as("h_"))
          .distinct()
        val collected =
          if (!m.columns.contains("key_bloom"))
            m.select("file", "part").distinct()
              .crossJoin(broadcast(hashes.limit(1))).select("file", "part")
          else hashes.join(
            broadcast(m.select("file", "part", "bloom_m", "key_bloom")),
            col("key_bloom").isNull ||
              BloomFilter.mightContainDyn(col("key_bloom"), col("h_"),
                col("bloom_m"), BloomKeyK))
            .select("file", "part").distinct()
        collected.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }

  /** Out-of-band APPEND with exact manifest registration: writes `df`
    * as new files (no merge semantics — the caller owns key
    * uniqueness) and registers EXACTLY the files it wrote, leaving
    * every existing manifest row in place. This is the safe form of
    * "external writer lands data on a live table": unlike a dir
    * rescan it cannot resurrect superseded copy-on-write files,
    * because it never looks at files it didn't just create. */
  def appendManifested(spark: SparkSession, path: String, df: DataFrame,
                       keyCol: String, partitionCol: String = "date",
                       retainVersions: Int = 2): Unit = {
    val base = pin(spark, path)
    val touched = df.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    commit(spark, path, base, partitionCol, touched, keyCol,
      retainVersions)(appendFiles(spark, path, df, partitionCol))
  }

  /** Manifest-planned read of the given PARTITION values: keep only
    * the manifest files whose partition matches — the date-filtered
    * endpoint read (QueryLayer's q07–q10 path) with zero directory
    * listing and an O(matching files) driver plan (never the whole
    * manifest). Falls back to the plain partition-pruned scan when the
    * table has no manifest (a legacy, never-rewritten table; pruning
    * still skips data, but discovery lists the root). The residual
    * `isin` filter keeps semantics identical either way.
    *
    * Manifest-currency contract (applies to every manifest-planned
    * read here): files appended out-of-band and never registered via
    * [[appendManifested]] are INVISIBLE — derived jobs
    * reading through the manifest silently exclude them, they do not
    * fail. Register every out-of-band arrival before reading. */
  def readPartitions(spark: SparkSession, path: String, parts: Seq[Any],
                     partitionCol: String = "date"): DataFrame =
    load(spark, path) match {
      case None =>
        spark.read.parquet(path)
          .filter(col(partitionCol).isin(parts: _*))
      case Some(m) =>
        val kept = keptFiles(m, parts.map(_.toString))
        readFiles(spark, path, m, kept.toIndexedSeq)
          .filter(col(partitionCol).isin(parts: _*))
    }

  /** [[readViaManifest]] when a manifest exists, the plain scan
    * otherwise — the drop-in whole-table read for pipelines whose
    * tables may predate manifest adoption. Same manifest-currency
    * contract as [[readPartitions]]: unregistered out-of-band files
    * are silently excluded, not an error. */
  def readOrPlain(spark: SparkSession, path: String): DataFrame =
    if (load(spark, path).isDefined) readViaManifest(spark, path)
    else spark.read.parquet(path)

  final case class CompactReport(partsCompacted: Int, filesBefore: Long,
                                 filesAfter: Long)

  /** Small-file compaction REGISTERED in the manifest: partitions
    * whose file count exceeds `maxFilesPerPart` are found from the
    * manifest itself (zero listing), their rows rewritten one file per
    * partition as NEW files (copy-on-write — readers on the previous
    * manifest version keep their files; the fragments become
    * unreferenced in the new version and [[vacuum]] reclaims them),
    * and exactly those partitions' manifest rows replaced through the
    * same atomic `_manifest` publish. Untouched partitions' files and
    * manifest rows carry over byte-for-byte.  Incremental merges can't
    * create this state themselves (the merge repartitions to one file
    * per touched date) — external appenders and task-parallel writers
    * can, and their read cost would otherwise grow with every small
    * file.
    *
    * Contract: the manifest must be CURRENT (register any out-of-band
    * append via [[appendManifested]] first) — the rewrite reads exactly
    * the manifest's file list, so rows in unregistered files of a
    * compacted partition would vanish from the new manifest version.
    * `zoneKey` must match the zone column every prior publish used
    * (default: the sort key `keyCol` — pass the table's established
    * zone key when they differ, e.g. IngestJob's capacity table sorts
    * by (date, region_id) but zones on region_id); mixed-key zones
    * would make [[lookup]]'s typed cast silently prune wrong. */
  def compactManifested(spark: SparkSession, path: String,
                        keyCol: String, partitionCol: String = "date",
                        maxFilesPerPart: Int = 1,
                        retainVersions: Int = 2,
                        zoneKey: Option[String] = None): CompactReport = {
    val base = pin(spark, path)
    val m = base.manifest
      .getOrElse(sys.error(s"no manifest at $path — not a manifested table"))
    // metadata actions at meta sizing (see commit)
    val (filesBefore, overParts) =
      graft.ScopedSessionConf.withMetaConf(spark, 4) {
        val fb = m.count()
        // over-threshold partitions found DISTRIBUTED from the manifest;
        // only their names (bounded by partition count) reach the driver
        val op = m.groupBy("part").agg(count(lit(1)).as("nf"))
          .filter(col("nf") > maxFilesPerPart)
          .select("part").collect().map(_.getString(0)).toSeq
        (fb, op)
      }
    if (overParts.isEmpty)
      return CompactReport(0, filesBefore, filesBefore)
    val files = keptFiles(m, overParts)
    // read ONLY the over-threshold partitions' live files
    // (manifest-planned), rewrite them one-file-per-partition as new
    // appended files and replace exactly those partitions' manifest
    // rows (the partition values re-enter statsForFiles in their
    // DECODED string form). The DATA rewrite deliberately stays at the
    // session's shuffle sizing AND keeps AQE — it is table-scale work
    commit(spark, path, base, partitionCol, overParts,
      zoneKey.getOrElse(keyCol), retainVersions, dropParts = overParts) {
      appendFiles(spark, path, spark.read.option("basePath", path)
        .parquet(files.toIndexedSeq: _*)
        .repartition(col(partitionCol))
        .sortWithinPartitions(col(keyCol)), partitionCol)
    }
    // filesAfter is MEASURED from the refreshed manifest (one row per
    // file), not derived from a one-file-per-partition assumption a
    // writer setting like maxRecordsPerFile could break
    CompactReport(overParts.size, filesBefore,
      graft.ScopedSessionConf.withMetaConf(spark, 4) {
        load(spark, path).map(_.count()).getOrElse(0L)
      })
  }

  /** The manifest's retained version names (oldest first) — the
    * manifest is itself a versioned plain store, so metadata time
    * travel rides [[MergeUpsert.retainedVersions]] directly. */
  def versions(spark: SparkSession, path: String): Seq[String] =
    MergeUpsert.retainedVersions(spark, manifestPath(path))

  /** DATA time travel: read the table exactly as manifest `version`
    * saw it — the file list that version references, which
    * copy-on-write guarantees is still on disk for every retained
    * version ([[vacuum]]'s contract). The audit/debug read a
    * production lake runs daily: "what did this table hold before last
    * night's merges". Versions outside the retention window are GC'd —
    * size `retainVersions`/`keepVersions` to how far back readers
    * look. */
  def readVersion(spark: SparkSession, path: String,
                  version: String,
                  partitionCol: String = "date"): DataFrame = {
    val mv = MergeUpsert.readPlainVersion(spark, manifestPath(path), version)
    // file count = manifest row count: decide the plan shape BEFORE
    // any driver materialization (r15 — the old gate collected the
    // list first, then threw past MaxPlanFiles). Meta sizing: the
    // count's one exchange must not cost an AQE stage job
    val nFiles = graft.ScopedSessionConf.withMetaConf(spark, 4)(mv.count())
    require(nFiles > 0,
      s"manifest version $version of $path lists no files")
    if (nFiles > MaxPlanFiles)
      // past the explicit-list planning bound the read switches to the
      // distributed semi-join plan — full-table time travel with NO
      // driver file list (the gate used to throw here; MergeStress
      // time-travels the full 1e6-file table through this path).
      // readVersionAll derives the true partition column from the
      // manifest's own paths, so a table partitioned by anything
      // other than the defaulted `partitionCol` still reads correctly
      // through the fallback (r15 advice: the defaulted column made
      // the semi-join plan silently find zero partition dirs).
      return readVersionAll(spark, path, version, partitionCol)
    val files = mv.select("file").collect().map(_.getString(0))
    spark.read.option("basePath", path).parquet(files.toIndexedSeq: _*)
  }

  /** The partition COLUMN a manifest file path encodes — the
    * `<col>=<value>` dir segment directly above the file. The manifest
    * stores partition VALUES only (`part`), so reads that construct
    * partition dirs need the column name from somewhere; deriving it
    * from the version's own paths beats trusting a caller default
    * (r15 advice: [[readVersion]]'s large-table fallback with the
    * defaulted "date" on a differently-partitioned table built dirs
    * that don't exist and returned silent zero rows). None for a
    * file written unpartitioned at the table root. */
  private[operators] def partitionColOf(file: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(file).getParent.getName
    val i = dir.indexOf('=')
    if (i <= 0) None
    else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dir.substring(0, i)))
  }

  /** [[readVersionPartitions]] generalized to EVERY partition the
    * version references — the all-partitions semi-join read behind
    * [[readVersion]]'s large-table fallback. Driver state is one
    * string per PARTITION (bounded by partition count, not file
    * count); per-row file membership is decided distributed. Public:
    * callers past the gate can invoke the semi-join full read
    * directly (MergeStress time-travels a 1e6-file table through it);
    * the spec pins its row-equality to the explicit-list read. */
  def readVersionAll(spark: SparkSession, path: String,
                     version: String,
                     partitionCol: String = "date"): DataFrame = {
    val mv = MergeUpsert.readPlainVersion(spark, manifestPath(path), version)
    // ONE metadata action serves the part list, the partition-column
    // derivation AND the gate inside readVersionPartitionsImpl (r16
    // verdict task 2: the gate used to re-collect the same distinct
    // plus a file probe — two extra Spark jobs per versioned read)
    val sampled = graft.ScopedSessionConf.withMetaConf(spark, 4) {
      mv.groupBy("part").agg(min(col("file")).as("f")).collect()
    }
    val parts = sampled.map(_.getString(0)).toSeq
    // the version's own paths name the partition column — prefer that
    // over the caller's default (r15 advice: a wrong default built
    // nonexistent dirs and read silent zero rows). Derived from the
    // FIRST file that yields Some, not one arbitrary row (r16 advice:
    // a version mixing unpartitioned root files with partitioned ones
    // could sample the root file and silently fall back)
    val pc = sampled.flatMap(r => partitionColOf(r.getString(1)))
      .headOption.getOrElse(partitionCol)
    readVersionPartitionsImpl(spark, path, version, parts, pc,
      referencedParts = Some(parts.toSet), pcDerived = Some(pc))
  }

  /** Time travel a PARTITION SUBSET of manifest `version` with NO
    * driver file list — the read-side twin of [[vacuum]]'s distributed
    * live/dead split, and the actionable path past [[readVersion]]'s
    * [[MaxPlanFiles]] gate (MergeStress time-travels a 1e6-file table
    * through it). The plan: scan the subset's partition DIRS (every
    * copy-on-write generation that still sits in them) and keep
    * exactly the rows whose source file the version references, via a
    * semi join of `input_file_name()` against the version's manifest
    * rows on the canonical path — per-ROW selection decided
    * distributed, so nothing scales with the table's total file count
    * on the driver.
    *
    * Cost model vs [[readVersion]]: the scan touches ALL retained
    * generations of the requested partitions (typically
    * `retainVersions` ≈ 2 of each — vacuum bounds the amplification)
    * and discards superseded rows by the join, where the explicit
    * file list reads only the referenced generation. The trade is
    * deliberate: bounded read amplification for unbounded planning.
    * Requested partitions absent from the version contribute nothing;
    * a subset whose dirs are all absent yields an empty frame with
    * the version's schema. */
  def readVersionPartitions(spark: SparkSession, path: String,
                            version: String, parts: Seq[Any],
                            partitionCol: String = "date"): DataFrame =
    readVersionPartitionsImpl(spark, path, version, parts, partitionCol,
      referencedParts = None, pcDerived = None)

  /** [[readVersionPartitions]] with the gate's metadata reusable by
    * callers that already derived it from the same manifest version
    * (readVersionAll — r16 verdict task 2): `referenced` is the
    * version's referenced-part set restricted to `parts`, `pcDerived`
    * the partition column the version's own paths encode (for the
    * refusal hint). With both given the gate runs ZERO extra Spark
    * jobs. */
  private def readVersionPartitionsImpl(spark: SparkSession, path: String,
                                        version: String, parts: Seq[Any],
                                        partitionCol: String,
                                        referencedParts: Option[Set[String]],
                                        pcDerived: Option[String])
      : DataFrame = {
    require(parts.nonEmpty, "readVersionPartitions needs >= 1 partition")
    val mv = MergeUpsert
      .readPlainVersion(spark, manifestPath(path), version)
      .filter(col("part").isin(parts.map(_.toString): _*))
    val fs = MergeUpsert.fsFor(spark, path)
    val dirs = parts
      .map(v => partDir(path, partitionCol, v))
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    // LOUD-FAILURE GATE (r15 advice): if the version REFERENCES files
    // in a requested partition but that partition's constructed dir
    // does not exist, the semi join below would silently drop those
    // rows — the usual cause is a wrong `partitionCol` (the dirs on
    // disk are `<other>=v`, not `<partitionCol>=v`). Refuse with the
    // column the manifest's own paths encode. Distinct-collect is
    // bounded by the REQUESTED partition count (and skipped entirely
    // when the caller passed the set through).
    locally {
      val refd = referencedParts.getOrElse(
        graft.ScopedSessionConf.withMetaConf(spark, 4) {
          mv.select("part").distinct().collect().map(_.getString(0)).toSet
        })
      val missing = parts.map(_.toString).filter(refd)
        .filterNot(v => fs.exists(
          new org.apache.hadoop.fs.Path(partDir(path, partitionCol, v))))
      if (missing.nonEmpty) {
        // derive the hint from the first file that yields Some (r16
        // advice: one arbitrary row can sample an unpartitioned root
        // file of a mixed version)
        val hint = pcDerived.orElse(
          mv.select("file").limit(16).collect().iterator
            .map(_.getString(0)).flatMap(partitionColOf)
            .take(1).toSeq.headOption)
          .map(c => s"; the manifest's paths encode partition column " +
            s"'$c'").getOrElse("")
        throw new IllegalStateException(
          s"manifest version $version of $path references files in " +
            s"partition(s) ${missing.take(5).mkString(", ")} but no dir " +
            s"'$partitionCol=<value>' exists for them — wrong " +
            s"partitionCol, or the table was mutated outside the " +
            s"copy-on-write protocol$hint")
      }
    }
    if (dirs.isEmpty)
      // schema from ONE referenced file of the version (or the live
      // manifest when the subset is empty in this version too)
      return readFiles(spark, path,
        MergeUpsert.readPlainVersion(spark, manifestPath(path), version),
        Seq.empty)
    val referenced = mv.select(canonCol(col("file")).as("cfile_"))
      .distinct()
    spark.read.option("basePath", path).parquet(dirs: _*)
      // input_file_name() is the URI-encoded form; the manifest holds
      // the decoded path — decode then canonicalize BOTH sides (the
      // same normalization vacuum's split rides, spec-proven on
      // hostile names)
      .withColumn("cfile_", canonCol(decodeUri(input_file_name())))
      .join(referenced, Seq("cfile_"), "left_semi")
      .drop("cfile_")
  }

  /** Metadata time-travel audit between two retained manifest
    * versions: per partition, file/row counts before and after plus a
    * status — `added` (new partition), `removed`, `rewritten` (file
    * set changed: a merge or compaction touched it), `carried`
    * (byte-identical carry-over). Answers "what did last night's
    * merges touch, and how did the row counts move" from O(files)
    * METADATA — no data file is opened, which at 100 TB is the
    * difference between an audit query and a table scan. */
  def diffVersions(spark: SparkSession, path: String,
                   vOld: String, vNew: String): DataFrame = {
    val mp = manifestPath(path)
    def side(v: String, p: String) =
      MergeUpsert.readPlainVersion(spark, mp, v)
        .groupBy("part")
        .agg(count(lit(1)).as(s"${p}files"),
          sum(col("rows")).as(s"${p}rows"),
          sort_array(collect_list(col("file"))).as(s"${p}fs"))
    side(vOld, "o_").join(side(vNew, "n_"), Seq("part"), "full")
      .select(col("part"),
        coalesce(col("o_files"), lit(0L)).as("files_before"),
        coalesce(col("n_files"), lit(0L)).as("files_after"),
        coalesce(col("o_rows"), lit(0L)).as("rows_before"),
        coalesce(col("n_rows"), lit(0L)).as("rows_after"),
        when(col("o_fs").isNull, lit("added"))
          .when(col("n_fs").isNull, lit("removed"))
          .when(col("o_fs") === col("n_fs"), lit("carried"))
          .otherwise(lit("rewritten")).as("status"))
      .orderBy("part")
  }

  final case class VacuumReport(versionsDropped: Int, versionsKept: Int,
                                filesLive: Long, filesDeleted: Long)

  /** Reclaim data files no retained manifest version references — the
    * Delta `VACUUM` core, and the storage bound that makes
    * copy-on-write viable at merge cadence (without it, every rewrite
    * grows the table dir forever). In order:
    *
    *  1. RETENTION PUBLISH: manifest versions beyond the newest
    *     `keepVersions` are deleted (whole immutable version dirs; the
    *     `_CURRENT` pointer — which every reader resolves first — is
    *     untouched, so this narrows only how far back [[readVersion]]
    *     reaches). After this step the on-disk version set IS the
    *     retention pointer the deletion below derives from.
    *  2. LIVE SET: the union of `file` across the retained versions —
    *     a DataFrame, never a driver set.
    *  3. LISTING + SPLIT, size-gated two ways. Small tables (≤
    *     [[VacuumDriverMaxParts]] partition dirs AND ≤
    *     [[VacuumDriverMaxFiles]] on-disk files) take the DRIVER fast
    *     path: list + set-diff in memory, one Spark job total — the
    *     unit-of-work shape of streaming-cadence vacuums, where the
    *     distributed form's three shuffle rounds cost more than the
    *     whole table (measured 1.3 s vs 0.3 s on a 60-file table).
    *     Past the gate, the partition dirs are listed
    *     EXECUTOR-PARALLEL (one LIST RPC per dir, fanned across the
    *     cluster), and the live/dead split is ONE full-outer join of
    *     listing⟷manifest on the canonical path — no file list ever
    *     materializes on the driver, so vacuum has no planning bound
    *     (the r12 1e5 → r13 1e6-file stress, MergeStress "vacuum
    *     planning"; the 2400-partition stress rides the same
    *     distributed path). Both paths enforce the same gates and
    *     report.
    *  4. SAFETY GATE: every live file must exist on disk — a dangling
    *     reference means the table was mutated outside the
    *     copy-on-write protocol, and vacuum REFUSES rather than guess.
    *  5. DELETE: the join's dead side is removed executor-parallel
    *     (DELETE is a per-file RPC; at a post-merge backlog of
    *     thousands of files a driver loop would serialize them).
    *
    * Idempotent: a re-run finds an empty dead set and deletes nothing.
    * Single-writer, like every publish in this engine — run it from
    * the table's writer, never concurrently with one (it would reclaim
    * a concurrent writer's not-yet-published files).
    *
    * `keepVersions = 1` keeps only the live version — maximal space
    * reclaim, no time travel window. */
  def vacuum(spark: SparkSession, path: String,
             keepVersions: Int = 2): VacuumReport =
    vacuumImpl(spark, path, keepVersions, scope = None)

  /** PARTITION-SCOPED vacuum (r15) — the steady-state maintenance pass
    * after a merge that touched k partitions: list ONLY those
    * partitions' dirs and reclaim their superseded generations, at a
    * cost independent of the table's total partition count (the mirror
    * of the scoped symlink re-export). Semantics per partition are
    * identical to [[vacuum]] — same retention prune, same live/dead
    * split against the RETAINED manifest versions, same
    * dangling-reference refusal (checked for the scoped partitions'
    * live files). Orphans outside the scope are untouched; run the
    * full [[vacuum]] for the periodic whole-table orphan sweep. */
  def vacuumPartitions(spark: SparkSession, path: String,
                       parts: Seq[Any], partitionCol: String = "date",
                       keepVersions: Int = 2): VacuumReport = {
    require(parts.nonEmpty, "vacuumPartitions needs >= 1 partition")
    vacuumImpl(spark, path, keepVersions, Some((partitionCol, parts)))
  }

  private def vacuumImpl(spark: SparkSession, path: String,
                         keepVersions: Int,
                         scope: Option[(String, Seq[Any])]): VacuumReport = {
    require(keepVersions >= 1,
      s"keepVersions must retain at least the live version, got " +
        s"$keepVersions")
    val mp = manifestPath(path)
    val fs = MergeUpsert.fsFor(spark, path)
    // one listing yields both the retention prune and the kept set
    val (dropped, keep) =
      MergeUpsert.vacuumPlainKeeping(spark, mp, keepVersions)
    require(keep.nonEmpty, s"no manifest at $path — nothing to vacuum")
    // scoped: the global we-still-reference-SOMETHING guard must look
    // at the whole manifest (a legitimately dead partition has zero
    // live files of its own), then the live set narrows to the scope
    val liveAll = keep.map(v =>
        MergeUpsert.readPlainVersion(spark, mp, v).select("file", "part"))
      .reduce(_.unionByName(_))
    val live = scope.map { case (_, parts) =>
        liveAll.filter(col("part").isin(parts.map(_.toString): _*))
      }.getOrElse(liveAll)
      .select(canonCol(col("file")).as("cfile")).distinct()
    // candidates: parquet files under the FIRST-LEVEL partition dirs
    // (the only place this format writes data); `_manifest`, pointer
    // files and job markers are never candidates. Unscoped, the dir
    // NAMES come from one root listing (O(partitions)); scoped, the k
    // dirs are addressed directly — NO root listing, which is the
    // whole point. The per-dir file listings run on executors.
    val root = new org.apache.hadoop.fs.Path(path)
    val partDirs = scope match {
      case Some((pc, parts)) => parts
        .map(v => partDir(path, pc, v))
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
        .toIndexedSeq
      case None => fs.listStatus(root).toIndexedSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(_.getPath.toString)
    }

    // whole-table-dead refusal: unscoped, the live set itself must be
    // nonempty (checked per path below); scoped, a partition may be
    // legitimately all-dead, so the guard moves to the GLOBAL manifest
    if (scope.nonEmpty)
      require(!liveAll.limit(1).isEmpty,
        s"retained manifest versions of $path list no files — refusing " +
          "to treat the whole table as dead")

    // ---- driver fast path (small tables; see scaladoc step 3) ----
    if (partDirs.size <= VacuumDriverMaxParts) {
      val candPaths = partDirs.flatMap { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d)).toIndexedSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      }
      if (candPaths.size <= VacuumDriverMaxFiles) {
        // metadata-scale distinct: a handful of manifest versions,
        // bounded rows — 4 shuffle partitions + no AQE stage jobs
        val liveSet = graft.ScopedSessionConf.withMetaConf(spark, 4) {
          live.collect()
        }.map(_.getString(0)).toSet
        require(liveSet.size <= MaxPlanFiles,
          s"${liveSet.size} live files referenced by a " +
            s"${candPaths.size}-file table — manifest inconsistent")
        require(liveSet.nonEmpty || scope.nonEmpty,
          s"retained manifest versions of $path " +
            "list no files — refusing to treat the whole table as dead")
        val candSet = candPaths.map(p => canon(p.toString)).toSet
        val missing = liveSet -- candSet
        require(missing.isEmpty,
          s"manifest references ${missing.size} files absent on disk " +
            s"(mutated outside the copy-on-write protocol?) — refusing " +
            s"to vacuum; e.g. ${missing.take(3).mkString(", ")}")
        val dead = candPaths.filterNot(p => liveSet.contains(canon(p.toString)))
        dead.foreach(p => fs.delete(p, false))
        if (dead.nonEmpty) spark.catalog.refreshByPath(path)
        return VacuumReport(dropped, keep.size, liveSet.size.toLong,
          dead.size.toLong)
      }
    }

    // ---- distributed path (the 100 TB shape) ----
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val cands = spark.createDataset(partDirs)
      .repartition(math.min(32, math.max(1, partDirs.size)))
      .mapPartitions { it =>
        it.flatMap { d =>
          val dp = new org.apache.hadoop.fs.Path(d)
          dp.getFileSystem(conf.value).listStatus(dp).iterator
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString)
        }
      }.toDF("path")
      .select(col("path"), canonCol(col("path")).as("cfile"))
    // ONE shuffle decides everything: live-but-missing (refuse),
    // dead-on-disk (delete), live count (report)
    val joined = cands
      .join(live.withColumn("live", lit(true)), Seq("cfile"), "full_outer")
      .persist()
    try {
      val stats = joined.agg(
        count(when(col("live"), 1)).as("liveN"),
        count(when(col("live") && col("path").isNull, 1)).as("missingN"),
        count(when(col("live").isNull, 1)).as("deadN")).collect().head
      val (liveN, missingN, deadN) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      require(liveN > 0 || scope.nonEmpty,
        s"retained manifest versions of $path list " +
          "no files — refusing to treat the whole table as dead")
      if (missingN > 0) {
        val ex = joined.filter(col("live") && col("path").isNull)
          .select("cfile").take(3).map(_.getString(0))
        throw new IllegalArgumentException(
          s"manifest references $missingN files absent on disk " +
            s"(mutated outside the copy-on-write protocol?) — refusing " +
            s"to vacuum; e.g. ${ex.mkString(", ")}")
      }
      if (deadN > 0) {
        // executor-parallel delete; SerializableConfiguration ships the
        // hadoop conf so each partition opens the real FileSystem
        joined.filter(col("live").isNull).select("path")
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(r.getString(0))
              p.getFileSystem(conf.value).delete(p, false)
            }
          }
        spark.catalog.refreshByPath(path)
      }
      VacuumReport(dropped, keep.size, liveN, deadN)
    } finally joined.unpersist()
  }

  final case class LookupReport(filesTotal: Long, filesKept: Long)

  /** Read the whole table by manifest file list — zero directory
    * listing on the read path (the manifest read is one small
    * versioned table). Schema/partition semantics match a plain read
    * of the live file set via basePath. Same manifest-currency
    * contract as [[readPartitions]].
    *
    * SCHEMA EVOLUTION (x244): a table whose generations were written
    * under evolved schemas — [[appendManifested]] of a batch carrying
    * a new column, or [[mergeWriteManifested]] after an evolveSchema
    * merge — needs `mergeSchema = true` to reconcile: the union schema
    * is computed from the listed files' footers (distributed) and
    * pre-evolution rows read null in the added columns. Off by default:
    * fixed-schema tables shouldn't pay a footer read per file. */
  def readViaManifest(spark: SparkSession, path: String,
                      mergeSchema: Boolean = false): DataFrame = {
    val files = load(spark, path)
      .getOrElse(sys.error(s"no manifest at $path — not a manifested table"))
      .select("file").collect().map(_.getString(0))
    require(files.nonEmpty, s"manifest at $path lists no files")
    require(files.length <= MaxPlanFiles,
      s"${files.length} files — beyond the $MaxPlanFiles-file planning " +
        "bound; compact the table or read by partition")
    spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema.toString)
      .parquet(files.toIndexedSeq: _*)
  }

  /** Manifest-planned point/range lookup: keep only files whose
    * partition matches (when given) AND whose [key_lo, key_hi] zone
    * intersects [lo, hi] — the comparison happens in the KEY's own
    * type, so string zones compare in string order and numeric zones
    * numerically (the manifest stores zones as strings; they are cast
    * back here). Only the SURVIVING file rows are collected to plan
    * the read — O(kept), never O(table files). Returns the
    * exact-filtered rows plus the prune evidence. */
  def lookup(spark: SparkSession, path: String, keyCol: String,
             lo: Any, hi: Any, partitionCol: String = "date",
             partVal: Option[Any] = None)
      : (DataFrame, LookupReport) = {
    val m = load(spark, path)
      .getOrElse(sys.error(s"no manifest at $path — not a manifested table"))
    // The key's type comes from ONE manifest-listed file's footer,
    // never from a whole-table listing (the cost this path skips).
    val sample = m.select("file").limit(1).collect()
    require(sample.nonEmpty, s"manifest at $path lists no files")
    val keyType =
      spark.read.parquet(sample.head.getString(0)).schema(keyCol).dataType
    val zoned = m.filter(
      col("key_lo").cast(keyType) <= lit(hi) &&
      col("key_hi").cast(keyType) >= lit(lo))
    val pruned = partVal match {
      case Some(v) => zoned.filter(col("part") === lit(v.toString))
      case None => zoned
    }
    val kept = pruned.select("file").collect().map(_.getString(0))
    require(kept.length <= MaxPlanFiles,
      s"${kept.length} files survive zone pruning — beyond the " +
        s"$MaxPlanFiles-file planning bound; compact the table")
    val total = graft.ScopedSessionConf.withMetaConf(spark, 4)(m.count())
    val df = readFiles(spark, path, m, kept.toIndexedSeq)
    val exact = partVal match {
      case Some(v) =>
        df.filter(col(keyCol).between(lit(lo), lit(hi)) &&
          col(partitionCol) === lit(v))
      case None => df.filter(col(keyCol).between(lit(lo), lit(hi)))
    }
    (exact, LookupReport(total, kept.length))
  }

  /** Export the LIVE manifest in the symlink-format-manifest
    * convention (Delta's generateSymlinkManifest / Hive
    * SymlinkTextInputFormat): under `out`, one directory per
    * partition (`<partitionCol>=<part>/`) holding text file(s) whose
    * lines are the partition's live data-file paths. External engines
    * (Presto/Trino/Athena/Hive) read the COW table through this
    * WITHOUT understanding the `_manifest` protocol — they see exactly
    * the live snapshot, never superseded or in-flight files, because
    * the export derives from the same atomic manifest version every
    * graft reader plans from.
    *
    * Distributed end to end: the manifest rows are repartitioned by
    * partition and written through the text sink's partitionBy — no
    * file list touches the driver. Re-export OVERWRITES (the manifest
    * flip's external twin: regenerate after merges/compactions/vacuums,
    * stale exports dangle exactly like Delta's). Returns the exported
    * file-path count.
    *
    * `parts` scopes the re-export: only the given partition values'
    * export dirs are rewritten (dynamic partition overwrite), every
    * other partition's files stay byte-identical on disk — so after a
    * merge touching k partitions the refresh costs O(k), independent
    * of the table's partition count (MergeStress "scoped symlink
    * re-export"), where the full form rewrites everything. A requested
    * partition with NO live files (vacuumed away / removed) has its
    * export dir deleted — partition-overwrite alone would leave the
    * stale listing dangling. [[refreshSymlinkExport]] derives `parts`
    * from a manifest version diff. */
  def exportSymlinkManifest(spark: SparkSession, path: String,
                            out: String,
                            partitionCol: String = "date",
                            parts: Option[Seq[Any]] = None): Long = {
    val m = load(spark, path)
      .getOrElse(sys.error(s"no manifest at $path — not a manifested table"))
    val scoped = parts match {
      case Some(ps) => m.filter(col("part").isin(ps.map(_.toString): _*))
      case None => m
    }
    // the export is MANIFEST rows (one line per data file) — metadata
    // scale end to end, so the whole body runs in the meta window (no
    // AQE stage jobs; the repartition/distinct exchanges move file-path
    // strings, bounded by MaxPlanFiles)
    graft.ScopedSessionConf.withMetaConf(spark, 4) {
      val rows = scoped.select(col("file").as("value"),
        col("part").as(partitionCol)).cache()
      val n = rows.count()
      parts match {
        case None =>
          rows.repartition(col(partitionCol))
            .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
            .text(out)
        case Some(ps) =>
          if (n > 0)
            // dynamic overwrite: only partitions present in `rows` are
            // replaced; the untouched ones keep their existing exports
            graft.ScopedSessionConf.withConf(spark,
              "spark.sql.sources.partitionOverwriteMode", "dynamic") {
              rows.repartition(col(partitionCol))
                .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
                .text(out)
            }
          // requested partitions that no longer hold live files: remove
          // their export dirs (the writer above never visits them)
          val live = rows.select(col(partitionCol)).distinct()
            .collect().map(_.getString(0)).toSet
          val fs = MergeUpsert.fsFor(spark, out)
          ps.map(_.toString).filterNot(live).foreach { v =>
            fs.delete(
              new org.apache.hadoop.fs.Path(partDir(out, partitionCol, v)),
              true)
          }
      }
      rows.unpersist()
      n
    }
  }

  /** Incremental export maintenance: re-export ONLY the partitions a
    * manifest-version transition touched — [[diffVersions]] already
    * computes the per-partition delta, so the external mirror pays
    * O(changed partitions) per refresh instead of a full rewrite
    * (at 1e6+ files a full re-export rewrites everything after every
    * merge). `removed` partitions' export dirs are deleted; `carried`
    * ones are not touched. Returns the re-exported path count.
    *
    * The export body always materializes the LIVE manifest's listing
    * for the changed partitions — pass the live version as `vNew`
    * (the normal "refresh after a publish" call); an older `vNew`
    * would scope the partition set to that transition but still
    * export the live rows. */
  def refreshSymlinkExport(spark: SparkSession, path: String,
                           out: String, vOld: String, vNew: String,
                           partitionCol: String = "date"): Long = {
    val changed = graft.ScopedSessionConf.withMetaConf(spark, 4) {
      diffVersions(spark, path, vOld, vNew)
        .filter(col("status") =!= "carried")
        .select("part").collect().map(_.getString(0)).toSeq
    }
    if (changed.isEmpty) 0L
    else exportSymlinkManifest(spark, path, out, partitionCol,
      Some(changed))
  }

  /** Read the table THROUGH an exported symlink manifest — what an
    * external engine does, expressed in Spark for the parity check:
    * resolve the listed paths (bounded by the same planning cap as
    * [[readViaManifest]]) and scan exactly those parquet files. The
    * manifest text files are resolved with ONE FileSystem glob and
    * read driver-side — they are metadata (a handful of line files per
    * partition), and the trailing-slash `textFile` glob this replaces
    * made Spark's path probe log a spurious ERROR stack trace on every
    * first read (clean runs must log clean). */
  def readViaSymlinkManifest(spark: SparkSession, tablePath: String,
                             manifestDir: String): DataFrame = {
    val files = symlinkListedPaths(spark, manifestDir)
    require(files.nonEmpty, s"symlink manifest at $manifestDir is empty")
    require(files.length <= MaxPlanFiles,
      s"${files.length} files — beyond the $MaxPlanFiles-file planning " +
        "bound; compact the table before exporting")
    spark.read.option("basePath", tablePath)
      .parquet(files: _*)
  }

  /** Every data-file path an exported symlink manifest lists — ONE
    * driver-side FileSystem glob over the per-partition line files
    * (metadata scale; also what keeps `DataFrameReader`'s path-probe
    * machinery, which logs a spurious ERROR stack for glob paths, off
    * the read path entirely). Shared by [[readViaSymlinkManifest]] and
    * export-consistency checks. */
  def symlinkListedPaths(spark: SparkSession,
                         manifestDir: String): Vector[String] = {
    val fs = MergeUpsert.fsFor(spark, manifestDir)
    val lineFiles = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$manifestDir/*/*"))
    if (lineFiles == null) return Vector.empty
    lineFiles.iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toVector
        finally in.close()
      }.toVector
  }
}
