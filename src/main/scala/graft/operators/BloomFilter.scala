package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Distributed Bloom filter over builtins — the scale path for
  * membership tests whose reference set is too big to broadcast
  * exactly: [[Contamination.flag]] broadcasts the benchmark's DISTINCT
  * shingle hashes (8 bytes each — fine for eval sets, prohibitive for
  * "have we already ingested this" sets in the billions), while a Bloom
  * bitmap is a FIXED m-bit broadcast regardless of member count, at the
  * price of a tunable false-positive rate (never false negatives — safe
  * for decontamination, where a false positive only over-drops).
  *
  * Everything is engine-portable integer math:
  *   - k bit positions per element by Kirsch–Mitzenmacher double
  *     hashing over the 60-bit md5 base hash:
  *     pos_j = (h mod m + j·(1 + (h≫30 mod (m−1)))) mod m — no per-j
  *     re-hash, identical in any engine with `%` and `>>`;
  *   - the bitmap is built with ordinary aggregations (explode
  *     positions → distinct → per-word `bit_or` of single-bit masks →
  *     one dense array<long> row) — mergeable, shuffle-light
  *     (distinct positions ≤ m), no UDAF;
  *   - probing is `element_at` + shift + mask over the broadcast 1-row
  *     bitmap — codegen'd builtins in the scan.
  * The DuckDB oracle cross-checks with a DIFFERENT algorithm (position
  * subset-count, no bitmap): both reduce to "all k positions set", so
  * agreeing results — false positives included, which are deterministic
  * here — validate the whole hash/bit pipeline. */
object BloomFilter {

  /** The k bit positions of `h` (a non-negative 60-bit hash). */
  def positions(h: Column, m: Int, k: Int): Seq[Column] = {
    require(m > 1 && k >= 1, s"need m > 1 bits and k >= 1 hashes, got m=$m k=$k")
    val h1 = h % lit(m.toLong)
    val h2 = lit(1L) + (shiftright(h, 30) % lit((m - 1).toLong))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % lit(m.toLong))
  }

  /** SQL mirror of [[positions]]' Kirsch–Mitzenmacher formula for hash
    * expression `h` and hash-index expression `j` — oracles interpolate
    * THIS (and the same m/k constants they pass to [[flagBloom]])
    * instead of hand-inlining the formula, so a change to the position
    * math changes both engines or neither (the shared-fragment rule). */
  def positionSql(h: String, j: String, m: Int): String =
    s"((($h % $m) + $j * (1 + (($h >> 30) % ${m - 1}))) % $m)"

  /** Build the m-bit bitmap as ONE row (`bitmap` array<long> of m/64
    * words) from a column of 60-bit hashes. */
  def build(hashes: DataFrame, hashCol: String, m: Int, k: Int): DataFrame = {
    require(m % 64 == 0, s"m must be a multiple of 64, got $m")
    val pos = hashes
      .select(explode(array(positions(col(hashCol), m, k): _*)).as("pos"))
      .distinct()
    val words = pos.select(shiftright(col("pos"), 6).as("widx"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int"))
          .as("mask"))
      .groupBy("widx").agg(bit_or(col("mask")).as("word"))
    hashes.sparkSession.range(m / 64).toDF("widx")
      .join(words, Seq("widx"), "left")
      .select(col("widx"), coalesce(col("word"), lit(0L)).as("word"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("widx"), col("word"))))
        .as("pairs"))
      .select(transform(col("pairs"), p => p.getField("word")).as("bitmap"))
  }

  /** Membership probe against a [[build]] bitmap column: true iff all k
    * positions are set (may false-positive, never false-negative). */
  def mightContain(bitmap: Column, h: Column, m: Int, k: Int): Column =
    positions(h, m, k).map { pos =>
      call_function("shiftright",
        element_at(bitmap, (shiftright(pos, 6) + 1).cast("int")),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** [[Contamination.flag]] with the benchmark side Bloom-compressed:
    * (doc_id, n_bloom_hits) for corpus docs whose distinct shingles hit
    * the benchmark bloom — a deterministic superset of the exact
    * contamination report. The corpus side stays a scan + codegen
    * filter; only the (rare) hits shuffle for the per-doc count. */
  def flagBloom(corpus: DataFrame, idCol: String, textCol: String,
                bench: DataFrame, benchTextCol: String,
                shingleN: Int = 5, m: Int = 1 << 16, k: Int = 3): DataFrame =
    flagBloomWith(corpus, idCol, textCol,
      trainBloom(bench, benchTextCol, shingleN, m, k), shingleN, m, k)

  /** The benchmark-side bitmap as a persistable artifact: one
    * (bitmap array<long>) row over the benchmark's distinct shingles —
    * built once at write time ([[MergeUpsert.publishPlain]]), probed by
    * every contamination scan ([[flagBloomWith]]). The benchmark
    * corpus changes rarely; the scanned corpus changes constantly —
    * exactly the asymmetry a stored artifact exploits. */
  def trainBloom(bench: DataFrame, benchTextCol: String,
                 shingleN: Int = 5, m: Int = 1 << 16,
                 k: Int = 3): DataFrame =
    build(bench
        .select(explode(Dedup.shingles(col(benchTextCol), shingleN)).as("s"))
        .select(TextFunctions.md5Hash60(col("s")).as("h")),
      "h", m, k)

  /** Runtime Bloom join pruning (the "runtime filter" every warehouse
    * engine grew): bitmap over the SMALL (filtered) side's join keys,
    * probed at the BIG side's scan — rows that cannot join die before
    * the shuffle, so shuffle bytes track join selectivity instead of
    * table size. False positives only let extra rows through to the
    * exact join that follows; the RESULT is exact regardless of m/k,
    * which is why the oracle for a bloom-pruned join is the plain
    * join's SQL. */
  /** Bitmap union — Bloom filters are mergeable by bitwise OR, which
    * is what makes an 8 KB bitmap a LEDGER: batches insert
    * independently (any order, any partitioning) and the merged state
    * equals the from-scratch build over the union. Combined with the
    * versioned store this is the fixed-size "have we ingested this
    * key" state for streams whose exact key set is unbounded. */
  def mergeBitmaps(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.bitwiseOR(y))

  /** The all-zeros m-bit bitmap (ledger bootstrap). */
  def emptyBitmap(spark: org.apache.spark.sql.SparkSession,
                  m: Int): DataFrame = {
    require(m % 64 == 0, s"m must be a multiple of 64, got $m")
    spark.range(1)
      .select(array_repeat(lit(0L), m / 64).as("bitmap"))
  }

  /** Oracle-portable key bloom (md5-based — FPs must replay in any
    * engine, unlike [[keyBloom]]'s xxhash64 whose oracle is the plain
    * join). */
  def keyBloomPortable(df: DataFrame, keyCol: String,
                       m: Int = 1 << 16, k: Int = 3): DataFrame =
    build(df.select(
        TextFunctions.md5Hash60(col(keyCol).cast("string")).as("h")),
      "h", m, k)

  /** Probe a [[keyBloomPortable]] bitmap: input rows + a `seen`
    * column. */
  def probeKeysPortable(df: DataFrame, keyCol: String, bloom: DataFrame,
                        m: Int = 1 << 16, k: Int = 3): DataFrame =
    df.crossJoin(broadcast(bloom.select(col("bitmap"))))
      .withColumn("seen", mightContain(col("bitmap"),
        TextFunctions.md5Hash60(col(keyCol).cast("string")), m, k))
      .drop("bitmap")

  /** Key hash for the join-pruning bloom: xxhash64 masked non-negative
    * (the position math needs h ≥ 0). NOT the oracle-portable
    * md5Hash60 — a pruned join's oracle is the PLAIN join (the bloom
    * only removes provably-joinless rows), so the hash can be the
    * fastest codegen'd one Spark has instead of an md5 per probed
    * row. */
  private def keyHash(keyCol: Column): Column =
    xxhash64(keyCol).bitwiseAND(lit(Long.MaxValue))

  /** [[keyHash]] generalized to composite keys — the manifest per-file
    * key-bloom hash (TableManifest): build and probe sides must pass
    * the same columns in the same order. Internal-prune-only like
    * [[keyHash]] (false positives only cost a spurious copy-on-write
    * rewrite of an unaffected file, never a wrong row). */
  def keyHashCols(keys: Seq[Column]): Column =
    xxhash64(keys: _*).bitwiseAND(lit(Long.MaxValue))

  /** [[positions]] with a PER-ROW bit count `m` (a long column, always a
    * multiple of 64): the manifest's per-file key blooms size m to each
    * file's row count, so probe and build evaluate the position math
    * with m as data. Same Kirsch–Mitzenmacher formula, all codegen
    * builtins. */
  def positionsDyn(h: Column, m: Column, k: Int): Seq[Column] = {
    val h1 = h % m
    val h2 = lit(1L) + (shiftright(h, 30) % (m - lit(1L)))
    (0 until k).map(j => (h1 + lit(j.toLong) * h2) % m)
  }

  /** Dense m-bit bitmap (array<long> of m/64 words) assembled from the
    * SORTED sparse (widx, word) entries `ws` (array<struct<widx:long,
    * word:long>>, ascending widx) — the manifest per-file key-bloom
    * assembly (TableManifest.statsForFiles) factored here so the
    * interpreter-tax audit (HofAudit) times the EXACT production
    * expression. LINEAR gap-fill (r17 step-profile finding): walk the
    * sorted entries once, zero-filling the widx gaps, then pad the
    * tail — O(m/64 + entries) per row. The first cut built a map and
    * probed it per dense index (element_at on a Spark map is a linear
    * SCAN), so assembly was O((m/64)^2) — ~50 s of single-task CPU per
    * store merge at replay-scale blooms. The lambdas here are
    * interpreted (higher-order functions always are), which is
    * acceptable ONLY because this runs at metadata scale: one row per
    * data file, never per data row. */
  def denseWords(ws: Column, bloomM: Column): Column = {
    // prev widx per entry: -1 for the first, entry i-1's for entry i
    val prevWidx = concat(array(lit(-1L)),
      transform(slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        e => e.getField("widx")))
    val filled = flatten(zip_with(ws, prevWidx, (e, p) =>
      concat(
        array_repeat(lit(0L),
          (e.getField("widx") - p - lit(1L)).cast("int")),
        array(e.getField("word")))))
    concat(filled, array_repeat(lit(0L),
      (shiftright(bloomM, 6) - size(filled)).cast("int")))
  }

  /** [[mightContain]] against a dense bitmap whose bit count is the
    * per-row column `m` (array length = m/64). */
  def mightContainDyn(bitmap: Column, h: Column, m: Column, k: Int): Column =
    positionsDyn(h, m, k).map { pos =>
      call_function("shiftright",
        element_at(bitmap, (shiftright(pos, 6) + 1).cast("int")),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  def keyBloom(small: DataFrame, keyCol: String,
               m: Int = 1 << 16, k: Int = 3): DataFrame =
    build(small.select(keyHash(col(keyCol)).as("h")), "h", m, k)

  /** The probe half of [[keyBloom]]: filter `big` to rows whose key
    * might be in the bloom — a codegen'd scan-time gate, no shuffle.
    * `m`/`k` must match the build. */
  def pruneKeys(big: DataFrame, keyCol: String, bloom: DataFrame,
                m: Int = 1 << 16, k: Int = 3): DataFrame =
    big.crossJoin(broadcast(bloom.select(col("bitmap"))))
      .filter(mightContain(col("bitmap"), keyHash(col(keyCol)), m, k))
      .drop("bitmap")

  /** [[flagBloom]]'s probe half against a PRE-BUILT [[trainBloom]]
    * bitmap (`shingleN`/`m`/`k` must match the build; x118
    * oracle-proves the equivalence). */
  def flagBloomWith(corpus: DataFrame, idCol: String, textCol: String,
                    bloom: DataFrame, shingleN: Int = 5,
                    m: Int = 1 << 16, k: Int = 3): DataFrame = {
    corpus.select(col(idCol).as("doc_id"),
        explode(Dedup.shingles(col(textCol), shingleN)).as("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).as("h"))
      // 1-row build side: the broadcast nested loop IS the plan here
      .crossJoin(broadcast(bloom.select(col("bitmap"))))
      .filter(mightContain(col("bitmap"), col("h"), m, k))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom_hits"))
  }
}
