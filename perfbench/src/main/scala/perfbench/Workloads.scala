package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.TextFunctions
import graft.operators.TableManifest
import graft.pipeline.{IngestJob, Lineage, MetricsJob, QueryLayer}
import graft.sources.Tables
import graft.streaming.StreamCuration

/** One timed operation: a request, a daily batch or a curation tick.
  * `ms` is the user-visible latency of the operation, `readMs` the part
  * spent in its read-after-write (when it has one), `rows` the input or
  * output rows it handled and `check` what the output checks compare. */
final case class OpRecord(kind: String, ms: Double, rows: Long,
                          readMs: Option[Double], check: Map[String, Any])

/** A workload's state is built once per set-up repetition, each in its
  * own directory; the last build is warmed up and then timed. */
trait Workload {
  /** Build the state the timed operations start from. */
  def build(): Unit
  /** Warm-up pass over the operation path (JIT, codegen cache). */
  def warmup(): Unit
  /** Runs operation `i`; operations run in index order, the warm-up's
    * first. */
  def op(i: Int): OpRecord
  /** Index of the next operation and the number of generated ones. */
  def next: Int
  def maxOps: Int
  /** Operations a timed window runs at least, however long they take, so
    * a run's medians always rest on the same number of samples. */
  def minOps: Int
  /** Name of the span around each timed operation. */
  def opSpan: String
  /** Untimed dumps for the output checks, after the timed window. */
  def finish(): Map[String, Any]
  /** Bytes of the files the program's tables reference at the end of
    * the run (superseded copy-on-write files not counted). */
  def liveBytes: Long
  def inputBytes: Long
  /** Live data files the program's stores reference, counted after the
    * window; ("table", "curated") are the two layer ratios that use it. */
  def liveFiles: Map[String, Long]
}

object Workload {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def lines(path: String): Vector[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  /** Deterministic lineage timestamps: one minute per run. */
  def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Files a manifested table's current version references. */
  def manifestFiles(spark: SparkSession, path: String): Seq[String] =
    if (TableManifest.load(spark, path).isEmpty) Nil
    else TableManifest.readViaManifest(spark, path).inputFiles.toSeq

  def fileBytes(files: Seq[String]): Long =
    files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
}

/** Order-insensitive summary of a response, compared against the same
  * summary computed by the independent oracle: row count, md5 over the
  * sorted row keys, and per numeric column its sum and null count. */
object Fingerprint {
  def of(rows: Array[Row], key: Row => String,
         descendingBy: Option[String] = None): Map[String, Any] = {
    val keys = rows.map(key).sorted.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(keys.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val numeric = rows.headOption.toSeq.flatMap(_.schema.fields)
      .filter(f => Seq(IntegerType, LongType, DoubleType).contains(f.dataType))
      .map(_.name)
    val cols = numeric.flatMap { c =>
      val vals = rows.map(r => r.getAs[Any](c))
      val present = vals.collect { case n: java.lang.Number => n.doubleValue }
      Seq(s"sum.$c" -> present.sum, s"nulls.$c" -> (vals.length - present.length))
    }
    val ordered = descendingBy.map { c =>
      val v = rows.map(r => r.getAs[Any](c) match {
        case n: java.lang.Number => n.doubleValue
        case _ => Double.NegativeInfinity
      })
      "ordered" -> v.indices.drop(1).forall(i => v(i - 1) >= v(i))
    }
    (Seq("n" -> rows.length, "keys" -> md5) ++ cols ++ ordered).toMap
  }

  /** A one-row response compared value by value. */
  def row(rows: Array[Row]): Map[String, Any] =
    Map("n" -> rows.length) ++ rows.headOption.toSeq.flatMap { r =>
      r.schema.fieldNames.map(n => s"row.$n" -> (r.getAs[Any](n) match {
        case null => null
        case x: java.lang.Number => x
        case x => x.toString
      }))
    }
}

/** The hospital tables under one directory, as the pipeline lays them out. */
final class HospitalStore(val dir: String) {
  val capacity = s"$dir/capacity"
  val metrics = s"$dir/metrics"
  val regions = s"$dir/regions"
  val rejects = s"$dir/rejects"
  val runs = s"$dir/runs"

  def readRegions(spark: SparkSession): DataFrame =
    spark.read.schema(Tables.regionsSchema).parquet(regions)

  def ingest(spark: SparkSession, csv: String, runId: String, i: Int): IngestJob.IngestResult =
    IngestJob.run(spark, csv, capacity, regions, rejects, runs, runId, "hhs", Workload.ts(i))

  def tableFiles(spark: SparkSession): Seq[String] =
    Workload.manifestFiles(spark, capacity) ++ Workload.manifestFiles(spark, metrics)

  /** Live fact-table files plus the plain tables (dims, lineage, rejects). */
  def liveBytes(spark: SparkSession): Long =
    Workload.fileBytes(tableFiles(spark)) +
      Seq(regions, rejects, runs).map(Workload.dirBytes).sum
}

/** A daily batch as the generator lists it: file, day, touched dates. */
final case class Batch(csv: String, day: Date, touched: Seq[Date])

object Batch {
  def list(inputs: String): Vector[Batch] =
    Workload.lines(s"$inputs/batches.tsv").map { a =>
      Batch(a(0), Date.valueOf(a(1)), a(2).split(",").toSeq.map(Date.valueOf))
    }
}

/** Read-only closed loop over the serving endpoints of a built store. */
final class ServeApi(spark: SparkSession, inputs: String, dir: String) extends Workload {
  private val store = new HospitalStore(dir)
  private val requests = Workload.lines(s"$inputs/requests.tsv")
  private var regionIds = Map.empty[String, String]
  private var served = 0
  def next: Int = served
  def maxOps: Int = Int.MaxValue
  def minOps: Int = 20
  def opSpan: String = "api.request"

  def liveBytes: Long = store.liveBytes(spark)
  def inputBytes: Long = ("history.csv" +: Batch.list(inputs).map(_.csv))
    .map(f => Files.size(Paths.get(s"$inputs/$f"))).sum

  def build(): Unit = {
    store.ingest(spark, s"$inputs/history.csv", "hist", 0)
    MetricsJob.run(spark, store.capacity, store.metrics, store.runs, "metrics-full",
      Workload.ts(1))
    Batch.list(inputs).zipWithIndex.foreach { case (b, i) =>
      store.ingest(spark, s"$inputs/${b.csv}", s"batch-$i", 2 + i)
      MetricsJob.runIncremental(spark, store.capacity, store.metrics, s"metrics-$i", b.touched)
    }
    // the server's dimension cache: region name -> id, loaded once
    regionIds = store.readRegions(spark).select("name", "region_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Every endpoint once, on the first request's day and region. */
  def warmup(): Unit =
    ServeApi.Endpoints.foreach(ep => handle(ep, requests(0)(1), requests(0)(2)))

  def op(i: Int): OpRecord = {
    val Array(ep, day, region) = requests(i % requests.length)
    served = i + 1
    val t0 = System.nanoTime()
    val (rows, check) = Spans(spark, s"api.$ep")(handle(ep, day, region))
    val ms = Workload.ms(t0)
    OpRecord(ep, ms, rows, if (ep == "dashboard") Some(ms) else None,
      check() ++ Map("endpoint" -> ep, "day" -> day, "region" -> region))
  }

  private def sp[T](name: String)(f: => T): T = Spans(spark, name)(f)

  /** One request: resolve the served table (the public call that plans
    * from the manifest), then execute (collect; the span is named after
    * the module whose frame is collected). Returns the reply's row count
    * and its fingerprint, computed after the reply is timed. */
  private def handle(ep: String, day: String, region: String)
      : (Long, () => Map[String, Any]) = {
    val d = Date.valueOf(day)
    ep match {
      case "capacity_latest" =>
        val df = sp("pipeline.QueryLayer.capacityLatestAt") {
          QueryLayer.capacityLatestAt(spark, store.capacity, store.readRegions(spark), d)
        }
        val rows = sp("pipeline.QueryLayer.collect")(df.collect())
        (rows.length.toLong, () => Fingerprint.of(rows, _.getAs[String]("region")))
      case "metrics_latest" =>
        val df = sp("pipeline.QueryLayer.metricsLatestAt") {
          QueryLayer.metricsLatestAt(spark, store.metrics, store.readRegions(spark), d)
        }
        val rows = sp("pipeline.QueryLayer.collect")(df.collect())
        (rows.length.toLong, () => Fingerprint.of(rows, _.getAs[String]("region")))
      case "dashboard" =>
        val cmp = sp("pipeline.QueryLayer.metricsCompareAt") {
          QueryLayer.metricsCompareAt(spark, store.metrics, store.readRegions(spark), d)
        }
        val kpis = sp("pipeline.QueryLayer.dashboardKpis")(QueryLayer.dashboardKpis(cmp).collect())
        val table = sp("pipeline.QueryLayer.dashboardTable")(QueryLayer.dashboardTable(cmp).collect())
        (table.length.toLong, () =>
          Fingerprint.row(kpis).map { case (k, v) => s"kpi.$k" -> v } ++
            Fingerprint.of(table,
              r => r.getAs[String]("region") + "|" + r.getAs[String]("band"),
              descendingBy = Some("strain_index")))
      case "available_dates" =>
        val m = sp("operators.TableManifest.readOrPlain")(TableManifest.readOrPlain(spark, store.metrics))
        val rows = sp("pipeline.QueryLayer.availableDates")(QueryLayer.availableDates(m).collect())
        (rows.length.toLong, () => Fingerprint.row(rows))
      case "coverage" =>
        val m = sp("operators.TableManifest.readOrPlain")(TableManifest.readOrPlain(spark, store.metrics))
        val cov = sp("pipeline.QueryLayer.coverage")(QueryLayer.coverage(m).collect())
        val best = sp("pipeline.QueryLayer.bestCoverage")(QueryLayer.bestCoverage(m).collect())
        (cov.length.toLong + best.length, () =>
          Fingerprint.of(cov, _.getAs[Date]("date").toString) ++
            Fingerprint.row(best).map { case (k, v) => s"best.$k" -> v })
      case "runs" =>
        val runs = sp("pipeline.Lineage.read")(Lineage.read(spark, store.runs))
        val rows = sp("pipeline.QueryLayer.recentRuns")(QueryLayer.recentRuns(runs).collect())
        (rows.length.toLong, () => Fingerprint.of(rows, r =>
          Seq("run_id", "source", "status").map(r.getAs[String]).mkString("|")))
      case "region_lookup" =>
        val id = regionIds(region)
        val (df, _) = sp("operators.TableManifest.lookup") {
          TableManifest.lookup(spark, store.capacity, "region_id", id, id)
        }
        val rows = sp("operators.TableManifest.collect")(df.collect())
        (rows.length.toLong, () => Fingerprint.of(rows, _.getAs[Date]("date").toString))
    }
  }

  def finish(): Map[String, Any] = Map.empty
  def liveFiles: Map[String, Long] = Map("table" -> store.tableFiles(spark).length.toLong)
}

object ServeApi {
  val Endpoints: Seq[String] = Seq("capacity_latest", "metrics_latest", "dashboard",
    "available_dates", "coverage", "runs", "region_lookup")
}

/** Sequential daily batches: land the CSV, ingest, derive the touched
  * dates' metrics, read the dashboard's compare view of the new day;
  * every `MaintainEvery` batches compact and vacuum both tables. */
final class DailyIngest(spark: SparkSession, inputs: String, dir: String) extends Workload {
  private val MaintainEvery = 2
  private val store = new HospitalStore(dir)
  private val batches = Batch.list(inputs)
  private val landing = s"$dir/landing"
  private var applied = 0
  private var landedBytes = Files.size(Paths.get(s"$inputs/history.csv"))
  def next: Int = applied
  def maxOps: Int = batches.length
  def minOps: Int = 2
  def opSpan: String = "ingest.batch"

  def liveBytes: Long = store.liveBytes(spark)
  def inputBytes: Long = landedBytes

  /** The history's capacity and its metrics, derived the way the
    * batches derive theirs (incrementally, over the touched dates). */
  def build(): Unit = {
    Files.createDirectories(Paths.get(landing))
    store.ingest(spark, s"$inputs/history.csv", "hist", 0)
    val days = Workload.lines(s"$inputs/history_days.txt").head(0).split(",")
    MetricsJob.runIncremental(spark, store.capacity, store.metrics, "metrics-hist",
      days.toSeq.map(Date.valueOf))
  }

  /** The first batch, run as the timed ones are: the builds alone leave
    * the merge-into-existing and incremental paths to compile (~80
    * codegen compiles) in the first timed batches. */
  def warmup(): Unit = op(0)

  def op(i: Int): OpRecord = {
    applied = i + 1
    val b = batches(i)
    // land the file: copy beside the landing dir, then an atomic move in
    val staged = Paths.get(s"$dir/${b.csv}.part")
    Files.copy(Paths.get(s"$inputs/${b.csv}"), staged, StandardCopyOption.REPLACE_EXISTING)
    val landed = Paths.get(s"$landing/${b.csv}")
    Files.move(staged, landed, StandardCopyOption.ATOMIC_MOVE)
    landedBytes += Files.size(landed)
    val t0 = System.nanoTime()
    val res = Spans(spark, "pipeline.IngestJob.run") {
      store.ingest(spark, landed.toString, s"batch-$i", 2 + i)
    }
    Spans(spark, "pipeline.MetricsJob.runIncremental") {
      MetricsJob.runIncremental(spark, store.capacity, store.metrics, s"metrics-$i", b.touched)
    }
    val r0 = System.nanoTime()
    val rows = Spans(spark, "pipeline.QueryLayer.metricsCompareAt") {
      QueryLayer.metricsCompareAt(spark, store.metrics, store.readRegions(spark), b.day).collect()
    }
    val readMs = Workload.ms(r0)
    val freshMs = Workload.ms(t0)
    if (applied % MaintainEvery == 0) {
      Spans(spark, "operators.TableManifest.compactManifested") {
        Seq(store.capacity, store.metrics).foreach { p =>
          TableManifest.compactManifested(spark, p, "region_id", zoneKey = Some("region_id"))
        }
      }
      Spans(spark, "operators.TableManifest.vacuum") {
        Seq(store.capacity, store.metrics).foreach(p => TableManifest.vacuum(spark, p))
      }
    }
    OpRecord("batch", freshMs, res.rowsIn, Some(readMs), Map(
      "batch" -> i, "rows_in" -> res.rowsIn, "rows_loaded" -> res.rowsLoaded,
      "rows_rejected" -> res.rowsRejected) ++
      Fingerprint.of(rows, _.getAs[String]("region"), descendingBy = Some("strain_index")))
  }

  /** The final capacity rows by region name, for the last-writer-wins
    * check; lineage and reject files are plain tables the check reads
    * itself. */
  def finish(): Map[String, Any] = {
    val out = s"$dir/check_capacity"
    TableManifest.readViaManifest(spark, store.capacity)
      .join(store.readRegions(spark).select("region_id", "name"), "region_id")
      .select(col("date").cast("string").as("date"), col("name").as("region"),
        col("total_beds"), col("occupied_beds"), col("icu_beds"), col("icu_occupied"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    Map("applied" -> applied, "capacity" -> out, "runs" -> store.runs,
      "rejects" -> store.rejects)
  }

  def liveFiles: Map[String, Long] = Map("table" -> store.tableFiles(spark).length.toLong)
}

/** Curation ticks with explicit epochs over seeded tick files; a reader
  * counts the published curated table after every tick. */
final class StreamCurationLoad(spark: SparkSession, inputs: String, dir: String)
    extends Workload {
  private val work = s"$dir/cur"
  private val (ticks, tickRows) = Workload.lines(s"$inputs/ticks.tsv")
    .map(a => (a(0), a(1).toLong)).unzip
  private val rates = Map("en" -> 0.8)
  private var applied = 0
  def next: Int = applied
  def maxOps: Int = ticks.length
  def minOps: Int = 2
  def opSpan: String = "stream.tick"

  private def storeFiles: Seq[String] =
    Seq(StreamCuration.docsPath(work), StreamCuration.sigsPath(work),
      StreamCuration.pairsPath(work)).flatMap(Workload.manifestFiles(spark, _))
  private def curatedFiles: Seq[String] =
    StreamCuration.readCurated(spark, work).inputFiles.toSeq
  def liveBytes: Long = Workload.fileBytes(storeFiles ++ curatedFiles)
  def inputBytes: Long = Files.size(Paths.get(s"$inputs/embeddings.parquet")) +
    ticks.take(applied).map(t => Files.size(Paths.get(s"$inputs/$t"))).sum

  def build(): Unit =
    StreamCuration.publishQuantizedEmbeddings(spark, work, s"$inputs/embeddings.parquet")

  /** Two ticks: the first creates the stores, the second is the first
    * to merge into existing ones; only after both is the codegen cache
    * warm for the tick path (a single warm-up tick left ~170 compiles to
    * the first timed tick). */
  def warmup(): Unit = {
    op(0)
    op(1)
  }

  def op(i: Int): OpRecord = {
    applied = i + 1
    val batch = spark.read.parquet(s"$inputs/${ticks(i)}")
    val t0 = System.nanoTime()
    Spans(spark, "streaming.StreamCuration.curateBatch") {
      StreamCuration.curateBatch(spark, batch, work, minQuality = 0.3, rates = rates,
        defaultRate = 0.5, publish = true, shufflePartitions = 4, epoch = i.toLong)
    }
    val tickMs = Workload.ms(t0)
    val r0 = System.nanoTime()
    val curated = Spans(spark, "streaming.StreamCuration.readCurated") {
      StreamCuration.readCurated(spark, work).count()
    }
    val readMs = Workload.ms(r0)
    OpRecord("tick", tickMs, tickRows(i), Some(readMs),
      Map("tick" -> i, "curated_rows" -> curated))
  }

  /** The delivered documents (redeliveries carry the same bytes, so the
    * distinct rows are the document set) and the published curated set in
    * x39's output shape, plus x39's DuckDB oracle SQL: the check runs the
    * batch funnel's oracle over the documents and compares the two sets. */
  def finish(): Map[String, Any] = {
    val docs = s"$dir/check_docs"
    ticks.take(applied).map(t => spark.read.parquet(s"$inputs/$t"))
      .reduce(_ unionByName _).distinct().write.mode("overwrite").parquet(docs)
    val curated = s"$dir/check_curated"
    StreamCuration.readCurated(spark, work)
      .select(col("doc_id"), col("lang_pred"),
        TextFunctions.portableRound(col("scale"), 6).as("scale_r"))
      .write.mode("overwrite").parquet(curated)
    Map("applied" -> applied, "documents" -> docs, "curated" -> curated,
      "embeddings" -> s"$inputs/embeddings.parquet",
      "oracle_sql" -> graft.SparkEntry.oracleSql("x39_stream_curation"))
  }

  def liveFiles: Map[String, Long] = Map(
    "table" -> storeFiles.length.toLong, "curated" -> curatedFiles.length.toLong)
}
