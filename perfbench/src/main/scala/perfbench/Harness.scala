package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Builds the workload's state `--setup-reps`
  * times (the set-up time is the median build plus the one warm-up pass
  * that follows), then runs the workload's operations one at a time on
  * the last build for `--seconds`, and writes raw samples, check dumps
  * and (with `--trace 1`) spans and layer counters to `--out` as JSON.
  * perfbench/run.py turns that file into the metrics.
  *
  * One JVM, one session on `local[4]` with 4 shuffle partitions, one
  * closed-loop caller: each operation starts when the previous one has
  * returned. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val reps = opt("setup-reps").toInt

    val fsConf = if (traced)
      Map("spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName)
    else Map.empty[String, String]
    val spark = graft.Sessions.local("4", "4", appName = "perfbench", utc = true,
      extraConf = fsConf ++ Map(
        "spark.sql.warehouse.dir" -> s"$work/warehouse",
        "spark.local.dir" -> s"$work/spark-local"))
    val sc = spark.sparkContext
    val listener = new TraceListener
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val fsWrapped = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI("file:///"), sc.hadoopConfiguration)
      .isInstanceOf[CountingFileSystem]

    def make(dir: String): Workload = name match {
      case "serve_api" => new ServeApi(spark, inputs, dir)
      case "daily_ingest" => new DailyIngest(spark, inputs, dir)
      case "stream_curation" => new StreamCurationLoad(spark, inputs, dir)
    }

    val builds = (1 to reps).map { r =>
      val dir = s"$work/rep$r"
      Files.createDirectories(Paths.get(dir))
      val wl = make(dir)
      val t0 = System.nanoTime()
      wl.build()
      (Workload.ms(t0) / 1e3, wl, dir)
    }
    builds.init.foreach { case (_, _, dir) => deleteTree(dir) }
    val wl = builds.last._2
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = Workload.ms(w0) / 1e3

    // Window 1 is untraced: the end-to-end numbers. A traced run adds
    // window 2 on the same state, so traced minus untraced is the
    // tracing overhead.
    val windows = Seq(window(spark, wl, listener, seconds, traced = false)) ++
      (if (traced) Seq(window(spark, wl, listener, seconds, traced = true)) else Nil)

    // before the checks, which cache and release their own frames
    val heapMb = JvmCounters.heapUsedMb()
    val checks = wl.finish()
    val result = Map(
      "workload" -> name,
      "build_s" -> builds.map(_._1),
      "warmup_s" -> warmupS,
      "windows" -> windows,
      "checks" -> checks,
      "stored_bytes" -> wl.liveBytes,
      "input_bytes" -> wl.inputBytes,
      "live_files" -> wl.liveFiles,
      "fs_wrapped" -> fsWrapped,
      "heap_mb" -> heapMb)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(opt("out")), result)
    spark.stop()
  }

  /** Runs operations back to back, starting each while fewer than
    * `seconds` have passed or fewer than the workload's minimum have run;
    * the last one is allowed to finish. */
  private def window(spark: SparkSession, wl: Workload, listener: TraceListener,
                     seconds: Double, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    listener.jobs.clear()
    listener.counters.values.foreach(_.reset())
    val fs0 = CountingFileSystem.snapshot()
    val gc0 = JvmCounters.gcMs()
    val cg0 = (JvmCounters.codegenCompiles(), JvmCounters.codegenCompileNs())
    val (br0, bw0) = JvmCounters.fsBytes()
    listener.active = traced
    Spans.enabled = traced
    CountingFileSystem.active = traced

    val ops = Vector.newBuilder[Map[String, Any]]
    val start = System.nanoTime()
    val budgetNs = (seconds * 1e9).toLong
    var n = 0
    while (wl.next < wl.maxOps && (n < wl.minOps || System.nanoTime() - start < budgetNs)) {
      val i = wl.next
      Spans.op = i
      val t0 = System.nanoTime()
      val t0Us = Spans.nowUs()
      val rec = try {
        val r = Spans(spark, wl.opSpan)(wl.op(i))
        Map("kind" -> r.kind, "ms" -> r.ms, "rows" -> r.rows, "read_ms" -> r.readMs,
          "check" -> r.check)
      } catch {
        case NonFatal(e) =>
          Map("kind" -> "error", "ms" -> Workload.ms(t0), "rows" -> 0,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      ops += rec ++ Map("i" -> i, "start_us" -> t0Us, "end_us" -> Spans.nowUs())
      n += 1
    }
    val loopS = Workload.ms(start) / 1e3

    Spans.enabled = false
    CountingFileSystem.active = false
    PerfbenchBus.drain(sc)
    listener.active = false
    val (br1, bw1) = JvmCounters.fsBytes()
    val fs1 = CountingFileSystem.snapshot()
    val layers = Map(
      "gc_ms" -> (JvmCounters.gcMs() - gc0),
      "codegen_compiles" -> (JvmCounters.codegenCompiles() - cg0._1),
      "codegen_compile_ms" -> (JvmCounters.codegenCompileNs() - cg0._2) / 1e6,
      "fs_bytes_read" -> (br1 - br0),
      "fs_bytes_written" -> (bw1 - bw0))
    Map("traced" -> traced, "loop_s" -> loopS, "ops" -> ops.result(), "layers" -> layers) ++
      (if (!traced) Map.empty else Map(
        "fs" -> fs1.map { case (k, v) => k -> (v - fs0(k)) },
        "counters" -> listener.counters.map { case (k, v) => k -> v.sum },
        "spans" -> Spans.drain().map(s => Seq(s.id, s.parent, s.op, s.name, s.startUs, s.endUs)),
        "jobs" -> listener.jobs.toArray(Array.empty[JobRecord]).toSeq.map { j =>
          Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "stage_frames" -> j.stageFrames, "sql_frames" -> j.sqlFrames, "span" -> j.span,
            "tasks" -> j.tasks.toArray(Array.empty[(Long, Long)]).toSeq)
        }))
  }

  private def deleteTree(dir: String): Unit = {
    val s = Files.walk(Paths.get(dir))
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
