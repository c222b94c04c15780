package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. Spans of one operation share `op`;
  * `parent` is -1 for the operation's own span. Times are epoch
  * microseconds so they line up with the listener's job times. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder, off unless the run is traced. Each span
  * also publishes its name as a Spark local property, so jobs it submits
  * (and the pool-thread jobs their SQL executions spawn) carry it. */
object Spans {
  @volatile var enabled = false
  @volatile var op = 0L
  private val recorded = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val SpanProperty = "perfbench.span"

  def nowUs(): Long = (System.nanoTime() + epochOffsetNs) / 1000L

  def apply[T](spark: SparkSession, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanProperty)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProperty, name)
      val start = nowUs()
      try f
      finally {
        recorded.add(Span(id, parents.headOption.getOrElse(-1), op, name, start, nowUs()))
        stack.set(parents)
        sc.setLocalProperty(SpanProperty, outer)
      }
    }

  def drain(): Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
}

/** A job seen by the traced run: its wall interval, its tasks' run
  * intervals and the `graft.` frames of its call sites, innermost first
  * (the result stage's, then its SQL execution's). */
final class JobRecord(val id: Int, val startMs: Long, val stageFrames: Seq[String],
                      val sqlFrames: Seq[String], val span: String) {
  @volatile var endMs: Long = -1L
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]
}

/** Counts jobs, tasks, planning phases, codegen and GC while `active`.
  * Listener events arrive asynchronously; the harness drains the bus
  * before switching `active`, so the window holds exactly the timed
  * operations. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  val jobs = new ConcurrentLinkedQueue[JobRecord]
  private val byJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]
  private val sqlFrames = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]
  val counters: mutable.Map[String, LongAdder] = mutable.LinkedHashMap(
    Seq("tasks", "task_run_ms", "task_cpu_ns", "shuffle_bytes", "spill_bytes",
      "records_written", "analysis_ms", "optimizer_ms", "planning_ms")
      .map(_ -> new LongAdder): _*)

  private def add(k: String, v: Long): Unit = counters(k).add(v)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      sqlFrames.put(e.executionId, TraceListener.graftFrames(e.details))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (active) {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val stage = if (js.stageInfos.isEmpty) Nil
      else TraceListener.graftFrames(js.stageInfos.maxBy(_.stageId).details)
    val sql = prop("spark.sql.execution.id")
      .flatMap(id => Option(sqlFrames.get(id.toLong))).getOrElse(Nil)
    val rec = new JobRecord(js.jobId, js.time, stage, sql,
      prop(Spans.SpanProperty).getOrElse(""))
    jobs.add(rec)
    byJob.put(js.jobId, rec)
    js.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(byJob.remove(je.jobId)).foreach(_.endMs = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(te.stageId)).foreach { rec =>
      val info = te.taskInfo
      rec.tasks.add((info.launchTime, info.finishTime))
      add("tasks", 1)
      Option(te.taskMetrics).foreach { m =>
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("records_written", m.outputMetrics.recordsWritten)
      }
    }

  private def phases(qe: QueryExecution): Unit = if (active) {
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => add("analysis_ms", s.durationMs))
    p.get("optimization").foreach(s => add("optimizer_ms", s.durationMs))
    p.get("planning").foreach(s => add("planning_ms", s.durationMs))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

object TraceListener {
  /** The call-site lines that are frames of the program, innermost
    * first. Spark's long-form call site is one frame per line. */
  def graftFrames(callSite: String): Seq[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft."))
}

/** JVM-wide counters that need no listener: GC time and whole-stage
  * codegen compiles. */
object JvmCounters {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenCompileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Bytes moved through the local filesystem's streams, from Hadoop's
    * own per-scheme statistics (available whether or not the counting
    * filesystem is installed). */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * broadcast and shuffle blocks only once a collection has found
    * their handles unreachable, so it gets time to run between GCs. */
  def heapUsedMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()).toDouble / (1 << 20)
  }
}

/** The local filesystem with a counter on each metadata and stream
  * operation. Installed as `fs.file.impl` in traced runs only; it
  * extends LocalFileSystem so `FileSystem.getLocal` callers keep
  * working. Only the public entry points count, so one call is one
  * count however the checksum layer fans it out. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.count

  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    count("list"); super.listStatus(f, filter)
  }
  override def listLocatedStatus(f: Path) = {
    count("list"); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path) = {
    count("list"); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    count("mkdirs"); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val Ops: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val counters = Ops.map(_ -> new LongAdder).toMap
  @volatile var active = false

  private def count(op: String): Unit = if (active) counters(op).increment()

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.sum }
}
