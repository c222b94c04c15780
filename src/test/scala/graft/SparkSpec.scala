package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session (getOrCreate),
  * small shuffle partition count so tiny-fixture tests don't schedule
  * hundreds of empty tasks. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // one shared warehouse for the one shared session (only the first
    // getOrCreate honors configs anyway); keeps tables out of the repo
    .config("spark.sql.warehouse.dir", SparkSpec.warehouseDir)
    .getOrCreate()

  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir named `prefix<random>`, deleted with everything
    * under it when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(p => SparkSpec.deleteTree(p))
    finally super.afterAll()
}

object SparkSpec {
  /** Shared by every suite in the JVM, so it goes when the JVM does. */
  lazy val warehouseDir: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(deleteTree(p))
    p.toString
  }

  /** Delete `root` and everything under it, children first; best
    * effort — a file that vanishes or resists is skipped. */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      val all = try walk.iterator().asScala.toVector finally walk.close()
      all.reverse.foreach(p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
    }
}
