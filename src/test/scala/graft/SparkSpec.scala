package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide SparkSession). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  private val temps = scala.collection.mutable.ArrayBuffer[Path]()
  private def track(p: Path): Path = synchronized { temps += p; p }

  /** A fresh directory under java.io.tmpdir, deleted with everything in it
    * after the suite. */
  def tempDir(prefix: String): Path = track(Files.createTempDirectory(prefix))

  /** A fresh file under java.io.tmpdir, deleted after the suite. */
  def tempFile(prefix: String, suffix: String): Path =
    track(Files.createTempFile(prefix, suffix))

  override def afterAll(): Unit =
    try synchronized(temps.foreach(SparkSpec.deleteTree)) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally paths.close()
  }
}
