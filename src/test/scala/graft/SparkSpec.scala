package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val madeDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new temp dir named `prefix…`, deleted with everything under it
    * after the suite's last test. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    madeDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try madeDirs.forEach(SparkSpec.deleteTree(_)) finally super.afterAll()
}

object SparkSpec {
  /** The session outlives every suite, so its warehouse is deleted when
    * the test JVM exits. */
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(deleteTree(warehouse))
    GraftSession(4, conf = Map("spark.sql.warehouse.dir" -> warehouse.toString))
  }

  /** Deletes `root` and everything under it, deepest first; a missing
    * root is no error. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally paths.close()
    }
}
