package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy SparkSession per suite, UTC, small
  * shuffle-partition count for local runs. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf001 = "/root/testdata/sf0.001"

  org.apache.log4j.Logger.getRootLogger.setLevel(org.apache.log4j.Level.WARN)
}

/** Temp dirs a suite creates through [[tempDir]], deleted with their
  * contents in `afterAll`, once every test of the suite has finished. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      if (Files.exists(d)) {
        val tree = Files.walk(d)
        try tree.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally tree.close()
      }
    } finally super.afterAll()
}
