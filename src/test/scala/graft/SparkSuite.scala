package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog

/** Shared local SparkSession fixture — one session per suite. Temp
  * dirs made through [[tempDir]] are deleted after the suite.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll with TempDirs {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit =
    try deleteTempDirs() finally super.afterAll()
}

/** Scratch dirs with an owner: [[tempDir]] makes a fresh dir under
  * `java.io.tmpdir`, and [[deleteTempDirs]] deletes every dir it made,
  * with everything in it ([[TxLog.deleteTree]]).
  */
trait TempDirs {
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  def deleteTempDirs(): Unit = {
    tempDirs.forEach(TxLog.deleteTree(_))
    tempDirs.clear()
  }
}

object SparkSuite {
  // One JVM-wide session for the whole test run: Spark sessions are
  // expensive, and getOrCreate dedups anyway.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
