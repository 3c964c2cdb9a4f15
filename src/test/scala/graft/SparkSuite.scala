package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh temp dir, deleted with its contents after the suite. */
  def tmpDir(prefix: String): String = tmpDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs += d
    d
  }

  override protected def afterAll(): Unit =
    try tmpDirs.foreach(Tables.deleteTree)
    finally super.afterAll()
}
