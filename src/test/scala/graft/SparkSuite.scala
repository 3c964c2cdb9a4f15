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

  /** The bucket count recorded in a keyed store's current manifest. */
  def storeBuckets(root: String): Int = {
    val v = graft.sinks.Upsert.currentVersion(root).get
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, s"manifest_v$v.json")))
    """"nb":(\d+)""".r.findFirstMatchIn(m).get.group(1).toInt
  }

  override protected def afterAll(): Unit =
    try tmpDirs.foreach(Tables.deleteTree)
    finally super.afterAll()
}
