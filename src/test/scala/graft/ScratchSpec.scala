package graft

/** Registry scratch stores live as long as their session. This suite
  * stops the shared SparkContext, so it holds only this spec; later
  * suites start a new one. */
class ScratchSpec extends SparkSuite {

  test("s7_keyed_point_read's scratch store is deleted when the " +
      "SparkContext stops") {
    val app = spark.sparkContext.applicationId
    def stores() = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_upsert_store_") && n.endsWith(app)).toSeq
    assert(SparkEntry.queries("s7_keyed_point_read")(spark, sf).count() > 0)
    assert(stores().size === 1, "the query writes one store")
    spark.stop()
    assert(stores().isEmpty, s"left behind: ${stores()}")
  }
}
