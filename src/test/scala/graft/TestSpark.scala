package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = GraftSession.compileOnce(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous, so it is given time to drain before the count. */
  def jobsDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  /** RDD ids persisted now that were not in `base`. Unpersist is
    * asynchronous (blocking = false), so this polls for up to 10 s
    * before it reports what is left. */
  def persistedSince(base: Set[Int]): Set[Int] = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 10_000_000_000L
    def extra = sc.getPersistentRDDs.keySet.toSet -- base
    while (extra.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    extra
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
