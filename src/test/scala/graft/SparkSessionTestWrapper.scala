package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.shared

  /** Jobs started while `body` runs. Listener delivery is asynchronous,
    * so a sentinel job in its own group is run afterwards and awaited:
    * the bus is ordered, so every earlier job start has arrived by then.
    */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val group = s"sentinel-${java.util.UUID.randomUUID}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sentinel.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobGroup(group, "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, started.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSessionTestWrapper {
  lazy val shared: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
