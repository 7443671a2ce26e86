package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; Spark
  * reuses it across suites via getOrCreate).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Every Spark job started while `body` runs. */
  protected def jobsDuring[T](body: => T): (Int, T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graftbridge.ListenerBusDrain(sc)
      (started.get, r)
    } finally sc.removeSparkListener(listener)
  }
}
