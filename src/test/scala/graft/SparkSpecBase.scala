package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the entry points' recipe
  * ([[GraftSession.local]]) at a fixed 4 cores, one JVM-wide session
  * that Spark reuses across suites via getOrCreate.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

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
