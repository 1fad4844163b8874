package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate dedupes across suites), built by [[graft.Session.local]]
  * like every main's. It carries the custom rules and strategies from
  * the start, as every serving session does, so a spec that builds a
  * query directly plans it the way the registry does whatever spec ran
  * first. A spec that needs a rule-free plan takes
  * `spark.newSession()`. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session.local(4, Map("spark.sql.warehouse.dir" -> "/tmp/graft_warehouse"))

  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs started while it ran. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
