package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for all suites (getOrCreate → one JVM session). */
trait SparkTest { self: Suite =>
  lazy val spark: SparkSession = SparkTest.session

  /** The starts of the Spark jobs that `body` runs, from a listener. */
  protected def jobsStartedBy(body: => Unit)
      : Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(j)
    }
    spark.sparkContext.addSparkListener(listener)
    import scala.jdk.CollectionConverters._
    try {
      body
      // the bus delivers in order: once a marker job's start arrives, so
      // has the start of every job before it
      val marker = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.ready(marker,
        scala.concurrent.duration.Duration.Inf)
      val markerId = marker.jobIds.head
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.exists(_.jobId == markerId) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      started.asScala.toSeq.filter(_.jobId < markerId)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
