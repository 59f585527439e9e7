package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the `spark.job.description` of every Spark job started between
  * construction and [[stop]] ("" for a job without one).
  *
  * Listener events arrive asynchronously. [[stop]] therefore runs one marker
  * job and waits for its start event: the bus delivers events in order, so
  * every job started before the marker has been recorded by then. The marker
  * itself is not recorded.
  */
final class JobRecorder(spark: SparkSession) {
  import JobRecorder.DescriptionKey

  private val marker = s"job-recorder-marker-${java.util.UUID.randomUUID()}"
  private val seen = new ConcurrentLinkedQueue[String]()
  private val markerSeen = new CountDownLatch(1)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val d = Option(j.properties).flatMap(p => Option(p.getProperty(DescriptionKey)))
        .getOrElse("")
      if (d == marker) markerSeen.countDown() else seen.add(d)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Stop recording; the descriptions in job start order. */
  def stop(): Seq[String] = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DescriptionKey, previous)
    val delivered = markerSeen.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(listener)
    require(delivered, "listener bus did not deliver the marker job within 60 s")
    seen.toArray(Array.empty[String]).toSeq
  }
}

object JobRecorder {
  val DescriptionKey = "spark.job.description"

  /** Run `body`, returning its result and the descriptions of the jobs it started. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val rec = new JobRecorder(spark)
    val out = try body catch { case e: Throwable => rec.stop(); throw e }
    (out, rec.stop())
  }
}
