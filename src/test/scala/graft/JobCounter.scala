package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs that driver code starts, through a listener on
  * the session's context. `close()` removes the listener.
  */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val sc = spark.sparkContext
  private val marker = "graft.test.jobMarker"
  private val started = new AtomicInteger
  private val drained = new AtomicReference(Promise[Unit]())
  private val listener = new SparkListener {
    private val markers = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(marker) != null))
        markers.add(e.jobId)
      else started.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markers.remove(e.jobId)) drained.get.trySuccess(())
  }
  sc.addSparkListener(listener)

  // the listener bus delivers events in order: once the marker job's
  // end arrives, every job started before it has been counted
  private def drain(): Unit = {
    val p = Promise[Unit]()
    drained.set(p)
    sc.setLocalProperty(marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(marker, null)
    Await.result(p.future, 60.seconds)
  }

  /** The jobs `body` starts. */
  def jobs(body: => Any): Int = {
    drain()
    started.set(0)
    body
    drain()
    started.get
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}
