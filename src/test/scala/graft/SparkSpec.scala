package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = Engine.session("local[4]", shufflePartitions = 4)
  private val tagKey = "graft.spec.jobTag"
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. A marker job
    * follows `body` through the same listener queue, so once the listener
    * has seen the marker it has seen every job `body` started.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    import SparkSpec.tagKey
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tagKey)) match {
          case Some(`tag`)                    => started.incrementAndGet()
          case Some(t) if t == s"$tag-marker" => markerSeen.countDown()
          case _                              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, tag)
      val out = body
      sc.setLocalProperty(tagKey, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      if (!markerSeen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener never saw the marker job")
      (out, started.get)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
