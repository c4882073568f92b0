package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, on any thread. Listener events
  * arrive asynchronously, so the count is taken between two marker jobs:
  * events are delivered in order, so once the closing marker's start has
  * been seen, every job the block launched has been seen too.
  */
object JobCount {
  private val MarkerKey = "graft.test.jobcount.marker"

  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
          .getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(MarkerKey, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    }
    /** Jobs observed before the marker job `tag`. */
    def awaitMarker(tag: String): Int = {
      def next() = {
        val e = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        require(e != null, s"marker job '$tag' was never observed")
        e
      }
      var n = 0
      while (next() != tag) n += 1
      n
    }
    val token = java.util.UUID.randomUUID().toString
    sc.addSparkListener(listener)
    try {
      marker(s"open-$token")
      awaitMarker(s"open-$token")
      val out = body
      marker(s"close-$token")
      (out, awaitMarker(s"close-$token"))
    } finally sc.removeSparkListener(listener)
  }
}
