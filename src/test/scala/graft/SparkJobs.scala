package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block starts on the calling thread. The jobs are
  * told apart by a job group; a marker job run after the block is the
  * positive control: once the listener has seen it, it has seen every
  * earlier job too.
  */
object SparkJobs {
  def during(sc: SparkContext, group: String)(f: => Any): Int = {
    val marker = "graft.spec.marker"
    // every job of the group, in start order; the marker job's entry is
    // "marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty(marker)).getOrElse("job")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec")
    try {
      f
      sc.setLocalProperty(marker, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("marker"), "the listener missed the marker job")
      seen.asScala.count(_ == "job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
