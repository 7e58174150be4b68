package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started by a block of code, counted by job group. */
object JobCount {

  /** `body`'s result and the number of jobs it started (from its own
    * thread or the threads it starts). The listener bus delivers in order,
    * so once a marker job run after `body` is seen, every job of `body`
    * has been seen too.
    */
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "listener never saw the marker job")
      (out, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
