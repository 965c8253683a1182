package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. The block runs under its own
  * job group (a thread-local property, so jobs of suites running
  * concurrently on other threads are not counted); a marker job after
  * it flushes the listener bus, whose events arrive in job order: once
  * the marker's start is seen, every job the block launched has been
  * seen too.
  */
object JobProbe {
  def jobs(spark: SparkSession, group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val marker = s"$group-marker"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(marker) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      require(groups.contains(marker), "the marker job's start never arrived")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
