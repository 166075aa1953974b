package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One shared local session across suites (getOrCreate). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** The Spark jobs `body` starts on this thread, one line of stage
    * names each. */
  def jobsOf(body: => Unit): Seq[String] = sparkEventsOf(body)._1

  /** The task-end events of the Spark jobs `body` starts on this thread. */
  def taskEndsOf(body: => Unit): Seq[SparkListenerTaskEnd] = sparkEventsOf(body)._2

  private def sparkEventsOf(body: => Unit): (Seq[String], Seq[SparkListenerTaskEnd]) = {
    val group = s"graft-test-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.stageInfos.map(_.name).mkString(" + "))
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.toArray.toSeq.map(_.toString),
      tasks.toArray.toSeq.map(_.asInstanceOf[SparkListenerTaskEnd]).filter(t => stages.contains(t.stageId)))
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
