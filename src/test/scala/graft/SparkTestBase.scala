package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across suites (getOrCreate). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** The Spark jobs `body` starts on this thread, one line of stage
    * names each. */
  def jobsOf(body: => Unit): Seq[String] = {
    val group = s"graft-test-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.name).mkString(" + "))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.toArray.toSeq.map(_.toString)
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
