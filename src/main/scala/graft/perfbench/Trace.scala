package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds. An aggregated span
  * (`busyNs >= 0`) stands for `count` calls of one layer inside its
  * parent task: `startNs`/`endNs` bound the calls and `busyNs` is their
  * summed duration, which is the span's self time. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    busyNs: Long = -1L, count: Long = 1L) {
  def durNs: Long = if (busyNs >= 0) busyNs else endNs - startNs
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","start_ns":$startNs,"end_ns":$endNs""" +
      (if (busyNs >= 0) s""","busy_ns":$busyNs,"count":$count}""" else "}")
}

/** In-memory span store, written out when the run ends. Spans of the
  * driver are timed here; spans of jobs, stages and tasks come from
  * [[BenchListener]], and per-task layer spans from the traced
  * extraction's accumulator. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val epochNs: Long = System.currentTimeMillis() * 1000000L
  val baseNano: Long = System.nanoTime()

  def nowNs: Long = epochNs + (System.nanoTime() - baseNano)
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `f` inside a span named `name`; `f` gets the span's id. */
  def span[T](name: String, parent: Long)(f: Long => T): T = {
    val id = newId()
    val t0 = nowNs
    try f(id) finally add(Span(id, parent, name, t0, nowNs))
  }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (aggregated children cover their
    * summed busy time; they never overlap within one task). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
      val (agg, real) = cs.partition(_.busyNs >= 0)
      val covered = agg.map(_.busyNs).sum + unionNs(real.map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters for one pass, summed over its tasks. `skew` is
  * max/median task time in the stage holding the pass's longest task. */
final case class SparkStats(jobs: Long, stages: Long, tasks: Long, taskS: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long,
    skew: Double, accums: Map[String, Long])

/** One finished task as the listener saw it. */
private final case class TaskEv(stage: Int, id: Long, launch: Long, finish: Long,
    sw: Long, sr: Long, spill: Long, in: Long, out: Long, accums: Seq[(String, Long)]) {
  def ms: Long = finish - launch
}

/** Listener the benchmark registers itself in traced runs. It records
  * job, stage and task events; [[spans]] turns the events recorded so far
  * into spans (a job's parent is the span whose id is its job group, a
  * stage's parent the first job listing it, a task's parent its stage),
  * and [[passStats]] summarizes every event since the previous call. */
final class BenchListener(tracer: Tracer) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, String, Seq[Int])]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val open = new AtomicLong(0)
  private var passJobs, passStages = 0L
  private val passTasks = Seq.newBuilder[TaskEv]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.add((e.jobId, e.time, group.getOrElse(""), e.stageIds))
    open.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.add((e.jobId, e.time))
    open.decrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = e.taskInfo.accumulables.collect {
        case a if a.name.exists(_.startsWith("graft.")) && a.update.isDefined =>
          a.name.get -> (a.update.get match { case l: java.lang.Long => l.longValue; case _ => 0L })
      }.toSeq
      tasks.add(TaskEv(e.stageId, e.taskInfo.taskId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, acc))
    }
  }

  private def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Wait until every started job has ended (the bus delivers a job's
    * task events before its end event), then emit spans for the events
    * recorded so far. Returns task id -> task span id. */
  def spans(): Map[Long, Long] = synchronized {
    val end = System.currentTimeMillis() + 10000L
    while (open.get() > 0 && System.currentTimeMillis() < end) Thread.sleep(5)
    val js = take(jobs); val je = take(jobEnds).toMap
    val ss = take(stages); val ts = take(tasks)
    passJobs += js.size; passStages += ss.size; passTasks ++= ts
    val ms = 1000000L
    val stageSpan = scala.collection.mutable.HashMap.empty[Int, Long]
    val stageParent = scala.collection.mutable.HashMap.empty[Int, Long]
    js.foreach { case (jobId, t0, group, stageIds) =>
      val id = tracer.newId()
      tracer.add(Span(id, group.toLongOption.getOrElse(0L), "spark.job", t0 * ms,
        je.getOrElse(jobId, t0) * ms))
      stageIds.foreach(s => if (!stageParent.contains(s)) stageParent(s) = id)
    }
    ss.foreach { case (stageId, sub, done) =>
      val id = tracer.newId()
      stageSpan(stageId) = id
      tracer.add(Span(id, stageParent.getOrElse(stageId, 0L), "spark.stage", sub * ms, done * ms))
    }
    ts.map { t =>
      val id = tracer.newId()
      tracer.add(Span(id, stageSpan.getOrElse(t.stage, 0L), "spark.task", t.launch * ms, t.finish * ms))
      t.id -> id
    }.toMap
  }

  /** Sums of the program's own `graft.*` accumulators over the tasks of
    * the current pass so far, without ending the pass. */
  def passAccums(): Map[String, Long] = synchronized {
    spans()
    passTasks.result().flatMap(_.accums).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def passStats(): SparkStats = synchronized {
    spans()
    val ts = passTasks.result()
    val skew = if (ts.isEmpty) 0.0 else {
      val xs = ts.groupBy(_.stage).values.maxBy(_.map(_.ms).max).map(_.ms.toDouble).sorted
      xs.last / math.max(1.0, xs(xs.length / 2))
    }
    val st = SparkStats(passJobs, passStages, ts.size, ts.map(_.ms).sum / 1000.0,
      ts.map(_.sw).sum, ts.map(_.sr).sum, ts.map(_.spill).sum, ts.map(_.in).sum,
      ts.map(_.out).sum, skew, ts.flatMap(_.accums).groupMapReduce(_._1)(_._2)(_ + _))
    passJobs = 0; passStages = 0; passTasks.clear()
    st
  }
}
