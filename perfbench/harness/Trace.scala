package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into the program. Times are wall-clock ms. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Double, end: Double)

/** One Spark job, seen by the listener, with its task totals. */
final class JobRec(val id: Int, val group: String, val start: Double,
                   val frame: String, val stages: String) {
  var end: Double = start
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** The traced run's recorder. Disabled, every method is a pass-through
  * that records nothing and registers no listener. Enabled, it keeps
  * spans in memory, turns every Spark job into a child span (parent = the
  * span whose op id is the job group), and writes everything at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val plans = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
  /** (end ms, duration ms, output path) of every successful write action. */
  private val writes = mutable.ArrayBuffer.empty[(Double, Double, String)]
  /** Client-thread time spent in tracing bookkeeping (ns). */
  private val bookkeepingNs = new java.util.concurrent.atomic.AtomicLong(0)

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        while (plans.size() > 100) plans.poll()
        plans.put((funcName, qe))
        val target = Tracer.WriteTarget.findFirstMatchIn(qe.logical.toString.take(4000))
          .map(_.group(1)).getOrElse("")
        Tracer.this.synchronized { writes += ((Clock.ms, durationNs / 1e6, target)) }
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Time `body` as a span; with tracing on, its Spark jobs become children. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val parent = stack.get().headOption.map(_.id).getOrElse(0L)
      val id = nextId.getAndIncrement()
      val prevGroup = sc.map(_.getLocalProperty("spark.jobGroup.id")).orNull
      sc.foreach(_.setLocalProperty("spark.jobGroup.id", s"span-$id"))
      val open = Span(id, parent, name, op, Clock.ms, 0.0)
      stack.set(open :: stack.get())
      bookkeepingNs.addAndGet(System.nanoTime() - b0)
      try body
      finally {
        val b1 = System.nanoTime()
        stack.set(stack.get().tail)
        sc.foreach(_.setLocalProperty("spark.jobGroup.id", prevGroup))
        synchronized { spans += open.copy(end = Clock.ms) }
        bookkeepingNs.addAndGet(System.nanoTime() - b1)
      }
    }

  /** Exchange / ReusedExchange counts of the final (adaptive) plan of the
    * last `noop` write. Waits for the asynchronous listener event.
    */
  def lastSavePlanFacts(): (Int, Int) = {
    if (!enabled) return (0, 0)
    val b0 = System.nanoTime()
    var facts = (0, 0)
    var found = false
    val deadline = System.nanoTime() + 3000000000L
    while (!found && System.nanoTime() < deadline) {
      val e = plans.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (e != null && Tracer.isNoopWrite(e._2)) {
        facts = Tracer.exchanges(e._2.executedPlan); found = true
      }
    }
    bookkeepingNs.addAndGet(System.nanoTime() - b0)
    facts
  }

  /** Drop queued plan events (before an operation whose plan is wanted). */
  def clearPlans(): Unit = if (enabled) plans.clear()

  def bookkeepingSeconds: Double = bookkeepingNs.get() / 1e9

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allWrites: Seq[(Double, Double, String)] = synchronized(writes.toList)
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toList)

  /** Jobs whose group is the given span or any of its descendants. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val all = allSpans
    val ids = mutable.Set(s.id)
    var grew = true
    while (grew) {
      val more = all.filter(x => ids.contains(x.parent) && !ids.contains(x.id)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    allJobs.filter(j => ids.exists(i => j.group == s"span-$i"))
  }

  /** Span duration minus the union of its child spans' (and jobs') time. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
      allJobs.filter(_.group == s"span-${s.id}").map(j => (j.start, j.end))
    val merged = kids.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }
    val covered = merged.map { case (a, b) =>
      math.max(0.0, math.min(b, s.end) - math.max(a, s.start)) }.sum
    (s.end - s.start - covered) / 1000.0
  }

  def writeSpans(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      allSpans.foreach { s =>
        w.println(Json(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end,
          "self_s" -> selfSeconds(s))))
      }
      allJobs.foreach { j =>
        val parent = j.group.stripPrefix("span-")
        w.println(Json(Map("kind" -> "job", "id" -> j.id,
          "parent" -> scala.util.Try(parent.toLong).getOrElse(0L),
          "name" -> s"job:${j.frame}", "op" -> j.group, "start" -> j.start, "end" -> j.end,
          "stages" -> j.stages, "tasks" -> j.tasks, "busy_ms" -> j.busyMs, "shuffle_bytes" -> j.shuffleBytes)))
      }
    } finally w.close()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val frame = e.stageInfos.headOption.map(s => Tracer.innermostFrame(s.details)).getOrElse("")
      Tracer.this.synchronized {
        jobs(e.jobId) = new JobRec(e.jobId, group, e.time.toDouble, frame,
          e.stageInfos.map(_.name).mkString(" | "))
        e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Tracer.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (m != null) {
            j.busyMs += m.executorRunTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
    }
  }
}

object Tracer {
  val WriteTarget = "InsertIntoHadoopFsRelationCommand (\\S+?),".r

  def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.toString.take(400).toLowerCase(java.util.Locale.ROOT).contains("noop")

  /** The innermost `graft.` frame of a call-site stack (`Class.method(File:line)`). */
  def innermostFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.")).getOrElse("")

  /** Exchange and ReusedExchange counts of a physical plan, adaptive stages
    * and subqueries included.
    */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var ex = 0
    var reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange => ex += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reused)
  }
}
