package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkShim

/** A finished span. `req` is shared by every span of one request or
  * set-up phase; `parent` is 0 at the root.
  */
final case class Span(id: Long, parent: Long, req: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (through its job group). */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var schedulerDelayMs = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    schedulerDelayMs += o.schedulerDelayMs
  }
}

/** What the file scans of one SQL execution read, per artifact. */
final case class ScanCounts(artifact: String, rows: Long, fileBytes: Long)

/** Spans recorded from the benchmark's own code around each call into the
  * engine. Off (the timed runs) it only runs the body. On, each span sets
  * its id as the Spark job group of the calling thread, so a listener can
  * charge Spark jobs, tasks and scans to the innermost span; spans are kept
  * in memory and written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  private val muted = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Mutes (or unmutes) tracing on the calling thread only. */
  def mute(m: Boolean): Unit = muted.set(m)

  /** Whether spans opened on this thread are recorded. */
  def active: Boolean = on && !muted.get
  private val nextId = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Records a span timed elsewhere (the session start, before the
    * tracer can exist).
    */
  def record(name: String, req: String, startNs: Long, endNs: Long): Unit =
    done.add(Span(nextId.incrementAndGet(), 0L, req, name, startNs, endNs))

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!active) body
    else {
      val outer = stack.get
      val rq = if (req.nonEmpty) req else outer.headOption.map(_._2).getOrElse(name)
      val id = nextId.incrementAndGet()
      stack.set((id, rq) :: outer)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), rq, name, t0, t1))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, _)) => sc.setJobGroup(pid.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Charges Spark jobs, tasks and file scans to the span whose id is the
  * job group they ran under.
  */
final class SparkObserver extends SparkListener {
  private val jobGroup = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private val execGroup = mutable.HashMap.empty[Long, Long]
  private val execScans = mutable.HashMap.empty[Long, Seq[ScanCounts]]
  val bySpan = mutable.HashMap.empty[Long, SparkCounts]

  private def counts(span: Long) = bySpan.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption)
    group.foreach { g =>
      jobGroup(e.jobId) = g
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      counts(g).jobs += 1
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).foreach(x => execGroup.getOrElseUpdate(x, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); g <- jobGroup.get(job)) {
      val c = counts(g)
      c.tasks += 1
      val info = e.taskInfo
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        c.schedulerDelayMs += math.max(0L, info.launchTime - sub)
      }
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** A finished SQL execution: what its file scans read. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(SparkShim.queryExecution(end)).foreach { qe =>
        val scans = SparkObserver.scans(qe.executedPlan)
        synchronized { execScans(end.executionId) = scans }
      }
    case _ =>
  }

  /** File scans per span, once the listener bus has drained. */
  def scansBySpan: Map[Long, Seq[ScanCounts]] = synchronized {
    execScans.toSeq.flatMap { case (x, s) => execGroup.get(x).map(_ -> s) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.flatMap(_._2) }
  }
}

object SparkObserver {
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(walk)
  }

  def scans(plan: SparkPlan): Seq[ScanCounts] = walk(plan).collect {
    case s: FileSourceScanExec =>
      val path = s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      ScanCounts(path.stripSuffix(".parquet"), m("numOutputRows"), m("filesSize"))
  }

  def install(spark: SparkSession): SparkObserver = {
    val o = new SparkObserver
    spark.sparkContext.addSparkListener(o)
    o
  }
}
