package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The traced run's recorder. It measures every layer from outside:
  * spans around the harness's calls into the engine's public functions,
  * a SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the Exchange nodes of each executed plan. Spark jobs are tagged with
  * the span and op that started them through `setLocalProperty`.
  *
  * Disabled (the end-to-end runs), it registers nothing and `span` is a
  * plain call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op: String = null
  private val brackets = mutable.ArrayBuffer[(Long, Long)]()

  // listener state, written on the listener-bus thread
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var stages, tasks = 0L
  private var busyNs, shRead, shWrite, spill = 0L
  private val exchanges = mutable.HashMap[String, Long]().withDefaultValue(0L)
  @volatile private var execOp: String = null

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties)
        val o = p.flatMap(x => Option(x.getProperty(OpKey))).orNull
        if (o != null) {
          val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
          val site = e.stageInfos.sortBy(-_.stageId).headOption
            .map(s => s.details + "\n" + s.name).getOrElse("")
          jobs(e.jobId) = Job(e.jobId, o, span, siteModule(site), e.time, -1L)
          e.stageIds.foreach(s => stageJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        if (stageJob.contains(e.stageInfo.stageId)) stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
          val m = e.taskMetrics
          tasks += 1
          busyNs += m.executorRunTime * 1000000L
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val o = execOp
        if (o != null) exchanges.synchronized { exchanges(o) += exchangeCount(qe.executedPlan) }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Runs `body` inside a span named after the layer call it wraps.
    * Only calls inside a timed op are recorded.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled || op == null) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), -1L)
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Marks the start of one timed op; its jobs and plans are charged to it. */
  def openOp(name: String): Unit = if (enabled) {
    op = name
    execOp = name
    sc.setLocalProperty(OpKey, name)
  }

  /** Closes the op opened last, whose timed bracket was [t0, t1] (nanoTime). */
  def closeOp(t0: Long, t1: Long): Unit = if (enabled) {
    sc.setLocalProperty(OpKey, null)
    org.apache.spark.etlbench.Drain(sc)
    execOp = null
    brackets += ((t0, t1))
    op = null
  }

  /** Seconds spent in spans of each name. */
  def spanSeconds(): Map[String, Double] =
    spans.filter(_.endNs >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs).sum / 1e9 }

  /** The listener's figures, plus job counts per module and per op and
    * Exchange counts per op. */
  def summary(): Map[String, Double] = synchronized {
    org.apache.spark.etlbench.Drain(sc)
    val done = jobs.values.toSeq
    val base = Map[String, Double](
      "spark.jobs" -> done.size,
      "spark.stages" -> stages,
      "spark.tasks" -> tasks,
      "spark.task_busy_s" -> busyNs / 1e9,
      "spark.shuffle_read_mb" -> shRead / 1e6,
      "spark.shuffle_write_mb" -> shWrite / 1e6,
      "spark.spill_mb" -> spill / 1e6,
      "spark.exchanges" -> exchanges.synchronized(exchanges.values.sum),
      "driver.gap_s" -> gapSeconds(done))
    val byModule = done.groupBy(moduleOf).map { case (m, js) => s"$m.jobs" -> js.size.toDouble }
    val byOp = done.groupBy(_.op).map { case (o, js) => s"$o.jobs" -> js.size.toDouble }
    val exByOp = exchanges.synchronized(exchanges.toMap).map { case (o, n) => s"$o.exchanges" -> n.toDouble }
    base ++ byModule ++ byOp ++ exByOp
  }

  /** The engine module a job is charged to: the engine source file named
    * in its call site; else, for jobs the adaptive executor starts from its
    * own threads, the layer of the span that started it (`Layer.call`);
    * else the module that built the op's query (`Module.query`).
    */
  private def moduleOf(j: Job): String =
    j.module.getOrElse {
      val from = if (j.span >= 0) spans(j.span).name else j.op
      if (from.contains('.') && from.head.isUpper) from.takeWhile(_ != '.') else "harness"
    }

  /** Wall time inside the timed brackets during which no Spark job ran.
    * Job times come from the listener in epoch ms; brackets are mapped to
    * epoch ms through one nanoTime/currentTimeMillis pair.
    */
  private def gapSeconds(done: Seq[Job]): Double = {
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val ivs = done.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      .sortBy(_._1)
    val merged = ivs.foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }
    brackets.map { case (t0, t1) =>
      val (b0, b1) = (t0 / 1e6 + offMs, t1 / 1e6 + offMs)
      val covered = merged.map { case (s, e) => math.max(0.0, math.min(e, b1) - math.max(s, b0)) }.sum
      (b1 - b0 - covered) / 1000.0
    }.sum
  }

  /** The spans and jobs as one JSON document. */
  def json: String = synchronized {
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val js = jobs.values.map(j =>
      s"""{"job":${j.id},"op":"${j.op}","span":${j.span},"module":"${moduleOf(j)}","start_ms":${j.startMs},"end_ms":${j.endMs}}""")
    s"""{"spans":[${ss.mkString(",")}],"jobs":[${js.mkString(",")}]}"""
  }
}

object Tracer {
  val SpanKey = "etlbench.span"
  val OpKey = "etlbench.op"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)
  final case class Job(id: Int, op: String, span: Int, module: Option[String],
                       startMs: Long, endMs: Long)

  private val GraftFrame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** The engine source file named in the first engine frame of a call site. */
  def siteModule(callSite: String): Option[String] =
    GraftFrame.findFirstMatchIn(callSite).map(_.group(1))

  /** Exchange nodes in an executed plan, looking through adaptive
    * wrappers and query stages to the final plan.
    */
  def exchangeCount(p: SparkPlan): Long = {
    val self = p match { case _: Exchange => 1L; case _ => 0L }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchangeCount).sum
  }
}
