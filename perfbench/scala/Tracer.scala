package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and Spark counters recorded from outside the program, around each
  * call the benchmark makes into graft's public surface. Installed only in
  * a traced run; the end-to-end runs create none of this.
  *
  * A span's id travels to Spark as a local property, so every job (and
  * every job of a streaming query started inside the span, whose thread
  * inherits the property) is attributed to the innermost open span.
  */
final class Tracer(sc: SparkContext) {
  val traceId: String = java.util.UUID.randomUUID().toString
  private val Prop = "graftbench.span"

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String) {
    val startNs: Long = System.nanoTime()
    val startMs: Long = System.currentTimeMillis()
    var endNs: Long = startNs
    var endMs: Long = startMs
    val counters = mutable.LinkedHashMap.empty[String, Double]
    def wallS: Double = (endNs - startNs) / 1e9
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name)
      spans += s; stack = s :: stack; s
    }
    sc.setLocalProperty(Prop, s.id.toString)
    val gc0 = gcMs(); val cg0 = Codegen.snapshot()
    try body
    finally {
      // listener events arrive on Spark's async bus: drain it so this
      // span's jobs, tasks and triggers are counted before it closes
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(sc, 10000L)
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.add("gc_s", (gcMs() - gc0) / 1000.0)
      val cg1 = Codegen.snapshot()
      s.add("codegen_compiles", (cg1._1 - cg0._1).toDouble)
      s.add("codegen_s", (cg1._2 - cg0._2) / 1000.0)
      synchronized { stack = stack.tail }
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  // ------------------------------------------------------ Spark listener
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Task run intervals (epoch ms) per span, for the no-task-running gap. */
  val taskIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  private def spanOf(id: Int): Option[Span] = if (id >= 0 && id < spans.size) Some(spans(id)) else None

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      sid.foreach { id =>
        e.stageIds.foreach(st => stageSpan(st) = id)
        spanOf(id).foreach(_.add("jobs", 1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).flatMap(spanOf).foreach { s =>
        s.add("tasks", 1)
        if (!e.taskInfo.successful) s.add("failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_busy_s", m.executorRunTime / 1000.0)
          s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
          s.add("input_mb", m.inputMetrics.bytesRead / 1e6)
        }
        taskIntervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) +=
          ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }

  // ------------------------------------------------- streaming listener
  val triggers = mutable.ArrayBuffer.empty[(Int, Double, Long)]
  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.get("triggerExecution")
      val open = Tracer.this.synchronized(stack.headOption.map(_.id).getOrElse(-1))
      if (d != null) triggers.synchronized {
        triggers += ((open, d.doubleValue, e.progress.numInputRows))
      }
    }
  }

  // ------------------------------------------------ loop rounds (PlanAudit)
  /** (span, tag, time of tap in ns, the round's plan) in tap order. */
  val taps = mutable.ArrayBuffer.empty[(Int, String, Long, QueryExecution)]
  def tap(tag: String, qe: QueryExecution): Unit = {
    val open = Option(sc.getLocalProperty(Prop)).map(_.toInt).getOrElse(-1)
    taps.synchronized { taps += ((open, tag, System.nanoTime(), qe)) }
  }

  /** Per-round records of the taps under `spanIds`: the gap to the next
    * tap of the same tag and span (the round's wall time; the last round
    * of a loop has none) and the Exchange count of the executed plan.
    * The plans are dropped afterwards so they pin no memory.
    */
  def drainRounds(spanIds: Set[Int]): (Int, Seq[Double], Seq[Int]) = taps.synchronized {
    val mine = taps.filter(t => spanIds(t._1)).toSeq
    taps --= mine
    val roundMs = mine.groupBy(t => (t._1, t._2)).values.flatMap { ts =>
      ts.sortBy(_._3).sliding(2).collect { case Seq(a, b) => (b._3 - a._3) / 1e6 }
    }.toSeq
    val exchanges = mine.map(t => try Tracer.exchanges(t._4.executedPlan) catch { case _: Throwable => 0 })
    (mine.size, roundMs, exchanges)
  }
}

object Tracer {
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Union length of [lo, hi] intervals clipped to [from, to]. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curHi) { if (curHi > curLo) total += curHi - curLo; curLo = a; curHi = b }
        else curHi = math.max(curHi, b)
      }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}

/** Whole-stage and expression codegen compiles: the count comes from
  * Spark's CodegenMetrics histogram; the time is summed from the
  * CodeGenerator's own "Code generated in N ms" log line, since the
  * histogram only keeps a sample of its values.
  */
object Codegen {
  @volatile private var totalMs = 0.0
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    import org.apache.logging.log4j.Level
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Line(ms) => Codegen.synchronized { totalMs += ms.toDouble }
        case _ =>
      }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(Logger, lc)
    ctx.updateLoggers()
  }

  /** (compiles so far, compile ms so far). */
  def snapshot(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    Codegen.synchronized(totalMs))
}
