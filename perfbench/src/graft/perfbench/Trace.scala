package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are milliseconds since the run started;
  * `parent` is the enclosing harness span (-1 for none, and for spans
  * built from Spark listener events, which are attached to their op
  * afterwards by job group or by time). */
final case class Span(id: Int, parent: Int, name: String, t0: Double, t1: Double,
    attrs: Map[String, Any])

/** In-memory span recorder plus the Spark listeners that feed it.
  *
  * Harness spans nest through a stack on the driver thread. Listener
  * events arrive on the listener-bus thread; they are recorded only
  * while `active`, and callers drain the bus (`settle`) before they
  * flip `active`, so no unit's events leak into the next one. With
  * `enabled = false` nothing is registered and `span` only runs its body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  @volatile var active: Boolean = enabled

  def now: Double = (System.nanoTime() - baseNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - baseEpochMs).toDouble

  private def add(parent: Int, name: String, t0: Double, t1: Double,
      attrs: Map[String, Any]): Int = synchronized {
    val id = nextId
    nextId += 1
    buf += Span(id, parent, name, t0, t1, attrs)
    id
  }

  def record(name: String, t0: Double, t1: Double, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled && active) add(stack.headOption.getOrElse(-1), name, t0, t1, attrs)

  /** Run `body` inside a span; `attrs` is evaluated after the body. */
  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!(enabled && active)) body
    else {
      val t0 = now
      val id = synchronized {
        val i = nextId
        nextId += 1
        i
      }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized(buf += Span(id, parent, name, t0, now, attrs))
      }
    }

  def settle(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def spans: Seq[Span] = synchronized(buf.sortBy(_.id).toList)

  // ---------------------------------------------------------------- listeners

  private final class StageAcc {
    var runMs, cpuNs, gcMs, shW, shR, fetchMs, spill, inB, outB = 0L
    var peak = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val stages = scala.collection.mutable.Map.empty[(Int, Int), StageAcc]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.synchronized(jobStarts(e.jobId) = (fromEpochMs(e.time), group.getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) {
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { case (t0, group) =>
        add(-1, "spark.job", t0, fromEpochMs(e.time), Map("job" -> e.jobId, "group" -> group))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stages.synchronized(stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc))
      a.synchronized {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak += m.peakExecutionMemory
        a.inB += m.inputMetrics.bytesRead
        a.outB += m.outputMetrics.bytesWritten
        a.durations += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      val a = stages.synchronized(stages.remove((i.stageId, i.attemptNumber())))
        .getOrElse(new StageAcc)
      val d = a.durations.sorted
      val skew = if (d.isEmpty) 1.0 else d.last.toDouble / math.max(1L, d(d.size / 2))
      add(-1, "spark.stage",
        fromEpochMs(i.submissionTime.getOrElse(0L)), fromEpochMs(i.completionTime.getOrElse(0L)),
        Map("stage" -> i.stageId, "tasks" -> i.numTasks, "run_ms" -> a.runMs,
          "cpu_ms" -> a.cpuNs / 1000000L, "gc_ms" -> a.gcMs, "shuffle_write" -> a.shW,
          "shuffle_read" -> a.shR, "fetch_wait_ms" -> a.fetchMs, "spill" -> a.spill,
          "peak_exec" -> a.peak, "input" -> a.inB, "output" -> a.outB, "skew" -> skew))
    }
  }
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Double, String)]

  /** Executed-plan operators outside whole-stage codegen (AQE stages
    * and reused exchanges unwrapped, wrappers themselves not counted). */
  private def nonCodegen(p: SparkPlan, inCodegen: Boolean): Int = p match {
    case a: AdaptiveSparkPlanExec => nonCodegen(a.executedPlan, inCodegen = false)
    case s: QueryStageExec => nonCodegen(s.plan, inCodegen = false)
    case w: WholeStageCodegenExec => nonCodegen(w.child, inCodegen = true)
    case i: InputAdapter => nonCodegen(i.child, inCodegen = false)
    case _: ReusedExchangeExec => 0
    case o => (if (inCodegen) 0 else 1) + o.children.map(nonCodegen(_, inCodegen)).sum
  }

  private def filesRead(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case w: WholeStageCodegenExec => Seq(w.child)
      case o => o.children
    }
    own + kids.map(filesRead).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val ph = qe.tracker.phases
        def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        val t = ph.get("planning").map(_.endTimeMs).orElse(ph.get("analysis").map(_.endTimeMs))
          .map(fromEpochMs).getOrElse(now)
        val plan = qe.executedPlan
        add(-1, "spark.sql", t, t, Map("func" -> func, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
          "non_codegen_ops" -> nonCodegen(plan, inCodegen = false),
          "files_read" -> filesRead(plan)))
      }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def isoMs(ts: String): Double = fromEpochMs(java.time.Instant.parse(ts).toEpochMilli)

  /** Trigger phases in the order a micro-batch runs them; the children
    * of a `stream.trigger` span are laid out back to back in this order
    * from the trigger's start (progress reports durations, not starts). */
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t0 = isoMs(p.timestamp)
      val state = p.stateOperators.headOption.map { s =>
        Map("state_rows" -> s.numRowsTotal, "state_memory" -> s.memoryUsedBytes,
          "state_commit_ms" -> s.commitTimeMs)
      }.getOrElse(Map.empty)
      val id = add(-1, "stream.trigger", t0, t0 + d.getOrElse("triggerExecution", 0L),
        Map("query" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows) ++ state)
      var at = t0
      StreamPhases.foreach { ph =>
        d.get(ph).foreach { ms =>
          add(id, s"stream.phase.$ph", at, at + ms, Map("query" -> p.id.toString))
          at += ms
        }
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Json.obj(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs))))
    finally w.close()
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
