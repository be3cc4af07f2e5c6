package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the run record. */
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
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** Operator counts of an executed plan, looking through adaptive
  * query stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  case class Counts(exchanges: Int, broadcasts: Int, scans: Int)
  def of(plan: SparkPlan): Counts = {
    val nodes = collectWithSubqueries(plan) { case n => n }
    Counts(
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      scans = nodes.count {
        case l: LeafExecNode => l.nodeName.contains("Scan")
        case _ => false
      })
  }
}

/** In-memory trace of one run: spans the harness opens around its
  * calls into the program, plus job, task, query-execution and
  * streaming-progress events from Spark's public listener interfaces.
  * Nothing is written until `json` is called at the end of the run.
  *
  * Recording is on only while `enabled`; the traced run alternates
  * traced and untraced passes, and the untraced ones measure the
  * tracing overhead. Each event is labelled with the operation and
  * pass current when it is delivered; the harness drains the listener
  * bus after each traced operation so that no event crosses over. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  @volatile private var op = ""
  @volatile private var pass = -1

  private case class Span(name: String, op: String, pass: Int, start: Long,
      end: Long, nanos: Long)
  private case class Job(id: Int, op: String, pass: Int, start: Long,
      site: String, execution: Long, var end: Long = -1L, var stages: Int = 0,
      var tasks: Long = 0L, var runMs: Long = 0L, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var spill: Long = 0L,
      var inBytes: Long = 0L, var outBytes: Long = 0L,
      var outRecords: Long = 0L)
  private case class Progress(op: String, pass: Int,
      durations: Map[String, Long], inputRows: Long, stateRows: Long)
  private case class Executed(op: String, pass: Int, func: String,
      counts: PlanShape.Counts)

  private val spans = ArrayBuffer[Span]()
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Job]()
  private val progress = ArrayBuffer[Progress]()
  private val executed = ArrayBuffer[Executed]()
  // SQL execution id -> the call site of the action that started it
  private val executions = scala.collection.mutable.Map[Long, String]()

  def label(o: String, p: Int): Unit = { op = o; pass = p }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - t0
        val end = System.currentTimeMillis()
        synchronized { spans += Span(name, op, pass, start, end, nanos) }
      }
    }

  /** Delivers every pending listener event before the label moves. */
  def drain(): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      // the call site is read from the stage names ("text at
      // PgCopyWriter.scala:77"); the callSite.short job property is
      // unset for many jobs. Jobs an adaptive query submits from its
      // own threads name a JDK frame instead, so the SQL execution
      // they belong to is kept as well.
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?")
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      Trace.this.synchronized {
        val j = Job(e.jobId, op, pass, e.time, site, execution)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if enabled =>
        Trace.this.synchronized { executions(x.executionId) = x.description }
      case p: StreamingQueryListener.QueryProgressEvent if enabled =>
        import scala.jdk.CollectionConverters._
        val pr = p.progress
        val d = Option(pr.durationMs).map(_.asScala.toMap.map {
          case (k, v) => k -> v.longValue }).getOrElse(Map.empty)
        Trace.this.synchronized {
          progress += Progress(op, pass, d, pr.numInputRows,
            pr.stateOperators.map(_.numRowsTotal).sum)
        }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled) {
        val c = PlanShape.of(qe.executedPlan)
        Trace.this.synchronized { executed += Executed(op, pass, func, c) }
      }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def json: String = synchronized {
    import Json._
    obj(
      "spans" -> arr(spans.map(s => obj("name" -> str(s.name), "op" -> str(s.op),
        "pass" -> s.pass.toString, "start" -> s.start.toString,
        "end" -> s.end.toString, "nanos" -> s.nanos.toString))),
      "jobs" -> arr(jobs.values.map(j => obj("id" -> j.id.toString,
        "op" -> str(j.op), "pass" -> j.pass.toString, "site" -> str(j.site),
        "execution_site" -> str(executions.getOrElse(j.execution, "")),
        "start" -> j.start.toString, "end" -> j.end.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString,
        "gc_ms" -> j.gcMs.toString, "shuffle_read" -> j.shuffleRead.toString,
        "shuffle_write" -> j.shuffleWrite.toString, "spill" -> j.spill.toString,
        "in_bytes" -> j.inBytes.toString, "out_bytes" -> j.outBytes.toString,
        "out_records" -> j.outRecords.toString))),
      "progress" -> arr(progress.map(p => obj("op" -> str(p.op),
        "pass" -> p.pass.toString,
        "durations" -> obj(p.durations.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.toString }: _*),
        "input_rows" -> p.inputRows.toString,
        "state_rows" -> p.stateRows.toString))),
      "executed" -> arr(executed.map(x => obj("op" -> str(x.op),
        "pass" -> x.pass.toString, "func" -> str(x.func),
        "exchanges" -> x.counts.exchanges.toString,
        "broadcasts" -> x.counts.broadcasts.toString,
        "scans" -> x.counts.scans.toString))))
  }
}
