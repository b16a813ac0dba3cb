package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Row counts read from the SQL metrics of one executed query. */
case class PlanCounts(
    topRows: Long,       // rows out of the topmost node that counts them
    joinRows: Long,      // rows out of every join node
    verifyIn: Long,      // candidate pairs into a cosine-verify filter or join
    verifyOut: Long,     // pairs out of it
    filesWritten: Long,
    bytesWritten: Long)

object PlanCounts {
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Rows leaving `p`, looking through nodes that keep no row count. */
  private def rowsOut(p: SparkPlan): Long =
    rows(p).getOrElse(kids(p).headOption.map(rowsOut).getOrElse(0L))

  def of(plan: SparkPlan): PlanCounts = {
    var top: Option[Long] = None
    var join, vin, vout, files, bytes = 0L
    def walk(p: SparkPlan): Unit = {
      if (top.isEmpty) top = rows(p)
      val name = p.nodeName
      if (name.contains("Join")) join += rows(p).getOrElse(0L)
      // the cosine threshold runs as a Filter, or as the condition of the
      // join that fetches the second embedding; its input is the child
      // that carries the (a, b) pair columns
      if ((name == "Filter" || name.contains("Join")) &&
          p.verboseStringWithOperatorId().toLowerCase.contains("cosine")) {
        vout += rows(p).getOrElse(0L)
        val pairSide = p.children.find(c => Set("a", "b").subsetOf(c.output.map(_.name).toSet))
        vin += pairSide.orElse(kids(p).headOption).map(rowsOut).getOrElse(0L)
      }
      p match {
        case w: DataWritingCommandExec =>
          w.metrics.get("numFiles").foreach(m => files += m.value)
          w.metrics.get("numOutputBytes").foreach(m => bytes += m.value)
        case _ =>
      }
      kids(p).foreach(walk)
    }
    walk(plan)
    PlanCounts(top.getOrElse(0L), join, vin, vout, files, bytes)
  }
}

/** Per-task figures kept by the listener (times in ms, sizes in bytes). */
case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long,
    shuffleRead: Long, diskSpill: Long, recordsRead: Long)

/** One span: a call into a layer's public function or the materializing
  * action over a layer's output prefix. Times are ns since the tracer
  * started. `counts` is filled only for spans that own a listener window.
  */
case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span and count recorder. While attached it registers its own
  * Spark listener and query-execution listener; the program is not
  * instrumented. Spans that own counts drain the listener bus before they
  * start and after they end (outside their interval), so every event of the
  * window is attributed.
  */
class Tracer(spark: SparkSession, val runId: String, cores: Int) {
  private val t0 = System.nanoTime()
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStarts = ArrayBuffer.empty[Long]
  private val jobEnds = ArrayBuffer.empty[Long] // wall-clock ms
  private val plans = ArrayBuffer.empty[PlanCounts]
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.synchronized { jobStarts += e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.synchronized { jobEnds += e.time }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized { plans += PlanCounts.of(qe.executedPlan) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def drain(): Unit = BenchBridge.drain(spark.sparkContext)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def now: Long = System.nanoTime() - t0

  /** A span with times only that encloses others (one ladder rep). */
  def group[T](name: String)(body: Int => T): T = {
    val id = nextId; nextId += 1
    val s = now
    val out = body(id)
    spans += Span(id, name, -1, runId, s, now, Map.empty)
    out
  }

  /** A span with times only (a call nested in a counted span). */
  def call[T](name: String, parent: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val s = now
    val out = body
    spans += Span(id, name, parent, runId, s, now, Map.empty)
    out
  }

  /** A span that owns the listener window of its interval. `body` receives
    * the span id so nested [[call]] spans can name it as their parent.
    */
  def counted[T](name: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = nextId; nextId += 1
    drain()
    val (ti, ji, pi) = (tasks.size, jobStarts.size, plans.size)
    val je = jobEnds.size
    val gc0 = gcMs
    val s = now
    val out = body(id)
    val e = now
    val endWall = System.currentTimeMillis()
    val gc1 = gcMs
    drain()
    val ts = tasks.synchronized(tasks.slice(ti, tasks.size).toSeq)
    val nJobs = jobStarts.synchronized(jobStarts.size - ji)
    val lastJobEnd = jobEnds.synchronized(jobEnds.slice(je, jobEnds.size).maxOption)
    val ps = plans.synchronized(plans.slice(pi, plans.size).toSeq)
    // task skew over the stages that read a shuffle: max / median task time
    val readStages = ts.filter(_.shuffleRead > 0).map(_.stageId).toSet
    val readTimes = ts.filter(t => readStages(t.stageId)).map(_.runMs.toDouble).sorted
    val skew = if (readTimes.isEmpty) 0.0
      else readTimes.last / math.max(1.0, readTimes(readTimes.size / 2))
    val counts = Map[String, Double](
      "jobs" -> nJobs,
      "tasks" -> ts.size,
      "task_s" -> ts.map(_.runMs).sum / 1e3,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> (gc1 - gc0) / 1e3,
      "shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "spill_mb" -> ts.map(_.diskSpill).sum / 1e6,
      "records_read" -> ts.map(_.recordsRead).sum,
      "task_skew" -> skew,
      "tail_after_jobs_s" -> lastJobEnd.map(j => math.max(0L, endWall - j) / 1e3).getOrElse(0.0),
      "rows_out" -> ps.lastOption.map(_.topRows.toDouble).getOrElse(0.0),
      "join_rows" -> ps.map(_.joinRows).sum,
      "verify_in" -> ps.map(_.verifyIn).sum,
      "verify_out" -> ps.map(_.verifyOut).sum,
      "files_written" -> ps.map(_.filesWritten).sum,
      "bytes_written_mb" -> ps.map(_.bytesWritten).sum / 1e6,
      "cores" -> cores)
    val span = Span(id, name, parent, runId, s, e, counts)
    spans += span
    (out, span)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: String = Json.write(spans)
}

/** JSON rendering for the result and trace files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
