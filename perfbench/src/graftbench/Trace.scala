package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds, the clock Spark's
  * listener events carry, so spans and Spark events nest by containment.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long, run: String)

/** Task totals of one stage attempt. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, start: Long, end: Long, stages: Seq[Int])

/** Write of a file-backed dataset, seen by the QueryExecutionListener.
  * `durNs` is the SQL execution's duration, which also keys its end time.
  */
final case class WriteRec(durNs: Long, rows: Long, bytes: Long, files: Long)

/** Catalyst planning of any other action: summed tracker phases. */
final case class PlanRec(durNs: Long, planMs: Long, planStart: Long)

/** A micro-batch's StreamingQueryProgress, reduced to the fields reported. */
final case class BatchRec(start: Long, durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateBytes: Long)

/** Listeners on every layer Spark reports on: jobs, stages and tasks
  * (SparkListener), each action's QueryExecution (QueryExecutionListener)
  * and each streaming micro-batch (StreamingQueryListener). Everything is
  * kept in memory; read only after [[org.apache.spark.graftbench.Bus.drain]].
  */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  val stages = mutable.Map.empty[Int, StageAgg]
  val plans = ArrayBuffer.empty[PlanRec]
  val writes = ArrayBuffer.empty[WriteRec]
  /** SQL execution end time (epoch ms) by its duration in ns. The
    * QueryExecutionListener is told the duration but not the end time; the
    * same SparkListenerSQLExecutionEnd event carries both.
    */
  private val sqlEnds = mutable.Map.empty[Long, Long]

  def endOf(durNs: Long): Long = synchronized(sqlEnds.getOrElse(durNs, System.currentTimeMillis()))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized(sqlEnds(org.apache.spark.sql.graftbench.SqlEvents.durationNs(end)) = end.time)
    case _ =>
  }
  val batches = ArrayBuffer.empty[BatchRec]

  def jobCount: Int = synchronized(jobs.size + jobStarts.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, st) =>
      jobs += JobRec(e.jobId, t0, e.time, st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.taskMs += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val fileWrite = Probe.planTree.find(qe.executedPlan)(p =>
        p.metrics.contains("numOutputBytes") && p.metrics.contains("numFiles"))
      fileWrite match {
        case Some(p) =>
          writes += WriteRec(durationNs, p.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
            p.metrics("numOutputBytes").value, p.metrics("numFiles").value)
        case None =>
          val phases = qe.tracker.phases
          if (phases.nonEmpty) {
            plans += PlanRec(durationNs, phases.values.map(_.durationMs).sum,
              phases.values.map(_.startTimeMs).min)
          }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += BatchRec(start,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  /** Plan traversal that also descends into adaptive plans and their
    * query stages, where a write under AQE keeps its metrics.
    */
  object planTree extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}

/** In-memory span recorder. Spans opened on a thread nest under that
  * thread's open span; a thread with none (a ModelGraph stage thread)
  * nests under the client's open span.
  */
final class Tracer(val on: Boolean, val run: String) {
  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile private var clientTop = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      val parent = st.headOption.getOrElse(clientTop)
      val t0 = System.currentTimeMillis()
      val isClient = Thread.currentThread().getName == Tracer.clientThread
      stack.set(id :: st)
      if (isClient) clientTop = id
      try body finally {
        stack.set(st)
        if (isClient) clientTop = st.headOption.getOrElse(-1)
        add(Span(id, parent, layer, name, t0, System.currentTimeMillis(), run))
      }
    }

  private def add(s: Span): Unit = synchronized(spans += s)

  /** Spans recorded so far, plus spans made from Spark's own events, each
    * nested under the innermost span that contains it in time.
    */
  def complete(probe: Probe): Seq[Span] = {
    val own = synchronized(spans.toSeq)
    val synth = ArrayBuffer.empty[(String, String, Long, Long)]
    probe.synchronized {
      probe.batches.foreach { b =>
        synth += (("streaming", "batch", b.start, b.start + b.durations.getOrElse("triggerExecution", 0L)))
      }
      probe.writes.foreach { w =>
        val end = probe.endOf(w.durNs)
        synth += (("sources", "write", end - w.durNs / 1000000, end))
      }
      probe.plans.foreach { p =>
        synth += (("plan", "planning", p.planStart, math.min(probe.endOf(p.durNs), p.planStart + p.planMs)))
      }
      probe.jobs.foreach(j => synth += (("exec", s"job ${j.id}", j.start, j.end)))
    }
    // Larger intervals first, so a nested Spark event finds its parent.
    val made = ArrayBuffer.empty[Span]
    synth.sortBy { case (_, _, s, e) => (-(e - s), s) }.foreach { case (layer, name, s, e) =>
      val all = own ++ made
      val parent = all.filter(p => p.start <= s && e <= p.end && !p.name.startsWith("job "))
        .sortBy(p => (p.end - p.start, -p.start)).headOption.map(_.id).getOrElse(-1)
      made += Span(ids.incrementAndGet(), parent, layer, name, s, e, run)
    }
    own ++ made
  }

  def write(all: Seq[Span], path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.start).map { s =>
      Common.json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "run" -> s.run))
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The closed-loop client runs on the JVM's main thread. */
  val clientThread = "main"

  /** Union length of intervals, in ms. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per layer, the time during which the innermost open span belongs to
    * that layer. This partitions the time the spans cover: concurrent jobs
    * count once, and the layers add up to the traced wall time.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).map(p => 1 + depth(p)).getOrElse(0)
    val ranked = spans.map(s => (s, depth(s)))
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (t0, t1) =>
      val open = ranked.filter { case (s, _) => s.start <= t0 && t1 <= s.end }
      if (open.nonEmpty) out(open.maxBy { case (s, d) => (d, s.start) }._1.layer) += t1 - t0
    }
    out.toMap
  }
}
