package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds with a fractional
  * part (nanoTime-anchored where the benchmark itself takes the time,
  * whole milliseconds where Spark's listener events carry them).
  * `group` is the query execution or streaming batch the span belongs
  * to; `parent` is the id of the span that caused it (0 = root).
  */
final case class Span(id: Long, parent: Long, name: String, group: String,
    start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Wall-clock source shared by every span the benchmark records:
  * epoch ms at start-up, advanced with System.nanoTime, so span ends
  * and listener times (epoch ms) sit on one axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory trace recorder. Every source of data is public Spark API
  * (SparkListener, QueryExecutionListener, StreamingQueryListener) or a
  * wrapper the benchmark puts around the program's public entry points;
  * nothing inside the program is changed. Spans and counters stay in
  * memory and are written out by [[writeSpans]] when the run ends.
  *
  * The recorder is attached only for traced segments; `attach` and
  * `detach` add and remove the listeners, so the untraced segments of
  * a traced run pay none of the listener cost.
  */
final class Trace(val spark: SparkSession) {
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** The query execution (batch) that listener events are charged to.
    * Batch workloads run one query at a time and drain the listener bus
    * before moving on, so this attribution is exact.
    */
  @volatile var group: String = ""
  @volatile private var attached = false

  def span(parent: Long, name: String, group: String, start: Double,
      end: Double): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, name, group, start, end))
    id
  }

  /** Counters per group: name -> value. */
  val counters = mutable.Map[String, mutable.Map[String, Double]]()
  def add(g: String, k: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(g, mutable.Map[String, Double]())
    m(k) = m.getOrElse(k, 0.0) + v
  }

  /** Job intervals per group, for the job-busy / driver-gap split. */
  val jobIntervals = mutable.Map[String, mutable.ArrayBuffer[(Double, Double)]]()
  private val jobOpen = mutable.Map[Int, (String, Double, Long)]()
  private val stageGroup = mutable.Map[Int, (String, Long)]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val g = group
        // the span is added when the job ends; its id exists from the
        // start so that stage spans can name it as their parent
        val jid = nextId.getAndIncrement()
        jobOpen(e.jobId) = (g, e.time.toDouble, jid)
        e.stageIds.foreach(s => stageGroup(s) = (g, jid))
        add(g, "scheduler.jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobOpen.remove(e.jobId).foreach { case (g, st, jid) =>
          spans.add(Span(jid, 0, "scheduler.job", g, st, e.time.toDouble))
          jobIntervals.getOrElseUpdate(g, mutable.ArrayBuffer()) +=
            (st -> e.time.toDouble)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        val (g, jid) = stageGroup.getOrElse(si.stageId, (group, 0L))
        add(g, "scheduler.stages", 1)
        add(g, "scheduler.tasks", si.numTasks)
        for (s <- si.submissionTime; c <- si.completionTime)
          span(jid, "executor.stage", g, s.toDouble, c.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val g = Trace.this.synchronized(
        stageGroup.get(e.stageId).map(_._1).getOrElse(group))
      add(g, "executor.run_s", m.executorRunTime / 1e3)
      add(g, "executor.cpu_s", m.executorCpuTime / 1e9)
      add(g, "executor.gc_s", m.jvmGCTime / 1e3)
      add(g, "executor.deser_s", m.executorDeserializeTime / 1e3)
      add(g, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(g, "scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add(g, "scan.records_read", m.inputMetrics.recordsRead.toDouble)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add(group, "storage.block_writes", 1)
        add(group, "storage.block_bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private object qeListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val g = group
      recordPhases(g, qe)
      collect(qe.executedPlan) {
        case m: graft.plans.MatchRecognizeExec => m
      }.foreach { m =>
        add(g, "plans.mr_matches", m.metrics("numMatches").value.toDouble)
        add(g, "plans.mr_groups", m.metrics("numGroups").value.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = recordPhases(group, qe)
  }

  /** Analysis, optimization and planning phases of one QueryExecution,
    * as its QueryPlanningTracker measured them.
    */
  def recordPhases(g: String, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      if (Set("analysis", "optimization", "planning")(phase)) {
        add(g, s"catalyst.${phase}_s", p.durationMs / 1e3)
        span(0, s"catalyst.$phase", g, p.startTimeMs.toDouble,
          p.endTimeMs.toDouble)
      }
    }

  /** Progress of every streaming micro-batch, with the time it arrived. */
  val progress =
    new ConcurrentLinkedQueue[(Double, StreamingQueryProgress)]()

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Clock.nowMs -> e.progress)
  }

  def attach(streaming: Boolean): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    if (streaming) spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until the listener bus has delivered every event posted so
    * far (the QueryExecutionListener runs on the same bus).
    */
  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Busy time of the union of `intervals` clipped to [lo, hi]. */
  def unionWithin(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals.map { case (a, b) =>
      (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def jobBusyMs(g: String, lo: Double, hi: Double): Double =
    synchronized(unionWithin(jobIntervals.getOrElse(g, Nil).toSeq, lo, hi))

  /** Self time per span name: each span's duration minus the part of
    * its interval covered by its children (spans whose parent is it,
    * plus spans of the same group nested inside it by time).
    */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    val byGroup = all.groupBy(_.group)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil) ++
          byGroup.getOrElse(s.group, Nil).filter(c => c.id != s.id &&
            c.parent != s.id && Trace.depth(c.name) > Trace.depth(s.name) &&
            c.start >= s.start && c.end <= s.end)
        s.dur - unionWithin(kids.map(k => (k.start, k.end)), s.start, s.end)
      }.sum / 1e3
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""group":"${Json.esc(s.group)}","start_ms":${s.start},""")
        .append(s""""end_ms":${s.end}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  /** Nesting order of the span names, outermost first. A span only
    * counts as a time-nested child of another when it is deeper here.
    */
  private val order = Seq("query", "stream.batch", "control.op",
    "entry.build", "query.run", "catalyst.analysis",
    "catalyst.optimization", "catalyst.planning", "stream.add_batch",
    "scheduler.job", "executor.stage")
  def depth(name: String): Int = {
    val i = order.indexOf(name)
    if (i < 0) order.length else i
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
