package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.control.{ControlAck, ControlPlane, DisablePlan, EnablePlan,
  PlanCompiler, UpdatePlan}

final case class Ev(id: Long, user: Long, typ: String, value: Double,
    ts_ms: Long)

/** Seeded event generator: Zipf-skewed users, a fixed event-type mix,
  * values uniform in [0, 100), and out-of-order arrival — each event's
  * time is its arrival time minus a jitter below the watermark delay, so
  * no event is ever late.
  */
final class EventGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = (1 to EventGen.Users).map(r => 1.0 / math.pow(r, EventGen.Skew))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  // the seed also permutes which user ids are hot
  private val perm: Array[Int] = {
    val a = (0 until EventGen.Users).toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private var nextId = 0L

  def next(arrivalMs: Long): Ev = {
    nextId += 1
    val u = java.util.Arrays.binarySearch(cdf, rng.nextDouble()) match {
      case i if i >= 0 => i
      case i => math.min(-i - 1, EventGen.Users - 1)
    }
    val p = rng.nextDouble()
    val typ = if (p < 0.45) "view" else if (p < 0.80) "click"
      else if (p < 0.95) "purchase" else "error"
    Ev(nextId, perm(u).toLong, typ, math.floor(rng.nextDouble() * 10000) / 100,
      arrivalMs - rng.nextInt(EventGen.JitterMs))
  }
}

object EventGen {
  val Users = 400
  val Skew = 1.1
  val JitterMs = 1500
}

/** `cep-stream`: generated events in a MemoryStream view with a
  * watermark, feeding two plans added through graft.control.ControlPlane
  * with the default PlanCompiler:
  *
  *  - `pat`: a `pattern:` plan (view then purchase within 5 s) with
  *    `output first every 3 events`;
  *  - `mr`: a `sql:` MATCH_RECOGNIZE plan, `PATTERN (a b+ c)` with a
  *    cross-variable DEFINE and non-overlapping matches, which
  *    PlanCompiler sends to streamingFull.
  *
  * Set-up adds both plans and streams a warm-up block of events. The
  * timed phase then runs, in order:
  *
  *  1. an open loop at `Rate` events/s, no control traffic, for 50 % of
  *     `--seconds` (the measured window) plus a fixed tail of
  *     `TailMs`. Every match whose last event's time lies in the window
  *     is timed, from that time (plus the watermark delay) to the moment
  *     its micro-batch reaches the sink, whenever that is: the tail keeps
  *     the same load on while those matches drain, so a slower engine
  *     shows as higher latency, not as fewer samples;
  *  2. the same rate for 20 % of `--seconds` while `pat` cycles
  *     update-to-identical-text / disable / enable; its sink reuses its
  *     checkpoint and replaces a re-delivered batch id, so its output
  *     stays exact;
  *  3. a closed loop of `ClosedBatch` events fed back to back for 30 %
  *     of `--seconds` and at least three rounds, each round waiting
  *     until every plan has processed it; its cost is the median round.
  *     A traced run alternates untraced and traced rounds in the
  *     order U T T U (at least four rounds), so the two kinds are equally
  *     warm, and compares their median times for the tracing overhead.
  *
  * Afterwards two flush events move the watermark past everything, and
  * each plan's streamed matches must equal the batch execution of the
  * same plan text over the same events.
  */
object StreamWorkload {
  val DelayMs = 2000L
  val WithinMs = 5000L
  /** Offered open-loop rate, events/s: about half of what the two plans
    * sustain with the small micro-batches of an open loop on 4 cores. */
  val Rate = 500
  /** Events per closed-loop round. */
  val ClosedBatch = 2500
  /** Open-loop time after the measured window of phase 1: longer than
    * the watermark delay, the WITHIN bound and the jitter together. */
  val TailMs: Long = DelayMs + WithinMs + EventGen.JitterMs

  def patPlan(view: String): String =
    s"""pattern:
       |from $view
       |key user ; ts ts_ms ; tie id
       |eventtime tsc
       |within $WithinMs
       |step a where typ = 'view'
       |step b where typ = 'purchase'
       |output first every 3 events""".stripMargin

  def mrPlan(view: String, streaming: Boolean = true): String =
    s"""sql: SELECT * FROM $view MATCH_RECOGNIZE (
       |  PARTITION BY user
       |  ORDER BY ts_ms, id
       |  MEASURES a.id AS a_id, LAST(b.id) AS b_id, c.id AS c_id,
       |           c.ts_ms AS c_ts, COUNT(b.*) AS n_b
       |  AFTER MATCH SKIP PAST LAST ROW
       |  PATTERN (a b+ c)
       |  WITHIN $WithinMs
       |  ${if (streaming) "EVENTTIME tsc" else ""}
       |  DEFINE a AS typ = 'view',
       |         b AS typ = 'click',
       |         c AS typ = 'purchase' AND c.value > a.value
       |)""".stripMargin

  /** Column of each plan's output that holds its last event's time. */
  private val endCol = Map("pat" -> "end_ts", "mr" -> "c_ts")

  def run(spark: SparkSession, o: Opts): RunResult = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val trace = new Trace(spark)
    def withTsc(df: DataFrame) = df.withColumn("tsc", timestamp_millis($"ts_ms"))
    // one MemoryStream per plan (a MemoryStream serves one reader), each
    // fed the same events: the plans read `cep_events_<plan>`. A fixed
    // partition count, as a partitioned log would have; without it every
    // generator tick would become a partition of its own.
    val inputs = Seq("pat", "mr").map { id =>
      val in = MemoryStream[Ev](o.cores)
      withTsc(in.toDF()).withWatermark("tsc", s"$DelayMs milliseconds")
        .createOrReplaceTempView(s"cep_events_$id")
      in
    }
    val gen = new EventGen(o.seed)
    val sent = mutable.ArrayBuffer[Ev]()
    // (time, events sent so far) after each addData; MemoryStream
    // offset k covers the first k + 1 addData calls
    val sentLog = mutable.ArrayBuffer[(Double, Long)]()
    def send(evs: Seq[Ev]): Unit = if (evs.nonEmpty) {
      inputs.foreach(_.addData(evs)); sent ++= evs
      sentLog += (Clock.nowMs -> sent.length.toLong)
    }

    // ---- sinks: rows per (plan, batch id); a replayed batch replaces
    final case class Out(emitMs: Double, rows: Array[Row])
    val outs = new ConcurrentHashMap[(String, Long), Out]()
    val ckRoot = o.out.resolve("checkpoints")
    val compileMs = mutable.ArrayBuffer[Double]()
    val startMs = mutable.ArrayBuffer[Double]()
    def timed[T](buf: mutable.ArrayBuffer[Double])(f: => T): T = {
      val a = Clock.nowMs
      try f finally buf.synchronized(buf += Clock.nowMs - a)
    }
    val cp = new ControlPlane(spark,
      (text: String) => timed(compileMs)(PlanCompiler.compile(spark, text)),
      (id: String, df: DataFrame) => timed(startMs)(Some[StreamingQuery](
        df.writeStream.queryName(id)
          .option("checkpointLocation", ckRoot.resolve(id).toString)
          .foreachBatch { (b: DataFrame, bid: Long) =>
            val rows = b.collect()
            outs.put((id, bid), Out(Clock.nowMs, rows))
            ()
          }.start())))
    def running: Seq[StreamingQuery] =
      cp.planIds.flatMap(cp.runningQuery).filter(_.isActive)
    def settle(): Unit = running.foreach(_.processAllAvailable())
    val errors = mutable.ArrayBuffer[String]()
    val acks = mutable.ArrayBuffer[(ControlAck, Double, String)]()
    def control(op: graft.control.ControlEvent, name: String): Unit = {
      val a = Clock.nowMs
      val ack = cp.handleAcked(op)
      val ms = Clock.nowMs - a
      trace.span(0, "control.op", name, a, a + ms)
      acks += ((ack, ms, name))
      if (!ack.ok) errors += s"control $name: ${ack.error}"
    }

    // ---- set-up: plans, then a warm-up block through both
    Seq("pat" -> patPlan("cep_events_pat"), "mr" -> mrPlan("cep_events_mr"))
      .foreach { case (id, text) =>
        control(graft.control.AddPlan(id, text), s"add:$id") }
    val warmT0 = System.currentTimeMillis()
    send((0 until 2000).map(i => gen.next(warmT0 + i / 2)))
    settle()

    // ---- timed phase
    val setupS = Main.sinceJvmStartS()
    if (o.trace) trace.attach(streaming = true)
    val intervalMs = 1000.0 / Rate
    var genLagMs = 0.0
    /** Open loop at the offered rate for `durS` seconds, generated on a
      * thread of its own; `during` runs repeatedly on the calling thread.
      * Returns the start time.
      */
    def openLoop(durS: Double)(during: () => Unit): Double = {
      val start = Clock.nowMs
      val end = start + durS * 1000
      @volatile var stop = false
      val feeder = new Thread(() => {
        var i = 0L
        while (!stop && Clock.nowMs < end) {
          val now = Clock.nowMs
          val due = ((now - start) / intervalMs).toLong
          val evs = (i until due).map(k =>
            gen.next((start + k * intervalMs).toLong))
          if (evs.nonEmpty) {
            genLagMs = math.max(genLagMs, now - (start + i * intervalMs))
            sent.synchronized(send(evs))
          }
          i = due
          Thread.sleep(10)
        }
      }, "perfbench-generator")
      feeder.setDaemon(true)
      feeder.start()
      while (Clock.nowMs < end) during()
      stop = true
      feeder.join()
      start
    }

    val p1Start = openLoop(o.seconds * 0.5 + TailMs / 1e3)(() =>
      Thread.sleep(20))
    // matches whose last event's time lies here are timed
    val window = (p1Start, p1Start + o.seconds * 0.5 * 1000)
    var op = 0
    val cycle = Seq("update", "disable", "enable")
    openLoop(o.seconds * 0.2) { () =>
      cycle(op % 3) match {
        case "update" => control(UpdatePlan("pat", patPlan("cep_events_pat")),
          "update:pat")
        case "disable" => control(DisablePlan("pat"), "disable:pat")
        case "enable" => control(EnablePlan("pat"), "enable:pat")
      }
      op += 1
      Thread.sleep(100)
    }
    // leave phase 2 with every plan enabled
    while (op % 3 != 0) {
      cycle(op % 3) match {
        case "disable" => control(DisablePlan("pat"), "disable:pat")
        case "enable" => control(EnablePlan("pat"), "enable:pat")
      }
      op += 1
    }
    settle()

    // phase 3: closed loop
    val cpu0 = Main.processCpuS()
    val (jit0, gc0) = Main.jitGcMs()
    val p3Start = Clock.nowMs
    var vt = math.max(System.currentTimeMillis(), sent.map(_.ts_ms).max +
      EventGen.JitterMs).toDouble
    var p3Events = 0L
    val rounds = mutable.ArrayBuffer[(Boolean, Double)]()
    // CPU seconds of the Java threads in each untraced round (JIT and GC
    // threads left out, as in the batch workloads)
    val roundCpuS = mutable.ArrayBuffer[Double]()
    while (Clock.nowMs - p3Start < o.seconds * 300 ||
        rounds.length < (if (o.trace) 4 else 3)) {
      val tracedRound =
        o.trace && Seq(false, true, true, false)(rounds.length % 4)
      if (o.trace) { if (tracedRound) trace.attach(streaming = true)
        else trace.detach() }
      val evs = (0 until ClosedBatch).map(i =>
        gen.next((vt + i * intervalMs).toLong))
      vt += ClosedBatch * intervalMs
      val c0 = Main.threadCpu()
      val a = Clock.nowMs
      send(evs)
      settle()
      rounds += (tracedRound -> (Clock.nowMs - a))
      if (!tracedRound) roundCpuS += Main.threadCpuS(c0)
      p3Events += ClosedBatch
    }
    val p3End = Clock.nowMs
    val cpuS = Main.processCpuS() - cpu0
    val (jit1, gc1) = Main.jitGcMs()
    trace.detach()
    val heap = Main.retainedHeapMb()

    // ---- correctness: flush, then streamed == batch over the same events.
    // The batch references are computed while the flush runs.
    val maxTs = sent.map(_.ts_ms).max
    val flush = Seq(
      Ev(-1, -1, "flush", 0, maxTs + DelayMs + WithinMs + 1000),
      Ev(-2, -1, "flush", 0, maxTs + 2 * (DelayMs + WithinMs) + 2000))
    withTsc((sent.toSeq ++ flush).toDF())
      .createOrReplaceTempView("cep_events_all")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val expected = Seq("pat" -> patPlan("cep_events_all"),
        "mr" -> mrPlan("cep_events_all", streaming = false)).map {
      case (id, text) => id -> Future {
        val df = PlanCompiler.compile(spark, text)
        val cols = df.columns.toSeq
        cols -> df.select(cols.map(col): _*).collect()
          .map(_.toSeq.mkString("|")).groupBy(identity)
          .view.mapValues(_.length).toMap
      }
    }
    flush.foreach { e => send(Seq(e)); settle() }
    Thread.sleep(200)
    settle()
    val mismatches = expected.flatMap { case (id, fut) =>
      val (cols, exp) = Await.result(fut, scala.concurrent.duration.Duration.Inf)
      val gotRows = outs.asScala.toSeq.filter(_._1._1 == id).flatMap(_._2.rows)
      val got = gotRows.map(r => cols.map(c => r.get(r.fieldIndex(c)))
        .mkString("|")).groupBy(identity).view.mapValues(_.length).toMap
      val missing = (exp.keySet -- got.keySet).toSeq.sorted
      val extra = (got.keySet -- exp.keySet).toSeq.sorted
      if (got == exp) Nil
      else Seq(s"plan $id: streamed ${got.values.sum} matches " +
        s"(${got.size} distinct) != batch ${exp.values.sum} " +
        s"(${exp.size} distinct); missing ${missing.size}, " +
        s"extra ${extra.size}; columns ${cols.mkString("|")}; first " +
        s"missing [${missing.take(3).mkString("; ")}], first extra " +
        s"[${extra.take(3).mkString("; ")}]")
    }
    errors ++= mismatches
    // event times follow arrival times, so a failing run is kept for
    // replay: every event sent, and (time, events sent so far) after
    // each addData, which bounds the micro-batches the plans saw
    if (mismatches.nonEmpty) {
      sent.toSeq.toDF().write.parquet(o.out.resolve("events").toString)
      java.nio.file.Files.writeString(o.out.resolve("send_log.json"),
        sentLog.map { case (t, n) => s"[${Json.num(t)},$n]" }
          .mkString("[", ",", "]\n"))
    }
    val matchCounts = Seq("pat", "mr").map(id => id ->
      outs.asScala.toSeq.filter(_._1._1 == id).map(_._2.rows.length).sum)
    cp.shutdown()

    // ---- end-to-end metrics
    // every match of either plan whose last event's time lies in the
    // phase-1 window, whenever it was emitted
    val lat = outs.asScala.toSeq.flatMap { case ((id, _), out) =>
      out.rows.toSeq.map(r => r.getLong(r.fieldIndex(endCol(id))))
        .filter(ts => ts >= window._1 && ts < window._2)
        .map(ts => out.emitMs - ts - DelayMs)
    }
    val p3S = (p3End - p3Start) / 1e3
    val untracedRounds = rounds.filterNot(_._1).map(_._2)
    val roundS = Main.median(untracedRounds.toSeq) / 1e3
    val e2e = if (o.trace || lat.isEmpty) Nil else Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", Main.pct(lat, 50), "ms"),
      ("latency_p90_ms", Main.pct(lat, 90), "ms"),
      // seconds per 100k events
      ("work_s", roundS * (1e5 / ClosedBatch), "s"),
      // CPU seconds per 100k events, from the median round like work_s
      ("cpu_s", Main.median(roundCpuS.toSeq) * (1e5 / ClosedBatch), "s"),
      ("retained_heap_mb", heap, "MiB"))
    if (lat.isEmpty) errors += "no open-loop match was emitted"

    val layers = if (!o.trace) Nil
      else layerMetrics(trace, acks.toSeq, compileMs.toSeq, startMs.toSeq,
        genLagMs, lat, rounds.toSeq, sentLog.toSeq)
    if (o.trace) trace.writeSpans(o.out.resolve("spans.jsonl"))
    val info = Seq(
      "events" -> sent.length.toString,
      "phase3_events" -> p3Events.toString,
      "phase3_s" -> Json.num(p3S),
      "phase3_cpu_s" -> Json.num(cpuS),
      "phase3_jit_ms" -> Json.num(jit1 - jit0),
      "phase3_gc_ms" -> Json.num(gc1 - gc0),
      "rounds_cpu_s" -> roundCpuS.map(Json.num).mkString("[", ",", "]"),
      "events_per_s" -> Json.num(ClosedBatch / roundS),
      "latency_samples" -> lat.length.toString,
      "match_latency_p99_ms" -> Json.num(if (lat.isEmpty) 0 else Main.pct(lat, 99)),
      "control_ops" -> acks.count(_._3.contains(":pat")).toString,
      "control_ack_p50_ms" -> Json.num(phase2Acks(acks.toSeq) match {
        case Seq() => 0.0; case xs => Main.median(xs) }),
      "matches" -> Json.obj(matchCounts.map { case (k, v) => k -> v.toString }),
      "rounds_ms" -> untracedRounds.map(Json.num).mkString("[", ",", "]"))
    RunResult(attempted = acks.length + matchCounts.map(_._2).sum,
      failed = errors.length, errors = errors.toSeq, e2e = e2e,
      layers = layers, info = info)
  }

  private def phase2Acks(acks: Seq[(ControlAck, Double, String)]) =
    acks.filterNot(_._3.startsWith("add:")).map(_._2)

  private def layerMetrics(t: Trace, acks: Seq[(ControlAck, Double, String)],
      compileMs: Seq[Double], startMs: Seq[Double], genLagMs: Double,
      lat: Seq[Double], rounds: Seq[(Boolean, Double)],
      sentLog: Seq[(Double, Long)]): Seq[(String, Double, String)] = {
    val ps = t.progress.asScala.toSeq.map(_._2)
    val withData = ps.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val trig = withData.map(dur(_, "triggerExecution"))
    // the latest progress of each query holds its current state size
    val latest = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val states = ps.flatMap(_.stateOperators.toSeq)
    ps.foreach { p =>
      val g = s"${p.name}#${p.batchId}"
      // a progress carries the trigger's start time and phase durations;
      // addBatch is placed at the end of its trigger
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + dur(p, "triggerExecution")
      val b = t.span(0, "stream.batch", g, start, end)
      t.span(b, "stream.add_batch", g, end - dur(p, "addBatch"), end)
    }
    // the largest number of generated events a plan had not yet read
    // when one of its micro-batches ended
    val backlog = t.progress.asScala.toSeq.flatMap { case (at, p) =>
      p.sources.headOption.map { src =>
        val k = scala.util.Try(src.endOffset.trim.toInt).getOrElse(-1)
        val read = if (k < 0) 0L else sentLog(math.min(k, sentLog.length - 1))._2
        sentLog.takeWhile(_._1 <= at).lastOption.map(_._2).getOrElse(0L) - read
      }
    }
    val ops = phase2Acks(acks)
    // a disable is a stop and nothing else
    val stopMs = mean(acks.filter(_._3.startsWith("disable")).map(_._2))
    val tracedMedian = Main.median(rounds.filter(_._1).map(_._2))
    val untracedMedian = Main.median(rounds.filterNot(_._1).map(_._2))
    val self = t.selfTimes()
    def tot(k: String) = t.synchronized(
      t.counters.values.map(_.getOrElse(k, 0.0)).sum)
    Seq(
      ("cep.state_rows", latest.flatMap(_.stateOperators.map(_.numRowsTotal))
        .sum.toDouble, "count"),
      ("cep.state_bytes", latest.flatMap(_.stateOperators
        .map(_.memoryUsedBytes)).sum.toDouble, "B"),
      ("cep.state_update_ms", mean(states.map(_.allUpdatesTimeMs.toDouble)), "ms"),
      ("cep.state_commit_ms", mean(states.map(_.commitTimeMs.toDouble)), "ms"),
      ("cep.late_dropped", states.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "count"),
      ("stream.batches", ps.length.toDouble, "count"),
      ("stream.rows_per_batch", mean(withData.map(_.numInputRows.toDouble)),
        "count"),
      ("stream.batch_ms_p50", if (trig.isEmpty) 0 else Main.pct(trig, 50), "ms"),
      ("stream.batch_ms_p99", if (trig.isEmpty) 0 else Main.pct(trig, 99), "ms"),
      ("stream.add_batch_ms", mean(withData.map(dur(_, "addBatch"))), "ms"),
      ("stream.planning_ms", mean(withData.map(dur(_, "queryPlanning"))), "ms"),
      ("stream.wal_ms", mean(withData.map(dur(_, "walCommit"))), "ms"),
      ("stream.backlog_max_events", if (backlog.isEmpty) 0 else
        backlog.max.toDouble, "count"),
      ("stream.generator_lag_ms", genLagMs, "ms"),
      ("stream.match_latency_p99_ms", if (lat.isEmpty) 0 else
        Main.pct(lat, 99), "ms"),
      ("control.compile_ms", mean(compileMs), "ms"),
      ("control.start_ms", mean(startMs), "ms"),
      ("control.stop_ms", stopMs, "ms"),
      ("control.ops", ops.length.toDouble, "count"),
      ("control.failed_ops", acks.count(!_._1.ok).toDouble, "count"),
      ("control.ack_p50_ms", if (ops.isEmpty) 0 else Main.median(ops), "ms"),
      ("scheduler.jobs", tot("scheduler.jobs"), "count"),
      ("scheduler.stages", tot("scheduler.stages"), "count"),
      ("scheduler.tasks", tot("scheduler.tasks"), "count"),
      ("scheduler.tasks_per_stage", if (tot("scheduler.stages") > 0)
        tot("scheduler.tasks") / tot("scheduler.stages") else 0.0, "count"),
      ("executor.run_s", tot("executor.run_s"), "s"),
      ("executor.cpu_s", tot("executor.cpu_s"), "s"),
      ("executor.gc_s", tot("executor.gc_s"), "s"),
      ("shuffle.write_bytes", tot("shuffle.write_bytes"), "B"),
      ("shuffle.read_bytes", tot("shuffle.read_bytes"), "B"),
      ("catalyst.analysis_s", tot("catalyst.analysis_s"), "s"),
      ("catalyst.optimization_s", tot("catalyst.optimization_s"), "s"),
      ("catalyst.planning_s", tot("catalyst.planning_s"), "s"),
      ("trace.overhead_share", tracedMedian / untracedMedian - 1.0, "ratio"),
      ("trace.spans", t.spans.size.toDouble, "count")) ++
      Seq("stream.batch", "stream.add_batch", "control.op", "scheduler.job",
        "executor.stage").map(n => (s"self.$n", self.getOrElse(n, 0.0), "s"))
  }
}
