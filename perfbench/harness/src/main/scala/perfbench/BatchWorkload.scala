package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The batch workloads (`mr-batch`, `curation-batch`): a fixed set of
  * graft.SparkEntry queries over the benchmark's own copy of the sf0.1
  * tables.
  *
  *  - Set-up (untimed): one pass over every query in seed order, each
  *    result written as parquet under `out/results/<query>` for the
  *    correctness check that run.py makes against the DuckDB oracle
  *    (graft.SparkEntry.oracleSql, dumped to `out/oracle_sql.json`).
  *    The pass also warms the JIT and fills the codegen cache; the
  *    codegen it pays is reported as `codegen.setup_*`.
  *  - Timed: whole passes, each in a fresh seed-shuffled order, for
  *    about `--seconds` and at least three passes (a pass is never cut
  *    short). An execution is the query-function call plus a noop write
  *    that evaluates every row and column, as graft.Bench times it.
  *  - Traced (`--trace 1`): pass 1 is untraced and only warms up. In
  *    every later pass each query runs twice back to back, once traced
  *    and once untraced, the order alternating from query to query, so
  *    both runs of a pair are equally warm. The per-layer metrics are
  *    totals per traced pass, and the tracing overhead compares the
  *    queries' traced and untraced median latencies.
  */
object BatchWorkload {
  private val threads = ManagementFactory.getThreadMXBean

  /** The query set of each batch workload. The sets are fixed (the seed
    * only shuffles the order of each pass), so per-query outputs and
    * medians compare across seeds.
    */
  val queries: Map[String, Seq[String]] = Map(
    // regex MATCH_RECOGNIZE front-end, deep rewritten plans, batch NFA
    "mr-batch" -> Seq("q14_pattern_followedby", "q55_match_recognize_sql",
      "q170_mr_unmatched_rows", "q175_mr_crossvar_define",
      "q208_mr_permute5"),
    // curation operators: many jobs, localCheckpoints, shuffles
    "curation-batch" -> Seq("q100_ivf_pq_rerank", "q72_cluster_retention",
      "q116_substring_dedup"))

  private final case class Exec(query: String, pass: Int, traced: Boolean,
      ms: Double, cpuS: Double, ok: Boolean)

  def shuffled(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Codegen compile seconds and compile count so far (process-wide). */
  private def codegen(): (Double, Long) = (CodeGenerator.compileTime / 1e9,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def run(spark: SparkSession, o: Opts, names: Seq[String]): RunResult = {
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = names.map(q => q -> all(q)).toMap
    val errors = mutable.ArrayBuffer[String]()

    // ---- set-up: correctness pass (also the JIT / codegen warm-up)
    val results = o.out.resolve("results")
    val (setupCg0, setupCgn0) = codegen()
    shuffled(names, o.seed, 0).foreach { q =>
      try fns(q)(spark, o.data).write.mode("overwrite")
        .parquet(results.resolve(q).toString)
      catch { case e: Throwable =>
        errors += s"$q (set-up): ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)
      }
    }
    val (setupCg1, setupCgn1) = codegen()
    val oracle = graft.SparkEntry.oracleSql.filter(kv => fns.contains(kv._1))
    java.nio.file.Files.writeString(o.out.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }) + "\n")

    // ---- timed phase
    val trace = new Trace(spark)
    val setupS = Main.sinceJvmStartS()
    val cpu0 = Main.processCpuS()
    val (jit0, gc0) = Main.jitGcMs()
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    val execs = mutable.ArrayBuffer[Exec]()

    /** One execution of `q`; a traced one records its spans and layer
      * counters under group `q#pass`.
      */
    def execute(q: String, pass: Int, traced: Boolean): Unit = {
      val g = s"$q#$pass"
      if (traced) { trace.attach(streaming = false); trace.group = g }
      val c0 = threads.getCurrentThreadCpuTime
      val (cg0, cgn0) = codegen()
      val tc0 = Main.threadCpu()
      val a = Clock.nowMs
      var end = a
      var cpuS = 0.0
      val ok = try {
        val df = fns(q)(spark, o.data)
        val b = Clock.nowMs
        // the final DataFrame's own analysis ran inside the build
        if (traced) trace.recordPhases(g, df.queryExecution)
        df.write.mode("overwrite").format("noop").save()
        val c = Clock.nowMs
        cpuS = Main.threadCpuS(tc0)
        // a traced execution ends when its listener events are counted
        if (traced) trace.drain()
        end = Clock.nowMs
        if (traced) {
          val (cg1, cgn1) = codegen()
          val qid = trace.span(0, "query", g, a, c)
          trace.span(qid, "entry.build", g, a, b)
          trace.span(qid, "query.run", g, b, c)
          attribute(trace, g, a, b, c,
            (threads.getCurrentThreadCpuTime - c0) / 1e9, cg1 - cg0,
            cgn1 - cgn0)
        }
        true
      } catch { case e: Throwable =>
        errors += s"$q (pass $pass): ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)
        end = Clock.nowMs
        false
      } finally if (traced) trace.detach()
      execs += Exec(q, pass, traced, end - a, cpuS, ok)
    }

    val passS = mutable.ArrayBuffer[Double]()
    var pass = 0
    var lastPassS = 0.0
    // At least three passes, so that each query's median is not the mean
    // of two samples one of which still carries JIT warm-up (and a traced
    // run has two paired passes); then a new pass starts while it would
    // end nearer to `--seconds` than the last one did.
    def more = pass < 3 || elapsedS + lastPassS / 2 <= o.seconds
    while (more) {
      pass += 1
      val p0 = System.nanoTime()
      shuffled(names, o.seed, pass).zipWithIndex.foreach { case (q, i) =>
        if (!o.trace || pass == 1) execute(q, pass, traced = false)
        else {
          val tracedFirst = (pass + i) % 2 == 0
          execute(q, pass, traced = tracedFirst)
          execute(q, pass, traced = !tracedFirst)
        }
      }
      lastPassS = (System.nanoTime() - p0) / 1e9
      passS += lastPassS
    }
    val timedS = elapsedS
    val cpuS = Main.processCpuS() - cpu0
    val (jit1, gc1) = Main.jitGcMs()
    val heap = Main.retainedHeapMb()

    val good = execs.filter(e => e.ok && !e.traced)
    val lat = good.map(_.ms)
    val perQuery = good.groupBy(_.query).map { case (q, es) =>
      q -> Main.median(es.map(_.ms).toSeq) }
    // CPU of the Java threads during each execution, as the queries'
    // median executions. The JIT compiler threads, which take about half
    // of the process CPU in a 10 s run and vary from run to run, and the
    // GC threads are left out (Main.threadCpu); the process total is in
    // `info`.
    val perQueryCpu = good.groupBy(_.query).map { case (q, es) =>
      q -> Main.median(es.map(_.cpuS).toSeq) }
    val e2e =
      if (o.trace || lat.isEmpty) Nil
      else Seq(
        ("setup_s", setupS, "s"),
        // percentiles over the queries' median latencies: executions of
        // a few distinct queries form clusters, and a percentile over
        // executions jumps between them from run to run
        ("latency_p50_ms", Main.median(perQuery.values.toSeq), "ms"),
        ("latency_p90_ms", Main.pct(perQuery.values.toSeq, 90), "ms"),
        ("work_s", perQuery.values.sum / 1e3, "s"),
        ("cpu_s", perQueryCpu.values.sum, "s"),
        ("retained_heap_mb", heap, "MiB"))
    val layers = if (!o.trace) Nil else layerMetrics(trace, pass - 1,
      execs.filter(e => e.ok && e.pass > 1).toSeq,
      setupCg1 - setupCg0, setupCgn1 - setupCgn0)
    if (o.trace) trace.writeSpans(o.out.resolve("spans.jsonl"))
    val info = Seq(
      "passes" -> pass.toString,
      "pass_s" -> passS.map(Json.num).mkString("[", ",", "]"),
      "timed_s" -> Json.num(timedS),
      "cpu_per_pass_s" -> Json.num(cpuS / pass),
      "timed_jit_ms" -> Json.num(jit1 - jit0),
      "timed_gc_ms" -> Json.num(gc1 - gc0),
      "executions" -> execs.length.toString,
      "latency_samples" -> lat.length.toString,
      "per_query_median_ms" -> Json.obj(perQuery.toSeq.sortBy(_._1)
        .map { case (q, v) => q -> Json.num(v) }))
    RunResult(attempted = names.length + execs.length,
      failed = errors.length, errors = errors.toSeq, e2e = e2e,
      layers = layers, info = info, queries = names)
  }

  /** Splits one traced execution's wall time [a, c] (build ends at b)
    * into the layer counters of group `g`.
    */
  private def attribute(t: Trace, g: String, a: Double, b: Double,
      c: Double, driverCpuS: Double, codegenS: Double,
      compiles: Long): Unit = {
    val wall = (c - a) / 1e3
    val busy = t.jobBusyMs(g, a, c) / 1e3
    val buildBusy = t.jobBusyMs(g, a, b) / 1e3
    val gap = wall - busy
    import scala.jdk.CollectionConverters._
    val phases = t.spans.asScala.filter(s =>
      s.group == g && s.name.startsWith("catalyst."))
    val catalyst = phases.map(_.dur).sum / 1e3
    val buildCatalyst = phases.filter(s => s.start >= a && s.end <= b)
      .map(_.dur).sum / 1e3
    val frontend = math.max(0.0, (b - a) / 1e3 - buildBusy - buildCatalyst)
    val jobs = t.synchronized(t.jobIntervals.getOrElse(g, Nil)
      .count { case (s, _) => s >= a && s <= b })
    t.add(g, "query.wall_s", wall)
    t.add(g, "entry.build_s", (b - a) / 1e3)
    t.add(g, "entry.build_jobs", jobs)
    t.add(g, "plans.frontend_s", frontend)
    t.add(g, "codegen.compile_s", codegenS)
    t.add(g, "codegen.compiles", compiles.toDouble)
    t.add(g, "scheduler.job_busy_s", busy)
    t.add(g, "scheduler.driver_gap_s", gap)
    t.add(g, "scheduler.driver_cpu_s", driverCpuS)
    t.add(g, "scheduler.driver_other_s",
      math.max(0.0, gap - frontend - catalyst - codegenS))
  }

  val layerUnits: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count",
    "plans.frontend_s" -> "s", "plans.mr_matches" -> "count",
    "plans.mr_groups" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.compiles" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_busy_s" -> "s",
    "scheduler.driver_gap_s" -> "s", "scheduler.driver_cpu_s" -> "s",
    "scheduler.driver_other_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s",
    "executor.gc_s" -> "s", "executor.deser_s" -> "s",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.spill_bytes" -> "B", "shuffle.fetch_wait_s" -> "s",
    "scan.bytes_read" -> "B", "scan.records_read" -> "count",
    "storage.block_writes" -> "count", "storage.block_bytes" -> "B")

  /** Per-layer metrics as totals per traced pass. The tracing overhead
    * is the sum of the queries' traced median latencies over the sum of
    * their untraced ones, both taken from the paired passes.
    */
  private def layerMetrics(t: Trace, tracedPasses: Int, execs: Seq[Exec],
      setupCompileS: Double, setupCompiles: Long)
      : Seq[(String, Double, String)] = {
    val n = tracedPasses.max(1)
    def total(k: String) = t.synchronized(
      t.counters.values.map(_.getOrElse(k, 0.0)).sum) / n
    val base = layerUnits.map { case (k, u) => (k, total(k), u) }
    val stages = total("scheduler.stages")
    val wall = total("query.wall_s")
    val busy = total("scheduler.job_busy_s")
    val cores = t.spark.sparkContext.defaultParallelism
    val paired = execs.filter(_.traced).map(_.query).toSet
    def medians(traced: Boolean) = execs
      .filter(e => e.traced == traced && paired(e.query))
      .groupBy(_.query).values.map(es => Main.median(es.map(_.ms))).sum
    val untraced = medians(traced = false)
    val self = t.selfTimes()
    base ++ Seq(
      ("scheduler.tasks_per_stage",
        if (stages > 0) total("scheduler.tasks") / stages else 0.0, "count"),
      ("executor.busy_share",
        if (busy > 0) total("executor.run_s") / (cores * busy) else 0.0,
        "ratio"),
      ("codegen.setup_compile_s", setupCompileS, "s"),
      ("codegen.setup_compiles", setupCompiles.toDouble, "count"),
      ("query.wall_s", wall, "s"),
      ("trace.overhead_share",
        if (untraced > 0) medians(traced = true) / untraced - 1.0 else 0.0,
        "ratio"),
      ("trace.spans", t.spans.size.toDouble / n, "count")) ++
      Seq("query", "entry.build", "query.run", "catalyst.analysis",
        "catalyst.optimization", "catalyst.planning", "scheduler.job",
        "executor.stage").map(k =>
        (s"self.$k", self.getOrElse(k, 0.0) / n, "s"))
  }
}
