package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Options passed down by perfbench/run.py. The workload's own
  * parameters (query set, rates, batch sizes) are constants of
  * BatchWorkload and StreamWorkload, selected by `workload`.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, data: String, out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, req("data"),
      Paths.get(req("out")))
  }
}

/** What one run measured. `e2e` holds the end-to-end metrics (untraced
  * run), `layers` the per-layer metrics (traced run); both map a name
  * to (value, unit). `queries` names the batch queries whose set-up
  * output run.py checks against the DuckDB oracle.
  */
final case class RunResult(attempted: Long, failed: Long,
    errors: Seq[String], e2e: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)], info: Seq[(String, String)],
    queries: Seq[String] = Nil)

object Main {
  /** The session the benchmark measures. Same conf as graft.Bench and
    * graft.Verify, so the benchmark times the path the oracle checks:
    * constraint propagation off, codegen cache 5000, shuffle partitions
    * = cores, local[cores].
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Process CPU seconds (all JVM threads). */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of each live Java thread, by thread id: the driver,
    * executor, streaming and listener threads. ThreadMXBean does not
    * list the JIT compiler threads or the GC threads, so they are left
    * out.
    */
  def threadCpu(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads have spent since the snapshot `from`
    * (a thread that ended in between is not counted).
    */
  def threadCpuS(from: Map[Long, Long]): Double = threadCpu().iterator
    .map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e9

  /** Milliseconds the JIT compilers and the collectors have spent so far. */
  def jitGcMs(): (Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble)

  /** Seconds since the JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after a forced full collection, in MiB. */
  def retainedHeapMb(): Double = {
    // collect, give Spark's ContextCleaner time to drop the broadcasts
    // and shuffles the collection freed, and collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0,
      math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.out)
    val spark = session(o.cores)
    val r = try o.workload match {
      case w if BatchWorkload.queries.contains(w) =>
        BatchWorkload.run(spark, o, BatchWorkload.queries(w))
      case "cep-stream" => StreamWorkload.run(spark, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch {
        case _: Throwable => () })
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") ||
        k == "spark.master" || k.startsWith("spark.default") }
    def metrics(ms: Seq[(String, Double, String)]) = Json.obj(ms.map {
      case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v),
        "unit" -> Json.str(u))) })
    val json = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.map(Json.str).mkString("[", ",", "]"),
      "queries" -> r.queries.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> metrics(r.e2e),
      "layers" -> metrics(r.layers),
      "info" -> Json.obj(r.info),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(o.out.resolve("result.json"), json + "\n")
    spark.stop()
  }
}
