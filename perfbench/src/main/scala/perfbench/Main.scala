package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Everything a workload needs: the session, its seed, its time budget and
  * where it may write. Spans and listener counters are recorded only inside
  * [[withTracing]], so that the rest of a traced run stays an untraced
  * reference.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val work: Path, val cpus: Int,
    val traced: Boolean, val tracer: Tracer) {
  private var metrics: Option[SparkMetrics] = None

  /** Runs `body` with the benchmark's listener registered and spans on. */
  def withTracing[A](body: => A): A = {
    val m = new SparkMetrics
    spark.sparkContext.addSparkListener(m)
    metrics = Some(m)
    try tracer.recording(body)
    finally {
      metrics = None
      spark.sparkContext.removeSparkListener(m)
    }
  }

  /** A span around a layer call (recorded only inside [[withTracing]]). */
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Wall time and listener counters of `body`; counters are zero outside
    * [[withTracing]].
    */
  def window[A](body: => A): (WindowStats, A) = metrics match {
    case Some(m) => m.window(spark.sparkContext)(body)
    case None =>
      val t0 = System.nanoTime()
      val v = body
      (WindowStats.zero.copy(wallS = (System.nanoTime() - t0) / 1e9), v)
  }

  def dir(name: String): String = {
    val d = work.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}

/** One correctness check, run outside every timed window; `failure` says
  * what went wrong.
  */
final case class Check(name: String, failure: Option[String])

object Check {
  /** Runs the check; an exception fails it instead of ending the run. */
  def run(name: String)(ok: => Boolean, why: => String): Check =
    try Check(name, if (ok) None else Some(s"$name: $why"))
    catch { case NonFatal(e) => Check(name, Some(s"$name: ${Errors.describe(e)}")) }
}

object Errors {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName} ${e.getMessage}".take(300)
}

/** What one run of a workload hands back to [[Main]]: how many timed
  * operations it attempted, the error of each that failed (a failed
  * operation is never timed), the correctness checks it ran, and either the
  * end-to-end or the per-layer metrics, by trace mode.
  */
final case class Outcome(ops: Long, errors: Seq[String], checks: Seq[Check],
    metrics: Seq[(String, Double, String)], context: Map[String, Any]) {
  def attempted: Long = ops + checks.size
  def gates: Seq[String] = errors ++ checks.flatMap(_.failure)
  def failed: Long = gates.size.toLong
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`. Writes one JSON record with
  * the outcome to `--out`; the launcher turns it into the result line.
  */
object Main {
  val workloads: Seq[Workload] = Seq(QueryMix, Mission, IndexLifecycle)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}"))
    val work = Paths.get(a("work")).toAbsolutePath
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    // every index dir any engine call creates lands under the run's own
    // root, which the launcher deletes with the rest of the work dir
    System.setProperty("graft.tmpdir", work.resolve("graft_tmp").toString)
    val spark = Session.build(cpus, work)
    val startS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    try {
      val tracer = new Tracer(
        s"${workload.name}-${a("seed")}-${System.currentTimeMillis()}")
      val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, work,
        cpus, traced, tracer)
      val out = workload.run(ctx)
      val traceFile = if (!traced) None else {
        val f = work.resolve(s"spans-${workload.name}.jsonl")
        tracer.dump(f)
        Some(f.toString)
      }
      Json.writeLines(Paths.get(a("out")), Seq(Json.obj(
        "workload" -> workload.name,
        "attempted" -> out.attempted, "failed" -> out.failed,
        "gates" -> out.gates,
        "metrics" -> Layers.complete(traced, out.metrics).map { case (n, v, u) =>
          Map("name" -> n, "value" -> v, "unit" -> u) },
        "context" -> (out.context ++ Session.context(spark, cpus, traced) ++ Map(
          "seed" -> ctx.seed, "jvm_start_s" -> startS,
          "run_s" -> (System.nanoTime() - t0) / 1e9,
          "spans_file" -> traceFile))
      )))
    } finally spark.stop()
  }
}

/** Starts the benchmark's session and stops it, running no engine code:
  * the launcher records the JVM class archive from this.
  * `perfbench.StartOnly <work dir>`.
  */
object StartOnly {
  def main(args: Array[String]): Unit =
    Session.build(Runtime.getRuntime.availableProcessors(),
      Paths.get(args(0)).toAbsolutePath).stop()
}

object Session {
  /** The benchmark's own session: one executor thread per core, as many
    * shuffle partitions, and the AQE coalescing floor `graft.Bench` uses.
    * Spark's scratch space stays inside the run's work dir.
    */
  def build(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark_local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // first job pays task-scheduler and codegen start-up once, outside
    // every measured window
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Host facts and the host-noise probes, recorded but never gated. The
    * 2-3 s shuffle probe runs in traced runs only, to keep a full check of
    * the benchmark inside its time budget.
    */
  def context(spark: SparkSession, cpus: Int,
      traced: Boolean): Map[String, Any] = {
    val memKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemTotal:") =>
          l.split("\\s+")(1).toLong }.get
    }.getOrElse(0L)
    Map("nproc" -> cpus, "host_mem_gb" -> memKb / 1048576.0,
      "driver_heap_gb" -> Runtime.getRuntime.maxMemory / 1073741824.0,
      "noise_probe_s" -> graft.Bench.noiseProbe(spark)) ++
      (if (traced) Map("noise_shuffle_probe_s" ->
        graft.Bench.noiseShuffleProbe(spark)) else Map.empty)
  }
}
