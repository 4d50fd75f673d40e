package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Result of one operation's checks, made after its timed span closed. */
final case class Checked(items: Long, problem: Option[String] = None,
    extra: Map[String, Any] = Map.empty)

/** Handle given to a running operation: `construct` times the public call
  * into graft, `action` times the write that executes it.
  */
final class OpCtx(val bench: Bench, val span: Span) {
  def spark: SparkSession = bench.spark
  def construct[T](step: String)(body: => T): T =
    bench.tracer.span("construct", Some(span), "step" -> step)(_ => body)
  def action[T](step: String)(body: => T): T =
    bench.tracer.span("action", Some(span), "step" -> step)(_ => body)
}

/** One closed-loop operation. `run` does the timed work and returns the
  * check to make once the timing has stopped.
  */
abstract class Op(val name: String, val kind: String) {
  def run(ctx: OpCtx): () => Checked
}

trait Workload {
  /** Untimed fixtures (counted in set-up time). */
  def setup(b: Bench): Unit = ()
  /** The fixed op mix; one pass over it is one "mix". */
  def mix: Seq[Op]
  /** Untimed passes over the mix before timing starts. */
  def warmupPasses: Int = 1
  /** Extra traced-only measurements, outside every mix. */
  def probes(b: Bench): Unit = ()
  /** Whole-run output checks after the timed region: (name, problem). */
  def checks(b: Bench): Seq[(String, Option[String])] = Seq.empty
  def info: Map[String, Any] = Map.empty
}

/** Shared state of one benchmark run. */
final class Bench(val spark: SparkSession, val tracer: Tracer,
    val root: Path, val seed: Long, val dataDir: String) {

  val tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  def dir(parts: String*): String = {
    val p = parts.foldLeft(root)(_.resolve(_))
    Files.createDirectories(p.getParent)
    p.toString
  }

  private def tmpEntries(): Set[String] = {
    val ls = Files.list(tmpDir)
    try ls.iterator.asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  /** Run `op` once inside an `op` span; its checks and the temp-dir diff
    * happen after the span has closed.
    */
  def runOp(op: Op, phase: String, mix: Int): Span = {
    val before = tmpEntries()
    var check: () => Checked = () => Checked(0, Some("not run"))
    val s = tracer.span("op", None, "name" -> op.name, "kind" -> op.kind,
        "phase" -> phase, "mix" -> mix) { s =>
      try check = op.run(new OpCtx(this, s))
      catch { case e: Throwable => check = () => Checked(0, Some("error: " + Main.msg(e))) }
      s
    }
    val c = try check() catch { case e: Throwable => Checked(0, Some("check error: " + Main.msg(e))) }
    s.attrs("items") = c.items
    s.attrs("ok") = c.problem.isEmpty
    c.problem.foreach(p => s.attrs("problem") = p)
    c.extra.foreach { case (k, v) => s.attrs(k) = v }
    s.attrs("tmp_leaked") = (tmpEntries() -- before).size
    System.err.println(f"[perfbench] ${op.name}%-24s $phase%-7s ${s.seconds}%8.3f s" +
      c.problem.map(" PROBLEM " + _).getOrElse(""))
    s
  }
}

object Main {
  def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)

  private def readProc(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), "UTF-8") catch { case _: Throwable => "" }

  private def procKb(file: String, key: String): Long =
    readProc(file).linesIterator.find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = Paths.get(a("root"))
    val cores = Runtime.getRuntime.availableProcessors

    val tracer = new Tracer
    val spark = tracer.span("setup", None, "step" -> "session") { _ =>
      val s = SparkSession.builder()
        .withExtensions(new graft.expr.GraftExtensions)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", root.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val bench = new Bench(spark, tracer, root, seed, a("data"))
    val w: Workload = workloadName match {
      case "generate" => new Generate(bench)
      case "corpus_pipeline" => new CorpusPipeline(bench)
      case "registry_sf" => new RegistrySf(bench)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span("setup", None, "step" -> "fixtures")(_ => w.setup(bench))
    for (_ <- 1 to w.warmupPasses) w.mix.foreach(op => bench.runOp(op, "warmup", -1))
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    // closed loop, one client: whole mixes until the time is up. A traced
    // run orders its mixes untraced, traced, traced, untraced (listeners
    // attached only for the traced ones), so the difference of the two
    // kinds is the tracing overhead, free of the drift from warming up.
    val sparkEvents = new SparkEvents
    val streamEvents = new StreamEvents
    val load0 = graft.LoadProbe.snap()
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    var mix = 0
    do {
      val traced = trace && (mix % 4 == 1 || mix % 4 == 2)
      if (traced) {
        spark.sparkContext.addSparkListener(sparkEvents)
        spark.streams.addListener(streamEvents)
      }
      w.mix.foreach(op => bench.runOp(op, if (traced) "traced" else "timed", mix))
      if (traced) {
        // let the asynchronous buses deliver this mix's events first
        val deadline = System.nanoTime() + 5000000000L
        while (!(sparkEvents.quiet(250) && streamEvents.quiet(250)) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        spark.sparkContext.removeSparkListener(sparkEvents)
        spark.streams.removeListener(streamEvents)
      }
      mix += 1
    } while (elapsed < seconds || (trace && mix % 4 != 0))
    val load1 = graft.LoadProbe.snap()
    if (trace) w.probes(bench)
    val checks = w.checks(bench)
    val info = w.info
    spark.stop()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "setup_s" -> setupS,
      "peak_rss_kb" -> procKb("/proc/self/status", "VmHWM"),
      "host" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> cores, "mem_total_kb" -> procKb("/proc/meminfo", "MemTotal"),
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "load" -> mutable.LinkedHashMap[String, Any](
        "ext_cores" -> graft.LoadProbe.extCores(load0, load1),
        "loadavg" -> graft.LoadProbe.loadavg1m()),
      "info" -> info,
      "checks" -> checks.map { case (n, p) =>
        mutable.LinkedHashMap[String, Any]("name" -> n, "problem" -> p) },
      "spans" -> tracer.spans.map(_.toJson),
      "spark_events" -> sparkEvents.toJson,
      "stream_progress" -> streamEvents.toJson)
    Files.writeString(Paths.get(a("out")), Json.write(record))
    sys.exit(0)
  }
}
