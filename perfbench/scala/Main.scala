package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operation counts, metrics by name
  * (value, unit), and the phases of its set-up in seconds.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val setup = mutable.LinkedHashMap.empty[String, Double]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record a failed check against `ops` operations. */
  def fail(ops: Long, why: String): Unit = { failed += ops; problems += why }

  /** Time a set-up phase (seconds), adding to any earlier part of it. */
  def setupPhase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      Log(f"set-up $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }
}

/** Everything a workload needs: the session, the tracer, its scratch
  * directory inside the checkout, and the command-line settings.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path,
    dataDir: Path, seed: Long, seconds: Double, trace: Boolean) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Progress notes on standard error, stamped with seconds since JVM start. */
object Log {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - start) / 1e3}%7.2f] $msg")
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val cpus = arg(args, "cpus").toInt
    val spark = Session.create(cpus, work)
    // JVM start to a usable session: what every run pays before any work
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, arg(args, "trace") == "1"),
      work, Paths.get(arg(args, "data")).toAbsolutePath,
      arg(args, "seed").toLong, arg(args, "seconds").toDouble, arg(args, "trace") == "1")

    val out = workload match {
      case "cdc_ingest"     => CdcIngest.run(ctx)
      case "operator_suite" => OperatorSuite.run(ctx)
      case "selftest"       => SelfTest.run(ctx)
      case w                => sys.error(s"unknown workload $w")
    }
    out.setup("session_s") = sessionS
    Seq("generate_s", "warm_s", "table_build_s").foreach(k =>
      out.setup.getOrElseUpdate(k, 0.0))
    out.metric("setup_s", out.setup.values.sum, "s")
    out.setup.foreach { case (k, v) => out.metric(s"setup.$k", v, "s") }

    if (ctx.trace)
      Files.writeString(work.resolve("trace.json"), ctx.tracer.toJson)

    val metrics = out.metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""problems":${out.problems.map(Json.str).mkString("[", ",", "]")},"metrics":$metrics}""")
    System.out.flush()
    // everything the launcher reads is written, and it deletes the work
    // directory: skip Spark's shutdown (about a second per run)
    Runtime.getRuntime.halt(0)
  }
}
