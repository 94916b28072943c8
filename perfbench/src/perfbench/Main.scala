package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                       --work <dir> --cores <n>
  *
  * Prints one JSON object as the last stdout line:
  * {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}},
  *  "workload", "seed", "problems": [...]} — the runner strips the extra keys. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv.getOrElse("cores", "4").toInt)
    Log(s"${o.workload} seed ${o.seed}")
    val spark = session(o.cores)
    Log("session ready")
    val r = new Result
    try {
      o.workload match {
        case "index_loop" => IndexLoop.run(spark, o, r)
        case "dashboard_reads" => DashboardReads.run(spark, o, r)
        case "curation_jobs" => CurationJobs.run(spark, o, r)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (o.trace) r.metrics.remove("setup_s") // an end-to-end metric
    } finally SparkSession.getActiveSession.foreach(_.stop())
    Log("stopped")
    println(r.json(o))
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Metrics and op outcomes of one run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Extra keys for the runner (e.g. pending external checks). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record one checked op; `problem` is None when its output was right. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; if (problems.size < 20) problems += p }
  }

  def fail(p: String): Unit = if (problems.size < 20) problems += p

  def json(o: Main.Opts): String = {
    import Result.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val ex = extra.map { case (k, v) => s", ${str(k)}: $v" }.mkString
    s"""{"correct": ${problems.isEmpty && failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "workload": ${str(o.workload)}, "seed": ${o.seed}, """ +
      s""""problems": [${problems.map(str).mkString(", ")}]$ex}"""
  }
}

object Result {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => " "; case c => c.toString
  } + "\""
}

object Log {
  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (NaN on no samples). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
