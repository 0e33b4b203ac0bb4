package pipebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run. `smoke` shrinks every
  * size so a broken benchmark fails within a minute. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Double, work: String, smoke: Boolean) {
  def dir(name: String): String = s"$work/$name"
  def log(msg: String): Unit = System.err.println(f"[pipebench] ${Ctx.uptime}%6.1f s $msg")
}

object Ctx {
  /** Seconds since the JVM started. */
  def uptime: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** What a workload reports. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (filled only when tracing). */
final class Report {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = ok
    System.err.println(s"[pipebench] check ${if (ok) "ok  " else "FAIL"} $name: $detail")
  }

  /** Run one operation, counting it; a failure is logged and counted. */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[pipebench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  def correct: Boolean = checks.nonEmpty && checks.values.forall(identity)

  /** The end-to-end metrics: the median set-up, the median operation,
    * and the documents one operation carries per second of it. */
  def setE2e(setupS: Double, docsPerOp: Long, opS: Double): Unit = {
    e2e("setup_s") = (setupS, "s")
    e2e("docs_per_s") = (docsPerOp / opS, "docs/s")
    e2e("batch_p50_s") = (opS, "s")
  }
}

object Stats {
  /** Linear-interpolated quantile (`q` in [0,1]) of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  /** Times `n` set-ups. */
  def setups(n: Int)(setup: Int => Unit): Seq[Double] = (1 to n).map(i => time(setup(i))._2)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Loop {
  /** Closed loop, one client: runs `op(i)` for i = 0, 1, ... The first
    * `warmup` ops run untimed; timing then starts and the loop goes on
    * until `ctx.seconds` have passed and `minOps` timed ops succeeded
    * (or three ops failed). Returns the seconds of each successful
    * timed op and the number of ops attempted. */
  def apply(ctx: Ctx, report: Report, what: String, minOps: Int, warmup: Int = 0)(
      op: Int => Unit): (Seq[Double], Int) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var i = 0
    var failed = 0
    while (i < warmup && failed < 3) {
      if (report.attempt(s"$what $i (warm-up)")(op(i)).isEmpty) failed += 1
      i += 1
    }
    val t0 = System.nanoTime()
    while ((times.size < minOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) && failed < 3) {
      val (ok, s) = Stats.time(report.attempt(s"$what $i")(op(i)))
      if (ok.isDefined) times += s else failed += 1
      i += 1
    }
    (times.toSeq, i)
  }
}

/** Entry point: `--workload <name>[,<name>...] --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--trace-out <file>] [--smoke]`. Prints
  * one JSON result line per workload on stdout; everything else goes
  * to stderr. */
object Main {

  val Workloads: Map[String, Ctx => Report] = Map(
    "news_stream" -> NewsStream.run,
    "hourly_dag" -> HourlyDag.run)

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    graft.sources.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val workloads = opts.getOrElse("workload", sys.error("--workload is required")).split(",")
    workloads.foreach(w => require(Workloads.contains(w),
      s"unknown workload $w; known: ${Workloads.keys.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", sys.error("--work is required"))
    val traceOut = opts.get("trace-out")

    val spark = session(work)
    // one result line per workload, in order
    val lines = workloads.toSeq.map { w =>
      val tracer = new Tracer(spark.sparkContext, trace)
      val ctx = Ctx(spark, tracer, seed, seconds, s"$work/$w", smoke)
      val report = try Workloads(w)(ctx) finally {
        if (trace) {
          tracer.drain()
          traceOut.foreach(p => tracer.write(java.nio.file.Paths.get(p)))
        }
        tracer.close()
      }
      val printed =
        if (trace) Layers.All.map { case (k, u) => k -> report.layers.getOrElse(k, (0.0, u)) }
        else report.e2e.toSeq
      val metrics = printed.map {
        case (k, (v, unit)) =>
          s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(unit)}}"
      }.mkString("{", ",", "}")
      s"""{"correct":${report.correct},"attempted":${report.attempted},""" +
        s""""failed":${report.failed},"metrics":$metrics}"""
    }
    spark.stop()
    lines.foreach(println)
  }
}
