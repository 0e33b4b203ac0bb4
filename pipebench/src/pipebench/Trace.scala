package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work counted for one span from the Spark tasks its jobs ran. */
final class Counters {
  var jobs = 0L; var tasks = 0L
  var executorRunMs = 0L; var executorCpuNs = 0L; var gcMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var inputRows = 0L; var inputBytes = 0L; var resultBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputRows += o.inputRows; inputBytes += o.inputBytes
    resultBytes += o.resultBytes
  }

  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "executor_run_s" -> executorRunMs / 1e3,
    "executor_cpu_s" -> executorCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "input_rows" -> inputRows.toDouble,
    "result_bytes" -> resultBytes.toDouble)
}

/** One timed call into a layer. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val startNs: Long) {
  var endNs: Long = startNs
  val own = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program's public
  * functions. With tracing on, each span runs its Spark work under its
  * own job group and a listener registered here attributes every job
  * and task to the innermost open span; with tracing off, [[span]]
  * only runs its body. Spans stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupProp = "spark.jobGroup.id"
  private val Prefix = "pb-span-"
  private val MarkerGroup = "pb-drain"
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var open: List[Span] = Nil
  /** Spans are recorded only while active, so set-up and the untraced
    * window of a traced run stay out of the trace. */
  @volatile var active = false

  // listener state (written on the listener-bus thread)
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerSeen = false

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty(GroupProp)).orNull
      if (g == MarkerGroup) markerJobs.add(e.jobId)
      else if (g != null && g.startsWith(Prefix)) {
        val sid = g.stripPrefix(Prefix).toLong
        e.stageIds.foreach(s => stageSpan.put(s, sid))
        val sp = byId.get(sid)
        if (sp != null) sp.own.synchronized(sp.own.jobs += 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (markerJobs.remove(e.jobId)) markerSeen = true
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = Option(stageSpan.get(e.stageId)).map(byId.get(_)).orNull
      val m = e.taskMetrics
      if (sp != null && m != null) sp.own.synchronized {
        val c = sp.own
        c.tasks += 1
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.resultBytes += m.resultSize
      }
    }
  }

  if (enabled) sc.addSparkListener(Listener)

  def close(): Unit = if (enabled) sc.removeSparkListener(Listener)

  /** Time `body` as a span named `name` (a layer's public function). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled || !active) return body
    val sp = synchronized {
      val s = new Span(nextId.getAndIncrement(), name,
        open.headOption.map(_.id).getOrElse(0L), System.nanoTime())
      spans += s; byId.put(s.id, s); open = s :: open; s
    }
    val prev = sc.getLocalProperty(GroupProp)
    sc.setLocalProperty(GroupProp, Prefix + sp.id)
    try body
    finally {
      sp.endNs = System.nanoTime()
      sc.setLocalProperty(GroupProp, prev)
      synchronized { open = open.filterNot(_ eq sp) }
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * marker job's end is delivered after all earlier events. */
  def drain(): Unit = if (enabled) {
    markerSeen = false
    val prev = sc.getLocalProperty(GroupProp)
    sc.setLocalProperty(GroupProp, MarkerGroup)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(GroupProp, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerSeen) {
      if (System.nanoTime() > deadline) sys.error("listener did not drain")
      Thread.sleep(5)
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  private def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Own counters plus every descendant's. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c.add(s.own)
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val fields = Seq(
        s""""id":${s.id}""", s""""parent":${s.parent}""",
        s""""name":${Json.str(s.name)}""",
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)}""",
        s""""dur_s":${Json.num(s.seconds)}""",
        s""""self_s":${Json.num(selfSeconds(s))}""") ++
        s.own.toMap.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      fields.mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
