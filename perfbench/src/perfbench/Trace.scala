package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run collector built only on Spark's public listener APIs.
  *
  * Spans wrap the benchmark's own calls into each layer (name, layer, start,
  * end, parent); each span also runs under its own job group. Jobs are
  * recorded with their timing, call site and summed task metrics, and are
  * attributed to a layer by the innermost `graft.*` frame of their long call
  * site, falling back to the innermost enclosing span. Everything is kept in
  * memory and summarised once, after the measured window. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val taskRun = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextSpan = 0

  /** Long call site of each SQL execution: jobs that adaptive execution
    * submits from its own threads carry no program frames themselves. */
  private val execCallSite = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val frame = x.details.split("\n").map(_.trim).find(_.startsWith("graft."))
      execCallSite.put(x.executionId, (frame.getOrElse(x.description), x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execCallSite.get(id.toLong)))
    val (short, long) = (first.map(_.name).getOrElse(""), first.map(_.details).getOrElse(""))
    val (callShort, callLong) =
      if (long.contains("\ngraft.") || long.startsWith("graft.")) (short, long)
      else exec.getOrElse((short, long))
    val rec = new JobRec(e.jobId, e.time, callShort, callLong)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      val m = e.stageInfo.taskMetrics
      if (m != null) j.synchronized {
        j.tasks += e.stageInfo.numTasks
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) taskRun.add(e.taskMetrics.executorRunTime)

  /** Scan statistics (files read, rows the scans produced) per finished
    * query, keyed by the query execution itself. */
  private val qeScans = new java.util.concurrent.ConcurrentHashMap[QueryExecution, (Long, Long)]()
  private val scanLog = ArrayBuffer.empty[(String, Long, Long, Long)]
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ss = scanNodes(qe.executedPlan)
      def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      qeScans.put(qe, (ss.map(m(_, "numFiles")).sum, ss.map(m(_, "numOutputRows")).sum))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Log the scans of the query `df` last ran, tagged with `kind`. */
  def recordScans(kind: String, df: DataFrame, resultRows: Long): Unit = {
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    while (!qeScans.containsKey(qe) && System.nanoTime() - t0 < 2000000000L) Thread.sleep(2)
    Option(qeScans.remove(qe)).foreach { case (files, rows) =>
      scanLog += ((kind, files, rows, resultRows)) }
  }

  /** (kind, files read, rows scanned, result rows) per recorded query. */
  def scans(): Seq[(String, Long, Long, Long)] = scanLog.toSeq

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(qeListener)
    // the listener bus is asynchronous: let queued events land first
    val t0 = System.nanoTime()
    while (jobs.values().stream().anyMatch(_.end == 0L) &&
      System.nanoTime() - t0 < 5000000000L) Thread.sleep(10)
    sc.removeSparkListener(this)
  }

  /** Run `body` as a span of `layer`, under a job group of its own. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(nextSpan, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), 0L)
    nextSpan += 1
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def jobsIn(from: Long, to: Long): Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.filter(j => j.start >= from && j.start < to)
      .sortBy(_.start)
  }

  def taskRunTimes(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    taskRun.asScala.toSeq.map(_.longValue)
  }

  private def innermostSpan(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t < s.end).sortBy(s => (-s.start, -s.id)).headOption

  /** Layer of a job: the innermost program frame of its call site, i.e. the
    * layer whose code triggered it, else the span it ran in. */
  def layerOf(j: JobRec): String =
    j.callLong.split("\n").iterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") && !f.startsWith("graft.Scratch") => frameLayer(f)
    }.getOrElse(innermostSpan(j.start).map(_.layer).getOrElse("bench"))

  /** Per-layer self time over [from, to): the timeline is cut at every job
    * boundary; a slice with jobs running is shared evenly among them, and a
    * slice with none counts as time with no job running. The two sum to the
    * window. */
  def selfTimes(from: Long, to: Long): (Map[String, Double], Double) = {
    val js = jobsIn(from, to).map(j => (j, layerOf(j), j.start, math.min(math.max(j.end, j.start), to)))
    val cuts = (js.flatMap(j => Seq(j._3, j._4)) ++ Seq(from, to)).distinct.sorted
      .filter(t => t >= from && t <= to)
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var noJob = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = js.filter(j => j._3 <= a && j._4 >= b)
        val secs = (b - a) / 1000.0
        if (active.isEmpty) noJob += secs
        else active.foreach(j => self(j._2) += secs / active.size)
      case _ =>
    }
    (self.toMap, noJob)
  }
}

object Tracer {
  def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }

  final class JobRec(val id: Int, val start: Long, val callShort: String,
                     val callLong: String) {
    @volatile var end: Long = 0L
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L
  }

  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        start: Long, var end: Long)

  /** The layers whose code triggers Spark jobs in the measured windows, and
    * so the ones `self.<layer>_s` is reported for (streaming: the near-dup
    * stream `x_stream_neardup_eq` runs). Sources and ingest code builds lazy
    * plans: its work runs inside the jobs a store write triggers, and probes
    * measure its share instead. */
  val Layers: Seq[String] = Seq("store", "streaming", "pipeline", "queries", "ext")

  /** `graft.<module>.…` frame -> layer name. */
  def frameLayer(frame: String): String = {
    val cls = frame.takeWhile(_ != '(')
    cls.split('.').lift(1).getOrElse("") match {
      case "sources" => "sources"
      case "ingest" => "ingest"
      case "store" => "store"
      case "streaming" => "streaming"
      case "pipeline" => "pipeline"
      case "queries" if cls.startsWith("graft.queries.ExtQueries") => "ext"
      case "queries" | "plans" => "queries"
      case "ext" | "functions" | "fixtures" => "ext"
      case _ => "queries" // graft.SparkEntry and other top-level entry points
    }
  }

  /** Heap and GC readings from the JVM's management beans. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
