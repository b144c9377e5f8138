package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark measures, kept in memory and written once
  * at the end of the run.
  *
  * Operations and their latencies are recorded in every pass. Spans,
  * Spark job/stage/task events, query-execution phases, streaming
  * progress and index file diffs are recorded only while `attach()`ed,
  * i.e. in traced passes.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  val ops = ArrayBuffer[Op]()
  val passes = ArrayBuffer[Pass]()
  val spans = ArrayBuffer[Span]()
  var firstTimedMs = 0.0
  var loadStart = 0.0
  var loadEnd = 0.0
  var attached = false

  private var curOp = -1
  private var stack = List.empty[Int]
  private var tableCalls = 0
  private var tableHits = 0
  private val cachedMb = ArrayBuffer[Double]()
  private val sinkFs = ArrayBuffer[Map[String, Any]]()

  // listener state, written on the listener-bus threads under this lock
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = scala.collection.mutable.Map[Int, Double]()
  private val stageSubmit = scala.collection.mutable.Map[Int, Double]()
  private val stageAgg = scala.collection.mutable.Map[Int, StageAgg]()
  private val qes = ArrayBuffer[Map[String, Any]]()
  private val progress = ArrayBuffer[Map[String, Any]]()

  /** Time one closed-loop operation. A thrown exception is recorded as a
    * failed operation and the run goes on.
    */
  def op[T](pass: Int, kind: String, name: String, counted: Boolean = true)(f: => T): T = {
    val id = ops.size
    curOp = id
    val t0 = Clock.ms
    def done(ok: Boolean): Unit = {
      val o = Op(id, pass, kind, name, t0, Clock.ms, ok, counted, attached)
      ops += o
      println(f"[perfbench] pass $pass%d $name ${(o.t1 - o.t0) / 1e3}%.3f s${if (ok) "" else " FAILED"}")
    }
    try {
      val r = f
      done(ok = true)
      r
    } catch {
      case e: Throwable =>
        done(ok = false)
        System.err.println(s"[perfbench] $name failed: $e")
        null.asInstanceOf[T]
    } finally curOp = -1
  }

  /** A span around one call into a layer (traced passes only). */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!attached) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.ms
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, layer, name, t0, Clock.ms)
      }
    }

  private val lastHandle = scala.collection.mutable.Map[String, AnyRef]()

  /** A call that returns a `Tables` handle; it counts as a hit when the
    * handle is the same object as the previous one for that table.
    */
  def table[T <: AnyRef](name: String)(f: => T): T = {
    val h = span("tables", s"Tables.$name")(f)
    if (attached) {
      tableCalls += 1
      if (lastHandle.get(name).exists(_ eq h)) tableHits += 1
    }
    lastHandle(name) = h
    h
  }

  def sampleCachedMb(): Unit =
    cachedMb += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  def sinkFiles(kind: String, name: String, before: Map[String, Long],
      after: Map[String, Long]): Unit = {
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }
    sinkFs += Map("op" -> (ops.size - 1), "kind" -> kind, "name" -> name,
      "files_written" -> written.size, "bytes_written" -> written.values.sum,
      "files_live" -> after.size, "bytes_live" -> after.values.sum)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobStart(e.jobId) = e.time.toDouble
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobs += Map("id" -> e.jobId, "t0" -> t0, "t1" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      val info = e.taskInfo
      a.tasks += 1
      if (!info.successful) a.failed += 1
      a.waitMs += math.max(0.0, info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime.toDouble))
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime.toDouble
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    qes += Map("analysis_ms" -> d("analysis"), "optimization_ms" -> d("optimization"),
      "planning_ms" -> d("planning"))
  }

  /** Phases of a plan the client built; a write runs under a new
    * QueryExecution, so the listener below never sees this analysis.
    */
  def built(qe: QueryExecution): Unit = if (attached) phases(qe)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      val d = p.durationMs
      def g(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      progress += Map("rows" -> p.numInputRows, "trigger_ms" -> g("triggerExecution"),
        "add_batch_ms" -> g("addBatch"))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Drain the asynchronous listener buses so every event of the pass
    * is recorded before the listeners come off.
    */
  def detach(): Unit = {
    org.apache.spark.GraftListenerShims.flushListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def write(path: String, workload: String, seed: Long, cores: Int,
      checks: Seq[(String, Boolean, String)], extra: Map[String, Any]): Unit = synchronized {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val stages = stageAgg.toSeq.sortBy(_._1).map { case (id, a) => a.toMap + ("id" -> id) }
    Json.writeFile(path, Map(
      "workload" -> workload, "seed" -> seed,
      "env" -> Map("cores" -> cores,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "load1_start" -> loadStart, "load1_end" -> loadEnd),
      "jvm_start_ms" -> rt.getStartTime.toDouble,
      "first_timed_ms" -> firstTimedMs,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(_.toMap).toSeq,
      "passes" -> passes.map(_.toMap).toSeq,
      "spans" -> spans.map(_.toMap).toSeq,
      "jobs" -> jobs.toSeq, "stages" -> stages, "qes" -> qes.toSeq,
      "progress" -> progress.toSeq, "sink_fs" -> sinkFs.toSeq,
      "tables" -> Map("calls" -> tableCalls, "hits" -> tableHits,
        "cached_mb" -> cachedMb.toSeq),
      "checks" -> checks.map { case (n, ok, msg) => Map("name" -> n, "ok" -> ok, "detail" -> msg) },
      "extra" -> extra))
  }
}

object Recorder {
  final case class Op(id: Int, pass: Int, kind: String, name: String,
      t0: Double, t1: Double, ok: Boolean, counted: Boolean, traced: Boolean) {
    def toMap: Map[String, Any] = Map("id" -> id, "pass" -> pass, "kind" -> kind,
      "name" -> name, "t0" -> t0, "t1" -> t1, "ok" -> ok, "counted" -> counted,
      "traced" -> traced)
  }
  final case class Pass(pass: Int, t0: Double, t1: Double, traced: Boolean,
      heapMb: Double, nonHeapMb: Double) {
    def toMap: Map[String, Any] = Map("pass" -> pass, "t0" -> t0, "t1" -> t1,
      "traced" -> traced, "heap_mb" -> heapMb, "non_heap_mb" -> nonHeapMb)
  }
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
      t0: Double, t1: Double) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
      "layer" -> layer, "name" -> name, "t0" -> t0, "t1" -> t1)
  }

  final class StageAgg {
    var tasks, failed = 0
    var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
    var waitMs = 0.0
    val taskRunMs = ArrayBuffer[Double]()
    def toMap: Map[String, Any] = Map("tasks" -> tasks, "failed" -> failed,
      "run_ms" -> taskRunMs.sum, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "spill" -> spill, "input" -> input, "wait_ms" -> waitMs,
      "task_max_ms" -> taskRunMs.maxOption.getOrElse(0.0),
      "task_mean_ms" -> (if (taskRunMs.isEmpty) 0.0 else taskRunMs.sum / taskRunMs.size))
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Heap in use after a full collection, and the JVM's non-heap
    * (metaspace, code cache), in MiB: the memory the program holds,
    * whatever the heap size it was given.
    */
  def liveMb(): (Double, Double) = {
    // three collections 200 ms apart: after the first, what waits on
    // finalizers and cleaners still held 30-80 MB, varying run to run
    for (i <- 1 to 3) {
      if (i > 1) Thread.sleep(200)
      System.gc()
    }
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed / 1048576.0, m.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** VmHWM of this JVM: its peak resident set. Under the fixed heap
    * run.py gives, mostly the heap size plus native memory.
    */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
}

/** JSON through the Jackson (with its Scala module) in Spark's jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeFile(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
