package graftbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Tables

/** The session `graft.Bench` builds, at `local[cores]`. */
object Session {
  def start(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (c <- Seq("org.apache.spark.sql.execution.window",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(c, Level.ERROR)
    spark
  }
}

/** Seconds since the run started, on the monotonic clock, plus the
  * mapping of the scheduler's epoch-millisecond event times onto it. */
final class Clock {
  private val (nano0, epoch0) = {
    val m = System.currentTimeMillis()
    while (System.currentTimeMillis() == m) {}
    (System.nanoTime(), System.currentTimeMillis())
  }
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - epoch0) / 1e3
}

/** Minimal ordered JSON tree; enough for the raw record. */
object Json {
  final class Obj extends mutable.LinkedHashMap[String, Any] {
    def render: String = Json.render(this)
  }
  object Obj {
    def apply(kv: (String, Any)*): Obj = { val o = new Obj; o ++= kv; o }
  }
  final class Arr extends mutable.ArrayBuffer[Any]
  object Arr {
    def apply(xs: Any*): Arr = { val a = new Arr; a ++= xs; a }
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.map { case (k, x) => render(k) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Arr => a.map(render).mkString("[", ",", "]")
  }
}

/** Codegen compile time, read from the compile log lines CodeGenerator
  * writes, since `CodegenMetrics` keeps only a sampled histogram. */
final class CompileLog {
  private val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = "Code generated in ([0-9.]+) ms".r
  private val micros = new AtomicLong
  private val appender = new AbstractAppender("graftbench-compiles", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      pattern.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
        micros.addAndGet((m.group(1).toDouble * 1000).round) }
  }
  appender.start()
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val lc = new LoggerConfig(name, Level.INFO, false)
  lc.addAppender(appender, Level.INFO, null)
  ctx.getConfiguration.addLogger(name, lc)
  ctx.updateLoggers()

  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def seconds: Double = micros.get / 1e6
}

/** Listener-side records: jobs, stages with their task totals, and
  * streaming micro-batches. Scheduler event times are mapped onto
  * [[Clock]]; a job carries the span id set as a local property by the
  * thread that submitted it. */
final class Recorder(clock: Clock) extends SparkListener {
  private final class Job(val id: Int, val t0: Double, val span: String, val stages: Seq[Int]) {
    var t1 = Double.NaN
  }
  private final class Stage(val id: Int, val attempt: Int, val job: Int) {
    var t0, t1 = Double.NaN
    var tasks = 0
    var runMs, gcMs, fetchWaitMs = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill, rows = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  def jobCount: Int = synchronized(jobs.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    jobs(e.jobId) = new Job(e.jobId, clock.ofEpochMs(e.time), span, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = clock.ofEpochMs(e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val job = jobs.valuesIterator.filter(j => j.t1.isNaN && j.stages.contains(i.stageId))
      .map(_.id).maxOption.getOrElse(-1)
    stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId, i.attemptNumber(), job)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.t0 = i.submissionTime.map(clock.ofEpochMs).getOrElse(Double.NaN)
      s.t1 = i.completionTime.map(clock.ofEpochMs).getOrElse(Double.NaN)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.rows += m.inputMetrics.recordsRead
      }
    }
  }

  def jobsJson: Json.Arr = synchronized {
    Json.Arr(jobs.values.toSeq.map(j => Json.Obj("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1,
      "span" -> Option(j.span))): _*)
  }
  def stagesJson: Json.Arr = synchronized {
    Json.Arr(stages.values.toSeq.map(s => Json.Obj("id" -> s.id, "attempt" -> s.attempt,
      "job" -> s.job, "t0" -> s.t0, "t1" -> s.t1, "tasks" -> s.tasks,
      "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
      "shuffle_read_mb" -> s.shuffleRead / 1e6, "shuffle_write_mb" -> s.shuffleWrite / 1e6,
      "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_mb" -> s.spill / 1e6,
      "scan_rows" -> s.rows)): _*)
  }

  /** Streaming micro-batches: count and total batch duration. */
  object streams extends StreamingQueryListener {
    val batches = new AtomicLong
    val batchMs = new AtomicLong
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet(); batchMs.addAndGet(e.progress.batchDuration)
    }
  }
}

object Tracer { val SpanKey = "graftbench.span" }

/** Spans around each call into a layer's public entry point, plus the
  * per-execution counters read at the query boundary. The listeners are
  * attached only while a traced call runs. */
final class Tracer(clock: Clock, spark: SparkSession, dirs: Seq[File]) {
  val recorder = new Recorder(clock)
  val spans = new Json.Arr
  private val compiles = new CompileLog
  private val sc = spark.sparkContext
  private val openSpans = mutable.Map.empty[Int, Json.Obj]
  private var next = 0

  def open(kind: String, name: String, parent: Option[Int]): Int = {
    next += 1
    val s = Json.Obj("id" -> next, "parent" -> parent, "kind" -> kind, "name" -> name,
      "t0" -> clock.now)
    spans += s; openSpans(next) = s
    next
  }
  def close(id: Int): Unit = openSpans.remove(id).foreach(_("t1") = clock.now)

  private def attach(): Unit = {
    sc.addSparkListener(recorder); spark.streams.addListener(recorder.streams)
  }
  private def detach(): Unit = {
    GraftListenerBridge.drain(sc)
    sc.removeSparkListener(recorder); spark.streams.removeListener(recorder.streams)
  }

  /** Times `rounds` calls of `Tables.load` per table and counts the jobs
    * each call runs: (table, seconds, jobs). */
  def tableLoads(sf: String, tables: Seq[String], rounds: Int): Seq[(String, Double, Int)] = {
    attach()
    try for (_ <- 0 until rounds; t <- tables) yield {
      GraftListenerBridge.drain(sc)
      val j0 = recorder.jobCount
      val t0 = clock.now
      Tables.load(spark, sf, t)
      val dt = clock.now - t0
      GraftListenerBridge.drain(sc)
      (t, dt, recorder.jobCount - j0)
    }
    finally detach()
  }

  /** One traced execution: construct, then each Catalyst phase forced
    * on its own, then `toRdd.count()`. Returns the row count. */
  def execute(q: String, passSpan: Int, e: Json.Obj)(build: => DataFrame): Long = {
    attach()
    val before = Footprint(dirs)
    val c0 = compiles.count; val cs0 = compiles.seconds
    val b0 = recorder.streams.batches.get; val bm0 = recorder.streams.batchMs.get
    val qs = open("query", q, Some(passSpan))
    def phase[A](name: String)(body: => A): A = {
      val id = open("phase", name, Some(qs))
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body finally { sc.setLocalProperty(Tracer.SpanKey, null); close(id) }
    }
    try {
      val df = phase("construct")(build)
      val qe = df.queryExecution
      phase("analyze")(qe.analyzed)
      phase("optimize")(qe.optimizedPlan)
      phase("plan")(qe.executedPlan)
      val rows = phase("execute")(qe.toRdd.count())
      e("pinned_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      e("exchanges") = Harness.exchanges(df)
      rows
    } finally {
      close(qs)
      e("span") = qs
      detach()
      e("compiles") = compiles.count - c0
      e("compile_s") = compiles.seconds - cs0
      e("stream_batches") = recorder.streams.batches.get - b0
      e("stream_batch_s") = (recorder.streams.batchMs.get - bm0) / 1e3
      val w = Footprint(dirs).writtenSince(before)
      e("storage_write_mb") = w._1 / 1e6
      e("storage_files") = w._2
    }
  }
}

/** Sizes of every regular file under some directories. */
final case class Footprint(files: Map[String, Long]) {
  /** Bytes added (new files, and growth of existing ones) and files
    * created since `before`. */
  def writtenSince(before: Footprint): (Long, Int) = (
    files.iterator.map { case (p, n) => math.max(0L, n - before.files.getOrElse(p, 0L)) }.sum,
    files.keysIterator.count(p => !before.files.contains(p)))
}
object Footprint {
  /** Walks again when a file vanishes mid-walk (Spark deletes shuffle
    * and temporary files concurrently). */
  def apply(dirs: Seq[File]): Footprint =
    try Footprint(dirs.filter(_.isDirectory).flatMap(walk).toMap)
    catch { case _: java.io.UncheckedIOException => apply(dirs) }

  private def walk(d: File): List[(String, Long)] = {
    val s = Files.walk(d.toPath)
    try s.iterator.asScala.flatMap { p =>
      try { if (Files.isRegularFile(p)) Some(p.toString -> Files.size(p)) else None }
      catch { case _: java.io.IOException => None }
    }.toList
    finally s.close()
  }
}
