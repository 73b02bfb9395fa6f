package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}

/** The closed loop: a cold job, then, unless `coldOnly`, `warmupJobs`
  * discarded warm-up jobs and timed jobs until `seconds` have passed (at least
  * [[JobLoop.MinTimed]]).  Warming up for a job count rather than a time
  * gives the JIT, whose thresholds are call counts, the same passes however
  * fast the machine runs, so a slower machine does not also leave the timed
  * jobs less compiled.  The committed output of the cold and the timed jobs
  * is digested right after the job, outside its timing, and the digests are
  * compared with the oracle at the end; a warm-up job's output is not read,
  * so it fails only if it raises.  Every output is deleted after the job.
  *
  * In a traced run the timed jobs alternate untraced and traced in the
  * order U T T U U T T U ..., which cancels a steady drift such as JIT
  * warm-up; only the traced ones carry the stage listener, so the two
  * medians give the tracing overhead within one process.
  */
final class JobLoop(spark: SparkSession, workload: Workload, args: Args,
    tracer: Tracer, listener: StageListener, root: Span) {

  val records = ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  private val digests = ArrayBuffer[Option[Digest]]()
  private val stageFigures = ArrayBuffer[Map[String, Double]]()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val cpus = spark.sparkContext.defaultParallelism

  def run(): Unit = {
    runJob("cold", args.trace)
    if (!args.coldOnly) {
      (1 to args.warmupJobs).foreach(_ => runJob("warmup", args.trace))
      val t0 = System.nanoTime()
      var k = 0
      while (k < JobLoop.MinTimed || (System.nanoTime() - t0) / 1e9 < args.seconds) {
        runJob("timed", args.trace && (k % 4 == 1 || k % 4 == 2))
        k += 1
      }
    }
  }

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  private def runJob(phase: String, traced: Boolean): Unit = {
    val idx = records.size
    val out = s"${args.out}/job-$idx"
    val sc = spark.sparkContext
    if (traced) {
      GraftSparkShim.waitListenerBusEmpty(sc, 60000L)
      sc.addSparkListener(listener)
    }
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val cpu0 = os.getProcessCpuTime
    val span = tracer.open("job", Some(root), job = idx)
    listener.begin(span)
    val error = try { workload.job(out); None }
      catch { case e: Exception => Some(e.toString) }
    tracer.close(span)
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val gc = (gcMs - gc0) / 1e3
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (traced) {
      GraftSparkShim.waitListenerBusEmpty(sc, 60000L)
      sc.removeSparkListener(listener)
      stageFigures += listener.figures(span.seconds, cpus)
    }
    listener.end()

    val checked = phase != "warmup"
    val verify = tracer.open("verify", Some(root), job = idx)
    if (error.isEmpty && idx == args.corrupt) JobLoop.corrupt(out)
    val digest = if (error.nonEmpty || !checked) None
      else try Some(workload.digest(out)) catch { case _: Exception => None }
    JobLoop.deleteTree(Paths.get(out))
    tracer.close(verify)

    digests += digest
    records += mutable.LinkedHashMap[String, Any](
      "job" -> idx, "phase" -> phase, "traced" -> traced, "checked" -> checked,
      "wall_s" -> span.seconds, "cpu_s" -> cpu, "gc_s" -> gc,
      "heap_peak_mb" -> heapPeak,
      "digest" -> digest.map(_.toMap).orNull,
      "error" -> error.orNull)
  }

  /** Compares each checked job's digest with the oracle and sets every
    * record's `ok`; an unchecked job is ok when it did not raise. */
  def verifyAll(): Unit = {
    val want = workload.oracle()
    records.zip(digests).foreach { case (r, d) =>
      r("ok") = if (r("checked") == true) d.contains(want) else r("error") == null
    }
  }

  /** Per-layer figures of a traced run: medians over its traced timed jobs
    * of the stage figures, the JVM figures over all timed jobs, the
    * single-threaded layer probes and the tracing overhead.
    */
  def layers(): Map[String, Double] = {
    val timed = records.filter(_("phase") == "timed")
    def p50(rs: Iterable[mutable.LinkedHashMap[String, Any]], k: String) =
      JobLoop.median(rs.map(_(k).asInstanceOf[Double]).toSeq)
    val tracedP50 = p50(timed.filter(_("traced") == true), "wall_s")
    val untracedP50 = p50(timed.filter(_("traced") == false), "wall_s")
    val stage = stageFigures.drop(records.count(_("phase") != "timed"))
    val stageP50 = stage.head.keys.map(k => k -> JobLoop.median(stage.map(_(k)).toSeq)).toMap
    val probeSpan = tracer.open("probes", Some(tracer.spans.head))
    val probes = workload.probes(tracer, probeSpan)
    tracer.close(probeSpan)
    val seq = probes("engine.sequential_s")
    stageP50 ++ probes ++ Map(
      "engine.speedup" -> seq / untracedP50,
      "jvm.gc_s" -> p50(timed, "gc_s"),
      "jvm.gc_share" -> p50(timed, "gc_s") / p50(timed, "wall_s"),
      "jvm.heap_peak_mb" -> p50(timed, "heap_peak_mb"),
      "trace.job_s.p50" -> tracedP50,
      "trace.overhead" -> tracedP50 / untracedP50)
  }
}

object JobLoop {
  final val MinTimed = 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Test hook: deletes the largest file of a committed output. */
  def corrupt(out: String): Unit = {
    val s = Files.list(Paths.get(out))
    val victim = try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).maxBy(p => Files.size(p))
      finally s.close()
    Files.delete(victim)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
}

/** Stage and task metrics of the traced jobs.  A stage that writes shuffle
  * output is a map stage; one that only reads shuffle input is a reduce
  * stage; anything else (listing, schema reads) is "other".
  */
final class StageListener(tracer: Tracer) extends SparkListener {
  private case class Task(stage: Int, runMs: Long, cpuNs: Long)
  private case class Stage(kind: String, tasks: Int, startMs: Long, endMs: Long,
      shuffleRecords: Long, shuffleBytes: Long, shuffleWriteNs: Long,
      fetchWaitMs: Long, spillBytes: Long)

  @volatile private var current: Option[Span] = None
  private val tasks = ArrayBuffer[Task]()
  private val stages = mutable.Map[Int, Stage]()

  def begin(job: Span): Unit = synchronized {
    current = Some(job); tasks.clear(); stages.clear()
  }
  def end(): Unit = current = None

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (current.nonEmpty && e.taskMetrics != null)
      tasks += Task(e.stageId, e.taskMetrics.executorRunTime, e.taskMetrics.executorCpuTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    current.foreach { job =>
      val i = e.stageInfo
      val m = i.taskMetrics
      val kind =
        if (m.shuffleWriteMetrics.recordsWritten > 0) "map"
        else if (m.shuffleReadMetrics.recordsRead > 0) "reduce"
        else "other"
      val s = Stage(kind, i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
      stages(i.stageId) = s
      tracer.record(s"stage.$kind", Some(job), s.startMs.toDouble, s.endMs.toDouble, job.job)
    }
  }

  def figures(jobSeconds: Double, cpus: Int): Map[String, Double] = synchronized {
    def sumOf(kind: String)(f: Stage => Double) =
      stages.values.filter(_.kind == kind).map(f).sum
    val reduceIds = stages.filter(_._2.kind == "reduce").keySet
    val reduceRuns = tasks.filter(t => reduceIds(t.stage)).map(_.runMs.toDouble).toSeq
    val runS = tasks.map(_.runMs).sum / 1e3
    val all = stages.values
    Map(
      "engine.map_stage_s" -> sumOf("map")(s => (s.endMs - s.startMs) / 1e3),
      "engine.map_tasks" -> sumOf("map")(_.tasks.toDouble),
      "engine.reduce_stage_s" -> sumOf("reduce")(s => (s.endMs - s.startMs) / 1e3),
      "engine.reduce_tasks" -> sumOf("reduce")(_.tasks.toDouble),
      "engine.reduce_skew" ->
        (if (reduceRuns.isEmpty) 0.0
         else reduceRuns.max / math.max(1.0, JobLoop.median(reduceRuns))),
      "engine.shuffle_records" -> all.map(_.shuffleRecords).sum.toDouble,
      "engine.shuffle_write_mb" -> all.map(_.shuffleBytes).sum / 1048576.0,
      "engine.spill_mb" -> all.map(_.spillBytes).sum / 1048576.0,
      "engine.shuffle_write_s" -> all.map(_.shuffleWriteNs).sum / 1e9,
      "engine.fetch_wait_s" -> all.map(_.fetchWaitMs).sum / 1e3,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "executor.busy_share" -> runS / (cpus * jobSeconds))
  }
}

/** A span: one timed interval of the run, in epoch milliseconds. */
final class Span(val id: Int, val parent: Option[Int], val name: String,
    val start: Double, var end: Double, val job: Int) {
  def seconds: Double = (end - start) / 1e3
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent.orNull,
    "name" -> name, "start_ms" -> start, "end_ms" -> end,
    "job" -> (if (job < 0) null else job))
}

/** Keeps spans in memory; the harness writes them out when the run ends.
  * Times are epoch milliseconds with sub-millisecond resolution, so spans
  * line up with the launch time and with Spark's stage timestamps.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = ArrayBuffer[Span]()

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def open(name: String, parent: Option[Span], atMs: Double = Double.NaN,
      job: Int = -1): Span = synchronized {
    val s = new Span(spans.size, parent.map(_.id), name,
      if (atMs.isNaN) now() else atMs, Double.NaN, job)
    spans += s
    s
  }
  def close(s: Span): Unit = s.end = now()
  def closeAt(s: Span, atMs: Double): Unit = s.end = atMs

  def record(name: String, parent: Option[Span], start: Double, end: Double,
      job: Int): Unit = synchronized {
    spans += new Span(spans.size, parent.map(_.id), name, start, end, job)
  }
}

/** The result and oracle files, written and read with the json4s that
  * Spark ships.
  */
object Json {
  private implicit val formats: Formats = DefaultFormats
  def write(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])
  def read(file: Path): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
}
