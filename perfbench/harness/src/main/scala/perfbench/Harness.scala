package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.json4s.{JInt, JString}

import graft.Sessions
import graft.apps.AppRegistry
import graft.engine.{FnvPartitioner, KV, MapReduce}
import graft.state.{KvBatch, KvCell, KvOp, KvStateMachine, KvTypes}

/** One benchmark process: set up a SparkSession the way the `MrRun` CLI
  * does, then run a workload's job in a closed loop (one job at a time, the
  * next submitted only after the previous one's output is committed), and
  * check every job's committed output against the workload's oracle outside
  * the timed region.
  *
  *   Harness --workload W --input DIR --out DIR --result FILE
  *           --launch-ms EPOCH_MS --seconds S --warmup-jobs N
  *           [--cold-only] [--trace 0|1] [--corrupt JOB]
  *
  * `--cold-only` stops after the cold job, the first job of the process.
  *
  * The result file holds the set-up split, one record per job (wall, CPU
  * and GC seconds, heap peak, digest, verdict) and, when traced, the
  * per-layer figures and the spans.  `--corrupt JOB` deletes the largest
  * file of that job's committed output before it is checked; the tests use
  * it to show that a corrupted output counts as a failed job.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val args = Args(argv)
    val tracer = new Tracer
    val root = tracer.open("run", None, args.launchMs)
    val setup = tracer.open("setup", Some(root), args.launchMs)
    tracer.closeAt(tracer.open("setup.jvm", Some(setup), args.launchMs), mainEntryMs)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sessionSpan = tracer.open("setup.session", Some(setup))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietBoundedWindowWarn()
    tracer.close(sessionSpan)

    val workload = Workload(args.workload, spark, args.input)
    val inputSpan = tracer.open("setup.input", Some(setup))
    workload.register()
    tracer.close(inputSpan)
    tracer.close(setup)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload,
      "setup" -> Map(
        "total_s" -> setup.seconds,
        "jvm_s" -> (mainEntryMs - args.launchMs) / 1e3,
        "session_s" -> sessionSpan.seconds,
        "input_s" -> inputSpan.seconds),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "cpus" -> cpus.toInt)

    val loop = new JobLoop(spark, workload, args, tracer, new StageListener(tracer), root)
    loop.run()
    out("oracle") = workload.oracle().toMap
    loop.verifyAll()
    out("jobs") = loop.records.toSeq
    if (args.trace) out("layers") = loop.layers()
    spark.stop()
    tracer.close(root)
    if (args.trace) out("spans") = tracer.spans.map(_.toMap).toSeq
    Files.write(Paths.get(args.result), Json.write(out).getBytes(UTF_8))
  }
}

final case class Args(workload: String, input: String, out: String,
    result: String, launchMs: Long, coldOnly: Boolean, seconds: Double,
    warmupJobs: Int, trace: Boolean, corrupt: Int)

object Args {
  def apply(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "cold-only") { kv(k) = "1"; i += 1 }
      else { kv(k) = argv(i + 1); i += 2 }
    }
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("input"), req("out"), req("result"),
      req("launch-ms").toLong, kv.contains("cold-only"),
      req("seconds").toDouble, req("warmup-jobs").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("corrupt", "-1").toInt)
  }
}

/** Order-independent digest of a multiset of lines: the line count and the
  * sum (mod 2^64) of the first eight bytes of each line's MD5, read
  * little-endian.  `perfbench/gen.py` computes the same function.
  */
final case class Digest(lines: Long, sum: Long) {
  def toMap: Map[String, Any] = Map("lines" -> lines, "sum" -> f"$sum%016x")
}

object Digest {
  def of(lines: Iterator[String]): Digest = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    lines.foreach { l =>
      val d = md.digest(l.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      n += 1
    }
    Digest(n, sum)
  }

  def read(file: Path): Option[Digest] =
    if (!Files.exists(file)) None
    else {
      val j = Json.read(file)
      (j \ "lines", j \ "sum") match {
        case (JInt(n), JString(s)) =>
          Some(Digest(n.toLong, java.lang.Long.parseUnsignedLong(s, 16)))
        case _ => None
      }
    }

  def write(file: Path, d: Digest): Unit =
    Files.write(file, Json.write(d.toMap).getBytes(UTF_8))
}

/** A workload: its inputs, its one timed call, how to read back what that
  * call committed, its oracle, and single-threaded probes of its layers.
  */
trait Workload {
  def register(): Unit
  def job(out: String): Unit
  def digest(out: String): Digest
  def oracle(): Digest
  /** Timed calls into the workload's layers from this process (traced runs). */
  def probes(tracer: Tracer, parent: Span): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, input: String): Workload =
    name match {
      case "mr_wc_zipf"  => new MrWorkload(spark, "wc", input)
      case "kv_cas_zipf" => new KvWorkload(spark, input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def partFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Oracle cached next to the inputs: computed once per cached input. */
  def cachedOracle(input: String)(compute: => Digest): Digest = {
    val file = Paths.get(input, "oracle.json")
    Digest.read(file).getOrElse {
      val d = compute
      Digest.write(file, d)
      d
    }
  }
}

/** `MapReduce.runToText` with the CLI's defaults over `input/data/`. */
final class MrWorkload(spark: SparkSession, appName: String, input: String)
    extends Workload {
  private val app = AppRegistry(appName)
  private val glob = s"$input/data/*.txt"
  private var files: Seq[Path] = Nil

  def register(): Unit = files = MapReduce.globPaths(glob)

  def job(out: String): Unit = MapReduce.runToText(spark, app, glob, out)

  def digest(out: String): Digest = {
    val parts = Workload.partFiles(out)
    Digest.of(parts.iterator.flatMap(p =>
      Files.readAllLines(p, UTF_8).asScala.iterator))
  }

  def oracle(): Digest = Workload.cachedOracle(input)(
    Digest.of(MapReduce.runSequential(app, files).iterator))

  def probes(tracer: Tracer, parent: Span): Map[String, Double] = {
    val contents = files.map(p => (p.toString, new String(Files.readAllBytes(p), UTF_8)))

    val mapSpan = tracer.open("apps.map", Some(parent))
    val emitted = ArrayBuffer[KV]()
    contents.foreach { case (f, c) => emitted ++= app.map(f, c) }
    tracer.close(mapSpan)

    val partitioner = new FnvPartitioner(10) // MapReduce.run's nReduce default
    val partSpan = tracer.open("engine.partition", Some(parent))
    var acc = 0L // consumed below, so the calls cannot be optimized away
    emitted.foreach(kv => acc += partitioner.getPartition(kv.key))
    tracer.close(partSpan)
    if (acc < 0) throw new IllegalStateException("negative partition")

    val grouped = emitted.groupMap(_.key)(_.value).toSeq
    val reduceSpan = tracer.open("apps.reduce", Some(parent))
    grouped.foreach { case (k, vs) => app.reduce(k, vs.toSeq) }
    tracer.close(reduceSpan)

    val seqSpan = tracer.open("engine.sequential", Some(parent))
    val lines = MapReduce.runSequential(app, files)
    tracer.close(seqSpan)
    if (Digest.of(lines.iterator) != oracle())
      throw new IllegalStateException("runSequential disagrees with its cached digest")

    Map(
      "apps.map_s" -> mapSpan.seconds,
      "apps.map_calls" -> contents.size.toDouble,
      "apps.kv_emitted" -> emitted.size.toDouble,
      "apps.reduce_s" -> reduceSpan.seconds,
      "apps.reduce_values" -> emitted.size.toDouble,
      "engine.partition_s" -> partSpan.seconds,
      "engine.sequential_s" -> seqSpan.seconds)
  }
}

/** `KvBatch.replay` over the Put log in `input/data/`, committed as parquet.
  * The log is registered with `KvOp`'s schema, so set-up lists the files
  * and the footers are read by the jobs.
  */
final class KvWorkload(spark: SparkSession, input: String) extends Workload {
  import spark.implicits._
  private var ops: Dataset[KvOp] = _

  def register(): Unit =
    ops = spark.read.schema(Encoders.product[KvOp].schema).parquet(s"$input/data").as[KvOp]

  def job(out: String): Unit = KvBatch.replay(spark, ops).write.parquet(out)

  def digest(out: String): Digest =
    Digest.of(spark.read.parquet(out).collect().iterator.map(r =>
      s"${r.getAs[String]("key")}\t${r.getAs[String]("value")}\t" +
        s"${r.getAs[Long]("version")}\t${r.getAs[Long]("nApplied")}\t" +
        s"${r.getAs[Long]("nRejected")}"))

  /** Written by the generator from the closed form of the log. */
  def oracle(): Digest = Digest.read(Paths.get(input, "oracle.json")).getOrElse(
    throw new IllegalStateException(s"no oracle.json in $input"))

  /** Streams the log sorted by (key, seq) into this process one key at a time;
    * only the `replayKey` calls are timed.  The per-op error counts come
    * from `KvStateMachine.step`, outside the timing.
    */
  def probes(tracer: Tracer, parent: Span): Map[String, Double] = {
    val span = tracer.open("state.replay", Some(parent))
    val it = ops.orderBy("key", "seq").toLocalIterator().asScala.buffered
    val errors = mutable.Map[String, Long]().withDefaultValue(0L)
    var replayNs = 0L
    var n = 0L
    val run = ArrayBuffer[KvOp]()
    while (it.hasNext) {
      val key = it.head.key
      run.clear()
      while (it.hasNext && it.head.key == key) run += it.next()
      val t0 = System.nanoTime()
      KvStateMachine.replayKey(key, run.iterator)
      replayNs += System.nanoTime() - t0
      var cell: Option[KvCell] = None
      run.foreach { op =>
        val (next, err) = KvStateMachine.step(cell, op)
        errors(err) += 1
        cell = next
      }
      n += run.size
    }
    tracer.close(span)
    Map(
      "state.replay_s" -> replayNs / 1e9,
      "engine.sequential_s" -> replayNs / 1e9,
      "state.ops" -> n.toDouble,
      "state.applied" -> errors(KvTypes.OK).toDouble,
      "state.rejected" -> (n - errors(KvTypes.OK)).toDouble,
      "state.maybe" -> errors(KvTypes.ErrMaybe).toDouble,
      "state.applied_ratio" -> errors(KvTypes.OK).toDouble / n)
  }
}
