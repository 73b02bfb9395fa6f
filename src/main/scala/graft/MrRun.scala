package graft

import graft.apps.AppRegistry
import graft.engine.MapReduce

/** CLI face of the MapReduce engine — the analog of the reference's
  * `mrcoordinator`+`mrworker` pair (src/main/mrcoordinator.go,
  * src/main/mrworker.go) and, with `--sequential`, of `mrsequential`
  * (src/main/mrsequential.go).
  *
  * Usage: MrRun <app> <inputGlob> <outDir> [nReduce] [--sequential]
  * Apps: wc | indexer | collector | filecount (src/mrapps analogs).
  * Output: `"key value"` lines; distributed = one part file per reduce
  * partition (mr-out-N analog), sequential = single sorted file.
  */
object MrRun {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: MrRun <app> <inputGlob> <outDir> [nReduce] [--sequential]\n" +
          s"apps: ${AppRegistry.all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val Array(appName, inputGlob, outDir) = args.take(3)
    val app = AppRegistry(appName)
    val nReduce = args.drop(3).find(a => !a.startsWith("--")) match {
      case None => 10
      case Some(n) => n.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(s"error: nReduce must be a positive integer, got '$n'")
        sys.exit(2)
      }
    }
    val sequential = args.contains("--sequential")
    ioError(inputGlob, outDir).foreach { msg =>
      System.err.println(s"error: $msg")
      sys.exit(2)
    }

    if (sequential) {
      val lines = MapReduce.runSequential(app, MapReduce.globPaths(inputGlob))
      val out = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(out)
      // Zero groups -> an EMPTY file (the reference's mrsequential writes
      // nothing), not a lone newline that would fail a byte-level diff.
      java.nio.file.Files.write(out.resolve("mr-out-0"),
        (if (lines.isEmpty) "" else lines.mkString("", "\n", "\n"))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[mr] sequential ${app.name}: ${lines.size} groups -> $outDir/mr-out-0")
    } else {
      val spark = Sessions.local(s"graft-mr-${app.name}")
      MapReduce.runToText(spark, app, inputGlob, outDir, nReduce)
      println(s"[mr] distributed ${app.name}: nReduce=$nReduce -> $outDir")
      spark.stop()
    }
  }

  /** The input/output error both modes share, checked before any session
    * starts: a glob that matches no file (Hadoop glob syntax, as the
    * distributed scan reads it) or an output path that already exists.
    */
  def ioError(inputGlob: String, outDir: String): Option[String] = {
    val conf = new org.apache.hadoop.conf.Configuration
    val glob = new org.apache.hadoop.fs.Path(inputGlob)
    val out = new org.apache.hadoop.fs.Path(outDir)
    if (Option(glob.getFileSystem(conf).globStatus(glob)).forall(_.isEmpty))
      Some(s"input glob '$inputGlob' matches no files")
    else if (out.getFileSystem(conf).exists(out))
      Some(s"output directory '$outDir' already exists")
    else None
  }
}
