package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.MapReduce

/** MrRun's input/output errors: both modes (distributed and
  * `--sequential`) stop with one message naming the glob or the directory
  * before any session starts, instead of an empty output (sequential) or
  * a Hadoop `InvalidInputException` / `FileAlreadyExistsException` from
  * inside the job (distributed). Both modes read the files of one glob
  * expansion, and a zero-byte file is an input like any other.
  */
class MrRunSpec extends AnyFunSuite {

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_mrrun")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }

  private def write(file: java.nio.file.Path, text: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def distributed(glob: String): Seq[String] =
    MapReduce.run(SparkTestBase.spark, AppRegistry("wc"), glob, 3)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted

  test("an input glob that matches no file is an error naming the glob") {
    withTempDir { dir =>
      val glob = s"$dir/pg-*.txt"
      assert(MrRun.ioError(glob, s"$dir/out") ==
        Some(s"input glob '$glob' matches no files"))
      val missingParent = s"$dir/no-such-dir/pg-*.txt"
      assert(MrRun.ioError(missingParent, s"$dir/out") ==
        Some(s"input glob '$missingParent' matches no files"))
    }
  }

  test("an output directory that already exists is an error naming it") {
    withTempDir { dir =>
      val out = s"$dir/out"
      Files.createDirectory(dir.resolve("out"))
      assert(MrRun.ioError(MrCorpus.glob, out) ==
        Some(s"output directory '$out' already exists"))
    }
  }

  test("a matching glob and a fresh output directory pass the check") {
    withTempDir { dir =>
      assert(MrRun.ioError(MrCorpus.glob, s"$dir/out").isEmpty)
    }
  }

  test("a glob with a wildcard directory reads the same files in both modes") {
    withTempDir { dir =>
      write(dir.resolve("a/pg-1.txt"), "the cat sat")
      write(dir.resolve("b/pg-2.txt"), "the dog sat down")
      write(dir.resolve("b/notes.txt"), "skipped")
      val glob = s"$dir/*/pg-*.txt"
      assert(MrRun.ioError(glob, s"$dir/out").isEmpty)
      assert(MapReduce.globPaths(glob) ==
        Seq(dir.resolve("a/pg-1.txt"), dir.resolve("b/pg-2.txt")))
      val sequential = MapReduce.runSequential(AppRegistry("wc"),
        MapReduce.globPaths(glob)).sorted
      assert(sequential == Seq("cat 1", "dog 1", "down 1", "sat 2", "the 2"))
      assert(distributed(glob) == sequential)
    }
  }

  test("a glob naming a directory reads its visible files in both modes") {
    withTempDir { dir =>
      write(dir.resolve("in/pg-1.txt"), "the cat sat")
      write(dir.resolve("in/_SUCCESS"), "")
      write(dir.resolve("in/.pg-1.txt.crc"), "not text")
      val glob = s"$dir/in"
      assert(MapReduce.globPaths(glob) == Seq(dir.resolve("in/pg-1.txt")))
      assert(distributed(glob) ==
        MapReduce.runSequential(AppRegistry("wc"), MapReduce.globPaths(glob)).sorted)
    }
  }

  test("a zero-byte input is an empty map task, not an error") {
    withTempDir { dir =>
      write(dir.resolve("pg-empty.txt"), "")
      val glob = s"$dir/pg-*.txt"
      assert(MrRun.ioError(glob, s"$dir/out").isEmpty)
      assert(MapReduce.runSequential(AppRegistry("wc"), MapReduce.globPaths(glob)) == Nil)
      assert(MapReduce.run(SparkTestBase.spark, AppRegistry("wc"), glob).count() == 0)
    }
  }
}
