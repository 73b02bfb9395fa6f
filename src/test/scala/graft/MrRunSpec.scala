package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** MrRun's input/output errors: both modes (distributed and
  * `--sequential`) stop with one message naming the glob or the directory
  * before any session starts, instead of an empty output (sequential) or
  * a Hadoop `InvalidInputException` / `FileAlreadyExistsException` from
  * inside the job (distributed).
  */
class MrRunSpec extends AnyFunSuite {

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_mrrun")
    try body(dir)
    finally {
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }

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
}
