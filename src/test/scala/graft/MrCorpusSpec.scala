package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The generated MR corpus is what the golden, crash-recovery and scheduler
  * suites stand on: it must be the same bytes in every JVM, hold the edge
  * cases it promises, and outlive a `TempDirs.drain()` by another suite.
  */
class MrCorpusSpec extends AnyFunSuite {
  private def text(name: String): String =
    new String(MrCorpus.books.find(_.name == name).get.bytes, UTF_8)

  test("generation is deterministic and the files on disk are its bytes") {
    val again = MrCorpus.generate()
    assert(again.map(_.name) == MrCorpus.books.map(_.name))
    for ((a, b) <- again.zip(MrCorpus.books)) {
      assert(a.bytes.sameElements(b.bytes), s"${a.name} bytes differ")
      assert(a.words == b.words, s"${a.name} record differs")
      assert(Files.readAllBytes(MrCorpus.dir.resolve(b.name)).sameElements(b.bytes))
    }
    info(MrCorpus.books.map(b => s"${b.name} ${b.bytes.length} B").mkString(", ") +
      s"; ${MrCorpus.totalWords} words")
    // The same bytes in every JVM: pinned, since one JVM cannot see another.
    val d = java.security.MessageDigest.getInstance("MD5")
    MrCorpus.books.foreach { b => d.update(b.name.getBytes(UTF_8)); d.update(b.bytes) }
    assert(d.digest().map("%02x".format(_)).mkString == "bf9d225db6db4b45a7d9ae51cbb7b51b")
  }

  test("the corpus holds the tokenizer edge cases") {
    val books = MrCorpus.books
    assert(books.size == 9)
    assert(books.find(_.name == MrCorpus.EmptyBook).get.bytes.isEmpty)
    assert(MrCorpus.totalWords > 100000)
    val crlf = books.filter(b => b.bytes.contains('\r'.toByte))
    assert(crlf.size == 1)
    val crlfText = new String(crlf.head.bytes, UTF_8)
    assert(crlfText.count(_ == '\n') == crlfText.split("\r\n", -1).length - 1,
      "every line of the CRLF file ends in CRLF")
    def holds(bs: Int*): Boolean =
      books.exists(_.bytes.containsSlice(bs.map(_.toByte)))
    assert(holds(0x20, 0xff, 0x20), "a lone 0xff")
    assert(holds(0x20, 0xc3, 0x20), "a lead byte with no continuation byte")
    assert(books.exists(_.bytes.endsWith(Seq(0xe2, 0x82).map(_.toByte))),
      "a sequence cut off at EOF")
    val words = books.flatMap(_.words).toSet
    assert(words.exists(_.codePoints().anyMatch(_ > 0xffff)), "a letter outside the BMP")
    assert(words.exists(_.exists(_ > 0x7f)), "non-ASCII letters")
    val all = books.map(b => new String(b.bytes, UTF_8)).mkString
    assert("""\p{L}\d+\p{L}""".r.findFirstIn(all).nonEmpty, "digits inside a word")
    assert("""\p{L}'\p{L}""".r.findFirstIn(all).nonEmpty, "an apostrophe inside a word")
    assert(MrCorpus.CrashBook.contains("sherlock") &&
      text(MrCorpus.CrashBook).contains("Sherlock"), "the crash target")
  }

  test("the corpus survives TempDirs.drain()") {
    val files = MrCorpus.files
    TempDirs.drain()
    assert(files.forall(Files.isRegularFile(_)))
  }
}
