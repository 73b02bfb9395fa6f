package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Tar, Warc}

/** The ustar/WebDataset shard walk. Independent truth: GNU tar itself —
  * archives this encoder writes must extract bit-identically under
  * `/usr/bin/tar`, and archives GNU tar writes (--format=ustar) must
  * decode under this walker. Plus octal-field and checksum adversarial
  * legs, truncation rejects, and the sample-shard round-trip the query
  * rides.
  */
class WebDatasetSpec extends AnyFunSuite {

  private def ascii(s: String) = s.getBytes("US-ASCII")

  test("multi-entry archives round-trip (binary data, non-512 sizes)") {
    val entries = Seq(
      "a.txt" -> ascii("hello"),
      "b.bin" -> Array.tabulate(1000)(i => (i * 13 % 256).toByte),
      "c.json" -> ascii("{}"),
      "exactly512.bin" -> Array.fill(512)(7.toByte))
    val back = Tar.decode(Tar.encode(entries))
    assert(back.map(_.name) == entries.map(_._1))
    back.zip(entries).foreach { case (e, (_, d)) =>
      assert(e.data.toSeq == d.toSeq, e.name)
    }
  }

  test("GNU tar extracts this encoder's archive bit-identically") {
    val dir = TestDirs.create("graft-tar")
    val payload = Array.tabulate(777)(i => (i * 31 % 256).toByte)
    val bytes = Tar.encode(Seq("sample.txt" -> ascii("the body"),
      "sample.bin" -> payload))
    val f = dir.resolve("t.tar")
    java.nio.file.Files.write(f, bytes)
    import scala.sys.process._
    val listed = Seq("tar", "-tf", f.toString).!!.trim.split("\n").toSeq
    assert(listed == Seq("sample.txt", "sample.bin"))
    val outDir = dir.resolve("x")
    java.nio.file.Files.createDirectory(outDir)
    assert(Seq("tar", "-xf", f.toString, "-C", outDir.toString).! == 0)
    assert(java.nio.file.Files.readAllBytes(
      outDir.resolve("sample.txt")).toSeq == ascii("the body").toSeq)
    assert(java.nio.file.Files.readAllBytes(
      outDir.resolve("sample.bin")).toSeq == payload.toSeq)
  }

  test("this walker decodes a GNU-tar-written ustar archive") {
    val dir = TestDirs.create("graft-tar2")
    java.nio.file.Files.write(dir.resolve("x.txt"), ascii("gnu content"))
    java.nio.file.Files.write(dir.resolve("y.bin"),
      Array.tabulate(600)(i => (i % 251).toByte))
    import scala.sys.process._
    val f = dir.resolve("gnu.tar")
    assert(Seq("tar", "--format=ustar", "-cf", f.toString,
      "-C", dir.toString, "x.txt", "y.bin").! == 0)
    val entries = Tar.decode(java.nio.file.Files.readAllBytes(f))
    assert(entries.map(_.name).toSet == Set("x.txt", "y.bin"))
    assert(entries.find(_.name == "x.txt").get.data.toSeq ==
      ascii("gnu content").toSeq)
    assert(entries.find(_.name == "y.bin").get.data.length == 600)
  }

  test("GNU-tar long paths (prefix field) and directory entries decode") {
    val dir = TestDirs.create("graft-tar3")
    // A path over 100 chars forces GNU tar's ustar writer to split it
    // across prefix + name; a naive reader that ignores the prefix field
    // silently truncates the path.
    val deep = "d" * 60 + "/" + "e" * 60
    java.nio.file.Files.createDirectories(dir.resolve(deep))
    java.nio.file.Files.write(dir.resolve(deep).resolve("leaf.txt"),
      ascii("deep content"))
    import scala.sys.process._
    val f = dir.resolve("deep.tar")
    // Archive the directory recursively: the tar also carries DIRECTORY
    // entries (typeflag 5), which must be skipped, not decoded or fatal.
    assert(Seq("tar", "--format=ustar", "-cf", f.toString,
      "-C", dir.toString, deep.split("/")(0)).! == 0)
    val entries = Tar.decode(java.nio.file.Files.readAllBytes(f))
    assert(entries.map(_.name) == Seq(s"$deep/leaf.txt"),
      "prefix-joined long path expected")
    assert(entries.head.data.toSeq == ascii("deep content").toSeq)
  }

  test("corruption rejects loudly: checksum, magic, octal, truncation") {
    val good = Tar.encode(Seq("f.txt" -> ascii("data under test")))
    def rejects(bytes: Array[Byte]): Unit =
      assertThrows[IllegalArgumentException](Tar.decode(bytes))
    // Flip a name byte: the header checksum must catch it.
    val c1 = good.clone(); c1(0) = (c1(0) ^ 0x01).toByte; rejects(c1)
    // Corrupt the magic.
    val c2 = good.clone(); c2(257) = 'X'.toByte; rejects(c2)
    // Non-octal size digit (fix nothing else: checksum now also wrong,
    // either reject is loud).
    val c3 = good.clone(); c3(124) = '9'.toByte; rejects(c3)
    rejects(good.dropRight(600)) // missing terminator blocks
    rejects(good.take(100)) // truncated header
    // A symlink typeflag is neither a file (decoded) nor a directory
    // (skipped): loud reject, never a silent mis-read.
    val c4 = good.clone(); c4(156) = '2'.toByte
    // re-fix checksum so ONLY the typeflag rule fires
    val sum = (0 until 512).map(i =>
      if (i >= 148 && i < 156) ' '.toInt else c4(i) & 0xff).sum
    val s = sum.toOctalString.reverse.padTo(6, '0').reverse
    System.arraycopy(s.getBytes("US-ASCII"), 0, c4, 148, 6)
    c4(154) = 0; c4(155) = ' '.toByte
    rejects(c4)
  }

  test("sample shards round-trip through tar+gzip to the closed form") {
    for (text <- Seq("a", "webdataset sample body", "q" * 700)) {
      val meta = s"""{"lang":"xx","n_chars":${text.length}}"""
      val shard = Tar.encodeSampleShard("doc7", ascii(text), ascii(meta))
      // It really is a .tar.gz: the gzip walk alone must yield one member.
      assert(Warc.gunzipMembers(shard).length == 1)
      val smp = Tar.decodeSampleShard(shard)
      assert(smp.key == "doc7" && smp.nFiles == 2)
      assert(smp.txtBytes == text.length)
      assert(smp.txtByteSum == text.map(_.toLong).sum)
      assert(smp.metaBytes == meta.length)
    }
  }

  test("shards with mixed sample stems reject under the synthetic contract") {
    val tar = Tar.encode(Seq("a.txt" -> ascii("x"), "b.json" -> ascii("{}")))
    assertThrows[IllegalArgumentException](
      Tar.decodeSampleShard(Warc.gzipMember(tar)))
  }
}
