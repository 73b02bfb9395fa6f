package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.engine.MapReduce

/** The corpus the MR engine suites read: a seeded stand-in for the
  * reference's eight Project Gutenberg books (`src/main/pg-*.txt`, the
  * input of `test-mr.sh:80-111`), generated at test time so the golden,
  * crash-recovery and scheduler suites need nothing outside the repo.
  *
  * The files keep the pg names, plus one zero-byte `pg-empty.txt`. Their
  * text covers what `Tokenizer`'s parity with Go's `unicode.IsLetter`
  * depends on: non-ASCII letters (Latin, Greek, Cyrillic, CJK, a titlecase
  * and a modifier letter, and Deseret letters outside the BMP — all letters
  * in JDK 17 and Go 1.22 alike), digits and apostrophes inside words, a
  * combining mark after a word, one CRLF file, and invalid UTF-8 (a lone
  * 0xff, a lead byte with no continuation byte, and a sequence cut off at
  * EOF — each decodes to U+FFFD, a non-letter).
  *
  * The generator records every word it writes, per file. That record, not
  * any program output, is what [[wcLines]], [[indexerLines]] and
  * [[totalWords]] are built from. A word is a maximal run of letters: every
  * separator the generator writes between two words holds no letter.
  *
  * The files are written once per JVM into a directory of their own, which a
  * shutdown hook deletes. Not [[TempDirs]]: suites call `TempDirs.drain()`
  * mid-run, and that must not delete the corpus under a later suite.
  */
object MrCorpus {
  /** One generated file: its name, its bytes and the words written to it. */
  final case class Book(name: String, bytes: Array[Byte], words: Vector[String])

  private val Seed = 65840L
  /** The crash target of CrashRecoverySpec: its path holds "sherlock" and
    * its text holds the word "Sherlock".
    */
  val CrashBook = "pg-sherlock_holmes.txt"
  private val CrlfBook = "pg-metamorphosis.txt"
  private val InvalidUtf8Book = "pg-grimm.txt"
  val EmptyBook = "pg-empty.txt"

  /** (file, words of running text, title, the book's proper nouns). */
  private val plan: Seq[(String, Int, String, Seq[String])] = Seq(
    ("pg-being_ernest.txt", 9000, "The Importance of Being Earnest",
      Seq("Ernest", "Algernon", "Jack", "Gwendolen", "Cecily", "Bracknell")),
    ("pg-dorian_gray.txt", 17000, "The Picture of Dorian Gray",
      Seq("Dorian", "Gray", "Basil", "Hallward", "Henry", "Wotton", "Sibyl")),
    ("pg-frankenstein.txt", 16000, "Frankenstein",
      Seq("Victor", "Frankenstein", "Elizabeth", "Clerval", "Justine", "Genève")),
    (InvalidUtf8Book, 20000, "Grimms Fairy Tales",
      Seq("Hansel", "Gretel", "Rapunzel", "Rumpelstiltskin", "Gänsemagd")),
    ("pg-huckleberry_finn.txt", 22000, "Adventures of Huckleberry Finn",
      Seq("Huck", "Jim", "Tom", "Sawyer", "Pap", "Mississippi")),
    (CrlfBook, 9500, "Metamorphosis",
      Seq("Gregor", "Samsa", "Grete", "Prokurist", "Zimmerherren")),
    (CrashBook, 21000, "The Adventures of Sherlock Holmes",
      Seq("Sherlock", "Holmes", "Watson", "Lestrade", "Baker", "Irene", "Adler")),
    ("pg-tom_sawyer.txt", 15000, "The Adventures of Tom Sawyer",
      Seq("Tom", "Sawyer", "Becky", "Thatcher", "Polly", "Injun", "Joe")))

  private val common: Vector[String] = Vector(
    "the", "and", "of", "to", "a", "I", "in", "was", "that", "he", "it",
    "his", "her", "you", "with", "had", "as", "for", "she", "not", "at",
    "but", "be", "my", "on", "have", "him", "is", "said", "all", "so", "me",
    "which", "they", "were", "by", "this", "from", "there", "one", "no",
    "what", "would", "we", "if", "an", "or", "could", "them", "been", "do",
    "up", "then", "out", "into", "when", "more", "some", "their", "very",
    "our", "like", "time", "little", "man", "upon", "who", "will", "about",
    "now", "must", "only", "over", "old", "know", "see", "went", "come",
    "door", "night", "house", "room", "eyes", "hand", "face", "way")

  /** Non-ASCII words: Latin-1 and Latin Extended letters, the titlecase
    * digraph U+01C5 (Lt), the modifier letter U+02BB (Lm), Greek, Cyrillic,
    * CJK, and Deseret (U+10400 block, outside the BMP).
    */
  private val foreign: Vector[String] = Vector(
    "café", "naïve", "façade", "Zoë", "straße", "Ærø", "fiancée", "señor",
    "Bjørn", "Ångström", "Œuvre", "ǅemal", "Hawaiʻi", "λόγος",
    "ψυχή", "слово", "Москва", "日本", "東京",
    "𐐀𐐯𐑅𐐨𐑉",
    "𐐓𐐮𐑊")

  /** Separators written between two words of one line. None holds a letter;
    * `glue` ones join two words with no space ("don't", "chapter12the").
    */
  private val spaced: Vector[String] = Vector(", ", ". ", "; ", "! ", "? ",
    ": ", " — ", " (", ") ", " \"", "\" ", " 1887 ", " \u0663 ", "\u0301 ",
    " _", "_ ")
  private val glue: Vector[String] = Vector("'", "’", "-", "42", "7",
    "1865")
  private val suffixes: Vector[String] = Vector("s", "t", "ll", "d", "re", "ve")

  /** The shared vocabulary in rank order: common words, then syllable-built
    * words with the foreign words spread among the first few hundred ranks.
    */
  private lazy val vocab: Vector[String] = {
    val syl = Vector("ba", "ne", "lo", "ri", "ta", "mu", "ke", "so", "di",
      "ran", "vel", "tor", "mi", "ca", "pe", "shu", "gor", "lan", "wyn", "th",
      "el", "or", "ist", "quo", "bre", "ul", "ash", "ing")
    val rnd = new java.util.Random(Seed)
    val made = scala.collection.mutable.LinkedHashSet[String]()
    while (made.size < 5000) {
      made += Vector.fill(1 + rnd.nextInt(4))(syl(rnd.nextInt(syl.size))).mkString
    }
    val synth = made.toVector.filterNot(common.contains)
    val mixed = synth.grouped(15).zipAll(foreign.map(Vector(_)), Vector.empty,
      Vector.empty).flatMap { case (s, f) => f ++ s }.toVector
    common ++ mixed
  }

  /** Zipf(1) over [[vocab]] ranks. */
  private lazy val cdf: Array[Double] =
    vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray

  private def zipf(rnd: java.util.Random): String = {
    val u = rnd.nextDouble() * cdf.last
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
  }

  private def isWord(w: String): Boolean =
    w.nonEmpty && w.codePoints().allMatch(Character.isLetter(_))

  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private def capitalize(w: String): String =
    if (w.head >= 'a' && w.head <= 'z') s"${w.head.toUpper}${w.tail}" else w

  private def book(name: String, nWords: Int, title: String,
                   names: Seq[String], idx: Int): Book = {
    val rnd = new java.util.Random(Seed * 31 + idx)
    val out = new ByteArrayOutputStream()
    val words = Vector.newBuilder[String]
    val eol = if (name == CrlfBook) "\r\n" else "\n"
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    def word(w: String): Unit = { put(w); words += w }
    def line(ws: Seq[String]): Unit = {
      ws.zipWithIndex.foreach { case (w, i) => if (i > 0) put(" "); word(w) }
      put(eol)
    }

    line(("The Project Gutenberg eBook of " + title).split(' ').toSeq)
    line(names)
    put(eol)
    var n = 0
    var inLine = 0
    var next: String = null
    var sentenceStart = true
    while (n < nWords) {
      val w = if (next != null) next
        else if (rnd.nextInt(100) < 3) names(rnd.nextInt(names.size))
        else zipf(rnd)
      next = null
      word(if (sentenceStart) capitalize(w) else w)
      n += 1
      inLine += 1
      sentenceStart = false
      val r = rnd.nextInt(1000)
      if (inLine >= 10 + rnd.nextInt(5)) {
        put(if (r < 60) "." + eol + eol else eol)
        sentenceStart = r < 60
        inLine = 0
      } else if (r < 40) {
        val g = glue(rnd.nextInt(glue.size))
        put(g)
        if (g == "'" || g == "’") next = suffixes(rnd.nextInt(suffixes.size))
      } else if (r < 140) {
        val s = spaced(rnd.nextInt(spaced.size))
        put(s)
        sentenceStart = s.startsWith(".") || s.startsWith("!") || s.startsWith("?")
      } else put(" ")
      // A lone 0xff, then a two-byte lead byte with no continuation byte.
      if (name == InvalidUtf8Book && n == nWords / 3) out.write(bytes(0x20, 0xff, 0x20))
      if (name == InvalidUtf8Book && n == 2 * nWords / 3) out.write(bytes(0x20, 0xc3, 0x20))
    }
    put(eol)
    // A three-byte sequence (U+20AC's first two bytes) cut off at EOF.
    if (name == InvalidUtf8Book) out.write(bytes(0xe2, 0x82))
    Book(name, out.toByteArray, words.result())
  }

  /** Generates the corpus in memory; the same bytes on every call and JVM. */
  def generate(): Seq[Book] = {
    val books = plan.zipWithIndex.map { case ((name, n, title, names), i) =>
      book(name, n, title, names, i) } :+ Book(EmptyBook, Array.emptyByteArray, Vector.empty)
    // The generator's own premises: every recorded word is a letter run and
    // every separator holds no letter, so the record is the word sequence.
    require((vocab ++ plan.flatMap(_._4) ++ suffixes).forall(isWord))
    require((spaced ++ glue).forall(s => !s.codePoints().anyMatch(Character.isLetter(_))))
    // minMapTasks = 24 caps a combined split at total/24 bytes: every
    // non-empty file must exceed it to stay a map task of its own.
    val total = books.map(_.bytes.length.toLong).sum
    require(books.filter(_.bytes.nonEmpty).forall(_.bytes.length > total / 24))
    require(books.exists(b => b.name == CrashBook && b.words.contains("Sherlock")))
    books.sortBy(_.name)
  }

  lazy val books: Seq[Book] = generate()

  /** The corpus directory, written on first use and deleted at JVM exit. */
  lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-mr-corpus-")
    books.foreach(b => Files.write(d.resolve(b.name), b.bytes))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      books.foreach(b => Files.deleteIfExists(d.resolve(b.name)))
      Files.deleteIfExists(d)
    }, "graft-mr-corpus"))
    d
  }

  def glob: String = dir.resolve("pg-*.txt").toString
  def files: Seq[Path] = books.map(b => dir.resolve(b.name))

  def totalWords: Long = books.map(_.words.size.toLong).sum

  /** wc's sorted `"word count"` lines, from the record. */
  lazy val wcLines: Seq[String] =
    books.flatMap(_.words).groupBy(identity).toSeq
      .map { case (w, ws) => s"$w ${ws.size}" }.sorted

  /** indexer's sorted `"word n doc1,doc2,..."` lines, from the record, with
    * each file named by `doc`.
    */
  def indexerLines(doc: Path => String): Seq[String] =
    books.flatMap(b => b.words.distinct.map(_ -> doc(dir.resolve(b.name))))
      .groupBy(_._1).toSeq
      .map { case (w, ds) =>
        val docs = ds.map(_._2).sorted
        s"$w ${docs.size} ${docs.mkString(",")}"
      }.sorted

  /** The reference's Project Gutenberg books, in the reference checkout
    * beside this repo. Checks pinned to those books run only where they are.
    */
  val gutenbergGlob: String =
    Paths.get("..", "reference", "src", "main", "pg-*.txt").toAbsolutePath.normalize.toString

  lazy val gutenbergPresent: Boolean =
    Files.isDirectory(Paths.get(gutenbergGlob).getParent) &&
      MapReduce.globPaths(gutenbergGlob).nonEmpty
}
