package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppRegistry
import graft.engine.MapReduce

/** The reference's golden differential methodology (src/main/test-mr.sh:
  * 80-111): run each portable app distributed, compare the globally sorted
  * `"key value"` lines against the independent single-process sequential
  * oracle over the same corpus — the generated [[MrCorpus]], a stand-in for
  * the reference's Project Gutenberg books.
  */
class MapReduceGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def glob = MrCorpus.glob

  private def distributedSorted(app: String, nReduce: Int): Seq[String] =
    MapReduce.run(spark, AppRegistry(app), glob, nReduce)
      .map { case (k, v) => s"$k $v" }
      .collect().toSeq.sorted

  private def sequentialSorted(app: String, in: String = glob): Seq[String] =
    MapReduce.runSequential(AppRegistry(app), MapReduce.globPaths(in)).sorted

  for (app <- Seq("wc", "indexer", "collector", "filecount")) {
    test(s"$app: distributed matches sequential oracle (nReduce=10)") {
      val got = distributedSorted(app, nReduce = 10)
      val want = sequentialSorted(app)
      assert(got.size == want.size, s"row count ${got.size} != ${want.size}")
      assert(got == want)
    }
  }

  test("wc: result invariant to reduce partition count (3 vs 10)") {
    assert(distributedSorted("wc", 3) == distributedSorted("wc", 10))
  }

  test("wc: splittable runLines equals whole-file run on the pg corpus") {
    // wc's map distributes over lines (newline is a token separator).
    // indexer does NOT (its map-side `.distinct` is per-DOCUMENT);
    // collector/filecount need whole-file context — all three stay on the
    // faithful whole-file path.
    val viaLines = MapReduce.runLines(spark, AppRegistry("wc"), glob, 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    assert(viaLines == distributedSorted("wc", 10))
  }

  test("wc: algebraic combiner path (runAlgebraic) equals groupByKey path") {
    // wc's reduce is a count => combinable as integer addition.
    val viaCombiner = MapReduce
      .runAlgebraic(spark, AppRegistry("wc"), glob,
        (a, b) => (a.toLong + b.toLong).toString, nReduce = 10)
      .map { case (k, v) => s"$k $v" }.collect().toSeq.sorted
    assert(viaCombiner == distributedSorted("wc", 10))
  }

  test("wc: known corpus total word count") {
    // Lock the exact tokenizer-dependent sum: the generator's word count.
    val total = MapReduce.run(spark, AppRegistry("wc"), glob, 10)
      .map(_._2.toLong).sum().toLong
    assert(total == MrCorpus.totalWords, s"total $total != ${MrCorpus.totalWords}")
    if (MrCorpus.gutenbergPresent) {
      // ~608,645 words per BASELINE.md.
      val pg = MapReduce.run(spark, AppRegistry("wc"), MrCorpus.gutenbergGlob, 10)
        .map(_._2.toLong).sum()
      assert(pg > 500000 && pg < 700000, s"suspicious total $pg")
    }
  }

  /** Committed golden digests — guard BOTH implementations drifting
    * together. On the generated corpus the sequential output must equal the
    * lines built from the generator's record of the words it wrote, and the
    * digests pin those record-built lines (indexer docs by file name), so a
    * drift in the generator fails here too. On the Gutenberg books the
    * sorted-output md5s were locked when distributed and sequential first
    * byte-matched.
    */
  test("golden digests: wc and indexer sorted output md5") {
    def md5(lines: Seq[String]): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.update(lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.digest().map("%02x".format(_)).mkString
    }
    assert(sequentialSorted("wc") == MrCorpus.wcLines)
    assert(sequentialSorted("indexer") == MrCorpus.indexerLines(_.toString))
    assert(md5(MrCorpus.wcLines) == "720c12d756938d878b9343c517c6573a")
    assert(md5(MrCorpus.indexerLines(_.getFileName.toString)) == "ae16dc0ae56ed27535f6fd8fb8f9f33a")
    if (MrCorpus.gutenbergPresent) {
      val pg = MrCorpus.gutenbergGlob
      assert(md5(sequentialSorted("wc", pg)) == "cac7f68803d98a28eb877afad90e8cc3")
      assert(md5(sequentialSorted("indexer", pg)) == "5acee18b1101e5f2efa76c61ba82f020")
    }
  }
}
