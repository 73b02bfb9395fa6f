package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Compaction, ZOrder}

/** Z-order layout tests: the Morton interleave against a bit-by-bit
  * reference, the census's locality law, and the LAYOUT claim itself —
  * Z-compacted files bound BOTH dimensions' per-file spans, while
  * single-key range compaction leaves the second dimension spanning
  * (nearly) its whole range in every file.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def mortonRef(a: Int, b: Int): Long = {
    var z = 0L
    for (bit <- 0 until 16) {
      z |= ((a >> bit) & 1).toLong << (2 * bit)
      z |= ((b >> bit) & 1).toLong << (2 * bit + 1)
    }
    z
  }

  test("morton2 matches the bit-by-bit reference") {
    import spark.implicits._
    val cases = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (0xAAAA, 0x5555),
      (12345, 54321), (256, 255), (1, 65535)) ++
      (0 until 200).map(i => (i * 331 % 65536, i * 7919 % 65536))
    val got = cases.toDF("a", "b")
      .select(ZOrder.morton2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    cases.zip(got).foreach { case ((a, b), z) =>
      assert(z == mortonRef(a, b), s"morton($a, $b) = $z, want ${mortonRef(a, b)}")
    }
  }

  test("census locality law: every region spans <= 1023 on both dims") {
    val rows = SparkEntry.queries("src_zorder_layout")(spark, dir).collect()
    assert(rows.length > 1)
    rows.foreach { r =>
      val (aSpan, bSpan) = (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      assert(aSpan <= 1023 && bSpan <= 1023,
        s"region ${r.getLong(0)} spans a=$aSpan b=$bSpan (law: <= 1023)")
    }
  }

  test("z-compacted files bound both dims; range compaction does not") {
    val base = TestDirs.create("graft_zorder").toString
    // Same min/max 16-bit normalization as the declared query (driver-side
    // literals are fine in a test).
    val raw = graft.queries.Tables.events(spark, dir)
      .select(col("user_id").as("ua"), col("event_id").as("eb"))
    val m = raw.agg(min(col("ua")), max(col("ua")),
      min(col("eb")), max(col("eb"))).collect().head
    val (ua0, ua1, eb0, eb1) =
      (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
    val e = raw
      .select(
        expr(s"(ua - $ua0) * 65535 div greatest(${ua1 - ua0}, 1)").as("a"),
        expr(s"(eb - $eb0) * 65535 div greatest(${eb1 - eb0}, 1)").as("b"))
      .repartition(16) // worst starting layout
    val full = e.agg(max(col("a")) - min(col("a")),
      max(col("b")) - min(col("b"))).collect().head
    val (fullA, fullB) = (full.getLong(0).toDouble, full.getLong(1).toDouble)

    def fileSpans(path: String): Array[(Double, Double)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
        .map { f =>
          val r = spark.read.parquet(f)
            .agg(max(col("a")) - min(col("a")),
              max(col("b")) - min(col("b"))).collect().head
          (r.getLong(0) / fullA, r.getLong(1) / fullB)
        }

    ZOrder.compactToZ(e, 8, col("a"), col("b"))
      .write.mode("overwrite").parquet(s"$base/z")
    Compaction.write(e, s"$base/range", 8, col("a"))

    val zSpans = fileSpans(s"$base/z")
    assert(zSpans.length == 8)
    // With 8 files over a 32-bit curve, an ALIGNED 3-bit Morton prefix
    // quarters one dim and halves the other — but the range partitioner
    // SAMPLES its split points, so a file straddling a high-order curve
    // boundary legitimately spans (nearly) a full dimension (the tail of
    // one quadrant ends at a=max, the head of the next starts at a=0).
    // The stable guarantee is therefore majority-of-files: at least 6 of
    // 8 files bound BOTH dims below 75% of full range.
    val bounded = zSpans.count { case (sa, sb) => sa <= 0.75 && sb <= 0.75 }
    assert(bounded >= 6,
      s"only $bounded/8 z files bound both dims <= 0.75: " +
        zSpans.map { case (sa, sb) => f"($sa%.2f,$sb%.2f)" }.mkString(" "))
    // The single-key range layout clusters a tightly but leaves b wide
    // open: every file spans >= 90% of b's range.
    val rSpans = fileSpans(s"$base/range")
    rSpans.foreach { case (sa, sb) =>
      assert(sb >= 0.9, s"range-on-a file unexpectedly bounded b at $sb")
    }
    assert(rSpans.map(_._1).max <= 0.3,
      "range-on-a files should cluster a tightly")
    // The file-skipping punchline, stated as the reader sees it: a probe
    // selective on b ONLY (the dimension range layout does not cluster).
    // A footer-min/max reader skips a file iff the file's [min,max] box
    // misses the probe. Range-on-a files all span ~full b -> ZERO skipped;
    // Z files bound b -> at least 2 of 8 skipped, whatever the sampled
    // boundaries did.
    val probe = (0.45, 0.55) // central 10% slice of b, as fraction of full
    def touched(spans: Array[(Double, Double)], mins: Array[Double]): Int =
      spans.zip(mins).count { case ((_, sb), b0) =>
        b0 <= probe._2 && (b0 + sb) >= probe._1
      }
    def fileBMins(path: String): Array[Double] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
        .map { f =>
          spark.read.parquet(f).agg(min(col("b"))).collect().head
            .getLong(0) / fullB
        }
    val zTouched = touched(zSpans, fileBMins(s"$base/z"))
    val rTouched = touched(rSpans, fileBMins(s"$base/range"))
    assert(rTouched == 8, s"range layout should touch all 8 files, got $rTouched")
    assert(zTouched <= 6, s"z layout should skip >= 2 files on a b-only probe, touched $zTouched")
  }
}
