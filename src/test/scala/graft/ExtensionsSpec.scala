package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Fnv1a
import graft.functions.GraftExtensions

/** The extensions-registered SQL surface of the native expressions. */
class ExtensionsSpec extends AnyFunSuite {

  test("fnv1a32, arr_dot, rolling_hash31, md5_lanes, cdc_cuts callable from SQL via GraftExtensions") {
    // Extensions bind at session build; getOrCreate would return the shared
    // test session without them. Clear the default/active session so the
    // recipe constructs a fresh one (reusing the shared test session's
    // SparkContext, built first so this suite never sets its master), then
    // restore the shared session for later suites.
    val prior = SparkTestBase.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = Sessions.local("graft-extensions",
        "spark.sql.extensions" -> classOf[GraftExtensions].getName)
      // The recipe's session settings hold on the fresh session too.
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.shuffle.partitions") ==
        Sessions.cpus.toString)
      val hash = spark.sql("SELECT fnv1a32('foobar')").collect().head.getLong(0)
      assert(hash == Fnv1a.hash32("foobar"))
      val dot = spark.sql(
        "SELECT arr_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .collect().head.getDouble(0)
      assert(dot == 11.0)
      val rh = spark.sql("SELECT rolling_hash31('abc')")
        .collect().head.getLong(0)
      // ((0*31+97)*31+98)*31+99 masked to 31 bits.
      assert(rh == (((97L * 31 + 98) * 31 + 99) & 0x7FFFFFFFL))
      val lanes = spark.sql("SELECT md5_lanes('abc', 0, 1)")
        .collect().head.getSeq[Long](0)
      val ref = spark.sql(
        """SELECT conv(substring(md5('0:abc'), 1, 8), 16, 10),
                  conv(substring(md5('0:abc'), 9, 8), 16, 10)""")
        .collect().head
      assert(lanes.length == 4)
      assert(lanes(0) == ref.getString(0).toLong)
      assert(lanes(1) == ref.getString(1).toLong)
      val text = "the quick brown fox jumps over the lazy dog again " * 4
      val cuts = spark.sql(s"SELECT cdc_cuts('$text', 8, 5)")
        .collect().head.getSeq[Long](0)
      assert(cuts == graft.functions.CdcCuts.cuts(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 8, 5)
        .toLongArray().toSeq)
      assert(cuts.nonEmpty && cuts.forall(c => c >= 8 && c <= text.length))
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("Md5Lanes lanes equal the hex/conv reference formulation") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestBase.spark
    import spark.implicits._
    // Multi-byte UTF-8 and the empty string are the cases where a byte-level
    // digest could diverge from the hex-string path.
    val df = Seq("hello world", "héllo wörld", "日本語テキスト", "", "a")
      .toDF("s")
    val lanes = graft.functions.Md5Lanes(col("s"), 0, 4)
    val refs = (0 until 16).map { i =>
      val (seed, lane) = (i / 4, i % 4)
      conv(substring(md5(concat(lit(seed + ":"), col("s"))),
        1 + 8 * lane, 8), 16, 10).cast("long").as(s"r$i")
    }
    val rows = df.select((lanes.as("l") +: refs): _*).collect()
    rows.foreach { r =>
      val got = r.getSeq[Long](0)
      val want = (0 until 16).map(i => r.getLong(1 + i))
      assert(got == want, s"native lanes $got != hex/conv $want")
    }
  }
}
