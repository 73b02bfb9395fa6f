package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, StreamCorruptedException}

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.KeyValuesSerializer

/** The MR shuffle's record format round-trips every `(String,
  * Array[String])` record through the stream calls a shuffle makes, as
  * Kryo does, and a stream ends cleanly only at a record boundary.
  */
class KeyValuesSerializerSpec extends AnyFunSuite {
  private type Rec = (String, Array[String])

  private def write(recs: Seq[Rec]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = KeyValuesSerializer.newInstance().serializeStream(bytes)
    recs.foreach { case (k, vs) => out.writeKey(k).writeValue(vs) }
    out.close()
    bytes.toByteArray
  }

  private def read(bytes: Array[Byte]): Vector[Rec] =
    KeyValuesSerializer.newInstance()
      .deserializeStream(new ByteArrayInputStream(bytes)).asKeyValueIterator
      .map { case (k, vs) => (k.asInstanceOf[String], vs.asInstanceOf[Array[String]]) }
      .toVector

  private def same(a: Seq[Rec], b: Seq[Rec]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((k1, vs1), (k2, vs2)) =>
      k1 == k2 && vs1.sameElements(vs2) }

  /** `s` with every char outside printable ASCII escaped, so that a
    * failing case's lone surrogates can be written to a UTF-8 test report.
    */
  private def printable(s: String): String =
    s.flatMap(c => if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x")

  /** Any char sequence: arbitrary UTF-16 units (unpaired surrogates among
    * them), ASCII, strings made of lone surrogates, and the empty string.
    */
  private val anyString: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    3 -> Gen.asciiPrintableStr,
    3 -> Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString),
    1 -> Gen.listOf(Gen.oneOf('\ud800', '\udbff', '\udc00', '\udfff', 'é', '中'))
      .map(_.mkString))

  private val record: Gen[Rec] = for {
    k <- anyString
    vs <- Gen.frequency(1 -> Gen.const(Array.empty[String]),
      4 -> Gen.listOf(anyString).map(_.toArray))
  } yield (k, vs)

  /** Records every generated stream holds somewhere: an empty key with an
    * empty list, unpaired surrogates, and one value over 64 KiB (the cap
    * of `DataOutput.writeUTF`), longer than the serializer's buffer.
    */
  private val edges: Seq[Rec] = Seq(
    ("", Array.empty[String]),
    ("\ud800", Array("", "\udc00x\ud800", "a\udfff")),
    ("big", Array("x" * 70000, "é" * 40000 + "\udbff")))

  test("any String keys and Array[String] values round-trip, then the reader stops at EOF") {
    val streams = Gen.listOf(record).flatMap(rs =>
      Gen.choose(0, rs.size).map(i => rs.patch(i, edges, 0)))
    val prop = Prop.forAll(streams)(recs => same(read(write(recs)), recs))
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(65840L + SparkTestBase.stressSeed), prop)
    assert(result.passed, printable(result.status.toString.take(2000)))
    assert(read(write(Nil)).isEmpty)
  }

  test("a stream cut inside a record is an error, not a short read") {
    val bytes = write(edges)
    assert(same(read(bytes), edges))
    intercept[StreamCorruptedException](read(bytes.dropRight(1)))
  }
}
