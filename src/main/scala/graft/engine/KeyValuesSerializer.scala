package graft.engine

import java.io.{EOFException, InputStream, OutputStream, StreamCorruptedException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.reflect.ClassTag

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}

/** The record format of [[MapReduce.run]]'s shuffle: a `String` key and an
  * `Array[String]` of values, written as plain length-prefixed strings, as
  * the reference writes plain `KeyValue` lines to its intermediate files
  * (src/mr/worker.go:121-132). The record type is fixed, so nothing is
  * written or looked up per record to name a class, and there is no
  * reference table to reset.
  *
  * A string is its char count as a varint, then each UTF-16 char in one to
  * three bytes (the shape of `DataOutput.writeUTF`, without its 64 KiB
  * cap), so every Java `String` round-trips: the empty string and unpaired
  * surrogates included. A value list is its length as a varint, then its
  * strings. A stream ends at a record boundary; one cut inside a record is
  * an error, not a short read.
  *
  * Only the key-value calls a shuffle makes are supported.
  */
object KeyValuesSerializer extends Serializer with Serializable {
  private final val BufferBytes = 8192

  def newInstance(): SerializerInstance = new SerializerInstance {
    def serializeStream(s: OutputStream): SerializationStream = new Writer(s)
    def deserializeStream(s: InputStream): DeserializationStream = new Reader(s)
    def serialize[T: ClassTag](t: T): ByteBuffer = unsupported
    def deserialize[T: ClassTag](bytes: ByteBuffer): T = unsupported
    def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T = unsupported
  }

  private def unsupported: Nothing = throw new UnsupportedOperationException(
    "KeyValuesSerializer writes and reads (String, Array[String]) records only")

  private final class Writer(out: OutputStream) extends SerializationStream {
    private val buf = new Array[Byte](BufferBytes)
    private var pos = 0

    override def writeKey[T: ClassTag](key: T): SerializationStream = {
      string(key.asInstanceOf[String])
      this
    }

    override def writeValue[T: ClassTag](value: T): SerializationStream = {
      val vs = value.asInstanceOf[Array[String]]
      varint(vs.length)
      var i = 0
      while (i < vs.length) { string(vs(i)); i += 1 }
      this
    }

    def writeObject[T: ClassTag](t: T): SerializationStream = unsupported

    def flush(): Unit = { drain(); out.flush() }

    def close(): Unit = { drain(); out.close() }

    private def drain(): Unit = if (pos > 0) { out.write(buf, 0, pos); pos = 0 }

    private def varint(v: Int): Unit = {
      if (pos + 5 > buf.length) drain()
      var x = v
      while ((x & ~0x7f) != 0) {
        buf(pos) = ((x & 0x7f) | 0x80).toByte
        pos += 1
        x >>>= 7
      }
      buf(pos) = x.toByte
      pos += 1
    }

    private def string(s: String): Unit = {
      varint(s.length)
      var i = 0
      while (i < s.length) {
        if (pos + 3 > buf.length) drain()
        val c = s.charAt(i)
        if (c < 0x80) {
          buf(pos) = c.toByte
          pos += 1
        } else if (c < 0x800) {
          buf(pos) = (0xc0 | c >> 6).toByte
          buf(pos + 1) = (0x80 | c & 0x3f).toByte
          pos += 2
        } else {
          buf(pos) = (0xe0 | c >> 12).toByte
          buf(pos + 1) = (0x80 | c >> 6 & 0x3f).toByte
          buf(pos + 2) = (0x80 | c & 0x3f).toByte
          pos += 3
        }
        i += 1
      }
    }
  }

  private final class Reader(in: InputStream) extends DeserializationStream {
    private val buf = new Array[Byte](BufferBytes)
    private var pos = 0
    private var lim = 0

    /** Throws `EOFException`, which ends `asKeyValueIterator`, only at a
      * record boundary.
      */
    override def readKey[T: ClassTag](): T = {
      if (pos == lim && !fill()) throw new EOFException
      string().asInstanceOf[T]
    }

    override def readValue[T: ClassTag](): T = {
      val vs = new Array[String](varint())
      var i = 0
      while (i < vs.length) { vs(i) = string(); i += 1 }
      vs.asInstanceOf[T]
    }

    def readObject[T: ClassTag](): T = unsupported

    def close(): Unit = in.close()

    /** Refills the buffer once every byte in it is read; false at the end
      * of the stream.
      */
    private def fill(): Boolean = {
      pos = 0
      lim = math.max(in.read(buf), 0)
      lim > 0
    }

    private def byte(): Int = {
      if (pos == lim && !fill())
        throw new StreamCorruptedException("shuffle record cut off at end of stream")
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    private def varint(): Int = {
      var v = 0
      var shift = 0
      var b = 0
      while ({ b = byte(); v |= (b & 0x7f) << shift; shift += 7; (b & 0x80) != 0 }) ()
      v
    }

    private def string(): String = {
      val n = varint()
      if (n <= lim - pos && ascii(n)) {
        val s = new String(buf, pos, n, ISO_8859_1)
        pos += n
        s
      } else {
        val cs = new Array[Char](n)
        var i = 0
        while (i < n) {
          val b = byte()
          cs(i) = (if (b < 0x80) b
            else if (b < 0xe0) (b & 0x1f) << 6 | byte() & 0x3f
            else (b & 0x0f) << 12 | (byte() & 0x3f) << 6 | byte() & 0x3f).toChar
          i += 1
        }
        new String(cs)
      }
    }

    /** Whether the next `n` buffered bytes are each one ASCII char. */
    private def ascii(n: Int): Boolean = {
      var i = pos
      while (i < pos + n && buf(i) >= 0) i += 1
      i == pos + n
    }
  }
}
