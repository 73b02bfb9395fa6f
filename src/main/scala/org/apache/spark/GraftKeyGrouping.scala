package org.apache.spark

import java.io.{BufferedInputStream, File, FileInputStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.ShuffleWriteMetrics
import org.apache.spark.internal.config.SHUFFLE_FILE_BUFFER_SIZE
import org.apache.spark.serializer.DeserializationStream
import org.apache.spark.storage.BlockId
import org.apache.spark.util.collection.Spillable

import graft.engine.KeyValuesSerializer

/** The reduce side of `graft.engine.MapReduce.run`: a partition's shuffled
  * `(key, values)` records, one per key and map call, grouped by key into
  * the list of their value arrays.
  *
  * The groups live in a `java.util.HashMap`. Their size is counted as each
  * record arrives, from its char counts plus a fixed overhead per object,
  * so the heap is never walked. Spark's memory manager decides when that
  * count has outgrown the task's grant (or
  * `spark.shuffle.spill.numElementsForceSpillThreshold` records have
  * arrived): the map is then written to a block-manager temp file as one
  * run sorted by key, in [[KeyValuesSerializer]]'s record format, and
  * started afresh. Iteration merges the runs and what is left in memory by
  * key, so each key comes out once with its arrays from every run.
  *
  * Spilled bytes go to the task's metrics, and the run files are deleted
  * when the task completes. It lives in `org.apache.spark` because
  * `Spillable` is `private[spark]`.
  */
private[spark] final class GraftKeyGrouping(context: TaskContext)
    extends Spillable[java.util.HashMap[String, List[Array[String]]]](
      context.taskMemoryManager()) {
  import GraftKeyGrouping._

  private val blockManager = SparkEnv.get.blockManager
  private val bufferBytes = SparkEnv.get.conf.get(SHUFFLE_FILE_BUFFER_SIZE).toInt * 1024
  private val ser = KeyValuesSerializer.newInstance()
  private var groups = new java.util.HashMap[String, List[Array[String]]]
  /** The estimated heap size of `groups`. */
  private var bytes = 0L
  private val runs = ArrayBuffer[(BlockId, File)]()
  private val readers = ArrayBuffer[DeserializationStream]()
  private var diskBytes = 0L

  context.addTaskCompletionListener[Unit] { _ =>
    readers.foreach(_.close())
    runs.foreach(_._2.delete())
    releaseMemory()
  }

  def insertAll(records: Iterator[Product2[String, Array[String]]]): Unit = {
    while (records.hasNext) {
      val r = records.next()
      val key = r._1
      val values = r._2
      if (groups.put(key, values :: groups.getOrDefault(key, Nil)) == null)
        bytes += EntryBytes + stringBytes(key)
      bytes +=CellBytes + ArrayBytes + RefBytes * values.length
      var i = 0
      while (i < values.length) { bytes += stringBytes(values(i)); i += 1 }
      addElementsRead()
      if (maybeSpill(groups, bytes)) {
        groups = new java.util.HashMap
        bytes = 0
      }
    }
    context.taskMetrics().incMemoryBytesSpilled(memoryBytesSpilled)
    context.taskMetrics().incDiskBytesSpilled(diskBytes)
  }

  /** Each key once, with its arrays: straight from the map when nothing
    * spilled, else merged by key across the runs and the map.
    */
  def iterator: Iterator[(String, List[Array[String]])] =
    if (runs.isEmpty) groups.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
    else merge(runs.map { case (id, file) => read(id, file) }.toSeq :+ sorted(groups))

  override protected def spill(map: java.util.HashMap[String, List[Array[String]]]): Unit = {
    val (blockId, file) = blockManager.diskBlockManager.createTempLocalBlock()
    runs += ((blockId, file))
    val writer = blockManager.getDiskWriter(blockId, file, ser, bufferBytes,
      new ShuffleWriteMetrics)
    try {
      sorted(map).foreach { case (k, vs) => writer.write(k, vs) }
      diskBytes += writer.commitAndGet().length
    } finally writer.close()
  }

  /** A reduce task holds no other memory consumer, so a spill asked for by
    * one is declined.
    */
  override protected def forceSpill(): Boolean = false

  /** One run file's records, in the order they were written. */
  private def read(blockId: BlockId, file: File): Iterator[(String, Array[String])] = {
    val in = ser.deserializeStream(blockManager.serializerManager.wrapStream(
      blockId, new BufferedInputStream(new FileInputStream(file), bufferBytes)))
    readers += in
    in.asKeyValueIterator.asInstanceOf[Iterator[(String, Array[String])]]
  }
}

object GraftKeyGrouping {
  // Heap bytes counted per object, for 64-bit JVMs with compressed
  // references: a string is 40 bytes of headers, fields and alignment plus
  // up to two bytes per char; a map entry with its table slot, a list cell,
  // an array header and an array slot.
  private final val StringBytes = 40L
  private final val EntryBytes = 48L
  private final val CellBytes = 24L
  private final val ArrayBytes = 16L
  private final val RefBytes = 4L

  private def stringBytes(s: String): Long = StringBytes + 2L * s.length

  /** Groups the records of the running task's partition by key. */
  def group(records: Iterator[Product2[String, Array[String]]])
      : Iterator[(String, List[Array[String]])] = {
    val grouping = new GraftKeyGrouping(TaskContext.get())
    grouping.insertAll(records)
    grouping.iterator
  }

  /** A map's records in key order: one per array, a key's arrays together. */
  private def sorted(map: java.util.HashMap[String, List[Array[String]]])
      : Iterator[(String, Array[String])] = {
    val keys = map.keySet.toArray(new Array[String](map.size))
    keys.sortInPlace()
    keys.iterator.flatMap(k => map.get(k).iterator.map(vs => (k, vs)))
  }

  /** Merges runs that are each sorted by key, with a key's records together
    * in each run, into one `(key, arrays)` group per key.
    */
  private def merge(runs: Seq[Iterator[(String, Array[String])]])
      : Iterator[(String, List[Array[String]])] = {
    val heads = new java.util.PriorityQueue[BufferedIterator[(String, Array[String])]](
      runs.size, (a, b) => a.head._1.compareTo(b.head._1))
    runs.map(_.buffered).filter(_.hasNext).foreach(heads.add)
    new Iterator[(String, List[Array[String]])] {
      def hasNext: Boolean = !heads.isEmpty
      def next(): (String, List[Array[String]]) = {
        val key = heads.peek.head._1
        var lists = List.empty[Array[String]]
        while (!heads.isEmpty && heads.peek.head._1 == key) {
          val run = heads.poll()
          while (run.hasNext && run.head._1 == key) lists = run.next()._2 :: lists
          if (run.hasNext) heads.add(run)
        }
        (key, lists)
      }
    }
  }
}
