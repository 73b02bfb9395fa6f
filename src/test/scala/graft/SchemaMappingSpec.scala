package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.MaterializedDf
import graft.sources.Snapshots

/** Column mapping on the snapshot table — Iceberg-style stable field ids
  * with a per-version name mapping. The laws:
  *  - renameColumn is METADATA-ONLY (file list unchanged) and the
  *    column's DATA SURVIVES under the new name (reads resolve files by
  *    the frozen physical name and alias to the version's logical name);
  *  - time travel reads each version's OWN names;
  *  - an append still carrying the old name fails the schema gate loudly;
  *  - dropColumn hides the column from this and later versions; re-adding
  *    the same LOGICAL name yields a fresh column (all nulls where no
  *    write supplied values) — the dropped bytes never resurrect;
  *  - a bloom index follows its column through a rename; stats pruning
  *    keeps skipping on the renamed column;
  *  - the change feed binds to the END version's logical names across a
  *    rename;
  *  - renaming/dropping a CHECK-constrained column is refused.
  */
class SchemaMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  private def mfiles(table: String, v: Int): Seq[String] =
    "g[0-9a-f]{8}-part\\d{5}\\.parquet".r.findAllIn(Files.readString(
      java.nio.file.Paths.get(table, "_manifests", f"v$v%05d.json")))
      .toSeq.sorted

  test("rename is metadata-only, data survives, time travel keeps old " +
      "names, appends under the old name fail loudly") {
    val table = TestDirs.create("graft_map1").toString
    Snapshots.publish(docs.repartitionByRange(4, col("doc_id")), table) // v1
    val before = docs.collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    Snapshots.renameColumn(table, "n_chars", "char_count")              // v2
    assert(mfiles(table, 1) == mfiles(table, 2),
      "rename must not touch the file list")

    // Data survives under the new logical name, byte-for-byte.
    val after = Snapshots.read(spark, table)
      .select(col("doc_id"), col("lang"), col("char_count")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(after == before, "renamed column lost/changed its data")

    // Time travel: v1 still reads the OLD name; the new name is absent.
    val v1cols = Snapshots.read(spark, table, Some(1)).columns.toSet
    assert(v1cols == Set("doc_id", "lang", "n_chars"))
    assert(Snapshots.read(spark, table).columns.toSet ==
      Set("doc_id", "lang", "char_count"))

    // Appends must speak the CURRENT schema: the old name is now an
    // unknown extra column and the renamed one is missing — loud.
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(docs.limit(5), table)
    }
    assert(e.getMessage.contains("char_count"))

    // An append under the new name lands values in the renamed column.
    Snapshots.append(docs.limit(5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        (col("n_chars") + 7L).as("char_count")), table)                 // v3
    val appended = Snapshots.read(spark, table)
      .filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), col("char_count")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(appended == before.toSeq.sortBy(_._1).take(5)
      .map { case (d, (_, n)) => (d + 1000000L) -> (n + 7L) }.toMap)

    // Copy-on-write paths traverse the mapping too: a delete rewrites
    // touched files (physical names) and the survivors stay readable.
    Snapshots.deleteWhere(spark, table, col("char_count") < 100L)       // v4
    assert(Snapshots.read(spark, table).filter(col("char_count") < 100L)
      .mcount() == 0)
    assert(Snapshots.read(spark, table, Some(2))
      .filter(col("char_count") < 100L).mcount() ==
      docs.filter(col("n_chars") < 100L).mcount())
  }

  test("drop hides the column; re-adding the logical name never " +
      "resurrects dropped bytes; the last column cannot be dropped") {
    val table = TestDirs.create("graft_map2").toString
    Snapshots.publish(docs.repartition(3), table)                       // v1
    Snapshots.dropColumn(table, "lang")                                 // v2
    assert(mfiles(table, 1) == mfiles(table, 2), "drop must move no data")
    assert(Snapshots.read(spark, table).columns.toSet ==
      Set("doc_id", "n_chars"))
    // Time travel still sees it (the bytes are retained, just unmapped).
    assert(Snapshots.read(spark, table, Some(1)).columns.contains("lang"))

    // Re-add the SAME logical name: a fresh field id and physical name —
    // the old 'lang' bytes in v1's files must NOT reappear.
    Snapshots.addColumns(spark, table,
      StructField("lang", org.apache.spark.sql.types.StringType))       // v3
    assert(Snapshots.read(spark, table).filter(col("lang").isNotNull)
      .mcount() == 0, "dropped column's data resurrected under a reused name")

    // New writes supply values for the reborn column as usual.
    Snapshots.append(docs.limit(3).select(
      (col("doc_id") + 500000L).as("doc_id"), col("n_chars"),
      lit("zz").as("lang")), table)                                     // v4
    assert(Snapshots.read(spark, table)
      .filter(col("lang") === "zz").mcount() == 3)

    intercept[IllegalArgumentException] {
      val t2 = TestDirs.create("graft_map2b").toString
      Snapshots.publish(docs.select(col("doc_id")), t2)
      Snapshots.dropColumn(t2, "doc_id")
    }
  }

  test("bloom index and stats pruning follow a rename; the change feed " +
      "binds to the end version's names") {
    val table = TestDirs.create("graft_map3").toString
    Snapshots.publish(docs.repartitionByRange(8, col("doc_id")), table) // v1
    Snapshots.addBloomIndex(table, "doc_id")                            // v2
    Snapshots.compact(spark, table, 8, col("doc_id"))                   // v3
    Snapshots.renameColumn(table, "doc_id", "document_id")              // v4

    // The bloom property followed the rename and probes still skip
    // (files carry the frozen physical name; the probe translates).
    assert(Snapshots.bloomColumnsFor(table, 4) == Seq("document_id"))
    val (_, skip) = Snapshots.pruneFilesBloom(table, "document_id", 123L)
    assert(skip.nonEmpty, "bloom probe lost its files after the rename")
    assert(Snapshots.readPoint(spark, table, "document_id", 123L)
      .mcount() == 1)

    // Range pruning on the renamed column still skips files (stats are
    // keyed by physical name; the logical query translates).
    val (keep, skipped) =
      Snapshots.pruneFilesMulti(table, Seq(("document_id", 0L, 10L)))
    assert(skipped.nonEmpty && keep.size < 8,
      "stats pruning stopped skipping after the rename")
    assert(Snapshots.readRange(spark, table, "document_id", 0L, 10L)
      .mcount() == docs.filter(col("doc_id") <= 10L).mcount())

    // Change feed across the rename: every step binds to the END
    // version's logical names, including steps committed BEFORE it.
    Snapshots.append(docs.limit(2).select(
      (col("doc_id") + 700000L).as("document_id"), col("lang"),
      col("n_chars")), table)                                           // v5
    val feed = Snapshots.changesBetween(spark, table, 0, Some(5))
    assert(feed.columns.contains("document_id")
      && !feed.columns.contains("doc_id"))
    assert(feed.filter(col("_commit_version") === 1L).mcount() ==
      docs.mcount())
    assert(feed.filter(col("_commit_version") === 5L)
      .select(col("document_id")).collect().map(_.getLong(0)).toSet ==
      docs.limit(2).collect().map(_.getLong(0) + 700000L).toSet)
  }

  test("files staged AFTER a mapping carry parquet field ids in their own " +
      "footers (cross-engine id resolution); pre-mapping files carry " +
      "none; a mixed table materializes every column") {
    import scala.jdk.CollectionConverters._
    val table = TestDirs.create("graft_map5").toString
    Snapshots.publish(docs.repartition(2), table)                      // v1
    Snapshots.renameColumn(table, "n_chars", "char_count")             // v2
    Snapshots.append(docs.limit(4).select(
      (col("doc_id") + 900000L).as("doc_id"), col("lang"),
      col("n_chars").as("char_count")), table)                         // v3

    def fieldIds(name: String): Map[String, Option[Int]] = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          java.nio.file.Paths.get(table, "data", name).toUri),
        new org.apache.hadoop.conf.Configuration())
      val r = ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally r.close()
    }
    val pre = mfiles(table, 1)
    val post = (mfiles(table, 3).toSet -- pre.toSet).toSeq
    assert(post.nonEmpty, "the append staged no new file")
    // Pre-mapping files have no ids — exactly why the SCAN-side schema
    // must not demand them (the round-9 FAILED_READ_FILE regression).
    pre.foreach(f => assert(fieldIds(f).values.forall(_.isEmpty),
      s"pre-mapping file $f unexpectedly carries field ids"))
    // Post-mapping files carry the stable id on every field, under the
    // FROZEN physical name (the renamed column still writes as n_chars).
    post.foreach { f =>
      val ids = fieldIds(f)
      assert(ids.keySet == Set("doc_id", "lang", "n_chars"),
        s"post-mapping file $f not written under physical names: $ids")
      assert(ids.values.forall(_.nonEmpty),
        s"post-mapping file $f is missing parquet field ids: $ids")
    }
    // Mixed id-ness reads as one table, every column decoded.
    assert(Snapshots.read(spark, table).mcount() == docs.count() + 4)
  }

  test("constraint-referenced columns refuse rename and drop") {
    val table = TestDirs.create("graft_map4").toString
    Snapshots.publish(docs.repartition(2), table)                       // v1
    Snapshots.addConstraint(spark, table, "chars_pos", "n_chars > 0")   // v2
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(table, "n_chars", "len")
    }
    assert(e1.getMessage.contains("chars_pos"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.dropColumn(table, "n_chars")
    }
    assert(e2.getMessage.contains("chars_pos"))
    // Unreferenced columns evolve freely alongside the constraint.
    Snapshots.renameColumn(table, "lang", "language")                   // v3
    assert(Snapshots.read(spark, table).columns.contains("language"))
    // And after dropping the constraint, the rename is allowed.
    Snapshots.dropConstraint(spark, table, "chars_pos")                 // v4
    Snapshots.renameColumn(table, "n_chars", "len")                     // v5
    assert(Snapshots.read(spark, table).select(col("len")).mcount() ==
      docs.mcount())
  }
}
