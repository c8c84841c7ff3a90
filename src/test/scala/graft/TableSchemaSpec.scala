package graft

import graft.build.{IndexBuild, Manifest}
import graft.maint.Maintenance
import graft.sources.WebCorpus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The declared schema of every engine-owned table (what
  * [[IndexBuild.readTable]] reads with) must equal what the writers
  * produce, through a build and every maintenance writer.
  */
class TableSchemaSpec extends SparkSuite {
  import spark.implicits._

  // merge after every append, so the update below rewrites spliced segments
  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4, autoMergeSegments = 1)

  private def cols(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Declared schema == the schema inferred from every file of the table. */
  private def check(dir: String, after: String)(tables: IndexBuild.Table*): Unit =
    tables.foreach { t =>
      val written = spark.read.option("mergeSchema", "true").parquet(t.path(dir)).schema
      assert(cols(t.schema) == cols(written), s"${t.name} after $after")
    }

  private val derived = Seq(IndexBuild.DocsTable, IndexBuild.TermPostingsTable,
    IndexBuild.GramPostingsTable, IndexBuild.DictTable, IndexBuild.GramDictTable)

  test("declared table schemas match the writers' output after build and maintenance") {
    val dir = tmpDir("schema-idx")
    val base = WebCorpus.generate(spark, 60, seed = 44L, partitions = 2).cache()
    IndexBuild.build(spark, base, dir, cfg)
    check(dir, "build")(derived: _*)

    // a changed doc whose 'the' shares a (key, range) with built segments
    val changedUrl = base.select("url").orderBy("url").as[String].head()
    val newDocs = base
      .withColumn("text", when($"url" === changedUrl,
        lit("the unique quagga sentence\n")).otherwise($"text"))
      .withColumn("warc_ts", when($"url" === changedUrl,
        lit("2022-01-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
    assert(Maintenance.update(spark, dir, newDocs, cfg) == (0L, 1L, 0L))
    assert(Manifest.entries(dir).exists(l =>
      l.contains("\"stage\":\"seg_merge\"") && !l.contains("\"rows\":0,")),
      "expected the update to splice segments")
    check(dir, "update")(derived :+ Maintenance.TombstonesTable: _*)

    Maintenance.addChunk(spark, dir, changedUrl, "okapi payload", Seq(1, 2, 3),
      java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), cfg)
    check(dir, "addChunk")(derived: _*)

    Maintenance.delete(spark, dir, Seq(base.select("url").orderBy(desc("url")).as[String].head()))
    Maintenance.emptyGroups(spark, dir, Seq("https://empty.example/"))
    check(dir, "delete")(Maintenance.TombstonesTable, Maintenance.EmptyGroupsTable)

    Maintenance.compact(spark, dir, cfg)
    check(dir, "compact")(derived: _*)
  }
}
