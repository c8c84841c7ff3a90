package graft

import graft.build.IndexBuild
import graft.core.Gram
import graft.maint.Maintenance
import graft.sources.WebCorpus
import org.apache.spark.sql.functions._

/** Byte-identity pin for everything the posting writers emit. A fixed
  * corpus is built, then one changelog `update` and one `addChunk` run on
  * it; after each step the digests of both posting tables (every
  * (bucket, key, range_id) segment: its metadata and an md5 of its bytes)
  * and of both dictionaries ([[IndexDigests]]) must equal constants
  * recorded from an earlier, independently written version of the writers. [[TransposedBuildSpec]]
  * compares two builds of the SAME code, so a rewrite that changed the
  * bytes of both alike would pass it; this spec would not.
  */
class GoldenSegmentsSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 2,
    shufflePartitions = 13)

  // (term segments, gram segments, term dictionary, gram dictionary)
  private val Golden: Map[String, Seq[String]] = Map(
    "build" -> Seq("3259:b19229f0610fa6c3b127fbba12b2eb60",
      "4730:4b1e6deb3f5046f77261baeb5eb43c9e",
      "1580:4c518e9fbc606fe39b30592baa1a34fc",
      "1542:b26ff869dec4c7bfd849194dc417d66d"),
    "update" -> Seq("3399:4bfa1c99c48a505bbc93bee832c801fb",
      "5244:d492ed0d709905905c1d2b146c6b23e9",
      "1588:7e221b7ffdf9766645f01b8d0264592c",
      "1577:2c2aba471c3d93abd198879d45cb4541"),
    "addChunk" -> Seq("3402:bfb718f75a2bf76acda8fee7c34750f6",
      "5254:3459aaa8c5a2971b00a89df248ccf186",
      "1589:213922c5a835da092e248d9b44ea99a1",
      "1577:8c5ef2a0def63a06bdf6e7645fc6c5a1"))

  private def check(step: String, dir: String): Unit = {
    val got = IndexDigests(spark, dir)
    assert(got == Golden(step), s"$step digests changed: ${got.mkString(", ")}")
  }

  test("build, update and addChunk write the recorded segment and dictionary bytes") {
    val dir = tmpDir("golden")
    val docs = WebCorpus.generate(spark, 200, seed = 11L, partitions = 4).cache()
    IndexBuild.build(spark, docs, dir, cfg)
    check("build", dir)

    // changelog batch: five changed pages (a new line appended, newer
    // timestamp) and one new page
    val changed = docs.orderBy($"url").limit(5)
      .withColumn("text", concat($"text", lit("quagga wallaby the zebra\n")))
      .withColumn("warc_ts", lit("2023-01-01 00:00:00").cast("timestamp"))
    val added = Seq(("https://golden.example/new",
      "the okapi and the quagga\nsecond line of the new page\n"))
      .toDF("url", "text")
      .select($"url", lit("2023-01-02 00:00:00").cast("timestamp").as("warc_ts"),
        lit(Array.emptyByteArray).as("html"), $"text", lit("en").as("lang"))
    val batch = changed.select(docs.columns.map(col).toIndexedSeq: _*)
      .unionByName(added.select(docs.columns.map(col).toIndexedSeq: _*))
    assert(Maintenance.update(spark, dir, batch, cfg, partialSnapshot = true) ==
      (1L, 5L, 0L))
    check("update", dir)

    Maintenance.addChunk(spark, dir, "https://golden.example/new",
      "okapi payload the", Gram.gramsSorted(partial = false, Seq("zebra okapi")).toSeq,
      java.sql.Timestamp.valueOf("2023-01-03 00:00:00"), cfg)
    check("addChunk", dir)
  }
}
