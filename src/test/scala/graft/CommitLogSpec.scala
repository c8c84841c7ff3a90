package graft

import graft.build.{IndexBuild, Manifest}
import graft.build.Manifest.{Entry, Record}
import graft.maint.Maintenance
import graft.query.Search
import graft.sources.WebCorpus
import java.nio.file.{Files, Paths}

/** The commit log fails fast, naming the path, on an index it cannot
  * read: one written before the log existed, one with a corrupt record, or
  * one an older writer's update left unfinished.
  */
class CommitLogSpec extends SparkSuite {

  private val cfg = IndexBuild.Config(nBuckets = 2, nRanges = 2, docParts = 2,
    shufflePartitions = 2)

  test("an index in the older format (docstats.json, no _graft_log) fails naming the path") {
    for (legacy <- Seq("docstats.json", "manifest.jsonl")) {
      val dir = tmpDir("log-old")
      val p = Paths.get(dir, legacy)
      Files.write(p, "{}".getBytes("UTF-8"))
      val e = intercept[IllegalStateException](Manifest.exists(dir))
      assert(e.getMessage.contains(p.toString), e.getMessage)
      val e2 = intercept[IllegalStateException](
        IndexBuild.build(spark, WebCorpus.readmeCorpus(spark), dir, cfg))
      assert(e2.getMessage.contains(p.toString), e2.getMessage)
    }
  }

  test("a commit record that does not parse fails naming the record") {
    val dir = tmpDir("log-corrupt")
    IndexBuild.build(spark, WebCorpus.readmeCorpus(spark), dir, cfg)
    assert(Manifest.exists(dir))
    val log = Paths.get(dir, "_graft_log")
    val last = {
      val s = Files.list(log)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".json")).maxBy(_.getFileName.toString)
      finally s.close()
    }
    Files.write(last, """{"stage":"dictionary","unit":""".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](new Search(spark, dir))
    assert(e.getMessage.contains(last.toString), e.getMessage)
    val e2 = intercept[IllegalStateException](Manifest.exists(dir))
    assert(e2.getMessage.contains(last.toString), e2.getMessage)
  }

  test("an update an older writer left unfinished fails naming the index; a finished one is inert") {
    // the older writer reserved an update's ids in an upd_stats record and
    // committed its docs rows last, in an upd_docs record of the same unit
    val dir = tmpDir("log-older-update")
    val docs = WebCorpus.readmeCorpus(spark)
    IndexBuild.build(spark, docs, dir, cfg)
    Manifest.commit(dir, Record(Some(Entry("upd_stats", "5f3a_2", 2L, 0L, "", 0L))))
    val e = intercept[IllegalStateException](Maintenance.update(spark, dir, docs, cfg))
    assert(e.getMessage.contains(dir), e.getMessage)
    Manifest.commit(dir, Record(Some(Entry("upd_docs", "5f3a_2", 2L, 0L, "", 0L))))
    assert(Maintenance.update(spark, dir, docs, cfg) == ((0L, 0L, 0L)))
  }
}
