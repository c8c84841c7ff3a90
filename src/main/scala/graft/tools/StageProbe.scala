package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import graft.build.IndexBuild
import graft.sources.WebCorpus

/** Scaling diagnostics: run ONE build stage at a given thread count against
  * a pre-materialized corpus and report per-Spark-stage task metrics
  * (cpu vs wall, GC, spill, shuffle bytes). Used to attribute the 4->16
  * core efficiency of each build stage; not part of the engine.
  *
  * env: PROBE_CPUS (default 16), PROBE_NDOCS (default 2560000),
  *      PROBE_STAGE in chunks|ids|terms|grams|all (default all)
  */
object StageProbe {
  private case class Agg(name: String, var wallMs: Long = 0, var runMs: Long = 0,
                         var cpuMs: Long = 0, var gcMs: Long = 0,
                         var spillMem: Long = 0, var spillDisk: Long = 0,
                         var shufR: Long = 0, var shufW: Long = 0,
                         var tasks: Int = 0)

  /** Pure-JVM ceiling probe: the chunk stage's exact per-doc work
    * (generate + chunk + tokenize + gram-extract) on plain threads, no
    * Spark. Establishes this host's parallel-efficiency ceiling for
    * allocation/bandwidth-heavy work — the number engine scaling is
    * honestly compared against in BENCH.md.
    */
  private def cpuProbe(threads: Int, nDocs: Long): Unit = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val sink = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var acc = 0L
        var i = t.toLong
        while (i < nDocs) {
          val text = WebCorpus.makeText(i, 42L)
          val rows = IndexBuild.chunkDoc(s"https://h/p/$i", null, "en",
            (i % 32).toInt, text, IndexBuild.ChunkMode.Lines)
          rows.foreach(r => acc += r.grams.length + r.terms.length)
          i += threads
        }
        sink.addAndGet(acc)
        cpuNs.addAndGet(mx.getCurrentThreadCpuTime)
      })
      th.start(); th
    }
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"cpuprobe threads=$threads nDocs=$nDocs wall=$wall%.1f s " +
      f"cpu=${cpuNs.get / 1e9}%.1f core-s throughput=${nDocs / wall}%.0f docs/s (sink ${sink.get})")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("PROBE_CPUS", "16").toInt
    val nDocs = sys.env.getOrElse("PROBE_NDOCS", "2560000").toLong
    val which = sys.env.getOrElse("PROBE_STAGE", "all")
    if (which == "cpu") { cpuProbe(cpus, nDocs); return }
    val tmp = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val extraConf = sys.env.getOrElse("PROBE_CONF", "")
      .split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark0 = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"probe-$which-$cpus")
      .config("spark.sql.shuffle.partitions", graft.Bench.FixedShufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/graft-spark-local")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(spark0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stages = scala.collection.mutable.ArrayBuffer.empty[Agg]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val a = Agg(i.name.takeWhile(_ != '\n').take(60))
        a.wallMs = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        a.runMs = m.executorRunTime
        a.cpuMs = m.executorCpuTime / 1000000
        a.gcMs = m.jvmGCTime
        a.spillMem = m.memoryBytesSpilled
        a.spillDisk = m.diskBytesSpilled
        a.shufR = m.shuffleReadMetrics.totalBytesRead
        a.shufW = m.shuffleWriteMetrics.bytesWritten
        a.tasks = i.numTasks
        stages.synchronized { stages += a }
      }
    })

    val corpusDir = s"$tmp/graft_bench_corpus_$nDocs"
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      WebCorpus.generate(spark, nDocs, seed = 42L, partitions = 32)
        .write.mode("overwrite").parquet(corpusDir)
    }
    val dir = s"$tmp/graft_probe_idx_$cpus"
    val cfg = IndexBuild.Config(nBuckets = 16, nRanges = 32, docParts = 32,
      shufflePartitions = graft.Bench.FixedShufflePartitions)
    spark.conf.set("spark.sql.files.maxPartitionBytes", cfg.maxPartitionBytes.toString)
    val corpus = spark.read.parquet(corpusDir)

    def reset(): Unit = stages.synchronized { stages.clear() }
    def report(label: String, sec: Double): Unit = {
      println(f"== $label: $sec%.1f s wall ==")
      println(f"${"spark stage"}%-60s ${"tasks"}%5s ${"wall_s"}%7s ${"run_s"}%7s ${"cpu_s"}%7s ${"gc_s"}%6s ${"spillG"}%7s ${"shufR_G"}%8s ${"shufW_G"}%8s")
      stages.synchronized {
        stages.foreach { a =>
          println(f"${a.name}%-60s ${a.tasks}%5d ${a.wallMs / 1e3}%7.1f ${a.runMs / 1e3}%7.1f ${a.cpuMs / 1e3}%7.1f ${a.gcMs / 1e3}%6.1f ${(a.spillMem + a.spillDisk) / 1e9}%7.2f ${a.shufR / 1e9}%8.2f ${a.shufW / 1e9}%8.2f")
        }
      }
      reset()
    }
    def timed(label: String, run: Boolean)(f: => Unit): Unit = if (run) {
      reset()
      val t0 = System.nanoTime()
      f
      report(label, (System.nanoTime() - t0) / 1e9)
    }

    val all = which == "all"
    if (all || which == "chunks")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    else {
      // re-run just the requested stage: one reset record drops its entries
      // (prerequisites stay complete and are skipped by resume)
      val stagesToDrop = which match {
        case "ids" => Seq("ids", "postings_terms", "postings_grams", "dictionary", "cleanup")
        case "terms" => Seq("postings_terms", "dictionary", "cleanup")
        case "grams" => Seq("postings_grams", "dictionary", "cleanup")
        case _ => Seq.empty[String]
      }
      graft.build.Manifest.commit(dir, graft.build.Manifest.Record(None, resets = stagesToDrop))
    }
    val log = graft.build.Manifest.open(dir)
    timed(s"chunks@$cpus", all || which == "chunks") {
      IndexBuild.stageChunks(spark, corpus, dir, cfg, log)
    }
    if (!(all || which == "chunks")) IndexBuild.stageChunks(spark, corpus, dir, cfg, log)
    var stats: IndexBuild.DocStats = null
    timed(s"ids@$cpus", all || which == "ids" || which == "terms" || which == "grams") {
      stats = IndexBuild.stageIds(spark, dir, cfg, log)
    }
    timed(s"terms@$cpus", all || which == "terms") {
      IndexBuild.stagePostings(spark, dir, cfg, stats, grams = false, log)
    }
    timed(s"grams@$cpus", all || which == "grams") {
      IndexBuild.stagePostings(spark, dir, cfg, stats, grams = true, log)
    }
    if (which == "query") {
      IndexBuild.build(spark, corpus, dir, cfg) // complete any missing stage
      reset()
      val search = new graft.query.Search(spark, dir)
      def q(label: String)(f: => Long): Unit = {
        f // warm
        timed(s"$label@$cpus", run = true)(f)
      }
      q("search_verify") { search.search(Seq("word", "one")).count() }
      q("bm25_or_hot") { search.bm25TopK(Seq("the", "of", "and"), 10, conjunctive = false).count() }
      q("candidates") { search.candidates(Seq("which", "there")).count() }
    }
    spark.stop()
  }
}
