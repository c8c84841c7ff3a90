package graft

import org.apache.spark.sql.SparkSession
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus

/** Benchmark main (driver contract): index-build throughput + BM25/search
  * query latency over SPARK_GRAFT_SF_DIR. Prints ONE JSON line.
  *
  * Env knobs:
  *  - SPARK_GRAFT_CPUS: parallelism for a single-level run (default 32)
  *  - SPARK_GRAFT_SCALE_LEVELS: e.g. "4,16" — run every level in-process
  *    and report per-level build times + N->4N scaling efficiency
  *  - SPARK_GRAFT_REPEAT: repetitions per level, min taken (default 1;
  *    use >=3 for scaling evidence — this sandbox VM's CPU allocation
  *    fluctuates ~2x run-to-run, and min is the robust estimator)
  *  - SPARK_GRAFT_NDOCS: corpus size override (default 1.6M * sf)
  */
object Bench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One layout for every scaling level — see session() comment. */
  final val FixedShufflePartitions = 64

  private val tmpRoot =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"

  private def session(cpus: Int): SparkSession = {
    // tmpfs for shuffle + index output: a cluster writes these to many
    // node-local disks / object storage in parallel; a single local disk
    // would measure that disk, not the engine.
    // SPARK_GRAFT_LOCAL_CLUSTER=1 switches to local-cluster mode: `cpus`
    // becomes (cpus/2) executor JVMs x 2 cores each, with their own heaps,
    // GC and netty shuffle — the closest in-sandbox emulation of the north
    // rule's N-vs-4N *executors* criterion (thread-scaling inside one JVM
    // shares heap/GC/allocator in ways a real cluster does not). Requires
    // SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 in the env: the
    // standalone worker's ExecutorRunner rebuilds the executor classpath
    // from a Spark distribution layout.
    val localCluster = sys.env.get("SPARK_GRAFT_LOCAL_CLUSTER").exists(_ == "1")
    val b = SparkSession.builder()
      .appName(s"graft-bench-$cpus")
      // FIXED across scaling levels: on a real cluster the shuffle partition
      // count is a property of the job, not of the executor count. Tying it
      // to cpus conflates partition-size effects (spill, GC) with scaling.
      .config("spark.sql.shuffle.partitions", FixedShufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmpRoot/graft-spark-local")
      .config("spark.ui.enabled", "false")
    val s = (if (localCluster) {
      val nExec = math.max(1, cpus / 2)
      val memMb = math.min(12288L, 96L * 1024 / math.max(4, nExec))
      b.master(s"local-cluster[$nExec,2,$memMb]")
        .config("spark.executor.memory", s"${memMb}m")
        .config("spark.driver.memory", "8g")
        // same-host executor JVMs: reuse the launcher's classpath (graft
        // classes + spark jars) and JDK17 module opens
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    } else b.master(s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Materialize the synthetic corpus once (parquet): the build metric
    * measures the BUILD reading columnar input, not the generator.
    */
  private def corpusDir(spark: SparkSession, nDocs: Long): String = {
    val dir = s"$tmpRoot/graft_bench_corpus_$nDocs"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      WebCorpus.generate(spark, nDocs, seed = 42L, partitions = 32)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** One full build + query pass; returns (phase -> seconds,
    * maintenance-phase -> seconds, nChunks). Maintenance metrics are kept
    * out of the headline map so "value" stays comparable across rounds.
    */
  private def pass(spark: SparkSession, cpus: Int, nDocs: Long):
      (scala.collection.immutable.ListMap[String, Double],
       scala.collection.immutable.ListMap[String, Double], Long) = {
    val idxDir = s"$tmpRoot/graft_bench_idx_$cpus"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    val corpus = spark.read.parquet(corpusDir(spark, nDocs))
    var results = scala.collection.immutable.ListMap.empty[String, Double]
    var maint = scala.collection.immutable.ListMap.empty[String, Double]
    // ONE config for build AND maintenance: the maintenance path addresses
    // docparts/buckets with this modulus, so a drifted copy would measure
    // a corrupted path. Fixed 32-range layout at every corpus size/CPU
    // level (identical to rounds 1-2 for comparability). A range count
    // derived from the corpus size (constant per-range size) was measured
    // at 10.24M pages in round 6: it traded ~7 pp of build throughput for
    // ~12% on the hot disjunctive query, so it was not kept as an option.
    val benchCfg = IndexBuild.Config(nBuckets = 16, nRanges = 32,
      docParts = 32, shufflePartitions = FixedShufflePartitions)
    val (bstats, buildSec) = time {
      IndexBuild.build(spark, corpus, idxDir, benchCfg)
    }
    results += "index_build" -> buildSec
    val search = new Search(spark, idxDir)
    def q(name: String)(f: => Long): Unit = {
      val (_, warm) = time(f)
      val (_, sec) = time(f)
      results += name -> math.min(warm, sec)
    }
    q("bm25_or_hot") { search.bm25TopK(Seq("the", "of", "and"), 10, conjunctive = false).count() }
    q("bm25_and_hot") { search.bm25TopK(Seq("the", "of", "and"), 10, conjunctive = true).count() }
    q("bm25_or_mixed") { search.bm25TopK(Seq("w12x84", "the"), 10, conjunctive = false).count() }
    q("bm25_and_tail") { search.bm25TopK(Seq("w3x21", "w7x49"), 10, conjunctive = true).count() }
    q("search_verify") { search.search(Seq("word", "one")).count() }
    q("fuzzy") { search.fuzzy(Seq("other"), 0.6).count() }
    q("candidates") { search.candidates(Seq("which", "there")).count() }

    // ---- maintenance path (skip with SPARK_GRAFT_MAINT=0): 1% changelog
    // update, 1% tombstone delete, and a tombstone-heavy query forced
    // through the distributed cogroup dead-id path (inline gate = 0)
    if (!sys.env.get("SPARK_GRAFT_MAINT").contains("0")) {
      import org.apache.spark.sql.functions._
      val delta = corpus
        .where(pmod(xxhash64(col("url")), lit(100L)) === 0)
        .withColumn("text", concat(lit("updated delta words "), col("text")))
        .withColumn("warc_ts", lit("2025-01-01 00:00:00").cast("timestamp"))
      val (_, updSec) = time {
        graft.maint.Maintenance.update(spark, idxDir, delta, benchCfg,
          partialSnapshot = true)
      }
      maint += "update_1pct" -> updSec
      val delUrls = corpus.where(pmod(xxhash64(col("url")), lit(100L)) === 1)
        .select("url").collect().map(_.getString(0)).toSeq
      val (_, delSec) = time {
        graft.maint.Maintenance.delete(spark, idxDir, delUrls)
      }
      maint += "delete_1pct" -> delSec
      val tomb = () => new Search(spark, idxDir, maxInlineTombstones = 0)
        .bm25TopK(Seq("the", "of", "and"), 10, conjunctive = false).count()
      val (_, w1) = time(tomb())
      val (_, w2) = time(tomb())
      maint += "bm25_or_hot_tombstoned" -> math.min(w1, w2)
      // SPARK_GRAFT_COMPACT=1: time the full space reclamation (anti-join
      // chunk rewrite + derived rebuild) on the tombstoned index — the
      // stress-corpus demonstration of M2 at scale; opt-in because compact
      // re-runs the whole derived build
      if (sys.env.get("SPARK_GRAFT_COMPACT").contains("1")) {
        val (_, cSec) = time {
          graft.maint.Maintenance.compact(spark, idxDir, benchCfg)
        }
        maint += "compact" -> cSec
      }
    }
    (results, maint, bstats.nDocs)
  }

  private def minByKey(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatten.groupMapReduce(_._1)(_._2)(math.min)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val nDocs = sys.env.get("SPARK_GRAFT_NDOCS").map(_.toLong)
      .getOrElse(math.max(4000L, (sf * 1600000).toLong))
    // default min-of-2: this host's CPU allocation fluctuates ~2x with
    // neighbor load; min is the robust estimator (see BENCH.md)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val levels = sys.env.get("SPARK_GRAFT_SCALE_LEVELS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt))

    var perLevel = scala.collection.immutable.ListMap.empty[Int, Map[String, Double]]
    var perLevelMaint = scala.collection.immutable.ListMap.empty[Int, Map[String, Double]]
    var nChunks = 0L
    levels.foreach { cpus =>
      val spark = session(cpus)
      val passes = (1 to repeat).map { _ =>
        val (r, m, n) = pass(spark, cpus, nDocs)
        nChunks = n
        (r: Map[String, Double], m: Map[String, Double])
      }
      perLevel += cpus -> minByKey(passes.map(_._1))
      perLevelMaint += cpus -> minByKey(passes.map(_._2))
      spark.stop()
      // allow a fresh context with a different master next level
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    val main = perLevel(levels.last)
    val total = main.values.sum
    val qs = main.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val maintMap = perLevelMaint(levels.last)
    val maintJson =
      if (maintMap.isEmpty) ""
      else maintMap.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString(""","maintenance":{""", ",", "}")
    val scaling =
      if (levels.size >= 2) {
        val tN = perLevel(levels.head)("index_build")
        val t4N = perLevel(levels.last)("index_build")
        val ratio = levels.last.toDouble / levels.head
        s""","scaling":{"levels":[${levels.mkString(",")}],""" +
          s""""build_sec":[${levels.map(l => f"${perLevel(l)("index_build")}%.3f").mkString(",")}],""" +
          s""""speedup":${f"${tN / t4N}%.3f"},"efficiency":${f"${tN / t4N / ratio}%.3f"}}"""
      } else ""
    val buildSec = main("index_build")
    println(
      s"""{"metric":"index-build + BM25/search latency","value":${f"$total%.3f"},""" +
        s""""unit":"sec","queries":$qs,"sf":"$sfDir","cpus":${levels.last},""" +
        s""""n_pages":$nDocs,"n_chunks":$nChunks,""" +
        s""""build_pages_per_sec":${f"${nDocs / buildSec}%.1f"},""" +
        s""""build_chunks_per_sec":${f"${nChunks / buildSec}%.1f"}$maintJson$scaling}""")
  }
}
