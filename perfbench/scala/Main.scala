package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Util._
import scala.collection.mutable

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Main --workload build|query|churn --seed N --seconds S --trace 0|1
  *        --work DIR --out DIR
  *
  * Prints the end-to-end report (every metric by name and unit), then, as
  * its last line, one JSON object: with `--trace 0` the gated end-to-end
  * metrics, with `--trace 1` the per-layer metrics.
  */
object Main {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("build", "query", "churn")(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), pages = 5000, setups = 3)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new java.io.File(o.work).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, o)
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val out = try {
      b.setup()
      phase(s"set-up done (${b.setupS.map(x => f"$x%.2f").mkString(", ")} s)")
      o.workload match {
        case "build" => b.runBuild()
        case "query" => b.runQuery()
        case "churn" => b.runChurn()
      }
      phase("loop done")
      val e2e = endToEnd(b, o)
      e2e.foreach { case (k, (v, u)) => println(s"report ${o.workload} $k ${fmt(v)} $u") }
      println(s"report ${o.workload} local[$cpus] pages=${o.pages} chunks=${b.nChunks} " +
        s"text_bytes=${b.textBytes} distinct_queries=${Queries.Distinct.size} " +
        s"hydration_gate=${b.hydrationGate} ops=${b.opCost.size} " +
        s"queries=${b.queryCost.values.map(_.size).sum} " +
        b.queryCost.map { case (c, xs) => s"$c=${xs.size}" }.mkString(" "))
      Queries.Distinct.zip(b.distinctCost).filter(_._2.nonEmpty).foreach { case (q, cs) =>
        println(s"report ${o.workload} distinct ${q.label} n=${cs.size} " +
          s"p50_ms=${fmt(median(cs.map(_.wallMs).toSeq))} cpu_ms=${fmt(cs.map(_.cpuMs).sum / cs.size)}")
      }
      val metrics: Metrics =
        if (o.trace) {
          val l = LayerReport(spark, b, o)
          b.trace.writeTo(s"${o.out}/spans-${o.workload}-${o.seed}.jsonl")
          phase("layers done")
          l
        } else mutable.LinkedHashMap(Gated.map(k => k -> e2e(k)): _*)
      val ms = metrics.map { case (k, (v, u)) =>
        s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}"
      }.mkString("{", ",", "}")
      s"""{"correct":${b.failed == 0},"attempted":${b.attempted},"failed":${b.failed},"metrics":$ms}"""
    } finally {
      b.trace.close()
      spark.stop()
      deleteDir(o.work)
    }
    println(out)
  }

  private def fmt(v: Double): String = if (v.isNaN) "n/a" else jsonNum(v)

  /** The end-to-end metrics gated in BENCHMARK.json, in its order. */
  val Gated = Seq("setup_s", "build_pages_per_s", "build_cpu_s", "index_bytes_per_text_byte",
    "query_p50_ms", "query_cpu_ms", "ops_per_s", "op_cpu_ms")

  /** Every end-to-end metric, by name and unit; NaN where it does not apply.
    * CPU figures are means (process CPU time ticks in 10 ms steps).
    */
  def endToEnd(b: Bench, o: Opts): Metrics = {
    val NaN = Double.NaN
    def med(xs: Seq[Double]) = if (xs.isEmpty) NaN else median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) NaN else xs.sum / xs.size
    // the build workload times its own builds; the others their warm set-up builds
    val builds = if (o.workload == "build") b.opCost.toSeq else b.buildCost.toSeq.drop(1)
    val queries = b.queryCost.values.flatten.toSeq
    // query: each distinct query weighs its share of the stream's cycle, so
    // the partial last cycle of a run does not shift the mix
    val mix = Queries.Weights.zip(b.distinctCost).filter(_._2.nonEmpty)
      .map { case (w, cs) => (w.toDouble, cs.toSeq) }
    def mixMean(f: Cost => Double) = mix.map { case (w, cs) => w * mean(cs.map(f)) }.sum / mix.map(_._1).sum
    def mixMedian(f: Cost => Double) = weightedMedian(mix.flatMap { case (w, cs) => cs.map(c => (f(c), w / cs.size)) })
    val byMix = o.workload == "query"
    // churn: updates and deletes weigh equally per changed page; updates
    // count in whole merge cycles (a merge rides every second update)
    val cycle = b.cfg.autoMergeSegments
    val updates = {
      val whole = b.updateCost.size / cycle * cycle
      if (whole == 0) b.updateCost.toSeq else b.updateCost.take(whole).toSeq
    }
    val perPage = b.pagesPerBatch.toDouble
    def churnMs(f: Cost => Double) =
      (updates.map(f).sum / updates.size + b.deleteCost.map(f).sum / b.deleteCost.size) / (2 * perPage)
    val ops = b.opCost.toSeq
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (med(b.setupS.toSeq), "s"),
      "build_pages_per_s" -> (o.pages / (med(builds.map(_.wallMs)) / 1000.0), "pages/s"),
      "build_cpu_s" -> (med(builds.map(_.taskCpuMs)) / 1000.0, "s"),
      "build_process_cpu_s" -> (mean(builds.map(_.cpuMs)) / 1000.0, "s"),
      "index_bytes_per_text_byte" -> (b.indexBytes.toDouble / b.textBytes, "ratio"),
      "query_p50_ms" -> (if (byMix) mixMedian(_.wallMs) else med(queries.map(_.wallMs)), "ms"),
      "query_cpu_ms" -> (if (byMix) mixMean(_.cpuMs) else mean(queries.map(_.cpuMs)), "ms"),
      // churn: one op is one changed page, updated or deleted
      "ops_per_s" -> (if (o.workload == "churn") 1000.0 / churnMs(_.wallMs)
                      else if (byMix) 1000.0 / mixMean(_.wallMs)
                      else ops.size / (ops.map(_.wallMs).sum / 1000.0), "1/s"),
      "op_cpu_ms" -> (if (o.workload == "churn") churnMs(_.cpuMs)
                      else if (byMix) mixMean(_.cpuMs)
                      else mean(ops.map(_.cpuMs)), "ms"),
      "op_p50_ms" -> (med(ops.map(_.wallMs)), "ms"),
      "query_qps" -> (queries.size / (queries.map(_.wallMs).sum / 1000.0), "1/s"),
      "query_p95_ms" -> (if (queries.isEmpty) NaN else quantile(queries.map(_.wallMs), 0.95), "ms"))
    Queries.Classes.foreach { c =>
      m(s"${c}_p50_ms") = (med(b.queryCost(c).map(_.wallMs).toSeq), "ms")
    }
    def rate(n: Long, cs: Seq[Cost]) = if (cs.isEmpty) NaN else n / (cs.map(_.wallMs).sum / 1000.0)
    m("update_pages_per_s") = (rate(b.updatedPages, b.updateCost.toSeq), "pages/s")
    m("delete_urls_per_s") = (rate(b.deletedUrls, b.deleteCost.toSeq), "urls/s")
    m("failed_frac") = (b.failed.toDouble / math.max(1L, b.attempted), "frac")
    m
  }
}
