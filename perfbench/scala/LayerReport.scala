package perfbench

import org.apache.spark.sql.SparkSession
import graft.core.{Gram, Tokenizer}
import graft.maint.Maintenance
import perfbench.Queries._
import perfbench.Util._
import scala.collection.mutable

/** The per-layer metrics of a traced run. Layers a workload leaves idle
  * report 0; the query layer is probed on every workload by one traced pass
  * over the distinct queries on the run's final index.
  */
object LayerReport {
  private val BuildStages = Seq("chunks", "ids", "postings_terms", "postings_grams", "dictionary")

  def apply(spark: SparkSession, b: Bench, o: Opts): Main.Metrics = {
    val m: Main.Metrics = mutable.LinkedHashMap.empty
    val tr = b.trace
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def ratio(a: Double, c: Double) = if (c == 0) 0.0 else a / c

    m("host.steal_frac") = (b.steal(), "frac")
    // the loop runs its first half untraced: compare like with like, the
    // queries where there are any, else the builds
    val samples = if (b.queryTraced.nonEmpty) b.queryTraced.toSeq
                  else b.opCost.map(_.wallMs).zip(b.opTraced).toSeq
    val (off, on) = samples.partition(!_._2)
    m("trace.overhead_frac") =
      (if (off.isEmpty || on.isEmpty) 0.0 else med(on.map(_._1)) / med(off.map(_._1)) - 1.0, "frac")
    m("sources.generate_s") = (med(b.genS.toSeq), "s")

    // core: single-threaded codecs over the first 1000 pages of the corpus
    val sample = (0L until math.min(1000L, o.pages.toLong))
      .map(i => graft.sources.WebCorpus.makeText(i, o.seed))
    Layers.core(sample).foreach { case (k, v, u) => m(k) = (v, u) }

    // build: the engine's manifest of the last fresh build, and its jobs
    BuildStages.foreach { st =>
      val r = b.buildManifest.get(st)
      m(s"build.$st.wall_ms") = (r.map(_.wallMs.toDouble).getOrElse(0.0), "ms")
      m(s"build.$st.rows") = (r.map(_.rows.toDouble).getOrElse(0.0), "count")
      m(s"build.$st.bytes") = (b.stageBytes.getOrElse(st, 0L).toDouble, "bytes")
    }
    def stageMs(st: String) = b.buildManifest.get(st).map(_.wallMs.toDouble).getOrElse(0.0)
    val blocking = stageMs("chunks") + stageMs("ids") +
      math.max(stageMs("postings_terms"), stageMs("postings_grams")) + stageMs("dictionary")
    m("build.unaccounted_frac") = (ratio(b.lastBuildMs - blocking, b.lastBuildMs), "frac")
    val nBuilds = math.max(1, tr.wallMs("IndexBuild.build").size)
    val bj = tr.metricsUnder("IndexBuild.build")
    m("build.jobs") = (bj.jobs.toDouble / nBuilds, "count")
    m("build.tasks") = (bj.tasks.toDouble / nBuilds, "count")
    m("build.task_cpu_s") = (bj.cpuNs / 1e9 / nBuilds, "s")
    m("build.gc_s") = (bj.gcMs / 1e3 / nBuilds, "s")
    m("build.shuffle_write_bytes") = (bj.shuffleWriteBytes.toDouble / nBuilds, "bytes")
    m("build.shuffle_read_bytes") = (bj.shuffleReadBytes.toDouble / nBuilds, "bytes")
    m("build.spill_bytes") = (bj.spillBytes.toDouble / nBuilds, "bytes")
    m("build.output_bytes") = (bj.outputBytes.toDouble / nBuilds, "bytes")

    // query: one traced probe pass over the distinct queries
    val (s, oc) = timed(b.open(b.index))
    m("query.open_ms") = (med((b.openMs :+ oc.wallMs).toSeq), "ms")
    m("query.dict_ms") = (med(Distinct.map { q =>
      timed {
        s.dictLookup(q.args.flatMap(Tokenizer.terms))
        s.gramDictLookup(Gram.gramsSorted(partial = q.cls == "fuzzy", q.args).toSeq)
      }._2.wallMs
    }), "ms")
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var hydrated = 0L
    val kernels = mutable.HashMap.empty[String, mutable.ArrayBuffer[Layers.Kernel]]
    Distinct.foreach { q =>
      rows(q.cls) += tr.span(s"probe.${q.cls}", tr.newOp())(Answers.run(s, q)).length
      if (q.cls == "search") hydrated += s.candidates(q.args).count()
      kernels.getOrElseUpdate(q.cls, mutable.ArrayBuffer.empty) += Layers.kernel(spark, b.index, s, q)
    }
    Classes.foreach { c =>
      val n = math.max(1, Distinct.count(_.cls == c))
      val j = tr.metricsUnder(s"probe.$c")
      val ks = kernels.getOrElse(c, mutable.ArrayBuffer.empty[Layers.Kernel]).toSeq
      m(s"query.$c.jobs") = (j.jobs.toDouble / n, "count")
      m(s"query.$c.tasks") = (j.tasks.toDouble / n, "count")
      m(s"query.$c.task_cpu_ms") = (j.cpuNs / 1e6 / n, "ms")
      m(s"query.$c.input_bytes") = (j.inputBytes.toDouble / n, "bytes")
      m(s"query.$c.shuffle_bytes") = (j.shuffleReadBytes.toDouble / n, "bytes")
      m(s"query.$c.result_rows") = (rows(c).toDouble / n, "count")
      m(s"query.$c.kernel_ms") = (med(ks.map(_.ms)), "ms")
      m(s"query.$c.segment_bytes") = (ks.map(_.segmentBytes.toDouble).sum / n, "bytes")
    }
    m("query.search.verify_ratio") = (ratio(rows("search").toDouble, hydrated.toDouble), "frac")
    m("query.fuzzy.useful_ratio") = (med(kernels("fuzzy").map(_.useful).toSeq), "frac")
    m("query.bm25.useful_range_ratio") = (med(kernels("bm25").map(_.useful).toSeq), "frac")

    // maint: churn only; the manifest of the churned index and the jobs
    val man = Layers.manifest(b.index)
    val batches = math.max(1, b.updateCost.size)
    m("maint.update.wall_ms") = (med(b.updateCost.map(_.wallMs).toSeq), "ms")
    Seq("upd_docs", "upd_postings_terms", "upd_postings_grams", "upd_dict").foreach { st =>
      m(s"maint.$st.wall_ms") = (man.get(st).map(_.wallMs.toDouble).getOrElse(0.0) / batches, "ms")
    }
    // a merge runs inside the update that triggers it: its cost is that
    // update's excess over the median update without one
    val (merged, plain) = b.updateCost.map(_.wallMs).zip(b.mergedBatch).partition(_._2)
    m("maint.seg_merge.wall_ms") =
      (if (merged.isEmpty || plain.isEmpty) 0.0
       else math.max(0.0, med(merged.map(_._1).toSeq) - med(plain.map(_._1).toSeq)), "ms")
    m("maint.seg_merges") = (man.get("seg_merge").map(_.lines.toDouble).getOrElse(0.0), "count")
    m("maint.delete.wall_ms") = (med(b.deleteCost.map(_.wallMs).toSeq), "ms")
    Seq("update" -> "Maintenance.update", "delete" -> "Maintenance.delete").foreach { case (k, span) =>
      val j = tr.metricsUnder(span)
      val n = math.max(1, tr.wallMs(span).size)
      m(s"maint.$k.jobs") = (j.jobs.toDouble / n, "count")
      m(s"maint.$k.task_cpu_s") = (j.cpuNs / 1e9 / n, "s")
      m(s"maint.$k.shuffle_bytes") = (j.shuffleReadBytes.toDouble / n, "bytes")
      m(s"maint.$k.output_bytes") = (j.outputBytes.toDouble / n, "bytes")
    }
    val (segMean, segMax) = Layers.segmentsPerKeyRange(spark, b.index)
    m("maint.segments_per_key_range.mean") = (segMean, "count")
    m("maint.segments_per_key_range.max") = (segMax, "count")
    m("maint.tombstones") = (Maintenance.tombstones(spark, b.index).count().toDouble, "count")
    m("maint.manifest_lines") = (graft.build.Manifest.entries(b.index).size.toDouble, "count")
    val scratch = Option(new java.io.File(b.index).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && (f.getName.endsWith("_new") || f.getName.endsWith("_merging") ||
        f.getName == "chunks"))
    m("maint.scratch_dirs") = (scratch.toDouble, "count")
    m("maint.index_bytes") = (dirBytes(b.index).toDouble, "bytes")
    m
  }
}
