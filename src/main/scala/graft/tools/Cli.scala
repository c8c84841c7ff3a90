package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus

/** Command-line surface mirroring the reference CLI's command set
  * (reference: cmds fts-lmdb.go:1782-1793 — create/input/search/info/...),
  * driving the Spark engine end-to-end.
  *
  * usage:
  *   Cli index INDEXDIR (--synth N | --parquet PATH) [--buckets B] [--ranges R]
  *   Cli search INDEXDIR TERM...           (conjunctive candidates + verify)
  *     [--docs PATH]  staleness check vs a current docs table: exit 2 if a
  *                    hit url is missing from it, 3 if stale
  *                    (reference findBadFiles, README.org:68-74)
  *     [-f]           with --docs: skip stale/missing groups instead
  *     [-u]           with --docs: run incremental update first
  *                    (reference search -u, fts-lmdb.go:1050-1055)
  *     [--limit N]    results per group (reference -limit) — also bounds
  *                    the driver-side format-render collect
  * Without --docs -f, a bad file exits on the FIRST bad url in group
  * order (the reference walks results in order and exits at the first,
  * findBadFiles fts-lmdb.go:1109-1126; it maps missing to its exit 4
  * "unreadable" in no-force search — we keep this repo's settled 2).
  *   Cli search-partial INDEXDIR TERM...
  *   Cli search-grams INDEXDIR [-gx|-gd] GRAM...  (explicit-gram candidates)
  *   Cli grams [-gx] [-partial] PHRASE     (print the phrase's gram set,
  *                    reference cmdGrams fts-lmdb.go:869-890; no DB opened)
  *   Cli fuzzy INDEXDIR RATIO TERM...      (per-group best-match-first;
  *                    --format/--sexp/-n render with real PERCENT)
  *   Cli fuzzy-sort INDEXDIR RATIO TERM... (-fuzzy -sort global ordering)
  *   Cli bm25 INDEXDIR K and|or TERM...
  *   Cli files INDEXDIR TERM...            (-file cover mode)
  *   Cli chunk INDEXDIR URL DATA [-gx|-gd] [--defer-dict] GRAM...
  *   Cli flush-dict INDEXDIR               (fold deferred chunk adds in,
  *                    finish a segment merge an add left owed)
  *   Cli empty INDEXDIR URL...             (chunk-less groups, skip existing)
  *   Cli update-plan INDEXDIR --synth N    (update -t dry run)
  *   Cli merge-segments INDEXDIR           (splice incremental appends)
  *   Cli info INDEXDIR
  *   Cli info-groups INDEXDIR [--ref [--docs PATH]]
  *                    (per-group totals + validity; --ref prints the
  *                    reference printGroupInfo lines NAME[ org-mode]
  *                    [ DELETED| CHANGED] that org-fts.el:187 parses,
  *                    with --docs supplying the currency check)
  *   Cli info-chunks INDEXDIR URL
  *   Cli grams-info INDEXDIR               (selectivity histogram)
  *   Cli gram-coverage INDEXDIR            (15-threshold CDF + sizes)
  *
  * `index` accepts --org to chunk by org-mode elements (reference -org).
  *
  * Exit codes follow the reference contract (README.org:68-74, parsed by
  * the elisp front-ends org-fts.el:113-124): 0 ok, 1 no results, 2 a
  * result file is missing, 3 a result file is stale.
  */
object Cli {
  /** Control-flow carrier for the reference exit-code contract — lets
    * tests drive the CLI in-process via [[run]] without killing the JVM.
    */
  private final case class Exit(code: Int)
    extends RuntimeException(s"exit $code")

  private def exit(code: Int): Nothing = throw Exit(code)

  /** Numeric CLI arguments fail through the exit-code contract (usage error
    * on stderr + exit 1), never as a raw NumberFormatException escaping
    * run()'s Exit-only catch.
    */
  private def intArg(s: String, what: String): Int =
    try s.toInt catch { case _: NumberFormatException =>
      System.err.println(s"$what must be an integer: $s"); exit(1) }
  private def doubleArg(s: String, what: String): Double =
    try s.toDouble catch { case _: NumberFormatException =>
      System.err.println(s"$what must be a number: $s"); exit(1) }
  private def longArg(s: String, what: String): Long =
    try s.toLong catch { case _: NumberFormatException =>
      System.err.println(s"$what must be an integer: $s"); exit(1) }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Dispatch and return the process exit code (0 ok, 1 no results,
    * 2 missing file, 3 stale file — README.org:68-74).
    */
  def run(args: Array[String]): Int =
    try { dispatch(args); 0 } catch { case Exit(c) => c }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // reference display formats (fts-lmdb.go:56-62); FMT args are
  // POSITION LINE OFFSET PERCENT CHUNK FILE
  private val LineFormat = "%[6]s:%[2]d:%[5]s\n"
  private val FuzzyLineFormat = "%[6]s:%[2]d:%4.1[4]f%%:%[5]s\n"
  private val SexpFormat = "(:filename \"%[6]s\" :line %[2]d :offset %[3]d " +
    ":text \"%[5]s\" :char-offset %[1]d :percent %[4]f)\n"

  /** Reference-format rendering walk (displayResults fts-lmdb.go:1242-1266):
    * group framing via start/end formats when `grouped`, one format() line
    * per row with args POSITION LINE OFFSET PERCENT CHUNK FILE. PERCENT is
    * ratio*100 when the frame carries a fuzzy ratio (displayChunk's
    * ch.match*100), else 0; OFFSET is the verify offset when present, else
    * 0 (fuzzy firstMatch = 0). `trimNewline` mirrors displayChunk's single
    * trailing-newline drop — sortFuzzy's global path does NOT trim
    * (fts-lmdb.go:1405 formats the raw chunk), a preserved quirk.
    */
  private def renderRows(rows: Array[org.apache.spark.sql.Row], fmt: String,
                         startFormat: String, endFormat: String,
                         numbers: Boolean, grouped: Boolean,
                         trimNewline: Boolean): String = {
    var curUrl: String = null
    val out = new StringBuilder
    val fields = if (rows.isEmpty) Set.empty[String]
                 else rows.head.schema.fieldNames.toSet
    rows.foreach { r =>
      val url = r.getAs[String]("url")
      if (grouped && url != curUrl) {
        if (curUrl != null) out.append(GoFormat.printfGuarded(endFormat, curUrl))
        out.append(GoFormat.printfGuarded(startFormat, url))
        curUrl = url
      }
      if (numbers) out.append(s"$url:${r.get(r.fieldIndex("line"))}\n")
      else {
        val chunk = r.getAs[String]("chunk_text")
        val trimmed = if (trimNewline && chunk.endsWith("\n")) chunk.dropRight(1)
                      else chunk
        val pct = if (fields("ratio")) r.getAs[Double]("ratio") * 100 else 0.0
        val off: Any = if (fields("offset")) r.get(r.fieldIndex("offset")) else 0
        out.append(GoFormat.format(fmt,
          r.get(r.fieldIndex("position")), r.get(r.fieldIndex("line")),
          off, pct, GoFormat.escape(trimmed), url))
      }
    }
    if (grouped && curUrl != null)
      out.append(GoFormat.printfGuarded(endFormat, curUrl))
    out.toString
  }

  /** `fuzzy` / `fuzzy-sort` with the reference display contract: the
    * default render format for fuzzy results is fuzzyLineFormat — real
    * PERCENT via `%4.1[4]f` (fts-lmdb.go:58, selected at 200-201 when
    * -fuzzy is on and the format was not overridden); --sexp swaps in
    * sexpFormat whose `:percent %[4]f` likewise carries the ratio. With no
    * display flag the engine-native tabular frame prints instead (same
    * convention as `search`). `-fuzzy -sort` prints one global walk —
    * ratio ascending so the best match lands last (sortFuzzy
    * fts-lmdb.go:1393-1400) — without group framing; --limit caps rows
    * PER GROUP in both modes (the reference's chunk-fetch limit runs
    * before sortFuzzy, fts-lmdb.go:1359-1362), keeping each group's best
    * matches, so the sorted walk still covers every group.
    */
  private def fuzzyCmd(dir: String, ratio: String, rest: List[String],
                       sortGlobal: Boolean): Unit = {
    def strOpt(flag: String): Option[String] =
      rest.sliding(2).collectFirst { case `flag` :: v :: Nil => v }
    val sexp = rest.contains("--sexp")
    val numbers = rest.contains("-n")
    val anyFmt = sexp || numbers || strOpt("--format").nonEmpty ||
      strOpt("--start-format").nonEmpty || strOpt("--end-format").nonEmpty
    val opts = Set("--sexp", "-n")
    val flagged = Set("--format", "--start-format", "--end-format", "--limit")
    val terms = rest.zipWithIndex.filterNot { case (a, i) =>
      opts(a) || flagged(a) || (i > 0 && flagged(rest(i - 1)))
    }.map(_._1)
    if (terms.isEmpty) {
      System.err.println("fuzzy needs at least one term"); exit(1)
    }
    val limit = strOpt("--limit").map(intArg(_, "--limit")).getOrElse(Int.MaxValue)
    val eng = new Search(session(), dir)
    // --limit caps PER GROUP in both framings (reference chunk-fetch limit
    // runs before sortFuzzy, fts-lmdb.go:1359-1362) — the engine applies it
    // upstream of the global sort
    val df = eng.fuzzySearch(terms, doubleArg(ratio, "RATIO"),
      sortGlobal = sortGlobal, limitPerGroup = limit,
      includePosition = anyFmt)
    if (!anyFmt) showR(df) // engine-native tabular output (exit 1 on empty)
    else {
      val fmt = strOpt("--format")
        .getOrElse(if (sexp) SexpFormat else FuzzyLineFormat)
      val startFormat = strOpt("--start-format").getOrElse("")
      val endFormat = strOpt("--end-format").getOrElse("")
      val rows = df.collect()
      if (rows.isEmpty) { System.err.println("no results"); exit(1) }
      // reference sortFuzzy always formats — displayChunk's -n branch is
      // unreachable under -fuzzy -sort (fts-lmdb.go:1292, 1404-1406)
      print(renderRows(rows, fmt, startFormat, endFormat,
        numbers = numbers && !sortGlobal,
        grouped = !sortGlobal, trimNewline = !sortGlobal))
    }
  }

  private def show(df: DataFrame, n: Int = 50): Unit = df.show(n, truncate = false)

  /** Show + reference empty-result contract: exit 1 when no rows. ONE
    * distributed execution: take(n+1) feeds both the emptiness check and
    * a driver-local frame for show's rendering (incl. its top-n marker).
    */
  private def showR(df: DataFrame, n: Int = 50): Unit = {
    val rows = df.take(n + 1)
    if (rows.isEmpty) { System.err.println("no results"); exit(1) }
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    local.show(n, truncate = false)
  }

  /** Maintenance config matching the index's build parameters — including
    * the chunk mode, so an update on an org-chunked index re-chunks with
    * the org chunker (reference per-group org flag, fts-lmdb.go:997-1006).
    */
  private def cfgFor(dir: String): IndexBuild.Config = {
    val s = IndexBuild.readDocStats(dir)
    // k1/b ride along too: delta posting block-max bounds must be encoded
    // with the index's frozen scoring parameters, and compact must not
    // reset them to defaults.
    IndexBuild.Config(nBuckets = s.nBuckets, nRanges = s.nRanges,
      docParts = s.docParts, chunkMode = s.chunkMode, k1 = s.k1, b = s.b)
  }

  private def dispatch(args: Array[String]): Unit = args.toList match {
    case "index" :: dir :: rest =>
      val spark = session()
      val docs = rest match {
        case "--synth" :: n :: _ => WebCorpus.generate(spark, longArg(n, "--synth"))
        case "--parquet" :: p :: _ => spark.read.parquet(p)
        case "--readme" :: _ => WebCorpus.readmeCorpus(spark)
        case _ =>
          // usage error through the exit-code contract, never a stack trace
          System.err.println("index needs --synth N | --parquet PATH | --readme")
          exit(1)
      }
      def intOpt(flag: String, dflt: Int): Int =
        rest.sliding(2).collectFirst { case `flag` :: v :: Nil => intArg(v, flag) }
          .getOrElse(dflt)
      val stats = IndexBuild.build(spark, docs, dir, IndexBuild.Config(
        nBuckets = intOpt("--buckets", 8), nRanges = intOpt("--ranges", 8),
        docParts = intOpt("--docparts", 8),
        chunkMode =
          if (rest.contains("--org")) IndexBuild.ChunkMode.Org
          else if (rest.contains("--doc")) IndexBuild.ChunkMode.Doc
          else IndexBuild.ChunkMode.Lines))
      println(s"indexed n_docs=${stats.nDocs} resumedTermBuckets=${stats.resumedTermBuckets}")
    case "search" :: dir :: rest if rest.nonEmpty =>
      // reference display contract (fts-lmdb.go:56-62, 1375-1388):
      //   --format FMT / --sexp / -n / --start-format F / --end-format F
      // FMT args: POSITION LINE OFFSET PERCENT CHUNK FILE (chunk already
      // escape()d, trailing newline trimmed); default FILE:LINE:CHUNK.
      // --limit N bounds results per group (reference -limit, applied at
      // chunk fetch fts-lmdb.go:1361) — it also bounds the display collect.
      def strOpt(flag: String): Option[String] =
        rest.sliding(2).collectFirst { case `flag` :: v :: Nil => v }
      val sexp = rest.contains("--sexp")
      val numbers = rest.contains("-n")
      val fmt = strOpt("--format").getOrElse(if (sexp) SexpFormat else LineFormat)
      val startFormat = strOpt("--start-format").getOrElse("")
      // NOTE: the reference never actually prints its sexpGroupEnd — its
      // own `cfg.format == groupEnd` comparison skips it (fts-lmdb.go:
      // 197-199) — so sexp mode defaults to NO group-end output, matching
      // observed reference behavior rather than its dead constant.
      val endFormat = strOpt("--end-format").getOrElse("")
      val opts = Set("--sexp", "-n", "-u", "-f")
      val flagged = Set("--format", "--start-format", "--end-format", "--docs",
        "--limit")
      val terms = rest.zipWithIndex.filterNot { case (a, i) =>
        opts(a) || flagged(a) || (i > 0 && flagged(rest(i - 1)))
      }.map(_._1)
      require(terms.nonEmpty, "search needs at least one term")
      val limit = strOpt("--limit").map(intArg(_, "--limit")).getOrElse(Int.MaxValue)
      val spark = session()
      val docsPath = strOpt("--docs")
      if (rest.contains("-u")) {
        // reference search -u: run the incremental update before searching
        docsPath match {
          case Some(p) =>
            graft.maint.Maintenance.update(spark, dir, spark.read.parquet(p),
              cfgFor(dir))
          case None =>
            // contract-conformant usage failure, not a JVM stack trace
            System.err.println("search -u needs --docs PATH"); exit(1)
        }
      }
      val eng = new Search(spark, dir)
      var df = eng.search(terms, limitPerGroup = limit)
      docsPath.foreach { p =>
        val cur = spark.read.parquet(p)
        if (rest.contains("-f"))
          // -f: skip stale/missing groups (findBadFiles skip path) — one
          // source of truth for the semantics
          df = eng.searchFresh(terms, cur, limitPerGroup = limit)
        else {
          // the reference walks results in group order and exits on the
          // FIRST bad file it meets (findBadFiles fts-lmdb.go:1109-1126) —
          // order by url (the result group order) and take the head,
          // rather than preferring every missing over every stale
          val first = eng.badFiles(df.select("url").distinct(), cur)
            .orderBy("url").limit(1).collect().headOption
          first.foreach { r =>
            val (u, st) = (r.getString(0), r.getString(1))
            System.err.println(s"$st: $u")
            exit(if (st == "missing") 2 else 3)
          }
        }
      }
      if (strOpt("--format").isEmpty && !sexp && !numbers &&
          strOpt("--start-format").isEmpty && strOpt("--end-format").isEmpty)
        showR(df) // engine-native tabular output (exit 1 on empty)
      else {
        // reference-format rendering (driver-side: display path only;
        // bounded by --limit when given). rows arrive ordered
        // (url, byte_start) — renderRows is the displayResults walk.
        val rows = df.collect()
        if (rows.isEmpty) { System.err.println("no results"); exit(1) }
        print(renderRows(rows, fmt, startFormat, endFormat, numbers,
          grouped = true, trimNewline = true))
      }
    case "search-partial" :: dir :: terms if terms.nonEmpty =>
      showR(new Search(session(), dir).search(terms, partial = true))
    case "search-filter" :: dir :: re :: terms if terms.nonEmpty =>
      showR(new Search(session(), dir).search(terms, filterRegex = Some(re)))
    case "candidates" :: dir :: terms if terms.nonEmpty =>
      showR(new Search(session(), dir).candidates(terms).orderBy("doc_id"))
    case "fuzzy" :: dir :: ratio :: rest if rest.nonEmpty =>
      fuzzyCmd(dir, ratio, rest, sortGlobal = false)
    case "bm25" :: dir :: k :: mode :: terms if terms.nonEmpty =>
      showR(new Search(session(), dir).bm25TopK(terms, intArg(k, "K"), mode == "and"))
    case "files" :: dir :: terms if terms.nonEmpty =>
      showR(new Search(session(), dir).searchFiles(terms))
    case "delete" :: dir :: urls if urls.nonEmpty =>
      graft.maint.Maintenance.delete(session(), dir, urls)
      println(s"tombstoned ${urls.size} url(s)")
    case "compact" :: dir :: Nil =>
      graft.maint.Maintenance.compact(session(), dir, cfgFor(dir))
      println("compacted")
    case "update" :: dir :: "--synth" :: n :: Nil =>
      val spark = session()
      val (nn, nc, nd) = graft.maint.Maintenance.update(spark, dir,
        WebCorpus.generate(spark, longArg(n, "--synth")), cfgFor(dir))
      println(s"update: new=$nn changed=$nc deleted=$nd")
    case "update" :: dir :: "--parquet" :: p :: Nil =>
      val spark = session()
      val (nn, nc, nd) = graft.maint.Maintenance.update(spark, dir,
        spark.read.parquet(p), cfgFor(dir))
      println(s"update: new=$nn changed=$nc deleted=$nd")
    case "search-grams" :: dir :: rest if rest.nonEmpty =>
      val (hex, dec) = (rest.contains("-gx"), rest.contains("-gd"))
      val lits = rest.filterNot(Set("-gx", "-gd"))
      val gs = lits.map(graft.core.Gram.parseGram(_, hex, dec))
      showR(new Search(session(), dir).candidatesByGrams(gs).orderBy("doc_id"))
    case "fuzzy-sort" :: dir :: ratio :: rest if rest.nonEmpty =>
      fuzzyCmd(dir, ratio, rest, sortGlobal = true)
    case "grams" :: rest if rest.nonEmpty =>
      // reference cmdGrams (fts-lmdb.go:869-890): print the gram set of a
      // phrase — no DB opens (the DB positional IS the phrase; the command
      // is exempted from the stat at fts-lmdb.go:203). -gx prints each gram
      // as two UNPADDED hex bytes (strconv.FormatUint of grm>>8 then
      // grm&0xFF); default prints gramString forms; -partial extracts
      // interior grams only. The reference iterates a Go map (unspecified
      // order) — we print sorted gram codes, the one deterministic order.
      val hex = rest.contains("-gx")
      val partial = rest.contains("-partial")
      val phrase = rest.filterNot(Set("-gx", "-partial"))
      if (phrase.size != 1) {
        System.err.println(s"Wrong number of arguments: ${rest.mkString(" ")}")
        exit(1)
      }
      val gs = graft.core.Gram.gramsSorted(partial, phrase)
      println(gs.map { g =>
        if (hex) java.lang.Integer.toHexString(g >> 8) +
          java.lang.Integer.toHexString(g & 0xff)
        else graft.core.Gram.gramString(g)
      }.mkString(" "))
    case "chunk" :: dir :: url :: data :: rest if rest.nonEmpty =>
      val (hex, dec) = (rest.contains("-gx"), rest.contains("-gd"))
      val gs = rest.filterNot(Set("-gx", "-gd", "--defer-dict"))
        .map(graft.core.Gram.parseGram(_, hex, dec))
      val id = graft.maint.Maintenance.addChunk(session(), dir, url, data, gs,
        new java.sql.Timestamp(0L), cfgFor(dir),
        mergeDict = !rest.contains("--defer-dict"))
      println(s"added chunk doc_id=$id")
    case "flush-dict" :: dir :: Nil =>
      val n = graft.maint.Maintenance.flushDict(session(), dir, cfgFor(dir))
      println(s"flushed $n deferred chunk(s)")
    case "empty" :: dir :: urls if urls.nonEmpty =>
      val n = graft.maint.Maintenance.emptyGroups(session(), dir, urls)
      println(s"added $n empty group(s)")
    case "update-plan" :: dir :: "--synth" :: n :: Nil =>
      val spark = session()
      show(graft.maint.Maintenance.updatePlan(spark, dir,
        WebCorpus.generate(spark, longArg(n, "--synth")), IndexBuild.Config()))
    case "merge-segments" :: dir :: Nil =>
      val s = session()
      val n = graft.maint.Maintenance.mergeSegments(s, dir, gramsTable = false) +
        graft.maint.Maintenance.mergeSegments(s, dir, gramsTable = true)
      println(s"rewrote $n bucket(s)")
    case "info" :: dir :: Nil =>
      show(new Search(session(), dir).info())
    case "info-groups" :: dir :: rest =>
      import org.apache.spark.sql.functions.{col, lit, max, when}
      val spark = session()
      val eng = new Search(spark, dir)
      if (!rest.contains("--ref")) show(eng.infoGroups())
      else {
        // reference printGroupInfo rendering (fts-lmdb.go:430-446), the
        // exact shape org-fts-find-org-file strips with
        // " *\(org-mode\)?\( DELETED\| NOT AVAILABLE\| CHANGED\)?$"
        // (elisp/org-fts.el:187): NAME[ org-mode][ DELETED| CHANGED], one
        // line per group in name order (groupNameDb cursor order).
        // ` org-mode` when the index chunks by org elements (per-index here
        // vs the reference's per-group flag). --docs PATH supplies the
        // currency check standing in for os.Stat: url absent from the
        // current table -> DELETED (IsNotExist), current strictly newer
        // than the indexed version -> CHANGED (ModTime().After);
        // ` NOT AVAILABLE` (a stat error that is not IsNotExist) has no
        // analog over a parquet snapshot and is never printed. Tombstoned
        // groups print unmarked when present (their live timestamp left
        // with their chunks) — divergence only for tombstoned+modified.
        // Fully distributed derivation; the driver only streams the lines
        // out (the command's output IS the full listing, as in the
        // reference's cursor walk), so no url set is ever broadcast.
        val docsPath = rest.sliding(2).collectFirst { case "--docs" :: p :: Nil => p }
        val orgTag =
          if (IndexBuild.readDocStats(dir).chunkMode == IndexBuild.ChunkMode.Org)
            " org-mode"
          else ""
        val g = eng.infoGroups()
        val marked = docsPath match {
          case Some(p) =>
            val curTs = spark.read.parquet(p).groupBy(col("url"))
              .agg(max(col("warc_ts")).as("cur_ts"))
            g.join(curTs, Seq("url"), "left")
              .select(col("url"),
                when(col("cur_ts").isNull, " DELETED")
                  .when(col("cur_ts") > col("last_changed"), " CHANGED")
                  .otherwise("").as("marker"))
          case None => g.select(col("url"), lit("").as("marker"))
        }
        marked.orderBy("url").toLocalIterator().forEachRemaining { r =>
          println(r.getString(0) + orgTag + r.getString(1))
        }
      }
    case "info-chunks" :: dir :: url :: Nil =>
      show(new Search(session(), dir).infoChunks(url))
    case "grams-info" :: dir :: Nil =>
      show(new Search(session(), dir).gramHistogram())
    case "gram-coverage" :: dir :: Nil =>
      val s = new Search(session(), dir)
      show(s.gramCoverage()); show(s.indexSizes())
    case _ =>
      System.err.println("see Cli scaladoc for usage"); exit(1)
  }
}
