package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.functions._
import graft.build.IndexBuild
import graft.maint.Maintenance

/** Structured-Streaming incremental index maintenance — the Spark-native
  * analog of the reference's externally-driven micro-batch loop (Emacs idle
  * timer re-running `update` every 5 idle minutes + reindex-on-save hooks,
  * reference: elisp/org-fts.el:70, 89-111), with `warc_ts` as the event
  * time / freshness watermark (cmdUpdate's mtime check,
  * fts-lmdb.go:1000-1006).
  *
  * Shape: `readStream` over a docs changelog -> `foreachBatch` running the
  * incremental [[Maintenance.update]] against the index snapshot. Each
  * micro-batch is checkpointed by Spark (exactly-once foreachBatch with
  * the update committed as one record of the index's commit log, so a
  * replayed batch finds its update done or redoes it whole).
  */
object StreamingIndex {

  /** Attach incremental maintenance to a streaming docs source. The stream
    * must carry the input-table schema (url, warc_ts, text, lang [, html]).
    */
  def maintain(spark: SparkSession, docsStream: DataFrame, indexDir: String,
               cfg: IndexBuild.Config, checkpoint: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    docsStream
      .withWatermark("warc_ts", "1 hour") // tolerate late re-crawls
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(spark, batch, indexDir, cfg)
      }
      .start()
  }

  /** Event-time ingestion monitoring: per (event-time window, lang) page
    * and character counts (`length(text)` counts characters, not octets;
    * multibyte text lands below its wire size) — watermarked so state is
    * bounded and windows close (append-mode capable). The streaming analog
    * of the `info` view, for watching a 100 TB crawl land: partial
    * aggregation happens map-side per micro-batch; only per-window partials
    * shuffle.
    */
  def ingestionStats(docsStream: DataFrame,
                     windowLen: String = "10 minutes",
                     lateness: String = "1 hour"): DataFrame =
    docsStream
      .withWatermark("warc_ts", lateness)
      .groupBy(window(col("warc_ts"), windowLen), col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        sum(length(col("text")).cast("long")).as("n_chars"))

  /** Stateful per-url version dedup (`flatMapGroupsWithState`): emit a page
    * only when its warc_ts is strictly newer than the newest version this
    * stream has already emitted for that url — the streaming guard that
    * keeps re-crawled duplicates and out-of-order stale versions from ever
    * reaching [[upsertBatch]] (which would tombstone + re-add them).
    * State per url is ONE timestamp; event-time timeout expires idle urls
    * at the watermark so state stays bounded by the active-url set, not
    * crawl history.
    *
    * Schema note: the output is narrowed to (url, warc_ts, text, lang) —
    * extra input columns (e.g. html) do not pass through; [[upsertBatch]]
    * consumes exactly this narrowed shape, so the two compose directly.
    */
  def dedupVersions(docsStream: DataFrame, latenessMs: Long = 3600000L)
      : Dataset[(String, java.sql.Timestamp, String, String)] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    docsStream
      .withWatermark("warc_ts", s"${latenessMs / 1000} seconds")
      .select($"url", $"warc_ts", $"text", $"lang")
      .as[(String, java.sql.Timestamp, String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(String, java.sql.Timestamp, String, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var newest = state.getOption.getOrElse(Long.MinValue)
            // process in event-time order so one batch carrying several
            // versions emits only the strictly-increasing ones
            val out = rows.toSeq.sortBy(_._2.getTime).filter { r =>
              val t = r._2.getTime
              if (t > newest) { newest = t; true } else false
            }
            state.update(newest)
            // clamp: late-data filtering uses the PREVIOUS batch's
            // watermark, so a row can reach here whose newest+lateness is
            // already below the CURRENT eviction watermark — an unclamped
            // setTimeoutTimestamp would throw and kill the whole query
            state.setTimeoutTimestamp(
              math.max(newest + latenessMs, state.getCurrentWatermarkMs + 1))
            out.iterator
          }
      }
  }

  /** Merge one micro-batch of new/updated pages into the index as a
    * changelog partial-snapshot update: work is O(batch) — the batch's
    * urls are diffed against only their own docparts of the chunk store,
    * stale versions are tombstoned, and the delta is appended (ids from
    * the nextDocId high-water mark). Nothing outside the batch is read
    * beyond pruned chunk-store metadata; no corpus reconstruction.
    */
  def upsertBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                  cfg: IndexBuild.Config): Unit = synchronized {
    import spark.implicits._
    // a micro-batch may carry several updates to one url; keep only the
    // newest per url (latest warc_ts) or the delta would produce duplicate
    // (url, chunk_seq) rows and colliding doc ids
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy($"url").orderBy($"warc_ts".desc)
    val b = batch.select($"url", $"warc_ts", $"text", $"lang")
      .withColumn("rn", row_number().over(latest))
      .where($"rn" === 1).drop("rn")
      .cache()
    if (b.isEmpty) { b.unpersist(); return }
    if (graft.build.Manifest.exists(indexDir))
      Maintenance.update(spark, indexDir, b, cfg, partialSnapshot = true)
    else
      IndexBuild.build(spark, b, indexDir, cfg)
    b.unpersist()
  }
}
