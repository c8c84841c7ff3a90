package graft

import graft.build.IndexBuild
import graft.maint.Maintenance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An index after churn: built, then two changelog updates of five pages
  * in all with segment merging off, so hot keys' (key, range_id) groups
  * hold several segments, then a delete of eight more pages. Old versions and deleted
  * pages stay in the docs store as tombstoned doc ids.
  */
object ChurnedIndex {

  def apply(spark: SparkSession, dir: String, docs: DataFrame,
            cfg: IndexBuild.Config): String = {
    import spark.implicits._
    IndexBuild.build(spark, docs, dir, cfg)
    val urls = docs.select("url").orderBy("url").as[String].collect().toSeq
    for (batch <- Seq(urls.take(2), urls.slice(2, 5))) {
      val changed = docs.where($"url".isin(batch: _*))
        .withColumn("text", concat($"text", lit("the quagga of the wallaby and\n")))
        .withColumn("warc_ts", lit("2023-01-01 00:00:00").cast("timestamp"))
      Maintenance.update(spark, dir, changed, cfg.copy(autoMergeSegments = 0),
        partialSnapshot = true)
    }
    Maintenance.delete(spark, dir, urls.slice(5, 10) ++ urls.takeRight(3))
    require(spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .groupBy("key", "range_id").count().where($"count" > 1).count() > 0,
      "expected multi-segment groups")
    dir
  }

  /** The doc ids the index has tombstoned. */
  def deadIds(spark: SparkSession, dir: String): Set[Long] = {
    import spark.implicits._
    Maintenance.tombstones(spark, dir).select($"doc_id").as[Long].collect().toSet
  }
}
