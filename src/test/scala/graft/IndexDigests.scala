package graft

import graft.build.IndexBuild
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Digests of everything the posting writers emit: both posting tables
  * (every (bucket, key, range_id) segment: its metadata and an md5 of its
  * bytes) and both dictionaries.
  */
object IndexDigests {

  /** md5 over the sorted string form of every row: row order on disk and
    * file layout do not matter, every value does.
    */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  private def segments(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("bucket"), col("key"), col("range_id"),
      col("first_doc"), col("last_doc"), col("n_docs"), col("sum_tf"), col("max_tf"),
      col("n_bytes"), md5(col("postings")))

  /** (term segments, gram segments, term dictionary, gram dictionary) */
  def apply(spark: SparkSession, dir: String): Seq[String] = Seq(
    digest(segments(spark, IndexBuild.termPostingsDir(dir))),
    digest(segments(spark, IndexBuild.gramPostingsDir(dir))),
    digest(spark.read.parquet(IndexBuild.dictDir(dir))
      .select(col("term"), col("df"), col("cf"), col("max_tf"))),
    digest(spark.read.parquet(IndexBuild.gramDictDir(dir))
      .select(col("gram"), col("df"))))
}
