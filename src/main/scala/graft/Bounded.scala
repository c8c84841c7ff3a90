package graft

import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor

/** The one "collect if small, else stay distributed" decision shared by the
  * query engine (dictionary cache, dead-doc set, bad-url set) and the text
  * ops (boilerplate set).
  */
object Bounded {

  /** `Some(rows)` when `ds` has at most `gate` rows, else `None`. ONE Spark
    * job decides, not count-then-collect and not `limit(gate + 1)`, whose
    * incremental take scans one partition and then the rest in a second
    * job. Every task ships at most gate + 1 of its partition's rows, as
    * binary `InternalRow`s decoded on the driver. The driver keeps a
    * partition's rows only while the running total is at or below the
    * gate, so it never holds more than gate + 1 rows of the answer; the
    * moment the total passes the gate the job is cancelled, so tasks that
    * have not finished ship nothing (what crosses the wire above the gate
    * is the tasks finished by then: about gate + 1 rows plus one row batch
    * per running task). Rows come back in partition order; a relation with
    * no partitions (an absent optional table) runs no job. Gates past the
    * largest array are clamped to it.
    */
  def collect[T](ds: Dataset[T], gate: Long): Option[Array[T]] = {
    require(gate >= 0, s"negative gate $gate")
    val n = math.min(gate, Int.MaxValue - 1L).toInt
    val rdd = ds.queryExecution.toRdd
    val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
    if (parts.isEmpty) return Some(ds.encoder.clsTag.newArray(0))
    @volatile var over = false
    var held = 0L
    val job = new AtomicReference[FutureAction[Unit]]
    val f = ds.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[InternalRow]) => it.take(n + 1).map(_.copy()).toArray, parts.indices,
      (i: Int, part: Array[InternalRow]) =>
        if (!over) {
          held += part.length
          if (held <= n) parts(i) = part
          else {
            over = true
            java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
            Option(job.get).foreach(_.cancel())
          }
        }, ())
    job.set(f)
    if (over) f.cancel()
    Await.ready(f, Duration.Inf)
    if (over) None
    else {
      f.value.get.get // rethrows a failed job
      val fromRow = encoderFor(ds.encoder)
        .resolveAndBind(ds.queryExecution.analyzed.output).createDeserializer()
      Some(parts.iterator.flatten.map(fromRow(_)).toArray(ds.encoder.clsTag))
    }
  }
}
