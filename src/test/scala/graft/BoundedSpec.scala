package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Encoders

/** The bounded-collect gate: all rows at or below the gate, none above. */
class BoundedSpec extends SparkSuite {
  test("Some(rows) at or below the gate, None above it") {
    val ds = spark.range(5).as[Long](org.apache.spark.sql.Encoders.scalaLong)
    assert(Bounded.collect(ds, 5).map(_.sorted.toSeq).contains(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(Bounded.collect(ds, 4).isEmpty)
    assert(Bounded.collect(ds.limit(0), 0).exists(_.isEmpty))
    assert(Bounded.collect(ds, 0).isEmpty)
    // a gate past the largest array is clamped, not wrapped negative
    assert(Bounded.collect(ds, Long.MaxValue).map(_.length).contains(5))
    // rows of a DataFrame decode through its Row encoder
    assert(Bounded.collect(ds.toDF("id"), 5).map(_.map(_.getLong(0)).toSeq)
      .contains(Seq(0L, 1L, 2L, 3L, 4L)))
  }

  test("a multi-file table: one job, and no task ships more than gate + 1 rows") {
    val enc = org.apache.spark.sql.Encoders.scalaLong
    val dir = tmpDir("bounded") + "/t"
    spark.range(0, 40, 1, 4).write.parquet(dir) // 4 files of 10 rows
    val table = spark.read.parquet(dir).as[Long](enc)
    assert(table.inputFiles.length == 4)
    val shipped = spark.sparkContext.longAccumulator("shipped")
    val counted = table.map { x => shipped.add(1); x }(enc)
    for ((gate, want) <- Seq(3L -> None, 25L -> None, 39L -> None,
                            40L -> Some((0L until 40L).toSeq))) {
      shipped.reset()
      var got: Option[Array[Long]] = None
      val n = jobs { got = Bounded.collect(counted, gate) }
      assert(got.map(_.sorted.toSeq) == want, s"gate $gate")
      assert(n == 1, s"gate $gate: $n jobs")
      // each of the 4 partitions stops reading after gate + 1 rows
      assert(shipped.value <= 4 * math.min(gate + 1, 10), s"gate $gate: ${shipped.value} rows")
    }
  }

  test("above the gate the job is cancelled: unfinished tasks ship nothing") {
    val enc = Encoders.scalaLong
    val (perPart, nParts, gate) = (20, 32, 25L)
    val slow = spark.range(0, perPart * nParts, 1, nParts).as[Long](enc)
      .mapPartitions { it => Thread.sleep(300); it }(enc)
    val finished = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == Success) finished.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      var got: Option[Array[Long]] = Some(Array.empty)
      val n = jobs { got = Bounded.collect(slow, gate) }
      ListenerBusDrain(spark.sparkContext)
      assert(got.isEmpty)
      assert(n == 1, s"$n jobs")
      // two partitions pass the gate; besides them only the tasks already
      // running on the 4 local cores can finish, not all 32
      assert(finished.get * perPart <= gate + 1 + 4 * perPart,
        s"${finished.get} of $nParts tasks shipped their rows")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
