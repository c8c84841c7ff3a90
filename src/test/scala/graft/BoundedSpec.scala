package graft

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
  }
}
