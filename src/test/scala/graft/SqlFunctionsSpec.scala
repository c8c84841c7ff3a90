package graft

import org.apache.spark.sql.functions._

/** SQL surface: the engine's native expressions registered via
  * GraftFunctions.register / GraftExtensions must match the core library
  * bit-for-bit and stay codegen'd.
  */
class SqlFunctionsSpec extends SparkSuite {

  test("verify_match and graft_grams are callable from SQL and match core") {
    graft.functions.GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT verify_match('the quick brown fox', array('quick','fox')) AS a,
                verify_match('twotwo', array('two')) AS b,
                verify_match('partial-only hit', array('artia'), true) AS c,
                verify_match('partial-only hit', array('artia')) AS d,
                graft_grams('this is a test') AS g,
                graft_grams('abc', true) AS gp""").head()
    assert(rows.getInt(0) == 4)
    assert(rows.getInt(1) == 3) // suffix-resume quirk preserved through SQL
    assert(rows.getInt(2) == 1)
    assert(rows.getInt(3) == -1)
    assert(rows.getSeq[Int](4) ==
      graft.core.Gram.gramsSorted(partial = false, Seq("this is a test")).toSeq)
    assert(rows.getSeq[Int](5) ==
      graft.core.Gram.gramsSorted(partial = true, Seq("abc")).toSeq)
  }

  test("graft_grams column API equals the build's gram extraction") {
    import spark.implicits._
    val texts = Seq("one two three", "", "Mixed CASE  runs", "καλός unicode")
    val got = texts.toDF("t")
      .select(graft.functions.GramsOf(col("t"), partial = false).as("g"))
      .collect().map(_.getSeq[Int](0).toSeq)
    val want = texts.map(t => graft.core.Gram.gramsSorted(partial = false, Seq(t)).toSeq)
    assert(got.toSeq == want)
  }

  test("DocIdIn: codegen and interpreted eval agree with set membership; ids compare by value and print as a count") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import graft.functions.DocIdIn
    val ids = Seq(42L, 7L, 1000000007L, -3L)
    val probes = (-5L until 50L) ++ (1000000005L until 1000000010L)
    val want = probes.filter(ids.contains)
    val codegen = spark.range(-5, 50).union(spark.range(1000000005L, 1000000010L)).toDF("doc_id")
      .where(DocIdIn(col("doc_id"), ids)).collect().map(_.getLong(0)).sorted.toSeq
    assert(codegen == want)
    val in = DocIdIn(BoundReference(0, LongType, nullable = true), ids.sorted.toArray)
    assert(probes.filter(p => in.eval(InternalRow(p)) == true) == want)
    assert(in.eval(InternalRow(null)) == null)
    // equal ids in another array: equal expressions, so plans compare and cache by value
    val same = in.copy(ids = ids.sorted.toArray)
    assert(same == in && same.hashCode == in.hashCode)
    assert(in.copy(ids = Array(7L)) != in)
    assert(in.toString.contains("4 ids") && !in.toString.contains("1000000007"), in.toString)
    assert(!in.sql.contains("1000000007"), in.sql)
  }

  test("non-constant args to verify_match are rejected") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq(("a", "a")).toDF("chunk", "arg")
        .selectExpr("verify_match(chunk, array(arg))").collect()
    }
    assert(ex.getMessage.contains("constant"), ex.getMessage)
  }
}
