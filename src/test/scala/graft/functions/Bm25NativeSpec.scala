package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Unit pins for the native BM25 kernels — the integration surface
  * (score equality with a local replica, oracle hash-exactness) lives
  * in Bm25Spec/HybridSearchSpec; this spec pins the kernel-level
  * contracts the rewrite relies on.
  */
class Bm25NativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matchVec: 0/1 aligned with terms; null/absent tokens give the zero vector") {
    val df = Seq(
      (1, Seq("a", "b", "b")), (2, Seq("c")), (3, null)
    ).toDF("id", "toks")
    val out = df.select(col("id"),
        Bm25Native.matchVecCol(col("toks"), Seq("b", "z", "c")).as("mv"))
      .orderBy("id")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toList))
    assert(out.toList == List(
      (1, List(1.0, 0.0, 0.0)),
      (2, List(0.0, 0.0, 1.0)),
      (3, List(0.0, 0.0, 0.0)))) // null → zeros, not null (array_to_vector asserts)
  }

  test("contribs: one-pass tf ≡ the HOF chain's per-term arithmetic, null-in null-out") {
    // replicate the replaced chain by hand for one doc
    val terms = Seq("x", "y")
    val (n, avgdl, dfs, k1, b) = (10L, 4.0, Seq(3.0, 0.0), 1.2, 0.75)
    val df = Seq((1, Seq("x", "q", "x")), (2, null)).toDF("id", "toks")
    val out = df.select(col("id"), Bm25Native.contribsCol(col("toks"),
        typedlit(dfs), lit(n), lit(avgdl), terms, k1, b).as("c"))
      .orderBy("id").collect()
    val got = out(0).getSeq[Double](1)
    def expect(tf: Double, dfT: Double, dl: Double): Double = {
      val lenNorm = (1.0 - b) + (b * dl) / avgdl
      val idf = math.log(1.0 + ((n.toDouble - dfT) + 0.5) / (dfT + 0.5))
      (idf * (tf * (k1 + 1.0))) / (tf + k1 * lenNorm)
    }
    assert(got(0) == expect(2.0, 3.0, 3.0)) // bit-exact, not approx
    assert(got(1) == expect(0.0, 0.0, 3.0))
    assert(out(1).isNullAt(1)) // null text → null array; callers guard via _tnull
  }

  test("sumOrdered folds left in array order; pickSum is 1-based, 0/oob/null add 0") {
    val df = Seq((Seq(0.1, 0.2, 0.4), Seq(3L, 1L, 0L, 99L))).toDF("v", "i")
    val r = df.select(
      Bm25Native.sumOrderedCol(col("v")).as("s"),
      Bm25Native.pickSumCol(col("v"), col("i")).as("p")).head()
    assert(r.getDouble(0) == 0.1 + 0.2 + 0.4)
    assert(r.getDouble(1) == 0.4 + 0.1) // idx 0 and 99 contribute nothing
  }

  test("kernels evaluate identically interpreted and codegen'd") {
    // force the interpreted path by evaluating the expression directly
    val terms = IndexedSeq("a", "b")
    val df = spark.range(1).select(
      Bm25Native.contribsCol(typedlit(Seq("a", "a", "c")),
        typedlit(Seq(2.0, 1.0)), lit(5L), lit(3.0), terms, 1.2, 0.75).as("c"))
    val interp = df.queryExecution.analyzed.expressions.head.children.head.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    // the same computation through a (codegen-planned) projection
    val viaPlan = df.head().getSeq[Double](0).toArray
    assert(interp.toSeq == viaPlan.toSeq)
  }
}
