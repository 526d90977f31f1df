package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Unit pins for the r12 CharEntropy / ChunkDocs kernels (integration
  * is the oracle-exact x_entropy_filter / x_chunk_docs rows).
  */
class ChunkEntropySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("charEntropy: known values, null/empty → 0.0, single-char → 0.0") {
    val df = Seq((1, "aabb"), (2, ""), (3, null), (4, "zzzz"), (5, "abcd"))
      .toDF("id", "t")
    val out = df.select(col("id"),
        TextFunctions.charEntropy(col("t")).as("e"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(out(0)._2 == 1.0)      // two chars, p=0.5 each
    assert(out(1)._2 == 0.0)
    assert(out(2)._2 == 0.0)
    assert(out(3)._2 == 0.0)      // single repeated char
    assert(out(4)._2 == 2.0)      // four chars, p=0.25 each
  }

  test("chunks: whole-doc chunk for short docs, 50% overlap windows, tail sizes") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = spark.range(1).select(
        explode(ChunkDocs.chunksCol(lit(text), 32, 16)).as("c"))
      .select("c.chunk_id", "c.n_chunk_tokens").as[(Long, Long)]
      .collect().toList
    // 40 tokens, W=32 S=16: lastStart = ceil(8/16) = 1 → chunks 0,1
    assert(rows == List((0L, 32L), (1L, 24L)))

    val short = spark.range(1).select(
        explode(ChunkDocs.chunksCol(lit("a b c"), 32, 16)).as("c"))
      .select("c.chunk", "c.n_chunk_tokens").as[(String, Long)].collect().toList
    assert(short == List(("a b c", 3L)))

    // null text → no chunks (the replaced chain's null sequence)
    val none = Seq((1, null: String)).toDF("id", "t")
      .select(explode(ChunkDocs.chunksCol(col("t"), 32, 16))).count()
    assert(none == 0L)
  }

  test("SQL names register and resolve") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_char_entropy('abcd') AS e, " +
        "size(graft_chunks('a b c d e', 2, 2)) AS nc").head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getInt(1) == 3) // ceil((5-2)/2)=2 → chunk_ids 0,1,2
  }
}
