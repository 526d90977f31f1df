package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every guarded `limit(cap + 1)` probe at its bounds: a cap of
  * `Int.MaxValue` must mean "collect everything" (an unclamped `+ 1`
  * wraps to `limit(Int.MinValue)` and throws), and the smallest legal
  * cap must still guard.
  */
class ProbeCapBoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val text = Seq(
    (1L, "low lower newest widest low"),
    (2L, "newest widest lowest"),
    (3L, "low low new")).toDF("doc_id", "text")
  private lazy val oneWord = Seq((1L, "aaa"), (2L, "aaa")).toDF("doc_id", "text")

  test("BpeTrain.train: maxWords = Int.MaxValue equals the default cap; maxWords = 1 still guards") {
    assert(BpeTrain.train(text, "text", 3, maxWords = Int.MaxValue) ==
      BpeTrain.train(text, "text", 3))
    assert(BpeTrain.train(oneWord, "text", 1, maxWords = 1).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      BpeTrain.train(text, "text", 3, maxWords = 1)
    }
    assert(e.getMessage.contains("maxWords=1"), e.getMessage)
  }

  test("ByteBpe.train: maxWords = Int.MaxValue equals the default cap; maxWords = 1 still guards") {
    assert(ByteBpe.train(text, "text", 3, maxWords = Int.MaxValue) ==
      ByteBpe.train(text, "text", 3))
    assert(ByteBpe.train(oneWord, "text", 1, maxWords = 1).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      ByteBpe.train(text, "text", 3, maxWords = 1)
    }
    assert(e.getMessage.contains("maxWords=1"), e.getMessage)
  }

  test("UnigramLm.train: maxWords = Int.MaxValue equals the default cap; maxWords = 1 still guards") {
    val capped = UnigramLm.train(text, "text", vocabSize = 8, maxWords = Int.MaxValue)
    val default = UnigramLm.train(text, "text", vocabSize = 8)
    assert(capped.logProb == default.logProb && capped.unkLogProb == default.unkLogProb)
    assert(UnigramLm.train(oneWord, "text", vocabSize = 2, maxWords = 1).logProb.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      UnigramLm.train(text, "text", vocabSize = 8, maxWords = 1)
    }
    assert(e.getMessage.contains("maxWords=1"), e.getMessage)
  }

  test("NgramStats.topK: keptBroadcastLimit = Int.MaxValue and 0 on the guarded path equal the default") {
    // probe conf forced to 0: the single probe overflows at once, so
    // the kept set goes through the guarded collect capped at
    // keptBroadcastLimit
    val want = NgramStats.topK(text, "text", 2, 3).collect().toSeq
    spark.conf.set(graft.Conf.NgramKeptProbeLimitKey, "0")
    try for (limit <- Seq(Int.MaxValue, 0))
      assert(NgramStats.topK(text, "text", 2, 3, keptBroadcastLimit = limit)
        .collect().toSeq == want, s"keptBroadcastLimit=$limit")
    finally spark.conf.unset(graft.Conf.NgramKeptProbeLimitKey)
  }

  private lazy val chains = Seq((1L, 2L), (3L, 2L), (10L, 11L)).toDF("id_a", "id_b")
  private lazy val docs = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("id")

  private def driverPath(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case l: LocalRelation => l }.isDefined

  test("connectedComponents / dropNearDuplicates(By): collectLimit = Int.MaxValue takes the driver path, 1 overflows to the distributed path") {
    val want = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    for ((limit, local) <- Seq(Int.MaxValue -> true, 1 -> false, 0 -> false);
         canonical <- Seq(false, true)) {
      val clue = s"collectLimit=$limit assumeCanonical=$canonical"
      val cc = Dedup.connectedComponents(chains, collectLimit = limit,
        assumeCanonical = canonical)
      assert(cc.as[(Long, Long)].collect().toSet == want, clue)
      assert(driverPath(cc) == local, clue)
      val kept = Dedup.dropNearDuplicates(docs, "id", chains,
        collectLimit = limit, assumeCanonical = canonical)
      assert(kept.as[Long].collect().toSet == Set(1L, 10L, 12L), clue)
      val keptBy = Dedup.dropNearDuplicatesBy(docs, "id", chains, -col("id"),
        collectLimit = limit, assumeCanonical = canonical)
      assert(keptBy.as[Long].collect().toSet == Set(1L, 10L, 12L), clue)
    }
    // the smallest probing cap still collects a graph that fits it
    val one = Dedup.connectedComponents(Seq((5L, 6L)).toDF("id_a", "id_b"),
      collectLimit = 1)
    assert(driverPath(one))
    assert(one.as[(Long, Long)].collect().toSet == Set(5L -> 5L, 6L -> 5L))
  }
}
