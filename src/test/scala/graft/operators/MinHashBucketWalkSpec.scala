package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{ArrayPairs, TextSignatures}
import graft.functions.CurationKernelsSpec.withCodegen

/** The MinHash candidate stage ([[Dedup.bandCandidates]]: fused band
  * keys, then a sorted walk over (band, bucket, id) rows) against the
  * formulation it replaced, kept here as the reference: per-band
  * `xxhash64(b, signature slice)` keys, a `collect_list` per
  * (band, bucket), `array_sort`, and the i < j pairs of every bucket
  * with 2..maxBucketSize members. Collisions are forced by a tiny
  * shingle-hash pool and 1–2 rows per band; ids repeat and are
  * sometimes null.
  */
class MinHashBucketWalkSpec extends AnyFunSuite {
  import MinHashBucketWalkSpec.Case
  private lazy val spark = TestSpark.spark

  /** `xxhash64(b, sig[b·r + 1], …, sig[b·r + r])` for every band. */
  private def structKeys(hsh: Column, bands: Int, r: Int): Seq[Column] = {
    val sig = TextSignatures.minHashSigCol(hsh, bands * r)
    (0 until bands).map(b =>
      xxhash64(lit(b) +: (0 until r).map(j => element_at(sig, b * r + j + 1)): _*))
  }

  private def reference(hashed: DataFrame, bands: Int, r: Int, maxBucketSize: Int): DataFrame =
    hashed
      .select(col("_id"), posexplode(array(structKeys(col("_hsh"), bands, r): _*))
        .as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(collect_list(col("_id")).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucketSize))
      .select(explode(ArrayPairs.orderedPairsCol(array_sort(col("_ids")))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))

  private def multiset(df: DataFrame): Map[(Any, Any), Int] =
    df.collect().toSeq.map(r => (r.get(0), r.get(1))).groupBy(identity).map {
      case (k, v) => k -> v.size
    }

  private def genCase(id: Gen[Any]): Gen[Case] = for {
    n <- Gen.choose(2, 40)
    rows <- Gen.listOfN(n, for {
      i <- Gen.frequency(1 -> Gen.const(null), 8 -> id)
      k <- Gen.choose(1, 4)
      hs <- Gen.listOfN(k, Gen.choose(0L, 5L))
    } yield Row(i, hs.distinct))
    bands <- Gen.choose(1, 6)
    r <- Gen.choose(1, 2)
    cap <- Gen.frequency(4 -> Gen.choose(-1, 8), 1 -> Gen.const(Int.MaxValue))
  } yield Case(rows, bands, r, cap)

  private def walkMatches(idType: DataType, id: Gen[Any], seed: Long): Unit = {
    val schema = StructType(Seq(StructField("_id", idType),
      StructField("_hsh", ArrayType(LongType, containsNull = false))))
    var overCap = 0
    val prop = Prop.forAll(genCase(id)) { c =>
      val hashed = spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 3), schema)
      val want = multiset(reference(hashed, c.bands, c.r, c.maxBucketSize))
      val got = multiset(Dedup.bandCandidates(c.bands, c.r, c.maxBucketSize)(hashed))
      if (c.maxBucketSize >= 2 && c.maxBucketSize < c.rows.size) overCap += 1
      got == want
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, res.status.toString)
    assert(overCap > 0, "no case had a bucket cap below its row count")
  }

  test("bucket walk ≡ collect_list → array_sort → ordered pairs, Long ids (nulls, duplicates, caps)") {
    walkMatches(LongType, Gen.choose(0L, 15L), 21)
  }

  test("bucket walk ≡ collect_list → array_sort → ordered pairs, String ids (nulls, duplicates, caps)") {
    walkMatches(StringType, Gen.choose(0, 15).map(i => s"d$i"), 22)
  }

  test("a duplicated id pairs with itself and an over-cap bucket gives no pairs") {
    val schema = StructType(Seq(StructField("_id", LongType),
      StructField("_hsh", ArrayType(LongType, containsNull = false))))
    val same = Seq(1L, 2L, 3L)
    val rows = Seq(Row(7L, same), Row(7L, same), Row(null, same), Row(8L, Seq(9L)))
    val hashed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // one band: {7, 7} (the null id takes no part) collide; 8 is alone
    assert(multiset(Dedup.bandCandidates(1, 2, 2)(hashed)) == Map((7L, 7L) -> 1))
    val three = hashed.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5L, same)), 1), schema))
    assert(multiset(Dedup.bandCandidates(1, 2, 3)(three)) ==
      Map((5L, 7L) -> 2, (7L, 7L) -> 1))
    assert(Dedup.bandCandidates(1, 2, 2)(three).collect().isEmpty)
  }

  test("graft_minhash_bands ≡ xxhash64(b, slice of graft_minhash_sig), interpreted and generated") {
    val gen = for {
      docs <- Gen.listOfN(30, Gen.choose(0, 12).flatMap(k => Gen.listOf(Gen.long).map(_.take(k))))
      bands <- Gen.choose(1, 20)
      r <- Gen.choose(1, 8)
    } yield (docs, bands, r)
    val schema = StructType(Seq(StructField("_hsh", ArrayType(LongType, containsNull = false))))
    val prop = Prop.forAll(gen) { case (docs, bands, r) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map(Row(_)), 2), schema)
      val both = df.select(
        TextSignatures.minHashBandsCol(col("_hsh"), bands, r).as("fused"),
        array(structKeys(col("_hsh"), bands, r): _*).as("composed"))
      Seq(false, true).forall { on =>
        withCodegen(on) {
          both.collect().forall(row => row.getSeq[Long](0) == row.getSeq[Long](1))
        }
      }
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(23)), prop)
    assert(res.passed, res.status.toString)
  }

  test("graft_minhash_bands resolves in SQL and rejects bad literals") {
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_minhash_bands(array(1L, 2L, 3L), 4, 2) AS k").head().getSeq[Long](0)
    val viaCol = spark.range(1).select(TextSignatures.minHashBandsCol(
      typedLit(Seq(1L, 2L, 3L)), 4, 2)).head().getSeq[Long](0)
    assert(viaSql.size == 4 && viaSql == viaCol)
    for (bad <- Seq("0, 2", "4, 0", "65536, 32768")) {
      val e = intercept[Exception](spark.sql(s"SELECT graft_minhash_bands(array(1L), $bad)").collect())
      assert(e.getMessage.contains("rowsPerBand") || e.getMessage.contains("bands"), e.getMessage)
    }
  }
}

object MinHashBucketWalkSpec {
  private final case class Case(rows: Seq[Row], bands: Int, r: Int, maxBucketSize: Int)
}
