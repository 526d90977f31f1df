package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16

  private def randVecs(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq))
  }

  private def corpus(n: Int = 300, seed: Long = 7L) =
    randVecs(n, seed).toDF("id", "vec")

  private def tmp(): String =
    graft.TestDirs.create("graft_bq").toString

  private def encode(df: org.apache.spark.sql.DataFrame, model: Bq.BqModel) =
    df.withColumn("_code", AnnIndex.Bq(model).encode($"vec"))

  test("full-pool BQ top-k ≡ brute-force cosine top-k (pool ≥ corpus)") {
    val df = corpus()
    val model = Bq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(model))
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query, k = 10, pool = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("codes pack to ceil(dim/8) bytes; cosine metric makes scaled copies share a code") {
    val df = corpus(50)
    val model = Bq.fit(df, "id", "vec")
    assert(model.codeBytes == 2) // 16 dims → 2 bytes: 32× under float32
    val codes = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_.length == 2))
    val scaled = df.select($"id",
      transform($"vec", x => x * lit(10.0f)).as("vec"))
    val scaledCodes = encode(scaled, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.zip(scaledCodes).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
  }

  test("planted exact clone of the query survives a pruned pool at rank 1 (Hamming 0)") {
    val df = corpus(500)
    val query = randVecs(1, 123L).head._2.map(_.toFloat).toArray
    val withClone = df.union(Seq((9999L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>")))
    val model = Bq.fit(withClone, "id", "vec")
    val path = tmp()
    AnnIndex.build(withClone, "id", "vec", path, AnnIndex.Bq(model))
    // 1-bit codes are coarse: at dim=16 many rows tie at low Hamming,
    // so the pool must be sized generously relative to k — but the
    // clone's Hamming is exactly 0, and id-tiebreak keeps every
    // Hamming-0 row ahead of Hamming-1, so a pool ≥ the Hamming-0
    // count always retains it. 50/501 is a 10× pruning.
    val got = AnnIndex.search(spark, path, withClone, "id", "vec", query, k = 5, pool = 50)
      .collect()
    assert(got.head.getLong(0) == 9999L && got.head.getDouble(1) == 1.0)
  }

  test("Hamming ranking beats random: pruned-pool recall clears the pool-share baseline") {
    val df = corpus(500, seed = 21L)
    val model = Bq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(model))
    val queries = randVecs(5, 77L)
    val recalls = queries.map { case (_, qSeq) =>
      val q = qSeq.map(_.toFloat).toArray
      val got = AnnIndex.search(spark, path, df, "id", "vec", q, k = 10, pool = 100)
        .collect().map(_.getLong(0)).toSet
      val want = Similarity.cosineTopK(df, "id", "vec", q, 10)
        .collect().map(_.getLong(0)).toSet
      (got & want).size.toDouble / 10
    }
    val mean = recalls.sum / recalls.length
    // a random 100/500 pool would recall 0.2 in expectation; sign-bit
    // ranking at dim=16 must do much better (deterministic seeds)
    assert(mean >= 0.5, s"mean recall $mean at a 5× pruned pool")
  }

  test("append without re-fit joins the index under the saved thresholds") {
    val df = corpus(200)
    val model = Bq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Bq(model))
    val query = randVecs(1, 55L).head._2.map(_.toFloat).toArray
    val batch = Seq((5555L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>"))
    AnnIndex.append(batch, "id", "vec", path)
    val all = df.unionByName(batch)
    val got = AnnIndex.search(spark, path, all, "id", "vec", query, k = 3, pool = 50)
      .collect()
    assert(got.head.getLong(0) == 5555L && got.head.getDouble(1) == 1.0)
  }

  test("mis-dimensioned vectors and foreign codes raise; null vector → null code") {
    val df = corpus(20)
    val model = Bq.fit(df, "id", "vec")
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    def rootMessages(t: Throwable): List[String] =
      Option(t.getMessage).toList ++
        Option(t.getCause).toList.flatMap(rootMessages)
    val e = intercept[Exception] { encode(short, model).collect() }
    assert(rootMessages(e).exists(_.contains("graft_bq_encode")))
    // a foreign-width code must raise at scan time, not score garbage
    assert(intercept[IllegalArgumentException] {
      graft.functions.BqFunctions.hamming(Array[Byte](1, 2, 3), Array[Byte](1))
    }.getMessage.contains("graft_bq_hamming"))
    val withNull = df.select($"id",
      when($"id" === 0L, lit(null).cast("array<float>"))
        .otherwise($"vec".cast("array<float>")).as("vec"))
    val nullIds = encode(withNull, model)
      .filter($"_code".isNull).select("id").collect().map(_.getLong(0))
    assert(nullIds.toSeq == Seq(0L))
  }
}
