package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SqSpec extends AnyFunSuite {
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
    graft.TestDirs.create("graft_sq").toString

  private def encode(df: org.apache.spark.sql.DataFrame, model: Sq.SqModel) =
    df.withColumn("_code", AnnIndex.Sq8(model).encode($"vec"))

  test("full-pool SQ8 top-k ≡ brute-force cosine top-k (pool ≥ corpus)") {
    val df = corpus()
    val model = Sq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model))
    val query = randVecs(1, 99L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query, k = 10, pool = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("SQ8 fidelity: dequantization error ≤ half a grid step per dim") {
    val df = corpus(200)
    val model = Sq.fit(df, "id", "vec")
    val rows = encode(
      df.select($"id", $"vec".as("orig"), $"vec"), model)
      .select($"orig".cast("array<double>"), $"_code").collect()
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Double]](0).toArray
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val unit = v.map(_ / nrm) // cosine metric: grid lives on the sphere
      val code = r.getAs[Array[Byte]](1)
      unit.indices.foreach { i =>
        val deq = model.mins(i) + model.scales(i) * (code(i) & 0xff)
        // interior points land within scale/2; sample-range edges clamp,
        // and every corpus row here WAS in the fit sample, so no clamping
        assert(math.abs(deq - unit(i)) <= model.scales(i) / 2 + 1e-12,
          s"dim $i: |$deq - ${unit(i)}| > ${model.scales(i) / 2}")
      }
    }
  }

  test("tiny pool (pool = k) already ≡ brute force on random data — the fidelity claim") {
    // PQ at nsub=4 mis-ranks badly at pool=k on random vectors; SQ8's
    // half-step error bound keeps the ADC order faithful enough that
    // the top-10 pool IS the true top-10 here.
    val df = corpus(500, seed = 21L)
    val model = Sq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model))
    val query = randVecs(1, 77L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query, k = 10, pool = 10)
      .collect().map(_.getLong(0)).toSet
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert((got & want).size >= 9, s"recall ${(got & want).size}/10 at pool=k")
  }

  test("planted exact clone of the query survives a 50× pruned pool at rank 1") {
    val df = corpus(500)
    val query = randVecs(1, 123L).head._2.map(_.toFloat).toArray
    val withClone = df.union(Seq((9999L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>")))
    val model = Sq.fit(withClone, "id", "vec")
    val path = tmp()
    AnnIndex.build(withClone, "id", "vec", path, AnnIndex.Sq8(model))
    val got = AnnIndex.search(spark, path, withClone, "id", "vec", query, k = 5, pool = 10)
      .collect()
    assert(got.head.getLong(0) == 9999L && got.head.getDouble(1) == 1.0)
  }

  test("codes are dim bytes; cosine metric makes scaled copies share a code") {
    val df = corpus(50)
    val model = Sq.fit(df, "id", "vec")
    val codes = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_.length == dim))
    val scaled = df.select($"id",
      transform($"vec", x => x * lit(10.0f)).as("vec"))
    val scaledCodes = encode(scaled, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.zip(scaledCodes).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
  }

  test("append without re-fit: new rows join the index under the saved grid") {
    val df = corpus(200)
    val model = Sq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model))
    val query = randVecs(1, 55L).head._2.map(_.toFloat).toArray
    val batch = Seq((5555L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>"))
    AnnIndex.append(batch, "id", "vec", path)
    val all = df.unionByName(batch)
    val got = AnnIndex.search(spark, path, all, "id", "vec", query, k = 3, pool = 10)
      .collect()
    assert(got.head.getLong(0) == 5555L && got.head.getDouble(1) == 1.0)
  }

  test("mis-dimensioned vectors raise; null element yields null code (skipped, not crowned)") {
    val df = corpus(20)
    val model = Sq.fit(df, "id", "vec")
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[Exception] {
      encode(short, model).collect()
    }
    def rootMessages(t: Throwable): List[String] =
      Option(t.getMessage).toList ++
        Option(t.getCause).toList.flatMap(rootMessages)
    assert(rootMessages(e).exists(_.contains("graft_sq_encode")))
    val withNull = df.select($"id",
      when($"id" === 0L, lit(null).cast("array<float>"))
        .otherwise($"vec".cast("array<float>")).as("vec"))
    val codes = encode(withNull, model)
      .filter($"_code".isNull).select("id").collect().map(_.getLong(0))
    assert(codes.toSeq == Seq(0L))
  }

  test("IVF×SQ: full probe + full pool ≡ brute force; probe prunes partitions in the plan") {
    val df = corpus(400)
    val model = Sq.fit(df, "id", "vec")
    val path = tmp()
    AnnIndex.build(df, "id", "vec", path, AnnIndex.Sq8(model),
      AnnIndex.Ivf(nlist = 4, maxIter = 3, initMode = "random"))
    val query = randVecs(1, 31L).head._2.map(_.toFloat).toArray
    val got = AnnIndex.search(spark, path, df, "id", "vec", query,
      k = 10, pool = 1000, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.cosineTopK(df, "id", "vec", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // pruned probe: the scan must read only the probed cells'
    // partition directories, not the whole code table
    val pruned = AnnIndex.search(spark, path, df, "id", "vec", query,
      k = 10, pool = 50, nprobe = 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("_cell"),
      s"no partition pruning in:\n$scan")
  }

  test("IVF×SQ: a planted clone is found even at nprobe=1 (it shares the query's cell)") {
    val df = corpus(400)
    val query = randVecs(1, 123L).head._2.map(_.toFloat).toArray
    val withClone = df.union(Seq((9999L, query.map(_.toDouble).toSeq))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>")))
    val model = Sq.fit(withClone, "id", "vec")
    val path = tmp()
    AnnIndex.build(withClone, "id", "vec", path, AnnIndex.Sq8(model),
      AnnIndex.Ivf(nlist = 4, maxIter = 3, initMode = "random"))
    val got = AnnIndex.search(spark, path, withClone, "id", "vec", query,
      k = 5, pool = 20, nprobe = 1).collect()
    assert(got.head.getLong(0) == 9999L && got.head.getDouble(1) == 1.0)
  }

  test("constant dimension (scale 0) encodes to byte 0 and dequantizes exactly") {
    val df = (0L until 50L).map { i =>
      (i, Seq.fill(4)(0.5) :+ (i.toDouble / 50.0))
    }.toDF("id", "vec").select($"id", $"vec".cast("array<float>").as("vec"))
    val model = Sq.fit(df, "id", "vec", metric = "l2")
    assert(model.scales.take(4).forall(_ == 0.0))
    val codes = encode(df, model).select("_code").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.forall(c => c.take(4).forall(_ == 0.toByte)))
  }
}
