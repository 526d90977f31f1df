package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.CorpusIngest

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kernel: rank scaling and MSB-first interleave match hand values") {
    // rank: [0,15] into 4 bits is identity
    assert(ZOrderKeyExpr.rank(0, 0, 15, 4) == 0L)
    assert(ZOrderKeyExpr.rank(15, 0, 15, 4) == 15L)
    assert(ZOrderKeyExpr.rank(7, 0, 15, 4) == 7L)
    assert(ZOrderKeyExpr.rank(99, 0, 15, 4) == 15L) // clamped
    assert(ZOrderKeyExpr.rank(5, 5, 5, 4) == 0L)    // degenerate range
    // interleave two 2-bit ranks: (0b10, 0b01) → bits a1 b1 a0 b0 = 1001
    assert(ZOrderKeyExpr.interleave(Array(2L, 1L), 2) == 9L)
    // classic 2-D Morton curve order for the 2×2 grid
    val order = for (a <- 0L to 1L; b <- 0L to 1L)
      yield ZOrderKeyExpr.interleave(Array(a, b), 1)
    assert(order == Seq(0L, 1L, 2L, 3L))
  }

  test("column form (codegen path) ≡ driver-side kernel; nulls rank first") {
    val df = Seq((0L, Some(10)), (5L, Some(20)), (9L, None))
      .toDF("a", "b")
    val got = df.select(ZOrderKeyExpr.zorderKey(
        Seq($"a", $"b"), Seq(0.0, 10.0), Seq(9.0, 20.0), bitsPerCol = 8))
      .collect().map(_.getLong(0)).toSeq
    def expect(a: Long, b: Option[Int]): Long =
      ZOrderKeyExpr.interleave(Array(
        ZOrderKeyExpr.rank(a, 0.0, 9.0, 8),
        b.map(v => ZOrderKeyExpr.rank(v, 10.0, 20.0, 8)).getOrElse(0L)), 8)
    assert(got == Seq(expect(0, Some(10)), expect(5, Some(20)), expect(9, None)))
  }

  test("compactLake zorder: per-file ranges narrow on BOTH columns " +
      "where range clustering only tightens the first") {
    def bitrev9(i: Int): Int =
      (0 until 9).map(b => ((i >> b) & 1) << (8 - b)).sum
    def mkLake(): String = {
      val dir = graft.TestDirs.create("graft_zorder").toString
      val lake = s"$dir/lake"
      // two INDEPENDENT uniform dimensions: doc_id ascending, n_chars
      // the bit-reversal permutation (uncorrelated with doc_id)
      val docs = (0 until 512).map(i =>
        (i.toLong, s"document body number $i", bitrev9(i).toLong))
      // write as several small files so compaction has a tail to rewrite
      docs.grouped(128).zipWithIndex.foreach { case (g, gi) =>
        CorpusIngest.ingestBatch(
          g.toDF("doc_id", "text", "n_chars"), gi.toLong, lake,
          failReason = _ => lit(null).cast("string"), scope = "z")
      }
      lake
    }

    def fileSpans(lake: String, cluster: Boolean): Seq[(Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      // generation dirs carry a unique suffix (_gen-00000-xxxxxx)
      val gen = fs.listStatus(new org.apache.hadoop.fs.Path(lake))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_gen-00000"))
        .head.getPath
      val parts = fs.listStatus(gen).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_")).map(_.getPath.toString)
      assert(parts.length > 4, s"want several files, got ${parts.length}")
      parts.toSeq.map { p =>
        val r = spark.read.parquet(p).agg(
          (max("doc_id") - min("doc_id")).as("sa"),
          (max("n_chars") - min("n_chars")).as("sb")).head()
        (r.getLong(0), r.getLong(1))
      }
    }

    // Z-ORDER layout: both dims narrow per file
    val zLake = mkLake()
    CorpusIngest.compactLake(spark, zLake, targetBytes = 4096L,
      clusterBy = Seq("doc_id", "n_chars"), zorder = true)
    val zSpans = fileSpans(zLake, cluster = true)
    val zAvgA = zSpans.map(_._1).sum.toDouble / zSpans.size / 512.0
    val zAvgB = zSpans.map(_._2).sum.toDouble / zSpans.size / 512.0

    // RANGE layout on the same columns: first dim narrow, second ~full
    val rLake = mkLake()
    CorpusIngest.compactLake(spark, rLake, targetBytes = 4096L,
      clusterBy = Seq("doc_id", "n_chars"))
    val rSpans = fileSpans(rLake, cluster = true)
    val rAvgA = rSpans.map(_._1).sum.toDouble / rSpans.size / 512.0
    val rAvgB = rSpans.map(_._2).sum.toDouble / rSpans.size / 512.0

    info(f"zorder spans: a=$zAvgA%.2f b=$zAvgB%.2f; range spans: a=$rAvgA%.2f b=$rAvgB%.2f")
    // range clustering: great on the lead column, useless on the other
    assert(rAvgA < 0.3 && rAvgB > 0.7, f"range layout a=$rAvgA%.2f b=$rAvgB%.2f")
    // z-order: BOTH columns skippable per file
    assert(zAvgA < 0.55 && zAvgB < 0.55, f"zorder layout a=$zAvgA%.2f b=$zAvgB%.2f")
    // rows survive exactly
    assert(CorpusIngest.readLake(spark, zLake).count() == 512)
  }

  test("compactLake zorder: an all-null cluster column raises naming it") {
    val dir = graft.TestDirs.create("graft_zorder_null").toString
    val lake = s"$dir/lake"
    val docs = (0 until 64).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", lit(null).cast("long"))
    docs.repartition(4).write.parquet(lake)
    // pre-commit guard: the r10 code NPE'd on bounds.getDouble when a
    // clusterBy column had no non-null numeric values (advisor item);
    // the named error is diagnosable, and no manifest was written so
    // the lake is untouched
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.compactLake(spark, lake, targetBytes = 4096L,
        clusterBy = Seq("doc_id", "n_chars"), zorder = true)
    }
    assert(e.getMessage.contains("n_chars") &&
      e.getMessage.contains("no non-null numeric"))
    assert(spark.read.parquet(lake).count() == 64) // nothing lost
  }

  test("non-integral columns raise with the column named") {
    val df = Seq((1L, "x")).toDF("a", "s")
    val e = intercept[Exception] {
      df.select(ZOrderKeyExpr.zorderKey(
        Seq($"a", $"s"), Seq(0, 0), Seq(1, 1))).collect()
    }
    assert(e.getMessage.contains("integral"))
  }
}
