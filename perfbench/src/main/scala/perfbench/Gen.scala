package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.ZipfText

/** Seeded input generators. Every value is a pure function of
  * (seed, row id), the GenScale convention, so the same seed gives the
  * same files under any partitioning. Text comes from [[ZipfText]]. */
object Gen {

  /** A generator for row `id` under `seed`. The pair is hashed first:
    * `java.util.Random` seeded with nearby values gives correlated first
    * draws, so seeds 11, 12, 13, ... would give inputs that drift
    * together instead of independent ones. */
  def rng(seed: Long, id: Long): scala.util.Random = new scala.util.Random(mix(mix(seed) ^ id))

  /** The splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- star

  /** A uniform draw in [0, m) for column `salt` of row `id`. */
  private def draw(seed: Long, salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(m))

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(seed, salt, values.size) + 1).cast("int"))

  private val commentWords = Seq("quickly", "furious", "deposits", "pending",
    "accounts", "ironic", "regular", "packages", "blithely", "express")

  /** TPC-H-shaped lineitem: four lines per order, and a `dupShare` of
    * rows written twice (identical), for `deduplicate_rows`. */
  def lineitem(spark: SparkSession, rows: Long, seed: Long, dupShare: Double): DataFrame = {
    val base = spark.range(rows).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (draw(seed, 1, 200000) + 1).as("l_partkey"),
      (draw(seed, 2, 10000) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (draw(seed, 3, 50) + 1).cast("decimal(15,2)").as("l_quantity"),
      ((draw(seed, 4, 9000000) + 100000).cast("decimal(15,0)") / 100)
        .cast("decimal(15,2)").as("l_extendedprice"),
      (draw(seed, 5, 11).cast("decimal(15,0)") / 100).cast("decimal(15,2)").as("l_discount"),
      (draw(seed, 6, 9).cast("decimal(15,0)") / 100).cast("decimal(15,2)").as("l_tax"),
      pick(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 8, Seq("F", "O")).as("l_linestatus"),
      date_add(lit("1992-01-01").cast("date"), draw(seed, 9, 2500).cast("int")).as("l_shipdate"),
      pick(seed, 10, Seq(" AIR", "FOB", "MAIL ", "RAIL", "REG AIR", "SHIP", " TRUCK "))
        .as("l_shipmode"),
      when(draw(seed, 11, 200) === 0, lit(null).cast("string"))
        .otherwise(concat_ws(" ", pick(seed, 12, commentWords), pick(seed, 13, commentWords),
          draw(seed, 14, 1000).cast("string"))).as("l_comment"),
      col("id").as("_row"))
    val dups = base.filter(draw(seed, 15, 1000000, col("_row")) < (dupShare * 1000000).toLong)
    base.unionByName(dups).drop("_row")
  }

  def orders(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows).select(
      col("id").as("o_orderkey"),
      (draw(seed, 21, 150000) + 1).as("o_custkey"),
      pick(seed, 22, Seq("F", "O", "P")).as("o_orderstatus"),
      ((draw(seed, 23, 50000000) + 100000).cast("decimal(15,0)") / 100)
        .cast("decimal(15,2)").as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), draw(seed, 24, 2400).cast("int")).as("o_orderdate"),
      pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"),
      draw(seed, 26, 3).cast("int").as("o_shippriority"),
      concat_ws(" ", pick(seed, 27, commentWords), pick(seed, 28, commentWords)).as("o_comment"))

  // ---------------------------------------------------------------- text

  /** Generator-side truth about one document: its text, and which
    * earlier document it copies (`kind` "exact" or "near") or -1. */
  final case class DocTruth(id: Long, text: String, kind: String, src: Long)

  /** Zipf documents with a seeded share of exact copies and near
    * duplicates (one token replaced in a long document) of earlier
    * originals, and e-mail/phone PII in a few percent of them. */
  final class Docs(seed: Long, minTokens: Int, maxTokens: Int,
      exactShare: Double, nearShare: Double) extends Serializable {
    @transient private lazy val vocab = ZipfText.vocabulary(30000)
    @transient private lazy val cdf = ZipfText.zipfCdf(vocab.length)

    private def rnd(id: Long) = rng(seed, id)

    /** Near duplicates need long sources: replacing one of n >= 70
      * tokens keeps word-3-shingle Jaccard above 0.9. */
    private val NearMinTokens = 70

    private def kindOf(id: Long): String = {
      if (id < 16) return ""
      val u = rnd(id).nextDouble()
      if (u < exactShare) "exact" else if (u < exactShare + nearShare) "near" else ""
    }

    private def original(id: Long): String = {
      val r = rnd(id ^ 0x5bd1e995L)
      val body = ZipfText.doc(id, vocab, cdf, minTokens, maxTokens, mix(seed))
      r.nextInt(40) match {
        case 0 => s"$body contact user${r.nextInt(9999)}@mail${r.nextInt(99)}.example.com"
        case 1 => s"$body call ${200 + r.nextInt(700)}-555-${1000 + r.nextInt(9000)}"
        case _ => body
      }
    }

    /** An earlier original (kind ""), long enough when `long`. */
    private def source(id: Long, long: Boolean): Long = {
      val r = rnd(id ^ 0x27d4eb2fL)
      var tries = 0
      while (tries < 64) {
        val s = (r.nextLong() & Long.MaxValue) % id
        if (kindOf(s) == "" &&
            (!long || original(s).split(' ').length >= NearMinTokens)) return s
        tries += 1
      }
      -1L
    }

    def truth(id: Long): DocTruth = kindOf(id) match {
      case "" => DocTruth(id, original(id), "", -1L)
      case kind =>
        val s = source(id, long = kind == "near")
        if (s < 0) DocTruth(id, original(id), "", -1L)
        else if (kind == "exact") DocTruth(id, original(s), kind, s)
        else {
          val toks = original(s).split(' ')
          val r = rnd(id ^ 0x1b873593L)
          toks(5 + r.nextInt(toks.length - 10)) = ZipfText.word(20000 + r.nextInt(9000))
          DocTruth(id, toks.mkString(" "), kind, s)
        }
    }
  }

  def docsFrame(spark: SparkSession, n: Long, docs: Docs): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].map { id =>
      val t = docs.truth(id)
      (id, t.text, s"src${java.lang.Math.floorMod(id * 2654435761L, 20L)}", t.text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
  }

  def truthFrame(spark: SparkSession, n: Long, docs: Docs): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].map(id => docs.truth(id)).toDF()
  }

  // ---------------------------------------------------------------- files

  /** Bytes under a path (a file or a directory tree). */
  def sizeOf(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(c => sizeOf(c.getPath)).sum
  }
}
