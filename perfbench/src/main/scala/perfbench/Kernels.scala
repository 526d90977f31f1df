package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import graft.functions.{TextFunctions, TextSignatures}

/** The `graft.functions` layer in isolation, in every traced run: each
  * text kernel the workloads call, on the same fixed cached rows
  * (seeded Zipf documents) drained to a noop sink, as nanoseconds per
  * row; `projection` is the same pass without a kernel. */
object Kernels {
  val Rows = 20000L

  def kernels(t: Column): Seq[(String, Column)] = Seq(
    "fingerprint" -> TextFunctions.fingerprint(t),
    "bagFingerprint" -> TextFunctions.bagFingerprint(t),
    "langId" -> TextFunctions.langId(t),
    "wsTokenCount" -> TextFunctions.wsTokenCount(t),
    "gopherFailReason" -> TextFunctions.gopherFailReason(t),
    "piiRedact" -> TextFunctions.piiRedact(t),
    "shingleHashes" -> TextSignatures.shingleHashesCol(t, 3),
    "minHashSig" -> TextSignatures.minHashSigCol(TextSignatures.shingleHashesCol(t, 3), 64))

  def names: Seq[String] = "projection" +: kernels(col("text")).map(_._1)

  def isolate(ctx: Ctx): Map[String, Double] = {
    val rows = Gen.docsFrame(ctx.spark, Rows, new Gen.Docs(ctx.seed, 10, 100, 0.0, 0.0))
      .select("text").cache()
    rows.count()
    def nsPerRow(name: String, c: Column): Double =
      Workload.timeMs(2)(ctx.span(s"functions.$name")(Workload.drain(rows.select(c.as("k"))))) *
        1e6 / Rows
    val t = col("text")
    val out = (("projection" -> t) +: kernels(t)).map { case (name, c) =>
      s"functions.$name.ns_per_row" -> nsPerRow(name, c)
    }.toMap
    rows.unpersist(blocking = true)
    out
  }
}
