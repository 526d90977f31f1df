package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The `graft_*` SQL functions: one table, which feeds both the session
  * extension ([[GraftExtensions]]) and [[register]] for a session built
  * without it. Each row checks its arity and literal arguments, then
  * builds through the same checked builder as the Column API.
  */
object GraftFunctions {

  /** `name(params…)` built by `build`; `className` names it in
    * `DESCRIBE FUNCTION`. */
  final case class SqlFunction(name: String, className: String, params: Seq[String],
      build: SqlArgs => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(className, name)
    def builder: Seq[Expression] => Expression = { children =>
      require(children.size == params.size,
        s"$name(${params.mkString(", ")}) takes ${params.size} argument(s), got ${children.size}")
      build(new SqlArgs(name, params, children))
    }
  }

  /** The arguments of one SQL call. */
  final class SqlArgs(fn: String, params: Seq[String], args: Seq[Expression]) {
    def apply(i: Int): Expression = args(i)
    /** Argument `i` as a literal integer. */
    def int(i: Int): Int = {
      val e = args(i)
      require(e.foldable, s"$fn: ${params(i)} must be a literal")
      e.eval() match {
        case null => throw new IllegalArgumentException(s"$fn: ${params(i)} must not be NULL")
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"$fn: ${params(i)} must be an integer literal, got '$other' (${e.dataType.sql})")
      }
    }
  }

  private def fn(name: String, params: String*)(build: SqlArgs => Expression): SqlFunction =
    SqlFunction(name, classOf[NativeCall].getName, params, build)
  private def unary(k: NativeKernel): SqlFunction = fn(k.name, "col")(a => k(a(0)))

  val table: Seq[SqlFunction] = Seq(
    unary(RollingHash.Kernel),
    unary(TextMetrics.CollapseWs),
    unary(TextMetrics.WsTokenCount),
    unary(TextMetrics.BpeTokenCount),
    unary(TextMetrics.PunctCount),
    unary(TextMetrics.StopwordHits),
    unary(TextMetrics.HasHan),
    unary(NfcNormalize.Nfc),
    unary(CharEntropy.Entropy),
    unary(TextSignatures.SimHash64),
    fn("graft_shingle_hashes", "col", "n")(a => TextSignatures.shingleHashesExpr(a(0), a.int(1))),
    fn("graft_shingle_strings", "col", "n")(a => TextSignatures.shingleStringsExpr(a(0), a.int(1))),
    fn("graft_minhash_sig", "col", "n")(a => TextSignatures.minHashSigExpr(a(0), a.int(1))),
    fn("graft_minhash_bands", "hashes", "bands", "rows_per_band")(a =>
      TextSignatures.minHashBandsExpr(a(0), a.int(1), a.int(2))),
    fn("graft_chunks", "text", "width", "stride")(a =>
      ChunkDocs.chunksExpr(a(0), a.int(1), a.int(2))),
    unary(ImageDims.Kernel),
    unary(AudioMeta.Kernel),
    unary(VideoMeta.Kernel),
    SqlFunction("graft_top_k_min", classOf[TopKMin].getName, Seq("col", "k"), a =>
      TopKMin(a(0), a.int(1)).toAggregateExpression()),
    SqlFunction("graft_top_k_pairs", classOf[TopKPairs].getName, Seq("score", "id", "k"), a =>
      TopKPairs(a(0), a(1), a.int(2)).toAggregateExpression()))

  /** Register every table function the session does not have yet. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.builder)
    }
  }
}

/** Session-extension entry point: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` and every
  * session (including Thrift/Connect ones) gets the `graft_*` functions
  * and the auto range-join rewrite (BETWEEN join with no equi-key →
  * bucketed hash join; see [[graft.plans.RangeJoinRewrite]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => graft.plans.RangeJoinRewrite(session))
    GraftFunctions.table.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
