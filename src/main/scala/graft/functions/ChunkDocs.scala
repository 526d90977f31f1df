package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd context-window chunking — replaces the
  * `transform(sequence(0, lastStart), i => struct(..., slice(toks,
  * i*S+1, W), ...))` chain: `transform` is CodegenFallback AND an
  * outer expression referenced inside a lambda re-evaluates PER
  * ELEMENT, so the regex tokenization ran once per CHUNK —
  * O(doc_len²/stride) interpreted work per doc. One tokenization and
  * one window walk here.
  *
  * Semantics pinned to the replaced chain: tokens =
  * `split(trim(text), "\s+")` (case preserved; an empty/whitespace
  * text gives the [""] single token Java split produces), windows of
  * `width` tokens at `stride` offsets for chunk_id 0..max(ceil((n −
  * width)/stride), 0) — short docs yield exactly one whole-doc chunk;
  * `chunk` is the space-join, `n_chunk_tokens` the window's actual
  * size. Null text → empty array (the replaced chain's null sequence
  * exploded to no rows).
  */
object ChunkDocs {

  private val WS = java.util.regex.Pattern.compile("\\s+")

  def chunks(text: UTF8String, width: Int, stride: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val toks = WS.split(text.trim().toString, -1)
    val n = toks.length
    val lastStart = math.max(
      math.ceil((n - width).toDouble / stride).toLong, 0L)
    val out = new Array[Any](lastStart.toInt + 1)
    var i = 0L
    while (i <= lastStart) {
      val start = (i * stride).toInt
      val end = math.min(start + width, n)
      val sb = new java.lang.StringBuilder
      var j = start
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i.toInt) = new GenericInternalRow(Array[Any](
        i, UTF8String.fromString(sb.toString), (end - start).toLong))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_chunks(text, width, stride)` → array<struct<chunk_id,
    * chunk, n_chunk_tokens>>; null text → empty array. */
  val Chunks: NativeKernel = NativeKernel("graft_chunks", "graft.functions.ChunkDocs", "chunks",
    Seq(Seq(StringType)), ArrayType(StructType(Seq(
      StructField("chunk_id", LongType, nullable = false),
      StructField("chunk", StringType, nullable = false),
      StructField("n_chunk_tokens", LongType, nullable = false))), containsNull = false),
    propagateNull = false)

  def chunksExpr(text: Expression, width: Int, stride: Int): Expression = {
    require(width >= 1 && stride >= 1,
      s"chunk width/stride must be >= 1, got ($width, $stride)")
    Chunks.withConsts(width, stride)(text)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ncol, expression => ex}

  def chunksCol(text: Column, width: Int, stride: Int): Column =
    ncol(chunksExpr(ex(text), width, stride))
}
