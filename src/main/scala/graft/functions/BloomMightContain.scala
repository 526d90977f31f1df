package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `graft_bloom_might_contain(keyHash)` — membership probe of a
  * pre-built [[BloomFilter]] over 64-bit key hashes, inlined into
  * whole-stage codegen.
  *
  * This is the executor half of [[graft.operators.IncrementalDedup]]:
  * the filter is built once from the (small) batch side, then shipped
  * to every corpus task inside the plan as a [[NativeCall.Model]] — the
  * corpus scan probes it map-side and never shuffles. Spark uses the
  * same shape internally for runtime row-group filtering; building it
  * as a kernel makes the pattern available to any plan.
  * (`BloomFilterImpl` is `Serializable`, so the instance rides the
  * codegen reference array to executors like any model.)
  */
object BloomMightContain {

  val Kernel: NativeKernel = NativeKernel("graft_bloom_might_contain",
    "graft.functions.BloomMightContain", "probe", Seq(Seq(LongType)), BooleanType)

  def mightContain(keyHash: Column, bloom: BloomFilter): Column =
    Kernel.colWith(NativeCall.Model(bloom))(keyHash)

  /** JVM kernel behind [[Kernel]]. */
  def probe(keyHash: Long, bloom: BloomFilter): Boolean = bloom.mightContainLong(keyHash)
}
