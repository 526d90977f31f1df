package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private def parse(fields: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree("{" + fields + "}")

  test("canary: a healthy canary runs the query twice and records its time") {
    var runs = 0
    val sec = Bench.canarySec(() => runs += 1)
    assert(runs == 2)
    assert(sec.exists(_ >= 0.0))
    val j = parse(Bench.canaryFields(Some(0.1234), Some(0.2)))
    assert(j.get("canary_start_sec").asDouble() == 0.123)
    assert(j.get("canary_end_sec").asDouble() == 0.2)
    assert(!j.get("canary_failed").asBoolean())
  }

  test("canary: a failing canary query records canary_failed, not the time of a no-op") {
    val sec = Bench.canarySec(() => throw new IllegalStateException("q1_agg broken"))
    assert(sec.isEmpty)
    val j = parse(Bench.canaryFields(Some(0.15), sec))
    assert(j.get("canary_start_sec").asDouble() == 0.15)
    assert(j.get("canary_end_sec").isNull)
    assert(j.get("canary_failed").asBoolean())
  }

  test("materialise runs what Bench times: x_pii_redact's executed plan keeps graft_pii_redact") {
    import scala.jdk.CollectionConverters._
    val spark = TestSpark.spark
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sf = TestDirs.create("graft_bench_sf")
      import spark.implicits._
      Seq((1L, "mail me at a@b.org"), (2L, "no pii here")).toDF("doc_id", "text")
        .write.parquet(sf.resolve("documents.parquet").toString)
      Bench.materialise(SparkEntry.queries("x_pii_redact")(spark, sf.toString))
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      assert(plans.asScala.exists(_.contains("graft_pii_redact")), plans.asScala.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)
  }
}
