package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Double, end: Double) =
    Span(id, s"s$id", parent, 0L, start, end)

  test("self time subtracts the union of overlapping children") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40), span(3, 1, 30, 60), // overlap: 10..60 covered once
      span(4, 1, 80, 90),
      span(5, 1, 95, 120), // runs past its parent: only 95..100 counts
      span(6, 2, 15, 20)) // grandchild: no effect on span 1
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self(1) - (100 - 50 - 10 - 5)) < 1e-9)
    assert(math.abs(self(2) - 25) < 1e-9)
    assert(self(4) == 10.0)
  }

  test("union length merges touching and nested intervals") {
    assert(Tracer.unionLength(Seq((0.0, 10.0), (10.0, 20.0), (2.0, 5.0), (30.0, 31.0))) == 21.0)
    assert(Tracer.unionLength(Nil) == 0.0)
  }

  test("a toy span launching two jobs gets both; a job outside any span is unattributed") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new JobListener
      sc.addSparkListener(listener)
      val tracer = new Tracer(Some(sc))
      tracer.span("toy") {
        sc.parallelize(1 to 100, 2).count()
        sc.parallelize(1 to 10, 2).map(_ * 2).collect()
      }
      sc.parallelize(1 to 3, 1).count() // outside every span
      BusDrain.drain(sc)
      sc.removeSparkListener(listener)
      val att = Attribution.of(tracer.spans, listener.snapshot)
      val toy = tracer.spans.find(_.name == "toy").get
      assert(att.bySpan.keySet == Set(toy.id))
      assert(att.bySpan(toy.id).size == 2)
      assert(att.bySpan(toy.id).forall(_.tasks == 2))
      assert(att.unattributed.size == 1)
      assert(att.attributedCount + att.unattributed.size == listener.snapshot.size)
    } finally spark.stop()
  }

  test("nested spans key each job to the innermost open span") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new JobListener
      sc.addSparkListener(listener)
      val tracer = new Tracer(Some(sc))
      tracer.span("outer") {
        sc.parallelize(1 to 4).count()
        tracer.span("inner")(sc.parallelize(1 to 4).count())
        sc.parallelize(1 to 4).count()
      }
      BusDrain.drain(sc)
      val att = Attribution.of(tracer.spans, listener.snapshot)
      val byName = tracer.spans.map(s => s.name -> att.bySpan.getOrElse(s.id, Nil).size).toMap
      assert(byName == Map("outer" -> 2, "inner" -> 1))
      assert(att.unattributed.isEmpty)
    } finally spark.stop()
  }
}
