package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.TransformStep._
import graft.plans.PipelineDag._

class PipelineDagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topoSort orders dependencies and rejects cycles") {
    val nodes = Seq(Node("a", Merge), Node("b", Merge), Node("c", Merge))
    val order = topoSort(nodes, Seq(Edge("a", "b"), Edge("b", "c"))).map(_.id)
    assert(order == Seq("a", "b", "c"))
    intercept[IllegalArgumentException] {
      topoSort(nodes, Seq(Edge("a", "b"), Edge("b", "a")))
    }
    intercept[IllegalArgumentException] {
      topoSort(nodes, Seq(Edge("a", "zz")))
    }
  }

  test("execute composes a lazy plan across node boundaries") {
    val nodes = Seq(
      Node("src", Source(sp => { import sp.implicits._
        Seq((1, "x", 10.0), (2, "y", 20.0), (3, "x", 5.0)).toDF("id", "k", "v") })),
      Node("f", Conditional("v > 6")),
      Node("t", Transform(Seq(Aggregate(Seq("k"), Seq("v" -> "sum"))))))
    val edges = Seq(Edge("src", "f"), Edge("f", "t"))
    val out = PipelineDag.execute(spark, nodes, edges).outputs("t")
    assert(out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("x" -> 10.0, "y" -> 20.0))
  }

  test("validation gate fails the run below threshold") {
    val nodes = Seq(
      Node("src", Source(sp => { import sp.implicits._
        Seq((Some(1), Option.empty[String]), (None, None)).toDF("a", "b") })),
      Node("v", Validation(90.0)))
    intercept[IllegalStateException] {
      PipelineDag.execute(spark, nodes, Seq(Edge("src", "v")))
    }
  }

  test("split_json node extracts typed fields") {
    val nodes = Seq(
      Node("src", Source(sp => { import sp.implicits._
        Seq((1L, """{"k": 7, "s": "hi"}""")).toDF("id", "props") })),
      Node("sj", SplitJson("props", "k INT, s STRING")))
    val out = PipelineDag.execute(spark, nodes, Seq(Edge("src", "sj"))).outputs("sj")
    val r = out.head
    assert(out.columns.toSeq == Seq("id", "k", "s"))
    assert(r.getAs[Int]("k") == 7 && r.getAs[String]("s") == "hi")
  }

  test("merge requires inputs; sink retries then succeeds") {
    var attempts = 0
    val nodes = Seq(
      Node("src", Source(sp => { import sp.implicits._
        Seq(1, 2, 3).toDF("x") })),
      Node("sink", Sink.unit { df =>
        attempts += 1
        if (attempts < 3) throw new RuntimeException("flaky")
        assert(df.count() == 3)
      }))
    val res = PipelineDag.execute(spark, nodes, Seq(Edge("src", "sink")))
    assert(attempts == 3)
    assert(res.nodeLog.contains("sink" -> "sink ok"))
  }

  test("executeResumable: committed sink never re-fires, pending sink completes") {
    val state = graft.TestDirs.create("graft_dag_state").toString
    val okWrites = new java.util.concurrent.atomic.AtomicInteger(0)
    val badWrites = new java.util.concurrent.atomic.AtomicInteger(0)
    var failing = true
    val nodes = Seq(
      Node("src", Source(s => { import s.implicits._; Seq(1, 2, 3).toDF("v") })),
      Node("ok_sink", Sink.unit(df => { okWrites.incrementAndGet(); df.count(); () })),
      Node("bad_sink", Sink.unit { df =>
        badWrites.incrementAndGet()
        if (failing) throw new RuntimeException("downstream outage")
        df.count(); ()
      }))
    val edges = Seq(Edge("src", "ok_sink"), Edge("ok_sink", "bad_sink"))

    val crash = intercept[IllegalStateException] {
      executeResumable(spark, nodes, edges, state)
    }
    assert(crash.getMessage.contains("attempts"))
    assert(okWrites.get == 1) // committed before the crash
    failing = false
    val resumed = executeResumable(spark, nodes, edges, state)
    assert(okWrites.get == 1, "committed sink must not re-fire on resume")
    assert(badWrites.get > 3, "pending sink must re-run on resume")
    assert(resumed.nodeLog.contains("ok_sink" -> "sink skipped (already done)"))
    assert(resumed.nodeLog.contains("bad_sink" -> "sink ok"))
    // third run: everything done — no action fires at all
    val idle = executeResumable(spark, nodes, edges, state)
    assert(okWrites.get == 1 && badWrites.get == 4)
    assert(idle.nodeLog.count(_._2.contains("already done")) == 2)
  }

  test("executeResumable: a staged node cuts upstream recompute and re-fires") {
    val state = graft.TestDirs.create("graft_dag_state").toString
    val sourceReads = new java.util.concurrent.atomic.AtomicInteger(0)
    var failing = true
    def nodes = Seq(
      Node("src", Source { s =>
        sourceReads.incrementAndGet()
        import s.implicits._; Seq(1, 2, 3).toDF("v")
      }),
      Node("double", Transform(Seq(
        graft.operators.TransformStep.AddDerivedColumn("v2", "v * 2")))),
      Node("sink", Sink.unit { df =>
        if (failing) throw new RuntimeException("flaky")
        df.count(); ()
      }))
    val edges = Seq(Edge("src", "double"), Edge("double", "sink"))

    intercept[IllegalStateException] {
      executeResumable(spark, nodes, edges, state, stageNodes = Set("double"))
    }
    val readsAfterCrash = sourceReads.get
    assert(readsAfterCrash >= 1) // staged before the sink failed
    failing = false
    val resumed = executeResumable(spark, nodes, edges, state, stageNodes = Set("double"))
    assert(sourceReads.get == readsAfterCrash,
      "upstream of a valid stage must not be re-invoked on resume")
    assert(resumed.nodeLog.contains("double" -> "resumed from stage"))
    assert(resumed.outputs("double").select("v2").as[Int].collect().sorted
      === Array(2, 4, 6))
  }

  test("executeResumable: an unstaged HttpCall re-runs on resume; a staged one does not") {
    val state = graft.TestDirs.create("graft_dag_state").toString
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    var failing = true
    def nodes(stage: Boolean) = Seq(
      Node("src", Source(s => { import s.implicits._; Seq(1).toDF("v") })),
      Node("http", HttpCall { (s, _) =>
        calls.incrementAndGet()
        import s.implicits._; Seq("resp").toDF("body")
      }),
      Node("sink", Sink.unit { df =>
        if (failing) throw new RuntimeException("flaky")
        df.count(); ()
      }))
    val edges = Seq(Edge("src", "http"), Edge("http", "sink"))

    intercept[IllegalStateException] {
      executeResumable(spark, nodes(false), edges, state)
    }
    assert(calls.get == 1)
    failing = false
    // unstaged: the call is effectful state the run cannot prove it
    // kept — it must re-fire
    executeResumable(spark, nodes(false), edges, state)
    assert(calls.get == 2, "unstaged HttpCall must re-run on resume")

    // staged variant in a fresh state dir: second run reads the stage
    val state2 = graft.TestDirs.create("graft_dag_state").toString
    failing = true
    intercept[IllegalStateException] {
      executeResumable(spark, nodes(true), edges, state2, stageNodes = Set("http"))
    }
    val afterCrash = calls.get
    failing = false
    val resumed = executeResumable(spark, nodes(true), edges, state2, stageNodes = Set("http"))
    assert(calls.get == afterCrash, "staged HttpCall must not re-fire")
    assert(resumed.nodeLog.contains("http" -> "resumed from stage"))
  }

  test("sink row counts are observed during the sink's own action") {
    val nodes = Seq(
      Node("src", Source(s => { import s.implicits._; (1 to 7).toDF("v") })),
      Node("keep_small", Conditional("v <= 3")),
      Node("out", Sink.unit(df => { df.count(); () })))
    val edges = Seq(Edge("src", "keep_small"), Edge("keep_small", "out"))
    val r = PipelineDag.execute(spark, nodes, edges)
    assert(r.observed("out")("rows") == 3L)
  }

  test("withRetries gives up after max attempts") {
    var n = 0
    val e = intercept[IllegalStateException] {
      withRetries(maxRetries = 3, delayMs = 1) { n += 1; throw new RuntimeException("nope") }
    }
    assert(n == 3 && e.getMessage.contains("3 attempts"))
  }

  test("withRetries: an interrupt propagates on the first attempt, unretried") {
    var n = 0
    intercept[InterruptedException] {
      withRetries(maxRetries = 3, delayMs = 1) { n += 1; throw new InterruptedException("stop") }
    }
    assert(n == 1)
  }

  test("withRetries: a fatal VM error propagates on the first attempt, unretried") {
    var n = 0
    intercept[StackOverflowError] {
      withRetries(maxRetries = 3, delayMs = 1) { n += 1; throw new StackOverflowError("fatal") }
    }
    assert(n == 1)
  }
}
