package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tail(ramp(19)).isEmpty)
    assert(Stats.tail(ramp(20)).map(_._1).contains(50.0))
    assert(Stats.tail(ramp(99)).map(_._1).contains(50.0))
    val (p, v) = Stats.tail(ramp(100)).get
    assert(p == 90.0)
    assert(math.abs(v - 90.1) < 1e-9) // linear interpolation at rank 89.1
    assert(Stats.tail(ramp(1000)).map(_._1).contains(99.0))
    assert(Stats.tail(ramp(10000)).map(_._1).contains(99.9))
  }

  test("quartiles and median interpolate linearly") {
    assert(Stats.quartiles(ramp(5)) == ((2.0, 3.0, 4.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    val s = Stats.summary(ramp(100))
    assert(s("n") == 100 && s("tail_pct") == 90.0)
    assert(!Stats.summary(ramp(5)).contains("tail"))
  }

  test("every metric name uses only letters, digits, '_', '.' and '-'") {
    assert(Report.units.keys.forall(Stats.validName), Report.units.keys.filterNot(Stats.validName))
    assert(Report.endToEndNames.forall(Report.units.contains))
    assert(!Stats.validName("spark jobs") && !Stats.validName("-x") && !Stats.validName("a" * 65))
  }

  test("BENCHMARK.json names only metrics the run reports, each with its unit") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json sits at the checkout root")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    import scala.jdk.CollectionConverters._
    for (section <- Seq("end_to_end", "per_layer"); m <- json.path(section).elements.asScala) {
      val name = m.path("name").asText
      assert(Stats.validName(name), name)
      assert(Report.units.get(name).contains(m.path("unit").asText), name)
    }
    val e2e = json.path("end_to_end").elements.asScala.map(_.path("name").asText).toSeq
    assert(e2e.sorted == Report.endToEndNames.sorted)
  }
}
