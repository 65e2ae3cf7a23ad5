package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {
  // smoke-scale test data (the dir SparkEntry.entry reads)
  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q_daily_sales", "q_pricing_summary")
  private val broken: Bench.Query = (_, _) => throw new IllegalStateException("boom")

  private lazy val results = Bench.measure(TestSpark.spark,
    names.map(n => n -> SparkEntry.queries(n)) :+ ("q_broken" -> broken),
    sfDir, iters = 2)

  private def json(s: String) = new ObjectMapper().readTree(s)

  test("measure attributes each timed run's scheduler counters to its query") {
    val byName = results.map(r => r.name -> r).toMap
    names.foreach { n =>
      val r = byName(n)
      assert(r.seconds.exists(_ > 0), r)
      val c = r.counters.getOrElse(fail(s"no counters for $n"))
      assert(c.jobs >= 1 && c.stages >= 1 && c.tasks >= 1, r)
    }
    assert(byName("q_broken") == Bench.Measured("q_broken", None, None))

    val full = json(Bench.toJson(results, sfDir))
    names.foreach { n =>
      assert(full.get("queries").get(n).asDouble > 0)
      val c = full.get("counters").get(n)
      assert(c.fieldNames.asScala.toSeq ==
        Seq("jobs", "stages", "tasks", "task_s", "shuffle_mb"), c)
      assert(c.get("jobs").asLong >= 1 && c.get("stages").asLong >= 1 &&
        c.get("tasks").asLong >= 1, c)
    }
    assert(full.get("queries").get("q_broken").asDouble == -1)
    assert(!full.get("counters").has("q_broken"))
  }

  test("the headline line keeps its keys and formats") {
    val h = json(Bench.headline(results, sfDir, subset = false))
    assert(h.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "n_queries", "n_failed", "failed", "queries_in", "sf"))
    assert(h.get("metric").asText == "total" && h.get("unit").asText == "sec")
    assert(h.get("n_queries").asInt == 3 && h.get("n_failed").asInt == 1)
    assert(h.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q_broken"))
    assert(h.get("queries_in").asText == "BENCH_FULL.json")
    assert(math.abs(h.get("value").asDouble -
      results.flatMap(_.seconds).sum) < 1e-3)
    val subset = json(Bench.headline(results, sfDir, subset = true))
    assert(subset.get("queries_in").elements.asScala.map(_.asText).toSeq ==
      names :+ "q_broken")
  }
}
