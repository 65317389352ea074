package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The scale harness's declared shape, checked without a Spark session
  * (`BenchScale.main` stops the shared one, so it is never called here). */
class BenchScaleSpec extends AnyFunSuite {

  private def cells(table: JsonNode): Set[(String, Int)] =
    table.properties().asScala.flatMap { e =>
      e.getValue.fieldNames().asScala.map(f => (e.getKey, f.toInt))
    }.toSet

  private def rowCells(plan: Seq[(BenchScale.Case, Int)]): Set[(String, Int)] =
    plan.flatMap { case (c, f) => c.names.map(_ -> f) }
      .filterNot(_._1.startsWith("ivf_lists.")).toSet

  test("the declared cases at the default sweep are exactly the committed artifact's cells") {
    val art = new ObjectMapper().readTree(new java.io.File("BENCH_scale.json"))
    val names = BenchScale.cases.flatMap(_.names).filterNot(_.startsWith("ivf_lists."))
    assert(names.size == 73 && names.distinct.size == 73)
    val plan = BenchScale.plan(None)
    assert(rowCells(plan) == cells(art.get("queries")))
    assert(rowCells(plan) == cells(art.get("rows")))
    assert(rowCells(plan).size == 292)
    assert(plan.collect { case (c, f) if c.names.head.startsWith("ivf_lists.") => f } ==
      art.get("ivf_lists").fieldNames().asScala.map(_.toInt).toSeq)
    assert(BenchScale.sweep ==
      art.get("factors").elements().asScala.map(_.asInt()).toSeq)
  }

  test("a quick factor list replaces every case's factors, but caps still apply") {
    val plan = BenchScale.plan(Some(Seq(1, 2, 8, 2)))
    plan.groupBy(_._1.names).foreach { case (names, cs) =>
      val want = if (names == Seq("emb_neardup_pairs")) Seq(1, 2) else Seq(1, 2, 8)
      assert(cs.map(_._2) == want, names)
    }
    assert(plan.map(_._1).distinct.size == BenchScale.cases.size)
  }

  test("the artifact line parses back with its six keys and matching queries/rows cells") {
    val line = BenchScale.json("/sf", Seq(1, 4), Seq(
      ("a", 1, 0.5, 10L), ("a", 4, 1.5, 40L), ("b", 1, 2.25, 3L),
      ("ivf_lists.trained_max", 1, 31.25, 43L), ("ivf_lists.untrained_max", 1, 31.25, 45L)))
    val back = new ObjectMapper().readTree(line)
    assert(back.fieldNames().asScala.toSet ==
      Set("metric", "sf", "factors", "queries", "rows", "ivf_lists"))
    assert(back.get("metric").asText() == "scale_probe" && back.get("sf").asText() == "/sf")
    assert(cells(back.get("queries")) == Set(("a", 1), ("a", 4), ("b", 1)))
    assert(cells(back.get("rows")) == cells(back.get("queries")))
    assert(back.get("queries").get("a").get("4").asDouble() == 1.5)
    assert(back.get("rows").get("b").get("1").asLong() == 3L)
    val ivf = back.get("ivf_lists").get("1")
    assert(ivf.get("mean").asDouble() == 31.25 &&
      ivf.get("trained_max").asLong() == 43L && ivf.get("untrained_max").asLong() == 45L)
  }
}
