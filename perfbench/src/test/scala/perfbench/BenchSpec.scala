package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Gen

class BenchSpec extends AnyFunSuite {

  // a small generator pool, as the benchmark draws from (kind/size strata)
  private lazy val pool = (0 until 80).map(i => Gen.build(Gen.Seed, i.toLong))
  private lazy val strata = pool.map(b => b.doc_id -> s"${b.kind_major}/${b.size_class}")
  private lazy val text = pool.map(b => b.doc_id -> Inputs.goldenText(b.golden.filter(_.kind == "text").map(_.text)))

  private def inputs(seed: Long): String = {
    val ids = Inputs.stratifiedDraw(seed, strata, 30)
    val planted = Inputs.plantText(seed, text.filter(t => ids.contains(t._1)).toArray)
    Inputs.digest("c0ffee", ids, planted.rows)
  }

  test("the same seed gives an identical input digest, another seed a different one") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("the stratified draw has the same mix of strata for every seed") {
    def mix(seed: Long) = {
      val label = strata.toMap
      Inputs.stratifiedDraw(seed, strata, 30).groupBy(label).view.mapValues(_.size).toMap
    }
    assert(Inputs.stratifiedDraw(1, strata, 30).size == 30)
    assert(mix(1) == mix(2))
    assert(Inputs.stratifiedDraw(1, strata, 30) != Inputs.stratifiedDraw(2, strata, 30))
  }

  test("a planted near copy meets every near-dup operator's criterion") {
    val planted = Inputs.plantText(3, text.toArray)
    val byId = (text ++ planted.rows).toMap
    assert(planted.pairs.nonEmpty)
    planted.pairs.foreach { case (a, b) => assert(Reference.nearDup(byId(a), byId(b)), s"$a ~ $b") }
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    import Trace.Span
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 100),
      Span(2, 1, 1, "a", 10, 30),
      Span(3, 1, 1, "b", 20, 50),  // overlaps a
      Span(4, 1, 1, "c", 90, 120), // runs past the parent's end
      Span(5, 2, 1, "d", 12, 18))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 6)
    assert(Trace.selfByName(spans)("op") == 50 / 1e9)
  }

  private def json(path: String): JsonNode = new ObjectMapper().readTree(new File(path))
  private lazy val bench = json("../BENCHMARK.json")
  private lazy val layerMap = json("layer_map.json")
  private def names(n: JsonNode): Set[String] = n.elements().asScala.map(_.get("name").asText).toSet

  test("BENCHMARK.json declares exactly the metrics the benchmark reports") {
    assert(names(bench.get("end_to_end")) == Layers.EndToEnd.map(_._1).toSet)
    assert(names(bench.get("per_layer")) == Layers.names.toSet)
    bench.get("per_layer").elements().asScala.foreach { m =>
      assert(m.get("unit").asText == Layers.units(m.get("name").asText))
    }
    bench.get("end_to_end").elements().asScala.foreach { m =>
      assert(m.get("unit").asText == Layers.units(m.get("name").asText))
    }
  }

  test("the layer map names only declared metrics and workloads") {
    val e2e = names(bench.get("end_to_end"))
    val workloads = names(bench.get("workloads"))
    val layers = layerMap.get("layers").fields().asScala.toSeq
    assert(layers.map(_.getKey).toSet == names(bench.get("per_layer")))
    layers.foreach { l =>
      val v = l.getValue
      v.get("moves").elements().asScala.foreach(m => assert(e2e(m.asText), s"${l.getKey} moves ${m.asText}"))
      (v.get("on").elements().asScala ++ v.get("unchanged_on").elements().asScala)
        .foreach(w => assert(workloads(w.asText), s"${l.getKey} names workload ${w.asText}"))
    }
  }
}
