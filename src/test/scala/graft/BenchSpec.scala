package graft

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Ctx, Outcome, Section}
import graft.queries.Registry

/** The bench runner's contracts, checked without starting a bench run: the
  * record's shape is declared by the section table, failure accounting
  * follows from the table, and the compact final line fits a ~2 KB
  * stdout tail. */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  test("every committed BENCH_LOCAL.json key is declared by exactly one section") {
    assert(Bench.tableErrors(Bench.sections, Bench.Layout) === Nil)
    val rec = mapper.readTree(new java.io.File("BENCH_LOCAL.json"))
    val keys = rec.fieldNames.asScala.toSeq.flatMap { k =>
      if (rec.get(k).isObject) rec.get(k).fieldNames.asScala.map(sub => s"$k.$sub") else Seq(k)
    }
    assert(keys.exists(_.startsWith("streaming.")) && keys.exists(_.startsWith("queries.")))
    val declared = Bench.sections.flatMap(_.fields) ++ Bench.RecordFields
    assert(keys.filterNot(k => declared.count(_ == k) == 1) === Nil)
    // and the full run's layout order is the committed record's order
    val full = Bench.sections.filterNot(_.onDemand).flatMap(_.fields).toSet ++ Bench.RecordFields
    val order = Bench.Layout.flatMap(e =>
      if (e.endsWith(".*")) keys.filter(_.startsWith(e.dropRight(1))) else Seq(e).filter(full))
    assert(order === keys)
  }

  test("a section that throws is named, renders -1, counts, and fails the exit status") {
    def boom(what: String): Ctx => Seq[Any] =
      _ => throw new IllegalStateException(s"planted: $what")
    val table = Seq(
      Section("fine", Seq("fine_sec"))(_ => Seq(1.5)),
      Section("boom", Seq("boom_sec", "boom.rows"))(boom("section")),
      Section("gated", Seq("gated_sec"), gate = v => v("gated_sec") < 0)(_ => Seq(2.0)),
      Section("q_ok", Seq("queries.q_ok"), isQuery = true)(_ => Seq(Bench.raw(0.25))),
      Section("q_bad", Seq("queries.q_bad"), isQuery = true)(boom("query")))
    val o = Bench.execute(table, new Ctx(null, "sf", null, 0.0))
    assert(o.failedSections === Seq("boom", "gated"))
    assert(o.failedQueries === Seq("q_bad"))
    assert(o.failedCount === 3)
    assert(o.exitStatus !== 0)
    val layout = Seq("metric", "unit", "sf", "fine_sec", "boom_sec", "boom.*", "gated_sec",
      "queries.*") ++ Bench.RecordFields.drop(3)
    val rec = mapper.readTree(Bench.render(layout, o, "sf"))
    assert(rec.get("fine_sec").asDouble === 1.5)
    assert(rec.get("boom_sec").asDouble === -1.0)
    assert(rec.get("boom").get("rows").asDouble === -1.0)
    assert(rec.get("gated_sec").asDouble === 2.0) // a failed gate keeps its values
    assert(rec.get("queries").get("q_bad").asDouble === -1.0)
    assert(rec.get("failed_sections").elements.asScala.map(_.asText).toSeq === Seq("boom", "gated"))
    assert(rec.get("failed_queries").elements.asScala.map(_.asText).toSeq === Seq("q_bad"))
    assert(rec.get("failed_count").asInt === 3)
    assert(rec.get("total").asDouble === -1.0) // a failed query poisons the total
  }

  test("the compact line for the full headline set stays under 2,048 bytes") {
    // widest values: a 24-character Double per query, every query and
    // section failed, a 64-character corpus path
    val names = Registry.headline.map(_.name)
    val wide = Bench.raw(-1.2345678901234567e-100)
    val values = VectorMap.from(names.map(n => s"queries.$n" -> wide) :+ ("cores" -> Int.MinValue))
    val sections = Bench.sections.filterNot(_.isQuery).map(_.name)
    val sf = "/" + "x" * 63
    for (o <- Seq(Outcome(values, names, sections), Outcome(values, Nil, Nil))) {
      val line = Bench.render(Bench.CompactLayout, o, sf)
      assert(line.getBytes("UTF-8").length < 2048, line)
      val rec = mapper.readTree(line)
      assert(rec.get("queries").size === names.size)
      assert(!rec.has("query_cpu_sec_3runs"))
    }
  }
}
