package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The printed bench line ([[Bench.line]]): it fits the stdout budget and
  * stays self-consistent, value == sum(queries) + omitted.sum.
  */
class BenchSpec extends AnyFunSuite {
  private val tail =
    ""","engine_total":12.345,"duck_total":23.456,"duck_warmed":true,"ratio":0.526,"sf":"/data/sf0.1""""

  /** Checks the line's budget and sums; returns the parsed line. */
  private def check(results: Seq[(String, Double)], taskSec: Seq[(String, Double)]) = {
    val line = Bench.line(results, taskSec, results.count(_._2 < 0), tail)
    assert(line.length <= Bench.Budget, s"${line.length} chars")
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = j.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    val omitted = Option(j.get("omitted"))
    assert(queries.size + omitted.fold(0)(_.get("n").asInt) === results.size)
    val printed = queries.values.filter(_ >= 0).sum + omitted.fold(0.0)(_.get("sum").asDouble)
    assert(math.abs(j.get("value").asDouble - printed) <= 1e-3 * (results.size + 1))
    j
  }

  test("bench line: 109 long-named queries fit the budget; value == sum(queries) + omitted.sum") {
    val rnd = new scala.util.Random(7)
    val results = (0 until 109).map { i =>
      (f"q$i%03d_" + "long_query_name_" * 6) -> (if (i % 37 == 5) -1.0 else rnd.nextDouble() * 3)
    }
    val taskSec = results.filter(_._2 >= 0).sortBy(-_._2).take(20).map { case (n, v) => n -> 4 * v }
    val j = check(results, taskSec)
    assert(j.get("omitted").get("failed").asInt === 3)
    // task_sec rows ride only with printed query rows
    val shown = j.get("queries").fieldNames().asScala.toSet
    Option(j.get("task_sec")).foreach(ts => assert(ts.fieldNames().asScala.forall(shown)))
    // short names: every row and every task_sec row fits, nothing omitted
    val short = results.take(12).map { case (n, v) => n.take(8) -> v }
    val js = check(short, short.filter(_._2 >= 0).map { case (n, v) => n -> 2 * v })
    assert(js.get("omitted") === null && js.get("task_sec").size === 11)
  }
}
