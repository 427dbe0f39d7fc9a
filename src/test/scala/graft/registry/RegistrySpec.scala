package graft
package registry

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape: the registered name set, its no-oracle rows, and
  * that a repeated name fails instead of replacing a row. */
class RegistrySpec extends AnyFunSuite {

  private def row(name: String): Query =
    Query(name, (_, _) => null, Some("SELECT 1"))

  test("the views hold exactly the names of tools/bench_reference.txt") {
    val src = scala.io.Source.fromFile("tools/bench_reference.txt")
    val reference =
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+").head).toSet
      finally src.close()
    assert(reference.size == 276)
    assert(SparkEntry.queries.keySet == reference)
    assert(Registry.families.map(_.size).sum == 276)
  }

  test("every oracle belongs to a registered row, and the rows without " +
    "one are exactly the six approximate operators") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set(
      "q16_minhash_pairs", "q17_simhash", "q26_simhash_pairs",
      "q37_dedup_pipeline", "q40_peak_hours_approx",
      "q151_approx_percentiles"))
  }

  test("a name repeated within a family or across families fails when " +
    "the index is built") {
    val within = intercept[IllegalArgumentException](
      Registry.index(Seq(Seq(row("a"), row("b"), row("a")))))
    assert(within.getMessage.contains("a"))
    val across = intercept[IllegalArgumentException](
      Registry.index(Seq(Seq(row("a"), row("x")), Seq(row("b"), row("x")))))
    assert(across.getMessage.contains("x"))
    assert(Registry.index(Seq(Seq(row("a")), Seq(row("b")))).keySet ==
      Set("a", "b"))
  }
}
