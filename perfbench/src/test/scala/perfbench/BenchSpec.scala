package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own checks: its percentile rule, its generators'
  * determinism, and that every output check rejects a corrupted output.
  * No Spark session is needed: checks compare collected rows. */
class BenchSpec extends AnyFunSuite {

  test("percentile refuses a tail with fewer than 10 samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty) // rank 90 of 99: 9 beyond
    assert(Stats.percentile(xs :+ 100.0, 90).contains(90.0)) // 10 beyond
    assert(Stats.percentile(Nil, 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def gtfs(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gtfs")
    Gen.writeGtfs(Gen.schedule(seed, LocalDate.of(2026, 1, 12), 2, 20), dir)
    try files(dir) finally Main.deleteTree(dir)
  }

  private def ticks(seed: Long): Seq[Seq[Byte]] = {
    val s = Gen.schedule(seed, LocalDate.of(2026, 1, 12), 2, 20)
    Gen.ticks(seed, s, 5, 1768215600L)._1.map(_.payload.toSeq)
  }

  test("generators are deterministic for one seed and change with the seed") {
    val s = Gen.schedule(7, LocalDate.of(2026, 1, 5), 3, 20)
    val inputs: Seq[Long => Any] = Seq(
      gtfs, ticks, Gen.weatherJson,
      seed => Gen.observations(seed, Gen.schedule(seed, LocalDate.of(2026, 1, 5), 3, 20)),
      seed => Gen.corpus(seed, 50),
      seed => Gen.names(seed, 50))
    inputs.foreach { gen =>
      assert(gen(7) == gen(7))
      assert(gen(7) != gen(8))
    }
    assert(Gen.schedule(7, LocalDate.of(2026, 1, 5), 3, 20) == s)
  }

  test("the ingest check rejects a snapshot with a stale or missing prediction") {
    val s = Gen.schedule(3, LocalDate.of(2026, 1, 12), 2, 20)
    val (_, preds) = Gen.ticks(3, s, 4, 1768215600L)
    val want = Refs.lastPredictions(preds, 4)
    val got = want.toSeq
    assert(Checks.snapshot(got, want))
    val (k, (a, d)) = got.head
    assert(!Checks.snapshot((k -> (a + 60, d)) +: got.tail, want))
    assert(!Checks.snapshot(got.tail, want))
    assert(!Checks.snapshot(got :+ got.head, want))
  }

  test("the dashboard check rejects a miscounted or missing group") {
    val s = Gen.schedule(4, LocalDate.of(2026, 1, 5), 3, 20)
    val rows = Refs.martRows(s, Gen.observations(4, s))
    for (chart <- 1 to 5) {
      val q = Refs.Query(chart, Some((LocalDate.of(2026, 1, 5), LocalDate.of(2026, 1, 6))), None, None)
      val got = Refs.expectedCounts(q, rows).toSeq
      assert(Checks.counts(q, got, rows))
      val (k, n) = got.head
      assert(!Checks.counts(q, (k -> (n + 1)) +: got.tail, rows))
      assert(!Checks.counts(q, got.tail, rows))
    }
  }

  test("the dedup checks reject a lost pair, a wrong merge and a wrong distance") {
    val docs = Gen.corpus(6, 120)
    val truth = Refs.jaccardPairs(docs, 0.5)
    assert(truth.nonEmpty)
    assert(Checks.samePairs(truth.toSeq, truth))
    assert(!Checks.samePairs(truth.toSeq.tail, truth))
    val labels = Refs.components(truth.keys)
    assert(Checks.clusters(labels, truth.keySet))
    val outsider = docs.map(_.id).find(id => !labels.contains(id)).get
    assert(!Checks.clusters(labels + (outsider -> labels.values.min), truth.keySet))
    assert(!Checks.clusters(Map.empty, truth.keySet))
    val names = Gen.names(6, 200)
    val fuzzy = Refs.fuzzyPairs(names, 2)
    assert(fuzzy.nonEmpty && Checks.samePairs(fuzzy.toSeq, fuzzy))
    val ((a, b), d) = fuzzy.head
    assert(!Checks.samePairs(((a, b) -> (d + 1)) +: fuzzy.toSeq.tail, fuzzy))
  }

  test("a span's self time is its duration minus what its children cover") {
    val t = TraceData(IndexedSeq.empty, IndexedSeq.empty, Map.empty, Map.empty, Map.empty,
      IndexedSeq.empty, IndexedSeq.empty)
    assert(t.uncoveredMs(0, 100, Nil) == 100)
    // overlapping and out-of-span children count once, clipped to the span
    assert(t.uncoveredMs(0, 100, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 150.0))) == 60)
    assert(t.uncoveredMs(0, 100, Seq((-5.0, 200.0))) == 0)
  }

  test("levenshtein matches the textbook distance within the bound") {
    assert(Refs.levenshtein("kitten", "sitting", 5) == 3)
    assert(Refs.levenshtein("kitten", "sitting", 2) == 3) // capped at max + 1
    assert(Refs.levenshtein("abc", "abc", 2) == 0)
    assert(Refs.levenshtein("abc", "abcde", 2) == 2)
  }
}
