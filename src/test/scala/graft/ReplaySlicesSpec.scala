package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** The replay rows' one slicing helper must emit exactly the predicate
  * lists the rows used to spell out by hand: staging, batch numbering
  * and every oracle hash depend on those expressions. */
class ReplaySlicesSpec extends SparkSpec {

  // one frame for every predicate, so the resolved attributes share ids
  private lazy val df = spark.range(1)
    .select(current_timestamp().as("ts"), col("id").as("tse"))

  private def resolved(p: Column): Expression =
    df.where(p).queryExecution.analyzed match {
      case f: Filter => f.condition
      case other => fail(s"expected a Filter, got $other")
    }

  private def assertSame(got: Seq[Column], want: Seq[Column]): Unit = {
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) =>
      val (eg, ew) = (resolved(g), resolved(w))
      assert(eg.semanticEquals(ew), s"$eg is not $ew")
    }
  }

  test("replaySlices matches the hand-written timestamp-literal lists " +
    "(three slices, and five with the sentinel batches)") {
    val cut1 = lit("2024-01-11").cast("timestamp")
    val cut2 = lit("2024-01-21").cast("timestamp")
    val cutS = lit("2024-06-01").cast("timestamp")
    val cutB = lit("2024-12-15").cast("timestamp")
    assertSame(SparkEntry.replaySlices(col("ts"), SparkEntry.replayTsCuts.take(2)),
      Seq(col("ts") < cut1,
        col("ts") >= cut1 && col("ts") < cut2,
        col("ts") >= cut2))
    assertSame(SparkEntry.replaySlices(col("ts"), SparkEntry.replayTsCuts),
      Seq(col("ts") < cut1,
        col("ts") >= cut1 && col("ts") < cut2,
        col("ts") >= cut2 && col("ts") < cutS,
        col("ts") >= cutS && col("ts") < cutB,
        col("ts") >= cutB))
  }

  test("replaySlices matches the hand-written epoch-second lists") {
    val cut1 = lit(java.time.Instant.parse("2024-01-11T00:00:00Z")
      .getEpochSecond)
    val cut2 = lit(java.time.Instant.parse("2024-01-21T00:00:00Z")
      .getEpochSecond)
    assertSame(SparkEntry.replaySlices(col("tse"), SparkEntry.replayEpochCuts),
      Seq(col("tse") < cut1,
        col("tse") >= cut1 && col("tse") < cut2,
        col("tse") >= cut2))
    // q267's doc-id cuts
    assertSame(
      SparkEntry.replaySlices(col("tse"), Seq(100L, 250L, 450L).map(lit(_))),
      Seq(col("tse") < 100L,
        col("tse") >= 100L && col("tse") < 250L,
        col("tse") >= 250L && col("tse") < 450L,
        col("tse") >= 450L))
    // the comparison itself tells predicates apart
    assert(!resolved(col("tse") < cut1)
      .semanticEquals(resolved(col("tse") <= cut1)))
  }
}
