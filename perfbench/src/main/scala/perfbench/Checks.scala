package perfbench

import perfbench.Gen.RtKey

/** Output checks: collected program output against the plain-Scala
  * references. Each returns whether the output is correct. */
object Checks {

  /** One row per key, holding the key's last prediction. */
  def snapshot(got: Seq[(RtKey, (Long, Long))], want: Map[RtKey, (Long, Long)]): Boolean =
    got.size == want.size && got.toMap == want

  /** `n_rows` of every output group of a dashboard query. */
  def counts(q: Refs.Query, got: Seq[(Seq[Option[Any]], Long)],
             rows: IndexedSeq[Refs.MartRow]): Boolean =
    got.size == got.toMap.size && got.toMap == Refs.expectedCounts(q, rows)

  /** The same pairs, each once, with the same value. */
  def samePairs[K, V](got: Seq[(K, V)], want: Map[K, V]): Boolean =
    got.size == want.size && got.toMap == want

  /** MinHash LSH is approximate: its clusters must be sound and recover
    * at least 90% of the brute-force pairs with Jaccard >= 0.5, the recall
    * the engine's property tests hold `polyMinhashCandidatePairs` to at 32
    * bands of 2 rows. */
  def clusters(labels: Map[Long, Long], pairs: Set[(Long, Long)]): Boolean = {
    val (sound, recall) = Refs.clusterAgreement(labels, pairs)
    sound && recall >= 0.9
  }
}
