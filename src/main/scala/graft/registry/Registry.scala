package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered row: its Spark build and, beside it, the DuckDB SQL
  * that must hash-match the build's output — or [[Query.NoOracle]] for
  * an approximate operator no exact SQL reproduces. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

object Query {
  /** The oracle of a row whose output no exact SQL reproduces. */
  val NoOracle: Option[String] = None
}

/** The registry: every family's rows, indexed by name. */
object Registry {

  def families: Seq[Seq[Query]] = Seq(TransitQueries.queries,
    ReplayQueries.queries, DedupQueries.queries, SimilarityQueries.queries,
    TextQueries.queries, CorpusQueries.queries, OperatorsQueries.queries,
    StorageQueries.queries, StatsQueries.queries)

  /** Rows by name; a name registered twice, within or across families,
    * fails here instead of silently replacing the other row. */
  def index(families: Seq[Seq[Query]]): Map[String, Query] = {
    val all = families.flatten
    val repeated = all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  lazy val byName: Map[String, Query] = index(families)
}
