package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The full query inventory: every operator from SURVEY.md §2 plus the
  * north-star LLM-data-pipeline operators. Each query is one [[Entry]]:
  * its name, its builder and the DuckDB statement that checks it (a
  * stream twin names its batch query's statement). Groups keep
  * `entries` a `def`: oracle strings cross objects, and a `val` could
  * read a `null` from an object that is still being initialized. */
object Catalog {
  final case class Entry(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: String)

  def entries: Seq[Entry] = unique(
    PipelineQueries.entries ++ BatchSqlQueries.entries ++
      DedupQueries.entries ++ SimilarityQueries.entries ++
      TextQueries.entries ++ MultimodalQueries.entries ++
      StreamingQueries.entries ++ SourceQueries.entries ++
      CleaningQueries.entries ++ CurationQueries.entries ++
      TableJoinQueries.entries ++ KsqlFunctionQueries.entries ++
      SketchQueries.entries ++ RetrievalQueries.entries ++
      HybridQueries.entries ++ ChangePointQueries.entries ++
      SeasonalQueries.entries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  def oracles: Map[String, String] =
    entries.map(e => e.name -> e.oracle).toMap

  /** `entries` unchanged, or an error naming every repeated name: a
    * map built from a repeated name would keep only its last query. */
  private[queries] def unique(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect {
      case (name, es) if es.size > 1 => name
    }
    require(dups.isEmpty,
      s"duplicate catalog query names: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }
}
