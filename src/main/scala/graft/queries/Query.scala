package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: the Spark frame it computes over an
  * sf dir (`run`) and the DuckDB SQL that must return the same rows. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** `entries` plus one `name -> view(q)` per registry query. Every name
    * must be unique across both: `Map ++` would silently keep only the
    * last of two values under one name. */
  def merged[V](registry: Seq[Query], view: Query => V)(
      entries: Map[String, V]): Map[String, V] = {
    val names = entries.keys.toSeq ++ registry.map(_.name)
    val dups = names.diff(names.distinct).distinct.sorted
    require(dups.isEmpty, s"duplicate query name: ${dups.mkString(", ")}")
    entries ++ registry.map(q => q.name -> view(q))
  }
}
