package graft.queries

/** One registered query: the Spark plan and the DuckDB SQL that checks
  * it, side by side. Column names match between the two (the checker
  * sorts columns by name and rows before hashing). Each family file
  * (Relational, Changegen, Pipeline) holds a `lazy val queries:
  * Seq[Query]` — lazy because oracle SQL reads helper vals declared
  * further down the file.
  */
final case class Query(name: String, build: QueryUtil.Q, oracle: String)

object Query {
  /** Name-keyed index over `qs`. A name registered twice throws rather
    * than letting the later record silently replace the earlier one. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dupes = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dupes.isEmpty, s"query name registered twice: ${dupes.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
