package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one named entry per implemented operator (SURVEY §2
  * inventory + §2.9 extensions); `oracleSql` holds the DuckDB-
  * equivalent SQL the driver hash-compares against at sf0.01. Column
  * names and row order are aligned on both sides (see Queries scaladoc
  * for the exactness rules).
  */
object SparkEntry {
  private[graft] def all: Seq[Queries.Q] =
    distinctNames(
      Queries.relational ++ Queries2.relational2 ++ Queries3.relational3 ++
        Queries4.relational4 ++ CdcQueries.all ++ PipelineQueries.all ++
        PipelineQueries2.all ++ PipelineQueries3.all ++ PipelineQueries4.all ++
        PipelineQueries5.all)

  /** `qs`, refused if two share a name: the name maps below would
    * otherwise keep only the last of them, and the suite would shrink
    * unnoticed. */
  private[graft] def distinctNames(qs: Seq[Queries.Q]): Seq[Queries.Q] = {
    val dups = qs.groupBy(_.name).collect { case (name, same) if same.size > 1 => name }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_local_supplier_volume")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** The queries whose name contains any of `names` (none = all), by
    * name. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val hit = queries.toSeq.filter { case (n, _) => names.isEmpty || names.exists(n.contains) }.sortBy(_._1)
    require(hit.nonEmpty, s"no query matches ${names.mkString(", ")}")
    hit
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
