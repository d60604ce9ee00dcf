package graft.queries

/** One declared query: its name, its Spark program over the test tables
  * and the DuckDB oracle its result is checked against.
  */
final case class QueryDef(name: String, program: Program, oracle: Oracle)

object QueryDef {

  /** `defs` as a registry: fails when a name is declared more than once,
    * so no later view keyed by name can drop a declaration.
    */
  def registry(defs: Seq[QueryDef]): List[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (name, ds) if ds.size > 1 => name }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs.toList
  }
}

/** DuckDB SQL over the same tables as the query. Column names and types
  * match the query's; float aggregates are rounded at the same place on
  * both sides, so partial-aggregation order cannot flip a bit.
  */
sealed trait Oracle

object Oracle {

  /** SQL fixed when the registry is built. */
  final case class Sql(text: String) extends Oracle

  /** SQL embedding fitted model state as literals, rendered at dump time
    * from the models fitted on the dumped tables.
    */
  final case class Fitted(render: Fits => String) extends Oracle

  /** SQL over the committed expectation fixture at `path`, for a query
    * whose computation is not SQL-expressible. The query checks its live
    * result against the fixture row by row; `expected` is the frame the
    * fixture is generated from ([[graft.GenFixtures]]).
    */
  final case class Fixture(path: String, sql: String, expected: Program) extends Oracle

  // The dumped oracle SQL embeds fixture paths verbatim and DuckDB runs
  // with an unknown working directory, so the directory must be
  // ABSOLUTE; it is env/sysprop-overridable for other checkouts.
  private val FixturesDir: String =
    sys.env
      .get("SPARK_GRAFT_FIXTURES_DIR")
      .orElse(sys.props.get("graft.fixtures.dir"))
      .getOrElse("/root/repo/fixtures")

  def fixturePath(file: String): String = s"$FixturesDir/$file"
}
