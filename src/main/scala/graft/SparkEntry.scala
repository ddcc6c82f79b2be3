package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2); every entry with
  * a DuckDB-expressible oracle also appears in `oracleSql` with identical
  * column names (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query (reference prompt.txt:16-78 shape: left join + weekly
    * date_trunc aggregation + conditional agg) on sf0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CoreQueries.q4_weekly(spark, "/root/testdata/sf0.001")

  /** Every query module, once: the inventory's single registry. Its order
    * is the merge order of [[queries]] and [[oracleSql]]; QueryRegistrySpec
    * checks no name is declared twice, so no module shadows another. */
  private[graft] val modules: Seq[graft.queries.QueryModule] = {
    import graft.queries._
    Seq(CoreQueries, MoreQueries, ExtensionQueries, Round3Queries,
      Round4Queries, Round5Queries, Round6Queries, Round7Queries,
      Round8Queries, Round9Queries, Round10Queries, Round11Queries,
      Round12Queries, Round13Queries, Round14Queries, Round15Queries,
      Round16Queries, Round17Queries, Round18Queries, Round19Queries,
      Round20Queries, Round21Queries, Round22Queries, Round23Queries,
      Round24Queries, Round25Queries, Round26Queries, Round27Queries,
      Round28Queries, Round29Queries, Round30Queries, Round31Queries,
      Round32Queries, Round33Queries, Round34Queries, Round35Queries,
      Round36Queries, Round37Queries, Round38Queries, Round39Queries,
      Round40Queries, Round41Queries, Round42Queries, Round43Queries,
      Round44Queries, Round45Queries, Round46Queries, Round47Queries,
      Round48Queries, Round49Queries, Round50Queries, Round51Queries,
      Round52Queries, Round53Queries, Round54Queries, Round55Queries,
      Round56Queries, Round57Queries, Round58Queries, Round59Queries,
      Round60Queries, Round61Queries, Round62Queries, Round63Queries,
      Round64Queries, Round65Queries, Round66Queries, Round67Queries,
      Round68Queries, Round69Queries, Round70Queries, Round71Queries,
      Round72Queries, Round73Queries, Round74Queries, Round75Queries,
      Round76Queries, Round77Queries, Round78Queries, Round79Queries,
      Round80Queries, Round81Queries, Round82Queries, Round83Queries,
      Round84Queries, Round85Queries, Round86Queries, Round87Queries,
      Round88Queries, Round89Queries, Round90Queries, Round91Queries,
      Round92Queries, Round93Queries, Round94Queries, Round95Queries,
      Round96Queries, Round97Queries, Round98Queries, Round99Queries,
      Round100Queries, Round101Queries, Round102Queries, Round103Queries,
      Round104Queries, Round105Queries, Round106Queries, Round107Queries,
      Round108Queries, Round109Queries, Round110Queries, Round111Queries,
      Round112Queries, Round113Queries, Round114Queries, Round115Queries,
      Round116Queries, Round117Queries, Round118Queries, Round119Queries,
      Round120Queries, Round121Queries, Round122Queries, Round123Queries,
      Round124Queries, Round125Queries, Round126Queries, Round127Queries,
      Round128Queries, Round129Queries, Round130Queries, Round131Queries,
      Round132Queries, Round133Queries, Round134Queries, Round135Queries,
      Round136Queries, Round137Queries, Round138Queries)
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (dedup / similarity / text /
    * multimodal / events). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap
}
