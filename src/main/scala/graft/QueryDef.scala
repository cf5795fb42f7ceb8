package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, stated once: its name, its Spark plan, and the
  * DuckDB SQL that must reproduce it (`None` = rows-only: the query is
  * float-iterative by construction and carries a property spec instead).
  * `pipelines` counts the full pipelines one run executes — evaluators
  * run the candidate pipeline and its exact ground truth — so a bench
  * total is read as an N-pipeline cost, not a one-operator regression.
  * Each family object lists its queries as one `Seq[QueryDef]`;
  * [[SparkEntry]] derives the driver maps from them.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    pipelines: Int = 1)
