package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query, declared once in its family object.
  * Each family lists its queries in a `lazy val all`, so the list is
  * built after the family's private helper vals are initialised.
  *
  * @param name      the contract key (`q<NN>_<what>`)
  * @param build     builds the result over a session and an sf dir
  * @param oracle    DuckDB SQL that replays the result hash-exactly;
  *                  `None` for the rows-only queries DuckDB cannot replay
  * @param reference the published reference-snapshot file the query
  *                  opens, if any; the snapshot is not part of the
  *                  repository, so such a query plans only where it is
  *                  present
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    reference: Option[String] = None)
