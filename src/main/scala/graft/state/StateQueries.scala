package graft.state

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interactive state queries — the reference's "query engine face"
  * (`utils/IQueriesService.java`, SURVEY.md §2.9): read a running/stopped
  * streaming query's materialized state as a table and serve the four
  * query shapes (point / all / key-range / windowed fetch).
  *
  * Implementation: Spark 4's State Data Source reads a query's checkpoint
  * directly (`spark.read.format("statestore")`), so state reads are plain
  * DataFrames — filters and projections push into the state files; no
  * cross-instance routing layer is needed (the reference's
  * `MetadataService` key→host hop disappears: the driver addresses every
  * partition).
  *
  * The reference's REST layer is a transport detail over exactly these
  * four reads; any HTTP framework can wrap the returned DataFrames.
  */
object StateQueries {

  /** Raw state rows (columns `key`, `value` as structs, `partition_id`)
    * for operator 0 of the query checkpointed at `checkpointDir`. */
  def store(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("statestore").load(checkpointDir)

  /** State of ONE named variable of a `transformWithState` operator
    * (the round-8 streaming family — StreamZScore's ring buffer,
    * StreamFunnel's stage marks, …). Classic stateful operators keep one
    * anonymous store the plain [[store]] read covers; TWS operators keep
    * N NAMED variables per key, so the variable is part of the address.
    * With `flattenCollections` (default), ListState/MapState rows come
    * back one element per row (`key` struct + `list_element`/
    * `map_key`+`map_value`) — the shape [[point]]/[[all]]/[[range]]
    * filter directly; ValueState always reads as `key` + `value`. */
  def twsStore(spark: SparkSession, checkpointDir: String,
               stateVarName: String,
               flattenCollections: Boolean = true): DataFrame =
    spark.read.format("statestore")
      .option("stateVarName", stateVarName)
      .option("flattenCollectionTypes", flattenCollections.toString)
      .load(checkpointDir)

  /** Flattened view: key.* and value.* side by side (names prefixed to
    * avoid collisions). */
  def flattened(spark: SparkSession, checkpointDir: String): DataFrame = {
    val df = store(spark, checkpointDir)
    val keyCols = df.select(col("key.*")).columns
      .map(c => col(s"key.$c").as(s"key_$c"))
    val valCols = df.select(col("value.*")).columns
      .map(c => col(s"value.$c").as(s"value_$c"))
    df.select(keyCols ++ valCols: _*)
  }

  /** Flattened view of one TWS state variable: the `key` struct's fields
    * become `key_*`; every other column (ValueState's `value`,
    * ListState's `list_element`, MapState's `map_key`/`map_value` —
    * struct or primitive) becomes `value_*`; `partition_id` is dropped.
    * Encoder-wrapped primitives (a bare String key reads as
    * `{value: string}`) unwrap to their single field, so the view's
    * column names don't depend on how the processor declared its
    * encoders. */
  def flattenedTws(spark: SparkSession, checkpointDir: String,
                   stateVarName: String): DataFrame = {
    val df = twsStore(spark, checkpointDir, stateVarName)
    def expand(c: String, prefix: String) = df.schema(c).dataType match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fieldNames.toSeq.map(f => col(s"$c.$f").as(
          if (s.fieldNames.length == 1) prefix else s"${prefix}_$f"))
      case _ => Seq(col(c).as(prefix))
    }
    val keyCols = expand("key", "key")
    // MapState variables surface as (user_map_key, user_map_value) —
    // rename to (map_key, value) so one grouping key plus one value
    // column come out, same as value/list states (a shared "value"
    // prefix for both would collide)
    val valCols = df.columns.toSeq.filter(c => c != "key" && c != "partition_id")
      .flatMap { c =>
        val prefix =
          if (c == "user_map_key") "map_key"
          else if (c == "user_map_value") "value"
          else if (c.startsWith("map_")) c
          else "value"
        expand(c, prefix)
      }
    df.select(keyCols ++ valCols: _*)
  }

  /** Store discovery: which stateful operators (and state stores) a
    * checkpoint holds, with partition counts and batch ranges — the
    * reference client's "what can I query" step
    * (`MetadataService.java:30-68` enumerates stores per instance; on
    * Spark the checkpoint itself is the catalog). */
  def metadata(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("state-metadata").load(checkpointDir)

  /** Point lookup: rows whose key matches `pred`
    * (reference `GET /state/keyvalue/{store}/{key}`). */
  def point(state: DataFrame, pred: Column): DataFrame = state.filter(pred)

  /** Full scan (reference `GET /state/keyvalues/{store}/all`). */
  def all(state: DataFrame): DataFrame = state

  /** Inclusive key-range scan
    * (reference `GET /state/keyvalues/{store}/range/{from}/{to}`). */
  def range(state: DataFrame, keyCol: Column, from: Any, to: Any): DataFrame =
    state.filter(keyCol >= lit(from) && keyCol <= lit(to))

  /** Windowed fetch: a key's windows intersecting [fromSec, toSec]
    * (reference `GET /state/windowed/{store}/{key}/{from}/{to}`), with the
    * reference's `"$key@$windowStart"` rendering. */
  def windowedFetch(state: DataFrame, keyCol: Column, winStartCol: Column,
                    key: Any, fromSec: Long, toSec: Long): DataFrame =
    state.filter(keyCol === lit(key) &&
        winStartCol.cast("long").between(fromSec, toSec))
      .withColumn("rendered_key", renderedKey(keyCol, winStartCol))

  /** The reference's `"$key@$windowStart"` rendering of a window row. */
  def renderedKey(keyCol: Column, winStartCol: Column): Column =
    concat(keyCol.cast("string"), lit("@"), winStartCol.cast("long").cast("string"))
}
