package graft.state

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.state.StateTable
import org.apache.spark.sql.functions._

import java.io.FileNotFoundException
import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.annotation.tailrec
import scala.util.control.NonFatal

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
  * A read resolves ONCE PER COMMIT ([[CommitMemo]]): [[store]],
  * [[twsStore]], [[flattened]] and [[flattenedTws]] first probe the
  * checkpoint's commit log under `<checkpoint>/commits` (the status of the
  * commit file they last resolved at and of the next batch's file; a
  * listing when there is no such file), and while its latest commit file
  * is the same (the freshness token: the file's batch id, modification
  * time and length) they return the DataFrame they resolved before,
  * already analyzed. A new commit, or a checkpoint deleted and rewritten
  * at the same path, resolves again. The source's own "latest" is the
  * same file (`StateSourceOptions` takes the batch from
  * `CommitLog.getLatest`). A checkpoint without a usable commit log is
  * resolved on every call.
  *
  * The reference's REST layer is a transport detail over exactly these
  * four reads; any HTTP framework can wrap the returned DataFrames.
  */
object StateQueries {

  /** `view` of the state source loaded with `options`, resolved once per
    * commit of the checkpoint ([[CommitMemo]]). */
  private def read(spark: SparkSession, checkpointDir: String, view: String, options: Seq[(String, String)])
                  (shape: DataFrame => DataFrame): DataFrame =
    CommitMemo(spark, StateRead(checkpointDir, view, options))(
      shape(spark.read.format("statestore").options(options.toMap).load(checkpointDir)))

  /** Raw state rows (columns `key`, `value` as structs, `partition_id`)
    * for operator 0 of the query checkpointed at `checkpointDir`, at its
    * latest commit. */
  def store(spark: SparkSession, checkpointDir: String): DataFrame =
    read(spark, checkpointDir, "store", Nil)(identity)

  private def twsOptions(stateVarName: String, flattenCollections: Boolean): Seq[(String, String)] =
    Seq("stateVarName" -> stateVarName, "flattenCollectionTypes" -> flattenCollections.toString)

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
    read(spark, checkpointDir, "store", twsOptions(stateVarName, flattenCollections))(identity)

  /** Flattened view: key.* and value.* side by side (names prefixed to
    * avoid collisions). */
  def flattened(spark: SparkSession, checkpointDir: String): DataFrame =
    read(spark, checkpointDir, "flattened", Nil) { df =>
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
                   stateVarName: String): DataFrame =
    read(spark, checkpointDir, "flattened", twsOptions(stateVarName, flattenCollections = true)) { df =>
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

/** One state read: the checkpoint, the view of it (`store` or
  * `flattened`) and the State Data Source options it is loaded with. */
private[state] final case class StateRead(checkpointDir: String, view: String,
                                          options: Seq[(String, String)])

/** The per-commit memo of [[StateQueries]]' reads, one per session. A
  * call finds the latest file under `<checkpoint>/commits` ([[latest]])
  * and returns the DataFrame resolved before for the same read only when
  * that file carries the token it was resolved under; a reader that
  * probed a later commit than an entry's never gets the entry. The commit
  * log's `FileSystem` and qualified path are resolved once per checkpoint
  * path as given, not per probe, and entries are keyed by the qualified
  * path, so `dir`, `dir/` and `file:/…/dir` share one. With no usable
  * commit log (no `commits/` directory, no commit yet, a log that cannot
  * be read) the read is resolved with no memo, and what was kept for that
  * path is dropped. Each state table a memo entry reads is mapped to the
  * commit it was resolved at ([[commitOf]]), so a replica's identity
  * ([[StateReplica.versionOf]]) tells a rewritten checkpoint from the one
  * it replaced.
  *
  * The session is held weakly (the key of a `WeakHashMap`) and each
  * DataFrame softly, so the memo pins no session: a session nothing else
  * holds is collected once its DataFrames' soft references are cleared,
  * and a stopped session's memo is dropped when the next session's is
  * made. */
private[state] object CommitMemo {

  /** The freshness token: the latest commit file's batch id, modification
    * time and length. The batch id alone cannot tell a checkpoint deleted
    * and rewritten at the same path up to the same batch, whose commit
    * files usually have the same length too; the modification time can. */
  final case class Commit(batchId: Long, modifiedMs: Long, length: Long)

  private final class Resolved(val commit: Commit, val df: SoftReference[DataFrame])

  /** A checkpoint's commit log: its `FileSystem`, its qualified path and
    * the checkpoint's. */
  private final class CommitLog(val fs: FileSystem, val dir: Path) {
    val checkpoint: String = dir.getParent.toString
  }

  final class Memo {
    // checkpoint path as given -> its commit log
    private[CommitMemo] val logs = new ConcurrentHashMap[String, CommitLog]
    // keyed by the qualified checkpoint path
    private[CommitMemo] val entries = new ConcurrentHashMap[StateRead, Resolved]
    val resolves = new AtomicLong
    val reuses = new AtomicLong
  }

  private val memos = new java.util.WeakHashMap[SparkSession, Memo]

  /** The commit each state table a memo entry reads was resolved at. */
  private val tokens = java.util.Collections.synchronizedMap(new java.util.WeakHashMap[Table, Commit])

  def of(spark: SparkSession): Memo = memos.synchronized {
    var memo = memos.get(spark)
    if (memo == null) {
      memos.keySet.removeIf(_.sparkContext.isStopped)
      memo = new Memo
      memos.put(spark, memo)
    }
    memo
  }

  /** The commit a state table read through the memo was resolved at, or
    * None for one read some other way. */
  def commitOf(table: Table): Option[Commit] = Option(tokens.get(table))

  private def commitLog(spark: SparkSession, memo: Memo, checkpointDir: String): Option[CommitLog] =
    Option(memo.logs.get(checkpointDir)).orElse {
      try {
        val commits = new Path(checkpointDir, "commits")
        val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
        val log = new CommitLog(fs, fs.makeQualified(commits))
        memo.logs.put(checkpointDir, log)
        Some(log)
      } catch { case NonFatal(_) => None }
    }

  private def token(batch: Long, f: FileStatus) = Commit(batch, f.getModificationTime, f.getLen)

  /** The checkpoint's latest commit, or None when its commit log has no
    * commit or cannot be read. From `last`, the commit an entry was
    * resolved at, it steps file by file: the status of `<last>`, then of
    * each next batch's file while one exists, so two `getFileStatus`
    * calls when nothing has landed. Commit files are written one batch
    * after another, so the last file found this way is the log's latest.
    * With no `last`, or when its file is gone (the log was purged past
    * it, or the checkpoint rewritten with fewer batches), it lists the
    * log. */
  private def latest(log: CommitLog, last: Option[Commit]): Option[Commit] =
    try {
      def at(batch: Long): Option[FileStatus] =
        try Some(log.fs.getFileStatus(new Path(log.dir, batch.toString)))
        catch { case _: FileNotFoundException => None }
      @tailrec def from(batch: Long, f: FileStatus): Commit = at(batch + 1) match {
        case Some(next) => from(batch + 1, next)
        case None       => token(batch, f)
      }
      last.flatMap(c => at(c.batchId).map(from(c.batchId, _))).orElse {
        val batches = log.fs.listStatus(log.dir)
          .filter(f => f.isFile && f.getPath.getName.nonEmpty && f.getPath.getName.forall(Character.isDigit))
        if (batches.isEmpty) None
        else {
          val f = batches.maxBy(_.getPath.getName.toLong)
          Some(token(f.getPath.getName.toLong, f))
        }
      }
    } catch { case NonFatal(_) => None }

  /** `resolve`'s DataFrame for `read`, or the one resolved at the same
    * commit before. */
  def apply(spark: SparkSession, read: StateRead)(resolve: => DataFrame): DataFrame = {
    val memo = of(spark)
    val log = commitLog(spark, memo, read.checkpointDir)
    val key = log.map(l => read.copy(checkpointDir = l.checkpoint))
    val entry = key.flatMap(k => Option(memo.entries.get(k)))
    val commit = log.flatMap(latest(_, entry.map(_.commit)))
    if (commit.isEmpty) {
      memo.logs.remove(read.checkpointDir)
      key.foreach(memo.entries.remove)
    }
    val reused = for (r <- entry; c <- commit if r.commit == c; df <- Option(r.df.get)) yield df
    reused match {
      case Some(df) =>
        memo.reuses.incrementAndGet()
        df
      case None =>
        val df = resolve
        memo.resolves.incrementAndGet()
        for (k <- key; c <- commit) {
          df.queryExecution.analyzed.foreach {
            case r: DataSourceV2Relation if r.table.isInstanceOf[StateTable] => tokens.put(r.table, c)
            case _ =>
          }
          memo.entries.put(k, new Resolved(c, new SoftReference(df)))
        }
        df
    }
  }
}
