package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

/** The state store of a replay-fold row: one shard per fold under
  * `dir/ver=<ver>`, each holding rows of `schema`. The store is read at
  * its root with `schema` plus the `ver` column, so `ver` comes from the
  * shard's directory name (a `before` read prunes later shards unread),
  * a store with no shards reads as zero rows, and a crashed write's
  * `_temporary` dir is skipped as a hidden path.
  *
  * Exactly-once results under at-least-once delivery: a crash between a
  * fold's writes and its checkpoint commit re-runs the fold with the
  * same `ver`, after any subset of its shards has landed. Every read
  * inside fold `ver` is [[before]]`(ver)`, so the re-run sees the same
  * state as the first attempt and recomputes the same rows, and [[put]]
  * overwrites the fold's shard instead of adding beside it, so each
  * shard ends holding its fold's rows once. The same bound makes a
  * fold's writes independent of each other: a step may run them in any
  * order or at once ([[Shared.inParallel]]).
  */
private[graft] final class FoldStore(s: SparkSession, dir: Path,
    schema: StructType) {
  Files.createDirectories(dir)
  private val readSchema = schema.add("ver", LongType)

  /** Write fold `ver`'s shard (rows of `schema`, no `ver` column). */
  def put(df: DataFrame, ver: Long): Unit =
    df.write.mode("overwrite").parquet(dir.resolve(s"ver=$ver").toString)

  /** Every shard; a def, so each call lists the store afresh. */
  def all: DataFrame = s.read.schema(readSchema).parquet(dir.toString)

  /** The shards of the folds before `ver`. */
  def before(ver: Long): DataFrame = all.filter(col("ver") < ver)
}

/** A replay-fold row: its one-time `seeds`, the shard writes of one fold
  * step, and its result after the folds. A step's writes read only
  * [[FoldStore.before]] state, so they are independent thunks a caller
  * runs together ([[Shared.inParallel]]) or, to simulate a crash, in part.
  */
private[graft] trait Fold {
  def seeds: Seq[() => Unit] = Nil
  def step(b: DataFrame, ver: Long): Seq[() => Unit]
  def readout: DataFrame
}
