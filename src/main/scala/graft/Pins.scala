package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one release mechanism for pins (frames a call reads more than
  * once): `Pins.scope { pins => … }` hands the body a scope whose
  * [[persist]], [[persistRows]] and [[checkpoint]] record what they pin,
  * and releases all of it (`blocking = false`) when the body exits,
  * normally or by exception.
  *
  * Contract: no frame that reads a scoped pin is used after its scope
  * exits. A caller that keeps consuming a returned frame opens the scope
  * around that consumption (the curation CLIs, q253's composition).
  *
  * Out of scope: pins returned LAZILY through the frozen
  * `(SparkSession, String) => DataFrame` query contract (q36b's signature
  * bank, the q182/q212 checkpoints) have no call to scope them; the
  * harness's `spark.catalog.clearCache()` and the ContextCleaner reclaim
  * those. */
final class Pins private () {
  private val frames = ArrayBuffer.empty[DataFrame]
  private val rdds = ArrayBuffer.empty[RDD[_]]

  /** Lazy `persist()`: the first action materializes the cache. */
  def persist(df: DataFrame): DataFrame = {
    frames += df
    df.persist()
  }

  /** Partition-granular `persist`: a frame over a cached copy of `df`'s
    * rows, each partition cached when an action first computes it. A
    * partial action (`head`) fills only what it read and runs no job of
    * its own; a [[persist]]ed frame is materialized whole, in one extra
    * job, before AQE reads it. */
  def persistRows(df: DataFrame): DataFrame = {
    val rows = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdds += rows
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** Eager `localCheckpoint(true)`; the checkpointed RDD is read off the
    * returned plan's `LogicalRDD` so its blocks release with the scope. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    rdds ++= Pins.checkpointRdds(cp)
    cp
  }

  private def release(): Unit = {
    frames.foreach(_.unpersist(blocking = false))
    rdds.foreach(_.unpersist(blocking = false))
  }
}

object Pins {
  /** The checkpointed RDDs a frame reads: its plan's `LogicalRDD` leaves. */
  private[graft] def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  def scope[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins) finally pins.release()
  }
}
