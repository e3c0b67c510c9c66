package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped pinned frames: the one place operators pin
  * intermediates that outlive a single plan, and the one place a
  * long-lived session (an operator server answering report batches for
  * days, not the one-shot Verify/Bench harness) gives that storage back.
  *
  * Two kinds of pinned frame exist:
  *  - cache-backed (`.cache()` / `.persist`): CacheManager entries, so
  *    `spark.catalog.clearCache()` frees them — operators call `.cache()`
  *    directly and need nothing from here;
  *  - checkpoint-backed ([[checkpoint]]): RDD blocks that clearCache
  *    cannot see, so every one is registered for its session here and
  *    [[release]] frees it.
  *
  * [[shared]] is the per-(session, dir) memo for subplans many report
  * operators compose on (the J ≥ 0.5 pair stream, the LM scored frame,
  * the MinHash signature): built once, handed to every consumer.
  *
  * After [[release]], frames handed out earlier must not be reused: a
  * checkpoint-backed frame cannot recompute. Re-running the operator
  * rebuilds them. */
object Frames {
  private val memo = TrieMap.empty[(SparkSession, String, String), DataFrame]
  // registered checkpoint RDDs by RDD id, with the session that owns them
  private val checkpoints = TrieMap.empty[Int, (SparkSession, RDD[_])]

  /** Materialize `df` eagerly and cut its lineage (`localCheckpoint`),
    * registering the blocks so [[release]] frees them. */
  def checkpoint(spark: SparkSession, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    checkpointRdds(cp).foreach(r => checkpoints.put(r.id, (spark, r)))
    cp
  }

  /** Free `df`'s storage now and forget it: its cache entry, and for a
    * checkpoint-backed frame the RDD blocks it reads. The frame must not
    * be used afterwards — a checkpointed lineage cannot recompute. */
  def drop(df: DataFrame): Unit = {
    df.unpersist()
    checkpointRdds(df).foreach { r =>
      r.unpersist(blocking = false)
      checkpoints.remove(r.id)
    }
  }

  /** The frame `build` returns, built once per (session, dir, name) and
    * reused while its storage is held: a checkpoint-backed frame until
    * [[release]], a cache-backed one until `clearCache` drops it (then
    * the next call rebuilds instead of handing back a frame every
    * consumer would recompute). A concurrent double build keeps one
    * frame and drops the other, so the race never pins two copies. */
  def shared(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    evictStopped()
    val key = (spark, dir, name)
    memo.get(key) match {
      case Some(df) if live(df) => df
      case stale =>
        val df = build
        memo.putIfAbsent(key, df) match {
          case None => df
          case Some(w) if stale.isEmpty =>
            // lost a genuine race to a fresh winner
            if (live(w)) { drop(df); w }
            else if (memo.replace(key, w, df)) df
            else { drop(df); memo.getOrElse(key, df) }
          case Some(_) =>
            // the existing entry is the stale one we chose to rebuild —
            // CAS so a concurrent FRESH winner is never overwritten
            // (overwriting would pin two copies); whichever frame loses
            // the CAS is dropped
            stale match {
              case Some(s) if memo.replace(key, s, df) => drop(s); df
              case _ => drop(df); memo.getOrElse(key, df)
            }
        }
    }
  }

  /** Return `spark`'s pinned storage to baseline: forget its memo
    * entries, free its registered checkpoints and every cached frame,
    * and forget the loaders' scan-width probes (inputs are immutable
    * only between releases). */
  def release(spark: SparkSession): Unit = {
    evictStopped()
    memo.keysIterator.foreach(k => if (k._1 eq spark) memo.remove(k))
    checkpoints.foreach { case (id, (s, r)) =>
      if (s eq spark) { checkpoints.remove(id); r.unpersist(blocking = false) }
    }
    Tables.forget(spark)
    spark.catalog.clearCache()
  }

  /** The RDDs a checkpoint-backed frame reads: every leaf of its plan is
    * a checkpointed RDD. Empty for any other frame, so dropping a cached
    * frame built on top of a checkpoint never frees the checkpoint. */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]))
      leaves.collect { case l: LogicalRDD => l.rdd }
    else Nil
  }

  private def live(df: DataFrame): Boolean = {
    val rdds = checkpointRdds(df)
    if (rdds.nonEmpty) rdds.forall(_.getStorageLevel != StorageLevel.NONE)
    else df.storageLevel != StorageLevel.NONE
  }

  // entries of a stopped session can never be hit or released again
  private def evictStopped(): Unit = {
    memo.keysIterator.foreach(k => if (k._1.sparkContext.isStopped) memo.remove(k))
    checkpoints.foreach { case (id, (s, _)) =>
      if (s.sparkContext.isStopped) checkpoints.remove(id)
    }
  }
}
