package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Query-scoped cache tracking. Several operators persist an
  * intermediate frame that multiple downstream branches consume
  * ([[graft.ext.Dedup.minhashLsh]],
  * [[graft.ext.Similarity.knnGraph]],
  * [[graft.ext.Similarity.nearDupPairs]],
  * [[graft.ext.Packing.packSequences]],
  * [[graft.ext.Packing.shuffledOrdinal]],
  * [[graft.sources.TextCorpus.readJsonl]]) or localCheckpoint per
  * iteration ([[graft.ext.Dedup.components]]). Spark can only free those
  * entries when someone unpersists them, and the operator itself cannot:
  * the cache must outlive the RETURNED (lazy) plan until the caller has
  * materialized it. Before this registry a long-lived session
  * accumulated every such frame for its lifetime.
  *
  * The contract is driver-loop-shaped, matching Verify/Bench and any
  * serving loop: build a query, materialize it, then call [[release]] —
  * every frame the builders persisted since the previous release is
  * dropped. After release, plans returned by those builder calls must be
  * REBUILT, not re-collected: persist-backed frames would merely
  * recompute (slow but correct), but checkpoint-backed frames
  * ([[graft.ext.Dedup.components]] output) have truncated lineage and
  * cannot. Tracking is not transactional across threads — two sessions
  * interleaving builder calls should release from a single coordinator
  * (as Verify/Bench do).
  */
object CacheScope {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val rdds = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  /** Persist `ds` (MEMORY_AND_DISK) and register it for [[release]]. */
  private[graft] def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    frames.add(ds)
    ds
  }

  /** `ds.cache()` (default level) registered for [[release]]. */
  private[graft] def cacheTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    frames.add(ds)
    ds
  }

  /** Eager localCheckpoint returning the materialized frame AND the RDD
    * handles holding its blocks. `Dataset.unpersist` cannot free
    * checkpoint blocks (they are RDD-level storage, not CacheManager
    * entries), so the handles are captured by diffing the context's
    * persistent-RDD registry around the eager checkpoint — exact while
    * one thread checkpoints at a time (the [[release]] contract). */
  private[graft] def localCheckpointWithRdds(
      df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    val added = sc.getPersistentRDDs.iterator
      .collect { case (id, r) if !before.contains(id) => r }.toList
    (out, added)
  }

  /** Register checkpoint RDDs (from [[localCheckpointWithRdds]]) whose
    * blocks must live until the built query is released. */
  private[graft] def trackRdds(rs: Seq[RDD[_]]): Unit =
    rs.foreach(rdds.add)

  /** Immediately free checkpoint blocks that are no longer reachable —
    * an iterative operator calls this on round N-1's RDDs once round N
    * is materialized, keeping its in-flight footprint O(1) rounds. */
  private[graft] def unpersistRdds(rs: Seq[RDD[_]]): Unit =
    rs.foreach(_.unpersist(blocking = false))

  /** Drop every frame and checkpoint tracked since the last release.
    * Call after materializing the queries built since then. */
  def release(): Unit = {
    var ds = frames.poll()
    while (ds != null) { ds.unpersist(blocking = false); ds = frames.poll() }
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking = false); r = rdds.poll() }
  }
}
