package org.apache.spark.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD

/** Deterministic shuffle-scratch reclamation for scratch-bounded wave
  * processing ([[graft.ops.dedup.MinHashDeduplicateFilter]]).
  *
  * The default reclamation path — ContextCleaner collecting a
  * ShuffleDependency's weak reference after a GC — is the wrong tool when
  * the POINT of a job structure is that wave g's shuffle files are gone
  * before wave g+1 writes its own: `System.gc()` is a no-op under
  * `-XX:+DisableExplicitGC` (common in production Spark JVM flags), and
  * the cleaner's shuffle handling is asynchronous by default
  * (`spark.cleaner.referenceTracking.blocking.shuffle=false`), so even a
  * real GC can return before any file is deleted. This bridge instead
  * snapshots the driver's registered shuffle ids around a wave and
  * removes exactly the wave's own shuffles, synchronously
  * (`doCleanupShuffle(id, blocking = true)` unregisters the map outputs
  * and deletes the files before returning). Lives in an
  * `org.apache.spark` subpackage because both `SparkContext.cleaner` and
  * `doCleanupShuffle` are `private[spark]`.
  */
object ShuffleCleanup {

  /** Shuffle ids currently registered with the driver's map-output
    * tracker — i.e. shuffles whose files may still exist. */
  def liveShuffleIds(sc: SparkContext): Set[Int] =
    sc.env.mapOutputTracker match {
      case m: MapOutputTrackerMaster => m.shuffleStatuses.keySet.toSet
      case _ => Set.empty
    }

  /** Shuffle ids reachable from `rdd`'s OWN dependency lineage — the
    * concurrency-safe way to scope a cleanup: a snapshot delta of ALL
    * registered ids would also sweep up shuffles a CONCURRENT query
    * registered in the same window, and deleting those mid-job fails that
    * query with FetchFailed. Walking the query's executed RDD graph
    * (ShuffledRowRDD → ShuffleDependency at every exchange boundary,
    * including reused ones) attributes each shuffle to the plan that owns
    * it, so callers remove `lineageShuffleIds(myRdd) -- priorSnapshot` —
    * exactly this query's new shuffles, no one else's. Call after the
    * RDD graph exists (e.g. `df.queryExecution.toRdd`, which also
    * materializes AQE's intermediate stages) and BEFORE any
    * lineage-truncating checkpoint erases the dependencies.
    *
    * Known gap (accepted trade-off vs the concurrent-delete hazard):
    * only shuffles reachable from the FINAL RDD graph are found.
    * Shuffles materialized but replanned out of the final lineage — an
    * AQE stage later converted shuffle→broadcast, or exchanges inside
    * broadcast/subquery subtrees (which hang off the SparkPlan, not the
    * final RDD's dependencies) — are missed here and reclaimed only by
    * ContextCleaner's eventual GC path, slightly loosening the
    * bounded-scratch contract. For the wave plans this serves the final
    * lineage IS the wave's full shuffle set (merge-hinted joins, no
    * broadcast subtrees), so the gap is theoretical there; a caller with
    * broadcast/subquery subtrees should expect eager reclamation to
    * under-collect, never over-collect. */
  def lineageShuffleIds(rdd: RDD[_]): Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    val out = scala.collection.mutable.Set[Int]()
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      r.dependencies.foreach {
        case s: ShuffleDependency[_, _, _] => out += s.shuffleId; walk(s.rdd)
        case d => walk(d.rdd)
      }
    }
    walk(rdd)
    out.toSet
  }

  /** Synchronously unregister the given shuffles and delete their files.
    * Safe only for shuffles no live plan can re-read — callers must have
    * truncated downstream lineage (e.g. `localCheckpoint()`) first.
    * Idempotent: ids the async cleaner already collected are skipped by
    * the cleaner itself. */
  def removeShuffles(sc: SparkContext, ids: Set[Int]): Unit =
    sc.cleaner.foreach { cl =>
      ids.toSeq.sorted.foreach(id => cl.doCleanupShuffle(id, blocking = true))
    }
}
