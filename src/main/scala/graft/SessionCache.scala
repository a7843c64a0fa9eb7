package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A per-session memo table for expensive-once artifacts (trained
  * centroids, corpus BM25 frames, converged dedup labels, …) that every
  * operator-level cache in the engine shares.
  *
  * The reason this exists instead of a bare `TrieMap` keyed by session:
  * a strong session key makes entries for STOPPED sessions unreachable
  * for lookup but not for the GC, so a long-lived JVM that cycles
  * sessions (test suites, notebook servers) would grow without bound.
  * Every access therefore purges entries whose owning session's
  * `SparkContext` has stopped — the cache's footprint is bounded by the
  * live sessions plus at most the dead entries accumulated since the
  * last access, with no reliance on callers knowing to invalidate.
  *
  * Every instance registers with the companion, which owns the one
  * lifecycle: [[SessionCache.clear]] drops every memo in the engine and
  * releases the blocks the memoized frames pinned. Same
  * immutable-corpus-dir assumption as every consumer: a caller that
  * rewrites a fixture dir in place mid-session must clear explicitly
  * (spec-pinned in SessionCacheSpec).
  */
final class SessionCache[K, V] {
  private val m = TrieMap.empty[(SparkSession, K), V]
  SessionCache.all.add(this)

  /** Memoized lookup; `build` may run more than once under a race (the
    * plain `TrieMap.getOrElseUpdate` contract) — consumers cache
    * deterministic frames, so duplicate builds are wasted work, never
    * wrong answers.
    */
  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V = {
    purgeStopped()
    m.getOrElseUpdate((spark, key), build)
  }

  /** Drop entries whose owning session's context has stopped. O(live +
    * dead) over a map whose population is a handful of fixture dirs —
    * noise next to the Spark jobs the hits avoid.
    */
  private def purgeStopped(): Unit =
    m.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) m.remove(k)
    }
}

object SessionCache {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]()

  /** Every entry of every memo in the engine: (memo, session, key, value). */
  private[graft] def entries: Seq[(SessionCache[_, _], SparkSession, Any, Any)] =
    all.asScala.toSeq.flatMap(c => c.m.snapshot().map { case ((s, k), v) => (c, s, k, v) })

  /** Drop every memoized entry of every session and release what the
    * memoized frames pinned: the checkpoint RDDs behind `materialize()`d
    * frames (a `LogicalRDD` leaf) and the blocks of the cached plans they
    * read (an `InMemoryRelation`; the plan stays registered, and Spark
    * rebuilds its blocks on its next use). Frames are found in values that
    * are frames or tuples/case classes of frames. Blocks go without
    * waiting for a GC, so a frame taken from a memo before the clear must
    * not be executed after it.
    */
  def clear(): Unit = {
    val held = entries.filterNot(_._2.sparkContext.isStopped)
    all.forEach(_.m.clear())
    held.foreach { case (_, _, _, v) => frames(v).foreach(release) }
  }

  private def frames(v: Any): Iterator[Dataset[_]] = v match {
    case df: Dataset[_] => Iterator.single(df)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  private def release(df: Dataset[_]): Unit = {
    val qe = df.queryExecution
    qe.logical.collect { case r: LogicalRDD => r.rdd }.foreach(_.unpersist(blocking = false))
    qe.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }
      .foreach(_.clearCache(blocking = false))
  }
}
