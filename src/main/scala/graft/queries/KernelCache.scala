package graft.queries

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A session-keyed memo for one shared kernel (a persisted intermediate
  * or a trained model) that several catalog entries read. Keyed by
  * session too: a persisted DataFrame is bound to the SparkContext that
  * built it, so after spark.stop()+rebuild in the same JVM a key without
  * the session would hand back a corpse.
  *
  * Declaring a cache registers it under its Bench shared-cache `family`,
  * so [[KernelCache.clear]] and [[KernelCache.familiesFor]] cannot miss
  * it. Every get, hit or build, records its family in the enclosing
  * [[KernelCache.recording]] scope, which is how Bench derives its
  * shared-cache groups during the warm-up pass.
  */
private[graft] final class KernelCache[K, V] private (
    val family: String, unpersist: V => Unit) {
  // each value keeps the families its build read, and a hit records
  // them again: a reader is charged with everything a cold build pays
  // (q50 reads the verified pairs, whose build reads the shingle rows)
  private val map = TrieMap.empty[(SparkSession, K), (V, Set[String])]

  def apply(s: SparkSession, key: K)(build: => V): V = {
    val (v, deps) = map.getOrElseUpdate((s, key), KernelCache.recording(build))
    KernelCache.record(deps + family)
    v
  }

  private def clear(s: SparkSession): Unit =
    map.keys.filter(_._1 eq s).foreach(k => map.remove(k).foreach(e => unpersist(e._1)))

  private def heldBy(s: SparkSession): Boolean = map.keys.exists(_._1 eq s)
}

private[graft] object KernelCache {
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[KernelCache[_, _]]

  // the calling thread's open recording scopes, innermost first; not
  // inheritable, so Spark's pooled threads never keep a stale scope
  private val scopes = ThreadLocal.withInitial[List[collection.mutable.Set[String]]](() => Nil)

  def apply[K, V](family: String, unpersist: V => Unit = (_: V) => ()): KernelCache[K, V] = {
    val c = new KernelCache[K, V](family, unpersist)
    registry.add(c)
    c
  }

  /** A cache of persisted frames per fixture dir, unpersisted on clear. */
  def frames(family: String): KernelCache[String, DataFrame] =
    apply[String, DataFrame](family, _.unpersist(blocking = true))

  /** Drop (and unpersist) every registered cache's entries for `s`. */
  def clear(s: SparkSession): Unit = registry.forEach(_.clear(s))

  /** The families `s` currently holds entries for. Caches fill when a
    * query is CONSTRUCTED (the kernel helpers run at plan-build time),
    * so constructing an entry on cleared caches shows what it reads.
    */
  def familiesFor(s: SparkSession): Set[String] =
    registry.asScala.filter(_.heldBy(s)).map(_.family).toSet

  /** Runs `body` and returns the families of every cache get it made,
    * including the families read by builds of the kernels it hit.
    */
  def recording[T](body: => T): (T, Set[String]) = {
    val seen = collection.mutable.Set.empty[String]
    val outer = scopes.get
    scopes.set(seen :: outer)
    try (body, seen.toSet)
    finally scopes.set(outer)
  }

  private def record(families: Set[String]): Unit =
    scopes.get.foreach(_ ++= families)
}
