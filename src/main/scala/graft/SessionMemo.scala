package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for expensive derived artifacts — trained IVF
  * centroids, connected-component labels, the chained stable-hash
  * frame. Build once per (live session, key); every later consumer in
  * the session reuses the artifact, which is the production layout
  * (train/build once, query many).
  *
  * Semantics the hand-rolled TrieMap idiom got wrong:
  *   - entries of STOPPED sessions are evicted on access, so a JVM
  *     cycling sessions cannot pin dead plans/persisted lineage;
  *   - builds are single-flight (coarse lock — builds are rare and
  *     expensive; two racing callers must not both run a training loop
  *     whose loser would leak persisted RDDs);
  *   - `invalidate` is the escape hatch when a key's underlying data
  *     changes mid-session; a caller that can fingerprint the source
  *     cheaply passes it as the `stamp`, and an entry built under an
  *     older stamp is released and rebuilt instead of served stale.
  *
  * `release` frees what an artifact pins (persisted frames, cached
  * RDDs). It runs when an entry is invalidated or replaced by a newer
  * stamp — not for entries of stopped sessions, whose blocks died with
  * their context. Dropping a reference alone frees nothing: a
  * persisted frame stays registered with the CacheManager, and its
  * blocks stay in the block manager, until it is unpersisted.
  */
final class SessionMemo[V](release: V => Unit = (_: V) => ()) {
  private val map = TrieMap.empty[(SparkSession, String), (Long, V)]

  def getOrBuild(s: SparkSession, key: String, stamp: Long = 0L)(build: => V): V = {
    map.keysIterator.filter(_._1.sparkContext.isStopped).foreach(map.remove)
    val k = (s, key)
    map.synchronized {
      map.get(k) match {
        case Some((st, v)) if st == stamp => v
        case _ =>
          map.remove(k).foreach { case (_, stale) => release(stale) }
          val v = build
          map.put(k, (stamp, v))
          v
      }
    }
  }

  /** Drop and release the artifact for (session, key); the next
    * consumer rebuilds. Returns true when an entry was present. */
  def invalidate(s: SparkSession, key: String): Boolean =
    map.synchronized(map.remove((s, key))) match {
      case Some((_, v)) => release(v); true
      case None => false
    }
}

/** Registry of the library's named memos, so a caller who rewrote a
  * source dir mid-session can invalidate the derived artifacts for
  * exactly that (session, dir) without knowing which operator objects
  * hold them: `SessionMemo.invalidateAll(spark, dir)`, or one by name
  * (names == the query keys the artifacts back). */
object SessionMemo {
  private val registry =
    TrieMap.empty[String, (SessionMemo[_], Class[_])]

  /** Create a memo registered under `name` (idempotent per name —
    * operator objects are singletons, so each name binds once, and a
    * repeat registration keeps the first `release`).
    * Re-registering a name with a DIFFERENT value type fails here,
    * at the registration site — the erased cast would otherwise let
    * two operators silently share one memo and surface as a
    * ClassCastException far from the collision. */
  def named[V](name: String, release: V => Unit = (_: V) => ())(
      implicit ct: scala.reflect.ClassTag[V]): SessionMemo[V] = {
    val m = new SessionMemo[V](release)
    registry.putIfAbsent(name, (m, ct.runtimeClass)) match {
      case None => m
      case Some((existing, cls)) =>
        require(cls == ct.runtimeClass,
          s"memo name '$name' already registered with value type ${cls.getName}, " +
            s"requested ${ct.runtimeClass.getName}")
        existing.asInstanceOf[SessionMemo[V]]
    }
  }

  /** Invalidate one named artifact for (session, key). False when the
    * name is unknown or nothing was memoized. */
  def invalidate(s: SparkSession, key: String, name: String): Boolean =
    registry.get(name).exists(_._1.invalidate(s, key))

  /** Invalidate every registered artifact for (session, key); returns
    * the names that actually held an entry. */
  def invalidateAll(s: SparkSession, key: String): Seq[String] =
    registry.toSeq.collect { case (n, (m, _)) if m.invalidate(s, key) => n }.sorted

  /** Registered artifact names (diagnostics). */
  def names: Seq[String] = registry.keys.toSeq.sorted
}
