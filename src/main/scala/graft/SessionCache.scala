package graft

import graft.operators.AnnIndex
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Build once per session, reuse for every later query in it: at most one
  * stored value per (session, key), with `TrieMap.getOrElseUpdate`
  * semantics. Sessions are held weakly and by identity, so a stopped,
  * collected session releases what it built and a new session builds
  * afresh (an identityHashCode key would pin every entry for the JVM's
  * life and, once reused after GC, hand a new session a dead one's
  * index).
  *
  * The key must encode the input's DERIVATION — data path, split, every
  * build parameter — because a hit never evaluates the by-name `build`:
  * an input the key leaves out is silently served the first caller's
  * value.
  *
  * A [[SessionCache.logged]] cache times each build into
  * [[graft.operators.AnnIndex.buildLog]] under the name it derives from
  * the key, so Bench reports build cost apart from search time.
  */
final class SessionCache[K, V] private (logName: Option[K => String]) {
  private val sessions = new java.util.WeakHashMap[SparkSession, TrieMap[K, V]]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    val perSession = sessions.synchronized {
      sessions.computeIfAbsent(s, _ => TrieMap.empty[K, V])
    }
    perSession.getOrElseUpdate(key,
      logName.fold(build)(name => AnnIndex.timedBuild(name(key))(build)))
  }
}

object SessionCache {
  def apply[K, V](): SessionCache[K, V] = new SessionCache(None)

  def logged[K, V](logName: K => String): SessionCache[K, V] =
    new SessionCache(Some(logName))
}
