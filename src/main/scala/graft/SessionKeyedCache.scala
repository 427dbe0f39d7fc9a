package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE keyed artifact cache — trained values and persisted
  * DataFrames alike; every memoized artifact of the query registry
  * (`graft.registry.Shared`) is one of these: weak-session
  * keying (a dead session's entries collect — an identityHashCode key
  * could be reused by a NEW session after the old one is GC'd),
  * SoftReference values (an artifact references nothing the session
  * can't rebuild, so a reclaimed entry just retrains; and a strongly
  * held DataFrame value would reference its SparkSession, i.e. the weak
  * KEY — the WeakHashMap value-refers-to-key pitfall), knob-derived
  * string keys BUILT FROM the caller's actual arguments so different
  * knobs get their own artifact, and a double-checked publish protocol:
  * `build` runs OUTSIDE the monitor (multi-job Lloyd trainings must not
  * serialize unrelated sessions or block resetCaches for their
  * duration); a benign race builds twice and the FIRST published
  * artifact wins for both callers. `onRelease` runs before reset drops
  * an entry, for artifacts that retain off-heap state (checkpoint
  * blocks); `onDiscard` (default: `onRelease`) runs on a losing build.
  * Semantics pinned in SessionKeyedCacheSpec. */
private[graft] final class SessionKeyedCache[V <: AnyRef](
    onRelease: V => Unit = (_: V) => (),
    onDiscard: Option[V => Unit] = None) {
  private val bySession = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[
      String, java.lang.ref.SoftReference[V]]]()

  def getOrBuild(s: SparkSession, key: String)(build: => V): V = {
    val cached = synchronized {
      Option(bySession.get(s)).flatMap(_.get(key))
        .flatMap(r => Option(r.get))
    }
    cached.getOrElse {
      val v = build
      val (result, lost) = synchronized {
        val m = bySession.computeIfAbsent(s, _ =>
          scala.collection.mutable.HashMap.empty)
        m.get(key).flatMap(r => Option(r.get)) match {
          case Some(winner) => (winner, true)
          case None => m(key) = new java.lang.ref.SoftReference(v); (v, false)
        }
      }
      // the losing build is discarded without ever being published — run
      // its release hook (outside the monitor, like the build itself) so
      // an artifact type that retains off-heap state (checkpoint blocks,
      // the documented reason onRelease exists) is freed now rather than
      // whenever ContextCleaner catches up
      if (lost) onDiscard.getOrElse(onRelease)(v)
      result
    }
  }

  def reset(): Unit = synchronized {
    bySession.values.forEach(_.values.foreach { ref =>
      val v = ref.get
      if (v != null) onRelease(v)
    })
    bySession.clear()
  }
}

private[graft] object SessionKeyedCache {
  /** A cache of persisted DataFrames (callers build `….persist()`):
    * reset runs `release`, then unpersists. A losing build only runs
    * `release`: it is plan-equal to the winner, so its persist found the
    * winner's CacheManager entry, and unpersisting it would drop that
    * shared entry under the winner. */
  def persisted(release: DataFrame => Unit = _ => ()): SessionKeyedCache[DataFrame] =
    new SessionKeyedCache[DataFrame](
      df => { release(df); df.unpersist(blocking = false) }, Some(release))
}
