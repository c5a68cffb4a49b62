package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** THE memo for per-session derived artifacts — table frames, scratch
  * paths of shared indexes, ingest-built warehouses, corpus counts. The
  * reference builds its derived tables once at ingest and every
  * consumer reads them; this is where "once" is decided. It lives in
  * the engine layer because [[Graft.table]] memoizes through it and the
  * dependency direction is queries→engine only.
  *
  * An entry is keyed by (application id, kind, key). The kind names the
  * artifact, so two artifacts over the same input dir never collide;
  * the key must name every input the value depends on, and those
  * inputs must be immutable for the session (the key encodes a PATH,
  * not contents).
  *
  * The policy, owned here and nowhere else:
  *  - a build runs OUTSIDE any map lock. Memoized artifacts nest (a
  *    warehouse drive forces the simhash index, which forces table
  *    frames), and a nested `computeIfAbsent` on one ConcurrentHashMap
  *    is a forbidden "recursive update" — it works or throws depending
  *    on which hash bins the keys land in (it threw for the sf0.1 key
  *    strings and worked for sf0.01's);
  *  - racing duplicate builds are benign: each builds its own value
  *    (its own fresh scratch dir or warehouse), `putIfAbsent` keeps the
  *    first, and the loser is released — a [[Catalog]] is closed,
  *    freeing its in-process claim and `_LOCK`; a frame, path or count
  *    is just dropped;
  *  - entries live as long as their application: the first use on a
  *    SparkContext registers a listener whose `onApplicationEnd`
  *    [[evict]]s that application's entries.
  */
object SessionMemo {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, Any]()

  // application ids whose SparkContext already carries the evicting
  // listener
  private val watched =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The memoized value of `build` for (this session's application,
    * `kind`, `key`); `build` runs on a miss. `kind` must not contain
    * ':'.
    */
  def apply[A](spark: SparkSession, kind: String, key: String)(
      build: => A): A = {
    val fullKey = s"${watch(spark)}:$kind:$key"
    Option(entries.get(fullKey)).getOrElse {
      val v = build
      Option(entries.putIfAbsent(fullKey, v)) match {
        case Some(winner) => release(v); winner
        case None => v
      }
    }.asInstanceOf[A]
  }

  /** Drop every entry of application `appId` and close its Catalogs.
    * Runs from the listener at application end.
    */
  private[graft] def evict(appId: String): Unit = {
    watched.remove(appId): Unit
    val prefix = s"$appId:"
    entries.keySet.forEach { k =>
      if (k.startsWith(prefix)) release(entries.remove(k))
    }
  }

  private def release(v: Any): Unit = v match {
    case c: Catalog => c.close()
    case _ =>
  }

  private def watch(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    if (watched.add(appId)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        evict(appId)
    })
    appId
  }
}
