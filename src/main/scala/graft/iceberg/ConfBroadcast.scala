package graft.iceberg

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration

/** The one way the engine ships a Hadoop conf to executors: a broadcast,
  * as Spark's own file scans do (`ParquetFileFormat`), read on the
  * executor as `.value.value` — never a copy inside each task or reader
  * factory. A session conf holds about 1,100 entries (~113 KB
  * serialized, ~5 ms to deserialize): carried inline, every task of a
  * deleted read paid that, and a fresh broadcast per reader factory cost
  * ~9 ms of planning each.
  *
  * Broadcasts are cached (small LRU) by SparkContext plus the conf's full
  * key/value content: equal content reuses one broadcast; any changed
  * setting (`spark.hadoop.*`, fs options, a reader's requested schema)
  * gets a new one. A context's entries are dropped when it stops. An
  * evicted broadcast stays valid for plans still holding it; Spark's
  * ContextCleaner frees it once they are gone.
  *
  * The session conf itself is memoized per session ([[sessionConf]]):
  * `newHadoopConf()` copies every entry, and one scan asked for it up to
  * ten times. The memo is rebuilt whenever the context's Hadoop conf or
  * the session's SQL settings differ from what it was built from. */
object ConfBroadcast {
  private val MaxEntries = 16

  /** A conf's full key/value content, hashed once. */
  private final class Content(val entries: java.util.Map[String, String]) {
    override val hashCode: Int = entries.hashCode
    override def equals(o: Any): Boolean = o match {
      case c: Content => (c eq this) || (c.hashCode == hashCode && c.entries == entries)
      case _ => false
    }
  }

  private def contentOf(conf: Configuration): Content = {
    val m = new java.util.HashMap[String, String](2048)
    conf.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue): Unit)
    new Content(m)
  }

  /** Whether `conf` holds exactly the entries of `c`. */
  private def holds(conf: Configuration, c: Content): Boolean = {
    var n = 0
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (c.entries.get(e.getKey) != e.getValue) return false
      n += 1
    }
    n == c.entries.size
  }

  /** One session's Hadoop conf and what it was built from: the
    * context's conf content and the session's SQL settings, which
    * `newHadoopConf()` lays over it — together they fix its content. */
  private final class Snapshot(
      val sc: SparkContext, val base: Content, val sql: Map[String, String],
      val conf: Configuration)

  /** A broadcast conf's content: `base` overlaid with `sql`, then with
    * `settings`. */
  private final case class Key(
      sc: SparkContext, base: Content, sql: Map[String, String],
      settings: Seq[(String, String)])

  private val cache =
    new java.util.LinkedHashMap[Key, Broadcast[SerializableConfiguration]](
        32, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Broadcast[SerializableConfiguration]]): Boolean =
        size > MaxEntries
    }
  /** Per session, by its SQLConf (one per session, gone with it). */
  private val snapshots = new java.util.WeakHashMap[SQLConf, Snapshot]()
  /** Contexts whose stop listener is registered. */
  private val watched = scala.collection.mutable.Set.empty[SparkContext]

  /** The session's Hadoop conf (`sessionState.newHadoopConf()`) as of
    * this call, shared: never modify it — copy it first. */
  def sessionConf(spark: SparkSession): Configuration = snapshot(spark).conf

  private def snapshot(spark: SparkSession): Snapshot = {
    val sc = spark.sparkContext
    val sqlConf = spark.sessionState.conf
    val sql = sqlConf.getAllConfs
    val prev = synchronized(snapshots.get(sqlConf))
    if (prev != null && (prev.sc eq sc) && prev.sql == sql &&
        holds(sc.hadoopConfiguration, prev.base)) prev
    else {
      // what the conf is built from is read first: a change racing the
      // build fails the next check rather than hiding in the memo
      val s = new Snapshot(sc, contentOf(sc.hadoopConfiguration), sql,
        spark.sessionState.newHadoopConf())
      synchronized { watch(sc); snapshots.put(sqlConf, s) }
      s
    }
  }

  /** The session's Hadoop conf, broadcast. */
  def session(spark: SparkSession): Broadcast[SerializableConfiguration] =
    withSettings(spark, Nil)

  /** The session's Hadoop conf plus `settings`, broadcast — a reader
    * factory's conf. The conf is built only when no broadcast of it is
    * cached. */
  def withSettings(
      spark: SparkSession, settings: Seq[(String, String)]): Broadcast[SerializableConfiguration] =
    sessionBroadcast(snapshot(spark), settings)

  /** `conf` as of this call, broadcast (later changes to `conf` do not
    * reach the broadcast). */
  def apply(spark: SparkSession, conf: Configuration): Broadcast[SerializableConfiguration] = {
    val s = snapshot(spark)
    if (conf eq s.conf) sessionBroadcast(s, Nil)
    else cached(Key(s.sc, contentOf(conf), Map.empty, Nil))(new Configuration(conf))
  }

  private def sessionBroadcast(
      s: Snapshot, settings: Seq[(String, String)]): Broadcast[SerializableConfiguration] =
    cached(Key(s.sc, s.base, s.sql, settings)) {
      val conf = new Configuration(s.conf)
      settings.foreach { case (k, v) => conf.set(k, v) }
      conf
    }

  private def cached(key: Key)(
      build: => Configuration): Broadcast[SerializableConfiguration] = synchronized {
    cache.keySet.removeIf(_.sc.isStopped)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      watch(key.sc)
      val b = key.sc.broadcast(new SerializableConfiguration(build))
      cache.put(key, b)
      b
    }
  }

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = drop(sc)
    })

  private def drop(sc: SparkContext): Unit = synchronized {
    cache.keySet.removeIf(_.sc eq sc)
    snapshots.values.removeIf(_.sc eq sc)
    watched -= sc
  }

  /** Cached broadcasts and session confs of `sc` (test surface). */
  private[graft] def cachedFor(sc: SparkContext): Int = synchronized {
    var n = 0
    cache.keySet.forEach(k => if (k.sc eq sc) n += 1)
    snapshots.values.forEach(s => if (s.sc eq sc) n += 1)
    n
  }
}
