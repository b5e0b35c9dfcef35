package graft.sources

import java.lang.ref.WeakReference

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session Hadoop configuration as ONE broadcast, the handle every
  * lake reader and writer factory (and the lake's footer-reading RDD
  * passes) ships to its tasks. A `SerializableConfiguration` held by a
  * factory rides inside every task binary — ~110 KB, serialized once per
  * stage on the driver and deserialized once per TASK on the executors;
  * the broadcast handle is a few bytes, and each executor fetches the
  * value once (Spark's own V2 file scans broadcast it the same way).
  *
  * What is cached: the single most recent broadcast, with the context it
  * was made on and the full entry map it was made from. Key: the context
  * (identity, not stopped) AND the entry map of a fresh
  * `sessionState.newHadoopConf()` — built on every call, so a session
  * `spark.conf.set` or a changed Hadoop setting is always seen; equal
  * content reuses the broadcast, any difference makes a new one.
  *
  * Who frees it: never this object. A replaced broadcast only leaves the
  * cache — a concurrent query's factory may still hold it — and Spark's
  * `ContextCleaner` reclaims it once nothing references it; stopping the
  * context frees them all. The context is held weakly, and a stopped one
  * is never handed out: the next call rebuilds on the live context.
  *
  * The value is SHARED by every task of every query that gets it (in
  * local mode it is the driver's own object): readers copy it before any
  * `set` (see [[LakeColumnarReader]]), everything else only reads it. */
object ShippedConf {
  private final case class Entry(sc: WeakReference[SparkContext],
                                 content: Map[String, String],
                                 bc: Broadcast[SerializableConfiguration])

  private var cached: Entry = null // guarded by this

  def apply(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    val content = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val sc = spark.sparkContext
    synchronized {
      val hit = cached
      if (hit != null && (hit.sc.get eq sc) && !sc.isStopped && hit.content == content)
        hit.bc
      else {
        // cleared first: on a stopped context `broadcast` throws, and the
        // cache must not keep that context's entry
        cached = null
        val bc = sc.broadcast(new SerializableConfiguration(conf))
        cached = Entry(new WeakReference(sc), content, bc)
        bc
      }
    }
  }

  /** The context the cached broadcast was made on, if any is cached and
    * still reachable. */
  private[graft] def cachedContext: Option[SparkContext] =
    synchronized(Option(cached).flatMap(e => Option(e.sc.get)))
}
