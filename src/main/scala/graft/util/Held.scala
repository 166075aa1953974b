package graft.util

import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted frames that outlive the call that built
  * them: every such persist in the engine goes through [[Held.frames]]
  * or [[Held.results]], so one place decides when a frame is
  * unpersisted. Frames are persisted at MEMORY_AND_DISK and held under a
  * key until that key, or every key, is released.
  *
  * A key holds at most 64 frames (`MaxPerKey`). Past that the oldest
  * is unpersisted with a loud warning: a caller still reading it
  * silently re-executes its pipeline, including any online fetch seam,
  * so overflow means some caller never releases its key.
  */
final class Held private (name: String) {
  private var held = Map.empty[String, Vector[DataFrame]]

  /** Persist `ds` and hold it under `key` beside the frames the key
    * already holds. */
  def keep[T](key: String, ds: Dataset[T]): Dataset[T] = synchronized {
    val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val frames = held.getOrElse(key, Vector.empty) :+ cached.toDF()
    val (evicted, kept) = frames.splitAt(frames.size - Held.MaxPerKey)
    if (evicted.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Held.$name: more than ${Held.MaxPerKey} frames held under '$key' " +
          "without a release; unpersisting the oldest. A run still reading " +
          "it re-executes its whole pipeline. Release the key once its " +
          "frames are consumed.")
    evicted.foreach(d => Try(d.unpersist(false)))
    held = held.updated(key, kept)
    cached
  }

  /** Release `key`, then start its next generation. Release comes FIRST:
    * a re-run builds plans identical to the held generation's, so
    * CacheManager dedups a new persist into the OLD entry ("Asked to
    * cache already cached data"), and unpersisting the old generation
    * afterwards would uncache that shared entry by plan. The new
    * generation would then be uncached and every consumer would
    * recompute its chain (q41 re-runs went 4.4 s -> 40 s). */
  def renew(key: String): Generation = synchronized {
    release(key)
    new Generation(key)
  }

  /** One generation of a key, started by [[renew]]. */
  final class Generation private[Held] (key: String) {
    def keep[T](ds: Dataset[T]): Dataset[T] = Held.this.keep(key, ds)
  }

  /** The frames `key` holds, oldest first. */
  def apply(key: String): Vector[DataFrame] = synchronized(held.getOrElse(key, Vector.empty))

  /** Unpersist and forget the frames `key` holds, without waiting for
    * their blocks to be removed. */
  def release(key: String): Unit = synchronized {
    held.getOrElse(key, Vector.empty).foreach(d => Try(d.unpersist(false)))
    held -= key
  }

  /** Unpersist and forget every held frame, waiting until their blocks
    * are removed: a harness drains between timed runs, and block removal
    * must not overlap the next run. */
  def releaseAll(): Unit = synchronized {
    held.values.flatten.foreach(d => Try(d.unpersist(true)))
    held = Map.empty
  }
}

object Held {
  /** Frames one key may hold before the oldest is evicted. 64 in-flight
    * runs under one key is far past any realistic tenancy: the first is
    * stale by the time the 65th exists. */
  private val MaxPerKey = 64

  /** Intermediates of the persisting queries (one key per query) and the
    * outputs of `Modes.finish` (key "modes"). Spark does not share work
    * between the two sides of a self-join, so persisting a query's
    * expensive projection (shingle, signature, bit tables) makes each
    * side a cache read instead of a recompute. Harnesses drain it between
    * queries. */
  val frames = new Held("frames")

  /** Query RESULTS that deliberately survive a drain of [[frames]]: q15's
    * confirmed pairs, which q25 composes on. */
  val results = new Held("results")
}
