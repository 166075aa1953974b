package graft.queries

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, count, lit, max}
import org.apache.spark.storage.StorageLevel
import graft.util.{Held, Parquet}

/** One run of the query suite over the tables in `dir`: the state that
  * outlives a single query of the run lives here, not in `Queries`, so
  * runs on one session (concurrent ones included) never see each
  * other's state. A harness makes one context per suite pass and closes
  * it when the pass ends.
  *
  * @param verify verify mode: queries whose inputs are not SQL-derivable
  *   write them under the aux dir and read them back, so the DuckDB
  *   oracle reads the same bytes, and the mutant-offset and SRP-bits
  *   guards refuse a corpus outside the oracle SQL's static domain. Bench
  *   mode skips the dumps and sizes those parameters for the corpus.
  */
final class RunCtx(val spark: SparkSession, val dir: String, val verify: Boolean)
    extends AutoCloseable {

  /** (row count, max(vec_id)) of the embeddings table, one job per run:
    * q16's brute-force guard reads the count, q26's collision guard and
    * SRP sizing read both (max is -1 on an empty table). The table is
    * assumed not to change during the run. */
  lazy val embStats: (Long, Long) = {
    val r = Parquet.read(spark, s"$dir/embeddings.parquet")
      .agg(count(lit(1)), coalesce(max("vec_id"), lit(-1L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** q15's confirmed pairs are held in `Held.results` under this key,
    * which no other context shares. */
  private val q15Key = s"q15/${java.util.UUID.randomUUID}"

  /** q15's confirmed pairs, built once per run: q25's connected
    * components consume exactly these edges, so a run that does q15 then
    * q25 must not pay the whole LSH pipeline twice (q25 recomputing q15
    * inside itself was once 46% of suite wall time). At 100 TB this is
    * the `near_dup_pairs` table a dedup job writes once and every
    * downstream pass re-reads. A hit counts only while the frame is
    * still persisted: a `spark.catalog.clearCache()` between q15 and q25
    * unpersists it, and q25 would then recompute the LSH pipeline inside
    * every connected-components hop. */
  private[queries] def q15Pairs(build: => DataFrame): DataFrame = synchronized {
    q15CachedPairs match {
      case Some(df) if df.storageLevel != StorageLevel.NONE => df
      case _ => Held.results.renew(q15Key).keep(build)
    }
  }

  /** The held q15 pairs WITHOUT the storage-level re-check, so specs can
    * assert persistence state. */
  private[graft] def q15CachedPairs: Option[DataFrame] = Held.results(q15Key).headOption

  @volatile private var q41Obs: Option[Observation] = None

  /** A fresh Observation for the q41 call about to run (one Observation
    * accepts observe() once); [[q41CandidateCount]] reads the latest. */
  private[queries] def q41Observation(): Observation = {
    val obs = Observation()
    q41Obs = Some(obs)
    obs
  }

  /** Candidate-pair count (post-distinct, pre-confirm) of this run's
    * latest COMPLETED q41 action: the one number that classifies a q41
    * blowup, candidate explosion (engine) vs slow host, read from a
    * CollectMetrics node inside the query's own action rather than a
    * second action recomputing the join. -1 when q41 never ran or the
    * async metric has not been delivered within 2 s (observation results
    * ride the listener bus). */
  def q41CandidateCount: Long =
    q41Obs
      .flatMap(obs => Try(Await.result(obs.future, 2.seconds)).toOption)
      .flatMap(row => Try(row.getLong(row.fieldIndex("n"))).toOption)
      .getOrElse(-1L)

  /** The child session q40 drains its stream on (same SparkContext and
    * SparkConf defaults; the shared session's conf is never written).
    * Its state-store shard count is sized to the stream, not to the
    * session's cores: the dedup state holds one entry per in-watermark
    * url, and each shard is a per-batch commit whose fixed cost dominates
    * when shards hold a few rows (32 shards for a 400-row drain measured
    * 2.4 s vs 1.3-1.5 s at the derived count). Streaming has no AQE and
    * latches the count into the checkpoint at the first batch. Spark
    * never unregisters a session's stream listener, so the run keeps one
    * drain session for all its q40 calls (each started stream still
    * leaves one listener of its own on the bus). */
  private[queries] lazy val q40Drain: SparkSession = {
    val drain = spark.newSession()
    drain.conf.set("spark.sql.shuffle.partitions", math.max(2L, math.min(
      spark.sparkContext.defaultParallelism.toLong, 2L * Queries.Q40Docs / 100000L + 1L)))
    drain
  }

  /** Release this run's q15 pairs. Frames held under the per-query keys
    * of `Held.frames` stay with the harness's drains. */
  def close(): Unit = Held.results.release(q15Key)
}
