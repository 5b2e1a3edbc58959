package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The ONE store of session artifacts: every persisted frame and every
  * memoized value (fitted quantizers, LSH/PQ indexes, corpus counts,
  * broadcast sketches, the el_comp parity fit) lives here, keyed by
  * Spark application id plus a family-named key, so one [[clear]]
  * returns a session to artifact-cold state.
  *
  * [[cached]] gives ONE persisted, materialized frame per (session,
  * operator, input) — the "computed once, persisted" contract for
  * reusable artifacts like minhash signatures and LSH bucket tables.
  * Repeated invocations (warm-up + timed bench runs, candidate
  * generation + verification) share the same frame instead of stacking
  * fresh persisted copies per call (which leaks cache until the session
  * dies) or re-persisting from scratch (which recomputes the expensive
  * md5/bucket fan-out on every call). [[memo]] is the same store for
  * values that are not a frame. The application-id key means an
  * artifact is never served to a different session in the same JVM. If
  * the input data is REWRITTEN in-place mid-process, call clear(). */
private[graft] object PersistSlots {
  // a cached/cachedCheckpoint frame with its materialization count
  private final case class Slot(df: DataFrame, rows: Long)

  private val store = scala.collection.concurrent.TrieMap.empty[String, Any]

  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key) {
      val p = build.persist(StorageLevel.MEMORY_AND_DISK)
      // materialize once, eagerly — callers rely on it; the count is
      // memoized so size-branch callers (JoinBacks users) never pay a
      // second action just to re-learn the cardinality
      Slot(p, p.count())
    }.df

  /** The row count recorded when [[cached]] materialized `key` (None if
    * the slot was never built in this application). */
  def rowCount(spark: SparkSession, key: String): Option[Long] =
    store.get(s"${spark.sparkContext.applicationId}|$key").collect { case Slot(_, n) => n }

  /** Like [[cached]], but materializes via `localCheckpoint` — same
    * storage level, same memoization, lineage CUT. For a frame whose
    * build chain ends in large shuffles that nothing downstream should
    * keep alive: Spark retains a stage's shuffle files for as long as
    * its ShuffleDependency is reachable, and a plain persist keeps the
    * whole build lineage reachable (for block-loss recompute) until the
    * frame is unpersisted — so a multi-stage consumer job holds the
    * build's shuffle footprint on disk for its entire runtime on top of
    * its own. Checkpointing makes the build's dependencies unreachable
    * the moment materialization finishes; the ContextCleaner reclaims
    * their files at the next driver GC (Bench/Verify and the scale
    * probes run with `spark.cleaner.periodicGC.interval=30s` for exactly
    * this). Motivating case: q33_triangles at 100× on one box, where the
    * persisted edge-build's retained shuffle files were a large share of
    * the disk footprint behind the recorded ENOSPC (BENCH_NOTES r8).
    *
    * Two checkpoint modes (VERDICT r8 #2), picked by whether a
    * checkpoint dir is configured (`SparkContext.setCheckpointDir` or
    * the `spark.checkpoint.dir` conf) — see [[cutLineage]]. */
  def cachedCheckpoint(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key) {
      // one cheap count over the checkpointed blocks at build time so
      // rowCount works for checkpointed slots too (callers like q33's
      // edge-count scalar otherwise re-run the job per invocation)
      val cp = cutLineage(build)
      Slot(cp, cp.count())
    }.df

  /** Materialize `df` with its lineage CUT — the per-frame (un-slotted)
    * form of [[cachedCheckpoint]]'s two-mode discipline: reliable
    * `checkpoint()` when a checkpoint dir is configured (executor-loss
    * safety on clusters), `localCheckpoint()` otherwise. For iterative
    * fixpoint loops: a round that references its previous frame TWICE
    * (join + union, the Hash-Min shape) doubles the logical plan per
    * round, so plan size — and every plan-string render in the SQL
    * listener — grows 2^rounds. A 29-round fixture OOM'd the driver in
    * `QueryExecution.explainString` before any task ran (r9 review
    * find); re-rooting each round at a materialized scan keeps the plan
    * constant-size. The returned frame is cached (checkpoint blocks /
    * persisted checkpoint scan); `unpersist(false)` releases it. */
  def cutLineage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dir = spark.sparkContext.getCheckpointDir
      .orElse(spark.conf.getOption("spark.checkpoint.dir").map { d =>
        spark.sparkContext.setCheckpointDir(d); d
      })
    if (dir.isDefined) {
      // RELIABLE checkpoint: blocks land in the configured (shared)
      // store, so on a real cluster an executor loss re-reads them
      // instead of failing the consumer job — the cluster-deployment
      // mode; costs one extra materialization write to that store.
      // Dataset.checkpoint does NOT persist (r9 review find): without
      // the pre-persist the eager count and the checkpoint-file write
      // are two full computations of the build, and without the
      // post-persist every consumer job re-reads the full frame from
      // the shared store — silently un-caching the slot contract.
      val built = df.persist(StorageLevel.MEMORY_AND_DISK)
      val cp = try built.checkpoint() // eager; writes from cached blocks
      finally built.unpersist(false)
      cp.persist(StorageLevel.MEMORY_AND_DISK)
    } else {
      // LOCAL checkpoint: executor-local blocks, no external write —
      // the single-box default. Blocks are non-reproducible, so an
      // executor loss fails the job instead of recomputing
      df.localCheckpoint() // eager; blocks ARE the cache
    }
  }

  // per-key build locks: TrieMap.getOrElseUpdate can evaluate the build
  // twice under concurrent callers (Verify's pooled query dump, guide
  // §2.6), which would double-persist a frame and leak one cache copy.
  // Striped per-key (never one global lock): a build may itself build
  // ANOTHER artifact (cluster → lsh-xxh, the LSH index → its bucket
  // slot), so same-key exclusion must not serialize different keys.
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The session's memoized `key` artifact, built once by `build` (under
    * a per-key lock, so concurrent callers never build it twice). Keys
    * name their family (`ivf:$dir:$k`, `pca:$dir:$dims`, ...): one
    * namespace holds every artifact. A frame, or a case class with frame
    * fields, is released by [[clear]]; other values (broadcasts
    * included) are just dropped — the ContextCleaner reclaims a dropped
    * broadcast. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T = {
    val appId = spark.sparkContext.applicationId
    // drop artifacts belonging to other (stopped) applications so a
    // long-lived JVM cycling SparkSessions can't accumulate stale
    // DataFrame references and their lineage (one live SparkContext per
    // JVM ⇒ a different appId is always a dead one)
    store.keys.filterNot(_.startsWith(s"$appId|")).foreach { k =>
      store.remove(k).foreach(release)
      buildLocks.remove(k)
    }
    val fullKey = s"$appId|$key"
    val v = store.get(fullKey) match {
      case Some(v) => v
      case None =>
        val lock = buildLocks.computeIfAbsent(fullKey, _ => new Object)
        lock.synchronized(store.getOrElseUpdate(fullKey, build))
    }
    v.asInstanceOf[T]
  }

  // the one release rule: unpersist a memoized frame, or every frame
  // field of a memoized case class (IvfIndex.assignments, PqIndex.codes)
  private def release(v: Any): Unit = {
    val frames = v match {
      case df: Dataset[_] => Iterator(df)
      case p: Product => p.productIterator.collect { case df: Dataset[_] => df }
      case _ => Iterator.empty
    }
    frames.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
  }

  /** Drop every artifact of every session — frames are released — and
    * so make the next call of each operator cold (Bench's cold pass, an
    * in-place data rewrite). */
  def clear(): Unit = {
    store.values.foreach(release)
    store.clear()
    // checkpointed slots ([[cachedCheckpoint]]) hold their blocks via the
    // checkpoint RDD, which Dataset.unpersist cannot reach — dropping the
    // reference + a GC lets the ContextCleaner release them (occupancy
    // only: a cleared slot always REBUILDS, so cold-pass honesty does not
    // depend on this)
    System.gc()
  }
}
