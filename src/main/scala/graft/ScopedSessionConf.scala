package graft

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.SparkSession

/** Scoped set/restore of a session-global SQL conf.
  *
  * `spark.conf.set` mutates SESSION state, so a "temporary" override is
  * only sound if no other scope's restore can interleave with this
  * one's: two overlapping windows on the same key can each restore the
  * other's temporary value as the "previous" one, leaving the session
  * permanently scoped. All of the engine's scoped overrides (micro-batch
  * shuffle sizing in the incremental-replay and streaming-drain paths)
  * therefore pass through this ONE re-entrant lock — overlap becomes
  * impossible by construction rather than by the current callers
  * happening to run serially, and same-thread nesting restores
  * outside-in correctly.
  *
  * What the lock deliberately does NOT hide: during `f` the scoped
  * value is visible to anything else the same session runs — callers
  * must materialize everything that should see the scoped value inside
  * `f` (lazy frames returned out of `f` escape the scope). Unrelated
  * CONCURRENT queries on the same session would serialize behind the
  * lock instead of inheriting the override — safe, merely slower; give
  * genuinely parallel workloads their own session.
  */
object ScopedSessionConf {
  private val lock = new ReentrantLock

  def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    lock.lock()
    try {
      val prev = s.conf.getOption(key)
      s.conf.set(key, value)
      try f finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    } finally lock.unlock()
  }

  /** The engine's one recurring scoped key: per-micro-batch shuffle
    * partition sizing (state stores and store merges pay per partition
    * per batch, so batch-sized work must not inherit a corpus-sized
    * session default). n <= 0 = inherit the session conf unscoped. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T =
    if (n <= 0) f
    else withConf(s, "spark.sql.shuffle.partitions", n.toString)(f)

  /** METADATA-window sizing: shuffle partitions scoped to `n` AND
    * adaptive execution off. AQE materializes every exchange as its own
    * query-stage JOB (a sequential driver round-trip, ~25-100 ms apiece
    * at local[32]) — the right trade for data-scale plans it can
    * re-optimize, pure scheduler latency for manifest/metadata stages
    * whose inputs are bounded by FILE COUNTS and whose shuffles are
    * already explicitly sized (the r16 x39 micro-path finding, extended
    * to the store protocol in r17: JobCount measured 60-80% of every
    * protocol row's jobs as AQE stage materializations). Same lock,
    * same-thread nesting restores outside-in. n <= 0 inherits the
    * session's partition count but still drops AQE for the window. */
  def withMetaConf[T](s: SparkSession, n: Int)(f: => T): T =
    withShufflePartitions(s, n) {
      withConf(s, "spark.sql.adaptive.enabled", "false")(f)
    }

  /** [[withMetaConf]] for work that may run on a HELPER thread of a
    * window another thread holds (the streaming batch shape: store
    * merges overlapped in futures inside the batch's scope, awaited by
    * the lock holder — blocking on the lock would deadlock). When the
    * lock is held elsewhere `f` runs unscoped, under that window's
    * conf; otherwise (free, or held by this thread) it is
    * [[withMetaConf]]. Reads the lock state without blocking. */
  def withMetaConfUnlessHeldElsewhere[T](s: SparkSession, n: Int)(f: => T): T =
    if (lock.isLocked && !lock.isHeldByCurrentThread) f
    else withMetaConf(s, n)(f)
}
