package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Byte-capped registry for the session-lifetime memo bases (VERDICT
  * r14 item 2).
  *
  * The cross-query memo pattern (coPairs, purchasePairs/purchaseEo,
  * orientedCo, the dedup signature bases, vecs/bruteTopK, the planted
  * JPEG corpus) persists each family's shared base once per (session,
  * sfDir) and relies on LRU to reclaim it under pressure. That is only
  * half-true for MEMORY_AND_DISK: the block manager LRU-evicts the
  * MEMORY half to disk, but DISK blocks are never reclaimed until
  * unpersist — a long session spanning several sfDirs accumulates
  * every family's base on disk without bound. This pool makes the
  * documented trade real: memo builds register here, every access
  * re-checks the pool's MATERIALIZED byte total (exact cached sizes
  * via the CacheManager accumulator — optimizer estimates never
  * decide an eviction), and the least-recently-used entries are
  * unpersisted until the pool fits the cap again. An evicted entry
  * simply rebuilds on next use (correct, slower — the same semantics
  * LRU pressure always had).
  *
  * Cap: `SPARK_GRAFT_MEMO_CAP_MB`, default 4096 MB — far above the
  * whole pool at the bench SFs (sub-100 MB at sf0.1), so the bench
  * never trips it; a deployment sizes it to executor storage memory.
  *
  * Instrumentation: every build logs `[memo] built <name> ... payer=`
  * with the build wall-ms and the job description of the query that
  * paid (Bench/Verify label each query per guide §1.5), so per-row
  * bench timings stay attributable to the memo-payer slots.
  *
  * Thread-safety: builds are once-per-key under a per-key lock, never
  * inside computeIfAbsent, where a nested build (minhashPairs builds
  * hashArrays) that resizes the table throws "Recursive update".
  * Nested builds must not form a cycle; a failed build stores nothing,
  * so the next call retries. Eviction may race a query
  * mid-computation on another thread, which is correct (Spark
  * recomputes) and only possible above the cap.
  */
object MemoPool {

  private final case class Entry(
      key: (SparkSession, String, String),
      value: AnyRef,
      frames: Seq[DataFrame],
      @volatile var lastUsed: Long)

  private val entries = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Entry]()
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]()
  private val clock = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: env vars can't be set from a spec, and the eviction
    * path must be TESTED, not just shipped (MemoPoolSpec). */
  @volatile private[scale] var capOverrideBytes: Option[Long] = None

  private def capBytes: Long = capOverrideBytes.getOrElse(
    sys.env.get("SPARK_GRAFT_MEMO_CAP_MB").flatMap(_.toLongOption)
      .getOrElse(4096L) * 1024L * 1024L)

  /** Memoize `build` per (session, sfDir, name). `framesOf` lists the
    * persisted frames the value holds — what eviction unpersists and
    * the byte accounting measures. */
  def getOrBuild[T <: AnyRef](s: SparkSession, dir: String, name: String)
      (build: => T)(framesOf: T => Seq[DataFrame]): T = {
    entries.keySet.removeIf(k => k._1.sparkContext.isStopped)
    buildLocks.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir, name)
    def built = Option(entries.get(key))
    val e = built.getOrElse(
      buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
        built.getOrElse {
          val t0 = System.nanoTime()
          val v = build
          val ms = (System.nanoTime() - t0) / 1000000L
          val payer = Option(
            s.sparkContext.getLocalProperty("spark.job.description"))
            .getOrElse("(unlabeled)")
          // stderr like the other harness diagnostics — never stdout,
          // which carries the bench JSON contract line
          System.err.println(
            s"[memo] built $name for $dir in $ms ms payer=$payer")
          val fresh = Entry(key, v, framesOf(v), clock.incrementAndGet())
          entries.put(key, fresh)
          fresh
        }
      })
    e.lastUsed = clock.incrementAndGet()
    evictOver(s, keep = e.key)
    e.value.asInstanceOf[T]
  }

  /** Materialized bytes currently held by `s`'s pool entries. Exact
    * (CacheManager accumulator); unmaterialized frames count 0 — they
    * hold no storage yet. */
  def pooledBytes(s: SparkSession): Long = {
    import scala.jdk.CollectionConverters._
    entries.values.asScala
      .filter(_.key._1 eq s)
      .flatMap(_.frames)
      .map(f => org.apache.spark.sql.graft.CachedBytes(f)._1)
      .sum
  }

  /** Unpersist least-recently-used entries of `s` until the pool's
    * materialized bytes fit the cap. `keep` (the entry just used) is
    * evicted only if it alone exceeds the cap and nothing else is
    * left. */
  private def evictOver(s: SparkSession,
                        keep: (SparkSession, String, String)): Unit = {
    import scala.jdk.CollectionConverters._
    var total = pooledBytes(s)
    if (total <= capBytes) return
    val victims = entries.values.asScala
      .filter(e => (e.key._1 eq s) && e.key != keep)
      .toSeq.sortBy(_.lastUsed)
    val it = victims.iterator
    while (total > capBytes && it.hasNext) {
      val v = it.next()
      if (entries.remove(v.key, v)) {
        val freed = v.frames
          .map(f => org.apache.spark.sql.graft.CachedBytes(f)._1).sum
        v.frames.foreach(_.unpersist(blocking = false))
        System.err.println(s"[memo] evicted ${v.key._3} for ${v.key._2}" +
          s" (${freed / 1024 / 1024} MB) - pool over cap")
        total -= freed
      }
    }
  }

  /** Drop (and unpersist) every entry of `s` — spec/tool hook for a
    * deterministic clean slate between tiers. */
  def clear(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    entries.values.asScala.filter(_.key._1 eq s).toSeq.foreach { e =>
      if (entries.remove(e.key, e))
        e.frames.foreach(_.unpersist(blocking = false))
    }
  }

  /** Entry names currently pooled for `s` (spec observability). */
  def pooledNames(s: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.filter(_._1 eq s).map(_._3).toSet
  }
}
