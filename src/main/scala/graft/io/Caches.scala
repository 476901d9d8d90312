package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lifecycle for the engine's internal persists.
  *
  * Several operators persist compact intermediate frames
  * (MEMORY_AND_DISK) that feed the lazy DataFrame they return — e.g.
  * [[graft.dedup.Dedup]]'s tokenized corpus and gram fan-out,
  * [[graft.text.Bm25]]'s postings aggregate, the LM-scorer count
  * frames in [[graft.Queries]]. Those persists cannot be unpersisted
  * inside the operator (the returned frame is still lazy and may be
  * acted on many times), so each call would leave an entry in Spark's
  * CacheManager for the life of the session — a long-lived library
  * consumer invoking e.g. `repeatedSpans` once per ingest batch
  * would accumulate entries without bound.
  *
  * [[persistTracked]] closes that: every engine-internal persist
  * registers under a per-site tag, and each tag retains at most
  * [[MaxPerTag]] live entries — when a new persist would exceed the
  * bound, the OLDEST entry for that tag is unpersisted (non-blocking).
  * Eviction is always safe: persisted data is a recomputable cache,
  * never the source of truth, so a consumer still holding a lazy
  * frame over an evicted persist silently recomputes on its next
  * action (correctness unchanged, the documented trade). Re-persisting
  * the SAME logical plan does not double-count — Spark's CacheManager
  * dedupes by plan, and evicting a stale twin would un-cache the live
  * one, so the registry refreshes the entry's position instead.
  *
  * [[clearAll]] remains the batch-boundary big hammer the engine's
  * own drivers (Bench / Verify / ScaleStress) call between queries.
  */
object Caches {

  /** Live persisted frames retained per call-site tag. Two, not one:
    * interleaved use of two corpora at one site (e.g. base + held-out
    * in decontamination flows) keeps both warm; anything older is the
    * accumulation case the bound exists for. */
  val MaxPerTag = 2

  private final case class Entry(df: DataFrame)

  private val tracked =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayDeque[Entry]]()

  /** One lock for the whole registry (it holds at most a handful of
    * entries): eviction must scan EVERY tag's queue for a live twin,
    * and per-queue locks taken in arbitrary pairs would deadlock. */
  private val lock = new Object

  /** Persist `df` (MEMORY_AND_DISK) registered under `tag`, evicting
    * the tag's oldest tracked persist beyond [[MaxPerTag]]. Returns
    * the persisted frame. */
  def persistTracked(df: DataFrame, tag: String): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    lock.synchronized {
      val q = tracked.computeIfAbsent(tag,
        _ => new java.util.ArrayDeque[Entry]())
      // same logical plan re-persisted: CacheManager holds ONE cache
      // entry for it, so evicting an older queue twin would un-cache
      // the frame just returned — refresh its position instead
      val plan = p.queryExecution.analyzed.canonicalized
      val it = q.iterator()
      while (it.hasNext) {
        if (it.next().df.queryExecution.analyzed.canonicalized.sameResult(plan))
          it.remove()
      }
      q.addLast(Entry(p))
      while (q.size > MaxPerTag) {
        val ev = q.removeFirst()
        // CacheManager dedupes by plan ACROSS tags too: the same
        // canonical plan registered under two tags shares ONE cache
        // entry, so unpersisting an evictee with a still-tracked twin
        // in ANY queue would silently un-cache the live frame —
        // drop it from this queue only and leave the data cached
        val evPlan = ev.df.queryExecution.analyzed.canonicalized
        val hasLiveTwin = {
          val tags = tracked.values().iterator()
          var found = false
          while (!found && tags.hasNext) {
            val oq = tags.next(); val oit = oq.iterator()
            while (!found && oit.hasNext)
              found = oit.next().df.queryExecution.analyzed
                .canonicalized.sameResult(evPlan)
          }
          found
        }
        if (!hasLiveTwin) ev.df.unpersist(blocking = false)
      }
    }
    p
  }

  /** Live tracked persists for `tag` — the bound a lifecycle spec
    * asserts on. */
  def trackedCount(tag: String): Int = lock.synchronized {
    val q = tracked.get(tag)
    if (q == null) 0 else q.size
  }

  /** Chain-position syntax: `frame.persistTracked("site.tag")` in
    * place of `.persist(MEMORY_AND_DISK)`. */
  implicit final class TrackedPersistOps(private val df: DataFrame)
      extends AnyVal {
    def persistTracked(tag: String): DataFrame =
      Caches.persistTracked(df, tag)
  }

  /** Drop every cached/persisted frame in the session — the batch
    * boundary call for long-lived consumers. Safe at any time:
    * persisted data is a recomputable cache, never the source of
    * truth, so the only cost of clearing early is recompute. Reuse
    * across runs belongs to artifacts outside the JVM (the
    * [[SavedIndex]] on-disk contract), never to state this call
    * would have to reset. */
  def clearAll(spark: SparkSession): Unit = lock.synchronized {
    spark.sharedState.cacheManager.clearCache()
    tracked.clear()
  }
}
