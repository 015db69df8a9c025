package graft.core

import org.apache.spark.sql.DataFrame

/** Release path for operator-internal caches.
  *
  * Several operators cache an intermediate that their RETURNED plan
  * still references (Mix's narrow base, the dedup composites' shingle
  * index, tf-idf's tf frame, the LSH self-join sides): the operator
  * cannot unpersist before the caller's action runs, so in a
  * long-lived session repeated calls accumulate storage memory —
  * round-6 ADVICE flagged exactly this.
  *
  * The contract: operators register such caches through
  * [[CacheScope.cache]] instead of `df.cache()`. An entry runner —
  * Verify, Bench, a pipeline harness, a test — wraps each unit of
  * work in [[CacheScope.withScope]], which unpersists everything
  * registered inside once the block (and therefore its actions)
  * completes. With NO active scope the behavior is exactly
  * `df.cache()` — interactive callers keep today's semantics and own
  * cleanup themselves.
  *
  * Thread-locality is sound because Spark plans are CONSTRUCTED on
  * the caller's thread even when their actions later fan out across
  * executor threads; registration happens at construction time.
  * Scopes nest: an inner scope releases only its own registrations.
  */
object CacheScope {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  private val active =
    new ThreadLocal[scala.collection.mutable.ListBuffer[DataFrame]]()

  /** `df.cache()`, registered for release by the enclosing
    * [[withScope]] (no-op registration when no scope is active). */
  def cache(df: DataFrame): DataFrame = {
    val cached = df.cache()
    val buf = active.get()
    if (buf != null) buf += cached
    cached
  }

  /** `.scopedCache()` syntax for [[cache]], keeping operator call
    * sites chainable. */
  implicit class Scoped(private val df: DataFrame) extends AnyVal {
    def scopedCache(): DataFrame = CacheScope.cache(df)
  }

  /** Run `body`, then unpersist every cache registered inside it.
    * Non-blocking release: the storage is dropped asynchronously,
    * which is fine — nothing can re-reference the plans after the
    * scope ends. A failed release (a stopped session, say) is logged
    * at WARN with its exception and not rethrown: it must not mask
    * the body's result or its own exception. */
  def withScope[T](body: => T): T = {
    val prev = active.get()
    val buf = scala.collection.mutable.ListBuffer.empty[DataFrame]
    active.set(buf)
    try body
    finally {
      if (prev == null) active.remove() else active.set(prev)
      buf.foreach { df =>
        try df.unpersist(blocking = false)
        catch {
          case e: Exception =>
            log.warn("CacheScope could not unpersist a scoped cache", e)
        }
      }
    }
  }
}
