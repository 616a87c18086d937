package graft.core

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoization of shared DataFrame lineages: one plan
  * object, one `.cache()` and one materialization per (session, key), so
  * every query after the first reuses the in-memory columnar form.
  *
  * A lineage two or more queries share is declared once, as a `Shared`
  * value in the operator object (`Owner`) that owns it: memo name, cache
  * flag, warm parameters and build in one place, which `graft.Builds`
  * enumerates. A lineage one query alone reads, or one keyed by call-site
  * values, calls `Memo(...)` directly and says so at its site.
  *
  * Keys carry a per-session UUID (weak identity map below), unique per
  * SparkSession INSTANCE even when sessions share one SparkContext
  * (`newSession()`), so a session never gets a DataFrame bound to
  * another's state. Entries whose context has stopped are swept on the
  * next touch. A session discarded while its context lives stays pinned
  * (a Dataset references its session) until `release(spark)`.
  */
object Memo {
  private type Entry = (SparkSession, CompletableFuture[DataFrame])
  private val memo = new ConcurrentHashMap[String, Entry]()

  // weak identity keys (SparkSession doesn't override equals): a re-used
  // heap address can never alias a dead session's UUID
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, String]()

  private def sessionId(spark: SparkSession): String = sessionIds.synchronized {
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
  }

  /** The plan object for (session, key), built at most once per session.
    * The first toucher claims the key with a pending future and builds
    * OUTSIDE the map (builders recurse into other memoized loaders, which
    * would deadlock inside a single-bin compute); concurrent touchers
    * wait on the future and get the same DataFrame. A build that throws
    * is not memoized: the key is dropped, every waiter sees the builder's
    * exception, and the next touch builds again. `cache=true` also marks
    * the plan for storage.
    */
  def apply(spark: SparkSession, cache: Boolean, key: String*)(
      build: => DataFrame): DataFrame = {
    sweep()
    val k = (sessionId(spark) +: cache.toString +: key).mkString(" ")
    val mine: Entry = (spark, new CompletableFuture[DataFrame]())
    val held = memo.putIfAbsent(k, mine)
    if (held ne null)
      try held._2.get() catch { case e: ExecutionException => throw e.getCause }
    else {
      val built =
        try if (cache) build.cache() else build
        catch { case e: Throwable =>
          memo.remove(k, mine)
          mine._2.completeExceptionally(e)
          throw e
        }
      mine._2.complete(built)
      built
    }
  }

  /** A declared shared lineage, memoized under `name d key(p)…`. `warm`
    * is the parameters its entry points default to, which `Builds.warm`
    * materializes; `apply(spark, d)` is the lineage at them.
    */
  final class Shared[P] private[Memo] (val name: String, cache: Boolean,
      val warm: P, key: P => Seq[String],
      build: (SparkSession, String, P) => DataFrame) {
    def apply(spark: SparkSession, d: String, p: P): DataFrame =
      Memo(spark, cache, name +: d +: key(p): _*)(build(spark, d, p))
    def apply(spark: SparkSession, d: String): DataFrame = apply(spark, d, warm)
  }

  /** An object declaring shared lineages, listed in declaration order. */
  trait Owner {
    private val declared = ArrayBuffer.empty[Shared[_]]
    private[graft] def declarations: Seq[Shared[_]] = declared.toSeq

    protected def shared(name: String, cache: Boolean)(
        build: (SparkSession, String) => DataFrame): Shared[Unit] =
      shared[Unit](name, cache, (), _ => Nil)((s, d, _) => build(s, d))

    protected def shared[P](name: String, cache: Boolean, warm: P,
        key: P => Seq[String] = (p: P) => Seq(p.toString))(
        build: (SparkSession, String, P) => DataFrame): Shared[P] = {
      val s = new Shared(name, cache, warm, key, build)
      declared += s
      s
    }
  }

  // entries of a stopped context: their blocks are gone with it
  private def sweep(): Unit =
    memo.values().removeIf(_._1.sparkContext.isStopped)

  /** One session's memo keys, the session prefix stripped (MemoSpec and
    * the tools read which lineages a query family shares or adds).
    */
  private[graft] def keysFor(spark: SparkSession): Seq[String] = {
    val prefix = sessionId(spark) + " "
    import scala.jdk.CollectionConverters._
    memo.keySet().asScala.toSeq.collect {
      case k if k.startsWith(prefix) => k.stripPrefix(prefix)
    }
  }

  /** Evict one session's entries and unpersist their blocks — for apps
    * that discard sessions while the shared context keeps running.
    */
  def release(spark: SparkSession): Unit =
    memo.values().removeIf { e =>
      val (s, built) = e
      // a pending or failed build has no blocks of its own to drop
      if ((s eq spark) && built.isDone && !built.isCompletedExceptionally &&
          !s.sparkContext.isStopped) {
        val df = built.join()
        df.unpersist(blocking = false)
        // the WHOLE plan: a checkpoint may sit under a Union, not at the root
        Lineage.release(df)
      }
      s eq spark
    }
}
