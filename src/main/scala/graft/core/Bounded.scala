package graft.core

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** The engine's two driver-bounded reductions, each with a loud bound.
  *
  * Every driver read in the operators is DESIGNED to be bounded
  * (centroids are k·dims, partition offsets are |partitions|, BPE merges
  * are nMerges…). At 100× scale a violated assumption must fail with a
  * message naming the site and the bound — not OOM the driver three
  * stages later.
  *
  *  - `collect` brings at most bound+1 rows of a frame to the driver:
  *    `limit(bound+1)` means at most bound+1 rows ever arrive, and a
  *    result of exactly bound+1 rows proves the bound is violated (so
  *    the returned prefix is complete whenever the require passes).
  *    Driver bound: `bound` rows. `collectWithin` is the same collect
  *    without the require: None over the bound, for a site that keeps
  *    a distributed arm for larger input.
  *  - `fold` reduces a frame into one small state, the MLlib
  *    `treeAggregate` shape at depth 1: each partition folds its rows
  *    into one state and the driver merges the |partitions| partials in
  *    partition order. One job, one stage — no exchange, so no AQE
  *    re-planning, where a `groupBy` + `collect` of the same reduction
  *    runs a shuffle-map job, a result job and a fresh plan. Driver
  *    bound: |partitions| × the size of one state. A keyed state keeps
  *    the bound itself: `Sums` holds at most `bound` keys and reports
  *    one more through the same require as `collect`.
  *
  * Use `fold` when the input is already materialized (a pin or a cached
  * memo) and the reduction is exact, so the merge order cannot change a
  * bit; keep `collect` where the input needs its own shuffle anyway.
  */
object Bounded {
  private def exceeded(bound: Long, what: String): String =
    s"$what: driver collect exceeded its design bound of $bound rows — " +
      "this lineage is no longer driver-bounded at this scale; re-shard " +
      "it or raise the bound deliberately"

  /** The bound's require, for a fold state that counted its own keys. */
  def requireWithin(n: Long, bound: Long, what: String): Unit =
    require(n <= bound, exceeded(bound, what))

  /** The rows of `ds` when there are at most `bound` of them, else None:
    * the quiet form of `collect`, for a caller with another arm for
    * input over the bound. The same one `limit(bound+1)` collect, so at
    * most bound+1 rows arrive either way.
    */
  def collectWithin[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val lim = math.min(bound + 1, Int.MaxValue.toLong).toInt
    Some(ds.limit(lim).collect()).filter(_.length <= bound)
  }

  // a DataFrame IS Dataset[Row] — one definition of the bound semantics
  def collect(df: DataFrame, bound: Long, what: String): Array[Row] =
    collectDs(df, bound, what)

  def collectDs[T](ds: Dataset[T], bound: Long, what: String): Array[T] = {
    val rows = collectWithin(ds, bound)
    requireWithin(rows.fold(bound + 1)(_.length.toLong), bound, what)
    rows.get
  }

  /** Fold every row of `ds` into one state: `seqOp` within a partition
    * (each partition starts from its own copy of `zero`), `combOp` over
    * the partials on the driver, in partition order. Like
    * `RDD.aggregate`, both may mutate and return their left argument.
    */
  def fold[T, S: ClassTag](ds: Dataset[T], zero: S)(
      seqOp: (S, T) => S, combOp: (S, S) => S): S =
    ds.rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero)(seqOp)))
      .collect()
      .reduceOption(combOp)
      .getOrElse(zero)

  /** Per-key exact long sums with the semantics of SQL `sum` and
    * `count(1)` under ANSI arithmetic, the state the keyed `fold` sites
    * share: a null value counts its row but adds nothing, a key whose
    * values were all null keeps a null sum, and an overflowing sum
    * throws. At most `bound` keys are held; a further key is dropped and
    * marks the state over, so `result` fails the `collect` require.
    */
  final class Sums[K](bound: Long) extends Serializable {
    private val cells = scala.collection.mutable.HashMap.empty[K, Sums.Cell]
    private var over = false

    private def cell(k: K): Sums.Cell = cells.get(k) match {
      case Some(c) => c
      case None if cells.size < bound =>
        val c = new Sums.Cell; cells.update(k, c); c
      case None => over = true; null
    }

    def add(k: K, v: java.lang.Long): this.type = {
      val c = cell(k)
      if (c ne null) {
        c.rows += 1
        if (v ne null) {
          c.sum = if (c.nonNull) Math.addExact(c.sum, v.longValue) else v.longValue
          c.nonNull = true
        }
      }
      this
    }

    def merge(o: Sums[K]): this.type = {
      over ||= o.over
      o.cells.foreach { case (k, oc) =>
        val c = cell(k)
        if (c ne null) {
          c.rows += oc.rows
          if (oc.nonNull) {
            c.sum = if (c.nonNull) Math.addExact(c.sum, oc.sum) else oc.sum
            c.nonNull = true
          }
        }
      }
      this
    }

    /** key → (sum, or null when every value was null; row count). */
    def result(what: String): Map[K, (java.lang.Long, Long)] = {
      requireWithin(if (over) bound + 1 else cells.size, bound, what)
      cells.iterator.map { case (k, c) =>
        k -> ((if (c.nonNull) java.lang.Long.valueOf(c.sum) else null), c.rows)
      }.toMap
    }
  }

  object Sums {
    final class Cell extends Serializable {
      var sum = 0L
      var rows = 0L
      var nonNull = false
    }
  }
}
