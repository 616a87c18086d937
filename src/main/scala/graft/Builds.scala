package graft

import org.apache.spark.sql.SparkSession

/** The shared memo-cached lineages ("builds") that several SparkEntry
  * queries fold over: every `Memo.Shared` the operator objects declare,
  * owner by owner, each in declaration order (base before derived — a
  * build may ride an earlier one, signatures ride the shingle table).
  *
  * Bench (and PlanStats, MemSweep, ScaleSweep) materialize these in a
  * declared warm phase first, so per-query times measure the query
  * itself instead of whichever family member happens to pay a shared
  * build. A build warms at the parameters its entry points default to,
  * so the queries' later calls are memo hits by construction.
  */
object Builds {
  def all: Seq[core.Memo.Shared[_]] = Seq(
    operators.Text, operators.Dedup, multimodal.Multimodal,
    operators.Similarity, operators.Retrieval, operators.Contamination,
    operators.Sampling, operators.Graph).flatMap(_.declarations)

  final case class Warmed(secs: Seq[(String, Double)],
      failures: Seq[(String, Throwable)])

  /** Materialize every build (an action is what pins the cache): the
    * seconds each took, and the ones that threw. The queries riding a
    * failed build still run — they rebuild on miss.
    */
  def warm(spark: SparkSession, d: String): Warmed = {
    val runs = all.map { b =>
      val t0 = System.nanoTime()
      val failure =
        try { b(spark, d).count(); None } catch { case e: Throwable => Some(e) }
      (b.name, (System.nanoTime() - t0) / 1e9, failure)
    }
    Warmed(runs.map(r => r._1 -> r._2),
      runs.flatMap(r => r._3.map(r._1 -> _)))
  }
}
