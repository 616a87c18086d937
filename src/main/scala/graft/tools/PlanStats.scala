package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

/** Regenerates PLANSTATS.md — a one-row-per-query audit of physical-plan
  * shape across the ENTIRE query surface: shuffle count, scans, parquet
  * re-scans, join strategies, nested-loop/cartesian occurrences,
  * SortAggregates, the Spark jobs construction runs, the classes
  * Spark's code generator compiles to build and collect the query, and
  * the memo keys it adds after the declared builds.
  * The grep-able complement to PLANS.md's full dumps: a regression that
  * turns a broadcast join into a nested loop, or doubles a query's
  * exchanges, shows up as a diff in this table.
  *
  * Counts come from the nodes of the AQE initial physical plan at
  * sf0.001 (plan SHAPE, not runtime re-planning — AQE may still convert
  * sort-merge joins to broadcast at run time, so the table is
  * conservative), not descending into cached relations.
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new PrintWriter("PLANSTATS.md", "UTF-8")
    out.println("# PLANSTATS — physical-plan shape per query (sf0.001, AQE initial plan)")
    out.println()
    out.println("Columns: data-bearing Exchanges (shuffles), parquet scans,")
    out.println("broadcast-hash / sort-merge / nested-loop joins. Nested loops are")
    out.println("expected ONLY against 1-row/scalar or literal-bounded builds (corpus")
    out.println("bounds, totals, k-row grids) — audited: every bnlj > 0 row is one of")
    out.println("those or a declared-quadratic exact rung (q25; q210's 1-NN purity and")
    out.println("q215's agreement audit, which score the same quadratic embedding join;")
    out.println("their 100 TB path is the IVF probe candidate generator) — never between")
    out.println("two data-bearing sides. The plan columns count the nodes of the")
    out.println("query's own plan, through adaptive plans and subqueries but not into")
    out.println("a cached table: a cached build (e.g. the q205/q211/q215 pair table, or")
    out.println("the q111 copurchase basket) is one in-memory scan leaf whether or not")
    out.println("it has run, so a row does not depend on which builds ran before it.")
    out.println("A memo that is not cached still lists its lineage per reference.")
    out.println()
    out.println("`rescans` counts parquet scans beyond the first of each file: a base")
    out.println("lineage referenced by two sides re-scans its source per reference, but")
    out.println("joins and declared self-joins also show here, so a row is a lead, not a")
    out.println("verdict. `sortagg` counts SortAggregate operators, which a struct- or")
    out.println("array-buffered aggregate falls back to, sorting its whole input.")
    out.println("`cjobs` counts the Spark jobs run while `SparkEntry.queries(q)` builds")
    out.println("the frame, in this table's order on one session that warmed the")
    out.println("declared builds (`graft.Builds`) first: a row counts the query's own")
    out.println("construction, not a shared build. Each row's query is collected after")
    out.println("its plan is read, so a memo its action builds is not charged to a")
    out.println("later row's construction. `newmemo` lists the memo keys (name and")
    out.println("parameters) the row adds: a lineage no build declares, which its memo")
    out.println("site says is one query's alone or keyed by call-site values. `cgen`")
    out.println("counts the classes Spark's code generator compiles while the query is")
    out.println("built and collected (`Profile.Work.compiles`: misses of its 100-entry")
    out.println("class cache, so a class an earlier row compiled and the cache still")
    out.println("holds is free).")
    out.println()
    out.println("| query | shuffles | scans | rescans | bhj | smj | bnlj | sortagg | cjobs | cgen " +
      "| newmemo |")
    out.println("|---|---|---|---|---|---|---|---|---|---|---|")
    var totalCjobs = 0
    var totalCgen = 0L
    def memoKeys = graft.core.Memo.keysFor(spark).toSet
    graft.Builds.warm(spark, d).failures.foreach { case (b, e) =>
      println(s"BUILD FAIL $b: ${e.getMessage}") }
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val keys0 = memoKeys
        val (df, work) = graft.core.Profile.span(spark)(fn(spark, d))
        totalCjobs += work.jobs
        // the initial plan's nodes, read before the collect finalizes it
        val (nodes, run) = graft.core.Profile.span(spark) {
          val p = nodesOf(df.queryExecution.executedPlan)
          df.collect()
          p
        }
        val cgen = work.compiles + run.compiles
        totalCgen += cgen
        // "<cache> <name> <dir> <params…>" → "<name> <params…>"
        val newmemo = (memoKeys -- keys0).toSeq.map(_.split(" ").toSeq)
          .map(k => (k(1) +: k.drop(3)).mkString(" ")).sorted.mkString(", ")
        def c(pf: PartialFunction[SparkPlan, Unit]) = nodes.count(pf.isDefinedAt)
        val shuffles = c { case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case _: HashPartitioning | _: RangePartitioning | SinglePartition => true
          case _ => false
        }) => }
        val scans = nodes.collect { case f: FileSourceScanExec
            if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
          f.relation.location.rootPaths.map(_.getName).mkString(",")
        }
        val rescans = scans.size - scans.distinct.size
        out.println(s"| $name | $shuffles | ${scans.size} | $rescans | " +
          s"${c { case _: BroadcastHashJoinExec => }} | " +
          s"${c { case _: SortMergeJoinExec => }} | " +
          s"${c { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => }} | " +
          s"${c { case _: SortAggregateExec => }} | ${work.jobs} | $cgen | $newmemo |")
      } catch {
        case e: Throwable =>
          out.println(s"| $name | ERR ${e.getClass.getSimpleName} | | | | | | | | | |")
      }
    }
    out.println()
    out.println(s"Construction jobs over the catalog: $totalCjobs.")
    out.println(s"Generated classes compiled over the catalog: $totalCgen.")
    out.close()
    println(s"wrote PLANSTATS.md (construction jobs: $totalCjobs, " +
      s"generated classes: $totalCgen)")
    spark.stop()
  }

  /** Every node of a physical plan: through adaptive plans, query stages
    * and subqueries, but not into a cached relation's plan — an
    * `InMemoryTableScanExec` is one leaf, whether or not its build ran.
    */
  private def nodesOf(plan: SparkPlan): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }
}
