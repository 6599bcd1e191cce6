package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftQuery
import graft.loan.LoanDomain

/** One operation: build the frame, then materialize its complete result,
  * either into the `noop` sink (nothing pruned: every column and the final
  * ORDER BY run) or, for the ETL load, into a warehouse table.
  */
final case class Op(
    name: String,
    build: (SparkSession, String) => DataFrame,
    table: Option[String] = None)

/** The workloads. Each runs a fixed set of operations once per pass; the
  * seed only fixes their order inside each pass.
  *
  * `portfolio_reports` and `corpus_curation` stand for registry modules
  * (listed in [[Modules]]) but run a named subset of their queries: a full
  * pass of those modules takes 70 to 140 s on a 4-core host, while a
  * benchmark run has about a minute for its set-ups and timed passes.
  * `perfbench/survey.py` measures every query of the modules (time, frame
  * jobs, exec jobs, tasks per stage, shuffle bytes, set-up cost) and picks
  * each module's subset from that survey; its comparison of subset and
  * modules is kept in `perfbench/baseline.json`.
  */
object Workloads {

  val Modules: Map[String, Seq[(String, Seq[GraftQuery])]] = Map(
    "portfolio_reports" -> Seq(
      "loan.PortfolioQueries" -> graft.loan.PortfolioQueries.all,
      "relational.RelationalQueries" -> graft.relational.RelationalQueries.all,
      "events.EventQueries" -> graft.events.EventQueries.all),
    "corpus_curation" -> Seq(
      "dedup.DedupQueries" -> graft.dedup.DedupQueries.all,
      "sim.SimQueries" -> graft.sim.SimQueries.all,
      "text.TextQueries" -> graft.text.TextQueries.all))

  val Subsets: Map[String, Map[String, Seq[String]]] = Map(
    "portfolio_reports" -> Map(
      "loan.PortfolioQueries" -> Seq("loan_rate_stress", "region_set_ops"),
      "relational.RelationalQueries" ->
        Seq("pricing_summary", "orders_kmv_distinct", "corpus_quality_checks"),
      "events.EventQueries" ->
        Seq("events_user_sessions", "events_salted_join", "events_audience_overlap",
          "events_changepoint_binseg")),
    "corpus_curation" -> Map(
      "dedup.DedupQueries" -> Seq("doc_splits_grouped"),
      "sim.SimQueries" -> Seq("ann_graph_recall", "ann_graph_incremental"),
      "text.TextQueries" -> Seq("doc_simhash", "corpus_token_drift")))

  val names: Seq[String] = "etl_load" +: Subsets.keys.toSeq.sorted

  private def registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap

  private def modules(workload: String) = Modules.getOrElse(workload,
    throw new IllegalArgumentException(s"unknown workload $workload; expected one of ${names.mkString(", ")}"))

  /** Every registry query of the workload's modules, module by module. */
  def moduleOps(workload: String): Seq[(String, Op)] = {
    val reg = registry
    modules(workload).flatMap { case (module, queries) =>
      queries.map(q => module -> Op(q.name, reg(q.name).frame))
    }
  }

  def ops(workload: String): Seq[Op] = workload match {
    case "etl_load" => Seq(
      Op("loan_final", LoanDomain.loanFinalFrame, Some("loan_final")),
      Op("loan_monthly_schedule", LoanDomain.monthlyScheduleFrame,
        Some("loan_monthly_schedule")))
    case w =>
      val reg = registry
      modules(w).flatMap { case (module, queries) =>
        val inModule = queries.map(_.name).toSet
        Subsets(w)(module).map { n =>
          require(inModule(n) && reg.contains(n), s"$n is not a registry query of $module")
          Op(n, reg(n).frame)
        }
      }
  }
}
