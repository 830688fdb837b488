package perfbench

import org.apache.spark.sql.DataFrame

import graft.operators.Dashboard

/** The reference dashboard's operations over the maintained view, each
  * fully materialized (`queryExecution.toRdd`, so no projection is
  * pruned away) or collected where the dashboard shows the rows. */
object DashboardOps {

  val names: IndexedSeq[String] = IndexedSeq("spend_status", "age_groups",
    "date_range", "filters", "top_merchants", "daily_items", "card_counts")

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** A 30-day window that moves through history with the call index. */
  private def window(gen: StarGen, i: Int): (String, String) = {
    val start = (i * 13) % math.max(1, gen.size.days - 30)
    (gen.day(start).toString, gen.day(start + 29).toString)
  }

  /** Run operation `i % names.size` over `view`; returns its row count. */
  def run(i: Int, view: DataFrame, gen: StarGen): Long = names(i % names.size) match {
    case "spend_status" =>
      Dashboard.spendStatusCounts(Dashboard.calculateCustomerSpending(view))
        .collect().length.toLong
    case "age_groups" => materialize(Dashboard.categorizeByAge(view))
    case "date_range" =>
      val (s, e) = window(gen, i)
      materialize(Dashboard.filterDateRange(view, s, e))
    case "filters" =>
      val (s, e) = window(gen, i)
      materialize(Dashboard.applyFilters(Dashboard.categorizeByAge(view),
        Dashboard.calculateCustomerSpending(view), s, e,
        category = Some("Purchase"), spendStatus = Some("High Spenders")))
    case "top_merchants" => Dashboard.topMerchants(view, 5).collect().length.toLong
    case "daily_items" => materialize(Dashboard.dailyItems(view))
    case "card_counts" => Dashboard.cardCounts(view).collect().length.toLong
  }
}
