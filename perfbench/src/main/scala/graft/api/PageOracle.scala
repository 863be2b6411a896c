package graft.api

import graft.core.Dates
import graft.operators.Reports
import graft.store.ServiceStore

/** The HTML pages the service should serve, rendered straight from
  * [[Reports]] results on the store with the service's own renderer
  * (package-private, hence this package): the benchmark compares them
  * with what `/services/{s}` and `/` return over HTTP.
  */
object PageOracle {

  def dashboardCounts(store: ServiceStore, day: String): Seq[(String, Long)] = {
    val services = store.list()
    val agg = Reports.dashboard(store.readAll(), "datetime", "service", "ip", day)
      .collect().map(r => r.getAs[String]("service") -> r.getAs[Long]("cnt")).toMap
    services.map(s => s -> agg.getOrElse(s, 0L)).sortBy { case (s, c) => (-c, s) }
  }

  /** `/?date=day`, with the store-size sentence left out: the service
    * caches that figure for minutes, so it is masked on both sides.
    */
  def root(store: ServiceStore, day: String): String =
    maskSize(Html.root(store.list(), dashboardCounts(store, day), 0L))

  def maskSize(page: String): String =
    page.replaceAll("The store consumed [0-9]+ bytes? of disk space", "The store consumed N bytes")

  /** `/services/{service}` over the last `days` days. */
  def service(store: ServiceStore, service: String, days: Int, topLimit: Int): String = {
    val df = store.read(service)
    val (startD, stopD) = Dates.window(Dates.todayUtc(), days)
    val (start, stop) = (Some(startD.toString), Some(stopD.toString))
    def str(v: Any): String = String.valueOf(v)
    val overview = Reports.alignByDate(
        Reports.dailyCount(df, "datetime", None, start, stop),
        Reports.dailyCount(df, "datetime", Some("ip"), start, stop))
      .collect()
      .map(r => (str(r.getAs[Any]("d")), str(r.getAs[Any]("visits")), str(r.getAs[Any]("uniq"))))
      .reverse.toSeq
    val time = Reports.dailyAverage(df, "datetime", "generation_time", start, stop)
      .collect()
      .map(r => (str(r.getAs[Any]("d")), "%.4f".format(r.getAs[Double]("avg_generation_time"))))
      .reverse.toSeq
    def top(group: String): Seq[(String, Seq[(String, String)])] = {
      val rows = Reports.topNPerDay(df, "datetime", "ip", group, distinct = true,
          ascending = false, n = topLimit, start, stop)
        .collect()
        .map(r => (str(r.getAs[Any]("d")), str(r.getAs[Any]("grp")), str(r.getAs[Any]("cnt"))))
      // one (date, rows) group per date, latest date first
      rows.groupBy(_._1).toSeq.sortBy(_._1).reverse
        .map { case (d, rs) => d -> rs.map(r => r._2 -> r._3).toSeq }
    }
    Html.service(store.list(), service, overview, time, top("path"), top("browser_name"))
  }
}
