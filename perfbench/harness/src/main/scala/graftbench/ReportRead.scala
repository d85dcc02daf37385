package graftbench

import org.apache.spark.sql.DataFrame

import graft.report.Report

/** One `GET /` render: open the reporting tables, then render the
  * reference's index page (agents table + conversations table). */
object ReportRead {
  final case class Read(wallS: Double, openMs: Double, renderMs: Double, rows: Int)

  def once(open: => (DataFrame, DataFrame)): Read = {
    val t0 = System.nanoTime()
    val (segments, agents) = Trace.span("report.open", "report")(open)
    val t1 = System.nanoTime()
    val html = Trace.span("report.render", "report")(
      Report.renderHtml(Report.agentsReport(agents), Report.conversationsReport(segments)))
    val t2 = System.nanoTime()
    Read((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, "<tr><td>".r.findAllMatchIn(html).size)
  }
}
