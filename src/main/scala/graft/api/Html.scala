package graft.api

/** Server-rendered HTML for the reference's UI surface
  * (ballcone/templates/: layout.html, root.html:1-40, service.html:1-127,
  * sql.html:1-44, chart_callback.js:1-15) — same Bulma + Chart.js page
  * structure, same sidebar, same rowspan date-grouping (O19) on the
  * per-service report tables; rendered with plain string templates
  * instead of jinja2 (no template engine in the dependency budget, and
  * the pages are small).
  *
  * Charts are fed by the existing JSON endpoints (`/api/{s}/count`,
  * `/api/{s}/average/...`); the callback is adapted to this engine's
  * row shape (`d` + measure column) rather than the reference's
  * `elements` envelope.
  */
private[api] object Html {

  def escape(s: String): String =
    Option(s).getOrElse("").flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      // ingest keeps only ServiceStore.ServicePattern service names,
      // but migrated stores can carry arbitrary ones — a bare
      // apostrophe would close the single-quoted JS string literals
      // these pages interpolate into
      case '\'' => "&#39;"
      case c => c.toString
    }

  /** Percent-encode a path segment (service names inside hrefs and the
    * Chart.js getJSON URLs — HTML escaping alone is not URL encoding).
    */
  def urlSeg(s: String): String =
    java.net.URLEncoder.encode(Option(s).getOrElse(""), "UTF-8")
      .replace("+", "%20")

  /** layout.html — sidebar (Dashboard / SQL Console / service list /
    * nginx) around `content`, Chart.js callback included at the foot.
    */
  def layout(title: String, services: Seq[String], currentPage: String,
             currentService: Option[String], content: String): String = {
    val serviceItems = services.map { s =>
      val active = if (currentService.contains(s)) """class="is-active" """ else ""
      s"""<li><a $active href="/services/${urlSeg(s)}">${escape(s)}</a></li>"""
    }.mkString("\n")
    val servicesBlock =
      if (services.isEmpty) ""
      else s"""<p class="menu-label">Services</p><ul class="menu-list">$serviceItems</ul>"""
    def active(p: String) = if (currentPage == p) """class="is-active" """ else ""
    s"""<!DOCTYPE html>
       |<html lang="en">
       |<head>
       |<meta charset="utf-8">
       |<meta name="viewport" content="width=device-width, initial-scale=1">
       |<title>Graft${if (title.nonEmpty) ": " + escape(title) else ""}</title>
       |<link rel="stylesheet" href="https://cdn.jsdelivr.net/npm/bulma@0.8.2/css/bulma.min.css">
       |<script src="https://cdn.jsdelivr.net/npm/jquery@3.5.0/dist/jquery.min.js"></script>
       |<script src="https://cdn.jsdelivr.net/npm/chart.js@2.9.3/dist/Chart.min.js"></script>
       |</head>
       |<body>
       |<div class="container"><div class="columns">
       |<div class="column is-one-quarter"><div class="section">
       |<h1 class="title">Graft</h1>
       |<aside class="menu">
       |<p class="menu-label">General</p>
       |<ul class="menu-list">
       |<li><a ${active("root")}href="/">Dashboard</a></li>
       |<li><a ${active("sql")}href="/sql">SQL Console</a></li>
       |</ul>
       |$servicesBlock
       |<p class="menu-label">Configuration Templates</p>
       |<ul class="menu-list"><li><a ${active("nginx")}href="/nginx">nginx</a></li></ul>
       |</aside>
       |</div></div>
       |<div class="column is-three-quarters"><div class="section">
       |$content
       |</div></div>
       |</div></div>
       |<script>
       |var makeCallback = function(chart, measure) {
       |  return function(data) {
       |    var rows = Array.isArray(data) ? data : data.rows;
       |    rows.forEach(function(entry) {
       |      chart.data.labels.push(entry.d);
       |      chart.data.datasets.forEach(function(ds) { ds.data.push(entry[measure]); });
       |    });
       |    chart.update();
       |  };
       |};
       |</script>
       |</body>
       |</html>""".stripMargin
  }

  /** root.html — two-column dashboard cards (service, unique visits
    * today, bar chart) + DB size footer.
    */
  def root(services: Seq[String], dashboard: Seq[(String, Long)],
           sizeBytes: Long): String = {
    val cards = dashboard.map { case (s, c) =>
      val se = escape(s)
      val su = urlSeg(s)
      s"""<div class="column is-one-half"><div class="card"><div class="card-content">
         |<p class="title"><a href="/services/$su">$se</a></p>
         |<p class="subtitle">$c unique visit${if (c != 1) "s" else ""} today</p>
         |<div class="content">
         |<canvas id="unique_$su" style="height: 16em; width: 100%; display: block;"></canvas>
         |<script>
         |$$(document).ready(function() {
         |  $$.getJSON('/api/$su/count?field=ip',
         |  makeCallback(new Chart(document.getElementById('unique_$su'), {
         |    type: 'bar',
         |    data: { datasets: [{ label: '# of Unique IPs', borderWidth: 1 }] }
         |  }), 'cnt'));
         |});
         |</script>
         |</div></div></div></div>""".stripMargin
    }
    val columns = cards.grouped(2).map(
      _.mkString("""<div class="columns">""", "\n", "</div>")).mkString("\n")
    val content =
      s"""$columns
         |<div class="content">
         |<p>If you see nothing, <a href="/nginx">start configuring</a> your nginx.</p>
         |<p>The store consumed $sizeBytes byte${if (sizeBytes != 1) "s" else ""} of disk space.</p>
         |</div>""".stripMargin
    layout("", services, "root", None, content)
  }

  /** A date-grouped table body with the first cell rowspan'd over each
    * date's rows — the O19 group-adjacent presentation the reference
    * renders via jinja's groupby (service.html:62-77).
    */
  def rowspanTable(groups: Seq[(String, Seq[(String, String)])]): String =
    groups.map { case (date, rows) =>
      rows.zipWithIndex.map { case ((g, c), i) =>
        val dateCell =
          if (i == 0) s"""<td rowspan="${rows.length}">${escape(date)}</td>""" else ""
        s"<tr>$dateCell<td>${escape(g)}</td><td>${escape(c)}</td></tr>"
      }.mkString("\n")
    }.mkString("\n")

  /** service.html — overview (visits/unique), average generation time,
    * most-popular paths and browsers with rowspan date grouping, plus
    * the two Chart.js canvases.
    */
  def service(services: Seq[String], current: String,
              overview: Seq[(String, String, String)],
              time: Seq[(String, String)],
              paths: Seq[(String, Seq[(String, String)])],
              browsers: Seq[(String, Seq[(String, String)])]): String = {
    val su = urlSeg(current)
    val overviewRows = overview.map { case (d, v, u) =>
      s"<tr><td>${escape(d)}</td><td>${escape(v)}</td><td>${escape(u)}</td></tr>"
    }.mkString("\n")
    val timeRows = time.map { case (d, a) =>
      s"<tr><td>${escape(d)}</td><td>${escape(a)}</td></tr>"
    }.mkString("\n")
    val content =
      s"""<div class="content">
         |<h2 class="subtitle">Overview</h2>
         |<div class="columns is-desktop">
         |<div class="column is-one-half">
         |<table class="table is-hoverable is-fullwidth">
         |<thead><tr><th>Date</th><th>Visits</th><th>Unique IPs</th></tr></thead>
         |<tbody>
         |$overviewRows
         |</tbody></table>
         |</div>
         |<div class="column is-one-half">
         |<canvas id="unique" style="height: 20em; width: 100%; display: block;"></canvas>
         |</div></div>
         |<h2 class="subtitle">Average Generation Time</h2>
         |<div class="columns is-desktop">
         |<div class="column is-one-half">
         |<table class="table is-hoverable is-fullwidth">
         |<thead><tr><th>Date</th><th>Time (s)</th></tr></thead>
         |<tbody>
         |$timeRows
         |</tbody></table>
         |</div>
         |<div class="column is-one-half">
         |<canvas id="time" style="height: 20em; width: 100%; display: block;"></canvas>
         |</div></div>
         |<h2 class="subtitle">Traffic Trend &amp; Anomalies</h2>
         |<div class="columns is-desktop">
         |<div class="column is-one-half">
         |<canvas id="ewma" style="height: 20em; width: 100%; display: block;"></canvas>
         |</div>
         |<div class="column is-one-half">
         |<canvas id="anomaly" style="height: 20em; width: 100%; display: block;"></canvas>
         |</div></div>
         |<h2 class="subtitle">Most Popular Paths</h2>
         |<div class="table-container">
         |<table class="table is-hoverable is-fullwidth">
         |<thead><tr><th>Date</th><th>Path</th><th>Visits</th></tr></thead>
         |<tbody>
         |${rowspanTable(paths)}
         |</tbody></table>
         |</div>
         |<h2 class="subtitle">Most Popular Browsers</h2>
         |<table class="table is-hoverable is-fullwidth">
         |<thead><tr><th>Date</th><th>Browser</th><th>Visits</th></tr></thead>
         |<tbody>
         |${rowspanTable(browsers)}
         |</tbody></table>
         |</div>
         |<script>
         |$$(document).ready(function() {
         |  $$.getJSON('/api/$su/count?field=ip',
         |  makeCallback(new Chart($$('#unique'), {
         |    type: 'bar',
         |    data: { datasets: [{ label: '# of Unique IPs', borderWidth: 1 }] }
         |  }), 'cnt'));
         |  $$.getJSON('/api/$su/average/generation_time',
         |  makeCallback(new Chart($$('#time'), {
         |    type: 'line',
         |    data: { datasets: [{ label: 'Average Generation Time', borderWidth: 1 }] }
         |  }), 'avg_generation_time'));
         |  $$.getJSON('/api/$su/ewma',
         |  makeCallback(new Chart($$('#ewma'), {
         |    type: 'line',
         |    data: { datasets: [{ label: 'Smoothed Daily Visits (EWMA)', borderWidth: 1 }] }
         |  }), 'ewma'));
         |  $$.getJSON('/api/$su/anomaly',
         |  makeCallback(new Chart($$('#anomaly'), {
         |    type: 'bar',
         |    data: { datasets: [{ label: 'Visits vs Trailing Mean (ratio)', borderWidth: 1 }] }
         |  }), 'ratio'));
         |});
         |</script>""".stripMargin
    layout(current, services, "service", Some(current), content)
  }

  /** sql.html — query form + result table or error pane. */
  def sql(services: Seq[String], query: String,
          result: Option[(Seq[String], Seq[Seq[String]], Boolean)],
          error: Option[String]): String = {
    val resultBlock = result.map { case (cols, rows, truncated) =>
      val head = cols.map(c => s"<th>${escape(c)}</th>")
        .mkString("<tr>", "", "</tr>")
      val body = rows.map(_.map(v => s"<td>${escape(v)}</td>")
        .mkString("<tr>", "", "</tr>")).mkString("\n")
      val note = if (truncated)
        """<p><em>Result truncated to the row cap.</em></p>""" else ""
      s"""<div class="content">
         |<h2 class="subtitle">Result</h2>$note
         |<div class="table-container">
         |<table class="table is-bordered is-striped is-hoverable is-fullwidth">
         |<thead>$head</thead>
         |<tbody>
         |$body
         |</tbody></table>
         |</div></div>""".stripMargin
    }.getOrElse("")
    val errorBlock = error.map(e =>
      s"""<div class="content"><h2 class="subtitle">Error</h2><pre>${escape(e)}</pre></div>"""
    ).getOrElse("")
    val content =
      s"""<div class="content">
         |<h2 class="subtitle">SQL Console</h2>
         |<form method="POST" action="/sql" enctype="application/x-www-form-urlencoded">
         |<div class="field">
         |<label class="label" for="sql">Query</label>
         |<div class="control">
         |<textarea id="sql" name="sql" class="textarea is-family-monospace" placeholder="SQL Query">${escape(query)}</textarea>
         |</div></div>
         |<div class="field is-grouped">
         |<div class="control"><button class="button is-link is-light" accesskey="e">Submit</button></div>
         |</div>
         |</form>
         |</div>
         |$resultBlock
         |$errorBlock""".stripMargin
    layout("SQL Console", services, "sql", None, content)
  }

  /** nginx.html — the config-template page wrapping the generated
    * stanza (templates/nginx.html renders the same instructions).
    */
  def nginx(services: Seq[String], service: String, conf: String): String = {
    val content =
      s"""<div class="content">
         |<h2 class="subtitle">nginx</h2>
         |<p>Add this to your <code>server</code> block and reload nginx;
         |events for <code>${escape(service)}</code> will start flowing in.</p>
         |<pre>${escape(conf)}</pre>
         |</div>""".stripMargin
    layout("nginx", services, "nginx", None, content)
  }
}
