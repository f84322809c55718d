package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftConf, SparkEntry}
import graft.cxc.{CxcFilters, CxcPdf, CxcPipeline, CxcServing}
import graft.output.Sinks
import graft.queries.{TextQueries, VectorQueries}

/** JVM side of the benchmark. One process runs one workload: one refresh,
  * then a stream of reads for `--seconds`. It writes raw timings, spans and
  * check figures to `--result` as JSON; `run.py` turns them into metrics.
  *
  *  - cxc_batch: the CLI refresh (`CxcPipeline.run` → one `Sinks.parquet`
  *    per view, as `Sinks.writeViews` does → `CxcPdf.export`), then
  *    open-loop reads of the written views straight from their files.
  *  - cxc_dashboard: `CxcServing.refresh()` plus one warm read of every
  *    served view, then open-loop reads from the serving cache.
  *  - reports: a cold build of persisted indexes, then closed-loop passes
  *    over report queries and index probes, each collected.
  *
  * Usage: Main --workload W --input PATH --out DIR --result FILE
  *   --seconds S --rate R --cores C --trace 0|1
  * where PATH is the master parquet (cxc_*) or the tables directory.
  */
object Main {

  /** The refresh both CxC workloads run: the report stage, i.e. the CLI's
    * `--skip-audit --skip-analytics --skip-kpis`. Its 8 views are the
    * dependency root of the pipeline and the tables the dashboard's client
    * and vendor filters apply to. The full 40-view refresh with its three
    * workbooks takes about 100 s in a fresh JVM on 4 cores, more than one
    * benchmark run can spend.
    */
  val Options: CxcPipeline.Options =
    CxcPipeline.Options(skipAudit = true, skipAnalytics = true, skipKpis = true)

  /** The views the reads draw from. */
  val ReadViews: Seq[String] = Seq("facturas_abiertas", "reporte_cxc",
    "movimientos_totales", "facturas_cerradas", "registros_totales",
    "por_acreditar", "registros_por_acreditar", "registros_cancelados")

  /** Views the refresh checks read in full. */
  val CheckViews: Seq[String] = Seq("facturas_abiertas", "movimientos_totales", "registros_totales")

  /** The persisted indexes the reports refresh builds cold, through their
    * public build functions. A run has about 40 s, so two of the nine
    * families: all nine take 27 s cold even on the small tables.
    */
  val IndexBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "minhash" -> ((s, d) => TextQueries.minhashBuild(s, d, TextQueries.minhashIndexPath(d))),
    "pca" -> ((s, d) => VectorQueries.pcaBuild(s, d, VectorQueries.pcaIndexPath(d))))

  /** The reports queries: CxC-semantic reports (q01, q03), an operator
    * (q15, collection buckets), KPIs (q29), `Checkpoints.cut` iterations
    * (q38), and the probe of each built index (qd6b, qe28b), which runs
    * the native functions. Each takes 0.3-1.5 s warm.
    */
  val ReportQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_settlement_balance", "q15_collection_buckets",
    "q29_vendor_summary", "q38_basket_rules", "qd6b_minhash_probe", "qe28b_pca_probe")

  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = 0L
  }

  /** Spans around calls into the program; a no-op unless tracing. Jobs
    * submitted inside a span carry its id as a local property, so the
    * listener can charge their task metrics to it.
    */
  final class Tracer(sc: SparkContext, enabled: Boolean) {
    val spans = mutable.ArrayBuffer[Span]()
    private var current = 0

    def apply[A](name: String)(body: => A): A =
      if (!enabled) body
      else {
        val s = Span(spans.size + 1, name, current, System.nanoTime())
        spans += s
        val saved = current
        current = s.id
        sc.setLocalProperty(SpanKey, s.id.toString)
        try body
        finally {
          s.end = System.nanoTime()
          current = saved
          sc.setLocalProperty(SpanKey, if (saved == 0) null else saved.toString)
        }
      }
  }

  /** Spark task counters per span id (0 = outside any span). */
  final class Counters extends SparkListener {
    val Names = Seq("jobs", "tasks", "cpu_ns", "run_ms", "gc_ms",
      "shuffle_write_bytes", "input_bytes", "spill_bytes")
    val bySpan = mutable.Map[Int, Array[Long]]()
    private val stageSpan = mutable.Map[Int, Int]()

    private def acc(span: Int) = bySpan.getOrElseUpdate(span, new Array[Long](Names.size))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan(_) = span)
      acc(span)(0) += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageSpan.getOrElse(e.stageId, 0))
      a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorCpuTime
        a(3) += m.executorRunTime
        a(4) += m.jvmGCTime
        a(5) += m.shuffleWriteMetrics.bytesWritten
        a(6) += m.inputMetrics.bytesRead
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The machine-state canary `graft.Bench` takes before its session:
    * refill 8M longs from a seeded xorshift and sort them. Bench takes the
    * min of two passes; one pass here keeps a run short.
    */
  def canarySeconds(): Double = {
    val a = new Array[Long](8 << 20)
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-insensitive fingerprint of a row multiset. */
  def fingerprint(rows: Iterable[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    var h = r.hashCode.toLong * 0x9E3779B97F4A7C15L
    h ^= h >>> 29
    acc + h * 0xBF58476D1CE4E5B9L
  }

  final case class Draw(view: String, kind: String, sel: String)

  final case class Read(draw: Draw, due: Long, start: Long, end: Long,
      error: Option[String], rows: Int, fp: Long)

  /** The read sequence: the views in turn, a client selection on every
    * other turn and a vendor selection on the rest, so each view meets each
    * filter kind equally often over 16 reads. No source records which views
    * or filters analysts use most, so the mix is uniform. The j-th selection
    * of a kind takes the name at rank j * size / m of the dashboard's
    * sorted option list, for m selections of that kind: the generator's
    * names sort by popularity, so every run selects the same spread of
    * small and large clients, and the seed changes only the data.
    */
  def draws(n: Int, clientes: Seq[String], vendedores: Seq[String]): Seq[Draw] = {
    val k = ReadViews.size
    val turns = (n + k - 1) / k
    def pick(names: Seq[String], j: Int, m: Int) = names((j.toLong * names.size / m).toInt)
    (0 until n).map { i =>
      val (turn, v) = (i / k, ReadViews(i % k))
      val j = turn / 2 * k + i % k
      if (turn % 2 == 0) Draw(v, "cliente", pick(clientes, j, (turns + 1) / 2 * k))
      else Draw(v, "vendedor", pick(vendedores, j, turns / 2 * k))
    }
  }

  def filtered(df: DataFrame, d: Draw): DataFrame =
    if (d.kind == "cliente") CxcFilters.porCliente(df, Seq(d.sel))
    else CxcFilters.porVendedor(df, Seq(d.sel))

  /** What a read must return, from a full copy of the same view: rows whose
    * selection column equals the selection, or every row when the view
    * lacks the column (the filters' contract).
    */
  def expectedRows(all: Array[Row], d: Draw): Array[Row] =
    if (all.isEmpty) all
    else {
      val c = if (d.kind == "cliente") "NOMBRE_CLIENTE" else "VENDEDOR"
      val names = all.head.schema.fieldNames
      if (!names.contains(c)) all
      else {
        val i = names.indexOf(c)
        all.filter(r => !r.isNullAt(i) && r.getString(i) == d.sel)
      }
    }

  /** Open loop: read i is due at start + i / rate and is timed from then.
    * First, untimed, one read of each view with each filter kind (the
    * plan's first 16), so that the timed reads find the plans compiled, as
    * a dashboard that has served a few pages does.
    */
  def openLoop(plan: Seq[Draw], rate: Double, seconds: Double, tracer: Tracer)
      (open: String => DataFrame): Seq[Read] = {
    plan.take(2 * ReadViews.size).foreach(d => scala.util.Try(filtered(open(d.view), d).collect()))
    val t0 = System.nanoTime()
    val stopAt = t0 + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer[Read]()
    val it = plan.iterator.zipWithIndex
    var going = true
    while (going && it.hasNext) {
      val (d, i) = it.next()
      val due = t0 + (i * 1e9 / rate).toLong
      if (due >= stopAt) going = false
      else {
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        val start = System.nanoTime()
        var rows: Array[Row] = Array.empty
        val err =
          try {
            rows = tracer("read") {
              val df = tracer("read.view")(open(d.view))
              tracer("read.filter_collect")(filtered(df, d).collect())
            }
            None
          } catch { case t: Throwable => Some(t.toString) }
        val end = System.nanoTime()
        out += Read(d, due, start, end, err, rows.length, fingerprint(rows))
      }
    }
    out.toSeq
  }

  /** Closed loop: whole passes over the queries, in their given order, so
    * that each query finds the JVM as warm as in every other run. An
    * untimed pass first compiles each query's code, so that the timed
    * passes measure the queries rather than the JIT (one cold run of each
    * is noisier than the query). Then as many timed passes as the first
    * one's length fits in `seconds`, at least two, so that one machine
    * always runs the same count. A run is due when the previous one ends.
    * Returns the runs and, as a local DataFrame, each query's last output.
    */
  def closedLoop(names: Seq[String], seconds: Double, tracer: Tracer)
      (run: String => DataFrame): (Seq[Read], Map[String, DataFrame]) = {
    val out = mutable.ArrayBuffer[Read]()
    val last = mutable.Map[String, DataFrame]()
    names.foreach(q => scala.util.Try(run(q).collect()))
    var passes = 2
    var done = 0
    while (done < passes) {
      val passStart = System.nanoTime()
      names.foreach { q =>
        val start = System.nanoTime()
        var rows: Array[Row] = Array.empty
        val err =
          try {
            val df = tracer("read")(tracer(s"query:$q") {
              val df = run(q)
              rows = df.collect()
              df
            })
            last(q) = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            None
          } catch { case t: Throwable => Some(t.toString) }
        out += Read(Draw(q, "query", ""), start, start, System.nanoTime(), err,
          rows.length, fingerprint(rows))
      }
      if (done == 0)
        passes = passes.max((seconds * 1e9 / (System.nanoTime() - passStart)).toInt)
      done += 1
    }
    (out.toSeq, last.toMap)
  }

  /** Check figures of the report views, from full copies of their rows. */
  def figures(all: Map[String, Array[Row]]): Seq[(String, Double)] = {
    val fa = all("facturas_abiertas")
    val names = if (fa.isEmpty) Array.empty[String] else fa.head.schema.fieldNames
    val (si, mi) = (names.indexOf("SALDO_FACTURA"), names.indexOf("MONEDA"))
    val open = fa.filter(r => si >= 0 && !r.isNullAt(si))
    def saldo(m: String) = open.filter(_.getString(mi) == m).map(_.getDouble(si)).sum
    Seq(
      "registros_totales" -> all("registros_totales").length.toDouble,
      "movimientos_totales" -> all("movimientos_totales").length.toDouble,
      "open_charges" -> open.length.toDouble,
      "open_mxn" -> saldo("MXN"),
      "open_usd" -> saldo("USD"))
  }

  private def jstr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (calling, task and JVM threads), in ns. */
  def processCpuNs(): Long = osBean.getProcessCpuTime

  private def peakRssKb(): Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) -1L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    def opt(name: String): String = args.sliding(2).collectFirst {
      case Array(`name`, v) => v
    }.getOrElse(sys.error(s"missing $name"))
    val workload = opt("--workload")
    val input = opt("--input")
    val out = opt("--out")
    val seconds = opt("--seconds").toDouble
    val rate = opt("--rate").toDouble
    val trace = opt("--trace") == "1"
    val cores = opt("--cores")
    require(Set("cxc_batch", "cxc_dashboard", "reports")(workload), s"unknown workload $workload")

    // before the session, as graft.Bench does: the canary sees the machine
    val canaryStart = System.nanoTime()
    val canary = canarySeconds()
    val canaryWall = (System.nanoTime() - canaryStart) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftConf.contextDefaults)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConf.bootstrap(spark)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, trace)
    val counters = if (trace) Some(new Counters) else None
    counters.foreach(sc.addSparkListener)

    /** What a refresh leaves for the reads: how to open each view (cxc),
      * the serving build count, the number of views or indexes refreshed.
      */
    final case class Refreshed(open: String => DataFrame, builds: () => Int,
        views: Int, pdfPages: Int)

    /** The timed refresh; returns its end time with what it left. */
    def refresh(): (Refreshed, Long) = workload match {
      case "cxc_batch" =>
        val raw = spark.read.parquet(input)
        val (views, pages) = tracer("refresh") {
          val views = tracer("cxc.plan")(CxcPipeline.run(spark, raw, Options))
          views.foreach { case (name, df) =>
            tracer(s"cxc.report.write:$name")(Sinks.parquet(df, s"$out/$name"))
          }
          (views, tracer("output.pdf")(
            CxcPdf.export(views, s"$out/dashboard_cxc.pdf", "2024-06-01 00:00")))
        }
        val end = System.nanoTime()
        val files = ReadViews.map(v => v -> spark.read.parquet(s"$out/$v")).toMap
        (Refreshed(files, () => 0, views.size, pages), end)
      case "cxc_dashboard" =>
        val raw = spark.read.parquet(input)
        val serving = new CxcServing(spark,
          () => tracer("cxc.plan")(CxcPipeline.run(spark, raw, Options)))
        tracer("refresh") {
          tracer("serving.refresh")(serving.refresh())
          ReadViews.foreach(v => tracer(s"cxc.report.warm:$v")(serving.view(v).collect().length))
        }
        val end = System.nanoTime()
        (Refreshed(serving.view, () => serving.builds, serving.viewNames.size, 0), end)
      case "reports" =>
        tracer("refresh") {
          IndexBuilds.foreach { case (family, build) =>
            tracer(s"index.build:$family")(build(spark, input))
          }
        }
        (Refreshed(_ => sys.error("reports reads no views"), () => 0, IndexBuilds.size, 0),
          System.nanoTime())
    }

    def runQuery(q: String): DataFrame = SparkEntry.queries(q)(spark, input)

    // reports: warm the session first, as graft.Bench does with q01, so
    // that the refresh times the index builds rather than the first jobs
    // of the JVM. The CxC refreshes stay cold, as the hourly CLI runs.
    if (workload == "reports")
      scala.util.Try(runQuery("q01_pricing_summary").write.format("noop").mode("overwrite").save())

    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cpu0 = processCpuNs()
    var refreshCpu = 0L
    var refreshErr: Option[String] = None
    var refreshEnd = 0L
    var refreshed: Option[Refreshed] = None
    var buildsDuringReads = 0
    var reads: Seq[Read] = Nil
    var lastRuns: Map[String, DataFrame] = Map.empty

    try {
      val (r, end) = refresh()
      refreshEnd = end
      refreshCpu = processCpuNs() - cpu0
      refreshed = Some(r)
      if (workload == "reports") {
        val (rs, last) = closedLoop(ReportQueries, seconds, tracer)(runQuery)
        reads = rs
        lastRuns = last
      } else {
        val m = r.open("movimientos_totales")
        val plan = draws((seconds * rate).round.toInt,
          CxcFilters.clientes(m), CxcFilters.vendedores(m))
        val builds0 = r.builds()
        reads = openLoop(plan, rate, seconds, tracer)(r.open)
        buildsDuringReads = r.builds() - builds0
      }
    } catch {
      case t: Throwable =>
        refreshErr = Some(t.toString)
        if (refreshEnd == 0L) refreshEnd = System.nanoTime()
        t.printStackTrace()
    }

    // what the program still holds after the reads (cached views, session
    // state), before the checks below make copies of their own. The pause
    // lets Spark's cleaner drop the blocks of broadcasts and shuffles the
    // first collection freed, which it does on its own thread.
    val readsEndMs = System.currentTimeMillis()
    val liveHeap = {
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(250); System.gc()
      rt.totalMemory() - rt.freeMemory()
    }

    // output checks, outside every timed span. cxc: full copies of the
    // views (the dashboard's from its cache, the batch's from its files,
    // untimed). reports: each query's last output, which every run of it
    // must match, written for the oracle check.
    var checkErr: Option[String] = None
    val full: Map[String, Array[Row]] =
      try refreshed.filter(_ => workload != "reports").map(r =>
        (reads.map(_.draw.view) ++ CheckViews).distinct.map(v => v -> r.open(v).collect()).toMap)
        .getOrElse(Map.empty)
      catch { case t: Throwable => checkErr = Some(t.toString); Map.empty }
    val lastRows = lastRuns.map { case (q, df) => q -> df.collect() }
    val checked = reads.map { r =>
      if (r.draw.kind == "query")
        lastRows.get(r.draw.view).map(rows => (r, rows.length, fingerprint(rows))).getOrElse((r, -1, 0L))
      else if (r.error.nonEmpty || !full.contains(r.draw.view)) (r, -1, 0L)
      else {
        val exp = expectedRows(full(r.draw.view), r.draw)
        (r, exp.length, fingerprint(exp))
      }
    }
    val figs = if (CheckViews.forall(full.contains)) figures(full) else Nil
    val oracle: Seq[(String, String)] =
      if (workload != "reports" || refreshErr.nonEmpty) Nil
      else {
        val sql = SparkEntry.oracleSqlFor(Some(input))
        ReportQueries.map { q =>
          try {
            lastRuns(q).coalesce(1).write.mode("overwrite").parquet(s"$out/check/$q")
            q -> sql.getOrElse(q, "")
          } catch { case t: Throwable => q -> "" }
        }
      }
    val endMs = System.currentTimeMillis()
    val rss = peakRssKb()
    spark.stop() // drains the listener bus before the counters are read

    def ns(t: Long) = jnum((t - t0) / 1e9)
    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""workload":${jstr(workload)},"canary_s":${jnum(canary)},"canary_wall_s":${jnum(canaryWall)},"""
    sb ++= s""""first_op_ms":$firstOpMs,"reads_end_ms":$readsEndMs,"end_ms":$endMs,"peak_rss_kb":$rss,"live_heap_bytes":$liveHeap,"""
    sb ++= s""""refresh":{"start":0.0,"end":${ns(refreshEnd)},"cpu":${jnum(refreshCpu / 1e9)},"error":"""
    sb ++= refreshErr.orElse(checkErr).map(jstr).getOrElse("null")
    sb ++= s""","views":${refreshed.map(_.views).getOrElse(0)},"pdf_pages":${refreshed.map(_.pdfPages).getOrElse(0)}},"""
    sb ++= s""""builds_during_reads":$buildsDuringReads,"""
    sb ++= (IndexBuilds.map(_._1).map(jstr).mkString(""""indexes":[""", ",", "],") +
      ReportQueries.map(jstr).mkString(""""queries":[""", ",", "],"))
    sb ++= figs.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString(""""figures":{""", ",", "},")
    sb ++= oracle.map { case (q, sql) => s"${jstr(q)}:${jstr(sql)}" }.mkString(""""oracle":{""", ",", "},")
    sb ++= checked.map { case (r, expRows, expFp) =>
      s"""{"view":${jstr(r.draw.view)},"kind":${jstr(r.draw.kind)},"sel":${jstr(r.draw.sel)},""" +
        s""""due":${ns(r.due)},"start":${ns(r.start)},"end":${ns(r.end)},""" +
        s""""error":${r.error.map(jstr).getOrElse("null")},"rows":${r.rows},""" +
        s""""fp":"${r.fp}","exp_rows":$expRows,"exp_fp":"$expFp"}"""
    }.mkString(""""reads":[""", ",", "],")
    val cnt = counters.map(_.bySpan.toMap).getOrElse(Map.empty)
    val names = counters.map(_.Names).getOrElse(Nil)
    def cjson(id: Int) = cnt.get(id).map(a =>
      names.zip(a).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")).getOrElse("null")
    sb ++= tracer.spans.map { s =>
      s"""{"id":${s.id},"name":${jstr(s.name)},"parent":${s.parent},""" +
        s""""start":${ns(s.start)},"end":${ns(s.end)},"spark":${cjson(s.id)}}"""
    }.mkString(""""spans":[""", ",", "],")
    sb ++= s""""spark_outside_spans":${cjson(0)}}"""
    val w = new java.io.PrintWriter(opt("--result"), "UTF-8")
    try w.write(sb.toString) finally w.close()
  }
}
