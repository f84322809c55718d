package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cxc._

/** Mirrors the reference's Level-1 synthetic harness
  * (/root/reference/tests/test_pipeline.py:201-415) with stronger
  * numeric assertions (SURVEY §5.4).
  */
class CxcPipelineSpec extends AnyFunSuite {
  import SparkSpecBase.spark

  private lazy val raw = CxcFixture.generate(spark, 60)
  private lazy val views = CxcPipeline.run(spark, raw)
  private lazy val movs = views("movimientos_totales").cache()

  test("pipeline emits the canonical view set") {
    val expected = Seq(
      "movimientos_totales", "reporte_cxc", "facturas_abiertas", "facturas_cerradas",
      "por_acreditar", "registros_totales", "registros_por_acreditar",
      "registros_cancelados",
      "auditoria_resumen", "auditoria_perfil_calidad",
      "antiguedad_cartera_mxn", "antiguedad_cartera_usd",
      "kpis_resumen_mxn", "kpis_resumen_usd",
      "resumen_concepto_cxc_mxn", "resumen_ajustes_cxc_mxn",
      "resumen_cancelados_cxc_mxn", "resumen_por_vendedor_mxn",
      "resumen_por_vendedor_usd",
      "concentracion_mxn", "limite_credito_mxn", "morosidad_por_cliente_mxn")
    expected.foreach(k => assert(views.contains(k), s"missing view $k"))
  }

  test("P3: view schemas match the reference's transcribed column lists") {
    // fixture carries no DESCRIPCION column; _seleccionar_columnas is
    // list ∩ present (reporte_cxc.py:305-307), so it drops out here
    def expectedCols(list: Seq[String], band: Boolean) =
      list.filterNot(_ == "DESCRIPCION") ++ (if (band) Seq("_BAND_GROUP") else Nil)
    assert(views("reporte_cxc").columns.toSeq ==
      expectedCols(CxcReport.columnasReporte, band = true))
    assert(views("facturas_abiertas").columns.toSeq ==
      expectedCols(CxcReport.columnasFacturasAbiertas, band = true))
    assert(views("facturas_cerradas").columns.toSeq ==
      expectedCols(CxcReport.columnasFacturasCerradas, band = true))
    assert(views("por_acreditar").columns.toSeq ==
      expectedCols(CxcReport.columnasPorAcreditar, band = false))
  }

  test("facturas views include the linked 'R' payment legs (reporte_cxc.py:479,502)") {
    // closed charges 1-3 have settling payments → cerradas must contain
    // payment rows (ABONOS > 0 in the CARGOS/ABONOS projection sense)
    val cerradas = views("facturas_cerradas")
    assert(cerradas.filter(col("ABONOS") > 0).count() >= 3,
      "facturas_cerradas must union the settling payments")
    val abiertas = views("facturas_abiertas")
    // fixture guarantees partially-paid open charges → payment legs present
    assert(abiertas.filter(col("ABONOS") > 0).count() > 0,
      "facturas_abiertas must union the partial payments")
  }

  test("HORA (F12) formats to HH:mm:ss with '' for null") {
    val horas = views("movimientos_totales").select("HORA").distinct()
      .collect().map(_.getString(0))
    assert(horas.contains(""), "null HORA must map to empty string")
    val pat = "^\\d{2}:\\d{2}:\\d{2}$".r
    assert(horas.filter(_.nonEmpty).forall(h => pat.findFirstIn(h).isDefined),
      s"malformed HORA values: ${horas.filter(h => h.nonEmpty && pat.findFirstIn(h).isEmpty).take(3).mkString(",")}")
  }

  test("resumen_por_vendedor: per-vendor totals reconcile and saldo = cargos - abonos") {
    val v = views("resumen_por_vendedor_mxn").collect()
    assert(v.nonEmpty)
    v.foreach { r =>
      assert(math.abs(r.getAs[Double]("SALDO") -
        (r.getAs[Double]("TOTAL_CARGOS") - r.getAs[Double]("TOTAL_ABONOS"))) < 0.011)
    }
    // every fixture vendor (and no TOTAL row) appears
    assert(!v.map(_.getAs[String]("VENDEDOR")).contains("TOTAL"))
  }

  test("resumen_ajustes: reference shape with NUM_REGISTROS and TOTAL row") {
    val rows = views("resumen_ajustes_cxc_mxn").collect()
    assert(rows.map(_.schema.fieldNames.toSeq).head ==
      Seq("NOMBRE_CLIENTE", "NUM_REGISTROS", "IMPORTE_AJUSTE"))
    val (tot, body) = rows.partition(_.getAs[String]("NOMBRE_CLIENTE") == "TOTAL")
    assert(tot.length == 1)
    assert(tot.head.getAs[Long]("NUM_REGISTROS") == body.map(_.getAs[Long]("NUM_REGISTROS")).sum)
  }

  test("cancelled rows are excluded from movimientos and captured in the view") {
    assert(movs.filter(col("_CANCELADO")).count() == 0)
    assert(views("registros_cancelados").count() >= 1)
  }

  test("advances ('A') are excluded from movimientos and captured por acreditar") {
    assert(movs.filter(upper(trim(col("TIPO_IMPTE"))) === "A").count() == 0)
    assert(views("por_acreditar").count() == 3)
  }

  test("SALDO_FACTURA: unlinked charge keeps full amount; settled charge is 0; payments null") {
    val unlinked = movs.filter(col("TIPO_IMPTE") === "C" &&
      abs(col("SALDO_FACTURA") - col("_MONTO")) < 0.01)
    assert(unlinked.count() > 0)
    // charges 1-3 were fully settled by the fixture
    val settled = movs.filter(col("DOCTO_CC_ID").isin(1L, 2L, 3L))
    assert(settled.filter(abs(col("SALDO_FACTURA")) > 0.011).count() == 0)
    assert(movs.filter(col("TIPO_IMPTE") === "R" && col("SALDO_FACTURA").isNotNull).count() == 0)
  }

  test("SALDO_FACTURA equals charge minus linked payments (invariant over all charges)") {
    val pays = movs.filter(col("TIPO_IMPTE") === "R")
      .groupBy(col("DOCTO_CC_ACR_ID").as("k")).agg(sum("_MONTO").as("paid"))
    val bad = movs.filter(col("TIPO_IMPTE") === "C")
      .join(pays, col("DOCTO_CC_ID") === col("k"), "left")
      .filter(abs(col("SALDO_FACTURA") - (col("_MONTO") - coalesce(col("paid"), lit(0.0)))) > 0.011)
    assert(bad.count() == 0)
  }

  test("SALDO_CLIENTE final value per client equals net client position") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("NOMBRE_CLIENTE")
      .orderBy(col("DOCTO_CC_ACR_ID").desc_nulls_last, col("DOCTO_CC_ID").desc_nulls_last,
        col("FECHA_EMISION").desc_nulls_last)
    val last = movs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("NOMBRE_CLIENTE"), col("SALDO_CLIENTE"))
    val net = movs.groupBy("NOMBRE_CLIENTE").agg(
      sum(when(col("TIPO_IMPTE") === "C", col("_MONTO"))
        .when(col("TIPO_IMPTE") === "R", -col("_MONTO")).otherwise(0.0)).as("net"),
      count(lit(1)).as("n"))
    val bad = last.join(net, Seq("NOMBRE_CLIENTE"))
      .filter(abs(col("SALDO_CLIENTE") - col("net")) > col("n") * 0.005 + 0.01)
    assert(bad.count() == 0)
  }

  test("band groups alternate in {0,1}") {
    val bands = movs.select("_BAND_GROUP").distinct().collect().map(_.getInt(0)).toSet
    assert(bands.subsetOf(Set(0, 1)))
  }

  /** The eight report views built the way every view re-derived them
    * before the shared cuts: each view's plan carries its own chain from
    * `normalize(raw)`, `reporte_cxc` re-runs `withBandGroups(base)`, and
    * the master's z-scores are three chained `withZScore` calls.
    */
  private def perViewChains(raw: DataFrame): Map[String, DataFrame] = {
    import CxcReport._
    import CxcSchema._
    val df = normalize(raw)
    val base = withSaldoCliente(withCycleMetrics(withSaldoFactura(movimientos(df)),
      CxcFixture.asOfDate))
    val abiertas = base.filter(isCargo(base) && col("SALDO_FACTURA") > 0)
    val cerradas = base.filter(isCargo(base) && col("SALDO_FACTURA") === 0)
    def pagosDe(charges: DataFrame): DataFrame = base
      .filter(isAbono(base))
      .join(charges.select(col("DOCTO_CC_ID").as("_link_id")),
        base("DOCTO_CC_ACR_ID") === col("_link_id"), "left_semi")
    def chainedZ(d: DataFrame): DataFrame = {
      val z1 = operators.ZScore.withZScore(
        d.withColumn("_V_IMPORTE", when(esVenta(d), col("IMPORTE"))),
        col("_V_IMPORTE"), "ZSCORE_IMPORTE", "ATIPICO_IMPORTE", 3.0).drop("_V_IMPORTE")
      val z2 = operators.ZScore.withZScore(z1, col("DELTA_RECAUDO"),
        "ZSCORE_DELTA_RECAUDO", "ATIPICO_DELTA_RECAUDO", 3.0)
      operators.ZScore.withZScore(z2, col("DELTA_MORA"),
        "ZSCORE_DELTA_MORA", "ATIPICO_DELTA_MORA", 3.0)
    }
    Map(
      "movimientos_totales" -> chainedZ(withBandGroups(base)),
      "reporte_cxc" -> seleccionarColumnas(
        withBandGroups(base), columnasReporte, keepBand = true),
      "facturas_abiertas" -> seleccionarColumnas(
        withBandGroups(abiertas.unionByName(pagosDe(abiertas))),
        columnasFacturasAbiertas, keepBand = true),
      "facturas_cerradas" -> seleccionarColumnas(
        withBandGroups(cerradas.unionByName(pagosDe(cerradas))),
        columnasFacturasCerradas, keepBand = true),
      "por_acreditar" -> seleccionarColumnas(porAcreditar(df), columnasPorAcreditar),
      "registros_totales" -> withBandGroups(df),
      "registros_por_acreditar" -> withBandGroups(porAcreditar(df)),
      "registros_cancelados" -> withBandGroups(cancelados(df)))
  }

  test("shared cuts: every report view equals its per-view chain (columns and row multiset)") {
    val expected = perViewChains(raw)
    assert(expected.keySet.forall(views.contains))
    expected.foreach { case (name, want) =>
      val got = views(name)
      assert(got.columns.toSeq == want.columns.toSeq, s"$name column order")
      assert(got.count() == want.count(), s"$name row count")
      assert(got.exceptAll(want).isEmpty, s"$name has rows the per-view chain lacks")
      assert(want.exceptAll(got).isEmpty, s"$name lacks rows of the per-view chain")
    }
  }

  test("shared cuts: reporte_cxc reads the cached master, the master runs one z-score aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.StddevSamp
    import org.apache.spark.sql.catalyst.plans.Cross
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // collect walks children only, so the cached master's own plan (an
    // inner child of the scan) is not searched for a Window
    val reporte = unwrap(views("reporte_cxc").queryExecution.executedPlan)
    assert(reporte.collect { case m: InMemoryTableScanExec => m }.nonEmpty,
      s"reporte_cxc must read the cached master; plan was:\n$reporte")
    assert(reporte.collect { case w: WindowExec => w }.isEmpty,
      s"reporte_cxc must not recompute the band-group window; plan was:\n$reporte")
    def zScoreShape(p: LogicalPlan): (Int, Int) = (
      p.collect { case a: Aggregate if a.aggregateExpressions.exists(
        _.collectFirst { case _: StddevSamp => true }.isDefined) => a }.size,
      p.collect { case j: Join if j.joinType == Cross => j }.size)
    val cut = CxcReport.run(raw, CxcFixture.asOfDate)("movimientos_totales")
    assert(zScoreShape(cut.queryExecution.optimizedPlan) == ((1, 1)),
      "the master's three z-scores must share one aggregate and one cross join")
    // the chain runs three aggregates, and each later aggregate reads a
    // (column-pruned) copy of the earlier cross joins: 1 + 2 + 4 joins
    assert(zScoreShape(perViewChains(raw)("movimientos_totales")
      .queryExecution.optimizedPlan) == ((3, 7)),
      "the chained form this pin is measured against")
  }

  test("auditor finds the planted edge cases") {
    val resumen = views("auditoria_resumen").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resumen("auditoria_cancelados") >= 1)
    assert(resumen("auditoria_importes_atipicos") >= 1, "planted 4.5-sigma outlier missed")
    assert(resumen("auditoria_sin_cliente") >= 1)
    assert(resumen("auditoria_duplicados") >= 2) // the pair (original + copy)
    // the delta-outlier rules run against the report and are counted
    assert(resumen.contains("auditoria_recaudos_atipicos"))
    assert(resumen.contains("auditoria_moras_atipicas"))
  }

  test("importe outliers are charge-only with reference MOTIVO; delta findings carry z-scores") {
    val imp = views("auditoria_importes_atipicos")
    assert(imp.filter(upper(trim(col("TIPO_IMPTE"))) =!= "C").count() == 0,
      "payment rows must not enter the importe outlier reference mean")
    assert(imp.columns.contains("MOTIVO") && imp.columns.contains("ZSCORE_IMPORTE"))
    val moras = views("auditoria_moras_atipicas")
    assert(moras.columns.contains("ZSCORE_DELTA_MORA"))
    assert(moras.filter(col("DELTA_MORA").isNull).count() == 0)
  }

  test("aging: TOTAL row equals sum of buckets and pct is 1.0") {
    val rows = views("antiguedad_cartera_mxn").collect()
    val total = rows.find(_.getString(0) == "TOTAL").get
    val buckets = rows.filter(_.getString(0) != "TOTAL")
    assert(total.getLong(2) == buckets.map(_.getLong(2)).sum)
    assert(total.getDouble(4) == 1.0)
  }

  test("kpis resumen has DSO/CEI/morosidad rows for both currencies") {
    Seq("kpis_resumen_mxn", "kpis_resumen_usd").foreach { k =>
      val kpis = views(k).collect().map(_.getString(0)).toSet
      assert(kpis == Set("DSO", "CEI", "INDICE_MOROSIDAD"), s"$k -> $kpis")
    }
  }

  test("concentracion: reference shape — netted saldos, A on top, forced 1.0, TOTAL row") {
    val all = views("concentracion_mxn").collect()
    val (totalRows, body) = all.partition(_.getAs[String]("NOMBRE_CLIENTE") == "TOTAL")
    assert(totalRows.length == 1, "exactly one TOTAL row")
    val total = totalRows.head
    assert(total.isNullAt(total.fieldIndex("PCT_ACUMULADO")))
    assert(total.isNullAt(total.fieldIndex("CLASIFICACION")))
    val bodySum = body.map(_.getAs[Double]("SALDO_PENDIENTE")).sum
    assert(math.abs(total.getAs[Double]("SALDO_PENDIENTE") - bodySum) < 1e-6,
      "TOTAL = sum of per-client netted saldos")
    // top body row (largest saldo) is class A; the last positive-share
    // cumulative is forced to exactly 1.0 on the final body row
    val sorted = body.sortBy(r => -r.getAs[Double]("SALDO_PENDIENTE"))
    assert(sorted.head.getAs[String]("CLASIFICACION") == "A")
    assert(body.map(_.getAs[Double]("PCT_ACUMULADO")).max == 1.0)
  }

  test("credit limit: alert levels are coherent with utilization") {
    val bad = views("limite_credito_mxn")
      .filter(col("ALERTA") === "NORMAL" && col("UTILIZACION_PCT") >= 0.7)
    assert(bad.count() == 0)
  }

  test("S10 serving layer: TTL-gated rebuilds, cached + SQL-addressable views") {
    var now = 0L
    val serving = new CxcServing(spark,
      build = () => CxcPipeline.run(spark, raw,
        CxcPipeline.Options(skipAudit = true, skipAnalytics = true, skipKpis = true,
          cacheViews = false)),
      ttlSeconds = 60, clock = () => now)
    val v1 = serving.view("movimientos_totales")
    assert(serving.builds == 1)
    assert(v1.storageLevel.useMemory, "served view must be materialized")
    // inside the TTL: same generation, no rebuild
    now = 59 * 1000L
    serving.view("facturas_abiertas")
    assert(serving.builds == 1)
    // registered for SQL
    assert(spark.sql("SELECT count(*) FROM movimientos_totales").collect()(0).getLong(0) ==
      v1.count())
    // past the TTL: first read swaps in a fresh generation
    now = 61 * 1000L
    serving.view("movimientos_totales")
    assert(serving.builds == 2)
    // manual invalidation hook
    serving.refresh()
    assert(serving.builds == 3)
  }

  test("S10 serving holds each frame once: the master once, reporte_cxc from its cache") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.storage.StorageLevel
    // a second persist of a cached plan is a no-op Spark only logs
    val recached = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new AbstractAppender("recache-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("already cached")) recached.incrementAndGet()
    }
    probe.start()
    val log = LogManager.getLogger(classOf[org.apache.spark.sql.execution.CacheManager])
      .asInstanceOf[Logger]
    log.addAppender(probe)
    // the CLI's report stage: CxcPipeline itself caches the master
    val serving = new CxcServing(spark, build = () => CxcPipeline.run(spark, raw,
      CxcPipeline.Options(skipAudit = true, skipAnalytics = true, skipKpis = true)))
    try {
      serving.refresh()
      val names = serving.viewNames
      names.foreach(v => serving.view(v).count())
      assert(recached.get == 0, "the master CxcPipeline cached was persisted again")
      val cm = spark.sharedState.cacheManager
      def cacheOf(df: DataFrame) =
        cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      // one in-memory copy per frame: reporte_cxc adds none
      assert(names.toSeq.flatMap(v => cacheOf(serving.view(v)))
        .map(_.cachedRepresentation.cacheBuilder).distinct.size == names.size - 1)
      val master = serving.view("movimientos_totales")
      val reporte = serving.view("reporte_cxc")
      assert(master.storageLevel.useMemory)
      assert(reporte.storageLevel == StorageLevel.NONE, "reporte_cxc must not be a second copy")
      val plan = reporte.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val cached = cacheOf(master)
      val scans = plan.collect { case m: InMemoryTableScanExec => m }
      assert(scans.size == 1 && cached.exists(
        _.cachedRepresentation.cacheBuilder eq scans.head.relation.cacheBuilder),
        s"reporte_cxc must read the master's InMemoryTableScan; plan was:\n$plan")
      assert(reporte.count() == master.count())
      // unpersist-on-refresh: the next generation replaces the last
      serving.refresh()
      assert(!master.storageLevel.useMemory, "the previous master must be unpersisted")
      assert(serving.view("movimientos_totales").storageLevel.useMemory)
    } finally {
      log.removeAppender(probe)
      serving.viewNames.foreach(v => serving.view(v).unpersist(blocking = false))
    }
  }

  test("P13 interactive filters: option lists + empty-selection identity") {
    val m = views("movimientos_totales")
    val cls = CxcFilters.clientes(m)
    assert(cls.nonEmpty && cls == cls.sorted && !cls.contains(null))
    assert(CxcFilters.porCliente(m, Nil).count() == m.count(),
      "empty selection must return the view unchanged")
    val one = CxcFilters.porCliente(m, Seq(cls.head))
    assert(one.count() > 0 && one.count() < m.count())
    assert(one.select("NOMBRE_CLIENTE").distinct().count() == 1)
    val vnd = CxcFilters.vendedores(m)
    assert(vnd.nonEmpty)
    assert(CxcFilters.porVendedor(m, vnd).count() ==
      m.filter(col("VENDEDOR").isNotNull).count())
  }

  test("three-workbook export mirrors the reference CLI layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wb").toString
    val paths = CxcWorkbooks.export(views, dir)
    assert(paths.map(new java.io.File(_).getName) ==
      Seq("00_auditoria_cxc.xlsx", "01_reporte_cxc.xlsx", "02_analisis_cxc.xlsx"))
    import scala.jdk.CollectionConverters._
    val zf = new java.util.zip.ZipFile(paths(1)) // 01_reporte
    val wb = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(zf.getInputStream(zf.getEntry("xl/workbook.xml")))
    val nl = wb.getElementsByTagName("sheet")
    val sheets = (0 until nl.getLength).map(i =>
      nl.item(i).getAttributes.getNamedItem("name").getNodeValue)
    assert(sheets == Seq("movimientos_abiertos_cxc", "movimientos_cerrados_cxc",
      "movimientos_totales_cxc", "registros_por_acreditar_cxc",
      "registros_cancelados_cxc", "registros_totales_cxc"),
      s"reference sheet order expected, got $sheets")
    zf.close()
  }

  test("skip flags drop the corresponding view families") {
    val lite = CxcPipeline.run(spark, raw,
      CxcPipeline.Options(skipAudit = true, skipAnalytics = true, skipKpis = true))
    assert(lite.contains("movimientos_totales"))
    assert(!lite.keys.exists(_.startsWith("auditoria")))
    assert(!lite.keys.exists(_.startsWith("kpis")))
    assert(!lite.keys.exists(_.startsWith("antiguedad")))
  }
}
