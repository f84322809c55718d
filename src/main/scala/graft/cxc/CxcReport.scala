package graft.cxc

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftConf
import graft.operators.{Buckets, Checkpoints, Pareto, ZScore}
import graft.operators.Rounding.dround

import CxcSchema._

/** The operational report — the dependency root of analytics/KPIs
  * (SURVEY §3.1 PASO 2; /root/reference/src/reporte_cxc.py).
  * Every stage is DataFrame => DataFrame; `asOf` replaces wall-clock.
  */
object CxcReport {

  /** Aging / collection bucket configs (config/settings.py:63-81) with
    * reporte's empty-string out-of-range default (SURVEY §7.6.7).
    */
  private val aging = GraftConf.agingRanges
  private val collection = GraftConf.collectionRanges

  /** P6: unapplied advances minus cancelled
    * (/root/reference/src/reporte_cxc.py:311-320).
    */
  def porAcreditar(df: DataFrame): DataFrame =
    df.filter(isAnticipo(df) && !col("_CANCELADO"))

  /** P4: drop cancelled + advances → the working movement set
    * (/root/reference/src/reporte_cxc.py:322-331).
    */
  def movimientos(df: DataFrame): DataFrame =
    df.filter(!col("_CANCELADO") && !isAnticipo(df))

  /** P5: only cancelled (main.py:190-199). */
  def cancelados(df: DataFrame): DataFrame = df.filter(col("_CANCELADO"))

  /** A2/J2 — SALDO_FACTURA: charge monto − Σ linked payments; charges
    * only, unlinked charges keep the full amount, non-charges null
    * (/root/reference/src/reporte_cxc.py:338-360).
    */
  def withSaldoFactura(df: DataFrame): DataFrame = {
    val pays = df.filter(isAbono(df) && col("DOCTO_CC_ACR_ID").isNotNull)
      .groupBy(col("DOCTO_CC_ACR_ID").as("_link"))
      .agg(sum(col("_MONTO")).as("_pagado"))
    val joined = df.join(pays, df("DOCTO_CC_ID") === pays("_link"), "left")
    joined
      .withColumn("SALDO_FACTURA",
        when(isCargo(joined),
          dround(col("_MONTO") - coalesce(col("_pagado"), lit(0.0)), 2)))
      .drop("_link", "_pagado")
  }

  /** F3/F2 + J3 — cycle metrics: DELTA_RECAUDO (last payment vs due, paid
    * charges), DELTA_MORA (asOf vs due, open charges), both bucketized
    * with reporte's "" default (/root/reference/src/reporte_cxc.py:380-435).
    */
  def withCycleMetrics(df: DataFrame, asOf: LocalDate): DataFrame = {
    val lastPay = df.filter(isAbono(df) && col("DOCTO_CC_ACR_ID").isNotNull)
      .groupBy(col("DOCTO_CC_ACR_ID").as("_lp_link"))
      .agg(max(to_date(col("FECHA_EMISION"))).as("_ULTIMA_FECHA_PAGO"))
    val j = df.join(lastPay, df("DOCTO_CC_ID") === lastPay("_lp_link"), "left")
    val paid = isCargo(j) && col("SALDO_FACTURA") === 0
    val open = isCargo(j) && col("SALDO_FACTURA") > 0
    j
      .withColumn("DELTA_RECAUDO",
        when(paid, datediff(col("_ULTIMA_FECHA_PAGO"), to_date(col("FECHA_VENCIMIENTO")))))
      .withColumn("CATEGORIA_RECAUDO",
        when(paid, Buckets.bucketize(col("DELTA_RECAUDO"), collection, "")))
      .withColumn("DELTA_MORA",
        when(open, datediff(lit(asOf.toString).cast("date"), to_date(col("FECHA_VENCIMIENTO")))))
      .withColumn("CATEGORIA_MORA",
        when(open, Buckets.bucketize(col("DELTA_MORA"), aging, "")))
      .drop("_lp_link")
  }

  /** W1 — SALDO_CLIENTE: signed running balance per client over the
    * reference's 4-key order, nulls first
    * (/root/reference/src/reporte_cxc.py:362-373). The master grain is
    * 1:N per DOCTO_CC_ID (IMPORTES/VENCIMIENTOS fan-out, SURVEY §2.3
    * J1), so (ACR, DOCTO, FECHA) alone is not a total order — FOLIO and
    * _MONTO complete it (SURVEY §7.6.1): any rows still tied are
    * identical in every window-relevant column, where order is
    * output-invariant for a running sum.
    */
  def withSaldoCliente(df: DataFrame): DataFrame = {
    val signed = when(isCargo(df), col("_MONTO"))
      .when(isAbono(df), -col("_MONTO"))
      .otherwise(0.0)
    val w = Window
      .partitionBy("NOMBRE_CLIENTE")
      .orderBy(
        col("DOCTO_CC_ACR_ID").asc_nulls_first,
        col("DOCTO_CC_ID").asc_nulls_first,
        col("FECHA_EMISION").asc_nulls_first,
        col("FOLIO").asc_nulls_first,
        col("_MONTO").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("SALDO_CLIENTE", dround(sum(signed).over(w), 2))
  }

  /** W3 — _BAND_GROUP: alternating 0/1 per settlement group in display
    * order (/root/reference/src/reporte_cxc.py:442-462).
    */
  def withBandGroups(df: DataFrame): DataFrame =
    // display-order banding is global by definition (SURVEY §7.6.6);
    // the dense rank goes through Pareto's two-phase dispatch so a
    // fact-scale frame range-partitions instead of single-partitioning
    Pareto.denseRankBy(df,
        Seq(col("NOMBRE_CLIENTE").asc_nulls_first,
          when(isCargo(df), col("DOCTO_CC_ID"))
            .otherwise(coalesce(col("DOCTO_CC_ACR_ID"), col("DOCTO_CC_ID")))
            .asc_nulls_first),
        "_BAND_RANK")
      .withColumn("_BAND_GROUP", (col("_BAND_RANK") % 2).cast("int"))
      .drop("_BAND_RANK")

  /** A16 — z-score outliers on sales IMPORTE, DELTA_RECAUDO, DELTA_MORA
    * (threshold 3.0, the reference's reporte_cxc.py:219-281): the three
    * statistics come from one aggregate over `df`.
    */
  def withZScores(df: DataFrame): DataFrame =
    ZScore.withZScores(df, Seq(
      (when(esVenta(df), col("IMPORTE")), "ZSCORE_IMPORTE", "ATIPICO_IMPORTE"),
      (col("DELTA_RECAUDO"), "ZSCORE_DELTA_RECAUDO", "ATIPICO_DELTA_RECAUDO"),
      (col("DELTA_MORA"), "ZSCORE_DELTA_MORA", "ATIPICO_DELTA_MORA")), 3.0)

  /** P3 — the reference's fixed per-view column lists
    * (/root/reference/src/reporte_cxc.py:57-149).
    */
  val columnasReporte: Seq[String] = Seq(
    "NOMBRE_CLIENTE", "MONEDA", "CONDICIONES", "ESTATUS_CLIENTE",
    "CONCEPTO", "FOLIO", "FECHA_EMISION", "FECHA_VENCIMIENTO",
    "DESCRIPCION", "TIPO_IMPTE", "CARGOS", "ABONOS", "IMPORTE",
    "IMPUESTO", "SALDO_FACTURA", "SALDO_CLIENTE", "DELTA_RECAUDO",
    "CATEGORIA_RECAUDO", "DELTA_MORA", "CATEGORIA_MORA")

  val columnasPorAcreditar: Seq[String] = columnasReporte.filterNot(Set(
    "CONDICIONES", "FECHA_VENCIMIENTO", "CARGOS", "IMPUESTO",
    "SALDO_FACTURA", "SALDO_CLIENTE", "DELTA_RECAUDO",
    "CATEGORIA_RECAUDO", "DELTA_MORA", "CATEGORIA_MORA"))

  val columnasFacturasAbiertas: Seq[String] = columnasReporte.filterNot(Set(
    "TIPO_IMPTE", "SALDO_CLIENTE", "DELTA_RECAUDO", "CATEGORIA_RECAUDO"))

  val columnasFacturasCerradas: Seq[String] = columnasReporte.filterNot(Set(
    "TIPO_IMPTE", "SALDO_CLIENTE", "DELTA_MORA", "CATEGORIA_MORA"))

  /** `_seleccionar_columnas` (/root/reference/src/reporte_cxc.py:305-307):
    * list ∩ present, in list order; `_BAND_GROUP` carried through when
    * the reference appends it (reporte_cxc.py:173-180, 184-186).
    */
  def seleccionarColumnas(df: DataFrame, columnas: Seq[String],
      keepBand: Boolean = false): DataFrame = {
    val present = columnas.filter(df.columns.contains) ++
      (if (keepBand && df.columns.contains("_BAND_GROUP")) Seq("_BAND_GROUP") else Nil)
    df.select(present.map(col): _*)
  }

  /** Full report (PASO 2): the named views of
    * /root/reference/src/reporte_cxc.py:195-201 plus the full-width
    * master "movimientos_totales" every downstream stage consumes.
    *
    * The reference builds one master frame and slices the views from
    * it (main.py `run_pipeline`); here the two frames every view shares
    * are cut ONCE per refresh with [[Checkpoints.cut]]: the normalized
    * input and `base` (the working movements with SALDO_FACTURA, the
    * cycle metrics and the per-client SALDO_CLIENTE window — two joins
    * and a window). Without the cuts each view's plan re-derives that
    * chain, and every band-group dispatch plans against it.
    * `reporte_cxc` is a projection of the master: the master only
    * appends z-score columns to `withBandGroups(base)`, so the rows,
    * their order and the band groups are the same, and a cached master
    * serves both.
    *
    * Mirroring the reference, each extracted view is the charge set
    * UNION its linked 'R' payments, and band groups are recomputed per
    * view on the concatenated rows (reporte_cxc.py:481-482, 504-505):
    * a view's alternation follows its own display order, so it cannot
    * be read off the master's. Only the master carries z-scores.
    */
  def run(raw: DataFrame, asOf: LocalDate): Map[String, DataFrame] = {
    val df = Checkpoints.cut(normalize(raw))
    val base = Checkpoints.cut(
      withSaldoCliente(withCycleMetrics(withSaldoFactura(movimientos(df)), asOf)))
    val abiertas = base.filter(isCargo(base) && col("SALDO_FACTURA") > 0)
    val cerradas = base.filter(isCargo(base) && col("SALDO_FACTURA") === 0)
    // payment legs are TIPO_IMPTE == 'R' only (reporte_cxc.py:479, 502):
    // unknown movement types linked to a charge must not leak in
    def pagosDe(charges: DataFrame): DataFrame = base
      .filter(isAbono(base))
      .join(charges.select(col("DOCTO_CC_ID").as("_link_id")),
        base("DOCTO_CC_ACR_ID") === col("_link_id"), "left_semi")
    val master = withZScores(withBandGroups(base))
    Map(
      "movimientos_totales" -> master,
      "reporte_cxc" -> seleccionarColumnas(master, columnasReporte, keepBand = true),
      "facturas_abiertas" -> seleccionarColumnas(
        withBandGroups(abiertas.unionByName(pagosDe(abiertas))),
        columnasFacturasAbiertas, keepBand = true),
      "facturas_cerradas" -> seleccionarColumnas(
        withBandGroups(cerradas.unionByName(pagosDe(cerradas))),
        columnasFacturasCerradas, keepBand = true),
      "por_acreditar" -> seleccionarColumnas(porAcreditar(df), columnasPorAcreditar),
      // full-width twins of main.py:537-546: the projected views are the
      // report output; analytics consume these (main.py:570-576)
      "registros_totales" -> withBandGroups(df),
      "registros_por_acreditar" -> withBandGroups(porAcreditar(df)),
      "registros_cancelados" -> withBandGroups(cancelados(df)),
    )
  }
}
