"""Seeded CxC master-table generator.

Writes one parquet file with the `CxcSchema` master columns (the row shape
of `graft.cxc.CxcFixture`) and returns the figures the output checks need,
computed from the generated rows alone:

- charges, about 40% of them with one linked partial or full payment, a
  few paid off by a second settlement payment;
- unlinked advances ('A'), cancelled rows, one null client, one duplicated
  charge, one IMPORTE outlier;
- MXN and USD (every tenth charge);
- Zipf-skewed clients and vendors.

Money is generated in integer cents so the expected open balance is exact.
"""

import datetime as dt
import itertools
import random

import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = dt.date(2024, 6, 1)  # CxcFixture.asOfDate, the pipeline's default
N_CHARGES = 25_000           # about 35k master rows with payments and edge cases
N_CLIENTS = 400
N_VENDORS = 24
ZIPF_S = 1.1
CONCEPTOS = ["FACTURA VENTA", "VENTA MOSTRADOR", "NOTA CARGO", "INTERESES"]

SCHEMA = pa.schema([
    ("DOCTO_CC_ID", pa.int64()), ("DOCTO_CC_ACR_ID", pa.int64()),
    ("FOLIO", pa.string()), ("TIPO_IMPTE", pa.string()),
    ("NATURALEZA_CONCEPTO", pa.string()), ("CONCEPTO", pa.string()),
    ("NOMBRE_CLIENTE", pa.string()), ("CLIENTE_ID", pa.int64()),
    ("TIPO_CLIENTE", pa.string()), ("VENDEDOR", pa.string()),
    ("FECHA_EMISION", pa.timestamp("us", tz="UTC")),
    ("FECHA_VENCIMIENTO", pa.timestamp("us", tz="UTC")),
    ("HORA", pa.timestamp("us", tz="UTC")),
    ("IMPORTE", pa.float64()), ("IMPUESTO", pa.float64()),
    ("MONEDA", pa.string()), ("CONDICIONES", pa.string()),
    ("ESTATUS_CLIENTE", pa.string()), ("CANCELADO", pa.string()),
    ("APLICADO", pa.string()), ("LIMITE_CREDITO", pa.float64()),
])


def zipf_picker(rnd, n, s=ZIPF_S):
    """Draw 0-based ranks with P(k) proportional to 1 / (k + 1)**s."""
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    ranks = list(range(n))
    return lambda: rnd.choices(ranks, cum_weights=cum)[0]


_EPOCH = dt.date(1970, 1, 1).toordinal()


def _micros(d, hour=0, minute=0, second=0):
    """UTC timestamp of a date and time of day, in epoch microseconds."""
    return (((d.toordinal() - _EPOCH) * 24 + hour) * 60 + minute) * 60_000_000 \
        + second * 1_000_000


def generate(seed, n_charges=N_CHARGES):
    """Rows (as dicts of cents and dates) plus the expected figures."""
    rnd = random.Random(seed)
    pick_client = zipf_picker(rnd, N_CLIENTS)
    pick_vendor = zipf_picker(rnd, N_VENDORS)
    tipo = [rnd.choice(["CREDITO", "CONTADO"]) for _ in range(N_CLIENTS)]
    limite = [rnd.randint(5_000_000, 30_000_000) for _ in range(N_CLIENTS)]

    rows = []
    charges = []
    for i in range(1, n_charges + 1):
        emision = AS_OF - dt.timedelta(days=1 + rnd.randrange(200))
        plazo = rnd.choice([30, 60, 90])
        c = pick_client()
        imp = rnd.randint(50_000, 5_000_000)
        row = dict(
            DOCTO_CC_ID=i, DOCTO_CC_ACR_ID=None, FOLIO=f"FAC-{i:06d}",
            TIPO_IMPTE="C", NATURALEZA_CONCEPTO="C",
            CONCEPTO=rnd.choice(CONCEPTOS), NOMBRE_CLIENTE=f"CLIENTE {c:04d}",
            CLIENTE_ID=c + 1, TIPO_CLIENTE=tipo[c],
            VENDEDOR=f"VENDEDOR {pick_vendor():02d}",
            FECHA_EMISION=emision, FECHA_VENCIMIENTO=emision + dt.timedelta(days=plazo),
            HORA=None if i % 7 == 0 else (8 + i % 10, i % 60, i % 60),
            IMPORTE=imp, IMPUESTO=round(imp * 0.16),
            MONEDA="USD" if i % 10 == 0 else "MXN",
            CONDICIONES=f"Credito {plazo} dias", ESTATUS_CLIENTE="ACTIVO",
            CANCELADO="N", APLICADO="S", LIMITE_CREDITO=limite[c])
        charges.append(row)
    rows.extend(charges)

    next_id = n_charges + 1000

    def derived(base, **kw):
        nonlocal next_id
        next_id += 1
        out = dict(base)
        out.update(DOCTO_CC_ID=next_id, **kw)
        return out

    paid = {}
    for ch in charges:
        if rnd.random() >= 0.4:
            continue
        frac = 0.3 + rnd.random() * 0.7
        if frac > 0.85:
            imp, tax = ch["IMPORTE"], ch["IMPUESTO"]
        else:
            imp = round(ch["IMPORTE"] * frac)
            tax = round(imp * 0.16)
        pay = derived(ch, DOCTO_CC_ACR_ID=ch["DOCTO_CC_ID"], TIPO_IMPTE="R",
                      NATURALEZA_CONCEPTO="R", CONCEPTO="COBRO VENTA",
                      IMPORTE=imp, IMPUESTO=tax,
                      FECHA_EMISION=AS_OF - dt.timedelta(days=rnd.randrange(60)))
        pay["FOLIO"] = f"REC-{pay['DOCTO_CC_ID']:06d}"
        paid[ch["DOCTO_CC_ID"]] = (imp, tax)
        rows.append(pay)

    # settle a few partially paid charges in full
    partial = [ch for ch in charges if ch["DOCTO_CC_ID"] in paid
               and paid[ch["DOCTO_CC_ID"]][0] < ch["IMPORTE"]]
    for ch in partial[:50]:
        imp0, tax0 = paid[ch["DOCTO_CC_ID"]]
        pay = derived(ch, DOCTO_CC_ACR_ID=ch["DOCTO_CC_ID"], TIPO_IMPTE="R",
                      NATURALEZA_CONCEPTO="R", CONCEPTO="COBRO VENTA",
                      IMPORTE=ch["IMPORTE"] - imp0, IMPUESTO=ch["IMPUESTO"] - tax0,
                      FECHA_EMISION=AS_OF - dt.timedelta(days=5))
        pay["FOLIO"] = f"REC-{pay['DOCTO_CC_ID']:06d}"
        rows.append(pay)

    for k in range(1, 31):
        ch = charges[rnd.randrange(len(charges))]
        rows.append(derived(ch, FOLIO=f"ANT-{k:04d}", TIPO_IMPTE="A",
                            NATURALEZA_CONCEPTO="R", CONCEPTO="ANTICIPO",
                            IMPORTE=100_000 * k, IMPUESTO=16_000 * k))
    for k in range(1, 51):
        ch = charges[rnd.randrange(len(charges))]
        rows.append(derived(ch, FOLIO=f"FAC-CANC-{k:03d}", CANCELADO="S"))
    rows.append(derived(charges[5], FOLIO="FAC-OUTL", CONCEPTO="FACTURA VENTA",
                        IMPORTE=50_000_000, IMPUESTO=8_000_000))
    rows.append(derived(charges[6], FOLIO="FAC-NULL", NOMBRE_CLIENTE=None,
                        TIPO_CLIENTE=None, VENDEDOR=None))
    rows.append(derived(charges[7]))  # duplicate of a charge under a new id

    return rows, expected(rows)


def expected(rows):
    """Figures the pipeline's views must reproduce, from the rows alone."""
    live = [r for r in rows if r["CANCELADO"] != "S" and r["TIPO_IMPTE"] != "A"]
    pagado = {}
    for r in live:
        if r["TIPO_IMPTE"] == "R" and r["DOCTO_CC_ACR_ID"] is not None:
            link = r["DOCTO_CC_ACR_ID"]
            pagado[link] = pagado.get(link, 0) + r["IMPORTE"] + r["IMPUESTO"]
    open_cents = {"MXN": 0, "USD": 0}
    open_charges = 0
    for r in live:
        if r["TIPO_IMPTE"] != "C":
            continue
        saldo = r["IMPORTE"] + r["IMPUESTO"] - pagado.get(r["DOCTO_CC_ID"], 0)
        if saldo > 0:
            open_cents[r["MONEDA"]] += saldo
            open_charges += 1
    return {
        "rows": len(rows),
        "movimientos": len(live),
        "open_charges": open_charges,
        "open_balance_cents": open_cents,
        "clients": N_CLIENTS,
        "vendors": N_VENDORS,
    }


def to_table(rows):
    def col(name, f=None):
        return [r[name] if f is None or r[name] is None else f(r[name]) for r in rows]

    cols = {f.name: col(f.name) for f in SCHEMA}
    for name in ("IMPORTE", "IMPUESTO", "LIMITE_CREDITO"):
        cols[name] = [v / 100.0 for v in cols[name]]
    for name in ("FECHA_EMISION", "FECHA_VENCIMIENTO"):
        cols[name] = col(name, _micros)
    cols["HORA"] = [None if r["HORA"] is None else _micros(r["FECHA_EMISION"], *r["HORA"])
                    for r in rows]
    return pa.table(cols, schema=SCHEMA)


def write_master(seed, path):
    """Generate and write the master parquet; returns the expected figures."""
    rows, exp = generate(seed)
    pq.write_table(to_table(rows), path)
    return exp
