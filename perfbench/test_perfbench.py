"""Self-tests of the benchmark's statistics, failure accounting, input
generators and oracle check. No Spark needed:

    python3 perfbench/test_perfbench.py
"""

import sys

sys.dont_write_bytecode = True

import pathlib  # noqa: E402
import tempfile  # noqa: E402
import unittest  # noqa: E402

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import gen  # noqa: E402
import gentables  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

EXP = {"rows": 100, "movimientos": 90, "open_charges": 40,
       "open_balance_cents": {"MXN": 123456, "USD": 789}}


def read(due, start, end, rows=3, fp="7", exp_rows=3, exp_fp="7", error=None):
    return {"view": "facturas_abiertas", "kind": "cliente", "sel": "CLIENTE 0001",
            "due": due, "start": start, "end": end, "error": error,
            "rows": rows, "fp": fp, "exp_rows": exp_rows, "exp_fp": exp_fp}


def query_run(q, start, end, fp="5", exp_fp="5", error=None):
    return {"view": q, "kind": "query", "sel": "", "due": start, "start": start,
            "end": end, "error": error, "rows": 4, "fp": fp, "exp_rows": 4, "exp_fp": exp_fp}


def record(reads, **refresh):
    ref = {"start": 0.0, "end": 5.0, "cpu": 9.0, "error": None, "views": 8, "pdf_pages": 2}
    ref.update(refresh)
    return {"refresh": ref, "reads": reads,
            "figures": {"registros_totales": 100, "movimientos_totales": 90,
                        "open_charges": 40, "open_mxn": 1234.56, "open_usd": 7.89}}


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quantile_is_nearest_rank(self):
        xs = list(range(1, 31))
        self.assertEqual(stats.quantile(xs, 2 / 3), 20)
        self.assertEqual(stats.quantile(xs, 0.5), 15)
        self.assertEqual(stats.quantile(xs, 1.0), 30)
        self.assertEqual(stats.quantile([5], 0.99), 5)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(stats.beyond(30, 2 / 3), 10)
        self.assertEqual(stats.beyond(40, 0.75), 10)
        self.assertEqual(stats.highest_percentile(40), 0.75)
        self.assertEqual(stats.highest_percentile(100), 0.9)
        self.assertEqual(stats.highest_percentile(1000), 0.99)
        self.assertIsNone(stats.highest_percentile(19))


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # the second read was due at 1.0 but could start only at 1.5,
        # behind a slow first read: its latency includes the wait
        lat, late = stats.open_loop([read(0.0, 0.0, 1.5), read(1.0, 1.5, 1.6)])
        self.assertAlmostEqual(lat[0], 1.5)
        self.assertAlmostEqual(lat[1], 0.6)
        self.assertEqual(late[0], 0.0)
        self.assertAlmostEqual(late[1], 0.5)

    def test_failed_read_is_never_fast(self):
        lat = stats.latency_with_failures([0.1, 0.2, 0.3], [0], penalty=9.0)
        self.assertEqual(lat, [9.0, 0.2, 0.3])
        self.assertEqual(stats.quantile(lat, 1.0), 9.0)


class Spans(unittest.TestCase):
    SPANS = [
        {"id": 1, "name": "refresh", "parent": 0, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "cxc.plan", "parent": 1, "start": 0.5, "end": 3.0},
        {"id": 3, "name": "cxc.report.write:a", "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "name": "cxc.report.write:b", "parent": 1, "start": 5.0, "end": 9.0},
        {"id": 5, "name": "inner", "parent": 3, "start": 4.0, "end": 5.0},
    ]

    def test_self_time_subtracts_covered_interval(self):
        st = stats.self_times(self.SPANS)
        # children cover 0.5..9.0 (overlap of 3 and 4 merged): 1.5 s left
        self.assertAlmostEqual(st[1], 1.5)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_self_times_add_up_to_the_root(self):
        st = stats.self_times(self.SPANS[:3])
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_subtree(self):
        self.assertEqual(sorted(stats.subtree(self.SPANS, 3)), [3, 5])
        self.assertEqual(sorted(stats.subtree(self.SPANS, 1)), [1, 2, 3, 4, 5])


class Accounting(unittest.TestCase):
    def reads(self, n=30):
        return [read(i / 3, i / 3, i / 3 + 0.1) for i in range(n)]

    def test_clean_run(self):
        attempted, failed, problems, bad = stats.account(
            record(self.reads()), EXP, "cxc_batch", 2 / 3)
        self.assertEqual((attempted, failed, problems, bad), (31, 0, [], []))

    def test_planted_failure_and_wrong_output_both_count(self):
        rs = self.reads()
        rs[4] = read(4 / 3, 4 / 3, 4 / 3 + 0.01, rows=0, error="java.lang.RuntimeException")
        rs[9] = read(3.0, 3.0, 3.1, rows=3, fp="8")         # same count, other rows
        rs[12] = read(4.0, 4.0, 4.1, rows=2)                # missing a row
        attempted, failed, _, bad = stats.account(record(rs), EXP, "cxc_batch", 2 / 3)
        self.assertEqual(bad, [4, 9, 12])
        self.assertEqual((attempted, failed), (31, 3))

    def test_refresh_that_throws_or_is_wrong_fails(self):
        for rec in (record(self.reads(), error="boom"),
                    record(self.reads(), views=7),
                    record(self.reads(), pdf_pages=0)):
            _, failed, problems, _ = stats.account(rec, EXP, "cxc_batch", 2 / 3)
            self.assertEqual(failed, 1, problems)
        rec = record(self.reads())
        rec["figures"]["open_usd"] = 7.91
        _, failed, problems, _ = stats.account(rec, EXP, "cxc_dashboard", 2 / 3)
        self.assertEqual(failed, 1)
        self.assertIn("USD", problems[0])

    def test_too_few_reads_fail_the_run(self):
        _, failed, problems, _ = stats.account(record(self.reads(20)), EXP, "cxc_batch", 2 / 3)
        self.assertEqual(failed, 1, problems)


class ReportsAccounting(unittest.TestCase):
    def runs(self):
        return [query_run(q, i, i + 0.5) for i, q in enumerate(["qa", "qb", "qc"] * 2)]

    def rec(self, runs, **refresh):
        ref = {"start": 0.0, "end": 5.0, "cpu": 9.0, "error": None, "views": 3, "pdf_pages": 0}
        ref.update(refresh)
        return {"refresh": ref, "reads": runs, "figures": {}}

    def test_clean_run_needs_no_tail_samples(self):
        self.assertEqual(stats.account(self.rec(self.runs()), {}, "reports", 2 / 3),
                         (7, 0, [], []))

    def test_oracle_mismatch_fails_every_run_of_that_query(self):
        _, failed, _, bad = stats.account(self.rec(self.runs()), {}, "reports", 2 / 3, {"qb"})
        self.assertEqual((failed, bad), (2, [1, 4]))

    def test_run_that_disagrees_with_the_checked_run_fails(self):
        rs = self.runs()
        rs[2] = query_run("qc", 2, 2.5, fp="6")
        rs[3] = query_run("qa", 3, 3.1, error="java.lang.IllegalStateException")
        _, failed, _, bad = stats.account(self.rec(rs), {}, "reports", 2 / 3)
        self.assertEqual((failed, bad), (2, [2, 3]))

    def test_a_read_is_a_pass(self):
        lat, failed = stats.passes(self.runs(), 3, [4])
        self.assertEqual(lat, [2.5, 5.5 - 3])
        self.assertEqual(failed, [1])
        self.assertEqual(stats.passes(self.runs()[:5], 3, []), ([2.5], []))

    def test_refresh_that_throws_fails(self):
        _, failed, problems, _ = stats.account(self.rec(self.runs(), error="boom"), {}, "reports",
                                               2 / 3)
        self.assertEqual(failed, 1, problems)


class Oracle(unittest.TestCase):
    def test_exact_match_and_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            d = pathlib.Path(d)
            gentables.write_tables(1, d / "t")
            (d / "c" / "q").mkdir(parents=True)
            got = gentables.tables(1)["region"].select(["r_name", "r_regionkey"])
            gentables.pq.write_table(got, d / "c" / "q" / "part-0.parquet")
            res = oracle.check(d / "t", d / "c", {
                "q": "SELECT r_regionkey, r_name FROM region ORDER BY r_name DESC",
                "q_other": "SELECT 1 AS x"})
        self.assertIsNone(res["q"])
        self.assertIsNotNone(res["q_other"])
        with tempfile.TemporaryDirectory() as d:
            d = pathlib.Path(d)
            gentables.write_tables(1, d / "t")
            res = oracle.check(d / "t", d / "c", {"q": "SELECT r_regionkey, r_name FROM region",
                                                  "q_none": ""})
        self.assertIsNotNone(res["q"])  # no output written
        self.assertIsNotNone(res["q_none"])


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.write_master(3, f"{d}/a.parquet")
            b = gen.write_master(3, f"{d}/b.parquet")
            c = gen.write_master(4, f"{d}/c.parquet")
            ta = gen.pq.read_table(f"{d}/a.parquet")
            self.assertTrue(ta.equals(gen.pq.read_table(f"{d}/b.parquet")))
            self.assertFalse(ta.equals(gen.pq.read_table(f"{d}/c.parquet")))
        self.assertEqual(a, b)
        self.assertTrue(30_000 < a["rows"] < 40_000)

    def test_rows_have_the_fixture_shape(self):
        rows, exp = gen.generate(5, n_charges=2000)
        kinds = {r["TIPO_IMPTE"] for r in rows}
        self.assertEqual(kinds, {"C", "R", "A"})
        self.assertTrue(any(r["CANCELADO"] == "S" for r in rows))
        self.assertTrue(any(r["NOMBRE_CLIENTE"] is None for r in rows))
        self.assertTrue(any(r["MONEDA"] == "USD" for r in rows))
        charges = [r for r in rows if r["TIPO_IMPTE"] == "C" and r["CANCELADO"] == "N"]
        linked = {r["DOCTO_CC_ACR_ID"] for r in rows if r["TIPO_IMPTE"] == "R"}
        self.assertTrue(0.3 < len(linked) / len(charges) < 0.5)
        unpaid = [r for r in charges if r["DOCTO_CC_ID"] not in linked]
        # every unpaid charge is open; partly paid ones add to both figures
        self.assertTrue(len(unpaid) < exp["open_charges"] < len(charges))
        self.assertGreater(sum(exp["open_balance_cents"].values()),
                           sum(r["IMPORTE"] + r["IMPUESTO"] for r in unpaid))

    def test_client_skew(self):
        rows, _ = gen.generate(6, n_charges=5000)
        counts = {}
        for r in rows:
            if r["TIPO_IMPTE"] == "C":
                counts[r["NOMBRE_CLIENTE"]] = counts.get(r["NOMBRE_CLIENTE"], 0) + 1
        top = max(counts.values())
        self.assertGreater(top, 20 * sorted(counts.values())[len(counts) // 2])


class Tables(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = gentables.tables(7), gentables.tables(7), gentables.tables(8)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_columns_of_the_test_data(self):
        t = gentables.tables(1)
        self.assertEqual(t["lineitem"].schema.names,
                         ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"])
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")
        self.assertEqual(t["lineitem"].num_rows, gentables.N_LINEITEMS)

    def test_near_copies_and_unit_vectors(self):
        t = gentables.tables(2)
        texts = t["documents"].column("text").to_pylist()
        self.assertEqual(sum("dup" in x.split() for x in texts), gentables.N_DOCS // 20)
        v = t["embeddings"].column("embedding").to_pylist()[0]
        self.assertAlmostEqual(sum(x * x for x in v), 1.0, places=5)


if __name__ == "__main__":
    unittest.main()
