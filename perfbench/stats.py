"""Statistics and failure accounting for the benchmark.

Pure functions over the raw record the JVM side writes, so each can be
tested without a Spark session (see test_perfbench.py).
"""

import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quantile(xs, q):
    """Nearest-rank quantile, 0 < q <= 1: the smallest sample with at
    least a share q of the samples at or below it."""
    if not xs:
        raise ValueError("quantile of no samples")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """Samples strictly above the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def highest_percentile(n, min_beyond=10,
                       ladder=(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)):
    """The highest percentile of the ladder with at least `min_beyond`
    samples above it, or None when even the median has fewer."""
    ok = [q for q in ladder if beyond(n, q) >= min_beyond]
    return max(ok) if ok else None


def open_loop(reads):
    """Latency (end - due) and lateness (start - due) of each read, in
    seconds. Timing from the due time charges a stall to every read queued
    behind it, not only to the read that stalled."""
    latency = [r["end"] - r["due"] for r in reads]
    late = [max(0.0, r["start"] - r["due"]) for r in reads]
    return latency, late


def passes(reads, n, failed_idx):
    """The closed loop's query runs grouped, in run order, into passes of n:
    the latency of each pass (its first run's due time to its last run's
    end) and the indices of the passes that hold a failed run."""
    bad = set(failed_idx)
    lat, failed = [], []
    for k in range(len(reads) // n):
        lat.append(reads[k * n + n - 1]["end"] - reads[k * n]["due"])
        if bad & set(range(k * n, k * n + n)):
            failed.append(k)
    return lat, failed


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are merged)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans, root_id):
    """Ids of a span and all its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


def read_failures(reads, bad_queries=()):
    """Indices of reads that threw or returned other rows than expected. A
    query run also fails with its query's oracle check (`bad_queries`)."""
    bad = []
    for i, r in enumerate(reads):
        if r["error"] is not None or r["exp_rows"] < 0 or r["view"] in bad_queries:
            bad.append(i)
        elif r["rows"] != r["exp_rows"] or r["fp"] != r["exp_fp"]:
            bad.append(i)
    return bad


def refresh_problems(rec, exp, workload):
    """Reasons the refresh failed: it threw, or its outputs disagree with
    the generator's own figures. The reports refresh builds indexes, whose
    contents the queries that probe them check."""
    probs = []
    ref = rec["refresh"]
    if ref["error"] is not None:
        probs.append(f"refresh threw: {ref['error']}")
    if workload == "reports":
        return probs
    if ref["views"] != 8:
        probs.append(f"{ref['views']} views, expected 8")
    if workload == "cxc_batch" and ref["pdf_pages"] <= 0:
        probs.append("pdf has no pages")
    f = rec["figures"]
    if not f:
        probs.append("no report views to check")
        return probs
    if f["registros_totales"] != exp["rows"]:
        probs.append(f"registros_totales {f['registros_totales']} != {exp['rows']}")
    if f["movimientos_totales"] != exp["movimientos"]:
        probs.append(f"movimientos_totales {f['movimientos_totales']} != {exp['movimientos']}")
    if f["open_charges"] != exp["open_charges"]:
        probs.append(f"open charges {f['open_charges']} != {exp['open_charges']}")
    for cur in ("MXN", "USD"):
        want = exp["open_balance_cents"][cur] / 100.0
        got = f["open_" + cur.lower()]
        # SALDO_FACTURA is rounded to cents per charge; summing doubles
        # drifts by far less than a cent over the view
        if got is None or abs(got - want) > 0.01:
            probs.append(f"open balance {cur} {got} != {want}")
    return probs


def account(rec, exp, workload, tail_q, bad_queries=()):
    """Failure accounting, the contract of `graft.Bench.timeQueries`: an
    operation that threw or failed its output check counts as failed, never
    as fast. Operations are the refresh and every read or query run.
    `bad_queries` failed their oracle check. Returns (attempted, failed,
    refresh problems, indices of failed reads).

    The open-loop reads must leave 10 samples beyond the tail percentile.
    The reports workload's closed loop runs whole passes over a fixed query
    list, so its percentiles are order statistics of that list, which the
    rule does not apply to."""
    reads = rec["reads"]
    problems = refresh_problems(rec, exp, workload)
    if workload != "reports" and beyond(len(reads), tail_q) < 10:
        problems.append(f"{len(reads)} reads leave fewer than 10 beyond the tail percentile")
    if not reads:
        problems.append("no reads")
    bad = read_failures(reads, bad_queries)
    return 1 + len(reads), (1 if problems else 0) + len(bad), problems, bad


def latency_with_failures(latency, failed_idx, penalty):
    """A failed read counts as missing every latency limit: it enters the
    percentiles at `penalty` (the run's wall time), never as fast."""
    bad = set(failed_idx)
    return [penalty if i in bad else x for i, x in enumerate(latency)]
