#!/usr/bin/env python3
"""Benchmark: one run of one workload, one JSON result line on stdout.

    python3 perfbench/run.py --workload cxc_batch --seed 1 --seconds 9 --trace 0

Run from the repository root. The first run compiles the program (see
build.py). Each run generates its seeded input (gen.py for the CxC master
table, gentables.py for the reports tables), starts one JVM with a Spark
session shaped like `graft.Bench`'s, refreshes once (the CxC views, or the
persisted indexes) and then reads for --seconds (filtered views, or report
queries). It checks every output, and prints
{"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The machine-state receipt goes to stderr and, with the spans of a traced
run, to .bench_work/runs/.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import build  # noqa: E402
import gen  # noqa: E402
import gentables  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cxc_batch", "cxc_dashboard", "reports")
# The CxC reads are open loop, 32 of them spread over --seconds: each view
# meets each filter kind twice, and p66 keeps 10 reads beyond it. In 9 s
# that is 3.6/s, about a third of what one thread serves (a warm filtered
# read takes about 95 ms). The reports queries run closed loop (rate 0).
CXC_READS = 32
HEAP = "4g"
RUN_TIMEOUT_S = 170  # the whole run, including the JVM
READ_TAIL_Q = 2 / 3  # read_ms_p66: the highest percentile with >= 10 of 32 reads beyond it

JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def nproc():
    return len(os.sched_getaffinity(0))


def jvm_command(classes, work, inp, result, args, cores):
    jars = build.spark_jars(work.parent.parent)
    return ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JDK17_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--input", str(inp),
            "--out", str(work / "out"), "--result", str(result),
            "--seconds", str(args.seconds),
            "--rate", str(0.0 if args.workload == "reports" else CXC_READS / args.seconds),
            "--cores", str(cores), "--trace", str(args.trace)]


def span_summary(spans):
    """Duration and self time per span family (the name up to ':')."""
    selfs = stats.self_times(spans)
    fam = {}
    for s in spans:
        f = fam.setdefault(s["name"].split(":")[0], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        f["n"] += 1
        f["total_s"] += s["end"] - s["start"]
        f["self_s"] += selfs[s["id"]]
    return fam


def spark_sum(spans, ids):
    keys = ("jobs", "tasks", "cpu_ns", "run_ms", "gc_ms",
            "shuffle_write_bytes", "input_bytes", "spill_bytes")
    tot = dict.fromkeys(keys, 0)
    by_id = {s["id"]: s for s in spans}
    for i in ids:
        c = by_id[i]["spark"]
        if c:
            for k in keys:
                tot[k] += c[k]
    return tot


def layer_metrics(rec, reads, cores):
    """Per-layer metrics from the spans of a traced run. A layer the
    workload does not touch reads 0."""
    spans = rec["spans"]
    if not spans:
        raise SystemExit("traced run recorded no spans")
    fam = span_summary(spans)
    refresh = next(s for s in spans if s["name"] == "refresh")
    ref_ids = stats.subtree(spans, refresh["id"])
    ref_wall = refresh["end"] - refresh["start"]
    rs = spark_sum(spans, ref_ids)
    read_roots = [s for s in spans if s["name"] == "read"]
    rd = spark_sum(spans, [i for s in read_roots for i in stats.subtree(spans, s["id"])])
    n_reads = max(1, len(read_roots))

    def durs(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def p50_ms(name):
        d = durs(name)
        return 1e3 * stats.median(d) if d else 0.0

    def total_s(family):
        return fam[family]["total_s"] if family in fam else 0.0

    materialize = [s for s in spans if ".write:" in s["name"] or ".warm:" in s["name"]]
    _, late = stats.open_loop(reads)
    mb = 1024.0 * 1024.0
    m = {
        "cxc.plan_s": (total_s("cxc.plan"), "s"),
        "cxc.materialize_s": (sum((s["end"] - s["start"] for s in materialize), 0.0), "s"),
        "output.pdf_s": (total_s("output.pdf"), "s"),
        "index.build_s": (total_s("index.build"), "s"),
    }
    for family in rec["indexes"]:
        m[f"index.{family}_s"] = (sum(durs(f"index.build:{family}"), 0.0), "s")
    for q in rec["queries"]:
        m[f"query.{q}_ms_p50"] = (p50_ms(f"query:{q}"), "ms")
    m.update({
        "read.view_ms_p50": (p50_ms("read.view"), "ms"),
        "read.filter_collect_ms_p50": (p50_ms("read.filter_collect"), "ms"),
        "read.late_ms_max": (1e3 * max(late) if late else 0.0, "ms"),
        "trace.refresh_s": (ref_wall, "s"),
        "trace.refresh_self_s": (stats.self_times(spans)[refresh["id"]], "s"),
        "spark.refresh.jobs": (rs["jobs"], "count"),
        "spark.refresh.tasks": (rs["tasks"], "count"),
        "spark.refresh.cpu_s": (rs["cpu_ns"] / 1e9, "s"),
        "spark.refresh.run_s": (rs["run_ms"] / 1e3, "s"),
        "spark.refresh.gc_s": (rs["gc_ms"] / 1e3, "s"),
        "spark.refresh.shuffle_write_mb": (rs["shuffle_write_bytes"] / mb, "MB"),
        "spark.refresh.input_mb": (rs["input_bytes"] / mb, "MB"),
        "spark.refresh.core_util": (rs["run_ms"] / 1e3 / (ref_wall * cores), "ratio"),
        "spark.read.jobs_per_read": (rd["jobs"] / n_reads, "count"),
        "spark.read.tasks_per_read": (rd["tasks"] / n_reads, "count"),
        "spark.read.cpu_ms_per_read": (rd["cpu_ns"] / 1e6 / n_reads, "ms"),
        "spark.read.input_mb_per_read": (rd["input_bytes"] / mb / n_reads, "MB"),
    })
    return m, fam


def make_input(workload, seed, work):
    """Write the run's seeded input; returns its path and the generator's
    expected figures (none for the reports tables: the oracle checks them)."""
    if workload == "reports":
        path = work / "tables"
        return path, gentables.write_tables(seed, path)
    path = work / "master.parquet"
    return path, gen.write_master(seed, path)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.time()
    receipt = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": nproc(), "heap": HEAP, "load_start": loadavg()}
    root = pathlib.Path.cwd()
    try:
        classes = build.build(root)
    except SystemExit as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    work = root / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        t = time.perf_counter()
        inp, exp = make_input(args.workload, args.seed, work)
        gen_s = time.perf_counter() - t
        result = work / "result.json"
        cores = nproc()
        cmd = jvm_command(classes, work, inp, result, args, cores)
        launch_ms = time.time() * 1e3
        left = RUN_TIMEOUT_S - (time.time() - t_start)
        try:
            r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=sys.stderr, stderr=sys.stderr, timeout=left)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] JVM still running after {RUN_TIMEOUT_S} s; killed",
                  file=sys.stderr)
            return 4
        if r.returncode != 0 or not result.exists():
            print(f"[perfbench] JVM exited {r.returncode} without a result", file=sys.stderr)
            return 5
        rec = json.loads(result.read_text())
        t = time.perf_counter()
        bad_queries = {q for q, why in oracle.check(inp, work / "out" / "check",
                                                    rec["oracle"]).items() if why} \
            if rec["oracle"] else set()
        oracle_s = time.perf_counter() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)

    reads = rec["reads"]
    attempted, failed, problems, bad_reads = stats.account(
        rec, exp, args.workload, READ_TAIL_Q, bad_queries)
    for i in bad_reads[:5]:
        print(f"[perfbench] read failed: {reads[i]}", file=sys.stderr)
    for p in problems:
        print(f"[perfbench] refresh failed: {p}", file=sys.stderr)

    refresh_s = rec["refresh"]["end"] - rec["refresh"]["start"]
    latency, late = stats.open_loop(reads) if reads else ([], [])
    wall_s = (rec["end_ms"] - rec["first_op_ms"]) / 1e3
    if args.workload == "reports":
        # the reports a user waits for are the whole list: a read is a pass
        latency, bad_samples = stats.passes(reads, len(rec["queries"]), bad_reads)
    else:
        bad_samples = bad_reads
    lat_ms = [1e3 * x for x in stats.latency_with_failures(latency, bad_samples, wall_s)] \
        or [1e3 * wall_s]
    receipt.update(load_end=loadavg(), canary_s=rec["canary_s"], gen_s=gen_s,
                   oracle_s=oracle_s, jvm_s=(time.time() * 1e3 - launch_ms) / 1e3,
                   checks_s=(rec["end_ms"] - rec["reads_end_ms"]) / 1e3,
                   reads=len(reads), latency_samples=len(lat_ms),
                   read_tail=stats.highest_percentile(len(lat_ms)),
                   builds_during_reads=rec["builds_during_reads"],
                   peak_rss_mb=rec["peak_rss_kb"] / 1024.0,
                   late_ms_max=1e3 * max(late) if late else None,
                   bad_queries=sorted(bad_queries),
                   service_ms={v: [round(1e3 * (r["end"] - r["start"])) for r in reads
                                   if r["view"] == v] for v in sorted({r["view"] for r in reads})})
    receipt["load_warn"] = receipt["load_start"] > receipt["nproc"] / 2

    if args.trace:
        layer, families = layer_metrics(rec, reads, cores)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        receipt["spans"] = families
    else:
        e2e = {
            "setup_s": ((rec["first_op_ms"] - launch_ms) / 1e3 - rec["canary_wall_s"], "s"),
            "refresh_s": (refresh_s, "s"),
            "refresh_cpu_s": (rec["refresh"]["cpu"], "s"),
            "read_ms_p50": (stats.median(lat_ms), "ms"),
            "read_ms_p66": (stats.quantile(lat_ms, READ_TAIL_Q), "ms"),
            "heap_live_mb": (rec["live_heap_bytes"] / 2**20, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    runs = root / ".bench_work" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    side = {"receipt": receipt, "metrics": metrics, "problems": problems,
            "spans": rec["spans"]}
    (runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(side, indent=1))
    print("[perfbench] receipt " + json.dumps(receipt), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
