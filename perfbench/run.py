#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload star_query --seed 1 --seconds 10 --trace 0

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed (perfbench/gen.py), runs the workload in one JVM on
local[<cores>], checks every output (perfbench/check.py), and prints one JSON
object as the last line of stdout: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. A line before it records what makes runs comparable (seed,
cores, heap, load, commit, tail percentile and sample count). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import decimal
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    # scale factor of the generated inputs, and for the open loop the
    # seconds between batches
    "star_query": {"sf": 0.01, "tables": ["region", "nation", "customer", "supplier", "part",
                                           "orders", "lineitem", "events", "documents"]},
    "ingest_upsert": {"sf": 0.05, "tables": ["events"], "interval": 6.5},
}
# a fixed heap and young generation, so resident memory does not follow the
# collector's adaptive sizing from run to run
HEAP = "3g"
YOUNG = "768m"
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
EVENT_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
CENT = decimal.Decimal("0.01")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def commit_id():
    """The commit the checkout was made from, when git can tell."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def logical_bytes(table):
    """Bytes of the table's values: fixed-width types at their width,
    strings at their UTF-8 length, lists at the sum of their elements."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def col_bytes(arr, typ):
        if pa.types.is_string(typ) or pa.types.is_binary(typ):
            return int(pc.sum(pc.binary_length(arr)).as_py() or 0)
        if pa.types.is_list(typ):
            return col_bytes(pc.list_flatten(arr), typ.value_type)
        return (len(arr) - arr.null_count) * typ.bit_width // 8
    return sum(col_bytes(table.column(i), f.type) for i, f in enumerate(table.schema))


def tail(latencies):
    """(percentile, value, samples beyond it): the highest of a fixed ladder
    of percentiles with at least ten samples beyond it, nearest-rank. Below
    40 samples no rung has ten beyond it; then it is the upper quartile,
    interpolated between the samples around it."""
    xs = sorted(latencies)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            k = -(-int(p * n) // 100) - 1
            return p, xs[k], n - k - 1
    q3 = statistics.quantiles(xs, n=4, method="inclusive")[2] if n > 1 else xs[0]
    return 75.0, q3, sum(x > q3 for x in xs)


# --- inputs -------------------------------------------------------------

def make_inputs(workload, seed, seconds, work):
    import gen
    spec = WORKLOADS[workload]
    data = os.path.join(work, "data")
    gen.write(seed, spec["sf"], data, spec["tables"])
    if workload == "ingest_upsert":
        cut_batches(seed, seconds, spec["interval"], data, os.path.join(work, "batches"))
    return data


def cut_batches(seed, seconds, interval, data, out):
    """Split `events` by the seed into an initial load (20%), a warm-up
    batch and one batch per `interval` that starts in the window. Every
    batch spans the whole time range, so batches arrive out of time order
    and share users."""
    import numpy as np
    import pyarrow.parquet as pq
    events = pq.read_table(os.path.join(data, "events.parquet"))
    n = max(1, math.ceil(seconds / interval))
    slot = np.random.default_rng(seed + 1).integers(0, 5 * (n + 1), events.num_rows)
    batch = np.where(slot < n + 1, -1, (slot - (n + 1)) % (n + 1))
    os.makedirs(out)
    pq.write_table(events.filter(batch == -1), os.path.join(out, "initial.parquet"))
    pq.write_table(events.filter(batch == n), os.path.join(out, "warm.parquet"))
    for b in range(n):
        pq.write_table(events.filter(batch == b), os.path.join(out, f"b{b:05d}.parquet"))


# --- the JVM ------------------------------------------------------------

def run_jvm(args, work, data, deadline):
    import build
    result = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--sf", str(WORKLOADS[args.workload]["sf"]),
            "--data", data, "--work", work, "--out", result])
    if args.workload == "ingest_upsert":
        cmd += ["--batches", os.path.join(work, "batches"),
                "--interval", str(WORKLOADS[args.workload]["interval"])]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.monotonic()))
        except BaseException as e:  # time out, or the runner itself is stopped
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError("the workload JVM did not finish in time")
            raise
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"the workload JVM exited with {proc.returncode}")
    with open(result) as fh:
        return json.load(fh)


# --- checks and metrics ----------------------------------------------------

def check_closed(res, oracle):
    """Check every op against its oracle; returns the failed op ids."""
    import check
    failed = set()
    for op in res["ops"]:
        if op["error"] is not None:
            failed.add(op["id"])
            continue
        try:
            ok = check.matches(op, oracle.fingerprint(op["oracle"]))
        except Exception as e:  # an oracle that cannot run fails the op
            log(f"oracle for {op['name']} failed: {e}")
            ok = False
        if not ok:
            log(f"op {op['id']} {op['name']}: output differs from the oracle")
            failed.add(op["id"])
    return failed


def closed_metrics(res, data, window):
    """Metrics of round 0 of the window: the same op set in every run,
    however many rounds fit in it."""
    import pyarrow.parquet as pq
    ops = [o for o in res["ops"] if o["window"] == window and o["round"] == 0]
    lat = [o["wall_s"] for o in ops]
    span = max(o["start_s"] + o["wall_s"] for o in ops) - min(o["start_s"] for o in ops)
    live = sum(logical_bytes(pq.read_table(os.path.join(data, f"{t}.parquet")))
               for t in ("orders", "lineitem"))
    return lat, len(ops) / span, sum(o["cpu_s"] for o in ops) / len(ops), res["lake_bytes"] / live


class Model:
    """Latest-wins replay of the landed batches, minus erased users."""

    def __init__(self):
        self.latest = {}
        self.totals = {}
        self.feed = []

    def apply(self, rows):
        for r in rows:
            self.feed.append(r)
            u = r["user_id"]
            cur = self.latest.get(u)
            if cur is None or (r["ts"], r["event_id"]) > (cur["ts"], cur["event_id"]):
                self.latest[u] = r
            t = self.totals.setdefault(u, [0, decimal.Decimal(0)])
            t[0] += 1
            t[1] += cents(r["value"])

    def erase(self, users):
        for u in users:
            self.latest.pop(u, None)
            self.totals.pop(u, None)

    def dashboard(self):
        d = {}
        for r in self.latest.values():
            e = d.setdefault(r["event_type"], [0, decimal.Decimal(0)])
            e[0] += 1
            e[1] += cents(r["value"])
        return sorted([k, v[0], float(v[1])] for k, v in d.items())


def cents(v):
    return decimal.Decimal(repr(v)).quantize(CENT, rounding=decimal.ROUND_HALF_UP)


def check_ingest(res, work):
    """Replay each window's epochs through the model; returns per-window
    (failed batch ids, failed final tables, live logical bytes)."""
    import check
    import pyarrow as pa
    import pyarrow.parquet as pq
    bdir = os.path.join(work, "batches")
    rows = {f: pq.read_table(os.path.join(bdir, f)).to_pylist()
            for f in os.listdir(bdir) if f.endswith(".parquet")}
    out = []
    for w in res["windows"]:
        m = Model()
        m.apply(rows["initial.parquet"])
        failed = set()
        for e in sorted(w["epochs"], key=lambda e: e["epoch"]):
            for f in e["files"]:
                m.apply(rows[f])
            m.erase(e["erased"])
            if sorted(e["dashboard"]) != m.dashboard():
                log(f"{w['name']} epoch {e['epoch']}: dashboard differs from the model")
                failed.update(e["batches"])
        failed.update(b["batch"] for b in w["batches"] if b["fresh_s"] is None)
        want = {
            "feed": check.fingerprint(EVENT_COLUMNS, ([r[c] for c in EVENT_COLUMNS] for r in m.feed)),
            "user_latest": check.fingerprint(
                EVENT_COLUMNS, ([r[c] for c in EVENT_COLUMNS] for r in m.latest.values())),
            "user_totals": check.fingerprint(
                ["user_id", "cnt", "total"], ([u, c, t] for u, (c, t) in m.totals.items()))}
        bad_tables = [t for t, fp in want.items() if not check.matches(w["final"][t], fp)]
        for t in bad_tables:
            log(f"{w['name']}: final {t} differs from the model")
        live = logical_bytes(pa.Table.from_pylist(m.feed)) + \
            logical_bytes(pa.Table.from_pylist(list(m.latest.values()))) + 24 * len(m.totals)
        out.append((failed, bad_tables, live))
    return out


def ingest_metrics(w, live):
    done = [b for b in w["batches"] if b["fresh_s"] is not None]
    lat = [b["fresh_s"] - b["due_s"] for b in done]
    span = max(b["fresh_s"] for b in done) - min(b["due_s"] for b in w["batches"])
    return lat, len(done) / span, w["cpu_s"] / len(w["batches"]), w["lake_bytes"] / live


def main():
    # a stop request unwinds like an error, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        log("run from the repository root: src/main/scala is missing")
        return 2
    import build
    try:
        build.build()
    except (OSError, RuntimeError, subprocess.CalledProcessError) as e:
        log(f"build failed: {e}")
        return 2
    # the run's own deadline starts after the build, which only the first
    # run in a checkout pays
    deadline = time.monotonic() + JVM_TIMEOUT_S
    load_before = os.getloadavg()[0]
    work = os.path.abspath(os.path.join(
        ".perfbench", "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = make_inputs(args.workload, args.seed, args.seconds, work)
        res = run_jvm(args, work, data, deadline)
        summary = evaluate(args, res, work, data)
    except Exception as e:  # any failure ends the run without a result line
        log(f"{type(e).__name__}: {e}")
        return 1
    finally:
        keep = os.path.join(".perfbench", "runs")
        os.makedirs(keep, exist_ok=True)
        for name, ext in (("result.json", "json"), ("jvm.log", "log")):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), os.path.join(
                    keep, f"{args.workload}-seed{args.seed}-trace{args.trace}.{ext}"))
        shutil.rmtree(work, ignore_errors=True)
    summary["record"].update({
        "commit": commit_id(), "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "elapsed_s": time.monotonic() - started})
    print(json.dumps(summary["record"]))
    print(json.dumps(summary["result"]))
    return 0


def evaluate(args, res, work, data):
    import check
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cores(), "master": res["master"],
              "driver_heap_mb": res["driver_heap_mb"], "sf": WORKLOADS[args.workload]["sf"],
              "jvm_load1_before": res["load1_before"], "jvm_load1_after": res["load1_after"],
              "setup_runs_s": res["setup_s"]}
    if args.workload == "ingest_upsert":
        checked = check_ingest(res, work)
        attempted = sum(len(w["batches"]) + len(w["final"]) for w in res["windows"])
        failed = sum(len(f) + len(t) for f, t, _ in checked)
        lat, thr, cpu, space = ingest_metrics(res["windows"][0], checked[0][2])
    else:
        failed_ids = check_closed(res, check.Oracle(data, work))
        attempted, failed = len(res["ops"]), len(failed_ids)
        lat, thr, cpu, space = closed_metrics(
            res, data, "traced" if args.trace else "measured")
    p, tail_v, beyond = tail(lat)
    record.update({"ops_measured": len(lat), "tail_percentile": p,
                   "tail_samples_beyond": beyond})
    if args.trace == 0:
        metrics = {
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "throughput_ops_s": (thr, "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
            "cpu_s_per_op": (cpu, "s"),
            "space_amp": (space, "ratio"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
    else:
        metrics = layer_metrics(args, res)
    return {"record": record, "result": {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}}


# name -> unit of every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = {
    "lake.commit_s": "s", "lake.commits": "count", "lake.fs_list": "count",
    "lake.fs_create": "count", "lake.fs_rename": "count", "lake.fs_delete": "count",
    "lake.fs_open": "count", "lake.files_written": "count", "lake.bytes_written": "bytes",
    "lake.read_s": "s", "lake.maintenance_s": "s",
    "catalog.analysis_s": "s", "catalog.optimization_s": "s", "catalog.planning_s": "s",
    "catalog.sql_s": "s", "catalog.files_scanned": "count", "catalog.files_pruned_ratio": "ratio",
    "queries.call_s": "s",
    "warehouse.merge_s": "s", "warehouse.mv_refresh_s": "s", "warehouse.mv_rewrite_hit_ratio": "ratio",
    "streaming.epochs": "count", "streaming.add_batch_s": "s", "streaming.epoch_overhead_s": "s",
    "streaming.input_rows": "count", "streaming.generator_lag_s": "s",
    "ext.call_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.outside_job_s": "s", "spark.driver_cpu_s": "s", "spark.codegen_compile_s": "s",
    "spark.materialize_s": "s", "spark.task_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.scheduler_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "driver_other_s": "s", "trace.overhead_s": "s",
}


OVERHEAD_WINDOWS = ("untraced", "traced_again", "untraced_again")


def layer_metrics(args, res):
    """Per-op layer metrics of the first traced window, plus the tracing
    overhead: the mean op latency of the second traced window minus the
    mean of the untraced windows run just before and just after it."""
    m = dict(res["trace"])
    if args.workload == "ingest_upsert":
        w = {x["name"]: x for x in res["windows"]}
        traced = w["traced"]
        mean = {k: statistics.fmean(b["fresh_s"] - b["due_s"] for b in w[k]["batches"]
                                    if b["fresh_s"] is not None)
                for k in OVERHEAD_WINDOWS}
        m["trace.overhead_s"] = mean["traced_again"] - (mean["untraced"] + mean["untraced_again"]) / 2
        m["streaming.generator_lag_s"] = statistics.fmean(
            b["landed_s"] - b["due_s"] for b in traced["batches"])
        hits = [e["mv_hit"] for e in traced["epochs"] if e["ordinal"] > 0]
    else:
        ops = [o for o in res["ops"] if o["window"] == "traced"]
        before, again, after = ([o["wall_s"] for o in res["ops"] if o["window"] == k]
                                for k in OVERHEAD_WINDOWS)
        m["trace.overhead_s"] = statistics.fmean(
            a - (b + c) / 2 for b, a, c in zip(before, again, after))
        scans = [o["info"] for o in ops if o["info"]["files_total"] > 0]
        m["catalog.files_scanned"] = sum(s["files_admitted"] for s in scans) / len(ops)
        if scans:
            m["catalog.files_pruned_ratio"] = 1 - sum(s["files_admitted"] for s in scans) / \
                sum(s["files_total"] for s in scans)
        hits = [o["info"]["mv_hit"] for o in ops if "mv_hit" in o["info"]]
    if hits:
        m["warehouse.mv_rewrite_hit_ratio"] = sum(hits) / len(hits)
    return {k: (float(m.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
