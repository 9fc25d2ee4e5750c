"""Weekly hiring-audit benchmark: one command, two workloads.

    python3 perfbench/run.py --workload wratio_weekly --seed 7 --seconds 10 --trace 0

Run from the repository root. Makes the workload's inputs from
``--seed``, sets up (session, landings, index), warms up with one run,
then alternates complete runs and chunks of served pages and dashboard
views for ``--seconds``. Every output is checked against an independent
reference. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics of one traced run with
``--trace 1``; the traced run also writes its spans and metrics to
``.perfbench_out/<workload>.trace.json``). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Scratch state stays inside the checkout (the benchmark reads and
# writes nowhere else), in git-ignored directories
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SERVE_REQUESTS = 125  # 100 report fetches (p90 keeps 10 above it), 25 dashboard views
SERVE_CHUNK = 40  # requests after each timed run
TRACE_SERVE_REQUESTS = 20
SETUP_REPS = 3


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_clock(jvm_pid: int):
    """A clock of CPU seconds used by this driver process plus the Spark
    JVM and its Python workers (reaped workers count through their
    parent's child times). CPU time leaves out the time a shared host
    steals from the VM, so it moves less than wall time when the host
    is busy."""
    tick = os.sysconf("SC_CLK_TCK")

    def clock() -> float:
        total = 0
        for pid in process_tree(jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        own = os.times()
        return total / tick + own.user + own.system

    return clock


class RssSampler:
    """Peak resident memory of the Spark JVM and all its descendants
    (the Python workers), sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in process_tree(self.pid)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(bench, seconds: float) -> dict:
    """Untraced: one warm-up run, a serving chunk, then rounds of
    (complete run, serving chunk) until ``seconds`` have passed, then
    the rest of the serving requests. The JVM is still compiling after
    the warm-up run; the first chunk gives it that time. Spreading the
    requests around the runs keeps one slow stretch of a shared host
    from moving every latency sample at once.

    The bounded metrics are CPU seconds, memory and bytes. Wall times
    (run, batch, page and dashboard latency) go to stderr with their
    sample counts: on a shared VM their spread over ten seeds
    (IQR/median) ranged from 4 % to 23 % between sets as the host's
    load drifted, too close to the largest bound a metric can have."""
    t = time.perf_counter()
    bench.run()
    print(f"warm-up run {time.perf_counter() - t:.1f} s", file=sys.stderr)
    pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
    clock = bench.cpu_clock = cpu_clock(pid)
    runs, batches, pages, dashes, cpus = [], [], [], [], []
    serve_cpu = 0.0

    def serve(n: int) -> None:
        nonlocal serve_cpu
        c0 = clock()
        p, d, _ = bench.serve(n, first=len(pages) + len(dashes))
        serve_cpu += clock() - c0
        pages.extend(p)
        dashes.extend(d)

    with RssSampler(pid) as rss:
        serve(SERVE_CHUNK)
        deadline = time.perf_counter() + seconds
        while True:
            r = bench.run()
            if r is not None:
                runs.append(r[0])
                batches.extend(r[1])
                cpus.append(r[2])
            serve(SERVE_CHUNK)
            if time.perf_counter() >= deadline:
                break
        serve(max(0, SERVE_REQUESTS - len(pages) - len(dashes)))
    if not runs or not pages or not dashes:
        raise RuntimeError("no successful run or request to report")
    wall = {
        "run_s": (statistics.median(runs), len(runs)),
        "match_batch_s": (statistics.median(batches), len(batches)),
        "page_p50_ms": (1000 * statistics.median(pages), len(pages)),
        "page_p90_ms": (1000 * quantile(pages, 0.90), len(pages)),
        "dashboard_p50_ms": (1000 * statistics.median(dashes), len(dashes)),
    }
    for name, (v, n) in wall.items():
        print(f"wall {name} = {v:.4f} over {n} samples", file=sys.stderr)
    print(f"runs: {[round(r, 3) for r in runs]} batches: {[round(b, 3) for b in batches]}",
          file=sys.stderr)
    return {
        "run_cpu_s": metric(statistics.median(cpus), "s"),
        "serve_cpu_ms": metric(1000 * serve_cpu / (len(pages) + len(dashes)), "ms"),
        "peak_rss_mb": metric(rss.peak_kb / 1024.0, "MB"),
        "stored_mb": metric(bench.stored_bytes() / 2**20, "MB"),
    }


def traced(bench, tracer) -> dict:
    """Per-layer metrics of one traced run (plus a short traced serving
    loop), with the tracing overhead against an untraced run."""
    from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ

    from perfbench import trace as T

    bench.run()
    pages, dashes, _ = bench.serve(SERVE_CHUNK)
    untraced = bench.run()
    with tracer.span("run"), \
            T.patched(FZ, "fuzzy_title_pairs", tracer.materializing(
                FZ.fuzzy_title_pairs, layer="fuzzy", key="pairs")), \
            T.patched(FZ, "fuzzy_title_pairs_tokensort", tracer.materializing(
                FZ.fuzzy_title_pairs_tokensort, layer="fuzzy", key="pairs")):
        result = bench.run(tracer)
    _, _, returned = bench.serve(TRACE_SERVE_REQUESTS, tracer)
    if untraced is None or result is None:
        raise RuntimeError("traced or untraced run failed")
    counts = bench.funnel(tracer)
    log_dir = bench.event_log_dir
    bench.stop()
    jobs, stages = T.read_event_log(log_dir)
    spans = tracer.dump()
    layers, extra = T.layer_metrics(spans, jobs, stages)
    units = {"s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
             "cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes"}
    out = {}
    for layer in T.LAYERS:
        for counter in T.LAYER_COUNTERS:
            out[f"{layer}.{counter}"] = metric(layers[layer][counter], units[counter])
    score_wall = extra["score_wall_s"]
    requests = TRACE_SERVE_REQUESTS + (1 if bench.w.kind == "weekly" else 0)
    counts.update({
        "fuzzy.score_tasks": (extra["score_tasks"], "count"),
        "fuzzy.score_parallelism": (
            extra["score_run_s"] / score_wall if score_wall else 0.0, "ratio"),
        "serving.jobs_per_request": (layers["serving"]["jobs"] / requests, "count"),
        "serving.rows_scanned_per_row_returned": (
            extra["serving_records_read"] / max(1, returned), "ratio"),
        "serving.page_p50_ms": (1000 * statistics.median(pages), "ms"),
        "serving.dashboard_p50_ms": (1000 * statistics.median(dashes), "ms"),
        "trace.run_s": (result[0], "s"),
        "trace.untraced_run_s": (untraced[0], "s"),
        "trace.overhead_s": (result[0] - untraced[0], "s"),
    })
    for name, (v, unit) in counts.items():
        out[name] = metric(v, unit)
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{bench.w.name}.trace.json")
    with open(path, "w") as f:
        json.dump({"workload": bench.w.name, "seed": bench.seed, "spans": spans,
                   "metrics": out}, f, indent=1)
    print(f"trace written to {path}", file=sys.stderr)
    return out


def sweep_stale(tmp_root: str) -> None:
    """Remove the scratch directories of runs whose process is gone (a
    run killed with SIGKILL cannot clean up after itself)."""
    if not os.path.isdir(tmp_root):
        return
    for name in os.listdir(tmp_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    sweep_stale(TMP_ROOT)
    scratch = os.path.join(TMP_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    # SIGTERM unwinds through the clean-up below instead of leaving
    # Spark running and its state on disk
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # Python workers import the transport and the package from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    bench = Bench(WORKLOADS[args.workload], args.seed, scratch, event_log=bool(args.trace))
    try:
        if args.trace:
            tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
            bench.setup(tracer, reps=1)
            metrics = traced(bench, tracer)
        else:
            t = time.perf_counter()
            setup_s = bench.setup(NullTracer(), reps=SETUP_REPS)
            print(f"set-up {setup_s:.1f} s, with reference {time.perf_counter() - t:.1f} s",
                  file=sys.stderr)
            metrics = measure(bench, args.seconds)
            metrics["setup_s"] = metric(setup_s, "s")
            metrics["ok_frac"] = metric(
                (bench.attempted - bench.failed) / max(1, bench.attempted), "ratio"
            )
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(TMP_ROOT)  # only when no other run is using it
    if bench.failures:
        print(f"failed checks: {sorted(set(bench.failures))}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
