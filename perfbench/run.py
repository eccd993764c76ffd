"""End-to-end benchmark of traject_spark jobs on this host.

Run from the repository root:

    python3 perfbench/run.py --workload marc8_index_ndjson --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke     # every workload, tiny, seconds

One run:

1. generates the workload's fixture from ``--seed`` and records its
   checksum (not timed, not part of set-up);
2. sets up once: a cold Spark session (new JVM) plus one warm-up pass of
   the job; that is ``setup_s``;
3. re-hashes the fixture, then runs the whole job repeatedly for
   ``--seconds`` seconds, timing each pass from the first reader call
   until the sink returns, and checks every pass's output;
4. prints one JSON line: with ``--trace 0`` the end-to-end metrics
   (medians over passes), with ``--trace 1`` the per-layer ledger, which
   also lands in ``.perfbench_out/``.

With ``--trace 1`` passes alternate untraced and traced (spans around
build, plan and exec, Spark's SQL metrics read after each action), so
``trace.overhead_frac`` compares the two; then every layer the workload
exercises gets one isolated pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

OUT_DIR = ".perfbench_out"
WORK_DIR = ".perfbench_work"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _checkout_root() -> str:
    root = os.getcwd()
    for need in ("traject_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"{need} not found; run from the repository root")
    sys.path.insert(0, root)
    return root


class Run:
    def __init__(self, workload, seed: int, work: str, n: int):
        from perfbench import host

        self.host = host
        self.w = workload
        self.seed = seed
        self.work = work
        self.n = n
        self.cpus = host.cpus()
        self.spark = None
        self.fx = None

    def setup(self, mock) -> float:
        """Generate the fixture and set up once. Returns the set-up time:
        the cold session start plus one warm-up pass of the job. A
        generator that needs Spark runs in between, on the JVM only (no
        Python workers), and is not counted."""
        # every module a job touches is imported before the clock starts
        import __spark_entry__  # noqa: F401
        import traject_spark.corpus  # noqa: F401
        import traject_spark.marc.io  # noqa: F401
        import traject_spark.writers  # noqa: F401

        root = os.path.join(self.work, "fixture")
        if not self.w.gen_needs_spark:
            self.fx = self.w.prepare(None, root, self.seed, self.n, self.cpus)
        t0 = time.perf_counter()
        self.spark = self.host.start_session(self.work)
        session_s = time.perf_counter() - t0
        if self.w.gen_needs_spark:
            self.fx = self.w.prepare(self.spark, root, self.seed, self.n,
                                     self.cpus)
        warm = os.path.join(self.work, "warmup")
        t1 = time.perf_counter()
        self.w.job(self.spark, self.fx.files, warm, mock)
        warm_s = time.perf_counter() - t1
        clear(warm)
        print(f"# setup: session {session_s:.2f}s + warm-up {warm_s:.2f}s "
              f"(fixture {t1 - t0 - session_s:.2f}s not counted)",
              file=sys.stderr)
        return session_s + warm_s

    def passes(self, mock, seconds: float, ledger=None,
               min_passes: int = 0) -> dict:
        """Timed passes for at least ``seconds`` and ``min_passes`` passes;
        with a ledger, half of them are traced. Returns per-pass seconds,
        CPU and check results."""
        host = self.host
        tree = host.ProcTree(host.jvm_pid())
        rss = host.PeakRss(tree)
        res = {"secs": [], "cpu": [], "traced_secs": [], "exec_rows": [],
               "attempted": 0, "failed": 0}
        self.fx.verify()
        out = os.path.join(self.work, "out")
        start = time.perf_counter()
        k = 0
        min_passes = min_passes or self.w.min_passes
        while k < min_passes * (2 if ledger else 1) or (
            time.perf_counter() - start < seconds
        ):
            # traced passes in ABBA order, so drift between passes
            # weighs on both sides of trace.overhead_frac alike
            traced = ledger if (ledger is not None and k % 4 in (0, 3)) else None
            if traced is not None:
                ledger.mark()
            mock.reset()
            c0 = tree.cpu_s()
            with rss:
                t0 = time.perf_counter()
                self.w.job(self.spark, self.fx.files, out, mock, traced)
                dt = time.perf_counter() - t0
            c1 = tree.cpu_s()
            if traced is not None:
                res["traced_secs"].append(dt)
                res["exec_rows"].append(ledger.collect("e2e"))
            else:
                res["secs"].append(dt)
                res["cpu"].append(c1 - c0)
            res["failed"] += self.w.check(self.fx, out, mock)
            res["attempted"] += self.fx.records
            clear(out)
            k += 1
        self.fx.verify()
        res["peak_rss_mb"] = rss.peak
        if mock.max_inflight > self.cpus:
            raise RuntimeError(
                f"mock Solr saw {mock.max_inflight} concurrent requests, "
                f"more than the {self.cpus} task slots"
            )
        return res


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_work", ignore_errors=True)


def end_to_end(run: Run, mock, seconds: float) -> dict:
    setup_s = run.setup(mock)
    res = run.passes(mock, seconds)
    n = run.fx.records
    metrics = {
        "records_per_s": (median([n / s for s in res["secs"]]), "1/s"),
        "cpu_s_per_krec": (median([c / (n / 1000) for c in res["cpu"]]),
                           "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }
    print(f"# {run.w.name} seed={run.seed} records={n} "
          f"passes={[round(x, 3) for x in res['secs']]} "
          f"failed_frac={res['failed'] / res['attempted']:.6g}")
    return res, metrics


def traced(run: Run, mock, seconds: float, min_passes: int = 2) -> tuple:
    from perfbench.ledger import Ledger, peak, total
    from perfbench.workloads import PER_LAYER

    run.setup(mock)
    ledger = Ledger(run.spark)
    res = run.passes(mock, seconds, ledger, min_passes)
    rows = res["exec_rows"]
    m, attempted, failed = run.w.layers(run.spark, run.fx, run.work, ledger,
                                        mock)
    res["attempted"] += attempted
    res["failed"] += failed
    m["exec.scan_ms"] = median([total(r, "scan time") for r in rows])
    m["exec.shuffle_write_bytes"] = median(
        [total(r, "shuffle bytes written") for r in rows])
    m["exec.shuffle_fetch_wait_ms"] = median(
        [total(r, "fetch wait time") for r in rows])
    m["exec.spill_bytes"] = median([total(r, "spill size") for r in rows])
    m["exec.task_skew"] = median([peak(r, "task skew") for r in rows])
    m["trace.overhead_frac"] = (
        median(res["traced_secs"]) / median(res["secs"]) - 1.0)
    os.makedirs(OUT_DIR, exist_ok=True)
    ledger.write(
        os.path.join(OUT_DIR, f"ledger-{run.w.name}-seed{run.seed}.json"),
        {"workload": run.w.name, "seed": run.seed, "records": run.fx.records,
         "metrics": m},
    )
    return res, {k: (m[k], unit) for k, unit in PER_LAYER.items()}


def _session_work(root: str, tag: str) -> str:
    work = os.path.join(root, WORK_DIR, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny size, then exit")
    args = ap.parse_args(argv)
    root = _checkout_root()
    from perfbench import host
    from perfbench.mocksolr import MockSolr
    from perfbench.workloads import SOLR_SERVICE_S, WORKLOADS

    if args.smoke:
        return smoke(root)
    if args.workload not in WORKLOADS:
        _fail(f"--workload must be one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    work = _session_work(root, w.name)
    host.configure_env(work)
    run = Run(w, args.seed, work, w.records)
    try:
        with MockSolr(SOLR_SERVICE_S) as mock:
            if args.trace:
                res, metrics = traced(run, mock, args.seconds)
            else:
                res, metrics = end_to_end(run, mock, args.seconds)
    finally:
        if run.spark is not None:
            host.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def smoke(root: str) -> int:
    """Every workload at tiny size: fixture, one set-up, traced and
    untraced passes with their checks, and the layer passes."""
    from perfbench import host
    from perfbench.mocksolr import MockSolr
    from perfbench.workloads import SOLR_SERVICE_S, WORKLOADS

    bad = []
    work = _session_work(root, "smoke")
    host.configure_env(work)
    try:
        with MockSolr(SOLR_SERVICE_S) as mock:
            for w in WORKLOADS.values():
                run = Run(w, 1, os.path.join(work, w.name), w.tiny)
                try:
                    res, _ = traced(run, mock, 0.0, min_passes=1)
                finally:
                    if run.spark is not None:
                        host.stop_session(run.spark)
                print(f"# smoke {w.name}: attempted={res['attempted']} "
                      f"failed={res['failed']}")
                if res["failed"]:
                    bad.append(w.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"perfbench: smoke failed: {bad}", file=sys.stderr)
        return 1
    print("# smoke passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
