#!/usr/bin/env python
"""Capture .explain('formatted') for every noop-sinked bench.py lane.

Writes plans/<tag>/<lane>_<suffix>.txt for each lane whose function times
a `noop(df)`: the capture replaces bench.noop so it records the DataFrame
instead of executing it, so the captured plan is EXACTLY the timed query's
plan (same inputs, same operator calls). Lanes that time another action
(Solr POSTs, the curate write) have no single output frame to explain;
the MANIFEST lists them as skipped. Earlier captures are kept under
history/plans/.

Usage (a small scale keeps input setup cheap; plan shape does not depend
on scale):
  SPARK_GRAFT_SF_DIR=<dir>/sf0.001 python tools/capture_plans.py <tag> before
"""

from __future__ import annotations

import argparse
import atexit
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag", help="output subdirectory under plans/")
    ap.add_argument("suffix", help="file name suffix, e.g. before/after")
    ap.add_argument("lanes", nargs="?", default="",
                    help="comma-separated lane names (default: all)")
    args = ap.parse_args()
    only = {s for s in args.lanes.split(",") if s}
    out_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    work = tempfile.mkdtemp(prefix="capture_plans_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    spark = bench.session(work)
    inp = bench.Inputs(spark, work)
    captured: dict = {}
    skipped: list = []
    current = {"name": None}

    def capture_noop(df) -> None:
        captured[current["name"]] = df

    bench.noop = capture_noop

    for name, fn in bench.LANES:
        if only and name not in only:
            continue
        current["name"] = name
        try:
            fn(spark, inp)
        except Exception as e:  # non-noop lanes execute for real; tolerate
            print(f"capture {name}: error {e}", file=sys.stderr)
        if name not in captured:
            skipped.append(name)
            continue
        df = captured[name]
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")

    manifest = os.path.join(out_dir, f"MANIFEST_{args.suffix}.txt")
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write(
            "captured: " + ", ".join(sorted(captured)) + "\n"
            "skipped (no noop sink — action is a real write or HTTP "
            "path with no single output frame): " + ", ".join(skipped) + "\n"
        )
    print(f"wrote {manifest}")
    bench.host.stop_session(spark)


if __name__ == "__main__":
    main()
