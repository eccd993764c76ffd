#!/usr/bin/env python
"""sf1 soak of the 100 TB sink discipline (VERDICT r10 next-round #4).

The two r10 sink controls — ``solr_writer.max_docs_per_sec`` (per-
partition leaky-bucket pacing) and ``max_records_per_file`` (file-split
cap) — were mock-pytest-verified only. This soak exercises both at sf1
scale (6M records) and ASSERTS:

A. capped Solr send rate <= cap x concurrent partitions (tolerance
   +15%), i.e. the per-partition buckets compose to the intended
   cluster-wide ceiling;
B. the capped run is actually slower than uncapped (the cap bit — a cap
   set at ~half the uncapped rate that doesn't slow the job means the
   pacing silently no-ops);
C. uncapped (cap off) throughput keeps the sf1 floor (>= 100k docs/s on
   this box; r10 recorded 258k) — the pacing hook must cost nothing
   when off;
D. write_json with max_records_per_file=50k emits ceil-per-task file
   counts: between rows/50k and rows/50k + n_partitions part files.

The corpus is bench.py's synthetic MARC corpus at 6M records, built from
the documents under ``$SPARK_GRAFT_SF_DIR``; the session is bench.py's
host-sized one. Prints one JSON line.
"""

import atexit
import glob
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

RECORDS = 6_000_000


def main() -> None:
    work = tempfile.mkdtemp(prefix="soak_sink_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    spark = bench.session(work)
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc
    from traject_spark.writers import solr_json_writer, write_json

    t0 = time.time()
    src = bench.Inputs(spark, work, records=RECORDS).marc()
    p = Pipeline().to_field("title", extract_marc("245ab"))
    out = p.apply(src)
    n_rows = out.count()  # also warms the scan + JIT off the clock
    n_parts = out.rdd.getNumPartitions()
    print(
        f"SOAK setup: {n_rows} rows in {n_parts} partitions "
        f"({time.time() - t0:.1f}s)",
        file=sys.stderr,
    )

    def run_sink(max_docs_per_sec):
        with bench.null_solr() as url:
            t = time.time()
            solr_json_writer(
                out,
                url,
                batch_size=100,
                max_skipped=None,
                max_docs_per_sec=max_docs_per_sec,
            )
            return time.time() - t

    # C: cap off — sf1 throughput floor
    sec_off = run_sink(None)
    rate_off = n_rows / sec_off
    print(f"SOAK sink uncapped: {sec_off:.1f}s = {rate_off:,.0f} docs/s",
          file=sys.stderr)
    assert rate_off >= 100_000, (
        f"uncapped sf1 sink rate {rate_off:,.0f} docs/s below the 100k "
        "floor — the pacing hook must cost nothing when off"
    )

    # A+B: per-partition cap sized so the CLUSTER-WIDE ceiling is ~half
    # the uncapped rate; concurrency = min(partitions, cores)
    concurrent = min(n_parts, bench.host.cpus())
    cap = rate_off / (2 * concurrent)
    sec_on = run_sink(cap)
    rate_on = n_rows / sec_on
    ceiling = cap * concurrent
    print(
        f"SOAK sink capped at {cap:,.0f}/s/partition x {concurrent}: "
        f"{sec_on:.1f}s = {rate_on:,.0f} docs/s (ceiling {ceiling:,.0f})",
        file=sys.stderr,
    )
    assert rate_on <= ceiling * 1.15, (
        f"capped rate {rate_on:,.0f} exceeds cap x partitions "
        f"{ceiling:,.0f} (+15% tolerance) — buckets not composing"
    )
    assert sec_on >= sec_off * 1.5, (
        f"cap at half the uncapped rate only slowed the job "
        f"{sec_on / sec_off:.2f}x — pacing silently no-ops"
    )

    # D: max_records_per_file file-count discipline
    per_file = 50_000
    out_dir = os.path.join(work, "json_out")
    t = time.time()
    write_json(out, out_dir, max_records_per_file=per_file)
    sec_json = time.time() - t
    files = [
        f for f in glob.glob(f"{out_dir}/part-*")
        if not f.endswith(".crc")
    ]
    lo = math.ceil(n_rows / per_file)
    hi = lo + n_parts  # ceil-per-task: at most one short file per task
    print(
        f"SOAK write_json max_records_per_file={per_file}: "
        f"{len(files)} files in {sec_json:.1f}s (bounds [{lo}, {hi}])",
        file=sys.stderr,
    )
    assert lo <= len(files) <= hi, (
        f"{len(files)} part files outside [{lo}, {hi}] for {n_rows} rows "
        f"at {per_file}/file over {n_parts} partitions"
    )

    print(
        json.dumps(
            {
                "metric": "sf1_sink_soak",
                "unit": "sec",
                "records": n_rows,
                "partitions": n_parts,
                "queries": {
                    "sink_solr_uncapped": round(sec_off, 2),
                    "sink_solr_capped_half": round(sec_on, 2),
                    "write_json_50k_per_file": round(sec_json, 2),
                },
                "uncapped_docs_per_sec": round(rate_off, 1),
                "cap_per_partition": round(cap, 1),
                "capped_docs_per_sec": round(rate_on, 1),
                "cap_ceiling": round(ceiling, 1),
                "json_files": len(files),
                "json_file_bounds": [lo, hi],
                "assertions": "all passed",
            }
        )
    )
    bench.host.stop_session(spark)


if __name__ == "__main__":
    main()
