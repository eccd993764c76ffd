#!/usr/bin/env python
"""Benchmark harness (BASELINE.md targets B1-B4 + corpus operators).

Runs headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

B1 map_full_pipeline   600k synthetic MARC x full multi-field pipeline
B2 map_minimum_slice   600k x extract_marc("245ab") + NDJSON sink
B3 map_translation     600k x marc_languages (translation-map heavy)
B4 sink_solr_mock      600k docs batched POSTs to a local mock Solr
plus dedup/simhash/minhash/similarity/text-stats corpus operators.
"""

from __future__ import annotations

import atexit
import http.server
import json
import os
import shutil
import sys
import tempfile
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _tmpdir(prefix: str) -> str:
    """mkdtemp that cleans up at interpreter exit — a day of bench runs
    must not fill the disk with orphaned synthetic corpora."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _parse_sf(tail: str):
    """Scale factor from an sf-dir suffix; the raw string when it is not
    a number (shared by the records target and the JSON 'sf' field)."""
    try:
        return float(tail)
    except ValueError:
        return tail


def _target_records() -> int:
    """600k synthetic MARC records at sf0.1, scaling linearly with the SF
    parsed from the dir name (sf1 -> 6M) so soak runs stress the mapping
    benches proportionally; SPARK_GRAFT_TARGET_RECORDS overrides."""
    env = os.environ.get("SPARK_GRAFT_TARGET_RECORDS")
    if env:
        return int(env)
    sf = _parse_sf(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    if isinstance(sf, float):
        return max(1, int(600_000 * sf / 0.1))
    return 600_000


TARGET_RECORDS = _target_records()


#: GC choice for the bench JVM (r16, guide §1.2 step 3 — config AFTER
#: algorithm + per-task work): the workload is interpreted Catalyst
#: expression evaluation + Arrow batches — allocation-heavy, short-lived
#: objects, 32 always-busy worker threads, zero latency requirement —
#: exactly the profile where the throughput collector beats G1's
#: pause-goal heuristics. Interleaved same-box A/B (fresh JVM per
#: variant, 3 runs each, r16): map_full exec 8.64 -> 5.64 min (-35%),
#: text_repetition 4.24 -> 3.03 (-28%), rel_pricing 1.23 -> 0.71,
#: dedup_minhash_lsh 2.09 -> 1.87, ingest_ndjson 3.45 -> 2.91,
#: text_quality 3.19 -> 2.97 — no lane regressed. On a cluster the same
#: reasoning applies to spark.executor.extraJavaOptions for
#: throughput-bound batch executors; env override for A/B or reverting.
GC_FLAGS = os.environ.get("SPARK_GRAFT_GC_FLAGS", "-XX:+UseParallelGC")


def session() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("traject_spark-bench")
        # 24g, NOT bigger: every timed query's working set fits easily,
        # and a larger G1 heap measurably hurts (48g: map_full median
        # 16s with 28s outliers and a 67s first pass; 24g: median ~11s)
        # — bigger regions, slower full collections, longer concurrent
        # cycles competing with 32 busy worker threads
        .config("spark.driver.memory", "24g")
        .config("spark.driver.extraJavaOptions", GC_FLAGS)
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # smaller input splits -> parallel scan of single-file tables
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # cap driver-side execution/stage metadata retention: thousands of
        # tracked executions otherwise accumulate across repeated runs and
        # progressively slow the later ones (GC pressure)
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "30")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .getOrCreate()
    )


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


CALIBRATION_WORKLOAD = "spark.range(2e10).sum(id % 1000) median-of-3"


def calibration(spark) -> float:
    """Median-of-3 of a FIXED pure-JVM workload (range->sum, whole-stage
    codegen, no Python, no IO). Its time depends only on the box, never
    on repo code — recorded at the start AND end of every bench run so a
    future reader can distinguish environment drift from code
    regressions: if calibration moved by the same factor as the queries,
    the box moved, not the code. Normalization rule (documented in
    README): compare query medians across rounds as
    query_sec / (calibration_sec / reference_calibration_sec)."""
    runs = []
    for _ in range(3):
        spark._jvm.System.gc()
        t0 = time.time()
        # id % 1000 keeps the 2e10-row sum inside a long under
        # ANSI mode (sum(id) itself would overflow and throw)
        spark.range(20_000_000_000, numPartitions=CPUS).agg(
            F.sum(F.col("id") % 1000)
        ).collect()
        runs.append(time.time() - t0)
    return round(sorted(runs)[1], 3)


def calibration_single(spark) -> float:
    """ONE run of the fixed probe workload — the per-pass box-speed
    stamp. A single start/end probe pair cannot normalize queries
    inside a multi-minute drift window (the sf10 soak measured the host
    slowing 2.5x mid-run, blurring three queries' medians 3-4.8x); a
    probe after every round-robin pass localizes the stall to the
    passes it actually polluted."""
    spark._jvm.System.gc()
    t0 = time.time()
    spark.range(20_000_000_000, numPartitions=CPUS).agg(
        F.sum(F.col("id") % 1000)
    ).collect()
    return round(time.time() - t0, 3)


#: a pass is STALLED when its probe exceeds this multiple of the
#: fastest pass's probe; stall-excluded medians drop those passes'
#: samples (kept alongside the raw medians, never replacing them)
STALL_PROBE_FACTOR = 1.5

#: the run's WINDOW is degraded when the start calibration exceeds this
#: multiple of REFERENCE_CALIBRATION even after retries — the r9
#: official artifact was recorded at cal 1.833 (1.11x) and needed a side
#: re-record to interpret; 1.15 x 1.65 = ~1.9s is the dividing line
WINDOW_DEGRADED_FACTOR = 1.15

#: start-calibration retries before stamping the window degraded
WINDOW_RETRIES = int(os.environ.get("SPARK_GRAFT_WINDOW_RETRIES", "3"))


def _boundary_ref(cal_start: float, pass_probes: list) -> float:
    """The run's fastest boundary probe — THE box-speed baseline shared
    by the stall rule and B1 probe normalization (one definition: a
    change to the reference rule must not skew one consumer silently)."""
    boundary = [cal_start] + list(pass_probes)
    return min(boundary) if boundary else 0.0


def _stall_flags(cal_start: float, pass_probes: list) -> list:
    """Per-pass stalled flags from the boundary probes.

    Pass i runs BETWEEN boundary probes i and i+1 (boundary[0] is the
    start calibration), and a stall can sit at either edge: a window
    that ends mid-pass leaves a clean END probe over dirty early-pass
    runs (observed: the worst samples landed in the pass AFTER a 9.9s
    probe). So the primary rule is two-sided — a pass is stalled when
    EITHER adjacent probe reads >= STALL_PROBE_FACTOR x the fastest
    boundary probe. When that excludes too much (heavily stalled
    window), relax to end-probe only vs the SAME baseline (the fallback
    must not switch reference minima mid-decision when the start
    calibration is the only clean probe, ADVICE r8)."""
    boundary = [cal_start] + list(pass_probes)
    ref = _boundary_ref(cal_start, pass_probes)
    two_sided = [
        boundary[i] >= STALL_PROBE_FACTOR * ref
        or boundary[i + 1] >= STALL_PROBE_FACTOR * ref
        for i in range(len(pass_probes))
    ]
    one_sided = [
        p >= STALL_PROBE_FACTOR * ref for p in pass_probes
    ] if pass_probes else []
    return two_sided if sum(not s for s in two_sided) >= 2 else one_sided


def _stall_excluded(run_lists: dict, failed: dict, stalled: list):
    """(excluded_medians, excluded_counts) per query.

    ALWAYS populated (r8 shipped an empty dict exactly when the signal
    was needed — VERDICT r8 item 2): with zero stalled passes these
    EQUAL the raw medians, which is itself the auditable statement "no
    pass was excluded". A query falls back to its raw median when < 2
    samples survive exclusion (its excluded count still records how
    many samples the rule wanted to drop)."""
    excluded_medians: dict = {}
    excluded_counts: dict = {}
    for name, runs in run_lists.items():
        if name in failed or not runs:
            continue
        pairs = list(zip(runs, stalled))  # zip truncates to runs taken
        kept = [r for r, s in pairs if not s]
        excluded_counts[name] = len(runs) - len(kept)
        if len(kept) < 2:
            kept = runs
        excluded_medians[name] = round(_median(kept), 3)
    return excluded_medians, excluded_counts


def _window_status(cal_attempts: list, cal_end: float = None) -> str:
    """Three-state window verdict over BOTH boundary calibrations
    (VERDICT r11 #4 — r11 stamped 'ok' with end cal 2.036):

    - 'ok':            last start attempt AND end calibration qualify
    - 'ok-degrading':  start qualified but the box slowed past the
      threshold by the end — mins are upper bounds vs locks, not
      clean comparisons
    - 'degraded':      the start never qualified; medians must not be
      compared against locks unnormalized

    ``cal_end=None`` (start-of-run call, end not yet measured) grades
    the start only."""
    if not cal_attempts:
        return "degraded"
    threshold = WINDOW_DEGRADED_FACTOR * REFERENCE_CALIBRATION
    if cal_attempts[-1] > threshold:
        return "degraded"
    if cal_end is not None and cal_end > threshold:
        return "ok-degrading"
    return "ok"


def _qualify_window(spark) -> tuple:
    """Measure the start calibration, RETRYING on a slow box.

    The official r9 artifact was recorded on a slow window (cal 1.833
    vs reference 1.65) and needed a side re-record to interpret; two
    queries printed medians essentially AT the 2x-of-lock line purely
    from the window. Gate the run instead: retry the start calibration
    up to WINDOW_RETRIES times (a stall window on this box passes in
    seconds–minutes), and if it still exceeds the threshold stamp the
    artifact window='degraded' so no reader compares it against locks
    unnormalized. Returns (cal_start, attempts, status)."""
    attempts = [calibration(spark)]
    threshold = WINDOW_DEGRADED_FACTOR * REFERENCE_CALIBRATION
    for i in range(WINDOW_RETRIES):
        if attempts[-1] <= threshold:
            break
        print(
            f"BENCH window: start calibration {attempts[-1]}s exceeds "
            f"{threshold:.3f}s ({WINDOW_DEGRADED_FACTOR}x reference "
            f"{REFERENCE_CALIBRATION}s); retry {i + 1}/{WINDOW_RETRIES} "
            "in 20s",
            file=sys.stderr,
        )
        time.sleep(20)
        attempts.append(calibration(spark))
    status = _window_status(attempts)
    if status == "degraded":
        print(
            "BENCH window: DEGRADED — all start-calibration attempts "
            f"{attempts} exceed {threshold:.3f}s; medians in this "
            "artifact are not comparable to locks without probe "
            "normalization",
            file=sys.stderr,
        )
    return attempts[-1], attempts, status

#: fast-box value of the JVM calibration workload (median observed on
#: this box across r7-r8 clean windows). The artifact's probe-normalized
#: numbers are query_sec * (REFERENCE_CALIBRATION / observed_cal) — the
#: README normalization rule applied at record time so cross-round
#: comparisons start from a shared denominator.
REFERENCE_CALIBRATION = 1.65


def py_probe_single(spark) -> float:
    """ONE run of a fixed PYTHON-DRIVER-path probe: build a ~150-node
    Column expression tree in Python, analyze and execute it on a canned
    1k-row DataFrame. The JVM calibration probe (range->sum) is pure
    codegen compute and was flat across a round where 24 Python-planned
    queries slowed ~15% (r8) — it cannot see drift in the Py4J/driver
    path (plan construction, analysis round-trips). This probe exercises
    exactly that path; together the two separate 'box CPU moved' from
    'driver/Py4J path moved'."""
    t0 = time.time()
    df = spark.range(1_000).select(
        F.col("id"), (F.col("id") % 97).cast("string").alias("s")
    )
    col = F.col("s")
    for i in range(50):
        # bounded growth: each round adds concat+substring+upper nodes
        # without letting the value blow up
        col = F.substring(
            F.concat(F.upper(col), F.lit(str(i % 7))), 1, 24
        )
    df.select(col.alias("v")).filter(F.length("v") > 0).agg(
        F.count(F.lit(1))
    ).collect()
    return round(time.time() - t0, 3)


def py_probe(spark) -> float:
    """Median-of-3 of :func:`py_probe_single` (start/end stamps)."""
    return round(sorted(py_probe_single(spark) for _ in range(3))[1], 3)


PY_PROBE_WORKLOAD = (
    "build+execute a ~150-node Column expression pipeline on a canned "
    "1k-row DataFrame (Python plan construction + analysis + one tiny "
    "job), median-of-3 at start/end, single run per pass"
)


_MARC_PATH: str | None = None


def synth_marc(spark, n_target: int = TARGET_RECORDS):
    """~n_target synthetic MARC records as a NESTED-PARQUET scan.

    Materialized once per bench run (setup, untimed): reading the struct
    from parquet is the honest workload shape — mapping cost can't be
    constant-folded away against the literal synthesis expressions, and
    nested-schema pruning at the scan is exercised for real.
    """
    global _MARC_PATH
    if _MARC_PATH is None:
        from traject_spark.synth import marc_from_documents

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_docs = docs.count()
        reps = max(1, n_target // max(n_docs, 1))
        replicated = docs.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("_rep")
        ).select(
            (F.col("doc_id") * reps + F.col("_rep")).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        _MARC_PATH = _tmpdir("bench_marc_") + "/marc"
        marc_from_documents(replicated).repartition(CPUS).write.mode(
            "overwrite"
        ).parquet(_MARC_PATH)
    return spark.read.parquet(_MARC_PATH)


def _full_pipeline():
    # single source of truth: B1 must measure exactly the contract
    # pipeline entry() exposes, not an independently-maintained copy
    from __spark_entry__ import flagship_pipeline

    return flagship_pipeline()


def b_map_full(spark):
    noop(_full_pipeline().apply(synth_marc(spark)))


def b_map_minimum(spark):
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc

    p = Pipeline().to_field("title", extract_marc("245ab"))
    out = p.apply(synth_marc(spark))
    # fresh subdir per run under an atexit-cleaned parent: deleting the
    # 600k-record output INSIDE the timed region (the old
    # TemporaryDirectory context) inflated B2 with rmtree cost
    d = tempfile.mkdtemp(dir=_B2_DIR)
    out.write.mode("overwrite").json(f"{d}/out")


_B2_DIR = _tmpdir("bench_b2_")


def b_map_translation(spark):
    from traject_spark import Pipeline
    from traject_spark.macros import marc_languages

    p = Pipeline().to_field("language", marc_languages())
    noop(p.apply(synth_marc(spark)))


class _NullSolr(http.server.BaseHTTPRequestHandler):
    # HTTP/1.1 + Content-Length: the handler default (HTTP/1.0) closes
    # the connection after EVERY response, so the bench would measure
    # ~6000 TCP reconnects instead of the sink's actual keep-alive path.
    # TCP_NODELAY + buffered writes match a real Solr (Jetty): without
    # them every small header/body segment on the reused connection
    # stalls in Nagle + delayed-ACK (~40ms per exchange)
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True
    wbufsize = 8192

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.send_response(200)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):
        pass


def b_sink_solr(spark):
    from traject_spark import Pipeline
    from traject_spark.macros import extract_marc
    from traject_spark.writers import solr_json_writer

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _NullSolr)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        p = Pipeline().to_field("title", extract_marc("245ab"))
        out = p.apply(synth_marc(spark))
        solr_json_writer(
            out,
            f"http://127.0.0.1:{srv.server_address[1]}/solr/core",
            batch_size=100,
            max_skipped=None,
        )
    finally:
        srv.shutdown()
        srv.server_close()  # release the listening socket (one per run)


_NDJSON_PATH: str | None = None
_NDJSON_WARMUP_PATH: str | None = None


def _ndjson_warmup_path(spark) -> str:
    """A 20k-record NDJSON dump for the Python-worker warmup ONLY.

    The warmup reads 20k rows; materializing the FULL corpus for it
    cost 52 GB at sf10 (60M records) and was the first ENOSPC in the
    r13 soak. Reuses the full dump when the ingest_ndjson lane already
    built it."""
    global _NDJSON_WARMUP_PATH
    if _NDJSON_PATH is not None:
        return _NDJSON_PATH
    if _NDJSON_WARMUP_PATH is None:
        from traject_spark import Pipeline
        from traject_spark.macros import serialized_marc

        out = Pipeline().to_field("json", serialized_marc("json")).apply(
            synth_marc(spark).limit(20_000)
        )
        line = (
            F.element_at(F.col("json"), 1)
            if out.schema["json"].dataType.simpleString().startswith("array")
            else F.col("json")
        )
        _NDJSON_WARMUP_PATH = _tmpdir("bench_ndjw_") + "/ndj"
        out.select(line.alias("value")).coalesce(4).write.mode(
            "overwrite"
        ).text(_NDJSON_WARMUP_PATH)
    return _NDJSON_WARMUP_PATH


def _ndjson_path(spark) -> str:
    """Materialize the synthetic corpus once as marc-in-json NDJSON
    (untimed setup) so ingest parsing itself can be timed."""
    global _NDJSON_PATH
    if _NDJSON_PATH is None:
        from traject_spark import Pipeline
        from traject_spark.macros import serialized_marc

        out = Pipeline().to_field("json", serialized_marc("json")).apply(
            synth_marc(spark)
        )
        line = (
            F.element_at(F.col("json"), 1)
            if out.schema["json"].dataType.simpleString().startswith("array")
            else F.col("json")
        )
        _NDJSON_PATH = _tmpdir("bench_ndj_") + "/ndj"
        out.select(line.alias("value")).write.mode("overwrite").text(
            _NDJSON_PATH
        )
    return _NDJSON_PATH


def b_ingest_ndjson(spark):
    """600k-record marc-in-json parse through the Arrow-batched reader."""
    from traject_spark.marc.io import read_marc_json

    noop(read_marc_json(spark, _ndjson_path(spark)))


def b_ingest_parquet_struct(spark):
    """The SAME 600k-record corpus scanned from nested-struct parquet —
    the layout `traject-spark convert` writes and every ingest
    docstring recommends (r15, VERDICT r14 #5). Direct comparison
    against ingest_ndjson / ingest_iso2709_marc8 / ingest_marcxml
    quantifies the convert-once re-parse saving: this lane is the
    recurring per-run cost AFTER a one-time convert."""
    noop(synth_marc(spark))


_MARC8_PATH: str | None = None


def _marc8_path(spark) -> str:
    """Materialize the synthetic corpus once as MARC-8 ISO 2709 binary
    (untimed setup; VERDICT r11 #7): each partition serializes its rows
    through to_iso2709(encoding='MARC-8') — values through the LoC
    converter, unencodable chars as lossless &#x...; references — so
    the timed lane measures the real MARC-8 decode path end to end."""
    global _MARC8_PATH
    if _MARC8_PATH is None:
        out_dir = _tmpdir("bench_m8_")

        def write_part(rows):
            import os

            from pyspark import TaskContext

            from traject_spark.marc.serialize import (
                struct_json_to_record, to_iso2709,
            )

            pid = TaskContext.get().partitionId()
            # roll a new file every FIXTURE_RECORDS_PER_FILE records
            # instead of repartition()-ing to the file count: the
            # repartition shuffled ~35 GB of JSON strings at sf10 and
            # its spill was half of the phase-3 ENOSPC (r13)
            seq, n, fh = 0, 0, None
            for row in rows:
                if fh is None or n >= FIXTURE_RECORDS_PER_FILE:
                    if fh is not None:
                        fh.close()
                    path = os.path.join(
                        out_dir, f"part-{pid:05d}-{seq:03d}.mrc"
                    )
                    fh = open(path, "wb")
                    seq, n = seq + 1, 0
                rec = struct_json_to_record(row["j"])
                fh.write(
                    to_iso2709(rec, allow_oversized=True, encoding="MARC-8")
                )
                n += 1
            if fh is not None:
                fh.close()

        synth_marc(spark).select(
            F.to_json("marc").alias("j")
        ).foreachPartition(write_part)
        _MARC8_PATH = out_dir
    return _MARC8_PATH


#: records per serialized ingest-fixture file: both whole-file readers
#: hold one file's content per task (binary as byte[], XML as a JVM
#: string at 2 bytes/char), so at soak scale big files OOM the shared
#: 24g local-mode heap — the sf1 soak caught exactly that (~370 MB
#: files). Writers ROLL files at this count per scan partition instead
#: of repartition()-ing to a target file count: the repartition
#: shuffled ~35 GB of JSON at sf10 and its spill drove an ENOSPC (r13).
#: Many smaller files is also the realistic corpus shape; readers
#: parallelize at file granularity either way.
FIXTURE_RECORDS_PER_FILE = 50_000


def b_ingest_iso2709_marc8(spark):
    """600k-record binary MARC parse with MARC-8 decode on executors —
    the legacy-library first workload (marc_reader.rb:27-35 parity)."""
    from traject_spark.marc.io import read_iso2709

    noop(read_iso2709(spark, _marc8_path(spark), encoding="MARC-8"))


_MARCXML_PATH: str | None = None


def _marcxml_path(spark) -> str:
    """Materialize the synthetic corpus once as MARCXML collection files
    (untimed setup): one <collection> per partition, the shape the
    reference's NokogiriReader ingests. Times the DOM parse + record
    split path (bounded batches, r12)."""
    global _MARCXML_PATH
    if _MARCXML_PATH is None:
        out_dir = _tmpdir("bench_mxml_")

        def write_part(rows):
            import os

            from pyspark import TaskContext

            from traject_spark.marc.serialize import (
                struct_json_to_record, to_marcxml,
            )

            import gzip

            pid = TaskContext.get().partitionId()
            # rolling files, no repartition — see the marc8 twin above.
            # GZIPPED: the uncompressed corpus is ~70 GB at sf10 (second
            # ENOSPC, r13); .xml.gz is also the realistic corpus shape
            # and Spark's wholetext source decompresses by extension, so
            # the timed lane measures gunzip+DOM-parse end to end.
            # compresslevel=1: fixture setup is untimed but not free
            seq, n, fh = 0, 0, None
            for row in rows:
                if fh is None or n >= FIXTURE_RECORDS_PER_FILE:
                    if fh is not None:
                        fh.write("</collection>")
                        fh.close()
                    path = os.path.join(
                        out_dir, f"part-{pid:05d}-{seq:03d}.xml.gz"
                    )
                    fh = gzip.open(
                        path, "wt", encoding="utf-8", compresslevel=1
                    )
                    fh.write(
                        '<collection xmlns="http://www.loc.gov/MARC21/slim">'
                    )
                    seq, n = seq + 1, 0
                rec = struct_json_to_record(row["j"])
                # strip the per-record ns decl: the collection carries it
                fh.write(
                    to_marcxml(rec).replace(
                        ' xmlns="http://www.loc.gov/MARC21/slim"', "", 1
                    )
                )
                n += 1
            if fh is not None:
                fh.write("</collection>")
                fh.close()

        synth_marc(spark).select(
            F.to_json("marc").alias("j")
        ).foreachPartition(write_part)
        _MARCXML_PATH = out_dir
    return _MARCXML_PATH


def b_ingest_marcxml(spark):
    """600k-record MARCXML parse: whole-file DOM + record split through
    the Arrow-batched reader (marc_reader.rb xml branch :72-74)."""
    from traject_spark.marc.io import read_marcxml

    noop(read_marcxml(spark, _marcxml_path(spark)))


def b_dedup_exact(spark):
    from traject_spark.corpus import exact_dedup

    noop(exact_dedup(spark.read.parquet(f"{SF_DIR}/documents.parquet")))


def b_decontaminate(spark):
    """GPT-3-style 13-gram benchmark decontamination: every 100th doc's
    text doubles as the eval set, so overlap is guaranteed and the
    corpus-side shingle explode (the scale-dominant stage) runs for
    real. Benchmark shingles broadcast; output is the filtered corpus."""
    from traject_spark.corpus import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench_set = docs.filter(
        (F.col("doc_id") % 100 == 0) & F.col("text").isNotNull()
    ).select("text")
    noop(decontaminate(docs, bench_set))


def b_dedup_minhash(spark):
    from traject_spark.corpus import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(minhash_lsh_candidates(docs, num_hashes=32, bands=8))


def b_dedup_minhash_witness(spark):
    """The linear-output near-dup path: one witness row per duplicate
    document instead of the quadratic-in-clique pair enumeration.
    Production shape (same as b_dedup_simhash_near): signatures
    materialized ONCE, then banding + the two id-keyed signature fetches
    read the narrow (id, sig) table via sig_col — without it the
    signature plan re-executes for each of the three consumers."""
    from traject_spark.corpus import (
        minhash_near_dup_witness,
        minhash_signature_expr,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig_path = _tmpdir("bench_msig_") + "/sigs"
    docs.select(
        "doc_id",
        minhash_signature_expr("text", num_hashes=32).alias("msig"),
    ).write.mode("overwrite").parquet(sig_path)
    sigs = spark.read.parquet(sig_path)
    noop(
        minhash_near_dup_witness(
            sigs, num_hashes=32, bands=8, min_est=0.5, sig_col="msig"
        )
    )


def b_dedup_witness_clusters(spark):
    """Witness transitive closure: pointer-doubling cluster ids over the
    witness forest — the full near-dup dedup composition a user runs
    (mark -> cluster label -> survivor = id == cluster_id). Bounded
    log-depth rounds, each one id-keyed self-join on a two-column frame."""
    from traject_spark.corpus import minhash_near_dup_clusters

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    noop(
        minhash_near_dup_clusters(
            docs, num_hashes=32, bands=8, min_est=0.5
        )
    )


def b_dedup_simhash(spark):
    from traject_spark.corpus import simhash_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(docs.select("doc_id", simhash_expr("text").alias("sig")))


def b_dedup_simhash_near(spark):
    """Banded hamming<=3 retrieval, production shape: signatures
    materialized ONCE (one scan), then the pigeonhole band self-join
    reads the narrow (id, sig) table — without materialization the
    self-join would recompute the 64-bit majority vote on both sides."""
    from traject_spark.corpus import simhash_expr, simhash_near_dup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig_path = _tmpdir("bench_sig_") + "/sigs"
    docs.select(
        "doc_id", simhash_expr("text").alias("sig")
    ).write.mode("overwrite").parquet(sig_path)
    sigs = spark.read.parquet(sig_path)
    noop(simhash_near_dup(sigs, sig_col="sig", max_distance=3, bands=4))


def b_dedup_simhash_witness(spark):
    """Linear-output SimHash marking (vs the pair-enumeration
    dedup_simhash_near): materialized signatures + sig_col, like the
    minhash witness bench."""
    from traject_spark.corpus import simhash_expr, simhash_near_dup_witness

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig_path = _tmpdir("bench_swsig_") + "/sigs"
    docs.select(
        "doc_id", simhash_expr("text").alias("sig")
    ).write.mode("overwrite").parquet(sig_path)
    sigs = spark.read.parquet(sig_path)
    noop(
        simhash_near_dup_witness(
            sigs, sig_col="sig", max_distance=3, bands=4
        )
    )


def b_embed_near_dup_witness(spark):
    """Linear-output embedding near-dup marking (vs embed_near_dup_lsh's
    pair enumeration — the slowest sf10 query, dominated by the
    candidate-pair distinct+score shuffle)."""
    from traject_spark.corpus import cosine_near_dup_witness

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    noop(cosine_near_dup_witness(emb, threshold=0.35, bits=None, tables=4))


def b_text_stats(spark):
    from traject_spark.corpus import (
        fingerprint_expr, langid_expr, quality_score_expr, token_count_expr,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(
        docs.select(
            "doc_id",
            token_count_expr(F.col("text")).alias("n_tokens"),
            quality_score_expr(F.col("text")).alias("quality"),
            langid_expr(F.col("text")).alias("lang_guess"),
            fingerprint_expr(F.col("text")).alias("fp"),
        )
    )


def b_text_quality_filter(spark):
    """The combined r13 training-data filter (VERDICT r12 #4): full
    Gopher §A1.1 component struct + 28-language trigram langid in ONE
    narrow select — the shape a 100 TB curation pass runs per document.
    The langid argmax alone evaluates 28 InSet scans over ~300 grams
    per row, so this lane is the honest cost of the credible filter
    (vs the thin marker-word text_stats lane, kept for continuity)."""
    from traject_spark.corpus import gopher_quality_expr, langid_ngram_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(
        docs.select(
            "doc_id",
            gopher_quality_expr(F.col("text")).alias("g"),
            langid_ngram_expr("text").alias("lang"),
        ).select("doc_id", "g.*", "lang")
    )


def b_text_repetition_filter(spark):
    """Gopher §A1.2 repetition struct (r14): dup line/para + char
    fractions + top-2/3/4-gram char mass, one narrow select per doc —
    the second half of the credible curation gate (§A1.1 is
    text_quality_filter). r16: the full-struct scan uses the documented
    recommended Arrow single-pass path (use_arrow=True — one
    tokenization for all eight signals, bit-identical values, parity
    pinned by tests + the text_gopher_repetition oracle row which runs
    the same path)."""
    from traject_spark.corpus import gopher_repetition_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(
        docs.select(
            "doc_id",
            gopher_repetition_expr(F.col("text"), use_arrow=True).alias("r"),
        ).select("doc_id", "r.*")
    )


def b_text_c4_filter(spark):
    """C4 §2.2 cleaning (r14): line-filter transform + page-quality
    struct in one narrow select — the third member of the curation-gate
    family (quality=Gopher A1.1, repetition=A1.2, cleaning=C4)."""
    from traject_spark.corpus import c4_quality_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    noop(
        docs.select(
            "doc_id",
            c4_quality_expr(F.col("text"), include_cleaned=True).alias("q"),
        ).select("doc_id", "q.*")
    )


def b_embed_topk(spark):
    from traject_spark.corpus import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    noop(
        brute_force_topk(
            emb.filter(F.col("vec_id") >= 8),
            emb.filter(F.col("vec_id") < 8),
            k=10,
        )
    )


_DOCS_NDJ_PATH: str | None = None
_CURATE_DIR = _tmpdir("bench_curate_")


def _docs_ndjson_path(spark) -> str:
    """documents as plain NDJSON (untimed setup) so the curation bench
    times the full ingest->curate->write path from a text format."""
    global _DOCS_NDJ_PATH
    if _DOCS_NDJ_PATH is None:
        _DOCS_NDJ_PATH = _tmpdir("bench_docsndj_") + "/docs"
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        ).write.mode("overwrite").json(_DOCS_NDJ_PATH)
    return _DOCS_NDJ_PATH


def b_corpus_curate(spark):
    """End-to-end LLM-corpus curation recipe: ingest NDJSON -> annotate
    (tokens/quality/langid/fingerprint/minhash sig, one projection) ->
    quality filter -> exact dedup -> witness near-dup marking -> write
    curated parquet. The composition a real pipeline user runs as one
    call (corpus/recipes.py)."""
    from traject_spark.corpus import curate_documents

    docs = spark.read.json(
        _docs_ndjson_path(spark), schema="doc_id long, text string"
    )
    d = tempfile.mkdtemp(dir=_CURATE_DIR)
    curate_documents(
        docs,
        min_tokens=5,
        near_dup="mark",
        num_hashes=32,
        bands=8,
        min_est=0.7,
        work_dir=f"{d}/work",
        output_path=f"{d}/curated",
    )


def b_corpus_curate_cluster(spark):
    """The curate recipe in near_dup='cluster' mode: same stages as
    corpus_curate_e2e but the near-dup tail is witness marking PLUS the
    pointer-doubling transitive closure and a cluster_id join-back —
    the one iterative operator in the repo, benched at scale so its
    rounds x shuffle behavior is measured, not asserted."""
    from traject_spark.corpus import curate_documents

    docs = spark.read.json(
        _docs_ndjson_path(spark), schema="doc_id long, text string"
    )
    d = tempfile.mkdtemp(dir=_CURATE_DIR)
    curate_documents(
        docs,
        min_tokens=5,
        near_dup="cluster",
        num_hashes=32,
        bands=8,
        min_est=0.7,
        work_dir=f"{d}/work",
        output_path=f"{d}/curated",
    )


_IVF_CENTROIDS: list | None = None


def b_ann_ivf_train(spark):
    """k-means quantizer training alone: count + hash-filter sample +
    ``iters`` assignment jobs. Timed separately from the probe so the
    one-time training cost never rides the per-query probe number
    (r8's combined window conflated the two and muddied a 1.77x drift
    read — VERDICT r8 item 4). Refreshes the cache the probe bench
    reads, so each pass's probe uses that pass's centroids."""
    global _IVF_CENTROIDS
    from traject_spark.corpus import train_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _IVF_CENTROIDS = train_centroids(
        emb.filter(F.col("vec_id") >= 8), n_centroids=8, iters=5
    )


def b_ann_ivf(spark):
    """IVF probe only: centroid scoring + broadcast cell equi-join +
    window top-k, over centroids trained by ``ann_ivf_train`` (dict
    order runs it first each pass; a BENCH_ONLY=ann_ivf_topk run trains
    lazily inside its first sample — median-of-5 absorbs that one)."""
    from traject_spark.corpus import ivf_topk

    if _IVF_CENTROIDS is None:
        b_ann_ivf_train(spark)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 8)
    noop(
        ivf_topk(
            corpus,
            emb.filter(F.col("vec_id") < 8),
            _IVF_CENTROIDS,
            k=10,
            nprobe=2,
        )
    )


#: pair-enumeration diagnostic input cap (rows). embed_near_dup_lsh is
#: the documented DIAGNOSTIC pair enumerator — its output is quadratic
#: in duplicate-clique size, and at sf10 it alone was 52% of the soak
#: wall-clock (158-378s) while the PRODUCTION pair-semantics operator
#: (embed_near_dup_witness, linear output) ran 16-27s. The soak should
#: measure the production surface: cap the diagnostic's input at
#: sf1 scale (20k rows) and report the cap loudly (no silent caps).
EMBED_LSH_DIAG_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_EMBED_LSH_MAX_ROWS", "20000")
)


_EMBED_LSH_CAPPED: bool | None = None


def _embed_lsh_input(spark):
    """The (possibly capped) embeddings frame for the pair-enumeration
    diagnostic. The cap decision needs a count() — deterministic per
    SF_DIR, so it runs ONCE (first call; main() invokes this in untimed
    setup) instead of adding a full-scan count job and a stderr print
    inside every timed sample."""
    global _EMBED_LSH_CAPPED
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    if _EMBED_LSH_CAPPED is None:
        n = emb.count()
        _EMBED_LSH_CAPPED = n > EMBED_LSH_DIAG_MAX_ROWS
        if _EMBED_LSH_CAPPED:
            print(
                f"BENCH note: embed_near_dup_lsh input capped to "
                f"{EMBED_LSH_DIAG_MAX_ROWS} of {n} rows (diagnostic pair "
                "enumerator; production pair semantics = "
                "embed_near_dup_witness)",
                file=sys.stderr,
            )
    if _EMBED_LSH_CAPPED:
        return emb.orderBy("vec_id").limit(EMBED_LSH_DIAG_MAX_ROWS)
    return emb


def b_embed_near_dup_lsh(spark):
    """DIAGNOSTIC pair enumeration (cosine_near_dup mode='lsh') — the
    headline pair-semantics number is ``embed_near_dup_witness`` (the
    linear-output production twin); this one exists to time the full
    enumerate-and-score path users run for small-corpus audits.

    bits=None auto-sizes the hash table from the corpus row count
    (2000 rows at sf0.1 -> 4 bits, matching the r1-locked settings;
    20k at sf1 -> 8 bits), keeping bucket occupancy — and candidate
    pairs per row — constant instead of quadratic as the corpus grows.
    Above EMBED_LSH_DIAG_MAX_ROWS the input is capped (lowest vec_ids,
    deterministic) so a soak measures the production operators, not a
    quadratic diagnostic."""
    from traject_spark.corpus import cosine_near_dup

    noop(
        cosine_near_dup(
            _embed_lsh_input(spark),
            threshold=0.35, mode="lsh", bits=None, tables=4,
        )
    )


BENCHES = {
    "map_full_pipeline": b_map_full,
    "map_minimum_slice": b_map_minimum,
    "map_translation": b_map_translation,
    "ingest_ndjson": b_ingest_ndjson,
    "ingest_parquet_struct": b_ingest_parquet_struct,
    "ingest_iso2709_marc8": b_ingest_iso2709_marc8,
    "ingest_marcxml": b_ingest_marcxml,
    "sink_solr_mock": b_sink_solr,
    "dedup_exact": b_dedup_exact,
    "decontaminate": b_decontaminate,
    "dedup_minhash_lsh": b_dedup_minhash,
    "dedup_minhash_witness": b_dedup_minhash_witness,
    "dedup_witness_clusters": b_dedup_witness_clusters,
    "dedup_simhash": b_dedup_simhash,
    "dedup_simhash_near": b_dedup_simhash_near,
    "dedup_simhash_witness": b_dedup_simhash_witness,
    "embed_near_dup_witness": b_embed_near_dup_witness,
    "text_stats": b_text_stats,
    "text_quality_filter": b_text_quality_filter,
    "text_repetition_filter": b_text_repetition_filter,
    "text_c4_filter": b_text_c4_filter,
    "corpus_curate_e2e": b_corpus_curate,
    "corpus_curate_cluster": b_corpus_curate_cluster,
    "embed_topk": b_embed_topk,
    "ann_ivf_train": b_ann_ivf_train,
    "ann_ivf_topk": b_ann_ivf,
    "embed_near_dup_lsh": b_embed_near_dup_lsh,
}


def _median(values: list) -> float:
    """True median: for even N average the middle pair — taking the
    upper-middle sample would bias toward this box's documented 2-4x
    stall outliers (e.g. BENCH_RUNS=2 with one stalled run would record
    the stall as the "median"). One definition for the headline and the
    stall-excluded artifact fields, so the two cannot drift."""
    srt = sorted(values)
    mid = len(srt) // 2
    return srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2


def _b1_block(run_lists, failed, observed_cal):
    """B1 (map_full_pipeline records/sec) raw + probe-normalized.
    ``observed_cal`` is the run's fastest boundary probe — the cleanest
    box-speed sample available; min-of-runs over the target record
    count is the documented stall-robust floor."""
    runs = run_lists.get("map_full_pipeline")
    if not runs or "map_full_pipeline" in failed:
        return None
    raw_sec = min(runs)
    norm = (
        raw_sec * REFERENCE_CALIBRATION / observed_cal
        if observed_cal > 0
        else raw_sec
    )
    return {
        "records": TARGET_RECORDS,
        "min_sec_raw": round(raw_sec, 3),
        "records_per_sec_raw": round(TARGET_RECORDS / raw_sec, 1),
        "observed_cal_sec": observed_cal,
        "min_sec_probe_normalized": round(norm, 3),
        "records_per_sec_probe_normalized": round(
            TARGET_RECORDS / norm, 1
        ),
    }


LOCKS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "LOCKS.json"
)


def _load_locks(path: str = "") -> dict:
    """Load LOCKS.json (qualified-window per-query minimums, recorded
    once by tools/record_locks.py under the window-qualification gate —
    policy in docs/extending.md). Returns {} when absent/unreadable so
    a bench run never fails on lock bookkeeping."""
    try:
        with open(path or LOCKS_PATH, "r", encoding="utf-8") as fh:
            data = json.load(fh)
        return data if isinstance(data, dict) else {}
    except (OSError, ValueError):
        return {}


#: lock-drift noise floor (VERDICT r11 #3): sub-second mins on this box
#: wander ±13-31% between same-round A/B invocations (AB_FINDINGS_r11 —
#: rel_pricing_summary read 1.28x of a lock recorded the SAME round),
#: so a ratio over a sub-second lock measures scheduler noise, not
#: drift. Queries whose lock is under this floor ratio against the
#: floor instead: a genuine regression still surfaces once it crosses
#: ~1.2s, while sub-second jitter stops reading as 1.3x "drift".
LOCK_NOISE_FLOOR_SEC = 1.0


def _vs_lock(min_queries: dict, locks: dict, target_records=None) -> dict:
    """Per-query drift ratio: this run's min over the LOCKS.json min,
    with sub-floor locks clamped to LOCK_NOISE_FLOOR_SEC (see above).
    Only queries present in both, with positive locks, are ratioed —
    a rotated-in query simply has no ratio until locks re-record.
    A soak run at a different record count (SPARK_GRAFT_TARGET_RECORDS)
    gets NO ratios: 10x the data legitimately reads ~6-10x the lock and
    a meaningless 'drift' in the artifact is worse than none."""
    lock_records = locks.get("target_records")
    if (
        lock_records is not None
        and target_records is not None
        and lock_records != target_records
    ):
        return {}
    lock_mins = locks.get("min_queries") or {}
    out = {}
    for name, cur in (min_queries or {}).items():
        lock = lock_mins.get(name)
        if isinstance(lock, (int, float)) and lock > 0 and cur is not None:
            out[name] = round(cur / max(lock, LOCK_NOISE_FLOOR_SEC), 2)
    return out


#: budget for the compact final stdout line: the driver records only the
#: LAST 2000 chars of stdout — anything longer truncates mid-JSON and the
#: artifact of record loses its own qualification stamp (VERDICT r10 #1)
COMPACT_BUDGET = 1900


def _compact_summary(payload: dict) -> str:
    """The FINAL stdout line: a self-contained <=1900-char JSON summary
    that survives the driver's 2000-char tail. Carries the driver
    contract keys (metric/value/unit/queries/sf) plus the window stamp,
    calibrations, B1 raw+normalized, the flagship build cost, and
    per-query [min, vs_lock] pairs under 'minlock' as a LIST aligned
    with the 'queries' key order (r13: the dict form repeated every
    query name and overflowed the budget at 30 lanes; consumers zip
    with queries.keys() — tools/ab_bench.py handles both shapes).
    Precision and then minlock degrade if an unusually wide query set
    would overflow the budget (the full-precision artifact is the
    preceding verbose line + BENCH_full_last.json)."""
    b1 = payload.get("b1") or {}
    vs_lock = payload.get("vs_lock") or {}
    mins = payload.get("min_queries") or {}
    ratios = sorted(vs_lock.values())

    def build(ndigits: int, with_minlock: bool) -> dict:
        out = {
            "metric": payload.get("metric", "total_bench_sec"),
            "value": payload.get("value"),
            "unit": "sec",
            "sf": payload.get("sf"),
            "window": payload.get("window"),
            "w_margin": payload.get("window_margin"),
            "cal": [
                (payload.get("calibration") or {}).get("start_sec"),
                (payload.get("calibration") or {}).get("end_sec"),
            ],
            "build_sec": payload.get("map_full_pipeline_build_sec"),
            "b1_rps_raw": b1.get("records_per_sec_raw"),
            "b1_rps_norm": b1.get("records_per_sec_probe_normalized"),
            "vsl_med": (
                round(_median(ratios), 2) if ratios else None
            ),
            "queries": {
                n: round(v, ndigits)
                for n, v in (payload.get("queries") or {}).items()
            },
        }
        if with_minlock:
            out["minlock"] = [
                [
                    round(mins[n], ndigits) if n in mins else None,
                    vs_lock.get(n),
                ]
                for n in out["queries"]
            ]
        return out

    for ndigits, with_minlock in ((2, True), (1, True), (2, False)):
        line = json.dumps(build(ndigits, with_minlock))
        if len(line) <= COMPACT_BUDGET:
            return line
    # last resort: shed query ENTRIES (never slice the JSON text — a
    # truncated line is exactly the unparseable artifact this exists to
    # prevent); 'queries_dropped' makes the shedding visible
    minimal = build(1, False)
    names = sorted(minimal["queries"])
    while names:
        names = names[: max(0, len(names) - 5)]
        shed = dict(minimal)
        shed["queries"] = {n: minimal["queries"][n] for n in names}
        shed["queries_dropped"] = len(minimal["queries"]) - len(names)
        line = json.dumps(shed)
        if len(line) <= COMPACT_BUDGET:
            return line
    minimal["queries"] = {}
    minimal["queries_dropped"] = -1
    return json.dumps(minimal)


def _artifact_name(partial: bool, window) -> str:
    """Disk slot for this run's full-fidelity payload (see the routing
    comment at the dump site): official slot ONLY for qualified full
    runs."""
    if partial:
        return "BENCH_partial_last.json"
    if window != "ok":
        return "BENCH_full_last.degraded.json"
    return "BENCH_full_last.json"


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = session()
    t0 = time.time()
    # median of N runs per query: single-run timings on this box wobble
    # 2-4x — the VM occasionally stalls whole runs (host scheduling, not
    # GC: measured total GC pause is ~3.6s across a full probe while
    # outlier runs lose 10-30s) — so a wider median window is the only
    # effective defense; 5 runs tolerates two polluted ones
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # comma-separated allowlist for local iteration (full set when unset)
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    selected = [
        (name, fn) for name, fn in BENCHES.items() if not only or name in only
    ]
    selected_names = {name for name, _ in selected}
    # setup/warmup gated on what the selection actually touches — a
    # BENCH_ONLY=text_* iteration run must not pay minutes of MARC corpus
    # materialization + full-size pipeline warmup it never reads
    marc_benches = {
        "map_full_pipeline", "map_minimum_slice", "map_translation",
        "sink_solr_mock", "ingest_ndjson", "ingest_parquet_struct",
    }
    if "ingest_marcxml" in selected_names:
        t_mx = time.time()
        _marcxml_path(spark)  # untimed setup: MARCXML twin
        print(
            f"BENCH setup marcxml corpus: {time.time() - t_mx:.1f}s",
            file=sys.stderr,
        )
    if "ingest_iso2709_marc8" in selected_names:
        t_m8 = time.time()
        _marc8_path(spark)  # untimed setup: MARC-8 ISO2709 twin
        print(
            f"BENCH setup marc8 corpus: {time.time() - t_m8:.1f}s",
            file=sys.stderr,
        )
    if selected_names & marc_benches:
        t0 = time.time()  # the marcxml/marc8 gates may have consumed it
        synth_marc(spark)  # untimed setup: materialize the synth corpus
        if "ingest_ndjson" in selected_names:
            # the FULL NDJSON corpus is 52 GB at sf10 — only the lane
            # that times it gets to build it (r13 ENOSPC)
            _ndjson_path(spark)
        print(
            f"BENCH setup synth_marc+ndjson: {time.time() - t0:.1f}s",
            file=sys.stderr,
        )
        # untimed warmup (the reference harness does the same:
        # benchmark-ips 2s warmup phase, index_bench/index_bench.rb:18-30)
        # — one FULL-SIZE pass of the mapping pipeline JIT-compiles the
        # interpreted HOF expression paths on every executor thread before
        # the first timed query (a 5k-row warmup leaves most of the 32
        # threads cold and makes the first timed run 2x noisy)
        t0 = time.time()
        _full_pipeline().apply(synth_marc(spark)).write.mode(
            "overwrite"
        ).format("noop").save()
        # spin up the Python worker pool + Arrow serialization off the
        # clock (first pandas/mapInPandas query otherwise pays worker
        # fork + import)
        from traject_spark.marc.io import read_marc_json

        read_marc_json(spark, _ndjson_warmup_path(spark)).limit(
            20_000
        ).write.mode("overwrite").format("noop").save()
        print(f"BENCH warmup: {time.time() - t0:.1f}s", file=sys.stderr)
    spark.range(100_000).groupBy((F.col("id") % 100).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()  # initialize shuffle machinery off the clock
    cal_start, cal_attempts, window = _qualify_window(spark)
    py_start = py_probe(spark)
    print(
        f"BENCH calibration (start): {cal_start}s (py probe {py_start}s, "
        f"window {window})",
        file=sys.stderr,
    )
    # flagship BUILD cost, timed separately (VERDICT r9 item 6): driver-
    # side expression construction rivals execution (~18k Py4J round
    # trips) and a build regression — someone un-SQLing a fast path —
    # would otherwise hide inside the end-to-end wall time until it eats
    # the B1 gate. Median-of-3 fresh compiles.
    build_sec = None
    if "map_full_pipeline" in selected_names:
        builds = []
        for _ in range(3):
            t0 = time.time()
            _full_pipeline().compile()
            builds.append(time.time() - t0)
        build_sec = round(_median(builds), 3)
        print(
            f"BENCH map_full_pipeline build: {build_sec}s "
            f"(runs: {[round(b, 2) for b in builds]})",
            file=sys.stderr,
        )
    if any(name == "corpus_curate_e2e" for name, _ in selected):
        # untimed setup for the curation bench: without this the FIRST
        # timed run pays the one-time full-table NDJSON dump and the
        # artifact carries a fake first-run stall
        t0 = time.time()
        _docs_ndjson_path(spark)
        print(
            f"BENCH setup docs_ndjson: {time.time() - t0:.1f}s",
            file=sys.stderr,
        )
    if "embed_near_dup_lsh" in selected_names:
        # untimed: decide (and announce) the diagnostic's input cap once
        # — its count() job must not ride inside every timed sample
        _embed_lsh_input(spark)
    # ROUND-ROBIN passes, not N back-to-back runs per query: this box's
    # stalls come in multi-second windows (host scheduling of the microVM)
    # — five consecutive runs of one query can ALL land inside one bad
    # window and poison its median (r5: map_translation recorded 4.2s
    # in-sequence vs 1.93s isolated). Interleaving spreads each query's
    # N samples across the whole bench wall-clock, so a stall pollutes one
    # sample of several queries instead of every sample of one query.
    run_lists: dict[str, list[float]] = {name: [] for name, _ in selected}
    failed: dict[str, str] = {}
    pass_probes: list[float] = []
    py_pass_probes: list[float] = []
    for pass_i in range(n_runs):
        for name, fn in selected:
            if name in failed:
                continue
            try:
                spark._jvm.System.gc()  # level the heap between queries
                t0 = time.time()
                fn(spark)
                run_lists[name].append(time.time() - t0)
            except Exception as e:  # keep the harness alive; flag failure
                failed[name] = str(e)
                print(f"BENCH FAIL {name}: {e}", file=sys.stderr)
        # per-pass box-speed stamp: localizes a host stall to the passes
        # it polluted (see calibration_single); the py probe stamps the
        # Python-driver path the JVM probe is blind to
        pass_probes.append(calibration_single(spark))
        py_pass_probes.append(py_probe_single(spark))
        print(
            f"BENCH pass {pass_i + 1}/{n_runs} done "
            f"({sum(sum(r) for r in run_lists.values()):.1f}s timed so far, "
            f"probe {pass_probes[-1]}s, py {py_pass_probes[-1]}s)",
            file=sys.stderr,
        )
    timings: dict[str, float] = {}
    for name, runs in run_lists.items():
        if name in failed or not runs:
            timings[name] = -1.0
            continue
        timings[name] = round(_median(runs), 3)
        print(
            f"BENCH {name}: {timings[name]}s "
            f"(runs in order: {[round(r, 2) for r in runs]})",
            file=sys.stderr,
        )
    cal_end = calibration(spark)
    py_end = py_probe(spark)
    print(
        f"BENCH calibration (end): {cal_end}s (py probe {py_end}s)",
        file=sys.stderr,
    )
    # final verdict includes the END calibration: a box that degraded
    # mid-run stamps 'ok-degrading' (mins are upper bounds vs locks)
    window = _window_status(cal_attempts, cal_end)
    # measured distance to the qualification threshold (VERDICT r12
    # what's-wrong #2): a 0.0005s miss reads the same as a genuinely
    # slow box without it. Negative = the deciding calibration missed
    # the threshold by that much; positive = cleared with that margin.
    _threshold = WINDOW_DEGRADED_FACTOR * REFERENCE_CALIBRATION
    _boundaries = ([cal_attempts[-1]] if cal_attempts else []) + (
        [cal_end] if cal_end is not None else []
    )
    window_margin = (
        round(_threshold - max(_boundaries), 4) if _boundaries else None
    )
    # stall-excluded medians over the per-pass boundary probes — the
    # decision rule lives in _stall_flags/_stall_excluded (unit-tested);
    # B1 normalization shares the same baseline via _boundary_ref
    stalled = _stall_flags(cal_start, pass_probes)
    ref = _boundary_ref(cal_start, pass_probes)
    excluded_medians, excluded_counts = _stall_excluded(
        run_lists, failed, stalled
    )
    if any(stalled):
        print(
            f"BENCH stall-excluded medians over passes "
            f"{[i for i, s in enumerate(stalled) if not s]}: "
            f"{excluded_medians}",
            file=sys.stderr,
        )
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # the per-run lists ride INSIDE the verbose JSON artifact: a single
    # recorded median is not auditable against environment stalls
    # without its samples. The verbose line prints FIRST; the compact
    # self-contained summary prints LAST (the driver keeps only the
    # final 2000 chars of stdout — VERDICT r10 #1)
    payload = (
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": {
                    n: [round(r, 3) for r in rs] for n, rs in run_lists.items()
                },
                # stall-robust floor per query: this box's outlier runs
                # are 2-4x host-scheduling stalls, so the min is the
                # best estimate of what the CODE costs (the median is
                # the honest in-sequence headline; both are recorded)
                "min_queries": {
                    n: round(min(rs), 3)
                    for n, rs in run_lists.items()
                    if rs and n not in failed
                },
                # box-speed reference: a fixed pure-JVM job timed before
                # the first and after the last query — lets a reader
                # separate environment drift from code regressions
                # window self-qualification (VERDICT r9 item 1): 'ok'
                # means the start calibration (after up to
                # WINDOW_RETRIES retries) read within
                # WINDOW_DEGRADED_FACTOR of the reference — medians are
                # comparable to locks as recorded. 'degraded' means
                # every attempt was slow: normalize before comparing.
                "window": window,
                # distance of the worst deciding boundary calibration to
                # the threshold: negative = missed by this much (a
                # -0.0005 marginal window is readable as such; r12's
                # verdict could not distinguish it from a 3s stall)
                "window_margin": window_margin,
                # flagship driver-side compile cost, median-of-3 — a
                # build regression is invisible in end-to-end wall time
                # until it eats the B1 gate
                "map_full_pipeline_build_sec": build_sec,
                "calibration": {
                    "workload": CALIBRATION_WORKLOAD,
                    "start_sec": cal_start,
                    "start_attempts": cal_attempts,
                    "end_sec": cal_end,
                    # one single-run probe after each round-robin pass:
                    # pass_probes[i] stamps the box speed around pass i,
                    # so a mid-run host stall is attributable to the
                    # specific passes it polluted
                    "pass_probes": pass_probes,
                    "stall_rule": (
                        f"pass stalled iff either adjacent boundary probe"
                        f" (start calibration + pass_probes) >= "
                        f"{STALL_PROBE_FACTOR} * the fastest boundary "
                        "probe (incl. start calibration); relaxed to "
                        "one-sided vs the same baseline when fewer "
                        "than 2 passes survive"
                    ),
                    "reference_sec": REFERENCE_CALIBRATION,
                },
                # the Python-driver-path twin of the JVM probe: plan
                # construction + analysis + a tiny job. The JVM probe
                # was flat across r8's broad slowdown of Python-planned
                # queries — this one measures the path it missed.
                "py_probe": {
                    "workload": PY_PROBE_WORKLOAD,
                    "start_sec": py_start,
                    "end_sec": py_end,
                    "pass_probes": py_pass_probes,
                },
                # medians excluding stalled passes' samples — ALWAYS
                # populated (== raw medians when nothing stalled; a
                # query with < 2 surviving samples also falls back to
                # its raw median). stall_excluded_counts records how
                # many samples the rule dropped per query; the raw
                # in-sequence medians above stay the headline.
                "medians_stall_excluded": excluded_medians,
                "stall_excluded_counts": excluded_counts,
                "stalled_passes": [
                    i for i, s in enumerate(stalled) if s
                ],
                # B1 headline, raw and probe-normalized (README rule:
                # sec * REFERENCE_CALIBRATION / observed_cal, using the
                # fastest boundary probe as the run's observed box
                # speed): the normalized number is comparable across
                # rounds recorded on different box-speed windows
                "b1": _b1_block(run_lists, failed, ref),
                # same lenient parse as _target_records ('0.1.2'.replace
                # ('.','').isdigit() is True but float() would crash here)
                "sf": _parse_sf(sf),
                # scale stamp independent of whether the B1 lane ran:
                # lock tooling refuses cross-scale adoption on it
                "target_records": TARGET_RECORDS,
            }
    )
    # per-query drift vs the qualified-window locks (LOCKS.json; policy
    # in docs/extending.md) — rides in BOTH the verbose line and the
    # compact summary so the official artifact carries the ratios
    payload["vs_lock"] = _vs_lock(
        payload["min_queries"], _load_locks(), TARGET_RECORDS
    )
    payload["lock_noise_floor_sec"] = LOCK_NOISE_FLOOR_SEC
    print(json.dumps(payload))
    # full-fidelity copy on disk: the driver's artifact keeps only a
    # 2000-char stdout tail, so the run lists/probes must live somewhere
    # a later A/B can read them even for driver-initiated runs. ROUTED
    # by run kind (r15 — the r13 AND r14 wrap commits both committed a
    # degraded working-tree file over the official slot, the drift the
    # stamp test catches after the fact; this makes it structurally
    # impossible): only a FULL selection on a QUALIFIED window may
    # touch BENCH_full_last.json — partial lane runs go to
    # BENCH_partial_last.json, degraded full runs to
    # BENCH_full_last.degraded.json, so "commit whatever is in the
    # working tree" can never replace the official artifact with a
    # non-official run.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                _artifact_name(bool(only), payload.get("window")),
            ),
            "w",
            encoding="utf-8",
        ) as fh:
            json.dump(payload, fh)
    except OSError as e:
        print(f"BENCH full-payload dump failed: {e}", file=sys.stderr)
    print(_compact_summary(payload))
    spark.stop()


if __name__ == "__main__":
    main()
