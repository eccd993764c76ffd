#!/usr/bin/env python
"""Lane runner: one timed lane per public traject_spark operator.

The benchmark of record is ``perfbench/`` (BENCHMARK.json); this is the
per-operator view, at the scale of traject's own ``index_bench.rb``. Each
lane runs once untimed (building its inputs and warming the JVM, like
benchmark-ips's warm-up), then ``RUNS`` round-robin passes time it.

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<dir> python bench.py

``$SPARK_GRAFT_SF_DIR`` holds ``documents.parquet`` and
``embeddings.parquet``; its ``sf`` suffix scales the synthetic MARC corpus
(``RECORDS_PER_SF`` records per unit). ``$SPARK_GRAFT_CPUS`` sets
``local[N]``; ``perfbench.host`` sizes the rest from the host (a quarter of
physical memory as heap, ParallelGC). Progress goes to stderr; stdout gets
one JSON line, ``{"metric": "total_bench_sec", "value", "unit": "sec",
"queries": {lane: median sec, or -1.0 if the lane failed}, "sf"}``, where
``value`` sums the lanes that did not fail.
"""

from __future__ import annotations

import contextlib
import http.server
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
from functools import cached_property
from statistics import median

from pyspark.sql import functions as F

from __spark_entry__ import flagship_pipeline
from perfbench import fixtures, host
from traject_spark import Pipeline, corpus
from traject_spark.macros import extract_marc, serialized_marc
from traject_spark.marc import io as marc_io
from traject_spark.synth import marc_from_documents
from traject_spark.writers import solr_json_writer

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.abspath(
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
)
#: timed passes per lane, after the untimed warm-up pass
RUNS = 3
#: synthetic MARC records per unit of scale factor (600k at sf0.1)
RECORDS_PER_SF = 6_000_000
#: records per MARCXML fixture file: the reader holds a whole file per task
XML_RECORDS_PER_FILE = 50_000


def parse_sf(sf_dir: str):
    """Scale factor from the dir's ``sf`` suffix; the raw suffix when it is
    not a number."""
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return tail


def session(work: str):
    """A host-sized session (``perfbench.host``) whose Python workers and
    fixture subprocesses import this checkout; scratch files go to
    ``work``."""
    os.chdir(REPO)
    host.configure_env(work)
    return host.start_session(work)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class NullSolr(http.server.BaseHTTPRequestHandler):
    """Answers every update with 200 at once, over keep-alive HTTP/1.1 with
    TCP_NODELAY as Jetty serves it, so only the sink's own cost is timed."""

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


@contextlib.contextmanager
def null_solr():
    """Serve :class:`NullSolr` on a loopback port; yields the core URL."""
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), NullSolr)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/solr/core"
    finally:
        srv.shutdown()
        srv.server_close()


class Inputs:
    """Lane inputs under ``work``, each built on first use."""

    def __init__(self, spark, work: str, records=None):
        self.spark, self.work = spark, work
        sf = parse_sf(SF_DIR)
        scale = sf if isinstance(sf, float) else 0.1
        self.records = records or max(1, int(RECORDS_PER_SF * scale))

    def table(self, name: str):
        return self.spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    @cached_property
    def marc_path(self) -> str:
        """``records`` synthetic MARC records as nested-struct parquet: the
        documents replicated, then ``marc_from_documents``."""
        docs = self.table("documents")
        reps = max(1, self.records // max(docs.count(), 1))
        replicated = docs.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("r")
        ).select(
            (F.col("doc_id") * reps + F.col("r")).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        path = os.path.join(self.work, "marc")
        marc = marc_from_documents(replicated).repartition(host.cpus())
        marc.write.parquet(path)
        return path

    def marc(self):
        return self.spark.read.parquet(self.marc_path)

    @cached_property
    def marc_json_path(self) -> str:
        """The corpus as marc-in-json NDJSON."""
        out = Pipeline().to_field("json", serialized_marc("json")).apply(
            self.marc()
        )
        path = os.path.join(self.work, "marc_json")
        out.select(F.col("json")[0]).write.text(path)
        return path

    @cached_property
    def marc8_path(self) -> str:
        """``records`` MARC-8 ISO 2709 records from perfbench's generator."""
        return fixtures.marc8_iso2709(
            self.spark, os.path.join(self.work, "marc8"), seed=1,
            n=self.records, cpus=host.cpus(),
        ).root

    @cached_property
    def marcxml_path(self) -> str:
        """The corpus as gzipped MARCXML collections of at most
        ``XML_RECORDS_PER_FILE`` records each."""
        out = os.path.join(self.work, "marcxml")
        os.makedirs(out)

        def write_part(rows):
            import gzip

            from pyspark import TaskContext

            from traject_spark.marc.serialize import (
                struct_json_to_record, to_marcxml,
            )

            ns = ' xmlns="http://www.loc.gov/MARC21/slim"'
            path = f"{out}/part-{TaskContext.get().partitionId():05d}.xml.gz"
            with gzip.open(path, "wt", encoding="utf-8", compresslevel=1) as fh:
                fh.write(f"<collection{ns}>")
                for row in rows:
                    # the collection declares the namespace once
                    rec = to_marcxml(struct_json_to_record(row["j"]))
                    fh.write(rec.replace(ns, "", 1))
                fh.write("</collection>")

        n_files = max(host.cpus(), -(-self.records // XML_RECORDS_PER_FILE))
        self.marc().repartition(n_files).select(
            F.to_json("marc").alias("j")
        ).foreachPartition(write_part)
        return out

    @cached_property
    def docs_json_path(self) -> str:
        """The documents as NDJSON, so curation starts from a text format."""
        path = os.path.join(self.work, "docs_json")
        self.table("documents").select("doc_id", "text").write.json(path)
        return path


def map_full_pipeline(spark, inp):
    noop(flagship_pipeline().apply(inp.marc()))


def ingest_ndjson(spark, inp):
    noop(marc_io.read_marc_json(spark, inp.marc_json_path))


def ingest_iso2709_marc8(spark, inp):
    noop(marc_io.read_iso2709(spark, inp.marc8_path, encoding="MARC-8"))


def ingest_marcxml(spark, inp):
    noop(marc_io.read_marcxml(spark, inp.marcxml_path))


def sink_solr_mock(spark, inp):
    out = Pipeline().to_field("title", extract_marc("245ab")).apply(inp.marc())
    with null_solr() as url:
        solr_json_writer(out, url, batch_size=100, max_skipped=None)


def dedup_exact(spark, inp):
    noop(corpus.exact_dedup(inp.table("documents")))


def decontaminate(spark, inp):
    """Every 100th document doubles as the benchmark set, so the corpus
    side's 13-gram explode runs against real overlap."""
    docs = inp.table("documents")
    bench_set = docs.filter(
        (F.col("doc_id") % 100 == 0) & F.col("text").isNotNull()
    ).select("text")
    noop(corpus.decontaminate(docs, bench_set))


def dedup_minhash_lsh(spark, inp):
    docs = inp.table("documents")
    noop(corpus.minhash_lsh_candidates(docs, num_hashes=32, bands=8))


def embed_near_dup_witness(spark, inp):
    noop(corpus.cosine_near_dup_witness(
        inp.table("embeddings"), threshold=0.35, bits=None, tables=4
    ))


def text_quality_filter(spark, inp):
    noop(inp.table("documents").select(
        "doc_id",
        corpus.gopher_quality_expr(F.col("text")).alias("g"),
        corpus.langid_ngram_expr("text").alias("lang"),
    ).select("doc_id", "g.*", "lang"))


def text_repetition_filter(spark, inp):
    text = F.col("text")
    noop(inp.table("documents").select(
        "doc_id", corpus.gopher_repetition_expr(text, use_arrow=True).alias("r")
    ).select("doc_id", "r.*"))


def text_c4_filter(spark, inp):
    text = F.col("text")
    noop(inp.table("documents").select(
        "doc_id", corpus.c4_quality_expr(text, include_cleaned=True).alias("q")
    ).select("doc_id", "q.*"))


def corpus_curate_cluster(spark, inp):
    """annotate -> exact dedup -> MinHash witness -> ``witness_clusters``,
    from NDJSON to curated parquet."""
    docs = spark.read.json(inp.docs_json_path, schema="doc_id long, text string")
    d = tempfile.mkdtemp(dir=inp.work)
    corpus.curate_documents(
        docs, min_tokens=5, near_dup="cluster", num_hashes=32, bands=8,
        min_est=0.7, work_dir=f"{d}/work", output_path=f"{d}/curated",
    )


def embed_topk(spark, inp):
    emb = inp.table("embeddings")
    noop(corpus.brute_force_topk(
        emb.filter(F.col("vec_id") >= 8), emb.filter(F.col("vec_id") < 8), k=10
    ))


def ann_ivf_topk(spark, inp):
    """k-means quantizer training, then one IVF probe over its cells."""
    emb = inp.table("embeddings")
    base = emb.filter(F.col("vec_id") >= 8)
    centroids = corpus.train_centroids(base, n_centroids=8, iters=5)
    noop(corpus.ivf_topk(
        base, emb.filter(F.col("vec_id") < 8), centroids, k=10, nprobe=2
    ))


#: (name, lane) pairs; a lane is ``fn(spark, inputs)`` and is timed whole
LANES = (
    ("map_full_pipeline", map_full_pipeline),
    ("ingest_ndjson", ingest_ndjson),
    ("ingest_iso2709_marc8", ingest_iso2709_marc8),
    ("ingest_marcxml", ingest_marcxml),
    ("sink_solr_mock", sink_solr_mock),
    ("dedup_exact", dedup_exact),
    ("decontaminate", decontaminate),
    ("dedup_minhash_lsh", dedup_minhash_lsh),
    ("embed_near_dup_witness", embed_near_dup_witness),
    ("text_quality_filter", text_quality_filter),
    ("text_repetition_filter", text_repetition_filter),
    ("text_c4_filter", text_c4_filter),
    ("corpus_curate_cluster", corpus_curate_cluster),
    ("embed_topk", embed_topk),
    ("ann_ivf_topk", ann_ivf_topk),
)


def run(spark, inp, lanes) -> dict:
    """Median seconds per lane over ``RUNS`` round-robin passes that follow
    one untimed warm-up pass; -1.0 for a lane that raised. Round-robin
    spreads each lane's samples over the whole run, so a slow spell of the
    host costs one sample of several lanes, not every sample of one."""
    samples: dict = {name: [] for name, _ in lanes}
    failed: set = set()
    for i in range(RUNS + 1):
        for name, fn in lanes:
            if name in failed:
                continue
            t0 = time.perf_counter()
            try:
                fn(spark, inp)
            except Exception:  # the other lanes still run
                failed.add(name)
                print(f"bench: {name} failed", file=sys.stderr)
                traceback.print_exc()
                continue
            if i:
                samples[name].append(time.perf_counter() - t0)
        print(f"bench: pass {i}/{RUNS} done", file=sys.stderr)
    return {
        name: -1.0 if name in failed else round(median(s), 3)
        for name, s in samples.items()
    }


def result_line(timings: dict, sf) -> str:
    total = sum(t for t in timings.values() if t >= 0)
    return json.dumps({
        "metric": "total_bench_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    })


def main() -> None:
    work = tempfile.mkdtemp(prefix="bench_")
    try:
        spark = session(work)
        try:
            timings = run(spark, Inputs(spark, work), LANES)
        finally:
            host.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(result_line(timings, parse_sf(SF_DIR)))


if __name__ == "__main__":
    main()
