"""The benchmark workloads: fixture, timed job, correctness check and the
isolated layer passes of the traced run.

Each workload's ``job`` is the whole traject job as a user runs it through
the library's public calls; the harness times it from the first reader
call until the sink returns. ``check`` counts the records that failed the
workload's correctness check. ``layers`` runs one isolated pass per layer
the workload exercises and returns that layer's metrics (layers a workload
does not run report 0) with the records its checks attempted and failed.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os

from perfbench import fixtures
from perfbench.ledger import peak, total

#: fixed per-request hold of the mock Solr
SOLR_SERVICE_S = 0.002
SOLR_BATCH = 100

#: every per-layer metric of the traced run, with its unit
PER_LAYER = {
    "marc.io.read_s": "s", "marc.io.records_out": "count",
    "marc.io.parse_errors": "count",
    "pipeline.build_s": "s", "pipeline.plan_s": "s",
    "pipeline.exchanges": "count",
    "macros.map_s": "s", "macros.codegen_ms": "ms",
    "macros.python_eval_ms": "ms",
    "writers.ndjson_write_s": "s", "writers.solr_post_s": "s",
    "writers.solr_batches": "count", "writers.solr_retries": "count",
    "writers.solr_skipped": "count", "writers.solr_wait_s": "s",
    "writers.bytes_out": "bytes",
    "corpus.annotate_s": "s", "corpus.signature_s": "s",
    "corpus.band_shuffle_bytes": "bytes", "corpus.candidate_pairs": "count",
    "corpus.witness_rows": "count", "corpus.candidate_yield": "ratio",
    "corpus.cluster_rounds": "count", "corpus.cluster_s": "s",
    "exec.scan_ms": "ms", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_fetch_wait_ms": "ms", "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio", "trace.overhead_frac": "ratio",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path) for f in names
        if not f.startswith((".", "_"))
    )


def _flagship():
    from __spark_entry__ import flagship_pipeline

    return flagship_pipeline()


def _timed(ledger, name: str, fn):
    with ledger.span(name) as s:
        result = fn()
    return ledger.seconds(s), result


def _id_check(out_dir: str, n: int) -> int:
    """Records of ``0..n-1`` missing from, duplicated in or foreign to the
    NDJSON output."""
    seen: collections.Counter = collections.Counter()
    for name in os.listdir(out_dir):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            seen.update(json.loads(line).get("record_id") for line in fh)
    return _id_failures(seen, n)


def _id_failures(seen: dict, n: int) -> int:
    """Failures of a ``{id: times received}`` tally against ids ``0..n-1``:
    every id missing, every extra copy, every foreign id."""
    missing = sum(1 for i in range(n) if str(i) not in seen)
    extra = sum(c - 1 for c in seen.values())
    foreign = sum(
        c for i, c in seen.items()
        if not (isinstance(i, str) and i.isdigit() and int(i) < n)
    )
    return missing + extra + foreign


def _solr_check(mock, n: int, skipped: int) -> int:
    return _id_failures(mock.ids, n) + skipped


def _span(ledger, name: str):
    return contextlib.nullcontext() if ledger is None else ledger.span(name)


class Marc8IndexNdjson:
    """MARC-8 ISO-2709 files -> ``read_iso2709`` -> flagship pipeline ->
    ``write_json``. The traced run also posts the mapped output to the
    mock Solr, so both sinks are measured on the same documents."""

    name = "marc8_index_ndjson"
    records = 12_000
    tiny = 400
    #: a pass is short next to the host's noise, so take more of them
    min_passes = 4
    gen_needs_spark = True

    def prepare(self, spark, root, seed, n, cpus):
        return fixtures.marc8_iso2709(spark, root, seed, n, cpus)

    def read(self, spark, paths):
        from traject_spark.marc.io import read_iso2709

        return read_iso2709(spark, paths, encoding="MARC-8")

    def job(self, spark, paths, out, mock, ledger=None):
        """Traced, the driver build, the planning (forced here, so it runs
        twice) and exec are spans."""
        from traject_spark.writers import write_json

        with _span(ledger, "pipeline.build"):
            mapped = _flagship().apply(self.read(spark, paths))
        if ledger is not None:
            with ledger.span("pipeline.plan"):
                mapped._jdf.queryExecution().executedPlan()
        with _span(ledger, "exec"):
            write_json(mapped, out)

    def check(self, fx, out, mock) -> int:
        return _id_check(out, fx.records)

    def layers(self, spark, fx, work: str, ledger, mock) -> tuple:
        from traject_spark.writers import solr_json_writer, write_json, write_noop

        m = dict.fromkeys(PER_LAYER, 0)
        m["marc.io.read_s"], _ = _timed(
            ledger, "layer.read",
            lambda: write_noop(self.read(spark, fx.files)))
        rows = ledger.collect("layer.read")
        m["marc.io.records_out"] = int(peak(rows, "number of output rows"))
        m["marc.io.parse_errors"] = fx.records - m["marc.io.records_out"]

        struct_path = os.path.join(work, "layer_struct")
        self.read(spark, fx.files).write.parquet(struct_path)
        struct = spark.read.parquet(struct_path)
        ledger.collect("materialize.struct")
        with ledger.span("layer.map"):
            with ledger.span("pipeline.build") as b:
                mapped = _flagship().apply(struct)
            with ledger.span("pipeline.plan") as p:
                plan = mapped._jdf.queryExecution().executedPlan().toString()
            with ledger.span("macros.exec") as x:
                write_noop(mapped)
        rows = ledger.collect("layer.map")
        m["pipeline.build_s"] = ledger.seconds(b)
        m["pipeline.plan_s"] = ledger.seconds(p)
        m["pipeline.exchanges"] = plan.count("Exchange")
        m["macros.map_s"] = ledger.seconds(x)
        m["macros.codegen_ms"] = total(rows, "duration", "WholeStageCodegen")
        m["macros.python_eval_ms"] = total(rows, "time to run Python workers")

        mapped_path = os.path.join(work, "layer_mapped")
        _flagship().apply(struct).write.parquet(mapped_path)
        ledger.collect("materialize.mapped")
        mapped = spark.read.parquet(mapped_path)
        ndjson = os.path.join(work, "layer_ndjson")
        m["writers.ndjson_write_s"], _ = _timed(
            ledger, "layer.ndjson", lambda: write_json(mapped, ndjson))
        ledger.collect("layer.ndjson")
        m["writers.bytes_out"] = _dir_bytes(ndjson)
        mock.reset()
        m["writers.solr_post_s"], skipped = _timed(
            ledger, "layer.solr",
            lambda: solr_json_writer(mapped, mock.url, batch_size=SOLR_BATCH,
                                     max_skipped=None))
        ledger.collect("layer.solr")
        m["writers.solr_batches"] = mock.requests
        m["writers.solr_retries"] = mock.resent
        m["writers.solr_skipped"] = skipped
        m["writers.solr_wait_s"] = mock.busy_s
        return m, fx.records, _solr_check(mock, fx.records, skipped)


CURATE_ARGS = dict(near_dup="cluster", num_hashes=64, bands=16, min_est=0.8)


class CurateNearDup:
    name = "curate_near_dup"
    records = 3_000
    tiny = 300
    min_passes = 3
    gen_needs_spark = False

    def prepare(self, spark, root, seed, n, cpus):
        return fixtures.curate_docs(root, seed, n, cpus)

    def read(self, spark, paths):
        return spark.read.json(
            paths, schema="doc_id long, text string, lang string, source string"
        )

    def job(self, spark, paths, out, mock, ledger=None):
        from traject_spark.corpus import curate_documents

        with _span(ledger, "exec"):
            curate_documents(
                self.read(spark, paths).select("doc_id", "text"),
                work_dir=out + "_work", output_path=out, **CURATE_ARGS,
            )

    def check(self, fx, out, mock) -> int:
        import pyarrow.parquet as pq

        t = pq.read_table(out, columns=["doc_id", "cluster_id"])
        got = dict(zip(t["doc_id"].to_pylist(), t["cluster_id"].to_pylist()))
        truth = fx.truth
        wrong = sum(1 for d, c in truth.items() if got.get(d) != c)
        extra = sum(1 for d in got if d not in truth)
        return wrong + extra

    def layers(self, spark, fx, work: str, ledger, mock) -> dict:
        from pyspark.sql import functions as F

        from traject_spark.corpus.dedup import (
            _band_explode,
            _witness_candidates,
            apply_exact_dedup,
            minhash_near_dup_witness,
            minhash_signature_expr,
            witness_clusters,
        )
        from traject_spark.corpus.recipes import annotate_documents
        from traject_spark.writers import write_noop

        a = CURATE_ARGS
        m = dict.fromkeys(PER_LAYER, 0)
        docs = self.read(spark, fx.files).select("doc_id", "text")
        m["marc.io.read_s"], _ = _timed(ledger, "layer.read",
                                        lambda: write_noop(docs))
        m["marc.io.records_out"] = int(
            peak(ledger.collect("layer.read"), "number of output rows"))

        docs_path = os.path.join(work, "layer_docs")
        docs.write.mode("overwrite").parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        ledger.collect("materialize.docs")
        annotated = annotate_documents(docs, num_hashes=a["num_hashes"])
        m["corpus.annotate_s"], _ = _timed(
            ledger, "corpus.annotate", lambda: write_noop(annotated))
        ledger.collect("corpus.annotate")
        sig = docs.select(
            minhash_signature_expr("text", a["num_hashes"], 3).alias("s"))
        m["corpus.signature_s"], _ = _timed(
            ledger, "corpus.signature", lambda: write_noop(sig))
        ledger.collect("corpus.signature")

        surv_path = os.path.join(work, "layer_survivors")
        apply_exact_dedup(annotated, text_col="text", id_col="id",
                          fp_col="fp").write.mode("overwrite").parquet(surv_path)
        survivors = spark.read.parquet(surv_path)
        ledger.collect("materialize.survivors")

        banded = _band_explode(
            survivors.select("id", F.col("msig").alias("sig")),
            a["num_hashes"], a["bands"],
        ).select("id", "band", "band_hash")
        cands = _witness_candidates(banded, ["band", "band_hash"])
        _, m["corpus.candidate_pairs"] = _timed(
            ledger, "corpus.candidates", cands.count)
        rows = ledger.collect("corpus.candidates")
        m["corpus.band_shuffle_bytes"] = int(
            total(rows, "shuffle bytes written"))

        wit_path = os.path.join(work, "layer_witness")
        with ledger.span("corpus.witness"):
            minhash_near_dup_witness(
                survivors, id_col="id", num_hashes=a["num_hashes"],
                bands=a["bands"], min_est=a["min_est"], sig_col="msig",
            ).write.mode("overwrite").parquet(wit_path)
        ledger.collect("corpus.witness")
        wit = spark.read.parquet(wit_path)
        m["corpus.witness_rows"] = wit.count()
        m["corpus.candidate_yield"] = (
            m["corpus.witness_rows"] / max(1, m["corpus.candidate_pairs"]))
        stats: dict = {}
        m["corpus.cluster_s"], _ = _timed(
            ledger, "corpus.cluster",
            lambda: write_noop(witness_clusters(
                wit, members=survivors.select("id"), stats=stats)))
        ledger.collect("corpus.cluster")
        m["corpus.cluster_rounds"] = stats["rounds"]
        # every survivor but its cluster's root has exactly one witness
        planted = len(fx.truth) - len(set(fx.truth.values()))
        return m, len(fx.truth), abs(m["corpus.witness_rows"] - planted)


WORKLOADS = {w.name: w for w in (Marc8IndexNdjson(), CurateNearDup())}

