"""Structured Streaming ops: each streaming run must equal its batch twin
on the same bounded input (the Structured Streaming contract)."""

from pyspark.sql import functions as F

from traject_spark.corpus import fingerprint_expr
from traject_spark.streaming import run_stream_to_table, stream_dedup

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_dedup_fingerprints(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(f"{SF}/documents.[p]arquet")
        .select(fingerprint_expr(F.col("text")).alias("fingerprint"))
    )
    got = run_stream_to_table(
        stream_dedup(stream, "fingerprint"), "t_dedup", output_mode="append"
    )
    want = docs.select(
        fingerprint_expr(F.col("text")).alias("fingerprint")
    ).distinct()
    assert _rows(got, ["fingerprint"]) == _rows(want, ["fingerprint"])


def test_stream_marc_to_solr_flagship(spark, tmp_path):
    """Streaming ingest parity for the flagship path: readStream NDJSON
    -> the 12-rule contract pipeline -> foreachBatch Solr. Docs arrive
    id-correct and field-identical to the batch path over the same
    input."""
    import http.server
    import json
    import threading

    import __spark_entry__ as entry_mod
    from traject_spark.marc.io import read_marc_json
    from traject_spark.streaming import stream_marc_to_solr

    ndj = tmp_path / "drop"
    ndj.mkdir()
    recs = [
        {"leader": "01234cam a2200301 a 4500", "fields": [
            {"001": f"rec{i}"},
            {"008": "880520s1988    nyu      b    001 0 eng  "},
            {"245": {"ind1": "1", "ind2": "0", "subfields": [
                {"a": f"Stream title {i} /"}]}},
            {"100": {"ind1": "1", "ind2": " ", "subfields": [
                {"a": f"Author, S{i}."}]}},
        ]}
        for i in range(6)
    ]
    (ndj / "a.ndjson").write_text(
        "\n".join(json.dumps(r) for r in recs[:4]) + "\n"
    )
    (ndj / "b.ndjson").write_text(
        "\n".join(json.dumps(r) for r in recs[4:]) + "\n"
    )

    received, lock = [], threading.Lock()

    class _Solr(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.extend(json.loads(body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Solr)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        stream_marc_to_solr(
            spark,
            str(ndj),
            entry_mod.flagship_pipeline(),
            f"http://127.0.0.1:{srv.server_address[1]}/solr/core",
            checkpoint=str(tmp_path / "ckpt"),
            batch_size=3,
            max_skipped=0,
        )
    finally:
        srv.shutdown()

    assert {d["id"] for d in received} == {f"rec{i}" for i in range(6)}
    # field parity with the batch path over the same files
    batch_docs = {
        r["record_id"]: r.asDict()
        for r in entry_mod.flagship_pipeline()
        .apply(read_marc_json(spark, str(ndj)))
        .collect()
    }
    for d in received:
        b = batch_docs[d["id"]]
        assert d["title"] == b["title"]
        assert d.get("language") == b["language"]
        assert d.get("author_sort") == b["author_sort"]


def test_cli_streaming_flag(spark, tmp_path):
    """-s streaming=true drives the same NDJSON->pipeline->Solr path from
    the CLI; non-NDJSON sources are rejected."""
    import http.server
    import json
    import threading

    import pytest

    from traject_spark.cli import main

    ndj = tmp_path / "in"
    ndj.mkdir()
    (ndj / "r.ndjson").write_text(
        json.dumps({"leader": " " * 24, "fields": [
            {"001": "s1"},
            {"245": {"ind1": "1", "ind2": "0",
                     "subfields": [{"a": "CLI stream title"}]}},
        ]}) + "\n"
    )
    conf = tmp_path / "c.py"
    conf.write_text('to_field("title", extract_marc("245a"))\n')

    received, lock = [], threading.Lock()

    class _Solr(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.extend(json.loads(body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Solr)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        rc = main(
            ["-c", str(conf), "-t", "json", "-w", "solr",
             "-u", f"http://127.0.0.1:{srv.server_address[1]}/solr/core",
             "-s", "streaming=true",
             "-s", f"streaming.checkpoint={tmp_path / 'ck'}",
             str(ndj)],
            spark=spark,
        )
    finally:
        srv.shutdown()
    assert rc == 0
    assert [d["id"] for d in received] == ["s1"]
    assert received[0]["title"] == ["CLI stream title"]

    with pytest.raises(SystemExit, match="NDJSON"):
        main(
            ["-c", str(conf), "-w", "solr", "-u", "http://x/solr",
             "-s", "streaming=true", str(ndj)],
            spark=spark,
        )


def _failing_solr():
    """A Solr stand-in that rejects every update with HTTP 400."""
    import http.server
    import threading

    class _Solr(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(400)
            self.end_headers()
            self.wfile.write(b'{"error": {"msg": "rejected"}}')

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Solr)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}/solr/core"


def test_stream_skipped_docs_are_logged(spark, tmp_path, caplog):
    """A micro-batch that loses documents to Solr rejections reports the
    count as a warning of the ``traject_spark.streaming.ops`` logger."""
    import json
    import logging

    import __spark_entry__ as entry_mod
    from traject_spark.streaming import stream_marc_to_solr

    ndj = tmp_path / "drop"
    ndj.mkdir()
    (ndj / "a.ndjson").write_text("\n".join(json.dumps(
        {"leader": "01234cam a2200301 a 4500", "fields": [
            {"001": f"rec{i}"},
            {"245": {"ind1": "1", "ind2": "0", "subfields": [
                {"a": f"Title {i}"}]}},
        ]}
    ) for i in range(2)) + "\n")
    srv, url = _failing_solr()
    try:
        with caplog.at_level(logging.WARNING, "traject_spark.streaming.ops"):
            stream_marc_to_solr(
                spark, str(ndj), entry_mod.flagship_pipeline(), url,
                checkpoint=str(tmp_path / "ckpt"), max_skipped=None,
                max_retries=0,
            )
    finally:
        srv.shutdown()
    msgs = [
        r.getMessage() for r in caplog.records
        if r.name == "traject_spark.streaming.ops"
    ]
    assert msgs == ["stream_marc_to_solr: batch 0 skipped 2 docs (2 total)"]


def test_commit_on_close_without_await_is_logged(spark, tmp_path, caplog):
    """``commit_on_close`` needs the query awaited (the commit runs after
    it ends); without ``await_termination`` it is ignored with a
    warning."""
    import logging

    import __spark_entry__ as entry_mod
    from traject_spark.streaming import stream_marc_to_solr

    ndj = tmp_path / "drop"
    ndj.mkdir()
    with caplog.at_level(logging.WARNING, "traject_spark.streaming.ops"):
        q = stream_marc_to_solr(
            spark, str(ndj), entry_mod.flagship_pipeline(),
            "http://127.0.0.1:9/solr/core",
            checkpoint=str(tmp_path / "ckpt"),
            await_termination=False, commit_on_close=True,
        )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    msgs = [
        r.getMessage() for r in caplog.records
        if r.name == "traject_spark.streaming.ops"
    ]
    assert msgs == [
        "stream_marc_to_solr: commit_on_close requires "
        "await_termination=True (the commit runs after the query "
        "ends) — ignored; use commitWithin via solr_update_args"
    ]
