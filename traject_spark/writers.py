"""Output sinks (reference: writer classes under lib/traject/*_writer.rb).

The reference's writer contract is init/put/close over a mutex-guarded
stream (lib/traject/indexer.rb:60-69). In Spark every file sink is just a
``df.write`` action — distributed, partition-parallel, no mutexes. The one
genuinely custom sink is the Solr JSON writer: an HTTP POST sink built on
``foreachPartition`` with the reference's batching + batch-failure
fallback + max-skipped abort semantics (lib/traject/solr_json_writer.rb).

Multi-valued fields: output columns are array<string>; file writers that
need flat text join them with an internal delimiter
(lib/traject/delimited_writer.rb:24-110).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from traject_spark.arrowutil import release_spark_zip_finders


# ---------------------------------------------------------------------------
# file writers
# ---------------------------------------------------------------------------

def _file_writer(df: DataFrame, mode: str, max_records_per_file):
    """df.write with the 100 TB file-sink discipline applied.

    ``maxRecordsPerFile`` splits each task's output at N records: at
    100 TB a 1000-executor job writing one file per task otherwise
    emits multi-GB files that downstream readers (and object-store
    multipart limits) choke on. Per-writer option, not a session conf,
    so two sinks in one job can differ."""
    w = df.write.mode(mode)
    if max_records_per_file is not None:
        # validate here, not only in the CLI: an API caller passing 0
        # must get an error, not a silently uncapped writer
        if int(max_records_per_file) <= 0:
            raise ValueError(
                "max_records_per_file must be a positive integer, got "
                f"{max_records_per_file!r}"
            )
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    return w


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """NDJSON, one document per line (lib/traject/json_writer.rb:40-51);
    array-valued fields serialize natively."""
    _file_writer(df, mode, max_records_per_file).json(path)


def yaml_lines(df: DataFrame, id_col: str = "record_id") -> DataFrame:
    """One YAML document per record (lib/traject/yaml_writer.rb:4-8):
    ``---`` header, ``field:`` keys, 3-space-indented ``- value`` items,
    blank-line separated. Built from Column expressions (concat/transform)
    — no UDF, no external YAML lib; values are single-quoted with quote
    doubling, the YAML-safe universal scalar form."""

    def yq(v: Column) -> Column:
        # single-quoted fast path; double-quoted escape form for values
        # with line breaks (single-quoted YAML cannot represent a literal
        # newline — the raw break would de-indent out of the block and
        # corrupt the document)
        dq = F.concat(
            F.lit('"'),
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(v, r"\\", "\\\\\\\\"),
                        '"', '\\\\"',
                    ),
                    "\n", "\\\\n",
                ),
                "\r", "\\\\r",
            ),
            F.lit('"'),
        )
        sq = F.concat(
            F.lit("'"), F.regexp_replace(v, "'", "''"), F.lit("'")
        )
        return F.when(v.rlike("[\\n\\r]"), dq).otherwise(sq)

    parts: list[Column] = [F.lit("---")]
    if id_col in df.columns:
        parts.append(F.concat(F.lit(f"{id_col}: "), yq(F.col(id_col))))
    for name, dtype in df.dtypes:
        if name == id_col:
            continue
        col = F.col(name)
        if dtype.startswith("array"):
            body = F.array_join(
                # a null ELEMENT renders as YAML null (~) — concat's null
                # propagation would otherwise make array_join silently
                # DROP the element and shift every later position
                F.transform(
                    col,
                    lambda v: F.concat(
                        F.lit("   - "), F.coalesce(yq(v), F.lit("~"))
                    ),
                ),
                "\n",
            )
            # an empty array is [] — a bare "name:" parses as null and
            # would not round-trip
            block = F.when(F.size(col) == 0, F.lit(f"{name}: []")).otherwise(
                F.concat(F.lit(f"{name}:\n"), body)
            )
        else:
            block = F.concat(F.lit(f"{name}: "), yq(col.cast("string")))
        parts.append(F.when(col.isNotNull(), block))
    doc = F.concat_ws("\n", *parts)
    return df.select(F.concat(doc, F.lit("\n")).alias("value"))


def write_yaml(df: DataFrame, path: str, id_col: str = "record_id",
               mode: str = "overwrite",
               max_records_per_file: Optional[int] = None) -> None:
    _file_writer(yaml_lines(df, id_col), mode, max_records_per_file).text(
        path
    )


def _flatten_cols(
    df: DataFrame, fields: Sequence[str], internal_delimiter: str
) -> list[Column]:
    dtypes = dict(df.dtypes)
    cols = []
    for name in fields:
        c = F.col(name)
        if dtypes[name].startswith("array"):
            c = F.array_join(c, internal_delimiter)
        cols.append(c.alias(name))
    return cols


def write_delimited(
    df: DataFrame,
    path: str,
    fields: Sequence[str],
    delimiter: str = "\t",
    internal_delimiter: str = "|",
    edelim: str = " ",
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """Fixed field list; multi-values joined by ``internal_delimiter``;
    delimiters embedded IN values replaced by ``edelim`` before joining,
    header row (lib/traject/delimited_writer.rb:24-110)."""
    import re as _re

    # replace the EXACT delimiter strings (the reference gsubs the
    # literal string) — a character class would mangle values char by
    # char for multi-character delimiters like ', ' or '||'
    pats = [_re.escape(d) for d in dict.fromkeys([delimiter, internal_delimiter]) if d]
    repl = edelim.replace("\\", "\\\\").replace("$", "\\$")

    def esc(c: Column) -> Column:
        for p in pats:
            c = F.regexp_replace(c, p, repl)
        return c

    dtypes = dict(df.dtypes)
    cols = []
    for name in fields:
        c = F.col(name)
        if dtypes[name].startswith("array"):
            c = F.array_join(F.transform(c, esc), internal_delimiter)
        else:
            c = esc(c.cast("string"))
        cols.append(c.alias(name))
    # quoting DISABLED (empty quote char): the reference's delimited
    # writer emits plain joins — a value containing a double quote must
    # come out verbatim, not CSV-wrapped with doubled quotes
    _file_writer(df.select(*cols), mode, max_records_per_file).option(
        "header", True
    ).option("sep", delimiter).option("emptyValue", "").option(
        "quote", ""
    ).csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    fields: Sequence[str],
    internal_delimiter: str = "|",
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """Proper CSV quoting (lib/traject/csv_writer.rb:9-34)."""
    flat = df.select(*_flatten_cols(df, fields, internal_delimiter))
    _file_writer(flat, mode, max_records_per_file).option(
        "header", True
    ).csv(path)


def debug_lines(df: DataFrame, id_col: str = "record_id") -> DataFrame:
    """Human/grep format ``id  field  v1 | v2`` sorted by field name per
    record (lib/traject/debug_writer.rb:34-70) — returned as a 1-column
    DataFrame of lines; write with ``.write.text``."""
    fields = [c for c in df.columns if c != id_col]
    dtypes = dict(df.dtypes)
    if not fields:
        # zero mapped fields -> zero lines (the reference prints one line
        # per field); an empty F.array() would be array<void> and crash
        # the filter's field extraction at plan time
        return df.select(F.lit("").alias("value")).limit(0)
    id_expr = (
        F.col(id_col) if id_col in df.columns else F.lit("")
    )

    def vals_of(name: str) -> Column:
        # scalar keep-columns (or a keep_source struct) must not hit
        # array_join, which requires array input
        if dtypes[name].startswith("array"):
            return F.array_join(F.col(name), " | ")
        return F.col(name).cast("string")

    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                vals_of(name).alias("vals"),
                F.col(name).isNotNull().alias("present"),
            )
            for name in sorted(fields)
        ]
    )
    exploded = df.select(
        id_expr.alias("_id"),
        F.explode(F.filter(pairs, lambda p: p["present"])).alias("p"),
    )
    return exploded.select(
        F.format_string(
            "%-12s %-25s %s", F.col("_id"), F.col("p.field"), F.col("p.vals")
        ).alias("value")
    )


def write_debug(df: DataFrame, path: str, id_col: str = "record_id",
                mode: str = "overwrite",
                max_records_per_file: Optional[int] = None) -> None:
    _file_writer(debug_lines(df, id_col), mode, max_records_per_file).text(
        path
    )


def write_noop(df: DataFrame) -> None:
    """Materialize and drop (lib/traject/null_writer.rb) — benchmarking."""
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# Solr JSON sink
# ---------------------------------------------------------------------------

class MaxSkippedExceeded(RuntimeError):
    pass


class SolrHTTPError(RuntimeError):
    """Non-2xx response from Solr (no transport retry — the document batch
    itself is the suspect, so it goes to the one-by-one path)."""


def _post_retrying(
    conn_box: list,
    conn_cls,
    host,
    port,
    timeout: float,
    path: str,
    headers: dict,
    payload: bytes,
    max_retries: int,
    retry_backoff: float,
) -> None:
    """POST one JSON payload over a per-partition keep-alive connection
    (``conn_box`` is the 1-slot mutable holder the partition owns).

    THE shared transport policy for every executor-side Solr POST (the
    add path and the delete path previously each carried a copy, which
    had already drifted on which exceptions retried — r9 review):
    non-2xx (including proxy 3xx: http.client never follows redirects,
    and a 301 with nothing indexed must not count as success) raises
    :class:`SolrHTTPError` with NO transport retry — the server judged
    the request; transport errors (socket/HTTP-protocol) drop the
    possibly-stale keep-alive connection, back off exponentially, and
    retry up to ``max_retries`` times. Runs on executors: imports stay
    local, state rides in arguments."""
    import http.client as _hc
    import time as _time

    delay = retry_backoff
    for attempt in range(max_retries + 1):
        try:
            if conn_box[0] is None:
                conn_box[0] = conn_cls(host, port, timeout=timeout)
            conn_box[0].request("POST", path, body=payload, headers=headers)
            resp = conn_box[0].getresponse()
            body = resp.read()
            if not 200 <= resp.status < 300:
                raise SolrHTTPError(
                    f"Solr HTTP {resp.status}: {body[:200]!r}"
                )
            return
        except SolrHTTPError:
            raise  # server judged the request — no transport retry
        except (OSError, _hc.HTTPException):
            try:
                if conn_box[0] is not None:
                    conn_box[0].close()
            except Exception:
                pass
            conn_box[0] = None
            if attempt == max_retries:
                raise
            _time.sleep(delay)
            delay *= 2


def _basic_auth_header(
    url: str,
    user: Optional[str] = None,
    password: Optional[str] = None,
) -> Optional[str]:
    """Authorization header value from explicit args or URL userinfo
    (the writer's credential derivation, solr_json_writer.rb:393-415)."""
    import base64
    import urllib.parse

    parsed = urllib.parse.urlsplit(url)
    # userinfo arrives percent-encoded (a password with ':' or '@' MUST
    # be encoded to be a valid URL) — unquote before building the header
    # or the credentials are sent still-encoded and every request 401s
    url_user = (
        urllib.parse.unquote(parsed.username) if parsed.username else None
    )
    u = user or url_user
    if not u:
        return None
    # an explicitly-passed password wins even when the USER came from the
    # URL userinfo (user in URL + password as an argument is a sensible
    # way to keep the secret out of the URL). The REVERSE pairing is NOT
    # sensible: when an explicit user overrides a different URL user,
    # reusing the URL's password would send a mismatched credential pair
    # ('bob' + alice's password) and 401 with no hint why.
    url_password_applies = parsed.password and (
        user is None or user == url_user
    )
    p = (
        password
        if password is not None
        else (
            urllib.parse.unquote(parsed.password)
            if url_password_applies
            else ""
        )
    )
    cred = f"{u}:{p or ''}".encode("utf-8")
    return "Basic " + base64.b64encode(cred).decode("ascii")


def _strip_userinfo(url: str) -> str:
    """Remove user:pw@ from the URL (credentials travel in the
    Authorization header; urllib does not speak userinfo URLs)."""
    import urllib.parse

    parsed = urllib.parse.urlsplit(url)
    if not parsed.username:
        return url
    # parsed.hostname strips the [] off an IPv6 literal; re-bracket it or
    # the rebuilt netloc '::1:8983' is unparseable
    hostname = parsed.hostname or ""
    if ":" in hostname:
        hostname = f"[{hostname}]"
    host = hostname + (f":{parsed.port}" if parsed.port else "")
    return urllib.parse.urlunsplit(parsed._replace(netloc=host))


def _solr_update_url(url: str, update_args: Optional[dict] = None) -> str:
    """<base>/update/json with ``update_args`` as query params — the
    reference's solr_update_url_with_query (solr_json_writer.rb:195-199),
    used for every update request (batch, individual, delete). E.g.
    ``{"commitWithin": 1000}`` or ``{"softCommit": "true"}``."""
    import urllib.parse

    base = _strip_userinfo(url).rstrip("/") + "/update/json"
    if not update_args:
        return base
    qs = urllib.parse.urlencode(
        {k: str(v).lower() if isinstance(v, bool) else v
         for k, v in update_args.items()}
    )
    return f"{base}?{qs}"


def solr_json_writer(
    df: DataFrame,
    url: str,
    batch_size: int = 100,
    max_skipped: Optional[int] = 0,
    id_col: Optional[str] = "record_id",
    commit_on_close: bool = False,
    timeout: float = 30.0,
    basic_auth_user: Optional[str] = None,
    basic_auth_password: Optional[str] = None,
    max_retries: int = 2,
    retry_backoff: float = 0.5,
    solr_update_args: Optional[dict] = None,
    skipped_accumulator=None,
    max_docs_per_sec: Optional[float] = None,
    concurrency: int = 1,
) -> int:
    """POST documents to Solr's /update/json in batches via
    ``foreachPartition`` (the Spark shape of
    lib/traject/solr_json_writer.rb:92-474):

    - buffer ``batch_size`` docs per POST (solr_json_writer.rb:51-53);
    - ONE persistent keep-alive connection per partition (the reference's
      persistent HTTPClient adapter, solr_json_writer.rb:397-432), basic
      auth from args or URL userinfo (solr_json_writer.rb:393-415);
    - connection-level failures retry with exponential backoff
      (``max_retries``/``retry_backoff``); HTTP-level errors do NOT —
      the batch is the suspect, so documents retry ONE BY ONE, counting
      failures (solr_json_writer.rb:208-231);
    - skipped docs counted on a Spark accumulator; when the total exceeds
      ``max_skipped`` raise MaxSkippedExceeded (solr_json_writer.rb:236-267;
      max_skipped=None disables);
    - optional commit request after the job (solr_json_writer.rb:311-341);
    - ``max_docs_per_sec``: PER-PARTITION send-rate cap (pacing between
      POSTs, first batch immediate). The reference feeds Solr from at
      most a handful of writer threads (solr_json_writer.rb:98-106) —
      an implicit throttle a 1000-executor job loses: thousands of
      concurrent POST loops would hammer one Solr endpoint into
      overload/rejection. Cluster-wide rate ≈ cap x concurrent
      partitions, so size it as target_total_rate / expected_parallel
      tasks. None (default) = unthrottled.
    - ``concurrency`` (r16): maximum in-flight batch POSTs per
      partition — the Spark shape of the reference's writer thread pool
      (``solr_writer.thread_pool``, solr_json_writer.rb:98-106), for
      endpoints where the round-trip LATENCY (not the server's CPU) is
      what a sequential loop waits on: a real multithreaded Solr across
      a network. Per-BATCH semantics are unchanged: each batch keeps
      its own keep-alive connection + transport retry, a failed batch
      is recovered strictly one-by-one on its own worker, and the
      ``max_skipped`` fail-fast aborts the partition. Batches may land
      out of order across workers (exactly like the reference's pool);
      Solr add is upsert-by-id. Forced to 1 when ``max_docs_per_sec``
      is set (the pacing schedule is serial by definition). Default 1:
      against a loopback mock the server's request handling is the
      bottleneck and extra in-flight batches only add contention
      (measured r16, history/AB_FINDINGS_r16.md: 600k docs / batch 100 / 32
      partitions — concurrency 1: 2.66s min, 2: 2.92, 4: 3.49; a
      per-partition pool only pays when the endpoint parallelizes).

    Returns the number of skipped (failed) documents. At-least-once on
    task retry — idempotent because Solr add is upsert-by-id.
    """
    if max_docs_per_sec is not None:
        import math

        # NaN would pass a '<= 0' check and then poison the pacing
        # schedule (every wait comparison False) — a silently-disabled
        # throttle on the job that asked for one
        if not math.isfinite(max_docs_per_sec) or max_docs_per_sec <= 0:
            raise ValueError(
                "max_docs_per_sec must be a positive finite number, "
                f"got {max_docs_per_sec!r}"
            )
    spark = df.sparkSession
    # callers invoking this writer repeatedly (the streaming sink, once
    # per micro-batch) pass a reusable accumulator: PySpark's
    # _accumulatorRegistry retains every accumulator until context stop,
    # so one-per-call on a continuous stream is an unbounded driver leak
    skipped_acc = (
        skipped_accumulator
        if skipped_accumulator is not None
        else spark.sparkContext.accumulator(0)
    )
    # per-CALL semantics regardless of reuse: the return value and the
    # budget check are deltas against the accumulator's entry value
    skipped_base = skipped_acc.value
    # solr_update_args ({"commitWithin": 1000}, {"softCommit": true}...)
    # ride on every update request's query string, batch AND retry-single
    # (solr_json_writer.rb:24-37,216,241); auth derives from args or the
    # ORIGINAL url's userinfo (update_url is userinfo-stripped)
    update_url = _solr_update_url(url, solr_update_args)
    auth_header = _basic_auth_header(url, basic_auth_user, basic_auth_password)

    # serialize docs JVM-side: toJSON emits one JSON object per row with
    # nulls omitted (exactly Solr's add format), so the Python side only
    # concatenates strings into batch payloads — no Row pickling, no
    # per-field dict building
    if id_col and id_col in df.columns and id_col != "id":
        if "id" in df.columns:
            # the config mapped its own 'id' field (to_field 'id', the
            # standard Solr-id pattern) — it wins; renaming would emit
            # duplicate "id" JSON keys and poison every batch
            df = df.drop(id_col)
        else:
            df = df.withColumnRenamed(id_col, "id")
    docs_json = df.toJSON()

    # the pacing schedule is a serial leaky bucket — concurrent posts
    # would make "never faster than the cap" unenforceable
    n_workers = 1 if max_docs_per_sec else max(1, int(concurrency))

    def handle_partition(rows) -> None:
        import http.client
        import threading as _threading
        import time as _time
        import urllib.parse

        release_spark_zip_finders()

        parsed = urllib.parse.urlsplit(update_url)
        conn_cls = (
            http.client.HTTPSConnection
            if parsed.scheme == "https"
            else http.client.HTTPConnection
        )
        path = parsed.path + (f"?{parsed.query}" if parsed.query else "")
        headers = {"Content-Type": "application/json"}
        if auth_header:
            headers["Authorization"] = auth_header
        conn_box: list = [None]
        # pacing state for the per-partition rate cap: next_allowed[0]
        # is the earliest monotonic time the NEXT post may start. The
        # schedule advances by docs_sent / rate per post (leaky bucket,
        # no burst beyond one batch), measured over docs actually sent —
        # one-by-one fallback retries pace too, so a rejecting Solr is
        # never hammered faster than the cap
        next_allowed: list = [None]

        def post(box: list, docs: list) -> None:
            if max_docs_per_sec:
                now = _time.monotonic()
                if next_allowed[0] is not None:
                    wait = next_allowed[0] - now
                    if wait > 0:
                        _time.sleep(wait)
                        now = next_allowed[0]
                next_allowed[0] = max(now, next_allowed[0] or now) + (
                    len(docs) / max_docs_per_sec
                )
            _post_retrying(
                box, conn_cls, parsed.hostname, parsed.port, timeout,
                path, headers, ("[" + ",".join(docs) + "]").encode("utf-8"),
                max_retries, retry_backoff,
            )

        local_skipped = [0]
        count_lock = _threading.Lock()

        def send_batch(box: list, docs: list) -> None:
            """POST one batch on ``box``'s connection; recover a failed
            batch strictly one-by-one (same connection), counting skips;
            fail fast past max_skipped. One definition for the serial
            AND pooled paths — the per-batch semantics ARE the contract."""
            try:
                post(box, docs)
            except Exception:
                # batch failed: retry each doc individually, count failures
                for doc in docs:
                    try:
                        post(box, [doc])
                    except Exception:
                        with count_lock:
                            skipped_acc.add(1)
                            local_skipped[0] += 1
                            n_bad = local_skipped[0]
                        # executor-side fail-fast: one partition alone
                        # exceeding the global threshold proves the job
                        # will abort — stop grinding every remaining doc
                        # through per-doc retries against a dead/rejecting
                        # Solr (the driver still enforces the exact
                        # global count afterwards)
                        if max_skipped is not None and n_bad > max_skipped:
                            raise MaxSkippedExceeded(
                                f"{n_bad} skipped in one "
                                f"partition exceeds max_skipped={max_skipped}"
                            )

        buf: list = []
        workers: list = []
        boxes: list = [conn_box]
        q = err_box = None
        if n_workers > 1:
            import queue as _queue

            # bounded: the submitter must not buffer the whole partition
            # ahead of slow workers
            q = _queue.Queue(maxsize=n_workers)
            err_box = []

            def work(box: list) -> None:
                while True:
                    docs = q.get()
                    if docs is None:
                        return
                    if err_box:
                        continue  # drain after a fatal error
                    try:
                        send_batch(box, docs)
                    except Exception as e:
                        err_box.append(e)

            for _ in range(n_workers):
                box: list = [None]
                boxes.append(box)
                t = _threading.Thread(target=work, args=(box,), daemon=True)
                t.start()
                workers.append(t)

        def flush() -> None:
            if not buf:
                return
            docs = list(buf)
            buf.clear()
            if q is None:
                send_batch(conn_box, docs)
                return
            if err_box:
                raise err_box[0]
            q.put(docs)

        try:
            for doc in rows:
                buf.append(doc)
                if len(buf) >= batch_size:
                    flush()
            flush()
        finally:
            for t in workers:
                q.put(None)
            for t in workers:
                t.join()
            for box in boxes:
                if box[0] is not None:
                    try:
                        box[0].close()
                    except Exception:
                        pass
        if err_box:
            raise err_box[0]

    try:
        docs_json.foreachPartition(handle_partition)
    except Exception as e:  # executor fail-fast surfaces wrapped — unwrap
        if "MaxSkippedExceeded" in str(e):
            raise MaxSkippedExceeded(
                f"skipped records exceed max_skipped={max_skipped} "
                f"(aborted early; {skipped_acc.value - skipped_base} "
                "counted so far)"
            ) from e
        raise

    skipped = skipped_acc.value - skipped_base
    if max_skipped is not None and skipped > max_skipped:
        raise MaxSkippedExceeded(
            f"{skipped} skipped records exceed max_skipped={max_skipped}"
        )
    if commit_on_close:
        # NOT the document-POST timeout: a close commit on a large core
        # routinely takes minutes — use solr_commit's 10-minute default
        # (the reference's commit_timeout, solr_json_writer.rb:362-376)
        solr_commit(
            url,
            basic_auth_user=basic_auth_user,
            basic_auth_password=basic_auth_password,
        )
    return skipped


def _solr_post_json(
    url: str,
    payload: dict,
    timeout: float = 30.0,
    auth_header: Optional[str] = None,
) -> None:
    """Driver-side JSON POST to a Solr update URL; raise on non-2xx."""
    import json as _json
    import urllib.request

    headers = {"Content-Type": "application/json"}
    if auth_header:
        headers["Authorization"] = auth_header
    req = urllib.request.Request(
        url,
        data=_json.dumps(payload).encode("utf-8"),
        headers=headers,
        method="POST",
    )

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        # urllib re-issues a redirected POST as a bodyless GET — a proxy
        # 301 would silently no-op the update; fail loudly instead
        def redirect_request(self, *a, **k):
            return None

    opener = urllib.request.build_opener(_NoRedirect)
    with opener.open(req, timeout=timeout) as resp:  # noqa: S310
        body = resp.read()
        if not 200 <= resp.status < 300:  # opener raises on >=400 and 3xx
            raise SolrHTTPError(f"Solr HTTP {resp.status}: {body[:200]!r}")


def solr_delete(
    url: str,
    id: Optional[str] = None,
    query: Optional[str] = None,
    solr_update_args: Optional[dict] = None,
    timeout: float = 30.0,
    basic_auth_user: Optional[str] = None,
    basic_auth_password: Optional[str] = None,
) -> None:
    """Delete by unique id or by query — SolrJsonWriter#delete
    (solr_json_writer.rb:284-293): POSTs ``{"delete": <id>}`` (or
    ``{"delete": {"query": ...}}``) to the update URL, inline and
    immediately, raising on any failure. ``solr_update_args`` ride on the
    query string exactly as for adds; basic auth from args or URL
    userinfo, like the writer."""
    if (id is None) == (query is None):
        raise ValueError("solr_delete needs exactly one of id= or query=")
    package = {"delete": id if id is not None else {"query": query}}
    _solr_post_json(
        _solr_update_url(url, solr_update_args), package, timeout,
        _basic_auth_header(url, basic_auth_user, basic_auth_password),
    )


def solr_delete_all(
    url: str,
    solr_update_args: Optional[dict] = None,
    timeout: float = 30.0,
    basic_auth_user: Optional[str] = None,
    basic_auth_password: Optional[str] = None,
) -> None:
    """Delete-all (``delete_all!``, solr_json_writer.rb:298-301):
    delete by query *:*; does NOT commit — pair with solr_commit."""
    solr_delete(url, query="*:*", solr_update_args=solr_update_args,
                timeout=timeout, basic_auth_user=basic_auth_user,
                basic_auth_password=basic_auth_password)


def solr_delete_ids(
    df: DataFrame,
    url: str,
    id_col: str = "id",
    batch_size: int = 500,
    solr_update_args: Optional[dict] = None,
    timeout: float = 30.0,
    basic_auth_user: Optional[str] = None,
    basic_auth_password: Optional[str] = None,
    max_retries: int = 2,
    retry_backoff: float = 0.5,
) -> None:
    """Distributed delete-by-id for a DataFrame of ids — the Spark-scale
    extension of the reference's one-id-at-a-time #delete: each partition
    POSTs ``{"delete": [ids...]}`` batches over one keep-alive connection
    (re-index workflows delete the previous generation before adding)."""
    target = _solr_update_url(url, solr_update_args)
    auth = _basic_auth_header(url, basic_auth_user, basic_auth_password)

    def handle_partition(rows) -> None:
        import http.client
        import json as _json
        import urllib.parse

        release_spark_zip_finders()

        parsed = urllib.parse.urlsplit(target)
        conn_cls = (
            http.client.HTTPSConnection
            if parsed.scheme == "https"
            else http.client.HTTPConnection
        )
        path = parsed.path + (f"?{parsed.query}" if parsed.query else "")
        headers = {"Content-Type": "application/json"}
        if auth:
            headers["Authorization"] = auth
        conn_box: list = [None]

        def post(ids: list) -> None:
            # shared transport policy (_post_retrying): a keep-alive
            # socket the server closed between batches is dropped,
            # backed off, and retried — a transient hiccup must not
            # fail the task and re-post the whole partition's deletes
            _post_retrying(
                conn_box, conn_cls, parsed.hostname, parsed.port, timeout,
                path, headers, _json.dumps({"delete": ids}).encode("utf-8"),
                max_retries, retry_backoff,
            )

        buf: list = []
        try:
            for row in rows:
                buf.append(row[0])
                if len(buf) >= batch_size:
                    post(buf)
                    buf = []
            if buf:
                post(buf)
        finally:
            if conn_box[0] is not None:
                try:
                    conn_box[0].close()
                except Exception:
                    pass

    df.select(F.col(id_col).cast("string")).foreachPartition(handle_partition)


def solr_commit(
    url: str,
    query_params: Optional[dict] = None,
    timeout: float = 600.0,
    basic_auth_user: Optional[str] = None,
    basic_auth_password: Optional[str] = None,
) -> None:
    """Send a commit (SolrJsonWriter#commit, solr_json_writer.rb:362-376):
    GET the update URL with ``query_params`` (default {"commit": "true"}
    — pass softCommit/optimize/waitFlush etc. to override, params replace
    not merge). Default timeout matches the reference's 10-minute
    commit_timeout; basic auth from args or URL userinfo."""
    import urllib.parse
    import urllib.request

    params = query_params or {"commit": "true"}
    qs = urllib.parse.urlencode(
        {k: str(v).lower() if isinstance(v, bool) else v
         for k, v in params.items()}
    )
    req = urllib.request.Request(
        _strip_userinfo(url).rstrip("/") + "/update?" + qs
    )
    auth = _basic_auth_header(url, basic_auth_user, basic_auth_password)
    if auth:
        req.add_header("Authorization", auth)

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        # same policy as every other Solr request in this module: a proxy
        # 3xx (e.g. to a login page that returns 200) would make the
        # commit a silent no-op — fail loudly instead
        def redirect_request(self, *a, **k):
            return None

    opener = urllib.request.build_opener(_NoRedirect)
    with opener.open(req, timeout=timeout) as resp:  # noqa: S310
        body = resp.read()
        if not 200 <= resp.status < 300:  # opener raises on >=400 and 3xx
            raise SolrHTTPError(f"Solr HTTP {resp.status}: {body[:200]!r}")
