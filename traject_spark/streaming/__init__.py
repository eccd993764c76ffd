"""Structured Streaming surface of the engine.

The reference's only incremental-ingest path is the OAI-PMH harvester
(`lib/traject/oai_pmh_nokogiri_reader.rb:72-99` — a pull loop, not
event-time streaming). On Spark the same mapping runs over
``readStream``/``writeStream`` with three operators:

- ``stream_marc_to_solr``: marc-in-json NDJSON -> pipeline ->
  ``foreachBatch`` into the batch Solr sink (the CLI's
  ``-s streaming=true`` path);
- ``stream_dedup``: streaming exact-dedup (``dropDuplicates`` keyed
  state, first arrival wins);
- ``run_stream_to_table``: run a bounded ``availableNow`` stream into an
  in-memory table.
"""

from traject_spark.streaming.ops import (
    run_stream_to_table,
    stream_dedup,
    stream_marc_to_solr,
)

__all__ = [
    "run_stream_to_table",
    "stream_dedup",
    "stream_marc_to_solr",
]
