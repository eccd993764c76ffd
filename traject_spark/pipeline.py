"""Pipeline: the traject Indexer re-expressed as a Spark plan compiler.

The reference interprets an ordered list of step objects per record on a
thread pool (lib/traject/indexer.rb:348-355,531-619).  Here, the same DSL
*compiles*: each ``to_field`` rule becomes one SQL expression (macros
composed as text over a fresh accumulator), and ``apply`` issues ONE
``selectExpr`` + optional ``filter`` — a single narrow stage with no
shuffle, executed by Catalyst/Tungsten with whole-stage codegen.  Thread
pools, bounded queues and backpressure (lib/traject/thread_pool.rb)
disappear into Spark task parallelism.

Composition is SQL text end to end, because every ``F.*`` call is a Py4J
round trip: the glue (accumulator seed, contribution concat, add_output
post-processing, the skip fold, the error coalesce) is text, and the
built-in macros are :class:`~traject_spark.expr.SqlMacro` objects that
take the accumulator as text and return text. Compiling the flagship
makes no JVM call; ``apply`` makes a handful. ``to_sql`` shows the text.

A macro that returns a Column — the public contract for user macros,
``each_record``'s ``add_output``/``skip_when``, the rescued
``transform_udf``, a built-in's fallback for a spec or map its SQL
cannot take — goes through one bridge (``PipelineContext.column_sql``):
it is handed ``F.expr(acc_text)``, its Column is projected as a hidden
``__traject_*_N__`` column ahead of the filter and select, and the text
continues from that column's name. Hidden columns that do not read each
other share one projection. Catalyst folds a hidden column into the
select when the select reads it once; one read several times (a
``default``'s ``CASE``) stays its own projection and is computed once.

Fidelity notes (SURVEY §4 traps):
- output post-processing per add_output: drop nil values, omit empty
  fields, optional de-dup — lib/traject/indexer/context.rb:117-129 with
  defaults at lib/traject/indexer.rb:293-296;
- multiple ``to_field`` calls on one name concatenate in registration
  order; de-dup (when enabled) applies to the accumulated whole;
- ``skip!`` means the record produces *nothing* — compiled to a final
  ``filter`` (lib/traject/indexer.rb:591-595).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from traject_spark.expr import SQL_EMPTY, SqlMacro, sql_let
from traject_spark.marc.schema import MARC_SOURCE_SCHEMA
from traject_spark.sqlutil import ident_safe, quote_ident, sql_ref, sql_str_lit

#: plain name the record column is projected under when the user's
#: column name (``my-marc``, nested ``rec.marc``) is not an identifier
#: generated SQL can quote
_SOURCE_ALIAS = "__traject_source__"


def _concat_contributions(exprs: list[str]) -> str:
    """Combine one field's per-step contributions (SQL text).

    Each contribution is coalesced to the empty array first: a NULL
    contribution means "this step adds nothing" (the reference's
    add_output just skips nil values, context.rb:117-129) — but
    concat over arrays returns NULL if ANY argument is NULL, so one
    nullable Column handed to ctx.add_output would otherwise silently
    wipe every other step's values for the field.
    """
    if len(exprs) == 1:
        # single contribution: NULL already flows to the omit-if-empty
        # rule (field absent), same outcome as coalesce+concat
        return exprs[0]
    return "concat(" + ", ".join(
        f"coalesce({e}, {SQL_EMPTY})" for e in exprs
    ) + ")"


class PipelineContext:
    """Per-compilation context handed to macros and each_record steps.

    The reference Context carries source_record / output_hash / clipboard /
    skip (lib/traject/indexer/context.rb:7-43); here those become: the
    source struct Column, the field-expression table, a dict of named
    intermediate Columns, and accumulated skip predicates.
    """

    def __init__(self, pipeline: "Pipeline"):
        self._pipeline = pipeline
        self.clipboard: dict[str, Column] = {}
        self.current_step: Optional[str] = None

    @property
    def marc(self) -> Column:
        return F.col(self._pipeline.source_col)

    # alias for non-MARC pipelines
    @property
    def record(self) -> Column:
        return F.col(self._pipeline.source_col)

    @property
    def source_sql(self) -> str:
        """The record column as SQL text, for text macros."""
        name = self._pipeline.source_col
        if not ident_safe(name):
            raise ValueError(
                f"source column {name!r} is not a plain identifier; "
                "compile through Pipeline.apply, which renames it"
            )
        return f"`{name}`"

    def output(self, name: str) -> Column:
        """Expression for field ``name`` as accumulated so far, with the
        add_output invariants already applied (nil drop / de-dup per
        settings) — the reference's output_hash holds the PROCESSED
        values at read time (context.rb:117-129 runs compact/uniq as
        values arrive), so a later step keying on an earlier field's
        size or content must see the same view the writer will.
        (Lets later steps read earlier fields,
        doc/indexing_rules.md:210-257.)"""
        exprs = self._pipeline._field_exprs.get(name)
        if not exprs:
            return F.expr(SQL_EMPTY)
        # add-time invariants only: the omit-if-empty rule ([] -> NULL)
        # is a write-time concern — a reader doing size()/exists() over
        # an empty field must see [], not NULL
        return F.expr(self._pipeline._add_time(
            f"coalesce({_concat_contributions(exprs)}, {SQL_EMPTY})"
        ))

    def add_output(self, name: str, values: Column) -> None:
        """each_record-style write to any output field
        (lib/traject/indexer/context.rb:117-129)."""
        self._pipeline._add_field_expr(name, self.column_sql(values, "out"))

    def skip_when(self, cond: Column) -> None:
        """context.skip! analog (lib/traject/indexer/context.rb:35-43)."""
        self._pipeline._skip_conds.append(self.column_sql(cond, "skip"))

    @property
    def rescue_mode(self) -> str:
        """The ``mapping_rescue`` setting (doc/settings.md:35-58):
        ``halt`` (default — errors abort the job, the reference's
        log+re-raise) or ``skip`` (errored records are quarantined out,
        the reference's ``context.skip!``-in-handler pattern)."""
        return str(self._pipeline.settings_dict.get("mapping_rescue", "halt"))

    def column_sql(self, col: Column, hint: str = "bridge") -> str:
        """The bridge from a Column to the pipeline's SQL text: ``col``
        becomes a hidden column projected ahead of the filter and select,
        and the returned text is its quoted name. A hidden column is
        projected after every hidden column it reads, so ``col`` may
        read any text handed out earlier in the compile (``F.expr`` of
        an accumulator, ``output``)."""
        return quote_ident(self._pipeline._hide(col, hint))

    def materialize(self, expr: Column, hint: str = "mat") -> Column:
        """Register ``expr`` to be computed ONCE as a hidden column before
        the pipeline's filters/select, returning a reference to it.

        This is how a rescued UDF avoids double evaluation: its
        (value, error) struct lands in one projection and both the error
        filter and the field projection reference the materialized
        attribute instead of re-embedding the UDF call (Catalyst's
        filter pushdown / projection collapse would otherwise re-inline
        the expression into BOTH consumers). Unlike a bridged column, a
        materialized one makes ``apply_with_quarantine`` and
        ``process_with`` checkpoint the hidden columns, so both of their
        frames read one evaluation."""
        name = self._pipeline._hide(expr, hint)
        self._pipeline._materialized.append(name)
        return F.col(name)

    def record_error(self, err: Column) -> None:
        """Report a per-record error Column (null = ok) from a rescued
        step; the pipeline routes errored records per ``mapping_rescue``
        (indexer.rb:483-517 handle_mapping_errors)."""
        e = self.column_sql(err, "error")
        if self.current_step:
            where = sql_str_lit(f" (while executing {self.current_step})")
            e = f"CASE WHEN {e} IS NOT NULL THEN concat({e}, {where}) END"
        self._pipeline._error_exprs.append(e)

    def _apply_macro(self, macro, acc: str) -> str:
        """One macro step over the accumulator text: a text macro
        extends the text, a Column macro goes through the bridge."""
        if isinstance(macro, SqlMacro):
            return macro.sql(acc, self)
        return self.column_sql(macro(F.expr(acc), self))


class Pipeline:
    """Ordered to_field / each_record rule set compiling to one select."""

    def __init__(
        self,
        source_col: str = "marc",
        id_col: Optional[str] = "record_id",
        **settings,
    ):
        self.source_col = source_col
        self.id_col = id_col
        # defaults per lib/traject/indexer.rb:293-296
        self.settings_dict = {
            "allow_nil_values": False,
            "allow_empty_fields": False,
            "allow_duplicate_values": True,
        }
        self.settings_dict.update(settings)
        self._steps: list = []
        self._after_processing: list[Callable] = []
        # compile state: SQL text per field contribution / skip
        # predicate / error, and the hidden columns the text reads
        self._field_exprs: dict[str, list[str]] = {}
        self._skip_conds: list[str] = []
        self._error_exprs: list[str] = []
        self._hidden: list[tuple[str, Column]] = []
        self._materialized: list[str] = []

    # -- DSL ---------------------------------------------------------------
    def settings(self, **kwargs) -> "Pipeline":
        self.settings_dict.update(kwargs)
        return self

    def provide(self, key: str, value) -> "Pipeline":
        """First-set-wins write mode (lib/traject/indexer/settings.rb:23-96)."""
        self.settings_dict.setdefault(key, value)
        return self

    def to_field(
        self,
        field_name: Union[str, Sequence[str]],
        *macros: Callable[[Column, PipelineContext], Column],
    ) -> "Pipeline":
        names = [field_name] if isinstance(field_name, str) else list(field_name)
        for n in names:
            if not isinstance(n, str) or not n:
                raise ValueError(f"to_field needs a non-empty string field name, got {n!r}")
        self._steps.append(("to_field", names, macros))
        return self

    def each_record(self, fn: Callable[[PipelineContext], None]) -> "Pipeline":
        self._steps.append(("each_record", fn))
        return self

    def load_config_file(self, path: str) -> "Pipeline":
        """Execute a traject-style Python config file against this
        pipeline (indexer.rb:388-406 load_config_file): the file runs
        with ``to_field``/``each_record``/``settings``/every macro in
        scope — same loader the CLI uses."""
        from traject_spark.cli import load_config_files

        load_config_files(self, [path])
        return self

    def after_processing(self, fn: Callable[[], None]) -> "Pipeline":
        """Register a post-run callback (lib/traject/indexer.rb:359-361);
        callbacks run in registration order after the sink finishes
        (indexer.rb:646-655), e.g. a Solr commit or cleanup."""
        self._after_processing.append(fn)
        return self

    def run_after_processing(self) -> None:
        """Invoke registered callbacks; called by ``process_with`` and the
        CLI after the write completes, or manually after ``apply`` +
        custom sink."""
        for fn in self._after_processing:
            fn()

    # -- compilation -------------------------------------------------------
    def _add_field_expr(self, name: str, expr: str) -> None:
        self._field_exprs.setdefault(name, []).append(expr)

    def _hide(self, col: Column, hint: str) -> str:
        """Register ``col`` as the next hidden column; names are
        deterministic per compile, so a re-compile over a frame that
        already carries them reuses them (apply_with_quarantine)."""
        name = f"__traject_{hint}_{len(self._hidden)}__"
        self._hidden.append((name, col))
        return name

    def _add_time(self, acc: str) -> str:
        """The add-time invariants (context.rb:117-129): drop nils, then
        de-dup when allow_duplicate_values=False."""
        if not self.settings_dict.get("allow_nil_values", False):
            acc = f"filter({acc}, x -> x IS NOT NULL)"
        if not self.settings_dict.get("allow_duplicate_values", True):
            acc = f"array_distinct({acc})"
        return acc

    def _post_process(self, acc: str) -> str:
        """add_output invariants, then omit-if-empty (=> NULL column;
        writers drop nulls)."""
        out = self._add_time(acc)
        if not self.settings_dict.get("allow_empty_fields", False):
            # let-bind: the naive CASE over out would copy the entire
            # accumulated field expression twice
            out = sql_let(out, "o", "CASE WHEN size(o) > 0 THEN o END")
        return out

    def compile(self) -> tuple[list[tuple[str, str]], Optional[str]]:
        """Run every step once, building the field-expression table.

        Returns ([(field_name, SQL text)], skip predicate text or None).
        Steps run in registration order, each macro exactly once.
        ``source_col`` must be a plain identifier here; ``apply`` sees
        to that for any record column.
        """
        self._field_exprs = {}
        self._skip_conds = []
        self._error_exprs = []
        self._hidden = []
        self._materialized = []
        ctx = PipelineContext(self)
        for step in self._steps:
            if step[0] == "to_field":
                _, names, macros = step
                ctx.current_step = f"to_field {names}"
                acc = SQL_EMPTY
                for macro in macros:
                    acc = ctx._apply_macro(macro, acc)
                for n in names:
                    self._add_field_expr(n, acc)
            else:
                _, fn = step
                ctx.current_step = "each_record"
                fn(ctx)

        fields = [
            (name, self._post_process(_concat_contributions(exprs)))
            for name, exprs in self._field_exprs.items()
        ]
        return fields, self._skip_sql()

    def _skip_sql(self) -> Optional[str]:
        """OR-fold of the registered skip! predicates — ONE definition
        (compile and process_with both need it)."""
        return " OR ".join(f"({c})" for c in self._skip_conds) or None

    def _error_sql(self) -> Optional[str]:
        """The record's first rescued-step error (NULL = ok)."""
        errs = self._error_exprs
        if len(errs) > 1:
            return "coalesce(" + ", ".join(errs) + ")"
        return errs[0] if errs else None

    def _sql_plan(
        self,
        df: Optional[DataFrame],
        keep: Optional[Sequence[str]] = None,
        keep_source: bool = False,
    ) -> tuple[Optional[DataFrame], list[str], Optional[str]]:
        """Compile against ``df`` (None: a frame carrying ``source_col``
        and ``id_col``) and return (the frame to project, the
        ``selectExpr`` list, the ``filter`` predicate or None)."""
        prev_source = self.source_col
        if df is None:
            user_source, columns = self.source_col, [self.id_col]
        else:
            user_source = self._adapted_source(df)
            # adapt PER CALL — restored afterwards so a later apply() on
            # a frame that does carry the configured column is unaffected
            df, self.source_col = self._with_plain_source(df)
            columns = df.columns
        try:
            fields, skip = self.compile()
        finally:
            self.source_col = prev_source
        select: list[str] = []
        field_names = {n for n, _ in fields}
        # a to_field named like the id column wins (the reference's
        # document id IS output_hash['id'] when mapped): emitting both
        # would duplicate the column name and break asDict()/writers
        if (
            self.id_col
            and self.id_col in columns
            and self.id_col not in field_names
        ):
            select.append(quote_ident(self.id_col))
        select.extend(sql_ref(k) for k in keep or [])
        if keep_source:
            select.append(sql_ref(user_source))
        select.extend(f"{e} AS {quote_ident(n)}" for n, e in fields)
        conds = []
        if skip is not None:
            # skip! => record produces nothing (indexer.rb:591-595)
            conds.append(f"NOT coalesce({skip}, false)")
        err = self._error_sql()
        if err is not None and self.settings_dict.get("mapping_rescue") == "skip":
            # rescued-step errors quarantine the record out of the output
            # (doc/settings.md:35-58 skip!-in-handler); use
            # apply_with_quarantine to also capture the errored rows
            conds.append(f"({err}) IS NULL")
        where = " AND ".join(f"({c})" for c in conds) if conds else None
        return df, select, where

    def to_sql(
        self,
        df: Optional[DataFrame] = None,
        keep: Optional[Sequence[str]] = None,
        keep_source: bool = False,
    ) -> tuple[list[str], Optional[str]]:
        """The SQL ``apply`` issues: (the ``selectExpr`` list, the
        ``filter`` predicate or None). Without ``df`` the text assumes
        a frame that carries ``source_col`` and ``id_col``.

        The text is self-contained when every macro is a text macro (the
        built-ins over their SQL-eligible specs and maps). A Column
        macro, ``add_output``/``skip_when`` or a rescued UDF makes it
        read hidden ``__traject_*_N__`` columns that ``apply`` projects
        first."""
        _, select, where = self._sql_plan(df, keep, keep_source)
        return select, where

    def _with_hidden(
        self, df: DataFrame, upto: Optional[int] = None
    ) -> DataFrame:
        """``df`` plus the compile's hidden columns (the first ``upto``).
        Columns ALREADY on ``df`` are reused, not recomputed: this is
        how apply_with_quarantine shares one evaluation between the good
        and bad plans (it checkpoints them on a base frame).

        The rest are added with one ``withColumns`` per dependency
        level: a column that reads no other pending hidden column lands
        in the first projection, one that reads a level-k column in
        level k+1. A Column's unresolved text (one ``toString`` round
        trip) names every column it reads, so the reads are found
        there. Each projection is one analysis of the plan, so bridging
        ten independent rules costs one, not ten."""
        present = set(df.columns)
        levels: list[dict[str, Column]] = []
        level_of: dict[str, int] = {}
        for name, col in self._hidden[:upto]:
            if name in present:
                continue
            text = col._jc.toString()
            lv = max((level_of[n] + 1 for n in level_of if n in text), default=0)
            level_of[name] = lv
            if lv == len(levels):
                levels.append({})
            levels[lv][name] = col
        for group in levels:
            df = df.withColumns(group)
        return df

    def _checkpoint_materialized(self, df: DataFrame) -> DataFrame:
        """``df`` plus the hidden columns up to the last materialized
        one, lazily checkpointed: a nondeterministic rescued UDF is
        evaluated once on the first action and every frame built on the
        result reads the persisted value. (Driver+executor storage holds
        one copy of df + the structs; on a cluster with executor churn
        prefer a reliable checkpoint dir upstream.)"""
        names = [n for n, _ in self._hidden]
        upto = names.index(self._materialized[-1]) + 1
        return self._with_hidden(df, upto).localCheckpoint(eager=False)

    # -- execution ---------------------------------------------------------
    def apply(
        self,
        df: DataFrame,
        keep: Optional[Sequence[str]] = None,
        keep_source: bool = False,
    ) -> DataFrame:
        """Compile and apply: one narrow select (+ skip filter)."""
        df, select, where = self._sql_plan(df, keep, keep_source)
        out = self._with_hidden(df)
        if where is not None:
            out = out.filter(where)
        return out.selectExpr(*select)

    process = apply  # reference naming (indexer.rb:531)

    def _adapted_source(self, df: DataFrame) -> str:
        """The record column to read from ``df``: the configured
        source_col, else 'marc'/'xml' when exactly one is present (the
        two indexer flavors, marc_indexer.rb / nokogiri_indexer.rb,
        differ only in record column)."""
        if self.source_col in df.columns:
            return self.source_col
        present = [c for c in ("marc", "xml") if c in df.columns]
        return present[0] if len(present) == 1 else self.source_col

    def _with_plain_source(self, df: DataFrame) -> tuple[DataFrame, str]:
        """``df`` and the name to compile its record column under: the
        adapted column itself when it is a plain identifier, else a copy
        projected as ``_SOURCE_ALIAS``. Generated SQL quotes one
        top-level name, so ``my-marc`` or a nested ``rec.marc`` would
        not resolve there."""
        src = self._adapted_source(df)
        if ident_safe(src):
            return df, src
        return df.withColumn(_SOURCE_ALIAS, F.col(src)), _SOURCE_ALIAS

    def apply_with_quarantine(
        self,
        df: DataFrame,
        keep: Optional[Sequence[str]] = None,
        return_base: bool = False,
    ):
        """``apply`` + the errored rows as a second DataFrame.

        The quarantine frame carries the record id, the first error
        message, and the raw source record (so poisoned records can be
        re-processed after a fix) — the production shape of the
        reference's custom ``mapping_rescue`` handler that logs and
        skips (doc/settings.md:35-58). Requires
        ``settings(mapping_rescue="skip")``.

        ``return_base=True`` additionally returns the frame BOTH outputs
        were computed from (the checkpointed hidden-column base when the
        pipeline materializes, else ``df``) — process_with's on_skipped
        classification must read the SAME evaluation of any
        nondeterministic rescued UDF, not a third one.
        """
        if self.settings_dict.get("mapping_rescue") != "skip":
            raise ValueError(
                'apply_with_quarantine requires settings(mapping_rescue="skip")'
            )
        user_source = self._adapted_source(df)
        df, _ = self._with_plain_source(df)
        good = self.apply(df, keep=keep)
        if self._materialized:
            # the good and bad outputs are SEPARATE plans: without a
            # shared materialization, a nondeterministic rescued UDF
            # (e.g. a transiently-failing network call) could error in
            # the good-plan run yet succeed in the bad-plan run — the
            # record vanishing from BOTH frames
            df = self._checkpoint_materialized(df)
            good = self.apply(df, keep=keep)
        err = self._error_sql()
        # one quarantine schema for BOTH paths (zero registered error
        # exprs vs some): id col (when configured and present) + keep
        # cols + _error + source — so unions/writers downstream see a
        # stable shape, and id_col=None never aliases a None name
        cols: list[str] = []
        if self.id_col and self.id_col in df.columns:
            cols.append(quote_ident(self.id_col))
        cols.extend(sql_ref(k) for k in keep or [])
        cols.append(f"{err or 'CAST(NULL AS string)'} AS _error")
        cols.append(sql_ref(user_source))
        bad = (
            self._with_hidden(df).selectExpr(*cols)
            .filter("_error IS NOT NULL")
        )
        if return_base:
            return good, bad, df
        return good, bad

    def process_with(
        self,
        df: DataFrame,
        destination: Optional[Callable[[DataFrame], None]] = None,
        rescue_with=None,
        on_skipped: Optional[Callable[[DataFrame], None]] = None,
        run_after_processing: bool = True,
    ) -> DataFrame:
        """Programmatic processing entry (indexer.rb:700-744), re-shaped
        for Spark: the reference's per-record callbacks become DataFrame
        callbacks (a driver-side per-record loop is the anti-scale shape).

        - ``destination``: callable given the mapped output DataFrame —
          the writer (e.g. ``lambda out: write_json(out, path)``);
        - ``rescue_with``: ``"skip"`` quarantines errored records
          silently; a callable additionally receives the quarantine
          DataFrame (record_id, _error, source record). ``None`` = halt
          on error, the reference default;
        - ``on_skipped``: callable given the records removed by ``skip!``
          predicates (indexer.rb:735 on_skipped.call);
        - ``after_processing`` callbacks run at the end
          (indexer.rb:646-655).

        Returns the mapped output DataFrame.
        """
        prev = self.settings_dict.get("mapping_rescue")
        if rescue_with is not None:
            self.settings_dict["mapping_rescue"] = "skip"
        try:
            if callable(rescue_with):
                good, bad, base = self.apply_with_quarantine(
                    df, return_base=True
                )
                rescue_with(bad)
            else:
                good = self.apply(df)
                base, _ = self._with_plain_source(df)
                if on_skipped is not None and self._materialized:
                    # share ONE evaluation of the nondeterministic
                    # rescued-UDF columns between the output and the
                    # skip classification (the apply_with_quarantine
                    # mechanism): recomputing them per frame could land
                    # a record in none/two of the frames when a UDF
                    # fails transiently
                    base = self._checkpoint_materialized(base)
                    good = self.apply(base)
            if on_skipped is not None:
                skip = self._skip_sql()
                # skip predicates read hidden columns — base carries the
                # checkpointed ones (the SAME evaluation the good/bad
                # frames read) and gets the rest here; the callback
                # gets the ORIGINAL input shape back
                if skip is not None:
                    on_skipped(
                        self._with_hidden(base)
                        .filter(f"coalesce({skip}, false)")
                        .select(*df.columns)
                    )
                else:
                    on_skipped(df.filter(F.lit(False)))
            if destination is not None:
                destination(good)
            if run_after_processing:
                self.run_after_processing()
            return good
        finally:
            if rescue_with is not None:
                if prev is None:
                    self.settings_dict.pop("mapping_rescue", None)
                else:
                    self.settings_dict["mapping_rescue"] = prev

    def process_record(self, record: dict) -> "Pipeline":
        """``indexer.process_record(record)`` / ``indexer << record``
        (indexer.rb:440-449): buffer one record for the configured sink.

        The reference writes each record through immediately; per-record
        job launch is the anti-scale shape on Spark, so records buffer
        driver-side and ``flush_records`` maps the batch in ONE job.
        """
        self._record_buffer: list = getattr(self, "_record_buffer", [])
        self._record_buffer.append(record)
        return self

    __lshift__ = process_record  # indexer << record (indexer.rb:448-449)

    def flush_records(
        self,
        spark: SparkSession,
        destination: Optional[Callable[[DataFrame], None]] = None,
    ) -> DataFrame:
        """Map all buffered ``process_record`` records as one job; send
        the output to ``destination`` (the writer) if given; clear the
        buffer. Returns the mapped DataFrame.

        Record ids come from the record's own 001 control field (what the
        reference's writers persist as the document id); records with no
        001 fall back to a positional ``__r{i}__`` placeholder."""
        from traject_spark.marc.io import _id_from

        records = getattr(self, "_record_buffer", [])
        rows = [
            (
                (_id_from(rec, "001") if rec.get("controlfields") else None)
                or f"__r{i}__",
                rec,
            )
            for i, rec in enumerate(records)
        ]
        df = spark.createDataFrame(rows, schema=MARC_SOURCE_SCHEMA)
        # honor a non-default id_col, like map_records: the schema names
        # the id 'record_id', but apply() only carries the id through
        # when it is named self.id_col — without the rename a configured
        # Pipeline(id_col='id') would emit NO id column at all
        if self.id_col and self.id_col != "record_id":
            df = df.withColumnRenamed("record_id", self.id_col)
        out = self.apply(df)
        if destination is not None:
            destination(out)
        self._record_buffer = []
        return out

    def map_record(self, record: dict, spark: SparkSession) -> dict:
        """Single-record correctness entry point, mirroring
        Indexer#map_record (lib/traject/indexer.rb:429-433): returns the
        output_hash as {field: [values]} with omitted fields absent.
        """
        out = self.map_records([record], spark)
        return out[0] if out else {}

    def map_records(self, records: Sequence[dict], spark: SparkSession) -> list[dict]:
        """Batch variant of map_record: ONE Spark job for N records,
        preserving input order. Skipped records come back as {}.

        Works for ANY id_col configuration: the synthetic positional ids
        ride whatever id column the pipeline is configured with (renamed
        from MARC_SOURCE_SCHEMA's record_id), and a pipeline with
        id_col=None is correlated through a temporary id column so the
        positional mapping never silently returns {}.
        """
        rows = [(f"__r{i}__", rec) for i, rec in enumerate(records)]
        df = spark.createDataFrame(rows, schema=MARC_SOURCE_SCHEMA)
        # reserved name: the positional row id must never collide with a
        # to_field name (a pipeline with id_col='id' AND to_field('id')
        # is the canonical traject shape — the mapped field would win in
        # apply() and the positional correlation would break)
        id_name = "__traject_rowid__"
        df = df.withColumnRenamed("record_id", id_name)
        prev_id_col = self.id_col
        self.id_col = id_name
        try:
            collected = self.apply(df).collect()
        finally:
            self.id_col = prev_id_col
        by_id = {}
        for row in collected:
            d = row.asDict()
            rid = d.pop(id_name, None)
            by_id[rid] = {k: list(v) for k, v in d.items() if v is not None}
        return [by_id.get(f"__r{i}__", {}) for i in range(len(records))]
