"""Compile MarcSpec lists into a single intra-row Column expression.

Semantics mirrored from the reference extractor
(lib/traject/marc_extractor.rb:205-270):

- iterate record fields in document order; for each field, every spec
  registered for its (effective) tag contributes, in declaration order;
- control fields yield ``value.byteslice(bytes)`` (or the whole value when
  the spec carries no byte range);
- data fields yield subfield values filtered by the spec's codes, in
  subfield order; when a separator is configured and the spec is
  "joinable" (zero or 2+ codes, or a doubled code) the values of ONE field
  are joined into ONE string;
- alternate-script: with mode ``include`` (default) an 880 field is matched
  as if it had the tag named by the first 3 bytes of its ``$6`` (falling
  back to ``880`` when ``$6`` is absent); ``only`` restricts matching to
  880 fields; ``False`` disables the rewrite entirely
  (lib/traject/marc_extractor.rb:112-158, marc_extractor_spec.rb:51-67).

The compiled expression is pure array algebra over the nested struct — no
explode, no join, no shuffle. On a cluster this stays inside one
whole-stage-codegen'd narrow stage regardless of data size.

Note on ordering: the reference interleaves control/data fields in record
order; in practice control fields (001-009) physically precede data fields,
so this implementation emits control-spec results first. Documented
deviation for pathological out-of-order records.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from typing import Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import SQL_EMPTY, let, let2
from traject_spark.marc.serialize import CONTROL_TAGS
from traject_spark.marc.spec import ALTERNATE_SCRIPT_TAG, MarcSpec, parse_marc_spec

EMPTY_STR_ARRAY = "array<string>"


def _empty() -> Column:
    return F.array().cast(EMPTY_STR_ARRAY)


def _byteslice(value: Column, spec: MarcSpec) -> Column:
    """Ruby String#byteslice semantics on ASCII fixed fields.

    byteslice(n)    -> nil when n >= length       (single byte form)
    byteslice(n..m) -> '' when n == length, nil when n > length, partial
                       result when m >= length
    (lib/traject/marc_extractor.rb:209-217; fixed fields are ASCII so
    byte == char and substring is safe — SURVEY §4 trap 6.)
    """
    start = spec.bytes_start
    if spec.bytes_end is None:
        return F.when(
            F.length(value) > start, F.substring(value, start + 1, 1)
        ).otherwise(F.lit(None).cast("string"))
    return F.when(
        F.length(value) >= start,
        F.substring(value, start + 1, spec.byte_length),
    ).otherwise(F.lit(None).cast("string"))


def _first_6(f: Column) -> Column:
    """Value of the first $6 subfield (linkage), NULL when absent."""
    # F.get is null-safe on empty arrays (ANSI mode: element_at throws)
    return F.get(
        F.filter(f["subfields"], lambda sf: sf["code"] == "6"), 0
    )["value"]


def _concat_arrays(parts: list[Column]) -> Column:
    if not parts:
        return _empty()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def collect_subfields_expr(
    f: Column, spec: MarcSpec, separator: Optional[str]
) -> Column:
    """Subfield values of one data FIELD per spec (code filter + join rule),
    without the tag/indicator match — the reuse point for semantic macros
    (mirrors MarcExtractor#collect_subfields, marc_extractor.rb:258-270).

    NULL subfield values are dropped HERE, before the join — the reference
    runs ``.compact`` before its empty-check and join, so an all-nil field
    contributes nothing (not ``[""]``).  The outer coalesce guards against
    a NULL ``subfields`` array (allowed by the schema for user-supplied
    parquet): filter/transform null-propagate, and one NULL contribution
    would null out concat+flatten for the whole record."""
    if spec.subfields is None:
        kept = F.filter(f["subfields"], lambda sf: sf["value"].isNotNull())
    else:
        codes = list(spec.subfields)
        kept = F.filter(
            f["subfields"],
            lambda sf: sf["code"].isin(codes) & sf["value"].isNotNull(),
        )
    vals = F.coalesce(F.transform(kept, lambda sf: sf["value"]), _empty())
    if separator is not None and spec.joinable:
        vals = let(
            vals,
            lambda v: F.when(
                F.size(v) > 0, F.array(F.array_join(v, separator))
            ).otherwise(_empty()),
        )
    return vals


def _resolve_specs(spec) -> list:
    if isinstance(spec, list) and spec and isinstance(spec[0], MarcSpec):
        return spec
    return parse_marc_spec(spec)


def collect_matching_lines(
    marc: Column,
    spec,
    data_fn,
    ctrl_fn=None,
    alternate_script: Union[str, bool] = "include",
    element_type: str = "string",
) -> Column:
    """Generalized each_matching_line (marc_extractor.rb:226-235): iterate
    fields in record order; for each field, every spec for its (effective)
    tag contributes via the callback, results flattened in order.

    ``data_fn(field, spec) -> array Column`` — contribution of one data
    field x one matching spec.  ``ctrl_fn(field, spec) -> array Column`` —
    same for control fields (default: byte-slice/whole-value extract).
    """
    # the reference's documented option values are true (include 880
    # alternate scripts — its DEFAULT), false (exclude), and :only
    # (marc_extractor.rb): normalize the booleans so alternate_script=True
    # enables inclusion instead of silently falling through every
    # string comparison below as "neither include nor only"
    if alternate_script is True:
        alternate_script = "include"
    specs = _resolve_specs(spec)
    empty = F.array().cast(f"array<{element_type}>")

    if ctrl_fn is None:
        ctrl_fn = lambda f, s: F.array(  # noqa: E731
            _byteslice(f["value"], s) if s.is_byte_spec else f["value"]
        )

    # control fields can only carry tags 001-009 (the reference dispatches
    # on the FIELD's kind, lib/traject/marc_extractor.rb:283-287) — build
    # the control branch only when a spec could actually match one, so a
    # datafield-only pipeline prunes marc.controlfields at the scan.
    # Under alternate_script='only' NO tag except 880 is interesting
    # (marc_extractor.rb:146-149), so control specs contribute nothing.
    # membership in the canonical ruby-marc set, not tag < "010": specs
    # like "000" or "00a" are DataFields in that model (and the ingest
    # engines place them in datafields), so a lexicographic predicate
    # would scan the wrong branch and silently extract nothing for them
    ctrl_specs = (
        [] if alternate_script == "only"
        else [s for s in specs if s.tag in CONTROL_TAGS]
    )
    ctrl_part = None
    if ctrl_specs:
        control_tags = sorted({s.tag for s in ctrl_specs})
        ctrl_fields = F.filter(
            marc["controlfields"],
            lambda f: reduce(
                lambda a, b: a | b, [f["tag"] == t for t in control_tags]
            ),
        )

        def ctrl_per_field(f: Column) -> Column:
            parts = [
                F.when(f["tag"] == s.tag, ctrl_fn(f, s)).otherwise(empty)
                for s in ctrl_specs
            ]
            return _concat_arrays(parts)

        ctrl_part = F.flatten(F.transform(ctrl_fields, ctrl_per_field))

    use_alt = alternate_script in ("include", "only")
    # Datafield-branch pruning, mirror of the control-branch pruning above:
    # tags 001-009 are ControlFields in the reference's data model
    # (ruby-marc parses them so), so a spec list that is ALL control tags
    # can only reach the datafield side via the 880 $6 rewrite.  With
    # alternate scripts off, skip the branch entirely (lets Catalyst prune
    # marc.datafields at the scan); with them on, only 880 fields need
    # considering.  Preserves the reference's (pathological) behavior of an
    # 880 whose $6 links a control tag being collected as subfields.
    all_control = all(s.tag in CONTROL_TAGS for s in specs)
    if all_control and not use_alt:
        return F.coalesce(ctrl_part, empty) if ctrl_part is not None else empty

    if alternate_script == "only" or all_control:
        considered = F.filter(
            marc["datafields"], lambda f: f["tag"] == ALTERNATE_SCRIPT_TAG
        )
    else:
        considered = marc["datafields"]

    def match_cond(f: Column, tags: list[str], s) -> Column:
        """Tag(s) match with the 880 rewrite inlined as short-circuit
        disjuncts: for the common non-880 field the $6 probe never runs
        (cheaper than binding an effective tag per field). Faithful to
        effective_tag = coalesce(substr($6,1,3), '880')
        (marc_extractor_spec.rb:58-67): an 880 WITH a $6 matches its
        linked tag only; an 880 without $6 matches spec tag '880'."""
        if not use_alt:
            tag_cond = f["tag"].isin(tags)
        elif tags == [ALTERNATE_SCRIPT_TAG]:
            tag_cond = (f["tag"] == ALTERNATE_SCRIPT_TAG) & (
                F.coalesce(
                    F.substring(_first_6(f), 1, 3), F.lit(ALTERNATE_SCRIPT_TAG)
                )
                == ALTERNATE_SCRIPT_TAG
            )
        else:
            tag_cond = f["tag"].isin(tags) | (
                (f["tag"] == ALTERNATE_SCRIPT_TAG)
                & F.substring(_first_6(f), 1, 3).isin(tags)
            )
        if s.ind1 is not None:
            tag_cond = tag_cond & (f["ind1"] == s.ind1)
        if s.ind2 is not None:
            tag_cond = tag_cond & (f["ind2"] == s.ind2)
        return tag_cond

    # Merge specs that differ only by tag into one isin() group: a spec
    # list like 600:610:611:650:651 (geo/era/lcsh shapes) costs ONE match
    # + extraction per field instead of N. Safe only when no tag appears
    # in two specs (then a field matches at most one spec, so per-field
    # contribution order is unaffected); '880' specs stay unmerged (their
    # match rule differs).
    #
    # CALLBACK CONTRACT: a merged group hands data_fn the FIRST spec of
    # the group, so a custom data_fn must not branch on s.tag or the
    # byte-range fields (read the FIELD's f['tag'] instead — every
    # in-repo callback does). The merge key carries (ind1, ind2,
    # subfields, is-880), i.e. exactly the spec attributes the built-in
    # callbacks consume; byte specs are control-tag specs and control
    # fields never take this path.
    tag_counts = Counter(s.tag for s in specs)
    mergeable = all(c == 1 for c in tag_counts.values())
    groups: list[tuple[list[str], MarcSpec]] = []
    if mergeable:
        by_key: dict = {}
        for s in specs:
            key = (s.ind1, s.ind2, s.subfields, s.tag == ALTERNATE_SCRIPT_TAG)
            if s.tag != ALTERNATE_SCRIPT_TAG and key in by_key:
                by_key[key][0].append(s.tag)
            else:
                g = ([s.tag], s)
                if s.tag != ALTERNATE_SCRIPT_TAG:
                    by_key[key] = g
                groups.append(g)
    else:
        groups = [([s.tag], s) for s in specs]

    def data_per_field(f: Column) -> Column:
        # each contribution is coalesced so one field with subfields=NULL
        # (allowed by the schema for user-supplied parquet) contributes
        # nothing instead of nulling the concat+flatten for the whole
        # record — the same guard collect_subfields_expr applies, hoisted
        # here so every custom per-field callback (geo $z pairing, era $y,
        # lcsh assembly, instrument-code expansion) gets it for free.
        # Single-group fast path: the any_match pre-filter below IS that
        # group's match_cond, so re-testing it per matched field would
        # evaluate the identical condition tree twice per field — emit
        # the extraction unconditionally (multi-group specs still need
        # the per-group dispatch: a field passed the filter for SOME
        # group, not necessarily this one).
        if len(groups) == 1:
            tags, s = groups[0]
            return F.coalesce(data_fn(f, s), empty)
        parts = [
            F.when(
                match_cond(f, tags, s), F.coalesce(data_fn(f, s), empty)
            ).otherwise(empty)
            for tags, s in groups
        ]
        return _concat_arrays(parts) if parts else empty

    # pre-filter to fields that match SOME group before running the
    # extraction transform: data_per_field returns empty for a
    # non-matching field anyway (every contribution is gated on its
    # match_cond), but transform+flatten over the full datafields array
    # allocates one (mostly empty) array per field per row — on a
    # 600k-record corpus where ~1-2 of ~20 fields match a given spec
    # that is tens of millions of dead allocations per mapped field.
    # The filter re-evaluates the cheap tag/indicator conditions once
    # per field; the per-field array allocation now happens only for
    # matched fields. NULL lambda results drop the element in filter,
    # exactly like when(NULL)->empty contributed nothing before.
    def any_match(f: Column) -> Column:
        cond = None
        for tags, s in groups:
            c = match_cond(f, tags, s)
            cond = c if cond is None else (cond | c)
        return cond if cond is not None else F.lit(False)

    data_part = F.flatten(
        F.transform(F.filter(considered, any_match), data_per_field)
    )

    if ctrl_part is None:
        return F.coalesce(data_part, empty)
    return let2(
        ctrl_part,
        data_part,
        lambda c, d: F.coalesce(F.concat(c, d), c, d, empty),
    )


_SQL_FIRST6 = "get(filter(f.subfields, sf -> sf.code = '6'), 0).value"


def _sql_tag_match(tags: list) -> str:
    """SQL form of ``match_cond`` for indicator-free non-880 specs under
    alternate_script='include' (the only shape :func:`_extract_sql`
    accepts): tag in tags OR an 880 whose first $6 links one of them."""
    tl = ", ".join(f"'{t}'" for t in tags)
    return (
        f"(f.tag IN ({tl}) OR ((f.tag = '880') AND "
        f"(substring({_SQL_FIRST6}, 1, 3) IN ({tl}))))"
    )


def _sql_collect_subfields(spec, separator: Optional[str], fvar: str = "f") -> str:
    """SQL form of :func:`collect_subfields_expr` (same null-drop,
    coalesce, and join rules; literals via sql_str_lit so the text is
    lexer-independent). ``fvar`` names the field lambda/let variable in
    scope at the call site."""
    from traject_spark.sqlutil import sql_str_lit

    if spec.subfields is None:
        pred = "sf.value IS NOT NULL"
    else:
        codes = ", ".join(f"'{c}'" for c in spec.subfields)
        pred = f"(sf.code IN ({codes})) AND (sf.value IS NOT NULL)"
    vals = (
        f"coalesce(transform(filter({fvar}.subfields, sf -> {pred}), "
        f"sf -> sf.value), {SQL_EMPTY})"
    )
    if separator is not None and spec.joinable:
        from traject_spark.expr import sql_let

        body = (
            "CASE WHEN size(jv) > 0 THEN "
            f"array(array_join(jv, {sql_str_lit(separator)})) "
            f"ELSE {SQL_EMPTY} END"
        )
        vals = sql_let(vals, "jv", body)
    return vals


def _extract_sql(
    marc_sql: str,
    spec,
    separator: Optional[str] = " ",
    alternate_script: Union[str, bool] = "include",
) -> Optional[str]:
    """:func:`marc_extract` as ONE generated-SQL string for the common
    shape — datafield-only specs, no indicator filters, no literal-880
    specs, alternate_script='include' (the default) — so the flagship
    rules build without a Py4J round trip. Returns None when the spec
    is outside that shape (:func:`extract_values_sql` then bridges the
    Column builder). Values are pinned by
    tests/data/macro_goldens.json and the marc_* oracle rows."""
    if alternate_script not in ("include", True):
        return None
    specs = _resolve_specs(spec)
    if not specs:
        return None
    for s in specs:
        if (
            s.tag in CONTROL_TAGS
            or s.tag == ALTERNATE_SCRIPT_TAG
            or s.is_byte_spec
            or s.ind1 is not None
            or s.ind2 is not None
        ):
            return None

    # same grouping as collect_matching_lines: merge specs differing only
    # by tag when no tag repeats (group key reduces to the subfield set
    # here — indicators/880 are excluded above)
    tag_counts = Counter(s.tag for s in specs)
    mergeable = all(c == 1 for c in tag_counts.values())
    groups: list[tuple[list, object]] = []
    if mergeable:
        by_key: dict = {}
        for s in specs:
            if s.subfields in by_key:
                by_key[s.subfields][0].append(s.tag)
            else:
                g = ([s.tag], s)
                by_key[s.subfields] = g
                groups.append(g)
    else:
        groups = [([s.tag], s) for s in specs]

    matches = [_sql_tag_match(tags) for tags, _ in groups]
    if len(groups) == 1:
        per_field = f"coalesce({_sql_collect_subfields(groups[0][1], separator)}, {SQL_EMPTY})"
    else:
        parts = [
            f"CASE WHEN {m} THEN "
            f"coalesce({_sql_collect_subfields(s, separator)}, {SQL_EMPTY}) "
            f"ELSE {SQL_EMPTY} END"
            for m, (tags, s) in zip(matches, groups)
        ]
        per_field = "concat(" + ", ".join(parts) + ")"
    any_match = " OR ".join(f"({m})" for m in matches)
    data = (
        f"flatten(transform(filter({marc_sql}.datafields, "
        f"f -> {any_match}), f -> {per_field}))"
    )
    return f"coalesce({data}, {SQL_EMPTY})"


def marc_extract(
    marc: Column,
    spec: Union[str, Sequence[str], list],
    separator: Optional[str] = " ",
    alternate_script: Union[str, bool] = "include",
) -> Column:
    """Compile a spec into one ``array<string>`` Column over ``marc``.

    The result may contain NULL elements (out-of-range byte slices) —
    matching the reference, where nils survive in the accumulator until
    ``add_output`` drops them (lib/traject/indexer/context.rb:117-129);
    ``Pipeline`` applies that drop at output time.
    """
    return collect_matching_lines(
        marc,
        spec,
        data_fn=lambda f, s: collect_subfields_expr(f, s, separator),
        alternate_script=alternate_script,
    )


def extract_values_sql(
    ctx,
    spec,
    separator: Optional[str] = " ",
    alternate_script: Union[str, bool] = "include",
) -> str:
    """:func:`marc_extract` over a pipeline context's record column, as
    SQL text: the generated SQL where :func:`_extract_sql` renders the
    spec, else the Column builder's result through the pipeline's
    Column bridge (``ctx.column_sql``) for the shapes it does not
    (control, byte, indicator and 880 specs, alternate_script
    False/'only')."""
    sql = _extract_sql(ctx.source_sql, spec, separator, alternate_script)
    if sql is not None:
        return sql
    return ctx.column_sql(marc_extract(
        ctx.marc, spec, separator=separator, alternate_script=alternate_script
    ))
