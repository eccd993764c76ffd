"""MARC format/genre classification (reference:
lib/traject/macros/marc_format_classifier.rb).

The classifier is a stack of boolean predicates over leader bytes, 007
control fields, and a few data fields, assembled into a 1..N-element
format vocabulary.  Everything compiles to Column predicates
(``F.exists`` / ``substring(leader, ...)``) — intra-row, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from traject_spark.expr import SqlMacro, let, let2, sql_let
from traject_spark.translation_map import TranslationMap

# one shared empty-array helper — drifting copies otherwise
from traject_spark.marc.extractor import _empty


def _normalized_gmd(marc: Column) -> Column:
    """Lower-cased first 245$h, else '' (marc_format_classifier.rb:188-193)."""
    f245 = F.get(F.filter(marc["datafields"], lambda f: f["tag"] == "245"), 0)
    h = F.get(
        F.filter(f245["subfields"], lambda sf: sf["code"] == "h"), 0
    )["value"]
    return F.coalesce(F.lower(h), F.lit(""))


def _f007_values(marc: Column) -> Column:
    """Values of all 007 control fields, the shared input of the genre /
    online / microform predicates — formats_expr let-binds this ONCE so
    the composed expression scans controlfields a single time instead of
    once per predicate. Coalesced: marc.controlfields = NULL is
    schema-legal in user parquet, and a NULL here would ride
    flatten/concat through genre_expr and null the whole formats
    accumulator instead of yielding the default."""
    return F.coalesce(
        F.transform(
            F.filter(marc["controlfields"], lambda f: f["tag"] == "007"),
            lambda f: f["value"],
        ),
        F.array().cast("array<string>"),
    )


def _has_007_starting(
    marc: Column, ch: str, f007_values: Column | None = None
) -> Column:
    vals = _f007_values(marc) if f007_values is None else f007_values
    return F.exists(vals, lambda v: F.substring(v, 1, 1) == ch)


def genre_expr(
    marc: Column, leader_map=None, f007_map=None, f007_values=None
) -> Column:
    """Leader bytes 6-7 pair, else leader byte 6, else each 007 byte 0
    through the genre maps — lookup misses on the 007 path stay NULL,
    matching the reference's collect-with-nils
    (marc_format_classifier.rb:86-95)."""
    lmap = leader_map or TranslationMap("marc_genre_leader")
    cmap = f007_map or TranslationMap("marc_genre_007")
    leader = F.coalesce(marc["leader"], F.lit(""))
    # keep the WHOLE lookup value: map entries may legally be arrays and
    # the reference flattens them in ([results].flatten,
    # marc_format_classifier.rb:88-92) — taking element 0 would drop the
    # rest of a custom array-valued entry
    two = lmap.lookup_expr(F.substring(leader, 7, 2))
    one = lmap.lookup_expr(F.substring(leader, 7, 1))
    vals = _f007_values(marc) if f007_values is None else f007_values
    from_007 = F.flatten(
        F.transform(
            vals,
            # a lookup miss contributes one NULL element, matching the
            # reference's collect-with-nils
            lambda v: F.coalesce(
                cmap.lookup_expr(F.substring(v, 1, 1)),
                F.array(F.lit(None).cast("string")),
            ),
        )
    )
    return (
        F.when(two.isNotNull(), two)
        .when(one.isNotNull(), one)
        .otherwise(from_007)
    )


#: shared by the Column path and the SQL compiler (via _sq, so the
#: compiled text is lexer-independent — advice r12)
_CONGRESS_RE = r"(?m)^\s*(C|c)ongresses\.?\s*$"


def thesis_expr(marc: Column) -> Column:
    """Has a 502 (marc_format_classifier.rb:98-102)."""
    return F.exists(marc["datafields"], lambda f: f["tag"] == "502")


def proceeding_expr(marc: Column) -> Column:
    """Any 6xx with $v ~= 'Congresses' (marc_format_classifier.rb:105-112)."""
    return F.exists(
        marc["datafields"],
        lambda f: (F.substring(f["tag"], 1, 1) == "6")
        & F.exists(
            f["subfields"],
            # (?m): Ruby's ^/$ are ALWAYS line anchors — a multi-line
            # $v value (producible via JSON ingest) matches on an
            # interior line in the reference, so Java's string-anchor
            # default would silently diverge
            lambda sf: (sf["code"] == "v")
            & sf["value"].rlike(_CONGRESS_RE),
        ),
    )


def print_expr(marc: Column, gmd: Column | None = None) -> Column:
    """RDA 338 (with $2=rdacarrier) says volume/sheet/card ($a) or
    nc/no/nb ($b); with no RDA 338, print iff no 245$h GMD
    (marc_format_classifier.rb:129-146)."""
    rda338 = F.filter(
        marc["datafields"],
        lambda f: (f["tag"] == "338")
        & (
            F.coalesce(
                F.get(
                    F.filter(f["subfields"], lambda sf: sf["code"] == "2"), 0
                )["value"],
                F.lit(""),
            )
            == "rdacarrier"
        ),
    )
    rda_hit = F.exists(
        rda338,
        lambda f: F.exists(
            f["subfields"],
            lambda sf: ((sf["code"] == "a") & sf["value"].isin(["volume", "card", "sheet"]))
            | ((sf["code"] == "b") & sf["value"].isin(["nc", "no", "nb"])),
        ),
    )
    g = _normalized_gmd(marc) if gmd is None else gmd
    return F.when(F.size(rda338) > 0, rda_hit).otherwise(F.length(g) == 0)


def online_expr(
    marc: Column, gmd: Column | None = None, f007_values: Column | None = None
) -> Column:
    """007 'cr' => online; else GMD '[electronic resource]' counts only
    when NO 007 starts with 'c' (marc_format_classifier.rb:150-163)."""
    vals = _f007_values(marc) if f007_values is None else f007_values
    g = _normalized_gmd(marc) if gmd is None else gmd
    cr = F.exists(vals, lambda v: F.substring(v, 1, 2) == "cr")
    gmd_online = g.startswith("[electronic resource]") & ~_has_007_starting(
        marc, "c", f007_values=vals
    )
    return cr | gmd_online


def microform_expr(
    marc: Column, gmd: Column | None = None, f007_values: Column | None = None
) -> Column:
    """GMD '[microform]', leader byte 6 'h' (obsolete), or 007 'h'
    (marc_format_classifier.rb:168-172)."""
    g = _normalized_gmd(marc) if gmd is None else gmd
    return (
        g.startswith("[microform]")
        | (F.substring(F.coalesce(marc["leader"], F.lit("")), 7, 1) == "h")
        | _has_007_starting(marc, "h", f007_values=f007_values)
    )


def manuscript_archive_expr(marc: Column) -> Column:
    """Leader byte 6 in t/d/f/b, or leader byte 8 'a'
    (marc_format_classifier.rb:175-186)."""
    leader = F.coalesce(marc["leader"], F.lit(""))
    return F.substring(leader, 7, 1).isin(["t", "d", "f", "b"]) | (
        F.substring(leader, 9, 1) == "a"
    )


def formats_expr(marc: Column, default: str = "Other") -> Column:
    """The opinionated grab-bag assembly (marc_format_classifier.rb:44-74):
    genre + Manuscript/Archive + Microform + Online + Print (unless a
    recording) ; thesis replaces Book with Dissertation/Thesis; proceeding
    appends Conference; empty -> default."""
    def flag(cond: Column, label: str) -> Column:
        return F.when(cond, F.array(F.lit(label))).otherwise(_empty())

    def build(gmd: Column, f007_vals: Column) -> Column:
        genre = genre_expr(marc, f007_values=f007_vals)

        def stage1(base: Column) -> Column:
            is_recording = F.arrays_overlap(
                F.filter(base, lambda x: x.isNotNull()),
                F.array(F.lit("Non-musical Recording"), F.lit("Musical Recording")),
            )
            return F.concat(
                base, flag(print_expr(marc, gmd=gmd) & ~is_recording, "Print")
            )

        def stage2(base: Column) -> Column:
            return F.when(
                thesis_expr(marc),
                F.concat(
                    F.filter(base, lambda x: x.isNull() | (x != "Book")),
                    F.array(F.lit("Dissertation/Thesis")),
                ),
            ).otherwise(base)

        def stage3(base: Column) -> Column:
            # [nil] from unmapped 007s is non-empty -> default does NOT
            # fire, replicating the reference's nil-in-formats quirk
            return F.when(
                F.size(base) == 0, F.array(F.lit(default))
            ).otherwise(base)

        base0 = F.concat(
            genre,
            flag(manuscript_archive_expr(marc), "Manuscript/Archive"),
            flag(microform_expr(marc, gmd=gmd, f007_values=f007_vals), "Microform"),
            flag(online_expr(marc, gmd=gmd, f007_values=f007_vals), "Online"),
        )
        # let-bind between stages: each stage references its input 2-3 times
        return let(
            let(
                let(base0, stage1),
                stage2,
            ),
            lambda b: stage3(
                F.concat(b, flag(proceeding_expr(marc), "Conference"))
            ),
        )

    # bind the two shared sub-expressions ONCE: gmd (a 245 + subfield
    # scan, used by print/online/microform) and the 007 values (used by
    # genre/online/microform) each appeared 3x in the composed tree,
    # re-scanning the record's field arrays per appearance
    return let2(_normalized_gmd(marc), _f007_values(marc), build)


# ---------------------------------------------------------------------------
# generated SQL: what marc_formats builds
#
# The Column builder above costs ~1450 Py4J round trips (~0.5s of the
# flagship's driver-side build); the SQL text below is the same
# classifier rendered as text for the text macro. let() has a direct SQL form
# (the aggregate trick with NAMED lambda variables, so nesting is
# unambiguous), and the genre maps are embedded from the same
# TranslationMap load the Column path uses — a user map shadowing the
# builtin flows into the SQL too. The Column builder stays only for maps
# the SQL literals cannot carry. Values are pinned by
# tests/data/macro_goldens.json and the marc_formats oracle row.
# ---------------------------------------------------------------------------

def _sq(s: str) -> str:
    """Render a Python string as a Spark SQL literal expression that is
    stable under BOTH string-lexer modes — neither backslash escapes nor
    quote doubling survive spark.sql.parser.escapedStringLiterals=true
    on Spark 4 (ADVICE r12; probe table in traject_spark/sqlutil.py)."""
    from traject_spark.sqlutil import sql_str_lit

    return sql_str_lit(s)


def _sql_map_of_arrays(mapping: dict) -> str:
    """map(k, array(v...), ...) literal matching _as_array_dict shapes.
    Refuses shapes the plain try_element_at probe can't carry — callers
    gate on _genre_maps_sql_eligible first, this raise is the backstop."""
    parts = []
    for k, v in mapping.items():
        vals = v if isinstance(v, list) else [v]
        if any(x is None for x in vals) or k == "__default__":
            raise ValueError(
                f"map entry {k!r} -> {v!r} is not SQL-probe eligible"
            )
        arr = "array(" + ", ".join(_sq(str(x)) for x in vals) + ")"
        parts.append(f"{_sq(str(k))}, {arr}")
    return "map(" + ", ".join(parts) + ")"


def _genre_maps_sql_eligible() -> bool:
    """marc_formats' generated SQL renders the genre maps as plain
    try_element_at literals, which carry ONLY the simple shape: no
    ``__default__`` (lookup_expr applies it on every miss; a literal
    key never would) and no nil suppression entries (lookup_expr maps
    them to NULL-means-remove; a literal would render the string
    'None'). A user map shadowing a builtin with either feature must
    take the Column path — same rule TranslationMap.sql_probe enforces
    for the languages/geo paths."""
    for name in ("marc_genre_leader", "marc_genre_007"):
        d = TranslationMap(name).as_dict()
        if "__default__" in d:
            return False
        for v in d.values():
            vals = v if isinstance(v, list) else [v]
            if any(x is None for x in vals):
                return False
    return True


def formats_sql(marc: str, default: str = "Other") -> str:
    """SQL text of ``formats_expr`` over source column ``marc``
    (pre-quoted identifier). Each fragment cites the Column helper it
    mirrors; tests/data/macro_goldens.json pins both forms."""
    lmap = _sql_map_of_arrays(TranslationMap("marc_genre_leader").as_dict())
    cmap = _sql_map_of_arrays(TranslationMap("marc_genre_007").as_dict())
    leader = f"coalesce({marc}.leader, '')"
    empty = "cast(array() as array<string>)"
    # _normalized_gmd
    gmd_v = (
        f"coalesce(lower(get(filter(get(filter({marc}.datafields, "
        f"f -> f.tag = '245'), 0).subfields, sf -> sf.code = 'h'), "
        f"0).value), '')"
    )
    # _f007_values
    f007_v = (
        f"coalesce(transform(filter({marc}.controlfields, "
        f"f -> f.tag = '007'), f -> f.value), {empty})"
    )
    # genre_expr: two-byte pair, else one byte, else 007 byte-0 lookups
    # with misses kept as NULL elements
    genre = (
        f"case when try_element_at({lmap}, substring({leader}, 7, 2)) "
        f"is not null then try_element_at({lmap}, substring({leader}, 7, 2)) "
        f"when try_element_at({lmap}, substring({leader}, 7, 1)) "
        f"is not null then try_element_at({lmap}, substring({leader}, 7, 1)) "
        f"else flatten(transform(fv, v -> coalesce("
        f"try_element_at({cmap}, substring(v, 1, 1)), "
        f"array(cast(null as string))))) end"
    )
    manuscript = (
        f"(substring({leader}, 7, 1) in ('t', 'd', 'f', 'b') "
        f"or substring({leader}, 9, 1) = 'a')"
    )
    microform = (
        f"(startswith(g, '[microform]') or substring({leader}, 7, 1) = 'h' "
        f"or exists(fv, v -> substring(v, 1, 1) = 'h'))"
    )
    online = (
        f"(exists(fv, v -> substring(v, 1, 2) = 'cr') or "
        f"(startswith(g, '[electronic resource]') "
        f"and not exists(fv, v -> substring(v, 1, 1) = 'c')))"
    )
    # print_expr: rda338 let-bound (referenced by the size guard and hit)
    rda338 = (
        f"filter({marc}.datafields, f -> f.tag = '338' and "
        f"coalesce(get(filter(f.subfields, sf -> sf.code = '2'), 0).value, "
        f"'') = 'rdacarrier')"
    )
    rda_hit = (
        "exists(r338, f -> exists(f.subfields, sf -> "
        "(sf.code = 'a' and sf.value in ('volume', 'card', 'sheet')) or "
        "(sf.code = 'b' and sf.value in ('nc', 'no', 'nb'))))"
    )
    print_p = sql_let(
        rda338, "r338",
        f"case when size(r338) > 0 then {rda_hit} else length(g) = 0 end",
    )
    thesis = f"exists({marc}.datafields, f -> f.tag = '502')"
    proceeding = (
        f"exists({marc}.datafields, f -> substring(f.tag, 1, 1) = '6' and "
        f"exists(f.subfields, sf -> sf.code = 'v' and "
        f"sf.value rlike {_sq(_CONGRESS_RE)}))"
    )

    def flag(cond: str, label: str) -> str:
        return f"case when {cond} then array({_sq(label)}) else {empty} end"

    base0 = (
        f"concat({genre}, {flag(manuscript, 'Manuscript/Archive')}, "
        f"{flag(microform, 'Microform')}, {flag(online, 'Online')})"
    )
    is_recording = (
        "arrays_overlap(filter(b0, x -> x is not null), "
        "array('Non-musical Recording', 'Musical Recording'))"
    )
    stage1 = sql_let(
        base0, "b0",
        f"concat(b0, {flag(f'{print_p} and not {is_recording}', 'Print')})",
    )
    stage2 = sql_let(
        stage1, "b1",
        f"case when {thesis} then concat("
        f"filter(b1, x -> x is null or x != 'Book'), "
        f"array('Dissertation/Thesis')) else b1 end",
    )
    stage3 = sql_let(
        f"concat(b2, {flag(proceeding, 'Conference')})", "b3",
        f"case when size(b3) = 0 then array({_sq(default)}) else b3 end",
    )
    assembled = sql_let(stage2, "b2", stage3)
    return sql_let(gmd_v, "g", sql_let(f007_v, "fv", assembled))


def marc_formats(default: str = "Other"):
    """Macro form (marc_format_classifier.rb:17-22): a text macro over
    the classifier's generated SQL (formats_sql); ``formats_expr``
    through the pipeline's Column bridge when a user map shadowing the
    genre maps is not SQL-probe eligible."""
    # map eligibility checked once at macro construction, not per compile
    sql_ok = _genre_maps_sql_eligible()

    def sql(acc: str, ctx) -> str:
        if sql_ok:
            formats = formats_sql(ctx.source_sql, default=default)
        else:
            formats = ctx.column_sql(formats_expr(ctx.marc, default=default))
        return f"concat({acc}, {formats})"

    return SqlMacro(sql)
