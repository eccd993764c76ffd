"""extract_xpath macro (reference: lib/traject/macros/nokogiri_macros.rb:13-46).

The reference evaluates an XPath per record with registered namespaces and,
for each match, joins the non-blank descendant text nodes with single
spaces (or yields the attribute value).  Here the same evaluation compiles
to the built-in ``xpath()`` SQL function (javax.xml.xpath on the JVM —
whole-stage-codegen'd, no Python round trip), which returns the XPath
string-value of every matched node as ``array<string>``.

Namespace handling on the fast path (documented): Spark's ``xpath()`` has
no namespace-context registration, so prefixed name tests are rewritten to
``*[local-name()='name']`` predicates — matching by local name and ignoring
the namespace URI.  For real-world metadata vocabularies (oai_dc, MODS,
MARCXML) local names are unambiguous; documents that reuse one local name
across namespaces should use the UDF paths (``join_text=True`` or
``to_text=False``), which honor the registered URI exactly
(lib/traject/nokogiri_reader.rb:153-169).

Text-node shape on the fast path (documented): Spark's ``xpath()`` yields
node *values* (element nodes have none), so element selections are
rewritten to select their descendant text nodes.  A matched element
containing several text nodes (mixed content / nested children) therefore
emits one value per non-blank text node; for leaf metadata elements
(oai_dc, MODS leaves — the common case) this equals the reference.
``join_text=True`` reproduces the reference's per-match join exactly —
each matched element yields ONE value, its non-blank descendant texts
joined with spaces (lib/traject/macros/nokogiri_macros.rb:30-40).  Fast-
path values are whitespace-normalized (trim + collapse runs), matching
the reference's blank-skipping join.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from traject_spark.arrowutil import release_spark_zip_finders

_QNAME = re.compile(r"(@?)([A-Za-z_][\w.-]*):([A-Za-z_][\w.-]*)")


def localname_path(path: str, namespaces: dict | None = None) -> str:
    """Rewrite ``prefix:name`` steps to ``*[local-name()='name']`` form.

    Only prefixes present in ``namespaces`` are rewritten when a mapping is
    given (mirroring the reference's requirement that every prefix used be
    registered, lib/traject/nokogiri_reader.rb:153-169); with no mapping,
    every prefixed QName is rewritten.
    """

    def sub(m: re.Match) -> str:
        at, prefix, name = m.groups()
        if namespaces is not None and prefix not in namespaces:
            raise ValueError(
                f"xpath prefix {prefix!r} not registered in namespaces "
                f"{sorted(namespaces)}"
            )
        if at:
            return f"@*[local-name()='{name}']"
        return f"*[local-name()='{name}']"

    # rewrite only OUTSIDE string literals: a predicate like
    # [@authority='dcterms:LCSH'] contains a colon inside quotes that is
    # DATA, not a QName step — mangling it would corrupt the comparison
    parts = re.split(r"""('[^']*'|"[^"]*")""", path)
    return "".join(
        p if p[:1] in ("'", '"') else _QNAME.sub(sub, p) for p in parts
    )


def _normalize(v: Column) -> Column:
    return F.trim(F.regexp_replace(v, r"\s+", " "))


def _parse_steps(path: str):
    """Parse the ``[/]/step/step/...[/@attr|/text()]`` path subset the UDF
    paths support: a chain of element name tests (parent/child axis only)
    plus an optional trailing ``@attr`` or ``text()``. Returns
    ``(elem_steps, node_kind, attr_name, attr_prefix, absolute)`` where
    ``elem_steps`` is ``[(prefix_or_None, localname), ...]`` for every
    element step (``*`` wildcards allowed) and ``absolute`` is True for a
    single-``/``-rooted path (must match from the document root).

    Every element step is honored: ``//record/header/identifier`` matches
    only an ``identifier`` whose parent chain ends ``record/header`` —
    matching by bare trailing name would silently over-match (e.g. the
    dc:identifier inside an OAI record's metadata)."""
    p = path.strip()
    absolute = p.startswith("/") and not p.startswith("//")
    body = p.lstrip("/")
    if "//" in body:
        raise ValueError(
            f"extract_xpath: interior '//' in {path!r} is not supported "
            "on the join_text/to_text=False paths (parent/child steps "
            "only); the default to_text=True path compiles the "
            "descendant axis via xpath()"
        )
    steps = [s.strip() for s in body.split("/") if s.strip()]
    # the UDF paths match by element/attribute NAME only; a predicate in
    # ANY step would be silently ignored (matching too much) — refuse
    # instead, pointing at the fast path which compiles predicates
    for s in steps:
        if "[" in s:
            raise ValueError(
                f"extract_xpath: predicate in {s!r} is not supported on "
                "the join_text/to_text=False paths; the default "
                "to_text=True path compiles predicates via xpath()"
            )
    if not steps:
        raise ValueError(f"extract_xpath: empty xpath {path!r}")
    last = steps[-1]
    if last.startswith("@"):
        node_kind = "attr"
        b = last.lstrip("@").strip()
        prefix, _, local = b.rpartition(":")
        if not local:
            raise ValueError(f"extract_xpath: empty attribute in {path!r}")
        attr_name, attr_prefix = local, (prefix or None)
        elem_raw = steps[:-1]
    elif last == "text()":
        node_kind, attr_name, attr_prefix = "text", None, None
        elem_raw = steps[:-1]
    else:
        node_kind, attr_name, attr_prefix = "element", None, None
        elem_raw = steps
    elem_steps = []
    for s in elem_raw:
        prefix, _, local = s.rpartition(":")
        if not local:
            raise ValueError(f"extract_xpath: empty step in {path!r}")
        elem_steps.append((prefix or None, local))
    if node_kind == "element" and not elem_steps:
        raise ValueError(f"extract_xpath: empty xpath {path!r}")
    return elem_steps, node_kind, attr_name, attr_prefix, absolute


def _xml_match_udf(path: str, ns: dict | None, mode: str):
    """Arrow-batched UDF over the record XML string for the two paths the
    JVM ``xpath()`` function can't express (see module docstring):

    ``mode='node'`` — each match in its string form by node kind
    (element -> XML snippet, @attr -> value, text() -> raw content).
    ``mode='join'`` — the reference's to_text semantics per match:
    an element match joins its non-all-blank descendant text nodes with
    single spaces into ONE value (nokogiri_macros.rb:30-40); an @attr
    match yields the attribute value.

    Namespace fidelity: when ``ns`` maps a step's prefix to a URI, the
    match requires that exact ``{uri}local`` tag (the reference registers
    real namespace URIs, nokogiri_reader.rb:153-169); unprefixed steps
    match by local name across namespaces, like the fast path.
    """
    elem_steps, node_kind, attr_name, attr_prefix, absolute = (
        _parse_steps(path)
    )
    if mode == "join" and node_kind == "text":
        raise ValueError(
            "extract_xpath(join_text=True) supports element and @attr "
            "trailing steps; a trailing text() already yields one value "
            "per text node on the default path"
        )
    # with a mapping given, every used prefix must be registered (the
    # reference's rule, nokogiri_reader.rb:153-169) and matching becomes
    # URI-exact; with no mapping, prefixed steps match by local name
    if ns is not None:
        for pfx in [p for p, _ in elem_steps] + [attr_prefix]:
            if pfx is not None and pfx not in ns:
                raise ValueError(
                    f"xpath prefix {pfx!r} not registered in namespaces "
                    f"{sorted(ns)}"
                )
    ns = ns or {}
    # each step compiles to ('exact', '{uri}local') when its prefix is
    # registered, ('any', None) for '*', else ('local', localname)
    step_tests = [
        ("exact", f"{{{ns[p]}}}{local}") if p in ns
        else (("any", None) if local == "*" else ("local", local))
        for p, local in elem_steps
    ]
    attr_exact = (
        f"{{{ns[attr_prefix]}}}{attr_name}" if attr_prefix in ns else None
    )

    @pandas_udf("array<string>")
    def _matches(col: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET

        release_spark_zip_finders()

        def localname(tag):
            return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""

        def tag_ok(test, tag):
            kind, want = test
            if kind == "exact":
                return tag == want
            if kind == "any":
                return True
            return localname(tag) == want

        def chain_ok(chain):
            # chain = (root_tag, ..., el_tag). A '//' path matches when
            # the chain ENDS with the steps (anchored anywhere); an
            # absolute path must match the whole chain from the root.
            if absolute and len(chain) != len(step_tests):
                return False
            if len(chain) < len(step_tests):
                return False
            tail = chain[len(chain) - len(step_tests):]
            return all(
                tag_ok(t, tag) for t, tag in zip(step_tests, tail)
            )

        def iter_chains(root):
            # preorder DFS = document order; explicit stack (deep docs
            # must not hit the executor's recursion limit)
            stack = [(root, (root.tag,))]
            while stack:
                el, chain = stack.pop()
                yield el, chain
                for child in reversed(list(el)):
                    stack.append((child, chain + (child.tag,)))

        def attr_ok(key):
            # '@*' matches every attribute, like the element wildcard —
            # comparing the localname against the literal '*' matched
            # nothing and the wildcard silently extracted zero values;
            # '@ns:*' matches every attribute in that namespace (r9
            # review)
            if attr_name == "*":
                if attr_exact is not None:  # namespaced wildcard
                    return key.startswith(attr_exact[: -1])
                return True
            if attr_exact is not None:
                return key == attr_exact
            return localname(key) == attr_name

        def join_text(el):
            # Nokogiri .//text() in document order, rejecting all-blank
            # nodes (/\A\s+\z/), joined with ' ' into ONE value per match
            return " ".join(
                t for t in el.itertext() if t and not t.isspace()
            )

        def one(text):
            if text is None:
                return None
            try:
                root = ET.fromstring(text)
            except ET.ParseError:
                return []
            if node_kind == "element":
                if mode == "join":
                    return [
                        join_text(el)
                        for el, chain in iter_chains(root)
                        if chain_ok(chain)
                    ]
                return [
                    ET.tostring(el, encoding="unicode")
                    for el, chain in iter_chains(root)
                    if chain_ok(chain)
                ]
            hosts = [
                el for el, chain in iter_chains(root) if chain_ok(chain)
            ]
            if node_kind == "attr":
                out = []
                for el in hosts:
                    for k, v in el.attrib.items():
                        if attr_ok(k):
                            out.append(v)
                return out
            # text(): direct child text nodes, raw (Nokogiri yields
            # Text nodes whose to_s is the unnormalized content)
            out = []
            for el in hosts:
                if el.text is not None:
                    out.append(el.text)
                for child in el:
                    if child.tail is not None:
                        out.append(child.tail)
            return out

        return col.map(one)

    return _matches


def extract_xpath(
    path: str,
    ns: dict | None = None,
    to_text: bool = True,
    join_text: bool = False,
    source_col: str | None = None,
):
    """Macro: evaluate ``path`` against the record's XML string; append the
    whitespace-normalized string-value of each non-blank match to the
    accumulator (nokogiri_macros.rb:13-46).

    ``join_text=True`` reproduces the reference's per-match join exactly
    for mixed-content elements: each matched element contributes ONE
    value — its non-blank descendant text nodes joined with single spaces
    (nokogiri_macros.rb:30-40) — where the default fast path emits one
    value per text node (identical for leaf metadata, the common case).
    Faithful corner: a matched element with NO non-blank text joins to
    ``''``, which the reference keeps as a value (context.rb add_output
    only compacts nils); the fast path cannot represent such a match (no
    text nodes selected) and emits nothing for it. Runs in an
    Arrow-batched pandas UDF; with ``ns`` URIs given, prefixed steps
    match the exact namespace URI, not just the local name.

    ``to_text=False`` appends each matched node in its string form (the
    closest Spark analog of the reference's Nokogiri node objects — the
    engine exchanges strings, not DOM handles), by node kind exactly as
    the reference yields them (nokogiri_macros.rb:38-42):
    element steps -> the node re-serialized as an XML snippet;
    ``@attr`` steps -> the attribute's value;
    ``text()`` steps -> each direct text node's raw content.
    Both UDF paths support parent/child step chains with an optional
    trailing ``@attr`` or ``text()`` — every element step is honored
    (``//record/header/identifier`` matches only a ``header``-parented
    ``identifier`` under a ``record``), ``/``-rooted paths anchor at the
    document root; predicates and the interior descendant axis are
    refused with a pointer at the fast path.
    """
    if join_text and not to_text:
        raise ValueError(
            "extract_xpath: join_text=True joins match text and "
            "to_text=False yields raw nodes — the flags contradict"
        )
    if not to_text or join_text:
        matches = _xml_match_udf(
            path, ns, "join" if to_text else "node"
        )

        def node_macro(acc: Column, ctx=None) -> Column:
            src = (
                F.col(source_col)
                if source_col
                else (ctx.record if ctx is not None else F.col("xml"))
            )
            return F.concat(acc, F.coalesce(matches(src), F.array()))

        return node_macro
    compiled = localname_path(path, ns)
    # element selections must target text nodes explicitly — xpath() returns
    # Node.getNodeValue(), which is null for elements (see module docstring).
    # The attribute check must ignore predicate content: an element step
    # like //subject[@authority='lcsh'] contains '@' but still selects
    # ELEMENTS and needs the text() rewrite.
    last_step = re.sub(r"\[[^\]]*\]", "", compiled.rsplit("/", 1)[-1])
    if not (last_step.endswith("text()") or last_step.startswith("@")):
        compiled += "/descendant-or-self::text()"

    def macro(acc: Column, ctx=None) -> Column:
        src = F.col(source_col) if source_col else (
            ctx.record if ctx is not None else F.col("xml")
        )
        vals = F.xpath(src, F.lit(compiled))
        vals = F.filter(
            F.transform(vals, _normalize),
            lambda x: x.isNotNull() & (x != ""),
        )
        # a NULL source xml yields xpath() NULL, and concat(acc, NULL)
        # would null the ENTIRE accumulator (wiping earlier macros and
        # disarming a later default()) — coalesce like node_macro does
        return F.concat(
            acc, F.coalesce(vals, F.array().cast("array<string>"))
        )

    return macro
