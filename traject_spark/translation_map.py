"""Translation maps: string -> (string | list-of-strings | None) dictionaries.

Semantics mirrored from lib/traject/translation_map.rb:
- lookup of a missing key falls back to ``__default__``; the special
  default ``__passthrough__`` returns the input key itself (:46-68,187-198)
- translating an array: each value is looked up; ``None`` results are
  removed; list results are flattened in (:217-226)
- ``merge`` layers override maps (:245-248)

Loads ``.yaml`` / ``.properties`` / python-dict definitions from an
explicit path or a load-path list (:124-149).  The lookup compiles to a
Column expression two ways:

- small maps (<= ``LITERAL_MAP_MAX`` entries): a ``create_map`` literal —
  evaluated JVM-side inside whole-stage codegen, zero shuffle;
- large maps (e.g. the ~8k-entry LoC language list): the whole map encoded
  as ONE string literal + ``str_to_map`` — constant-folded to a map
  literal once at optimization time, so the plan carries a single node
  instead of 2N literal children, stays JVM-side, and (unlike a Python
  UDF) remains legal inside higher-order-function lambdas such as the
  ``let()`` combinator's ``transform``.

Both paths are map-side lookups, the Spark analog of the reference's
driver-loaded, thread-shared frozen maps (translation_map.rb:107-155).
An Arrow-batched pandas-UDF strategy remains available for maps whose
keys/values collide with the encoding separators.
"""

from __future__ import annotations

import logging
import os
import re
from typing import Iterable, Mapping, Optional, Union

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from traject_spark.arrowutil import release_spark_zip_finders
from traject_spark.expr import let

_log = logging.getLogger(__name__)

PASSTHROUGH = "__passthrough__"
DEFAULT_KEY = "__default__"

# sentinel distinguishing "default= not given" from an explicit
# default=None (the reference's :default option accepts nil to clear a
# file-level __default__ — translation_map.rb:180-184,245-248)
_UNSET = object()

#: above this entry count, switch from a create_map literal to str_to_map
LITERAL_MAP_MAX = 512

#: separators for the large-map single-literal encoding (C0 control chars,
#: absent from real map data; collisions fall back to the pandas-UDF path)
_SEP_ENTRY = "\x1e"
_SEP_KV = "\x1c"
_SEP_VAL = "\x1f"


def _shard_items(present: Mapping) -> list:
    """THE two-level-dispatch sharding rule: group entries by the key's
    first character, shards in sorted order, keys stringified. One
    definition shared by the Column-path ``_hit_expr`` and the SQL-path
    ``sql_probe`` — the two are asserted to build the identical dispatch
    structure, so a future change (e.g. 2-char prefixes for huge maps)
    must not drift them apart. Returns [(prefix, [(key, value), ...])]."""
    from collections import defaultdict

    shards: dict[str, list] = defaultdict(list)
    for k, v in present.items():
        shards[str(k)[:1]].append((str(k), v))
    return sorted(shards.items())


def _nil_cond(v: Column, nil_keys: list) -> Column:
    """THE suppression-key membership test, shared by the generic
    ``lookup_expr`` body and the string fast shape (one definition so
    the threshold / separator guard cannot drift between twins).

    Suppression-heavy maps (thousands of nil-valued entries): an In()
    with one literal child per key reintroduces the plan blowup the
    str_to_map encoding exists to avoid — one string literal +
    map_contains_key is a constant-size plan node."""
    if len(nil_keys) > 64 and not any(
        "\x1e" in k or "\x1f" in k for k in nil_keys
    ):
        nil_map = F.str_to_map(
            F.lit("\x1e".join(nil_keys)), F.lit("\x1e"), F.lit("\x1f")
        )
        return F.map_contains_key(nil_map, v)
    return v.isin(nil_keys)


def _string_shards(present: Mapping) -> list:
    """[(prefix, encoded)] for a SINGLE-STRING-valued map: each shard is
    one ``key<KV>value`` entry string joined by <ENTRY>, ready for
    ``str_to_map``. One definition shared by the Column-path string fast
    shape and the SQL-path ``sql_probe`` (which additionally quotes)."""
    return [
        (p, _SEP_ENTRY.join(f"{k}{_SEP_KV}{v}" for k, v in items))
        for p, items in _shard_items(present)
    ]


def _props_unescape(s: str) -> str:
    """java.util.Properties escape handling: \\t \\n \\r \\f, \\uXXXX,
    and \\<any> -> <any> (which also covers \\\\, \\=, \\:, '\\ ')."""
    out = []
    i, n = 0, len(s)
    esc = {"t": "\t", "n": "\n", "r": "\r", "f": "\f"}
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            if nxt == "u" and i + 6 <= n:
                try:
                    out.append(chr(int(s[i + 2 : i + 6], 16)))
                    i += 6
                    continue
                except ValueError:
                    pass
            out.append(esc.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_properties(text: str) -> dict:
    """java.util.Properties-compatible parse: '=', ':' OR whitespace key
    separators, backslash line continuations, # / ! comments, and the
    standard escapes — real traject-gem .properties maps use the
    whitespace form ('aaa Abstracts'), which a [=:]-only regex would
    silently drop."""
    out: dict = {}
    lines = text.split("\n")
    i = 0
    while i < len(lines):
        line = lines[i].rstrip("\r").lstrip(" \t\f")
        i += 1
        if not line or line[0] in "#!":
            continue
        # logical line: an ODD number of trailing backslashes continues
        # onto the next natural line (leading whitespace stripped)
        while (len(line) - len(line.rstrip("\\"))) % 2 == 1:
            line = line[:-1]
            if i >= len(lines):
                break
            line += lines[i].rstrip("\r").lstrip(" \t\f")
            i += 1
        # key: up to the first unescaped '=', ':' or whitespace
        j, n = 0, len(line)
        key_raw = []
        while j < n:
            c = line[j]
            if c == "\\" and j + 1 < n:
                key_raw.append(line[j : j + 2])
                j += 2
                continue
            if c in "=:" or c in " \t\f":
                break
            key_raw.append(c)
            j += 1
        # optional whitespace, one optional '='/':' separator, whitespace
        while j < n and line[j] in " \t\f":
            j += 1
        if j < n and line[j] in "=:":
            j += 1
            while j < n and line[j] in " \t\f":
                j += 1
        key = _props_unescape("".join(key_raw))
        if key:
            out[key] = _props_unescape(line[j:])
    return out


class RubyMapError(ValueError):
    """A .rb translation map uses Ruby beyond the supported literal
    subset (or is invalid). Convert the map to YAML/properties, or
    compute the dict in Python and pass it to TranslationMap directly."""


#: double-quoted-string single-letter escapes (Ruby semantics); module
#: constant, not a per-escape dict literal in the scanning loop
_RB_ESC = {
    "n": "\n", "t": "\t", "r": "\r", "s": " ",
    "a": "\a", "b": "\b", "e": "\x1b", "f": "\f", "v": "\v",
}


def _parse_ruby_map(text: str) -> dict:
    """Safe (NO eval) evaluator for the Ruby subset real traject
    translation-map ``.rb`` files use (translation_map.rb:124-149 evals
    the file and takes the final expression; the files in the wild are
    literal hashes plus trivial assignments — e.g. the reference's
    index_bench country_map.rb is one big hash literal, and its test
    maps are ``h = {...}; h["k"] = "v"; h``).

    Supported: string literals (single/double quoted, standard escapes,
    NO interpolation), symbols (``:name`` -> "name"), integers/floats,
    true/false/nil, ``%w{...}``/``%w[...]``/``%w(...)`` word arrays and
    their ``%i`` symbol-array twins (symbols project to their names),
    array literals, hash literals (``=>`` and ``key:`` forms), variable
    assignment, ``var["key"] = value`` index assignment, ``#`` comments,
    and a final expression that must evaluate to a hash. Anything else
    raises :class:`RubyMapError` naming the offending token — a map
    that genuinely computes its entries needs YAML conversion or a
    Python dict."""
    # ---- tokenize -------------------------------------------------------
    toks: list = []  # (kind, value)
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c in " \t\r\n":
            i += 1
            continue
        if c == "#":
            j = text.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c in "'\"":
            quote = c
            i += 1
            buf = []
            while i < n and text[i] != quote:
                ch = text[i]
                if ch == "\\" and i + 1 < n:
                    nxt = text[i + 1]
                    if quote == '"':
                        # Ruby escape semantics — decode or REFUSE, never
                        # silently keep the letter and drop the backslash
                        if nxt == "u":
                            m = re.match(
                                r"\\u(?:([0-9a-fA-F]{4})|\{([0-9a-fA-F]{1,6})\})",
                                text[i:],
                            )
                            if not m:
                                raise RubyMapError(
                                    f"malformed \\u escape at offset {i}"
                                )
                            buf.append(chr(int(m.group(1) or m.group(2), 16)))
                            i += m.end()
                            continue
                        if nxt == "x":
                            m = re.match(r"\\x([0-9a-fA-F]{1,2})", text[i:])
                            if not m:
                                raise RubyMapError(
                                    f"malformed \\x escape at offset {i}"
                                )
                            buf.append(chr(int(m.group(1), 16)))
                            i += m.end()
                            continue
                        if nxt in "01234567":
                            # octal: \0 alone is NUL, \012 is \n — '0'
                            # must take this branch, not _RB_ESC's "\0"
                            # entry (which would strand trailing digits)
                            m = re.match(r"\\([0-7]{1,3})", text[i:])
                            buf.append(chr(int(m.group(1), 8)))
                            i += m.end()
                            continue
                        if nxt in "cCM":
                            # \cX / \C-X / \M-X control-meta escapes:
                            # refuse rather than silently keep 'cX'
                            raise RubyMapError(
                                f"unsupported control/meta escape "
                                f"\\{nxt} at offset {i}"
                            )
                        buf.append(_RB_ESC.get(nxt, nxt))
                    else:
                        # single-quoted: only \' and \\ are escapes
                        buf.append(nxt if nxt in "'\\" else ch + nxt)
                    i += 2
                    continue
                if quote == '"' and ch == "#" and text[i + 1 : i + 2] in (
                    "{", "$", "@"
                ):
                    raise RubyMapError(
                        "string interpolation (#{...} / #$... / #@...) is "
                        "not supported in .rb translation maps"
                    )
                buf.append(ch)
                i += 1
            if i >= n:
                raise RubyMapError("unterminated string literal")
            i += 1  # closing quote
            toks.append(("str", "".join(buf)))
            continue
        if text[i : i + 2] in ("%w", "%i"):
            # %i symbol arrays share %w's scan: a symbol evaluates to its
            # name string here, so [:a, :b] and %w[a b] coincide
            kind2 = text[i : i + 2]
            open_ch = text[i + 2 : i + 3]
            close_ch = {"{": "}", "[": "]", "(": ")"}.get(open_ch)
            if not close_ch:
                raise RubyMapError(
                    f"unsupported {kind2} delimiter {open_ch!r}"
                )
            # scan honoring backslash escapes: '\ ' is a literal space
            # inside a word, '\}' a literal delimiter — a naive find+
            # split would mis-split words and terminate the array early
            j = i + 3
            words: list = []
            word: list = []
            while j < n and text[j] != close_ch:
                ch = text[j]
                if ch == "\\" and j + 1 < n:
                    word.append(text[j + 1])
                    j += 2
                    continue
                if ch in " \t\r\n":
                    if word:
                        words.append("".join(word))
                        word = []
                    j += 1
                    continue
                word.append(ch)
                j += 1
            if j >= n:
                raise RubyMapError(f"unterminated {kind2} array")
            if word:
                words.append("".join(word))
            toks.append(("arr", words))
            i = j + 1
            continue
        if text[i : i + 2] == "=>":
            toks.append(("op", "=>"))
            i += 2
            continue
        if c in "{}[],=:":
            # ':' is either a symbol start or the hash key-colon; decide
            # at parse time — emit symbol token when followed by a name
            if c == ":" and i + 1 < n and (
                text[i + 1].isalpha() or text[i + 1] == "_"
            ):
                j = i + 1
                while j < n and (text[j].isalnum() or text[j] == "_"):
                    j += 1
                toks.append(("sym", text[i + 1 : j]))
                i = j
                continue
            toks.append(("op", c))
            i += 1
            continue
        if c.isdigit() or (
            c == "-" and i + 1 < n and text[i + 1].isdigit()
        ):
            j = i + 1
            while j < n and (text[j].isdigit() or text[j] in "._"):
                j += 1
            # '.freeze' after an integer: the dot belongs to the method
            # call, not the number
            if text[j - 1] == "." and text[j : j + 6] == "freeze":
                j -= 1
            raw = text[i:j].replace("_", "")
            try:
                num = float(raw) if "." in raw else int(raw)
            except ValueError:
                raise RubyMapError(
                    f"malformed numeric literal {raw!r} at offset {i}"
                ) from None
            toks.append(("num", num))
            i = j
            continue
        if text[i : i + 7] == ".freeze":
            # trailing .freeze on a literal is a common idiom in real
            # map files; freezing is a no-op here — accept and ignore
            i += 7
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j]
            if word in ("true", "false", "nil"):
                toks.append(
                    ("lit", {"true": True, "false": False, "nil": None}[word])
                )
            elif word in ("lambda", "proc", "Proc") and text[j : j + 1] != ":":
                # name the FEATURE at lex time (the body's |args| would
                # otherwise produce a generic syntax error first):
                # __default__ lambdas are the reference's computed-default
                # idiom and the most common reason a real .rb lands here.
                # A trailing ':' is the hash key-colon shorthand — 'proc:'
                # is a perfectly literal KEY named "proc", not a proc
                raise RubyMapError(
                    "lambda/proc values are not supported — the safe "
                    "literal subset cannot execute Ruby code; use a "
                    "literal '__default__' value or convert the map "
                    "(docs/extending.md)"
                )
            else:
                toks.append(("name", word))
            i = j
            continue
        if text[i : i + 2] == "->":
            raise RubyMapError(
                "stabby lambda (->) values are not supported — the safe "
                "literal subset cannot execute Ruby code"
            )
        raise RubyMapError(
            f"unsupported Ruby syntax at offset {i}: {text[i:i+20]!r}"
        )

    # ---- parse / evaluate ----------------------------------------------
    pos = [0]

    def peek(k=0):
        p = pos[0] + k
        return toks[p] if p < len(toks) else ("eof", None)

    def take():
        t = peek()
        pos[0] += 1
        return t

    env: dict = {}

    def parse_expr():
        kind, val = take()
        if kind in ("str", "num", "lit", "arr"):
            return val
        if kind == "sym":
            return val  # symbol -> its name string
        if kind == "op" and val == "[":
            out = []
            while not (peek() == ("op", "]")):
                out.append(parse_expr())
                if peek() == ("op", ","):
                    take()
            take()
            return out
        if kind == "op" and val == "{":
            h: dict = {}
            while not (peek() == ("op", "}")):
                # key: expr, then '=>' value, or NAME/str ':' value
                if peek(1) == ("op", ":") and peek()[0] in ("name", "str"):
                    k = take()[1]
                    take()  # ':'
                elif peek()[0] in ("name", "str") and peek(1)[0] == "sym":
                    # '{k:v}' with no whitespace: the lexer reads ':v' as
                    # a symbol, but Ruby parses this as key-colon
                    # shorthand (key :k, value = variable v). Honor the
                    # shorthand; the value is a bare identifier, so it
                    # resolves like any name — with a message that names
                    # the real problem instead of 'undefined variable k'
                    k = take()[1]
                    vname = take()[1]
                    if vname not in env:
                        raise RubyMapError(
                            f"hash shorthand {{{k}:{vname}}} without "
                            f"whitespace: key {k!r} parsed, but value "
                            f"{vname!r} is not a defined variable — "
                            f"write '{k}: :{vname}' for a symbol value "
                            "or add whitespace after ':'"
                        )
                    h[k] = env[vname]
                    if peek() == ("op", ","):
                        take()
                    continue
                else:
                    k = parse_expr()
                    if take() != ("op", "=>"):
                        raise RubyMapError(
                            "expected => or : after hash key "
                            f"{k!r}"
                        )
                h[k] = parse_expr()
                if peek() == ("op", ","):
                    take()
            take()
            return h
        if kind == "name":
            if val not in env:
                raise RubyMapError(f"undefined variable {val!r}")
            return env[val]
        raise RubyMapError(f"unsupported expression token {val!r}")

    last = None
    while peek()[0] != "eof":
        if peek()[0] == "name" and peek(1) == ("op", "="):
            name = take()[1]
            take()
            env[name] = parse_expr()
            last = env[name]
        elif peek()[0] == "name" and peek(1) == ("op", "["):
            name = take()[1]
            take()  # '['
            key = parse_expr()
            if take() != ("op", "]") or take() != ("op", "="):
                raise RubyMapError("expected var[key] = value")
            if name not in env or not isinstance(env[name], dict):
                raise RubyMapError(
                    f"index assignment into undefined/non-hash {name!r}"
                )
            env[name][key] = parse_expr()
            last = env[name]
        else:
            last = parse_expr()
    if not isinstance(last, dict):
        raise RubyMapError(
            "a .rb translation map's final expression must be a Hash, "
            f"got {type(last).__name__}"
        )
    return last


def _load_yaml(path: str) -> dict:
    try:
        import yaml  # type: ignore

        with open(path, "r", encoding="utf-8") as fh:
            return yaml.safe_load(fh) or {}
    except ImportError:
        # minimal fallback: flat "key: value" YAML subset
        out: dict = {}
        with open(path, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line or line.lstrip().startswith("#"):
                    continue
                m = re.match(r"^(['\"]?)(.*?)\1\s*:\s*(['\"]?)(.*?)\3\s*$", line)
                if m and m.group(2):
                    # a bare 'key:' is YAML nil — the reference's
                    # remove-this-value semantics; only an explicitly
                    # QUOTED empty ('key: ""') is the empty string.
                    # PyYAML's safe_load agrees, so the two loaders
                    # cannot diverge on suppression entries.
                    if m.group(4) == "" and not m.group(3):
                        out[m.group(2)] = None
                    else:
                        out[m.group(2)] = m.group(4)
        return out


class TranslationMap:
    """A merged, frozen lookup dictionary with traject default semantics."""

    def __init__(
        self,
        *sources: Union[str, Mapping],
        load_path: Optional[Iterable[str]] = None,
        default=_UNSET,
    ):
        self._map: dict = {}
        load_path = list(load_path or [])
        for src in sources:
            if isinstance(src, Mapping):
                self._merge(dict(src))
            else:
                self._merge(self._load_named(str(src), load_path))
        self._default = self._map.pop(DEFAULT_KEY, None)
        if default is not _UNSET:
            # the explicit option overrides any in-file __default__,
            # INCLUDING an explicit None to clear it
            # (translation_map.rb:180-184); pass PASSTHROUGH
            # ("__passthrough__") for the reference's :passthrough
            self._default = default

    def _merge(self, other: dict) -> None:
        self._map.update(other)

    #: per-base extension probe order — .rb FIRST like the reference's
    #: loader (translation_map.rb:124-149 checks rb, yaml, properties)
    _EXTS = ("", ".rb", ".yaml", ".yml", ".properties")

    @staticmethod
    def _load_file(cand: str) -> Optional[dict]:
        if not os.path.exists(cand):
            return None
        if cand.endswith(".properties"):
            with open(cand, "r", encoding="utf-8") as fh:
                return _parse_properties(fh.read())
        if cand.endswith(".rb"):
            # reference parity via the SAFE literal-subset evaluator (the
            # reference evals the file; see _parse_ruby_map for limits)
            with open(cand, "r", encoding="utf-8") as fh:
                return _parse_ruby_map(fh.read())
        return _load_yaml(cand)

    @staticmethod
    def _load_named(name: str, load_path: list) -> dict:
        # load-path precedence mirrors the reference (translation_map.rb
        # load path: caller dirs searched FIRST, the gem's bundled maps
        # last) — a user file with a builtin's name overrides the builtin
        candidates = []
        if os.path.isabs(name) or os.path.exists(name):
            candidates.append(name)
        for base in load_path:
            for ext in TranslationMap._EXTS:
                candidates.append(os.path.join(base, name + ext))
        rb_err: Optional[RubyMapError] = None
        for cand in candidates:
            try:
                loaded = TranslationMap._load_file(cand)
            except RubyMapError as e:
                # an unparseable .rb must not abort the search: the
                # DOCUMENTED remedy is converting the map to YAML, which
                # sits at the next extension on the same load path —
                # fall through to it, re-raising only when nothing loads
                if rb_err is None:
                    rb_err = RubyMapError(f"{cand}: {e}")
                continue
            if loaded is not None:
                if rb_err is not None:
                    # the reference fails fast on an rb eval error; here
                    # the documented remedy (a converted sibling) loads
                    # instead — make the substitution VISIBLE so a broken
                    # .rb shadowing a stale conversion can't silently
                    # serve old data
                    _log.warning(
                        ".rb map failed to parse (%s); loaded %s instead "
                        "— verify it is not a stale conversion",
                        rb_err, cand,
                    )
                return loaded
        if rb_err is not None:
            raise rb_err
        try:
            from traject_spark.translation_maps.builtin import BUILTIN_MAPS

            if name in BUILTIN_MAPS:
                return dict(BUILTIN_MAPS[name])
        except ImportError:
            pass
        here = os.path.join(os.path.dirname(__file__), "translation_maps")
        for ext in TranslationMap._EXTS:
            loaded = TranslationMap._load_file(os.path.join(here, name + ext))
            if loaded is not None:
                return loaded
        raise FileNotFoundError(f"translation map not found: {name!r}")

    # -- python-side lookup (used by tests and the pandas-UDF path) -------
    def lookup(self, key):
        """translation_map.rb:187-198: hash hit, else __default__ handling.

        String probes go through the str()-normalized key view (lazy,
        cached) so a numeric-keyed YAML map (unquoted ``1990:`` parses
        as int) hits for the string '1990' with the SAME merge-order
        precedence the Spark expression paths encode; non-string probes
        hit the raw dict.
        """
        if isinstance(key, str):
            # probe the str()-normalized view, not the raw dict: when a
            # string key and a non-string key collide on str() (int 1990
            # vs '1990'), the winner must be the LAST one in merge order
            # — exactly what _as_array_dict's str(k) overwrite computes
            # for the expression paths; a raw-dict-first probe would pick
            # the string-keyed entry regardless of merge order and
            # diverge from what executors compute
            strmap = self.__dict__.get("_str_key_fallback")
            if strmap is None:
                strmap = {str(k): v for k, v in self._map.items()}
                self.__dict__["_str_key_fallback"] = strmap
            if key in strmap:
                return strmap[key]
        elif key in self._map:
            return self._map[key]
        if self._default == PASSTHROUGH:
            return key
        return self._default

    def translate_list(self, values: list) -> list:
        out: list = []
        for v in values:
            r = self.lookup(v)
            if r is None:
                continue
            if isinstance(r, list):
                out.extend(x for x in r if x is not None)
            else:
                out.append(r)
        return out

    def merge(self, other: Union["TranslationMap", Mapping]) -> "TranslationMap":
        """A NEW map with ``other``'s entries merged over this one's
        (translation_map.rb:245-249); ``other``'s default wins when it
        has one, else this map's carries through. Accepts a plain
        Mapping too."""
        other_tm = (
            other if isinstance(other, TranslationMap)
            else TranslationMap(other)
        )
        merged = dict(self._map)
        merged.update(other_tm._map)
        d = (
            other_tm._default
            if other_tm._default is not None
            else self._default
        )
        return TranslationMap(merged, default=d)

    def __len__(self) -> int:
        return len(self._map)

    def as_dict(self) -> dict:
        """The entries plus the ``__default__`` (when set) — the Mapping
        form the constructor accepts back, so instances can merge
        (transformation.rb:34-42 merges every macro argument)."""
        out = dict(self._map)
        if self._default is not None:
            out[DEFAULT_KEY] = self._default
        return out

    # -- column-expression compilation ------------------------------------
    def _as_array_dict(self) -> dict:
        """Normalize values to lists-of-strings (None stays None: removal).

        Keys normalize to str too: a YAML map with an unquoted numeric key
        (safe_load yields int 1990) must hit for the string column value
        '1990' on EVERY strategy — the expression paths str() keys at
        encode time, so the UDF paths' probe dict must agree."""
        out = {}
        for k, v in self._map.items():
            if v is None:
                out[str(k)] = None
            elif isinstance(v, list):
                out[str(k)] = [str(x) for x in v if x is not None]
            else:
                out[str(k)] = [str(v)]
        return out

    def _encodable(self, norm: dict) -> bool:
        text = "".join(str(k) for k in norm) + "".join(
            x for v in norm.values() for x in v or []
        )
        return not any(s in text for s in (_SEP_ENTRY, _SEP_KV, _SEP_VAL))

    def _hit_expr(self, norm: dict, value: Column) -> Optional[Column]:
        """Probe the dict for ``value`` -> array<string> (null on miss).

        Small maps: ``try_element_at`` on a ``create_map`` literal.  Large
        maps: the whole dict is packed into ONE string literal parsed by
        ``str_to_map`` — a single plan node, constant-folded to a map
        literal at optimization time, legal inside higher-order-function
        lambdas where Python UDFs are not; only the matched value is
        unpacked (``split`` on the hit, never the whole map).
        """
        present = {k: v for k, v in norm.items() if v is not None}
        if not present:
            return None
        if len(self._map) <= LITERAL_MAP_MAX:
            entries = []
            for k, v in present.items():
                entries.append(F.lit(str(k)))
                entries.append(
                    F.array(*[F.lit(x) for x in v]) if v
                    else F.array().cast("array<string>")
                )
            # try_element_at: null on missing key (ANSI-mode safe)
            return F.try_element_at(F.create_map(*entries), value)

        # Spark's map-literal probe is a linear key scan, so one flat
        # 8k-entry map costs ~8k string compares per lookup. Two-level
        # dispatch instead: an outer map from the key's first char to a
        # per-shard sub-map, each shard one encoded string literal parsed
        # by str_to_map. The whole nested structure constant-folds to a
        # single map literal (evaluable inside HOF lambdas, unlike a
        # Python UDF); a lookup costs one substring + ~30 outer probes on
        # 1-char keys + a ~30x smaller in-shard scan.
        outer_entries: list[Column] = []
        for p, items in _shard_items(present):
            # every value list is encoded with a leading sentinel element
            # (SEP_VAL.join([''] + v)), so after split the decoded list
            # is values[2:]: [] encodes as '' -> split [''] -> [], and
            # [''] encodes as SEP_VAL -> split ['',''] -> [''] — the two
            # stay distinguishable (a bare join could not tell them apart)
            encoded = _SEP_ENTRY.join(
                k + _SEP_KV + _SEP_VAL.join([""] + v) for k, v in items
            )
            outer_entries.append(F.lit(p))
            outer_entries.append(
                F.str_to_map(
                    F.lit(encoded), F.lit(_SEP_ENTRY), F.lit(_SEP_KV)
                )
            )
        outer = F.create_map(*outer_entries)
        hit = F.try_element_at(
            F.try_element_at(outer, F.substring(value, 1, 1)), value
        )
        # null hit (miss) flows through split/slice as null
        return let(
            F.split(hit, _SEP_VAL),
            lambda parts: F.slice(
                parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))
            ),
        )

    def _string_shape(self) -> Optional[dict]:
        """Prepared lookup data when this map qualifies for the
        STRING-VALUED fast shape, else None.

        Qualifying shape: every non-suppression value is exactly one
        string, and the default (when set) is a single string or
        passthrough. Then a lookup result is a string (hit / default /
        passed-through input) or NULL (miss / suppression / nil input),
        and ``translate_array_expr`` can skip the per-value array
        encode/split/slice AND the outer flatten — measured ~2x per-row
        on the languages-map shape (the win the marc_languages SQL path
        demonstrated; this brings it to every simple map on the Column
        path). Large maps additionally need the C0-encodable check.
        Computed once per instance (the normalize+encodable scans over
        an 8k-entry map are not free per field compile)."""
        cached = self.__dict__.get("_string_shape_cache", _UNSET)
        if cached is not _UNSET:
            return cached
        self.__dict__["_string_shape_cache"] = shape = self._string_shape_uncached()
        return shape

    def _string_shape_uncached(self) -> Optional[dict]:
        norm = self._as_array_dict()
        # shape check BEFORE building present: an empty-list value
        # ("map to nothing", distinct from nil suppression) both
        # disqualifies the shape and would crash v[0]
        if any(len(v) != 1 for v in norm.values() if v is not None):
            return None
        present = {k: v[0] for k, v in norm.items() if v is not None}
        d = self._default
        # passthrough is ONLY the bare string sentinel — a LIST default
        # ["__passthrough__"] is a literal default in the generic path
        # (its == PASSTHROUGH compare is False for a list) and must stay
        # one here
        passthrough = d == PASSTHROUGH
        if d is not None and not passthrough:
            if isinstance(d, list):
                if len(d) != 1:
                    return None
                d = str(d[0])
            else:
                d = str(d)
        if len(self._map) > LITERAL_MAP_MAX and not self._encodable(norm):
            return None
        return {
            "present": present,
            "nil_keys": [k for k, v in norm.items() if v is None],
            "default": None if passthrough else d,  # None | single string
            "passthrough": passthrough,
        }

    def _string_lookup_expr(self, value: Column, shape: dict) -> Column:
        """String-valued twin of ``lookup_expr`` for qualifying maps:
        hit/default/passthrough as a STRING, miss/suppression/nil input
        as NULL — semantics pinned against the generic path by
        tests/test_transforms.py::test_string_fast_shape_parity.

        ``value`` must be a LEAF expression (the transform lambda
        variable at the one call site): the body references it several
        times, which is free for a leaf but would duplicate a computed
        subtree."""
        present, nil_keys, d = (
            shape["present"], shape["nil_keys"], shape["default"]
        )
        passthrough = shape["passthrough"]
        default_str = F.lit(d) if d is not None else None
        null_str = F.lit(None).cast("string")

        def hit_of(v: Column) -> Optional[Column]:
            if not present:
                return None
            if len(self._map) <= LITERAL_MAP_MAX:
                entries: list[Column] = []
                for k, val in present.items():
                    entries.append(F.lit(str(k)))
                    entries.append(F.lit(val))
                return F.try_element_at(F.create_map(*entries), v)
            outer_entries: list[Column] = []
            for p, encoded in _string_shards(present):
                outer_entries.append(F.lit(p))
                outer_entries.append(
                    F.str_to_map(
                        F.lit(encoded), F.lit(_SEP_ENTRY), F.lit(_SEP_KV)
                    )
                )
            return F.try_element_at(
                F.try_element_at(
                    F.create_map(*outer_entries), F.substring(v, 1, 1)
                ),
                v,
            )

        v = value
        fallback = (
            v if passthrough
            else (default_str if default_str is not None else null_str)
        )
        hit = hit_of(v)
        result = F.coalesce(hit, fallback) if hit is not None else fallback
        if nil_keys:
            result = F.when(
                _nil_cond(v, nil_keys), null_str
            ).otherwise(result)
        # no let(): v is a leaf by contract, so the multiple references
        # above are free — an aggregate-let here would be pure per-row
        # overhead in exactly the path built to shave per-row plumbing
        return F.when(
            v.isNull(),
            default_str if default_str is not None else null_str,
        ).otherwise(result)

    def sql_probe(self, value_sql: str) -> Optional[str]:
        """SQL text probing this map for the STRING at ``value_sql``
        (NULL on a miss), or None when the map shape needs the general
        Column path — the text macros' translation step, no Py4J round
        trip at any map size.

        Eligible shape: no default, no nil (suppression) keys, every
        value a single string (e.g. the 8k-entry marc_languages map),
        encodable (no C0 separator collisions, checked by the same
        ``_encodable`` rule as the Column path). Maps of up to
        ``LITERAL_MAP_MAX`` entries probe one literal ``map(...)``, like
        the Column path's string fast shape; larger ones take its
        two-level shard dispatch (``_string_shards``), which splices
        ``value_sql`` in twice (shard select + in-shard probe): pass a
        LEAF expression (a lambda variable), never a computed subtree.
        """
        norm = self._as_array_dict()
        if self._default is not None:
            return None
        if any(v is None for v in norm.values()):
            return None
        if any(len(v) != 1 for v in norm.values()):
            return None
        if not norm or not self._encodable(norm):
            return None

        # lexer-mode-robust literals (ADVICE r12): quote-doubling only
        # parses under the default lexer; escapedStringLiterals=true
        # interprets neither it nor backslash escapes, so render via
        # sql_str_lit (which also makes backslash-bearing maps eligible)
        from traject_spark.sqlutil import sql_str_lit as q

        present = {k: v[0] for k, v in norm.items()}
        if len(self._map) <= LITERAL_MAP_MAX:
            # small maps: one literal map, like the Column path's hit_of
            entries = ", ".join(f"{q(k)}, {q(v)}" for k, v in present.items())
            return f"try_element_at(map({entries}), {value_sql})"
        outer = []
        # SAME shard+encode as the Column-path string fast shape
        # (_string_shards, one definition); this path only adds quoting
        for p, encoded in _string_shards(present):
            outer.append(
                f"{q(p)}, str_to_map({q(encoded)}, "
                f"'{_SEP_ENTRY}', '{_SEP_KV}')"
            )
        m = "map(" + ", ".join(outer) + ")"
        return (
            f"try_element_at(try_element_at({m}, "
            f"substring({value_sql}, 1, 1)), {value_sql})"
        )

    def lookup_expr(self, value: Column) -> Column:
        """value -> array<string> of translations, NULL => remove value.

        A NULL input value takes the miss path like the reference
        (translation_map.rb #[]: ``has_key?(nil)`` is false on a
        string-keyed map, so nil gets the ``__default__`` when one is
        set; under ``__passthrough__`` the nil passes through and the
        array compact drops it — here: NULL result).

        Large maps whose keys/values contain the C0 encoding separators
        can't take the str_to_map literal path (the encoding would
        corrupt lookups) — those fall back to an Arrow-batched scalar
        UDF. Note the UDF fallback is NOT legal inside higher-order-
        function lambdas; ``translate_array_expr`` handles that case with
        its own array-level UDF."""
        norm = self._as_array_dict()
        if len(self._map) > LITERAL_MAP_MAX and not self._encodable(norm):
            return self._lookup_udf()(value)
        nil_keys = [k for k, v in norm.items() if v is None]

        null_array = F.lit(None).cast("array<string>")
        if self._default is not None and self._default != PASSTHROUGH:
            d = self._default
            d_list = d if isinstance(d, list) else [d]
            default_arr = F.array(*[F.lit(str(x)) for x in d_list])
        else:
            default_arr = None

        def body(v: Column) -> Column:
            fallback = (
                F.array(v) if self._default == PASSTHROUGH
                else (default_arr if default_arr is not None else null_array)
            )
            hit = self._hit_expr(norm, v)
            result = (
                F.coalesce(hit, fallback) if hit is not None else fallback
            )
            if nil_keys:
                result = F.when(
                    _nil_cond(v, nil_keys), null_array
                ).otherwise(result)
            # nil input: default applies (reference miss path); under
            # passthrough the nil itself passes through -> NULL (removal)
            return F.when(
                v.isNull(),
                default_arr if default_arr is not None else null_array,
            ).otherwise(result)

        # let-bind: call sites pass computed expressions (substring,
        # regexp_replace) and the body would otherwise embed the value
        # subtree up to five times (shard probe, map probe, isin, null
        # guard, passthrough fallback)
        return let(value, body)

    def translate_array_expr(self, acc: Column) -> Column:
        """array<string> -> translated array (flatten lists, drop nils).

        Pure Column expression at any map size (see ``_map_expr``); the
        pandas-UDF strategy is only used when map data collides with the
        large-map encoding separators (never true of the builtin maps).
        Single-string-valued maps take the string fast shape — direct
        probe per value, no array encode/split/slice, no flatten.
        """
        shape = self._string_shape()
        if shape is not None:
            return F.filter(
                F.transform(
                    acc, lambda v: self._string_lookup_expr(v, shape)
                ),
                lambda x: x.isNotNull(),
            )
        if len(self._map) <= LITERAL_MAP_MAX or self._encodable(
            self._as_array_dict()
        ):
            mapped = F.transform(acc, lambda v: self.lookup_expr(v))
            return F.flatten(F.filter(mapped, lambda x: x.isNotNull()))
        return self._translate_array_udf()(acc)

    def _udf_closure(self):
        """(norm, default_list, passthrough) shared by both UDF factories —
        one copy of the default/passthrough normalization, so the two
        cannot drift apart semantically."""
        norm = self._as_array_dict()
        default = self._default
        default_list = (
            None
            if default is None or default == PASSTHROUGH
            else [str(x) for x in (default if isinstance(default, list) else [default])]
        )
        return norm, default_list, default == PASSTHROUGH

    def _lookup_udf(self):
        """Scalar twin of ``_translate_array_udf`` for ``lookup_expr`` on
        large maps with un-encodable data: value -> array<string> with
        the same hit/nil/default/passthrough semantics — including the
        reference's nil-input-gets-the-default miss path."""
        norm, default_list, passthrough = self._udf_closure()

        @pandas_udf("array<string>")
        def _lookup(col: pd.Series) -> pd.Series:
            release_spark_zip_finders()

            def one(v):
                if v is None:
                    # miss path, like lookup(): default unless passthrough
                    # (a passed-through nil is removed downstream)
                    return None if passthrough else default_list
                if v in norm:
                    return norm[v]  # None stays None (removal)
                if passthrough:
                    return [v]
                return default_list

            return col.map(one)

        return _lookup

    def _translate_array_udf(self):
        """Arrow-batched pandas UDF over a broadcast dict — the scale path
        for large maps (e.g. an 8k-entry language map): per-executor dict,
        no shuffle, vectorized batches."""
        norm, default_list, passthrough = self._udf_closure()

        @pandas_udf("array<string>")
        def _translate(col: pd.Series) -> pd.Series:
            release_spark_zip_finders()

            def one(values):
                if values is None:
                    return None
                out = []
                for v in values:
                    if v in norm:
                        r = norm[v]
                        if r is not None:
                            out.extend(r)
                    elif passthrough:
                        if v is not None:
                            out.append(v)
                    elif default_list is not None:
                        out.extend(default_list)
                return out

            return col.map(one)

        return _translate
