"""ES query-DSL -> Spark Column compiler.

Parity target: the reference's pushdown planner, which translates Spark
``sources.Filter`` trees into ES query-DSL JSON
(spark/sql-20/.../sql/DefaultSource.scala#translateFilter†, SURVEY.md §2.B)
and composes them with a user-supplied ``es.query``
(mr/.../rest/query/*QueryBuilder.java†, QueryUtils.parseQueryAndFilters†).

This module runs the translation in the OPPOSITE direction — the target
engine stores Parquet, so a user's ES-style query must become a Catalyst
predicate.  Because the result is a plain ``Column``, Catalyst then pushes
the supported parts down to the Parquet scan exactly like the reference
pushes them to ES: the pushdown machinery is inherited, not re-implemented.

Supported clauses (the reference's §2.B algebra + the common ES core):
  term, terms, range (gt/gte/lt/lte), exists, prefix, wildcard, regexp,
  ids, match (tokenized, OR/AND operator), match_phrase (substring on the
  analyzed text), match_all, bool (must/filter/should/must_not,
  minimum_should_match=1), fuzzy (levenshtein, AUTO rule), constant_score
  (scoring wrapper -> inner filter), nested (same-element match over
  array-of-struct via higher-order exists), more_like_this (token-overlap
  subset, compile-time term selection), multi_match (best_fields /
  most_fields / phrase / cross_fields predicate forms), dis_max, boosting
  (positive-predicate; negative is score-only), terms_set (per-doc
  minimum_should_match_field), match_phrase_prefix, match_none,
  simple_query_string (the - | + "" * operator subset),
  function_score (deterministic
  field_value_factor / script_score / weight functions — the predicate
  form matches the base query + min_score; ``function_score(df, body)``
  attaches the score column), the ``?q=`` URI-lite subset (field:value
  terms, ``va*``/``v?`` wildcards with Lucene escapes, ``[a TO b]`` /
  ``{a TO b}`` ranges, ``>n`` comparisons, ``_exists_:field`` —
  ``uri_leaf_kind``),
  geo_distance / geo_bounding_box / geo_polygon / geo_shape (point,
  polygon and envelope field types — see _geo_shape; indexed_shape
  lookups resolve in Catalog.read_index's pre-pass), and
  the Lucene span family (span_term, span_multi over
  prefix/wildcard/regexp/fuzzy, span_or, span_first, span_not with
  pre/post, span_near ordered n-way + unordered n-way (<= 8),
  span_containing, span_within, field_masking_span) — position-aware
  predicates compiled to array<struct<s,e>> span sets over analyzed token
  positions, all inside codegen.

Semantics notes (SURVEY.md §2.C "one real semantic gap"):
- ``term`` is exact equality (reference `strict` mode).
- ``match`` tokenizes BOTH sides with the standard analyzer
  (functions/text.py) and tests token overlap (OR) / containment (AND) —
  an exact, documented subset of ES's scored match; predicates here never
  produce a `_score` (the deterministic scoring subset — function_score
  family, constant_score boost — materializes one via `search.search`).
  A query analyzing to ZERO tokens is Lucene's
  MatchNoDocsQuery (``zero_terms_query: "all"`` flips it to match-all) on
  match / match_phrase / match_phrase_prefix / multi_match.  ``match``
  honors ``fuzziness`` (per-token FuzzyQuery rewrite, AUTO length rule).
"""

from __future__ import annotations

import json
import math
import re
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions import sql
from elasticsearch_hadoop_spark.functions.text import (
    TOKEN_SPLIT_REGEX,
    analyze_tokens,
    py_standard_analyze,
)


class QueryDslError(ValueError):
    pass


# Field-resolver stack: normally a field name compiles to F.col(name); inside
# a `nested` clause it resolves against the current array element instead.
# Spark higher-order-function lambdas are built EAGERLY (the python callable
# runs once at expression-construction time), so the push/pop brackets the
# inner compile synchronously — but compile_query may be called from several
# threads at once (parallel job submission), so the stack lives in a
# ContextVar holding an immutable tuple: each thread/context sees only its
# own nesting, and a failed compile cannot leak a resolver into a peer.
_RESOLVER_STACK: ContextVar[tuple] = ContextVar("es_query_resolver_stack", default=())


@contextmanager
def resolving(resolver: Callable[[str], Column]):
    """Compile clauses with ``resolver(field)`` in place of ``F.col(field)``
    for every field a clause names."""
    token = _RESOLVER_STACK.set(_RESOLVER_STACK.get() + (resolver,))
    try:
        yield
    finally:
        _RESOLVER_STACK.reset(token)


def _resolve(field: str) -> Column:
    stack = _RESOLVER_STACK.get()
    if stack:
        return stack[-1](field)
    return F.col(field)


def compile_query(query: str | dict[str, Any], id_col: str = "_id") -> Column:
    """Compile an ES query-DSL JSON (dict or string) to a Column predicate.

    ``id_col`` names the column the ``ids`` clause matches against
    (the reference exposes ES `_id`; our catalog materializes it on request
    — SURVEY.md §2.A A8 metadata parity).
    """
    if isinstance(query, str):
        query = query.strip()
        if not query.startswith("{"):
            return _compile_uri_query(query)
        try:
            query = json.loads(query)
        except json.JSONDecodeError as exc:
            # user-facing syntax: a malformed JSON body keeps the typed
            # error contract instead of leaking a raw JSONDecodeError
            raise QueryDslError(f"query is not valid JSON: {exc}") from None
    if "query" in query and set(query) == {"query"}:  # full search body
        query = query["query"]
    return _compile_clause(query, id_col)


def _compile_clause(clause: dict[str, Any], id_col: str) -> Column:
    if not isinstance(clause, dict) or len(clause) != 1:
        raise QueryDslError(f"expected a single-key query clause, got: {clause!r}")
    (kind, body), = clause.items()
    handler = _HANDLERS.get(kind)
    if handler is None:
        raise QueryDslError(f"unsupported query clause: {kind}")
    return handler(body, id_col)


def _field_value(body: dict[str, Any]) -> tuple[str, Any]:
    (field, value), = body.items()
    if isinstance(value, dict) and "value" in value:  # long form {"value": x}
        value = value["value"]
    return field, value


def _case_insensitive(body: dict[str, Any]) -> bool:
    """ES 7.10+ term-level option, long form only:
    {"field": {"value": x, "case_insensitive": true}}."""
    (_, spec), = body.items()
    return bool(isinstance(spec, dict) and spec.get("case_insensitive"))


def _term(body, id_col):
    field, value = _field_value(body)
    if _case_insensitive(body):
        return F.lower(_resolve(field)) == F.lit(str(value).lower())
    return _resolve(field) == F.lit(value)


def _terms(body, id_col):
    # ES allows a sibling "boost" key next to the field (score-only here)
    entries = {k: v for k, v in body.items() if k != "boost"}
    (field, values), = entries.items()
    return _resolve(field).isin(list(values))


def _range(body, id_col):
    (field, bounds), = body.items()
    col, pred = _resolve(field), F.lit(True)
    ops = {"gt": col.__gt__, "gte": col.__ge__, "lt": col.__lt__, "lte": col.__le__}
    for op, v in bounds.items():
        if op in ("format", "time_zone", "boost"):
            continue
        if op not in ops:
            raise QueryDslError(f"unsupported range op: {op}")
        pred = pred & ops[op](F.lit(v))
    return pred


def _exists(body, id_col):
    return _resolve(body["field"]).isNotNull()


def _prefix(body, id_col):
    field, value = _field_value(body)
    if _case_insensitive(body):
        return F.lower(_resolve(field)).startswith(str(value).lower())
    return _resolve(field).startswith(str(value))


def _wildcard(body, id_col):
    field, value = _field_value(body)
    # ES wildcard: * = any run, ? = any single char; anchor both ends.
    import re as _re

    pattern = "".join(
        ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch) for ch in str(value)
    )
    if _case_insensitive(body):
        pattern = "(?i)" + pattern
    return _resolve(field).rlike(f"^{pattern}$")


def _regexp(body, id_col):
    field, value = _field_value(body)
    flag = "(?i)" if _case_insensitive(body) else ""
    return _resolve(field).rlike(f"{flag}^(?:{value})$")  # fully anchored, like ES


def _ids(body, id_col):
    return F.col(id_col).isin(list(body["values"]))


def _auto_fuzz(term: str) -> int:
    """Lucene's AUTO fuzziness: 0 edits for len<3, 1 for len<6, else 2."""
    return 0 if len(term) < 3 else (1 if len(term) < 6 else 2)


def _resolve_fuzziness(fuzziness, term: str) -> int:
    if isinstance(fuzziness, str):
        if fuzziness.upper() != "AUTO":
            raise QueryDslError(f"unsupported fuzziness: {fuzziness!r}")
        return _auto_fuzz(term)
    return int(fuzziness)


def _match(body, id_col):
    field, value = _field_value(body)
    operator = "or"
    msm = None
    ztq = "none"
    fuzziness = None
    if isinstance(body[next(iter(body))], dict):
        spec = body[next(iter(body))]
        value = spec.get("query", value)
        operator = spec.get("operator", "or").lower()
        msm = spec.get("minimum_should_match")
        ztq = str(spec.get("zero_terms_query", "none")).lower()
        fuzziness = spec.get("fuzziness")
    if fuzziness is not None:
        return _match_fuzzy(field, value, operator, msm, ztq, fuzziness)
    if not py_standard_analyze(value):
        # Lucene: a query that analyzes to zero tokens is
        # MatchNoDocsQuery regardless of operator — unless
        # zero_terms_query=all asks for MatchAllDocsQuery.  (The
        # operator=and containment test below would otherwise
        # vacuously match EVERY document on an empty token set.)
        return F.lit(ztq == "all")
    # Query tokens are a literal analyzed at compile time.  The field
    # side is the analyzer without its higher-order empty-token filter,
    # so the predicate stays in whole-stage codegen: every test below
    # compares against the query tokens, which are never empty, so the
    # empty strings split leaves behind never change the result.
    qtokens = F.expr(sql.string_array(dict.fromkeys(py_standard_analyze(value))))
    ftokens = F.split(F.lower(_resolve(field)), TOKEN_SPLIT_REGEX)
    if operator == "and":
        # ES ignores minimum_should_match under operator=and (all
        # tokens are required anyway)
        return F.size(F.array_except(qtokens, ftokens)) == 0
    if msm is not None:
        # the query tokens are a literal — the shared Python replica of
        # the analyzer resolves msm to a count at compile time
        n_tok = len(set(py_standard_analyze(value)))
        required = _msm_count(msm, n_tok, False)
        if required > n_tok:
            return F.lit(False)  # Lucene's MatchNoDocsQuery rewrite
        if required > 1:
            return F.size(F.array_intersect(ftokens, qtokens)) >= required
    return F.arrays_overlap(ftokens, qtokens)


def _match_fuzzy(field, value, operator, msm, ztq, fuzziness) -> Column:
    """`match` with `fuzziness`: Lucene rewrites each query token to a
    FuzzyQuery — a doc token within k edits satisfies that token, with k
    resolved PER TOKEN under AUTO (0/1/2 by the token's length).  The
    predicate is per-token existence over the analyzed field
    (`exists(toks, t -> levenshtein(t, q) <= k)` — levenshtein is
    JVM-native; the token array is let-bound so the analyzer runs once
    per row no matter how many query tokens probe it)."""
    qterms = sorted(set(py_standard_analyze(value)))
    if not qterms:
        return F.lit(ztq == "all")

    def present(toks: Column, term: str) -> Column:
        k = _resolve_fuzziness(fuzziness, term)
        if k == 0:
            return F.array_contains(toks, term)

        def _within(term=term, k=k):
            # closure factory: PySpark HOF lambdas dispatch on ARITY, so
            # default-arg capture (lambda t, term=term) reads as a
            # 2-arg (element, index) lambda
            return lambda t: F.levenshtein(t, F.lit(term)) <= k

        return F.exists(toks, _within())

    def body_fn(toks: Column) -> Column:
        hits = [present(toks, t) for t in qterms]
        if operator == "and":
            out = hits[0]
            for h in hits[1:]:
                out = out & h
            return out
        if msm is not None:
            required = _msm_count(msm, len(qterms), False)
            if required > len(qterms):
                return F.lit(False)
            if required > 1:
                n = hits[0].cast("int")
                for h in hits[1:]:
                    n = n + h.cast("int")
                return n >= required
        out = hits[0]
        for h in hits[1:]:
            out = out | h
        return out

    return _let(analyze_tokens(_resolve(field)), body_fn)


def _match_phrase(body, id_col):
    field, value = _field_value(body)
    slop = 0
    ztq = "none"
    if isinstance(body[next(iter(body))], dict):
        spec = body[next(iter(body))]
        value = spec.get("query", value)
        slop = int(spec.get("slop", 0))
        ztq = str(spec.get("zero_terms_query", "none")).lower()
    elif isinstance(value, dict):
        value = value.get("query")
    if not py_standard_analyze(value):
        # zero analyzed tokens: MatchNoDocs (or MatchAll under
        # zero_terms_query=all), same as `match` — not a compile error
        return F.lit(ztq == "all")
    if slop > 0:
        return _sloppy_phrase(_resolve(field), str(value), slop)
    # slop=0: analyzed-phrase containment — token-joined needle in
    # token-joined haystack
    needle = F.concat_ws(" ", analyze_tokens(F.lit(str(value))))
    hay = F.concat_ws(" ", analyze_tokens(_resolve(field)))
    return F.concat(F.lit(" "), hay, F.lit(" ")).contains(F.concat(F.lit(" "), needle, F.lit(" ")))


def _sloppy_phrase(col: Column, phrase: str, slop: int) -> Column:
    """`match_phrase` with slop — the documented in-order subset: the
    query tokens must appear in order with total gap (span length minus
    token count) <= slop.  (Lucene's sloppy phrase also allows
    transpositions at edit-cost 2; out of scope, documented.)

    Pure Column math: per-term position arrays (one filter over an index
    sequence each), then a nested `exists` chain asserting p1<..<pn and
    pn-p1-(n-1) <= slop.  Query phrases are a handful of tokens and
    per-term occurrence lists short, so the nesting is cheap — and it all
    stays inside codegen, no explode."""
    import re as _re

    terms = py_standard_analyze(phrase)
    if not terms:
        raise QueryDslError("match_phrase needs at least one query token")

    def _body(toks):
        # toks is a LET-BOUND lambda variable (see _let): the analyzer's
        # regex split runs once per row, and every position probe below
        # reads the variable instead of re-inlining the split
        sz = F.size(toks)

        def _positions(term: str):
            # NB: a `lambda i, t=t:` default-arg closure would change the
            # lambda's arity to 2, which PySpark reads as an (element, index)
            # higher-order function — binding the term to the array index.
            return F.filter(
                F.sequence(F.lit(0), sz - 1), lambda i: F.get(toks, i) == F.lit(term)
            )

        positions = [_positions(t) for t in terms]
        if len(terms) == 1:
            return F.size(positions[0]) > 0

        def chain(level: int, prev, first):
            # exists p_level in positions[level]: p_level > prev, and at the
            # last level the whole span fits the slop budget
            if level == len(terms) - 1:
                return F.exists(
                    positions[level],
                    lambda p: (p > prev) & (p - first - (len(terms) - 1) <= slop),
                )
            return F.exists(
                positions[level], lambda p: (p > prev) & chain(level + 1, p, first)
            )

        matched = F.exists(positions[0], lambda p: chain(1, p, p))
        return F.coalesce(matched, F.lit(False)) & (sz >= len(terms))

    return _let(analyze_tokens(col), _body)


def _match_all(body, id_col):
    return F.lit(True)


def _fuzzy(body, id_col):
    """ES `fuzzy`: edit-distance match.  `fuzziness` N or "AUTO" (AUTO ≈
    ES's length-scaled rule: 0 edits for len<3, 1 for len<6, else 2 —
    applied to the QUERY term's length, computed at compile time).
    Levenshtein is a JVM-native Column function — stays in codegen."""
    field, value = _field_value(body)
    fuzziness = "AUTO"  # ES's default in both short and long forms
    spec = body[next(iter(body))]
    if isinstance(spec, dict):
        value = spec.get("value", value)
        fuzziness = spec.get("fuzziness", "AUTO")
    value = str(value)
    if isinstance(fuzziness, str):
        if fuzziness.upper() != "AUTO":
            raise QueryDslError(f"unsupported fuzziness: {fuzziness!r}")
        fuzziness = 0 if len(value) < 3 else (1 if len(value) < 6 else 2)
    return F.levenshtein(_resolve(field), F.lit(value)) <= int(fuzziness)


def _nested(body, id_col):
    """ES `nested` query over an array-of-struct column: the WHOLE inner
    query must match the SAME array element (the semantic that
    distinguishes nested docs from flattened fields).  Compiles to the
    higher-order `exists(path, x -> inner(x))` — pure Column math, no
    explode/join, evaluated element-wise inside codegen.

    Inner field names may be path-qualified ("items.price") or bare
    ("price"); both resolve against the current element."""
    path = body.get("path")
    inner = body.get("query")
    if not path or not inner:
        raise QueryDslError("nested requires path and query")

    def build(x):
        prefix = f"{path}."

        def res(f: str) -> Column:
            leaf = f[len(prefix):] if f.startswith(prefix) else f
            out = x
            for part in leaf.split("."):
                out = out[part]
            return out

        with resolving(res):
            return _compile_clause(inner, id_col)

    return F.coalesce(F.exists(_resolve(path), build), F.lit(False))


def _constant_score(body, id_col):
    """ES `constant_score`: scoring wrapper — scores are out of scope
    (README), so it compiles to its inner filter verbatim."""
    inner = body.get("filter")
    if inner is None:
        raise QueryDslError("constant_score requires a filter clause")
    return _compile_clause(inner, id_col)


def _bool(body, id_col):
    pred = F.lit(True)
    for key in ("must", "filter"):
        for sub in _as_list(body.get(key)):
            pred = pred & _compile_clause(sub, id_col)
    for sub in _as_list(body.get("must_not")):
        # ES: a must_not clause that cannot match (missing field -> SQL
        # NULL) leaves the doc IN; bare ~NULL would be NULL and drop it
        pred = pred & ~F.coalesce(_compile_clause(sub, id_col), F.lit(False))
    should = _as_list(body.get("should"))
    if should:
        # ES: should is optional when must/filter present UNLESS
        # minimum_should_match forces it; required (>=1) when should-only.
        # An integer minimum_should_match N means "at least N of the
        # should clauses" — counted with a sum of casts (stays in codegen).
        msm = body.get("minimum_should_match")
        n_required = _msm_count(msm, len(should), bool(body.get("must") or body.get("filter")))
        if n_required > len(should):
            # Lucene rewrites minimumNumberShouldMatch > optional-clause
            # count to MatchNoDocsQuery — nothing can satisfy it
            return F.lit(False)
        if n_required == 1:
            any_should = None
            for sub in should:
                c = _compile_clause(sub, id_col)
                any_should = c if any_should is None else (any_should | c)
            pred = pred & any_should
        elif n_required > 1:
            # NULL-evaluating clauses (SQL three-valued logic on missing
            # fields) count as 0, like ES's non-matching clause — without
            # the coalesce one NULL poisons the whole sum
            n_matched = None
            for sub in should:
                c = F.coalesce(_compile_clause(sub, id_col).cast("int"), F.lit(0))
                n_matched = c if n_matched is None else (n_matched + c)
            pred = pred & (n_matched >= n_required)
    return pred


def _msm_count(msm, n_should: int, has_must_or_filter: bool) -> int:
    """Resolve minimum_should_match to a required count (<=0 = optional;
    a count above n_should is returned as-is — callers must treat it as
    unsatisfiable, Lucene's MatchNoDocsQuery rewrite).  The four ES
    simple forms, computed exactly as Lucene's calculateMinShouldMatch:
    ``N`` (required count), ``-N`` (n_should − N required), ``"P%"``
    (trunc(P% of n_should) required — Java integer division truncates
    toward zero), ``"-P%"`` (n_should − trunc(P% of n_should)).  The
    conditional ``N<P%`` combination form is rejected, not misread."""
    if msm is None:
        return 0 if has_must_or_filter else 1
    s = str(msm).strip()
    try:
        if s.endswith("%"):
            percent = int(s[:-1])
            fcalc = n_should * percent / 100.0
            # Lucene branches on the FLOAT sign, then truncates toward
            # zero: "-25%" of 3 is 3 + trunc(-0.75) = 3, not 0
            calc = n_should + int(fcalc) if fcalc < 0 else int(fcalc)
        else:
            calc = int(s)
            calc = n_should + calc if calc < 0 else calc
    except ValueError:
        raise QueryDslError(f"unsupported minimum_should_match: {msm!r}") from None
    return max(0, calc)


def _as_list(x) -> list:
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def uri_query_parts(q: str) -> list[tuple[str, str, str]]:
    """Tokenize the `?q=` URI-lite grammar into ``(connector, field,
    value)`` triples (connector 'AND'|'OR'; 'AND' for the first pair —
    never consumed).  ``value`` is the RAW surface form (quotes kept) —
    ``uri_leaf_kind`` classifies it into the term/wildcard/range/cmp
    leaf kinds (round 13; VERDICT r12 item 4).  The SINGLE source of
    truth for this grammar: both the filter compiler below and esql's
    scored-leaf decomposition (``esql._qstr_score_leaves``, round 12)
    iterate these triples and classify through the same
    ``uri_leaf_kind``, so a grammar change reaches the filter and the
    score gates together — they can never silently diverge.

    Tokenizer limit (documented): pairs split on whitespace-delimited
    AND/OR, so a QUOTED value cannot embed ``" AND "``/``" OR "`` —
    the full ``query_string`` clause parser handles those."""
    parts = re.split(r"\s+(AND|OR)\s+", q.strip())
    out: list[tuple[str, str, str]] = []
    op = "AND"
    for part in parts:
        if part in ("AND", "OR"):
            op = part
            continue
        if ":" not in part:
            raise QueryDslError(f"URI query needs field:value pairs, got {part!r}")
        field, value = part.split(":", 1)
        out.append((op, field.strip(), value.strip()))
    if not out:
        raise QueryDslError("empty URI query")
    return out


# `field:>5`-style comparison shorthands and `[a TO b]` / `{a TO b}`
# bracket ranges — the same forms the search-body query_string parser
# accepts (ES: QueryStringQueryParser range syntax)
_URI_CMP = re.compile(r"^(>=|<=|>|<)\s*(\S.*)$", re.S)
_URI_RANGE = re.compile(r"^([\[\{])\s*(\S.*?)\s+TO\s+(\S.*?)\s*([\]\}])$", re.I | re.S)


# exact numeric spellings only — Python's float()/int() also accept
# nan/inf/1_000/Infinity, which ES's range parser 400s on and which
# would compile to surprising comparisons (NaN is largest in Spark's
# ordering); those spellings stay lexical strings here
_URI_INT = re.compile(r"^[+-]?\d+$")
_URI_FLOAT = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")
# special FP spellings Spark's string->double coercion parses
# case-insensitively on numeric columns — refused loudly (see _uri_bound)
_URI_SPECIAL_FP = re.compile(r"^[+-]?(nan|inf|infinity)$", re.I)


def _uri_bound(text: str):
    """A range/comparison bound.  ``"quoted"`` forces a STRING bound
    (lexical comparison — the escape hatch for keyword-like string
    columns holding digits); unquoted text is numeric when it matches
    an exact numeric spelling (int kept exact, else float; nan/inf/
    underscores stay strings), otherwise the raw string (ISO dates
    compare lexically).

    The bound's SURFACE FORM is the engine's only type signal (the
    Column builder is schema-free — ES reads the field type from the
    mapping instead): a numeric bound means a numeric comparison, and
    aiming one at a STRING column holding non-numeric values fails
    LOUDLY at runtime (Spark ANSI CAST_INVALID_INPUT on the row cast),
    never silently — quote the bound for lexical semantics there."""
    if len(text) >= 2 and text[0] == '"' and text[-1] == '"':
        return text[1:-1]
    if _URI_SPECIAL_FP.match(text):
        # 'stays a lexical string' is NOT protection here: Spark's
        # binary-comparison coercion casts the string back to double on
        # a numeric column, and special FP literals parse
        # case-insensitively — `n < nan` silently matches EVERY row
        # under NaN-is-largest ordering (review r13c, verified live).
        # ES 400s these; so do we.  A quoted bound stays expressible
        # for a string column legitimately holding the text.
        raise QueryDslError(
            f"bound {text!r} would compare as NaN/Infinity and silently "
            "match everything or nothing - quote it for a literal "
            "string bound"
        )
    if _URI_INT.match(text):
        v = int(text)
        if not -(2**63) <= v <= 2**63 - 1:
            # F.lit would raise an untyped Py4JError past int64; ES
            # 400s an out-of-range long the same way.  A double-typed
            # bound is still expressible via a float spelling (1e30).
            raise QueryDslError(
                f"integer bound out of int64 range: {text!r} "
                "(use a float spelling like 1e30 for a double bound)"
            )
        return v
    if _URI_FLOAT.match(text):
        v = float(text)
        if v in (float("inf"), float("-inf")):
            raise QueryDslError(f"bound overflows double: {text!r}")
        return v
    # string bound: Lucene \x escapes resolve, same as term values
    return _uri_unescape(text) if "\\" in text else text


def _uri_scan(value: str) -> tuple[bool, str, str]:
    """ONE walk of Lucene's backslash-escape rules (``\\x`` means the
    literal x; a trailing lone backslash is a literal backslash),
    returning ``(has_live_wildcard, unescaped_text, like_pattern)`` —
    the single source of truth the three public views below share, so
    the escape rules can never drift between them."""
    live = False
    un: list[str] = []
    like: list[str] = []
    i = 0
    while i < len(value):
        ch = value[i]
        if ch == "\\" and i + 1 < len(value):
            nxt = value[i + 1]
            un.append(nxt)
            like.append("\\" + nxt if nxt in ("%", "_", "\\") else nxt)
            i += 2
            continue
        if ch in "*?":
            live = True
            un.append(ch)
            like.append("%" if ch == "*" else "_")
        elif ch in ("%", "_", "\\"):
            un.append(ch)
            like.append("\\" + ch)
        else:
            un.append(ch)
            like.append(ch)
        i += 1
    return live, "".join(un), "".join(like)


def _uri_has_live_wildcard(value: str) -> bool:
    """True when the value contains an UNESCAPED ``*`` or ``?``."""
    return _uri_scan(value)[0]


def _uri_unescape(value: str) -> str:
    """Resolve Lucene ``\\x`` escapes to the literal character."""
    return _uri_scan(value)[1]


def uri_wildcard_like(pattern: str) -> str:
    """Translate a Lucene wildcard value (`*` any run, `?` one char,
    ``\\*``/``\\?`` the literal character) to a SQL LIKE pattern,
    escaping LIKE's own metacharacters with ``\\`` — Spark's default
    LIKE escape.  Oracle authors: DuckDB has NO default escape
    character, so a pattern containing ``\\%``/``\\_``/``\\\\`` needs an
    explicit ``ESCAPE '\\'`` clause in the SQL twin (escape-free
    patterns compare identically on both engines)."""
    return _uri_scan(pattern)[2]


def uri_leaf_kind(value: str) -> tuple[str, object]:
    """Classify one pair's RAW value into the URI-lite leaf kinds:

    - ``("term", text)`` — plain value or ``"quoted"`` (quotes force a
      literal term: no wildcard/range interpretation inside quotes);
      Lucene ``\\x`` escapes resolve, so ``foo\\*`` is the literal term
      ``foo*``, never a wildcard;
    - ``("wildcard", pattern)`` — unquoted value containing an
      UNESCAPED * or ? (pattern keeps the raw escapes;
      ``uri_wildcard_like`` resolves them);
    - ``("cmp", (op, bound))`` — ``field:>5`` comparison shorthands;
    - ``("range", (lo_incl, lo, hi, hi_incl))`` — ``[a TO b]`` /
      ``{a TO b}`` (mixed brackets allowed); a ``*`` bound is open.

    Bound typing note (`_uri_bound`): numeric-looking bounds compare
    numerically; ``"quoted"`` bounds force lexical string comparison —
    the explicit escape hatch for string columns holding digits, since
    the schema-free builder cannot read the column type the way ES
    reads its mapping.

    Shared by ``uri_pair_clause`` and ``esql._qstr_score_leaves`` so
    the filter and the score gates classify identically."""
    if len(value) >= 2 and value[0] == '"' and value[-1] == '"':
        return ("term", value[1:-1])

    def bound(text: str, open_ok: bool = False):
        if open_ok and text == "*":
            return None
        if len(text) >= 2 and text[0] == '"' and text[-1] == '"':
            # quoted FIRST: quotes force a literal string bound, so a
            # quoted '*'/'5*' is the literal text, never a wildcard
            # (review r13c — the wildcard refusal below must not see
            # the quoted form)
            return text[1:-1]
        if _uri_has_live_wildcard(text):
            # a wildcard inside an unquoted range/comparison bound has
            # no Lucene meaning — refuse loudly rather than compile a
            # puzzling lexical/cast comparison against the raw '5*'
            raise QueryDslError(
                f"range/comparison bound cannot contain wildcards: "
                f"{value!r} (quote the bound for the literal text)"
            )
        return _uri_bound(text)

    m = _URI_RANGE.match(value)
    if m:
        lo = bound(m.group(2), open_ok=True)
        hi = bound(m.group(3), open_ok=True)
        return ("range", (m.group(1) == "[", lo, hi, m.group(4) == "]"))
    m = _URI_CMP.match(value)
    if m:
        return ("cmp", (m.group(1), bound(m.group(2).strip())))
    if _uri_has_live_wildcard(value):
        return ("wildcard", value)
    return ("term", _uri_unescape(value) if "\\" in value else value)


def uri_pair_clause(
    field: str, value: str, kind: tuple[str, object] | None = None
) -> Column:
    """One URI-lite pair's predicate, dispatched on ``uri_leaf_kind``:
    term → exact equality (the documented subset; no _all analysis in a
    columnar store), wildcard → LIKE, cmp/range → range predicates.
    ``kind`` takes a precomputed ``uri_leaf_kind(value)`` so a caller
    that already classified (the scored-leaf path) never classifies
    twice.  ``_exists_:field`` (the ES query_string pseudo-field) tests
    the NAMED field for a non-null value.  Shared by the filter
    compiler and the scored-leaf gates for the same can't-diverge
    reason as ``uri_query_parts``."""

    def ucol(name: str) -> Column:
        # user-facing syntax: a malformed attribute name (unbalanced
        # backtick) raises AnalysisException at Column-BUILD time —
        # keep the typed error contract (found by the round-13
        # printable-input fuzz).  Catch ONLY the parse error: a bare
        # Exception here would relabel a dead gateway/session as "bad
        # field name" (review r13c).
        from pyspark.errors import AnalysisException

        try:
            return F.col(name)
        except AnalysisException as exc:
            raise QueryDslError(f"bad field name {name!r}: {exc}") from None

    col = ucol(field)
    kind, payload = kind if kind is not None else uri_leaf_kind(value)
    if field == "_exists_":
        if kind != "term":
            raise QueryDslError(
                f"_exists_ takes a field name, got {value!r}"
            )
        return ucol(payload).isNotNull()
    if kind == "term":
        return col == F.lit(payload)
    if kind == "wildcard":
        return col.like(uri_wildcard_like(payload))
    if kind == "cmp":
        op, bound = payload
        lit = F.lit(bound)
        return {">": col > lit, ">=": col >= lit, "<": col < lit, "<=": col <= lit}[op]
    lo_incl, lo, hi, hi_incl = payload
    pred: Column | None = None
    if lo is not None:
        pred = col >= F.lit(lo) if lo_incl else col > F.lit(lo)
    if hi is not None:
        c = col <= F.lit(hi) if hi_incl else col < F.lit(hi)
        pred = c if pred is None else pred & c
    # [* TO *]: ES matches documents where the field EXISTS
    return pred if pred is not None else col.isNotNull()


def _compile_uri_query(q: str) -> Column:
    """`?q=` URI-lite subset: `field:value` pairs joined by AND/OR,
    values classified by ``uri_leaf_kind`` (term / wildcard / range /
    cmp / ``_exists_``); bare `value` unsupported (no _all field in a
    columnar store)."""
    pred: Column | None = None
    for op, field, value in uri_query_parts(q):
        clause = uri_pair_clause(field, value)
        if pred is None:
            pred = clause
        elif op == "AND":
            pred = pred & clause
        else:
            pred = pred | clause
    return pred


_DISTANCE_UNITS_KM = {
    "km": 1.0,
    "kilometers": 1.0,
    "m": 0.001,
    "meters": 0.001,
    "cm": 0.00001,
    "centimeters": 0.00001,
    "mm": 0.000001,
    "millimeters": 0.000001,
    "mi": 1.609344,
    "miles": 1.609344,
    "nmi": 1.852,
    "nm": 1.852,
    "nauticalmiles": 1.852,
    "yd": 0.0009144,
    "yards": 0.0009144,
    "ft": 0.0003048,
    "feet": 0.0003048,
    "in": 0.0000254,
    "inch": 0.0000254,
}


def _parse_distance_km(s: Any) -> float:
    """ES distance-string parsing ('200km', '50mi', '1000m'; bare number =
    meters, matching ES's default unit)."""
    if isinstance(s, (int, float)):
        return float(s) * 0.001
    txt = str(s).strip().lower()
    try:
        for unit in sorted(_DISTANCE_UNITS_KM, key=len, reverse=True):
            if txt.endswith(unit):
                return float(txt[: -len(unit)]) * _DISTANCE_UNITS_KM[unit]
        return float(txt) * 0.001
    except ValueError as e:
        raise QueryDslError(f"bad distance {s!r}") from e


def _latlon(spec: Any) -> tuple[float, float]:
    """ES geo-point literal forms: {"lat":..,"lon":..}, [lon, lat], "lat,lon"."""
    if isinstance(spec, dict):
        return float(spec["lat"]), float(spec["lon"])
    if isinstance(spec, (list, tuple)):  # GeoJSON order: [lon, lat]
        return float(spec[1]), float(spec[0])
    lat, lon = str(spec).split(",")
    return float(lat), float(lon)


def _geo_field_spec(body: dict, kind: str):
    """Strip the ES sibling option keys every geo clause may carry
    (ignore_unmapped/validation_method/_name/boost — predicate-irrelevant
    here) and return the single remaining (field, spec) pair."""
    body = {
        k: v
        for k, v in body.items()
        if k not in ("ignore_unmapped", "validation_method", "_name", "boost",
                     "distance_type", "unit")
    }
    if len(body) != 1:
        raise QueryDslError(
            f"{kind} needs exactly one field entry, got {sorted(body)}"
        )
    return next(iter(body.items()))


def _geo_distance(body, id_col):
    """{"geo_distance": {"distance": "200km", "<field>": {"lat":..,"lon":..}}}
    — field is geo_point → struct(lat,lon) per SURVEY.md §1.2."""
    from elasticsearch_hadoop_spark.functions.geo import geo_distance_filter

    body = dict(body)
    if "distance" not in body:
        raise QueryDslError("geo_distance needs a distance")
    radius_km = _parse_distance_km(body.pop("distance"))
    field, center = _geo_field_spec(body, "geo_distance")
    lat, lon = _latlon(center)
    return geo_distance_filter(
        F.col(f"{field}.lat"), F.col(f"{field}.lon"), lat, lon, radius_km
    )


def _geo_bounding_box(body, id_col):
    from elasticsearch_hadoop_spark.functions.geo import geo_bounding_box_filter

    field, box = _geo_field_spec(body, "geo_bounding_box")
    if "top_left" in box:
        top, left = _latlon(box["top_left"])
        bottom, right = _latlon(box["bottom_right"])
    else:
        top, left = float(box["top"]), float(box["left"])
        bottom, right = float(box["bottom"]), float(box["right"])
    return geo_bounding_box_filter(
        F.col(f"{field}.lat"), F.col(f"{field}.lon"), top, left, bottom, right
    )


def _geo_grid(body, id_col):
    """ES 8.x ``geo_grid`` query: match docs whose geo_point falls in the
    named grid cell — ``{"geo_grid": {"<field>": {"geotile": "z/x/y"}}}``
    or ``{"geohash": "<base32>"}``.  Compiles the SAME cell-key Column
    math the geotile_grid / geohash_grid aggs use (aggs_dsl._bucket_key)
    and compares with the literal key, so a geo_grid query for a bucket
    key always matches exactly that bucket's docs — ES's own consistency
    contract between the grid aggs and this query.  geohex needs the H3
    library (absent) and is rejected like ES|QL RERANK."""
    from elasticsearch_hadoop_spark.aggs_dsl import GEOHASH_BASE32, _bucket_key

    field, spec = _geo_field_spec(body, "geo_grid")
    if not isinstance(spec, dict) or len(spec) != 1:
        raise QueryDslError(
            f"geo_grid field spec needs exactly one of geotile/geohash, got {spec!r}"
        )
    (kind, key), = spec.items()
    if kind == "geotile":
        key = str(key)
        parts = key.split("/")
        if len(parts) != 3:
            raise QueryDslError(f"geotile key must be 'z/x/y', got {key!r}")
        try:
            z, x, y = (int(p) for p in parts)
        except ValueError:
            raise QueryDslError(f"geotile key must be 'z/x/y' integers, got {key!r}")
        if not 0 <= z <= 29:
            raise QueryDslError(f"geotile zoom {z} out of range 0..29")
        if not (0 <= x < (1 << z) and 0 <= y < (1 << z)):
            raise QueryDslError(f"geotile x/y out of range for zoom {z}: {key!r}")
        cell = _bucket_key("geotile_grid", {"field": field, "precision": z})
        return cell == F.lit(f"{z}/{x}/{y}")
    if kind == "geohash":
        key = str(key).lower()
        if not key or any(c not in GEOHASH_BASE32 for c in key):
            raise QueryDslError(f"invalid geohash cell {key!r}")
        cell = _bucket_key("geohash_grid", {"field": field, "precision": len(key)})
        return cell == F.lit(key)
    if kind == "geohex":
        raise QueryDslError(
            "geo_grid geohex needs the H3 library (not available); use "
            "geotile or geohash cells"
        )
    raise QueryDslError(f"geo_grid cell kind {kind!r} (want geotile/geohash)")


def _geo_polygon(body, id_col):
    """{"geo_polygon": {"<field>": {"points": [pt, ...]}}} — points in any
    ES geo-point literal form; even-odd ray casting, pure Column math."""
    from elasticsearch_hadoop_spark.functions.geo import geo_polygon_filter

    field, spec = _geo_field_spec(body, "geo_polygon")
    pts = [_latlon(p) for p in spec["points"]]
    return geo_polygon_filter(F.col(f"{field}.lat"), F.col(f"{field}.lon"), pts)


def _geo_shape(body, id_col):
    """ES ``geo_shape``.  In ES the indexed field's MAPPING decides the
    doc-side geometry; this compiler is schema-less, so the field spec
    takes a documented ``field_type`` hint (the mapping stand-in):

    - ``"point"`` (default) — struct(lat, lon) docs, the point-vs-shape
      subset: relations ``intersects``/``within`` (identical for points)
      and ``disjoint``; query shapes ``envelope`` ([[minLon, maxLat],
      [maxLon, minLat]], GeoJSON-style lon-first like ES), ``polygon``
      (first ring; even-odd ray casting shared with geo_polygon),
      ``point`` (exact equality).
    - ``"polygon"`` — array<struct<lon, lat>> ring docs vs an
      ``envelope`` query shape: exact ``intersects``/``within``/
      ``disjoint`` (separating-axis edge tests + ray-cast corner
      containment, functions/geo.py); ``contains`` rejects (needs
      open-set interior tests — no approximation).
    - ``"envelope"`` — struct(min_lon, min_lat, max_lon, max_lat) docs
      vs an ``envelope`` query shape: exact ``intersects``/``within``/
      ``contains``/``disjoint`` interval arithmetic.

    Indexed-shape LOOKUPS (``indexed_shape``: fetch the query geometry
    from another index) stay out of scope — reject, don't approximate."""
    from elasticsearch_hadoop_spark.functions.geo import (
        envelope_envelope_relation,
        geo_bounding_box_filter,
        geo_polygon_filter,
        polygon_envelope_relation,
    )

    field, spec = _geo_field_spec(body, "geo_shape")
    shape = spec.get("shape") or spec.get("indexed_shape")
    if shape is None or "indexed_shape" in spec:
        raise QueryDslError(
            "geo_shape needs an inline shape here: indexed_shape lookups "
            "resolve in Catalog.read_index's pre-pass "
            "(_resolve_indexed_shapes fetches the geometry once and "
            "rewrites to the inline form, like terms lookups) — this "
            "schema-less compiler has no catalog access"
        )
    relation = str(spec.get("relation", "intersects")).lower()
    field_type = str(spec.get("field_type", "point")).lower()
    if field_type in ("polygon", "envelope"):
        if str(shape.get("type", "")).lower() != "envelope":
            raise QueryDslError(
                f"geo_shape over a {field_type} field supports an "
                "`envelope` query shape only (shape-vs-shape beyond "
                "box queries would need inexact predicates)"
            )
        (left, top), (right, bottom) = shape["coordinates"]
        q = (float(left), float(bottom), float(right), float(top))
        try:
            if field_type == "polygon":
                return polygon_envelope_relation(F.col(field), q, relation)
            return envelope_envelope_relation(F.col(field), q, relation)
        except ValueError as e:
            raise QueryDslError(str(e)) from e
    if field_type != "point":
        raise QueryDslError(
            f"geo_shape: unsupported field_type {field_type!r} "
            "(supported: point, polygon, envelope)"
        )
    if relation not in ("intersects", "within", "disjoint"):
        raise QueryDslError(
            f"geo_shape: unsupported relation {relation!r} for point fields "
            "(contains would need a shape-typed field)"
        )
    stype = str(shape.get("type", "")).lower()
    lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")
    if stype == "envelope":
        (left, top), (right, bottom) = shape["coordinates"]
        inside = geo_bounding_box_filter(
            lat, lon, float(top), float(left), float(bottom), float(right)
        )
    elif stype == "polygon":
        rings = shape["coordinates"]
        if len(rings) != 1:
            raise QueryDslError(
                "geo_shape: polygons with holes (multiple rings) are "
                "unsupported — a hole-blind match would silently include "
                "points ES excludes"
            )
        pts = [(float(p[1]), float(p[0])) for p in rings[0]]  # lon-first
        inside = geo_polygon_filter(lat, lon, pts)
    elif stype == "point":
        plon, plat = shape["coordinates"]
        inside = (lat == float(plat)) & (lon == float(plon))
    else:
        raise QueryDslError(
            f"geo_shape: unsupported shape type {shape.get('type')!r} "
            "(supported: envelope, polygon, point)"
        )
    if relation == "disjoint":
        return lat.isNotNull() & lon.isNotNull() & ~inside
    return inside


def _more_like_this(body, id_col):
    """ES `more_like_this`, the deterministic scoreless subset: query terms
    are the `like` text's analyzed tokens with like-text term frequency >=
    `min_term_freq` (ES default 2), capped at `max_query_terms` (default
    25) in first-appearance order (ES ranks candidate terms by tf-idf —
    a corpus statistic unavailable at compile time; the cap order is the
    documented divergence).  A doc matches when it shares at least
    `minimum_should_match` of those terms (default "30%", ES's default;
    integer or "N%" forms).  Term selection happens compile-time in
    Python; the match itself is one array_intersect size test over the
    analyzed field — pure codegen, no joins."""
    import re as _re

    fields = body.get("fields")
    like = body.get("like")
    if not fields or like is None:
        raise QueryDslError("more_like_this requires fields and like")
    if isinstance(like, list):
        like = " ".join(str(x) for x in like)
    min_tf = int(body.get("min_term_freq", 2))
    max_terms = int(body.get("max_query_terms", 25))
    toks = py_standard_analyze(like)
    freq: dict[str, int] = {}
    order: list[str] = []
    for t in toks:
        if t not in freq:
            order.append(t)
        freq[t] = freq.get(t, 0) + 1
    terms = [t for t in order if freq[t] >= min_tf][:max_terms]
    if not terms:
        return F.lit(False)
    msm = body.get("minimum_should_match", "30%")
    if isinstance(msm, str) and msm.endswith("%"):
        n_required = max(1, int(len(terms) * int(msm[:-1]) / 100))
    else:
        n_required = int(msm)
    q_arr = F.array(*[F.lit(t) for t in terms])
    pred = None
    for f in fields:
        ftokens = F.array_distinct(analyze_tokens(_resolve(f)))
        c = F.size(F.array_intersect(ftokens, q_arr)) >= n_required
        pred = c if pred is None else (pred | c)
    return pred


# --- function_score -------------------------------------------------------

_FVF_MODIFIERS = {
    # ES field_value_factor modifiers; log* are base-10 (ES semantics),
    # ln* natural.
    "none": lambda c: c,
    "log": F.log10,
    "log1p": lambda c: F.log10(c + 1),
    "log2p": lambda c: F.log10(c + 2),
    "ln": lambda c: F.log(c),
    "ln1p": F.log1p,
    "ln2p": lambda c: F.log(c + 2),
    "square": lambda c: c * c,
    "sqrt": F.sqrt,
    "reciprocal": lambda c: F.lit(1.0) / c,
}


def _field_value_factor(spec: dict) -> Column:
    field = spec.get("field")
    if not field:
        raise QueryDslError("field_value_factor requires field")
    factor = float(spec.get("factor", 1.0))
    modifier = str(spec.get("modifier", "none"))
    mod = _FVF_MODIFIERS.get(modifier)
    if mod is None:
        raise QueryDslError(f"unsupported field_value_factor modifier {modifier!r}")
    c = _resolve(field).cast("double")
    if "missing" in spec:
        c = F.coalesce(c, F.lit(float(spec["missing"])))
    return mod(c * factor)


def _decay_function(kind: str, spec: dict) -> Column:
    """ES decay functions over a numeric field: score falls off with
    distance from `origin`.  ES's exact closed forms:

      gauss:  exp(-d^2 / (2*sigma^2)),  sigma^2 = -scale^2 / (2*ln(decay))
      exp:    exp(lambda * d),          lambda  = ln(decay) / scale
      linear: max(0, (s - d) / s),      s       = scale / (1 - decay)

    where d = max(0, |value - origin| - offset).  All pure Column math —
    deterministic, oracle-replayable (exp/ln agree across engines to well
    under the 6-dp rounding).  Numeric fields only (ES also takes
    dates/geo-points; a date field can be scored by passing epoch values
    through a runtime field)."""
    ((field, p),) = spec.items()
    origin = float(p["origin"])
    scale = float(p["scale"])
    offset = float(p.get("offset", 0.0))
    decay = float(p.get("decay", 0.5))
    if scale <= 0 or not (0 < decay < 1):
        raise QueryDslError(f"decay {kind}: need scale > 0 and 0 < decay < 1")
    v = _resolve(field).cast("double")
    d = F.greatest(F.abs(v - F.lit(origin)) - F.lit(offset), F.lit(0.0))
    if kind == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        return F.exp(-(d * d) / F.lit(2.0 * sigma2))
    if kind == "exp":
        lam = math.log(decay) / scale
        return F.exp(d * F.lit(lam))
    # linear
    s = scale / (1.0 - decay)
    return F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))


# time-unit suffixes for distance_feature date pivots (same table the
# aggs-DSL fixed_interval parser uses)
_FIXED_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def _rank_feature_score(body: dict) -> Column:
    """ES `rank_feature` scoring functions over a numeric feature field:

      saturation: x / (x + pivot)            (default; ES derives pivot
                                              from index stats — here it
                                              must be given explicitly)
      log:        ln(scaling_factor + x)
      sigmoid:    x^exp / (x^exp + pivot^exp)

    multiplied by `boost` (default 1).  Negative/null features score 0,
    like ES treating the feature as absent."""
    field = body.get("field")
    if not field:
        raise QueryDslError("rank_feature requires field")
    boost = float(body.get("boost", 1.0))
    x = _resolve(field).cast("double")
    if "log" in body:
        sf = float(body["log"].get("scaling_factor", 1.0))
        s = F.log(F.lit(sf) + x)
    elif "sigmoid" in body:
        pivot = float(body["sigmoid"]["pivot"])
        ex = float(body["sigmoid"]["exponent"])
        xp = F.pow(x, F.lit(ex))
        s = xp / (xp + F.lit(pivot**ex))
    else:
        sat = body.get("saturation") or {}
        if "pivot" not in sat:
            raise QueryDslError(
                "rank_feature saturation needs an explicit pivot (the "
                "engine has no per-index feature stats to derive one)"
            )
        pivot = float(sat["pivot"])
        s = x / (x + F.lit(pivot))
    s = F.when(x.isNotNull() & (x > 0), s * F.lit(boost)).otherwise(F.lit(0.0))
    return s


def _distance_feature_score(body: dict) -> Column:
    """ES `distance_feature`: score = boost * pivot / (pivot + dist) —
    proximity ranking around an origin.  Numeric and date fields (dates
    score by absolute epoch-second distance; `pivot` then takes "<n>s/m/
    h/d" like fixed_interval).  Geo origins would go through the haversine
    in functions/geo.py — not wired, documented."""
    field = body.get("field")
    origin = body.get("origin")
    pivot = body.get("pivot")
    if field is None or origin is None or pivot is None:
        raise QueryDslError("distance_feature requires field, origin, pivot")
    boost = float(body.get("boost", 1.0))
    if isinstance(pivot, str) and pivot[-1:] in _FIXED_SECONDS:
        pivot_v = float(pivot[:-1]) * _FIXED_SECONDS[pivot[-1]]
        dist = F.abs(
            F.unix_timestamp(_resolve(field))
            - F.unix_timestamp(F.to_timestamp(F.lit(str(origin))))
        ).cast("double")
    else:
        pivot_v = float(pivot)
        dist = F.abs(_resolve(field).cast("double") - F.lit(float(origin)))
    return F.lit(boost) * F.lit(pivot_v) / (F.lit(pivot_v) + dist)


def compile_function_score(body: dict) -> tuple[Column, Column]:
    """ES `function_score` -> (match predicate, deterministic score
    Column).  The scoreless engine's documented semantics: the base query
    contributes matching only (its `_score` is the constant-filter 1.0),
    so `boost_mode` reduces to "the combined function value IS the score".

    Functions supported: `field_value_factor` (modifiers per ES, `log*`
    base-10), `script_score` (painless-lite, the runtime-fields compiler
    — `emit(...)` wrapping optional), and bare `weight`; each may carry a
    `filter` (query-DSL).  `score_mode` sum (default) or multiply — a
    filtered-out function contributes the neutral element (0 / 1), the
    flat rendering of ES excluding it from the combination.  Everything
    is a Column expression: scoring N billion rows is one codegen
    projection, and top-k by score a TakeOrderedAndProject."""
    inner = body.get("query", {"match_all": {}})
    pred = _compile_clause(inner, "_id")
    functions = body.get("functions")
    if functions is None:
        shorthand = {
            k: body[k]
            for k in (
                "field_value_factor", "script_score", "weight",
                "gauss", "exp", "linear", "rank_feature", "distance_feature",
            )
            if k in body
        }
        if not shorthand:
            raise QueryDslError("function_score needs functions or a function")
        functions = [shorthand]
    score_mode = str(body.get("score_mode", "sum")).lower()
    if score_mode not in ("sum", "multiply"):
        raise QueryDslError(f"unsupported score_mode {score_mode!r}")
    neutral = 0.0 if score_mode == "sum" else 1.0
    combined: Column | None = None
    for fn in functions:
        if "field_value_factor" in fn:
            s = _field_value_factor(fn["field_value_factor"])
        elif "rank_feature" in fn:
            s = _rank_feature_score(fn["rank_feature"])
        elif "distance_feature" in fn:
            s = _distance_feature_score(fn["distance_feature"])
        elif "gauss" in fn or "exp" in fn or "linear" in fn:
            kind = "gauss" if "gauss" in fn else ("exp" if "exp" in fn else "linear")
            s = _decay_function(kind, fn[kind])
        elif "script_score" in fn:
            from elasticsearch_hadoop_spark.runtime_fields import compile_script

            script = fn["script_score"].get("script", "")
            if isinstance(script, dict):
                script = script.get("source", "")
            script = str(script).strip()
            if not script.startswith("emit("):
                script = f"emit({script})"
            s = compile_script(script).cast("double")
        else:
            s = F.lit(1.0)
        if "weight" in fn:
            s = s * F.lit(float(fn["weight"]))
        if "filter" in fn:
            s = F.when(_compile_clause(fn["filter"], "_id"), s).otherwise(
                F.lit(neutral)
            )
        if combined is None:
            combined = s
        elif score_mode == "sum":
            combined = combined + s
        else:
            combined = combined * s
    if "min_score" in body:
        pred = pred & (combined >= F.lit(float(body["min_score"])))
    return pred, combined


def function_score(df, body: dict, score_col: str = "score"):
    """Apply a `function_score` body to a DataFrame: filter to the base
    query (+ min_score) and attach the deterministic score column —
    callers rank with orderBy(score desc, <tiebreak>).limit(k), which
    plans as a TakeOrderedAndProject."""
    pred, score = compile_function_score(body)
    return df.filter(pred).withColumn(score_col, score)


def _or_chain(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _multi_match(body, id_col):
    """ES `multi_match`: one query string over several fields.

    Predicate subset (documented — scores are out of scope repo-wide):
    - ``best_fields`` / ``most_fields``: OR over the per-field ``match``
      predicate.  The two types differ only in how per-field scores
      combine (max vs sum), so their *predicate* semantics are identical.
    - ``phrase``: OR over the per-field ``match_phrase`` predicate.
    - ``cross_fields``: term-centric — the fields act as one combined
      field.  With ``operator=and`` every query token must appear in at
      least ONE of the fields (ES's blended-term AND); with ``or``, any
      token in any field matches.
    Boost suffixes (``"text^3"``) parse and are ignored (score-only).
    """
    fields = [str(f).split("^")[0] for f in _as_list(body.get("fields"))]
    if not fields:
        raise QueryDslError("multi_match requires a non-empty fields list")
    value = str(body.get("query", ""))
    qtype = body.get("type", "best_fields")
    operator = str(body.get("operator", "or")).lower()
    msm = body.get("minimum_should_match")  # ES ignores it for phrase
    ztq = str(body.get("zero_terms_query", "none")).lower()
    if not py_standard_analyze(value):
        # zero analyzed tokens: MatchNoDocs / MatchAll, same as `match`
        # (the cross_fields operator=and branch would otherwise
        # vacuously match everything)
        return F.lit(ztq == "all")
    if qtype == "phrase":
        return _or_chain([_match_phrase({f: value}, id_col) for f in fields])
    if qtype == "phrase_prefix":
        return _or_chain(
            [_match_phrase_prefix({f: {"query": value}}, id_col) for f in fields]
        )
    if qtype == "bool_prefix":
        spec = {"query": value, "operator": operator}
        if msm is not None:
            spec["minimum_should_match"] = msm
        return _or_chain(
            [_match_bool_prefix({f: dict(spec)}, id_col) for f in fields]
        )
    if qtype == "cross_fields":
        qtokens = F.array_distinct(analyze_tokens(F.lit(value)))
        per_field = [
            F.coalesce(analyze_tokens(_resolve(f)), F.array().cast("array<string>"))
            for f in fields
        ]
        union = F.flatten(F.array(*per_field))
        if operator == "and":
            return F.size(F.array_except(qtokens, union)) == 0
        if msm is not None:
            n_tok = len(set(py_standard_analyze(value)))
            required = _msm_count(msm, n_tok, False)
            if required > n_tok:
                return F.lit(False)
            if required > 1:
                return F.size(F.array_intersect(union, qtokens)) >= required
        return F.arrays_overlap(union, qtokens)
    if qtype not in ("best_fields", "most_fields"):
        raise QueryDslError(f"unsupported multi_match type: {qtype!r}")
    spec = {"query": value, "operator": operator}
    if msm is not None:
        spec["minimum_should_match"] = msm
    return _or_chain([_match({f: dict(spec)}, id_col) for f in fields])


def _dis_max(body, id_col):
    """ES `dis_max`: a doc matches if ANY sub-query matches (the max-score
    combination is score-only; the predicate is the disjunction).
    ``tie_breaker`` parses and is ignored (score-only)."""
    queries = _as_list(body.get("queries"))
    if not queries:
        raise QueryDslError("dis_max requires a non-empty queries list")
    return _or_chain([_compile_clause(q, id_col) for q in queries])


def _boosting(body, id_col):
    """ES `boosting`: matches exactly the `positive` query; `negative` +
    `negative_boost` only DEMOTE the score of docs also matching the
    negative query — they never exclude.  Scores are out of scope, so the
    predicate is the positive clause verbatim (negative is compiled for
    validation, then discarded)."""
    positive = body.get("positive")
    if positive is None:
        raise QueryDslError("boosting requires a positive clause")
    if body.get("negative") is not None:
        _compile_clause(body["negative"], id_col)  # validate; score-only
    return _compile_clause(positive, id_col)


def _terms_set(body, id_col):
    """ES `terms_set` over an array column: matches when the number of
    DISTINCT supplied terms present in the field meets a per-document
    minimum, read from ``minimum_should_match_field`` (the ES-native form:
    each doc carries its own threshold) or a constant
    ``minimum_should_match``.  Pure Column math — array_intersect
    de-duplicates exactly like ES's unique-term counting."""
    (field, spec), = body.items()
    terms = _as_list(spec.get("terms"))
    if not terms:
        raise QueryDslError("terms_set requires a non-empty terms list")
    arr = _resolve(field)
    n_matched = F.size(F.array_intersect(arr, F.lit(terms)))
    if "minimum_should_match_field" in spec:
        required = _resolve(spec["minimum_should_match_field"]).cast("int")
    elif "minimum_should_match" in spec:
        required = F.lit(int(spec["minimum_should_match"]))
    else:
        raise QueryDslError(
            "terms_set requires minimum_should_match_field or minimum_should_match"
        )
    return n_matched >= required


def _match_bool_prefix(body, id_col):
    """ES `match_bool_prefix`: the analyzed tokens become a bool query —
    every token but the LAST matches as a term anywhere in the field, the
    last as a PREFIX of any doc token (no position constraint, unlike
    match_phrase_prefix).  operator / minimum_should_match compose the
    per-token clauses exactly like `match`."""
    field, value = _field_value(body)
    operator = "or"
    msm = None
    spec = body[next(iter(body))]
    if isinstance(spec, dict):
        value = spec.get("query", value)
        operator = str(spec.get("operator", "or")).lower()
        msm = spec.get("minimum_should_match")
    terms = py_standard_analyze(value)
    if not terms:
        return F.lit(False)  # Lucene MatchNoDocs on zero tokens

    def body_fn(toks: Column) -> Column:
        def _pref(last=terms[-1]):
            return lambda t: t.startswith(last)

        hits = [F.array_contains(toks, t) for t in terms[:-1]]
        hits.append(F.exists(toks, _pref()))
        if operator == "and":
            out = hits[0]
            for h in hits[1:]:
                out = out & h
            return out
        if msm is not None:
            required = _msm_count(msm, len(hits), False)
            if required > len(hits):
                return F.lit(False)
            if required > 1:
                n = hits[0].cast("int")
                for h in hits[1:]:
                    n = n + h.cast("int")
                return n >= required
        out = hits[0]
        for h in hits[1:]:
            out = out | h
        return out

    return _let(analyze_tokens(_resolve(field)), body_fn)


def _match_phrase_prefix(body, id_col):
    """ES `match_phrase_prefix`: the analyzed query tokens must appear
    consecutively in order, with the LAST token matched as a prefix of the
    document token at that position.  Compiles to a higher-order `exists`
    over candidate start offsets with positional F.get equality — no
    explode, stays in codegen.  (max_expansions is a Lucene rewrite cap
    with no analogue here: the prefix test is exact, so we are strictly
    more complete; parsed and ignored.)"""
    import re as _re

    field, value = _field_value(body)
    spec = body[next(iter(body))]
    if isinstance(spec, dict):
        value = spec.get("query", value)
    terms = py_standard_analyze(value)
    if not terms:
        # zero analyzed tokens: MatchNoDocs / MatchAll (zero_terms_query),
        # like `match` — Lucene never errors on an all-punctuation query
        ztq = "none"
        if isinstance(spec, dict):
            ztq = str(spec.get("zero_terms_query", "none")).lower()
        return F.lit(ztq == "all")
    n = len(terms)

    def _body(toks):
        # let-bound (see _let): each offset probe reads the variable, not
        # a re-inlined analyzer split
        sz = F.size(toks)

        def _at(i):
            conds = [F.get(toks, i + j) == F.lit(terms[j]) for j in range(n - 1)]
            conds.append(F.get(toks, i + (n - 1)).startswith(terms[-1]))
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out

        # sequence(a, b) DESCENDS when a > b, so gate on sz >= n first
        matched = F.when(
            sz >= n, F.exists(F.sequence(F.lit(0), sz - n), _at)
        ).otherwise(F.lit(False))
        return F.coalesce(matched, F.lit(False))

    return _let(analyze_tokens(_resolve(field)), _body)


def _simple_query_string(body, id_col):
    """ES `simple_query_string` — the documented operator subset:
    whitespace-separated terms, ``"quoted phrases"``, ``-`` negation,
    ``|`` OR, ``+`` AND, a trailing ``*`` prefix wildcard, over one or
    more fields (a unit matches if it matches ANY field).  ``(`` ``)``
    grouping and ``~N`` fuzziness are rejected, not misparsed.  Terms are
    analyzed with the standard analyzer on both sides, like `match`.
    Negated units are MUST_NOT clauses (Lucene SimpleQueryParser): the
    positive units combine under or/and, then every ``-`` unit excludes —
    even under ``default_operator=or``, ``beta -alpha`` never matches an
    alpha document; a query of only negations matches nothing."""
    import re as _re

    query = str(body.get("query", ""))
    fields = [str(f).split("^")[0] for f in _as_list(body.get("fields"))]
    if not fields:
        raise QueryDslError("simple_query_string requires a fields list")
    default_op = str(body.get("default_operator", "or")).lower()
    if any(ch in query for ch in "()~"):
        raise QueryDslError("simple_query_string: (), ~N not supported")

    # lex: quoted phrase | bare token | lone '|' / '+' connector
    units = _re.findall(r'-?"[^"]*"|\S+', query)
    pred, pending_op = None, default_op
    neg = None

    def _unit_pred(u: str) -> Column | None:
        if u.startswith('"') and u.endswith('"') and len(u) >= 2:
            per_field = [_match_phrase({f: u[1:-1]}, id_col) for f in fields]
        elif "|" in u or "+" in u:
            # unspaced operator forms ("foo|bar") would silently analyze
            # to a multi-token term — reject instead of misparse
            raise QueryDslError(f"simple_query_string: use spaced operators, got {u!r}")
        elif u.endswith("*"):
            stem = u[:-1].lower()
            per_field = [
                F.exists(analyze_tokens(_resolve(f)), lambda t: t.startswith(stem))
                for f in fields
            ]
        elif not u:
            return None  # a lone '-' analyzes to nothing; drop the unit
        else:
            term = u.lower()
            per_field = [
                F.array_contains(analyze_tokens(_resolve(f)), term) for f in fields
            ]
        return F.coalesce(_or_chain(per_field), F.lit(False))

    for u in units:
        if u == "|":
            pending_op = "or"
            continue
        if u == "+":
            pending_op = "and"
            continue
        if u.startswith("-"):
            # Lucene SimpleQueryParser: a '-' unit is MUST_NOT at the
            # boolean level, NOT an operand of the pending or/and — with
            # default_operator=or, "beta -alpha" still EXCLUDES alpha
            # docs (ES semantics), it does not or-in their complement
            p = _unit_pred(u[1:])
            if p is not None:
                neg = p if neg is None else (neg | p)
            pending_op = default_op
            continue
        p = _unit_pred(u)
        if p is None:
            continue
        if pred is None:
            pred = p
        elif pending_op == "or":
            pred = pred | p
        else:
            pred = pred & p
        pending_op = default_op
    if pred is None:
        if neg is not None:
            return F.lit(False)  # pure-negative boolean matches nothing
        raise QueryDslError("simple_query_string: empty query")
    return pred if neg is None else pred & ~neg


# ---------------------------------------------------------------------------
# query_string: the full Lucene-syntax parser (the `?q=` veneer above stays
# the minimal fast path; this handler covers the search-body `query_string`
# clause).  Supported syntax: field:term, field:"phrase" (+ ~N slop),
# field:wild*card, field:/regex/, inclusive/exclusive/mixed ranges
# [a TO b] {a TO b*}, comparison shorthands (field:>5), _exists_:field,
# AND/OR/&&/||/NOT/!, +must / -must_not prefixes, parentheses, and
# field-scoped groups field:(a OR b).  Boost suffixes (^2) parse and are
# ignored (scoreless engine, README non-goal); term~N compiles to `fuzzy`.
# Bare terms need default_field / fields (no _all column in a columnar
# store — same rule as the URI veneer); with a fields LIST a bare term is
# the OR across them, ES's multi-field expansion.

_QS_TOKEN = re.compile(
    r"""\s+
      | \(|\)
      | "(?:[^"\\]|\\.)*"(?:~\d+)?
      | /(?:[^/\\]|\\.)*/
      | [\[\{][^\]\}]*[\]\}]
      | \|\||&&|!
      | [^\s()!\[\]{}"/]+
      | \S
    """,
    re.X,
)


class _QsParser:
    def __init__(self, query: str, default_fields: list[str], default_op: str, id_col: str):
        self.toks = [t for t in _QS_TOKEN.findall(query) if t.strip()]
        self.pos = 0
        self.fields = default_fields
        self.default_op = default_op
        self.id_col = id_col

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    # grammar: or_expr := and_expr ((OR||) and_expr)*
    #          and_expr := unary ((AND&&) unary | unary)*   (adjacency -> default_op)
    #          unary := (NOT|!|-|+)* primary
    #          primary := '(' or_expr ')' | leaf
    def parse(self) -> Column:
        out = self.or_expr(None)
        if self.peek() is not None:
            raise QueryDslError(f"query_string: unexpected {self.peek()!r}")
        return out

    def or_expr(self, scope: str | None) -> Column:
        left = self.and_expr(scope)
        while self.peek() in ("OR", "||"):
            self.next()
            left = left | self.and_expr(scope)
        return left

    def and_expr(self, scope: str | None) -> Column:
        left = self.unary(scope)
        while True:
            t = self.peek()
            if t in ("AND", "&&"):
                self.next()
                left = left & self.unary(scope)
            elif t is not None and t not in ("OR", "||", ")"):
                nxt = self.unary(scope)
                left = (left & nxt) if self.default_op == "and" else (left | nxt)
            else:
                return left

    def unary(self, scope: str | None) -> Column:
        t = self.peek()
        if t in ("NOT", "!"):
            self.next()
            return ~self.unary(scope)
        if t is not None and t not in ("(",) and t.startswith("-") and len(t) > 1:
            self.toks[self.pos] = t[1:]
            return ~self.unary(scope)
        if t is not None and t.startswith("+") and len(t) > 1:
            self.toks[self.pos] = t[1:]
            return self.unary(scope)
        return self.primary(scope)

    def primary(self, scope: str | None) -> Column:
        t = self.next()
        if t is None:
            raise QueryDslError("query_string: unexpected end of input")
        if t == "(":
            inner = self.or_expr(scope)
            if self.next() != ")":
                raise QueryDslError("query_string: missing )")
            return inner
        # field prefix?  split at the first ':' of a WORD token (quoted /
        # range / regex tokens never carry one)
        if not (t.startswith('"') or t.startswith("/") or t[0] in "[{") and ":" in t:
            field, rest = t.split(":", 1)
            if field == "_exists_":
                return _resolve(rest).isNotNull()
            if rest == "":
                nxt = self.peek()
                if nxt == "(":  # field-scoped group: field:(a OR b)
                    self.next()
                    inner = self.or_expr(field)
                    if self.next() != ")":
                        raise QueryDslError("query_string: missing )")
                    return inner
                rest = self.next()
                if rest is None:
                    raise QueryDslError(f"query_string: dangling field {field!r}:")
            return self.leaf(field, rest)
        if scope is not None:
            return self.leaf(scope, t)
        if not self.fields:
            raise QueryDslError(
                f"query_string: bare term {t!r} needs default_field/fields "
                "(no _all field in a columnar store)"
            )
        preds = [self.leaf(f, t) for f in self.fields]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    def leaf(self, field: str, tok: str) -> Column:
        # strip an ignored boost suffix (^2 / ^0.5)
        m = re.match(r"^(.*?)\^\d+(?:\.\d+)?$", tok)
        if m and not tok.startswith('"'):
            tok = m.group(1)
        if tok.startswith('"'):
            pm = re.match(r'^"((?:[^"\\]|\\.)*)"(?:~(\d+))?$', tok)
            if not pm:
                raise QueryDslError(f"query_string: bad phrase {tok!r}")
            phrase, slop = pm.group(1), pm.group(2)
            body = {"query": phrase}
            if slop:
                body["slop"] = int(slop)
            return _compile_clause({"match_phrase": {field: body}}, self.id_col)
        if tok.startswith("/") and tok.endswith("/") and len(tok) > 1:
            return _compile_clause({"regexp": {field: tok[1:-1]}}, self.id_col)
        if tok[0] in "[{" and tok[-1] in "]}":
            rm = re.match(r"^([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])$", tok)
            if not rm:
                raise QueryDslError(f"query_string: bad range {tok!r}")
            lo_op = "gte" if rm.group(1) == "[" else "gt"
            hi_op = "lte" if rm.group(4) == "]" else "lt"
            bounds: dict = {}
            if rm.group(2) != "*":
                bounds[lo_op] = _qs_literal(rm.group(2))
            if rm.group(3) != "*":
                bounds[hi_op] = _qs_literal(rm.group(3))
            if not bounds:
                return _resolve(field).isNotNull()
            return _compile_clause({"range": {field: bounds}}, self.id_col)
        cm = re.match(r"^(>=|<=|>|<)(.+)$", tok)
        if cm:
            op = {">": "gt", ">=": "gte", "<": "lt", "<=": "lte"}[cm.group(1)]
            return _compile_clause(
                {"range": {field: {op: _qs_literal(cm.group(2))}}}, self.id_col
            )
        fm = re.match(r"^(.+?)~(\d*)$", tok)
        if fm:
            body = {"value": fm.group(1)}
            if fm.group(2):
                body["fuzziness"] = int(fm.group(2))
            return _compile_clause({"fuzzy": {field: body}}, self.id_col)
        if "*" in tok or "?" in tok:
            return _compile_clause({"wildcard": {field: tok}}, self.id_col)
        lit = _qs_literal(tok)
        if isinstance(lit, (int, float)):
            return _resolve(field) == F.lit(lit)
        return _compile_clause({"match": {field: tok}}, self.id_col)


def _qs_literal(s: str):
    """Numeric-looking literals compare as numbers (ES numeric fields);
    everything else stays a string."""
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _intervals(body, id_col):
    """ES `intervals` query — the documented deterministic subset over
    analyzed token positions:

    - leaf ``match``: single term -> presence; multi-term with
      ``ordered: true`` -> increasing position chain with total gap
      (span - n + 1... span-(n-1)) <= ``max_gaps`` when >= 0 (ES default
      -1 = unlimited); unordered -> all terms present (unordered WITH a
      max_gaps budget is Lucene minimal-interval territory — rejected,
      not approximated);
    - ``all_of``: ``ordered: true`` chains its (single-term ``match``)
      sub-intervals with the same gap budget; unordered = conjunction;
    - ``any_of``: disjunction of sub-rules.

    Everything is per-term position arrays + nested ``exists`` — the
    same codegen shape as match_phrase slop; no explode, no UDF."""
    (field, rule), = body.items()
    # toks is LET-BOUND below (_let): every positions() probe reads the
    # lambda variable instead of a re-inlined analyzer split (the same
    # O(n^2)-splits trap the span compiler guards against)
    _toks_box: list = [None]

    def positions(term: str):
        toks = _toks_box[0]
        return F.filter(
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda i: F.get(toks, i) == F.lit(term),
        )

    def terms_of(q) -> list[str]:
        ts = py_standard_analyze(q)
        if not ts:
            raise QueryDslError("intervals: empty match query")
        return ts

    def chain_exists(pos, max_gaps: int) -> Column:
        n = len(pos)
        if n == 1:
            return F.size(pos[0]) > 0

        def chain(level: int, prev, first):
            if level == n - 1:
                return F.exists(
                    pos[level],
                    lambda p: (p > prev)
                    & (
                        F.lit(True)
                        if max_gaps < 0
                        else (p - first - (n - 1) <= max_gaps)
                    ),
                )
            return F.exists(
                pos[level], lambda p: (p > prev) & chain(level + 1, p, first)
            )

        return F.coalesce(F.exists(pos[0], lambda p: chain(1, p, p)), F.lit(False))

    def compile_rule(rule: dict) -> Column:
        if not isinstance(rule, dict) or len(rule) != 1:
            raise QueryDslError(f"intervals: expected a single-key rule, got {rule!r}")
        (kind, spec), = rule.items()
        if kind == "match":
            ts = terms_of(spec.get("query"))
            mg = int(spec.get("max_gaps", -1))
            pos = [positions(t) for t in ts]
            if len(ts) == 1:
                return F.size(pos[0]) > 0
            if bool(spec.get("ordered", False)):
                return chain_exists(pos, mg)
            if mg >= 0:
                raise QueryDslError(
                    "intervals: unordered match with max_gaps is not supported "
                    "(documented subset)"
                )
            # unordered: every term present, repeated terms needing as many
            # distinct positions as their multiplicity
            from collections import Counter

            out = None
            for t, mult in Counter(ts).items():
                cond = F.size(positions(t)) >= mult
                out = cond if out is None else out & cond
            return out
        if kind == "any_of":
            subs = [compile_rule(r) for r in spec.get("intervals", [])]
            if not subs:
                raise QueryDslError("intervals: any_of needs intervals")
            out = subs[0]
            for s in subs[1:]:
                out = out | s
            return out
        if kind == "all_of":
            rules = spec.get("intervals", [])
            if not rules:
                raise QueryDslError("intervals: all_of needs intervals")
            mg = int(spec.get("max_gaps", -1))
            if bool(spec.get("ordered", False)):
                pos = []
                for r in rules:
                    (k2, s2), = r.items()
                    ts = terms_of(s2.get("query")) if k2 == "match" else None
                    if k2 != "match" or len(ts) != 1:
                        raise QueryDslError(
                            "intervals: ordered all_of supports single-term "
                            "match sub-intervals (documented subset)"
                        )
                    pos.append(positions(ts[0]))
                return chain_exists(pos, mg)
            if mg >= 0:
                raise QueryDslError(
                    "intervals: unordered all_of with max_gaps is not supported "
                    "(documented subset)"
                )
            out = compile_rule(rules[0])
            for r in rules[1:]:
                out = out & compile_rule(r)
            return out
        raise QueryDslError(f"intervals: unsupported rule {kind!r}")

    def _body(toks):
        _toks_box[0] = toks
        return compile_rule(rule)

    return _let(analyze_tokens(_resolve(field)), _body)


def _query_string(body, id_col):
    if isinstance(body, str):
        body = {"query": body}
    q = body.get("query")
    if not q:
        raise QueryDslError("query_string needs a query")
    fields = body.get("fields")
    if fields is None:
        df_field = body.get("default_field")
        fields = [df_field] if df_field else []
    default_op = str(body.get("default_operator", "or")).lower()
    if default_op not in ("or", "and"):
        raise QueryDslError(f"query_string: bad default_operator {default_op!r}")
    return _QsParser(str(q), list(fields), default_op, id_col).parse()


def _script_query(body, id_col):
    """ES `script` query: a painless-lite boolean over doc[...] refs runs
    as a codegen predicate — {"script": {"script": {"source": ...}}} (or
    either shorter form)."""
    from elasticsearch_hadoop_spark.runtime_fields import compile_script

    script = body.get("script", body)
    if isinstance(script, dict):
        script = script.get("source", script.get("script", ""))
    if isinstance(script, dict):
        script = script.get("source", "")
    script = str(script).strip()
    if not script.startswith("emit("):
        script = f"emit({script})"
    return compile_script(script).cast("boolean")


def _wrapper(body, id_col):
    """ES `wrapper` query: base64-encoded JSON, decoded and recursed —
    the connector passes these through opaquely; here the inner query
    compiles like any other clause."""
    import base64
    import json

    try:
        raw = base64.b64decode(str(body.get("query", "")), validate=True)
        inner = json.loads(raw.decode("utf-8"))
    except Exception as e:
        raise QueryDslError(f"wrapper: invalid base64/JSON payload: {e}") from e
    return _compile_clause(inner, id_col)


def _pinned(body, id_col):
    """ES `pinned` query, filter semantics: promoted ids OR the organic
    query.  The promoted-first ORDERING is presentation — rank with
    search.pinned_order (pinned docs above organic, organic order kept)."""
    ids = list(body.get("ids", []))
    organic = _compile_clause(body.get("organic", {"match_all": {}}), id_col)
    if not ids:
        return organic
    return F.col(id_col).isin(ids) | organic


# ---------------------------------------------------------------------------
# Span queries (Lucene SpanQuery family) — position-aware matching as pure
# Column math.  Every span clause compiles to array<struct<s:int,e:int>>
# over the field's analyzed token positions (start inclusive, end
# exclusive, like Lucene Spans); the top-level predicate is
# size(spans) > 0.  The arrays are per-document positions of a handful of
# query terms, so the nested transforms stay tiny and everything remains
# inside whole-stage codegen — no explode, no UDF.
#
# Documented subset: span_near with in_order=false matches n clauses
# (<= 8) as pairwise non-overlapping spans whose bounding window fits the
# slop budget (Lucene's NearSpansUnordered interleaving is
# out of scope), and span gaps follow Lucene's "intervening unmatched
# positions" accounting.  All clauses in one span tree must target the
# same field (ES rejects mixed fields too — field_masking_span exists
# precisely to bypass that check, and here simply delegates inward).


def _let(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per row
    and reuse it through a lambda variable.  Without it Catalyst re-inlines
    the producing expression (here: the analyzer's regex split) into every
    consumer — position probes over an n-token doc would re-split the text
    O(n) times per span leaf (measured: the span_near bench query dropped
    85s -> ~1s at sf0.1 with the binding)."""
    return F.transform(F.array(value), body).getItem(0)


def _span_positions(toks: Column, pred) -> Column:
    """Positions i where pred(token_i) holds — same index-filter trick as
    _sloppy_phrase (empty arrays degrade safely: F.get returns NULL)."""
    return F.filter(F.sequence(F.lit(0), F.size(toks) - 1), lambda i: pred(F.get(toks, i)))


def _spans_of_positions(pos: Column) -> Column:
    return F.transform(pos, lambda p: F.struct(p.alias("s"), (p + 1).alias("e")))


def _span_fields(clause: dict, acc: set) -> None:
    """Collect the field(s) a span tree targets (for the one-field check
    and the per-tree token let-binding)."""
    if not isinstance(clause, dict) or len(clause) != 1:
        raise QueryDslError(f"expected a single-key span clause, got: {clause!r}")
    (kind, body), = clause.items()
    if kind == "span_term":
        acc.add(_field_value(body)[0])
    elif kind == "span_multi":
        (_, ibody), = body["match"].items()
        acc.add(_field_value(ibody)[0])
    elif kind == "field_masking_span":
        _span_fields(body["query"], acc)
    elif kind in ("span_or", "span_near"):
        for c in body.get("clauses", []):
            _span_fields(c, acc)
    elif kind == "span_first":
        _span_fields(body["match"], acc)
    elif kind == "span_not":
        _span_fields(body["include"], acc)
        _span_fields(body["exclude"], acc)
    elif kind in ("span_containing", "span_within"):
        _span_fields(body["big"], acc)
        _span_fields(body["little"], acc)


def _span_required_terms(clause: dict):
    """Two-phase match, Lucene-style: a conservative NECESSARY condition
    for the span tree as a boolean formula over literal substrings of
    ``lower(text)``.  A span_term match on token t implies lower(text)
    contains t (the analyzer only splits + lowercases); prefix likewise.
    Returns a nested or/and structure of term strings, or None = "no
    cheap guard" (wildcard/regexp/fuzzy leaves).  The compiled guard is
    pure codegen'd substring math, so the expensive position HOFs only
    evaluate on candidate documents — the same approximation/verify
    split as Lucene's TwoPhaseIterator."""
    (kind, body), = clause.items()
    if kind == "span_term":
        return ("term", str(_field_value(body)[1]).lower())
    if kind == "span_multi":
        (ikind, ibody), = body["match"].items()
        if ikind == "prefix":
            return ("term", str(_field_value(ibody)[1]).lower())
        return None  # wildcard/regexp/fuzzy: no substring is implied
    if kind == "field_masking_span":
        return _span_required_terms(body["query"])
    if kind == "span_or":
        subs = [_span_required_terms(c) for c in body.get("clauses", [])]
        if any(s is None for s in subs) or not subs:
            return None  # one unguardable alternative voids the guard
        return ("or", subs)
    if kind in ("span_near", "span_containing", "span_within"):
        if kind == "span_near":
            subs = [_span_required_terms(c) for c in body.get("clauses", [])]
        else:
            subs = [_span_required_terms(body["big"]),
                    _span_required_terms(body["little"])]
        subs = [s for s in subs if s is not None]  # AND: drop unknowns
        if not subs:
            return None
        return ("and", subs)
    if kind == "span_first":
        return _span_required_terms(body["match"])
    if kind == "span_not":
        return _span_required_terms(body["include"])  # exclude can't require
    return None


def _span_guard_col(req, lowered: Column) -> Column:
    op = req[0]
    if op == "term":
        return lowered.contains(req[1])
    cols = [_span_guard_col(s, lowered) for s in req[1]]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if op == "and" else (out | c)
    return out


# Driver-side plan-size guard: each ordered span_near clause adds one
# nested transform/filter level to the fold, so expression size (and the
# one-time Catalyst/eval-path cost) grows linearly but steeply with the
# clause count.  Lucene queries in the wild are a handful of terms; cap
# the expansion before someone compiles a pathological tree.  ES's own
# cap (indices.query.bool.max_clause_count) is far higher, so the limit
# is configurable (ADVICE r5): set_span_near_max_clauses or the
# SPARK_GRAFT_SPAN_NEAR_MAX_CLAUSES env var raise it for users who
# accept the plan-size cost.
_SPAN_NEAR_DEFAULT_MAX_CLAUSES = 64
# unordered near enumerates the combination PRODUCT of per-clause span
# sets (no sound mid-fold pruning) — cap much tighter than the ordered
# fold's linear levels
_SPAN_NEAR_UNORDERED_MAX_CLAUSES = 8
_span_near_max_clauses: int | None = None


def set_span_near_max_clauses(n: int) -> None:
    """Override the span_near clause cap for this process (>= 2)."""
    global _span_near_max_clauses
    if n < 2:
        raise ValueError("span_near cap must be >= 2")
    _span_near_max_clauses = n


def get_span_near_max_clauses() -> int:
    if _span_near_max_clauses is not None:
        return _span_near_max_clauses
    import os

    try:
        return int(
            os.environ.get(
                "SPARK_GRAFT_SPAN_NEAR_MAX_CLAUSES",
                _SPAN_NEAR_DEFAULT_MAX_CLAUSES,
            )
        )
    except ValueError:
        return _SPAN_NEAR_DEFAULT_MAX_CLAUSES


def _span_compile(clause: dict, toks: Column | None = None) -> Column:
    if not isinstance(clause, dict) or len(clause) != 1:
        raise QueryDslError(f"expected a single-key span clause, got: {clause!r}")
    (kind, body), = clause.items()
    if kind == "span_term":
        field, value = _field_value(body)
        if toks is None:
            toks = analyze_tokens(_resolve(field))
        term = str(value).lower()  # index side is analyzed (lowercased)

        def _eq(t):
            return t == F.lit(term)

        return _spans_of_positions(_span_positions(toks, _eq))
    if kind == "field_masking_span":
        # field masking exists to defeat the same-field check upstream;
        # positions here are per-column anyway, so it delegates inward
        return _span_compile(body["query"], toks)
    if kind == "span_multi":
        (ikind, ibody), = body["match"].items()
        field, value = _field_value(ibody)
        if toks is None:
            toks = analyze_tokens(_resolve(field))
        v = str(value).lower()
        if ikind == "prefix":
            pred = lambda t: t.startswith(v)
        elif ikind == "wildcard":
            pat = "".join(
                ".*" if ch == "*" else "." if ch == "?" else re.escape(ch) for ch in v
            )
            pred = lambda t: t.rlike(f"^{pat}$")
        elif ikind == "regexp":
            pred = lambda t: t.rlike(f"^(?:{v})$")
        elif ikind == "fuzzy":
            spec = ibody[next(iter(ibody))] if isinstance(ibody, dict) else None
            fz = spec.get("fuzziness", "AUTO") if isinstance(spec, dict) else "AUTO"
            if isinstance(fz, str):
                if fz.upper() != "AUTO":
                    raise QueryDslError(f"unsupported fuzziness: {fz!r}")
                fz = 0 if len(v) < 3 else (1 if len(v) < 6 else 2)
            maxed = int(fz)
            pred = lambda t: F.levenshtein(t, F.lit(v)) <= F.lit(maxed)
        else:
            raise QueryDslError(f"span_multi: unsupported inner query {ikind!r}")
        return _spans_of_positions(_span_positions(toks, pred))
    if kind == "span_or":
        arrs = [_span_compile(c, toks) for c in body["clauses"]]
        if not arrs:
            raise QueryDslError("span_or needs clauses")
        return F.array_distinct(F.concat(*arrs)) if len(arrs) > 1 else arrs[0]
    if kind == "span_first":
        inner = _span_compile(body["match"], toks)
        end = int(body["end"])
        return F.filter(inner, lambda sp: sp["e"] <= F.lit(end))
    if kind == "span_not":
        inc = _span_compile(body["include"], toks)
        exc = _span_compile(body["exclude"], toks)
        dist = int(body.get("dist", 0))
        pre = int(body.get("pre", dist))
        post = int(body.get("post", dist))

        def _clear(sp):
            return ~F.coalesce(
                F.exists(
                    exc,
                    lambda x: (x["s"] < sp["e"] + post) & (x["e"] > sp["s"] - pre),
                ),
                F.lit(False),
            )

        return F.filter(inc, _clear)
    if kind in ("span_containing", "span_within"):
        big = _span_compile(body["big"], toks)
        little = _span_compile(body["little"], toks)
        if kind == "span_containing":
            return F.filter(
                big,
                lambda b: F.exists(
                    little, lambda l: (l["s"] >= b["s"]) & (l["e"] <= b["e"])
                ),
            )
        return F.filter(
            little,
            lambda l: F.exists(big, lambda b: (l["s"] >= b["s"]) & (l["e"] <= b["e"])),
        )
    if kind == "span_near":
        clauses = body.get("clauses", [])
        cap = get_span_near_max_clauses()
        if len(clauses) > cap:
            raise QueryDslError(
                f"span_near with {len(clauses)} clauses exceeds the "
                f"configured maximum of {cap} (the ordered fold grows one "
                "nested transform level per clause; raise it with "
                "set_span_near_max_clauses or "
                "SPARK_GRAFT_SPAN_NEAR_MAX_CLAUSES)"
            )
        sub = [_span_compile(c, toks) for c in clauses]
        if len(sub) < 2:
            raise QueryDslError("span_near needs >= 2 clauses")
        slop = int(body.get("slop", 0))
        in_order = bool(body.get("in_order", False))
        strip = lambda arr: F.transform(
            arr, lambda a: F.struct(a["s"].alias("s"), a["e"].alias("e"))
        )
        if in_order:
            # left fold with accumulated gap g (total intervening
            # positions so far); the slop budget prunes at every step, so
            # candidate arrays shrink monotonically
            acc = F.transform(
                sub[0],
                lambda sp: F.struct(
                    sp["s"].alias("s"), sp["e"].alias("e"), F.lit(0).alias("g")
                ),
            )
            for nxt in sub[1:]:
                def _extend(a, _n=nxt):
                    # _n binds the loop's clause at def time; the lambda
                    # handed to PySpark below stays arity-1 (the
                    # _sloppy_phrase arity gotcha)
                    return F.transform(
                        F.filter(
                            _n,
                            lambda b: (b["s"] >= a["e"])
                            & (a["g"] + b["s"] - a["e"] <= F.lit(slop)),
                        ),
                        lambda b: F.struct(
                            a["s"].alias("s"),
                            b["e"].alias("e"),
                            (a["g"] + b["s"] - a["e"]).alias("g"),
                        ),
                    )

                acc = F.flatten(F.transform(acc, lambda a: _extend(a)))
            return F.array_distinct(strip(acc))
        # unordered n-way: pick one span per clause, pairwise
        # NON-OVERLAPPING (the same rule the former 2-clause subset
        # documented, now generalized); the window [min s, max e] must
        # have gap = window length - sum of span lengths <= slop.  The
        # fold carries the chosen spans (`sel`) because the bounding
        # window alone cannot check pairwise overlap — a later span may
        # legally sit in a gap INSIDE the current window, which also
        # means the gap can shrink as spans fill holes, so no slop
        # pruning is sound before the final filter.  Cost is the product
        # of the clause span-set sizes — hence the tighter clause cap.
        if len(sub) > _SPAN_NEAR_UNORDERED_MAX_CLAUSES:
            raise QueryDslError(
                f"span_near in_order=false with {len(sub)} clauses exceeds "
                f"{_SPAN_NEAR_UNORDERED_MAX_CLAUSES}: the unordered match "
                "enumerates the combination product of per-clause span "
                "sets (no mid-fold slop pruning is sound)"
            )
        acc = F.transform(
            sub[0],
            lambda sp: F.struct(
                sp["s"].alias("s"),
                sp["e"].alias("e"),
                (sp["e"] - sp["s"]).alias("len"),
                F.array(F.struct(sp["s"].alias("s"), sp["e"].alias("e"))).alias("sel"),
            ),
        )
        for nxt in sub[1:]:
            def _extend_u(a, _n=nxt):
                # _n binds at def time; every lambda stays arity-1
                return F.transform(
                    F.filter(
                        _n,
                        lambda b: F.forall(
                            a["sel"],
                            lambda sp: (b["s"] >= sp["e"]) | (b["e"] <= sp["s"]),
                        ),
                    ),
                    lambda b: F.struct(
                        F.least(a["s"], b["s"]).alias("s"),
                        F.greatest(a["e"], b["e"]).alias("e"),
                        (a["len"] + (b["e"] - b["s"])).alias("len"),
                        F.concat(
                            a["sel"],
                            F.array(F.struct(b["s"].alias("s"), b["e"].alias("e"))),
                        ).alias("sel"),
                    ),
                )

            acc = F.flatten(F.transform(acc, lambda a: _extend_u(a)))
        kept = F.filter(acc, lambda c: (c["e"] - c["s"] - c["len"]) <= F.lit(slop))
        return F.array_distinct(strip(kept))
    raise QueryDslError(f"unsupported span clause: {kind}")


def _span_predicate(kind):
    def handler(body, id_col):
        clause = {kind: body}
        fields: set = set()
        _span_fields(clause, fields)
        if len(fields) != 1:
            raise QueryDslError(
                f"a span tree must target exactly one field, got {sorted(fields)}"
            )
        (field,) = fields
        # bind the analyzed token array ONCE per row: every position probe
        # then reads the lambda variable instead of re-running the
        # analyzer's regex split (the O(n^2)-splits trap)
        def _build(t):
            spans = _span_compile(clause, toks=t)
            return F.coalesce(F.size(spans) > 0, F.lit(False))

        pred = _let(analyze_tokens(_resolve(field)), _build)
        # two-phase match: prepend the cheap substring guard when the
        # tree implies one — And short-circuits in both codegen and
        # interpreted eval, so non-candidate documents never pay for the
        # tokenize + position HOFs (guard is a strict superset of the
        # exact predicate, so the conjunction is semantics-preserving)
        req = _span_required_terms(clause)
        if req is not None:
            guard = _let(
                F.lower(_resolve(field)), lambda lt: _span_guard_col(req, lt)
            )
            pred = F.coalesce(guard, F.lit(False)) & pred
        return pred

    return handler


_HANDLERS = {
    "query_string": _query_string,
    "intervals": _intervals,
    # ES combined_fields: term-centric match over several fields treated
    # as one (BM25F-combined scoring upstream); predicate-wise identical
    # to multi_match cross_fields, so it delegates
    "combined_fields": lambda body, id_col: _multi_match(
        {
            "fields": body.get("fields"),
            "query": body.get("query"),
            "type": "cross_fields",
            "operator": body.get("operator", "or"),
        },
        id_col,
    ),
    "script": _script_query,
    "wrapper": _wrapper,
    "pinned": _pinned,
    "geo_distance": _geo_distance,
    "geo_bounding_box": _geo_bounding_box,
    "geo_polygon": _geo_polygon,
    "geo_grid": _geo_grid,
    "geo_shape": _geo_shape,
    "term": _term,
    "terms": _terms,
    "range": _range,
    "exists": _exists,
    "prefix": _prefix,
    "wildcard": _wildcard,
    "regexp": _regexp,
    "ids": _ids,
    "match": _match,
    "match_phrase": _match_phrase,
    "match_phrase_prefix": _match_phrase_prefix,
    "match_bool_prefix": _match_bool_prefix,
    "match_all": _match_all,
    "match_none": lambda body, id_col: F.lit(False),
    "multi_match": _multi_match,
    "dis_max": _dis_max,
    "boosting": _boosting,
    "terms_set": _terms_set,
    "simple_query_string": _simple_query_string,
    "bool": _bool,
    "fuzzy": _fuzzy,
    "constant_score": _constant_score,
    "nested": _nested,
    "more_like_this": _more_like_this,
    # scoring queries: as bare predicates they match docs carrying the
    # feature (rank_feature: positive feature, like ES; distance_feature:
    # non-null field); use them inside function_score functions for the
    # score column
    "rank_feature": lambda body, id_col: (
        _resolve(body["field"]).isNotNull()
        & (_resolve(body["field"]).cast("double") > 0)
    ),
    "distance_feature": lambda body, id_col: _resolve(body["field"]).isNotNull(),
    # as a bare predicate, function_score matches its base query (+
    # min_score gate); use query_dsl.function_score for the score column
    "function_score": lambda body, id_col: compile_function_score(body)[0],
    # Lucene span family: position-aware predicates over analyzed token
    # positions (see _span_compile above)
    "span_term": _span_predicate("span_term"),
    "span_multi": _span_predicate("span_multi"),
    "span_or": _span_predicate("span_or"),
    "span_first": _span_predicate("span_first"),
    "span_not": _span_predicate("span_not"),
    "span_near": _span_predicate("span_near"),
    "span_containing": _span_predicate("span_containing"),
    "span_within": _span_predicate("span_within"),
    "field_masking_span": _span_predicate("field_masking_span"),
}


def _needs_frame(kind: str):
    def handler(body, id_col):
        raise QueryDslError(
            f"{kind} relates rows to other rows and cannot compile to a "
            "Column predicate; use operators.parent_child."
            f"{'search_join_index' if kind != 'parent_id' else 'parent_id'} "
            "over a join-field frame"
        )

    return handler


# parent-child (`join` field) clauses need frame-level semi-joins —
# handled by operators/parent_child.py, rejected here with a pointer
for _k in ("has_child", "has_parent", "parent_id"):
    _HANDLERS[_k] = _needs_frame(_k)


def _sparse_vector(body, id_col):
    """ES ``sparse_vector`` (ELSER) as a predicate: the doc's
    map<string,double> token-weight field shares at least one token with
    the query expansion (ES matches any overlap; ranking uses
    functions.similarity.sparse_dot for the score column)."""
    field = body["field"]
    qw = body.get("query_vector") or body.get("tokens")
    if not isinstance(qw, dict) or not qw:
        raise QueryDslError("sparse_vector needs query_vector: {token: weight}")
    return _or_chain(
        [F.map_contains_key(_resolve(field), F.lit(t)) for t in qw]
    )


_HANDLERS["sparse_vector"] = _sparse_vector


def explain_query(df, query: str | dict, id_col: str = "_id"):
    """ES ``_explain``, the boolean-evidence subset: per-clause verdict
    columns plus the final ``matched`` — which arm of a ``bool`` did or
    didn't hold for each document.  (ES's response also carries BM25
    score breakdowns; this engine is scoreless by design — the
    clause-verdict half is the part that answers "why did/didn't this
    doc match".)  One projection, every verdict in codegen."""
    if isinstance(query, str):
        query = json.loads(query)
    if "query" in query and set(query) == {"query"}:
        query = query["query"]
    (kind, body), = query.items()
    cols = []
    if kind == "bool":
        for arm in ("must", "filter", "should", "must_not"):
            for i, clause in enumerate(_as_list(body.get(arm))):
                verdict = F.coalesce(
                    _compile_clause(clause, id_col), F.lit(False)
                )
                if arm == "must_not":
                    verdict = ~verdict
                cols.append(verdict.alias(f"{arm}_{i}"))
    else:
        cols.append(
            F.coalesce(_compile_clause(query, id_col), F.lit(False)).alias(
                f"{kind}_0"
            )
        )
    matched = F.coalesce(compile_query({kind: body}, id_col=id_col), F.lit(False))
    return df.select("*", *cols, matched.alias("matched"))


def column_text(col) -> str:
    """The compiled expression text of a Column, without the Python repr
    wrapper — ``str(col)`` yields ``Column<'(expr)'>``; explanation
    artifacts should carry only ``(expr)`` (ADVICE r10)."""
    s = str(col)
    m = re.fullmatch(r"Column<'(.*)'>", s, flags=re.DOTALL)
    return m.group(1) if m else s


def validate_query(query: str | dict, id_col: str = "_id") -> dict:
    """ES ``_validate/query``: compile without running — ``{"valid": bool,
    "error": str | None}`` (with explain=true ES also returns the rewritten
    query; the compiled predicate's expression text serves that role
    here)."""
    try:
        col = compile_query(query, id_col=id_col)
        return {"valid": True, "error": None, "explanation": column_text(col)}
    except (QueryDslError, ValueError, KeyError, TypeError) as e:
        return {"valid": False, "error": str(e), "explanation": None}
