"""ES|QL — the piped query language (ES 8.11+) compiled to DataFrame ops.

ES|QL is Elastic's from-scratch query language: a source command followed
by a pipe chain of processing commands,

    FROM logs-*
    | WHERE status == "error" AND bytes > 100
    | EVAL mb = bytes / 1048576.0
    | STATS n = COUNT(*), total = SUM(mb) BY host, day
    | SORT total DESC
    | LIMIT 10

executed by Elastic's own block-at-a-time compute engine.  Here the same
text compiles to the DataFrame algebra and Catalyst runs it — WHERE
pushes to the scan, STATS is one partial+final hash aggregation,
SORT fuses with its LIMIT (or the result cap below) into
TakeOrderedAndProject.  There is no second engine to
maintain, which IS the Spark-first answer to ES|QL's executor.

Supported commands (the documented core; anything else raises):

- ``FROM index[, index2...] [METADATA _index, _id]`` — resolves through
  the ``tables`` dict or a ``Catalog`` (wildcards/aliases included);
  requested metadata columns survive as named columns.  ``ROW a = 1,
  b = "x"`` builds a literal single-row source.
- ``WHERE <expr>`` — plus ``KNN(field, [v...], k)`` (9.x) as a
  top-level conjunct: other AND'ed conjuncts pre-filter, then the k
  most cosine-similar rows survive with the similarity materialized as
  ``_score`` (exact brute kNN — a TakeOrderedAndProject; ties break by
  ``_id`` when present, documented where ES's tie is shard-order).
  Under ``FROM ... METADATA _score`` every full-text WHERE leaf —
  MATCH, the ``:`` operator, QSTR term leaves — adds its BM25 to
  ``_score`` (8.18, ``_where_scored``); QSTR wildcard/range/cmp/
  ``_exists_`` leaves add Lucene's constant_score 1.0 (round 13);
  plain filters and NOT-guarded leaves contribute 0.
- ``EVAL name = <expr>[, name2 = <expr2>...]`` — later names see earlier
  ones, like ES|QL.
- ``STATS [name =] AGG(expr) [WHERE cond][, ...] [BY k1[, k2...]]`` —
  COUNT(*), COUNT, COUNT_DISTINCT, SUM, AVG, MIN, MAX, MEDIAN,
  PERCENTILE(x, p), STD_DEV (population), VALUES (unordered distinct
  set), WEIGHTED_AVG(x, w), TOP(x, limit, "asc"|"desc"); per-aggregate
  WHERE (8.16+) compiles to agg(when(cond, x)) inside the same single
  hash aggregation; BY keys may be EVAL-style ``name = expr``
  (``BUCKET(x, span)`` included).
- ``INLINESTATS agg [BY keys]`` — STATS joined back onto the source
  rows (every row kept, aggregate columns attached; an aggregate named
  like an existing column replaces it).  BY keys must be bare columns or
  ``name = expr``; the join is null-safe (nulls group together) and the
  no-BY one-row aggregate broadcasts.  ``BY CATEGORIZE(field)`` (8.16+,
  STATS only) groups by the ml category key — first BY key only, ES's
  rule; the key is aggs_dsl.categorize_key's deterministic
  variable-free token sequence (the categorize_text agg's documented
  deviation from ES's Drain-style merge applies here too).
- ``SORT col [ASC|DESC] [NULLS FIRST|NULLS LAST][, ...]``
- ``LIMIT n`` — a final ``LIMIT`` above ES's hard result cap,
  ``esql.query.result_truncation_max_size`` (``RESULT_CAP``, 10,000),
  returns 10,000 rows; one that a later command consumes keeps its ``n``.
- ``KEEP c1, c2`` / ``DROP c1, c2`` (``*`` wildcards per ES|QL)
- ``RENAME old AS new[, ...]``
- ``MV_EXPAND col`` — one row per array element (explode).
- ``DISSECT col "%{a} %{b}"`` — reuses the ingest processor's pattern
  compiler (one regexp, capture groups to columns).
- ``GROK col "%{WORD:method} %{NUMBER:code:int}"`` — the grok-lite
  subset: WORD/NOTSPACE/NUMBER/INT/IP/DATA/GREEDYDATA patterns with
  optional ``:int``/``:long``/``:float``/``:double`` type suffixes, all
  compiled to ONE regexp_extract chain.
- ``ENRICH policy ON match_col [WITH f1, f2]`` — the policy frame comes
  from ``esql(..., enrich_policies={name: frame})`` (first column = the
  policy's match field, like an enrich policy declaration); broadcast
  left join, WITH defaults to every non-key column.
- ``LOOKUP JOIN idx ON col[, col...]`` (8.18+; multi-key ON 8.19+) —
  left join against a lookup index (resolved like FROM) on the
  equal-named column(s); ES requires lookup indices to be single-shard —
  the analogue here is that the lookup side broadcasts.
- ``CHANGE_POINT value ON key`` (8.16+) — the Welch-t step detector
  (aggs_dsl.change_point_stats) appending cp_key / cp_score columns.
- ``TS index`` (9.x time-series querying) — FROM for TSDS sources:
  resolves identically but arms the next STATS to accept time-series
  aggregation functions, each wrapped in an outer aggregate (ES's
  rule): ``STATS max(rate(counter)), avg(avg_over_time(gauge)) BY
  host, tb = BUCKET(@timestamp, "1 hour")``.  The inner function runs
  once per time series (the ``dimensions`` tuple of the required
  ``time_series`` spec) per group; the outer aggregate combines series.
  rate / first/last/max/min/avg/sum/count/count_distinct ``_over_time``.
- ``FORK (branch) (branch)`` (8.18+) — each parenthesized branch
  pipeline runs over the current frame; results union by name (missing
  columns null-filled) with the ``_fork`` discriminator column.
- ``FUSE [rrf|linear] [WITH key=value, ...]`` (8.19+) — merge FORK
  branches into one ranked list: group rows by ``_id`` (+ ``_index``
  when present), fuse each branch's contribution into a new ``_score``,
  drop ``_fork``.  ``rrf`` (default) contributes 1/(rank_constant +
  rank) per branch, rank = position by that branch's ``_score``
  descending (ties broken by the group key — deterministic, where ES
  ranks by arrival order); ``linear`` sums raw scores (ES's default
  ``normalizer: none``) or min-max-normalized ones WITH
  ``normalizer=minmax``.  Non-score columns merge with ``max`` ignoring
  nulls (deterministic; ES keeps the first non-null branch value).

Result size: a pipeline whose last SORT or LIMIT is followed only by
WHERE, EVAL, KEEP, DROP or RENAME gets ``LIMIT 10000`` appended, as ES
appends its cap once to the whole query; the optimizer pushes it into
that sort, which then plans as one TakeOrderedAndProject (no range
exchange, no sampling job), or merges it with that limit.  Any other
pipeline stays uncapped: a cap there would keep arbitrary rows, and a
root CollectLimit would run extra jobs.  ES's implicit default
``LIMIT 1000`` is NOT applied — results up to the cap are returned whole.

Explicit non-goals (raise "unsupported command", by design):

- ``SAMPLE p`` — needs a random source; every query here is checked
  against a deterministic DuckDB oracle, and nondeterministic row
  selection can't hash-match one.  Use ``operators.sampling`` (seeded,
  hash-threshold, reproducible) for the same capability.
- ``RERANK`` — calls an inference endpoint (a deployed reranking model);
  there is no model runtime in this engine.  Score fusion without a
  model is covered by ``search.rrf_fuse`` / ``search.linear_fuse``.

Expression language: ES|QL scalar expressions are close enough to Spark
SQL that a guarded translation suffices — ``==``/``!=`` map to
``=``/``<>``, double-quoted strings to single-quoted, function names
must sit in the whitelist below, and the residue must match the same
arithmetic-only character class aggs_dsl's bucket_script enforces (no
semicolons, backticks, comments).  Unknown functions raise — no silent
passthrough to arbitrary SQL.  Three rewrite families extend the pure
name map: ``CIDR_MATCH`` (constant blocks -> integer floor-div tests),
the argument-swapped ``DATE_FORMAT``/``DATE_PARSE``/``LOCATE``/
``DATE_DIFF`` (compile-time argument reorder), and
the ``MV_*`` multivalue family (FIRST/LAST/SUM/AVG/MEDIAN/MIN/MAX/
COUNT/DEDUPE/APPEND/CONCAT/SORT/SLICE/ZIP/PERCENTILE/MAD/
PSERIES_WEIGHTED_SUM — SQL expression expansion over the array).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# decimal-vs-double literal rule shared with the painless-lite compiler
from elasticsearch_hadoop_spark.runtime_fields import _FLOAT_LIT


class EsqlError(ValueError):
    pass


# ES's hard cap on the rows an ES|QL query returns
# (``esql.query.result_truncation_max_size``)
RESULT_CAP = 10_000

# commands the optimizer pushes a LIMIT through, into the SORT or LIMIT
# before them
_CAP_PASSES = {"WHERE", "EVAL", "KEEP", "DROP", "RENAME"}


# scalar functions an expression may call (ES|QL name -> Spark SQL name).
# Only names whose ARGUMENT ORDER matches Spark's may live here — the
# translation is name substitution, it cannot reorder arguments (which is
# why the argument-swapped LOCATE / DATE_FORMAT / DATE_PARSE /
# DATE_DIFF go through _rewrite_swapped_funcs instead).
_FUNCS = {
    "round": "round", "abs": "abs", "ceil": "ceil", "floor": "floor",
    "sqrt": "sqrt", "pow": "power", "log10": "log10",
    # LOG matches in both arities: LOG(x) is natural log, LOG(base, x)
    "log": "log", "exp": "exp", "cbrt": "cbrt", "signum": "signum",
    "acos": "acos", "asin": "asin", "atan": "atan", "atan2": "atan2",
    "cos": "cos", "cosh": "cosh", "sin": "sin", "sinh": "sinh",
    "tan": "tan", "tanh": "tanh", "hypot": "hypot", "pi": "pi", "e": "e",
    "to_degrees": "degrees", "to_radians": "radians",
    "concat": "concat", "length": "length", "substring": "substring",
    "to_lower": "lower", "to_upper": "upper", "trim": "trim",
    "ltrim": "ltrim", "rtrim": "rtrim",
    "left": "left", "right": "right", "reverse": "reverse",
    "repeat": "repeat", "space": "space",
    # ES|QL REPLACE(string, regex, new) is regex-based, like Spark's
    # regexp_replace (same argument order); Spark's literal `replace`
    # would silently change semantics
    "replace": "regexp_replace",
    "starts_with": "startswith", "ends_with": "endswith",
    # DATE_FORMAT/DATE_PARSE/LOCATE/DATE_DIFF are argument-swapped vs
    # Spark — handled by _rewrite_swapped_funcs (argument reorder), not
    # name substitution
    "bit_length": "bit_length", "byte_length": "octet_length",
    "to_base64": "base64", "md5": "md5", "sha1": "sha1",
    "to_string": "string", "to_long": "bigint", "to_double": "double",
    "to_integer": "int", "to_boolean": "boolean", "to_datetime": "timestamp",
    "date_trunc": "date_trunc", "date_extract": "extract",
    # BUCKET() rewrites emit these (also safe to call directly)
    "timestamp_seconds": "timestamp_seconds", "unix_timestamp": "unix_timestamp",
    "coalesce": "coalesce", "greatest": "greatest", "least": "least",
    # CASE(cond, v, ..., default) function form -> nested if() chain via
    # _rewrite_case_fn (the SQL CASE WHEN syntax passes as a keyword)
    # rewritten to integer floor-div math by _rewrite_cidr_match
    "cidr_match": None,
    "mv_min": "array_min", "mv_max": "array_max",  # both skip NULL elements
    "mv_concat": "array_join", "mv_dedupe": "array_distinct",
    "mv_append": "concat",
    # MV_SORT handles its optional order argument in _rewrite_mv_funcs
    # MV_FIRST/MV_LAST/MV_SUM/MV_AVG/MV_MEDIAN (and MV_COUNT, whose
    # null-element skip `size` alone can't express, plus
    # MV_PSERIES_WEIGHTED_SUM) expand to SQL expressions in
    # _rewrite_mv_funcs
    "split": "split",
}
_CASTS = {"to_string", "to_long", "to_double", "to_integer", "to_boolean",
          "to_datetime"}

_AGGS = {
    "count": F.count, "sum": F.sum, "avg": F.avg, "min": F.min,
    "max": F.max, "median": F.median, "count_distinct": F.countDistinct,
    # round-6 additions: population std-dev (ES|QL STD_DEV matches ES's
    # population semantics), VALUES (unordered distinct collection —
    # collect_set, like ES|QL's unordered contract)
    "std_dev": F.stddev_pop, "values": F.collect_set,
}

_EXPR_OK = re.compile(r"^[\w\s.+\-*/%(),<>=!'\"|&:\[\]]+$")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*")
# TSDS column names start with '@' (the canonical `@timestamp`); they are
# masked to placeholders resolving to backtick-quoted Spark identifiers so
# the guarded character class never has to admit '@' or '`' as raw code
_AT_IDENT = re.compile(r"@[A-Za-z_][A-Za-z0-9_.]*")
_KEYWORDS = {
    "and", "or", "not", "is", "null", "true", "false", "like", "rlike",
    "in", "case", "when", "then", "else", "end", "as", "by", "asc",
    "desc", "nulls", "first", "last", "year", "month", "day", "hour",
    "minute", "second", "week", "quarter", "from",
}


_BUCKET_UNITS = {
    "second", "minute", "hour", "day", "week", "month", "quarter", "year",
}


_IPV4_OCTET_RX = r"(25[0-5]|2[0-4]\\d|1?\\d?\\d)"


def _ipv4_num_sql(ip: str, lits: list[str]) -> str:
    """Dotted-quad -> uint32 as inline Spark SQL (NULL when malformed).
    The validation regex and split pattern are registered in ``lits`` as
    masked placeholders so the expression-syntax guard never sees their
    content."""

    def ph(lit_sql: str) -> str:
        lits.append(lit_sql)
        return f"\x00{len(lits) - 1}\x00"

    rx = ph(f"'^{_IPV4_OCTET_RX}(\\\\.{_IPV4_OCTET_RX}){{3}}$'")
    dot = ph("'\\\\.'")
    oct_ = lambda i: f"cast(split({ip}, {dot})[{i}] as bigint)"  # noqa: E731
    num = (
        f"{oct_(0)}*16777216 + {oct_(1)}*65536 + {oct_(2)}*256 + {oct_(3)}"
    )
    return f"(CASE WHEN {ip} RLIKE {rx} THEN {num} END)"


def _match_paren(e: str, open_end: int) -> int:
    """Index just past the close paren matching the '(' that ends at
    ``open_end``.  Raises instead of silently truncating: the old
    inline scanners compiled a DIFFERENT expression on unbalanced input
    (e.g. 'MV_SUM(xs' aggregated column 'x')."""
    depth, i = 1, open_end
    while i < len(e) and depth:
        depth += e[i] == "("
        depth -= e[i] == ")"
        i += 1
    if depth:
        raise EsqlError(f"unbalanced parentheses in {e!r}")
    return i


def _rewrite_case_fn(e: str) -> str:
    """ES|QL ``CASE(c1, v1, c2, v2, ..., [default])`` — the FUNCTION
    form (Spark has no ``case()`` function; its CASE is the WHEN syntax)
    — rewrites to a nested ``if()`` chain.  A single-argument match is
    left alone: it may be the SQL ``CASE (expr) WHEN`` operand form."""
    pat = re.compile(r"\bCASE\s*\(", flags=re.I)
    pos = 0
    while True:
        m = pat.search(e, pos)
        if not m:
            return e
        i = _match_paren(e, m.end())
        args = [a.strip() for a in _split_top(e[m.end(): i - 1])]
        if len(args) < 2:
            pos = m.end()
            continue
        default = args.pop() if len(args) % 2 == 1 else "NULL"
        rep = default
        for cond, val in reversed(list(zip(args[0::2], args[1::2]))):
            rep = f"if({cond}, {val}, {rep})"
        e = e[: m.start()] + "(" + rep + ")" + e[i:]
        pos = m.start() + 1


def _rewrite_mv_funcs(e: str, lits: list[str]) -> str:
    """ES|QL multivalue functions with no single Spark function twin —
    each expands to a SQL expression over the array argument:

    - ``MV_FIRST(x)`` / ``MV_LAST(x)`` -> try_element_at(x, 1 / -1)
    - ``MV_SUM(x)``    -> higher-order aggregate fold (double)
    - ``MV_AVG(x)``    -> the fold / size, NULL on empty (like ES|QL)
    - ``MV_MEDIAN(x)`` -> sorted middle element (odd) or the mean of the
      two middles (even), NULL on empty
    - ``MV_SLICE(x, start[, end])`` -> slice (zero-based, end inclusive;
      non-negative indices only — documented subset)
    - ``MV_ZIP(a, b[, delim])`` -> pairwise concat_ws via zip_with
    - ``MV_SORT(x[, order])`` -> array_sort / sort_array(x, asc_bool)
    - ``MV_PERCENTILE(x, p)`` -> linear interpolation over the sorted
      values at rank (n-1)*p/100 (the PERCENTILE agg's R-7 rule; ES
      computes mv_percentile the same way)
    - ``MV_MEDIAN_ABSOLUTE_DEVIATION(x)`` -> median(|v - median(x)|)
    - ``MV_COUNT(x)`` -> size of the null-filtered array (the bare
      ``size`` name-map form would count null elements)
    - ``MV_PSERIES_WEIGHTED_SUM(x, p)`` -> sum of v_i / i^p over 1-based
      positions in the array's own order (ES does not sort the input)

    (MV_MIN/MV_MAX/MV_DEDUPE/MV_APPEND/MV_CONCAT live in the pure name
    map — array_min/array_max already skip NULL elements natively.)

    SQL expressions have no let-binding, so the rank-based forms
    (MEDIAN/PERCENTILE/MAD) evaluate their expensive intermediate (the
    sorted array, the median scalar) ONCE via the single-element
    transform trick — ``try_element_at(transform(array(<once>), __v ->
    <body using __v>), 1)``.  Without it the sorted array is re-built
    for every reference and, fatally, MV_MAD's deviation lambda re-sorts
    the source array PER ELEMENT (64 sorts per row on a 64-d embedding
    — measured 25x slower at sf0.01).  Fresh lambda-variable names per
    expansion keep nested binds legal (Spark rejects shadowed lambda
    variables)."""
    import itertools

    fresh = itertools.count()

    def bind_once(value: str, body_of) -> str:
        # evaluate `value` once, expose it to body_of(var) as `var`
        var = f"__b{next(fresh)}"
        return f"try_element_at(transform(array({value}), {var} -> {body_of(var)}), 1)"

    def median_sql(x: str) -> str:
        # NULL elements are SKIPPED (ES arrays never carry nulls; Spark
        # arrays routinely do, and array_sort would park them LAST where
        # they'd skew size/rank arithmetic toward the high end).  The
        # filter lambda var is deliberately not `v` — callers nest this
        # inside their own v-lambdas (MV_MAD's transform)
        x = f"filter({x}, __mv -> __mv is not null)"

        def body(s: str) -> str:
            n = f"size({s})"
            hi = f"CAST(try_element_at({s}, CAST({n} div 2 + 1 AS INT)) AS DOUBLE)"
            lo = f"CAST(try_element_at({s}, CAST({n} div 2 AS INT)) AS DOUBLE)"
            return (
                f"(CASE WHEN {n} = 0 THEN NULL"
                f" WHEN {n} % 2 = 1 THEN {hi}"
                f" ELSE ({lo} + {hi}) / 2.0 END)"
            )

        return bind_once(f"array_sort({x})", body)

    for name in ("mv_first", "mv_last", "mv_sum", "mv_avg", "mv_median_absolute_deviation",
                 "mv_median", "mv_percentile", "mv_slice", "mv_zip", "mv_sort",
                 "mv_count", "mv_pseries_weighted_sum"):
        pat = re.compile(rf"\b{name}\s*\(", flags=re.I)
        pos = 0
        while True:
            m = pat.search(e, pos)
            if not m:
                break
            i = _match_paren(e, m.end())
            args = [a.strip() for a in _split_top(e[m.end(): i - 1])]
            if name == "mv_sort":
                # MV_SORT(x[, "ASC"|"DESC"]) — array_sort's optional 2nd
                # arg is a comparator LAMBDA, so the order form must map
                # to sort_array(x, asc_bool) instead
                if len(args) not in (1, 2):
                    raise EsqlError("MV_SORT needs (array[, order])")
                if len(args) == 1:
                    rep = f"array_sort(({args[0]}))"
                else:
                    om = _PLACEHOLDER.fullmatch(args[1])
                    order = (
                        lits[int(om.group(1))][1:-1] if om else args[1]
                    ).strip().lower()
                    if order not in ("asc", "desc"):
                        raise EsqlError(
                            f"MV_SORT order must be asc|desc, got {order!r}"
                        )
                    asc = "true" if order == "asc" else "false"
                    rep = f"sort_array(({args[0]}), {asc})"
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if name == "mv_slice":
                # ES|QL MV_SLICE(x, start[, end]) — ZERO-based, end
                # INCLUSIVE; non-negative indices only (the documented
                # subset; ES|QL's negative from-the-end forms are not
                # supported here)
                if len(args) not in (2, 3):
                    raise EsqlError("MV_SLICE needs (array, start[, end])")
                a0, start = args[0], args[1]
                end = args[2] if len(args) == 3 else args[1]
                rep = (
                    f"slice(({a0}), CAST(({start}) + 1 AS INT),"
                    f" CAST(({end}) - ({start}) + 1 AS INT))"
                )
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if name == "mv_zip":
                # MV_ZIP(a, b[, delim]) — pairwise string join, default ","
                if len(args) not in (2, 3):
                    raise EsqlError("MV_ZIP needs (array1, array2[, delim])")
                delim = args[2] if len(args) == 3 else "','"
                rep = (
                    f"zip_with(({args[0]}), ({args[1]}),"
                    f" (l, r) -> concat_ws(({delim}), l, r))"
                )
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if name == "mv_pseries_weighted_sum":
                # MV_PSERIES_WEIGHTED_SUM(x, p): sum of v_i / i^p over the
                # 1-based positions i, in the array's own order (ES does
                # not sort — callers pass relevance-ordered values).
                # sequence(1, 0) counts DOWN in Spark, so the empty case
                # must short-circuit before the zip.
                if len(args) != 2:
                    raise EsqlError(
                        "MV_PSERIES_WEIGHTED_SUM needs (array, p)"
                    )
                x, p = f"({args[0]})", f"({args[1]})"
                x = f"filter({x}, __mv -> __mv is not null)"

                def ps_body(xs: str, p: str = p) -> str:
                    terms = (
                        f"zip_with({xs}, sequence(1, size({xs})),"
                        f" (v, i) -> CAST(v AS DOUBLE)"
                        f" / power(CAST(i AS DOUBLE), CAST({p} AS DOUBLE)))"
                    )
                    return (
                        f"(CASE WHEN size({xs}) > 0 THEN"
                        f" aggregate({terms}, CAST(0 AS DOUBLE),"
                        f" (acc, v) -> acc + v) END)"
                    )

                # the filtered array binds ONCE (it is referenced three
                # times: zip_with, the position sequence, the empty guard)
                rep = bind_once(x, ps_body)
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if name == "mv_percentile":
                # MV_PERCENTILE(x, p): R-7 linear interpolation at rank
                # (n-1)*p/100 over the sorted values — the PERCENTILE
                # agg's rule, which is also how ES computes it
                if len(args) != 2:
                    raise EsqlError("MV_PERCENTILE needs (array, percentile)")
                x, p = f"({args[0]})", f"({args[1]})"
                # same NULL-skip as median_sql (rank arithmetic needs a
                # null-free sorted array); the sorted array binds ONCE
                x = f"filter({x}, __mv -> __mv is not null)"

                def pct_body(s: str, p: str = p) -> str:
                    n = f"size({s})"
                    idx = f"(({n} - 1) * CAST({p} AS DOUBLE) / 100.0D)"
                    lo_i = f"(CAST(floor({idx}) AS INT) + 1)"
                    loval = f"CAST(try_element_at({s}, {lo_i}) AS DOUBLE)"
                    hival = f"CAST(try_element_at({s}, {lo_i} + 1) AS DOUBLE)"
                    return (
                        f"(CASE WHEN {n} = 0 OR {p} < 0 OR {p} > 100 THEN NULL"
                        f" ELSE {loval} + (coalesce({hival}, {loval}) - {loval})"
                        f" * ({idx} - floor({idx})) END)"
                    )

                rep = bind_once(f"array_sort({x})", pct_body)
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if name == "mv_median_absolute_deviation":
                if len(args) != 1:
                    raise EsqlError(
                        "MV_MEDIAN_ABSOLUTE_DEVIATION takes exactly one argument"
                    )
                x = f"({args[0]})"
                # the median binds ONCE — inlining it in the deviation
                # lambda would re-sort the source array per element
                rep = bind_once(
                    median_sql(x),
                    lambda med: median_sql(
                        f"transform({x}, v -> abs(CAST(v AS DOUBLE) - {med}))"
                    ),
                )
                e = e[: m.start()] + rep + e[i:]
                pos = m.start() + 1
                continue
            if len(args) != 1:
                raise EsqlError(f"{name.upper()} takes exactly one argument")
            x = f"({args[0]})"
            fold = (
                f"aggregate({x}, CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            if name == "mv_first":
                rep = f"try_element_at({x}, 1)"
            elif name == "mv_last":
                rep = f"try_element_at({x}, -1)"
            elif name == "mv_count":
                # count of non-NULL values (the family's null-skip rule —
                # a bare `size` would count null elements); NULL in ->
                # NULL out
                rep = f"size(filter({x}, __mv -> __mv is not null))"
            elif name == "mv_sum":
                rep = f"(CASE WHEN size({x}) > 0 THEN {fold} END)"
            elif name == "mv_avg":
                rep = f"(CASE WHEN size({x}) > 0 THEN {fold} / size({x}) END)"
            else:  # mv_median
                rep = median_sql(x)
            e = e[: m.start()] + rep + e[i:]
            pos = m.start() + 1
    return e


_DATE_DIFF_UNITS = {
    "year": "YEAR", "years": "YEAR", "yy": "YEAR", "yyyy": "YEAR",
    "quarter": "QUARTER", "quarters": "QUARTER", "qq": "QUARTER",
    "month": "MONTH", "months": "MONTH", "mm": "MONTH",
    "week": "WEEK", "weeks": "WEEK", "wk": "WEEK",
    "day": "DAY", "days": "DAY", "dd": "DAY",
    "hour": "HOUR", "hours": "HOUR", "hh": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE", "mi": "MINUTE",
    "second": "SECOND", "seconds": "SECOND", "ss": "SECOND",
}


def _rewrite_swapped_funcs(e: str, lits: list[str]) -> str:
    """The ES|QL functions whose argument order differs from Spark's —
    un-mappable by name substitution, so each gets a compile-time
    argument REORDER instead of a rejection:

    - ``DATE_FORMAT(fmt, date)``   -> ``date_format(date, fmt)``
    - ``DATE_PARSE(fmt, str)``     -> ``to_timestamp(str, fmt)``
    - ``LOCATE(str, substr[, p])`` -> ``locate(substr, str[, p])``
    - ``DATE_DIFF(unit, a, b)``    -> ``timestampdiff(UNIT, a, b)``
      (the unit must be a literal; ES|QL's unit aliases resolve to
      Spark's keyword)
    """
    for name in ("date_format", "date_parse", "locate", "date_diff"):
        pat = re.compile(rf"\b{name}\s*\(", flags=re.I)
        # search resumes AFTER each replacement: date_format/locate
        # rewrite to the same-named Spark call and would re-match forever
        pos = 0
        while True:
            m = pat.search(e, pos)
            if not m:
                break
            i = _match_paren(e, m.end())
            args = [a.strip() for a in _split_top(e[m.end(): i - 1])]
            if name == "date_format":
                if len(args) != 2:
                    raise EsqlError("DATE_FORMAT needs (format, date)")
                rep = f"date_format({args[1]}, {args[0]})"
            elif name == "date_parse":
                if len(args) != 2:
                    raise EsqlError("DATE_PARSE needs (format, string)")
                rep = f"to_timestamp({args[1]}, {args[0]})"
            elif name == "locate":
                if len(args) not in (2, 3):
                    raise EsqlError("LOCATE needs (string, substring[, start])")
                tail = f", {args[2]}" if len(args) == 3 else ""
                rep = f"locate({args[1]}, {args[0]}{tail})"
            else:  # date_diff
                if len(args) != 3:
                    raise EsqlError("DATE_DIFF needs (unit, start, end)")
                pm = _PLACEHOLDER.fullmatch(args[0])
                if not pm:
                    raise EsqlError("DATE_DIFF unit must be a string literal")
                unit = lits[int(pm.group(1))][1:-1].lower()
                sql_unit = _DATE_DIFF_UNITS.get(unit)
                if sql_unit is None:
                    raise EsqlError(f"DATE_DIFF: unknown unit {unit!r}")
                rep = f"timestampdiff({sql_unit}, {args[1]}, {args[2]})"
            e = e[: m.start()] + rep + e[i:]
            # resume just past the match start: the rewritten outer call
            # cannot re-match (same-name rewrites would loop forever),
            # while nested same-name calls inside the args still do
            pos = m.start() + 1
    return e


def _rewrite_misc_funcs(e: str, lits: list[str]) -> str:
    """ES|QL functions with no 1:1 Spark name mapping:

    - ``FROM_BASE64(x)`` -> ``CAST(unbase64(x) AS STRING)`` (ES|QL
      decodes to a keyword string; Spark's unbase64 yields binary)
    - ``SHA256(x)`` -> ``sha2(x, 256)``
    - ``HASH(alg, x)`` (8.17+) -> the named digest; ``alg`` must be a
      string literal naming md5/sha1/sha224/sha256/sha384/sha512 (ES
      resolves it against MessageDigest at plan time — same contract)
    - ``IP_PREFIX(ip, v4len, v6len)`` -> the network address at
      ``v4len`` bits as a dotted quad.  IPv4 subset (the engine-wide IP
      limit, like ip_range/ip_prefix aggs and CIDR_MATCH); non-IPv4 or
      malformed input yields NULL via the shared RLIKE guard; lengths
      must be integer literals.  Pure integer floor-div SQL — the
      repeated octet math collapses in codegen subexpression
      elimination.
    """
    e = re.sub(
        r"\bFROM_BASE64\s*\(", "__FROM_B64__(", e, flags=re.I
    )
    pat = re.compile(
        r"\b(__FROM_B64__|SHA256|HASH|IP_PREFIX|TO_GEOPOINT|ST_DISTANCE"
        r"|ST_X|ST_Y)\s*\(",
        flags=re.I,
    )
    while True:
        m = pat.search(e)
        if not m:
            return e
        name = m.group(1).upper()
        i = _match_paren(e, m.end())
        args = _split_top(e[m.end(): i - 1])

        def ph(lit_sql: str) -> str:
            lits.append(lit_sql)
            return f"\x00{len(lits) - 1}\x00"

        if name == "__FROM_B64__":
            if len(args) != 1:
                raise EsqlError("FROM_BASE64 needs one argument")
            rep = f"CAST(unbase64({args[0]}) AS STRING)"
        elif name == "SHA256":
            if len(args) != 1:
                raise EsqlError("SHA256 needs one argument")
            rep = f"sha2({args[0]}, 256)"
        elif name == "HASH":
            if len(args) != 2:
                raise EsqlError("HASH needs (algorithm, input)")
            pm = _PLACEHOLDER.fullmatch(args[0].strip())
            if not pm:
                raise EsqlError("HASH algorithm must be a string literal")
            alg = lits[int(pm.group(1))][1:-1].lower()
            if alg == "md5":
                rep = f"md5({args[1]})"
            elif alg == "sha1":
                rep = f"sha1({args[1]})"
            elif alg in ("sha224", "sha256", "sha384", "sha512"):
                rep = f"sha2({args[1]}, {alg[3:]})"
            else:
                raise EsqlError(f"HASH: unsupported algorithm {alg!r}")
        elif name == "TO_GEOPOINT":
            # WKT "POINT(lon lat)" literal -> struct(lat, lon), the
            # engine's geo_point rendering.  Literal-only, like ES|QL's
            # own constant-folding path (a column-valued conversion would
            # need a runtime WKT parser; functions/geo.py has the Column
            # version for DataFrame callers).
            if len(args) != 1:
                raise EsqlError("TO_GEOPOINT needs one argument")
            pm = _PLACEHOLDER.fullmatch(args[0].strip())
            if not pm:
                raise EsqlError("TO_GEOPOINT needs a WKT string literal")
            wkt = lits[int(pm.group(1))][1:-1]
            wm = re.fullmatch(
                r"\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*",
                wkt,
                flags=re.I,
            )
            if not wm:
                raise EsqlError(f"TO_GEOPOINT: bad WKT point {wkt!r}")
            lon, lat = float(wm.group(1)), float(wm.group(2))
            nl = ph("'lat'")
            no = ph("'lon'")
            rep = f"named_struct({nl}, {lat!r}D, {no}, {lon!r}D)"
        elif name in ("ST_X", "ST_Y"):
            if len(args) != 1:
                raise EsqlError(f"{name} needs one geo_point argument")
            rep = f"({args[0]}).{'lon' if name == 'ST_X' else 'lat'}"
        elif name == "ST_DISTANCE":
            # haversine meters on the IUGG mean-radius sphere — the same
            # model and constant as functions/geo.haversine_km (ES's arc
            # distance), so ES|QL and the query/aggs DSLs agree
            if len(args) != 2:
                raise EsqlError("ST_DISTANCE needs two geo_point arguments")
            a, b = f"({args[0]})", f"({args[1]})"
            rep = (
                f"(12742017.6 * asin(sqrt("
                f"pow(sin((radians({b}.lat) - radians({a}.lat)) / 2), 2)"
                f" + cos(radians({a}.lat)) * cos(radians({b}.lat))"
                f" * pow(sin((radians({b}.lon) - radians({a}.lon)) / 2), 2)"
                f")))"
            )
        else:  # IP_PREFIX
            if len(args) != 3:
                raise EsqlError("IP_PREFIX needs (ip, prefix_v4, prefix_v6)")
            p4 = args[1].strip()
            if not p4.isdigit() or not 0 <= int(p4) <= 32:
                raise EsqlError(
                    f"IP_PREFIX v4 length must be a literal 0..32: {p4!r}"
                )
            if not args[2].strip().isdigit():
                raise EsqlError("IP_PREFIX v6 length must be an integer literal")
            host = 2 ** (32 - int(p4))
            num = _ipv4_num_sql(f"({args[0]})", lits)
            net = f"(floor({num} / {host}) * {host})"
            dot = ph("'.'")
            octets = f" , {dot}, ".join(
                f"cast(cast(floor({net} / {1 << s}) as bigint) % 256 as string)"
                for s in (24, 16, 8, 0)
            )
            # concat, not concat_ws: a NULL octet (malformed / non-IPv4
            # input) must surface as NULL, not collapse to ""
            rep = f"concat({octets})"
        e = e[: m.start()] + "(" + rep + ")" + e[i:]


def _rewrite_cidr_match(e: str, lits: list[str]) -> str:
    """ES|QL ``CIDR_MATCH(ip, "cidr", ...)``: compile-time CIDR constants
    become integer floor-div membership tests (the same math as the
    ingest network processors) — pure SQL, no UDF.  IPv4 subset; blocks
    must be literals (ES|QL requires constant blocks too)."""
    pat = re.compile(r"\bCIDR_MATCH\s*\(", flags=re.I)
    while True:
        m = pat.search(e)
        if not m:
            return e
        i = _match_paren(e, m.end())
        args = _split_top(e[m.end(): i - 1])
        if len(args) < 2:
            raise EsqlError("CIDR_MATCH needs (ip, block, ...)")
        ip = args[0].strip()
        ipnum = _ipv4_num_sql(ip, lits)
        tests = []
        for a in args[1:]:
            pm = _PLACEHOLDER.fullmatch(a.strip())
            if not pm:
                raise EsqlError(
                    f"CIDR_MATCH blocks must be string literals: {a!r}"
                )
            cidr = lits[int(pm.group(1))][1:-1]
            base, slash, plen = cidr.partition("/")
            if slash and not plen.isdigit():
                # covers "10.0.0.0/" and "10.0.0.0/abc" with a typed
                # error instead of a raw ValueError / silent /32
                raise EsqlError(f"CIDR_MATCH: bad block {cidr!r}")
            prefix = int(plen) if plen else 32
            parts = base.split(".")
            if (
                not 0 <= prefix <= 32
                or len(parts) != 4
                or any(not p.isdigit() or int(p) > 255 for p in parts)
            ):
                raise EsqlError(f"CIDR_MATCH: bad block {cidr!r}")
            net = (
                int(parts[0]) * 16777216 + int(parts[1]) * 65536
                + int(parts[2]) * 256 + int(parts[3])
            )
            host = 2 ** (32 - prefix)
            tests.append(f"floor({ipnum} / {host}) = {net // host}")
        e = e[: m.start()] + "(" + " OR ".join(tests) + ")" + e[i:]


def _bucket_pick_numeric_span(count: int, frm: float, to: float) -> float:
    """ES|QL BUCKET target-count numeric mode, upstream
    ``Bucket.pickRounding`` exactly: ``precise = (to - from) / count``,
    ``nextPowerOfTen = 10^ceil(log10(precise))``, ``halfPower =
    nextPowerOfTen / 2`` — return halfPower when precise < halfPower,
    else nextPowerOfTen.  Only {5, 10} x 10^k spans exist upstream (NOT
    a {1, 2.5, 5, 10} ladder); the docs example BUCKET(salary, 20,
    25324, 74999) yields 5000-wide buckets (keys 25000, 30000, ...,
    70000) and so does this."""
    import math

    if count <= 0:
        raise EsqlError(f"BUCKET: target bucket count must be positive, got {count}")
    precise = (to - frm) / count
    if precise <= 0:
        raise EsqlError(f"BUCKET: range [{frm}, {to}] is empty")
    next_p10 = 10.0 ** math.ceil(math.log10(precise))
    half = next_p10 / 2.0
    return half if precise < half else next_p10


def _bucket_pick_date_rung(count: int, frm, to):
    """ES|QL BUCKET target-count date mode: the FINEST rung whose bucket
    count over [from, to] fits the target — the fixed rungs of
    aggs_dsl.AUTO_DH_LADDER (the auto_date_histogram table) plus the
    calendar month/year rungs.  Returns ("fixed", seconds) or
    ("calendar", unit)."""
    import math

    from elasticsearch_hadoop_spark.aggs_dsl import AUTO_DH_LADDER

    from datetime import timezone

    if count <= 0:
        raise EsqlError(f"BUCKET: target bucket count must be positive, got {count}")
    # naive bounds are UTC (the engine's session timezone) — .timestamp()
    # on a naive datetime would apply the HOST's local offset and make
    # the rung choice machine-dependent near a boundary
    if frm.tzinfo is None:
        frm = frm.replace(tzinfo=timezone.utc)
    if to.tzinfo is None:
        to = to.replace(tzinfo=timezone.utc)
    lo, hi = frm.timestamp(), to.timestamp()
    if hi < lo:
        raise EsqlError("BUCKET: from is after to")
    for rung in AUTO_DH_LADDER:
        if math.floor(hi / rung) - math.floor(lo / rung) + 1 <= count:
            return ("fixed", rung)
    months = (to.year * 12 + to.month) - (frm.year * 12 + frm.month) + 1
    if months <= count:
        return ("calendar", "month")
    return ("calendar", "year")  # the coarsest rung — always accepted


def _parse_bucket_bound(name: str, text: str, lits: list[str] | None):
    """A BUCKET from/to argument: a masked string literal -> datetime
    (date mode), a bare numeric -> float (numeric mode)."""
    from datetime import datetime

    text = text.strip()
    pm = _PLACEHOLDER.fullmatch(text)
    if pm and lits is not None:
        raw = lits[int(pm.group(1))].strip("'")
        try:
            return datetime.fromisoformat(raw.replace("Z", "+00:00"))
        except ValueError:
            raise EsqlError(
                f"BUCKET: {name} bound {raw!r} is not an ISO date"
            ) from None
    try:
        return float(text.rstrip("dDfF"))
    except ValueError:
        raise EsqlError(
            f"BUCKET: {name} bound must be a numeric or date literal, "
            f"got {text!r}"
        ) from None


def _rewrite_bucket(e: str, lits: list[str] | None = None) -> str:
    """ES|QL ``BUCKET(expr, span)``: a calendar span ("1 day") becomes
    date_trunc; a numeric span becomes floor-to-multiple.

    ``BUCKET(expr, target_count, from, to)`` — the target-bucket-count
    overload — resolves the span AT COMPILE TIME from the literal
    from/to bounds (ES evaluates them from constants too): numeric
    bounds pick the upstream {5, 10}x10^k span, date bounds pick the
    finest auto_date_histogram rung (plus calendar month/year) whose
    bucket count fits the target.  The un-bounded form (ES derives
    min/max from the data when bounds are omitted) is not supported —
    pass bounds or an explicit span, documented.

    Runs on literal-MASKED text (``lits`` holds the extracted literals),
    so a string literal that merely CONTAINS "bucket(" is never rewritten
    — the calendar span, itself a literal, is resolved back through its
    placeholder."""
    pat = re.compile(r"\bBUCKET\s*\(", flags=re.I)
    while True:
        m = pat.search(e)
        if not m:
            return e
        i = _match_paren(e, m.end())
        inner = e[m.end(): i - 1]
        args = _split_top(inner)
        if len(args) == 4:
            from datetime import datetime

            expr = args[0].strip()
            try:
                count = int(args[1].strip())
            except ValueError:
                raise EsqlError(
                    f"BUCKET: target bucket count must be an integer "
                    f"literal, got {args[1].strip()!r}"
                ) from None
            frm = _parse_bucket_bound("from", args[2], lits)
            to = _parse_bucket_bound("to", args[3], lits)
            if isinstance(frm, datetime) != isinstance(to, datetime):
                raise EsqlError("BUCKET: from/to bounds must both be "
                                "dates or both numeric")
            if isinstance(frm, datetime):
                kind, rung = _bucket_pick_date_rung(count, frm, to)
                if kind == "calendar":
                    rep = f"date_trunc('{rung}', {expr})"
                elif rung == 1:
                    rep = f"date_trunc('second', {expr})"
                else:
                    rep = (
                        f"timestamp_seconds(floor(unix_timestamp({expr}) / "
                        f"{rung}) * {rung})"
                    )
            else:
                span = _bucket_pick_numeric_span(count, frm, to)
                rep = f"(floor(({expr}) / ({span!r}D)) * ({span!r}D))"
            e = e[: m.start()] + rep + e[i:]
            continue
        if len(args) != 2:
            raise EsqlError(
                f"BUCKET needs (expr, span) or (expr, count, from, to), "
                f"got ({inner})"
            )
        expr, span = args[0].strip(), args[1].strip()
        pm = _PLACEHOLDER.fullmatch(span)
        if pm and lits is not None:
            span = lits[int(pm.group(1))]
        dm = re.match(r'^"\s*(\d+)\s+(\w+)s?\s*"$', span) or re.match(
            r"^'\s*(\d+)\s+(\w+)s?\s*'$", span
        )
        if dm:
            n, unit = int(dm.group(1)), dm.group(2).lower().rstrip("s")
            if unit not in _BUCKET_UNITS:
                raise EsqlError(f"BUCKET: unknown calendar unit {unit!r}")
            if n == 1:
                rep = f"date_trunc('{unit}', {expr})"
            else:
                # n-unit fixed spans: epoch-floor arithmetic (seconds-based
                # units only — multi-month spans have no fixed width)
                secs = {
                    "second": 1, "minute": 60, "hour": 3600, "day": 86400,
                    "week": 604800,
                }.get(unit)
                if secs is None:
                    raise EsqlError(
                        f"BUCKET: multi-{unit} spans have no fixed width"
                    )
                rep = (
                    f"timestamp_seconds(floor(unix_timestamp({expr}) / "
                    f"{n * secs}) * {n * secs})"
                )
        else:
            rep = f"(floor(({expr}) / ({span})) * ({span}))"
        e = e[: m.start()] + rep + e[i:]


_STR_LIT = re.compile(r'"[^"\\]*"|\'[^\'\\]*\'')
_PLACEHOLDER = re.compile(r"\x00(\d+)\x00")


def _mask_literals(e: str) -> tuple[str, list[str]]:
    """Replace every string literal with a \\x00{i}\\x00 placeholder so the
    operator/function rewrites below can never touch literal CONTENT (a
    WHERE msg == "a==b" must compare against the literal 'a==b', not
    'a = b').  Double-quoted ES|QL literals normalize to single-quoted
    SQL; embedded single quotes are backslash-escaped for Spark's
    parser."""
    lits: list[str] = []

    def sub(m: re.Match) -> str:
        inner = m.group(0)[1:-1].replace("'", "\\'")
        lits.append("'" + inner + "'")
        return f"\x00{len(lits) - 1}\x00"

    return _STR_LIT.sub(sub, e), lits


def _like_to_sql(lit: str) -> str:
    """ES|QL LIKE wildcards (* any-run, ? any-one, Lucene style) -> SQL
    LIKE (% / _), escaping literal %/_ so they keep matching themselves.
    ``lit`` arrives single-quoted; literals can't contain backslashes
    (the mask regex excludes them), so the only escapes we emit are our
    own."""
    out = []
    for ch in lit[1:-1]:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_"):
            out.append("\\\\" + ch)  # SQL text \\% -> literal \% -> escaped
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def _translate_expr(e: str) -> str:
    """ES|QL expression text -> guarded Spark SQL text.

    String literals are masked out FIRST, so the ``==``/``!=`` operator
    rewrite and the function-name mapping only ever apply to code, never
    to quoted content; LIKE patterns get the ES|QL ``*``/``?`` -> SQL
    ``%``/``_`` translation and RLIKE patterns are fully anchored
    (Lucene regexps match the whole string; Spark's rlike is a
    substring search)."""
    e = e.strip()
    if not e:
        raise EsqlError("empty expression")
    masked, lits = _mask_literals(e)
    # `@`-prefixed identifiers (TSDS `@timestamp`) mask to placeholders
    # that resolve back to backtick-quoted columns — before the float
    # rewrite so a digit inside such a name can never be literal-suffixed
    def _at_sub(m: re.Match) -> str:
        lits.append("`" + m.group(0) + "`")
        return f"\x00{len(lits) - 1}\x00"

    masked = _AT_IDENT.sub(_at_sub, masked)
    # ES|QL float literals are DOUBLES; Spark SQL would parse `1024.0` as
    # DECIMAL(5,1) and plan `n / 1024.0` as decimal(28,6) — suffix with D
    # (string literals are already masked out, so only code is touched)
    masked = _FLOAT_LIT.sub(r"\1D", masked)
    masked = _rewrite_bucket(masked, lits)
    masked = masked.replace("==", " = ").replace("!=", " <> ")
    probe = _PLACEHOLDER.sub("0", masked)
    if not _EXPR_OK.match(probe):
        raise EsqlError(f"unsupported expression syntax: {e!r}")
    if ";" in probe or "--" in probe or "/*" in probe:
        raise EsqlError(f"unsupported expression syntax: {e!r}")
    # every identifier followed by '(' must be a whitelisted function
    for m in _IDENT.finditer(probe):
        rest = probe[m.end():].lstrip()
        if rest.startswith("("):
            name = m.group(0).lower()
            if name in _KEYWORDS or name in (
                "cidr_match", "date_format", "date_parse", "locate",
                "date_diff", "mv_first", "mv_last", "mv_sum", "mv_avg",
                "mv_median", "mv_percentile",
                "mv_median_absolute_deviation", "mv_slice", "mv_zip",
                "mv_sort", "mv_count", "mv_pseries_weighted_sum",
                "from_base64", "sha256", "hash", "ip_prefix",
                "to_geopoint", "st_distance", "st_x", "st_y",
            ):
                continue  # consumed by the expression rewrites below
            fn = _FUNCS.get(name)
            if fn is None and name not in _CASTS:
                raise EsqlError(f"unsupported function {m.group(0)!r} in {e!r}")
    # apply function-name mapping on the masked text (word-boundary, case-
    # insensitive — placeholders contain no word chars), casts become
    # CAST(x AS t)
    def _map_funcs(text: str) -> str:
        for name, sql in _FUNCS.items():
            if sql is None:
                continue
            if name in _CASTS:
                # TO_LONG(x) -> CAST((x) AS BIGINT)
                pat = re.compile(rf"\b{name}\s*\(", flags=re.I)
                while True:
                    mm = pat.search(text)
                    if not mm:
                        break
                    i = _match_paren(text, mm.end())
                    inner = text[mm.end(): i - 1]
                    text = text[: mm.start()] + f"CAST(({inner}) AS {sql})" + text[i:]
            elif name != sql:
                text = re.sub(rf"\b{name}\s*\(", sql + "(", text, flags=re.I)
        return text

    masked = _rewrite_cidr_match(masked, lits)
    masked = _rewrite_misc_funcs(masked, lits)
    masked = _rewrite_swapped_funcs(masked, lits)
    masked = _rewrite_mv_funcs(masked, lits)
    masked = _rewrite_case_fn(masked)
    masked = _map_funcs(masked)

    # LIKE "pat" — translate the pattern literal's wildcards; RLIKE "re"
    # — anchor the regex to whole-string like Lucene.  Only literal
    # right-hand sides get this (a non-literal RHS has no ES|QL wildcard
    # semantics to preserve).
    seen_patterns: set[int] = set()
    masked = re.sub(
        r"(^|[^\w])(like|rlike)(\s*)\x00(\d+)\x00",
        lambda mm: mm.group(1) + mm.group(2) + mm.group(3)
        + _pattern_placeholder(mm, lits, seen_patterns),
        masked,
        flags=re.I,
    )
    return _PLACEHOLDER.sub(lambda m: lits[int(m.group(1))], masked)


def _pattern_placeholder(mm: re.Match, lits: list[str], seen: set[int]) -> str:
    # transform each literal index EXACTLY once: an MV/CIDR rewrite may
    # duplicate a placeholder textually, and _like_to_sql is not
    # idempotent — a twice-escaped pattern silently matches nothing
    idx = int(mm.group(4))
    if not lits[idx].startswith("'"):
        # a masked `@ident` placeholder, not a string literal — ES|QL
        # LIKE/RLIKE patterns must be literals; rewriting the backticked
        # column into pattern text would silently compare against the
        # column's NAME
        raise EsqlError("LIKE/RLIKE pattern must be a string literal")
    if idx not in seen:
        seen.add(idx)
        if mm.group(2).lower() == "like":
            lits[idx] = _like_to_sql(lits[idx])
        else:
            lits[idx] = "'^(?:" + lits[idx][1:-1] + ")$'"
    return f"\x00{idx}\x00"


def _expr(e: str) -> Column:
    return F.expr(_translate_expr(e))


# --- full-text functions in WHERE (ES|QL 8.17+: MATCH / QSTR) -------------

_FT_PROBE = re.compile(r"\b(MATCH|QSTR)\s*\(", flags=re.I)
# the ES|QL 8.17 match OPERATOR: `field : "query"` (a bare colon between
# an identifier and a string literal at the top level of a leaf)
_FT_COLON = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_.]*)\s*:\s*(\"[^\"]*\")\s*$")


def _split_bool_top(e: str, word: str) -> list[str]:
    """Split on a top-level boolean keyword (AND/OR) outside parens and
    quotes; returns [e] when the keyword never appears at depth 0.
    The AND belonging to a depth-0 ``BETWEEN lo AND hi`` is part of the
    predicate, not a conjunction — it is skipped (one per BETWEEN)."""
    blanked = _blank_literals(e)
    parts, depth, start = [], 0, 0
    i, n = 0, len(e)
    rx = re.compile(rf"\b{word}\b", flags=re.I)
    between_rx = re.compile(r"\bBETWEEN\b", flags=re.I)
    pending_between = 0
    while i < n:
        ch = blanked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            bm = between_rx.match(blanked, i)
            if bm and (i == 0 or not blanked[i - 1].isalnum()):
                pending_between += 1
                i = bm.end()
                continue
            m = rx.match(blanked, i)
            if m and (i == 0 or not blanked[i - 1].isalnum()):
                if word.upper() == "AND" and pending_between:
                    pending_between -= 1
                    i = m.end()
                    continue
                parts.append(e[start:i])
                start = m.end()
                i = m.end()
                continue
        i += 1
    parts.append(e[start:])
    return parts if len(parts) > 1 else [e]


def _balanced(s: str) -> bool:
    blanked = _blank_literals(s)
    depth = 0
    for ch in blanked:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def _where_pred(body: str, ft_leaves: list | None = None) -> Column:
    """A WHERE clause predicate.  Plain expressions go through the
    guarded SQL translator; clauses containing the full-text functions
    ``MATCH(field, "text"[, options])`` / ``QSTR("query")`` (ES|QL
    8.17+/8.18) compile those leaves through the query-DSL (`match`
    clause semantics — the documented exact token-overlap subset; QSTR
    is the ``?q=`` query-string subset) and combine them with the
    surrounding AND/OR/NOT boolean structure.

    ``ft_leaves`` (the METADATA _score path) collects every MATCH /
    colon-operator leaf as ``(field, query_text, leaf_pred)`` — the
    compiled predicate rides along so the caller can gate each BM25
    contribution on whether THAT leaf matched (operator /
    minimum_should_match options reshape leaf membership, so "BM25 > 0"
    alone is not the leaf's match test).  QSTR decomposes into its
    ``field:value`` leaves (term / wildcard / range / cmp /
    ``_exists_`` — ``query_dsl.uri_leaf_kind``): term leaves score
    like a MATCH leaf gated on their own equality predicate, non-term
    leaves pay a gated constant 1.0 — see ``_qstr_score_leaves``; a
    term whose query analyzes to zero tokens contributes no score
    (documented — it carries no term information to weigh)."""
    blanked = _blank_literals(body)
    if not _FT_PROBE.search(blanked) and ":" not in blanked:
        return _expr(body)
    from elasticsearch_hadoop_spark.query_dsl import (
        QueryDslError,
        compile_query,
    )
    from elasticsearch_hadoop_spark.functions.text import py_standard_analyze

    def _compile_ft(q) -> Column:
        # every full-text leaf keeps esql()'s typed-error contract
        try:
            return compile_query(q)
        except QueryDslError as exc:
            raise EsqlError(f"bad full-text clause: {exc}") from None

    def pred(e: str, neg: bool = False) -> Column:
        # ``neg`` marks must_not (filter) context: Lucene never scores a
        # negated clause, so leaves under ANY enclosing NOT stay out of
        # ft_leaves — they filter only
        e = e.strip()
        while (
            e.startswith("(")
            and e.endswith(")")
            and _balanced(e[1:-1])
        ):
            e = e[1:-1].strip()
        ors = _split_bool_top(e, "OR")
        if len(ors) > 1:
            out = pred(ors[0], neg)
            for p in ors[1:]:
                out = out | pred(p, neg)
            return out
        ands = _split_bool_top(e, "AND")
        if len(ands) > 1:
            out = pred(ands[0], neg)
            for p in ands[1:]:
                out = out & pred(p, neg)
            return out
        if re.match(r"^NOT\b", e, flags=re.I):
            return ~pred(e[3:], True)
        cm = _FT_COLON.match(e)
        if cm:  # the match OPERATOR: field : "query text"
            leaf = _compile_ft({"match": {cm.group(1): cm.group(2)[1:-1]}})
            if (
                ft_leaves is not None
                and not neg
                and py_standard_analyze(cm.group(2)[1:-1])
            ):
                ft_leaves.append((cm.group(1), cm.group(2)[1:-1], leaf))
            return leaf
        m = re.match(r"^(MATCH|QSTR)\s*\((.*)\)\s*$", e, flags=re.I | re.S)
        if m and _balanced(m.group(2)):
            fn, inner = m.group(1).upper(), m.group(2)
            args = [a.strip() for a in _split_top(inner)]
            if fn == "MATCH":
                if len(args) < 2:
                    raise EsqlError(
                        f"MATCH takes (field, query[, options]), got "
                        f"{len(args)} args: {e!r}"
                    )
                field, q = args[0], args[1]
                if not re.match(r'^"[^"]*"$', q):
                    raise EsqlError(f"MATCH query must be a string literal: {e!r}")
                opts = {}
                if len(args) > 2:
                    # the 8.18 named-options map — a JSON object literal
                    # (re-joined: _split_top splits on the map's internal
                    # commas, it tracks parens, not braces); supported
                    # subset mirrors the match clause
                    import json as _json

                    opts_txt = ",".join(args[2:])
                    try:
                        opts = _json.loads(opts_txt)
                        if not isinstance(opts, dict):
                            raise ValueError
                    except ValueError:
                        raise EsqlError(
                            f"MATCH options must be a JSON object: {opts_txt!r}"
                        ) from None
                    allowed = {
                        "operator", "minimum_should_match",
                        "zero_terms_query", "fuzziness",
                    }
                    bad = sorted(set(opts) - allowed)
                    if bad:
                        raise EsqlError(f"unsupported MATCH options {bad!r}")
                    # option VALUES validate here too — ES rejects the
                    # query with 400 where a silent default would return
                    # wrong rows
                    op = opts.get("operator", "or")
                    if not isinstance(op, str) or op.lower() not in ("and", "or"):
                        raise EsqlError(f"MATCH operator must be and|or: {op!r}")
                    ztq = opts.get("zero_terms_query", "none")
                    if not isinstance(ztq, str) or ztq.lower() not in (
                        "all", "none",
                    ):
                        raise EsqlError(
                            f"MATCH zero_terms_query must be all|none: {ztq!r}"
                        )
                if ft_leaves is not None and not neg and "fuzziness" in opts:
                    # fuzzy expansion scoring needs per-expanded-term
                    # idf — out of the scored subset (filter-only)
                    raise EsqlError(
                        "MATCH with fuzziness cannot score (METADATA "
                        "_score) — drop the option or the _score"
                    )
                body_q = {"query": q[1:-1], **opts} if opts else q[1:-1]
                leaf = _compile_ft({"match": {field: body_q}})
                if (
                    ft_leaves is not None
                    and not neg
                    and py_standard_analyze(q[1:-1])
                ):
                    ft_leaves.append((field, q[1:-1], leaf))
                return leaf
            if len(args) != 1 or not re.match(r'^"[^"]*"$', args[0]):
                raise EsqlError(f"QSTR takes one string literal, got: {e!r}")
            qs = args[0][1:-1]
            out = _compile_ft(qs)
            if ft_leaves is not None and not neg:
                ft_leaves.extend(_qstr_score_leaves(qs))
            return out
        return _expr(e)

    return pred(body)


def _qstr_score_leaves(qs: str) -> list[tuple[str, str | None, Column]]:
    """The scored QSTR subset (ES's ``query_string`` scores; round 12,
    widened round 13): the engine's QSTR compiles the ``?q=`` URI-lite
    grammar — ``field:value`` pairs joined by AND/OR, where a value is
    a term, a ``va*``/``v?`` wildcard, a ``[a TO b]``/``{a TO b}``
    range, or a ``>n`` comparison (``query_dsl.uri_leaf_kind``).  Under
    ``METADATA _score``:

    - a TERM leaf contributes its BM25 over the field exactly like a
      MATCH leaf, gated on the leaf's OWN equality predicate (the URI
      subset's filter semantics: a document surviving the WHERE through
      another OR branch while failing this leaf gets exactly 0 from
      it).  A value that does not analyze to exactly ONE token carries
      no single-term statistics and contributes no score (documented —
      same rule as a zero-token MATCH).
    - a WILDCARD / RANGE / CMP leaf contributes a CONSTANT 1.0 when its
      predicate matches — Lucene rewrites multi-term and range queries
      under query_string to constant_score (boost 1.0, no corpus
      statistics), and a ConstantScoreQuery clause adds its boost to
      the BooleanQuery sum.  Emitted as ``(field, None, pred)``;
      ``_where_scored`` turns the None query into the gated constant.

    Case-sensitivity asymmetry (documented; ADVICE r12): the gate is
    the filter's RAW equality (``uri_pair_clause``, case-sensitive —
    keyword semantics in a columnar store) while the BM25 df/idf
    statistics count the ANALYZED (lowercased) token.  A mixed-case
    value therefore takes idf over documents containing any case
    variant but gates on the exact form — ES's query_string, which
    analyzes both sides, would also MATCH the case variants.  The
    deviation is deliberate: analyzing the gate would silently widen
    the FILTER for every `?q=` user (single-source grammar), trading a
    visible scoring nuance for a correctness change.

    The pairs and their gate predicates come from query_dsl's
    ``uri_query_parts``/``uri_pair_clause`` — the same single-source
    grammar the filter compiles through, so the leaf a document scores
    is always exactly the leaf it filtered on (review r12c)."""
    from elasticsearch_hadoop_spark.functions.text import py_standard_analyze
    from elasticsearch_hadoop_spark.query_dsl import (
        uri_leaf_kind,
        uri_pair_clause,
        uri_query_parts,
    )

    leaves: list[tuple[str, str | None, Column]] = []
    for _op, field, value in uri_query_parts(qs):
        kind, payload = uri_leaf_kind(value)
        clause = uri_pair_clause(field, value, kind=(kind, payload))
        if field == "_exists_":
            # ES wraps FieldExistsQuery in constant_score: 1.0, no stats
            leaves.append((field, None, clause))
        elif kind == "term":
            if len(py_standard_analyze(payload)) != 1:
                continue
            leaves.append((field, payload, clause))
        else:
            leaves.append((field, None, clause))
    return leaves


def _where_scored(df: DataFrame, body: str) -> DataFrame:
    """ES|QL 8.18 scored WHERE (active when ``METADATA _score`` was
    requested): every MATCH / colon / QSTR-term full-text leaf
    contributes its BM25 score to the ``_score`` column, pure filters
    contribute 0 — Lucene's BooleanQuery sum-of-matching-clauses.
    QSTR wildcard/range/cmp leaves (round 13) arrive with a None query
    text and contribute a gated CONSTANT 1.0 — Lucene's constant_score
    rewrite for multi-term queries (no corpus statistics, boost added
    to the sum).  Each contribution is
    GATED on the leaf's own compiled predicate (review r11c): with
    ``operator``/``minimum_should_match`` options the leaf's membership
    is narrower than "any term present", so a document surviving the
    WHERE through another OR/NOT branch while failing the leaf must get
    exactly 0 from it — the coalesce alone would pay partial term
    matches.  For a MATCHING document the leaf pays the BM25 sum over
    its present terms, which is precisely Lucene's BooleanQuery score
    for the clause under every operator/msm setting.  Leaves under an
    enclosing NOT are must_not clauses — filter context, never scored
    (they are not collected at all).

    Scale: ONE corpus-statistics aggregation per DISTINCT FIELD (all
    leaves on a field share its 1-row stats frame — bm25_score_multi,
    review r12a follow-up) + one scoring projection, each stats frame a
    broadcast 1-row attach; the filter itself is unchanged.  All score
    columns attach in ONE bm25_score_multi call over the pristine WHERE
    input — chained per-leaf scorers re-read each other's attaches and
    planned 2^N source scans (review r12a).  Corpus statistics over
    the WHERE input are the engine's documented equivalent of ES's
    per-shard index statistics; a pre-filtered pipeline input shifts
    scores with the pipeline prefix."""
    from elasticsearch_hadoop_spark.search import bm25_score_multi

    leaves: list[tuple[str, str | None, Column]] = []
    p = _where_pred(body, ft_leaves=leaves)
    # one score column per DISTINCT (field, query) — repeated leaves
    # share the column; each occurrence still contributes separately
    # through its own gate, matching Lucene's one-clause-one-contribution
    # scoring.  None-query (constant-score) leaves need no stats column.
    col_of: dict[tuple[str, str], str] = {}
    for field, qtext, _pred in leaves:
        if qtext is None:
            continue
        key = (field, qtext)
        if key not in col_of:
            col_of[key] = f"__ft_s{len(col_of)}"
    # scoring starts from the pristine df, so the default stats frames
    # (also over df) already give the N-fields + 1 scan shape
    out = bm25_score_multi(df, [(f, q, c) for (f, q), c in col_of.items()])
    contrib = None
    for field, qtext, leaf_pred in leaves:
        if qtext is None:
            add = F.when(leaf_pred, F.lit(1.0)).otherwise(F.lit(0.0))
        else:
            c = col_of[(field, qtext)]
            add = F.when(leaf_pred, F.coalesce(F.col(c), F.lit(0.0))).otherwise(
                F.lit(0.0)
            )
        contrib = add if contrib is None else contrib + add
    out = out.filter(p)
    if contrib is not None:
        out = out.withColumn("_score", F.col("_score") + contrib)
    return out.drop(*col_of.values())


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside parentheses and quotes."""
    parts, depth, buf, q = [], 0, [], None
    for ch in s:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            buf.append(ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _expand_cols(df: DataFrame, names: list[str]) -> list[str]:
    out: list[str] = []
    for n in names:
        if "*" in n:
            import fnmatch

            hits = [c for c in df.columns if fnmatch.fnmatch(c, n)]
            if not hits:
                raise EsqlError(f"no columns match {n!r}")
            out.extend(h for h in hits if h not in out)
        elif n not in df.columns:
            raise EsqlError(f"unknown column {n!r}")
        elif n not in out:
            out.append(n)
    return out


def _blank_literals(s: str) -> str:
    """Same-length copy with string-literal CONTENT spaced out, so regex
    keyword searches (BY, WHERE) can run positionally without ever
    matching inside a literal."""
    out, q = [], None
    for ch in s:
        if q:
            out.append(ch if ch == q else " ")
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
            out.append(ch)
        else:
            out.append(ch)
    return "".join(out)


_CATEGORIZE_RE = re.compile(r"^CATEGORIZE\s*\((.+)\)\s*$", flags=re.I | re.S)


def _stats(df: DataFrame, body: str) -> DataFrame:
    by_m = re.search(r"\bBY\b", _blank_literals(body), flags=re.I)
    agg_part = body[: by_m.start()] if by_m else body
    keys: list[tuple[str, Column]] = []
    if by_m:
        for i, k in enumerate(_split_top(body[by_m.end():])):
            k = k.strip()
            named = "=" in k and "==" not in k
            name, expr_txt = (
                (s.strip() for s in k.split("=", 1)) if named else (k, k)
            )
            cm = _CATEGORIZE_RE.match(expr_txt)
            if cm:
                # ES|QL CATEGORIZE (8.16+): the ml category key as a
                # grouping function — ES requires it to be the FIRST and
                # ONLY CATEGORIZE among the BY keys; this engine's key is
                # the deterministic variable-free token sequence
                # (aggs_dsl.categorize_key, one shared expression with
                # the categorize_text agg — same documented deviation
                # from ES's Drain-style merge step)
                if i != 0:
                    raise EsqlError(
                        "CATEGORIZE must be the first BY key (ES|QL rule)"
                    )
                from elasticsearch_hadoop_spark.aggs_dsl import categorize_key

                keys.append((name, categorize_key(_expr(cm.group(1)))))
                continue
            if named:
                keys.append((name, _expr(expr_txt)))
            elif "(" in k:
                # bare computed key (ES|QL allows e.g. BY BUCKET(ts, "1 day"));
                # auto-named by its text, like ES|QL's column naming
                keys.append((k, _expr(k)))
            else:
                keys.append((k, F.col(k)))
    aggs: list[Column] = []
    agg_names: list[str] = []
    # (alias, gated value expr, limit, asc) per TOP aggregate —
    # compiled after the loop via the bounded-carry pre-stage
    top_specs: list[tuple[str, Column, int, bool]] = []
    for item in _split_top(agg_part):
        name = None
        m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", item, flags=re.S)
        if m and "==" not in item.split("=", 1)[0]:
            name, item = m.group(1), m.group(2).strip()
        # per-aggregate WHERE (8.16+): AGG(expr) WHERE cond — the filtered
        # aggregate; compiles to agg(when(cond, expr)) so it stays inside
        # the same single hash aggregation
        cond = None
        wm = re.search(
            r"\)\s+WHERE\s+(.+)$", _blank_literals(item), flags=re.I | re.S
        )
        if wm:
            cond = _expr(item[wm.start(1):])
            item = item[: wm.start() + 1].strip()
        fm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)$", item, flags=re.S)
        if not fm:
            raise EsqlError(f"STATS needs AGG(expr) items, got {item!r}")
        fname, inner = fm.group(1).lower(), fm.group(2).strip()
        if fname in _TS_FNS or _TS_FN_RE.search(_blank_literals(inner)):
            raise EsqlError(
                "time-series aggregates (rate / *_over_time) need a TS "
                "source with a time_series spec, not FROM"
            )

        def _gate(c: Column) -> Column:
            return F.when(cond, c) if cond is not None else c

        if fname == "percentile":
            args = _split_top(inner)
            if len(args) != 2:
                raise EsqlError(f"PERCENTILE needs (expr, p): {item!r}")
            col = F.percentile(_gate(_expr(args[0])), F.lit(float(args[1]) / 100.0))
        elif fname == "weighted_avg":
            args = _split_top(inner)
            if len(args) != 2:
                raise EsqlError(f"WEIGHTED_AVG needs (expr, weight): {item!r}")
            v, w = _expr(args[0]), _expr(args[1])
            # rows with a null VALUE are skipped entirely (ES|QL) — their
            # weight must not deflate the denominator
            col = F.sum(_gate(v * w)) / F.sum(_gate(F.when(v.isNotNull(), w)))
        elif fname == "top":
            # TOP(field, limit, "asc"|"desc"): the limit highest/lowest
            # values as an array.  NOT compiled as collect-then-slice —
            # that buffers every group value before capping (the hot-key
            # OOM class, same as the r9 eql_sample finding; ES's TopList
            # agg holds a bounded heap).  Instead the spec is recorded
            # and _stats pre-bounds the carry with a row_number window
            # BEFORE the aggregation (WindowGroupLimit drops past-limit
            # rows map-side); other aggregates still see every row via
            # the split-and-join below.
            args = _split_top(inner)
            if len(args) != 3:
                raise EsqlError(f"TOP needs (field, limit, order): {item!r}")
            limit, asc = _top_limit_order(args[1], args[2], item)
            top_specs.append(
                (name or item.lower(), _gate(_expr(args[0])), limit, asc)
            )
            agg_names.append(name or item.lower())
            aggs.append(None)  # placeholder keeps declared order
            continue
        elif fname == "count" and inner in ("*", ""):
            col = F.count(_gate(F.lit(1)))
        elif fname in _AGGS:
            col = _AGGS[fname](_gate(_expr(inner)))
        else:
            raise EsqlError(f"unsupported aggregate {fname!r}")
        aggs.append(col.alias(name or item.lower()))
        agg_names.append(name or item.lower())

    if not top_specs:
        if keys:
            return df.groupBy(*[e.alias(n) for n, e in keys]).agg(*aggs)
        return df.agg(*aggs)
    return _agg_with_tops(df, keys, aggs, agg_names, top_specs)


def _top_limit_order(limit_txt: str, order_txt: str, item: str) -> tuple[int, bool]:
    """Validate TOP's (limit, order) literal args — shared by the plain
    STATS path and the TS STATS path."""
    order = order_txt.strip().strip("'\"").lower()
    if order not in ("asc", "desc"):
        raise EsqlError(f"TOP order must be asc|desc: {item!r}")
    try:
        limit = int(limit_txt)
    except ValueError:
        raise EsqlError(
            f"TOP limit must be an integer literal: {item!r}"
        ) from None
    if limit < 1:
        # ES|QL rejects non-positive limits at validation time;
        # silently compiling one would drop whole groups here
        raise EsqlError(f"TOP limit must be >= 1, got {limit}")
    if limit > 2**31 - 1:
        # DataFrame.limit takes a Java int — past Int32 the
        # global path would raise an opaque Py4JError
        raise EsqlError(f"TOP limit must fit an int32, got {limit}")
    return limit, order == "asc"


def _agg_with_tops(
    df: DataFrame,
    keys: list[tuple[str, Column]],
    aggs: list[Column | None],
    agg_names: list[str],
    top_specs: list[tuple[str, Column, int, bool]],
) -> DataFrame:
    """The bounded TOP aggregation: group ``df`` by ``keys`` computing
    ``aggs`` (None placeholders mark TOP slots, declared order kept via
    ``agg_names``) plus one bounded top-k array per ``top_specs`` entry.
    Shared by plain STATS and TS STATS (where it runs over the per-series
    frame).

    Each TOP gets its OWN bounded frame: row_number over (keys, gated
    value) with nulls LAST, then a CONJUNCTIVE `rn <= limit` filter —
    the shape InferWindowGroupLimit recognizes, so Spark plans
    WindowGroupLimit Partial+Final and a hot group's past-limit rows
    drop map-side before the exchange.  (A single shared frame with an
    OR over several tops' ranks defeats the optimization — review
    r10d-1 — and would full-sort every hot-group row through every
    window.)  Every group survives its frame: row_number assigns 1 to
    some row even when all values are NULL, and the collect's notnull
    gate then yields []. Non-TOP aggregates run over the UNFILTERED
    rows; all frames join back null-safely on the materialized keys
    (groupBy groups nulls, the join must too), declared column order
    restored at the end.  row_number tie-breaks are partition-order-
    dependent, but ties are EQUAL VALUES — the top-k multiset is
    deterministic either way.  Each aggregation buffer holds <= limit
    values; each TOP costs one bounded window pass + one tiny agg.

    Cost trade (documented, ADVICE r10): the split re-evaluates the
    upstream pipeline once per TOP frame plus once for the base
    aggregate — N+1 source scans.  Fine when the input is a scan
    (pushdown + pruning make each pass cheap); callers stacking several
    TOPs on an EXPENSIVE computed pipeline should persist it first."""
    all_names = [n for n, _ in keys] + agg_names
    dupes = sorted({n for n in all_names if all_names.count(n) > 1})
    if dupes:
        # the exact-name lookups in the join-back select would silently
        # collapse same-named columns to the last frame's values (the
        # plain-agg path keeps Spark's duplicate columns; here it would
        # be WRONG data, so fail loudly)
        raise EsqlError(
            f"STATS with TOP needs unique output names, duplicated: {dupes}"
        )
    tmp = df
    key_cols = []
    for i, (_, e) in enumerate(keys):
        tmp = tmp.withColumn(f"__sk{i}", e)
        key_cols.append(f"__sk{i}")
    part = [F.col(c) for c in key_cols]
    gb = [F.col(c).alias(n) for c, (n, _) in zip(key_cols, keys)]

    def top_frame(j: int, alias: str, gexpr: Column, limit: int, asc: bool):
        t = tmp.withColumn(f"__tv{j}", gexpr)
        tv = F.col(f"__tv{j}")
        if not gb:
            # global TOP: an empty partition spec would funnel the WHOLE
            # input through one window partition's sort (no
            # WindowGroupLimit is planned for it either) — use
            # orderBy+limit instead, which plans TakeOrderedAndProject:
            # per-partition top-k heaps, driver merges k rows.  agg over
            # the <= limit survivors still emits its one row on empty
            # input (ES|QL's global-STATS contract).
            t = t.filter(tv.isNotNull()).orderBy(
                tv.asc() if asc else tv.desc()
            ).limit(limit)
            return t.agg(F.sort_array(F.collect_list(tv), asc=asc).alias(alias))
        order_col = tv.asc_nulls_last() if asc else tv.desc_nulls_last()
        w = Window.partitionBy(*part).orderBy(order_col)
        t = t.withColumn(f"__tr{j}", F.row_number().over(w)).filter(
            F.col(f"__tr{j}") <= limit
        )
        # the frame is already rn-filtered, so the collected array can
        # never exceed `limit` elements — no slice needed
        col = F.sort_array(
            F.collect_list(
                F.when(tv.isNotNull(), tv)
            ),
            asc=asc,
        ).alias(alias)
        return t.groupBy(*gb).agg(col)

    frames = [
        (alias, top_frame(j, alias, gexpr, limit, asc))
        for j, (alias, gexpr, limit, asc) in enumerate(top_specs)
    ]
    other = [a for a in aggs if a is not None]
    top_names = {alias for alias, _ in frames}
    if other:
        base = tmp.groupBy(*gb).agg(*other) if gb else tmp.agg(*other)
        joins = frames
    else:
        base, joins = frames[0][1], frames[1:]
    # column references go through frame indexing (exact-name lookup) —
    # auto-named aggregates like `top(v, 2, "desc")` contain characters
    # F.col would misparse
    base = base.alias("__stats_m")
    if not gb:
        joined = base
        for _, fr in joins:
            joined = joined.crossJoin(F.broadcast(fr))
        return joined.select(*[joined[n] for n in agg_names])
    col_of = {n: base[n] for n, _ in keys}
    col_of.update((n, base[n]) for n in agg_names if n not in top_names)
    if not other:
        col_of[frames[0][0]] = base[frames[0][0]]
    joined = base
    for k, (alias, fr) in enumerate(joins):
        fr = fr.alias(f"__stats_t{k}")
        pred = None
        for n, _ in keys:
            c = base[n].eqNullSafe(fr[n])
            pred = c if pred is None else (pred & c)
        joined = joined.join(fr, pred, "left")
        col_of[alias] = fr[alias]
    # restore the declared column order: keys, then aggregates as written
    sel = [col_of[n] for n, _ in keys]
    sel.extend(col_of[n] for n in agg_names)
    return joined.select(*sel)


# ES|QL 9.x time-series aggregation functions (usable only in a STATS
# over a TS source, and only wrapped in an outer aggregate — ES's rule)
_TS_FNS = {
    "rate", "first_over_time", "last_over_time", "max_over_time",
    "min_over_time", "avg_over_time", "sum_over_time", "count_over_time",
    "count_distinct_over_time",
}
_TS_FN_RE = re.compile(
    r"\b(" + "|".join(sorted(_TS_FNS)) + r")\s*\(", flags=re.I
)


def _stats_ts(df: DataFrame, body: str, spec: dict) -> DataFrame:
    """ES|QL 9.x ``TS ... | STATS outer(ts_fn(field)) BY keys`` — the
    two-stage time-series aggregation: the inner function evaluates once
    per TIME SERIES (the dimension tuple) per group, the outer aggregate
    combines series within each BY group.

    ``rate(f)`` is the counter rate per (series, group): the sum of
    sample-to-sample increases — a drop is a counter reset, contributing
    the post-reset value, Prometheus/ES semantics — divided by the
    series' observed seconds in the group (last - first sample
    timestamp, fractional seconds kept); fewer than two samples or a
    zero span yield NULL (no extrapolation — deterministic, where ES
    9.x extrapolates to the bucket edges).  ``*_over_time`` are plain
    per-series aggregates; first/last break timestamp ties by the value
    (max_by/min_by on a (ts, value) struct — layout-independent, same
    discipline as Catalog.downsample_index).

    Scale shape: one window pass partitioned by (dimensions, BY keys)
    only when a rate is requested, then two hash aggregations (series
    then group) — the natural TSDS layout is already partitioned by
    series, so the window and first aggregation are co-located.

    Contract notes: every STATS item must be OUTER(TS_FN(expr)) — ES
    rejects both a bare ts-function and a mix with row-level aggregates
    in the same TS STATS; this engine does too."""
    from pyspark.sql.window import Window

    dims = list(spec.get("dimensions", []))
    ts_col = spec.get("timestamp", "@timestamp")
    by_m = re.search(r"\bBY\b", _blank_literals(body), flags=re.I)
    agg_part = body[: by_m.start()] if by_m else body
    keys: list[tuple[str, Column]] = []
    if by_m:
        for k in _split_top(body[by_m.end():]):
            k = k.strip()
            if "=" in k and "==" not in k:
                name, expr = k.split("=", 1)
                keys.append((name.strip(), _expr(expr)))
            elif "(" in k:
                keys.append((k, _expr(k)))
            else:
                keys.append((k, F.col(k)))

    # (alias, outer, ts_fn, inner, limit, asc) — limit/asc only for TOP
    items: list[tuple[str, str, str, str, int | None, bool | None]] = []
    for item in _split_top(agg_part):
        alias = None
        m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", item, flags=re.S)
        if m and "==" not in item.split("=", 1)[0]:
            alias, item = m.group(1), m.group(2).strip()
        om = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)$", item, flags=re.S)
        if not om:
            raise EsqlError(f"STATS needs AGG(expr) items, got {item!r}")
        outer, inner = om.group(1).lower(), om.group(2).strip()
        if outer in _TS_FNS:
            raise EsqlError(
                f"time-series aggregate {outer!r} must be wrapped in an "
                "outer aggregate (e.g. MAX(RATE(f))) — ES|QL TS rule"
            )
        limit = asc = None
        if outer == "top":
            # TOP(ts_fn(expr), limit, order): the limit highest/lowest
            # PER-SERIES values within each BY group, as an array — the
            # same bounded-carry compilation as plain STATS TOP, run over
            # the per-series frame (one row per series per group)
            targs = _split_top(inner)
            if len(targs) != 3:
                raise EsqlError(f"TOP needs (ts_fn(expr), limit, order): {item!r}")
            inner = targs[0].strip()
            limit, asc = _top_limit_order(targs[1], targs[2], item)
        im = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)$", inner, flags=re.S)
        if not im or im.group(1).lower() not in _TS_FNS:
            raise EsqlError(
                "every aggregate in a TS STATS must wrap a time-series "
                f"function (rate / *_over_time), got {item!r}"
            )
        if outer != "top" and (outer not in _AGGS or outer in ("values",)):
            raise EsqlError(f"unsupported outer aggregate {outer!r} in TS STATS")
        items.append(
            (
                alias or item.lower(),
                outer,
                im.group(1).lower(),
                im.group(2).strip(),
                limit,
                asc,
            )
        )
    if not items:
        raise EsqlError("TS STATS needs at least one aggregate")

    # materialize BY key expressions so the series window and both
    # aggregations share the exact computed columns
    cur = df
    key_cols: list[str] = []
    for i, (_, kexpr) in enumerate(keys):
        col = f"__ts_k_{i}"
        cur = cur.withColumn(col, kexpr)
        key_cols.append(col)
    ts_sec = F.col(ts_col).cast("timestamp").cast("double")

    # identical (ts_fn, inner-expr) pairs across STATS items share ONE
    # per-series buffer (review r12g): MAX(RATE(v)), AVG(RATE(v)),
    # COUNT(RATE(v)) carries one lag-contribution column and one
    # (sum, span) aggregate pair, not three — canon maps the pair to the
    # first item index that computes it, v_col[i] names the per-series
    # column item i reads
    series_aggs: list[Column] = []
    canon: dict[tuple[str, str], int] = {}
    v_col: list[str] = []
    for i, (_, _outer, fn, inner, _limit, _asc) in enumerate(items):
        key = (fn, inner)
        if key in canon:
            v_col.append(f"__ts_v_{canon[key]}")
            continue
        canon[key] = i
        v_col.append(f"__ts_v_{i}")
        v = _expr(inner)
        out = f"__ts_v_{i}"
        if fn == "rate":
            w = Window.partitionBy(*dims, *key_cols).orderBy(
                F.col(ts_col).asc(), v.asc()
            )
            prev = F.lag(v).over(w)
            contrib = F.when(prev.isNull(), F.lit(None)).otherwise(
                F.when(v >= prev, v - prev).otherwise(v)
            )
            cur = cur.withColumn(f"__ts_rc_{i}", contrib)
            series_aggs += [
                F.sum(f"__ts_rc_{i}").alias(f"__ts_inc_{i}"),
                (F.max(ts_sec) - F.min(ts_sec)).alias(f"__ts_span_{i}"),
            ]
        elif fn == "first_over_time":
            series_aggs.append(F.min_by(v, F.struct(F.col(ts_col), v)).alias(out))
        elif fn == "last_over_time":
            series_aggs.append(F.max_by(v, F.struct(F.col(ts_col), v)).alias(out))
        elif fn == "count_over_time":
            series_aggs.append(F.count(v).alias(out))
        elif fn == "count_distinct_over_time":
            series_aggs.append(F.countDistinct(v).alias(out))
        else:  # max/min/avg/sum _over_time
            series_aggs.append(
                getattr(F, fn[: -len("_over_time")])(v).alias(out)
            )
    per_series = cur.groupBy(
        *[F.col(d) for d in dims], *[F.col(c) for c in key_cols]
    ).agg(*series_aggs)
    # rate finalization: increase / span, NULL under 2 samples / zero span
    # (canonical items only — duplicates read the canonical column)
    for i, (_, _outer, fn, inner, _limit, _asc) in enumerate(items):
        if fn == "rate" and canon[(fn, inner)] == i:
            span = F.col(f"__ts_span_{i}")
            per_series = per_series.withColumn(
                f"__ts_v_{i}",
                F.when(span > 0, F.col(f"__ts_inc_{i}") / span),
            )

    # outer aggregation over the per-series frame — TOP slots go through
    # the same bounded-carry machinery as plain STATS (_agg_with_tops):
    # per-series rows can number in the millions at TSDS cardinalities,
    # so the top-k buffer must stay capped map-side there too
    outer_aggs: list[Column | None] = []
    agg_names: list[str] = []
    top_specs: list[tuple[str, Column, int, bool]] = []
    for i, (alias, outer, _fn, _inner, limit, asc) in enumerate(items):
        agg_names.append(alias)
        if outer == "top":
            outer_aggs.append(None)
            top_specs.append((alias, F.col(v_col[i]), limit, asc))
        else:
            outer_aggs.append(_AGGS[outer](F.col(v_col[i])).alias(alias))
    out_keys = [(n, F.col(c)) for (n, _), c in zip(keys, key_cols)]
    if top_specs:
        # the per-series frame is the EXPENSIVE computed pipeline the
        # _agg_with_tops docstring warns about (a full fact-row shuffle +
        # aggregation, and a rate's window pass) — localCheckpoint it so
        # the N+1 TOP/base passes re-read the materialized series rows
        # (one row per series per group) instead of re-aggregating the
        # facts once per frame.  Lazy: materializes at the first action.
        # Fault-tolerance trade, documented (ADVICE r11): checkpoint
        # blocks are executor-local and non-replayable, so an executor
        # loss mid-query fails the job instead of recomputing lineage.
        # persist(MEMORY_AND_DISK) was evaluated and REJECTED (review
        # r12b): DataFrame persistence registers in the session
        # CacheManager keyed by the analyzed plan with no release path
        # here (entries accumulate for the app lifetime), and a repeated
        # identical query silently plan-matches the first run's cache —
        # checkpoint blocks are per-call private and ContextCleaner-
        # released after the frame is GC'd.
        per_series = per_series.localCheckpoint(eager=False)
        return _agg_with_tops(per_series, out_keys, outer_aggs, agg_names, top_specs)
    if keys:
        return per_series.groupBy(
            *[e.alias(n) for n, e in out_keys]
        ).agg(*outer_aggs)
    return per_series.agg(*outer_aggs)


_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "INT": r"[+-]?\d+",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "EMAILADDRESS": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
}
_GROK_REF = re.compile(r"%\{(\w+):(\w+)(?::(\w+))?\}")
_GROK_TYPES = {"int": "int", "long": "bigint", "float": "float", "double": "double"}


def _grok_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    keys: list[tuple[str, str | None]] = []

    def sub(m):
        pat = _GROK_PATTERNS.get(m.group(1))
        if pat is None:
            raise EsqlError(f"unsupported grok pattern %{{{m.group(1)}}}")
        t = m.group(3)
        if t is not None and t not in _GROK_TYPES:
            raise EsqlError(f"unsupported grok type suffix :{t}")
        keys.append((m.group(2), _GROK_TYPES.get(t) if t else None))
        return f"({pat})"

    parts = []
    pos = 0
    for m in _GROK_REF.finditer(pattern):
        parts.append(re.escape(pattern[pos: m.start()]))
        parts.append(sub(m))
        pos = m.end()
    parts.append(re.escape(pattern[pos:]))
    if not keys:
        raise EsqlError(f"grok pattern extracts nothing: {pattern!r}")
    return "".join(parts), keys


def esql(
    query: str,
    tables: dict[str, DataFrame] | None = None,
    catalog=None,
    enrich_policies: dict[str, DataFrame] | None = None,
    time_series: dict[str, dict] | None = None,
) -> DataFrame:
    """Compile and run an ES|QL query.  ``FROM x`` resolves ``x`` in
    ``tables`` first, then through ``catalog.read_index`` (wildcards and
    aliases included).

    ``TS x`` (9.x time-series querying) resolves sources the same way
    but requires a ``time_series`` entry per source —
    ``{"x": {"dimensions": [...], "timestamp": "col"}}`` — standing in
    for the ``time_series_dimension`` mappings ES reads from the TSDS
    index (same parameter convention as ``Catalog.downsample_index``)."""
    stages = _split_top(query.strip(), "|")
    if not stages:
        raise EsqlError("empty query")
    head = stages[0].strip()
    hm = re.match(r"^(FROM|ROW|TS)\b(.*)$", head, flags=re.I | re.S)
    if not hm:
        raise EsqlError("query must start with FROM, ROW, or TS")
    score_requested = False
    if hm.group(1).upper() == "ROW":
        cols = []
        for item in _split_top(hm.group(2)):
            name, expr = item.split("=", 1)
            cols.append(_expr(expr).alias(name.strip()))
        if catalog is not None:
            spark = catalog.spark
        elif tables:
            spark = next(iter(tables.values())).sparkSession
        else:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise EsqlError("ROW needs an active SparkSession")
        df = spark.range(1).select(*cols)
    else:
        body = hm.group(2)
        # FROM idx[, idx2] [METADATA _index, _id]: requested metadata
        # columns survive as named columns (ES|QL 8.11+ contract); the
        # catalog read carries them, a `tables` frame must already have
        # them
        meta_cols: list[str] = []
        mm = re.search(r"\bMETADATA\b(.*)$", body, flags=re.I | re.S)
        if mm:
            meta_cols = [c.strip() for c in _split_top(mm.group(1)) if c.strip()]
            bad = [
                c for c in meta_cols
                if c not in ("_index", "_id", "_routing", "_score")
            ]
            if bad:
                raise EsqlError(f"unsupported METADATA columns {bad!r}")
            body = body[: mm.start()]
        # _score is synthesized, not stored (ES initializes it per query;
        # 8.18+ full-text WHERE leaves then accumulate BM25 into it)
        stored_meta = [c for c in meta_cols if c != "_score"]
        sources = [s.strip() for s in _split_top(body)]
        frames = []
        for s in sources:
            if tables and s in tables:
                f2 = tables[s]
                missing = [c for c in stored_meta if c not in f2.columns]
                if missing:
                    raise EsqlError(
                        f"source {s!r} has no metadata columns {missing!r}"
                    )
                frames.append(f2)
            elif catalog is not None:
                f2 = catalog.read_index(s, metadata=bool(stored_meta))
                if "_index" in meta_cols and "_index" not in f2.columns:
                    # single-index reads carry no _index column — the
                    # resolved source name IS the index
                    f2 = f2.withColumn("_index", F.lit(s))
                missing = [c for c in stored_meta if c not in f2.columns]
                if missing:
                    raise EsqlError(
                        f"source {s!r} has no metadata columns {missing!r}"
                    )
                drop = [c for c in ("_id", "_index", "_routing", "_metadata")
                        if c in f2.columns and c not in meta_cols]
                frames.append(f2.drop(*drop))
            else:
                raise EsqlError(f"unknown source {s!r} (no catalog given)")
        df = frames[0]
        for f2 in frames[1:]:
            df = df.unionByName(f2, allowMissingColumns=True)
        if "_score" in meta_cols:
            # unconditional: ES synthesizes _score fresh per query, so a
            # `tables` frame that already carries one (search()/bm25_score
            # emit _score by default) is re-initialized, never accumulated
            # into (ADVICE r11)
            df = df.withColumn("_score", F.lit(0.0).cast("double"))
            score_requested = True

    ts_spec = None
    if hm.group(1).upper() == "TS":
        if not time_series:
            raise EsqlError(
                "TS needs time_series={source: {'dimensions': [...], "
                "'timestamp': col}} — the engine's stand-in for ES's "
                "time_series_dimension mappings"
            )
        missing = [s for s in sources if s not in time_series]
        if missing:
            raise EsqlError(f"TS sources missing time_series specs: {missing!r}")
        specs = [time_series[s] for s in sources]
        if any(sp != specs[0] for sp in specs[1:]):
            raise EsqlError("TS sources must share one time_series spec")
        ts_spec = specs[0]
        bad = [c for c in [*ts_spec.get("dimensions", []),
                           ts_spec.get("timestamp", "@timestamp")]
               if c not in df.columns]
        if bad:
            raise EsqlError(f"time_series spec columns not in source: {bad!r}")

    return _apply_stages(
        df, stages[1:], tables, catalog, enrich_policies, ts_spec=ts_spec,
        score_requested=score_requested, cap=True,
    )


def _fuse(df: DataFrame, body: str) -> DataFrame:
    """ES|QL ``FUSE`` (8.19+, upstream `FuseOperator` semantics per the
    published docs): merge the ``_fork`` branches of the current frame
    into one ranked list keyed by ``_id`` (+ ``_index`` when present).

    Scale shape: FORK branches are top-k lists (each branch ends in its
    own SORT/LIMIT), so the per-branch ranking window and the final hash
    aggregation run over bounded frames — the corpus is never re-read.

    Determinism notes (documented divergences from server behavior, both
    required for an exact SQL oracle): per-branch rank orders by
    ``_score`` descending with the group key as tiebreak (ES uses branch
    arrival order, which a shuffled frame cannot reproduce); merged
    non-score columns take ``max`` ignoring nulls (ES keeps the first
    non-null branch value — identical whenever branches project the same
    source fields, which is the common case)."""
    from pyspark.sql.window import Window

    m = re.match(
        r"^(?:(rrf|linear)\b)?\s*(?:WITH\b(.*))?$", body.strip(), flags=re.I | re.S
    )
    if not m:
        raise EsqlError(f"FUSE syntax: FUSE [rrf|linear] [WITH k=v, ...]: {body!r}")
    method = (m.group(1) or "rrf").lower()
    opts: dict[str, str] = {}
    if m.group(2):
        for item in _split_top(m.group(2)):
            if "=" not in item:
                raise EsqlError(f"FUSE WITH needs key=value items: {item!r}")
            k, v = item.split("=", 1)
            opts[k.strip().lower()] = v.strip().strip("\"'")
    bad = set(opts) - {"rank_constant", "normalizer"}
    if bad:
        raise EsqlError(f"unsupported FUSE options {sorted(bad)!r}")
    if "rank_constant" in opts and method != "rrf":
        raise EsqlError("rank_constant applies to FUSE rrf only")
    if "normalizer" in opts and method != "linear":
        raise EsqlError("normalizer applies to FUSE linear only")
    normalizer = opts.get("normalizer", "none")
    if normalizer not in ("none", "minmax"):
        raise EsqlError(f"FUSE linear normalizer must be none|minmax: {normalizer!r}")
    missing = [c for c in ("_fork", "_id", "_score") if c not in df.columns]
    if missing:
        raise EsqlError(
            f"FUSE needs columns {missing!r} — run it after FORK over a "
            "FROM ... METADATA _id source whose branches set _score"
        )
    keys = ["_id"] + (["_index"] if "_index" in df.columns else [])
    w = Window.partitionBy("_fork")
    if method == "rrf":
        k = float(opts.get("rank_constant", 60))
        if k <= 0:
            raise EsqlError(f"rank_constant must be positive: {k}")
        rank = F.row_number().over(
            w.orderBy(F.col("_score").desc(), *[F.col(c) for c in keys])
        )
        contrib = F.lit(1.0) / (F.lit(k) + rank.cast("double"))
    elif normalizer == "minmax":
        s = F.col("_score").cast("double")
        lo, hi = F.min(s).over(w), F.max(s).over(w)
        # NULL scores contribute nothing (the none-normalizer and rrf
        # branches already skip them via sum-ignores-NULL); without the
        # isNotNull gate an all-NULL branch (hi > lo evaluates NULL) or a
        # NULL row in a constant-score branch would fall into the
        # otherwise(1.0) and hand every unscored row full weight (r8 advice)
        contrib = F.when(
            s.isNotNull(),
            F.when(hi > lo, (s - lo) / (hi - lo)).otherwise(F.lit(1.0)),
        )
    else:
        contrib = F.col("_score").cast("double")
    others = [c for c in df.columns if c not in (*keys, "_fork", "_score")]
    fused = (
        df.withColumn("__contrib", contrib)
        .groupBy(*keys)
        .agg(
            F.sum("__contrib").alias("_score"),
            *[F.max(c).alias(c) for c in others],
        )
    )
    # original column order, minus the consumed _fork discriminator
    return fused.select(*[c for c in df.columns if c != "_fork"])


_KNN_ARGS = re.compile(
    r"^\s*([A-Za-z_][\w.]*)\s*,\s*\[([^\]]*)\]\s*,\s*(\d+)\s*$", flags=re.S
)


def _where_knn(df: DataFrame, body: str) -> DataFrame:
    """ES|QL 9.x ``WHERE KNN(field, [v...], k)`` — approximate-kNN as a
    query clause: keep the k rows whose vector is most cosine-similar to
    the literal query vector, and materialize the similarity as
    ``_score`` (overwriting any prior one, like ES's knn scoring).

    Composition rule (ES's own): KNN must be a TOP-LEVEL conjunct —
    other AND'ed conjuncts become the knn pre-filter, applied BEFORE the
    top-k cut; KNN under OR/NOT is rejected.  Exactly one KNN per WHERE.

    Determinism: ties on the similarity break by ``_id`` when the frame
    carries one (FROM ... METADATA _id), else by the remaining columns
    in order — documented, where ES's tie is shard-order.  Scale: score
    is pure Column math and the cut is a TakeOrderedAndProject — brute
    exact kNN, the semantics ES documents when k equals num_candidates;
    operators/similarity has the IVF/LSH paths for when approximation is
    wanted explicitly."""
    from elasticsearch_hadoop_spark.functions import sql
    from elasticsearch_hadoop_spark.functions.similarity import cosine_sql

    # ES|QL precedence: OR binds looser than AND.  A top-level OR whose
    # branch contains KNN means KNN sits under the OR ("a OR b AND
    # KNN(...)" parses as a OR (b AND KNN)) — rejected, per the rule.
    ors = _split_bool_top(body, "OR")
    if len(ors) > 1:
        raise EsqlError(
            "KNN must be a top-level WHERE conjunct (not under OR/NOT "
            "or inside an expression) — ES|QL's own rule"
        )
    # BETWEEN-aware top-level AND split (shared with _where_pred)
    parts = _split_bool_top(body, "AND")
    knn_terms = [p for p in parts if re.search(r"\bKNN\s*\(", _blank_literals(p), re.I)]
    rest = [p for p in parts if p not in knn_terms]
    if len(knn_terms) != 1:
        raise EsqlError("exactly one KNN(...) conjunct per WHERE")
    term = knn_terms[0].strip()
    m = re.match(r"^KNN\s*\(", term, flags=re.I)
    if not m or _match_paren(term, m.end()) != len(term):
        raise EsqlError(
            "KNN must be a top-level WHERE conjunct (not under OR/NOT "
            "or inside an expression) — ES|QL's own rule"
        )
    am = _KNN_ARGS.match(term[m.end(): len(term) - 1])
    if not am:
        raise EsqlError(
            "KNN needs (field, [v1, v2, ...], k) with a literal vector "
            f"and integer k: {term!r}"
        )
    field, vec_txt, k = am.group(1), am.group(2), int(am.group(3))
    if field not in df.columns:
        raise EsqlError(f"KNN field {field!r} not in the frame")
    if k <= 0:
        raise EsqlError(f"KNN k must be positive: {k}")
    vals = [v.strip() for v in vec_txt.split(",")]
    if vals and vals[-1] == "":
        vals = vals[:-1]  # tolerate one trailing comma
    try:
        qv = [float(v) for v in vals]  # interior empties raise here
    except ValueError:
        raise EsqlError(f"KNN vector must be numeric literals: [{vec_txt}]")
    if not qv:
        raise EsqlError("KNN vector must not be empty")
    for p in rest:
        if p.strip():
            df = df.filter(_where_pred(p.strip()))
    score = F.expr(
        cosine_sql(f"CAST({sql.ident(field)} AS ARRAY<DOUBLE>)", sql.double_array(qv))
    )
    # a stored vector whose width differs from the query would NULL out
    # the similarity and quietly fall out of the top-k — raise instead
    # (NULL vectors are skipped like ES knn skips docs missing the field)
    score = F.when(F.size(F.col(field)) == len(qv), score).otherwise(
        F.raise_error(
            F.lit(
                f"KNN: vector column {field!r} width does not match the "
                f"{len(qv)}-d query vector"
            )
        )
    )
    df = df.filter(F.col(field).isNotNull())
    from pyspark.sql.types import MapType

    # tie-break columns must be orderable: maps aren't sortable, the
    # vector column and any pre-existing _score are pointless to compare
    tie = ["_id"] if "_id" in df.columns else [
        f.name
        for f in df.schema.fields
        if f.name not in (field, "_score")
        and not isinstance(f.dataType, MapType)
    ]
    out = df.withColumn("_score", score).orderBy(
        F.col("_score").desc(), *[F.col(c) for c in tie]
    )
    return out.limit(k)


def _fork_branches(body: str) -> list[str]:
    """FORK's top-level parenthesized branches -> their inner pipelines."""
    branches, depth, buf, q = [], 0, [], None
    for ch in body:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            buf.append(ch)
            continue
        if ch == "(":
            depth += 1
            if depth == 1:
                buf = []
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                branches.append("".join(buf).strip())
                buf = []
                continue
        if depth >= 1:
            buf.append(ch)
        elif ch.strip():
            raise EsqlError(f"FORK branches must be parenthesized: {body!r}")
    if depth != 0:
        raise EsqlError(f"unbalanced parentheses in FORK: {body!r}")
    if len(branches) < 2:
        raise EsqlError("FORK needs at least two (branch) groups")
    return branches


def _apply_stages(
    df: DataFrame,
    stage_list,
    tables,
    catalog,
    enrich_policies,
    ts_spec: dict | None = None,
    score_requested: bool = False,
    cap: bool = False,
) -> DataFrame:
    """Run ``stage_list`` over ``df``.  With ``cap``, a result whose
    ``RESULT_CAP`` limit folds into its last SORT or LIMIT gets that limit
    (module docstring)."""
    folds = False
    for stage in stage_list:
        stage = stage.strip()
        cm = re.match(r"^([A-Za-z_]+)\b(.*)$", stage, flags=re.S)
        if not cm:
            raise EsqlError(f"bad command: {stage!r}")
        cmd, body = cm.group(1).upper(), cm.group(2).strip()
        folds = folds and cmd in _CAP_PASSES
        if cmd == "WHERE":
            blanked_w = _blank_literals(body)
            if re.search(r"\bKNN\s*\(", blanked_w, flags=re.I):
                df = _where_knn(df, body)
                folds = False
            elif (
                score_requested
                and "_score" in df.columns
                and (_FT_PROBE.search(blanked_w) or ":" in blanked_w)
            ):
                # METADATA _score + full-text WHERE: leaves score (8.18).
                # Gated on the explicit METADATA parse, not on a _score
                # column happening to exist (ADVICE r11: a source frame
                # carrying its own _score must not get BM25 silently
                # added); a later DROP _score demotes WHERE to pure filter
                df = _where_scored(df, body)
                folds = False  # the score attach is a join
            else:
                df = df.filter(_where_pred(body))
        elif cmd == "EVAL":
            for item in _split_top(body):
                name, expr = item.split("=", 1)
                df = df.withColumn(name.strip(), _expr(expr))
        elif cmd == "STATS":
            if ts_spec is not None and _TS_FN_RE.search(_blank_literals(body)):
                df = _stats_ts(df, body, ts_spec)
            else:
                df = _stats(df, body)
            # aggregation collapses the per-document series rows — later
            # STATS stages are ordinary aggregations over buckets
            ts_spec = None
        elif cmd == "INLINESTATS":
            # STATS joined back onto the source rows (every input row
            # kept, aggregate columns attached).  Computed BY keys are
            # materialized on the source first so the join key exists on
            # both sides; the join is null-safe (ES|QL groups nulls
            # together).  With no BY the one-row aggregate broadcasts.
            by_m = re.search(r"\bBY\b", _blank_literals(body), flags=re.I)
            key_names: list[str] = []
            if by_m:
                for k in _split_top(body[by_m.end():]):
                    k = k.strip()
                    if "=" in k and "==" not in k:
                        name, kexpr = k.split("=", 1)
                        df = df.withColumn(name.strip(), _expr(kexpr))
                        key_names.append(name.strip())
                    elif "(" in k:
                        raise EsqlError(
                            "INLINESTATS BY expressions must be named: "
                            f"write name = {k}"
                        )
                    else:
                        key_names.append(k)
                body = body[: by_m.start()] + " BY " + ", ".join(key_names)
            agg = _stats(df, body)
            # an aggregate named like an existing column replaces it
            clobbered = [
                c for c in agg.columns if c not in key_names and c in df.columns
            ]
            if not key_names:
                df = df.drop(*clobbered).crossJoin(F.broadcast(agg))
            else:
                src = df.drop(*clobbered)
                pred = None
                for n in key_names:
                    c = src[n].eqNullSafe(agg[n])
                    pred = c if pred is None else (pred & c)
                df = src.join(agg, pred, "left").drop(*[agg[n] for n in key_names])
        elif cmd == "SORT":
            order = []
            for item in _split_top(body):
                im = re.match(
                    r"^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$",
                    item.strip(),
                    flags=re.I | re.S,
                )
                col = _expr(im.group(1))
                desc = (im.group(2) or "").upper() == "DESC"
                nulls = (im.group(3) or "").upper()
                if desc:
                    col = (
                        col.desc_nulls_first()
                        if nulls == "FIRST"
                        else col.desc_nulls_last()
                        if nulls == "LAST"
                        else col.desc()
                    )
                else:
                    col = (
                        col.asc_nulls_first()
                        if nulls == "FIRST"
                        else col.asc_nulls_last()
                        if nulls == "LAST"
                        else col.asc()
                    )
                order.append(col)
            df = df.orderBy(*order)
            folds = True
        elif cmd == "LIMIT":
            df = df.limit(int(body))
            folds = True
        elif cmd == "KEEP":
            df = df.select(*_expand_cols(df, [c.strip() for c in _split_top(body)]))
        elif cmd == "DROP":
            df = df.drop(*_expand_cols(df, [c.strip() for c in _split_top(body)]))
        elif cmd == "RENAME":
            for item in _split_top(body):
                rm = re.match(r"^(\S+)\s+AS\s+(\S+)$", item.strip(), flags=re.I)
                if not rm:
                    raise EsqlError(f"RENAME needs 'old AS new': {item!r}")
                df = df.withColumnRenamed(rm.group(1), rm.group(2))
        elif cmd == "MV_EXPAND":
            col = body.strip()
            if col not in df.columns:
                raise EsqlError(f"unknown column {col!r}")
            # ES|QL keeps rows whose array is null/empty (value null) —
            # a plain explode would silently delete them
            df = df.withColumn(col, F.explode_outer(F.col(col)))
        elif cmd == "CHANGE_POINT":
            cpm = re.match(r"^(\S+)\s+ON\s+(\S+)\s*$", body, flags=re.I)
            if not cpm:
                raise EsqlError(f"CHANGE_POINT needs: value ON key — got {body!r}")
            from elasticsearch_hadoop_spark.aggs_dsl import change_point_stats

            df = change_point_stats(df, cpm.group(1), cpm.group(2))
        elif cmd == "LOOKUP":
            lm = re.match(r"^JOIN\s+(\S+)\s+ON\s+(.+?)\s*$", body, flags=re.I | re.S)
            if not lm:
                raise EsqlError(f"LOOKUP needs: JOIN idx ON col[, col...] — got {body!r}")
            src, on_part = lm.group(1), lm.group(2)
            # 8.19+: comma-separated multi-key ON — all keys must exist on
            # both sides and every (key...) tuple equi-matches
            on_keys = [c.strip() for c in on_part.split(",") if c.strip()]
            if not on_keys:
                raise EsqlError(f"LOOKUP JOIN needs at least one ON column: {body!r}")
            if tables and src in tables:
                lk = tables[src]
            elif catalog is not None:
                lk = catalog.read_index(src)
            else:
                raise EsqlError(f"unknown lookup index {src!r}")
            for on in on_keys:
                if on not in df.columns or on not in lk.columns:
                    raise EsqlError(
                        f"LOOKUP JOIN column {on!r} must exist on both sides"
                    )
            # ES|QL LOOKUP JOIN overwrites same-named input columns with
            # the lookup side's values — drop the input's copies first so
            # the join never produces ambiguous duplicates
            clobber = [c for c in lk.columns if c not in on_keys and c in df.columns]
            df = df.drop(*clobber).join(F.broadcast(lk), on_keys, "left")
        elif cmd == "GROK":
            gm = re.match(r"^(\S+)\s+\"(.*)\"\s*$", body, flags=re.S)
            if not gm:
                raise EsqlError(f"GROK needs: col \"pattern\" — got {body!r}")
            rx, keys = _grok_regex(gm.group(2))
            src = F.col(gm.group(1))
            # ES|QL GROK semantics on a non-matching row: every extracted
            # field is NULL (regexp_extract's "" would instead crash an
            # ANSI cast for typed keys and misreport empty strings for
            # text keys); a matched-but-unconvertible value is also NULL
            # (ES emits null + a warning header) — hence try_cast
            matched = F.coalesce(src.rlike(rx), F.lit(False))
            for i, (k, cast_t) in enumerate(keys, start=1):
                col = F.when(matched, F.regexp_extract(src, rx, i))
                if cast_t:
                    col = col.try_cast(cast_t)
                df = df.withColumn(k, col)
        elif cmd == "ENRICH":
            em = re.match(
                r"^(\S+)\s+ON\s+(\S+)(?:\s+WITH\s+(.*))?$", body, flags=re.I | re.S
            )
            if not em:
                raise EsqlError(f"ENRICH needs: policy ON col [WITH ...]: {body!r}")
            policy, on, with_part = em.group(1), em.group(2), em.group(3)
            frame = (enrich_policies or {}).get(policy)
            if frame is None:
                raise EsqlError(
                    f"unknown enrich policy {policy!r} — pass "
                    "enrich_policies={name: frame}"
                )
            key_col = frame.columns[0]
            with_cols = (
                [c.strip() for c in _split_top(with_part)]
                if with_part
                else [c for c in frame.columns if c != key_col]
            )
            for c in with_cols:
                if c not in frame.columns:
                    raise EsqlError(f"enrich policy {policy!r} has no column {c!r}")
                if c == on:
                    raise EsqlError(
                        f"ENRICH WITH column {c!r} collides with the ON "
                        "match column — rename one side"
                    )
            # one row per key (min struct = deterministic pick), broadcast side
            lookup = (
                frame.groupBy(F.col(key_col).alias("__ek"))
                .agg(
                    F.min(F.struct(*[F.col(c) for c in with_cols])).alias("__ed")
                )
                .select("__ek", *[F.col(f"__ed.{c}").alias(c) for c in with_cols])
            )
            # ES|QL ENRICH overwrites existing columns with the policy's
            # values — drop the input's same-named columns (never the
            # match column itself) before attaching
            clobber = [c for c in with_cols if c != on and c in df.columns]
            df = (
                df.drop(*clobber)
                .join(F.broadcast(lookup), F.col(on) == lookup["__ek"], "left")
                .drop("__ek")
            )
        elif cmd == "DISSECT":
            dm = re.match(r"^(\S+)\s+\"(.*)\"\s*$", body, flags=re.S)
            if not dm:
                raise EsqlError(f"DISSECT needs: col \"pattern\" — got {body!r}")
            from elasticsearch_hadoop_spark.ingest import _dissect_regex

            rx, keys = _dissect_regex(dm.group(2))
            src = F.col(dm.group(1))
            # same non-match semantics as GROK above: null, not ""
            matched = F.coalesce(src.rlike(rx), F.lit(False))
            for i, k in enumerate(keys, start=1):
                df = df.withColumn(
                    k, F.when(matched, F.regexp_extract(src, rx, i))
                )
        elif cmd == "FORK":
            # ES|QL FORK (8.18+): run each parenthesized branch pipeline
            # over the CURRENT frame and union the results, tagging rows
            # with the branch discriminator `_fork` ("fork1", "fork2"...).
            # The input frame fans out without re-reading the source —
            # Spark reuses the shared subplan; branches with different
            # shapes union by name with missing columns null-filled.
            outs = []
            for i, br in enumerate(_fork_branches(body), start=1):
                sub = [s.strip() for s in _split_top(br, "|") if s.strip()]
                bdf = _apply_stages(
                    df, sub, tables, catalog, enrich_policies,
                    score_requested=score_requested,
                )
                outs.append(bdf.withColumn("_fork", F.lit(f"fork{i}")))
            df = outs[0]
            for o in outs[1:]:
                df = df.unionByName(o, allowMissingColumns=True)
        elif cmd == "FUSE":
            df = _fuse(df, body)
        else:
            raise EsqlError(f"unsupported command {cmd!r}")
    return df.limit(RESULT_CAP) if cap and folds else df
