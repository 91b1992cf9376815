"""ES search-surface helpers beyond the query DSL: keyset pagination
(``search_after``), field collapsing (``collapse``), highlighting,
``_terms_enum``, the term suggester (``suggest_terms``), ``_mget`` and
``_msearch`` — the non-scoring search-body/endpoint features the
reference's users lean on.

Scale notes:
- ``search_after`` is THE deep-pagination pattern at 100 TB: the
  lexicographic cursor filter is sargable (pushes to parquet row-group
  stats on the leading sort column), and LIMIT keeps it a
  TakeOrderedAndProject — no global sort, no OFFSET scan-and-discard.
- ``collapse`` compiles to the row_number window idiom; Spark plans it as
  WindowGroupLimit, pruning to per-partition top-k before the single
  shuffle on the collapse key.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions import sql
from elasticsearch_hadoop_spark.plans import (
    codegen_stages,
    count_nodes,
    join_strategies,
    pushed_filters,
    read_schemas,
)
from elasticsearch_hadoop_spark.functions.text import (
    TOKEN_SPLIT_REGEX,
    any_term_sql,
    py_standard_analyze,
    standard_analyze,
)

_TOKEN_RX = re.compile(TOKEN_SPLIT_REGEX)


def _direction(spec) -> tuple[str, bool]:
    """ES sort entry -> (field, ascending).  Accepts "field",
    {"field": "asc"|"desc"} or {"field": {"order": ...}}."""
    if isinstance(spec, str):
        return spec, True
    ((field, v),) = spec.items()
    order = v.get("order", "asc") if isinstance(v, dict) else v
    return field, str(order).lower() != "desc"


def lexicographic_after(
    fields: list[tuple[str, bool]], values, null_aware: bool = False
) -> Column:
    """The keyset-cursor predicate: (k1,..,kn) strictly after (a1,..,an)
    in lexicographic order, honoring per-field direction.  Shared by
    ``search_after`` and the aggs-DSL composite ``after`` cursor — ONE
    implementation of the subtle OR/AND-prefix construction.

    ``null_aware=True`` (the ES SQL cursor path) additionally orders
    NULL key values at Spark's default sort position — FIRST for asc,
    LAST for desc — so rows with NULL keys neither vanish from later
    pages nor dead-end the cursor: the per-field "after" and "equal"
    tests become three-valued-logic-free (eqNullSafe + explicit
    isNull/isNotNull arms).  The default (False) keeps the original
    NULL-propagating comparisons for callers that pre-exclude NULL keys
    (search_after's contract, the composite guard)."""
    if len(values) != len(fields):
        raise ValueError(f"after cursor needs {len(fields)} values, got {len(values)}")
    cond: Column | None = None
    eq_prefix: Column | None = None
    for (field, asc), a in zip(fields, values):
        col, lit = F.col(field), F.lit(a)
        if not null_aware:
            cmp = col > lit if asc else col < lit
            eq = col == lit
        elif a is None:
            # asc: NULLs sort first, so everything non-null is after the
            # null cursor value; desc: NULLs sort last — nothing follows
            cmp = col.isNotNull() if asc else F.lit(False)
            eq = col.isNull()
        else:
            # asc (nulls first): a NULL key is BEFORE any non-null cursor;
            # desc (nulls last): a NULL key is AFTER any non-null cursor
            cmp = (col > lit) if asc else ((col < lit) | col.isNull())
            eq = col.eqNullSafe(lit)
        term = cmp if eq_prefix is None else (eq_prefix & cmp)
        cond = term if cond is None else (cond | term)
        eq_prefix = eq if eq_prefix is None else (eq_prefix & eq)
    return cond


def _pred_and_score(q) -> tuple[Column, Column]:
    """The deterministic-scoring trichotomy shared by search() and
    explain_doc(): function_score → its compiled score, constant_score →
    the boost, anything else filter-context with score 1.0 (BM25 is out
    of scope — no fake tf/idf)."""
    from elasticsearch_hadoop_spark.query_dsl import (
        compile_function_score,
        compile_query,
    )

    if isinstance(q, dict) and set(q) == {"function_score"}:
        pred, score = compile_function_score(q["function_score"])
        return pred, score.cast("double")
    if isinstance(q, dict) and set(q) == {"constant_score"}:
        return compile_query(q), F.lit(float(q["constant_score"].get("boost", 1.0)))
    return compile_query(q), F.lit(1.0)


def search(
    df: DataFrame,
    body: dict,
    id_col: str,
    score_col: str = "_score",
) -> DataFrame:
    """ES ``_search`` top level with a materialized ``_score`` column —
    the engine's analogue of the reference's ``_metadata._score``
    (ScrollReader.java† attaches the hit score to row metadata; here the
    score is a first-class column on the result).

    Scoring is the EXACT DETERMINISTIC SUBSET, documented per the
    query-DSL header's scoreless-engine rule:

    - ``function_score`` → its compiled deterministic score
      (field_value_factor / script_score / weight / decay /
      rank_feature / distance_feature combinations);
    - ``constant_score`` → the wrapper's ``boost`` (exactly ES);
    - anything else matches in filter context with ``_score = 1.0``
      (BM25 text relevance is out of scope — no fake tf/idf).

    Body fields honored: ``query`` (default match_all), ``min_score``,
    ``sort`` (entries ``"_score"``, ``"field"`` or
    ``{"field": {"order": ...}}``; ``_score`` defaults DESC like ES;
    default sort is ``_score`` desc with ``id_col`` asc tiebreak),
    ``size`` (default 10) and ``from``.

    Scale: the score is one codegen projection; sort+size plans as
    TakeOrderedAndProject (per-partition heaps of ``from + size`` rows).
    ``from`` is Spark's Offset over that limit, which the planner folds
    into the same TakeOrderedAndProject: a collected page is one job and
    one stage, with no window and no exchange, whatever its ``from``."""
    pred, score = _pred_and_score(body.get("query", {"match_all": {}}))
    out = df.filter(pred).withColumn(score_col, score)
    if "min_score" in body:
        out = out.filter(F.col(score_col) >= F.lit(float(body["min_score"])))

    order: list[Column] = []
    explicit_tiebreak = False
    sort = body.get("sort", [{score_col: "desc"}])
    if isinstance(sort, (str, dict)):  # ES accepts "sort": "field" too
        sort = [sort]
    for spec in sort:
        field, asc = _direction(spec)
        if field == "_score":
            field = score_col
            # bare "_score" defaults to DESC in ES (unlike field sorts)
            if isinstance(spec, str):
                asc = False
        if field == id_col:
            explicit_tiebreak = True
        order.append(F.col(field).asc() if asc else F.col(field).desc())
    if not explicit_tiebreak:
        order.append(F.col(id_col).asc())

    size = int(body.get("size", 10))
    offset = int(body.get("from", 0))
    page = out.orderBy(*order).limit(offset + size)
    return page.offset(offset) if offset else page


def search_after(
    df: DataFrame,
    sort: list,
    after: list | tuple | None = None,
    size: int = 10,
) -> DataFrame:
    """Keyset pagination: rows strictly after the ``after`` cursor in the
    given sort order, first ``size`` of them.  ``sort`` must end in a
    unique tiebreak field (ES requires the same)."""
    fields = [_direction(s) for s in sort]
    out = df
    if after is not None:
        out = out.filter(lexicographic_after(fields, list(after)))
    order = [F.col(f).asc() if asc else F.col(f).desc() for f, asc in fields]
    return out.orderBy(*order).limit(size)


def collapse(
    df: DataFrame,
    field: str,
    sort: list,
    inner_hits: int = 1,
    rank_col: str = "hit_rank",
) -> DataFrame:
    """ES field collapsing: keep the top ``inner_hits`` rows per value of
    ``field``, ranked by ``sort`` (which must break ties for determinism).
    Emits ``rank_col`` (1-based) like the aggs-DSL top_hits rendering."""
    fields = [_direction(s) for s in sort]
    order = [F.col(f).asc() if asc else F.col(f).desc() for f, asc in fields]
    w = Window.partitionBy(field).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= inner_hits)
    )


def collapse_inner_hits(
    df: DataFrame,
    field: str,
    sort: list,
    inner_hits: dict,
    inner_cols: list[str] | None = None,
) -> DataFrame:
    """ES field collapsing WITH an ``inner_hits`` sub-request: the search
    returns ONE representative hit per ``field`` value — the top row by
    the request's own ``sort`` — and each collapsed hit carries a nested
    list of inner hits selected by a SEPARATE ``inner_hits`` spec
    (``{"name": ..., "size": k, "sort": [...]}``), the two sorts
    independent (ES's exact contract: the main sort ranks the groups'
    representatives, the inner sort ranks within the group).

    Output: the representative row's columns plus ``<name>`` — an
    ``array<struct>`` of the group's top ``size`` rows (``inner_cols``
    columns, or the inner sort's fields) in inner-sort order.  Both sorts
    must break ties for determinism, like ``collapse``.

    Scale shape: two bounded row_number frames over the SAME partition
    key — each a conjunctive ``rn <= k`` filter, so InferWindowGroupLimit
    plans WindowGroupLimit Partial+Final for both and a hot group's
    past-limit rows drop map-side — then a single equi-join of the two
    per-group frames on the collapse key (co-partitioned: both sides just
    shuffled on that key).  Never a collect, never an unbounded buffer;
    the inner array holds <= size structs per group by construction."""
    size = int(inner_hits.get("size", 3))
    if size < 1:
        raise ValueError(f"inner_hits size must be >= 1, got {size}")
    name = inner_hits.get("name", "inner_hits")
    if name in df.columns:
        # the output would carry two same-named columns — every later
        # reference ambiguous; fail up front
        raise ValueError(
            f"inner_hits name {name!r} collides with an input column"
        )
    inner_sort = [_direction(s) for s in inner_hits.get("sort") or []]
    if not inner_sort:
        raise ValueError("inner_hits needs a sort (ties must break)")
    cols = list(inner_cols) if inner_cols else [f for f, _ in inner_sort]

    rep = collapse(df, field, sort, inner_hits=1, rank_col="__rep_rn").drop(
        "__rep_rn"
    )
    iorder = [F.col(f).asc() if asc else F.col(f).desc() for f, asc in inner_sort]
    iw = Window.partitionBy(field).orderBy(*iorder)
    # the struct leads with the window's own rank, so array_sort restores
    # the inner order after the unordered collect — type-agnostic (the
    # rank already encodes the full inner sort, desc directions included)
    key_struct = F.struct(
        F.col("__ih_rn").alias("__rn"),
        F.struct(*[F.col(c).alias(c) for c in cols]).alias("hit"),
    )
    inner = (
        df.withColumn("__ih_rn", F.row_number().over(iw))
        .filter(F.col("__ih_rn") <= size)
        .groupBy(field)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(key_struct)), lambda s: s["hit"]
            ).alias(name)
        )
    )
    # null-safe join: collapse/groupBy both treat NULL as a group, so the
    # NULL-key group's representative must find its inner array too
    rep, inner = rep.alias("__cih_r"), inner.alias("__cih_i")
    return rep.join(
        inner, rep[field].eqNullSafe(inner[field]), "left"
    ).select(rep["*"], inner[name])


def bm25_corpus_stats(df: DataFrame, field: str, terms: list[str]) -> dict:
    """Precompute the BM25 corpus statistics for ``terms`` — the
    index-build step a production deployment runs ONCE and amortizes
    across queries: ``{"doc_count": N, "sum_dl": Σdl, "df": {term: df}}``
    (docCount semantics: documents missing the field are outside all
    three).  Feed the result to ``bm25_score(..., stats=...)`` to skip
    the per-query stats pass.  One hash aggregation to a single row,
    with the same semantics as the scorer's own stats pass."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("bm25_corpus_stats needs at least one term")
    row = _bm25_stats(df, field, terms, "").collect()[0]
    return {
        "doc_count": int(row["n"]),
        "sum_dl": int(row["sdl"] or 0),
        "df": {t: int(row[f"df_{j}"] or 0) for j, t in enumerate(terms)},
    }


# Lucene's BM25 as SQL text: the ONE set of formula strings every scorer
# path renders (computed stats, precomputed stats=, field-batched), so
# the formula cannot drift between them, and each expression parses in
# one JVM round trip.  The placeholders are SQL operands: helper-column
# references, or double literals for precomputed statistics.
#
# Corpus statistics, over a frame carrying the analyzed {toks} and {dl}:
# - docCount, not the row count: both the idf N and avgdl exclude
#   documents missing the field (NULL dl) AND documents whose analyzed
#   field is empty — neither leaves postings or a norm behind, exactly
#   like BM25Similarity's computeIdf/avgFieldLength;
# - Σdl sums exactly as a long, so avgdl is the SAME double on every
#   engine and partitioning (a double-summed avg would be
#   order-dependent);
# - one df counter per term.
_BM25_N = "CAST(count(CASE WHEN {dl} > 0 THEN 1 END) AS DOUBLE)"
_BM25_SDL = "CAST(sum({dl}) AS DOUBLE)"
_BM25_DF = "CAST(sum(CAST(array_contains({toks}, {term}) AS INT)) AS DOUBLE)"
_BM25_DL = "CAST(size({toks}) AS BIGINT)"
_BM25_TF = "CAST(size(filter({toks}, x -> x = {term})) AS DOUBLE)"
_BM25_IDF = "ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D))"
# The length norm k1·(1−b + b·dl/avgdl), bound once per field.  An
# all-empty corpus has avgdl = 0 — no document can match there, but the
# norm computes for every row, so the division is guarded (ANSI mode
# raises on /0).
_BM25_NORM = (
    "{k1} * ({one_minus_b} + CASE WHEN {sdl} > 0 "
    "THEN ({b} * CAST({dl} AS DOUBLE)) / ({sdl} / {n}) ELSE 0.0D END)"
)
# One term clause's contribution: mult · idf · tf(k1+1)/(tf+norm).
# tf = 0 contributes exactly 0 — and guards the k1 = 0 edge, where
# tf + norm would be 0/0 under ANSI division.
_BM25_TERM = (
    "CASE WHEN {tf} > 0 "
    "THEN {mult} * {idf} * (({tf} * {k1_plus_1}) / ({tf} + {norm})) ELSE 0.0D END"
)
# A document MISSING the field has no postings at all: score NULL
# (field absent), not 0.0 (present but no match).
_BM25_SCORE = "CASE WHEN {dl} IS NOT NULL THEN {terms} END"


def _bm25_stats(base: DataFrame, field: str, terms: list[str], p: str) -> DataFrame:
    """The 1-row corpus-statistics frame for ``field``: columns
    ``{p}n``, ``{p}sdl`` and ``{p}df_{j}`` for each of ``terms``."""
    toks = base.select(standard_analyze(field).alias("__bm_toks")).selectExpr(
        "__bm_toks", f"{_BM25_DL.format(toks='__bm_toks')} AS __bm_dl"
    )
    return toks.selectExpr(
        f"{_BM25_N.format(dl='__bm_dl')} AS {p}n",
        f"{_BM25_SDL.format(dl='__bm_dl')} AS {p}sdl",
        *[
            f"{_BM25_DF.format(toks='__bm_toks', term=sql.string(t))} AS {p}df_{j}"
            for j, t in enumerate(terms)
        ],
    )


def _bm25_columns(
    scored: DataFrame, field: str, terms: list[str], p: str,
    n: str, sdl: str, k1: float, b: float,
) -> tuple[DataFrame, list[str]]:
    """Attach the per-document helpers for ``field``: ``{p}toks`` (the
    analyzed field, computed once per row), ``{p}dl``, ``{p}norm`` and
    one ``{p}tf_{j}`` per term.  Returns the frame and the helper
    names."""
    toks, dl = sql.ident(f"{p}toks"), sql.ident(f"{p}dl")
    scored = scored.withColumn(f"{p}toks", standard_analyze(field))
    scored = scored.withColumn(f"{p}dl", F.expr(_BM25_DL.format(toks=toks)))
    norm = _BM25_NORM.format(
        k1=sql.double(k1), one_minus_b=sql.double(1.0 - b), b=sql.double(b),
        sdl=sdl, n=n, dl=dl,
    )
    scored = scored.withColumn(f"{p}norm", F.expr(norm))
    for j, t in enumerate(terms):
        scored = scored.withColumn(
            f"{p}tf_{j}", F.expr(_BM25_TF.format(toks=toks, term=sql.string(t)))
        )
    return scored, [f"{p}toks", f"{p}dl", f"{p}norm"] + [
        f"{p}tf_{j}" for j in range(len(terms))
    ]


def _bm25_score_sql(
    p: str, uniq: list[str], jmap: dict[str, int], mult: dict[str, int],
    n: str, dfs: list[str], k1: float,
) -> str:
    """The score of one leaf over the helpers ``_bm25_columns`` attached:
    the term clauses summed left to right in query order."""
    terms = " + ".join(
        _BM25_TERM.format(
            tf=sql.ident(f"{p}tf_{jmap[t]}"),
            mult=sql.double(mult[t]),
            idf=_BM25_IDF.format(n=n, df=dfs[jmap[t]]),
            k1_plus_1=sql.double(k1 + 1.0),
            norm=sql.ident(f"{p}norm"),
        )
        for t in uniq
    )
    return _BM25_SCORE.format(dl=sql.ident(f"{p}dl"), terms=terms)


def bm25_score(
    df: DataFrame,
    field: str,
    query_text: str,
    k1: float = 1.2,
    b: float = 0.75,
    out_col: str = "_score",
    matched_only: bool = True,
    stats: dict | None = None,
    stats_over: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 relevance over an analyzed text field — Lucene's exact
    formula (the one ES scores ``match`` queries with):

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score   = Σ_t  mult_t · idf(t) · (tf_t · (k1+1))
                              / (tf_t + k1 · (1 − b + b · dl / avgdl))

    with ``mult_t`` the term's multiplicity in the analyzed query (Lucene
    scores duplicate query terms as separate clauses), ``tf_t`` the term
    frequency in the document, ``dl`` the document token count and
    ``avgdl`` the corpus mean.  The one DOCUMENTED deviation from Lucene:
    ``dl`` enters exactly, not through Lucene's SmallFloat norm
    quantization (a lossy 1-byte index-size optimization) — rankings
    agree except where the quantization itself flips near-ties.  The
    analyzer is the engine's standard one (lowercase, split on
    non-alphanumerics) — the same tokenization every text operator and
    its DuckDB oracle share, which is what makes BM25 deterministic and
    oracle-checkable here.

    ``matched_only`` keeps ES's match-query contract: only documents
    containing at least one query term come back.  It is a filter on
    the raw field BEFORE scoring (``functions.text.any_term_sql``: some
    analyzed token equals a query term), which keeps exactly the rows
    with score > 0 — every present term adds a positive amount (idf > 0
    even at df = N) and an absent one adds 0.  Like Lucene, ``N`` and
    ``avgdl`` are the field's docCount statistics — documents MISSING
    the field (NULL) are outside them, and with ``matched_only=False``
    such rows carry a NULL score (field absent), never 0.0 (present, no
    match).

    Scale shape: TWO passes over the corpus — a tiny stats aggregation
    (N, Σdl, one df counter per unique term: ONE hash agg to a 1-row
    frame, broadcast back and attached by a nested-loop join with no
    condition) and the scoring pass.  The scoring pass first drops
    non-matching rows with the codegen'd raw-field predicate, then
    analyzes each surviving document ONCE (the analyzer is a
    higher-order function, interpreted, with no subexpression
    elimination — a filter on the computed score would be inlined into
    the join condition and re-analyze the document per reference), then
    computes per-term tf over that array; top-k downstream is a
    TakeOrderedAndProject.  Every expression parses from SQL text in one
    JVM round trip.  Pass ``stats=`` (from ``bm25_corpus_stats``, the
    index-build step) to skip the first pass and amortize it across
    queries: the statistics enter the expressions as literals, so that
    plan has no join at all.  ``stats_over=`` aggregates the corpus
    statistics over a DIFFERENT frame than the one being scored (same
    rows required for ES semantics — the caller's contract): a caller
    chaining several score columns onto one frame points every stats
    pass at the pristine source so the plans stay one-scan-per-leaf
    instead of re-scanning the accumulated frame (esql._where_scored,
    round 12 — without it a 3-leaf WHERE planned 2^3 source scans).
    Integer inputs (counts, doc lengths) keep every float derived
    identically on any engine — Σdl sums exactly as a long, so avgdl is
    bit-identical regardless of partitioning."""
    terms = py_standard_analyze(query_text)
    if not terms:
        raise ValueError("bm25 needs at least one analyzed query term")
    if not 0 <= b <= 1:
        raise ValueError(f"b must be in [0, 1], got {b}")
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")
    if stats is not None and stats_over is not None:
        # mutually exclusive corpus-statistics sources — silently letting
        # the dict win would ignore the caller's frame
        raise ValueError("pass stats= or stats_over=, not both")
    uniq = list(dict.fromkeys(terms))
    mult = {t: terms.count(t) for t in uniq}
    # the matched-only cut on the raw field; the corpus statistics still
    # come from the unfiltered frame
    src = df.filter(F.expr(any_term_sql(sql.ident(field), uniq))) if matched_only else df

    if stats is None:
        # the single-leaf case IS the one-leaf batched case — delegate,
        # so there is exactly ONE scan-orchestration to maintain
        # (review r12f); only the precomputed-stats path below keeps its
        # own body (literal statistics replace the stats pass)
        return bm25_score_multi(
            src, [(field, query_text, out_col)],
            k1=k1, b=b, stats_over=stats_over if stats_over is not None else df,
        )

    taken = [c for c in df.columns if c.startswith("__bm_")]
    if taken:
        # same reserved-namespace rule as bm25_score_multi (review r12e)
        raise ValueError(
            f"input columns may not use the reserved '__bm_' namespace: "
            f"{taken}"
        )
    missing = [t for t in uniq if t not in stats.get("df", {})]
    if missing:
        raise ValueError(f"stats missing df for query terms: {missing}")
    over = [t for t in uniq if not 0 <= stats["df"][t] <= stats["doc_count"]]
    if over:
        # df <= N is what keeps every idf, and so every matched score,
        # positive: the matched-only cut relies on it
        raise ValueError(f"stats df outside [0, doc_count] for terms: {over}")
    n = sql.double(stats["doc_count"])
    scored, helpers = _bm25_columns(
        src, field, uniq, "__bm_", n, sql.double(stats["sum_dl"]), k1, b
    )
    score = _bm25_score_sql(
        "__bm_", uniq, {t: j for j, t in enumerate(uniq)}, mult,
        n, [sql.double(stats["df"][t]) for t in uniq], k1,
    )
    return scored.withColumn(out_col, F.expr(score)).drop(*helpers)


def bm25_score_multi(
    df: DataFrame,
    leaves: list[tuple[str, str, str]],
    k1: float = 1.2,
    b: float = 0.75,
    stats_over: DataFrame | None = None,
) -> DataFrame:
    """Attach one BM25 column per ``(field, query_text, out_col)`` leaf
    with ONE corpus-statistics aggregation per DISTINCT field — leaves
    sharing a field share its N/Σdl pass and a single 1-row df-counter
    frame covering the union of their terms.  Per-leaf semantics are
    exactly ``bm25_score(..., matched_only=False)``: every path renders
    the same ``_BM25_*`` formula strings, so the doubles are identical —
    only the stats passes are shared.

    Scale shape (the reason this exists — review r12a follow-up): a
    scored WHERE with k leaves over one field plans k+1 corpus scans
    through per-leaf ``bm25_score`` calls but exactly 2 here (one stats
    aggregation broadcast back + one scoring projection); in general
    #distinct-fields + 1.  ``stats_over`` points the stats passes at a
    different frame than the one being scored (same rows required — the
    chained-score-columns caller's contract, see bm25_score)."""
    if not leaves:
        return df
    out_cols = [c for _, _, c in leaves]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(f"bm25_score_multi needs unique out_cols: {out_cols}")
    bad = [c for c in out_cols if c.startswith("__bmm_")]
    if bad:
        # the __bmm_ namespace holds the scorer's own helper columns
        raise ValueError(f"out_cols may not start with '__bmm_': {bad}")
    taken = [c for c in df.columns if c.startswith("__bmm_")]
    if taken:
        # a caller column named exactly like a helper would be silently
        # clobbered-and-dropped (or hit AMBIGUOUS_REFERENCE) — the whole
        # prefix is reserved, loudly (review r12e)
        raise ValueError(
            f"input columns may not use the reserved '__bmm_' namespace: "
            f"{taken}"
        )
    if not 0 <= b <= 1:
        raise ValueError(f"b must be in [0, 1], got {b}")
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")

    # per-leaf analyzed terms (duplicate query terms score as separate
    # clauses -> multiplicity), and the per-field term union
    per_leaf: list[tuple[str, list[str], dict[str, int], str]] = []
    by_field: dict[str, list[str]] = {}
    for field, qtext, out_col in leaves:
        terms = py_standard_analyze(qtext)
        if not terms:
            raise ValueError("bm25 needs at least one analyzed query term")
        uniq = list(dict.fromkeys(terms))
        per_leaf.append((field, uniq, {t: terms.count(t) for t in uniq}, out_col))
        fu = by_field.setdefault(field, [])
        fu.extend(t for t in uniq if t not in fu)

    base = stats_over if stats_over is not None else df
    scored = df
    helper_cols: list[str] = []
    field_ix: dict[str, tuple[str, dict[str, int]]] = {}
    for fi, (field, terms) in enumerate(by_field.items()):
        p = f"__bmm_{fi}_"
        stats_df = _bm25_stats(base, field, terms, p)
        helper_cols += [f"{p}n", f"{p}sdl"] + [f"{p}df_{j}" for j in range(len(terms))]
        scored = scored.crossJoin(F.broadcast(stats_df))
        # per-(field, term) tf — computed once even when several leaves
        # share a term
        scored, helpers = _bm25_columns(
            scored, field, terms, p,
            sql.ident(f"{p}n"), sql.ident(f"{p}sdl"), k1, b,
        )
        helper_cols += helpers
        field_ix[field] = (p, {t: j for j, t in enumerate(terms)})

    for field, uniq, mult, out_col in per_leaf:
        p, jmap = field_ix[field]
        dfs = [sql.ident(f"{p}df_{j}") for j in range(len(jmap))]
        score = _bm25_score_sql(p, uniq, jmap, mult, sql.ident(f"{p}n"), dfs, k1)
        scored = scored.withColumn(out_col, F.expr(score))
    # drop exactly the helpers added above — a prefix scan would eat a
    # caller's own __bmm_-named columns (review r12d)
    return scored.drop(*helper_cols)


def bm25_topk(
    df: DataFrame,
    field: str,
    query_text: str,
    k: int = 10,
    tiebreak: list[str] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The ES ``match`` + ``size`` shape: top-``k`` documents by BM25,
    score ties broken by ``tiebreak`` columns for determinism.  Plans as
    TakeOrderedAndProject over the scoring pass — per-partition top-k
    heaps, never a global sort.  Scale shape as ``bm25_score``: the
    stats aggregation, and a scoring pass that analyzes only the
    documents holding a query term, once each."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    out = bm25_score(df, field, query_text, k1=k1, b=b)
    order = [F.col("_score").desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    return out.orderBy(*order).limit(int(k))


def highlight(
    df: DataFrame,
    field: str,
    query_text: str,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    out_col: str = "highlight",
    matched_only: bool = True,
) -> DataFrame:
    """ES highlighting, ``number_of_fragments: 0`` mode (the whole field
    returned with every query-term occurrence wrapped in tags).  The query
    text is analyzed with the same lowercase/alnum tokenizer as the match
    query; occurrences match case-insensitively on word boundaries.  ES
    emits highlight only for matching documents — ``matched_only`` keeps
    that contract (rows with no occurrence are dropped).

    One ``regexp_replace`` Column expression (whole-stage codegen); the
    inline ``(?i)`` + ``\\b`` pattern is RE2/Java-portable, so a SQL
    oracle can replay it verbatim."""
    import re as _re

    terms = py_standard_analyze(query_text)
    if not terms:
        raise ValueError("highlight needs at least one query term")
    pattern = r"(?i)\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"
    out = df
    if matched_only:
        out = out.filter(F.col(field).rlike(pattern))
    return out.withColumn(
        out_col, F.regexp_replace(F.col(field), pattern, pre_tag + "$1" + post_tag)
    )


def suggest_terms(
    df: DataFrame,
    field: str,
    inputs: list[str],
    max_edits: int = 2,
    size: int = 3,
    min_freq: int = 1,
) -> DataFrame:
    """ES term suggester: for each input token, corpus terms within
    ``max_edits`` Levenshtein distance, ranked the way ES ranks candidates
    (distance asc, then term frequency desc, then term asc), top ``size``
    per input.  Exact matches (distance 0) are not suggestions and are
    excluded, like ES candidate generation.

    Shape: the vocabulary is ONE explode + hash aggregation over the
    analyzed field (term, freq); the handful of suggest inputs broadcast
    against it (BroadcastNestedLoopJoin — vocab × inputs, and a vocabulary
    is orders of magnitude smaller than its corpus); ranking is a
    WindowGroupLimit per input.  No all-pairs anything."""
    if not inputs:
        raise ValueError("suggest_terms needs at least one input token")
    vocab = (
        df.select(F.explode(standard_analyze(F.col(field))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    spark = df.sparkSession
    req = spark.createDataFrame([(t,) for t in inputs], "input string")
    d = F.levenshtein(F.col("input"), F.col("term"))
    cand = (
        vocab.crossJoin(F.broadcast(req))
        .withColumn("distance", d)
        .filter((F.col("distance") >= 1) & (F.col("distance") <= max_edits))
    )
    w = Window.partitionBy("input").orderBy(
        F.col("distance").asc(), F.col("freq").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("suggest_rank", F.row_number().over(w))
        .filter(F.col("suggest_rank") <= size)
        .select("input", "term", "distance", "freq", "suggest_rank")
    )


def suggest_completion(
    df: DataFrame,
    field: str,
    prefix: str,
    size: int = 5,
    weight_col: str | None = None,
    fuzzy: bool = False,
    max_edits: int = 1,
) -> DataFrame:
    """ES completion suggester: field values starting with ``prefix``,
    ranked by weight (``weight_col``'s max, else doc frequency) desc then
    value asc, top ``size`` — the scoreless flat rendering of
    suggest.completion options (text, weight, doc_count, rank).

    ``fuzzy=True`` allows ``max_edits`` Levenshtein edits INSIDE the
    prefix (ES's fuzzy completion), so "smal"~1 still finds "small ...".

    Shape: the prefix filter is sargable when exact (startswith pushes as
    a string range to parquet stats); one hash aggregation groups the
    surviving values; TakeOrderedAndProject returns the page.  ES backs
    this with an in-memory FST per shard — the analogue here is that only
    prefix-survivors reach the aggregation, never the corpus."""
    c = F.col(field)
    p = prefix.lower()
    if fuzzy:
        pred = (
            F.levenshtein(F.substring(F.lower(c), 1, len(p)), F.lit(p))
            <= int(max_edits)
        )
    else:
        pred = F.lower(c).startswith(p)
    hits = df.filter(c.isNotNull() & pred)
    weight = (
        F.max(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).alias("weight")
    out = hits.groupBy(c.alias("text")).agg(
        weight, F.count(F.lit(1)).alias("doc_count")
    )
    w = Window.orderBy(F.col("weight").desc(), F.col("text").asc())
    return (
        out.withColumn("suggest_rank", F.row_number().over(w))
        .filter(F.col("suggest_rank") <= size)
        .select("text", "weight", "doc_count", "suggest_rank")
    )


def suggest_phrase(
    df: DataFrame,
    field: str,
    text: str,
    max_edits: int = 2,
    min_freq: int = 1,
) -> DataFrame:
    """ES phrase suggester, the deterministic unigram subset: each input
    token is replaced by its best vocabulary candidate within
    ``max_edits`` (ranked distance asc, then freq desc, then term asc —
    distance 0 keeps the original), and the corrected phrase is scored by
    the unigram language model sum(log10(freq/total)); out-of-vocabulary
    tokens with no candidate stay verbatim at a 0.5-count smoothed
    probability.  (ES's Laplace-smoothed bigram model + candidate
    generators is a superset; this is the reproducible core, documented.)

    Output: one row — suggestion, score, n_corrections.

    Shape: ONE vocabulary aggregation (explode + hash agg, the
    suggest_terms vocab), the handful of query tokens broadcast against
    it, a per-position WindowGroupLimit picks winners, and a single-group
    aggregation reassembles the phrase.  Nothing driver-side but the
    query string itself.

    Scale bound: every join and window past the vocabulary aggregation is
    over the VOCAB frame (Zipf-bounded — ~1e5-1e7 distinct terms at any
    corpus size) or the query-token frame (a handful of rows), never the
    corpus.  The SortMergeJoin the plan may show for vocab-side assembly
    is therefore bounded by vocabulary size, not by the 100 TB input; the
    only corpus-wide work is the single explode + hash agg that builds
    the vocab, and the unpartitioned total window runs on that same
    bounded vocab frame."""
    toks = [t for t in _TOKEN_RX.split(text.lower()) if t]
    if not toks:
        raise ValueError("suggest_phrase needs at least one input token")
    spark = df.sparkSession
    req = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "pos int, token string"
    )
    vocab = (
        df.select(F.explode(standard_analyze(F.col(field))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .withColumn("total", F.sum("freq").over(Window.partitionBy()))
    )
    cand = (
        vocab.crossJoin(F.broadcast(req))
        .withColumn("distance", F.levenshtein(F.col("token"), F.col("term")))
        .filter(F.col("distance") <= max_edits)
    )
    w = Window.partitionBy("pos").orderBy(
        F.col("distance").asc(), F.col("freq").desc(), F.col("term").asc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pos", F.col("term").alias("best"), "freq", "total")
    )
    # `best` is at most one row per query token (rn == 1), but its
    # size estimate is inherited from the vocab aggregate, so Catalyst
    # plans a SortMergeJoin (2 Exchange + 2 Sort for a handful of rows —
    # see plans/r14/search_suggest_phrase_before.txt).  Broadcast it:
    # BroadcastHashJoin LeftOuter BuildRight, no exchange on either side.
    joined = req.join(F.broadcast(best), "pos", "left")
    # OOV fallback: keep the token, 0.5-count smoothing against the vocab
    # total (window-computed; re-attached via a cross join of the 1-row
    # total frame would be another shuffle — max() over the join result
    # is free because total is constant on every matched row)
    total_lit = F.max("total").over(Window.partitionBy())
    joined = joined.select(
        "pos",
        "token",
        F.coalesce(F.col("best"), F.col("token")).alias("chosen"),
        F.coalesce(F.col("freq").cast("double"), F.lit(0.5)).alias("p_count"),
        total_lit.alias("total_all"),
    )
    return joined.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("chosen")))
                ),
                lambda s: s["chosen"],
            ),
            " ",
        ).alias("suggestion"),
        F.sum(
            F.log10(F.col("p_count") / F.coalesce(F.col("total_all"), F.lit(1.0)))
        ).alias("score"),
        F.sum((F.col("chosen") != F.col("token")).cast("int")).alias(
            "n_corrections"
        ),
    )


def explain_doc(df: DataFrame, doc_id, query: dict, id_col: str) -> dict:
    """ES ``GET /<index>/_explain/<id>``: whether ONE document matches the
    query.  Returns ``{"_id": id, "found": bool, "matched": bool,
    "_score": float | None, "explanation": str}`` — ``found`` False when
    the id does not exist (ES's 404 case), ``_score`` from the
    deterministic scoring subset (the search() trichotomy) only when
    matched, and ``explanation`` the compiled Catalyst predicate text
    (the validate_query explain form — never a fake BM25 score tree,
    the engine's documented scoreless rule).

    Scale: the id equality filter is sargable (row-group stats pruning,
    partition pruning on a partitioned id), so the scan touches only
    files that can contain the id — one-row work at any corpus size."""
    from elasticsearch_hadoop_spark.query_dsl import column_text

    pred, score = _pred_and_score(query)
    rows = (
        df.filter(F.col(id_col) == F.lit(doc_id))
        .select(pred.alias("__matched"), score.alias("__score"))
        .limit(1)
        .collect()
    )
    out = {
        "_id": doc_id,
        "found": bool(rows),
        "matched": bool(rows and rows[0]["__matched"]),
        "explanation": column_text(pred),
    }
    out["_score"] = (
        float(rows[0]["__score"])
        if out["matched"] and rows[0]["__score"] is not None
        else None
    )
    return out


def mget(
    df: DataFrame, ids: list, id_col: str, req_ord_col: str = "req_ord"
) -> DataFrame:
    """ES ``_mget``: fetch documents by id, one output row per requested id
    in request order, with a ``found`` flag (missing ids keep their row,
    doc columns null — exactly the ES response shape, flattened).

    Shape for 100 TB: the ``isin`` filter is sargable — it pushes to
    parquet row-group stats (and prunes partitions on a partitioned id),
    so the scan touches only files that can contain the requested ids; the
    surviving hits (≤ len(ids) rows) then LEFT-join the tiny request frame
    driver-side-free.  Never a full-table join."""
    ids = list(ids)
    if not ids:
        raise ValueError("mget needs at least one id")
    hits = df.filter(F.col(id_col).isin(ids)).withColumn("__found", F.lit(True))
    spark = df.sparkSession
    req = spark.createDataFrame(
        [(i, v) for i, v in enumerate(ids)], [req_ord_col, id_col]
    )
    out = req.join(hits, on=id_col, how="left")
    return (
        out.withColumn("found", F.coalesce(F.col("__found"), F.lit(False)))
        .drop("__found")
        .orderBy(req_ord_col)
    )


def msearch(df: DataFrame, requests: list[dict]) -> DataFrame:
    """ES ``_msearch``: run several search bodies over the same index in
    one call; the flat rendering is the union of each request's hits
    tagged with a ``request`` ordinal (ES returns a responses array in
    request order).  Each body supports ``query`` (compiled by
    query_dsl.compile_query, so per-request predicates keep their
    pushdown), plus optional ``sort`` + ``size`` (a per-request
    TakeOrderedAndProject).

    One logical scan per request; Catalyst's exchange/scan reuse collapses
    identical subtrees, and each request's filter pushes down
    independently — the union is of already-small hit sets."""
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    if not requests:
        raise ValueError("msearch needs at least one request body")
    outs = []
    for i, body in enumerate(requests):
        sub = df
        q = body.get("query")
        if q:
            sub = sub.filter(compile_query(q))
        sort = body.get("sort")
        if sort:
            fields = [_direction(s) for s in sort]
            order = [F.col(f).asc() if asc else F.col(f).desc() for f, asc in fields]
            sub = sub.orderBy(*order)
        if "size" in body:
            sub = sub.limit(int(body["size"]))
        outs.append(sub.withColumn("request", F.lit(i)))
    out = outs[0]
    for sub in outs[1:]:
        out = out.unionByName(sub)
    return out


def scroll(df: DataFrame, sort: list, size: int = 1000):
    """ES scroll / point-in-time export, the stateless keyset rendering: a
    generator of row pages driven by ``search_after`` cursors.  ``sort``
    must end in a unique tiebreak (same contract as search_after).

    Each page is its own TakeOrderedAndProject job with a sargable cursor
    filter — the driver holds ONE row of state (the cursor), never data.
    This is the client-iteration shape; a full-table export at 100 TB
    should be ``df.write`` (one distributed job), not a scroll loop — the
    docstring is the warning."""
    fields = [_direction(s) for s in sort]
    after = None
    while True:
        rows = search_after(df, sort, after=after, size=size).collect()
        if not rows:
            return
        yield rows
        if len(rows) < size:
            return
        after = tuple(rows[-1][f] for f, _ in fields)


def scroll_slice(df: DataFrame, slice_id: int, max_slices: int, id_col: str) -> Column:
    """ES sliced scroll: the predicate selecting slice ``slice_id`` of
    ``max_slices`` — deterministic hash partitioning of the id space,
    which is exactly how the reference parallelizes a scan (one sliced
    scroll per Spark partition, SURVEY.md §2.A A1).  Here each slice is a
    Column filter over md5 of the id, so N concurrent readers (or one
    ``msearch``-style tagged union) cover the index disjointly; at scale
    you'd rather read the parquet directly (Spark's own splits), but the
    slice predicate gives API parity for migrating scroll-based jobs."""
    if not 0 <= slice_id < max_slices:
        raise ValueError(f"slice id {slice_id} out of range 0..{max_slices - 1}")
    from elasticsearch_hadoop_spark.functions.text import md5_token_hash

    return md5_token_hash(F.col(id_col).cast("string")) % max_slices == slice_id


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 60,
    size: int = 10,
    rank_col: str = "rank",
) -> DataFrame:
    """ES RRF retriever (hybrid search): reciprocal-rank fusion of N
    ranked lists — score(d) = Σ_lists 1/(k + rank_d), ES 8.x's
    ``retriever.rrf`` with its ``rank_constant`` k.  Each input frame
    carries ``rank_col`` (1-based, e.g. a row_number over its own
    ordering, or knn_search's rank output).

    Shape: per-list contributions union (no join — missing docs simply
    contribute nothing, exactly RRF's semantics), ONE hash aggregation on
    the doc id, and a TakeOrderedAndProject for the fused page.  The
    ranked inputs are top-k lists (small); the fusion never touches the
    corpus again."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranked input")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias(
                "__contrib"
            ),
        )
        for r in rankings
    ]
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    fused = un.groupBy(id_col).agg(
        F.sum("__contrib").alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= size)
    )


def rank_eval(
    ranked: DataFrame,
    ratings: DataFrame,
    *,
    request_col: str = "request",
    id_col: str = "_id",
    rank_col: str = "rank",
    rating_col: str = "rating",
    k: int = 10,
    relevant_threshold: int = 1,
) -> DataFrame:
    """ES ``_rank_eval``: score ranked search results against relevance
    judgments — one row per request with the full metric set ES offers:
    ``precision_k`` (relevant retrieved / retrieved in top k),
    ``recall_k`` (relevant retrieved / total relevant), ``mrr``
    (1 / first relevant rank, 0 when none), ``dcg``
    (Σ (2^rating - 1) / log2(rank + 1) over the top k) and ``ndcg``
    (dcg / ideal dcg from the judgment pool).

    Inputs: ``ranked`` = (request, id, rank) result lists (1-based
    ranks), ``ratings`` = (request, id, rating) judgments; unjudged
    results rate 0, exactly like ES.

    Shape: one LEFT join of the top-k lists against the judgments (both
    frames are per-request top-k / judgment pools — tiny next to the
    corpus), two hash aggregations on the request key (metrics and ideal
    DCG), one join of the two per-request rows.  Corpus-free: rank_eval
    never rescans the index."""
    top = ranked.filter(F.col(rank_col) <= k)
    j = top.join(
        ratings.select(
            F.col(request_col).alias("__rq"),
            F.col(id_col).alias("__rid"),
            F.col(rating_col).alias("__rating"),
        ),
        on=(F.col(request_col) == F.col("__rq"))
        & (F.col(id_col).cast("string") == F.col("__rid").cast("string")),
        how="left",
    ).select(
        request_col,
        F.col(rank_col).alias("__rank"),
        F.coalesce(F.col("__rating"), F.lit(0)).alias("__r"),
    )
    rel = F.col("__r") >= relevant_threshold
    gains = (F.pow(F.lit(2.0), F.col("__r")) - 1.0) / F.log2(F.col("__rank") + 1.0)
    per_req = j.groupBy(request_col).agg(
        (F.sum(rel.cast("int")) / F.count(F.lit(1))).alias("precision_k"),
        F.sum(rel.cast("int")).alias("__n_rel_ret"),
        F.coalesce(
            F.lit(1.0) / F.min(F.when(rel, F.col("__rank"))), F.lit(0.0)
        ).alias("mrr"),
        F.sum(gains).alias("dcg"),
    )
    # ideal DCG + total-relevant from the judgment pool (per request)
    wi = Window.partitionBy(request_col).orderBy(
        F.col(rating_col).desc(), F.col(id_col).asc()
    )
    ideal = (
        ratings.withColumn("__irank", F.row_number().over(wi))
        .filter(F.col("__irank") <= k)
        .groupBy(F.col(request_col).alias("__irq"))
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col(rating_col)) - 1.0)
                / F.log2(F.col("__irank") + 1.0)
            ).alias("__idcg"),
        )
    )
    totals = (
        ratings.filter(F.col(rating_col) >= relevant_threshold)
        .groupBy(F.col(request_col).alias("__trq"))
        .agg(F.count(F.lit(1)).alias("__n_rel"))
    )
    out = (
        per_req.join(ideal, per_req[request_col] == ideal["__irq"], "left")
        .join(totals, per_req[request_col] == totals["__trq"], "left")
        .select(
            request_col,
            "precision_k",
            F.when(
                F.col("__n_rel") > 0, F.col("__n_rel_ret") / F.col("__n_rel")
            )
            .otherwise(F.lit(0.0))
            .alias("recall_k"),
            "mrr",
            "dcg",
            F.when(F.col("__idcg") > 0, F.col("dcg") / F.col("__idcg"))
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
    )
    return out


def linear_fuse(
    rankings: list[DataFrame],
    id_col: str,
    weights: list[float] | None = None,
    score_col: str = "_score",
    size: int = 10,
) -> DataFrame:
    """ES linear retriever: weighted sum of min-max-normalized scores
    across sub-retrievers (the ``normalizer: minmax`` form — ES's only
    deterministic one).  A doc missing from a list contributes 0, like
    RRF's union semantics.

    Shape mirrors rrf_fuse: per-list normalization is ONE unordered
    window over that list's (top-k, tiny) frame; contributions union,
    one hash agg, TakeOrderedAndProject."""
    if not rankings:
        raise ValueError("linear_fuse needs at least one ranked input")
    ws = weights or [1.0] * len(rankings)
    if len(ws) != len(rankings):
        raise ValueError(f"got {len(ws)} weights for {len(rankings)} rankings")
    parts = []
    for r, w in zip(rankings, ws):
        whole = Window.partitionBy()
        s = F.col(score_col)
        lo, hi = F.min(s).over(whole), F.max(s).over(whole)
        norm = F.when(hi > lo, (s - lo) / (hi - lo)).otherwise(F.lit(1.0))
        parts.append(
            r.select(F.col(id_col), (norm * float(w)).alias("__contrib"))
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    fused = un.groupBy(id_col).agg(
        F.sum("__contrib").alias("linear_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w_out = Window.orderBy(F.col("linear_score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_out))
        .filter(F.col("fused_rank") <= size)
    )


def profile(df: DataFrame, execute: bool = True) -> dict:
    """ES ``_search?profile=true`` — the engine's honest analogue: the
    query's compiled plan at each Catalyst stage plus scan-level pushdown
    evidence.  ES profiles Lucene query rewrites and per-collector
    timings; here the planner IS Catalyst, so the profile renders what
    Catalyst decided — which filters reached the parquet scan
    (PushedFilters), which columns survived pruning (ReadSchema), the
    join strategies, and the whole-stage-codegen span count.

    Like ES's profile, the query RUNS by default (``execute=True``, via
    ``count()``) so AQE finalizes and the reported plan/codegen spans are
    the ones that actually executed; ``execute=False`` profiles the
    pre-execution plan (under AQE its codegen count reads 0 until run)."""
    qe = df._jdf.queryExecution()
    if execute:
        # run THIS queryExecution (df.count() would plan a separate
        # aggregate query and leave this one un-executed/non-final)
        qe.executedPlan().execute().count()
    explain = df._sc._jvm.PythonSQLUtils.explainString
    physical = explain(qe, "formatted")
    return {
        "parsed": qe.analyzed().toString(),
        "optimized": qe.optimizedPlan().toString(),
        "physical": physical,
        "pushed_filters": pushed_filters(physical),
        "read_schemas": read_schemas(physical),
        "join_strategies": join_strategies(physical),
        "codegen_stages": codegen_stages(explain(qe, "codegen")),
        "exchanges": count_nodes(physical, "Exchange", "BroadcastExchange", "ShuffleExchange"),
    }


def field_caps(df: DataFrame) -> DataFrame:
    """ES ``_field_caps``: one row per field with its type and capability
    flags — pure schema introspection, no data pass.  ``aggregatable``
    mirrors ES: scalars yes, text-ish/complex no (here: complex Spark
    types are not aggregation keys)."""
    spark = df.sparkSession
    rows = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        complex_t = t.startswith(("array", "map", "struct", "binary"))
        rows.append((f.name, t, True, not complex_t))
    return spark.createDataFrame(
        rows, "field string, type string, searchable boolean, aggregatable boolean"
    ).orderBy("field")


def terms_enum(
    df: DataFrame,
    field: str,
    prefix: str = "",
    size: int = 10,
    case_insensitive: bool = False,
) -> DataFrame:
    """ES ``_terms_enum``: the sorted distinct values of ``field`` that
    start with ``prefix``, first ``size`` of them — the index-backed
    autocomplete endpoint.  Compiles to filter -> distinct -> ordered
    limit: the prefix filter is sargable (parquet row-group stats on a
    sorted/Z-ordered field skip non-matching groups), the distinct is one
    hash shuffle over the (tiny) surviving term set, and the limit is a
    TakeOrderedAndProject."""
    c = F.col(field)
    out = df.select(c.alias("term")).filter(c.isNotNull())
    if prefix:
        probe = F.lower(F.col("term")) if case_insensitive else F.col("term")
        out = out.filter(
            probe.startswith(prefix.lower() if case_insensitive else prefix)
        )
    return out.distinct().orderBy("term").limit(size)


def knn_search(
    df: DataFrame,
    knn: dict,
    tiebreaker: str | None = None,
) -> DataFrame:
    """ES ``knn`` search block (the `_search` top-level ``"knn"`` body /
    legacy ``_knn_search`` endpoint): exact-scored top-k over a vector
    column, with the optional pre-``filter``.

        {"field": "embedding", "query_vector": [...], "k": 10,
         "num_candidates": 100, "filter": {...}, "similarity": "cosine"}

    ``similarity``: cosine (default), dot_product, or l2_norm — scored
    with ES's published score transforms ((1+cos)/2, (1+dot)/2,
    1/(1+d²)) so scores land in ES's ranges.  The ``filter`` compiles
    through the query DSL and applies BEFORE ranking, exactly ES's
    pre-filter semantics.

    This is the exact path: one scan, score in codegen, top-k as a
    TakeOrderedAndProject (per-partition heaps, k-row driver merge).
    ``num_candidates`` is accepted for API parity; the approximate path
    at scale is `operators/similarity` (IVF / RP-LSH partition-pruned
    probing), which this endpoint's caller composes when the exact scan
    is too hot."""
    from elasticsearch_hadoop_spark.functions.similarity import cosine_sql, dot_sql
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    field = knn["field"]
    qv = [float(x) for x in knn["query_vector"]]
    k = int(knn.get("k", 10))
    sim = str(knn.get("similarity", "cosine")).lower()
    out = df
    if knn.get("filter"):
        out = out.filter(compile_query(knn["filter"]))
    # the score parses from SQL in one JVM round trip
    a = f"CAST({sql.ident(field)} AS ARRAY<DOUBLE>)"
    b = sql.double_array(qv)
    if sim == "cosine":
        score = f"(1.0D + {cosine_sql(a, b)}) / 2.0D"
    elif sim == "dot_product":
        score = f"(1.0D + {dot_sql(a, b)}) / 2.0D"
    elif sim == "l2_norm":
        d2 = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0D AS DOUBLE), (acc, x) -> acc + x)"
        )
        score = f"1.0D / (1.0D + {d2})"
    else:
        raise ValueError(f"knn: unsupported similarity {sim!r}")
    out = out.withColumn("_score", F.expr(score))
    order = [F.col("_score").desc()]
    if tiebreaker is not None:
        order.append(F.col(tiebreaker).asc())
    return out.orderBy(*order).limit(k)


def rescore(
    df: DataFrame,
    score_col: str,
    body: dict,
    tiebreaker: str | None = None,
) -> DataFrame:
    """ES ``rescore``: re-rank the top ``window_size`` hits with a second,
    costlier query.

        {"window_size": 50,
         "query": {"rescore_query": {...}, "query_weight": 1.0,
                   "rescore_query_weight": 2.0, "score_mode": "total"}}

    The rescore_query contributes a score if it is a ``function_score``
    (compiled to its deterministic score column); any other clause
    contributes constant 1.0 on match / 0.0 otherwise (filter-as-score).
    score_mode: total (default) / multiply / avg / max / min.

    Returns the re-ranked WINDOW (ES appends the un-rescored tail; at
    100 TB the tail is exactly what you don't materialize).  Cost: one
    TakeOrderedAndProject for the window (window_size rows), then the
    secondary scoring runs on window_size rows only — the entire point
    of rescoring."""
    from elasticsearch_hadoop_spark.query_dsl import (
        compile_function_score,
        compile_query,
    )

    window_size = int(body.get("window_size", 10))
    q = body.get("query", {})
    rq = q.get("rescore_query")
    if rq is None:
        raise ValueError("rescore needs query.rescore_query")
    qw = float(q.get("query_weight", 1.0))
    rw = float(q.get("rescore_query_weight", 1.0))
    mode = str(q.get("score_mode", "total")).lower()

    order = [F.col(score_col).desc()]
    if tiebreaker is not None:
        order.append(F.col(tiebreaker).asc())
    window = df.orderBy(*order).limit(window_size)

    if isinstance(rq, dict) and "function_score" in rq:
        pred, sec = compile_function_score(rq["function_score"])
        sec = F.when(pred, sec).otherwise(F.lit(0.0))
    else:
        sec = F.when(compile_query(rq), F.lit(1.0)).otherwise(F.lit(0.0))
    first = F.col(score_col) * F.lit(qw)
    second = sec.cast("double") * F.lit(rw)
    if mode == "total":
        combined = first + second
    elif mode == "multiply":
        combined = first * second
    elif mode == "avg":
        combined = (first + second) / F.lit(2.0)
    elif mode == "max":
        combined = F.greatest(first, second)
    elif mode == "min":
        combined = F.least(first, second)
    else:
        raise ValueError(f"rescore: unsupported score_mode {mode!r}")
    out = window.withColumn(score_col, combined)
    return out.orderBy(*order)


def compile_retriever(
    df: DataFrame,
    body: dict,
    id_col: str,
    size: int = 10,
) -> DataFrame:
    """ES 8.14+ ``retriever`` trees — the modern search-request form that
    composes ranked sources.  Returns a frame normalized to
    ``(id_col, _score, rank)`` so every node is closed under composition:

    - ``standard`` — a query (the deterministic `_score` subset via
      ``search``); optional ``filter`` (query DSL, filter context).
    - ``knn`` — exact vector top-k via ``knn_search``.
    - ``rrf`` — reciprocal-rank fusion of sub-retrievers
      (``rank_constant``, ``rank_window_size``) via ``rrf_fuse``.
    - ``linear`` — weighted min-max-normalized fusion
      (``normalizer: minmax``, ES's deterministic one) via ``linear_fuse``.
    - ``pinned`` — promoted ids first, then the organic sub-retriever.

    ``text_similarity_reranker`` / ``rule`` / ``rescorer`` reject: they
    need a model endpoint or a rules store — no fake scores.

    Scale: every leaf is a scan-level top-k (TakeOrderedAndProject);
    fusion unions tiny ranked lists and re-aggregates on the id — the
    corpus is never touched twice."""
    if not isinstance(body, dict) or len(body) != 1:
        raise ValueError(f"retriever needs exactly one kind, got {sorted(body or {})}")
    ((kind, spec),) = body.items()
    w_rank = Window.orderBy(F.col("_score").desc(), F.col(id_col).asc())

    def _ranked(scored: DataFrame) -> DataFrame:
        return scored.select(
            id_col, "_score", F.row_number().over(w_rank).alias("rank")
        )

    if kind == "standard":
        from elasticsearch_hadoop_spark.query_dsl import compile_query

        base = df
        if spec.get("filter"):
            base = base.filter(compile_query(spec["filter"]))
        hits = search(base, {"query": spec.get("query", {"match_all": {}}),
                             "size": size}, id_col=id_col)
        return _ranked(hits)
    if kind == "knn":
        hits = knn_search(df, {**spec, "k": int(spec.get("k", size))},
                          tiebreaker=id_col)
        return _ranked(hits)
    if kind == "rrf":
        # ES semantics: rank_window_size is how DEEP each sub-retriever's
        # list goes INTO the fusion; the request `size` caps the fused
        # output.  (Getting this backwards starves the fusion: a doc
        # ranked window+1 in every list would never contribute.)
        window = int(spec.get("rank_window_size", max(size, 10)))
        subs = [
            compile_retriever(df, r, id_col, size=window)
            for r in spec.get("retrievers", [])
        ]
        if len(subs) < 2:
            raise ValueError("rrf retriever needs >= 2 sub-retrievers")
        fused = rrf_fuse(
            subs,
            id_col=id_col,
            k=int(spec.get("rank_constant", 60)),
            size=size,
        )
        return fused.select(
            id_col,
            F.col("rrf_score").alias("_score"),
            F.col("fused_rank").alias("rank"),
        )
    if kind == "linear":
        entries = spec.get("retrievers", [])
        if len(entries) < 2:
            raise ValueError("linear retriever needs >= 2 sub-retrievers")
        window = int(spec.get("rank_window_size", max(size, 10)))
        subs, weights = [], []
        for e in entries:
            norm = str(e.get("normalizer", "minmax")).lower()
            if norm != "minmax":
                raise ValueError(
                    f"linear retriever: unsupported normalizer {norm!r} "
                    "(minmax is the deterministic one)"
                )
            subs.append(compile_retriever(df, e["retriever"], id_col, size=window))
            weights.append(float(e.get("weight", 1.0)))
        fused = linear_fuse(
            subs,
            id_col=id_col,
            weights=weights,
            size=size,
        )
        return fused.select(
            id_col,
            F.col("linear_score").alias("_score"),
            F.col("fused_rank").alias("rank"),
        )
    if kind == "pinned":
        organic = compile_retriever(df, spec["retriever"], id_col, size=size)
        ids = list(spec.get("ids", []))
        # ES pinned retrieves the promoted ids even when the organic
        # window missed them — fetch the absentees by id (a sargable isin
        # over a handful of literals) with no organic score
        extra = (
            df.filter(F.col(id_col).isin(ids))
            .select(
                id_col,
                F.lit(None).cast("double").alias("_score"),
                F.lit(None).cast("int").alias("rank"),
            )
            .join(organic.select(id_col), on=id_col, how="left_anti")
        )
        merged = organic.unionByName(extra)
        # promoted ids first in declared order, organic rank after — the
        # pin position is a CASE over a few literals (pinned_order's rule)
        pin = F.lit(len(ids))
        for i, v in enumerate(reversed(ids)):
            pin = F.when(F.col(id_col) == F.lit(v), F.lit(len(ids) - 1 - i)).otherwise(pin)
        w = Window.orderBy(pin.asc(), F.col("rank").asc_nulls_last())
        return (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= size)
            .select(id_col, "_score", "rank")
        )
    raise ValueError(
        f"unsupported retriever kind {kind!r} (supported: standard, knn, "
        "rrf, linear, pinned; text_similarity_reranker/rule/rescorer need "
        "a model or rules runtime)"
    )


def pinned_order(
    df: DataFrame, ids: list, organic_sort: list, id_col: str = "_id", size: int | None = None
) -> DataFrame:
    """The ordering half of the ``pinned`` query: promoted ids first (in
    their declared order), then organic hits under ``organic_sort``.
    One projection + TakeOrderedAndProject — the pin rank is a CASE over
    a few literals, not a join."""
    rank = F.lit(len(ids))
    for i, v in enumerate(reversed(ids)):
        rank = F.when(F.col(id_col) == F.lit(v), F.lit(len(ids) - 1 - i)).otherwise(rank)
    out = df.withColumn("__pin", rank)
    order = [F.col("__pin").asc()]
    for spec in organic_sort:
        f, asc = _direction(spec)
        order.append(F.col(f).asc() if asc else F.col(f).desc())
    out = out.orderBy(*order)
    if size is not None:
        out = out.limit(size)
    return out.drop("__pin")


def render_search_template(template: str | dict, params: dict) -> dict:
    """ES search templates (`_render/template`): mustache-lite
    substitution into a JSON search body.

    Supported (the deterministic subset users actually template):
    - ``{{var}}`` — scalar substitution; when the template value is
      EXACTLY ``"{{var}}"`` and the param is a number/bool/list/object,
      the quotes dissolve (ES's coercion), otherwise the value splices
      into the surrounding string;
    - ``{{#toJson}}var{{/toJson}}`` — JSON-encode a list/object param;
    - ``{{var}}{{^var}}default{{/var}}`` — default when the param is
      absent.

    Rendering happens on the JSON TEXT then parses once — exactly the
    server's model, so a malformed render fails loudly at json.loads."""
    import json as _json
    import re as _re

    text = template if isinstance(template, str) else _json.dumps(template)

    def _enc_str(v) -> str:
        # splice into a string context: JSON-escape minus the outer quotes
        return _json.dumps(str(v))[1:-1]

    # {{#toJson}}var{{/toJson}} (quoted or bare)
    def to_json(m):
        name = m.group(1).strip()
        if name not in params:
            raise KeyError(f"search template: missing param {name!r}")
        return _json.dumps(params[name])

    text = _re.sub(r'"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}"', to_json, text)
    text = _re.sub(r"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}", to_json, text)

    # {{var}}{{^var}}default{{/var}} — inverted-section default
    def with_default(m):
        name, default = m.group(1), m.group(3)
        v = params.get(name)
        return _enc_str(v) if v not in (None, "") else default

    text = _re.sub(r"\{\{(\w+)\}\}\{\{\^(\w+)\}\}(.*?)\{\{/\2\}\}", with_default, text)

    # "{{var}}" as the WHOLE value with a non-string param -> unquoted
    def whole(m):
        name = m.group(1)
        if name not in params:
            raise KeyError(f"search template: missing param {name!r}")
        v = params[name]
        return _json.dumps(v) if not isinstance(v, str) else _json.dumps(v)

    text = _re.sub(r'"\{\{(\w+)\}\}"', whole, text)

    # residual inline {{var}} inside strings
    def inline(m):
        name = m.group(1)
        if name not in params:
            raise KeyError(f"search template: missing param {name!r}")
        return _enc_str(params[name])

    text = _re.sub(r"\{\{(\w+)\}\}", inline, text)
    return _json.loads(text)


def termvectors(
    df: DataFrame, field: str, id_col: str, positions: bool = True
) -> DataFrame:
    """ES ``_termvectors``: per-document term statistics over the analyzed
    field — term_freq and (optionally) the position list, the response
    shape of GET <index>/_termvectors/<id>.  One posexplode + a hash
    aggregation on (doc, term); positions collect sorted so the output is
    deterministic."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(standard_analyze(F.col(field))).alias("position", "term"),
    )
    aggs = [F.count(F.lit(1)).alias("term_freq")]
    if positions:
        aggs.append(F.array_sort(F.collect_list("position")).alias("positions"))
    return toks.groupBy(id_col, "term").agg(*aggs)
