"""Text-analysis functions: the ES-analyzer analogue + LLM-pipeline text ops
(SURVEY.md §2.C "Text analysis"; driver-mandated extensions).

Everything here is a pure Column expression (Catalyst HigherOrderFunctions,
regexp, hash built-ins) — no Python UDFs, so these run inside whole-stage
codegen and scale linearly with input at 100 TB.

ES-parity notes: `standard_analyze` implements the documented exact subset
of ES's standard analyzer (lowercase + split on non-alphanumerics, drop
empties).  No scoring, no stemming, no language-specific analysis — the
reference itself never scores either (it reads `_source`, SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions import sql

# A small English stopword set (public-domain list subset); used for
# stopword-ratio quality scoring and the language-ID heuristic.
ENGLISH_STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
).split()


# The ONE definition of the analyzer's token boundary.  standard_analyze
# (Column, runtime) and py_standard_analyze (Python, compile time — the
# query-DSL parsers tokenize query text while building Column plans) both
# derive from it, so they cannot drift independently (ADVICE r5).
TOKEN_SPLIT_REGEX = r"[^a-z0-9]+"

_TOKEN_SPLIT_RE = None  # compiled lazily; re not imported at module top


def py_standard_analyze(text: object) -> list[str]:
    """Python replica of `standard_analyze` for compile-time query-text
    tokenization: lowercase, split on TOKEN_SPLIT_REGEX, drop empties.
    Must stay behaviorally identical to the Column version —
    tests/test_text_functions.py pins the differential."""
    global _TOKEN_SPLIT_RE
    if _TOKEN_SPLIT_RE is None:
        import re

        _TOKEN_SPLIT_RE = re.compile(TOKEN_SPLIT_REGEX)
    return [t for t in _TOKEN_SPLIT_RE.split(str(text).lower()) if t]


def any_term_sql(field: str, terms: list[str]) -> str:
    """SQL predicate: some analyzed token of ``field`` equals one of
    ``terms`` (non-empty analyzed tokens).  Exactly
    ``arrays_overlap(standard_analyze(field), terms)`` without the
    higher-order empty-token filter — split's empty strings never equal
    a non-empty term — so it runs in whole-stage codegen.  A NULL field
    gives NULL.  The terms are an array literal, passed to generated
    code by reference, so the generated class is reused across queries
    (an ``rlike`` pattern would be inlined and compiled per query)."""
    return (
        f"arrays_overlap(split(lower({field}), '{TOKEN_SPLIT_REGEX}'), "
        f"{sql.string_array(terms)})"
    )


def standard_analyze(col: Column | str) -> Column:
    """ES standard-analyzer analogue: lowercase, split on non-alphanumeric
    runs, drop empty tokens.  Returns array<string>.  A column given by
    name is parsed from SQL text in one JVM round trip."""
    if isinstance(col, str):
        return F.expr(
            f"filter(split(lower({sql.ident(col)}), '{TOKEN_SPLIT_REGEX}'), "
            "t -> length(t) > 0)"
        )
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_REGEX),
        lambda t: F.length(t) > 0,
    )


# alias used by the query-DSL `match` compiler
analyze_tokens = standard_analyze


def token_count_whitespace(col: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


BPE_ISH_REGEX = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count: letter runs, single digits, single punctuation
    marks — a deterministic proxy for LLM tokenizer counts."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_REGEX), 0))


def stopword_ratio(tokens: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (double; 0 for empty docs)."""
    sw = F.array(*[F.lit(s) for s in (stopwords or ENGLISH_STOPWORDS)])
    n = F.size(tokens)
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Heuristic document-quality score in [0,1]: combines length band,
    mean token length band, stopword presence, and alphabetic ratio.
    Deterministic + SQL-expressible (oracle in corpus/text_analysis.py)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = standard_analyze(c)
    n_toks = F.size(toks).cast("double")
    n_chars = F.length(c).cast("double")
    mean_tok_len = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    len_ok = ((n_toks >= 10) & (n_toks <= 5000)).cast("double")
    tok_len_ok = ((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0)).cast("double")
    sw_ratio = stopword_ratio(toks)
    sw_ok = ((sw_ratio >= 0.05) & (sw_ratio <= 0.7)).cast("double")
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(F.lower(c), r"[^a-z]", "")).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    return F.round(0.3 * len_ok + 0.2 * tok_len_ok + 0.25 * sw_ok + 0.25 * alpha_ratio, 6)


def lang_id_heuristic(text: Column | str) -> Column:
    """N-gram/stopword language-ID heuristic: 'en' when the English stopword
    ratio clears a threshold, else 'unknown'.  (The fixture's text is
    English-ish token soup for every `lang` label — a character-n-gram
    model would be fiction; this documents the honest heuristic.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(stopword_ratio(standard_analyze(c)) >= 0.08, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def doc_fingerprint(text: Column | str, modulus: int = 2_147_483_647) -> Column:
    """Deterministic positional rolling-hash fingerprint:
    sum_i (i+1) * ascii(char_i) mod M.  Order-sensitive (unlike a bag of
    chars), cheap, and exactly reproducible in ANSI SQL for the oracle."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    weighted = F.transform(
        chars, lambda ch, i: (i.cast("bigint") + 1) * F.ascii(ch).cast("bigint")
    )
    total = F.aggregate(weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return total % F.lit(modulus)


def md5_token_hash(token: Column) -> Column:
    """Deterministic 60-bit token hash via md5 hex prefix — chosen because
    DuckDB can compute the identical value
    (CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)), making MinHash /
    SimHash signatures oracle-checkable."""
    return F.conv(F.substring(F.md5(F.encode(token, "UTF-8")), 1, 15), 16, 10).cast("bigint")


# PII patterns shared verbatim with the DuckDB oracle (both engines'
# regex dialects — Java util.regex and RE2 — accept this subset).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_LONG_DIGITS = r"\b\d{8,}\b"


def redact_pii(col: Column | str) -> Column:
    """Mask emails, IPv4 addresses, and long digit runs (ids/cards/phones)
    with typed placeholder tokens — the standard pre-training privacy
    scrub.  Chained JVM regexp_replace, whole-stage codegen; order matters
    (emails first so their digits never half-match the later patterns)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    return F.regexp_replace(c, PII_LONG_DIGITS, "<NUM>")


def ngram_array(tokens: Column, n: int) -> Column:
    """Array of space-joined token n-grams (empty when the doc has fewer
    than n tokens).  One transform over an index sequence — per-row Column
    math, embarrassingly parallel at any corpus size."""
    sz = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(n), sz),
        lambda i: F.concat_ws(" ", *[F.get(tokens, i - n + j) for j in range(n)]),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def max_consecutive_run(arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements (0 for empty).
    A single F.aggregate fold carrying (best, current, previous) — codegen,
    no explode.  Tokens are never '' (the analyzer drops empties), so ''
    is a safe initial sentinel."""
    init = F.struct(
        F.lit(0).alias("best"), F.lit(0).alias("cur"), F.lit("").alias("prev")
    )

    def step(acc, t):
        cur = F.when(t == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            F.greatest(acc["best"], cur).alias("best"),
            cur.alias("cur"),
            t.alias("prev"),
        )

    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element (0 for empty): sort, then the
    longest equal-adjacent run.  O(k log k) per row — no per-distinct
    rescan, no explode/groupBy."""
    return max_consecutive_run(F.array_sort(arr))


# ES _analyze endpoint analyzers: name -> tokens-Column builder.  keyword
# emits the whole input as one token; simple lowercases and splits on
# non-LETTER runs (digits separate, unlike standard); stop = standard
# minus English stopwords.
_ANALYZERS = {
    "standard": standard_analyze,
    "whitespace": lambda c: F.filter(
        F.split(c, r"\s+"), lambda t: F.length(t) > 0
    ),
    "keyword": lambda c: F.array(c),
    "simple": lambda c: F.filter(
        F.split(F.lower(c), r"[^a-z]+"), lambda t: F.length(t) > 0
    ),
    "stop": lambda c: F.filter(
        standard_analyze(c),
        lambda t: ~t.isin(*ENGLISH_STOPWORDS),
    ),
}


def analyze_api(
    df,
    field: str,
    analyzer: str = "standard",
    pattern: str = r"\W+",
    lowercase: bool = True,
    min_gram: int = 1,
    max_gram: int = 2,
):
    """ES ``_analyze`` endpoint over a column: one row per token with its
    ``position`` (the token-stream position ES reports).  Character
    offsets need the analyzer to track source spans — out of scope for
    the split-based analyzers, documented.  posexplode keeps it one
    narrow projection; run it over a 1-row frame for the classic
    "analyze this string" call.

    Beyond the fixed ``_ANALYZERS`` table: ``pattern`` (ES's pattern
    analyzer — split on a Java regex, default ``\\W+``, lowercased
    unless ``lowercase=False``) and the ``ngram`` / ``edge_ngram``
    TOKENIZERS in their default no-token_chars form (character grams of
    ``min_gram..max_gram`` over the raw string, ES's default 1..2 —
    offset-major, length-minor emission order, exactly the stream ES
    produces; edge grams anchor at offset 0).  All still one codegen
    array expression per row."""
    if analyzer == "pattern":
        def fn(c):
            # ES's pattern analyzer = pattern TOKENIZER + lowercase token
            # FILTER: split the ORIGINAL text, lower the tokens after — a
            # case-sensitive pattern (e.g. split on [A-Z]+) must see the
            # original case
            toks = F.filter(F.split(c, pattern), lambda t: F.length(t) > 0)
            return F.transform(toks, F.lower) if lowercase else toks
    elif analyzer in ("ngram", "edge_ngram"):
        if not (1 <= min_gram <= max_gram):
            raise ValueError(
                f"ngram needs 1 <= min_gram <= max_gram, got {min_gram}..{max_gram}"
            )

        def fn(c):
            n = F.length(c)
            sizes = list(range(min_gram, max_gram + 1))
            if analyzer == "edge_ngram":
                grams = F.array(
                    *[
                        F.when(n >= g, c.substr(F.lit(1), F.lit(g)))
                        for g in sizes
                    ]
                )
            else:
                sliding = F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), n),
                        lambda start: F.array(
                            *[
                                F.when(
                                    start + g - 1 <= n, c.substr(start, F.lit(g))
                                )
                                for g in sizes
                            ]
                        ),
                    )
                )
                # sequence(1, 0) would COUNT DOWN — an empty/short string
                # must yield no grams, not substr probes at offset 0
                grams = F.when(n >= 1, sliding).otherwise(
                    F.array().cast("array<string>")
                )
            return F.filter(grams, lambda t: t.isNotNull())
    else:
        fn = _ANALYZERS.get(analyzer)
        if fn is None:
            raise ValueError(
                f"unknown analyzer {analyzer!r}; supported: "
                f"{sorted(_ANALYZERS) + ['pattern', 'ngram', 'edge_ngram']}"
            )
    c = F.col(field)
    return df.select(
        "*", F.posexplode(fn(c)).alias("position", "token")
    ).drop(field)


def c4_quality_signals(text: Column | str) -> Column:
    """C4-style page-quality signals (Raffel et al. 2020 §2.2's filter
    family) as ONE struct column of pure codegen math:

    - ``n_sentences``: terminal-punctuation splits (C4 drops pages with
      < 3 sentences)
    - ``mean_word_len``: mean whitespace-token length (C4's 3..10 band)
    - ``has_lorem_ipsum`` / ``has_curly_brace``: the page-level contains
      filters (placeholder text, code)
    - ``ends_terminal``: last non-space char is . ! ? or "
    - ``frac_lines_end_punct``: fraction of newline-split lines ending in
      terminal punctuation (C4 keeps only such lines; single-line docs
      get 0 or 1)

    Downstream policy (keep/drop thresholds) stays with the caller — the
    signals are the reusable part."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda t: F.length(t) > 0)
    sentences = F.filter(
        F.split(c, r"[.!?]+"), lambda s: F.length(F.trim(s)) > 0
    )
    lines = F.filter(F.split(c, r"\n"), lambda l: F.length(F.trim(l)) > 0)
    line_ok = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike('[.!?"]$'))
    )
    return F.struct(
        F.size(sentences).alias("n_sentences"),
        F.when(
            F.size(toks) > 0,
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / F.size(toks).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.lower(c).contains("lorem ipsum").alias("has_lorem_ipsum"),
        c.contains("{").alias("has_curly_brace"),
        F.trim(c).rlike('[.!?"]$').alias("ends_terminal"),
        F.when(
            F.size(lines) > 0, line_ok / F.size(lines).cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("frac_lines_end_punct"),
    )


def unigram_logprob(df, field: str, id_col: str, min_freq: int = 1):
    """Per-document mean unigram log10-probability under the corpus's OWN
    unigram language model — the deterministic proxy for the
    KenLM-perplexity quality filter every large training-data pipeline
    runs (CCNet/RedPajama-style): fluent text re-uses common tokens,
    gibberish and boilerplate sit in the tail, so a low mean logprob (=
    high perplexity) flags junk.

    Two aggregations: (1) the vocabulary (explode + hash agg), whose
    corpus-wide token total reduces to ONE row and re-attaches via a
    broadcast cross join — never an unpartitioned window over the
    exploded corpus, which would funnel every token through a single
    partition at exactly the scale this filter targets (ADVICE r4);
    (2) the per-doc re-aggregation after an equi-join of exploded tokens
    with the vocab on the term.  At 100 TB the vocab frame is
    Zipf-bounded (far smaller than the corpus) — Spark broadcast-joins
    it when it fits, else it's one hash-partitioned join on the term
    key; either way no driver-side model object, unlike an actual KenLM
    binary.

    Returns (id_col, n_tokens, mean_logprob) — policy thresholds stay
    with the caller."""
    toks = df.select(
        F.col(id_col),
        F.explode(standard_analyze(F.col(field))).alias("__term"),
    )
    vocab = (
        toks.groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .filter(F.col("__freq") >= min_freq)
    )
    # one-row total, broadcast to every token row (keeps the 0.5/total
    # smoothing for OOV tokens that a plain per-row coalesce would lose)
    total = vocab.agg(
        F.coalesce(F.sum("__freq").cast("double"), F.lit(1.0)).alias("__total")
    )
    joined = toks.join(vocab, "__term", "left").crossJoin(F.broadcast(total))
    lp = F.log10(
        F.coalesce(F.col("__freq").cast("double"), F.lit(0.5))
        / F.col("__total")
    )
    return (
        joined.select(F.col(id_col), lp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("__lp").alias("mean_logprob"),
        )
    )


def let_bind(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` once per row
    and reuse it through a lambda variable — the defense against
    Catalyst's CollapseProject re-inlining an expensive producer (an
    analyzer split, an md5 map) into every consumer.  Shared by the
    MinHash signatures, the span compiler, and any corpus query that
    probes one analyzed array many times."""
    return F.transform(F.array(value), body).getItem(0)
