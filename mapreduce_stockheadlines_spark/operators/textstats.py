"""Text-analysis operators for training-data pipelines (§2.2 extension):
language ID, quality scoring, token counting, fingerprinting.

All pure column expressions (whole-stage codegen) — no Python in the hot
path — and deterministic, so every one has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    normalized_text,
    text_word_ngrams,
    tokens_array,
)
from ..session import local_table
from .relevance import _zero_key

# BPE-ish pre-tokenization: letter runs, digit runs, single non-space symbols
# (a simplification of the GPT-2 pre-tokenizer split).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Minimal per-language marker words for the n-gram/marker heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
}


def whitespace_token_count(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0)).cast(
        "bigint"
    )


def bpe_ish_token_count(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("bigint")


def non_letter_count(text: Column | str) -> Column:
    """Number of chars outside [a-z ] after lowercasing (punct+digit mass)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(F.lower(text), "[a-z ]", "")).cast("bigint")


def marker_hits(text: Column | str, markers: tuple[str, ...]) -> Column:
    """How many of the marker words occur (word-boundary match)."""
    text = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hit = F.lit(0)
    for m in markers:
        hit = hit + F.when(padded.contains(f" {m} "), 1).otherwise(0)
    return hit


def _lang_id_cols(text_col: str) -> list[Column]:
    """pred_lang + marker_score as raw column expressions."""
    scores = {lang: marker_hits(text_col, ms) for lang, ms in LANG_MARKERS.items()}
    best = None
    for lang in sorted(scores):  # asc language code = deterministic tiebreak
        s = scores[lang]
        if best is None:
            best = (F.lit(lang), s)
        else:
            best_lang, best_score = best
            best = (
                F.when(s > best_score, F.lit(lang)).otherwise(best_lang),
                F.greatest(s, best_score),
            )
    pred, score = best
    return [
        F.when(score > 0, pred).otherwise(F.lit("unknown")).alias("pred_lang"),
        score.cast("int").alias("marker_score"),
    ]


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID: score each language by marker hits, pick the
    argmax (ties broken by language code ASC via the ordered CASE chain).
    A real system would use char n-gram profiles; the *operator shape*
    (per-doc scoring + deterministic argmax, all codegen) is the contract.
    """
    return df.select(id_col, *_lang_id_cols(text_col))


_STOPWORD_REGEX = r"\b(" + "|".join(STOPWORDS) + r")\b"


def _quality_cols(text_col: str) -> list[Column]:
    """Quality components + composite as raw column expressions."""
    # Tokens and the stop-word count both come off the single-space-
    # normalized text with plain string functions: the former
    # filter()/isin() HOF pipeline was interpreted per element and
    # measured ~35% slower for identical counts (tokens are exactly the
    # space-separated [a-z]+ runs, so \b-anchored alternation matches
    # precisely the stop-word tokens).
    norm = normalized_text(text_col)
    n_tokens = F.size(text_word_ngrams(norm, 1)).cast("bigint")
    n_chars = F.length(text_col).cast("bigint")
    n_stop = F.regexp_count(norm, F.lit(_STOPWORD_REGEX)).cast("bigint")
    # Components rounded to 4dp BEFORE combining so the composite score is
    # computed from identical doubles in any engine (oracle parity).
    punct_ratio = F.round(non_letter_count(text_col) / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4)
    len_component = F.round(F.least(n_tokens, F.lit(200)) / F.lit(200.0), 4)
    # Weighted sum in exact integer fixed-point (x1e5): double rounding of
    # 0.4*l+0.3*s+0.3*(1-p) at a .XXXX5 boundary is engine-dependent, so do
    # HALF_UP on integers instead (q5 is the score x 100000, exactly).
    l4 = F.round(len_component * 10000).cast("long")
    s4 = F.round(stop_ratio * 10000).cast("long")
    p4 = F.round(punct_ratio * 10000).cast("long")
    q5 = 4 * l4 + 3 * s4 + 3 * (F.lit(10000) - p4)
    q4 = F.floor(q5 / 10).cast("long") + F.when(q5 % 10 >= 5, 1).otherwise(0)
    score = q4 / F.lit(10000.0)
    return [
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_obs"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    ]


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality score from length / punctuation / stop-word
    signals — the standard cheap pre-filter in LLM data pipelines."""
    return df.select(id_col, *_quality_cols(text_col))


# Gopher rule 7's required words (Rae et al. 2021 appendix A1.1: a doc
# must contain at least 2 of these common English words).
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _rule_base(text: Column) -> tuple[Column, Column, Column]:
    """(words, n_words, n_lines) shared by the Gopher and C4 rule
    builders — factored out because Spark does not CSE higher-order-
    function trees, so two builders in one projection would otherwise
    tokenize every document twice."""
    words = F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0)
    n_words = F.size(words).cast("bigint")
    n_lines = (F.regexp_count(text, F.lit(r"\n")) + 1).cast("bigint")
    return words, n_words, n_lines


def gopher_rules_cols(
    text_col: Column | str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_stop_hits: int = 2,
    _base: tuple[Column, Column, Column] | None = None,
) -> list[Column]:
    """The named Gopher document-quality rules (Rae et al. 2021,
    appendix A1.1 — the filter set FineWeb/Dolma/RefinedWeb all derive
    from) as pure codegen column expressions, defaults = the paper's
    thresholds: word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio <= 0.1 for EITHER hashes or ellipses (the
    paper applies the threshold per symbol, so ``symbol_word_ratio``
    is the max of the two per-symbol ratios — the rule's operative
    number), <= 90% of lines starting with a bullet, <= 30% ending
    with an ellipsis, >= 80% of words containing a letter, and >= 2 of
    the 8 required English stop words. Emits every rule's measured
    value (ratios rounded to 4dp so the composite boolean compares
    identical doubles in any engine) plus the conjunction
    ``gopher_kept``.

    Cross-engine notes: counts are non-overlapping left-to-right regex
    scans (Java and RE2 agree); line anchors use ``(?m)`` with
    ``[ \\t]*`` (not ``\\s*``, which would cross newlines) and assume
    \\n-terminated lines (Java's ``(?m)$`` also accepts \\r and U+2028
    — corpora with those line endings should be normalized first)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    words, n_words, n_lines = (
        _base if _base is not None else _rule_base(text)
    )
    nw1 = F.greatest(n_words, F.lit(1))
    # sum of word lengths == count of non-whitespace chars (words
    # partition them), so mean word length needs no per-word fold
    n_nonws = F.length(F.regexp_replace(text, r"\s", "")).cast("bigint")
    mean_word_len = F.round(n_nonws / nw1, 4)
    n_hash = F.regexp_count(text, F.lit("#")).cast("bigint")
    n_ell_sym = (
        F.regexp_count(text, F.lit(r"\.\.\."))
        + F.regexp_count(text, F.lit("…"))
    ).cast("bigint")
    symbol_word_ratio = F.greatest(
        F.round(n_hash / nw1, 4), F.round(n_ell_sym / nw1, 4)
    )
    bullet_line_frac = F.round(
        F.regexp_count(text, F.lit(r"(?m)^[ \t]*[-*•]")) / n_lines, 4
    )
    ellipsis_line_frac = F.round(
        F.regexp_count(text, F.lit(r"(?m)(\.\.\.|…)$")) / n_lines, 4
    )
    alpha_word_frac = F.round(
        F.size(F.filter(words, lambda t: t.rlike("[a-zA-Z]"))) / nw1, 4
    )
    low = F.lower(text)
    hits = F.lit(0)
    for w in GOPHER_REQUIRED_WORDS:
        hits = hits + F.when(
            F.regexp_count(low, F.lit(rf"\b{w}\b")) > 0, 1
        ).otherwise(0)
    req_stop_hits = hits.cast("int")
    kept = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_word_ratio <= max_symbol_word_ratio)
        & (bullet_line_frac <= max_bullet_line_frac)
        & (ellipsis_line_frac <= max_ellipsis_line_frac)
        & (alpha_word_frac >= min_alpha_word_frac)
        & (req_stop_hits >= min_required_stop_hits)
    )
    return [
        n_words.alias("gopher_n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        req_stop_hits.alias("req_stop_hits"),
        kept.alias("gopher_kept"),
    ]


def c4_rules_cols(
    text_col: Column | str,
    *,
    min_sentences: int = 3,
    min_words: int = 5,
    _base: tuple[Column, Column, Column] | None = None,
) -> list[Column]:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2) that are
    document-level and deterministic, as codegen columns: terminal-
    punctuation line fraction (C4 keeps only lines ending in . ! ? "),
    sentence count (pages with < 3 sentences are dropped), the curly-
    brace code filter and the "lorem ipsum" placeholder filter, plus
    the conjunction ``c4_kept``. The remaining C4 rules live elsewhere
    in the engine by design: the bad-word list is a data input (the
    blocklist-join shape is ``filter_blocked_domains``), and the
    three-sentence-span dedup is ``remove_dup_windows``."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    _words, n_words, n_lines = (
        _base if _base is not None else _rule_base(text)
    )
    term_line_frac = F.round(
        F.regexp_count(text, F.lit(r"(?m)[.!?\"']$")) / n_lines, 4
    )
    n_sentences = F.regexp_count(text, F.lit(r"[.!?]+")).cast("bigint")
    has_brace = text.contains("{")
    has_lorem = F.lower(text).contains("lorem ipsum")
    kept = (
        ~has_brace
        & ~has_lorem
        & (n_sentences >= min_sentences)
        & (n_words >= min_words)
    )
    return [
        term_line_frac.alias("c4_term_line_frac"),
        n_sentences.alias("c4_n_sentences"),
        has_brace.alias("c4_has_brace"),
        has_lorem.alias("c4_has_lorem"),
        kept.alias("c4_kept"),
    ]


def gopher_c4_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gopher: dict | None = None,
    c4: dict | None = None,
) -> DataFrame:
    """Per-doc Gopher + C4 rule evaluation in ONE zero-shuffle
    projection — the named-rule companion to the composite
    ``quality_score`` gate. ``gopher``/``c4`` override the respective
    rule set's thresholds by keyword. The word array and line count
    are built once and shared by both rule sets (Spark does not CSE
    HOF trees)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    base = _rule_base(text)
    return df.select(
        id_col,
        *gopher_rules_cols(text_col, _base=base, **(gopher or {})),
        *c4_rules_cols(text_col, _base=base, **(c4 or {})),
    )


def text_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    include_fingerprint: bool = False,
    include_token_counts: bool = False,
    extra_cols: list[Column] | None = None,
) -> DataFrame:
    """lang_id + quality_score (+ optionally fingerprint and raw
    ws/BPE-ish token counts) fused into ONE projection over one scan.

    All components are pure column expressions, so computing them together
    costs a single pass with zero shuffle; the naive formulation —
    ``lang_id(df).join(quality_score(df), id)`` — scans the table twice
    and hash-shuffles both sides for the join, for identical output.

    ``extra_cols``: additional aliased column expressions to fuse into
    the same projection — the extension point for callers adding more
    per-doc codegen stats (e.g. x08's strip_html columns) without a
    second scan or a join."""
    cols = [*_lang_id_cols(text_col), *_quality_cols(text_col)]
    if include_fingerprint:
        cols += fingerprint_cols(text_col)
    if include_token_counts:
        cols += [
            whitespace_token_count(text_col).alias("n_ws_tokens"),
            bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        ]
    if extra_cols:
        cols += extra_cols
    return df.select(id_col, *cols)


def fingerprint_cols(text_col: str) -> list[Column]:
    """fp / fp8 / norm_len as raw column expressions (fusable)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    fp = F.md5(norm.cast("binary"))
    return [
        fp.alias("fp"),
        F.substring(fp, 1, 8).alias("fp8"),
        F.length(norm).cast("bigint").alias("norm_len"),
    ]


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (stable under reflow), plus an 8-hex-char short key for banding."""
    return df.select(id_col, *fingerprint_cols(text_col))


def char_entropy_col(text_col, alias: str = "char_entropy_fp6") -> Column:
    """Shannon entropy of the lowercased character distribution, in
    1e-6-nat fixed point (BIGINT): ``-Σ_c round(10⁶ · p_c · ln p_c)``
    over the doc's distinct characters, ``p_c = n_c / n``. The classic
    cheap junk detector the length/punct/stopword trio misses both
    tails of: looping/repetitive text compresses the distribution
    (low entropy), encrypted/base64/random noise flattens it (high) —
    normal prose sits in a stable band (~2.8-3.1 nats for English).

    Cross-engine contract: counts are integers, ``p`` is one DOUBLE
    divide, and each term is rounded to fixed point BEFORE the sum, so
    the sum is an exact order-free integer fold (summation order
    differs between Spark's first-occurrence array_distinct walk and
    DuckDB's group-by — a float sum would flip last digits). ln's
    libm last-ulp divergence cannot move a 1e-6 rounding except within
    ~1e-19 of a boundary (the x29 js_contrib argument). Empty/NULL
    docs are NULL (no distribution — the loud-null convention).

    Scalar codegen (split/array_sort/aggregate) — the per-doc cost is
    O(n log n) and alphabet-independent: one sort, one run-length fold.
    Hosts embedding this in a wide projection should use
    ``char_array_col`` + ``char_entropy_from_chars`` and stage the char
    array through a bound column (the winnow_gram_col lesson — the
    fused form re-split the array once per alphabet symbol, a measured
    12.2→8.2 s difference on the x08 bench line)."""
    return char_entropy_from_chars(char_array_col(text_col), alias)


def char_array_col(text_col) -> Column:
    """The lowercased character array feeding ``char_entropy_from_chars``
    — empties filtered (Java ''.split('') is [''] while DuckDB's char
    split of '' is [], and an empty doc must be NULL in both engines).
    Hosts embedding the entropy in a wide projection should stage THIS
    through a bound column (the winnow_gram_col lesson): the entropy
    fold's per-distinct-char filter re-evaluates a free chars
    expression — an O(n) split — once per alphabet symbol."""
    col = text_col if isinstance(text_col, Column) else F.col(text_col)
    return F.filter(
        F.split(F.lower(col), ""), lambda x: F.length(x) > 0
    )


def char_entropy_from_chars(
    chars_col, alias: str = "char_entropy_fp6"
) -> Column:
    """The entropy fold over a (preferably bound) char-array column —
    referenced >= 3 times in this tree, which keeps CollapseProject
    from inlining a staged column back (the winnow staging argument).

    O(n log n), alphabet-independent (round 11 — VERDICT r10 nit #3):
    one ``array_sort`` then a single run-length fold whose accumulator
    is (previous char, current run length, entropy sum) — a run
    boundary flushes the finished run's fixed-point term; the
    ``finish`` lambda flushes the last run. The pre-r11 form
    re-filtered the char array once per DISTINCT char (O(alphabet·n)).
    The fixed-point contract is unchanged: run lengths are exactly the
    per-char counts, each term ``round(10⁶·p·ln p)`` is an integer
    before the order-free sum, so values are bit-identical to the
    census form the DuckDB oracle computes."""
    chars = (
        chars_col if isinstance(chars_col, Column) else F.col(chars_col)
    )
    n = F.size(chars)

    def term(nc):
        p = nc / n
        return F.round(p * F.log(p) * 1_000_000).cast("long")

    def flush(acc):
        # the finished run's term (0 when no run yet — the first step)
        return F.when(acc["run"] > 0, term(acc["run"])).otherwise(
            F.lit(0).cast("long")
        )

    init = F.struct(
        # sentinel: chars are single non-empty characters, never ""
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )

    def step(acc, x):
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["acc"])
            .otherwise(acc["acc"] + flush(acc))
            .alias("acc"),
        )

    ent = F.aggregate(
        F.array_sort(chars),
        init,
        step,
        lambda acc: acc["acc"] + flush(acc),
    )
    return F.when(n > 0, -ent).alias(alias)


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, char_entropy_fp6) — the operator form of the column."""
    return df.select(id_col, char_entropy_col(text_col))


# Winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03 — the MOSS algorithm):
# base-131 polynomial k-gram hashes mod a prime, then the minimum of
# every w-hash window. Guarantee: any substring match of length >=
# w + k - 1 characters shares at least one selected hash, while the
# selected set is a ~2/(w+1) compression of the gram stream — the
# whole-document md5 above catches only EXACT copies; winnowing spots
# partially-shared text (quotes, boilerplate, plagiarized spans).
# Exact integer arithmetic at every step (max term 127·131^4 < 2^45,
# summed in BIGINT before one mod), so the DuckDB oracle re-derives
# every hash bit-for-bit.
WINNOW_BASE, WINNOW_MOD = 131, 1_000_003


def _winnow_norm(text_col) -> Column:
    col = text_col if isinstance(text_col, Column) else F.col(text_col)
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def winnow_gram_col(text_col, k: int = 5) -> Column:
    """The k-gram rolling-hash array (NULL when the normalized text is
    shorter than k — Spark's sequence(1, stop) DESCENDS when stop < 1,
    so the array is when-GATED on n >= k, never clamped; a clamp-to-0
    stop yields the bogus [1, 0] index list, and a NULL n slips through
    greatest(), which skips NULLs).

    PERFORMANCE (round 12, measured): this one-expression convenience
    form embeds the NORMALIZATION CHAIN in the lambda body, and a HOF
    lambda re-evaluates every free subexpression PER ELEMENT — each
    gram character pays the full trim(regexp_replace(lower(text)))
    regex over the whole string, O(n²·k) per doc (65 s single-task for
    5 K 300-char docs). Hosts on any hot path MUST use the staged pair
    instead: bind ``_winnow_norm`` -> ``winnow_char_col`` ->
    ``winnow_gram_from_chars`` (2.2 s for the same probe, 29x;
    bit-identical values, pinned by
    test_winnow_gram_staged_chars_equivalence). This form remains for
    one-off/cold-path use and as the semantic reference."""
    if k < 2:
        raise ValueError("winnow: need k >= 2")
    norm = _winnow_norm(text_col)
    n = F.length(norm)
    pows = [WINNOW_BASE ** (k - 1 - j) for j in range(k)]

    def gram(i):
        acc = None
        for j, p in enumerate(pows):
            term = F.ascii(norm.substr(i + j, F.lit(1))).cast("long") * p
            acc = term if acc is None else acc + term
        return acc % WINNOW_MOD

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
    )


def winnow_char_col(norm_col) -> Column:
    """Char-code array of a BOUND ``_winnow_norm`` column (NULL for
    NULL/empty normalized text) — the staging step that makes the gram
    build O(n): each character's code is computed ONCE here (substr on
    a plain attribute is cheap), so the gram lambda downstream does k
    array lookups per position instead of k full-string regex
    re-evaluations (the winnow_gram_col pathology). MUST itself be
    bound before ``winnow_gram_from_chars`` consumes it — the same
    per-element re-evaluation rule applies one level up."""
    col = norm_col if isinstance(norm_col, Column) else F.col(norm_col)
    return F.when(
        F.length(col) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.ascii(col.substr(i, F.lit(1))).cast("long"),
        ),
    )


def winnow_gram_from_chars(chars_col, k: int = 5) -> Column:
    """The winnow k-gram rolling-hash array from a BOUND
    ``winnow_char_col`` array — value-identical to ``winnow_gram_col``
    over the same text (same base-131 polynomial mod 1000003, same
    NULL-when-shorter-than-k gate; equivalence pytest-pinned) at O(n·k)
    ARRAY LOOKUPS instead of O(n²·k) regex re-evaluations (29x
    measured; see winnow_gram_col). The chars argument is referenced
    k + 1 times in the output tree, which keeps CollapseProject from
    inlining the staged alias back."""
    if k < 2:
        raise ValueError("winnow: need k >= 2")
    a = chars_col if isinstance(chars_col, Column) else F.col(chars_col)
    n = F.size(a)
    pows = [WINNOW_BASE ** (k - 1 - j) for j in range(k)]

    def gram(i):
        acc = None
        for j, p in enumerate(pows):
            term = F.element_at(a, i + j) * p
            acc = term if acc is None else acc + term
        return acc % WINNOW_MOD

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
    )


def winnow_sel_col(grams_col, w: int = 4) -> Column:
    """Sorted distinct window minima over a BOUND gram-array column
    (see winnow_gram_col for why it must be bound). NULL passes
    through (the no-grams contract)."""
    if w < 1:
        raise ValueError("winnow: need w >= 1")
    grams = (
        grams_col if isinstance(grams_col, Column) else F.col(grams_col)
    )
    ng = F.size(grams)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(ng - (w - 1), F.lit(1))),
        lambda t: F.array_min(F.slice(grams, t, w)),
    )
    return F.when(ng >= 1, F.array_sort(F.array_distinct(mins)))


def winnow_cols_from(sel_col) -> tuple[Column, Column]:
    """(n_winnow, winnow_fp8) registry shape from a bound selected-set
    column: the count of distinct selected hashes and an 8-hex md5 of
    their sorted comma-join. Docs shorter than k normalized chars
    carry 0 / NULL (no grams — the chunking 'no output' convention)."""
    sel = sel_col if isinstance(sel_col, Column) else F.col(sel_col)
    n_col = (
        F.coalesce(F.size(sel), F.lit(0)).cast("bigint").alias("n_winnow")
    )
    fp = F.when(
        sel.isNotNull(),
        F.substring(
            F.md5(
                F.concat_ws(
                    ",", F.transform(sel, lambda x: x.cast("string"))
                )
            ),
            1,
            8,
        ),
    ).alias("winnow_fp8")
    return n_col, fp


def winnow_fingerprint_summary(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """(id, n_winnow, winnow_fp8) — the staged composition of the
    column builders above (norm -> chars -> grams -> selection, every
    stage a bound column; the round-12 staged-chars fast path)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            _winnow_norm(F.col(text_col)).alias("_wn"),
        )
        .select("id", winnow_char_col("_wn").alias("_wc"))
        .select("id", winnow_gram_from_chars("_wc", k).alias("_wg"))
        .select("id", winnow_sel_col("_wg", w).alias("_ws"))
        .select("id", *winnow_cols_from("_ws"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    max_per_doc: int | None = None,
) -> DataFrame:
    """(id, whash) — one row per selected hash, the exploded index form
    ``winnow_neardup_pairs`` joins on. Narrow staged projections + one
    explode, no shuffle.

    The explode is ``explode_outer`` + a post-filter on the GENERATED
    attribute, not a plain ``explode`` — deliberately (round 11, a
    measured pathology): on a non-outer Generate, Catalyst's
    InferFiltersFromGenerate adds ``size(child) > 0 AND
    isnotnull(child)`` and PushDownPredicates then inlines the full
    generator-child expression through every staging Project down to
    the scan — the winnow chain arrives at the Filter as the FUSED
    sel(grams(text)) form whose per-window lambda re-evaluates the
    whole gram array per element (O(n²·k) per doc, interpreted since
    HOFs don't codegen; measured ~1 min/doc at sf0.001 — hours for one
    500-doc index). The outer explode infers no such filter, and the
    ``whash IS NOT NULL`` predicate references the generator OUTPUT,
    which cannot be pushed below the Generate, so staging survives.
    Semantics are identical: the selected set is NULL or non-empty by
    construction (winnow_sel_col gates on ng >= 1), so the outer
    explode's one NULL row per empty doc is exactly what the filter
    removes.

    ``max_per_doc`` caps the index rows per document by keeping the
    ``max_per_doc`` SMALLEST selected hashes — deterministic (the set
    is sorted) and uniform (the polynomial hash is value-agnostic), the
    MinHash-style sampling rule. Winnowing already compresses the gram
    stream ~2/(w+1)×, but that is still ~0.4 hashes per normalized
    character: at 100 TB the uncapped index is tens of TB, while a
    256-hash cap bounds it at rows×2 KB and two documents sharing a
    LONG span still collide with high probability (each contributes
    its smallest hashes, and a shared span's hashes are identical in
    both). The uncapped default keeps the exact w+k-1 guarantee for
    moderate corpora."""
    sel = winnow_sel_col("_wg", w)
    if max_per_doc is not None:
        if max_per_doc < 1:
            raise ValueError(
                f"winnow: max_per_doc must be >= 1, got {max_per_doc}"
            )
        sel = F.slice(sel, 1, int(max_per_doc))
    return (
        df.select(
            F.col(id_col).alias("id"),
            _winnow_norm(F.col(text_col)).alias("_wn"),
        )
        .select("id", winnow_char_col("_wn").alias("_wc"))
        .select("id", winnow_gram_from_chars("_wc", k).alias("_wg"))
        .select("id", sel.alias("_ws"))
        .select("id", F.explode_outer("_ws").alias("whash"))
        .filter(F.col("whash").isNotNull())
    )


def winnow_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
    max_per_doc: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Partial-overlap near-duplicate pairs by shared winnow hashes:
    (id_a, id_b, n_shared) with id_a < id_b and n_shared >=
    ``min_shared``. The join key is the selected hash — docs sharing
    any substring of w + k - 1 normalized chars collide by the
    winnowing guarantee, which MinHash (whole-set similarity) dilutes
    away when the shared span is a small fraction of each doc.

    Scale: hashes occurring in more than ``max_df`` documents are
    dropped BEFORE the self-join (one census aggregation) — the
    ubiquitous-boilerplate hash is exactly the key whose bucket
    explodes quadratically, and a hash shared by >max_df docs carries
    no pair-discriminating signal. Same hot-key bound as the LSH band
    join; candidate pairs stay linear in true overlap. ``max_per_doc``
    bounds the index side itself (smallest-hash sampling — see
    winnow_fingerprints) for corpus scales where even the winnowed
    stream is too large to self-join whole."""
    # (id, whash) rows are already distinct by construction —
    # winnow_sel_col applies array_distinct per doc before the explode —
    # so no dedup shuffle is spent here (round-10 review finding)
    fp = winnow_fingerprints(
        df, id_col, text_col, k, w, max_per_doc=max_per_doc
    )
    # the index has THREE consumers below (census + both self-join
    # sides) — without a barrier each re-executes the rolling-hash +
    # window-minima chain over the corpus (round 11: 3x the dominant
    # cost, measured; the dedup_by_pairs/x31 multi-consumer policy).
    # localCheckpoint by default; reliable_checkpoint=True writes to
    # the configured checkpoint dir for fault tolerance on a cluster.
    # eager=False (round-12 advice fix): the barrier materializes at
    # the FIRST action, not at plan construction — merely building the
    # x04 registry query (schema inspection, explain, warm-up) must
    # not execute the full fingerprint pass, and the reliable variant
    # must not demand a configured checkpoint dir at build time.
    fp = (
        fp.checkpoint(eager=False)
        if reliable_checkpoint
        else fp.localCheckpoint(eager=False)
    )
    return winnow_pairs_from_fingerprints(
        fp, min_shared, winnow_rare_hashes(fp, max_df)
    )


def winnow_rare_hashes(fp: DataFrame, max_df: int) -> DataFrame:
    """The max_df census over a (id, whash) fingerprint index: the
    (whash) rows occurring in at most ``max_df`` documents — the only
    hashes any pairing join may touch (the LSH hot-bucket bound).
    Bounded by the hash space (≤ ~1e6 rows), so it broadcasts."""
    return (
        fp.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("whash")
    )


def winnow_pairs_from_fingerprints(
    fp: DataFrame, min_shared: int, rare: DataFrame
) -> DataFrame:
    """(id_a, id_b, n_shared) pairs from a (preferably checkpointed)
    (id, whash) fingerprint index and its ``winnow_rare_hashes`` census
    — the post-fingerprint half of ``winnow_neardup_pairs``, exposed so
    callers that already hold the index (the streaming ingest) share
    one implementation of the census-guarded self-join + threshold."""
    kept = fp.join(rare, "whash")
    a = kept.select(F.col("id").alias("id_a"), "whash")
    b = kept.select(F.col("id").alias("id_b"), "whash")
    return (
        a.join(b, "whash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# PII patterns kept to syntax valid AND equivalent in both Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repetition,
# ASCII \b word boundaries — no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # IPv4 needs three dots, so a dotted phone (two dots) can never match.
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

# Redaction order matters where patterns overlap (an SSN is also a
# dash-phone shape? no — 3-2-4 vs 3-3-4 digit groups differ — but IP vs
# dotted-phone prefixes share digits): apply in a fixed, documented order.
PII_REDACTION_ORDER: tuple[str, ...] = ("email", "ip", "ssn", "phone")


def pii_count(text_col: Column | str) -> Column:
    """Total PII matches across all classes — a raw column expression."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    total = None
    for p in PII_PATTERNS.values():
        c = F.regexp_count(text, F.lit(p)).cast("bigint")
        total = c if total is None else total + c
    return total


def pii_redacted(text_col: Column | str) -> Column:
    """Text with every PII class replaced by its ``<CLASS>`` placeholder —
    a raw column expression (fusable into any projection, zero shuffle)."""
    red = F.col(text_col) if isinstance(text_col, str) else text_col
    for name in PII_REDACTION_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[name], f"<{name.upper()}>")
    return red


def pii_stats(
    df: DataFrame, id_col: str, text_col: str, *, redact: bool = True
) -> DataFrame:
    """Per-document PII detection + redaction — the scrub step of a
    training-data pipeline. Counts each PII class (regexp_count) and
    rewrites the text with ``<CLASS>`` placeholders (regexp_replace), all
    pure codegen expressions: one scan, zero shuffle, no Python in the
    hot path, so it runs at full scan speed on any corpus size."""
    text = F.col(text_col)
    cols = [
        F.regexp_count(text, F.lit(p)).cast("bigint").alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    out = df.select(id_col, text, *cols).withColumn(
        "n_pii", pii_count(text_col).cast("bigint")
    )
    if redact:
        out = out.withColumn("redacted", pii_redacted(text_col))
    return out.drop(text_col)


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, ngram_ns: tuple[int, ...] = (1, 2, 3)
) -> DataFrame:
    """Gopher-style repetition metrics per (document, n-gram order):
    ``n_grams``, ``n_unique``, ``top_fraction`` (share of the most
    frequent n-gram), ``dup_fraction`` (share of occurrences belonging to
    n-grams seen more than once). High values mark boilerplate / looping
    text that LLM-data pipelines drop.

    One scan: every requested n-gram order is extracted straight from the
    single-space-normalized text by a zero-width lookahead regex
    (``text_word_ngrams`` — plain codegen string function; the former HOF
    build of tagged structs was interpreted per element and measured ~5x
    slower), concatenated before a SINGLE explode; the order tag is
    recovered from the gram's space count (tokens contain no spaces by
    construction), so nothing but flat strings flows through the Generate.
    Then a two-level codegen aggregation — (doc, mode, gram) counts,
    (doc, mode) rollup. Work per row is bounded by document length, so the
    whole operator scales linearly with corpus size; keys are (doc_id, ...)
    so there is no skew regardless of corpus-wide token distribution."""
    norm = normalized_text(text_col)
    arrays = [text_word_ngrams(norm, n) for n in ngram_ns]
    exploded = df.select(id_col, F.explode(F.concat(*arrays)).alias("gram"))
    n_spaces = F.length("gram") - F.length(
        F.replace(F.col("gram"), F.lit(" "), F.lit(""))
    )
    mode = F.concat((n_spaces + 1).cast("string"), F.lit("gram"))
    per_gram = exploded.select(id_col, mode.alias("mode"), "gram").groupBy(
        id_col, "mode", "gram"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    n_grams = F.sum("cnt").cast("bigint")
    return per_gram.groupBy(id_col, "mode").agg(
        n_grams.alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.round(F.max("cnt") / n_grams, 4).alias("top_fraction"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)) / n_grams, 4
        ).alias("dup_fraction"),
    )


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of its
    DISTINCT word n-grams that also occur anywhere in a benchmark corpus
    (the standard decontamination signal for pretraining data — docs with
    high containment of an eval set's n-grams get dropped).

    Shape at scale: the benchmark gram set is deduplicated once
    (aggregation proportional to BENCHMARK size, which is small), then
    LEFT-joined onto the corpus's distinct (doc, gram) stream on the gram
    string — a many-to-one equi-join Spark broadcasts for realistic
    benchmark sizes. The corpus is scanned once; per-row work is bounded
    by document length; keys are (doc, gram) → no corpus-level skew.
    """
    bench_text_col = bench_text_col or text_col
    bench_grams = (
        benchmark.select(
            F.explode(
                text_word_ngrams(normalized_text(bench_text_col), n)
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.lit(1).alias("hit"))
    )
    doc_grams = (
        df.select(
            id_col,
            F.explode(text_word_ngrams(normalized_text(text_col), n)).alias("gram"),
        )
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("_occ"))  # distinct grams per doc
        .drop("_occ")
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    n_grams = F.count(F.lit(1)).cast("bigint")
    n_hit = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint")
    return joined.groupBy(id_col).agg(
        n_grams.alias("n_distinct_grams"),
        n_hit.alias("n_contaminated"),
        F.round(n_hit / n_grams, 4).alias("containment"),
    )


# --- HTML / markup stripping --------------------------------------------------

# Entity map covers the named entities that matter at corpus scale;
# numeric entities decode via the generic pattern below.
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: otherwise &amp;lt; would double-decode
)


def strip_html(text_col: Column | str) -> Column:
    """Plain text from HTML-ish markup: drop <script>/<style> subtrees
    (their text is never prose), strip remaining tags and comments,
    decode the common entities, collapse whitespace.

    The web-corpus prep step (WET-style extraction). Pure codegen
    regexp_replace chain — no parser, no Python — which is the right
    trade for bulk corpus cleaning; rows needing real DOM fidelity
    should route to a parser UDF instead."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    # (?is): case-insensitive, dot matches newline — Java regex, also RE2
    t = F.regexp_replace(t, r"(?is)<script\b.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# --- Mojibake repair (ftfy-style encoding fix) --------------------------------
#
# The classic crawl-corpus corruption: UTF-8 bytes decoded once as
# Windows-1252 (or its Latin-1 subset) somewhere upstream — "naïve"
# arrives as "naÃ¯ve", "don’t" as "donâ€™t". ftfy's core repair is to
# re-encode the garbled text back to its original bytes and decode them
# as UTF-8; both halves exist as JVM codegen expressions (translate +
# encode + binary→string cast + make_valid_utf8), so the repair runs
# with zero Python and zero shuffle.

# cp1252 maps bytes 0x80-0x9F to glyphs Latin-1 reserves for control
# chars, so those glyphs must translate back to the raw byte's code
# point before the Latin-1 re-encode can reconstruct the original UTF-8
# byte stream. 27 defined entries (0x81/0x8D/0x8F/0x90/0x9D are
# unassigned in cp1252; decoders pass those bytes through as the control
# chars themselves, which re-encode directly).
_CP1252_UNASSIGNED = (0x81, 0x8D, 0x8F, 0x90, 0x9D)
_CP1252_GLYPHS = "".join(
    bytes([b]).decode("cp1252")
    for b in range(0x80, 0xA0)
    if b not in _CP1252_UNASSIGNED
)
_CP1252_BYTES = "".join(
    chr(b) for b in range(0x80, 0xA0) if b not in _CP1252_UNASSIGNED
)

# Whole-string repertoire gate: every char must round-trip to a single
# byte (Latin-1 range, or a cp1252-special glyph) or the string cannot
# be the output of a one-pass cp1252 misdecode — mixed content (real
# CJK/emoji alongside suspicious pairs) is left unchanged rather than
# half-repaired.
_MOJIBAKE_REPERTOIRE_RE = "^[\\x00-\\xff" + _CP1252_GLYPHS + "]*$"
# Cheap prefilter: some char must sit in the UTF-8 lead-byte range
# (0xC2-0xF4) for the re-decode to possibly merge anything.
_MOJIBAKE_HINT_RE = "[Â-ô]"


def fix_mojibake(text_col: Column | str) -> Column:
    """Repair one pass of UTF-8-read-as-Windows-1252 mojibake; strings
    that don't look like pure mojibake pass through unchanged.

    Accepts the repair only when (a) every char is byte-reconstructible
    (repertoire gate above), (b) the reconstructed bytes are valid UTF-8
    (no U+FFFD substitution — genuine Latin-1 prose like "café" fails
    here and survives untouched), and (c) the decode actually merged
    multi-byte sequences (strictly shorter output). Single-pass: doubly
    corrupted text repairs one layer per call (compose for ftfy's loop).
    Inherently heuristic, as in ftfy: text INTENDED to read "Ã©" is
    indistinguishable from corrupted "é" and gets repaired."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    reencoded = F.encode(
        F.translate(t, _CP1252_GLYPHS, _CP1252_BYTES), "ISO-8859-1"
    )
    # binary→string reinterprets the bytes as UTF-8; make_valid_utf8
    # turns any invalid sequence into U+FFFD instead of an ANSI error
    # (same construction as the WARC payload decode, sources/warc.py).
    redecoded = F.make_valid_utf8(reencoded.cast("string"))
    candidate = F.when(
        t.rlike(_MOJIBAKE_REPERTOIRE_RE) & t.rlike(_MOJIBAKE_HINT_RE),
        redecoded,
    )
    return F.when(
        candidate.isNotNull()
        & ~candidate.contains(F.lit("�"))
        & (F.length(candidate) < F.length(t)),
        candidate,
    ).otherwise(t)


# --- URL / domain curation (C4/RefinedWeb-style source filtering) -----------
#
# Web-corpus pipelines filter documents by the domains they reference
# (adult/spam/SEO blocklists) before any content-quality pass. Three
# codegen pieces: URL extraction (regexp_extract_all), host + registered-
# domain normalization (string functions on each match), and a broadcast
# anti-join against a blocklist table — the same join shape as the
# reference's stop-word filter (SURVEY.md O9), applied per-document via
# an exploded (doc, domain) edge table. No Python, no UDFs; at 100 TB
# the only shuffle is the (small) exploded edge table's anti-join, and
# Catalyst broadcasts the blocklist side.

URL_PATTERN = r"https?://[^\s/?#]+[^\s]*"


def extract_url_hosts(text_col: Column | str) -> Column:
    """array<string> of lowercase hosts for every URL in the text:
    scheme and userinfo stripped, then port, path, query, fragment cut."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    urls = F.regexp_extract_all(t, F.lit(URL_PATTERN), 0)
    return F.transform(
        urls,
        lambda u: F.lower(
            F.regexp_replace(
                F.regexp_replace(u, r"^https?://(?:[^@/\s]+@)?", ""),
                r"[:/?#].*$",
                "",
            )
        ),
    )


# Snapshot subset of the Mozilla Public Suffix List (publicsuffix.org,
# MPL-2.0 public data): the ICANN-section TWO-LABEL suffix rules under
# which most registrations live (co.uk, com.au, co.jp, ...). Hosts whose
# last two labels match one of these have a THREE-label registered domain
# ('news.bbc.co.uk' → 'bbc.co.uk'); everything else falls back to the
# standard two-label cut (the PSL's implicit '*' default rule). Wildcard
# (*.ck), exception (!www.ck) and deeper 3-label rules are outside this
# snapshot and resolve through the fallback — extend the tuple to grow
# coverage; the lookup mechanism (a substring probe against one literal
# blob, identical in the DuckDB oracle) does not change.
PSL_ICANN_2LABEL: tuple[str, ...] = (
    # uk
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk",
    # jp
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # au
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    # nz
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "kiwi.nz",
    "maori.nz", "net.nz", "org.nz", "school.nz",
    # br
    "art.br", "com.br", "edu.br", "gov.br", "mil.br", "net.br", "org.br",
    # in
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # za
    "ac.za", "co.za", "edu.za", "gov.za", "net.za", "org.za", "web.za",
    # cn
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    # kr
    "ac.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr", "mil.kr",
    "ms.kr", "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    # tw / hk / sg
    "club.tw", "com.tw", "edu.tw", "game.tw", "gov.tw", "idv.tw",
    "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    # mx / ar / co / pe / ve / cl / uy / ec
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar", "net.ar",
    "org.ar", "tur.ar",
    "com.co", "edu.co", "gov.co", "mil.co", "net.co", "nom.co", "org.co",
    "com.pe", "edu.pe", "gob.pe", "mil.pe", "net.pe", "nom.pe", "org.pe",
    "com.ve", "edu.ve", "gob.ve", "mil.ve", "net.ve", "org.ve", "web.ve",
    "co.cl", "gob.cl", "gov.cl", "mil.cl",
    "com.uy", "edu.uy", "gub.uy", "mil.uy", "net.uy", "org.uy",
    "com.ec", "edu.ec", "fin.ec", "gob.ec", "gov.ec", "info.ec",
    "med.ec", "mil.ec", "net.ec", "org.ec", "pro.ec",
    # ru / ua / pl / tr / il
    "ac.ru", "com.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru", "msk.ru",
    "net.ru", "org.ru", "pp.ru", "spb.ru",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "kiev.ua", "kyiv.ua",
    "net.ua", "org.ua",
    "biz.pl", "com.pl", "edu.pl", "gov.pl", "info.pl", "net.pl",
    "org.pl", "waw.pl",
    "av.tr", "bel.tr", "biz.tr", "com.tr", "dr.tr", "edu.tr", "gen.tr",
    "gov.tr", "info.tr", "mil.tr", "name.tr", "net.tr", "org.tr",
    "tel.tr", "tv.tr", "web.tr",
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il", "net.il",
    "org.il",
    # th / id / my / ph / vn
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "ac.id", "biz.id", "co.id", "desa.id", "go.id", "mil.id", "my.id",
    "net.id", "or.id", "sch.id", "web.id",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my",
    "org.my",
    "com.ph", "edu.ph", "gov.ph", "i.ph", "mil.ph", "net.ph", "ngo.ph",
    "org.ph",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    # eg / sa / ae / ke / ng
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "mil.eg", "name.eg",
    "net.eg", "org.eg", "sci.eg",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa",
    "pub.sa", "sch.sa",
    "ac.ae", "co.ae", "gov.ae", "mil.ae", "net.ae", "org.ae", "sch.ae",
    "ac.ke", "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke",
    "or.ke", "sc.ke",
    "com.ng", "edu.ng", "gov.ng", "i.ng", "mil.ng", "mobi.ng",
    "name.ng", "net.ng", "org.ng", "sch.ng",
    # ca provinces / fr / es / pt / gr / at / hu / ro / se / no
    "ab.ca", "bc.ca", "gc.ca", "mb.ca", "nb.ca", "nf.ca", "nl.ca",
    "ns.ca", "nt.ca", "nu.ca", "on.ca", "pe.ca", "qc.ca", "sk.ca",
    "yk.ca",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.es", "edu.es", "gob.es", "nom.es", "org.es",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt",
    "org.pt", "publ.pt",
    "com.gr", "edu.gr", "gov.gr", "net.gr", "org.gr",
    "ac.at", "co.at", "gv.at", "or.at", "priv.at",
    "co.hu", "info.hu", "org.hu", "priv.hu", "sport.hu", "tm.hu",
    "arts.ro", "com.ro", "firm.ro", "info.ro", "nom.ro", "nt.ro",
    "org.ro", "rec.ro", "store.ro", "tm.ro", "www.ro",
    "ac.se", "org.se", "pp.se", "tm.se",
    "dep.no", "herad.no", "mil.no", "priv.no", "stat.no",
    # it / be
    "edu.it", "gov.it",
    "ac.be",
)

# One literal '|'-delimited blob: membership is a substring probe
# ("|co.uk|" in blob) — a single ~2.5 KB constant in the codegen'd plan
# (a 250-branch CASE or 250-element array literal would bloat the
# expression tree; see the LSH literal-expansion lesson in similarity.py).
_PSL_BLOB = "|" + "|".join(PSL_ICANN_2LABEL) + "|"

_IPV4_RE = r"^\d{1,3}(\.\d{1,3}){3}$"


def registered_domain(host: Column) -> Column:
    """Registered (registrable) domain of a host under the PSL snapshot
    above: 'a.b.news.example.com' → 'example.com', 'news.bbc.co.uk' →
    'bbc.co.uk' — the blocklist granularity. Non-domain hosts pass
    through unchanged rather than degrading into junk keys: dotless
    hosts (localhost, bare intranet names) and IPv4 literals return
    themselves, so IP-based blocklist entries can match; a trailing
    FQDN dot is stripped first. A host that IS a listed public suffix
    ('co.uk' alone) also passes through unchanged."""
    h = F.regexp_replace(host, r"\.$", "")
    last2 = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    on_psl = F.contains(
        F.lit(_PSL_BLOB), F.concat(F.lit("|"), last2, F.lit("|"))
    )
    return (
        F.when(~h.contains("."), h)
        .when(h.rlike(_IPV4_RE), h)
        .when(on_psl & (last3 != F.lit("")), last3)
        .otherwise(last2)
    )


def url_stats(
    df: DataFrame, id_col: str, text_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-doc URL signals: n_urls, distinct registered domains
    referenced, and url_char_ratio (URL bytes / doc bytes — link-farm
    pages score high). One codegen projection, zero shuffle.

    ``keep_cols``: input columns passed through unchanged (appended
    after the stats columns) — saves the id-keyed join a caller would
    otherwise need to re-attach row metadata that already sits on the
    input (the ``pq_encode(keep_cols=)`` pattern; round 13: x24's
    domain cap re-derived the whole extraction just to pair ``domains``
    with ``n_chars``). An entry that names an output column or
    ``id_col``, repeats, or is missing from the input raises
    ``ValueError`` instead of producing duplicate or unresolvable
    columns."""
    reserved = {"n_urls", "domains", "url_char_ratio", id_col}
    for i, kc in enumerate(keep_cols):
        if kc in reserved:
            raise ValueError(
                f"url_stats: keep_cols entry {kc!r} collides with a "
                f"reserved output column ({sorted(reserved)})"
            )
        if kc in keep_cols[:i]:
            raise ValueError(f"url_stats: keep_cols entry {kc!r} repeats")
        if kc not in df.columns:
            raise ValueError(
                f"url_stats: keep_cols entry {kc!r} not in the input "
                f"schema ({sorted(df.columns)})"
            )
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    hosts = extract_url_hosts(text_col)
    url_len = F.aggregate(
        F.transform(urls, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return df.select(
        F.col(id_col),
        F.size(urls).cast("int").alias("n_urls"),
        F.array_sort(
            F.array_distinct(F.transform(hosts, registered_domain))
        ).alias("domains"),
        F.round(
            url_len / F.greatest(F.length(text_col), F.lit(1)), 4
        ).alias("url_char_ratio"),
        *keep_cols,
    )


def references_blocked_domain(
    blocklist: DataFrame,
    domains_col: Column | str = "domains",
    max_blocklist_rows: int = 65536,
) -> Column:
    """Row-wise "this doc references a blocked registered domain" probe
    over a pre-derived domain-set column — the EXPRESSION form of
    ``filter_blocked_domains`` for plans that already carry the
    ``url_stats`` domains array: the blocklist is collected (bounded —
    it plays the stop-word side-table role, the same smallness contract
    that lets the join form broadcast it; a bigger list fails loudly
    here and should use the join form) and the probe compiles to
    ``exists(domains, d -> d IN set)`` — no join, no second derivation
    of the domain sets (guide §2.4; round 13: x24's blocklist consumer
    re-ran the URL→host→PSL extraction per lazy subtree). InSet lookup,
    not a literal CASE chain, so the expression tree stays flat (the
    LSH literal-expansion lesson). NULL/empty domain arrays (no URLs)
    return False — absence of evidence is not a block, matching the
    join form's survivors."""
    dom_col = blocklist.columns[0]
    rows = blocklist.select(dom_col).limit(max_blocklist_rows + 1).collect()
    if len(rows) > max_blocklist_rows:
        raise ValueError(
            f"references_blocked_domain: blocklist exceeds "
            f"max_blocklist_rows={max_blocklist_rows}; it is collected "
            "into an InSet expression — use filter_blocked_domains "
            "(broadcast-join form) for blocklists this large."
        )
    blocked = [r[0] for r in rows if r[0] is not None]
    dc = F.col(domains_col) if isinstance(domains_col, str) else domains_col
    if not blocked:
        return F.lit(False)
    return F.coalesce(
        F.exists(dc, lambda d: d.isin(*blocked)), F.lit(False)
    )


def filter_blocked_domains(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklist: DataFrame,
    domains: DataFrame | None = None,
) -> DataFrame:
    """Drop every document referencing ANY blocked registered domain.

    ``blocklist`` is a one-column domain table (semantically small — it
    plays the stop-word side-table role and is explicitly broadcast).
    Shape: explode the per-doc domain set, inner-join the broadcast
    blocklist, anti-join the matching doc ids back. The blocked-id set
    is corpus-derived and therefore NOT forced broadcast — one blocked
    popular domain could make it huge; AQE picks broadcast when it is
    actually small, and the fallback is a plain key-hash anti-join.

    ``domains``: an optional pre-derived (id, domains array) frame —
    ``url_stats`` output (its ``domains`` column is the same distinct
    registered-domain set, sorted; order is irrelevant to the explode).
    Pass it when the caller already ran the URL→host→PSL extraction so
    this filter does not re-run the whole regex pipeline over the
    corpus (the ``tf=``/``grams=`` shared-derivation pattern; round-12
    measure: x24's plan re-derived the extraction once per consumer)."""
    dom_col = blocklist.columns[0]
    if domains is not None:
        edges = domains.select(
            F.col(id_col), F.explode("domains").alias("_domain")
        )
    else:
        edges = df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        extract_url_hosts(text_col), registered_domain
                    )
                )
            ).alias("_domain"),
        )
    blocked_ids = edges.join(
        F.broadcast(blocklist.withColumnRenamed(dom_col, "_domain")),
        "_domain",
    ).select(id_col)
    return df.join(blocked_ids.distinct(), id_col, "left_anti")


def _hashed_weight(token: Column, salt: str) -> Column:
    """Deterministic per-token weight in [-1, 1): first 8 hex chars of
    md5(salt:token) scaled — the sampling hash_fraction primitive mapped
    onto a symmetric range. Portable (md5 + hex parse), so the hashed
    model mode is reproducible in any engine."""
    digest = F.md5(F.concat(F.lit(f"{salt}:"), token).cast("binary"))
    frac = F.conv(F.substring(digest, 1, 8), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    return frac * 2.0 - 1.0


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame | None = None,
    salt: str = "clf",
    tf: DataFrame | None = None,
) -> DataFrame:
    """fastText-shaped linear bag-of-words document classifier — the
    quality-classifier filtering stage of CCNet/DCLM-style pipelines
    (score each doc with a cheap linear model, keep the high scorers).

    Output per document: ``n_tokens``, ``n_hit`` (tokens with a model
    weight), ``logit`` (mean token weight, 4dp), ``clf_score``
    (sigmoid(logit), 4dp).

    Two model sources:

    - ``weights`` — a real exported model as a (token, weight) table.
      Vocabulary tables are small by construction (≤ a few M rows), so it
      ships as a broadcast LEFT join against the exploded token stream;
      OOV tokens contribute weight 0 (and are excluded from ``n_hit``).
    - ``weights=None`` — the hashing trick with md5-derived weights
      (``_hashed_weight``): every token has a weight, no table at all.
      This is the deterministic stand-in for a trained model in an
      environment with no model artifact — and doubles as the
      cross-engine oracle mode, since md5 is portable.

    Scale shape: tokenize → explode → (optional broadcast join) → one
    groupBy(id). Partial aggregation collapses each doc's tokens map-side
    (a doc's tokens are co-located by construction — they come from one
    row), so the shuffle carries ~one row per document, never the token
    stream. All expressions are codegen; no Python in the path.

    Float contract (plans/extensions.py float-robustness note): the mean
    is rounded to 4dp BEFORE the sigmoid and the sigmoid result rounded
    to 4dp, so both engines feed exp() identical doubles and a sub-ulp
    libm difference cannot flip the rounded output.

    ``tf=``: a precomputed ``relevance.term_frequencies`` census. A
    token's weight depends only on the TERM, so the per-occurrence mean
    collapses to the tf-weighted mean over the (doc, term) census —
    ``Σ tf·w / Σ tf``, mathematically identical (summation order
    differs; the 4dp rounding contract absorbs that, exactly as it
    absorbs the Spark-vs-DuckDB order difference). Callers computing
    several lexical operators (the x26 panel) tokenize the corpus ONCE
    this way instead of once per operator.
    """
    if tf is not None:
        stream = tf.select(
            F.col(id_col),
            F.col("term").alias("token"),
            F.col("tf").alias("_n"),
        )
    else:
        stream = df.select(
            F.col(id_col), F.explode(tokens_array(text_col)).alias("token")
        ).withColumn("_n", F.lit(1).cast("bigint"))
    if weights is None:
        w = _hashed_weight(F.col("token"), salt)
        scored = stream.select(
            id_col, "_n", w.alias("w"), F.lit(1).alias("hit")
        )
    else:
        tok_col, w_col = weights.columns[0], weights.columns[1]
        wtab = F.broadcast(
            weights.select(
                F.col(tok_col).alias("token"), F.col(w_col).alias("_w")
            )
        )
        joined = stream.join(wtab, "token", "left")
        scored = joined.select(
            id_col,
            "_n",
            F.coalesce("_w", F.lit(0.0)).alias("w"),
            F.when(F.col("_w").isNotNull(), 1).otherwise(0).alias("hit"),
        )
    agg = scored.groupBy(id_col).agg(
        F.sum("_n").cast("bigint").alias("n_tokens"),
        F.sum(F.col("hit") * F.col("_n")).cast("bigint").alias("n_hit"),
        F.round(F.sum(F.col("w") * F.col("_n")) / F.sum("_n"), 4).alias(
            "logit"
        ),
    )
    logit = F.col("logit")
    sig = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4)
    return agg.select(
        id_col, "n_tokens", "n_hit", "logit", sig.alias("clf_score")
    )


def train_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_iters: int = 20,
    lr: float = 2.0,
    l2: float = 0.0,
    min_df: int = 2,
    quantize_dp: int | None = 12,
) -> DataFrame:
    """Train the (token, weight) table ``classifier_score`` consumes —
    the TRAINING half of the CCNet/DCLM quality-filter stage (fastText
    shape: fit a linear bag-of-words model on labeled docs — e.g.
    wiki=1 vs raw-crawl=0 — then gate the corpus on its scores).

    Model exactly matches the scorer's semantics: logit(doc) = mean
    token weight over ALL the doc's tokens (OOV → 0), p = sigmoid.
    Training is full-batch gradient descent on log-loss: per round,
    ``z_d = Σ x_{d,t}·w_t`` (x = token count / doc length), residual
    ``σ(z_d) − y_d``, gradient ``g_t = Σ_d resid_d·x_{d,t} / n_docs``
    and update ``w ← w − lr·(g + l2·w)``. ``label_col`` must be 0/1 and
    ``id_col`` unique per doc. Vocabulary is bounded to tokens appearing
    in ≥ ``min_df`` docs (document-frequency census — the BPE-style
    bounded-model move). ``n_docs`` counts every doc with at least one
    token; a doc with no vocab token has zero gradient against every
    weight but still counts, and an empty doc drops out.

    Scale shape: the features are built ONCE — one row per doc,
    ``(_id, _y, array<struct<token, _i, _x>>)`` restricted to the
    vocabulary, from one tokenize + explode + census — and checkpointed.
    ``_i`` is the token's 0-based rank in the sorted vocabulary, from one
    row_number over the V vocabulary rows in one task. Round 0 needs no
    weights (every weight starts at 0, so the residual is ``0.5 − y``).
    Every later round broadcasts the previous weights as ONE row holding
    an ``array<double>`` of length V, ordered by ``_i``, so each weight
    lookup is a positional array read: O(1). A round costs O(nnz), plus
    one O(V log V) sort of the V weights in one task to build the array.
    (A ``map<token, w>`` lookup would be a linear scan over the map's
    keys in Spark — O(nnz × V) a round.) The round computes ``z`` per doc
    with ``aggregate`` over the feature array, and the gradient plus the
    quantized update in ONE token-keyed groupBy — no doc-keyed shuffle.
    The weight array is vocabulary-sized (8 bytes a token), the same bound
    ``classifier_score``'s broadcast weight table relies on. Each round's
    array is checkpointed and referenced once by the next round, so
    lineage stays one round deep; the returned table is the last round
    itself (an action on it runs that one round over the two
    checkpoints).

    ``quantize_dp``: round weights to this many decimals each round.
    Distributed (and cross-library) float sums reorder run-to-run at
    ~1e-16 relative; quantizing far above that (default 1e-12) makes
    the whole fit BIT-REPRODUCIBLE across partitionings and bit-equal
    to a numpy reference implementing the same quantized recurrence
    (pinned in tests, same knob as ``graph.pagerank``).
    """
    if n_iters < 1:
        raise ValueError("train_classifier: n_iters must be >= 1")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        F.explode(tokens_array(text_col)).alias("token"),
    )
    counts = toks.groupBy("_id", "_y", "token").agg(F.count("*").alias("_c"))
    # count_if(_c > 0) reads `_c`, so this side keeps the same census
    # subtree as the join's other side and reuses its exchange (a bare
    # count(*) lets the optimizer prune `_c` and re-run the census)
    vocab = (
        counts.groupBy("token")
        .agg(F.count_if(F.col("_c") > 0).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select(
            "token",
            (F.row_number().over(Window.orderBy("token")) - 1).alias("_i"),
        )
    )
    docs_seen = Observation()
    feats = (
        counts.join(F.broadcast(vocab), "token", "left")
        .groupBy("_id", "_y")
        .agg(
            F.sum("_c").alias("_len"),
            # collect_list skips the NULLs: out-of-vocab tokens leave
            # the array but still count in the doc length
            F.collect_list(
                F.when(F.col("_i").isNotNull(), F.struct("token", "_i", "_c"))
            ).alias("_tc"),
        )
        .select(
            "_id",
            "_y",
            F.transform(
                "_tc",
                lambda e: F.struct(
                    e["token"].alias("token"),
                    e["_i"].alias("_i"),
                    (e["_c"] / F.col("_len")).alias("_x"),
                ),
            ).alias("_f"),
        )
        # n_docs is counted by the checkpoint job itself, not a second one
        .observe(docs_seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_docs = docs_seen.get["n"]
    if n_docs == 0:
        return local_table(df.sparkSession, [], "token string, weight double")

    e = F.col("_e")
    for it in range(n_iters):
        if it == 0:
            # every weight starts at 0, so σ(z) − y = 0.5 − y
            scored = feats.select(
                "_f", (F.lit(0.5) - F.col("_y")).alias("_r")
            )
            w_t = F.lit(0.0)
        else:
            # the weights as one array indexed by _i: a positional read
            # per lookup (a map<token, w> lookup scans the keys)
            wvec = (
                weights.agg(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("_i", "_w"))),
                        lambda s: s["_w"],
                    ).alias("_m")
                )
                .withColumn("_k", F.lit(0))
                .localCheckpoint()
            )
            m = F.col("_m")
            z = F.aggregate(
                "_f", F.lit(0.0), lambda acc, x: acc + x["_x"] * m[x["_i"]]
            )
            # equi-join on an all-zero key, not a crossJoin: the one-row
            # attach stays a BroadcastHashJoin (relevance._zero_key)
            scored = (
                feats.withColumn("_k", _zero_key("_id"))
                .join(F.broadcast(wvec), "_k")
            ).select(
                "_f",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_y")).alias(
                    "_r"
                ),
                "_m",
            )
            w_t = m[e["_i"]]
        grad = (
            scored.select(F.explode("_f").alias("_e"), "*")
            .select(
                e["token"].alias("token"),
                e["_i"].alias("_i"),
                w_t.alias("_w"),
                e["_x"].alias("_x"),
                "_r",
            )
            .groupBy("token", "_i", "_w")
            .agg(
                (F.sum(F.col("_x") * F.col("_r")) / F.lit(float(n_docs))).alias(
                    "_g"
                )
            )
        )
        new_w = F.col("_w") - F.lit(lr) * (
            F.coalesce(F.col("_g"), F.lit(0.0)) + F.lit(l2) * F.col("_w")
        )
        if quantize_dp is not None:
            new_w = F.round(new_w, quantize_dp)
        weights = grad.select("token", "_i", new_w.alias("_w"))
    return weights.select("token", F.col("_w").alias("weight"))


# case-insensitive ('UTM_SOURCE=' tracks just as hard) and '=' optional
# (a bare valueless 'fbclid' still splits otherwise-identical URLs)
_TRACKING_PARAM_RE = (
    r"(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref_src)"
    r"(=|$)"
)


def canonical_url(url_col: Column | str) -> Column:
    """Crawl-frontier URL canonicalization: two fetches of the same page
    should dedup even when their URLs differ by tracking decoration or
    cosmetic variation. Lowercases scheme+host (path/query stay
    case-sensitive — they are), strips userinfo, fragments, default
    ports (:80 http / :443 https), and ad-tracking query params
    (utm_*, fbclid, gclid, ...), sorts the surviving params so order
    never splits a URL pair, and drops a bare-root '/' path. NULL and
    scheme-less input pass through unchanged (canonicalize what is
    provably a fetchable URL, judge nothing else).

    One whole-stage-codegen expression over ``try_parse_url`` + HOF
    (the try_ form: ANSI ``parse_url`` throws on non-URL input)
    split/filter/sort — no UDF, no shuffle; feed it to ``exact_dedup``
    on the canonical form for frontier dedup, the same groupBy-digest
    shape as content dedup.
    """
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    # AUTHORITY keeps the port (HOST drops it); strip userinfo manually
    auth = F.lower(
        F.regexp_replace(F.try_parse_url(u, F.lit("AUTHORITY")), r"^[^@]*@", "")
    )
    host = F.when(
        (proto == "http") & auth.endswith(":80"),
        F.substring(auth, 1, F.length(auth) - 3),
    ).when(
        (proto == "https") & auth.endswith(":443"),
        F.substring(auth, 1, F.length(auth) - 4),
    ).otherwise(auth)
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(path == "/", F.lit("")).otherwise(path)
    query = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit("")), "&"),
                lambda p: (F.length(p) > 0)
                & ~p.rlike(_TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    rebuilt = F.concat(
        proto, F.lit("://"), host, path,
        F.when(F.length(query) > 0, F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )
    return F.when(
        u.isNotNull() & proto.isin("http", "https") & F.length(auth).isNotNull(),
        rebuilt,
    ).otherwise(u)


def dedup_urls(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Crawl-frontier dedup: keep the min-id row per CANONICAL URL (two
    fetches of one page differing only by tracking decoration collapse;
    rows whose canonical form is NULL — no URL at all — pass through).
    Same digest-groupBy shape as content dedup: the shuffle carries the
    canonical string, never the page."""
    from .dedup import exact_dedup

    with_canon = df.withColumn("_canon", canonical_url(url_col))
    keyed = exact_dedup(
        with_canon.filter(F.col("_canon").isNotNull()),
        ["_canon"], [id_col],
    )
    return keyed.unionByName(
        with_canon.filter(F.col("_canon").isNull())
    ).drop("_canon")


def domain_frequency_cap(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    cap: int,
    order_col: str | None = None,
    flag_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain — the FineWeb-style
    guard against a single template-heavy site flooding the corpus
    (SEO farms and auto-generated catalogs can contribute millions of
    near-identical pages that per-doc quality gates all pass).

    Retention is best-first: rows rank by ``order_col`` DESC (a quality
    or length score; ties and ``order_col=None`` fall back to ``id_col``
    ASC, so the choice is total and deterministic) and ranks > ``cap``
    are dropped. Rows with a NULL domain always survive — "no domain"
    is absence of evidence, not a mega-site.

    Scale shape: the ``row_number() <= k`` filter compiles to
    WindowGroupLimit (tests/test_plans.py pins the rewrite), which
    inserts a map-side partial group-limit BEFORE the exchange — every
    input partition forwards at most ``cap`` rows per domain, so even a
    30%-hot domain ships O(partitions x cap) rows to the shuffle, never
    its full row set. The NULL-domain leg is a narrow filter unioned
    back, no shuffle at all.

    ``flag_col``: return EVERY row with a boolean survive/capped flag
    instead of filtering — the membership-column form for queries that
    keep all rows and carry the decision (round 13: x24 previously ran
    the filter form on a copy of its frame and joined the survivors
    back by doc id, paying one more corpus-keyed shuffle AND a second
    evaluation of the frame's lineage; the flag form decides in place
    with the same rank contract). The flag form is ONE window leg, no
    union: NULL-domain rows (always-survivors) are salted into
    singleton window partitions by (domain, id-if-null) instead of
    being split into a second leg — a filter+union here would duplicate
    the input's whole lineage per leg, re-running an expensive upstream
    derivation (measured on x24: the URL extraction subtree appeared
    twice). Note the flag form cannot use the WindowGroupLimit rewrite
    (no filter — all rows survive), so its exchange carries every row:
    prefer the filter form when the survivors are all you need.
    """
    if cap < 1:
        raise ValueError("domain_frequency_cap: cap must be >= 1")

    order = [F.col(id_col).asc()]
    if order_col is not None:
        order = [F.col(order_col).desc_nulls_last(), F.col(id_col).asc()]
    if flag_col is not None:
        null_salt = F.when(
            F.col(domain_col).isNull(), F.col(id_col)
        ).otherwise(F.lit(0))
        wf = Window.partitionBy(F.col(domain_col), null_salt).orderBy(*order)
        return df.withColumn("_rn", F.row_number().over(wf)).withColumn(
            flag_col,
            F.col(domain_col).isNull() | (F.col("_rn") <= F.lit(cap)),
        ).drop("_rn")
    w = Window.partitionBy(domain_col).orderBy(*order)
    dom_null = df.filter(F.col(domain_col).isNull())
    capped = (
        df.filter(F.col(domain_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(cap))
        .drop("_rn")
    )
    return capped.unionByName(dom_null)
