"""Deterministic sampling for training-data pipelines (§2.2 extension).

``DataFrame.sample`` draws from a per-task RNG: re-executions, task
retries, and partition-count changes all change WHICH rows survive — a
silent poison for reproducible dataset builds. These operators derive the
keep/assign decision from a hash of the row's KEY instead, so membership
is a pure function of the data:

- stable across retries/speculation and partitioning;
- portable (md5 — any engine gives the same sample, so splits built by a
  different system agree row-for-row);
- mergeable: a row's split assignment never changes as the corpus grows.

The hash bucket is the first 8 hex chars of md5(salt:key) scaled to
[0, 1) — uniform for any key distribution, keys never co-located (no
shuffle at all: sampling is a narrow filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_table

_BUCKETS = 16 ** 8  # first 8 hex chars of the digest


def hash_fraction(key: Column | str, salt: str = "") -> Column:
    """Uniform [0, 1) value derived from md5(salt:key) — the primitive
    behind all the samplers (kept JVM-side: conv() parses the hex)."""
    key = F.col(key) if isinstance(key, str) else key
    digest = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")).cast("binary"))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("double") / F.lit(
        float(_BUCKETS)
    )


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash. Same input → same
    sample, on any cluster, any partitioning, any engine with md5."""
    return df.filter(hash_fraction(key, salt) < F.lit(fraction))


def train_test_split(
    df: DataFrame, key: str, test_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """(train, test) with hash-disjoint membership: every row lands in
    exactly one side, and a row's side never changes as data is added —
    no leakage between refreshes of a growing corpus."""
    h = hash_fraction(key, salt)
    return (
        df.filter(h >= F.lit(test_fraction)),
        df.filter(h < F.lit(test_fraction)),
    )


def weighted_source_mix(
    df: DataFrame, source_col: str, key: str,
    weights: dict[str, float], salt: str = "mix",
) -> DataFrame:
    """Per-source downsampling to target mixture weights (the 'sample
    Wikipedia at 3x, common-crawl at 0.3x' step of pretraining mixes,
    for weights ≤ 1; upsampling is a separate explode-by-epochs concern).
    Unlisted sources are dropped. One narrow filter — no shuffle, no
    per-source scans."""
    rate = None
    for src, w in sorted(weights.items()):
        cond = F.col(source_col) == src
        rate = F.when(cond, F.lit(float(w))) if rate is None else rate.when(
            cond, F.lit(float(w))
        )
    rate = rate.otherwise(F.lit(0.0)) if rate is not None else F.lit(0.0)
    return df.filter(hash_fraction(key, salt) < rate)


def deterministic_shuffle(df: DataFrame, key: str, salt: str = "shuffle") -> DataFrame:
    """Global pseudo-random training order: sort by md5(salt:key). The
    order is a pure function of the data (reproducible runs; change
    ``salt`` per epoch for a fresh permutation) and the sort key is
    uniformly distributed, so Spark's range partitioner splits it evenly —
    the pathological skew of sorting by a natural key never appears.

    One range-partitioned sort — exactly what a 100 TB corpus shuffle
    costs on any engine; writing the result partitioned preserves the
    order as file order."""
    key_c = F.col(key).cast("string")
    h = F.md5(F.concat(F.lit(f"{salt}:"), key_c).cast("binary"))
    return df.orderBy(h, key_c)  # key tiebreak: total order even on collision


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    keep_top: float,
    relative_error: float = 0.001,
) -> DataFrame:
    """Keep the top ``keep_top`` fraction of rows by ``score_col`` (the
    'drop the worst 20% by quality score' pipeline stage).

    The threshold is ONE approx_percentile aggregate (t-digest sketch:
    fixed memory, one pass, mergeable across partitions) cross-joined back
    as a broadcast scalar — the corpus itself is never shuffled or
    sorted; total cost is a scan plus a narrow filter, at any scale."""
    if not 0.0 < keep_top <= 1.0:
        raise ValueError("quantile_threshold_filter: need 0 < keep_top <= 1")
    thr = df.agg(
        F.percentile_approx(
            score_col, F.lit(1.0 - keep_top), F.lit(int(1.0 / relative_error))
        ).alias("__thr")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .filter(F.col(score_col) >= F.col("__thr"))
        .drop("__thr")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, key: str, fraction: float, salt: str = "strat"
) -> DataFrame:
    """EXACT per-stratum sampling: every stratum keeps exactly
    ``ceil(fraction * n_stratum)`` rows (the plain hash filter's count
    wanders binomially — fatal for small strata that must stay
    represented). Rows are ranked inside each stratum by md5(salt:key)
    (key tiebreak) and the lowest ranks survive, so the choice is still
    deterministic, partition-invariant, and portable across engines.

    Cost: one hash shuffle on the stratum column + a per-stratum sort
    (a row_number window). A stratum is one window partition — the usual
    trade of exact stratification; for a pathologically hot stratum,
    fall back to ``deterministic_sample`` within it (approximate) or
    pre-split the stratum key. Growth caveat: adding rows to a stratum
    re-ranks it, so membership is stable only for a fixed snapshot —
    use ``deterministic_sample`` when grow-stability matters more than
    exact counts.
    """
    from pyspark.sql import Window

    if not 0.0 < fraction <= 1.0:
        raise ValueError("stratified_sample: need 0 < fraction <= 1")
    key_c = F.col(key).cast("string")
    h = F.md5(F.concat(F.lit(f"{salt}:"), key_c).cast("binary"))
    w = Window.partitionBy(strata_col).orderBy(h, key_c)
    wn = Window.partitionBy(strata_col)
    quota = F.ceil(F.count(F.lit(1)).over(wn) * F.lit(float(fraction)))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_q", quota)
        .filter(F.col("_rn") <= F.col("_q"))
        .drop("_rn", "_q")
    )


def group_split(
    df: DataFrame, group_col: str, test_fraction: float = 0.1, salt: str = "gsplit"
) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe (train, test): the hash is taken over the GROUP key,
    so every row of a group lands on the same side. This is the split
    that near-duplicate-aware pipelines need — split on the doc id and
    two near-identical documents straddle the boundary, leaking test
    content into training; split on the dedup cluster representative
    (``neardup_clusters``'s ``rep``), the URL domain, or the author, and
    the whole correlated group moves together.

    Same guarantees as ``train_test_split`` (deterministic, partition-
    invariant, grow-stable, no shuffle — a narrow filter on a hash of
    the group column)."""
    h = hash_fraction(group_col, salt)
    return (
        df.filter(h >= F.lit(test_fraction)),
        df.filter(h < F.lit(test_fraction)),
    )


def token_budget_filter(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budget: int,
    n_bins: int = 1000,
) -> DataFrame:
    """Keep the highest-``score_col`` rows until their ``token_col``
    sum fills ``budget`` tokens — the 'fill a 2T-token training budget
    with the best documents' stage. ``quantile_threshold_filter`` keeps
    a ROW fraction; training budgets are TOKEN-denominated, and quality
    correlates with length, so the two cuts differ materially.

    Mechanism (no global sort, corpus scanned once for the histogram
    and once for the filter): equi-width histogram of the score range
    with SUM(tokens) per bin (one aggregation, ≤ ``n_bins`` rows),
    driver-side suffix-sum picks the lowest bin whose
    best-scores-down-to-here token mass still fits the budget, and the
    bin's lower edge broadcasts back as the threshold. Granularity: the
    kept mass undershoots the budget by at most one bin's tokens
    (deterministic; when even the single BEST bin overflows the budget
    the result is EMPTY rather than over budget — raise ``n_bins`` for
    finer granularity); rows with NULL score are dropped, NULL token
    counts count 0. Returns rows with ``score >= threshold``;
    degenerate all-equal-scores corpora keep everything that fits bin 0
    — i.e. all rows if any fit was possible at all. Cost: two bounded
    driver collects (min/max + the ≤n_bins histogram — equi-width needs
    the range first) and one filter scan; eager, unlike the lazy
    fraction-based sibling above."""
    if budget <= 0:
        raise ValueError("token_budget_filter: budget must be > 0")
    if n_bins < 1:
        raise ValueError("token_budget_filter: n_bins must be >= 1")
    raw = F.col(score_col).cast("double")
    # NaN scores are unrankable: treated exactly like NULL (dropped).
    # Left in, Spark's NaN-greatest ordering would poison max() (span
    # NaN -> unit-width degenerate bins) and NaN >= threshold is true.
    s = F.when(~F.isnan(raw), raw)
    bounds = df.agg(
        F.min(s).alias("_lo"), F.max(s).alias("_hi")
    ).collect()[0]
    lo, hi = bounds["_lo"], bounds["_hi"]
    if lo is None:
        return df.filter(F.lit(False))  # no rankable rows at all
    span = hi - lo
    width = span / n_bins if span > 0 else 1.0
    # the isNotNull guard matters: least() SKIPS nulls, so an unguarded
    # least(NULL, n_bins-1) would hand every NULL/NaN score the TOP bin
    bin_id = F.when(
        s.isNotNull(),
        F.least(
            F.floor((s - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    hist = (
        df.filter(s.isNotNull())
        .groupBy(bin_id.alias("_bin"))
        .agg(F.sum(F.coalesce(F.col(token_col), F.lit(0))).alias("_toks"))
        .collect()
    )
    toks_by_bin = {r["_bin"]: int(r["_toks"]) for r in hist}
    running = 0
    cut_bin = n_bins  # nothing fits -> empty
    for b in range(n_bins - 1, -1, -1):
        mass = toks_by_bin.get(b, 0)
        if running + mass > budget:
            break
        running += mass
        cut_bin = b
    if cut_bin >= n_bins:
        return df.filter(F.lit(False))
    # filter by the SAME bin expression the histogram used — a
    # recomputed edge threshold (lo + cut_bin*width) rounds differently
    # from the binning division at bin boundaries, and one
    # boundary-straddling row would break the hard never-over-budget
    # guarantee
    return df.filter(bin_id >= F.lit(cut_bin))


def epoch_upsample(
    df: DataFrame, source_col: str, key: str,
    weights: dict[str, float], salt: str = "mix",
    default_weight: float = 0.0,
) -> DataFrame:
    """The UPSAMPLING half of mixture construction ('Wikipedia at 3.3
    epochs'): each row of source ``s`` appears ``floor(w_s)`` times plus
    one more iff its key hash falls under ``frac(w_s)`` — so the
    expected multiplicity is exactly ``w_s`` and whether a PARTICULAR
    row gets the extra epoch is a pure function of (salt, key), never of
    partitioning or corpus growth (the determinism contract shared by
    every sampler here). Weights < 1 degenerate to
    ``weighted_source_mix`` semantics (0 or 1 copies); unlisted sources
    get ``default_weight`` — 0.0 (dropped, same as there) when the
    weight dict is the whole mixture spec, 1.0 when it only names the
    sources to boost (the CLI's reading: listing wiki=2.3 should not
    silently erase every other source). Adds an ``epoch`` column (0-based copy
    index) — feed ``deterministic_shuffle`` a per-copy salt or key
    including it so replicas spread through the training order instead
    of clustering.

    Scale shape: one narrow projection + explode; output rows ≈
    Σ w_s·n_s with no shuffle at all. Replication happens AFTER gates
    and dedup by construction (you call it last); at 100 TB the explode
    is the cheapest possible way to express multiplicity — copies never
    materialize until the sink, and the sink write is the unavoidable
    cost of the mixture itself.
    """
    def _copies_expr(w: float, label: str) -> Column:
        if w < 0:
            raise ValueError(f"negative weight for source {label}: {w}")
        whole, frac = int(w), round(w - int(w), 9)
        return F.lit(whole) + F.when(
            hash_fraction(key, salt) < F.lit(frac), F.lit(1)
        ).otherwise(F.lit(0))

    default = _copies_expr(default_weight, "<default>")
    copies = None
    for src, w in sorted(weights.items()):
        cond = F.col(source_col) == src
        n = _copies_expr(w, repr(src))
        copies = F.when(cond, n) if copies is None else copies.when(cond, n)
    copies = copies.otherwise(default) if copies is not None else default
    return (
        df.withColumn("_n_copies", copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
        )
        .drop("_n_copies")
    )


def curriculum_interleave(
    df: DataFrame,
    score_col: str,
    source_col: str = "source",
    tiebreak_cols: tuple[str, ...] = ("doc_id",),
    out_col: str = "curriculum_pos",
    epoch_col: str | None = None,
) -> DataFrame:
    """Global training-order position WITHOUT a global sort: curriculum
    + source balance in one integer expression. Reading the output back
    ordered by ``out_col`` yields a round-robin interleave of sources
    (an epoch never sees one source in a contiguous block — the
    training-dynamics reason data orders exist) with best-``score_col``
    rows first within each source.

    ``pos = (within_source_rank − 1) · n_sources + source_index`` where
    the within-source rank orders by (score DESC, *tiebreak_cols ASC) —
    ONE hash-partitioned window, parallel across sources — and
    ``source_index``/``n_sources`` come from a sources-cardinality dim
    derived once and broadcast. Positions are unique across the corpus
    (ranks are unique within a source; residues mod n_sources separate
    sources) but intentionally NOT dense: a shorter source exhausts its
    residue class early — the round-robin simply stops offering that
    source, exactly the interleave semantics.

    Scale shape: the corpus is touched by ONE window over
    ``source_col`` hash partitioning (skew bounded by the largest
    source; salting cannot apply — rank is order-sensitive — but a
    mixture's source count is small and sizes are the mixture weights,
    already budgeted upstream). The sources dim is collected once
    (bounded by source CARDINALITY, never data — the BPE-census /
    k-means-partials bounded-collect contract) and the index map and
    n_sources become LITERAL expressions, so the input lineage runs
    exactly twice (dim collect + main pass) instead of once more per
    broadcast build side — callers whose input is an expensive uncached
    DAG should localCheckpoint first, as jobs/pipeline.py --curriculum
    does (code-review finding, round 7). No global exchange anywhere;
    the total order exists only as arithmetic. NULL sources group under
    '' (coalesce both sides — a map lookup on a NULL key would yield a
    NULL position).

    ``epoch_col``: with upsampled (doc, epoch) rows, ranking an epoch
    column into the TIEBREAK would place a doc's replicas at
    consecutive within-source ranks — back-to-back in the read-back
    order, the exact clustering the epoch machinery exists to avoid.
    Naming it here instead sorts (epoch ASC, score DESC, tiebreaks), so
    each epoch is a complete best-first pass over its source and a
    doc's replicas are separated by an entire source-epoch."""
    from pyspark.sql import Window

    srcs = sorted(
        r["_src"]
        for r in df.select(
            F.coalesce(F.col(source_col), F.lit("")).alias("_src")
        )
        .distinct()
        .collect()
    )
    idx_map = F.create_map(
        *[
            lit
            for i, sname in enumerate(srcs)
            for lit in (F.lit(sname), F.lit(i).cast("bigint"))
        ]
    )
    order = (
        [F.asc(epoch_col)] if epoch_col is not None else []
    ) + [F.desc_nulls_last(score_col)] + [F.asc(c) for c in tiebreak_cols]
    w = Window.partitionBy("_src").orderBy(*order)
    return (
        df.withColumn("_src", F.coalesce(F.col(source_col), F.lit("")))
        .withColumn("_wr", F.row_number().over(w).cast("bigint"))
        .withColumn(
            out_col,
            (F.col("_wr") - 1) * F.lit(len(srcs)).cast("bigint")
            + idx_map[F.col("_src")],
        )
        .drop("_src", "_wr")
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    key: str,
    alpha: float = 0.7,
    salt: str = "tmix",
    max_rate: float = 1.0,
) -> DataFrame:
    """Temperature-scaled source rebalancing — the multilingual /
    multi-source sampling rule (mBERT/XLM-R's exponent trick, also the
    'alpha-sampling' of mixture papers): sample source ``s`` with
    probability proportional to ``n_s^alpha / n_s`` so the OUTPUT
    mixture follows ``p_s ∝ n_s^alpha``. ``alpha=1`` keeps natural
    proportions (every row, rate 1), ``alpha=0`` equalizes sources,
    in-between damps the head without starving the tail. Rates are
    normalized so the largest is ``max_rate`` (default 1.0: the biggest
    boost factor is 'keep everything' — this is a DOWN-sampling mix;
    compose with ``epoch_upsample`` when small sources need >1 epoch).

    Determinism contract shared by every sampler here: membership is a
    pure function of (salt, key) via the md5 ``hash_fraction``
    primitive, so the same corpus mixes identically on any cluster,
    any partitioning, any engine with md5 (DuckDB-pinned row-for-row
    in pytest). One honest DIFFERENCE from the fixed-fraction siblings:
    the keep-RATES derive from the live per-source counts, so unlike
    ``deterministic_sample``/``train_test_split`` this mix is NOT
    growth-stable — adding data shifts every source's rate and can flip
    an existing row's membership. Freeze the mixture of a growing
    corpus by computing rates once and applying them via
    ``weighted_source_mix`` on later refreshes. Scale shape: ONE
    aggregation for the per-source census (driver gets <= |sources|
    rows), rates fold into a single CASE filter — no shuffle of the
    corpus, no join."""
    if alpha < 0:
        raise ValueError("temperature_mix: alpha must be >= 0")
    if not 0.0 < max_rate <= 1.0:
        raise ValueError("temperature_mix: max_rate must be in (0, 1]")
    # NULL source is a real group, not a drop: alpha=1 must be the
    # IDENTITY (silently losing unlabeled rows in a documented no-op
    # configuration is data loss), so NULL participates in the census
    # and gets a temperature rate like any other source
    counts = {
        r["src"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["n"] > 0
    }
    if not counts:
        return df.filter(F.lit(False))
    # keep-rate ∝ n^(alpha-1), scaled so max(rate) == max_rate; the
    # arithmetic is plain double powers — engine-portable because the
    # RATES are driver-computed literals (the oracle reuses the same
    # literals, so only the md5 membership needs cross-engine parity)
    raw = {s: float(n) ** (alpha - 1.0) for s, n in counts.items()}
    top = max(raw.values())
    rates = {s: max_rate * v / top for s, v in raw.items()}
    rate = None
    for s in sorted(rates, key=lambda s: (s is None, s or "")):
        cond = (
            F.col(source_col).isNull()
            if s is None
            else F.col(source_col) == s
        )
        lit = F.lit(rates[s])
        rate = F.when(cond, lit) if rate is None else rate.when(cond, lit)
    rate = rate.otherwise(F.lit(0.0))
    return df.filter(hash_fraction(key, salt) < rate)


# --- DSIR: Data Selection via Importance Resampling (Xie et al. 2023) --------
#
# Select raw-corpus documents whose hashed-n-gram profile resembles a
# TARGET corpus (e.g. "pick web pages that look like Wikipedia"): score
# every raw doc with the mean log importance ratio of its features under
# a bag-of-hashed-ngrams model of target vs raw, then Gumbel-top-k
# resample (sampling without replacement from the softmax of the scores
# — the paper's variance-reducing alternative to deterministic top-k).
#
# Every arithmetic step is engine-portable by construction: feature
# buckets and Gumbel coins come from the md5 primitive, per-bucket log
# ratios are quantized to fixed-point BIGINTs (so the per-doc fold is an
# exact integer sum — immune to float summation order), and only two
# divisions + one final rounding produce the score.

_DSIR_FP = 10**6  # fixed-point quantum for per-bucket log ratios


def _dsir_bucket(feat: Column, n_buckets: int, salt: str) -> Column:
    digest = F.md5(F.concat(F.lit(f"{salt}:"), feat).cast("binary"))
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    ).cast("int")


def _dsir_feature_stream(
    df: DataFrame,
    lead: dict[str, Column],
    text_col: str,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """THE feature definition, in one place: unigram + bigram
    occurrences of the cleaned token stream, hashed into ``n_buckets``.
    Every DSIR path (per-id features, fused census) derives from this
    helper so the feature set / salt / bucket derivation cannot drift
    between the table that FITS the ratios and the stream that PROBES
    them. Output: the ``lead`` columns + ``bucket``."""
    from ..functions.text import tokens_array, word_ngrams

    toks = tokens_array(text_col)
    feats = F.concat(toks, word_ngrams(toks, 2))
    exploded = df.select(
        *[c.alias(n) for n, c in lead.items()],
        F.explode(feats).alias("_feat"),
    )
    return exploded.select(
        *lead.keys(),
        _dsir_bucket(F.col("_feat"), n_buckets, salt).alias("bucket"),
    )


def dsir_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    salt: str = "dsir",
) -> DataFrame:
    """(id, bucket) — one row per unigram/bigram OCCURRENCE, hashed into
    ``n_buckets`` (the hashing trick: fixed model size regardless of
    vocabulary; collisions are part of the estimator). Narrow explode of
    a single codegen expression; NULL text yields no rows."""
    return _dsir_feature_stream(
        df, {id_col: F.col(id_col)}, text_col, n_buckets, salt
    )


def dsir_log_ratios(
    raw_df: DataFrame,
    target_df: DataFrame | None,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    alpha: float = 1.0,
    salt: str = "dsir",
    *,
    target_filter: Column | None = None,
) -> DataFrame:
    """Per-bucket fixed-point log importance ratio table:
    ``ratio_fp = round(1e6 * (ln p_target(b) - ln p_raw(b)))`` with
    add-``alpha`` smoothing. The result is bounded by ``n_buckets``
    rows, so downstream scoring broadcasts it. Buckets never seen in
    the raw corpus can't be probed by raw docs, so the raw census is
    the driving side. Counts are integers and the arithmetic is fixed
    before quantization, so the table is identical whichever path
    builds it.

    Two shapes, same semantics:
    - ``target_df`` given: TWO bucket censuses (one agg each — the
      corpora are never joined row-to-row), for a target corpus that is
      a separate table (e.g. a curated Wikipedia dump vs a crawl).
    - ``target_filter`` given (keyword-only, mutually exclusive): the
      target is a SUBSET of ``raw_df`` selected by a boolean Column —
      both censuses fold in ONE corpus pass via a conditional count,
      halving the scan/explode work. Prefer this when it applies.

    Scale: a census is one partial-aggregated groupBy over the feature
    stream; the totals are scalar aggregates (bounded driver collect,
    same contract as token_budget_filter's histogram)."""
    if (target_df is None) == (target_filter is None):
        raise ValueError(
            "dsir_log_ratios: pass exactly one of target_df / target_filter"
        )
    # Both branches materialize their <= n_buckets-row censuses ONCE
    # (eager localCheckpoint): the totals collects below and every
    # downstream consumer (the ratio broadcast inside dsir_scores)
    # would otherwise each re-run a corpus-wide explode+census — the
    # exact duplication the fused branch exists to avoid. After the
    # barrier the whole function costs one corpus pass per input
    # corpus however many times the ratio table is read.
    if target_filter is not None:
        rawc = (
            _dsir_feature_stream(
                raw_df, {"_t": target_filter}, text_col, n_buckets, salt
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("_rc"),
                F.count_if(F.col("_t")).alias("_tc"),
            )
            .localCheckpoint()
        )
        # target ⊆ raw by construction, so the census's conditional
        # count IS the full target mass
        totals = rawc.agg(F.sum("_rc"), F.sum("_tc")).collect()[0]
        tr, tt = totals[0] or 0, totals[1] or 0
    else:
        tgtc = (
            dsir_features(target_df, id_col, text_col, n_buckets, salt)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_tc"))
            .localCheckpoint()
        )
        rawc = (
            dsir_features(raw_df, id_col, text_col, n_buckets, salt)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_rc"))
            .join(tgtc, "bucket", "left")
            .localCheckpoint()
        )
        tr = rawc.agg(F.sum("_rc")).collect()[0][0] or 0
        # the FULL target mass — target-only buckets (present in the
        # target corpus, absent from raw) still count toward the
        # normalizer even though no raw doc can probe them
        tt = tgtc.agg(F.sum("_tc")).collect()[0][0] or 0
    return _dsir_ratio_table(rawc, tr, tt, alpha, n_buckets)


def _dsir_ratio_table(
    census: DataFrame, tr: int, tt: int, alpha: float, n_buckets: int
) -> DataFrame:
    """THE log-ratio formula, in one place (shared by ``dsir_log_ratios``
    and ``dsir_fit_scores`` so the smoothing/quantization contract
    cannot drift): per bucket of a (_rc, _tc) census,
    ``round(1e6 * (ln((tc+a)/(tt+a·b)) - ln((rc+a)/(tr+a·b))))``."""
    a, b = float(alpha), float(n_buckets)
    ratio = F.log(
        (F.coalesce(F.col("_tc"), F.lit(0)).cast("double") + F.lit(a))
        / F.lit(float(tt) + a * b)
    ) - F.log(
        (F.col("_rc").cast("double") + F.lit(a)) / F.lit(float(tr) + a * b)
    )
    return census.select(
        "bucket",
        F.round(ratio * F.lit(float(_DSIR_FP)), 0)
        .cast("bigint")
        .alias("ratio_fp"),
    )


def _dsir_score_from_stream(
    feats: DataFrame, ratios: DataFrame, id_col: str
) -> DataFrame:
    """THE scoring fold, in one place (shared by ``dsir_scores`` and
    ``dsir_fit_scores`` so the mean/rounding contract cannot drift):
    broadcast-join the bounded ratio table onto an (id, bucket)
    occurrence stream, exact BIGINT sum per doc, one division, 4dp."""
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("ratio_fp").alias("_sfp"),
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
        )
        .select(
            id_col,
            F.round(
                F.col("_sfp").cast("double")
                / F.col("n_features")
                / F.lit(float(_DSIR_FP)),
                4,
            ).alias("dsir_score"),
            "n_features",
        )
    )


def dsir_scores(
    raw_df: DataFrame,
    ratios: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document DSIR score: mean log importance ratio over the doc's
    feature occurrences, rounded to 4dp. The fold is an exact BIGINT sum
    of fixed-point ratios (summation-order-proof: both the distributed
    partial aggregation and any other engine produce the identical
    integer), divided once at the end — so scores hash-match across
    engines bit-for-bit. One broadcast join (ratio table <= n_buckets
    rows) + one groupBy(id) whose shuffle carries a row per doc."""
    feats = dsir_features(raw_df, id_col, text_col, n_buckets, salt)
    return _dsir_score_from_stream(feats, ratios, id_col)


def dsir_fit_scores(
    raw_df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    alpha: float = 1.0,
    salt: str = "dsir",
    *,
    target_filter: Column,
) -> tuple[DataFrame, DataFrame]:
    """``dsir_log_ratios(target_filter=)`` + ``dsir_scores`` over ONE
    staged feature stream; returns ``(ratios, scored)``.

    The two-call composition explodes + tokenizes + hashes the full
    corpus TWICE for the same (id, bucket) occurrence stream — once to
    fold the bucket censuses, once to probe the ratio table. Here the
    stream is materialized once (localCheckpoint — a within-query
    barrier, narrow int rows, never the text) and both stages read it:
    the fit aggregates it, the probe joins it (guide §2.4 remove
    redundant passes — the x08 staged-chars recipe applied across the
    fit/score boundary). At corpus scale that halves the dominant
    tokenize/explode CPU for identical output: both stages consume the
    same occurrence rows, so ratios and scores are bit-equal to the
    two-call path (pinned in tests).

    ``target_filter`` only (the fused-census branch): a separate
    ``target_df`` tokenizes a different corpus, so there is no shared
    stream to stage — use the two-call composition there."""
    stream = _dsir_feature_stream(
        raw_df,
        {id_col: F.col(id_col), "_t": target_filter},
        text_col,
        n_buckets,
        salt,
    ).localCheckpoint()
    # census + totals: same arithmetic as dsir_log_ratios' fused branch
    # (counts are integers, so WHERE they are folded from cannot change
    # them); the census is bounded by n_buckets rows
    census = (
        stream.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("_rc"),
            F.count_if(F.col("_t")).alias("_tc"),
        )
        .localCheckpoint()
    )
    totals = census.agg(F.sum("_rc"), F.sum("_tc")).collect()[0]
    tr, tt = totals[0] or 0, totals[1] or 0
    ratios = _dsir_ratio_table(census, tr, tt, alpha, n_buckets)
    scored = _dsir_score_from_stream(
        stream.select(id_col, "bucket"), ratios, id_col
    )
    return ratios, scored


def gumbel_key(
    score: Column, key: Column | str, salt: str = "dsir-g"
) -> Column:
    """``score + Gumbel(0,1)`` sampling key for Gumbel-top-k (taking the
    k largest keys samples k items WITHOUT replacement proportionally to
    exp(score)). The Gumbel coin is md5-derived — deterministic,
    partition-invariant, portable — and u is centered to (0,1) strictly
    ((m+0.5)/2^32: ln(0) is unreachable by construction). Rounded to 4dp
    so a sub-ulp libm difference between engines cannot flip it."""
    key = F.col(key) if isinstance(key, str) else key
    digest = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")).cast("binary"))
    m = F.conv(F.substring(digest, 1, 8), 16, 10).cast("double")
    u = (m + F.lit(0.5)) / F.lit(float(_BUCKETS))
    return score + F.round(-F.log(-F.log(u)), 4)


def dsir_resample(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    n_keep: int,
    salt: str = "dsir-g",
    n_bins: int = 1000,
) -> DataFrame:
    """Gumbel-top-k selection of ``n_keep`` docs by DSIR score — the
    resampling half of DSIR. No global sort: the top-k cut reuses
    token_budget_filter's histogram + suffix-sum mechanism with every
    row weighing 1 (keeps <= n_keep, never more; granularity = one
    histogram bin). Deterministic, partition-invariant, portable.
    Rows with a NULL id or NULL score carry no Gumbel key and are
    never selected (unrankable, token_budget_filter's convention)."""
    if n_keep <= 0:
        raise ValueError(f"dsir_resample: n_keep must be > 0, got {n_keep}")
    keyed = scored.withColumn(
        "_gk", gumbel_key(F.col(score_col), id_col, salt)
    ).withColumn("_one", F.lit(1))
    return token_budget_filter(keyed, "_gk", "_one", n_keep, n_bins).drop(
        "_gk", "_one"
    )


def save_dsir_ratios(
    ratios: DataFrame, path: str, n_buckets: int, salt: str = "dsir"
) -> None:
    """Persist a DSIR log-ratio table as a parquet artifact — the
    offline half of the deployment shape (fit target-vs-raw ratios once
    on a reference pairing, gate many corpora/streams against them).
    Layout: ``<path>/ratios`` (bucket, ratio_fp), ``<path>/meta`` (one
    row: n_buckets, salt — scoring MUST bucket with the same pair, so
    they travel with the table instead of trusting call sites)."""
    ratios.write.mode("overwrite").parquet(f"{path}/ratios")
    local_table(
        ratios.sparkSession,
        [(int(n_buckets), salt)],
        "n_buckets long, salt string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_dsir_ratios(spark, path: str) -> tuple[DataFrame, int, str]:
    """Inverse of ``save_dsir_ratios``; the returned triple feeds
    ``dsir_scores(raw, ratios, ..., n_buckets=n, salt=salt)``."""
    ratios = spark.read.parquet(f"{path}/ratios")
    meta = spark.read.parquet(f"{path}/meta").first()
    return ratios, int(meta["n_buckets"]), meta["salt"]


def doremi_weights(
    df: DataFrame,
    source_col: str,
    text_col: str,
    n_rounds: int = 4,
    lr: float = 1.0,
    add_k: float = 0.5,
    quantize_dp: int = 6,
) -> tuple[dict[str, float], list[dict[str, float]]]:
    """DoReMi-style mixture-weight optimization (Xie et al. 2023,
    "Doremi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): per round, each domain's EXCESS LOSS — its
    cross-entropy under the CURRENT weighted-mixture model minus under
    its own-domain reference model — drives an exponentiated-gradient
    update ``w_s ∝ w_s · exp(lr · excess_s)``, so domains the mixture
    covers worst gain mass. Returns ``(weights, history)`` with the
    weight dict after every round; the final dict feeds
    ``weighted_source_mix`` / ``epoch_upsample`` directly.

    Documented deviation from the paper: the proxy is the add-k
    smoothed JOINT bigram mixture ``p_mix(g) = Σ_s w_s · p_s(g)`` over
    per-domain bigram distributions, not a retrained transformer. The
    joint mixture is the information-theoretic object the paper's
    proxy approximates, and — unlike a CONDITIONAL n-gram proxy, which
    is invariant to domain reweighting on disjoint vocabularies
    (p(w2|w1) cancels any per-domain scale, so weights would never
    couple) — it feels the weights exactly: a domain with unique
    content sees ``CE_mix − CE_own ≈ −ln w_s``, so underweighted/
    uncovered domains gain and a single-source corpus is a fixed point
    at weight 1 (p_mix ≡ p_own, excess 0).

    Scale shape: the corpus is tokenized ONCE into a per-(source,
    bigram) count census (vocab²·S-bounded, localCheckpointed — never
    the corpus again). Each round: one bigram-keyed aggregation builds
    the mixture distribution (per-domain smoothed probabilities carry
    the S weights as an inlined CASE; domains missing a gram contribute
    their smoothing floor via one closed-form scalar), one census-sized
    join + source-keyed aggregation measures every domain's CE, and S
    driver-side scalars move. Cross-entropies are rounded to
    ``quantize_dp`` before the update so distributed summation-order
    noise (~1e-12 on O(10) values) vanishes below the quantum: weights
    are reproducible across partitionings and equal a pure-python
    re-derivation from the same census (pinned)."""
    import math

    from .relevance import doc_bigrams

    grams = doc_bigrams(df, source_col, text_col)
    cen = (
        grams.groupBy(source_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    masses = {
        r[0]: int(r[1])
        for r in cen.groupBy(source_col).agg(F.sum("c")).collect()
    }
    sources = sorted(masses)
    if not sources:
        return {}, []
    v = cen.select("bigram").distinct().count()  # joint bigram types

    def _case(values: dict[str, float]):
        expr = F.lit(None).cast("double")
        for s in sources:
            expr = F.when(
                F.col(source_col) == s, F.lit(values[s])
            ).otherwise(expr)
        return expr

    # denominators and unseen-gram smoothing floors, per domain
    denom = {s: masses[s] + add_k * v for s in sources}
    u = {s: add_k / denom[s] for s in sources}

    # own-domain reference CE (one-time): CE_s(own) = -Σ ĉ ln p_s
    ce_own_rows = (
        cen.groupBy(source_col)
        .agg(
            (
                -F.sum(
                    F.col("c")
                    * F.log(
                        (F.col("c") + F.lit(add_k)) / _case(denom)
                    )
                )
            ).alias("nll")
        )
        .collect()
    )
    ce_own = {
        r[0]: round(float(r["nll"]) / masses[r[0]], quantize_dp)
        for r in ce_own_rows
    }

    weights = {s: round(1.0 / len(sources), quantize_dp) for s in sources}
    history: list[dict[str, float]] = []
    for _ in range(n_rounds):
        # p_mix(g) = Σ_present w_s·(p_s(g) − u_s) + Σ_all w_s·u_s: the
        # second term is the round-constant unseen floor, so one
        # bigram-keyed aggregation over the census builds the whole
        # mixture distribution
        floor = sum(weights[s] * u[s] for s in sources)
        excess_term = {
            s: weights[s] / denom[s] for s in sources  # w_s·(p−u) = w_s·c/denom
        }
        mix = (
            cen.withColumn("_wp", F.col("c") * _case(excess_term))
            .groupBy("bigram")
            .agg((F.sum("_wp") + F.lit(floor)).alias("pmix"))
        )
        ce_mix_rows = (
            cen.join(mix, "bigram")
            .groupBy(source_col)
            .agg((-F.sum(F.col("c") * F.log("pmix"))).alias("nll"))
            .collect()
        )
        ce_mix = {
            r[0]: round(float(r["nll"]) / masses[r[0]], quantize_dp)
            for r in ce_mix_rows
        }
        raw = {
            s: weights[s]
            * math.exp(lr * max(0.0, ce_mix[s] - ce_own[s]))
            for s in sources
        }
        z = sum(raw.values())
        weights = {s: round(raw[s] / z, quantize_dp) for s in sources}
        history.append(dict(weights))
    return weights, history


def unimax_allocation(
    df: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: int,
    max_epochs_num: int,
    max_epochs_den: int = 1,
    fp_scale: int = 10**6,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a token budget across sources as
    UNIFORMLY as possible subject to a per-source epoch cap — the
    fairness alternative to temperature sampling, which still
    over-weights head sources. This is exactly water-filling:

        alloc_s = min(cap_s, θ),  cap_s = ⌊n_s · E⌋,
        θ the level where Σ_s min(cap_s, θ) = budget

    — small sources saturate at their epoch cap, the rest share the
    remaining budget equally. The epoch cap E is a RATIONAL
    (max_epochs_num/max_epochs_den) so caps stay exact integers.

    Output, one row per source: (source, n_tokens, cap, saturated,
    alloc_tokens, epochs_fp) — the allocation in WHOLE tokens (a
    saturated source gets its integer cap verbatim, an unsaturated one
    ⌊θ⌋; whole tokens rather than a fixed-point allocation because
    cap·fp_scale overflows BIGINT at real corpus sizes — review
    finding, round 9), realized epochs in ``fp_scale`` fixed point
    (epochs are O(E)-magnitude, so their fixed point cannot overflow).
    Every decision is integer: the
    saturated set is the ascending-cap prefix where
    cap_i·(S−i+1) + cum_{i−1} ≤ budget (monotone, so prefix-ness is a
    theorem, not an assumption), and θ's floor quantization runs
    through exact DECIMAL(38,0) division (the KMV estimate contract) —
    fully cross-engine hashable. budget ≥ Σcaps saturates everything
    (the budget is then under-filled — UniMax's signal to raise E).

    Scale shape: one source-keyed aggregation of the corpus; all
    windows below it run over the SOURCE-COUNT-sized table (the
    accepted post-aggregation scalar class — KBs however big the
    corpus)."""
    if budget < 0 or max_epochs_num < 1 or max_epochs_den < 1:
        raise ValueError(
            "unimax_allocation: budget must be >= 0 and the epoch cap "
            f"a positive rational, got budget={budget}, "
            f"E={max_epochs_num}/{max_epochs_den}"
        )
    from pyspark.sql import Window

    src = df.groupBy(source_col).agg(
        F.sum(F.col(tokens_col).cast("bigint")).alias("n_tokens")
    )
    cap = F.expr(
        f"CAST((n_tokens * {int(max_epochs_num)}) "
        f"div {int(max_epochs_den)} AS BIGINT)"
    )
    src = src.withColumn("cap", cap)
    w_ord = Window.orderBy(F.col("cap").asc(), F.col(source_col).asc())
    w_all = Window.partitionBy()
    src = (
        src.withColumn("_i", F.row_number().over(w_ord).cast("bigint"))
        .withColumn("_cum", F.sum("cap").over(w_ord))
        .withColumn("_s", F.count(F.lit(1)).over(w_all))
    )
    sat = (
        F.col("cap") * (F.col("_s") - F.col("_i") + 1)
        + (F.col("_cum") - F.col("cap"))
    ) <= F.lit(int(budget))
    src = src.withColumn("saturated", sat)
    src = src.withColumn(
        "_k", F.sum(F.col("saturated").cast("bigint")).over(w_all)
    ).withColumn(
        "_satsum",
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("cap"))).over(w_all),
            F.lit(0),
        ),
    )
    theta_tokens = F.expr(
        f"CAST(CAST({int(budget)} - _satsum AS DECIMAL(38,0))"
        " DIV CAST(greatest(_s - _k, 1) AS DECIMAL(38,0)) AS BIGINT)"
    )
    alloc_tokens = F.when(F.col("saturated"), F.col("cap")).otherwise(
        theta_tokens
    )
    epochs_fp = F.when(
        F.col("saturated"),
        F.expr(
            f"CAST((CAST(cap AS DECIMAL(38,0))"
            f" * CAST({int(fp_scale)} AS DECIMAL(38,0)))"
            " DIV CAST(greatest(n_tokens, 1) AS DECIMAL(38,0)) AS BIGINT)"
        ),
    ).otherwise(
        F.expr(
            f"CAST((CAST({int(budget)} - _satsum AS DECIMAL(38,0))"
            f" * CAST({int(fp_scale)} AS DECIMAL(38,0)))"
            " DIV CAST(greatest((_s - _k) * n_tokens, 1)"
            " AS DECIMAL(38,0)) AS BIGINT)"
        )
    )
    return src.select(
        source_col,
        "n_tokens",
        "cap",
        "saturated",
        alloc_tokens.alias("alloc_tokens"),
        epochs_fp.alias("epochs_fp"),
    )
