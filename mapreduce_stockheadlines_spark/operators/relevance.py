"""Term-relevance operators: TF-IDF top terms and BM25 scoring.

Classic lexical relevance for training-data pipelines (keyword extraction,
query-document scoring, lexical retrieval baselines). Both operators are
pure DataFrame compositions — explode, two aggregations, one many-to-one
join, a window top-k — no Python in the hot path.

Scale notes (100 TB contract):
- Corpus stats (document frequency, avg length) are token-keyed
  aggregations of the SAME exploded (doc, token) stream the term
  frequencies come from — one explode feeds both, Spark reuses the scan.
- The tf⋈df join is many-to-one on ``token``; document frequency is one
  row per vocabulary term, orders of magnitude smaller than the tf
  stream, so AQE broadcasts it for realistic vocabularies and falls back
  to a shuffle join (still no skew amplification: a hot token is one
  build row) when the vocabulary itself is huge.
- Top-k per document compiles to WindowGroupLimit (rank pushdown), so no
  task ever materializes a full per-doc term list sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_array, word_ngrams
from ..session import local_table

__all__ = [
    "term_frequencies",
    "doc_frequencies",
    "tfidf_top_terms",
    "bm25_scores",
    "vocabulary",
    "oov_stats",
    "train_bigram_lm",
    "lm_perplexity",
    "train_bigram_lm_kn",
    "lm_perplexity_kn",
    "ppl_buckets",
    "apply_vocabulary",
    "save_bigram_lm",
    "load_bigram_lm",
    "doc_bigrams",
    "moore_lewis_scores",
]


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term) → tf over the standard cleaned token stream."""
    return (
        df.select(id_col, F.explode(tokens_array(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def doc_frequencies(tf: DataFrame, id_col: str) -> DataFrame:
    """term → number of documents containing it (from the tf stream, which
    is already distinct per (doc, term) — no extra distinct shuffle)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))


def _n_docs(df: DataFrame, id_col: str) -> DataFrame:
    """One-row document count, broadcast-equi-joined where needed."""
    return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))


def _zero_key(col: str):
    """All-zero JOIN KEY that Catalyst cannot constant-fold: a literal
    key on both sides folds the equi-join condition to TRUE and the join
    degrades to the BroadcastNestedLoopJoin the plan guard forbids
    (measured — see profile.census_divergence's note; ``col * 0`` is
    also folded by Spark 4's arithmetic simplification). A hash of a
    real column is opaque to the optimizer, and ``pmod(·, 1)`` makes it
    identically 0 on both sides, so the 1-row scalar attach compiles to
    a BroadcastHashJoin (measured)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(1)).cast("int")


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    ``score = tf * (ln((N + 1) / (df + 1)) + 1)``, ties broken by term
    ascending (deterministic output; the window orders by the ROUNDED
    score, so rank is reproducible across engines wherever the 4dp
    values agree).

    ``tf=``: a precomputed ``term_frequencies(df, id_col, text_col)``
    table — callers combining several lexical operators over one corpus
    (the x26 registry panel) materialize the census once and every
    operator reuses it instead of re-exploding the corpus per operator.
    """
    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    dfreq = doc_frequencies(tf, id_col)
    # one-row N attaches via a non-foldable-key broadcast EQUI-join
    # (_zero_key): a crossJoin of a 1-row side compiles to
    # BroadcastNestedLoopJoin, which the plan guard forbids outright
    # rather than special-casing provably-1-row builds
    n = _n_docs(df, id_col).withColumn("_k", _zero_key("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .withColumn("_k", _zero_key("df"))
        .join(F.broadcast(n), "_k")
        .drop("_k")
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms.

    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` (Robertson-Spärck
    Jones, always positive), ``score = Σ idf * tf(k1+1) /
    (tf + k1(1 - b + b·len/avglen))``. Documents matching no query term
    are omitted (a LEFT join + zero-fill would keep them; retrieval
    semantics drop them). ``tf=``: precomputed census, see
    ``tfidf_top_terms``."""
    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    doclen = tf.groupBy(id_col).agg(F.sum("tf").cast("double").alias("dl"))
    # one-row sides (avgdl, N) attach via non-foldable-key broadcast
    # equi-joins — see _zero_key
    avgdl = doclen.agg(F.avg("dl").alias("avgdl")).withColumn(
        "_k", _zero_key("avgdl")
    )
    dfreq = doc_frequencies(tf, id_col)
    n = _n_docs(df, id_col).withColumn("_k", _zero_key("n_docs"))
    qt = local_table(
        tf.sparkSession, [(t,) for t in sorted(set(query_terms))],
        "term string",
    )
    idf = (
        dfreq.join(F.broadcast(qt), "term")
        .withColumn("_k", _zero_key("df"))
        .join(F.broadcast(n), "_k")
        .drop("_k")
        .withColumn(
            "idf",
            F.log(
                1
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    return (
        tf.join(F.broadcast(idf.select("term", "idf")), "term")
        .join(doclen, id_col)
        .withColumn("_k", _zero_key("tf"))
        .join(F.broadcast(avgdl), "_k")
        .drop("_k")
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.round(F.sum("contrib"), 4).alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
        )
    )


def vocabulary(
    df: DataFrame,
    text_col: str,
    top_v: int | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Corpus vocabulary: (term, freq, term_id) with ids assigned by rank
    (freq DESC, term ASC — fully deterministic), optionally truncated to
    the ``top_v`` most frequent terms. The tokenizer-building step of a
    training pipeline.

    One explode + one token-keyed aggregation (map-side partial combine
    absorbs each partition's repeats); the rank uses the BUCKETED
    row_number construction (rank.bucketed_row_number — the
    assign_global_ids shape, VERDICT r4 #3), so there is NO
    SinglePartition exchange even when the vocabulary outgrows one task
    (plan-pinned). The bucket key is a monotone prefix of
    (freq DESC, term ASC), skew-aware for the Zipf tail:

    - freq > 255: bucket on -floor(log2(freq)) — each high-frequency
      tier holds few terms, and within-tier order (freq DESC, term)
      resolves exact ranks;
    - freq <= 255: bucket on (256 - freq, first char of term) — the
      huge exact-frequency tail buckets (freq=1 can be half the vocab)
      split ~27 ways by term prefix, which is order-consistent because
      within one exact frequency the order IS term ASC.

    ``tf=``: a precomputed ``term_frequencies`` census — corpus
    frequency is its per-term sum (occurrences, not document counts),
    so the corpus is not re-exploded.
    """
    from .rank import bucketed_row_number

    if tf is None:
        freqs = (
            df.select(F.explode(tokens_array(text_col)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        )
    else:
        freqs = tf.groupBy("term").agg(
            F.sum("tf").cast("bigint").alias("freq")
        )
    fq = F.col("freq")
    tier = (
        F.when(fq > 255, -F.floor(F.log2(fq)))
        .otherwise(256 - fq)
        .cast("int")
    )
    sub = F.when(fq > 255, F.lit("")).otherwise(F.substring("term", 1, 1))
    bucketed = freqs.withColumn("_fb", tier).withColumn("_cb", sub)
    ranked = bucketed_row_number(
        bucketed,
        ["_fb", "_cb"],
        [fq.desc(), F.col("term").asc()],
        "term_id",
    ).drop("_fb", "_cb")
    return ranked.filter(F.col("term_id") <= top_v) if top_v else ranked


def oov_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document out-of-vocabulary stats against a vocabulary table:
    (id, n_tokens, n_oov, oov_rate). High OOV marks encoding junk or
    domain mismatch; the corpus-level mean tracks tokenizer coverage.

    The token stream LEFT-joins the vocabulary on term — one row per
    vocab term on the build side, so it broadcasts for real vocab sizes —
    then one (doc) aggregation. Corpus scanned once, no skew (keys are
    doc-scoped).

    ``tf=``: a precomputed ``term_frequencies`` census — OOV-ness is a
    property of the TERM, so the per-token sums collapse to tf-weighted
    sums over the (doc, term) census: identical output, and the join's
    probe side shrinks from the token stream to the census."""
    if tf is None:
        joined = df.select(
            id_col, F.explode(tokens_array(text_col)).alias("term")
        ).withColumn("tf", F.lit(1).cast("bigint"))
    else:
        joined = tf
    hit = vocab.select("term", F.lit(1).alias("__in_vocab"))
    joined = joined.join(F.broadcast(hit), "term", "left")
    n_tokens = F.sum("tf").cast("bigint")
    n_oov = F.sum(
        F.when(F.col("__in_vocab").isNull(), F.col("tf")).otherwise(0)
    ).cast("bigint")
    return joined.groupBy(id_col).agg(
        n_tokens.alias("n_tokens"),
        n_oov.alias("n_oov"),
        F.round(n_oov / n_tokens, 4).alias("oov_rate"),
    )


# --- bigram language-model perplexity (CCNet-style LM filtering) ------------

_BOS = "<s>"  # cannot collide: real tokens are [a-z]+ only


def doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, 'w1 w2') bigram stream with a BOS sentinel so the first real
    token is conditioned too. The space-joined string IS the model key
    (tokens contain no spaces); w1 recovers as the prefix before the
    space. Docs with zero tokens emit no bigrams and drop out of
    scoring — both engines agree (pinned)."""
    padded = F.concat(F.array(F.lit(_BOS)), tokens_array(text_col))
    return df.select(
        id_col, F.explode(word_ngrams(padded, 2)).alias("bigram")
    )


def train_bigram_lm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    add_k: float = 0.5,
    grams: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Add-k-smoothed bigram LM over the corpus — the KenLM-filtering
    stage of CCNet-style pipelines, reduced to its Spark-native core
    (count-based estimation; backoff weights are a modeling refinement,
    not a distribution-shape change).

    Returns ``(lm, ctx, vocab_size)``:

    - ``lm``:  (bigram, w1, logp) with
      ``logp = round(ln((c12 + k) / (c1 + k·V)), 4)`` — rounded so any
      engine's libm agrees on the stored value;
    - ``ctx``: (w1, c1) context counts, for scoring bigrams the model
      has never seen (held-out docs);
    - ``vocab_size``: the distinct predicted-token count, collected as
      a plain int (a bounded one-row job — the same semantically-small
      scalar class as a broadcast build side; embedding it as a literal
      keeps every downstream plan free of the BroadcastNestedLoopJoin a
      1-row crossJoin degrades to, which the plan guard forbids).

    Scale shape: one explode feeds ONE bigram census; context counts and
    the vocabulary size are aggregations OF that census (vocab²-bounded
    rows, never the corpus stream again). All model tables are
    corpus-derived — none is force-broadcast; AQE picks broadcast when
    the vocabulary is actually small.

    ``grams``: a pre-built (id, bigram) stream (``doc_bigrams``) — for
    the train-then-self-score composition, materialize it once
    (localCheckpoint) and pass it to BOTH functions, halving the
    tokenize+explode passes over the corpus."""
    if grams is None:
        grams = doc_bigrams(df, id_col, text_col)
    bg = grams.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    bg = bg.withColumn("w1", F.split("bigram", " ")[0]).withColumn(
        "w2", F.split("bigram", " ")[1]
    )
    ctx = bg.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab_size = int(
        bg.agg(F.countDistinct("w2").cast("bigint").alias("v")).first()["v"]
    )
    lm = bg.join(ctx, "w1").select(
        "bigram",
        "w1",
        F.round(
            F.log(
                (F.col("c12") + F.lit(add_k))
                / (F.col("c1") + F.lit(add_k) * F.lit(vocab_size))
            ),
            4,
        ).alias("logp"),
    )
    return lm, ctx, vocab_size


def lm_perplexity(
    df: DataFrame,
    lm: DataFrame,
    ctx: DataFrame,
    vocab_size: int,
    id_col: str,
    text_col: str,
    add_k: float = 0.5,
    backoff: bool = True,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document perplexity under a bigram LM:
    ``ppl = round(exp(-mean(logp)), 4)`` over the doc's BOS-padded
    bigrams. The standard CCNet quality signal — low perplexity ≈
    fluent text, extreme values flag junk.

    Unseen bigrams (scoring held-out docs) back off to the smoothed
    floor ``ln(k / (c1 + k·V))`` via the context table; an unseen
    CONTEXT gets ``c1 = 0`` (the uniform ``ln(1/V)`` floor). Join
    shape: the doc-bigram stream joins the model on the bigram string —
    many-to-one against a vocab²-bounded build side, AQE-broadcast for
    realistic models; a hot bigram is one build row, so no skew
    amplification.

    ``backoff=False`` skips the context-table join and vocab-size
    broadcast entirely — correct whenever every scored gram is in the
    model, i.e. the self-trained case (train and score over the SAME
    corpus), where the backoff branch is dead code but its join still
    costs a second pass over the gram stream (measured: 33% of the
    train+score wall at both 1× and 10× sf0.1). A doc with ANY unseen
    gram under ``backoff=False`` nulls out loudly (sum() would otherwise
    silently average only the seen grams) rather than mis-scoring.
    ``grams``: share a materialized stream with training (see
    train_bigram_lm)."""
    if grams is None:
        grams = doc_bigrams(df, id_col, text_col)
    scored = grams.join(lm.select("bigram", "logp"), "bigram", "left")
    if backoff:
        scored = (
            scored.withColumn("w1", F.split("bigram", " ")[0])
            .join(ctx, "w1", "left")
            .withColumn(
                "logp_eff",
                F.coalesce(
                    "logp",
                    F.round(
                        F.log(
                            F.lit(add_k)
                            / (
                                F.coalesce("c1", F.lit(0))
                                + F.lit(add_k) * F.lit(int(vocab_size))
                            )
                        ),
                        4,
                    ),
                ),
            )
        )
    else:
        scored = scored.withColumn("logp_eff", F.col("logp"))
    return _doc_ppl_from_scored(scored, id_col)


def _doc_ppl_from_scored(scored: DataFrame, id_col: str) -> DataFrame:
    """Per-doc (n_bigrams, avg_logp, ppl) from a gram stream carrying
    ``logp_eff``. The per-gram logps are 4dp-rounded, i.e. exact
    multiples of 1e-4 — so the mean is computed in integer 1e-4 units
    (exact, order-free sum + HALF_UP integer division), not a float
    avg: a float sum's order-dependent last ulp can flip the 4dp
    rounding of the mean (observed once in 500 docs), and summation
    order differs across engines. Same fixed-point trick as
    textstats._quality_cols."""
    logp4 = F.round(F.col("logp_eff") * 10000).cast("long")
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.count("logp_eff").cast("bigint").alias("n_scored"),
        F.sum(logp4).alias("s4"),
    )
    # sum() skips nulls: under backoff=False a doc with SOME unseen grams
    # would otherwise silently average only the seen ones — null the doc
    # out instead (with backoff every gram has a logp and this is a no-op)
    s4 = F.when(F.col("n_scored") == F.col("n_bigrams"), F.col("s4"))
    agg = agg.withColumn("s4", s4).drop("n_scored")
    avg4 = F.expr(
        "cast((2 * abs(s4) + n_bigrams) div (2 * n_bigrams) as long)"
    ) * F.signum("s4").cast("long")
    return (
        agg.withColumn("avg_logp", avg4 / F.lit(10000.0))
        .withColumn("ppl", F.round(F.exp(-F.col("avg_logp")), 4))
        .drop("s4")
    )


def moore_lewis_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    in_domain,
    add_k: float = 0.5,
    grams: DataFrame | None = None,
    general: tuple[DataFrame, DataFrame, int] | None = None,
    general_scored: DataFrame | None = None,
) -> DataFrame:
    """Moore & Lewis (ACL 2010) cross-entropy-difference data
    selection: score each document by its avg bigram log-probability
    under an IN-DOMAIN LM minus under the GENERAL (whole-pool) LM —
    positive means 'reads more like the target domain than like the
    pool'. THE classic LM-based selection method; DSIR
    (sampling.dsir_*) is its hashed-ngram importance-ratio descendant,
    this is the exact-LM form, and the two rank differently on small
    vocabularies (worth having both — the selection literature
    routinely reports M-L as the baseline).

    ``in_domain``: boolean Column selecting the target rows (they
    score under their own model too — standard M-L; the ranking of
    POOL docs is what selection consumes). Output: (id, n_bigrams,
    ml_in_avg_logp, ml_gen_avg_logp, ml_excess_fp) with
    ``ml_excess_fp = round((in − gen)·10⁴)`` as BIGINT — both averages
    are exact 1e-4 multiples by the ``_doc_ppl_from_scored``
    integer-mean contract, so the difference is exact and cross-engine
    hashable (the x28 registry shape).

    The general side scores ``backoff=False`` (self-trained — every
    gram is in the model by construction); the in-domain side scores
    the WHOLE pool, so OOV grams take the smoothed backoff floor
    ``ln(k / (c1 + k·V_in))`` via the context table (lm_perplexity's
    backoff arm — an unseen context is the uniform ln(1/V_in) floor).

    Scale: the in-domain model is one census aggregation over the
    target subset of the SAME materialized gram stream; scoring is the
    lm_perplexity join shape (gram stream vs vocab²-bounded model
    tables, AQE-broadcast) run twice — no extra corpus tokenization,
    no corpus×corpus joins. Pass ``grams`` (a localCheckpoint'd
    ``doc_bigrams``), ``general`` (a pre-trained (lm, ctx, V)) and
    ``general_scored`` (the lm_perplexity(backoff=False) output under
    that model — (id, n_bigrams, avg_logp)) to share work with a
    co-resident perplexity stage, as x28 does; with all three, the
    general side costs nothing new. An EMPTY in-domain subset raises
    loudly: a vocab-0 model's backoff floor is ln(0.5/0) = +Inf, whose
    fixed-point cast saturates and wraps — garbage scores that would
    otherwise silently gate the whole corpus (round-10 review
    finding)."""
    if grams is None:
        grams = doc_bigrams(df, id_col, text_col)
    if general is None:
        general = train_bigram_lm(df, id_col, text_col, add_k, grams=grams)
    glm, gctx, gv = general
    in_grams = grams.join(
        df.filter(in_domain).select(F.col(id_col)), id_col
    )
    ilm, ictx, iv = train_bigram_lm(
        df.filter(in_domain), id_col, text_col, add_k, grams=in_grams
    )
    if iv == 0:
        raise ValueError(
            "moore_lewis_scores: the in_domain filter selects no "
            "scorable docs (in-domain vocabulary is empty) — check the "
            "target value; scoring against a vocab-0 model would "
            "produce saturated/wrapped garbage, not a ranking"
        )
    if general_scored is not None:
        gen = general_scored.select(
            id_col,
            "n_bigrams",
            F.col("avg_logp").alias("ml_gen_avg_logp"),
        )
    else:
        gen = lm_perplexity(
            df, glm, gctx, gv, id_col, text_col, add_k,
            backoff=False, grams=grams,
        ).select(
            id_col,
            "n_bigrams",
            F.col("avg_logp").alias("ml_gen_avg_logp"),
        )
    ind = lm_perplexity(
        df, ilm, ictx, iv, id_col, text_col, add_k,
        backoff=True, grams=grams,
    ).select(id_col, F.col("avg_logp").alias("ml_in_avg_logp"))
    return gen.join(ind, id_col).select(
        id_col,
        "n_bigrams",
        "ml_in_avg_logp",
        "ml_gen_avg_logp",
        F.round(
            (F.col("ml_in_avg_logp") - F.col("ml_gen_avg_logp"))
            * 10000
        )
        .cast("long")
        .alias("ml_excess_fp"),
    )


def train_bigram_lm_kn(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
    cont_k: float = 0.5,
    grams: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    interpolated form of Chen & Goodman 1998) — the smoothing the add-k
    model above trades away. The KN insight: a word's UNIGRAM backoff
    weight should be how many distinct contexts it follows
    (continuation count), not how often it occurs — 'francisco' is
    frequent but follows only 'san', so it gets almost no backoff mass.

        P(w2|w1)  = (c12 − D)/c1  +  (D·N1+(w1·)/c1) · Pcont(w2)
        Pcont(w2) = (N1+(·w2) + k) / (T + k·V)

    with D the absolute discount, N1+(w1·) the distinct followers of
    w1, N1+(·w2) the distinct left-contexts of w2, T the total bigram
    TYPE count and V the vocabulary — Pcont is add-k smoothed so unseen
    words keep mass and every score stays finite. Per seen context the
    distribution sums to exactly 1 (the discounted mass D·N1+(w1·)/c1
    is redistributed through Pcont, which itself sums to 1 over the
    vocabulary) — property-pinned in tests.

    Returns ``(lm, ctx, cont, n_bigram_types, vocab_size)``:
    ``lm`` (bigram, w1, logp) 4dp-rounded seen-bigram scores;
    ``ctx`` (w1, c1, n1f) context totals + distinct-follower counts —
    the backoff weights; ``cont`` (w2, n1b) continuation counts. The
    two ints collect as bounded one-row scalars (train_bigram_lm's
    literal-embedding argument).

    Scale shape: identical to train_bigram_lm — ONE bigram census from
    the gram stream, everything else aggregations OF that census
    (vocab²-bounded). The continuation table adds one census-sized
    groupBy, not a corpus pass. All float decisions round to 4dp
    before any cross-engine comparison (the x28/x29 contract).

    ``grams``: share a materialized (id, bigram) stream with scoring
    (see train_bigram_lm)."""
    if not 0.0 < discount < 1.0:
        # D >= 1 would zero or negate singleton-bigram probabilities →
        # ln() of <= 0; a config error, not a row to drop
        raise ValueError(
            f"train_bigram_lm_kn: discount must be in (0, 1), got {discount}"
        )
    if grams is None:
        grams = doc_bigrams(df, id_col, text_col)
    bg = grams.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    bg = bg.withColumn("w1", F.split("bigram", " ")[0]).withColumn(
        "w2", F.split("bigram", " ")[1]
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.countDistinct("w2").cast("bigint").alias("n1f"),
    )
    cont = bg.groupBy("w2").agg(
        F.countDistinct("w1").cast("bigint").alias("n1b")
    )
    row = bg.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.countDistinct("w2").cast("bigint").alias("v"),
    ).first()
    n_types, vocab_size = int(row["t"]), int(row["v"])
    lm = bg.join(ctx, "w1").join(cont, "w2").select(
        "bigram",
        "w1",
        F.round(
            F.log(
                (F.col("c12") - F.lit(discount)) / F.col("c1")
                + F.lit(discount) * F.col("n1f") / F.col("c1")
                * _kn_pcont(F.col("n1b"), n_types, vocab_size, cont_k)
            ),
            4,
        ).alias("logp"),
    )
    return lm, ctx, cont, n_types, vocab_size


def _kn_pcont(n1b, n_types: int, vocab_size: int, cont_k: float):
    """Add-k-smoothed continuation probability — one expression tree,
    shared by train and backoff scoring so both engines (and both call
    sites) evaluate the same double operations in the same order."""
    return (n1b + F.lit(cont_k)) / (
        F.lit(float(n_types)) + F.lit(cont_k) * F.lit(float(vocab_size))
    )


def lm_perplexity_kn(
    df: DataFrame,
    lm: DataFrame,
    ctx: DataFrame,
    cont: DataFrame,
    n_bigram_types: int,
    vocab_size: int,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
    cont_k: float = 0.5,
    backoff: bool = True,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document perplexity under a Kneser-Ney bigram LM — the same
    fixed-point doc mean as lm_perplexity, with KN's three-tier unseen
    handling instead of the add-k floor:

    - unseen bigram, seen context:  P = (D·N1+(w1·)/c1) · Pcont(w2)
      (the interpolation term alone — exactly the mass training set
      aside for it);
    - unseen context:               P = Pcont(w2) (all mass continues);
    - unseen w2:                    Pcont's add-k floor k/(T + k·V).

    Join shape matches lm_perplexity: gram stream → model (many-to-one,
    vocab²-bounded build side), plus ctx/cont joins only on the backoff
    path. ``backoff=False`` is the self-trained fast path (every gram in
    the model by construction; a doc with ANY unseen gram nulls out
    loudly — lm_perplexity's contract)."""
    if grams is None:
        grams = doc_bigrams(df, id_col, text_col)
    scored = grams.join(lm.select("bigram", "logp"), "bigram", "left")
    if backoff:
        pc = _kn_pcont(
            F.coalesce("n1b", F.lit(0)), n_bigram_types, vocab_size, cont_k
        )
        lam = F.when(
            F.col("c1").isNotNull(),
            F.lit(discount) * F.col("n1f") / F.col("c1"),
        ).otherwise(F.lit(1.0))
        scored = (
            scored.withColumn("w1", F.split("bigram", " ")[0])
            .withColumn("w2", F.split("bigram", " ")[1])
            .join(ctx, "w1", "left")
            .join(cont, "w2", "left")
            .withColumn(
                "logp_eff",
                F.coalesce("logp", F.round(F.log(lam * pc), 4)),
            )
        )
    else:
        scored = scored.withColumn("logp_eff", F.col("logp"))
    return _doc_ppl_from_scored(scored, id_col)


def apply_vocabulary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    unk_id: int = 0,
) -> DataFrame:
    """Tokenize documents INTO ID SEQUENCES under a ``vocabulary()``
    table — the encode step between vocabulary building and sequence
    packing that turns text into model-ready token ids.

    Output: (id, ``token_ids`` array<int> in original token order,
    ``n_tokens``, ``n_unk``). OOV tokens map to ``unk_id`` (vocabulary()
    ids start at 1, so the default 0 is reserved and unambiguous).

    Shape: posexplode keeps each token's position → broadcast-class join
    against the vocab (one build row per term — AQE broadcasts real
    vocabularies, and a hot token is one build row, no skew
    amplification) → one groupBy(doc) reassembles the sequence with
    ``array_sort`` over (pos, id) structs. The shuffle carries one row
    per token once, doc-keyed — the same contract as every per-doc
    aggregation here."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_array(text_col)).alias("pos", "term"),
    )
    joined = toks.join(
        vocab.select("term", F.col("term_id").cast("int").alias("_tid")),
        "term",
        "left",
    )
    tid = F.coalesce("_tid", F.lit(unk_id))
    return (
        joined.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), tid.alias("tid")))
                ),
                lambda s: s["tid"],
            ).alias("token_ids"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_tid").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unk"),
        )
    )


def save_bigram_lm(
    lm: DataFrame, ctx: DataFrame, vocab_size: int, path: str
) -> None:
    """Persist a trained bigram LM as parquet artifacts — the offline
    half of the CCNet deployment shape (train once on a clean reference
    corpus, gate many corpora/streams against it). Layout:
    ``<path>/lm`` (bigram, w1, logp), ``<path>/ctx`` (w1, c1),
    ``<path>/meta`` (one row: v, add-k baked into the logps)."""
    lm.write.mode("overwrite").parquet(f"{path}/lm")
    ctx.write.mode("overwrite").parquet(f"{path}/ctx")
    local_table(
        lm.sparkSession, [(int(vocab_size),)], "v long"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_bigram_lm(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    """Inverse of ``save_bigram_lm``; the returned triple feeds
    ``lm_perplexity`` (full backoff — a loaded model scores corpora it
    never saw)."""
    lm = spark.read.parquet(f"{path}/lm")
    ctx = spark.read.parquet(f"{path}/ctx")
    v = int(spark.read.parquet(f"{path}/meta").first()["v"])
    return lm, ctx, v


def ppl_buckets(
    scored: DataFrame,
    id_col: str = "doc_id",
    ppl_col: str = "ppl",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020): rank
    the corpus by (perplexity ASC, id) and split the ranking into
    ``n_buckets`` near-equal slices — bucket 1 is the head (most
    fluent), bucket n the tail. CCNet trains on the head/middle and
    holds the tail for inspection; the BUCKET label, not a hard drop,
    is the operator (filtering is one more predicate).

    Output: (id, ppl_rank, ppl_bucket). A NULL perplexity (the
    backoff=False loud-null contract) keeps its row with NULL
    rank/bucket — unrankable, not silently ranked last.

    Every decision is integer: rank comes from the skew-proof bucketed
    row_number (no SinglePartition pass over the corpus — floor(ppl)
    is the monotone bucket prefix of the (ppl, id) order), the corpus
    count attaches via the non-foldable zero-key broadcast join, and
    ``ppl_bucket = (rank−1)·n div total + 1`` — so both the rank and
    the bucket are cross-engine hashable."""
    from .rank import bucketed_row_number

    if n_buckets < 1:
        raise ValueError(
            f"ppl_buckets: n_buckets must be >= 1, got {n_buckets}"
        )
    rankable = scored.filter(F.col(ppl_col).isNotNull()).select(
        id_col, ppl_col
    )
    ranked = bucketed_row_number(
        rankable.withColumn("_pb", F.floor(F.col(ppl_col)).cast("long")),
        ["_pb"],
        [F.col(ppl_col).asc(), F.col(id_col).asc()],
        "ppl_rank",
    ).drop("_pb")
    total = rankable.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_total")
    ).withColumn("_zk", _zero_key("_n_total"))
    ranked = (
        ranked.withColumn("_zk", _zero_key(id_col))
        .join(F.broadcast(total), "_zk")
        .withColumn(
            "ppl_bucket",
            (
                F.expr(
                    f"CAST(((ppl_rank - 1) * {int(n_buckets)}) "
                    "div _n_total AS INT)"
                )
                + F.lit(1)
            ),
        )
        .select(id_col, "ppl_rank", "ppl_bucket")
    )
    return scored.select(id_col).join(ranked, id_col, "left")
