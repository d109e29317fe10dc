"""Unigram-LM subword tokenizer (SentencePiece-flavored, Kudo 2018
"Subword Regularization", §3) — the probabilistic sibling of BPE
(reference has no tokenizer at all; this extends the §2.2 LLM-pipeline
surface the same way operators/bpe.py does).

Shape of the algorithm (the paper's): seed a large candidate vocabulary
from substrings of the corpus word census, run EM rounds that
re-estimate piece probabilities from the census segmentations, prune to
the target vocabulary size, then encode by Viterbi (max-probability
segmentation). Two documented deviations keep every decision exactly
re-derivable by a second engine:

- **hard EM**: the E-step counts pieces along each word's single BEST
  segmentation (Viterbi path, freq-weighted) instead of the full
  forward-backward expectation — the standard fast approximation; and
- **count pruning**: the final cut keeps the ``vocab_size`` most-used
  multi-char pieces (count DESC, piece ASC) plus every single
  character, instead of the paper's likelihood-loss ranking.

Cross-engine contract (the x31/x33/k-means/BPE recipe, applied to the
fourth kind of trainer — probabilistic): log-probabilities live in
exact integer fixed point, ``lp = round_half_away(1e6 · ln(c/total))``
as BIGINT, so Viterbi scores are BIGINT sums with no float order
sensitivity; the best segmentation ties break on the space-joined piece
string ASC (prefix-substitution preserves lexicographic order here
because two distinct segmentations of the same prefix can never be
string-prefixes of each other — they cover the same characters with
spaces in different places); single characters carry a +1 count floor
every round (coverage — a char piece can never die, so any census word
stays segmentable). Training cost is bounded by the census
(``max_word_types``), never the corpus: the one corpus-scale pass is
the word census itself, and encode is per word TYPE through an
Arrow-batched pandas UDF with a memo (the BPE encode contract).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table
from .bpe import word_census

LOGP_FP = 10**6


def _round_half_away(x: float) -> int:
    """round-half-away-from-zero (Spark F.round / DuckDB round
    semantics — python's builtin round() is banker's and diverges at
    .5 boundaries)."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _logp_fp(c: int, total: int) -> int:
    return _round_half_away(LOGP_FP * math.log(c / total))


def _viterbi(
    word: str, model: dict[str, int], max_piece_len: int
) -> list[str] | None:
    """Best segmentation of ``word`` under ``model`` (piece → fixed-
    point logp): max BIGINT score, ties by space-joined piece string
    ASC. Returns None when no segmentation exists (some character is
    not a piece). DP carries (score, joined-string) per end position;
    the string tie-break composes under concatenation because two
    max-score prefixes of the same position are never prefixes of each
    other (same covered characters, different space positions)."""
    if not word:
        # dp[0]=(0,'') would make '' "segment" into one empty piece —
        # an empty word has an empty segmentation
        return []
    n = len(word)
    # dp[i] = (score, joined) for word[:i]
    dp: list[tuple[int, str] | None] = [None] * (n + 1)
    dp[0] = (0, "")
    for i in range(1, n + 1):
        best: tuple[int, str] | None = None
        for ln in range(1, min(max_piece_len, i) + 1):
            prev = dp[i - ln]
            if prev is None:
                continue
            lp = model.get(word[i - ln : i])
            if lp is None:
                continue
            seg = (
                word[i - ln : i]
                if prev[1] == ""
                else prev[1] + " " + word[i - ln : i]
            )
            cand = (prev[0] + lp, seg)
            if best is None or cand[0] > best[0] or (
                cand[0] == best[0] and cand[1] < best[1]
            ):
                best = cand
        dp[i] = best
    return dp[n][1].split(" ") if dp[n] is not None else None


def train_unigram(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 32,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 512,
    max_word_types: int = 1 << 16,
    em: str = "hard",
    count_dp: int | None = None,
    census: list[tuple[str, int]] | None = None,
) -> dict[str, int]:
    """Train the unigram-LM piece table; returns piece → fixed-point
    logp (BIGINT scale ``LOGP_FP``). One distributed corpus pass (the
    word census); everything after is driver-side over the BOUNDED
    census, like ``bpe.train_bpe``.

    ``vocab_size`` counts MULTI-char pieces — every single character
    survives unconditionally (coverage guarantee).

    ``em="hard"`` (default) counts pieces along each word's Viterbi
    path — every decision integer/string-deterministic, which is what
    lets the registry oracle re-derive training end-to-end.
    ``em="soft"`` runs the paper's true E-step (forward-backward
    expected counts over ALL segmentations — pytest-pinned against a
    brute-force enumeration). Raw float posteriors are deterministic on
    one driver but not cross-engine hashable; pass ``count_dp`` (round
    9) to quantize each round's AGGREGATED expected counts to integer
    fixed point (``round_half_away(count · 10^dp)``, coverage floor
    ``10^dp``, pieces whose mass quantizes to zero drop — a quantized
    prune), after which every M-step consumes exact BIGINTs and the
    soft model is registry-eligible: summation-order / libm noise in
    the posteriors (~1e-10 absolute on freq-weighted counts) vanishes
    below the 10^-dp quantum, the same contract as the five other
    trainers. The x28 oracle re-derives it cross-ALGORITHM: DuckDB
    enumerates all segmentations per census word and folds
    exp(score/1e6) directly, vs this forward-backward lattice."""
    if vocab_size < 1 or n_rounds < 1 or max_piece_len < 1:
        raise ValueError("train_unigram: sizes/rounds must be >= 1")
    if em not in ("hard", "soft"):
        raise ValueError(f"train_unigram: em must be hard|soft, got {em!r}")
    if count_dp is not None and em != "soft":
        raise ValueError("train_unigram: count_dp only applies to em='soft'")
    if census is None:
        # share one collect across co-trained tokenizers via census=
        # (the train_bpe contract)
        rows = word_census(df, text_col, max_word_types).collect()
        census = [(r["word"], int(r["freq"])) for r in rows]
    return _train_unigram_census(
        census, vocab_size, n_rounds, max_piece_len, seed_size, em=em,
        count_dp=count_dp,
    )


def _soft_expected_counts(
    word: str, freq: int, model: dict[str, int], max_piece_len: int
) -> dict[str, float]:
    """Forward-backward expected piece counts over ALL segmentations of
    ``word`` under ``model`` (the Kudo 2018 E-step with binary lattice
    edges): E[count(p)] = Σ_{edges (j,i)=p} α_j · P(p) · β_i / Z, scaled
    by the word's corpus frequency. Probabilities come back from fixed
    point via exp(lp/1e6)."""
    n = len(word)
    if n == 0:
        return {}
    ninf = float("-inf")

    def lp(j: int, i: int) -> float | None:
        v = model.get(word[j:i])
        return v / LOGP_FP if v is not None else None

    def lse(acc: float, x: float) -> float:
        # streaming logsumexp — the lattice runs in LOG space so long
        # census words cannot underflow alpha[n] to 0 and silently drop
        # their frequency mass (linear-space probs die near ~350 pieces)
        if acc == ninf:
            return x
        hi, lo = (acc, x) if acc >= x else (x, acc)
        return hi + math.log1p(math.exp(lo - hi))

    alpha = [ninf] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        s = ninf
        for ln in range(1, min(max_piece_len, i) + 1):
            e = lp(i - ln, i)
            if e is not None and alpha[i - ln] != ninf:
                s = lse(s, alpha[i - ln] + e)
        alpha[i] = s
    beta = [ninf] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        s = ninf
        for ln in range(1, min(max_piece_len, n - i) + 1):
            e = lp(i, i + ln)
            if e is not None and beta[i + ln] != ninf:
                s = lse(s, e + beta[i + ln])
        beta[i] = s
    z = alpha[n]
    out: dict[str, float] = {}
    if z == ninf:
        return out
    for j in range(n):
        for ln in range(1, min(max_piece_len, n - j) + 1):
            e = lp(j, j + ln)
            if e is None or alpha[j] == ninf or beta[j + ln] == ninf:
                continue
            post = math.exp(alpha[j] + e + beta[j + ln] - z)
            if post > 0.0:
                piece = word[j : j + ln]
                out[piece] = out.get(piece, 0.0) + post * freq
    return out


def _train_unigram_census(
    census: list[tuple[str, int]],
    vocab_size: int,
    n_rounds: int,
    max_piece_len: int,
    seed_size: int,
    em: str = "hard",
    count_dp: int | None = None,
) -> dict[str, int]:
    """Spark-free trainer over a (word, freq) census (the oracle
    re-derives exactly this function end-to-end in SQL)."""
    # seed: every substring up to max_piece_len, scored by the freq-
    # weighted count of its occurrences (all start positions)
    scores: dict[str, int] = {}
    for w, f in census:
        n = len(w)
        for i in range(n):
            for ln in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + ln]
                scores[p] = scores.get(p, 0) + f
    if not scores:
        return {}
    singles = sorted(p for p in scores if len(p) == 1)
    multis = sorted(
        (p for p in scores if len(p) > 1),
        key=lambda p: (-scores[p], p),
    )[:seed_size]
    vocab = set(singles) | set(multis)
    total = sum(scores[p] for p in vocab)
    model = {p: _logp_fp(scores[p], total) for p in vocab}

    counts: dict[str, float] = {}
    for _ in range(n_rounds):
        counts = {}
        if em == "hard":
            # hard E-step: freq-weighted piece counts along best paths
            for w, f in census:
                seg = _viterbi(w, model, max_piece_len)
                if seg is None:  # unreachable: singles never die
                    seg = list(w)
                for p in seg:
                    counts[p] = counts.get(p, 0) + f
        else:
            # soft E-step: forward-backward expected counts over all
            # segmentations (the paper's EM; float posteriors)
            for w, f in census:
                for p, c in _soft_expected_counts(
                    w, f, model, max_piece_len
                ).items():
                    counts[p] = counts.get(p, 0.0) + c
        if em == "soft" and count_dp is not None:
            # quantize the round's AGGREGATED expected counts to
            # integer fixed point (cross-engine contract, see
            # train_unigram); zero-quantized pieces drop here so the
            # M-step never takes ln(0)
            scale = 10**count_dp
            counts = {
                p: q
                for p, c in counts.items()
                if (q := _round_half_away(c * scale)) > 0
            }
            floor = scale
        else:
            floor = 1
        # coverage floor on every alphabet char (a char piece never dies)
        for c in singles:
            counts[c] = counts.get(c, 0) + floor
        tot = sum(counts.values())
        # M-step (pieces with zero count drop out — hard-EM prune;
        # unquantized soft counts are strictly positive on every
        # lattice edge; quantized soft counts were floored above)
        model = {p: _logp_fp(c, tot) for p, c in counts.items()}

    keep_multi = sorted(
        (p for p in model if len(p) > 1),
        key=lambda p: (-counts[p], p),
    )[:vocab_size]
    return {
        p: lp
        for p, lp in model.items()
        if len(p) == 1 or p in set(keep_multi)
    }


def unigram_model_fp8(model: dict[str, int]) -> str:
    """8-hex fingerprint of the trained table (piece ASC, ``p:lp``
    joined by ``|``) — one wrong probability anywhere changes it."""
    s = "|".join(f"{p}:{model[p]}" for p in sorted(model))
    return hashlib.md5(s.encode()).hexdigest()[:8]


def unigram_encode_word_types(
    words: DataFrame,
    model: dict[str, int],
    word_col: str = "word",
    max_piece_len: int | None = None,
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Viterbi-encode DISTINCT word types under a trained table:
    (word, pieces array<string>) plus, with ``piece_ids``, an ``ids``
    array<int> (unknown pieces → 0). Arrow-batched pandas UDF with a
    per-batch memo; the model ships in the closure (vocab-bounded — the
    same bounded-side-data contract as ``bpe.encode_word_types``). A
    word containing a character outside the model falls back to its
    plain character list (len(word) pieces) — the rule the oracle
    replicates with ``coalesce(np, length(word))``."""
    from pyspark.sql.functions import pandas_udf

    mdl = dict(model)
    # default: derive the window from the model itself — a piece longer
    # than every model piece can never match, and hard-coding the
    # training-time default would silently dead-letter longer pieces in
    # a pretrained artifact (save_unigram round-trip)
    mpl = (
        int(max_piece_len)
        if max_piece_len is not None
        else max((len(p) for p in mdl), default=1)
    )
    ids = dict(piece_ids) if piece_ids is not None else None

    @pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                seg = _viterbi(w, mdl, mpl)
                got = memo[w] = seg if seg is not None else list(w)
            return got

        return s.map(one)

    out = words.withColumn("pieces", enc(F.col(word_col)))
    if ids is None:
        return out

    @pandas_udf("array<int>")
    def to_ids(s: pd.Series) -> pd.Series:
        return s.map(lambda ps: [ids.get(p, 0) for p in ps])

    return out.withColumn("ids", to_ids(F.col("pieces")))


def unigram_piece_id_map(model: dict[str, int]) -> dict[str, int]:
    """piece → 1-based id: single characters first (ASC), then
    multi-char pieces by probability DESC (logp DESC) with piece-ASC
    ties — id 0 stays the unk/pad reservation (the
    ``relevance.vocabulary`` / ``bpe.piece_id_map`` convention)."""
    singles = sorted(p for p in model if len(p) == 1)
    multis = sorted(
        (p for p in model if len(p) > 1), key=lambda p: (-model[p], p)
    )
    return {p: i + 1 for i, p in enumerate(singles + multis)}


def unigram_vocabulary(spark, model: dict[str, int]) -> DataFrame:
    """``unigram_piece_id_map`` as a (piece, piece_id, logp_fp) frame —
    the persistable artifact form."""
    ids = unigram_piece_id_map(model)
    return local_table(
        spark,
        sorted(
            ((p, i, model[p]) for p, i in ids.items()),
            key=lambda row: row[1],
        ),
        "piece string, piece_id int, logp_fp long",
    )


def save_unigram(spark, model: dict[str, int], path: str) -> None:
    """Persist a trained unigram table as a parquet artifact (the
    ``save_bpe`` deployment shape: train once, encode many corpora):
    ``<path>/pieces`` carries (piece, piece_id, logp_fp)."""
    unigram_vocabulary(spark, model).write.mode("overwrite").parquet(
        f"{path}/pieces"
    )


def load_unigram(spark, path: str) -> dict[str, int]:
    """Inverse of ``save_unigram`` (ids are re-derivable from the
    table via ``unigram_piece_id_map``)."""
    return {
        r["piece"]: int(r["logp_fp"])
        for r in spark.read.parquet(f"{path}/pieces").collect()
    }


def apply_unigram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict[str, int],
    max_piece_len: int | None = None,
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Tokenize documents into unigram-LM piece sequences: (id, pieces
    in original order, n_words, n_pieces) and, with ``piece_ids``, a
    parallel ``piece_token_ids`` array<int> — the probabilistic sibling
    of ``bpe.apply_bpe`` with the identical scale shape: one posexplode,
    Python work once per DISTINCT word type, one join back (AQE
    broadcasts real vocabularies), one per-doc reassembly; token-less
    docs survive with empty arrays."""
    from ..functions.text import tokens_array

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_array(text_col)).alias("pos", "word"),
    )
    enc = unigram_encode_word_types(
        toks.select("word").distinct(), model,
        max_piece_len=max_piece_len, piece_ids=piece_ids,
    )
    from .bpe import _apply_encoded_types

    return _apply_encoded_types(df, id_col, toks, enc, piece_ids is not None)
