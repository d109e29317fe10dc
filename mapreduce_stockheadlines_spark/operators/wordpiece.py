"""WordPiece tokenizer: likelihood-scored merges + greedy
longest-match encoding — the third subword family next to BPE
(operators/bpe.py) and unigram-LM (operators/unigram.py), completing
the set every production tokenizer stack draws from (Schuster &
Nakajima 2012; the BERT/HuggingFace trainer formulation).

What distinguishes it from BPE is the MERGE SCORE: BPE merges the most
FREQUENT adjacent pair; WordPiece merges the pair maximizing the
likelihood gain

    score(a, b) = count(ab) / (count(a) · count(b))

— a frequent pair of two very frequent symbols can lose to a rarer
pair whose parts occur almost nowhere else (the property pinned in
tests: same corpus, different first merge than BPE). Continuation
symbols carry the ``##`` prefix ('hello' → h ##e ##l ##l ##o), and
ENCODING is not merge replay but greedy longest-match against the
final vocabulary (the WordPiece/BERT algorithm): repeatedly take the
longest vocabulary piece that prefixes the remainder; a word with no
match anywhere becomes the single ``[UNK]`` piece.

Cross-engine determinism contract: the score is computed as
``float(c_ab) / (float(c_a) * float(c_b))`` — cast, cast, multiply,
divide, each IEEE-correctly-rounded — which is the exact op sequence
of SQL's ``CAST(.. AS DOUBLE) / (CAST(.. AS DOUBLE) * CAST(.. AS
DOUBLE))``, so CPython and DuckDB produce bit-identical scores at any
count magnitude; ties break on the pair's lexical order. That makes
the trainer a pure function of the census that SQL can replay (the
x28 unrolled-CTE recipe), without the fixed-point quantization the
probabilistic trainers need.

Scale shape (100 TB contract): identical to BPE — ONE corpus-scale
census pass (``bpe.word_census``: tokenize+explode, map-side partial
agg, TakeOrdered truncation to the Zipf head), a driver-side merge
loop over the BOUNDED census (inherently sequential; a "distributed"
trainer is num_merges tiny jobs — strictly slower), and word-TYPE
encoding (distinct types through one Arrow pandas UDF with a memo,
broadcast-class join back; cost ∝ types, not corpus rows).

No reference counterpart (reference is word-level only:
/root/reference/src/WordCount.java); §2.2 LLM-pipeline surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table
from .bpe import word_census

__all__ = [
    "train_wordpiece",
    "encode_word_types_wp",
    "apply_wordpiece",
    "wordpiece_piece_id_map",
    "wordpiece_vocab_fp8",
    "save_wordpiece",
    "load_wordpiece",
]

UNK = "[UNK]"
_CONT = "##"


def _wp_seq(word: str) -> list[str]:
    """Initial segmentation: first char bare, the rest ##-prefixed."""
    return [word[0]] + [_CONT + c for c in word[1:]]


def _wp_join(a: str, b: str) -> str:
    """The merged symbol: b's continuation marker folds into a (which
    keeps its own marker if it has one)."""
    return a + (b[len(_CONT):] if b.startswith(_CONT) else b)


def _train_wordpiece(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> tuple[list[tuple[str, str]], list[str]]:
    """Spark-free merge loop over a (word, freq) census — BPE's
    inverted-index incremental algorithm with the WordPiece score.
    Returns (merges, alphabet); the vocabulary is alphabet order then
    merge order (``train_wordpiece`` assembles it).

    Both pair counts AND symbol counts update incrementally; a merge
    changes c(a), c(b) and c(ab), which reprices EVERY pair touching
    those symbols — but since the score is recomputed from the count
    tables at selection time (not cached), only the counts need
    maintenance, exactly as in the BPE loop."""
    from collections import defaultdict

    seqs = [_wp_seq(w) for w, _ in word_freqs if w]
    freqs = [int(f) for (w, f) in word_freqs if w]
    alphabet = sorted({s for seq in seqs for s in seq})

    pair_c: dict[tuple[str, str], int] = defaultdict(int)
    sym_c: dict[str, int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, seq in enumerate(seqs):
        for s in seq:
            sym_c[s] += freqs[i]
        for p in zip(seq, seq[1:]):
            pair_c[p] += freqs[i]
            where[p].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        # score with EXPLICIT double conversions — float(c) / (float(ca)
        # * float(cb)) is the exact IEEE op sequence DuckDB's
        # CAST(...AS DOUBLE) replay performs (cast, cast, multiply,
        # divide — each correctly rounded), so the two engines agree at
        # ANY count magnitude, not just below 2^53 where int math is
        # exactly representable
        live = [
            (-(float(c) / (float(sym_c[p[0]]) * float(sym_c[p[1]]))), p)
            for p, c in pair_c.items()
            if c > 0
        ]
        if not live:
            break
        best = min(live)[1]
        merges.append(best)
        for i in where.pop(best, ()):
            seq, f = seqs[i], freqs[i]
            if best not in zip(seq, seq[1:]):
                continue  # stale index entry
            for s in seq:
                sym_c[s] -= f
            for p in zip(seq, seq[1:]):
                pair_c[p] -= f
            seqs[i] = seq = _merge_wp_seq(seq, *best)
            for s in seq:
                sym_c[s] += f
            for p in zip(seq, seq[1:]):
                pair_c[p] += f
                where[p].add(i)
        pair_c.pop(best, None)
    return merges, alphabet


def _merge_wp_seq(seq: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right merge of every (a, b) occurrence, with the
    WordPiece symbol join."""
    out: list[str] = []
    j, n = 0, len(seq)
    while j < n:
        if j < n - 1 and seq[j] == a and seq[j + 1] == b:
            out.append(_wp_join(a, b))
            j += 2
        else:
            out.append(seq[j])
            j += 1
    return out


def train_wordpiece(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    max_word_types: int = 1 << 16,
    census: list[tuple[str, int]] | None = None,
) -> tuple[list[str], list[tuple[str, str]], list[str]]:
    """Learn a WordPiece vocabulary from the corpus. Returns
    ``(vocab, merges, alphabet)``: vocab is the ENCODING table —
    alphabet pieces in sorted order, then each merge's joined symbol in
    learned order (first occurrence wins on the rare collision where a
    later merge re-creates an existing piece).

    ``census``: a pre-collected (word, freq) list — share one
    ``word_census`` collect across co-trained tokenizers (the
    train_bpe contract)."""
    if census is None:
        rows = word_census(df, text_col, max_word_types).collect()
        census = [(r["word"], int(r["freq"])) for r in rows]
    merges, alphabet = _train_wordpiece(census, num_merges)
    vocab: list[str] = []
    seen: set[str] = set()
    for p in list(alphabet) + [_wp_join(a, b) for a, b in merges]:
        if p not in seen:
            seen.add(p)
            vocab.append(p)
    return vocab, merges, alphabet


#: BERT's ``max_input_chars_per_word``: a word longer than this is
#: [UNK] outright. Besides matching the reference tokenizer, the cap
#: bounds the greedy walk — without it one pathological multi-KB token
#: type costs O(len^2) vocab probes inside the Arrow UDF (round-10
#: review finding). The x28 SQL twin mirrors the cap in its ``wpnp``
#: piece-count CTE so the two engines agree on capped words too.
MAX_WORD_CHARS = 100


def _encode_word_wp(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first segmentation (the BERT WordPiece
    algorithm): at each position take the LONGEST vocabulary piece
    prefixing the remainder (##-prefixed after the first piece); if no
    piece matches at any position — or the word exceeds
    ``MAX_WORD_CHARS`` — the whole word is ``[UNK]``."""
    if len(word) > MAX_WORD_CHARS:
        return [UNK]
    pieces: list[str] = []
    i, n = 0, len(word)
    while i < n:
        end = n
        cur = None
        while end > i:
            sub = word[i:end]
            if i > 0:
                sub = _CONT + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return [UNK]
        pieces.append(cur)
        i = end
    return pieces


def wordpiece_piece_id_map(vocab: list[str]) -> dict[str, int]:
    """piece → 1-based id in vocabulary order (alphabet then merges) —
    the ``bpe.piece_id_map`` layout. 0 stays the unk/pad reservation,
    which is exactly where the greedy encoder's ``[UNK]`` piece lands
    (absent from the map → id 0)."""
    return {p: i + 1 for i, p in enumerate(vocab)}


def encode_word_types_wp(
    words: DataFrame,
    vocab: list[str],
    word_col: str = "word",
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Encode DISTINCT word types by greedy longest match: (word,
    pieces array<string>) plus, with ``piece_ids``
    (a ``wordpiece_piece_id_map``), (..., ids array<int>) with unknown
    pieces → 0. Arrow-batched scalar pandas UDF with a per-batch memo;
    the vocab set ships in the closure — bounded by
    alphabet+num_merges entries, the broadcast-class side-data
    contract shared with ``bpe.encode_word_types``."""
    from pyspark.sql.functions import pandas_udf

    vset = set(vocab)
    ids = dict(piece_ids) if piece_ids is not None else None

    @pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                got = memo[w] = _encode_word_wp(w, vset)
            return got

        return s.map(one)

    out = words.withColumn("pieces", enc(F.col(word_col)))
    if ids is None:
        return out

    @pandas_udf("array<int>")
    def to_ids(s: pd.Series) -> pd.Series:
        return s.map(lambda ps: [ids.get(p, 0) for p in ps])

    return out.withColumn("ids", to_ids(F.col("pieces")))


def apply_wordpiece(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: list[str],
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Tokenize documents into WordPiece piece sequences: (id, pieces
    in original order, n_words, n_pieces) and, with ``piece_ids``, a
    parallel ``piece_token_ids`` array<int> — the greedy-longest-match
    sibling of ``bpe.apply_bpe`` with the identical scale shape (one
    posexplode, Python work once per DISTINCT type, one join back,
    shared per-doc reassembly); token-less docs survive with empty
    arrays."""
    from ..functions.text import tokens_array

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_array(text_col)).alias("pos", "word"),
    )
    enc = encode_word_types_wp(
        toks.select("word").distinct(), vocab, piece_ids=piece_ids
    )
    from .bpe import _apply_encoded_types

    return _apply_encoded_types(df, id_col, toks, enc, piece_ids is not None)


def wordpiece_vocab_fp8(vocab: list[str]) -> str:
    """md5 prefix of the ordered piece list — one wrong merge, score or
    ordering anywhere changes the fingerprint (the bpe_merges_fp8
    contract)."""
    import hashlib

    return hashlib.md5("|".join(vocab).encode()).hexdigest()[:8]


def save_wordpiece(spark, vocab: list[str], path: str) -> None:
    """Persist a trained WordPiece vocabulary as a parquet artifact
    (the save_bpe/save_bigram_lm deployment shape: train once, encode
    many corpora): ``<path>/vocab`` (ord, piece) — ord is the encoding
    table's order (alphabet then merges), which the fingerprint hashes."""
    local_table(
        spark, list(enumerate(vocab)), "ord int, piece string"
    ).write.mode("overwrite").parquet(f"{path}/vocab")


def load_wordpiece(spark, path: str) -> list[str]:
    """Inverse of ``save_wordpiece``."""
    return [
        r["piece"]
        for r in spark.read.parquet(f"{path}/vocab").orderBy("ord").collect()
    ]
