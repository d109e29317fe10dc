"""Byte-pair-encoding tokenizer: train on a distributed word census,
encode by word TYPE — the subword-tokenizer step of a training-data
pipeline (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"), built on the engine's word-level
``relevance.vocabulary`` / ``apply_vocabulary`` pair.

Scale shape (100 TB contract):

- **Census** (the only corpus-scale pass): one tokenize+explode and one
  word-keyed aggregation with map-side partials, truncated to the
  ``max_word_types`` most frequent types via ``orderBy().limit()``
  (TakeOrderedAndProject — per-partition heaps, no global sort). The
  Zipf head this keeps covers essentially all token mass; the same
  truncation every production tokenizer trainer applies.
- **Training** runs driver-side over that BOUNDED census — the same
  bounded-collect contract as ``rank.bucketed_row_number`` offsets and
  the k-means partials in ``similarity``. This is deliberate: the merge
  loop is inherently sequential (merge N+1's counts depend on merge N),
  so a "distributed" trainer is ``num_merges`` tiny Spark jobs over a
  vocab-sized table — strictly slower in every regime. The incremental
  pair-count implementation (only words containing the merged pair are
  touched, via an inverted index) is the subword-nmt algorithm.
- **Encoding** is word-TYPE-scoped: the corpus tokenizes once, the
  DISTINCT word types (vocab-sized) stream through one Arrow-batched
  pandas UDF with a per-batch memo, and the result joins back to the
  (doc, pos, word) stream — encode cost is ∝ distinct types, not corpus
  rows, and the corpus-side work is one broadcast-class join (one build
  row per type; a hot word is one build row, no skew amplification)
  plus the standard per-doc reassembly aggregation.

Determinism: merge selection breaks count ties on the pair's lexical
order; encode applies merges by rank (lowest first, all occurrences
left-to-right), which reproduces the training-time segmentation for
every census word (property-pinned in tests).

No reference counterpart (reference is word-level only:
/root/reference/src/WordCount.java); this is §2.2 LLM-pipeline surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_array
from ..session import local_table

__all__ = [
    "word_census",
    "train_bpe",
    "bpe_vocabulary",
    "piece_id_map",
    "encode_word_types",
    "apply_bpe",
    "save_bpe",
    "load_bpe",
]

_EOW = "</w>"  # end-of-word sentinel; cannot collide: tokens are [a-z]+


def word_census(
    df: DataFrame, text_col: str, max_word_types: int = 1 << 16
) -> DataFrame:
    """(word, freq) for the ``max_word_types`` most frequent word types
    (freq DESC, word ASC — deterministic truncation). The one
    corpus-scale pass of BPE training."""
    freqs = (
        df.select(F.explode(tokens_array(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return freqs.orderBy(F.desc("freq"), F.asc("word")).limit(max_word_types)


def _merge_seq(seq: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right merge of every (a, b) occurrence."""
    out: list[str] = []
    j, n = 0, len(seq)
    while j < n:
        if j < n - 1 and seq[j] == a and seq[j + 1] == b:
            out.append(a + b)
            j += 2
        else:
            out.append(seq[j])
            j += 1
    return out


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    max_word_types: int = 1 << 16,
    census: list[tuple[str, int]] | None = None,
) -> tuple[list[tuple[str, str]], list[str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns
    ``(merges, alphabet)``: merges in learned order (their index IS the
    merge rank), alphabet the sorted initial symbols (characters +
    the end-of-word sentinel).

    Stops early if the corpus runs out of co-occurring pairs. Ties in
    pair frequency break on the pair's lexical order, so the model is a
    pure function of the census.

    ``census``: a pre-collected (word, freq) list — when several
    trainers run over the same corpus (the x28 shape: BPE + WordPiece
    + two unigram-EM variants), collect ``word_census`` ONCE and pass
    it to all of them; without it each trainer pays its own
    tokenize+explode+census pass (the ``grams=`` sharing contract of
    train_bigram_lm, applied to the census)."""
    if census is None:
        rows = word_census(df, text_col, max_word_types).collect()
        census = [(r["word"], int(r["freq"])) for r in rows]
    return _train_merges(census, num_merges)


def _train_merges(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> tuple[list[tuple[str, str]], list[str]]:
    """Spark-free merge loop over a (word, freq) census — the
    subword-nmt incremental algorithm (property-pinned in tests against
    a full-recount reference)."""
    from collections import defaultdict

    seqs = [list(w) + [_EOW] for w, _ in word_freqs]
    freqs = [int(f) for _, f in word_freqs]
    alphabet = sorted({s for seq in seqs for s in seq})

    counts: dict[tuple[str, str], int] = defaultdict(int)
    # inverted index pair -> word idxs; entries go stale after merges
    # touch a word (never cleaned — supersets are safe, each use
    # re-checks the word's current symbols)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, seq in enumerate(seqs):
        for p in zip(seq, seq[1:]):
            counts[p] += freqs[i]
            where[p].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        live = [(c, p) for p, c in counts.items() if c > 0]
        if not live:
            break
        best = min(live, key=lambda cp: (-cp[0], cp[1]))[1]
        merges.append(best)
        for i in where.pop(best, ()):
            seq, f = seqs[i], freqs[i]
            if best not in zip(seq, seq[1:]):
                continue  # stale index entry
            for p in zip(seq, seq[1:]):
                counts[p] -= f
            seqs[i] = seq = _merge_seq(seq, *best)
            for p in zip(seq, seq[1:]):
                counts[p] += f
                where[p].add(i)
        counts.pop(best, None)
    return merges, alphabet


def piece_id_map(
    merges: list[tuple[str, str]], alphabet: list[str]
) -> dict[str, int]:
    """piece → 1-based id: the alphabet in given order, then each
    merge's joined symbol in merge order — the standard BPE vocab
    layout. 0 stays the unk/pad reservation (matching
    ``relevance.vocabulary``); a merged symbol equal to an earlier
    piece keeps the first id."""
    ids: dict[str, int] = {}
    for p in list(alphabet) + [a + b for a, b in merges]:
        if p not in ids:
            ids[p] = len(ids) + 1
    return ids


def bpe_vocabulary(
    spark: SparkSession,
    merges: list[tuple[str, str]],
    alphabet: list[str],
) -> DataFrame:
    """``piece_id_map`` as a (piece, piece_id) DataFrame."""
    ids = piece_id_map(merges, alphabet)
    return local_table(
        spark,
        sorted(ids.items(), key=lambda kv: kv[1]),
        "piece string, piece_id int",
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word: repeatedly merge the lowest-rank adjacent pair
    (all occurrences, left-to-right) until none remains in the table.
    Equivalent to replaying the merges in rank order, so census words
    reproduce their training-time segmentation."""
    seq = list(word) + [_EOW]
    while len(seq) > 1:
        ranked = [
            (r, p)
            for p in set(zip(seq, seq[1:]))
            if (r := ranks.get(p)) is not None
        ]
        if not ranked:
            break
        seq = _merge_seq(seq, *min(ranked)[1])
    return seq


def encode_word_types(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Encode DISTINCT word types: (word, pieces array<string>) plus,
    when ``piece_ids`` is given (a ``bpe_vocabulary`` mapping),
    (..., ids array<int>) with unknown pieces → 0.

    Arrow-batched scalar pandas UDF with a per-batch memo (the input is
    already distinct across the table, but Zipf means batches of a
    NON-distinct stream would repeat — callers may reuse this on raw
    token streams too). The ranks table ships in the UDF closure —
    bounded by ``num_merges`` entries, a few hundred KB at tokenizer
    scale; the same bounded-side-data contract as a broadcast dim."""
    from pyspark.sql.functions import pandas_udf

    ranks = {p: i for i, p in enumerate(merges)}
    ids = dict(piece_ids) if piece_ids is not None else None

    @pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                got = memo[w] = _encode_word(w, ranks)
            return got

        return s.map(one)

    out = words.withColumn("pieces", enc(F.col(word_col)))
    if ids is None:
        return out

    @pandas_udf("array<int>")
    def to_ids(s: pd.Series) -> pd.Series:
        return s.map(lambda ps: [ids.get(p, 0) for p in ps])

    return out.withColumn("ids", to_ids(F.col("pieces")))


def apply_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    piece_ids: dict[str, int] | None = None,
) -> DataFrame:
    """Tokenize documents into BPE piece sequences: (id, pieces
    array<string> in original order, n_words, n_pieces) and, with
    ``piece_ids``, a parallel ``piece_token_ids`` array<int> — the
    subword counterpart of ``relevance.apply_vocabulary``.

    Shape: posexplode the token stream once → encode the DISTINCT word
    types (vocab-sized, the expensive Python work happens once per
    type) → join the encodings back (one build row per type — AQE
    broadcasts real vocabularies; a hot word is one build row) → one
    per-doc reassembly aggregation over (pos, pieces) structs with
    flatten. Token-less docs survive with empty arrays (left-join
    restore, the ``duplicated_window_fraction`` pattern)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_array(text_col)).alias("pos", "word"),
    )
    enc = encode_word_types(
        toks.select("word").distinct(), merges, piece_ids=piece_ids
    )
    return _apply_encoded_types(df, id_col, toks, enc, piece_ids is not None)


def _apply_encoded_types(
    df: DataFrame,
    id_col: str,
    toks: DataFrame,
    enc: DataFrame,
    with_ids: bool,
) -> DataFrame:
    """Shared reassembly for word-TYPE-scoped subword encoders
    (BPE/WordPiece/unigram callers): join encodings back to the
    (id, pos, word) stream, rebuild per-doc piece sequences in token
    order, restore token-less docs with empty arrays. ``enc`` carries
    (word, pieces[, ids])."""
    joined = toks.join(enc, "word")
    piece_seq = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("pieces")))),
            lambda s: s["pieces"],
        )
    )
    aggs = [
        piece_seq.alias("pieces"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    ]
    if with_ids:
        aggs.append(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("ids")))
                    ),
                    lambda s: s["ids"],
                )
            ).alias("piece_token_ids")
        )
    per_doc = joined.groupBy(id_col).agg(*aggs).withColumn(
        "n_pieces", F.size("pieces").cast("bigint")
    )
    restored = df.select(id_col).join(per_doc, id_col, "left")
    fills = {
        "pieces": F.coalesce("pieces", F.array().cast("array<string>")),
        "n_words": F.coalesce("n_words", F.lit(0).cast("bigint")),
        "n_pieces": F.coalesce("n_pieces", F.lit(0).cast("bigint")),
    }
    if with_ids:
        fills["piece_token_ids"] = F.coalesce(
            "piece_token_ids", F.array().cast("array<int>")
        )
    for c, e in fills.items():
        restored = restored.withColumn(c, e)
    return restored


def save_bpe(
    spark: SparkSession,
    merges: list[tuple[str, str]],
    alphabet: list[str],
    path: str,
) -> None:
    """Persist a trained BPE model as parquet artifacts (the
    ``save_bigram_lm`` deployment shape: train once, encode many
    corpora): ``<path>/merges`` (rank, left, right) and
    ``<path>/alphabet`` (pos, symbol)."""
    local_table(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).write.mode("overwrite").parquet(f"{path}/merges")
    local_table(
        spark, list(enumerate(alphabet)), "pos int, symbol string"
    ).write.mode("overwrite").parquet(f"{path}/alphabet")


def load_bpe(
    spark: SparkSession, path: str
) -> tuple[list[tuple[str, str]], list[str]]:
    """Inverse of ``save_bpe``."""
    merges = [
        (r["left"], r["right"])
        for r in spark.read.parquet(f"{path}/merges")
        .orderBy("rank")
        .collect()
    ]
    alphabet = [
        r["symbol"]
        for r in spark.read.parquet(f"{path}/alphabet")
        .orderBy("pos")
        .collect()
    ]
    return merges, alphabet
