"""LLM-data-pipeline extension queries (§2.2 'Planned'; BASELINE.json
north-star): dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard /
embedding near-dup), similarity search, multimodal plumbing, text analysis,
streaming-analogue windows.

Everything deterministic enough to cross-check runs against a DuckDB
oracle, including MinHash (portable md5-lexmin construction) and SimHash
(portable md5-bit construction — see operators/dedup.py). Only the
approximate-sketch query (x16) keeps its approx outputs out of the hash:
it hash-checks a tolerance CONTRACT (exact values + within-bound flags)
instead.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS
from ..operators import dedup as D
from ..operators import embeddings as EB
from ..operators import merge as MG
from ..operators import multimodal as M
from ..operators import relevance as RV
from ..operators import robots as RB
from ..operators import sampling as SP
from ..operators import similarity as S
from ..operators import packing as PK
from ..operators import skew as SK
from ..operators import textstats as TS
from ..session import local_table
from .catalog import parallel_table, table
from .core import QuerySpec


def _mark(sink: "dict | None", name: str, t0: float) -> float:
    """Stage attribution for the fat x-queries (round-10 — VERDICT r9
    'What's wrong' #1: per-operator wall time stopped being observable
    from BENCH once x27/x28/x31/x32 grew multiple co-trained stages).
    The trainers run EAGERLY inside these builders (collects,
    localCheckpoints, unrolled Lloyd/EM rounds), so attribution has to
    happen here: record the wall time since ``t0`` under ``name`` when
    a sink dict is passed (bench.py's stage pass) and return a fresh
    t0. The registry/driver path passes no sink — two clock reads of
    overhead, no behavior change. The lazy assembly's cost lands in
    bench's ``execute`` entry."""
    import time

    now = time.time()
    if sink is not None:
        sink[name] = round(now - t0, 3)
    return now


def _overlap(*thunks):
    """Run independent EAGER builder stages as concurrently-submitted
    Spark jobs (optimization guide §2.6: actions are only sequential
    because the driver calls them sequentially — the scheduler happily
    runs several jobs at once, and FIFO scheduling back-fills executor
    slots freed by another job's stragglers). Returns results in thunk
    order.

    Correctness: safe exactly when each thunk's RESULT is independent
    of the others and partitioning/scheduling-invariant — true of every
    caller here by construction (the quantized-trainer contracts make
    each stage a pure function of its input row set, which is why the
    DuckDB oracle can re-derive them at all). Plan dumps stay
    reproducible: expression-id ALLOCATION order varies across threads,
    but dump_plans normalizes ids by first appearance in the final plan
    text, which is thread-invariant.

    Scale note: this is not a local[32] trick — on a cluster the same
    overlap fills the idle tail of each iterative stage's last tasks
    with the sibling stage's work (guide §2.6's ThreadPoolExecutor
    pattern verbatim). Sizing: len(thunks) concurrent jobs, which is
    2-4 at every call site — enough to fill stragglers, not enough to
    thrash the scheduler."""
    from concurrent.futures import (
        FIRST_EXCEPTION,
        ThreadPoolExecutor,
        wait,
    )

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        # fail fast (ADVICE r12): when one stage dies, don't let its
        # corpus-scale siblings run to completion before re-raising —
        # cancel what hasn't started and surface the first error now
        # (running siblings still drain; Spark jobs are not
        # interruptible mid-action without a job group, and these
        # builders share the session's default group)
        done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
        first_err = next(
            (f.exception() for f in futures if f in done and f.exception()),
            None,
        )
        if first_err is not None:
            for f in not_done:
                f.cancel()
            raise first_err
        return [f.result() for f in futures]


def _probe(sink: "dict | None", name: str, df: DataFrame) -> None:
    """Stage attribution for the LAZY fat x-queries (round 11 — VERDICT
    r10 'What's wrong' #2: x08 became the suite's #5 cost with zero
    stage_secs attribution, so its +5.9 s round-10 delta had to be
    adjudicated by commit archaeology). These queries are single lazy
    plans with no eager sections, so per-stage walls come from running
    each component SUB-PLAN to the noop sink when a sink dict is passed
    (bench.py's attribution pass only — the registry/driver path passes
    no sink and this is a no-op). Column pruning cuts each probe to its
    own component's expressions, but the probes share the scan, so
    stage walls OVERLAP and do not partition 'execute' — they are
    attribution hints for cross-round adjudication, not a sum."""
    if sink is None:
        return
    import time

    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    sink[name] = round(time.time() - t0, 3)

_TOKS_CTE = """
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS token
    FROM documents
  ) WHERE length(token) > 0
"""

# Non-distinct variant: SimHash weights bit votes by token FREQUENCY, so
# duplicate tokens must survive (x05); everything else set-typed uses
# _TOKS_CTE above.
_RAWTOKS_CTE = """
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS token
    FROM documents
  ) WHERE length(token) > 0
"""


def _hexbyte(h: str, i: int) -> str:
    """SQL expression for byte ``i`` (0-based) of a lowercase hex digest."""
    p = 2 * i + 1
    return (
        f"((strpos('0123456789abcdef', substr({h}, {p}, 1)) - 1) * 16 + "
        f"(strpos('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1))"
    )

# --- x01 exact content-hash dedup -------------------------------------------

def x01_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content-hash dedup; since the Bloom promotion (round 6,
    zero slots — the x24 extra-columns pattern) each survivor row also
    carries ``in_even_bloom``: the membership decision of its digest
    against a Bloom bitmap built over the even-doc_id half's digests
    (operators/membership.bloom_build + the codegen bloom_lookup_join
    twin, m=2^20, k=5). DuckDB re-derives the salted-md5 positions, the
    32-bit word packing, the bit_or bitmap AND every bool_and decision
    — false positives included, since they are a deterministic function
    of the same bits."""
    from ..operators import membership as MB

    docs = parallel_table(spark, sf, "documents")
    dd = D.content_hash_dedup(docs, "text", "doc_id")
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    )
    bloom = MB.bloom_build(even, "text_hash", m_bits=1 << 20, k=5)
    return MB.bloom_lookup_join(
        dd, "text_hash", "keep_id", bloom,
        m_bits=1 << 20, k=5, out_col="in_even_bloom",
    ).orderBy("keep_id")


X01_SQL = """
WITH dd AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
         count(*) AS n_copies
  FROM documents GROUP BY md5(text)),
pos AS (
  SELECT d.keep_id,
         CAST(('0x' || substr(md5('bloom:' || i.i || ':'
                                  || coalesce(d.text_hash, '')), 1, 15))
              AS BIGINT) % 1048576 AS pos
  FROM dd d CROSS JOIN (SELECT unnest(range(5)) AS i) i),
bpos AS (
  SELECT CAST(('0x' || substr(md5('bloom:' || i.i || ':'
                                  || coalesce(md5(text), '')), 1, 15))
              AS BIGINT) % 1048576 AS pos
  FROM documents CROSS JOIN (SELECT unnest(range(5)) AS i) i
  WHERE doc_id % 2 = 0),
bitmap AS (
  SELECT CAST(pos // 32 AS INT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM bpos GROUP BY 1),
mk AS (
  SELECT p.keep_id,
         bool_and(coalesce(b.bits, 0)
                  & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)) != 0)
           AS in_even_bloom
  FROM pos p LEFT JOIN bitmap b ON b.word_idx = CAST(p.pos // 32 AS INT)
  GROUP BY 1)
SELECT dd.text_hash, dd.keep_id, dd.n_copies, mk.in_even_bloom
FROM dd JOIN mk USING (keep_id) ORDER BY keep_id
"""

# --- x02 n-gram (unigram-set) Jaccard on consecutive doc pairs --------------

def x02_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate-pair verification metrics (adjacent-id pairs as the
    candidate set): exact token Jaccard AND levenshtein edit distance /
    normalized similarity — the two standard verify signals after a
    banding stage, both candidate-scoped equi-joins."""
    docs = parallel_table(spark, sf, "documents")
    toks = D.doc_tokens(docs, "doc_id", "text")
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    jac = D.jaccard_pairs(toks, pairs)
    ed = D.edit_distance_pairs(docs, pairs, "doc_id", "text")
    return jac.join(ed, ["id_a", "id_b"]).orderBy("id_a")


X02_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
          FROM pairs p
          JOIN toks ta ON ta.doc_id = p.id_a
          JOIN toks tb ON tb.doc_id = p.id_b AND tb.token = ta.token
          GROUP BY p.id_a, p.id_b)
SELECT p.id_a, p.id_b,
       round(coalesce(i.n_inter, 0) * 1.0
             / (sa.n + sb.n - coalesce(i.n_inter, 0)), 4) AS jaccard,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
       round(1.0 - levenshtein(da.text, db.text)
             / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE),
             4) AS edit_similarity
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
ORDER BY p.id_a
"""

# --- x03 MinHash signatures (portable md5-lexmin; unigram + 3-gram shingle) --

_SHINGLE_CTE = r"""
  SELECT DISTINCT doc_id, shingle AS token FROM (
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(l) - 2, 0) + 1),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
    FROM (SELECT doc_id, list_filter(string_split_regex(
                   regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\s+'),
                   t -> length(t) > 0) AS l
          FROM documents))
"""

_MH_COLS = ",\n       ".join(
    f"min(md5('{i}:' || token)) AS mh{i}" for i in range(8)
)

# One-permutation MinHash, re-derived independently: one 60-bit hash per
# gram (md5 'oph:'-salted, first 15 hex chars), bucket = h mod 8, per-bucket
# conditional MIN, rotation densification + t*2^60 (offset above the hash
# universe, so borrowed values can never collide with genuine minima).
_OPH_H = "CAST(('0x' || substr(md5('oph:' || token), 1, 15)) AS BIGINT)"
_OPH_MINS = ",\n       ".join(
    f"min(CASE WHEN h % 8 = {i} THEN h END) AS _m{i}" for i in range(8)
)
_OPH_DENSE = ",\n       ".join(
    "coalesce("
    + ", ".join(f"_m{(i + t) % 8} + {t} * (1::BIGINT << 60)" for t in range(8))
    + f") AS oph{i}"
    for i in range(8)
)
_X03_MH_LIST = ", ".join(f"mh{i}" for i in range(8))


def x03_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Both set representations in one tagged result: unigram-token
    signatures and word-3-gram-shingle signatures (the order-sensitive
    variant — 'shingle→minhash→band→bucket-join'), PLUS the
    one-permutation-MinHash signature (``oph0..oph7``, rotation-densified
    — the num_hashes-times-cheaper builder) for each mode. Computed in
    ONE scan and ONE (doc_id, mode) aggregation (minhash_signatures_multi
    include_oph: the OPH bucket mins are 8 more conditional MINs in the
    same groupBy) rather than a union of per-mode jobs; min() absorbs
    duplicate tokens so there is no distinct shuffle before the
    aggregation."""
    docs = parallel_table(spark, sf, "documents")
    return D.minhash_signatures_multi(
        docs, "doc_id", "text", num_hashes=8, shingle_ns=(None, 3),
        include_oph=True,
    ).orderBy("mode", "doc_id")


X03_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS ({_SHINGLE_CTE}),
raw AS (
  SELECT 'unigram' AS mode, doc_id,
       {_MH_COLS},
       {_OPH_MINS}
  FROM (SELECT doc_id, token, {_OPH_H} AS h FROM toks) GROUP BY doc_id
  UNION ALL
  SELECT 'shingle3' AS mode, doc_id,
       {_MH_COLS},
       {_OPH_MINS}
  FROM (SELECT doc_id, token, {_OPH_H} AS h FROM sh) GROUP BY doc_id)
SELECT mode, doc_id, {_X03_MH_LIST},
       {_OPH_DENSE}
FROM raw
ORDER BY mode, doc_id
"""

# --- x04 MinHash LSH candidate pairs ----------------------------------------

_X04_BANDS = """unnest([
    '0:' || md5(mh0 || '|' || mh1),
    '1:' || md5(mh2 || '|' || mh3),
    '2:' || md5(mh4 || '|' || mh5),
    '3:' || md5(mh6 || '|' || mh7)
  ]) AS bucket"""


# Winnow-pair planting (round-11 promotion — VERDICT r10 #1: the pair-
# JOIN path of winnow_neardup_pairs had only pytest pins). Docs pair up
# as (2g, 2g+1); every doc carries a COMMON boilerplate whose winnow
# hashes land in >max_df documents — the census guard must drop them
# or the pair set explodes quadratically — and each pair group plants
# one of three arms: a LONG shared span (well past w+k-1, many shared
# selected hashes -> survives min_shared=2), a SHORT span (barely the
# w+k-1 guarantee, ~1 shared hash -> filtered), or nothing. The long
# span interleaves the GROUP id into every word: a constant span would
# itself be max_df-ubiquitous across the ~n/6 long groups and be
# census-dropped wholesale (the first cut of this plant was — only
# grams whose 5-char window straddles the group digits are df=2, so
# the digits must recur every few characters for the pair to keep
# enough census-surviving shared hashes).
_X04_WINNOW_BOILER = (
    " common footer boilerplate shared across every document in this corpus"
)
_X04_WINNOW_WORDS = ("span", "alpha", "beta", "gamma", "delta", "epsi", "zeta")


def _x04_winnow_docs(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    g = F.floor(F.col("doc_id") / 2).cast("long")
    gs = g.cast("string")
    long_parts: list[Column] = []
    for wd in _X04_WINNOW_WORDS:
        long_parts.append(F.lit(f" {wd}"))
        long_parts.append(gs)
    wtext = F.concat(
        F.col("text"),
        F.lit(_X04_WINNOW_BOILER),
        F.when(g % 3 == 0, F.concat(*long_parts))
        .when(g % 3 == 1, F.concat(F.lit(" tiny"), gs, F.lit("xq")))
        .otherwise(F.lit("")),
    )
    return docs.select("doc_id", wtext.alias("text"), *extra_cols)


def x04_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Tag-union of the three candidate-pair pipelines (the round-6
    consolidation pattern — one registry slot, multiple verified
    operators):

    - kind='self': the classic SELF-join banding — unigram signatures,
      4 bands of 2, distinct same-bucket (a < b) pairs (jaccard NULL:
      candidates are unverified by design).
    - kind='fuzzy_link': ``fuzzy_text_join`` (operators/dedup.py), the
      CROSS-TABLE record-linkage variant, run between the even-doc_id
      and odd-doc_id halves of ``documents`` as two independent tables:
      each side builds its own shingle-3 signature + band table, the
      only cross-table shuffle is the band-digest equi-join, and the
      emitted jaccard is the exact candidate-scoped shingle Jaccard
      (> 0.5) on the 4dp contract — which the DuckDB oracle re-derives
      end to end (both band tables, the cross join, and the verify).
    - kind='winnow' (round 11): ``winnow_neardup_pairs``
      (operators/textstats.py) — the partial-overlap dedup path MinHash
      dilutes away — over the planted corpus at ``_x04_winnow_docs``:
      fingerprint index → max_df=20 boilerplate census (which must drop
      the common footer every doc carries) → hash self-join →
      ``n_shared >= 2`` threshold. The DuckDB oracle re-derives every
      rolling hash, the window minima, the census, the join and the
      threshold bit-for-bit (exact BIGINT arithmetic throughout), so
      the emitted (id_a, id_b, n_shared) pins the operator's
      USER-FACING output end to end, at every SF."""
    docs = parallel_table(spark, sf, "documents")
    sig = D.minhash_signature(docs, "doc_id", "text", num_hashes=8)
    self_part = D.lsh_candidate_pairs(sig, "doc_id", num_hashes=8, bands=4).select(
        F.lit("self").alias("kind"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("long").alias("n_shared"),
    )
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    fuzzy_part = D.fuzzy_text_join(
        even, odd, "doc_id", "doc_id", "text", "text", threshold=0.5
    ).select(
        F.lit("fuzzy_link").alias("kind"),
        F.col("doc_id_l").alias("id_a"),
        F.col("doc_id_r").alias("id_b"),
        "jaccard",
        F.lit(None).cast("long").alias("n_shared"),
    )
    win_part = TS.winnow_neardup_pairs(
        _x04_winnow_docs(docs), "doc_id", "text", min_shared=2, max_df=20
    ).select(
        F.lit("winnow").alias("kind"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        "n_shared",
    )
    return (
        self_part.unionByName(fuzzy_part)
        .unionByName(win_part)
        .orderBy("kind", "id_a", "id_b")
    )


def _winnow_sql_ctes(src: str, prefix: str = "w") -> str:
    """The {prefix}nrm/{prefix}gr/{prefix}sel CTE chain re-deriving
    winnow_gram_col + winnow_sel_col (k=5, w=4) over ``src`` (doc_id,
    text) — every rolling hash in exact BIGINT arithmetic, shared by
    the x08 per-doc pin and the x04 pair-join pin."""
    return f"""{prefix}nrm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM {src}),
{prefix}gr AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 5 THEN
           list_transform(range(1, length(t) - 4 + 1), i ->
             (CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT)
                * 294499921
            + CAST(ascii(substr(t, CAST(i AS INT) + 1, 1)) AS BIGINT)
                * 2248091
            + CAST(ascii(substr(t, CAST(i AS INT) + 2, 1)) AS BIGINT)
                * 17161
            + CAST(ascii(substr(t, CAST(i AS INT) + 3, 1)) AS BIGINT)
                * 131
            + CAST(ascii(substr(t, CAST(i AS INT) + 4, 1)) AS BIGINT))
             % 1000003)
         END AS grams
  FROM {prefix}nrm),
{prefix}sel AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           range(1, greatest(len(grams) - 3, 1) + 1),
           t -> list_min(grams[CAST(t AS INT):CAST(t AS INT) + 3]))))
           AS sel
  FROM {prefix}gr WHERE grams IS NOT NULL)"""


# winnow pair-join replay over the planted corpus (_x04_winnow_docs):
# decorated text -> fingerprint index -> max_df census -> self-join ->
# n_shared threshold, mirroring winnow_neardup_pairs step for step.
_X04_WINNOW_LONG_SQL = " || ".join(
    f"' {wd}' || CAST(doc_id // 2 AS VARCHAR)" for wd in _X04_WINNOW_WORDS
)
# the decoration as a scalar SQL expression (also the curate gate-stack
# pytest pin's planted corpus — it re-derives the SAME plant)
_X04_WINNOW_DECO_SQL = f"""text || '{_X04_WINNOW_BOILER}'
              || CASE WHEN (doc_id // 2) % 3 = 0
                      THEN {_X04_WINNOW_LONG_SQL}
                      WHEN (doc_id // 2) % 3 = 1
                      THEN ' tiny' || CAST(doc_id // 2 AS VARCHAR) || 'xq'
                      ELSE '' END"""


def _winnow_pairs_sql_ctes(
    src: str, max_df: int = 20, min_shared: int = 2
) -> str:
    """widx/wrare/wkept/wpairs chain replaying winnow_neardup_pairs
    over ``src`` (doc_id, text): fingerprint index -> max_df census ->
    hash self-join -> n_shared threshold. Shared by the x04 oracle and
    the curate gate-stack pytest pin."""
    return f"""{_winnow_sql_ctes(src, 'w')},
widx AS (SELECT doc_id, unnest(sel) AS whash FROM wsel),
wrare AS (SELECT whash FROM widx GROUP BY whash
          HAVING count(*) <= {max_df}),
wkept AS (SELECT i.doc_id, i.whash FROM widx i JOIN wrare r USING (whash)),
wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM wkept a JOIN wkept b ON a.whash = b.whash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {min_shared})"""


_X04_WINNOW_CTES = f"""wdocs AS (
  SELECT doc_id,
         {_X04_WINNOW_DECO_SQL} AS text
  FROM documents),
{_winnow_pairs_sql_ctes('wdocs')}"""


X04_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
sig AS (SELECT doc_id, {_MH_COLS} FROM toks GROUP BY doc_id),
bands AS (SELECT doc_id, {_X04_BANDS} FROM sig),
sh AS ({_SHINGLE_CTE}),
ssig AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
sbands AS (SELECT doc_id, {_X04_BANDS} FROM ssig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sbands a JOIN sbands b ON a.bucket = b.bucket
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.token = a.token
  GROUP BY c.id_a, c.id_b),
{_X04_WINNOW_CTES}
SELECT * FROM (
  SELECT DISTINCT 'self' AS kind, a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(NULL AS DOUBLE) AS jaccard, CAST(NULL AS BIGINT) AS n_shared
  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  UNION ALL
  SELECT 'fuzzy_link' AS kind, c.id_a, c.id_b,
         round(CAST(coalesce(i.ni, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard,
         CAST(NULL AS BIGINT) AS n_shared
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sz sa ON sa.doc_id = c.id_a
  JOIN sz sb ON sb.doc_id = c.id_b
  WHERE round(CAST(coalesce(i.ni, 0) AS DOUBLE)
              / (sa.n + sb.n - coalesce(i.ni, 0)), 4) > 0.5
  UNION ALL
  SELECT 'winnow' AS kind, id_a, id_b, CAST(NULL AS DOUBLE) AS jaccard,
         n_shared
  FROM wpairs)
ORDER BY kind, id_a, id_b
"""

# --- x05 SimHash fingerprint + Hamming-banded near-dup pairs ------------------
#
# hash_mode="portable": token bits come from md5 (bit i = bit i%8 of digest
# byte i//8 — operators/dedup.simhash64), so the ENTIRE pipeline
# (fingerprint signs → pigeonhole bands → popcount(xor) verify) is
# reproducible in ANSI SQL and value-hash-checked. The oracle carries the
# fingerprint as a 64-char '0'/'1' string (bit i at position i+1): band b
# equality = substring equality, hamming = DuckDB's hamming() mismatch
# count — no BIGINT sign/overflow traps. The xxhash64 "native" mode stays
# the fast path for engine-internal use (unit/property-tested).

_X05_BYTES = ",\n         ".join(f"{_hexbyte('h', j)} AS b{j}" for j in range(8))
_X05_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (b{i // 8} >> {i % 8}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(64)
)
_X05_BITS = " || ".join(
    f"(CASE WHEN s{i} > 0 THEN '1' ELSE '0' END)" for i in range(64)
)
# max_hamming=12 -> 13 bands of width 64//13=4; the last band takes the
# remaining 16 bits [48, 64) — mirrors simhash_neardup_pairs exactly.
_X05_BUCKETS = ", ".join(
    f"'{b}:' || substr(bits, {4 * b + 1}, {4 if b < 12 else 16})"
    for b in range(13)
)

X05_SQL = f"""
WITH rawtoks AS ({_RAWTOKS_CTE}),
tb AS (SELECT doc_id,
         {_X05_BYTES}
       FROM (SELECT doc_id, md5(token) AS h FROM rawtoks)),
sums AS (SELECT doc_id,
         {_X05_SUMS}
       FROM tb GROUP BY doc_id),
fp AS (SELECT doc_id, {_X05_BITS} AS bits FROM sums),
bands AS (SELECT doc_id, bits, unnest([{_X05_BUCKETS}]) AS bucket FROM fp)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(hamming(a.bits, b.bits) AS INTEGER) AS hamming
FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE hamming(a.bits, b.bits) <= 12
ORDER BY id_a, id_b
"""


def x05_simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash end to end: 64-bit portable (md5-derived) fingerprints fed
    into pigeonhole Hamming banding for candidate pairs with exact
    popcount(xor) verify — cross-engine value-hash-checked against the
    bitstring reconstruction above."""
    docs = parallel_table(spark, sf, "documents")
    fp = D.simhash64(docs, "doc_id", "text", hash_mode="portable")
    return D.simhash_neardup_pairs(fp, max_hamming=12).orderBy("id_a", "id_b")


# --- x06 embedding cosine near-dup pairs ------------------------------------

def x06_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return S.neardup_pairs(emb, threshold=0.35).orderBy("id_a", "id_b")


X06_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) > 0.35
ORDER BY id_a, id_b
"""

# --- x07 ANN: brute-force cosine top-k --------------------------------------

def x07_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(queries, emb, k=10).orderBy("query_id", "rank")


X07_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (SELECT query_id, neighbor_id,
                  round(list_cosine_similarity(qv, cv), 4) AS sim
           FROM q, c WHERE neighbor_id <> query_id),
r AS (SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id)
                  AS INTEGER) AS rank
      FROM scored)
SELECT query_id, neighbor_id, sim, rank
FROM r WHERE rank <= 10 ORDER BY query_id, rank
"""

# --- x08 per-doc text analysis: language ID + quality score -------------------

# Mojibake probe: 2-byte (é ï ü), 3-byte (— ‘ ’ … whose middle/tail bytes
# land on cp1252-special glyphs € ˜ ™ ¦) and 4-byte (😀 → ð Ÿ ˜ €) UTF-8
# sequences; every byte avoids cp1252's five unassigned slots so the
# genuine .decode("cp1252") below is total. The x08 query plants the
# BROKEN form; the oracle pins that the repair restores this original.
_MOJI_PROBE = "café — naïve ‘q’… 😀 über"
_MOJI_PROBE_BROKEN = _MOJI_PROBE.encode("utf-8").decode("cp1252")

# Gopher/C4 rule probes (round 8): the corpus is single-line lowercase
# prose with no punctuation, so most named rules would be degenerate on
# raw text. Each doc_id residue class appends a deterministic
# decoration exercising one rule dimension — required stop words,
# bullet lines, ellipsis line endings, code braces + lorem ipsum,
# terminal-punctuation sentences, # symbols — and BOTH engines build
# the same decorated text in-query (the x30 planting recipe). The
# word-count rule needs no planting: raw docs span 10-100 words, so
# they straddle the >= 50 cut on their own.
_GC_ARMS: tuple[tuple[int, str], ...] = (
    (3, " for that reason it would have to be of use with them"),
    (5, "\n- first bullet point\n* second bullet point\n• third bullet point"),
    (7, "\nto be continued...\nwait for more…"),
    (11, "\nvar cfg = { lorem ipsum };"),
    (13, '\nThis is a sentence. Another one follows! Does it? "Quoted."'),
    (17, " ### ## #### # #####"),
)


def _gc_decorated() -> F.Column:
    deco = F.col("text")
    for mod, lit in _GC_ARMS:
        deco = F.concat(
            deco,
            F.when(F.col("doc_id") % mod == 0, F.lit(lit)).otherwise(F.lit("")),
        )
    return deco


# Sentence-chunk decoration (round-10 promotion): a period after every
# 5th whitespace token — same leftmost non-overlapping scan in Java and
# RE2 — then a fixed suffix covering every abbreviation arm of
# packing.SENTENCE_BOUNDARY plus the ! and ? terminators.
_SENT_SPLIT5 = r"((\S+\s+){4}\S+)\s+"
_SENT_DECO_SUFFIX = (
    " Mr. Smith met Mrs. Day and Dr. Jones at St. Paul vs. the rest "
    "etc. more i.e. that is e.g. for example! Done? Yes."
)


def x08_text_stats(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """Language ID (n-gram marker heuristic), quality scoring
    (length/punct/stopword components), document fingerprint (md5 of
    whitespace-normalized text) and raw whitespace/BPE-ish token counts
    per document — fused into one projection over one scan (pure
    codegen, zero shuffle; see operators/textstats.text_stats). Token
    counting was x10's own query through round 5; per-doc counts in the
    fused projection exercise the same two operators while the
    per-source rollup shape it also carried stays covered by the many
    agg queries — the consolidation freed x10's slot for x30.

    Round-6 zero-slot promotion: ``strip_html`` joins the projection.
    The corpus text is plain prose, so each doc is WRAPPED in a fixed
    HTML shell exercising every arm of the strip chain — a script
    subtree, a style subtree, a comment, nested tags, and all seven
    entities — and the stripped result is pinned by content hash
    (``html_fp8``) plus length. Still one codegen projection, zero
    shuffle; DuckDB replays the same regexp/replace chain.

    Second zero-slot promotion: ``fix_mojibake``. Each doc's text
    (ASCII at every shipped SF — asserted in the oracle's construction)
    is suffixed with a FIXED utf-8→cp1252 misdecode of a probe covering
    2-, 3- and 4-byte UTF-8 sequences plus five cp1252-special glyphs;
    the repaired string is pinned by hash + length (DuckDB holds the
    un-corrupted expected form — the repair must byte-restore it), and
    the two rejection arms are pinned as booleans: an out-of-repertoire
    char (✓) keeps the whole string, and genuine Latin-1 prose
    (invalid as UTF-8 bytes) survives the U+FFFD gate untouched."""
    docs = parallel_table(spark, sf, "documents")
    # round-10 zero-slot promotion: SENTENCE chunking
    # (operators/packing.chunk_by_sentences semantics as a scalar
    # aggregate fold — sentence_chunk_summary_cols). The corpus text
    # carries no sentence terminators at any shipped SF, so the chunk
    # source is DECORATED: a period after every 5th word (varying
    # per-doc sentence structure) plus a fixed suffix exercising every
    # abbreviation lookbehind arm (Mr./Mrs./Dr./St./vs./etc./i.e./
    # e.g.) and the !/? terminators. DuckDB has no lookbehind (RE2),
    # so the oracle protects abbreviation dots with a chr(2)
    # placeholder, splits on a chr(1) marker, and restores — the
    # emulation is exact because the exception lists are identical.
    sent_src = F.concat(
        F.regexp_replace(F.col("text"), _SENT_SPLIT5, "$1. "),
        F.lit(_SENT_DECO_SUFFIX),
    )
    html = F.concat(
        F.lit('<div class="d"><p>'),
        F.col("text"),
        F.lit(
            "</p><script>var x = 1;</script><style>p{color:red}</style>"
            "<!-- c --> A&amp;B &lt;tag&gt;&quot;q&quot;"
            "&#39;a&#39;&apos;b&apos;&nbsp;ok</div>"
        ),
    )
    stripped = TS.strip_html(html)
    corrupted = F.concat(F.col("text"), F.lit(" " + _MOJI_PROBE_BROKEN))
    mixed = F.concat(corrupted, F.lit(" ✓"))
    latin1 = F.concat(F.col("text"), F.lit(" café"))
    _gc_base = TS._rule_base(F.col("_gc"))
    base = (
        docs.withColumn("_stripped", stripped)
        .withColumn("_moji", TS.fix_mojibake(corrupted))
        .withColumn("_mixed", mixed)
        .withColumn("_lat", latin1)
        .withColumn("_gc", _gc_decorated())
        # winnowing MUST stage through bound columns: a HOF lambda
        # re-evaluates free subexpressions per element, so any chain
        # nested inside a per-element lambda multiplies by n (docstring
        # at winnow_gram_col). Every stage is referenced >= 3 times in
        # its consumer's tree, which keeps CollapseProject from
        # inlining the aliases back. The round-12 staged-chars fast
        # path: _wcodes binds each character's code ONCE, so the gram
        # lambda does k array lookups per position instead of k full-
        # string regex re-evaluations (the winnow_gram_col form paid
        # trim(regexp_replace(lower())) per element — a measured 29x
        # on this exact stage).
        .withColumn("_wnorm", TS._winnow_norm(F.col("text")))
        .withColumn("_wcodes", TS.winnow_char_col(F.col("_wnorm")))
        .withColumn("_wgrams", TS.winnow_gram_from_chars(F.col("_wcodes")))
        .withColumn("_wsel", TS.winnow_sel_col("_wgrams"))
        # char-entropy stages its char array for the same reason
        .withColumn("_wchars", TS.char_array_col("text"))
        # the sentence-chunk fold stages for the same reason (round 11 —
        # VERDICT r10 "What's wrong" #1: the unstaged form paid the
        # O(sentences) aggregate walk once per output column)
        .withColumn(
            "_schunk", PK.sentence_chunk_fold_col(sent_src, chunk_tokens=16)
        )
        # the CDC cut walk stages for the same reason (ONE greedy walk
        # serves both registry columns; consumes the _wgrams stage)
        .withColumn("_cdcuts", PK.cdc_cuts_col(F.col("_wgrams")))
    )
    # named column groups (order fixed — this IS the output schema
    # order); the stage-attribution probes below reuse them verbatim
    html_moji_cols = [
        F.length("_stripped").cast("bigint").alias("html_stripped_len"),
        F.substring(F.md5("_stripped"), 1, 8).alias("html_fp8"),
        F.length("_moji").cast("bigint").alias("moji_fixed_len"),
        F.substring(F.md5("_moji"), 1, 8).alias("moji_fp8"),
        (TS.fix_mojibake(F.col("_mixed")) == F.col("_mixed")).alias(
            "moji_mixed_noop"
        ),
        (TS.fix_mojibake(F.col("_lat")) == F.col("_lat")).alias(
            "moji_latin1_noop"
        ),
    ]
    # round-8 zero-slot promotion: document chunking
    # (operators/packing.chunk_documents semantics as scalar codegen —
    # n_chunks + digest of the '|'-joined chunk texts; zero shuffle)
    tok_chunk_cols = [*PK.chunk_summary_cols("text", chunk_tokens=32, overlap=8)]
    # round-10 zero-slot promotion: sentence chunking over the decorated
    # source (see above) — projected from the ONE staged fold (_schunk)
    sent_chunk_cols = [*PK.sentence_chunk_cols_from(F.col("_schunk"))]
    # round-10 zero-slot promotion #4: character-distribution Shannon
    # entropy (textstats.char_entropy_col — exact fixed-point fold)
    entropy_cols = [TS.char_entropy_from_chars(F.col("_wchars"))]
    # round-10 zero-slot promotion #3: winnowing fingerprints
    # (Schleimer et al. 2003 — rolling k-gram hashes -> window minima,
    # all exact BIGINT arithmetic; staged through _wgrams/_wsel above)
    winnow_cols = [*TS.winnow_cols_from(F.col("_wsel"))]
    # round-11 zero-slot promotion: content-defined chunking (Rabin
    # rolling-hash boundaries + FastCDC min-size guard,
    # packing.cdc_cuts_col) — rides the SAME staged _wgrams array the
    # winnow family consumes (one gram pass feeds both operators) and
    # projects both columns from the ONE staged cut walk (_cdcuts)
    cdc_cols = [*PK.cdc_cols_from(F.col("_cdcuts"))]
    # round-8 zero-slot promotion #2: the named Gopher + C4 document-
    # filter rules over the decorated text (_GC_ARMS — every rule
    # dimension exercised; word array/line count built once)
    gc_cols = [
        *TS.gopher_rules_cols(F.col("_gc"), _base=_gc_base),
        *TS.c4_rules_cols(F.col("_gc"), _base=_gc_base),
    ]
    if _stage_secs is not None:
        # bench attribution pass (VERDICT r10 #2): per-component
        # sub-plan walls — column pruning cuts each probe to its own
        # expressions (see _probe's overlap caveat)
        _probe(
            _stage_secs,
            "base_stats",
            TS.text_stats(
                base, "doc_id", "text",
                include_fingerprint=True, include_token_counts=True,
            ),
        )
        for pname, pcols in [
            ("html_moji", html_moji_cols),
            ("tok_chunks", tok_chunk_cols),
            ("sent_chunks", sent_chunk_cols),
            ("entropy", entropy_cols),
            ("winnow", winnow_cols),
            ("cdc", cdc_cols),
            ("gopher_c4", gc_cols),
        ]:
            _probe(_stage_secs, pname, base.select("doc_id", *pcols))
    stats = TS.text_stats(
        base,
        "doc_id",
        "text",
        include_fingerprint=True,
        include_token_counts=True,
        extra_cols=[
            *html_moji_cols,
            *tok_chunk_cols,
            *sent_chunk_cols,
            *entropy_cols,
            *winnow_cols,
            *cdc_cols,
            *gc_cols,
        ],
    )
    return stats.orderBy("doc_id")


def _marker_sum(lang: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN position(' {m} ' IN padded) > 0 THEN 1 ELSE 0 END)"
        for m in TS.LANG_MARKERS[lang]
    )
    return f"({terms})"


_X08_LANG_BODY = f"""
WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents),
s AS (SELECT doc_id,
             {_marker_sum('de')} AS s_de,
             {_marker_sum('en')} AS s_en,
             {_marker_sum('es')} AS s_es,
             {_marker_sum('fr')} AS s_fr
      FROM p),
fold AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
                CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                     WHEN s_es > greatest(s_de, s_en) THEN 'es'
                     WHEN s_en > s_de THEN 'en'
                     ELSE 'de' END AS best_lang,
                greatest(s_de, s_en, s_es, s_fr) AS best_score
         FROM s)
SELECT doc_id,
       CASE WHEN best_score > 0 THEN best_lang ELSE 'unknown' END AS pred_lang,
       CAST(best_score AS INTEGER) AS marker_score
FROM fold
"""

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
_X08_QUALITY_BODY = f"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS token
    FROM documents
  ) WHERE length(token) > 0
),
agg AS (SELECT doc_id, count(*) AS n_tokens,
               sum(CASE WHEN token IN ({_STOP_LIST}) THEN 1 ELSE 0 END) AS n_stop
        FROM toks GROUP BY doc_id),
comp AS (
  SELECT d.doc_id,
         CAST(a.n_tokens AS BIGINT) AS n_tokens,
         CAST(length(d.text) AS BIGINT) AS n_chars_obs,
         round(CAST(length(regexp_replace(lower(d.text), '[a-z ]', '', 'g'))
                    AS DOUBLE) / greatest(length(d.text), 1), 4) AS punct_ratio,
         round(CAST(a.n_stop AS DOUBLE) / greatest(a.n_tokens, 1), 4)
           AS stop_ratio,
         round(CAST(least(a.n_tokens, 200) AS DOUBLE)
               / CAST(200.0 AS DOUBLE), 4) AS len_component
  FROM documents d JOIN agg a ON a.doc_id = d.doc_id),
fx AS (
  SELECT *, CAST(round(len_component * 10000) AS BIGINT) AS l4,
            CAST(round(stop_ratio * 10000) AS BIGINT) AS s4,
            CAST(round(punct_ratio * 10000) AS BIGINT) AS p4
  FROM comp),
q5t AS (SELECT *, 4 * l4 + 3 * s4 + 3 * (10000 - p4) AS q5 FROM fx)
SELECT doc_id, n_tokens, n_chars_obs, punct_ratio, stop_ratio,
       (q5 // 10 + CASE WHEN q5 % 10 >= 5 THEN 1 ELSE 0 END) / 10000.0
         AS quality
FROM q5t
"""

_X08_FP_BODY = """
WITH n AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents)
SELECT doc_id, md5(norm) AS fp, substr(md5(norm), 1, 8) AS fp8,
       CAST(length(norm) AS BIGINT) AS norm_len
FROM n
"""

_X08_TOK_BODY = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                x -> length(x) > 0)) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""

# strip_html replay: same wrapper, same 4-regex + 7-replace chain in the
# operator's order (&amp; LAST — otherwise &amp;lt; double-decodes),
# same final whitespace collapse. RE2 and Java regex agree on every
# pattern used ((?is) flags, lazy .*?, \b, [^>]*).
_X08_HTML_BODY = """
WITH h AS (
  SELECT doc_id,
         '<div class="d"><p>' || text ||
         '</p><script>var x = 1;</script><style>p{color:red}</style>' ||
         '<!-- c --> A&amp;B &lt;tag&gt;&quot;q&quot;' ||
         '&#39;a&#39;&apos;b&apos;&nbsp;ok</div>' AS html
  FROM documents),
s AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(
             regexp_replace(
             regexp_replace(
             regexp_replace(html,
               '(?is)<script\\b.*?</script\\s*>', ' ', 'g'),
               '(?is)<style\\b.*?</style\\s*>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)<[^>]*>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
             '&amp;', '&'),
           '\\s+', ' ', 'g')) AS stripped
  FROM h)
SELECT doc_id,
       CAST(length(stripped) AS BIGINT) AS html_stripped_len,
       substr(md5(stripped), 1, 8) AS html_fp8
FROM s
"""

# fix_mojibake replay: the corpus text is ASCII at every shipped SF, so
# the only multi-byte content is the planted probe — the oracle holds
# the probe's ORIGINAL (pre-corruption) form and pins that the repair
# byte-restores it; the rejection arms are expected no-ops (TRUE).
_X08_MOJI_BODY = f"""
SELECT doc_id,
       CAST(length(text || ' {_MOJI_PROBE}') AS BIGINT) AS moji_fixed_len,
       substr(md5(text || ' {_MOJI_PROBE}'), 1, 8) AS moji_fp8,
       TRUE AS moji_mixed_noop,
       TRUE AS moji_latin1_noop
FROM documents
"""

# chunk_documents replay as a per-doc summary (chunk_tokens=32,
# overlap=8 → stride=24): same tokenizer, same ceil-division chunk
# count, same inclusive 1-based slices, digest over the '|'-joined
# chunk texts in chunk order; empty/NULL-text docs → 0 chunks, NULL fp
_X08_CHUNK_BODY = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents),
nn AS (SELECT doc_id, toks, len(toks) AS n FROM t)
SELECT doc_id,
       CAST(CASE WHEN n > 0
                 THEN greatest((n - 8 + 23) // 24, 1) ELSE 0 END AS INT)
         AS n_chunks,
       CASE WHEN n > 0 THEN substr(md5(array_to_string(
              list_transform(range(greatest((n - 8 + 23) // 24, 1)),
                i -> array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ')),
              '|')), 1, 8)
       END AS chunk_fp8
FROM nn
"""

# chunk_by_sentences replay (chunk_tokens=16) over the decorated
# source. RE2 has no lookbehind, so the Java boundary regex
# `(?<=[.!?])(?<!abbrev)\s+` is emulated exactly: protect each
# exception-list abbreviation's final dot with chr(2) (the whitespace
# after it is captured and re-emitted, not consumed), rewrite every
# remaining terminator+\s+ run to terminator+chr(1), split on chr(1),
# restore chr(2) -> '.'. The exception lists are identical, so the
# split points are identical. Then the standard ordered-unnest →
# exclusive prefix sum → floor-div chunk id → two-level string_agg.
_X08_SENT_BODY = f"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(text, '((\\S+\\s+){{4}}\\S+)\\s+', '\\1. ', 'g')
           || '{_SENT_DECO_SUFFIX}' AS t
  FROM documents),
marked AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '\\b(Mrs|Mr|Dr|St|vs|etc)\\.(\\s)',
                            '\\1' || chr(2) || '\\2', 'g'),
             '\\b(e\\.g|i\\.e)\\.(\\s)', '\\1' || chr(2) || '\\2', 'g'),
           '([.!?])\\s+', '\\1' || chr(1), 'g') AS m
  FROM src),
sents AS (
  SELECT doc_id, u.i AS ord, replace(u.s, chr(2), '.') AS sent
  FROM marked,
       unnest(list_transform(string_split(m, chr(1)),
                             (x, i) -> struct_pack(s := x, i := i)))
         AS tt(u)),
tok AS (
  SELECT doc_id, ord, sent,
         CAST(len(list_filter(string_split_regex(trim(sent), '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS nt
  FROM sents),
cum AS (
  SELECT doc_id, ord, sent,
         coalesce(sum(nt) OVER (PARTITION BY doc_id ORDER BY ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cb
  FROM tok WHERE nt > 0),
sg AS (
  SELECT doc_id, CAST(cb // 16 AS BIGINT) AS chunk_id,
         string_agg(sent, ' ' ORDER BY ord) AS ctext
  FROM cum GROUP BY doc_id, CAST(cb // 16 AS BIGINT)),
sf_ AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sent_chunks,
         substr(md5(string_agg(ctext, '|' ORDER BY chunk_id)), 1, 8)
           AS sent_chunk_fp8
  FROM sg GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(sf_.n_sent_chunks, CAST(0 AS BIGINT)) AS n_sent_chunks,
       sf_.sent_chunk_fp8
FROM documents d LEFT JOIN sf_ USING (doc_id)
"""

# char-entropy replay: per-doc char census of the lowercased text,
# p = count/total as DOUBLE, each term rounded to 1e-6-nat fixed point
# BEFORE the sum (order-free integer fold — see char_entropy_col)
_X08_ENTROPY_BODY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(lower(text), '')) AS c
  FROM documents),
cc AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS nc,
         CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM ch GROUP BY doc_id, c)
SELECT d.doc_id,
       -e.s AS char_entropy_fp6
FROM documents d LEFT JOIN (
  SELECT doc_id,
         CAST(sum(CAST(round(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)
                             * ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
                             * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM cc GROUP BY doc_id) e USING (doc_id)
"""

# winnowing replay (k=5, w=4): base-131 polynomial k-gram hashes mod
# 1000003 over the whitespace-normalized lowercase text, window minima,
# sorted distinct set -> count + 8-hex digest. Every step is exact
# integer arithmetic, so the hashes match bit-for-bit; short/NULL docs
# carry 0 / NULL (the no-grams contract).
_X08_WINNOW_BODY = f"""
WITH {_winnow_sql_ctes('documents', 'w')}
SELECT n.doc_id,
       coalesce(CAST(len(s.sel) AS BIGINT), 0) AS n_winnow,
       CASE WHEN s.sel IS NOT NULL
            THEN substr(md5(array_to_string(s.sel, ',')), 1, 8)
       END AS winnow_fp8
FROM wnrm n LEFT JOIN wsel s USING (doc_id)
"""


def _cdc_sql_ctes(
    divisor: int = 64, rem: int = 0, min_size: int = 16,
    max_steps: int = 64,
) -> str:
    """Unrolled greedy CDC walk over the shared winnow gram CTE
    (``wgr`` — packing.cdc_cut_cols_from's contract): cut candidates
    where ``hash % divisor == rem``, then ``max_steps`` plain CTE steps
    each accepting the smallest candidate >= previous cut + min_size.
    Greedy min-gap selection has no closed window form, recursive CTEs
    are out (DuckDB 1.0 forbids the aggregate recursive member and
    plans correlated ones inconsistently), so the walk unrolls — the
    x28 WordPiece recipe. ``max_steps`` bounds accepted cuts per doc;
    docs are <= ~100 words (~700 normalized chars -> <= ~44 cuts at
    min_size 16) at EVERY SF — corpus-structural, and belt-and-braces:
    the SQL itself raises through ``error()`` when any doc would accept
    a cut BEYOND the deepest unrolled step (round-12 advice fix — a
    corpus change producing a >max_steps-cut doc must fail as an
    explicit overflow, not a downstream hash mismatch; the pytest
    n_cdc_chunks <= max_steps + 1 pin stays as the independent guard).

    The greedy walk inits at ``cut = 1`` (not 0): the first chunk spans
    chars [1, cut), so acceptance at c - last >= min_size holds the
    FIRST chunk to the same floor as every later one
    (packing.cdc_cuts_col's contract — the round-12 off-by-one fix,
    changed in lockstep in the Spark fold, this twin, and the python
    reference)."""
    steps, union = [], []
    for j in range(1, max_steps + 1):
        steps.append(
            f"cdcs{j} AS MATERIALIZED (SELECT c.doc_id, min(c.pos) AS cut"
            f" FROM cdccand c JOIN cdcs{j - 1} p USING (doc_id)"
            f" WHERE c.pos >= p.cut + {min_size} GROUP BY c.doc_id)"
        )
        union.append(f"SELECT doc_id, cut FROM cdcs{j}")
    nl = ",\n"
    return f"""cdccand AS (
  SELECT doc_id, unnest(list_filter(range(1, len(grams) + 1),
                                    i -> grams[i] % {divisor} = {rem}))
           AS pos
  FROM wgr WHERE grams IS NOT NULL),
cdcs0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS cut
          FROM wgr WHERE grams IS NOT NULL),
{nl.join(steps)},
cdcover AS (
  SELECT count(*) AS n
  FROM cdccand c JOIN cdcs{max_steps} p USING (doc_id)
  WHERE c.pos >= p.cut + {min_size}),
cdcuts AS ({" UNION ALL ".join(union)}),
cdc AS (
  SELECT g.doc_id,
         CAST(CASE WHEN (SELECT n FROM cdcover) > 0
              THEN error('cdc oracle: greedy walk overflow - a doc '
                         || 'accepts more than {max_steps} cuts; raise '
                         || 'max_steps in _cdc_sql_ctes')
              ELSE coalesce(u.nc, 0) + 1 END AS BIGINT) AS n_cdc_chunks,
         substr(md5(coalesce(u.csv, '')), 1, 8) AS cdc_fp8
  FROM (SELECT doc_id FROM wgr WHERE grams IS NOT NULL) g
  LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc,
                    ',' || string_agg(CAST(cut AS VARCHAR), ','
                                      ORDER BY cut) AS csv
             FROM cdcuts GROUP BY doc_id) u USING (doc_id))"""


_X08_CDC_BODY = f"""
WITH {_winnow_sql_ctes('documents', 'w')},
{_cdc_sql_ctes()}
SELECT n.doc_id,
       CAST(coalesce(c.n_cdc_chunks, 0) AS BIGINT) AS n_cdc_chunks,
       c.cdc_fp8
FROM wnrm n LEFT JOIN cdc c USING (doc_id)
"""

# Gopher/C4 rule replay over the same decorated text: the named-rule
# counts are integer regex scans (Java and RE2 agree on every pattern —
# (?m) anchors, \b, non-overlap), ratios round to 4dp before the
# threshold comparisons, so the kept booleans derive from identical
# doubles in both engines.
_GC_DECO_SQL = "text" + "".join(
    f" || CASE WHEN doc_id % {mod} = 0 THEN '{lit}' ELSE '' END"
    for mod, lit in _GC_ARMS
)
_GC_HITS_SQL = " + ".join(
    f"CASE WHEN regexp_matches(lower(t), '\\b{w}\\b') THEN 1 ELSE 0 END"
    for w in TS.GOPHER_REQUIRED_WORDS
)

_X08_GC_BODY = f"""
WITH deco AS (SELECT doc_id, {_GC_DECO_SQL} AS t FROM documents),
w AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(trim(t), '\\s+'),
                     x -> length(x) > 0) AS words,
         CAST(length(regexp_replace(t, '\\s', '', 'g')) AS BIGINT) AS n_nonws,
         CAST(len(regexp_extract_all(t, '\\n')) + 1 AS BIGINT) AS n_lines
  FROM deco),
m AS (
  SELECT doc_id, n_lines, n_nonws,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(greatest(len(words), 1) AS BIGINT) AS nw1,
         CAST(len(regexp_extract_all(t, '#')) AS BIGINT) AS n_hash,
         CAST(len(regexp_extract_all(t, '\\.\\.\\.'))
              + len(regexp_extract_all(t, '…')) AS BIGINT) AS n_ell_sym,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT)
           AS n_bullet,
         CAST(len(regexp_extract_all(t, '(?m)(\\.\\.\\.|…)$')) AS BIGINT)
           AS n_ell,
         CAST(len(regexp_extract_all(t, '(?m)[.!?"'']$')) AS BIGINT)
           AS n_term,
         CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT)
           AS c4_n_sentences,
         (position('{{' IN t) > 0) AS c4_has_brace,
         contains(lower(t), 'lorem ipsum') AS c4_has_lorem,
         CAST({_GC_HITS_SQL} AS INTEGER) AS req_stop_hits
  FROM w),
r AS (
  SELECT doc_id, c4_n_sentences, c4_has_brace, c4_has_lorem, req_stop_hits,
         n_words AS gopher_n_words,
         round(CAST(n_nonws AS DOUBLE) / nw1, 4) AS mean_word_len,
         greatest(round(CAST(n_hash AS DOUBLE) / nw1, 4),
                  round(CAST(n_ell_sym AS DOUBLE) / nw1, 4))
           AS symbol_word_ratio,
         round(CAST(n_bullet AS DOUBLE) / n_lines, 4) AS bullet_line_frac,
         round(CAST(n_ell AS DOUBLE) / n_lines, 4) AS ellipsis_line_frac,
         round(CAST(n_alpha AS DOUBLE) / nw1, 4) AS alpha_word_frac,
         round(CAST(n_term AS DOUBLE) / n_lines, 4) AS c4_term_line_frac
  FROM m)
SELECT doc_id, gopher_n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac, req_stop_hits,
       (gopher_n_words >= 50 AND gopher_n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
        AND req_stop_hits >= 2) AS gopher_kept,
       c4_term_line_frac, c4_n_sentences, c4_has_brace, c4_has_lorem,
       (NOT c4_has_brace AND NOT c4_has_lorem
        AND c4_n_sentences >= 3 AND gopher_n_words >= 5) AS c4_kept
FROM r
"""

X08_SQL = f"""
SELECT l.doc_id, l.pred_lang, l.marker_score,
       q.n_tokens, q.n_chars_obs, q.punct_ratio, q.stop_ratio, q.quality,
       f.fp, f.fp8, f.norm_len, t.n_ws_tokens, t.n_bpe_tokens,
       h.html_stripped_len, h.html_fp8,
       m.moji_fixed_len, m.moji_fp8, m.moji_mixed_noop, m.moji_latin1_noop,
       c.n_chunks, c.chunk_fp8,
       sc.n_sent_chunks, sc.sent_chunk_fp8,
       ce.char_entropy_fp6,
       wn.n_winnow, wn.winnow_fp8,
       cd.n_cdc_chunks, cd.cdc_fp8,
       g.gopher_n_words, g.mean_word_len, g.symbol_word_ratio,
       g.bullet_line_frac, g.ellipsis_line_frac, g.alpha_word_frac,
       g.req_stop_hits, g.gopher_kept,
       g.c4_term_line_frac, g.c4_n_sentences, g.c4_has_brace,
       g.c4_has_lorem, g.c4_kept
FROM ({_X08_LANG_BODY}) l
JOIN ({_X08_QUALITY_BODY}) q ON q.doc_id = l.doc_id
JOIN ({_X08_FP_BODY}) f ON f.doc_id = l.doc_id
JOIN ({_X08_TOK_BODY.format(bpe=TS.BPE_ISH_PATTERN)}) t ON t.doc_id = l.doc_id
JOIN ({_X08_HTML_BODY}) h ON h.doc_id = l.doc_id
JOIN ({_X08_MOJI_BODY}) m ON m.doc_id = l.doc_id
JOIN ({_X08_CHUNK_BODY}) c ON c.doc_id = l.doc_id
JOIN ({_X08_SENT_BODY}) sc ON sc.doc_id = l.doc_id
JOIN ({_X08_ENTROPY_BODY}) ce ON ce.doc_id = l.doc_id
JOIN ({_X08_WINNOW_BODY}) wn ON wn.doc_id = l.doc_id
JOIN ({_X08_CDC_BODY}) cd ON cd.doc_id = l.doc_id
JOIN ({_X08_GC_BODY}) g ON g.doc_id = l.doc_id
ORDER BY l.doc_id
"""

# --- x30 duplicated-span removal (ExactSubstr cut) ---------------------------
#
# The corpus's own docs rarely share verbatim 8-token windows, so the
# query PLANTS deterministic shared passages (one of four variants
# appended to every doc_id % 3 == 0 doc — each variant lands in dozens
# of docs even at sf0.001) and removes them; DuckDB re-derives the
# entire pipeline — tokenization, window digests, census, covered-
# position union, in-order rebuild — so the rebuilt TEXT hash-matches,
# not just the counts. Any incidental real shared window is removed
# identically by both engines.

_X30_SHARED = (
    " shared boilerplate passage variant {v} that appears across many "
    "documents of this corpus exactly verbatim word for word"
)


def x30_remove_dup_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-doc duplicated-span REMOVAL (operators/dedup.py
    remove_dup_windows): every 8-token window occurring in >= 2 docs is
    cut from every carrier, overlaps collapsing to one span; untouched
    docs keep their text byte-identical."""
    docs = parallel_table(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(_X30_SHARED.split("{v}")[0]),
                (F.col("doc_id") % 4).cast("string"),
                F.lit(_X30_SHARED.split("{v}")[1]),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.remove_dup_windows(
        docs, "doc_id", "text", window_tokens=8, min_doc_occurrences=2
    ).orderBy("doc_id")


X30_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || '{_X30_SHARED.split('{v}')[0]}'
                   || CAST(doc_id % 4 AS VARCHAR)
                   || '{_X30_SHARED.split('{v}')[1]}'
              ELSE text END AS text
  FROM documents),
base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                     t -> len(t) > 0) AS toks
  FROM planted),
b2 AS (SELECT *, len(toks) AS ntok FROM base),
wins AS (
  SELECT doc_id, s - 1 AS pos0,
         md5(lower(array_to_string(toks[s : s + 7], ' '))) AS dig
  FROM b2, unnest(range(1, ntok - 8 + 2)) AS g(s)
  WHERE ntok >= 8),
census AS (
  SELECT dig FROM (SELECT DISTINCT doc_id, dig FROM wins)
  GROUP BY dig HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, p.p AS covpos
  FROM wins w JOIN census c USING (dig),
       unnest(range(w.pos0, w.pos0 + 8)) AS p(p)),
rm AS (SELECT doc_id, list(covpos) AS rmlist, count(*) AS nrm
       FROM cov GROUP BY doc_id)
SELECT b.doc_id,
       CASE WHEN r.doc_id IS NULL THEN b.text
            ELSE coalesce(array_to_string(list_transform(
                   list_filter(range(0, ntok),
                     i -> NOT list_contains(r.rmlist, i)),
                   i -> toks[i + 1]), ' '), '')
       END AS text,
       CAST(ntok AS BIGINT) AS n_tokens,
       CAST(coalesce(r.nrm, 0) AS BIGINT) AS n_removed_tokens
FROM b2 b LEFT JOIN rm r ON b.doc_id = r.doc_id
ORDER BY b.doc_id
"""

# --- x09 Gopher-style repetition metrics --------------------------------------

def x09_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(doc, n-gram order) repetition metrics — the boilerplate /
    looping-text filter of a training-data pipeline. All three n-gram
    orders come from ONE scan + ONE explode (tagged concat, same trick as
    x03) and a two-level codegen aggregation; per-row work is bounded by
    document length, keys are doc-scoped → no corpus-level skew.

    Round-6 zero-slot promotion: ``ngram_contamination`` joins the
    output — the ``doc_id % 100 == 0`` docs stand in as the benchmark
    corpus (deterministic at every SF), and each doc's 3-gram
    containment against their gram set lands on its ``3gram`` row
    (NULL on 1gram/2gram rows). Benchmark gram set is dedup'd once and
    broadcast; the corpus side is the distinct (doc, gram) stream —
    no corpus-level skew. DuckDB re-derives the benchmark set and every
    containment fraction from raw text."""
    docs = parallel_table(spark, sf, "documents")
    rep = TS.repetition_stats(docs, "doc_id", "text", ngram_ns=(1, 2, 3))
    cont = TS.ngram_contamination(
        docs, docs.filter(F.col("doc_id") % 100 == 0), "doc_id", "text", n=3
    ).withColumn("mode", F.lit("3gram"))
    return rep.join(cont, ["doc_id", "mode"], "left").orderBy(
        "doc_id", "mode"
    )


X09_SQL = """
WITH tl AS (
  SELECT doc_id, string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+') AS toks
  FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS ord
  FROM tl),
ne AS (SELECT * FROM tok WHERE length(token) > 0),
g AS (
  SELECT doc_id, '1gram' AS mode, token AS gram FROM ne
  UNION ALL
  SELECT doc_id, '2gram' AS mode,
         token || ' ' || lead(token, 1) OVER w AS gram
  FROM ne WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
  QUALIFY lead(token, 1) OVER w IS NOT NULL
  UNION ALL
  SELECT doc_id, '3gram' AS mode,
         token || ' ' || lead(token, 1) OVER w3 || ' ' || lead(token, 2) OVER w3
           AS gram
  FROM ne WINDOW w3 AS (PARTITION BY doc_id ORDER BY ord)
  QUALIFY lead(token, 2) OVER w3 IS NOT NULL),
pg AS (SELECT doc_id, mode, gram, count(*) AS cnt FROM g GROUP BY doc_id, mode, gram),
rep AS (
  SELECT doc_id, mode,
         CAST(sum(cnt) AS BIGINT) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_unique,
         round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4)
           AS top_fraction,
         round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
               / CAST(sum(cnt) AS DOUBLE), 4) AS dup_fraction
  FROM pg GROUP BY doc_id, mode),
bench AS (SELECT DISTINCT gram FROM g
          WHERE mode = '3gram' AND doc_id % 100 = 0),
dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE mode = '3gram'),
cont AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_distinct_grams,
         CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_contaminated,
         round(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS containment
  FROM dg d LEFT JOIN bench b USING (gram)
  GROUP BY d.doc_id)
SELECT r.doc_id, r.mode, r.n_grams, r.n_unique, r.top_fraction,
       r.dup_fraction,
       c.n_distinct_grams, c.n_contaminated, c.containment
FROM rep r
LEFT JOIN cont c ON c.doc_id = r.doc_id AND r.mode = '3gram'
ORDER BY r.doc_id, r.mode
"""

# --- x12 PII detection + redaction --------------------------------------------
#
# The synthetic documents contain no natural PII, so the query plants
# deterministic doc_id-derived PII (identically in both engines) before
# running the operator — the detection/redaction expressions themselves
# are the generic operators/textstats.pii_stats codegen path.

_PII_RE = TS.PII_PATTERNS


def x12_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" from 10.0."), (did % 250).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit(" call 555-014-4567")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" ssn 219-09-9999")).otherwise(F.lit("")),
    )
    stats = TS.pii_stats(
        docs.select("doc_id", aug.alias("aug_text")), "doc_id", "aug_text"
    )
    return stats.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ssn",
        "n_ip",
        "n_pii",
        F.md5(F.col("redacted").cast("binary")).alias("redacted_fp"),
    ).orderBy("doc_id")


X12_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         || CASE WHEN doc_id % 2 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN ' call 555-014-4567' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' ssn 219-09-9999' ELSE '' END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_PII_RE["email"]}')) AS BIGINT)
           AS n_email,
         CAST(len(regexp_extract_all(t, '{_PII_RE["phone"]}')) AS BIGINT)
           AS n_phone,
         CAST(len(regexp_extract_all(t, '{_PII_RE["ssn"]}')) AS BIGINT) AS n_ssn,
         CAST(len(regexp_extract_all(t, '{_PII_RE["ip"]}')) AS BIGINT) AS n_ip,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '{_PII_RE["email"]}', '<EMAIL>', 'g'),
               '{_PII_RE["ip"]}', '<IP>', 'g'),
             '{_PII_RE["ssn"]}', '<SSN>', 'g'),
           '{_PII_RE["phone"]}', '<PHONE>', 'g') AS redacted
  FROM aug)
SELECT doc_id, n_email, n_phone, n_ssn, n_ip,
       n_email + n_phone + n_ssn + n_ip AS n_pii,
       md5(redacted) AS redacted_fp
FROM c ORDER BY doc_id
"""

# --- x13 multimodal pipeline: binary → resize → decode → frame sampling ------
#
# The decode/resize KERNELS are stubs (no codec libs in this container;
# deterministic md5-derived fakes) but the Spark plumbing — binary schema,
# Arrow-batched mapInPandas, 1→N frame explosion, metadata join — is real,
# and because the fakes are md5-derived they are expressible in ANSI SQL:
# the whole pipeline is value-hash-checked against DuckDB (hex-parsing the
# digest bytes), not just rows-only. Feature arrays are emitted as integer
# byte CSVs: exact to recover (round(b/255,6)*255 rounds back to b for all
# b in 0..255), hashable by the driver (raw array<float> crashed its
# canonicalizer in round 1), and immune to float-to-string formatting
# differences between engines.

# Planted-tone audio contract (round-10 promotion — VERDICT r9 #1):
# per media_id, a REAL mono 16-bit PCM WAV of two bin-aligned sines
# (N=256 samples at rate 8192 -> exact 32 Hz bins; k1 in 3..7 at
# amplitude A1 = _X13_AMPS[media_id % 8], k2 in 9..15 at A1/2 — the
# 4:1 power ratio the spectral forms assume; samples rounded to EVEN
# ints so the half-volume twin divides exactly). The Spark side runs the
# REAL decode + rfft feature path (audio_spectral_features) and the
# REAL spectrogram pHash (audio_phash); the oracle recomputes the
# expectations in closed form from the generation parameters:
#   centroid = (f1·A1² + f2·A2²)/(A1²+A2²) = 32·(4k1+k2)/5 Hz
#   bandwidth = |f1−f2|·sqrt(w1·w2)        = 64·(k2−k1)/5 Hz
#   rolloff(85%) = f2 (w1 = 0.8 < 0.85)     dominant = f1 (A1 > A2)
# Integer-Hz rounding is safe: quantization noise shifts the features
# by < 0.01 Hz while every closed form sits >= 0.1 from a .5 boundary
# (k-ranges disjoint, denominators 5; verified over all 200 ids).
# media_id % 4 == 0 plants SILENCE (features 0, phash exactly 0 — the
# flat-spectrogram contract) and % 4 == 1 gives the twin DIFFERENT
# tones (k-shifted), so both pinned booleans take both values:
# audio_phash_zero pins the silence arm + that real tones hash
# nonzero; audio_twin_same pins volume invariance (exact-half twin
# collides) + discriminability (different tones do not).
_X13_AUDIO_RATE, _X13_AUDIO_N = 8192, 256
# Per-row amplitudes (A2 = A1/2 keeps the 4:1 power ratio every
# spectral closed form assumes — they depend only on the RATIO): eight
# values chosen so the closed-form rms·10⁴ sits >= 0.3 from every
# rounding boundary (quantization's cross term shifts the measured rms
# by up to ~6e-6 — too big for a 6dp pin, far under the 4dp quantum;
# margins verified over all 200 ids). Silence rows are 512 samples so
# the duration column takes two values (31250 vs 62500 µs).
_X13_AMPS = (8000, 8700, 9350, 9550, 10200, 10400, 11050, 11750)


def _x13_tone_samples(media_id: int, twin: bool):
    import numpy as np

    variant = media_id % 4
    if variant == 0:
        return np.zeros(2 * _X13_AUDIO_N, dtype=np.int64)
    if twin and variant == 1:
        k1, k2 = 3 + (media_id + 1) % 5, 9 + (media_id + 2) % 7
    else:
        k1, k2 = 3 + media_id % 5, 9 + media_id % 7
    a1 = float(_X13_AMPS[media_id % 8])
    n = np.arange(_X13_AUDIO_N)
    x = a1 * np.sin(2 * np.pi * k1 * n / _X13_AUDIO_N) + (a1 / 2) * np.sin(
        2 * np.pi * k2 * n / _X13_AUDIO_N
    )
    s = (2 * np.round(x / 2)).astype(np.int64)
    if twin and variant != 1:
        s = s // 2  # exact: every sample is even by construction
    return s


def _x13_planted_wav(df, twin: bool):
    """(media_id) → (media_id, content, mime) with the planted WAV
    bytes — Arrow-batched synth, the attach_binary shape."""
    from ..operators.multimodal import MIME_WAV, _encode_wav_pcm16

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": [
                        _encode_wav_pcm16(
                            _x13_tone_samples(int(m), twin), _X13_AUDIO_RATE
                        )
                        for m in pdf["media_id"]
                    ],
                    "mime": MIME_WAV,
                }
            )

    return df.select("media_id").mapInPandas(
        batches, "media_id long, content binary, mime string"
    )


def _feature_bytes_csv(col_name: str):
    return F.concat_ws(
        ",",
        F.transform(
            F.col(col_name),
            lambda x: F.round(x.cast("double") * 255).cast("int").cast("string"),
        ),
    )


def x13_multimodal_pipeline(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """meta → resize → decode → frame-sample over a binary media column;
    the metadata-only path (media_meta: codegen byte length + content
    hash, no decode) and a typed-metadata JSON extract join in alongside
    the Arrow-batched kernels, so the one query covers both the cheap
    and the decode paths of the multimodal surface."""
    e = table(spark, sf, "events").filter(F.col("event_id") < 200)
    media = M.attach_binary(e, "props", "event_id", mime="image/fake")
    meta = M.media_meta(media).select("media_id", "content_hash")
    k = e.select(
        F.col("event_id").cast("long").alias("media_id"),
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )
    # resized feeds TWO Arrow consumers (decode + frame sampling);
    # without the barrier each re-ran the resize pass over the media
    # bytes (round 13 — the multi-consumer barrier policy; tiny frame,
    # one row per media)
    import time as _time

    _t0 = _time.time()
    resized = M.resize_media(media, 64, 64).select(
        "media_id", "content", "mime"
    ).localCheckpoint()
    _mark(_stage_secs, "resize", _t0)
    decoded = M.decode_media(resized)
    frames = M.sample_frames(resized, max_frames=3)
    # round-10 zero-slot promotion: the spectral-audio family over the
    # planted two-tone WAV rows (contract at _x13_tone_samples) — the
    # REAL RIFF decode + rfft features + spectrogram pHash run per
    # media_id; the oracle re-derives every value in closed form
    ids = e.select(F.col("event_id").cast("long").alias("media_id"))
    wav = _x13_planted_wav(ids, twin=False)
    twin = _x13_planted_wav(ids, twin=True)
    # ONE decode of each planted tone family (round 13 — VERDICT r12
    # #7, guide §4): the baseline plan synthesized + decoded the SAME
    # wav bytes in four Arrow passes (decode_media for the time-domain
    # columns, audio_spectral_features, audio_phash for the output
    # columns, audio_phash again for the banding input) and the twin in
    # two. audio_profile emits all three families from one decode;
    # localCheckpoint (tiny: one row per media) lets the output chain
    # AND the banding path read the same materialization. The
    # time-domain columns ride feature[] exactly as before (round 10):
    # feature[1] = duration (exact — 2⁻⁵ vs 2⁻⁴ s), feature[2] = 6dp
    # rms, pinned at 1e-4 fixed point against the closed form
    # sqrt((A1² + A2²)/2)/32768 (amplitudes planted per row).
    _t0 = _time.time()
    prof = M.audio_profile(wav).localCheckpoint()
    _mark(_stage_secs, "audio_profile", _t0)
    _t0 = _time.time()
    tph = M.audio_phash(twin).select("media_id", "phash").localCheckpoint()
    _mark(_stage_secs, "twin_phash", _t0)
    # round-11 zero-slot promotion (VERDICT r10 #4): the near-dup
    # BANDING path itself — each planted row's REAL pigeonhole band
    # join + popcount verify (dedup.simhash_neardup_pairs, the exact
    # machinery image/audio_neardup_pairs run) against its twin at
    # id+1000. Audio: the twin is the half-volume (phash-identical) or
    # k-shifted (hamming >= 9 over all 200 ids — measured, margin 5
    # over the max_hamming=4 verify) tone, so the oracle's closed form
    # is media_id % 4 <> 1. Image: the twin is the same fake-mime bytes
    # (even ids) or corrupted bytes (odd ids — one appended 'X'), and
    # the digest-derived phash (md5 little-endian — operators/
    # multimodal._fake_phash) lets DuckDB re-derive the full band table
    # AND the hamming verify bit-for-bit from the content bytes.
    ph_w = prof.select("media_id", F.col("phash").alias("simhash"))
    ph_t = tph.select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.col("phash").alias("simhash"),
    )
    apairs = D.simhash_neardup_pairs(
        ph_w.unionByName(ph_t), "media_id", max_hamming=4
    )
    audio_band = apairs.filter(
        F.col("id_b") == F.col("id_a") + 1000
    ).select(F.col("id_a").alias("media_id"), F.lit(True).alias("_ab"))
    img_twin = media.select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.when(F.col("media_id") % 2 == 0, F.col("content"))
        .otherwise(F.concat(F.col("content"), F.lit(b"X")))
        .alias("content"),
        "mime",
    )
    ipairs = M.image_neardup_pairs(
        media.unionByName(img_twin), max_hamming=4
    )
    img_band = ipairs.filter(
        F.col("id_b") == F.col("id_a") + 1000
    ).select(F.col("id_a").alias("media_id"), F.lit(True).alias("_ib"))
    audio = (
        prof
        .join(
            tph.select("media_id", F.col("phash").alias("phash2")),
            "media_id",
        )
        .join(audio_band, "media_id", "left")
        .join(img_band, "media_id", "left")
        .select(
            "media_id",
            F.round("spec_centroid_hz").cast("long").alias(
                "spec_centroid_hzi"
            ),
            F.round("spec_bandwidth_hz").cast("long").alias(
                "spec_bandwidth_hzi"
            ),
            F.round("spec_rolloff_hz").cast("long").alias(
                "spec_rolloff_hzi"
            ),
            F.round("dominant_hz").cast("long").alias("spec_dominant_hzi"),
            (F.col("phash") == 0).alias("audio_phash_zero"),
            (F.col("phash") == F.col("phash2")).alias("audio_twin_same"),
            F.round(F.element_at("feature", 1) * 1000000)
            .cast("long")
            .alias("audio_dur_fp"),
            F.round(F.element_at("feature", 2) * 10000)
            .cast("long")
            .alias("audio_rms_fp4"),
            F.coalesce(F.col("_ab"), F.lit(False)).alias(
                "audio_band_neardup"
            ),
            F.coalesce(F.col("_ib"), F.lit(False)).alias(
                "image_band_neardup"
            ),
        )
    )
    if _stage_secs is not None:
        # bench attribution pass (VERDICT r10 #2) — component sub-plan
        # walls; overlap caveat on _probe. Since round 13 the audio
        # decode cost lives in the eager audio_profile/twin_phash marks
        # above; the audio_* probe keys are kept (only-added rule) but
        # now time checkpoint reads, not decodes.
        _probe(_stage_secs, "img_decode", decoded)
        _probe(_stage_secs, "img_frames", frames)
        _probe(_stage_secs, "meta_json", meta.join(k, "media_id"))
        _probe(
            _stage_secs, "audio_spectral",
            prof.select("media_id", "spec_centroid_hz", "spec_bandwidth_hz",
                        "spec_rolloff_hz", "spec_flatness", "dominant_hz"),
        )
        _probe(_stage_secs, "audio_td", prof.select("media_id", "feature"))
        _probe(
            _stage_secs,
            "audio_phash",
            prof.select("media_id", "phash").unionByName(tph),
        )
    return (
        decoded.join(frames, "media_id")
        .join(meta, "media_id")
        .join(k, "media_id")
        .join(audio, "media_id")
        .select(
            "media_id",
            "mime",
            "n_bytes",
            "content_hash",
            "k_value",
            "width",
            "height",
            "n_frames",
            _feature_bytes_csv("feature").alias("feature_bytes"),
            "frame_idx",
            _feature_bytes_csv("frame_feature").alias("frame_feature_bytes"),
            "spec_centroid_hzi",
            "spec_bandwidth_hzi",
            "spec_rolloff_hzi",
            "spec_dominant_hzi",
            "audio_phash_zero",
            "audio_twin_same",
            "audio_dur_fp",
            "audio_rms_fp4",
            "audio_band_neardup",
            "image_band_neardup",
        )
        .orderBy("media_id", "frame_idx")
    )


_FEAT_CSV = " || ',' || ".join(
    f"CAST({_hexbyte('h', i)} AS VARCHAR)" for i in range(3, 11)
)
_FRAME_FEAT_CSV = " || ',' || ".join(
    f"CAST({_hexbyte('fh', i)} AS VARCHAR)" for i in range(0, 8)
)


def _bits64_sql(hexvar: str) -> str:
    """64-char '0'/'1' string of the LITTLE-ENDIAN int64 built from the
    first 8 bytes of a hex digest — bit i (position i+1) = bit i%8 of
    byte i//8, exactly multimodal._fake_phash's int.from_bytes(...,
    'little') mapping, so simhash_bands' bit ranges are substrings."""
    return " || ".join(
        f"(CASE WHEN ({_hexbyte(hexvar, i // 8)} >> {i % 8}) & 1 = 1 "
        "THEN '1' ELSE '0' END)"
        for i in range(64)
    )


# simhash_bands with max_hamming=4: 5 bands of width 64//5=12; the last
# band takes the remainder bits [48, 64).
_X13_BAND_EQ = " OR ".join(
    f"(substr(i.ba, {12 * b + 1}, {12 if b < 4 else 16}) = "
    f"substr(i.bb, {12 * b + 1}, {12 if b < 4 else 16}))"
    for b in range(5)
)

X13_SQL = f"""
WITH m AS (SELECT CAST(event_id AS BIGINT) AS media_id, md5(props) AS h,
                  CAST(octet_length(encode(props)) AS BIGINT) AS n_bytes
           FROM events WHERE event_id < 200),
d AS (SELECT media_id, h, n_bytes,
             CAST(16 + {_hexbyte('h', 0)} % 240 AS INTEGER) AS width,
             CAST(16 + {_hexbyte('h', 1)} % 240 AS INTEGER) AS height,
             CAST(1 + {_hexbyte('h', 2)} % 8 AS INTEGER) AS n_frames,
             {_FEAT_CSV} AS feature_bytes
      FROM m),
idx AS (SELECT *, least(3, n_frames) AS take,
               unnest(generate_series(0, least(3, n_frames) - 1)) AS j
        FROM d),
fr AS (SELECT *, CAST((j * n_frames) // take AS INTEGER) AS frame_idx FROM idx),
withfh AS (SELECT *, md5(h || ':' || CAST(frame_idx AS VARCHAR)) AS fh FROM fr),
aud AS (
  -- planted-tone closed forms (contract at _x13_tone_samples): the
  -- Spark side MEASURES these with a real rfft / real PCM stats over
  -- real WAV bytes
  SELECT media_id,
         (media_id % 4 = 0) AS silent,
         3 + media_id % 5 AS k1,
         9 + media_id % 7 AS k2,
         (media_id % 4 <> 1) AS twin_same,
         CASE media_id % 8
           WHEN 0 THEN 8000.0 WHEN 1 THEN 8700.0 WHEN 2 THEN 9350.0
           WHEN 3 THEN 9550.0 WHEN 4 THEN 10200.0 WHEN 5 THEN 10400.0
           WHEN 6 THEN 11050.0 ELSE 11750.0 END AS amp
  FROM m),
imgh AS (
  -- image fake-phash banding twin: identical bytes for even ids, one
  -- appended 'X' for odd — md5 is the _fake_phash digest, so the band
  -- table and popcount verify re-derive from the content bytes
  SELECT CAST(event_id AS BIGINT) AS media_id, md5(props) AS ha,
         CASE WHEN CAST(event_id AS BIGINT) % 2 = 0 THEN md5(props)
              ELSE md5(props || 'X') END AS hb
  FROM events WHERE event_id < 200),
ibits AS (SELECT media_id, {_bits64_sql('ha')} AS ba,
                 {_bits64_sql('hb')} AS bb
          FROM imgh)
SELECT w.media_id, 'image/fake' AS mime, w.n_bytes,
       w.h AS content_hash,
       CAST(json_extract_string(e.props, '$.k') AS INTEGER) AS k_value,
       w.width, w.height, w.n_frames,
       w.feature_bytes, w.frame_idx, {_FRAME_FEAT_CSV} AS frame_feature_bytes,
       CAST(CASE WHEN a.silent THEN 0
                 ELSE round(32.0 * (4 * a.k1 + a.k2) / 5.0) END AS BIGINT)
         AS spec_centroid_hzi,
       CAST(CASE WHEN a.silent THEN 0
                 ELSE round(64.0 * (a.k2 - a.k1) / 5.0) END AS BIGINT)
         AS spec_bandwidth_hzi,
       CAST(CASE WHEN a.silent THEN 0 ELSE 32 * a.k2 END AS BIGINT)
         AS spec_rolloff_hzi,
       CAST(CASE WHEN a.silent THEN 0 ELSE 32 * a.k1 END AS BIGINT)
         AS spec_dominant_hzi,
       a.silent AS audio_phash_zero,
       a.twin_same AS audio_twin_same,
       CAST(CASE WHEN a.silent THEN 62500 ELSE 31250 END AS BIGINT)
         AS audio_dur_fp,
       CAST(CASE WHEN a.silent THEN 0
                 ELSE round(sqrt((a.amp * a.amp + (a.amp / 2) * (a.amp / 2))
                                 / 2.0) / 32768.0 * 10000) END AS BIGINT)
         AS audio_rms_fp4,
       -- banding verdicts (round 11): audio in closed form (identical
       -- phash for every non-k-shifted twin -> some band always equal,
       -- hamming 0; the k-shifted twin's measured hamming >= 9 > 4 on
       -- every planted id), image re-derived from the digest bits
       (w.media_id % 4 <> 1) AS audio_band_neardup,
       (({_X13_BAND_EQ}) AND hamming(i.ba, i.bb) <= 4)
         AS image_band_neardup
FROM withfh w JOIN events e ON CAST(e.event_id AS BIGINT) = w.media_id
JOIN aud a ON a.media_id = w.media_id
JOIN ibits i ON i.media_id = w.media_id
ORDER BY w.media_id, w.frame_idx
"""


# --- x14 session windows (batch analogue of streaming sessionization) --------

def x14_session_window(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


X14_SQL = """
WITH o AS (SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
f AS (SELECT *, CASE WHEN prev IS NULL
                       OR ts - prev >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM o),
s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""

# --- x16 approximate aggregates (tolerance-contract hash-match) ---------------
#
# Raw HLL / t-digest outputs can never hash-match across engines, but the
# TOLERANCE CONTRACT can: the Spark side computes BOTH the approximate
# aggregates and their exact counterparts in one grouped aggregation, then
# emits the exact values plus flags asserting the approx results landed
# within bound (HLL: |approx-exact|/exact <= 15%, ~3 sigma at the default
# rsd=0.05; percentile_approx: between the exact p40 and p60 — a RANK
# bound, the error model t-digest actually guarantees). The oracle emits
# the exact values plus literal TRUE flags, so a drifting sketch breaks
# the hash. The approx path still executes on every run.

def x16_approx_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL) + approx percentile, hash-checked via
    the tolerance contract above (also property-tested vs exact in unit
    tests at multiple scales).

    Since the quantile-sketch promotion (round 6, zero slots — the x24
    extra-columns pattern) each row also carries ``qsk_p50_millis`` /
    ``qsk_p99_millis``: operators/sketches.qsk quantile estimates of
    ``value`` fixed-point-scaled to millis (the documented contract for
    fractional measures). Unlike the tolerance-gated HLL/t-digest
    columns, the sketch construction is pure INTEGER arithmetic, so
    DuckDB re-derives the log2 bucket table, the cumulative rank rule
    and both estimates bit-for-bit — an approximate structure under an
    EXACT cross-engine pin.

    KMV promotion (round 9, zero slots — the same pattern): each row
    also carries the theta-sketch family
    (operators/sketches.kmv_build/kmv_estimate/kmv_set_estimates) over
    the type's distinct USER-DAYS (user_id : epoch-day — per-type user
    SETS are identical by generator construction, user-day sets are
    not): ``kmv_theta`` (the k-th smallest 60-bit md5 hash, k=8 —
    saturated at every SF), ``kmv_user_days`` (the floor-divide
    distinct estimate) and ``kmv_inter_click`` / ``kmv_diff_click``
    (set-algebra estimates vs the 'click' type's sketch under the
    common theta — the capability HLL lacks). Every decision is
    integer (ranking, theta min, DECIMAL(38,0) DIV), so DuckDB
    re-derives the whole sketch AND all four columns bit-for-bit —
    the approximate-structure-under-EXACT-pin contract again, not the
    tolerance gate."""
    from ..operators import sketches as QS

    e = table(spark, sf, "events")
    millis = e.select(
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("bigint").alias("_v"),
    )
    qp = (
        QS.qsk_quantiles(
            QS.qsk_build(millis, "_v", ["event_type"]),
            [0.5, 0.99],
            ["event_type"],
        )
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("q") == 0.5, F.col("quantile_estimate"))
            ).alias("qsk_p50_millis"),
            F.max(
                F.when(F.col("q") == 0.99, F.col("quantile_estimate"))
            ).alias("qsk_p99_millis"),
        )
    )
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("_hll_users"),
        F.percentile_approx("value", 0.5).alias("_approx_median"),
        F.count_distinct("user_id").alias("exact_users"),
        F.expr("percentile(value, 0.4)").alias("_p40"),
        F.expr("percentile(value, 0.5)").alias("_p50"),
        F.expr("percentile(value, 0.6)").alias("_p60"),
    )
    agg = agg.select(
        "event_type",
        "exact_users",
        F.round("_p50", 4).alias("exact_median_value"),
        (
            F.abs(F.col("_hll_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.15
        )
        .cast("int")
        .alias("hll_within_rel_err"),
        (
            (F.col("_approx_median") >= F.col("_p40"))
            & (F.col("_approx_median") <= F.col("_p60"))
        )
        .cast("int")
        .alias("pctl_within_rank_err"),
    )
    # KMV columns: one sketch per event_type over user-day keys, set
    # algebra vs the 'click' sketch broadcast to every group key
    k_kmv = 8
    keyed = e.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.expr("CAST(CAST(ts AS LONG) DIV 86400 AS STRING)"),
        ).alias("user_day"),
    )
    # the sketch feeds four consumers (estimate, click filter, group
    # list, set-algebra `a` side) — materialize it once (the x18 `asg`
    # localCheckpoint pattern) instead of re-running the distinct-hash
    # pass + two rank windows per consumer
    sk = QS.kmv_build(
        keyed, "user_day", ["event_type"], k=k_kmv
    ).localCheckpoint()
    kest = QS.kmv_estimate(sk, ["event_type"], k=k_kmv).select(
        "event_type",
        F.col("theta").alias("kmv_theta"),
        F.col("distinct_estimate").alias("kmv_user_days"),
    )
    # broadcast the (≤k-row) click sketch under every group key via the
    # _zero_key non-foldable equi-join (relevance._zero_key): a plain
    # crossJoin of the two bounded dims compiles to the
    # BroadcastNestedLoopJoin the plan guard forbids
    from ..operators.relevance import _zero_key

    click_sk = sk.filter(F.col("event_type") == "click").select(
        "hv", _zero_key("hv").alias("_zk")
    )
    ref = (
        sk.select("event_type")
        .distinct()
        .withColumn("_zk", _zero_key("event_type"))
        .join(click_sk, "_zk")
        .drop("_zk")
    )
    ksets = QS.kmv_set_estimates(sk, ref, ["event_type"], k=k_kmv).select(
        "event_type",
        F.col("intersect_estimate").alias("kmv_inter_click"),
        F.col("diff_estimate").alias("kmv_diff_click"),
    )
    # LEFT join: a group whose values are all NULL builds no sketch
    # buckets — it must keep its exact/HLL columns (the pre-promotion
    # contract) with NULL sketch estimates, not vanish from the output
    return (
        agg.join(qp, "event_type", "left")
        .join(kest, "event_type", "left")
        .join(ksets, "event_type", "left")
        .select(
            "event_type",
            "exact_users",
            "exact_median_value",
            "hll_within_rel_err",
            "pctl_within_rank_err",
            "qsk_p50_millis",
            "qsk_p99_millis",
            "kmv_theta",
            "kmv_user_days",
            "kmv_inter_click",
            "kmv_diff_click",
        )
        .orderBy("event_type")
    )


X16_SQL = """
WITH base AS (
  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
qb AS (
  SELECT event_type,
         CASE WHEN v < 0 THEN -((abs(v) >> s) << s)
              ELSE (abs(v) >> s) << s END AS qb
  FROM (SELECT event_type, v,
               greatest(length(bin(abs(v))) - 8, 0) AS s
        FROM base)),
sk AS (SELECT event_type, qb, count(*) AS cnt FROM qb GROUP BY 1, 2),
c AS (
  SELECT event_type, qb,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY qb) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS tot
  FROM sk),
qq AS (
  SELECT event_type, CAST(q AS DOUBLE) AS q, min(qb) AS est
  FROM c CROSS JOIN (SELECT unnest([0.5, 0.99]) AS q) u
  WHERE cum >= ceil(q * tot) GROUP BY 1, 2),
qp AS (
  SELECT event_type,
         max(CASE WHEN q = 0.5 THEN est END) AS qsk_p50_millis,
         max(CASE WHEN q = 0.99 THEN est END) AS qsk_p99_millis
  FROM qq GROUP BY 1),
khv AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5('kmv:' || coalesce(
             CAST(user_id AS VARCHAR) || ':' ||
             CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR),
             '')), 1, 15)) AS BIGINT) AS hv
  FROM events),
krk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
  FROM khv),
ksk AS (SELECT event_type, hv FROM krk WHERE r <= 8),
kagg AS (SELECT event_type, count(*) AS n, max(hv) AS mx FROM ksk GROUP BY 1),
kth AS (
  SELECT event_type,
         CASE WHEN n < 8 THEN 1152921504606846976 ELSE mx END AS theta_a,
         CASE WHEN n < 8 THEN n ELSE 7 END AS nb
  FROM kagg),
cth AS (
  SELECT CASE WHEN count(*) < 8 THEN 1152921504606846976
              ELSE max(hv) END AS theta_b
  FROM ksk WHERE event_type = 'click'),
kj AS (SELECT event_type, theta_a, nb, least(theta_a, theta_b) AS ti
       FROM kth, cth),
kin AS (
  SELECT j.event_type, count(*) AS n_inter
  FROM kj j
  JOIN ksk a ON a.event_type = j.event_type AND a.hv < j.ti
  JOIN ksk c ON c.event_type = 'click' AND c.hv = a.hv
  GROUP BY 1),
kdf AS (
  SELECT j.event_type, count(*) AS n_da
  FROM kj j
  JOIN ksk a ON a.event_type = j.event_type AND a.hv < j.ti
  WHERE NOT EXISTS (SELECT 1 FROM ksk c
                    WHERE c.event_type = 'click' AND c.hv = a.hv)
  GROUP BY 1),
kmv AS (
  SELECT kj.event_type,
         kj.theta_a AS kmv_theta,
         CAST((kj.nb::HUGEINT * 1152921504606846976::HUGEINT)
              // greatest(kj.theta_a, 1)::HUGEINT AS BIGINT)
           AS kmv_user_days,
         CAST((coalesce(kin.n_inter, 0)::HUGEINT
               * 1152921504606846976::HUGEINT)
              // greatest(kj.ti, 1)::HUGEINT AS BIGINT)
           AS kmv_inter_click,
         CAST((coalesce(kdf.n_da, 0)::HUGEINT
               * 1152921504606846976::HUGEINT)
              // greatest(kj.ti, 1)::HUGEINT AS BIGINT)
           AS kmv_diff_click
  FROM kj LEFT JOIN kin USING (event_type) LEFT JOIN kdf USING (event_type))
SELECT e.event_type,
       count(DISTINCT e.user_id) AS exact_users,
       round(quantile_cont(e.value, 0.5), 4) AS exact_median_value,
       1 AS hll_within_rel_err,
       1 AS pctl_within_rank_err,
       any_value(qp.qsk_p50_millis) AS qsk_p50_millis,
       any_value(qp.qsk_p99_millis) AS qsk_p99_millis,
       any_value(kmv.kmv_theta) AS kmv_theta,
       any_value(kmv.kmv_user_days) AS kmv_user_days,
       any_value(kmv.kmv_inter_click) AS kmv_inter_click,
       any_value(kmv.kmv_diff_click) AS kmv_diff_click
FROM events e
LEFT JOIN qp ON e.event_type = qp.event_type
LEFT JOIN kmv ON e.event_type = kmv.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""


# --- x18 IVF approximate top-k (scale path) -----------------------------------
#
# Through round 6 the registry query used train_iters=0 (deterministic
# lowest-id centroids) because float centroid averaging was
# engine-summation-order-specific and not cross-engine hashable. The
# round-7 quantized Lloyd contract (kmeans_centroids quantize_dp)
# removed that restriction: the registry IVF now serves from a
# genuinely TRAINED 16-cell index and the ENTIRE train→assign→probe→
# rescore pipeline is value-hash-checked against DuckDB — three
# unrolled Lloyd rounds, assignment argmax (first-max tie), probe
# ranking (stable sort), candidate pruning and exact rescore all
# included. The unquantized trainer stays pinned by
# test_ivf_trained_recall / test_kmeans_centroids_properties.
#
# Float robustness (closed in round 5, ADVICE r3 item): EVERY
# cross-engine float decision — threshold cuts (x06/x17), rank order
# (x07/x18), cluster assignment and probe selection (x18), hyperplane
# signs (x17) — is made on the 4dp-ROUNDED similarity/projection in
# both engines, with index/id tiebreaks after it. A near-tie inside
# float-summation noise therefore resolves identically everywhere,
# while any real kernel regression ≥ 1e-4 still breaks the hash.

def x18_ivf_topk(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """IVF probe-and-rescore: coarse-quantize the corpus into 16 cells
    (TRAINED — since round 7 the index comes from 3 quantized Lloyd
    rounds, see below), probe the 4 cells nearest each query,
    exact-rescore only those candidates. The corpus is never shuffled;
    the probe table broadcasts.

    Round-6 zero-slot promotion: ``topk_eval`` — the retrieval-quality
    acceptance gate for every ANN trade-off (recall@k, MRR) — runs the
    IVF result against the exact brute-force truth (``cosine_topk``,
    x07's path) and each result row carries its query's eval columns
    (``n_truth``/``n_hit``/``recall``/``first_hit_rank``/
    ``reciprocal_rank``). DuckDB re-derives BOTH result lists and the
    whole eval — including the (query, neighbor) best-rank collapse
    that keeps duplicate candidates from inflating recall past 1.

    Round-7 zero-slot promotion: the distributed Lloyd TRAINER
    (``kmeans_centroids``, the one remaining heavyweight operator
    without an independent-engine oracle) runs 3 full rounds over the
    corpus with ``quantize_dp=7`` — per-round 4dp-rounded argmax
    assignment, quantized per-dim means, norm-of-quantized-mean
    renormalization (the x31/x33 recipe) — and every result row carries
    its neighbor's trained ``cell_id``, the corpus population of that
    cell (``cell_n``, pinning the assignment of EVERY corpus vector,
    not just the ~50 surfaced neighbors), and ``cent_sim`` (the
    4dp dot against the winning trained centroid — a centroid
    coordinate drift ≥ ~1e-4 anywhere breaks the hash). DuckDB unrolls
    all three Lloyd rounds as MATERIALIZED CTEs over the same
    L2-normalized vectors.

    On top of the trained cells, SemDeDup itself (Abbas et al. 2023 —
    ``semantic_neardup_pairs`` within-cell exact-cosine pairs at 0.5 —
    chosen so the CC label propagation converges in a few rounds at
    test scale; the oracle still re-derives EVERY within-cell cosine —
    feeding ``neardup_clusters``) is cross-engine pinned:
    ``sem_rep`` is each neighbor's semantic-component representative
    (min vec_id; itself when unpaired). The oracle re-derives the
    within-cell pair graph in SQL and closes it with a recursive-CTE
    transitive closure — a different algorithm from the Spark side's
    label propagation + pointer jumping, so the pin is cross-ALGORITHM
    too (the x31 cc_label recipe, now over DATA-derived float pairs
    rather than a planted integer graph)."""
    import time

    emb = table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    # Stage dependency graph: brute-force truth needs no centroids;
    # IVF probe / corpus assignment / SemDeDup all need the ONE trained
    # index. Baseline ran all five eager stages back to back (kmeans
    # 2.0 + ivf 1.8 + brute 0.5 + assign 0.6 + semdedup 2.5 s at
    # sf0.1); now brute-force truth overlaps the training, and the
    # three centroid consumers overlap each other (guide §2.6 via
    # _overlap — every stage is partitioning-invariant by the quantized
    # contracts). stage_secs walls OVERLAP (the _probe caveat).
    def _train_stage():
        t0 = time.time()
        # ONE quantized training serves everything below: the IVF
        # probes a genuinely TRAINED index (until round 7 the registry
        # IVF used lowest-id centroids because float training wasn't
        # cross-engine hashable — the quantized Lloyd contract removed
        # that restriction, so the trained-IVF path is oracle-verified
        # END-TO-END), the same centroids cell the corpus for the
        # per-row columns, and SemDeDup pairs within the same cells.
        cent = S.kmeans_centroids(emb, k=16, n_iters=3, quantize_dp=7)
        _mark(_stage_secs, "kmeans_train", t0)

        def _ivf_stage():
            t1 = time.time()
            # localCheckpoint: multiple consumers (topk_eval, rrf_fuse,
            # the output join) — without the barrier every consumer
            # would re-execute the corpus-scale probe/rescore lineage.
            # Result-sized (queries x k rows).
            approx = S.ivf_topk(
                queries, emb, k=10, n_centroids=16, n_probe=4,
                centroids=cent,
            ).localCheckpoint()
            _mark(_stage_secs, "ivf_probe", t1)
            return approx

        def _assign_stage():
            t1 = time.time()
            # localCheckpoint: asg is consumed TWICE below (row side +
            # cell_n groupBy side of the self-join) — without it the
            # kmeans_assign mapInPandas pass re-executes over the
            # corpus per consumer (the x31 multi-consumer lesson)
            asg = S.kmeans_assign(emb, cent).localCheckpoint()
            _mark(_stage_secs, "assign", t1)
            return asg

        def _sem_stage():
            t1 = time.time()
            # semantic_neardup_pairs re-assigns the corpus internally
            # rather than joining `asg` back: the assignment is one
            # NARROW broadcast-centroid Arrow pass (no exchange),
            # whereas reusing asg would cost a corpus-wide join
            # shuffle — recompute is the cheaper side of that trade at
            # every scale, and both run the same _argmax_cells kernel
            # so they cannot disagree
            pairs = S.semantic_neardup_pairs(
                emb, threshold=0.5, centroids=cent
            )
            comp = D.neardup_clusters(pairs).select(
                F.col("id").alias("neighbor_id"),
                F.col("cluster_id").alias("_sem"),
            )
            _mark(_stage_secs, "semdedup_cc", t1)
            return comp

        return cent, *_overlap(_ivf_stage, _assign_stage, _sem_stage)

    def _truth_stage():
        t0 = time.time()
        truth = S.cosine_topk(queries, emb, k=10).localCheckpoint()
        _mark(_stage_secs, "brute_truth", t0)
        return truth

    (_cent, approx, asg, comp), truth = _overlap(
        _train_stage, _truth_stage
    )
    ev = S.topk_eval(approx, truth)
    cells = (
        asg.join(
            asg.groupBy("cell_id").agg(F.count("*").alias("cell_n")),
            "cell_id",
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cell_id",
            "cell_n",
            "cent_sim",
        )
        .join(comp, "neighbor_id", "left")
        .withColumn(
            "sem_rep",
            F.coalesce(F.col("_sem"), F.col("neighbor_id")).cast("long"),
        )
        .drop("_sem")
    )
    # rrf_fuse (round-8 zero-slot promotion): hybrid-retrieval fusion of
    # the IVF list with the exact brute-force list — integer fixed-point
    # 1/(60+rank) contributions summed per (query, neighbor), re-ranked.
    # Each surfaced row carries its fused score and fused rank; truth-
    # only candidates compete in the window, so the rrf_rank column pins
    # the WHOLE fusion, not just the surfaced rows.
    rrf = S.rrf_fuse([approx, truth])
    # hard-negative mining (round-9 zero-slot promotion — the DPR
    # bi-encoder recipe, operators/similarity.mine_hard_negatives):
    # positives = each query's exact top-3 (truth rank <= 3); the IVF
    # candidate list re-ranks with them removed — one anti-join + one
    # query window over result-sized rows. NULL hard_neg_rank marks a
    # candidate that IS a positive, so the column pins both arms.
    pos = truth.filter(F.col("rank") <= 3).select("query_id", "neighbor_id")
    hneg = S.mine_hard_negatives(approx, pos).select(
        "query_id", "neighbor_id", "hard_neg_rank"
    )
    return (
        approx.join(ev, "query_id")
        .join(cells, "neighbor_id")
        .join(rrf, ["query_id", "neighbor_id"])
        .join(hneg, ["query_id", "neighbor_id"], "left")
        .orderBy("query_id", "rank")
    )


def _x18_kmeans_ctes(
    k: int = 8, n_iters: int = 3, dp: int = 7, sem_threshold: float = 0.5
) -> str:
    # Unrolled Lloyd rounds (the x31/x33 MATERIALIZED-CTE recipe: each
    # round references its predecessor several times, and CTE inlining
    # would re-expand the chain exponentially). `en` = L2-normalized
    # vectors (_to_matrix normalizes every Arrow batch, so the oracle
    # must train on the same normalized coordinates); `kd` = one
    # (vec_id, dim, coord) row per dimension for the per-dim cluster
    # means. Per round, exactly the operator's quantized contract:
    # 4dp-rounded argmax assignment (first-max tie -> lowest idx),
    # round(mean, dp), norm OF the rounded mean, round(mean/norm, dp);
    # empty clusters keep the previous centroid verbatim.
    out = f""",
en AS MATERIALIZED (
  SELECT vec_id,
         list_transform(v, x -> x / (CASE WHEN sqrt(list_dot_product(v, v)) = 0
                                          THEN 1.0
                                          ELSE sqrt(list_dot_product(v, v)) END))
           AS v
  FROM e),
kd AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x FROM en),
kc0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v
  FROM (SELECT vec_id, v FROM en ORDER BY vec_id LIMIT {k}))"""
    for r in range(1, n_iters + 1):
        out += f""",
ka{r} AS MATERIALIZED (
  SELECT vec_id, idx AS cluster FROM (
    SELECT en.vec_id, c.idx,
           row_number() OVER (PARTITION BY en.vec_id
                              ORDER BY round(list_dot_product(en.v, c.v), 4)
                                         DESC,
                                       c.idx) AS rn
    FROM en CROSS JOIN kc{r - 1} c)
  WHERE rn = 1),
km{r} AS MATERIALIZED (
  SELECT a.cluster, d.dim, round(sum(d.x) / count(*), {dp}) AS mv
  FROM ka{r} a JOIN kd d USING (vec_id)
  GROUP BY a.cluster, d.dim),
kn{r} AS MATERIALIZED (
  SELECT cluster, sqrt(sum(mv * mv)) AS nrm FROM km{r} GROUP BY cluster),
kc{r} AS MATERIALIZED (
  SELECT p.idx, coalesce(u.v, p.v) AS v
  FROM kc{r - 1} p LEFT JOIN (
    SELECT m.cluster AS idx,
           list(round(m.mv / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END), {dp})
                ORDER BY m.dim) AS v
    FROM km{r} m JOIN kn{r} n USING (cluster)
    GROUP BY m.cluster) u USING (idx))"""
    out += f""",
fasg AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, CAST(idx AS INTEGER) AS cell_id,
         sim AS cent_sim
  FROM (
    SELECT en.vec_id, c.idx, round(list_dot_product(en.v, c.v), 4) AS sim,
           row_number() OVER (PARTITION BY en.vec_id
                              ORDER BY round(list_dot_product(en.v, c.v), 4)
                                         DESC,
                                       c.idx) AS rn
    FROM en CROSS JOIN kc{n_iters} c)
  WHERE rn = 1),
fcn AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS cell_n
        FROM fasg GROUP BY cell_id),
-- SemDeDup: within-cell exact-cosine pairs (strict > on the 4dp value,
-- the operator's emitted contract) ...
sp AS MATERIALIZED (
  SELECT fa.neighbor_id AS a, fb.neighbor_id AS b
  FROM fasg fa
  JOIN fasg fb ON fa.cell_id = fb.cell_id
              AND fa.neighbor_id < fb.neighbor_id
  JOIN en ea ON ea.vec_id = fa.neighbor_id
  JOIN en eb ON eb.vec_id = fb.neighbor_id
  WHERE round(list_dot_product(ea.v, eb.v), 4) > {sem_threshold!r}),
-- ... closed by recursive transitive closure (DISTINCT-over-UNION-ALL,
-- not plain UNION, inside the WITH RECURSIVE clause — the x31 lesson)
sue AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM sp UNION ALL SELECT b AS a, a AS b FROM sp)),
sreach AS (
  SELECT vec_id AS a, vec_id AS b FROM en
  UNION
  SELECT r.a, u.b FROM sreach r JOIN sue u ON r.b = u.a),
srep AS MATERIALIZED (
  SELECT a AS node, CAST(min(b) AS BIGINT) AS sem_rep
  FROM sreach GROUP BY a)"""
    return out


X18_SQL = f"""
WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings)
{_x18_kmeans_ctes(k=16, n_iters=3, dp=7)},
-- the IVF serves from the TRAINED index: corpus assignment IS fasg
-- (the same 4dp-dot argmax vs the final trained centroids), probes
-- rank the same trained centroids per query
asg AS (
  SELECT f.neighbor_id, e.v AS cv, f.cell_id AS cluster
  FROM fasg f JOIN e ON e.vec_id = f.neighbor_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, idx AS cluster FROM (
    SELECT q.query_id, c.idx,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round(list_dot_product(qn.v, c.v), 4)
                                         DESC,
                                       c.idx) AS rn
    FROM q JOIN en qn ON qn.vec_id = q.query_id
    CROSS JOIN kc3 c)
  WHERE rn <= 4),
cand AS (SELECT p.query_id, a.neighbor_id, a.cv
         FROM probes p JOIN asg a ON a.cluster = p.cluster
         WHERE a.neighbor_id <> p.query_id),
scored AS (SELECT c.query_id, c.neighbor_id,
                  round(list_cosine_similarity(q.qv, c.cv), 4) AS sim
           FROM cand c JOIN q ON q.query_id = c.query_id),
r AS (SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id)
                  AS INTEGER) AS rank
      FROM scored),
ak AS (SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 10),
tscored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_cosine_similarity(q.qv, e.v), 4) AS sim
            FROM q JOIN e ON e.vec_id <> q.query_id),
tr AS (SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id)
                   AS INTEGER) AS rank
       FROM tscored QUALIFY rank <= 10),
ha AS (SELECT query_id, neighbor_id, min(rank) AS ar
       FROM ak GROUP BY query_id, neighbor_id),
hits AS (SELECT t.query_id,
                CAST(count(*) AS BIGINT) AS n_hit,
                CAST(min(h.ar) AS BIGINT) AS first_hit_rank,
                CAST(sum(CAST(round(1000000.0 * ln(2.0) / ln(h.ar + 1.0))
                              AS BIGINT)) AS BIGINT) AS dcg_fp
         FROM tr t JOIN ha h USING (query_id, neighbor_id)
         GROUP BY t.query_id),
pt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth,
              CAST(sum(CAST(round(1000000.0 * ln(2.0) / ln(rank + 1.0))
                            AS BIGINT)) AS BIGINT) AS idcg_fp
       FROM tr GROUP BY query_id),
ev AS (SELECT pt.query_id, pt.n_truth,
              coalesce(h.n_hit, 0) AS n_hit,
              round(coalesce(h.n_hit, 0) / CAST(pt.n_truth AS DOUBLE), 4)
                AS recall,
              h.first_hit_rank,
              round(coalesce(1.0 / h.first_hit_rank, 0.0), 4)
                AS reciprocal_rank,
              round(CAST(coalesce(h.dcg_fp, 0) AS DOUBLE)
                    / pt.idcg_fp, 4) AS ndcg
       FROM pt LEFT JOIN hits h USING (query_id)),
-- reciprocal-rank fusion of the IVF and truth lists: exact integer
-- fixed-point 1e9 // (60 + rank) contributions, summed, re-ranked
-- (rrf_fp DESC, neighbor ASC) — truth-only candidates compete too
rrfc AS (
  SELECT query_id, neighbor_id,
         CAST(1000000000 // (60 + rank) AS BIGINT) AS c FROM ak
  UNION ALL
  SELECT query_id, neighbor_id,
         CAST(1000000000 // (60 + rank) AS BIGINT) AS c FROM tr),
rrf AS (
  SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf_fp
  FROM rrfc GROUP BY query_id, neighbor_id),
rrfr AS (
  SELECT query_id, neighbor_id, rrf_fp,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_fp DESC, neighbor_id)
              AS INTEGER) AS rrf_rank
  FROM rrf),
-- hard-negative mining (DPR): IVF candidates that are NOT among the
-- query's exact top-3, re-ranked 1.. in original candidate-rank order
hneg AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rank, neighbor_id)
              AS INTEGER) AS hard_neg_rank
  FROM ak a
  WHERE NOT EXISTS (SELECT 1 FROM tr t
                    WHERE t.query_id = a.query_id
                      AND t.neighbor_id = a.neighbor_id
                      AND t.rank <= 3))
SELECT a.query_id, a.neighbor_id, a.sim, a.rank,
       ev.n_truth, ev.n_hit, ev.recall, ev.first_hit_rank,
       ev.reciprocal_rank, ev.ndcg,
       f.cell_id, fcn.cell_n, f.cent_sim, srep.sem_rep,
       rf.rrf_fp, rf.rrf_rank, hn.hard_neg_rank
FROM ak a JOIN ev USING (query_id)
JOIN fasg f ON f.neighbor_id = a.neighbor_id
JOIN fcn ON fcn.cell_id = f.cell_id
JOIN srep ON srep.node = a.neighbor_id
JOIN rrfr rf ON rf.query_id = a.query_id
            AND rf.neighbor_id = a.neighbor_id
LEFT JOIN hneg hn ON hn.query_id = a.query_id
                 AND hn.neighbor_id = a.neighbor_id
ORDER BY a.query_id, a.rank
"""


# --- x17 LSH-bucketed near-dup (scale path) ------------------------------------
#
# The hyperplanes are deterministic (seeded LCG, plan-build-time Python
# floats), so the full pipeline — sign-bucket assignment, same-bucket
# candidate join, exact cosine verify — is reproducible in SQL by inlining
# the plane constants as literals (repr() round-trips every double
# exactly; both engines parse to the identical bit pattern). Recall < 1
# vs the exact all-pairs x06 remains by construction, but the query's own
# RESULT is exact and value-hash-checked.

def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


_X17_BUCKET = " + ".join(
    f"(CASE WHEN round(list_dot_product(v, {_plane_literal(p)}), 4) > 0"
    f" THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(S._hyperplanes(64, 6))
)

# the multi-table recall knob's SECOND table (lsh_bucketed_pairs_multi
# seeds table t with 42 + 1000*t) — its sign buckets are pinned as the
# x17 `same_bucket_t2` column (round-7 zero-slot promotion)
_X17_BUCKET_T2 = " + ".join(
    f"(CASE WHEN round(list_dot_product(v, {_plane_literal(p)}), 4) > 0"
    f" THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(S._hyperplanes(64, 6, seed=1042))
)

X17_SQL = f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT id, v, {_X17_BUCKET} AS bucket, {_X17_BUCKET_T2} AS bucket2
      FROM e)
SELECT a.id AS id_a, c.id AS id_b,
       round(list_cosine_similarity(a.v, c.v), 4) AS sim,
       (a.bucket2 = c.bucket2) AS same_bucket_t2
FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
WHERE round(list_cosine_similarity(a.v, c.v), 4) > 0.35
ORDER BY id_a, id_b
"""


def x17_lsh_bucketed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Single-table hyperplane-LSH near-dup (sign buckets → same-bucket
    block-decomposed exact cosine verify).

    Round-7 zero-slot promotion: ``same_bucket_t2`` — whether the pair
    ALSO collides in ``lsh_bucketed_pairs_multi``'s second table
    (seed-varied hyperplanes, the multi-table recall knob, previously
    pytest-only) — pins the second table's sign computation
    cross-engine: both engines evaluate the seed-1042 plane dots on the
    same inlined literals and compare the 6-bit bucket keys."""
    emb = table(spark, sf, "embeddings")
    pairs = S.lsh_bucketed_pairs(emb, dim=64, n_planes=6, threshold=0.35)
    planes2 = S._hyperplanes(64, 6, seed=1042)
    b2 = emb.select(
        F.col("vec_id").alias("_id"),
        S.lsh_bucket(S.as_double("embedding"), planes2).alias("_b2"),
    )
    return (
        pairs.join(
            b2.select(F.col("_id").alias("id_a"), F.col("_b2").alias("_b2a")),
            "id_a",
        )
        .join(
            b2.select(F.col("_id").alias("id_b"), F.col("_b2").alias("_b2b")),
            "id_b",
        )
        .withColumn("same_bucket_t2", F.col("_b2a") == F.col("_b2b"))
        .drop("_b2a", "_b2b")
        .orderBy("id_a", "id_b")
    )


# --- x22 skew machinery: salted join + salted two-phase count ------------------

def x22_skew_count(spark: SparkSession, sf: str) -> DataFrame:
    """Both explicit skew fallbacks (operators/skew.py) under the value-
    hash gate: ``salted_join`` (events⋈customer with the hot side salted
    N ways, the build side replicated per salt — a hot key spreads over N
    tasks) feeding ``two_phase_count`` (salted (key, salt) partial
    aggregation, then re-aggregation). Results are identical to a plain
    join + GROUP BY count, which is exactly the oracle."""
    e = table(spark, sf, "events")
    c = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = SK.salted_join(e, c, "user_id", n_salt=8)
    return (
        SK.two_phase_count(joined.select("event_type", "c_mktsegment"), "event_type")
        .select("event_type", F.col("count").alias("n_rows"))
        .orderBy("event_type")
    )


X22_SQL = """
SELECT event_type, count(*) AS n_rows
FROM events JOIN customer ON user_id = c_custkey
GROUP BY event_type ORDER BY event_type
"""

# --- x23 incremental maintenance: MERGE upsert → snapshot diff (CDC) ----------
#
# The incremental-maintenance trio (operators/merge.py) under the value-
# hash gate: a deterministic delta (updates for custkey%10==0, deletes for
# %100==7, inserts at key+1_000_000 for %200==3 — the three residue
# classes are pairwise disjoint) is MERGEd into customer, then
# snapshot_diff extracts the CDC stream between the original and merged
# versions. The oracle states the EXPECTED diff directly from the residue
# classes — an independent formulation, not a SQL transliteration of the
# operators. scd2_from_changes, the third member, is DuckDB-pinned in
# tests/test_merge.py (its interval output is window-shaped, covered
# there at full column width).


def x23_merge_diff(spark: SparkSession, sf: str) -> DataFrame:
    """merge_upsert (one full-outer key join; update/insert/delete in a
    single pass) + snapshot_diff (null-safe full-outer compare → I/U/D
    rows). Both scale shapes: one key-hash exchange per side, codegen
    compare, no second scan of the target."""
    cust = table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    updates = cust.filter(k % 10 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    deletes = cust.filter(k % 100 == 7).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment",
        F.lit(True).alias("is_delete"),
    )
    inserts = cust.filter(k % 200 == 3).select(
        (k + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    delta = updates.unionByName(deletes).unionByName(inserts)
    merged = MG.merge_upsert(cust, delta, ["c_custkey"], delete_col="is_delete")
    return MG.snapshot_diff(cust, merged, ["c_custkey"]).orderBy("c_custkey")


X23_SQL = """
WITH base AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer)
SELECT c_custkey, 'U' AS change,
       c_name AS old_c_name, c_acctbal AS old_c_acctbal,
       c_mktsegment AS old_c_mktsegment,
       c_name AS new_c_name, round(c_acctbal + 100.0, 2) AS new_c_acctbal,
       'UPDATED' AS new_c_mktsegment
FROM base WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey, 'D', c_name, c_acctbal, c_mktsegment, NULL, NULL, NULL
FROM base WHERE c_custkey % 100 = 7
UNION ALL
SELECT c_custkey + 1000000, 'I', NULL, NULL, NULL,
       'new-' || c_name, 0.0, 'NEW'
FROM base WHERE c_custkey % 200 = 3
ORDER BY c_custkey
"""


# --- x24 URL/domain curation: url_stats + blocklist filter --------------------
#
# The synthetic documents contain no URLs, so the query plants
# deterministic doc_id-derived URLs (identically in both engines — the
# x12 PII pattern) covering every host pathology the operator handles:
# plain .com hosts, userinfo+port, a PSL 2-label-suffix host WITH a
# trailing FQDN dot (news.siteN.co.uk.), IPv4 literals, and a dotless
# host. The oracle re-implements the registered-domain resolution —
# including the longest-match probe against the SAME PSL snapshot blob
# (textstats._PSL_BLOB) — in DuckDB SQL, so the lookup itself is
# cross-engine verified, not hardcoded per planted host. The blocklist
# exercises all three match classes: a plain 2-label domain
# (spam-net.biz), a PSL 3-label registered domain (site3.co.uk — under
# the pre-PSL 2-label cut this entry could never match), and an IPv4
# literal (192.168.18.9 — pre-ADVICE-fix it was truncated to '18.9').
#
# Round 6 folds the crawl-frontier half (canonical_url + dedup_urls,
# previously pytest-only) into the same query: each doc gets a planted
# frontier URL whose decoration varies per doc_id — scheme/host case,
# userinfo, default :80 port, param ORDER, tracking params (mixed-case
# UTM_Source=, a VALUELESS fbclid — the ADVICE-r5 regression pair), a
# fragment, and a bare-root '/' path arm — such that distinct raw URLs
# collapse to shared canonical forms ONLY after full canonicalization.
# A doc_id%17 arm plants NULL (no URL: always survives) and a %19 arm a
# non-URL string (passes through untouched, unique → survives). The
# oracle re-derives the whole canonicalization generically in DuckDB
# (regexp scheme/authority/path/query split, userinfo+port strip,
# tracking filter, list_sort of surviving params) and the min-doc_id
# survivor rule — so `frontier_kept` cross-checks dedup_urls' actual
# grouping, not a replanted constant.
#
# Round 6 also folds domain_frequency_cap in: each doc's PRIMARY domain
# (min of its registered-domain set) is capped at 7 docs, best-first by
# n_chars (doc_id tiebreak); `domain_capped` flags survivors. The 13
# newshub domains hold ~n/13 docs each so the cap genuinely bites,
# while %9/%11 docs route to IPv4/localhost primaries (digit/'l' sorts
# below 'n') and NULL-domain docs always survive.
#
# Round 9 folds robots.txt crawl-politeness in (zero slots): each doc's
# frontier URL on its newshub domain runs through the REAL parse_robots
# + filter_robots_disallowed path (operators/robots.py) against planted
# per-domain policies — four arms over k%4 documented on
# _x24_robots_body, seven path shapes on _x24_robots_path. The oracle
# re-derives the EXPECTED rules table by construction (so a parser bug
# on any grammar arm diverges the verdicts), the most-specific-group
# selection, and the kind-dispatched longest-rule max_by verdict
# (precedence 2·lit_len+allow); `robots_allowed` flags survivors.

_X24_BLOCKLIST = ("spam-net.biz", "site3.co.uk", "192.168.18.9")


def _x24_robots_body(k: int) -> str | None:
    """Planted robots.txt for newshub<k>.com — four policy arms over
    k%4 covering every matcher the operator compiles: an exact
    engine-bot group (beats '*', with a prefix Disallow, a LONGER
    prefix Allow override and a '*.pdf' contains rule), a '*'-only
    group (prefix vs 8-char Allow tiebreak, a '*.pdf$' suffix rule, an
    interior-wildcard truncation, and an otherbot group the agent
    filter must ignore), the exemption file (exact group allows all
    while '*' blocks all — the existence-marker arm), and no robots at
    all (None: the domain never enters the publisher table). The parse
    of each body is known BY CONSTRUCTION, so the oracle writes the
    expected rules directly — a parser bug on any arm diverges the
    verdicts and fails the hash."""
    if k % 4 == 0:
        return (
            "User-agent: engine-bot\nDisallow: /private/\n"
            "Allow: /private/ok\nDisallow: *.pdf\n\n"
            "User-agent: *\nDisallow: /\n"
        )
    if k % 4 == 1:
        return (
            "User-agent: otherbot\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /items/\nAllow: /items/1\n"
            "Disallow: *.pdf$\nDisallow: /tmp*junk\n"
        )
    if k % 4 == 2:
        return (
            "User-agent: engine-bot\nDisallow:\n\n"
            "User-agent: *\nDisallow: /\n"
        )
    return None


def _x24_robots_path(did: Column) -> Column:
    """Planted frontier path per doc — seven shapes hitting every rule
    of every arm: blocked prefix, allow-override, quota'd /items/<n>
    (blocked in arm 1 unless the n starts with '1' — the longest-rule
    Allow tiebreak), a .pdf (contains in arm 0, suffix in arm 1), a
    /tmpjunk path (the truncated interior-wildcard rule), an .html and
    a plain path (no match → default allow)."""
    d7 = did % 7
    return (
        F.when(d7 == 0, F.concat(F.lit("/private/x"), did.cast("string")))
        .when(d7 == 1, F.concat(F.lit("/private/ok/p"), did.cast("string")))
        .when(d7 == 2, F.concat(F.lit("/items/"), (did % 20).cast("string")))
        .when(
            d7 == 3,
            F.concat(F.lit("/files/f"), did.cast("string"), F.lit(".pdf")),
        )
        .when(d7 == 4, F.concat(F.lit("/tmpjunk/"), did.cast("string")))
        .when(
            d7 == 5,
            F.concat(F.lit("/docs/d"), did.cast("string"), F.lit(".html")),
        )
        .otherwise(F.concat(F.lit("/a/"), did.cast("string")))
    )


def _x24_frontier_url(did: Column) -> Column:
    return (
        F.when(did % 17 == 0, F.lit(None).cast("string"))
        .when(
            did % 19 == 0,
            F.concat(F.lit("frontier-note "), did.cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("HTTP://"),
                F.when(did % 5 == 0, F.lit("crawler:pw@")).otherwise(F.lit("")),
                F.lit("Feed"), (did % 7).cast("string"), F.lit(".Example.COM"),
                F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
                F.when(did % 10 == 0, F.lit("/")).otherwise(
                    F.concat(F.lit("/items/"), (did % 20).cast("string"))
                ),
                F.when(
                    did % 2 == 0,
                    F.concat(
                        F.lit("?b="), (did % 3).cast("string"),
                        F.lit("&a=1&UTM_Source=x"), did.cast("string"),
                    ),
                ).otherwise(
                    F.concat(F.lit("?a=1&fbclid&b="), (did % 3).cast("string"))
                ),
                F.lit("#s"), did.cast("string"),
            )
        )
    )


def x24_url_curation(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://media"), (did % 5).cast("string"),
        F.lit(".newshub"), (did % 13).cast("string"),
        F.lit(".com/a/"), did.cast("string"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" via http://tracker@ads"), (did % 3).cast("string"),
                F.lit(".spam-net.biz:8080/c?x="), did.cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 == 0,
            F.concat(
                F.lit(" mirror https://news.site"), (did % 7).cast("string"),
                F.lit(".co.uk./m"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 9 == 0,
            F.concat(
                F.lit(" raw http://192.168."), (did % 45).cast("string"),
                F.lit(".9/x"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" dev http://localhost:8000/s")).otherwise(
            F.lit("")
        ),
    )
    blocklist = local_table(
        spark, [(d,) for d in _X24_BLOCKLIST], "domain string"
    )
    # ONE extraction subtree (round 13 — VERDICT r12 #4, guide §2.4).
    # url_stats (the URL regex + host + PSL registered-domain pipeline)
    # has THREE consumers in this query — the output columns, the
    # domain-cap input, and the blocklist filter. Round 12 measured a
    # localCheckpoint barrier (SLOWER: 5.8 → 7.5 s — it serializes a
    # full materialization in front of the one execute job) and kept
    # the lazy form, which evaluated the extraction once PER consumer
    # (wall-neutral on an idle local box, 3x corpus regex CPU at 100
    # TB). Round 13 removes the duplication structurally instead:
    # n_chars rides the one extraction projection (keep_cols=), the
    # blocklist probe is a row-wise exists over the SAME domains column
    # (references_blocked_domain — the blocklist is collected; it is
    # the stop-word-table role), and the domain cap comes back as a
    # window flag in place (domain_frequency_cap flag_col=) instead of
    # a filtered copy joined back on doc_id. Net: extraction subtrees
    # 3 → 1 AND two corpus-keyed join shuffles removed.
    stats = TS.url_stats(
        docs.select("doc_id", "n_chars", aug.alias("text")),
        "doc_id", "text", keep_cols=("n_chars",),
    )
    flagged = stats.withColumn(
        "kept",
        (~TS.references_blocked_domain(blocklist, "domains")).cast("int"),
    ).withColumn("dom", F.get(F.col("domains"), 0))
    # per-domain frequency cap over each doc's PRIMARY domain (min of its
    # sorted registered-domain set — deterministic in both engines),
    # best-first by n_chars: the FineWeb-style mega-site guard, same
    # rank contract as the filter form, decided in place.
    flagged = TS.domain_frequency_cap(
        flagged, "doc_id", "dom", cap=7, order_col="n_chars",
        flag_col="domain_capped",
    )
    frontier = docs.select("doc_id", _x24_frontier_url(did).alias("furl"))
    surv = TS.dedup_urls(frontier, "furl", "doc_id").select(
        "doc_id", F.lit(1).alias("frontier_kept")
    )
    # robots.txt crawl-politeness (round-9 zero-slot promotion): every
    # doc's frontier URL on its newshub domain is filtered through the
    # REAL parse_robots → filter_robots_disallowed path against planted
    # per-domain robots bodies (arms documented on _x24_robots_body);
    # survivors come back as the robots_allowed flag
    rdom = F.concat(
        F.lit("newshub"), (did % 13).cast("string"), F.lit(".com")
    )
    rfront = docs.select(
        "doc_id",
        rdom.alias("rdomain"),
        F.concat(
            F.lit("https://"), rdom, _x24_robots_path(did)
        ).alias("rurl"),
    )
    robots_pub = local_table(
        spark,
        [
            (f"newshub{k}.com", _x24_robots_body(k))
            for k in range(13)
            if _x24_robots_body(k) is not None
        ],
        "domain string, robots_txt string",
    )
    rallow = RB.filter_robots_disallowed(
        rfront,
        RB.parse_robots(robots_pub),
        url_col="rurl",
        domain_col="rdomain",
        agent="engine-bot",
    ).select("doc_id", F.lit(1).alias("robots_allowed"))
    if _stage_secs is not None:
        # bench attribution pass (VERDICT r10 #2) — component sub-plan
        # walls; overlap caveat on _probe. The blocklist/domain-cap
        # flags now live on the one flagged frame (keys kept: the
        # blocklist/domain_cap probes time the flag sub-plans).
        _probe(_stage_secs, "url_stats", stats)
        _probe(_stage_secs, "blocklist", flagged.select("doc_id", "kept"))
        _probe(_stage_secs, "frontier_dedup", surv)
        _probe(
            _stage_secs, "domain_cap",
            flagged.select("doc_id", "domain_capped"),
        )
        _probe(_stage_secs, "robots", rallow)
    return (
        flagged
        # canonical_url is a pure codegen projection of doc_id (via the
        # planted furl) — recomputed inline, NOT joined: only the
        # survivor flags of the frontier/robots legs (genuine groupBy-
        # canonical products over DIFFERENT derivations) still need a
        # doc-keyed join back
        .withColumn(
            "canonical_url", TS.canonical_url(_x24_frontier_url(F.col("doc_id")))
        )
        .join(surv, "doc_id", "left")
        .join(rallow, "doc_id", "left")
        .select(
            "doc_id",
            "n_urls",
            F.concat_ws(",", "domains").alias("domains_csv"),
            "url_char_ratio",
            "kept",
            "canonical_url",
            F.coalesce("frontier_kept", F.lit(0))
            .cast("int")
            .alias("frontier_kept"),
            F.col("domain_capped").cast("int").alias("domain_capped"),
            F.coalesce("robots_allowed", F.lit(0))
            .cast("int")
            .alias("robots_allowed"),
        )
        .orderBy("doc_id")
    )


_X24_AUG_SQL = """
  SELECT doc_id,
         text || ' see https://media' || CAST(doc_id % 5 AS VARCHAR)
              || '.newshub' || CAST(doc_id % 13 AS VARCHAR)
              || '.com/a/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0
                 THEN ' via http://tracker@ads' || CAST(doc_id % 3 AS VARCHAR)
                      || '.spam-net.biz:8080/c?x=' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0
                 THEN ' mirror https://news.site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.co.uk./m'
                 ELSE '' END
         || CASE WHEN doc_id % 9 = 0
                 THEN ' raw http://192.168.' || CAST(doc_id % 45 AS VARCHAR)
                      || '.9/x'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' dev http://localhost:8000/s'
                 ELSE '' END AS t
  FROM documents
"""

X24_SQL = rf"""
WITH aug AS ({_X24_AUG_SQL}),
u AS (SELECT doc_id, t,
             regexp_extract_all(t, 'https?://[^\s/?#]+[^\s]*') AS us
      FROM aug),
stats AS (SELECT doc_id,
                 CAST(len(us) AS INTEGER) AS n_urls,
                 round(CAST(coalesce(len(list_aggregate(list_transform(
                          us, x -> repeat('.', length(x))), 'string_agg', '')),
                        0) AS DOUBLE) / greatest(length(t), 1), 4)
                   AS url_char_ratio
          FROM u),
hosts AS (SELECT doc_id,
                 regexp_replace(lower(regexp_replace(regexp_replace(
                   x, '^https?://([^@/\s]+@)?', ''), '[:/?#].*$', '')),
                   '\.$', '') AS h
          FROM (SELECT doc_id, unnest(us) AS x FROM u)),
rd AS (SELECT doc_id,
              CASE WHEN strpos(h, '.') = 0 THEN h
                   WHEN regexp_matches(h, '^\d{{1,3}}(\.\d{{1,3}}){{3}}$')
                     THEN h
                   WHEN strpos('{TS._PSL_BLOB}', '|' || l2 || '|') > 0
                        AND l3 <> '' THEN l3
                   ELSE l2 END AS dom
       FROM (SELECT doc_id, h,
                    regexp_extract(h, '([^.]+\.[^.]+)$', 1) AS l2,
                    regexp_extract(h, '([^.]+\.[^.]+\.[^.]+)$', 1) AS l3
             FROM hosts)),
doms AS (SELECT doc_id,
                array_to_string(list_sort(list(DISTINCT dom)), ',')
                  AS domains_csv
         FROM rd GROUP BY doc_id),
blocked AS (SELECT DISTINCT doc_id FROM rd
            WHERE dom IN ('spam-net.biz', 'site3.co.uk', '192.168.18.9')),
f AS (SELECT doc_id,
  CASE WHEN doc_id % 17 = 0 THEN NULL
       WHEN doc_id % 19 = 0 THEN 'frontier-note ' || CAST(doc_id AS VARCHAR)
       ELSE 'HTTP://'
            || CASE WHEN doc_id % 5 = 0 THEN 'crawler:pw@' ELSE '' END
            || 'Feed' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
            || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
            || CASE WHEN doc_id % 10 = 0 THEN '/'
                    ELSE '/items/' || CAST(doc_id % 20 AS VARCHAR) END
            || CASE WHEN doc_id % 2 = 0
                    THEN '?b=' || CAST(doc_id % 3 AS VARCHAR)
                         || '&a=1&UTM_Source=x' || CAST(doc_id AS VARCHAR)
                    ELSE '?a=1&fbclid&b=' || CAST(doc_id % 3 AS VARCHAR) END
            || '#s' || CAST(doc_id AS VARCHAR)
  END AS furl FROM documents),
cp1 AS (SELECT doc_id,
               lower(regexp_extract(furl, '^([A-Za-z]+)://', 1)) AS sch,
               regexp_replace(regexp_replace(furl, '^[A-Za-z]+://', ''),
                              '#.*$', '') AS rest
        FROM f
        WHERE furl IS NOT NULL AND regexp_matches(furl, '(?i)^https?://')),
cp2 AS (SELECT doc_id, sch,
               lower(regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
                                    '^[^@]*@', '')) AS auth,
               regexp_replace(rest, '^[^/?#]*', '') AS pq
        FROM cp1),
cp3 AS (SELECT doc_id, sch,
               CASE WHEN sch = 'http' AND auth LIKE '%:80'
                      THEN left(auth, length(auth) - 3)
                    WHEN sch = 'https' AND auth LIKE '%:443'
                      THEN left(auth, length(auth) - 4)
                    ELSE auth END AS host,
               CASE WHEN regexp_extract(pq, '^([^?]*)', 1) = '/' THEN ''
                    ELSE regexp_extract(pq, '^([^?]*)', 1) END AS pth,
               array_to_string(list_sort(list_filter(
                 str_split(regexp_extract(pq, '\?(.*)$', 1), '&'),
                 x -> len(x) > 0 AND NOT regexp_matches(x,
                   '(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref_src)(=|$)')
               )), '&') AS q
        FROM cp2),
ccanon AS (SELECT doc_id,
                  sch || '://' || host || pth
                  || CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END
                    AS canonical_url
           FROM cp3),
canon AS (SELECT f.doc_id,
                 CASE WHEN f.furl IS NULL THEN NULL
                      WHEN c.canonical_url IS NOT NULL THEN c.canonical_url
                      ELSE f.furl END AS canonical_url
          FROM f LEFT JOIN ccanon c ON c.doc_id = f.doc_id),
fsurv AS (SELECT doc_id FROM (
            SELECT doc_id,
                   CASE WHEN canonical_url IS NULL THEN TRUE
                        ELSE doc_id = min(doc_id)
                               OVER (PARTITION BY canonical_url) END AS keepit
            FROM canon) WHERE keepit),
prim AS (SELECT doc_id, min(dom) AS pdom FROM rd GROUP BY doc_id),
capr AS (SELECT p.doc_id,
                row_number() OVER (PARTITION BY p.pdom
                                   ORDER BY dd.n_chars DESC NULLS LAST,
                                            p.doc_id) AS rn
         FROM prim p JOIN documents dd ON dd.doc_id = p.doc_id),
csurv AS (SELECT doc_id FROM capr WHERE rn <= 7),
-- ===== robots.txt politeness (round-9 zero slot): the EXPECTED rules
-- per _x24_robots_body arm, written by construction (agent-filtered to
-- engine-bot/'*'; the arm-1 otherbot group is omitted because the
-- operator's agent filter drops it before anything else); then the
-- most-specific-group selection, the kind-dispatched match and the
-- 2*lit_len+allow max_by — the operator's exact verdict pipeline =====
rbr AS (SELECT unnest(range(0, 13)) AS k),
rbrules AS (
  SELECT k, 'engine-bot' AS agent, FALSE AS allow, 'prefix' AS kind,
         '/private/' AS lit FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, 'engine-bot', TRUE, 'prefix', '/private/ok'
    FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, 'engine-bot', FALSE, 'contains', '.pdf'
    FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, '*', FALSE, 'prefix', '/' FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, 'engine-bot', TRUE, 'prefix', ''
    FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, '*', TRUE, 'prefix', '' FROM rbr WHERE k % 4 = 0
  UNION ALL SELECT k, '*', FALSE, 'prefix', '/items/'
    FROM rbr WHERE k % 4 = 1
  UNION ALL SELECT k, '*', TRUE, 'prefix', '/items/1'
    FROM rbr WHERE k % 4 = 1
  UNION ALL SELECT k, '*', FALSE, 'suffix', '.pdf' FROM rbr WHERE k % 4 = 1
  UNION ALL SELECT k, '*', FALSE, 'prefix', '/tmp' FROM rbr WHERE k % 4 = 1
  UNION ALL SELECT k, '*', TRUE, 'prefix', '' FROM rbr WHERE k % 4 = 1
  UNION ALL SELECT k, 'engine-bot', TRUE, 'prefix', ''
    FROM rbr WHERE k % 4 = 2
  UNION ALL SELECT k, '*', FALSE, 'prefix', '/' FROM rbr WHERE k % 4 = 2
  UNION ALL SELECT k, '*', TRUE, 'prefix', '' FROM rbr WHERE k % 4 = 2),
rbhex AS (SELECT k, max(CASE WHEN agent = 'engine-bot' THEN 1 ELSE 0 END)
                 AS hex
          FROM rbrules GROUP BY k),
rbsel AS (SELECT r.* FROM rbrules r JOIN rbhex USING (k)
          WHERE r.agent = 'engine-bot' OR hex = 0),
rbp AS (SELECT doc_id, doc_id % 13 AS k,
               CASE doc_id % 7
                 WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN '/items/' || CAST(doc_id % 20 AS VARCHAR)
                 WHEN 3 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf'
                 WHEN 4 THEN '/tmpjunk/' || CAST(doc_id AS VARCHAR)
                 WHEN 5 THEN '/docs/d' || CAST(doc_id AS VARCHAR) || '.html'
                 ELSE '/a/' || CAST(doc_id AS VARCHAR) END AS p
        FROM documents),
rbj AS (SELECT d.doc_id, r.allow, length(r.lit) AS l
        FROM rbp d LEFT JOIN rbsel r ON r.k = d.k
         AND ((r.kind = 'prefix' AND starts_with(d.p, r.lit))
           OR (r.kind = 'suffix' AND ends_with(d.p, r.lit))
           OR (r.kind = 'contains' AND contains(d.p, r.lit)))),
rbv AS (SELECT doc_id, max_by(allow, coalesce(l, -1) * 2
               + coalesce(CAST(allow AS INT), 1)) AS ra
        FROM rbj GROUP BY doc_id)
SELECT s.doc_id, s.n_urls, coalesce(d.domains_csv, '') AS domains_csv,
       s.url_char_ratio,
       CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END AS kept,
       c.canonical_url,
       CASE WHEN fs.doc_id IS NULL THEN 0 ELSE 1 END AS frontier_kept,
       CASE WHEN p.pdom IS NULL OR cs.doc_id IS NOT NULL THEN 1
            ELSE 0 END AS domain_capped,
       CASE WHEN coalesce(rv.ra, TRUE) THEN 1 ELSE 0 END AS robots_allowed
FROM stats s
LEFT JOIN doms d ON d.doc_id = s.doc_id
LEFT JOIN blocked b ON b.doc_id = s.doc_id
JOIN canon c ON c.doc_id = s.doc_id
LEFT JOIN fsurv fs ON fs.doc_id = s.doc_id
LEFT JOIN prim p ON p.doc_id = s.doc_id
LEFT JOIN csurv cs ON cs.doc_id = s.doc_id
LEFT JOIN rbv rv ON rv.doc_id = s.doc_id
ORDER BY s.doc_id
"""

# --- x25 corpus-level repeated-line removal (MassiveText boilerplate) ---------
#
# The synthetic documents are single-line, so the query plants a
# deterministic multi-line structure: a 3-variant nav header (each
# variant shared by ~n/3 docs → boilerplate), the original text (unique
# per doc at the correctness SF; if texts ever collide both engines
# agree), a per-doc unique footer, a subscribe banner in every even doc
# (boilerplate), and a 2-char 'ok' line in every 5th doc that is SHARED
# but exempt under min_line_chars=3. Output carries an md5 fingerprint
# of the cleaned text (x12's redacted_fp pattern) rather than the text
# itself.
#
# Round-12 zero-slot promotion: CDC chunk-level dedup
# (operators/dedup.cdc_chunk_dedup — the operation content-defined
# chunking exists FOR) rides the same slot as three more columns over a
# planted EDITED-DOC corpus (_x25_cdc_docs): docs pair up as (2g,
# 2g+1) on every third group; both members share the same 32-word
# gid-stamped span, the odd member with one extra word inserted after
# word 16. Content-defined boundaries realign right after the edit, so
# the odd member's chunks dedup against the even member's except the
# edited one — the "an edited document re-shares every untouched
# chunk" scenario, pinned corpus-wide under the oracle (survivor =
# min (doc_id, chunk_id) per chunk digest, rebuilt text fingerprinted).

_X25_CDC_WORDS = 32
_X25_CDC_EDIT_AT = 16  # odd member inserts its edit word after this many


def _x25_cdc_docs(docs: DataFrame) -> DataFrame:
    """The planted edited-pair corpus, synthesized from doc_id alone
    (the x04 winnow-plant recipe — the group id is stamped into every
    word so no chunk can collide across groups): even member = the
    group span verbatim, odd member = the same span with one
    'edit<doc_id>' word inserted. Restricted to every third group to
    bound the bench-side gram cost (the oracle replays the same
    modulo)."""
    did = F.col("doc_id")
    gid = F.floor(did / 2).cast("long")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(_X25_CDC_WORDS - 1)),
        lambda i: F.concat(
            F.lit("cdcseg"), gid.cast("string"), F.lit("w"), i.cast("string")
        ),
    )
    edited = F.concat(
        F.slice(words, 1, _X25_CDC_EDIT_AT),
        F.array(F.concat(F.lit("edit"), did.cast("string"))),
        F.slice(words, _X25_CDC_EDIT_AT + 1, _X25_CDC_WORDS - _X25_CDC_EDIT_AT),
    )
    text = F.concat_ws(
        " ", F.when(did % 2 == 0, words).otherwise(edited)
    )
    return docs.filter(gid % 3 == 0).select("doc_id", text.alias("text"))


def x25_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.lit("NAV HEADER v"), (did % 3).cast("string"), F.lit("\n"),
        F.col("text"), F.lit("\n"),
        F.lit("unique footer "), did.cast("string"),
        F.when(did % 2 == 0, F.lit("\nSUBSCRIBE NOW")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("\nok")).otherwise(F.lit("")),
    )
    cleaned = D.line_dedup(
        docs.select("doc_id", aug.alias("text")),
        "doc_id",
        "text",
        min_line_chars=3,
    )
    # CDC chunk-level dedup over the planted edited-pair corpus — the
    # chunk-ROW path (posexplode in cdc_chunks) is in this lineage, so
    # the oracle hash-match pins rows, census, survivor rule and
    # rebuild end to end (VERDICT r11 #2/#3).
    cdc = D.cdc_chunk_dedup(_x25_cdc_docs(docs), "doc_id", "text").select(
        "doc_id",
        F.col("n_cdc_chunks").alias("cdc_n_chunks"),
        F.col("n_chunks_removed").alias("cdc_n_removed"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8).alias(
            "cdc_kept_fp8"
        ),
    )
    return (
        cleaned.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("text_fp"),
            "n_lines_removed",
            F.length("text").cast("int").alias("n_chars_kept"),
        )
        .join(cdc, "doc_id", "left")
        .select(
            "doc_id",
            "text_fp",
            "n_lines_removed",
            "n_chars_kept",
            "cdc_n_chunks",
            "cdc_n_removed",
            "cdc_kept_fp8",
        )
        .orderBy("doc_id")
    )


# The CDC-dedup arm re-derives the whole chunk-dedup pipeline: planted
# edited-pair corpus -> winnow-contract grams -> unrolled greedy cut
# walk (shared _cdc_sql_ctes; referencing its `cdc` CTE also arms the
# overflow guard) -> chunk slicing -> first-occurrence survivor by
# (doc_id, chunk_id) per chunk digest -> in-order rebuild + 8-hex
# fingerprint of the rebuilt text.
def _cdc_chunk_dedup_sql_ctes() -> str:
    """ccuts/cbounds/cch/cmark/crebuild/cded chain replaying
    dedup.cdc_chunk_dedup step for step — chunk slicing between the
    greedy cuts, first-occurrence survivor by (doc_id, chunk_id) per
    chunk digest, in-order rebuild. Expects ``_winnow_sql_ctes(src,
    'w')`` and ``_cdc_sql_ctes()`` earlier in the same WITH (the wnrm/
    wgr/cdcuts/cdc names); shared verbatim by the X25 oracle and the
    operator's DuckDB pytest pin so the two pins cannot drift."""
    return """ccuts AS (SELECT doc_id, list_sort(list(cut)) AS cuts
          FROM cdcuts GROUP BY doc_id),
cbounds AS (
  SELECT n.doc_id, n.t,
         list_concat([CAST(1 AS BIGINT)], coalesce(c.cuts, [])) AS starts,
         list_concat(coalesce(c.cuts, []),
                     [CAST(length(n.t) + 1 AS BIGINT)]) AS ends
  FROM wnrm n
  JOIN wgr g ON g.doc_id = n.doc_id AND g.grams IS NOT NULL
  LEFT JOIN ccuts c ON c.doc_id = n.doc_id),
cch AS (
  SELECT doc_id, u.i - 1 AS chunk_id,
         substr(t, CAST(u.s AS INT), CAST(u.e - u.s AS INT)) AS chunk_text
  FROM cbounds,
       unnest(list_transform(range(1, len(starts) + 1),
         j -> struct_pack(i := j,
                          s := starts[CAST(j AS INT)],
                          e := ends[CAST(j AS INT)]))) AS tt(u)),
cmark AS (
  SELECT doc_id, chunk_id, chunk_text,
         row_number() OVER (PARTITION BY md5(chunk_text)
                            ORDER BY doc_id, chunk_id) AS rn
  FROM cch),
crebuild AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ''
                             ORDER BY chunk_id), '') AS kept,
         CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM cmark GROUP BY doc_id),
cded AS (
  SELECT n.doc_id,
         coalesce(s.n_cdc_chunks, 0) AS cdc_n_chunks,
         coalesce(r.n_removed, 0) AS cdc_n_removed,
         coalesce(r.kept, coalesce(n.t, '')) AS cdc_kept_text,
         substr(md5(coalesce(r.kept, coalesce(n.t, ''))), 1, 8)
           AS cdc_kept_fp8
  FROM wnrm n
  LEFT JOIN cdc s ON s.doc_id = n.doc_id
  LEFT JOIN crebuild r ON r.doc_id = n.doc_id)"""


X25_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         'NAV HEADER v' || CAST(doc_id % 3 AS VARCHAR) || chr(10)
         || text || chr(10)
         || 'unique footer ' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'SUBSCRIBE NOW'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'ok' ELSE '' END AS t
  FROM documents),
lines AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS pos
          FROM aug),
census AS (SELECT line FROM lines WHERE length(line) >= 3
           GROUP BY line HAVING count(DISTINCT doc_id) > 1),
out AS (SELECT doc_id,
               coalesce(string_agg(CASE WHEN c.line IS NULL THEN l.line END,
                                   chr(10) ORDER BY pos), '') AS t2,
               CAST(count(c.line) AS BIGINT) AS n_lines_removed
        FROM lines l LEFT JOIN census c USING (line)
        GROUP BY doc_id),
cdocs AS (
  SELECT doc_id,
         array_to_string(
           CASE WHEN doc_id % 2 = 0 THEN words
                ELSE list_concat(list_concat(
                       words[1:{_X25_CDC_EDIT_AT}],
                       ['edit' || CAST(doc_id AS VARCHAR)]),
                       words[{_X25_CDC_EDIT_AT + 1}:{_X25_CDC_WORDS}])
           END, ' ') AS text
  FROM (SELECT doc_id,
               list_transform(range(0, {_X25_CDC_WORDS}),
                 i -> 'cdcseg' || CAST(doc_id // 2 AS VARCHAR)
                      || 'w' || CAST(i AS VARCHAR)) AS words
        FROM documents
        WHERE (doc_id // 2) % 3 = 0)),
{{wctes}},
{{cdcctes}},
{{dedctes}}
SELECT o.doc_id, md5(o.t2) AS text_fp, o.n_lines_removed,
       CAST(o_len AS INTEGER) AS n_chars_kept,
       c.cdc_n_chunks, c.cdc_n_removed, c.cdc_kept_fp8
FROM (SELECT *, length(t2) AS o_len FROM out) o
LEFT JOIN cded c USING (doc_id)
ORDER BY o.doc_id
""".format(
    wctes=_winnow_sql_ctes("cdocs", "w"),
    cdcctes=_cdc_sql_ctes(),
    dedctes=_cdc_chunk_dedup_sql_ctes(),
)


# --- x26 linear quality-classifier scoring + lexical relevance panel ---------
#
# Hashed-model mode: every token's weight derives from md5 (portable), so
# the oracle re-computes the full model — tokenize, per-token weight,
# mean logit, sigmoid — in DuckDB rather than trusting planted constants.
# The weights-table mode (a real exported model via broadcast join) is
# pinned separately in tests/test_text_ops.py.
#
# Round-6 zero-slot promotions (the x24 canonical_url pattern): the same
# per-doc panel carries the four lexical-relevance operators that were
# previously pytest-only — tfidf_top_terms (k=1 argmax term + its 4dp
# score), vocabulary (the top term's bucketed-rank term_id), bm25_scores
# (vs a fixed 4-term query with a deliberate df spread: 'dup' is rare,
# 'the' is everywhere), and oov_stats (vs the top-20 vocabulary, so the
# 31-term corpus has real OOV mass). All four reuse ONE materialized
# term_frequencies census (localCheckpoint — the x31 reuse pattern);
# DuckDB re-derives tf, df, N, doc lengths, avgdl, the idf curves, the
# rank windows and every rounded score from the raw text.

_X26_BM25_TERMS = ["dup", "join", "scan", "the"]


def x26_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc quality/relevance panel: linear classifier score (hashed
    features, codegen), top TF-IDF term + vocabulary id, BM25 vs a fixed
    query, OOV stats vs the top-20 vocabulary
    (operators/textstats.classifier_score + operators/relevance).

    Scale shape: ONE (doc, term) census feeds tfidf/vocabulary/bm25/oov
    (term_frequencies materialized once); corpus-level sides (dfreq,
    vocabulary, idf table) are vocab-sized and broadcast; per-doc joins
    are doc-keyed equi-joins with no skew amplification."""
    from ..operators import relevance as R

    docs = parallel_table(spark, sf, "documents")
    # Round-13 note (VERDICT r12 #8): pre-hashing the census by doc_id
    # before the checkpoint was tried and REVERTED — in this Spark
    # build a localCheckpointed DataFrame surfaces as a bare
    # `Scan ExistingRDD` with NO outputPartitioning, so the four
    # doc-keyed consumers below re-exchange regardless (measured:
    # Exchange count 48 → 48 with the repartition, i.e. one exchange
    # added, none saved). The exchange-sharing idea needs partitioning
    # metadata to survive the barrier, which it does not here.
    tf = R.term_frequencies(docs, "doc_id", "text").localCheckpoint()
    clf = TS.classifier_score(docs, "doc_id", "text", tf=tf)
    top = R.tfidf_top_terms(docs, "doc_id", "text", k=1, tf=tf).select(
        "doc_id",
        F.col("term").alias("top_term"),
        F.col("tf").alias("top_tf"),
        F.col("score").alias("top_tfidf"),
    )
    vocab = R.vocabulary(docs, "text", tf=tf).localCheckpoint()
    vid = vocab.select(
        F.col("term").alias("top_term"), F.col("term_id").alias("top_term_id")
    )
    bm = R.bm25_scores(docs, "doc_id", "text", _X26_BM25_TERMS, tf=tf).select(
        "doc_id", "bm25", F.col("n_matched_terms").alias("bm25_terms")
    )
    oov = R.oov_stats(
        docs, "doc_id", "text", vocab.filter(F.col("term_id") <= 20), tf=tf
    ).select(
        "doc_id",
        F.col("n_oov").alias("n_oov_top20"),
        F.col("oov_rate").alias("oov_rate_top20"),
    )
    return (
        clf.join(top, "doc_id")
        .join(F.broadcast(vid), "top_term")
        .join(bm, "doc_id", "left")
        .join(oov, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_hit",
            "logit",
            "clf_score",
            "top_term",
            "top_tf",
            "top_tfidf",
            "top_term_id",
            "bm25",
            "bm25_terms",
            "n_oov_top20",
            "oov_rate_top20",
        )
        .orderBy("doc_id")
    )


X26_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
           t -> t <> '')) AS token
  FROM documents),
w AS (SELECT doc_id,
             CAST(('0x' || substr(md5('clf:' || token), 1, 8)) AS BIGINT)
               / 4294967296.0 * 2 - 1 AS w
      FROM toks),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_hit,
               round(avg(w), 4) AS logit
        FROM w GROUP BY doc_id),
tf AS (SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         round(t.tf * (ln((n_docs + 1) / (df + 1)) + 1.0), 4) AS score
  FROM tf t JOIN dfreq USING (term) CROSS JOIN nd),
top1 AS (
  SELECT doc_id, term AS top_term, tf AS top_tf, score AS top_tfidf
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term ASC) AS rn
        FROM scored)
  WHERE rn = 1),
vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS freq FROM tf GROUP BY term),
vrank AS (SELECT term,
                 row_number() OVER (ORDER BY freq DESC, term ASC) AS term_id
          FROM vocab),
doclen AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
avgdl AS (SELECT avg(dl) AS adl FROM doclen),
qidf AS (SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         FROM dfreq CROSS JOIN nd
         WHERE term IN ('dup', 'join', 'scan', 'the')),
bm AS (SELECT t.doc_id,
              round(sum(q.idf * t.tf * (1.2 + 1) /
                    (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / a.adl))), 4)
                AS bm25,
              CAST(count(*) AS BIGINT) AS bm25_terms
       FROM tf t JOIN qidf q USING (term)
       JOIN doclen l USING (doc_id) CROSS JOIN avgdl a
       GROUP BY t.doc_id),
oov AS (SELECT t.doc_id,
               CAST(sum(CASE WHEN v.term IS NULL THEN t.tf ELSE 0 END)
                    AS BIGINT) AS n_oov_top20,
               round(sum(CASE WHEN v.term IS NULL THEN t.tf ELSE 0 END)
                     / CAST(sum(t.tf) AS DOUBLE), 4) AS oov_rate_top20
        FROM tf t LEFT JOIN (SELECT term FROM vrank WHERE term_id <= 20) v
             USING (term)
        GROUP BY t.doc_id)
SELECT a.doc_id, a.n_tokens, a.n_hit, a.logit,
       round(1.0 / (1.0 + exp(-a.logit)), 4) AS clf_score,
       t1.top_term, t1.top_tf, t1.top_tfidf,
       CAST(vr.term_id AS BIGINT) AS top_term_id,
       bm.bm25, bm.bm25_terms,
       o.n_oov_top20, o.oov_rate_top20
FROM agg a
JOIN top1 t1 USING (doc_id)
JOIN vrank vr ON vr.term = t1.top_term
LEFT JOIN bm USING (doc_id)
JOIN oov o USING (doc_id)
ORDER BY doc_id
"""


# --- x27 symmetric int8 embedding quantization --------------------------------
#
# All arithmetic is exactly-specified IEEE double (float32 widening,
# division, ties-away-from-zero round), so the int8 codes hash-match
# bit-for-bit across engines with no planted data; only the RMSE fold is
# rounded (4dp float contract). The codes ship as a csv string because
# the compare canonicalizes scalars, not arrays.

def x27_quantize_embeddings(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """Symmetric max-abs int8 quantization of the embedding column plus
    per-vector reconstruction RMSE — one narrow projection over the
    scan, zero data shuffle (operators/embeddings.py; parallel_table
    fans the single-file test scan out across slots).

    Round-7 zero-slot promotion: ``pca_fit``'s QUANTIZED MOMENTS — the
    exact (mean, covariance) pair the driver eigensolve consumes
    (moment_dp=9: derived O(1)-magnitude moments rounded so distributed
    partial-fold order noise vanishes below the quantum) — are now
    cross-engine pinned. Each row carries its residue dimension's mean
    (``pca_mean_i``), variance (``pca_var_i``), and one planted
    off-diagonal covariance (``pca_cov_ij``, j = (31·i+7) mod 64 ≠ i
    always, since 30·i ≡ −7 (mod 64) has no solution); over ≥64 rows
    every mean/diagonal entry and 64 off-diagonals are each pinned by
    at least one row. DuckDB re-derives all three from the raw vectors
    (sum/n, gram/n − outer(mean, mean), round 9dp — same association
    order). The eigensolve stays driver-numpy on both sides (documented:
    float-summation-order inside LAPACK is not a cross-engine
    contract); what the registry verifies is that BOTH engines would
    hand it bit-identical input.

    Round-8 zero-slot promotion: PRODUCT QUANTIZATION (operators/pq.py
    — the Jégou/Douze/Schmid scheme, trained end-to-end). ``pq_train``
    learns m=4 subspace codebooks (ksub=4, 2 quantized Lloyd rounds,
    quantize_dp=7, init = subvectors of the 4 lowest vec_ids) in one
    corpus pass per round; every row then carries ``pq_codes_csv`` (its
    4 subspace cell indices under the TRAINED codebooks),
    ``pq_rmse`` (4dp reconstruction error), and ``pq_adc_fp`` — the
    asymmetric distance to the lowest-vec_id query vector as a SUM OF
    FIXED-POINT LUT ENTRIES (integer, order-free). DuckDB re-derives
    the whole thing: both Lloyd rounds unrolled as MATERIALIZED CTEs
    (4dp-rounded argmin with lowest-cell ties, 7dp-rounded means,
    empty cells keeping the previous centroid verbatim), the final
    assignment, the reconstruction error, and the ADC fold — the fifth
    iterative trainer under the unrolled-CTE recipe, and the first
    with data-parallel SUBSPACES inside each round.

    Round-9 zero-slot promotion: IVFPQ SERVING end-to-end
    (operators/pq.ivfpq_train / ivfpq_topk — Jégou et al. §V). A
    two-level index is trained for real (coarse spherical k-means
    k=4×2 rounds under the shared quantized contract, then PQ m=4/
    ksub=4×2 rounds on the RESIDUALS x_norm − coarse[cell]); every row
    carries its coarse cell (``ivf_cell``), residual PQ codes
    (``ivfpq_codes_csv``), residual reconstruction error
    (``ivfpq_rmse``), and probe membership for the lowest-vec_id query
    under n_probe=2 (``ivf_probed``); the REAL ``ivfpq_topk`` then
    serves that query and its top-10 rows carry ``ivfpq_adc_fp``/
    ``ivfpq_rank`` (NULL elsewhere — rank-bounded by design, so the
    registry never materializes a corpus-sized result). DuckDB
    re-derives the coarse trainer (the x18 CTE shape at k=4),
    residuals, the residual-PQ trainer, the per-probed-cell LUTs and
    the serving rank — the full probe→residual-ADC→rank path."""
    import time as _time

    import numpy as np

    from ..operators import pq as PQO

    emb = parallel_table(spark, sf, "embeddings")
    q = EB.quantize_embeddings(emb, "vec_id", "embedding")
    q = EB.quantization_error(q, "embedding", "qvec", "scale")
    # ONE corpus-head collect (round 13 — VERDICT r12 #2): the 4
    # lowest-vec_id raw vectors seed the fixed query vector q0 AND the
    # plain-PQ trainer's init AND the IVFPQ coarse quantizer's init
    # (ksub = n_centroids = 4, all defined as "the k lowest-id
    # vectors"). The baseline paid that TakeOrdered corpus pass three
    # times — once here for q0 and once inside each trainer; init_vecs
    # hands the shared head in (the collect is exactly what each
    # trainer's internal init collect would produce — as_double cast,
    # vec_id order). q0 then seeds FOUR independent stage groups below
    # (plain-PQ ADC, the OPQ Givens rotation's dimension, the MRL
    # prefix query, the IVFPQ probe), which run as concurrent jobs
    # (guide §2.6 via _overlap) — every trainer is partitioning-
    # invariant by the quantized contract, so results are
    # bit-identical. stage_secs walls OVERLAP (the _probe caveat).
    from ..functions.vectors import as_double as _as_double

    _head_pdf = (
        emb.select("vec_id", _as_double("embedding").alias("v"))
        .orderBy("vec_id")
        .limit(4)
        .toPandas()
    )
    head = np.array(list(_head_pdf["v"]), dtype="float64")  # (4, dim)
    q0 = head[0]

    def _pq_stage():
        t0 = _time.time()
        cbooks = PQO.pq_train(emb, m=4, ksub=4, n_iters=2, init_vecs=head)
        pqe = PQO.pq_encode(emb, cbooks, query_vec=q0).select(
            "vec_id",
            F.concat_ws(
                ",", F.transform("pq_codes", lambda c: c.cast("string"))
            ).alias("pq_codes_csv"),
            "pq_rmse",
            F.col("adc_fp").alias("pq_adc_fp"),
        )
        _mark(_stage_secs, "pq_train_encode", t0)
        # OPQ cross-moment pin (round-9, the pca_fit moment-pin
        # pattern): the orthogonal-Procrustes step consumes
        # A = (1/n)·Σ x·ŷᵀ (operators/pq.opq_cross_moment) — the SVD
        # stays driver-numpy on both sides by the documented pca
        # design, and what the registry verifies is that BOTH engines
        # hand it bit-identical input. Under the identity rotation ŷ is
        # the plain-PQ reconstruction DuckDB already re-derives
        # (penc/pcb2), so each row pins its residue dimension's
        # diagonal entry and one planted off-diagonal
        # (j = (17·m+3) mod 64 — never m, and a bijection over
        # columns). Runs INSIDE this stage group: it needs cbooks.
        t0 = _time.time()
        a_mom = PQO.opq_cross_moment(
            emb, np.eye(len(q0)), cbooks, moment_dp=9
        )
        om_rows = [
            (
                m,
                float(a_mom[m, m]),
                float(a_mom[m, (17 * m + 3) % len(q0)]),
            )
            for m in range(len(q0))
        ]
        om = local_table(
            spark,
            om_rows, "m64o int, opq_xmom_ii double, opq_xmom_ij double"
        )
        _mark(_stage_secs, "opq_moment", t0)
        return pqe, om

    # OPQ SERVING (round-10 zero-slot promotion — VERDICT r9 #5): the
    # rotated-codes path under a FIXED exact Givens rotation (contract
    # + cross-engine argument at _x27_opq_serve_ctes): rotate_vectors →
    # 9dp coordinate quantization → pq_train → pq_encode against the
    # rotated query — the opq_encode composition, with the REAL
    # operators end-to-end. The rotated query is read back from the
    # quantized frame itself so both engines consume the identically
    # rounded values.
    def _opq_stage():
        t0 = _time.time()
        rg = np.eye(len(q0))
        rg[0, 0], rg[0, 16], rg[16, 0], rg[16, 16] = 0.6, 0.8, -0.8, 0.6
        vrq = PQO.rotate_vectors(emb, rg).withColumn(
            "vr", F.transform("vr", lambda x: F.round(x, 9))
        ).localCheckpoint()  # consumed by 2 Lloyd passes + the query
        # collect + the encode — without the cut each re-runs the Arrow
        # rotation pass over the corpus (round-10 review finding)
        ocb = PQO.pq_train(vrq, vec_col="vr", m=4, ksub=4, n_iters=2)
        oq0 = np.asarray(
            vrq.orderBy("vec_id").limit(1).collect()[0]["vr"],
            dtype="float64",
        )
        oenc = PQO.pq_encode(vrq, ocb, vec_col="vr", query_vec=oq0).select(
            "vec_id",
            F.concat_ws(
                ",", F.transform("pq_codes", lambda c: c.cast("string"))
            ).alias("opq_codes_csv"),
            F.col("pq_rmse").alias("opq_rmse"),
            F.col("adc_fp").alias("opq_adc_fp"),
        )
        _mark(_stage_secs, "opq_serve", t0)
        return oenc
    # Matryoshka prefix serving (round-9 zero-slot promotion —
    # operators/embeddings.truncate_dims + fixed_query_cosine, Kusupati
    # et al. 2022): every row carries mrl_sim_d16 (4dp cosine of the
    # 16-dim PREFIXES vs the same fixed query — pure codegen HOFs, the
    # 4x-cheaper-scan serving path) and mrl_rank_d16 (its global rank
    # under the prefix metric, via the skew-proof bucketed row_number —
    # no SinglePartition corpus pass). Rank drift vs the full-dim
    # columns is measurable per row; DuckDB re-derives both from list
    # slices.
    from ..operators.rank import bucketed_row_number as _brn

    def _mrl_stage():
        t0 = _time.time()
        mrl = EB.fixed_query_cosine(
            emb.select("vec_id", "embedding"),
            "embedding",
            [float(x) for x in q0],
            d=16,
            out_col="mrl_sim_d16",
        ).select("vec_id", "mrl_sim_d16")
        mrl = _brn(
            mrl.withColumn(
                "_mk", -F.round(F.col("mrl_sim_d16") * 10000).cast("long")
            ),
            ["_mk"],
            [F.col("_mk").asc(), F.col("vec_id").asc()],
            "mrl_rank_d16",
        ).drop("_mk")
        _mark(_stage_secs, "mrl", t0)
        return mrl

    # IVFPQ serving (round 9): train the real two-level index, then
    # index-derived columns for every row + the real served top-10 for
    # the lowest-vec_id query (rank-bounded by design — the registry
    # never materializes a corpus-sized result list)
    def _ivfpq_stage():
        t0 = _time.time()
        # return_residuals: the trainer materializes the residual
        # projection ONCE (localCheckpoint inside ivfpq_train) and its
        # pq_train rounds and renc all consume that one frame —
        # the baseline re-derived the broadcast-Arrow residual pass
        # 3x inside the trainer and a 4th time here (round-12 measure:
        # this stage was 4.1 of x27's 12.8 s)
        coarse, rcb, res = PQO.ivfpq_train(
            emb, n_centroids=4, coarse_iters=2, m=4, ksub=4, pq_iters=2,
            quantize_dp=7, return_residuals=True, init_vecs=head,
        )
        # keep_cols passes `cell` through the encode batch, so the
        # per-row cell and the residual codes come from ONE scan of the
        # checkpointed residual frame instead of two subtrees joined
        # on vec_id (round-12 execute-plan trim)
        renc = PQO.pq_encode(
            res, rcb, id_col="vec_id", vec_col="residual",
            keep_cols=("cell",),
        ).select(
            "vec_id",
            F.col("cell").cast("int").alias("ivf_cell"),
            F.concat_ws(
                ",", F.transform("pq_codes", lambda c: c.cast("string"))
            ).alias("ivfpq_codes_csv"),
            F.col("pq_rmse").alias("ivfpq_rmse"),
        )
        # probe set of the fixed query — 2 cells of 4, driver-computed
        # from the broadcastable index via the SAME helper ivfpq_topk
        # serves with (pq.ivf_probe_cells, the shared 4dp/stable/
        # lowest-cell contract), landing as a codegen isin (no join)
        qn = q0 / (float(np.linalg.norm(q0)) or 1.0)
        probed = [
            int(c) for c in PQO.ivf_probe_cells(qn[None, :], coarse, 2)[0]
        ]
        serv = PQO.ivfpq_topk(
            emb.orderBy("vec_id").limit(1), emb, coarse, rcb, k=10,
            n_probe=2,
        ).select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("adc_fp").alias("ivfpq_adc_fp"),
            F.col("rank").alias("ivfpq_rank"),
        )
        _mark(_stage_secs, "ivfpq_train_serve", t0)
        return renc, probed, serv

    def _pca_stage():
        t0 = _time.time()
        mean, cov, _comps = EB.pca_fit(
            emb, "embedding", k=4, moment_dp=9, return_moments=True
        )
        pm_rows = [
            (
                m,
                float(mean[m]),
                float(cov[m][m]),
                float(cov[m][(31 * m + 7) % 64]),
            )
            for m in range(len(mean))
        ]
        pm = local_table(
            spark,
            pm_rows,
            "m64 int, pca_mean_i double, pca_var_i double, pca_cov_ij double",
        )
        _mark(_stage_secs, "pca_moments", t0)
        return pm

    (pqe, om), oenc, mrl, (renc, probed, serv), pm = _overlap(
        _pq_stage, _opq_stage, _mrl_stage, _ivfpq_stage, _pca_stage
    )
    return (
        q.select(
            "vec_id",
            F.size("qvec").cast("int").alias("n_dims"),
            F.col("scale"),
            F.concat_ws(
                ",", F.transform("qvec", lambda c: c.cast("string"))
            ).alias("q_csv"),
            "rmse",
        )
        .withColumn("m64", (F.col("vec_id") % 64).cast("int"))
        .join(F.broadcast(pm), "m64")
        .drop("m64")
        .withColumn("m64o", (F.col("vec_id") % 64).cast("int"))
        .join(F.broadcast(om), "m64o")
        .drop("m64o")
        .join(pqe, "vec_id")
        .join(oenc, "vec_id")
        .join(mrl, "vec_id")
        .join(renc, "vec_id")
        .withColumn(
            "ivf_probed", F.col("ivf_cell").isin(probed).cast("int")
        )
        .join(serv, "vec_id", "left")
        .orderBy("vec_id")
    )


def _x27_opq_serve_ctes() -> str:
    """OPQ SERVING under the oracle (round-10 — VERDICT r9 #5): the
    rotated-codes path (operators/pq.rotate_vectors → pq_train →
    pq_encode — the ``opq_encode`` composition, pinned equal to it in
    tests/test_pq.py) cross-engine under a FIXED exact Givens rotation:
    cos 0.6 / sin 0.8 between dims (1, 17) — one dim from each of the
    first two SUBSPACES, because a within-subspace rotation is an
    isometry of every Lloyd distance (seeds rotate with the data) and
    would leave the codes bit-identical to the plain-PQ twins, pinning
    nothing new (measured, round 10) — identity elsewhere. '0.6' and
    '0.8' parse to identical doubles in numpy and DuckDB, and the
    rotated coordinates are QUANTIZED to 9dp before any training step
    (the 'quantized rotation' contract), so BLAS-vs-SQL last-ulp
    summation noise vanishes below the quantum. The LEARNED Procrustes
    rotation stays driver-numpy on both sides by the documented pca_fit
    design (SVD float order is not a cross-engine contract); its input
    is pinned via the opq_xmom_* columns and its properties
    (orthonormality, monotone objective, gain over plain PQ on
    two-dim-variance data) in tests/test_pq.py. The chain below is the
    pcb/penc trainer recipe verbatim over the rotated subvectors —
    same seeds (pseed), same 4dp-argmin / 7dp-mean / empty-cell-
    carryover contract — ending in the served columns
    opq_codes_csv / opq_rmse / opq_adc_fp."""
    out = """,
ovr AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, len(e) + 1), i ->
           round(CASE WHEN i = 1 THEN 0.6 * e[1] + 0.8 * e[17]
                      WHEN i = 17 THEN -0.8 * e[1] + 0.6 * e[17]
                      ELSE e[i] END, 9)) AS e
  FROM v),
osv AS MATERIALIZED (
  SELECT vec_id, CAST((dim - 1) // 16 AS INTEGER) AS sub,
         CAST((dim - 1) % 16 AS INTEGER) AS sd, x
  FROM (SELECT vec_id, unnest(range(1, len(e) + 1)) AS dim,
               unnest(e) AS x
        FROM ovr)),
ocb0 AS MATERIALIZED (
  SELECT s.cell, p.sub, p.sd, p.x AS c
  FROM pseed s JOIN osv p USING (vec_id))"""
    prev = "ocb0"
    for r in (1, 2):
        out += f""",
od{r} AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.x - c.c) * (p.x - c.c)), 4) AS d2
  FROM osv p JOIN {prev} c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
oa{r} AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM od{r}) WHERE rn = 1),
om{r} AS (SELECT a.sub, a.cell, p.sd, round(sum(p.x) / count(*), 7) AS c
        FROM oa{r} a JOIN osv p ON p.vec_id = a.vec_id AND p.sub = a.sub
        GROUP BY a.sub, a.cell, p.sd),
ocb{r} AS MATERIALIZED (
  SELECT c0.sub, c0.cell, c0.sd, COALESCE(m.c, c0.c) AS c
  FROM {prev} c0 LEFT JOIN om{r} m
    ON m.sub = c0.sub AND m.cell = c0.cell AND m.sd = c0.sd)"""
        prev = f"ocb{r}"
    out += f""",
od3 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.x - c.c) * (p.x - c.c)), 4) AS d2
  FROM osv p JOIN {prev} c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
oenc AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM od3) WHERE rn = 1),
ocodes AS (SELECT vec_id,
                  string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub)
                    AS opq_codes_csv
           FROM oenc GROUP BY vec_id),
orec AS (SELECT p.vec_id,
                round(sqrt(sum((p.x - c.c) * (p.x - c.c)) / 64.0), 4)
                  AS opq_rmse
         FROM oenc a
         JOIN osv p ON p.vec_id = a.vec_id AND p.sub = a.sub
         JOIN {prev} c ON c.sub = a.sub AND c.cell = a.cell
                      AND c.sd = p.sd
         GROUP BY p.vec_id),
oq0s AS (SELECT sub, sd, x FROM osv
         WHERE vec_id = (SELECT min(vec_id) FROM v)),
olut AS (SELECT c.sub, c.cell,
                CAST(round(sum((q0.x - c.c) * (q0.x - c.c)) * 10000)
                     AS BIGINT) AS dfp
         FROM {prev} c JOIN oq0s q0 ON q0.sub = c.sub AND q0.sd = c.sd
         GROUP BY c.sub, c.cell),
oadc AS (SELECT a.vec_id, CAST(sum(l.dfp) AS BIGINT) AS opq_adc_fp
         FROM oenc a JOIN olut l ON l.sub = a.sub AND l.cell = a.cell
         GROUP BY a.vec_id)"""
    return out


X27_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT vec_id, e,
             CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END AS sc
      FROM (SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) AS am
            FROM v)),
q AS (SELECT vec_id, e, sc,
             list_transform(e, x -> CAST(round(x / sc) AS TINYINT)) AS qv
      FROM s),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
dd AS (SELECT vec_id, unnest(range(1, len(e) + 1)) AS dim, unnest(e) AS x
       FROM v),
mu AS (SELECT dim, sum(x) AS sx FROM dd GROUP BY dim),
-- selective gram: only the (i, i) and (i, (31*(i-1)+7) mod 64 + 1)
-- entries any result row can reference (dims are 1-indexed here)
g2 AS (SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS sxy
       FROM dd a JOIN dd b USING (vec_id)
       WHERE b.dim = a.dim OR b.dim = ((a.dim - 1) * 31 + 7) % 64 + 1
       GROUP BY a.dim, b.dim),
-- pca_fit's exact association order: mean = s/n UNROUNDED inside the
-- covariance, then both derived moments rounded to 9dp
pmom AS (SELECT g.i, g.j,
                round(ma.sx / nn.n, 9) AS mean_i,
                round(g.sxy / nn.n - (ma.sx / nn.n) * (mb.sx / nn.n), 9)
                  AS cov_ij
         FROM g2 g CROSS JOIN nn
         JOIN mu ma ON ma.dim = g.i
         JOIN mu mb ON mb.dim = g.j),
-- ===== product quantization (round-8 zero slots): m=4 subspaces of 16
-- dims, ksub=4, TWO quantized Lloyd rounds unrolled (operators/pq.py
-- contract: 4dp-rounded squared-L2 argmin with lowest-cell ties,
-- 7dp-rounded means, empty cells keep the previous centroid VERBATIM
-- via the LEFT JOIN + COALESCE), then the trained-codebook encode,
-- reconstruction error, and the fixed-point ADC fold =====
psv AS MATERIALIZED (
  SELECT vec_id, CAST((dim - 1) // 16 AS INTEGER) AS sub,
         CAST((dim - 1) % 16 AS INTEGER) AS sd, x
  FROM dd),
pseed AS (SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cell
          FROM v ORDER BY vec_id LIMIT 4),
pcb0 AS MATERIALIZED (
  SELECT s.cell, p.sub, p.sd, p.x AS c
  FROM pseed s JOIN psv p USING (vec_id)),
pd1 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.x - c.c) * (p.x - c.c)), 4) AS d2
  FROM psv p JOIN pcb0 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
pa1 AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM pd1) WHERE rn = 1),
pm1 AS (SELECT a.sub, a.cell, p.sd, round(sum(p.x) / count(*), 7) AS c
        FROM pa1 a JOIN psv p ON p.vec_id = a.vec_id AND p.sub = a.sub
        GROUP BY a.sub, a.cell, p.sd),
pcb1 AS MATERIALIZED (
  SELECT c0.sub, c0.cell, c0.sd, COALESCE(m.c, c0.c) AS c
  FROM pcb0 c0 LEFT JOIN pm1 m
    ON m.sub = c0.sub AND m.cell = c0.cell AND m.sd = c0.sd),
pd2 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.x - c.c) * (p.x - c.c)), 4) AS d2
  FROM psv p JOIN pcb1 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
pa2 AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM pd2) WHERE rn = 1),
pm2 AS (SELECT a.sub, a.cell, p.sd, round(sum(p.x) / count(*), 7) AS c
        FROM pa2 a JOIN psv p ON p.vec_id = a.vec_id AND p.sub = a.sub
        GROUP BY a.sub, a.cell, p.sd),
pcb2 AS MATERIALIZED (
  SELECT c1.sub, c1.cell, c1.sd, COALESCE(m.c, c1.c) AS c
  FROM pcb1 c1 LEFT JOIN pm2 m
    ON m.sub = c1.sub AND m.cell = c1.cell AND m.sd = c1.sd),
pd3 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.x - c.c) * (p.x - c.c)), 4) AS d2
  FROM psv p JOIN pcb2 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
penc AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM pd3) WHERE rn = 1),
pcodes AS (SELECT vec_id,
                  string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub)
                    AS pq_codes_csv
           FROM penc GROUP BY vec_id),
prec AS (SELECT p.vec_id,
                round(sqrt(sum((p.x - c.c) * (p.x - c.c)) / 64.0), 4)
                  AS pq_rmse
         FROM penc a
         JOIN psv p ON p.vec_id = a.vec_id AND p.sub = a.sub
         JOIN pcb2 c ON c.sub = a.sub AND c.cell = a.cell AND c.sd = p.sd
         GROUP BY p.vec_id),
-- OPQ cross-moment entries: ŷ per dimension from the FINAL assignment
-- + codebooks (penc/pcb2 — the same 4dp-argmin contract the operator's
-- identity-rotation encode runs), selective to the planted (i,i) and
-- (i, (17(i-1)+3) mod 64 + 1) pairs, summed then 1/n-normalized then
-- 9dp-rounded in the operator's association order
pyh AS MATERIALIZED (
  SELECT a.vec_id, (c.sub * 16 + c.sd + 1) AS dim, c.c AS yh
  FROM penc a JOIN pcb2 c ON c.sub = a.sub AND c.cell = a.cell),
oxg AS (SELECT a.dim AS i, b.dim AS j, sum(a.x * b.yh) AS sxy
        FROM dd a JOIN pyh b USING (vec_id)
        WHERE b.dim = a.dim OR b.dim = ((a.dim - 1) * 17 + 3) % 64 + 1
        GROUP BY a.dim, b.dim),
oxm AS (SELECT g.i, g.j, round(g.sxy / nn.n, 9) AS mom
        FROM oxg g CROSS JOIN nn),
pq0 AS (SELECT sub, sd, x FROM psv
        WHERE vec_id = (SELECT min(vec_id) FROM v)),
plut AS (SELECT c.sub, c.cell,
                CAST(round(sum((q0.x - c.c) * (q0.x - c.c)) * 10000)
                     AS BIGINT) AS dfp
         FROM pcb2 c JOIN pq0 q0 ON q0.sub = c.sub AND q0.sd = c.sd
         GROUP BY c.sub, c.cell),
padc AS (SELECT a.vec_id, CAST(sum(l.dfp) AS BIGINT) AS pq_adc_fp
         FROM penc a JOIN plut l ON l.sub = a.sub AND l.cell = a.cell
         GROUP BY a.vec_id),
-- ===== IVFPQ serving (round-9 zero slots): coarse spherical k-means
-- (the x18 CTE shape at k=4, 2 rounds, dp=7), residuals vs the trained
-- coarse index, PQ trained ON THE RESIDUALS (same unrolled contract as
-- the pcb chain above), then the fixed query's probe set (top-2 cells
-- by 4dp dot, lowest idx ties), per-probed-cell fixed-point LUTs and
-- the served top-10 rank =====
ien AS MATERIALIZED (
  SELECT vec_id,
         list_transform(e, x -> x /
           (CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN 1.0
                 ELSE sqrt(list_dot_product(e, e)) END)) AS v
  FROM v),
ikd AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x
  FROM ien),
ic0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v
  FROM (SELECT vec_id, v FROM ien ORDER BY vec_id LIMIT 4)),
ia1 AS MATERIALIZED (
  SELECT vec_id, idx AS cluster FROM (
    SELECT ien.vec_id, c.idx,
           row_number() OVER (PARTITION BY ien.vec_id
                              ORDER BY round(list_dot_product(ien.v, c.v),
                                             4) DESC,
                                       c.idx) AS rn
    FROM ien CROSS JOIN ic0 c) WHERE rn = 1),
im1 AS (SELECT a.cluster, d.dim, round(sum(d.x) / count(*), 7) AS mv
        FROM ia1 a JOIN ikd d USING (vec_id) GROUP BY a.cluster, d.dim),
in1 AS (SELECT cluster, sqrt(sum(mv * mv)) AS nrm FROM im1
        GROUP BY cluster),
ic1 AS MATERIALIZED (
  SELECT p.idx, coalesce(u.v, p.v) AS v
  FROM ic0 p LEFT JOIN (
    SELECT m.cluster AS idx,
           list(round(m.mv / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END),
                      7) ORDER BY m.dim) AS v
    FROM im1 m JOIN in1 n USING (cluster)
    GROUP BY m.cluster) u USING (idx)),
ia2 AS MATERIALIZED (
  SELECT vec_id, idx AS cluster FROM (
    SELECT ien.vec_id, c.idx,
           row_number() OVER (PARTITION BY ien.vec_id
                              ORDER BY round(list_dot_product(ien.v, c.v),
                                             4) DESC,
                                       c.idx) AS rn
    FROM ien CROSS JOIN ic1 c) WHERE rn = 1),
im2 AS (SELECT a.cluster, d.dim, round(sum(d.x) / count(*), 7) AS mv
        FROM ia2 a JOIN ikd d USING (vec_id) GROUP BY a.cluster, d.dim),
in2 AS (SELECT cluster, sqrt(sum(mv * mv)) AS nrm FROM im2
        GROUP BY cluster),
ic2 AS MATERIALIZED (
  SELECT p.idx, coalesce(u.v, p.v) AS v
  FROM ic1 p LEFT JOIN (
    SELECT m.cluster AS idx,
           list(round(m.mv / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END),
                      7) ORDER BY m.dim) AS v
    FROM im2 m JOIN in2 n USING (cluster)
    GROUP BY m.cluster) u USING (idx)),
ifa AS MATERIALIZED (
  SELECT vec_id, CAST(idx AS INTEGER) AS cell FROM (
    SELECT ien.vec_id, c.idx,
           row_number() OVER (PARTITION BY ien.vec_id
                              ORDER BY round(list_dot_product(ien.v, c.v),
                                             4) DESC,
                                       c.idx) AS rn
    FROM ien CROSS JOIN ic2 c) WHERE rn = 1),
irsv AS MATERIALIZED (
  SELECT d.vec_id, CAST((d.dim - 1) // 16 AS INTEGER) AS sub,
         CAST((d.dim - 1) % 16 AS INTEGER) AS sd,
         d.x - c.v[d.dim] AS r
  FROM ikd d JOIN ifa f USING (vec_id) JOIN ic2 c ON c.idx = f.cell),
jseed AS (SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cell
          FROM ien ORDER BY vec_id LIMIT 4),
jcb0 AS MATERIALIZED (
  SELECT s.cell, p.sub, p.sd, p.r AS c
  FROM jseed s JOIN irsv p USING (vec_id)),
jd1 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.r - c.c) * (p.r - c.c)), 4) AS d2
  FROM irsv p JOIN jcb0 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
ja1 AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM jd1) WHERE rn = 1),
jm1 AS (SELECT a.sub, a.cell, p.sd, round(sum(p.r) / count(*), 7) AS c
        FROM ja1 a JOIN irsv p ON p.vec_id = a.vec_id AND p.sub = a.sub
        GROUP BY a.sub, a.cell, p.sd),
jcb1 AS MATERIALIZED (
  SELECT c0.sub, c0.cell, c0.sd, COALESCE(m.c, c0.c) AS c
  FROM jcb0 c0 LEFT JOIN jm1 m
    ON m.sub = c0.sub AND m.cell = c0.cell AND m.sd = c0.sd),
jd2 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.r - c.c) * (p.r - c.c)), 4) AS d2
  FROM irsv p JOIN jcb1 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
ja2 AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM jd2) WHERE rn = 1),
jm2 AS (SELECT a.sub, a.cell, p.sd, round(sum(p.r) / count(*), 7) AS c
        FROM ja2 a JOIN irsv p ON p.vec_id = a.vec_id AND p.sub = a.sub
        GROUP BY a.sub, a.cell, p.sd),
jcb2 AS MATERIALIZED (
  SELECT c1.sub, c1.cell, c1.sd, COALESCE(m.c, c1.c) AS c
  FROM jcb1 c1 LEFT JOIN jm2 m
    ON m.sub = c1.sub AND m.cell = c1.cell AND m.sd = c1.sd),
jd3 AS MATERIALIZED (
  SELECT p.vec_id, p.sub, c.cell,
         round(sum((p.r - c.c) * (p.r - c.c)), 4) AS d2
  FROM irsv p JOIN jcb2 c ON c.sub = p.sub AND c.sd = p.sd
  GROUP BY p.vec_id, p.sub, c.cell),
jenc AS MATERIALIZED (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM jd3) WHERE rn = 1),
jcodes AS (SELECT vec_id,
                  string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub)
                    AS ivfpq_codes_csv
           FROM jenc GROUP BY vec_id),
jrec AS (SELECT p.vec_id,
                round(sqrt(sum((p.r - c.c) * (p.r - c.c)) / 64.0), 4)
                  AS ivfpq_rmse
         FROM jenc a
         JOIN irsv p ON p.vec_id = a.vec_id AND p.sub = a.sub
         JOIN jcb2 c ON c.sub = a.sub AND c.cell = a.cell AND c.sd = p.sd
         GROUP BY p.vec_id),
iq0 AS (SELECT v FROM ien WHERE vec_id = (SELECT min(vec_id) FROM ien)),
iprob AS (SELECT idx AS cell FROM (
    SELECT c.idx,
           row_number() OVER (ORDER BY round(list_dot_product(q.v, c.v),
                                             4) DESC,
                                       c.idx) AS rn
    FROM iq0 q CROSS JOIN ic2 c) WHERE rn <= 2),
iqd AS (SELECT dim, x FROM ikd
        WHERE vec_id = (SELECT min(vec_id) FROM ien)),
iqr AS MATERIALIZED (
  SELECT p.cell, CAST((d.dim - 1) // 16 AS INTEGER) AS sub,
         CAST((d.dim - 1) % 16 AS INTEGER) AS sd,
         d.x - c.v[d.dim] AS qr
  FROM iprob p JOIN ic2 c ON c.idx = p.cell CROSS JOIN iqd d),
ilut AS MATERIALIZED (
  SELECT q.cell, cb.sub, cb.cell AS code,
         CAST(round(sum((q.qr - cb.c) * (q.qr - cb.c)) * 10000) AS BIGINT)
           AS dfp
  FROM iqr q JOIN jcb2 cb ON cb.sub = q.sub AND cb.sd = q.sd
  GROUP BY q.cell, cb.sub, cb.cell),
iserv AS (
  SELECT vec_id, adc,
         CAST(row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS INTEGER)
           AS rnk
  FROM (SELECT f.vec_id, CAST(sum(l.dfp) AS BIGINT) AS adc
        FROM ifa f JOIN jenc e ON e.vec_id = f.vec_id
        JOIN ilut l ON l.cell = f.cell AND l.sub = e.sub
                   AND l.code = e.cell
        WHERE f.vec_id <> (SELECT min(vec_id) FROM ien)
        GROUP BY f.vec_id)),
itop AS (SELECT vec_id, adc, rnk FROM iserv WHERE rnk <= 10),
-- Matryoshka prefix serving: 4dp cosine of the 16-dim PREFIXES vs the
-- same fixed query, plus the global rank under that prefix metric
mq AS (SELECT e[1:16] AS qp FROM v
       WHERE vec_id = (SELECT min(vec_id) FROM v)),
mrls AS (SELECT v.vec_id,
                round(list_cosine_similarity(v.e[1:16], mq.qp), 4)
                  AS mrl_sim_d16
         FROM v CROSS JOIN mq),
mrlr AS (SELECT vec_id, mrl_sim_d16,
                CAST(row_number() OVER (
                  ORDER BY mrl_sim_d16 DESC, vec_id) AS BIGINT)
                  AS mrl_rank_d16
         FROM mrls)""" + _x27_opq_serve_ctes() + """
SELECT vec_id,
       CAST(len(qv) AS INTEGER) AS n_dims,
       sc AS scale,
       array_to_string(qv, ',') AS q_csv,
       round(sqrt(list_sum(list_transform(e, (x, i) ->
               (x - qv[i] * sc) * (x - qv[i] * sc)))
             / greatest(len(e), 1)), 4) AS rmse,
       pii.mean_i AS pca_mean_i,
       pii.cov_ij AS pca_var_i,
       pij.cov_ij AS pca_cov_ij,
       pc.pq_codes_csv,
       pr.pq_rmse,
       pa.pq_adc_fp,
       oii.mom AS opq_xmom_ii,
       oij.mom AS opq_xmom_ij,
       oc.opq_codes_csv,
       orc.opq_rmse,
       oad.opq_adc_fp,
       mr.mrl_sim_d16,
       mr.mrl_rank_d16,
       f2.cell AS ivf_cell,
       jc.ivfpq_codes_csv,
       jr.ivfpq_rmse,
       CASE WHEN ipp.cell IS NOT NULL THEN 1 ELSE 0 END AS ivf_probed,
       it.adc AS ivfpq_adc_fp,
       it.rnk AS ivfpq_rank
FROM q
JOIN pmom pii ON pii.i = vec_id % 64 + 1 AND pii.j = pii.i
JOIN pmom pij ON pij.i = vec_id % 64 + 1
             AND pij.j = (31 * (vec_id % 64) + 7) % 64 + 1
JOIN pcodes pc USING (vec_id)
JOIN prec pr USING (vec_id)
JOIN padc pa USING (vec_id)
JOIN oxm oii ON oii.i = vec_id % 64 + 1 AND oii.j = oii.i
JOIN oxm oij ON oij.i = vec_id % 64 + 1
            AND oij.j = ((vec_id % 64) * 17 + 3) % 64 + 1
JOIN ocodes oc USING (vec_id)
JOIN orec orc USING (vec_id)
JOIN oadc oad USING (vec_id)
JOIN mrlr mr USING (vec_id)
JOIN ifa f2 USING (vec_id)
JOIN jcodes jc USING (vec_id)
JOIN jrec jr USING (vec_id)
LEFT JOIN iprob ipp ON ipp.cell = f2.cell
LEFT JOIN itop it USING (vec_id)
ORDER BY vec_id
"""


# --- x28 bigram-LM perplexity (CCNet/KenLM-style LM quality filtering) --------
#
# Train + self-score over the documents table; the oracle re-derives the
# ENTIRE model in DuckDB SQL — tokenization, BOS padding, bigram census,
# context counts, vocab size, add-k smoothing, the 4dp-rounded logps,
# and the exact fixed-point doc mean (see operators/relevance.py for why
# a float avg cannot be the cross-engine contract). backoff=False — the
# self-trained fast path — because the oracle's gram→lm join IS the
# no-backoff semantics (every gram is in the model by construction);
# the backoff branch is pinned by the held-out tests in
# tests/test_relevance.py.

# Fixed literal merge list for x28's BPE columns — WELL-FORMED (every
# composite symbol appears after the merges forming it), which is the
# property making "replay merges in rank order" equal to encode's
# lowest-rank-first iteration (a trained list has it by construction;
# a hand list must keep it or the two engines' formulations diverge).
_X28_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "</w>"),
    ("d", "</w>"),
    ("s", "</w>"),
    ("t", "h"),
    ("th", "e</w>"),
    ("a", "n"),
    ("an", "d</w>"),
    ("i", "n"),
    ("o", "n"),
    ("e", "r"),
    ("o", "u"),
    ("t", "</w>"),
]


def x28_lm_perplexity(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """Per-document bigram-LM perplexity, model self-trained on the
    corpus: one gram census (train) + one gram→model join (score);
    model tables vocab²-bounded, never the corpus again
    (operators/relevance.train_bigram_lm / lm_perplexity).

    Since the BPE promotion (round 6, zero slots — the x24 extra-columns
    pattern) each row also carries ``n_bpe_pieces`` / ``max_word_pieces``:
    the corpus's word TYPES are segmented by the REAL Arrow-batched
    encode path (operators/bpe.encode_word_types, per-batch memo, ranks
    in the closure) under the fixed literal merge list above, joined
    back to the token stream and folded per doc. DuckDB re-derives the
    segmentation as an UNROLLED replace() chain over space-joined
    symbol strings — one replace per merge, in rank order — so the
    subword encoder's output is hash-verified cross-engine, not just
    property-pinned."""
    from ..operators import bpe as BP

    docs = parallel_table(spark, sf, "documents")
    # ONE tokenize+explode pass for train AND score: the gram stream is
    # materialized once (localCheckpoint) and shared — without it both
    # halves re-run the scan+regex pipeline independently
    import time as _time

    _t = _time.time()
    grams = RV.doc_bigrams(docs, "doc_id", "text").localCheckpoint()
    _t = _mark(_stage_secs, "gram_census", _t)
    # Stage dependency graph after the shared gram checkpoint: the
    # add-k LM (+ its perplexity/buckets/Moore-Lewis consumers), the
    # Kneser-Ney LM, and the word-census tokenizer-trainer family are
    # three INDEPENDENT pipelines (all reading `grams` / `docs`), each
    # with its own eager census collects — the baseline ran them back
    # to back (addk_kn_lm 3.3 + moore_lewis 0.9 + word_census 0.8 s at
    # sf0.1). Submit them as concurrent jobs (guide §2.6 via _overlap);
    # every model table is a pure function of the census row set, so
    # results are bit-identical. stage_secs walls now OVERLAP (the
    # _probe caveat); the KN half of the old combined "addk_kn_lm" key
    # lands under the new "kn_lm" key.
    def _addk_ml_stage():
        t0 = _time.time()
        lm, ctx, v = RV.train_bigram_lm(
            docs, "doc_id", "text", add_k=0.5, grams=grams
        )
        ppl = RV.lm_perplexity(
            docs, lm, ctx, v, "doc_id", "text", backoff=False, grams=grams
        )
        # CCNet head/middle/tail (round-9 zero-slot promotion —
        # relevance.ppl_buckets, Wenzek et al. 2020): every doc carries
        # its global perplexity rank and its tercile under the add-k
        # model. Rank comes from the skew-proof bucketed row_number (no
        # SinglePartition corpus pass), the bucket from the exact
        # integer (rank−1)·3 div total — both cross-engine hashable.
        ppl = ppl.localCheckpoint()  # consumed by the bucket rank AND
        # the Moore-Lewis reuse AND the output join
        buckets = RV.ppl_buckets(ppl, "doc_id", "ppl", n_buckets=3)
        _mark(_stage_secs, "addk_kn_lm", t0)
        # Moore-Lewis cross-entropy-difference selection (round-10
        # zero-slot promotion — relevance.moore_lewis_scores, Moore &
        # Lewis ACL 2010): in-domain = source 'src0' (the x32 DSIR
        # target, so the two selection families are comparable on the
        # same target). Shares the materialized gram stream AND the
        # already-trained general LM; the in-domain model is one census
        # aggregation over the src0 subset, OOV grams take the backoff
        # floor. ml_excess_fp is the exact 1e-4 fixed-point difference
        # of the two integer-mean logps.
        t0 = _time.time()
        ml = RV.moore_lewis_scores(
            docs, "doc_id", "text", F.col("source") == "src0",
            grams=grams, general=(lm, ctx, v), general_scored=ppl,
        ).select("doc_id", "ml_excess_fp")
        _mark(_stage_secs, "moore_lewis", t0)
        return ppl, buckets, ml

    # KNESER-NEY promotion (round 9, zero slots): the same gram stream
    # feeds the interpolated-KN model (train_bigram_lm_kn — absolute
    # discount + continuation-count backoff mass, the smoothing add-k
    # trades away) and each row carries kn_avg_logp / kn_ppl. DuckDB
    # re-derives the census, the continuation counts, every 4dp logp
    # and the fixed-point doc mean; backoff=False for the same
    # self-scored reason as ppl (the backoff arm is DuckDB-pinned on a
    # held-out split in tests/test_relevance.py).
    def _kn_stage():
        t0 = _time.time()
        knlm, knctx, kncont, knt, knv = RV.train_bigram_lm_kn(
            docs, "doc_id", "text", discount=0.75, cont_k=0.5, grams=grams
        )
        knppl = RV.lm_perplexity_kn(
            docs, knlm, knctx, kncont, knt, knv, "doc_id", "text",
            backoff=False, grams=grams,
        ).select(
            "doc_id",
            F.col("avg_logp").alias("kn_avg_logp"),
            F.col("ppl").alias("kn_ppl"),
        )
        _mark(_stage_secs, "kn_lm", t0)
        return knppl

    from ..functions.text import tokens_array

    # ONE tokenize+explode word stream and ONE distinct word-type set
    # for ALL FOUR tokenizer families (fixed-merge BPE, trained BPE,
    # WordPiece, unigram). The baseline built
    # ``words.select("word").distinct()`` and re-ran the corpus explode
    # once PER FAMILY in the final plan — 4 corpus explodes, 4
    # word-type distincts, 4 doc-keyed shuffles, 4 output joins
    # (baseline x28 execute: 7.6 s, the query's dominant cost). The
    # word-type set is vocabulary-sized (the tokenizer-trainer premise:
    # censuses are bounded, corpora are not), so it localCheckpoints
    # cheaply; each family encodes that one frame (word-keyed Arrow
    # passes over vocab-sized input), the four (word, n_pieces) tables
    # join word-keyed BEFORE touching the corpus (guide §2.3: aggregate
    # /join on the small side first), and ONE corpus join + ONE
    # doc-keyed groupBy produces all five per-doc piece aggregates.
    words = docs.select(
        "doc_id", F.explode(tokens_array("text")).alias("word")
    )

    def _wtypes_stage():
        t0 = _time.time()
        wtypes = words.select("word").distinct().localCheckpoint()
        _mark(_stage_secs, "word_types", t0)
        return wtypes
    # BPE TRAINING (round-7 zero-slot promotion — the x33/x31 recipe
    # applied to the tokenizer trainer): train_bpe learns 8 merges from
    # the corpus word census (freq-DESC/word-ASC truncation, count ties
    # break on the pair's lexical order — all integer/string decisions,
    # nothing to quantize), the corpus word types are re-encoded under
    # the TRAINED list, and two columns pin it cross-engine:
    # bpe_merges_fp8 (md5 prefix of the learned 'a b|c d|...' list — a
    # wrong merge ANYWHERE breaks every row) and n_bpe_pieces_trained.
    # DuckDB re-derives the census, unrolls all 8 merge rounds (pair
    # census -> ORDER BY c DESC, pair LIMIT 1 -> double-replace apply)
    # and replays the learned merges over every word type.
    import hashlib

    # ONE census collect for all four trainers (BPE, WordPiece, hard-
    # and soft-EM unigram): each used to run its own tokenize+explode+
    # census+collect pass — 3 redundant corpus scans in a benchmarked
    # headline query (round-9 review finding). This whole trainer
    # family is the third concurrent stage group (driver-side after
    # the one census collect).
    def _trainers_stage():
        t0 = _time.time()
        _census_rows = BP.word_census(docs, "text", 4096).collect()
        shared_census = [(r["word"], int(r["freq"])) for r in _census_rows]
        t0 = _mark(_stage_secs, "word_census", t0)
        merges, _alpha = BP.train_bpe(docs, "text", num_merges=8,
                                      max_word_types=4096,
                                      census=shared_census)
        t0 = _mark(_stage_secs, "bpe_train", t0)
        return shared_census, merges

    (ppl, buckets, ml), knppl, (shared_census, merges), wtypes = _overlap(
        _addk_ml_stage, _kn_stage, _trainers_stage, _wtypes_stage
    )
    _t = _time.time()
    enc = BP.encode_word_types(wtypes, _X28_BPE_MERGES).select(
        "word", F.size("pieces").cast("bigint").alias("_np")
    )
    mfp = hashlib.md5(
        "|".join(a + " " + b for a, b in merges).encode()
    ).hexdigest()[:8]
    enc_t = BP.encode_word_types(wtypes, merges).select(
        "word", F.size("pieces").cast("bigint").alias("_npt")
    )
    # UNIGRAM-LM TRAINING (round-8 zero-slot promotion — the fifth
    # iterative trainer under the unrolled-CTE recipe, and the first
    # PROBABILISTIC one): train_unigram seeds substring candidates from
    # the same word census, runs 2 hard-EM rounds (fixed-point Viterbi
    # best segmentations -> freq-weighted counts with a +1 single-char
    # coverage floor -> re-estimated 1e6-fixed-point ln probabilities)
    # and prunes to 12 multi-char pieces + the alphabet. Two columns pin
    # it: uni_model_fp8 (md5 prefix of the piece:logp table — one wrong
    # probability anywhere breaks every row) and n_uni_pieces (each
    # doc's Viterbi piece count under the trained table, encoded by the
    # real Arrow path). DuckDB re-derives seed scores, both EM rounds
    # (best paths via recursive-CTE enumeration vs the driver's DP — a
    # cross-ALGORITHM pin with the same (score DESC, seg ASC) contract),
    # the prune, the fingerprint and every per-doc count.
    from ..operators import unigram as UG

    # WORDPIECE TRAINING (round-9 zero-slot promotion — the SEVENTH
    # trainer under the unrolled-CTE recipe, and the first whose merge
    # decision is a likelihood SCORE rather than a raw count): 8
    # score-ranked merges from the same word census, greedy
    # longest-match encode over every word type (the BERT algorithm —
    # NOT merge replay; DuckDB walks it with a recursive CTE). Two
    # columns pin it: wp_vocab_fp8 (md5 prefix of the ordered piece
    # list) and n_wp_pieces. The score's cross-engine determinism is
    # IEEE-exact, not quantized: float(c)/(float(ca)*float(cb)) is the
    # same cast-cast-multiply-divide sequence both engines run
    # (operators/wordpiece.py module doc).
    from ..operators import wordpiece as WP

    wp_vocab, _wp_merges, _wp_alpha = WP.train_wordpiece(
        docs, "text", num_merges=8, max_word_types=4096,
        census=shared_census,
    )
    wfp = WP.wordpiece_vocab_fp8(wp_vocab)
    enc_w = WP.encode_word_types_wp(wtypes, wp_vocab).select(
        "word", F.size("pieces").cast("bigint").alias("_nw")
    )
    _t = _mark(_stage_secs, "wp_train", _t)
    uni = UG.train_unigram(
        docs, "text", vocab_size=12, n_rounds=2, max_piece_len=4,
        seed_size=64, max_word_types=4096, census=shared_census,
    )
    ufp = UG.unigram_model_fp8(uni)
    # round 9: the TRUE soft-EM trainer under the gate too — expected
    # counts quantized to integer fixed point per round (count_dp=4)
    # make the forward-backward model cross-engine hashable; DuckDB
    # re-derives it by ENUMERATING all segmentations per census word
    # and folding exp(score/1e6) — a cross-ALGORITHM pin of the whole
    # lattice (uni_soft_fp8 breaks if any expected count, floor, prune
    # or M-step diverges)
    uni_soft = UG.train_unigram(
        docs, "text", vocab_size=12, n_rounds=2, max_piece_len=4,
        seed_size=64, max_word_types=4096, em="soft", count_dp=4,
        census=shared_census,
    )
    usfp = UG.unigram_model_fp8(uni_soft)
    enc_u = UG.unigram_encode_word_types(wtypes, uni).select(
        "word", F.size("pieces").cast("bigint").alias("_nu")
    )
    _t = _mark(_stage_secs, "unigram_em", _t)
    # ONE per-word piece-count table for all four families (each
    # encoder emits exactly one row per input word type, so the
    # word-keyed inner joins are lossless), then ONE corpus join + ONE
    # doc-keyed groupBy for all five aggregates — the baseline's four
    # separate explode→join→groupBy subtrees collapsed (guide §2.4).
    enc_all = enc.join(enc_t, "word").join(enc_w, "word").join(enc_u, "word")
    piece_aggs = (
        words.join(enc_all, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("_np").cast("bigint").alias("n_bpe_pieces"),
            F.max("_np").cast("bigint").alias("max_word_pieces"),
            F.sum("_npt").cast("bigint").alias("n_bpe_pieces_trained"),
            F.sum("_nu").cast("bigint").alias("n_uni_pieces"),
            F.sum("_nw").cast("bigint").alias("n_wp_pieces"),
        )
    )
    # TOKENIZER FERTILITY (round-10 zero-slot promotion — VERDICT r9
    # #3, jobs/report._tokenizer_fertility_rows under the gate): the
    # three corpus-level fertility ratios — freq-weighted mean pieces
    # per word over the SAME shared census the trainers consume — as
    # 1e6 fixed-point BIGINTs under the exact integer-DIV contract:
    # floor((sum freq·pieces · 1e6) / sum freq), python int // here,
    # HUGEINT // in the oracle (the KMV/UniMax twin). Driver cost: one
    # loop over the ≤4096 census types already in hand — no extra
    # corpus pass, no collect. Like the model fingerprints these are
    # corpus CONSTANTS: the pin is the value (a wrong merge / vocab
    # entry / probability anywhere moves the sum), not per-row
    # variation.
    _ranks = {pair: i for i, pair in enumerate(merges)}
    _wset = set(wp_vocab)
    _mpl = max((len(pc) for pc in uni), default=1)
    _tot = sum(f for _, f in shared_census)
    _s_bpe = _s_wp = _s_uni = 0
    for _w, _f in shared_census:
        _s_bpe += _f * len(BP._encode_word(_w, _ranks))
        _s_wp += _f * len(WP._encode_word_wp(_w, _wset))
        _seg = UG._viterbi(_w, uni, _mpl)
        # char fallback when no segmentation exists — apply_unigram's
        # convention, mirrored by the oracle's coalesce(np, length)
        _s_uni += _f * (len(_seg) if _seg else len(_w))
    fert = {
        "bpe_fert_fp": _s_bpe * 1_000_000 // _tot if _tot else 0,
        "uni_fert_fp": _s_uni * 1_000_000 // _tot if _tot else 0,
        "wp_fert_fp": _s_wp * 1_000_000 // _tot if _tot else 0,
    }
    _t = _mark(_stage_secs, "fertility", _t)
    return (
        ppl.join(buckets, "doc_id", "left")
        .join(knppl, "doc_id", "left")
        .join(ml, "doc_id", "left")
        .join(piece_aggs, "doc_id", "left")
        .na.fill({"n_bpe_pieces": 0, "max_word_pieces": 0,
                  "n_bpe_pieces_trained": 0, "n_uni_pieces": 0,
                  "n_wp_pieces": 0})
        .withColumn("bpe_merges_fp8", F.lit(mfp))
        .withColumn("uni_model_fp8", F.lit(ufp))
        .withColumn("uni_soft_fp8", F.lit(usfp))
        .withColumn("wp_vocab_fp8", F.lit(wfp))
        .withColumn("bpe_fert_fp", F.lit(fert["bpe_fert_fp"]).cast("long"))
        .withColumn("uni_fert_fp", F.lit(fert["uni_fert_fp"]).cast("long"))
        .withColumn("wp_fert_fp", F.lit(fert["wp_fert_fp"]).cast("long"))
        .orderBy("doc_id")
    )


def _x28_bpe_enc_sql() -> str:
    """Unrolled BPE encode of a ``word`` column: start from the
    space-joined character sequence + the </w> sentinel, then replace()
    per merge IN RANK ORDER (the list is well-formed, so replay order
    == encode's lowest-rank-first).

    Each merge applies replace() TWICE: a single char-level replace is
    NOT _merge_seq — consecutive occurrences share a boundary space
    (' i n i n ' in 'dining'), the first replacement consumes it, and
    the scan resumes past it, skipping the second occurrence that the
    token-level pass merges. Skipped occurrences are never adjacent
    (a skip only happens immediately after a replacement), so after
    pass one every leftover has intact spaces on both sides and pass
    two catches all of them — two passes are exact, not a heuristic."""
    enc = "' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> '"
    for a, b in _X28_BPE_MERGES:
        for _ in range(2):
            enc = f"replace({enc}, ' {a} {b} ', ' {a}{b} ')"
    return enc


def _x28_bpe_train_ctes(num_merges: int = 8, max_word_types: int = 4096) -> str:
    """Unrolled BPE TRAINING (the x31/x33 MATERIALIZED-CTE recipe for
    iterative algorithms, applied to the tokenizer trainer — every
    decision is integer counts + string order, nothing to quantize).
    Per round over the freq-weighted census segmentation: adjacent-pair
    census, best = ORDER BY count DESC, pair ASC LIMIT 1 (string order
    on 'a b' equals the trainer's (a, b) tuple order because symbols
    never contain spaces and ' ' sorts below every symbol char), apply
    via the encode chain's double-replace (exactness argument at
    ``_x28_bpe_enc_sql``). A parallel be{{r}} chain replays the learned
    merges over ALL word types (replay-in-rank-order == encode's
    lowest-rank-first because trained lists are well-formed by
    construction — a composite exists only after the merges forming
    it)."""
    out = f""",
bw AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM words GROUP BY word
  ORDER BY freq DESC, word LIMIT {max_word_types}),
bs0 AS MATERIALIZED (
  SELECT word, freq,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS s
  FROM bw),
be0 AS MATERIALIZED (
  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS s
  FROM (SELECT DISTINCT word FROM words))"""
    for r in range(1, num_merges + 1):
        out += f""",
bp{r} AS MATERIALIZED (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
    FROM (SELECT freq,
                 list_filter(string_split(s, ' '), x -> x <> '') AS syms
          FROM bs{r - 1}))
  GROUP BY pair),
bb{r} AS MATERIALIZED (
  -- scalar-subquery form so this row ALWAYS exists: if the pair census
  -- runs dry before round {num_merges} (BPE early-stop — the trainer
  -- breaks out of the loop), the sentinel '~ ~' keeps the CROSS JOINs
  -- below as no-ops ('~' is outside the a-z/</w> symbol alphabet, so
  -- the replace never matches) instead of annihilating the seg/encode
  -- chains to empty and silently zeroing every trained piece count
  SELECT coalesce((SELECT pair FROM bp{r} ORDER BY c DESC, pair LIMIT 1),
                  '~ ~') AS pair,
         coalesce((SELECT replace(pair, ' ', '') FROM bp{r}
                   ORDER BY c DESC, pair LIMIT 1),
                  '~~') AS joined),
bs{r} AS MATERIALIZED (
  SELECT w.word, w.freq,
         replace(replace(w.s, ' ' || b.pair || ' ', ' ' || b.joined || ' '),
                 ' ' || b.pair || ' ', ' ' || b.joined || ' ') AS s
  FROM bs{r - 1} w CROSS JOIN bb{r} b),
be{r} AS MATERIALIZED (
  SELECT w.word,
         replace(replace(w.s, ' ' || b.pair || ' ', ' ' || b.joined || ' '),
                 ' ' || b.pair || ' ', ' ' || b.joined || ' ') AS s
  FROM be{r - 1} w CROSS JOIN bb{r} b)"""
    ranks = " UNION ALL ".join(
        f"SELECT {r} AS rank, pair FROM bb{r}"
        for r in range(1, num_merges + 1)
    )
    out += f""",
bfp AS (
  -- sentinel rounds (early-stop) are excluded from the fingerprint so
  -- it hashes exactly the merges the trainer actually learned;
  -- coalesce('') covers the zero-merge corpus (python md5 of '')
  SELECT substr(md5(coalesce(string_agg(pair, '|' ORDER BY rank), '')),
                1, 8) AS fp
  FROM ({ranks}) WHERE pair <> '~ ~'),
btc AS (
  SELECT word,
         CAST(len(list_filter(string_split(s, ' '), x -> x <> ''))
              AS BIGINT) AS npt
  FROM be{num_merges}),
bpct AS (
  SELECT doc_id, CAST(sum(npt) AS BIGINT) AS n_bpe_pieces_trained
  FROM words JOIN btc USING (word) GROUP BY doc_id)"""
    return out


def _x28_wp_train_ctes(num_merges: int = 8, wp_unroll: int = 12) -> str:
    """Unrolled WORDPIECE training (the seventh trainer under the
    unrolled-CTE recipe) + recursive-CTE greedy encode.

    Per round over the freq-weighted census segmentation (first char
    bare, rest ##-prefixed): adjacent-pair census AND symbol census,
    best = ORDER BY score DESC, pair ASC LIMIT 1 where score =
    CAST(c AS DOUBLE) / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) —
    the EXACT IEEE op sequence the python trainer runs (cast, cast,
    multiply, divide, each correctly rounded), so the two engines pick
    identical merges at any count magnitude (operators/wordpiece.py
    module doc). Apply via the double-replace trick (exactness argument
    at ``_x28_bpe_enc_sql``; '#' never appears inside a-z text so the
    ##-marked symbols collide with nothing). Early-stop sentinel '~ ~'
    as in the BPE chain.

    Encoding is NOT merge replay (the WordPiece/BERT contract): an
    UNROLLED strip-longest-piece walk — ``wp_unroll`` plain CTE steps,
    each taking the LONGEST vocabulary piece prefixing the remainder
    (##-matched after the first piece; max_by is safe because two
    distinct same-length pieces cannot both prefix one remainder).
    Unrolled rather than recursive: DuckDB 1.0 plans a correlated
    subquery inside a RECURSIVE member inconsistently (the same walk
    returns 0 recursion rows under one outer query and full rows under
    another — measured on this exact query), while the identical
    subquery in plain CTE steps is reliable. The unroll bound covers
    words up to ``wp_unroll`` pieces (testdata max word length is 8
    chars = at most 8 single-char pieces); a word stuck with no match
    (true [UNK]), deeper than the bound, or longer than BERT's
    100-char ``max_input_chars_per_word`` cap
    (``wordpiece.MAX_WORD_CHARS``) counts 1 — for in-alphabet corpora
    only the [UNK] arm can fire, and a bound regression breaks the
    registry hash loudly.

    This fragment REQUIRES ``_x28_bpe_train_ctes`` earlier in the same
    WITH list: the word census comes from its ``bw`` CTE (one census
    aggregation for both trainers, and ONE place owning the
    max_word_types LIMIT so the two chains cannot silently diverge
    from the Spark side) and the all-types word list from its
    ``be0``."""
    out = """,
wps0 AS MATERIALIZED (
  SELECT word, freq,
         ' ' || substr(word, 1, 1) || ' ' ||
         regexp_replace(substr(word, 2), '(.)', '##\\1 ', 'g') AS s
  FROM bw)"""
    for r in range(1, num_merges + 1):
        out += f""",
wpp{r} AS MATERIALIZED (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
    FROM (SELECT freq,
                 list_filter(string_split(s, ' '), x -> x <> '') AS syms
          FROM wps{r - 1}))
  GROUP BY pair),
wpy{r} AS MATERIALIZED (
  SELECT sym, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest(list_filter(string_split(s, ' '), x -> x <> ''))
             AS sym
    FROM wps{r - 1})
  GROUP BY sym),
wpb{r} AS MATERIALIZED (
  SELECT coalesce(
           (SELECT p.pair
            FROM wpp{r} p
            JOIN wpy{r} a ON a.sym = split_part(p.pair, ' ', 1)
            JOIN wpy{r} b ON b.sym = split_part(p.pair, ' ', 2)
            ORDER BY CAST(p.c AS DOUBLE)
                       / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) DESC,
                     p.pair
            LIMIT 1),
           '~ ~') AS pair),
wpj{r} AS MATERIALIZED (
  SELECT pair,
         split_part(pair, ' ', 1) ||
         CASE WHEN split_part(pair, ' ', 2) LIKE '##%'
              THEN substr(split_part(pair, ' ', 2), 3)
              ELSE split_part(pair, ' ', 2) END AS joined
  FROM wpb{r}),
wps{r} AS MATERIALIZED (
  SELECT w.word, w.freq,
         replace(replace(w.s, ' ' || b.pair || ' ', ' ' || b.joined || ' '),
                 ' ' || b.pair || ' ', ' ' || b.joined || ' ') AS s
  FROM wps{r - 1} w CROSS JOIN wpj{r} b)"""
    ranks = " UNION ALL ".join(
        f"SELECT {r} AS rank, pair, joined FROM wpj{r}"
        for r in range(1, num_merges + 1)
    )
    out += f""",
wpalpha AS MATERIALIZED (
  SELECT DISTINCT unnest(list_filter(string_split(s, ' '), x -> x <> ''))
           AS piece
  FROM wps0),
wpvoc AS MATERIALIZED (
  -- vocabulary: alphabet in sorted order, then merges in learned order;
  -- min(ord) is the first-occurrence-wins dedup of the python builder
  SELECT piece, min(ord) AS ord FROM (
    SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS ord
    FROM wpalpha
    UNION ALL
    SELECT joined AS piece, 1000000 + rank AS ord
    FROM ({ranks}) WHERE pair <> '~ ~')
  GROUP BY piece),
wfp AS (
  SELECT substr(md5(coalesce(string_agg(piece, '|' ORDER BY ord), '')),
                1, 8) AS fp
  FROM wpvoc),
wk0 AS MATERIALIZED (
  SELECT word, word AS rest, 0 AS np FROM be0)"""
    for i in range(1, wp_unroll + 1):
        out += f""",
wk{i} AS MATERIALIZED (
  SELECT word,
         CASE WHEN best IS NULL THEN rest
              ELSE substr(rest, 1 + length(best) -
                          CASE WHEN np > 0 THEN 2 ELSE 0 END) END AS rest,
         CASE WHEN best IS NULL THEN np ELSE np + 1 END AS np
  FROM (
    SELECT word, rest, np,
           (SELECT max_by(v.piece, length(v.piece))
            FROM wpvoc v
            WHERE (np = 0 AND v.piece NOT LIKE '##%'
                   AND starts_with(rest, v.piece))
               OR (np > 0 AND v.piece LIKE '##%'
                   AND starts_with(rest, substr(v.piece, 3)))
           ) AS best
    FROM wk{i - 1}))"""
    out += f""",
wpnp AS MATERIALIZED (
  -- length(word) > 100: BERT's max_input_chars_per_word cap -> [UNK]
  -- counts 1 piece (mirrors wordpiece.MAX_WORD_CHARS, round 10)
  SELECT word, CAST(CASE WHEN length(word) > 100 THEN 1
                         WHEN rest = '' THEN np ELSE 1 END AS BIGINT) AS np
  FROM wk{wp_unroll}),
wpct AS (
  SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_wp_pieces
  FROM words JOIN wpnp USING (word) GROUP BY doc_id)"""
    return out


def _x28_uni_train_ctes(
    vocab_size: int = 12,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 64,
) -> str:
    """Unrolled unigram-LM training (operators/unigram.py) — the
    BPE-trainer recipe applied to the probabilistic tokenizer. Every
    decision is integer fixed-point (lp = round(1e6·ln(c/total)) as
    BIGINT, so Viterbi scores are exact BIGINT sums) or string order
    (best-path ties: space-joined segmentation ASC — binary collation,
    matching python's str compare on this ASCII alphabet). Best paths
    come from a full recursive-CTE enumeration of segmentations, a
    DIFFERENT algorithm from the driver's DP — path counts are bounded
    by the tetranacci of the census word length, and the census is the
    truncated ``bw``. The +1 single-char count floor each round mirrors
    the trainer's coverage guarantee. Doc words missing from the encode
    (a character outside the model — only possible under census
    truncation) fall back to length(word) pieces, exactly the
    operator's char-list fallback."""
    out = f""",
uss AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS score FROM (
    SELECT freq,
           substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
    FROM (SELECT word, freq,
                 unnest(range(1, length(word) + 1)) AS i
          FROM bw)
    CROSS JOIN range(1, {max_piece_len} + 1) u(l)
    WHERE i + l <= length(word) + 1)
  GROUP BY piece),
uali AS MATERIALIZED (
  SELECT piece, score FROM uss WHERE length(piece) = 1),
uv0 AS MATERIALIZED (
  SELECT piece, score FROM uali
  UNION ALL
  SELECT piece, score FROM (
    SELECT piece, score FROM uss WHERE length(piece) > 1
    ORDER BY score DESC, piece LIMIT {seed_size})),
um0 AS MATERIALIZED (
  SELECT piece,
         CAST(round(1000000.0 * ln(CAST(score AS DOUBLE) /
              CAST((SELECT sum(score) FROM uv0) AS DOUBLE))) AS BIGINT)
           AS lp
  FROM uv0)"""
    for r in range(1, n_rounds + 1):
        out += f""",
upath{r} AS (
  SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS sc, '' AS seg FROM bw
  UNION ALL
  SELECT p.word, p.freq, p.pos + length(m.piece), p.sc + m.lp,
         CASE WHEN p.seg = '' THEN m.piece
              ELSE p.seg || ' ' || m.piece END
  FROM upath{r} p JOIN um{r - 1} m
    ON m.piece = substr(p.word, p.pos + 1, length(m.piece))
  WHERE p.pos < length(p.word)),
useg{r} AS MATERIALIZED (
  SELECT word, freq, seg FROM (
    SELECT word, freq, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY sc DESC, seg) AS rn
    FROM upath{r} WHERE pos = length(word))
  WHERE rn = 1),
ucc{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(c) AS BIGINT) AS c FROM (
    SELECT unnest(string_split(seg, ' ')) AS piece, freq AS c
    FROM useg{r}
    UNION ALL
    SELECT piece, 1 AS c FROM uali)
  GROUP BY piece),
um{r} AS MATERIALIZED (
  SELECT piece,
         CAST(round(1000000.0 * ln(CAST(c AS DOUBLE) /
              CAST((SELECT sum(c) FROM ucc{r}) AS DOUBLE))) AS BIGINT)
           AS lp
  FROM ucc{r})"""
    out += f""",
ufin AS MATERIALIZED (
  SELECT piece, lp FROM um{n_rounds} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, lp FROM (
    SELECT m.piece, m.lp FROM um{n_rounds} m
    JOIN ucc{n_rounds} c USING (piece)
    WHERE length(m.piece) > 1
    ORDER BY c.c DESC, m.piece LIMIT {vocab_size})),
ufp8 AS (
  SELECT substr(md5(coalesce(string_agg(
           piece || ':' || CAST(lp AS VARCHAR), '|' ORDER BY piece), '')),
         1, 8) AS fp
  FROM ufin),
uepath AS (
  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS sc, '' AS seg
  FROM (SELECT DISTINCT word FROM words)
  UNION ALL
  SELECT p.word, p.pos + length(m.piece), p.sc + m.lp,
         CASE WHEN p.seg = '' THEN m.piece
              ELSE p.seg || ' ' || m.piece END
  FROM uepath p JOIN ufin m
    ON m.piece = substr(p.word, p.pos + 1, length(m.piece))
  WHERE p.pos < length(p.word)),
uenc AS MATERIALIZED (
  SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS np FROM (
    SELECT word, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY sc DESC, seg) AS rn
    FROM uepath WHERE pos = length(word))
  WHERE rn = 1),
upct AS (
  SELECT w.doc_id,
         CAST(sum(coalesce(e.np, length(w.word))) AS BIGINT)
           AS n_uni_pieces
  FROM words w LEFT JOIN uenc e USING (word) GROUP BY w.doc_id)"""
    # ===== quantized soft-EM twin (round 9): same seed model um0, but
    # each round's expected counts come from enumerating ALL
    # segmentations and folding freq·exp(score/1e6)/Z — the true E-step
    # by a DIFFERENT algorithm than the driver's forward-backward
    # lattice. Quantizing the aggregated counts to integer fixed point
    # (round-half-away ·1e4, zero-quantized pieces dropped, 1e4
    # coverage floor per alphabet char) makes every M-step consume
    # exact BIGINTs, so the trained model fingerprints identically
    # cross-engine despite float internals. =====
    prev = "um0"
    for r in range(1, n_rounds + 1):
        out += f""",
spath{r} AS (
  SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS sc, '' AS seg FROM bw
  UNION ALL
  SELECT p.word, p.freq, p.pos + length(m.piece), p.sc + m.lp,
         CASE WHEN p.seg = '' THEN m.piece
              ELSE p.seg || ' ' || m.piece END
  FROM spath{r} p JOIN {prev} m
    ON m.piece = substr(p.word, p.pos + 1, length(m.piece))
  WHERE p.pos < length(p.word)),
sfull{r} AS MATERIALIZED (
  SELECT word, freq, seg, sc FROM spath{r} WHERE pos = length(word)),
sz{r} AS MATERIALIZED (
  SELECT word, sum(exp(CAST(sc AS DOUBLE) / 1000000.0)) AS z
  FROM sfull{r} GROUP BY word),
sec{r} AS MATERIALIZED (
  SELECT piece, c FROM (
    SELECT piece,
           CAST(round(10000.0 * sum(freq * exp(CAST(sc AS DOUBLE)
                                               / 1000000.0) / z))
                AS BIGINT) AS c
    FROM (SELECT s.freq, s.sc, z.z,
                 unnest(string_split(s.seg, ' ')) AS piece
          FROM sfull{r} s JOIN sz{r} z USING (word))
    GROUP BY piece)
  WHERE c > 0),
scc{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(c) AS BIGINT) AS c FROM (
    SELECT piece, c FROM sec{r}
    UNION ALL
    SELECT piece, CAST(10000 AS BIGINT) AS c FROM uali)
  GROUP BY piece),
sm{r} AS MATERIALIZED (
  SELECT piece,
         CAST(round(1000000.0 * ln(CAST(c AS DOUBLE) /
              CAST((SELECT sum(c) FROM scc{r}) AS DOUBLE))) AS BIGINT)
           AS lp
  FROM scc{r})"""
        prev = f"sm{r}"
    out += f""",
ssfin AS MATERIALIZED (
  SELECT piece, lp FROM sm{n_rounds} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, lp FROM (
    SELECT m.piece, m.lp FROM sm{n_rounds} m
    JOIN scc{n_rounds} c USING (piece)
    WHERE length(m.piece) > 1
    ORDER BY c.c DESC, m.piece LIMIT {vocab_size})),
usfp8 AS (
  SELECT substr(md5(coalesce(string_agg(
           piece || ':' || CAST(lp AS VARCHAR), '|' ORDER BY piece), '')),
         1, 8) AS fp
  FROM ssfin)"""
    return out


# Add-k bigram-LM CTE chain (toks -> grams -> add-k model -> exact
# integer-mean per-doc avg logp), shared by X28 and the curate
# gate-stack pytest pin (round 11 — the composed-pipeline oracle).
_ADDK_LM_CTES = """toks AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
           t -> t <> '')) AS ts
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bigram
  FROM toks),
bg AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12
       FROM grams GROUP BY bigram),
bgx AS (SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM bg),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bgx GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bgx),
lm AS (SELECT bigram,
              round(ln((c12 + 0.5) / (c1 + 0.5 * v)), 4) AS logp
       FROM bgx JOIN ctx USING (w1) CROSS JOIN v),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CAST(round(logp * 10000) AS BIGINT)) AS BIGINT) AS s4
        FROM grams JOIN lm USING (bigram)
        GROUP BY doc_id),
fx AS (SELECT doc_id, n_bigrams,
              ((2 * abs(s4) + n_bigrams) // (2 * n_bigrams))
                * sign(s4) / 10000.0 AS avg_logp
       FROM agg)"""


def _ml_excess_sql_ctes(target_source: str) -> str:
    """Moore-Lewis CTE chain over _ADDK_LM_CTES' grams/fx: in-domain
    (source = target) add-k LM over the SAME gram stream, whole-pool
    scoring with the backoff floor ln(0.5 / (c1_in + 0.5·V_in)) for OOV
    grams (unseen context -> c1 0), then the exact integer-mean
    difference vs the general side's fx — relevance.moore_lewis_scores
    step for step. Shared by X28 and the curate gate-stack pin."""
    return f"""mlg AS MATERIALIZED (
  SELECT g.doc_id, g.bigram
  FROM grams g JOIN documents d USING (doc_id)
  WHERE d.source = '{target_source}'),
mlb AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12
        FROM mlg GROUP BY bigram),
mlbx AS (SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
                split_part(bigram, ' ', 2) AS w2
         FROM mlb),
mlctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
          FROM mlbx GROUP BY w1),
mlv AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM mlbx),
mllm AS (SELECT bigram,
                round(ln((c12 + 0.5) / (c1 + 0.5 * v)), 4) AS logp
         FROM mlbx JOIN mlctx USING (w1) CROSS JOIN mlv),
mlsc AS (SELECT g.doc_id,
                coalesce(m.logp,
                         round(ln(0.5 / (coalesce(c.c1, 0) + 0.5 * v.v)),
                               4)) AS logp
         FROM grams g
         LEFT JOIN mllm m USING (bigram)
         LEFT JOIN mlctx c ON c.w1 = split_part(g.bigram, ' ', 1)
         CROSS JOIN mlv v),
mlagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(logp * 10000) AS BIGINT)) AS BIGINT)
                   AS s4
          FROM mlsc GROUP BY doc_id),
mlfx AS (SELECT doc_id,
                ((2 * abs(s4) + n) // (2 * n)) * sign(s4) AS in4
         FROM mlagg),
mlex AS (SELECT f.doc_id,
                CAST(m.in4 - CAST(round(f.avg_logp * 10000) AS BIGINT)
                     AS BIGINT) AS ml_excess_fp
         FROM mlfx m JOIN fx f USING (doc_id))"""


X28_SQL = f"""
WITH RECURSIVE {_ADDK_LM_CTES},
pbk AS (
  -- CCNet terciles: rank by the 4dp ppl (ties by doc_id), bucket =
  -- (rank-1)*3 // total + 1 — the exact integer contract of
  -- relevance.ppl_buckets
  SELECT doc_id, CAST(rn AS BIGINT) AS ppl_rank,
         CAST(((rn - 1) * 3) // tot + 1 AS INTEGER) AS ppl_bucket
  FROM (SELECT doc_id,
               row_number() OVER (
                 ORDER BY round(exp(-avg_logp), 4), doc_id) AS rn,
               count(*) OVER () AS tot
        FROM fx)),
-- Moore-Lewis (round 10; CTEs shared with the curate gate-stack pin)
{_ml_excess_sql_ctes('src0')},
knctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(DISTINCT w2) AS BIGINT) AS n1f
          FROM bgx GROUP BY w1),
kncont AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS n1b
           FROM bgx GROUP BY w2),
kntv AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bgx),
knlm AS (
  SELECT bigram,
         round(ln((c12 - 0.75) / c1
                  + 0.75 * n1f / c1
                  * ((n1b + 0.5)
                     / (CAST(t AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))),
               4) AS logp
  FROM bgx JOIN knctx USING (w1) JOIN kncont USING (w2)
  CROSS JOIN kntv CROSS JOIN v),
knagg AS (SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(logp * 10000) AS BIGINT)) AS BIGINT) AS s4
          FROM grams JOIN knlm USING (bigram)
          GROUP BY doc_id),
knfx AS (SELECT doc_id,
                ((2 * abs(s4) + n) // (2 * n)) * sign(s4) / 10000.0
                  AS kn_avg_logp
         FROM knagg),
words AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
           t -> t <> '')) AS word
  FROM documents),
encs AS (
  SELECT word,
         CAST(len(string_split(trim({_x28_bpe_enc_sql()}), ' ')) AS BIGINT)
           AS np
  FROM (SELECT DISTINCT word FROM words)),
bpc AS (
  SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_bpe_pieces,
         CAST(max(np) AS BIGINT) AS max_word_pieces
  FROM words JOIN encs USING (word) GROUP BY doc_id){_x28_bpe_train_ctes()}{_x28_wp_train_ctes()}{_x28_uni_train_ctes()},
fert AS (
  -- round-10 fertility promotion: freq-weighted mean pieces per word
  -- over the census, 1e6 fixed point under the exact HUGEINT //
  -- contract (python int // on the Spark side). btc/wpnp cover every
  -- word type; uenc misses unsegmentable words -> the char fallback
  SELECT CAST(CAST(sum(b.freq * t.npt) * 1000000 AS HUGEINT)
              // sum(b.freq) AS BIGINT) AS bpe_fert_fp,
         CAST(CAST(sum(b.freq * coalesce(u.np, length(b.word))) * 1000000
                   AS HUGEINT) // sum(b.freq) AS BIGINT) AS uni_fert_fp,
         CAST(CAST(sum(b.freq * w.np) * 1000000 AS HUGEINT)
              // sum(b.freq) AS BIGINT) AS wp_fert_fp
  FROM bw b JOIN btc t USING (word)
            JOIN wpnp w USING (word)
            LEFT JOIN uenc u USING (word))
SELECT fx.doc_id, fx.n_bigrams, fx.avg_logp,
       round(exp(-fx.avg_logp), 4) AS ppl,
       pbk.ppl_rank, pbk.ppl_bucket,
       knfx.kn_avg_logp,
       round(exp(-knfx.kn_avg_logp), 4) AS kn_ppl,
       mlex.ml_excess_fp,
       coalesce(bpc.n_bpe_pieces, 0) AS n_bpe_pieces,
       coalesce(bpc.max_word_pieces, 0) AS max_word_pieces,
       coalesce(bpct.n_bpe_pieces_trained, 0) AS n_bpe_pieces_trained,
       coalesce(upct.n_uni_pieces, 0) AS n_uni_pieces,
       coalesce(wpct.n_wp_pieces, 0) AS n_wp_pieces,
       (SELECT fp FROM bfp) AS bpe_merges_fp8,
       (SELECT fp FROM ufp8) AS uni_model_fp8,
       (SELECT fp FROM usfp8) AS uni_soft_fp8,
       (SELECT fp FROM wfp) AS wp_vocab_fp8,
       fert.bpe_fert_fp, fert.uni_fert_fp, fert.wp_fert_fp
FROM fx LEFT JOIN pbk USING (doc_id)
LEFT JOIN knfx USING (doc_id)
LEFT JOIN mlex USING (doc_id)
LEFT JOIN bpc USING (doc_id)
LEFT JOIN bpct USING (doc_id)
LEFT JOIN upct USING (doc_id)
LEFT JOIN wpct USING (doc_id)
CROSS JOIN fert
ORDER BY fx.doc_id
"""


# --- x29 token-distribution divergence (corpus drift under the oracle) -------

def x29_token_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift: the per-term Jensen-Shannon decomposition between
    the even- and odd-doc_id halves of documents
    (operators/profile.token_divergence — two censuses, ONE vocab-sized
    full-outer join, bucketed totals broadcast back — no vocab-sized
    single-partition stage). Probabilities and the ln-based
    js_contrib round to 6dp before hashing — the established
    cross-engine float contract (x28's rounded logps; ln's last-ULP
    libm divergence cannot move a 6dp rounding except within ~1e-19 of
    a boundary)."""
    from ..operators.profile import token_divergence

    docs = parallel_table(spark, sf, "documents")
    div = token_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    # Count-Min promotion (round 6, zero slots — the x24 pattern): each
    # term also carries ``cms_freq_even``, its frequency estimate from a
    # 4×512 CMS built over the even half's token stream
    # (operators/sketches.cms_build/cms_estimate — salted-md5 positions,
    # the Bloom primitive). DuckDB re-derives every cell and every
    # min-over-depth estimate bit-for-bit, upgrading the CMS's
    # pytest-only pin to a registry hash check.
    from ..functions.text import tokens_array
    from ..operators import sketches as SK

    etoks = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(tokens_array("text")).alias("token")
    )
    cms = SK.cms_build(etoks, "token", width=512)
    est = SK.cms_estimate(
        cms, div.select(F.col("term").alias("token")), "token", width=512
    ).select(
        F.col("token").alias("term"),
        F.col("freq_estimate").alias("cms_freq_even"),
    )
    return div.select(
        "term",
        "c_a",
        "c_b",
        F.round("p_a", 6).alias("p_a"),
        F.round("p_b", 6).alias("p_b"),
        F.round("js_contrib", 6).alias("js_contrib"),
    ).join(est, "term").orderBy("term")


X29_SQL = """
WITH toks AS (
  SELECT doc_id % 2 AS side,
         unnest(string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS term
  FROM documents
), kept AS (SELECT side, term FROM toks WHERE length(term) > 0),
counts AS (
  SELECT term,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM kept GROUP BY term
), tot AS (
  SELECT sum(c_a) AS ta, sum(c_b) AS tb FROM counts
), probs AS (
  -- zero-measure contract: an empty half has total 0 and probability 0
  -- everywhere (DuckDB x/0 is NULL, which would poison every term)
  SELECT term, c_a, c_b,
         CASE WHEN ta > 0 THEN c_a / ta ELSE 0.0 END AS pa,
         CASE WHEN tb > 0 THEN c_b / tb ELSE 0.0 END AS pb
  FROM counts, tot
), ecells AS (
  SELECT term, i.i AS d,
         CAST(('0x' || substr(md5('cms:' || i.i || ':' || term), 1, 15))
              AS BIGINT) % 512 AS w
  FROM kept CROSS JOIN (SELECT unnest(range(4)) AS i) i
  WHERE side = 0
), esk AS (SELECT d, w, count(*) AS cnt FROM ecells GROUP BY 1, 2),
ppos AS (
  SELECT term, i.i AS d,
         CAST(('0x' || substr(md5('cms:' || i.i || ':' || term), 1, 15))
              AS BIGINT) % 512 AS w
  FROM (SELECT DISTINCT term FROM counts)
  CROSS JOIN (SELECT unnest(range(4)) AS i) i
), cmse AS (
  SELECT term, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_freq_even
  FROM ppos LEFT JOIN esk s USING (d, w) GROUP BY term
)
SELECT term, c_a, c_b,
       round(pa, 6) AS p_a,
       round(pb, 6) AS p_b,
       round(
         (CASE WHEN c_a > 0 AND pa > 0
               THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END)
       + (CASE WHEN c_b > 0 AND pb > 0
               THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END), 6)
         AS js_contrib,
       cmse.cms_freq_even
FROM probs JOIN cmse USING (term)
ORDER BY term
"""


# --- x31 PageRank over a planted link graph ----------------------------------

def x31_pagerank(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """Iterative PageRank (operators/graph.py) hash-matched against an
    independent DuckDB unrolled power iteration — the registry promotion
    the round-5 verdict asked for (the operator was previously pinned
    only against an in-repo numpy reference).

    Edges derive deterministically from doc_id residues mod 97; the
    ``src % 7 != 0`` filter plants true DANGLING nodes (residues
    divisible by 7 receive links but emit none), exercising the
    dangling-mass redistribution arm. ``quantize_dp=10`` rounds each
    round's ranks to 1e-10 — distributed summation-order noise
    (~1e-15 relative) vanishes below the quantum, so ten iterations of
    double arithmetic are bit-reproducible across engines and the value
    hash is exact, not tolerance-gated.

    Round-6 zero-slot promotion: ``neardup_clusters`` (the iterative
    min-label-propagation + pointer-jumping connected components that
    turns LSH/SimHash candidate PAIRS into dedup groups — previously
    pinned only vs an in-repo union-find) runs over the SAME planted
    graph treated undirected, and each node's component label joins the
    output as ``cc_label``. The fixpoint (min node id per component) is
    unique and integer-valued — no float contract needed; DuckDB
    re-derives it independently via a recursive-CTE transitive closure,
    not label propagation, so the pin is cross-ALGORITHM as well as
    cross-engine."""
    import time as _time

    from ..operators import graph as G

    _t = _time.time()
    docs = parallel_table(spark, sf, "documents")
    edges = (
        docs.select(
            (F.col("doc_id") % 97).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("src") % 7 != 0))
        .distinct()
        # both consumers below (connected components AND pagerank) walk
        # this frame many times across their iterative rounds — cut the
        # lineage ONCE so the corpus scan + distinct executes once, not
        # once per consumer (the x32 builder learned this from x31; now
        # x31 practices it too).
        .localCheckpoint()
    )
    _t = _mark(_stage_secs, "edges", _t)

    # The three iterative algorithms below are INDEPENDENT consumers of
    # the one checkpointed edge table, but each runs many small eager
    # checkpoint jobs (lineage truncation), so running them back to
    # back serialized ~10 s of scheduler-bound work at sf0.1 (baseline
    # stage_secs: components 5.9 + pagerank 4.7 + hits 4.5). Submit
    # them as concurrent jobs instead (guide §2.6 via _overlap); each
    # result is bit-identical by the quantize_dp contract regardless of
    # scheduling. stage_secs walls now OVERLAP (the _probe caveat).
    def _cc_stage():
        t0 = _time.time()
        cc = D.neardup_clusters(
            edges.select(
                F.col("src").alias("id_a"), F.col("dst").alias("id_b")
            )
        ).select(
            F.col("id").alias("node"), F.col("cluster_id").alias("cc_label")
        )
        _mark(_stage_secs, "components", t0)
        return cc

    def _pr_stage():
        t0 = _time.time()
        ranks = G.pagerank(edges, damping=0.85, n_iters=10, quantize_dp=10)
        _mark(_stage_secs, "pagerank", t0)
        return ranks

    # HITS (round-9 zero-slot promotion — operators/graph.hits,
    # Kleinberg 1999): 5 hub↔authority rounds over the SAME planted
    # graph under the quantize_dp=10 contract (L1 normalization keeps
    # every round sum+divide — no libm sqrt — so DuckDB re-derives all
    # ten half-rounds as unrolled MATERIALIZED CTEs and the hash is
    # exact). The planted src%7==0 residues receive links but emit
    # none: their hub is structurally 0 while their auth is positive —
    # the role separation PageRank conflates, pinned per row.
    def _hits_stage():
        t0 = _time.time()
        hub_auth = G.hits(edges, n_iters=5, quantize_dp=10)
        _mark(_stage_secs, "hits", t0)
        return hub_auth

    cc, ranks, hub_auth = _overlap(_cc_stage, _pr_stage, _hits_stage)
    return ranks.join(cc, "node").join(hub_auth, "node").orderBy("node")


def _x31_hits_ctes(n_iters: int = 5, dp: int = 10) -> str:
    """Unrolled HITS (graph.hits): per round an authority half
    (sum hubs over in-edges, L1-normalize, round) then a hub half
    (sum auths over out-edges, likewise) — the same
    round(coalesce(raw,0)/tot, dp) association as the Spark side, with
    the tot>0 guard keeping an edge-less graph at zeros instead of a
    division error."""
    out = """,
hh0 AS MATERIALIZED (SELECT node, 1.0 / p.n AS hub FROM nodes, params p)"""
    for k in range(1, n_iters + 1):
        out += f""",
ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS raw
  FROM e JOIN hh{k - 1} h ON h.node = e.src GROUP BY e.dst),
at{k} AS MATERIALIZED (SELECT coalesce(sum(raw), 0.0) AS tot FROM ar{k}),
aa{k} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN t.tot > 0
              THEN round(coalesce(r.raw, 0.0) / t.tot, {dp})
              ELSE 0.0 END AS auth
  FROM nodes n CROSS JOIN at{k} t LEFT JOIN ar{k} r USING (node)),
hr{k} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS raw
  FROM e JOIN aa{k} a ON a.node = e.dst GROUP BY e.src),
ht{k} AS MATERIALIZED (SELECT coalesce(sum(raw), 0.0) AS tot FROM hr{k}),
hh{k} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN t.tot > 0
              THEN round(coalesce(r.raw, 0.0) / t.tot, {dp})
              ELSE 0.0 END AS hub
  FROM nodes n CROSS JOIN ht{k} t LEFT JOIN hr{k} r USING (node))"""
    return out


def _x31_oracle_sql(n_iters: int = 10) -> str:
    # unrolled power iteration: r0..r10 as chained CTEs, each round
    # re-deriving the dangling mass and quantizing exactly like the
    # Spark side (same association order in the float expressions:
    # ((1-d)/n + (d*dang)/n) + d*in_mass, round(..., 10) per round).
    # AS MATERIALIZED is load-bearing: each round references its
    # predecessor multiple times, and CTE inlining would re-expand the
    # whole chain per reference — exponential in n_iters (measured: the
    # un-materialized 10-round query never finished; materialized it is
    # milliseconds).
    its = ""
    for k in range(1, n_iters + 1):
        prev = f"r{k - 1}"
        its += f""",
d{k} AS MATERIALIZED (
  SELECT coalesce(sum(rank), 0.0) AS dang FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)),
r{k} AS MATERIALIZED (
  SELECT n.node,
         round(((1.0 - 0.85) / p.n + (0.85 * d.dang) / p.n)
               + 0.85 * coalesce(s.in_mass, 0.0), 10) AS rank
  FROM nodes n
  CROSS JOIN params p CROSS JOIN d{k} d
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / dg.deg) AS in_mass
             FROM e JOIN {prev} r ON r.node = e.src
             JOIN deg dg ON dg.src = e.src
             GROUP BY e.dst) s ON s.node = n.node)"""
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT (doc_id % 97) AS src, ((doc_id * 31 + 7) % 97) AS dst
  FROM documents
  WHERE (doc_id % 97) != ((doc_id * 31 + 7) % 97)
    AND (doc_id % 97) % 7 != 0),
-- DISTINCT-over-UNION-ALL, not plain UNION: under WITH RECURSIVE,
-- DuckDB gives a two-branch UNION in ANY cte of the clause
-- recursive-union semantics (no cross-branch dedup — measured: plain
-- UNION here yielded 69 srcs + 95 dsts = 164 "nodes")
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
params AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ue AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL SELECT dst AS a, src AS b FROM e)),
-- transitive closure (UNION-dedup'd recursion; the node-mod-97 graph is
-- SF-independent, so the closure is bounded at 97x97 rows) — an
-- INDEPENDENT algorithm from the Spark side's label propagation
reach AS (
  SELECT node AS a, node AS b FROM nodes
  UNION
  SELECT r.a, u.b FROM reach r JOIN ue u ON r.b = u.a),
cc AS MATERIALIZED (
  SELECT a AS node, CAST(min(b) AS BIGINT) AS cc_label FROM reach GROUP BY a),
r0 AS MATERIALIZED (SELECT node, 1.0 / p.n AS rank FROM nodes, params p){its}{_x31_hits_ctes()}
SELECT r.node, round(r.rank, 8) AS rank, cc.cc_label,
       round(hh5.hub, 8) AS hub, round(aa5.auth, 8) AS auth
FROM r{n_iters} r JOIN cc USING (node)
JOIN hh5 USING (node) JOIN aa5 USING (node)
ORDER BY r.node
"""


X31_SQL = _x31_oracle_sql()


# --- x32 mixture construction: token budget + epoch upsampling + DSIR --------

def x32_sampling(
    spark: SparkSession, sf: str, _stage_secs: dict | None = None
) -> DataFrame:
    """The mixture-construction stages a curation user touches on day
    one (operators/sampling.py), registry-promoted in round 6 (slot
    freed by folding q26's pivot into q25): token_budget_filter fills
    35% of the corpus' total token mass with the highest-scoring docs
    (score = n_chars — quality∝length is real here; equi-width histogram
    + driver suffix-sum, never a global sort), then epoch_upsample
    replicates the survivors to per-source epoch weights over the REAL
    20-value ``source`` column (src0=2.3, src1=0.5, src2=1.7, src3=1.0,
    unlisted sources default 1.0 — the CLI's boost reading). Every
    arithmetic step is engine-portable: histogram bins are pure IEEE
    double ops on integer-valued scores, the budget is
    floor(0.35·Σtokens), and the extra-epoch coin is the shared
    md5('mix:'+key) hash-fraction primitive — so DuckDB re-derives the
    histogram, the suffix-sum cut (a DESC window sum), the survivor set
    AND the exact per-row multiplicity, and the exploded (doc, epoch)
    rows hash-match bit-for-bit. The never-over-budget guarantee rides
    the membership check: one extra surviving row would change the row
    set.

    Since the DSIR promotion (zero slots — extra COLUMNS on the same
    rows, the x24 canonical_url pattern) each output row also carries
    the third day-one selection stage: ``dsir_score`` / ``n_features``
    (mean fixed-point log importance ratio of the doc's hashed
    unigram+bigram occurrences under a target=src0 vs raw=corpus bucket
    model — the per-doc fold is an exact BIGINT sum, so scores are
    summation-order-proof) and ``dsir_kept`` (membership of the
    Gumbel-top-k resample of ⌊n/3⌋ docs: md5-derived Gumbel coins
    rounded to 4dp, top-k cut via the SAME histogram+suffix-sum
    construction as the token budget — no global sort). DuckDB
    re-derives feature buckets, both censuses, the fixed-point ratio
    table, every score, every Gumbel key, the key histogram and the
    suffix-sum cut — the full DSIR pipeline hash-matches, including
    NULL score/kept on NULL-text docs that produce no features.

    Since round 9 each row also carries ``doremi_w``: the row's source
    weight after TWO DoReMi exponentiated-gradient rounds
    (operators/sampling.doremi_weights — the sixth iterative trainer
    under the unrolled-CTE recipe). The quantized contract (6dp CEs
    and weights) makes each round bit-reproducible; DuckDB re-derives
    the BOS-padded (source, bigram) census, add-k denominators,
    own-domain CEs and both mixture-CE → update → renormalize rounds
    as MATERIALIZED CTEs, and the weight lands on the mixed rows as a
    codegen CASE (no join — S driver scalars)."""
    import time as _time

    docs = parallel_table(spark, sf, "documents")
    s = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("double").alias("score"),
        F.length("text").cast("bigint").alias("n_tokens"),
    )

    # The three stage groups below — (budget→mix→strat→curriculum),
    # DSIR, and DoReMi — are INDEPENDENT pipelines over the same scan
    # (DSIR/DoReMi read docs directly; the mix chain reads s), each
    # with its own eager collects/checkpoints, so running them back to
    # back serialized ~8 s of scheduler-bound work at sf0.1 (baseline
    # stage_secs: budget_mix_strat 2.0 + dsir 3.2 + doremi 2.7).
    # Submit them as concurrent jobs (guide §2.6 via _overlap); every
    # decision inside each group is integer/md5/quantized arithmetic —
    # a pure function of the row set, scheduling-invariant. stage_secs
    # walls now OVERLAP (the _probe caveat). `total` is computed first
    # (one tiny agg) because both the budget chain and UniMax consume
    # it.
    total = s.agg(F.sum("n_tokens")).collect()[0][0]

    def _mix_stage():
        t0 = _time.time()
        budget = int(total * 0.35)
        kept = SP.token_budget_filter(s, "score", "n_tokens", budget)
        mixed = SP.epoch_upsample(
            kept,
            "source",
            "doc_id",
            {"src0": 2.3, "src1": 0.5, "src2": 1.7, "src3": 1.0},
            default_weight=1.0,
        )
        # temperature_mix membership as a COLUMN (zero-slot promotion,
        # the x24 pattern): run the real operator over the mixed rows
        # at alpha=0.5 — n^(-1/2) is one correctly-rounded IEEE sqrt +
        # one divide, so the driver-computed rate literals match the
        # oracle's re-derivation bit-for-bit (a general alpha's pow()
        # is libm-dependent; 0.5 keeps the whole construction exact).
        # Checkpoint first: the operator's census collect and the flag
        # join would otherwise each re-run the budget-filter chain.
        mixed = mixed.localCheckpoint().withColumn(
            "_mk", F.concat_ws(":", F.col("doc_id"), F.col("epoch"))
        )
        tm = SP.temperature_mix(mixed, "source", "_mk", alpha=0.5).select(
            "_mk", F.lit(True).alias("mix_kept")
        )
        mixed = mixed.join(tm, "_mk", "left").withColumn(
            "mix_kept", F.coalesce("mix_kept", F.lit(False))
        )
        # stratified_sample membership (round-8 zero-slot promotion,
        # the mix_kept pattern): EXACT per-source sampling — every
        # source keeps exactly ceil(0.4·n_source) of the mixed rows,
        # ranked by md5('strat:'+key) with key tiebreak. All-integer/
        # string decisions (md5 hex order + a ceil on an integer
        # count), so DuckDB re-derives the rank, the quota and every
        # membership bit exactly.
        st = SP.stratified_sample(mixed, "source", "_mk", 0.4).select(
            "_mk", F.lit(True).alias("strat_kept")
        )
        mixed = mixed.join(st, "_mk", "left").withColumn(
            "strat_kept", F.coalesce("strat_kept", F.lit(False))
        )
        # curriculum_interleave (round-7 zero-slot promotion): the
        # global training-order position of each (doc, epoch) row —
        # within-source rank by (epoch ASC, score DESC, doc_id)
        # interleaved round-robin across sources as pure integer
        # arithmetic, no global sort. epoch_col (not a tiebreak): each
        # epoch is a complete best-first pass over its source, so a
        # doc's replicas sit a whole source-epoch apart instead of
        # back-to-back. The score is integer-valued n_chars, so the
        # rank order is tie-exact across engines.
        mixed = SP.curriculum_interleave(
            mixed, "score", "source", epoch_col="epoch"
        )
        _mark(_stage_secs, "budget_mix_strat", t0)
        return mixed

    def _dsir_stage():
        t0 = _time.time()
        raw = docs.filter(F.col("text").isNotNull())
        # fused fit+score (round 13, guide §2.4 / VERDICT r12 #3): the
        # ratio fit and the probe share ONE staged (id, bucket) feature
        # stream instead of each re-running the corpus tokenize+explode
        # — scores are bit-equal to the two-call composition (pinned in
        # test_sampling), halving the dominant explode CPU at scale
        _ratios, scored = SP.dsir_fit_scores(
            raw, "doc_id", "text", n_buckets=4096,
            target_filter=F.col("source") == "src0",
        )
        # scored is tiny (one row per doc) but its lineage re-probes
        # the staged stream; localCheckpoint so count/min-max/histogram/
        # filter/join all reuse one materialization (the x31 pattern)
        scored = scored.localCheckpoint()
        # floor at 1 (both sides — the oracle uses greatest(n//3, 1)):
        # with fewer than 3 scored docs an unfloored n_keep of 0 would
        # make dsir_resample raise while the SQL quietly returns
        # kept=false rows
        n_keep = max(scored.count() // 3, 1)
        sel = SP.dsir_resample(
            scored, "doc_id", "dsir_score", n_keep
        ).select("doc_id", F.lit(True).alias("dsir_kept"))
        _mark(_stage_secs, "dsir", t0)
        return scored, sel

    # DoReMi mixture weights (round-9 zero-slot promotion): the SIXTH
    # iterative trainer under the unrolled-CTE recipe (PageRank x31,
    # LR x33, k-means x18, BPE+unigram x28, PQ x27). Two exponentiated-
    # gradient rounds over the REAL 20-value source column; the
    # operator's quantized contract (6dp CEs and weights) makes every
    # round's update bit-reproducible, and DuckDB re-derives the BOS-
    # padded bigram census, denominators, own-domain CEs, and both
    # rounds' mixture CE → update → renormalize as MATERIALIZED CTEs.
    # The final per-source weight lands on every mixed row as a pure
    # codegen CASE over the driver dict — no join, the weights are S
    # scalars.
    def _doremi_stage():
        t0 = _time.time()
        dw, _hist = SP.doremi_weights(docs, "source", "text", n_rounds=2)
        _mark(_stage_secs, "doremi", t0)
        return dw

    mixed, (scored, sel), dw = _overlap(
        _mix_stage, _dsir_stage, _doremi_stage
    )
    enriched = (
        mixed.join(scored, "doc_id", "left")
        .join(sel, "doc_id", "left")
        .withColumn(
            "dsir_kept",
            F.when(F.col("dsir_score").isNotNull(),
                   F.coalesce(F.col("dsir_kept"), F.lit(False))),
        )
    )
    _t = _time.time()
    wexpr = F.lit(None).cast("double")
    for _src in sorted(dw):
        wexpr = F.when(F.col("source") == _src, F.lit(dw[_src])).otherwise(
            wexpr
        )
    enriched = enriched.withColumn("doremi_w", wexpr)
    # UniMax allocation (round-9 zero-slot promotion —
    # operators/sampling.unimax_allocation, Chung et al. 2023):
    # water-filling the budget across sources under an epoch cap.
    # Cap = 2 epochs, budget = 1.9 epochs of the corpus: source sizes
    # straddle the mean at every SF, so BOTH arms populate — small
    # sources saturate at their cap, large ones share θ (promotion-
    # guarded non-degenerate). Every decision is integer (monotone
    # prefix test, DECIMAL DIV floors), so all three columns are exact
    # cross-engine pins. The allocation table is source-count-sized —
    # a broadcast dim onto the mixed rows.
    um = SP.unimax_allocation(s, "source", "n_tokens",
                              (19 * total) // 10, 2)
    _t = _mark(_stage_secs, "unimax", _t)
    enriched = enriched.join(
        F.broadcast(
            um.select(
                "source",
                F.col("saturated").alias("unimax_sat"),
                F.col("alloc_tokens").alias("unimax_alloc_tokens"),
                F.col("epochs_fp").alias("unimax_epochs_fp"),
            )
        ),
        "source",
        "left",
    )
    return enriched.select(
        "doc_id", "source", "n_tokens", "epoch", "mix_kept", "strat_kept",
        "curriculum_pos", "dsir_score", "n_features", "dsir_kept",
        "doremi_w", "unimax_sat", "unimax_alloc_tokens", "unimax_epochs_fp",
    ).orderBy("doc_id", "epoch")


X32_SQL = """
WITH s AS MATERIALIZED (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score,
         CAST(length(text) AS BIGINT) AS n_tokens
  FROM documents),
tot AS (SELECT CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 0.35) AS BIGINT)
          AS budget,
        min(score) AS lo, max(score) AS hi
        FROM s),
w AS (SELECT budget, lo,
             CASE WHEN hi > lo THEN (hi - lo) / 1000.0 ELSE 1.0 END AS width
      FROM tot),
b AS MATERIALIZED (
  SELECT s.doc_id, s.source, s.n_tokens,
         least(CAST(floor((s.score - w.lo) / w.width) AS INTEGER), 999) AS bin
  FROM s CROSS JOIN w),
hist AS (SELECT bin, sum(n_tokens) AS toks FROM b GROUP BY bin),
kept_bins AS (
  SELECT bin FROM (
    SELECT bin, sum(toks) OVER (ORDER BY bin DESC) AS suffix FROM hist)
  WHERE suffix <= (SELECT budget FROM w)),
ups AS (
  SELECT doc_id, source, n_tokens,
         CASE source
           WHEN 'src0' THEN 2 + CASE WHEN h < 0.3 THEN 1 ELSE 0 END
           WHEN 'src1' THEN 0 + CASE WHEN h < 0.5 THEN 1 ELSE 0 END
           WHEN 'src2' THEN 1 + CASE WHEN h < 0.7 THEN 1 ELSE 0 END
           WHEN 'src3' THEN 1
           ELSE 1 END AS n_copies
  FROM (SELECT b.*,
               CAST(('0x' || substr(md5('mix:' || CAST(b.doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) / 4294967296.0 AS h
        FROM b JOIN kept_bins k ON k.bin = b.bin)),
mixed AS MATERIALIZED (
  SELECT doc_id, source, n_tokens, CAST(epoch AS INTEGER) AS epoch FROM (
    SELECT doc_id, source, n_tokens,
           unnest(generate_series(0, n_copies - 1)) AS epoch
    FROM ups WHERE n_copies > 0)),
dtl AS MATERIALIZED (
  SELECT doc_id, source, list_filter(string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+'),
           t -> length(t) > 0) AS toks
  FROM documents WHERE text IS NOT NULL),
dtok AS (
  SELECT doc_id, source, unnest(toks) AS token,
         generate_subscripts(toks, 1) AS ord
  FROM dtl),
dgrams AS (
  SELECT doc_id, source, token AS gram FROM dtok
  UNION ALL
  SELECT doc_id, source, token || ' ' || lead(token, 1) OVER w AS gram
  FROM dtok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
  QUALIFY lead(token, 1) OVER w IS NOT NULL),
dfeats AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('dsir:' || gram), 1, 8)) AS BIGINT)
           % 4096 AS bucket
  FROM dgrams),
drawc AS MATERIALIZED (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS rc FROM dfeats GROUP BY bucket),
dtgtc AS MATERIALIZED (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tc FROM dfeats
  WHERE source = 'src0' GROUP BY bucket),
dtot AS (SELECT CAST((SELECT SUM(rc) FROM drawc) AS DOUBLE) AS tr,
                CAST(COALESCE((SELECT SUM(tc) FROM dtgtc), 0) AS DOUBLE) AS tt),
dratios AS MATERIALIZED (
  SELECT r.bucket,
         CAST(round(1000000.0 * (
           ln((COALESCE(t.tc, 0) + 1.0) / (dtot.tt + 1.0 * 4096))
           - ln((r.rc + 1.0) / (dtot.tr + 1.0 * 4096)))) AS BIGINT) AS ratio_fp
  FROM drawc r LEFT JOIN dtgtc t USING (bucket), dtot),
dscored AS MATERIALIZED (
  SELECT f.doc_id,
         round(CAST(SUM(ratio_fp) AS DOUBLE) / COUNT(*) / 1000000.0, 4)
           AS dsir_score,
         CAST(COUNT(*) AS BIGINT) AS n_features
  FROM dfeats f JOIN dratios USING (bucket)
  GROUP BY f.doc_id),
dnk AS (SELECT greatest(count(*) // 3, 1) AS n_keep FROM dscored),
dgk AS MATERIALIZED (
  SELECT doc_id, dsir_score + round(-ln(-ln(
           (CAST(('0x' || substr(md5('dsir-g:' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) + 0.5)
           / 4294967296.0)), 4) AS k
  FROM dscored),
dgb AS (SELECT min(k) AS lo, max(k) AS hi FROM dgk),
dgw AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 1000.0 ELSE 1.0 END
          AS width FROM dgb),
dbin AS MATERIALIZED (
  SELECT g.doc_id,
         least(CAST(floor((g.k - w.lo) / w.width) AS INTEGER), 999) AS bin
  FROM dgk g CROSS JOIN dgw w),
dhist AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM dbin GROUP BY bin),
dcut AS (SELECT bin FROM (
    SELECT bin, sum(cnt) OVER (ORDER BY bin DESC) AS suffix FROM dhist)
  WHERE suffix <= (SELECT n_keep FROM dnk)),
dsel AS (SELECT doc_id, TRUE AS dsir_kept FROM dbin JOIN dcut USING (bin)),
mc AS (SELECT source, CAST(count(*) AS DOUBLE) AS mn FROM mixed GROUP BY source),
mr AS (SELECT source, 1.0 * pow(mn, -0.5)
                / (SELECT max(pow(mn, -0.5)) FROM mc) AS mrate
       FROM mc),
mk AS (
  SELECT m.doc_id, m.epoch,
         (CAST(('0x' || substr(md5('tmix:' || CAST(m.doc_id AS VARCHAR)
                                   || ':' || CAST(m.epoch AS VARCHAR)),
                               1, 8)) AS BIGINT) / 4294967296.0) < r.mrate
           AS mix_kept
  FROM mixed m JOIN mr r ON m.source = r.source),
-- stratified_sample membership: exact per-source quota — rank the
-- mixed rows inside each source by md5('strat:' || doc:epoch) (key
-- tiebreak) and keep rank <= ceil(0.4 * n_source); md5 hex order and
-- the integer ceil are engine-portable, so the bit re-derives exactly
stk AS (
  SELECT doc_id, epoch,
         (row_number() OVER (PARTITION BY source
                             ORDER BY md5('strat:' || mkey), mkey)
          <= CAST(ceil(count(*) OVER (PARTITION BY source) * 0.4)
                  AS BIGINT)) AS strat_kept
  FROM (SELECT doc_id, epoch, source,
               CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)
                 AS mkey
        FROM mixed)),
-- curriculum_interleave: within-source rank by (epoch ASC, score DESC,
-- doc_id) round-robin-interleaved across sources as integer arithmetic
-- (pos = (rank-1)*n_sources + source_index); epoch leads the sort so a
-- doc's replicas sit a whole source-epoch apart — ranks on
-- integer-valued n_chars, so the order is tie-exact cross-engine
csd AS MATERIALIZED (
  SELECT src, row_number() OVER (ORDER BY src) - 1 AS sidx
  FROM (SELECT DISTINCT coalesce(source, '') AS src FROM mixed)),
cns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM csd),
cur AS MATERIALIZED (
  SELECT m.doc_id, m.epoch,
         (row_number() OVER (PARTITION BY coalesce(m.source, '')
                             ORDER BY m.epoch,
                                      sc.score DESC NULLS LAST,
                                      m.doc_id) - 1)
           * (SELECT n FROM cns) + d.sidx AS curriculum_pos
  FROM mixed m
  JOIN s sc ON sc.doc_id = m.doc_id
  JOIN csd d ON d.src = coalesce(m.source, '')),
-- ===== DoReMi mixture weights (round-9 zero slot): the operator's
-- quantized contract unrolled — BOS-padded bigram census per source,
-- add-k denominators/unseen floors, own-domain CE (6dp), then TWO
-- exponentiated-gradient rounds, each = mixture distribution over the
-- census + per-source mixture CE (6dp) + w·exp(max(0, excess)) update
-- renormalized and rounded to 6dp. Association kept operator-shaped:
-- c * (w / denom); residual float order noise sits ~1e-16, far below
-- the 6dp quantum (the shared trainer argument) =====
dmtk AS (
  SELECT source,
         list_prepend('<s>', list_filter(string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+'),
           t -> t <> '')) AS ts
  FROM documents WHERE text IS NOT NULL),
dmg AS MATERIALIZED (
  SELECT source, bigram, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i + 1]))
                 AS bigram
        FROM dmtk)
  GROUP BY source, bigram),
dmm AS (SELECT source, CAST(sum(c) AS BIGINT) AS mass FROM dmg
        GROUP BY source),
dmv AS (SELECT CAST(count(DISTINCT bigram) AS BIGINT) AS v FROM dmg),
dmd AS MATERIALIZED (
  SELECT source, mass, mass + 0.5 * v AS denom,
         0.5 / (mass + 0.5 * v) AS u
  FROM dmm CROSS JOIN dmv),
dmo AS MATERIALIZED (
  SELECT g.source,
         round(-sum(g.c * ln((g.c + 0.5) / d.denom)) / d.mass, 6) AS ce_own
  FROM dmg g JOIN dmd d USING (source)
  GROUP BY g.source, d.mass),
dmw0 AS (SELECT source, round(1.0 / (SELECT count(*) FROM dmm), 6) AS w
         FROM dmm),
dmx1 AS MATERIALIZED (
  SELECT g.bigram,
         sum(g.c * (w.w / d.denom))
           + (SELECT sum(w2.w * d2.u) FROM dmw0 w2
              JOIN dmd d2 USING (source)) AS pmix
  FROM dmg g JOIN dmd d USING (source) JOIN dmw0 w USING (source)
  GROUP BY g.bigram),
dmc1 AS (SELECT g.source,
                round(-sum(g.c * ln(m.pmix)) / d.mass, 6) AS ce_mix
         FROM dmg g JOIN dmx1 m USING (bigram) JOIN dmd d USING (source)
         GROUP BY g.source, d.mass),
dmr1 AS MATERIALIZED (
  SELECT c.source,
         w.w * exp(1.0 * greatest(0.0, c.ce_mix - o.ce_own)) AS raw
  FROM dmc1 c JOIN dmo o USING (source) JOIN dmw0 w USING (source)),
dmw1 AS (SELECT source, round(raw / (SELECT sum(raw) FROM dmr1), 6) AS w
         FROM dmr1),
dmx2 AS MATERIALIZED (
  SELECT g.bigram,
         sum(g.c * (w.w / d.denom))
           + (SELECT sum(w2.w * d2.u) FROM dmw1 w2
              JOIN dmd d2 USING (source)) AS pmix
  FROM dmg g JOIN dmd d USING (source) JOIN dmw1 w USING (source)
  GROUP BY g.bigram),
dmc2 AS (SELECT g.source,
                round(-sum(g.c * ln(m.pmix)) / d.mass, 6) AS ce_mix
         FROM dmg g JOIN dmx2 m USING (bigram) JOIN dmd d USING (source)
         GROUP BY g.source, d.mass),
dmr2 AS MATERIALIZED (
  SELECT c.source,
         w.w * exp(1.0 * greatest(0.0, c.ce_mix - o.ce_own)) AS raw
  FROM dmc2 c JOIN dmo o USING (source) JOIN dmw1 w USING (source)),
dmw2 AS (SELECT source, round(raw / (SELECT sum(raw) FROM dmr2), 6) AS w
         FROM dmr2),
-- UniMax water-filling: cap = 2 epochs, budget = 1.9 epochs; the
-- saturated set is the ascending-cap prefix (monotone test), θ floors
-- through HUGEINT division (the Spark DECIMAL DIV twin)
umb AS (SELECT CAST((sum(n_tokens) * 19) // 10 AS BIGINT) AS b FROM s),
umr AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n,
               CAST(sum(n_tokens) * 2 AS BIGINT) AS cap
        FROM s GROUP BY source),
umo AS (SELECT source, n, cap,
               row_number() OVER (ORDER BY cap, source) AS i,
               sum(cap) OVER (ORDER BY cap, source) AS cum,
               count(*) OVER () AS sc
        FROM umr),
umx AS (SELECT *,
               (cap * (sc - i + 1) + (cum - cap)) <= (SELECT b FROM umb)
                 AS sat
        FROM umo),
umk AS (SELECT CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS k,
               CAST(coalesce(sum(CASE WHEN sat THEN cap END), 0) AS BIGINT)
                 AS satsum,
               CAST(max(sc) AS BIGINT) AS sc
        FROM umx),
umf AS (SELECT u.source, u.sat AS unimax_sat,
               -- whole-token allocation (cap*1e6 fixed point would
               -- overflow BIGINT at real corpus sizes — review finding)
               CASE WHEN u.sat THEN u.cap
                    ELSE CAST((umb.b - umk.satsum)::HUGEINT
                              // greatest(umk.sc - umk.k, 1)::HUGEINT
                              AS BIGINT) END AS unimax_alloc_tokens,
               CASE WHEN u.sat
                    THEN CAST((u.cap::HUGEINT * 1000000::HUGEINT)
                              // greatest(u.n, 1)::HUGEINT AS BIGINT)
                    ELSE CAST(((umb.b - umk.satsum)::HUGEINT
                               * 1000000::HUGEINT)
                              // greatest((umk.sc - umk.k) * u.n,
                                          1)::HUGEINT AS BIGINT)
               END AS unimax_epochs_fp
        FROM umx u, umb, umk)
SELECT m.doc_id, m.source, m.n_tokens, m.epoch, k.mix_kept, t.strat_kept,
       c.curriculum_pos,
       s.dsir_score, s.n_features,
       CASE WHEN s.doc_id IS NOT NULL
            THEN COALESCE(d.dsir_kept, FALSE) END AS dsir_kept,
       dw.w AS doremi_w,
       um.unimax_sat, um.unimax_alloc_tokens, um.unimax_epochs_fp
FROM mixed m
JOIN mk k ON m.doc_id = k.doc_id AND m.epoch = k.epoch
JOIN stk t ON m.doc_id = t.doc_id AND m.epoch = t.epoch
JOIN cur c ON m.doc_id = c.doc_id AND m.epoch = c.epoch
LEFT JOIN dscored s ON m.doc_id = s.doc_id
LEFT JOIN dsel d ON m.doc_id = d.doc_id
LEFT JOIN dmw2 dw ON dw.source = m.source
LEFT JOIN umf um ON um.source = m.source
ORDER BY m.doc_id, m.epoch
"""


# --- x33 distributed classifier training (unrolled LR oracle) ----------------

def x33_train_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Full-batch logistic-regression training of the quality-classifier
    weight table (operators/textstats.train_classifier) hash-matched
    against an independent DuckDB re-derivation that unrolls every
    gradient round as MATERIALIZED CTEs — the same cross-engine
    iterative-algorithm verification pattern as x31's PageRank, applied
    to LEARNING: tokenize/census/vocab, per-round z = Σx·w, sigmoid
    residuals, per-token gradients and quantized updates are all
    recomputed from scratch by the oracle, so the final weight vector
    matches bit-for-bit, not by tolerance.

    Labels and a planted signal derive from doc_id parity (even docs
    gain ' signalspam casino', odd ' signalgood insight' — so the fit
    has real separable structure and the learned signs are meaningful,
    while every real corpus token still participates via the df >= 5
    vocabulary). quantize_dp=9: reorder/libm noise is ~1e-16 relative,
    six rounds of 1e-9 rounding sit ~7 orders of magnitude above it —
    the same argument (and the same knob) as x31, with margin chosen so
    thousands of rounded values cannot plausibly straddle a boundary."""
    docs = parallel_table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        (did % 2).cast("int").alias("label"),
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(did % 2 == 0, F.lit(" signalspam casino")).otherwise(
                F.lit(" signalgood insight")
            ),
        ).alias("text"),
    )
    w = TS.train_classifier(
        aug, "doc_id", "text", "label",
        n_iters=6, lr=2.0, l2=0.0, min_df=5, quantize_dp=9,
    )
    return w.orderBy("token")


def _x33_oracle_sql(n_iters: int = 6, lr: float = 2.0, dp: int = 9) -> str:
    # unrolled gradient descent: w0..w6 as chained MATERIALIZED CTEs
    # (un-materialized chains re-expand exponentially — x31's lesson);
    # arithmetic mirrors train_classifier's association exactly:
    # g = SUM(x*r)/n, w' = round(w - lr*(coalesce(g,0) + 0.0*w), dp).
    its = ""
    for k in range(1, n_iters + 1):
        prev = f"w{k - 1}"
        its += f""",
z{k} AS MATERIALIZED (
  SELECT f.doc_id, f.y, sum(f.x * w._w) AS z
  FROM feats f JOIN {prev} w USING (token) GROUP BY f.doc_id, f.y),
r{k} AS MATERIALIZED (
  SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS r FROM z{k}),
g{k} AS MATERIALIZED (
  SELECT f.token, sum(f.x * r.r) / (SELECT nd FROM n_docs) AS g
  FROM feats f JOIN r{k} r USING (doc_id) GROUP BY f.token),
w{k} AS MATERIALIZED (
  SELECT w.token,
         round(w._w - {lr} * (coalesce(g.g, 0.0) + 0.0 * w._w), {dp}) AS _w
  FROM {prev} w LEFT JOIN g{k} g USING (token))"""
    return f"""
WITH aug AS MATERIALIZED (
  SELECT doc_id, CAST(doc_id % 2 AS INTEGER) AS label,
         coalesce(text, '')
         || CASE WHEN doc_id % 2 = 0 THEN ' signalspam casino'
                 ELSE ' signalgood insight' END AS text
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, CAST(label AS DOUBLE) AS y,
         unnest(string_split_regex(
           regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'),
           '\\s+')) AS token
  FROM aug),
kept AS (SELECT * FROM toks WHERE length(token) > 0),
counts AS MATERIALIZED (
  SELECT doc_id, y, token, count(*) AS c FROM kept GROUP BY 1, 2, 3),
lens AS (SELECT doc_id, sum(c) AS len FROM counts GROUP BY doc_id),
vocab AS MATERIALIZED (
  SELECT token FROM counts GROUP BY token HAVING count(*) >= 5),
feats AS MATERIALIZED (
  SELECT c.doc_id, c.y, c.token, CAST(c.c AS DOUBLE) / l.len AS x
  FROM counts c JOIN lens l USING (doc_id)
  JOIN vocab v USING (token)),
n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM lens),
w0 AS MATERIALIZED (SELECT token, 0.0 AS _w FROM vocab){its}
SELECT token, _w AS weight FROM w{n_iters} ORDER BY token
"""


X33_SQL = _x33_oracle_sql()


EXT_QUERIES: dict[str, QuerySpec] = {
    "x01_dedup_exact": QuerySpec(x01_dedup_exact, X01_SQL),
    "x02_ngram_jaccard": QuerySpec(x02_ngram_jaccard, X02_SQL),
    "x03_minhash_signatures": QuerySpec(x03_minhash_signatures, X03_SQL),
    "x04_minhash_lsh_pairs": QuerySpec(x04_minhash_lsh_pairs, X04_SQL),
    "x05_simhash_neardup": QuerySpec(x05_simhash_neardup, X05_SQL),
    "x06_embedding_neardup": QuerySpec(x06_embedding_neardup, X06_SQL),
    "x07_ann_topk": QuerySpec(x07_ann_topk, X07_SQL),
    "x08_text_stats": QuerySpec(x08_text_stats, X08_SQL),
    "x09_repetition_stats": QuerySpec(x09_repetition_stats, X09_SQL),
    "x30_remove_dup_windows": QuerySpec(x30_remove_dup_windows, X30_SQL),
    "x12_pii_redact": QuerySpec(x12_pii_redact, X12_SQL),
    "x13_multimodal_pipeline": QuerySpec(x13_multimodal_pipeline, X13_SQL),
    "x14_session_window": QuerySpec(x14_session_window, X14_SQL),
    "x16_approx_aggregates": QuerySpec(x16_approx_aggregates, X16_SQL),
    "x17_lsh_bucketed_neardup": QuerySpec(x17_lsh_bucketed_neardup, X17_SQL),
    "x18_ivf_topk": QuerySpec(x18_ivf_topk, X18_SQL),
    "x22_skew_count": QuerySpec(x22_skew_count, X22_SQL),
    "x23_merge_diff": QuerySpec(x23_merge_diff, X23_SQL),
    "x24_url_curation": QuerySpec(x24_url_curation, X24_SQL),
    "x25_line_dedup": QuerySpec(x25_line_dedup, X25_SQL),
    "x26_classifier_score": QuerySpec(x26_classifier_score, X26_SQL),
    "x27_quantize_embeddings": QuerySpec(x27_quantize_embeddings, X27_SQL),
    "x28_lm_perplexity": QuerySpec(x28_lm_perplexity, X28_SQL),
    "x29_token_divergence": QuerySpec(x29_token_divergence, X29_SQL),
    "x31_pagerank": QuerySpec(x31_pagerank, X31_SQL),
    "x32_sampling": QuerySpec(x32_sampling, X32_SQL),
    "x33_train_classifier": QuerySpec(x33_train_classifier, X33_SQL),
}
