"""Similarity search over embedding columns (§2.2 extension).

Baseline: brute-force cosine — exact at any scale. Both the all-pairs and
top-k variants run the quadratic math as vectorized numpy matrix products
inside Arrow-batched Pandas functions (the hot path is BLAS, not per-row
expression evaluation):

- ``neardup_pairs``: block-decomposed A·Bᵀ. Rows are hashed into fixed-size
  blocks; each unordered block pair becomes one task holding at most two
  blocks in memory. Shuffle volume is n·B rows (B = block count) and
  per-task memory is bounded by ``block_rows`` regardless of total n —
  the compute is inherently O(n²) (use ``lsh_bucketed_pairs`` as the
  scale path), so the block count is hard-capped with an error rather
  than letting an infeasible pair map grow without bound.
- ``cosine_topk``: the (small) query side is broadcast as one dense
  matrix; the corpus streams through ``mapInPandas`` with a per-batch
  local top-k, so only |queries|·k rows per batch reach the final
  global top-k window. The corpus is never shuffled.

Scale path: ``lsh_bucketed_pairs`` (random-hyperplane sign buckets)
prunes the candidate set before the exact re-rank, turning the cross
product into a bucket-equijoin — with the same block decomposition
applied WITHIN each bucket so a hot bucket never becomes one giant task.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, dot
from ..session import local_table


def _to_matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow list column into a dense float64 matrix, L2-normalized
    row-wise (zero vectors stay zero → cosine 0, matching 0/||0|| guards)."""
    m = np.array(list(series), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def _argmax_cells(m, cmat, sim_dp: int = 4):
    """THE trained-index assignment contract, shared by every consumer
    (kmeans training's quantized branch, kmeans_assign,
    kmeans_moment_partials, semantic_neardup_pairs, ivf_topk): 4dp-
    rounded dot of normalized rows against the centroid matrix, argmax
    taking the FIRST maximal centroid on ties. The x18 oracle pins
    exactly this decision — keep all callers on this one kernel so a
    contract change cannot silently fork them (code-review finding,
    round 7). Returns (rounded_sims, cells)."""
    sims = np.round(m @ cmat.T, sim_dp)
    return sims, np.argmax(sims, axis=1)


def _nonempty_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL/empty embeddings — they carry no geometry, and a stray
    NULL fails _to_matrix inside an executor. One helper shared by
    every vector consumer in this module (training, assignment,
    moments, semantic pairing, IVF serving, brute-force top-k) so the
    guard cannot silently fork per call site."""
    return df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))


def _collect_query_side(
    queries: DataFrame, id_col: str, vec_col: str, max_query_rows: int, op: str
) -> pd.DataFrame:
    """Driver-side collect of the query set, bounded. The query side plays
    the role of a broadcast build side and must be semantically small; the
    limit(max+1) bounds the collect itself so a mistakenly-huge query
    DataFrame fails with a clear error instead of a driver OOM."""
    q_pdf = (
        queries.select(
            F.col(id_col).cast("long").alias("query_id"),
            as_double(vec_col).alias("qv"),
        )
        .limit(max_query_rows + 1)
        .toPandas()
    )
    if len(q_pdf) > max_query_rows:
        raise ValueError(
            f"{op}: query side exceeds max_query_rows={max_query_rows}; it is "
            "collected to the driver and broadcast like a join build side. "
            "Reduce the query set or raise max_query_rows explicitly."
        )
    return q_pdf.sort_values("query_id")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_query_rows: int = 65536,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    The query side is collected and broadcast as one normalized numpy
    matrix (it is a query *set* — semantically small, like the build side
    of a broadcast join; ``max_query_rows`` guards the collect); the
    corpus streams through ``mapInPandas`` in Arrow batches. Each batch
    emits only its local top-k per query, so the final global window
    ranks ≤ |queries|·k rows per batch instead of |queries|·|corpus|
    scored rows.
    """
    corpus = _nonempty_vecs(corpus, vec_col)
    queries = _nonempty_vecs(queries, vec_col)
    q_pdf = _collect_query_side(queries, id_col, vec_col, max_query_rows, "cosine_topk")
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = _to_matrix(q_pdf["qv"])
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_c = pdf["neighbor_id"].to_numpy()
            mat_c = _to_matrix(pdf["cv"])
            # rank on the 4dp-rounded sim with neighbor_id tiebreak — the
            # SAME order the final window and the SQL oracle use, so the
            # local cut can never discard a row the global rounded order
            # would have ranked ahead of a kept one
            sims = np.round(mat_q @ mat_c.T, 4)  # |Q| x batch
            sims[ids_q[:, None] == ids_c[None, :]] = -np.inf  # mask self
            kk = min(k, sims.shape[1])
            rows, cols, vals = [], [], []
            for qi in range(sims.shape[0]):
                # argpartition prefilter by value, then an exact
                # (sim DESC, id ASC) lexsort of every candidate tying
                # the k-th value — boundary ties resolve identically
                # to the global order
                part = np.argpartition(-sims[qi], kk - 1)[:kk]
                kth = sims[qi][part].min()
                cand = np.nonzero(sims[qi] >= kth)[0]
                order = cand[np.lexsort((ids_c[cand], -sims[qi][cand]))][:kk]
                rows.extend([ids_q[qi]] * len(order))
                cols.extend(order)
                vals.extend(sims[qi][order])
            vals = np.asarray(vals, dtype=np.float64)
            keep = np.isfinite(vals)
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(rows, dtype=np.int64)[keep],
                    "neighbor_id": ids_c[np.asarray(cols, dtype=np.int64)[keep]],
                    "sim": vals[keep],
                }
            )

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    )
    scored = c.mapInPandas(
        local_topk, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank"
        )
    )


def _score_block_pair(threshold: float):
    """applyInPandas kernel shared by ``neardup_pairs`` (group key =
    (pa, pb)) and ``lsh_bucketed_pairs`` (group key = (bucket, pa, pb)):
    numpy sub-matrix product over the two sub-blocks, upper triangle kept
    once for the diagonal groups."""

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pa, pb = key[-2], key[-1]
        side_a = pdf[pdf["g"] == pa]
        side_b = pdf[pdf["g"] == pb] if pa != pb else side_a
        if len(side_a) == 0 or len(side_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids_a = side_a["id"].to_numpy()
        ids_b = side_b["id"].to_numpy()
        # the THRESHOLD decision compares the 4dp-rounded sim — the same
        # value the operator emits — so a sim within float-summation
        # error of the cut can't be kept by one engine and dropped by
        # the other (the x06/x17 oracles round identically)
        sims = np.round(
            _to_matrix(side_a["v"]) @ _to_matrix(side_b["v"]).T, 4
        )
        if pa == pb:
            # every unordered pair appears twice in the square matrix;
            # keep the upper triangle (id_a < id_b) once
            ia, ib = np.nonzero(
                (sims > threshold) & (ids_a[:, None] < ids_b[None, :])
            )
            lo, hi = ids_a[ia], ids_b[ib]
        else:
            # cross-block: each unordered pair appears exactly once and only
            # in this group — keep all, orient as (min, max)
            ia, ib = np.nonzero(sims > threshold)
            lo = np.minimum(ids_a[ia], ids_b[ib])
            hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims[ia, ib]})

    return score


def neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    block_rows: int = 4096,
    max_blocks: int = 256,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine > threshold — exact, blocked.

    Rows are hashed into B ≈ n/block_rows blocks; every unordered block
    pair (pa ≤ pb) is one ``applyInPandas`` group whose task computes the
    sub-matrix product with numpy. Per-task memory is ≤ 2·block_rows
    vectors however large n grows; the replication factor of the
    broadcast pair-map join is B per row.

    The pair map is generated distributed (a range self-join, never a
    driver-side Python list) and B is hard-capped: brute force is O(n²)
    compute by definition, so beyond ``max_blocks`` blocks (≈1M rows at
    the default block size) the right answer is a clear error pointing at
    ``lsh_bucketed_pairs``, not a driver OOM after hours of shuffling.
    """
    n = emb.count()
    nblocks = max(1, math.ceil(n / block_rows))
    if nblocks > max_blocks:
        raise ValueError(
            f"neardup_pairs: {n} rows → {nblocks} blocks exceeds "
            f"max_blocks={max_blocks}; exact all-pairs is O(n²) and "
            "infeasible at this scale — use lsh_bucketed_pairs (sub-"
            "quadratic) or raise max_blocks/block_rows deliberately."
        )
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).cast("long").alias("id"), as_double(vec_col).alias("v")
    ).withColumn("g", F.pmod(F.xxhash64(F.col("id")), F.lit(nblocks)).cast("int"))
    pa = spark.range(nblocks).select(F.col("id").cast("int").alias("pa"))
    pb = spark.range(nblocks).select(F.col("id").cast("int").alias("pb"))
    pair_map = (
        pa.join(pb, F.col("pa") <= F.col("pb"))
        .withColumn("g", F.explode(F.array_distinct(F.array("pa", "pb"))))
    )
    joined = base.join(F.broadcast(pair_map), "g")
    return (
        joined.groupBy("pa", "pb")
        .applyInPandas(_score_block_pair(threshold), "id_a long, id_b long, sim double")
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iters: int = 3,
    quantize_dp: int | None = None,
    init_vecs: np.ndarray | None = None,
) -> np.ndarray:
    """Distributed Lloyd's k-means over L2-normalized vectors (spherical
    k-means: assignment by max dot product = cosine).

    Init is deterministic (the k lowest-id vectors). Each iteration is ONE
    pass over the corpus: centroids broadcast (k×dim floats — tiny), each
    Arrow batch computes its argmax assignments AND its per-cluster partial
    vector sums locally (map-side combine — the treeAggregate shape), so
    the only data movement is ≤ (k rows × dim) per batch into a driver
    reduce. The corpus is never shuffled; nothing quadratic anywhere.
    Empty clusters keep their previous centroid. Ties in argmax take the
    first maximal centroid → deterministic given the partitioning.

    ``quantize_dp`` switches on the cross-engine-reproducible contract
    (the x31 PageRank / x33 LR-training recipe): per round, assignments
    argmax the 4dp-ROUNDED dot product (first-max tie → lowest centroid
    index), the per-dim cluster mean is rounded to ``quantize_dp``
    decimals, the L2 norm is taken OF the rounded mean, and the
    normalized centroid is rounded again. Distributed summation-order
    noise (~1e-14 absolute on the mean) vanishes below the 1e-7 quantum,
    so N rounds of double arithmetic are bit-reproducible across engines
    and partitionings — the x18 registry oracle re-derives the whole
    trainer as unrolled MATERIALIZED CTEs in DuckDB. Empty clusters keep
    the previous round's centroid VERBATIM in this mode (the default
    mode's blanket renormalization would perturb a kept unit vector by a
    few ulps, which an independent engine cannot mirror).

    ``init_vecs``: the k lowest-``id_col`` RAW vectors as a
    ``(>=k, dim)`` array (normalized here exactly as the internal
    collect's rows would be) — lets co-trained stages share ONE corpus
    head collect instead of one TakeOrdered pass per trainer (round 13
    — the pq_train ``init_vecs`` contract; must be exactly what the
    internal collect would produce).
    """
    spark = corpus.sparkSession
    # NULL/empty embeddings carry no geometry — drop them up front (the
    # pca_fit moment pass applies the same guard batch-side); a stray
    # NULL would otherwise fail _to_matrix inside an executor
    corpus = _nonempty_vecs(corpus, vec_col)
    if init_vecs is not None:
        arr = np.asarray(init_vecs, dtype=np.float64)[:k]
        cent = _to_matrix(pd.Series(list(arr)))
    else:
        init_pdf = (
            corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
            .orderBy(id_col)
            .limit(k)
            .toPandas()
        )
        cent = _to_matrix(init_pdf["v"])
    dim = cent.shape[1]
    vecs = corpus.select(as_double(vec_col).alias("cv"))

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cent)

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cmat = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = _to_matrix(pdf["cv"])
                if quantize_dp is not None:
                    _, cl = _argmax_cells(m, cmat)
                else:
                    cl = np.argmax(m @ cmat.T, axis=1)
                sums = np.zeros_like(cmat)
                np.add.at(sums, cl, m)
                counts = np.bincount(cl, minlength=cmat.shape[0])
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cluster": nz.astype("int32"),
                        "vsum": list(sums[nz]),
                        "n": counts[nz].astype("int64"),
                    }
                )

        # distributed fold of the per-BATCH partials BEFORE toPandas
        # (VERDICT r8, the pq_train fix applied here too): the driver
        # receives ≤ k rows total instead of k rows per Arrow batch.
        # array_sort makes the float fold order-deterministic run-to-
        # run (collect_list order varies with task completion); in the
        # quantized mode any residual order noise also vanishes below
        # the quantize_dp quantum (the DuckDB-oracle argument).
        partials = (
            vecs.mapInPandas(
                partial_sums, "cluster int, vsum array<double>, n long"
            )
            .groupBy("cluster")
            .agg(
                F.sum("n").alias("n"),
                F.aggregate(
                    F.array_sort(F.collect_list("vsum")),
                    F.array_repeat(F.lit(0.0), int(dim)),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
            )
            .toPandas()
        )
        assert len(partials) <= cent.shape[0], (
            f"kmeans fold: {len(partials)} rows > k={cent.shape[0]}"
        )
        new_cent = cent.copy()
        for row in partials.itertuples(index=False):
            cl = int(row.cluster)
            total = np.asarray(row.vsum, dtype=np.float64)
            n = int(row.n)
            if n <= 0:
                continue
            if quantize_dp is None:
                new_cent[cl] = total / n
            else:
                mean = np.round(total / n, quantize_dp)
                nrm = float(np.linalg.norm(mean)) or 1.0
                new_cent[cl] = np.round(mean / nrm, quantize_dp)
        if quantize_dp is None:
            norms = np.linalg.norm(new_cent, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            cent = new_cent / norms
        else:
            cent = new_cent

    assert cent.shape[0] <= k and cent.shape[1] == dim
    return cent


def kmeans_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each corpus vector to its nearest trained centroid:
    (id, cell_id, cent_sim) where cent_sim is the 4dp-rounded dot product
    against the winning centroid and ties take the lowest centroid index
    (the same first-max contract as training). One mapInPandas projection
    over the corpus — centroids broadcast (k×dim floats), no shuffle,
    corpus never collected."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    cmat = np.asarray(centroids, dtype="float64")
    bc = spark.sparkContext.broadcast(cmat)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _to_matrix(pdf["cv"])
            sims, cl = _argmax_cells(m, cm)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "cell_id": cl.astype("int32"),
                    "cent_sim": sims[np.arange(len(cl)), cl],
                }
            )

    return (
        corpus.select(
            F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("cv")
        )
        .mapInPandas(assign, "vid long, cell_id int, cent_sim double")
        .select(F.col("vid").alias(id_col), "cell_id", "cent_sim")
    )


def kmeans_moment_partials(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    fp_dp: int = 6,
) -> DataFrame:
    """Per-cell per-dim FIXED-POINT coordinate sums + counts of a corpus
    under FROZEN centroids — the additive moment census behind
    streaming ANN index maintenance (``kmeans_ingest_sink``):
    ``(cell_id, dim, s_fp, n)`` where ``s_fp = Σ round(x_norm·10^fp_dp)``
    as BIGINT and ``n`` is the cell population (repeated per dim).
    Assignment is the shared 4dp-argmax contract. Integer sums make the
    fold ORDER-FREE and exact: merge == build-of-union row-for-row (the
    census-sink algebra extended to vector moments), so the folded
    artifact is a pure function of the row set however batches split,
    interleave or replay. One Arrow pass; ≤ k×dim rows per batch into a
    (cell, dim)-keyed aggregation — corpus never shuffled."""
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    cmat = np.asarray(centroids, dtype="float64")
    bc = spark.sparkContext.broadcast(cmat)
    scale = 10**fp_dp

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = bc.value
        k, d = cm.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _to_matrix(pdf["cv"])
            _, cl = _argmax_cells(m, cm)
            fp = np.round(m * scale).astype(np.int64)
            sums = np.zeros((k, d), dtype=np.int64)
            np.add.at(sums, cl, fp)
            counts = np.bincount(cl, minlength=k)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cell_id": np.repeat(nz, d).astype("int32"),
                    "dim": np.tile(np.arange(d, dtype="int32"), len(nz)),
                    "s_fp": sums[nz].reshape(-1),
                    "n": np.repeat(counts[nz], d).astype("int64"),
                }
            )

    return (
        corpus.select(as_double(vec_col).alias("cv"))
        .mapInPandas(partials, "cell_id int, dim int, s_fp long, n long")
        .groupBy("cell_id", "dim")
        .agg(F.sum("s_fp").alias("s_fp"), F.sum("n").alias("n"))
    )


def kmeans_refit(
    moments: DataFrame,
    prev_centroids: np.ndarray,
    quantize_dp: int = 7,
    fp_dp: int = 6,
) -> np.ndarray:
    """One Lloyd update from a folded moment artifact: per cell,
    ``mean_j = round((s_fp / 10^fp_dp) / n, quantize_dp)``, L2-norm OF
    the quantized mean, divide, round again — the ``kmeans_centroids``
    quantized contract computed from EXACT integer sums, so the rolled
    index is a pure function of (row set, frozen centroids) regardless
    of how the stream was batched or replayed. Cells with no mass keep
    the previous centroid verbatim. Driver cost: k×dim rows — bounded
    by the index size, never the stream.

    Operational contract: the artifact must have been accumulated by
    assigning against EXACTLY ``prev_centroids`` (shape-validated here —
    a foreign artifact fails loudly, not with a stray IndexError), and
    after a refit the artifact belongs to the RETIRED index: point the
    sink at a fresh ``artifact_dir`` for the rolled centroids (re-using
    the old one would re-apply history that was assigned under the
    previous index — one Lloyd step per artifact GENERATION, the same
    discipline as any frozen-index quantizer rebuild)."""
    cm = np.asarray(prev_centroids, dtype="float64")
    k, d = cm.shape
    pdf = moments.toPandas()
    new = cm.copy()
    if len(pdf) == 0:
        return new
    cells = pdf["cell_id"].to_numpy(dtype=np.int64)
    dims = pdf["dim"].to_numpy(dtype=np.int64)
    # two-sided shape validation: the partials emit EVERY dim 0..d-1 for
    # each non-empty cell, so a foreign artifact (different k OR d —
    # e.g. moments of a PCA-projected index) fails loudly instead of
    # silently zero-filling missing dimensions into garbage centroids
    if cells.max() >= k or dims.max() != d - 1 or dims.min() != 0:
        raise ValueError(
            f"kmeans_refit: moment artifact addresses cells up to "
            f"{int(cells.max())} and dims [{int(dims.min())}, "
            f"{int(dims.max())}] but prev_centroids is {k}x{d} — the "
            "artifact was built against a different index"
        )
    counts = np.bincount(cells, minlength=k)
    if (counts[np.unique(cells)] != d).any():
        raise ValueError(
            "kmeans_refit: moment artifact has a partial dim set for "
            "some cell — corrupt or mixed-generation artifact"
        )
    # (cell, dim) uniqueness: a duplicated row OFFSETTING a missing dim in
    # the same cell passes the per-cell count above, then last-write-wins
    # in the scatter while the missing dim silently stays 0
    if np.unique(cells * d + dims).size != len(pdf):
        raise ValueError(
            "kmeans_refit: duplicate (cell_id, dim) rows in the moment "
            "artifact — corrupt artifact"
        )
    s_fp = np.zeros((k, d), dtype=np.int64)
    n_by = np.zeros(k, dtype=np.int64)
    s_fp[cells, dims] = pdf["s_fp"].to_numpy(dtype=np.int64)
    n_by[cells] = pdf["n"].to_numpy(dtype=np.int64)
    live = np.nonzero(n_by > 0)[0]
    for cell in live:
        mean = np.round(
            (s_fp[cell] / 10**fp_dp) / n_by[cell], quantize_dp
        )
        nrm = float(np.linalg.norm(mean)) or 1.0
        new[cell] = np.round(mean / nrm, quantize_dp)
    return new


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    max_query_rows: int = 65536,
    train_iters: int = 0,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_centroids`` cells, probe only the ``n_probe`` cells nearest
    each query, exact-rescore the candidates. Pass ``centroids`` (a
    k×dim array, e.g. persisted from a prior ``kmeans_centroids`` run —
    the jobs/embed_pipeline index-build flow) to skip training and serve
    from a fixed index.

    Scale path vs brute force: the candidate join prunes the corpus to
    ~n_probe/n_centroids of its rows BEFORE any scoring work; the probe
    table (|queries| x n_probe rows) broadcasts, so the corpus is never
    shuffled — candidates flow straight into a vectorized rescore and a
    per-query top-k window. ``train_iters=0`` uses the ``n_centroids``
    lowest-id corpus vectors as centroids (deterministic, zero training
    cost); ``train_iters>0`` runs that many distributed Lloyd iterations
    (``kmeans_centroids`` — one corpus pass each, map-side partial sums)
    for better cell balance and recall. The query-side collect is bounded
    by ``max_query_rows``.

    Recall < 1 by construction (rows-only check; recall is pinned by a
    property test against the exact ``cosine_topk``).
    """
    spark = corpus.sparkSession
    corpus = _nonempty_vecs(corpus, vec_col)
    if centroids is not None:
        cent_mat = np.asarray(centroids, dtype="float64")
    elif train_iters > 0:
        cent_mat = kmeans_centroids(
            corpus, id_col, vec_col, k=n_centroids, n_iters=train_iters
        )
    else:
        cent_pdf = (
            corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
            .orderBy(id_col)
            .limit(n_centroids)
            .toPandas()
        )
        cent_mat = _to_matrix(cent_pdf["v"])
    bc = spark.sparkContext.broadcast(cent_mat)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _to_matrix(pdf["cv"])
            # a near-tie between cells resolves to the lower index in
            # BOTH engines (the oracle ranks by (round(sim,4) DESC,
            # idx)), not by float noise — _argmax_cells' contract
            _, cl0 = _argmax_cells(m, cmat)
            cl = cl0.astype("int32")
            yield pd.DataFrame(
                {"cluster": cl, "neighbor_id": pdf["neighbor_id"], "cv": pdf["cv"]}
            )

    assigned = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).mapInPandas(assign, "cluster int, neighbor_id long, cv array<double>")

    q_pdf = _collect_query_side(
        _nonempty_vecs(queries, vec_col), id_col, vec_col, max_query_rows,
        "ivf_topk",
    )
    q_ids = q_pdf["query_id"].to_numpy()
    q_mat = _to_matrix(q_pdf["qv"])
    # 4dp-rounded + stable sort: equal-rounded-similarity centroids keep
    # index order, so probe sets are deterministic and reproducible by
    # the SQL oracle's (round(sim,4) DESC, idx ASC) ranking even when
    # two cells are within float noise of each other
    probe_order = np.argsort(
        -np.round(q_mat @ cent_mat.T, 4), axis=1, kind="stable"
    )[:, :n_probe]
    probes = local_table(
        spark,
        [
            (int(qid), int(c))
            for qid, row in zip(q_ids, probe_order)
            for c in row
        ],
        "query_id long, cluster int",
    )
    bq = spark.sparkContext.broadcast(
        {int(qid): q_mat[i] for i, qid in enumerate(q_ids)}
    )

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qvs = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _to_matrix(pdf["cv"])
            qm = np.stack([qvs[int(q)] for q in pdf["query_id"]])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    # emit the 4dp-rounded sim so the rank window below
                    # orders on exactly the value the oracle ranks on
                    "sim": np.round(np.einsum("ij,ij->i", qm, m), 4),
                }
            )

    candidates = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = candidates.select("query_id", "neighbor_id", "cv").mapInPandas(
        rescore, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy dependency at
    plan-build time, reproducible across runs)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-bucket expression: bit i = (v · plane_i) > 0 — random-hyperplane
    LSH for cosine. Returns an int bucket id column. The zip_with/
    aggregate fold is interpreted (no codegen) and loses to the Arrow
    matmul kernel in isolation, but WINS inside lsh_bucketed_pairs
    because it keeps the bucket column JVM-side across the sizing
    window and sub-block explode (see the LSH_ARROW_MIN_PLANES
    measurements — pipeline, not kernel, decides). A literal-weight
    element_at multiply-add chain stays off the table regardless: 384
    scalar terms for 6 planes x 64 dims tripped codegen's size
    fallbacks and ran 2x slower (round-4 measurement)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        # sign decided on the 4dp-rounded projection: a projection within
        # float-summation noise of 0 buckets identically in the fold, the
        # Arrow matmul path, and the SQL oracle
        bit = F.when(
            F.round(dot(vec_col, plane), 4) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(0)
        bucket = bucket + bit
    return bucket


# Fold-vs-Arrow, re-measured sf0.1/64-dim in round 5 after the 4dp
# sign-rounding landed in both paths. In ISOLATION the Arrow matmul now
# wins at every plane count (bucket-only: fold 0.67s vs arrow 0.23s at
# 6 planes, 0.87s vs 0.22s at 12 — the per-plane round() made the
# interpreted fold strictly worse). But inside the FULL
# lsh_bucketed_pairs pipeline the pandas_udf bucket column inserts
# ArrowEvalPython stages around the sizing window / sub-block explode
# and the whole query runs 1.8x SLOWER (x17 at sf0.1: 1.47s fold vs
# 2.66s arrow), so the JVM-side fold stays the default at low plane
# counts — the context cost of a Python-evaluated column outweighs its
# kernel win. Both numbers kept here so the next tuning pass measures
# the pipeline, not the kernel.
LSH_ARROW_MIN_PLANES = 12


def lsh_bucket_arrow(planes: list[list[float]]):
    """Arrow-batched bucket assignment: all plane projections in ONE BLAS
    matmul (V @ Pᵀ) per batch — the scale path for many-plane/multi-table
    LSH where the interpreted fold's per-plane cost dominates (see
    measurement above). Returns a callable: column -> long bucket column.

    Signs are decided on the 4dp-rounded projections (same as the fold
    and the SQL oracle), so BLAS-vs-sequential summation-order noise on
    a near-zero projection cannot flip a bucket between paths or
    engines; a projection would need to straddle the rounding boundary
    itself to disagree, which the rounding makes a deterministic,
    engine-independent event."""
    P = np.array(planes, dtype=np.float64).T  # dim x n_planes
    weights = (1 << np.arange(len(planes))).astype(np.int64)

    @F.pandas_udf("long")
    def bucket(s: pd.Series) -> pd.Series:
        V = np.array(list(s), dtype=np.float64)
        return pd.Series((np.round(V @ P, 4) > 0) @ weights)

    return bucket


def lsh_bucketed_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    threshold: float = 0.8,
    block_rows: int = 4096,
) -> DataFrame:
    """Scale path: bucket by hyperplane signs, score only same-bucket pairs
    (equijoin on bucket id → shuffle co-location, no cross product), then
    exact cosine verify. Recall < 1 by construction (documented; raise
    recall with multiple tables / fewer planes).

    Bounded tasks, all inside ONE lazy plan: a bucket is NEVER one task.
    A window count per bucket sizes ceil(bucket_size / block_rows)
    sub-blocks; rows hash into sub-blocks and each row explodes to the
    ``mb`` unordered sub-block pairs it participates in, so each
    (bucket, pa, pb) pair is its own ``applyInPandas`` group — per-task
    memory stays ≤ 2·block_rows vectors even for a hot bucket (the same
    block decomposition as ``neardup_pairs``). There is NO driver-side
    counts collect and NO materialized pair map: the earlier design's
    separate sizing job + broadcast pair-map DataFrame (and its driver
    row cap) are replaced by plan-native expressions, removing a driver
    sync point and an O(Σ blocks²) driver allocation entirely.

    No trailing ``.distinct()``: each row lands in exactly one
    (bucket, g) sub-block and each unordered pair in exactly one
    (bucket, pa, pb) group, so the pair stream is duplicate-free by
    construction — a distinct here would be a wasted full shuffle
    (contrast lsh_candidate_pairs in dedup.py, where multi-band
    membership makes the distinct necessary).
    """
    planes = _hyperplanes(dim, n_planes)
    bucket_col = (
        lsh_bucket_arrow(planes)(as_double(vec_col))
        if n_planes >= LSH_ARROW_MIN_PLANES
        else lsh_bucket(as_double(vec_col), planes)
    )
    bucketed = emb.select(
        F.col(id_col).cast("long").alias("id"),
        as_double(vec_col).alias("v"),
        bucket_col.alias("bucket"),
    )
    return _within_group_pairs(bucketed, threshold, block_rows, "bucket")


def _within_group_pairs(
    grouped: DataFrame,
    threshold: float,
    block_rows: int,
    group_col: str,
) -> DataFrame:
    """Same-group cosine pairs over (id, v, ``group_col``) with the
    plan-native sub-block decomposition (see ``lsh_bucketed_pairs``, the
    original call site; ``semantic_neardup_pairs`` groups by k-means
    cluster instead of LSH bucket): a window count sizes each group's
    sub-blocks lazily, rows explode to their sub-block pairs, and each
    (group, pa, pb) is one bounded ``applyInPandas`` task — a hot group
    is never one task."""
    wb = Window.partitionBy(group_col)
    base = grouped.withColumn(
        "mb", F.ceil(F.count(F.lit(1)).over(wb) / block_rows).cast("int")
    ).withColumn("g", F.pmod(F.xxhash64("id"), F.col("mb")).cast("int"))
    # every sub-block pair this row's g participates in: (min(g,p), max(g,p))
    # for p in 0..mb-1 — p == g yields the diagonal group once
    expanded = base.select(
        group_col,
        "id",
        "v",
        "g",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("mb") - 1),
                lambda p: F.struct(
                    F.least(F.col("g"), p).alias("pa"),
                    F.greatest(F.col("g"), p).alias("pb"),
                ),
            )
        ).alias("pp"),
    ).select(
        group_col,
        "id",
        "v",
        "g",
        F.col("pp.pa").alias("pa"),
        F.col("pp.pb").alias("pb"),
    )
    return (
        expanded.groupBy(group_col, "pa", "pb")
        .applyInPandas(_score_block_pair(threshold), "id_a long, id_b long, sim double")
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def semantic_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    train_iters: int = 2,
    block_rows: int = 4096,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """SemDeDup-style candidate pairs (Abbas et al. 2023): k-means the
    corpus into semantic cells, compare only WITHIN a cell — near-dups
    land in the same cell because they are near the same centroid, so
    the quadratic work shrinks from n² to Σ|cell|² while staying exact
    cosine (not a hash approximation) inside each cell.

    Scale shape: ``kmeans_centroids`` (one pass per iteration, map-side
    partial sums, corpus never shuffled) → broadcast-centroid argmax
    assignment in one Arrow pass (the IVF assign kernel) → the shared
    sub-block decomposition, so a mega-cell decomposes into bounded
    tasks instead of one straggler. Recall < 1 by construction (a dup
    pair split across a cell boundary is missed — raise ``n_clusters``
    quality via ``train_iters``, or lower ``n_clusters`` toward 1 which
    degrades to exact ``neardup_pairs``); pinned by a recall property
    test against the exact path. Pass ``centroids`` (k×dim, e.g. a
    quantized ``kmeans_centroids`` fit — the x18 registry pin's path)
    to skip training and cell the corpus against a fixed index."""
    spark = emb.sparkSession
    if centroids is not None:
        cent_mat = np.asarray(centroids, dtype="float64")
    else:
        cent_mat = kmeans_centroids(
            emb, id_col, vec_col, k=n_clusters, n_iters=train_iters
        )
    bc = spark.sparkContext.broadcast(cent_mat)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _to_matrix(pdf["v"])
            _, cl0 = _argmax_cells(m, cmat)
            cl = cl0.astype("int32")
            yield pd.DataFrame({"cluster": cl, "id": pdf["id"], "v": pdf["v"]})

    assigned = _nonempty_vecs(emb, vec_col).select(
        F.col(id_col).cast("long").alias("id"), as_double(vec_col).alias("v")
    ).mapInPandas(assign, "cluster int, id long, v array<double>")
    return _within_group_pairs(assigned, threshold, block_rows, "cluster")


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    train_iters: int = 2,
    block_rows: int = 4096,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Corpus-level semantic deduplication: drop all but one
    representative (min id) of every semantic near-dup group —
    ``semantic_neardup_pairs`` → connected components → anti-join
    (the ``dedup_by_pairs`` composition; transitive chains collapse to
    one survivor even when the endpoints' similarity is below
    threshold, the standard component semantics of this repo's dedup
    family)."""
    from .dedup import dedup_by_pairs

    pairs = semantic_neardup_pairs(
        emb, id_col, vec_col, threshold, n_clusters, train_iters, block_rows
    )
    return dedup_by_pairs(
        emb, pairs, id_col, reliable_checkpoint=reliable_checkpoint
    )


def lsh_bucketed_pairs_multi(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
    threshold: float = 0.8,
    block_rows: int = 4096,
) -> DataFrame:
    """Multi-table hyperplane LSH: the standard recall knob for
    ``lsh_bucketed_pairs``. A single table misses a near-dup pair
    whenever ANY of its ``n_planes`` hyperplanes separates the two
    vectors (miss probability (1 - (1-θ/π)^p) per table); ``n_tables``
    independent tables (seed-varied hyperplanes) make the miss
    probability the PRODUCT of per-table misses — e.g. a pair a single
    8-plane table catches with 0.7 probability survives 2 tables with
    0.91, 3 with 0.97.

    Cost shape: the corpus replicates ``n_tables``× into the ONE
    bucket-hash exchange (bucket keys are table-prefixed so tables never
    mix), and each (table, bucket) decomposes into the same bounded
    sub-block tasks as the single-table path. The trailing ``distinct``
    IS required here — a pair can surface in several tables (contrast
    the single-table path's duplicate-free-by-construction stream, see
    ``lsh_bucketed_pairs``); it shuffles only the pair stream, which is
    output-sized, not corpus-sized."""
    # ONE corpus scan: every table's bucket is computed in the same
    # projection and a single explode replicates rows n_tables× — a
    # per-table select + union would re-read and re-decode the source
    # once per table for identical output
    bucket_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + 1000 * t)
        bucket_col = (
            lsh_bucket_arrow(planes)(as_double(vec_col))
            if n_planes >= LSH_ARROW_MIN_PLANES
            else lsh_bucket(as_double(vec_col), planes)
        )
        bucket_cols.append(
            F.concat(F.lit(f"{t}:"), bucket_col.cast("string"))
        )
    bucketed = emb.select(
        F.col(id_col).cast("long").alias("id"),
        as_double(vec_col).alias("v"),
        F.explode(F.array(*bucket_cols)).alias("bucket"),
    )
    # dedup on PAIR IDENTITY, not (pair, sim): the same pair scored in
    # two tables sits in differently-composed sub-matrices, and a
    # last-ulp BLAS difference at a 4dp boundary could emit two sims —
    # distinct() on all columns would then keep both rows
    return (
        _within_group_pairs(bucketed, threshold, block_rows, "bucket")
        .dropDuplicates(["id_a", "id_b"])
    )


def topk_eval(
    approx: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int | None = None,
) -> DataFrame:
    """Retrieval-quality evaluation of an approximate top-k result
    against exact ground truth — the acceptance gate for every ANN
    trade-off here (``ivf_topk`` probes, LSH plane/table counts,
    quantized rescoring): measure recall BEFORE trusting a cheaper
    index at scale.

    Inputs are two (query, neighbor, rank) result tables (the
    ``cosine_topk``/``ivf_topk`` output shape); ``k`` truncates BOTH
    sides to their top-k ranks first (evaluate recall@k of a deeper
    result list). Output, one row per truth query:

    - ``n_truth``/``n_hit``: truth rows, and how many the approx result
      retrieved;
    - ``recall``: n_hit / n_truth, 4dp;
    - ``first_hit_rank``: the approx rank of the best-ranked retrieved
      truth neighbor (NULL if none);
    - ``reciprocal_rank``: 1 / first_hit_rank, 0.0 when nothing was
      retrieved — AVG over the output is MRR;
    - ``ndcg``: binary-relevance nDCG@k, 4dp. The ideal DCG is the
      truth list scored by its OWN ranks, which assumes truth ranks
      are dense 1..n_truth per query (the ``cosine_topk`` shape); a
      truth table with gapped ranks would understate the ideal.

    Queries present in truth but entirely absent from the approx result
    report recall 0, not a missing row (left-join restore). Scale
    shape: one equi-join on (query, neighbor) between two result-sized
    (≤ |queries|·k rows) tables plus two query-keyed aggregations —
    nothing corpus-sized is touched."""
    a = approx.select(
        F.col(query_col).alias("_q"),
        F.col(neighbor_col).alias("_n"),
        F.col(rank_col).alias("_ar"),
    )
    t = truth.select(
        F.col(query_col).alias("_q"),
        F.col(neighbor_col).alias("_n"),
        F.col(rank_col).alias("_tr"),
    )
    if k is not None:
        a = a.filter(F.col("_ar") <= k)
        t = t.filter(F.col("_tr") <= k)
    # an approx result may legally repeat a (query, neighbor) pair
    # (e.g. a multi-probe/multi-table union); counting join rows would
    # inflate n_hit past n_truth (recall > 1). Collapse to the best
    # rank per pair — result-sized agg, still nothing corpus-sized.
    a = a.groupBy("_q", "_n").agg(F.min("_ar").alias("_ar"))
    hits = t.join(a, ["_q", "_n"])

    # binary-relevance nDCG in exact integer fixed point: each rank
    # contributes w(r) = round(1e6·ln(2)/ln(r+1)) — 1/log2(r+1) spelled
    # as an ln ratio so both engines run the SAME libm steps (the
    # established ln contract); BIGINT sums are summation-order-free,
    # and the ideal DCG is the truth list's own ranks (truth ranks are
    # dense 1..n_truth, i.e. every truth item retrieved at the top)
    def _w_fp(rank_c) -> Column:
        return F.round(
            F.lit(10**6) * F.log(F.lit(2.0)) / F.log(rank_c + F.lit(1.0))
        ).cast("long")

    per_q_hits = hits.groupBy("_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        F.min("_ar").cast("bigint").alias("first_hit_rank"),
        F.sum(_w_fp(F.col("_ar"))).cast("bigint").alias("_dcg_fp"),
    )
    per_q_truth = t.groupBy("_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum(_w_fp(F.col("_tr"))).cast("bigint").alias("_idcg_fp"),
    )
    return (
        per_q_truth.join(per_q_hits, "_q", "left")
        .na.fill({"n_hit": 0, "_dcg_fp": 0})
        .select(
            F.col("_q").alias(query_col),
            "n_truth",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth"), 4).alias("recall"),
            "first_hit_rank",
            F.round(
                F.coalesce(1.0 / F.col("first_hit_rank"), F.lit(0.0)), 4
            ).alias("reciprocal_rank"),
            F.round(F.col("_dcg_fp") / F.col("_idcg_fp"), 4).alias("ndcg"),
        )
    )


def rrf_fuse(
    results: list[DataFrame],
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    fp_scale: int = 10**9,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked result
    lists — the standard hybrid-retrieval combiner (dense ANN + lexical
    BM25, or two ANN indexes with different trade-offs): each list
    contributes ``1/(k + rank)`` per (query, item) and items are
    re-ranked by the summed score. Scores are EXACT integer fixed-point
    — ``fp_scale div (k + rank)`` (integer division, no float quotient)
    summed as BIGINTs — so the fused order and every emitted score are
    bit-reproducible across engines and partitionings; ties break by
    item id ASC.

    Scale shape: the inputs are result lists (queries × k rows, never
    corpus-sized), so the union + one (query, item) aggregation + one
    query-partitioned window are all result-bounded; nothing here
    touches the corpus. An item missing from one list simply
    contributes nothing for it (the RRF convention)."""
    if len(results) < 2:
        raise ValueError("rrf_fuse: need at least two result lists")
    if k_rrf < 1 or fp_scale < 1:
        raise ValueError("rrf_fuse: k_rrf and fp_scale must be >= 1")
    contribs = None
    for r in results:
        # fp_scale div (k + rank) as Column ops, not an F.expr string
        # (a rank column named with spaces/reserved words would break
        # or mis-resolve the parse — ADVICE r8). floor(a/b) on doubles
        # equals integer div here: both operands are exact integers
        # < 2^53, and a non-integer quotient sits ≥ 1/b > 1 ulp away
        # from the nearest integer, so the floor cannot straddle it.
        part = r.select(
            F.col(query_col),
            F.col(item_col),
            F.floor(
                F.lit(float(fp_scale)) / (F.lit(float(k_rrf)) + F.col(rank_col))
            )
            .cast("long")
            .alias("_c"),
        )
        contribs = part if contribs is None else contribs.unionByName(part)
    fused = contribs.groupBy(query_col, item_col).agg(
        F.sum("_c").cast("long").alias("rrf_fp")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_fp"), F.col(item_col)
    )
    return fused.withColumn(
        "rrf_rank", F.row_number().over(w).cast("int")
    )


def mine_hard_negatives(
    candidates: DataFrame,
    positives: DataFrame,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    n_negatives: int | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training data
    (Karpukhin et al. 2020, DPR; the standard bi-encoder recipe): from
    a ranked candidate list, remove each query's KNOWN positives and
    re-rank what remains — the nearest non-answers are the negatives
    that teach a contrastive model the most (random negatives are too
    easy; the confusable ones define the decision boundary).

    ``candidates``: a (query, item, rank, ...) result list from any of
    the retrieval paths (``cosine_topk`` exact, ``ivf_topk`` /
    ``pq.ivfpq_topk`` at scale, ``relevance.bm25_scores`` ranked, or an
    ``rrf_fuse`` hybrid — the rank column name is a parameter).
    ``positives``: (query, item) known-relevant pairs. Output: the
    candidates' non-positive rows + ``hard_neg_rank`` (1-based in
    original rank order, per query), truncated to ``n_negatives`` when
    given. Callers retrieving k candidates should retrieve
    k ≥ n_negatives + max positives per query, or fewer than
    n_negatives rows survive — that underflow is visible (fewer output
    rows), never silent mis-ranking.

    Scale shape: one anti-join against the positives (per-query
    positives are few — a broadcast-class build side) + one
    query-partitioned window, both over RESULT-sized rows (queries × k,
    never the corpus)."""
    from pyspark.sql import Window

    neg = candidates.join(
        positives.select(query_col, item_col).distinct(),
        [query_col, item_col],
        "left_anti",
    )
    w = Window.partitionBy(query_col).orderBy(rank_col, item_col)
    out = neg.withColumn(
        "hard_neg_rank", F.row_number().over(w).cast("int")
    )
    if n_negatives is not None:
        if n_negatives < 1:
            raise ValueError(
                f"mine_hard_negatives: n_negatives must be >= 1, "
                f"got {n_negatives}"
            )
        out = out.filter(F.col("hard_neg_rank") <= n_negatives)
    return out
