"""Vector-side curation pipeline: the embedding operators composed the
way a 100 TB embedding corpus is actually maintained — the companion of
jobs/pipeline.py (text side).

    embeddings
      → semantic dedup      (optional: SemDeDup k-means cells → exact
                             within-cell cosine pairs → connected
                             components → min-id representative —
                             --sem-threshold)
      → int8 quantization   (optional: symmetric max-abs codes + scale +
                             per-vector reconstruction RMSE — --quantize)
      → ANN index build     (optional: distributed Lloyd training, the
                             centroid matrix persisted as parquet next to
                             the corpus — --build-index; with
                             --index-type ivfpq also trains PQ codebooks
                             on the cell residuals and persists them to
                             <out>/pq_codebooks, the Faiss-IndexIVFPQ
                             layout; --index-type opq instead trains a
                             rotation jointly with flat PQ codebooks
                             (pq.opq_train) and persists it to
                             <out>/opq_rotation — serving auto-detects
                             the artifact and scans rotated ADC codes)
      → corpus parquet      (survivors with whatever columns the stages
                             added)

``search`` mode serves approximate top-k from a built index: it loads
the persisted centroid matrix (tiny — k×dim), takes query vectors by id
from the corpus, and runs the probe-and-rescore with NO training pass —
the serve path of an offline-built ANN index. A persisted
``<out>/pq_codebooks`` directory (written by ``--index-type ivfpq``)
switches serving to the IVFPQ ADC path automatically — the artifact is
the source of truth for what build trained.

Usage:
    python -m mapreduce_stockheadlines_spark.jobs.embed_pipeline build \
        OUT_DIR [--sf-dir DIR] [--sem-threshold 0.95] [--n-clusters 16] \
        [--quantize] [--build-index] [--n-centroids 16] [--train-iters 2]
    python -m mapreduce_stockheadlines_spark.jobs.embed_pipeline search \
        OUT_DIR --query-ids 0,1,2 [--k 10] [--n-probe 4]
    python -m mapreduce_stockheadlines_spark.jobs.embed_pipeline eval \
        OUT_DIR --query-ids 0,1,2 [--k 10] [--n-probe 4]

``eval`` mode runs the same serve path AND exact brute force on the
query set, then prints per-query recall@k / reciprocal rank plus macro
means (``similarity.topk_eval``) — the index acceptance gate.
"""

from __future__ import annotations

import argparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import embeddings as EB
from ..operators import similarity as S
from ..plans.catalog import DEFAULT_SF_DIR, table
from ..session import get_spark, local_table


def curate_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sem_threshold: float | None = None,
    n_clusters: int = 16,
    train_iters: int = 2,
    quantize: bool = False,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Semantic dedup (optional) then int8 quantization (optional) over
    an embedding frame; stages are DataFrame→DataFrame and default off,
    mirroring jobs/pipeline.curate's composition contract."""
    if sem_threshold is not None:
        emb = S.semantic_dedup(
            emb,
            id_col,
            vec_col,
            threshold=sem_threshold,
            n_clusters=n_clusters,
            train_iters=train_iters,
            reliable_checkpoint=reliable_checkpoint,
        )
    if quantize:
        emb = EB.quantize_embeddings(emb, id_col, vec_col)
        emb = EB.quantization_error(emb, vec_col, "qvec", "scale")
    return emb


def build_index(
    emb: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 2,
) -> None:
    """Train IVF centroids (distributed Lloyd, one corpus pass per
    iteration) and persist the index: ``<out>/centroids`` holds the
    k×dim matrix as (cell, centroid) rows — driver-tiny, the only
    collected artifact — so ``search`` serves without retraining."""
    spark = emb.sparkSession
    cent = S.kmeans_centroids(
        emb, id_col, vec_col, k=n_centroids, n_iters=train_iters
    )
    save_centroids(spark, cent, out_dir)


def save_centroids(spark: SparkSession, cent, out_dir: str) -> None:
    """ONE writer for the centroid artifact (build AND refit go through
    it — two hand-synced copies of the schema would let a future change
    make them write incompatible artifacts that load_centroids masks
    until serve time)."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]
    local_table(
        spark, rows, "cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{out_dir}/centroids")


def load_centroids(spark: SparkSession, out_dir: str) -> np.ndarray:
    pdf = (
        spark.read.parquet(f"{out_dir}/centroids")
        .orderBy("cell")
        .toPandas()
    )
    return np.stack([np.asarray(v, dtype="float64") for v in pdf["centroid"]])


def save_codebooks(spark: SparkSession, codebooks, out_dir: str) -> None:
    """ONE writer for the IVFPQ codebook artifact (the save_centroids
    one-writer rule applied to the second index artifact — an ad-hoc
    writer and reader in different CLI branches could drift apart
    silently)."""
    cb = np.asarray(codebooks, dtype="float64")
    rows = [
        (int(j), int(c), [float(x) for x in cb[j, c]])
        for j in range(cb.shape[0])
        for c in range(cb.shape[1])
    ]
    local_table(
        spark, rows, "sub int, cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{out_dir}/pq_codebooks")


def load_codebooks(spark: SparkSession, out_dir: str) -> np.ndarray:
    pdf = (
        spark.read.parquet(f"{out_dir}/pq_codebooks")
        .orderBy("sub", "cell")
        .toPandas()
    )
    mm = int(pdf["sub"].max()) + 1
    kk = int(pdf["cell"].max()) + 1
    return np.stack(
        [np.asarray(v, dtype="float64") for v in pdf["centroid"]]
    ).reshape(mm, kk, -1)


def _codebooks_dir_exists(out_dir: str) -> bool:
    import os

    return os.path.isdir(f"{out_dir}/pq_codebooks")


def _drop_codebooks(out_dir: str) -> None:
    """Remove a stale pq_codebooks artifact: rebuilding with a plain
    IVF index (or any path that changes the coarse centroids) makes
    residual codebooks trained under the OLD centroids wrong — serving
    must not auto-detect them."""
    import shutil

    shutil.rmtree(f"{out_dir}/pq_codebooks", ignore_errors=True)


def save_rotation(spark: SparkSession, rotation, out_dir: str) -> None:
    """ONE writer for the OPQ rotation artifact (the save_centroids
    one-writer rule; serving auto-detects this directory and switches
    to the rotated-ADC path)."""
    rr = np.asarray(rotation, dtype="float64")
    rows = [(int(i), [float(x) for x in rr[i]]) for i in range(rr.shape[0])]
    local_table(spark, rows, "row int, vec array<double>").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/opq_rotation")


def load_rotation(spark: SparkSession, out_dir: str) -> np.ndarray:
    pdf = (
        spark.read.parquet(f"{out_dir}/opq_rotation")
        .orderBy("row")
        .toPandas()
    )
    return np.stack([np.asarray(v, dtype="float64") for v in pdf["vec"]])


def _rotation_dir_exists(out_dir: str) -> bool:
    import os

    return os.path.isdir(f"{out_dir}/opq_rotation")


def _drop_rotation(out_dir: str) -> None:
    """Remove a stale opq_rotation artifact: an IVF/IVFPQ rebuild's
    codebooks are trained in the UNROTATED space — serving must not
    auto-rotate against them."""
    import shutil

    shutil.rmtree(f"{out_dir}/opq_rotation", ignore_errors=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("mode", choices=["build", "search", "eval", "refit"])
    ap.add_argument("out_dir")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--sem-threshold", type=float, default=None,
                    help="semantic-dedup cosine threshold (off when unset)")
    ap.add_argument("--n-clusters", type=int, default=16,
                    help="k-means cells for semantic dedup")
    ap.add_argument("--pca-k", type=int, default=None,
                    help="build mode: PCA-project embeddings to k dims "
                         "before dedup/quantize/indexing (fit persisted "
                         "to <out>/pca; search queries come from the "
                         "projected corpus, so no re-projection needed)")
    ap.add_argument("--quantize", action="store_true",
                    help="attach int8 codes + scale + reconstruction rmse")
    ap.add_argument("--build-index", action="store_true",
                    help="train + persist IVF centroids for search mode")
    ap.add_argument("--index-type", choices=["ivf", "ivfpq", "opq"],
                    default="ivf",
                    help="build mode: plain IVF (exact within-cell "
                         "rescore) or IVFPQ (PQ codebooks on residuals, "
                         "ADC candidate ranking — persisted to "
                         "<out>/pq_codebooks; search/eval auto-detect "
                         "it and serve the IVFPQ path)")
    ap.add_argument("--pq-m", type=int, default=4,
                    help="IVFPQ subspace count (dim must divide by it)")
    ap.add_argument("--pq-ksub", type=int, default=16,
                    help="IVFPQ per-subspace codebook size")
    ap.add_argument("--n-centroids", type=int, default=16)
    ap.add_argument("--train-iters", type=int, default=2)
    ap.add_argument("--profile", action="store_true",
                    help="build mode: print the embedding-column profile "
                         "(dims, norm quartiles, zero-vec rate) before "
                         "any vector work — the ragged-corpus / "
                         "unnormalized-corpus sanity gate")
    ap.add_argument("--query-ids", default="0",
                    help="search mode: comma-separated corpus vector ids")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-probe", type=int, default=None,
                    help="IVF/IVFPQ cells probed per query (default 4). "
                         "Not applicable to an OPQ flat-ADC index — "
                         "passing it there prints a loud notice instead "
                         "of being silently ignored")
    ap.add_argument("--moments-dir", default=None,
                    help="refit mode: versioned (cell, dim) moment "
                         "artifact maintained by kmeans_ingest_sink "
                         "AGAINST the currently-served centroids; after "
                         "the refit, point the sink at a fresh artifact "
                         "dir (one artifact generation per index "
                         "generation)")
    args = ap.parse_args(argv)
    # None = "not explicitly set" (the OPQ-path notice keys on it);
    # every probing path gets the historical default of 4
    n_probe = 4 if args.n_probe is None else args.n_probe

    spark = get_spark("embed-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    if args.mode == "refit":
        # roll the serving index to its next Lloyd update from the
        # streaming moment artifact — k x dim numbers, the stream is
        # never re-read; the new centroids overwrite <out>/centroids so
        # search/eval serve the rolled index immediately
        from ..operators.similarity import kmeans_refit
        from ..sources.versioned import read_table

        if not args.moments_dir:
            raise SystemExit("refit mode requires --moments-dir")
        if _rotation_dir_exists(args.out_dir):
            raise SystemExit(
                "refit mode rolls coarse CENTROIDS; an OPQ index has "
                "none — its codebooks live in the rotated space and a "
                "kmeans refit does not apply. Rebuild with "
                "--index-type opq (or maintain the codebooks via "
                "pq_ingest_sink + pq.pq_refit over rotated vectors)."
            )
        if _codebooks_dir_exists(args.out_dir):
            raise SystemExit(
                "refit mode would roll the coarse centroids under an "
                "IVFPQ index, leaving pq_codebooks trained on residuals "
                "of the RETIRED centroids — serving would silently rank "
                "with a mismatched index. Rebuild with --index-type "
                "ivfpq instead (or maintain the codebooks themselves "
                "via pq_ingest_sink + pq.pq_refit and rebuild the "
                "coarse level offline)."
            )
        cent = load_centroids(spark, args.out_dir)
        moments = read_table(spark, args.moments_dir).select(
            "cell_id", "dim", "s_fp", "n"
        )
        new = kmeans_refit(moments, cent)
        save_centroids(spark, new, args.out_dir)
        moved = int((new != cent).any(axis=1).sum())
        print(f"refit: {moved}/{len(new)} centroids moved -> "
              f"{args.out_dir}/centroids")
        return

    if args.mode == "build":
        emb = table(spark, args.sf_dir, "embeddings")
        if args.profile:
            from ..operators.profile import profile_embeddings

            prof = profile_embeddings(emb, "embedding").collect()[0]
            for k, v in prof.asDict().items():
                print(f"profile.{k}\t{v}")
        if args.pca_k is not None:
            mean, comps, ev = EB.pca_fit(
                emb, "embedding", k=args.pca_k, return_variance=True
            )
            print(f"pca.k\t{args.pca_k}\tpca.explained_variance\t{round(ev, 4)}")
            emb = (
                EB.pca_project(emb, "embedding", mean, comps, out_col="_pca")
                .drop("embedding")
                .withColumnRenamed("_pca", "embedding")
                # materialize the projection ONCE: semantic dedup's
                # k-means rounds and IVF training rescan the frame, and
                # each rescan would otherwise re-run the Arrow
                # projection UDF over the full corpus
                .localCheckpoint()
            )
            rows = [(-1, [float(x) for x in mean])] + [
                (i, [float(x) for x in c]) for i, c in enumerate(comps)
            ]
            local_table(
                spark, rows, "row int, vec array<double>"
            ).write.mode("overwrite").parquet(f"{args.out_dir}/pca")
        out = curate_embeddings(
            emb,
            sem_threshold=args.sem_threshold,
            n_clusters=args.n_clusters,
            train_iters=args.train_iters,
            quantize=args.quantize,
        )
        out.write.mode("overwrite").parquet(f"{args.out_dir}/corpus")
        if args.build_index:
            kept = spark.read.parquet(f"{args.out_dir}/corpus")
            if args.index_type == "opq":
                from ..operators import pq as PQO

                _drop_rotation(args.out_dir)
                rot, cbooks = PQO.opq_train(
                    kept,
                    m=args.pq_m,
                    ksub=args.pq_ksub,
                    n_iters=args.train_iters,
                    pq_iters=args.train_iters,
                )
                save_rotation(spark, rot, args.out_dir)
                save_codebooks(spark, cbooks, args.out_dir)
            elif args.index_type == "ivfpq":
                from ..operators import pq as PQO

                _drop_rotation(args.out_dir)
                coarse, cbooks = PQO.ivfpq_train(
                    kept,
                    n_centroids=args.n_centroids,
                    coarse_iters=args.train_iters,
                    m=args.pq_m,
                    ksub=args.pq_ksub,
                    pq_iters=args.train_iters,
                )
                save_centroids(spark, coarse, args.out_dir)
                save_codebooks(spark, cbooks, args.out_dir)
            else:
                # leftover pq_codebooks / opq_rotation artifacts from a
                # previous IVFPQ/OPQ build would make serving
                # auto-detect an index whose codebooks no longer match
                # what is written below — drop them
                _drop_codebooks(args.out_dir)
                _drop_rotation(args.out_dir)
                build_index(
                    kept,
                    args.out_dir,
                    n_centroids=args.n_centroids,
                    train_iters=args.train_iters,
                )
        n = spark.read.parquet(f"{args.out_dir}/corpus").count()
        print(f"kept {n} vectors -> {args.out_dir}/corpus")
    else:
        corpus = spark.read.parquet(f"{args.out_dir}/corpus")
        ids = [int(x) for x in args.query_ids.split(",")]
        queries = corpus.filter(F.col("vec_id").isin(ids))
        # a persisted opq_rotation directory marks an OPQ index: serve
        # the rotated flat-ADC path (artifact-is-source-of-truth, like
        # the pq_codebooks detection below; --n-probe does not apply —
        # the flat index scans codes, there are no cells to probe)
        if _rotation_dir_exists(args.out_dir):
            from ..operators import pq as PQO

            if args.n_probe is not None:
                # a user tuning --n-probe against an OPQ index would
                # otherwise see unchanged results with no signal
                # (round-10 review finding)
                print(
                    f"notice: --n-probe {args.n_probe} ignored — this "
                    "is an OPQ flat-ADC index (codes are scanned, "
                    "there are no cells to probe)"
                )
            rot = load_rotation(spark, args.out_dir)
            cbooks = load_codebooks(spark, args.out_dir)
            print(
                f"serving OPQ (m={cbooks.shape[0]}, "
                f"ksub={cbooks.shape[1]}, rotated flat ADC)"
            )
            hits = PQO.pq_adc_topk(
                PQO.rotate_vectors(queries, rot),
                PQO.rotate_vectors(corpus, rot),
                cbooks,
                vec_col="vr",
                k=args.k,
            ).orderBy("query_id", "rank")
        # a persisted pq_codebooks directory marks an IVFPQ index: serve
        # the ADC path (the artifact is the source of truth — no flag to
        # fall out of sync with what build actually trained; build's ivf
        # branch and refit mode both guard against it going stale)
        elif _codebooks_dir_exists(args.out_dir):
            cent = load_centroids(spark, args.out_dir)
            from ..operators import pq as PQO

            cbooks = load_codebooks(spark, args.out_dir)
            print(
                f"serving IVFPQ (m={cbooks.shape[0]}, "
                f"ksub={cbooks.shape[1]})"
            )
            hits = PQO.ivfpq_topk(
                queries, corpus, cent, cbooks, k=args.k,
                n_probe=n_probe,
            ).orderBy("query_id", "rank")
        else:
            hits = S.ivf_topk(
                queries,
                corpus,
                k=args.k,
                n_probe=n_probe,
                centroids=load_centroids(spark, args.out_dir),
            ).orderBy("query_id", "rank")
        if args.mode == "search":
            # IVF rows carry a cosine sim; IVFPQ rows carry the
            # fixed-point ADC distance — print whichever score the
            # serving path produced
            score_col = "sim" if "sim" in hits.columns else "adc_fp"
            for r in hits.collect():
                print(
                    f"{r.query_id}\t{r.rank}\t{r.neighbor_id}\t"
                    f"{r[score_col]}"
                )
            return
        # eval: measure THIS index configuration (centroids + n_probe)
        # against exact brute force on the same queries — recall@k and
        # MRR per query plus macro means. The acceptance step before
        # trusting an index at scale; tune --n-probe until the recall
        # meets the bar.
        exact = S.cosine_topk(queries, corpus, k=args.k)
        ev = S.topk_eval(hits, exact).orderBy("query_id")
        rows = ev.collect()
        for r in rows:
            print(
                f"{r.query_id}\trecall={r.recall}\t"
                f"first_hit_rank={r.first_hit_rank}\trr={r.reciprocal_rank}"
            )
        n = max(len(rows), 1)
        print(
            f"macro\trecall={round(sum(r.recall for r in rows) / n, 4)}\t"
            f"mrr={round(sum(r.reciprocal_rank for r in rows) / n, 4)}"
        )


if __name__ == "__main__":
    main()
