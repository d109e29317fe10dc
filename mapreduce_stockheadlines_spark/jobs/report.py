"""Corpus report: the dataset-card summary table for a document corpus —
one row per metric, computed by composing the engine's own operators.

    python -m mapreduce_stockheadlines_spark.jobs.report [--sf-dir DIR]

Metrics: corpus size (docs/chars/tokens), language distribution, quality
score quartiles, exact- and line-level duplication rates, duplicated-
span incidence (winnow pair rate), CDC chunk count/size stats, PII
incidence, URL/domain presence, classifier-score mean — every number
derived from the same operator a pipeline gate would use, so the report
IS a dry run of the curation signals.

Shape: each contributing operator is one scan/aggregation over the
corpus; the final result is a UNION of tiny (metric, value) aggregates —
at 100 TB each branch is an independent Spark job over the same cached
scan, and nothing here collects more than the report rows themselves.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import packing as PK
from ..operators import textstats as TS
from ..plans.catalog import DEFAULT_SF_DIR, parallel_table
from ..session import get_spark, local_table


def _metric(df: DataFrame, name, value) -> DataFrame:
    return df.agg(
        F.lit(name).alias("metric"), F.round(value, 4).alias("value")
    )


def corpus_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer_pieces: int | None = None,
) -> DataFrame:
    """(metric, value) rows summarizing the corpus through the engine's
    own curation signals.

    ``tokenizer_pieces`` (opt-in — the rows cost one census collect +
    three driver-side trainings, the ADVICE-r8 lesson about putting
    extra passes behind flags): self-train all three subword families
    at this budget (BPE merges / WordPiece merges / unigram pieces)
    and report each tokenizer's FERTILITY — freq-weighted pieces per
    word over the census head — the dataset-card number for comparing
    tokenizer fit to a corpus (lower = fewer pieces per word = cheaper
    sequences). Census-bounded: the corpus is scanned once for the
    (word, freq) census; training and encoding run driver-side over
    that bounded head, adding ZERO further corpus passes."""
    # the Gopher/C4 kept booleans (the documented LAST column of each
    # rule builder) ride the SAME cached projection via extra_cols —
    # as a separate gopher_c4_filter() pass they re-scanned the corpus
    # through ~15 regexes for two rate rows (ADVICE r8)
    rule_base = TS._rule_base(
        F.col(text_col) if isinstance(text_col, str) else text_col
    )
    stats = TS.text_stats(
        docs,
        id_col,
        text_col,
        extra_cols=[
            TS.gopher_rules_cols(text_col, _base=rule_base)[-1],
            TS.c4_rules_cols(text_col, _base=rule_base)[-1],
        ],
    ).cache()
    n_docs = F.count(F.lit(1)).cast("double")

    size = stats.agg(
        F.lit("n_docs").alias("metric"),
        n_docs.alias("value"),
    )
    chars = _metric(stats, "total_chars", F.sum("n_chars_obs"))
    tokens = _metric(stats, "total_ws_tokens", F.sum("n_tokens"))
    # all three quartiles as separate rows (a single row named p25_p50_
    # p75 that carried only the median was the round-5 review's finding)
    quartiles = [
        stats.agg(
            F.lit(f"quality_p{int(q * 100)}").alias("metric"),
            F.round(
                F.percentile_approx("quality", q), 4
            ).alias("value"),
        )
        for q in (0.25, 0.5, 0.75)
    ]
    # doc count collected once as a bounded scalar (the broadcast-side
    # class) so the per-language fractions need no full-partition window
    # and no 1-row crossJoin; counted off the CACHED stats frame — the
    # raw corpus is not scanned a second time for a number already in
    # hand
    total = stats.count()
    langs = (
        stats.groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("lang_frac_"), "pred_lang").alias("metric"),
            F.round(F.col("n") / F.lit(float(max(total, 1))), 4).alias(
                "value"
            ),
        )
    )
    dup = D.content_hash_dedup(docs, text_col, id_col).agg(
        F.lit("exact_dup_frac").alias("metric"),
        F.round(
            (F.sum("n_copies") - F.count(F.lit(1)))
            / F.greatest(F.sum("n_copies"), F.lit(1)),
            4,
        ).alias("value"),
    )
    pii = _metric(
        docs.select(TS.pii_count(text_col).alias("p")),
        "pii_hits_per_doc",
        F.avg("p"),
    )
    urls = _metric(
        TS.url_stats(docs, id_col, text_col),
        "docs_with_urls_frac",
        F.avg(F.when(F.col("n_urls") > 0, 1.0).otherwise(0.0)),
    )
    clf = _metric(
        TS.classifier_score(docs, id_col, text_col),
        "clf_score_mean",
        F.avg("clf_score"),
    )
    # mean cross-doc duplicated-window fraction — the substring-dedup
    # signal the --max-dup-window-fraction gate and --remove-dup-spans
    # cut act on; high values on a "deduped" corpus mean rewrapped
    # near-copies slipped past exact/MinHash removal
    dupwin = _metric(
        D.duplicated_window_fraction(docs, id_col, text_col),
        "dup_window_frac_mean",
        F.avg("dup_fraction"),
    )
    # duplicated-SPAN incidence (round 12 — the report predated the
    # winnow family): fraction of docs sharing >= 5 selected winnow
    # fingerprints with at least one other doc, the partial-overlap
    # signal the --winnow-min-shared collapse acts on. The whole-doc
    # rates above miss it: a long copied span inside otherwise original
    # docs moves neither exact_dup_frac nor MinHash similarity.
    # Always-on like the dup-window branch (one more curation signal
    # over the same corpus, staged-chars gram build), but BOUNDED like
    # the streaming sink: max_per_doc caps the index at 256 smallest
    # hashes per doc (the uncapped index is the operator's documented
    # corpus-scale hazard) and the max_df census guards the self-join.
    wpairs = TS.winnow_neardup_pairs(
        docs, id_col, text_col, min_shared=5, max_per_doc=256
    )
    winnow_rate = (
        wpairs.select(F.col("id_a").alias("_pid"))
        .unionAll(wpairs.select(F.col("id_b").alias("_pid")))
        .distinct()
        .agg(
            F.lit("winnow_pair_doc_frac").alias("metric"),
            F.round(
                F.count(F.lit(1)) / F.lit(float(max(total, 1))), 4
            ).alias("value"),
        )
    )
    # CDC chunk stats (round 12): chunks per chunked doc + chunk-size
    # quartiles at curate's --dedup-cdc-chunks/--cdc-min-size default
    # geometry — the numbers that size a chunk-digest dedup index.
    # One agg over the chunk rows; the explode unpivots all four
    # metrics out of the single 1-row aggregate (the rule_rates shape).
    chunks = PK.cdc_chunks(docs, id_col, text_col, min_size=64)
    cdc_stats = (
        chunks.agg(
            (
                F.count(F.lit(1))
                / F.greatest(F.count_distinct("id"), F.lit(1))
            ).alias("m"),
            F.percentile_approx("n_chunk_chars", 0.25).alias("p25"),
            F.percentile_approx("n_chunk_chars", 0.5).alias("p50"),
            F.percentile_approx("n_chunk_chars", 0.75).alias("p75"),
        ).select(
            F.explode(
                F.create_map(
                    F.lit("cdc_chunks_per_doc_mean"),
                    F.round(F.col("m"), 4),
                    F.lit("cdc_chunk_chars_p25"),
                    F.col("p25").cast("double"),
                    F.lit("cdc_chunk_chars_p50"),
                    F.col("p50").cast("double"),
                    F.lit("cdc_chunk_chars_p75"),
                    F.col("p75").cast("double"),
                )
            ).alias("metric", "value")
        )
    )
    # named-rule pass rates (round 8): the fraction of docs the Gopher
    # appendix-A1.1 / deterministic C4 conjunctions would keep — the
    # dataset-card numbers a --gopher-rules / --c4-rules gate acts on.
    # Both booleans were fused into the cached stats projection above,
    # so this is one agg over the cache, not a corpus re-scan;
    # unpivoted to the (metric, value) shape.
    rule_rates = (
        stats.agg(
            F.round(
                F.avg(F.when(F.col("gopher_kept"), 1.0).otherwise(0.0)), 4
            ).alias("g"),
            F.round(
                F.avg(F.when(F.col("c4_kept"), 1.0).otherwise(0.0)), 4
            ).alias("c"),
        )
        # in-plan unpivot (the profile-job shape): BOTH rows come out of
        # the single 1-row aggregate — a second select over the agg
        # would re-execute the rule projection over the corpus
        .select(
            F.explode(
                F.create_map(
                    F.lit("gopher_kept_frac"), F.col("g"),
                    F.lit("c4_kept_frac"), F.col("c"),
                )
            ).alias("metric", "value")
        )
    )
    report = size.unionAll(chars).unionAll(tokens)
    for q in quartiles:
        report = report.unionAll(q)
    report = (
        report.unionAll(langs)
        .unionAll(dup)
        .unionAll(pii)
        .unionAll(urls)
        .unionAll(clf)
        .unionAll(dupwin)
        .unionAll(winnow_rate)
        .unionAll(cdc_stats)
        .unionAll(rule_rates)
    )
    if tokenizer_pieces is not None:
        report = report.unionAll(
            _tokenizer_fertility_rows(docs, text_col, tokenizer_pieces)
        )
    report = report.orderBy("metric")
    # the report is ~a dozen rows: materialize it, then release the
    # cached per-doc stats instead of pinning executor memory for the
    # rest of the session
    rows = report.collect()
    stats.unpersist()
    return local_table(docs.sparkSession, rows, report.schema)


def _tokenizer_fertility_rows(
    docs: DataFrame, text_col: str, n_pieces: int
) -> DataFrame:
    """Three (metric, value) rows: bpe/wordpiece/unigram fertility at a
    shared training budget, from ONE census collect (the x28
    shared-census contract) + driver-side encodes of the census word
    TYPES (freq-weighted back to token fertility — no corpus pass)."""
    from ..operators import bpe as B
    from ..operators import unigram as UGo
    from ..operators import wordpiece as WPo

    if n_pieces < 1:
        # num_merges=0 would silently self-train merge-less
        # character-level tokenizers and report their fertility as if
        # they were real subword fits — the silent-misconfiguration
        # class curate()'s encode stages reject loudly (review finding)
        raise ValueError(
            f"tokenizer_pieces must be >= 1, got {n_pieces}"
        )
    rows = B.word_census(docs, text_col, 4096).collect()
    census = [(r["word"], int(r["freq"])) for r in rows]
    spark = docs.sparkSession
    tot = sum(f for _, f in census)
    if tot == 0:
        return local_table(spark, [], "metric string, value double")
    merges, _alpha = B.train_bpe(docs, text_col, n_pieces, census=census)
    ranks = {pair: i for i, pair in enumerate(merges)}
    wp_vocab, _m, _a = WPo.train_wordpiece(
        docs, text_col, n_pieces, census=census
    )
    wset = set(wp_vocab)
    uni = UGo.train_unigram(
        docs, text_col, vocab_size=n_pieces, census=census
    )
    mpl = max((len(pc) for pc in uni), default=1)

    def _uni_len(w: str) -> int:
        seg = UGo._viterbi(w, uni, mpl)
        return len(seg) if seg else len(w)  # char fallback, apply_unigram's

    sums = {"bpe": 0, "wordpiece": 0, "unigram": 0}
    for w, f in census:
        sums["bpe"] += f * len(B._encode_word(w, ranks))
        sums["wordpiece"] += f * len(WPo._encode_word_wp(w, wset))
        sums["unigram"] += f * _uni_len(w)
    return local_table(
        spark,
        [
            (f"{name}_fertility", round(v / tot, 4))
            for name, v in sorted(sums.items())
        ],
        "metric string, value double",
    )


def corpus_drift_report(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
    top_k: int = 5,
    div: DataFrame | None = None,
) -> DataFrame:
    """(metric, value) drift rows between two corpora (a new crawl vs
    the last, train vs eval, source A vs B before mixing):
    ``js_divergence`` (token-distribution Jensen-Shannon, [0, ln 2]),
    ``vocab_jaccard`` (shared-term fraction), and the ``top_k`` terms
    explaining the drift as ``js_top_<term>`` rows. Built on
    ``profile.token_divergence`` — two censuses, one vocab-sized
    full-outer join, tiny aggregates; summary semantics come from the
    shared ``profile.divergence_summary`` (one definition for this
    report AND the streaming circuit breaker). Pass ``div`` (a prebuilt
    divergence table, e.g. from a persisted census) to skip
    re-censusing the corpora."""
    from ..operators.profile import divergence_summary, token_divergence

    if div is None:
        div = token_divergence(docs_a, docs_b, text_col)
    summary = divergence_summary(div)
    total = summary.select(
        F.lit("js_divergence").alias("metric"),
        F.col("js_divergence").alias("value"),
    )
    vocab = summary.select(
        F.lit("vocab_jaccard").alias("metric"),
        F.col("vocab_jaccard").alias("value"),
    )
    top = (
        div.orderBy(F.desc("js_contrib"), F.asc("term"))
        .limit(top_k)
        .select(
            F.concat(F.lit("js_top_"), "term").alias("metric"),
            F.round("js_contrib", 4).alias("value"),
        )
    )
    return total.unionAll(vocab).unionAll(top)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument(
        "--compare-dir",
        default=None,
        help="second corpus dir: append token-distribution drift metrics "
        "(JS divergence, vocab overlap, top diverging terms) vs --sf-dir",
    )
    ap.add_argument(
        "--tokenizer-metrics",
        type=int,
        default=None,
        metavar="N",
        help="self-train BPE/WordPiece/unigram at this piece budget on "
        "the census head and report each tokenizer's fertility "
        "(freq-weighted pieces per word) — one extra census collect, "
        "no extra corpus passes",
    )
    ap.add_argument(
        "--save-census",
        default=None,
        help="also persist this corpus's token census (term, freq) as "
        "parquet at this path — the reference artifact for the "
        "streaming drift circuit breaker (drift_census_dir)",
    )
    args = ap.parse_args(argv)
    spark = get_spark("corpus-report")
    spark.sparkContext.setLogLevel("ERROR")
    docs = parallel_table(spark, args.sf_dir, "documents")
    census_a = None
    if args.save_census:
        from ..operators.profile import token_census

        token_census(docs, "text").write.mode("overwrite").parquet(
            args.save_census
        )
        # the written artifact doubles as this corpus's census — the
        # drift section below reads the vocab-sized parquet back instead
        # of re-tokenizing the whole corpus a second time
        census_a = spark.read.parquet(args.save_census)
    report = corpus_report(
        docs, "doc_id", "text", tokenizer_pieces=args.tokenizer_metrics
    )
    if args.compare_dir:
        other = parallel_table(spark, args.compare_dir, "documents")
        div = None
        if census_a is not None:
            from ..operators.profile import census_divergence, token_census

            div = census_divergence(
                census_a.withColumnRenamed("freq", "c_a"),
                token_census(other, "text").withColumnRenamed("freq", "c_b"),
            )
        report = report.unionAll(corpus_drift_report(docs, other, div=div))
    for r in report.collect():
        print(f"{r.metric}\t{r.value}")


if __name__ == "__main__":
    main()
