"""Scale-stress the extension operators on an N×-replicated corpus.

The fixture `documents` table is 5k rows at sf0.1 — small enough that
any plan looks fine.  This staged corpus (distinct doc_ids, same text
distribution → heavy duplicate density, the worst case for LSH bucket
sizes) checks that the dedup/fingerprint/similarity plans hold up when
the data is 2-3 orders of magnitude bigger than the fixtures.

Usage: python tools/stress_extensions.py [sf_dir] [--scale N]
Prints one JSON line: {op: seconds}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_vs_reference import parse_args, scale_corpus  # noqa: E402


def main() -> None:
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.extensions.dedup import (
        lsh_candidate_pairs,
    )
    from airflow_embeddings_pipeline_spark.extensions.text import (
        rolling_kgram_hashes,
        winnow_from_hashes,
    )
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    argv = sys.argv[1:]
    only = None
    if "--ops" in argv:
        i = argv.index("--ops")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    sf_dir, scale = parse_args(argv)
    if scale == 1:
        scale = 100  # this tool's whole point is the scaled corpus

    staged = scale_corpus(sf_dir, scale)
    spark = get_spark("stress-extensions")
    docs = load_table(spark, staged, "documents")
    n = docs.count()

    timings: dict[str, float] = {}

    def run(name, df):
        if only is not None and name not in only:
            return
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    # the engine's actual exact-dedup key (normalized-content md5,
    # extensions/text.py:fingerprint), not a bare md5
    from airflow_embeddings_pipeline_spark.extensions.text import fingerprint

    run(
        "exact_dedup_fingerprint",
        docs.select(fingerprint("text").alias("fp")).groupBy("fp").count(),
    )
    run(
        "winnow_fingerprint_md5",
        docs.select("doc_id", rolling_kgram_hashes("text").alias("h")).select(
            "doc_id", winnow_from_hashes(F.col("h")).alias("fp")
        ),
    )
    run(
        "winnow_fingerprint_xxhash",
        docs.select(
            "doc_id", rolling_kgram_hashes("text", fast=True).alias("h")
        ).select("doc_id", winnow_from_hashes(F.col("h")).alias("fp")),
    )
    # Realistic pipeline order: exact dedup first (the replicated
    # corpus is exact-dup clusters; their O(n²) pairs belong to the
    # cheap exact pass), THEN LSH over *mutated* near-duplicates (a
    # version-suffix token per replica → clusters of ~7 near-dup
    # variants), degenerate buckets capped.
    mutated = docs.withColumn(
        "text", F.concat("text", F.lit(" rev"), (F.col("doc_id") % 7).cast("string"))
    )
    distinct_docs = mutated.dropDuplicates(["text"])
    run(
        "minhash_lsh_pairs_post_exact",
        lsh_candidate_pairs(
            distinct_docs,
            id_col="doc_id",
            text_col="text",
            block_col="source",
            max_bucket_size=256,
        ),
    )
    run(
        "minhash_lsh_pairs_xxhash",
        lsh_candidate_pairs(
            distinct_docs,
            id_col="doc_id",
            text_col="text",
            block_col="source",
            max_bucket_size=256,
            fast=True,
        ),
    )
    # Wide simhash on a SINGLE-source corpus (no blocking): the 4×16-bit
    # bands give 2^16 values per band, so bucket sizes stay ~n/65536
    # and pair emission stays bounded even with every doc in one block
    # — the degenerate case the 16-bit nibble tier could not survive.
    from airflow_embeddings_pipeline_spark.extensions.dedup import (
        simhash_near_dup_pairs,
        simhash_wide_agg,
        token_hashes,
    )

    sims = simhash_wide_agg(
        mutated.select("doc_id", token_hashes("text", fast=True).alias("th")),
        ["doc_id"],
        "th",
        width=64,
    )
    run(
        "simhash64_near_dup_single_source",
        simhash_near_dup_pairs(
            sims, id_col="doc_id", simhash_col="sim", max_hamming=3,
            num_bands=4, band_bits=16, max_bucket_size=1024,
        ),
    )
    # Components over the near-dup pairs (the full dedup decision
    # path: fingerprint → banded buckets → pairs → clusters).  The
    # iterative part is driver-looped with checkpointed lineage; rounds
    # = O(log diameter) via pointer jumping.
    from airflow_embeddings_pipeline_spark.extensions.dedup import (
        connected_components,
    )

    if only is None or "dedup_clusters_from_simhash64" in only:
        import tempfile

        t0 = time.perf_counter()
        wide_pairs = simhash_near_dup_pairs(
            sims, id_col="doc_id", simhash_col="sim", max_hamming=3,
            num_bands=4, band_bits=16, max_bucket_size=1024,
        )
        # reliable checkpoints from x400 up: in-memory lineage stacks
        # each pointer-jump round on the full pair-generation DAG and
        # OOMs the single JVM (measured; BASELINE.md x400 boundary note)
        ckpt = tempfile.mkdtemp(prefix="cc_ckpt_") if scale >= 400 else None
        n_clustered = connected_components(
            wide_pairs, "id_a", "id_b", checkpoint_dir=ckpt
        ).count()
        timings["dedup_clusters_from_simhash64"] = round(
            time.perf_counter() - t0, 2
        )
        print(
            f"# dedup_clusters_from_simhash64: "
            f"{timings['dedup_clusters_from_simhash64']}s "
            f"({n_clustered} clustered docs)",
            file=sys.stderr,
        )

    # Same decision path through fingerprint contraction: pairs + CC run
    # over DISTINCT fingerprints (bounded by corpus entropy, not size),
    # members inherit the representative's cluster by fingerprint join.
    from airflow_embeddings_pipeline_spark.extensions.dedup import (
        contracted_simhash_clusters,
    )

    if only is None or "dedup_clusters_contracted" in only:
        t0 = time.perf_counter()
        n_labeled = contracted_simhash_clusters(
            sims, id_col="doc_id", simhash_col="sim", max_hamming=3,
            num_bands=4, band_bits=16, max_bucket_size=1024,
        ).count()
        timings["dedup_clusters_contracted"] = round(time.perf_counter() - t0, 2)
        print(
            f"# dedup_clusters_contracted: "
            f"{timings['dedup_clusters_contracted']}s "
            f"({n_labeled} labeled docs)",
            file=sys.stderr,
        )

    q = get_catalog()["x_group_centroids"]
    run("group_centroids", q.build(spark, staged))

    # Curation battery over the staged corpus.  Note decontamination's
    # benchmark side here grows with the corpus (doc_id % 97), which
    # overstates the broadcast: a real eval set is fixed-size external
    # data, so the broadcast stays O(benchmark), not O(corpus).
    for name in (
        "x_decontaminate",
        "x_unigram_logprob",
        "x_sequence_pack",
        "x_quality_filter_battery",
        # r4: cross-doc boilerplate removal (explode + count + anti),
        # bigram LM (pair explode + 2 hash aggs), hashing-trick
        # featurizer (explode + 64 conditional sums), one-plan corpus
        # funnel (window + agg), dataset card (window + agg + exact
        # percentiles)
        "x_boilerplate_removal",
        # r5: the two vocabulary-broadcast queries whose forced hints
        # were dropped by the entropy-scaling lint sweep — stressed
        # here to confirm the AQE-chosen plan holds when the df /
        # unigram tables grow with the staged corpus
        "x_tfidf_top_terms",
        "x_word_pmi",
        "x_bigram_lm_logprob",
        "x_feature_hashing",
        "x_corpus_refresh_e2e",
        "x_dataset_card",
        # perceptual-hash image near-dup: map-only hashing + banded
        # bucket shuffle over N× the payloads
        "x_media_phash_near_dup",
    ):
        run(name, get_catalog()[name].build(spark, staged))

    # Prefix-filtered exact Jaccard join over the post-exact-dedup
    # mutated corpus: ~7-variant near-dup clusters (every pair a true
    # match) — heavy TRUE-pair load, the regime where candidate
    # generation cost is irreducible.  Rare-first prefixes keep posting
    # lists short despite the 40-word fixture vocabulary.
    from airflow_embeddings_pipeline_spark.extensions.dedup_queries import (
        setsim_prefix_join,
    )

    run(
        "setsim_prefix_join_post_exact",
        setsim_prefix_join(distinct_docs, threshold=0.8, encode_ids=True),
    )
    # the ×1000 attribution (tools/probe_quad_growth.py): the shipped
    # shape's growth is RECOMPUTATION of the exact pass (the plan
    # references the set representation 4×); persisting the
    # entropy-bounded survivor sets is the production shape
    run(
        "setsim_prefix_join_persisted_sets",
        setsim_prefix_join(
            distinct_docs, threshold=0.8, encode_ids=True, persist_sets=True
        ),
    )

    # Retrieval + curation tier over the staged corpus/embeddings:
    # BM25 (posting-free HOF term frequencies), PQ-ANN (encode 100×
    # the vectors + broadcast-ADC query), and the bucketed token
    # budget cut (the no-global-sort running total).
    for name in ("x_bm25_retrieval", "x_ann_pq", "x_token_budget_cut"):
        run(name, get_catalog()[name].build(spark, staged))

    # r4 additions: trained PQ (adds the one-Lloyd-step training pass
    # over the full staged vector corpus before encode+ADC) and the
    # SymSpell deletion-neighborhood fuzzy join (posting-list equi-join
    # over the replicated-with-distinct-names customer table).
    # r6 adds the two scale tiers next to their string/HOF siblings:
    # trained-PQ with numpy encode, SymSpell with hashed candidate keys
    for name in ("x_ann_pq_trained", "x_ann_pq_trained_fast"):
        run(name, get_catalog()[name].build(spark, staged))
    # SymSpell is stressed as the OPERATOR (unsorted output) — the
    # catalog wrappers add a global orderBy solely for the oracle hash
    # comparator, and a corpus-sized global sort is not part of the
    # operator's production shape (r7: sort moved out of the operator)
    from airflow_embeddings_pipeline_spark.extensions.dedup_queries import (
        symspell_fuzzy_join,
    )

    sym_cust = load_table(spark, staged, "customer").select(
        "c_custkey", "c_name"
    )
    run("x_symspell_fuzzy_join", symspell_fuzzy_join(sym_cust))
    run(
        "x_symspell_fuzzy_join_fast",
        symspell_fuzzy_join(sym_cust, encode_ids=True),
    )

    # Sign-LSH at the production 0.8 threshold, in the realistic
    # pipeline order (same rationale as the MinHash stress above): the
    # replicated corpus is exact-duplicate clusters of ~`scale` copies,
    # whose O(scale²) bucket pairs belong to the CHEAP exact pass —
    # running banded LSH straight over them floods the verify join by
    # design (measured: >80 GB spill at ×100).  So: jitter each copy
    # into one of 7 deterministic near-dup variants, exact-dedup on the
    # vector (one shuffle over the full corpus), THEN sign-LSH + exact
    # cosine verify over the ~7-variant clusters at production params.
    if only is None or "signlsh_t08_post_exact" in only:
        from airflow_embeddings_pipeline_spark.extensions.dedup import (
            simhash_near_dup_pairs as _sh_pairs,
        )
        from airflow_embeddings_pipeline_spark.extensions.similarity import (
            _as_double,
            dot,
            hyperplane_planes,
            hyperplane_signature,
            l2_norm,
        )

        emb = load_table(spark, staged, "embeddings")
        jit = emb.select(
            "vec_id",
            F.transform(
                _as_double(F.col("embedding")),
                lambda x, i: x
                + 0.02 * ((((F.col("vec_id") % 7) * 31 + i) % 7) - 3),
            ).alias("v"),
        )
        survivors = jit.dropDuplicates(["v"])  # exact pass: ~7 variants/base
        planes = hyperplane_planes(32, 64)
        sigs = survivors.select(
            "vec_id", hyperplane_signature("v", planes).alias("sim")
        )
        cands = _sh_pairs(
            sigs, id_col="vec_id", simhash_col="sim",
            max_hamming=32, num_bands=4, band_bits=8, pair_mode="join",
        )
        normed = survivors.select(
            "vec_id",
            F.transform("v", lambda x: x / l2_norm(F.col("v"))).alias("u"),
        )
        a = normed.select(F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
        b = normed.select(F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a", "id_b",
                F.round(dot(F.col("ua"), F.col("ub")), 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= 0.8)
        )
        run("signlsh_t08_post_exact", verified)

    print(
        json.dumps(
            {"n_documents": n, "scale_x": scale, "timings_sec": timings}
        )
    )


if __name__ == "__main__":
    main()
