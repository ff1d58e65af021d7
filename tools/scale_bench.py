"""Scaling slope measurement for the flagship scale claims.

VERDICT r4 #8: run the five flagship operators at sf0.1 and at the
10×/100× replicas built by tools/make_scale.py, and report wall time
plus the observed scaling exponent alpha (t ~ n^alpha between
consecutive sizes). Near-linear alpha is the empirical counterpart of
the plan audit's "no scale-killer" claim.

Operator parameters that a real deployment would scale WITH the data
scale here too, and are reported alongside:
- knn_join_ivf's num_cells grows with the corpus (constant ~500-vector
  cells — the IVF contract; fixed cells at 10× data would time O(n²/C)
  cell scoring, which no operator contract promises);
- the TPC-H representative is q5 (region revenue: lineitem × 5
  FK-consistent dims), NOT q9 — q9's derived partsupp assigns
  suppliers by ``% COUNT(supplier)`` over the WHOLE replicated
  supplier set, so replicated lineitem (partkey, suppkey) pairs match
  it at a constant 1× rate and the join's output side never grows
  (measured: identical match count at 1× and 10×) — its slope would
  measure a degenerate join, not the operator;
- everything else runs with the bench.py parameters unchanged.

Timing protocol differs from bench.py's steady-state protocol on
purpose: every op here is timed END-TO-END (construction + one full
materialization) with ``spark.catalog.clearCache()`` before each of
the three timed repetitions, best-of-three reported. bench.py's
warm-cache protocol would let an op with an internal persist
(set_similarity_join's sets table) serve every timed run from the
cold run's cache, silently excluding the corpus-linear extraction
stage — the exact term whose slope this tool exists to certify.

Usage: python tools/scale_bench.py [sf_dir ...]
       (default: /root/testdata/sf0.1 /root/repo/.scale/sf1)
       SCALE_OPS=a,b,c restricts to the named ops (re-measuring one
       op after a change without re-running the suite).
Prints one JSON line per (query, sf_dir) and a final summary line.
PIPPIN_DRIVER_MEM=16g is a sensible override for the 100× replica.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        "/root/repo/.scale/sf1",
    ]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from pippin_spark import get_spark
    from pippin_spark.operators import dedup as DEDUP
    from pippin_spark.operators import similarity as SIM
    from pippin_spark.operators.packing import pack_sequences
    from pippin_spark.entry_queries import ENTRY_QUERIES
    from pippin_spark.pipeline import Pipeline

    spark = get_spark("pippin-scale-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def minhash(spark, d):
        docs = Pipeline.from_table(spark, d, "documents").df
        return DEDUP.dedup_minhash_lsh(
            docs, "text", "doc_id", n=3, num_hashes=64, bands=16,
            threshold=0.5,
        )

    def set_join(spark, d):
        # the declared set_join_jaccard_docs construction: hashed
        # 3-gram shingles (one Arrow pass) -> PPJoin prefix filtering
        docs = Pipeline.from_table(spark, d, "documents").df
        shingled = DEDUP.shingle_hashes(
            docs.select("doc_id", "text"), "text", n=3, out_col="sh"
        )
        return DEDUP.set_similarity_join(shingled, "doc_id", "sh", 1, 2)

    def knn_ivf(spark, d):
        emb = Pipeline.from_table(spark, d, "embeddings").df
        n = emb.count()
        cells = max(4, n // 500)
        return SIM.knn_join_ivf(
            emb, "embedding", "vec_id", k=3, num_cells=cells, train_iters=2
        )

    def pack(spark, d):
        docs = Pipeline.from_table(spark, d, "documents").df
        toks = F.split(F.col("text"), r"\s+")
        n_tok = F.size(F.filter(toks, lambda x: x != "")).cast("bigint")
        tc = docs.select("doc_id", n_tok.alias("n_tok"))
        return pack_sequences(
            tc, "doc_id", F.col("n_tok"), target_len=2048, num_shards=8
        )

    def q5(spark, d):
        return ENTRY_QUERIES["q5_region_revenue"](spark, d)

    def winnow(spark, d):
        # winnowing (MOSS) fingerprints — the op whose r3 perf-weak
        # fix (numpy sliding-min in one Arrow pass) must hold at scale
        docs = Pipeline.from_table(spark, d, "documents").df
        return DEDUP.winnow_fingerprints(docs, "text", "doc_id", k=5, window=10)

    def pretrain(spark, d):
        # the declared end-to-end composition: length gate -> exact
        # dedup (digest shuffle + semi join) -> greedy sequence
        # packing -> shard/seq rollup
        return ENTRY_QUERIES["pretrain_prep_e2e"](spark, d)

    def span_scrub(spark, d):
        # the Lee et al. rewrite step: duplicated-window detection ->
        # interval merge -> per-doc re-concatenation
        docs = Pipeline.from_table(spark, d, "documents").df
        return DEDUP.dedup_span_scrub(docs, "text", "doc_id")

    def clf_train(spark, d):
        # exact-integer logistic regression: featurize once (cached),
        # 8 GD iterations of one-scan + 64-column partial aggregate
        return ENTRY_QUERIES["quality_classifier_train"](spark, d)

    def clf_scrub(spark, d):
        # the full curation composition: train -> score corpus ->
        # exact-median gate (2-pass histogram) -> span-scrub survivors
        return ENTRY_QUERIES["classifier_scrub_e2e"](spark, d)

    def dsir(spark, d):
        # generative selection: one tokenize pass, dim-row histograms,
        # broadcast ratio join, exact top-quartile threshold
        return ENTRY_QUERIES["dsir_select_docs"](spark, d)

    def hardneg(spark, d):
        # hard-negative mining in its documented regime: a BOUNDED
        # anchor set (~80, stride grows with the corpus) broadcast
        # against the full corpus — the slope measures the corpus pass,
        # not an anchors×corpus quadratic the contract never promises
        emb = Pipeline.from_table(spark, d, "embeddings").df
        n = emb.count()
        stride = max(25, n // 80)
        anchors = emb.filter(F.col("vec_id") % stride == 0)
        return SIM.hard_negative_topk(
            emb, anchors, "embedding", "vec_id", "label", k=5
        )

    def shuffle_order(spark, d):
        # deterministic global training shuffle: one range exchange +
        # offset broadcast (ranked_sort) over the documents table
        return ENTRY_QUERIES["shuffle_order_docs"](spark, d)

    def pack_bins(spark, d):
        # no-split next-fit packing: sequential per shard, so the
        # shard count scales with the corpus (~600 docs per shard —
        # the parallelism contract; fixed shards at 100x data would
        # time a 60k-doc sequential fold no deployment would run)
        from pippin_spark.operators.packing import pack_bins_nextfit

        docs = Pipeline.from_table(spark, d, "documents").df
        n = docs.count()
        shards = max(8, n // 600)
        return pack_bins_nextfit(
            docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
            target_len=2048, num_shards=shards,
        )

    def hardneg_ivf(spark, d):
        # the UNBOUNDED-anchor regime (every corpus vector an anchor)
        # routed through IVF cells with the cross-label mask — the
        # escape hatch hard_negative_topk documents; cells scale with
        # the corpus like knn_join_ivf (~500-vector cells)
        emb = Pipeline.from_table(spark, d, "embeddings").df
        n = emb.count()
        cells = max(4, n // 500)
        return SIM.hard_negative_ivf(
            emb, "embedding", "vec_id", "label",
            k=3, num_cells=cells, train_iters=2,
        )

    def hardneg_ivf_prebuilt(spark, d):
        # probe-only arm of the same regime against a PERSISTED labeled
        # index (build-if-missing runs once per replica dir, outside
        # the timed reps after the cold rep): the delta vs the
        # hard_negative_ivf row is what build-once/query-many buys a
        # training loop at corpus scale. Same scale-derived cell count.
        import os

        emb = Pipeline.from_table(spark, d, "embeddings").df
        n = emb.count()
        cells = max(4, n // 500)
        base = os.path.basename(os.path.normpath(d))
        # kept across runs on purpose (a 100x build is slow), keyed on
        # the embeddings-file mtime so a regenerated replica dir under
        # the same name can never serve a stale index (ADVICE r8)
        mt = int(os.path.getmtime(f"{d}/embeddings.parquet"))
        path = f"/tmp/pippin_hn_scale_{base}_{cells}_{mt}"
        if not os.path.exists(f"{path}/assigned"):
            SIM.ann_index_write(
                emb, "embedding", "vec_id", path, num_cells=cells,
                train_iters=2, train_mode="sample", extra_cols=("label",),
            )
        return SIM.hard_negative_ivf_prebuilt(spark, path, "label", k=3)

    def ivfpq_prebuilt(spark, d):
        # probe-only arm of the persisted IVF-PQ index: the ADC scan
        # reads (id, codes) from the probed cells' directories only;
        # build-if-missing runs once per replica (mtime-keyed so a
        # regenerated replica never serves a stale index). Cell count
        # scales with the corpus (constant ~500-vector cells, the IVF
        # contract); m=8 PQ codes fixed (code width is a model
        # parameter, not a data-scale parameter).
        import os

        emb = Pipeline.from_table(spark, d, "embeddings").df
        n = emb.count()
        cells = max(4, n // 500)
        base = os.path.basename(os.path.normpath(d))
        mt = int(os.path.getmtime(f"{d}/embeddings.parquet"))
        path = f"/tmp/pippin_ivfpq_scale_{base}_{cells}_{mt}"
        if not os.path.exists(f"{path}/assigned"):
            SIM.ann_index_write(
                emb, "embedding", "vec_id", path, num_cells=cells,
                train_iters=2, layout="cells", pq=(8, 16, 2),
            )
        q = emb.filter(F.col("vec_id") < 25)
        return SIM.ivfpq_topk_prebuilt(
            spark, path, q, "embedding", "vec_id", k=5,
            nprobe=max(2, cells // 8), overfetch=30,
        )

    def triangles(spark, d):
        # degree-ordered wedge counting: the O(sqrt(E)) fanout cap is a
        # plan-shape argument until measured — wedge volume under the
        # replicas' degree distribution is exactly what could grow
        # superlinearly (VERDICT r6 #3)
        return ENTRY_QUERIES["triangle_count_parts"](spark, d)

    def pagerank(spark, d):
        # 3 Pregel rounds = 6 keyed shuffles of node-sized rank rows
        # off a localCheckpoint'ed edge list; per-round overhead at
        # 100x is the open question, not the per-row cost
        return ENTRY_QUERIES["pagerank_trade_graph"](spark, d)

    def sorted_neighborhood(spark, d):
        # 20 exchanges — the largest static plan in the repo; slope
        # certifies the window-join cascade has no hidden cliff
        return ENTRY_QUERIES["dedup_sorted_neighborhood"](spark, d)

    def cte_reach(spark, d):
        # iterative frontier expansion: rounds x (join + distinct);
        # recursion depth growth under replication is the risk measured
        return ENTRY_QUERIES["recursive_cte_reach"](spark, d)

    OPS = {
        "dedup_minhash": minhash,
        "set_join_jaccard": set_join,
        "knn_join_ivf": knn_ivf,
        "pack_sequences": pack,
        "q5_region_revenue": q5,
        "pretrain_prep_e2e": pretrain,
        "dedup_winnowing": winnow,
        "dedup_span_scrub": span_scrub,
        "quality_classifier_train": clf_train,
        "classifier_scrub_e2e": clf_scrub,
        "dsir_select_docs": dsir,
        "hard_negative_mining": hardneg,
        "shuffle_order_docs": shuffle_order,
        "pack_bins_docs": pack_bins,
        "hard_negative_ivf": hardneg_ivf,
        "hard_negative_ivf_prebuilt": hardneg_ivf_prebuilt,
        "training_manifest_e2e": lambda spark, d: ENTRY_QUERIES[
            "training_manifest_e2e"
        ](spark, d),
        # the two loader-feed compositions routing the corpus through
        # ranked_sort's materialization at 100x (VERDICT r8 #4) — the
        # r9 barrier change alters the memory profile, so measured
        # after it landed
        "pack_epochs_e2e": lambda spark, d: ENTRY_QUERIES[
            "pack_epochs_e2e"
        ](spark, d),
        "quality_rank_fusion": lambda spark, d: ENTRY_QUERIES[
            "quality_rank_fusion"
        ](spark, d),
        "ann_index_maintain_e2e": lambda spark, d: ENTRY_QUERIES[
            "ann_index_maintain_e2e"
        ](spark, d),
        "ann_topk_ivfpq_prebuilt": ivfpq_prebuilt,
        "sft_manifest_e2e": lambda spark, d: ENTRY_QUERIES[
            "sft_manifest_e2e"
        ](spark, d),
        "bpe_encode_docs": lambda spark, d: ENTRY_QUERIES[
            "bpe_encode_docs"
        ](spark, d),
        # round-11 rows: the retrain cycle's corpus-linear terms are
        # the re-encode + two appends; pack_on_bpe routes the corpus
        # through BPE costing + waterfill + two global windows;
        # unigram trains entirely on the vocab table (sublinear corpus
        # term is the single word-count scan)
        "ann_index_retrain_e2e": lambda spark, d: ENTRY_QUERIES[
            "ann_index_retrain_e2e"
        ](spark, d),
        "pack_on_bpe_e2e": lambda spark, d: ENTRY_QUERIES[
            "pack_on_bpe_e2e"
        ](spark, d),
        "unigram_vocab_segments": lambda spark, d: ENTRY_QUERIES[
            "unigram_vocab_segments"
        ](spark, d),
        # corpus_datacard's corpus-linear term is the single Expand'd
        # scan; tokenizer_fertility adds the doc->word explode + the
        # per-lang rollup to the BPE costing path; wordpiece trains on
        # the vocab table (two vocab-sized aggregates per round)
        "corpus_datacard": lambda spark, d: ENTRY_QUERIES[
            "corpus_datacard"
        ](spark, d),
        "tokenizer_fertility": lambda spark, d: ENTRY_QUERIES[
            "tokenizer_fertility"
        ](spark, d),
        "wordpiece_train_merges": lambda spark, d: ENTRY_QUERIES[
            "wordpiece_train_merges"
        ](spark, d),
        "unigram_encode_docs": lambda spark, d: ENTRY_QUERIES[
            "unigram_encode_docs"
        ](spark, d),
        "bpe_encode_prebuilt": lambda spark, d: ENTRY_QUERIES[
            "bpe_encode_prebuilt"
        ](spark, d),
        "triangle_count_parts": triangles,
        "pagerank_trade_graph": pagerank,
        "dedup_sorted_neighborhood": sorted_neighborhood,
        "recursive_cte_reach": cte_reach,
    }
    only = os.environ.get("SCALE_OPS")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        OPS = {n: f for n, f in OPS.items() if n in keep}

    results: dict[str, dict[str, float]] = {n: {} for n in OPS}
    for d in dirs:
        spark.read.parquet(f"{d}/lineitem.parquet").count()  # warm footers
        for name, fn in OPS.items():
            # one discarded cold pass absorbs codegen/footer warmup,
            # then SCALE_REPS (default 3) END-TO-END repetitions from a
            # cleared cache (SCALE_REPS=1 for multi-minute 100x ops —
            # the slope signal is decades wide, rep noise is not)
            df = fn(spark, d)
            df.write.format("noop").mode("overwrite").save()
            n_out = int(df.count())
            best = float("inf")
            for _ in range(int(os.environ.get("SCALE_REPS", "3"))):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
            results[name][d] = round(best, 3)
            print(
                json.dumps(
                    {"query": name, "sf_dir": d, "sec": round(best, 3),
                     "out_rows": n_out}
                ),
                flush=True,
            )

    # observed exponent between consecutive dirs (data ratio from
    # lineitem row counts — documents/embeddings scale identically)
    sizes = {
        d: spark.read.parquet(f"{d}/lineitem.parquet").count() for d in dirs
    }
    summary = {}
    for name in OPS:
        pairs = []
        for a, b in zip(dirs, dirs[1:]):
            ratio_n = sizes[b] / sizes[a]
            ratio_t = results[name][b] / max(results[name][a], 1e-9)
            pairs.append(
                {
                    "from": a,
                    "to": b,
                    "t_ratio": round(ratio_t, 2),
                    "alpha": round(
                        math.log(ratio_t) / math.log(ratio_n), 3
                    ),
                }
            )
        summary[name] = pairs
    print(json.dumps({"scaling": summary, "sizes": sizes}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
