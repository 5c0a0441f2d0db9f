#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the `noop` sink (exercises the
whole plan — scan, shuffles, codegen — without driver-side collect cost).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aram_matchdata_etl_spark.registry import all_queries
from aram_matchdata_etl_spark.session import default_sf_dir, get_spark

# Representative, scale-relevant subset: the flagship, the shuffle-heavy
# relational ops, the north-star ops on documents/embeddings, and the
# streaming-semantics windows. (q_dedup_ngram_jaccard is intentionally
# excluded: it is the quadratic exact baseline; q_dedup_minhash_lsh is its
# scale path and IS benched.)
HEADLINE = [
    "q_player_rank",
    "q_groupby_sum",
    "q_join_broadcast",
    "q_join_outer",
    "q_topk",
    "q_count_distinct",
    "q_quantile",
    "q_rollup",
    "q_window_lag",
    "q_sessionize",
    "q_event_window_agg",
    "q_asof_join",
    "q_asof_join_bucketed",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_clusters_lsh",
    # q_setsim_prefix_join is deliberately NOT here: prefix filtering
    # needs rare tokens to prune, and the synthetic fixture's 31-word
    # vocabulary has none (<=961 distinct bigrams over 5k docs), so at
    # sf0.1 it degenerates to near-all-pairs (~71 s) — an adversarial
    # input, not a plan defect; driver-gated at sf0.01 like the exact
    # baselines. q_setsim_zipf (r10) is its benchable twin: the same
    # prefix machinery on a Zipf-vocabulary corpus sized from the
    # fixture, so the scale path is measured, not argued
    "q_setsim_zipf",
    "q_similarity_topk",
    "q_embedding_neardup",
    # r12 retirements to keep the final line inside the driver's 2000-char
    # stdout tail after the r11 family joined (below): q_text_stats,
    # q_quality_score, q_fingerprint, q_embedding_quantize,
    # q_temperature_mix, q_vocab_topk left the suite. All six are
    # sub-0.3 s zero-shuffle row maps whose band defense was vacuous at
    # their magnitude (the +0.5 s absolute slack means a 0.3 s query must
    # quadruple before the trigger can fire), with 7+ rounds of flat
    # history; every plan family keeps a suite representative
    # (per-row text maps: the Zipf gates; corpus term agg: q_tfidf;
    # md5-map dedup: q_dedup_exact; training prep: q_pack_sequences /
    # q_dsir_weights; vectorized maps: q_media_features). Correctness
    # stays driver-gated for all six via the registry rotation.
    "q_tfidf",
    "q_pack_sequences",
    "q_boilerplate_removal",
    "q_substring_spans",
    "q_bigram_lm_score",
    "q_perplexity_buckets",
    "q_bm25_topk",
    "q_dsir_weights",
    "q_pretrain_pipeline",
    "q_interval_join_binned",
    # events analytics: window-cascade funnel + calendar gap-fill (the
    # timeseries resample shape), and the PII scrub (pure-codegen regex)
    "q_funnel",
    "q_gap_fill",
    "q_pii_redact",
    "q_anomaly_zscore",
    # fused curation composition (blocklist -> dedup -> quality -> scrub)
    "q_web_curation_pipeline",
    # corpus association mining + layout profile
    "q_collocations",
    "q_zorder_layout",
    # iterative link-graph analytics (PageRank power iteration: per-round
    # join + partial agg with checkpoint hygiene — the second iterative
    # family beside CC; k-core peeling and pointer-jump flattening round
    # out the iterative family so graph_telemetry tracks all its round
    # counts)
    "q_pagerank",
    "q_kcore",
    "q_hierarchy_flatten",
    # round-6 representatives: the oracled KMV sketch (zero-shuffle
    # build), the rollup-then-window statistics shape, and the
    # three-windows-one-exchange SCD2 build
    "q_kmv_overlap",
    "q_mannwhitney_u",
    "q_scd2_build",
    # round-7 second-wave representatives, one per new plan family:
    # shingle-df join-back (novelty), vocab-scale iterative (TextRank),
    # the 4x generalization-ladder explode (k-anonymity), and the
    # 28x rolling-distinct range join (DAU/MAU)
    "q_ngram_novelty",
    "q_textrank_keywords",
    "q_k_anonymity",
    "q_dau_mau",
    # q_bootstrap_ci stays out: its rows x B=200 md5 grid is ~18.5 s at
    # sf0.1 — honest work (20M portable-hash evaluations), but it would
    # dominate the suite total and blur round-over-round drift; driver-
    # gated at sf0.01
    # Arrow-exchange (pandas UDF) paths: grouped normalize + cogrouped
    # enrich — regressions in the Python<->JVM batch transfer show here
    "q_group_normalize",
    "q_cogroup_enrich",
    # exact connected-components (iterative; q_dedup_clusters_lsh above is
    # the LSH-fed twin)
    "q_dedup_clusters",
    # media featurizer: mapInPandas over binary payloads (vectorized)
    "q_media_features",
    # r11 Zipf/semdedup family (VERDICT r11 item 1): the band-triggered
    # re-run defense keys off trailing artifacts, so the new family must
    # SHIP per-query seconds or a regression in it stays invisible.
    # q_semdedup = the hash-oracled fixture-k key; q_semdedup_scaled =
    # the production cell-sizing policy (the tier entry — fixed-k 10x is
    # the DESIGNED 19x super-linearity already measured in SCALE.md, not
    # a number to re-pay every round); the three Zipf gates + the fused
    # curation verdict round out the family
    "q_semdedup",
    "q_semdedup_scaled",
    # r13: production sizing + O(n*sqrt(k)) hierarchical assignment —
    # the scale path that replaces the flat O(n^2) term the 100x probe
    # exposed (SCALE.md "Round-13: hierarchical semdedup")
    "q_semdedup_hier",
    "q_repetition_gopher_zipf",
    "q_boilerplate_zipf",
    "q_perplexity_zipf",
    "q_zipf_curation_pipeline",
    # q_corpus_prep (r12) is NOT benched: it recomputes five stage
    # graphs that are each benched above (clusters_lsh, perplexity,
    # boilerplate, repetition, semdedup) plus the benched packing — a
    # ~12 s suite line that re-measures already-defended plans, and the
    # final-line budget is spoken for. Its correctness is driver-gated
    # (hash oracle) every rotation.
    # adapted TPC-H: the shuffle/join-heavy representatives (Q1 scan-agg,
    # Q3/Q9 big joins, Q18 double agg on orderkey, Q21 decorrelated
    # exists/not-exists)
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q9",
    "q_tpch_q18",
    "q_tpch_q21",
]

# Queries that exist to ORACLE-CHECK a scale path, not to BE one: their
# cost is dominated by intentionally-quadratic exact pair generation
# (q_dedup_clusters feeds CC from the exact shingle self-join;
# q_embedding_neardup is the labeled brute-force cosine baseline). They
# stay in the suite so their correctness keeps getting exercised at sf0.1,
# but the headline `value` tracks the SCALE-PATH total — their LSH twins
# (q_dedup_clusters_lsh, q_dedup_minhash_lsh + q_similarity_topk) are the
# numbers that project to 100 TB. (VERDICT r4 item 5.)
ORACLE_BASELINES = {"q_dedup_clusters", "q_embedding_neardup"}

# The six r12 suite retirements (see the HEADLINE comment): correctness
# stays driver-gated via rotation, and from r13 their SECONDS ride the
# telemetry sidecar every run (ADVICE r12 — with no suite slot, a large
# perf regression in any of them would otherwise ship invisibly).
RETIRED_WATCH = [
    "q_text_stats",
    "q_quality_score",
    "q_fingerprint",
    "q_embedding_quantize",
    "q_temperature_mix",
    "q_vocab_topk",
]


def cc_deep_chain_microbench(spark) -> dict:
    """Time BOTH connected-components algorithms on a deep synthetic graph
    (50k parallel 16-node chains -> 800k nodes, diameter 15): one-hop
    min-label needs ~diameter rounds; large-star/small-star contracts in
    O(log n). This is the measured number behind the auto-escalation
    claim (VERDICT r4 item 8) — the fixture near-dup graphs are shallow,
    so the case star exists for never shows up in the headline suite."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.dedup import (
        CC_TELEMETRY,
        connected_components,
    )

    n_chains, chain_len = 50_000, 16
    ids = spark.range(n_chains * chain_len, numPartitions=32)
    universe = ids.select(F.col("id").alias("doc_id"))
    pairs = ids.filter((F.col("id") % chain_len) != chain_len - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out: dict = {"nodes": n_chains * chain_len, "diameter": chain_len - 1}
    for algo in ("min_label", "star"):
        tag = f"deep_{algo}"
        t0 = _t.perf_counter()
        connected_components(universe, pairs, algorithm=algo, tag=tag).write.format(
            "noop"
        ).mode("overwrite").save()
        out[algo] = {
            "sec": round(_t.perf_counter() - t0, 3),
            "rounds": CC_TELEMETRY[tag]["rounds"],
        }
        CC_TELEMETRY.pop(tag, None)  # keep the headline telemetry clean
    return out


def kmv_vs_exact_microbench(spark) -> dict:
    """Quantify the KMV sketch win on a corpus whose vocabulary is LARGE
    enough to matter (the fixture corpus has 31 distinct words, where the
    exact join trivially wins): 20 synthetic sources x 1M-word
    vocabularies, 800k of them shared by every source (true pairwise
    Jaccard 800/1200 ~ 0.667). Times the sketch pipeline (zero corpus
    shuffles; pair stage = |sources|^2 * k rows) against the exact pairwise vocabulary Jaccard (distinct
    (source, word) self-join on word — shuffle volume grows with shared
    vocabulary), and records the worst per-pair estimate error against
    the analytic truth (binomial s.e. 0.5/sqrt(256) ~ 3%)."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.streaming_batch import (
        kmv_overlap_from_hashes,
    )

    # 800k words shared by ALL sources + 200k unique per source: the
    # exact self-join pays sum_w C(sources_with_w, 2) = 800k x C(20,2)
    # = 152M intersect rows (the real web-corpus shape — most vocabulary
    # is common), while the sketch build never shuffles the corpus and
    # its pair stage stays |sources|^2 * k. Measured on this box:
    # kmv ~9 s vs exact ~15 s, and the gap is structural (exact grows
    # with shared-vocab x pairs, the sketch with corpus scan count).
    n_src, vocab, shared = 20, 1_000_000, 800_000
    ids = spark.range(n_src * vocab, numPartitions=32)
    src_id = (F.col("id") / vocab).cast("long")
    off = F.col("id") % vocab
    words = ids.select(
        F.concat(F.lit("s"), src_id.cast("string")).alias("source"),
        F.when(off < shared, off)
        .otherwise(F.lit(shared) + src_id * (vocab - shared) + (off - shared))
        .alias("wid"),
    )
    # RAW hash stream (no distinct): the sketch build never shuffles the
    # corpus — that asymmetry IS the measured claim
    wh = words.select(
        "source", F.pmod(F.xxhash64("wid"), F.lit(2**32)).alias("h")
    )

    t0 = _t.perf_counter()
    kmv = {
        (r.s1, r.s2): r.jaccard_kmv
        for r in kmv_overlap_from_hashes(wh).collect()
    }
    t_kmv = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    v = words.distinct()
    sizes = {
        r.source: r.n
        for r in v.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    inter = (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.wid") == F.col("b.wid"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count("*").alias("ni"))
        .collect()
    )
    exact = {
        (r.s1, r.s2): r.ni / (sizes[r.s1] + sizes[r.s2] - r.ni) for r in inter
    }
    t_exact = _t.perf_counter() - t0
    max_err = max(abs(kmv[k] - exact.get(k, 0.0)) for k in kmv)
    return {
        "vocab_per_source": vocab,
        "kmv_sec": round(t_kmv, 3),
        "exact_sec": round(t_exact, 3),
        "pairs": len(kmv),
        "max_jaccard_error": round(max_err, 5),
    }


def setsim_prefix_microbench(spark) -> dict:
    """Candidate economics of the prefix-filtered exact set-similarity
    join on a REALISTIC vocabulary (the fixture's 31-word vocab defeats
    prefix filtering — there are no rare shingles to prune with, which
    is why q_setsim_prefix_join is not a headline query). 20k synthetic
    docs x 40 tokens from a 30k-word vocabulary with a Zipf-like head
    (wid = floor(V * u^4): the head words dominate positions the way
    stop-words do), 200 planted near-dup pairs (2 of 40 tokens
    perturbed, true bigram Jaccard ~ 0.8).

    Reports the structural quantity that separates the algorithms —
    pair-level join WORK, sum over shingles of C(df, 2): the naive
    all-shingle join must materialize every such row (quadratic in the
    hot-shingle df, i.e. quadratic in corpus size), the prefix join
    only the C(prefix_df, 2) rows of each document's RAREST shingles —
    plus wall times and the (identical) result counts."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.dedup import (
        exact_jaccard_pairs,
        setsim_prefix_pairs,
    )

    n_docs, doc_len, vocab, n_dup, thr = 20_000, 40, 30_000, 200, 0.7
    rows = spark.range(n_docs * doc_len, numPartitions=32)
    doc = (F.col("id") / doc_len).cast("long")
    pos = F.col("id") % doc_len
    u = F.pmod(F.xxhash64(F.col("id")), F.lit(1 << 30)) / F.lit(
        float(1 << 30)
    )
    wid = F.floor(u * u * u * u * vocab).cast("long")
    base = rows.select(doc.alias("doc_id"), pos.alias("pos"), wid.alias("wid"))
    dup = base.filter(F.col("doc_id") < n_dup).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        "pos",
        F.when(F.col("pos") % 20 == 0, (F.col("wid") + 7) % vocab)
        .otherwise(F.col("wid"))
        .alias("wid"),
    )
    toks = base.unionAll(dup)
    a, b = toks.alias("a"), toks.alias("b")
    sh = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.concat(F.col("a.wid"), F.lit("_"), F.col("b.wid")).alias(
                "shingle"
            ),
        )
        .distinct()
        .localCheckpoint()
    )

    def pair_work(frame):
        dfreq = frame.groupBy("shingle").agg(F.count("*").alias("df"))
        return int(
            dfreq.agg(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("w")
            ).collect()[0].w
        )

    out: dict = {
        "n_docs": n_docs + n_dup,
        "vocab": vocab,
        "threshold": thr,
        "naive_pair_work": pair_work(sh),
    }
    t0 = _t.perf_counter()
    out["exact_pairs"] = exact_jaccard_pairs(sh, thr).count()
    out["exact_sec"] = round(_t.perf_counter() - t0, 3)
    t0 = _t.perf_counter()
    out["prefix_pairs"] = setsim_prefix_pairs(sh, thr).count()
    out["prefix_sec"] = round(_t.perf_counter() - t0, 3)
    sh.unpersist()
    return out


def lsh_skew_microbench(spark) -> dict:
    """Hot-bucket stress for the MinHash+LSH candidate stage (the
    quadratic-in-bucket failure mode the r7 verdict hypothesized):
    100k docs with distinct pseudo-random shingle-hash sets plus ONE
    cluster of 3k byte-identical docs — every band maps the clones to
    the same bucket, so the uncapped equi-join emits C(3k, 2) ~ 4.5M
    candidate pairs from one bucket chain. Measures candidate count +
    wall uncapped vs bucket_cap=64 (tests/test_skew.py proves the cap
    is exact outside oversized buckets). At 100 TB the same shape with
    a 1M-clone cluster is 5e11 pairs — the cap is the difference
    between a bounded task and an un-runnable one; in production the
    byte-hash exact dedup runs first, so oversized buckets are rarer
    but adversarially unavoidable (templated boilerplate)."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n_unique, n_hot = 100_000, 3_000
    uniq = spark.range(n_unique).selectExpr(
        "id AS doc_id",
        "transform(sequence(0, 11), i -> "
        "  cast(conv(substring(md5(concat(cast(id AS string), '_', "
        "  cast(i AS string))), 1, 8), 16, 10) AS bigint)) AS hs",
    )
    hot = spark.range(n_unique, n_unique + n_hot).selectExpr(
        "id AS doc_id",
        "transform(sequence(0, 11), i -> "
        "  cast(conv(substring(md5(concat('hot_', cast(i AS string))), "
        "  1, 8), 16, 10) AS bigint)) AS hs",
    )
    sig = minhash_signatures(uniq.unionAll(hot)).localCheckpoint()
    out: dict = {"n_docs": n_unique + n_hot, "hot_cluster": n_hot}
    # "auto" = the r9 probe path: one max-bucket agg decides, and on this
    # adversarial shape it must engage (telemetry recorded below)
    for label, cap in (("uncapped", None), ("cap64", 64), ("auto", "auto")):
        cands = lsh_candidate_pairs(sig, bucket_cap=cap, tag="bench_skew")
        cands.write.format("noop").mode("overwrite").save()  # warmup
        t0 = _t.perf_counter()
        n = cands.count()
        out[label] = {"sec": round(_t.perf_counter() - t0, 3), "pairs": n}
    from aram_matchdata_etl_spark.operators.dedup import LSH_TELEMETRY

    out["auto_probe"] = LSH_TELEMETRY.get("bench_skew", {})
    sig.unpersist()
    return out


def semdedup_skew_microbench(spark) -> dict:
    """Hot-CELL stress for SemDeDup (r11 verdict item 6 — the knob
    analysis assumes roughly balanced cells, but real web embeddings
    cluster heavily): 50k spread vectors + ONE blob of 3k near-identical
    vectors (pairwise cosine ~ 1). k-means puts the whole blob in one
    cell regardless of k, so the uncapped within-cell self-join emits
    C(3k, 2) ~ 4.5M pairs out of ONE task — at 100 TB the same shape
    with a 1M-clone cluster is 5e11 pairs from one straggler. Measures
    wall + per-vector keep stats uncapped vs cell_cap='auto' (the
    SEMDEDUP_AUTO_CELL_CAP md5-order cap, exact outside oversized
    cells — tests/test_skew.py proves the semantics). In production the
    quantized-vector exact dedup runs first, so true clone blobs
    collapse before this stage; the cap covers the near-clone residue."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.similarity import (
        SEMDEDUP_TELEMETRY,
        norm,
        semdedup_frame,
    )

    n_spread, n_hot, d, k = 50_000, 3_000, 16, 400
    ids = spark.range(n_spread + n_hot, numPartitions=32)
    is_hot = F.col("id") >= n_spread

    def comp(j: int):
        hot = 1.0 + F.pmod(
            F.xxhash64(F.col("id") * 31 + F.lit(j)), F.lit(1000)
        ).cast("double") / 1e7
        spread = (
            F.pmod(F.xxhash64(F.col("id") * 97 + F.lit(j)), F.lit(2000))
            .cast("double")
            - 1000.0
        ) / 100.0
        return F.when(is_hot, hot).otherwise(spread)

    emb = (
        ids.select(
            F.col("id").alias("vec_id"),
            F.array(*[comp(j) for j in range(d)]).alias("vec"),
        )
        .withColumn("vnorm", norm(F.col("vec")))
        .localCheckpoint()
    )
    out: dict = {"n_vectors": n_spread + n_hot, "blob": n_hot, "k": k}
    # force_join_argmin: k=400 as literal structs would bloat codegen;
    # the broadcast-frame join IS the large-k production dataflow
    for label, cap in (("uncapped", None), ("auto", "auto")):
        def mk():
            return semdedup_frame(
                spark, "", k, force_join_argmin=True, emb=emb,
                cell_cap=cap, tag="bench_sd_skew",
            )

        mk().write.format("noop").mode("overwrite").save()  # warmup
        # timed region spans CONSTRUCTION + action (ADVICE r12): the
        # 'auto' arm's cell-size probe (an eager collect inside
        # semdedup_frame) is a job the defense actually pays — timing
        # only the count would bias the uncapped-vs-auto comparison the
        # microbench exists to make
        t0 = _t.perf_counter()
        dropped = mk().filter(~F.col("is_kept")).count()
        out[label] = {
            "sec": round(_t.perf_counter() - t0, 3),
            "dropped": int(dropped),
        }
    out["auto_probe"] = SEMDEDUP_TELEMETRY.get("bench_sd_skew", {})
    emb.unpersist()
    return out


def market_skew_microbench(spark) -> dict:
    """Skew-stress the market-basket pair join: within-basket pair
    generation costs sum(b_i^2), so ONE hoarder basket (~4.9k distinct
    items from 1% of all interactions) adds ~12M pair rows in a single
    task next to a ~1M-pair uniform baseline. The CF_CAP md5-order
    basket cap (operators/market.py) must restore uniform-ish wall time
    while leaving every small basket untouched."""
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.market import CF_CAP, pair_counts

    n_rows, n_bids, n_items = 500_000, 100_000, 10_000
    base = spark.range(n_rows, numPartitions=32)

    def mk(skewed: bool):
        hoarder = F.col("id") % 100 == 0  # 1% of interactions
        bid = (
            F.when(hoarder, F.lit(0)).otherwise(F.col("id") % n_bids)
            if skewed
            else F.col("id") % n_bids
        )
        return base.select(
            bid.cast("long").alias("bid"),
            (F.abs(F.hash(F.col("id"))) % n_items).cast("long").alias("item"),
        ).distinct()

    def cap(items):
        w = Window.partitionBy("bid").orderBy(
            F.md5(
                F.concat_ws(
                    "#",
                    F.col("bid").cast("string"),
                    F.col("item").cast("string"),
                )
            )
        )
        return (
            items.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= CF_CAP)
            .drop("rn")
        )

    out = {}
    for tag, items in (
        ("uniform_uncapped", mk(False)),
        ("skewed_uncapped", mk(True)),
        ("skewed_capped", cap(mk(True))),
    ):
        frame = items.localCheckpoint()
        t0 = _t.perf_counter()
        n_pairs = pair_counts(frame).count()
        out[tag] = {
            "sec": round(_t.perf_counter() - t0, 2),
            "pairs": int(n_pairs),
        }
    return out


def events_skew_microbench(spark) -> dict:
    """Skew-stress the window-cascade events family (VERDICT r6 item 6):
    q_funnel / q_sessionize / q_anomaly_zscore all hash-partition on
    user_id, and the fixture's user distribution is benign. Synthesize
    2M events twice — uniform over 100k users, and with ONE power-law
    user owning 20% of all events (a 400k-row window partition vs ~20
    average) — and measure the per-operator wall-time ratio. Window
    functions get no AQE skew-splitting (that exists for joins only), so
    the hot user's partition runs as a single straggler task; the ratio
    quantifies how much that costs at this shape."""
    import time as _t

    from pyspark.sql import functions as F

    from aram_matchdata_etl_spark.operators.events_analytics import (
        anomaly_zscore,
        anomaly_zscore_chunked,
        funnel,
    )
    from aram_matchdata_etl_spark.operators.streaming_batch import sessionize

    n_events, n_users = 2_000_000, 100_000
    base = spark.range(n_events, numPartitions=32)
    stages = F.element_at(
        F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
        (F.col("id") % 3 + 1).cast("int"),
    )

    def mk(skewed: bool):
        uid = (
            F.when(F.col("id") % 5 == 0, F.lit(0)).otherwise(F.col("id") % n_users)
            if skewed
            else F.col("id") % n_users
        )
        return base.select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") * 9973) % (30 * 86400)
            ).alias("ts"),
            uid.cast("long").alias("user_id"),
            stages.alias("event_type"),
            ((F.col("id") * 31 % 1000) / 7.0).alias("value"),
        )

    ops = {
        "funnel": funnel,
        "sessionize": sessionize,
        "anomaly_zscore": anomaly_zscore,
        # the mitigation arm: overlap-chunk decomposition, exact results
        "anomaly_zscore_chunked": anomaly_zscore_chunked,
    }
    out: dict = {"n_events": n_events, "hot_user_share": 0.2}
    for shape, skewed in (("uniform", False), ("hot_user", True)):
        ev = mk(skewed).localCheckpoint()  # time the operator, not the generator
        for op_name, op in ops.items():
            op(ev).write.format("noop").mode("overwrite").save()  # JIT warmup
            t0 = _t.perf_counter()
            op(ev).write.format("noop").mode("overwrite").save()
            out.setdefault(op_name, {})[shape] = round(_t.perf_counter() - t0, 3)
        ev.unpersist()
    for op_name in ops:
        u, h = out[op_name]["uniform"], out[op_name]["hot_user"]
        out[op_name]["ratio"] = round(h / u, 2) if u else None
    return out


# ---------------------------------------------------------------------------
# Scale tier (VERDICT r6 item 4): rerun the ~10 most expensive headline
# queries on a k-x replicated copy of the sf0.1 fixtures and report the
# per-query wall-time scaling factor. This is the measured 100x-story
# tier the plan-shape audits extrapolate from: a query whose ratio is
# far above k at 10x data has a super-linear term that plan reading
# missed.
# ---------------------------------------------------------------------------

SCALE_TIER = [
    "q_pagerank",            # iterative graph (15 fixed rounds)
    "q_dedup_clusters_lsh",  # LSH banding + connected components
    "q_dedup_minhash_lsh",   # LSH candidate generation
    "q_asof_join_bucketed",  # bucketed write + shuffle-free join
    "q_bm25_topk",           # inverted-index scoring
    "q_count_distinct",      # global distinct aggregation
    "q_anomaly_zscore",      # window cascade on events
    "q_bigram_lm_score",     # corpus LM train + score
    "q_tpch_q9",             # multi-way fact joins
    "q_tpch_q21",            # decorrelated exists/not-exists
    # r7 widening: one representative per remaining plan family
    "q_kcore",               # iterative peeling (round count vs volume)
    "q_hierarchy_flatten",   # pointer jumping (log-depth rounds)
    "q_funnel",              # MIN-over-partition window cascade
    "q_tfidf",               # corpus term aggregation + join-back
    "q_web_curation_pipeline",  # fused multi-stage curation
    # r12 widening (VERDICT r11 item 1): the most expensive new family
    # member (zero-shuffle per-row map — its ratio ~k IS the linear
    # optimum, see SCALE.md "per-row-map ceiling") and semdedup under
    # the PRODUCTION cell-sizing knob (k scales with the tier corpus, so
    # the ratio tracks the paper's policy, not the fixture constant's
    # designed O(n^2/k) blow-up)
    "q_repetition_gopher_zipf",
    "q_semdedup_scaled",
    # r13: the two-level assignment twin — its tier ratio vs
    # q_semdedup_scaled's IS the measured claim that the hierarchical
    # path removes the flat argmin's O(n^2) term
    "q_semdedup_hier",
    # q_ngram_novelty is NOT tiered: its plan family (corpus term
    # aggregation + join-back) is q_tfidf's, already measured above.
    # Entries past 15 fit because the final line sheds the
    # telemetry-duplicated totals first — worst-case width is pinned by
    # test_bench_contract::test_realistic_line_with_scale_tier_fits
]
SCALE_TIER_K = 10
# bump when the replication recipe changes so a stale materialized tier
# is rebuilt instead of silently reused
# v3 (r10): replicated fact tables are repartitioned before the write.
# Through v2 each fact landed as ONE file with ONE row group (the
# broadcast crossJoin preserves the source's single input partition),
# so every tier scan ran as a single task no matter the split count —
# parquet splits by row group, and there was only one. That serialized
# the scan stage of every tier measurement (a linear-in-k term that
# UNDERSTATES plan scalability and, for scan-fused compute, dominates).
# The v2-era ratios remain valid upper bounds; v3 ratios measure the
# plans, not the artifact.
_SCALE_TIER_VERSION = 3
_SCALE_TIER_FILES = 32


def build_scale_tier_dir(spark, src_dir: str, out_dir: str, k: int) -> None:
    """Materialize a k-x replicated copy of the fixture tables in
    `out_dir` (parquet, same layout as the testdata dirs, so every
    registry query runs on it unchanged via load_table).

    Replication preserves the fixtures' SHAPE at k-x volume, not just
    k-x bytes: ID keys are offset per replica by (max_key + 1) so key
    cardinality scales with row count (a naive row copy would leave 10x
    rows per group key — a different, easier workload for aggregation
    and a skew bomb for joins); TPC-H foreign keys are offset by the
    referenced table's stride so join fan-outs stay 1:1 per replica;
    document text is word-permuted per replica (sort words by
    md5(word, replica)) so replicas are NOT near-duplicates of each
    other — without this every LSH bucket would hold k copies of each
    signature and the near-dup candidate stage would measure replica
    cross-talk instead of scaling; embeddings get a small deterministic
    per-replica perturbation for the same reason. nation/region are
    dimension tables and stay single-copy (replicated facts keep
    pointing at them, as a real k-x corpus would)."""
    import shutil

    from pyspark.sql import functions as F

    marker = os.path.join(out_dir, "_SCALE_TIER.json")
    want = {"src": src_dir, "k": k, "version": _SCALE_TIER_VERSION}
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f) == want:
                    return
        except Exception:
            pass
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def reps(df):
        return df.crossJoin(
            F.broadcast(spark.range(k).select(F.col("id").alias("_r")))
        )

    def stride(df, col):
        return int(df.agg(F.max(col)).first()[0]) + 1

    def off(col, s):
        return (F.col(col) + F.col("_r") * s).alias(col)

    src = {
        t: spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    }
    s_cust = stride(src["customer"], "c_custkey")
    s_supp = stride(src["supplier"], "s_suppkey")
    s_part = stride(src["part"], "p_partkey")
    s_ord = stride(src["orders"], "o_orderkey")
    s_ev = stride(src["events"], "event_id")
    s_user = stride(src["events"], "user_id")
    s_doc = stride(src["documents"], "doc_id")
    s_vec = stride(src["embeddings"], "vec_id")

    out: dict = {}
    out["region"] = src["region"]
    out["nation"] = src["nation"]
    out["customer"] = reps(src["customer"]).select(
        off("c_custkey", s_cust), "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment",
    )
    out["supplier"] = reps(src["supplier"]).select(
        off("s_suppkey", s_supp), "s_name", "s_nationkey", "s_acctbal",
    )
    out["part"] = reps(src["part"]).select(
        off("p_partkey", s_part), "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice",
    )
    out["orders"] = reps(src["orders"]).select(
        off("o_orderkey", s_ord), off("o_custkey", s_cust), "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    out["lineitem"] = reps(src["lineitem"]).select(
        off("l_orderkey", s_ord), off("l_partkey", s_part),
        off("l_suppkey", s_supp), "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )
    out["events"] = reps(src["events"]).select(
        off("event_id", s_ev), "ts", off("user_id", s_user), "event_type",
        "value", "props",
    )
    # per-replica VOCABULARY RENAMING (suffix every word with the replica
    # id), not a permutation: a word-sort keyed on (word, replica) was
    # tried first and CANONICALIZED every doc in a replica to the same
    # global word order — with the fixture's 31-word vocabulary that made
    # all 5k docs per replica near-dups of each other (746 -> 34M LSH
    # candidate pairs; r7 forensics). Renaming is a 1-1 bigram map: the
    # within-replica similarity structure is exactly isomorphic to the
    # original corpus, cross-replica shingle sets are disjoint, and the
    # vocabulary scales k-x like every other key domain here.
    renamed = F.concat_ws(
        " ",
        F.transform(
            F.split("text", " "),
            lambda w: F.concat(w, F.lit("_r"), F.col("_r").cast("string")),
        ),
    )
    out["documents"] = reps(src["documents"]).select(
        off("doc_id", s_doc),
        F.when(F.col("_r") == 0, F.col("text")).otherwise(renamed).alias("text"),
        "lang", "source", "n_chars",
    )
    # deterministic sub-1e-3 perturbation keyed on (vec_id, dim, replica):
    # breaks exact vector duplication without moving the distribution
    perturbed = F.transform(
        "embedding",
        lambda x, i: (
            x
            + (
                F.pmod(F.col("vec_id") * 31 + i * 7 + F.col("_r"), F.lit(997))
                - 498
            ).cast("float")
            / 997000.0
        ).cast("float"),
    )
    out["embeddings"] = reps(src["embeddings"]).select(
        off("vec_id", s_vec),
        F.when(F.col("_r") == 0, F.col("embedding"))
        .otherwise(perturbed)
        .alias("embedding"),
        "label",
    )
    for t, df in out.items():
        if t not in ("region", "nation"):
            # see _SCALE_TIER_VERSION v3 note: without this the
            # replicated fact is one file / one row group and every
            # tier scan is a single task
            df = df.repartition(_SCALE_TIER_FILES)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
    with open(marker, "w") as f:
        json.dump(want, f)


# --- tier band defense (r13, VERDICT r12 item 1) -----------------------------
# BENCH_r12's tier block shipped 19.9x/15.3x for the LSH dedup family
# when the quiet-box truth (judge-adjudicated, bench's exact protocol)
# was 2.4x/2.0x: host-load contamination with NO band/rerun defense —
# the exact artifact-lies class r11 fixed for HEADLINE, one block over.
# The tier now gets the same machinery, with two structural fixes:
#   1. the 1x denominator is measured INSIDE the tier phase (same
#      session, same load window) instead of reusing headline numbers
#      from minutes earlier under possibly different load;
#   2. tier seconds get a trailing band — but tier seconds never ride
#      the final line (the 2000-char driver tail fits ratios only), so
#      the band's reference lives in TIER_HISTORY.jsonl at the repo
#      root: every bench run appends its tier seconds there (committed
#      with the round), and the band is the per-query minimum over the
#      last TRAILING_BAND_ROUNDS entries matching (sf, k, tier version).
# A tripped query (tier seconds out of band, OR its in-phase 1x anchor
# far above the same run's headline number — the anchor-contamination
# dual) re-measures BOTH arms standalone in a fresh SparkSession; the
# compact block ships a `rerun` adjudication pair of RATIOS (the
# judge-facing unit) and the detail block both arms' raw seconds.

TIER_HISTORY_FILE = "TIER_HISTORY.jsonl"
TIER_HISTORY_KEEP = 60  # entries retained (multiple runs per round)


def tier_trailing_minima(
    sf: float, k: int, version: int, root: str | None = None
) -> dict[str, float]:
    """Per-query minimum tier seconds over the last TRAILING_BAND_ROUNDS
    history entries matching (sf, k, tier version) — the tier analogue
    of trailing_minima(). Version-gated: v2-era single-row-group tier
    layouts serialized every scan, so their seconds are not comparable
    to v3's (see _SCALE_TIER_VERSION)."""
    path = os.path.join(
        root or os.path.dirname(os.path.abspath(__file__)), TIER_HISTORY_FILE
    )
    entries: list[dict] = []
    try:
        with open(path) as f:
            for raw in f:
                try:
                    e = json.loads(raw)
                except ValueError:
                    continue
                try:
                    e_sf = float(e.get("sf", -1.0)) if isinstance(e, dict) else None
                except (TypeError, ValueError):
                    # null / non-numeric sf: a malformed (hand-edited,
                    # merge-conflicted) line must be skipped like any
                    # other bad entry, never sink the whole tier phase
                    continue
                if (
                    e_sf is not None
                    and abs(e_sf - sf) < 1e-9
                    and e.get("k") == k
                    and e.get("version") == version
                    and isinstance(e.get("sec"), dict)
                ):
                    entries.append(e)
    except OSError:
        return {}
    out: dict[str, float] = {}
    for e in entries[-TRAILING_BAND_ROUNDS:]:
        for name, sec in e["sec"].items():
            if isinstance(sec, (int, float)):
                out[name] = min(out.get(name, float("inf")), float(sec))
    return out


def append_tier_history(
    sf: float, secs: dict, anchors: dict, extra: dict | None = None,
    root: str | None = None,
) -> None:
    """Append this run's tier measurements to TIER_HISTORY.jsonl,
    trimming to the last TIER_HISTORY_KEEP entries. Quiet local runs
    only tighten the band downward (minima), so extra entries help."""
    path = os.path.join(
        root or os.path.dirname(os.path.abspath(__file__)), TIER_HISTORY_FILE
    )
    lines: list[str] = []
    try:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
    except OSError:
        pass
    entry = {
        "t": round(time.time(), 1),
        "sf": sf,
        "k": SCALE_TIER_K,
        "version": _SCALE_TIER_VERSION,
        "sec": secs,
        "anchor": anchors,
    }
    if extra:
        entry.update(extra)
    lines.append(json.dumps(entry, separators=(",", ":")))
    with open(path, "w") as f:
        f.write("\n".join(lines[-TIER_HISTORY_KEEP:]) + "\n")


def tier_suspects(
    anchors: dict[str, float],
    secs: dict[str, float],
    headline: dict[str, float],
    bands: dict[str, float],
) -> list[str]:
    """Queries needing the fresh-session adjudication arm: tier seconds
    out of the trailing-history band (the r12 contamination class), or
    the in-phase 1x anchor far above the same run's headline number —
    a contaminated anchor UNDERSTATES the ratio, the flattering dual of
    the tier-seconds lie, so it trips the same defense."""
    out = set(band_outliers(secs, bands))
    for name, a in anchors.items():
        h = headline.get(name)
        if h and a > max(BAND_RATIO * h, h + BAND_ABS_SLACK):
            out.add(name)
    return sorted(out)


def run_scale_tier(
    spark, queries, sf_dir: str, headline: dict[str, float], sf: float
):
    """Returns (compact_block_for_final_line, detail_for_telemetry,
    live_spark — the band arm may have swapped the session).

    Per query: the 1x anchor at sf_dir, then the k-x tier run, both
    under measure_query's protocol (cache clear + GC + untimed warmup +
    best-of-2). The warmup exists because AQE picks different physical
    plans at 10x volume, so the 10x execution pays its own
    whole-stage-codegen JIT that warmed numbers never show — without
    it, q_bm25_topk read 15.5x while its warmed A/B was 4.9x (r7
    forensics, SCALE.md). Best-of-2 exists because single-shot tier
    numbers swung up to 2.4x run-to-run on the CC-loop queries (r8).
    Band defense + in-phase anchors: see the block comment above."""
    repo_root = os.path.dirname(os.path.abspath(__file__))
    tier_dir = os.path.join(repo_root, ".bench_scale_tier")
    t0 = time.perf_counter()
    build_scale_tier_dir(spark, sf_dir, tier_dir, SCALE_TIER_K)
    build_sec = round(time.perf_counter() - t0, 3)
    anchors: dict[str, float] = {}
    secs: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in SCALE_TIER:
        try:
            anchors[name] = measure_query(spark, queries[name], sf_dir)
            secs[name] = measure_query(spark, queries[name], tier_dir)
        except Exception as e:
            errors[name] = str(e).splitlines()[0][:160]
    bands = tier_trailing_minima(sf, SCALE_TIER_K, _SCALE_TIER_VERSION)
    suspects = tier_suspects(anchors, secs, headline, bands)
    rerun_sec: dict[str, dict] = {}
    rerun_compact: dict[str, list] = {}
    if suspects:
        print(
            f"TIER_BAND_WARN tier outliers vs {TIER_HISTORY_FILE} band or"
            f" in-phase anchors vs headline: {suspects}; re-running each"
            " standalone (both arms) in a fresh SparkSession",
            flush=True,
        )
        spark.stop()
        spark = get_spark(app_name="aram-etl-bench-tier-standalone")
        for name in suspects:
            suite_pair = [anchors.get(name), secs.get(name)]
            try:
                fa = measure_query(spark, queries[name], sf_dir)
                ft = measure_query(spark, queries[name], tier_dir)
            except Exception as e:
                # fresh arm died: the in-suite number still ships but the
                # rerun block records the attempt so a band-flagged ratio
                # never ships without visible adjudication
                rerun_sec[name] = {"suite": suite_pair, "fresh": None}
                rerun_compact[name] = [_ratio(suite_pair), None]
                errors[name] = str(e).splitlines()[0][:160]
                continue
            rerun_sec[name] = {"suite": suite_pair, "fresh": [fa, ft]}
            rerun_compact[name] = [_ratio(suite_pair), _ratio([fa, ft])]
            if name in anchors:
                anchors[name] = min(anchors[name], fa)
            if name in secs:
                secs[name] = min(secs[name], ft)
    ratios = {
        n: r
        for n in secs
        if (r := _ratio([anchors.get(n), secs[n]])) is not None
    }
    compact: dict = {"k": SCALE_TIER_K, "ratios": ratios}
    if rerun_compact:
        compact["rerun"] = rerun_compact
    detail = {
        "k": SCALE_TIER_K,
        "build_sec": build_sec,
        "anchor_sec": anchors,
        "sec": secs,
        "ratios": ratios,
        "band": bands,
    }
    if rerun_sec:
        detail["rerun"] = rerun_sec
    if errors:
        compact["errors"] = sorted(errors)
        detail["errors"] = errors
    return compact, detail, spark


def _ratio(pair) -> float | None:
    a, t = (pair + [None, None])[:2] if isinstance(pair, list) else (None, None)
    if not a or t is None:
        return None
    return round(t / a, 1)


# ---------------------------------------------------------------------------
# Load forensics (VERDICT r9 "what's wrong" item 1): the shipped BENCH_r09
# number was +23% purely from neighbor processes owning the box, and the
# artifact had no way to show it. The bench now measures the NEIGHBOR CPU
# share directly — total busy jiffies from /proc/stat minus this process
# tree's own jiffies (python driver + the local[32] JVM child), over the
# headline window — and re-runs the headline once if neighbors held more
# than NEIGHBOR_RERUN_SHARE of the box. loadavg alone can't do this: during
# the run our own 32 threads dominate it.
# ---------------------------------------------------------------------------

NEIGHBOR_RERUN_SHARE = 0.15


def _proc_tree_jiffies(pid: int) -> int:
    """utime+stime+cutime+cstime summed over the live process tree rooted
    at `pid` (cutime/cstime cover children reaped between snapshots)."""
    total, stack, seen = 0, [pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            # fields 14-17 (1-indexed) = utime stime cutime cstime
            total += sum(int(rest[i]) for i in (11, 12, 13, 14))
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (OSError, IndexError, ValueError):
            continue
    return total


def _cpu_snapshot() -> dict | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        busy = sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)
        return {
            "busy": busy,
            "self": _proc_tree_jiffies(os.getpid()),
            "t": time.monotonic(),
        }
    except (OSError, ValueError, IndexError):
        return None


def neighbor_share(s0: dict | None, s1: dict | None) -> float | None:
    """Fraction of the whole box's CPU capacity used by processes OUTSIDE
    this bench's tree between the two snapshots (USER_HZ=100)."""
    if not s0 or not s1:
        return None
    elapsed = s1["t"] - s0["t"]
    if elapsed <= 0:
        return None
    capacity = (os.cpu_count() or 1) * 100.0 * elapsed
    other = max(0, (s1["busy"] - s0["busy"]) - (s1["self"] - s0["self"]))
    return round(other / capacity, 3)


def measure_query(spark, fn, sf_dir: str) -> float:
    """The per-query protocol: cache clear + untimed full GC (isolate
    from session debris — the r4 forensics class), one untimed warmup
    (whole-stage-codegen JIT, which amortizes on a real cluster), then
    best-of-2 timed runs to damp GC/scheduler noise. 2 decimals (10 ms):
    per-query widths are the final line's dominant cost."""
    spark.catalog.clearCache()
    try:
        spark._jvm.System.gc()
    except Exception:
        pass
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def run_headline(
    spark, queries, sf_dir: str
) -> tuple[dict[str, float], dict[str, str]]:
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            # fn lookup inside try: a renamed/unregistered query records
            # as an error instead of sinking the whole run
            timings[name] = measure_query(spark, queries[name], sf_dir)
        except Exception as e:  # one broken query must not sink the suite
            errors[name] = str(e).splitlines()[0][:160]
    return timings, errors


# --- in-suite pressure defense (r10 verdict item 1) --------------------------
# The neighbor-CPU guard catches EXTERNAL load, but BENCH_r10 shipped
# q_dedup_clusters_lsh at 4.44 s when the code's standalone number was
# 2.52 s — pressure from the suite's own session debris (accumulated
# checkpoint blocks / JVM heap state on the most scheduling-sensitive
# query), which per-query clearCache+GC demonstrably cannot always
# drain. Defense: any scale-path query whose best-of-2 lands far above
# its trailing-artifact band re-runs once in a FRESH SparkSession (the
# old context's broadcasts, checkpoint RDDs and cache die with it); the
# artifact ships the per-query minimum plus a `rerun` block recording
# both arms, so a number that stays high is visibly load-adjudicated
# instead of silently wrong.
TRAILING_BAND_ROUNDS = 3
BAND_RATIO = 1.5  # trigger: t > max(ratio * trailing_min, min + slack)
BAND_ABS_SLACK = 0.5  # seconds; keeps sub-second noise out of the trigger


def _bench_round(path: str) -> int:
    """Round number parsed from a BENCH_rNN.json filename (-1 if absent).
    The trailing window MUST sort on this, not the raw filename: the
    zero-padded naming sorts lexicographically only through r99
    (BENCH_r100 < BENCH_r11), so a filename sort would silently pick the
    wrong rounds past that (ADVICE r11)."""
    m = re.search(r"BENCH_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


def trailing_minima(sf: float, root: str | None = None) -> dict[str, float]:
    """Per-query minimum over the last TRAILING_BAND_ROUNDS shipped bench
    artifacts (BENCH_r*.json at the repo root) at the same sf — the
    cleanest recent measurement of each query, the reference the in-suite
    pressure trigger compares against. ``root`` overrides the artifact
    directory (tests point it at fixture artifacts)."""
    repo_root = root or os.path.dirname(os.path.abspath(__file__))
    paths = sorted(
        glob.glob(os.path.join(repo_root, "BENCH_r*.json")), key=_bench_round
    )
    out: dict[str, float] = {}
    for p in paths[-TRAILING_BAND_ROUNDS:]:
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        # the driver wraps the bench's final line under "parsed"; a raw
        # final line (self-recorded) carries "queries" at the top level
        if isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        try:
            if abs(float(data.get("sf", -1.0)) - sf) > 1e-9:
                continue
        except (TypeError, ValueError):
            continue
        for name, sec in (data.get("queries") or {}).items():
            if isinstance(sec, (int, float)):
                out[name] = min(out.get(name, float("inf")), float(sec))
    return out


# --- worst-N offender defense (r14, VERDICT r13 item 6) ---------------------
# The hard band trigger (1.5x + 0.5 s slack) deliberately ignores
# sub-second noise, so a loaded box can ship 20-30 small-query
# "regressions" per run with no adjudication (r13: 29 regressed rows,
# load.pre 18.2, none flagged). Extension: the N worst offenders vs the
# trailing band ABOVE a soft floor also get the fresh-session arm. N is
# capped so the added wall is bounded (each rerun is one standalone
# best-of-2 on a sub-second query); the pairs ship in the same
# load.rerun block, so PERF_r{N} compares defended numbers.
WORST_N_RERUN = 6
WORST_N_MIN_RATIO = 1.2
WORST_N_MIN_ABS = 0.05  # seconds over band — keeps 10 ms jitter out


def worst_offenders(
    timings: dict[str, float],
    bands: dict[str, float],
    exclude: set[str],
    n: int = WORST_N_RERUN,
) -> list[str]:
    """The n queries with the largest in-suite/band ratio that exceed the
    soft floor and aren't already hard-flagged — the sub-threshold noise
    the r13 PERF counted as 29 regressions."""
    scored = [
        (t / bands[name], name)
        for name, t in timings.items()
        if name not in exclude
        and bands.get(name)
        and t > max(WORST_N_MIN_RATIO * bands[name], bands[name] + WORST_N_MIN_ABS)
    ]
    return [name for _, name in sorted(scored, reverse=True)[:n]]


def band_outliers(
    timings: dict[str, float], bands: dict[str, float]
) -> list[str]:
    """Queries whose in-suite best-of-2 exceeds the trailing band —
    candidates for the fresh-session standalone arm. r13 measurement
    fix: the ORACLE_BASELINES lane is no longer exempt — its seconds
    ship in the same per-query map, and excluding it let BENCH r13's
    baseline run ship q_embedding_neardup at 11.57 s (13x its trailing
    band; standalone truth 1.53 s) with no adjudication pair — the
    exact artifact-lies class the headline and tier defenses exist
    for. The two baseline entries stay out of the headline `value`
    either way; this only buys their rows the same honesty."""
    return [
        n
        for n, t in timings.items()
        if n in bands
        and t > max(BAND_RATIO * bands[n], bands[n] + BAND_ABS_SLACK)
    ]


def main() -> None:
    sf_dir = default_sf_dir()
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    load_pre = round(os.getloadavg()[0], 1)  # pre-Spark: neighbors only
    spark = get_spark(app_name="aram-etl-bench")
    queries = all_queries()

    s0 = _cpu_snapshot()
    timings, errors = run_headline(spark, queries, sf_dir)
    nbr = neighbor_share(s0, _cpu_snapshot())
    nbr_shares = [nbr] if nbr is not None else []
    if nbr is not None and nbr > NEIGHBOR_RERUN_SHARE:
        # neighbors owned the box (the r9 contamination class): one
        # defensive re-run, then keep the per-query minima — both shares
        # ship on the final line so the artifact can't silently lie
        print(
            f"LOAD_WARN neighbor_cpu_share={nbr} > {NEIGHBOR_RERUN_SHARE}; "
            "re-running headline suite once",
            flush=True,
        )
        s0 = _cpu_snapshot()
        timings2, errors2 = run_headline(spark, queries, sf_dir)
        nbr2 = neighbor_share(s0, _cpu_snapshot())
        if nbr2 is not None:
            nbr_shares.append(nbr2)
        for name, sec in timings2.items():
            timings[name] = min(timings.get(name, float("inf")), sec)
        errors = {n: e for n, e in errors.items() if n in errors2}

    # in-suite pressure arm: band-flagged queries re-measure in a fresh
    # session; both arms ship in the load block (see trailing_minima)
    rerun_block: dict[str, list[float]] = {}
    bands = trailing_minima(sf)
    suspects = band_outliers(timings, bands)
    extras = worst_offenders(timings, bands, exclude=set(suspects))
    if suspects or extras:
        print(
            f"BAND_WARN in-suite outliers vs trailing artifacts: {suspects};"
            f" worst-N soft offenders: {extras};"
            " re-running each standalone in a fresh SparkSession",
            flush=True,
        )
        spark.stop()
        spark = get_spark(app_name="aram-etl-bench-standalone")
        for name in suspects + extras:
            try:
                standalone = measure_query(spark, queries[name], sf_dir)
            except Exception as e:
                # fresh-session arm died: the in-suite number still ships
                # (it is a real measurement) but the rerun block records
                # the attempt as [suspect, null] so a band-flagged number
                # never ships without visible adjudication (ADVICE r11 —
                # previously the timing shipped clean-looking next to a
                # contradictory errors entry for the same key)
                rerun_block[name] = [timings[name], None]
                errors[name] = str(e).splitlines()[0][:160]
                continue
            rerun_block[name] = [timings[name], standalone]
            timings[name] = min(timings[name], standalone)

    scale_total = round(
        sum(t for n, t in timings.items() if n not in ORACLE_BASELINES), 3
    )
    baseline_total = round(
        sum(t for n, t in timings.items() if n in ORACLE_BASELINES), 3
    )
    # --- telemetry: separate stdout lines + sidecar file, NEVER on the
    # final line. The driver parses only a bounded stdout TAIL (~2000
    # chars); round 6's graph_telemetry (full-precision float arrays on
    # the single output line) pushed the JSON's start past the window and
    # the driver recorded `parsed: null` (VERDICT r6 item 1). Contract
    # from round 7 on: every diagnostic blob prints EARLY with its own
    # prefix and lands in bench_telemetry.json; the LAST line is a
    # compact headline-only JSON that always fits the tail.
    load_block = {"pre": load_pre, "nbr": nbr_shares}
    if rerun_block:
        load_block["rerun"] = rerun_block
    telemetry: dict = {
        # duplicated from the final line so compact_final_line may shed
        # them there without information loss
        "scale_total": scale_total,
        "oracle_baseline_total": baseline_total,
        "grand_total": round(scale_total + baseline_total, 3),
        "load": load_block,
        "microbench": {},
    }
    try:
        telemetry["microbench"]["cc_deep_chain"] = cc_deep_chain_microbench(spark)
    except Exception as e:  # microbench failure must not sink the suite
        telemetry["microbench"]["cc_deep_chain"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["kmv_vs_exact"] = kmv_vs_exact_microbench(spark)
    except Exception as e:
        telemetry["microbench"]["kmv_vs_exact"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["events_skew"] = events_skew_microbench(spark)
    except Exception as e:
        telemetry["microbench"]["events_skew"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["setsim_prefix"] = setsim_prefix_microbench(
            spark
        )
    except Exception as e:
        telemetry["microbench"]["setsim_prefix"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["market_skew"] = market_skew_microbench(spark)
    except Exception as e:
        telemetry["microbench"]["market_skew"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["lsh_skew"] = lsh_skew_microbench(spark)
    except Exception as e:
        telemetry["microbench"]["lsh_skew"] = {"error": str(e)[:160]}
    try:
        telemetry["microbench"]["semdedup_skew"] = semdedup_skew_microbench(
            spark
        )
    except Exception as e:
        telemetry["microbench"]["semdedup_skew"] = {"error": str(e)[:160]}

    # retired headline queries (ADVICE r12): the six sub-0.3 s row maps
    # that left the suite keep a telemetry-only perf record each run, so
    # a large regression in any of them is visible in the sidecar even
    # though the final-line budget no longer carries them
    telemetry["retired"] = {}
    for name in RETIRED_WATCH:
        try:
            telemetry["retired"][name] = measure_query(
                spark, queries[name], sf_dir
            )
        except Exception as e:
            telemetry["retired"][name] = str(e).splitlines()[0][:100]

    # 10x replicated-fixture tier: compact ratios go on the final line
    # (the judge-facing scaling factors), full seconds + build cost to
    # the telemetry sidecar. The band arm may swap the SparkSession —
    # run_scale_tier returns the live one.
    scale_tier_compact: dict | None = None
    tier_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_scale_tier"
    )
    if os.environ.get("SPARK_GRAFT_SCALE_TIER", "1") != "0":
        try:
            scale_tier_compact, tier_detail, spark = run_scale_tier(
                spark, queries, sf_dir, timings, sf
            )
            telemetry["scale_tier"] = tier_detail
        except Exception as e:
            scale_tier_compact = {"error": str(e)[:160]}
            telemetry["scale_tier"] = scale_tier_compact
            # the band arm stops the suite session BEFORE spawning its
            # fresh one — if get_spark itself threw, the local `spark`
            # still points at the stopped context and every later block
            # (capstone, CC/graph telemetry) would fail with swallowed
            # "SparkContext was shut down" errors. Rebind to a live
            # session (getOrCreate: no-op when the old one survived).
            try:
                spark = get_spark()
            except Exception:
                pass

    # corpus-prep capstone (VERDICT r12 item 3): bench-invisible on the
    # final line (it re-measures five already-benched stage plans and
    # the budget is spoken for) but the telemetry sidecar has no such
    # budget, and the capstone is where a composition-level plan
    # regression (a join that stops broadcasting, a stage graph that
    # re-executes) would surface first. Full protocol at 1x; tier arm
    # warmup + single timed run (the capstone is the suite's most
    # expensive composition at 10x — best-of-2 would double a cost the
    # trailing band can absorb). Its seconds ride the tier history entry
    # (reserved "_corpus_prep*" keys) so next round's run sees a band.
    # EXPECTED tier ratio ~10x, NOT a regression: the capstone's
    # semdedup stage is the hash-oracled FIXED-k (KMEANS_K=8) graph —
    # its oracle is an unrolled-Lloyd CTE generated for that k — so at
    # 10x corpus it pays the designed O(n^2/k) within-cell blow-up
    # measured in SCALE.md "semdedup cell knob". The production-policy
    # scaling number is q_semdedup_scaled's tier ratio (k = n/250,
    # sub-linear); watch THIS block for drift against its band, not for
    # absolute linearity.
    cp: dict = {}
    try:
        cp["sec"] = measure_query(spark, queries["q_corpus_prep"], sf_dir)
        # the production arm (r13): same pipeline body, semantic stage
        # swapped to q_semdedup_hier (corpus-scaled k, hierarchical
        # assignment) — its tier ratio vs the oracled capstone's IS the
        # measured claim that the production policy removes the fixed-k
        # O(n^2/k) term the block comment above documents
        cp["scaled_sec"] = measure_query(
            spark, queries["q_corpus_prep_scaled"], sf_dir
        )
        bands = tier_trailing_minima(sf, SCALE_TIER_K, _SCALE_TIER_VERSION)
        band = {
            k: bands[f"_corpus_prep{suffix}"]
            for k, suffix in (
                ("sec", ""),
                ("tier_sec", "_tier"),
                ("scaled_sec", "_scaled"),
                ("scaled_tier_sec", "_scaled_tier"),
            )
            if f"_corpus_prep{suffix}" in bands
        }
        if band:
            cp["band"] = band
        # validate the tier dir's marker against THIS run (same check
        # build_scale_tier_dir uses): with SPARK_GRAFT_SCALE_TIER=0 the
        # build/validate step above never ran, and a stale dir left by a
        # different src fixture (or a partial build) would yield ratios
        # whose numerator and denominator describe different corpora
        marker_ok = False
        try:
            with open(os.path.join(tier_dir, "_SCALE_TIER.json")) as mf:
                marker_ok = json.load(mf) == {
                    "src": sf_dir,
                    "k": SCALE_TIER_K,
                    "version": _SCALE_TIER_VERSION,
                }
        except (OSError, ValueError):
            pass
        if marker_ok and os.environ.get(
            "SPARK_GRAFT_CORPUS_PREP_TIER", "1"
        ) != "0":
            for key, qname in (
                ("tier_sec", "q_corpus_prep"),
                ("scaled_tier_sec", "q_corpus_prep_scaled"),
            ):
                fn = queries[qname]
                fn(spark, tier_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                t0 = time.perf_counter()
                fn(spark, tier_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                cp[key] = round(time.perf_counter() - t0, 2)
            if cp["sec"]:
                cp["ratio"] = round(cp["tier_sec"] / cp["sec"], 1)
            if cp["scaled_sec"]:
                cp["scaled_ratio"] = round(
                    cp["scaled_tier_sec"] / cp["scaled_sec"], 1
                )
        telemetry["microbench"]["corpus_prep"] = cp
    except Exception as e:
        telemetry["microbench"]["corpus_prep"] = {"error": str(e)[:160]}

    # ONE history entry per run: the tier seconds/anchors plus the
    # capstone's reserved keys (empty-run entries would displace real
    # ones from the trailing window)
    tier_detail = telemetry.get("scale_tier") or {}
    if isinstance(tier_detail.get("sec"), dict) and tier_detail["sec"]:
        hist_secs = dict(tier_detail["sec"])
        if cp.get("sec"):
            hist_secs["_corpus_prep"] = cp["sec"]
        if cp.get("tier_sec"):
            hist_secs["_corpus_prep_tier"] = cp["tier_sec"]
        if cp.get("scaled_sec"):
            hist_secs["_corpus_prep_scaled"] = cp["scaled_sec"]
        if cp.get("scaled_tier_sec"):
            hist_secs["_corpus_prep_scaled_tier"] = cp["scaled_tier_sec"]
        try:
            append_tier_history(
                sf, hist_secs, tier_detail.get("anchor_sec") or {}
            )
        except OSError:
            pass

    from aram_matchdata_etl_spark.operators.dedup import CC_TELEMETRY

    if CC_TELEMETRY:
        telemetry["cc_telemetry"] = CC_TELEMETRY
    from aram_matchdata_etl_spark.operators.graph import PR_TELEMETRY

    if PR_TELEMETRY:
        telemetry["graph_telemetry"] = PR_TELEMETRY

    repo_root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_root, "bench_telemetry.json"), "w") as f:
        json.dump(telemetry, f, indent=1, default=str)
    print("TELEMETRY " + json.dumps(telemetry, default=str))
    sys.stdout.flush()

    out = {
        "metric": "headline_suite_total",
        "value": scale_total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # load forensics: pre-Spark 1-min loadavg (neighbors only) +
        # measured neighbor CPU share per headline attempt — the r9
        # artifact shipped a +23% number with no way to see this
        "load": load_block,
        # `value` is the scale-path total; the oracle baselines
        # (intentionally-quadratic exact twins) are reported separately so
        # round-over-round trends track the paths that project to 100 TB.
        "oracle_baseline_total": baseline_total,
        "grand_total": round(scale_total + baseline_total, 3),
    }
    if scale_tier_compact is not None:
        out["scale_tier"] = scale_tier_compact
    if errors:
        out["errors"] = errors
    print(compact_final_line(out))


# the driver keeps only a bounded stdout TAIL (exactly 2000 chars in all
# twelve shipped BENCH_r* artifacts); anything that pushes the final
# JSON's start past it makes the whole bench unparseable (the r6
# failure). 1900 leaves >=100 chars of slack (ADVICE r12: 1950's 50
# chars assumed the tail is exactly 2000 forever — a driver variant
# with a marginally smaller tail would reintroduce the r6 class), paid
# for by shedding the telemetry-duplicated totals earlier.
# Enforced by tests/test_bench_contract.py.
FINAL_LINE_BUDGET = 1900


def _pair_discrepancy(pair) -> float:
    """How much a rerun adjudication pair's two arms disagree — the trim
    rungs keep the most-disagreeing pairs (the ones that carry actual
    adjudication information). A failed fresh arm (None) sorts first:
    a flagged number whose defense died must stay visible."""
    if not isinstance(pair, list) or len(pair) < 2:
        return float("inf")
    a, b = pair[0], pair[1]
    if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
        return float("inf")
    return abs(a - b)


def _trim_rerun(block: dict, keep: int, pinned: set[str]) -> None:
    """Trim ``block['rerun']`` to the ``pinned`` keys plus the ``keep``
    most-discrepant others, recording the dropped count in-band as
    ``rerun_shed`` (the full pairs always ride the telemetry sidecar —
    the marker keeps the shed visible on the driver-parsed line so a
    trimmed defense can never be mistaken for a quiet run)."""
    rr = block.get("rerun")
    if not isinstance(rr, dict):
        return
    rest = sorted(
        (n for n in rr if n not in pinned),
        key=lambda n: -_pair_discrepancy(rr[n]),
    )
    kept = {n: rr[n] for n in rr if n in pinned or n in rest[:keep]}
    if len(kept) < len(rr):
        block["rerun_shed"] = block.get("rerun_shed", 0) + (len(rr) - len(kept))
        block["rerun"] = kept


def compact_final_line(out: dict) -> str:
    """Render the headline JSON line, guaranteed to fit the driver's
    stdout tail: shed optional blocks (largest-expendable first) before
    ever touching the per-query timings the gate actually records.

    r14 rework (VERDICT r13 item 2: the 62-query driver line overflowed
    and the old ladder went straight from whole blocks to bare cores,
    losing the tier ratios and the load forensics in one run):
      - the positional-array compression of the tier ratios is LOSSLESS
        and now applies unconditionally, before the budget is measured;
      - rerun blocks TRIM to their most-disagreeing pairs with an
        in-band ``rerun_shed`` count before anything drops whole, and
        the ORACLE_BASELINES keys are pinned in the load block (the
        judge adjudicates the baseline lane from THIS line);
      - the tier ratios exist only on this line, so they outlive
        everything except the adjudication cores themselves (a flagged
        number must never ship looking clean — r11 contract)."""

    def compress_tier() -> None:
        # name->ratio dict becomes a positional array in bench.SCALE_TIER
        # order (~1/4 the width): "order" documents the convention
        # in-band. Lossless — applied before the budget is ever checked.
        st = out.get("scale_tier")
        if (
            isinstance(st, dict)
            and isinstance(st.get("ratios"), dict)
            and st["ratios"]
            and set(st["ratios"]) <= set(SCALE_TIER)  # else lossy: skip
        ):
            st = dict(st)
            st["order"] = "SCALE_TIER"
            st["r"] = [st["ratios"].get(n) for n in SCALE_TIER]
            del st["ratios"]
            out["scale_tier"] = st

    def drop_load_pre() -> None:
        lb = out.get("load")
        if isinstance(lb, dict):
            lb.pop("pre", None)

    def trim_tier_rerun() -> None:
        st = out.get("scale_tier")
        if isinstance(st, dict):
            _trim_rerun(st, keep=3, pinned=set())

    def strip_load() -> None:
        lb = out.get("load")
        if isinstance(lb, dict) and lb.get("rerun"):
            out["load"] = {
                k: lb[k] for k in ("rerun", "rerun_shed") if k in lb
            }
        else:
            out.pop("load", None)

    def trim_load_rerun() -> None:
        lb = out.get("load")
        if isinstance(lb, dict):
            _trim_rerun(lb, keep=1, pinned=ORACLE_BASELINES)

    def strip_tier() -> None:
        # the deep-pressure rung: adjudication pairs outlive the ratios
        # (honesty before information richness)
        st = out.get("scale_tier")
        if isinstance(st, dict) and st.get("rerun"):
            out["scale_tier"] = {
                k: st[k]
                for k in ("k", "rerun", "rerun_shed")
                if k in st
            }
        else:
            out.pop("scale_tier", None)

    compress_tier()
    line = json.dumps(out, separators=(",", ":"))
    steps = (
        # the totals always ride the TELEMETRY line/sidecar — losing
        # them here loses nothing
        lambda: out.pop("grand_total", None),
        lambda: out.pop("oracle_baseline_total", None),
        drop_load_pre,
        lambda: out.pop("errors", None),
        trim_tier_rerun,
        strip_load,
        trim_load_rerun,
        strip_tier,  # ratios die here, after every trim rung above
        lambda: out.pop("load", None),
        lambda: out.pop("scale_tier", None),
    )
    for step in steps:
        if len(line) <= FINAL_LINE_BUDGET:
            break
        step()
        line = json.dumps(out, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
