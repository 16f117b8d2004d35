"""The workloads, each a closed loop with one client and one job in
flight, in an untraced form (end-to-end metrics) and a traced form
(per-layer metrics).

A resolve runs ~60 Spark jobs and costs ~8-10 s of fixed, mostly
driver-side time whatever the input size; ``er_hot_hosts`` is sized so
that the candidate stage, which grows with the input, is most of its
resolve (see README.md).  ``er_chains`` runs by name but is not in
BENCHMARK.json: it is the self-tests' precise-blocking control.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pandas as pd

import checks
import gen
import harness
from tracing import SPARK_LAYERS, RUNTIME, Tracer, attribute_event_log

K = gen.K
SIG_CAP = 1000  # resolve's default
MAX_LEN = 96    # resolve's default

ER = {
    # Zipf hosts with long names: a host prefix fills a whole PassJoin
    # segment, so blocking and verify carry the waste
    "er_hot_hosts": dict(n_clusters=2400, n_hosts=20, zipf_s=1.0,
                         chain_len=0, title_words=3, host_len=22),
    # uniform short hosts, 16-step chains: precise blocking
    "er_chains": dict(n_clusters=200, n_hosts=200, zipf_s=0.0,
                      chain_len=16, title_words=5, host_len=12),
}
FUZZY = {"fuzzy_index": dict(n_words=100_000, batch=8, shards=32)}
# Warm-up before timing: the second resolve of a process can still run
# up to 17 % slower than the third, and lookup batches settle after
# about eight (JIT, whole-stage codegen, worker-side shard and DFA
# caches); see runs/warmup-probe.jsonl.
WARM_RESOLVES = 2
WARM_BATCHES = 8
WORKLOADS = (*ER, *FUZZY)

LAYER_METRICS = (
    "blocking.normalize_s", "blocking.distinct_keys", "blocking.candidate_s",
    "blocking.verified_pairs", "blocking.verified_pairs_per_s",
    "passjoin.signature_rows", "passjoin.max_block", "passjoin.capped_sigs",
    "passjoin.candidate_id_pairs", "passjoin.join_s", "passjoin.precision",
    "verify.prefilter_pass_ratio", "verify.osa_pass_ratio", "verify.s",
    "kernels.osa_pairs_per_s", "kernels.jw_pairs_per_s",
    "scoring.score_s", "scoring.match_edges",
    "clustering.cc_s", "clustering.cc_spark_jobs", "clustering.components",
    "clustering.max_component",
    "pipeline.joinback_s",
    "automata.dfa_compile_ms", "automata.dfa_states",
    "index.shards", "index.artifact_bytes", "index.build_s",
    "index.cold_batch_s", "index.warm_batch_s", "index.hits_per_query",
    "index.walk_s",
    "trace.resolve_s", "trace.overhead_s", "trace.coverage",
    *(f"{layer}.{m}" for layer in SPARK_LAYERS for m in RUNTIME),
)


class Run:
    """Counts attempted and failed operations and checks of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


def _mb(parts: dict[str, int]) -> dict[str, float]:
    return {k: round(v / 2**20, 1) for k, v in parts.items()}


# -- entity resolution -----------------------------------------------------------


def _er_inputs(name: str, seed: int, scale: float, run: Run):
    spec = ER[name]
    urls, cids, n = gen.gen_pages(
        seed, max(8, int(spec["n_clusters"] * scale)), spec["n_hosts"],
        spec["zipf_s"], spec["chain_len"], spec["title_words"], spec["host_len"],
    )
    errs = gen.separation_sample(urls, cids, seed)
    run.check(not errs, "; ".join(errs))
    return urls, cids, n


def _resolve(pages):
    from orchid_fst_spark.er import resolve

    return resolve(pages, k=K, damerau=True)


def _load_pages(spark, urls):
    return spark.createDataFrame(pd.DataFrame({"url": urls})).localCheckpoint()


def run_er(name: str, seed: int, seconds: float, scale: float, run: Run) -> dict:
    from orchid_fst_spark.er.pipeline import pairwise_f1

    urls, cids, n_pages = _er_inputs(name, seed, scale, run)
    t0 = time.perf_counter()
    spark = harness.start_spark()
    sampler = harness.MemSampler(spark)
    try:
        pages = _load_pages(spark, urls)
        for _ in range(WARM_RESOLVES):
            _resolve(pages)
        setup_s = time.perf_counter() - t0

        truth = spark.createDataFrame(pd.DataFrame({"url": urls, "cluster_id": cids}))
        times: list[float] = []
        first = None
        while sum(times) < seconds:
            with sampler.active():
                t = time.perf_counter()
                out = _resolve(pages)
                times.append(time.perf_counter() - t)
            d = checks.resolve_digest(out)
            if first is None:
                first = d
                f1 = pairwise_f1(out, truth)["f1"]
                run.check(f1 >= 0.99, f"pairwise_f1 {f1:.4f} < 0.99")
            run.check(d == first, f"resolve digest {d} != {first}")
    finally:
        sampler.close()
        harness.stop_spark(spark)
    op = statistics.median(times)
    return {
        "setup_s": setup_s,
        "op_p50_s": op,
        "items_per_s": n_pages * len(times) / sum(times),
        "peak_mem_mb": sampler.peak_bytes / 2**20,
        "output_f1": f1,
        "_info": {"pages": n_pages, "ops": len(times),
                  "peak_mem_parts_mb": _mb(sampler.parts),
                  "tail": harness.tail(times)},
    }


def run_er_traced(name: str, seed: int, scale: float, run: Run) -> tuple[dict, Tracer]:
    from pyspark.sql import functions as F
    from orchid_fst_spark.er.clustering import connected_components
    from orchid_fst_spark.er.blocking import normalize_pages
    from orchid_fst_spark.er.scoring import match_edges, score_pairs
    from orchid_fst_spark.functions.distance import batch_levenshtein
    from orchid_fst_spark.functions.similarity import batch_jaro_winkler
    from orchid_fst_spark.operators.dictionary import _verified_pairs
    from orchid_fst_spark.operators.passjoin import (
        passjoin_index, passjoin_metrics, passjoin_probe,
        passjoin_self_candidates,
    )

    urls, _cids, _n = _er_inputs(name, seed, scale, run)
    spark = harness.start_spark(event_log=True)
    sc = spark.sparkContext
    tr = Tracer(sc)
    try:
        sc.setJobGroup("perfbench", "untraced")
        pages = _load_pages(spark, urls)
        _resolve(pages)
        t = time.perf_counter()
        ref = _resolve(pages)
        ref_s = time.perf_counter() - t
        ref_digest = checks.resolve_digest(ref)

        def mat(df):
            return df.localCheckpoint(eager=True)

        with tr.span("pipeline.resolve", "trace") as root:
            with tr.span("blocking.normalize_pages", "blocking"):
                normalized = mat(normalize_pages(pages).select("url", "norm_key"))
            with tr.span("blocking.candidate_pairs", "blocking"):
                with tr.span("blocking.keys", "blocking"):
                    keymap = mat(
                        normalized.select(F.col("norm_key").alias("key"))
                        .filter(F.length("key") > 0).distinct()
                        .select("key", F.xxhash64("key").alias("kid"))
                    )
                with tr.span("passjoin.passjoin_self_candidates", "passjoin"):
                    cand_ids = mat(passjoin_self_candidates(
                        keymap, k=K, max_len=MAX_LEN, sig_cap=SIG_CAP))
                with tr.span("blocking.id_joinback", "blocking"):
                    cand = mat(
                        cand_ids.join(keymap.select(F.col("kid").alias("key_a"),
                                                    F.col("key").alias("ka")), "key_a")
                        .join(keymap.select(F.col("kid").alias("key_b"),
                                            F.col("key").alias("kb")), "key_b")
                        .select(F.least("ka", "kb").alias("key_a"),
                                F.greatest("ka", "kb").alias("key_b"))
                    )
                with tr.span("verify.prefilter", "verify"):
                    pre = mat(cand.filter(
                        F.levenshtein("key_a", "key_b", 2 * K) >= 0))
                with tr.span("verify.osa", "verify"):
                    pairs = mat(_verified_pairs(pre, K, True))
            with tr.span("scoring.score_match", "scoring"):
                edges = mat(match_edges(score_pairs(pairs), k=K))
            with tr.span("clustering.connected_components", "clustering"):
                comps = mat(connected_components(edges, src="key_a", dst="key_b"))
            with tr.span("pipeline.joinback", "pipeline"):
                out = mat(
                    normalized.join(
                        comps.withColumnRenamed("node", "norm_key")
                        .withColumnRenamed("component", "cluster_id"),
                        "norm_key", "left")
                    .withColumn("cluster_id", F.coalesce("cluster_id", "norm_key"))
                    .select("url", "norm_key", "cluster_id")
                )
        traced_s = root["end"] - root["start"]
        cc_jobs = len(sc.statusTracker().getJobIdsForGroup("clustering"))

        # resolves still speed up while the JVM warms: bracket the traced
        # one with an untraced resolve on each side
        t = time.perf_counter()
        ref2 = _resolve(pages)
        ref_s = (ref_s + time.perf_counter() - t) / 2
        run.check(checks.resolve_digest(ref2) == ref_digest,
                  "resolve() output changed between runs")

        sc.setJobGroup("perfbench", "stats")
        run.check(checks.resolve_digest(out) == ref_digest,
                  "traced resolve differs from resolve()")
        n_keys = keymap.count()
        n_cand = cand_ids.count()
        n_keypairs = cand.count()
        n_pre = pre.count()
        n_ver = pairs.count()
        n_edges = edges.count()
        idx = passjoin_index(keymap, K, MAX_LEN)
        sig_rows = idx.count() + passjoin_probe(keymap, K, MAX_LEN).count()
        max_block = passjoin_metrics(keymap, K, MAX_LEN).collect()[0].max_block
        capped = idx.groupBy("sig").count().filter(F.col("count") > SIG_CAP).count()
        sizes = comps.groupBy("component").count()
        comp_row = sizes.agg(F.count("*").alias("n"), F.max("count").alias("m")).collect()[0]
        sample = (pre.orderBy(F.xxhash64("key_a", "key_b")).limit(20000)
                  .toPandas())
        with tr.span("kernels.batch_levenshtein", "functions"):
            osa_rate = _pairs_per_s(lambda a, b: batch_levenshtein(
                a, b, clamp=K, transpositions=True), sample)
        with tr.span("kernels.batch_jaro_winkler", "functions"):
            jw_rate = _pairs_per_s(batch_jaro_winkler, sample)
    finally:
        harness.stop_spark(spark)

    coverage = 1.0 - tr.self_times()[root["span_id"]] / traced_s
    run.check(coverage >= 0.9, f"layer self times cover {coverage:.3f} of the traced resolve")
    m = {k: 0.0 for k in LAYER_METRICS}
    cand_s = tr.duration("blocking.candidate_pairs")
    verify_s = tr.duration("verify.prefilter") + tr.duration("verify.osa")
    m.update({
        "blocking.normalize_s": tr.duration("blocking.normalize_pages"),
        "blocking.distinct_keys": n_keys,
        "blocking.candidate_s": cand_s,
        "blocking.verified_pairs": n_ver,
        "blocking.verified_pairs_per_s": n_ver / cand_s,
        "passjoin.signature_rows": sig_rows,
        "passjoin.max_block": max_block or 0,
        "passjoin.capped_sigs": capped,
        "passjoin.candidate_id_pairs": n_cand,
        "passjoin.join_s": tr.duration("passjoin.passjoin_self_candidates"),
        "passjoin.precision": n_ver / n_cand if n_cand else 0.0,
        "verify.prefilter_pass_ratio": n_pre / n_keypairs if n_keypairs else 0.0,
        "verify.osa_pass_ratio": n_ver / n_pre if n_pre else 0.0,
        "verify.s": verify_s,
        "kernels.osa_pairs_per_s": osa_rate,
        "kernels.jw_pairs_per_s": jw_rate,
        "scoring.score_s": tr.duration("scoring.score_match"),
        "scoring.match_edges": n_edges,
        "clustering.cc_s": tr.duration("clustering.connected_components"),
        "clustering.cc_spark_jobs": cc_jobs,
        "clustering.components": comp_row.n,
        "clustering.max_component": comp_row.m or 0,
        "pipeline.joinback_s": tr.duration("pipeline.joinback"),
        "trace.resolve_s": traced_s,
        "trace.overhead_s": traced_s - ref_s,
        "trace.coverage": coverage,
    })
    m.update(attribute_event_log(os.path.join(harness.SCRATCH, "eventlog"), tr))
    return m, tr


def _pairs_per_s(fn, sample: pd.DataFrame) -> float:
    """Single-thread kernel rate on a fixed pair sample (best of 3)."""
    a, b = sample["key_a"].tolist(), sample["key_b"].tolist()
    if not a:
        return 0.0
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        fn(a, b)
        best = min(best, time.perf_counter() - t)
    return len(a) / best


# -- fuzzy index -----------------------------------------------------------------


def _fuzzy_inputs(seed: int, scale: float):
    spec = FUZZY["fuzzy_index"]
    from orchid_fst_spark.sources.fixtures import gen_dict_words

    words = gen_dict_words(max(2000, int(spec["n_words"] * scale)), seed=seed)
    return spec, words, checks.FuzzyOracle(words, K)


def _build(spark, dict_df, spec):
    from orchid_fst_spark.operators.index import build_index, load_index

    path = os.path.join(harness.SCRATCH, "index")
    build_index(dict_df, path, n_shards=spec["shards"])
    return load_index(spark, path), path


def _lookup(idx, queries):
    from orchid_fst_spark.operators.index import index_fuzzy_lookup_many

    return index_fuzzy_lookup_many(idx, queries, K, damerau=True).collect()


def _check_batch(run: Run, rows, queries, oracle) -> tuple[int, int, int]:
    tp, rep, exp = checks.batch_check(rows, queries, oracle)
    run.check(tp == rep == exp, f"batch hits differ from the DP oracle "
                                f"(tp={tp} reported={rep} expected={exp})")
    return tp, rep, exp


def run_fuzzy(seed: int, seconds: float, scale: float, run: Run) -> dict:
    spec, words, oracle = _fuzzy_inputs(seed, scale)
    rng = random.Random(seed)
    totals = [0, 0, 0]
    t0 = time.perf_counter()
    spark = harness.start_spark()
    sampler = harness.MemSampler(spark)
    try:
        dict_df = spark.createDataFrame(pd.DataFrame({"key": words})).localCheckpoint()
        idx, _ = _build(spark, dict_df, spec)
        warm = []
        for _ in range(WARM_BATCHES):
            queries = gen.gen_queries(rng, words, spec["batch"])
            warm.append((_lookup(idx, queries), queries))
        setup_s = time.perf_counter() - t0
        for rows, queries in warm:
            _check_batch(run, rows, queries, oracle)
        times: list[float] = []
        while sum(times) < seconds:
            queries = gen.gen_queries(rng, words, spec["batch"])
            with sampler.active():
                t = time.perf_counter()
                rows = _lookup(idx, queries)
                times.append(time.perf_counter() - t)
            totals = [a + b for a, b in zip(totals, _check_batch(run, rows, queries, oracle))]
    finally:
        sampler.close()
        harness.stop_spark(spark)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times),
        "items_per_s": spec["batch"] * len(times) / sum(times),
        "peak_mem_mb": sampler.peak_bytes / 2**20,
        "output_f1": checks.f1(*totals),
        "_info": {"words": len(words), "batch": spec["batch"], "ops": len(times),
                  "peak_mem_parts_mb": _mb(sampler.parts),
                  "tail": harness.tail(times)},
    }


def run_fuzzy_traced(seed: int, scale: float, run: Run) -> tuple[dict, Tracer]:
    from orchid_fst_spark.automata.lev_dfa import compile_dfa

    spec, words, oracle = _fuzzy_inputs(seed, scale)
    rng = random.Random(seed)
    spark = harness.start_spark(event_log=True)
    sc = spark.sparkContext
    tr = Tracer(sc)
    batches: list[dict] = []
    try:
        sc.setJobGroup("perfbench", "untraced")
        dict_df = spark.createDataFrame(pd.DataFrame({"key": words})).localCheckpoint()
        idx, path = _build(spark, dict_df, spec)
        for _ in range(8):
            queries = gen.gen_queries(rng, words, spec["batch"])
            with tr.span("fuzzy.batch", "trace"):
                with tr.span("automata.compile_dfa", "automata") as c:
                    states = [len(compile_dfa(q, K, True).trans) for q in queries]
                with tr.span("index.index_fuzzy_lookup_many", "index") as q:
                    rows = _lookup(idx, queries)
            batches.append({"compile": c["end"] - c["start"],
                            "lookup": q["end"] - q["start"],
                            "states": sum(states), "hits": len(rows)})
            _check_batch(run, rows, queries, oracle)
        untraced = []
        for _ in range(3):
            queries = gen.gen_queries(rng, words, spec["batch"])
            t = time.perf_counter()
            rows = _lookup(idx, queries)
            untraced.append(time.perf_counter() - t)
            _check_batch(run, rows, queries, oracle)
        with tr.span("index.build_index", "index") as bld:
            idx, path = _build(spark, dict_df, spec)
        sc.setJobGroup("perfbench", "stats")
        shards = idx.count()
    finally:
        harness.stop_spark(spark)
    n_q = spec["batch"] * len(batches)
    warm = batches[1:]
    m = {k: 0.0 for k in LAYER_METRICS}
    m.update({
        "automata.dfa_compile_ms": 1000 * sum(b["compile"] for b in batches) / n_q,
        "automata.dfa_states": sum(b["states"] for b in batches) / n_q,
        "index.shards": shards,
        "index.artifact_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs),
        "index.build_s": bld["end"] - bld["start"],
        "index.cold_batch_s": batches[0]["lookup"],
        "index.warm_batch_s": statistics.median([b["lookup"] for b in warm]),
        "index.hits_per_query": sum(b["hits"] for b in batches) / n_q,
        "index.walk_s": statistics.median([b["lookup"] - b["compile"] for b in warm]),
        "trace.overhead_s": (statistics.median([b["lookup"] for b in warm])
                             - statistics.median(untraced)),
    })
    m.update(attribute_event_log(os.path.join(harness.SCRATCH, "eventlog"), tr))
    return m, tr
