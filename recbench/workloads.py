"""The two workloads: closed loops with one client and no extra threads.

``serve``: an interactive session against ``api.ProductSearchEngine`` over
a seeded catalog in the reference layout. Requests follow a fixed cycle
(vector search without and with metadata filters, hybrid search,
item-to-item, compare, ANN review search) whose parameters the seed draws.

``batch``: bulk offline ANN over a clustered corpus read through
``sources.tables.load_table``. Each cycle runs one query batch three times
through ``exact_knn`` and ``ivf_knn`` at a fixed nprobe, and once through
the five times slower ``pq_knn`` with refine.

Both time whole cycles until ``seconds`` have passed (at least one cycle),
check every answer against numpy, and return their end-to-end metrics.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pandas as pd

import checks
import gen

K = 10


def _geomean(xs) -> float:
    return float(np.exp(np.mean(np.log(xs))))


def _attempt(tracer, tally, name, call, check, phase="op"):
    """Time ``call()`` in a span, then check its result. An exception from
    the engine is a failed operation: it is reported, the span is marked
    failed, and the loop goes on."""
    try:
        with tracer.span(name, phase) as span:
            result = call()
    except Exception as e:  # noqa: BLE001 - the closed loop must keep running
        span.failed = True
        traceback.print_exc()
        tally.record(name, [f"raised {type(e).__name__}"])
        return span
    tally.record(name, check(result))
    return span


def _rates(ops, units_per_op: int) -> dict:
    """Throughput over all calls, and the geometric mean over call kinds of
    each kind's median latency (each kind weighs the same however often a
    cycle runs it), over the calls that succeeded; a failed call adds its
    time but no completed work."""
    ok = [s for s in ops if not s.failed] or ops
    kinds = {s.name for s in ok}
    return {
        "ops_per_s": sum(not s.failed for s in ops) * units_per_op / (sum(s.ms for s in ops) / 1e3),
        "geomean_ms": _geomean([np.median([s.ms for s in ok if s.name == k]) for k in kinds]),
    }


def _timed_cycles(seconds: float, run_cycle) -> float:
    """Run whole cycles 0, 1, ... until ``seconds`` of wall time have
    passed; return the wall time they took."""
    t0 = time.perf_counter()
    i = 0
    run_cycle(i)
    while time.perf_counter() - t0 < seconds:
        i += 1
        run_cycle(i)
    return time.perf_counter() - t0


def _cycle_loop(seconds: float, run_cycle, tracer) -> float:
    """The measured loop; returns its wall time. A traced run runs the
    same cycles three times: untraced to warm every call kind (its spans
    are dropped), traced, and untraced again as the baseline of the
    tracing overhead."""
    if not tracer.enabled:
        return _timed_cycles(seconds, run_cycle)
    with tracer.untraced():
        n = len(tracer.spans)
        _timed_cycles(seconds, run_cycle)
        del tracer.spans[n:]
    wall = _timed_cycles(seconds, run_cycle)
    with tracer.untraced():
        _timed_cycles(seconds, run_cycle)
    return wall


# -- serve -------------------------------------------------------------------

SERVE_PRODUCTS = 150
SERVE_REVIEWS = 1500
REVIEW_NPROBE = 8  # of the ~38 lists ann_review_search trains


def _query_text(rng) -> str:
    return " ".join(rng.choice(gen.VOCAB, int(rng.integers(2, 5)), replace=False))


def serve(spark, tracer, tally: checks.Tally, *, seed: int, seconds: float, work: str) -> dict:
    from vector_database_product_recommendation_spark.api import ProductSearchEngine
    from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN

    with tracer.span("gen.catalog", "setup"):
        cat = gen.make_catalog(seed, os.path.join(work, "catalog"), n_products=SERVE_PRODUCTS, n_reviews=SERVE_REVIEWS)
        cat.fit_tfidf(STOPWORDS_EN)
    with tracer.span("api.load", "setup"):
        engine = ProductSearchEngine.from_reference_dir(spark, cat.ref_dir, embedding_dim=gen.DIM)

    pids = cat.products["id"].to_numpy()
    all_products = cat.candidates()

    def request(name, call, check, phase="op", answers=1):
        span = _attempt(tracer, tally, name, call, check, phase)
        if span.failed:  # its exact top-k answer found nothing
            answer_recall.extend([0.0] * answers)
        return span

    def product_hits(rows):
        return [r["id"] for r in rows], [r["score"] for r in rows]

    def topk_answer(got, ids, scores):
        """Check one exact top-k answer and keep its recall@K."""
        answer_recall.append(checks.recall(got[0], gen.topk(ids, scores, K)[0]))
        return checks.check_topk(*got, ids, scores, K)

    def search(name, text, mask, **filters):
        return request(
            name,
            lambda: engine.search_products(text, k=K, **filters).collect(),
            lambda rows: topk_answer(product_hits(rows), *cat.search_scores(text, mask))
            + checks.check_product_fields(rows, cat.products),
        )

    def hybrid(text, alpha, name="api.hybrid", phase="op"):
        def check(rows):
            problems = topk_answer(product_hits(rows), *cat.hybrid_scores(text, all_products, alpha))
            if alpha == 1.0:  # hybrid at alpha=1 ranks like vector mode
                problems += checks.check_topk(*product_hits(rows), *cat.search_scores(text, all_products), K)
            return problems + checks.check_product_fields(rows, cat.products)

        return request(name, lambda: engine.search_products(text, k=K, mode="hybrid", alpha=alpha).collect(),
                       check, phase)

    def similar(pid):
        return request(
            "api.similar",
            lambda: engine.search_by_product_id(pid, k=K).collect(),
            lambda rows: topk_answer(product_hits(rows), *cat.similar_scores(pid))
            + checks.check_excludes(product_hits(rows)[0], pid) + checks.check_product_fields(rows, cat.products),
        )

    def compare(sel):
        return request("api.compare", lambda: engine.compare_products(sel).collect(),
                       lambda rows: checks.check_compare(rows, sel, cat.compare(sel)), answers=0)

    def ann_review(q_idx):
        def call():
            exact, ivf = engine.ann_review_search(q_idx, k=K, nprobe=REVIEW_NPROBE)
            return exact.collect(), ivf.collect()

        def check(result):
            ids, scores = cat.review_scores(q_idx)
            ex, iv = (checks.split_by_query(rows).get(q_idx, ([], [])) for rows in result)
            # the IVF half is one query per cycle: too few answers for a
            # bounded metric, so its recall is kept apart (per-layer)
            ann_recall.append(checks.recall(iv[0], gen.topk(ids, scores, K)[0]))
            return (topk_answer(ex, ids, scores) + checks.check_valid_subset(*iv, ids, scores, K)
                    + checks.check_excludes(iv[0], q_idx))

        return request("api.ann_review", call, check)

    # warm-up: the first hybrid search materializes the catalog caches and
    # fits TF-IDF, one-time costs that belong to set-up
    answer_recall: list[float] = []
    ann_recall: list[float] = []  # the IVF half of each ANN review answer
    hybrid(_query_text(np.random.default_rng(seed + 1)), 0.7, name="api.first_hybrid", phase="setup")
    answer_recall.clear()  # recall counts the measured answers only

    def cycle(i: int) -> None:
        rng = np.random.default_rng([seed + 1, i])  # cycle i's requests
        search("api.search", _query_text(rng), all_products)
        while True:  # every filter set, with at least one matching product
            f = dict(brand=str(rng.choice(gen.BRANDS)), min_rating=float(rng.choice([2.0, 3.0, 3.5])),
                     min_reviews=int(rng.choice([2, 4])))
            mask = cat.candidates(**f)
            if mask.any():
                break
        search("api.search_filtered", _query_text(rng), mask, **f)
        hybrid(_query_text(rng), float(rng.choice([1.0, 0.7, 0.5])))
        similar(str(rng.choice(pids)))
        compare([str(p) for p in rng.choice(pids, int(rng.integers(2, 5)), replace=False)])
        ann_review(int(rng.integers(cat.n_reviews)))

    t_setup_end = time.perf_counter()
    wall = _cycle_loop(seconds, cycle, tracer)
    return {
        "setup_end": t_setup_end,
        "wall_s": wall,
        **_rates(tracer.ops(), 1),
        "recall_at_10": float(np.mean(answer_recall)),
        "ann_review_recall_at_10": float(np.mean(ann_recall)) if ann_recall else 0.0,
    }


# -- batch -------------------------------------------------------------------

BATCH_N = 20_000
BATCH_CLUSTERS = 16
BATCH_QUERIES = 512
WARM_QUERIES = 16
# of the 141 lists: recall ~0.97, steady across seeds (at 8 lists it
# swings between 0.78 and 0.85)
BATCH_NPROBE = 16
PQ_M, PQ_KSUB, PQ_REFINE = 16, 64, 8
# calls per cycle: the short calls repeat, so each method is timed for a
# similar share of the cycle and its median is steadier
REPEATS = {"knn.exact": 3, "ivf.probe": 3, "pq.search": 1}


def batch(spark, tracer, tally: checks.Tally, *, seed: int, seconds: float, work: str) -> dict:
    from vector_database_product_recommendation_spark import artifacts
    from vector_database_product_recommendation_spark.operators.ivf import ivf_knn
    from vector_database_product_recommendation_spark.operators.knn import exact_knn
    from vector_database_product_recommendation_spark.operators.pq import pq_knn
    from vector_database_product_recommendation_spark.sources.tables import load_table

    with tracer.span("gen.corpus", "setup"):
        cor = gen.make_corpus(seed, os.path.join(work, "corpus"), n=BATCH_N, n_clusters=BATCH_CLUSTERS,
                              n_queries=BATCH_QUERIES, k=K)
        queries = spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(BATCH_QUERIES), "query_vec": list(cor.queries)}),
            "query_id long, query_vec array<double>",
        )
        warm = queries.filter(f"query_id < {WARM_QUERIES}")
        scores = np.round(cor.vecs @ cor.queries.T, gen.DECIMALS)  # (n, q)
    with tracer.span("sources.load_table", "setup"):
        emb = load_table(spark, cor.sf_dir, "embeddings")
    with tracer.span("artifacts.ivf_index", "setup"):
        cents, assigned = artifacts.ivf_index(spark, cor.sf_dir)
    with tracer.span("artifacts.pq_index", "setup"):
        books, codes = artifacts.pq_index(spark, cor.sf_dir, m=PQ_M, ksub=PQ_KSUB)
    nlist = cents.count()

    calls = {
        "knn.exact": lambda q: exact_knn(emb, q, K),
        "ivf.probe": lambda q, nprobe=BATCH_NPROBE: ivf_knn(assigned, cents, q, K, nprobe),
        "pq.search": lambda q: pq_knn(codes, books, q, K, emb=emb, refine_factor=PQ_REFINE),
    }

    recall: dict[str, list[float]] = {}  # per method, the measured answers' recall@K

    def run(name, q, n_queries, phase="op", exact=False, **kw):
        """Time one call; check its first ``n_queries`` answers (exact
        top-k, or a valid approximate top-k whose recall is kept)."""
        def check(rows):
            got = checks.split_by_query(rows)
            chk = checks.check_topk if exact else checks.check_valid_subset
            problems, rec = [], []
            for j in range(n_queries):
                g = got.get(j, ([], []))
                problems += chk(*g, cor.ids, scores[:, j], K)
                rec.append(checks.recall(g[0], cor.truth[j]))
            if phase == "op":
                recall[name] = rec
            return problems

        span = _attempt(tracer, tally, name, lambda: calls[name](q, **kw).collect(), check, phase)
        if span.failed and phase == "op":
            recall[name] = [0.0] * n_queries

    # warm-up: each method once on a slice of the batch; IVF probes every
    # list, where it must equal exact search
    run("knn.exact", warm, WARM_QUERIES, "setup", exact=True)
    run("pq.search", warm, WARM_QUERIES, "setup")
    run("ivf.probe", warm, WARM_QUERIES, "setup", exact=True, nprobe=nlist)

    def cycle(i: int) -> None:
        for name in calls:
            for _ in range(REPEATS[name]):
                run(name, queries, BATCH_QUERIES, exact=name == "knn.exact")

    t_setup_end = time.perf_counter()
    wall = _cycle_loop(seconds, cycle, tracer)
    ivf_recall, pq_recall = float(np.mean(recall["ivf.probe"])), float(np.mean(recall["pq.search"]))
    return {
        "setup_end": t_setup_end,
        "wall_s": wall,
        **_rates(tracer.ops(), BATCH_QUERIES),
        # the approximate methods only (exact search's recall is 1 by its
        # check); the batch is fixed per seed, so this repeats at a seed
        "recall_at_10": (ivf_recall + pq_recall) / 2,
        "ivf_recall_at_10": ivf_recall,
        "pq_recall_at_10": pq_recall,
    }


WORKLOADS = {"serve": serve, "batch": batch}
