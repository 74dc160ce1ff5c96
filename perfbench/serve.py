"""lake_serve: a read-only store under one closed-loop client, then a
write phase on a second store.

Set-up ingests a Gaussian store (balanced LSH shards). The timed region
issues single ``query(v, k=10, n_probes=2).collect()`` calls on
perturbed stored vectors, then repeated 1,000-query ``query_batch``
calls into the noop sink. Every result is checked afterwards against
numpy exact top-k over the probed shards. In traced runs the write
phase (``perfbench/writes.py``) follows.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.common import (
    exact_topk,
    median,
    noop,
    p90,
    probe_shards,
    same_topk,
    shard_file_stats,
)
from perfbench import writes
from perfbench.gen import vectors_table

ROWS, DIM, SHARDS = 20_000, 64, 256
K, N_PROBES, BATCH, WARM_BATCH = 10, 2, 1000, 100
SINGLES_PER_BATCH, WARM_BATCHES, MIN_SINGLES, MIN_BATCHES = 3, 1, 6, 2
SETUP_REPEATS = 3


def trace_store(ctx, lake) -> list:
    """For a traced run: give the store's ``load()`` its own span, and
    record the shards the engine probes per call of
    ``operators.ann.multiprobe_shards`` (which ``query`` imports at call
    time). Returns the list the probe sets are appended to."""
    from vector_lake_spark.operators import ann

    load = lake.load

    def traced_load():
        with ctx.tracer.span("store.load"):
            return load()

    lake.load = traced_load
    probed, route = [], ann.multiprobe_shards

    def recorded_route(*args, **kwargs):
        shards = route(*args, **kwargs)
        probed.append(list(shards))
        return shards

    ann.multiprobe_shards = recorded_route
    return probed


def single_query(ctx, lake, q: np.ndarray, rid: str, k: int, n_probes: int):
    """One closed-loop call: construct, then collect. Returns the rows,
    the wall time and the span of the call."""
    t0 = time.perf_counter()
    with ctx.tracer.span("store.query", rid) as call:
        with ctx.tracer.span("store.query.construct"):
            df = lake.query(q.tolist(), k=k, n_probes=n_probes)
        with ctx.tracer.span("store.query.exec"):
            rows = df.collect()
    return [(r["id"], r["score"]) for r in rows], time.perf_counter() - t0, call


def query_layers(tracer, calls: list) -> dict:
    """Per-layer figures of a list of traced ``single_query`` spans."""
    child = lambda c, name: next(
        s for s in tracer.spans if s["parent"] == c["id"] and s["name"] == name
    )
    construct = [child(c, "store.query.construct") for c in calls]
    loads = lambda c: sum(
        s["s"] for s in tracer.spans if s["name"] == "store.load" and s["request"] == c["request"]
    )
    return {
        "traced_call_s": median([c["s"] for c in calls]),
        "call_construct_s": median([c["s"] for c in construct]),
        "call_exec_s": median([child(c, "store.query.exec")["s"] for c in calls]),
        "call_load_s": median([loads(c) for c in calls]),
        "call_jobs": median([tracer.total(c, "jobs") for c in calls]),
        "call_stages": median([tracer.total(c, "stages") for c in calls]),
        "call_tasks": median([tracer.total(c, "tasks") for c in calls]),
        "call_construct_jobs": median([tracer.total(c, "jobs") for c in construct]),
        "call_construct_tasks": median([tracer.total(c, "tasks") for c in construct]),
    }


def build_store(ctx, src: str, location: str):
    """One set-up: bulk-ingest ``src`` into a new store at ``location``.
    Returns the store, the set-up time and the persist span."""
    from vector_lake_spark.store import SparkVectorLake

    t0 = time.perf_counter()
    with ctx.tracer.span("store.setup"):
        lake = SparkVectorLake(ctx.spark, location, DIM, approx_shards=SHARDS)
        lake.add_dataframe(ctx.spark.read.parquet(src))
        with ctx.tracer.span("store.persist") as persist:
            lake.persist()
    return lake, time.perf_counter() - t0, persist


def batch_frame(ctx, queries: np.ndarray):
    rows = [(i, q.tolist()) for i, q in enumerate(queries)]
    return ctx.spark.createDataFrame(rows, "query_id long, qv array<double>")


def run(ctx) -> dict:
    rng = np.random.default_rng([ctx.seed, 1])
    X = rng.standard_normal((ROWS, DIM))
    ids = np.array([f"v{i:06d}" for i in range(ROWS)])

    def perturbed(n: int) -> np.ndarray:
        return X[rng.integers(0, ROWS, n)] + 0.1 * rng.standard_normal((n, DIM))

    ctx.log("set-up")
    src = f"{ctx.work}/serve_input.parquet"
    pq.write_table(vectors_table(list(ids), X), src)
    setups = []
    for rep in range(SETUP_REPEATS):
        if setups:
            shutil.rmtree(setups[-1][0].location)
        setups.append(build_store(ctx, src, f"{ctx.work}/lake{rep}"))
    lake = setups[-1][0]
    setup_s = median([s[1] for s in setups])
    probed = trace_store(ctx, lake) if ctx.tracer.enabled else []

    # warm-up, untimed: one collected 100-query batch, and a single query on one of
    # its query vectors, which must return the batch's rows
    ctx.log("warm-up")
    warm_q = perturbed(WARM_BATCH)
    warm = lake.query_batch(batch_frame(ctx, warm_q), k=K, n_probes=N_PROBES).toPandas()
    batch_rows = {
        qid: list(zip(g["id"], g["score"]))
        for qid, g in warm.sort_values(["query_id", "rn"]).groupby("query_id")
    }
    rows, _, _ = single_query(ctx, lake, warm_q[0], "warm", K, N_PROBES)
    ctx.check(same_topk(rows, batch_rows.get(0, [])), "batch query 0 != single query")

    def serve(name: str, done) -> tuple[list, list]:
        """The closed loop: a batch after every ``SINGLES_PER_BATCH``
        single queries, so both kinds of call sample the whole loop,
        until ``done``. Singles vary more from call to call than
        batches, so they get more of the time."""
        singles, batches = [], []
        while not done(singles, batches):
            q = perturbed(1)[0]
            n_routes = len(probed)
            rows, dt, call = single_query(ctx, lake, q, f"{name}q{len(singles)}", K, N_PROBES)
            singles.append((q, rows, dt, call, probed[n_routes:]))
            if len(singles) % SINGLES_PER_BATCH:
                continue
            qdf = batch_frame(ctx, perturbed(BATCH))
            t0 = time.perf_counter()
            with ctx.tracer.span("store.batch", f"{name}b{len(batches)}") as call:
                with ctx.tracer.span("store.batch.construct") as construct:
                    out = lake.query_batch(qdf, k=K, n_probes=N_PROBES)
                with ctx.tracer.span("store.batch.exec") as execute:
                    noop(out)
            batches.append((time.perf_counter() - t0, call, construct, execute))
        return singles, batches

    # the first calls still speed up from one to the next as the JVM
    # compiles the hot paths; these untimed cycles let them settle
    warm_singles, _ = serve("w", lambda s, b: len(b) >= WARM_BATCHES)

    ctx.log("timed region")
    start = time.perf_counter()
    singles, batches = serve(
        "",
        lambda s, b: len(s) >= MIN_SINGLES
        and len(b) >= MIN_BATCHES
        and time.perf_counter() - start >= ctx.seconds,
    )

    ctx.log("checks")
    stored = lake.load().select("id", "shard_id").toPandas()
    ctx.check(len(stored) == ROWS and set(stored["id"]) == set(ids), "store rows != ingested rows")
    shard_of = dict(zip(stored["id"], stored["shard_id"]))
    rows_in = {}
    for i, row_id in enumerate(ids):
        rows_in.setdefault(shard_of.get(row_id), []).append(i)
    planes = lake.hyperplanes

    def expected(q):
        probes = probe_shards(q, planes, N_PROBES)
        sel = np.array([i for p in probes for i in rows_in.get(p, [])], dtype=np.int64)
        return exact_topk(ids[sel], X[sel], q, K)

    for i, (q, rows, _, _, _) in enumerate(warm_singles + singles):
        ctx.check(same_topk(rows, expected(q)), f"query {i} != exact top-k over its probed shards")
    for qid, q in enumerate(warm_q):
        ctx.check(same_topk(batch_rows.get(qid, []), expected(q)), f"batch query {qid} != exact top-k")

    # recall of the batch against exact top-k over the whole store
    sims = warm_q @ (X / np.linalg.norm(X, axis=1, keepdims=True)).T
    truth = np.argpartition(-sims, K, axis=1)[:, :K]
    hits = sum(
        len(set(ids[truth[qid]]) & {i for i, _ in batch_rows.get(qid, [])}) for qid in range(WARM_BATCH)
    )

    # the write phase and its checks run in traced runs only: they would
    # add a quarter to every run's length
    write_detail, write_layer = {}, {}
    if ctx.tracer.enabled:
        ctx.log("write phase")
        write_detail, write_layer = writes.run(ctx, rng)

    lat = [s[2] for s in singles]
    batch_s = [b[0] for b in batches]
    result = {
        "e2e": {"setup_s": setup_s, "call_s": median(lat), "work_s": median(batch_s)},
        "detail": {
            "query_p90_s": (p90(lat), "s"),
            "query_samples": (len(lat), "count"),
            "batch_qps": (BATCH / median(batch_s), "1/s"),
            "recall_at_10": (hits / (K * WARM_BATCH), "ratio"),
            **write_detail,
        },
        "layer": {},
    }
    if not ctx.tracer.enabled:
        return result

    t = ctx.tracer
    # the shards the engine probed per query, and the rows they hold
    routes = [r for s in singles for r in s[4]]
    files = shard_file_stats(f"{lake.location}/data")
    result["layer"] = {
        **query_layers(t, [s[3] for s in singles]),
        "work_construct_s": median([b[2]["s"] for b in batches]),
        "work_exec_s": median([b[3]["s"] for b in batches]),
        "work_jobs": median([t.total(b[1], "jobs") for b in batches]),
        "work_tasks": median([t.total(b[1], "tasks") for b in batches]),
        "store.shards_probed_per_query": median([len(r) for r in routes]),
        "store.rows_scanned_per_result": median(
            [sum(len(rows_in.get(p, [])) for p in r) / K for r in routes]
        ),
        "store.files_total": files["files_total"],
        "store.files_per_shard_max": files["files_per_shard_max"],
        "store.jobs_per_ingest": median([s[2]["jobs"] for s in setups]),
        **write_layer,
    }
    result["detail"]["store.persist_s"] = (median([s[2]["s"] for s in setups]), "s")
    return result
