"""The write phase of a traced lake_serve run: writes, then reads that
must see them, on a second, skewed store. It runs after the read-only
timed region, so it moves none of that region's figures.

Vectors are uniform on [0, 1), as in the engine's reference fixtures,
which piles most rows into a few LSH shards. The phase bulk-ingests a
base set, then runs one cycle of ``add_batch`` + ``persist``,
``upsert_batch`` and ``delete_ids``, then ``compact()``. Each step is
timed once. The benchmark keeps the expected contents itself; after the
cycle and again after compaction it checks ``count()``, the stored rows
(deleted ids gone, upserted ids with their new vectors, the row multiset
kept by compaction) and a ``query`` against them, outside the timed
intervals.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.common import exact_topk, probe_shards, same_topk, shard_file_stats, shard_of
from perfbench.gen import vectors_table

BASE, DIM, SHARDS = 2_000, 64, 64
APPEND, UPSERT, DELETE = 1_000, 100, 100
K, N_PROBES = 10, 2


def stored_rows(lake) -> dict:
    pdf = lake.load().select("id", "vector").toPandas()
    return {i: np.asarray(v) for i, v in zip(pdf["id"], pdf["vector"])}


def same_rows(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(np.allclose(got[i], want[i]) for i in want)


def run(ctx, rng: np.random.Generator) -> tuple[dict, dict]:
    """Returns the phase's named figures and, when traced, its per-layer
    figures."""
    from vector_lake_spark.store import SparkVectorLake

    base_ids = [f"b{i:06d}" for i in range(BASE)]
    base = rng.random((BASE, DIM))
    want = dict(zip(base_ids, base))
    src = f"{ctx.work}/writes_input.parquet"
    pq.write_table(vectors_table(base_ids, base), src)
    files = lambda: shard_file_stats(f"{lake.location}/data")
    spans, times = {}, {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        with ctx.tracer.span(f"store.{name}", name) as spans[name]:
            out = fn()
        times[name] = time.perf_counter() - t0
        return out

    lake = SparkVectorLake(ctx.spark, f"{ctx.work}/skewed", DIM, approx_shards=SHARDS)
    lake.add_dataframe(ctx.spark.read.parquet(src))
    timed("ingest", lake.persist)
    planes = lake.hyperplanes

    def check_reads(when: str) -> dict:
        ctx.check(lake.count() == len(want), f"{when}: count() != expected rows")
        got = stored_rows(lake)
        ctx.check(same_rows(got, want), f"{when}: stored rows != expected rows")
        # a query near a row the cycle wrote
        q = want[up_ids[0]] + 0.05 * rng.standard_normal(DIM)
        rows = [(r["id"], r["score"]) for r in lake.query(q.tolist(), k=K, n_probes=N_PROBES).collect()]
        ids = np.array(sorted(want))
        vecs = np.stack([want[i] for i in ids])
        sel = np.isin(shard_of(vecs, planes), probe_shards(q, planes, N_PROBES))
        ctx.check(same_topk(rows, exact_topk(ids[sel], vecs[sel], q, K)), f"{when}: query != exact top-k")
        return got

    picked = rng.choice(BASE, UPSERT + DELETE, replace=False)
    up_ids = [base_ids[i] for i in picked[:UPSERT]]
    del_ids = [base_ids[i] for i in picked[UPSERT:]]
    new_ids = [f"a{i:06d}" for i in range(APPEND)]
    new, up = rng.random((APPEND, DIM)), rng.random((UPSERT, DIM))

    files_before = files()["files_total"]
    lake.add_batch(new.tolist(), ids=new_ids)
    timed("persist", lake.persist)
    files_written = files()["files_total"] - files_before
    upsert_rewritten = timed("upsert_batch", lambda: lake.upsert_batch(up_ids, up.tolist()))
    delete_rewritten = timed("delete_ids", lambda: lake.delete_ids(del_ids))
    want.update(zip(new_ids, new))
    want.update(zip(up_ids, up))
    for i in del_ids:
        del want[i]
    ctx.log("write phase: checks after the cycle")
    rows_before = check_reads("after the cycle")
    ctx.check(not set(del_ids) & rows_before.keys(), "deleted ids are still stored")

    ctx.log("write phase: compact")
    before = files()
    timed("compact", lake.compact)
    after = files()
    ctx.check(same_rows(check_reads("after compact()"), rows_before), "compact() changed the rows")
    ctx.log("write phase done")

    detail = {
        "write.ingest_vps": (BASE / times["ingest"], "1/s"),
        "write.append_s": (times["persist"], "s"),
        "write.upsert_s": (times["upsert_batch"], "s"),
        "write.delete_s": (times["delete_ids"], "s"),
        "write.compact_s": (times["compact"], "s"),
        "write.bytes_per_user_byte": (after["bytes"] / (len(want) * DIM * 8), "ratio"),
    }
    if not ctx.tracer.enabled:
        return detail, {}
    jobs = lambda name: ctx.tracer.total(spans[name], "jobs")
    return detail, {
        "store.files_total_before_compact": before["files_total"],
        "store.files_per_shard_max_before_compact": before["files_per_shard_max"],
        "store.files_total_after_compact": after["files_total"],
        "store.files_per_shard_max_after_compact": after["files_per_shard_max"],
        "store.files_written_per_append": files_written,
        "store.jobs_per_append": jobs("persist"),
        "store.jobs_per_upsert": jobs("upsert_batch"),
        "store.jobs_per_delete": jobs("delete_ids"),
        "store.jobs_per_compact": jobs("compact"),
        "store.shards_rewritten_per_upsert": upsert_rewritten,
        "store.shards_rewritten_per_delete": delete_rewritten,
    }
