"""Shared pieces of the workloads: the run context, timing helpers and
the numpy reference for exact cosine top-k."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failures: list = field(default_factory=list)
    started: float = field(default_factory=time.perf_counter)

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.started:7.1f}s {msg}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """Count one verified operation; remember it if it was wrong."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def shard_file_stats(data_dir: str) -> dict:
    """Parquet files of a store's data dir: in total, in its fullest
    shard, and their bytes."""
    per_shard, size = {}, 0
    for d, _, files in os.walk(data_dir):
        parquet = [f for f in files if f.endswith(".parquet")]
        per_shard[d] = len(parquet)
        size += sum(os.path.getsize(os.path.join(d, f)) for f in parquet)
    return {
        "files_total": sum(per_shard.values()),
        "files_per_shard_max": max(per_shard.values(), default=0),
        "bytes": size,
    }


def probe_shards(q: np.ndarray, planes: np.ndarray, n_probes: int) -> list[int]:
    """LSH route plus the lowest-margin bit flips (the store's multi-probe
    rule, restated here so the check does not trust the code it checks)."""
    dots = planes @ q
    nh = len(planes)
    base = int("".join("1" if d > 0 else "0" for d in dots), 2)
    shards = [base]
    for j in np.argsort(np.abs(dots)):
        if len(shards) >= n_probes:
            break
        flipped = base ^ (1 << (nh - 1 - int(j)))
        if flipped not in shards:
            shards.append(flipped)
    return shards


def shard_of(vectors: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """LSH shard of each row: its sign bits against the planes, first
    plane as the highest bit."""
    bits = (vectors @ planes.T > 0).astype(np.int64)
    return bits @ (1 << np.arange(len(planes) - 1, -1, -1))


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray, k: int):
    """Cosine top-k with scores rounded to 6 places, ties broken by id."""
    if len(ids) == 0:
        return []
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.round(vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)), 6)
    order = np.lexsort((ids, -s))[:k]
    return [(str(ids[i]), float(s[i])) for i in order]


def same_topk(got: list, want: list, tol: float = 2e-6) -> bool:
    """Equal (id, score) lists, except that rows whose scores tie with the
    k-th within ``tol`` may differ (the engine sums in another order)."""
    if len(got) != len(want) or any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    cut = want[-1][1] + tol if want else 0
    return {i for i, s in got if s > cut} == {i for i, s in want if s > cut}
