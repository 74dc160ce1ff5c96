"""pipeline_mix: batch registry entries over seeded tables, into the
noop sink. It never touches the store.

Set-up lands the tables and resolves their schemas through
``vector_lake_spark.sources``. An untimed first pass collects every
entry and compares it with its DuckDB oracle; a second untimed pass runs
each into the noop sink. The timed region then
builds each entry and runs it into the noop sink, the entries in turn,
until ``--seconds`` have passed and every entry has run at least
``MIN_RUNS`` times. Each entry's time is its median over its runs.
"""

from __future__ import annotations

import concurrent.futures
import datetime
import math
import time

import numpy as np

from perfbench.common import median, noop
from perfbench.gen import pipeline_tables, write_tables

FAMILIES = {
    "vector": ["ann_lsh_topk", "vec_topk_batch"],
    "table": ["text_quality", "q21_waiting_suppliers", "ev_anomaly_zscore"],
    "media": ["mm_jpeg12_roundtrip", "pipe_image_dedup_e2e"],
}
ENTRIES = [e for family in FAMILIES.values() for e in family]
MIN_RUNS = 2
# landing the tables takes well under a second; more repeats steady its median
SETUP_REPEATS = 5


def geomean(xs) -> float:
    return float(np.exp(np.mean(np.log(xs))))


def _canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return round(float(v), 9)
    if isinstance(v, (np.datetime64, datetime.datetime, datetime.date)):
        return str(v)
    return v


def canon(pdf):
    """Order-insensitive form of a result: sorted columns, their dtypes,
    and the sorted rows with floats rounded to 9 places."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_canon_value(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    return list(pdf.columns), [str(t) for t in pdf.dtypes], sorted(rows, key=lambda r: tuple(map(str, r)))


def land(ctx, tables, directory: str) -> None:
    from vector_lake_spark.sources import table_schema

    write_tables(tables, directory)
    for name in tables:
        table_schema(ctx.spark, directory, name)


def trace_sources(ctx) -> None:
    """Give every table load made by a registry entry its own span."""
    from vector_lake_spark import sources

    for fn_name in ("load_table", "load_events"):
        fn = getattr(sources, fn_name)

        def traced(*args, _fn=fn, _name=fn_name, **kwargs):
            with ctx.tracer.span(f"sources.{_name}"):
                return _fn(*args, **kwargs)

        setattr(sources, fn_name, traced)


def oracle_results(directory: str, tables, scratch: str) -> dict:
    import duckdb

    from vector_lake_spark import queries as Q

    con = duckdb.connect(config={"threads": 1, "temp_directory": scratch})
    try:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{directory}/{name}.parquet'")
        return {e: canon(con.execute(Q.ORACLES[e]).df()) for e in ENTRIES}
    finally:
        con.close()


def run(ctx) -> dict:
    from vector_lake_spark import queries as Q

    tables = pipeline_tables(ctx.seed)
    ctx.log("set-up")
    setup_times = []
    for rep in range(SETUP_REPEATS):
        directory = f"{ctx.work}/tables{rep}"
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.setup"):
            land(ctx, tables, directory)
        setup_times.append(time.perf_counter() - t0)
    if ctx.tracer.enabled:
        trace_sources(ctx)

    ctx.log("first pass, checked against the oracles")
    # the oracles run in DuckDB on one thread beside the untimed first pass
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(oracle_results, directory, tables, f"{ctx.work}/duckdb")
        got = {e: canon(Q.QUERIES[e](ctx.spark, directory).toPandas()) for e in ENTRIES}
        ctx.log("first pass done; waiting for the oracles")
        want = oracles.result()
    for entry in ENTRIES:
        ctx.check(got[entry] == want[entry], f"{entry} != its DuckDB oracle")

    def run_entry(entry: str, request: str):
        with ctx.tracer.span(f"queries.{entry}", request) as call:
            t0 = time.perf_counter()
            with ctx.tracer.span("construct") as construct:
                df = Q.QUERIES[entry](ctx.spark, directory)
            t1 = time.perf_counter()
            with ctx.tracer.span("exec") as execute:
                noop(df)
        return t1 - t0, time.perf_counter() - t1, call, construct, execute

    # one more untimed pass, into the noop sink: the first passes still
    # speed up from one to the next as the JVM warms up
    ctx.log("warm-up pass")
    for entry in ENTRIES:
        noop(Q.QUERIES[entry](ctx.spark, directory))

    ctx.log("timed region")
    # time is checked after every entry, so the region ends within one
    # entry's run of ``--seconds``; the entries first in the order may
    # get one run more than the others
    runs = {e: [] for e in ENTRIES}
    start, n = time.perf_counter(), 0
    while min(map(len, runs.values())) < MIN_RUNS or time.perf_counter() - start < ctx.seconds:
        entry = ENTRIES[n % len(ENTRIES)]
        runs[entry].append(run_entry(entry, f"p{n // len(ENTRIES)}.{entry}"))
        n += 1

    # each entry's median over its runs
    def per_entry(fn) -> dict:
        return {e: median([fn(r) for r in runs[e]]) for e in ENTRIES}

    entry_s = per_entry(lambda r: r[0] + r[1])
    result = {
        "e2e": {
            "setup_s": median(setup_times),
            # the typical entry: a slowdown of any one entry moves it by the
            # same share, whatever that entry's size
            "call_s": geomean(list(entry_s.values())),
            "work_s": sum(entry_s.values()),
        },
        "detail": {
            **{f"pipeline_{f}_s": (sum(entry_s[e] for e in es), "s") for f, es in FAMILIES.items()},
            "pipeline_calls": (n, "count"),
        },
        "layer": {},
    }
    if not ctx.tracer.enabled:
        return result

    t = ctx.tracer
    loads = lambda call: sum(
        s["s"] for s in t.spans if s["name"].startswith("sources.") and s["request"] == call["request"]
    )
    figures = {
        "construct_s": per_entry(lambda r: r[0]),
        "construct_jobs": per_entry(lambda r: t.total(r[3], "jobs")),
        "construct_tasks": per_entry(lambda r: t.total(r[3], "tasks")),
        "exec_s": per_entry(lambda r: r[1]),
        "exec_jobs": per_entry(lambda r: t.total(r[4], "jobs")),
        "exec_tasks": per_entry(lambda r: t.total(r[4], "tasks")),
        "load_s": per_entry(lambda r: loads(r[2])),
        "jobs": per_entry(lambda r: t.total(r[2], "jobs")),
        "stages": per_entry(lambda r: t.total(r[2], "stages")),
        "tasks": per_entry(lambda r: t.total(r[2], "tasks")),
    }
    for name in ("construct_s", "construct_jobs", "exec_s", "exec_jobs", "exec_tasks"):
        result["detail"].update(
            {f"queries.{e}.{name}": (v, "s" if name.endswith("_s") else "count") for e, v in figures[name].items()}
        )
    # a call's figures are the entries' medians, averaged over the entries
    mean = lambda name: float(np.mean(list(figures[name].values())))
    result["layer"] = {
        "traced_call_s": geomean(list(entry_s.values())),
        "call_construct_s": mean("construct_s"),
        "call_exec_s": mean("exec_s"),
        "call_load_s": mean("load_s"),
        "call_jobs": mean("jobs"),
        "call_stages": mean("stages"),
        "call_tasks": mean("tasks"),
        "call_construct_jobs": mean("construct_jobs"),
        "call_construct_tasks": mean("construct_tasks"),
        "work_construct_s": sum(figures["construct_s"].values()),
        "work_exec_s": sum(figures["exec_s"].values()),
        "work_jobs": sum(figures["jobs"].values()),
        "work_tasks": sum(figures["tasks"].values()),
    }
    return result
