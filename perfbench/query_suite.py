"""``query_suite``: passes over the suite queries ROADMAP names.

The queries are ``metrics.SUITE_NAMED``: the ten ``llm_*`` queries that
carry the lineage-cut, centroid, skew and codegen work, plus
``x1_event_pivot`` and ``j7_keep_latest_dedup``. Set-up generates the ten
input tables from the seed (``tables.py``, sf 0.001).

One operation is one pass: every query built (call -> DataFrame) and
collected, in an order the seed permutes (order moves JIT and
codegen-cache state). Passes repeat until ``--seconds`` have elapsed, at
least one: at the listed run length a run makes one pass, the first in its
session, so ``op_p50_s`` includes each query's JIT and codegen work, which
the warm per-query figures of ``bench.py`` leave out. A warm-up pass would
add about 20 s to every run (see ``README.md``).

After the timed region each collected result is compared with the query's
DuckDB oracle over the same parquet files, as ``tools/drive_driver.py``
compares them; a mismatch fails that query. ``attempted`` and ``failed``
count queries.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import random
import time
from collections import Counter
from contextlib import nullcontext

import tables
from harness import median
from metrics import SUITE_NAMED, common_layer_values, wrap_common

SIZES = {"default": {"sf": 0.001, "queries": SUITE_NAMED},
         "tiny": {"sf": 0.001, "queries": ("j7_keep_latest_dedup", "x1_event_pivot",
                                           "llm_multimodal_features")}}


def _norm(v):
    """Exact representations, as the driver's oracle comparison uses."""
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _oracle_matches(scols, srows, con, sql, planted: bool) -> bool:
    rel = con.sql(sql)
    dcols, drows = rel.columns, rel.fetchall()
    if planted:
        drows = drows[1:] + [("planted",) * len(dcols)]
    so = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    do = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
    if [scols[i].lower() for i in so] != [dcols[i].lower() for i in do]:
        return False
    return (Counter(tuple(_norm(r[i]) for i in so) for r in srows)
            == Counter(tuple(_norm(r[i]) for i in do) for r in drows))


def run(ctx, *, seed: int, seconds: float, tracer, size: str, plant: bool,
        session_s: float) -> dict:
    import duckdb

    from apsviz_timeseriesdb_ingest_spark import suite

    spark = ctx.spark
    sz = SIZES[size]
    if tracer is not None:
        wrap_common(tracer, spark)
    span = tracer.span if tracer is not None else (lambda *a: nullcontext())

    # -- set-up: inputs -------------------------------------------------------
    t_setup = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "sf")
    tables.generate(sf_dir, seed, sz["sf"])
    queries = suite.all_queries()
    oracles = suite.all_oracles()
    names = list(sz["queries"])
    random.Random(seed).shuffle(names)
    setup_s = session_s + time.perf_counter() - t_setup

    # -- measured passes ------------------------------------------------------
    def one(name):
        """(build_s, run_s, columns, rows) of one query."""
        with span(f"suite.{name}.build", "suite"):
            b0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            b1 = time.perf_counter()
        with span(f"suite.{name}.run", "suite"):
            rows = [tuple(r) for r in df.collect()]
            r1 = time.perf_counter()
        return b1 - b0, r1 - b1, df.columns, rows

    passes = []  # [{name: (build_s, run_s)}]
    results = []  # (name, columns, rows) of every query run
    errors: list[str] = []
    attempted = failed = 0
    ctx.quiesce()
    gc0 = ctx.gc_seconds() if tracer is not None else 0.0
    log0 = ctx.log_offset()
    t_loop = time.perf_counter()
    while not passes or time.perf_counter() - t_loop < seconds:
        if tracer is not None:
            tracer.op = len(passes)
        timings = {}
        for name in names:
            attempted += 1
            try:
                b, r, cols, rows = one(name)
            except Exception as e:  # a failed query is counted, not fatal
                errors.append(f"{name}: {e!r}"[:300])
                failed += 1
                continue
            timings[name] = (b, r)
            results.append((name, cols, rows))
        passes.append(timings)
    log1 = ctx.log_offset()
    gc1 = ctx.gc_seconds() if tracer is not None else 0.0
    if tracer is not None:
        tracer.op = None

    # -- checks (untimed) -----------------------------------------------------
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    wrong = []
    for i, (name, cols, rows) in enumerate(results):
        if not _oracle_matches(cols, rows, con, oracles[name], plant and i == 0):
            wrong.append(name)
    con.close()
    failed += len(wrong)

    pass_s = [sum(b + r for b, r in p.values()) for p in passes]
    figures = {"suite_pass_s": median(pass_s), "passes": len(passes), "queries": len(names),
               "order": names, "wrong": wrong}
    out = {"attempted": attempted, "failed": failed,
           "problems": [f"{n} differs from its DuckDB oracle" for n in wrong],
           "op_times": pass_s, "setup_s": setup_s, "figures": figures, "errors": errors}
    if tracer is not None:
        ops = list(range(len(passes)))
        v = common_layer_values(ctx, tracer, ops, pass_s, (log0, log1), gc1 - gc0)
        self_s = tracer.self_times()
        incl = tracer.inclusive(lambda sp: len(sp.jobs))
        jobs = tracer.per_op(ops, lambda i, s: len(s.jobs))
        figures["suite_jobs_per_pass"] = jobs
        v.update({
            "suite_pass_s": median(pass_s),
            "suite.build_s": median([sum(t[0] for t in p.values()) for p in passes]),
            "suite.run_s": median([sum(t[1] for t in p.values()) for p in passes]),
            "suite.jobs": median(jobs),
            "suite.stages": median(tracer.per_op(ops, lambda i, s: s.stages)),
            "suite.tasks": median(tracer.per_op(ops, lambda i, s: s.tasks)),
            "suite.self_s": median(tracer.per_op(ops, lambda i, s: self_s[i], layer="suite")),
        })
        for q in names:
            v[f"suite.{q}.build_s"] = median([p[q][0] for p in passes if q in p])
            v[f"suite.{q}.run_s"] = median([p[q][1] for p in passes if q in p])
            v[f"suite.{q}.jobs"] = median([
                a + b for a, b in zip(
                    *(tracer.per_op(ops, lambda i, s: incl[i], name=f"suite.{q}.{step}")
                      for step in ("build", "run")))])
        out["layers"] = v
    return out
