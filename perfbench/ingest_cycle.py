"""``ingest_cycle``: the cron path the paper is about, and the dashboard
reads that follow it.

Set-up bootstraps a warehouse from the generated station and source-config
CSVs (``bootstrap``), registers the four model sources an ADCIRC run
carries (``ModelIngest._register_source``, the step a warehouse's first
``ingest_run`` takes once), merges 35 days of hourly obs history and four
ADCIRC runs 6 h apart into the fact tables with the catalog's own merge
verb, and builds a zone-map sidecar on ``time`` for both fact tables
(``dashboard.seed_facts``).

One operation is one cron tick in a fresh process, as the deployment's
cron launches it: the clock advances 24 h and, per obs source, one harvest
lands whose 72 h window overlaps the previous one by two thirds; then
``ObsIngest.run_sequence_ingest``. One ADCIRC run directory lands; then
``ModelIngest.ingest_run``. Then the dashboard sends ``READS`` requests
(``dashboard.py``; the first five are one of each kind) against the fresh
tables. The operation's time is the two ingest calls plus every request
(call -> collected rows); landing files and checking answers are outside
it. The history ends within a day of a month boundary, so the tick's merge
rewrites two ``time_bucket`` partitions. Ticks repeat until ``--seconds``
have elapsed, at least one: at the listed run length a run measures one
tick, its first, so every figure includes that tick's JIT and codegen
work. Set-up runs no ingest verb before it, because a warm-up tick would
add about 30 s to every run (see ``README.md``).

Checks, outside the timed region: every response against a pure-Python
pivot of the generated data; the final ``gauge_data`` / ``model_data``
against the generator's keep-latest replay, key by key; every obs ledger
row ``ingested``; and an extra cron tick with nothing new adds no fact or
ledger rows.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

import dashboard
import warehouse
from domain import MODEL_TYPES, OBS_SOURCES, Domain
from expect import Expect
from harness import mean, median
from metrics import common_layer_values, wrap_common

SIZES = {"default": {"stations": 40, "history_days": 35},
         "tiny": {"stations": 8, "history_days": 10}}
WINDOW_H = 72
TICK = dt.timedelta(hours=24)
MODEL_HISTORY, RUN_STEP = 4, dt.timedelta(hours=6)
READS = 5
CONFIG_SCHEMA = "instance_id long, uid string, key string, value string"
OBS_LEDGER, RETAIN_LEDGER = "harvest_obs_file_meta", "retain_obs_station_file_meta"


def _history_end(seed: int) -> dt.datetime:
    """Within a day of a (seeded) month boundary, so the first tick's
    72 h window spans two months."""
    rng = random.Random(seed)
    boundary = dt.datetime(2024, rng.randint(2, 12), 1)
    return boundary + dt.timedelta(hours=rng.randint(-20, 40))


def _config_df(spark, d: Domain):
    return spark.createDataFrame(d.config_rows, CONFIG_SCHEMA)


def _wrap(tracer, spark) -> None:
    from apsviz_timeseriesdb_ingest_spark.plans import (
        apsviz_stations,
        model_ingest,
        obs_ingest,
    )
    from apsviz_timeseriesdb_ingest_spark.plans.model_ingest import ModelIngest
    from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    def count_paths(sp, args, kwargs, result, state):
        sp.extra["paths"] = len(args[1])

    def list_table(args, kwargs):
        return set(warehouse.files(args[0].path(args[1])))

    def written_rows(sp, args, kwargs, result, before):
        new = [f for f in warehouse.files(args[0].path(args[1])) if f not in before]
        sp.extra["rows_written"] = warehouse.rows_in(new)

    for m in ("run_sequence_ingest", "discover", "ingest_new", "ingest_station_meta"):
        tracer.wrap(ObsIngest, m, f"plans.obs_ingest.{m}", "plans.obs_ingest")
    tracer.wrap(obs_ingest, "read_harvest_csv", "sources.harvest_csv.read_harvest_csv",
                "sources.harvest_csv", post=count_paths)
    tracer.wrap(obs_ingest, "new_files_anti_join", "operators.ledger.new_files_anti_join",
                "operators.ledger")
    tracer.wrap(model_ingest, "read_harvest_csv",
                "sources.harvest_csv.read_harvest_csv[model_ingest]", "sources.harvest_csv")
    for m in ("ingest_run", "publish_stations"):
        tracer.wrap(ModelIngest, m, f"plans.model_ingest.{m}", "plans.model_ingest")
    tracer.wrap(model_ingest, "get_adcirc_run_property_variables",
                "plans.dashboard_meta.run_props", "plans.dashboard_meta")
    tracer.wrap(apsviz_stations, "publish_apsviz_stations",
                "plans.apsviz_stations.publish", "plans.apsviz_stations")
    tracer.wrap(Catalog, "merge_keep_latest", "sources.catalog.merge_keep_latest",
                "sources.catalog", pre=list_table, post=written_rows)
    for m in ("update", "append", "overwrite"):
        tracer.wrap(Catalog, m, f"sources.catalog.{m}", "sources.catalog")
    tracer.wrap(Catalog, "refresh_skipping", "sources.skipping.refresh_skipping",
                "sources.skipping")
    dashboard.wrap(tracer)
    wrap_common(tracer, spark)


def _check_state(cat, d: Domain, seeded_until, plant: bool) -> list[str]:
    """Fact tables against the generator's replay, key by key, and one
    obs ledger row per harvest landed after ``seeded_until``, each flipped.
    Returns failure messages."""
    problems = []
    stations = warehouse.read(cat.path("gauge_station"), ["station_id", "station_name"])
    sources = warehouse.read(cat.path("gauge_source"), ["source_id", "station_id", "data_source"])
    obs = (warehouse.read(cat.path("gauge_data"))
           .merge(sources, on="source_id").merge(stations, on="station_id"))
    exp = d.obs_frame()
    if plant:
        exp.loc[0, "value"] += 1.0
    key = ["station_name", "data_source", "time"]
    got = obs.set_index(key).sort_index()
    exp = exp.set_index(key).sort_index()
    if not got.index.equals(exp.index):
        problems.append(f"gauge_data keys: {len(got)} rows, expected {len(exp)}")
    else:
        measure = np.where(exp["variable"] == "water_level",
                           got["water_level"], got["wave_height"])
        other = np.where(exp["variable"] == "water_level",
                         got["wave_height"], got["water_level"])
        bad = ((measure != exp["value"].to_numpy())
               | (got["timemark"].to_numpy() != exp["timemark"].to_numpy())
               | ~pd.isna(other))
        if bad.any():
            problems.append(f"gauge_data values: {int(bad.sum())} keys differ")

    msources = warehouse.read(cat.path("model_source"), ["source_id", "station_id", "data_source"])
    model = (warehouse.read(cat.path("model_data"))
             .merge(msources, on="source_id").merge(stations, on="station_id"))
    key = ["station_name", "data_source", "timemark", "time"]
    got = model.set_index(key).sort_index()
    exp = d.model_frame().set_index(key).sort_index()
    if not got.index.equals(exp.index):
        problems.append(f"model_data keys: {len(got)} rows, expected {len(exp)}")
    elif (got["water_level"].to_numpy() != exp["value"].to_numpy()).any():
        problems.append("model_data values differ")

    ledger = warehouse.read(cat.path(OBS_LEDGER), ["file_name", "ingested"])
    if not ledger["ingested"].all():
        problems.append(f"{int((~ledger['ingested']).sum())} ledger rows not ingested")
    landed = sum(1 for h in d.harvests if h.stamp > seeded_until)
    if len(ledger) != landed:
        problems.append(f"ledger has {len(ledger)} rows for {landed} harvest files")
    return problems


def _counts(cat) -> dict:
    return {t: warehouse.table_rows(cat.path(t))
            for t in ("gauge_data", "model_data", OBS_LEDGER, RETAIN_LEDGER,
                      "harvest_model_file_meta")}


def run(ctx, *, seed: int, seconds: float, tracer, size: str, plant: bool,
        session_s: float) -> dict:
    from apsviz_timeseriesdb_ingest_spark.plans import read_api
    from apsviz_timeseriesdb_ingest_spark.plans.bootstrap import bootstrap
    from apsviz_timeseriesdb_ingest_spark.plans.model_ingest import ModelIngest, derive_source
    from apsviz_timeseriesdb_ingest_spark.plans.obs_ingest import ObsIngest
    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    spark = ctx.spark
    sz = SIZES[size]
    errors: list[str] = []
    if tracer is not None:
        _wrap(tracer, spark)
    span = tracer.span if tracer is not None else (lambda *a: nullcontext())

    # -- set-up ---------------------------------------------------------------
    t_setup = time.perf_counter()
    hist_end = _history_end(seed)
    d = Domain(os.path.join(ctx.work, "data"), seed, sz["stations"])
    stations_csv, meta_csv = d.write_static()
    cat = Catalog(spark, os.path.join(ctx.work, "warehouse"))
    bootstrap(spark, cat, station_csvs=[stations_csv], source_meta_csv=meta_csv)
    d.land_tick(hist_end, sz["history_days"] * 24, write=False)
    for k in range(MODEL_HISTORY):
        d.land_model_run(hist_end - (MODEL_HISTORY - 1 - k) * RUN_STEP, write=False)
    model = ModelIngest(spark, cat, d.harvest_dir)
    first = d.config_rows[0][0]
    props = {k: v for i, _u, k, v in d.config_rows if i == first}
    for kind in ("FORECAST", "NOWCAST"):
        for station_type, _loc in MODEL_TYPES:
            model._register_source(derive_source(props, kind, station_type))
    dashboard.seed_facts(spark, cat, d)
    obs = ObsIngest(spark, cat, d.harvest_dir)
    stream = random.Random(seed + 1)
    setup_s = session_s + time.perf_counter() - t_setup

    # -- measured ticks -------------------------------------------------------
    ticks = []  # (obs_s, model_s, read_s, rows, files, wall_s)
    reads = []  # (kind, build_s, run_s, rows)
    failed = 0
    problems = []
    clock = hist_end
    ctx.quiesce()
    gc0 = ctx.gc_seconds() if tracer is not None else 0.0
    log0 = ctx.log_offset()
    t_loop = time.perf_counter()
    k = 0
    while k == 0 or time.perf_counter() - t_loop < seconds:
        if tracer is not None:
            tracer.op = k
        c0 = time.perf_counter()
        try:
            with span("bench.land", "bench"):
                clock += TICK
                rows = d.land_tick(clock, WINDOW_H)
            o0 = time.perf_counter()
            obs.run_sequence_ingest()
            o1 = time.perf_counter()
            with span("bench.land", "bench"):
                mrun = d.land_model_run(clock)
                config = _config_df(spark, d)
            m0 = time.perf_counter()
            model.ingest_run(mrun.run_id, config)
            m1 = time.perf_counter()
        except Exception as e:  # a failed tick is counted, not fatal
            failed += 1
            errors.append(repr(e)[:300])
            break
        with span("bench.expect", "bench"):
            exp = Expect(d)
            requests = dashboard.Requests(d, stream.randrange(2**31), clock).take(READS)
        read_s = 0.0
        for i, req in enumerate(requests):
            try:
                b0 = time.perf_counter()
                df = dashboard.call(read_api, cat, *req)
                b1 = time.perf_counter()
                with span("plans.read_api.run", "plans.read_api"):
                    got = df.collect()
                r1 = time.perf_counter()
            except Exception as e:  # a failed request is counted, not fatal
                failed += 1
                errors.append(repr(e)[:300])
                continue
            with span("bench.expect", "bench"):
                answer = dashboard.expected(exp, *req)
                if plant and k == 0 and i == 0:
                    answer = dashboard.plant(answer)
                ok = dashboard.matches(req[0], got, answer)
            if not ok:
                failed += 1
                problems.append(f"tick {k} request {i} ({req[0]}) differs from the "
                                "expected pivot")
            reads.append((req[0], b1 - b0, r1 - b1, len(got)))
            read_s += r1 - b0
        ticks.append((o1 - o0, m1 - m0, read_s, rows + mrun.rows, len(OBS_SOURCES),
                      time.perf_counter() - c0))
        k += 1
    log1 = ctx.log_offset()
    gc1 = ctx.gc_seconds() if tracer is not None else 0.0
    if tracer is not None:
        tracer.op = None
    attempted = len(ticks) + len(reads) + len(errors) + bool(ticks)  # + the extra tick

    # -- checks (untimed) -----------------------------------------------------
    fact_bytes = sum(warehouse.table_bytes(cat.path(t)) for t in ("gauge_data", "model_data"))
    live_rows = sum(warehouse.table_rows(cat.path(t)) for t in ("gauge_data", "model_data"))
    if ticks:
        before = _counts(cat)
        obs.run_sequence_ingest()  # a cron tick with nothing new
        after = _counts(cat)
        if after != before:
            failed += 1
            problems.append(f"extra tick changed row counts: {before} -> {after}")
        state = _check_state(cat, d, hist_end, plant)
        if state:
            failed += len(ticks)
            problems += state

    op_times = [t[0] + t[1] + t[2] for t in ticks]
    ingest_s = sum(t[0] + t[1] for t in ticks)
    figures = {
        "obs_cycle_p50_s": median([t[0] for t in ticks]),
        "model_run_p50_s": median([t[1] for t in ticks]),
        "read_p50_s": median([r[1] + r[2] for r in reads]),
        "ingest_rows_per_s": sum(t[3] for t in ticks) / ingest_s if ingest_s else 0.0,
        "fact_bytes_per_row": fact_bytes / live_rows if live_rows else 0.0,
        "ticks": len(ticks),
        "reads": [[kind, round(b, 4), round(r, 4), n] for kind, b, r, n in reads],
    }
    out = {
        "attempted": attempted, "failed": failed, "problems": problems,
        "op_times": op_times, "setup_s": setup_s, "figures": figures,
        "errors": errors,
    }
    if tracer is not None and ticks:
        ops = list(range(len(ticks)))
        out["layers"] = _layer_values(ctx, tracer, ops, op_times, ticks, reads, cat,
                                      (log0, log1), gc1 - gc0, figures)
    return out


def _layer_values(ctx, tracer, ops, op_times, ticks, reads, cat, log_span, gc_s, figures):
    v = common_layer_values(ctx, tracer, ops, op_times, log_span, gc_s)
    v.update(dashboard.layer_values(tracer, ops, reads))
    incl_jobs = tracer.inclusive(lambda sp: len(sp.jobs))

    def dur(name):
        return mean(tracer.per_op(ops, lambda i, s: s.dur, name=name))

    def jobs(name):
        return mean(tracer.per_op(ops, lambda i, s: incl_jobs[i], name=name))

    paths = sum(tracer.per_op(ops, lambda i, s: s.extra.get("paths", 0),
                              name="sources.harvest_csv.read_harvest_csv"))
    written = sum(tracer.per_op(ops, lambda i, s: s.extra.get("rows_written", 0),
                                name="sources.catalog.merge_keep_latest"))
    top = tracer.per_op(ops, lambda i, s: s.dur if s.parent is None else 0.0)
    v.update({
        "plans.obs_ingest.discover_s": dur("plans.obs_ingest.discover"),
        "plans.obs_ingest.discover_jobs": jobs("plans.obs_ingest.discover"),
        "sources.harvest_csv.parses_per_file": paths / sum(t[4] for t in ticks),
        "plans.obs_ingest.ingest_new_s": dur("plans.obs_ingest.ingest_new"),
        "plans.obs_ingest.ingest_new_jobs": jobs("plans.obs_ingest.ingest_new"),
        "plans.obs_ingest.ingest_station_meta_s": dur("plans.obs_ingest.ingest_station_meta"),
        "operators.ledger.anti_join_s": dur("operators.ledger.new_files_anti_join"),
        "operators.ledger.ledger_rows": warehouse.table_rows(cat.path(OBS_LEDGER)),
        "sources.catalog.merge_keep_latest_s": dur("sources.catalog.merge_keep_latest"),
        "sources.catalog.merge_jobs": jobs("sources.catalog.merge_keep_latest"),
        "sources.catalog.merge_rewrite_ratio": written / sum(t[3] for t in ticks),
        "sources.catalog.update_s": dur("sources.catalog.update"),
        "sources.catalog.append_s": dur("sources.catalog.append"),
        "sources.skipping.refresh_skipping_s": dur("sources.skipping.refresh_skipping"),
        "sources.skipping.refresh_jobs": jobs("sources.skipping.refresh_skipping"),
        "plans.model_ingest.ingest_run_s": dur("plans.model_ingest.ingest_run"),
        "plans.model_ingest.publish_stations_s": dur("plans.model_ingest.publish_stations"),
        "plans.dashboard_meta.run_props_s": dur("plans.dashboard_meta.run_props"),
        "ingest.uncovered_s": mean([t[5] - c for t, c in zip(ticks, top)]),
    })
    v.update({k: figures[k] for k in ("obs_cycle_p50_s", "model_run_p50_s", "read_p50_s",
                                      "ingest_rows_per_s", "fact_bytes_per_row")})
    return v
