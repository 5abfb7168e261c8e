"""The ApsViz dashboard side of ``ingest_cycle``: warehouse seeding, the
seeded request stream, its pure-Python answers and the read-path layer
metrics.

Seeding writes the history rows with the catalog's own merge verb
(``Catalog.merge_keep_latest``) instead of parsing harvest files, so that
set-up stays short; the measured ticks go through the harvest path.

Requests come in blocks of 20: 8 X1, 3 X2, 4 X3, 3 X4 and 2
model-vs-obs as-of, interleaved so that the first five hold one of each
kind. The seed picks stations and windows. Ranged requests alternate
between short windows (1-3 days inside one month partition) and long
ones (30-60 days over 2-3 partitions); 80% of requests go to a hot 20%
of the stations. Each response is compared with ``expect.py``.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

import domain
import warehouse
from domain import FORECAST_SOURCE, HOUR, INSTANCE, NOWCAST_SOURCE, Domain, fmt
from expect import Expect
from harness import mean, median

BLOCK = ("x1", "x3", "x4", "x2", "asof", "x1", "x3", "x1", "x4", "x1",
         "x2", "x3", "x1", "asof", "x4", "x1", "x3", "x2", "x1", "x1")
API = {
    "x1": "get_obs_timeseries_station_data",
    "x2": "get_obs_timeseries_station_data_allparms",
    "x3": "get_forecast_timeseries_station_data",
    "x4": "get_nowcast_timeseries_station_data",
    "asof": "get_model_vs_obs_asof",
}
DAY = dt.timedelta(days=1)


def seed_facts(spark, cat, d: Domain) -> None:
    """Every obs harvest and model run ``d`` holds so far, merged into
    ``gauge_data`` / ``model_data`` (the model sources must be registered),
    then a zone-map sidecar on ``time`` for both tables
    (``build_skipping``)."""
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.schemas import OBS_MEASURES
    from apsviz_timeseriesdb_ingest_spark.sources.skipping import build_skipping

    names = cat.read("gauge_station").select("station_id", "station_name", "location_type")
    obs_src = (cat.read("gauge_source").join(names, "station_id")
               .select("station_name", "data_source", "source_id"))
    obs = spark.createDataFrame(
        d.obs_frame(), "station_name string, data_source string, variable string, "
        "time timestamp_ntz, value double, timemark timestamp_ntz")
    batch = obs.join(F.broadcast(obs_src), ["station_name", "data_source"]).select(
        "source_id", "timemark", "time",
        *[F.when(F.col("variable") == m, F.col("value")).alias(m) for m in OBS_MEASURES])
    cat.merge_keep_latest("gauge_data", batch, keys=["source_id", "time"],
                          order_by=["timemark"], time_col="time")

    msrc = (cat.read("model_source").join(names, "station_id")
            .select("station_name", "data_source", "source_id"))
    model = spark.createDataFrame(
        d.model_frame(), "station_name string, data_source string, "
        "timemark timestamp_ntz, time timestamp_ntz, value double")
    batch = model.join(F.broadcast(msrc), ["station_name", "data_source"]).select(
        "source_id", "timemark", "time", F.col("value").alias("water_level"),
        F.lit(None).cast("double").alias("wave_height"))
    cat.merge_keep_latest("model_data", batch, keys=["source_id", "timemark", "time"],
                          order_by=["timemark"], time_col="time")
    for table in ("gauge_data", "model_data"):
        build_skipping(cat, table, range_cols=["time"])


class Requests:
    """The seeded request stream over what ``d`` holds up to ``t_end``."""

    def __init__(self, d: Domain, seed: int, t_end):
        self.rng = random.Random(seed)
        self.d, self.t_end = d, t_end
        #: model coverage: the first nowcast hour to the last forecast hour,
        #: and the last hour with both nowcasts and obs behind it
        self.cov0 = d.runs[0].timemark - (domain.NOWCAST_HOURS - 1) * HOUR
        self.cov1 = d.runs[-1].timemark + domain.FORECAST_HOURS * HOUR
        self.now1 = d.runs[-1].timemark
        everyone = [n for n, _ in d.stations]
        modelled = [n for n, loc in d.stations if loc in dict(domain.MODEL_TYPES).values()]
        self.pools = {"obs": self._skewed(everyone), "model": self._skewed(modelled)}

    def _skewed(self, stations):
        s = list(stations)
        self.rng.shuffle(s)
        k = max(1, len(s) // 5)
        return s[:k], s[k:] or s[:k]

    def _station(self, pool):
        hot, cold = self.pools[pool]
        return self.rng.choice(hot if self.rng.random() < 0.8 else cold)

    def _short(self, lo, hi):
        """1-3 days between ``lo`` and ``hi``, inside one month partition."""
        days = self.rng.randint(1, 3) * DAY
        start = lo + self.rng.randint(0, max(0, int((hi - lo - days) / HOUR))) * HOUR
        month_end = (start.replace(day=1, hour=0) + 32 * DAY).replace(day=1)
        if start + days > month_end:
            start = month_end - days
        return start, start + days - HOUR

    def _long(self, end_lo, end_hi):
        end = end_lo + self.rng.randint(0, int((end_hi - end_lo) / HOUR)) * HOUR
        return end - self.rng.randint(30, 60) * DAY, end

    def take(self, n: int) -> list[tuple]:
        """The next ``n`` requests: (kind, station, lo, hi)."""
        out = []
        for k in range(n):
            kind, short = BLOCK[k % len(BLOCK)], k % 2 == 0
            if kind == "x3":
                run = self.rng.choice(self.d.runs)
                out.append((kind, self._station("model"), run.timemark,
                            run.timemark + domain.FORECAST_HOURS * HOUR))
            elif kind in ("x1", "x2"):
                if short:
                    lo, hi = self._short(self.t_end - 10 * DAY, self.t_end)
                else:
                    lo, hi = self._long(self.t_end - 10 * DAY, self.t_end - HOUR)
                out.append((kind, self._station("obs"), lo, hi))
            else:
                if short:
                    lo, hi = self._short(self.cov0, self.now1 + DAY)
                else:
                    lo, hi = self._long(self.cov1 - 2 * DAY, self.cov1)
                out.append((kind, self._station("model"), lo, hi))
        return out


def call(read_api, cat, kind, station, lo, hi):
    fn = getattr(read_api, API[kind])
    if kind == "x1":
        return fn(cat, station, fmt(lo), fmt(hi))
    if kind == "x2":
        return fn(cat, station, fmt(lo), fmt(hi), NOWCAST_SOURCE)
    if kind == "x3":
        return fn(cat, station, fmt(lo), fmt(hi), FORECAST_SOURCE, INSTANCE)
    if kind == "x4":
        return fn(cat, station, fmt(lo), fmt(hi), NOWCAST_SOURCE, INSTANCE)
    return fn(cat, station, fmt(lo), fmt(hi))


def expected(exp: Expect, kind, station, lo, hi):
    if kind == "x1":
        return exp.x1(station, lo, hi)
    if kind == "x2":
        return exp.x2(station, lo, hi, NOWCAST_SOURCE)
    if kind == "x3":
        return exp.x3(station, lo, hi)
    if kind == "x4":
        return exp.x4(station, lo, hi)
    return exp.asof(station, lo, hi)


def plant(answer):
    """One wrong expected answer."""
    return (answer + [{"time_stamp": "planted"}] if isinstance(answer, list)
            else answer + Counter({("planted",): 1}))


def matches(kind, rows, answer) -> bool:
    if kind == "asof":
        return Counter(tuple(r) for r in rows) == answer
    return [r.asDict() for r in rows] == answer


def wrap(tracer) -> None:
    from apsviz_timeseriesdb_ingest_spark.plans import read_api
    from apsviz_timeseriesdb_ingest_spark.sources import zonemap

    def kept(sp, args, kwargs, result, state):
        sp.extra["kept"] = len(result)
        sp.extra["on_disk"] = len(warehouse.files(kwargs["path"])) if kwargs.get("path") else 0

    for kind, name in API.items():
        tracer.wrap(read_api, name, f"plans.read_api.{kind}", "plans.read_api")
    tracer.wrap(zonemap, "prune_files", "sources.zonemap.prune_files", "sources.zonemap",
                post=kept)


def layer_values(tracer, ops, reads) -> dict:
    """Read-path metrics of the requests ``reads`` = [(kind, build_s,
    run_s, rows)] sent in the measured ops: each request is one top-level
    ``plans.read_api.<kind>`` span (build) and one ``plans.read_api.run``
    span (collect)."""
    spans = [(i, s) for i, s in tracer.in_ops(ops)
             if s.layer == "plans.read_api" and s.parent is None]
    jobs = tracer.inclusive(lambda sp: len(sp.jobs))
    tasks = tracer.inclusive(lambda sp: sp.tasks)
    prunes = [s for _i, s in tracer.in_ops(ops) if s.name == "sources.zonemap.prune_files"]
    n = max(1, len(reads))
    by_kind: dict[str, list[float]] = {}
    for kind, b, r, _n in reads:
        by_kind.setdefault(kind, []).append(b + r)
    v = {f"plans.read_api.{kind}_p50_s": median(t) for kind, t in by_kind.items()}
    v.update({
        "plans.read_api.build_s": mean([r[1] for r in reads]),
        "plans.read_api.run_s": mean([r[2] for r in reads]),
        "plans.read_api.jobs_per_request": sum(jobs[i] for i, _s in spans) / n,
        "plans.read_api.tasks_per_request": sum(tasks[i] for i, _s in spans) / n,
        "sources.zonemap.prune_files_s": sum(s.dur for s in prunes) / n,
        "sources.zonemap.files_kept_ratio":
            sum(s.extra["kept"] for s in prunes) / max(1, sum(s.extra["on_disk"] for s in prunes)),
    })
    return v
