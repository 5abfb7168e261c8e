"""Pure-Python answers to the dashboard read API, computed from the
generator's own record of what the warehouse holds (``domain.Domain``).

Each function returns what the matching ``plans.read_api`` call must
collect: a list of row dicts ordered by ``time_stamp`` for the pivots
(X1-X4), a multiset of row tuples for the model-vs-obs as-of read.
"""

from __future__ import annotations

import bisect
import datetime as dt
from collections import Counter

import numpy as np

from domain import (
    FORECAST_SOURCE,
    HOUR,
    MODEL_TYPES,
    NOWCAST_SOURCE,
    OBS_SOURCES,
    X1_LABELS,
    Domain,
    fmt,
)

#: X2 categories around the parameterized nowcast column
#: (scripts/get_obs_timeseries_station_data_allparms.sql:30-50)
X2_PRE = ("air_barometer",)
X2_POST = tuple(X1_LABELS.values()) + ("stream_gauge_stream_elevation", "wind_anemometer")


def label(source: str) -> str:
    return source.replace(".", "")


class Expect:
    def __init__(self, d: Domain):
        self.d = d
        self.obs = d.expected_obs()
        self.loc = dict(d.stations)
        self.station_type = {loc: t for t, loc in MODEL_TYPES}

    def obs_points(self, station: str, lo: dt.datetime, hi: dt.datetime):
        """[(time, value, source config)] of the station's obs in [lo, hi]."""
        src = next(s for s in OBS_SOURCES if s[5] == self.loc[station])
        first, vals, _marks = self.obs[src[0]]
        row = vals[self.d.by_type[src[5]].index(station)]
        a = max(0, int(np.ceil((lo - first) / HOUR)))
        b = min(len(row) - 1, int(np.floor((hi - first) / HOUR)))
        return [(first + h * HOUR, float(row[h]), src) for h in range(a, b + 1)
                if not np.isnan(row[h])]

    def model_points(self, station: str, lo: dt.datetime, hi: dt.datetime,
                     source: str | None = None, timemark: dt.datetime | None = None):
        """[(data_source, timemark, time, value)] of the station's model
        rows in [lo, hi]."""
        stype = self.station_type.get(self.loc[station])
        if stype is None:
            return []
        i = self.d.by_type[self.loc[station]].index(station)
        out = []
        for run in self.d.runs:
            if timemark is not None and run.timemark != timemark:
                continue
            for (src, t), (first, values) in run.series.items():
                if t != stype or (source is not None and src != source):
                    continue
                for h, v in enumerate(values[i].tolist()):
                    when = first + h * HOUR
                    if lo <= when <= hi:
                        out.append((src, run.timemark, when, v))
        return out

    def x1(self, station, lo, hi):
        cols = tuple(X1_LABELS.values())
        return [dict(dict.fromkeys(cols), time_stamp=fmt(t), **{X1_LABELS[src[0]]: v})
                for t, v, src in self.obs_points(station, lo, hi)]

    def x2(self, station, lo, hi, nowcast_source):
        cols = X2_PRE + (label(nowcast_source),) + X2_POST
        return [dict(dict.fromkeys(cols), time_stamp=fmt(t), **{X1_LABELS[src[0]]: v})
                for t, v, src in self.obs_points(station, lo, hi)]

    def x3(self, station, timemark, end):
        pts = self.model_points(station, timemark, end, FORECAST_SOURCE, timemark)
        return [{"time_stamp": fmt(t), label(FORECAST_SOURCE): v}
                for _s, _m, t, v in sorted(pts, key=lambda p: p[2])]

    def x4(self, station, lo, hi):
        pts = self.model_points(station, lo, hi, NOWCAST_SOURCE)
        return [{"time_stamp": fmt(t), label(NOWCAST_SOURCE): v}
                for _s, _m, t, v in sorted(pts, key=lambda p: p[2])]

    def asof(self, station, lo, hi, tolerance=HOUR):
        """Each model row with the latest obs row at or before its time
        (within the window), nulled when older than ``tolerance``."""
        obs = self.obs_points(station, lo, hi)
        times = [t for t, _v, _s in obs]
        out = Counter()
        for src, _mark, t, v in self.model_points(station, lo, hi):
            j = bisect.bisect_right(times, t) - 1
            match = (None, None)
            if j >= 0 and times[j] >= t - tolerance:
                ot, ov, osrc = obs[j]
                match = (ot, ov if osrc[3] == "water_level" else None)
            out[(station, src, t, v) + match] += 1
        return out
