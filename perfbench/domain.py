"""Seeded generator for the apsviz domain inputs and their expected state.

Everything the program sees is a file this module writes: the station
geometry CSV, the obs source-config CSV, obs harvest CSVs (plus their
``stationdata_meta`` station lists) and ADCIRC run directories, plus the
``config_item`` rows a model run's properties come from. The generator
also keeps its own record of every value it wrote, so the benchmark can
recompute the keep-latest fact state (``expected_obs``, ``obs_frame``,
``model_frame``) and every dashboard response (``expect.py``) in plain
Python, independently of the engine.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

HOUR = dt.timedelta(hours=1)

#: obs source configs: two water-level sources and one wave-height source
#: (data_source, source_name, source_archive, source_variable,
#: filename_prefix, location_type, units)
OBS_SOURCES = (
    ("tidal_gauge", "noaa", "noaa", "water_level",
     "noaa_stationdata_water_level", "tidal", "m"),
    ("coastal_gauge", "ncem", "contrails", "water_level",
     "contrails_stationdata_water_level", "coastal", "m"),
    ("ocean_buoy", "ndbc", "ndbc", "wave_height",
     "ndbc_stationdata_wave_height", "ocean", "m"),
)
LOCATION_SHARE = (("tidal", 0.5), ("coastal", 0.25), ("ocean", 0.25))

#: X1 output label of each obs data_source
#: (scripts/get_obs_timeseries_station_data.sql:26-38)
X1_LABELS = {
    "ocean_buoy": "ocean_buoy_wave_height",
    "tidal_gauge": "tidal_gauge_water_level",
    "tidal_predictions": "tidal_predictions",
    "coastal_gauge": "coastal_gauge_water_level",
    "river_gauge": "river_gauge_water_level",
}

#: ADCIRC station-type files landed per run → station location type
MODEL_TYPES = (("NOAASTATIONS", "tidal"), ("NDBCBUOYS", "ocean"))
NOWCAST_HOURS = 6
FORECAST_HOURS = 120
GRID = "NCSC_SAB_v1.23"
INSTANCE = "ncsc123_nam_sb55.01"
FORECAST_SOURCE = "NAMFORECAST_" + GRID.upper()
NOWCAST_SOURCE = "NOWCAST_" + GRID.upper()


def stamp(t: dt.datetime) -> str:
    """Colon-free ISO stamp used in harvest file names."""
    return t.strftime("%Y-%m-%dT%H_%M_%S")


def fmt(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _write_csv(path: str, header: str, names: list[str],
               times: list[str], values: np.ndarray) -> int:
    """Write ``values[i, j]`` as the row (names[i], times[j], value)."""
    lines = [header]
    for i, name in enumerate(names):
        row = values[i]
        lines.extend(f"{name},{t},{v!r}" for t, v in zip(times, row.tolist()))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return len(lines) - 1


@dataclass
class Harvest:
    source: int
    stamp: dt.datetime
    start: dt.datetime          # first hour in the file
    values: np.ndarray          # (stations of the source, hours)


@dataclass
class ModelRun:
    run_id: str
    timemark: dt.datetime
    #: (data_source, station_type) -> (first hour, values[stations, hours])
    series: dict = field(default_factory=dict)
    rows: int = 0


class Domain:
    """Stations, sources and the files landed so far, for one seed.

    The station set and the value streams are functions of ``seed`` only,
    so two runs with one seed land byte-identical files."""

    def __init__(self, root: str, seed: int, n_stations: int):
        self.root = root
        self.harvest_dir = os.path.join(root, "harvest")
        os.makedirs(self.harvest_dir, exist_ok=True)
        self.rng = np.random.default_rng(seed)
        self.stations: list[tuple[str, str]] = []
        for loc, share in LOCATION_SHARE:
            for _ in range(max(2, round(n_stations * share))):
                self.stations.append((f"ST{len(self.stations):04d}", loc))
        self.by_type = {loc: [n for n, t in self.stations if t == loc]
                        for loc, _ in LOCATION_SHARE}
        self.harvests: list[Harvest] = []
        self.runs: list[ModelRun] = []
        self.config_rows: list[tuple] = []
        self._n_runs = 0

    # -- static inputs ------------------------------------------------------

    def write_static(self) -> tuple[str, str]:
        """Station geometry CSV (headerless) and source-config CSV."""
        stations_csv = os.path.join(self.root, "stations.csv")
        with open(stations_csv, "w") as f:
            for i, (name, loc) in enumerate(self.stations):
                f.write(f"{name},{34 + i % 50 / 10:.2f},{-77 - i % 40 / 10:.2f},"
                        f"gmt,OWNER{i % 3},Loc{i},{loc},us,nc,C{i % 9},01{i:04X}\n")
        meta_csv = os.path.join(self.root, "source_obs_meta.csv")
        with open(meta_csv, "w") as f:
            f.write("data_source,source_name,source_archive,source_variable,"
                    "filename_prefix,location_type,units\n")
            f.writelines(",".join(s) + "\n" for s in OBS_SOURCES)
        return stations_csv, meta_csv

    # -- obs harvests ---------------------------------------------------------

    def land_harvest(self, source: int, end: dt.datetime, hours: int, *,
                     write: bool = True) -> int:
        """Land one harvest of ``source`` covering [end - hours, end) with
        timemark ``end``, plus its station-meta list. Returns data rows.
        ``write=False`` only records the values (for warehouses seeded
        without going through the harvest files)."""
        data_source, _, _, variable, prefix, loc, _ = OBS_SOURCES[source]
        names = self.by_type[loc]
        start = end - hours * HOUR
        lo, hi = (0.0, 4.0) if variable == "wave_height" else (-1.5, 2.5)
        values = np.round(self.rng.uniform(lo, hi, (len(names), hours)), 3)
        self.harvests.append(Harvest(source, end, start, values))
        if not write:
            return values.size
        times = [fmt(start + k * HOUR) for k in range(hours)]
        rows = _write_csv(os.path.join(self.harvest_dir, f"{prefix}_{stamp(end)}.csv"),
                          f"STATION,TIME,{variable.upper()}", names, times, values)
        meta_prefix = prefix.replace("stationdata", "stationdata_meta")
        with open(os.path.join(self.harvest_dir,
                               f"{meta_prefix}_{stamp(end)}.csv"), "w") as f:
            f.write("STATION\n" + "\n".join(names) + "\n")
        return rows

    def land_tick(self, end: dt.datetime, hours: int, *, write: bool = True) -> int:
        return sum(self.land_harvest(s, end, hours, write=write)
                   for s in range(len(OBS_SOURCES)))

    # -- ADCIRC runs ----------------------------------------------------------

    def land_model_run(self, timemark: dt.datetime, *, write: bool = True) -> ModelRun:
        """Land one synoptic ADCIRC run directory (NOWCAST 6 h + FORECAST
        120 h for each station type, plus meta_FORECAST station lists) and
        its config_item rows."""
        self._n_runs += 1
        instance_id = 5000 + self._n_runs
        uid = f"{timemark:%Y%m%d%H}-namforecast"
        run = ModelRun(f"{instance_id}-{uid}", timemark)
        run_dir = os.path.join(self.harvest_dir, run.run_id)
        for station_type, loc in MODEL_TYPES:
            names = self.by_type[loc]
            column = "WAVE_HEIGHT" if loc == "ocean" else "WATER_LEVEL"
            for kind, first, n in (("NOWCAST", timemark - (NOWCAST_HOURS - 1) * HOUR,
                                    NOWCAST_HOURS),
                                   ("FORECAST", timemark + HOUR, FORECAST_HOURS)):
                values = np.round(self.rng.uniform(-1.0, 3.0, (len(names), n)), 3)
                source = FORECAST_SOURCE if kind == "FORECAST" else NOWCAST_SOURCE
                run.series[(source, station_type)] = (first, values)
                run.rows += values.size
                if write:
                    os.makedirs(run_dir, exist_ok=True)
                    times = [fmt(first + k * HOUR) for k in range(n)]
                    _write_csv(os.path.join(run_dir, f"{kind}_{station_type}.csv"),
                               f"STATION,TIME,{column}", names, times, values)
            if write:
                with open(os.path.join(run_dir, f"meta_FORECAST_{station_type}.csv"),
                          "w") as f:
                    f.write("STATION\n" + "\n".join(names) + "\n")
        props = {
            "suite.model": "adcirc", "ADCIRCgrid": GRID, "advisory": f"{timemark:%Y%m%d%H}",
            "forcing.ensemblename": "namforecast", "forcing.metclass": "synoptic",
            "instancename": INSTANCE, "storm": "none", "stormname": "none",
            "stormnumber": "none", "physical_location": "renci",
            "time.currentdate": f"{timemark:%y%m%d}",
            "time.currentcycle": f"{timemark:%H}", "workflow_type": "ecflow",
        }
        self.config_rows.extend((instance_id, uid, k, v) for k, v in props.items())
        self.runs.append(run)
        return run

    # -- expected state -------------------------------------------------------

    def expected_obs(self) -> dict[str, tuple[dt.datetime, np.ndarray, np.ndarray]]:
        """Keep-latest replay of every harvest landed so far: per
        data_source, (first hour, values[station, hour], timemark hour
        index). The newest harvest stamp wins each (station, time); NaN
        where no harvest covered the hour. Harvests are replayed in stamp
        order, independent of the order they were landed in."""
        out = {}
        for s, (data_source, *_rest) in enumerate(OBS_SOURCES):
            hs = sorted((h for h in self.harvests if h.source == s),
                        key=lambda h: h.stamp)
            if not hs:
                continue
            first = min(h.start for h in hs)
            n_hours = int((max(h.stamp for h in hs) - first) / HOUR)
            n_st = hs[0].values.shape[0]
            vals = np.full((n_st, n_hours), np.nan)
            marks = np.full(n_hours, -1, dtype=np.int64)
            for h in hs:
                a = int((h.start - first) / HOUR)
                b = a + h.values.shape[1]
                vals[:, a:b] = h.values
                marks[a:b] = int((h.stamp - first) / HOUR)
            out[data_source] = (first, vals, marks)
        return out

    def obs_frame(self) -> pd.DataFrame:
        """The keep-latest obs state as rows: station_name, data_source,
        variable, time, value, timemark."""
        parts = []
        for data_source, (first, vals, marks) in self.expected_obs().items():
            src = next(x for x in OBS_SOURCES if x[0] == data_source)
            names = self.by_type[src[5]]
            st, hr = np.nonzero(~np.isnan(vals))
            parts.append(pd.DataFrame({
                "station_name": np.array(names, dtype=object)[st],
                "data_source": data_source, "variable": src[3],
                "time": np.datetime64(first, "us") + hr.astype("timedelta64[h]"),
                "value": vals[st, hr],
                "timemark": np.datetime64(first, "us") + marks[hr].astype("timedelta64[h]"),
            }))
        return pd.concat(parts, ignore_index=True)

    def model_frame(self) -> pd.DataFrame:
        """Every model point landed: station_name, data_source, timemark,
        time, value (each run has its own timemark, so all points are live)."""
        loc_of = dict(MODEL_TYPES)
        parts = []
        for run in self.runs:
            for (source, station_type), (first, values) in run.series.items():
                names = self.by_type[loc_of[station_type]]
                st, hr = np.indices(values.shape).reshape(2, -1)
                parts.append(pd.DataFrame({
                    "station_name": np.array(names, dtype=object)[st],
                    "data_source": source,
                    "timemark": np.datetime64(run.timemark, "us"),
                    "time": np.datetime64(first, "us") + hr.astype("timedelta64[h]"),
                    "value": values[st, hr],
                }))
        return pd.concat(parts, ignore_index=True)
