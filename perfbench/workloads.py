"""The closed-loop workloads over one generated domain.

Each workload builds its inputs in ``setup`` (timed as part of
``setup_s``), runs one op per ``op`` call and checks that op's output
against the generator's closed form, and round-trips a sample of
stored series against the closed form in ``verify_store``.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from datetime import datetime, timezone

import numpy as np

from perfbench import synth
from perfbench.synth import DAY_S, DT_S, T0

STEPS_PER_DAY = DAY_S // DT_S
LIVE_WINDOW_S = 1800  # the reference collector's trailing window
HISTORY_DAYS = 7
TILE_S = DAY_S
MAX_PLOT_POINTS = 200
ROUND_TRIP_SERIES = 6
# Source budget in the reference limiter's shape (45 calls per window),
# over a 1 s window so it never binds at the benchmark's op rates and
# ``sources.rate_wait_ms`` reads the limiter's own cost.
RATE_LIMIT = (45, 1.0)


def dt(epoch: float) -> datetime:
    return datetime.fromtimestamp(epoch, tz=timezone.utc)


def _epoch(naive_utc: datetime) -> int:
    return int(naive_utc.replace(tzinfo=timezone.utc).timestamp())


class CheckFailed(AssertionError):
    pass


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    """An engine over a store filled with grid indices [k_first, k_last]."""

    name = ""
    needs_source = False
    warmup_ops = 0
    # Op time on a 4-core VM in a slow window; timed ops = --seconds / this.
    nominal_op_s = 1.0
    k_first = 0
    k_last = synth.POINTS_PER_SERIES - 1

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.dom = synth.Domain(seed)
        self.workdir = workdir
        self.span = lambda name: nullcontext()

    def store_roots(self) -> list[str]:
        """The store's data directory, then its catalog sidecar."""
        return [self.store.path, self.store.path + "_catalog"]

    def k_stored(self, s: synth.Series) -> int:
        """Last grid index of ``s`` held by the store."""
        return self.k_last

    def block_calls(self) -> int:
        """Block calls the paged source has served so far."""
        return self.backing.calls_made if self.needs_source else 0

    def live_points(self) -> int:
        return sum(self.k_stored(s) - self.k_first + 1 for s in self.dom.series)

    def setup(self) -> None:
        from my_weather_spark import Domain, EngineSession, TsEngine, TsStore

        self.session = EngineSession(self.spark)
        self.store = TsStore(self.spark, os.path.join(self.workdir, "store"))
        self.engine = TsEngine(self.session, self.store)
        if self.needs_source:
            self._build_source(Domain(self.spark, self.dom.device_metadata()))
        pdf = self.dom.frame(self.k_first, self.k_last + 1)
        self.engine.store_ts(
            self.spark.createDataFrame(pdf), ingest_time=dt(T0 + self.k_last * DT_S)
        )

    def _build_source(self, catalog) -> None:
        """The backing "cloud" parquet: the store's span plus the future."""
        from my_weather_spark.sources.domain_source import DomainAdapter
        from my_weather_spark.sources.file_source import ChunkedFileAdapter
        from my_weather_spark.sources.rate_limiter import RateLimiter

        path = os.path.join(self.workdir, "cloud")
        pdf = self.dom.frame(self.k_first, synth.POINTS_PER_SERIES)
        self.spark.createDataFrame(pdf).write.parquet(path)
        self.backing = ChunkedFileAdapter(
            "cloud", path, max_points_per_call=1024, nominal_dt_seconds=DT_S,
            rate_limiters=[RateLimiter(*RATE_LIMIT, wait_time=0.005)],
        )
        self.session.register_adapter(DomainAdapter("netatmo", catalog, self.backing))

    def op(self, i: int) -> int:
        """Run op ``i``; return points stored (0 for reads)."""
        raise NotImplementedError

    def verify_store(self) -> None:
        """Round-trip a seeded sample of series from the store."""
        from my_weather_spark import UtcPeriod

        rng = np.random.default_rng(self.dom.seed + 7)
        pick = rng.choice(len(self.dom.series), ROUND_TRIP_SERIES, replace=False)
        sample = [self.dom.series[int(j)] for j in sorted(pick)]
        rows = self.engine.evaluate(
            [s.store_id for s in sample],
            UtcPeriod(T0 + self.k_first * DT_S, T0 + synth.POINTS_PER_SERIES * DT_S),
        ).collect()
        for qi, s in enumerate(sample):
            k = np.arange(self.k_first, self.k_stored(s) + 1, dtype=np.int64)
            got = [(_epoch(r["ts"]), r["value"]) for r in rows if r["query_index"] == qi]
            _check(len(got) == len(k), f"round trip {s.store_id}: {len(got)} != {len(k)} points")
            _check(np.array_equal([t for t, _ in got], T0 + k * DT_S),
                   f"round trip {s.store_id}: timestamps differ")
            _check(np.array_equal([v for _, v in got], self.dom.values(s, k)),
                   f"round trip {s.store_id}: values differ")


class Dashboard(Workload):
    """One op refreshes one Zipf-drawn station: 24 h tiles + 7 d plot."""

    name = "dashboard"
    warmup_ops = 3
    nominal_op_s = 3.0

    def op(self, i: int) -> int:
        from my_weather_spark import UtcPeriod, visual
        from my_weather_spark.model import MEASUREMENT_TYPES

        units = {t: u for t, u, _ in MEASUREMENT_TYPES}
        series = self.dom.station_series(self.dom.zipf_station())
        ids = [s.store_id for s in series]
        now = T0 + self.k_last * DT_S
        tiles_p = UtcPeriod(now - TILE_S, now)
        hist_p = UtcPeriod(now - HISTORY_DAYS * DAY_S, now)
        tiles = visual.current_conditions(
            self.engine, ids, tiles_p,
            unit_by_series={s.store_id: units[s.data_type] for s in series},
        )
        with self.span("visual.exec"):
            tiles = tiles.collect()
        hist = visual.history_plot_frame(self.engine, ids, hist_p, max_points=MAX_PLOT_POINTS)
        with self.span("visual.exec"):
            hist = hist.collect()
        self._check_tiles(series, tiles, tiles_p)
        self._check_history(series, hist, hist_p)
        return 0

    def _check_tiles(self, series, tiles, period) -> None:
        by_id = {r["series_id"]: r for r in tiles}
        _check(set(by_id) == {s.store_id for s in series}, "tiles: wrong series set")
        k = synth.k_range(period.start_epoch, period.end_epoch)
        for s in series:
            v = self.dom.values(s, k)
            r = by_id[s.store_id]
            _check(r["n_points"] == len(k), f"tile {s.store_id}: {r['n_points']} points")
            _check(r["min_value"] == v.min(), f"tile {s.store_id}: min")
            _check(r["max_value"] == v.max(), f"tile {s.store_id}: max")
            _check(r["last_value"] == v[-1], f"tile {s.store_id}: last")

    def _check_history(self, series, hist, period) -> None:
        # The engine's bucket_downsample: epoch-aligned buckets of
        # span // max_points seconds holding the mean of their points.
        # An unaligned period cuts a partial bucket at each end, so a
        # series carries up to max_points + 1 rows.
        bucket_s = int(period.end_epoch - period.start_epoch) // MAX_PLOT_POINTS
        k = synth.k_range(period.start_epoch, period.end_epoch)
        ts = T0 + k * DT_S
        starts, inverse = np.unique(ts - ts % bucket_s, return_inverse=True)
        _check(len(starts) <= MAX_PLOT_POINTS + 1, "history: more buckets than max_points + 1")
        for s in series:
            rows = sorted(
                (_epoch(r["ts"]), r["value"]) for r in hist if r["series_id"] == s.store_id
            )
            _check(len(rows) == len(starts), f"history {s.store_id}: {len(rows)} rows")
            v = self.dom.values(s, k)
            means = np.bincount(inverse, weights=v) / np.bincount(inverse)
            _check(np.array_equal([t for t, _ in rows], starts),
                   f"history {s.store_id}: bucket starts")
            _check(np.allclose([x for _, x in rows], means, rtol=1e-9, atol=1e-9),
                   f"history {s.store_id}: bucket means")


class LiveCollect(Workload):
    """The 5-min collector, sharded by station: one op is one station
    shard's cycle over its 9 series' trailing 30 min, four block calls
    of one page each, merged into today's partition. The shards take
    turns; the simulated clock advances 300 s once all 8 have run."""

    name = "live_collect"
    needs_source = True
    warmup_ops = 1
    nominal_op_s = 7.0
    # The store starts with yesterday and the first half of today.
    k_first = synth.POINTS_PER_SERIES - 2 * STEPS_PER_DAY
    k_last = synth.POINTS_PER_SERIES - STEPS_PER_DAY // 2 - 1

    def setup(self) -> None:
        super().setup()
        from my_weather_spark.pipeline import DataCollectionPeriodRelative, DataCollectionTask

        self.collected = {st: self.k_last for st in self.dom.stations}
        period = DataCollectionPeriodRelative(start_offset=LIVE_WINDOW_S)
        self.tasks = []
        for st in self.dom.stations:
            series = self.dom.station_series(st)
            self.tasks.append(DataCollectionTask(
                f"live-{st}", self.engine,
                [s.query_id for s in series], [s.store_id for s in series], period,
            ))

    def k_stored(self, s: synth.Series) -> int:
        return self.collected[s.station]

    def op(self, i: int) -> int:
        shard = i % len(self.tasks)
        k_now = self.k_last + i // len(self.tasks) + 1
        n = self.tasks[shard].collect(now=dt(T0 + k_now * DT_S))
        self.collected[self.dom.stations[shard]] = k_now
        want = len(self.tasks[shard].read_ts) * (LIVE_WINDOW_S // DT_S + 1)
        _check(n == want, f"live cycle collected {n} != {want} points")
        return n


WORKLOADS = {w.name: w for w in (Dashboard, LiveCollect)}
