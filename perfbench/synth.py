"""Seeded synthetic weather domain with closed-form values.

8 stations, each a base unit plus three outdoor modules (outdoor,
rain, wind): 32 modules carrying 72 series, sampled every 300 s. Every
value is a pure function of (seed, series, grid index), so the
correctness checks recompute expected tiles, bucket means and point
counts without reading anything the engine wrote.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

DT_S = 300
DAY_S = 86_400
STORE_DAYS = 14
POINTS_PER_SERIES = STORE_DAYS * DAY_S // DT_S  # 4032
# Grid index k sits at T0 + k * DT_S; a full store holds k = 0 .. 4031.
T0 = int(datetime(2024, 3, 4, tzinfo=timezone.utc).timestamp())

N_STATIONS = 8
# module name, netatmo type, measurements; the base unit is module 0
MODULES = [
    ("Indoor", "NAMain", ["Temperature", "CO2", "Humidity", "Pressure", "Noise"]),
    ("Outdoor", "NAModule1", ["Temperature", "Humidity"]),
    ("Rain", "NAModule3", ["Rain"]),
    ("Wind", "NAModule2", ["WindStrength"]),
]
# (base low, base high, daily amplitude low, high, noise amplitude)
RANGES = {
    "Temperature": (2.0, 22.0, 2.0, 8.0, 0.6),
    "CO2": (450.0, 900.0, 50.0, 300.0, 40.0),
    "Humidity": (35.0, 80.0, 5.0, 15.0, 3.0),
    "Pressure": (990.0, 1030.0, 1.0, 5.0, 0.4),
    "Noise": (32.0, 50.0, 2.0, 10.0, 4.0),
    "Rain": (0.0, 0.5, 0.2, 1.0, 0.3),
    "WindStrength": (3.0, 15.0, 1.0, 5.0, 2.0),
}
ZIPF_S = 1.1


@dataclass(frozen=True)
class Series:
    index: int
    station: str
    module: str
    data_type: str
    store_id: str
    query_id: str
    base: float
    amp: float
    phase_s: float
    noise: float


class Domain:
    """The generated catalog plus the closed form of every series."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.stations = [f"st{i + 1:02d}" for i in range(N_STATIONS)]
        self.series: list[Series] = []
        for st in self.stations:
            for module, _, types in MODULES:
                for dtype in types:
                    lo, hi, alo, ahi, noise = RANGES[dtype]
                    self.series.append(
                        Series(
                            index=len(self.series),
                            station=st,
                            module=module,
                            data_type=dtype,
                            store_id=f"shyft://netatmo/{st}/{module.lower()}/{dtype.lower()}",
                            query_id=(
                                f"netatmo://?station_name={st}"
                                f"&module_name={module}&data_type={dtype}"
                            ),
                            base=float(rng.uniform(lo, hi)),
                            amp=float(rng.uniform(alo, ahi)),
                            phase_s=float(rng.uniform(0, DAY_S)),
                            noise=noise,
                        )
                    )
        # Zipf popularity over a seeded ranking of the stations.
        self._popularity_rank = rng.permutation(N_STATIONS)
        self._pick_rng = np.random.default_rng(seed + 1_000_003)

    def station_series(self, station: str) -> list[Series]:
        return [s for s in self.series if s.station == station]

    def device_metadata(self) -> list[dict]:
        """Nested station metadata in the reference API's shape."""
        out = []
        for si, st in enumerate(self.stations):
            (base_name, base_type, base_types), *outdoor = MODULES
            out.append(
                {
                    "_id": f"70:ee:50:00:00:{si:02x}",
                    "station_name": st,
                    "module_name": base_name,
                    "type": base_type,
                    "data_type": list(base_types),
                    "place": {"timezone": "Europe/Oslo", "city": "Oslo",
                              "country": "NO", "altitude": 90.0,
                              "location": [10.75, 59.91]},
                    "modules": [
                        {"_id": f"02:00:00:00:{si:02x}:{mi:02x}",
                         "module_name": name, "type": mtype, "data_type": list(types)}
                        for mi, (name, mtype, types) in enumerate(outdoor, start=1)
                    ],
                }
            )
        return out

    def zipf_station(self) -> str:
        """Next dashboard station: rank r is drawn with weight 1/r^s."""
        w = 1.0 / np.arange(1, N_STATIONS + 1) ** ZIPF_S
        r = int(self._pick_rng.choice(N_STATIONS, p=w / w.sum()))
        return self.stations[int(self._popularity_rank[r])]

    # -- closed form ---------------------------------------------------
    @staticmethod
    def values(s: Series, k: np.ndarray) -> np.ndarray:
        """Value of series ``s`` at grid indices ``k`` (2 decimals)."""
        t = k * DT_S
        daily = s.amp * np.sin(2 * np.pi * (t + s.phase_s) / DAY_S)
        jitter = np.sin(k * 12.9898 + s.index * 78.233) * 43758.5453
        jitter = (jitter - np.floor(jitter) - 0.5) * s.noise
        v = s.base + daily + jitter
        if s.data_type == "Rain":
            v = np.maximum(v, 0.0)
        return np.round(v, 2)

    def frame(self, k_lo: int, k_hi: int):
        """pandas (series_id, ts, value) of every series for grid indices [k_lo, k_hi)."""
        import pandas as pd

        k = np.arange(k_lo, k_hi, dtype=np.int64)
        us = np.tile((T0 + k * DT_S) * 1_000_000, len(self.series))
        return pd.DataFrame(
            {
                "series_id": np.repeat([s.store_id for s in self.series], len(k)),
                "ts": pd.to_datetime(us, unit="us", utc=True),
                "value": np.concatenate([self.values(s, k) for s in self.series]),
            }
        )

def k_range(start_epoch: float, end_epoch: float) -> np.ndarray:
    """Grid indices whose timestamps lie in the inclusive period."""
    lo = int(np.ceil((start_epoch - T0) / DT_S))
    hi = int(np.floor((end_epoch - T0) / DT_S))
    return np.arange(max(lo, 0), hi + 1, dtype=np.int64)
