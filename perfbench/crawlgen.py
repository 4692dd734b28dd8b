"""Seeded OpenSky crawl generator for the ingest workloads.

Writes landing-zone CSVs that follow the raw contract in FIXTURES.md §1:
17 positional columns, capitalised ``True``/``False``, callsigns padded
to 8 characters, ``sensors`` always empty, squawks with leading zeros
and about 15% on-ground rows with null altitudes. On top of the clean
shape it plants what the pipeline must survive: a few malformed
numerics (coerce-to-NULL), aircraft that recur across crawls with recent
ones favoured, late rows whose ``last_contact`` is older than the
previous crawl, and a timeline that crosses one UTC midnight.

The generator keeps the typed ground truth of every row it writes, so
the correctness checks never read back through the program under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

HEADER = (
    "icao24,callsign,origin_country,time_position,last_contact,longitude,"
    "latitude,baro_altitude,on_ground,velocity,true_track,vertical_rate,"
    "sensors,geo_altitude,squawk,spi,position_source"
)

COUNTRIES = (
    "Germany", "France", "United Kingdom", "Switzerland", "Austria", "Italy",
    "Spain", "Portugal", "Poland", "Czech Republic", "Hungary", "Ireland",
    "Kingdom of the Netherlands", "Belgium", "Denmark", "Sweden", "Norway",
    "Finland", "Turkey", "Greece", "Romania", "Viet Nam", "United States",
    "Republic of Korea", "United Arab Emirates", "Qatar", "Luxembourg",
    "Malta", "Iceland", "Slovakia",
)
AIRLINES = ("DLH", "AFR", "BAW", "SWR", "AUA", "RYR", "EZY", "KLM", "SAS",
            "THY", "WZZ", "IBE", "TAP", "LOT", "UAE", "QTR", "ATL", "N")
MALFORMED = ("n/a", "12..5", "1e", "--3", "NaN?", "0x1F")

#: Seconds between crawls — the reference extractor's 10-minute cadence.
CRAWL_EVERY_S = 600
#: Crawls before the first UTC midnight of the timeline.
CRAWLS_BEFORE_MIDNIGHT = 3
#: Aircraft in the fleet per row of a crawl: each crawl sees a quarter.
FLEET_PER_ROW = 4


@dataclass
class Crawl:
    """One landing file and the typed truth of its rows."""

    name: str
    n_bytes: int
    #: (icao24, last_contact, velocity, baro_altitude, on_ground, callsign)
    rows: list[tuple] = field(default_factory=list)


class CrawlGenerator:
    """Deterministic crawl stream: the same seed gives the same files."""

    def __init__(self, seed: int, rows_per_file: int):
        self.rng = np.random.default_rng(seed)
        self.rows_per_file = rows_per_file
        fleet_size = FLEET_PER_ROW * rows_per_file
        ids = self.rng.choice(16**6, size=fleet_size, replace=False)
        self.fleet = [f"{i:06x}" for i in ids]
        self.country = self.rng.integers(0, len(COUNTRIES), fleet_size)
        self.callsign = [self._callsign() for _ in range(fleet_size)]
        # Recency weights: an aircraft seen in the last crawl is far more
        # likely to be seen again, as on a real radar picture.
        self.weight = np.ones(fleet_size)
        day = 20_400 + int(self.rng.integers(0, 60))  # a day in late 2025
        self.t0 = day * 86_400 - CRAWLS_BEFORE_MIDNIGHT * CRAWL_EVERY_S
        self.n_crawls = 0
        self.used: set[tuple[str, int]] = set()
        self.crawls: list[Crawl] = []

    def _callsign(self) -> str:
        if self.rng.random() < 0.015:
            return ""
        code = AIRLINES[int(self.rng.integers(0, len(AIRLINES)))]
        return f"{code}{int(self.rng.integers(1, 9999))}".ljust(8)[:8]

    def _num(self, value: float, lo_null: float = 0.0) -> tuple[str, float | None]:
        """Render a 2-decimal numeric; `lo_null` is its chance of a blank."""
        if self.rng.random() < lo_null:
            return "", None
        text = f"{value:.2f}"
        return text, float(text)

    def write(self, landing_dir: str, n_files: int) -> list[Crawl]:
        """Land the next `n_files` crawls in `landing_dir`."""
        os.makedirs(landing_dir, exist_ok=True)
        return [self._write_one(landing_dir) for _ in range(n_files)]

    def _write_one(self, landing_dir: str) -> Crawl:
        rng = self.rng
        t = self.t0 + self.n_crawls * CRAWL_EVERY_S
        self.n_crawls += 1
        stamp = datetime.fromtimestamp(t, timezone.utc).strftime("%Y%m%d_%H%M%S")
        name = f"states_crawl_europe_live_data_{stamp}.csv"
        p = self.weight / self.weight.sum()
        picked = rng.choice(len(self.fleet), size=self.rows_per_file, replace=False, p=p)
        self.weight *= 0.5
        self.weight += 1.0
        self.weight[picked] += 8.0

        crawl = Crawl(name=name, n_bytes=0)
        lines = [HEADER]
        for a in picked:
            icao = self.fleet[a]
            late = self.n_crawls > 1 and rng.random() < 0.01
            while True:
                if late:
                    last = t - CRAWL_EVERY_S - int(rng.integers(60, 900))
                else:
                    last = t - int(rng.integers(0, 20))
                if (icao, last) not in self.used:
                    break
            self.used.add((icao, last))
            tpos = last - int(rng.integers(0, 6))
            ground = rng.random() < 0.15
            lon, lat = rng.uniform(-10, 30), rng.uniform(36, 60)
            if ground:
                baro_s, baro = "", None
                geo_s = vr_s = ""
                vel_s, vel = self._num(rng.uniform(0, 15))
            else:
                baro_s, baro = self._num(rng.uniform(300, 12_000))
                geo_s, _ = self._num((baro or 0) + rng.uniform(-80, 80), 0.05)
                vr = 0.0 if rng.random() < 0.1 else rng.uniform(-15, 15)
                vr_s, _ = self._num(vr, 0.05)
                vel_s, vel = self._num(rng.uniform(80, 280), 0.002)
            track_s, _ = self._num(rng.uniform(0, 360))
            if rng.random() < 0.005:
                bad = MALFORMED[int(rng.integers(0, len(MALFORMED)))]
                col = int(rng.integers(0, 3))
                if col == 0:
                    vel_s, vel = bad, None
                elif col == 1:
                    track_s = bad
                else:
                    geo_s = bad
            squawk = "" if rng.random() < 0.14 else "".join(
                str(d) for d in rng.integers(0, 8, 4)
            )
            spi = "True" if rng.random() < 0.02 else "False"
            src = "0" if rng.random() < 0.95 else str(int(rng.integers(1, 4)))
            call = self.callsign[a]
            lines.append(
                ",".join(
                    (
                        icao, call, COUNTRIES[self.country[a]], str(tpos), str(last),
                        f"{lon:.4f}", f"{lat:.4f}", baro_s, "True" if ground else "False",
                        vel_s, track_s, vr_s, "", geo_s, squawk, spi, src,
                    )
                )
            )
            crawl.rows.append((icao, last, vel, baro, ground, call or None))
        data = ("\n".join(lines) + "\n").encode()
        path = os.path.join(landing_dir, name)
        with open(path + ".tmp", "wb") as f:
            f.write(data)
        # Land atomically: a scan never sees a half-written crawl.
        os.replace(path + ".tmp", path)
        crawl.n_bytes = len(data)
        self.crawls.append(crawl)
        return crawl

    def truth_rows(self) -> list[tuple]:
        """Every generated row as (file_name, *row)."""
        return [(c.name, *r) for c in self.crawls for r in c.rows]

    def latest_per_aircraft(self) -> dict[str, tuple]:
        """icao24 -> its row with the greatest last_contact."""
        best: dict[str, tuple] = {}
        for c in self.crawls:
            for r in c.rows:
                if r[0] not in best or r[1] > best[r[0]][1]:
                    best[r[0]] = r
        return best
