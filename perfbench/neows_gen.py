"""Seeded NeoWs bronze generator for the lake workloads.

Writes feed documents in the shape of ``tests/fixtures_neows.py`` (FIXTURES.md
A1) with the file layout ``sources.neows.ingest_range`` produces: one document
per request window of up to 7 days, named by the window's first day.  The
documents are compact JSON (the real writer indents; whitespace changes only
the byte count, not what the reader builds).

A fixed pool of asteroids recurs across days.  Edge cases are drawn at fixed
rates per asteroid entry:

- empty ``close_approach_data``               (RATE_EMPTY)
- non-numeric ``kilometers_per_second``       (RATE_BAD_VELOCITY)
- null ``close_approach_date``                (RATE_NULL_DATE)
- the same id twice within one day            (RATE_DUPLICATE)
- a non-Earth ``orbiting_body``               (RATE_OTHER_BODY)
- more than one close approach                (RATE_MULTI_APPROACH)

Every writer returns a :class:`Batch` holding what ``pipeline.run`` must
report for it: silver rows, distinct asteroids, dates and bodies, and the
silver rows whose tolerant velocity cast yields null.  The default (first
approach only) silver grain is assumed, as ``pipeline.run`` uses it.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

RATE_EMPTY = 1 / 50
RATE_BAD_VELOCITY = 1 / 40
RATE_NULL_DATE = 1 / 60
RATE_DUPLICATE = 1 / 25
RATE_OTHER_BODY = 1 / 15
RATE_MULTI_APPROACH = 1 / 8

WINDOW_DAYS = 7
OTHER_BODIES = ("Mars", "Venus", "Merc", "Juptr")
# strings try_cast turns into null ("NaN"/"Infinity" would parse as doubles)
BAD_VELOCITIES = ("n/a", "unknown", "--", "13,5")
FILE_PATTERN = "nasa-asteroid-data-{date}.json"
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


@dataclass
class Batch:
    """Expected outcome of one ``pipeline.run`` over the documents written."""

    silver: int = 0
    asteroids: set = field(default_factory=set)
    dates: set = field(default_factory=set)    # ISO strings; None = null row
    bodies: set = field(default_factory=set)   # None = entry without approach
    null_velocity: int = 0
    paths: list = field(default_factory=list)
    edge_cases: Counter = field(default_factory=Counter)  # how often each was drawn

    def gold_rows(self) -> dict[str, int]:
        """Rows this batch appends to each gold table."""
        return {
            "dim_asteroid": len(self.asteroids),
            "dim_date": len(self.dates),
            "dim_celestial_body": len(self.bodies),
            "fact_asteroid_approach": self.silver,
        }


class NeoWsGenerator:
    """Deterministic feed documents: the same seed gives the same bytes."""

    def __init__(self, seed: int, pool_size: int):
        self.seed = seed
        rng = random.Random(f"pool-{seed}")
        ids = rng.sample(range(2_000_000, 54_999_999), pool_size)
        self.pool = [self._static(rng, str(i)) for i in ids]

    @staticmethod
    def _static(rng: random.Random, aid: str) -> dict:
        d_min_km = round(rng.uniform(0.005, 2.0), 6)
        d_max_km = round(d_min_km * 2.236, 6)
        year = rng.randint(1990, 2024)
        code = "".join(rng.choice("ABCDEFGHJKLMNOPQRSTUVWXYZ") for _ in range(2))
        return {
            "id": aid,
            "neo_reference_id": aid,
            "name": f"({year} {code}{rng.randint(1, 99)})",
            "nasa_jpl_url": f"http://ssd.jpl.nasa.gov/sbdb.cgi?sstr={aid}",
            "absolute_magnitude_h": round(rng.uniform(15.0, 30.0), 2),
            "estimated_diameter": {
                "kilometers": {"estimated_diameter_min": d_min_km,
                               "estimated_diameter_max": d_max_km},
                "meters": {"estimated_diameter_min": round(d_min_km * 1000, 3),
                           "estimated_diameter_max": round(d_max_km * 1000, 3)},
                "miles": {"estimated_diameter_min": round(d_min_km * 0.621371, 6),
                          "estimated_diameter_max": round(d_max_km * 0.621371, 6)},
                "feet": {"estimated_diameter_min": round(d_min_km * 3280.84, 3),
                         "estimated_diameter_max": round(d_max_km * 3280.84, 3)},
            },
            "is_potentially_hazardous_asteroid": rng.random() < 0.1,
            "is_sentry_object": rng.random() < 0.02,
        }

    @staticmethod
    def _approach(rng: random.Random, day: date, body: str, bad_velocity: bool,
                  null_date: bool) -> dict:
        hour, minute = rng.randrange(24), rng.randrange(60)
        when = datetime(day.year, day.month, day.day, hour, minute, tzinfo=timezone.utc)
        kms = rng.uniform(1.0, 40.0)
        km = rng.uniform(1e5, 7.5e7)
        return {
            "close_approach_date": None if null_date else day.isoformat(),
            "close_approach_date_full":
                f"{day.year}-{_MONTHS[day.month - 1]}-{day.day:02d} {hour:02d}:{minute:02d}",
            "epoch_date_close_approach": int(when.timestamp() * 1000),
            "relative_velocity": {
                "kilometers_per_second":
                    rng.choice(BAD_VELOCITIES) if bad_velocity else f"{kms:.10f}",
                "kilometers_per_hour": f"{kms * 3600:.10f}",
                "miles_per_hour": f"{kms * 2236.94:.10f}",
            },
            "miss_distance": {
                "astronomical": f"{km / 149597870.7:.10f}",
                "lunar": f"{km / 384400:.10f}",
                "kilometers": f"{km:.10f}",
                "miles": f"{km * 0.621371:.10f}",
            },
            "orbiting_body": body,
        }

    def _entry(self, rng: random.Random, day: date, static: dict, batch: Batch) -> dict:
        entry = dict(static)
        if rng.random() < RATE_EMPTY:
            approaches = []
            batch.edge_cases["empty_approaches"] += 1
            batch.dates.add(None)
            batch.bodies.add(None)
            batch.null_velocity += 1
        else:
            body = rng.choice(OTHER_BODIES) if rng.random() < RATE_OTHER_BODY else "Earth"
            bad = rng.random() < RATE_BAD_VELOCITY
            null_date = rng.random() < RATE_NULL_DATE
            approaches = [self._approach(rng, day, body, bad, null_date)]
            batch.edge_cases.update(bad_velocity=bad, null_date=null_date,
                                    other_body=body != "Earth")
            if rng.random() < RATE_MULTI_APPROACH:
                batch.edge_cases["multi_approach"] += 1
                for _ in range(rng.randint(1, 2)):
                    later = day + timedelta(days=rng.randint(30, 3000))
                    approaches.append(self._approach(
                        rng, later, rng.choice(("Earth",) + OTHER_BODIES), False, False))
            batch.dates.add(None if null_date else day.isoformat())
            batch.bodies.add(body)
            batch.null_velocity += bad
        entry["close_approach_data"] = approaches
        batch.silver += 1
        batch.asteroids.add(static["id"])
        return entry

    def day_entries(self, day: date, per_day: int, batch: Batch) -> list[dict]:
        """The asteroid list of one feed day, a pure function of (seed, day)."""
        rng = random.Random(f"day-{self.seed}-{day.isoformat()}")
        entries = []
        for static in rng.sample(self.pool, per_day):
            entries.append(self._entry(rng, day, static, batch))
            if rng.random() < RATE_DUPLICATE:
                batch.edge_cases["duplicate_id"] += 1
                entries.append(self._entry(rng, day, static, batch))
        return entries

    def write_range(self, root: str, start: date, n_days: int, per_day: int,
                    window_days: int = WINDOW_DAYS) -> Batch:
        """Write ``n_days`` feed days from ``start`` as window documents."""
        os.makedirs(root, exist_ok=True)
        batch = Batch()
        for offset in range(0, n_days, window_days):
            first = start + timedelta(days=offset)
            days = [first + timedelta(days=i)
                    for i in range(min(window_days, n_days - offset))]
            neo = {d.isoformat(): self.day_entries(d, per_day, batch) for d in days}
            doc = {
                "element_count": sum(len(v) for v in neo.values()),
                "links": {
                    "next": _feed_link(days[-1] + timedelta(days=1)),
                    "prev": _feed_link(first - timedelta(days=window_days)),
                    "self": _feed_link(first),
                },
                "near_earth_objects": neo,
            }
            path = os.path.join(root, FILE_PATTERN.format(date=first.isoformat()))
            with open(path, "w") as f:
                f.write(json.dumps(doc))
            batch.paths.append(path)
        return batch


def _feed_link(d: date) -> str:
    return f"http://api.nasa.gov/neo/rest/v1/feed?start_date={d.isoformat()}"
