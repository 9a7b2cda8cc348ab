"""Seeded Graphite traffic: series, lines, history and the expected store.

Shared by the load generator (which sends the lines) and the checks in
the engine process (which rebuild what the store must hold). Nothing
here imports Spark or the engine, so the expected values never come
from the code under test.

Series follow the reference loadtest corpus shape
``loadtest.host<h>.plugin<p>.stuff<v>.value``. A seeded tenth of them
are tagged: their lines carry ``;k=v`` tags in a rotating order, and
every second line of a tagged series starts with a decoy duplicate key
that the real one later overrides (duplicate keys resolve last-wins).

Line slots: every slot ``k`` with ``k % SPECIAL_PERIOD`` equal to
0..3 is a malformed line of one drop class of the plain parser, slot 4
is a valid line with timestamp ``-1`` (receive time) on a series of
its own, and every other slot is a normal point. Live traffic loses the
point of a special slot; history sends special slots as extra lines.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

MALFORMED = ("missing_field", "bad_float", "nan_value", "bad_ts")
SPECIAL_PERIOD = 200
RECV_SLOT = len(MALFORMED)

_TAG_ORDERS = list(itertools.permutations(("dc", "env", "rack")))

DAY = 86400
#: rollup rules the store is compacted with: raw precision for 30
#: days, then one-minute buckets averaged
ROLLUP_AGE_S = 30 * DAY
ROLLUP_PRECISION_S = 60
#: history months relative to the run start: month A is old enough to
#: be rolled up, month B stays raw
HISTORY_A_AGE_S = 45 * DAY
HISTORY_B_AGE_S = 2 * DAY
HISTORY_A_STEP_S = 40
HISTORY_B_STEP_S = 60
#: slot numbers of each traffic source start far apart, so '-1' lines
#: of different sources never share a series
HISTORY_SLOT_BASE = 200_000_000
WARM_SLOT_BASE = 100_000_000


def canonical_tagged(name: str, pairs: list[tuple[str, str]]) -> str:
    """Graphite tag canonical form: keys sorted, duplicate keys
    resolved last-wins, ``name?k=v&k2=v2``."""
    last: dict[str, str] = {}
    for k, v in pairs:
        last[k] = v
    return name + "?" + "&".join(f"{k}={last[k]}" for k in sorted(last))


@dataclass(frozen=True)
class Point:
    path: str
    ts: int | None  # None: a '-1' line, stamped at receive time
    value: float


class Corpus:
    def __init__(
        self,
        seed: int,
        hosts: int,
        plugins: int,
        stuffs: int,
        tagged_share: float = 0.1,
    ) -> None:
        self.seed = seed
        self.hosts, self.plugins, self.stuffs = hosts, plugins, stuffs
        self.n = hosts * plugins * stuffs
        rng = random.Random(seed)
        self.tagged = frozenset(rng.sample(range(self.n), int(self.n * tagged_share)))
        #: the order live traffic cycles through the series
        self.order = list(range(self.n))
        rng.shuffle(self.order)

    # -- series ---------------------------------------------------------
    def coords(self, i: int) -> tuple[int, int, int]:
        return (
            i // (self.stuffs * self.plugins),
            (i // self.stuffs) % self.plugins,
            i % self.stuffs,
        )

    def name(self, i: int) -> str:
        h, p, v = self.coords(i)
        return f"loadtest.host{h}.plugin{p}.stuff{v}.value"

    @staticmethod
    def tags(i: int) -> dict[str, str]:
        return {"dc": f"dc{i % 8}", "env": f"env{(i // 8) % 4}", "rack": f"r{(i // 32) % 16}"}

    def path(self, i: int) -> str:
        if i not in self.tagged:
            return self.name(i)
        return canonical_tagged(self.name(i), sorted(self.tags(i).items()))

    def value(self, i: int, k: int) -> float:
        x = ((self.seed * 1_000_003 + i) * 2_654_435_761 + k * 40_503) & 0xFFFFFFFF
        return (x % 1_000_000) / 100

    @staticmethod
    def recv_path(k: int) -> str:
        return f"loadtest.recv{k}.plugin0.stuff0.value"

    def raw_name(self, i: int, k: int) -> str:
        """Metric name as sent: tags rotate order per slot, and odd
        slots carry a decoy duplicate key first."""
        if i not in self.tagged:
            return self.name(i)
        tags = self.tags(i)
        pairs = [(key, tags[key]) for key in _TAG_ORDERS[k % len(_TAG_ORDERS)]]
        if (k // len(_TAG_ORDERS)) % 2:
            pairs.insert(0, ("env", "decoy"))
        return self.name(i) + "".join(f";{a}={b}" for a, b in pairs)

    # -- lines ----------------------------------------------------------
    def line(self, k: int, i: int, ts: int) -> tuple[str, Point | None]:
        """Line for slot ``k`` carrying series ``i`` at ``ts``, and the
        point the store must keep for it (None when malformed)."""
        special = k % SPECIAL_PERIOD
        value = self.value(i, k)
        name = self.raw_name(i, k)
        if special == 0:
            return f"{name} {value}", None
        if special == 1:
            return f"{name} abc {ts}", None
        if special == 2:
            return f"{name} NaN {ts}", None
        if special == 3:
            return f"{name} {value} 17x9", None
        if special == RECV_SLOT:
            path = self.recv_path(k)
            return f"{path} {value} -1", Point(path, None, value)
        return f"{name} {value} {ts}", Point(self.path(i), ts, value)

    def live_group(self, g: int, per_group: int, ts: int, slot_base: int = 0):
        """Lines of open-loop send group ``g``: slots cycle through the
        series order, so a series recurs every ``n / rate`` seconds."""
        out = []
        for k in range(slot_base + g * per_group, slot_base + (g + 1) * per_group):
            out.append(self.line(k, self.order[k % self.n], ts))
        return out

    # -- history ----------------------------------------------------------
    def history(self, t0: int, per_month: int, dup_share: float):
        """Two months of history for every series, plus the duplicate
        rewrites (same path and time, new value) sent in a later load.

        Returns ``(lines, rewrite_lines, points, rewrites)``."""
        a0 = (t0 - HISTORY_A_AGE_S) // 3600 * 3600
        b0 = (t0 - HISTORY_B_AGE_S) // 3600 * 3600
        lines, points = [], []
        k = HISTORY_SLOT_BASE
        for i in range(self.n):
            for j in range(per_month):
                for ts in (
                    a0 + j * HISTORY_A_STEP_S + i % 37,
                    b0 + j * HISTORY_B_STEP_S + i % 29,
                ):
                    # special slots come as extra lines here, so every
                    # series keeps all its history points
                    while k % SPECIAL_PERIOD <= RECV_SLOT:
                        text, pt = self.line(k, i, ts)
                        lines.append(text)
                        if pt is not None:
                            points.append(pt)
                        k += 1
                    text, pt = self.line(k, i, ts)
                    lines.append(text)
                    points.append(pt)
                    k += 1
        rng = random.Random(self.seed + 1)
        rewrite_lines, rewrites = [], []
        b_points = [p for p in points if p.ts is not None and p.ts >= b0]
        for p in rng.sample(b_points, int(len(b_points) * dup_share / max(1, per_month))):
            i = self._series_of_path(p.path)
            new = Point(p.path, p.ts, round(p.value + 1000.0, 2))
            rewrite_lines.append(f"{self.raw_name(i, 1)} {new.value} {new.ts}")
            rewrites.append(new)
        return lines, rewrite_lines, points, rewrites

    def _series_of_path(self, path: str) -> int:
        h, p, v = (int(s) for s in _coord_digits(path.split("?")[0]))
        return (h * self.plugins + p) * self.stuffs + v

    def history_windows(self, t0: int, per_month: int) -> dict[str, tuple[int, int]]:
        """``[from, until]`` windows that cover each history month."""
        a0 = (t0 - HISTORY_A_AGE_S) // 3600 * 3600
        b0 = (t0 - HISTORY_B_AGE_S) // 3600 * 3600
        return {
            "A": (a0, a0 + per_month * HISTORY_A_STEP_S + 60),
            "B": (b0, b0 + per_month * HISTORY_B_STEP_S + 60),
        }


def _coord_digits(name: str) -> list[str]:
    parts = name.split(".")
    return [parts[1][4:], parts[2][6:], parts[3][5:]]


def expected_store(points, rewrites, rolled_before: int) -> dict[tuple[str, int], float]:
    """(path, time) -> value the store must return, with the reference's
    merge semantics: a rewrite of the same (path, time) replaces the
    older version, and points older than ``rolled_before`` are averaged
    into one-minute buckets."""
    raw: dict[tuple[str, int], float] = {}
    for p in list(points) + list(rewrites):
        if p.ts is not None:
            raw[(p.path, p.ts)] = p.value
    out: dict[tuple[str, int], float] = {}
    buckets: dict[tuple[str, int], list[float]] = {}
    for (path, ts), v in raw.items():
        if ts < rolled_before:
            buckets.setdefault((path, ts - ts % ROLLUP_PRECISION_S), []).append(v)
        else:
            out[(path, ts)] = v
    for key, vs in buckets.items():
        out[key] = sum(vs) / len(vs)
    return out
