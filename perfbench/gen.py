"""Seeded input generator and the sequential-replay correctness oracle.

Everything here is pure Python (plus NumPy for the bulk source table):
the generator decides every key, operation and row image from the
seed, and the oracle replays the generated stream one change at a time
with the reference replicator's semantics (cdc_system.py:297-350):

* INSERT — insert-or-replace the row image;
* UPDATE — replace the image only if the key exists;
* DELETE — remove the key (a missing key is a no-op).

Within one capture call keys are unique (the ``cdc_id = base + key``
contract of ``LogCapture``), and calls reach the log in call order, so
replaying calls in order, rows in any order, is the reference's
``cdc_id``-ordered replay.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

INSERT, UPDATE, DELETE = "INSERT", "UPDATE", "DELETE"

#: the ``orders`` columns the tracked table carries (TPC-H shape)
COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
KEY = COLUMNS[0]
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0 = 8035  # 1992-01-01 in days since the epoch
_DAYS = 2405  # through 1998-08-02
#: keys of rows that are never inserted: updates aimed here hit a
#: missing key (kept below the 1e9 per-call key space of LogCapture)
MISSING_BASE = 500_000_000

#: a row image: (key, custkey, status, price, date as epoch seconds, priority)
Row = tuple


def replay(state: dict[int, Row], changes) -> dict[int, Row]:
    """Apply ``(op, key, image)`` changes in order to ``state`` (in
    place) with the reference's sequential semantics; returns it."""
    for op, key, image in changes:
        if op == INSERT:
            state[key] = image
        elif op == UPDATE:
            if key in state:
                state[key] = image
        elif op == DELETE:
            state.pop(key, None)
        else:
            raise ValueError(f"unknown operation {op!r}")
    return state


@dataclass(frozen=True)
class Call:
    """One ``capture_*`` call: its operation, the row images it carries
    and, for UPDATE, the old images of the keys that exist."""

    op: str
    rows: list[Row]
    old: list[Row] | None = None

    def changes(self):
        for r in self.rows:
            yield self.op, r[0], r


@dataclass(frozen=True)
class CallSpec:
    """Rows per call, and the share of them aimed at live keys drawn
    uniformly (the rest are fresh keys for INSERT and never-inserted
    keys for UPDATE)."""

    op: str
    rows: int
    live_share: float = 1.0


def round_changes(calls: list[Call]) -> int:
    return sum(len(c.rows) for c in calls)


def source_columns(seed: int, n: int) -> dict[str, np.ndarray]:
    """The initial ``orders`` table as NumPy columns (keys ``0..n-1``)."""
    g = np.random.default_rng(seed)
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": g.integers(1, 15_001, n, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[g.integers(0, len(STATUSES), n)],
        "o_totalprice": np.round(g.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": (_DAY0 + g.integers(0, _DAYS, n, dtype=np.int64)) * 86_400,
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, len(PRIORITIES), n)],
    }


def rows_of(cols: dict[str, np.ndarray]) -> list[Row]:
    return list(zip(*(cols[c].tolist() for c in COLUMNS)))


class Generator:
    """Rounds of capture calls over a live key set. The key state moves
    only on :meth:`commit`, once the round has run."""

    def __init__(self, seed: int, state: dict[int, Row], spec: tuple[CallSpec, ...]):
        self.rng = random.Random(seed)
        self.spec = spec
        self.state = state
        self._live = list(state)
        self._pos = {k: i for i, k in enumerate(self._live)}
        self._next_fresh = max(state, default=-1) + 1
        self._missing = MISSING_BASE

    # -- row images ----------------------------------------------------------

    def image(self, key: int) -> Row:
        r = self.rng
        return (
            key,
            r.randint(1, 15_000),
            r.choice(STATUSES),
            round(r.uniform(900.0, 500_000.0), 2),
            (_DAY0 + r.randrange(_DAYS)) * 86_400,
            r.choice(PRIORITIES),
        )

    # -- key choice ----------------------------------------------------------

    def _live_keys(self, k: int, taken: set[int]) -> list[int]:
        out: list[int] = []
        while len(out) < k:
            key = self._live[self.rng.randrange(len(self._live))]
            if key not in taken:
                taken.add(key)
                out.append(key)
        return out

    def _keys_for(self, cs: CallSpec) -> list[int]:
        n_live = round(cs.rows * cs.live_share)
        keys = self._live_keys(n_live, set())
        for _ in range(cs.rows - n_live):
            if cs.op == INSERT:
                keys.append(self._next_fresh)
                self._next_fresh += 1
            else:
                keys.append(self._missing)
                self._missing += 1
        return keys

    # -- rounds --------------------------------------------------------------

    def call(self, op: str, keys: list[int], view: dict[int, Row]) -> Call:
        """A call over ``keys`` against ``view`` (the state as the
        earlier calls of the same round leave it)."""
        if op == DELETE:
            rows = [view[k] if k in view else self.image(k) for k in keys]
            c = Call(DELETE, rows)
        elif op == UPDATE:
            rows = [self.image(k) for k in keys]
            c = Call(UPDATE, rows, [view[k] for k in keys if k in view])
        else:
            c = Call(op, [self.image(k) for k in keys])
        return c

    def next_round(self) -> list[Call]:
        """Generate one round; the state moves only on :meth:`commit`."""
        view = dict(self.state)
        calls = []
        for cs in self.spec:
            c = self.call(cs.op, self._keys_for(cs), view)
            replay(view, c.changes())
            calls.append(c)
        return calls

    def commit(self, calls: list[Call]) -> None:
        for c in calls:
            for op, key, image in c.changes():
                before = key in self.state
                replay(self.state, [(op, key, image)])
                after = key in self.state
                if after and not before:
                    self._pos[key] = len(self._live)
                    self._live.append(key)
                elif before and not after:
                    i = self._pos.pop(key)
                    last = self._live.pop()
                    if last != key:
                        self._live[i] = last
                        self._pos[last] = i