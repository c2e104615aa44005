"""Oracle-parity samples of the tail: driver-window insurance.

The driver's correctness gate hashes only the FIRST 50 ``queries()``
entries; positions 51+ are verified by ``tools/parity.py`` runs, which
happen between rounds, not in CI. This module closes that gap: every
pytest run re-verifies two disjoint 20-query samples drawn from the
entries OUTSIDE the driver window, so a parity regression in the long
tail cannot hide until the next full parity sweep. Full-suite
equivalence still comes from ``tools/parity.py``; this is the canary,
not the census.

- ``test_parity_sample[name@seed]`` checks a sample drawn from the fixed
  ``PINNED_SEED``, so its test ids are the same on every day.
- ``test_parity_sample_rotating[slot]`` checks a sample of the rest of
  the tail drawn from today's date, so over the days it covers all of
  it. Its ids are slot numbers, stable across days; a failure names the
  query and the seed (``name@seed``) in its message.
"""

from __future__ import annotations

import datetime
import os
import random
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo/tools")

import __spark_entry__ as entry
from parity import DRIVER_WINDOW, SF_DIR, TABLES, normalize

SAMPLE_SIZE = 20
PINNED_SEED = 20261019


def _draw(pool: list[str], seed: int) -> list[str]:
    return sorted(random.Random(seed).sample(pool, min(SAMPLE_SIZE, len(pool))))


# the driver already hashes the first DRIVER_WINDOW entries every round;
# sample the tail beyond its reach
_ORACLES = entry.oracle_sql()
TAIL = [n for n in list(entry.queries())[DRIVER_WINDOW:] if n in _ORACLES]
PINNED = _draw(TAIL, PINNED_SEED)


def _rotating_seed() -> int:
    """Date-rotated by default; pin via PARITY_SAMPLE_SEED to reproduce.

    A red canary must be re-runnable the next day: copy the seed from the
    failure message (``name@seed``) into ``PARITY_SAMPLE_SEED=<seed>
    pytest ...`` to replay the exact same 20-query sample byte-for-byte.
    """
    env = os.environ.get("PARITY_SAMPLE_SEED")
    if env:
        return int(env)
    return int(datetime.date.today().strftime("%Y%m%d"))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _check(spark, duck, name: str, tag: str) -> None:
    spdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(_ORACLES[name]).df()
    entry.release_persisted()
    a, b = normalize(spdf), normalize(odf)
    assert list(a.columns) == list(b.columns), tag
    assert len(a) == len(b), tag
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True, obj=tag)


# the seed travels in the test id so a failure names its own repro
@pytest.mark.parametrize("name", [f"{n}@{PINNED_SEED}" for n in PINNED])
def test_parity_sample(spark, duck, name):
    _check(spark, duck, name.rsplit("@", 1)[0], name)


@pytest.mark.parametrize("slot", range(SAMPLE_SIZE))
def test_parity_sample_rotating(spark, duck, slot):
    seed = _rotating_seed()
    name = _draw([n for n in TAIL if n not in PINNED], seed)[slot]
    _check(spark, duck, name, f"{name}@{seed}")


def test_driver_window_is_frozen():
    """The correctness gate hashes the first 50 ``queries()`` entries; the
    window only changes by editing ``DRIVER_WINDOW_QUERIES`` on purpose."""
    assert len(entry.DRIVER_WINDOW_QUERIES) == DRIVER_WINDOW
    assert list(entry.queries())[:DRIVER_WINDOW] == list(entry.DRIVER_WINDOW_QUERIES)
