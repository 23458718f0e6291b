from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_streaming_postgres_lab2_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"
# larger fixture for tests that need key cardinality the tiny scale
# can't provide (e.g. asof segmentation at n_seg >> cores)
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # the cores come from SPARK_GRAFT_CPUS; 4 partitions keep the
    # fixture-sized shuffles small
    s = build_session()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def round_half_up(x: float, ndigits: int) -> float:
    """HALF_UP rounding, matching Spark ``F.round`` and DuckDB ``round``.

    Python's built-in ``round()`` is banker's (HALF_EVEN): at an exact
    tie like 13/32 = 0.40625 it yields 0.4062 while both engines yield
    0.4063, so every pure-Python mirror that replays an engine-side
    ``round(x, n)`` must use this instead.

    Spark's ``F.round`` on doubles goes through
    ``BigDecimal.valueOf(x)`` -- the SHORTEST decimal string of the
    double -- then HALF_UP.  A scaled-float mirror
    (``floor(abs(x)*p + 0.5)``) drifts on non-tie near-midpoint values:
    2.675 is stored as 2.67499999...96, so ``2.675 * 100 = 267.4999...``
    floors to 2.67 while Spark rounds the decimal string "2.675" up to
    2.68.  Mirroring via ``Decimal(repr(x))`` (repr IS the shortest
    decimal string) reproduces the engine exactly on both ties and
    near-midpoints.
    """
    from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, localcontext

    # default context is 28 significant digits: quantize on |x| >= ~1e24
    # would raise InvalidOperation even though ndigits-rounding is a
    # no-op at that magnitude.  prec=60 covers every value the fixtures
    # can produce; anything still overflowing (|x| >= ~1e58) has no
    # fractional part a double can represent, so rounding is the
    # identity there.
    with localcontext() as ctx:
        ctx.prec = 60
        try:
            q = Decimal(repr(x)).quantize(
                Decimal(10) ** -ndigits, rounding=ROUND_HALF_UP
            )
        except InvalidOperation:
            return x
    return float(q)


# explicit schema for hand-built v2 event rows (None-valued fields defeat
# type inference on tiny frames)
EVENT_V2_DDL = (
    "event_id string, user_id int, session_id string, event_type string, "
    "product_id int, category string, price double, quantity int, "
    "user_segment string, search_query string, event_time string, "
    "source_system string"
)
