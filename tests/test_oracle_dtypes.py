"""Registry-wide oracle dtype sweep.

The driver hashes pandas-STRINGIFIED frames, so a column that one engine
fetches as int64 and the other as float64 hash-mismatches even when every
value is numerically equal (``123456`` vs ``123456.0``).  This is the bug
class that cost round 2 (DuckDB HUGEINT windowed/plain SUM, TINYINT SIGN,
DOUBLE CEIL/FLOOR vs Spark BIGINT/DOUBLE).  This test pins it shut for
every oracle-paired query in the registry: fetch both frames at the smoke
SF and assert zero int-vs-float dtype-kind pairs.

Values are NOT compared here — that is `tools/verify_local.py` and the
per-family parity tests' job; this sweep is only the type surface, so it
stays cheap enough to run in CI.
"""

from __future__ import annotations

import pytest

from map_reduce485_spark.queries import REGISTRY, _load_all
from tools.verify_local import kind_mismatches, open_oracle

from conftest import SF_SMOKE

_load_all()
_ORACLE_PAIRED = [n for n, s in REGISTRY.items() if s.oracle is not None]


@pytest.fixture(scope="module")
def duck_smoke():
    return open_oracle(SF_SMOKE)


@pytest.mark.parametrize("name", _ORACLE_PAIRED)
def test_oracle_dtype_kinds_agree(spark, duck_smoke, name):
    spec = REGISTRY[name]
    spdf = spec.fn(spark, SF_SMOKE).toPandas()
    opdf = duck_smoke.execute(spec.oracle).df()
    assert sorted(spdf.columns) == sorted(opdf.columns)
    bad = kind_mismatches(spdf, opdf)
    assert not bad, f"{name}: int-vs-float dtype kinds, driver hash WILL differ: {bad}"
