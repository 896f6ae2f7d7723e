"""Property-based pinning of the lenient-cast contract
(functions/casts.py, mirroring ParquetSinkContext.java:382-443).

Hypothesis generates adversarial strings (numerics, currency formats,
junk, empties); a pure-Python model defines the contract; Spark must
agree exactly. This is the §5.2 "quirky reference behaviors" guard:
int truncation toward zero, currency stripping, unparseable -> NULL ->
per-type default.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from universal_data_connector_spark.functions import casts as fc

INT_MIN, INT_MAX = -(2**31), 2**31 - 1


def model_double(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        f = float(s.strip())
        return f if f == f and abs(f) != float("inf") else None
    except ValueError:
        return None


def model_int(s: str | None) -> int | None:
    f = model_double(s)
    if f is None:
        return None
    i = int(f)  # truncation toward zero, like Double.intValue on in-range
    # out-of-range saturates, like Java's narrowing Double.intValue()
    # (the reference's fallback path) — not NULL
    return min(max(i, INT_MIN), INT_MAX)


def model_currency_double(s: str | None) -> float | None:
    if s is None:
        return None
    # parse first, strip currency noise only on failure — the
    # reference's order (unconditional stripping corrupted "1e5"->15)
    direct = model_double(s)
    if direct is not None:
        return direct
    return model_double(re.sub(r"[^0-9.\-]", "", s.strip()))


# Strings Spark's double cast accepts but float() rejects or vice versa
# (hex, inf/nan spellings, 'd'/'f' suffixes) are out of the contract.
_EXOTIC = re.compile(r"(?i)inf|nan|0x|[df]$|e")

plain_numbers = st.one_of(
    st.integers(INT_MIN + 1, INT_MAX - 1).map(str),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e9, max_value=1e9).map(repr),
)
currencyish = st.builds(
    lambda sym, n, dec: f"{sym}{n:,}{dec}",
    st.sampled_from(["$", "", "EUR ", "#"]),
    st.integers(0, 10_000_000),
    st.sampled_from(["", ".00", ".75"]),
)
junk = st.text(alphabet="0123456789.,$- abc", max_size=12)
cases = st.lists(
    st.one_of(plain_numbers, currencyish, junk, st.none())
      .filter(lambda s: s is None or not _EXOTIC.search(s)),
    min_size=1, max_size=60)


def _run(spark, values, col_fn):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r.out for r in df.select(col_fn(F.col("s")).alias("out")).collect()]


def test_smoke_lenient_casts_fixed_cases(spark):
    """Default-tier smoke of the three properties below on one fixed
    list: plain, fractional, saturating, currency, junk, empty and
    NULL inputs."""
    values = ["42", "-7.9", "3000000000", "$1,234.75", "EUR 1,000",
              "12abc", "", " 8 ", None]
    assert _run(spark, values, fc.lenient_int) == \
        [model_int(v) for v in values]
    assert _run(spark, values, fc.lenient_currency_double) == \
        pytest.approx([model_currency_double(v) for v in values])
    assert _run(spark, values,
                lambda c: fc.with_default(fc.lenient_int(c), "int")) == \
        [model_int(v) if model_int(v) is not None else 0 for v in values]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=cases)
def test_lenient_int_matches_model(spark, values):
    got = _run(spark, values, fc.lenient_int)
    assert got == [model_int(v) for v in values]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=cases)
def test_lenient_currency_double_matches_model(spark, values):
    got = _run(spark, values, fc.lenient_currency_double)
    want = [model_currency_double(v) for v in values]
    assert got == pytest.approx(want, nan_ok=True)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=cases)
def test_defaults_close_the_null_channel(spark, values):
    """with_default(lenient_int(x), 'int') is total: never NULL, junk -> 0."""
    got = _run(spark, values,
               lambda c: fc.with_default(fc.lenient_int(c), "int"))
    want = [(model_int(v) if model_int(v) is not None else 0) for v in values]
    assert got == want
