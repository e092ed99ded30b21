"""The shared driver-strength comparison model (r14 ADVICE findings
#1/#2): one source of truth in queries/driver_model.py, imported by
the named-query checker and every guard test, and a value comparator that
FAILS on types outside the known-safe set instead of string-coercing
them (a Decimal('5.0') repr-matches 5.0 but the driver's
type-sensitive hash mismatches it)."""

from __future__ import annotations

import datetime
from decimal import Decimal

from cdc_2025_spark.queries.driver_model import (
    DRIVER_SAFE_ORACLE_TYPES,
    check_registered,
    compare_frames,
    normalize_rows,
    same_value,
    unsafe_oracle_columns,
)


def test_single_source_of_truth():
    """The oracle-check tool and the guard tests must bind the SAME
    objects — a future tightening cannot drift between them."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "oracle_check",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "oracle_check.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.check_registered is check_registered

    import tests.test_oracle_parity as top

    assert top.DRIVER_SAFE_ORACLE_TYPES is DRIVER_SAFE_ORACLE_TYPES


def test_decimal_fails_instead_of_string_coercing():
    # identical reprs — the old str(a)==str(b) fallback passed these
    assert not same_value(Decimal("5.0"), 5.0)
    assert not same_value(5.0, Decimal("5.0"))
    assert not same_value(Decimal("5"), 5)
    # containers / bytes are equally unsafe
    assert not same_value(b"abc", "abc")
    assert not same_value([1], [1])


def test_numeric_type_family_is_driver_strength():
    assert same_value(5, 5)
    assert same_value(5.0, 5.0)
    assert not same_value(5, 5.0)  # int64 vs double hash mismatch
    assert not same_value(True, 1)  # bool is not numeric here
    assert same_value(True, True)


def test_date_vs_datetime_fails():
    d = datetime.date(2020, 1, 1)
    dt = datetime.datetime(2020, 1, 1)
    assert same_value(d, d)
    assert same_value(dt, dt)
    assert not same_value(d, dt)


def test_nan_normalizes_equal():
    rows = [(float("nan"), 1)]
    cols = ["a", "b"]
    assert normalize_rows(rows, cols) == normalize_rows(rows, cols)


def test_none_only_matches_none():
    assert same_value(None, None)
    assert not same_value(None, 0)
    assert not same_value("", None)


def test_unsafe_oracle_columns_flags_hugeint_and_decimal():
    got = unsafe_oracle_columns(
        ["a", "b", "c", "d"],
        ["HUGEINT", "DECIMAL(15,2)", "BIGINT", "DOUBLE"],
    )
    assert got == ["a:HUGEINT", "b:DECIMAL(15,2)"]


def test_compare_frames_end_to_end():
    ok = compare_frames(
        ["b", "a"],
        [(2.0, 1)],
        ["a", "b"],
        ["BIGINT", "DOUBLE"],
        [(1, 2.0)],
    )
    assert ok is None
    # Decimal on the oracle side must fail even at equal repr
    bad = compare_frames(
        ["a"], [(5.0,)], ["a"], ["DOUBLE"], [(Decimal("5.0"),)]
    )
    assert bad is not None and "mismatch" in bad
    # unsafe declared type short-circuits first
    typed = compare_frames(
        ["a"], [(5.0,)], ["a"], ["DECIMAL(3,1)"], [(Decimal("5.0"),)]
    )
    assert typed is not None and "driver-unsafe" in typed


def test_signed_zero_rows_pair_up():
    # -0.0 and 0.0 are the same value; sorting must not split them
    # from their rows (the engine emits 0.0 where DuckDB emits -0.0)
    assert same_value(-0.0, 0.0)
    ok = compare_frames(
        ["b"], [(-0.0,), (-1.5,)], ["b"], ["DOUBLE"], [(0.0,), (-1.5,)]
    )
    assert ok is None
    # value equality stays strict
    bad = compare_frames(
        ["b"], [(-0.0,), (-1.5,)], ["b"], ["DOUBLE"], [(0.0,), (-1.4,)]
    )
    assert bad is not None and "mismatch" in bad
