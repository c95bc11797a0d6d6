"""The identity gate's digest: order-insensitive, stable, and sensitive
to any changed value."""

import pytest

from digest import digest


@pytest.fixture(scope="module")
def spark():
    from yaetos_spark.session import get_spark

    return get_spark(app_name="perfbench_tests")


ROWS = [(1, "a", 0.1 + 0.2, [1.5, 2.5], {"k": 1}), (2, "b", -0.0, [], None), (3, None, 1e-12, None, {"z": 3})]
SCHEMA = "id long, s string, x double, v array<double>, m map<string,int>"


def test_digest_ignores_row_order_and_partitioning(spark):
    a = spark.createDataFrame(ROWS, SCHEMA)
    b = spark.createDataFrame(list(reversed(ROWS)), SCHEMA).repartition(3)
    assert digest(a) == digest(b)


def test_digest_ignores_last_bit_float_noise(spark):
    a = spark.createDataFrame([(0.1 + 0.2,), (0.0,)], "x double")
    b = spark.createDataFrame([(0.3,), (-0.0,)], "x double")
    assert digest(a) == digest(b)


def test_digest_sees_changed_and_duplicated_rows(spark):
    base = spark.createDataFrame(ROWS, SCHEMA)
    changed = spark.createDataFrame([ROWS[0], ROWS[1], (3, None, 2e-12, None, {"z": 3})], SCHEMA)
    duplicated = spark.createDataFrame(ROWS + ROWS[:1], SCHEMA)
    assert len({digest(base), digest(changed), digest(duplicated)}) == 3


def test_digest_skips_wall_clock_column(spark):
    a = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id long, _created_at string")
    b = spark.createDataFrame([(1, "2025-06-01 12:00:00")], "id long, _created_at string")
    assert digest(a) == digest(b)
