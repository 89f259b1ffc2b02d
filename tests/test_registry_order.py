"""The round driver validates a prefix of queries() (each round records
exactly the first 50 entries). queries() is DRIVER_ORDER, then every other
registered name sorted; these tests pin that rule and the rows the current
rotation fronts."""

from __future__ import annotations

import pytest

from yaml_pipe_spark.entrypoints import DRIVER_ORDER, REGISTRY, queries, oracle_sql

PREFIX = 50

# The six refresh-queue rows that did not fit round 14's prefix; they are
# fronted now and must stay inside the prefix until their driver rows land.
ROTATED: set[str] = {
    "rel_parts_supplier_count",
    "rel_product_profit",
    "rel_promotion_suppliers",
    "rel_revenue_trend",
    "rel_shipmode_priority",
    "rel_shipping_priority",
}


def test_queries_prefix_is_driver_order():
    assert list(queries())[:PREFIX] == DRIVER_ORDER[:PREFIX]
    assert DRIVER_ORDER[0] == "flagship"


def test_rotated_rows_inside_driver_prefix():
    missing = ROTATED - set(list(queries())[:PREFIX])
    assert not missing, f"outside the {PREFIX}-entry driver prefix: {missing}"


def test_driver_prefix_rows_have_oracles():
    no_oracle = [n for n in DRIVER_ORDER if REGISTRY[n].oracle is None]
    assert not no_oracle, f"prefix rows without an oracle twin: {no_oracle}"


def test_queries_tail_is_sorted_rest():
    tail = list(queries())[len(DRIVER_ORDER):]
    assert tail == sorted(set(REGISTRY) - set(DRIVER_ORDER))


def test_driver_order_is_valid():
    assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER)), "duplicates"
    stale = [n for n in DRIVER_ORDER if n not in REGISTRY]
    assert not stale, f"DRIVER_ORDER names not in REGISTRY: {stale}"
    # the driver validates exactly the FIRST 50 queries() entries; listing
    # extra fill rows past that is fine (they fall outside the prefix), but
    # DRIVER_ORDER must at least cover the whole prefix
    assert len(DRIVER_ORDER) >= PREFIX, "DRIVER_ORDER shorter than the prefix"


def test_register_rejects_duplicate_names():
    from yaml_pipe_spark.entrypoints import register

    with pytest.raises(ValueError, match="duplicate query registration"):

        @register("flagship", None)
        def _dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_every_registry_entry_is_emitted():
    names = list(queries())
    assert set(names) == set(REGISTRY)
    # oracle dict is a subset in the same order
    keys = list(oracle_sql())
    assert keys == [n for n in names if REGISTRY[n].oracle is not None]
