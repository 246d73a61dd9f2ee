"""Registry contract tests: every oracle key has a query; every query
runs at sf0.001 and returns a stable, non-degenerate schema."""

from __future__ import annotations

import json

import pytest

import minefields_kafka_streams_deduplication_spark as engine

# Streaming queries execute a real micro-batch run — smoke-tested
# separately in test_streaming.py to keep this sweep fast.
STREAMING = {
    "dedup_stream_watermark",
    "dedup_stream_custom_ttl",
    "window_tumbling_stream",
    "window_session_stream",
    "join_interval_stream",
}


def test_every_oracle_has_a_query():
    qs, os_ = engine.get_queries(), engine.get_oracles()
    assert set(os_) <= set(qs)


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


@pytest.mark.parametrize(
    "name", sorted(n for n in engine.get_queries() if n not in STREAMING)
)
def test_query_runs(spark, sf_dir, name):
    df = engine.get_queries()[name](spark, sf_dir)
    assert df.columns, f"{name} has no columns"
    # The driver's canonicalization: an unhashable (nested) output
    # column fails here the way it failed the driver's row check.
    pdf = df.limit(5).toPandas()
    pdf.sort_values(list(pdf.columns))


def test_driver_order_is_a_permutation_of_the_registry():
    from minefields_kafka_streams_deduplication_spark.registry import QUERIES, _driver_order

    order = _driver_order(list(QUERIES))
    assert len(order) == len(QUERIES)
    assert set(order) == set(QUERIES)


def test_driver_order_tiers():
    """never-checked oracles, then REVERIFY in tuple order, then the
    other oracles stalest green driver row first, then rows-only."""
    from minefields_kafka_streams_deduplication_spark.registry import (
        LAST_GREEN,
        ORACLES,
        QUERIES,
        REVERIFY,
        _driver_order,
    )

    assert LAST_GREEN, "no CORRECTNESS_r*.json rows were read"
    assert set(REVERIFY) <= set(QUERIES)
    order = _driver_order(list(QUERIES))
    never = [n for n in order if n in ORACLES and n not in LAST_GREEN and n not in REVERIFY]
    head = order[: len(never) + len(REVERIFY)]
    assert head == never + list(REVERIFY)
    rest = order[len(head) :]
    rotated = [n for n in rest if n in ORACLES]
    assert rest[: len(rotated)] == rotated, "rows-only queries must come last"
    rounds = [LAST_GREEN[n] for n in rotated]
    assert rounds == sorted(rounds)


def test_last_green_reads_hash_match_rows(tmp_path):
    from minefields_kafka_streams_deduplication_spark.registry import _last_green

    def row(ok):
        return {"rows_match": True, "schema_match": True, "hash_match": ok}

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": row(True), "b": row(True), "c": row(False)})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": row(True), "b": row(None), "d": row(False)})
    )
    (tmp_path / "CORRECTNESS_r02_extra.json").write_text(json.dumps({"e": row(True)}))
    assert _last_green(tmp_path) == {"a": 2, "b": 1}


def test_oracle_types_duckdb_hash_safe(sf_dir):
    """No oracle may emit a DuckDB-only numeric type (HUGEINT / UHUGEINT /
    DECIMAL): the driver hashes values per-column after a schema compare,
    and a DuckDB ``sum(int)`` silently widens to HUGEINT, failing the hash
    even when values are equal (r03: ``train_val_split``). Every integer
    ``sum()`` in an oracle must be ``CAST(... AS BIGINT)``; every decimal
    aggregate must be cast/rounded to DOUBLE."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in engine.get_oracles().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            s = str(typ)
            if s in ("HUGEINT", "UHUGEINT", "UBIGINT") or s.startswith("DECIMAL"):
                bad.append((name, col, s))
    assert not bad, f"hash-unsafe oracle column types: {bad}"
