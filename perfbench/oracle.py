"""Correctness checks, computed in DuckDB apart from the program.

Each check returns a list of problems; an empty list means the output
is correct. ``tests/test_checks.py`` proves every check can fail.
"""

from __future__ import annotations

import duckdb

_CANON = ("CAST(i AS BIGINT) AS i, CAST(t_long AS BIGINT) AS t_long, "
          "CAST(t_dec AS VARCHAR) AS t_dec, "
          "CAST(t_varchar AS VARCHAR) AS t_varchar, "
          "CAST(t_datetime AS TIMESTAMP) AS t_datetime")
_DIGEST = ("SELECT count(*) AS n, "
           "coalesce(sum(hash(i, t_long, t_dec, t_varchar, t_datetime)"
           "::HUGEINT), 0) AS h FROM ({q})")


def snapshot_problems(snapshot, n_rows: int) -> list[str]:
    """``snapshot``: an Arrow table or pandas frame of the final table
    (columns i, t_long, t_dec, t_varchar, t_datetime). Compared with
    ``cdc_snapshot_oracle(n_rows)`` by row count and an
    order-independent hash of every column."""
    from ru_cdc_spark.sources.binlog_frames import cdc_snapshot_oracle

    con = duckdb.connect()
    try:
        con.register("got", snapshot)
        got = con.execute(_DIGEST.format(
            q=f"SELECT {_CANON} FROM got")).fetchone()
        want = con.execute(_DIGEST.format(
            q=f"SELECT {_CANON} FROM ({cdc_snapshot_oracle(n_rows)})")
        ).fetchone()
    finally:
        con.close()
    if got == want:
        return []
    return [f"snapshot rows/hash {got[0]}/{got[1]} != oracle "
            f"{want[0]}/{want[1]} for {n_rows} rows"]


def delivery_problems(delivered: int, appended: int) -> list[str]:
    """Every appended change row is delivered exactly once."""
    if delivered == appended:
        return []
    return [f"stream delivered {delivered} change rows, appended {appended}"]


def live_rows(table):
    """The live rows of an ``AcidTable``, read with DuckDB straight from
    the data files its log lists as active (tombstones dropped)."""
    paths = [f["path"] for f in table.active_files()]
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT i, t_long, t_dec, t_varchar, t_datetime "
            "FROM read_parquet(?) WHERE NOT __deleted", [paths]).arrow()
    finally:
        con.close()


# Routing of the mq_fanout rules (inputs.routing_rules) written out as
# literal LIKE predicates; `\_` is a literal underscore.
_TOPIC_SQL = r"""
WITH src AS (
  SELECT o_orderkey, o_db AS db, o_table AS tbl
  FROM read_parquet('{orders}')
), ev AS (
  SELECT db, tbl, o_orderkey * 3 AS id FROM src
  UNION ALL SELECT db, tbl, o_orderkey * 3 + 1 FROM src WHERE o_orderkey % 10 < 3
  UNION ALL SELECT db, tbl, o_orderkey * 3 + 2 FROM src WHERE o_orderkey % 10 = 3
), routed AS (
  SELECT 'shop_orders' AS topic, id FROM ev
   WHERE db LIKE 'shop\_%' ESCAPE '\' AND tbl LIKE 'orders\_%' ESCAPE '\'
     AND tbl NOT LIKE 'orders\_tmp' ESCAPE '\'
  UNION ALL SELECT 'eu_2024', id FROM ev
   WHERE db LIKE '%\_eu' ESCAPE '\' AND tbl LIKE '%\_2024' ESCAPE '\'
  UNION ALL SELECT 'us_2023', id FROM ev
   WHERE db LIKE 'shop%us' AND tbl LIKE 'orders%23'
  UNION ALL SELECT 'legacy_all', id FROM ev
   WHERE db LIKE 'legacy\_%' ESCAPE '\' AND tbl NOT LIKE '%\_tmp' ESCAPE '\'
)
SELECT topic, count(*) AS n, count(DISTINCT id) AS d,
       sum(hash(id)::HUGEINT) AS h
FROM routed GROUP BY topic
"""

TOPICS = ("shop_orders", "eu_2024", "us_2023", "legacy_all")


def expected_topics(orders: str) -> dict[str, tuple[int, int, int]]:
    """topic -> (records, distinct ids, id-set hash), from orders.parquet."""
    con = duckdb.connect()
    try:
        rows = con.execute(_TOPIC_SQL.format(orders=orders)).fetchall()
    finally:
        con.close()
    return {t: (int(n), int(d), int(h)) for t, n, d, h in rows}


def queue_ids(messages: list[str]) -> list[int]:
    """Record ids of Canal-JSON payloads. ``envelope_to_json`` writes
    ``id`` as the first field, so the id is read without a JSON parse."""
    return [int(m[6:m.index(",", 6)]) for m in messages]


def topic_problems(got_ids: dict[str, list[int]],
                   want: dict[str, tuple[int, int, int]]) -> list[str]:
    """Per-topic record counts and id sets equal the oracle; no queue
    holds a duplicate."""
    import pyarrow as pa

    problems = []
    con = duckdb.connect()
    try:
        for topic in sorted(set(want) | set(got_ids)):
            con.register("q", pa.table(
                {"id": pa.array(got_ids.get(topic, []), pa.int64())}))
            got = tuple(int(x) for x in con.execute(
                "SELECT count(*), count(DISTINCT id), "
                "coalesce(sum(hash(id)::HUGEINT), 0) FROM q").fetchone())
            con.unregister("q")
            if got[0] != got[1]:
                problems.append(f"{topic}: {got[0] - got[1]} duplicate records")
            if got != want.get(topic, (0, 0, 0)):
                problems.append(f"{topic}: records/distinct/hash {got} != "
                                f"oracle {want.get(topic, (0, 0, 0))}")
    finally:
        con.close()
    return problems
