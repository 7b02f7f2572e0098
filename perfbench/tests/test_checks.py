"""Each benchmark correctness check accepts a right answer and fails on a
wrong one. The right answers are built without Spark: the program's
frame decoder plus a pandas latest-wins merge for the snapshot, and the
program's Python wildcard matcher for the queue routing."""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

import inputs
import oracle
from ru_cdc_spark.config import match_pattern
from ru_cdc_spark.sources.binlog_frames import cdc_frame_bytes, decode_cdc_blobs

N_ROWS = 400


def _decoded(seed: int) -> pd.DataFrame:
    fids = inputs.frame_order(seed, N_ROWS // inputs.ROWS_PER_FRAME)
    return decode_cdc_blobs(cdc_frame_bytes(f, N_ROWS) for f in fids)


def _snapshot(changes: pd.DataFrame) -> pd.DataFrame:
    latest = changes.sort_values("seq").groupby("i").tail(1)
    return latest[latest["type"] != "DELETE"].drop(columns=["seq", "type"])


@pytest.fixture(scope="module")
def snapshot():
    return _snapshot(_decoded(seed=3))


def test_snapshot_check_accepts_the_merged_stream(snapshot):
    assert oracle.snapshot_problems(snapshot, N_ROWS) == []


def test_snapshot_check_fails_on_a_dropped_row(snapshot):
    assert oracle.snapshot_problems(snapshot.iloc[1:], N_ROWS)


def test_snapshot_check_fails_on_an_altered_decimal(snapshot):
    bad = snapshot.copy()
    row = bad.index[bad["t_dec"].notna()][0]
    old = bad.loc[row, "t_dec"]
    bad.loc[row, "t_dec"] = old[1:] if old.startswith("-") else "-" + old
    assert oracle.snapshot_problems(bad, N_ROWS)


def test_expected_change_rows_match_the_decoded_stream():
    n = len(_decoded(seed=4))
    assert n == inputs.change_rows(N_ROWS)
    assert n == inputs.frames_rows(range(N_ROWS // inputs.ROWS_PER_FRAME))
    assert oracle.delivery_problems(n, inputs.change_rows(N_ROWS)) == []
    assert oracle.delivery_problems(n + 1, inputs.change_rows(N_ROWS))


def test_frame_order_is_a_seeded_windowed_permutation():
    a, b = inputs.frame_order(1, 100), inputs.frame_order(2, 100)
    assert a == inputs.frame_order(1, 100) and a != b
    w = inputs.PERMUTE_WINDOW
    for lo in range(0, 100, w):
        assert sorted(a[lo:lo + w]) == list(range(lo, min(lo + w, 100)))


@pytest.fixture(scope="module")
def queues(tmp_path_factory):
    """Per-topic ids routed by the program's Python matcher, and the
    DuckDB expectation, for a seeded orders table."""
    root = str(tmp_path_factory.mktemp("orders"))
    inputs.write_orders(seed=5, n_orders=2000, path=root)
    path = os.path.join(root, "orders.parquet")
    orders = pq.read_table(path).to_pydict()
    got: dict[str, list[int]] = {}
    for key, db, table in zip(orders["o_orderkey"], orders["o_db"],
                              orders["o_table"]):
        ids = [key * 3] + ([key * 3 + 1] if key % 10 < 3 else []) \
            + ([key * 3 + 2] if key % 10 == 3 else [])
        for rule in inputs.routing_rules():
            if (match_pattern(rule.schemas, db)
                    and not any(match_pattern(b, table) for b in rule.black_list)
                    and match_pattern(rule.tables, table)):
                got.setdefault(rule.topic, []).extend(ids)
    return got, oracle.expected_topics(path)


def test_queue_check_accepts_the_routed_ids(queues):
    got, want = queues
    assert set(want) == set(oracle.TOPICS)
    assert oracle.topic_problems(got, want) == []


def test_queue_check_fails_on_a_duplicate_record(queues):
    got, want = queues
    bad = {t: list(ids) for t, ids in got.items()}
    bad["eu_2024"].append(bad["eu_2024"][0])
    assert any("duplicate" in p for p in oracle.topic_problems(bad, want))


def test_queue_check_fails_on_a_missing_record(queues):
    got, want = queues
    bad = {t: list(ids) for t, ids in got.items()}
    bad["legacy_all"].pop()
    assert oracle.topic_problems(bad, want)


def test_queue_ids_reads_the_leading_id_field():
    assert oracle.queue_ids(['{"id":42,"database":"d"}']) == [42]
