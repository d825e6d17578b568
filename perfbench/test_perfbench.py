"""Tests of the benchmark's own code: the oracle comparator, the
event-log fold and the workload lists.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from compare import Oracles, compare  # noqa: E402
from eventlog import Window, count_log_lines, fold, read_events  # noqa: E402


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute("SET TimeZone = 'UTC'")
    yield c
    c.close()


def _oracle() -> pa.Table:
    return pa.table(
        {
            "k": pa.array([1, 2, 3, 4], pa.int64()),
            "v": pa.array([0.5, float("nan"), None, 0.0], pa.float64()),
            "s": pa.array(["a", None, "c", "d"]),
            "ts": pa.array([1_000_001, 2_000_002, 3, 4], pa.timestamp("us")),
        }
    )


def _result() -> pa.Table:
    """The oracle's rows, permuted, with Spark's types: int32 keys,
    zoned timestamps at nanosecond precision, -0.0 for 0.0, NaN for a
    null float, and columns in another order."""
    return pa.table(
        {
            "ts": pa.array([4_000, 3_000, 2_000_002_999, 1_000_001_000], pa.timestamp("ns", tz="UTC")),
            "s": pa.array(["d", "c", None, "a"]),
            "v": pa.array([-0.0, float("nan"), None, 0.5], pa.float64()),
            "k": pa.array([4, 3, 2, 1], pa.int32()),
        }
    )


def test_permuted_result_matches(con):
    assert compare(con, _result(), _oracle()) is None


def test_one_changed_value_fails(con):
    r = _result()
    k = r.column("k").to_pylist()
    k[0] = 5
    why = compare(con, r.set_column(3, "k", pa.array(k, pa.int32())), _oracle())
    assert why is not None and "differ" in why


def test_one_ulp_float_change_fails(con):
    r = _result()
    v = r.column("v").to_pylist()
    v[3] = math.nextafter(0.5, 1.0)
    assert compare(con, r.set_column(2, "v", pa.array(v)), _oracle()) is not None


def test_one_dropped_row_fails(con):
    why = compare(con, _result().slice(1), _oracle())
    assert why is not None and "rows" in why


def test_duplicate_row_in_place_of_another_fails(con):
    r = _result()
    dup = pa.concat_tables([r.slice(0, 1), r.slice(0, 3)])
    assert compare(con, dup, _oracle()) is not None


def test_column_name_and_class_mismatch_fail(con):
    r = _result()
    assert "columns" in compare(con, r.rename_columns(["ts", "s", "v", "key"]), _oracle())
    as_float = r.set_column(3, "k", pa.array([4.0, 3.0, 2.0, 1.0]))
    assert "types" in compare(con, as_float, _oracle())


def test_oracle_answers_are_kept_per_sql_and_fixture(tmp_path, con):
    sf = tmp_path / "sf"
    sf.mkdir()
    con.execute(f"COPY (SELECT 1 AS x) TO '{sf}/t.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{sf}/t.parquet'")
    cache = tmp_path / "cache"
    oracles = Oracles(con, str(sf), ["t"], str(cache))
    first = oracles.answer("SELECT x + 1 AS y FROM t")
    assert first.column("y").to_pylist() == [2]
    assert len(os.listdir(cache)) == 1
    con.execute("DROP VIEW t")  # a second answer must come from the file
    assert oracles.answer("SELECT x + 1 AS y FROM t").equals(first)
    with pytest.raises(duckdb.Error):
        oracles.answer("SELECT x + 2 AS y FROM t")


WINDOWS = [
    Window("agg", 1000, 1100, 2000),
    Window("stream", 3000, 3500, 5000),
]


def _fold() -> dict[str, float]:
    return fold(read_events(os.path.join(HERE, "testdata")), WINDOWS)


def test_fold_counts_only_jobs_stages_tasks_inside_windows():
    out = _fold()
    assert out["jobs"] == 4  # job 0 ran in set-up, before any window
    assert out["stages"] == 3
    assert out["tasks"] == 7
    assert out["single_task_stages"] == 1


def test_fold_task_metrics():
    out = _fold()
    assert out["task_cpu_s"] == pytest.approx(4 * 0.010 + 0.005 + 2 * 0.020)
    assert out["task_run_s"] == pytest.approx(4 * 0.020 + 0.008 + 2 * 0.030)
    assert out["gc_s"] == pytest.approx(0.005)
    assert out["shuffle_write_bytes"] == 400
    assert out["shuffle_read_bytes"] == 400
    assert out["input_bytes"] == 4 * 1000 + 2 * 500
    assert out["input_records"] == 4 * 10 + 2 * 5


def test_fold_plan_time_is_sink_to_first_job():
    # agg: sink at 1100, next job at 1200; stream: sink at 3500, job at 3600
    assert _fold()["plan_s"] == pytest.approx(0.2)


def test_fold_attributes_stream_jobs_and_progress_by_window():
    out = _fold()
    # job 3 carries the stream's run id, not the key's group, and is
    # still counted; the progress event at 6.0 s is outside every window
    assert out["streaming.queries"] == 1
    assert out["streaming.triggers"] == 2
    assert out["streaming.input_rows"] == 5
    assert out["streaming.trigger_s"] == pytest.approx(1.5)
    assert out["streaming.trigger_p50_s"] == pytest.approx(0.75)
    assert out["streaming.commit_s"] == pytest.approx(0.065)
    assert out["streaming.state_rows"] == 9
    assert out["streaming.state_memory_bytes"] == 4096


def test_count_log_lines_by_window(tmp_path):
    log = tmp_path / "spark.log"
    log.write_text(
        "900 WARN WindowExec: No Partition Defined for Window operation!\n"
        "1500 WARN WindowExec: No Partition Defined for Window operation!\n"
        "1600 WARN Other: something else\n"
        "3100 WARN WindowExec: No Partition Defined for Window operation!\n"
    )
    assert count_log_lines(str(log), "No Partition Defined", WINDOWS) == 2


def test_workload_lists_follow_their_rules():
    sys.path.insert(0, os.path.dirname(HERE))
    from map_reduce_subnet_spark.operators import ORACLES, QUERIES
    from workloads import WORKLOADS, validate

    validate(QUERIES)
    for keys in WORKLOADS.values():
        assert all(k in ORACLES for k in keys)
