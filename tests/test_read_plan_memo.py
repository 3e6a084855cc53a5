"""The per-session read-plan memo (lake/read_plans.py) and the facade's
scoped-SELECT planning around it.

- Planning counts: a scoped facade SELECT never builds the unpruned
  merge-on-read read, and a second erasure request over unchanged data
  files builds at most one new parquet relation per statement (the
  delete-file scan that takes in the new deletion vector), with its
  Spark job counts pinned.
- Soundness: a differential check — facade SELECT, ``LakeTable.read()``
  filtered, and a pyarrow model — after every step of an erasure, its
  purge, and the schema and table-identity changes a memo key must see.
- The memo itself: bounded and thread-safe.
"""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import DataFrameReader

from demo_iceberg_permanent_delete_spark.lake import read_plans
from demo_iceberg_permanent_delete_spark.lake.metadata import now_ms
from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine
from demo_iceberg_permanent_delete_spark.lake.table import LakeTable

TABLE = "demo.default.subjects"
DDL = "c_custkey bigint, c_name string"


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _engine(spark, tmp_path, batches) -> LakeEngine:
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql(f"CREATE TABLE {TABLE} ({DDL}) USING iceberg")
    eng.sql(
        f"ALTER TABLE {TABLE} SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read')"
    )
    t = eng.table(TABLE)
    for b in batches:
        t.insert(spark.createDataFrame(b.to_pandas(), DDL))
    return eng


def _batch(keys: list[int], tag: str) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": [f"{tag}-{k}" for k in keys],
        }
    )


class _Spy:
    """Counts calls of one method for the rest of the test."""

    def __init__(self, monkeypatch, owner, name: str) -> None:
        self.calls = 0
        orig = getattr(owner, name)

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, name, counted)


def test_erasure_request_plans_each_scan_once(spark, tmp_path, monkeypatch):
    # every append holds every subject, so no file prunes away and each
    # request scans the same data files
    keys = list(range(40))
    eng = _engine(spark, tmp_path, [_batch(keys, f"b{i}") for i in range(3)])

    def request(k: int) -> None:
        eng.sql(f"DELETE FROM {TABLE} WHERE c_custkey = {k}")
        df = eng.sql(f"SELECT count(*) AS n FROM {TABLE} WHERE c_custkey = {k}")
        assert df.collect()[0]["n"] == 0

    request(1)

    reads = _Spy(monkeypatch, LakeTable, "read")
    parquet = _Spy(monkeypatch, DataFrameReader, "parquet")

    j0 = _jobs(spark)
    eng.sql(f"DELETE FROM {TABLE} WHERE c_custkey = 2")
    delete_jobs, delete_relations = _jobs(spark) - j0, parquet.calls
    assert delete_jobs <= 2
    assert delete_relations <= 1

    j0 = _jobs(spark)
    df = eng.sql(f"SELECT count(*) AS n FROM {TABLE} WHERE c_custkey = 2")
    assert df.collect()[0]["n"] == 0
    assert _jobs(spark) - j0 <= 3
    # the check read built the delete-file scan with the new deletion
    # vector in it, nothing else
    assert parquet.calls - delete_relations <= 1
    # ... and never the unpruned merge-on-read read of the whole table
    assert reads.calls == 0

    # an unscoped statement still registers the full read
    assert len(eng.sql(f"SELECT c_name FROM {TABLE}").collect()) == 3 * 38
    assert reads.calls == 1


@pytest.mark.parametrize("stmt", ["delete", "update", "merge"])
def test_zero_match_dml_reports_null_snapshot(spark, tmp_path, stmt):
    eng = _engine(spark, tmp_path, [_batch([1, 2, 3], "b")])
    eng.sql("CREATE TABLE demo.default.src (c_custkey bigint) USING iceberg")
    eng.sql("INSERT INTO demo.default.src VALUES (99)")
    before = eng.table(TABLE).metadata.current_snapshot_id
    text = {
        "delete": f"DELETE FROM {TABLE} WHERE c_custkey = 99",
        "update": f"UPDATE {TABLE} SET c_name = 'x' WHERE c_custkey = 99",
        "merge": (
            f"MERGE INTO {TABLE} t USING demo.default.src s "
            "ON t.c_custkey = s.c_custkey WHEN MATCHED THEN DELETE"
        ),
    }[stmt]
    rows = eng.sql(text).collect()
    assert len(rows) == 1
    assert rows[0]["snapshot_id"] is None
    assert eng.table(TABLE).metadata.current_snapshot_id == before


def test_memo_never_serves_a_changed_table(spark, tmp_path):
    """Differential: after every step, the facade's scoped and unscoped
    SELECTs and ``LakeTable.read()`` agree with a pyarrow model."""
    cols = ["c_custkey", "c_name"]
    model = pa.concat_tables(
        [_batch(list(range(i * 10, i * 10 + 30)), f"b{i}") for i in range(3)]
    )
    eng = _engine(spark, tmp_path, [model.slice(i * 30, 30) for i in range(3)])

    def check(step: str, key_col: str = "c_custkey") -> None:
        for k in (5, 15, 25, 35):
            want = pc.sum(pc.equal(model[key_col], k)).as_py() or 0
            got_sql = eng.sql(
                f"SELECT count(*) AS n FROM {TABLE} WHERE {key_col} = {k}"
            ).collect()[0]["n"]
            got_read = eng.table(TABLE).read().filter(f"{key_col} = {k}").count()
            assert (got_sql, got_read) == (want, want), (step, k)
        want_rows = sorted(zip(*[model[c].to_pylist() for c in cols]))
        got = eng.sql(f"SELECT {', '.join(cols)} FROM {TABLE}").collect()
        assert sorted(tuple(r) for r in got) == want_rows, step

    def erase(k: int, key_col: str = "c_custkey") -> None:
        nonlocal model
        eng.sql(f"DELETE FROM {TABLE} WHERE {key_col} = {k}")
        model = model.filter(pc.not_equal(model[key_col], k))

    check("built")
    erase(15)
    check("delete")
    erase(25)
    check("second delete")
    t = eng.table(TABLE)
    t.rewrite_data_files()
    check("rewrite_data_files")
    eng.table(TABLE).expire_snapshots(older_than=now_ms() + 1)
    check("expire_snapshots")
    eng.table(TABLE).remove_orphan_files(older_than=now_ms() + 1, enforce_safety=False)
    check("remove_orphan_files")

    eng.sql(f"ALTER TABLE {TABLE} RENAME COLUMN c_custkey TO subject")
    model = model.rename_columns(["subject", "c_name"])
    cols = ["subject", "c_name"]
    check("rename column", "subject")
    erase(35, "subject")
    check("delete after rename", "subject")

    eng.sql(f"ALTER TABLE {TABLE} ADD COLUMN region bigint DEFAULT 7")
    model = model.append_column("region", pa.array([7] * model.num_rows, pa.int64()))
    cols = ["subject", "c_name", "region"]
    check("add column default", "subject")
    assert eng.sql(f"SELECT count(*) AS n FROM {TABLE} WHERE region = 7").collect()[0][
        "n"
    ] == model.num_rows

    location = eng.table(TABLE).location
    eng.sql(f"DROP TABLE {TABLE} PURGE")
    model = _batch([5, 5, 15, 99], "reborn")
    cols = ["c_custkey", "c_name"]
    eng2 = _engine(spark, tmp_path, [model])
    assert eng2.table(TABLE).location == location
    eng = eng2
    check("drop purge + create at the same location")
    erase(5)
    check("delete in the recreated table")


def test_memo_is_bounded_and_thread_safe(spark):
    base = spark.range(1)
    memo = read_plans._MEMOS

    def worker(n: int, errors: list) -> None:
        try:
            for i in range(read_plans.MAX_PLANS):
                key = ("thread", n, i % 4)
                got = read_plans.memo_read(
                    spark, key, lambda: base.selectExpr(f"1 AS k_{n}_{i % 4}")
                )
                if got.columns != [f"k_{n}_{i % 4}"]:
                    errors.append((key, got.columns))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    errors: list = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(n, errors)) for n in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    # every key served its own plan, and no insert was lost
    assert errors == []
    plans = memo[spark]
    assert all(("thread", n, j) in plans for n in range(8) for j in range(4))

    for i in range(read_plans.MAX_PLANS + 10):
        read_plans.memo_read(spark, ("fill", i), lambda: base)
    assert len(plans) == read_plans.MAX_PLANS
    # least recently used out first
    assert ("fill", 9) not in plans and ("fill", 10) in plans
