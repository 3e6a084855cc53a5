"""``erasure_cycle``: GDPR erasure requests against a merge-on-read PII
table, the paper's own flow.

Set-up joins generated orders to customers (sf 0.1, about 150k rows with
string PII columns) and appends them to a merge-on-read lake table the
way such a table fills: in order-date order, in eight seeded append
commits, with customers arriving over time, so that each commit holds a
window of dates and its own newest customers and its column bounds name
particular subjects. The timed closed loop then sends one erasure request
at a time, for a seeded uniform draw of the subjects, through the SQL
facade: ``DELETE … WHERE c_custkey = X`` followed by a check read of that
subject. The loop runs whole rounds until the run's time is up: a round
is three requests, then a full read that merges their deletes, then a
four-step purge (``rewrite_data_files`` →
``rewrite_position_delete_files`` → ``expire_snapshots`` →
``remove_orphan_files``).

After the window one more request erases a subject that a metadata file
names in a column bound, the case an erasure audit must cover, and a
final purge follows. ``residual_pii_files`` then counts the files under
the table root that still hold any erased subject.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen
import lakeprobe
from spans import median, tail

PARAMS = {
    "sf": 0.1,
    "append_commits": 8,
    "setup_repeats": 3,
    "round_requests": 3,
}

# prefixes of the per-layer metrics this workload reports
LAYERS = ("lake.",)

TABLE = "default.pii"
QUALIFIED = "demo.default.pii"

_DDL = (
    "o_orderkey bigint, c_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string, "
    "c_name string, c_email string, c_phone string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def pii_rows(seed: int, sf: float) -> pa.Table:
    """Orders joined to their customer, with generated email and phone
    columns, in order-date order.

    Customers arrive over time: the order at the r-th of n order dates
    belongs to a customer drawn from the first (r + 1) / n of the key
    range, those who had arrived by then."""
    tabs = gen.build_tables(seed, sf)
    cust = tabs["customer"]
    rng = np.random.default_rng(seed + 1)
    n = cust.num_rows
    token = rng.integers(0, 16**8, n)
    keys = cust["c_custkey"].to_numpy()
    email = [f"{t:08x}.{k}@example.org" for t, k in zip(token.tolist(), keys.tolist())]
    digits = rng.integers(0, 10**10, n)
    phone = [f"{10 + c}-{d // 10**7:03d}-{d // 10**4 % 1000:03d}-{d % 10**4:04d}"
             for c, d in zip(cust["c_nationkey"].to_pylist(), digits.tolist())]
    cust = cust.append_column("c_email", pa.array(email, pa.string()))
    cust = cust.append_column("c_phone", pa.array(phone, pa.string()))
    by_date = [("o_orderdate", "ascending"), ("o_orderkey", "ascending")]
    orders = tabs["orders"].sort_by(by_date)
    m = orders.num_rows
    arrived = np.maximum((np.arange(1, m + 1) * n) // m, 1)
    custkey = pa.array((rng.random(m) * arrived).astype(np.int64))
    orders = orders.set_column(orders.schema.get_field_index("o_custkey"), "o_custkey", custkey)
    joined = orders.join(cust, "o_custkey", "c_custkey", join_type="inner").sort_by(by_date)
    joined = joined.append_column("c_custkey", joined["o_custkey"])
    return joined.select([c.split()[0] for c in _DDL.split(", ")])


def _batches(rows: pa.Table, n: int, rng: np.random.Generator) -> list[pa.Table]:
    """``n`` consecutive slices of about equal size, each cut point moved
    by a seeded quarter of a slice at most."""
    size = rows.num_rows / n
    cuts = np.round((np.arange(1, n) + rng.uniform(-0.25, 0.25, n - 1)) * size)
    bounds = [0, *cuts.astype(int).tolist(), rows.num_rows]
    return [rows.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def _build(run, warehouse: str):
    """Fixture generation and table build, timed as one set-up."""
    from demo_iceberg_permanent_delete_spark.lake import LakeEngine

    t0 = time.perf_counter()
    rows = pii_rows(run.seed, PARAMS["sf"])
    batches = _batches(rows, PARAMS["append_commits"], np.random.default_rng(run.seed + 2))
    shutil.rmtree(warehouse, ignore_errors=True)
    engine = LakeEngine(run.spark, warehouse)
    engine.catalog.create_namespace("default")
    table = engine.catalog.create_table(
        TABLE, _DDL, properties={"write.delete.mode": "merge-on-read"}
    )
    insert_s = 0.0
    for b in batches:
        df = run.spark.createDataFrame(b, schema=_DDL)
        with run.tracer.span("lake.table.insert"):
            t = time.perf_counter()
            table.insert(df)
            insert_s += time.perf_counter() - t
    return time.perf_counter() - t0, rows, engine, insert_s


def run_workload(run) -> None:
    p = PARAMS
    builds = []
    for i in range(p["setup_repeats"]):
        wh = os.path.join(run.work, f"wh{i}")
        took, rows, engine, insert_s = _build(run, wh)
        builds.append(took)
        run.diag.setdefault("append_rows_per_s_reps", []).append(rows.num_rows / insert_s)
        if i < p["setup_repeats"] - 1:
            shutil.rmtree(wh)
    run.setup_reps = builds
    run.mark("setup")
    location = engine.table(TABLE).metadata.location
    input_bytes = lakeprobe.parquet_bytes(rows)
    run.layer["lake.datafiles.write_amp"] = [lakeprobe.table_bytes(location) / input_bytes]

    rng = np.random.default_rng(run.seed + 3)
    subjects = np.unique(rows["c_custkey"].to_numpy())
    draws = iter(rng.permutation(subjects).tolist())
    erased: list[int] = []
    samples = {"erase": [], "mor_read": [], "purge": []}

    def request(timed: bool, key: int | None = None) -> None:
        if key is None:
            key = next(k for k in draws if k not in erased)
        erased.append(key)
        run.tracer.new_op()
        t = time.perf_counter()
        with run.tracer.span("op"):
            with run.tracer.span("lake.sql.delete"):
                engine.sql(f"DELETE FROM {QUALIFIED} WHERE c_custkey = {key}")
            with run.tracer.span("lake.sql.plan"):
                df = engine.sql(f"SELECT count(*) AS n FROM {QUALIFIED} WHERE c_custkey = {key}")
            with run.tracer.span("lake.sql.exec"):
                n = df.collect()[0]["n"]
        took = time.perf_counter() - t
        run.check(n == 0, f"erased subject {key} still returns {n} rows")
        if timed:
            samples["erase"].append(took)
        if run.tracer.enabled:
            lakeprobe.probe_layers(
                run.tracer, engine.table(TABLE), f"c_custkey = {key}", run.layer
            )

    def mor_read(timed: bool) -> None:
        t = time.perf_counter()
        with run.tracer.span("lake.table.read_plan"):
            df = engine.table(TABLE).read()
        with run.tracer.span("lake.table.read_exec"):
            df.write.format("noop").mode("overwrite").save()
        if timed:
            samples["mor_read"].append(time.perf_counter() - t)

    def purge(timed: bool) -> None:
        from demo_iceberg_permanent_delete_spark.lake.metadata import now_ms

        t = time.perf_counter()
        with run.tracer.span("lake.maintenance.rewrite_data_files"):
            stats = engine.table(TABLE).rewrite_data_files()
        if run.tracer.enabled:
            rewritten = _data_bytes(engine.table(TABLE)) if stats["rewritten_data_files_count"] else 0
            run.layer.setdefault("lake.maintenance.bytes_rewritten", []).append(float(rewritten))
        with run.tracer.span("lake.maintenance.rewrite_position_delete_files"):
            engine.table(TABLE).rewrite_position_delete_files()
        with run.tracer.span("lake.maintenance.expire_snapshots"):
            expired = engine.table(TABLE).expire_snapshots(older_than=now_ms() + 1)
        with run.tracer.span("lake.maintenance.remove_orphan_files"):
            orphans = engine.table(TABLE).remove_orphan_files(
                older_than=now_ms() + 1, enforce_safety=False
            )
        if timed:
            samples["purge"].append(time.perf_counter() - t)
        if run.tracer.enabled:
            run.layer.setdefault("lake.maintenance.files_removed", []).append(
                float(expired["deleted_files"] + len(orphans))
            )
        _check_live_count(run, engine, rows, erased)

    def round_(timed: bool) -> None:
        """One round: ``round_requests`` requests, then a full read with
        their deletes outstanding and a purge."""
        for _ in range(p["round_requests"]):
            request(timed)
        mor_read(timed)
        purge(timed)

    # warm-up: each path once, with its first JIT compilations, untimed
    request(False)
    mor_read(False)
    purge(False)

    run.start_clock()
    while True:
        round_(True)
        if run.expired():
            break
    run.stop_clock()

    # a subject that a metadata file names in a column bound
    named = lakeprobe.bound_keys(location, "c_custkey") & set(subjects.tolist())
    named = sorted(named - set(erased))
    bound_subject = named[int(rng.integers(len(named)))]
    request(False, bound_subject)
    pre_purge = _residual(location, rows, erased)
    run.check(
        pre_purge["parquet"] > 0,
        "before the purge the residual scan found none of the rows merge-on-read keeps",
    )
    run.check(
        pre_purge["text"] > 0,
        f"the residual scan found subject {bound_subject}, named in a column bound, "
        "in no metadata file",
    )
    purge(False)
    live = rows.filter(pc.invert(_erased(rows, erased)))
    bytes_per_live = lakeprobe.table_bytes(location) / lakeprobe.parquet_bytes(live)
    residual = _residual(location, rows, erased)
    uniform = _residual(location, rows, [k for k in erased if k != bound_subject])

    run.ops = samples["erase"]
    run.diag.update(
        erase_p50_s=median(samples["erase"]),
        erase_tail_s=tail(samples["erase"])[0],
        mor_read_p50_s=median(samples["mor_read"]),
        purge_s=median(samples["purge"]),
        append_rows_per_s=median(run.diag.pop("append_rows_per_s_reps")),
        bytes_per_live_byte=bytes_per_live,
        residual_pii_files=residual["parquet"] + residual["text"],
        residual_pii_files_by_kind=residual,
        residual_pii_files_uniform_subjects=uniform["parquet"] + uniform["text"],
        residual_pii_files_before_purge=pre_purge,
        bound_subject=bound_subject,
        erased_subjects=len(erased),
        samples={k: len(v) for k, v in samples.items()},
    )
    run.layer["lake.audit.residual_pii_files"] = [float(residual["parquet"] + residual["text"])]
    run.layer["lake.space.bytes_per_live_byte"] = [bytes_per_live]


def _erased(rows: pa.Table, erased: list[int]):
    """Mask of the rows whose subject has been erased."""
    return pc.is_in(rows["c_custkey"], value_set=pa.array(erased, pa.int64()))


def _residual(location: str, rows: pa.Table, erased: list[int]) -> dict[str, int]:
    """Files under the table root holding any erased subject's key, name,
    email or phone, or the first 12 characters of that email (a prefix
    unique to the subject, which truncated string bounds keep)."""
    gone = rows.filter(_erased(rows, erased))
    emails = gone["c_email"].to_pylist()
    people = set(gone["c_name"].to_pylist()) | set(gone["c_phone"].to_pylist())
    needles = sorted(set(emails) | people)
    fragments = sorted({m[:12] for m in emails})
    return lakeprobe.residual_pii_files(location, "c_custkey", set(erased), needles, fragments)


def _data_bytes(table) -> int:
    snap = table.metadata.current_snapshot()
    return sum(e.file_size_in_bytes for e in snap.data_files()) if snap else 0


def _check_live_count(run, engine, rows: pa.Table, erased: list[int]) -> None:
    """Live rows after a purge equal the source minus the erased subjects,
    counted independently with pyarrow."""
    want = rows.num_rows - pc.sum(_erased(rows, erased).cast(pa.int64())).as_py()
    got = engine.table(TABLE).read().count()
    run.check(got == want, f"after purge {got} live rows, expected {want}")
