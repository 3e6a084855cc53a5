"""Layer probes and byte-level audits of one lake table.

``probe_layers`` runs in traced runs only, after each commit and outside
the timed operation: it times a fresh metadata load, file pruning,
delete-file scoping, the planner's estimate and a direct pruned scan, so
a change in one of those layers shows under its own name.

``residual_pii_files``, ``bound_keys`` and ``table_bytes`` read the
files under the table root with pyarrow or as text. They use no engine
code, so they check the engine's claims rather than repeat them.
"""

from __future__ import annotations

import io
import json
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from demo_iceberg_permanent_delete_spark.lake.metadata import TableMetadata
from demo_iceberg_permanent_delete_spark.lake.planner import scan_estimate
from demo_iceberg_permanent_delete_spark.lake.pruning import (
    candidate_files,
    scope_delete_files,
)


def probe_layers(tracer, table, predicate: str, counts: dict) -> None:
    """Call each lake layer once against ``table``'s current snapshot.
    The tracer times the calls; the sizes and kept ratios they see are
    appended to the lists in ``counts``."""

    def add(name: str, value: float) -> None:
        counts.setdefault(name, []).append(value)

    location = table.metadata.location
    with tracer.span("lake.metadata.load"):
        meta = TableMetadata.load(location)
    snap = meta.current_snapshot()
    entries = snap.manifest if snap is not None else []
    data = [e for e in entries if e.content == 0]
    deletes = [e for e in entries if e.content != 0]
    add("lake.metadata.versions", float(meta.version))
    add("lake.metadata.bytes", float(_dir_bytes(os.path.join(location, "metadata"))))
    add("lake.metadata.manifest_entries", float(len(entries)))
    add("lake.table.delete_files_live", float(len(deletes)))
    with tracer.span("lake.pruning.candidate_files"):
        kept = candidate_files(data, predicate)
    add("lake.pruning.files_kept_ratio", len(kept) / max(len(data), 1))
    with tracer.span("lake.pruning.scope_delete_files"):
        scoped = scope_delete_files(deletes, kept)
    add("lake.pruning.deletes_kept_ratio", len(scoped) / max(len(deletes), 1))
    with tracer.span("lake.planner.scan_estimate"):
        scan_estimate(table, predicate)
    with tracer.span("lake.table.scan"):
        table.scan(predicate).collect()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def table_bytes(location: str) -> int:
    """Bytes of every file under the table root."""
    return _dir_bytes(location)


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` written as one parquet file with default settings:
    the space the live rows need, independent of the engine."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


def residual_pii_files(
    location: str,
    key_column: str,
    keys: set[int],
    needles: list[str],
    fragments: list[str],
) -> dict[str, int]:
    """Files under ``location`` that still hold an erased subject.

    Every parquet file is decoded: it counts when any row carries an
    erased ``key_column`` value or any string cell equals a needle. Every
    other file (metadata versions, manifests, hints, stats) is read as
    text: it counts when any needle or fragment occurs in it, when an
    erased key follows ``key_column`` in a predicate (``c_custkey = 7``),
    or when its JSON stores an erased key under ``key_column`` anywhere
    but in a count map, as column bounds do. Fragments are prefixes
    unique to one subject, which truncated string bounds in manifests
    keep. Returns the counts ``parquet``, ``text`` (files with residue of
    each kind) and ``scanned``."""
    key_arr = pa.array(sorted(keys), pa.int64())
    needle_arr = pa.array(needles, pa.string())
    predicate_re = re.compile(
        r"\b%s\s*=\s*(%s)\b" % (re.escape(key_column), "|".join(map(str, sorted(keys))))
    )
    out = {"parquet": 0, "text": 0, "scanned": 0}
    for root, _dirs, files in os.walk(location):
        for f in files:
            path = os.path.join(root, f)
            out["scanned"] += 1
            with open(path, "rb") as fh:
                head = fh.read(4)
            if head == b"PAR1":
                out["parquet"] += _parquet_holds(path, key_column, key_arr, needle_arr)
            else:
                text = _read_text(path)
                out["text"] += (
                    any(n in text for n in needles + fragments)
                    or predicate_re.search(text) is not None
                    or not keys.isdisjoint(_json_values(text, key_column))
                )
    return out


def _parquet_holds(path, key_column, key_arr, needle_arr) -> bool:
    t = pq.read_table(path)
    for name in t.column_names:
        col = t[name]
        if name == key_column and pa.types.is_integer(col.type):
            if pc.any(pc.is_in(col, value_set=key_arr)).as_py():
                return True
        elif pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            if pc.any(pc.is_in(col, value_set=needle_arr)).as_py():
                return True
    return False


def _read_text(path: str) -> str:
    with open(path, "rb") as fh:
        return fh.read().decode("utf-8", errors="replace")


def _json_values(text: str, key_column: str) -> set:
    """Values stored under ``key_column`` in a JSON document or in JSON
    lines, outside maps named ``…counts`` (``null_counts`` holds a count
    under the column's name, not a value of it)."""
    try:
        docs = [json.loads(text)]
    except ValueError:
        docs = []
        for line in text.splitlines():
            try:
                docs.append(json.loads(line))
            except ValueError:
                continue
    out: set = set()
    stack = [(d, False) for d in docs]
    while stack:
        node, in_counts = stack.pop()
        if isinstance(node, dict):
            for k, v in node.items():
                if k == key_column and not in_counts and not isinstance(v, (dict, list)):
                    out.add(v)
                stack.append((v, in_counts or k.endswith("counts")))
        elif isinstance(node, list):
            stack.extend((v, in_counts) for v in node)
    return out


def bound_keys(location: str, key_column: str) -> set[int]:
    """Every integer the metadata files under ``location`` store under
    ``key_column`` outside count maps, as column bounds do."""
    meta = os.path.join(location, "metadata")
    out: set[int] = set()
    for f in os.listdir(meta):
        values = _json_values(_read_text(os.path.join(meta, f)), key_column)
        out.update(v for v in values if isinstance(v, int) and not isinstance(v, bool))
    return out
