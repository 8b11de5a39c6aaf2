"""Correctness gate: span-sequence equality ``(kind, text, media_ref, order)``
between a committed ``extract()`` output and the corpus's expected spans."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

KEY = ("doc_id", "ord")
VALUE = ("kind", "text", "media_ref")


def _rows(table: pa.Table) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in KEY + VALUE)))


def read_committed(out_dir: str) -> tuple[pa.Table, set[int]]:
    """(committed span rows, committed bucket ids) of one extract() output."""
    spans = ds.dataset(os.path.join(out_dir, "spans"), format="parquet", partitioning="hive")
    manifest = pq.read_table(os.path.join(out_dir, "_manifest"))
    committed = {
        b for b, s in zip(manifest.column("partition_id").to_pylist(),
                          manifest.column("status").to_pylist())
        if s == "committed"
    }
    return spans.to_table(columns=list(KEY + VALUE)), committed


def compare(got: pa.Table, expected: pa.Table) -> int:
    """Number of failed spans: expected spans missing or different in
    ``got``, plus rows of ``got`` that no expected span accounts for."""
    want = {r[:2]: r[2:] for r in _rows(expected)}
    seen: dict[tuple, tuple] = {}
    failed = 0
    for r in _rows(got):
        k = r[:2]
        if k in seen or want.get(k) != r[2:]:
            failed += 1  # duplicate, unexpected or wrong
        seen.setdefault(k, r[2:])
    failed += sum(1 for k in want if k not in seen)
    return failed


def check_output(out_dir: str, expected: pa.Table, buckets: int) -> int:
    """Failed spans of one output; every expected span fails when a bucket
    has no committed manifest row."""
    got, committed = read_committed(out_dir)
    if committed != set(range(buckets)):
        return expected.num_rows
    return compare(got, expected)
