"""Self-test of the benchmark itself (no Spark session needed):

  python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

* the generators are pure functions of the seed: two generations with the
  same seed give identical tables;
* the correctness gate passes an exact output and fails an output with one
  span text altered, one span dropped, or one bucket uncommitted.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpora  # noqa: E402
from gate import check_output  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work", "selftest")
TABLES = ("documents", "media", "pdfs", "expected")
BUCKETS = 8


def _fresh(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _tables(root: str, workload: str, seed: int) -> list[pa.Table | None]:
    corpus = corpora.ensure_corpus(root, workload, seed)
    return [
        pq.read_table(f"{corpus}/{t}.parquet") if os.path.exists(f"{corpus}/{t}.parquet") else None
        for t in TABLES
    ]


def test_same_seed_same_corpus():
    for workload in corpora.WORKLOADS:
        a = _tables(_fresh("a"), workload, 7)
        b = _tables(_fresh("b"), workload, 7)
        assert len(a) == len(b), workload
        for ta, tb in zip(a, b):
            assert (ta is None and tb is None) or ta.equals(tb), workload
        c = _tables(_fresh("c"), workload, 8)
        assert not all((ta is None and tc is None) or ta.equals(tc) for ta, tc in zip(a, c)), workload


def _write_output(out_dir: str, spans: pa.Table, committed: range) -> str:
    """A committed extract() output holding ``spans``, in the job's layout."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(f"{out_dir}/spans/bucket=0")
    pq.write_table(spans, f"{out_dir}/spans/bucket=0/part-0.parquet")
    os.makedirs(f"{out_dir}/_manifest")
    pq.write_table(
        pa.table({"partition_id": pa.array(list(committed), pa.int32()),
                  "status": ["committed"] * len(committed)}),
        f"{out_dir}/_manifest/part-0.parquet",
    )
    return out_dir


def test_gate_catches_altered_and_dropped_spans():
    corpus = corpora.ensure_corpus(os.path.join(WORK, "corpora"), "interleaved3", 3)
    expected = pq.read_table(f"{corpus}/expected.parquet")
    out = os.path.join(WORK, "out")

    assert check_output(_write_output(out, expected, range(BUCKETS)), expected, BUCKETS) == 0

    texts = expected.column("text").to_pylist()
    texts[5] = texts[5] + " x"
    altered = expected.set_column(expected.schema.get_field_index("text"), "text",
                                  pa.array(texts, pa.string()))
    assert check_output(_write_output(out, altered, range(BUCKETS)), expected, BUCKETS) == 1

    dropped = pa.concat_tables([expected.slice(0, 9), expected.slice(10)])
    assert check_output(_write_output(out, dropped, range(BUCKETS)), expected, BUCKETS) == 1

    uncommitted = _write_output(out, expected, range(BUCKETS - 1))
    assert check_output(uncommitted, expected, BUCKETS) == expected.num_rows


if __name__ == "__main__":
    test_same_seed_same_corpus()
    test_gate_catches_altered_and_dropped_spans()
    shutil.rmtree(WORK, ignore_errors=True)
    print("selftest ok")
