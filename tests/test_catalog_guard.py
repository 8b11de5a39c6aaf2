"""The --catalog iceberg guard (VERDICT r04 #9): no Spark session needed —
the whole point is that the failure happens BEFORE session spin-up, with
actionable swap instructions."""

import os
from types import SimpleNamespace

import pytest

from conftest import REPO  # noqa: F401


def test_no_iceberg_runtime_in_this_container(monkeypatch):
    from ocr_spark.pipeline.catalog import iceberg_runtime_jars

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    assert iceberg_runtime_jars() == []


def test_require_iceberg_raises_with_swap_instructions(monkeypatch):
    from ocr_spark.pipeline.catalog import IcebergUnavailable, require_iceberg

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    with pytest.raises(IcebergUnavailable) as exc:
        require_iceberg()
    msg = str(exc.value)
    # the message must be a usable recipe, not just a refusal
    assert "--packages org.apache.iceberg:iceberg-spark-runtime" in msg
    assert "spark.sql.catalog.ocr=org.apache.iceberg.spark.SparkCatalog" in msg
    assert "warehouse" in msg
    assert "--catalog iceberg" in msg


def test_require_iceberg_passes_when_jar_staged(monkeypatch, tmp_path):
    from ocr_spark.pipeline.catalog import require_iceberg

    jar = tmp_path / "iceberg-spark-runtime-4.0_2.13-1.10.0.jar"
    jar.write_bytes(b"PK")  # detection is by name, same as Spark's classpath glob
    monkeypatch.setenv("OCR_SPARK_ICEBERG_JARS_DIR", str(tmp_path))
    assert str(jar) in require_iceberg()


def test_configure_iceberg_puts_staged_jars_on_the_classpath(monkeypatch, tmp_path):
    """A jar that passed the guard from a non-default location must reach
    spark.jars — otherwise the guard passes and the JVM still dies later
    with ClassNotFoundException."""
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.catalog import configure_iceberg

    b = SparkSession.builder
    jar = str(tmp_path / "iceberg-spark-runtime-4.0_2.13-1.10.0.jar")
    configure_iceberg(b, "file:///tmp/wh", "ocr", jars=[jar])
    opts = b._options
    assert opts["spark.jars"] == jar
    assert opts["spark.sql.catalog.ocr"] == "org.apache.iceberg.spark.SparkCatalog"
    assert opts["spark.sql.catalog.ocr.warehouse"] == "file:///tmp/wh"


def test_cli_catalog_iceberg_fails_fast(monkeypatch, tmp_path):
    """The CLI must raise the guard error before building any session (this
    test stays sub-second precisely because no JVM ever starts)."""
    from ocr_spark.cli import main
    from ocr_spark.pipeline.catalog import IcebergUnavailable

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    with pytest.raises(IcebergUnavailable):
        main([
            "extract",
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--catalog", "iceberg",
        ])


class _StubFrame:
    """Stands in for a DataFrame and for the writer its writeTo() returns:
    its session's catalog answers tableExists from ``existing``, and every
    write call is recorded."""

    def __init__(self, existing):
        self.calls = []
        self.sparkSession = SimpleNamespace(
            catalog=SimpleNamespace(tableExists=lambda t: t in existing)
        )

    def writeTo(self, table):
        self.calls.append(table)
        return self

    def partitionedBy(self, col):
        self.calls.append(("partitionedBy", col))
        return self

    def __getattr__(self, op):  # append / create / overwritePartitions
        return lambda: self.calls.append(op)


@pytest.mark.parametrize("exists", [True, False])
def test_iceberg_commit_helpers_probe_table_existence(exists, monkeypatch):
    """Create on the first wave, append / overwrite after it — decided by a
    catalog probe, not by the wording of a failed write's exception."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.catalog import iceberg_append, iceberg_overwrite_buckets

    monkeypatch.setattr(F, "col", lambda name: name)  # F.col needs a live SparkContext
    df = _StubFrame({"ocr.manifest", "ocr.spans"} if exists else set())
    iceberg_append(df, "ocr.manifest")
    iceberg_overwrite_buckets(df, "ocr.spans")
    if exists:
        assert df.calls == ["ocr.manifest", "append", "ocr.spans", "overwritePartitions"]
    else:
        assert df.calls == [
            "ocr.manifest", "create", "ocr.spans", ("partitionedBy", "bucket"), "create",
        ]


class _StubManifestSession:
    """A session whose catalog holds ``ocr.manifest`` when ``rows`` is not
    None; reading the table raises when ``rows`` is an exception."""

    def __init__(self, rows):
        self.rows = rows
        self.catalog = SimpleNamespace(
            tableExists=lambda t: rows is not None and t == "ocr.manifest"
        )

    def table(self, name):
        if isinstance(self.rows, Exception):
            raise self.rows
        return self

    def where(self, cond):
        return self

    def select(self, *cols):
        return self

    def distinct(self):
        return self

    def collect(self):
        return [SimpleNamespace(partition_id=b) for b in self.rows]


def test_resume_reads_the_catalog_manifest(monkeypatch):
    """Catalog mode: a missing manifest table is a fresh run, an existing
    one yields its committed buckets, and any other read error propagates
    instead of passing for a fresh run."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline.job import _read_committed

    monkeypatch.setattr(F, "col", lambda name: name)  # F.col needs a live SparkContext
    assert _read_committed(_StubManifestSession(None), "unused", "ocr") == set()
    assert _read_committed(_StubManifestSession([0, 2, 2]), "unused", "ocr") == {0, 2}
    with pytest.raises(OSError, match="catalog unreachable"):
        _read_committed(_StubManifestSession(OSError("catalog unreachable")), "unused", "ocr")
