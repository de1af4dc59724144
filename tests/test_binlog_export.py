"""Binlog-format export sink (sinks/binlog_export.py): byte-exact wire
round-trip through the on-disk file reader, type coverage, lsn-ordered
file split, delete framing, and the duplicate-source_lsn-column guard."""

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from mysql_secure_agent_spark.functions.mysql_codecs import (
    DATETIME_V2,
    DOUBLE,
    LONG,
    LONGLONG,
    NEWDECIMAL,
    VARCHAR,
    ColumnSpec,
)
from mysql_secure_agent_spark.sinks.binlog_export import (
    _column_metadata,
    write_binlog_changelog,
)
from mysql_secure_agent_spark.sources.binlog_file import (
    binlog_file_to_packets,
    read_binlog_files,
)
from mysql_secure_agent_spark.sources.binlog_packets import packets_to_changelog

SPECS = [
    ColumnSpec("id", LONGLONG),
    ColumnSpec("slot", LONG),
    ColumnSpec("name", VARCHAR, {"max_len": 20}),
    ColumnSpec("amount", NEWDECIMAL, {"precision": 8, "scale": 2}),
    ColumnSpec("score", DOUBLE),
    ColumnSpec("lsn", LONGLONG),
]
COLS = [s.name for s in SPECS]


def _cl(spark, n=40):
    rows = [
        (
            "D" if i % 7 == 3 else "U",
            i % 10,
            i % 3,
            None if i % 5 == 0 else f"n{i}",
            Decimal(f"{i}.25"),
            i * 1.5,
            i,
            i,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "op string, id long, slot int, name string, "
        "amount decimal(8,2), score double, lsn long, source_lsn long",
    )


def test_roundtrip_through_file_reader(spark, tmp_path):
    out = str(tmp_path / "export")
    manifest = write_binlog_changelog(
        _cl(spark), out, "s", "t", SPECS, n_files=3
    )
    assert sorted(m["file_no"] for m in manifest) == [1, 2, 3]
    assert sum(m["n_events"] for m in manifest) == 40
    got = (
        read_binlog_files(
            spark,
            os.path.join(out, "mysql-bin.*"),
            "s",
            "t",
            COLS,
            "op string, id long, slot int, name string, "
            "amount decimal(8,2), score double, lsn long, source_lsn long",
            verify_checksum=True,
        )
        .drop("source_lsn")  # file-position lsn; the payload carries its own
    )
    # upserts export as WRITE_ROWS, which the replay emits as op 'I' — the
    # documented collapse (a changefeed carries net new images; I and U are
    # identical to a row-idempotent consumer)
    exp = _cl(spark).select(
        F.when(F.col("op") == "U", "I").otherwise(F.col("op")).alias("op"),
        "id", "slot", "name", "amount", "score", "lsn",
    )
    got = got.select(*exp.columns)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_files_are_lsn_ordered_and_framed(spark, tmp_path):
    out = str(tmp_path / "export")
    write_binlog_changelog(_cl(spark), out, "s", "t", SPECS, n_files=2)
    for no in (1, 2):
        data = open(os.path.join(out, f"mysql-bin.{no:06d}"), "rb").read()
        pkts = binlog_file_to_packets(data, verify_checksum=True)
        rows = packets_to_changelog(pkts, "s", "t", COLS)
        assert rows["source_lsn"].is_monotonic_increasing
        lsns = [int(v) for v in rows["lsn"]]
        assert lsns == sorted(lsns)
    # file 1 strictly precedes file 2 in payload lsn
    d1 = packets_to_changelog(
        binlog_file_to_packets(
            open(os.path.join(out, "mysql-bin.000001"), "rb").read()
        ), "s", "t", COLS,
    )
    d2 = packets_to_changelog(
        binlog_file_to_packets(
            open(os.path.join(out, "mysql-bin.000002"), "rb").read()
        ), "s", "t", COLS,
    )
    assert max(d1["lsn"]) < min(d2["lsn"])


def test_empty_changelog_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "export")
    m = write_binlog_changelog(
        _cl(spark).filter(F.lit(False)), out, "s", "t", SPECS
    )
    assert m == []


def test_null_datetime_delete_roundtrips_as_null(spark, tmp_path):
    """A NULL DATETIME reaches the encoder as ``pd.NaT`` (the pandas
    null of a timestamp column), not None/NaN: it must set the row
    image's null bit, and decode back as NULL."""
    specs = [ColumnSpec("id", LONGLONG), ColumnSpec("ts", DATETIME_V2, {"fsp": 6})]
    ddl = "op string, id long, ts timestamp, source_lsn long"
    cl = spark.createDataFrame(
        [("U", 1, dt.datetime(2024, 5, 1, 12, 30, 0, 250000), 1),
         ("D", 1, None, 2)],
        ddl,
    )
    out = str(tmp_path / "export")
    write_binlog_changelog(cl, out, "s", "t", specs, n_files=1)
    got = read_binlog_files(
        spark, os.path.join(out, "mysql-bin.*"), "s", "t", ["id", "ts"], ddl,
        verify_checksum=True,
    ).orderBy("source_lsn").collect()
    assert [(r["op"], r["id"], r["ts"]) for r in got] == [
        ("I", 1, dt.datetime(2024, 5, 1, 12, 30, 0, 250000)),
        ("D", 1, None),
    ]


def test_unsupported_type_raises():
    with pytest.raises(NotImplementedError):
        _column_metadata(ColumnSpec("e", 0xF7, {"labels": ["a"]}))  # ENUM
