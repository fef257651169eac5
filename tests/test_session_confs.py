"""Session-conf handling: confs are set once per session, never per read,
and a conf that cannot be set is reported rather than swallowed."""

from __future__ import annotations

import contextlib
import logging
from types import SimpleNamespace

from conftest import SF_DIR

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.session import RUNTIME_CONFS, apply_runtime_confs

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_read_does_not_write_session_conf(spark):
    """Reading ``events`` must not flip a session-global conf: two clients
    sharing the session would race on it."""
    try:
        spark.conf.set(NANOS_AS_LONG, "false")
        # without the conf the reader may reject TIMESTAMP(NANOS); either
        # way the session conf must be left as the caller set it
        with contextlib.suppress(Exception):
            load_table(spark, SF_DIR, "events").schema
        assert spark.conf.get(NANOS_AS_LONG) == "false"
    finally:
        apply_runtime_confs(spark)
    assert spark.conf.get(NANOS_AS_LONG) == "true"
    assert dict(load_table(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp"


class _StubConf:
    def __init__(self, unsettable: str):
        self.unsettable = unsettable
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.unsettable:
            raise RuntimeError("cannot modify the value of a static config")
        self.values[key] = value


def test_apply_runtime_confs_logs_each_unsettable_conf(caplog):
    bad = "spark.sql.codegen.maxFields"
    session = SimpleNamespace(conf=_StubConf(bad))
    with caplog.at_level(logging.WARNING, logger="procurement_system_bigdata_spark.session"):
        assert apply_runtime_confs(session) is session
    assert set(session.conf.values) == set(RUNTIME_CONFS) - {bad}
    [record] = caplog.records
    assert record.levelno == logging.WARNING
    message = record.getMessage()
    assert bad in message
    assert RUNTIME_CONFS[bad] in message
    assert "cannot modify the value of a static config" in message
