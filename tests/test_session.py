"""Session defaults that the driver-side request build depends on."""

from __future__ import annotations

import py4j.clientserver
from pyspark.sql import functions as F


def test_column_operator_is_one_py4j_round_trip(spark, monkeypatch):
    """With PySpark's DataFrame debugging off (``get_spark`` sets it in
    the builder), a Column comparison is one py4j round trip.  With it
    on, each operator also sets and clears the Python call site, reads
    a conf and looks up the active session: 11 round trips."""
    col = F.col("year")
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    col > 1997
    assert len(calls) == 1
