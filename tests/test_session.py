"""The two static settings ``session.get_spark`` fixes for every session
(a generated-code cache that holds the program's working set, and PySpark's
DataFrame debugging off), and the py4j lookups it keeps."""

from __future__ import annotations

import py4j.clientserver
import pytest
from py4j import java_gateway
from py4j.java_gateway import JavaClass, JavaMember, JavaPackage, JVMView
from py4j.protocol import Py4JError
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from candia_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles


def test_fixture_session_carries_both_settings(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert CODEGEN_CACHE_ENTRIES > 100  # Spark's default


def test_second_round_of_150_plan_shapes_compiles_nothing(spark):
    """150 projections, each with its own inlined literals, generate about
    300 classes: more than Spark's default cache of 100 holds. With that
    default the second round recompiled all of them (measured: 300 and
    300); with the larger cache it compiles none."""

    def run_round() -> int:
        before = codegen_compiles(spark)
        for i in range(150):
            spark.range(8).select(
                (F.col("id") * F.lit(i + 1000) + F.lit(i)).alias("x")
            ).collect()
        return codegen_compiles(spark) - before

    assert run_round() > 100
    assert run_round() == 0


def test_column_calls_skip_the_debugging_wrapper(spark, monkeypatch):
    """With debugging on, each ``F.*`` and ``Column`` call walks the stack
    and makes about six extra py4j calls. Measured for this 20-call
    expression after one warm build: 150 py4j calls with Spark's default
    (debugging on), 40 with it off."""
    assert is_debugging_enabled() is False

    def build():
        e = F.col("id")
        for i in range(9):
            e = e + F.lit(i)
        return e.alias("x")

    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    build()
    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    build()
    monkeypatch.undo()
    assert len(calls) <= 60


def _reflection_commands(monkeypatch, build) -> list[str]:
    """The py4j reflection lookups (``r`` commands) ``build()`` sends."""
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    try:
        build()
    finally:
        monkeypatch.undo()
    return [c for c in calls if c.startswith("r\n")]


def test_warm_column_calls_send_no_reflection_lookup(spark, monkeypatch):
    """pyspark resolves ``_jvm.org.apache.spark.sql.functions``,
    ``PythonUtils`` and each static method by name on every call; with the
    lookups kept, a warm 20-call expression sends none of them."""

    def build():
        e = F.col("id")
        for i in range(9):
            e = e + F.lit(i)
        return e.alias("x")

    build()
    assert _reflection_commands(monkeypatch, build) == []


def test_static_field_and_failed_lookup_are_not_kept(spark):
    integer = spark._jvm.java.lang.Integer
    assert integer.MAX_VALUE == 2**31 - 1
    assert "MAX_VALUE" not in vars(integer)
    integer.parseInt
    assert isinstance(vars(integer)["parseInt"], JavaMember)
    with pytest.raises(Py4JError):
        integer.noSuchMember
    assert "noSuchMember" not in vars(integer)


def test_new_view_starts_empty_and_import_forgets(spark, monkeypatch):
    jvm = spark._jvm
    jvm.java.lang
    assert isinstance(vars(jvm)["java"], JavaPackage)
    fresh = spark.sparkContext._gateway.new_jvm_view("candia_test_view")
    assert isinstance(fresh, JVMView) and fresh._gateway_client is jvm._gateway_client
    assert not any(isinstance(v, (JavaClass, JavaPackage)) for v in vars(fresh).values())
    assert len(_reflection_commands(monkeypatch, lambda: fresh.java)) == 1
    java_gateway.java_import(fresh, "java.util.ArrayDeque")
    assert "java" not in vars(fresh)
    assert isinstance(fresh.ArrayDeque, JavaClass)
