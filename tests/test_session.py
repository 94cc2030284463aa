"""The session's default driver heap fits the machine it runs on, and its
JVM runs the compile policy of ``session.C2_HOT_ONLY``.

Uses the shared ``spark`` fixture; starts no second session.
"""

from __future__ import annotations

import os

import pytest

from genesis_spark import session

GiB = 2**30


def test_fixture_session_heap_fits_machine(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    pinned = os.environ.get("SPARK_DRIVER_MEM")
    if pinned:
        assert heap == pinned
    else:
        assert heap == session.default_driver_memory()
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        assert int(heap.removesuffix("g")) * GiB <= max(GiB, phys // 2)


@pytest.mark.parametrize("phys_gib, expected", [
    (0.5, "1g"),      # tiny host: never below 1g
    (15.7, "7g"),     # whole GiB, rounded down
    (64, "32g"),
    (96, "48g"),
    (512, "48g"),     # large host: capped at the old fixed default
])
def test_default_heap_rule(monkeypatch, phys_gib, expected):
    page = 4096
    pages = int(phys_gib * GiB) // page
    monkeypatch.setattr(session.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name])
    assert session.default_driver_memory() == expected


def test_fixture_jvm_runs_compile_policy(spark):
    """Each tier-4 threshold the live JVM reports is the one in
    ``C2_HOT_ONLY``. Spark launches the JVM with
    ``-XX:+IgnoreUnrecognizedVMOptions``, so a mistyped flag would be
    dropped without an error and leave the JDK default in place."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    flags = dict(f.removeprefix("-XX:").split("=")
                 for f in session.C2_HOT_ONLY.split())
    assert len(flags) == 4
    assert {name: bean.getVMOption(name).getValue() for name in flags} \
        == flags
