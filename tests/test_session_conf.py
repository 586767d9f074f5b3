"""The session config builder, tested as a pure function (no JVM): the
driver heap fits the host and ``-Xms`` never exceeds the heap."""

from __future__ import annotations

import os
import re

import pytest

from sparklyclean_spark.session import session_conf


def _heap_and_xms(conf: dict[str, str]) -> tuple[int, int]:
    (xms,) = re.findall(r"-Xms(\d+)m", conf["spark.driver.extraJavaOptions"])
    return int(conf["spark.driver.memory"].removesuffix("m")), int(xms)


@pytest.mark.parametrize("phys_mib", [2048, 16 * 1024, 64 * 1024, 512 * 1024])
def test_heap_sized_from_host(phys_mib):
    heap, xms = _heap_and_xms(session_conf(phys_mib=phys_mib))
    assert heap == min(phys_mib // 2, 48 * 1024)
    assert 0 < xms <= min(heap, 8 * 1024)


def test_default_uses_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap, xms = _heap_and_xms(session_conf())
    assert xms <= heap <= phys // 2


def test_lowered_heap_gets_no_fixed_xms():
    """Lowering only ``spark.driver.memory`` must still give a JVM that
    starts: a fixed -Xms above the new heap is fatal at launch."""
    conf = session_conf({"spark.driver.memory": "4g"}, phys_mib=512 * 1024)
    assert conf["spark.driver.memory"] == "4g"
    assert "-Xms" not in conf["spark.driver.extraJavaOptions"]
    assert "ReservedCodeCacheSize=1g" in conf["spark.driver.extraJavaOptions"]


def test_caller_jvm_options_pass_through():
    extra = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -Xms2g",
        "spark.sql.shuffle.partitions": "8",
    }
    conf = session_conf(extra, phys_mib=16 * 1024)
    assert {k: conf[k] for k in extra} == extra
    assert conf["spark.sql.adaptive.enabled"] == "true"
