"""Bounded reads of observed metrics.

``Observation.get`` waits without limit for the observed DataFrame's
first action, so an operator whose observed DataFrame never runs (or
whose action died before reporting) would hang its driver forever.
``observed`` makes ONE blocking wait on the JVM-side future with a
fixed bound and then names the operator in the error: no sleep/poll
loop, and no Spark job of its own.
"""

from __future__ import annotations

from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.serializers import CPickleSerializer
from pyspark.sql import Observation

# Metrics arrive through the listener bus right after the action ends;
# a minute covers a busy bus with room to spare.
OBSERVE_TIMEOUT_S = 60.0


def observed(obs: Observation, operator: str) -> dict[str, Any]:
    """The metrics of ``obs`` once its DataFrame's first action has
    run; raises ``TimeoutError`` naming ``operator`` if they are not
    there within ``OBSERVE_TIMEOUT_S``."""
    jvm = obs._jvm
    bound = jvm.scala.concurrent.duration.FiniteDuration(
        int(OBSERVE_TIMEOUT_S * 1000), jvm.java.util.concurrent.TimeUnit.MILLISECONDS
    )
    try:
        jrow = jvm.scala.concurrent.Await.result(obs._jo.future(), bound)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.concurrent.TimeoutException":
            raise
        raise TimeoutError(
            f"{operator}: observed metrics not reported within {OBSERVE_TIMEOUT_S:g} s"
            " (did an action run on the observed DataFrame?)"
        ) from None
    utils = jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return CPickleSerializer().loads(utils.toPyRow(jrow)).asDict(recursive=False)
