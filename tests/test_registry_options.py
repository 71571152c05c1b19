"""Option ratchet over the operator registry.

An option is a parameter with a default on a registered operator: every one
is a switch a caller can set and every test and gate must then cover. The
count is pinned so that a change which adds or removes options says so.
"""

from __future__ import annotations

import inspect

from sensordatapipelines_spark import get_operation, list_operations

#: Parameters with a default over the package's registered operators.
REGISTERED_OPTIONS = 698


def _signatures() -> dict[str, inspect.Signature]:
    """Signatures of the package's registered operators. Operators that
    tests register into the same process-wide registry are left out, so
    the count does not depend on which test modules ran first."""
    ops = {name: get_operation(name) for name in list_operations()}
    return {
        name: inspect.signature(fn)
        for name, fn in ops.items()
        if fn.__module__.startswith("sensordatapipelines_spark.")
    }


def test_registered_option_count_is_pinned():
    sigs = _signatures()
    n = sum(
        1
        for sig in sigs.values()
        for p in sig.parameters.values()
        if p.default is not inspect.Parameter.empty
    )
    assert n == REGISTERED_OPTIONS, (
        f"{len(sigs)} registered operators carry {n} options, pinned at "
        f"{REGISTERED_OPTIONS}. A change that moves this count updates "
        "REGISTERED_OPTIONS and gives the reason in CHANGES.md."
    )


def test_no_operator_has_an_engine_switch():
    """Each operator has one execution path: no registered operator takes
    an ``engine`` parameter that picks between implementations."""
    offenders = sorted(name for name, sig in _signatures().items() if "engine" in sig.parameters)
    assert offenders == []


def test_no_operator_takes_a_metrics_dict():
    """Operator counters come back through one channel, an
    ``observation`` (``pyspark.sql.Observation``), never a ``metrics``
    dict filled by an extra Spark job."""
    offenders = sorted(name for name, sig in _signatures().items() if "metrics" in sig.parameters)
    assert offenders == []
