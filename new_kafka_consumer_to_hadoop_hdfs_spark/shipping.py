"""Ship a module's code to executors by value.

Executor Python workers may not have this repo on ``sys.path`` (the
round driver and ad-hoc harnesses import ``__spark_entry__`` via path
hacks), so any module whose functions run INSIDE a Spark task (pandas
UDF bodies, ``applyInPandasWithState`` update functions) must be
registered with cloudpickle's by-value pickling — otherwise the
executor tries ``import <module>`` and dies with ModuleNotFoundError.

One implementation instead of a copy per call site
(streaming/smoothing.py, operators/multimodal.py).
"""

from __future__ import annotations

import sys


def ship_module_by_value(module_name: str) -> None:
    """Best-effort: register ``sys.modules[module_name]`` for by-value
    cloudpickle serialization. Failure is survivable — when the repo IS
    importable on executors (installed package, spark-submit --py-files)
    the default by-reference pickling works; this call only matters for
    path-hack harnesses, so it must never break a working setup."""
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module_name])
    except Exception:  # noqa: BLE001 — see docstring
        pass
