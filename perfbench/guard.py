"""Isolation guard: the benchmark measures the engine of its own tree.

``__spark_entry__`` prepends a fixed absolute path to ``sys.path`` when it
is imported, so a benchmark could silently load another copy of the
engine.  ``import_engine`` imports ``geojson_vt_rs_spark`` from ``root``
first, then ``__spark_entry__``, and fails unless every loaded engine
module lies under ``root``.  ``check_executor`` does the same for the
package an executor Python worker imports.
"""

from __future__ import annotations

import os
import sys

ENGINE = "geojson_vt_rs_spark"
ENTRY = "__spark_entry__"


class ForeignTreeError(RuntimeError):
    """An engine module was loaded from outside the benchmark's tree."""


def _under(path: str, root: str) -> bool:
    path = os.path.realpath(path)
    root = os.path.realpath(root)
    return os.path.commonpath([path, root]) == root


def engine_modules() -> dict:
    """name -> file of every loaded engine module and the entry module."""
    out = {}
    for name, mod in list(sys.modules.items()):
        if name == ENTRY or name == ENGINE or name.startswith(ENGINE + "."):
            f = getattr(mod, "__file__", None)
            if f:
                out[name] = f
    return out


def assert_under(root: str, modules: dict) -> None:
    foreign = {n: f for n, f in modules.items() if not _under(f, root)}
    if foreign:
        raise ForeignTreeError(
            f"engine modules resolve outside {root}: "
            + ", ".join(f"{n} -> {f}" for n, f in sorted(foreign.items()))
        )


def import_engine(root: str):
    """Import the engine and ``__spark_entry__`` from ``root``."""
    root = os.path.abspath(root)
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        raise ForeignTreeError(f"no {ENGINE} package under {root}")
    if root in sys.path:
        sys.path.remove(root)
    sys.path.insert(0, root)
    import geojson_vt_rs_spark  # noqa: F401  (must precede the entry module)

    assert_under(root, engine_modules())
    import __spark_entry__  # noqa: F401

    assert_under(root, engine_modules())
    return root



def _executor_probe(batches):
    import importlib
    import os as _os

    import pandas as pd

    mod = importlib.import_module(ENGINE)
    for _ in batches:
        yield pd.DataFrame({
            "file": [_os.path.abspath(mod.__file__)],
            "pythonpath": [_os.environ.get("PYTHONPATH", "")],
        })


def check_executor(spark, root: str) -> str:
    """Fail unless an executor Python worker imports the engine from
    ``root``.  Run before anything ships the package with addPyFile."""
    row = (
        spark.range(0, 1, 1, 1)
        .mapInPandas(_executor_probe, schema="file string, pythonpath string")
        .collect()[0]
    )
    assert_under(root, {f"{ENGINE} (executor)": row.file})
    return row.file
