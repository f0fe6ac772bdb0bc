"""The isolation guard accepts a copy of the tree and rejects an engine
that resolves outside the benchmark's tree."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import guard

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _copy_tree(dst, engine=True):
    ignore = shutil.ignore_patterns("__pycache__", "tests")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(dst, "perfbench"), ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    if engine:
        shutil.copytree(os.path.join(ROOT, "geojson_vt_rs_spark"),
                        os.path.join(dst, "geojson_vt_rs_spark"), ignore=ignore)
        shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), dst)


def _py(code, cwd, pythonpath=""):
    env = dict(os.environ, PYTHONPATH=pythonpath)
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=120)


def test_assert_under_rejects_foreign_module(tmp_path):
    inside = str(tmp_path / "tree" / "geojson_vt_rs_spark" / "__init__.py")
    outside = str(tmp_path / "other" / "geojson_vt_rs_spark" / "__init__.py")
    guard.assert_under(str(tmp_path / "tree"), {"geojson_vt_rs_spark": inside})
    with pytest.raises(guard.ForeignTreeError):
        guard.assert_under(str(tmp_path / "tree"), {"geojson_vt_rs_spark": outside})


def test_guard_passes_on_a_copy_of_the_tree(tmp_path):
    _copy_tree(str(tmp_path))
    code = (
        "import sys, json; sys.path.insert(0, %r)\n"
        "from perfbench import guard\n"
        "guard.import_engine(%r)\n"
        "print(json.dumps(guard.engine_modules()))\n"
    ) % (str(tmp_path), str(tmp_path))
    p = _py(code, str(tmp_path))
    assert p.returncode == 0, p.stderr
    mods = json.loads(p.stdout.strip().splitlines()[-1])
    assert "__spark_entry__" in mods and "geojson_vt_rs_spark" in mods
    assert all(f.startswith(str(tmp_path)) for f in mods.values())


def test_guard_rejects_engine_loaded_from_another_tree(tmp_path):
    """An engine imported from elsewhere before the guard runs (the way
    __spark_entry__'s sys.path insert could) is refused."""
    _copy_tree(str(tmp_path))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import geojson_vt_rs_spark\n"
        "sys.path.insert(0, %r)\n"
        "from perfbench import guard\n"
        "try:\n"
        "    guard.import_engine(%r)\n"
        "except guard.ForeignTreeError as e:\n"
        "    print('refused', e)\n"
    ) % (ROOT, str(tmp_path), str(tmp_path))
    p = _py(code, str(tmp_path))
    assert p.returncode == 0, p.stderr
    assert "refused" in p.stdout


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, with
    another tree importable, the run exits non-zero and prints no result."""
    _copy_tree(str(tmp_path), engine=False)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pyramid", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), env=dict(os.environ, PYTHONPATH=ROOT),
        capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
