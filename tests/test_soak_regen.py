"""``tools/soak_regen.py`` grades the checkout it is started from: a copy of
the tree soaks that copy's ``__spark_entry__.py``, with that copy's package on
the Python workers' path."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_STUB_ENTRY = '''\
GRADED = []


def queries():
    def q_marker(spark, sf_dir):
        GRADED.append(sf_dir)
        return []

    return {"q_marker": q_marker}


def oracle_sql():
    return {"q_marker": "SELECT 1"}
'''


def _soak_copy(tmp_path):
    """A copy of the soak tool in a tree whose ``__spark_entry__.py`` is a stub,
    imported from that copy."""
    (tmp_path / "tools").mkdir()
    shutil.copy(REPO / "tools" / "soak_regen.py", tmp_path / "tools" / "soak_regen.py")
    (tmp_path / "__spark_entry__.py").write_text(_STUB_ENTRY)
    spec = importlib.util.spec_from_file_location("soak_copy", tmp_path / "tools" / "soak_regen.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_soak_from_a_copy_grades_that_copy(tmp_path):
    soak = _soak_copy(tmp_path)
    compared = []
    fails = soak.run_strict_sim(
        "sf", spark=None, con_factory=lambda sf_dir: sf_dir,
        compare=lambda sdf, con, sql: compared.append((sdf, con, sql)),
    )
    assert fails == []
    assert compared == [([], "sf", "SELECT 1")]


def test_soak_puts_its_checkout_on_the_worker_path(tmp_path, monkeypatch):
    soak = _soak_copy(tmp_path)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", "elsewhere")
    soak.use_checkout()
    assert sys.path[0] == str(tmp_path.resolve())
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [str(tmp_path.resolve()), "elsewhere"]
