"""``__spark_entry__.py`` imports the library of its OWN checkout: a copy
of the entry file plus ``pke_spark/`` placed anywhere resolves
``pke_spark`` inside the copy, never in another checkout on the same
machine (a same-time control run of a parent tree must measure the
parent's code)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_imports_its_own_checkout(tmp_path):
    copy = tmp_path / "checkout"
    copy.mkdir()
    shutil.copy2(os.path.join(ROOT, "__spark_entry__.py"), copy)
    shutil.copytree(os.path.join(ROOT, "pke_spark"), copy / "pke_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    elsewhere = tmp_path / "cwd"
    elsewhere.mkdir()
    # load the copy by file path from an unrelated cwd, so only the
    # entry file's own sys.path edit can make the copy importable
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('__spark_entry__', "
        f"{str(copy / '__spark_entry__.py')!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "sys.modules['__spark_entry__'] = m\n"
        "spec.loader.exec_module(m)\n"
        "import pke_spark\n"
        "print(pke_spark.__file__)\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], cwd=elsewhere,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr
    got = os.path.realpath(out.stdout.strip().splitlines()[-1])
    assert got.startswith(os.path.realpath(copy) + os.sep), got
