"""The --py-files zip holds the engine alone: no contract harness
module is packed, and every packed module imports with only the zip,
the standard library and site-packages on ``sys.path`` while
``duckdb`` and the sibling ``contract`` package are refused."""

from __future__ import annotations

import subprocess
import sys
import zipfile

from tools.package import build

IMPORT_ALL = r"""
import importlib
import importlib.abc
import site
import sys
import sysconfig
import zipfile

zip_path = sys.argv[1]
keep = (sysconfig.get_path("stdlib"), sysconfig.get_path("platstdlib"),
        *site.getsitepackages())
sys.path[:] = [zip_path] + [p for p in sys.path if p and p.startswith(keep)]


class Refuse(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path=None, target=None):
        if name.split(".")[0] in ("duckdb", "contract"):
            raise ImportError(f"the engine imported {name}")
        return None


sys.meta_path.insert(0, Refuse())
names = sorted(
    n[:-3].replace("/", ".").removesuffix(".__init__")
    for n in zipfile.ZipFile(zip_path).namelist() if n.endswith(".py")
)
for name in names:
    mod = importlib.import_module(name)
    assert mod.__file__.startswith(zip_path), (name, mod.__file__)
print(len(names))
"""


def test_zip_holds_the_engine_only(tmp_path):
    out = build(tmp_path / "s2.zip")
    members = zipfile.ZipFile(out).namelist()
    assert members and all(
        m.startswith("s2_geometry_rust_spark/") for m in members)
    base = {m.rsplit("/", 1)[-1] for m in members}
    assert not base & {"oracle.py", "engine_queries.py"}

    run = subprocess.run(
        [sys.executable, "-c", IMPORT_ALL, str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={"PATH": "/usr/bin:/bin"},
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split()[-1]) == sum(
        m.endswith(".py") for m in members)
