"""``session.cache_zip_directories``: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed.

Spark-free. Each case runs in a subprocess so the test process's own
importers and its ``zipimporter`` class stay untouched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

arch = os.path.join(sys.argv[1], "pkgs.zip")
N_SUB = 10

def write_zip(extra=False):
    tmp = arch + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for i in range(N_SUB):
            z.writestr(f"zpkg/sub{i}/__init__.py", f"N = {i}\n")
            z.writestr(f"zpkg/sub{i}/mod.py", "X = 1\n")
        if extra:
            z.writestr("zpkg/sub0/fresh.py", "Y = 2\n")
    os.replace(tmp, arch)

write_zip()
sys.path.insert(0, arch)
for i in range(N_SUB):
    importlib.import_module(f"zpkg.sub{i}.mod")

reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or real(path)

def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(arch)

from postgresql_cdc_spark.session import cache_zip_directories

zi = zipimport.zipimporter
out = {"importers": sum(
    isinstance(f, zi) and f.archive == arch
    for f in sys.path_importer_cache.values()
)}
if sys.argv[2] == "lazy":
    # a lazy importer (CPython 3.13+) reads its directory on demand
    zi._get_files = lambda self: self._files
    before = zi.invalidate_caches
    cache_zip_directories()
    out["untouched"] = zi.invalidate_caches is before
else:
    out["plain"] = invalidate()
    cache_zip_directories()
    first = zi.invalidate_caches
    cache_zip_directories()
    out["wrapped_once"] = zi.invalidate_caches is first
    out["first"] = invalidate()
    out["repeat"] = invalidate()
    write_zip(extra=True)
    out["rewritten"] = invalidate()
    out["fresh"] = importlib.import_module("zpkg.sub0.fresh").Y
    out["after"] = invalidate()
print(json.dumps(out))
"""


def _run(tmp_path, mode: str) -> dict:
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path), mode],
        capture_output=True, text=True, env=env, timeout=120, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="lazy zipimporter: invalidation reads nothing")
def test_directory_reread_only_when_archive_changes(tmp_path):
    out = _run(tmp_path, "eager")
    assert out["importers"] > 10  # the package and each subpackage
    assert out["plain"] == out["importers"]  # unpatched: one read each
    assert out["wrapped_once"]
    assert out["first"] <= 1  # at most one read per archive
    assert out["repeat"] == 0
    assert out["rewritten"] == 1  # a changed archive is read again
    assert out["fresh"] == 2  # and its new module imports
    assert out["after"] == 0


def test_lazy_zipimporter_left_alone(tmp_path):
    assert _run(tmp_path, "lazy")["untouched"]
