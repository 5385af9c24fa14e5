"""Importing the query registry has no side effects on disk: it registers
queries in import order and reads no stamp, inventory or fixture file."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# pyspark reads its own error catalog (a .json) on import: it is imported
# before the hook goes in, so only the registry's own opens are counted
_PROBE = r"""
import json, os, sys
import pyarrow.parquet as pq
import pyspark.sql

opened = []

def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.fsdecode(args[0]))

sys.addaudithook(hook)
calls = [0]
real_read_schema = pq.read_schema

def counting_read_schema(*a, **k):
    calls[0] += 1
    return real_read_schema(*a, **k)

pq.read_schema = counting_read_schema
import postgresql_cdc_spark.plans as plans

print(json.dumps({
    "opened": [p for p in opened if p.endswith((".json", ".md", ".parquet"))],
    "read_schema": calls[0],
    "names": list(plans.QUERIES),
}))
"""


def test_import_reads_no_stamp_inventory_or_fixture():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["opened"] == []
    assert got["read_schema"] == 0
    # registration order is the committed inventory's order
    with open(os.path.join(ROOT, "QUERIES.md")) as f:
        listed = re.findall(r"^\| \d+ \| `([^`]+)` \|", f.read(), re.M)
    assert got["names"] == listed
    assert len(listed) == 321
