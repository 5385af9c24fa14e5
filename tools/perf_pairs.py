"""Interleaved A/B pairs of the benchmark of record, with the gain rule.

    python tools/perf_pairs.py --parent <checkout> --change <checkout> \\
        --workload backfill_replay --seed 7 --pairs 10 [--log runs.jsonl]
    python tools/perf_pairs.py --report runs.jsonl

Runs ``BENCHMARK.json``'s command (``perfbench/run.py``) untraced for its
``run_seconds`` from each checkout in turn, alternating which side goes
first. Per end-to-end metric it prints each side's median and quartiles,
how many pairs the change won, and whether a gain may be claimed: at least
ten pairs, the change wins at least nine in ten (ties count for neither),
the medians differ by more than the parent's interquartile range, and the
change has no more failing runs (``failed`` > 0) than the parent. A metric whose change median is
worse than the parent's by more than its ``BENCHMARK.json`` bound is
flagged WORSE; one whose parent spread (IQR / median) is wider than the
bound is flagged unresolved unless every change run beats every parent
run. ``--log`` appends each run's result as one JSON line, and
``--report`` summarizes such logs, per workload and seed, without running
anything. ``BENCHMARK.json`` is read, never written.

Before the first pair each checkout's ``postgresql_cdc_spark/`` and
``perfbench/`` are byte-compiled (``python -m compileall -q -f``, with the
benchmark command's interpreter), so no timed run pays first-import
compilation and bytecode left stale in one checkout does not skew the
comparison. ``-f`` rewrites every file: compileall alone trusts a ``.pyc``
whose recorded mtime matches, even when the source changed size within
that second.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10  # fewer pairs never support a gain claim


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) with inclusive interpolation; one sample is its
    own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], spec: list[dict],
              failed: dict) -> list[dict]:
    """One row per ``BENCHMARK.json`` end-to-end metric, from ``pairs`` of
    (parent, change) metric dicts and ``failed``, the count of runs with
    ``failed`` > 0 per side. A metric missing from either side of a pair
    leaves that pair out of the row."""
    rows = []
    for m in spec:
        name, bound = m["name"], float(m["bound"])
        sign = 1.0 if m["better"] == "higher" else -1.0
        got = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not got:
            continue
        par = [p for p, _ in got]
        chg = [c for _, c in got]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(sign * (c - p) > 0 for p, c in got)
        iqr = pq3 - pq1
        gain = sign * (cmed - pmed)
        # change relative to the parent median, positive = worse
        worse = -gain / abs(pmed) if pmed else 0.0
        rows.append({
            "metric": name,
            "unit": m.get("unit", ""),
            "pairs": len(got),
            "parent": (pq1, pmed, pq3),
            "change": (cq1, cmed, cq3),
            "ratio": cmed / pmed if pmed else float("nan"),
            "wins": wins,
            "gain_holds": (len(got) >= MIN_PAIRS and wins >= 0.9 * len(got)
                           and gain > iqr
                           and failed["change"] <= failed["parent"]),
            "worse_than_bound": worse > bound,
            "unresolved": (
                pmed != 0 and iqr / abs(pmed) > bound
                and not all(sign * (c - p) > 0 for c in chg for p in par)
            ),
            "bound": bound,
        })
    return rows


def format_rows(rows: list[dict]) -> str:
    def q(t):
        return f"{t[1]:.5g} [{t[0]:.5g}, {t[2]:.5g}]"

    out = [
        f"{'metric':<18} {'unit':<5} {'parent median [q1, q3]':<30} "
        f"{'change median [q1, q3]':<30} {'ratio':>6} {'wins':>6}  verdict"
    ]
    for r in rows:
        flags = ["gain" if r["gain_holds"] else "no gain claim"]
        if r["worse_than_bound"]:
            flags.append(f"WORSE than bound {r['bound']:g}")
        if r["unresolved"]:
            flags.append("unresolved (parent spread wider than bound)")
        out.append(
            f"{r['metric']:<18} {r['unit']:<5} {q(r['parent']):<30} "
            f"{q(r['change']):<30} {r['ratio']:>6.3f} "
            f"{r['wins']:>3}/{r['pairs']:<2}  {'; '.join(flags)}"
        )
    return "\n".join(out)


def _values(metrics: dict) -> dict:
    """``{name: value}`` from a result's ``{name: {"value", "unit"}}``."""
    return {k: v["value"] for k, v in metrics.items()}


COMPILED = ("postgresql_cdc_spark", "perfbench")


def precompile(checkout: str, python: str) -> None:
    """Byte-compile ``checkout``'s :data:`COMPILED` directories with
    ``python``; raises when a source does not compile."""
    dirs = [d for d in COMPILED if os.path.isdir(os.path.join(checkout, d))]
    proc = subprocess.run([python, "-m", "compileall", "-q", "-f", *dirs],
                          cwd=checkout, capture_output=True, text=True)
    if proc.returncode:
        raise RuntimeError(
            f"compileall in {checkout} exited {proc.returncode}:\n"
            + (proc.stdout + proc.stderr)[-2000:]
        )


def run_once(checkout: str, command: list[str], workload: str, seed: int,
             seconds: float) -> dict:
    """One untraced benchmark run from ``checkout``; its final JSON line.
    A failing run still prints its result (with ``failed`` > 0) and exits
    non-zero; only a run that prints no result raises."""
    argv = [*command, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(argv, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        raise RuntimeError(
            f"{' '.join(argv)} in {checkout} exited {proc.returncode}:\n"
            + proc.stderr[-2000:]
        ) from None


def _pairs_from_logs(paths: list[str]) -> dict[tuple, tuple[list, dict]]:
    """{(workload, seed): (pairs, {side: runs with failed > 0})} from
    ``--log`` files; a pair needs both sides."""
    by_pair: dict[tuple, dict] = {}
    failed: dict[tuple, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                group = (rec["workload"], rec["seed"])
                per_side = failed.setdefault(group, {"parent": 0, "change": 0})
                per_side[rec["side"]] += rec["result"]["failed"] > 0
                side = by_pair.setdefault((*group, path, rec["pair"]), {})
                side[rec["side"]] = _values(rec["result"]["metrics"])
    out: dict[tuple, tuple[list, dict]] = {}
    for key, v in sorted(by_pair.items()):
        if "parent" in v and "change" in v:
            out.setdefault(key[:2], ([], failed[key[:2]]))[0].append(
                (v["parent"], v["change"]))
    return out


def _report(workload: str, seed: int, pairs: list, failed: dict,
            spec: list[dict]) -> None:
    print(f"{workload} seed {seed}: {len(pairs)} pairs, runs with "
          f"failed > 0: parent {failed['parent']}, change {failed['change']}")
    print(format_rows(summarize(pairs, spec, failed)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--log", help="append each run's result to this JSONL")
    ap.add_argument("--report", nargs="+",
                    help="summarize --log files and exit")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["end_to_end"]

    if args.report:
        for (workload, seed), (pairs, failed) in _pairs_from_logs(
                args.report).items():
            _report(workload, seed, pairs, failed, spec)
        return 0

    if not (args.parent and args.change and args.workload
            and args.seed is not None):
        ap.error("--parent, --change, --workload and --seed are required")
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    for checkout in sides.values():
        precompile(checkout, bench["command"][0])
    pairs, failed = [], {"parent": 0, "change": 0}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            res = run_once(sides[side], bench["command"], args.workload,
                           args.seed, bench["run_seconds"])
            failed[side] += res["failed"] > 0
            got[side] = _values(res["metrics"])
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({
                        "workload": args.workload, "seed": args.seed,
                        "pair": i, "side": side, "result": res,
                    }) + "\n")
            print(f"pair {i + 1}/{args.pairs} {side}: {got[side]} "
                  f"failed={res['failed']}", file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))
    _report(args.workload, args.seed, pairs, failed, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
