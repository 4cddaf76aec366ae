"""Validate ``BENCHMARK.json`` against the benchmark manifest rules and
against the metric names ``run.py`` reports.

    python3 perfbench/check_manifest.py [BENCHMARK.json]

Prints every problem found and exits 1 if there is any.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH = re.compile(r"[A-Za-z0-9_./-]{1,200}")
KEYS = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}


def problems(m: dict, root: str) -> list[str]:
    out = []
    if set(m) != KEYS:
        out.append(f"keys {sorted(m)} != {sorted(KEYS)}")
        return out
    paths = m["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        out.append("paths: 1 to 16 entries")
    for p in paths:
        if not PATH.fullmatch(p) or p.startswith("/") or ".." in p.split("/"):
            out.append(f"path {p!r} is not a plain relative path")
        elif not os.path.isdir(os.path.join(root, p)):
            out.append(f"path {p!r} is not a directory")
    cmd = m["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32):
        out.append("command: 1 to 32 strings")
    for a in cmd:
        if not isinstance(a, str) or len(a) > 200 or a.startswith("/") or ".." in a:
            out.append(f"command argument {a!r} is not allowed")
        elif "/" in a and not any(a == p or a.startswith(p.rstrip("/") + "/") for p in paths):
            out.append(f"command argument {a!r} names a file outside paths")
    rs = m["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        out.append("run_seconds: whole number 1..60")
    wls = m["workloads"]
    if not (isinstance(wls, list) and 2 <= len(wls) <= 8):
        out.append("workloads: 2 to 8")
    seen = set()
    for w in wls:
        if set(w) != {"name", "why"}:
            out.append(f"workload keys {sorted(w)}")
            continue
        if "\n" in w["why"] or not 0 < len(w["why"]) <= 200:
            out.append(f"workload {w['name']}: why must be one line, <= 200 chars")
        out += _name(w["name"], seen)
    for group, lo, hi, bound in (("end_to_end", 1, 16, True), ("per_layer", 1, 128, False)):
        ms = m[group]
        if not (isinstance(ms, list) and lo <= len(ms) <= hi):
            out.append(f"{group}: {lo} to {hi} metrics")
        want = {"name", "unit", "better"} | ({"bound"} if bound else set())
        for x in ms:
            if set(x) != want:
                out.append(f"{group} {x.get('name')}: keys {sorted(x)} != {sorted(want)}")
                continue
            out += _name(x["name"], seen)
            if not UNIT.fullmatch(x["unit"]):
                out.append(f"{x['name']}: bad unit {x['unit']!r}")
            if x["better"] not in ("lower", "higher"):
                out.append(f"{x['name']}: better must be lower or higher")
            if bound and not (isinstance(x["bound"], (int, float)) and 0 < x["bound"] <= 0.25):
                out.append(f"{x['name']}: bound must be in (0, 0.25]")
    setup = [x for x in m["end_to_end"] if x.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        out.append("end_to_end needs setup_s in s, better lower")
    if len(json.dumps(m)) > 64 * 1024:
        out.append("manifest larger than 64 KiB")
    return out


def _name(n, seen):
    out = []
    if not isinstance(n, str) or not NAME.fullmatch(n):
        out.append(f"bad name {n!r}")
    if n in seen:
        out.append(f"name {n!r} used twice")
    seen.add(n)
    return out


def matches_runner(m: dict) -> list[str]:
    """Every workload and metric of the manifest is one ``run.py``
    reports, with the same unit, and every workload reports the same
    end-to-end set."""
    sys.path.insert(0, HERE)
    import run
    from workloads import WORKLOADS

    out = []
    if {w["name"] for w in m["workloads"]} != set(WORKLOADS):
        out.append(f"workloads differ from run.py's {sorted(WORKLOADS)}")
    for group, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        got = {x["name"]: x["unit"] for x in m[group]}
        if got != units:
            out.append(f"{group} differs from run.py: {got} != {units}")
    return out


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        m = json.load(f)
    errs = problems(m, os.path.dirname(os.path.abspath(path)))
    if not errs:
        errs = matches_runner(m)
    for e in errs:
        print(e)
    print("ok" if not errs else f"{len(errs)} problem(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
