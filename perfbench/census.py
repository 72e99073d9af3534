"""Census of the declared queries on the benchmark fixture, and the tool
that (re)writes the fixture workload's op list and golden results.

    python3 perfbench/census.py [--only q1,q2,...]   # -> .bench_build/census.jsonl
    python3 perfbench/census.py --select   # census file -> workloads/*.txt, golden.json

The census runs each query once cold and once warm in one traced JVM at
local[nproc]. A query whose two results agree gets a full golden
(row count + hash); one whose rows agree but hash differs gets a row-count
golden; any other query is left out of the workloads.
"""
import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import run  # noqa: E402


def census(build_dir: Path, only: str) -> Path:
    classes = build.build(build_dir)
    fixture_dir = run.fixture(build_dir)
    run_dir = build_dir / "runs" / "census"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "warehouse", "derby", "local"):
        (run_dir / sub).mkdir(parents=True)
    out = build_dir / "census.jsonl"
    out.unlink(missing_ok=True)
    jvm = run.Jvm(classes, run_dir, time.monotonic() + 6 * 3600)
    args = {"timeout": 300, "fixture": fixture_dir}
    if only:
        args["only"] = only
    jvm("census", out, **args)
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def summarize(path: Path) -> dict:
    by = {}
    for e in run.read_record(path):
        if e["ev"] == "op":
            by.setdefault(e["op"], []).append(e)
    rows = {}
    for name, xs in by.items():
        ok = all(x["ok"] for x in xs) and len(xs) == 2
        warm = [x for x in xs if x["kind"] == "warm"]
        rows[name] = {
            "ok": ok,
            "error": next((x.get("error") for x in xs if not x["ok"]), None),
            "cold_s": xs[0]["wall_s"],
            "warm_s": min(x["wall_s"] for x in warm) if warm else None,
            "jobs": max(x["layer"].get("jobs", 0) for x in warm) if warm else None,
            "state_rows": max(x["layer"].get("state_rows", 0) for x in warm) if warm else 0,
            "same_rows": ok and len({x["rows"] for x in xs}) == 1,
            "same_hash": ok and len({x["hash"] for x in xs}) == 1,
            "rows": xs[-1].get("rows"), "hash": xs[-1].get("hash"),
        }
    return rows


MANY_JOBS = 10           # a multi_action op issues at least this many jobs
FIXPOINT_JOBS = 20       # ... and one op issues at least this many


def select(rows: dict) -> dict:
    """Pick the fixture workload from the census (see README.md): the
    cheapest op that issues many jobs, the cheapest that issues very many,
    and the cheapest stateful stream op whose warm call reprocesses its
    input (a catch-up op resumes a finished checkpoint and does no work
    when warm)."""
    ok = {n: r for n, r in rows.items() if r["ok"] and r["same_rows"]}

    def cheapest(pred):
        return min((r["warm_s"], n) for n, r in ok.items() if pred(n, r))[1]

    fixpoint = cheapest(lambda n, r: r["jobs"] >= FIXPOINT_JOBS and not n.startswith("stream_"))
    many = cheapest(lambda n, r: r["jobs"] >= MANY_JOBS and not n.startswith("stream_")
                    and n != fixpoint)
    stream = cheapest(lambda n, r: n.startswith("stream_") and not n.endswith("_catchup")
                      and r["state_rows"] > 0)
    return {"multi_action": [many, fixpoint, stream]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--select", action="store_true")
    ap.add_argument("--only", default="")
    args = ap.parse_args()
    build_dir = (run.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    path = build_dir / "census.jsonl"
    if not args.select:
        census(build_dir, args.only)
    rows = summarize(path)
    if not args.select:
        for name, r in sorted(rows.items(), key=lambda kv: kv[1]["warm_s"] or 1e9):
            print(json.dumps({"op": name, **r}))
        return 0
    golden = {}
    for workload, names in select(rows).items():
        (BENCH / "workloads" / f"{workload}.txt").write_text("\n".join(names) + "\n")
        for n in names:
            golden[n] = {"rows": rows[n]["rows"],
                         "hash": rows[n]["hash"] if rows[n]["same_hash"] else None}
    (BENCH / "golden.json").write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
