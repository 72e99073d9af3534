"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source (once per checkout), makes the
inputs (the fixed fixture tables once, the llm_pipeline corpus from
--seed), runs the workload in a fresh JVM at local[nproc] inside a fresh
run directory, checks the results and prints the metrics. The last line
of stdout is the result object; the line before it holds every metric
the run measured (README.md lists them).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import gen  # noqa: E402

ROOT = BENCH.parent
WORKLOADS = ("multi_action", "llm_pipeline")
OP_TIMEOUT_S = 60          # an op running longer than this has failed
JVM_DEADLINE_S = 160       # the run's JVM is killed (and the run fails) after this
NEAR_RECALL_MIN = 0.95     # planted near-duplicate pairs found
ANN_RECALL_MIN = 0.60      # ivfQueryIndexed recall@10 vs brute force (0.67-0.93 measured)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = ("setup_s", "cold_pass_s", "pass_s", "live_heap_mb")
PER_LAYER = (
    "session.start_s", "tables.input_bytes", "tables.input_rows", "tables.rows_in_per_row_out",
    "operators.build_s", "operators.build_jobs", "plans.plan_s",
    "exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_s",
    "exec.idle_gap_s", "exec.core_util", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "streaming.batches", "streaming.state_rows",
    "dedup.candidate_pairs", "dedup.verify_yield", "ann.recall_at_10",
    "artifacts.bytes_on_disk", "artifacts.files", "output.bytes_written", "trace.overhead_s")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


class Jvm:
    def __init__(self, classes: Path, run_dir: Path, deadline: float):
        self.classes, self.run_dir, self.deadline = classes, run_dir, deadline

    def __call__(self, mode: str, record: Path, **args) -> None:
        d = self.run_dir
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
               f"-Djava.io.tmpdir={d / 'tmp'}", f"-Dderby.system.home={d / 'derby'}",
               f"-Dspark.sql.warehouse.dir={d / 'warehouse'}", f"-Dspark.local.dir={d / 'local'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", build.classpath(self.classes), "perfbench.Main",
               "--mode", mode, "--cores", str(cores()), "--record", str(record)]
        for k, v in args.items():
            cmd += [f"--{k}", str(v)]
        with open(d / "jvm.log", "ab") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=d)
            try:
                code = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"perfbench: {mode} JVM exceeded the run deadline")
        if code != 0:
            sys.stderr.write((d / "jvm.log").read_text(errors="replace")[-4000:])
            raise SystemExit(f"perfbench: {mode} JVM exited with {code}")


def read_record(path: Path) -> list:
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def fixture(build_dir: Path) -> Path:
    """The fixture tables, generated once per generator version."""
    key = hashlib.sha256((BENCH / "gen.py").read_bytes()).hexdigest()[:12]
    out = build_dir / f"fixture-{key}"
    if not (out / ".complete").exists():
        tmp = build_dir / f"fixture-{key}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.fixture(str(tmp))
        (tmp / ".complete").touch()
        for old in build_dir.glob("fixture-*"):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(out)
    return out


def tree_size(*dirs: Path):
    n = size = 0
    for d in dirs:
        for p in d.rglob("*"):
            if p.is_file():
                n += 1
                size += p.stat().st_size
    return size, n


def check_fixture_ops(ops: list, golden: dict) -> list:
    """Mark an op execution failed when its result differs from golden."""
    for o in ops:
        if not o["ok"]:
            continue
        g = golden[o["op"]]
        if o["rows"] != g["rows"] or (g["hash"] is not None and o["hash"] != g["hash"]):
            o["ok"] = False
            o["error"] = f"result mismatch: rows {o['rows']} hash {o['hash']} vs golden {g}"
    return ops


def check_pipeline(ops: list, facts: dict, truth: dict) -> dict:
    """Invariants of the llm_pipeline results; also marks an op failed
    when its result changes from one pass to the next."""
    first = {}
    for o in ops:
        if o["ok"]:
            key = (o["rows"], o["hash"])
            if first.setdefault(o["op"], key) != key:
                o["ok"] = False
                o["error"] = f"result changed across passes: {key} vs {first[o['op']]}"
    last = {o["op"]: o for o in ops if o["ok"]}
    indexed = last.get("dedup_incremental_indexed", {})
    candidates = last.get("dedup_lsh_candidates", {}).get("rows", 0)
    verified = last.get("dedup_jaccard_verify", {}).get("rows", 0)
    groups = {g[0] for g in facts["exact_groups"]}
    exact_found = all(h in groups for h in truth["exact_md5"])
    comp = {d: c for d, c in facts["components"]}
    near = truth["near_pairs"]
    near_recall = sum(1 for a, b in near if a in comp and comp.get(a) == comp.get(b)) / len(near)
    checks = {
        "exact_duplicates_found": exact_found,
        "near_dup_recall": near_recall,
        "near_dup_recall_ok": near_recall >= NEAR_RECALL_MIN,
        "ann_recall_at_10": facts["recall_at_10"],
        "ann_recall_ok": facts["recall_at_10"] >= ANN_RECALL_MIN,
        "incremental_equals_recompute":
            [indexed.get("rows"), indexed.get("hash")] == facts["incremental_recomputed"],
        "candidate_pairs": candidates,
        "verify_yield": verified / max(1, candidates),
    }
    checks["ok"] = all(v for k, v in checks.items() if k.endswith(("_ok", "_found", "_recompute")))
    return checks


def tail(samples: list):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample. Below twenty samples that percentile is under
    the median, no tail at all, so the largest sample stands in.
    Returns (value, percentile, sample count)."""
    n = len(samples)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(samples, reverse=True)
    k = 10 if n >= 20 else 0
    return s[k], 100.0 * (1 - k / n), n


def per_pass(ops: list, wall: float, cores_n: int) -> dict:
    """Per-layer facts of one traced pass of `wall` seconds."""
    def tot(f):
        return sum(f(o) for o in ops)
    layer = lambda k: tot(lambda o: o["layer"].get(k, 0))  # noqa: E731
    span = lambda k: tot(lambda o: o["spans"].get(k, 0.0))  # noqa: E731
    rows_out = tot(lambda o: o.get("rows", 0))
    return {
        "tables.input_bytes": layer("input_bytes"),
        "tables.input_rows": layer("input_rows"),
        "tables.rows_in_per_row_out": layer("input_rows") / max(1, rows_out),
        "operators.build_s": span("operators.build"),
        "operators.build_jobs": layer("build_jobs"),
        "plans.plan_s": span("plans.plan"),
        "exec.exec_s": span("exec.action"),
        "exec.jobs": layer("jobs"),
        "exec.stages": layer("stages"),
        "exec.tasks": layer("tasks"),
        "exec.task_busy_s": layer("task_busy_ms") / 1000.0,
        "exec.idle_gap_s": layer("idle_ms") / 1000.0,
        "exec.core_util": layer("task_busy_ms") / 1000.0 / (wall * cores_n),
        "exec.shuffle_read_bytes": layer("shuffle_read"),
        "exec.shuffle_write_bytes": layer("shuffle_write"),
        "exec.spill_bytes": layer("spill"),
        "output.bytes_written": layer("output_bytes"),
        "streaming.batches": layer("batches"),
        "streaming.state_rows": layer("state_rows"),
        "streaming.batch_p50_s": median([m for o in ops for m in o["layer"].get("batch_ms", [])]) / 1000.0,
        "streaming.commit_ms": layer("commit_ms"),
    }


def summarize(args, rec: list, checks: dict, artifacts, cores_n: int, docs):
    ops = [e for e in rec if e["ev"] == "op"]
    passes = [e for e in rec if e["ev"] == "pass"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_ids = {p["pass"] for p in warm}
    # a pass with a failed op is not timed (unless every pass has one, and
    # then the run is not correct anyway)
    failed_passes = {o["pass"] for o in ops if not o["ok"]}
    timed = [p for p in warm if p["pass"] not in failed_passes] or warm
    samples = [o["wall_s"] for o in ops if o["pass"] in warm_ids and o["ok"]]
    value, pct, n = tail(samples)
    memory = next(e for e in rec if e["ev"] == "memory")
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": rec[0]["setup_s"],
        "cold_pass_s": cold[0]["wall_s"],
        "pass_s": min(p["wall_s"] for p in timed),
        "peak_rss_mb": memory["peak_rss_mb"],
        "live_heap_mb": memory["live_heap_mb"],
    }
    info = dict(e2e)
    info.update({
        "op_p50_s": median(samples), "op_tail_s": value,
        "error_rate": failed / attempted,
        "op_tail_percentile": pct, "op_tail_samples": n,
        "warm_passes": len(warm), "ops_per_pass": cold[0]["ops"],
    })
    if docs:
        info["docs_per_s"] = docs / e2e["pass_s"]
    layers = {}
    if args.trace:
        traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
        # passes run u1 t2 u3 t4: the traced passes sit on both sides of u3,
        # so a JIT speed-up across passes cancels; u1 still warms up
        settled = [p["wall_s"] for p in warm if p["pass"] > 1]
        facts = [per_pass([o for o in ops if o["pass"] == p["pass"]], p["wall_s"], cores_n)
                 for p in traced]
        layers = {k: median([f[k] for f in facts]) for k in facts[0]}
        layers["session.start_s"] = e2e["setup_s"]
        layers["artifacts.bytes_on_disk"], layers["artifacts.files"] = artifacts
        layers["trace.overhead_s"] = (statistics.mean(p["wall_s"] for p in traced)
                                      - statistics.mean(settled))
        layers["dedup.candidate_pairs"] = checks.get("candidate_pairs", 0)
        layers["dedup.verify_yield"] = checks.get("verify_yield", 0.0)
        layers["ann.recall_at_10"] = checks.get("ann_recall_at_10", 0.0)
        traced_ids = {p["pass"] for p in traced}
        for name in sorted({o["op"] for o in ops}) if args.workload == "llm_pipeline" else ():
            mine = [o for o in ops if o["op"] == name]
            layers[f"api.{name}.cold_s"] = mine[0]["wall_s"]
            layers[f"api.{name}.warm_s"] = median([o["wall_s"] for o in mine if o["pass"] in warm_ids])
            layers[f"api.{name}.warm_jobs"] = median(
                [o["layer"]["jobs"] for o in mine if o["pass"] in traced_ids])
    return e2e, info, layers, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    classes = build.build(build_dir)
    fixture_dir = fixture(build_dir)
    deadline = time.monotonic() + JVM_DEADLINE_S

    run_dir = build_dir / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "warehouse", "derby", "local"):
        (run_dir / sub).mkdir(parents=True)
    try:
        truth = None
        jvm_args = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "timeout": OP_TIMEOUT_S, "fixture": fixture_dir}
        if args.workload == "llm_pipeline":
            truth = gen.corpus(str(run_dir / "corpus"), args.seed)
            jvm_args["corpus"] = run_dir / "corpus"
        else:
            jvm_args["ops"] = BENCH / "workloads" / f"{args.workload}.txt"
        jvm = Jvm(classes, run_dir, deadline)
        load_before = loadavg()
        record = run_dir / "record.jsonl"
        jvm("run", record, **jvm_args)
        load_after = loadavg()
        rec = read_record(record)
        ops = [e for e in rec if e["ev"] == "op"]
        checks = {}
        if truth is None:
            golden = json.loads((BENCH / "golden.json").read_text())
            check_fixture_ops(ops, golden)
        else:
            facts = next(e for e in rec if e["ev"] == "check")["facts"]
            checks = check_pipeline(ops, facts, truth)
        artifacts = tree_size(run_dir / "tmp", run_dir / "warehouse")
        e2e, info, layers, attempted, failed = summarize(
            args, rec, checks, artifacts, cores(), truth and truth["docs"])
        correct = failed == 0 and checks.get("ok", True)
        # keep the record (spans included) for inspection after the run
        keep = build_dir / "records" / f"{args.workload}-s{args.seed}-t{args.trace}.jsonl"
        keep.parent.mkdir(exist_ok=True)
        shutil.copyfile(record, keep)
    except BaseException:
        # keep the evidence of a failed run next to the records
        failed_dir = build_dir / "records" / f"failed-{run_dir.name}"
        failed_dir.mkdir(parents=True, exist_ok=True)
        for f in run_dir.glob("*.jsonl"):
            shutil.copyfile(f, failed_dir / f.name)
        if (run_dir / "jvm.log").exists():
            shutil.copyfile(run_dir / "jvm.log", failed_dir / "jvm.log")
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['op']} pass {o['pass']}: {o.get('error')}")
    canaries = [e for e in rec if e["ev"] == "canary"]
    print(json.dumps({"box": {"loadavg_before": load_before, "loadavg_after": load_after,
                              "canary": canaries, "cores": cores()},
                      "checks": checks,
                      "record": os.path.relpath(keep, ROOT)}))
    units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "peak_rss_mb": "MB", "live_heap_mb": "MB", "error_rate": "ratio", "docs_per_s": "1/s"}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "end_to_end": info, "units": units, "layers": layers}))
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in END_TO_END}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_on_disk") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_util", "_yield", "recall_at_10", "rows_in_per_row_out")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
