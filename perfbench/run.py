#!/usr/bin/env python3
"""graft's benchmark: one command per workload, end-to-end and per-layer
metrics.

    python3 perfbench/run.py --workload llm_dedup_ann --seed 1 --seconds 20 --trace 0

Builds graft with the harness (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), runs the workload in one fresh JVM whose
set-up is timed, checks every output for correctness and prints each
metric with its unit and sample count. The last line of
standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The full record of a
run, with its environment, lands in .bench_build/perfbench/results/.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

import build  # noqa: E402

DEFAULT_SEED = 1
CORES = 4
XMX = "3g"
JVM_TIMEOUT_S = 160
WORKLOADS = ["cdc_stream_upsert", "cdc_batch_olap", "llm_dedup_ann"]

END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"), ("fresh_p50_ms", "ms"),
    ("fresh_p90_ms", "ms"), ("catchup_events_per_s", "1/s"), ("retained_heap_mb", "MB"),
]
KERNELS = ["cosine_sim", "minhash_sig", "simhash64", "lsh_bucket", "hash60", "rp_project",
           "intersect_card", "robust_prune_idx"]
PER_LAYER = (
    [("driver.jobs", "count"), ("driver.stages", "count"), ("driver.tasks", "count"),
     ("driver.gap_ms", "ms"), ("driver.first_gap_ms", "ms"),
     ("operators.task_cpu_ms", "ms"), ("operators.task_run_ms", "ms"),
     ("operators.shuffle_read_bytes", "bytes"), ("operators.shuffle_write_bytes", "bytes"),
     ("operators.spill_bytes", "bytes"), ("operators.input_bytes", "bytes"),
     ("operators.leaked_rdds", "count")]
    + [(f"operators.family_s.{f}", "s") for f in ["cdc", "dedup", "ann", "text", "mm"]]
    + [(f"functions.{k}_rows_per_s", "1/s") for k in KERNELS]
    + [(f"sources.{s}_rows_per_s", "1/s") for s in ["debezium_json", "maxwell", "avro"]]
    + [("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
       ("streaming.state_commit_ms", "ms"), ("streaming.state_rows", "count"),
       ("streaming.state_mem_bytes", "bytes"), ("streaming.batch_rows", "count"),
       ("streaming.sink_upsert_ms", "ms"), ("streaming.sink_skipped", "count"),
       ("streaming.busy_share", "ratio"), ("streaming.recovery_ms", "ms"),
       ("bench.gen_late_p90_ms", "ms"), ("bench.trace_overhead_pct", "%")]
)

# Spark 4 on JDK 17 outside spark-submit needs these (graft's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def num(v) -> str:
    """A metric value for the report; a failed run may leave it null."""
    return f"{v:.6g}" if isinstance(v, (int, float)) else "n/a"


def jvm(cp, work: Path, args: list, log_path: Path) -> int:
    """Run one benchmark JVM (cwd = its work dir) and wait for it to end."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={work / 'derby.log'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + [str(a) for a in args]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the work dir
    with open(log_path, "a") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def cpu_times():
    """Aggregate CPU jiffies (user, nice, system, idle, iowait, irq, softirq,
    steal) from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor took between two cpu_times()."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(sum(d), 1), 2)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    import gen  # after the build check: needs duckdb/pyarrow
    import oracle

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = build.OUT / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    work.mkdir(parents=True)
    jvm_log = run_dir / "jvm.log"

    t = time.time()
    gen_info = gen.generate(a.workload, a.seed, a.seconds, data)
    gen_s = time.time() - t

    out = run_dir / "result.json"
    t, cpu0 = time.time(), cpu_times()
    code = jvm(cp, work, ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                          "--trace", a.trace, "--cores", CORES, "--data", data, "--work", work,
                          "--out", out, "--t0", repr(time.time() * 1000.0)], jvm_log)
    if code != 0 or not out.exists():
        log(f"benchmark JVM exited with {code}; see {jvm_log}")
        print(open(jvm_log).read()[-3000:], file=sys.stderr)
        return 3
    host_steal = steal_pct(cpu0, cpu_times())
    log(f"benchmark JVM {time.time() - t:.1f} s, host steal {host_steal} %")
    res = json.loads(out.read_text())
    metrics = res["metrics"]
    layer = res["layer"]
    info = res["info"]
    attempted = res["attempted"]
    failures = [(f["op"], f["why"]) for f in res["failures"]]
    metrics["setup_s"] = {"value": info["setup_s"], "unit": "s", "n": 1}

    if a.workload != "cdc_stream_upsert":
        pass_s = metrics["pass_s"]
        metrics["catchup_events_per_s"] = {
            "value": sum(gen_info.values()) / pass_s["value"] if pass_s["value"] else None,
            "unit": "1/s", "n": pass_s["n"]}
        t = time.time()
        checked, oracle_fail = oracle.replay(data, work / "results", info["oracle_calls"], info["oracle_sql"])
        log(f"oracle replay {time.time() - t:.1f} s")
        failures += oracle_fail
        attempted += checked
        info["oracle_checked"] = checked
        info.pop("oracle_sql")

    # an end-to-end metric without samples is missing, not perfect
    for m, _ in END_TO_END:
        if not isinstance(metrics.get(m, {}).get("value"), (int, float)):
            failures.append((m, "no samples"))

    failed = len(failures)
    env = {
        "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
        **res["info"].get("env", {}), "xmx": XMX, "git_commit": git_commit(),
        "source_stamp": build.STAMP.read_text()[:16], "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "python": platform.python_version(), "host_os": platform.platform(),
        "steal_pct": host_steal,
    }
    for m, _ in END_TO_END:
        v = metrics.get(m)
        if v is not None:
            print(f"{a.workload} {m} = {num(v['value'])} {v['unit']} (n={v['n']})")
    print(f"{a.workload} failed_ratio = {failed / max(attempted, 1):.6g} ({failed} of {attempted} operations)")
    print(f"{a.workload} gen_s = {gen_s:.3f} s (not gated)")
    for m, v in layer.items():
        print(f"{a.workload} {m} = {num(v['value'])} {v['unit']}")
    for op, why in failures:
        print(f"{a.workload} FAILED {op}: {why}")
    print(f"{a.workload} correct = {failed == 0}; env = {json.dumps(env)}")

    record = {"workload": a.workload, "env": env, "gen_s": gen_s, "gen": gen_info,
              "attempted": attempted,
              "failures": [{"op": o, "why": w} for o, w in failures],
              "metrics": metrics, "layer": layer, "info": info}
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{tag}-{stamp}.json").write_text(json.dumps(record, indent=1))
    if a.trace and (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", results / f"{tag}-{stamp}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    # end-to-end metrics without samples stay null; per-layer metrics that
    # do not apply to the workload read 0
    names = END_TO_END if a.trace == 0 else PER_LAYER
    src = metrics if a.trace == 0 else layer
    out = {}
    for m, unit in names:
        v = src.get(m, {}).get("value")
        if not isinstance(v, (int, float)):
            v = None if a.trace == 0 else 0.0
        out[m] = {"value": v, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
