#!/usr/bin/env python3
"""basin-spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from ``--seed`` into ``.perfbench_work/``
at the checkout root, runs the program in a fresh worker process
(``worker.py``) on ``local[<cores>]``, samples the worker's process tree
for peak RSS, checks outputs, and prints one report line followed by the
result line (the last line of stdout).  Exits non-zero on any failure,
on a wrong output, or when a program-changing ``SPARK_GRAFT_*`` override
is set.  See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "basin_climbing_data_pipeline_spark")
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("nightly_build", "intraday_refresh")
N_WINDOWS = 60  # intraday pool; a run lands as many windows as fit its seconds
DEADLINE_S = 170.0  # the whole command must finish within 180 s

# the end-to-end metrics of BENCHMARK.json
UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s"}
# workload-specific names for the same numbers
ALIASES = {
    "nightly_build": {"op_p50_s": ("build_s", "s")},
    "intraday_refresh": {"op_p50_s": ("refresh_p50_s", "s"), "op_tail_s": ("refresh_tail_s", "s")},
}


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def program_id() -> dict:
    """git HEAD when the checkout is a repository, and always a hash of the
    program's source files, so results name the code they measured."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(PACKAGE)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    return {"git_head": head, "program_sha256": h.hexdigest()[:16]}


def make_inputs(workload: str, seed: int) -> None:
    import gen

    if workload == "nightly_build":
        # fixed content, so every staged table has a recorded fingerprint
        tables = gen.shuffled(gen.make_tables(gen.NIGHTLY_DATA_SEED, gen.SCALE), seed)
    else:
        tables = gen.make_tables(seed, gen.SCALE)
    gen.write_tables(tables, os.path.join(WORK, "input"))
    if workload == "intraday_refresh":
        import pyarrow.parquet as pq

        out = os.path.join(WORK, "windows")
        os.makedirs(out)
        for i, (name, lo, hi, rows) in enumerate(gen.refresh_windows(seed, tables, N_WINDOWS)):
            pq.write_table(rows, os.path.join(out, f"{i:04d}_{name}_{lo}_{hi}.parquet"))


def session_pids(sid: int) -> list[str]:
    """Live (non-zombie) processes of session ``sid``: the worker, its JVM
    and Spark's Python workers."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # stat field 6: session id
            out.append(pid)
    return out


def session_rss_kb(sid: int) -> int:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
        except OSError:
            continue
    return total


def stop_session(sid: int) -> None:
    """Terminate what the worker left behind and wait until it has ended."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def _terminated(signum, _frame):
    # turn SIGTERM into an exception so the worker's session is stopped
    raise SystemExit(128 + signum)


def main() -> int:
    t_begin = time.time()
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        return fail("--seconds must be positive")

    # the runner sets the program's configuration itself (SPARK_GRAFT_CPUS);
    # any override from the caller's environment would change the program
    overrides = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if overrides:
        return fail(f"refusing to run with program overrides set: {', '.join(overrides)}")
    if not os.path.isdir(PACKAGE) or not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        return fail(f"program not found under {ROOT} (need basin_climbing_data_pipeline_spark/ and tools/check.py)")

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    sys.path.insert(0, HERE)
    make_inputs(args.workload, args.seed)

    env = dict(os.environ)
    n_cores = cores()
    tmp = os.path.join(WORK, "tmp")
    env.update(
        # Spark's Python workers import the program and the benchmark by
        # module path, whatever directory the command was started from
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        SPARK_GRAFT_CPUS=str(n_cores),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        # every JVM (spark-submit's launcher too) keeps its temp files under
        # the work dir; -UsePerfData stops it writing /tmp/hsperfdata_<user>
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    env.pop("OMP_NUM_THREADS", None)
    log_path = os.path.join(WORK, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--spawned", repr(time.time())]
    peak_kb = 0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while proc.poll() is None:
                peak_kb = max(peak_kb, session_rss_kb(proc.pid))
                if time.time() - t_begin > DEADLINE_S:
                    stop_session(proc.pid)
                    proc.wait()
                    return fail(f"worker exceeded {DEADLINE_S:.0f} s; log: {log_path}", 1)
                # each sample scans /proc; at 0.2 s it cost a tenth of a core
                time.sleep(1.0)
        finally:
            stop_session(proc.pid)
            proc.wait()
    result_path = os.path.join(WORK, "result.json")
    if proc.returncode != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        return fail(f"worker exited with {proc.returncode}; log tail:\n{tail}", 1)
    with open(result_path) as f:
        res = json.load(f)

    metrics = res["metrics"]
    missing = [k for k in UNITS if k not in metrics]
    if missing:
        res["problems"].append(f"no measurement for {missing}")
        res["failed"] += 1
    report = {
        "workload": args.workload,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in UNITS.items() if k in metrics},
        "aliases": {alias: {"value": metrics[k], "unit": unit}
                        for k, (alias, unit) in ALIASES[args.workload].items() if k in metrics},
        "error_rate": res["report"].get("error_rate"),
        "ops_per_s": {"value": metrics.get("ops_per_s"), "unit": "1/s"},
        # reported, not bounded: the JVM grows its heap lazily, so the peak
        # moved by up to 2x between identical runs
        "peak_rss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
        "details": res["report"],
        "config": dict(res["config"], **program_id()),
        "problems": res["problems"][:10],
    }
    if args.trace:
        report["layers"] = res["layers"]
        report["spans"] = res["spans"]
    print(json.dumps(report, default=str))
    correct = res["failed"] == 0 and not missing
    if args.trace:
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        out = {k: {"value": metrics[k], "unit": UNITS[k]} for k in UNITS if k in metrics}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": out}))
    return 0 if correct else 1


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("over_median") or name.endswith("amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
