"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its input (cached
base tables plus the seed's changes) under ``.perfbench_work/``, starts
``worker.py`` in its own process session with every scratch, temp,
warehouse, local and event-log directory under a per-run root, waits for
it, stops anything it left behind and removes the run root.

stdout carries two JSON lines: the run record, then the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics.
``--record FILE`` also writes the record (with the trace, if any) to FILE.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_BUDGET_S = 170.0
FIRST_RUN_BUDGET_S = 840.0
SMALL_FILE_BYTES = 1 << 20

sys.path.insert(0, HERE)

import gen  # noqa: E402
import reduce  # noqa: E402
from metrics import LEVELS, PER_LAYER  # noqa: E402
from worker import session_procs  # noqa: E402
from workloads import WORKLOADS, passes  # noqa: E402


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def base_dir() -> str:
    """The seed-independent base tables, generated once per checkout."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(WORK, f"base-{version}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        gen.write_base(tmp)
        os.replace(tmp, path)
    return path


def make_input(base: str, input_dir: str, workload: str, seed: int) -> dict:
    os.makedirs(input_dir)
    replaced = gen.resample_corpus(base, seed) if WORKLOADS[workload]["resample_corpus"] else {}
    for t in gen.TABLES:
        if t not in replaced:
            os.link(os.path.join(base, f"{t}.parquet"), os.path.join(input_dir, f"{t}.parquet"))
    gen.write_tables(replaced, input_dir)
    h = hashlib.sha256()
    sizes = {}
    for t in gen.TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        sizes[t] = os.path.getsize(p)
        with open(p, "rb") as f:
            h.update(t.encode() + f.read())
    return {"bytes": sum(sizes.values()), "sizes": sizes, "sha256": h.hexdigest()}


def dup_share(input_dir: str) -> dict:
    """Share of documents in multi-member identity groups: same language
    and same set of whitespace tokens."""
    import duckdb

    con = duckdb.connect()
    n, in_groups = con.execute(
        f"""SELECT sum(n), sum(n) FILTER (WHERE n > 1) FROM (
              SELECT count(*) AS n
              FROM read_parquet('{input_dir}/documents.parquet')
              GROUP BY lang, list_sort(list_distinct(string_split(text, ' '))))"""
    ).fetchone()
    con.close()
    return {"documents": int(n), "in_multi_member_groups": int(in_groups or 0),
            "share": (in_groups or 0) / n}


def tree_bytes(path: str) -> tuple[int, int, int]:
    """(files, bytes, files under SMALL_FILE_BYTES) below path."""
    files = total = small = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            try:
                size = os.path.getsize(os.path.join(r, f))
            except OSError:
                continue
            files += 1
            total += size
            small += size < SMALL_FILE_BYTES
    return files, total, small


def cpu_sample() -> tuple[list[int], float]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return cpu, load1


def stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process session and wait for
    every member to end."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.monotonic() + 30
    while session_procs(proc.pid):
        for pid in session_procs(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)


def worker_env(run_root: str, trace: bool) -> dict:
    d = {n: os.path.join(run_root, n) for n in ("tmp", "local", "warehouse", "eventlog", "derby")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={d['tmp']} -Dderby.system.home={d['derby']} -XX:-UsePerfData"
    args = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={d['warehouse']}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{d['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args) + " pyspark-shell",
        "SPARK_LOCAL_DIRS": d["local"],
        # spark-submit's launcher JVM, which --driver-java-options does not reach
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
        "TMPDIR": d["tmp"],
        "ADLSPARK_SHUFFLE_PARTITIONS": "8",
        "PYTHONPATH": os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def peak_rss_mb(res: dict) -> float:
    """VmHWM of the JVM plus VmHWM of the driver Python process."""
    return (res["peak_rss_kb"]["jvm"] + res["peak_rss_kb"]["driver_python"]) / 1024


def end_to_end(res: dict, input_bytes: int, stored: tuple) -> dict:
    ok = [o["s"] for o in res["ops"] if o["ok"]]
    lat = [o["s"] for o in res["ops"]]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        # linear interpolation between order statistics, as numpy's default
        "op_p90_s": {"value": statistics.quantiles(lat, n=10, method="inclusive")[8], "unit": "s"},
        "ops_per_s": {"value": len(ok) / sum(lat), "unit": "1/s"},
        "stored_bytes_per_input_byte": {
            "value": (input_bytes + stored[1]) / input_bytes, "unit": "ratio",
        },
    }


def per_layer(res: dict, run_root: str, stored: tuple, nproc: int) -> tuple[dict, dict]:
    """Per-layer metrics (per panel pass where additive) and the span table."""
    tr = res["trace"]
    with open(_event_log(run_root)) as f:
        jobs = reduce.parse_event_log(f)
    ops = res["ops"]
    m = reduce.reduce_trace(tr["spans"], ops, jobs, tr["progress"], tr["stream_starts"], nproc)
    m["session.conf_changes"] = sum(res["conf_changes"].values())
    m["proc.cpu_s"] = res["proc"]["cpu_s"]
    passes = res["passes"]
    out = {k: v / passes for k, v in m.items() if k not in LEVELS}
    calls = len(tr["plan_hashes"])
    out["llm.dedup.quotient_reuse_ratio"] = len(set(tr["plan_hashes"])) / calls if calls else 1.0
    out["spark.slot_busy_ratio"] = m["spark.slot_busy_ratio"]
    out["spark.peak_exec_mem_bytes"] = m["spark.peak_exec_mem_bytes"]
    out["proc.cpu_util"] = res["proc"]["cpu_s"] / (res["timed_wall_s"] * nproc)
    out["proc.py_workers"] = res["proc"]["py_workers"]
    out["proc.peak_rss_mb"] = peak_rss_mb(res)
    out["io.files_stored"] = stored[0]
    out["io.bytes_stored"] = stored[1]
    out["io.small_file_share"] = stored[2] / stored[0] if stored[0] else 0.0
    lat = [o["s"] for o in ops]
    out["trace.ops_per_s"] = sum(o["ok"] for o in ops) / sum(lat)
    table = reduce.span_table(tr["spans"], reduce.attribute_jobs(tr["spans"], ops, jobs))
    return out, table


def _event_log(run_root: str) -> str:
    d = os.path.join(run_root, "eventlog")
    logs = [os.path.join(d, f) for f in os.listdir(d) if not f.endswith(".inprogress")]
    logs = logs or [os.path.join(d, f) for f in os.listdir(d)]
    return max(logs, key=os.path.getmtime)


def run_worker(cfg: dict, run_root: str, trace: bool, budget: float):
    """Start the worker in its own session, wait for it within ``budget``
    seconds, stop what it left and return its result (or exit)."""
    env = worker_env(run_root, trace)
    log_path = os.path.join(run_root, "worker.log")
    cfg["t_spawn"] = time.time()
    cfg_path = os.path.join(run_root, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"worker {'timed out' if rc is None else f'exited with {rc}'}; log tail:\n{tail}")
    with open(cfg["result_path"]) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the run record to this file")
    a = ap.parse_args()
    t_begin = time.monotonic()
    # a terminated run still stops its worker session and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "adlspark", "registry.py")):
        fail(f"no adlspark package under {ROOT}; run from the root of a checkout")

    os.makedirs(WORK, exist_ok=True)
    first_run = not any(n.startswith("base-") for n in os.listdir(WORK))
    base = base_dir()
    run_root = os.path.join(WORK, f"run-{a.workload}-s{a.seed}-{os.getpid()}")
    try:
        out = measure(a, base, run_root, first_run, t_begin)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    for line in out:
        print(line)
    sys.stdout.flush()


def measure(a, base: str, run_root: str, first_run: bool, t_begin: float) -> list[str]:
    input_dir = os.path.join(run_root, "input")
    fingerprint = make_input(base, input_dir, a.workload, a.seed)
    w = WORKLOADS[a.workload]
    corpus = dup_share(input_dir) if w["resample_corpus"] else None

    keys = list(w["panel"])
    budget = (FIRST_RUN_BUDGET_S if first_run else RUN_BUDGET_S) - (time.monotonic() - t_begin)
    random.Random(a.seed).shuffle(keys)
    nproc = len(os.sched_getaffinity(0))
    cfg = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": bool(a.trace),
        "keys": keys,
        "passes": passes(a.workload, a.seconds),
        "nproc": nproc,
        "input_dir": input_dir,
        "scratch_dir": os.path.join(run_root, "scratch"),
        "tmp_dir": os.path.join(run_root, "tmp"),
        "result_path": os.path.join(run_root, "result.json"),
    }
    cpu0, load0 = cpu_sample()
    res = run_worker(cfg, run_root, bool(a.trace), budget)
    cpu1, load1 = cpu_sample()

    stored = tuple(
        sum(x) for x in zip(*(tree_bytes(os.path.join(run_root, d)) for d in ("scratch", "warehouse")))
    )
    d_cpu = [b - a_ for a_, b in zip(cpu0, cpu1)]
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "panel": keys,
        "nproc": nproc,
        "default_parallelism": res["spark"]["default_parallelism"],
        "shuffle_partitions": res["spark"]["shuffle_partitions"],
        "master": res["spark"]["master"],
        "versions": res["versions"],
        "load_avg_1m": {"start": load0, "end": load1},
        # /proc/stat's eighth cpu field is steal time
        "cpu_steal_share": d_cpu[7] / sum(d_cpu) if sum(d_cpu) else 0.0,
        "input": fingerprint,
        "corpus": corpus,
        "passes": res["passes"],
        "ops": len(ops),
        "failed_ops": failed,
        "fail_ratio": failed / len(ops),
        "op_p90_samples": len(ops),
        "setup_s": res["setup_s"],
        "check_s": res["check_s"],
        "timed_wall_s": res["timed_wall_s"],
        "checks": res["checks"],
        "conf_changes": res["conf_changes"],
        "peak_rss_mb": peak_rss_mb(res),
        "op_s_by_key": {k: statistics.median(o["s"] for o in ops if o["key"] == k) for k in keys},
    }
    if a.trace:
        layers, table = per_layer(res, run_root, stored, nproc)
        record["per_layer"] = layers
        record["span_table"] = table
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = end_to_end(res, fingerprint["bytes"], stored)
        record["end_to_end"] = metrics
    if a.record:
        with open(a.record, "w") as f:
            json.dump(dict(record, ops_detail=ops, trace=res.get("trace")), f, indent=1, sort_keys=True)
    result = {
        "correct": all(c["ok"] for c in res["checks"].values()),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return [json.dumps({"record": record}, sort_keys=True), json.dumps(result)]


if __name__ == "__main__":
    main()
