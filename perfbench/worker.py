"""One benchmark run inside its own process (started by ``run.py``).

Order of work: Spark session and warm-up (``setup_s``), an untimed
correctness pass over the panel, the timed closed loop, a row-count
re-check of rows-only keys, and the run's resource readings.  Everything
goes to the result file named in the config; stdout is a progress log.

Usage: python3 perfbench/worker.py <config.json>
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import traceback
from contextlib import nullcontext

OP_TIMEOUT_S = 60.0


def proc_stat(pid: int):
    """(session id, cpu ticks incl. reaped children, exe name) of a pid."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[3]), ticks, comm


def session_procs(sid: int) -> dict:
    """pid -> (cpu ticks, comm) for every live process in a session."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            s, ticks, comm = proc_stat(int(entry))
        except (OSError, ValueError, IndexError):
            continue
        if s == sid:
            out[int(entry)] = (ticks, comm)
    return out


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def conf_snapshot(spark) -> dict:
    return dict(spark.conf.getAll)


def run_op(sc, op_id: str, key: str, action, con=None):
    """Run ``action`` under job group ``op_id``; a watchdog cancels the
    group, and interrupts the DuckDB connection ``con`` if given, after
    OP_TIMEOUT_S.  Returns (seconds, error or None)."""

    def cancel():
        sc.cancelJobGroup(op_id)
        if con is not None:
            con.interrupt()

    sc.setJobGroup(op_id, key, interruptOnCancel=True)
    timer = threading.Timer(OP_TIMEOUT_S, cancel)
    timer.daemon = True
    timer.start()
    err = None
    t0 = time.monotonic()
    try:
        action()
    except Exception as e:  # an operation's failure is data, not a crash
        err = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300] if str(e).strip() else ''}"
    finally:
        dt = time.monotonic() - t0
        timer.cancel()
    if err is None and dt >= OP_TIMEOUT_S:
        err = "timeout"
    return dt, err


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    t_spawn = cfg["t_spawn"]
    input_dir = cfg["input_dir"]
    keys = cfg["keys"]

    from adlspark import registry
    from adlspark.io import ingest
    from adlspark.session import build_spark
    from gen import TABLES
    from tracing import replace_everywhere

    spark = build_spark("perfbench", master=f"local[{cfg['nproc']}]")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = registry.all_queries()
    oracles = registry.all_oracles()

    # the program's scratch root is fixed under /tmp; give this run its own
    scratch = cfg["scratch_dir"]

    def work_dir(sf_dir: str, name: str) -> str:
        d = os.path.join(scratch, sf_dir.strip("/").replace("/", "_"), name)
        os.makedirs(d, exist_ok=True)
        return d

    replace_everywhere(ingest.work_dir, work_dir)

    # warm-up, as bench.py does it
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F  # noqa: F401

    warm = spark.read.parquet(os.path.join(input_dir, "region.parquet"))
    warm.groupBy("r_name").count().collect()
    warm.mapInPandas(lambda it: it, warm.schema).count()
    par = sc.defaultParallelism
    spark.range(0, par, 1, par).mapInPandas(lambda it: it, "id long").count()
    setup_s = time.time() - t_spawn

    tracer = None
    progress: list = []
    stream_starts: list = []
    if cfg["trace"]:
        from tracing import Tracer, make_stream_listener

        tracer = Tracer(sc)
        tracer.install()
        spark.streams.addListener(make_stream_listener(progress, stream_starts))

    def timed_action(key):
        def action():
            with (tracer.span("registry.build") if tracer else nullcontext()):
                df = queries[key](spark, input_dir)
            with (tracer.span("spark.materialize") if tracer else nullcontext()):
                df.write.format("noop").mode("overwrite").save()
        return action

    # --- untimed correctness pass --------------------------------------
    import duckdb
    from adlspark.testing import compare

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{cfg['tmp_dir']}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
        )
    checks: dict[str, dict] = {}
    t_check = time.monotonic()
    for i, key in enumerate(keys):
        rows = []

        def check(key=key, rows=rows):
            df = queries[key](spark, input_dir)
            if key in oracles:
                compare(df, con, oracles[key], key=key)
            else:
                rows.append(len(df.collect()))

        dt, err = run_op(sc, f"check-{i}", key, check, con)
        checks[key] = {
            "oracle": key in oracles,
            "ok": err is None,
            "rows": rows[0] if rows else None,
            "error": err,
            "s": round(dt, 4),
        }
        print(f"check {key}: {'ok' if err is None else err} ({dt:.2f} s)", flush=True)
    check_s = time.monotonic() - t_check

    # --- timed closed loop ---------------------------------------------
    rng = random.Random(cfg["seed"])
    sid = os.getsid(0)
    cpu0 = session_procs(sid)
    ops: list[dict] = []
    conf_changes: dict[str, int] = {}
    py_workers = 0
    t0 = time.monotonic()
    for _ in range(cfg["passes"]):
        order = list(keys)
        rng.shuffle(order)
        for key in order:
            op_id = f"op-{len(ops)}"
            before = conf_snapshot(spark)
            if tracer:
                tracer.op = op_id
            start = time.time()
            with (tracer.span("registry.op") if tracer else nullcontext()):
                dt, err = run_op(sc, op_id, key, timed_action(key))
            end = time.time()
            if tracer:
                tracer.op = None
            after = conf_snapshot(spark)
            for k in set(before) | set(after):
                if before.get(k) != after.get(k):
                    conf_changes[k] = conf_changes.get(k, 0) + 1
            ops.append({
                "op": op_id,
                "key": key,
                "module": queries[key].__module__.removeprefix("adlspark."),
                "start": start,
                "end": end,
                "s": dt,
                "ok": err is None and checks[key]["ok"],
                "error": err,
            })
        py_workers = max(
            py_workers,
            sum(1 for p, (_t, comm) in session_procs(sid).items()
                if p != os.getpid() and comm.startswith("python")),
        )
    timed_wall = time.monotonic() - t0
    cpu1 = session_procs(sid)

    # --- rows-only keys: the row count must match the correctness pass --
    for i, key in enumerate(keys):
        c = checks[key]
        if c["oracle"] or not c["ok"]:
            continue
        rows = []
        dt, err = run_op(sc, f"recheck-{i}", key,
                         lambda key=key: rows.append(len(queries[key](spark, input_dir).collect())))
        c["rows_after"] = rows[0] if rows else None
        if err is not None or c["rows_after"] != c["rows"]:
            c["ok"] = False
            c["error"] = err or f"row count {c['rows']} then {c['rows_after']}"
            for o in ops:
                if o["key"] == key:
                    o["ok"] = False

    jvm_pid = sc._gateway.proc.pid
    hwm_jvm = vm_hwm_kb(jvm_pid)
    hwm_py = vm_hwm_kb(os.getpid())
    # CPU of processes alive at both ends, plus those that started meanwhile
    cpu_ticks = sum(t for p, (t, _c) in cpu1.items()) - sum(
        t for p, (t, _c) in cpu0.items() if p in cpu1
    )

    if progress or stream_starts:
        time.sleep(0.5)  # listener events arrive asynchronously

    import pyarrow
    import pyspark

    result = {
        "setup_s": setup_s,
        "check_s": check_s,
        "timed_wall_s": timed_wall,
        "passes": cfg["passes"],
        "ops": ops,
        "checks": checks,
        "conf_changes": conf_changes,
        "peak_rss_kb": {"jvm": hwm_jvm, "driver_python": hwm_py},
        "proc": {
            "cpu_s": cpu_ticks / os.sysconf("SC_CLK_TCK"),
            "py_workers": py_workers,
        },
        "spark": {
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "master": sc.master,
        },
        "versions": {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        },
    }
    if tracer:
        result["trace"] = {
            "spans": tracer.spans,
            "plan_hashes": tracer.plan_hashes,
            "progress": progress,
            "stream_starts": stream_starts,
        }
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    try:
        main(sys.argv[1])
    except Exception:
        traceback.print_exc()
        sys.exit(1)
