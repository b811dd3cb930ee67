#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of wikidatabots_spark.

One run: ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root. It generates the workload's
inputs from the seed, starts a Spark session on ``local[nproc]``, runs
the workload's warm-up iterations, then closed-loop iterations (one client:
the next starts when the previous result is verified) until ``S``
seconds of iterations have passed, at least one. Every result is
checked against the registry's DuckDB oracle outside the timed window.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (operations: iterations, HTTP lookups, micro-batches and
serving reads) and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` untraced and traced iterations
alternate and the metrics are the per-layer ones, the tracing overhead
included. Spans go to ``.perfbench/spans-<workload>-<seed>.jsonl``.

``--all`` runs every workload untraced and traced and prints each
metric with its unit and sample count. ``--self-check`` runs every
workload once on tiny inputs and checks the results.

Workloads, parameters and the metric map are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0

# Input sizes and the properties each workload's behaviour depends on.
PARAMS = {
    "reconcile": {
        "orders": 15000, "lineitem": 60000, "customer": 1500,
        "supplier": 100, "part": 2000,
        "verify_share": 0.05, "miss_share": 0.2, "latency_ms": 2.0,
        # iterations keep getting faster until about the sixth
        "rdf_limit": 250, "warmup": 4,
    },
    "curate": {
        # iterations keep getting faster until about the eighth
        "docs": 500, "near_dup_share": 0.2, "warmup": 7,
        # streaming ingest probe of traced iterations, over the same corpus
        "batches": 4, "delete_share": 0.1, "compact_every": 2,
    },
}
TINY = {
    "reconcile": {"orders": 1500, "lineitem": 6000, "customer": 150,
                  "supplier": 10, "part": 200},
    "curate": {"docs": 80},
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
OPERATORS = ("minhash", "lsh_pairs", "ngram_pairs", "components", "quality")
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.http.lookup_s": "s",
    "sources.http.requests_per_row": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.failed_tasks": "count",
    **{f"operators.{op}_s": "s" for op in OPERATORS},
    **{f"operators.{op}.tasks": "count" for op in OPERATORS},
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_s": "s",
    "sinks.rdf_s": "s",
    "sinks.rdf_jobs": "count",
    "sinks.compact_s": "s",
    "sinks.label_rows_per_node": "ratio",
    "sinks.read_p50_s": "s",
    "sinks.state_mb": "MB",
    "streaming.batch_p50_s": "s",
    "streaming.batch_tail_s": "s",
    "streaming.batch_jobs": "count",
    "streaming.batch_tasks": "count",
    "streaming.driver_gap_s": "s",
    "streaming.gate_s": "s",
    "streaming.graph_s": "s",
    "streaming.dsir_s": "s",
    "trace.overhead_s": "s",
}


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(work: str) -> None:
    """Host-safe settings through the session factory's environment
    knobs; every scratch path inside ``work``."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the factory's 32g default exceeds small hosts. The inputs are a few
    # MB. A fixed 1 GB heap (-Xms below): with a growable heap G1
    # commits a different amount in each run (measured 1.3-2.1 GB JVM
    # RSS at -Xmx3g on a 4-core, 16 GB VM), so peak RSS would measure
    # G1's sizing, not the engine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM, the launcher's too: no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + " -Xms1g"
    ).strip()


def generate(name: str, params: dict, seed: int, out_dir: str) -> None:
    import numpy as np

    import inputs

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(PARAMS).index(name)])
    if name == "reconcile":
        inputs.write_catalogs(
            out_dir, rng, params["orders"], params["lineitem"],
            params["customer"], params["supplier"], params["part"],
        )
    else:
        inputs.write_corpus(out_dir, rng, params["docs"], params["near_dup_share"])
        ids = np.arange(params["docs"])
        inputs.write_ingest_ops(
            out_dir, rng, ids[ids % 7 != 0], params["batches"],
            params["delete_share"],
        )


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine: steal is time the
    hypervisor ran something else on this guest's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def context(spark, seed: int, ticks0: tuple[int, int]) -> dict:
    import pyspark

    rev = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, check=False,
        ).stdout.strip() or rev
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    ticks = _cpu_ticks()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _meminfo_kb(),
        "loadavg": load,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "git": rev,
        "steal_pct": round(100 * (ticks[0] - ticks0[0]) / max(ticks[1] - ticks0[1], 1), 2),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
    }


def _kill(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def shutdown(spark, procs) -> None:
    """Stop the session and the JVM, then wait for every engine process."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        jvm = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if jvm is not None:
            # the JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    end = time.monotonic() + 15
    while procs.pids() and time.monotonic() < end:
        time.sleep(0.2)
    _kill(procs.pids(), signal.SIGKILL)
    while procs.pids():
        time.sleep(0.1)


def run(args) -> int:
    name = args.workload
    params = {**PARAMS[name], **(TINY[name] if args.tiny else {})}
    work = os.path.join(STATE, f"work-{os.getpid()}")
    configure(work)
    sys.path.insert(0, ROOT)

    import procstat
    from spans import Recorder

    ticks0 = _cpu_ticks()
    procs = procstat.ProcessTree()
    procs.start()
    spark = wl = None

    def watchdog() -> None:
        print(f"run exceeded {DEADLINE_S:.0f}s; stopping", file=sys.stderr)
        _kill(procs.pids(), signal.SIGKILL)
        if wl is not None:
            wl.close()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    # a terminated run still stops the JVM and the stub (``finally``)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()
    try:
        from wikidatabots_spark.session import get_spark
        from workloads import WORKLOADS

        t = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        data = os.path.join(work, "data")
        gen = []
        for _ in range(3):
            t = time.perf_counter()
            generate(name, params, args.seed, data)
            gen.append(time.perf_counter() - t)
        wl = WORKLOADS[name](spark, data, params, args.seed, work)
        wl.setup(procs)
        off = Recorder(enabled=False)
        rec = Recorder(spark.sparkContext, enabled=bool(args.trace))
        attempted = failed = 0

        def one(r, probes: bool):
            nonlocal attempted, failed
            try:
                if probes:
                    r.iteration += 1
                    a, f = wl.probes(r)
                    attempted += a
                    failed += f
                c0 = procs.snapshot()
                t0 = time.perf_counter()
                with r.span("iteration"):
                    out = wl.iteration(r)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                return None
            wall = time.perf_counter() - t0
            cpu = procstat.delta(procs.snapshot(), c0)
            r.resolve()
            a, f = wl.verify(out)
            attempted += a
            failed += f
            return wall, cpu, out

        t = time.perf_counter()
        for _ in range(0 if args.tiny else params["warmup"]):
            one(off, False)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen) + warm_s

        plain, traced = [], []
        errors = 0
        t_start = time.perf_counter()
        while True:
            use_trace = args.trace and len(traced) < len(plain)
            res = one(rec if use_trace else off, use_trace)
            if res is not None:
                if use_trace:
                    traced.append((res, _layers(rec, wl, res, session_s)))
                else:
                    plain.append(res)
            errors += res is None
            done = time.perf_counter() - t_start >= args.seconds
            if done and (errors >= 2 or plain and (traced or not args.trace)):
                break
        if not plain or (args.trace and not traced):
            print("no iteration succeeded", file=sys.stderr)
            return 1

        walls = [w for w, _c, _o in plain]
        cpus = [sum(c.values()) for _w, c, _o in plain]
        counts = {}
        if args.trace:
            metrics, counts = _aggregate(traced, plain)
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": procs.peak_rss_bytes / 2**20,
            }
            counts = {"wall_s": len(walls), "cpu_s": len(cpus)}
        units = PER_LAYER if args.trace else END_TO_END
        ctx = context(spark, args.seed, ticks0)
        summary = {
            "workload": name, "trace": args.trace, "context": ctx,
            "params": params, "attempted": attempted, "failed": failed,
            "metrics": {
                k: {"value": metrics[k], "unit": units[k], "n": counts.get(k, 1)}
                for k in units
            },
        }
        os.makedirs(STATE, exist_ok=True)
        with open(os.path.join(STATE, f"summary-{name}-trace{args.trace}.json"), "w") as f:
            json.dump(summary, f, indent=1)
        if args.trace:
            rec.dump(os.path.join(STATE, f"spans-{name}-{args.seed}.jsonl"))
        print("# context " + json.dumps(ctx))
        print(f"# {name}: failed_ratio {failed}/{attempted}")
        print(f"# {name}: setup session {session_s:.2f}s, inputs {statistics.median(gen):.2f}s,"
              f" warm-up {warm_s:.2f}s; iterations {[round(w, 2) for w in walls]};"
              f" peak MB by kind {({k: round(v / 2**20) for k, v in procs.peak_by_kind.items()})}")
        for k, m in summary["metrics"].items():
            print(f"# {name} {k} = {m['value']:.6g} {m['unit']} (n={m['n']})")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        sys.stdout.flush()
        return 0
    finally:
        timer.cancel()
        if wl is not None:
            wl.close()
        shutdown(spark, procs)
        procs.close()
        shutil.rmtree(work, ignore_errors=True)


def _layers(rec, wl, res, session_s: float) -> dict:
    """Per-layer figures of the traced iteration just run."""
    _wall, cpu, out = res
    it = rec.of("iteration")[0]
    m = {
        "session.start_s": session_s,
        "sources.scan_s": rec.total("sources.scan"),
        "sources.http.lookup_s": rec.total("sources.http.lookup"),
        "plans.build_s": rec.total("plans.build"),
        "plans.build_jobs": rec.jobs("plans.build"),
        "plans.jobs": len(it.jobs),
        "plans.stages": it.stages,
        "plans.tasks": it.tasks,
        "plans.failed_tasks": it.failed_tasks,
        "cpu.jvm_s": cpu["jvm"],
        "cpu.pyworker_s": cpu["pyworker"],
        "cpu.driver_s": cpu["driver"],
    }
    for op in OPERATORS:
        m[f"operators.{op}_s"] = rec.total(f"operators.{op}")
        m[f"operators.{op}.tasks"] = rec.total(f"operators.{op}", "tasks")
    m.update(wl.layer_metrics(rec, out))
    return m


def _aggregate(traced, plain):
    """Medians over traced iterations; the tracing overhead against the
    untraced iterations next to them."""
    metrics = {k: 0.0 for k in PER_LAYER}
    counts = {}
    for k in PER_LAYER:
        vals = [lay[k] for _res, lay in traced if k in lay]
        if vals:
            metrics[k] = statistics.median(vals)
            counts[k] = len(vals)
    metrics["trace.overhead_s"] = (
        statistics.median([r[0] for r, _l in traced]) - statistics.median([w for w, _c, _o in plain])
    )
    counts["trace.overhead_s"] = len(traced)
    return metrics, counts


def run_all(args) -> int:
    """Every workload untraced then traced; one table of all metrics."""
    rc = 0
    rows = []
    for name in PARAMS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)] + (["--tiny"] if args.tiny else [])
            p = subprocess.run(cmd, capture_output=True, text=True, check=False)
            path = os.path.join(STATE, f"summary-{name}-trace{trace}.json")
            if p.returncode != 0 or not os.path.exists(path):
                sys.stderr.write(p.stderr[-4000:])
                print(f"{name} trace={trace}: FAILED (exit {p.returncode})")
                rc = 1
                continue
            with open(path) as f:
                s = json.load(f)
            ok = s["failed"] == 0
            rc |= 0 if ok else 1
            print(f"{name} trace={trace}: correct={ok} "
                  f"failed_ratio={s['failed']}/{s['attempted']}")
            for k, m in s["metrics"].items():
                rows.append((name, k, m["value"], m["unit"], m["n"]))
    print(f"{'workload':14} {'metric':32} {'value':>12} {'unit':6} n")
    for name, k, v, u, n in rows:
        print(f"{name:14} {k:32} {v:12.4f} {u:6} {n}")
    return rc


def self_check(args) -> int:
    """Each workload once, traced, on tiny inputs: exits 0 iff every
    result matches its oracle."""
    rc = 0
    for name in PARAMS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", "0", "--trace", "1", "--tiny"]
        p = subprocess.run(cmd, capture_output=True, text=True, check=False)
        last = p.stdout.strip().splitlines()[-1:] or ["{}"]
        try:
            ok = p.returncode == 0 and json.loads(last[0]).get("correct") is True
        except json.JSONDecodeError:
            ok = False
        print(f"self-check {name}: {'ok' if ok else 'FAILED'}")
        if not ok:
            sys.stderr.write(p.stderr[-4000:])
            rc = 1
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, no warm-up")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "wikidatabots_spark", "__init__.py")):
        print(f"wikidatabots_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.self_check:
        return self_check(args)
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
