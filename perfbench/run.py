"""Benchmark runner for srag_spark.

    python3 perfbench/run.py --workload {extract,engine,curate} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke      # every workload, tiny inputs

Run from the root of a checkout.  One process, one SparkSession on
``local[<nproc>]``, one closed-loop client with no extra threads.  Inputs
are generated from ``--seed``; the program only sees the generated
files.  Everything is written under ``.perfbench/`` in the checkout and
the per-run work dir is removed at exit.

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs one warm-up step, then the loop untraced for half the
time, repeats the same steps with spans and Spark counters on, and reports the
per-layer metrics plus the tracing overhead (traced minus untraced).
Outputs are checked outside the timed region; a wrong or failed
operation counts in ``failed`` and makes the exit code 1.  The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
DRIVER_MEM = "1g"

# Workload-specific names of the end-to-end metrics, printed in the
# human-readable report next to the generic names BENCHMARK.json uses.
ALIASES = {
    "extract": {"throughput_per_s": "extract_docs_per_s", "latency_p50_ms": "wave_run_p50_ms"},
    "engine": {"throughput_per_s": "ingest_docs_per_s", "latency_p50_ms": "serve_round_p50_ms"},
    "curate": {"throughput_per_s": "curate_docs_per_s", "latency_p50_ms": "build_p50_ms"},
}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------
def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the high-water RSS of every process under this one: the
    driver JVM, the Python worker daemon and its workers."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def configure_env(work: Path) -> None:
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }
    os.environ.update(env)


def start_session(work: Path):
    from srag_spark.session import get_spark

    tmp = work / "tmp"
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------
class Ctx:
    def __init__(self, spark, work_dir, seed, seconds, smoke, cache_dir):
        self.spark = spark
        self.work_dir = str(work_dir)
        self.seed = seed
        self.seconds = seconds
        self.smoke = smoke
        self.cache_dir = str(cache_dir)
        self.tracer = None
        self.counters = None


def run_loop(wl, seconds: float, k0: int = 0, n_steps: int | None = None, on_op=None):
    """Closed loop: the next step starts when the previous one returns.
    Runs exactly ``n_steps`` steps, or as many as fit in ``seconds``: at
    least one, and no further step once the mean step time would carry
    the loop past ``seconds``.  Returns (ops, steps, elapsed)."""
    ops, k = [], k0
    t0 = time.perf_counter()
    while True:
        done, elapsed = k - k0, time.perf_counter() - t0
        if n_steps is not None and done >= n_steps:
            break
        if n_steps is None and done and elapsed + elapsed / done > seconds:
            break
        try:
            new = wl.step(k)
        except Exception as exc:  # noqa: BLE001 — an op that raised counts as failed
            new = [_failed_op(exc)]
        for op in new:
            if on_op is not None:
                on_op(op)
        ops.extend(new)
        k += 1
    return ops, k - k0, time.perf_counter() - t0


def _failed_op(exc):
    from workloads import Op

    return Op("error", 0.0, error=f"{type(exc).__name__}: {str(exc)[:300]}")


def run_workload(name: str, spark, ctx: Ctx, trace: bool, rss: list, session_s: float) -> dict:
    import workloads

    wl = workloads.WORKLOADS[name](ctx)
    wl.prepare()

    def sample_rss(_op=None):
        rss.append(tree_peak_rss_mb())

    t = time.perf_counter()
    wl.setup()
    setup_s = session_s + (time.perf_counter() - t)
    sample_rss()

    if not trace:
        ops = _guarded(wl.pre_loop)
        loop_ops, steps, _ = run_loop(wl, ctx.seconds, on_op=sample_rss)
        all_ops = ops + loop_ops + _guarded(wl.finish)
        traced_ops = []
    else:
        from tracing import SparkCounters, Tracer, add_counters

        # warm-up (one pre-loop phase and one step), so that the untraced
        # and the traced pass both run warm and compare
        ops = _guarded(wl.pre_loop)
        ops += run_loop(wl, 0, n_steps=1)[0]
        t = time.perf_counter()
        ops += _guarded(wl.pre_loop)
        loop_ops, steps, _ = run_loop(wl, ctx.seconds / 2, k0=1, on_op=sample_rss)
        untraced_s = time.perf_counter() - t
        tracer = Tracer()
        ctx.tracer, ctx.counters = tracer, SparkCounters(spark)
        wl.install_wrappers(tracer)

        def traced(label, fn):
            tracer.trace_id = label
            new, c = ctx.counters.run(label, fn)
            for op in new:
                op.data["trace_id"] = label
            if new:
                new[0].data["counters"] = c  # one record per step
            return new

        wl.step = lambda k, _step=wl.step: traced(f"{name}-{k}", lambda: _step(k))
        try:
            t = time.perf_counter()
            traced_ops = _guarded(lambda: traced(f"{name}-pre", wl.pre_loop))
            # the same steps again: same inputs, same requests
            traced_ops += run_loop(wl, 0, k0=1, n_steps=steps, on_op=sample_rss)[0]
            traced_s = time.perf_counter() - t
            traced_ops += _guarded(wl.finish)
        finally:
            tracer.close()
            del wl.step
        all_ops = ops + loop_ops + traced_ops
    sample_rss()

    try:
        wl.check(all_ops)
    except Exception as exc:  # noqa: BLE001 — a gate that cannot run fails the run
        all_ops.append(_failed_op(exc))
    failed = [op for op in all_ops if op.error]

    result = {
        "ops": all_ops,
        "failed": failed,
        "setup_s": setup_s,
        "steps": steps,
        "workload": wl,
    }
    if trace:
        layer = {"session.start_s": session_s}
        timed_ops = [op for op in traced_ops if op.kind != "error"]
        if timed_ops and not failed:
            layer.update(wl.layers(timed_ops))
        tracer.dump(str(Path(ctx.cache_dir).parent / f"trace-{name}-{ctx.seed}.jsonl"))
        n = max(sum(1 for op in traced_ops if "counters" in op.data), 1)
        sums: dict = {}
        for op in traced_ops:
            sums = add_counters(sums, op.data.get("counters", {}))
        for k in ("jobs", "tasks", "shuffle_bytes_written", "spill_bytes", "python_worker_s"):
            layer[f"spark.{k}"] = sums.get(k, 0) / n
        layer["trace.untraced_s"] = untraced_s
        layer["trace.traced_s"] = traced_s
        layer["trace.overhead_s"] = traced_s - untraced_s
        result["layers"] = layer
    return result


def _guarded(fn) -> list:
    try:
        out = fn()
    except Exception as exc:  # noqa: BLE001 — an op that raised counts as failed
        return [_failed_op(exc)]
    return [] if out is None else list(out) if isinstance(out, list) else [out]


def e2e_metrics(res: dict, rss: list) -> dict:
    wl = res["workload"]
    work = [op for op in res["ops"] if op.kind in wl.work_kinds]
    lat = [op.latency_s for op in res["ops"] if op.kind in wl.latency_kinds]
    busy = sum(op.latency_s for op in work)
    return {
        "setup_s": res["setup_s"],
        "throughput_per_s": sum(op.units for op in work) / busy if busy else 0.0,
        "latency_p50_ms": statistics.median(lat) * 1e3 if lat else 0.0,
        "peak_rss_mb": max(rss) if rss else 0.0,
    }


def latency_report(name: str, res: dict) -> list[str]:
    """Human-readable median latency per operation kind, with its sample
    count."""
    lines = []
    for kind in sorted({op.kind for op in res["ops"]} - {"error"}):
        xs = [op.latency_s * 1e3 for op in res["ops"] if op.kind == kind]
        lines.append(f"{name:8s} {kind}_p50_ms {statistics.median(xs):.1f} ms  n={len(xs)}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=tuple(ALIASES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload, tiny inputs, traced (~3 min)")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")

    if not (ROOT / "srag_spark" / "__init__.py").exists() or not (ROOT / "__spark_entry__.py").exists():
        fail(f"no srag_spark checkout at {ROOT}; run from the repository root")
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import srag_spark.api  # noqa: F401
        import __spark_entry__  # noqa: F401
    except Exception as exc:  # noqa: BLE001
        fail(f"cannot import the program: {exc}")
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)

    base = ROOT / ".perfbench"
    cache = base / "cache"
    names = list(ALIASES) if args.smoke else [args.workload]
    work = base / f"work-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    configure_env(work)
    seconds = 2 if args.smoke else args.seconds
    trace = args.smoke or bool(args.trace)
    rss: list = []
    results = {}
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        for name in names:
            ctx = Ctx(spark, work, args.seed, seconds, args.smoke, cache)
            results[name] = run_workload(name, spark, ctx, trace, rss, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = failed = 0
    metrics = {}
    for name, res in results.items():
        n_ops = sum(op.counted for op in res["ops"])
        attempted += n_ops
        failed += len(res["failed"])
        for op in res["failed"][:5]:
            print(f"{name:8s} FAILED {op.kind}: {op.error}")
        e2e = e2e_metrics(res, rss)
        for m in spec["end_to_end"]:
            v = e2e[m["name"]]
            alias = ALIASES[name].get(m["name"], m["name"])
            print(f"{name:8s} {m['name']} {v:.4f} {m['unit']}  ({alias})")
        print(f"{name:8s} failed_op_ratio {len(res['failed']) / max(n_ops, 1):.4f}  "
              f"({len(res['failed'])}/{n_ops} ops, {res['steps']} steps)")
        for line in latency_report(name, res):
            print(line)
        if trace:
            for m in spec["per_layer"]:
                print(f"{name:8s} {m['name']} {res['layers'].get(m['name'], 0):.6g} {m['unit']}")
        src = res["layers"] if trace else e2e
        metrics = {
            m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer" if trace else "end_to_end"]
        }
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
