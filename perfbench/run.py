"""Seeded benchmark of kafka_hadoop_consumer_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process runs one workload against the
package's public API on ``get_spark()`` with the program's defaults, as a
closed loop with one client. It prints a report, then as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the timed
loop twice after one set-up with the Spark UI enabled: traced (spans around
calls into the package, a streaming progress listener and the UI's REST
metrics), then untraced, with the listener removed and the package's module
attributes restored. It reports the per-layer metrics of the traced loop
plus the tracing overhead, traced minus untraced, for each end-to-end
metric; the UI stays on for both loops. Spans are written to
``perfbench/.work/traces/``. The metric names and units come from
``BENCHMARK.json``.

Everything the run writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
# (name, unit) of the metrics in the final JSON line, per --trace value
E2E = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()


def _isolate(run_dir: str) -> None:
    """Keep every file the run creates (JVM, Spark and Python temp files)
    inside the run directory, and use the program's own defaults rather
    than any SPARK_GRAFT_* overrides from the caller's environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # PerfDisableSharedMem: no hsperfdata file under the system /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]


# --------------------------------------------------------------------------
# process tree

def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _hwm_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark, jvm_pid: int | None) -> None:
    """Stop Spark, then the JVM, then wait for every process it started."""
    from pyspark import SparkContext

    pids = _tree(jvm_pid) if jvm_pid else []
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()            # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, 9)


# --------------------------------------------------------------------------

def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def _timed_loop(passes, seconds: float, tracer, ops: list, failed: set) -> tuple[list, float]:
    """Run whole passes until ``seconds`` have passed; append to ``ops``
    and ``failed``; return the op latencies and the loop's wall time."""
    lat = []
    deadline = time.perf_counter() + seconds
    start = time.perf_counter()
    for ops_in_pass in passes:
        for op in ops_in_pass:
            i = len(ops)
            tracer.op = i
            a = time.perf_counter()
            try:
                with tracer.span("op"):
                    op.run()
            except Exception:
                traceback.print_exc()
                failed.add(i)
            lat.append(time.perf_counter() - a)
            ops.append(op)
        if time.perf_counter() >= deadline:
            break
    tracer.op = None
    return lat, time.perf_counter() - start


def _e2e(lat: list[float], items: float) -> dict[str, float]:
    busy = sum(lat)
    return {"latency_p50_s": _quantile(lat, 0.5),
            "latency_p90_s": _quantile(lat, 0.9) if len(lat) >= 100 else None,
            "items_per_s": items / busy if busy else 0.0}


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    """One run. With ``trace``, the traced loop runs first, on the same
    JIT state a plain run's loop sees, and an untraced loop of the same
    length follows, without the listener and the patched attributes;
    ``untraced`` holds that loop's e2e metrics."""
    import tracing

    tracer = tracing.Tracer(trace)
    cache = os.path.join(WORK, "cache")
    w = WORKLOADS[workload](seed, cache, run_dir, tracer)

    t_gen = time.time()
    w.prepare()
    gen_s = time.time() - t_gen

    # set-up: JVM, session, one warm-up op of each kind
    sys.path.insert(0, ROOT)
    with tracer.span("session.get_spark"):
        from kafka_hadoop_consumer_spark.session import get_spark
        from pyspark import SparkContext

        conf = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if trace else None
        spark = get_spark(extra_conf=conf)
    jvm = getattr(SparkContext._gateway, "proc", None)
    jvm_pid = jvm.pid if jvm is not None else None
    try:
        with tracer.span("session.warmup"):
            w.warmup(spark)
        t_first = time.time()
        setup_s = (t_gen - T_PROCESS) + (t_first - t_gen - gen_s)

        ops, failed, layer, untraced = [], set(), {}, None
        passes = w.passes(spark)
        if trace:
            t = time.perf_counter()
            tracer.patch_package()
            w.begin_trace(tracing.progress_listener(spark))
            rest = tracing.SparkRest(spark)
            rest.settle()
            mark = rest.mark()
            untraced = {"setup_s": setup_s}
            setup_s += time.perf_counter() - t
        lat, loop_wall = _timed_loop(passes, seconds, tracer, ops, failed)
        timed = list(ops)
        rss_mb = _hwm_mb(_tree(jvm_pid)) if jvm_pid else 0.0

        if trace:
            rest.settle()
            tracing.settle(w.listener)
            layer.update(rest.metrics_since(mark, loop_wall))
            layer["process.peak_rss_mb"] = rss_mb
            layer.update(w.layer_metrics(spark, timed))
            tracer.enabled = False
            tracer.unpatch_package()
            spark.streams.removeListener(w.listener)
            base, _ = _timed_loop(passes, seconds, tracer, ops, failed)
            untraced |= _e2e(base, sum(op.items for op in ops[len(timed):]))

        t_check = time.perf_counter()
        failed |= w.check(spark, ops)
        check_s = time.perf_counter() - t_check
        if trace:
            layer.update(w.checked_metrics())
    finally:
        t_stop = time.perf_counter()
        _stop(spark, jvm_pid)
        stop_s = time.perf_counter() - t_stop

    result = {
        "workload": workload, "seed": seed, "n_ops": len(timed),
        "attempted": len(ops), "failed": len(failed), "correct": not failed,
        "error_rate": len(failed) / len(ops) if ops else 1.0,
        "setup_s": setup_s,
        **_e2e(lat, sum(op.items for op in timed)),
        "item_name": w.item_name,
        "peak_rss_mb": rss_mb,
        "input_gen_s": gen_s,
        "loop_wall_s": loop_wall,
        "check_s": check_s,
        "stop_s": stop_s,
        "notes": w.notes,
        "layer": layer,
        "untraced": untraced,
    }
    if trace:
        layer["session.get_spark_s"] = tracer.durations("session.get_spark", timed_only=False)[0]
        layer["session.warmup_s"] = tracer.durations("session.warmup", timed_only=False)[0]
        for name, s in tracer.self_times().items():
            layer[f"{name}.self_s"] = s
        for name, _ in E2E:
            layer[f"trace_overhead.{name}"] = result[name] - untraced[name]
        tracer.dump(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"),
                    {"workload": workload, "seed": seed, "latencies": lat,
                     "progress": w.listener.progress})
    return result


# --------------------------------------------------------------------------
# report

def report(r: dict) -> None:
    """Human-readable lines: every end-to-end metric with its unit and n_ops."""
    print(f"workload={r['workload']} seed={r['seed']} n_ops={r['n_ops']} "
          f"input_gen_s={r['input_gen_s']:.2f} loop_wall_s={r['loop_wall_s']:.2f} "
          f"check_s={r['check_s']:.2f} stop_s={r['stop_s']:.2f}")
    per_item = {"rows": ("rows_per_s", "rows/s"),
                "queries": ("queries_per_s", "1/s")}[r["item_name"]]
    lines = [("setup_s", r["setup_s"], "s"), ("latency_p50_s", r["latency_p50_s"], "s"),
             ("latency_p90_s", r["latency_p90_s"], "s"),
             (per_item[0], r["items_per_s"], per_item[1]),
             ("peak_rss_mb", r["peak_rss_mb"], "MB"), ("error_rate", r["error_rate"], "ratio")]
    for name, value, unit in lines:
        shown = "n/a (fewer than 100 ops)" if value is None else f"{value:.6g}"
        print(f"  {name:<16} {shown:>14} {unit:<7} n_ops={r['n_ops']}")
    for name, note in r["notes"].items():
        print(f"  check {name}: {note}")


def main(argv: list[str]) -> int:
    import argparse
    import shutil

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _isolate(run_dir)
        r = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report(r)
    if args.trace:
        layer = {name: 0.0 for name, _ in PER_LAYER} | r["layer"]
        metrics = {name: {"value": float(layer[name]), "unit": unit} for name, unit in PER_LAYER}
        print("  per-layer: " + json.dumps({k: round(v, 6) for k, v in layer.items()}))
    else:
        metrics = {name: {"value": float(r[name]), "unit": unit} for name, unit in E2E}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
