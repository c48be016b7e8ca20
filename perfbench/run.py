"""Closed-loop benchmark of the slot stream and the dex backfill.

    python3 perfbench/run.py --workload slot_stream --seed 1 \\
        --seconds 20 --trace 0

Runs one workload in one process on an input generated from ``--seed``,
measures for ``--seconds`` after a fixed number of warm-up operations,
checks every operation's output exactly, and prints one JSON object as
the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (it also runs the layer probes of ``workloads.py`` and
writes ``spans.jsonl`` and ``layers.tsv`` under
``.perfbench/trace/<workload>-seed<seed>/``). A wrong output prints
``"correct": false`` and exits 1; any other failure exits non-zero
without a result. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = min(4, os.cpu_count() or 1)


def _env(tmp: str) -> dict:
    """The measurement environment, pinned through the settings the
    package's session factory reads (no new knobs): at most 4 local
    cores and never more than the host has, a fixed 2 GB driver heap,
    and the checkout on the Python workers' path. Scratch files of the
    JVM, Spark and Python go to ``tmp`` inside the checkout (with no
    hsperfdata file, which the JVM would put in /tmp)."""
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", jvm_opts, "pyspark-shell"]),
    }

WORKLOADS = ("slot_stream", "dex_backfill")

# op_tail_ms percentile. A 15 s run times about 12 triggers or 4-5 passes
# on a 4-vCPU host, too few for ten samples beyond any tail
# percentile, so both use p75 (see README.md).
TAIL_PERCENTILE = {"slot_stream": 75, "dex_backfill": 75}


def _metric_spec(trace: int) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input and warm-up sizes (tiny: smoke tests)")
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt one expectation; the run must fail")
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _end_to_end(workload: str, res) -> dict:
    from probes import median, percentile
    return {
        "setup_s": res.setup_s,
        "op_p50_ms": median(res.op_ms),
        "op_tail_ms": percentile(res.op_ms, TAIL_PERCENTILE[workload]),
        "rate_per_s": res.work_units / res.timed_s,
        "rss_mb": res.rss.median("total", res.t_start, res.t_end),
    }


def _per_layer(ctx, workload: str, res, session_s: float) -> dict:
    """Every per-layer metric: the workload's own loop, then the layer
    probes for the paths it does not run (the local[1] pass last: it
    restarts the session)."""
    import workloads as wl
    from probes import median
    layer = {"session.start_s": session_s}
    # The probe stream needs fewer warm-up triggers: the workload's own
    # loop has already warmed the JVM and the Python workers.
    stream = res if workload == "slot_stream" else wl.slot_stream(
        ctx, warmup=ctx.size["slot_warmup"] // 3 or 1,
        seconds=ctx.size["census_seconds"])
    layer.update(stream.layer)
    layer.update(wl.pipeline_layers(ctx))
    layer.update(wl.dedup_layers(ctx))
    for key, name in (("jvm", "mem.jvm_rss_mb"),
                      ("pyworker", "mem.pyworker_rss_mb"),
                      ("driver_py", "mem.driver_py_rss_mb"),
                      ("pyworkers", "mem.pyworkers")):
        layer[name] = res.rss.median(key, res.t_start, res.t_end)
    traced = median(res.traced_ms or res.op_ms)
    layer["trace.op_p50_ms"] = traced
    layer["trace.overhead_ratio"] = traced / median(
        res.untraced_ms or res.op_ms)
    if workload == "dex_backfill":
        pass_ms = median(res.op_ms)
    else:
        corpus, _idx = wl.backfill_corpus(ctx)
        runs = []
        for k in range(2):
            with ctx.spans.span("dex_backfill.pass", op=k) as s:
                wl.backfill_pass(ctx.spark, corpus)
            runs.append(s.seconds * 1e3)
        pass_ms = runs[-1]
    layer.update(wl.local1_pass(ctx, pass_ms, CPUS))
    return layer


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "solana_event_stream_spark"))
            and os.path.isdir(os.path.join(ROOT, "fixtures"))):
        _log(f"no package or fixtures under {ROOT}: nothing to measure")
        return 2
    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(_env(os.path.join(work, "tmp")))
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)

    import workloads as wl
    from probes import Spans

    size = wl.SIZES[args.size]
    spans = Spans(enabled=bool(args.trace))
    spark = None
    try:
        from solana_event_stream_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spans.add("session.start", t0, t0 + session_s)
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       "10000")
        ctx = wl.Ctx(spark=spark, seed=args.seed, size=size, work=work,
                     spans=spans, t_session_start=t0, tamper=args.tamper)
        loop = wl.slot_stream if args.workload == "slot_stream" \
            else wl.dex_backfill
        warmup = size["slot_warmup" if args.workload == "slot_stream"
                      else "backfill_warmup"]
        _log(f"{args.workload} seed={args.seed}: {warmup} warm-up ops, "
             f"then {args.seconds:g} s")
        res = loop(ctx, warmup, args.seconds)
        if args.trace:
            metrics = _per_layer(ctx, args.workload, res, session_s)
            trace_dir = os.path.join(
                out_root, "trace", f"{args.workload}-seed{args.seed}")
            spans.write(trace_dir, metrics)
            _log(f"spans and layer table in {trace_dir}")
        else:
            metrics = _end_to_end(args.workload, res)
            _log("rss MB by part: " + ", ".join(
                f"{k}={res.rss.median(k, res.t_start, res.t_end):.0f}"
                for k in ("driver_py", "jvm", "pyworker", "pyworkers")))
        spark = ctx.spark
        units = _metric_spec(args.trace)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))}"
                               " differ from BENCHMARK.json")
        result = {"correct": True, "attempted": res.attempted, "failed": 0,
                  "metrics": {k: {"value": float(v), "unit": units[k]}
                              for k, v in metrics.items()}}
        code = 0
    except wl.CheckFailed as e:
        _log(f"WRONG OUTPUT: {e}")
        result = {"correct": False, "attempted": 1, "failed": 1,
                  "metrics": {}}
        code = 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
