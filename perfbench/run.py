"""Benchmark entry point.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the root of a checkout. One run generates its inputs from the
seed, sets the program up (timed), measures one workload for
``--seconds``, checks every output, and prints one JSON object as the
last line of standard output: the end-to-end metrics with ``--trace
0``, the per-layer metrics of a traced run with ``--trace 1``.
``--workload all`` runs every workload in turn, one process each, and
prints each metric by name and unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("explore", "analysts", "curate", "report")


def _declared():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _setup_env(work: Path) -> None:
    """Keep every file Spark, the JVMs and Python write inside the
    run's work directory (shuffle spill, temp files, the warehouse;
    -XX:-UsePerfData stops each JVM writing its /tmp/hsperfdata file)."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _spark_conf(work: Path) -> dict:
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (and
    with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import harness
    import workloads
    from harness import metric as m

    nproc = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{workload}-{seed}-{os.getpid()}"
    _setup_env(work)
    prepare, tables, warm, measure, check = workloads.WORKLOADS[workload]
    tracer = harness.Tracer(False)
    ctx = workloads.Ctx(tracer, seed, seconds, traced, str(work), nproc)
    # memory is sampled over setup and measurement only: what the
    # program holds, not the generator's or the output checks'
    rss = harness.RssSampler()
    try:
        t = time.perf_counter()
        if prepare:
            prepare(ctx)
        ctx.info["generate_s"] = time.perf_counter() - t

        from hillview_spark import session, tables as tables_mod

        # setup: get_spark, load_all and the warm pass (spans recorded
        # in the traced run only)
        rss.start()
        tracer.enabled = traced
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(
                app_name=f"perfbench-{workload}", master=f"local[{nproc}]",
                shuffle_partitions=nproc, extra_conf=_spark_conf(work))
        try:
            with tracer.span("tables.load_all"):
                ctx.T = tables_mod.load_all(spark, workloads.DATA_DIR[workload])
            tracer.enabled = False
            spark.sparkContext.setLogLevel("ERROR")
            ctx.spark = spark
            ctx.groups = harness.JobGroups(spark.sparkContext)
            if tables:
                tables(ctx)
            warm(ctx)
            setup_s = time.perf_counter() - t_setup
            ctx.released.clear()
            ctx.ops_run = 0
            steal0 = harness.cpu_steal()
            records = measure(ctx)
            steal1 = harness.cpu_steal()
            rss.stop()
            check(ctx, records)
            counts = ctx.groups.counts() if traced else {}
        finally:
            _stop(spark)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    peak_rss = rss.peak

    lat = [r.latency_s * 1e3 for r in records if r.ok]
    failed = sum(1 for r in records if not r.ok)
    p95 = harness.quantile(lat, 0.95) if lat else 0.0
    info = dict(ctx.info)
    info.update({
        "workload": workload, "seed": seed, "seconds": seconds, "nproc": nproc,
        "samples": len(records),
        "p95_samples_beyond": sum(1 for x in lat if x > p95),
        "failed_frac": failed / len(records) if records else 1.0,
        # not in the result: across runs it spreads by more than the
        # largest bound BENCHMARK.json may set (see README)
        "peak_rss_mb": peak_rss / 2**20,
        # CPU time the host took from this machine while measuring
        "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "kind_p50_ms": {k: round(statistics.median([r.latency_s * 1e3 for r in records
                                                  if r.kind == k and r.ok] or [0]), 1)
                        for k in sorted({r.kind for r in records})},
        "latencies_ms": [round(x, 3) for x in lat],
        "errors": sorted({f"{r.kind}: {(r.error or '').strip().splitlines()[-1]}"
                          for r in records if not r.ok})[:5],
    })
    rows_per_s = (statistics.median(ctx.pass_rows_per_s) if ctx.pass_rows_per_s
                  else sum(r.rows_in for r in records) / ctx.wall_s)
    end_to_end = {
        "setup_s": m(setup_s, "s"),
        "op_p50_ms": m(harness.quantile(lat, 0.5) if lat else 0.0, "ms"),
        "op_p95_ms": m(p95, "ms"),
        "ops_per_s": m(len(lat) / ctx.wall_s, "1/s"),
        "rows_per_s": m(rows_per_s, "1/s"),
    }
    result = {
        "correct": failed == 0 and bool(records),
        "attempted": len(records),
        "failed": failed,
        "metrics": end_to_end,
    }
    layers = {}
    if traced:
        layers = _layer_metrics(workload, seed, tracer, counts, ctx)
    return {"info": info, "result": result, "layers": layers}


def _layer_metrics(workload, seed, tracer, counts, ctx) -> dict:
    """The traced run's per-layer numbers: the generic ones every
    workload reports (declared in BENCHMARK.json) and the workload's
    own. Writes the spans out as JSON lines."""
    import harness
    import workloads
    from harness import metric as m

    ops = list(counts.values())
    n = len(ops)
    per_op: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        if s.op is None:
            continue
        d = per_op.setdefault(s.op, {"total": 0.0, "exec": 0.0, "release": 0.0})
        ms = (s.end - s.start) / 1e6
        if s.name == "op":
            d["total"] = ms
        elif s.name.endswith(".exec"):
            d["exec"] += ms
        elif s.name == "cache.release_all":
            d["release"] += ms
    build = [d["total"] - d["exec"] - d["release"] for d in per_op.values()]
    dur = {s.name: (s.end - s.start) / 1e9 for s in tracer.spans if s.op is None}
    rel = tracer.durations("cache.release_all")
    jobs = sum(c["jobs"] for c in ops) / n
    out = {
        "session.get_spark_s": m(dur["session.get_spark"], "s"),
        "tables.load_all_s": m(dur["tables.load_all"], "s"),
        "program.build_ms": m(statistics.median(build), "ms"),
        "spark.exec_ms": m(statistics.median([d["exec"] for d in per_op.values()]), "ms"),
        "spark.jobs_per_op": m(jobs, "count"),
        "spark.stages_per_op": m(sum(c["stages"] for c in ops) / n, "count"),
        "spark.tasks_per_op": m(sum(c["tasks"] for c in ops) / n, "count"),
        "spark.failed_tasks": m(sum(c["failed_tasks"] for c in ops), "count"),
        "cache.release_ms": m(statistics.median(rel), "ms"),
        "cache.persists_per_op": m(sum(ctx.released) / ctx.ops_run, "count"),
        "trace.overhead_frac": m(ctx.layers.pop("trace.overhead_frac"), "frac"),
        "trace.spans_per_op": m(len(tracer.spans) / n, "count"),
    }
    layer, unit = workloads.OP_LAYER[workload]
    out[f"{layer}.jobs_per_{unit}"] = m(jobs, "count")
    if layer == "operators":
        for k in ("stages_per_op", "tasks_per_op", "failed_tasks"):
            out[f"operators.{k}"] = out[f"spark.{k}"]
    for k, v in sorted(ctx.layers.items()):
        out[k] = m(v, "ms" if k.endswith("_ms") else "s" if k.endswith("_s")
                   else "frac" if k.endswith(("_frac", "precision", "_byte"))
                   else "count")
    # self time per layer, per traced operation; "op" is the
    # benchmark's own share of an operation
    self_ms: dict[str, float] = {}
    for name, vals in tracer.self_times(in_ops=True).items():
        top = "bench" if name == "op" else name.split(".")[0]
        self_ms[top] = self_ms.get(top, 0.0) + sum(vals)
    for top, v in sorted(self_ms.items()):
        out[f"self_ms_per_op.{top}"] = m(v / n, "ms")
    trace_dir = HERE / "results"
    trace_dir.mkdir(exist_ok=True)
    tracer.write(str(trace_dir / f"spans-{workload}-{seed}.jsonl"))
    return out


def _metric_names(kind: str) -> list[str]:
    return [m["name"] for m in _declared()[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append this run's record as one JSON line")
    a = ap.parse_args(argv)

    if not (ROOT / "hillview_spark" / "__init__.py").is_file():
        print(f"no hillview_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a)

    sys.path.insert(0, str(ROOT))
    out = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    res = out["result"]
    if a.trace:
        # the traced run reports the layer metrics; the per-workload
        # ones not declared in BENCHMARK.json go on their own line
        names = _metric_names("per_layer")
        declared = {k: out["layers"][k] for k in names}
        extra = {k: v for k, v in out["layers"].items() if k not in declared}
        print(json.dumps({"layers": extra}))
        res = dict(res, metrics=declared)
    print(json.dumps({"info": out["info"]}))
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "trace": a.trace, **out}) + "\n")
    print(json.dumps(res))
    return 0


def run_all(a) -> int:
    """Every workload in its own process; prints each metric by name
    and unit, and says which workloads BENCHMARK.json leaves out."""
    declared = {w["name"] for w in _declared()["workloads"]}
    status = 0
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        if a.out:
            cmd += ["--out", a.out]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: failed with exit code {p.returncode}")
            status = 1
            continue
        res = json.loads(lines[-1])
        info = json.loads(lines[-2])["info"]
        note = "" if w in declared else (
            "  (not in BENCHMARK.json: left out of the driver's runs for the"
            " run-time budget, see perfbench/README.md)")
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}{note}")
        for name, mv in res["metrics"].items():
            print(f"  {name:<40} {mv['value']:>14.4f} {mv['unit']}")
        if not a.trace:
            print(f"  {'failed_frac':<40} {info['failed_frac']:>14.4f} 1")
            print(f"  {'peak_rss_mb':<40} {info['peak_rss_mb']:>14.4f} MB"
                  "  (not gated: too unsteady)")
    return status


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    raise SystemExit(main())
