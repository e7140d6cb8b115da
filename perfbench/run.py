"""spark-curate benchmark.

    python3 perfbench/run.py --workload clip_label --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed`` under a per-process work directory inside ``perfbench/``,
starts one ``local[nproc]`` session, sets up, runs the workload's closed
loop for ``--seconds`` and checks every output. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the per-layer metrics, from a
second, traced session (Spark event log, job descriptions and spans) run
after an untraced one of the same length, so ``trace.overhead_frac``
compares the two. The line before it is a short human-readable summary;
every sample, span and error goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"wall_s": "s", "setup_s": "s"}
DRIVER_MEM = "2g"  # JVM heap; the manifest scan keeps audio bytes out of it
# the shares of one cold clip_label run the traced run attributes
ATTRIB = ("plan", "read", "to_pandas", "decode", "langid", "lm", "fused_other",
          "spark_stage_overhead", "catalyst_suffix", "write", "audit", "checkpoint",
          "unattributed")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (the names BENCHMARK.json lists).
    A traced run reports each of them; a layer the workload does not
    exercise reads 0."""
    from .workloads import DOC_QUERIES

    units = dict.fromkeys((
        "manifest.read_us_per_row", "manifest.to_pandas_us_per_row",
        "scoring.audio.decode_us_per_row", "scoring.langid.us_per_row",
        "scoring.lm.us_per_row", "stages.score_clip_pdf_us_per_row",
        "stages.score_clip_pdf_other_us_per_row", "stages.fused_stage_us_per_row",
        "stages.catalyst_suffix_us_per_row", "catalog.overwrite_partitions_us_per_row",
    ), "us/row")
    units.update({
        "catalog.bytes_written_per_row": "B/row", "catalog.files_written": "count",
        "catalog.snapshot_id_ms": "ms", "manifest.plan_ms": "ms", "manifest.empty_keys": "count",
        "pipeline.resume_scan_ms": "ms", "pipeline.untimed_ms": "ms",
    })
    for step in ("write", "audit", "checkpoint"):
        for q in ("p50", "p90"):
            units[f"pipeline.{step}_ms.{q}"] = "ms"
    units.update({
        "spark.jobs": "count", "spark.jobs_per_commit_group": "count", "spark.tasks": "count",
        "spark.core_busy_frac": "ratio", "spark.executor_run_ms": "ms",
        "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms", "spark.task_skew": "ratio",
        "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
        "spark.spill_bytes": "B",
    })
    for g in DOC_QUERIES:
        units[f"ops.{g}.executor_run_ms"] = "ms"
        units[f"ops.{g}.shuffle_bytes"] = "B"
        units[f"ops.{g}.stages"] = "count"
        units[f"query_s.{g}"] = "s"
    units.update({
        "mem.peak_rss_mb": "MB", "mem.jvm_rss_mb": "MB", "mem.python_workers_rss_mb": "MB",
        "setup.session_s": "s", "setup.warmup_s": "s", "setup.input_s": "s",
        "setup.index_build_s": "s", "host.calib_s": "s", "trace.overhead_frac": "ratio",
        "clips_per_s": "1/s",
    })
    for k in ATTRIB:
        units[f"attrib.{k}_frac"] = "ratio"
    return units


class Ctx:
    """What every workload needs to know about this run."""

    def __init__(self, seed: int, nproc: int, work: str, scale: float):
        from .trace import Tracer

        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.scale = scale
        self.tracer = Tracer(False)


def code_identity() -> tuple[str, str]:
    """(git commit or "none", digest of the curator_spark sources)."""
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=30, check=False)
        commit = r.stdout.strip() or "none"
    h = hashlib.blake2b(digest_size=6)
    for d, _dirs, names in sorted(os.walk(os.path.join(ROOT, "curator_spark"))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(fh.read())
    return commit, h.hexdigest()


def new_session(ctx: Ctx, app: str, event_dir: str | None = None):
    from curator_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(master=f"local[{ctx.nproc}]", app_name=app, builder_conf=conf)


def stop_jvm() -> None:
    """Stop the Spark context, then the gateway JVM it ran in, and wait for
    it: pyspark keeps the launched JVM process on its gateway object and
    would otherwise leave it to exit after this interpreter."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def phase(wl, ctx: Ctx, seconds: float, event_dir: str | None) -> dict:
    """One session: inputs (first session only), per-session preparation,
    warm-up, then the loop. Traced iff ``event_dir`` is given."""
    from .trace import Tracer

    ctx.tracer = Tracer(event_dir is not None)
    t0 = time.monotonic()
    spark = new_session(ctx, f"perfbench_{wl.name}", event_dir)
    t1 = time.monotonic()
    if not wl.has_input:
        wl.setup(spark)
    t2 = time.monotonic()
    wl.prepare(spark)
    t3 = time.monotonic()
    wl.stage = "warm"
    wl.warm(spark)
    t4 = time.monotonic()
    wl.loop(spark, seconds)
    return {"spark": spark, "session_s": t1 - t0, "input_s": t2 - t1,
            "prepare_s": t3 - t2, "warmup_s": t4 - t3}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs tiny inputs)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "curator_spark", "pipeline.py")):
        print(f"perfbench: no curator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # every scratch file of the JVM, its Python workers and this process
    # lands in the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["CURATOR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM would otherwise write its perf-data file
    # to the system temp dir (the driver JVM gets the flag in new_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    ctx = Ctx(args.seed, nproc, work, args.scale)
    wl = WORKLOADS[args.workload](ctx)
    try:
        result = run(wl, ctx, args)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass

    detail_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(detail_path, "w") as fh:
        json.dump(result["detail"], fh, indent=1, default=str)
    print(result["summary"])
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": result["units"][k]} for k, v in result["metrics"].items()},
    }, separators=(",", ":")))
    return 0


def run(wl, ctx: Ctx, args) -> dict:
    from bench import calibrate  # the repository's host-speed gauge

    from . import trace

    calib = [calibrate() for _ in range(3)]
    commit, code = code_identity()
    sampler = trace.MemorySampler()
    sampler.start()
    seconds = args.seconds / 2 if args.trace else args.seconds
    a = phase(wl, ctx, seconds, event_dir=None)
    mem = sampler.stop()
    spark = a["spark"]
    e2e_extra = wl.end_to_end_extra()
    wall = statistics.median(wl.samples["iter_s"])
    untraced_samples = {k: list(v) for k, v in wl.samples.items()}
    setup = {k: a[k] for k in ("session_s", "input_s", "prepare_s", "warmup_s")}
    if not args.trace:
        wl.verify(spark)

    metrics = {"wall_s": wall, "setup_s": sum(setup.values())}
    units = dict(END_TO_END)
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": ctx.nproc, "commit": commit, "code": code, "calib_s": calib,
        "rows_per_iteration": wl.rows, "setup": setup,
        "memory_mb": mem, "samples": untraced_samples, "end_to_end_extra": e2e_extra,
        "errors": wl.errors,
    }

    if args.trace:
        spark.stop()
        event_dir = os.path.join(ctx.work, "events")
        spark = phase(wl, ctx, seconds, event_dir=event_dir)["spark"]
        traced_wall = statistics.median(wl.samples["iter_s"])
        layers = wl.layer_metrics(spark)
        wl.verify(spark)  # the outputs of both sessions
        spark.stop()
        tags = trace.parse_event_log(event_dir)
        # the measured calls only: not the warm iteration, the checks or
        # the layer probes after the loop
        tot = trace.spark_totals(tags, lambda t: t.startswith(("bench:pipeline.", "bench:ops.")))
        busy_ms = sum(wl.samples["iter_s"]) * 1000
        groups = len(wl.samples["iter_s"]) * wl.commit_groups
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        metrics.update(layers)
        metrics.update({f"spark.{k}": tot[k] for k in (
            "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "task_skew",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")})
        metrics["spark.jobs_per_commit_group"] = tot["jobs"] / groups if groups else 0.0
        metrics["spark.core_busy_frac"] = tot["executor_run_ms"] / (busy_ms * ctx.nproc)
        for t, bk in tags.items():
            if t.startswith("bench:ops."):
                g = t.split(":", 1)[1][len("ops."):]
                metrics[f"ops.{g}.executor_run_ms"] = bk["executor_run_ms"]
                metrics[f"ops.{g}.shuffle_bytes"] = bk["shuffle_read_bytes"] + bk["shuffle_write_bytes"]
                metrics[f"ops.{g}.stages"] = bk["stages"]
        metrics.update({
            "mem.peak_rss_mb": mem["total"], "mem.jvm_rss_mb": mem["jvm"],
            "mem.python_workers_rss_mb": mem["python_workers"],
            "setup.session_s": setup["session_s"], "setup.warmup_s": setup["warmup_s"],
            "setup.input_s": setup["input_s"], "setup.index_build_s": setup["prepare_s"],
            "host.calib_s": statistics.median(calib),
            "trace.overhead_frac": traced_wall / wall - 1,
        })
        metrics.update(e2e_extra)
        units = per_layer_units()
        unknown = set(metrics) - set(units)
        if unknown:
            raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
        detail["traced_samples"] = wl.samples
        detail["spans"] = ctx.tracer.spans
        detail["span_self_s"] = ctx.tracer.self_times()
        detail["event_log"] = {t: {k: v for k, v in bk.items() if k not in ("stage_ms", "task_ms")}
                               for t, bk in tags.items()}
        detail["attribution_s"] = getattr(wl, "attribution", None)
        detail["per_layer"] = metrics

    parts = [f"perfbench {wl.name} seed={args.seed} trace={args.trace} nproc={ctx.nproc}",
             f"commit={commit} code={code} calib_s={statistics.median(calib):.3f}",
             f"checks={wl.attempted - wl.failed}/{wl.attempted}"]
    parts += [f"wall_s={wall:.4g}s setup_s={sum(setup.values()):.4g}s "
              f"peak_rss_mb={mem['total']:.0f}MB"]
    parts += [f"{k}={v:.4g}" for k, v in e2e_extra.items()]
    if args.trace:
        parts.append(f"trace.overhead_frac={metrics['trace.overhead_frac']:.3f}")
        if getattr(wl, "attribution", None):
            parts.append("attrib_s=" + ",".join(f"{k}:{v:.3f}" for k, v in wl.attribution.items()))
    return {"metrics": metrics, "units": units, "detail": detail, "summary": " ".join(parts)}


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import the benchmark as the package it is
        sys.path.insert(0, ROOT)
        import perfbench.run as _self

        sys.exit(_self.main())
    sys.exit(main())
