"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload discovery_polite --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. One process: it starts a Spark session on
``local[nproc]``, builds the workload's inputs from ``--seed``, warms the
JVM with one unchecked crawl (all of this is ``setup_s``), then runs
closed-loop iterations for ``--seconds`` (at least one) and checks each
one's output. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``); the line
before it carries the host context. All scratch state lives in
``.perfbench/`` under the root and is removed on exit."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# A fresh JVM per run, with get_spark's JIT, heap and collector. No
# perf-data file: the JVM would write it under /tmp, outside the checkout.
JVM_OPTS = "-XX:-UsePerfData"


def start_spark(nproc: int, work: str):
    from wss_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp  # Python workers inherit it
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(setup_s: float, its) -> dict:
    from perfbench.stats import median

    return {
        "setup_s": (setup_s, "s"),
        "urls_per_s": (median([it.urls / it.crawl_s for it in its]), "urls/s"),
        "iteration_s": (median([it.wall_s for it in its]), "s"),
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wss_spark")):
        print(f"no wss_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    from perfbench import layers, probe
    from perfbench.stats import GroupLedger
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
               "load1_before": probe.load1(), "source": probe.source_sha(ROOT),
               "jvm_opts": JVM_OPTS}
    ticks0 = probe.cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(nproc, work)
        t1 = time.perf_counter()
        log("session up")
        wl = WORKLOADS[args.workload](spark, args.seed, work, nproc)
        wl.setup()
        t2 = time.perf_counter()
        # the first crawl in a fresh JVM pays class loading, codegen and
        # most of the JIT's compilations
        wl.warm_up()
        t3 = time.perf_counter()
        setup_s = t3 - t0 - wl.oracle_s
        context["setup_parts_s"] = {
            "session": round(t1 - t0, 2), "inputs": round(t2 - t1 - wl.oracle_s, 2),
            "warm_up": round(t3 - t2, 2), "oracle": round(wl.oracle_s, 2)}
        log(f"setup done: {setup_s:.1f} s {context['setup_parts_s']}")
        context["calibration_s"] = probe.calibration_s(spark, nproc)

        its, traced, after, cpu, errors = [], [], [], [], 0
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def attempt(into, groups=None) -> None:
            nonlocal errors
            c0 = probe.tree_cpu_s(jvm_pid)
            try:
                into.append(wl.iterate(groups))
            except Exception:  # a raising iteration is a failed attempt
                errors += 1
                log("iteration raised:\n" + traceback.format_exc())
                return
            cpu.append(probe.tree_cpu_s(jvm_pid) - c0)
            log(f"iteration: {into[-1].wall_s:.1f} s")

        t_end = time.perf_counter() + args.seconds
        while len(its) + errors == 0 or time.perf_counter() < t_end:
            attempt(its)
        if args.trace:
            # the RSS sampler and the spans run in the traced pass only, so
            # the untraced iterations behind the end-to-end figures carry
            # no instrumentation thread
            tracer = probe.Tracer()
            tracer.install()
            try:
                with probe.RssSampler(jvm_pid) as rss:
                    attempt(traced, probe.JobGroups(spark, GroupLedger()))
            finally:
                tracer.uninstall()
            # an untraced iteration on each side of the traced one: the JIT
            # is still settling, so the overhead is read against both
            attempt(after)
        if not its or (args.trace and not (traced and after)):
            raise RuntimeError("no iteration completed")
        attempted = len(its) + len(traced) + len(after) + errors
        bad = [it for it in its + traced + after if it.problems]
        for it in bad:
            for p in it.problems:
                log(f"check failed: {p}")
        failed = len(bad) + errors
        if args.trace:
            metrics = layers.per_layer(traced[0], its, after[0], tracer, nproc,
                                       rss.peak)
        else:
            metrics = e2e_metrics(setup_s, its)
        ticks1 = probe.cpu_ticks()
        context.update(load1_after=probe.load1(), iterations=len(its),
                       steal_frac=round((ticks1[0] - ticks0[0])
                                        / max(ticks1[1] - ticks0[1], 1), 4),
                       wave_s=[round(w, 3) for it in its for w in it.wave_s],
                       iteration_cpu_s=[round(c, 2) for c in cpu])
    finally:
        if spark is not None:
            stop_spark(spark)
            log("session stopped")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
