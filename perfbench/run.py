#!/usr/bin/env python3
"""Layered benchmark of the AML engine.

    python3 perfbench/run.py --workload batch_catalog --seed 1 --seconds 1 --trace 0

Run from the repository root. The workloads are defined in
``workloads.py``, the metrics in ``metrics.py``. One run, in one process:

1. set-up: start the Spark session with the engine's own defaults
   (``SPARK_GRAFT_CPUS`` set to the CPU count) and write seed-derived
   input copies;
2. timed passes, each over a fresh input copy, one operation after the
   other (a closed loop with one client), until ``--seconds`` have
   passed. Every pass takes longer than a second, so ``--seconds 1``
   times exactly one pass on a fresh JVM: the cost a scheduled job pays;
3. outside the timed region: the checks of every output the passes
   wrote;
4. with ``--trace 1`` the pass runs with spans around the engine's layer
   functions and the run reports the per-layer metrics instead of the
   end-to-end ones.

From the session start to the end of the timed passes a child
process times a fixed piece of CPU work (``hostspeed.py``). The
end-to-end times and CPU seconds are reported at a reference host speed:
measured, times ``REFERENCE_PROBE_S`` over the probe's median
(``host.calib_s``). The measured values are printed on the lines before
the result.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it give each check, each operation's time and the sample counts. Every
file the run writes goes under ``.perfbench/`` in the working directory;
a traced run leaves its spans there as ``trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path
from urllib.parse import urlparse

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG_DIR = ROOT / "anti_money_laundering_spark"

#: a run that has not finished by then stops without a result
DEADLINE_S = 150
#: input copies generated per run, the pass's included
SETUP_COPIES = 3
#: a fixed reference: about the host-speed probe's median on an unloaded
#: 4-CPU host
REFERENCE_PROBE_S = 0.0125
#: end-to-end metrics scaled to the reference host speed
HOST_SCALED = ("setup_s", "run_s", "op_p50_s", "cpu_s")


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


class Run:
    def __init__(self, args) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.copies = 0
        self.gen_s: list[float] = []

    def fresh_copy(self) -> tuple[Path, Path, int]:
        """(input dir, output dir, input rows) of a new input copy."""
        self.copies += 1
        inp = self.work / f"in{self.copies}"
        t0 = time.perf_counter()
        rows = self.wl.make_input(inp, self.args.seed, self.copies)
        self.gen_s.append(time.perf_counter() - t0)
        return inp, self.work / f"out{self.copies}", rows

    def timed_pass(self, spark, trace=None) -> dict:
        """One pass over a fresh input copy; a traced pass also returns
        the ids of the Spark jobs it ran."""
        from procs import cpu_delta, cpu_snapshot
        from tracing import job_ids
        from workloads import NO_TRACE

        inp, out, rows = self.fresh_copy()
        jobs_before = job_ids(spark.sparkContext) if trace else set()
        cpu0 = cpu_snapshot()
        t0 = time.perf_counter()
        ops = self.wl.run_pass(spark, inp, out, trace or NO_TRACE)
        wall = time.perf_counter() - t0
        cpu = cpu_delta(cpu0, cpu_snapshot())
        jobs = job_ids(spark.sparkContext) - jobs_before if trace else set()
        return dict(wall=wall, cpu=cpu, ops=ops, rows=rows, inp=inp, out=out, jobs=jobs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PKG_DIR.is_dir():
        print(f"engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    t_process = time.perf_counter()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [str(HERE), str(ROOT)]
    from hostspeed import HostProbe
    from procs import IGNORED
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    run = Run(args)
    # keep Spark's, the JVM's and Python's scratch files inside the
    # working tree (the JVM ignores TMPDIR; -XX:-UsePerfData stops its
    # /tmp/hsperfdata file)
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        (run.work / sub).mkdir(parents=True)
        os.environ[var] = str(run.work / sub)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run.work / 'tmp'} -XX:-UsePerfData"
    spark = None
    try:
        from anti_money_laundering_spark.session import get_spark

        with HostProbe() as probe:
            IGNORED.add(probe.proc.pid)
            spark = get_spark(app_name=f"perfbench_{args.workload}")
            session_s = time.perf_counter() - t_process
            result = measure(run, spark, session_s, probe)
    finally:
        signal.alarm(0)
        stop(spark)
        shutil.rmtree(run.work, ignore_errors=True)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result), flush=True)
    return 0


def measure(run: Run, spark, session_s: float, probe) -> dict:
    from metrics import END_TO_END, PER_LAYER

    args = run.args
    report = []

    # setup_s takes the median of several input generations; the session
    # starts once per process
    for _ in range(SETUP_COPIES - 1):
        run.fresh_copy()
    passes = []
    if args.trace:
        # one pass, traced, in the same regime as the untraced runs; the
        # memory sampler's thread runs only here, off the timed runs
        from procs import RssSampler
        from tracing import ProgressListener, Tracer

        tracer = Tracer(spark).install()
        try:
            with RssSampler() as sampler, ProgressListener(spark) as listener:
                passes.append(run.timed_pass(spark, tracer))
                listener.wait_for(sum(op.name == "batch" for op in passes[0]["ops"]))
                rss_mb = sampler.peaks_mb()
        finally:
            tracer.uninstall()
    else:
        t_begin = time.perf_counter()
        while not passes or time.perf_counter() - t_begin < args.seconds:
            passes.append(run.timed_pass(spark))
    calib_s = probe.median_s()
    checks = [c for p in passes for c in run.wl.check(spark, p["inp"], p["out"], p["ops"])]
    for c in checks:
        report.append(f"check {c.name}: {'ok' if c.ok else 'FAILED'} rows={c.rows} {c.detail}")
    for op in passes[0]["ops"]:
        report.append(f"pass 1 {op.name}: {op.seconds:.3f} s (build {op.build_s:.3f} s)")

    ops = [op for p in passes for op in p["ops"]]
    lat = [op.seconds for op in ops if op.ok]
    attempted = len(ops) + len(checks)
    failed = sum(not op.ok for op in ops) + sum(not c.ok for c in checks)
    e2e = {
        "setup_s": session_s + statistics.median(run.gen_s),
        "run_s": statistics.median(p["wall"] for p in passes),
        "rows_per_s": statistics.median(p["rows"] / p["wall"] for p in passes),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "cpu_s": statistics.median(p["cpu"]["total"] for p in passes),
        "success_rate": 1.0 - failed / attempted,
    }
    report.append(
        f"passes={len(passes)} input_rows={passes[0]['rows']} op_samples={len(lat)} "
        f"session_s={session_s:.3f} gen_s_median={statistics.median(run.gen_s):.3f} "
        f"host.calib_s={calib_s:.5f} (samples={len(probe.samples)})"
    )
    report.append("measured: " + " ".join(f"{k}={v:.6g}" for k, v in e2e.items()))
    scale = REFERENCE_PROBE_S / calib_s
    for k in HOST_SCALED:
        e2e[k] *= scale
    e2e["rows_per_s"] /= scale
    if args.trace:
        layer = layer_metrics(run, spark, passes[0], tracer, listener.progress, rss_mb)
        layer["host.calib_s"] = calib_s
        units = {name: unit for name, unit, _, _, _ in PER_LAYER}
        metrics = {name: layer[name] for name in units}
    else:
        units = {name: unit for name, unit, _, _ in END_TO_END}
        metrics = e2e
    for name, value in metrics.items():
        report.append(f"{name} = {value:.6g} {units[name]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        "report": report,
    }


def layer_metrics(run: Run, spark, p: dict, tracer, progress: list[dict],
                  rss_mb: tuple[float, float]) -> dict:
    """Every per-layer metric of the traced pass ``p``."""
    from tracing import stage_work, streaming_metrics

    tracer.attribute_jobs()
    tracer.dump(ROOT / ".perfbench" / f"trace-{run.args.workload}-{run.args.seed}.json")

    m: dict[str, float] = {}
    sc = spark.sparkContext
    work = stage_work(sc, p["jobs"])
    for k, v in work.items():
        m[f"spark.{k}"] = v

    def seconds(*names):
        return sum(sp.seconds for sp in tracer.outermost(*names))

    def jobs(*names):
        return sum(len(tracer.inclusive_jobs(sp)) for sp in tracer.outermost(*names))

    builds = [sp for sp in tracer.spans if sp.name.startswith("plans.build.")]
    m["plans.build_s"] = sum(sp.seconds for sp in builds)
    m["plans.build_jobs"] = sum(len(tracer.inclusive_jobs(sp)) for sp in builds)
    m["plans.action_s"] = sum(
        sp.seconds for sp in tracer.spans if sp.name.startswith("plans.action.")
    )
    m["cpu.driver_py_s"] = p["cpu"]["driver_py"]
    m["cpu.jvm_s"] = p["cpu"]["jvm"]
    m["cpu.py_workers_s"] = p["cpu"]["py_workers"]
    m["mem.peak_rss_mb"], m["mem.py_worker_peak_mb"] = rss_mb
    m["graph.connected_components_s"] = seconds("connected_components")
    m["graph.connected_components_jobs"] = jobs("connected_components")
    m["graph.risk_propagation_s"] = seconds("risk_propagation")
    m["graph.risk_propagation_jobs"] = jobs("risk_propagation")
    m["graph.find_motif_s"] = seconds("find_motif")
    m["linkage.candidate_pairs_s"] = seconds("candidate_pairs")
    m["linkage.em_fit_s"] = seconds("em_fit")
    m["linkage.score_pairs_s"] = seconds("score_pairs")
    m["dedup.minhash_lsh_candidates_s"] = seconds("minhash_lsh_candidates")
    m["dedup.jaccard_pairs_s"] = seconds("jaccard_pairs")
    cands = sum(c.count() for c, _ in tracer.verified)
    verified = sum(v.count() for _, v in tracer.verified)
    m["dedup.verified_per_candidate"] = verified / cands if cands else 0.0
    m["vector.ann_lsh_topk_s"] = seconds("ann_lsh_topk")
    m["vector.cosine_topk_s"] = seconds("cosine_topk", "cosine_topk_blas")
    for k, v in streaming_metrics(progress).items():
        m[f"streaming.{k}"] = v
    m.update(versioned_metrics(spark, p, tracer))
    m["trace.overhead_s"] = tracer.overhead_s
    return m


def versioned_metrics(spark, p: dict, tracer) -> dict[str, float]:
    """Write and space amplification of the pass's versioned table,
    relative to the bytes of its live head."""
    names = ("commit_s", "commits", "bytes_written_per_user_byte",
             "bytes_stored_per_user_byte", "files", "read_s")
    table = p["out"] / "totals"
    if not table.is_dir():
        return {f"sources.versioned.{n}": 0.0 for n in names}
    from anti_money_laundering_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(table))
    head = [urlparse(f).path for f in vt.read(spark).inputFiles()]
    head_bytes = sum(os.path.getsize(f) for f in head)
    written = stored = 0
    for root, _, files in os.walk(table):
        for f in files:
            size = os.path.getsize(os.path.join(root, f))
            stored += size
            if f.endswith(".parquet"):
                written += size
    return {
        "sources.versioned.commit_s": sum(
            sp.seconds
            for sp in tracer.outermost("VersionedTable.merge", "VersionedTable.write")
        ),
        "sources.versioned.commits": len(vt.versions()),
        "sources.versioned.bytes_written_per_user_byte": written / head_bytes,
        "sources.versioned.bytes_stored_per_user_byte": stored / head_bytes,
        "sources.versioned.files": len(head),
        "sources.versioned.read_s": sum(
            sp.seconds for sp in tracer.outermost("versioned.read_head")
        ),
    }


def stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    from procs import descendants

    children = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers' daemon exits once its pipe from the JVM closes; it is
    # no longer this process's descendant by then, so wait on its pid
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{c}") for c in children):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
