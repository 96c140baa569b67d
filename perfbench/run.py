"""Benchmark of the extraction engine and the curation operators.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_news --seed 1 --seconds 18 --trace 0

One driver process runs the workload on ``local[N]`` (N = one less than
the cores this process may use, see ``spark_cores``) as a closed loop:
one client submits the next pass only after the previous one completed.
The workloads, their inputs and their checks live in ``workloads.py``.

A run:

1. sets up three times: start the session (the first start launches the
   JVM), prepare the seeded inputs (generated on a cache miss), and, for
   a workload with Python UDFs, start and warm one Python worker per
   core.  ``setup_s`` is the median, so it reads a session restart;
2. runs untimed warm-up passes (a cold pass takes two to three times as
   long as a warm one); the first yields the reference outputs;
3. times passes until ``--seconds`` have elapsed and at least
   ``MIN_PASSES`` ran, each after a full GC in the JVM, so that no pass
   runs in or measures the garbage of the pass before it (``pass_s`` is
   their median; ``peak_rss_mb`` is the median over the passes of the
   peak resident memory of the JVM plus its Python workers during one);
4. checks the outputs, outside the timed region;
5. with ``--trace 1`` (which sets up once and times one pass), also
   runs the traced per-layer passes, whose excess over ``pass_s`` is the
   tracing overhead, and writes every span with its status-store data
   to ``perfbench/.work/traces/<workload>-s<seed>.json``.

It prints a readable summary, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``, 0 for a layer the workload does not
run).  Exit status: 0 when every check passed, 1 when one failed, 2 when
the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

from tracing import (
    Tracer,
    node_sum,
    noise_block,
    noise_snapshot,
    peak_rss_mb,
    reset_peak_rss,
    rss_mb,
    stage_sum,
    tree_cpu_s,
)
from workloads import Ctx, Curation, Extraction, warm_workers

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

SETUPS = 3
# timed passes a run makes at least, so that pass_s is a median even
# where a pass takes about as long as --seconds (a curation pass)
MIN_PASSES = 3
# the JVM heap (in local mode one JVM runs every task), below the
# program's 24g default: the inputs are small enough to run without
# spill in 2g, and the machine's memory is shared
HEAP = "2g"
# 0.1 s polls for the JVM to give back the heap a full GC freed
RSS_SETTLE_POLLS = 30
WORKLOADS = {
    "extract_news": lambda: Extraction(n_docs=500, xl_every=40),
    "curation_queries": lambda: Curation(n_docs=250, n_events=5000, n_orders=7500),
}


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program and these modules."""
    for d in ("local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    sys.path.insert(0, str(ROOT))


class Session:
    """The run's SparkSession: restartable, and closed together with its
    JVM at the end."""

    def __init__(self):
        self.spark = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        }

    def start(self, cores: int):
        from reading_the_unreadable_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=cores, shuffle_partitions=2 * cores, extra_conf=self.conf)
        return self.spark

    def collect_garbage(self) -> None:
        """Run a full GC in the JVM, then wait until the resident memory
        stops falling: G1 gives the freed heap back to the OS in a
        background thread."""
        self.spark.sparkContext._jvm.java.lang.System.gc()  # noqa: SLF001
        pid, last = self.jvm_pid(), float("inf")
        for _ in range(RSS_SETTLE_POLLS):
            now = rss_mb(pid)
            if now >= last:
                break
            last = now
            time.sleep(0.1)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    def close(self) -> None:
        """Stop the session (and with it the Python workers), then end
        the JVM by closing its stdin and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_cores() -> int:
    """The Spark cores of a run: one less than the cores this process may
    use, so that the tasks do not compete for a core with the JVM's own
    threads (GC, JIT, the scheduler), the driver and the Python worker
    daemon."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def session_layers(spans: list[dict], n_passes: int, cpu_s: float, wall_s: float, cores: int) -> dict:
    """Python-worker start-up and GC per timed pass, and the share of
    ``cores`` the process tree (JVM plus Python workers) kept busy."""
    return {
        "session.python_init_s": sum(node_sum(sp, "time to initialize Python workers") for sp in spans) / n_passes,
        "session.gc_s": sum(stage_sum(sp, "gc_s") for sp in spans) / n_passes,
        "session.cpu_util": cpu_s / (wall_s * cores),
    }


def run(args, spec: dict) -> tuple[dict, list[str]]:
    cores = spark_cores()
    wl = WORKLOADS[args.workload]()
    session = Session()
    tracer = Tracer(None, uuid.uuid4().hex[:8], enabled=False)
    ctx = Ctx(session, tracer, WORK, args.seed, cores)
    lines = []
    try:
        setups = []
        # a traced run reports no setup_s and has the per-layer passes to fit
        for _ in range(1 if args.trace else SETUPS):
            t0 = time.monotonic()
            tracer.rebind(session.start(cores))
            wl.prepare(ctx)
            warm_workers(ctx, wl.modules)
            setups.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.warm(ctx)
        warm_s = time.monotonic() - t0

        noise0 = noise_snapshot()
        jvm = session.jvm_pid()
        first, cpu_s, passes = len(tracer.spans), 0.0, []
        t0 = time.monotonic()
        # a traced run times one untraced pass, the base of the tracing
        # overhead, and leaves its time to the traced passes
        while not passes or (
            not args.trace and (len(passes) < MIN_PASSES or time.monotonic() - t0 < args.seconds)
        ):
            session.collect_garbage()
            reset_peak_rss(jvm)
            cpu0 = tree_cpu_s(jvm)
            passes.append(wl.one_pass(ctx))
            cpu_s += tree_cpu_s(jvm) - cpu0
            passes[-1]["peak_rss_mb"] = peak_rss_mb(jvm)
        noise = noise_block(noise0, noise_snapshot())
        timed_spans = tracer.spans[first:]

        attempted, failed, msgs = wl.check(ctx, passes)
        pass_s = statistics.median(p["wall_s"] for p in passes)
        values = {
            "pass_s": pass_s,
            "docs_per_s": passes[0]["docs"] / pass_s,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
        }
        lines.append(f"workload {args.workload} seed {args.seed} cores {cores} passes {len(passes)}")
        lines.append(f"setups_s {[round(s, 3) for s in setups]} warm_s {warm_s:.3f}")
        lines.append(f"passes_s {[round(p['wall_s'], 3) for p in passes]}")
        lines.append(f"passes_peak_rss_mb {[round(p['peak_rss_mb']) for p in passes]}")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for name, v in values.items():
            lines.append(f"{name} {v:.4f} {units[name]}")
        lines.append(f"noise {json.dumps(noise)}")
        lines += [f"CHECK FAILED: {m}" for m in dict.fromkeys(msgs)]

        if args.trace:
            for sp in timed_spans:
                tracer.collect(sp)
            pass_sum_s = sum(p["wall_s"] for p in passes)
            layers = session_layers(timed_spans, len(passes), cpu_s, pass_sum_s, len(os.sched_getaffinity(0)))
            tracer.enabled = True
            more, t_attempted, t_failed, t_msgs = wl.traced(ctx, pass_s)
            layers.update(more)
            attempted, failed = attempted + t_attempted, failed + t_failed
            lines += [f"CHECK FAILED: {m}" for m in dict.fromkeys(t_msgs)]
            tracer.dump(
                WORK / "traces" / f"{args.workload}-s{args.seed}.json",
                {"workload": args.workload, "seed": args.seed, "cores": cores, "noise": noise, "layers": layers},
            )
            values = layers
            wanted = spec["per_layer"]
        else:
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
        if args.trace:
            lines += [f"{k} {v['value']:.4f} {v['unit']}" for k, v in metrics.items()]
            # figures outside BENCHMARK.json, also kept in the trace file
            lines += [f"{k} {v:.4f}" for k, v in values.items() if k not in metrics]
        lines.append(f"error_frac {failed / max(attempted, 1):.6f} ratio ({failed} of {attempted} failed)")
    finally:
        session.close()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "reading_the_unreadable_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    configure_env()
    t0 = time.monotonic()
    result, lines = run(args, spec)
    lines.append(f"run_wall_s {time.monotonic() - t0:.1f}")
    print("\n".join(lines))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
