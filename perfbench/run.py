"""Closed-loop benchmark of the extraction engine on this host.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 6 --trace 0

One client submits the next pass only after the previous one completed,
in one ``local[N]`` JVM with N = the CPUs this process may use.  Each pass
builds a fresh DataFrame, so its wall includes planning and codegen.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (session start +
median of SETUP_REPS input stagings + WARM_PASSES warm-up passes), ``wall_s``
(median pass wall), ``docs_per_s``, ``input_mb_per_s`` and ``peak_rss_mb``
(JVM + Python workers).  ``--trace 1`` prints the per-layer metrics of a
separate traced run, including ``scaling_eff`` ((docs/s at N) / (docs/s
of one pass in a 1-thread session) / N), and writes its spans to
``perfbench/out/``.  The last stdout line is the JSON result; every pass
output is checked against an oracle and a failing pass counts in
``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_PASSES = 3
WARM_PASSES = 2  # untimed passes before the first timed one, counted in setup_s
TRACE_REPS = 2
TRACE_WARM_PASSES = 2  # the traced run compares passes with each other: warm further


def declared_metrics() -> dict:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark process: a session, a staged input, a pass loop."""

    def __init__(self, args, work: str):
        from host import host_cpus
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.threads = host_cpus()
        self.wl = WORKLOADS[args.workload](ROOT, work, args.seed, args.scale, self.threads)
        self.attempted = 0
        self.failed = 0

    def stage(self, spark) -> float:
        dest = os.path.join(self.work, "inputs", self.wl.key)
        shutil.rmtree(dest, ignore_errors=True)
        t0 = time.perf_counter()
        self.wl.stage(spark, dest)
        return time.perf_counter() - t0

    def one_pass(self, spark, pass_id: str):
        """(wall, output) of one timed pass; output None if it raised."""
        t0 = time.perf_counter()
        try:
            out = self.wl.run_pass(spark, pass_id)
        except Exception as exc:  # a failing pass is counted, not fatal
            log(f"pass {pass_id} raised {type(exc).__name__}: {exc}")
            out = None
        wall = time.perf_counter() - t0
        self.wl.release(spark)
        return wall, out

    def account(self, outputs) -> None:
        for pass_id, out in outputs:
            self.attempted += 1
            ok = out is not None and self.wl.check(out)
            if not ok:
                self.failed += 1
                log(f"pass {pass_id} failed its output check")

    def start(self, threads: int):
        from host import start_session

        t0 = time.perf_counter()
        # same shuffle width in the 1-thread session: only the thread count differs
        spark = start_session(threads, self.threads, self.work)
        return spark, time.perf_counter() - t0

    def end_to_end(self) -> dict:
        from host import RssSampler

        with RssSampler() as rss:
            spark, t_session = self.start(self.threads)
            t_stage = statistics.median(self.stage(spark) for _ in range(SETUP_REPS))
            # JIT, codegen and Python-worker start-up are paid here, untimed;
            # later warm-up passes let the JIT settle so the timed passes do
            # not sit on the steep part of the warm-up curve
            warm = [self.one_pass(spark, f"warm{i}")[0] for i in range(WARM_PASSES)]
            setup_s = t_session + t_stage + sum(warm)
            walls, outputs = [], []
            t0 = time.perf_counter()
            while len(walls) < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
                pass_id = f"n{len(walls)}"
                wall, out = self.one_pass(spark, pass_id)
                walls.append(wall)
                outputs.append((pass_id, out))
            peak_rss = rss.peak_mb
        spark.stop()
        self.account(outputs)
        wall = statistics.median(walls)
        log(f"walls {[round(w, 3) for w in walls]} setup: session "
            f"{t_session:.2f} stage {t_stage:.2f} warm {[round(w, 2) for w in warm]}")
        return {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": self.wl.docs / wall,
            "input_mb_per_s": self.wl.input_bytes / 1e6 / wall,
            "peak_rss_mb": peak_rss,
        }

    def one_core_pass(self, outputs) -> float:
        """Wall of one pass in a fresh 1-thread session on the same input
        (the single-threaded baseline of scaling_eff)."""
        spark1, _ = self.start(1)
        spark1.range(1).mapInArrow(_touch_worker, "id long").collect()
        wall1, out1 = self.one_pass(spark1, "core1")
        outputs.append(("core1", out1))
        spark1.stop()
        return wall1

    def traced(self) -> dict:
        """TRACE_REPS rounds of one untraced and one traced pass, in
        alternating order so warm-up drift during the run does not read as
        tracing overhead; layer metrics are medians over the traced passes."""
        from spans import SparkStats, Tracer

        tracer = Tracer()
        spark, _ = self.start(self.threads)
        stats = SparkStats(spark)
        self.stage(spark)
        for i in range(TRACE_WARM_PASSES):
            self.one_pass(spark, f"warm{i}")
        walls, outputs, per_pass, layers = [], [], [], []

        def untraced(pass_id: str) -> None:
            mark = stats.mark()
            with tracer.span("pass", pass_id=pass_id):
                wall, out = self.one_pass(spark, pass_id)
            jobs = stats.jobs_since(mark)
            walls.append(wall)
            outputs.append((pass_id, out))
            tot = stats.totals(jobs)
            tot["plan_s"] = wall - stats.busy_s(jobs)
            tot["cpu_busy_frac"] = tot["executor_cpu_s"] / (wall * self.threads)
            per_pass.append({f"spark.{k}": v for k, v in tot.items()})

        for i in range(TRACE_REPS):
            if i % 2 == 0:
                untraced(f"u{i}")
            with tracer.span("traced", pass_id=f"t{i}"):
                layers.append(self.wl.trace_pass(spark, tracer, stats, f"t{i}"))
            if i % 2 == 1:
                untraced(f"u{i}")
        with tracer.span("extra", pass_id="extra"):
            extra = self.wl.trace_extra(spark, tracer)
        spark.stop()
        wall1 = self.one_core_pass(outputs)
        self.account(outputs)
        m = {k: statistics.median(p[k] for p in per_pass + layers if k in p)
             for k in set().union(*per_pass, *layers)}
        m.update(extra)
        m.update(pycore_rates())
        wall = statistics.median(walls)
        m["trace.untraced_wall_s"] = wall
        m["trace.overhead_frac"] = m["trace.self_sum_s"] / wall - 1
        m["scaling_eff"] = (wall1 / wall) / self.threads
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        tracer.dump(
            os.path.join(HERE, "out", f"trace-{self.args.workload}-s{self.args.seed}.json"),
            {"workload": self.args.workload, "seed": self.args.seed,
             "threads": self.threads, "metrics": m},
        )
        log(f"untraced walls {[round(w, 3) for w in walls]} 1-core {wall1:.3f} traced self-sums "
            f"{[round(x['trace.self_sum_s'], 3) for x in layers]} "
            f"overhead {m['trace.overhead_frac']:+.3f}")
        return m


def _touch_worker(batches):
    """Start a Python worker and import the tokenizer before a timed pass."""
    import image_ocr_spark.operators.tokenize  # noqa: F401

    yield from batches


def pycore_rates(n_sources: int = 200) -> dict:
    """Spark-free single-core tokenizer throughput over a fixed page sample
    (independent of the workload seed)."""
    import corpus
    from image_ocr_spark.pycore.htmltok import scan_html_cols
    from image_ocr_spark.pycore.pdftok import tokenize_pdf

    rows = corpus.page_rows(corpus.pick_sources(0, n_sources), range(corpus.REPLICAS))
    html = [p["html"] for p in rows if p["kind"] != "pdf"]
    pdf = [p["html"] for p in rows if p["kind"] == "pdf"]
    out = {}
    for name, fn, docs in (("htmltok", scan_html_cols, html), ("pdftok", tokenize_pdf, pdf)):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.3:
            for raw in docs:
                fn(raw)
            n += len(docs)
        out[f"{name}.docs_per_s"] = n / (time.perf_counter() - t0)
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS  # imports only pyarrow/numpy: safe before env setup

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a fraction of the benchmark size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "image_ocr_spark", "session.py")):
        log(f"no image_ocr_spark package under {ROOT}: nothing to benchmark")
        return 2

    from host import canary_ops_per_s, prepare_env, stop_jvm

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(ROOT, work)
    sys.path.insert(0, ROOT)
    canary_before = canary_ops_per_s()
    run = Run(args, work)
    try:
        metrics = run.traced() if args.trace else run.end_to_end()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    canary_after = canary_ops_per_s()
    log(f"canary ops/s before {canary_before:.0f} after {canary_after:.0f}; "
        f"failed_frac {run.failed}/{run.attempted}")
    if args.trace:
        metrics["host.canary_ops_per_s"] = (canary_before + canary_after) / 2
    units = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer the traced workload never runs did zero work
        "metrics": {
            k: {"value": float(metrics[k] if not args.trace else metrics.get(k, 0.0)), "unit": u}
            for k, u in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
