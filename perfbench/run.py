"""lieu_spark benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload planted_dupes --seed 1 --seconds 8 --trace 0

Run from the root of a checkout (the directory holding ``lieu_spark/``).
Set-up (session start, seeded input generation, one untimed warm-up
iteration) is timed as ``setup_s``; then iterations run
back to back until ``--seconds`` have passed (at least one). Every
iteration starts from a fresh output directory and ends with
``spark.catalog.clearCache()``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced iteration (on ``planted_dupes`` also a traced
refresh step) and prints the per-layer metrics, writing the span tree to
``.perfbench_work/traces/``. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``. An iteration fails
if it raises, if its cluster-map digest differs from the warm-up's, or
if the run's recall check fails on its output. On ``planted_dupes`` the
traced iteration runs on the refreshed snapshot and fails if its
clusters differ from the refresh step's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "turns_per_s": "1/s",
    "shuffle_mb": "MB",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "ratio",
}
PER_LAYER = {
    "assemble.s": "s", "assemble.shuffle_mb": "MB",
    "features.s": "s", "features.docs_per_s": "1/s",
    "bands.s": "s", "lsh.hot_groups": "count",
    "candidates.s": "s", "candidates.pairs": "count",
    "candidates.pairs_lsh": "count", "candidates.pairs_simhash": "count",
    "candidates.pairs_exact": "count", "candidates.shuffle_mb": "MB",
    "verify.s": "s", "verify.pairs": "count", "verify.useful_ratio": "ratio",
    "cluster.s": "s", "cluster.spark_jobs": "count", "cluster.max_size": "count",
    "spans.s": "s", "spans.found": "count",
    "checkpoint.save_s": "s", "checkpoint.load_s": "s", "checkpoint.written_mb": "MB",
    "spark.task_s": "s", "spark.core_util": "ratio", "spark.gc_s": "s",
    "spark.spill_mb": "MB", "spark.tasks": "count",
    "refresh.s": "s", "refresh.delta_rows": "count", "refresh.featurized_docs": "count",
    "trace.job_s": "s", "trace.overhead_s": "s", "trace.covered_frac": "ratio",
}
# Below build_session's 8 GB default: the machine's memory is shared, and
# at 8 GB the JVM heap's high-water mark made peak_rss_mb spread 0.19
# (IQR/median) over five seeds of planted_dupes, near its 0.25 bound.
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(name: str, work: Path, cores: int):
    """build_session with the event log on and every scratch path inside
    ``work``. Python workers import lieu_spark from the checkout."""
    for d in ("events", "local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from lieu_spark.session import build_session

    return build_session(
        f"perfbench_{name}",
        cores=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Runner:
    def __init__(self, args, spark, work: Path, cores: int) -> None:
        from perfbench.measure import EventLog
        from perfbench.workloads import WORKLOADS, Ctx

        self.args, self.spark, self.work = args, spark, work
        self.wl = WORKLOADS[args.workload]()
        self.ctx = Ctx(spark, work, args.seed, cores)
        self.events = EventLog(spark, work / "events")
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = self.failed = 0
        self.ref_digest: str | None = None
        self.kept = None  # one good iteration's output, for the run checks
        self.walls: list[float] = []
        self.shuffles: list[float] = []
        self.peaks: list[float] = []
        self.tasks = []

    def setup(self) -> None:
        t0 = time.time()
        self.wl.prepare(self.ctx)
        t1 = time.time()
        out = self.wl.run_once(self.ctx, self.work / "warmup")
        print(f"setup: prepare {t1 - t0:.2f} s, warm-up {time.time() - t1:.2f} s", file=sys.stderr)
        self.ref_digest = self.wl.digest(self.ctx, out)
        shutil.rmtree(self.work / "warmup", ignore_errors=True)
        self.spark.catalog.clearCache()

    def iterate(self) -> None:
        from perfbench.measure import MB, RssSampler, shuffle_mb

        root = self.work / f"iter-{self.attempted}"
        self.attempted += 1
        t0 = time.time()
        try:
            with RssSampler(self.jvm_pid) as rss:
                out = self.wl.run_once(self.ctx, root)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        finally:
            t1 = time.time()
            self.spark.catalog.clearCache()
        self.events.sync()
        self.tasks = self.events.window(t0, t1)
        self.walls.append(t1 - t0)
        self.shuffles.append(shuffle_mb(self.tasks))
        self.peaks.append(rss.peak / MB)
        self.keep_or_fail(out, root)

    def keep_or_fail(self, out, root: Path, expect: str | None = None) -> None:
        """Fail the iteration unless its cluster digest is ``expect``
        (default: the warm-up's); keep the first good output."""
        expect = expect or self.ref_digest
        try:
            same = self.wl.digest(self.ctx, out) == expect
        except Exception:
            traceback.print_exc()
            same = False
        if not same:
            print(f"iteration {root.name}: cluster digest differs from {expect}", file=sys.stderr)
            self.failed += 1
        if same and self.kept is None:
            self.kept = (out, root)
        else:
            shutil.rmtree(root, ignore_errors=True)

    def run_checks(self) -> float:
        """The run's correctness check on one good iteration's output;
        on failure every iteration that produced that output fails."""
        if self.kept is None:
            return 0.0
        out, root = self.kept
        try:
            res = self.wl.check(self.ctx, out)
        except Exception:
            traceback.print_exc()
            res = {"dup_pair_recall": 0.0, "ok": False}
        print("check:", json.dumps(res), file=sys.stderr)
        if not res["ok"]:
            self.failed = self.attempted
        shutil.rmtree(root, ignore_errors=True)
        return res["dup_pair_recall"]

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        seconds = self.args.seconds
        t_run = time.time()
        while True:
            self.iterate()
            if time.time() - t_run >= seconds:
                break
        recall = self.run_checks()
        job_s = statistics.median(self.walls) if self.walls else float("nan")
        m = {
            "setup_s": setup_s,
            "job_s": job_s,
            "turns_per_s": self.wl.turns / job_s,
            "shuffle_mb": statistics.median(self.shuffles) if self.shuffles else 0.0,
            "peak_rss_mb": statistics.median(self.peaks) if self.peaks else 0.0,
            "dup_pair_recall": recall,
        }
        return {k: (v, END_TO_END[k]) for k, v in m.items()}

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from perfbench.measure import Tracer, dir_mb, runtime_metrics
        from perfbench.workloads import SHUFFLE_METRIC, UNMEASURED

        # untraced baseline: the reference for the tracing overhead, the
        # source of the spark.* metrics, and (kept) the store that an
        # untraced job_s iteration writes, every stage included
        self.iterate()
        untraced_s = self.walls[-1] if self.walls else float("nan")
        layer = runtime_metrics(self.tasks, untraced_s, self.ctx.cores)
        base = self.kept[0] if self.kept is not None else None
        if base is not None:
            layer["checkpoint.written_mb"] = dir_mb(Path(base.root))

        tracer = Tracer()
        self.ctx.tracer = tracer
        expect = None
        if self.wl.traces_refresh and base is not None:
            # the traced iteration then runs on the refreshed snapshot and
            # must match the refreshed clusters
            expect = self.trace_refresh(base, layer)
        root = self.work / f"iter-{self.attempted}"
        self.attempted += 1
        try:
            out, traced = self.wl.trace_once(self.ctx, root)
            layer.update(traced)
            self.keep_or_fail(out, root, expect)
        except Exception:
            traceback.print_exc()
            self.failed += 1
        self.events.sync()
        trace_path = ROOT / ".perfbench_work" / "traces" / (
            f"{self.args.workload}-seed{self.args.seed}.json"
        )
        rows = tracer.dump(trace_path, self.events)
        self.run_checks()

        spans = tracer.spans
        it = next((s for s in spans if s.name == "iteration"), None)
        if it is not None:
            # time no layer span claims: the iteration's own gaps and
            # run_pipeline's planning between its stages
            unclaimed = sum(
                r["self_s"] for r in rows if r["name"] in ("iteration", "run_pipeline")
            )
            layer["trace.job_s"] = it.dur
            layer["trace.overhead_s"] = it.dur - untraced_s
            layer["trace.covered_frac"] = 1 - unclaimed / it.dur
        for span, row in zip(spans, rows):
            if it is None or not it.start <= span.start < it.end:
                continue  # checkpoint and stage figures of the batch iteration only
            kind, _, stage = row["name"].partition(":")
            if kind == "checkpoint.save":
                layer["checkpoint.save_s"] = layer.get("checkpoint.save_s", 0.0) + row["self_s"]
            elif kind == "checkpoint.load":
                layer["checkpoint.load_s"] = layer.get("checkpoint.load_s", 0.0) + row["dur_s"]
            elif kind == "stage":
                if stage in SHUFFLE_METRIC:
                    layer[SHUFFLE_METRIC[stage]] = row["shuffle_mb"]
                if stage == "clusters":
                    layer["cluster.spark_jobs"] = float(self.events.jobs_in(span.start, span.end))

        untraced = sorted(k for k in PER_LAYER if k not in layer)
        print(
            "trace:", json.dumps({
                "spans": str(trace_path.relative_to(ROOT)),
                "untraced_on_this_workload": untraced,
                "not_measurable_from_outside": list(UNMEASURED),
                "self_s": {r["name"]: round(r["self_s"], 4) for r in rows},
            }),
        )
        return {k: (float(layer.get(k, 0.0)), u) for k, u in PER_LAYER.items()}

    def trace_refresh(self, base, layer: dict[str, float]) -> str | None:
        """The workload's traced refresh step and its recall check (a
        failed check fails the step); returns the refreshed digest."""
        root = self.work / f"iter-{self.attempted}"
        self.attempted += 1
        digest = None
        try:
            refreshed, digest, res = self.wl.trace_refresh(self.ctx, base, root)
            layer.update(refreshed)
        except Exception:
            traceback.print_exc()
            res = {"ok": False}
        print("check:", json.dumps(res), file=sys.stderr)
        if not res["ok"]:
            self.failed += 1
        shutil.rmtree(root, ignore_errors=True)
        return digest


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "lieu_spark" / "__init__.py").is_file():
        print(f"no lieu_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    t0 = time.time()
    spark = start_session(args.workload, work, cores)
    print(f"setup: session {time.time() - t0:.2f} s", file=sys.stderr)
    try:
        runner = Runner(args, spark, work, cores)
        runner.setup()
        setup_s = time.time() - t0
        metrics = runner.per_layer() if args.trace else runner.end_to_end(setup_s)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
