#!/usr/bin/env python3
"""Operation benchmark: one workload, one fresh process, one JSON line.

    python3 opbench/run.py --workload ann_query --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts a Spark session
on local[<cores>], sets the workload up (several times; the median
counts), runs one untimed warm operation, then runs operations in a
closed loop for ``--seconds`` and at least the workload's ``min_ops``
operations, and checks every answer against an oracle outside the
engine. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (spans are
then also written to ``opbench/traces/<workload>-seed<seed>.jsonl``).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# per-layer spans, in the order they are reported
LAYER_SPANS = (
    "index.build", "index.save", "index.load", "streaming.ingest",
    "search.forest", "search.allpairs", "knn.exact", "quant.ivf_int8",
    "pq.ivf_pq", "textops.pipeline", "dedup.simhash_pairs", "dedup.cc_star",
)
EXTRA_METRICS = (
    ("search.forest.candidates_per_result", "ratio"),
    ("search.forest.broadcast_route", "bool"),
    ("search.allpairs.candidates_per_result", "ratio"),
    ("search.allpairs.recall", "ratio"),
    ("index.build.nodes", "count"),
    ("index.build.depth", "count"),
    ("index.save.disk_mb", "MB"),
    ("streaming.ingest.batches", "count"),
    ("dedup.simhash_pairs.pairs_per_planted", "ratio"),
    ("dedup.cc_star.components", "count"),
)


def _args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Session settings that must exist before the JVM starts: every
    scratch and temp directory inside this run's work directory, and,
    when tracing, status-store retention high enough that no job or
    stage of the run is evicted before attribution."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    submit = [f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\"",
              f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf spark.ui.retainedJobs=1000000",
                   "--conf spark.ui.retainedStages=1000000"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit) + " pyspark-shell",
    })


def _percentile_report(walls: "list[float]") -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return f"ops={n} (fewer than 11: no tail percentile)"
    p = 100.0 * (1 - 10 / n)
    q = statistics.quantiles(walls, n=1000, method="inclusive")
    return f"ops={n} p{p:.1f}={q[min(int(p * 10) - 1, 998)]:.4f}s"


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.recalls: "list[float]" = []

    def judge(self, answer, wl, quiet: bool = False) -> bool:
        problems, recalls = wl.check(answer)
        for p in problems[:0 if quiet else 10]:
            print(f"[{wl.name}] wrong answer: {p}", file=sys.stderr)
        if not problems:
            self.recalls += recalls
        return not problems

    def run_op(self, wl, i: int, spark):
        """One checked operation; (wall, items) or None when it failed."""
        from rust_vector_search_spark.plans.registry import release_driver_blocks

        self.attempted += 1
        try:
            with wl.tracer.span("op", index=i):
                wall, items, answer = wl.op(i)
            ok = self.judge(answer, wl)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            release_driver_blocks(spark, unpersist_all=True)
        if not ok:
            self.failed += 1
            return None, None
        return (wall, items), answer

    def run(self) -> dict:
        from inputs import files_sha256
        from rust_vector_search_spark.plans.registry import release_driver_blocks
        from rust_vector_search_spark.session import get_spark
        from tracing import RssSampler, Tracer, jvm_process, steal_s, stop_session
        from workloads import WORKLOADS

        a = self.args
        tracer = Tracer(a.trace == 1)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"opbench-{a.workload}")
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[a.workload](spark, tracer, self.work, a.seed)
            setup_walls, digests = [], []
            for rep in range(wl.setup_reps):
                t = time.perf_counter()
                d = wl.generate(rep)
                wl.setup(rep)
                setup_walls.append(time.perf_counter() - t)
                digests.append(files_sha256(d))
                release_driver_blocks(spark, unpersist_all=True)
            print(f"inputs sha256 {digests[0]}")
            inputs_stable = len(set(digests)) == 1
            if not inputs_stable:
                print("inputs differ between set-up repetitions", file=sys.stderr)
            wl.prepare_oracle()
            setup_answer = wl.setup_answer()
            if setup_answer is not None:
                self.attempted += 1
                self.failed += not self.judge(setup_answer, wl)

            # untimed warm pass of the operation, then the self-test: a
            # corrupted copy of its answer must be judged wrong
            tracer.enabled = False
            _, warm_answer = self.run_op(wl, 0, spark)
            selftest_ok = warm_answer is not None and not self.judge(
                wl.corrupt(warm_answer), wl, quiet=True)
            print(f"selftest: corrupted answer {'counted as failed' if selftest_ok else 'NOT caught'}")

            # traced runs need two traced and two untraced operations
            min_ops = max(wl.min_ops, 4) if a.trace == 1 else wl.min_ops
            walls, items, traced, untraced, steals = [], 0, [], [], []
            with RssSampler(jvm_process(spark).pid) as rss:
                start, i = time.perf_counter(), 1
                while True:
                    # traced runs trace operations 1, 4, 5, 8, ... (ABBA
                    # order), so the trace's own overhead is measured in-run
                    # and the warm-up trend of the first operations cancels
                    tracer.enabled = a.trace == 1 and i % 4 in (0, 1)
                    s0 = steal_s()
                    res, _ = self.run_op(wl, i, spark)
                    steals.append(steal_s() - s0)
                    if res is not None:
                        walls.append(res[0])
                        items += res[1]
                        (traced if tracer.enabled else untraced).append(res[0])
                    i += 1
                    done = time.perf_counter() - start >= a.seconds and len(walls) >= min_ops
                    if done and (a.trace == 0 or (traced and untraced)):
                        break
                    if len(steals) - len(walls) >= 5:
                        break  # operations keep failing: report, do not spin
            tracer.enabled = a.trace == 1
            print(f"[{a.workload}] {_percentile_report(walls)}; items are {wl.items}; "
                  f"op walls {[round(w, 3) for w in walls]}; "
                  f"host steal during each op (s, all CPUs) {[round(s, 2) for s in steals]}")
            if a.trace == 1:
                metrics = self.layer_metrics(spark, wl, session_s, traced, untraced)
            else:
                metrics = {
                    "setup_s": (session_s + statistics.median(setup_walls), "s"),
                    "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
                    "items_per_s": (items / sum(walls) if walls else 0.0, "items/s"),
                    "peak_rss_mb": (rss.peak / 1e6, "MB"),
                    "recall": (statistics.fmean(self.recalls) if self.recalls else 0.0, "ratio"),
                }
        finally:
            stop_session(spark)
        correct = self.failed == 0 and selftest_ok and inputs_stable and bool(walls)
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, spark, wl, session_s, traced, untraced) -> dict:
        from tracing import SPAN_COUNTERS, attribute, write_jsonl

        wl.trace_extras()
        summary = attribute(spark, wl.tracer)
        print(f"[{wl.name}] trace: {summary}", file=sys.stderr)
        out = {"session.start.wall_s": (session_s, "s")}
        for name in LAYER_SPANS:
            spans = [s for s in wl.tracer.spans if s.name == name]
            for key, unit, _ in SPAN_COUNTERS:
                vals = [s.attrs["counters"][key] for s in spans]
                out[f"{name}.{key}"] = (statistics.median(vals) if vals else 0.0, unit)
        for key, unit in EXTRA_METRICS:
            vals = wl.extras.get(key, [])
            out[key] = (statistics.median(vals) if vals else 0.0, unit)
        out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        write_jsonl(wl.tracer, os.path.join(HERE, "traces", f"{wl.name}-seed{self.args.seed}.jsonl"))
        return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rust_vector_search_spark")):
        print(f"engine package rust_vector_search_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work, args.trace == 1)
        result = Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
