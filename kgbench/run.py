"""End-to-end KG-build benchmark.

    python3 kgbench/run.py --workload pages_flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client runs one operation
at a time (pages -> html->text -> build_kg/update_kg -> KG tables written)
on a seeded workload, checks every operation's output, and prints the
metrics; the last stdout line is one JSON object. ``--trace 1`` runs the
separate traced decomposition and prints the per-layer metrics instead.
See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pages_flagship", "linking_vocab", "encoder_pages", "incremental_update")
NOISE_PROBE_S = 1
END_TO_END_UNITS = {
    "wall_s": "s", "docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


class Session:
    """One benchmark process's set-up: generated inputs on disk, the
    oracle's expected output, the Spark session and one warm-up
    operation."""

    def __init__(self, args, work: str):
        from bench import _host_noise_probe
        from kgbench import host, kg_ops, workloads

        self.args = args
        self.work = work
        self.cpus = host.cpus()
        self.inputs = workloads.GENERATORS[args.workload](args.seed)
        # noise probe before the JVM and the sampler thread exist (it forks)
        self.noise = _host_noise_probe(seconds=NOISE_PROBE_S, procs=self.cpus)
        for child in multiprocessing.active_children():  # the probe's spinners
            child.join(timeout=10)
        host.prepare_env(ROOT, work)
        self.paths = kg_ops.write_inputs(self.inputs, work)
        t0 = time.perf_counter()
        self.expected = None
        if self.inputs.backend != "encoder":  # a lexicon the oracle can replay
            texts = [self.paths[k] for k in ("base_texts", "texts") if k in self.paths]
            self.expected = kg_ops.oracle_expected(
                texts, self.paths["embeddings"], self.inputs.lexicon)
        self.oracle_s = time.perf_counter() - t0
        self.checker = kg_ops.Checker(self.expected)
        self.event_log = os.path.join(work, "eventlog") if args.trace else None

        t0 = time.perf_counter()
        self.spark = host.start_spark(work, self.cpus, self.event_log)
        self.spark_start_s = time.perf_counter() - t0
        self.job = kg_ops.KGJob(self.spark, self.inputs, self.paths, work)
        self.out = os.path.join(work, "out")
        self.warmup_problems = []
        if self.job.incremental:
            self.job.build_prior()
        else:
            self.job.run(self.out)
            self.warmup_problems = self.checker.problems(self.out)
        self.setup_s = time.perf_counter() - t0

    def timed_ops(self, seconds: float) -> dict:
        """Closed loop for ``seconds``: each operation starts when the
        previous one (and its check) ended."""
        from kgbench import host

        sc = self.spark.sparkContext
        walls, failures = [], []
        deadline = time.perf_counter() + seconds
        with host.PeakMemory() as mem:
            while not walls or time.perf_counter() < deadline:
                i = len(walls)
                sc.setJobGroup(f"op{i}", f"operation {i}")
                t0 = time.perf_counter()
                try:
                    self.job.run(self.out)
                    walls.append(time.perf_counter() - t0)
                    problems = self.checker.problems(self.out)
                except Exception:
                    if len(walls) == i:
                        walls.append(time.perf_counter() - t0)
                    problems = [traceback.format_exc(limit=3)]
                if problems:
                    failures.append({"op": i, "problems": problems})
                    log(f"operation {i} failed: {problems}")
        sc.setJobGroup("", "")
        return {"walls": walls, "failures": failures, "peak_rss": mem.peak,
                "pss_at_peak_mb": [round(b / 2**20, 1) for b in mem.at_peak]}

    def record(self) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "cpus": self.cpus,
            "input_properties": self.inputs.properties,
            "host_cpu_noise": self.noise,
            "oracle": self.expected is not None, "oracle_s": self.oracle_s,
            "spark_start_s": self.spark_start_s, "setup_s": self.setup_s,
            "warmup_problems": self.warmup_problems,
        }


def end_to_end(s: Session, loop: dict) -> dict:
    walls = loop["walls"]
    wall = statistics.median(walls)
    return {
        "wall_s": wall,
        "docs_per_s": s.job.n_docs / wall,
        "setup_s": s.setup_s,
        "peak_rss_mb": loop["peak_rss"] / 2**20,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "glinerswift_spark")) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        log(f"{ROOT} is not a checkout of the repository (glinerswift_spark/, "
            "bench.py missing); run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".kgbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(ROOT, ".kgbench", "records")
    os.makedirs(records, exist_ok=True)
    session = None
    try:
        session = Session(args, work)
        rec = session.record()
        if args.trace:
            from kgbench import traced

            metrics, units, extra = traced.run(session)
            spans = extra.pop("spans")
            loop = extra.pop("untraced")
            rec.update(extra)
        else:
            loop = session.timed_ops(args.seconds)
            metrics, units = end_to_end(session, loop), END_TO_END_UNITS
            rec["walls"] = loop["walls"]
            rec["pss_at_peak_mb"] = loop["pss_at_peak_mb"]
        rec["failures"] = loop["failures"]
    finally:
        if session is not None and getattr(session, "spark", None) is not None:
            from kgbench import host

            host.stop_spark(session.spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(loop["walls"])
    failed = len(loop["failures"])
    correct = failed == 0 and not session.warmup_problems
    rec["metrics"] = metrics
    rec["ops_failed_frac"] = failed / attempted
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(records, name.replace(".json", "-spans.json")), "w") as f:
            json.dump(spans, f, indent=1)

    print(f"workload {args.workload} seed {args.seed}: {attempted} operations, "
          f"{failed} failed, cpus {session.cpus}")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    if not args.trace:
        print(f"  ops_failed_frac = {failed / attempted:.6g} (of {attempted} operations)")
        print(f"  wall_s over {attempted} samples: min {min(loop['walls']):.4f} "
              f"max {max(loop['walls']):.4f}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
