#!/usr/bin/env python3
"""Benchmark harness: one closed-loop client, one job at a time, one process.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

Run from the repository root.  The harness

1. generates (or reuses) the seeded inputs for the workload's multiple
   of sf0.1 under ``.perfbench/inputs`` (excluded from ``setup_s``);
2. sets up the program: ``get_spark`` on ``local[nproc]`` and
   ``WARMUP_PASSES`` untimed passes (``setup_s``);
3. runs timed passes until ``--seconds`` have elapsed, at least
   ``MIN_TIMED_PASSES`` of them (with ``--trace 1`` untraced and traced
   passes alternate).  A pass runs every
   job of the workload back to back (builder call, action, sink) on a
   fresh hard-linked copy of the inputs, so the program's memo scope
   ``(applicationId, sf_dir)`` is new and each pass pays what a new job
   pays;
4. checks every output of every pass outside the timed region: DuckDB
   ``oracle_sql()`` in the canonical form of ``tests/oracle_harness.py``,
   file read-back for the written outputs, a byte compare for the golden
   word count;
5. prints one JSON line: the end-to-end metrics (``--trace 0``) or the
   per-layer metrics of the traced passes (``--trace 1``).

See NOTES.md for the workloads and what each metric is meant to show.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

#: Untimed passes before timing starts: the JIT keeps speeding passes up
#: for about three passes after the first (cold) one.
WARMUP_PASSES = 3
#: Timed passes run until ``--seconds`` have passed, and at least this many.
MIN_TIMED_PASSES = 3
#: Driver JVM heap; a fixed, small heap keeps the JVM's resident size
#: from following G1's heap-growth heuristics from run to run.
DRIVER_MEM = "1g"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import gen  # noqa: E402
from workloads import GOLDEN_JOB, WORKLOADS  # noqa: E402


def ncpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (driver JVM, Python workers), sampled every ``period`` seconds;
    ``take()`` returns the peak since the last ``take()``."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self.stop_ev = threading.Event()
        self.pids: list[int] = [os.getpid()]
        self._last_scan = 0.0

    def _scan(self) -> None:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat", "rb") as f:
                    ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        self.pids = out

    def _rss(self) -> int:
        total = 0
        for p in self.pids:
            try:
                with open(f"/proc/{p}/statm", "rb") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return total * os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self.stop_ev.wait(self.period):
            now = time.perf_counter()
            if now - self._last_scan > 1.0:
                self._scan()
                self._last_scan = now
            self.peak = max(self.peak, self._rss())

    def take(self) -> int:
        peak, self.peak = self.peak, 0
        return peak


class Bench:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        if args.mult is not None:
            self.wl = dataclasses.replace(self.wl, mult=args.mult)
        self.t_excluded = 0.0  # input generation: the benchmark's, not the program's
        self.n_scopes = 0
        self.outputs = []  # (pass index, job, output or exception, columns)
        self.rows: list[dict] = []
        self.tracing = False
        self.trace_ok = True
        self.rss = RssSampler()

    # -- set-up --------------------------------------------------------
    def inputs(self) -> str:
        t0 = time.perf_counter()
        d = os.path.join(WORK, "inputs", f"seed{self.args.seed}_m{self.wl.mult:g}")
        gen.generate(self.args.seed, self.wl.mult, d)
        self.t_excluded += time.perf_counter() - t0
        self.base = d
        self.input_rows = gen.table_rows(d, self.wl.tables)
        if self.wl.golden:
            with open(os.path.join(ROOT, "tests", "fixtures", "smallt.txt"), "rb") as f:
                self.input_rows += f.read().count(b"\n")
        return d

    def fresh_scope(self) -> str:
        """A new directory of hard links to the inputs: a new sf_dir, so
        every memo keyed on it misses."""
        self.n_scopes += 1
        d = os.path.join(WORK, "runs", f"{os.getpid()}_{self.n_scopes}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        srcs = [os.path.join(self.base, f"{t}.parquet") for t in self.wl.tables]
        if self.wl.golden:
            srcs.append(os.path.join(ROOT, "tests", "fixtures", "smallt.txt"))
        for s in srcs:
            dst = os.path.join(d, os.path.basename(s))
            try:
                os.link(s, dst)
            except OSError:
                shutil.copyfile(s, dst)
        return d

    def start_program(self):
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        for k, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
            os.environ[k] = os.path.join(WORK, sub)
            os.makedirs(os.environ[k], exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from p2_mapreduce_spark import session

        self.entry, self.session = entry, session
        if self.args.trace:
            from spans import SparkCounters, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            self.spark = session.get_spark("perfbench", cpus=ncpus())
            self.get_spark_s = self.tracer.spans[-1].dur
            self.tracer.uninstall()
            self.counters = SparkCounters(self.spark)
        else:
            self.tracer = None
            self.spark = session.get_spark("perfbench", cpus=ncpus())
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    # -- one pass ------------------------------------------------------
    def job(self, name: str, d: str):
        """Builder call + action (+ sink); returns what the check needs."""
        from p2_mapreduce_spark.sources import readers, writers

        if name == GOLDEN_JOB:
            from p2_mapreduce_spark import mapreduce

            docs = readers.read_text_records(self.spark, os.path.join(d, "smallt.txt"))
            df = mapreduce.run_mapreduce_by_name(docs, "wordcount", "wordcount", aggregate=True)
        else:
            df = self._span(f"build:{name}", "entry", lambda: self.queries[name](self.spark, d))
        sink = self.wl.sinks.get(name)
        if sink is None:
            return self._span("action", "action", df.toPandas), list(df.columns)
        out = os.path.join(d, "out", name)
        if sink == "tsv":
            write = lambda: writers.write_tsv(df, out, single_file=name == GOLDEN_JOB)  # noqa: E731
        else:
            write = lambda: writers.write_parquet(df, out)  # noqa: E731
        self._span("action", "action", write)
        return out, list(df.columns)

    def _span(self, name, layer, fn):
        if not self.tracing:
            return fn()
        if layer != "entry":
            with self.tracer.span(name, layer):
                return fn()
        tracker = self.spark.sparkContext.statusTracker()
        with self.tracer.span(name, layer) as s:
            jobs0 = len(tracker.getJobIdsForGroup(self.group))
            out = fn()
        s.extra["jobs"] = len(tracker.getJobIdsForGroup(self.group)) - jobs0
        return out

    def run_pass(self, idx: int, kind: str) -> dict:
        d = self.fresh_scope()
        traced = kind == "traced"
        sc = self.spark.sparkContext
        self.tracing = traced
        if traced:
            self.tracer.run = idx
            self.tracer.install()
            self.counters.skip_past()
        counters = []
        job_s = {}
        self.rss.take()
        t0 = time.perf_counter()
        for name in self.wl.jobs:
            tj = time.perf_counter()
            if traced:
                self.group = f"perfbench-{idx}-{name}"
                sc.setJobGroup(self.group, name, False)
                with self.tracer.span(f"job:{name}", "job"):
                    out = self._run_job(name, d)
                with self.tracer.span("counters", "trace"):
                    counters.append(self.counters.read(self.group))
            else:
                out = self._run_job(name, d)
            self.outputs.append((idx, name) + out)
            job_s[name] = time.perf_counter() - tj
        wall = time.perf_counter() - t0
        rss = self.rss.take()
        self.tracing = False
        if traced:
            self.tracer.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)
            from layers import record_written

            record_written(s for s in self.tracer.spans if s.run == idx)
        row = {"pass": idx, "kind": kind, "wall_s": wall, "scope": d, "rss": rss}
        if traced:
            row["counters"] = {k: sum(c[k] for c in counters) for k in counters[0]}
        self.rows.append(row)
        print(f"# pass {idx} {kind:8s} wall_s={wall:.3f} rss_mb={row['rss'] / 2**20:.0f} "
              + " ".join(f"{k}={v:.2f}" for k, v in job_s.items()), flush=True)
        return row

    def _run_job(self, name, d):
        try:
            return self.job(name, d)
        except Exception as e:  # a failing job counts in error_rate
            print(f"# job {name} raised {type(e).__name__}", flush=True)
            traceback.print_exc()
            return e, None

    # -- checks --------------------------------------------------------
    def check(self) -> tuple[int, int]:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle import canon_rows, golden_bytes, oracle_rows, read_parquet, read_tsv

        expected = {}
        failed = 0
        for idx, name, out, cols in self.outputs:
            ok = False
            try:
                if isinstance(out, Exception):
                    pass
                elif name == GOLDEN_JOB:
                    ok = read_tsv(out, None, raw=True) == golden_bytes(ROOT)
                else:
                    if name not in expected:
                        expected[name] = oracle_rows(self.oracles[name], self.base)
                    sink = self.wl.sinks.get(name)
                    if sink is None:
                        got = canon_rows(out)
                    elif sink == "tsv":
                        got = canon_rows(read_tsv(out, cols))
                    else:
                        got = canon_rows(read_parquet(out))
                    ok = got == expected[name]
            except Exception as e:  # an unreadable output is a failed job
                print(f"# check {name} raised {type(e).__name__}", flush=True)
                traceback.print_exc()
            if not ok:
                failed += 1
                print(f"# MISMATCH pass {idx} job {name}", flush=True)
        return len(self.outputs), failed

    def finish(self) -> tuple[int, int]:
        """Check every output, then stop Spark, wait for its JVM to exit
        and remove the per-pass input copies."""
        attempted, failed = self.check()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        for r in self.rows:
            shutil.rmtree(r["scope"], ignore_errors=True)
        return attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mult", type=float, help="override the input multiple (the benchmark's tests)")
    args = ap.parse_args()

    for need in ("__spark_entry__.py", "p2_mapreduce_spark", os.path.join("tests", "oracle_harness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: program file {need} not found under {ROOT}", file=sys.stderr)
            return 2

    b = Bench(args)
    b.inputs()
    b.rss.start()
    b.start_program()
    for i in range(WARMUP_PASSES):
        b.run_pass(-WARMUP_PASSES + i, "warmup")
    setup_s = time.perf_counter() - T_START - b.t_excluded

    t0 = time.perf_counter()
    idx = 1
    kinds = ("plain", "traced") if args.trace else ("plain",)
    while True:
        b.run_pass(idx, kinds[(idx - 1) % len(kinds)])
        idx += 1
        if idx > MIN_TIMED_PASSES and time.perf_counter() - t0 >= args.seconds:
            break
    b.rss.stop_ev.set()
    b.rss.join()

    attempted, failed = b.finish()

    plain = [r for r in b.rows if r["kind"] == "plain"]
    wall = statistics.median(r["wall_s"] for r in plain)
    print("# samples " + json.dumps([[r["pass"], r["kind"], round(r["wall_s"], 4)] for r in b.rows]))
    if args.trace:
        from layers import layer_metrics

        metrics = layer_metrics(b, wall)
        b.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "input_rows_per_s": (b.input_rows / wall, "rows/s"),
            "peak_rss_mb": (statistics.median(r["rss"] for r in plain) / 2**20, "MB"),
            "success_rate": (1 - failed / attempted, "fraction"),
        }
        print(f"# error_rate={failed / attempted:.4f} attempted={attempted} failed={failed} "
              f"timed_passes={len(plain)}")
    print(json.dumps({
        "correct": failed == 0 and b.trace_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
