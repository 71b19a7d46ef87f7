#!/usr/bin/env python3
"""kgforge benchmark: end-to-end and per-layer metrics for two workloads.

    python3 perfbench/run.py --workload build_sparse --seed 1 --seconds 20 --trace 0

Run from the root of a kgforge checkout (or from anywhere; the script finds
the package next to its own directory). Each run is one process with one
closed-loop caller on ``local[4]``. Inputs come from ``--seed``; generating
them is set-up, never timed as work.

Workloads:

- ``build_sparse``: one ``pipeline.run_pipeline`` build of a sparse corpus
  (the synth_spark "sparse" style) into an empty warehouse. It is the first
  build in the JVM, so it costs what one spark-submit of
  ``jobs/run_pipeline.py`` costs.
- ``operator_suite``: a fixed list of registry keys, each run once, in
  order, from a fresh session in a fresh JVM, over a seeded sf-shaped
  ``documents`` table. Each key is timed to the collected rows the oracle
  check compares.

End-to-end metrics (``--trace 0``): ``op_s``, the wall time of that one
operation (the build, or the summed per-key times), and ``setup_s``, the
median over ``SETUP_ROUNDS`` of starting a fresh Spark session and
generating the inputs. One operation lasts longer than ``--seconds``.

Every run checks its outputs: builds against
``tests/oracle_ref.run_reference``, suite keys against their DuckDB oracle
SQL with ``tools/oracle_check.py``'s comparison. A wrong or failed operation
counts in ``failed``.

``--trace 1`` first runs one untimed operation to warm the JVM, then
alternates untraced and traced operations (at least one each, for at least
``--seconds`` of operation time) and prints per-layer metrics (see
``perfbench/spans.py``) with the tracing overhead: the traced minus the
untraced operation time. The last stdout line is one JSON object;
everything before it is a human-readable report.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_ROUNDS = 5

# build_sparse: ~10k turns, incl. 3 hot conversations of 1,500 turns that the
# salted repartition splits. Fixed job and stage costs still dominate a build
# at this size; a larger corpus does not fit the benchmark's time budget.
BUILD_CONVS = 800
BUILD_HOT_TURNS = 1500
# operator_suite: an sf0.01-shaped documents table (500 documents).
SUITE_DOCS = 500
# The flagship, one iterative graph loop and one similarity family. Cold
# per-key times are ~3-20 s each on a 4-core host (fixed job and stage costs
# dominate at this size), so the list is trimmed to keep a run under a minute.
SUITE_KEYS = (
    "pipe_triples",
    "graph_pagerank",
    "dedup_minhash",
)

SPANS = tuple(dict.fromkeys(name for *_, name in spans.PIPELINE_LAYERS)) + tuple(
    f"ops.{k}" for k in SUITE_KEYS)


def log(msg: str) -> None:
    print(msg, flush=True)


def warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out[int(entry)] = (ppid, rss_pages * page)
    return out


def descendants(table: dict[int, tuple[int, int]], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Host:
    """Run metadata (load, steal, other Spark JVMs) and the peak RSS of this
    process's descendants: the Spark JVM and its Python workers."""

    def __init__(self):
        self.load_start = _load1()
        self.cpu_start = _cpu_times()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        mine = descendants(_proc_table(), os.getpid())
        self.other_jvms = 0
        for entry in os.listdir("/proc"):
            if not entry.isdigit() or int(entry) in mine:
                continue
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"java" in cmd and b"org.apache.spark" in cmd:
                self.other_jvms += 1
        if self.other_jvms:
            warn(f"{self.other_jvms} other Spark JVM(s) running; timings will be noisy")

    def start(self) -> None:
        self._thread.start()

    def _sample(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.5):
            table = _proc_table()
            rss = sum(table[p][1] for p in descendants(table, me) if p in table)
            self.peak_rss = max(self.peak_rss, rss)

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        total0, steal0 = self.cpu_start
        total1, steal1 = _cpu_times()
        return {
            "load1_start": self.load_start,
            "load1_end": _load1(),
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "other_spark_jvms": self.other_jvms,
        }


# ----------------------------------------------------------------- spark
class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.tracer = None

    def session(self):
        """A fresh Spark session (new applicationId, so every kgforge memo
        keyed on it starts cold); the JVM is reused after the first call."""
        from kgforge.session import get_spark

        self.stop_session()
        self.spark = get_spark(
            master=f"local[{CORES}]",
            app_name=f"perfbench-{self.args.workload}",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
                # spans read their stages as they close; the higher limits
                # keep a span's stages in the status store until then
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            if self.tracer is None:
                self.tracer = spans.Tracer()
            self.tracer.bind(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, make_inputs) -> float:
        """Median over SETUP_ROUNDS of (fresh session + input generation).
        Stopping the previous round's session is not set-up and is not
        timed; it alone swings between ~0.1 and ~0.5 s."""
        times = []
        for r in range(SETUP_ROUNDS):
            self.stop_session()
            t0 = time.perf_counter()
            self.session()
            make_inputs(r)
            times.append(time.perf_counter() - t0)
        log(f"# setup rounds: {', '.join(f'{t:.3f}' for t in times)} s")
        return statistics.median(times)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            warn(f"wrong output: {what}")

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.stop_session()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            left = descendants(_proc_table(), os.getpid())
            if not left:
                return
            time.sleep(0.2)
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def timed_loop(bench: Bench, one_op, seconds: float):
    """Closed loop for traced runs: alternate untraced and traced operations
    until their summed time reaches ``seconds``, at least one of each.
    Returns (untraced times, traced times)."""
    plain, traced = [], []
    i = 0
    while sum(plain) + sum(traced) < seconds or i < 2:
        trace_this = i % 2 == 1
        (traced if trace_this else plain).append(one_op(i, trace_this))
        i += 1
    return plain, traced


# ------------------------------------------------------------- workloads
def build_sparse(bench: Bench) -> dict:
    from kgforge import pipeline
    from kgforge.pipeline import PipelineConfig

    import inputs

    dirs = [os.path.join(bench.work, f"in{r}") for r in range(SETUP_ROUNDS)]
    rows = inputs.pipeline_inputs(bench.args.seed, BUILD_CONVS, BUILD_HOT_TURNS)
    t0 = time.perf_counter()
    golden = inputs.reference_triples(*rows)
    log(f"# reference: {len(golden)} triples over {len(rows[0])} turns in "
        f"{time.perf_counter() - t0:.2f} s (untimed)")
    setup_s = bench.setup(lambda r: inputs.write_pipeline_inputs(
        dirs[r], *inputs.pipeline_inputs(bench.args.seed, BUILD_CONVS, BUILD_HOT_TURNS)))
    spark = bench.spark

    def build(i: int, traced: bool = False) -> float:
        # builds rotate over the set-up rounds' identical copies of the input
        tr, d, e = inputs.read_pipeline_inputs(spark, dirs[i % len(dirs)])
        wh = os.path.join(bench.work, f"wh{i}")
        cfg = PipelineConfig(warehouse_root=wh, run_id="build", num_partitions=CORES)
        t = time.perf_counter()
        with bench.tracer.patched() if traced else contextlib.nullcontext():
            pipeline.run_pipeline(spark, tr, d, e, cfg)
        wall = time.perf_counter() - t
        if traced:
            bench.tracer.release()
        bench.check(inputs.warehouse_triples(wh) == golden, f"build {i} triples")
        # the next build starts from an empty cache, like a fresh process
        spark.catalog.clearCache()
        shutil.rmtree(wh, ignore_errors=True)
        return wall

    if not bench.args.trace:
        # one cold build: the first in this JVM, as one spark-submit of
        # jobs/run_pipeline.py pays it (Python-worker start-up and JIT included)
        build_s = build(0)
        log(f"# cold build: {build_s:.3f} s")
        plain, traced = [build_s], []
    else:
        # traced runs compare like with like: an untimed build warms the
        # JVM, then untraced and traced builds alternate
        warm = build(-1)
        bench.attempted -= 1  # checked, but not a timed operation
        plain, traced = timed_loop(bench, build, bench.args.seconds)
        build_s = statistics.median(plain)
        log(f"# warm-up build {warm:.3f} s; untraced builds: "
            f"{', '.join(f'{x:.3f}' for x in plain)} s; traced builds: "
            f"{', '.join(f'{x:.3f}' for x in traced)} s")
    return {"op_s": build_s, "setup_s": setup_s,
            "report": {"build_s": (build_s, "s"),
                       "turns_per_s": (len(rows[0]) / build_s, "1/s")},
            "plain": plain, "traced": traced}


def operator_suite(bench: Bench) -> dict:
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check

    from kgforge.registry import all_ops

    import inputs

    seed = bench.args.seed
    dirs = [os.path.join(bench.work, f"sf{r}") for r in range(SETUP_ROUNDS)]
    setup_s = bench.setup(lambda r: inputs.write_documents(dirs[r], seed, SUITE_DOCS))
    sf = dirs[-1]
    ops = all_ops()
    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf, 'documents.parquet')}')")
    expected = {k: oracle_check.canon_rows(con.execute(ops[k].sql).fetchdf())
                for k in SUITE_KEYS}
    con.close()
    log(f"# DuckDB oracles: {time.perf_counter() - t0:.2f} s (untimed)")

    def suite_pass(label: str, traced: bool = False, fresh: bool = True) -> float:
        """Every key once, in order, from a fresh session."""
        spark = bench.session() if fresh else bench.spark
        times = {}
        with bench.tracer.patched() if traced else contextlib.nullcontext():
            for key in SUITE_KEYS:
                t = time.perf_counter()
                try:
                    with bench.tracer.span(f"ops.{key}") if traced else contextlib.nullcontext():
                        pdf = ops[key].fn(spark, sf).toPandas()
                except Exception:  # noqa: BLE001 — count it, keep the suite going
                    warn(f"{key} raised:\n{traceback.format_exc()}")
                    pdf = None
                times[key] = time.perf_counter() - t
                bench.check(pdf is not None and oracle_check.canon_rows(pdf) == expected[key],
                            f"{key} differs from its DuckDB oracle")
        if traced:
            bench.tracer.release()
        log(f"# {label} pass: " + ", ".join(f"{k}={v:.3f}" for k, v in times.items()) + " s")
        return sum(times.values())

    if not bench.args.trace:
        # one cold pass: the first in this JVM, in the last set-up round's
        # session, which has run no kgforge code yet
        suite_s = suite_pass("cold", fresh=False)
        return {"op_s": suite_s, "setup_s": setup_s,
                "report": {"suite_s": (suite_s, "s")}, "plain": [suite_s], "traced": []}
    # traced runs compare like with like: an untimed pass warms the JVM,
    # then an untraced and a traced pass each start from a fresh session
    suite_pass("warm-up")
    bench.attempted -= len(SUITE_KEYS)  # checked, but not a timed operation
    plain, traced = [suite_pass("untraced")], [suite_pass("traced", traced=True)]
    return {"op_s": plain[0], "setup_s": setup_s,
            "report": {"suite_s": (plain[0], "s")}, "plain": plain, "traced": traced}


WORKLOADS = {
    "build_sparse": build_sparse,
    "operator_suite": operator_suite,
}


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import kgforge  # noqa: F401
        import tests.oracle_ref  # noqa: F401
    except ImportError as exc:
        warn(f"cannot import the program from {ROOT}: {exc}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers are started by the JVM and inherit this
    # environment: give them the package and keep their scratch files here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher and the Spark driver) as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["KGFORGE_LOCAL_DIR"] = os.path.join(work, "spark-local")

    host = Host()
    host.start()
    bench = Bench(args, work)
    try:
        res = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        meta = host.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    peak_rss_mb = host.peak_rss / 1e6
    failed_frac = bench.failed / max(1, bench.attempted)
    log(f"# host: load1 {meta['load1_start']:.2f} -> {meta['load1_end']:.2f}, "
        f"steal {100 * meta['steal_frac']:.2f}% of cpu time, "
        f"other Spark JVMs {meta['other_spark_jvms']}")
    report = dict(res["report"])
    report.update({"setup_s": (res["setup_s"], "s"),
                   "peak_rss_mb": (peak_rss_mb, "MB"),
                   "failed_frac": (failed_frac, "fraction")})
    for name, (value, unit) in report.items():
        log(f"{args.workload}.{name} = {value:.4f} {unit}")

    if args.trace:
        plain_med = statistics.median(res["plain"])
        traced_med = statistics.median(res["traced"])
        layer = bench.tracer.summary(len(res["traced"]), SPANS)
        layer["trace.op_s"] = traced_med
        layer["trace.overhead_s"] = traced_med - plain_med
        layer["trace.overhead_frac"] = (traced_med - plain_med) / plain_med
        layer["trace.span_coverage"] = bench.tracer.root_wall() / sum(res["traced"])
        log(f"# tracing overhead: {traced_med - plain_med:+.3f} s "
            f"({100 * layer['trace.overhead_frac']:+.1f}%): traced {traced_med:.3f} s "
            f"vs untraced {plain_med:.3f} s per operation; root spans cover "
            f"{100 * layer['trace.span_coverage']:.1f}% of traced wall time")
        if bench.tracer.stages_missing:
            warn(f"{bench.tracer.stages_missing} stages were no longer in the status store")
        layer["session.peak_rss_mb"] = peak_rss_mb
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        for name, m in metrics.items():
            log(f"{args.workload}.{name} = {m['value']:.4f} {m['unit']}")
    else:
        metrics = {
            "op_s": {"value": res["op_s"], "unit": "s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
        }
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}), flush=True)
    return 0


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_frac") or metric.endswith("_coverage"):
        return "fraction"
    if "_per_" in metric or "_over_" in metric:
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
