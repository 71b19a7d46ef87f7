"""Per-layer spans for the kgforge benchmark.

Each traced layer is a public module attribute of kgforge (a function, or a
``Warehouse`` method). ``Tracer.patched()`` swaps those attributes for
wrappers defined here, so no program file is edited and untraced runs execute
the original code. A wrapper:

- opens a span with its own Spark job group, so every job the layer runs is
  tagged with the span that caused it;
- persists and counts a lazily returned DataFrame before the span closes, so
  its execution is charged to the layer that planned it (this extra job is
  part of the tracing overhead the benchmark reports);
- reads the span's stage metrics from Spark's status store as the span
  closes, before the store's retention limit can evict them. Stages that AQE
  or shuffle reuse skipped are not counted.
"""

from __future__ import annotations

import contextlib
import glob
import os
import statistics
import time

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame

# (module, attribute, span name). Both metrics writers share one span name:
# the pipeline calls them once each per run, as its checkpoint layer.
PIPELINE_LAYERS = (
    ("kgforge.skew", "salted_repartition", "skew.salted_repartition"),
    ("kgforge.extract", "extract_mentions", "extract.extract_mentions"),
    ("kgforge.link", "link_mentions", "link.link_mentions"),
    ("kgforge.canon", "canonical_map_auto", "canon.canonical_map_auto"),
    ("kgforge.canon", "remap_triples", "canon.remap_triples"),
    ("kgforge.triples", "build_raw_triples", "triples.build_raw_triples"),
    ("kgforge.triples", "dedup_triples", "triples.dedup_triples"),
    ("kgforge.triples", "build_nodes", "triples.build_nodes"),
    ("kgforge.io.tableio.Warehouse", "write_snapshot", "tableio.write_snapshot"),
    ("kgforge.io.tableio.Warehouse", "merge", "tableio.merge"),
    ("kgforge.metrics", "record_stage_cached", "metrics.record_stage"),
    ("kgforge.metrics", "record_stage_from_files", "metrics.record_stage"),
    ("kgforge.pipeline", "run_pipeline", "pipeline.run_pipeline"),
)

STAGE_FIELDS = ("wall_s", "exec_s", "stages", "tasks", "shuffle_mb")


class Span:
    __slots__ = ("name", "group", "parent", "start", "end", "children", "stats")

    def __init__(self, name: str, group: str, parent: Span | None):
        self.name = name
        self.group = group
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.children: list[Span] = []
        # own (not inherited) Spark work: jobs run while this span was innermost
        self.stats = {"exec_s": 0.0, "stages": 0, "tasks": 0, "shuffle_mb": 0.0,
                      "gc_s": 0.0, "spill_mb": 0.0}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def total(self, field: str) -> float:
        return self.stats[field] + sum(c.total(field) for c in self.children)


class Tracer:
    """Spans for one benchmark process. Spans stay in memory; ``summary``
    turns them into flat per-layer metrics at the end of the run."""

    def __init__(self):
        self.spark = self.sc = self.store = None
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self.counts: dict[str, float] = {}
        self.cache_peak_mb = 0.0
        self.stages_missing = 0
        self._own_cached: list[DataFrame] = []
        self._own_rdd_ids: set[int] = set()
        self._seq = 0

    def bind(self, spark) -> None:
        """Record into ``spark``'s session from now on (spans survive a
        session restart; each span reads its stages as it closes)."""
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, f"perfbench-{os.getpid()}-{self._seq}", parent)
        (parent.children if parent else self.roots).append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._read_stages(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self._sample_cache()

    def _read_stages(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        seen: set[int] = set()
        for job_id in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(job_id)
            if info is None:
                self.stages_missing += 1
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the status store
                    self.stages_missing += 1
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                s = sp.stats
                s["stages"] += 1
                s["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                s["exec_s"] += sd.executorRunTime() / 1e3
                s["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                s["gc_s"] += sd.jvmGcTime() / 1e3
                s["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6

    def _sample_cache(self) -> None:
        held = sum(
            info.memSize() + info.diskSize()
            for info in self.sc._jsc.sc().getRDDStorageInfo()
            if info.id() not in self._own_rdd_ids
        )
        self.cache_peak_mb = max(self.cache_peak_mb, held / 1e6)

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    # ------------------------------------------------------------ wrappers
    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist and count ``df`` inside the current span; the cached copy
        is the tracer's and is excluded from ``session.cache_mb``."""
        df = df.persist()
        n = df.count()
        self._own_cached.append(df)
        try:
            cd = self.spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
            if cd.isDefined():
                rep = cd.get().cachedRepresentation()
                self._own_rdd_ids.add(rep.cacheBuilder().cachedColumnBuffers().id())
        except Py4JError:  # internal API moved: only the cache_mb exclusion is lost
            pass
        return df, n

    def release(self) -> None:
        """Drop the tracer's own cached copies (call between operations)."""
        for df in self._own_cached:
            df.unpersist()
        self._own_cached.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, n = tracer.materialize(out)
                    tracer.add(f"rows.{name}", n)
                    if name == "skew.salted_repartition":
                        tracer._part_skew(out)
                elif name == "tableio.merge" or (
                    # a write_snapshot nested in a merge is counted by the merge
                    name == "tableio.write_snapshot"
                    and (sp.parent is None or sp.parent.name != "tableio.merge")
                ):
                    table = args[1] if name == "tableio.write_snapshot" else args[2]
                    tracer._snapshot_files(args[0], table, out)
                return out

        traced.__wrapped__ = fn
        return traced

    def _part_skew(self, df: DataFrame) -> None:
        """Rows per partition of the salted repartition's output (one small
        job on the tracer's cached copy, charged to the skew span)."""
        from pyspark.sql import functions as F

        rows = [r[0] for r in df.groupBy(F.spark_partition_id()).count().select("count").collect()]
        if rows:
            self.add("skew.max_over_median_part_rows", max(rows) / statistics.median(rows))
            self.add("skew.calls", 1)

    def _snapshot_files(self, wh, table: str, snap: str) -> None:
        """Parts rewritten vs hard-linked, and bytes newly written, read from
        the committed snapshot directory."""
        data_dir = os.path.join(wh.root, table, snap)
        new_bytes = 0
        for part in glob.glob(os.path.join(data_dir, "*=*")) or [data_dir]:
            files = glob.glob(os.path.join(part, "*.parquet"))
            stats = [os.stat(f) for f in files]
            fresh = [s for s in stats if s.st_nlink == 1]
            new_bytes += sum(s.st_size for s in fresh)
            if part != data_dir:
                self.add("tableio.parts_rewritten" if fresh else "tableio.parts_linked", 1)
        self.add("tableio.bytes_written_mb", new_bytes / 1e6)

    @contextlib.contextmanager
    def patched(self):
        """Install the layer wrappers for the duration of the block."""
        import importlib

        saved = []
        for path, attr, name in PIPELINE_LAYERS:
            if path.endswith(".Warehouse"):
                owner = importlib.import_module(path.rsplit(".", 1)[0]).Warehouse
            else:
                owner = importlib.import_module(path)
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------------- summary
    def root_wall(self) -> float:
        return sum(r.wall for r in self.roots)

    def summary(self, n_ops: int, layer_names: list[str]) -> dict[str, float]:
        """Flat per-layer metrics, averaged per traced operation."""
        agg: dict[str, dict[str, float]] = {n: dict.fromkeys(STAGE_FIELDS, 0.0) for n in layer_names}
        self_s = 0.0
        gc_s = spill_mb = 0.0

        def visit(sp: Span) -> None:
            nonlocal self_s, gc_s, spill_mb
            gc_s += sp.stats["gc_s"]
            spill_mb += sp.stats["spill_mb"]
            # a span nested in a span of the same layer is already inside it
            if sp.name in agg and not _has_ancestor(sp, sp.name):
                a = agg[sp.name]
                a["wall_s"] += sp.wall
                for f in ("exec_s", "stages", "tasks", "shuffle_mb"):
                    a[f] += sp.total(f)
            if sp.name == "pipeline.run_pipeline":
                self_s += sp.wall - sum(c.wall for c in sp.children)
            for c in sp.children:
                visit(c)

        for r in self.roots:
            visit(r)
        k = max(1, n_ops)
        out = {f"{n}.{f}": v / k for n, fields in agg.items() for f, v in fields.items()}
        out["pipeline.run_pipeline.self_s"] = self_s / k
        c = self.counts
        out["link.linked_per_mention"] = _ratio(c.get("rows.link.link_mentions"),
                                                c.get("rows.extract.extract_mentions"))
        out["triples.final_per_raw"] = _ratio(c.get("rows.triples.dedup_triples"),
                                              c.get("rows.triples.build_raw_triples"))
        out["skew.max_over_median_part_rows"] = _ratio(
            c.get("skew.max_over_median_part_rows"), c.get("skew.calls"))
        for name in ("tableio.parts_rewritten", "tableio.parts_linked", "tableio.bytes_written_mb"):
            out[name] = c.get(name, 0.0) / k
        out["session.cache_mb"] = self.cache_peak_mb
        out["session.gc_s"] = gc_s / k
        out["session.spill_mb"] = spill_mb / k
        return out


def _has_ancestor(sp: Span, name: str) -> bool:
    p = sp.parent
    while p is not None:
        if p.name == name:
            return True
        p = p.parent
    return False


def _ratio(num, den) -> float:
    return num / den if num is not None and den else 0.0
