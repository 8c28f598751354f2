"""Spans around calls into the engine's layers, and a collector that reads
Spark's in-process status stores (both work with ``spark.ui.enabled=false``).

Spans record name, start, end, parent and Spark job group; they stay in
memory and are written when the run ends. In a traced pass the ``Tracer``
swaps the public functions named in ``TRACED_FUNCTIONS`` for wrappers that
open a span and tag every Spark job the call fires with the span's own job
group. The engine's code is not changed; the wrappers are removed after the
pass.

The collector reads, per traced pass:
- stage totals from the core status store (run time, GC, shuffle, spill,
  task counts) and each stage's RDD operation scopes;
- per-operator SQL metrics from the SQL status store's plan graphs.
Operators map to layers by node kind (``layer_of_node``).
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import time
from dataclasses import dataclass, field

# (module, attribute, span name). The attribute is patched where callers
# look it up: pipeline.py binds the extract/transpose/assert functions at
# import time, write_full_history imports the table writers at call time.
TRACED_FUNCTIONS = (
    ("erigon_extract_spark.plans.pipeline", "build_full_history", "extract.build_full_history"),
    ("erigon_extract_spark.plans.pipeline", "assert_empty", "asserts.assert_empty"),
    ("erigon_extract_spark.plans.pipeline", "decode_account_changesets", "decode.decode_account_changesets"),
    ("erigon_extract_spark.plans.pipeline", "decode_storage_changesets", "decode.decode_storage_changesets"),
    ("erigon_extract_spark.plans.pipeline", "recover_code_hashes", "extract.recover_code_hashes"),
    ("erigon_extract_spark.plans.pipeline", "split_plain_state", "extract.split_plain_state"),
    ("erigon_extract_spark.plans.pipeline", "build_state_history", "transpose.build_state_history"),
    ("erigon_extract_spark.plans.pipeline", "write_full_history", "tables.write_full_history"),
    ("erigon_extract_spark.sources.tables", "write_sorted_parquet", "tables.write_sorted_parquet"),
    ("erigon_extract_spark.sources.tables", "write_manifest", "tables.write_manifest"),
    ("erigon_extract_spark.codec.refstream", "write_ref_files", "refstream.write_ref_files"),
    ("erigon_extract_spark.codec.refstream", "point_lookup", "refstream.point_lookup"),
    ("erigon_extract_spark.plans.state", "account_state_at", "state.account_state_at"),
    ("erigon_extract_spark.plans.state", "storage_state_at", "state.storage_state_at"),
    ("erigon_extract_spark.operators.dedup", "exact_dedup", "dedup.exact_dedup"),
    ("erigon_extract_spark.operators.dedup", "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
    ("erigon_extract_spark.operators.graph", "dedup_clusters", "graph.dedup_clusters"),
    ("erigon_extract_spark.operators.graph", "connected_components", "graph.connected_components"),
    ("erigon_extract_spark.operators.sampling", "stable_split", "sampling.stable_split"),
)

GROUP_PREFIX = "e2e-"
IDLE_GROUP = "e2e-idle"


def layer_of_node(name: str, desc: str = "", input_desc: str = "") -> str | None:
    """The engine layer a physical operator belongs to, by node kind:
    ArrowEvalPython -> decode, broadcast join -> extract, range Exchange and
    the Sort over it (``input_desc`` is the desc of the Exchange a node
    reads) -> transpose, Window -> windows, file write and Parquet scan ->
    tables. Other operators belong to whichever layer's span ran them."""
    if name == "ArrowEvalPython":
        return "decode"
    if name in ("BroadcastHashJoin", "BroadcastExchange"):
        return "extract"
    if name == "Exchange" and "rangepartitioning" in desc:
        return "transpose"
    if name == "Sort" and "rangepartitioning" in input_desc:
        return "transpose"
    if name == "Window":
        return "windows"
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand") or name == "WriteFiles":
        return "tables"
    if name.startswith("Scan parquet"):
        return "tables"
    return None


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "": 1,
}
_VALUE_RE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric -> its total in bytes, ms or count. Spark
    formats a metric as its total, optionally after a "total (min, med,
    max ...)" header line."""
    last = text.strip().splitlines()[-1] if text.strip() else ""
    m = _VALUE_RE.match(last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    group: str | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start


@dataclass
class Tracer:
    """Spans in memory. Disabled, ``span`` only yields; enabled, each span
    also sets its own Spark job group for the calls it wraps."""

    sc: object = None
    enabled: bool = False
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _patched: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        sp.group = f"{GROUP_PREFIX}{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent.group if parent else IDLE_GROUP, parent.name if parent else "")

    def patch(self, targets=TRACED_FUNCTIONS) -> None:
        for mod_name, attr, span_name in targets:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            setattr(mod, attr, self._wrap(fn, span_name))
            self._patched.append((mod, attr, fn))

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, fn = self._patched.pop()
            setattr(mod, attr, fn)

    def _wrap(self, fn, span_name):
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def descendants(self, root: Span) -> list:
        """``root`` and every span opened under it."""
        ids = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def self_times(self, root: Span) -> dict:
        """Seconds of self time per layer under ``root``: each span's
        duration less the time its direct children cover. Children run
        sequentially on one thread, so their durations add up."""
        spans = self.descendants(root)
        child_time: dict = {}
        for sp in spans[1:]:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.duration
        out: dict = {}
        for sp in spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.duration - child_time.get(sp.id, 0.0)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            if extra:
                f.write(json.dumps(extra, sort_keys=True) + "\n")
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "group": sp.group,
                }) + "\n")


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict  # metric name -> value
    children: list = field(default_factory=list)

    @property
    def input_desc(self) -> str:
        """Desc of the shuffle this node reads, through AQE's read nodes."""
        for c in self.children:
            if c.name == "Exchange":
                return c.desc
            if c.name in _SHUFFLE_READS:
                return c.input_desc
        return ""

    @property
    def layer(self) -> str | None:
        return layer_of_node(self.name, self.desc, self.input_desc)

    def m(self, name: str) -> float:
        return self.metrics.get(name, 0.0)


_SHUFFLE_READS = ("AQEShuffleRead", "ShuffleQueryStage", "InputAdapter")


@dataclass
class Execution:
    id: int
    groups: set
    jobs: set  # ids of the execution's jobs within the pass
    nodes: list


@dataclass
class Stage:
    id: int
    attempt: int
    num_tasks: int
    run_ms: float
    gc_ms: float
    shuffle_write_bytes: float
    spill_bytes: float
    input_bytes: float
    scopes: list


class StatusStores:
    """Reads the driver's status stores for jobs tagged with given groups."""

    def __init__(self, spark):
        self.spark = spark
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, groups: set) -> list[dict]:
        out = []
        for j in _iter(self.core.jobsList(None)):
            g = _opt(j.jobGroup())
            if g in groups:
                out.append({
                    "id": j.jobId(), "group": g, "name": j.name(),
                    "stages": list(_iter(j.stageIds())),
                })
        return out

    def stages(self, ids: set) -> list[Stage]:
        gw = self.spark.sparkContext._gateway
        out = []
        for s in _iter(self.core.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            if s.stageId() not in ids or str(s.status()) != "COMPLETE":
                continue
            try:
                scopes = _scope_names(self.core.operationGraphForStage(s.stageId()).rootCluster())
            except Exception:  # graph evicted: the stage still counts, unattributed
                scopes = []
            out.append(Stage(
                s.stageId(), s.attemptId(), s.numTasks(), float(s.executorRunTime()),
                float(s.jvmGcTime()), float(s.shuffleWriteBytes()),
                float(s.memoryBytesSpilled() + s.diskBytesSpilled()), float(s.inputBytes()), scopes,
            ))
        return out

    def task_ms(self, stage: Stage) -> list[float]:
        out = []
        for t in _iter(self.core.taskList(stage.id, stage.attempt, 100_000)):
            d = _opt(t.duration())
            if d is not None:
                out.append(float(d))
        return out

    def executions(self, job_groups: dict) -> list[Execution]:
        """Executions whose jobs ran under the given job id -> group map."""
        out = []
        for e in _iter(self.sql.executionsList()):
            jobs = {j for j in _iter(e.jobs().keySet()) if j in job_groups}
            if jobs:
                groups = {job_groups[j] for j in jobs}
                out.append(Execution(e.executionId(), groups, jobs, self._nodes(e.executionId())))
        return out

    def _nodes(self, eid: int) -> list[Node]:
        graph = self.sql.planGraph(eid)
        values = self.sql.executionMetrics(eid)
        nodes = {}
        for n in _iter(graph.allNodes()):
            metrics = {}
            for m in _iter(n.metrics()):
                text = _opt(values.get(m.accumulatorId()))
                if text is not None:
                    metrics[m.name()] = metrics.get(m.name(), 0.0) + parse_metric(text)
            nodes[n.id()] = Node(n.id(), n.name(), n.desc(), metrics)
        for e in _iter(graph.edges()):
            if e.toId() in nodes and e.fromId() in nodes:
                nodes[e.toId()].children.append(nodes[e.fromId()])
        return list(nodes.values())


def _scope_names(cluster) -> list[str]:
    out = [cluster.name()]
    for c in _iter(cluster.childClusters()):
        out.extend(_scope_names(c))
    return out


@dataclass
class PassProfile:
    """Everything the status stores hold for one traced pass."""

    spans: list
    jobs: list
    stages: list
    executions: list
    stores: object

    @classmethod
    def collect(cls, spark, tracer: Tracer, root: Span) -> "PassProfile":
        stores = StatusStores(spark)
        spans = tracer.descendants(root)
        groups = {sp.group: sp for sp in spans}
        jobs = stores.jobs(set(groups))
        stage_ids = {s for j in jobs for s in j["stages"]}
        return cls(
            spans, jobs, stores.stages(stage_ids),
            stores.executions({j["id"]: j["group"] for j in jobs}), stores,
        )

    def dump(self, path: str) -> None:
        """Write the jobs, stages and per-operator metrics of the pass."""
        doc = {
            "jobs": self.jobs,
            "stages": [vars(s) for s in self.stages],
            "executions": [
                {"id": e.id, "groups": sorted(e.groups), "jobs": sorted(e.jobs), "nodes": [
                    {"id": n.id, "name": n.name, "layer": n.layer, "desc": n.desc[:200],
                     "children": [c.id for c in n.children], "metrics": n.metrics}
                    for n in e.nodes
                ]}
                for e in self.executions
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=sorted)

    def span_groups(self, prefix: str) -> set:
        """Job groups of spans named ``prefix``* and of everything under them."""
        ids = {sp.id for sp in self.spans if sp.name.startswith(prefix)}
        for sp in self.spans:
            if sp.parent in ids:
                ids.add(sp.id)
        return {sp.group for sp in self.spans if sp.id in ids}

    def span_seconds(self, prefix: str) -> float:
        """Wall seconds in outermost spans named ``prefix``*."""
        names = {sp.id: sp.name for sp in self.spans}
        total = 0.0
        for sp in self.spans:
            if sp.name.startswith(prefix) and not names.get(sp.parent, "").startswith(prefix):
                total += sp.duration
        return total

    def jobs_in(self, groups: set) -> list:
        return [j for j in self.jobs if j["group"] in groups]

    def stages_in(self, groups: set) -> list[Stage]:
        return self.stages_of({j["id"] for j in self.jobs_in(groups)})

    def stages_of(self, job_ids: set) -> list[Stage]:
        ids = {s for j in self.jobs if j["id"] in job_ids for s in j["stages"]}
        return [s for s in self.stages if s.id in ids]

    def nodes(self, groups: set | None = None):
        for e in self.executions:
            if groups is None or e.groups & groups:
                yield from e.nodes
