"""The three workloads. Each one sets up its inputs from the seed, then runs
its request in a closed loop (one request outstanding at a time), checking
every answer.

The first request of a fresh session pays class loading, code generation
and Python-worker start, about 15 s on a 4-core host. So each workload
warms up first: the batch workloads run their request once on the real
inputs (reported as ``*_cold_wall_s``), archive_reads runs a
few lookups and a snapshot. Requests keep getting faster for about a
minute after that while the JIT compiles (an ETL build goes from 6.9 s to
4.5 s over ten builds), longer than a run can afford. So the number of
measured requests is fixed by ``--seconds`` and a nominal request time,
not by the clock: a clock-bound loop runs more requests on a faster host,
samples a later point of that curve, and makes the median depend on the
host's speed.

A request is timed from raw input to materialised output with plan
construction included, both in wall time and in the CPU seconds the run's
processes spend on it:

- etl_full_build: Parquet changesets -> ``build_full_history`` (strict) ->
  ``write_full_history`` (sorted store + manifest) -> ``write_ref_files``
  (reference-dialect shards);
- archive_reads: a fixed read mix. Each as-of lookup goes through
  ``account_state_at`` / ``storage_state_at`` on the Parquet store,
  answered by ``collect``, and is repeated through ``point_lookup`` on the
  merged paged file; more ``point_lookup`` calls top the ref sample up,
  then a few full-state snapshots are written at fixed blocks;
- corpus_curation: ``exact_dedup`` -> ``ngram_jaccard_pairs`` ->
  ``dedup_clusters`` -> keep the smallest id per cluster -> ``stable_split``
  written as Parquet.

Every engine call goes through its module attribute, so the traced run can
wrap it in a span without a second copy of the workload code.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from e2ebench import inputs, stats
from e2ebench.checks import Checker, spark_digest
from e2ebench.trace import IDLE_GROUP, PassProfile, StatusStores, Tracer

# Sizes. A 100k-address chain or a 50k-document corpus takes 20-25 s
# per warm request on a 4-core host; these fit a cold warm-up and several
# warm requests into each run of the benchmark's time budget.
ETL_ADDRESSES = 4_000  # ~37k history rows
READS_ADDRESSES = 3_000
CORPUS_DOCS = 3_000
WARMUP_LOOKUPS = 8
# nominal seconds per request: --seconds / nominal = requests measured
ETL_REQUEST_S = 8.0
CURATION_REQUEST_S = 8.0
LOOKUP_REQUEST_S = 0.2
# set-ups per run, median reported: the cheap ones repeat enough to damp
# timer and first-use noise; archive_reads' includes a cold ETL build
SETUP_REPEATS = {"etl_full_build": 3, "archive_reads": 1, "corpus_curation": 5}
REF_LOOKUPS = stats.samples_needed(99)  # p99 with ten samples beyond it
SNAPSHOT_BLOCK_SHARES = (1 / 3, 2 / 3, 1.0)
TRACED_LOOKUPS = 20
PAIRS_GROUP = "e2e-pairs"


def n_requests(seconds: float, nominal_s: float) -> int:
    """Requests that fill ``seconds`` at the nominal request time."""
    return max(1, round(seconds / nominal_s))


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(suffix)
    )


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    checker: Checker = field(default_factory=Checker)
    cpu_s: object = time.process_time  # CPU seconds used so far by the run
    tracer: Tracer = field(default_factory=Tracer)
    named: dict = field(default_factory=dict)  # metric -> (value, unit)
    samples: dict = field(default_factory=dict)  # metric -> every sample

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def record(self, name: str, value: float, unit: str) -> None:
        self.named[name] = (value, unit)


class Workload:
    """Set-up, warm-up, measured loop and traced pass of one workload."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Bring the session to the state the measured requests assume."""

    def measure(self) -> dict:
        """Run the closed loop; returns the end-to-end metrics."""
        raise NotImplementedError

    def traced_pass(self) -> None:
        """One fixed-size pass, run once untraced and once traced."""
        raise NotImplementedError

    def check_pass(self) -> None:
        """Check the outputs of the last ``traced_pass``."""

    def final_frame(self):
        """The final DataFrame of the last pass, for count-vs-materialise."""
        raise NotImplementedError

    def layer_extras(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# etl_full_build
# ---------------------------------------------------------------------------

def _read_chain(spark, in_dir: str):
    from erigon_extract_spark.plans.pipeline import PipelineTables
    from erigon_extract_spark.sources.tables import read_table

    return PipelineTables(
        *(read_table(spark, os.path.join(in_dir, f"{t}.parquet"), t) for t in inputs.CHAIN_TABLES)
    )


def _history_items(store):
    """State-history rows in the codec's unified item shape."""
    from pyspark.sql import functions as F

    return store.select(
        (F.col("kind") == 1).alias("is_storage"), F.col("block_from").alias("block"),
        "address", "nonce", "balance", "incarnation", "code_hash", "slot", "value",
    )


def build_archive(spark, in_dir: str, out_dir: str, with_ref: bool = True):
    """The paper's job: raw tables -> sorted store + manifest (+ reference
    shards). Returns (state history frame, manifest, shard manifest)."""
    from erigon_extract_spark.codec import refstream
    from erigon_extract_spark.plans import pipeline

    store_dir = os.path.join(out_dir, "store")
    sh = pipeline.build_full_history(spark, _read_chain(spark, in_dir), strict=True)
    manifest = pipeline.write_full_history(sh, store_dir)
    shards = None
    if with_ref:
        ref_dir = os.path.join(out_dir, "ref")
        shutil.rmtree(ref_dir, ignore_errors=True)
        shards = refstream.write_ref_files(
            _history_items(spark.read.parquet(store_dir)), ref_dir, strategy=1
        )
    return sh, manifest, shards


class EtlFullBuild(Workload):
    name = "etl_full_build"

    def setup(self) -> None:
        from erigon_extract_spark import fixtures

        fx = inputs.generate_chain(self.ctx.seed, ETL_ADDRESSES)
        self.sizes = inputs.write_chain(fx, self.ctx.path("etl", "in"))
        self.expected = fixtures.expected_state_history(fx)
        inputs.write_history(self.expected, self.ctx.path("etl", "expected.parquet"))
        self.oracle_digest = None

    def warmup(self) -> None:
        t = time.perf_counter()
        self._build()
        self.ctx.record("etl_cold_wall_s", time.perf_counter() - t, "s")

    def _build(self):
        self.result = build_archive(self.spark, self.ctx.path("etl", "in"), self.ctx.path("etl", "out"))

    def _check(self) -> None:
        ck = self.ctx.checker
        _, manifest, shards = self.result
        try:
            if self.oracle_digest is None:
                self.oracle_digest = spark_digest(
                    self.spark.read.parquet(self.ctx.path("etl", "expected.parquet")),
                    inputs.HISTORY_COLUMNS,
                )
            store = self.spark.read.parquet(self.ctx.path("etl", "out", "store"))
            ck.expect("etl store digest", spark_digest(store, inputs.HISTORY_COLUMNS), self.oracle_digest)
            ck.expect("etl manifest rows", manifest["counts"]["total"], len(self.expected))
            ck.expect("etl shard items", sum(s["n_items"] for s in shards), len(self.expected))
        except Exception as exc:  # a crashed check is a failed operation
            ck.error("etl check", exc)

    def measure(self) -> dict:
        walls, cpus = [], []
        for _ in range(n_requests(self.ctx.seconds, ETL_REQUEST_S)):
            t, c = time.perf_counter(), self.ctx.cpu_s()
            self._build()
            walls.append(time.perf_counter() - t)
            cpus.append(self.ctx.cpu_s() - c)
            self._check()
        self.ctx.samples.update(etl_wall_s=walls, etl_cpu_s=cpus)
        rows = len(self.expected)
        store_bytes = _dir_bytes(self.ctx.path("etl", "out", "store"))
        ref_bytes = sum(s["n_bytes"] for s in self.result[2])
        c = self.ctx
        c.record("etl_wall_s", stats.median(walls), "s")
        c.record("etl_builds", len(walls), "count")
        c.record("history_rows", rows, "count")
        c.record("store_bytes_per_row", store_bytes / rows, "B")
        c.record("ref_bytes_per_row", ref_bytes / rows, "B")
        c.record("etl_cpu_s", stats.median(cpus), "s")
        return {"request_cpu_s": stats.median(cpus), "bytes_per_row": store_bytes / rows}

    def traced_pass(self) -> None:
        self._build()

    def check_pass(self) -> None:
        self._check()

    def final_frame(self):
        return self.result[0]

    def layer_extras(self) -> dict:
        store = self.ctx.path("etl", "out", "store")
        row_groups = sum(
            pq.ParquetFile(os.path.join(store, f)).metadata.num_row_groups
            for f in os.listdir(store) if f.endswith(".parquet")
        )
        return {
            "raw_rows": self.sizes["account_changesets"] + self.sizes["storage_changesets"]
            + self.sizes["plain_state"],
            "row_groups_written": row_groups,
            "ref_bytes_written": sum(s["n_bytes"] for s in self.result[2]),
        }


# ---------------------------------------------------------------------------
# archive_reads
# ---------------------------------------------------------------------------

def _bytes(v):
    return None if v is None else bytes(v)


class ArchiveReads(Workload):
    name = "archive_reads"

    def setup(self) -> None:
        from erigon_extract_spark import fixtures
        from erigon_extract_spark.codec import refstream

        fx = inputs.generate_chain(self.ctx.seed, READS_ADDRESSES)
        inputs.write_chain(fx, self.ctx.path("reads", "in"))
        self.oracle = inputs.Timelines.from_history(fixtures.expected_state_history(fx))
        self.latest = fx.latest_block
        build_archive(self.spark, self.ctx.path("reads", "in"), self.ctx.path("reads", "out"), with_ref=False)
        self.store_dir = self.ctx.path("reads", "out", "store")
        self.merged_path = self.ctx.path("reads", "out", "full-history.dat")
        rows = pq.read_table(self.store_dir, columns=inputs.HISTORY_COLUMNS).to_pylist()
        rows.sort(key=lambda r: (r["address"], r["kind"], r["incarnation"] if r["kind"] else 0,
                                 r["slot"] or b"", r["block_from"]))
        items = [
            refstream.StorageItem(r["block_from"], r["address"], r["incarnation"], r["slot"], r["value"])
            if r["kind"] else
            refstream.AccountItem(r["block_from"], r["address"], r["nonce"], r["balance"],
                                  r["incarnation"], r["code_hash"])
            for r in rows
        ]
        with open(self.merged_path, "wb") as f:
            f.write(refstream.encode_full_history_file(items, 0, self.latest + 1))
        self.history_rows = len(rows)
        self.requests = inputs.lookup_requests(self.ctx.seed, self.oracle, self.latest, REF_LOOKUPS)

    def warmup(self) -> None:
        store = self.spark.read.parquet(self.store_dir)
        for req in inputs.lookup_requests(self.ctx.seed + 1, self.oracle, self.latest, WARMUP_LOOKUPS):
            self._store_lookup(store, req)
            self._ref_lookup(req)
        self._snapshot(store, self.latest, self.ctx.path("reads", "snap"))

    # -- one request each ---------------------------------------------------

    def _store_lookup(self, store, req):
        from erigon_extract_spark.plans import state

        if req[0] == "account":
            _, addr, block = req
            with self.ctx.tracer.span("bench.store_lookup"):
                df = state.account_state_at(store, block, addr)
                with self.ctx.tracer.span("spark.collect"):
                    rows = df.collect()
            return [(r["block_from"], (r["nonce"], _bytes(r["balance"]), r["incarnation"],
                                       _bytes(r["code_hash"]))) for r in rows]
        _, addr, inc, slot, block = req
        with self.ctx.tracer.span("bench.store_lookup"):
            df = state.storage_state_at(store, block, addr, slot)
            with self.ctx.tracer.span("spark.collect"):
                rows = df.collect()
        return [(r["block_from"], _bytes(r["value"])) for r in rows if r["incarnation"] == inc]

    def _ref_lookup(self, req):
        from erigon_extract_spark.codec import refstream

        if req[0] == "account":
            _, addr, block = req
            it, st = refstream.point_lookup(self.merged_path, addr, block)
            ans = None if it is None else (it.block, (it.nonce, it.balance, it.incarnation, it.code_hash))
        else:
            _, addr, inc, slot, block = req
            it, st = refstream.point_lookup(self.merged_path, addr, block, slot=slot, incarnation=inc)
            ans = None if it is None else (it.block, it.value)
        return ans, st

    def _want(self, req):
        if req[0] == "account":
            return self.oracle.account_at(req[1], req[2])
        return self.oracle.storage_at(req[1], req[2], req[3], req[4])

    def _snapshot(self, store, block: int, out_dir: str) -> tuple[int, int]:
        from erigon_extract_spark.plans import state

        with self.ctx.tracer.span("bench.snapshot"):
            acct = state.account_state_at(store, block)
            stor = state.storage_state_at(store, block)
            with self.ctx.tracer.span("spark.write"):
                acct.write.mode("overwrite").parquet(os.path.join(out_dir, "accounts"))
                stor.write.mode("overwrite").parquet(os.path.join(out_dir, "storage"))
        return (
            pq.ParquetDataset(os.path.join(out_dir, "accounts")).read(columns=["address"]).num_rows,
            pq.ParquetDataset(os.path.join(out_dir, "storage")).read(columns=["address"]).num_rows,
        )

    # -- measured loop ------------------------------------------------------

    def _lookup_pair(self, req, store_ms, ref_ms, ref_stats) -> None:
        ck = self.ctx.checker
        want = self._want(req)
        try:
            t = time.perf_counter()
            got = self._store_lookup(self.store, req)
            store_ms.append(1000 * (time.perf_counter() - t))
            ck.expect(f"store {req[0]} lookup", got, [] if want is None else [want])
        except Exception as exc:
            ck.error(f"store {req[0]} lookup", exc)
        self._ref_only(req, want, ref_ms, ref_stats)

    def _ref_only(self, req, want, ref_ms, ref_stats) -> None:
        ck = self.ctx.checker
        try:
            t = time.perf_counter()
            got, st = self._ref_lookup(req)
            ref_ms.append(1000 * (time.perf_counter() - t))
            ref_stats.append(st)
            ck.expect(f"ref {req[0]} lookup", got, want)
        except Exception as exc:
            ck.error(f"ref {req[0]} lookup", exc)

    def _snapshots(self, walls=None, shares=SNAPSHOT_BLOCK_SHARES) -> None:
        ck = self.ctx.checker
        for share in shares:
            block = int(share * (self.latest + 1))
            try:
                t = time.perf_counter()
                got = self._snapshot(self.store, block, self.ctx.path("reads", "snap"))
                if walls is not None:
                    walls.append(time.perf_counter() - t)
                ck.expect(f"snapshot at {block}", got, self.oracle.snapshot_sizes(block))
            except Exception as exc:
                ck.error(f"snapshot at {block}", exc)

    def measure(self) -> dict:
        self.store = self.spark.read.parquet(self.store_dir)
        store_ms, ref_ms, ref_stats, snap_s = [], [], [], []
        n = n_requests(self.ctx.seconds, LOOKUP_REQUEST_S)
        cpu0 = self.ctx.cpu_s()
        for req in self.requests[:n]:
            self._lookup_pair(req, store_ms, ref_ms, ref_stats)
        for req in self.requests[n:REF_LOOKUPS]:
            self._ref_only(req, self._want(req), ref_ms, ref_stats)
        self._snapshots(snap_s)
        read_mix_cpu_s = self.ctx.cpu_s() - cpu0  # the answers' checks included
        c = self.ctx
        c.samples.update(store_lookup_ms=store_ms, ref_lookup_ms=ref_ms, snapshot_s=snap_s)
        c.record("store_lookup_p50_ms", stats.median(store_ms), "ms")
        p = stats.tail_percentile(len(store_ms))
        if p is not None:
            c.record(f"store_lookup_p{p:g}_ms", stats.percentile(store_ms, p), "ms")
        c.record("store_lookups", len(store_ms), "count")
        c.record("ref_lookup_p50_ms", stats.median(ref_ms), "ms")
        p = stats.tail_percentile(len(ref_ms))
        c.record(f"ref_lookup_p{p:g}_ms", stats.percentile(ref_ms, p), "ms")
        c.record("ref_lookups", len(ref_ms), "count")
        c.record("snapshot_s", stats.median(snap_s), "s")
        # every read of the mix counts, each path by its share of the time
        read_mix_s = (sum(store_ms) + sum(ref_ms)) / 1000 + sum(snap_s)
        c.record("read_mix_s", read_mix_s, "s")
        ref_bytes_per_row = os.path.getsize(self.merged_path) / self.history_rows
        c.record("store_bytes_per_row", _dir_bytes(self.store_dir) / self.history_rows, "B")
        c.record("ref_bytes_per_row", ref_bytes_per_row, "B")
        c.record("read_mix_cpu_s", read_mix_cpu_s, "s")
        return {"request_cpu_s": read_mix_cpu_s, "bytes_per_row": ref_bytes_per_row}

    def traced_pass(self) -> None:
        self.store = self.spark.read.parquet(self.store_dir)
        self.ref_stats = []
        for req in self.requests[:TRACED_LOOKUPS]:
            self._lookup_pair(req, [], [], self.ref_stats)
        self._snapshots(shares=SNAPSHOT_BLOCK_SHARES[-1:])

    def final_frame(self):
        from erigon_extract_spark.plans import state

        return state.storage_state_at(self.store, self.latest + 1)

    def layer_extras(self) -> dict:
        return {"lookups": TRACED_LOOKUPS, "ref_stats": self.ref_stats}


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

def curate(spark, corpus_path: str, out_dir: str, tracer: Tracer):
    """exact dedup -> near-dup pairs -> clusters -> one doc per cluster ->
    split, written as Parquet. Returns the final DataFrame and the pair
    list."""
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators import dedup, graph, sampling

    docs = spark.read.parquet(corpus_path)
    unique = dedup.exact_dedup(docs)
    pairs = dedup.ngram_jaccard_pairs(unique, threshold=0.5)
    clusters = graph.dedup_clusters(pairs, all_ids=unique)
    keep = clusters.filter(F.col("doc_id") == F.col("cluster")).select("doc_id")
    out = sampling.stable_split(unique.join(keep, "doc_id"), "doc_id")
    with tracer.span("spark.write"):
        out.write.mode("overwrite").parquet(out_dir)
    return out, pairs


class CorpusCuration(Workload):
    name = "corpus_curation"

    def setup(self) -> None:
        texts, self.n_base = inputs.corpus(self.ctx.seed, CORPUS_DOCS)
        inputs.write_corpus(texts, self.ctx.path("curation", "corpus.parquet"))

    def warmup(self) -> None:
        t = time.perf_counter()
        self._run()
        self.ctx.record("curation_cold_wall_s", time.perf_counter() - t, "s")

    def _run(self):
        return curate(self.spark, self.ctx.path("curation", "corpus.parquet"),
                      self.ctx.path("curation", "curated"), self.ctx.tracer)

    def _check(self) -> int:
        ck = self.ctx.checker
        try:
            t = pq.ParquetDataset(self.ctx.path("curation", "curated")).read(columns=["doc_id", "split"])
            ids = sorted(t.column("doc_id").to_pylist())
            ck.expect("curation kept ids", ids, list(range(self.n_base)))
            ck.expect("curation splits", set(t.column("split").to_pylist()) <= {"train", "val", "test"}, True)
            return len(ids)
        except Exception as exc:
            ck.error("curation check", exc)
            return 0

    def measure(self) -> dict:
        walls, cpus = [], []
        for _ in range(n_requests(self.ctx.seconds, CURATION_REQUEST_S)):
            t, c = time.perf_counter(), self.ctx.cpu_s()
            self._run()
            walls.append(time.perf_counter() - t)
            cpus.append(self.ctx.cpu_s() - c)
            self.kept = self._check()
        self.ctx.samples.update(curation_wall_s=walls, curation_cpu_s=cpus)
        out_bytes = _dir_bytes(self.ctx.path("curation", "curated"))
        c = self.ctx
        c.record("curation_wall_s", stats.median(walls), "s")
        c.record("curation_runs", len(walls), "count")
        c.record("kept_docs", self.kept, "count")
        c.record("curation_cpu_s", stats.median(cpus), "s")
        return {"request_cpu_s": stats.median(cpus), "bytes_per_row": out_bytes / max(1, self.kept)}

    def traced_pass(self) -> None:
        self.final, self.pairs = self._run()

    def check_pass(self) -> None:
        self._check()

    def final_frame(self):
        return self.final

    def layer_extras(self) -> dict:
        """Candidate and verified pairs of the last pass's pair list. In a
        pass the pair join's last stage runs inside the next cluster-round
        execution, which drops the candidate filter's row count; counting
        the pair list after the traced pass runs the same plan in one
        execution of its own."""
        sc = self.spark.sparkContext
        sc.setJobGroup(PAIRS_GROUP, "count the pair list")
        try:
            verified = self.pairs.count()
        finally:
            sc.setJobGroup(IDLE_GROUP, "")
        stores = StatusStores(self.spark)
        groups = {j["id"]: j["group"] for j in stores.jobs({PAIRS_GROUP})}
        nodes = [n for e in stores.executions(groups) for n in e.nodes]
        return {
            "candidate_pairs": sum(n.m("number of output rows") for n in nodes if is_candidate_filter(n)),
            "verified_pairs": verified,
        }


WORKLOADS = {w.name: w for w in (EtlFullBuild, ArchiveReads, CorpusCuration)}


# ---------------------------------------------------------------------------
# per-layer metrics of one traced pass
# ---------------------------------------------------------------------------

SELF_LAYERS = (
    "bench", "spark", "extract", "decode", "asserts", "transpose", "tables",
    "refstream", "state", "dedup", "graph", "sampling",
)


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


ETL_SPANS = ("extract.build_full_history", "tables.write_full_history", "refstream.write_ref_files")


def layer_metrics(p: PassProfile, tracer: Tracer, root, cores: int, extras: dict) -> dict:
    """Every per-layer metric the benchmark declares; a layer the pass does
    not touch reports 0. Operators count toward the Erigon layers by node
    kind, within the jobs of the ETL's own calls."""
    etl = set().union(*(p.span_groups(s) for s in ETL_SPANS))
    nodes = list(p.nodes(etl))
    stages = p.stages_in(etl)
    out: dict = {}

    # functions.decode
    dec = [n for n in nodes if n.layer == "decode"]
    out["decode.py_worker_ms"] = sum(n.m("time to run Python workers") for n in dec)
    out["decode.rows_per_input_row"] = _per(sum(n.m("number of output rows") for n in dec),
                                            extras.get("raw_rows", 0))
    out["decode.tasks"] = sum(s.num_tasks for s in stages if "ArrowEvalPython" in s.scopes)

    # plans.extract
    build = p.span_groups("extract.build_full_history")
    out["extract.construct_s"] = p.span_seconds("extract.build_full_history")
    out["extract.jobs_at_construction"] = len(p.jobs_in(build))
    out["extract.broadcast_bytes"] = sum(n.m("data size") for n in nodes if n.name == "BroadcastExchange")

    # plans.transpose / operators.windows
    out["transpose.shuffle_write_bytes"] = sum(
        n.m("shuffle bytes written") for n in nodes if n.name == "Exchange" and n.layer == "transpose")
    out["transpose.spill_bytes"] = sum(
        n.m("spill size") for n in nodes if n.layer in ("transpose", "windows"))
    out["transpose.sort_ms"] = sum(n.m("sort time") for n in nodes if n.layer == "transpose")
    win_stages = [s for s in stages if "Window" in s.scopes]
    skews = []
    for s in win_stages:
        ms = p.stores.task_ms(s)
        if len(ms) > 1 and stats.median(ms) > 0:
            skews.append(max(ms) / stats.median(ms))
    out["transpose.task_skew"] = max(skews, default=0.0)
    win_sort_ms = sum(
        c.m("sort time") for n in nodes if n.name == "Window" for c in n.children if c.name == "Sort")
    out["windows.window_ms"] = max(0.0, sum(s.run_ms for s in win_stages) - win_sort_ms)

    # sources.tables
    out["tables.write_s"] = p.span_seconds("tables.write_sorted_parquet")
    out["tables.manifest_s"] = p.span_seconds("tables.write_manifest")
    writes = p.span_groups("tables.write_sorted_parquet")
    out["tables.files_written"] = sum(
        n.m("number of written files") for n in p.nodes(writes) if n.layer == "tables")
    out["tables.row_groups_written"] = extras.get("row_groups_written", 0)
    n_look = extras.get("lookups", 0)
    look = p.span_groups("bench.store_lookup")
    scans = [n for n in p.nodes(look) if n.name.startswith("Scan parquet")]
    out["tables.files_read_per_lookup"] = _per(sum(n.m("number of files read") for n in scans), n_look)
    out["tables.bytes_read_per_lookup"] = _per(sum(s.input_bytes for s in p.stages_in(look)), n_look)
    out["tables.rows_scanned_per_lookup"] = _per(sum(n.m("number of output rows") for n in scans), n_look)

    # plans.state / operators.asof
    ids = {sp.id for sp in p.spans if sp.name == "bench.store_lookup"}
    out["state.construct_ms_per_lookup"] = _per(1000 * sum(
        sp.duration for sp in p.spans if sp.parent in ids and sp.layer == "state"), n_look)
    out["state.action_ms_per_lookup"] = _per(1000 * sum(
        sp.duration for sp in p.spans if sp.parent in ids and sp.name == "spark.collect"), n_look)
    out["state.jobs_per_lookup"] = _per(len(p.jobs_in(look)), n_look)
    snaps = p.span_groups("bench.snapshot")
    snap_nodes = list(p.nodes(snaps))
    # max_by over binary columns plans a sort aggregate, which has no
    # timer: count the executor time of the snapshot's stages instead
    out["asof.agg_ms"] = sum(s.run_ms for s in p.stages_in(snaps))
    out["asof.shuffle_bytes"] = sum(
        n.m("shuffle bytes written") for n in snap_nodes if n.name == "Exchange" and n.layer is None)

    # codec.refstream
    out["refstream.encode_s"] = p.span_seconds("refstream.write_ref_files")
    out["refstream.bytes_written"] = extras.get("ref_bytes_written", 0)
    rst = extras.get("ref_stats", [])
    for key, name in (("page_probes", "page_probes"), ("pages_fully_decoded", "pages_decoded"),
                      ("bytes_read", "bytes_read")):
        out[f"refstream.{name}_per_lookup"] = _per(sum(s[key] for s in rst), len(rst))

    # operators.dedup. The pair list is lazy: its join runs inside
    # dedup_clusters, in the execution that checkpoints the first cluster
    # round's input. The executions whose plans hold the candidate filter
    # are that join, and their jobs count toward dedup, not graph.
    dd = p.span_groups("dedup.exact_dedup") | p.span_groups("dedup.ngram_jaccard_pairs")
    out["dedup.construct_s"] = p.span_seconds("dedup.exact_dedup") + p.span_seconds("dedup.ngram_jaccard_pairs")
    out["dedup.jobs_at_construction"] = len(p.jobs_in(dd))
    pair_jobs = {j for e in p.executions if any(is_candidate_filter(n) for n in e.nodes) for j in e.jobs}
    dedup_stages = p.stages_of({j["id"] for j in p.jobs_in(dd)} | pair_jobs)
    cand, verified = extras.get("candidate_pairs", 0), extras.get("verified_pairs", 0)
    out["dedup.candidate_pairs"] = cand
    out["dedup.verified_pairs"] = verified
    out["dedup.pair_yield"] = _per(verified, cand)
    out["dedup.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in dedup_stages)
    out["dedup.spill_bytes"] = sum(s.spill_bytes for s in dedup_stages)

    # operators.graph
    gg = p.span_groups("graph.dedup_clusters")
    out["graph.construct_s"] = p.span_seconds("graph.dedup_clusters")
    out["graph.cc_rounds"] = sum(1 for e in p.executions if e.groups & gg and is_count(e))
    graph_jobs = {j["id"] for j in p.jobs_in(gg)} - pair_jobs
    out["graph.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in p.stages_of(graph_jobs))

    # whole pass
    wall = root.duration
    out["spark.cpu_utilization"] = sum(s.run_ms for s in p.stages) / 1000 / (wall * cores)
    out["spark.gc_ms"] = sum(s.gc_ms for s in p.stages)
    out["spark.jobs"] = len(p.jobs)
    out["spark.tasks"] = sum(s.num_tasks for s in p.stages)
    out["trace.wall_s"] = wall
    selfs = tracer.self_times(root)
    for layer in SELF_LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    return out


def is_count(e) -> bool:
    """A ``DataFrame.count()`` execution: a global count aggregate."""
    return any(
        n.name == "HashAggregate" and "keys=[]" in n.desc and "count(1)" in n.desc for n in e.nodes
    )


def is_candidate_filter(n) -> bool:
    """The prefix join's upper-bound filter in ``ngram_jaccard_pairs``
    (the Filter over ``__ub``): its output rows are the candidate pairs."""
    return n.name == "Filter" and "__ub" in n.desc
