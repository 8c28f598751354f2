"""Tests of the benchmark's own code. All but the digest test are pure
Python; the digest is computed in Spark, so its test starts a one-core
local session.

    python3 -m pytest e2ebench -q
"""

from __future__ import annotations

import os
import statistics
import time
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e2ebench import inputs, stats  # noqa: E402
from e2ebench.checks import Checker, spark_digest  # noqa: E402
from e2ebench.trace import Tracer, layer_of_node, parse_metric  # noqa: E402


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7], 99) == 7


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(99) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(999) == 95
    assert stats.tail_percentile(1000) == 99
    for p in (50, 90, 99):
        n = stats.samples_needed(p)
        assert stats.tail_percentile(n) >= p
        assert stats.tail_percentile(n - 1) is None or stats.tail_percentile(n - 1) < p
    assert stats.samples_needed(90) == 100
    assert stats.samples_needed(99) == 1000


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert stats.quartile_spread([5.0] * 10) == 0.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A one-core local session; the only test that needs Spark is the
    digest's, because the digest is computed in Spark."""
    pyspark_sql = pytest.importorskip("pyspark.sql")
    session = (
        pyspark_sql.SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_spark_digest_is_order_independent_and_detects_changes(spark):
    cols = ["address", "block_from", "value"]
    rows = [(bytes([i % 7]) * 20, i, None if i % 5 else bytes([i]) * 32) for i in range(200)]
    df = spark.createDataFrame(rows, "address binary, block_from long, value binary")
    d = spark_digest(df, cols)
    assert d[0] == 200
    assert spark_digest(spark.createDataFrame(rows[::-1], df.schema).repartition(3), cols) == d
    assert spark_digest(spark.createDataFrame(rows[:-1], df.schema), cols) != d
    changed = rows[:-1] + [(rows[-1][0], rows[-1][1] + 1, rows[-1][2])]
    assert spark_digest(spark.createDataFrame(changed, df.schema), cols) != d
    assert spark_digest(spark.createDataFrame([], df.schema), cols) == (0, 0)


@pytest.mark.parametrize(
    "name, desc, input_desc, layer",
    [
        ("ArrowEvalPython", "ArrowEvalPython [decode_account_blob(account_blob#4)]", "", "decode"),
        ("BroadcastHashJoin", "BroadcastHashJoin [address#3]", "", "extract"),
        ("BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode", "", "extract"),
        ("Exchange", "Exchange rangepartitioning(address#3 ASC NULLS FIRST, 4)", "", "transpose"),
        ("Exchange", "Exchange hashpartitioning(kind#111, 4)", "", None),
        ("Sort", "Sort [address#3 ASC NULLS FIRST]", "Exchange rangepartitioning(address#3, 4)", "transpose"),
        ("Sort", "Sort [doc_id#1 ASC NULLS FIRST]", "Exchange hashpartitioning(doc_id#1, 4)", None),
        ("Window", "Window [lag(block#2L, -1, 0)]", "", "windows"),
        ("Execute InsertIntoHadoopFsRelationCommand", "Execute InsertIntoHadoopFsRelationCommand", "", "tables"),
        ("WriteFiles", "WriteFiles", "", "tables"),
        ("Scan parquet ", "FileScan parquet [kind#111]", "", "tables"),
        ("HashAggregate", "HashAggregate(keys=[address#3])", "", None),
    ],
)
def test_operator_to_layer_map(name, desc, input_desc, layer):
    assert layer_of_node(name, desc, input_desc) == layer


def test_parse_metric_formats():
    assert parse_metric("73,649") == 73649.0
    assert parse_metric("25 ms") == 25.0
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n2.7 MiB (1363.8 KiB, 1407.0 KiB, "
        "1407.0 KiB (stage 16.0: task 33))"
    ) == pytest.approx(2.7 * 1024**2)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.2 s (566 ms, 653 ms, 653 ms (stage 9.0: task 3))"
    ) == pytest.approx(1200.0)
    assert parse_metric("") == 0.0


def _timelines():
    a, b = b"\x01" * 20, b"\x02" * 20
    slot = b"\x03" * 32
    rows = [
        (a, 0, 0, None, 0, 1, b"\x00" * 32, b"\x00" * 32, None),
        (a, 0, 0, None, 50, 2, b"\x01" * 32, b"\x00" * 32, None),
        (b, 1, 1, slot, 10, None, None, None, b"\x07"),
        (b, 1, 1, slot, 90, None, None, None, b"\x08"),
    ]
    return inputs.Timelines.from_history(rows), a, b, slot


def test_timelines_answer_as_of():
    t, a, b, slot = _timelines()
    assert t.account_at(a, 49)[0] == 0
    assert t.account_at(a, 50)[0] == 50
    assert t.storage_at(b, 1, slot, 5) is None
    assert t.storage_at(b, 1, slot, 89) == (10, b"\x07")
    assert t.storage_at(b, 2, slot, 100) is None
    assert t.snapshot_sizes(5) == (1, 0)


def test_wrong_answer_counts_as_failure():
    t, a, b, slot = _timelines()
    ck = Checker()
    assert ck.expect("account lookup", t.account_at(a, 60), (50, (2, b"\x01" * 32, 0, b"\x00" * 32)))
    wrong = (10, b"\x08")  # a stale value fed in place of the store's answer
    assert not ck.expect("storage lookup", wrong, t.storage_at(b, 1, slot, 95))
    ck.error("snapshot", RuntimeError("executor lost"))
    assert (ck.attempted, ck.failed) == (3, 2)
    assert ck.fail_ratio == pytest.approx(2 / 3)
    assert len(ck.notes) == 2


def test_wrong_lookup_answer_from_the_engine_counts_as_failure():
    from e2ebench import workloads

    t, a, b, slot = _timelines()
    ctx = workloads.Context(None, "", 1, 1.0, 1)
    wl = workloads.ArchiveReads(ctx)
    wl.oracle, wl.store = t, None
    req = ("storage", b, 1, slot, 95)
    want = t.storage_at(b, 1, slot, 95)
    wl._ref_lookup = lambda r: (want, {"page_probes": 1})
    wl._store_lookup = lambda store, r: [(90, b"\x09")]  # wrong value
    store_ms, ref_ms = [], []
    wl._lookup_pair(req, store_ms, ref_ms, [])
    assert (ctx.checker.attempted, ctx.checker.failed) == (2, 1)
    wl._store_lookup = lambda store, r: [want]
    wl._lookup_pair(req, store_ms, ref_ms, [])
    assert (ctx.checker.attempted, ctx.checker.failed) == (4, 1)
    assert len(store_ms) == len(ref_ms) == 2


def test_lookup_requests_are_seeded_and_mixed():
    t, a, b, slot = _timelines()
    r1 = inputs.lookup_requests(7, t, 100, 40)
    assert r1 == inputs.lookup_requests(7, t, 100, 40)
    assert sum(1 for r in r1 if r[0] == "account") == 20
    assert all(r[-1] <= 101 for r in r1)


def _shingles(text, n=3):
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_corpus_plants_duplicates_after_their_base():
    texts, n_base = inputs.corpus(3, 500)
    assert (texts, n_base) == inputs.corpus(3, 500)
    assert n_base == 400
    base = {t: i for i, t in enumerate(texts[:n_base])}
    assert len(base) == n_base  # base documents are distinct
    for t in texts[n_base:]:
        if t in base:
            continue
        best = max(
            len(_shingles(t) & _shingles(b)) / len(_shingles(t) | _shingles(b))
            for b in texts[:n_base]
        )
        assert best >= 0.5


class _FakeContext:
    def setJobGroup(self, group, description):
        self.group = group


def test_self_times_account_for_the_root_span():
    tr = Tracer(_FakeContext(), enabled=True)
    with tr.span("bench.pass") as root:
        with tr.span("extract.build"):
            with tr.span("asserts.assert_empty"):
                pass
        with tr.span("tables.write"):
            pass
    selfs = tr.self_times(root)
    assert sum(selfs.values()) == pytest.approx(root.duration)
    assert set(selfs) == {"bench", "extract", "asserts", "tables"}
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    assert len({s.group for s in tr.spans}) == 4


def test_patch_wraps_and_restores():
    import e2ebench.stats as mod

    original = mod.median
    tr = Tracer(_FakeContext(), enabled=True)
    tr.patch([("e2ebench.stats", "median", "stats.median")])
    assert mod.median([1, 2, 3]) == 2 and tr.spans[-1].name == "stats.median"
    tr.unpatch()
    assert mod.median is original


def test_pair_join_jobs_count_toward_dedup_not_graph():
    from e2ebench import workloads
    from e2ebench.trace import Execution, Node, PassProfile, Stage

    tr = Tracer(_FakeContext(), enabled=True)
    with tr.span("bench.corpus_curation") as root:
        with tr.span("dedup.ngram_jaccard_pairs"):
            pass
        with tr.span("graph.dedup_clusters"):
            pass
    g = {sp.name: sp.group for sp in tr.spans}
    jobs = [
        {"id": 0, "group": g["dedup.ngram_jaccard_pairs"], "name": "", "stages": [0]},
        # the lazy pair join, run by the first cluster round's checkpoint
        {"id": 1, "group": g["graph.dedup_clusters"], "name": "", "stages": [1]},
        {"id": 2, "group": g["graph.dedup_clusters"], "name": "", "stages": [2]},
    ]
    stages = [Stage(i, 0, 4, 10.0, 0.0, b, 0.0, 0.0, []) for i, b in enumerate((100.0, 1000.0, 10.0))]
    cand = Node(1, "Filter", "Filter ((__ub#7L + 1) >= x)", {})
    count = Node(2, "HashAggregate", "HashAggregate(keys=[], functions=[count(1)])", {})
    executions = [
        Execution(0, {g["graph.dedup_clusters"]}, {1}, [cand]),
        Execution(1, {g["graph.dedup_clusters"]}, {2}, [count]),
    ]
    p = PassProfile(tr.descendants(root), jobs, stages, executions, stores=None)
    out = workloads.layer_metrics(p, tr, root, 4, {"candidate_pairs": 40, "verified_pairs": 30})
    assert out["dedup.candidate_pairs"] == 40
    assert out["dedup.pair_yield"] == pytest.approx(0.75)
    assert out["dedup.shuffle_write_bytes"] == 1100
    assert out["graph.shuffle_write_bytes"] == 10
    assert out["graph.cc_rounds"] == 1
    assert out["dedup.jobs_at_construction"] == 1


def test_tree_cpu_counts_a_child_process():
    import subprocess

    from e2ebench.run import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ninput()"
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, text=True)
    try:
        before = tree_cpu_s(child.pid)
        deadline = time.monotonic() + 20
        while tree_cpu_s(child.pid) - before < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s(child.pid) - before >= 0.4
    finally:
        child.communicate("\n", timeout=20)
    assert child.returncode == 0
