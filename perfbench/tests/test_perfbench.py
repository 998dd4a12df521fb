"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import pytest

from perfbench import checks, gen, stats
from perfbench.workloads import Round, OpRecord


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _repl_source(root: str, seed: int) -> str:
    src = gen.ReplSource(root, seed, 0, gen.Scale(orders=300, customers=50))
    src.append_events(100)
    src.rewrite_static("region")
    src.drop(gen.DROPPED_TABLE)
    return root


@pytest.mark.parametrize(
    "make",
    [
        lambda d, s: gen.corpus(d, s, round_no=3),
        _repl_source,
        lambda d, s: gen.star_schema(d, s, gen.Scale(orders=300, events=500)),
    ],
    ids=["corpus", "repl_source", "star_schema"],
)
def test_generator_deterministic_per_seed_and_differs_across_seeds(tmp_path, make):
    a = _digest(make(str(tmp_path / "a"), 7))
    b = _digest(make(str(tmp_path / "b"), 7))
    c = _digest(make(str(tmp_path / "c"), 8))
    assert a == b
    assert a != c


def test_corpus_rounds_differ_within_one_seed(tmp_path):
    a = _digest(gen.corpus(str(tmp_path / "a"), 7, round_no=0))
    b = _digest(gen.corpus(str(tmp_path / "b"), 7, round_no=1))
    assert a != b


def test_corpus_plants_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    d = gen.corpus(str(tmp_path / "c"), 7, round_no=0)
    texts = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
    near = [t for t in texts if t.endswith(" dup") and t[: -len(" dup")] in texts]
    assert len(near) >= 10


def test_static_rewrite_changes_the_payload_fingerprint(tmp_path):
    from hive3_replication_spark.repl.snapshot import table_fingerprints

    src = gen.ReplSource(str(tmp_path / "s"), 1, 0, gen.Scale(orders=300))
    before = table_fingerprints(src.root)
    src.rewrite_static("region")
    after = table_fingerprints(src.root)
    assert before["region"] != after["region"]
    assert {k: v for k, v in before.items() if k != "region"} == {
        k: v for k, v in after.items() if k != "region"
    }


def test_star_schema_foreign_keys_resolve(tmp_path):
    import duckdb

    d = gen.star_schema(str(tmp_path / "star"), 3, gen.Scale(orders=300))
    con = duckdb.connect()
    orphans = con.sql(f"""
        SELECT
          (SELECT count(*) FROM '{d}/lineitem.parquet' l
           ANTI JOIN '{d}/orders.parquet' o ON l_orderkey = o_orderkey),
          (SELECT count(*) FROM '{d}/lineitem.parquet' l
           ANTI JOIN '{d}/supplier.parquet' s ON l_suppkey = s_suppkey),
          (SELECT count(*) FROM '{d}/lineitem.parquet' l
           ANTI JOIN '{d}/part.parquet' p ON l_partkey = p_partkey),
          (SELECT count(*) FROM '{d}/orders.parquet' o
           ANTI JOIN '{d}/customer.parquet' c ON o_custkey = c_custkey),
          (SELECT count(*) FROM '{d}/lineitem.parquet' l
           JOIN '{d}/orders.parquet' o ON l_orderkey = o_orderkey
           WHERE l_shipdate <= o_orderdate)
    """).fetchone()
    assert orphans == (0, 0, 0, 0, 0)


class _FakeSource:
    def __init__(self):
        self.changes = []

    def append_events(self, n):
        pass

    def rewrite_static(self, name):
        self.changes.append(("rewrite", name))

    def drop(self, name):
        self.changes.append(("drop", name))


def test_repl_schedule_gives_each_change_its_own_op_kind():
    from perfbench.workloads import ReplCdc

    wl = ReplCdc()
    wl.sources = [_FakeSource() for _ in range(wl.dbs)]
    wl.tick_no, wl.window_tick, wl.dropped = 0, None, set()
    wl._calls = lambda tracer, kinds: [
        OpRecord(f"{k}:db{i}", 1.0, 1.0) for i, k in enumerate(kinds)
    ]
    for _ in range(wl.warm_ticks):
        wl.round(None)
    for src in wl.sources:
        src.changes.clear()
    wl.start_window()
    ops = [op for _ in range(wl.min_ticks) for op in wl.round(None).ops]
    kinds = [op.kind for op in ops]
    assert kinds.count("incremental+sync") == wl.min_ticks
    assert kinds.count("incremental+drop") == wl.dbs
    assert wl.dropped == set(range(wl.dbs))
    # a call's kind names exactly the change its source saw
    for i, src in enumerate(wl.sources):
        mine = [op.kind for op in ops if op.key.endswith(f"db{i}")]
        assert mine.count("incremental+sync") == sum(
            1 for c in src.changes if c[0] == "rewrite")
        assert [c for c in src.changes if c[0] == "drop"] == [
            ("drop", gen.DROPPED_TABLE)]
    assert wl.delta_events == 49  # 5 of 1029 transactions, on 10 000 events


def test_frames_mismatch_finds_one_changed_cell_and_ignores_order():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 1 / 3], "s": list("abc")})
    shuffled = want.iloc[[2, 0, 1]].reset_index(drop=True)
    assert checks.frames_mismatch(shuffled, want) is None
    for col, val in (("v", 0.2000001), ("s", "z"), ("k", 7)):
        bad = want.copy()
        bad.loc[1, col] = val
        assert checks.frames_mismatch(bad, want) is not None
    assert checks.frames_mismatch(want.iloc[:2], want) is not None


def test_frames_mismatch_tolerates_last_bit_float_differences():
    import pandas as pd

    # sums in another order: equal to ~1e-16 relative, not bit for bit
    want = pd.DataFrame({"g": ["a", "b"], "total": [0.1 + 0.2 + 0.3, 1.0005]})
    got = pd.DataFrame({"g": ["b", "a"], "total": [1.0005 * (1 + 1e-15),
                                                   0.3 + 0.2 + 0.1]})
    assert want.total[0] != got.total[1]
    assert checks.frames_mismatch(got, want) is None


def _replicated(tmp_path):
    """A generated source and a target that replicates it correctly."""
    import shutil

    import duckdb

    src = gen.ReplSource(str(tmp_path / "src"), 5, 0,
                         gen.Scale(orders=300, customers=50, events=400))
    src.append_events(49)
    tgt = tmp_path / "tgt"
    state = tgt / f"user_state_v{src.max_event_id}"
    state.mkdir(parents=True)
    duckdb.sql(checks.expected_state_sql(f"{src.root}/events.parquet/*.parquet")
               ).write_parquet(str(state / "part-0.parquet"))
    for name in gen.STATIC_TABLES:
        shutil.copytree(f"{src.root}/{name}.parquet", tgt / name)
    return src, str(tgt)


def test_repl_mismatches_passes_a_correct_target(tmp_path):
    src, tgt = _replicated(tmp_path)
    assert checks.repl_mismatches(src.root, tgt, src.max_event_id, set()) == []


def test_repl_mismatches_reports_a_wrong_user_state_row(tmp_path):
    import pyarrow.parquet as pq

    src, tgt = _replicated(tmp_path)
    path = f"{tgt}/user_state_v{src.max_event_id}/part-0.parquet"
    t = pq.read_table(path).to_pandas()
    t.loc[0, "state_value"] += 1.0
    t.to_parquet(path, index=False)
    problems = checks.repl_mismatches(src.root, tgt, src.max_event_id, set())
    assert len(problems) == 1 and "user_state" in problems[0]


def test_repl_mismatches_reports_a_stale_static_table(tmp_path):
    src, tgt = _replicated(tmp_path)
    src.rewrite_static("part")
    problems = checks.repl_mismatches(src.root, tgt, src.max_event_id, set())
    assert problems == ["static table part differs from source"]


def test_repl_mismatches_reports_a_dropped_table_still_at_target(tmp_path):
    src, tgt = _replicated(tmp_path)
    src.drop(gen.DROPPED_TABLE)
    problems = checks.repl_mismatches(
        src.root, tgt, src.max_event_id, {gen.DROPPED_TABLE})
    assert problems == [f"dropped table {gen.DROPPED_TABLE} still at target"]


def _beyond(values, pct):
    cut = stats.percentile(values, pct)
    return sum(1 for v in values if v > cut)


@pytest.mark.parametrize("n", [21, 24, 27, 30, 40, 99, 100, 250])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    values = random.Random(n).sample(range(10_000), n)
    pct = stats.tail_pct_for(n)
    assert _beyond(values, pct) >= stats.TAIL_BEYOND
    # and it is the highest whole percentile that does
    assert pct == 99 or _beyond(values, pct + 1) < stats.TAIL_BEYOND
    assert stats.min_samples_for(pct) <= n


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail(list(range(15)), 65)
    with pytest.raises(ValueError):
        stats.tail_pct_for(10)


def test_percentile_matches_numpy_linear():
    import numpy as np

    xs = random.Random(3).sample(range(1000), 37)
    for p in (50, 65, 90):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_mix_summary_of_one_kind_is_plain_median_and_percentile():
    xs = [float(x) for x in random.Random(5).sample(range(1, 1000), 30)]
    p50, tail = stats.mix_summary([("incremental", x) for x in xs], 65)
    assert p50 == pytest.approx(stats.median(xs))
    assert tail == pytest.approx(stats.percentile(xs, 65))


def test_mix_summary_shrugs_off_one_outlier_that_moves_the_pooled_median():
    base = [("a", 1.0)] * 12 + [("b", 1.3)] * 12
    noisy = [("a", 1.0)] * 12 + [("b", 0.99)] + [("b", 1.3)] * 11
    pooled = [stats.median([v for _, v in xs]) for xs in (base, noisy)]
    assert pooled[1] / pooled[0] < 0.9  # one fast op moved it by 13%
    mixed = [stats.mix_summary(xs, 10)[0] for xs in (base, noisy)]
    assert mixed[0] == pytest.approx(mixed[1])
    assert mixed[0] == pytest.approx((1.0 * 1.3) ** 0.5)


def test_tracer_self_time_and_coverage_look_through_the_entry_point():
    import types

    from perfbench.trace import Tracer

    layer = types.SimpleNamespace(step=lambda: time.sleep(0.02))

    def entry():
        time.sleep(0.01)  # the entry point's own glue: not covered
        layer.step()

    mod = types.SimpleNamespace(run_replication=entry)
    tr = Tracer()
    tr.wrap(layer, "step", "layer.step")
    tr.wrap(mod, "run_replication", "repl.pipeline.run_replication")
    op = tr.begin_op("incremental:db")
    mod.run_replication()
    tr.end_op(op)
    tr.uninstall()
    got = tr.layer_times(op)
    assert op.counts["layer.step#calls"] == 1
    assert got["layer.step"] >= 0.02
    assert got["repl.pipeline.run_replication#self"] == pytest.approx(
        got["repl.pipeline.run_replication"] - got["layer.step"]
    )
    assert got["#covered"] == pytest.approx(got["layer.step"])
    assert got["#covered"] / op.wall < 0.9  # the glue shows as uncovered
    assert mod.run_replication is entry  # uninstall restored the original


class _FakeWorkload:
    """Warm-up rounds in set-up, then timed rounds; each op sleeps."""

    name = "fake"
    min_ops = 6
    op_s = 0.01

    def __init__(self):
        self.made = 0

    def _round(self, tag: str) -> Round:
        ops = []
        for _ in range(3):
            t0 = time.perf_counter()
            time.sleep(self.op_s)
            self.made += 1
            ops.append(OpRecord(f"{tag}{self.made}", time.perf_counter() - t0, 0.0))
        return Round(sum(o.wall for o in ops), ops)

    def setup(self):
        self.warm = [self._round("warm") for _ in range(2)]

    def start_window(self):
        pass

    def end_window(self, rounds):
        pass

    def round(self, tracer):
        return self._round("timed")


def test_warmup_excluded_from_samples_and_counted_in_setup():
    from perfbench.run import run_window

    t_start = time.perf_counter()
    wl = _FakeWorkload()
    wl.setup()
    warm_s = time.perf_counter() - t_start
    window = run_window(wl, None, seconds=0.0, tracer=None)
    setup_s = window["first_op_at"] - t_start  # as run.main computes it
    keys = [op.key for r in window["rounds"] for op in r.ops]
    assert keys and all(k.startswith("timed") for k in keys)
    assert len(keys) >= wl.min_ops
    assert setup_s >= warm_s >= 6 * wl.op_s


def test_window_runs_whole_rounds_until_seconds_and_min_ops():
    from perfbench.run import run_window

    wl = _FakeWorkload()
    window = run_window(wl, None, seconds=0.1, tracer=None)
    rounds = window["rounds"]
    assert sum(r.wall for r in rounds) >= 0.1
    assert all(len(r.ops) == 3 for r in rounds)


def test_e2e_metrics_summarize_work_cpu_per_kind_and_per_round():
    from perfbench.run import PROBE_REF_S, e2e_metrics

    def window(probe):
        def op(kind, cpu, **kw):
            return OpRecord(kind, 1.0, cpu, probe=probe, **kw)

        return {"rounds": [
            Round(3.0, [op("a", 1.0), op("b", 4.0)]),
            Round(3.0, [op("a", 2.0), op("b", 4.0)]),
            Round(3.0, [op("a", 3.0), op("b", 4.0, jit=9.0)]),
        ]}

    got = e2e_metrics(window(PROBE_REF_S))
    assert got["op_cpu_s"] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert got["round_cpu_s"] == pytest.approx(6.0)  # rounds 5, 6, 7
    # a host that runs the probe half as fast runs the ops half as fast
    slow = e2e_metrics(window(2 * PROBE_REF_S))
    assert slow["op_cpu_s"] == pytest.approx(got["op_cpu_s"] / 2)
    assert slow["round_cpu_s"] == pytest.approx(3.0)


def test_host_probe_takes_cpu_time():
    from perfbench.workloads import host_probe_s

    assert 0 < host_probe_s() < 5


def test_proc_cpu_counter_parses_a_thread_name_with_spaces_and_parens(tmp_path):
    from perfbench.workloads import _CLK_TCK, _proc_cpu_s

    fields = ["S"] + ["0"] * 10 + [str(3 * _CLK_TCK), str(_CLK_TCK)] + ["0"] * 30
    stat = tmp_path / "stat"
    stat.write_text("4242 (C2 Compiler) x) " + " ".join(fields) + "\n")
    assert _proc_cpu_s(str(stat)) == pytest.approx(4.0)
    assert _proc_cpu_s("/proc/self/stat") > 0


def test_self_check_expects_the_change_a_repl_kind_names():
    from perfbench.run import EXPECTED, expected_layers

    assert expected_layers("incremental") == EXPECTED["incremental"]
    sync = expected_layers("incremental+sync")
    assert set(EXPECTED["incremental"]) < set(sync)
    assert "repl.snapshot.tables_synced" in sync
    assert "repl.snapshot.tables_dropped" in expected_layers("incremental+drop")
    assert expected_layers("scan_partitioned") == EXPECTED["analytics"]
