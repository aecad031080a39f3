"""Self-tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest hostbench/tests -q
"""

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# ---------------------------------------------------------------------------
# generator determinism and the digest marker
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "workload,size",
    [("pages_pipeline", 300), ("enrich_lookup", 300)],
)
def test_same_seed_same_digest_other_seed_differs(tmp_path, workload, size, monkeypatch):
    monkeypatch.setattr(gen, "PROBE_DOCS", 200)
    a = gen.ensure_inputs(workload, 7, size, str(tmp_path / "a"))
    b = gen.ensure_inputs(workload, 7, size, str(tmp_path / "b"))
    c = gen.ensure_inputs(workload, 8, size, str(tmp_path / "c"))
    assert gen.cached_digest(a) == gen.cached_digest(b)
    assert gen.cached_digest(a) != gen.cached_digest(c)


def test_unfinished_or_changed_input_set_regenerates(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "PROBE_DOCS", 200)
    path = gen.ensure_inputs("pages_pipeline", 3, 200, str(tmp_path))
    digest = gen.cached_digest(path)
    # a generation killed before its marker was written
    os.remove(os.path.join(path, gen.MARKER))
    assert gen.cached_digest(path) is None
    assert gen.cached_digest(gen.ensure_inputs("pages_pipeline", 3, 200, str(tmp_path))) == digest
    # a file changed after the marker was written
    with open(os.path.join(path, "pages", "part-00.parquet"), "ab") as fh:
        fh.write(b"x")
    assert gen.cached_digest(path) is None
    assert gen.cached_digest(gen.ensure_inputs("pages_pipeline", 3, 200, str(tmp_path))) == digest


# ---------------------------------------------------------------------------
# the tail-percentile helper
# ---------------------------------------------------------------------------

def test_tail_is_max_below_twenty_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == ("max", 3.0, 3)
    assert stats.tail(list(range(19))) == ("max", 18, 19)


@pytest.mark.parametrize(
    "n,label,rank",
    [(20, "p50", 10), (99, "p50", 50), (100, "p90", 90), (999, "p90", 900),
     (1000, "p99", 990), (10_000, "p99.9", 9990)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, label, rank):
    values = list(range(1, n + 1))[::-1]
    got_label, value, count = stats.tail(values)
    assert (got_label, value, count) == (label, rank, n)
    assert n - value >= 10  # at least ten samples lie beyond it


def test_halves_gap():
    assert stats.halves_gap([1.0, 1.0, 1.2, 1.2]) == pytest.approx(0.2)
    assert stats.halves_gap([1.0, 2.0, 3.0]) == 0.0


# ---------------------------------------------------------------------------
# the oracle rejects a planted wrong row
# ---------------------------------------------------------------------------

def _write(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def _pages_outputs(out, want, bump=None):
    agg = {
        "agg_route_counts": [{"route": r, "cnt": c} for r, c in want["route_counts"].items()],
        "agg_route_lang_counts": [
            {"route": r, "lang": lang, "cnt": c}
            for (r, lang), c in want["route_lang_counts"].items()
        ],
        "agg_per_key_histogram": [
            {"route": r, "matched_key": k, "cnt": c}
            for (r, k), c in want["per_key_histogram"].items()
        ],
        "agg_per_lang_hits": [{"lang": lang, "hits": c} for lang, c in want["per_lang_hits"].items()],
    }
    if bump:
        agg[bump][0]["cnt"] += 1
    for name, rows in agg.items():
        _write(os.path.join(out, name), rows)
    side = {}
    for (col, val), c in want["side_routes"].items():
        side.setdefault(col, []).extend([val] * c)
    n = len(side["lang_route"])
    _write(os.path.join(out, "routed"), [{k: side[k][i] for k in side} for i in range(n)])


def test_pages_oracle_rejects_planted_wrong_row(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "PROBE_DOCS", 200)
    inputs = gen.ensure_inputs("pages_pipeline", 5, 400, str(tmp_path / "in"))
    want = oracle.pages_expected(inputs)
    assert sum(want["route_counts"].values()) == 400
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _pages_outputs(good, want)
    _pages_outputs(bad, want, bump="agg_route_lang_counts")
    assert oracle.pages_check(good, want["obs"], want) == []
    problems = oracle.pages_check(bad, want["obs"], want)
    assert len(problems) == 1 and "agg_route_lang_counts" in problems[0]
    assert oracle.pages_check(good, {**want["obs"], "extract_mismatches": 1}, want)


def test_enrich_oracle_rejects_planted_wrong_row(tmp_path):
    inputs = gen.ensure_inputs("enrich_lookup", 5, 400, str(tmp_path / "in"))
    ev = oracle.EventsOracle(inputs)
    want = ev.histogram("b0.parquet", dict(ev.dict0))
    assert sum(c for c, _, _ in want.values()) == 400
    rows = [
        {"route": r, "key_value": v, "path_class": pc, "cnt": c, "tag_hits": h, "tag_code": code}
        for (r, v, pc), (c, h, code) in want.items()
    ]
    _write(str(tmp_path / "good"), rows)
    assert oracle.enrich_check(str(tmp_path / "good"), want) == []
    rows[0]["tag_code"] += 1
    _write(str(tmp_path / "bad"), rows)
    assert len(oracle.enrich_check(str(tmp_path / "bad"), want)) == 1
    # a later dictionary version moves counts between groups
    moved = dict(ev.dict0)
    moved.update(ev.version_changes[0])
    assert ev.histogram("b0.parquet", moved) != want


def test_near_dup_oracle_rejects_planted_wrong_row(tmp_path):
    gen.gen_docs(str(tmp_path / "in"), 5, 300)
    want = oracle.near_dup_expected(str(tmp_path / "in"))
    out = str(tmp_path / "out")
    _write(os.path.join(out, "exact"), [{"id": i, "dup_cnt": c} for i, c in want["exact"].items()])
    comps = [{"id": i, "component": c} for i, c in want["components"].items()]
    _write(os.path.join(out, "components"), comps)
    _write(os.path.join(out, "keep"), [{"id": i} for i in sorted(want["keep"])])
    assert oracle.near_dup_check(out, want) == []
    # split one planted cluster: one member claims to be its own component
    merged = next(r for r in comps if r["id"] != r["component"])
    merged["component"] = merged["id"]
    _write(os.path.join(out, "components"), comps)
    assert len(oracle.near_dup_check(out, want)) == 1
    recall, precision = oracle.dup_scores(want["found_groups"], want["planted"])
    assert 0.8 < recall <= 1.0 and 0.8 < precision <= 1.0


def test_hash32_is_md5_prefix():
    assert oracle.hash32("") == int("d41d8cd9", 16)


# ---------------------------------------------------------------------------
# a pass that raises counts toward failed_share
# ---------------------------------------------------------------------------

class _Flaky:
    rows = 10

    def __init__(self, raise_at, bad_at):
        self.raise_at, self.bad_at = raise_at, bad_at

    def before_pass(self, i):
        pass

    def run_pass(self, i):
        if i == self.raise_at:
            raise RuntimeError("boom")
        return i

    def check(self, i, result):
        return ["wrong row"] if i == self.bad_at else []

    def counts_in_pass_s(self, i):
        return True


def test_raising_and_failing_passes_count_in_failed_share(capsys):
    passes = run.run_passes(
        _Flaky(raise_at=4, bad_at=5), 0.0, warmup=3, min_counted=6
    )
    assert len(passes) == 3 + 6
    failed = [p["i"] for p in passes if not p["ok"]]
    assert failed == [4, 5]
    assert "boom" in passes[4]["problems"][0]
    samples = [{"cpu_s": c, "s": 1.0} for c in (1.0, 2.0, 3.0)]
    metrics = run.end_to_end(_Flaky(None, None), passes, samples)
    assert metrics["setup_s"]["value"] == 2.0
    # rows_per_cpu_s and rows_per_s count only passes that passed their gate
    timed = [p for p in passes if p["phase"] == "timed"]
    assert all(p["cpu_s"] >= 0 for p in timed)
    for name, clock in (("rows_per_cpu_s", "cpu_s"), ("rows_per_s", "s")):
        total = sum(p[clock] for p in timed)
        want = 10 * (len(timed) - 2) / total if total else 0.0
        assert metrics[name]["value"] == pytest.approx(want)
    run.record(_Args(), passes, metrics, samples, {"steal_pct": 0.0})
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1][len("record "):])
    assert rec["failed_share"] == pytest.approx(2 / 9)


class _Args:
    workload, seed, cores = "pages_pipeline", 1, 4


# ---------------------------------------------------------------------------
# CPU clock of the process tree
# ---------------------------------------------------------------------------

def test_tree_cpu_counts_a_child_that_ended():
    import subprocess

    before = probes.tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert probes.tree_cpu_s(os.getpid()) - before >= 0.45
