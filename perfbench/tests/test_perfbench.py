"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The input and check tests are pure Python. The smoke tests run
``perfbench/run.py`` at ``--size tiny`` in a subprocess (Spark local
mode, about a minute each).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, *extra: str):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "2",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


# -- inputs and checks -------------------------------------------------------

def test_same_seed_same_input_other_seed_other_input():
    templates = inputs.load_templates()

    def slot_file(seed):
        rng = random.Random(f"slot_stream:{seed}")
        idx = inputs.draw(rng, templates.num_rows, 20)
        return idx, inputs.tx_table(templates, idx, "s1", 1)

    a_idx, a = slot_file(1)
    b_idx, b = slot_file(1)
    c_idx, _c = slot_file(2)
    assert a_idx == b_idx and a.equals(b)
    assert a_idx != c_idx
    docs1 = inputs.dedup_batches(random.Random(1), 2, 30, 0.2)
    docs2 = inputs.dedup_batches(random.Random(2), 2, 30, 0.2)
    assert docs1 == inputs.dedup_batches(random.Random(1), 2, 30, 0.2)
    assert docs1 != docs2


def test_expected_summary_matches_golden_rows():
    """A draw's expectation equals summarizing the golden rows of the
    drawn templates directly (one golden row list per draw)."""
    templates = inputs.load_templates()
    parts = inputs.golden_by_template(templates)
    idx = inputs.draw(random.Random(3), templates.num_rows, 60)
    golden = inputs.pq.read_table(inputs.GOLDEN).to_pylist()
    sigs = templates.column("signature").to_pylist()
    rows = [r for t in idx for r in golden if r["signature"] == sigs[t]]
    assert inputs.combine(parts, idx) == {
        k: tuple(v) for k, v in inputs.summarize_rows(rows).items()}
    assert sum(n for n, _c in inputs.combine(parts, idx).values()) > 0


def test_tampered_expectation_fails_the_check():
    templates = inputs.load_templates()
    parts = inputs.golden_by_template(templates)
    idx = inputs.draw(random.Random(4), templates.num_rows, 20)
    want = inputs.combine(parts, idx)
    inputs.check_equal("same", dict(want), want)
    key = sorted(want, key=str)[0]
    for bad in ({**want, key: (want[key][0] + 1, want[key][1])},
                {**want, key: (want[key][0], want[key][1] ^ 1)},
                {k: v for k, v in want.items() if k != key}):
        with pytest.raises(inputs.CheckFailed):
            inputs.check_equal("tampered", bad, want)


def test_planted_duplicates_copy_an_earlier_original():
    batches, planted = inputs.dedup_batches(random.Random(5), 3, 40, 0.25)
    text_of = {d: t for rows in batches for d, t in rows}
    originals = {}
    for d in sorted(text_of):
        if d in planted:
            assert originals.get(text_of[d], d) < d
        else:
            assert text_of[d] not in originals
            originals[text_of[d]] = d
    assert planted and len(planted) < len(text_of)


# -- smoke runs ------------------------------------------------------------

@pytest.mark.parametrize("workload,seed", [("slot_stream", 1),
                                           ("dex_backfill", 2)])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, seed, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    code, result = _run(workload, seed, trace)
    assert code == 0, result
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_second_seed_passes():
    code, result = _run("slot_stream", 2, 0)
    assert code == 0 and result["correct"] is True


def test_tampered_run_exits_nonzero():
    code, result = _run("dex_backfill", 1, 0, "--tamper")
    assert code == 1
    assert result["correct"] is False
