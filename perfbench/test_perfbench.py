"""Checks of the benchmark's own inputs and correctness gates (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end form of the wrong-reference check is
``python3 perfbench/run.py ... --corrupt-reference``: it must report
``failed`` > 0 and ``"correct": false``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import batch  # noqa: E402
import datagen  # noqa: E402
import stream  # noqa: E402


def _sink_tables(slots):
    """What a correct pipeline leaves in the three sinks."""
    expected, state_bound, country_bound = stream.reference_tables(slots)
    ua = [dict(e, userId=k) for k, e in expected.items()]
    states = [{"state": k, "count": 1} for k in state_bound]
    countries = [{"country": k, "count": 1} for k in country_bound]
    return ua, states, countries


def test_plan_is_seeded_and_mixes_arrival_order():
    a, b = stream.build_plan(7, 20), stream.build_plan(7, 20)
    assert a == b
    assert stream.build_plan(8, 20) != a
    user_slot = {u["id"]: s for s, slot in enumerate(a) for u in slot["users"]}
    lags = [s - user_slot[x["userId"]] for s, slot in enumerate(a) for x in slot["addresses"]]
    early = sum(1 for d in lags if d < 0) / len(lags)
    late = sum(1 for d in lags if d > 0) / len(lags)
    assert 0.05 < early < 0.15 and 0.05 < late < 0.15
    assert max(lags) <= stream.LATE_MAX_SLOTS
    seqs = [r["seq"] for slot in a for r in slot["users"] + slot["addresses"]]
    assert seqs == sorted(seqs) == list(range(1, len(seqs) + 1))


def test_correct_tables_pass_the_stream_check():
    slots = stream.build_plan(3, 12)
    expected, sb, cb = stream.reference_tables(slots)
    assert stream.check_tables(expected, sb, cb, *_sink_tables(slots)) == {}


def test_wrong_reference_fails_the_stream_check():
    slots = stream.build_plan(3, 12)
    expected, sb, cb = stream.reference_tables(slots)
    tables = _sink_tables(slots)
    key = next(iter(expected))
    expected[key] = dict(expected[key], userName="not-the-generated-name")
    failed = stream.check_tables(expected, sb, cb, *tables)
    assert failed == {key: 1 + len(expected[key]["addresses"])}


def test_reordered_addresses_and_overcounts_fail_the_stream_check():
    slots = stream.build_plan(4, 12)
    expected, sb, cb = stream.reference_tables(slots)
    ua, states, countries = _sink_tables(slots)
    victim = next(r for r in ua if len(r["addresses"]) >= 2)
    victim["addresses"] = list(reversed(victim["addresses"]))
    states[0]["count"] = sb[states[0]["state"]] + 1
    failed = stream.check_tables(expected, sb, cb, ua, states, countries)
    assert victim["userId"] in failed
    assert f"state:{states[0]['state']}" in failed


def test_result_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["k", "s", "v"]
    d = batch.result_digest(cols, rows)
    assert d == batch.result_digest(["v", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert d != batch.result_digest(cols, [(1, "a", 2.5), (2, "b", 0.0)])
    assert d[:2] == (sorted(cols), 2)


def test_generated_tables_are_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    assert datagen.generate(str(a), 0.001, 5) == datagen.generate(str(b), 0.001, 5)
    for t in datagen.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
