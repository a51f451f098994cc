"""Property-based tests for the r14 operators: robots matching vs an
independent DP wildcard matcher, rule-order invariance, corpus-diff
partition laws, curriculum permutation/monotonicity, pagerank vs a
sequential power iteration."""

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_stream_flink_user_address_spark.functions.graph import pagerank
from data_stream_flink_user_address_spark.functions.ordering import (
    curriculum_order,
)
from data_stream_flink_user_address_spark.functions.profile import corpus_diff
from data_stream_flink_user_address_spark.functions.web import (
    _robots_allowed,
    _robots_pattern_matches,
)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_PATH_CHARS = "ab/."
_PATTERN = st.text(alphabet=_PATH_CHARS + "*", min_size=0, max_size=8).map(
    lambda s: "/" + s
)
_TARGET = st.text(alphabet=_PATH_CHARS, min_size=0, max_size=10).map(
    lambda s: "/" + s
)


def _dp_match(pattern: str, target: str) -> bool:
    """Independent reference: classic DP wildcard prefix-match with a
    '$' end anchor -- no regex, different algorithm family."""
    anchored = pattern.endswith("$")
    p = pattern[:-1] if anchored else pattern
    # state set = positions in target reachable after consuming p[:i]
    states = {0}
    for ch in p:
        nxt = set()
        for s in states:
            if ch == "*":
                nxt.update(range(s, len(target) + 1))
            elif s < len(target) and target[s] == ch:
                nxt.add(s + 1)
        states = nxt
        if not states:
            return False
    return (len(target) in states) if anchored else bool(states)


@given(pattern=_PATTERN, target=_TARGET, anchor=st.booleans())
@settings(max_examples=200, deadline=None)
def test_robots_match_equals_dp_reference(pattern, target, anchor):
    if anchor:
        pattern += "$"
    assert _robots_pattern_matches(pattern, target) == _dp_match(
        pattern, target
    )


@given(
    rules=st.lists(
        st.tuples(st.booleans(), _PATTERN), min_size=0, max_size=6
    ),
    target=_TARGET,
    seed=st.randoms(),
)
@settings(max_examples=100, deadline=None)
def test_robots_allowed_is_rule_order_invariant(rules, target, seed):
    shuffled = list(rules)
    seed.shuffle(shuffled)
    assert _robots_allowed(rules, target) == _robots_allowed(
        shuffled, target
    )


_TEXT = st.one_of(st.none(), st.text(alphabet="xy \t", max_size=6))


@given(
    old=st.dictionaries(st.integers(0, 30), _TEXT, max_size=15),
    new=st.dictionaries(st.integers(0, 30), _TEXT, max_size=15),
)
@example(old={0: ""}, new={0: "\t"})  # an edge tab alone is not a change
@settings(**_SETTINGS)
def test_corpus_diff_partition_laws(spark, old, new):
    mk = lambda d: spark.createDataFrame(  # noqa: E731
        [(k, v) for k, v in d.items()], "doc_id long, text string"
    )
    if not old and not new:
        return
    got = {
        r.doc_id: r.status for r in corpus_diff(mk(old), mk(new)).collect()
    }
    assert set(got) == set(old) | set(new)  # every id classified once
    assert {k for k, s in got.items() if s == "added"} == set(new) - set(old)
    assert {k for k, s in got.items() if s == "removed"} == set(old) - set(new)

    def fp(t):
        # mirror the ENGINE's normalization exactly (text.norm_ws):
        # collapse whitespace runs to one space FIRST, then trim spaces,
        # so edge tabs are stripped too ('' and '\t' are unchanged)
        if t is None:
            return None
        return hashlib.md5(
            re.sub(r"\s+", " ", t).strip(" ").encode()
        ).hexdigest()

    for k in set(old) & set(new):
        want = "unchanged" if fp(old[k]) == fp(new[k]) else "changed"
        assert got[k] == want, (k, old[k], new[k])


@given(
    scores=st.lists(
        st.one_of(st.none(), st.integers(0, 50)), min_size=4, max_size=40
    ),
    epoch=st.integers(0, 2),
)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_curriculum_is_lossless_and_monotone(spark, scores, epoch):
    rows = [(i, s) for i, s in enumerate(scores)]
    df = spark.createDataFrame(rows, "doc_id long, score int")
    out = curriculum_order(
        df, "score", n_stages=3, n_shards=2, epoch=epoch
    ).collect()
    # permutation: exactly the input rows survive
    assert sorted((r.doc_id, r.score) for r in out) == sorted(rows)
    # stage is monotone in score over non-null scores
    scored = sorted(
        ((r.score, r.stage) for r in out if r.score is not None)
    )
    for (s1, g1), (s2, g2) in zip(scored, scored[1:]):
        assert g1 <= g2, scored
    # NULL scores land in the declared stage (default: last)
    assert all(r.stage == 2 for r in out if r.score is None)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=12,
    ),
)
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_pagerank_matches_sequential_reference(spark, edges):
    clean = sorted({(s, d) for s, d in edges if s != d})
    if not clean:
        return
    from tests.test_graph import _py_pagerank

    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(clean, "src long, dst long"), iters=6
        ).collect()
    }
    want = _py_pagerank(clean, iters=6)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
