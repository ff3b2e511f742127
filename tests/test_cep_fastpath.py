"""Property tests: the vectorized CEP fast paths must agree with the
generic backtracking matcher on every input.

``Matcher._find_all_fast`` resolves single-symbol greedy quantifiers and
fixed symbol sequences in closed form (engine.py); these tests replay
random classification sequences through both drives and require
identical match sets — the SQL:2016 leftmost-greedy / SKIP PAST LAST ROW
semantics (cep/engine.go:492-625) are the shared contract.

No SparkSession needed: the matcher is a pure-Python kernel.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from streamsql_spark.cep.engine import Matcher, _expand_seqs
from streamsql_spark.dialect import nodes as N


def _spec(pattern: N.Pattern,
          skip: tuple = ("past_last_row",)) -> N.MatchSpec:
    spec = N.MatchSpec()
    spec.pattern = pattern
    spec.defines = {}  # classification comes entirely from pre_cls
    spec.after_match_skip = skip
    return spec


def _find_both(pattern, pre_cls, n, skip=("past_last_row",),
               ts=None, within=None):
    rows = [{"i": i} for i in range(n)]
    fast = Matcher(_spec(pattern, skip), rows, ts, within, pre_cls=pre_cls)
    got_fast = fast._find_all_fast()
    assert got_fast is not None, "fast path unexpectedly not applicable"
    generic = Matcher(_spec(pattern, skip), rows, ts, within,
                      pre_cls=pre_cls)
    got_generic = []
    start = 0
    while start < n:
        m = generic.first_match(start)
        if m is None:
            start += 1
            continue
        _, bindings = m
        got_generic.append(bindings)
        start = generic._skip_to(bindings)
    return got_fast, got_generic


@given(cls=st.lists(st.booleans(), min_size=0, max_size=60),
       qmin=st.integers(min_value=1, max_value=4),
       extra=st.integers(min_value=0, max_value=3),
       bounded=st.booleans())
@settings(max_examples=300, deadline=None)
def test_greedy_quantifier_runs_match_generic(cls, qmin, extra, bounded):
    qmax = qmin + extra if bounded else None
    pat = N.PQuant(N.PSym("A"), qmin, qmax)
    pat.greedy = True
    pre = {"A": np.array(cls, dtype=bool)}
    fast, generic = _find_both(pat, pre, len(cls))
    assert fast == generic


@given(data=st.data(),
       k=st.integers(min_value=1, max_value=4),
       n=st.integers(min_value=0, max_value=60))
@settings(max_examples=300, deadline=None)
def test_symbol_sequence_matches_generic(data, k, n):
    syms = [f"S{j}" for j in range(k)]
    pre = {s: np.array(data.draw(
        st.lists(st.booleans(), min_size=n, max_size=n)), dtype=bool)
        for s in syms}
    pat = N.PSeq([N.PSym(s) for s in syms])
    fast, generic = _find_both(pat, pre, n)
    assert fast == generic


@given(cls=st.lists(st.booleans(), min_size=0, max_size=40))
@settings(max_examples=100, deadline=None)
def test_repeated_symbol_sequence_matches_generic(cls):
    # (A A) — same symbol twice: overlap suppression must agree
    pre = {"A": np.array(cls, dtype=bool)}
    pat = N.PSeq([N.PSym("A"), N.PSym("A")])
    fast, generic = _find_both(pat, pre, len(cls))
    assert fast == generic


# ---- generalized expansion drive (r14): random pattern ASTs built from
# sequences / alternation / PERMUTE / bounded quantifiers, all four
# AFTER MATCH SKIP policies, optional WITHIN — every expandable pattern
# must reproduce the backtracker exactly.

_SYMS = ("A", "B", "C")


def _atom():
    return st.sampled_from(_SYMS).map(N.PSym)


def _quant(inner):
    def mk(item, qmin, extra, bounded, greedy):
        q = N.PQuant(item, qmin, qmin + extra if bounded else None)
        q.greedy = greedy
        return q
    return st.builds(mk, inner, st.integers(0, 2), st.integers(0, 2),
                     st.booleans(), st.booleans())


def _pattern():
    inner = st.one_of(
        _atom(),
        st.lists(_atom(), min_size=2, max_size=3).map(N.PSeq),
        st.lists(_atom(), min_size=2, max_size=3).map(N.PAlt),
        st.lists(_atom(), min_size=2, max_size=2).map(N.PPermute),
        _quant(_atom()),
    )
    return st.one_of(
        inner,
        st.lists(inner, min_size=2, max_size=3).map(N.PSeq),
        st.lists(inner, min_size=2, max_size=2).map(N.PAlt),
    )


def _skip_strategy():
    return st.one_of(
        st.just(("past_last_row",)),
        st.just(("to_next_row",)),
        st.sampled_from(_SYMS).map(lambda s: ("to_first", s)),
        st.sampled_from(_SYMS).map(lambda s: ("to_last", s)),
    )


@given(data=st.data(), pat=_pattern(), skip=_skip_strategy(),
       n=st.integers(min_value=0, max_value=40),
       use_within=st.booleans(),
       within=st.floats(min_value=0.5, max_value=8.0))
@settings(max_examples=400, deadline=None)
def test_expanded_patterns_match_generic(data, pat, skip, n,
                                         use_within, within):
    assume(_expand_seqs(pat) is not None)
    pre = {s: np.array(data.draw(
        st.lists(st.booleans(), min_size=n, max_size=n)), dtype=bool)
        for s in _SYMS}
    ts = None
    w = None
    if use_within:
        # ascending non-NULL event times with irregular gaps — the only
        # shape the fast path accepts under WITHIN
        gaps = data.draw(st.lists(st.floats(min_value=0.0, max_value=3.0),
                                  min_size=n, max_size=n))
        ts = np.cumsum(np.asarray(gaps, dtype=float)).astype(object) \
            if n else np.asarray([], dtype=object)
        w = within
    fast, generic = _find_both(pat, pre, n, skip=skip, ts=ts, within=w)
    assert fast == generic


def test_expansion_preference_order_examples():
    """Pinned expansions: preference order is the backtracker's yield
    order (alternation leftmost, greedy more-reps-first, reluctant
    fewer-first, PERMUTE in itertools.permutations order)."""
    alt = N.PAlt([N.PSym("A"), N.PSym("B")])
    assert _expand_seqs(alt) == [("A",), ("B",)]
    seq = N.PSeq([N.PSym("A"), alt])
    assert _expand_seqs(seq) == [("A", "A"), ("A", "B")]
    perm = N.PPermute([N.PSym("A"), N.PSym("B")])
    assert _expand_seqs(perm) == [("A", "B"), ("B", "A")]
    g = N.PQuant(N.PSym("A"), 1, 2)
    g.greedy = True
    assert _expand_seqs(g) == [("A", "A"), ("A",)]
    r = N.PQuant(N.PSym("A"), 1, 2)
    r.greedy = False
    assert _expand_seqs(r) == [("A",), ("A", "A")]
    # optional-inside-quant hits the backtracker's zero-width guard —
    # must refuse expansion, not diverge
    opt = N.PQuant(N.PSym("A"), 0, 1)
    assert _expand_seqs(N.PQuant(opt, 2, 2)) is None
    # unbounded quantifiers are the runs fast path's domain, not this one
    unb = N.PQuant(N.PSym("A"), 1, None)
    assert _expand_seqs(unb) is None


@pytest.mark.slow
def test_cep_fuzz_ci_subset(spark):
    """CI slice of the CEP differential fuzz (r11; the wide sweep is
    tests/cep_fuzz.py — run it after NFA/matcher changes): random
    patterns (quantifiers, alternation, PERMUTE, SKIP modes, ONE/ALL
    ROWS) over random events, three paths (incremental flush,
    relational batch, streaming kernel) must agree.  Bar: ZERO
    divergences."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from cep_fuzz import run_fuzz

    div = run_fuzz(spark, seed=20260816, count=4, verbose=False)
    assert not div, div
