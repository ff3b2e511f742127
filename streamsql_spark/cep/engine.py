"""MATCH_RECOGNIZE pattern matcher (batch kernel).

Design parity with the reference's compositional pattern tree + NFA
(``cep/pattern.go``, ``cep/nfa.go``, ``cep/engine.go``), re-expressed
as preference-ordered backtracking over an in-memory partition — the
right shape for a batch kernel where each partition's rows are local
(the streaming variant keeps the same matcher over a state-held row
buffer).  Preference order implements SQL:2016 semantics:

- quantifiers: greedy prefers MORE repetitions, reluctant fewer;
- alternation prefers the leftmost branch;
- PERMUTE expands to leftmost-preferred alternation of permutations;
- matches are found leftmost-first; AFTER MATCH SKIP controls the next
  search position (PAST LAST ROW / TO NEXT ROW / TO FIRST|LAST sym);
- WITHIN bounds last.ts − first.ts.
"""

from __future__ import annotations

from itertools import permutations

from ..dialect import nodes as N
from .program import MatchView, Program


class CepError(ValueError):
    pass


def _expand_subsets(pat: N.Pattern, subsets: dict) -> N.Pattern:
    """A SUBSET name used as a pattern atom matches any member —
    PATTERN(S C) with S=(A,B) ≡ ((A|B) C), CLASSIFIER() keeps the
    member symbol (engine.go:738-864)."""
    if isinstance(pat, N.PSym):
        if pat.name in subsets:
            return N.PAlt([N.PSym(m) for m in subsets[pat.name]])
        return pat
    if isinstance(pat, N.PSeq):
        return N.PSeq([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PAlt):
        return N.PAlt([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PPermute):
        return N.PPermute([_expand_subsets(p, subsets) for p in pat.items])
    if isinstance(pat, N.PQuant):
        q = N.PQuant(_expand_subsets(pat.item, subsets), pat.min, pat.max)
        q.greedy = pat.greedy
        return q
    return pat


def _first_symbols(pat) -> tuple[set, bool]:
    """(symbols that can classify a match's FIRST row, can-match-empty).
    Conservative over-approximation — used only to SKIP start positions
    that provably cannot begin a match."""
    if isinstance(pat, N.PSym):
        return {pat.name}, False
    if isinstance(pat, N.PSeq):
        syms: set = set()
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            if not e:
                return syms, False
        return syms, True
    if isinstance(pat, N.PAlt):
        syms, empty = set(), False
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            empty = empty or e
        return syms, empty
    if isinstance(pat, N.PPermute):
        syms, empty = set(), True
        for it in pat.items:
            s, e = _first_symbols(it)
            syms |= s
            empty = empty and e
        return syms, empty
    if isinstance(pat, N.PQuant):
        s, e = _first_symbols(pat.item)
        return s, e or pat.min == 0
    return set(), True  # unknown node: no skipping


_MAX_EXPANDED_SEQS = 64


def _expand_concat(parts: list) -> list | None:
    """Cross product of per-item expansions, prefix-major (leftmost
    item's alternatives outermost) — exactly the backtracker's
    _match_seq preference order."""
    if any(p is None for p in parts):
        return None
    out: list = [()]
    for p in parts:
        out = [a + b for a in out for b in p]
        if len(out) > _MAX_EXPANDED_SEQS:
            return None
    return out


def _expand_seqs(pat) -> list | None:
    """Expand a pattern into the PREFERENCE-ORDERED list of fixed
    symbol-name tuples it can match, or None when that is not a finite
    small set (unbounded quantifier, empty-matchable quantifier item,
    > _MAX_EXPANDED_SEQS alternatives).  The order reproduces the
    backtracker's yield order exactly: alternation/permutation branches
    left-to-right, sequences prefix-major, greedy quantifiers
    more-reps-first (reluctant fewer-first).  Zero-length sequences are
    dropped — first_match ignores empty matches."""
    out = _expand_node(pat)
    if out is None:
        return None
    seqs = [q for q in out if q]
    return seqs or None


def _expand_node(pat) -> list | None:
    if isinstance(pat, N.PSym):
        return [(pat.name,)]
    if isinstance(pat, N.PSeq):
        return _expand_concat([_expand_node(it) for it in pat.items])
    if isinstance(pat, N.PAlt):
        out: list = []
        for it in pat.items:
            sub = _expand_node(it)
            if sub is None:
                return None
            out.extend(sub)
            if len(out) > _MAX_EXPANDED_SEQS:
                return None
        return out
    if isinstance(pat, N.PPermute):
        out = []
        for perm in permutations(pat.items):
            sub = _expand_concat([_expand_node(it) for it in perm])
            if sub is None:
                return None
            out.extend(sub)
            if len(out) > _MAX_EXPANDED_SEQS:
                return None
        return out
    if isinstance(pat, N.PQuant):
        if pat.max is None:
            return None
        item = _expand_node(pat.item)
        if item is None or any(not q for q in item):
            # an empty-matchable quantifier item hits the backtracker's
            # zero-width guard (reps of empty alternatives are SKIPPED,
            # not counted) — repetition expansion would not be
            # equivalent, so leave it to the generic matcher
            return None
        out = []

        def rec(prefix: tuple, reps: int) -> bool:
            if len(out) > _MAX_EXPANDED_SEQS:
                return False
            more = reps < pat.max
            done = reps >= pat.min
            if pat.greedy:
                if more:
                    for s in item:
                        if not rec(prefix + s, reps + 1):
                            return False
                if done:
                    out.append(prefix)
            else:
                if done:
                    out.append(prefix)
                if more:
                    for s in item:
                        if not rec(prefix + s, reps + 1):
                            return False
            return True

        if not rec((), 0):
            return None
        return out
    return None  # unknown node: no expansion


def _len_bounds(pat) -> tuple[int, int | None]:
    """(min_rows, max_rows) a pattern node can consume; max None =
    unbounded.  Excluded symbols still consume rows (exclusion only
    hides them from ALL ROWS output), so they count."""
    if pat is None:
        return (0, 0)
    if isinstance(pat, N.PSym):
        return (1, 1)
    if isinstance(pat, (N.PSeq, N.PPermute)):
        lo, hi = 0, 0
        for it in pat.items:
            l, h = _len_bounds(it)
            lo += l
            hi = None if (hi is None or h is None) else hi + h
        return (lo, hi)
    if isinstance(pat, N.PAlt):
        bounds = [_len_bounds(it) for it in pat.items]
        hi = None if any(h is None for _, h in bounds) \
            else max(h for _, h in bounds)
        return (min(l for l, _ in bounds), hi)
    if isinstance(pat, N.PQuant):
        l, h = _len_bounds(pat.item)
        lo = l * pat.min
        hi = None if (pat.max is None or h is None) else h * pat.max
        return (lo, hi)
    return (0, None)  # unknown node: conservative


class Matcher:
    def __init__(self, spec: N.MatchSpec, rows: list[dict],
                 ts_values: list | None = None, within: float | None = None,
                 pre_cls: dict | None = None, program: Program | None = None):
        self.spec = spec
        self.rows = rows
        self.ts = ts_values
        self.within = within
        # the statement's compiled DEFINE/MEASURES (built once per
        # statement by the kernels; compiled here for direct use)
        self.program = program or Program(spec)
        self.view = MatchView(rows)
        self.pattern = _expand_subsets(spec.pattern, spec.subsets) \
            if spec.pattern is not None else None
        self.match_number = 0
        # sym -> bool array: DEFINE predicates the executor evaluated
        # JVM-side over the whole partition (current-row-only conditions)
        self.pre_cls = pre_cls or {}
        # Fixed-length patterns (min rows == max rows, no NEXT() in
        # DEFINE) can never extend once complete: the reference's NFA
        # emits immediately when the accepting state has no outgoing
        # transition (cep/engine.go:492-552).  find_emittable uses this
        # to release tail-touching matches without waiting for the next
        # micro-batch.
        lo, hi = _len_bounds(self.pattern)
        self.fixed_final = (hi is not None and lo == hi
                            and not self.program.future_nav)

    # ------------------------------------------------------ classification
    def classify(self, pos: int, sym: str, bindings: list) -> bool:
        if self.within is not None and bindings:
            first_idx = bindings[0][0]
            if self.ts is not None and self.ts[pos] is not None \
                    and self.ts[first_idx] is not None \
                    and (self.ts[pos] - self.ts[first_idx]) > self.within:
                return False
        arr = self.pre_cls.get(sym)
        if arr is not None:
            return bool(arr[pos])
        pred = self.program.defines.get(sym)
        if pred is None:
            return True  # undefined symbol ≡ TRUE (engine.go:463-478)
        v = self.view
        v.bind, v.pos, v.sym = bindings, pos, sym
        v.mn = self.match_number + 1
        ok = pred(v) is True
        span = self.program.next_span.get(sym, 0)
        if not ok and span and pos + span >= len(self.rows):
            # THIS symbol's DEFINE uses NEXT() and the row is within
            # its span of the buffer tail: the False may come from
            # reading past the end — signal the streaming drive to
            # HOLD, not consume (conservative: also set on genuine
            # in-buffer failures near the tail; that only delays
            # emission until the successor arrives)
            self._hit_end = True
        return ok

    # ---------------------------------------------------------- matching
    def _match(self, pat: N.Pattern, pos: int, bindings: list):
        """Yield (end_pos, bindings') in preference order."""
        if isinstance(pat, N.PSym):
            if pos >= len(self.rows):
                # pattern wanted a row beyond the buffer — a future row
                # could extend this partial (streaming hold signal)
                self._hit_end = True
            elif self.classify(pos, pat.name, bindings):
                yield pos + 1, bindings + [(pos, pat.name)]
            return
        if isinstance(pat, N.PSeq):
            yield from self._match_seq(pat.items, 0, pos, bindings)
            return
        if isinstance(pat, N.PAlt):
            for item in pat.items:
                yield from self._match(item, pos, bindings)
            return
        if isinstance(pat, N.PPermute):
            for perm in permutations(pat.items):
                yield from self._match_seq(list(perm), 0, pos, bindings)
            return
        if isinstance(pat, N.PQuant):
            yield from self._match_quant(pat, pos, bindings, 0)
            return
        raise CepError(f"unsupported pattern node {type(pat).__name__}")

    def _match_seq(self, items: list, i: int, pos: int, bindings: list):
        if i >= len(items):
            yield pos, bindings
            return
        for p2, b2 in self._match(items[i], pos, bindings):
            yield from self._match_seq(items, i + 1, p2, b2)

    def _match_quant(self, pat: N.PQuant, pos: int, bindings: list, reps: int):
        can_more = pat.max is None or reps < pat.max
        done_ok = reps >= pat.min
        if pat.greedy:
            if can_more:
                for p2, b2 in self._match(pat.item, pos, bindings):
                    if p2 == pos:
                        # zero-width guard: skip THIS alternative only —
                        # `break` would abandon later CONSUMING
                        # alternatives of the same item (e.g. the B
                        # branch of (A? | B)+ when A? matched empty)
                        continue
                    yield from self._match_quant(pat, p2, b2, reps + 1)
            if done_ok:
                yield pos, bindings
        else:
            if done_ok:
                yield pos, bindings
            if can_more:
                for p2, b2 in self._match(pat.item, pos, bindings):
                    if p2 == pos:
                        continue  # zero-width guard (see greedy branch)
                    yield from self._match_quant(pat, p2, b2, reps + 1)

    def first_match(self, start: int):
        """Preferred match starting exactly at ``start``, or None."""
        self._hit_end = False
        for end, bindings in self._match(self.pattern, start, []):
            if bindings:  # ignore empty matches
                return end, bindings
        return None

    # ------------------------------------------------------------- drive
    def _skip_to(self, bindings: list) -> int:
        """Next search position per AFTER MATCH SKIP (engine.go:593-625).

        TO FIRST/LAST <sym> anchor is governed by ``spec.skip_anchor``
        (README "CEP AFTER MATCH SKIP semantics"):

        - ``"inclusive"`` (default): re-anchor ON the target row —
          SQL-standard / Flink semantics; the would-be-infinite-loop
          case (target == match start) advances by one instead.
        - ``"exclusive"``: reference parity — resume at target row + 1,
          exactly skipTo's occurrence+1 (engine.go:600).  The
          reference's own e2e suite never observes the difference
          (every reference case has no further match either way); for
          TO LAST <last pattern symbol> the +1 degenerates to PAST
          LAST ROW, which is why the standard's re-anchor is the
          default here.

        Both modes are pinned by test_cep.py skip-policy tests; the
        inclusive strides additionally by the cep_skip_next_overlap
        oracles."""
        skip = self.spec.after_match_skip
        first_idx = bindings[0][0]
        last_idx = bindings[-1][0]
        if skip[0] == "to_next_row":
            return first_idx + 1
        if skip[0] in ("to_first", "to_last"):
            sym = skip[1]
            members = self.program.members(sym)
            sym_rows = [i for i, s in bindings if s in members]
            if not sym_rows:
                return last_idx + 1
            target = sym_rows[0] if skip[0] == "to_first" else sym_rows[-1]
            if getattr(self.spec, "skip_anchor", "inclusive") == "exclusive":
                return target + 1  # reference skipTo: occurrence + 1
            # inclusive: must still advance to avoid infinite loops
            return target if target > first_idx else first_idx + 1
        return last_idx + 1  # past_last_row (default)

    def _start_candidates(self):
        """Positions where a match could begin, as a sorted index array —
        only when every possible first symbol has a precomputed
        classification (else None: every position is a candidate).  Lets
        the drive loop jump over provably-dead starts instead of paying
        the backtracking machinery per row."""
        if self.pattern is None or not self.pre_cls:
            return None
        syms, can_empty = _first_symbols(self.pattern)
        if can_empty or not syms:
            return None
        arrs = []
        for s in syms:
            arr = self.pre_cls.get(s)
            if arr is None:
                return None  # undefined (≡ TRUE) or non-vectorized symbol
            arrs.append(arr)
        import numpy as np

        mask = arrs[0]
        for a in arrs[1:]:
            mask = mask | a
        return np.flatnonzero(mask)

    # ------------------------------------------------- vectorized shapes
    def _cls_array(self, sym: str, n: int):
        """Whole-partition classification array for ``sym`` when it is
        binding-independent: precomputed (vectorized DEFINE) or
        undefined (≡ TRUE).  None → not vectorizable."""
        arr = self.pre_cls.get(sym)
        if arr is not None:
            return arr
        if sym not in self.spec.defines:
            import numpy as np

            return np.ones(n, dtype=bool)
        return None

    def _find_all_fast(self):
        """Closed-form drive for the dominant pattern shapes:

        - ``A{m,}[{,M}]`` greedy under SKIP PAST LAST ROW, no WITHIN →
          maximal runs of A-classified rows, one numpy pass
          (gaps-and-islands);
        - any pattern expandable to a small preference-ordered set of
          FIXED symbol sequences (sequences, alternation, PERMUTE,
          bounded quantifiers — see :func:`_expand_seqs`) → per-sequence
          shifted-AND of the class arrays + a WITHIN span mask, then a
          leftmost preference sweep honouring all four AFTER MATCH SKIP
          policies.

        Replaces per-row backtracking with O(n) vector work +
        O(#matches) Python — the generic matcher remains the fallback
        for unbounded non-run quantifiers, navigation/aggregate-
        dependent DEFINEs, and NULL/unordered event times under WITHIN.
        Returns None when not applicable.
        """
        if self.pattern is None:
            return None
        import numpy as np

        n = len(self.rows)
        pat = self.pattern
        if isinstance(pat, N.PSeq) and len(pat.items) == 1:
            pat = pat.items[0]

        if self.spec.after_match_skip[0] == "past_last_row" \
                and self.within is None \
                and isinstance(pat, N.PQuant) and isinstance(pat.item, N.PSym) \
                and pat.greedy and pat.min >= 1:
            arr = self._cls_array(pat.item.name, n)
            if arr is None:
                return None
            sym = pat.item.name
            idx = np.flatnonzero(arr)
            out: list = []
            if idx.size == 0:
                return out
            brk = np.flatnonzero(np.diff(idx) > 1)
            starts = np.concatenate(([idx[0]], idx[brk + 1]))
            ends = np.concatenate((idx[brk], [idx[-1]]))
            qmin, qmax = pat.min, pat.max
            for s, e in zip(starts.tolist(), ends.tolist()):
                while s <= e:
                    ln = e - s + 1
                    if ln < qmin:
                        break
                    take = ln if qmax is None else min(ln, qmax)
                    self.match_number += 1
                    out.append([(i, sym) for i in range(s, s + take)])
                    s += take
            return out

        seqs = _expand_seqs(self.pattern)
        if seqs is None:
            return None
        arrs = {}
        for s in {sym for q in seqs for sym in q}:
            a = self._cls_array(s, n)
            if a is None:
                return None
            arrs[s] = a
        tsf = None
        if self.within is not None and self.ts is not None:
            try:
                tsf = np.asarray(self.ts, dtype=object).astype(float)
            except (TypeError, ValueError):
                return None
            if np.isnan(tsf).any() \
                    or (tsf.size > 1 and np.any(np.diff(tsf) < 0)):
                # NULL event times or a non-ascending order column:
                # classify()'s pairwise WITHIN check is not reducible
                # to a last-minus-first span — generic matcher
                return None
        masks = []
        for q in seqs:
            k = len(q)
            if n < k:
                masks.append(None)
                continue
            m = arrs[q[0]][: n - k + 1].copy()
            for j in range(1, k):
                m &= arrs[q[j]][j: n - k + 1 + j]
            if tsf is not None and k > 1:
                # ts ascending + non-NULL (guarded above): the max pair
                # span inside the window is last - first
                m &= (tsf[k - 1:] - tsf[: n - k + 1]) <= self.within
            masks.append(m)
        any_mask = np.zeros(n, dtype=bool)
        for m in masks:
            if m is not None and len(m):
                any_mask[: len(m)] |= m
        cand = np.flatnonzero(any_mask)
        out = []
        ci = 0
        while ci < len(cand):
            i = int(cand[ci])
            for q, m in zip(seqs, masks):
                if m is not None and i < len(m) and m[i]:
                    bindings = [(i + j, q[j]) for j in range(len(q))]
                    break
            else:
                raise CepError(f"candidate row {i} has no sequence mask")
            self.match_number += 1
            out.append(bindings)
            # _skip_to always advances past the match start; max() is a
            # belt-and-braces guard against an infinite sweep
            ci = int(np.searchsorted(cand,
                                     max(self._skip_to(bindings), i + 1)))
        return out

    def find_all(self):
        """All matches per AFTER MATCH SKIP policy, leftmost-first."""
        fast = self._find_all_fast()
        if fast is not None:
            return fast
        import numpy as np

        cand = self._start_candidates()
        if cand is None:
            cand = np.arange(len(self.rows))
        out = []
        ci = 0
        while ci < len(cand):
            m = self.first_match(int(cand[ci]))
            if m is None:
                ci += 1
                continue
            _, bindings = m
            self.match_number += 1
            out.append(bindings)
            ci = int(np.searchsorted(cand, self._skip_to(bindings)))
        return out

    def _expired(self, start: int) -> bool:
        """Event-time WITHIN expiry for a held partial at ``start``: rows
        are ordered, so once the newest event is beyond start's WITHIN
        horizon no future row can complete it (watermark analog of the
        reference's sweeper, cep/engine.go:269-320)."""
        if self.within is None or self.ts is None or not self.rows:
            return False
        t0, t1 = self.ts[start], self.ts[-1]
        if t0 is None or t1 is None:
            return False
        return (t1 - t0) > self.within

    def find_emittable(self, flush: bool = False, start_at: int = 0):
        """Incremental drive for streaming: emit only matches that cannot
        extend with future rows (their preferred end is strictly before the
        buffer tail), unless ``flush``.  Returns (matches, consumed_upto):
        the caller may drop buffer rows before ``consumed_upto`` — the
        Spark-state analog of the reference's emit-on-advance + Stop()
        flush (cep/engine.go:240-267, 492-552).  ``start_at``: the first
        MATCHABLE index — rows before it are already-consumed context
        retained only so PREV() navigation in DEFINE/MEASURES reads the
        true predecessors (r12 CEP-fuzz find: trimming consumed rows
        made PREV read nil at the buffer head where the batch paths see
        the real row)."""
        out = []
        start = start_at
        n = len(self.rows)
        while start < n:
            m = self.first_match(start)
            if m is None:
                if self._hit_end and not flush and not self._expired(start):
                    # a partial match wanted rows beyond the buffer —
                    # hold this position for the next micro-batch
                    return out, start
                start += 1
                continue
            end, bindings = m
            if self._hit_end and not flush and not self._expired(start) \
                    and not self.fixed_final:
                # a match WAS found, but the search probed past the
                # buffer tail (or a NEXT()-reading DEFINE failed within
                # its span of it) while preferring a LONGER candidate:
                # the failed extension is INCONCLUSIVE — a future row
                # could flip it and greedy preference would then pick
                # the longer match (r12 CEP-fuzz find: C* with
                # `C AS temperature < NEXT(temperature)` emitted the
                # short match at a micro-batch boundary where flush
                # extends it).  Hold the position instead.
                return out, start
            # rows the emission may read: the match itself (through
            # end-1) plus any MEASURES NEXT() reach past its last row
            tail_need = end + self.program.measures_next - 1 \
                if self.program.measures_next else end
            tail_need = max(tail_need, end)
            if tail_need >= n and not flush and not self._expired(start) \
                    and not self.fixed_final:
                # touches the buffer tail (or its measures read past
                # it): a future row may change the emission
                return out, start
            if end >= n and not flush:
                # WITHIN expired: no future row can extend it — emit now
                pass
            self.match_number += 1
            out.append(bindings)
            start = self._skip_to(bindings)
        return out, start

    # ----------------------------------------------------------- measures
    def measure_rows(self, bindings: list, match_no: int) -> list[dict]:
        """Emit measure row(s) for a completed match (ALL ROWS exposes
        the input columns alongside MEASURES, cep_test.go
        TestCEP_AllRowsSelectStarIncludesInput)."""
        v = self.view
        v.bind, v.mn, v.sym = bindings, match_no, None
        measures = self.program.measures
        if self.spec.rows_per_match != "all":
            v.pos = None  # FINAL: the whole match
            return [{a: fn(v) for a, fn in measures}]
        outs = []
        for p, _ in bindings:  # each row with its RUNNING measures
            v.pos = p
            outs.append({**self.rows[p], **{a: fn(v) for a, fn in measures}})
        return outs


def run_partition(spec: N.MatchSpec, rows: list[dict],
                  ts_values: list | None, within: float | None,
                  pre_cls: dict | None = None,
                  program: Program | None = None) -> list[dict]:
    """Match one ordered partition; returns measure rows."""
    if spec.pattern is None:
        raise CepError("MATCH_RECOGNIZE requires PATTERN")
    matcher = Matcher(spec, rows, ts_values, within, pre_cls=pre_cls,
                      program=program)
    out = []
    for no, bindings in enumerate(matcher.find_all(), start=1):
        out.extend(matcher.measure_rows(bindings, no))
    return out
