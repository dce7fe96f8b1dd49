"""General CEP NFA: quantifiers, contiguity, horizon, AFTER MATCH SKIP
(SURVEY.md §3.11 — the one CEP engine, batch and streaming).

Reference parity: flink-libraries/flink-cep pattern/Pattern.java
(``times``/``timesOrMore``/``oneOrMore``/``optional``/``next``/
``consecutive``) and nfa/NFA.java + aftermatch/AfterMatchSkipStrategy
(NO_SKIP / SKIP_TO_NEXT / SKIP_PAST_LAST_EVENT).  SQL MATCH_RECOGNIZE
lowers onto this engine (extensions/match_recognize.py).

Two execution modes share one event-at-a-time contract:
- DEFAULT (deterministic greedy): one path per partial, no branching —
  identical to Flink wherever adjacent conditions are disjoint (the
  dispatch shapes every funnel uses), and the mode the native
  lowerings (nfa_lowering.py) encode.
- BACKTRACKING (``with_backtracking()``, Flink nfa/NFA.java parity):
  ambiguous transitions fork (``_fold_events_bt``), completed branches
  resolve by regex-greedy priority (reluctant states reverse it), and
  matches may start at any state behind leading optionals — validated
  against Python's ``re`` engine by the 41-case differential fuzzer.
Negative edge guards (``not_next``/``not_followed_by``) kill a waiting
partial on an un-consumed matching event in BOTH modes.

Deterministic-mode contract in detail (documented deltas vs the
branching mode):
- A pattern is a sequence of states; each state has a SQL condition, a
  count range [min, max] (``max=None`` = unbounded), an edge-contiguity
  flag (``strict_in`` = Flink ``next()``), and an internal-contiguity
  flag (``consecutive`` = Flink ``consecutive()``).
- Events are folded per key in (ts, event_id) order.  For each event and
  each live partial match, transitions are tried in GREEDY priority:
  extend the current state (if its count can still grow) else advance to
  the first later state whose condition holds, skipping optional states.
  One path per partial — no branching; alternatives surface as separate
  partials started at later events (NO_SKIP starts a new partial at
  every match of a startable state — state 0, or any state behind
  leading min-0 optionals).
- ``consecutive``: an intervening non-matching event kills the partial
  while the state is below ``min``, and freezes the state (no further
  extends) once ``min`` is reached.  ``strict_in``: an event that
  neither extends the previous state nor enters this one kills the
  partial outright.
- ``within(horizon)``: a partial whose first event is older than
  ``event.ts - horizon`` is dropped before processing the event.
- The final state must have ``min == max`` (bounded) — completion is
  emitted the moment its count reaches ``min``.
- AFTER MATCH SKIP applies at emission, oldest-start first:
  ``past_last`` drops every other live partial and suppresses starts at
  the completing event; ``to_next`` drops only partials sharing the
  match's first event; ``no_skip`` drops nothing; ``to_first:<VAR>`` /
  ``to_last:<VAR>`` (Flink SKIP_TO_FIRST/SKIP_TO_LAST) drop partials
  whose start precedes the first/last event the match mapped to VAR —
  matching resumes from that event (events are never re-consumed, so
  the infinite-loop case Flink guards against cannot arise; a match
  with no VAR row prunes nothing).

State at 100 TB: partials per key are bounded by the horizon (every
fold prunes expired partials), so streaming state is O(events within
horizon per key), the same bound Flink's relative-time cleanup gives.
Row-local predicates are evaluated JVM-side once (boolean flag
columns); the fold sees only flags.  Cross-variable conditions
(``State.py_cond`` — Flink IterativeCondition,
pattern/conditions/IterativeCondition.java) are the exception: they
need the partial's bound rows, so they run per (event, partial) inside
the fold — the same place Flink evaluates them (NFA.computeNextStates
calls the condition with the partial's ``ConditionContext``), with the
JVM flag as a cheap prefilter where a row-local conjunct exists.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pattern import _parse_interval

def match_schema(key: str = "user_id", key_type=None) -> StructType:
    """Match output schema: the key column keeps ITS name and type (any
    groupable type — bigint user ids, string session ids, …)."""
    return StructType(
        [
            StructField(key, key_type or LongType()),
            StructField("start_ts", TimestampType()),
            StructField("end_ts", TimestampType()),
            StructField("labels", ArrayType(StringType())),
            StructField("ids", ArrayType(LongType())),
            StructField("tss", ArrayType(TimestampType())),
        ]
    )


NFA_MATCH_SCHEMA = match_schema()  # the canonical user_id-keyed shape

_NFA_STATE_SCHEMA = StructType([StructField("partials", ArrayType(StringType()))])


@dataclass(frozen=True)
class State:
    name: str
    cond: str
    min_count: int = 1
    max_count: int | None = 1  # None = unbounded
    strict_in: bool = False  # Flink next(): edge contiguity into this state
    consecutive: bool = False  # Flink consecutive(): contiguity between repeats
    # Reluctant quantifier (Flink greedy()/default vs SQL `+?`): a
    # non-greedy state PREFERS advancing over extending at an
    # ambiguous event — meaningful only under the backtracking fold
    # (the deterministic mode rejects it; the delta cannot arise for
    # provably-disjoint conditions either way).
    greedy: bool = True
    # Cross-variable condition (Flink IterativeCondition): a Python
    # expression over EV["col"] (current event), FIRST/LAST("Var","col")
    # (bound rows of earlier variables) and COUNT_VAR("Var"), evaluated
    # per (event, partial) inside the fold.  ``cond`` stays the JVM-side
    # row-local prefilter ("true" when nothing is row-local).
    py_cond: str | None = None
    # Negative edge guard (flink-cep Pattern.notNext / notFollowedBy,
    # pattern/Pattern.java): while a partial waits to ENTER this state,
    # an un-consumed event matching ``neg_cond`` kills it.
    # ``neg_strict`` = notNext: only the event IMMEDIATELY after the
    # previous state's last bound row is checked.
    neg_cond: str | None = None
    neg_strict: bool = False
    # Original SQL text of a cross-variable condition (``Var.col`` /
    # FIRST/LAST(Var.col) references).  Optional: when present, the
    # native lowering (nfa_lowering.py) can instantiate the condition at
    # static offsets instead of falling back to the Python fold.
    sql_cond: str | None = None
    # Alternation group — MATCH_RECOGNIZE ``(A | B)`` (Calcite pattern
    # grammar; flink-cep has no direct API twin): extra (name, cond,
    # py_cond) alternatives beyond the primary.  Each repetition of the
    # state consumes ONE event matching ANY alternative and labels it
    # with that alternative's name.  Alternative order is regex ``|``
    # priority: the deterministic fold takes the first match; the
    # backtracking fold forks with leftmost-greedier decks.  States
    # with alternatives never lower natively (fold-only).
    alts: tuple[tuple[str, str, str | None], ...] = ()
    # Stop condition (Flink ``Pattern.until()``, pattern/Pattern.java —
    # oneOrMore/timesOrMore only): once an event matches it while a
    # partial sits in this state, the state stops accepting repetitions
    # (the matching event is NOT consumed into the loop; it may still
    # advance the partial — including at that same event).  A partial
    # frozen below min_count is dead.
    until_cond: str | None = None
    # Flink ``followedByAny`` edge INTO this state (non-deterministic
    # relaxed contiguity, pattern/Pattern.java): an event that could
    # enter the state may ALSO be ignored — the waiting branch forks
    # off so every later occurrence yields its own match.  Requires
    # the backtracking fold + emit-all resolution.
    any_in: bool = False
    # Flink ``allowCombinations()`` on a quantified state: a matching
    # event may be skipped instead of consumed into the loop — every
    # repetition subset matches.  Same mode requirements as any_in.
    combinations: bool = False


@dataclass(frozen=True)
class PatternSeq:
    """Fluent builder mirroring flink-cep pattern/Pattern.java."""

    states: tuple[State, ...] = ()
    horizon_s: int = 3600
    skip: str = "no_skip"  # no_skip | to_next | past_last | to_first:V | to_last:V
    # Hard bound on live partials per key.  The horizon already bounds
    # state to O(events-within-horizon per key), but a single hot key
    # (one user with 10^9 events inside the horizon) would still grow
    # the pool and serialize the fold; at capacity, NEW partial starts
    # are rejected (existing partials keep progressing, so in-flight
    # matches are unaffected) and the rejection count is surfaced as an
    # executor-log warning.  Flink has no such guard — its NFA state
    # grows with the same horizon bound (nfa/sharedbuffer).
    max_partials: int = 100_000
    # Columns carried into the fold (and bound per matched event) so
    # py_cond cross-variable predicates can read them.  Numeric / string
    # / bool columns only (state is JSON-serialized for streaming).
    value_cols: tuple[str, ...] = ()
    # Full-backtracking mode (Flink nfa/NFA.java branching semantics):
    # an event viable for BOTH extending the current quantified state
    # and advancing forks the partial; completed lower-priority
    # branches wait until every greedier sibling dies, so the emitted
    # match is the regex-greedy one (A+ B over rows satisfying both
    # emits A+ maximal-with-B, where the default deterministic-greedy
    # fold absorbs everything into A+ and misses).  Opt-in because the
    # native lowerings implement the deterministic-greedy contract;
    # with backtracking on, the Python fold always runs.
    backtrack: bool = False
    # Branch cap per match start under backtracking — greedier branches
    # are kept when the fork fan-out exceeds it (Flink has no cap; its
    # shared buffer grows the same exponential worst case).
    max_branches: int = 64
    # Group patterns (Flink ``Pattern.begin(Pattern)``,
    # pattern/GroupPattern.java): quantified CONTIGUOUS sub-sequences.
    # Each entry is (start_idx, end_idx, gmin, gmax, greedy): reaching
    # end_idx with its count satisfied may LOOP back to start_idx
    # (another group repetition) or proceed past end_idx once gmin
    # repetitions completed.  Non-nested, non-overlapping; a group's
    # first state needs min_count >= 1.
    groups: tuple[tuple[int, int, int, int | None, bool], ...] = ()
    # index range of the group just appended (quantifiers bind to it)
    pending_group: tuple[int, int] | None = None
    # SQL:2016 SUBSET union variables (name -> member names): consumed
    # by the native lowering to resolve membership-only navigation in
    # DEFINE sql_cond text (union of member offsets); the fold needs no
    # mapping — its py_cond carries member tuples inline.
    subsets: tuple[tuple[str, tuple[str, ...]], ...] = ()

    # -- construction -------------------------------------------------
    @staticmethod
    def begin(name: str, cond: str) -> "PatternSeq":
        return PatternSeq(states=(State(name, cond),))

    # a declared-but-unattached negative guard (notFollowedBy/notNext
    # waiting for the next positive state)
    pending_neg: tuple[str, bool] | None = None

    def followed_by(self, name: str, cond: str) -> "PatternSeq":
        return self._append(State(name, cond))

    def followed_by_any(self, name: str, cond: str) -> "PatternSeq":
        """Flink ``followedByAny``: non-deterministic relaxed
        contiguity — a matching event may also be IGNORED, so every
        later occurrence produces its own match.  Implies the
        branching fold with emit-all resolution (Flink CEP emits every
        found match under NO_SKIP); only ``no_skip`` is supported."""
        return self._append(State(name, cond, any_in=True))

    def next_(self, name: str, cond: str) -> "PatternSeq":
        return self._append(State(name, cond, strict_in=True))

    def _append(self, st: State) -> "PatternSeq":
        if self.pending_neg is not None:
            cond, strict = self.pending_neg
            st = replace(st, neg_cond=cond, neg_strict=strict)
        return replace(self, states=self.states + (st,),
                       pending_neg=None, pending_group=None)

    def not_followed_by(self, cond: str) -> "PatternSeq":
        """Flink ``notFollowedBy``: no event matching ``cond`` may
        occur between the previous state's completion and the next
        state's first row (un-consumed events only — an event bound by
        the next positive state is never a violation)."""
        if self.pending_neg is not None:
            raise ValueError("two consecutive negative patterns")
        return replace(self, pending_neg=(cond, False))

    def not_next(self, cond: str) -> "PatternSeq":
        """Flink ``notNext``: the event IMMEDIATELY after the previous
        state's last bound row must not match ``cond``."""
        if self.pending_neg is not None:
            raise ValueError("two consecutive negative patterns")
        return replace(self, pending_neg=(cond, True))

    # -- group patterns (Pattern.begin(Pattern)) ------------------------
    def _append_group(self, sub: "PatternSeq", strict_first: bool
                      ) -> "PatternSeq":
        if sub.groups or len(sub.states) < 2:
            raise ValueError(
                "a group pattern is a flat sub-sequence of >= 2 states "
                "(nested groups unsupported; single states take plain "
                "quantifiers)")
        if sub.states[0].min_count < 1:
            raise ValueError(
                "a group's first state needs min_count >= 1 (the "
                "loop-back target must be unambiguous)")
        if self.pending_neg is not None:
            raise ValueError("a negative pattern cannot guard a group")
        gs = len(self.states)
        first = replace(sub.states[0], strict_in=strict_first)
        new_states = (first,) + sub.states[1:]
        ge = gs + len(new_states) - 1
        merged = tuple(dict.fromkeys(self.value_cols + sub.value_cols))
        return replace(
            self,
            states=self.states + new_states,
            groups=self.groups + ((gs, ge, 1, 1, True),),
            pending_group=(gs, ge),
            value_cols=merged,
        )

    @staticmethod
    def begin_group(sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.begin(Pattern)``: the whole sub-sequence is
        one quantifiable unit — ``.times(2)`` after this repeats the
        SEQUENCE (fold loops from its last state back to its first)."""
        return PatternSeq()._append_group(sub, strict_first=False)

    def followed_by_group(self, sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.followedBy(Pattern)``."""
        return self._append_group(sub, strict_first=False)

    def next_group(self, sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.next(Pattern)``."""
        return self._append_group(sub, strict_first=True)

    def _mod_group(self, gmin=None, gmax=..., greedy=None) -> "PatternSeq":
        gs, ge = self.pending_group
        out = []
        for g in self.groups:
            if (g[0], g[1]) == (gs, ge):
                out.append((
                    gs, ge,
                    g[2] if gmin is None else gmin,
                    g[3] if gmax is ... else gmax,
                    g[4] if greedy is None else greedy,
                ))
            else:
                out.append(g)
        return replace(self, groups=tuple(out))

    # -- quantifiers (apply to the LAST added state or group) -----------
    def _mod_last(self, **kw) -> "PatternSeq":
        return replace(self, states=self.states[:-1] + (replace(self.states[-1], **kw),))

    def times(self, n: int, m: int | None = None) -> "PatternSeq":
        if self.pending_group is not None:
            return self._mod_group(gmin=n, gmax=n if m is None else m)
        return self._mod_last(min_count=n, max_count=n if m is None else m)

    def times_or_more(self, n: int) -> "PatternSeq":
        if self.pending_group is not None:
            return self._mod_group(gmin=n, gmax=None)
        return self._mod_last(min_count=n, max_count=None)

    def one_or_more(self) -> "PatternSeq":
        return self.times_or_more(1)

    def optional(self) -> "PatternSeq":
        if self.pending_group is not None:
            raise ValueError("optional groups are unsupported "
                             "(a group's min repetition count is 1)")
        return self._mod_last(min_count=0)

    def consecutive(self) -> "PatternSeq":
        return self._mod_last(consecutive=True)

    def allow_combinations(self) -> "PatternSeq":
        """Flink ``allowCombinations()``: the LAST added (quantified)
        state may SKIP matching events between repetitions — every
        combination of occurrences matches.  Same execution mode as
        ``followed_by_any`` (branching fold, emit-all, no_skip)."""
        last = self.states[-1]
        if (last.max_count or 2) <= 1:
            raise ValueError(
                "allow_combinations() applies to a quantified state "
                "(oneOrMore/times) — Flink's own restriction")
        return self._mod_last(combinations=True)

    def reluctant(self) -> "PatternSeq":
        """SQL `+?`/`*?`/`{n,m}?` on the LAST added state or group:
        prefer the shortest match (advance/exit before extend/loop).
        Needs ``with_backtracking()`` and must not be the final state
        (Flink rejects patterns ending in a reluctant quantifier)."""
        if self.pending_group is not None:
            return self._mod_group(greedy=False)
        return self._mod_last(greedy=False)

    def where(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.where()``: AND another row-local condition
        into the LAST added state (conditions on the same state
        compose conjunctively — pattern/Pattern.java#where)."""
        last = self.states[-1]
        return self._mod_last(cond=f"({last.cond}) AND ({cond})")

    def or_(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.or()``: OR a row-local condition into the
        LAST added state."""
        last = self.states[-1]
        return self._mod_last(cond=f"({last.cond}) OR ({cond})")

    def subtype(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.subtype(Class)``: narrow the accepted events
        by a type predicate.  Java subtypes have no Python-row
        equivalent, so the discriminator is an explicit row condition
        (e.g. ``event_type = 'SubEvent'``) — composed conjunctively
        like ``where``."""
        return self.where(cond)

    def where_iterative(
        self, py_cond: str, *value_cols: str, sql_cond: str | None = None
    ) -> "PatternSeq":
        """Attach a cross-variable condition to the LAST added state
        (Flink ``IterativeCondition`` — pattern/conditions/
        IterativeCondition.java): a Python expression over ``EV["col"]``,
        ``FIRST("Var","col")``, ``LAST("Var","col")``, ``COUNT_VAR("Var")``.
        ``value_cols`` lists the event columns the expression reads.
        ``sql_cond`` optionally carries the equivalent SQL text
        (``Var.col`` references) so eligible patterns can lower to a
        native window-function plan instead of the Python fold."""
        merged = tuple(dict.fromkeys(self.value_cols + value_cols))
        return replace(
            self,
            states=self.states[:-1]
            + (replace(self.states[-1], py_cond=py_cond, sql_cond=sql_cond),),
            value_cols=merged,
        )

    def alt(self, name: str, cond: str, py_cond: str | None = None,
            *value_cols: str) -> "PatternSeq":
        """Add an ALTERNATIVE variable to the LAST added state —
        MATCH_RECOGNIZE ``(A | B)``: each repetition consumes one event
        matching any alternative, labeled with that alternative's name.
        Order is regex ``|`` priority (leftmost preferred).  A state
        with alternatives is fold-only (never lowers natively)."""
        last = self.states[-1]
        if any(name == s.name for s in self.states) or any(
                name == a[0] for s in self.states for a in s.alts):
            raise ValueError(f"duplicate pattern variable {name!r}")
        merged = tuple(dict.fromkeys(self.value_cols + value_cols))
        return replace(
            self,
            states=self.states[:-1]
            + (replace(last, alts=last.alts + ((name, cond, py_cond),)),),
            value_cols=merged,
        )

    def until(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.until()``: stop condition on the LAST added
        (unbounded) state — an event matching ``cond`` freezes the
        loop (the event itself is not consumed into it).  Row-local
        conditions only (Flink accepts IterativeCondition; documented
        delta)."""
        last = self.states[-1]
        if last.max_count is not None:
            raise ValueError(
                "until() applies to an unbounded quantifier "
                "(oneOrMore/timesOrMore) — Flink's own restriction")
        return self._mod_last(until_cond=cond)

    def with_subsets(self, mapping: dict[str, tuple[str, ...]]) -> "PatternSeq":
        """Declare SQL:2016 SUBSET union variables so membership-only
        references in ``sql_cond`` text can lower natively (the fold's
        py_cond side carries member tuples inline and ignores this)."""
        return replace(
            self,
            subsets=tuple(sorted((k, tuple(v)) for k, v in mapping.items())),
        )

    def within(self, interval: str | int) -> "PatternSeq":
        return replace(self, horizon_s=_parse_interval(interval))

    def with_max_partials(self, n: int) -> "PatternSeq":
        """Override the per-key live-partial cap (see field doc)."""
        if n < 1:
            raise ValueError("max_partials must be >= 1")
        return replace(self, max_partials=n)

    def with_backtracking(self, max_branches: int = 64) -> "PatternSeq":
        """Switch to Flink's branching-NFA semantics (see field doc).
        For mutually-exclusive DEFINE conditions no fork can occur and
        results are identical to the default mode — only the plan
        differs (fold instead of a possible native lowering)."""
        if max_branches < 2:
            raise ValueError("max_branches must be >= 2")
        return replace(self, backtrack=True, max_branches=max_branches)

    def after_match_skip(self, strategy: str) -> "PatternSeq":
        """``no_skip`` | ``to_next`` | ``past_last`` |
        ``to_first:<VAR>`` | ``to_last:<VAR>`` (Flink
        AfterMatchSkipStrategy SKIP_TO_FIRST/SKIP_TO_LAST: on emission,
        partials whose start precedes the FIRST/LAST event the match
        mapped to VAR are pruned; matching resumes from that event.
        If the match bound no VAR row — an unmatched optional — nothing
        is pruned, a documented delta from Flink's elbow-throw option)."""
        mode = strategy.partition(":")[0]
        if mode not in ("no_skip", "to_next", "past_last", "to_first", "to_last"):
            raise ValueError(f"unknown skip strategy {strategy!r}")
        if mode in ("to_first", "to_last") and ":" not in strategy:
            raise ValueError(f"{mode} needs a variable: '{mode}:<VAR>'")
        return replace(self, skip=strategy)

    # -- validation ----------------------------------------------------
    def _check(self) -> None:
        if len(self.states) < 1:
            raise ValueError("empty pattern")
        last = self.states[-1]
        if last.min_count < 1:
            raise ValueError(
                "final state must require at least one row "
                "(Flink rejects a fully-optional pattern end too)")
        if last.max_count != last.min_count:
            # GREEDY quantified final (B{1,3} / B+ at pattern end) —
            # valid Flink 1.11: the match closes at the count cap, at a
            # row that fails to extend a strict run, at WITHIN expiry of
            # the extension window, or at end of bounded input (batch
            # finalize / the replay flush sentinel).  Round 11; the
            # restricted shapes below stay loud.
            if not last.greedy:
                raise ValueError(
                    "a pattern may not END with a reluctant quantifier "
                    "(Flink's own restriction)")
            if getattr(last, "until_cond", None) is not None:
                raise ValueError(
                    "until() on a quantified FINAL state is not "
                    "supported — bound the state (times(n)) or move "
                    "the stop condition into a following state")
            if any(s.any_in or s.combinations for s in self.states):
                raise ValueError(
                    "a quantified final state cannot combine with "
                    "followed_by_any/allow_combinations (emit-all "
                    "would emit every prefix length)")
            if len(self.states) - 1 in {g[1] for g in self.groups}:
                raise ValueError(
                    "a quantified final state cannot end a repetition "
                    "group (same rule as the final-group bound)")
        if not last.greedy:
            raise ValueError(
                "a pattern may not END with a reluctant quantifier "
                "(Flink's own restriction)")
        if self.pending_neg is not None:
            raise ValueError(
                "a pattern may not END with notNext/notFollowedBy "
                "(Flink's own restriction; bound it with a following "
                "state or WITHIN)")
        if any(not s.greedy for s in self.states) and not self.backtrack:
            raise ValueError(
                "reluctant quantifiers need with_backtracking() — the "
                "deterministic-greedy mode cannot express them")
        for gs, ge, gmn, gmx, ggreedy in self.groups:
            if gmn < 1 or (gmx is not None and gmx < gmn):
                raise ValueError(
                    f"group [{gs},{ge}]: repetition range ({gmn},{gmx}) "
                    "invalid (min >= 1, max >= min)")
            if ge == len(self.states) - 1 and gmx != gmn:
                raise ValueError(
                    "a pattern-final group must be bounded with "
                    "min == max repetitions (same rule as the final "
                    "state: completion is emitted at the count)")
            if not ggreedy and not self.backtrack:
                raise ValueError(
                    "reluctant groups need with_backtracking()")
        if any(s.any_in or s.combinations for s in self.states):
            if not self.backtrack:
                raise ValueError(
                    "followed_by_any/allow_combinations need "
                    "with_backtracking() (they ARE branching semantics)")
            if self.skip != "no_skip":
                raise ValueError(
                    "followed_by_any/allow_combinations emit every "
                    "found match (Flink CEP NO_SKIP); other skip "
                    "strategies are unsupported with emit-all")

    # -- execution ------------------------------------------------------
    def match_batch(
        self, events: DataFrame, key: str = "user_id", lowering: bool = True
    ) -> DataFrame:
        """Bounded match.  Eligible patterns lower to a native Catalyst
        window-function plan (nfa_lowering.py) — JVM-vectorized, no
        Python in the hot path; the general case runs the keyed fold.
        ``lowering=False`` forces the fold (used by equivalence tests)."""
        self._check()
        flagged = _with_flags(events, self.states, key, self.value_cols)
        if lowering:
            from .nfa_lowering import eligible_tier, try_lower_batch

            # Backtracking mode can still lower tier A: the bounded
            # count-vector CASE enumeration tries allocations in greedy
            # priority order and takes the first that satisfies every
            # condition — exactly regex backtracking, so the two agree
            # on ANY conditions (equivalence-tested).  Tiers B–D encode
            # the deterministic-greedy contract (no fallback binding)
            # and stay fold-only under backtracking.
            if self.groups:
                # bounded group patterns unroll into tier-A branches
                # under backtracking semantics (see _groups_lowerable)
                lowered = try_lower_batch(
                    flagged, self.states, key, self.value_cols,
                    self.horizon_s, self.skip, backtrack=self.backtrack,
                    groups=self.groups,
                )
                if lowered is not None:
                    return lowered
            else:
                tier = eligible_tier(self.states, self.horizon_s, self.skip)
                if tier is not None and (
                        not self.backtrack or tier in ("A", "E")):
                    lowered = try_lower_batch(
                        flagged, self.states, key, self.value_cols,
                        self.horizon_s, self.skip, backtrack=self.backtrack,
                        subsets=dict(self.subsets) or None,
                    )
                    if lowered is not None:
                        return lowered
        spec = _spec(self)
        schema = match_schema(key, events.schema[key].dataType)

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts", "event_id"])
            out, _ = _fold_events(pdf[key].iloc[0], pdf, [], spec,
                                  finalize=True)
            return _out_frame(out, key)

        return flagged.groupBy(key).applyInPandas(fold, schema)

    def match_stream(self, events: DataFrame, key: str = "user_id") -> DataFrame:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        from ..session import configure

        self._check()
        configure(events.sparkSession)
        flagged = _with_flags(events, self.states, key, self.value_cols)
        spec = _spec(self)
        schema = match_schema(key, events.schema[key].dataType)

        def fn(k, rows, state: GroupState):
            parts = [p for p in rows if len(p)]
            pdf = (
                pd.concat(parts, ignore_index=True).sort_values(["ts", "event_id"])
                if parts
                else pd.DataFrame()
            )
            pend = [json.loads(s) for s in state.get[0]] if state.exists else []
            out, pend = _fold_events(k[0], pdf, pend, spec)
            if pend:
                state.update(([json.dumps(p) for p in pend],))
            elif state.exists:
                state.remove()
            if out:
                yield _out_frame(out, key)

        return flagged.groupBy(key).applyInPandasWithState(
            fn, schema, _NFA_STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )


# ---------------------------------------------------------------- core


def _with_flags(
    events: DataFrame,
    states: tuple[State, ...],
    key: str,
    value_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One boolean flag column per state, evaluated JVM-side; value
    columns (cross-variable condition operands) ride along as ``v_<col>``.
    Flags are null-coalesced to false (SQL ternary logic: a condition
    over a NULL operand — e.g. a lag() at the partition head — does not
    match), keeping the Arrow flag columns non-nullable booleans."""
    return events.select(
        F.col(key),
        "event_id",
        "ts",
        *[
            F.coalesce(F.expr(s.cond), F.lit(False)).alias(f"f{i}")
            for i, s in enumerate(states)
        ],
        *[
            F.coalesce(F.expr(cond), F.lit(False)).alias(f"f{i}x{k}")
            for i, s in enumerate(states)
            for k, (_nm, cond, _pc) in enumerate(s.alts)
        ],
        *[
            F.coalesce(F.expr(s.neg_cond), F.lit(False)).alias(f"g{i}")
            for i, s in enumerate(states)
            if s.neg_cond is not None
        ],
        *[
            F.coalesce(F.expr(s.until_cond), F.lit(False)).alias(f"u{i}")
            for i, s in enumerate(states)
            if s.until_cond is not None
        ],
        *[F.col(c).alias(f"v_{c}") for c in value_cols],
    )


def _spec(p: PatternSeq) -> dict:
    """Plain-dict pattern spec (picklable into executor closures)."""
    return {
        "states": [
            (s.name, s.min_count, s.max_count, s.strict_in, s.consecutive)
            for s in p.states
        ],
        "py_conds": [
            compile(s.py_cond, f"<py_cond:{s.name}>", "eval") if s.py_cond else None
            for s in p.states
        ],
        "value_cols": list(p.value_cols),
        "horizon_us": p.horizon_s * 1_000_000,
        "skip": p.skip,
        "max_partials": p.max_partials,
        "backtrack": p.backtrack,
        "max_branches": p.max_branches,
        "greedy": [s.greedy for s in p.states],
        "neg": [(s.neg_cond is not None, s.neg_strict) for s in p.states],
        "alts": [[a[0] for a in s.alts] for s in p.states],
        "alt_py_conds": [
            [
                compile(a[2], f"<py_cond:{a[0]}>", "eval") if a[2] else None
                for a in s.alts
            ]
            for s in p.states
        ],
        "until": [s.until_cond is not None for s in p.states],
        "any_in": [s.any_in for s in p.states],
        "comb": [s.combinations for s in p.states],
        "emit_all": any(s.any_in or s.combinations for s in p.states),
        "groups": [list(g) for g in p.groups],
    }


def _bind_val(p: dict, var, col: str, first: bool):
    """FIRST/LAST-bound value of ``col`` for pattern variable ``var`` —
    or for a SQL:2016 SUBSET union variable when ``var`` is a tuple of
    member names (the first/last row labeled with ANY member)."""
    labels, vals = p["labels"], p.get("vals", ())
    names = (var,) if isinstance(var, str) else tuple(var)
    rng = range(len(labels)) if first else range(len(labels) - 1, -1, -1)
    for i in rng:
        if labels[i] in names:
            return vals[i].get(col)
    return None


class _SqlNull:
    """SQL NULL stand-in for unbound-variable / null-event operands in
    py_cond expressions: EVERY comparison is UNKNOWN → False (including
    ``!=``, where Python's ``x != None`` would otherwise be True — the
    one operator whose native semantics silently violate ternary
    logic), truthiness is False, and arithmetic raises TypeError (which
    ``_py_cond_ok`` attributes to the null operand and maps to False)."""

    __slots__ = ()

    def _no(self, _other):  # NULL <op> anything → UNKNOWN → False
        return False

    __eq__ = __ne__ = __lt__ = __le__ = __gt__ = __ge__ = _no

    def __bool__(self):
        return False

    def __hash__(self):  # dataclass/dict safety; never keyed in practice
        return 0

    def __repr__(self):
        return "SQL_NULL"


_SQL_NULL = _SqlNull()


def _is_sql_null(v) -> bool:
    """SQL NULL as seen from the pandas fold frame: None, or float NaN —
    pandas renders a NULL double column value as NaN, which would
    otherwise leak Python NaN semantics (``NaN != x`` is True) where
    SQL three-valued logic (and the native lowering) yield UNKNOWN →
    False.  Documented delta: a genuine NaN *data* value in a
    cross-variable condition is treated as NULL too (the fold frame
    cannot distinguish them)."""
    return v is None or (isinstance(v, float) and v != v)


class _NoneTracking(dict):
    """EV namespace that records whether a null value was read (and
    substitutes the SQL-NULL comparison stand-in), so a TypeError can be
    attributed to SQL-null semantics vs a genuine bug."""

    def __init__(self, vals: dict):
        super().__init__(vals)
        self.saw_none = False

    def __getitem__(self, k):
        v = super().__getitem__(k)  # missing column → KeyError (genuine)
        if _is_sql_null(v):
            self.saw_none = True
            return _SQL_NULL
        return v


def _py_cond_ok(code, p: dict | None, evvals: dict,
                cur_var: str | None = None) -> bool:
    """Evaluate a compiled cross-variable condition for (partial, event).

    py_cond NULL contract (v2, round 8 — matches the native lowering):

    - ``FIRST``/``LAST`` of the variable CURRENTLY being matched
      (``cur_var``) with no accepted row yet bind the **current event**
      — SQL MATCH_RECOGNIZE running semantics, where the candidate row
      is already part of the match prefix (``B.value >= FIRST(B.value)``
      is vacuously true at rep 0).  Once a row of that variable is
      bound, FIRST/LAST navigate the bound rows as usual.
    - An unbound OTHER-variable reference, and any null event value,
      evaluates as SQL NULL: EVERY comparison is UNKNOWN → False,
      ``!=`` included (``_SqlNull``) — matching Flink's
      IterativeCondition contract and the lowering (``x <> NULL`` is
      UNKNOWN and filters out).  ``FIRST("X",...) is None`` is never
      True under this contract (v1 returned ``None`` here; conditions
      relying on that should compare against the documented rep-0
      current-row binding instead).

    A TypeError with NO null operand in play (e.g. comparing a string
    column to a number) is a genuine condition bug and is re-raised
    with the compiled condition's name (``<py_cond:VAR>``) in the
    traceback rather than silently treated as a non-match.
    """
    pp = p if p is not None else {"labels": [], "vals": []}
    ev = _NoneTracking(evvals)
    saw_none = [False]

    def _bind(var, col: str, first: bool):
        v = _bind_val(pp, var, col, first)
        names = (var,) if isinstance(var, str) else tuple(var)
        if (
            v is None
            and cur_var in names
            and not any(lb in names for lb in pp["labels"])
        ):
            v = evvals.get(col)  # rep 0: the candidate row binds itself
        if _is_sql_null(v):  # None, or pandas' NaN rendering of NULL
            saw_none[0] = True
            return _SQL_NULL
        return v

    def _count_var(var) -> int:
        names = (var,) if isinstance(var, str) else tuple(var)
        return sum(1 for lb in pp["labels"] if lb in names)

    env = {
        "EV": ev,
        "FIRST": lambda var, col: _bind(var, col, True),
        "LAST": lambda var, col: _bind(var, col, False),
        "COUNT_VAR": _count_var,
    }
    try:
        return bool(eval(code, {"__builtins__": {}}, env))
    except TypeError:
        if ev.saw_none or saw_none[0]:
            return False  # null operand → no match (SQL ternary)
        raise


def _fold_events(
    key: int, events: pd.DataFrame, partials: list[dict], spec: dict,
    finalize: bool = False,
) -> tuple[list[tuple], list[dict]]:
    """Fold a (ts, event_id)-sorted batch into partial-match state.

    A partial is a JSON-able dict: si (state index), cnt (count in
    current state), closed (state frozen by a consecutive-break),
    labels/ids/tss (collected events; tss in epoch micros), start
    (first-event micros), sid (start event id, for to_next).
    Returns (completed matches, surviving partials) — shared by the
    batch and streaming backends so semantics cannot drift.

    ``spec["backtrack"]`` routes to the branching fold
    (``_fold_events_bt``); ``finalize`` only matters there (bounded
    input exhausted → resolve buffered completions) — the
    deterministic fold emits at completion, so it ignores it.
    """
    if spec.get("backtrack"):
        return _fold_events_bt(key, events, partials, spec, finalize)
    states = spec["states"]
    horizon = spec["horizon_us"]
    skip = spec["skip"]
    groups = spec.get("groups") or []
    # group-end state index → (start, gmin, gmax, greedy, group idx)
    gend = {g[1]: (g[0], g[2], g[3], g[4], gi)
            for gi, g in enumerate(groups)}
    max_partials = spec.get("max_partials") or 100_000
    rejected_starts = 0
    py_conds = spec.get("py_conds") or [None] * len(states)
    value_cols = spec.get("value_cols") or []
    n_states = len(states)
    out: list[tuple] = []
    n_events = len(events)
    if not n_events:
        return out, partials

    def _plain(v):
        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        if hasattr(v, "item"):  # numpy scalar → JSON-serializable python
            return v.item()
        return str(v)

    # Column extraction once per batch (the per-row itertuples/getattr
    # path dominated fold time at 100k-event scale).  Flag columns are
    # non-nullable booleans by construction (_with_flags coalesces).
    # normalize to ns first: pandas may hold datetime64[us] depending on
    # the Arrow conversion path, and a bare astype(int64) would then be
    # µs already (off by 1000 after the //1000)
    ts_arr = (events["ts"].astype("datetime64[ns]").astype("int64") // 1000).tolist()
    eid_arr = events["event_id"].astype("int64").tolist()
    flag_arrs = [events[f"f{i}"].astype(bool).tolist() for i in range(n_states)]
    val_arrs = {c: events[f"v_{c}"].tolist() for c in value_cols}
    neg = spec.get("neg") or [(False, False)] * n_states
    neg_arrs = {
        i: events[f"g{i}"].astype(bool).tolist()
        for i in range(n_states) if neg[i][0]
    }
    alts = spec.get("alts") or [[] for _ in range(n_states)]
    alt_codes = spec.get("alt_py_conds") or [[] for _ in range(n_states)]
    alt_arrs = {
        i: [events[f"f{i}x{k}"].astype(bool).tolist()
            for k in range(len(alts[i]))]
        for i in range(n_states) if alts[i]
    }
    until = spec.get("until") or [False] * n_states
    until_arrs = {
        i: events[f"u{i}"].astype(bool).tolist()
        for i in range(n_states) if until[i]
    }
    # a match may START at any state reachable through leading
    # optional (min 0) states — Flink's A? B matches a bare B
    start_chain = [0]
    while start_chain[-1] < n_states - 1 \
            and states[start_chain[-1]][1] == 0:
        start_chain.append(start_chain[-1] + 1)

    # greedy quantified FINAL state (B{1,3} / B+ at pattern end): the
    # match closes at cap / strict break / expiry / finalize rather
    # than at the min count (round 11)
    qf = (n_states - 1 not in gend) and (
        states[-1][2] is None or states[-1][2] != states[-1][1])

    for ei in range(n_events):
        ts_us = ts_arr[ei]
        eid = eid_arr[ei]
        flags = [fa[ei] for fa in flag_arrs]
        evvals = {c: _plain(val_arrs[c][ei]) for c in value_cols}

        def _lbl(j: int, p: dict | None) -> str | None:
            """Label consumed if the event can enter/extend state j —
            the primary variable, else the first matching alternative
            (regex ``|`` order) — or None."""
            if flags[j]:
                code = py_conds[j]
                if code is None or _py_cond_ok(code, p, evvals, states[j][0]):
                    return states[j][0]
            for k, nm in enumerate(alts[j]):
                if alt_arrs[j][k][ei]:
                    code = alt_codes[j][k]
                    if code is None or _py_cond_ok(code, p, evvals, nm):
                        return nm
            return None

        def _ok(j: int, p: dict | None) -> bool:
            return _lbl(j, p) is not None

        def _startable(j: int) -> bool:
            return flags[j] or any(a[ei] for a in alt_arrs.get(j, ()))

        if not partials and not any(_startable(j) for j in start_chain):
            continue  # nothing live and nothing can start — skip fast
        survivors: list[dict] = []
        completed: list[dict] = []
        # WITHIN expiry: partials die — EXCEPT a greedy quantified-final
        # run at or past its min, whose own rows are all inside the
        # window: only the EXTENSION window expired, so the longest run
        # found is the match (round 11; mirrors the branching fold's
        # pend resolution when the extending sibling expires).
        kept: list[dict] = []
        for p in partials:
            if ts_us <= p["start"] + horizon:
                kept.append(p)
            elif qf and p["si"] == n_states - 1 and p["cnt"] >= states[-1][1]:
                completed.append(p)
        partials = kept
        suppress_start = False
        for p in partials:
            si = p["si"]
            name, mn, mx, strict_in, consec = states[si]
            # until() stop condition: freeze the loop BEFORE the extend
            # check (the matching event is never consumed into it); a
            # partial frozen below min can never complete — dead
            if until[si] and until_arrs[si][ei] and not p["closed"]:
                p["closed"] = True
                if p["cnt"] < mn:
                    continue
            # greedy: extend current state first
            ext_lbl = (
                _lbl(si, p)
                if not p["closed"] and (mx is None or p["cnt"] < mx)
                else None
            )
            def _complete_at(q: dict, j: int) -> bool:
                """Reaching state j's min completes the PATTERN unless
                j ends a group still below its repetition count."""
                if j != n_states - 1:
                    return False
                if j in gend:
                    gs_, gmn_, _gmx, _gg, gi_ = gend[j]
                    done = (q.get("gc") or [0] * len(groups))[gi_] + 1
                    return done >= gmn_
                return True

            if ext_lbl is not None:
                p["cnt"] += 1
                p["labels"].append(ext_lbl)
                p["ids"].append(eid)
                p["tss"].append(ts_us)
                p.setdefault("vals", []).append(evvals)
                p["ng"] = True  # re-arm the notNext slot
                # a quantified final completes at its CAP (greedy takes
                # every extension up to max); an UNBOUNDED quantified
                # final never completes by count (break/expiry/finalize
                # only — review finding: the mn fallback truncated
                # B{2,} at its min); fixed finals at min
                if qf and si == n_states - 1:
                    done_at = mx  # None = never by count
                else:
                    done_at = mn
                if done_at is not None and p["cnt"] == done_at \
                        and _complete_at(p, si):
                    completed.append(p)
                else:
                    survivors.append(p)
                continue
            # advance: group loop-back first (greedy: another repetition
            # outranks proceeding), then the first later state whose
            # flag holds, skipping optionals
            advanced = False
            if p["cnt"] >= mn:
                proceed_ok = True
                if si in gend:
                    gs_, gmn_, gmx_, _gg, gi_ = gend[si]
                    gc = p.get("gc") or [0] * len(groups)
                    loops_done = gc[gi_] + 1
                    if gmx_ is None or loops_done < gmx_:
                        glbl = _lbl(gs_, p)
                        if glbl is not None:
                            gc[gi_] = loops_done
                            p["gc"] = gc
                            p.update(si=gs_, cnt=1, closed=False)
                            p["labels"].append(glbl)
                            p["ids"].append(eid)
                            p["tss"].append(ts_us)
                            p.setdefault("vals", []).append(evvals)
                            p["ng"] = True
                            survivors.append(p)
                            advanced = True
                    proceed_ok = not advanced and loops_done >= gmn_
                if not advanced and proceed_ok:
                    j = si + 1
                    while j < n_states:
                        jname, jmn, jmx, jstrict, jconsec = states[j]
                        jlbl = _lbl(j, p)
                        if jlbl is not None:
                            p.update(si=j, cnt=1, closed=False)
                            p["labels"].append(jlbl)
                            p["ids"].append(eid)
                            p["tss"].append(ts_us)
                            p.setdefault("vals", []).append(evvals)
                            p["ng"] = True
                            if (jmn == 1 and _complete_at(p, j)
                                    and not (qf and j == n_states - 1
                                             and jmx != 1)):
                                completed.append(p)
                            else:
                                survivors.append(p)
                            advanced = True
                            break
                        if jmn == 0:
                            j += 1
                            continue
                        break
            if advanced:
                continue
            # neither extended nor advanced: contiguity kill rules
            if consec and p["cnt"] < mn:
                continue  # broken repeat chain below min — dead
            if consec and qf and si == n_states - 1:
                # a strict quantified-final run broken by a row that
                # does not extend it: the longest run found IS the
                # match (ISO MATCH_RECOGNIZE greedy; Flink NFA emits
                # when the greedier branch dies)
                completed.append(p)
                continue
            if consec:
                p["closed"] = True  # min reached: freeze, may still advance
            nxt = si + 1
            if p["cnt"] >= mn and si in gend:
                # waiting at a group end: dead only if EVERY available
                # continuation (loop-back / proceed) is a strict edge
                gs_, gmn_, gmx_, _gg, gi_ = gend[si]
                loops_done = (p.get("gc") or [0] * len(groups))[gi_] + 1
                loop_viable = gmx_ is None or loops_done < gmx_
                proceed_viable = loops_done >= gmn_ and nxt < n_states
                can_wait = (loop_viable and not states[gs_][3]) or \
                    (proceed_viable and not states[nxt][3])
                if not (loop_viable or proceed_viable):
                    can_wait = False  # exhausted on both sides
                if not can_wait:
                    continue
                survivors.append(p)
                continue
            if p["cnt"] >= mn and nxt < n_states and states[nxt][3]:
                continue  # strict_in edge violated — dead
            if p["cnt"] >= mn and nxt < n_states and neg[nxt][0]:
                # negative edge guard (notNext/notFollowedBy): an
                # UN-consumed event matching the guard kills the partial
                hit = neg_arrs[nxt][ei]
                strict_neg = neg[nxt][1]
                if hit and (not strict_neg or p.get("ng", True)):
                    continue  # killed by the negative pattern
                if strict_neg:
                    p["ng"] = False  # the immediate slot has passed
            survivors.append(p)
        # emission order: oldest start first (stable by start event id)
        completed.sort(key=lambda p: (p["start"], p["sid"]))
        skip_mode, _, skip_var = skip.partition(":")
        # past_last prunes by the emitted match's LAST ROW, not by the
        # completing event: a break/expiry completion (quantified final,
        # round 11) resolves at an event AFTER the match end, and that
        # event — plus partials started after the end — must survive.
        # For cap completions the end IS the current event, reducing to
        # the old kill-everything/suppress-start behavior exactly.
        past_end: tuple[int, int] | None = None
        min_start: tuple[int, int] | None = None  # to_first/to_last prune ref
        for p in completed:
            if past_end is not None and (p["start"], p["sid"]) <= past_end:
                continue  # consumed by a past_last skip
            if min_start is not None and (p["start"], p["sid"]) < min_start:
                continue  # pruned by an earlier skip-to emission
            out.append(
                (
                    key,
                    pd.Timestamp(p["start"] * 1000),
                    pd.Timestamp(p["tss"][-1] * 1000),
                    list(p["labels"]),
                    list(p["ids"]),
                    [pd.Timestamp(t * 1000) for t in p["tss"]],
                )
            )
            if skip_mode == "past_last":
                past_end = (p["tss"][-1], p["ids"][-1])
                survivors = [
                    s for s in survivors if (s["start"], s["sid"]) > past_end
                ]
                if past_end >= (ts_us, eid):
                    suppress_start = True
            elif skip_mode == "to_next":
                survivors = [s for s in survivors if s["sid"] != p["sid"]]
            elif skip_mode in ("to_first", "to_last"):
                idxs = [i for i, l in enumerate(p["labels"]) if l == skip_var]
                if idxs:
                    i = idxs[0] if skip_mode == "to_first" else idxs[-1]
                    ref = (p["tss"][i], p["ids"][i])
                    if min_start is None or ref > min_start:
                        min_start = ref
        if min_start is not None:
            survivors = [s for s in survivors if (s["start"], s["sid"]) >= min_start]
        partials = survivors
        # NO_SKIP (and to_next) start a new partial at every match of a
        # startable state (state 0, or any state behind leading optionals)
        j0, name0 = next(
            ((j, lb) for j in start_chain for lb in [_lbl(j, None)] if lb),
            (None, None),
        )
        if not suppress_start and j0 is not None:
            mn0 = states[j0][1]
            p0 = {
                "si": j0,
                "cnt": 1,
                "closed": False,
                "labels": [name0],
                "ids": [eid],
                "tss": [ts_us],
                "vals": [evvals],
                "start": ts_us,
                "sid": eid,
            }
            if j0 == n_states - 1 and mn0 == 1 and not qf:
                out.append(
                    (
                        key,
                        pd.Timestamp(ts_us * 1000),
                        pd.Timestamp(ts_us * 1000),
                        [name0],
                        [eid],
                        [pd.Timestamp(ts_us * 1000)],
                    )
                )
            elif len(partials) < max_partials:
                partials.append(p0)
            else:
                rejected_starts += 1  # hot-key guard: pool at capacity
    if rejected_starts:
        import warnings

        warnings.warn(
            f"NFA key {key}: live-partial cap {max_partials} hit — "
            f"{rejected_starts} new partial start(s) rejected this batch "
            "(bound WITHIN tighter or raise with_max_partials)",
            RuntimeWarning,
            stacklevel=2,
        )
    if finalize and partials and qf:
        # bounded input exhausted: quantified-final runs that reached
        # their min complete (ISO MATCH_RECOGNIZE closes every match at
        # end of partition), honoring the skip strategy in leftmost
        # (start, sid) order.  Other partials stay incomplete, as ever.
        fin = sorted(
            (p for p in partials
             if p["si"] == n_states - 1 and p["cnt"] >= states[-1][1]),
            key=lambda p: (p["start"], p["sid"]),
        )
        skip_mode, _, skip_var = skip.partition(":")
        past_end: tuple[int, int] | None = None
        min_ref: tuple[int, int] | None = None
        emitted_sids: set[int] = set()
        for p in fin:
            if past_end is not None and (p["start"], p["sid"]) <= past_end:
                continue  # consumed by a past_last emission
            if min_ref is not None and (p["start"], p["sid"]) < min_ref:
                continue
            if skip_mode == "to_next" and p["sid"] in emitted_sids:
                continue
            out.append(
                (
                    key,
                    pd.Timestamp(p["start"] * 1000),
                    pd.Timestamp(p["tss"][-1] * 1000),
                    list(p["labels"]),
                    list(p["ids"]),
                    [pd.Timestamp(t * 1000) for t in p["tss"]],
                )
            )
            emitted_sids.add(p["sid"])
            if skip_mode == "past_last":
                past_end = (p["tss"][-1], p["ids"][-1])
            elif skip_mode in ("to_first", "to_last"):
                idxs = [i for i, l in enumerate(p["labels"]) if l == skip_var]
                if idxs:
                    i = idxs[0] if skip_mode == "to_first" else idxs[-1]
                    ref = (p["tss"][i], p["ids"][i])
                    if min_ref is None or ref > min_ref:
                        min_ref = ref
        fin_ids = {id(p) for p in fin}
        partials = [p for p in partials if id(p) not in fin_ids]
    return out, partials


def _target_prio(chain: list[int], greedy_flags: list[bool]) -> list[int]:
    """Regex preference order over an optional-skippable state chain:
    depth-first through the left-to-right take/skip decisions — a
    greedy state's TAKE outranks every alternative reached by skipping
    it; a reluctant state's TAKE ranks below them."""
    if not chain:
        return []
    j, rest = chain[0], chain[1:]
    alts = _target_prio(rest, greedy_flags)
    return [j] + alts if greedy_flags[j] else alts + [j]


def _fold_events_bt(
    key: int, events: pd.DataFrame, partials: list[dict], spec: dict,
    finalize: bool = False,
) -> tuple[list[tuple], list[dict]]:
    """Branching (backtracking) fold — Flink nfa/NFA.java parity.

    Differences from the deterministic fold:
    - An event viable for several transitions (extend the current
      quantified state / enter any optional-skippable later state)
      FORKS the partial; each branch carries a decision string
      ``deck`` (0 = greediest choice at that fork, lexicographic
      order = greedy preference — Flink's dewey-number version order).
    - A branch reaching the final state buffers as a pending match
      (``done``) instead of emitting: it emits only once NO live
      sibling of the same match start has a strictly smaller deck —
      so the emitted match per start is the regex-greedy one, exactly
      one match per start (SQL MATCH_RECOGNIZE contract).  Siblings
      die at emission.
    - ``past_last`` prunes by the emitted match's last row
      (start-row > last-row survives), which on the per-event path is
      the same everything-dies rule as the deterministic fold.
    - ``finalize=True`` (bounded input exhausted): live branches can
      never complete, so pending matches resolve unconditionally.

    With mutually-exclusive conditions no fork can occur, every group
    has one branch with an empty deck, and the flow reduces to the
    deterministic fold's (regression-tested equivalence).
    """
    states = spec["states"]
    horizon = spec["horizon_us"]
    skip = spec["skip"]
    max_partials = spec.get("max_partials") or 100_000
    max_branches = spec.get("max_branches") or 64
    py_conds = spec.get("py_conds") or [None] * len(states)
    value_cols = spec.get("value_cols") or []
    greedy_flags = spec.get("greedy") or [True] * len(states)
    groups = spec.get("groups") or []
    gend = {g[1]: (g[0], g[2], g[3], g[4], gi)
            for gi, g in enumerate(groups)}
    n_states = len(states)
    out: list[tuple] = []
    live = [p for p in partials if not p.get("done")]
    pend = [p for p in partials if p.get("done")]
    n_events = len(events)

    def _plain(v):
        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        if hasattr(v, "item"):
            return v.item()
        return str(v)

    def _emit(p: dict) -> None:
        out.append(
            (
                key,
                pd.Timestamp(p["start"] * 1000),
                pd.Timestamp(p["tss"][-1] * 1000),
                list(p["labels"]),
                list(p["ids"]),
                [pd.Timestamp(t * 1000) for t in p["tss"]],
            )
        )

    def _resolve(survivors: list[dict], at_event: bool,
                 ts_us: int | None) -> tuple[list[dict], bool]:
        """Emit every pending match whose greedier siblings are all
        dead (all of them, when finalizing).  Returns (survivors,
        suppress_start_at_this_event).

        Under ORDER-SENSITIVE skip modes (past_last, to_first/to_last
        — where an emission prunes other groups by row position), a
        later-start pending match must never emit past an earlier
        group that is still unresolved: either pending-blocked by a
        live greedier sibling, or live with no completion yet.  SQL
        MATCH_RECOGNIZE scans leftmost-first, so the earlier group —
        if it ever completes — owns the rows and its skip decides the
        later group's fate, not the reverse.  Such groups (and every
        group after them) stay pending until the blocker resolves or
        dies; ``finalize`` drains the queue to a fixpoint."""
        nonlocal pend
        if not pend:
            return survivors, False
        skip_mode, _, skip_var = skip.partition(":")
        order_sensitive = skip_mode in ("past_last", "to_first", "to_last")
        live_min: dict[tuple, list] = {}
        if at_event:
            for s in survivors:
                g = (s["start"], s["sid"])
                d = s.get("deck", [])
                if g not in live_min or d < live_min[g]:
                    live_min[g] = d
        groups: dict[tuple, list[dict]] = {}
        for c in pend:
            groups.setdefault((c["start"], c["sid"]), []).append(c)
        # earliest live group with no pending candidate: leftmost order
        # is undecidable past it under an order-sensitive skip
        first_live_only: tuple | None = None
        if order_sensitive:
            for lg in live_min:
                if lg not in groups and (
                        first_live_only is None or lg < first_live_only):
                    first_live_only = lg
        new_pend: list[dict] = []
        resume_row: tuple[int, int] | None = None  # past_last last-row
        min_start: tuple[int, int] | None = None   # to_first/to_last ref
        suppress = False
        deferred = False  # an earlier group was left unresolved
        for g in sorted(groups):
            cands = sorted(groups[g], key=lambda c: c.get("deck", []))
            best = cands[0]
            if resume_row is not None:
                if g <= resume_row:
                    continue  # consumed by the past_last match
                new_pend.extend(groups[g])
                continue  # starts after the resume row: left pending
            if min_start is not None and g < min_start:
                continue  # pruned by a skip-to emission
            if order_sensitive and (
                    deferred
                    or (first_live_only is not None and first_live_only < g)):
                new_pend.extend(groups[g])  # blocked behind an earlier
                deferred = True             # unresolved group
                continue
            lm = live_min.get(g)
            if lm is not None and lm < best.get("deck", []):
                new_pend.extend(groups[g])  # a greedier branch is live
                deferred = True
                continue
            _emit(best)  # siblings of g die (one match per start)
            if skip_mode == "past_last":
                resume_row = (best["tss"][-1], best["ids"][-1])
                survivors = [
                    s for s in survivors
                    if (s["start"], s["sid"]) > resume_row
                ]
                new_pend = [
                    c for c in new_pend
                    if (c["start"], c["sid"]) > resume_row
                ]
                if at_event and ts_us is not None \
                        and best["tss"][-1] == ts_us:
                    suppress = True
            elif skip_mode == "to_next":
                survivors = [s for s in survivors if s["sid"] != best["sid"]]
            elif skip_mode in ("to_first", "to_last"):
                idxs = [i for i, l in enumerate(best["labels"])
                        if l == skip_var]
                if idxs:
                    i = idxs[0] if skip_mode == "to_first" else idxs[-1]
                    ref = (best["tss"][i], best["ids"][i])
                    if min_start is None or ref > min_start:
                        min_start = ref
            survivors = [
                s for s in survivors if (s["start"], s["sid"]) != g
            ]
        if min_start is not None:
            survivors = [
                s for s in survivors if (s["start"], s["sid"]) >= min_start
            ]
            new_pend = [
                c for c in new_pend if (c["start"], c["sid"]) >= min_start
            ]
        pend = new_pend
        return survivors, suppress

    # startable states: state 0 plus states behind leading optionals
    start_chain = [0]
    while start_chain[-1] < n_states - 1 \
            and states[start_chain[-1]][1] == 0:
        start_chain.append(start_chain[-1] + 1)

    if n_events:
        ts_arr = (
            events["ts"].astype("datetime64[ns]").astype("int64") // 1000
        ).tolist()
        eid_arr = events["event_id"].astype("int64").tolist()
        flag_arrs = [
            events[f"f{i}"].astype(bool).tolist() for i in range(n_states)
        ]
        val_arrs = {c: events[f"v_{c}"].tolist() for c in value_cols}
        neg = spec.get("neg") or [(False, False)] * n_states
        neg_arrs = {
            i: events[f"g{i}"].astype(bool).tolist()
            for i in range(n_states) if neg[i][0]
        }
        alts = spec.get("alts") or [[] for _ in range(n_states)]
        alt_codes = spec.get("alt_py_conds") or [[] for _ in range(n_states)]
        alt_arrs = {
            i: [events[f"f{i}x{k}"].astype(bool).tolist()
                for k in range(len(alts[i]))]
            for i in range(n_states) if alts[i]
        }
        until = spec.get("until") or [False] * n_states
        until_arrs = {
            i: events[f"u{i}"].astype(bool).tolist()
            for i in range(n_states) if until[i]
        }
        any_in = spec.get("any_in") or [False] * n_states
        comb = spec.get("comb") or [False] * n_states
        emit_all = bool(spec.get("emit_all"))

        for ei in range(n_events):
            ts_us = ts_arr[ei]
            eid = eid_arr[ei]
            flags = [fa[ei] for fa in flag_arrs]
            evvals = {c: _plain(val_arrs[c][ei]) for c in value_cols}

            def _lbls(j: int, p: dict | None) -> list[str]:
                """Matching labels for state j in regex ``|`` priority
                order (primary variable first, then alternatives) —
                each is a separate fork choice."""
                out_l: list[str] = []
                if flags[j]:
                    code = py_conds[j]
                    if code is None or _py_cond_ok(
                            code, p, evvals, states[j][0]):
                        out_l.append(states[j][0])
                for k, nm in enumerate(alts[j]):
                    if alt_arrs[j][k][ei]:
                        code = alt_codes[j][k]
                        if code is None or _py_cond_ok(code, p, evvals, nm):
                            out_l.append(nm)
                return out_l

            def _startable(j: int) -> bool:
                return flags[j] or any(a[ei] for a in alt_arrs.get(j, ()))

            if not live and not pend \
                    and not any(_startable(j) for j in start_chain):
                continue
            expired = {
                (p["start"], p["sid"])
                for p in live if ts_us > p["start"] + horizon
            }
            live = [p for p in live if (p["start"], p["sid"]) not in expired]
            survivors: list[dict] = []
            for p in live:
                si = p["si"]
                name, mn, mx, strict_in, consec = states[si]
                # until() stop condition: freeze the loop before the
                # extend choice is even considered; frozen below min
                # can never complete
                if until[si] and until_arrs[si][ei] and not p["closed"]:
                    p["closed"] = True
                    if p["cnt"] < mn:
                        continue
                ext_lbls = (
                    _lbls(si, p)
                    if not p["closed"] and (mx is None or p["cnt"] < mx)
                    else []
                )
                chain: list[int] = []
                loop = []
                ggreedy = True
                if p["cnt"] >= mn:
                    proceed_ok = True
                    if si in gend:
                        gs_, gmn_, gmx_, ggreedy, gi_ = gend[si]
                        gc0 = p.get("gc") or [0] * len(groups)
                        loops_done = gc0[gi_] + 1
                        if gmx_ is None or loops_done < gmx_:
                            loop = [("g", gs_, lb) for lb in _lbls(gs_, p)]
                        proceed_ok = loops_done >= gmn_
                    if proceed_ok:
                        j = si + 1
                        while j < n_states:
                            chain.append(j)
                            if states[j][1] == 0:
                                j += 1
                                continue
                            break
                # advance-target priority is the regex nested-decision
                # order: a GREEDY optional prefers being entered over
                # skipped; a RELUCTANT one prefers being skipped —
                # evaluated left-to-right through the skippable chain;
                # within one target, alternatives fork in ``|`` order.
                # Group loop-vs-exit nests OUTSIDE the state decision:
                # a greedy group prefers another repetition over
                # proceeding; a reluctant one the reverse.
                ext = [("x", si, lb) for lb in ext_lbls]
                advs = [("a", j, lb)
                        for j in _target_prio(chain, greedy_flags)
                        for lb in _lbls(j, p)]
                rest = loop + advs if ggreedy else advs + loop
                choices = ext + rest if greedy_flags[si] else rest + ext
                # non-deterministic edges (followedByAny / combinations,
                # Flink SKIP_TILL_ANY): the event may also be IGNORED —
                # allowed only when every viable take-edge is an
                # ignorable kind (a combinations loop / an any-entry)
                if emit_all and choices and all(
                        (k == "x" and comb[j]) or (k == "a" and any_in[j])
                        for k, j, _ in choices):
                    choices = choices + [("i", si, None)]
                if not choices:
                    if consec and p["cnt"] < mn:
                        continue
                    if (consec and si == n_states - 1
                            and (n_states - 1 not in gend)
                            and (mx is None or mx != mn)):
                        # broken strict quantified-final run: this
                        # extending branch dies and its buffered
                        # pending completion resolves (round 11)
                        continue
                    if consec:
                        p["closed"] = True
                    nxt = si + 1
                    if p["cnt"] >= mn and si in gend:
                        # waiting at a group end: dead only if every
                        # available continuation is a strict edge
                        gs_, gmn_, gmx_, _gg, gi_ = gend[si]
                        loops_done = (p.get("gc")
                                      or [0] * len(groups))[gi_] + 1
                        loop_viable = gmx_ is None or loops_done < gmx_
                        proceed_viable = loops_done >= gmn_ \
                            and nxt < n_states
                        can_wait = (
                            (loop_viable and not states[gs_][3])
                            or (proceed_viable and not states[nxt][3])
                        )
                        if not can_wait:
                            continue
                        survivors.append(p)
                        continue
                    if p["cnt"] >= mn and nxt < n_states and states[nxt][3]:
                        continue
                    if p["cnt"] >= mn and nxt < n_states and neg[nxt][0]:
                        hit = neg_arrs[nxt][ei]
                        strict_neg = neg[nxt][1]
                        if hit and (not strict_neg or p.get("ng", True)):
                            continue  # killed by the negative pattern
                        if strict_neg:
                            p["ng"] = False
                    survivors.append(p)
                    continue
                fork = len(choices) > 1
                gid = (p["start"], p["sid"])
                n_in_group = sum(
                    1 for s in survivors
                    if (s["start"], s["sid"]) == gid
                )
                created = 0
                for ci, (kind, j, lbl) in enumerate(choices):
                    if fork and ci > 0 \
                            and n_in_group + created >= max_branches:
                        break  # cap: greediest branches kept
                    if fork:
                        q = {
                            "si": p["si"], "cnt": p["cnt"],
                            "closed": p["closed"],
                            "labels": list(p["labels"]),
                            "ids": list(p["ids"]),
                            "tss": list(p["tss"]),
                            "vals": list(p.get("vals", [])),
                            "start": p["start"], "sid": p["sid"],
                            "deck": list(p.get("deck", [])) + [ci],
                        }
                        if p.get("gc"):
                            q["gc"] = list(p["gc"])
                    else:
                        q = p
                    if kind == "i":  # ignore the event entirely: the
                        # waiting branch lives on for later occurrences
                        survivors.append(q)
                        created += 1
                        continue
                    if kind == "x":
                        q["cnt"] += 1
                    elif kind == "g":  # group loop-back: one more rep
                        gc_ = q.get("gc") or [0] * len(groups)
                        gc_[gend[q["si"]][4]] += 1
                        q["gc"] = gc_
                        q.update(si=j, cnt=1, closed=False)
                    else:
                        q.update(si=j, cnt=1, closed=False)
                    q["ng"] = True  # consume re-arms the notNext slot
                    q["labels"].append(lbl)
                    q["ids"].append(eid)
                    q["tss"].append(ts_us)
                    q.setdefault("vals", []).append(evvals)
                    created += 1
                    lmn, lmx = states[-1][1], states[-1][2]
                    qf = (n_states - 1 not in gend) and (
                        lmx is None or lmx != lmn)
                    if (qf and q["si"] == n_states - 1 and q["cnt"] >= lmn
                            and (lmx is None or q["cnt"] < lmx)):
                        # greedy quantified final: buffer THIS length as
                        # a pending match (stop = less-greedy digit 1)
                        # and keep the extending branch live (digit 0);
                        # _resolve emits the pending only once every
                        # greedier sibling is dead — round 11.  A new
                        # pend dominates the same lineage's older one
                        # (only the min-deck pend of a group can ever
                        # emit), so dominated pends are dropped to keep
                        # B+ runs O(1) in state.
                        c = {
                            "si": q["si"], "cnt": q["cnt"], "closed": True,
                            "labels": list(q["labels"]),
                            "ids": list(q["ids"]), "tss": list(q["tss"]),
                            "vals": list(q.get("vals", [])),
                            "start": q["start"], "sid": q["sid"],
                            "deck": list(q.get("deck", [])) + [1],
                            "done": True,
                        }
                        gid_q = (c["start"], c["sid"])
                        pend = [
                            x for x in pend
                            if (x["start"], x["sid"]) != gid_q
                            or x.get("deck", []) <= c["deck"]
                        ]
                        pend.append(c)
                        q["deck"] = list(q.get("deck", [])) + [0]
                        survivors.append(q)
                        continue
                    done_here = (
                        q["si"] == n_states - 1
                        and q["cnt"] == (lmx if (
                            qf and q["si"] == n_states - 1
                            and lmx is not None) else states[-1][1])
                        and (n_states - 1 not in gend
                             or (q.get("gc") or [0] * len(groups))[
                                 gend[n_states - 1][4]] + 1
                             >= gend[n_states - 1][1])
                    )
                    if done_here:
                        if emit_all:
                            _emit(q)  # Flink CEP: every found match
                        else:
                            q["done"] = True
                            pend.append(q)
                    else:
                        survivors.append(q)
            # expired groups may unblock pending siblings; completions
            # this event resolve in the same pass
            survivors, suppress_start = _resolve(survivors, True, ts_us)
            live = survivors
            # Start-fork priority follows the same regex nested
            # take/skip decision order as advances: entering state j
            # means skipping every optional before it, so a RELUCTANT
            # leading optional is preferentially skipped (its own take
            # ranks below the states behind it) — raw chain order would
            # hand it the greedier deck.
            startable = [] if suppress_start else \
                [(j, lb) for j in _target_prio(start_chain, greedy_flags)
                 for lb in _lbls(j, None)]
            fork0 = len(startable) > 1
            for ci, (j0, lbl0) in enumerate(startable):
                mn0 = states[j0][1]
                p0 = {
                    "si": j0, "cnt": 1, "closed": False,
                    "labels": [lbl0], "ids": [eid], "tss": [ts_us],
                    "vals": [evvals], "start": ts_us, "sid": eid,
                    "deck": [ci] if fork0 else [],
                }
                qf0 = (n_states - 1 not in gend) and (
                    states[-1][2] is None or states[-1][2] != states[-1][1])
                if j0 == n_states - 1 and mn0 == 1 and qf0:
                    # greedy quantified final starting here: pend the
                    # length-1 completion (stop digit) and keep the
                    # extending start live (greedier digit)
                    pend.append({
                        **p0, "closed": True, "done": True,
                        "labels": list(p0["labels"]),
                        "ids": list(p0["ids"]), "tss": list(p0["tss"]),
                        "vals": list(p0["vals"]),
                        "deck": list(p0["deck"]) + [1],
                    })
                    if len(live) < max_partials:
                        live.append({**p0, "deck": list(p0["deck"]) + [0]})
                elif j0 == n_states - 1 and mn0 == 1:
                    if n_states == 1:
                        if ci == 0:  # leftmost alternative only: a
                            # single-state match is decided at this
                            # event; later alternatives are the same
                            # match with a lower-priority labeling
                            _emit({**p0, "done": True})
                    elif emit_all:
                        _emit({**p0, "done": True})
                    else:  # instant complete behind leading optionals:
                        p0["done"] = True  # resolve vs greedier starts
                        pend.append(p0)
                elif len(live) < max_partials:
                    live.append(p0)
    if finalize:
        # One _resolve pass emits at most one past_last match and
        # defers every group behind its resume row; iterate to a
        # fixpoint (resume_row resets per pass) so matches starting
        # after an emitted match's last row still resolve.
        while pend:
            before = len(pend)
            _resolve([], False, None)
            if len(pend) == before:
                break  # no progress — nothing left resolvable
        live = []
    return out, live + pend


def _out_frame(out: list[tuple], key: str = "user_id") -> pd.DataFrame:
    return pd.DataFrame(
        out, columns=[key, "start_ts", "end_ts", "labels", "ids", "tss"]
    )


# ------------------------------------------------- measure helpers


def first_id(label: str):
    """Event id of the FIRST event matched by ``label`` (null if none)."""
    return F.expr(f"get(ids, array_position(labels, '{label}') - 1)")


def last_id(label: str):
    """Event id of the LAST event matched by ``label`` (null if none).

    ``try_element_at`` (not ``element_at``): under ANSI mode the latter
    raises on the empty filter result an ``optional()`` state produces.
    """
    return F.expr(
        "try_element_at(filter(arrays_zip(labels, ids), x -> x.labels = "
        f"'{label}'), -1).ids"
    )


def label_count(label: str):
    return F.expr(f"size(filter(labels, x -> x = '{label}'))")


def nav(label: str, field: str, first: bool, off: int = 0):
    """Logical-offset navigation (Flink FIRST/LAST(V.col, n)): the
    (n+1)-th row mapped to ``label`` from the start (FIRST) or end
    (LAST); NULL when out of range.  ``field`` is ids or tss."""
    pos = 1 + off if first else -(1 + off)
    return F.expr(
        f"try_element_at(filter(arrays_zip(labels, {field}), "
        f"x -> x.labels = '{label}'), {pos}).{field}"
    )


def _member_pred(members) -> str:
    """Lambda predicate body matching any of a SUBSET's member labels."""
    inlist = ", ".join(f"'{m}'" for m in members)
    return f"x.labels IN ({inlist})"


def nav_of(members, field: str, first: bool, off: int = 0):
    """SUBSET twin of :func:`nav`: the (n+1)-th row labeled with ANY
    member of a SQL:2016 union variable (``SUBSET U = (A, B)``)."""
    pos = 1 + off if first else -(1 + off)
    return F.expr(
        f"try_element_at(filter(arrays_zip(labels, {field}), "
        f"x -> {_member_pred(members)}), {pos}).{field}"
    )


def count_of(members):
    """COUNT(U.*) for a SUBSET union variable: rows labeled with any
    member."""
    inlist = ", ".join(f"'{m}'" for m in members)
    return F.expr(f"size(filter(labels, x -> x IN ({inlist})))")
