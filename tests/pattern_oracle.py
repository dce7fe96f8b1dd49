"""DuckDB oracle for the two-state pattern ``A followedBy/next B within
t`` per ``user_id`` — the relational reference the CEP tests hold
``nfa.PatternSeq`` to.

- relaxed (``followed_by``): each A pairs with its FIRST B in
  ``(ts, event_id)`` order with ``a.ts <= b.ts <= a.ts + t``;
  overlapping A's may share one B.
- strict (``next_``): B must be the event immediately after A in its
  key's ``(ts, event_id)`` order, within ``t``.

Conditions are SQL boolean expressions over the events columns; a
NULL condition does not match.
"""

from __future__ import annotations

_E = (
    "SELECT event_id, cast(date_trunc('milliseconds', ts) as timestamp) AS ts, "
    "user_id, event_type, value FROM events"
)


def pattern_pairs(
    duck, a_cond: str, b_cond: str, horizon_s: int, strict: bool = False
) -> set[tuple[int, int, int]]:
    """``{(user_id, a_id, b_id)}`` of every match on the ``events`` view."""
    if strict:
        sql = f"""
        WITH e AS (
          SELECT user_id, event_id, ts,
                 coalesce({a_cond}, false) AS is_a,
                 coalesce({b_cond}, false) AS is_b
          FROM ({_E})),
        s AS (
          SELECT user_id, event_id, ts, is_b,
                 lag(is_a) OVER w AS prev_a,
                 lag(event_id) OVER w AS prev_id,
                 lag(ts) OVER w AS prev_ts
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, prev_id, event_id FROM s
        WHERE is_b AND prev_a AND ts <= prev_ts + INTERVAL {horizon_s} SECOND
        """
    else:
        sql = f"""
        WITH e AS ({_E}),
        a AS (SELECT user_id, event_id AS a_id, ts AS a_ts FROM e
              WHERE {a_cond}),
        b AS (SELECT user_id, event_id AS b_id, ts AS b_ts FROM e
              WHERE {b_cond}),
        p AS (
          SELECT a.user_id, a_id, b_id,
                 row_number() OVER (
                   PARTITION BY a.user_id, a_id ORDER BY b_ts, b_id) AS rn
          FROM a JOIN b ON a.user_id = b.user_id
           AND b_ts BETWEEN a_ts AND a_ts + INTERVAL {horizon_s} SECOND
           AND (b_ts > a_ts OR b_id > a_id))
        SELECT user_id, a_id, b_id FROM p WHERE rn = 1
        """
    return set(duck.execute(sql).fetchall())
