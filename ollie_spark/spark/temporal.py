"""Temporal / event-stream operators over the events table:
gap-based sessionization and as-of (most-recent-prior) attachment.

Both are per-user partitioned windows — the scalable spelling of
operator classes a naive implementation gets wrong at 100 TB: a
global ORDER BY ts is a SinglePartition window, and an as-of spelled
as a range self-join explodes O(events x events-per-user).  Here the
only shuffle is hashpartitioning(user_id); per-partition state is
bounded by one user's events.

Timestamps compare in integer MICROSECONDS (DuckDB `epoch_us`) so the
gap rule is bit-exact across engines — fractional-second doubles would
make boundary events engine-dependent.  Parquet timestamps arrive as
TIMESTAMP_NTZ, where `unix_micros` is a type error and a cast to LTZ
would silently inject the session timezone; `timestampdiff` against an
NTZ epoch literal is the timezone-independent micros spelling (equal
to DuckDB's epoch_us, which also treats the value as wall-clock).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30  # the classic web-analytics session gap
TUMBLING_WINDOW_MINUTES = 60   # q41 default; oracles derive from these
HOPPING_SLIDE_MINUTES = 30     # q42 slide (window = 2 * slide)

def epoch_us(col: str | Column) -> Column:
    """Wall-clock epoch microseconds of a TIMESTAMP_NTZ column —
    session-timezone-independent, bit-equal to DuckDB ``epoch_us``.
    (LTZ inputs are first cast to NTZ, i.e. read as wall-clock.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"))


def sessionize(events: DataFrame) -> DataFrame:
    """Per-user session ids: a new session starts at a user's first
    event and whenever the gap from their previous event exceeds
    ``SESSION_GAP_MINUTES``; ``session_id`` is the 1-based running
    count of session starts in (ts, event_id) order.

    Two stacked windows share one partitioning+ordering (the lag flag,
    then its running sum), so Catalyst plans ONE exchange + one sort
    with two Window operators — no second shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    prev = F.lag(us).over(w)
    flagged = events.select(
        "event_id", "user_id", "ts",
        (prev.isNull()
         | ((us - prev) > SESSION_GAP_MINUTES * 60_000_000))
        .cast("long").alias("_new_session"))
    return flagged.select(
        "event_id", "user_id", "ts",
        F.sum("_new_session").over(w).cast("bigint")
        .alias("session_id"))


def asof_attach(events: DataFrame) -> DataFrame:
    """As-of join expressed as a partitioned window: attach to every
    event the ``value`` of the user's most recent STRICTLY PRIOR
    ``purchase`` event (NULL when none).  ``last(..., ignorenulls)``
    over ROWS UNBOUNDED PRECEDING..1 PRECEDING is the shuffle-minimal
    spelling of the as-of semantics — a range self-join would be
    O(events x per-user-events) and a global sort a SinglePartition;
    this is one hashpartitioning(user) exchange."""
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prior = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")),
        ignorenulls=True).over(w)
    return events.select(
        "event_id", "user_id", "event_type",
        prior.alias("last_purchase_value"))


def _dec_sum() -> Column:
    """Exact-decimal sum of ``value`` cast back to double — the repo's
    bit-parity convention for double sums compared against DuckDB."""
    return (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            .alias("total_value"))


def session_stats(events: DataFrame) -> DataFrame:
    """Per-user session aggregates via Spark's NATIVE
    ``session_window`` (the streaming-capable gap-merge operator, also
    the batch spelling here).  The engine's merge is end-INCLUSIVE: an
    event at exactly ``last_event + gap`` (the window end) still
    EXTENDS the session, so a new session starts only when the gap is
    strictly ``> gap`` — the same boundary rule as :func:`sessionize`
    (measured and pinned by
    tests/test_temporal.py::test_session_stats_boundary; the window
    struct's end itself remains ``last_event + gap``).

    One hashpartitioning(user, session_window) exchange after a
    map-side partial merge — no per-user global sort."""
    sw = F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes")
    return (events.groupBy("user_id", sw.alias("w"))
            .agg(F.count("*").alias("n_events"), _dec_sum())
            .select("user_id",
                    epoch_us(F.col("w.start")).alias("session_start_us"),
                    epoch_us(F.col("w.end")).alias("session_end_us"),
                    "n_events", "total_value"))


def _window_rollup(events: DataFrame, w: Column) -> DataFrame:
    """Per-(event-time window, event type) count and value sum."""
    return (events.groupBy(w.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), _dec_sum())
            .select(epoch_us(F.col("w.start")).alias("window_start_us"),
                    "event_type", "n_events", "total_value"))


def tumbling_rollup(events: DataFrame) -> DataFrame:
    """Fixed (tumbling) event-time windows per event type: Spark's
    native ``window()`` — epoch-aligned on the NTZ wall clock, so the
    bucket start is exactly ``floor(epoch_us / width) * width``; pure
    partial+final hash aggregation, one exchange."""
    return _window_rollup(
        events, F.window("ts", f"{TUMBLING_WINDOW_MINUTES} minutes"))


def hopping_rollup(events: DataFrame) -> DataFrame:
    """Hopping (sliding) event-time windows of ``2 *
    HOPPING_SLIDE_MINUTES``: each event lands in two overlapping
    buckets — Spark expands them with an internal explode BEFORE the
    aggregation, so the shuffle carries the already-combined partials,
    not two copies of the raw events."""
    return _window_rollup(
        events, F.window("ts", f"{2 * HOPPING_SLIDE_MINUTES} minutes",
                         f"{HOPPING_SLIDE_MINUTES} minutes"))
