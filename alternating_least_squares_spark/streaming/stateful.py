"""Custom stateful streaming operator via ``applyInPandasWithState``.

``F.window``/``F.session_window`` cover time-bucketed state natively
(see :mod:`.events`); this module is the escape hatch the brief names
for semantics Spark has no built-in for. The example operator keeps a
**running per-user profile** (event count, value sum, max single
value, last event time) and emits the updated profile every
micro-batch — the shape of a feature-store update stream.

Execution model notes (the part worth locking down in tests):

* state is keyed by the groupBy key and lives in the executor state
  store; each micro-batch hands the operator (key, new rows, prior
  state) — Arrow-batched both ways;
* the operator must tolerate MULTIPLE pandas chunks per key per batch
  (Spark splits large groups);
* output rows append to the sink in ``update`` semantics: one row per
  key per batch it appeared in; the LAST row per key is the final
  profile (dedupe downstream by (user, batch ordinal) or just take
  the max-count row).

At scale this shuffles once per batch on the key and holds
O(distinct keys) state — the watermark/timeout knobs (here:
``NoTimeout`` since profiles are permanent) bound it for expiring
semantics.

Checkpoint compatibility: ``STATE_SCHEMA`` gained the ``comp``
(Neumaier compensation) field after the first release, so a stream
restarted from a checkpoint written BEFORE that change fails Spark's
state-schema compatibility check at startup. Fine for the ephemeral
bench/test checkpoints used here; a persistent deployment must either
drop the old checkpoint or run a state migration before upgrading.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROFILE_SCHEMA = (
    "user_id long, n_events long, total_value double, max_value double, "
    "last_ts_us long"
)
STATE_SCHEMA = "n long, total double, comp double, mx double, last_us long"


def _add_chunk_sum(total: float, comp: float, chunk) -> tuple[float, float]:
    """Fold one pandas chunk into the (total, compensation) pair.

    The chunk itself is summed with ``math.fsum`` (exactly rounded)
    and folded in with Neumaier compensation, so the running double
    total stays within ~1 ulp of the true sum REGARDLESS of chunk and
    batch boundaries. The DuckDB oracle computes the exact decimal sum
    cast to double — the correctly-rounded true value — so plain
    float accumulation (error growing with chunk count and dependent
    on arrival order) would flap round(·, 6) at boundaries."""
    import math

    x = math.fsum(chunk)
    t = total + x
    if abs(total) >= abs(x):
        comp += (total - t) + x
    else:
        comp += (x - t) + total
    return t, comp


def _update_profile(
    key: tuple[Any, ...], pdfs: Iterator, state: GroupState
) -> Iterator:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        n, total, comp, mx, last_us = state.get
    else:
        n, total, comp, mx, last_us = 0, 0.0, 0.0, float("-inf"), 0

    for pdf in pdfs:  # may arrive as several chunks per batch
        if len(pdf) == 0:
            continue
        n += int(len(pdf))
        total, comp = _add_chunk_sum(total, comp, pdf["value"])
        mx = max(mx, float(pdf["value"].max()))
        last_us = max(last_us, int(pdf["ts_us"].max()))

    state.update((n, total, comp, mx, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total + comp],
            "max_value": [mx],
            "last_ts_us": [last_us],
        }
    )


def user_profile_stream(events: DataFrame) -> DataFrame:
    """Running per-user profiles over a streaming events frame.

    Input needs (user_id, value, ts_us); use ``read_events_stream``
    then ``F.expr("ts_ns DIV 1000")`` for ``ts_us``."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming EWMA twin of the batch w08 window op -----------------

EWMA_OUT_SCHEMA = (
    "event_id long, user_id long, n_hist long, ewma_raw double"
)
# the last-7 observation deque, newest LAST; parallel arrays because
# the state row is one Arrow struct (no nested struct-array state)
EWMA_STATE_SCHEMA = (
    "ts array<long>, eid array<long>, val array<double>"
)
_EWMA_COEFS = [0.5 ** (k + 1) for k in range(8)]  # powers of two


def _ewma_over(history: list[float | None]) -> tuple[int, float | None]:
    """w08's fixed scalar expression, replicated OPERATION FOR
    OPERATION in C doubles: ``history`` is [current, prev1, ..] (≤8,
    None where the batch lag is NULL); num/den accumulate left-to-
    right exactly like the Column chain in registry.q_w08_ewma, and
    the α(1−α)^k coefficients are powers of two (multiplying only
    shifts the exponent), so the unrounded double is bit-identical to
    the JVM's and the final Spark-side round(·, 6) cannot flap."""
    num = 0.0
    den = 0.0
    n_hist = 0
    for k, v in enumerate(history[:8]):
        if v is not None and v == v:  # NaN-as-null, like F.coalesce
            num = num + v * _EWMA_COEFS[k]
            den = den + _EWMA_COEFS[k]
            n_hist += 1
        else:
            num = num + 0.0
    return n_hist, (num / den if den > 0 else None)


def _update_ewma(
    key: tuple[Any, ...], pdfs: Iterator, state: GroupState
) -> Iterator:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        ts_hist, eid_hist, val_hist = (list(c) for c in state.get)
    else:
        ts_hist, eid_hist, val_hist = [], [], []

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        state.update((ts_hist, eid_hist, val_hist))
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts_ns", "event_id"], kind="mergesort"
    )
    # Intra-batch replay seam (ADVICE r11): an at-least-once source
    # can redeliver a row twice INSIDE one micro-batch, where the
    # cross-batch deque check below never sees the first copy
    # (state is read once at batch entry). event_id is unique per
    # event, so an exact (ts_ns, event_id) twin within the batch is
    # the same verifiable redelivery — score it once. VERIFIABLE
    # means the payloads match: twins carrying different values are
    # corruption or a non-exact redelivery, and keeping an arbitrary
    # copy would make the survivor depend on Arrow chunk arrival
    # order (replay-nondeterministic) — fail loudly instead, the
    # same discipline as the out-of-order guard below.
    dup_mask = rows.duplicated(subset=["ts_ns", "event_id"], keep=False)
    if dup_mask.any():
        payload_variants = rows.loc[dup_mask].groupby(
            ["ts_ns", "event_id"]
        )["value"].nunique(dropna=False)
        if (payload_variants > 1).any():
            bad = payload_variants[payload_variants > 1].index[0]
            raise ValueError(
                f"conflicting duplicate for user_id={user_id}: "
                f"(ts_ns, event_id)={tuple(bad)} appears in one "
                "micro-batch with differing values; an exact "
                "redelivery must carry an identical payload"
            )
        rows = rows.drop_duplicates(
            subset=["ts_ns", "event_id"], keep="first"
        )
    # event_id-uniqueness enforcement (ADVICE r12): the twin dedup
    # above keys on exact (ts_ns, event_id), so two rows sharing an
    # event_id but differing in ts_ns would slip through and be
    # scored as two distinct events — silently violating the stated
    # 'event_id is unique per event' premise the replay logic rests
    # on. Fail as loudly as the value-conflict case. Fast path (r18):
    # a batch with all-unique event_ids cannot violate the premise —
    # ``is_unique`` is one O(n) hash pass vs the groupby's
    # sort+nunique, and it is the overwhelmingly common case, paid
    # once per (key, micro-batch) group (guide §4.2: per-group pandas
    # overhead dominates this operator at 1.5k groups/batch).
    if not rows["event_id"].is_unique:
        eid_ts_variants = rows.groupby("event_id")["ts_ns"].nunique()
        if (eid_ts_variants > 1).any():
            bad_eid = eid_ts_variants[eid_ts_variants > 1].index[0]
            raise ValueError(
                f"conflicting duplicate for user_id={user_id}: "
                f"event_id={bad_eid} appears in one micro-batch with "
                "differing ts_ns values; event_id must be unique per "
                "event"
            )
    # Cross-micro-batch order CONTRACT enforcement (ADVICE r8): a
    # late event scored against the post-newer-events deque would
    # produce a plausible-but-wrong EWMA with no signal. Fail fast
    # instead: the oldest incoming (ts_ns, event_id) must not precede
    # the newest already-consumed one for this key.
    #
    # Replay seam (ADVICE r9 / VERDICT r10 "weak" item): at-least-once
    # sources redeliver already-consumed rows — commonly a whole file
    # suffix, so ANY (ts_ns, event_id) pair still held in the 7-deep
    # deque is a verifiable exact redelivery (event_id is unique per
    # event; its value was already scored and retained) and is
    # DROPPED, making a replay of up to the last 7 events per key
    # idempotent: the output matches an exactly-once delivery. A row
    # strictly older than the newest consumed that is NOT in the
    # retained history still raises — either a true order violation
    # or a replay deeper than the deque can verify, and in both cases
    # rescoring it correctly is impossible.
    if ts_hist:
        newest = (ts_hist[-1], eid_hist[-1])
        retained = set(zip(ts_hist, eid_hist))
        keys = list(
            zip(
                (int(t) for t in rows["ts_ns"]),
                (int(e) for e in rows["event_id"]),
            )
        )
        # Cross-batch half of the event_id-uniqueness guard (self-
        # review r13): an event_id still held in the 7-deep history
        # arriving with a DIFFERENT ts_ns is neither an exact replay
        # (dropped below) nor a new event — it violates the same
        # premise the intra-batch check above enforces, and scoring
        # it as a second event would be silently wrong. Deeper reuse
        # (beyond the deque) is out of verification reach, like deep
        # replays.
        hist_ts_by_eid = dict(zip(eid_hist, ts_hist))
        for t, e in keys:
            prev_ts = hist_ts_by_eid.get(e)
            if prev_ts is not None and prev_ts != t:
                raise ValueError(
                    f"conflicting duplicate for user_id={user_id}: "
                    f"event_id={e} was consumed at ts_ns={prev_ts} "
                    f"and arrives again at ts_ns={t}; event_id must "
                    "be unique per event"
                )
        replayed = [k in retained for k in keys]
        if any(replayed):
            rows = rows.loc[[not x for x in replayed]]
        if not len(rows):
            state.update((ts_hist, eid_hist, val_hist))
            return
        first = rows.iloc[0]
        incoming = (int(first["ts_ns"]), int(first["event_id"]))
        if incoming < newest:
            raise ValueError(
                f"out-of-order event for user_id={user_id}: incoming "
                f"(ts_ns, event_id)={incoming} precedes the newest "
                f"consumed ({ts_hist[-1]}, {eid_hist[-1]}) and is not "
                "a redelivery of a retained event; the ewma_stream "
                "source contract requires per-key nondecreasing event "
                "time across micro-batches (time-partitioned source "
                "files), tolerating exact replays of the last 7 "
                "consumed events per key"
            )
    out_eid: list[int] = []
    out_n: list[int] = []
    out_ewma: list[float | None] = []
    # numpy views: iterating raw ndarrays skips the per-item pandas
    # Series machinery (r18; same values, same order)
    for ts_ns, event_id, value in zip(
        rows["ts_ns"].to_numpy(),
        rows["event_id"].to_numpy(),
        rows["value"].to_numpy(),
    ):
        v = float(value) if value == value else None
        # newest-first view for the lag-indexed coefficient walk
        hist = [v] + val_hist[::-1]
        n_hist, ewma = _ewma_over(hist)
        out_eid.append(int(event_id))
        out_n.append(n_hist)
        out_ewma.append(ewma)
        ts_hist.append(int(ts_ns))
        eid_hist.append(int(event_id))
        val_hist.append(v)
        if len(val_hist) > 7:
            ts_hist, eid_hist, val_hist = (
                ts_hist[-7:], eid_hist[-7:], val_hist[-7:]
            )
    state.update((ts_hist, eid_hist, val_hist))
    yield pd.DataFrame(
        {
            "event_id": out_eid,
            "user_id": user_id,
            "n_hist": out_n,
            "ewma_raw": out_ewma,
        }
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch w08 bounded-horizon EWMA (α=0.5
    over the last 8 observations, weights renormalized): one emitted
    row PER EVENT (append semantics — the per-row shape st03's
    per-batch ``update`` profiles don't cover), keyed state = the
    last-7 observation deque, O(7) per key forever.

    Input needs (user_id, event_id, value, ts_ns). Within a
    micro-batch rows are sorted by (ts_ns, event_id) — Spark hands
    the operator unordered Arrow chunks; across micro-batches the
    file-source replay delivers per-key rows in nondecreasing time
    order when source files are time-partitioned (the st-suite
    replay contract; tests exercise a 2-batch split). The contract is
    ENFORCED, not assumed (ADVICE r8): an event strictly older than
    the newest already-consumed (ts_ns, event_id) for its key raises
    ValueError and fails the batch, instead of silently scoring
    against a stale deque — UNLESS its exact (ts_ns, event_id) pair
    is still in the retained 7-deep deque, in which case it is a
    verifiable at-least-once redelivery and is dropped (ADVICE r9 —
    the strict < guard double-scored the boundary row; round 11
    generalized the drop to any retained suffix, so replaying up to
    the last 7 consumed events per key yields exactly-once output;
    deeper replays still fail loudly — unverifiable; ADVICE r11
    closed the remaining seam: an exact (ts_ns, event_id) twin
    arriving twice WITHIN one micro-batch is deduped before scoring,
    so intra-batch redelivery is exactly-once too). Emitted
    ``ewma_raw`` is the UNROUNDED double — round Spark-side
    (F.round, JVM half-up) so batch and stream round identically."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
