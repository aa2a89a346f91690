"""Per-event trailing-window features over a stream (SURVEY §2.9 T3/T4/T5).

The reference's core streaming semantic: on EVERY event, emit that
entity's full feature vector over multiple trailing windows (reference:
flink_job/aml_stream_processor.py:64-201 ListState; flink_job/
real_time_processor.py:78-230 MapState). Spark has no built-in operator
for this — sliding windows emit per-window, not per-event — so this is a
custom stateful processor on ``applyInPandasWithState``.

Keying strategy (the 100 TB design point): state is keyed by a HASH
BUCKET of the entity, not the raw entity. Python stateful processors pay
a fixed per-group cost every micro-batch (pandas frame assembly, Arrow
round-trip, state (de)serialization); with billions of entities that
fixed cost dominates. Bucketing amortizes it: one group handles ~|keys|/B
entities, and ALL per-entity window math inside a bucket is vectorized in
one numpy pass over a composite ``entity_idx * 2^34 + time_offset`` key
— per-entity trailing frames never cross the composite boundary, so a
single ``searchsorted`` + prefix-sum + sparse-table range-min/max over
the bucket's concatenated buffer evaluates every entity at once. No
per-entity Python loop anywhere.

INCREMENTAL STATE (round-5 redesign; SURVEY §4 "incremental state"):
per-batch cost scales with the BATCH plus the state of the entities it
touches, never the whole bucket buffer:

- state buffers are persisted already sorted by (entity, ts); the sorted
  batch is MERGED in O(touched + batch) by scatter (one ``searchsorted``
  for insertion points) — no argsort over the buffer;
- entities with no batch rows pass through untouched: no key remap, no
  cumsum, no extrema table over their rows;
- frame-invisible state rows (older than the entity's earliest batch
  event minus the largest window) are pre-evicted before any compute, so
  the prefix-sum/extrema structures cover only rows a frame can see;
- amounts are validated/centified on arrival only — state rows are never
  re-validated.

LONG-SPAN REPLAYS: the composite key packs per-entity time offsets into
2^34 ms (~199 days) segments. Offsets are taken against a PER-ENTITY
base (earliest batch event − max window), and a batch whose event-time
span exceeds one segment is processed in time CHUNKS inside the
processor (state rows beyond the chunk horizon are parked and re-merged
afterwards), so a bounded ``availableNow`` replay of an arbitrarily long
event log degrades to a few extra in-memory passes instead of failing —
only a single *window* ≥ ~99 days is rejected, at construction time.

Semantics (unchanged, and oracle-checked):
- keyed state = per-entity event buffers (ts_ms, value) within the
  largest window (the ListState equivalent, manual event-time eviction);
- per micro-batch: merge batch rows into the buffers in event-time
  order, emit one output row per input event with all window aggregates;
- events sharing (entity, ts) are peers — each sees the others — exactly
  the batch RANGE-frame semantics, so stream output ≡ batch window
  output when per-key arrival respects event-time order (the
  online/offline consistency property the reference only simulates,
  README.md:163).

Scale notes: state per bucket is bounded by (max window × per-entity
rate × entities/bucket); bucket count is the parallelism knob — raise it
so buckets fit executor memory. Arrow-batched transfer; state blobs are
raw bytes (memcpy, not per-element conversion).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_WINDOWS = {"5m": 300, "1h": 3600}
DEFAULT_BUCKETS = 256

# composite key = entity_idx * 2^34 + (ts_ms − per-entity base): 2^34 ms
# ≈ 199 days of offset per entity segment, 2^63 / 2^34 ≈ 5.4e8 entities
# per bucket. Batches spanning more are chunked (module docstring).
_TS_BITS = 34
_TS_SPAN = np.int64(1) << _TS_BITS

# buffers are stored as raw little-endian byte blobs, not ARRAY<...>:
# state round-trips happen every micro-batch for every bucket, and
# numpy.tobytes()/frombuffer is a memcpy while array-typed state converts
# element-by-element through Python objects
STATE_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.BinaryType()),   # per-entity ids (sorted)
        T.StructField("cnt", T.BinaryType()),   # rows per entity
        T.StructField("ms", T.BinaryType()),    # concatenated event times
        T.StructField("val", T.BinaryType()),   # concatenated amounts
        T.StructField("cat", T.BinaryType()),   # concatenated category keys
    ]
)

# a state "pool": (uid unique+sorted, rows per uid, ms grouped by uid and
# ascending within, val and cat aligned with ms)
Pool = tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]


def _empty_pool() -> Pool:
    return (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.float64),
        np.empty(0, np.int64),
    )


def output_schema(
    windows: dict[str, int], extended: bool = False
) -> T.StructType:
    fields = [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
    ]
    for w in windows:
        fields += [
            T.StructField(f"txn_count_{w}", T.LongType()),
            T.StructField(f"txn_amount_sum_{w}", T.DoubleType()),
            T.StructField(f"avg_txn_amount_{w}", T.DoubleType()),
            T.StructField(f"max_txn_amount_{w}", T.DoubleType()),
            T.StructField(f"min_txn_amount_{w}", T.DoubleType()),
        ]
        if extended:
            fields += [
                T.StructField(f"std_txn_amount_{w}", T.DoubleType()),
                T.StructField(f"velocity_score_{w}", T.DoubleType()),
                T.StructField(f"night_txn_count_{w}", T.LongType()),
                T.StructField(f"weekend_txn_count_{w}", T.LongType()),
                T.StructField(f"unique_k_{w}", T.LongType()),
            ]
    return T.StructType(fields)


def _block_ranges(cnt: np.ndarray) -> np.ndarray:
    """Concatenated per-block aranges: [0..cnt0), [0..cnt1), ..."""
    total = int(cnt.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(cnt) - cnt
    return np.arange(total, dtype=np.int64) - np.repeat(starts, cnt)


def _merge_pools(a: Pool, b: Pool) -> Pool:
    """Merge two entity-grouped pools in O(rows); for entities present in
    both, pool-a rows precede pool-b rows (callers guarantee a's rows are
    not event-time-newer than b's for shared entities)."""
    a_uid, a_cnt, *a_rows = a
    b_uid, b_cnt, *b_rows = b
    if len(a_uid) == 0:
        return b
    if len(b_uid) == 0:
        return a
    f_uid = np.union1d(a_uid, b_uid)
    a_pos = np.searchsorted(f_uid, a_uid)
    b_pos = np.searchsorted(f_uid, b_uid)
    f_cnt = np.zeros(len(f_uid), np.int64)
    f_cnt[a_pos] += a_cnt
    f_cnt[b_pos] += b_cnt
    starts = np.cumsum(f_cnt) - f_cnt
    a_idx = np.repeat(starts[a_pos], a_cnt) + _block_ranges(a_cnt)
    a_len = np.zeros(len(f_uid), np.int64)
    a_len[a_pos] = a_cnt
    b_idx = np.repeat(starts[b_pos] + a_len[b_pos], b_cnt) + _block_ranges(b_cnt)
    total = int(f_cnt.sum())
    merged = []
    for ar, br in zip(a_rows, b_rows):
        m = np.empty(total, ar.dtype)
        m[a_idx] = ar
        m[b_idx] = br
        merged.append(m)
    return (f_uid, f_cnt, *merged)


def _split_pool(pool: Pool, row_mask: np.ndarray) -> tuple[Pool, Pool]:
    """Split a pool row-wise by a boolean mask (True → first pool).
    Filtering preserves per-entity grouping and time order."""
    uid, cnt, *rows = pool
    if len(uid) == 0:
        return pool, pool
    starts = np.cumsum(cnt) - cnt
    in_cnt = np.add.reduceat(row_mask.astype(np.int64), starts)
    out_cnt = cnt - in_cnt
    ka, kb = in_cnt > 0, out_cnt > 0
    return (
        (uid[ka], in_cnt[ka], *[r[row_mask] for r in rows]),
        (uid[kb], out_cnt[kb], *[r[~row_mask] for r in rows]),
    )


def _range_extrema(val: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """Vectorized range-max/min of val over [lo, hi) slices via a sparse
    table (RMQ): O(n log maxwidth) build, O(levels) batched query.
    Requires hi > lo (trailing frames always contain the current event).
    Levels are built only up to the widest queried frame."""
    width = hi - lo
    # floor(log2(width)) via float exponent — exact for width < 2^52
    k = (np.frexp(width.astype(np.float64))[1] - 1).astype(np.int64)
    kmax = int(k.max()) if len(k) else 0
    stmax, stmin = [val], [val]
    for j in range(1, kmax + 1):
        step = 1 << (j - 1)
        stmax.append(np.maximum(stmax[-1][:-step], stmax[-1][step:]))
        stmin.append(np.minimum(stmin[-1][:-step], stmin[-1][step:]))
    mx = np.empty(len(lo), dtype=val.dtype)
    mn = np.empty(len(lo), dtype=val.dtype)
    for level in range(kmax + 1):
        m = k == level
        if not m.any():
            continue
        span = 1 << level
        l, h = lo[m], hi[m]
        mx[m] = np.maximum(stmax[level][l], stmax[level][h - span])
        mn[m] = np.minimum(stmin[level][l], stmin[level][h - span])
    return mx, mn


def _prev_occurrence(
    m_comp: np.ndarray, m_cat: np.ndarray, nb: int
) -> np.ndarray:
    """Index of each row's previous same-(entity, category) occurrence in
    the merged buffer (-1 = none). Rows are in composite (entity-major,
    time-minor) order, so within a group "previous in buffer order" is
    "previous in event time"; ties keep buffer order on both paths.

    Adaptive (r6, VERDICT r5 #2 — kill the O(buffer log buffer) term):
    when the retained state dwarfs the batch (steady-state streaming),
    group by HASH (pandas factorize + grouped shift, O(touched + batch))
    instead of lexsorting the whole buffer; when the batch is the buffer
    (cold start, bounded replay), a lexsort is ~2x faster in constants
    and the asymptotic distinction vanishes.
    """
    n = len(m_comp)
    tidx = m_comp >> _TS_BITS
    if n - nb > 4 * nb:
        cat_code, uniques = pd.factorize(m_cat)
        ncat = len(uniques)
        if int(tidx[-1] if n else 0) < 2**62 // max(ncat, 1):
            key = tidx * ncat + cat_code
            prev = (
                pd.Series(np.arange(n, dtype=np.int64))
                .groupby(key, sort=False)
                .shift(1)
            )
            return prev.fillna(-1).to_numpy(np.int64)
        # composite hash key would overflow int64 — fall through to sort
    order = np.lexsort((m_comp, m_cat))
    oc, ocat, otidx = m_comp[order], m_cat[order], tidx[order]
    same = np.zeros(n, dtype=bool)
    if n > 1:
        same[1:] = (ocat[1:] == ocat[:-1]) & (otidx[1:] == otidx[:-1])
    pv = np.full(n, np.int64(-1))
    pv[1:][same[1:]] = order[:-1][same[1:]]
    prev_idx = np.empty(n, np.int64)
    prev_idx[order] = pv
    return prev_idx


def _step(
    pool: Pool,
    b_uid: np.ndarray,
    b_ms: np.ndarray,
    b_val: np.ndarray,
    b_eid: np.ndarray,
    b_cat: np.ndarray,
    windows: dict[str, int],
    max_w_ms: int,
    extended: bool,
) -> tuple[dict[str, Any], Pool]:
    """One logical micro-batch: emit per-event window aggregates for the
    (uid, ms, eid)-sorted batch rows against `pool`, return the updated
    pool. Caller guarantees every pool/batch row is below the chunk
    horizon so per-entity offsets fit one composite segment."""
    t_uids = np.unique(b_uid)
    n_t = len(t_uids)

    # entities with no batch rows pass through untouched
    p_uid, p_cnt = pool[0], pool[1]
    ent_t = np.isin(p_uid, t_uids, assume_unique=True)
    row_t = np.repeat(ent_t, p_cnt)
    touched, untouched = _split_pool(pool, row_t)
    tp_uid, tp_cnt, tp_ms, tp_val, tp_cat = touched

    # per-entity base = earliest batch event − max window: every row a
    # frame can see has ms ≥ base, every retained-state row too
    bs = np.searchsorted(b_uid, t_uids, side="left")
    base = b_ms[bs] - max_w_ms

    # pre-evict frame-invisible state rows (final eviction at entity-last
    # − max_w would drop them anyway, since entity-last ≥ earliest batch)
    sp = np.searchsorted(t_uids, tp_uid)
    row_sp = np.repeat(sp, tp_cnt)
    keep0 = tp_ms >= np.repeat(base[sp], tp_cnt)
    s_tidx, s_ms = row_sp[keep0], tp_ms[keep0]
    s_val, s_cat = tp_val[keep0], tp_cat[keep0]

    # merge sorted state rows with sorted batch rows by scatter: O(s + b)
    comp_s = s_tidx * _TS_SPAN + (s_ms - base[s_tidx])
    b_tidx = np.searchsorted(t_uids, b_uid)
    comp_b = b_tidx * _TS_SPAN + (b_ms - base[b_tidx])
    ins = np.searchsorted(comp_s, comp_b, side="left")
    nb, ns = len(comp_b), len(comp_s)
    pos_b = ins + np.arange(nb, dtype=np.int64)
    is_b = np.zeros(ns + nb, dtype=bool)
    is_b[pos_b] = True
    m_comp = np.empty(ns + nb, np.int64)
    m_ms = np.empty(ns + nb, np.int64)
    m_val = np.empty(ns + nb, np.float64)
    m_cat = np.empty(ns + nb, np.int64)
    m_comp[pos_b] = comp_b
    m_comp[~is_b] = comp_s
    m_ms[pos_b] = b_ms
    m_ms[~is_b] = s_ms
    m_val[pos_b] = b_val
    m_val[~is_b] = s_val
    m_cat[pos_b] = b_cat
    m_cat[~is_b] = s_cat

    # running sums in integer cents: exact at any volume, and /100.0
    # lands on the same double as the batch plan's DECIMAL route (batch
    # rows were validated 2-decimal on arrival; state rows are replays
    # of already-validated rows)
    cents = np.round(m_val * 100.0).astype(np.int64)
    csum = np.concatenate([[0], np.cumsum(cents)])

    if extended:
        # second-moment prefix in integer cents² (exact; guarded against
        # int64 overflow, which needs ~4e5 buffer rows of max-scale
        # amounts per bucket — far beyond a window's worth of state)
        cmax = int(np.abs(cents).max()) if len(cents) else 0
        if cmax * cmax * max(len(cents), 1) >= 2**62:
            raise ValueError(
                "windowed stddev second-moment prefix would overflow "
                "int64 for this bucket; raise the bucket count"
            )
        csum2 = np.concatenate([[0], np.cumsum(cents * cents)])
        # night/weekend indicator prefixes (UTC, reference definitions:
        # hour < 6 or > 22; ISO weekday >= Saturday)
        hour = (m_ms % 86400000) // 3600000
        dow = (m_ms // 86400000 + 3) % 7  # 1970-01-01 = Thursday, Mon=0
        cnight = np.concatenate(
            [[0], np.cumsum(((hour < 6) | (hour > 22)).astype(np.int64))]
        )
        cweekend = np.concatenate([[0], np.cumsum((dow >= 5).astype(np.int64))])
        # previous same-(entity, category) occurrence for exact windowed
        # distinct counts by interval-marker decomposition: a row is the
        # FIRST occurrence of its category inside frame(t) iff
        # max(ms, prev + W + 1) <= t <= ms + W, so
        # distinct(t) = #{A <= t} - #{B < t} with sorted marker arrays
        # A = max(comp, prev_comp + W + 1), B = comp + W (clamped into
        # the entity segment; queried t never reaches the segment end)
        prev_idx = _prev_occurrence(m_comp, m_cat, nb)
        has_prev = prev_idx >= 0
        prev_comp = np.where(has_prev, m_comp[prev_idx], np.int64(-1))
        seg_hi = (m_comp // _TS_SPAN + 1) * _TS_SPAN - 1

    hi = np.searchsorted(m_comp, comp_b, side="right")
    cols: dict[str, Any] = {"user_id": b_uid, "event_id": b_eid, "ts_ms": b_ms}
    for wname, wsecs in windows.items():
        w_ms = wsecs * 1000
        lo = np.searchsorted(m_comp, comp_b - w_ms, side="left")
        n = hi - lo
        s = (csum[hi] - csum[lo]) / 100.0
        mx, mn = _range_extrema(m_val, lo, hi)
        cols[f"txn_count_{wname}"] = n
        cols[f"txn_amount_sum_{wname}"] = s
        cols[f"avg_txn_amount_{wname}"] = s / n  # frames are non-empty
        cols[f"max_txn_amount_{wname}"] = mx
        cols[f"min_txn_amount_{wname}"] = mn
        if extended:
            s1 = (csum[hi] - csum[lo]).astype(np.float64)
            s2 = (csum2[hi] - csum2[lo]).astype(np.float64)
            nd = n.astype(np.float64)
            var = s2 / nd - (s1 / nd) ** 2
            # unrounded here; the query layer applies the engine-wide
            # round-6 contract with Spark's ROUND (pairs with the oracle)
            cols[f"std_txn_amount_{wname}"] = (
                np.sqrt(np.maximum(var, 0.0)) / 100.0
            )
            cols[f"velocity_score_{wname}"] = nd / (wsecs / 60.0)
            cols[f"night_txn_count_{wname}"] = cnight[hi] - cnight[lo]
            cols[f"weekend_txn_count_{wname}"] = cweekend[hi] - cweekend[lo]
            # Marker arrays WITHOUT sorting (r6; was 2 full np.sorts per
            # window): split A by who determines the max. Rows where
            # prev + w + 1 <= comp (or no prev) contribute comp — a
            # subsequence of the sorted buffer, so already sorted. The
            # rest contribute prev_comp + w + 1; re-indexed by the PREV
            # row (each row is prev of at most one successor) those are
            # a sorted subsequence + constant. B = comp + w clamped to
            # the segment end is sorted by construction (segment ends
            # are below the next segment's first composite).
            self_first = ~has_prev | (prev_comp + w_ms + 1 <= m_comp)
            a1 = m_comp[self_first]
            is_close_prev = np.zeros(len(m_comp), dtype=bool)
            is_close_prev[prev_idx[~self_first]] = True
            a2 = np.minimum(
                m_comp[is_close_prev] + w_ms + 1, seg_hi[is_close_prev]
            )
            b_mark = np.minimum(m_comp + w_ms, seg_hi)
            cols[f"unique_k_{wname}"] = (
                np.searchsorted(a1, comp_b, side="right")
                + np.searchsorted(a2, comp_b, side="right")
                - np.searchsorted(b_mark, comp_b, side="left")
            )

    # evict per-entity state older than the largest window behind that
    # entity's max event-time (segments end at composite boundaries)
    seg_end = np.searchsorted(
        m_comp, (np.arange(n_t, dtype=np.int64) + 1) * _TS_SPAN, side="left"
    )
    seg_cnt = np.diff(np.concatenate([[0], seg_end]))
    cutoff = np.repeat(m_ms[seg_end - 1] - max_w_ms, seg_cnt)
    kp = m_ms >= cutoff
    new_cnt = np.add.reduceat(kp.astype(np.int64), seg_end - seg_cnt)
    new_touched: Pool = (t_uids, new_cnt, m_ms[kp], m_val[kp], m_cat[kp])
    return cols, _merge_pools(untouched, new_touched)


def _processor(windows: dict[str, int], extended: bool = False):
    max_w_ms = max(windows.values()) * 1000
    out_cols = [f.name for f in output_schema(windows, extended)]
    # chunk width: chunk rows + window context fit one composite segment
    chunk_ms = int(_TS_SPAN) - max_w_ms - 1

    int_prefixes = (
        "user_id", "event_id", "ts_ms", "txn_count", "night_txn_count",
        "weekend_txn_count", "unique_k",
    )

    def _empty_out() -> pd.DataFrame:
        data = {
            c: np.empty(0, np.int64 if c.startswith(int_prefixes) else np.float64)
            for c in out_cols
        }
        return pd.DataFrame(data)

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            uid_raw, cnt_raw, ms_raw, val_raw, cat_raw = state.get
            pool: Pool = (
                np.frombuffer(uid_raw, dtype="<i8"),
                np.frombuffer(cnt_raw, dtype="<i8"),
                np.frombuffer(ms_raw, dtype="<i8"),
                np.frombuffer(val_raw, dtype="<f8"),
                np.frombuffer(cat_raw, dtype="<i8"),
            )
        else:
            pool = _empty_pool()

        chunks = list(pdfs)
        batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if batch[["ts_ms", "event_id"]].isna().any().any():
            batch = batch.dropna(subset=["ts_ms", "event_id"])
        if not len(batch):
            yield _empty_out()
            return
        b_uid = batch["user_id"].to_numpy(np.int64)
        b_ms = batch["ts_ms"].to_numpy(np.int64)
        b_val = batch["value"].to_numpy(np.float64)
        b_eid = batch["event_id"].to_numpy(np.int64)
        b_cat = (
            batch["cat"].fillna(-1).to_numpy(np.int64)
            if "cat" in batch.columns
            else np.full(len(batch), np.int64(-1))
        )
        # batch rows in (entity, event-time, id) order
        b_order = np.lexsort((b_eid, b_ms, b_uid))
        b_uid, b_ms, b_val, b_eid, b_cat = (
            b_uid[b_order], b_ms[b_order], b_val[b_order], b_eid[b_order],
            b_cat[b_order],
        )

        # the 2-decimal amount contract is enforced loudly on ARRIVAL —
        # a finer-precision amount would otherwise silently diverge the
        # stream results from the batch plan's DECIMAL(25,2) route
        cents = np.round(b_val * 100.0)
        if not np.array_equal(cents / 100.0, b_val):
            bad = b_val[cents / 100.0 != b_val][:3]
            raise ValueError(
                "per-event window state requires amounts with <= 2 decimal "
                f"places (got e.g. {bad.tolist()}); widen the cents scale "
                "or pre-round the amount column explicitly"
            )

        g0 = int(b_ms.min())
        cid = (b_ms - g0) // chunk_ms
        p_ms = pool[2]
        single = cid.max() == 0 and (
            len(p_ms) == 0 or int(p_ms.max()) < g0 + chunk_ms
        )
        outs: list[dict[str, Any]] = []
        if single:
            cols, pool = _step(
                pool, b_uid, b_ms, b_val, b_eid, b_cat,
                windows, max_w_ms, extended,
            )
            outs.append(cols)
        else:
            # long-span replay: process in time chunks; state rows beyond
            # the chunk horizon are parked and re-merged afterwards
            for k in np.unique(cid):
                ce = g0 + (int(k) + 1) * chunk_ms
                work, park = _split_pool(pool, pool[2] < ce)
                sel = cid == k
                cols, work = _step(
                    work, b_uid[sel], b_ms[sel], b_val[sel], b_eid[sel],
                    b_cat[sel], windows, max_w_ms, extended,
                )
                outs.append(cols)
                # shared entities: work rows < ce ≤ park rows → time order
                pool = _merge_pools(work, park)

        out_df = (
            pd.DataFrame(outs[0])
            if len(outs) == 1
            else pd.concat([pd.DataFrame(c) for c in outs], ignore_index=True)
        )
        n_uid, n_cnt, n_ms, n_val, n_cat = pool
        state.update(
            (
                np.ascontiguousarray(n_uid, dtype="<i8").tobytes(),
                np.ascontiguousarray(n_cnt, dtype="<i8").tobytes(),
                np.ascontiguousarray(n_ms, dtype="<i8").tobytes(),
                np.ascontiguousarray(n_val, dtype="<f8").tobytes(),
                np.ascontiguousarray(n_cat, dtype="<i8").tobytes(),
            )
        )
        yield out_df[out_cols]

    return fn


def per_event_features(
    stream: DataFrame,
    windows: dict[str, int] | None = None,
    n_buckets: int | None = None,
    extended: bool = False,
) -> DataFrame:
    """Apply the per-event stateful processor to a streaming DataFrame with
    columns (user_id, event_id, ts, value). With ``extended=True`` the
    reference's FULL per-event vector is emitted (std/velocity/night/
    weekend/unique-category per window — aml_stream_processor.py:147-199);
    the category key is parsed from ``props.k`` when present."""
    windows = windows or DEFAULT_WINDOWS
    n_buckets = n_buckets or DEFAULT_BUCKETS
    max_w_ms = max(windows.values()) * 1000
    if 2 * max_w_ms + 2 >= int(_TS_SPAN):
        raise ValueError(
            f"largest window {max_w_ms} ms does not fit the composite-key "
            f"segment width 2^{_TS_BITS} ms (~199 days); windows must be "
            "under ~99 days"
        )
    from ..schemas import prop_k_fast

    # the category key feeds only the extended vector's unique_k — basic
    # mode skips the props parse and ships a constant through the shuffle.
    # prop_k_fast is bit-equal to from_json(...)["k"] on the closed props
    # contract (tests/test_prop_k.py) and ~6x cheaper at the 10M anchor,
    # where the general JSON parse was a visible slice of this query's
    # scan (same swap as the graph family, r10 session 3).
    cat = (
        F.coalesce(prop_k_fast(), F.lit(-1))
        if extended and "props" in stream.columns
        else F.lit(-1).cast("long")
    )
    prepared = stream.select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "value",
        cat.alias("cat"),
        F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("_bucket"),
    )
    return prepared.groupBy("_bucket").applyInPandasWithState(
        _processor(windows, extended),
        outputStructType=output_schema(windows, extended),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RUN_TMP_ROOT: str | None = None


def _run_tmpdir(prefix: str) -> str:
    """Session-scoped temp dirs for bounded runs, removed at interpreter
    exit — repeated bench invocations must not litter the disk."""
    global _RUN_TMP_ROOT
    import atexit
    import shutil
    import tempfile

    if _RUN_TMP_ROOT is None:
        _RUN_TMP_ROOT = tempfile.mkdtemp(prefix="per_event_runs_")
        atexit.register(shutil.rmtree, _RUN_TMP_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_RUN_TMP_ROOT)


_SMALL_INPUT_BYTES = 16 * 1024 * 1024
_BUCKET_BYTES = 128 * 1024


def _adaptive_buckets(source_dir: str) -> int:
    """Bucket count for a BOUNDED run, derived from input bytes (r12,
    guide §1.2/§2): the stateful processor pays a fixed per-group cost
    every micro-batch (pandas frame assembly, Arrow round-trip, state
    blob (de)serialization — measured ~3 ms/group), so a small replay
    split 256 ways spends more on group plumbing than on window math
    (sf0.1: 2.0 s at 256 buckets vs 1.5 s at 16, interleaved min). Above
    ``_SMALL_INPUT_BYTES`` the production default stands untouched — a
    mid-size probe (1M events, 140 buckets) measured ~6% WORSE than 256,
    so this only shrinks where the win is proven, and the parallelism
    story at real scale (buckets = the knob, raised to fit executor
    memory) is unchanged. An explicit ``n_buckets`` arg to
    :func:`per_event_features` bypasses it entirely. A dir with no
    parquet files yet (a stream whose files land later) says
    nothing about its volume, so it gets the default too."""
    import glob as _g

    files = _g.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)
    size = sum(os.path.getsize(p) for p in files)
    if not files or size >= _SMALL_INPUT_BYTES:
        return DEFAULT_BUCKETS
    return max(16, min(DEFAULT_BUCKETS, -(-size // _BUCKET_BYTES)))


def run_bounded(
    spark,
    source_dir: str,
    windows: dict[str, int] | None = None,
    query_name: str = "per_event_features",
    max_files_per_trigger: int | None = None,
    extended: bool = False,
) -> DataFrame:
    """Drive the per-event processor over a bounded file stream to
    completion (availableNow) and return the materialized result.

    ``source_dir`` may be a directory of event-shaped parquet files, or a
    testdata sf dir — in the latter case only events.parquet is streamed
    (the file source would otherwise read every table in the dir).
    Arbitrarily long event-log spans are handled by the processor's
    internal time-chunking; ``max_files_per_trigger`` stays optional."""
    import glob

    others = [
        p
        for p in glob.glob(os.path.join(source_dir, "*.parquet"))
        if not p.endswith(os.sep + "events.parquet")
    ]
    if others and os.path.exists(os.path.join(source_dir, "events.parquet")):
        from ..sources.tables import isolate_events_files

        source_dir = isolate_events_files(source_dir)

    from ..sources.tables import stream_events

    n_buckets = _adaptive_buckets(source_dir)
    events = stream_events(spark, source_dir, max_files_per_trigger)
    out = per_event_features(events, windows, n_buckets=n_buckets, extended=extended)
    ckpt = _run_tmpdir("ckpt_per_event_")
    # parquet sink, not memory: the memory sink collects every output row
    # into the DRIVER — fine at test scale, the dominant cost at 1M rows
    # and a non-starter on a cluster. Executors write in parallel; the
    # bounded result reads back as a plain DataFrame.
    dst = _run_tmpdir("out_per_event_")
    # stream-scoped shuffle partitions = min(current, cores, buckets):
    # state partitions beyond the bucket count hold zero groups yet still
    # pay a state-store commit per micro-batch (r12; only ever SHRINKS —
    # each run has a fresh checkpoint, so the state-partition count pin
    # is per-run)
    cores = spark.sparkContext.defaultParallelism
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(int(prev_parts), cores, n_buckets))
    )
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.schema(output_schema(windows, extended)).parquet(dst)
