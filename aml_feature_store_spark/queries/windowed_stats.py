"""Registered queries: windowed statistical aggregates that need per-frame
ranking (A9/A10 in their notebook per-window form), streaming graph edges
(T4), and the approx-distinct scale variant (A6)."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..catalog import register
from ..streaming.per_event import _run_tmpdir
from ..schemas import prop_k_fast
from ..sources import load_table
from ..sources.tables import isolate_events_files

DEC = "decimal(25,2)"

# closed category domain of events.event_type (same contract as the
# explicit pivot value list in coverage.event_type_pivot) — lets windowed
# HHI decompose into per-category conditional window counts
EVENT_TYPE_DOMAIN = ["click", "error", "purchase", "signup", "view"]


_GINI_24H_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("txn_count_24h", T.LongType()),
        T.StructField("gini_amount_24h", T.DoubleType()),
    ]
)

# flat-kernel budget: Σ frame rows a (user, chunk) group may materialize
# before it switches to the O(n log U) incremental path. A dense hot key
# (25% of a 1M log ⇒ ~8 k-row frames × 60 k events/chunk ≈ 5·10⁸ flat
# rows) would otherwise allocate tens of GB and minutes of sort time per
# task. The budget is deliberately SMALL (200 k rows ≈ 5 MB of
# temporaries): /proc/stat profiling at the 1M hot anchor showed the
# flat path's giant short-lived numpy buffers spending 70-85% of CPU in
# the KERNEL (page-fault + THP-compaction churn across 32 workers, with
# 4-10× run-to-run variance); the Fenwick path allocates ~nothing, and
# past a few hundred frame-rows per event its O(n log U) beats the flat
# path's memory traffic anyway.
_GINI_FLAT_MASS_BUDGET = 200_000


def _gini_group_fenwick(ms, cents, emit, window_ms):
    """Exact trailing-frame Gini sums for ONE dense (user, chunk) group:
    two-pointer sliding window + Fenwick tree over compressed cent
    values maintaining S1 = Σ rank·value incrementally.

    Insert v (after its ties): S1 += (cnt_le(v)+1)·v + sum_gt(v);
    evict the last tie of v:    S1 −= cnt_le(v)·v + sum_gt(v)
    (ties share interchangeable consecutive ranks, so Σ rank·v is
    invariant to which tie moves). O((n+evictions)·log U) total — the
    frame width cancels out entirely. All arithmetic stays in integer
    cents, so n/s/s1 — and therefore the final double — are bit-equal
    to the flat kernel's (pytest-pinned equivalence on random data)."""
    uniq, idx = np.unique(cents, return_inverse=True)
    nvals = len(uniq)
    cnt_tree = [0] * (nvals + 1)
    sum_tree = [0] * (nvals + 1)

    def update(i, dc, ds):
        i += 1
        while i <= nvals:
            cnt_tree[i] += dc
            sum_tree[i] += ds
            i += i & (-i)

    def prefix(i):  # cnt/sum over values <= uniq[i]
        i += 1
        c = s = 0
        while i > 0:
            c += cnt_tree[i]
            s += sum_tree[i]
            i -= i & (-i)
        return c, s

    n_rows = len(ms)
    out_n: list[int] = []
    out_s: list[int] = []
    out_s1: list[int] = []
    s1 = scnt = ssum = 0
    left = right = 0
    ms_l = [int(x) for x in ms]
    cents_l = [int(x) for x in cents]
    idx_l = [int(x) for x in idx]
    for t in range(n_rows):
        if not emit[t] and right > t:
            continue
        cutoff = ms_l[t] - window_ms
        while right < n_rows and ms_l[right] <= ms_l[t]:
            v, vi = cents_l[right], idx_l[right]
            c_le, s_le = prefix(vi)
            s1 += (c_le + 1) * v + (ssum - s_le)
            update(vi, 1, v)
            scnt += 1
            ssum += v
            right += 1
        while ms_l[left] < cutoff:
            v, vi = cents_l[left], idx_l[left]
            c_le, s_le = prefix(vi)
            s1 -= c_le * v + (ssum - s_le)
            update(vi, -1, -v)
            scnt -= 1
            ssum -= v
            left += 1
        if emit[t]:
            out_n.append(scnt)
            out_s.append(ssum)
            out_s1.append(s1)
    return (
        np.array(out_n, np.int64),
        np.array(out_s, np.int64),
        np.array(out_s1, np.int64),
    )


def _gini_frames_pdf(pdf: pd.DataFrame, window_ms: int = 86400000) -> pd.DataFrame:
    """Vectorized trailing-frame Gini over MANY (user, chunk) groups at once
    (see windowed_gini_24h).

    Exact arithmetic: amounts are the 2-decimal contract, so frame sums
    run in integer cents (int64) and divide by 100.0 once — bit-identical
    to the oracle's DECIMAL(25,2)->DOUBLE route. The final double
    expression mirrors the oracle term-for-term.

    Rows with _ctx=1 are carry-in context duplicated from the previous
    chunk: they populate frames but emit no output row, so chunking
    changes memory bounds, never results. A missing _chunk column means
    one group.

    Multi-group trick: after a (user, chunk, ms) lexsort, each group's
    timestamps are shifted onto a disjoint int64 range (stride > span +
    window), so ONE global searchsorted pair resolves every frame of
    every group — no per-group Python iteration; frame ranking stays a
    single flat lexsort + reduceat. Falls back to a per-group loop for
    the searchsorted step only if n_groups * stride would overflow int64
    (≳ 10⁶ century-span groups in one partition — unreachable with sane
    partition sizing).
    """
    ms_a = pdf["_ms"].to_numpy()
    uid_a = pdf["user_id"].to_numpy()
    chk_a = (
        pdf["_chunk"].to_numpy()
        if "_chunk" in pdf.columns
        else np.zeros(len(pdf), np.int64)
    )
    order = np.lexsort((ms_a, chk_a, uid_a))
    ms = ms_a[order]
    uid = uid_a[order]
    chk = chk_a[order]
    cents = np.round(pdf["value"].to_numpy()[order] * 100.0).astype(np.int64)
    eid = pdf["event_id"].to_numpy()[order]
    emit = pdf["_ctx"].to_numpy()[order] == 0
    if len(ms) == 0:
        return pd.DataFrame(
            {
                "event_id": np.array([], np.int64),
                "user_id": np.array([], np.int64),
                "txn_count_24h": np.array([], np.int64),
                "gini_amount_24h": np.array([], np.float64),
            }
        )
    newg = np.empty(len(ms), dtype=bool)
    newg[0] = True
    newg[1:] = (uid[1:] != uid[:-1]) | (chk[1:] != chk[:-1])
    gidx = np.cumsum(newg) - 1
    mn = int(ms.min())
    stride = int(ms.max()) - mn + window_ms + 2
    n_groups = int(gidx[-1]) + 1
    if n_groups * stride < 2**62:
        key = (ms - mn) + gidx * stride
        lo = np.searchsorted(key, key[emit] - window_ms, side="left")
        hi = np.searchsorted(key, key[emit], side="right")
    else:  # pragma: no cover - unreachable with sane partition sizing
        bounds = np.flatnonzero(newg)
        ends = np.append(bounds[1:], len(ms))
        lo = np.empty(int(emit.sum()), np.int64)
        hi = np.empty_like(lo)
        k = 0
        for b, e in zip(bounds, ends):
            seg = ms[b:e]
            em = emit[b:e]
            cnt = int(em.sum())
            lo[k : k + cnt] = b + np.searchsorted(seg, seg[em] - window_ms, "left")
            hi[k : k + cnt] = b + np.searchsorted(seg, seg[em], "right")
            k += cnt
    lens = (hi - lo).astype(np.int64)  # >= 1 (event is inside its own frame)
    # dense-group escape (r6, skew anchor): groups whose flat frame mass
    # would blow the budget run the O(n log U) Fenwick path instead —
    # same integer sums, bit-identical output, frame width cancels out.
    g_of_frame = gidx[emit]
    group_mass = np.bincount(g_of_frame, weights=lens, minlength=n_groups)
    dense_group = group_mass > _GINI_FLAT_MASS_BUDGET
    if dense_group.any():
        n_emit_all = len(lens)
        out_n_all = np.empty(n_emit_all, np.int64)
        out_s_all = np.empty(n_emit_all, np.int64)
        out_s1_all = np.empty(n_emit_all, np.int64)
        dense_f = dense_group[g_of_frame]
        bounds = np.flatnonzero(newg)
        ends_all = np.append(bounds[1:], len(ms))
        for g in np.flatnonzero(dense_group):
            b, e = int(bounds[g]), int(ends_all[g])
            gn, gs, gs1 = _gini_group_fenwick(
                ms[b:e], cents[b:e], emit[b:e], window_ms
            )
            out_n_all[np.flatnonzero(g_of_frame == g)] = gn
            out_s_all[np.flatnonzero(g_of_frame == g)] = gs
            out_s1_all[np.flatnonzero(g_of_frame == g)] = gs1
        if not dense_f.all():
            sp_n, sp_s, sp_s1 = _gini_flat_sums(
                cents, lo[~dense_f], hi[~dense_f]
            )
            sparse_pos = np.flatnonzero(~dense_f)
            out_n_all[sparse_pos] = sp_n
            out_s_all[sparse_pos] = sp_s
            out_s1_all[sparse_pos] = sp_s1
        return _gini_finish(eid[emit], uid[emit], out_n_all, out_s_all, out_s1_all)
    _, s_cents, s1_cents = _gini_flat_sums(cents, lo, hi)
    return _gini_finish(eid[emit], uid[emit], lens, s_cents, s1_cents)


def _gini_flat_sums(cents, lo, hi):
    """Flat-concatenation frame sums (the vectorized sparse-group path):
    frame f spans rows lo[f]:hi[f]. Flat arrays are sized Σ frame, so
    every per-flat-row temporary is 32-bit where the value range allows —
    fid/offsets/ranks index partition-local rows (< 2^31 by the flat-mass
    budget) — halving allocation and memory traffic of the kernel's
    dominant phase."""
    lens = (hi - lo).astype(np.int64)
    total = int(lens.sum())
    if not len(lens):
        empty = np.array([], np.int64)
        return empty, empty, empty
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    fid = np.repeat(np.arange(len(lens), dtype=np.int32), lens)
    offs = np.arange(total, dtype=np.int64) - starts[fid]
    v = cents[offs + lo[fid]]
    # rank values ascending inside each frame (tie order is irrelevant to
    # sum(rank*v): tied values have interchangeable consecutive ranks).
    # Pack (frame, value) into ONE int64 key when the value range fits —
    # a single np.sort pass instead of lexsort's two stable argsorts +
    # gather; fall back to lexsort for negative or huge amounts.
    vmax = int(v.max()) if total else 0
    vmin = int(v.min()) if total else 0
    bits_v = max(vmax.bit_length(), 1)
    if vmin >= 0 and len(lens).bit_length() + bits_v <= 62:
        comp = (fid.astype(np.int64) << bits_v) | v
        comp.sort()
        v_sorted = comp & ((np.int64(1) << bits_v) - 1)
    else:
        v_sorted = v[np.lexsort((v, fid))]
    ranks = offs + 1  # 1-based rank inside each frame
    s_cents = np.add.reduceat(v_sorted, starts)
    s1_cents = np.add.reduceat(ranks * v_sorted, starts)
    return lens, s_cents, s1_cents


def _gini_finish(eid, uid, n_i, s_cents, s1_cents):
    """Shared finishing expression — BOTH physical paths feed the same
    integer (n, Σv, Σ rank·v) triple through this exact float tree, so
    path choice can never change a bit of output."""
    n = n_i.astype(np.float64)
    s = s_cents / 100.0
    s1 = s1_cents / 100.0
    with np.errstate(divide="ignore", invalid="ignore"):
        g = (2.0 * s1) / (n * s) - (n + 1.0) / n
    g = np.where(s != 0.0, g, 0.0)
    return pd.DataFrame(
        {
            "event_id": eid,
            "user_id": uid,
            "txn_count_24h": n_i,
            "gini_amount_24h": g,
        }
    )


def chunked_context(
    sel: DataFrame, window_ms: int, chunk_ms: int
) -> DataFrame:
    """Explode per-event rows into (user, time-chunk) kernel groups with a
    one-window carry-in: every row lands in its own chunk, and rows within
    one window of a chunk boundary are duplicated into the NEXT chunk as
    frame context (``_ctx`` = 1 — they populate frames, emit nothing).

    This is the hot-key bound for the per-frame rank kernels: the largest
    kernel group holds at most one user's events from chunk+carry-in
    (8 days at the 24h/7d defaults), NEVER the user's whole history —
    tests/test_skew.py pins that bound on an adversarially skewed log."""
    chunk = F.floor(F.col("_ms") / chunk_ms)
    dup = F.when(
        F.col("_ms") % chunk_ms >= chunk_ms - window_ms,
        F.array(
            F.struct(chunk.alias("c"), F.lit(0).alias("x")),
            F.struct((chunk + 1).alias("c"), F.lit(1).alias("x")),
        ),
    ).otherwise(F.array(F.struct(chunk.alias("c"), F.lit(0).alias("x"))))
    return sel.select(
        "event_id", "user_id", "_ms", "value", F.explode(dup).alias("_d")
    ).select(
        "event_id",
        "user_id",
        "_ms",
        "value",
        F.col("_d.c").alias("_chunk"),
        F.col("_d.x").alias("_ctx"),
    )



@register(
    "windowed_gini_24h",
    oracle="""
WITH pairs AS (
  SELECT e1.event_id, e1.user_id, e2.value AS v2, e2.event_id AS eid2
  FROM events e1 JOIN events e2
    ON e1.user_id = e2.user_id
   AND epoch_ms(e2.ts) BETWEEN epoch_ms(e1.ts) - 86400000 AND epoch_ms(e1.ts)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY v2, eid2) AS rn
  FROM pairs
), agg AS (
  SELECT event_id, user_id, COUNT(*) AS n,
         SUM(CAST(v2 AS DECIMAL(25,2))) AS s,
         SUM(rn * CAST(v2 AS DECIMAL(25,2))) AS s1
  FROM ranked GROUP BY event_id, user_id
)
SELECT event_id, user_id, n AS txn_count_24h,
  CASE WHEN CAST(s AS DOUBLE) != 0.0 THEN
    (2.0 * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)
  ELSE 0.0 END AS gini_amount_24h
FROM agg
""",
)
def windowed_gini_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini of amounts within each event's trailing 24h window — the
    notebook's per-window concentration feature (nb:cell6 l.68-73).

    Rank-in-frame needs per-frame order statistics, which no built-in
    window aggregate expresses, so this is ONE shuffle on
    (user, time-chunk) into an Arrow-batched applyInPandas kernel: per
    group, frames are resolved with two searchsorted passes and all
    frames are ranked in a single flat lexsort + reduceat — O(Σ frame
    log Σ frame) CPU, no interval self-join, no second shuffle on
    event_id.

    Scale: the kernel group is (user_id, 7-day-aligned chunk) with a
    one-window carry-in — each event is duplicated into the next chunk
    as frame context (≤ window/chunk ≈ 14% row overhead, _ctx rows emit
    nothing), so peak state is bounded by 8 days of one user's events
    regardless of history length; a year-long hot key costs no more than
    a week-long one. The kernel runs via repartition + within-partition
    sort + mapInPandas, NOT applyInPandas: groups are co-located and
    contiguous, and the whole partition is processed in one vectorized
    pass (per-call overhead is per-PARTITION — applyInPandas pays pandas
    construction per group, which dominated wall-clock once chunking
    multiplied the group count). Executor memory is bounded by shuffle
    partition size (explicit count, AQE won't coalesce the CPU-bound
    Python stage down), never by hot-key history.
    """
    window_ms = 86400000
    chunk_ms = 7 * window_ms
    ev = load_table(spark, sf_dir, "events")
    sel = ev.select(
        "event_id", "user_id", F.unix_millis(F.col("ts")).alias("_ms"), "value"
    )
    exploded = chunked_context(sel, window_ms, chunk_ms)
    n_part = spark.sparkContext.defaultParallelism

    def _run(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if len(pdf):
            yield _gini_frames_pdf(pdf, window_ms)

    return (
        exploded.repartition(n_part, "user_id", "_chunk")
        .sortWithinPartitions("user_id", "_chunk", "_ms")
        .mapInPandas(_run, schema=_GINI_24H_SCHEMA)
    )



def _category_counts_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for windowed HHI/entropy: per-event trailing-24h count
    plus one conditional count per closed-domain category — a single
    WindowExec on sparse frames, the O(rows) cum+probe flag-count
    strategy on dense ones (adaptive, bit-identical)."""
    from ..operators.windows import trailing_flag_counts

    ev = load_table(spark, sf_dir, "events")
    flags = {
        f"_c{i}": F.col("event_type") == c for i, c in enumerate(EVENT_TYPE_DOMAIN)
    }
    return trailing_flag_counts(ev, flags, 86400).select(
        "event_id", "user_id", F.col("cnt").alias("txn_count_24h"), *flags
    )


@register(
    "windowed_hhi_24h",
    oracle="""
WITH pairs AS (
  SELECT e1.event_id, e1.user_id, e2.event_type AS cat
  FROM events e1 JOIN events e2
    ON e1.user_id = e2.user_id
   AND epoch_ms(e2.ts) BETWEEN epoch_ms(e1.ts) - 86400000 AND epoch_ms(e1.ts)
), cnt AS (
  SELECT event_id, user_id, cat, COUNT(*) AS c
  FROM pairs GROUP BY event_id, user_id, cat
), agg AS (
  SELECT event_id, user_id, SUM(c * c) AS sq, SUM(c) AS tot
  FROM cnt GROUP BY event_id, user_id
)
SELECT event_id, user_id, CAST(tot AS BIGINT) AS txn_count_24h,
       CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
         AS hhi_event_type_24h
FROM agg
""",
)
def windowed_hhi_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-concentration HHI within each event's trailing 24h window
    (merchant_concentration_hhi per window, nb:cell6 l.78-81).

    Single-pass formulation: Σ_c n_c² decomposes into one conditional
    windowed count per category of the closed event_type domain, so the
    whole query is ONE window spec (one shuffle + one sort on the entity
    key) — no interval self-join, no second shuffle on event_id; dense
    frames switch to the O(rows) flag-count strategy. Exact integer
    arithmetic throughout. A category outside EVENT_TYPE_DOMAIN would
    break the Σ n_c = N invariant and surface as an oracle mismatch, not
    silent corruption.
    """
    wined = _category_counts_24h(spark, sf_dir)
    sq = F.col("_c0") * F.col("_c0")
    for i in range(1, len(EVENT_TYPE_DOMAIN)):
        sq = sq + F.col(f"_c{i}") * F.col(f"_c{i}")
    tot = F.col("txn_count_24h").cast("double")
    return wined.select(
        "event_id",
        "user_id",
        "txn_count_24h",
        (sq.cast("double") / (tot * tot)).alias("hhi_event_type_24h"),
    )


@register(
    "streaming_graph_edges",
    oracle=r"""
SELECT user_id AS src,
       CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS dst,
       COUNT(*) AS n_txn,
       CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS weight
FROM events
GROUP BY user_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
""",
)
def streaming_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming edge-weight state (T4): groupBy(src, dst) aggregation over
    the event stream in COMPLETE mode — the reference's unbounded MapState
    edge table (real_time_processor.py:270-298) as a streaming aggregation.
    Complete-mode output over a bounded stream ≡ the batch groupBy, so the
    oracle applies exactly."""
    src = isolate_events_files(sf_dir)
    from ..sources.tables import stream_events

    raw = stream_events(spark, src)
    edges = (
        raw.withColumn("dst", prop_k_fast())
        .groupBy(F.col("user_id").alias("src"), "dst")
        .agg(
            F.count(F.lit(1)).alias("n_txn"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("weight"),
        )
    )
    name = f"edges_q_{uuid.uuid4().hex[:8]}"
    q = (
        edges.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _run_tmpdir("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_HLL_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS approx_within_bound
FROM events GROUP BY event_type
"""


@register("unique_users_approx_by_type", oracle=_HLL_ORACLE)
def unique_users_approx_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per event type (A6 scale variant,
    2% relative standard deviation declared). Oracle-checked via the
    error contract (r6): the sketch estimate itself is engine-specific,
    so the registered output VALIDATES it against the exact distinct
    count — |approx − exact| ≤ 5·rsd·exact (5 standard deviations; the
    sketch is a deterministic hash of the data, so the boolean is a
    stable relational function of the input). The oracle asserts TRUE
    per type; a broken sketch or mis-wired column flips it. The HLL
    merge is commutative, so results are stable across partitionings."""
    df = load_table(spark, sf_dir, "events")
    agg = df.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("_approx"),
        F.count_distinct("user_id").alias("_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bound = F.lit(5 * 0.02) * F.col("_exact")
    return agg.select(
        "event_type",
        "n_events",
        (F.abs(F.col("_approx") - F.col("_exact")) <= bound).alias(
            "approx_within_bound"
        ),
    )


_ENTROPY_COUNT_W = """WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)"""


def _entropy_oracle() -> str:
    cnt_cols = ",\n  ".join(
        f"CAST(SUM(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) OVER w AS BIGINT)"
        f" AS c{i}"
        for i, c in enumerate(EVENT_TYPE_DOMAIN)
    )
    terms = "\n    + ".join(
        f"(CASE WHEN c{i} > 0 THEN CAST(c{i} AS DOUBLE) * LOG2(CAST(c{i} AS DOUBLE))"
        f" ELSE 0.0 END)"
        for i in range(len(EVENT_TYPE_DOMAIN))
    )
    return f"""
WITH cnts AS (
  SELECT event_id, user_id,
  CAST(COUNT(*) OVER w AS BIGINT) AS tot,
  {cnt_cols}
  FROM events
  {_ENTROPY_COUNT_W}
)
SELECT event_id, user_id, tot AS txn_count_24h,
  ROUND(LOG2(CAST(tot AS DOUBLE))
        - ROUND({terms}, 6) / CAST(tot AS DOUBLE), 6) + 0.0
    AS entropy_event_type_24h
FROM cnts
"""


@register("windowed_entropy_24h", oracle=_entropy_oracle())
def windowed_entropy_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of the event-type mix inside each event's
    trailing 24h window (A11 in its per-window form) — the same
    closed-domain conditional-count decomposition as windowed_hhi_24h
    (shared base, adaptive strategy): exact integer counts; only the
    final log math is double (round-6 contract of the entropy family)."""
    wined = _category_counts_24h(spark, sf_dir)
    term = lambda i: F.when(  # noqa: E731
        F.col(f"_c{i}") > 0,
        F.col(f"_c{i}").cast("double") * F.log2(F.col(f"_c{i}").cast("double")),
    ).otherwise(F.lit(0.0))
    clog = term(0)
    for i in range(1, len(EVENT_TYPE_DOMAIN)):
        clog = clog + term(i)
    tot = F.col("txn_count_24h").cast("double")
    return wined.select(
        "event_id",
        "user_id",
        "txn_count_24h",
        # + 0.0 normalizes IEEE negative zero: single-category frames make
        # LOG2(tot) - clog/tot a tiny negative; DuckDB's ROUND preserves the
        # sign (-0.0) while Spark's yields +0.0, and the driver's value hash
        # distinguishes them. -0.0 + 0.0 = +0.0 in both engines; exact no-op
        # for every other value.
        (F.round(F.log2(tot) - F.round(clog, 6) / tot, 6) + F.lit(0.0)).alias(
            "entropy_event_type_24h"
        ),
    )


_HLL_ROLLUP_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_exact_distinct,
       TRUE AS est_within_bound,
       TRUE AS registers_match
FROM events GROUP BY event_type
"""


@register("hll_rollup_distinct_users", oracle=_HLL_ROLLUP_ORACLE)
def hll_rollup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class HLL registers with day-level rollup
    (operators/sketches.py:hll_registers): registers are built per
    (event_type, day) — the shape a nightly job persists as a tiny
    table — then merged with MAX across days and estimated. Two pins:
    (1) the merged estimate is within 5 standard deviations
    (5·1.04/√4096 ≈ 8.1%) of the exact distinct count the oracle
    computes, and (2) the rolled-up registers are BIT-IDENTICAL to a
    direct single-pass build (MAX is associative), checked
    register-by-register — the property that makes the persisted-sketch
    path sound at 100 TB. All JVM column algebra (xxhash64 + unsigned
    shifts), no Python."""
    from ..operators.sketches import hll_estimate, hll_registers

    p = 12
    df = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    direct = hll_registers(df, ["event_type"], "user_id", p)
    per_day = hll_registers(df, ["event_type", "event_date"], "user_id", p)
    rolled = per_day.groupBy("event_type", "reg_idx").agg(
        F.max("reg_val").alias("reg_val")
    )
    reg_cmp = (
        direct.withColumnRenamed("reg_val", "v_direct")
        .join(
            rolled.withColumnRenamed("reg_val", "v_rolled"),
            ["event_type", "reg_idx"],
            "full_outer",
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    F.col("v_direct").isNull()
                    | F.col("v_rolled").isNull()
                    | (F.col("v_direct") != F.col("v_rolled"))
                ).cast("long")
            ).alias("_n_mismatch")
        )
    )
    est = hll_estimate(rolled, ["event_type"], p)
    exact = df.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact_distinct")
    )
    rsd = 1.04 / (1 << (p // 2))  # 1.04/sqrt(m)
    return (
        exact.join(est, "event_type")
        .join(reg_cmp, "event_type")
        .select(
            "event_type",
            "n_exact_distinct",
            (
                F.abs(F.col("hll_estimate") - F.col("n_exact_distinct"))
                <= F.lit(5 * rsd) * F.col("n_exact_distinct")
            ).alias("est_within_bound"),
            (F.col("_n_mismatch") == 0).alias("registers_match"),
        )
    )
