"""Trailing-window feature computation (batch) — the engine's workhorse.

Replaces the reference's three divergent per-event/per-row implementations
(reference: flink_job/aml_stream_processor.py:130-201,
flink_job/real_time_processor.py:153-230, notebooks/aml_analysis.ipynb cell 6)
with ONE window-function pass: for every event, aggregates over that
entity's events in the trailing interval ``(ts - W, ts]`` are computed by
``Window.partitionBy(entity).orderBy(epoch_ms).rangeBetween(-W_ms, 0)`` —
no per-row loop, one shuffle on the entity key shared by ALL windows and
ALL metrics (Catalyst collapses same-spec window functions into a single
WindowExec over a single sort).

Semantics decisions (SURVEY.md §2.4):
- stddev is **population** stddev (matches both Flink jobs; the notebook's
  pandas sample-std is the outlier) — A5.
- velocity = count / window_hours — A7 (parameterizable unit).
- window bound is inclusive ``[ts - W, ts]`` in epoch-milliseconds on both
  the engine and the DuckDB oracle side, so frames are bit-identical.

Float determinism (oracle contract): SUM/AVG go through DECIMAL(25,2) so
the result is exact and independent of partition / addition order, then
cast back to DOUBLE. Variance-family stats are computed from exact decimal
sums of x and x**2 then finished in double arithmetic — deterministic
given identical expression trees in Spark and DuckDB.

Scale notes (100 TB): one hash-shuffle on entity key; per-key state is the
sorted partition slice (Spark's WindowExec spills via UnsafeExternalSorter).
Hot keys (the reference injects 20-30% of traffic on 100 hot customers)
are bounded by events-per-key×24h, not table size. Exact windowed distinct
counts use collect_set (memory ∝ distinct per frame) — switch
``distinct_exact=False`` for HLL-sketch approximation at scale.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from decimal import Decimal
from functools import reduce
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Window, functions as F

# canonical window sizes, seconds (reference: real_time_processor.py:157-173
# uses 1m/5m/15m/1h/6h/24h; aml_stream_processor.py:147-149 uses 60s/5m/10m/1h)
WINDOWS_6 = {
    "1m": 60,
    "5m": 300,
    "15m": 900,
    "1h": 3600,
    "6h": 21600,
    "24h": 86400,
}

DEC = "decimal(25,2)"
DEC4 = "decimal(30,4)"


@dataclass
class TrailingWindowSpec:
    """Configuration of a trailing-window feature pass."""

    entity_col: str = "user_id"
    ts_col: str = "ts"
    amount_col: str = "value"
    windows: dict[str, int] = field(default_factory=lambda: dict(WINDOWS_6))
    distinct_cols: tuple[str, ...] = ()  # e.g. ("event_type",) → unique_* feats
    distinct_exact: bool = True
    velocity_unit_s: int = 3600  # denominator unit for velocity (per hour)


@dataclass
class HotBucketSpec:
    """Time-bucketization plan for hot entities (see
    :func:`hot_entity_cuts`): each listed entity's rows are split into
    ``buckets`` fixed-width epoch-ms segments so the scalable trailing
    plan can parallelize a key that would otherwise serialize one task.

    ``ents`` maps entity value → (lo_ms, width_ms). An entity's bucket is
    ``clamp((ms - lo) div width, 0, buckets-1)`` — a deterministic
    monotone function of the row's order key, so equal timestamps always
    share a bucket (range-frame peers are never split) and every row of
    an earlier bucket sorts strictly below every row of a later one.
    Entities not listed ride bucket 0 and are untouched (the plan's
    global bucket id, see ``_bucket_expr``)."""

    buckets: int
    ents: dict


def _ms(ts_col: str) -> Column:
    return F.unix_millis(F.col(ts_col))


def _q(name: str) -> str:
    """Backtick-quoted column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def trailing_features(df: DataFrame, spec: TrailingWindowSpec) -> DataFrame:
    """Append ``{metric}_{window}`` columns for every event row.

    Metrics per window W (reference names, feature_repo/definitions.py:32-41):
    txn_count, txn_amount_sum, avg_txn_amount, max_txn_amount,
    min_txn_amount, std_txn_amount (population), velocity_score,
    unique_{col} for each distinct col.
    """
    # materialize the order key once: if every frame orders by the SAME
    # attribute, EnsureRequirements drops the redundant per-Window sorts
    # (one Exchange + one Sort feed all WindowExec nodes).
    #
    # The ~42 window expressions are built as SQL strings and shipped in
    # ONE selectExpr call (r12, guide §5 driver work): the Column-by-
    # Column spelling cost ~460 py4j round-trips ≈ 0.65 s of driver wall
    # PER PLAN BUILD at steady state — pure socket latency, re-paid on
    # every invocation. The strings parse to the identical expression
    # trees (pytest-pinned bit-equal vs the Column spelling; all
    # fractional literals carry the D suffix so they stay DOUBLE — a
    # bare 0.02 parses as DECIMAL(2,2)).
    out = df.withColumn("_ts_ms", _ms(spec.ts_col))
    amt = _q(spec.amount_col)
    amt_dec = f"CAST({amt} AS {DEC})"
    amt_sq_dec = f"CAST(({amt} * {amt}) AS {DEC4})"
    exprs = ["*"]
    for wname, wsecs in spec.windows.items():
        w = (
            f"OVER (PARTITION BY {_q(spec.entity_col)} ORDER BY _ts_ms "
            f"RANGE BETWEEN {wsecs * 1000} PRECEDING AND CURRENT ROW)"
        )
        n = f"count(1) {w}"
        s = f"CAST(sum({amt_dec}) {w} AS DOUBLE)"
        s2 = f"CAST(sum({amt_sq_dec}) {w} AS DOUBLE)"
        mean = f"({s} / {n})"
        # population variance via E[x^2] - E[x]^2 on exact sums
        var = f"greatest({s2} / {n} - {mean} * {mean}, 0.0D)"
        vel = repr(wsecs / spec.velocity_unit_s)
        exprs += [
            f"{n} AS {_q(f'txn_count_{wname}')}",
            f"{s} AS {_q(f'txn_amount_sum_{wname}')}",
            f"{mean} AS {_q(f'avg_txn_amount_{wname}')}",
            f"max({amt}) {w} AS {_q(f'max_txn_amount_{wname}')}",
            f"min({amt}) {w} AS {_q(f'min_txn_amount_{wname}')}",
            f"round(sqrt({var}), 6) AS {_q(f'std_txn_amount_{wname}')}",
            f"CAST({n} AS DOUBLE) / {vel}D AS {_q(f'velocity_score_{wname}')}",
        ]
        for dcol in spec.distinct_cols:
            if spec.distinct_exact:
                dexpr = f"CAST(size(collect_set({_q(dcol)}) {w}) AS BIGINT)"
            else:
                dexpr = f"approx_count_distinct({_q(dcol)}, 0.02D) {w}"
            exprs.append(f"{dexpr} AS {_q(f'unique_{dcol}_{wname}')}")
    return out.selectExpr(*exprs).drop("_ts_ms")


def _bucket_expr(hb: HotBucketSpec) -> Column:
    """``_b`` column, the GLOBAL bucket id: ``1 + i·buckets +
    clamp((_ms - lo) div width, 0, buckets-1)`` for the i-th hot entity
    of ``hb.ents``, 0 for every other row (a NULL key never equals a
    literal, so it rides 0 too). Deterministic and monotone in the order
    key within an entity, so equal timestamps always co-bucket; and one
    id names one (entity, bucket), so every carry is a plain array
    lookup by ``_b`` with no CASE over the entities.

    The entity match is the only per-entity Column (one ``F.lit`` each):
    entity values never pass through SQL text, where a string such as
    ``${x}`` would meet the parser's variable substitution."""
    nb = hb.buckets
    b = F.lit(0)
    for i, (e, (lo, width)) in enumerate(hb.ents.items()):
        local = f"greatest(0, least({nb - 1}, (_ms - {lo}L) div {width}L))"
        b = F.when(
            F.col("_ent") == F.lit(e), F.expr(f"CAST({1 + i * nb} + {local} AS INT)")
        ).otherwise(b)
    return b


def _files_sig(df: DataFrame) -> tuple:
    """Signature of the plan's input files: (path, size, mtime_ns) per
    file. Sizes feed the stats-sampling threshold; the whole tuple keys
    persisted indexes so data rewritten at the same paths is not served
    from a stale build. Non-local URIs get (path, -1, -1) entries."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return ()
    sig = []
    for p in files:
        parsed = urlparse(p)
        if parsed.scheme in ("file", ""):
            try:
                st = os.stat(parsed.path or p)
                sig.append((p, st.st_size, st.st_mtime_ns))
                continue
            except OSError:
                pass
        sig.append((p, -1, -1))
    return tuple(sig)


def _jdiv(a: int, b: int) -> int:
    """Integer division with Spark/SQL ``div`` semantics (truncation
    toward zero). Python ``//`` floors, which diverges on negative
    operands — the driver-side carry fold must bucket edge positions
    with EXACTLY the arithmetic of the plan's ``div`` expressions or a
    pre-1970 timestamp (negative epoch-ms) silently drops an extrema
    carry."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _hot_carry_literals(
    df: DataFrame,
    spec: TrailingWindowSpec,
    hb: HotBucketSpec,
) -> dict:
    """Cross-bucket carry state of the bucketized scalable plan, folded
    on the driver from ONE hot-filtered aggregate (plus one marker
    aggregate when the spec has distinct columns) at plan build. Bounded
    by construction: per hot entity, ``buckets`` running sums plus, per
    window, the extrema of the single chunk crossing each bucket edge
    (a chunk is an interval, so exactly one chunk contains any given
    edge). The collect is ≤ hot entities × buckets rows — at warehouse
    scale cap the span/window ratio or raise ``buckets`` width, never
    unbounded in the table size.

    Exactness: DECIMAL sums are folded with ``decimal.Decimal`` (exact,
    associative — bit-equal to any grouping); counts/markers are ints;
    extrema are IEEE doubles compared with Python ``max``/``min``
    (NaN-free domain — the operator's amount column contract).

    Returns lists indexed by the global bucket id ``_b`` of
    :func:`_bucket_expr` (index 0, every non-hot row, carries 0 / NULL):
    ``{"s"/"n"/"s2": exclusive bucket-prefix sums, "mk": {tag: marker
    prefix}, "ext": {window: (ck_lo, ck_hi, px, pn, sx, sn)} — the
    bucket's lower/upper edge-chunk ids and the carry extrema that apply
    iff the row's chunk equals that edge chunk}`` plus ``"amt_t"``, the
    amount column's Spark type (the stitch types its extrema arrays with
    it so a decimal amount never coerces to double).

    Collect bound (r11, VERDICT/ADVICE): the aggregate groups by the
    bucket ONLY — ≤ cap × buckets rows regardless of the span/window
    ratio. Extrema ride conditional aggregates restricted to the chunk
    containing the row's own bucket's lower/upper edge; the driver fold
    re-attributes them across buckets: rows of bucket b' < b inside
    chunk ck_lo(b) are exactly the rows of the own-upper-edge aggregate
    of b' when ck_hi(b') == ck_lo(b) (a chunk is an interval — holding a
    point of bucket b' and the edge of bucket b ≥ b'+1 means it holds
    edge b'+1 too), and symmetrically for the suffix side. An earlier
    variant grouped by every window's chunk id jointly, whose group
    count was span/narrowest-window per entity — unbounded in the span,
    a driver OOM risk at exactly the scale this machinery targets."""
    nb = hb.buckets
    n_ent = len(hb.ents)
    size = 1 + n_ent * nb
    ent_buckets = [range(1 + i * nb, 1 + (i + 1) * nb) for i in range(n_ent)]
    # edge-chunk ids per global bucket; _jdiv, not //: must match the
    # plan's `div` (trunc-to-zero)
    edges = {}
    for wname, wsecs in spec.windows.items():
        wms_ = wsecs * 1000
        ck_lo: list = [None]
        ck_hi: list = [None]
        for lo, width in hb.ents.values():
            ck_lo += [_jdiv(lo + b * width, wms_) for b in range(nb)]
            ck_hi += [_jdiv(lo + (b + 1) * width, wms_) for b in range(nb)]
        edges[wname] = (ck_lo, ck_hi)
    base = (
        df.filter(F.col(spec.entity_col).isin(list(hb.ents)))
        .select(
            F.col(spec.entity_col).alias("_ent"),
            F.col("event_id"),
            _ms(spec.ts_col).alias("_ms"),
            F.col(spec.amount_col).alias("_amt"),
            *[F.col(d).alias(f"_v_{d}") for d in spec.distinct_cols],
        )
        .withColumn("_b", _bucket_expr(hb))
    )
    amt_t = dict(base.dtypes)["_amt"]
    edge_amt = {}
    for wname, wsecs in spec.windows.items():
        ck = f"_ms div {wsecs * 1000}"
        for side, arr in zip(("l", "h"), edges[wname]):
            edge_amt[f"_{side}a_{wname}"] = F.expr(
                f"CASE WHEN {ck} = {_at_bucket(arr, 'bigint')} THEN _amt END"
            )
    agg_exprs = [
        F.sum(F.col("_amt").cast(DEC)).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("_amt") * F.col("_amt")).cast(DEC4)).alias("_s2"),
    ]
    for wname in spec.windows:
        agg_exprs += [
            F.max(f"_la_{wname}").alias(f"_lx_{wname}"),
            F.min(f"_la_{wname}").alias(f"_ln_{wname}"),
            F.max(f"_ha_{wname}").alias(f"_hx_{wname}"),
            F.min(f"_ha_{wname}").alias(f"_hn_{wname}"),
        ]
    grouped = {
        r["_b"]: r
        for r in base.withColumns(edge_amt).groupBy("_b").agg(*agg_exprs).collect()
    }
    s_arr: list = [Decimal(0)]
    n_arr: list = [0]
    s2_arr: list = [Decimal(0)]
    for bs in ent_buckets:
        rs, rn, r2 = Decimal(0), 0, Decimal(0)
        for b in bs:
            s_arr.append(rs)
            n_arr.append(rn)
            s2_arr.append(r2)
            r = grouped.get(b)
            if r is not None:
                if r["_s"] is not None:
                    rs += r["_s"]
                rn += r["_n"]
                if r["_s2"] is not None:
                    r2 += r["_s2"]

    def extreme(pick, rows, key):
        vals = [r[key] for r in rows if r[key] is not None]
        return pick(vals) if vals else None

    ext = {}
    for wname in spec.windows:
        ck_lo, ck_hi = edges[wname]
        px: list = [None] * size
        pn: list = [None] * size
        sx: list = [None] * size
        sn: list = [None] * size
        for bs in ent_buckets:
            for b in bs:
                before = [
                    grouped[b2] for b2 in bs
                    if b2 < b and b2 in grouped and ck_hi[b2] == ck_lo[b]
                ]
                after = [
                    grouped[b2] for b2 in bs
                    if b2 > b and b2 in grouped and ck_lo[b2] == ck_hi[b]
                ]
                px[b] = extreme(max, before, f"_hx_{wname}")
                pn[b] = extreme(min, before, f"_hn_{wname}")
                sx[b] = extreme(max, after, f"_lx_{wname}")
                sn[b] = extreme(min, after, f"_ln_{wname}")
        ext[wname] = (ck_lo, ck_hi, px, pn, sx, sn)
    mk: dict[str, list] = {}
    if spec.distinct_cols:
        legs = []
        for d in spec.distinct_cols:
            prev = F.lag("_ms").over(
                Window.partitionBy("_ent", f"_v_{d}").orderBy("_ms", "event_id")
            )
            pc = base.withColumn("_prev", prev).filter(
                F.col(f"_v_{d}").isNotNull()
            )
            structs = []
            for wname, wsecs in spec.windows.items():
                wms_ = wsecs * 1000
                start = F.when(
                    F.col("_prev").isNull(), F.col("_ms")
                ).otherwise(
                    F.greatest(F.col("_ms"), F.col("_prev") + F.lit(wms_ + 1))
                )
                tag = F.lit(f"{wname}::{d}")
                structs.append(
                    F.struct(start.alias("m"), tag.alias("t"), F.lit(1).alias("v"))
                )
                structs.append(
                    F.struct(
                        (F.col("_ms") + F.lit(wms_ + 1)).alias("m"),
                        tag.alias("t"),
                        F.lit(-1).alias("v"),
                    )
                )
            legs.append(
                pc.select("_ent", F.explode(F.array(*structs)).alias("_m"))
                .select(
                    "_ent",
                    F.col("_m.m").alias("_ms"),
                    F.col("_m.t").alias("_mtag"),
                    F.col("_m.v").alias("_mval"),
                )
            )
        mall = reduce(lambda a, b: a.unionByName(b), legs)
        per = {
            (r["_b"], r["_mtag"]): r["_mv"]
            for r in mall.withColumn("_b", _bucket_expr(hb))
            .groupBy("_b", "_mtag")
            .agg(F.sum("_mval").alias("_mv"))
            .collect()
        }
        for wname in spec.windows:
            for d in spec.distinct_cols:
                tag = f"{wname}::{d}"
                arr: list = [0]
                for bs in ent_buckets:
                    run = 0
                    for b in bs:
                        arr.append(run)
                        run += per.get((b, tag)) or 0
                mk[tag] = arr
    return {
        "s": s_arr, "n": n_arr, "s2": s2_arr, "ext": ext, "mk": mk, "amt_t": amt_t,
    }


# stitched-sum literal types: one sum-aggregate step above DEC/DEC4
_SUM_T = "decimal(35,2)"
_SUM2_T = "decimal(38,4)"


def _at_bucket(vals: list, t: str) -> str:
    """``vals[_b]`` as SQL text: one string literal split and cast to
    ``array<t>``, looked up by the global bucket id. It parses to three
    nodes that constant-fold into ONE array Literal, so neither the
    build (no py4j round-trip per element, as ``F.lit(list)`` makes) nor
    Catalyst (no per-element child) pays per bucket. Casts are exact:
    Decimal text, ints, and the shortest round-tripping double repr;
    an empty field is NULL (``try_cast``; every other field is valid
    by construction)."""
    text = ",".join(
        "" if v is None
        else format(v, "f") if isinstance(v, Decimal)
        else repr(v) if isinstance(v, float)
        else str(int(v))
        for v in vals
    )
    return f"element_at(try_cast(split('{text}', ',') AS array<{t}>), _b + 1)"


def _stitch_exprs(
    spec: TrailingWindowSpec,
    carry: dict,
    tags: list[tuple[str, str]],
) -> dict[str, Column]:
    """Global-stitch expressions for the bucketized plan, one SQL-text
    expression per stitched column: sums add their exclusive
    bucket-prefix (array lookup by ``_b``; 0 for non-hot rows — every
    downstream read of these columns already coalesces empty frames to
    0, so the null→0 degrade is value-identical); extrema take the
    null-skipping ``greatest/least`` of (local, carry), where the carry
    applies only when the row's chunk is the bucket-edge chunk. An
    extremum column with no carry in any bucket is left as it is
    (``greatest(x, NULL)`` is ``x``)."""
    cy_s = _at_bucket(carry["s"], _SUM_T)
    cy_n = _at_bucket(carry["n"], "bigint")
    cy_s2 = _at_bucket(carry["s2"], _SUM2_T)
    glob = {}
    for end in ("i", "e"):
        glob[f"_cs_{end}"] = f"coalesce(_cs_{end}, CAST(0 AS {_SUM_T})) + {cy_s}"
        glob[f"_cn_{end}"] = f"_cn_{end} + {cy_n}"
        glob[f"_c2_{end}"] = f"coalesce(_c2_{end}, CAST(0 AS {_SUM2_T})) + {cy_s2}"
    for wname, d in tags:
        col = f"_cd_{wname}_{d}"
        glob[col] = f"{_q(col)} + {_at_bucket(carry['mk'][f'{wname}::{d}'], 'bigint')}"
    amt_t = carry["amt_t"]
    for wname, wsecs in spec.windows.items():
        ck_lo, ck_hi, px, pn, sx, sn = carry["ext"][wname]
        for col, fn, edge, vals in (
            (f"_pmx_{wname}", "greatest", ck_lo, px),
            (f"_pmn_{wname}", "least", ck_lo, pn),
            (f"_smx_{wname}", "greatest", ck_hi, sx),
            (f"_smn_{wname}", "least", ck_hi, sn),
        ):
            if all(v is None for v in vals):
                continue
            at_edge = f"_ms div {wsecs * 1000} = {_at_bucket(edge, 'bigint')}"
            glob[col] = (
                f"{fn}({_q(col)}, "
                f"CASE WHEN {at_edge} THEN {_at_bucket(vals, amt_t)} END)"
            )
    return {c: F.expr(e) for c, e in glob.items()}


def trailing_features_scalable(
    df: DataFrame,
    spec: TrailingWindowSpec,
    hot_buckets: HotBucketSpec | None = None,
) -> DataFrame:
    """Full-metric big-frame strategy: every ``trailing_features`` metric
    except windowed distincts in O(rows), independent of frame width.

    - count/sum/avg/std/velocity: cumulative DECIMAL sums of x and x² with
      one shadow probe per (event, window) at ts−W; frame value =
      cum_incl(t) − cum_excl(probe) (both unbounded-preceding frames,
      incrementally maintained by WindowExec — never O(frame) per row).
    - min/max (non-invertible): the two-level sliding-extrema
      decomposition. Chunk each entity's timeline into W-wide blocks
      (chunk = ms div W); a trailing frame [t−W, t] always spans exactly
      the suffix of chunk(t)−1 from t−W plus the prefix of chunk(t) up to
      t. Both pieces are unbounded-preceding running extrema — the prefix
      over (entity, chunk) ascending read at the event row, the suffix
      over (entity, chunk) descending read at the probe row — so the
      frame extremum is ``greatest/least`` of two O(1)-per-row columns.
    - exact windowed distinct counts (spec.distinct_cols): the
      previous-occurrence interval decomposition. An event is the FIRST
      occurrence of its value inside frame(t) iff prev(ms) < t−W ≤ ms ≤ t,
      i.e. for t in the interval [max(ms, prev+W+1), ms+W] — so
      distinct(t) is interval stabbing: a ``+1`` marker row at the
      interval start, a ``−1`` marker at end+1, and the running marker
      sum read at the event row. prev comes from one lag over
      (entity, value); the markers ride the SAME cumulative-sum sort as
      the invertible metrics. Exact, O(rows), no per-frame set. (The
      collect_set path excludes NULL values; null-valued rows emit no
      markers to match.)

    One hash exchange on the entity (the chunked windows' clustering is
    satisfied by the coarser hashpartitioning(entity)); 1 + 2·|windows|
    local sorts over the (1 + |windows| + 2·|windows|·|distinct_cols|)×
    marker/probe union. Results are bit-identical to
    :func:`trailing_features` (exact decimal sums; same finishing
    expression trees) — property-tested. Only ``distinct_exact=True`` is
    supported here (per-frame HLL sketches are not decomposable; the
    approx path stays on WindowExec).

    ``hot_buckets`` (r10): even the O(rows) plan serializes each entity
    in ONE task — a key owning 25% of a 100-TB log would put 25 TB
    through a single sort/scan. With a :class:`HotBucketSpec`, the hot
    entities' rows are range-split by time into ``buckets`` segments and
    every window partitions by ``(entity, bucket)`` (and chunk), so the
    hot key's sorts/scans parallelize across the cluster. The
    cross-bucket state is bounded — ≤ buckets running sums per entity,
    plus per window the one chunk that crosses each bucket edge — so it
    is computed ONCE at plan build by a driver-side fold over one
    hot-filtered aggregate and stitched back as LITERAL array lookups
    keyed by the global bucket id (one id per (entity, bucket), so no
    CASE over the entities). The stitch ships as SQL text, one
    expression per column, so the build's py4j work is flat in the
    bucket count:

    - cumulative sums/counts/markers: ``local + exclusive_prefix[b]``
      (exact ``decimal.Decimal``/int addition on the driver — DECIMAL
      addition is associative, so the stitched sums are bit-equal to
      the single-task ones);
    - chunk extrema: a carry applies only when the row's chunk is the
      one containing the bucket's lower (asc) / upper (desc) edge —
      ``greatest/least(local, carry[b])`` with null-skipping semantics,
      so empty carries degrade to the local value.

    An earlier variant delivered carries as broadcast JOINS; that
    dragged ~19 extra columns through all seven window sorts and blew
    the fused stage's codegen (A/B: 23-316 s vs this design's ~5 s at
    the skew anchor). Literal stitching keeps the sort payload at one
    extra int and adds no joins, no extra scans at execution time.

    Bucket boundaries cut only between distinct timestamps (bucket id is
    a monotone function of ``_ms``), so range-frame peers are never
    split and "all earlier buckets" is exactly "all strictly-preceding
    rows". Non-hot entities ride bucket 0 with empty carries — their
    values come out of the identical expression tree with the carry legs
    defaulted away. Bit-equivalence incl. ties/markers is pytest-pinned.
    """
    if spec.distinct_cols and not spec.distinct_exact:
        raise ValueError(
            "per-frame HLL sketches are not decomposable into cumulative "
            "markers; use trailing_features for distinct_exact=False"
        )
    ms = _ms(spec.ts_col)
    base = df.select(
        F.col(spec.entity_col).alias("_ent"),
        F.col("event_id"),
        ms.alias("_ms"),
        F.col(spec.amount_col).alias("_amt"),
        *[F.col(d).alias(f"_v_{d}") for d in spec.distinct_cols],
    )
    for d in spec.distinct_cols:
        base = base.withColumn(
            f"_prev_{d}",
            F.lag("_ms").over(
                Window.partitionBy("_ent", f"_v_{d}").orderBy("_ms", "event_id")
            ),
        )
    mk_tags = [
        (wname, wsecs, d)
        for wname, wsecs in spec.windows.items()
        for d in spec.distinct_cols
    ]
    shape = ["_ent", "event_id", "_ms", "_amt", "_win", "_mtag", "_mval"]
    real = base.select(
        "_ent",
        "event_id",
        "_ms",
        "_amt",
        F.lit(None).cast("string").alias("_win"),
        F.lit(None).cast("string").alias("_mtag"),
        F.lit(0).alias("_mval"),
    )
    # probe _amt nulls carry the amount column's own type: a hardcoded
    # double here would coerce the whole union (and so every extremum /
    # sum input) to double for decimal amounts
    amt_t = dict(base.dtypes)["_amt"]
    shadows = None
    for wname, wsecs in spec.windows.items():
        s = base.select(
            "_ent",
            "event_id",
            (F.col("_ms") - F.lit(wsecs * 1000)).alias("_ms"),
            F.lit(None).cast(amt_t).alias("_amt"),
            F.lit(wname).alias("_win"),
            F.lit(None).cast("string").alias("_mtag"),
            F.lit(0).alias("_mval"),
        )
        shadows = s if shadows is None else shadows.unionByName(s)
    u = real.unionByName(shadows)
    for d in spec.distinct_cols:
        # ±1 interval markers per (event, window) for this distinct col:
        # the value is "new in frame(t)" for t in [max(ms, prev+W+1), ms+W]
        structs = []
        for wname, wsecs in spec.windows.items():
            wms = wsecs * 1000
            start = F.when(
                F.col(f"_prev_{d}").isNull(), F.col("_ms")
            ).otherwise(
                F.greatest(F.col("_ms"), F.col(f"_prev_{d}") + F.lit(wms + 1))
            )
            tag = F.lit(f"{wname}::{d}")
            structs.append(
                F.struct(start.alias("m"), tag.alias("t"), F.lit(1).alias("v"))
            )
            structs.append(
                F.struct(
                    (F.col("_ms") + F.lit(wms + 1)).alias("m"),
                    tag.alias("t"),
                    F.lit(-1).alias("v"),
                )
            )
        markers = (
            base.filter(F.col(f"_v_{d}").isNotNull())
            .select(F.col("_ent"), F.explode(F.array(*structs)).alias("_m"))
            .select(
                "_ent",
                F.lit(None).cast("long").alias("event_id"),
                F.col("_m.m").alias("_ms"),
                F.lit(None).cast(amt_t).alias("_amt"),
                F.lit("__mk").alias("_win"),
                F.col("_m.t").alias("_mtag"),
                F.col("_m.v").alias("_mval"),
            )
        )
        u = u.unionByName(markers.select(*shape))
    amt_dec = F.when(F.col("_win").isNull(), F.col("_amt")).cast(DEC)
    amt2_dec = F.when(
        F.col("_win").isNull(), F.col("_amt") * F.col("_amt")
    ).cast(DEC4)
    cnt_flag = F.when(F.col("_win").isNull(), 1).otherwise(0)
    tags = [
        (wname, d) for wname in spec.windows for d in spec.distinct_cols
    ]
    bucketized = hot_buckets is not None and bool(hot_buckets.ents)
    if bucketized:
        carry = _hot_carry_literals(df, spec, hot_buckets)
        u = u.withColumn("_b", _bucket_expr(hot_buckets))
        u = u.repartition("_ent", "_b")
        part = ["_ent", "_b"]
    else:
        u = u.repartition("_ent")
        part = ["_ent"]

    wcum = Window.partitionBy(*part).orderBy("_ms")
    incl = wcum.rangeBetween(Window.unboundedPreceding, 0)
    excl = wcum.rangeBetween(Window.unboundedPreceding, -1)
    cols = {
        "_cs_i": F.sum(amt_dec).over(incl),
        "_cn_i": F.sum(cnt_flag).over(incl),
        "_c2_i": F.sum(amt2_dec).over(incl),
        "_cs_e": F.sum(amt_dec).over(excl),
        "_cn_e": F.coalesce(F.sum(cnt_flag).over(excl), F.lit(0)),
        "_c2_e": F.sum(amt2_dec).over(excl),
    }
    for wname in spec.windows:
        for d in spec.distinct_cols:
            cols[f"_cd_{wname}_{d}"] = F.sum(
                F.when(F.col("_mtag") == f"{wname}::{d}", F.col("_mval")).otherwise(0)
            ).over(incl)
    for wname, wsecs in spec.windows.items():
        ck = F.expr(f"_ms div {wsecs * 1000}")
        asc = (
            Window.partitionBy(*part, ck)
            .orderBy("_ms")
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        desc = (
            Window.partitionBy(*part, ck)
            .orderBy(F.col("_ms").desc())
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        cols[f"_pmx_{wname}"] = F.max("_amt").over(asc)
        cols[f"_pmn_{wname}"] = F.min("_amt").over(asc)
        cols[f"_smx_{wname}"] = F.max("_amt").over(desc)
        cols[f"_smn_{wname}"] = F.min("_amt").over(desc)
    cum = u.withColumns(cols)
    if bucketized:
        cum = cum.withColumns(_stitch_exprs(spec, carry, tags))
    cum = cum.filter(F.col("_win").isNull() | (F.col("_win") != "__mk"))

    isreal = F.col("_win").isNull()
    agg_exprs = [
        F.max(F.when(isreal, F.col("_cs_i"))).alias("_at_s"),
        F.max(F.when(isreal, F.col("_cn_i"))).alias("_at_n"),
        F.max(F.when(isreal, F.col("_c2_i"))).alias("_at_s2"),
        *[
            F.max(F.when(isreal, F.col(f"_cd_{wname}_{d}"))).alias(
                f"_cd_{wname}_{d}"
            )
            for wname in spec.windows
            for d in spec.distinct_cols
        ],
    ]
    for wname in spec.windows:
        isw = F.col("_win") == wname
        agg_exprs += [
            F.max(
                F.when(isw, F.coalesce(F.col("_cs_e"), F.lit(0).cast(DEC)))
            ).alias(f"_bs_{wname}"),
            F.max(F.when(isw, F.col("_cn_e"))).alias(f"_bn_{wname}"),
            F.max(
                F.when(isw, F.coalesce(F.col("_c2_e"), F.lit(0).cast(DEC4)))
            ).alias(f"_b2_{wname}"),
            F.max(F.when(isw, F.col(f"_smx_{wname}"))).alias(f"_sx_{wname}"),
            F.min(F.when(isw, F.col(f"_smn_{wname}"))).alias(f"_sn_{wname}"),
            F.max(F.when(isreal, F.col(f"_pmx_{wname}"))).alias(f"_px_{wname}"),
            F.min(F.when(isreal, F.col(f"_pmn_{wname}"))).alias(f"_pn_{wname}"),
        ]
    out = cum.groupBy("_ent", "event_id").agg(*agg_exprs)
    for wname, wsecs in spec.windows.items():
        n = F.col("_at_n") - F.col(f"_bn_{wname}")
        s = (
            F.coalesce(F.col("_at_s"), F.lit(0).cast(DEC)) - F.col(f"_bs_{wname}")
        ).cast("double")
        s2 = (
            F.coalesce(F.col("_at_s2"), F.lit(0).cast(DEC4)) - F.col(f"_b2_{wname}")
        ).cast("double")
        mean = s / n
        var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
        out = out.withColumns(
            {
                f"txn_count_{wname}": n,
                f"txn_amount_sum_{wname}": s,
                f"avg_txn_amount_{wname}": mean,
                f"max_txn_amount_{wname}": F.greatest(
                    F.col(f"_px_{wname}"), F.col(f"_sx_{wname}")
                ),
                f"min_txn_amount_{wname}": F.least(
                    F.col(f"_pn_{wname}"), F.col(f"_sn_{wname}")
                ),
                f"std_txn_amount_{wname}": F.round(F.sqrt(var), 6),
                f"velocity_score_{wname}": n.cast("double")
                / F.lit(wsecs / spec.velocity_unit_s),
                **{
                    f"unique_{d}_{wname}": F.col(f"_cd_{wname}_{d}").cast("long")
                    for d in spec.distinct_cols
                },
            }
        )
    keep = [F.col("_ent").alias(spec.entity_col), "event_id"] + [
        c
        for wname in spec.windows
        for c in (
            f"txn_count_{wname}",
            f"txn_amount_sum_{wname}",
            f"avg_txn_amount_{wname}",
            f"max_txn_amount_{wname}",
            f"min_txn_amount_{wname}",
            f"std_txn_amount_{wname}",
            f"velocity_score_{wname}",
            *[f"unique_{d}_{wname}" for d in spec.distinct_cols],
        )
    ]
    return out.select(*keep)


# frame rows above which the O(rows) plans beat WindowExec; on local[4]
# trailing's crossover lies between 27.6 and 31.7 (tools/route_sweep.py)
AUTO_FRAME_ROWS_THRESHOLD = 32

_route_log = logging.getLogger("aml_feature_store_spark.route")

# per-entity row count above which even the O(rows) scalable plan's
# single-task-per-entity execution dominates the query and the hot
# entity gets time-bucketized (the skew anchor's hot key owns 250k of
# 1M events; uniform corpora never cross this)
HOT_TASK_ROWS_THRESHOLD = 100_000
HOT_BUCKETS = 64

# Above this much input, the routing stats passes run on a seeded 1% ROW
# sample instead of the full table (the full groupBy(entity) pass is one
# cheap job at anchor scale but a real cost at warehouse scale). Row- —
# not entity- — sampling is deliberate: a 1% entity sample would MISS the
# one hot entity 99% of the time, while a 1% row sample keeps ~1000 rows
# of any entity big enough to cross HOT_TASK_ROWS_THRESHOLD (±10% at 3σ).
# 512 MB keeps every committed bench anchor (sf10 events = 194 MB) on the
# full pass, so router decisions there are pinned unchanged.
STATS_SAMPLE_BYTES = 512 * 1024 * 1024
STATS_SAMPLE_FRAC = 0.01
STATS_SAMPLE_SEED = 73
# sampled-path noise floor: entities with fewer sampled rows than this
# are dropped from the density estimate (≈800+ true rows — smaller
# entities cannot meaningfully cross any routing threshold, and a
# 1-sampled-row entity would otherwise scale to a spurious est of 1/frac)
_STATS_SAMPLE_MIN_ROWS = 8


def _stats_source(df: DataFrame, sample: bool | None) -> tuple[DataFrame, float]:
    """(stats frame, count multiplier) for the routing stats passes.
    ``sample=None`` auto-engages the 1% sample above STATS_SAMPLE_BYTES
    of (local) input; True/False force it either way (tests pin
    sample-vs-full routing agreement on the skew anchor)."""
    if sample is None:
        total = 0
        for _, size, _ in _files_sig(df):
            total += max(size, 0)
        sample = total > STATS_SAMPLE_BYTES
    if not sample:
        return df, 1.0
    return (
        df.sample(STATS_SAMPLE_FRAC, seed=STATS_SAMPLE_SEED),
        1.0 / STATS_SAMPLE_FRAC,
    )


def _entity_stats(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_s: int,
    min_rows: int = HOT_TASK_ROWS_THRESHOLD,
    cap: int = 32,
    sample: bool | None = None,
) -> tuple[float, float, list]:
    """The routing stats pass: ONE groupBy(entity) → (count, min ms,
    max ms) and ONE ``.first()`` over it holding every routing
    statistic, so the router pays a single aggregate for all decisions.
    With fₑ = cₑ × min(window / spanₑ, 1), the frame rows of entity e:

    - ``max``: the DENSEST entity's frame rows, max fₑ — what one
      WindowExec task revisits per row (the pit router's statistic).
    - ``mean``: the rows-weighted mean frame rows Σ cₑ·fₑ / Σ cₑ — the
      frame rows WindowExec revisits per row over the whole input (the
      trailing routers' statistic).
    - ``hot``: the ≤ ``cap`` entities with count ≥ ``min_rows``, as
      (−count, entity, min ms, max ms) structs sorted ascending, i.e. by
      count descending with ties broken by entity. The collect before
      the slice holds ≤ rows / ``min_rows`` entries.

    On the sampled path (:func:`_stats_source`) counts scale by the
    inverse fraction and entities with < _STATS_SAMPLE_MIN_ROWS sampled
    rows add nothing to ``max`` nor to the mean's numerator (scaling a
    1-row sample would fabricate density), but their rows still count
    in the mean's denominator; the hot filter is the scaled count
    alone."""
    stats_df, inv = _stats_source(df, sample)
    ms_col = F.unix_millis(F.col(ts_col))
    per = stats_df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("c"),
        F.min(ms_col).alias("mn"),
        F.max(ms_col).alias("mx"),
    )
    dens = (
        F.col("c")
        * F.lit(inv)
        * F.least(
            F.lit(float(window_s * 1000))
            / F.greatest((F.col("mx") - F.col("mn")).cast("double"), F.lit(1.0)),
            F.lit(1.0),
        )
    )
    if inv != 1.0:
        dens = F.when(F.col("c") >= _STATS_SAMPLE_MIN_ROWS, dens)
    hot = F.when(
        F.col("c") * F.lit(inv) >= min_rows,
        F.struct(
            (-F.col("c")).alias("nc"),
            F.col(entity_col).alias("ent"),
            F.col("mn"),
            F.col("mx"),
        ),
    )
    row = per.agg(
        F.max(dens).alias("est"),
        (F.sum(F.col("c") * dens) / F.sum("c")).alias("mean"),
        F.slice(F.sort_array(F.collect_list(hot)), 1, cap).alias("hot"),
    ).first()
    return float(row["est"] or 0.0), float(row["mean"] or 0.0), row["hot"] or []


def _hot_spec(hot: list, window_max_s: int, buckets: int) -> HotBucketSpec | None:
    """Fixed-width time cuts for the hot entities of :func:`_entity_stats`.
    The span is padded by the widest window so shadow probes (ms − W) and
    interval markers (ms + W + 1) land inside the cut range; the bucket
    expression clamps anyway, which only affects balance, never
    correctness (bucket id stays monotone in ms)."""
    if not hot:
        return None
    pad = window_max_s * 1000 + 1
    ents = {}
    for r in hot:
        lo = int(r["mn"]) - pad
        hi = int(r["mx"]) + pad + 1
        ents[r["ent"]] = (lo, max(1, (hi - lo + buckets - 1) // buckets))
    return HotBucketSpec(buckets=buckets, ents=ents)


def hot_entity_cuts(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_max_s: int,
    min_rows: int = HOT_TASK_ROWS_THRESHOLD,
    buckets: int = HOT_BUCKETS,
    cap: int = 32,
    sample: bool | None = None,
) -> HotBucketSpec | None:
    """Detect entities whose row count would serialize a single task and
    compute their fixed-width time cuts (the :func:`_entity_stats` pass;
    driver result bounded by ``cap``). Returns None when no entity
    crosses ``min_rows``.

    At warehouse scale the pass runs on a 1% row sample (see
    :func:`_stats_source`): a hot entity keeps ~min_rows/100 sampled
    rows, counts scale by the inverse fraction, and the sample min/max
    shrink the span by ~span/samples — far less than the window pad
    already applied. Cuts are a LOAD-BALANCING plan, never a
    correctness surface: any (lo, width) yields bit-identical results
    (pytest-pinned), so sampling noise only moves bucket edges."""
    hot = _entity_stats(
        df, entity_col, ts_col, window_max_s, min_rows, cap, sample
    )[2]
    return _hot_spec(hot, window_max_s, buckets)


def estimate_frame_rows(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_s: int,
    sample: bool | None = None,
) -> float:
    """One cheap stats pass (:func:`_entity_stats`) → expected rows per
    trailing frame of the DENSEST entity (per-entity rows ×
    window/per-entity-span, maxed).

    The pit router reads this max: the as-of join computes one window,
    so one hot entity's WindowExec task decides its wall. The trailing
    routers read the rows-weighted mean (:func:`_entity_stats`), which
    a skewed key still dominates (the skew anchor's hot key owns 25% of
    the log: mean 2082 against max 8328) but a few hot entities in a
    sparse log do not. At warehouse scale (input > STATS_SAMPLE_BYTES,
    or ``sample=True``) the pass runs on a 1% row sample: counts scale
    by 1/frac, entities with < _STATS_SAMPLE_MIN_ROWS sampled rows are
    dropped (they cannot cross a routing threshold), and the shrunk
    sample span only
    OVERestimates density — erring toward the O(rows) plan, the safe
    direction since both strategies are bit-identical."""
    return _entity_stats(df, entity_col, ts_col, window_s, sample=sample)[0]


def _dense_route(
    op: str, df: DataFrame, entity_col: str, ts_col: str, window_s: int,
    by_max: bool = False, threshold: float | None = None,
    min_rows: int = HOT_TASK_ROWS_THRESHOLD,
) -> tuple[bool, list]:
    """(True for the O(rows) plan, hot list) off one stats pass: the
    densest entity's (``by_max``) or the rows-weighted mean frame rows
    against ``threshold`` (default AUTO_FRAME_ROWS_THRESHOLD at call
    time), logged as one DEBUG record on ``_route_log``."""
    if threshold is None:
        threshold = AUTO_FRAME_ROWS_THRESHOLD
    mx, mean, hot = _entity_stats(df, entity_col, ts_col, window_s, min_rows)
    dense = (mx if by_max else mean) > threshold
    _route_log.debug(
        "%s route=%s max_frame_rows=%.2f mean_frame_rows=%.2f threshold=%s",
        op, "scalable" if dense else "window", mx, mean, threshold,
    )
    return dense, hot


def trailing_features_auto(
    df: DataFrame,
    spec: TrailingWindowSpec,
    frame_rows_threshold: int | None = None,
    hot_rows_threshold: int = HOT_TASK_ROWS_THRESHOLD,
) -> DataFrame:
    """Adaptive physical strategy for the trailing-window operator: one
    cheap stats pass estimates the widest window's rows-weighted mean
    frame rows (Σ cₑ·fₑ / Σ cₑ, see :func:`_entity_stats`) and picks
    WindowExec (small frames — one sort, no probe blowup) or the O(rows)
    cumsum/chunked-extrema strategy (wide frames — WindowExec's per-row
    frame recompute dominates). The mean, not the densest entity, is
    the statistic because WindowExec's cost is the frame rows it
    revisits for each row over the whole input: two hot users at 66
    frame rows in a log whose mean is 14.5 run about 2× faster on
    WindowExec. Both
    strategies are bit-identical (property-tested), so the choice is
    purely physical — the Catalyst-style decision Spark cannot make
    itself because it has no frame-density statistics.

    Falls back to :func:`trailing_features` only for approximate
    windowed distincts (per-frame HLL is not marker-decomposable); exact
    distincts ride the scalable plan's interval markers.

    The same pass also lists the entities big enough to serialize one
    task (``hot_rows_threshold``); on the scalable path those are
    time-bucketized so their windows parallelize across the cluster —
    see ``trailing_features_scalable(hot_buckets=...)``.

    ``frame_rows_threshold`` defaults to ``AUTO_FRAME_ROWS_THRESHOLD``,
    read at call time (the constant every density router shares).
    """
    if spec.distinct_cols and not spec.distinct_exact:
        return trailing_features(df, spec)
    w = max(spec.windows.values())
    dense, hot = _dense_route(
        "trailing_features_auto", df, spec.entity_col, spec.ts_col, w,
        threshold=frame_rows_threshold, min_rows=hot_rows_threshold,
    )
    if not dense:
        return trailing_features(df, spec)
    return trailing_features_scalable(
        df, spec, hot_buckets=_hot_spec(hot, w, HOT_BUCKETS)
    )


def trailing_flag_counts(
    df: DataFrame,
    flags: dict[str, Column],
    window_s: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Trailing counts of arbitrary boolean flag expressions (plus the
    total count) over one window. Returns (id, entity, cnt, <flag>...)
    with ``cnt`` the frame row count and each flag column its
    conditional count.

    The density router picks the plan, like :func:`trailing_features_auto`
    (rows-weighted mean frame rows vs ``AUTO_FRAME_ROWS_THRESHOLD``, read
    at call time: its WindowExec cost is the frame rows revisited per
    row, summed over the input); both plans are bit-identical:

    - sparse frames: one WindowExec of conditional sums over the range
      frame (one Exchange + one Sort);
    - dense frames: the cum+probe strategy specialized to integer
      indicator sums (conditional counts are invertible, so no extrema
      machinery is needed) — O(rows), independent of frame width.
    """
    names = list(flags)
    dense, _ = _dense_route(
        "trailing_flag_counts", df, entity_col, ts_col, window_s
    )
    if not dense:
        w = (
            Window.partitionBy(entity_col)
            .orderBy(_ms(ts_col))
            .rangeBetween(-window_s * 1000, 0)
        )
        return df.select(
            F.col(id_col),
            F.col(entity_col),
            F.count(F.lit(1)).over(w).alias("cnt"),
            *[F.sum(F.when(flags[n], 1).otherwise(0)).over(w).alias(n) for n in names],
        )
    ms = _ms(ts_col)
    base = df.select(
        F.col(entity_col).alias("_ent"),
        F.col(id_col).alias("_id"),
        ms.alias("_ms"),
        F.lit(1).alias("_one"),
        *[flags[n].cast("int").alias(f"_f_{n}") for n in names],
    )
    real = base.withColumn("_probe", F.lit(0))
    probe = base.select(
        "_ent",
        "_id",
        (F.col("_ms") - F.lit(window_s * 1000)).alias("_ms"),
        F.lit(0).alias("_one"),
        *[F.lit(0).alias(f"_f_{n}") for n in names],
    ).withColumn("_probe", F.lit(1))
    u = real.unionByName(probe).repartition("_ent")
    wcum = Window.partitionBy("_ent").orderBy("_ms")
    incl = wcum.rangeBetween(Window.unboundedPreceding, 0)
    excl = wcum.rangeBetween(Window.unboundedPreceding, -1)
    metrics = ["_one"] + [f"_f_{n}" for n in names]
    cum = u.withColumns(
        {
            **{f"_ci{c}": F.sum(c).over(incl) for c in metrics},
            **{
                f"_ce{c}": F.coalesce(F.sum(c).over(excl), F.lit(0))
                for c in metrics
            },
        }
    )
    is_real = F.col("_probe") == 0
    agg = cum.groupBy("_ent", "_id").agg(
        *[F.max(F.when(is_real, F.col(f"_ci{c}"))).alias(f"_at{c}") for c in metrics],
        *[F.max(F.when(~is_real, F.col(f"_ce{c}"))).alias(f"_b{c}") for c in metrics],
    )
    out_cols = {"cnt": F.col("_at_one") - F.col("_b_one")}
    for n in names:
        out_cols[n] = F.col(f"_at_f_{n}") - F.col(f"_b_f_{n}")
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("_ent").alias(entity_col),
        *[c.alias(n) for n, c in out_cols.items()],
    )


def trailing_sums_scalable_oracle(
    spec: TrailingWindowSpec, table: str = "events"
) -> str:
    """Oracle: the PLAIN range-frame formulation — the cumsum strategy must
    produce identical values, that is the whole point."""
    parts = []
    for wname, wsecs in spec.windows.items():
        wdef = (
            f"(PARTITION BY {spec.entity_col} ORDER BY epoch_ms({spec.ts_col}) "
            f"RANGE BETWEEN {wsecs * 1000} PRECEDING AND CURRENT ROW)"
        )
        a = spec.amount_col
        n = f"COUNT(*) OVER {wdef}"
        s = f"CAST(SUM(CAST({a} AS DECIMAL(25,2))) OVER {wdef} AS DOUBLE)"
        parts += [
            f"{n} AS txn_count_{wname}",
            f"{s} AS txn_amount_sum_{wname}",
            f"({s}) / ({n}) AS avg_txn_amount_{wname}",
            f"CAST({n} AS DOUBLE) / {wsecs / spec.velocity_unit_s} "
            f"AS velocity_score_{wname}",
        ]
    return (
        f"SELECT e.{spec.entity_col}, e.event_id,\n  "
        + ",\n  ".join(parts)
        + f"\nFROM {table} e"
    )


def trailing_features_sql_oracle(spec: TrailingWindowSpec, table: str = "events") -> str:
    """The DuckDB-equivalent SQL for :func:`trailing_features` (ANSI window
    frames over epoch-ms), used by __spark_entry__.oracle_sql."""
    parts = []
    for wname, wsecs in spec.windows.items():
        wdef = (
            f"(PARTITION BY {spec.entity_col} ORDER BY epoch_ms({spec.ts_col}) "
            f"RANGE BETWEEN {wsecs * 1000} PRECEDING AND CURRENT ROW)"
        )
        a = spec.amount_col
        n = f"COUNT(*) OVER {wdef}"
        s = f"CAST(SUM(CAST({a} AS DECIMAL(25,2))) OVER {wdef} AS DOUBLE)"
        s2 = f"CAST(SUM(CAST({a}*{a} AS DECIMAL(30,4))) OVER {wdef} AS DOUBLE)"
        mean = f"({s}) / ({n})"
        var = f"GREATEST(({s2}) / ({n}) - ({mean}) * ({mean}), 0.0)"
        parts += [
            f"{n} AS txn_count_{wname}",
            f"{s} AS txn_amount_sum_{wname}",
            f"{mean} AS avg_txn_amount_{wname}",
            f"MAX({a}) OVER {wdef} AS max_txn_amount_{wname}",
            f"MIN({a}) OVER {wdef} AS min_txn_amount_{wname}",
            f"ROUND(SQRT({var}), 6) AS std_txn_amount_{wname}",
            f"CAST({n} AS DOUBLE) / {wsecs / spec.velocity_unit_s} "
            f"AS velocity_score_{wname}",
        ]
        for dcol in spec.distinct_cols:
            # DuckDB lacks DISTINCT window aggregates; equivalent trick:
            # count rows that are the first occurrence of their value within
            # reach of the frame is not expressible either — use a correlated
            # scalar subquery (fine at oracle scale, not the engine's plan).
            parts.append(
                f"(SELECT COUNT(DISTINCT e2.{dcol}) FROM {table} e2 "
                f"WHERE e2.{spec.entity_col} = e.{spec.entity_col} "
                f"AND epoch_ms(e2.{spec.ts_col}) BETWEEN "
                f"epoch_ms(e.{spec.ts_col}) - {wsecs * 1000} "
                f"AND epoch_ms(e.{spec.ts_col})) AS unique_{dcol}_{wname}"
            )
    select = ",\n  ".join(parts)
    return (
        f"SELECT e.event_id, e.{spec.entity_col},\n  {select}\n"
        f"FROM {table} e"
    )
