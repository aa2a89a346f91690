"""Rule-based AML risk model as pure Catalyst column expressions (D1).

Re-expresses the reference's serving-path model (reference:
api/main.py:82-241) — normalize features by threshold capped at 1.0 (F9),
fixed-weight linear score (F10), additive business-rule bumps (F7), clamp
to [0,1] (P9), LOW/MEDIUM/HIGH bucketing — with NO UDF: the whole model is
one Project over the feature row, fully codegen'd, broadcastable to any
feature DataFrame (batch scoring = J1 lookup join + this projection).

Weights/thresholds mirror api/main.py:82-104 feature_weights/thresholds
and :175-200 business rules, adapted to the engine's feature names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# (feature, normalization threshold, weight) — api/main.py:82-97,147-173
RISK_WEIGHTS: list[tuple[str, float, float]] = [
    ("txn_amount_sum_1h", 10000.0, 0.25),
    ("txn_count_1h", 10.0, 0.20),
    ("velocity_score_1h", 2.0, 0.20),
    ("unique_event_type_1h", 5.0, 0.15),
    ("night_txn_ratio_24h", 1.0, 0.20),
]

# additive rule bumps — api/main.py:175-200
RULES: list[tuple[str, float, float]] = [
    ("txn_amount_sum_1h", 10000.0, 0.30),
    ("velocity_score_1h", 1.5, 0.20),
    ("night_txn_count_24h", 3.0, 0.10),
]

BUMP_DEC = "decimal(2,1)"  # the type DuckDB gives the literals 0.3, 0.2, 0.1

LOW_MAX, MEDIUM_MAX = 0.3, 0.6  # api/main.py:100-104


def _norm(col: str, threshold: float) -> Column:
    return F.least(F.col(col) / F.lit(threshold), F.lit(1.0))


def risk_score(df: DataFrame, entity_col: str = "user_id") -> DataFrame:
    """Append risk_score ∈ [0,1] and risk_level to a feature DataFrame."""
    base = F.lit(0.0)
    for col, thr, w in RISK_WEIGHTS:
        base = base + _norm(col, thr) * F.lit(w)
    # the oracle's CASE bumps are DECIMAL literals, so they sum exactly
    # (0.2 + 0.1 is 0.3, not 0.30000000000000004); cast to double once
    zero = F.lit(0).cast(BUMP_DEC)
    bumps = zero
    for col, thr, bump in RULES:
        bumps = bumps + F.when(F.col(col) > thr, F.lit(bump).cast(BUMP_DEC)).otherwise(zero)
    score = F.least(F.greatest(base + bumps.cast("double"), F.lit(0.0)), F.lit(1.0))
    level = (
        F.when(score <= F.lit(LOW_MAX), F.lit("LOW"))
        .when(score <= F.lit(MEDIUM_MAX), F.lit("MEDIUM"))
        .otherwise(F.lit("HIGH"))
    )
    # NOTE: no rounding — the expression tree is deterministic end-to-end,
    # and round() itself diverges between engines at half boundaries
    # (Spark rounds the shortest decimal repr, DuckDB the binary value).
    return df.withColumns({"risk_score": score, "risk_level": level})


def risk_score_sql(feature_source: str) -> str:
    """DuckDB mirror of :func:`risk_score` over a relation providing the
    feature columns — identical expression tree for bit parity."""
    terms = " + ".join(
        f"LEAST({col} / {thr}, 1.0) * {w}" for col, thr, w in RISK_WEIGHTS
    )
    bumps = " + ".join(
        f"(CASE WHEN {col} > {thr} THEN {bump} ELSE 0.0 END)"
        for col, thr, bump in RULES
    )
    return f"""
SELECT *,
  LEAST(GREATEST(({terms}) + ({bumps}), 0.0), 1.0) AS risk_score,
  CASE WHEN LEAST(GREATEST(({terms}) + ({bumps}), 0.0), 1.0) <= {LOW_MAX} THEN 'LOW'
       WHEN LEAST(GREATEST(({terms}) + ({bumps}), 0.0), 1.0) <= {MEDIUM_MAX} THEN 'MEDIUM'
       ELSE 'HIGH' END AS risk_level
FROM ({feature_source})
"""
