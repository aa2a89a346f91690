"""Deduplication operators for training-data pipelines (SURVEY §2.11 X1/X2).

Four strategies, all pure DataFrame plans:

- **exact**: hash-groupBy on content digest (X1).
- **n-gram Jaccard**: word-3-gram shingles → inverted-index self-join →
  exact Jaccard on candidate pairs.
- **MinHash + LSH**: md5-derived shingle hash → k min-hash signatures →
  banded buckets → candidate pairs → exact-Jaccard verification. The md5
  base hash makes the whole pipeline engine-portable (the DuckDB oracle
  reproduces it bit-for-bit) and deterministic across runs/cluster sizes.
- **SimHash**: 32-bit sign-aggregated fingerprint; near-dup = Hamming ≤ r.

Scale notes (100 TB): the inverted-index join explodes on high-frequency
shingles — MinHash-LSH is the scale path (candidates ∝ true near-dups,
not pairs). Signatures are one groupBy over exploded shingles; banding is
a second groupBy. Both partial-aggregate map-side. SimHash pair scan is
O(n²) here for exactness; at scale, band the fingerprint bytes the same
way LSH bands signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .graph import MAX_ROUNDS, connected_components

# MinHash parameters (shared with the oracle SQL — keep literal)
MINHASH_K = 16
LSH_BANDS = 8  # 2 rows per band
MINHASH_P = 2147483647
MINHASH_A = [
    1048573, 2097143, 4194301, 8388593, 1610612741, 805306457, 402653189,
    201326611, 100663319, 50331653, 25165843, 12582917, 6291469, 3145739,
    1572869, 786433,
]
MINHASH_B = [
    12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869, 3145739,
    6291469, 12582917, 25165843, 50331653, 100663319, 201326611, 402653189,
]

SHINGLE_N = 3

_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"


def _shingle_array_expr():
    """The per-row DISTINCT word-3-gram shingle SET as an array column
    (expects ``_toks`` to be materialized on the row already)."""
    return F.expr(
        f"""CASE WHEN size(_toks) >= {SHINGLE_N} THEN
              array_distinct(
                transform(sequence(0, size(_toks) - {SHINGLE_N}),
                          i -> concat_ws(' ', _toks[i], _toks[i+1], _toks[i+2])))
            ELSE array() END"""
    )


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, _ar) with _ar = the document's distinct shingle SET as an
    array — the un-exploded twin of :func:`shingles`, shuffle-free.
    Row size is bounded by the document's shingle count (one ~20-byte
    string per distinct 3-gram); a pathological single document of 10⁶
    tokens yields a ~20 MB row, comfortably inside Spark's 2 GB row
    bound — same order as the blowup the exploded form produces per
    candidate pair."""
    return docs.withColumn("_toks", F.expr(_TOKS)).select(
        F.col(id_col), _shingle_array_expr().alias("_ar")
    )


def shingles(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct word-3-gram shingles per document: (id, shingle).

    The token array is materialized ONCE per row before the n-gram
    transform — inlining the split/filter into the lambda would
    re-tokenize the text for every shingle element (measured 6× slower).
    Per-document dedup happens with array_distinct BEFORE the explode —
    (id, shingle) uniqueness needs no global distinct, so the whole
    operator is shuffle-free.
    """
    return docs.withColumn("_toks", F.expr(_TOKS)).select(
        F.col(id_col), F.explode(_shingle_array_expr()).alias("shingle")
    )


def shingles_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB CTE body producing the identical (id, shingle) relation."""
    return f"""
  SELECT DISTINCT {id_col},
         toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)] || ' '
           || toks[CAST(i+2 AS INT)] AS shingle
  FROM (SELECT {id_col},
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '') AS toks
        FROM {table}) t,
       LATERAL (SELECT unnest(range(1, greatest(len(toks) - {SHINGLE_N - 2}, 1))) AS i) u
"""


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                content_col: str = "text") -> DataFrame:
    """Exact duplicate grouping by content digest (X1): every row annotated
    with its group digest, group size, and canonical flag (min id wins)."""
    w = Window.partitionBy("content_md5")
    return docs.select(
        F.col(id_col),
        F.md5(content_col).alias("content_md5"),
    ).select(
        id_col,
        "content_md5",
        F.count(F.lit(1)).over(w).alias("dup_group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_canonical"),
    )


def exact_dedup_sql(table: str = "documents", id_col: str = "doc_id",
                    content: str = "text") -> str:
    return f"""
SELECT {id_col}, md5({content}) AS content_md5,
       COUNT(*) OVER (PARTITION BY md5({content})) AS dup_group_size,
       {id_col} = MIN({id_col}) OVER (PARTITION BY md5({content})) AS is_canonical
FROM {table}
"""


def jaccard_pairs(sh: DataFrame, threshold: float = 0.5,
                  id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs via inverted-index self-join."""
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy(F.col(id_col)).agg(F.count(F.lit(1)).alias("n"))
    j = (
        inter.join(sizes.withColumnsRenamed({id_col: "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({id_col: "d2", "n": "n2"}), "d2")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "d1", "d2", "n_common", "jaccard"
    )


def jaccard_pairs_docs(docs: DataFrame, threshold: float = 0.5,
                       id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs from the raw document table —
    output-identical to ``jaccard_pairs(shingles(docs))`` (pytest-pinned)
    with two structural wins (r12, guide §2.3/§3.2):

    - every exploded (id, shingle) row carries its document's
      distinct-shingle count ``n`` for free (``size`` of the shingle
      array BEFORE the explode — no groupBy, no join), so the two
      post-aggregate size joins and the extra groupBy(id) pass of the
      generic path disappear (n1/n2 ride the pair-aggregate key, on
      which they are functionally dependent);
    - a SIZE PRE-FILTER drops candidate pairs before the (d1, d2)
      aggregate: a pair's best achievable jaccard is
      ``min(n1,n2) / max(n1,n2)`` (reached at n_common = min), computed
      with the same double division as the final jaccard column —
      jaccard is monotone in n_common and double division of growing
      exact-integer quotients is monotone, so every dropped pair would
      have failed the final ``>= threshold`` filter bit-for-bit.
      Sub-threshold skew pairs (one giant doc sharing shingles with many
      small ones) die before the aggregate instead of after it.

    Precondition: ``id_col`` values are unique. Each row is one document
    carrying its own shingle count ``n``, and ``n`` is part of the pair
    aggregate key; two rows sharing an id split that id's pairs into one
    output row per row-size combination, with counts that match neither
    row nor their union. Deduplicate ids before calling.
    """
    # Three plan-shape traps, each measured before this landed:
    # - n is materialized in its OWN projection below the Generate:
    #   size() next to explode() in one select lands ABOVE the Generate
    #   and rebuilds the whole shingle array once per EXPLODED row (O(n²)
    #   per doc — 10.3 s vs 0.6 s per side at sf0.1);
    # - the array expression goes RAW into explode(): aliasing it to a
    #   column first triggers InferFiltersFromGenerate (the rule skips
    #   expensive generator children but fires on plain attributes) and
    #   pushes a size>0 filter to the scan with the transform re-inlined;
    # - text is pinned NON-NULL first: the final jaccard>=t filter's
    #   isnotnull constraints otherwise propagate down to n = size(...)
    #   and land in the scan filter with _toks inlined — every shingle
    #   element re-splitting the text (~3 regex splits per element,
    #   23.3 s vs 3.6 s at sf0.1). A null text produces zero shingle
    #   rows on both spellings, so the coalesce is value-invisible.
    ex = (
        docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .withColumn("_toks", F.expr(_TOKS))
        .select(
            F.col(id_col),
            F.size(_shingle_array_expr()).alias("n"),
            "_toks",
        )
        .select(
            F.col(id_col),
            "n",
            F.explode(_shingle_array_expr()).alias("shingle"),
        )
    )
    a = ex.select(F.col(id_col).alias("d1"), F.col("n").alias("n1"), "shingle")
    b = ex.select(F.col(id_col).alias("d2"), F.col("n").alias("n2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (
                F.least("n1", "n2").cast("double")
                / F.greatest("n1", "n2").cast("double")
                >= F.lit(threshold)
            )
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    j = inter.withColumn(
        "jaccard",
        F.col("n_common").cast("double")
        / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "d1", "d2", "n_common", "jaccard"
    )


def jaccard_pairs_sql(threshold: float = 0.5, table: str = "documents") -> str:
    return f"""
WITH s AS ({shingles_sql(table)}),
inv AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id)
SELECT d1, d2, n_common,
       CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
FROM inv JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= {threshold}
"""


# --- MinHash + LSH -----------------------------------------------------------

_H_SPARK = "cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"
_H_DUCK = "CAST(CAST(CONCAT('0x', substr(md5(shingle), 1, 8)) AS UBIGINT) AS BIGINT)"


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """k=16 min-hash signature columns sig0..sig15 per document."""
    h = F.expr(_H_SPARK)
    withh = sh.withColumn("_h", h)
    aggs = [
        F.min((F.col("_h") * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P).alias(
            f"sig{i}"
        )
        for i in range(MINHASH_K)
    ]
    return withh.groupBy(F.col(id_col)).agg(*aggs)


def _exact_collapse(docs: DataFrame, id_col: str = "doc_id",
                    content_col: str = "text"):
    """(members, reps) for exact-duplicate pre-collapse (r8 hot-bucket
    mitigation). Identical text ⇒ identical shingle set ⇒ identical
    MinHash signature ⇒ identical band buckets and identical Jaccard to
    every other document — so LSH over one representative per distinct
    text plus a post-hoc expansion is EXACTLY the all-docs computation,
    while candidate generation and shingle verification become quadratic
    in REPRESENTATIVES, not documents. This is the adversary where one
    band bucket holds 25% of the corpus as exact copies (every LLM-scale
    dedup pipeline runs exact dedup before fuzzy dedup for this reason);
    chosen over band salting / hot-bucket caps because it is lossless.

    members: (id, _ck content digest, _rep = min id of the exact group);
    reps: the full docs rows of the representatives."""
    mem = docs.select(F.col(id_col), F.md5(F.col(content_col)).alias("_ck"))
    grp = mem.groupBy("_ck").agg(F.min(id_col).alias("_rep"))
    members = mem.join(grp, "_ck").select(id_col, "_ck", "_rep")
    reps = docs.join(
        members.filter(F.col(id_col) == F.col("_rep")).select(id_col), id_col
    )
    return members, reps


def _has_exact_dups(docs: DataFrame, id_col: str = "doc_id",
                    content_col: str = "text") -> bool:
    """One cheap aggregate deciding whether the exact-dup pre-collapse
    pays for itself (r9, VERDICT #4): at a uniform corpus with no exact
    duplicates the collapse's md5-group join plus the intra-pair _ck
    self-join add ~2 shuffles that buy nothing (~0.5 s at sf0.1, ~2 s at
    the 100x anchor). count(id) vs count(distinct md5(text)) is a single
    map-side-combinable scan — O(rows) with a bounded driver-side result
    — and EXACT (approx_count_distinct could under-count and silently
    skip a needed collapse). NULL texts hash to NULL, which the distinct
    count ignores, so >=2 NULL-text docs conservatively report "has
    dups" and take the collapse path (which handles them correctly)."""
    row = docs.agg(
        F.count(F.col(id_col)).alias("n"),
        F.count_distinct(F.md5(F.col(content_col))).alias("d"),
    ).first()
    return (row["n"] or 0) != (row["d"] or 0)


def _shingled_reps(reps: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Representatives whose text yields at least one shingle (≥ 3
    tokens). Groups below that produce NO signature/band rows, so the
    uncollapsed pipeline never pairs them — the expansion must mirror
    that, or identical two-word docs would gain pairs the oracle lacks."""
    return reps.withColumn("_toks", F.expr(_TOKS)).filter(
        F.size("_toks") >= SHINGLE_N
    ).select(F.col(id_col).alias("_rep"))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5,
                      id_col: str = "doc_id",
                      has_exact_dups: bool | None = None) -> DataFrame:
    """LSH candidate pairs (any identical band) verified with exact Jaccard.

    Returns (d1, d2, est_sim, jaccard) for verified pairs ≥ threshold.
    est_sim = fraction of the 16 signature components that agree.

    Execution (r8): exact-duplicate pre-collapse (see _exact_collapse) —
    the banding/verify pipeline runs on one representative per distinct
    text, then pairs expand back: intra-group pairs are emitted directly
    (est_sim = jaccard = 1 by identity, gated on the group having
    shingles), cross-group pairs inherit their representative pair's
    exact values. Output is provably identical to running the pipeline
    over all documents; the oracle is unchanged.

    A corpus with NO exact duplicates (the common uniform case) skips
    the collapse entirely — one cheap guard aggregate (_has_exact_dups)
    routes straight to the banding pipeline, where every doc is its own
    representative, the intra branch is vacuously empty, and the member
    expansion is the identity. Equivalence is pytest-pinned both ways.

    NOTE — this function is EAGER when ``has_exact_dups`` is None: the
    guard aggregate runs a Spark job (one O(rows) scan, bounded driver
    result) at plan-BUILD time, and the path choice is frozen into the
    returned plan. Callers that already know the corpus (or want a lazy
    plan) pass ``has_exact_dups`` explicitly and skip the guard scan;
    True is always safe (the collapse is lossless), False is only
    correct for a corpus with no two identical non-NULL texts and at
    most one NULL text."""
    if has_exact_dups is None:
        has_exact_dups = _has_exact_dups(docs, id_col)
    if not has_exact_dups:
        return _rep_lsh_pairs(docs, threshold, id_col)
    members, reps = _exact_collapse(docs, id_col)
    members = members.cache()
    rep_pairs = _rep_lsh_pairs(reps, threshold, id_col)
    shingled = _shingled_reps(reps, id_col)
    eligible = members.join(shingled, members["_rep"] == shingled["_rep"]
                            ).select(members[id_col], "_ck")
    x = eligible.select(F.col(id_col).alias("d1"), "_ck")
    y = eligible.select(F.col(id_col).alias("d2"), "_ck")
    intra = (
        x.join(y, "_ck")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            F.lit(1.0).alias("est_sim"), F.lit(1.0).alias("jaccard"),
        )
    )
    m1 = members.select(F.col("_rep").alias("_r1"), F.col(id_col).alias("_m1"))
    m2 = members.select(F.col("_rep").alias("_r2"), F.col(id_col).alias("_m2"))
    cross = (
        rep_pairs.withColumnsRenamed({"d1": "_r1", "d2": "_r2"})
        .join(m1, "_r1")
        .join(m2, "_r2")
        .select(
            F.least("_m1", "_m2").alias("d1"),
            F.greatest("_m1", "_m2").alias("d2"),
            "est_sim",
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def minhash_dedup_labels(docs: DataFrame, threshold: float = 0.5,
                         id_col: str = "doc_id",
                         has_exact_dups: bool | None = None) -> DataFrame:
    """Corpus dedup labels (component = min reachable id, is_canonical)
    over the COLLAPSED exact-dup graph (r8): star-contraction components
    run on representative pairs only, then every member inherits its
    representative's component — exact, because each member is jaccard-1
    connected to its representative and the representative is already its
    group's min id. A 25%-of-corpus exact-dup cluster costs O(cluster)
    here instead of the O(cluster²) expanded pair graph. Members of
    shingle-less groups (< 3 tokens ⇒ no bands ⇒ no pairs) label
    themselves, mirroring the uncollapsed semantics.

    As in minhash_lsh_pairs, a corpus with no exact duplicates skips the
    collapse via the _has_exact_dups guard and runs star contraction
    over the full doc set directly (identical output: every doc is its
    own exact group). Like that function this one is EAGER when
    ``has_exact_dups`` is None — the guard aggregate runs a Spark job at
    plan-build time (the downstream star contraction runs driver-paced
    jobs anyway); pass the flag to skip the scan (True always safe)."""
    if has_exact_dups is None:
        has_exact_dups = _has_exact_dups(docs, id_col)
    if not has_exact_dups:
        return near_dup_components(
            docs, _rep_lsh_pairs(docs, threshold, id_col), id_col
        )
    members, reps = _exact_collapse(docs, id_col)
    members = members.cache()
    rep_pairs = _rep_lsh_pairs(reps, threshold, id_col)
    rep_labels = near_dup_components(reps, rep_pairs, id_col)
    shingled = _shingled_reps(reps, id_col).withColumn("_sh", F.lit(True))
    lab = (
        members.join(shingled, "_rep", "left")
        .join(
            rep_labels.select(F.col(id_col).alias("_rep"),
                              F.col("component").alias("_rc")),
            "_rep",
        )
        .select(
            F.col(id_col),
            F.when(F.col("_sh"), F.col("_rc")).otherwise(F.col(id_col))
            .alias("component"),
        )
    )
    return lab.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def _rep_lsh_pairs(docs: DataFrame, threshold: float = 0.5,
                   id_col: str = "doc_id") -> DataFrame:
    """The banding → candidate → exact-Jaccard-verify pipeline (runs on
    exact-dup representatives; see minhash_lsh_pairs)."""
    # sig is re-read by several downstream branches (banding and the
    # signature-agreement join) — persist it or Spark recomputes the
    # whole shingle+minhash pipeline once per branch. The exploded
    # (id, shingle) relation itself feeds ONLY the signature build since
    # the r11 array-verify rewrite, so it no longer needs its own cache.
    sh = shingles(docs, id_col)
    sig = minhash_signatures(sh, id_col).cache()
    rows_per_band = MINHASH_K // LSH_BANDS
    # one pass per doc: explode an array of (band_id, band_sig) structs
    # instead of an 8-way union (which would be 8 pipeline replays)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"sig{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    bands = sig.select(
        F.col(id_col), F.explode(band_structs).alias("_b")
    ).select(id_col, F.col("_b.band_id").alias("band_id"), F.col("_b.band_sig").alias("band_sig"))
    l = bands.select(F.col(id_col).alias("d1"), "band_id", "band_sig")
    r = bands.select(F.col(id_col).alias("d2"), "band_id", "band_sig")
    cand = (
        l.join(r, ["band_id", "band_sig"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    # exact-Jaccard verify restricted to CANDIDATE pairs only (the whole
    # point of LSH). r11 (guide §2.3 shuffle fewer bytes): the verify
    # joins per-doc shingle SETS as ARRAYS — two id-joins + an in-row
    # array_intersect — instead of exploding candidates against the
    # (id, shingle) relation (cand·|doc| skinny rows through a shuffle +
    # a (d1,d2) hash-agg + two more size joins). Under the gray
    # adversary (~0.8M junk candidates × ~50 shingles) the old shape
    # shuffled ~40M rows to verify; this shape shuffles the candidate
    # list twice. The intersect counts the SAME distinct-string sets, so
    # jaccard is bit-identical.
    sharr = shingle_arrays(docs, id_col)
    a1 = sharr.select(F.col(id_col).alias("d1"), F.col("_ar").alias("_ar1"))
    a2 = sharr.select(F.col(id_col).alias("d2"), F.col("_ar").alias("_ar2"))
    true_j = (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .withColumn("_nc", F.size(F.array_intersect("_ar1", "_ar2")))
        # zero-overlap candidates are dropped HERE, exactly as the
        # pre-r11 exploded-join shape dropped them (its inner join on
        # shingle never emitted them): with any threshold > 0 the final
        # filter made this a no-op, but a caller passing threshold <= 0
        # must not receive pairs the old pipeline never produced (r12,
        # ADVICE r11)
        .filter(F.col("_nc") > 0)
        .select(
            "d1",
            "d2",
            (
                F.col("_nc").cast("double")
                / (
                    F.size("_ar1") + F.size("_ar2") - F.col("_nc")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    # est_sim joins the two 16-component signature rows per pair — the
    # WIDEST per-candidate work in the pipeline. Verify first, attach est
    # to SURVIVORS only (r8): under the gray adversary (sub-threshold
    # near-clique: banding admits ~0.8M candidate pairs, verification
    # rejects every one) the wide join then touches ~5k rows instead of
    # ~0.8M. Output-identical — est_sim is only ever emitted for pairs
    # that pass the jaccard threshold.
    keep = true_j.filter(F.col("jaccard") >= threshold)
    s1 = sig.select(
        F.col(id_col).alias("d1"), *[F.col(f"sig{i}").alias(f"a{i}") for i in range(MINHASH_K)]
    )
    s2 = sig.select(
        F.col(id_col).alias("d2"), *[F.col(f"sig{i}").alias(f"b{i}") for i in range(MINHASH_K)]
    )
    est = F.lit(0)
    for i in range(MINHASH_K):
        est = est + F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
    return (
        keep.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1", "d2",
            (est.cast("double") / MINHASH_K).alias("est_sim"),
            "jaccard",
        )
    )


def minhash_lsh_pairs_sql(threshold: float = 0.5, table: str = "documents") -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    sig_exprs = ",\n         ".join(
        f"MIN((h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(MINHASH_K)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, {concat} AS band_sig FROM sig".format(
            b=b,
            concat=" || ':' || ".join(
                f"CAST(sig{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(LSH_BANDS)
    )
    est = " + ".join(
        f"(CASE WHEN s1.sig{i} = s2.sig{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    return f"""
WITH s AS ({shingles_sql(table)}),
hashed AS (SELECT doc_id, {_H_DUCK} AS h FROM s),
sig AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hashed GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
),
inv AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
jac AS (
  SELECT d1, d2,
         CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
  FROM inv JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
)
SELECT c.d1, c.d2,
       CAST({est} AS DOUBLE) / {MINHASH_K} AS est_sim,
       j.jaccard
FROM cand c
JOIN sig s1 ON c.d1 = s1.doc_id
JOIN sig s2 ON c.d2 = s2.doc_id
JOIN jac j ON c.d1 = j.d1 AND c.d2 = j.d2
WHERE j.jaccard >= {threshold}
"""


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document from shingle hashes (sign aggregation)."""
    sh = shingles(docs, id_col).withColumn("_h", F.expr(_H_SPARK))
    aggs = [
        F.sum(
            F.when(F.expr(f"shiftright(_h, {j}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per = sh.groupBy(F.col(id_col)).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per.select(F.col(id_col), fp.alias("simhash"))


SIMHASH_BANDS = 8  # 8 bands x 4 bits; exact for max_hamming < 8 (pigeonhole)


def simhash_pairs(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING,
                  id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ r via band-bucketed candidate
    generation + exact Hamming verify — no cartesian pair scan.

    Pigeonhole: r differing bits corrupt at most r of the B bands, so any
    pair within Hamming r shares ≥ B - r identical bands; with B = 8 > r = 6
    every qualifying pair lands in some shared (band_id, band_val) bucket.
    Candidate volume is Σ_bucket |bucket|² over 8×16 buckets instead of n²
    — the scale path named in Manku et al.'s simhash dedup scheme, same
    struct-explode single-pass shape as the MinHash LSH banding above.
    """
    assert max_hamming < SIMHASH_BANDS, "banding is exact only for r < B"
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    # both sides of the candidate join derive from the fingerprints; cache
    # them or the shingle->32-sum pipeline runs twice (fingerprints are one
    # long per doc — negligible memory at any scale)
    fp = simhash_fingerprints(docs, id_col).cache()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.expr(f"shiftright(simhash, {i * width}) & {mask}").alias(
                    "band_val"
                ),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    bands = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("b")
    ).select(id_col, "simhash", "b.band_id", "b.band_val")
    a = bands.select(
        F.col(id_col).alias("d1"), F.col("simhash").alias("h1"),
        "band_id", "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("d2"), F.col("simhash").alias("h2"),
        "band_id", "band_val",
    )
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def simhash_pairs_sql(max_hamming: int = SIMHASH_MAX_HAMMING,
                      table: str = "documents") -> str:
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH s AS ({shingles_sql(table)}),
hashed AS (SELECT doc_id, {_H_DUCK} AS h FROM s),
per AS (
  SELECT doc_id,
         {sums}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM per)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# --- near-dup connected components ------------------------------------------


def near_dup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = MAX_ROUNDS,
) -> DataFrame:
    """Connected components over the near-dup pair graph — the step that
    turns pair detection into corpus dedup: every document gets a
    ``component`` label (the minimum doc id reachable through near-dup
    ``(d1, d2)`` edges; singletons label themselves) and ``is_canonical``
    marks the one kept representative per cluster.

    The components come from :func:`graph.connected_components` (star
    contraction); this step only left-joins ``docs`` to its labels.
    """
    comps = connected_components(pairs, "d1", "d2", max_rounds)
    component = F.least(F.col("node"), F.coalesce(F.col("comp"), F.col("node")))
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(comps, "node", "left")
        .select(
            F.col("node").alias(id_col),
            component.alias("component"),
            (F.col("node") == component).alias("is_canonical"),
        )
    )


def near_dup_components_sql(threshold: float = 0.5, table: str = "documents") -> str:
    """Recursive-CTE oracle: transitive closure over the pair graph, then
    component = min reachable id (DuckDB evaluates the closure exactly at
    oracle scale; the engine plan is the star contraction above)."""
    pairs = minhash_lsh_pairs_sql(threshold, table)
    return f"""
WITH RECURSIVE p AS (SELECT d1, d2 FROM ({pairs}) _mh),
edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS component,
       d.doc_id = LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS is_canonical
FROM {table} d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
"""


def duplicated_span_coverage(docs: DataFrame, n: int = 8,
                             id_col: str = "doc_id") -> DataFrame:
    """Duplicated n-gram SPAN coverage per document — the C4 / RefinedWeb
    span-dedup signal: what fraction of a document's word n-grams also
    occur elsewhere in the corpus (or again in the same document).

    Plan: one JVM-side explode of per-position n-gram spans
    (sequence+transform+slice — no Python in the hot path), a corpus-wide
    groupBy counting occurrences, and a join back to tag each position.
    At 100 TB: hash spans to 64-bit (xxhash64) before the shuffle to cut
    shuffle bytes ~10×, let partial aggregation collapse repeats map-side,
    and broadcast the duplicated-only span set when it fits (it is the
    heavy-tail minority by construction). Exact string keys kept here for
    oracle parity at test scale.

    Reference anchor: the reference dedups whole documents only
    (SURVEY §2.11 X1/X2); span coverage is the standard extension a
    training-data pipeline needs (C4 §2.3 three-sentence spans, RefinedWeb
    exact-substring) re-expressed as n-gram spans over the same tokens.
    """
    from pyspark.sql import functions as F

    # split once into a projected column (one regex pass per row, not
    # three); sequence(1, 0) descends ([1, 0]) rather than yielding an
    # empty array, so docs shorter than n words need an explicit guard
    spans = F.expr(
        f"CASE WHEN size(_words) >= {n} THEN "
        f"transform(sequence(1, size(_words) - {n - 1}), "
        f"i -> array_join(slice(_words, i, {n}), ' ')) "
        f"ELSE array() END"
    )
    ex = docs.select(
        F.col(id_col), F.split(F.col("text"), " ").alias("_words")
    ).select(F.col(id_col), F.explode(spans).alias("span"))
    counts = ex.groupBy("span").agg(F.count(F.lit(1)).alias("_n"))
    dup = counts.filter(F.col("_n") >= 2).select("span")
    tagged = ex.join(dup.withColumn("_dup", F.lit(1)), "span", "left")
    per_doc = tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_spans"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double"),
            )
            .otherwise(0.0)
            .alias("dup_fraction"),
        )
    )


def duplicated_span_coverage_sql(n: int = 8, table: str = "documents",
                                 id_col: str = "doc_id") -> str:
    """DuckDB mirror of duplicated_span_coverage: same 1-based slice
    semantics, same >= 2 occurrence predicate, same double division."""
    return f"""
WITH w AS (
  SELECT {id_col}, string_split(text, ' ') AS words FROM {table}
),
pos AS (
  SELECT {id_col}, UNNEST(range(1, GREATEST(len(words) - {n - 1}, 0) + 1)) AS i, words
  FROM w
),
ex AS (
  SELECT {id_col}, array_to_string(words[i:i + {n - 1}], ' ') AS span FROM pos
),
counts AS (SELECT span, COUNT(*) AS _n FROM ex GROUP BY span),
per_doc AS (
  SELECT e.{id_col}, COUNT(*) AS n_spans,
         SUM(CASE WHEN c._n >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
  FROM ex e JOIN counts c ON c.span = e.span
  GROUP BY e.{id_col}
)
SELECT d.{id_col},
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN COALESCE(p.n_spans, 0) > 0
         THEN CAST(COALESCE(p.n_dup_spans, 0) AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
         ELSE 0.0 END AS dup_fraction
FROM {table} d LEFT JOIN per_doc p ON p.{id_col} = d.{id_col}
"""


def ngrams(docs: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-grams per document — the generalized form of
    :func:`shingles` (same tokenizer, same materialize-tokens-once and
    dedup-before-explode design, shuffle-free)."""
    parts = ", ".join(f"_toks[i+{j}]" for j in range(n))
    g = F.expr(
        f"""CASE WHEN size(_toks) >= {n} THEN
              array_distinct(
                transform(sequence(0, size(_toks) - {n}),
                          i -> concat_ws(' ', {parts})))
            ELSE array() END"""
    )
    return docs.withColumn("_toks", F.expr(_TOKS)).select(
        F.col(id_col), F.explode(g).alias("gram")
    )


def _ngrams_sql(n: int, table: str = "documents", id_col: str = "doc_id",
                where: str = "") -> str:
    sel = " || ' ' || ".join(f"toks[CAST(i+{j} AS INT)]" for j in range(n))
    return f"""
  SELECT DISTINCT {id_col}, {sel} AS gram
  FROM (SELECT {id_col},
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x != '') AS toks
        FROM {table} {where}) t,
       LATERAL (SELECT unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS i) u
"""


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Benchmark decontamination (GPT-3 §C / Llama style): flag training
    documents sharing any word n-gram with the evaluation set.

    Scale shape: the eval side is small by construction, so its distinct
    n-gram set rides a broadcast — the training corpus is scanned once,
    its exploded n-grams hash-probe the broadcast, and one doc-keyed
    aggregation counts hits. No shuffle touches the full n-gram stream.
    Every training doc appears in the output (zero hits included), so
    the pass doubles as the keep-list for the next pipeline stage.
    """
    train_grams = ngrams(train, n, id_col)
    eval_grams = ngrams(eval_docs, n, id_col).select("gram").distinct()
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(
    eval_max_id: int, n: int = 5, table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`decontaminate` with the eval set defined
    as ``{id_col} < eval_max_id``."""
    return f"""
WITH train_grams AS ({_ngrams_sql(n, table, id_col, f"WHERE {id_col} >= {eval_max_id}")}),
eval_grams AS (
  SELECT DISTINCT gram
  FROM ({_ngrams_sql(n, table, id_col, f"WHERE {id_col} < {eval_max_id}")})
),
hits AS (
  SELECT g.{id_col}, COUNT(*) AS n_shared_grams
  FROM train_grams g JOIN eval_grams USING (gram)
  GROUP BY g.{id_col}
)
SELECT d.{id_col},
       coalesce(h.n_shared_grams, 0) AS n_shared_grams,
       coalesce(h.n_shared_grams, 0) > 0 AS contaminated
FROM (SELECT {id_col} FROM {table} WHERE {id_col} >= {eval_max_id}) d
LEFT JOIN hits h USING ({id_col})
"""
