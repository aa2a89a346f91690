"""Registered queries: LLM-training-data pipeline operators — dedup,
similarity search, text analysis, multimodal columns (SURVEY §2.11 X1-X5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import register
from ..operators import audio, dedup, multimodal, retrieval, simsearch, text
from ..operators.windows import _files_sig
from ..sources import load_table
from ..streaming.per_event import _run_tmpdir

# --- X1/X2: dedup -----------------------------------------------------------


@register("dedup_exact", oracle=dedup.exact_dedup_sql())
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: group size + canonical flag (X1)."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", oracle=dedup.jaccard_pairs_sql(threshold=0.5))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.5 via inverted-index
    self-join (X2 exact path). r12: the size-pruned docs path — carried
    per-doc shingle counts kill the two post-aggregate size joins, and
    pairs whose best achievable jaccard (min/max size ratio) is below
    the threshold die before the pair aggregate. Output identical
    (pytest-pinned vs the generic path; oracle unchanged)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_docs(docs, threshold=0.5)


@register("dedup_minhash_lsh", oracle=dedup.minhash_lsh_pairs_sql(threshold=0.5))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(8×2) candidate pairs verified by exact Jaccard ≥ 0.5
    (X2 scale path). md5-based hashing → bit-identical on any engine."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@register("dedup_components_lsh", oracle=dedup.near_dup_components_sql(0.5))
def dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the verified
    MinHash-LSH pair graph via graph.connected_components, the engine's
    one components kernel (large-star/small-star contraction, Kiveris et
    al. SoCC'14 — rounds grow with log(component size) on any graph
    shape), one canonical doc per cluster (X2 completion — pair
    detection alone does not dedup a corpus).
    Oracle = recursive-CTE transitive closure. r8: runs on the collapsed
    exact-dup graph (dedup.minhash_dedup_labels) — a 25%-of-corpus
    exact-copy cluster costs O(cluster), not O(cluster²) expanded
    pairs; output provably unchanged."""
    return dedup.minhash_dedup_labels(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@register("span_dup_coverage", oracle=dedup.duplicated_span_coverage_sql(n=3))
def span_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 3-gram span coverage per document (C4 §2.3 / RefinedWeb
    span-dedup signal): fraction of each doc's word trigrams occurring
    ≥2× corpus-wide. One explode + one count + one join-back; scale path
    (xxhash64 span keys, broadcast duplicated-set) in the op docstring."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_span_coverage(docs, n=3)


@register("dedup_simhash", oracle=dedup.simhash_pairs_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 near-dup pairs with Hamming ≤ 6 (X2 fingerprint path)."""
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


# --- X3: similarity search --------------------------------------------------

N_QUERIES = 5


@register("knn_cosine_bruteforce", oracle=simsearch.cosine_topk_sql(N_QUERIES, 10))
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 5 vectors against the corpus —
    broadcast queries, no shuffle of the corpus side (X3 baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return simsearch.cosine_topk(emb, queries, k=10)


# Built indexes are memoized per corpus for the life of the session:
# "build once, query many" is the persisted-index contract — rebuilding on
# every query would make the registered query measure the build, not the
# partition-pruned probe that is the operator's 100 TB point. First use
# per corpus pays the build (visible in bench warm samples). The key
# carries the corpus files' (path, size, mtime_ns), so a corpus rewritten
# at the same path gets a fresh build instead of the stale index.
_INDEX_CACHE: dict[tuple, str] = {}


def _cached_index(kind: str, sf_dir: str, corpus: DataFrame, build) -> str:
    key = (kind, sf_dir, _files_sig(corpus))
    if key not in _INDEX_CACHE:
        path = _run_tmpdir(f"{kind}_index_")
        build(path)
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


@register("ann_ivf_index_topk", oracle=simsearch.ivf_topk_sql(N_QUERIES, 10))
def ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent-IVF round trip (X3 index lifecycle): build the index
    (vectors partitioned by centroid bucket + centroid table) once per
    corpus, then answer top-10 by probing ONLY the queries' buckets —
    partition pruning at the file listing. Results are bit-identical to
    the in-memory IVF path, so the same oracle applies."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    path = _cached_index(
        "ivf", sf_dir, emb, lambda p: simsearch.build_ivf_index(emb, p)
    )
    return simsearch.ivf_index_topk(spark, path, queries, k=10)


@register("ann_ivf_topk", oracle=simsearch.ivf_topk_sql(N_QUERIES, 10))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-10 (probe nearest centroid only) — the scale
    path. Seed centroids + 8-dp rounding + id tiebreaks make the whole
    pipeline deterministic, so it is exactly oracle-checkable even though
    recall < 1 vs brute force by design (X3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return simsearch.ivf_topk(emb, queries, k=10)


@register("ann_recall_at_k", oracle=simsearch.recall_at_k_sql(N_QUERIES, 10))
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against exact brute force, per query —
    quantifies the accuracy side of the IVF speed/recall trade (X3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = simsearch.cosine_topk(emb, queries, k=10)
    approx = simsearch.ivf_topk(emb, queries, k=10)
    return simsearch.recall_at_k(exact, approx)


# --- X4: text analysis ------------------------------------------------------


@register("text_stats", oracle=text.text_stats_sql())
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document length/ratio/token statistics + quality score (X4)."""
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@register("language_id", oracle=text.language_id_sql())
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic with per-language scores (X4)."""
    return text.language_id(load_table(spark, sf_dir, "documents"))


@register("repetition_stats", oracle=text.repetition_stats_sql())
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition quality filters (Rae et al. 2021
    Table A1): top-unigram / top-bigram mass + distinct-word ratio per
    document — the boilerplate/degeneration signals a curation pipeline
    thresholds on. Exact oracle; X4 family."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


@register("doc_fingerprints", oracle=text.fingerprints_sql())
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 + min-shingle-hash anchor per document (X4)."""
    return text.fingerprints(load_table(spark, sf_dir, "documents"))


# --- X5: multimodal columns -------------------------------------------------


@register(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id, 'text/plain' AS modality,
       octet_length(encode(text)) AS n_bytes,
       lower(substr(hex(encode(text)), 1, 8)) AS header_hex,
       md5(text) AS payload_md5
FROM documents
""",
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary payload column + typed metadata (size, header hex,
    digest) — the multimodal column convention (X5). Payload = UTF-8 bytes
    here; schema/plumbing identical for real image/audio blobs."""
    out = multimodal.binarize_documents(load_table(spark, sf_dir, "documents"))
    return out.select("doc_id", "modality", "n_bytes", "header_hex", "payload_md5")


@register(
    "multimodal_image_features",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), v AS (
  SELECT doc_id,
         (strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1))-1) AS val
  FROM b, LATERAL unnest(range(0, n)) t(i)
), s AS (
  SELECT doc_id, sum(val) AS sv FROM v GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_bytes,
       lower(substr(b.hx, 1, 8)) AS header_hex,
       CASE WHEN b.n > 0 THEN CAST(s.sv AS DOUBLE) / b.n ELSE 0.0 END AS mean_byte,
       CAST(CASE WHEN b.n > 0 THEN
         ((strpos('0123456789ABCDEF', substr(b.hx, 1, 1))-1)*16
          + (strpos('0123456789ABCDEF', substr(b.hx, 2, 1))-1)) % 64 + 1
       ELSE 0 END AS INT) AS width,
       CAST(CASE WHEN b.n > 1 THEN
         ((strpos('0123456789ABCDEF', substr(b.hx, 3, 1))-1)*16
          + (strpos('0123456789ABCDEF', substr(b.hx, 4, 1))-1)) % 64 + 1
       ELSE 0 END AS INT) AS height
FROM b LEFT JOIN s USING (doc_id)
""",
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas 'decode' over binary payloads (X5): byte
    stats + header-derived dimensions. The featurizer is a deterministic
    stand-in for a codec (no image libs in container; the mapInPandas
    plumbing — schema, batch shape, binary transfer — is what a real
    decoder reuses), and since r8 it is oracle-certified: every emitted
    stat (byte count, header hex, exact mean byte, first/second-byte
    dims) is recomputed by DuckDB from the raw payload bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_image_features(multimodal.binarize_documents(docs))


# Oracle for the codec validation contracts (r8, VERDICT #6): the
# synthesized 8×8×3 images plant np.resize(utf8_bytes, 192) — byte i of
# the pixel array is source byte (i mod n) — so DuckDB recomputes the
# exact integer pixel sums from the documents table alone (hex-pair →
# int via a strpos lookup), with zero codec involvement. The Spark side
# derives the same sums from the DECODED pixels, so any decode defect
# diverges. Dims/format are planted constants; the encode→decode
# fixpoint boolean must be TRUE everywhere. mean = sum/192 and
# std = sqrt(sq/192 − (sum/192)²) are evaluated with the identical
# expression tree on both engines (integer operands → bit-identical
# doubles), then 6-dp rounded per house rules.
_PX_CONTRACT_ORACLE = """
WITH b AS (
  SELECT doc_id,
         hex(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS hx,
         octet_length(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS n
  FROM documents
), px AS (
  SELECT doc_id,
         (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1))-1) AS v
  FROM b, range(0, 192) t(i)
), s AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
         CAST(sum(v*v) AS BIGINT) AS px_sq_sum
  FROM px GROUP BY doc_id
)
SELECT doc_id, '{fmt}' AS "format", 8 AS width, 8 AS height, 3 AS n_channels,
       px_sum, px_sq_sum,
       round(px_sum / 192.0, 6) + 0.0 AS px_mean,
       round(sqrt(px_sq_sum / 192.0 - (px_sum / 192.0) * (px_sum / 192.0)), 6) + 0.0 AS px_std,
       TRUE AS roundtrip_fixpoint
FROM s
"""


def _px_contract_stats(
    contract: DataFrame, n_px: float = 192.0, lead_cols: tuple = ()
) -> DataFrame:
    """mean/std columns from the exact integer sums — the same expression
    tree the oracle evaluates, so the doubles are bit-identical."""
    mean = F.col("px_sum") / F.lit(n_px)
    return contract.select(
        *lead_cols,
        "doc_id",
        "format",
        "width",
        "height",
        "n_channels",
        "px_sum",
        "px_sq_sum",
        (F.round(mean, 6) + F.lit(0.0)).alias("px_mean"),
        (
            F.round(
                F.sqrt(F.col("px_sq_sum") / F.lit(n_px) - mean * mean), 6
            )
            + F.lit(0.0)
        ).alias("px_std"),
        "roundtrip_fixpoint",
    )


@register("multimodal_decode_features", oracle=_PX_CONTRACT_ORACLE.format(fmt="bmp"))
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL format decode over genuine BMP bytes (X5): deterministic 8x8
    24-bit BMPs are synthesized from each document's UTF-8 bytes, then
    parsed back by the pure struct+numpy decoder. Oracle-certified via the
    codec validation contract (r8, converted from rows-only): integer
    pixel sums recomputed by DuckDB from the planted source bytes, planted
    dimensions, an encode→decode fixpoint boolean, and mean/std derived
    from the exact sums — a decode defect or broken round-trip turns the
    row red. Exact decode of hand-built BMP/PPM/WAV fixtures stays
    pytest-pinned; compressed PNG, GIF and baseline+progressive JPEG
    decode natively too (stdlib zlib / pure-Python LZW / pure-Python
    Huffman+IDCT); only lossy-VP8 WebP remains PIL-gated."""
    docs = load_table(spark, sf_dir, "documents")
    return _px_contract_stats(
        multimodal.decode_pixel_contract(
            multimodal.synthesize_bmp_payloads(docs), "bmp"
        )
    )


@register("multimodal_png_features", oracle=_PX_CONTRACT_ORACLE.format(fmt="png"))
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-format decode with zero codec libraries (X5): real RGB
    PNGs (DEFLATE-compressed scanlines) are synthesized from each
    document's UTF-8 bytes, then decoded natively with stdlib zlib+numpy —
    chunk walk, inflate, scanline-filter inversion. Oracle-certified via
    the codec validation contract (r8, converted from rows-only; same
    contract as multimodal_decode_features — the sums pass through the
    full DEFLATE decode, so a single wrong inflated byte diverges). Exact
    decode of all five PNG filter types, palette images, and encode/decode
    round-trips remain pytest-pinned in tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return _px_contract_stats(
        multimodal.decode_pixel_contract(
            multimodal.synthesize_png_payloads(docs), "png"
        )
    )


# Resize contract (r8; r9 orientation fix): nearest-neighbor 8×8→4×4
# picks DECODED (top-down) rows/cols {0,2,4,6} ((arange(4)·8)//4). The
# planted bytes live in FILE order, and a spec-correct BMP decoder flips
# the bottom-up file rows, so decoded row r is file row 7−r: the picked
# source bytes are the ODD file rows {7,5,3,1} (r = i//24 odd) at even
# columns (c = (i%24)//3 even) — 48 bytes the oracle sums directly. A
# decoder that forgets the flip reads the EVEN file rows and diverges.
_PX_RESIZE_ORACLE = """
WITH b AS (
  SELECT doc_id,
         hex(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS hx,
         octet_length(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS n
  FROM documents
), px AS (
  SELECT doc_id, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1))-1) AS v
  FROM b, range(0, 192) t(i)
  WHERE (i // 24) % 2 = 1 AND ((i % 24) // 3) % 2 = 0
), s AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
         CAST(sum(v*v) AS BIGINT) AS px_sq_sum
  FROM px GROUP BY doc_id
)
SELECT doc_id, 'bmp' AS "format", 4 AS width, 4 AS height, 3 AS n_channels,
       px_sum, px_sq_sum,
       round(px_sum / 48.0, 6) + 0.0 AS px_mean,
       round(sqrt(px_sq_sum / 48.0 - (px_sum / 48.0) * (px_sum / 48.0)), 6) + 0.0 AS px_std,
       TRUE AS roundtrip_fixpoint
FROM s
"""


@register("multimodal_resize_features", oracle=_PX_RESIZE_ORACLE)
def multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→resize→re-decode round trip (X5): synthesized 8×8 BMPs are
    nearest-neighbor resized to 4×4 (pure numpy index sampling, real BMP
    re-encode) and the resized bytes decode back to 4×4×3.
    Oracle-certified since r8 via the pixel-sum contract: the NN index
    map ((arange(4)·8)//4 = decoded rows/cols 0,2,4,6 = planted FILE
    rows 7,5,3,1 after the spec's bottom-up flip) is deterministic, so
    DuckDB sums the exact 48 picked source bytes codec-free — a wrong
    index map, a missing orientation flip, broken re-encode, or decode
    defect diverges. Exact NN pixel semantics remain pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    small = multimodal.resize_images(
        multimodal.synthesize_bmp_payloads(docs), 4, 4
    )
    return _px_contract_stats(
        multimodal.decode_pixel_contract(small, "bmp"), n_px=48.0
    )


@register(
    "multimodal_frame_sample",
    oracle="""
WITH b AS (
  SELECT doc_id,
         hex(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS hx,
         octet_length(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS n
  FROM documents
), px AS (
  SELECT doc_id,
         (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1))-1) AS v
  FROM b, range(0, 192) t(i)
), s AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
         CAST(sum(v*v) AS BIGINT) AS px_sq_sum
  FROM px GROUP BY doc_id
)
SELECT f.frame_idx, s.doc_id, 'bmp' AS "format",
       8 AS width, 8 AS height, 3 AS n_channels,
       px_sum, px_sq_sum,
       round(px_sum / 192.0, 6) + 0.0 AS px_mean,
       round(sqrt(px_sq_sum / 192.0 - (px_sum / 192.0) * (px_sum / 192.0)), 6) + 0.0 AS px_std,
       TRUE AS roundtrip_fixpoint
FROM s CROSS JOIN (VALUES (0), (2), (4)) f(frame_idx)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-stand-in frame sequences (X5): each doc
    becomes a 6-frame length-prefixed container of real BMPs; every 2nd
    frame is emitted as its own row and decoded. The length-prefixed
    parse seeks past unsampled frames without decoding them — the
    keyframe-seek shape of a real demuxer. Oracle-certified since r8 via
    the pixel-sum contract keyed by (doc, frame_idx): the oracle pins
    exactly frames {0, 2, 4} per doc with the source-byte sums — a
    mis-seek, wrong stride, or dropped/extra frame diverges. Container
    round-trip stays pytest-pinned."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    bmps = multimodal.synthesize_bmp_payloads(docs)

    def _pack(it):
        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        multimodal.pack_frame_sequence(
                            [bytes(b)] * 6
                        )
                        for b in pdf["payload"]
                    ],
                },
                dtype=object,
            )

    seqs = bmps.mapInPandas(_pack, schema="doc_id long, payload binary")
    sampled = multimodal.sample_frames(seqs, every_k=2)
    return _px_contract_stats(
        multimodal.decode_pixel_contract(
            sampled, "bmp", extra_key="frame_idx"
        ),
        lead_cols=("frame_idx",),
    )


# --- training-data curation: filter -> dedup -> deterministic sample --------

CURATE_QUALITY_MIN = 0.5
CURATE_SAMPLE_PCT = 80  # keep 80% by reproducible mod-hash split

# engine-portable doc_id hash bucket 0..99 (same md5 route as the dedup ops)
_BUCKET_SPARK = (
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
    " % 100"
)
_BUCKET_DUCK = (
    "CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS UBIGINT) AS BIGINT) % 100"
)


def _curate_oracle() -> str:
    toks = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            "x -> x != '')")
    score_cols = ",\n    ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({text._sql_list(m)}, x)))"
        f" AS BIGINT) AS score_{lang}"
        for lang, m in text.LANG_MARKERS.items()
    )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE "
    for lang in langs:
        case += f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH base AS (
  SELECT doc_id, text, md5(text) AS content_md5,
         CAST(length(text) AS DOUBLE) AS n_chars,
         {toks} AS toks
  FROM documents
), sc AS (
  SELECT doc_id, content_md5, n_chars,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
    n_chars - CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
    {score_cols},
    CAST(len(regexp_extract_all(text, '{text.TOKEN_RE}')) AS BIGINT) AS n_tokens,
    {_BUCKET_DUCK} AS sample_bucket,
    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM base
), scored AS (
  SELECT doc_id,
    {case} AS lang_predicted,
    LEAST(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.4
      + (1.0 - punct / n_chars) * 0.3
      + LEAST(CAST(n_distinct_words AS DOUBLE) / 25.0, 1.0) * 0.3 AS quality_score,
    n_tokens, sample_bucket, is_canonical
  FROM sc
)
SELECT doc_id, lang_predicted, quality_score, n_tokens, sample_bucket
FROM scored
WHERE is_canonical AND quality_score >= {CURATE_QUALITY_MIN}
  AND lang_predicted = 'en' AND sample_bucket < {CURATE_SAMPLE_PCT}
"""


@register("curate_training_docs", oracle=_curate_oracle())
def curate_training_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation (the composite every LLM data
    pipeline runs): quality-score + language-ID as pure projections,
    exact-dedup canonical selection as one content-digest window, and a
    REPRODUCIBLE 80% sample by md5(doc_id) bucket — deterministic across
    engines, partitionings and reruns, unlike rand()-based sampling.
    Single scan, single shuffle (the dedup window); every stage reuses
    the already-verified operator expressions (text.quality_score_col /
    lang_pred_col, dedup exact-canonical semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_md5")
    return (
        docs.select(
            "doc_id",
            F.md5("text").alias("content_md5"),
            text.quality_score_col().alias("quality_score"),
            text.lang_pred_col().alias("lang_predicted"),
            text.token_count_col().alias("n_tokens"),
            F.expr(_BUCKET_SPARK).alias("sample_bucket"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(
            F.col("is_canonical")
            & (F.col("quality_score") >= CURATE_QUALITY_MIN)
            & (F.col("lang_predicted") == "en")
            & (F.col("sample_bucket") < CURATE_SAMPLE_PCT)
        )
        .select(
            "doc_id", "lang_predicted", "quality_score", "n_tokens",
            "sample_bucket",
        )
    )


@register(
    "ann_ivf_topk_refined",
    oracle=simsearch.ivf_topk_sql(N_QUERIES, 10, refine_iters=2),
)
def ann_ivf_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 after 2 deterministic Lloyd iterations refine the
    seed centroids (X3 refinement): quantized-integer per-dim means make
    the k-means sweep bit-reproducible across engines and partitionings,
    so even the refined pipeline stays exactly oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return simsearch.ivf_topk(emb, queries, k=10, refine_iters=2)


N_RECALL_QUERIES = 50  # vec_id < 8 ARE the seed centroids — a 5-query set
# is dominated by them (their own buckets surround them exactly), so the
# refinement comparison uses 50 queries for an unbiased estimate.


@register(
    "ann_recall_refined",
    oracle=simsearch.recall_refined_sql(N_RECALL_QUERIES, 10, 8, 2),
)
def ann_recall_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-vs-refined IVF recall@10 against exact brute force, per
    query — measures what the k-means refinement buys (X3). On sf0.01
    (500 near-uniform vectors) mean recall moves 0.328 → 0.354 with 2
    Lloyd iterations, 0.378 with 8."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_RECALL_QUERIES)
    exact = simsearch.cosine_topk(emb, queries, k=10)
    seed = simsearch.recall_at_k(
        exact, simsearch.ivf_topk(emb, queries, k=10)
    ).select("query_id", F.col("recall_at_k").alias("recall_seed"))
    refined = simsearch.recall_at_k(
        exact, simsearch.ivf_topk(emb, queries, k=10, refine_iters=2)
    ).select("query_id", F.col("recall_at_k").alias("recall_refined"))
    return seed.join(refined, "query_id")


@register(
    "ann_ivf_multiprobe",
    oracle=simsearch.ivf_topk_sql(N_QUERIES, 10, n_probes=2),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 probing the 2 nearest centroid buckets — recall
    recovered toward brute force at 2/8 of its cost (X3 multi-probe
    refinement; same deterministic pipeline, oracle-exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return simsearch.ivf_topk(emb, queries, k=10, n_probes=2)


# --- X4 extension: ranked retrieval ----------------------------------------

BM25_TERMS = ["spark", "window", "join", "stream", "hash"]


@register("bm25_rank", oracle=retrieval.bm25_rank_sql(BM25_TERMS))
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents for a bag-of-words query under Okapi BM25
    (Lucene idf variant, k1=1.2 b=0.75) — the targeted-curation /
    decontamination retrieval pass of a training-data pipeline (X4).
    The exploded token stream is filtered to the query terms BEFORE any
    shuffle, corpus stats and per-term idf ride broadcasts, and the
    final top-k is a TakeOrderedAndProject — the 100 TB shape."""
    return retrieval.bm25_rank(
        load_table(spark, sf_dir, "documents"), BM25_TERMS
    )


@register("tfidf_top_terms", oracle=retrieval.tfidf_top_terms_sql())
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by TF-IDF (sklearn smooth idf) —
    topic tagging / index keys per doc (X4). Whole-vocabulary df via two
    token-keyed shuffles; per-doc top-k is a doc_id-partitioned window
    (WindowGroupLimit), never a global sort."""
    return retrieval.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register(
    "audio_spectral_features",
    oracle="""
SELECT doc_id, 8000 AS sample_rate, CAST(2000 AS BIGINT) AS n_samples,
       0.25 AS duration_s,
       CAST(252 + 48*(doc_id % 32) AS DOUBLE) AS dominant_freq_hz,
       CAST(252 + 48*(doc_id % 32) AS DOUBLE) AS rolloff85_hz,
       CAST(2*(252 + 48*(doc_id % 32)) - 4 AS DOUBLE) AS zcr_per_s,
       TRUE AS rms_ok, TRUE AS centroid_ok,
       TRUE AS bandwidth_ok
FROM documents
""",
)
def audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio analysis over genuine WAV bytes (X5 audio path):
    deterministic pure-tone 16-bit PCM WAVs are synthesized per document,
    then analyzed with numpy rFFT — duration, RMS, zero-crossing rate,
    dominant frequency, spectral centroid/bandwidth/85% rolloff. One
    Arrow-batched mapInPandas pass, no shuffle.

    Oracle-certified since r8 via the closed-form-tone contract: the
    synthesized tone is BIN-ALIGNED (f0 = 252 + 48·(doc_id mod 32) Hz =
    bin 63+12m at rate/n = 4 Hz), so dominant_freq_hz and rolloff85_hz
    equal f0 EXACTLY (measured err 0.0 across the corpus) and the oracle
    recomputes them analytically — certifying the WAV parse + rFFT +
    argmax/rolloff path end-to-end. r10: zcr is ALSO an exact value now —
    zero crossings are integer-side (signbit flips of the int16 samples,
    immune to quantization noise), and a bin-aligned tone of f0/2 whole
    half-cycles over 0.25 s crosses exactly f0/2 − 1 times (the t=0
    endpoint crossing is not a sample-to-sample flip), so
    zcr_per_s = 2·f0 − 4 analytically; verified exact over ALL 32 tone
    classes in pure numpy and pinned per-class in tests/test_audio.py.
    The genuinely rounding-sensitive features ship as booleans with
    measured-headroom bounds (probe at sf0.01: rms err ≤1.2e-5 → bound
    1e-3; centroid err ≤0.77 Hz → bound 2; bandwidth ≤43.9 Hz →
    bound 100 — quantization noise spreads across FFT bins, no closed
    form). All raw features stay pinned against closed-form
    tone/silence/stereo expectations in tests/test_audio.py."""
    docs = load_table(spark, sf_dir, "documents")
    feat = audio.spectral_features(audio.synthesize_wav_payloads(docs))
    f0 = F.lit(252.0) + F.lit(48.0) * (F.col("doc_id") % 32).cast("double")
    return feat.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "duration_s",
        "dominant_freq_hz",
        "rolloff85_hz",
        "zcr_per_s",
        (F.abs(F.col("rms") - F.lit(0.5 / 2.0**0.5)) <= 1e-3).alias("rms_ok"),
        (F.abs(F.col("spectral_centroid_hz") - f0) <= 2.0).alias(
            "centroid_ok"
        ),
        (F.col("spectral_bandwidth_hz") <= 100.0).alias("bandwidth_ok"),
    )


# JPEG contract (r9, VERDICT #5; r10 AC upgrade per r9 ADVICE): the
# planted 16×16 images have four 8×8 gray blocks, base_b = the doc's
# byte b mod n, plus an AC ripple a_b·(+1,−1,−1,+1,+1,−1,−1,+1) along
# block rows with a_b = LEAST(byte_{b+4} mod 8, base_b, 255−base_b) —
# the scaled u=4 DCT basis, so each block's DCT is EXACTLY two integers
# (DC = 8(base−128), C(4,0) = 8a) and the lossy pipeline stays
# pixel-exact at quality 100 while the AC Huffman path now runs under
# the oracle. Per block-channel: Σp = 64·base (ripple cancels) and
# Σp² = 64(base² + a²) (ripple squares to 1), so px_sq_sum/px_std see a
# dropped or mis-scaled AC; ×3 channels ⇒ the 192 factors below.
_PX_JPEG_ORACLE = """
WITH b AS (
  SELECT doc_id,
         hex(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS hx,
         octet_length(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS n
  FROM documents
), px AS (
  SELECT doc_id,
         (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1))-1) AS v,
         (strpos('0123456789ABCDEF', substr(hx, 2*((i+4) % n)+1, 1))-1)*16
         + (strpos('0123456789ABCDEF', substr(hx, 2*((i+4) % n)+2, 1))-1) AS w
  FROM b, range(0, 4) t(i)
), pa AS (
  SELECT doc_id, v, LEAST(w % 8, v, 255 - v) AS a FROM px
), s AS (
  SELECT doc_id, CAST(192 * sum(v) AS BIGINT) AS px_sum,
         CAST(192 * sum(v*v + a*a) AS BIGINT) AS px_sq_sum
  FROM pa GROUP BY doc_id
)
SELECT doc_id, 'jpeg' AS "format", 16 AS width, 16 AS height, 3 AS n_channels,
       px_sum, px_sq_sum,
       round(px_sum / 768.0, 6) + 0.0 AS px_mean,
       round(sqrt(px_sq_sum / 768.0 - (px_sum / 768.0) * (px_sum / 768.0)), 6) + 0.0 AS px_std,
       TRUE AS roundtrip_fixpoint
FROM s
"""


@register("multimodal_jpeg_features", oracle=_PX_JPEG_ORACLE)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSY compressed decode with zero codec libraries (X5): real
    baseline JPEGs (DCT + Annex-K Huffman entropy coding) are synthesized
    from each document's UTF-8 bytes by the native pure-Python encoder,
    then decoded natively — marker walk, canonical Huffman, dequant,
    IDCT, YCbCr→RGB (operators/jpeg.py). Oracle-certified since r9 via
    the pixel-sum contract on a quality-100 content class where the lossy
    pipeline is pixel-exact; r10 widens that class from flat blocks (DC
    only) to DC + one basis-aligned integer AC per block (see
    _PX_JPEG_ORACLE and synthesize_block_jpeg_payloads), so zigzag
    ordering, (run,size) AC Huffman codes, and nonzero-AC dequant all run
    in the certified production path — a dropped or mis-scaled AC reddens
    px_sq_sum/px_std. DuckDB recomputes the sums from the planted source
    bytes with zero codec involvement, the four distinct blocks drive
    real DC-difference Huffman codes, and the encode→decode fixpoint
    boolean must hold. General lossy content stays spec-pinned in
    tests/test_jpeg.py by streams hand-assembled from T.81 (4:4:4, 4:2:0
    subsampled, restart markers, progressive scans) so the encoder and
    decoder cannot share a compensating bug. Only lossy-VP8 WebP remains
    PIL-gated."""
    docs = load_table(spark, sf_dir, "documents")
    return _px_contract_stats(
        multimodal.decode_pixel_contract(
            multimodal.synthesize_block_jpeg_payloads(docs), "jpeg"
        ),
        n_px=768.0,
    )


EVAL_MAX_ID = 25  # docs below this id play the held-out benchmark set
DECON_N = 5  # 13 in GPT-3; 5 collides meaningfully on the synthetic vocab


@register(
    "benchmark_decontamination",
    oracle=dedup.decontaminate_sql(EVAL_MAX_ID, DECON_N),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/Llama-style training-set decontamination: flag every
    training doc (doc_id >= 25) sharing any word 5-gram with the
    held-out benchmark slice (doc_id < 25). Eval n-grams ride a
    broadcast; the training n-gram stream is never shuffled (X2/X4
    family). n is configurable — 13 in GPT-3's protocol; 5 here so the
    synthetic corpus actually collides."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.decontaminate(
        docs.filter(F.col("doc_id") >= EVAL_MAX_ID),
        docs.filter(F.col("doc_id") < EVAL_MAX_ID),
        n=DECON_N,
    )


@register(
    "unigram_logprob_quality", oracle=retrieval.unigram_logprob_quality_sql()
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM quality score per document (mean
    token negative log-likelihood) — the scalable analog of CCNet's
    KenLM perplexity filter (X4). Two token-keyed shuffles + one
    broadcast scalar."""
    return retrieval.unigram_logprob_quality(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "domain_mixture_weights",
    oracle="""
WITH counts AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
), tot AS (SELECT SUM(n_docs) AS total FROM counts),
p AS (
  SELECT source, n_docs, n_chars,
         round(n_docs / t.total, 6) AS proportion,
         pow(n_docs / t.total, 0.7) AS pw
  FROM counts CROSS JOIN tot t
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_chars, proportion,
       round(pw / SUM(pw) OVER (), 6) + 0.0 AS sample_weight
FROM p
""",
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain sampling weights (Llama/GPT-style data
    mixing): per-source doc counts and α=0.7 temperature reweighting
    p_i^α / Σ p_j^α — upweights small domains, deterministic (X4).
    One tiny groupBy; the weight table is the broadcast input to a
    downstream stratified sampler."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = counts.agg(F.sum("n_docs").alias("total"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("proportion"),
        F.pow(F.col("n_docs") / F.col("total"), F.lit(0.7)).alias("pw"),
    )
    # normalizer as a broadcast scalar, not an unpartitioned window (house
    # rule: no single-partition WindowExec anywhere, test_plans.py)
    pw_sum = p.agg(F.sum("pw").alias("pw_sum"))
    return p.crossJoin(F.broadcast(pw_sum)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_chars",
        "proportion",
        (F.round(F.col("pw") / F.col("pw_sum"), 6) + F.lit(0.0)).alias(
            "sample_weight"
        ),
    )


@register("bm25_index_topk", oracle=retrieval.bm25_rank_sql(BM25_TERMS))
def bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED inverted index (X4 scale path):
    postings partitioned by md5 term bucket, query terms -> literal IN
    partition filters pruned at file listing, so a T-term query reads
    <= T of the 16 bucket partitions however large the corpus. Same
    oracle as bm25_rank — the index round trip must be bit-identical
    to the scan path."""
    docs = load_table(spark, sf_dir, "documents")
    path = _cached_index(
        "text", sf_dir, docs, lambda p: retrieval.build_text_index(docs, p)
    )
    return retrieval.index_bm25(spark, path, BM25_TERMS)


@register("embedding_pca_component", oracle=simsearch.pca_top_component_sql())
def embedding_pca_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by distributed
    power iteration (X3 corpus analytics) — covariance never
    materialized, two aggregations per round over the exploded table,
    deterministic 8-round recurrence with per-round resync rounding;
    oracle is the same recurrence unrolled as DuckDB CTEs, bit-exact."""
    return simsearch.pca_top_component(load_table(spark, sf_dir, "embeddings"))


# MJPEG contract (r9, VERDICT #5): 8 flat-block quality-100 frames per
# doc, frame k's block values = (byte_b + 7k) mod 256 (visible motion,
# still closed-form); sampling every 4th frame must emit exactly frames
# {0, 4}, each decoding pixel-exactly like the still-JPEG contract.
_PX_MJPEG_ORACLE = """
WITH b AS (
  SELECT doc_id,
         hex(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS hx,
         octet_length(encode(CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END)) AS n
  FROM documents
), px AS (
  SELECT doc_id, f.frame_idx,
         ((strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+1, 1))-1)*16
          + (strpos('0123456789ABCDEF', substr(hx, 2*(i % n)+2, 1))-1)
          + 7 * f.frame_idx) % 256 AS v
  FROM b, range(0, 4) t(i) CROSS JOIN (VALUES (0), (4)) f(frame_idx)
), s AS (
  SELECT doc_id, frame_idx, CAST(192 * sum(v) AS BIGINT) AS px_sum,
         CAST(192 * sum(v*v) AS BIGINT) AS px_sq_sum
  FROM px GROUP BY doc_id, frame_idx
)
SELECT frame_idx, doc_id, 'jpeg' AS "format",
       16 AS width, 16 AS height, 3 AS n_channels,
       px_sum, px_sq_sum,
       round(px_sum / 768.0, 6) + 0.0 AS px_mean,
       round(sqrt(px_sq_sum / 768.0 - (px_sum / 768.0) * (px_sum / 768.0)), 6) + 0.0 AS px_std,
       TRUE AS roundtrip_fixpoint
FROM s
"""


@register("multimodal_video_features", oracle=_PX_MJPEG_ORACLE)
def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-style video pipeline (X5): per doc, an 8-frame sequence of
    REAL baseline JPEGs; the sampler SEEKS past unsampled frames via the
    container's length prefixes (zero decode on dropped frames), then
    only every 4th frame is decoded with the native JPEG codec — the
    sample-then-decode pattern of a real video curation pass.
    Oracle-certified since r9 via the pixel-sum contract keyed by
    (doc, frame_idx): the oracle pins exactly frames {0, 4} with sums
    recomputed codec-free from the planted bytes plus the per-frame +7k
    motion shift — a mis-seek, wrong stride, dropped/extra frame, or
    decode defect diverges. Arbitrary-content MJPEG decoding stays
    pytest-pinned (tests/test_llm_ops.py, tests/test_jpeg.py)."""
    docs = load_table(spark, sf_dir, "documents")
    seqs = multimodal.synthesize_block_jpeg_payloads(docs, n_frames=8)
    sampled = multimodal.sample_frames(seqs, every_k=4)
    return _px_contract_stats(
        multimodal.decode_pixel_contract(
            sampled, "jpeg", extra_key="frame_idx"
        ),
        n_px=768.0,
        lead_cols=("frame_idx",),
    )


@register("embedding_pca_scores", oracle=simsearch.pca_scores_sql())
def embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector 1-D PCA compression code + reconstruction error (the
    variance the top component misses — an embedding anomaly signal,
    X3). Same deterministic recurrence as embedding_pca_component plus
    one projection pass; oracle-exact."""
    return simsearch.pca_scores(load_table(spark, sf_dir, "embeddings"))


_PACK_BUDGET = 2048

_SEQUENCE_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{text.TOKEN_RE}')) AS BIGINT)
           AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id) AS cum_tokens
  FROM toks
)
SELECT CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
         AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM cum
GROUP BY 1
"""


@register("sequence_packing", oracle=_SEQUENCE_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (X4 training-prep): documents
    are laid end-to-end in doc_id order and cut every 2048 tokens — the
    standard pretraining batch-packing shape; a doc belongs to the pack
    its starting token offset lands in. The global token offset is the
    classic distributed prefix scan (operators/prefix.py:global_cumsum —
    range-bucketed two-pass, NO single-partition window, the named
    scale-killer an ORDER BY cumsum would hit at corpus scale); token
    counts are the BPE-ish regex of the text family, identical in the
    DuckDB oracle. Output is one row per pack (docs-per-pack, token
    mass, doc_id span) — the manifest a loader shards by."""
    from ..operators.prefix import global_cumsum

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count_col().alias("n_tokens")
    )
    cum = global_cumsum(toks, "doc_id", ["n_tokens"])
    packed = cum.withColumn(
        "pack_id",
        F.floor(
            (F.col("cum_n_tokens") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)
        ).cast("long"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


_ES_SEED = "13"
_ES_K = 100

_ES_SAMPLE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, text,
         CAST(length(text) AS DOUBLE) AS n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS toks
  FROM documents
), sc AS (
  SELECT doc_id, source,
    LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.4
      + (1.0 - (n_chars - CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]',
          '', 'g')) AS DOUBLE)) / n_chars) * 0.3
      + LEAST(CAST(len(list_distinct(toks)) AS DOUBLE) / 25.0, 1.0) * 0.3
        AS q,
    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_ES_SEED}'), 1, 8))
          AS BIGINT) + 1) / 4294967296.0 AS u
  FROM base
)
SELECT doc_id, source, GREATEST(q, 0.05) AS weight,
       round(ln(u) / GREATEST(q, 0.05), 6) + 0.0 AS sample_key
FROM sc
ORDER BY sample_key DESC, doc_id
LIMIT {_ES_K}
"""


@register("quality_weighted_sample", oracle=_ES_SAMPLE_ORACLE)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible quality-WEIGHTED sample without replacement
    (Efraimidis-Spirakis 2006 exponential-key trick, X4 curation): each
    doc draws u from the engine-portable md5(doc_id||seed) uniform and
    keeps key ln(u)/w with w = max(quality_score, 0.05); the global
    top-K keys ARE a weighted sample without replacement — higher-
    quality docs proportionally likelier, yet fully deterministic on
    any engine/partitioning (same md5-mod idiom as seeded_sample; the
    quality formula is the bit-exact text_stats one). Plan is a
    TakeOrderedAndProject global top-K — no shuffle of the full corpus,
    no single-partition window; keys round(·,6) on both engines with
    doc_id tiebreak, so the cut is total-ordered and oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(_ES_SEED))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    w = F.greatest(text.quality_score_col(), F.lit(0.05))
    key = F.round(F.log(u) / w, 6) + F.lit(0.0)
    return (
        docs.select(
            "doc_id",
            "source",
            w.alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(_ES_K)
    )
