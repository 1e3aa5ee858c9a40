"""Round-11 queries.

- ``bpe_token_stats`` — the r10 BPE tokenizer loop (VERDICT r10 #2)
  under the driver gate: learn a merge table on a bounded
  deterministic sample (documents ``doc_id < 64``), apply it to the
  WHOLE corpus in one Arrow ``mapInPandas`` pass, and aggregate
  integer token/word/char counts per (source, lang).

  Oracle strategy — a fully independent END-TO-END replay in pure
  DuckDB SQL, because the testdata documents tables are NOT
  prefix-stable across scale factors (the ``doc_id < 64`` slice has a
  different md5 at each SF), so a merge table learned at authoring
  time cannot be embedded as literals in a static oracle:

  * LEARNING is unrolled as K= ``_BPE_MERGES`` materialized CTE
    iterations (pair counting over the sample word histogram →
    best pair by (count DESC, left, right) with the ``count >= 2``
    stop rule → left-to-right non-overlapping merge application via
    the run-parity trick: within each maximal run of consecutive
    match positions, every other position starting from the first is
    merged — exactly the ``i += 2`` walk in
    ``operators/bpe.py::learn_bpe``).
  * ENCODING is a recursive CTE over the corpus's DISTINCT words:
    each step merges the lowest-rank adjacent pair (first position on
    ties — ``list_position`` of ``list_min``), terminating when no
    pair is in the rank map; final token count per word is
    ``min(len(syms))`` since each merge shrinks the list by one.

  A count/value bug in either the Spark learning collect, the merge
  table, or the distributed apply is a value mismatch; ``n_merges``
  additionally pins the learned-table LENGTH.  ``compression_ppm``
  is integer arithmetic (``* 1000000`` then integer division) so no
  float-rounding semantics cross the engine boundary
  (docs/oracle_determinism.md).

Registers into plans.queries.QUERIES/ORACLES on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..udtf import jq_explode
from .queries import ORACLES, QUERIES

# deterministic training sample + merge budget (the oracle unrolls
# exactly this many learning iterations — keep the two in sync)
_BPE_SAMPLE_MAX_DOC = 64
_BPE_MERGES = 24


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE token statistics per (source, lang).

    Scale audit: the learning collect is ``doc_id < 64`` — a fixed
    64-document sample, corpus-size-independent (the merge table is
    O(num_merges)); the encode is ONE Arrow mapInPandas pass over a
    pruned (doc_id, source, lang, text) scan with a per-batch word
    cache (Zipf → ~100% hit rate), followed by a single map-side
    partial groupBy on low-cardinality keys.  No corpus-sized join:
    (source, lang) ride the Arrow batch (``carry_cols``).  At 100 TB
    this is the same shape as text_stats — map pass + one small
    shuffle.  Reference parity: the reference ships no tokenizer;
    this is the training-data-pipeline mandate's "token counting"
    upgraded to a real learned-merge tokenizer
    (operators/bpe.py::learn_bpe/bpe_encode).
    """
    from ..operators.bpe import bpe_encode, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    sample = [
        r[0]
        for r in docs.where(F.col("doc_id") < _BPE_SAMPLE_MAX_DOC)
        .select("text")
        .collect()
    ]
    merges = learn_bpe(sample, num_merges=_BPE_MERGES)

    enc = bpe_encode(docs, merges, carry_cols=["source", "lang"])
    return (
        enc.where(F.col("n_words") > 0)
        .groupBy("source", "lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
        .select(
            "source",
            "lang",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("CAST((n_tokens * 1000000) DIV n_chars AS BIGINT)").alias(
                "compression_ppm"
            ),
            F.lit(len(merges)).cast("bigint").alias("n_merges"),
        )
        .orderBy("source", "lang")
    )


def _learn_iter_sql(k: int) -> str:
    """One unrolled BPE learning iteration (materialized CTEs —
    vocab_{k-1} is referenced twice, so inlining would blow up
    exponentially)."""
    p = f"vocab_{k - 1}"
    return f"""
pairs_{k} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
  FROM (SELECT unnest(range(1, len(syms))) AS i, syms, cnt FROM {p})
  GROUP BY 1, 2),
best_{k} AS (SELECT l, r FROM pairs_{k} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
expl_{k} AS MATERIALIZED (SELECT syms, cnt, unnest(range(1, len(syms)+1)) AS j FROM {p}),
mt_{k} AS (
  SELECT e.syms, e.j, row_number() OVER (PARTITION BY e.syms ORDER BY e.j) AS rn
  FROM expl_{k} e, best_{k} b
  WHERE e.j < len(e.syms) AND e.syms[e.j] = b.l AND e.syms[e.j+1] = b.r),
sel_{k} AS MATERIALIZED (
  SELECT syms, j FROM (
    SELECT syms, j, row_number() OVER (PARTITION BY syms, j - rn ORDER BY j) AS k2
    FROM mt_{k}) WHERE k2 % 2 = 1),
vocab_{k} AS MATERIALIZED (
  SELECT nsyms AS syms, CAST(sum(c0) AS BIGINT) AS cnt FROM (
    SELECT e.syms AS osyms, any_value(e.cnt) AS c0,
           list(CASE WHEN s1.j IS NOT NULL THEN e.syms[e.j] || e.syms[e.j+1] ELSE e.syms[e.j] END
                ORDER BY e.j) FILTER (WHERE s2.j IS NULL) AS nsyms
    FROM expl_{k} e
    LEFT JOIN sel_{k} s1 ON s1.syms = e.syms AND s1.j = e.j
    LEFT JOIN sel_{k} s2 ON s2.syms = e.syms AND s2.j = e.j - 1
    GROUP BY e.syms
  ) GROUP BY nsyms)"""


def _bpe_oracle_sql() -> str:
    iters = ",".join(_learn_iter_sql(k) for k in range(1, _BPE_MERGES + 1))
    merges_union = "\n  UNION ALL ".join(
        f"SELECT {k - 1} AS rank, l, r FROM best_{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"""
WITH RECURSIVE
sample AS (SELECT text FROM documents WHERE doc_id < {_BPE_SAMPLE_MAX_DOC}),
swords AS (SELECT w, count(*) AS cnt
           FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM sample) GROUP BY w),
vocab_0 AS MATERIALIZED (
  SELECT list_concat(string_split(w,'')[1:length(w)-1],
                     [string_split(w,'')[length(w)] || '</w>']) AS syms,
         CAST(sum(cnt) AS BIGINT) AS cnt
  FROM swords GROUP BY 1),
{iters},
merges AS ({merges_union}),
rmap AS (SELECT map_from_entries(list(struct_pack(k := l || ' ' || r, v := rank))) AS m FROM merges),
corpus AS (SELECT source, lang, unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents),
wstats AS (SELECT source, lang, w, count(*) AS c FROM corpus GROUP BY 1, 2, 3),
dwords AS (SELECT DISTINCT w FROM wstats),
enc(w, syms) AS (
  SELECT w, list_concat(string_split(w,'')[1:length(w)-1],
                        [string_split(w,'')[length(w)] || '</w>']) FROM dwords
  UNION ALL
  SELECT w, list_concat(list_concat(syms[1:bi-1], [syms[bi] || syms[bi+1]]), syms[bi+2:len(syms)])
  FROM (
    SELECT w, syms, list_min(pr) AS br, list_position(pr, list_min(pr)) AS bi
    FROM (SELECT e.w, e.syms,
                 list_transform(range(1, len(e.syms)),
                                i -> coalesce(map_extract(r.m, e.syms[i] || ' ' || e.syms[i+1])[1], 1000000)) AS pr
          FROM enc e, rmap r)
  ) WHERE br < 1000000),
wtok AS (SELECT w, CAST(min(len(syms)) AS BIGINT) AS ntok FROM enc GROUP BY w)
SELECT source, lang,
       CAST(sum(c) AS BIGINT) AS n_words,
       CAST(sum(c * ntok) AS BIGINT) AS n_tokens,
       CAST(sum(c * length(w)) AS BIGINT) AS n_chars,
       CAST((sum(c * ntok) * 1000000) // sum(c * length(w)) AS BIGINT) AS compression_ppm,
       CAST((SELECT count(*) FROM merges) AS BIGINT) AS n_merges
FROM wstats JOIN wtok USING (w)
GROUP BY source, lang ORDER BY source, lang
"""


QUERIES.update({"bpe_token_stats": q_bpe_token_stats})
ORACLES.update({"bpe_token_stats": _bpe_oracle_sql()})


# ---------------------------------------------------------------------------
# jpeg_decode_stats — the from-scratch baseline JPEG decoder (VERDICT
# r10 #5) under the driver gate, on the png_decode_stats pattern:
# deterministic grayscale JPEGs synthesized from document text bytes
# (each of the first 16 UTF-8 bytes becomes one FLAT 8x8 block of a
# 32x32 image — per-block-constant images roundtrip BIT-EXACTLY
# through the all-ones quant tables, so the decode is value-gated,
# not tolerance-gated), decoded back by the real decoder
# (operators/codecs.py::decode_jpeg: huffman + dequant + IDCT), and
# reduced to TWO integer sums the oracle recomputes straight from the
# text bytes: the plain luminance sum AND a block-position-WEIGHTED
# sum (weight k+1 for block k in raster order) — a decoder that
# permuted, dropped, or mis-predicted blocks passes the first but not
# the second.  The oracle never sees a JPEG.  Decoder correctness
# beyond this path (AC coefficients, subsampling, restarts, color) is
# pinned by hand-assembled fixed test vectors in test_operators.py.
# ---------------------------------------------------------------------------

_JPG_BLOCKS = 16  # 4x4 grid of 8x8 blocks = 32x32 px
_JPG_W = _JPG_H = 32


def q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG decode path, value-gated end-to-end.

    Scale audit: synthesis and decode are one Arrow mapInPandas pass
    each over a pruned 2-column scan — no shuffle, no collect; the
    per-image work is O(pixels) huffman/IDCT on 32x32 thumbnails.  At
    100 TB this is a pure map pipeline like the BMP/PNG/WAV twins."""
    import numpy as np

    from ..operators import codecs
    from ..operators.multimodal import MEDIA_SCHEMA

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"media_id": [], "modality": [], "content": [], "meta": []}
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")[:_JPG_BLOCKS]
                vals = np.zeros(_JPG_BLOCKS, dtype=np.uint8)
                vals[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
                img = np.repeat(np.repeat(vals.reshape(4, 4), 8, 0), 8, 1)
                jpg = codecs.encode_jpeg(img)
                rows["media_id"].append(mid)
                rows["modality"].append("image")
                rows["content"].append(jpg)
                rows["meta"].append(
                    {
                        "mime": "image/jpeg",
                        "width": _JPG_W,
                        "height": _JPG_H,
                        "duration_ms": None,
                        "n_bytes": len(jpg),
                    }
                )
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(synth, schema=MEDIA_SCHEMA)

    # block-raster weights: pixel (y, x) belongs to block
    # (y//8)*4 + x//8, weighted k+1
    wgrid = (
        (np.arange(_JPG_H)[:, None] // 8) * 4 + (np.arange(_JPG_W)[None, :] // 8) + 1
    ).astype(np.int64)

    stats_schema = "media_id long, decode_ok boolean, sum_lum long, wsum_lum long"

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "decode_ok": [], "sum_lum": [], "wsum_lum": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    px = codecs.decode_jpeg(bytes(content))[:, :, 0].astype(np.int64)
                    out["decode_ok"].append(True)
                    out["sum_lum"].append(int(px.sum()))
                    out["wsum_lum"].append(int((px * wgrid).sum()))
                except ValueError:
                    out["decode_ok"].append(False)
                    out["sum_lum"].append(0)
                    out["wsum_lum"].append(0)
                out["media_id"].append(mid)
            yield pd.DataFrame(out)[["media_id", "decode_ok", "sum_lum", "wsum_lum"]]

    return media.mapInPandas(decode, schema=stats_schema).orderBy("media_id")


# flat block k (1-based position i in the oracle) contributes
# byte*64 to the sum and byte*64*i to the weighted sum; bytes come
# from to_hex(encode(text)) — UTF-8 BYTE truncation like the Spark
# side (the bmp_decode_stats rule, ADVICE r5)
_ORACLE_JPEG_STATS = f"""
WITH base AS (SELECT doc_id, substr(to_hex(encode(text)), 1, {2 * _JPG_BLOCKS}) AS hx
              FROM documents WHERE doc_id < 200),
pos AS (SELECT doc_id, i,
               ('0x' || substr(hx, CAST(2 * i - 1 AS INTEGER), 2))::INTEGER AS b
        FROM base, unnest(range(1, {_JPG_BLOCKS + 1})) AS r(i)
        WHERE 2 * i <= length(hx)),
agg AS (SELECT doc_id, sum(b * 64) AS s, sum(b * 64 * i) AS ws FROM pos GROUP BY 1)
SELECT b.doc_id AS media_id, TRUE AS decode_ok,
       CAST(coalesce(s, 0) AS BIGINT) AS sum_lum,
       CAST(coalesce(ws, 0) AS BIGINT) AS wsum_lum
FROM base b LEFT JOIN agg USING (doc_id) ORDER BY media_id
"""

QUERIES.update({"jpeg_decode_stats": q_jpeg_decode_stats})
ORACLES.update({"jpeg_decode_stats": _ORACLE_JPEG_STATS})


# ---------------------------------------------------------------------------
# jq_keys_explode — keys/keys_unsorted UNDER AN ITERATE (r11)
# ---------------------------------------------------------------------------


def q_jq_keys_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.items[] | keys_unsorted`` and ``.items[] | keys`` (r11,
    VERDICT r10 #6) over DATA-DEPENDENT object keys.

    Each document becomes ``{"items": [m1, m2]}`` where m1 is a
    2-entry JSON object keyed by (source, lang) IN THAT ORDER — NOT
    codepoint order, so keys_unsorted (document order) and keys
    (codepoint-sorted) genuinely differ — and m2 is a 1-entry object
    with a composite key.  Iterating programs run on the Python tier,
    which measured faster than the former native explode plans.

    Scale shape: one pruned scan per program, a per-row jq pass
    (narrow), and a low-cardinality groupBy — one shuffle of
    (variant, joined-keys) pairs after map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.array(
                    F.create_map(
                        F.col("source"), F.col("n_chars").cast("double"),
                        F.col("lang"), F.col("doc_id").cast("double"),
                    ),
                    F.create_map(
                        F.concat_ws("-", "lang", "source"),
                        F.col("n_chars").cast("double"),
                    ),
                ).alias("items")
            )
        ).alias("doc"),
    )
    # no min_parallelism: a repartition of this one-row-group input
    # measured slower than the two branches' parallel scans
    xu = jq_explode(
        j, "doc", ".items[] | keys_unsorted", "array<string>",
    ).select(
        F.lit("unsorted").alias("variant"),
        F.array_join("col1", ",").alias("ks"),
        "doc_id",
    )
    xs = jq_explode(
        j, "doc", ".items[] | keys", "array<string>"
    ).select(
        F.lit("sorted").alias("variant"),
        F.array_join("col1", ",").alias("ks"),
        "doc_id",
    )
    return (
        xu.unionAll(xs)
        .groupBy("variant", "ks")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc"))
        .orderBy("variant", "ks")
    )


# keys_unsorted of m1 is [source, lang] (document order), keys is the
# codepoint-sorted pair; m2 contributes its single composite key to
# both variants.  Everything derives from the raw columns, so a key
# dropped, reordered, or re-sorted anywhere in the native explode is
# a value mismatch here.
_ORACLE_JQ_KEYS_EXPLODE = """
WITH u AS (
  SELECT 'unsorted' AS variant, source || ',' || lang AS ks, doc_id FROM documents
  UNION ALL
  SELECT 'unsorted', lang || '-' || source, doc_id FROM documents
  UNION ALL
  SELECT 'sorted',
         CASE WHEN lang < source THEN lang || ',' || source
              ELSE source || ',' || lang END,
         doc_id FROM documents
  UNION ALL
  SELECT 'sorted', lang || '-' || source, doc_id FROM documents
)
SELECT variant, ks, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS first_doc
FROM u GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES.update({"jq_keys_explode": q_jq_keys_explode})
ORACLES.update({"jq_keys_explode": _ORACLE_JQ_KEYS_EXPLODE})
