"""DuckDB oracle SQL for the pipeline operators — built from the SAME
constants as the Spark expressions (tokenc.pipeline.dedup/textstats/simsearch)
so both engines compute identical integer arithmetic."""

from __future__ import annotations

from .dedup import BANDS, K_PERMS, MERSENNE, PERM_A, PERM_B, ROWS_PER_BAND
from .simsearch import DIM, PLANE_EXPR
from .textstats import LANG_MARKERS, STOPWORDS

_WID = "(length({w})*31 + ascii({w}[1])*7 + ascii({w}[-1])) % 50000"
_WS = "list_filter(string_split(text, ' '), w -> length(w) > 0)"


def _shingle_cte(src: str = "documents") -> str:
    wid = _WID.format(w="w")
    return f"""
      w AS (SELECT doc_id, {_WS} AS ws FROM {src}),
      ids AS (SELECT doc_id,
                     list_transform(ws, w -> cast({wid} AS bigint)) AS wids,
                     len(ws) AS n FROM w),
      sh AS (SELECT doc_id,
                    list_sort(list_distinct(list_transform(
                        -- least(n,1) makes the range EMPTY for zero-word
                        -- docs (mirrors the Spark side's empty-array case)
                        range(1, greatest(n - 2, least(n, 1)) + 1),
                        i -> (wids[i] * 2654435761
                              + wids[least(i + 1, n)] * 40503
                              + wids[least(i + 2, n)]) % 2147483648))) AS shingles
             FROM ids)"""


def _band_exprs() -> list[str]:
    sig_terms = [
        f"list_min(list_transform(shingles, h -> (h * {PERM_A[i]} + {PERM_B[i]}) % {MERSENNE}))"
        for i in range(K_PERMS)]
    bands = []
    for b in range(BANDS):
        terms = sig_terms[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
        combined = " + ".join(f"({t}) * {31 ** j}" for j, t in enumerate(terms))
        bands.append(f"(({combined}) % 9223372036854775783)")
    return bands


def dedup_exact_sql() -> str:
    return """
        SELECT sha256(text) AS content_sha, count(*) AS dup_count,
               min(doc_id) AS keeper_id
        FROM documents GROUP BY sha256(text)"""


def minhash_neardup_sql(threshold: float = 0.6, bucket_cap: int = 64) -> str:
    """Mirrors dedup.minhash_neardup: signatures over exact-content
    representatives, buckets wider than bucket_cap dropped."""
    bands = _band_exprs()
    band_cols = ", ".join(f"{e} AS band_{b}" for b, e in enumerate(bands))
    union = " UNION ALL ".join(
        f"SELECT doc_id, band_{b} AS band_hash, {b} AS band FROM sig" for b in range(BANDS))
    return f"""
        WITH reps AS (SELECT min(cast(doc_id AS bigint)) AS doc_id, text
                      FROM documents GROUP BY text),
        {_shingle_cte('reps')},
        sig AS (SELECT doc_id, {band_cols} FROM sh),
        bands_all AS ({union}),
        kept AS (SELECT band, band_hash FROM bands_all
                 GROUP BY band, band_hash HAVING count(*) <= {bucket_cap}),
        bands AS (SELECT b.* FROM bands_all b JOIN kept USING (band, band_hash)),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id)
        SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
               round(cast(len(list_intersect(sa.shingles, sb.shingles)) AS double)
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
        FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
        WHERE round(cast(len(list_intersect(sa.shingles, sb.shingles)) AS double)
                    / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) >= {threshold}"""


def simhash_sql(bits: int = 32) -> str:
    wid = _WID.format(w="w")
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(wh, h -> CASE WHEN (h & {1 << b}) > 0 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    return f"""
        WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
        h AS (SELECT doc_id, list_transform(ws,
                 w -> (cast({wid} AS bigint) * 2654435761) % 4294967296) AS wh FROM w)
        SELECT cast(doc_id AS bigint) AS doc_id, cast({terms} AS bigint) AS simhash FROM h"""


def token_stats_sql() -> str:
    return f"""
        WITH w AS (SELECT doc_id, text, {_WS} AS ws FROM documents)
        SELECT cast(doc_id AS bigint) AS doc_id,
               cast(len(ws) AS int) AS n_words,
               cast(length(text) AS int) AS n_chars,
               cast(ceil(length(replace(text, ' ', '')) / 4.0) AS bigint) AS n_subwords_est,
               cast(len(list_filter(ws, w -> regexp_matches(w, '^[0-9]+$'))) AS int) AS n_numeric,
               cast(list_sum(list_transform(ws, w -> length(w))) AS double)
                 / nullif(len(ws), 0) AS mean_word_len
        FROM w"""


def quality_score_sql() -> str:
    stop = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
        WITH w AS (SELECT doc_id, text, {_WS} AS ws FROM documents),
        f AS (SELECT cast(doc_id AS bigint) AS doc_id,
                     cast(len(ws) AS int) AS n_words,
                     cast(len(list_filter(ws, w -> list_contains({stop}, w))) AS bigint) AS n_stop,
                     cast(len(list_distinct(ws)) AS bigint) AS n_distinct,
                     round(cast(len(list_filter(ws, w -> list_contains({stop}, w))) AS double)
                           / nullif(len(ws), 0), 6) AS stop_ratio,
                     round(cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
                           / nullif(length(text), 0), 6) AS punct_ratio,
                     round(cast(len(list_distinct(ws)) AS double)
                           / nullif(len(ws), 0), 6) AS distinct_ratio
              FROM w)
        SELECT doc_id, n_words, stop_ratio, punct_ratio, distinct_ratio,
               CASE WHEN n_words = 0 THEN 0 ELSE
               cast(least(cast(n_words AS bigint) * 4000, 400000)
                    + least((1500000 * n_stop) // n_words, 300000)
                    + (300000 * n_distinct) // n_words AS bigint) END AS quality_ppm
        FROM f"""


def lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    hit_cols = ", ".join(
        "cast(len(list_filter(ws, w -> list_contains(["
        + ",".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "], w))) AS int) AS hits_" + lang
        for lang in langs)
    struct_list = "[" + ",".join(
        f"struct_pack(hits := hits_{lang}, lang := '{lang}')" for lang in langs) + "]"
    return f"""
        WITH w AS (SELECT doc_id, lang, {_WS} AS ws FROM documents),
        h AS (SELECT cast(doc_id AS bigint) AS doc_id, lang AS labeled_lang, {hit_cols} FROM w)
        SELECT doc_id, labeled_lang, {", ".join("hits_" + lang for lang in langs)},
               list_max({struct_list}).lang AS predicted_lang
        FROM h"""


def fingerprint_sql() -> str:
    wid = _WID.format(w="w")
    m = 2305843009213693951
    return f"""
        WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents)
        SELECT cast(doc_id AS bigint) AS doc_id,
               -- zero-word guard: list_reduce errors on an empty list;
               -- both engines define an empty doc's fingerprint as 0
               CASE WHEN len(ws) = 0 THEN 0 ELSE
               list_reduce(list_transform(ws, (w, i) -> cast({wid} AS bigint) * i),
                           (a, x) -> (a + x) % {m}) END AS fp_ordered,
               CASE WHEN len(ws) = 0 THEN 0 ELSE
               list_reduce(list_transform(ws, w -> cast({wid} AS bigint) * cast({wid} AS bigint)),
                           (a, x) -> (a + x) % {m}) END AS fp_bag
        FROM w"""


def embed_neardup_sql(threshold: float = 0.4, n_planes: int = 32,
                      n_tables: int = 8, bucket_cap: int = 4096) -> str:
    """Replicates simsearch.embed_neardup: OR-amplified LSH tables →
    bucket-co-located candidate pairs → exact cosine ≥ threshold."""
    bits = n_planes // n_tables
    band_cols = []
    for t in range(n_tables):
        terms = []
        for j in range(bits):
            plane = PLANE_EXPR.format(p=t * bits + j, d="i - 1")
            dot = (f"list_sum(list_transform(embedding, (x, i) -> "
                   f"cast(x AS double) * ({plane})))")
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        band_cols.append(" + ".join(terms) + f" AS b{t}")
    union = " UNION ALL ".join(
        f"SELECT vid, {t} AS tbl, b{t} AS bucket FROM sig" for t in range(n_tables))
    cos = ("list_sum(list_transform(ea.embedding, (x, i) -> cast(x AS double) * cast(eb.embedding[i] AS double)))"
           " / nullif(sqrt(list_sum(list_transform(ea.embedding, x -> cast(x AS double) * cast(x AS double))))"
           " * sqrt(list_sum(list_transform(eb.embedding, x -> cast(x AS double) * cast(x AS double)))), 0)")
    return f"""
        WITH sig AS (SELECT cast(vec_id AS bigint) AS vid, {', '.join(band_cols)}
                     FROM embeddings),
        tb_all AS ({union}),
        kept AS (SELECT tbl, bucket FROM tb_all
                 GROUP BY tbl, bucket HAVING count(*) <= {bucket_cap}),
        tb AS (SELECT t.* FROM tb_all t JOIN kept USING (tbl, bucket)),
        pairs AS (SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
                  FROM tb a JOIN tb b
                    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vid < b.vid)
        SELECT id_a, id_b, round({cos}, 4) AS cosine
        FROM pairs
        JOIN embeddings ea ON cast(ea.vec_id AS bigint) = id_a
        JOIN embeddings eb ON cast(eb.vec_id AS bigint) = id_b
        WHERE round({cos}, 4) >= {threshold}"""


def mm_features_sql(n_media: int = 64) -> str:
    """Integer recomputation of the REAL media decode
    (multimodal.synth_media_df): pixels/samples from the deterministic
    formulas, per-16-stride sums over the decoded flat signal, and each
    payload's exact encoded size from the format framing (PPM ASCII
    header, BMP 54-byte headers + 4-byte row padding, WAV 44-byte RIFF)."""
    return f"""
        WITH m AS (
          SELECT cast(i AS int) AS media_id,
                 CASE WHEN i % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                 CASE WHEN i % 4 = 0 THEN 'ppm'
                      WHEN i % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
                 8 + i % 5 AS w, 8 + (i*3) % 7 AS h,
                 256 + (i*37) % 512 AS ns
          FROM range({n_media}) t(i)),
        m2 AS (
          SELECT media_id, kind, fmt,
                 CASE WHEN kind = 'image' THEN 3*w*h ELSE ns END AS L,
                 cast(CASE WHEN fmt = 'ppm'
                      THEN 9 + length(cast(w AS varchar))
                             + length(cast(h AS varchar)) + 3*w*h
                      WHEN fmt = 'bmp'
                      THEN 54 + h * ((3*w + 3) // 4 * 4)
                      ELSE 44 + 2*ns END AS int) AS n_bytes
          FROM m),
        d AS (SELECT media_id, kind, fmt, n_bytes, L, cast(k AS int) AS dim
              FROM m2, range(16) kk(k))
        SELECT media_id, kind, fmt, n_bytes, dim,
          cast(list_sum(list_transform(range(0, (L - dim + 15) // 16),
             r -> CASE WHEN kind = 'image'
                  THEN (media_id*131 + ((r*16 + dim) // 3)*31
                        + ((r*16 + dim) % 3)*97 + 7) % 256
                  ELSE ((media_id*211 + (r*16 + dim)*13) % 4096) - 2048
                  END)) AS bigint) AS col_sum
        FROM d"""


def brute_topk_sql(k: int = 5, n_queries: int = 20) -> str:
    dot = ("list_sum(list_transform(q.qe, (x, i) -> "
           "cast(x AS double) * cast(c.embedding[i] AS double)))")
    nq = "sqrt(list_sum(list_transform(q.qe, x -> cast(x AS double) * cast(x AS double))))"
    nc = "sqrt(list_sum(list_transform(c.embedding, x -> cast(x AS double) * cast(x AS double))))"
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {n_queries}),
        scored AS (
          SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
                 {dot} / nullif({nq} * {nc}, 0) AS cos
          FROM embeddings c, q WHERE c.vec_id != q.qid),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, round(cos, 4) AS cosine, cast(rank AS int) AS rank
        FROM ranked WHERE rank <= {k}"""
