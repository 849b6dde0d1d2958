"""DuckDB oracle-SQL generators for the driver's correctness gate.

The centerpiece is a pure-SQL re-implementation of the engine's leaf
cell-id encoding (cube-face projection + linear ST + 4-bit-lookup
Hilbert encode, mirroring /root/reference/src/cell_id.rs:175-238 and
507-557): the 1024-entry LOOKUP_POS table is embedded as a VALUES list
and the 8 lookup iterations are unrolled as chained CTEs.  Because the
point derivation below uses only +,-,*,/ and integer mod (all exactly
rounded IEEE-754 ops — no trig), DuckDB and Spark produce *bit-identical*
doubles, so the oracle verifies the Hilbert core bit-for-bit.

Cell-id hierarchy math on signed BIGINT (parent/range/level) is
two's-complement bit arithmetic, identical to the u64 semantics.
"""

from __future__ import annotations

from s2_geometry_rust_spark.kernels.hilbert import LOOKUP_IJ, LOOKUP_POS

U63 = 9223372036854775808  # 2^63
U64 = 18446744073709551616  # 2^64


def lookup_pos_sql_values() -> str:
    """The LOOKUP_POS table as a SQL VALUES list ``(idx, val)``.

    Used to embed the Hilbert encoding into DuckDB oracle SQL so that even
    the cell-id math itself can be verified by an independent engine.
    """
    return ", ".join(f"({i}, {int(v)})" for i, v in enumerate(LOOKUP_POS))


def lookup_ij_sql_values() -> str:
    """The LOOKUP_IJ (inverse) table as a SQL VALUES list ``(idx, val)``
    — lets oracle SQL run the exact Hilbert inverse (cell id -> face,i,j)
    and therefore recompute true cell geometry independently."""
    return ", ".join(f"({i}, {int(v)})" for i, v in enumerate(LOOKUP_IJ))


def derived_points_sql(table: str = "customer", key: str = "c_custkey") -> str:
    """Deterministic pseudo-random direction vector per key.

    Integer mod then double division: every op is exactly rounded, so
    any IEEE engine computes the same bits.  The vector is never zero
    (components are (int - 498.5)/498.5-style with integer numerators).
    The projection is gnomonic (ratios), so no normalization is needed.
    """
    return f"""
SELECT {key} AS point_id,
       (({key}*37) % 997) / 498.5 - 1.0 AS x,
       (({key}*73) % 991) / 495.5 - 1.0 AS y,
       (({key}*101) % 983) / 491.5 - 1.0 AS z
FROM {table}
"""


def _hilbert_chain(points_sql: str, prefix: str) -> str:
    """CTE fragments (no WITH keyword) from a points relation to
    ``{prefix}leaf(point_id, face, cell_id BIGINT)``; the shared ``lut``
    table must be emitted once by the caller."""
    p = prefix
    steps = []
    prev = f"{p}s0"
    for k in range(7, -1, -1):
        nm = f"{p}s{8 - k}"
        steps.append(
            f"{nm} AS (SELECT q.point_id, q.face, q.i, q.j, "
            f"q.n | ((l.r::UBIGINT >> 2) << {k * 8}) AS n, "
            f"(l.r::UBIGINT & 3) AS bits "
            f"FROM {prev} q JOIN lut l ON l.idx = CAST(q.bits + "
            f"(((q.i >> {k * 4}) & 15) << 6) + (((q.j >> {k * 4}) & 15) << 2)"
            f" AS BIGINT))"
        )
        prev = nm
    chain = ",\n".join(steps)
    return f"""
{p}pts AS ({points_sql}),
{p}fuv AS (
  SELECT point_id,
    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
         WHEN abs(y) >= abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
         ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face,
    x, y, z FROM {p}pts),
{p}uv AS (
  SELECT point_id, face,
    CASE face WHEN 0 THEN y/x WHEN 3 THEN -z/(-x) WHEN 1 THEN -x/y WHEN 4 THEN z/(-y) WHEN 2 THEN -y/z ELSE -x/(-z) END AS u,
    CASE face WHEN 0 THEN z/x WHEN 3 THEN -y/(-x) WHEN 1 THEN z/y WHEN 4 THEN x/(-y) WHEN 2 THEN -x/z ELSE y/(-z) END AS v
  FROM {p}fuv),
{p}ij AS (
  SELECT point_id, face,
    CAST(trunc(LEAST(GREATEST(0.5*(u+1.0)*1073741824.0, 0.0), 1073741823.0)) AS UBIGINT) AS i,
    CAST(trunc(LEAST(GREATEST(0.5*(v+1.0)*1073741824.0, 0.0), 1073741823.0)) AS UBIGINT) AS j
  FROM {p}uv),
{p}s0 AS (SELECT point_id, face, i, j, (face::UBIGINT << 60) AS n, (face::UBIGINT & 1) AS bits FROM {p}ij),
{chain},
{p}leaf AS (
  SELECT point_id, face,
    CASE WHEN hv >= {U63} THEN CAST(hv - {U64} AS BIGINT) ELSE CAST(hv AS BIGINT) END AS cell_id
  FROM (SELECT point_id, face, n::HUGEINT * 2 + 1 AS hv FROM {prev})
)
"""


def hilbert_leaf_cte(points_sql: str) -> str:
    """WITH-clause prefix ending in relation ``leaf(point_id, face,
    cell_id BIGINT)`` — the full reference encoding in SQL."""
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(points_sql, "")
    )


def parent_sql(col: str, level: int) -> str:
    """parent-at-level on signed BIGINT (cell_id.rs:297-305); leaf input
    is always below the target level so no identity guard is needed."""
    lsb = 1 << (2 * (30 - level))
    return f"(({col} & {-lsb}) | {lsb})"


def token_sql(col: str) -> str:
    """Hex token (cell_id.rs:369-383) for nonzero ids."""
    return (
        f"CASE WHEN {col} = 0 THEN 'X' ELSE "
        f"coalesce(nullif(regexp_replace(printf('%016x', {col}), '0+$', ''), ''), '0') END"
    )


def leaf_assign_sql(table: str = "customer", key: str = "c_custkey") -> str:
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    return (
        cte
        + f"SELECT point_id, cell_id, face, {token_sql('cell_id')} AS token FROM leaf"
    )


def tile_counts_sql(level: int, table: str = "customer",
                    key: str = "c_custkey") -> str:
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    p = parent_sql("cell_id", level)
    return (
        cte
        + f"SELECT {p} AS tile_id, {token_sql(p)} AS tile_token, "
        f"count(*) AS n_points FROM leaf GROUP BY 1, 2"
    )


def face_counts_sql(table: str = "customer", key: str = "c_custkey") -> str:
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    return cte + "SELECT face, count(*) AS n_points FROM leaf GROUP BY face"


def point_cloud_index_sql(n_shapes: int = 32, level: int = 15,
                          table: str = "customer",
                          key: str = "c_custkey") -> str:
    """Table-scale point-cloud shape index: degenerate edges (v0 == v1,
    point_shape.rs:37/:84) grouped into ``n_shapes`` clouds, edge ids =
    within-shape point order (single default chain, shape.rs:159-172),
    index cell = v0 leaf's level-15 parent
    (mutable_shape_index.rs:169-193) — all replayed over the SQL
    Hilbert encoder."""
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    p = parent_sql("cell_id", level)
    return cte + f""",
shaped AS (
  SELECT CAST(point_id % {n_shapes} AS BIGINT) AS shape_id,
         {p} AS icell,
         CAST(row_number() OVER (
             PARTITION BY point_id % {n_shapes} ORDER BY point_id
           ) - 1 AS BIGINT) AS edge_id
  FROM leaf)
SELECT shape_id, icell AS cell_id, {token_sql('icell')} AS cell_token,
       count(*) AS n_edges,
       min(edge_id) AS min_edge_id, max(edge_id) AS max_edge_id
FROM shaped GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# geometry joins on derived lat/lng (affine from keys — no trig, bit-exact)
# ---------------------------------------------------------------------------

def derived_latlng_sql(table: str = "customer", key: str = "c_custkey") -> str:
    return f"""
SELECT {key} AS point_id,
       (({key}*37) % 181)::DOUBLE - 90.0 + 0.25 AS lat,
       (({key}*73) % 361)::DOUBLE - 180.0 + 0.25 AS lng
FROM {table}
"""


RECTS_SQL = """
(VALUES ('band', -5.0, 5.0, -30.0, 30.0),
        ('wrap', -10.0, 10.0, 170.0, -170.0),
        ('north', 60.0, 90.0, -180.0, 180.0))
  AS r(region_id, lat_lo, lat_hi, lng_lo, lng_hi)
"""


def point_in_rect_sql(table: str = "customer", key: str = "c_custkey") -> str:
    return f"""
WITH pts AS ({derived_latlng_sql(table, key)})
SELECT p.point_id, r.region_id, p.lat, p.lng
FROM pts p CROSS JOIN {RECTS_SQL}
WHERE p.lat BETWEEN r.lat_lo AND r.lat_hi
  AND (CASE WHEN r.lng_lo > r.lng_hi
            THEN p.lng >= r.lng_lo OR p.lng <= r.lng_hi
            ELSE p.lng BETWEEN r.lng_lo AND r.lng_hi END)
"""


CENTERS_SQL = """
(VALUES ('c0', 0.5, 0.5, 0.5),
        ('c1', -0.25, 0.8, -0.1),
        ('c2', 0.9, -0.3, 0.2))
  AS c(center_id, cx, cy, cz)
"""


def distance_join_sql(radius_chord2: float = 0.05,
                      table: str = "customer", key: str = "c_custkey") -> str:
    return f"""
WITH pts AS ({derived_points_sql(table, key)})
SELECT p.point_id, c.center_id,
       (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy) + (p.z-c.cz)*(p.z-c.cz) AS chord2
FROM pts p CROSS JOIN {CENTERS_SQL}
WHERE (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy) + (p.z-c.cz)*(p.z-c.cz) <= {radius_chord2!r}
"""


def knn_sql(k: int = 10, q_table: str = "supplier", q_key: str = "s_suppkey",
            n_queries: int = 20, c_table: str = "customer",
            c_key: str = "c_custkey") -> str:
    return f"""
WITH q AS (SELECT * FROM ({derived_points_sql(q_table, q_key)}) WHERE point_id < {n_queries}),
c AS ({derived_points_sql(c_table, c_key)}),
pairs AS (
  SELECT q.point_id AS query_id, c.point_id AS neighbor_id,
         (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y) + (q.z-c.z)*(q.z-c.z) AS chord2
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY chord2, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank, chord2 FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# text / dedup oracles over the documents table
# ---------------------------------------------------------------------------

def union_leaf_cells_sql(table: str = "customer",
                         key: str = "c_custkey") -> str:
    """Unions built from derived points: union_id = point_id % 10,
    member cell = parent at level (point_id % 21 + 10).  leaf count =
    4^(30-level) — POWER is exact here (4^20 < 2^53)."""
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    return cte + """
, members AS (
  SELECT point_id % 10 AS union_id,
         point_id % 21 + 10 AS lv,
         cell_id
  FROM leaf
), cells AS (
  SELECT union_id,
         (cell_id & -CAST(power(4, 30 - lv) AS BIGINT)) | CAST(power(4, 30 - lv) AS BIGINT) AS cell_id,
         lv
  FROM members
), dedup AS (
  SELECT DISTINCT union_id, cell_id, lv FROM cells
)
SELECT union_id,
       CAST(SUM(CAST(power(4, 30 - lv) AS HUGEINT)) AS BIGINT) AS leaf_cells_covered,
       count(*) AS n_cells
FROM dedup GROUP BY union_id
"""


def raster_join_sql(level: int = 6) -> str:
    """Raster-tile <-> vector equi-join: customer points against the
    distinct supplier tile set at the given level (two independent
    Hilbert chains sharing one lut)."""
    p = parent_sql("cell_id", level)
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(derived_points_sql("customer", "c_custkey"), "")
        + ","
        + _hilbert_chain(derived_points_sql("supplier", "s_suppkey"), "b_")
        + f"""
, raster AS (
  SELECT DISTINCT {p} AS tile_id FROM b_leaf
)
SELECT l.point_id, r.tile_id
FROM leaf l JOIN raster r ON {p.replace('cell_id', 'l.cell_id')} = r.tile_id
"""
    )


def dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
"""


def token_counts_sql() -> str:
    return r"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens
FROM documents
"""


def text_quality_sql() -> str:
    return r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars_calc
  FROM documents
), m AS (
  SELECT doc_id, n_chars_calc, len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS n_stop,
         n_chars_calc - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
  FROM t
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens > 0 THEN n_chars_calc::DOUBLE / n_tokens ELSE 0.0 END AS avg_token_len,
       CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END AS stopword_ratio,
       CASE WHEN n_chars_calc > 0 THEN n_punct::DOUBLE / n_chars_calc ELSE 0.0 END AS punct_ratio,
       LEAST(n_tokens::DOUBLE / 32.0, 1.0) * 0.5
       + LEAST((CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.3
       + (1.0 - LEAST((CASE WHEN n_chars_calc > 0 THEN n_punct::DOUBLE / n_chars_calc ELSE 0.0 END) * 4.0, 1.0)) * 0.2
         AS quality_score
FROM m
"""


def classifier_scores_sql(n_buckets: int = 1 << 20) -> str:
    """Hashed-linear classifier (mirror of
    operators/text.py:classifier_scores, derived-weights path): per
    lowercased token FNV-1a -> bucket = h mod n_buckets -> weight =
    ((bucket * FNV_PRIME) mod 2^64) mod 2001 - 1000; logit = exact
    integer sum; label = logit > 0."""
    mixed = _mulmod64_sql("bkt", FNV_PRIME)
    return rf"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS word
  FROM documents
), h AS (
  SELECT doc_id,
         ({_fnv1a_sql('word')})::UBIGINT % {n_buckets}::UBIGINT AS bkt
  FROM w
), wt AS (
  SELECT doc_id, CAST({mixed} % 2001 AS BIGINT) - 1000 AS wgt FROM h
), s AS (
  SELECT doc_id, count(*) AS n_tokens, sum(wgt) AS logit
  FROM wt GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       coalesce(CAST(s.logit AS BIGINT), 0) AS logit,
       CAST(CASE WHEN coalesce(s.logit, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS label
FROM documents d LEFT JOIN s USING (doc_id)
"""


def lang_id_sql() -> str:
    markers = {
        "en": ("the", "a", "and", "of"),
        "de": ("der", "die", "das", "und"),
        "fr": ("le", "la", "et", "les"),
        "es": ("el", "la", "los", "y"),
    }
    score_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x IN {m!r})) AS s_{lg}"
        for lg, m in markers.items()
    )
    langs = list(markers)
    best = "GREATEST(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         {score_cols}
  FROM t
)
SELECT doc_id, {case} AS lang_pred FROM s
"""


def doc_embedding_join_sql() -> str:
    """Mirror of engine_queries.doc_embedding_join_q (CAST keeps
    DuckDB's HUGEINT sum comparable to Spark's BIGINT)."""
    return """
SELECT d.lang, e.label, count(*) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY 1, 2
"""


def events_hourly_sql() -> str:
    """Hourly rollup with order-independent aggregates (integer cent
    sums commute; double sums would not)."""
    return """
SELECT date_trunc('hour', ts) AS ts_hour, event_type,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# hash-family oracles: fingerprints / simhash / minhash-LSH near-dup.
# All integer arithmetic is carried in HUGEINT with explicit % 2^64 to
# reproduce numpy's uint64 wraparound bit-for-bit; character codes come
# from string_split(text, '') + unicode() (the corpora are ASCII, so
# code points == UTF-8 bytes — asserted by the engine's test suite).
# ---------------------------------------------------------------------------

FNV_SEED = 1469598103934665603   # engine seed (operators/dedup.py, text.py)
FNV_PRIME = 1099511628211
SHINGLE_P = 0x100000001B3        # == FNV_PRIME; dedup.py _SHINGLE_P
MERSENNE61 = (1 << 61) - 1


def _u64_to_bigint(expr: str) -> str:
    """Reinterpret a HUGEINT holding a u64 value as signed BIGINT."""
    return (f"CASE WHEN {expr} >= {U63} THEN CAST({expr} - {U64} AS BIGINT) "
            f"ELSE CAST({expr} AS BIGINT) END")


def _fnv1a_sql(word_expr: str) -> str:
    """FNV-1a over the characters of a word, h=(h^b)*prime mod 2^64
    (mirror of operators/dedup.py:_fnv1a_bytes)."""
    return (
        f"list_reduce(list_prepend({FNV_SEED}::HUGEINT, "
        f"list_transform(string_split({word_expr}, ''), c -> unicode(c)::HUGEINT)), "
        f"(h, b) -> ((xor(h::UBIGINT, b::UBIGINT))::HUGEINT * {FNV_PRIME}) "
        f"% {U64}::HUGEINT)"
    )


def fingerprints_sql() -> str:
    """Rolling polynomial document hash, Horner form
    h = ((seed*257 + b0)*257 + b1)... mod 2^64
    (mirror of operators/text.py:fingerprints)."""
    return f"""
WITH fp AS (
  SELECT doc_id,
    list_reduce(list_prepend({FNV_SEED}::HUGEINT,
      list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT)),
      (h, b) -> (h * 257 + b) % {U64}::HUGEINT) AS v
  FROM documents
)
SELECT doc_id, {_u64_to_bigint('v')} AS fingerprint FROM fp
"""


def simhash_sql() -> str:
    """64-bit SimHash: per-word FNV-1a, bit-majority vote
    (mirror of operators/dedup.py:simhash_signatures)."""
    bit_counts = ",\n         ".join(
        f"sum(CAST((wh >> {j}) & 1 AS BIGINT)) AS c{j}" for j in range(64)
    )
    recombine = " + ".join(
        f"CASE WHEN 2*c{j} > n THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END"
        for j in range(64)
    )
    return rf"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS word
  FROM documents
), h AS (
  SELECT doc_id, ({_fnv1a_sql('word')})::UBIGINT AS wh FROM w
), b AS (
  SELECT doc_id, count(*) AS n,
         {bit_counts}
  FROM h GROUP BY doc_id
), s AS (
  SELECT doc_id, ({recombine}) AS hv FROM b
)
SELECT d.doc_id, coalesce({_u64_to_bigint('s.hv')}, 0) AS simhash
FROM documents d LEFT JOIN s USING (doc_id)
"""


def _shingle_sets_cte() -> str:
    """CTE fragments ending in ``shd(doc_id, s)``: the distinct k=3 word
    shingle hashes per document (mirror of dedup.py
    _stable_shingle_hashes: per-word FNV-1a, rolling polynomial combine
    over min(k, n_words) words, then unique)."""
    P = SHINGLE_P
    return rf"""
words AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), wh AS (
  SELECT doc_id, list_transform(ws, w -> {_fnv1a_sql('w')}) AS hs, len(ws) AS n
  FROM words
), sh AS (
  SELECT doc_id,
    list_transform(range(1, n - least(3, n) + 2), i ->
      CASE least(3, n)
        WHEN 1 THEN hs[i]
        WHEN 2 THEN (hs[i] * {P} + hs[i+1]) % {U64}::HUGEINT
        ELSE (((hs[i] * {P} + hs[i+1]) % {U64}::HUGEINT) * {P} + hs[i+2])
             % {U64}::HUGEINT
      END) AS shs
  FROM wh WHERE n > 0
), shd AS (
  SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest(shs) AS s FROM sh)
)"""


def _minhash_perm_values(n_perm: int = 128, seed: int = 42) -> str:
    """The engine's universal-hash parameters (dedup.py:_minhash_matrix
    draws a then b from numpy default_rng(seed)) as a VALUES list."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE61, size=n_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE61, size=n_perm, dtype=np.uint64)
    return ", ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
        for i in range(n_perm)
    )


def near_dup_pairs_sql(threshold: float = 0.5, n_perm: int = 128,
                       n_bands: int = 32,
                       max_per_bucket: int | None = None) -> str:
    """Full minhash-LSH near-dup pipeline (mirror of
    dedup.py:near_dedup_minhash): 128 minhashes -> 32 bands x 4 rows ->
    pairs sharing any band (bucket equality == band-slice equality,
    modulo the engine's xxhash64 bucketing whose collisions are ~2^-64)
    -> exact shingle-Jaccard filter.

    ``max_per_bucket`` replays the engine's deterministic hot-bucket
    guard: each (band, bucket) keeps only its first ``max_per_bucket``
    docs in (md5(doc_id::VARCHAR), doc_id) order — DuckDB's md5 of the
    same decimal string is byte-identical to Spark's, so the kept
    subset (and therefore the documented loss) replays exactly."""
    rows = n_perm // n_bands
    cap_filter = ""
    if max_per_bucket is not None:
        cap_filter = f"""
, bands AS (
  SELECT doc_id, band, key FROM (
    SELECT doc_id, band, key,
           row_number() OVER (
             PARTITION BY band, key
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS _r
    FROM bands_all
  ) WHERE _r <= {max_per_bucket}
)"""
    return f"""
WITH {_shingle_sets_cte()},
perms(perm, a, b) AS (VALUES {_minhash_perm_values(n_perm)}),
mins AS (
  SELECT shd.doc_id, p.perm,
         min(((p.a * shd.s + p.b) % {U64}::HUGEINT) % {MERSENNE61}) AS mv
  FROM shd, perms p GROUP BY shd.doc_id, p.perm
), sigs AS (
  SELECT doc_id, list(mv ORDER BY perm) AS sig FROM mins GROUP BY doc_id
), {"bands_all" if max_per_bucket is not None else "bands"} AS (
  SELECT doc_id, t.band,
         sig[t.band*{rows}+1 : t.band*{rows}+{rows}] AS key
  FROM sigs, range(0, {n_bands}) t(band)
){cap_filter}, cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
), sets AS (
  SELECT doc_id, list(s) AS ss FROM shd GROUP BY doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
      / greatest(len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)), 1)
      AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold!r}
"""


def dedup_clusters_sql(threshold: float = 0.5, n_perm: int = 128,
                       n_bands: int = 32) -> str:
    """Duplicate clustering oracle (mirror of dedup.py:
    duplicate_clusters): the near-dup pair pipeline, then connected
    components as a recursive reachability closure — every doc labeled
    with the minimum doc_id reachable through verified near-dup pairs
    (itself when isolated), plus the cluster size.  The engine computes
    the same components with alternating large-star/small-star; both
    must agree exactly because 'min node id reachable' is
    algorithm-independent."""
    return f"""
WITH RECURSIVE pairs AS ({near_dup_pairs_sql(threshold, n_perm, n_bands)}),
edges(eu, ev) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT eu, eu FROM edges
  UNION
  SELECT r.node, e.ev FROM reach r JOIN edges e ON e.eu = r.lbl
),
comp AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
),
assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assigned
"""


def corpus_filter_sql(quality_min: float = 0.5, lang: str = "en",
                      threshold: float = 0.5, n_perm: int = 128,
                      n_bands: int = 32) -> str:
    """Training-corpus materialization oracle (mirror of
    corpus.build_training_corpus): composes the individually-proven
    sub-oracles — quality scoring, language ID, md5 exact-keeper, and
    the recursive-closure duplicate clusters — into the same four-gate
    filter chain."""
    return f"""
WITH q AS ({text_quality_sql()}),
l AS ({lang_id_sql()}),
k AS (
  SELECT md5(text) AS m, min(doc_id) AS keep FROM documents GROUP BY 1
),
cl AS ({dedup_clusters_sql(threshold, n_perm, n_bands)})
SELECT d.doc_id, q.n_tokens, q.quality_score, l.lang_pred
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
JOIN k ON md5(d.text) = k.m AND d.doc_id = k.keep
JOIN cl ON cl.doc_id = d.doc_id AND cl.cluster_id = d.doc_id
WHERE q.quality_score >= {quality_min!r} AND l.lang_pred = '{lang}'
"""


# ---------------------------------------------------------------------------
# kNN oracles
# ---------------------------------------------------------------------------

def _parent_var_sql(col: str, lv_expr: str) -> str:
    """parent-at-variable-level: lsb = 4^(30-lv) (a power of two, exact
    in double for every level)."""
    lsb = f"CAST(power(4, 30 - {lv_expr}) AS BIGINT)"
    return f"(({col} & -{lsb}) | {lsb})"


def knn_cell_ring_sql(k: int = 10, start_level: int = 4,
                      margin_levels: int = 1, n_queries: int = 20) -> str:
    """Mirror of operators/knn.py:knn_cell_ring over the derived-point
    tables: (1) per-(level, cell) candidate density for levels
    0..start_level; (2) per query the deepest level with >= k candidates
    in the query's ancestor cell, minus the margin (floor 0, missing ->
    0); (3) candidate join on ancestor equality at that level, exact
    squared-chord top-k ordered (chord2, neighbor_id)."""
    levels_values = ", ".join(f"({lv})" for lv in range(start_level + 1))
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(derived_points_sql("customer", "c_custkey"), "")
        + ","
        + _hilbert_chain(derived_points_sql("supplier", "s_suppkey"), "b_")
        + f"""
, q AS (
  SELECT l.point_id AS query_id, l.cell_id, p.x AS qx, p.y AS qy, p.z AS qz
  FROM b_leaf l JOIN b_pts p USING (point_id) WHERE l.point_id < {n_queries}
), c AS (
  SELECT l.point_id AS neighbor_id, l.cell_id, p.x AS cx, p.y AS cy, p.z AS cz
  FROM leaf l JOIN pts p USING (point_id)
), lvs(lv) AS (VALUES {levels_values}),
density AS (
  SELECT lvs.lv, {_parent_var_sql('c.cell_id', 'lvs.lv')} AS cell,
         count(*) AS n
  FROM c, lvs GROUP BY 1, 2
),
qa AS (
  SELECT q.query_id, lvs.lv, {_parent_var_sql('q.cell_id', 'lvs.lv')} AS cell
  FROM q, lvs
),
chosen0 AS (
  SELECT qa.query_id, max(qa.lv) AS lv
  FROM qa JOIN density d ON d.lv = qa.lv AND d.cell = qa.cell
  WHERE d.n >= {k} GROUP BY qa.query_id
),
chosen AS (
  SELECT q.query_id, q.cell_id, q.qx, q.qy, q.qz,
         greatest(coalesce(c0.lv, 0) - {margin_levels}, 0) AS lv
  FROM q LEFT JOIN chosen0 c0 USING (query_id)
),
joined AS (
  SELECT ch.query_id, c.neighbor_id,
         (ch.qx-c.cx)*(ch.qx-c.cx) + (ch.qy-c.cy)*(ch.qy-c.cy)
           + (ch.qz-c.cz)*(ch.qz-c.cz) AS chord2
  FROM chosen ch JOIN c
    ON {_parent_var_sql('c.cell_id', 'ch.lv')} = {_parent_var_sql('ch.cell_id', 'ch.lv')}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY chord2, neighbor_id) AS rank
  FROM joined
)
SELECT query_id, neighbor_id, rank, chord2 FROM ranked WHERE rank <= {k}
"""
    )


def ann_cosine_sql(k: int = 10, n_queries: int = 20) -> str:
    """Exact cosine top-k over the embeddings table (mirror of
    operators/similarity.py:cosine_topk_bruteforce with exclude_self).
    Only ids and ranks are compared: the engine normalizes then GEMMs in
    float64 while SQL computes dot/(|q||c|), which agree to ~1 ulp —
    rank order is stable for any non-pathological score gap."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (SELECT * FROM e WHERE vec_id < {n_queries}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
           AS cos
  FROM q CROSS JOIN e c WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# robust-predicate oracles: edge-crossing and polyline-intersection joins.
#
# Edge vertices are embedded as literal doubles (repr round-trips
# exactly) produced by the same latlng->xyz conversion the contract
# queries feed to Spark, so both engines see bit-identical inputs.  The
# crossing decision is then recomputed independently: the triage
# determinant (predicates.rs:147-157) in plain f64 — every arithmetic op
# is exactly rounded, so DuckDB reproduces the sign bit-for-bit — plus
# the exact-tier degenerate-triangle rule (predicates.rs:245-250) for
# shared-vertex pairs.  The contract fixtures are chosen so no candidate
# pair's determinant lands in the unresolved band with distinct
# vertices (asserted by tests/test_oracle_fixture_margins.py), hence the
# symbolic-perturbation tier is never needed in SQL.
# ---------------------------------------------------------------------------

TRIAGE_THR = 3.6548 * 2.220446049250313e-16   # kernels/predicates.py:26
DEGENERATE = 2.220446049250313e-16 * 1e6      # kernels/predicates.py:27


def _l2_sql(p, q) -> str:
    return (f"(({p[0]}-{q[0]})*({p[0]}-{q[0]}) + ({p[1]}-{q[1]})*({p[1]}-{q[1]})"
            f" + ({p[2]}-{q[2]})*({p[2]}-{q[2]}))")


def _sign_sql(a, b, c) -> str:
    """Tiered robust sign on literal-derived doubles: triage determinant
    (a x b) . c with the engine's exact operation order, degenerate rule
    for the shared-vertex zero-dets."""
    det = (f"(({a[1]}*{b[2]} - {a[2]}*{b[1]})*{c[0]}"
           f" + ({a[2]}*{b[0]} - {a[0]}*{b[2]})*{c[1]}"
           f" + ({a[0]}*{b[1]} - {a[1]}*{b[0]})*{c[2]})")
    return (f"CASE WHEN {det} > {TRIAGE_THR!r} THEN 1"
            f" WHEN {det} < -{TRIAGE_THR!r} THEN -1"
            f" WHEN {_l2_sql(a, b)} < {DEGENERATE!r}"
            f" OR {_l2_sql(b, c)} < {DEGENERATE!r}"
            f" OR {_l2_sql(a, c)} < {DEGENERATE!r} THEN 0"
            f" ELSE NULL END")   # unresolved non-degenerate: excluded by fixture design


def _crossing_sql(av0, av1, bv0, bv1) -> str:
    """crossing_sign (predicates.rs:666-682): +1/-1 from the four signs
    acb, bdc, cad, dba."""
    acb = _sign_sql(av0, bv0, av1)
    bdc = _sign_sql(av1, bv1, bv0)
    cad = _sign_sql(bv0, av0, bv1)
    dba = _sign_sql(bv1, av1, av0)
    return (f"CASE WHEN ({acb}) * ({bdc}) > 0 AND ({cad}) * ({dba}) > 0 "
            f"THEN 1 ELSE -1 END")


def _loop_edge_rows(names: list[str]) -> list[tuple]:
    """(shape_id, edge_id, v0xyz, v1xyz) rows with the same vertex math
    as operators/shape_index.py:edges_from_loops."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for sid, (name, pts) in enumerate(sorted(
            {n: fixtures.LOOPS[n] for n in names}.items())):
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        for e in range(n):
            ne = (e + 1) % n
            rows.append((sid, e,
                         float(x[e]), float(y[e]), float(z[e]),
                         float(x[ne]), float(y[ne]), float(z[ne])))
    return rows


def edge_crossings_sql(loop_names: list[str] | None = None,
                       a_sids: list[int] | None = None,
                       level: int = 0) -> str:
    """Mirror of the edge_crossings contract query: candidate pairs via
    shared v0-parent cell at ``level`` (the v0 leaf encoding runs through
    the same pure-SQL Hilbert chain that oracles leaf_assign), refined
    with crossing_sign."""
    from .engine_queries import EDGE_CROSS_A_SIDS, EDGE_CROSS_LOOPS

    loop_names = loop_names or EDGE_CROSS_LOOPS
    a_sids = a_sids or EDGE_CROSS_A_SIDS
    rows = _loop_edge_rows(loop_names)
    vals = ", ".join(
        f"({s}, {e}, {v0x!r}, {v0y!r}, {v0z!r}, {v1x!r}, {v1y!r}, {v1z!r})"
        for (s, e, v0x, v0y, v0z, v1x, v1y, v1z) in rows
    )
    in_a = ", ".join(str(s) for s in a_sids)
    # v0 points keyed shape*100+edge feed the Hilbert chain
    pts = ("SELECT shape_id*100 + edge_id AS point_id, v0x AS x, v0y AS y, "
           "v0z AS z FROM edges")
    p = parent_sql("cell_id", level)
    av0 = ("a.v0x", "a.v0y", "a.v0z")
    av1 = ("a.v1x", "a.v1y", "a.v1z")
    bv0 = ("b.v0x", "b.v0y", "b.v0z")
    bv1 = ("b.v1x", "b.v1y", "b.v1z")
    return (
        f"WITH edges(shape_id, edge_id, v0x, v0y, v0z, v1x, v1y, v1z) AS "
        f"(VALUES {vals}),\n"
        f"lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(pts, "")
        + f"""
, cells AS (
  SELECT e.*, {p} AS cell
  FROM edges e JOIN leaf l ON l.point_id = e.shape_id*100 + e.edge_id
)
SELECT a.shape_id AS a_shape, a.edge_id AS a_edge,
       b.shape_id AS b_shape, b.edge_id AS b_edge,
       {_crossing_sql(av0, av1, bv0, bv1)} AS crossing
FROM cells a JOIN cells b ON a.cell = b.cell
WHERE a.shape_id IN ({in_a}) AND b.shape_id NOT IN ({in_a})
"""
    )


def chain_crossing_pairs_sql(level: int = 0) -> str:
    """Mirror of the chain_crossing_pairs contract query: multi-chain
    polyline shapes (edge ids cumulative over chains, chain_starts
    layout — polyline_shape.rs:75-92), candidates via shared v0-parent
    cell, crossing_sign replay, chain ids propagated."""
    import numpy as np

    from .engine_queries import MULTI_CHAIN_A, MULTI_CHAIN_B, POLYLINE_LINES
    from s2_geometry_rust_spark.kernels import latlng as lk

    shapes = {
        "a_lines": [POLYLINE_LINES[n] for n in MULTI_CHAIN_A],
        "b_lines": [POLYLINE_LINES[n] for n in MULTI_CHAIN_B],
    }
    rows = []
    for sid, (name, chains) in enumerate(sorted(shapes.items())):
        edge_id = 0
        for chain_id, pts in enumerate(chains):
            lat = lk.degrees_to_radians(
                np.array([p[0] for p in pts], np.float64))
            lng = lk.degrees_to_radians(
                np.array([p[1] for p in pts], np.float64))
            x, y, z = lk.latlng_to_xyz(lat, lng)
            for e in range(len(pts) - 1):
                rows.append(
                    (sid, edge_id, chain_id,
                     float(x[e]), float(y[e]), float(z[e]),
                     float(x[e + 1]), float(y[e + 1]), float(z[e + 1]))
                )
                edge_id += 1
    vals = ", ".join(
        f"({s}, {e}, {c}, {v0x!r}, {v0y!r}, {v0z!r}, "
        f"{v1x!r}, {v1y!r}, {v1z!r})"
        for (s, e, c, v0x, v0y, v0z, v1x, v1y, v1z) in rows
    )
    pts_sql = ("SELECT shape_id*100 + edge_id AS point_id, v0x AS x, "
               "v0y AS y, v0z AS z FROM edges")
    p = parent_sql("cell_id", level)
    av0 = ("a.v0x", "a.v0y", "a.v0z")
    av1 = ("a.v1x", "a.v1y", "a.v1z")
    bv0 = ("b.v0x", "b.v0y", "b.v0z")
    bv1 = ("b.v1x", "b.v1y", "b.v1z")
    return (
        f"WITH edges(shape_id, edge_id, chain_id, v0x, v0y, v0z, "
        f"v1x, v1y, v1z) AS (VALUES {vals}),\n"
        f"lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(pts_sql, "")
        + f"""
, cells AS (
  SELECT e.*, {p} AS cell
  FROM edges e JOIN leaf l ON l.point_id = e.shape_id*100 + e.edge_id
)
SELECT a.shape_id AS a_shape, a.edge_id AS a_edge,
       b.shape_id AS b_shape, b.edge_id AS b_edge,
       a.chain_id AS a_chain, b.chain_id AS b_chain,
       {_crossing_sql(av0, av1, bv0, bv1)} AS crossing
FROM cells a JOIN cells b ON a.cell = b.cell
WHERE a.shape_id = 0 AND b.shape_id = 1
"""
    )


def polyline_crossings_sql() -> str:
    """Mirror of the polyline_crossings contract query: pairs (a < b)
    where any edge pair crosses (polyline.rs:316-338: crossing_sign > 0
    only — vertex-crossing rules are out of scope by fixture design)."""
    import numpy as np

    from .engine_queries import POLYLINE_LINES
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for name, pts in POLYLINE_LINES.items():
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        for e in range(len(pts) - 1):
            rows.append((name, e,
                         float(x[e]), float(y[e]), float(z[e]),
                         float(x[e + 1]), float(y[e + 1]), float(z[e + 1])))
    vals = ", ".join(
        f"('{n}', {e}, {v0x!r}, {v0y!r}, {v0z!r}, {v1x!r}, {v1y!r}, {v1z!r})"
        for (n, e, v0x, v0y, v0z, v1x, v1y, v1z) in rows
    )
    av0 = ("a.v0x", "a.v0y", "a.v0z")
    av1 = ("a.v1x", "a.v1y", "a.v1z")
    bv0 = ("b.v0x", "b.v0y", "b.v0z")
    bv1 = ("b.v1x", "b.v1y", "b.v1z")
    return f"""
WITH ledges(line_id, edge_id, v0x, v0y, v0z, v1x, v1y, v1z) AS (VALUES {vals}),
pair_edges AS (
  SELECT a.line_id AS a_id, b.line_id AS b_id,
         {_crossing_sql(av0, av1, bv0, bv1)} AS cs
  FROM ledges a JOIN ledges b ON a.line_id < b.line_id
),
pairs AS (
  SELECT a_id, b_id, max(cs) AS max_cs FROM pair_edges GROUP BY a_id, b_id
)
SELECT a_id, b_id, TRUE AS crossing FROM pairs WHERE max_cs > 0
"""


def loop_stats_sql() -> str:
    """Mirror of the loop_stats contract query (loop.rs:322-364
    semantics): per loop the signed-excess area
    | |sum_i s_i * acos(v_i . v_{i+1})| - (n-2)*pi |, curvature
    2*pi - area, and the normalized vertex-mean centroid — recomputed
    from embedded vertex literals with SQL trig and compared at nano
    precision.

    The edge sign s_i = robust_sign(origin, v_i, v_{i+1}) always has a
    triage determinant of exactly 0 (cross(0, v) = 0), so the reference
    resolves it in the exact tier: the degenerate-triangle rule for
    near-duplicate vertices (predicates.rs:245-250), else the XOR-hash
    symbolic perturbation (predicates.rs:287-300) whose decision is the
    parity of the XOR of the nine coordinate bit patterns.  Only the
    least-significant mantissa bits affect that parity, so each vertex
    row embeds its coordinates' LSBs (a property of the *input*
    doubles) and the SQL computes the perturbation sign itself."""
    import math

    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for name, pts in fixtures.LOOPS.items():
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        bits = lambda v: int(np.float64(v).view(np.uint64)) & 1
        for e in range(n):
            ne = (e + 1) % n
            rows.append((
                name, e,
                float(x[e]), float(y[e]), float(z[e]),
                float(x[ne]), float(y[ne]), float(z[ne]),
                bits(x[e]) ^ bits(y[e]) ^ bits(z[e])
                ^ bits(x[ne]) ^ bits(y[ne]) ^ bits(z[ne]),
            ))
    vals = ", ".join(
        f"('{n}', {e}, {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r}, {par})"
        for (n, e, x0, y0, z0, x1, y1, z1, par) in rows
    )
    v0 = ("x0", "y0", "z0")
    v1 = ("x1", "y1", "z1")
    sign = (f"CASE WHEN {_l2_sql(v0, v1)} < {DEGENERATE!r} THEN 0 "
            f"WHEN lsb_parity = 0 THEN 1 ELSE -1 END")
    dot = "(x0*x1 + y0*y1 + z0*z1)"
    pi = repr(math.pi)
    return f"""
WITH ledges(region_id, vi, x0, y0, z0, x1, y1, z1, lsb_parity)
  AS (VALUES {vals}),
terms AS (
  SELECT region_id,
         ({sign}) * acos(LEAST(GREATEST({dot}, -1.0), 1.0)) AS term,
         x0, y0, z0
  FROM ledges
),
agg AS (
  SELECT region_id, count(*) AS n, sum(term) AS s,
         sum(x0) AS sx, sum(y0) AS sy, sum(z0) AS sz
  FROM terms GROUP BY region_id
),
stats AS (
  SELECT region_id, n,
         abs(abs(s) - (n - 2.0) * {pi}) AS area,
         (sx*sx + sy*sy + sz*sz) AS n2, sx, sy, sz
  FROM agg
)
SELECT region_id, CAST(n AS INT) AS n_vertices,
  CAST(round(area * 1e9, 0) AS BIGINT) AS area_nano,
  CAST(round((2.0 * {pi} - area) * 1e9, 0) AS BIGINT) AS curvature_nano,
  CAST(round(CASE WHEN n2 > 0.0 THEN sx * (1.0/sqrt(n2)) ELSE 0.0 END * 1e9, 0) AS BIGINT) AS cx_nano,
  CAST(round(CASE WHEN n2 > 0.0 THEN sy * (1.0/sqrt(n2)) ELSE 0.0 END * 1e9, 0) AS BIGINT) AS cy_nano,
  CAST(round(CASE WHEN n2 > 0.0 THEN sz * (1.0/sqrt(n2)) ELSE 0.0 END * 1e9, 0) AS BIGINT) AS cz_nano
FROM stats
"""


# ---------------------------------------------------------------------------
# point_in_region oracle: independent membership recomputation.
#
# The contract query synthesizes one geo point per document (splitmix64
# counter-hash -> Box-Muller -> lat/lng, sources/interleaved.py), then
# runs the covering filter-and-refine join.  Because the covering filter
# is conservative-sound and the refine is exact, the output EQUALS plain
# membership — which this oracle recomputes directly: the splitmix64 /
# Box-Muller derivation in SQL (integer part bit-exact via HUGEINT
# mod-2^64; trig agrees with numpy to ~1 ulp — membership flips require
# a point within ~1e-15 of a region boundary, probability ~1e-13 for
# this corpus), winding-number PIP against embedded loop vertices, and
# squared-chord containment against embedded cap parameters.
# ---------------------------------------------------------------------------

_SM_GOLDEN = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def _mulmod64_sql(a_ubig: str, const: int) -> str:
    """(a * const) mod 2^64 for a < 2^64 and a 64-bit constant, without
    overflowing INT128: split const into 32-bit halves so every
    intermediate stays below 2^97."""
    ch, cl = const >> 32, const & 0xFFFFFFFF
    return (f"CAST(((({a_ubig}::HUGEINT * {ch}) % 4294967296) * 4294967296"
            f" + {a_ubig}::HUGEINT * {cl}) % {U64}::HUGEINT AS UBIGINT)")


def _uniform_sql(id_expr: str, stream: int, seed: int = 42) -> str:
    """splitmix64 counter-hash uniform [0,1) (sources/interleaved.py
    _uniform/_splitmix64), u64 arithmetic via HUGEINT mod 2^64."""
    u64h = f"{U64}::HUGEINT"
    key = (f"CAST(({id_expr}::HUGEINT * {0x100000001B3} "
           f"+ {stream * 0x1000193 + seed}) % {u64h} AS UBIGINT)")
    a1 = f"CAST(({key}::HUGEINT + {_SM_GOLDEN}) % {u64h} AS UBIGINT)"
    m1 = _mulmod64_sql(f"xor({a1}, {a1} >> 30)", _SM_M1)
    m2 = _mulmod64_sql(f"xor({m1}, {m1} >> 27)", _SM_M2)
    x3 = f"xor({m2}, {m2} >> 31)"
    return f"(CAST(({x3} >> 11) AS DOUBLE) / 9007199254740992.0)"


def _pip_sign_sql(p, v0, v1) -> str:
    """Triage-only robust sign for PIP dets (p is never a loop vertex,
    so the degenerate tier is unreachable; an unresolved det contributes
    0 to the winding sum — within the oracle's stated tolerance)."""
    det = (f"(({p[1]}*{v0[2]} - {p[2]}*{v0[1]})*{v1[0]}"
           f" + ({p[2]}*{v0[0]} - {p[0]}*{v0[2]})*{v1[1]}"
           f" + ({p[0]}*{v0[1]} - {p[1]}*{v0[0]})*{v1[2]})")
    return (f"CASE WHEN {det} > {TRIAGE_THR!r} THEN 1"
            f" WHEN {det} < -{TRIAGE_THR!r} THEN -1 ELSE 0 END")


def _geo_synth_ctes(seed: int = 42) -> str:
    """CTE fragments (no WITH keyword) re-deriving the interleaved
    generator's one geo span per document in SQL: splitmix64 uniforms ->
    Box-Muller gaussians -> unit sphere -> POINT(lat lng) text
    round-trip -> re-normalized xyz.  Ends in relation
    ``p(id, px, py, pz)``.  Shared by point_in_region_sql and
    tile_lang_counts_sql."""
    u0 = _uniform_sql("id", 100, seed)
    u1 = _uniform_sql("id", 101, seed)
    u2 = _uniform_sql("id", 102, seed)
    u3 = _uniform_sql("id", 103, seed)
    return f"""ids AS (SELECT doc_id AS id FROM documents),
u AS (
  SELECT id,
         GREATEST({u0}, 1e-300) AS u0, {u1} AS u1,
         GREATEST({u2}, 1e-300) AS u2, {u3} AS u3
  FROM ids
), g AS (
  SELECT id,
         sqrt(-2.0 * ln(u0)) * cos(2.0 * pi() * u1) AS g0,
         sqrt(-2.0 * ln(u0)) * sin(2.0 * pi() * u1) AS g1,
         sqrt(-2.0 * ln(u2)) * cos(2.0 * pi() * u3) AS g2
  FROM u
), sph AS (
  SELECT id, g0 / n AS x, g1 / n AS y, g2 / n AS z
  FROM (SELECT id, g0, g1, g2,
               CASE WHEN sqrt(g0*g0 + g1*g1 + g2*g2) = 0.0 THEN 1.0
                    ELSE sqrt(g0*g0 + g1*g1 + g2*g2) END AS n
        FROM g)
), ll AS (
  -- the engine round-trips through the POINT(lat lng) span text; the
  -- parse is exact, so replicate lat/lng -> xyz re-derivation
  SELECT id,
         degrees(asin(LEAST(GREATEST(z, -1.0), 1.0))) AS lat,
         degrees(atan2(y, x)) AS lng
  FROM sph
), pt AS (
  SELECT id, cos(radians(lat)) * cos(radians(lng)) AS rx,
             cos(radians(lat)) * sin(radians(lng)) AS ry,
             sin(radians(lat)) AS rz
  FROM ll
), p AS (
  SELECT id, rx / n AS px, ry / n AS py, rz / n AS pz
  FROM (SELECT id, rx, ry, rz, sqrt(rx*rx + ry*ry + rz*rz) AS n FROM pt)
)"""


def point_in_polygon_sql(seed: int = 42) -> str:
    """Mirror of engine_queries.point_in_polygon_q: per-loop winding
    sums (the same tiered sign replay as point_in_region_sql), combined
    with S2PolygonShape semantics — member of a poly iff inside its
    first (shell) loop and inside NO later (hole) loop; member of the
    region iff member of any poly (polygon_shape.rs:236-258,
    389-393)."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for region_id, loop_list in fixtures.POLYGONS.items():
        loop_seq: dict[int, int] = {}
        for poly, loop_name in loop_list:
            loop_idx = loop_seq.get(poly, 0)
            loop_seq[poly] = loop_idx + 1
            pts = fixtures.LOOPS[loop_name]
            lat = lk.degrees_to_radians(
                np.array([p[0] for p in pts], np.float64))
            lng = lk.degrees_to_radians(
                np.array([p[1] for p in pts], np.float64))
            x, y, z = lk.latlng_to_xyz(lat, lng)
            n = len(pts)
            for e in range(n):
                ne = (e + 1) % n
                rows.append(
                    (region_id, poly, loop_idx,
                     float(x[e]), float(y[e]), float(z[e]),
                     float(x[ne]), float(y[ne]), float(z[ne]))
                )
    vals = ", ".join(
        f"('{rid}', {poly}, {li}, {x0!r}, {y0!r}, {z0!r}, "
        f"{x1!r}, {y1!r}, {z1!r})"
        for (rid, poly, li, x0, y0, z0, x1, y1, z1) in rows
    )
    p = ("p.px", "p.py", "p.pz")
    v0 = ("pv.x0", "pv.y0", "pv.z0")
    v1 = ("pv.x1", "pv.y1", "pv.z1")
    return f"""
WITH {_geo_synth_ctes(seed)},
polyverts(region_id, poly, loop_idx, x0, y0, z0, x1, y1, z1)
  AS (VALUES {vals}),
loop_inside AS (
  SELECT p.id, pv.region_id, pv.poly, pv.loop_idx,
         (sum({_pip_sign_sql(p, v0, v1)}) > 0) AS ins
  FROM p, polyverts pv
  GROUP BY p.id, pv.region_id, pv.poly, pv.loop_idx, p.px, p.py, p.pz
),
poly_member AS (
  SELECT id, region_id, poly,
         bool_and(CASE WHEN loop_idx = 0 THEN ins ELSE NOT ins END)
           AS member
  FROM loop_inside GROUP BY id, region_id, poly
)
SELECT DISTINCT printf('doc-%08d', id) AS doc_id,
       1 AS span_idx, region_id
FROM poly_member WHERE member
"""


def builder_graph_sql(n_graphs: int = 32, scale: int = 10,
                      seed: int = 42) -> str:
    """Full SQL replay of the S2Builder table build (mirror of
    engine_queries.builder_graph_q -> operators/builder.py:build_graph
    with IntLatLngSnapFunction(scale=10), reference builder/graph.rs:
    236-560):

    - geo synthesis CTEs re-derive every document's POINT lat/lng;
    - points are chained into ``n_graphs`` polylines ordered by doc id;
    - snap = round(deg * scale) integer grid (DuckDB round is half-
      away-from-zero = Rust f64::round; the engine's snapped-xyz round
      trip is margin-pinned in test_builder_oracle_margins);
    - degenerate edges (both endpoints on the same snap site) dropped —
      equal to the engine's angle < 1e-15 rule away from the poles
      (margin-pinned: no point within 0.05 deg of a pole);
    - vertex ids = rank of first appearance over (edge order, source
      before target) — find_or_create_vertex insertion order;
    - duplicates collapsed with counts, edge ids = rank of surviving
      min edge order."""
    return f"""
WITH {_geo_synth_ctes(seed)},
pts AS (
  SELECT id, id % {n_graphs} AS grp, lat, lng FROM ll
),
seq AS (
  SELECT grp,
         row_number() OVER (PARTITION BY grp ORDER BY id) - 1 AS rn,
         lat, lng,
         lead(lat) OVER (PARTITION BY grp ORDER BY id) AS lat2,
         lead(lng) OVER (PARTITION BY grp ORDER BY id) AS lng2
  FROM pts
),
raw_edges AS (
  SELECT grp, rn AS edge_ord,
         CAST(round(lat * {scale}, 0) AS BIGINT) AS sa,
         CAST(round(lng * {scale}, 0) AS BIGINT) AS so,
         CAST(round(lat2 * {scale}, 0) AS BIGINT) AS ta,
         CAST(round(lng2 * {scale}, 0) AS BIGINT) AS tb
  FROM seq WHERE lat2 IS NOT NULL
),
nondeg AS (
  SELECT * FROM raw_edges WHERE NOT (sa = ta AND so = tb)
),
slots AS (
  SELECT grp, edge_ord * 2 AS slot, sa AS la, so AS lo FROM nondeg
  UNION ALL
  SELECT grp, edge_ord * 2 + 1 AS slot, ta AS la, tb AS lo FROM nondeg
),
vids AS (
  SELECT grp, la, lo,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY first_slot)
              - 1 AS INT) AS vid
  FROM (SELECT grp, la, lo, min(slot) AS first_slot
        FROM slots GROUP BY grp, la, lo)
),
eids AS (
  SELECT n.grp, n.edge_ord,
         v1.vid AS src_vid, v2.vid AS dst_vid,
         v1.la AS src_lat_e, v1.lo AS src_lng_e,
         v2.la AS dst_lat_e, v2.lo AS dst_lng_e
  FROM nondeg n
  JOIN vids v1 ON v1.grp = n.grp AND v1.la = n.sa AND v1.lo = n.so
  JOIN vids v2 ON v2.grp = n.grp AND v2.la = n.ta AND v2.lo = n.tb
),
dedup AS (
  SELECT grp, src_vid, dst_vid,
         src_lat_e, src_lng_e, dst_lat_e, dst_lng_e,
         min(edge_ord) AS edge_ord, count(*) AS n_inputs
  FROM eids
  GROUP BY grp, src_vid, dst_vid,
           src_lat_e, src_lng_e, dst_lat_e, dst_lng_e
)
SELECT 'g-' || CAST(grp AS VARCHAR) AS graph,
       CAST(row_number() OVER (PARTITION BY grp ORDER BY edge_ord) - 1
            AS INT) AS edge_id,
       src_vid, dst_vid,
       src_lat_e, src_lng_e, dst_lat_e, dst_lng_e,
       n_inputs
FROM dedup
"""


def point_in_region_sql(loop_names: list[str] | None = None,
                        seed: int = 42) -> str:
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk
    from s2_geometry_rust_spark.kernels.caps import S2Cap

    loop_names = loop_names or ["arctic_80", "antarctic_80", "candy_cane",
                                "north_hemi"]
    lrows = []
    for name in loop_names:
        pts = fixtures.LOOPS[name]
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        for e in range(n):
            ne = (e + 1) % n
            lrows.append((name, float(x[e]), float(y[e]), float(z[e]),
                          float(x[ne]), float(y[ne]), float(z[ne])))
    lvals = ", ".join(
        f"('{n}', {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
        for (n, x0, y0, z0, x1, y1, z1) in lrows
    )
    crows = []
    for name, (clat, clng, rdeg) in fixtures.CAPS.items():
        lat_r = float(lk.degrees_to_radians(clat))
        lng_r = float(lk.degrees_to_radians(clng))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), rdeg)
        crows.append((name, cap.cx, cap.cy, cap.cz, cap.radius_l2))
    cvals = ", ".join(
        f"('{n}', {cx!r}, {cy!r}, {cz!r}, {r2!r})"
        for (n, cx, cy, cz, r2) in crows
    )
    p = ("p.px", "p.py", "p.pz")
    v0 = ("lv.x0", "lv.y0", "lv.z0")
    v1 = ("lv.x1", "lv.y1", "lv.z1")
    return f"""
WITH {_geo_synth_ctes(seed)},
loopverts(region_id, x0, y0, z0, x1, y1, z1) AS (VALUES {lvals}),
caps(region_id, cx, cy, cz, r2) AS (VALUES {cvals}),
loop_members AS (
  SELECT p.id, lv.region_id
  FROM p, loopverts lv
  GROUP BY p.id, lv.region_id, p.px, p.py, p.pz
  HAVING sum({_pip_sign_sql(p, v0, v1)}) > 0
), cap_members AS (
  SELECT p.id, c.region_id
  FROM p, caps c
  WHERE LEAST((c.cx-p.px)*(c.cx-p.px) + (c.cy-p.py)*(c.cy-p.py)
              + (c.cz-p.pz)*(c.cz-p.pz), 4.0) <= c.r2
)
SELECT printf('doc-%08d', id) AS doc_id, 1 AS span_idx, region_id
FROM (SELECT * FROM loop_members UNION ALL SELECT * FROM cap_members)
"""


def emb_near_dup_sql(threshold: float = 0.4) -> str:
    """Exact embedding near-dup pairs (mirror of
    operators/similarity.py:cosine_threshold_pairs_exact).  The engine
    GEMMs unit vectors while SQL divides the raw dot by the norm
    product — they agree to ~1 ulp, and the fixture threshold sits
    >=1e-4 from every pair's cosine, so nano-scaled comparison is
    exact."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, CAST(round(cos * 1e9, 0) AS BIGINT) AS cos_nano
FROM pairs WHERE cos >= {threshold!r}
"""


# ---------------------------------------------------------------------------
# conservative cap-covering oracle: the bounded level-synchronous coverer
# (operators/coverings.py:conservative_covering + TrueCapRegion)
# re-executed in pure SQL.  Each round of the frontier expansion is
# unrolled as a CTE chain; cell geometry (true quads) is recomputed from
# first principles via the embedded inverse-Hilbert LOOKUP_IJ table, the
# linear ST map, and the face-projection inverse (incl. the face-5 u
# sign that the reference's private variant mirrors incorrectly).
# ---------------------------------------------------------------------------

DEG_TO_RAD = 0.017453292519943295  # float64 pi/180, kernels/latlng.py


def _face_xyz_exprs(face: str, u: str, v: str) -> tuple[str, str, str]:
    """face_uv_to_xyz_inverse (kernels/cells_true.py) as SQL CASE."""
    x = (f"CASE {face} WHEN 0 THEN 1.0 WHEN 1 THEN -({u}) WHEN 2 THEN -({v})"
         f" WHEN 3 THEN -1.0 WHEN 4 THEN ({v}) ELSE -({u}) END")
    y = (f"CASE {face} WHEN 0 THEN ({u}) WHEN 1 THEN 1.0 WHEN 2 THEN -({u})"
         f" WHEN 3 THEN -({v}) WHEN 4 THEN -1.0 ELSE ({v}) END")
    z = (f"CASE {face} WHEN 0 THEN ({v}) WHEN 1 THEN ({v}) WHEN 2 THEN 1.0"
         f" WHEN 3 THEN -({u}) WHEN 4 THEN ({u}) ELSE -1.0 END")
    return x, y, z


_CAP_CARRY = "region_id, ccx, ccy, ccz, crad, cl2"


def _geom_chain_sql(src: str, out: str) -> str:
    """CTE fragments from ``src(region_id, cap params, cell_id)`` to
    ``out(...same..., lv, may_int BOOLEAN, contained BOOLEAN)``."""
    q = out
    # inverse Hilbert: range_min leaf -> (face, i, j), 8 lookup steps
    steps = []
    prev = f"{q}_h0"
    for k in range(7, -1, -1):
        nm = f"{q}_h{8 - k}"
        steps.append(
            f"{nm} AS (SELECT s.* EXCLUDE (i, j, bits), "
            f"s.i | ((l.r::UBIGINT >> 8) << {k * 4}) AS i, "
            f"s.j | (((l.r::UBIGINT >> 4) & 15) << {k * 4}) AS j, "
            f"(l.r::UBIGINT & 3) AS bits "
            f"FROM {prev} s JOIN lut2 l ON l.idx = CAST("
            f"(((s.hil >> {k * 8}) & 255) << 2) | s.bits AS BIGINT))"
        )
        prev = nm
    hsteps = ",\n".join(steps)
    corners = [("u_lo", "v_lo"), ("u_hi", "v_lo"), ("u_hi", "v_hi"),
               ("u_lo", "v_hi")]
    raw_cols = []
    for kx, (uu, vv) in enumerate(corners):
        ex, ey, ez = _face_xyz_exprs("face", uu, vv)
        raw_cols += [f"{ex} AS rx{kx}", f"{ey} AS ry{kx}", f"{ez} AS rz{kx}"]
    ecx, ecy, ecz = _face_xyz_exprs("face", "u_m", "v_m")
    raw_cols += [f"{ecx} AS rcx", f"{ecy} AS rcy", f"{ecz} AS rcz"]
    raws = ", ".join(raw_cols)
    norm_cols = []
    for kx in range(4):
        n = f"sqrt(rx{kx}*rx{kx} + ry{kx}*ry{kx} + rz{kx}*rz{kx})"
        norm_cols += [f"rx{kx}/{n} AS px{kx}", f"ry{kx}/{n} AS py{kx}",
                      f"rz{kx}/{n} AS pz{kx}"]
    nc = "sqrt(rcx*rcx + rcy*rcy + rcz*rcz)"
    norm_cols += [f"rcx/{nc} AS pcx", f"rcy/{nc} AS pcy", f"rcz/{nc} AS pcz"]
    norms = ", ".join(norm_cols)
    rcell = "GREATEST(" + ", ".join(
        f"acos(LEAST(GREATEST(px{k}*pcx + py{k}*pcy + pz{k}*pcz, -1.0), 1.0))"
        for k in range(4)
    ) + ")"
    contained = " AND ".join(
        f"LEAST((ccx - px{k})*(ccx - px{k}) + (ccy - py{k})*(ccy - py{k})"
        f" + (ccz - pz{k})*(ccz - pz{k}), 4.0) <= cl2"
        for k in range(4)
    )
    return f"""
{q}_a AS (
  SELECT {_CAP_CARRY}, cell_id,
         (cell_id & -cell_id) AS lsbv,
         cell_id - ((cell_id & -cell_id) - 1) AS leaf
  FROM {src}
),
{q}_b AS (
  SELECT *, CAST(CASE WHEN leaf < 0 THEN leaf::HUGEINT + {U64}
                      ELSE leaf::HUGEINT END AS UBIGINT) AS leafu
  FROM {q}_a
),
{q}_h0 AS (
  SELECT *, CAST(leafu >> 61 AS BIGINT) AS face,
         (leafu >> 1) - ((leafu >> 61) << 60) AS hil,
         (leafu >> 61) & 1 AS bits,
         0::UBIGINT AS i, 0::UBIGINT AS j
  FROM {q}_b
),
{hsteps},
{q}_g AS (
  SELECT s.*, t.lv, t.sz,
         s.i - (s.i % t.sz) AS i0, s.j - (s.j % t.sz) AS j0
  FROM {q}_h8 s JOIN lvtab t ON t.lsbv = s.lsbv
),
{q}_uv AS (
  SELECT *,
    (CAST(i0 AS DOUBLE) / 1073741824.0) * 2.0 - 1.0 AS u_lo,
    (CAST(i0 + sz AS DOUBLE) / 1073741824.0) * 2.0 - 1.0 AS u_hi,
    (CAST(j0 AS DOUBLE) / 1073741824.0) * 2.0 - 1.0 AS v_lo,
    (CAST(j0 + sz AS DOUBLE) / 1073741824.0) * 2.0 - 1.0 AS v_hi
  FROM {q}_g
),
{q}_m AS (SELECT *, 0.5 * (u_lo + u_hi) AS u_m, 0.5 * (v_lo + v_hi) AS v_m
          FROM {q}_uv),
{q}_raw AS (SELECT {_CAP_CARRY}, cell_id, lv, face, {raws} FROM {q}_m),
{q}_pts AS (SELECT {_CAP_CARRY}, cell_id, lv, {norms} FROM {q}_raw),
{q} AS (
  SELECT {_CAP_CARRY}, cell_id, lv,
    acos(LEAST(GREATEST(pcx*ccx + pcy*ccy + pcz*ccz, -1.0), 1.0))
      <= crad + {rcell} + 1e-12 AS may_int,
    ({contained}) AS contained
  FROM {q}_pts
)"""


def conservative_cap_covering_sql(max_cells: int = 64, depth: int = 10,
                                  n_caps: int = 16,
                                  table: str = "supplier",
                                  key: str = "s_suppkey") -> str:
    """Mirror of cover_regions(conservative=True) over derived caps:
    level-synchronous expansion from the 6 face cells, keeping
    may-intersecting children, terminal (fully contained) cells frozen,
    stop when the budget would be exceeded, then the normalize
    sibling-collapse."""
    face_ids = ", ".join(
        f"({int(__import__('numpy').int64(__import__('numpy').uint64(f) << __import__('numpy').uint64(61) | __import__('numpy').uint64(1 << 60)))})"
        for f in range(6)
    )
    lv_rows = ", ".join(
        f"({1 << (2 * (30 - lv))}, {lv}, {1 << (30 - lv)}::UBIGINT)"
        for lv in range(0, 31)
    )
    # rounds
    chains = [_geom_chain_sql("seed0", "g0")]
    rounds_sql = ["f0 AS MATERIALIZED (SELECT * FROM g0 WHERE may_int)"]
    stats = [
        "SELECT region_id, 0 AS k, 0::BIGINT AS tnew, count(*) AS fcnt "
        "FROM f0 GROUP BY region_id"
    ]
    for k in range(1, depth + 1):
        rounds_sql.append(
            f"ch{k} AS (SELECT {_CAP_CARRY}, "
            f"cell_id + o.off * ((cell_id & -cell_id) // 4) AS cell_id "
            f"FROM f{k - 1}, (VALUES (-3), (-1), (1), (3)) o(off))"
        )
        chains.append(_geom_chain_sql(f"ch{k}", f"g{k}"))
        rounds_sql.append(
            f"k{k} AS MATERIALIZED (SELECT * FROM g{k} WHERE may_int)"
        )
        rounds_sql.append(
            f"t{k} AS MATERIALIZED (SELECT * FROM k{k} WHERE contained)"
        )
        rounds_sql.append(
            f"f{k} AS MATERIALIZED (SELECT * FROM k{k} WHERE NOT contained)"
        )
        stats.append(
            f"SELECT r.region_id, {k} AS k, coalesce(tc.c, 0) AS tnew, "
            f"coalesce(fc.c, 0) AS fcnt "
            f"FROM regionlist r "
            f"LEFT JOIN (SELECT region_id, count(*) AS c FROM t{k} "
            f"GROUP BY region_id) tc ON tc.region_id = r.region_id "
            f"LEFT JOIN (SELECT region_id, count(*) AS c FROM f{k} "
            f"GROUP BY region_id) fc ON fc.region_id = r.region_id"
        )
    # stop level per region: smallest k with budget exceeded / no kept
    # children next round / empty frontier, else depth
    stop_sql = f"""
stats AS ({' UNION ALL '.join(stats)}),
stats2 AS (
  SELECT region_id, k, fcnt,
         sum(tnew) OVER (PARTITION BY region_id ORDER BY k) AS tcum
  FROM stats
),
keptnext AS (
  {' UNION ALL '.join(
      f"SELECT region_id, {k} AS k, count(*) AS kn FROM k{k + 1} GROUP BY region_id"
      for k in range(0, depth)
  )}
),
stopc AS (
  SELECT s.region_id, s.k, s.fcnt, s.tcum,
         coalesce(kn.kn, 0) AS kn
  FROM stats2 s LEFT JOIN keptnext kn
    ON kn.region_id = s.region_id AND kn.k = s.k
),
stoplv AS (
  SELECT region_id,
         coalesce(min(CASE WHEN fcnt = 0 OR tcum + 4 * fcnt > {max_cells}
                           OR kn = 0 THEN k END), {depth}) AS L
  FROM stopc GROUP BY region_id
)"""
    # final cells = terminals with k <= L plus frontier at L
    finals = ["SELECT f0.region_id, f0.cell_id, f0.lv FROM f0 "
              "JOIN stoplv s ON s.region_id = f0.region_id AND s.L = 0"]
    for k in range(1, depth + 1):
        finals.append(
            f"SELECT t{k}.region_id, t{k}.cell_id, t{k}.lv FROM t{k} "
            f"JOIN stoplv s ON s.region_id = t{k}.region_id AND s.L >= {k}"
        )
        finals.append(
            f"SELECT f{k}.region_id, f{k}.cell_id, f{k}.lv FROM f{k} "
            f"JOIN stoplv s ON s.region_id = f{k}.region_id AND s.L = {k}"
        )
    finals_sql = ("cells0 AS MATERIALIZED ("
                  + " UNION ALL ".join(finals) + ")")
    # normalize: collapse complete sibling quads (cascade)
    collapse = []
    prev = "cells0"
    for r in range(12):
        nm = f"cells{r + 1}"
        collapse.append(f"""
{nm}_p AS MATERIALIZED (
  SELECT *, (cell_id & -((cell_id & -cell_id) * 4))
            | ((cell_id & -cell_id) * 4) AS parent
  FROM {prev}
),
{nm}_full AS MATERIALIZED (
  SELECT region_id, parent FROM {nm}_p
  GROUP BY region_id, parent HAVING count(*) = 4
),
{nm} AS (
  SELECT p.region_id, p.cell_id, p.lv FROM {nm}_p p
  LEFT JOIN {nm}_full q
    ON q.region_id = p.region_id AND q.parent = p.parent
  WHERE q.parent IS NULL
  UNION ALL
  SELECT region_id, parent AS cell_id,
         (SELECT lv FROM lvtab WHERE lsbv = (parent & -parent)) - 0 AS lv
  FROM {nm}_full
)""")
        prev = nm
    collapse_sql = ",".join(collapse)
    caps_sql = f"""
caps AS MATERIALIZED (
  SELECT printf('cap-%03d', {key}) AS region_id,
         (({key}*37) % 181)::DOUBLE - 90.0 + 0.25 AS lat,
         (({key}*73) % 361)::DOUBLE - 180.0 + 0.25 AS lng,
         ({key} % 5 + 1)::DOUBLE AS rdeg
  FROM {table} WHERE {key} < {n_caps}
),
capsx AS (
  SELECT region_id,
         cos(lat * {DEG_TO_RAD!r}) * cos(lng * {DEG_TO_RAD!r}) AS x,
         cos(lat * {DEG_TO_RAD!r}) * sin(lng * {DEG_TO_RAD!r}) AS y,
         sin(lat * {DEG_TO_RAD!r}) AS z,
         (2.0 * sin(0.5 * (rdeg * {DEG_TO_RAD!r})))
           * (2.0 * sin(0.5 * (rdeg * {DEG_TO_RAD!r}))) AS cl2
  FROM caps
),
capsn AS (
  SELECT region_id,
         x / sqrt(x*x + y*y + z*z) AS ccx,
         y / sqrt(x*x + y*y + z*z) AS ccy,
         z / sqrt(x*x + y*y + z*z) AS ccz,
         2.0 * asin(0.5 * sqrt(GREATEST(cl2, 0.0))) AS crad,
         cl2
  FROM capsx
),
regionlist AS MATERIALIZED (SELECT DISTINCT region_id FROM caps),
seed0 AS (
  SELECT {_CAP_CARRY}, fc.cell_id
  FROM capsn, (VALUES {face_ids}) fc(cell_id)
)"""
    return (
        f"WITH lut2(idx, r) AS MATERIALIZED (VALUES {lookup_ij_sql_values()}),\n"
        f"lvtab(lsbv, lv, sz) AS MATERIALIZED (VALUES {lv_rows}),\n"
        + caps_sql + ",\n"
        + ",\n".join(chains[:1]) + ",\n"
        + rounds_sql[0] + ",\n"
        + ",\n".join(
            part for k in range(1, depth + 1)
            for part in (rounds_sql[4 * k - 3], chains[k],
                         rounds_sql[4 * k - 2], rounds_sql[4 * k - 1],
                         rounds_sql[4 * k])
        ) + ",\n"
        + stop_sql.lstrip(",\n ") + ",\n"
        + finals_sql + ",\n"
        + collapse_sql.lstrip(",\n ")
        + f"\nSELECT region_id, cell_id, lv AS level FROM cells12"
    )


# ---------------------------------------------------------------------------
# parity (best-first) coverer oracle
# ---------------------------------------------------------------------------

def _face_cell_rows() -> dict[str, str]:
    """Level-0 face-cell constants for the parity-coverer oracle.

    Ids/ranges are pure integer formulas (id = (2f+1)<<60, range = id ∓
    (2^60-1), two's-complement signed).  Vertices are the normalized
    corners of cell.rs:374-391 (plain ±1/sqrt(3) arithmetic, same ops as
    kernels/cells.py so the doubles are bit-identical).  Edge normals
    are the small-integer vectors of cell.rs:408-432.  The vertex-only
    rect bounds (cell.rs:490-501 quirk: face 2/5 collapse to a
    degenerate latitude ring) are computed via the parity kernel and
    embedded — algorithm constants, same practice as the Hilbert LOOKUP
    tables and the cap parameters in point_in_region_sql."""
    import math

    from s2_geometry_rust_spark.kernels import cellid as ci
    from s2_geometry_rust_spark.kernels.cells import S2Cell

    cells, verts, edges, rects = [], [], [], []
    corner_uv = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]
    xyz_table = {
        0: lambda u, v: (1.0, u, v), 1: lambda u, v: (-u, 1.0, v),
        2: lambda u, v: (-u, -v, 1.0), 3: lambda u, v: (-1.0, -v, -u),
        4: lambda u, v: (v, -1.0, -u), 5: lambda u, v: (v, u, -1.0),
    }
    unorm = {0: lambda u: (u, -1.0, 0.0), 1: lambda u: (1.0, u, 0.0),
             2: lambda u: (1.0, 0.0, u), 3: lambda u: (-u, 0.0, 1.0),
             4: lambda u: (0.0, -u, 1.0), 5: lambda u: (0.0, -1.0, -u)}
    vnorm = {0: lambda v: (-v, 0.0, 1.0), 1: lambda v: (0.0, -v, 1.0),
             2: lambda v: (0.0, -1.0, -v), 3: lambda v: (v, -1.0, 0.0),
             4: lambda v: (1.0, v, 0.0), 5: lambda v: (1.0, 0.0, v)}
    for f in range(6):
        uid = (2 * f + 1) << 60
        sid = uid - U64 if uid >= U63 else uid
        lo = uid - ((1 << 60) - 1)
        hi = uid + ((1 << 60) - 1)
        cells.append((f, sid, lo - U64 if lo >= U63 else lo,
                      hi - U64 if hi >= U63 else hi))
        for k, (u, v) in enumerate(corner_uv):
            x, y, z = xyz_table[f](u, v)
            n = math.sqrt(x * x + y * y + z * z)
            verts.append((f, k, x / n, y / n, z / n))
        for k, e in enumerate([vnorm[f](-1.0), unorm[f](1.0),
                               tuple(-c for c in vnorm[f](1.0)),
                               tuple(-c for c in unorm[f](-1.0))]):
            edges.append((f, k, *e))
        rb = S2Cell(int(ci.from_face_pos_level(f, 0, 0))).get_rect_bound()
        rects.append((f, rb.lat.lo, rb.lat.hi, rb.lng.lo, rb.lng.hi))
    return {
        "fcells": ", ".join(f"({f}, {sid}::BIGINT, {lo}::BIGINT, {hi}::BIGINT)"
                            for f, sid, lo, hi in cells),
        "fverts": ", ".join(f"({f}, {k}, {x!r}, {y!r}, {z!r})"
                            for f, k, x, y, z in verts),
        "fedges": ", ".join(f"({f}, {k}, {x!r}, {y!r}, {z!r})"
                            for f, k, x, y, z in edges),
        "frects": ", ".join(f"({f}, {a!r}, {b!r}, {c!r}, {d!r})"
                            for f, a, b, c, d in rects),
    }


def _cell_contains_sql(face: str, x: str, y: str, z: str) -> str:
    """cell.rs:270-277 / 393-406 blind-divide containment for a level-0
    face cell: project to the face's UV with NO hemisphere check and
    test u,v ∈ [-1,1].  A zero divisor yields ±inf/NaN in the kernel
    (→ outside); guarded explicitly here."""
    uv = {
        0: (x, f"{y}/{x}", f"{z}/{x}"),
        1: (y, f"-({x})/{y}", f"{z}/{y}"),
        2: (z, f"-({x})/{z}", f"-({y})/{z}"),
        3: (f"-({x})", f"{z}/(-({x}))", f"-({y})/(-({x}))"),
        4: (f"-({y})", f"{z}/(-({y}))", f"-({x})/(-({y}))"),
        5: (f"-({z})", f"-({y})/(-({z}))", f"{x}/(-({z}))"),
    }
    branches = " ".join(
        f"WHEN {face} = {f} THEN (CASE WHEN ({den}) = 0.0 THEN FALSE "
        f"ELSE ({u}) >= -1.0 AND ({u}) <= 1.0 "
        f"AND ({v}) >= -1.0 AND ({v}) <= 1.0 END)"
        for f, (den, u, v) in uv.items()
    )
    return f"(CASE {branches} ELSE FALSE END)"


def covering_cells_sql(max_cells: int = 8) -> str:
    """Oracle for the reference-parity best-first coverer over the
    fixture regions (covering_cells query).

    Load-bearing reduction (proven in tests/test_oracle_fixture_margins
    ::test_parity_covering_equals_face_membership and exploited here):
    the parity S2Cell pins every non-face cell's UV bounds to the face's
    lower-left corner (cell.rs:356-372), so all 4 children of any cell
    share identical geometry → identical may_intersect/contained flags.
    The best-first heap orders by (level, FIFO counter), so expansion is
    level-synchronous and all-or-nothing per (face, level); every face
    subtree therefore terminates as a complete set of same-level
    descendants, which CellUnion::normalize collapses back to the face
    cell.  Hence

        covering(region) == { face cell F : region.may_intersect(F) }

    independent of max_cells — and the oracle reduces to the three
    region adapters' may_intersect against the 6 true face cells:
    caps: cap.rs:498-645 (vertex chordal containment + edge tangency
    tests, translated 1:1 incl. the sequential early-exit edge loop);
    loops: region_coverer.rs:132-147 vertex sampling (loop vertex in
    cell via blind-divide UV, or cell vertex in loop via the winding
    PIP already used by point_in_region_sql); rects: lat/lng interval
    intersection vs the vertex-only face rect bound."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk
    from s2_geometry_rust_spark.kernels.caps import S2Cap
    from s2_geometry_rust_spark.kernels.rects import S2LatLngRect

    fc = _face_cell_rows()

    crows = []
    for name, (clat, clng, rdeg) in fixtures.CAPS.items():
        lat_r = float(lk.degrees_to_radians(clat))
        lng_r = float(lk.degrees_to_radians(clng))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), rdeg)
        crows.append((name, cap.cx, cap.cy, cap.cz, cap.radius_l2))
    cvals = ", ".join(f"('{n}', {cx!r}, {cy!r}, {cz!r}, {r2!r})"
                      for n, cx, cy, cz, r2 in crows)

    rrows = []
    for name, (lat_lo, lat_hi, lng_lo, lng_hi) in fixtures.RECTS.items():
        r = S2LatLngRect.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
        rrows.append((name, r.lat.lo, r.lat.hi, r.lng.lo, r.lng.hi))
    rvals = ", ".join(f"('{n}', {a!r}, {b!r}, {c!r}, {d!r})"
                      for n, a, b, c, d in rrows)

    lerows, lprows = [], []
    for name, pts in fixtures.LOOPS.items():
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        for e in range(n):
            ne = (e + 1) % n
            lerows.append((name, float(x[e]), float(y[e]), float(z[e]),
                           float(x[ne]), float(y[ne]), float(z[ne])))
            lprows.append((name, float(x[e]), float(y[e]), float(z[e])))
    levals = ", ".join(f"('{n}', {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
                       for n, x0, y0, z0, x1, y1, z1 in lerows)
    lpvals = ", ".join(f"('{n}', {x!r}, {y!r}, {z!r})"
                       for n, x, y, z in lprows)

    center_in = _cell_contains_sql("fc.face", "c.cx", "c.cy", "c.cz")
    loopv_in = _cell_contains_sql("fc.face", "p.px", "p.py", "p.pz")
    pip = _pip_sign_sql(("v.vx", "v.vy", "v.vz"),
                        ("le.x0", "le.y0", "le.z0"),
                        ("le.x1", "le.y1", "le.z1"))
    # S1Interval::intersects (interval.rs), self = fixture rect lng,
    # o = face-bound lng; emptiness is impossible for these fixtures.
    lng_isect = """
      CASE WHEN r.lng_lo > r.lng_hi
             THEN (f.lng_lo > f.lng_hi OR f.lng_lo <= r.lng_hi
                   OR f.lng_hi >= r.lng_lo)
           WHEN f.lng_lo > f.lng_hi
             THEN (f.lng_lo <= r.lng_hi OR f.lng_hi >= r.lng_lo)
           ELSE f.lng_lo <= r.lng_hi AND f.lng_hi >= r.lng_lo END"""
    # R1Interval::intersects, self = fixture rect lat, o = face lat.
    lat_isect = """
      CASE WHEN r.lat_lo <= f.lat_lo
             THEN f.lat_lo <= r.lat_hi AND f.lat_lo <= f.lat_hi
           ELSE r.lat_lo <= f.lat_hi AND r.lat_lo <= r.lat_hi END"""

    return f"""
WITH fcells(face, cell_id, cell_min, cell_max) AS (VALUES {fc['fcells']}),
fverts(face, k, vx, vy, vz) AS (VALUES {fc['fverts']}),
fedges(face, k, ex, ey, ez) AS (VALUES {fc['fedges']}),
frects(face, lat_lo, lat_hi, lng_lo, lng_hi) AS (VALUES {fc['frects']}),
caps(region_id, cx, cy, cz, r2) AS (VALUES {cvals}),
rects(region_id, lat_lo, lat_hi, lng_lo, lng_hi) AS (VALUES {rvals}),
loopedges(region_id, x0, y0, z0, x1, y1, z1) AS (VALUES {levals}),
looppts(region_id, px, py, pz) AS (VALUES {lpvals}),
-- cap.rs:545-575: any face vertex inside the cap (chordal distance)
cap_vc AS (
  SELECT c.region_id, v.face,
         bool_or(LEAST((c.cx-v.vx)*(c.cx-v.vx) + (c.cy-v.vy)*(c.cy-v.vy)
                       + (c.cz-v.vz)*(c.cz-v.vz), 4.0) <= c.r2) AS hit
  FROM caps c CROSS JOIN fverts v
  GROUP BY 1, 2
),
-- cap.rs:578-645 edge loop: per-edge outcome (NULL = continue,
-- 0 = early False, 1 = early True); first non-NULL in k order decides
cap_edge AS (
  SELECT region_id, face,
         min_by(outcome, k) FILTER (WHERE outcome IS NOT NULL) AS dec
  FROM (
    SELECT c.region_id, e.face, e.k,
           CASE
             WHEN c.cx*e.ex + c.cy*e.ey + c.cz*e.ez > 0.0 THEN NULL
             WHEN pow(c.cx*e.ex + c.cy*e.ey + c.cz*e.ez, 2)
                  > pow(sin(2.0*asin(0.5*sqrt(c.r2))), 2)
                    * (e.ex*e.ex + e.ey*e.ey + e.ez*e.ez) THEN 0
             WHEN (e.ey*c.cz - e.ez*c.cy)*v1.vx + (e.ez*c.cx - e.ex*c.cz)*v1.vy
                  + (e.ex*c.cy - e.ey*c.cx)*v1.vz < 0.0
              AND (e.ey*c.cz - e.ez*c.cy)*v2.vx + (e.ez*c.cx - e.ex*c.cz)*v2.vy
                  + (e.ex*c.cy - e.ey*c.cx)*v2.vz > 0.0 THEN 1
             ELSE NULL END AS outcome
    FROM caps c
    CROSS JOIN fedges e
    JOIN fverts v1 ON v1.face = e.face AND v1.k = e.k
    JOIN fverts v2 ON v2.face = e.face AND v2.k = (e.k + 1) % 4
  )
  GROUP BY 1, 2
),
cap_faces AS (
  SELECT c.region_id, fc.face
  FROM caps c
  CROSS JOIN fcells fc
  LEFT JOIN cap_vc ON cap_vc.region_id = c.region_id AND cap_vc.face = fc.face
  LEFT JOIN cap_edge ON cap_edge.region_id = c.region_id
                    AND cap_edge.face = fc.face
  WHERE COALESCE(cap_vc.hit, FALSE)
     OR (c.r2 < 2.0 AND c.r2 >= 0.0
         AND ({center_in} OR COALESCE(cap_edge.dec, 0) = 1))
),
-- region_coverer.rs:132-147 vertex sampling for loops
loop_vc AS (
  SELECT p.region_id, fc.face
  FROM looppts p CROSS JOIN fcells fc
  WHERE {loopv_in}
),
loop_pip AS (
  SELECT le.region_id, v.face
  FROM fverts v CROSS JOIN loopedges le
  GROUP BY le.region_id, v.face, v.k, v.vx, v.vy, v.vz
  HAVING sum({pip}) > 0
),
loop_faces AS (
  SELECT DISTINCT region_id, face FROM
    (SELECT * FROM loop_vc UNION ALL SELECT * FROM loop_pip)
),
rect_faces AS (
  SELECT r.region_id, f.face
  FROM rects r CROSS JOIN frects f
  WHERE ({lat_isect}) AND ({lng_isect})
),
member AS (
  SELECT region_id, face FROM cap_faces
  UNION ALL SELECT region_id, face FROM loop_faces
  UNION ALL SELECT region_id, face FROM rect_faces
)
SELECT m.region_id, fc.cell_id, 0 AS level, fc.cell_min, fc.cell_max
FROM member m JOIN fcells fc ON fc.face = m.face
"""


def bpe_token_counts_sql() -> str:
    """Mirror of operators/text.py:with_bpe_token_count (RE2 and Java
    regex agree on this lookahead-free pattern)."""
    from s2_geometry_rust_spark.operators.text import BPE_PATTERN

    return (f"SELECT doc_id, len(regexp_extract_all(text, "
            f"$${BPE_PATTERN}$$)) AS n_bpe_tokens FROM documents")


def ann_ivf_sql(k: int = 10, n_queries: int = 20, n_centroids: int = 16,
                n_probe: int = 4) -> str:
    """IVF ANN oracle (mirror of operators/similarity.py:ivf_topk with
    init="first_ids"): centroids are the normalized vectors of
    vec_id < n_centroids, every vector joins the inverted list of its
    highest-cosine centroid (ties -> lowest centroid id, matching
    numpy argmax), queries probe their n_probe nearest centroids and
    re-rank the probed lists exactly.  Only ids and ranks are compared;
    tests/test_oracle_fixture_margins.py pins >=1e-9 gaps on every
    assignment, probe-boundary and rank decision so the ~1-ulp
    normalize-then-GEMM vs dot/(|a||b|) difference can never flip a
    decision."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), c AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  WHERE vec_id < {n_centroids}
), sims AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) AS sim
  FROM n CROSS JOIN c
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid) AS rn
    FROM sims) WHERE rn = 1
), probed AS (
  SELECT vec_id AS query_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid) AS rn
    FROM sims WHERE vec_id < {n_queries}) WHERE rn <= {n_probe}
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probed p JOIN assigned a ON p.bucket = a.bucket
  WHERE p.query_id <> a.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS cos
  FROM cand
  JOIN n q ON q.vec_id = cand.query_id
  JOIN n t ON t.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def ann_lsh_sql(k: int = 10, n_queries: int = 20, n_bits: int = 8,
                dim: int = 64, n_tables: int = 4, seed: int = 7) -> str:
    """Sign-LSH ANN oracle (mirror of operators/similarity.py:
    lsh_bucketed_topk with planes="rademacher").  The ±1 hyperplanes are
    regenerated here with the same seed and embedded as '1'/'0' sign
    strings; each bucket bit is the sign of an exact int64 dot product
    over round(x*1e6) quantized components (DuckDB round() is
    half-away-from-zero, matching the engine's trunc(x+copysign(.5,x))),
    so bucket membership is bit-exact across engines.  The re-rank
    compares ids/ranks only under the same >=1e-12 adjacent-cosine-gap
    fixture margin as ann_cosine (a candidate subset inherits the
    full-pair set's adjacent gaps)."""
    from s2_geometry_rust_spark.operators.similarity import rademacher_signs

    signs = rademacher_signs(n_tables, n_bits, dim, seed)
    plane_rows = ",\n    ".join(
        f"({t}, {b}, '{''.join('1' if s > 0 else '0' for s in signs[t, b])}')"
        for t in range(n_tables)
        for b in range(n_bits)
    )
    return f"""
WITH planes(t, b, s) AS (
  VALUES
    {plane_rows}
), e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS vi
  FROM embeddings
), n AS (
  SELECT vec_id, v, vi, sqrt(list_dot_product(v, v)) AS nrm FROM e
), bits AS (
  SELECT n.vec_id, p.t, p.b,
         list_sum(list_transform(range(1, {dim} + 1),
           i -> CASE WHEN substr(p.s, CAST(i AS INT), 1) = '1'
                     THEN vi[CAST(i AS INT)]
                     ELSE -vi[CAST(i AS INT)] END)) > 0 AS bit
  FROM n CROSS JOIN planes p
), buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN bit THEN CAST(1 AS BIGINT) << b ELSE 0 END)
              AS BIGINT)
           + (CAST(t AS BIGINT) << 48) AS bucket
  FROM bits GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
  WHERE q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.v, t.v) / (q.nrm * t.nrm) AS cos
  FROM cand
  JOIN n q ON q.vec_id = cand.query_id
  JOIN n t ON t.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def media_features_sql() -> str:
    """Media-pipeline oracle (mirror of sources/interleaved.py
    interleave_flat_documents(with_media=True) -> operators/multimodal
    media_spans -> extract_media_features): the media ref is replayed as
    zero-padded hex of doc_id, modality is FNV-1a(ref) mod 3, and the
    fake 8-dim feature is the tail of the byte-cumsum walk — integer
    sums < 2^53, so the float math is exactly rounded in both engines.
    The media span is always span_idx 2 (after text and geo).  Features
    come back posexploded to scalar (dim_idx, feature) rows mirroring
    the Spark query (the driver canonicalizer cannot hash a raw
    array<double> column).  The ref / modality / byte-sum derivations
    come from _media_ref_cte — the ONE definition all three media
    oracles (features, resize, frame-sample) share."""
    return f"""
WITH {_media_ref_cte()},
hf AS (
  SELECT doc_id, ref, m3,
         list_transform(range(len(ref)-7, len(ref)+1),
           k -> CAST(list_sum(list_transform(range(1, k+1),
                  j -> unicode(substr(ref, j, 1)))) % 251 AS DOUBLE) / 251.0
         ) AS features
  FROM h
)
SELECT doc_id, CAST(2 AS INT) AS span_idx,
       CASE m3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               ELSE 'video' END AS modality,
       CAST(CASE m3 WHEN 0 THEN 64 WHEN 1 THEN 0 ELSE 32 END AS INT)
         AS width,
       CAST(CASE m3 WHEN 0 THEN 64 WHEN 1 THEN 0 ELSE 32 END AS INT)
         AS height,
       CAST(CASE m3 WHEN 0 THEN 1 WHEN 1 THEN len(ref) ELSE 16 END AS INT)
         AS n_frames,
       CAST(d.dim_idx AS INT) AS dim_idx,
       features[CAST(d.dim_idx AS INT) + 1] AS feature
FROM hf CROSS JOIN range(0, 8) AS d(dim_idx)
"""


# ---------------------------------------------------------------------------
# cell-union set-algebra oracles: normalize (cell_union.rs:600-629) and
# intersection (cell_union.rs:632-666) re-executed in pure SQL.  The
# linear-scan-with-inline-collapse of the reference is replayed as
# (1) drop every cell strictly contained in another (cells are laminar:
# two cells are disjoint or nested, so one anti-containment pass equals
# the scan's skip rule), then (2) collapse groups of exactly 4 distinct
# siblings into their parent, iterated to fixpoint (unrolled rounds —
# a no-op once converged).  Equivalence to the reference kernel is
# property-tested over random cell sets in tests/test_union_sql_oracles.py.
# Range comparisons run in HUGEINT u64 space (cell ids with face >= 4
# are negative BIGINTs, SURVEY.md §8.7).
# ---------------------------------------------------------------------------

_FACE_LSB = 1 << 60  # level-0 cells cannot collapse further


def _union_members_sql(leaf_rel: str, out: str, n_unions: int = 10) -> str:
    """CTE fragment: mixed-level member cells from a ``leaf`` relation —
    union_id = point_id % n_unions, level = point_id % 21 + 10 (the
    union_leaf_cells construction)."""
    return f"""
{out} AS (
  SELECT DISTINCT point_id % {n_unions} AS union_id,
         (cell_id & -CAST(power(4, 30 - (point_id % 21 + 10)) AS BIGINT))
           | CAST(power(4, 30 - (point_id % 21 + 10)) AS BIGINT) AS cell_id
  FROM {leaf_rel}
)"""


def _normalize_chain_sql(src: str, p: str, rounds: int = 30) -> str:
    """CTE fragments normalizing distinct (union_id, cell_id) rows of
    ``src``; final relation is ``{p}k{rounds}``."""
    parts = [f"""
{p}rng AS MATERIALIZED (
  SELECT union_id, cell_id,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           - (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmin,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           + (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmax
  FROM {src}
),
{p}k0 AS MATERIALIZED (
  SELECT a.union_id, a.cell_id FROM {p}rng a
  LEFT JOIN {p}rng b
    ON b.union_id = a.union_id AND b.rmin <= a.rmin
   AND a.rmax <= b.rmax AND b.cell_id <> a.cell_id
  WHERE b.union_id IS NULL
)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
{p}k{i} AS MATERIALIZED (
  SELECT DISTINCT union_id,
         CASE WHEN cnt = 4 AND can THEN parent ELSE cell_id END AS cell_id
  FROM (
    SELECT union_id, cell_id, can, parent,
           count(*) OVER (PARTITION BY union_id, parent) AS cnt
    FROM (
      SELECT union_id, cell_id,
             (cell_id & -cell_id) < {_FACE_LSB} AS can,
             (cell_id & -((cell_id & -cell_id)*4))
               | ((cell_id & -cell_id)*4) AS parent
      FROM {p}k{i-1}) t) t2
)""")
    return ",".join(parts)


def union_normalize_sql(rounds: int = 30) -> str:
    """Normalize oracle over the union_leaf_cells member construction
    (customer-derived points)."""
    cte = hilbert_leaf_cte(derived_points_sql("customer", "c_custkey"))
    return (
        cte + "," + _union_members_sql("leaf", "members") + ","
        + _normalize_chain_sql("members", "n", rounds)
        + f"\nSELECT union_id, cell_id FROM nk{rounds}"
    )


def union_intersect_sql(rounds: int = 30) -> str:
    """Intersection oracle: customer-union x supplier-union per
    union_id; the two-pointer merge keeps the smaller cell, i.e. every
    a-cell contained in some b-cell plus every b-cell STRICTLY contained
    in some a-cell (laminar sets; strictness avoids double-adding equal
    cells)."""
    cust = derived_points_sql("customer", "c_custkey")
    supp = derived_points_sql("supplier", "s_suppkey")
    cte = (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(cust, "") + ","
        + _hilbert_chain(supp, "b_")
    )
    return (
        cte + "," + _union_members_sql("leaf", "amembers") + ","
        + _union_members_sql("b_leaf", "bmembers") + ","
        + _normalize_chain_sql("amembers", "a", rounds) + ","
        + _normalize_chain_sql("bmembers", "b", rounds) + f""",
afin AS (
  SELECT union_id, cell_id,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           - (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmin,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           + (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmax
  FROM ak{rounds}
),
bfin AS (
  SELECT union_id, cell_id,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           - (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmin,
         CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64}
              ELSE CAST(cell_id AS HUGEINT) END
           + (CAST(cell_id & -cell_id AS HUGEINT) - 1) AS rmax
  FROM bk{rounds}
),
kept AS (
  SELECT DISTINCT a.union_id, a.cell_id FROM afin a
  JOIN bfin b ON b.union_id = a.union_id
             AND b.rmin <= a.rmin AND a.rmax <= b.rmax
  UNION
  SELECT DISTINCT b.union_id, b.cell_id FROM bfin b
  JOIN afin a ON a.union_id = b.union_id
             AND a.rmin <= b.rmin AND b.rmax <= a.rmax
             AND (a.rmin <> b.rmin OR a.rmax <> b.rmax)
)
SELECT union_id, cell_id FROM kept"""
    )


_RMIN_U = (f"CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64} "
           f"ELSE CAST(cell_id AS HUGEINT) END "
           f"- (CAST(cell_id & -cell_id AS HUGEINT) - 1)")
_RMAX_U = (f"CASE WHEN cell_id < 0 THEN CAST(cell_id AS HUGEINT) + {U64} "
           f"ELSE CAST(cell_id AS HUGEINT) END "
           f"+ (CAST(cell_id & -cell_id AS HUGEINT) - 1)")


def union_difference_sql(rounds: int = 21) -> str:
    """Difference oracle: the recursive child subdivision of
    cell_union.rs:669-678 unrolled breadth-first — per round a frontier
    cell is kept if its range is disjoint from every b-cell, dropped if
    contained in one, else replaced by its 4 children (leaves never
    split: any b-cell overlapping a leaf contains it).  A-levels start
    >= 10, so 21 rounds reach level 30.  All overlap/containment flags
    are LEFT JOIN aggregates, not correlated EXISTS — DuckDB 1.0
    mis-decorrelates EXISTS against MATERIALIZED CTEs."""
    cust = derived_points_sql("customer", "c_custkey")
    supp = derived_points_sql("supplier", "s_suppkey")
    cte = (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),"
        + _hilbert_chain(cust, "") + ","
        + _hilbert_chain(supp, "b_") + ","
        + _union_members_sql("leaf", "amembers") + ","
        + _union_members_sql("b_leaf", "bmembers") + ","
        + _normalize_chain_sql("amembers", "a") + ","
        + _normalize_chain_sql("bmembers", "b")
    )
    parts = [f""",
bset AS MATERIALIZED (
  SELECT union_id, {_RMIN_U} AS rmin, {_RMAX_U} AS rmax FROM bk30
),
f0 AS MATERIALIZED (
  SELECT union_id, cell_id, {_RMIN_U} AS rmin, {_RMAX_U} AS rmax,
         (cell_id & -cell_id) AS lsb
  FROM ak30
)"""]
    keeps = []
    for i in range(rounds + 1):
        parts.append(f""",
g{i} AS MATERIALIZED (
  SELECT c.union_id, c.cell_id, c.rmin, c.rmax, c.lsb,
         count(b.union_id) AS n_int,
         coalesce(max(CASE WHEN b.rmin <= c.rmin AND c.rmax <= b.rmax
                           THEN 1 ELSE 0 END), 0) AS cont
  FROM f{i} c LEFT JOIN bset b
    ON b.union_id = c.union_id AND b.rmax >= c.rmin AND b.rmin <= c.rmax
  GROUP BY c.union_id, c.cell_id, c.rmin, c.rmax, c.lsb
)""")
        keeps.append(
            f"SELECT union_id, cell_id FROM g{i} WHERE n_int = 0"
        )
        if i < rounds:
            parts.append(f""",
f{i + 1} AS MATERIALIZED (
  SELECT c.union_id,
         c.cell_id + o.off * (c.lsb // 4) AS cell_id,
         CASE WHEN c.cell_id + o.off * (c.lsb // 4) < 0
              THEN CAST(c.cell_id + o.off * (c.lsb // 4) AS HUGEINT) + {U64}
              ELSE CAST(c.cell_id + o.off * (c.lsb // 4) AS HUGEINT) END
           - (CAST(c.lsb // 4 AS HUGEINT) - 1) AS rmin,
         CASE WHEN c.cell_id + o.off * (c.lsb // 4) < 0
              THEN CAST(c.cell_id + o.off * (c.lsb // 4) AS HUGEINT) + {U64}
              ELSE CAST(c.cell_id + o.off * (c.lsb // 4) AS HUGEINT) END
           + (CAST(c.lsb // 4 AS HUGEINT) - 1) AS rmax,
         c.lsb // 4 AS lsb
  FROM g{i} c CROSS JOIN (VALUES (-3), (-1), (1), (3)) o(off)
  WHERE c.lsb > 1 AND c.n_int > 0 AND c.cont = 0
)""")
    return (cte + "".join(parts)
            + "\nSELECT union_id, cell_id FROM ("
            + " UNION ALL ".join(keeps) + ") u")


def _as_u64(expr: str) -> str:
    """Signed BIGINT cell id -> HUGEINT u64 value."""
    return (f"(CASE WHEN {expr} < 0 THEN CAST({expr} AS HUGEINT) + {U64} "
            f"ELSE CAST({expr} AS HUGEINT) END)")


def union_expand_sql(expand_level: int = 12, rounds: int = 30) -> str:
    """Expand oracle (cell_union.rs:427-444 + the placeholder id-space
    neighbors of cell_id.rs:696-722): promote cells finer than
    expand_level to it (coarser cells stay), add the +/-step neighbors
    when they are valid ids at exactly expand_level, then normalize.
    Neighbor arithmetic runs in HUGEINT u64 space — a prev/next step
    across the face-3/face-4 boundary would overflow signed BIGINT."""
    level_lsb = 1 << (2 * (30 - expand_level))
    step = level_lsb << 1
    cte = hilbert_leaf_cte(derived_points_sql("customer", "c_custkey"))
    prev_sql = _u64_to_bigint(f"({_as_u64('target')} - {step})")
    next_sql = _u64_to_bigint(f"(({_as_u64('target')} + {step}) % {U64})")
    # is_valid (cell_id.rs:252-254) on u64: face < 6 and lsb has an
    # even-position bit; lsb computed in HUGEINT to survive u = 2^63
    # two's-complement lsb on HUGEINT u64: u & (2^64 - u); is_valid
    # (cell_id.rs:252-254): face < 6 and lsb at an even bit position
    lsb_u = f"(u & ({U64} - u))"
    is_valid = (f"(u // {1 << 61} < 6 AND "
                f"({lsb_u} & 1537228672809129301) <> 0)")
    return (
        cte + "," + _union_members_sql("leaf", "members") + ","
        + _normalize_chain_sql("members", "s") + f""",
promoted AS (
  SELECT union_id,
         CASE WHEN (cell_id & -cell_id) < {level_lsb}
              THEN (cell_id & {-level_lsb}) | {level_lsb}
              ELSE cell_id END AS target
  FROM sk30
),
cands AS (
  SELECT union_id, target AS cand, TRUE AS is_target FROM promoted
  UNION ALL
  SELECT union_id, {prev_sql} AS cand, FALSE FROM promoted
  WHERE {_as_u64('target')} >= {step}
  UNION ALL
  SELECT union_id, {next_sql} AS cand, FALSE FROM promoted
),
checked AS (
  SELECT union_id, cand, is_target, {_as_u64('cand')} AS u FROM cands
),
filtered AS (
  SELECT DISTINCT union_id, cand AS cell_id FROM checked
  WHERE is_target
     OR ({is_valid} AND {lsb_u} = {level_lsb})
)"""
        + "," + _normalize_chain_sql("filtered", "e")
        + f"\nSELECT union_id, cell_id FROM ek{rounds}"
    )


def loop_nearest_boundary_sql(table: str = "customer",
                              key: str = "c_custkey",
                              points_sql: str | None = None) -> str:
    """Mirror of geom_aggs.nearest_boundary_join (loop.rs:523-577, the
    reference's nearest-VERTEX simplified semantics): distance =
    acos(max dot) nano-rounded over the dots with |dot| <= 1 (a dot
    rounded past 1 is skipped, like the kernel's NaN acos; numpy vs
    DuckDB acos agree to ~1 ulp, absorbed like loop_stats), projection
    = lexicographic struct-min on (d2, vid) — identical pure +,-,*,/
    double arithmetic on identical inlined vertex literals, so the
    selection is bit-deterministic on both engines.  ``points_sql``
    replaces the derived points with any (point_id, x, y, z)
    relation."""
    from s2_geometry_rust_spark import fixtures

    # CAST('<repr>' AS DOUBLE), not <repr>::DOUBLE: DuckDB parses a
    # bare numeric literal as DECIMAL first, double-rounding the last
    # ulp; the string cast is an exact strtod round-trip.
    vvals = ", ".join(
        f"('{n}', {vid}, CAST('{vx!r}' AS DOUBLE),"
        f" CAST('{vy!r}' AS DOUBLE), CAST('{vz!r}' AS DOUBLE))"
        for (n, vid, vx, vy, vz)
        in fixtures.loop_vertex_rows(fixtures.NEAREST_BOUNDARY_LOOPS)
    )
    pts_sql = points_sql or derived_points_sql(table, key)
    return f"""
WITH pts AS ({pts_sql}),
p AS (
  SELECT point_id,
         x / sqrt(x*x + y*y + z*z) AS px,
         y / sqrt(x*x + y*y + z*z) AS py,
         z / sqrt(x*x + y*y + z*z) AS pz
  FROM pts
),
v(region_id, vid, vx, vy, vz) AS (VALUES {vvals}),
j AS (
  SELECT point_id, region_id, vid,
         px*vx + py*vy + pz*vz AS dot,
         (px-vx)*(px-vx) + (py-vy)*(py-vy) + (pz-vz)*(pz-vz) AS d2
  FROM p CROSS JOIN v
),
g AS (
  SELECT point_id, region_id,
         max(CASE WHEN abs(dot) <= 1 THEN dot END) AS max_dot,
         min(struct_pack(d2 := d2, vid := vid)) AS m
  FROM j GROUP BY point_id, region_id
)
SELECT g.point_id, g.region_id,
       CAST(round(acos(g.max_dot) * 1e9, 0) AS BIGINT) AS dist_nano,
       (g.m).vid AS proj_vid,
       v.vx AS proj_x, v.vy AS proj_y, v.vz AS proj_z
FROM g JOIN v ON v.region_id = g.region_id AND v.vid = (g.m).vid
"""


def union_expand_radius_sql(radius_level: int, max_level_diff: int = 3,
                            rounds: int = 30) -> str:
    """expand_with_radius oracle (cell_union.rs:446-467): the expand
    level is per-union — least(min cell level + max_level_diff,
    radius_level) where radius_level = level_for_min_width(min_radius)
    is a pure constant precomputed by the caller from the same kernel.
    The fixture varies the per-union minimum level (8 + union_id % 5)
    so both arms of the least() are exercised.  Cell level from the lsb
    bit position via bit_count(lsb - 1) (valid cells have lsb position
    <= 60, so the -1 never touches the sign bit); the rest is the
    union_expand_sql machinery with level_lsb/step as per-union
    columns instead of constants."""
    cte = hilbert_leaf_cte(derived_points_sql("customer", "c_custkey"))
    prev_sql = _u64_to_bigint(f"({_as_u64('target')} - CAST(step AS HUGEINT))")
    next_sql = _u64_to_bigint(
        f"(({_as_u64('target')} + CAST(step AS HUGEINT)) % {U64})"
    )
    lsb_u = f"(u & ({U64} - u))"
    is_valid = (f"(u // {1 << 61} < 6 AND "
                f"({lsb_u} & 1537228672809129301) <> 0)")
    return (
        cte + f""",
members AS (
  SELECT DISTINCT point_id % 7 AS union_id,
         (cell_id & -(1::BIGINT << ((30 - lv) * 2)))
           | (1::BIGINT << ((30 - lv) * 2)) AS cell_id
  FROM (
    SELECT point_id, cell_id,
           (point_id % 11) + 8 + ((point_id % 7) % 5) AS lv
    FROM leaf) t
),"""
        + _normalize_chain_sql("members", "s") + f""",
params AS (
  SELECT union_id,
         least(min(30 - bit_count((cell_id & -cell_id) - 1) // 2)
                 + {max_level_diff}, {radius_level}) AS el
  FROM sk{rounds} GROUP BY union_id
),
promoted AS (
  SELECT s.union_id,
         (1::BIGINT << ((30 - p.el) * 2)) AS lvl_lsb,
         (1::BIGINT << ((30 - p.el) * 2 + 1)) AS step,
         CASE WHEN (cell_id & -cell_id) < (1::BIGINT << ((30 - p.el) * 2))
              THEN (cell_id & -(1::BIGINT << ((30 - p.el) * 2)))
                     | (1::BIGINT << ((30 - p.el) * 2))
              ELSE cell_id END AS target
  FROM sk{rounds} s JOIN params p USING (union_id)
),
cands AS (
  SELECT union_id, lvl_lsb, target AS cand, TRUE AS is_target
  FROM promoted
  UNION ALL
  SELECT union_id, lvl_lsb, {prev_sql} AS cand, FALSE FROM promoted
  WHERE {_as_u64('target')} >= CAST(step AS HUGEINT)
  UNION ALL
  SELECT union_id, lvl_lsb, {next_sql} AS cand, FALSE FROM promoted
),
checked AS (
  SELECT union_id, lvl_lsb, cand, is_target, {_as_u64('cand')} AS u
  FROM cands
),
filtered AS (
  SELECT DISTINCT union_id, cand AS cell_id FROM checked
  WHERE is_target
     OR ({is_valid} AND {lsb_u} = CAST(lvl_lsb AS HUGEINT))
)"""
        + "," + _normalize_chain_sql("filtered", "e")
        + f"\nSELECT union_id, cell_id FROM ek{rounds}"
    )


# ---------------------------------------------------------------------------
# round-3 oracles: polyline stats, chain-crossing join, union area
# aggregates.  Same conventions as the earlier geometry oracles:
# vertex literals embedded via repr (exact round-trip), trig compared at
# nano/atto precision with fixture-margin guards in
# tests/test_round3_oracles.py, exactly-rounded arithmetic (add/sub/mul/
# div/sqrt) relied on bit-for-bit.
# ---------------------------------------------------------------------------


def _line_edge_rows(lines: dict) -> list[tuple]:
    """(line_id_name, edge_id, n_vertices, v0xyz, v1xyz) rows with the
    same vertex math the contract queries feed to Spark."""
    import numpy as np

    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for name, pts in lines.items():
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        for e in range(len(pts) - 1):
            rows.append((name, e, len(pts),
                         float(x[e]), float(y[e]), float(z[e]),
                         float(x[e + 1]), float(y[e + 1]), float(z[e + 1])))
    return rows


def polyline_stats_sql() -> str:
    """Mirror of the polyline_stats contract query (polyline.rs:182-259
    semantics): per line the total length (sum of per-edge
    atan2(|v_i x v_{i+1}|, v_i . v_{i+1}) angles) and the
    interpolate(0.5) midpoint — the cumulative-length edge walk
    re-expressed as an ordered window sum + QUALIFY pick, the in-edge
    slerp (polyline.rs:437-462) recomputed from the chosen edge's
    literals.  Trig compared at nano precision (engine numpy trig vs SQL
    trig agree to ~1 ulp); the walk's edge choice and the nano grid are
    margin-guarded by tests/test_round3_oracles.py."""
    from .engine_queries import PSTAT_LINES

    rows = _line_edge_rows(PSTAT_LINES)
    vals = ", ".join(
        f"('{n}', {e}, {nv}, {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
        for (n, e, nv, x0, y0, z0, x1, y1, z1) in rows
    )
    return f"""
WITH ledges_raw(line_id, edge_id, n_vertices, x0, y0, z0, x1, y1, z1)
  AS (VALUES {vals}),
ledges AS (
  SELECT line_id, edge_id, n_vertices,
         CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0,
         CAST(z0 AS DOUBLE) AS z0, CAST(x1 AS DOUBLE) AS x1,
         CAST(y1 AS DOUBLE) AS y1, CAST(z1 AS DOUBLE) AS z1
  FROM ledges_raw
),
ang AS (
  SELECT *, atan2(sqrt(cx*cx + cy*cy + cz*cz), dd) AS a
  FROM (
    SELECT *,
      (y0*z1 - z0*y1) AS cx, (z0*x1 - x0*z1) AS cy, (x0*y1 - y0*x1) AS cz,
      (x0*x1 + y0*y1 + z0*z1) AS dd
    FROM ledges
  )
),
cum AS (
  SELECT *,
    SUM(a) OVER (PARTITION BY line_id ORDER BY edge_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
    COALESCE(SUM(a) OVER (PARTITION BY line_id ORDER BY edge_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS acc
  FROM ang
),
tot AS (SELECT line_id, MAX(c) AS total FROM cum GROUP BY line_id),
chosen AS (
  SELECT cum.*, tot.total, 0.5 * tot.total AS target
  FROM cum JOIN tot USING (line_id)
  WHERE cum.c >= 0.5 * tot.total
  QUALIFY row_number() OVER (PARTITION BY cum.line_id ORDER BY edge_id) = 1
),
slerp AS (
  SELECT line_id, n_vertices, total,
    CASE WHEN a = 0.0 THEN 0.0 ELSE (target - acc) / a END AS ef,
    acos(LEAST(GREATEST(dd, -1.0), 1.0)) AS sang,
    x0, y0, z0, x1, y1, z1
  FROM chosen
),
mid AS (
  SELECT line_id, n_vertices, total,
    x0 * (sin((1.0 - ef) * sang) / sin(sang)) + x1 * (sin(ef * sang) / sin(sang)) AS mx,
    y0 * (sin((1.0 - ef) * sang) / sin(sang)) + y1 * (sin(ef * sang) / sin(sang)) AS my,
    z0 * (sin((1.0 - ef) * sang) / sin(sang)) + z1 * (sin(ef * sang) / sin(sang)) AS mz
  FROM slerp
)
SELECT line_id, CAST(n_vertices AS INT) AS n_vertices,
  CAST(round(total * 1e9, 0) AS BIGINT) AS length_nano,
  CAST(round(mx / sqrt(mx*mx + my*my + mz*mz) * 1e9, 0) AS BIGINT) AS mid_x_nano,
  CAST(round(my / sqrt(mx*mx + my*my + mz*mz) * 1e9, 0) AS BIGINT) AS mid_y_nano,
  CAST(round(mz / sqrt(mx*mx + my*my + mz*mz) * 1e9, 0) AS BIGINT) AS mid_z_nano
FROM mid
"""


def chain_crossings_sql() -> str:
    """Mirror of the chain_crossings contract query: the S2EdgeCrosser
    chain test (edge_crosser.rs:126-170 — its own plain-float
    orientation test, NOT predicates::crossing_sign) recomputed in SQL
    over all (shape edge) x (chain edge) pairs.  The contract fixtures
    make every (line, shape) pair a candidate of the operator's
    index-cell path (all lines touch face 0, every shape has a face-0
    edge v0 — asserted by tests/test_round3_oracles.py), so the
    all-pairs oracle matches the operator's candidate-join output
    exactly.

    Per pair: shared-vertex check (euclidean distance < 1e-15) -> 0,
    else proper/touching straddle test on the four plane dots -> +1,
    else -1.  All dots/crosses are exactly-rounded f64 arithmetic;
    sign decisions are margin-guarded (no |dot product| within 1e-9 of
    a threshold for non-shared pairs)."""
    from .engine_queries import CHAIN_LINES, CHAIN_LOOPS

    srows = _loop_edge_rows_from(CHAIN_LOOPS)
    svals = ", ".join(
        f"({s}, {e}, {ax!r}, {ay!r}, {az!r}, {bx!r}, {by!r}, {bz!r})"
        for (s, e, ax, ay, az, bx, by, bz) in srows
    )
    lrows = _line_edge_rows(
        {str(i): CHAIN_LINES[n] for i, n in enumerate(sorted(CHAIN_LINES))}
    )
    lvals = ", ".join(
        f"({n}, {e}, {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
        for (n, e, _nv, x0, y0, z0, x1, y1, z1) in lrows
    )
    eps = 1e-15
    d2 = lambda p, q: (f"(({p[0]}-{q[0]})*({p[0]}-{q[0]})"
                       f" + ({p[1]}-{q[1]})*({p[1]}-{q[1]})"
                       f" + ({p[2]}-{q[2]})*({p[2]}-{q[2]}))")
    a = ("ax", "ay", "az")
    b = ("bx", "by", "bz")
    c = ("x0", "y0", "z0")
    d = ("x1", "y1", "z1")
    shared = " OR ".join(
        f"sqrt({d2(p, q)}) < {eps!r}" for p in (c, d) for q in (a, b)
    )
    return f"""
WITH sedges_raw(shape_id, edge_id, ax, ay, az, bx, by, bz) AS (VALUES {svals}),
cedges_raw(line_id, cedge_id, x0, y0, z0, x1, y1, z1) AS (VALUES {lvals}),
sedges AS (
  SELECT shape_id, edge_id,
         CAST(ax AS DOUBLE) AS ax, CAST(ay AS DOUBLE) AS ay,
         CAST(az AS DOUBLE) AS az, CAST(bx AS DOUBLE) AS bx,
         CAST(by AS DOUBLE) AS by, CAST(bz AS DOUBLE) AS bz
  FROM sedges_raw
),
cedges AS (
  SELECT line_id, cedge_id,
         CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0,
         CAST(z0 AS DOUBLE) AS z0, CAST(x1 AS DOUBLE) AS x1,
         CAST(y1 AS DOUBLE) AS y1, CAST(z1 AS DOUBLE) AS z1
  FROM cedges_raw
),
dots AS (
  SELECT shape_id, edge_id, line_id,
    (x0*abx + y0*aby + z0*abz) AS acb,
    (x1*abx + y1*aby + z1*abz) AS adb,
    (cdx*ax + cdy*ay + cdz*az) AS cda,
    (cdx*bx + cdy*by + cdz*bz) AS cdb,
    is_shared
  FROM (
    SELECT s.*, l.*,
      (ay*bz - az*by) AS abx, (az*bx - ax*bz) AS aby, (ax*by - ay*bx) AS abz,
      (y0*z1 - z0*y1) AS cdx, (z0*x1 - x0*z1) AS cdy, (x0*y1 - y0*x1) AS cdz,
      ({shared}) AS is_shared
    FROM sedges s CROSS JOIN cedges l
  )
),
signs AS (
  SELECT shape_id, edge_id, line_id,
    CASE WHEN is_shared THEN 0
         WHEN (acb * adb < 0.0 AND cda * cdb < 0.0)
           OR (acb * adb = 0.0 AND cda * cdb = 0.0
               AND (acb <> 0.0 OR adb <> 0.0)
               AND (cda <> 0.0 OR cdb <> 0.0)) THEN 1
         ELSE -1 END AS sgn
  FROM dots
),
per_edge AS (
  SELECT line_id, shape_id, edge_id,
    MAX(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS crossed,
    MAX(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS touched
  FROM signs GROUP BY line_id, shape_id, edge_id
)
SELECT line_id, shape_id,
  CAST(SUM(crossed) AS INT) AS n_crossing_edges,
  CAST(SUM(touched) AS INT) AS n_vertex_touches
FROM per_edge GROUP BY line_id, shape_id
"""


def _loop_edge_rows_from(loops: dict) -> list[tuple]:
    """(shape_id, edge_id, v0xyz, v1xyz) for an explicit loop dict with
    the same vertex math as operators/shape_index.py:edges_from_loops."""
    import numpy as np

    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for sid, (name, pts) in enumerate(sorted(loops.items())):
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        for e in range(n):
            ne = (e + 1) % n
            rows.append((sid, e,
                         float(x[e]), float(y[e]), float(z[e]),
                         float(x[ne]), float(y[ne]), float(z[ne])))
    return rows


def _cell_vertex_sql(k: int) -> tuple[str, str, str]:
    """Unnormalized vertex k of a (level >= 1) cell as SQL over columns
    (face, s) — mirror of kernels/cells.py:_uv_vertex +
    _cell_face_uv_to_xyz (cell.rs:374-391) with the pinned-UV-bounds
    quirk (cell.rs:356-372): u_lo = v_lo = -1, u_hi = v_hi = s."""
    u = "(-1.0)" if k in (0, 3) else "s"
    v = "(-1.0)" if k in (0, 1) else "s"
    tbl = {
        0: ("1.0", u, v),
        1: (f"(-({u}))", "1.0", v),
        2: (f"(-({u}))", f"(-({v}))", "1.0"),
        3: ("(-1.0)", f"(-({v}))", f"(-({u}))"),
        4: (v, "(-1.0)", f"(-({u}))"),
        5: (v, u, "(-1.0)"),
    }
    out = []
    for comp in range(3):
        cases = " ".join(f"WHEN {f} THEN {tbl[f][comp]}" for f in range(6))
        out.append(f"(CASE face {cases} END)")
    return tuple(out)


def union_areas_sql(table: str = "customer", key: str = "c_custkey") -> str:
    """Mirror of the union_areas contract query (cell_union.rs:480-501
    area aggregates over the mixed-level union fixtures):

    - average_area = average_area_at_level(30) * leaf_cells_covered —
      trig-free, bit-exact both sides;
    - approx_area: with the pinned-UV-bounds quirk the per-cell
      approximation (cell.rs:242-248) reduces EXACTLY (power-of-two
      scalings only) to average_area_at_level(level) — also bit-exact;
    - exact_area: avg-edge-squared (cell.rs:253-262,441-455) from the
      four normalized cell vertices, which under the pinned bounds are
      closed forms of (face, level) alone — SQL trig, atto precision.

    Per-union sums run in sorted-unsigned (normalized) cell order on
    both sides: the engine's Python fold iterates np.sort(view(u64)),
    the SQL uses list_sum(list(x ORDER BY u64)) which DuckDB evaluates
    sequentially — so the trig-free sums match bit-for-bit and the trig
    sum differs only by per-term ~1 ulp (atto grid + margin guards)."""
    import math

    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    pi = repr(math.pi)
    v = [_cell_vertex_sql(k) for k in range(4)]
    norm_cols = []
    for k in range(4):
        vx, vy, vz = f"v{k}x", f"v{k}y", f"v{k}z"
        ln = f"sqrt({vx}*{vx} + {vy}*{vy} + {vz}*{vz})"
        norm_cols.append(
            f"{vx} / {ln} AS n{k}x, {vy} / {ln} AS n{k}y, {vz} / {ln} AS n{k}z"
        )
    terms = []
    for i in range(4):
        j = (i + 1) % 4
        ax, ay, az = f"n{i}x", f"n{i}y", f"n{i}z"
        bx, by, bz = f"n{j}x", f"n{j}y", f"n{j}z"
        cx = f"({ay}*{bz} - {az}*{by})"
        cy = f"({az}*{bx} - {ax}*{bz})"
        cz = f"({ax}*{by} - {ay}*{bx})"
        dot = f"({ax}*{bx} + {ay}*{by} + {az}*{bz})"
        terms.append(f"atan2(sqrt({cx}*{cx} + {cy}*{cy} + {cz}*{cz}), {dot})")
    total = " + ".join(terms)
    return cte + f"""
, members AS (
  SELECT point_id % 10 AS union_id,
         point_id % 21 + 10 AS lv,
         cell_id
  FROM leaf
), promoted AS (
  SELECT union_id,
         (cell_id & -CAST(power(4, 30 - lv) AS BIGINT))
           | CAST(power(4, 30 - lv) AS BIGINT) AS cell_id,
         lv
  FROM members
), dedup AS (
  SELECT DISTINCT union_id, cell_id, lv FROM promoted
), geo AS (
  SELECT union_id, lv,
         CAST({_as_u64('cell_id')} >> 61 AS BIGINT) AS face,
         {_as_u64('cell_id')} AS ucell,
         (-1.0 + 2.0 / power(2.0, lv)) AS s
  FROM dedup
), verts AS (
  SELECT union_id, lv, ucell,
         {', '.join(f"{v[k][comp_i]} AS v{k}{comp}"
                    for k in range(4)
                    for comp_i, comp in enumerate('xyz'))}
  FROM geo
), nverts AS (
  SELECT union_id, lv, ucell, {', '.join(norm_cols)} FROM verts
), percell AS (
  SELECT union_id, ucell,
         CAST(power(4, 30 - lv) AS BIGINT) AS leaves,
         ((2.0 * {pi}) / 3.0) / power(4.0, lv) AS avg_area,
         (({total}) / 4.0) * (({total}) / 4.0) AS exact_area
  FROM nverts
)
SELECT union_id,
  CAST(count(*) AS INT) AS n_cells,
  CAST(round(((2.0 * {pi}) / 3.0) / power(4.0, 30)
             * CAST(SUM(leaves) AS DOUBLE) * 1e18, 0) AS BIGINT) AS average_atto,
  CAST(round(list_sum(list(avg_area ORDER BY ucell)) * 1e18, 0) AS BIGINT)
    AS approx_atto,
  CAST(round(list_sum(list(exact_area ORDER BY ucell)) * 1e18, 0) AS BIGINT)
    AS exact_atto
FROM percell GROUP BY union_id
"""


# ---------------------------------------------------------------------------
# training-pipeline additions (engine-only ops, no reference counterpart):
# repetition quality, sessionization, deterministic stratified sampling.
# ---------------------------------------------------------------------------


def repetition_stats_sql() -> str:
    """Mirror of text.with_repetition_stats.  The engine computes the
    mode count with a zero-shuffle sorted-array scan; the oracle is free
    to use the straightforward unnest + GROUP BY formulation."""
    return r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), w AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), c AS (
  SELECT doc_id, tok, count(*) AS n FROM w GROUP BY doc_id, tok
), a AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         CAST(MAX(n) AS BIGINT) AS top_token_count
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.n_distinct_tokens, 0) AS n_distinct_tokens,
       COALESCE(a.top_token_count, 0) AS top_token_count,
       CASE WHEN COALESCE(a.n_tokens, 0) > 0
            THEN CAST(round((a.n_tokens - a.n_distinct_tokens)::DOUBLE
                            / a.n_tokens * 1e9, 0) AS BIGINT)
            ELSE 0 END AS repetition_nano,
       CASE WHEN COALESCE(a.n_tokens, 0) > 0
            THEN CAST(round(a.top_token_count::DOUBLE
                            / a.n_tokens * 1e9, 0) AS BIGINT)
            ELSE 0 END AS top_token_frac_nano
FROM documents d LEFT JOIN a USING (doc_id)
"""


def session_stats_sql(gap_us: int = 600_000_000) -> str:
    """Mirror of events.session_stats: 10-min-gap sessionization with
    order-independent rollups (integer micros + cent sums)."""
    return f"""
WITH e AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL {gap_us} MICROSECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM e
)
SELECT user_id, session_idx,
       count(*) AS n_events,
       MIN(ts) AS start_ts,
       MAX(ts) AS end_ts,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, session_idx
"""


def stratified_sample_sql(quota: int = 50) -> str:
    """Mirror of sampling.stratified_sample over (documents, lang):
    md5 of the decimal doc_id renders identically in Spark and DuckDB
    (lowercase hex), so the per-stratum order is bit-identical."""
    return f"""
WITH r AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= {quota}
"""


def vocab_topk_sql(k: int = 100) -> str:
    """Mirror of vocab.vocab_topk (ties broken lexicographically)."""
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), c AS (
  SELECT token, count(*) AS n_occurrences,
         count(DISTINCT doc_id) AS n_docs
  FROM toks GROUP BY token
), r AS (
  SELECT token, n_occurrences, n_docs,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
              AS INT) AS rank
  FROM c
)
SELECT token, n_occurrences, n_docs, rank FROM r WHERE rank <= {k}
"""


def bigram_counts_sql(min_count: int = 2) -> str:
    """Mirror of vocab.ngram_counts(n=2): space-joined adjacent token
    pairs (DuckDB lists are 1-indexed; range(len-1) yields 0-based i)."""
    return rf"""
WITH t AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS ngram
  FROM t WHERE len(toks) >= 2
)
SELECT ngram, count(*) AS n FROM g GROUP BY ngram HAVING count(*) >= {min_count}
"""


def label_centroids_sql() -> str:
    """Mirror of vocab.label_centroid_sums: elements quantized to a
    1e-6 integer grid in DOUBLE (float32 widened exactly), then exact
    integer sums.  Exact round-half cases CAN occur (a float32 that is
    an odd multiple of 2^-7 scales to k + 1/2, since 1e6 = 2^6 * 5^6
    supplies six factors of two), so both sides pin the same rule:
    DuckDB round() is half-away-from-zero and the engine uses
    trunc(x + copysign(.5, x)) to match."""
    return """
WITH e AS (
  SELECT label,
         CAST(unnest(range(len(embedding))) AS INT) AS dim,
         unnest(embedding) AS elem
  FROM embeddings
)
SELECT label, dim,
       count(*) AS n_vectors,
       CAST(SUM(CAST(round(CAST(elem AS DOUBLE) * 1e6, 0) AS BIGINT))
            AS BIGINT) AS sum_micro
FROM e GROUP BY label, dim
"""


def region_contains_loop_sql(a_loops: list[str], b_loops: list[str]) -> str:
    """Mirror of spatial_join.region_containment_join over the fixture
    catalog: A contains B iff every B vertex has winding sum > 0 (loop
    A) / chord-squared distance <= r2 (cap A).  Triage-only signs are
    exact here: fixture margins (pytest-checked) keep every determinant
    far from the threshold, and same-name pairs are excluded."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk
    from s2_geometry_rust_spark.kernels.caps import S2Cap

    def loop_xyz(name):
        pts = fixtures.LOOPS[name]
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=-1)

    erows = []
    for name in a_loops:
        v = loop_xyz(name)
        n = len(v)
        for e in range(n):
            v0, v1 = v[e], v[(e + 1) % n]
            erows.append((name, *map(float, v0), *map(float, v1)))
    evals = ", ".join(
        f"('{n}', {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
        for (n, x0, y0, z0, x1, y1, z1) in erows
    )
    crows = []
    for name, (clat, clng, rdeg) in fixtures.CAPS.items():
        lat_r = float(lk.degrees_to_radians(clat))
        lng_r = float(lk.degrees_to_radians(clng))
        x, y, z = lk.latlng_to_xyz(np.float64(lat_r), np.float64(lng_r))
        cap = S2Cap.from_center_degrees((float(x), float(y), float(z)), rdeg)
        crows.append((name, cap.cx, cap.cy, cap.cz, cap.radius_l2))
    cvals = ", ".join(
        f"('{n}', {cx!r}, {cy!r}, {cz!r}, {r2!r})"
        for (n, cx, cy, cz, r2) in crows
    )
    vrows = []
    for name in b_loops:
        v = loop_xyz(name)
        for i, p in enumerate(v):
            vrows.append((name, i, len(v), *map(float, p)))
    vvals = ", ".join(
        f"('{n}', {i}, {nb}, {px!r}, {py!r}, {pz!r})"
        for (n, i, nb, px, py, pz) in vrows
    )
    p = ("bv.px", "bv.py", "bv.pz")
    v0 = ("le.x0", "le.y0", "le.z0")
    v1 = ("le.x1", "le.y1", "le.z1")
    return f"""
WITH loopedges(a_id, x0, y0, z0, x1, y1, z1) AS (VALUES {evals}),
caps(a_id, cx, cy, cz, r2) AS (VALUES {cvals}),
bverts(b_id, v_idx, n_b, px, py, pz) AS (VALUES {vvals}),
loop_in AS (
  SELECT le.a_id, bv.b_id, bv.v_idx, bv.n_b
  FROM bverts bv, loopedges le
  GROUP BY le.a_id, bv.b_id, bv.v_idx, bv.n_b, bv.px, bv.py, bv.pz
  HAVING sum({_pip_sign_sql(p, v0, v1)}) > 0
), cap_in AS (
  SELECT c.a_id, bv.b_id, bv.v_idx, bv.n_b
  FROM bverts bv, caps c
  WHERE LEAST((c.cx-bv.px)*(c.cx-bv.px) + (c.cy-bv.py)*(c.cy-bv.py)
              + (c.cz-bv.pz)*(c.cz-bv.pz), 4.0) <= c.r2
), all_in AS (
  SELECT * FROM loop_in UNION ALL SELECT * FROM cap_in
)
SELECT a_id, b_id
FROM all_in
GROUP BY a_id, b_id, n_b
HAVING count(*) = n_b AND a_id <> b_id
"""


def _loop_edge_vals(names: list[str]) -> str:
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for name in names:
        pts = fixtures.LOOPS[name]
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        n = len(pts)
        for e in range(n):
            ne = (e + 1) % n
            rows.append((name, float(x[e]), float(y[e]), float(z[e]),
                         float(x[ne]), float(y[ne]), float(z[ne])))
    return ", ".join(
        f"('{n}', {x0!r}, {y0!r}, {z0!r}, {x1!r}, {y1!r}, {z1!r})"
        for (n, x0, y0, z0, x1, y1, z1) in rows
    )


def _loop_vert_vals(names: list[str]) -> str:
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for name in names:
        pts = fixtures.LOOPS[name]
        lat = lk.degrees_to_radians(np.array([p[0] for p in pts], np.float64))
        lng = lk.degrees_to_radians(np.array([p[1] for p in pts], np.float64))
        x, y, z = lk.latlng_to_xyz(lat, lng)
        for i in range(len(pts)):
            rows.append((name, i, float(x[i]), float(y[i]), float(z[i])))
    return ", ".join(
        f"('{n}', {i}, {px!r}, {py!r}, {pz!r})"
        for (n, i, px, py, pz) in rows
    )


def loop_intersections_sql(a_loops: list[str], b_loops: list[str]) -> str:
    """Mirror of spatial_join.loop_intersection_join: mutual vertex
    probing with triage-only winding signs (fixture margins pinned in
    pytest keep every determinant decisive)."""
    pb = ("bv.px", "bv.py", "bv.pz")
    pa = ("av.px", "av.py", "av.pz")
    ea0 = ("ae.x0", "ae.y0", "ae.z0")
    ea1 = ("ae.x1", "ae.y1", "ae.z1")
    eb0 = ("be.x0", "be.y0", "be.z0")
    eb1 = ("be.x1", "be.y1", "be.z1")
    return f"""
WITH a_edges(a_id, x0, y0, z0, x1, y1, z1) AS (VALUES {_loop_edge_vals(a_loops)}),
b_edges(b_id, x0, y0, z0, x1, y1, z1) AS (VALUES {_loop_edge_vals(b_loops)}),
a_verts(a_id, v_idx, px, py, pz) AS (VALUES {_loop_vert_vals(a_loops)}),
b_verts(b_id, v_idx, px, py, pz) AS (VALUES {_loop_vert_vals(b_loops)}),
b_in_a AS (
  SELECT ae.a_id, bv.b_id
  FROM b_verts bv, a_edges ae
  GROUP BY ae.a_id, bv.b_id, bv.v_idx, bv.px, bv.py, bv.pz
  HAVING sum({_pip_sign_sql(pb, ea0, ea1)}) > 0
), a_in_b AS (
  SELECT av.a_id, be.b_id
  FROM a_verts av, b_edges be
  GROUP BY be.b_id, av.a_id, av.v_idx, av.px, av.py, av.pz
  HAVING sum({_pip_sign_sql(pa, eb0, eb1)}) > 0
)
SELECT DISTINCT a_id, b_id
FROM (SELECT * FROM b_in_a UNION ALL SELECT * FROM a_in_b)
"""


def _crossing_complete_sql(a, b, c, d) -> str:
    """Geometrically complete interior-crossing rule (the engine's
    strict-mode predicate, kernels/predicates.crossing_sign_complete_batch;
    NOT the reference's divergent two-product test): c,d straddle great
    circle AB, a,b straddle great circle CD, and both arcs straddle the
    SAME of the two antipodal intersection points
    (sign(a,b,c) == sign(c,d,b)).  All signs reuse the tiered
    _sign_sql; fixture margins keep every determinant decisive."""
    abc = _sign_sql(a, b, c)
    abd = _sign_sql(a, b, d)
    cda = _sign_sql(c, d, a)
    cdb = _sign_sql(c, d, b)
    return (f"CASE WHEN ({abc}) * ({abd}) < 0 AND ({cda}) * ({cdb}) < 0 "
            f"AND ({abc}) * ({cdb}) > 0 THEN 1 ELSE -1 END")


def loop_intersections_strict_sql(a_loops: list[str],
                                  b_loops: list[str]) -> str:
    """Mirror of spatial_join.loop_intersection_join(strict=True): the
    two mutual vertex-probing legs of loop_intersections_sql UNIONed
    with the edge-crossing completion leg — any A edge properly
    crossing any B edge (the reference's pinned TODO at
    loop.rs:413,439, closed by the engine's opt-in strict mode)."""
    pb = ("bv.px", "bv.py", "bv.pz")
    pa = ("av.px", "av.py", "av.pz")
    ea0 = ("ae.x0", "ae.y0", "ae.z0")
    ea1 = ("ae.x1", "ae.y1", "ae.z1")
    eb0 = ("be.x0", "be.y0", "be.z0")
    eb1 = ("be.x1", "be.y1", "be.z1")
    return f"""
WITH a_edges(a_id, x0, y0, z0, x1, y1, z1) AS (VALUES {_loop_edge_vals(a_loops)}),
b_edges(b_id, x0, y0, z0, x1, y1, z1) AS (VALUES {_loop_edge_vals(b_loops)}),
a_verts(a_id, v_idx, px, py, pz) AS (VALUES {_loop_vert_vals(a_loops)}),
b_verts(b_id, v_idx, px, py, pz) AS (VALUES {_loop_vert_vals(b_loops)}),
b_in_a AS (
  SELECT ae.a_id, bv.b_id
  FROM b_verts bv, a_edges ae
  GROUP BY ae.a_id, bv.b_id, bv.v_idx, bv.px, bv.py, bv.pz
  HAVING sum({_pip_sign_sql(pb, ea0, ea1)}) > 0
), a_in_b AS (
  SELECT av.a_id, be.b_id
  FROM a_verts av, b_edges be
  GROUP BY be.b_id, av.a_id, av.v_idx, av.px, av.py, av.pz
  HAVING sum({_pip_sign_sql(pa, eb0, eb1)}) > 0
), a_ed AS (
  -- short literals parse as DECIMAL; the deep product chain of the
  -- complete rule overflows DECIMAL scale, so force DOUBLE once here
  SELECT a_id, CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0,
         CAST(z0 AS DOUBLE) AS z0, CAST(x1 AS DOUBLE) AS x1,
         CAST(y1 AS DOUBLE) AS y1, CAST(z1 AS DOUBLE) AS z1
  FROM a_edges
), b_ed AS (
  SELECT b_id, CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0,
         CAST(z0 AS DOUBLE) AS z0, CAST(x1 AS DOUBLE) AS x1,
         CAST(y1 AS DOUBLE) AS y1, CAST(z1 AS DOUBLE) AS z1
  FROM b_edges
), crossing AS (
  SELECT ae.a_id, be.b_id
  FROM a_ed ae, b_ed be
  WHERE {_crossing_complete_sql(ea0, ea1, eb0, eb1)} = 1
)
SELECT DISTINCT a_id, b_id
FROM (SELECT * FROM b_in_a UNION ALL SELECT * FROM a_in_b
      UNION ALL SELECT * FROM crossing)
"""


def decontaminate_sql(n: int = 5, bench_max_id: int = 10) -> str:
    """Mirror of vocab.decontaminate: distinct 5-gram overlap of corpus
    docs (doc_id >= bench_max_id) vs the held-out set."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(1, n + 1))
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(toks) - {n - 1}),
                                             i -> {gram}))) AS ngram
  FROM t WHERE len(toks) >= {n}
), bench AS (
  SELECT DISTINCT ngram FROM g WHERE doc_id < {bench_max_id}
)
SELECT g.doc_id, count(*) AS n_contaminated_ngrams
FROM g JOIN bench USING (ngram)
WHERE g.doc_id >= {bench_max_id}
GROUP BY g.doc_id
"""


def funnel_counts_sql(steps: tuple[str, ...] = ("view", "click", "purchase")) -> str:
    """Mirror of events.funnel_counts: per-step first-match timestamps
    in strict order."""
    ctes = [f"""s1 AS (
  SELECT user_id AS u, MIN(ts) AS t FROM events
  WHERE event_type = '{steps[0]}' GROUP BY user_id
)"""]
    for k, step in enumerate(steps[1:], start=2):
        ctes.append(f"""s{k} AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t
  FROM events e JOIN s{k - 1} p ON e.user_id = p.u
  WHERE e.event_type = '{step}' AND e.ts > p.t
  GROUP BY e.user_id
)""")
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step_idx, '{step}' AS step,"
        f" (SELECT count(*) FROM s{k}) AS n_users"
        for k, step in enumerate(steps, start=1)
    )
    return "WITH " + ", ".join(ctes) + " " + selects


def tile_lang_counts_sql(level: int = 6, seed: int = 42) -> str:
    """Cross-domain composition: the synthesized geo span of every
    document (geo-synthesis CTEs) -> full SQL Hilbert leaf encode ->
    parent tile at ``level``, joined with the document's predicted
    language (lang_id semantics) — per-tile language distribution,
    composed entirely from already-proven sub-oracles."""
    points_sql = "SELECT id AS point_id, px AS x, py AS y, pz AS z FROM p"
    tile = parent_sql("cell_id", level)
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),\n"
        + _geo_synth_ctes(seed)
        + ","
        + _hilbert_chain(points_sql, "")
        + f""",
tiles AS (SELECT point_id, {tile} AS tile_id FROM leaf),
lang AS ({lang_id_sql()})
SELECT t.tile_id, {token_sql('t.tile_id')} AS tile_token, l.lang_pred,
       count(*) AS n_docs
FROM tiles t JOIN lang l ON l.doc_id = t.point_id
GROUP BY 1, 2, 3
"""
    )


def retention_counts_sql() -> str:
    """Mirror of events.retention_counts."""
    return """
WITH active AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d FROM events
), first AS (
  SELECT u, MIN(d) AS d0 FROM active GROUP BY u
)
SELECT strftime(a.d0, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', a.d0, a.d) AS INT) AS day_offset,
       count(*) AS n_users
FROM (SELECT act.u, act.d, f.d0 FROM active act JOIN first f ON act.u = f.u) a
GROUP BY 1, 2
"""


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    """Ground-truth exact all-pairs 3-gram Jaccard (no prefix filter:
    the oracle brute-forces what the engine prunes losslessly).  Both
    sides divide the same exact integers in f64, so the jaccard doubles
    and the threshold decisions are bit-identical.  Fixture margin: at
    sf0.01 every qualifying pair sits at jaccard >= 0.98 and the next
    pair below is < 0.1 — the 0.5 cut has no float-sensitive rows."""
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
           AS ngram
  FROM t WHERE len(toks) >= 3
), sz AS (
  SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM g a JOIN g b USING (ngram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT inter.doc_a, inter.doc_b,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = inter.doc_a
JOIN sz sb ON sb.doc_id = inter.doc_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {threshold}
"""


def asof_last_error_sql() -> str:
    """DuckDB's native ASOF JOIN — an independent implementation of the
    as-of semantics (latest right row with r.ts <= l.ts per key,
    inclusive).  Determinism requires the right side unique on
    (user_id, ts): true for the error rows (checked; microsecond
    timestamps)."""
    return """
SELECT c.event_id,
       e.event_id AS asof_event_id,
       e.value    AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id AND c.ts >= e.ts
"""


def range_join_windows_sql() -> str:
    """Ground-truth inequality join (the oracle brute-forces what the
    engine buckets): clicks in [error.ts, error.ts + 6h) per user,
    counted per error window.  Timestamp comparisons are exact integer
    microseconds on both sides."""
    return """
SELECT e.event_id AS window_event_id, count(*) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts
 AND c.ts < e.ts + INTERVAL 6 HOUR
GROUP BY e.event_id
"""


def events_rollup_sql() -> str:
    """Mirror of events.multi_granularity_rollup: GROUPING SETS over
    hour/day/week truncs (DuckDB date_trunc weeks also start Monday),
    bucket pinned to text, cent sums via round-half-away (the
    session_stats convention — Spark round() matches for these
    positive values)."""
    return """
WITH e AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hour_b,
         date_trunc('day',  ts) AS day_b,
         date_trunc('week', ts) AS week_b,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
)
SELECT CASE WHEN hour_b IS NOT NULL THEN 'hour'
            WHEN day_b  IS NOT NULL THEN 'day'
            ELSE 'week' END AS granularity,
       strftime(coalesce(hour_b, day_b, week_b),
                '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type,
       count(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM e
GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type),
                        (week_b, event_type))
"""


def ann_pq_sql(k: int = 10, m: int = 8, ks: int = 16,
               n_queries: int = 20) -> str:
    """Full PQ replay in SQL: 1e-6 integer grid, per-subspace squared-L2
    to the first-``ks``-ids codebook, argmin = lowest centroid on ties
    (row_number ORDER BY d2, cid), ADC = integer LUT sums, rank ties by
    neighbor_id — every step exact integer arithmetic, so this matches
    the engine bit-for-bit, not approximately."""
    sub = 64 // m
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
  FROM embeddings
), ed AS (
  SELECT vec_id, CAST(unnest(range(64)) AS INT) AS d, unnest(v) AS x
  FROM e
), cd AS (
  SELECT vec_id AS cid, d, x FROM ed WHERE vec_id < {ks}
), dist AS (
  SELECT ed.vec_id, cd.cid, ed.d // {sub} AS j,
         CAST(SUM((ed.x - cd.x) * (ed.x - cd.x)) AS BIGINT) AS d2
  FROM ed JOIN cd USING (d)
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, j, cid, d2
  FROM (SELECT vec_id, j, cid, d2,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, cid) AS rn
        FROM dist)
  WHERE rn = 1
), lut AS (
  SELECT vec_id AS query_id, j, cid, d2 FROM dist
  WHERE vec_id < {n_queries}
), adist AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adist
  FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, adist
FROM (SELECT query_id, neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id)
                  AS INT) AS rank
      FROM adist WHERE query_id <> neighbor_id)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# training-pipeline oracles (round 3, session 4): boilerplate coverage,
# sequence chunking, KMV distinct sketch.


def boilerplate_sql(n: int = 8, min_docs: int = 2) -> str:
    """Mirror of operators/text.py:boilerplate_coverage — an n-token
    window is boilerplate when its exact text (md5 of the
    space-joined slice, identical string on both engines) occurs in
    >= min_docs distinct documents; coverage is the union of the
    overlapping [pos, pos+n) intervals per document."""
    return rf"""
WITH words AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), base AS (
  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM words
), wins AS (
  SELECT doc_id, (u).pos0 AS pos0, (u).gram AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, n - {n} + 2), i ->
             {{'pos0': i - 1,
               'gram': md5(array_to_string(ws[i:i+{n - 1}], ' '))}})) AS u
    FROM base WHERE n >= {n})
), bp AS (
  SELECT gram FROM wins GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {min_docs}
), cov AS (
  SELECT doc_id, count(DISTINCT p) AS covered FROM (
    SELECT w.doc_id, unnest(range(w.pos0, w.pos0 + {n})) AS p
    FROM wins w JOIN bp USING (gram))
  GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_tokens,
       coalesce(c.covered, 0) AS covered_tokens,
       b.n - coalesce(c.covered, 0) AS clean_tokens
FROM base b LEFT JOIN cov c USING (doc_id)
"""


def chunk_documents_sql(window: int = 64) -> str:
    """Mirror of operators/text.py:chunk_documents — fixed
    window-token training chunks per document."""
    w = window
    return rf"""
WITH words AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), base AS (
  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM words
  WHERE len(ws) > 0
), ch AS (
  SELECT doc_id, ws, n, unnest(range(0, (n + {w} - 1) // {w})) AS chunk_idx
  FROM base
)
SELECT doc_id, chunk_idx, n AS n_tokens,
       least({w}, n - chunk_idx * {w}) AS chunk_len,
       {w} - least({w}, n - chunk_idx * {w}) AS pad_tokens,
       ws[CAST(chunk_idx * {w} + 1 AS INT)] AS first_token,
       ws[CAST(chunk_idx * {w} + least({w}, n - chunk_idx * {w}) AS INT)]
         AS last_token
FROM ch
"""


def kmv_distinct_sql(k: int = 64, ngram: int = 2) -> str:
    """Mirror of operators/sketches.py:kmv_distinct_per_group — KMV
    (k-minimum-values) distinct-count sketch per language over document
    token n-grams.  The hash is the first 15 hex digits of md5(gram)
    parsed as a 60-bit integer — both engines render md5 as lowercase
    hex and parse it exactly, so registers (and therefore the estimate,
    a single exact division in f64) replay bit-for-bit."""
    m = (1 << 60) - 1  # max 15-hex-digit value; hash domain [0, m]
    return rf"""
WITH words AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), toks AS (
  SELECT lang, unnest(list_transform(range(1, len(ws) - {ngram} + 2),
    i -> array_to_string(ws[i:i+{ngram - 1}], ' '))) AS tok
  FROM words WHERE len(ws) >= {ngram}
), hashed AS (
  SELECT DISTINCT lang,
         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM toks
), ranked AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_exact
  FROM hashed
)
SELECT lang, CAST(n_exact AS BIGINT) AS n_distinct_exact,
       CAST(CASE WHEN n_exact <= {k} THEN n_exact
            ELSE CAST(round(CAST({k} - 1 AS DOUBLE) * {m}.0 / h, 0) AS BIGINT)
            END AS BIGINT) AS kmv_estimate
FROM ranked
WHERE rn = least(n_exact, {k})
"""


def cap_intersect_terms_sql() -> str:
    """Brute-force exact cap-intersection join over the term-index
    fixture cap sets (mirror of
    operators/term_index.py:cap_intersect_join_terms).  Because the
    engine's term candidates are a lossless superset (module docstring
    proof) and its refine is the chord_angle.rs Add predicate replayed
    here on the SAME literal cap params, the all-pairs SQL matches the
    indexed join exactly — a hash mismatch would expose either a missed
    candidate or a refine divergence."""
    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk
    from s2_geometry_rust_spark.kernels.caps import S2Cap

    def vals(catalog) -> str:
        rows = []
        for name, (clat, clng, rdeg) in catalog.items():
            lat = lk.degrees_to_radians(np.float64(clat))
            lng = lk.degrees_to_radians(np.float64(clng))
            x, y, z = lk.latlng_to_xyz(np.float64(lat), np.float64(lng))
            cap = S2Cap.from_center_degrees(
                (float(x), float(y), float(z)), float(rdeg)
            )
            # ::DOUBLE — short reprs (e.g. 0.5) would otherwise land as
            # DECIMAL and overflow the chord algebra's scale
            rows.append(
                f"('{name}', {cap.cx!r}::DOUBLE, {cap.cy!r}::DOUBLE,"
                f" {cap.cz!r}::DOUBLE, {float(cap.radius_l2)!r}::DOUBLE)"
            )
        return ", ".join(rows)

    return f"""
WITH q(query_id, cx, cy, cz, r2) AS (VALUES {vals(fixtures.TERM_QUERY_CAPS)}),
i(region_id, cx, cy, cz, r2) AS (VALUES {vals(fixtures.TERM_INDEX_CAPS)}),
pairs AS (
  SELECT q.query_id, i.region_id, q.r2 AS a2, i.r2 AS b2,
         LEAST((q.cx-i.cx)*(q.cx-i.cx) + (q.cy-i.cy)*(q.cy-i.cy)
               + (q.cz-i.cz)*(q.cz-i.cz), 4.0) AS d2
  FROM q, i
), added AS (
  SELECT query_id, region_id, d2,
    CASE WHEN a2 + b2 >= 4.0 THEN 4.0
         WHEN b2 = 0.0 THEN a2
         ELSE LEAST(a2*(1.0 - 0.25*b2) + b2*(1.0 - 0.25*a2)
                    + 2.0*sqrt(GREATEST(a2*(1.0 - 0.25*b2)
                                        * (b2*(1.0 - 0.25*a2)), 0.0)), 4.0)
         END AS s2,
    a2, b2
  FROM pairs
)
SELECT query_id, region_id FROM added
WHERE a2 >= 0.0 AND b2 >= 0.0 AND s2 >= d2
"""


def closest_edge_sql(table: str = "customer", key: str = "c_custkey") -> str:
    """Brute-force nearest great-circle edge per derived point (mirror
    of operators/closest_edge.py:closest_edge_join — same formula, same
    op order, only +,-,*,/,sqrt: IEEE-identical on both engines).  The
    edge endpoints are the fixture's exact doubles inlined as VALUES."""
    from s2_geometry_rust_spark import fixtures

    evals = ", ".join(
        f"({i}, {ax!r}::DOUBLE, {ay!r}::DOUBLE, {az!r}::DOUBLE,"
        f" {bx!r}::DOUBLE, {by!r}::DOUBLE, {bz!r}::DOUBLE)"
        for (i, ax, ay, az, bx, by, bz) in fixtures.closest_edge_fixture()
    )
    return f"""
WITH pts AS ({derived_points_sql(table, key)}),
p AS (
  SELECT point_id,
         x / sqrt(x*x + y*y + z*z) AS px,
         y / sqrt(x*x + y*y + z*z) AS py,
         z / sqrt(x*x + y*y + z*z) AS pz
  FROM pts
),
e(edge_id, ax, ay, az, bx, by, bz) AS (VALUES {evals}),
geom AS (
  SELECT p.point_id, e.edge_id, p.px, p.py, p.pz,
         e.ax, e.ay, e.az, e.bx, e.by, e.bz,
         e.ay*e.bz - e.az*e.by AS nx,
         e.az*e.bx - e.ax*e.bz AS ny,
         e.ax*e.by - e.ay*e.bx AS nz
  FROM p CROSS JOIN e
),
scored AS (
  SELECT point_id, edge_id,
    LEAST(
      CASE WHEN ((ny*az - nz*ay)*px + (nz*ax - nx*az)*py
                 + (nx*ay - ny*ax)*pz) >= 0.0
            AND ((by*nz - bz*ny)*px + (bz*nx - bx*nz)*py
                 + (bx*ny - by*nx)*pz) >= 0.0
           THEN 2.0 - 2.0*sqrt(GREATEST(0.0,
                1.0 - ((px*nx + py*ny + pz*nz)*(px*nx + py*ny + pz*nz))
                      / (nx*nx + ny*ny + nz*nz)))
           ELSE LEAST(
                (px-ax)*(px-ax) + (py-ay)*(py-ay) + (pz-az)*(pz-az),
                (px-bx)*(px-bx) + (py-by)*(py-by) + (pz-bz)*(pz-bz))
      END, 4.0) AS d2
  FROM geom
),
ranked AS (
  SELECT point_id, edge_id, d2,
         row_number() OVER (PARTITION BY point_id
                            ORDER BY d2, edge_id) AS rn
  FROM scored
)
SELECT point_id, edge_id, CAST(round(d2 * 1e9, 0) AS BIGINT) AS d2_nano
FROM ranked WHERE rn = 1
"""


def wrs_sample_sql(k: int = 20) -> str:
    """Mirror of operators/sampling.py:weighted_sample_per_group over
    the documents table (group = source, weight = n_chars): A-ES keys
    ln((h + 0.5) / 2^60) / w from the md5-of-id hash, top-k per group.
    Key gaps are macroscopic (margin-guarded in pytest), so the last-ulp
    libm ln() difference between engines cannot flip the cut."""
    two60 = float(1 << 60)
    return f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) + 0.5) / {two60!r})
           / CAST(n_chars AS DOUBLE) AS wkey
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY wkey DESC, doc_id) AS INT)
           AS sample_rank
  FROM keyed
)
SELECT source, doc_id, n_chars, sample_rank FROM ranked
WHERE sample_rank <= {k}
"""


# ---------------------------------------------------------------------------
# Aperture-7 hex grid (kernels/hexgrid.py) — the H3 side of "H3/S2 index"
# ---------------------------------------------------------------------------

def _hex_consts(res: int):
    from s2_geometry_rust_spark.kernels import hexgrid as hg
    return {k: repr(v[res]) for k, v in
            dict(c=hg.COS, s=hg.SIN, c1=hg.C1, c2=hg.C2, c3=hg.C3,
                 d1=hg.D1, d2=hg.D2, d3=hg.D3).items()}


def _face_uv_fragment(points_sql: str, prefix: str) -> str:
    """CTE fragments (no WITH) from (point_id, x, y, z) to
    ``{prefix}uv(point_id, face, u, v)`` — textually identical to the
    proven fragments inside _hilbert_chain (cell_id.rs:507-537
    variant), so hex and Hilbert oracles share one face geometry."""
    p = prefix
    return f"""
{p}pts AS ({points_sql}),
{p}fuv AS (
  SELECT point_id,
    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
         WHEN abs(y) >= abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
         ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END AS face,
    x, y, z FROM {p}pts),
{p}uv AS (
  SELECT point_id, face,
    CASE face WHEN 0 THEN y/x WHEN 3 THEN -z/(-x) WHEN 1 THEN -x/y WHEN 4 THEN z/(-y) WHEN 2 THEN -y/z ELSE -x/(-z) END AS u,
    CASE face WHEN 0 THEN z/x WHEN 3 THEN -y/(-x) WHEN 1 THEN z/y WHEN 4 THEN x/(-y) WHEN 2 THEN -x/z ELSE y/(-z) END AS v
  FROM {p}fuv)
"""


def _hex_axial_fragment(src: str, res: int, prefix: str,
                        carry: list[str]) -> str:
    """CTE fragments from ``src(..carry.., face, u, v)`` to
    ``{prefix}hex(..carry.., face, q, r)`` at ``res`` — the exact op
    order of kernels.hexgrid.uv_to_axial / cube_round, constants
    injected as the same double literals the Spark Columns use."""
    k = _hex_consts(res)
    p, cols = prefix, ", ".join(carry)
    return f"""
{p}h1 AS (SELECT {cols}, face, {k['c']}*u + {k['s']}*v AS xp, {k['c']}*v - {k['s']}*u AS yp FROM {src}),
{p}h2 AS (SELECT {cols}, face, {k['c1']}*xp - {k['c2']}*yp AS qf, {k['c3']}*yp AS rf FROM {p}h1),
{p}h3 AS (SELECT {cols}, face, qf, rf, (-qf) - rf AS yf FROM {p}h2),
{p}h4 AS (SELECT {cols}, face, qf, rf, yf,
          CAST(floor(qf + 0.5) AS BIGINT) AS rx,
          CAST(floor(yf + 0.5) AS BIGINT) AS ry,
          CAST(floor(rf + 0.5) AS BIGINT) AS rz FROM {p}h3),
{p}h5 AS (SELECT {cols}, face, rx, ry, rz,
          abs(rx - qf) AS dx, abs(ry - yf) AS dy, abs(rz - rf) AS dz FROM {p}h4),
{p}hex AS (SELECT {cols}, face,
          CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS q,
          CASE WHEN dx > dy AND dx > dz THEN rz WHEN dy > dz THEN rz ELSE -rx - ry END AS r
          FROM {p}h5)
"""


def _hex_pack_sql(face: str, res: int, q: str, r: str) -> str:
    """Packed id (kernels/hexgrid.py layout); always positive BIGINT."""
    off = 1 << 27
    return (f"((CAST({face} AS BIGINT) << 60) | {res << 56} | "
            f"(({q} + {off}) << 28) | ({r} + {off}))")


def hex_tile_counts_sql(res: int = 5, table: str = "customer",
                        key: str = "c_custkey") -> str:
    frag = (_face_uv_fragment(derived_points_sql(table, key), "")
            + "," + _hex_axial_fragment("uv", res, "", ["point_id"]))
    pk = _hex_pack_sql("face", res, "q", "r")
    return f"""WITH {frag}
SELECT {pk} AS hex_id, printf('%x', {pk}) AS hex_token,
       count(*) AS n_points
FROM hex GROUP BY 1, 2"""


def hex_parent_rollup_sql(child_res: int = 6, table: str = "customer",
                          key: str = "c_custkey") -> str:
    """Assign at child_res, roll up to the aperture-7 parent
    (center-rebin at child_res-1; kernels.hexgrid.parent)."""
    k = _hex_consts(child_res)
    child_pk = _hex_pack_sql("face", child_res, "q", "r")
    frag = (_face_uv_fragment(derived_points_sql(table, key), "")
            + "," + _hex_axial_fragment("uv", child_res, "c", ["point_id"]))
    parent_frag = _hex_axial_fragment("cuv", child_res - 1, "p",
                                      ["point_id", "child_id"])
    parent_pk = _hex_pack_sql("face", child_res - 1, "q", "r")
    return f"""WITH {frag},
cent AS (SELECT point_id, {child_pk} AS child_id, face,
         {k['d1']}*CAST(q AS DOUBLE) + {k['d2']}*CAST(r AS DOUBLE) AS xl,
         {k['d3']}*CAST(r AS DOUBLE) AS yl FROM chex),
cuv AS (SELECT point_id, child_id, face,
        {k['c']}*xl - {k['s']}*yl AS u,
        {k['s']}*xl + {k['c']}*yl AS v FROM cent),
{parent_frag}
SELECT {parent_pk} AS parent_id, printf('%x', {parent_pk}) AS parent_token,
       count(*) AS n_points, count(DISTINCT child_id) AS n_children
FROM phex GROUP BY 1, 2"""


def hex_ring_counts_sql(res: int = 5, k: int = 2, n_queries: int = 20) -> str:
    """k-ring (lattice-disk) count join: for each query point's hex,
    count data points whose hex lies within lattice distance k on the
    same face — the H3 kRing neighborhood query.  Face-local semantics
    (no cross-face stitching) on both sides by construction."""
    pts = (_face_uv_fragment(derived_points_sql("customer", "c_custkey"), "a")
           + "," + _hex_axial_fragment("auv", res, "a", ["point_id"]))
    qsub = derived_points_sql(
        f"(SELECT * FROM supplier WHERE s_suppkey <= {n_queries})",
        "s_suppkey")
    qs = (_face_uv_fragment(qsub, "b")
          + "," + _hex_axial_fragment("buv", res, "b", ["point_id"]))
    return f"""WITH {pts},
{qs}
SELECT b.point_id AS query_id, count(a.point_id) AS n_points
FROM bhex b LEFT JOIN ahex a
  ON a.face = b.face
 AND abs(a.q - b.q) + abs(a.r - b.r) + abs((a.q - b.q) + (a.r - b.r)) <= {2 * k}
GROUP BY 1"""


def dup_spans_sql(window: int = 8, min_docs: int = 2) -> str:
    """Mirror of operators/dedup.py:duplicate_spans — exact duplicated
    window spans with islands merge, brute-forced in SQL."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
), wins0 AS (
  SELECT doc_id, unnest(range(1, len(tk) - {window} + 2)) AS i, tk
  FROM toks WHERE len(tk) >= {window}
), wins AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         md5(array_to_string(tk[i:i+{window - 1}], ' ')) AS h
  FROM wins0
), dup AS (
  SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
  GROUP BY h HAVING count(*) >= {min_docs}
), flagged AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM flagged
)
SELECT doc_id, min(pos) AS span_start, max(pos) + {window} AS span_end,
       count(*) AS n_windows
FROM isl GROUP BY doc_id, g
"""


def tile_pyramid_sql(levels: tuple[int, ...] = (4, 8, 12),
                     table: str = "customer",
                     key: str = "c_custkey") -> str:
    """Mirror of tiling.tile_pyramid: counts per tile at every level in
    one GROUPING SETS pass over the SQL-Hilbert leaf encoding."""
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    cols = {lv: f"p{lv}" for lv in levels}
    proj = ", ".join(
        f"{parent_sql('cell_id', lv)} AS {c}" for lv, c in cols.items()
    )
    sets = ", ".join(f"({c})" for c in cols.values())
    level_case = "CASE " + " ".join(
        f"WHEN {c} IS NOT NULL THEN {lv}" for lv, c in cols.items()
    ) + " END"
    tile = "coalesce(" + ", ".join(cols.values()) + ")"
    return (
        cte
        + f""",
par AS (SELECT point_id, {proj} FROM leaf),
agg AS (
  SELECT {', '.join(cols.values())}, count(*) AS n_points
  FROM par GROUP BY GROUPING SETS ({sets})
)
SELECT CAST({level_case} AS INT) AS level,
       {tile} AS tile_id,
       {token_sql(tile)} AS tile_token,
       n_points
FROM agg
"""
    )


def trajectory_stats_sql(scale: float = 1e15) -> str:
    """Mirror of geom_aggs.trajectory_stats over lineitem-derived
    trajectories: traj = l_orderkey, fix order = l_linenumber, point =
    normalized derived direction of k = l_orderkey*7 + l_linenumber.
    Every op (int mod, /, sqrt, -, *, round-to-int) is exactly rounded,
    so the scaled int64 hop values are bit-identical to Spark's and the
    sums are order-independent."""
    return f"""
WITH raw AS (
  SELECT l_orderkey AS traj_id, l_linenumber AS seq,
         ((l_orderkey*7 + l_linenumber)*37 % 997) / 498.5 - 1.0 AS x,
         ((l_orderkey*7 + l_linenumber)*73 % 991) / 495.5 - 1.0 AS y,
         ((l_orderkey*7 + l_linenumber)*101 % 983) / 491.5 - 1.0 AS z
  FROM lineitem
), unitv AS (
  SELECT traj_id, seq, x/n AS x, y/n AS y, z/n AS z
  FROM (SELECT traj_id, seq, x, y, z,
               sqrt(x*x + y*y + z*z) AS n FROM raw)
), hops AS (
  SELECT traj_id,
         CAST(round(((x - lag(x) OVER w) * (x - lag(x) OVER w)
                   + (y - lag(y) OVER w) * (y - lag(y) OVER w)
                   + (z - lag(z) OVER w) * (z - lag(z) OVER w))
                    * {scale!r}) AS BIGINT) AS hop_e15
  FROM unitv
  WINDOW w AS (PARTITION BY traj_id ORDER BY seq)
)
SELECT traj_id, count(*) AS n_fixes, count(hop_e15) AS n_hops,
       CAST(coalesce(sum(hop_e15), 0) AS BIGINT) AS path_chord2_e15,
       CAST(coalesce(max(hop_e15), 0) AS BIGINT) AS max_hop_e15
FROM hops GROUP BY traj_id
"""


def group_quantiles_sql(ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
                        ) -> str:
    """Mirror of sketches.exact_group_quantiles over documents
    (group = lang, value = n_chars): lower-quantile ("disc") semantics
    — smallest value whose cumulative count reaches ceil(p*n).  Pure
    integer comparisons; the only float op, p*n, is one exactly-rounded
    multiply in both engines."""
    plist = ", ".join(repr(float(p)) for p in ps)
    return f"""
WITH hist AS (
  SELECT lang, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, v, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cumc
  FROM hist
), tot AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
), ranks AS (
  SELECT lang, n, p, CAST(ceil(p * n) AS BIGINT) AS target
  FROM tot CROSS JOIN (SELECT unnest([{plist}]) AS p)
)
SELECT c.lang, r.p, min(c.v) AS q_value, r.n
FROM cum c JOIN ranks r ON c.lang = r.lang AND c.cumc >= r.target
GROUP BY 1, 2, 4
"""


def pack_sequences_sql(capacity: int = 256) -> str:
    """Mirror of text.pack_sequences: global concat-and-chunk packing.
    The oracle's single-partition ``sum() over (order by doc_id)`` is
    semantically identical to the engine's bucketed distributed prefix
    sum — that equivalence is exactly what this oracle checks."""
    c = int(capacity)
    return rf"""
WITH lens AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
), nz AS (
  SELECT * FROM lens WHERE n_tokens > 0
), cumend AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) AS e
  FROM nz
), spans AS (
  SELECT doc_id, n_tokens, CAST(e - n_tokens AS BIGINT) AS st,
         CAST(e AS BIGINT) AS en
  FROM cumend
)
SELECT b.bin_id, s.doc_id,
       greatest(s.st, b.bin_id * {c}) - b.bin_id * {c} AS start_in_bin,
       least(s.en, (b.bin_id + 1) * {c})
         - greatest(s.st, b.bin_id * {c}) AS len_in_bin,
       s.n_tokens
FROM spans s,
     unnest(range(s.st // {c}, ((s.en - 1) // {c}) + 1)) AS b(bin_id)
"""


def bm25_topk_sql(query_ids: tuple[int, ...] = (3, 7, 11), k: int = 10,
                  k1: float = 1.2, b: float = 0.75,
                  scale: float = 1e12) -> str:
    """Mirror of retrieval.bm25_topk with queries = the texts of
    ``query_ids`` documents.  The ::DOUBLE casts on k1/b are load-
    bearing: DuckDB parses bare decimal literals as DECIMAL and would
    otherwise do exact-decimal arithmetic where Spark does double,
    diverging by 1 ulp on some tf values.  avgdl is the
    correctly-rounded quotient of exact integers in both engines."""
    ids = ", ".join(str(int(i)) for i in query_ids)
    return rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), post AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfreq AS (
  SELECT term, count(*) AS df FROM post GROUP BY 1
), q AS (
  SELECT DISTINCT doc_id AS query_id, term
  FROM tok WHERE doc_id IN ({ids})
), m AS (
  SELECT q.query_id, p.doc_id,
         CAST(round(((s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((p.tf * ({k1!r}::DOUBLE + 1))
              / (p.tf + {k1!r}::DOUBLE
                 * (1.0 - {b!r}::DOUBLE
                    + {b!r}::DOUBLE * l.dl / s.avgdl)))
           * {scale!r}) AS BIGINT) AS c
  FROM post p
  JOIN q ON q.term = p.term
  JOIN dfreq d ON d.term = p.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
), sc AS (
  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_e12
  FROM m GROUP BY 1, 2
)
SELECT query_id, doc_id, score_e12, CAST(rnk AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score_e12 DESC, doc_id) AS rnk FROM sc)
WHERE rnk <= {int(k)}
"""


def tile_modality_counts_sql(level: int = 5, seed: int = 42) -> str:
    """Cross-modal geospatial rollup (mirror of engine_queries
    tile_modality_counts_q): each document's synthesized geo span ->
    SQL Hilbert leaf -> parent tile, joined with the modality of the
    document's media span (FNV-1a(ref) mod 3, the media_features
    routing) — media counts per tile per modality.  Composed entirely
    from already-proven sub-oracles."""
    points_sql = "SELECT id AS point_id, px AS x, py AS y, pz AS z FROM p"
    tile = parent_sql("cell_id", level)
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),\n"
        + _geo_synth_ctes(seed)
        + ","
        + _hilbert_chain(points_sql, "")
        + f""",
tiles AS (SELECT point_id, {tile} AS tile_id FROM leaf),
med AS (
  SELECT doc_id AS point_id,
         CAST({_fnv1a_sql("'media://' || lpad(lower(to_hex(doc_id)), 10, '0')")} % 3 AS INT) AS m3
  FROM documents
)
SELECT t.tile_id, {token_sql('t.tile_id')} AS tile_token,
       CASE m.m3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                 ELSE 'video' END AS modality,
       count(*) AS n_media
FROM tiles t JOIN med m ON m.point_id = t.point_id
GROUP BY 1, 2, 3
"""
    )


def _traj_points_sql() -> str:
    """Derived trajectory fixes over lineitem: k = l_orderkey*8 +
    l_linenumber (invertible: traj = k/8, seq = k%8 since
    l_linenumber <= 7), raw (unnormalized) direction — the gnomonic
    Hilbert projection is ratio-based, so raw and normalized vectors
    disagree in the last ulp; both engines therefore encode RAW."""
    return """
SELECT (l_orderkey*8 + l_linenumber) AS point_id,
       ((l_orderkey*8 + l_linenumber)*37 % 997) / 498.5 - 1.0 AS x,
       ((l_orderkey*8 + l_linenumber)*73 % 991) / 495.5 - 1.0 AS y,
       ((l_orderkey*8 + l_linenumber)*101 % 983) / 491.5 - 1.0 AS z
FROM lineitem
"""


def tile_transitions_sql(level: int = 8) -> str:
    """Mirror of tiling.tile_transitions over the lineitem
    trajectories."""
    cte = hilbert_leaf_cte(_traj_points_sql())
    tile = parent_sql("cell_id", level)
    return (
        cte
        + f""",
t AS (SELECT point_id // 8 AS traj_id, point_id % 8 AS seq,
             {tile} AS tile FROM leaf),
lagged AS (
  SELECT traj_id, seq, tile,
         lag(tile) OVER (PARTITION BY traj_id ORDER BY seq) AS prev
  FROM t
)
SELECT prev AS from_tile, {token_sql('prev')} AS from_token,
       tile AS to_tile, {token_sql('tile')} AS to_token,
       count(*) AS n_transitions
FROM lagged WHERE prev IS NOT NULL AND prev <> tile
GROUP BY 1, 2, 3, 4
"""
    )


def od_matrix_sql(level: int = 4) -> str:
    """Mirror of tiling.od_matrix over the lineitem trajectories
    (arg_min/arg_max on unique seq == Spark's min/max over
    (seq, tile) structs)."""
    cte = hilbert_leaf_cte(_traj_points_sql())
    tile = parent_sql("cell_id", level)
    return (
        cte
        + f""",
t AS (SELECT point_id // 8 AS traj_id, point_id % 8 AS seq,
             {tile} AS tile FROM leaf),
od AS (
  SELECT traj_id, arg_min(tile, seq) AS o_tile, arg_max(tile, seq) AS d_tile
  FROM t GROUP BY 1
)
SELECT o_tile AS origin_tile, {token_sql('o_tile')} AS origin_token,
       d_tile AS dest_tile, {token_sql('d_tile')} AS dest_token,
       count(*) AS n_trips
FROM od GROUP BY 1, 2, 3, 4
"""
    )


def corridor_join_sql(d2_max: float, n_routes: int = 4,
                      table: str = "customer",
                      key: str = "c_custkey") -> str:
    """Mirror of closest_edge.corridor_join over the closest-edge
    fixture edges grouped into routes by edge_id % n_routes: same
    formula and op order as closest_edge_sql, but per-edge distances
    are nano-rounded BEFORE the per-(point, route) min (monotone, so
    equal to rounding after) and the threshold is an exact integer."""
    from s2_geometry_rust_spark import fixtures

    thr = int(round(d2_max * 1e9))
    evals = ", ".join(
        f"({i}, {i % n_routes}, {ax!r}::DOUBLE, {ay!r}::DOUBLE,"
        f" {az!r}::DOUBLE, {bx!r}::DOUBLE, {by!r}::DOUBLE, {bz!r}::DOUBLE)"
        for (i, ax, ay, az, bx, by, bz) in fixtures.closest_edge_fixture()
    )
    return f"""
WITH pts AS ({derived_points_sql(table, key)}),
p AS (
  SELECT point_id,
         x / sqrt(x*x + y*y + z*z) AS px,
         y / sqrt(x*x + y*y + z*z) AS py,
         z / sqrt(x*x + y*y + z*z) AS pz
  FROM pts
),
e(edge_id, route_id, ax, ay, az, bx, by, bz) AS (VALUES {evals}),
geom AS (
  SELECT p.point_id, e.route_id, p.px, p.py, p.pz,
         e.ax, e.ay, e.az, e.bx, e.by, e.bz,
         e.ay*e.bz - e.az*e.by AS nx,
         e.az*e.bx - e.ax*e.bz AS ny,
         e.ax*e.by - e.ay*e.bx AS nz
  FROM p CROSS JOIN e
),
scored AS (
  SELECT point_id, route_id,
    CAST(round(LEAST(
      CASE WHEN ((ny*az - nz*ay)*px + (nz*ax - nx*az)*py
                 + (nx*ay - ny*ax)*pz) >= 0.0
            AND ((by*nz - bz*ny)*px + (bz*nx - bx*nz)*py
                 + (bx*ny - by*nx)*pz) >= 0.0
           THEN 2.0 - 2.0*sqrt(GREATEST(0.0,
                1.0 - ((px*nx + py*ny + pz*nz)*(px*nx + py*ny + pz*nz))
                      / (nx*nx + ny*ny + nz*nz)))
           ELSE LEAST(
                (px-ax)*(px-ax) + (py-ay)*(py-ay) + (pz-az)*(pz-az),
                (px-bx)*(px-bx) + (py-by)*(py-by) + (pz-bz)*(pz-bz))
      END, 4.0) * 1e9) AS BIGINT) AS d2n
  FROM geom
)
SELECT point_id, route_id, CAST(min(d2n) AS BIGINT) AS d2_nano
FROM scored GROUP BY 1, 2
HAVING min(d2n) <= {thr}
"""


def webmerc_tile_counts_sql(zoom: int = 6, table: str = "customer",
                            key: str = "c_custkey") -> str:
    """Mirror of tiling.webmerc_tile_counts over the derived 0.25-grid
    lat/lng points.  ln/tan are the one libm dependency; the 0.25-deg
    fixture grid sits far from every tile boundary at this zoom, so a
    1-ulp libm difference cannot flip an assignment (same argument as
    the geo-synthesis oracles)."""
    n = float(1 << zoom)
    hi = (1 << zoom) - 1
    return f"""
WITH ll AS (
  SELECT {key} AS point_id,
         (({key}*37) % 181)::DOUBLE - 90.0 + 0.25 AS lat,
         (({key}*73) % 361)::DOUBLE - 180.0 + 0.25 AS lng
  FROM {table}
), t AS (
  SELECT point_id,
    LEAST(GREATEST(floor((lng + 180.0) / 360.0 * {n!r}), 0), {hi}) AS xtile,
    LEAST(GREATEST(floor((1.0
      - ln(tan(0.7853981633974483
               + radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878))
               / 2.0)) / 3.141592653589793) / 2.0 * {n!r}), 0), {hi})
      AS ytile
  FROM ll
)
SELECT CAST({zoom} AS INT) AS zoom, CAST(xtile AS BIGINT) AS xtile,
       CAST(ytile AS BIGINT) AS ytile, count(*) AS n_points
FROM t GROUP BY 1, 2, 3
"""


def hex_focal_counts_sql(res: int = 2, table: str = "customer",
                         key: str = "c_custkey") -> str:
    """Mirror of tiling.hex_focal_counts: per-hex counts spread to the
    7-cell lattice disk and re-summed, face-local, in axial space."""
    from s2_geometry_rust_spark.kernels.hexgrid import disk_offsets

    frag = (_face_uv_fragment(derived_points_sql(table, key), "")
            + "," + _hex_axial_fragment("uv", res, "", ["point_id"]))
    pk = _hex_pack_sql("face", res, "tq", "tr")
    vals = ", ".join(f"({dq}, {dr})" for dq, dr in disk_offsets(1))
    return f"""WITH {frag},
counts AS (SELECT face, q, r, count(*) AS n FROM hex GROUP BY 1, 2, 3),
offs(dq, dr) AS (VALUES {vals}),
spread AS (
  SELECT face, q + dq AS tq, r + dr AS tr, n FROM counts CROSS JOIN offs
)
SELECT {pk} AS hex_id, CAST(sum(n) AS BIGINT) AS focal_points
FROM spread GROUP BY 1"""


def polygon_areas_sql() -> str:
    """Mirror of geom_aggs.polygon_areas over fixtures.POLYGONS: the
    loop_stats_sql area machinery (signed-excess terms with the exact/
    symbolic sign tiers replayed from embedded LSB parities) keyed by
    (region, poly, loop_idx), nano-rounded per loop, then combined
    shell-minus-holes as exact ints."""
    import math

    import numpy as np

    from s2_geometry_rust_spark import fixtures
    from s2_geometry_rust_spark.kernels import latlng as lk

    rows = []
    for region_id, loop_list in fixtures.POLYGONS.items():
        seq: dict[int, int] = {}
        for poly, loop_name in loop_list:
            idx = seq.get(poly, 0)
            seq[poly] = idx + 1
            pts = fixtures.LOOPS[loop_name]
            lat = lk.degrees_to_radians(
                np.array([p[0] for p in pts], np.float64))
            lng = lk.degrees_to_radians(
                np.array([p[1] for p in pts], np.float64))
            x, y, z = lk.latlng_to_xyz(lat, lng)
            bits = lambda v: int(np.float64(v).view(np.uint64)) & 1  # noqa: E731
            n = len(pts)
            for e in range(n):
                ne = (e + 1) % n
                rows.append((
                    region_id, poly, idx,
                    float(x[e]), float(y[e]), float(z[e]),
                    float(x[ne]), float(y[ne]), float(z[ne]),
                    bits(x[e]) ^ bits(y[e]) ^ bits(z[e])
                    ^ bits(x[ne]) ^ bits(y[ne]) ^ bits(z[ne]),
                ))
    vals = ", ".join(
        f"('{r}', {p}, {i}, {x0!r}, {y0!r}, {z0!r},"
        f" {x1!r}, {y1!r}, {z1!r}, {par})"
        for (r, p, i, x0, y0, z0, x1, y1, z1, par) in rows
    )
    v0 = ("x0", "y0", "z0")
    v1 = ("x1", "y1", "z1")
    sign = (f"CASE WHEN {_l2_sql(v0, v1)} < {DEGENERATE!r} THEN 0 "
            f"WHEN lsb_parity = 0 THEN 1 ELSE -1 END")
    dot = "(x0*x1 + y0*y1 + z0*z1)"
    pi = repr(math.pi)
    return f"""
WITH pedges(region_id, poly, loop_idx, x0, y0, z0, x1, y1, z1, lsb_parity)
  AS (VALUES {vals}),
terms AS (
  SELECT region_id, poly, loop_idx,
         ({sign}) * acos(LEAST(GREATEST({dot}, -1.0), 1.0)) AS term
  FROM pedges
),
loop_area AS (
  SELECT region_id, poly, loop_idx,
         CAST(round(abs(abs(sum(term)) - (count(*) - 2.0) * {pi}) * 1e9, 0)
              AS BIGINT) AS a
  FROM terms GROUP BY 1, 2, 3
)
SELECT region_id, poly, CAST(count(*) AS INT) AS n_loops,
       CAST(count(*) - 1 AS INT) AS n_holes,
       CAST(sum(CASE WHEN loop_idx = 0 THEN a ELSE -a END) AS BIGINT)
         AS area_nano
FROM loop_area GROUP BY 1, 2
"""


def colocated_pairs_sql(level: int = 6, min_shared: int = 2) -> str:
    """Mirror of tiling.colocated_pairs over the lineitem
    trajectories."""
    cte = hilbert_leaf_cte(_traj_points_sql())
    tile = parent_sql("cell_id", level)
    return (
        cte
        + f""",
tt AS (
  SELECT DISTINCT point_id // 8 AS traj_id, {tile} AS tile
  FROM leaf
)
SELECT a.traj_id AS traj_a, b.traj_id AS traj_b,
       count(*) AS n_shared_tiles
FROM tt a JOIN tt b ON a.tile = b.tile AND a.traj_id < b.traj_id
GROUP BY 1, 2 HAVING count(*) >= {int(min_shared)}
"""
    )


def span_sequences_sql(seed: int = 42) -> str:
    """Independent SQL replay of the interleaved span synthesis
    (sources/interleaved.py interleave_flat_documents(with_media=True)):
    three spans per doc in fixed order — text (md5 of the source text,
    offset 0), geo (lat/lng re-derived by the proven geo-synthesis
    CTEs; the engine's parse-back of the POINT text is IEEE-exact so
    the doubles match bit-for-bit; offset = greatest(len(text), 1)),
    media (media://hex ref).  This is the BASELINE span-sequence
    invariant (kind, text, media_ref, order) as a value-checked
    contract row set."""
    return f"""
WITH {_geo_synth_ctes(seed)},
base AS (
  SELECT doc_id AS id,
         'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS did,
         coalesce(text, '') AS text
  FROM documents
)
SELECT did AS doc_id, CAST(0 AS INT) AS span_idx, 'text' AS kind,
       md5(text) AS text_md5, '' AS media_ref,
       CAST(0 AS BIGINT) AS lat_micro, CAST(0 AS BIGINT) AS lng_micro,
       CAST(0 AS INT) AS offset01
FROM base
UNION ALL
SELECT b.did, CAST(1 AS INT), 'geo', '', '',
       CAST(round(ll.lat * 1e6, 0) AS BIGINT),
       CAST(round(ll.lng * 1e6, 0) AS BIGINT),
       CAST(greatest(length(b.text), 1) AS INT)
FROM base b JOIN ll ON ll.id = b.id
UNION ALL
SELECT did, CAST(2 AS INT), 'media', '',
       'media://' || lpad(lower(to_hex(id)), 10, '0'),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(-1 AS INT)
FROM base
"""


def tile_pagerank_sql(level: int = 8, iterations: int = 3,
                      scale: int = 10**12) -> str:
    """Mirror of graph.pagerank_exact over the tile-transition edges:
    the fixed power iterations unroll as CTE rounds; every value is an
    exact int64 (floor division; damping as the rational 17/20), so
    the replay is bit-for-bit.  DuckDB's ``//`` and Spark's ``div``
    agree on the all-positive domain."""
    cte = hilbert_leaf_cte(_traj_points_sql())
    tile = parent_sql("cell_id", level)
    rounds = []
    prev = "pr0"
    for r in range(1, iterations + 1):
        rounds.append(f"""
prc{r} AS (
  SELECT e.dst, (p.pr * e.w) // o.out_w AS c
  FROM e JOIN {prev} p ON p.node = e.src JOIN outw o ON o.src = e.src
),
prs{r} AS (SELECT dst, CAST(sum(c) AS BIGINT) AS s FROM prc{r} GROUP BY 1),
pr{r} AS (
  SELECT n.node,
         CAST((3*{scale}) // (20*nn.n)
              + (17*coalesce(s.s, 0)) // 20 AS BIGINT) AS pr
  FROM nodes n CROSS JOIN nn LEFT JOIN prs{r} s ON s.dst = n.node
)""")
        prev = f"pr{r}"
    return (
        cte
        + f""",
t AS (SELECT point_id // 8 AS traj_id, point_id % 8 AS seq,
             {tile} AS tile FROM leaf),
lagged AS (
  SELECT traj_id, seq, tile,
         lag(tile) OVER (PARTITION BY traj_id ORDER BY seq) AS prev
  FROM t
),
edges AS (
  SELECT prev AS src, tile AS dst, count(*) AS w
  FROM lagged WHERE prev IS NOT NULL AND prev <> tile
  GROUP BY 1, 2
),
e AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
pr0 AS (
  SELECT node, CAST({scale} // nn.n AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn
),{",".join(rounds)}
SELECT node AS tile_id, {token_sql('node')} AS tile_token, pr AS pr_e12
FROM {prev}
"""
    )


def haversine_pairs_sql(table: str = "customer",
                        key: str = "c_custkey") -> str:
    """Mirror of haversine_pairs_q (latlng.rs normalized + haversine):
    identical op order; DuckDB mod() is C fmod (dividend sign), so
    rem_euclid is spelled as the two-step CASE — numerically identical
    to Spark's pmod."""
    import math

    pi = repr(math.pi)
    two_pi = repr(2.0 * math.pi)

    def norm_lng(lo: str) -> str:
        m = f"mod({lo}, {two_pi})"
        return (f"(CASE WHEN (CASE WHEN {m} < 0 THEN {m} + {two_pi} "
                f"ELSE {m} END) > {pi} "
                f"THEN (CASE WHEN {m} < 0 THEN {m} + {two_pi} ELSE {m} END)"
                f" - {two_pi} "
                f"ELSE (CASE WHEN {m} < 0 THEN {m} + {two_pi} ELSE {m} END)"
                f" END)")

    def norm_lat(la: str) -> str:
        return f"LEAST(GREATEST({la}, -{pi}/2), {pi}/2)"

    return f"""
WITH ll AS (
  SELECT {key} AS point_id,
         radians((({key}*37) % 181)::DOUBLE - 90.0 + 0.25) AS la1,
         radians((({key}*73) % 361)::DOUBLE - 180.0 + 0.25) AS lo1,
         radians(((({key}+1)*37) % 181)::DOUBLE - 90.0 + 0.25) AS la2,
         radians(((({key}+1)*73) % 361)::DOUBLE - 180.0 + 0.25) AS lo2
  FROM {table}
), n AS (
  SELECT point_id,
         {norm_lat('la1')} AS la1, {norm_lng('lo1')} AS lo1,
         {norm_lat('la2')} AS la2, {norm_lng('lo2')} AS lo2
  FROM ll
), h AS (
  SELECT point_id,
         sin((la2 - la1) * 0.5) AS s1, sin((lo2 - lo1) * 0.5) AS s2,
         cos(la1) AS c1, cos(la2) AS c2
  FROM n
)
SELECT point_id,
       CAST(round(2.0 * atan2(sqrt(s1*s1 + c1*c2*s2*s2),
                              sqrt(1.0 - (s1*s1 + c1*c2*s2*s2)))
                  * 1e9, 0) AS BIGINT) AS dist_nano
FROM h
"""


def corpus_mix_sql(mix: dict[str, float], budget: int) -> str:
    """Mirror of sampling.corpus_mix: quotas computed by the SAME
    python expression (embedded as literals on both sides), ranks by
    the proven md5-of-decimal-id order."""
    total = sum(mix.values())
    vals = ", ".join(
        f"('{s}', {int((budget * w) / total + 0.5)})"
        for s, w in mix.items()
    )
    return f"""
WITH q(source, quota) AS (VALUES {vals}),
r AS (
  SELECT d.doc_id, d.source, q.quota,
         CAST(row_number() OVER (
             PARTITION BY d.source
             ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS INT) AS sample_rank
  FROM documents d JOIN q USING (source)
)
SELECT doc_id, source, CAST(quota AS BIGINT) AS quota, sample_rank
FROM r WHERE sample_rank <= quota
"""


def rolling_anomalies_sql(window_rows: int = 24, min_history: int = 12,
                          z2_threshold: int = 9) -> str:
    """Mirror of events.rolling_anomalies: same ROWS frame, same
    division order — all inputs exact ints, so the doubles (and the
    anomaly decision) are bit-identical."""
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), rolled AS (
  SELECT event_type, h, n,
    count(n) OVER w AS hist_n,
    CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w AS m,
    CAST(sum(n*n) OVER w AS DOUBLE) / count(n) OVER w
      - (CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w)
      * (CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w) AS v
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {window_rows} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       n, CAST(hist_n AS BIGINT) AS hist_n,
       CAST(round(m * 1e6, 0) AS BIGINT) AS mean_e6,
       CAST(round(v * 1e6, 0) AS BIGINT) AS var_e6,
       (n - m) * (n - m) > {float(z2_threshold)!r} * v AS is_anomaly
FROM rolled WHERE hist_n >= {min_history}
"""


def vocab_topk_per_group_sql(k: int = 5) -> str:
    """Mirror of vocab.vocab_topk_per_group over (documents, lang)."""
    return rf"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT lang, token, count(*) AS n_occurrences FROM tok GROUP BY 1, 2
)
SELECT lang, token, n_occurrences, CAST(rnk AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY n_occurrences DESC, token) AS rnk FROM counts)
WHERE rnk <= {int(k)}
"""


def profile_documents_sql(columns: tuple[str, ...] = (
        "doc_id", "text", "lang", "source", "n_chars")) -> str:
    """Mirror of profiling.profile_table over documents."""
    parts = []
    for c in columns:
        parts.append(f"""
SELECT '{c}' AS "column", (SELECT count(*) FROM documents) AS n_rows,
       count({c}) AS n_nonnull, count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM documents""")
    return "\nUNION ALL\n".join(parts)


def geohash_tiles_sql(precision: int = 6, table: str = "customer",
                      key: str = "c_custkey") -> str:
    """Mirror of tiling.geohash_tile_counts over the derived lat/lng
    grid — pure integer bit math, the only tiler with zero libm."""
    nbits = 5 * precision
    lat_bits = nbits // 2
    lng_bits = nbits - lat_bits
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    terms = []
    for b in range(lng_bits):
        terms.append(f"(((lng_i >> {lng_bits - 1 - b}) & 1)"
                     f" << {nbits - 1 - 2 * b})")
    for b in range(lat_bits):
        terms.append(f"(((lat_i >> {lat_bits - 1 - b}) & 1)"
                     f" << {nbits - 2 - 2 * b})")
    code = " + ".join(terms)
    chars = " || ".join(
        f"substring('{alpha}', CAST(((code >> {nbits - 5 * (j + 1)}) & 31)"
        f" AS INT) + 1, 1)"
        for j in range(precision)
    )
    return f"""
WITH ll AS (
  SELECT {key} AS point_id,
         (({key}*37) % 181)::DOUBLE - 90.0 + 0.25 AS lat,
         (({key}*73) % 361)::DOUBLE - 180.0 + 0.25 AS lng
  FROM {table}
), q AS (
  SELECT point_id,
    CAST(LEAST(GREATEST(floor((lat + 90.0) / 180.0
        * {float(1 << lat_bits)!r}), 0), {(1 << lat_bits) - 1})
      AS BIGINT) AS lat_i,
    CAST(LEAST(GREATEST(floor((lng + 180.0) / 360.0
        * {float(1 << lng_bits)!r}), 0), {(1 << lng_bits) - 1})
      AS BIGINT) AS lng_i
  FROM ll
), c AS (
  SELECT point_id, ({code}) AS code FROM q
)
SELECT {chars} AS geohash, count(*) AS n_points
FROM c GROUP BY 1
"""


def hilbert_partition_stats_sql(n_partitions: int = 16,
                                rate_ppm: int = 20_000,
                                table: str = "customer",
                                key: str = "c_custkey") -> str:
    """Mirror of plans.partitioning.hilbert_partition_stats over the
    SQL-Hilbert leaf cells: deterministic md5-prefix sample -> lower
    sample quantiles in unsigned order -> count-of-bounds<=key
    partition assignment -> per-partition balance stats."""
    cte = hilbert_leaf_cte(derived_points_sql(table, key))
    prefix = f"{(rate_ppm * (1 << 32)) // 1_000_000:08x}" + "0" * 24
    b = int(n_partitions)
    return (
        cte
        + f""",
keyed AS (
  SELECT point_id, cell_id,
         xor(cell_id, -9223372036854775808) AS ukey
  FROM leaf
),
samp AS (
  SELECT ukey FROM keyed
  WHERE md5(CAST(cell_id AS VARCHAR)) < '{prefix}'
),
ranked AS (
  SELECT ukey, row_number() OVER (ORDER BY ukey) AS rn FROM samp
),
mm AS (SELECT count(*) AS m FROM samp),
bounds AS (
  SELECT r.ukey AS bnd
  FROM (SELECT unnest(range(1, {b})) AS i) ii
  CROSS JOIN mm
  JOIN ranked r
    ON r.rn = GREATEST((ii.i * mm.m + {b} - 1) // {b}, 1)
),
pid AS (
  SELECT k.point_id, k.cell_id, k.ukey, count(bo.bnd) AS partition_id
  FROM keyed k LEFT JOIN bounds bo ON bo.bnd <= k.ukey
  GROUP BY 1, 2, 3
)
SELECT CAST(partition_id AS INT) AS partition_id,
       count(*) AS n_points,
       {token_sql('arg_min(cell_id, ukey)')} AS min_token,
       {token_sql('arg_max(cell_id, ukey)')} AS max_token
FROM pid GROUP BY 1
"""
    )


def label_similarity_sql() -> str:
    """Mirror of vocab.label_similarity: exact-int sum vectors (the
    label_centroids quantization), int64 dots/norms, one sqrt/divide
    at the end."""
    return """
WITH e AS (
  SELECT label,
         CAST(unnest(range(len(embedding))) AS INT) AS dim,
         unnest(embedding) AS elem
  FROM embeddings
), sums AS (
  SELECT label, dim,
         CAST(SUM(CAST(round(CAST(elem AS DOUBLE) * 1e6, 0) AS BIGINT))
              AS BIGINT) AS s
  FROM e GROUP BY 1, 2
), norms AS (
  SELECT label, CAST(sum(s * s) AS BIGINT) AS n2 FROM sums GROUP BY 1
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b, d.dot,
       CAST(round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1e9, 0)
            AS BIGINT) AS cos_nano
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
"""


_QUALITY_M_CTE = r"""
t AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars_calc
  FROM documents
), m AS (
  SELECT doc_id, source, n_chars_calc, len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS n_stop,
         n_chars_calc - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
  FROM t
), scored AS (
  SELECT doc_id, source, n_chars_calc, n_tokens,
         CASE WHEN n_chars_calc > 0 THEN n_punct::DOUBLE / n_chars_calc ELSE 0.0 END AS punct_ratio,
         LEAST(n_tokens::DOUBLE / 32.0, 1.0) * 0.5
         + LEAST((CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END) * 4.0, 1.0) * 0.3
         + (1.0 - LEAST((CASE WHEN n_chars_calc > 0 THEN n_punct::DOUBLE / n_chars_calc ELSE 0.0 END) * 4.0, 1.0)) * 0.2
           AS quality_score
  FROM m
)"""


def gate_funnel_sql(min_chars: int = 100, min_tokens: int = 20,
                    min_quality: float = 0.6,
                    max_punct: float = 0.1) -> str:
    """Mirror of corpus.gate_funnel: one scan, conditional sums over
    the identical quality expression trees."""
    g1 = f"n_chars_calc >= {int(min_chars)}"
    g2 = f"n_tokens >= {int(min_tokens)}"
    g3 = f"quality_score >= {min_quality!r}::DOUBLE"
    g4 = f"punct_ratio <= {max_punct!r}::DOUBLE"
    return f"""
WITH {_QUALITY_M_CTE},
agg AS (
  SELECT count(*) AS g0,
         CAST(sum(CASE WHEN {g1} THEN 1 ELSE 0 END) AS BIGINT) AS g1,
         CAST(sum(CASE WHEN {g1} AND {g2} THEN 1 ELSE 0 END) AS BIGINT) AS g2,
         CAST(sum(CASE WHEN {g1} AND {g2} AND {g3} THEN 1 ELSE 0 END) AS BIGINT) AS g3,
         CAST(sum(CASE WHEN {g1} AND {g2} AND {g3} AND {g4} THEN 1 ELSE 0 END) AS BIGINT) AS g4
  FROM scored
)
SELECT 0 AS gate, 'input' AS gate_name, g0 AS n_surviving FROM agg
UNION ALL SELECT 1, 'min_chars', g1 FROM agg
UNION ALL SELECT 2, 'min_tokens', g2 FROM agg
UNION ALL SELECT 3, 'min_quality', g3 FROM agg
UNION ALL SELECT 4, 'max_punct', g4 FROM agg
"""


def event_transitions_sql() -> str:
    """Mirror of events.event_transitions."""
    return """
WITH lagged AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL
)
SELECT prev AS from_type, event_type AS to_type,
       count(*) AS n_transitions
FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2
"""


def quality_histogram_sql(buckets: int = 10) -> str:
    """Mirror of text.quality_histogram (identical quality trees, so
    even bucket-edge rows land identically)."""
    b = int(buckets)
    return f"""
WITH {_QUALITY_M_CTE}
SELECT source,
       CAST(LEAST(GREATEST(floor(quality_score * {b}), 0), {b}) AS INT)
         AS bucket,
       count(*) AS n_docs
FROM scored GROUP BY 1, 2
"""


def tile_quality_sql(level: int = 6, seed: int = 42) -> str:
    """Mirror of tile_quality_q: geo synthesis -> SQL Hilbert tile,
    joined to the quality CTE, exact micro-scaled sums."""
    points_sql = "SELECT id AS point_id, px AS x, py AS y, pz AS z FROM p"
    tile = parent_sql("cell_id", level)
    return (
        f"WITH lut(idx, r) AS (VALUES {lookup_pos_sql_values()}),\n"
        + _geo_synth_ctes(seed)
        + ","
        + _hilbert_chain(points_sql, "")
        + f""",
tiles AS (SELECT point_id, {tile} AS tile_id FROM leaf),
{_QUALITY_M_CTE}
SELECT t.tile_id, {token_sql('t.tile_id')} AS tile_token,
       count(*) AS n_docs,
       CAST(sum(CAST(round(s.quality_score * 1e6, 0) AS BIGINT))
            AS BIGINT) AS quality_micro_sum
FROM tiles t JOIN scored s ON s.doc_id = t.point_id
GROUP BY 1, 2
"""
    )


def source_bbox_sql(seed: int = 42) -> str:
    """Mirror of source_bbox_q: the geo-synthesis lat/lng doubles
    grouped by the document's source — pure min/max."""
    return (
        "WITH "
        + _geo_synth_ctes(seed)
        + """,
src AS (SELECT doc_id AS id, source FROM documents)
SELECT s.source, count(*) AS n_geo,
       CAST(round(min(ll.lat) * 1e6, 0) AS BIGINT) AS min_lat_micro,
       CAST(round(max(ll.lat) * 1e6, 0) AS BIGINT) AS max_lat_micro,
       CAST(round(min(ll.lng) * 1e6, 0) AS BIGINT) AS min_lng_micro,
       CAST(round(max(ll.lng) * 1e6, 0) AS BIGINT) AS max_lng_micro
FROM ll JOIN src s ON s.id = ll.id
GROUP BY 1
"""
    )


# ---------------------------------------------------------------------------
# round-4 oracles: cap running point bound, maximum_tile, canonicalize
# ---------------------------------------------------------------------------


def _u64h(expr: str) -> str:
    """BIGINT -> HUGEINT reinterpreted as u64 (for unsigned compares)."""
    return (f"(CASE WHEN {expr} < 0 THEN CAST({expr} AS HUGEINT) + {U64} "
            f"ELSE CAST({expr} AS HUGEINT) END)")


def cap_point_bounds_sql(n_groups: int = 16, table: str = "customer",
                         key: str = "c_custkey") -> str:
    """Mirror of geom_aggs.cap_add_point_bounds: Cap::from_point(first)
    + add_point fold == (first point in id order, max squared chord
    clamped at 4.0 — chord_angle.rs:90-98)."""
    return f"""
WITH p AS ({derived_points_sql(table, key)}),
g AS (SELECT point_id % {n_groups} AS group_id, point_id, x, y, z FROM p),
w AS (
  SELECT group_id, point_id, x, y, z,
         first_value(x) OVER win AS cx,
         first_value(y) OVER win AS cy,
         first_value(z) OVER win AS cz
  FROM g
  WINDOW win AS (PARTITION BY group_id ORDER BY point_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT group_id, min(point_id) AS center_id, count(*) AS n_points,
       max(LEAST((x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz), 4.0))
         AS radius_l2
FROM w GROUP BY group_id
"""


def maximum_tile_sql(table: str = "customer", key: str = "c_custkey") -> str:
    """Mirror of functions.cell_maximum_tile over the leaf-encoded
    derived points: the parent climb (cell_id.rs:673-685) re-expressed
    as min { L : range_max(parent(leaf, L)) < end } (monotone range_max
    makes the first-violation stop equal the minimal satisfying level),
    with end = range_min(anchor at level point_id%11+5) +
    (point_id%1000+1)*64 — unaligned ends so the stop level varies with
    the Hilbert position, including the even-the-leaf-violates fallback."""
    lvl = "CAST(30 - bit_count((t.tile & -t.tile) - 1) // 2 AS INTEGER)"
    return hilbert_leaf_cte(derived_points_sql(table, key)) + f""",
vars AS (
  SELECT point_id, cell_id AS lf,
         CAST(power(4, 30 - (point_id % 11 + 5)) AS BIGINT) AS lsb2,
         (point_id % 1000 + 1) * 64 AS k
  FROM leaf
),
ends AS (
  SELECT point_id, lf,
         {_u64h("((lf & -lsb2) | lsb2)")}
           - (CAST(((lf & -lsb2) | lsb2) & -((lf & -lsb2) | lsb2) AS HUGEINT) - 1)
           + k AS end_h
  FROM vars
),
cand AS (
  SELECT e.point_id, e.lf, e.end_h, r.l AS lv,
         CASE WHEN r.l >= 30 THEN e.lf
              ELSE ((e.lf & -CAST(power(4, 30 - r.l) AS BIGINT))
                    | CAST(power(4, 30 - r.l) AS BIGINT)) END AS p
  FROM ends e CROSS JOIN (SELECT unnest(range(0, 31)) AS l) r
),
pick AS (
  SELECT point_id, any_value(lf) AS lf,
         arg_min(p, lv) FILTER (
           WHERE {_u64h("p")} + (CAST(p & -p AS HUGEINT) - 1) < end_h
         ) AS tile
  FROM cand GROUP BY point_id
),
t AS (SELECT point_id, coalesce(tile, lf) AS tile FROM pick)
SELECT point_id, t.tile AS tile_id, {lvl} AS tile_level,
       {token_sql('t.tile')} AS tile_token
FROM t
"""


def canonical_covering_sql(min_level: int = 8, max_level: int = 14,
                           level_mod: int = 2, max_cells: int = 16,
                           rounds: int = 30) -> str:
    """Mirror of unions_ops.canonicalize_covering_distributed over the
    union_leaf_cells member construction: per-cell level clamp (incl.
    the unconditional (id & -lsb) | lsb snap at the target level, which
    DESCENDS for upward rounding — region_coverer.rs:542-596 applies
    parent() without direction checks), normalize chain, then the
    stable (level, unsigned id) truncation to max_cells (a prefix of a
    normalized set is still normalized, so the reference's final
    normalize call is a plain sort)."""
    lvl = "(30 - bit_count((cell_id & -cell_id) - 1) // 2)"
    rem = f"({lvl} % {level_mod})"
    up = f"({lvl} + {level_mod} - {rem})"
    target = f"""CASE
  WHEN {lvl} < {min_level} THEN {min_level}
  WHEN {lvl} > {max_level} THEN {max_level}
  WHEN {rem} = 0 THEN {lvl}
  WHEN {rem} < {level_mod // 2} THEN {lvl} - {rem}
  WHEN {up} <= {max_level} THEN {up}
  ELSE {lvl} - {rem} END"""
    cte = hilbert_leaf_cte(derived_points_sql("customer", "c_custkey"))
    return (
        cte + "," + _union_members_sql("leaf", "members") + f""",
clamped AS (
  SELECT DISTINCT union_id,
    CASE WHEN ({target}) = {lvl} THEN cell_id
         ELSE ((cell_id & -CAST(power(4, 30 - ({target})) AS BIGINT))
               | CAST(power(4, 30 - ({target})) AS BIGINT)) END AS cell_id
  FROM members
),"""
        + _normalize_chain_sql("clamped", "n", rounds)
        + f""",
ranked AS (
  SELECT union_id, cell_id,
         row_number() OVER (
           PARTITION BY union_id
           ORDER BY {lvl}, {_u64h("cell_id")}
         ) AS r
  FROM nk{rounds}
)
SELECT union_id, cell_id FROM ranked WHERE r <= {max_cells}
"""
    )


# ---------------------------------------------------------------------------
# PII + canonical-dedup oracles
# ---------------------------------------------------------------------------

def pii_report_sql() -> str:
    """Mirror of operators/pii.pii_report over the deterministically
    PII-planted documents (the planting is the same pure function of
    doc_id on both sides).  Patterns are the Java-regex/RE2 common
    dialect, so Spark's regexp_extract_all/regexp_replace and DuckDB's
    agree byte-for-byte; redaction nests in PII_PATTERNS order."""
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\b\d{3}-\d{3}-\d{4}\b"
    ssn = r"\b\d{3}-\d{2}-\d{4}\b"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    red = "text"
    for pat, tag in ((email, "<EMAIL>"), (phone, "<PHONE>"),
                     (ssn, "<SSN>"), (ipv4, "<IPV4>")):
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
              THEN ' call ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 743 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 9973 AS VARCHAR), 4, '0')
              ELSE '' END
         || CASE WHEN doc_id % 7 = 0
              THEN ' id ' || lpad(CAST((doc_id % 900) + 100 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST((doc_id % 89) + 10 AS VARCHAR), 2, '0')
                   || '-' || lpad(CAST((doc_id % 9000) + 1000 AS VARCHAR), 4, '0')
              ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                   || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
              ELSE '' END
         AS text
  FROM documents
),
counted AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{email}')) AS n_email,
         len(regexp_extract_all(text, '{phone}')) AS n_phone,
         len(regexp_extract_all(text, '{ssn}')) AS n_ssn,
         len(regexp_extract_all(text, '{ipv4}')) AS n_ipv4,
         md5({red}) AS redacted_md5
  FROM planted
)
SELECT doc_id, n_email, n_phone, n_ssn, n_ipv4,
       n_email + n_phone + n_ssn + n_ipv4 AS n_pii,
       redacted_md5
FROM counted
"""


def dedup_keep_best_sql(threshold: float = 0.5, n_perm: int = 128,
                        n_bands: int = 32) -> str:
    """Mirror of dedup.dedup_keep_best: duplicate clusters (recursive
    reachability closure) + quality scores, then the per-cluster argmax
    by (quality_score DESC, doc_id ASC).  The engine computes the same
    argmax as an algebraic max(struct(quality, -doc_id)) aggregate —
    both sides compare the identical doubles, so the winner is
    algorithm-independent."""
    return f"""
WITH cl AS ({dedup_clusters_sql(threshold, n_perm, n_bands)}),
q AS ({text_quality_sql()}),
ranked AS (
  SELECT cl.cluster_id, cl.cluster_size, cl.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY q.quality_score DESC, cl.doc_id ASC
                           ) AS rn
  FROM cl JOIN q ON q.doc_id = cl.doc_id
)
SELECT cluster_id, doc_id AS kept_doc_id, quality_score AS kept_quality,
       cluster_size
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# round-4 session-2 oracles: IVF-PQ ANN, semantic dedup, Bloom
# decontamination.


def ann_ivfpq_sql(k: int = 10, n_coarse: int = 16, n_probe: int = 4,
                  m: int = 8, ks: int = 16, n_queries: int = 20) -> str:
    """Full IVF-PQ replay in SQL (mirror of similarity.ivfpq_topk with
    init="first_ids"): 1e-6 integer grid, coarse assignment = argmin
    exact squared L2 to the first-n_coarse-ids centroids (ties ->
    lowest cid), PQ codebook = residuals of ids
    [n_coarse, n_coarse+ks), per-subspace codes, n_probe probed lists
    per query, per-(query, probed-list) residual LUTs, ADC = integer
    LUT sums, rank ties by neighbor_id — every step exact integer
    arithmetic, so this matches the engine bit-for-bit."""
    sub = 64 // m
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
  FROM embeddings
), ed AS (
  SELECT vec_id, CAST(unnest(range(64)) AS INT) AS d, unnest(v) AS x
  FROM e
), coarse AS (
  SELECT vec_id AS cid, d, x FROM ed WHERE vec_id < {n_coarse}
), cdist AS (
  SELECT ed.vec_id, coarse.cid,
         CAST(SUM((ed.x - coarse.x) * (ed.x - coarse.x)) AS BIGINT) AS d2
  FROM ed JOIN coarse USING (d)
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM cdist) WHERE rn = 1
), resid AS (
  SELECT ed.vec_id, a.bucket, ed.d, ed.x - c.x AS rx
  FROM ed JOIN assigned a USING (vec_id)
  JOIN coarse c ON c.cid = a.bucket AND c.d = ed.d
), cb AS (
  SELECT vec_id - {n_coarse} AS code_cid, d, rx FROM resid
  WHERE vec_id >= {n_coarse} AND vec_id < {n_coarse + ks}
), pqdist AS (
  SELECT r.vec_id, cb.code_cid, r.d // {sub} AS j,
         CAST(SUM((r.rx - cb.rx) * (r.rx - cb.rx)) AS BIGINT) AS d2
  FROM resid r JOIN cb ON cb.d = r.d
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, j, code_cid AS code FROM (
    SELECT vec_id, j, code_cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2, code_cid) AS rn
    FROM pqdist) WHERE rn = 1
), probed AS (
  SELECT vec_id AS query_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM cdist WHERE vec_id < {n_queries}) WHERE rn <= {n_probe}
), qres AS (
  SELECT p.query_id, p.bucket, ed.d, ed.x - c.x AS qrx
  FROM probed p
  JOIN ed ON ed.vec_id = p.query_id
  JOIN coarse c ON c.cid = p.bucket AND c.d = ed.d
), lut AS (
  SELECT q.query_id, q.bucket, cb.d // {sub} AS j, cb.code_cid AS cid,
         CAST(SUM((q.qrx - cb.rx) * (q.qrx - cb.rx)) AS BIGINT) AS d2
  FROM qres q JOIN cb ON cb.d = q.d
  GROUP BY 1, 2, 3, 4
), adist AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(SUM(l.d2) AS BIGINT) AS adist
  FROM probed p
  JOIN assigned a ON a.bucket = p.bucket
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN lut l ON l.query_id = p.query_id AND l.bucket = p.bucket
            AND l.j = c.j AND l.cid = c.code
  WHERE p.query_id <> a.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, adist
FROM (SELECT query_id, neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id)
                  AS INT) AS rank
      FROM adist)
WHERE rank <= {k}
"""


def semantic_dedup_sql(threshold: float = 0.3,
                       n_clusters: int = 16) -> str:
    """Mirror of similarity.semantic_dedup (init="first_ids"):
    first-ids coarse clustering on the 1e-6 integer grid (exact
    squared-L2 argmin, ties -> lowest cid), then inside each cluster a
    vector is dropped iff a LOWER-id cluster-mate has cosine >=
    threshold, decided exactly as
    dot > 0 AND dot^2 * 10^8 >= t_num^2 * |a|^2 * |b|^2 in HUGEINT
    (the engine runs the identical comparison in decimal(38,0))."""
    t_num = int(round(threshold * 10_000))
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
  FROM embeddings
), ed AS (
  SELECT vec_id, CAST(unnest(range(64)) AS INT) AS d, unnest(v) AS x
  FROM e
), coarse AS (
  SELECT vec_id AS cid, d, x FROM ed WHERE vec_id < {n_clusters}
), cdist AS (
  SELECT ed.vec_id, coarse.cid,
         CAST(SUM((ed.x - coarse.x) * (ed.x - coarse.x)) AS BIGINT) AS d2
  FROM ed JOIN coarse USING (d)
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rn
    FROM cdist) WHERE rn = 1
), norms AS (
  SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS nrm FROM ed GROUP BY 1
), pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), dots AS (
  SELECT p.ida, p.idb, CAST(SUM(ea.x * eb.x) AS BIGINT) AS dot
  FROM pairs p
  JOIN ed ea ON ea.vec_id = p.ida
  JOIN ed eb ON eb.vec_id = p.idb AND eb.d = ea.d
  GROUP BY 1, 2
), dropped AS (
  SELECT DISTINCT d.idb AS vec_id
  FROM dots d
  JOIN norms na ON na.vec_id = d.ida
  JOIN norms nb ON nb.vec_id = d.idb
  WHERE d.dot > 0
    AND CAST(d.dot AS HUGEINT) * d.dot * 100000000 >=
        CAST({t_num * t_num} AS HUGEINT) * na.nrm * nb.nrm
)
SELECT a.vec_id, a.cluster, dr.vec_id IS NULL AS kept
FROM assigned a LEFT JOIN dropped dr USING (vec_id)
"""


def bloom_decontaminate_sql(n: int = 3, m_bits: int = 4096,
                            k_hashes: int = 4,
                            bench_max_id: int = 10) -> str:
    """Mirror of vocab.bloom_decontaminate: the benchmark's distinct
    n-grams set k md5-derived Bloom positions each; a corpus gram is
    flagged when ALL k of its positions are set (false positives and
    all — both engines derive every position from the same lowercase
    md5 hex, 15 digits = 60 bits, mod m_bits)."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(1, n + 1))
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(toks) - {n - 1}),
                                             i -> {gram}))) AS ngram
  FROM t WHERE len(toks) >= {n}
), hi AS (
  SELECT unnest(range({k_hashes})) AS i
), bpos AS (
  SELECT DISTINCT
         CAST('0x' || substr(md5(ngram || '#' || CAST(i AS VARCHAR)),
                             1, 15) AS BIGINT) % {m_bits} AS pos
  FROM g CROSS JOIN hi
  WHERE doc_id < {bench_max_id}
), dpos AS (
  SELECT doc_id, ngram,
         CAST('0x' || substr(md5(ngram || '#' || CAST(i AS VARCHAR)),
                             1, 15) AS BIGINT) % {m_bits} AS pos
  FROM g CROSS JOIN hi
  WHERE doc_id >= {bench_max_id}
), flagged AS (
  SELECT doc_id, ngram FROM dpos JOIN bpos USING (pos)
  GROUP BY doc_id, ngram HAVING count(*) = {k_hashes}
)
SELECT doc_id, count(*) AS n_flagged_ngrams FROM flagged GROUP BY doc_id
"""


def classifier_gate_sql(keep_rate: float = 0.6,
                        n_buckets: int = 1 << 20) -> str:
    """Mirror of operators/text.py:classifier_gate — classifier scores
    (classifier_scores_sql) -> distinct-logit histogram -> cumulative
    DESC window -> threshold = max logit whose cumulative count reaches
    k = ceil(keep_rate * n); keep logit >= threshold (ties kept).
    Both engines compute ceil on the same double product."""
    base = classifier_scores_sql(n_buckets)
    return f"""
WITH sc AS ({base}),
hist AS (SELECT logit, count(*) AS c FROM sc GROUP BY logit),
cum AS (SELECT logit,
               sum(c) OVER (ORDER BY logit DESC
                            ROWS UNBOUNDED PRECEDING) AS cum_c,
               sum(c) OVER () AS n
        FROM hist),
t AS (SELECT max(logit) AS thr FROM cum
      WHERE cum_c >= CAST(ceil({keep_rate!r} * n) AS BIGINT))
SELECT sc.doc_id, sc.n_tokens, sc.logit, t.thr
FROM sc, t
WHERE sc.logit >= t.thr
"""


def incremental_dedup_sql(threshold: float = 0.5, n_perm: int = 128,
                          n_bands: int = 32) -> str:
    """Mirror of dedup.py:incremental_dedup over the md5(doc_id) split
    (index = docs whose md5(doc_id::VARCHAR) first hex char < '8',
    batch = the rest): exact stage via md5(text) collisions against the
    index then the smaller-id batch keeper, near stage via the full
    minhash pipeline with the cross (survivor x index) band join and the
    min-index-id verified match.  DuckDB's md5 of the same strings is
    byte-identical to Spark's, bucket equality is band-slice equality
    (the engine's xxhash64 bucket collides at ~2^-64), and 1.0::DOUBLE
    keeps DuckDB out of decimal arithmetic so the jaccard column stays
    IEEE-double on both sides."""
    rows = n_perm // n_bands
    # the engine query plants exact duplicates (doc_id % 13 == 5 ->
    # a text that is a pure function of doc_id) because the fixture
    # corpus is duplicate-free; the oracle replays the planting, so the
    # exact_index / exact_batch branches are exercised for real.
    planted = ("CASE WHEN doc_id % 13 = 5 THEN 'planted dup ' || "
               "CAST(doc_id % 29 AS VARCHAR) ELSE text END")
    shingle_cte = _shingle_sets_cte().replace(
        "FROM documents", "FROM planted_docs", 1
    )
    return f"""
WITH planted_docs AS (
  SELECT doc_id, {planted} AS text FROM documents
),
{shingle_cte},
cls AS (
  -- null-safe digest mirrors dedup.null_safe_text_md5: md5(NULL) is
  -- NULL and NULL never equi-joins, so NULL-text docs share a sentinel
  SELECT doc_id, coalesce(md5(text), '__null_text__') AS tmd5,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_idx
  FROM planted_docs
),
idxd AS (SELECT doc_id, tmd5 FROM cls WHERE is_idx),
newd AS (SELECT doc_id, tmd5 FROM cls WHERE NOT is_idx),
idx_md5 AS (SELECT tmd5, min(doc_id) AS idx_match FROM idxd GROUP BY tmd5),
bmin AS (SELECT tmd5, min(doc_id) AS batch_min FROM newd GROUP BY tmd5),
tagged AS (
  SELECT n.doc_id, i.idx_match, b.batch_min
  FROM newd n
  LEFT JOIN idx_md5 i ON n.tmd5 = i.tmd5
  JOIN bmin b ON n.tmd5 = b.tmd5
),
surv AS (
  SELECT doc_id FROM tagged
  WHERE idx_match IS NULL AND doc_id = batch_min
),
perms(perm, a, b) AS (VALUES {_minhash_perm_values(n_perm)}),
mins AS (
  SELECT shd.doc_id, p.perm,
         min(((p.a * shd.s + p.b) % {U64}::HUGEINT) % {MERSENNE61}) AS mv
  FROM shd, perms p GROUP BY shd.doc_id, p.perm
), sigs AS (
  SELECT doc_id, list(mv ORDER BY perm) AS sig FROM mins GROUP BY doc_id
), bands AS (
  SELECT doc_id, t.band,
         sig[t.band*{rows}+1 : t.band*{rows}+{rows}] AS key
  FROM sigs, range(0, {n_bands}) t(band)
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id IN (SELECT doc_id FROM surv)
    AND y.doc_id IN (SELECT doc_id FROM idxd)
), sets AS (
  SELECT doc_id, list(s) AS ss FROM shd GROUP BY doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
    CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
      / greatest(len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)), 1)
      AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
), near AS (
  SELECT doc_a, min(doc_b) AS near_match,
         min_by(jaccard, doc_b) AS near_jac
  FROM verified WHERE jaccard >= {threshold!r}
  GROUP BY doc_a
)
SELECT t.doc_id,
  CASE WHEN t.idx_match IS NOT NULL THEN 'exact_index'
       WHEN t.batch_min < t.doc_id THEN 'exact_batch'
       WHEN nr.near_match IS NOT NULL THEN 'near_index'
       ELSE 'keep' END AS decision,
  CASE WHEN t.idx_match IS NOT NULL THEN t.idx_match
       WHEN t.batch_min < t.doc_id THEN t.batch_min
       ELSE nr.near_match END AS matched_id,
  CASE WHEN t.idx_match IS NOT NULL OR t.batch_min < t.doc_id
       THEN 1.0::DOUBLE ELSE nr.near_jac END AS jaccard
FROM tagged t LEFT JOIN near nr ON nr.doc_a = t.doc_id
"""


def lm_bigram_novelty_sql(min_df: int = 30) -> str:
    """Mirror of vocab.lm_bigram_novelty: bigram occurrences with
    multiplicity, doc-frequency over distinct (doc, bigram), known =
    df >= min_df, ratios as single int->double divisions (both engines
    perform the identical IEEE division, so doubles match bit-for-bit;
    CAST is load-bearing to keep DuckDB out of decimal arithmetic)."""
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS bigram
  FROM t WHERE len(toks) >= 2
), dfx AS (
  SELECT bigram, count(*) AS df
  FROM (SELECT DISTINCT doc_id, bigram FROM bg) GROUP BY bigram
), per AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
         sum(CASE WHEN dfx.df >= {min_df} THEN 1 ELSE 0 END) AS n_known,
         sum(dfx.df) AS sum_df
  FROM bg JOIN dfx USING (bigram) GROUP BY bg.doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       CAST(COALESCE(per.n_known, 0) AS BIGINT) AS n_known,
       CAST(COALESCE(per.sum_df, 0) AS BIGINT) AS sum_df,
       CASE WHEN per.n_bigrams > 0
            THEN CAST(per.n_bigrams - per.n_known AS DOUBLE)
                 / CAST(per.n_bigrams AS DOUBLE) END AS novelty_rate,
       CASE WHEN per.n_bigrams > 0
            THEN CAST(per.sum_df AS DOUBLE)
                 / CAST(per.n_bigrams AS DOUBLE) END AS mean_df
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


def snapshot_diff_sql() -> str:
    """Mirror of corpus.snapshot_diff over the derived snapshot pair
    (old = doc_id % 10 != 2 with ' OLD-REVISION' appended when
    doc_id % 10 = 1; new = doc_id % 10 != 0): one full-outer join on
    doc_id, status from md5 comparison."""
    return """
WITH old_s AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 10 = 1 THEN text || ' OLD-REVISION'
                  ELSE text END) AS old_md5
  FROM documents WHERE doc_id % 10 <> 2
), new_s AS (
  SELECT doc_id, md5(text) AS new_md5 FROM documents WHERE doc_id % 10 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.old_md5 IS DISTINCT FROM n.new_md5 THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_md5, n.new_md5
FROM old_s o FULL OUTER JOIN new_s n ON o.doc_id = n.doc_id
"""


def collocations_sql(min_count: int = 5, k: int = 50) -> str:
    """Mirror of vocab.collocations: exact int64 counts and products,
    lift as ONE double division (CASTs load-bearing to keep DuckDB in
    IEEE doubles), top-k by (lift DESC, bigram ASC)."""
    return rf"""
WITH t AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS bigram
  FROM t WHERE len(toks) >= 2
), sp AS (
  SELECT bigram,
         string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2
  FROM bg
), pair AS (
  SELECT bigram, w1, w2, count(*) AS n_ab FROM sp GROUP BY bigram, w1, w2
), lft AS (SELECT w1, count(*) AS n_left FROM sp GROUP BY w1),
rgt AS (SELECT w2, count(*) AS n_right FROM sp GROUP BY w2),
tot AS (SELECT sum(n_ab) AS n_total FROM pair),
scored AS (
  SELECT p.bigram, p.n_ab, l.n_left, r.n_right,
         CAST(p.n_ab * t.n_total AS DOUBLE)
           / CAST(l.n_left * r.n_right AS DOUBLE) AS lift
  FROM pair p
  JOIN lft l USING (w1)
  JOIN rgt r USING (w2)
  CROSS JOIN tot t
  WHERE p.n_ab >= {min_count}
)
SELECT * FROM (
  SELECT bigram, n_ab, n_left, n_right, lift,
         row_number() OVER (ORDER BY lift DESC, bigram) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _media_ref_cte() -> str:
    """Shared media-pipeline replay fragments (same derivations as
    media_features_sql): ref string, modality class m3, and the
    payload byte sum s (the payload is the utf-8 ref, so the byte sum
    is a unicode-codepoint sum — ASCII refs)."""
    return f"""m AS (
  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
         'media://' || lpad(lower(to_hex(doc_id)), 10, '0') AS ref
  FROM documents
), h AS (
  SELECT doc_id, ref,
         CAST({_fnv1a_sql('ref')} % 3 AS INT) AS m3,
         list_sum(list_transform(range(1, len(ref) + 1),
                  j -> unicode(substr(ref, j, 1)))) AS s
  FROM m
)"""


def image_resize_sql(out_h: int = 16, out_w: int = 16,
                     src_h: int = 64, src_w: int = 64) -> str:
    """Mirror of multimodal.resize_images over the fake pixel grid
    p(r,c) = (S + 31r + 17c) % 251 with nearest-neighbor source index
    floor(i*src/out): integer row sums are exact, row_mean is one
    int->double division (out_w = 16 is even a power of two)."""
    return f"""
WITH {_media_ref_cte()},
img AS (SELECT doc_id, s FROM h WHERE m3 = 0),
rws AS (
  SELECT doc_id, s, CAST(r.ri AS INT) AS row_idx
  FROM img CROSS JOIN range(0, {out_h}) r(ri)
)
SELECT doc_id, CAST(2 AS INT) AS span_idx,
       CAST({out_h} AS INT) AS out_h, CAST({out_w} AS INT) AS out_w,
       row_idx,
       CAST(list_sum(list_transform(range(0, {out_w}),
         j -> (s + 31 * ((row_idx * {src_h}) // {out_h})
                 + 17 * ((j * {src_w}) // {out_w})) % 251)) AS BIGINT)
         AS row_sum,
       CAST(list_sum(list_transform(range(0, {out_w}),
         j -> (s + 31 * ((row_idx * {src_h}) // {out_h})
                 + 17 * ((j * {src_w}) // {out_w})) % 251)) AS DOUBLE)
         / CAST({out_w} AS DOUBLE) AS row_mean
FROM rws
"""


def frame_sample_sql(every_k: int = 4, n_frames: int = 16) -> str:
    """Mirror of multimodal.sample_frames: every k-th frame of each
    video span, frame_value = (7S + 13f) % 251 exact int, feature =
    one int->double division."""
    return f"""
WITH {_media_ref_cte()},
vid AS (SELECT doc_id, s FROM h WHERE m3 = 2)
SELECT doc_id, CAST(2 AS INT) AS span_idx,
       CAST({n_frames} AS INT) AS n_frames,
       CAST(f.fi AS INT) AS frame_idx,
       CAST((7 * s + 13 * f.fi) % 251 AS BIGINT) AS frame_value,
       CAST((7 * s + 13 * f.fi) % 251 AS DOUBLE) / CAST(251 AS DOUBLE)
         AS frame_feature
FROM vid CROSS JOIN range(0, {n_frames}, {every_k}) f(fi)
"""


def ivf_assign_delta_sql(n_centroids: int = 16) -> str:
    """Mirror of similarity.ivf_assign_delta over the md5(vec_id)
    split (index = first hex char < '8', delta = rest): centroids =
    the n_centroids smallest-id INDEX vectors on the exact 1e-6 grid,
    assignment = argmin exact integer squared L2 (ties -> lowest
    centroid id), d2 emitted so every row self-verifies.  Same grid
    round (half-away) and distance algebra as ann_ivfpq_sql."""
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v,
         substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS is_idx
  FROM embeddings
), ed AS (
  SELECT vec_id, is_idx, CAST(unnest(range(64)) AS INT) AS d, unnest(v) AS x
  FROM e
), cid_pick AS (
  SELECT vec_id AS cid, row_number() OVER (ORDER BY vec_id) AS rn
  FROM e WHERE is_idx
), coarse AS (
  SELECT p.cid, ed.d, ed.x
  FROM cid_pick p JOIN ed ON ed.vec_id = p.cid
  WHERE p.rn <= {n_centroids}
), cdist AS (
  SELECT ed.vec_id, coarse.cid,
         CAST(SUM((ed.x - coarse.x) * (ed.x - coarse.x)) AS BIGINT) AS d2
  FROM ed JOIN coarse USING (d)
  WHERE NOT ed.is_idx
  GROUP BY 1, 2
)
SELECT vec_id, cid AS centroid_id, d2 FROM (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM cdist) WHERE rn = 1
"""


def embedding_drift_sql() -> str:
    """Mirror of similarity.embedding_drift over the md5(vec_id) split
    (old = first hex char < '8', new = rest): per-dim exact int64 sums
    of round(x*1e6) (DuckDB round = half-away, matching the engine's
    trunc+copysign), means and drift as single double ops."""
    return """
WITH e AS (
  SELECT vec_id, embedding,
         substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS is_old
  FROM embeddings
), ex AS (
  SELECT is_old, CAST(unnest(range(len(embedding))) AS INT) AS dim,
         unnest(list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))) AS micro
  FROM e
), o AS (
  SELECT dim, count(*) AS n_old,
         CAST(sum(micro) AS BIGINT) AS sum_old_micro
  FROM ex WHERE is_old GROUP BY dim
), n AS (
  SELECT dim, count(*) AS n_new,
         CAST(sum(micro) AS BIGINT) AS sum_new_micro
  FROM ex WHERE NOT is_old GROUP BY dim
)
SELECT o.dim, o.n_old, n.n_new, o.sum_old_micro, n.sum_new_micro,
       CAST(o.sum_old_micro AS DOUBLE) / CAST(o.n_old AS DOUBLE)
         AS mean_old_micro,
       CAST(n.sum_new_micro AS DOUBLE) / CAST(n.n_new AS DOUBLE)
         AS mean_new_micro,
       CAST(n.sum_new_micro AS DOUBLE) / CAST(n.n_new AS DOUBLE)
         - CAST(o.sum_old_micro AS DOUBLE) / CAST(o.n_old AS DOUBLE)
         AS drift_micro
FROM o JOIN n USING (dim)
"""
