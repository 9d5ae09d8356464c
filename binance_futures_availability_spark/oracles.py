"""DuckDB oracle SQL generators for the extension operators.

Each function returns ANSI-ish SQL that DuckDB runs over the pre-registered
parquet views, reproducing the matching Spark operator EXACTLY (same
md5-based integer hashes, same integer quantization, same tie-breaks) so the
driver's value-hash comparison passes. The width-parameterized families
(minhash_params / band_partition / planes) are imported from the operator
modules, so Spark and SQL regenerate the SAME constants at ANY width and
never drift.

DuckDB dialect notes discovered empirically (kept here so they're not
re-learned):
- ``('0x' || substr(md5(x),1,15))::BIGINT`` == Spark
  ``conv(substr(md5(x),1,15),16,10)``.
- SUM(BIGINT) returns HUGEINT → always CAST back to BIGINT.
- double→decimal CAST rounds (matches Spark); decimal→decimal truncates —
  never reduce decimal scale.
- regexp_replace needs the 'g' flag (Spark replaces all by default).
- generate_subscripts is 1-based (Spark posexplode is 0-based).
"""

from __future__ import annotations

from .operators.dedup import (
    SIMHASH_BITS,
    band_partition,
    minhash_params,
)
from .operators.similarity import N_PLANES, planes
from .operators.textops import DEFAULT_SPLITS
from .functions import EMB_SCALE, MINHASH_P

MD5_INT = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

#: tokenization + distinct 3-gram shingles over documents
SHINGLE_CTES = r"""
tok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
    FROM documents
),
sh0 AS (
    SELECT doc_id,
           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)
""".strip()

QUANT = (
    "list_transform(embedding, e -> "
    f"CAST(round(CAST(e AS DOUBLE) * {EMB_SCALE}) AS BIGINT))"
)

EMB_BASE_CTE = f"""
base AS (
    SELECT vec_id, label, {QUANT} AS q FROM embeddings
),
normed AS (
    SELECT vec_id, label, q, list_dot_product(q, q) AS nrm FROM base
)
""".strip()


def minhash_sig_cte(num_perm: int = 8) -> str:
    x = MD5_INT.format(x="shingle")
    mins = ",\n           ".join(
        f"CAST(MIN(({a} * ({x} % {MINHASH_P}) + {b}) % {MINHASH_P}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(minhash_params(num_perm))
    )
    return f"""sig AS (
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id
)"""


def sql_minhash_signatures(num_perm: int = 8) -> str:
    return f"WITH {SHINGLE_CTES},\n{minhash_sig_cte(num_perm)}\nSELECT * FROM sig"


def lsh_cand_ctes(
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> str:
    """CTE chain ``lsh_bands``(, ``lsh_capped``), ``cand`` mirroring the
    operator's banding EXACTLY: one row per (doc, band) keyed by that
    band's signature columns, the band-bucket population cap as a window
    count (dedup.minhash_lsh_pairs' ``max_bucket_pop``), candidates as the
    bucket self-join. Consumes the ``sig`` CTE from minhash_sig_cte."""
    parts = band_partition(num_perm, n_bands)
    r = len(parts[0])
    selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band, {keys} FROM sig".format(
            b=band_id,
            keys=", ".join(f"h{c} AS k{j}" for j, c in enumerate(cols)),
        )
        for band_id, cols in enumerate(parts)
    )
    keys = ", ".join(f"k{j}" for j in range(r))
    src = "lsh_bands"
    cap_cte = ""
    if max_bucket_pop is not None:
        cap_cte = f""",
lsh_capped AS (
    SELECT doc_id, band, {keys} FROM lsh_bands
    QUALIFY COUNT(*) OVER (PARTITION BY band, {keys}) <= {max_bucket_pop}
)"""
        src = "lsh_capped"
    return f"""lsh_bands AS (
    {selects}
){cap_cte},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM {src} a JOIN {src} b USING (band, {keys})
    WHERE a.doc_id < b.doc_id
)"""


def lsh_jac_cte() -> str:
    """CTE pair ``arrs``, ``jac``: exact Jaccard restricted to the LSH
    candidate set, via per-doc shingle LISTS + list_intersect — the same
    verify-only-survivors shape as the Spark side's array_intersect join.
    The alternative (the all-pairs ``jaccard_ctes`` posting self-join)
    enumerates Σ df² rows BEFORE any candidate restriction, which a
    boilerplate shingle (df ≈ 10⁴ on the sf10 fixture's planted 2 %
    prefix) turns into ~10⁹ intermediate rows — the sf10 gate's oracle
    grew past 100 GB RSS on exactly that. Candidate-first is linear in
    corpus + candidates. Consumes ``sh`` (distinct doc/shingle) and
    ``cand``."""
    return """arrs AS (
    SELECT doc_id, list(shingle) AS ls FROM sh GROUP BY doc_id
),
jac AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.ls, b.ls)) AS DOUBLE)
               / (len(a.ls) + len(b.ls) - len(list_intersect(a.ls, b.ls)))
               AS jaccard
    FROM cand c
    JOIN arrs a ON a.doc_id = c.id_a
    JOIN arrs b ON b.doc_id = c.id_b
)"""


def sql_minhash_lsh_pairs(
    threshold: float,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> str:
    return f"""WITH {SHINGLE_CTES},
{minhash_sig_cte(num_perm)},
{lsh_cand_ctes(num_perm, n_bands, max_bucket_pop)},
{lsh_jac_cte()}
SELECT id_a, id_b, jaccard
FROM jac
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b"""


def sql_minhash_estimate_audit(
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> str:
    """MinHash estimator drift vs true Jaccard over the LSH candidate
    set — mirrors dedup.minhash_estimate_audit (same signature/banding
    CTEs, ×10⁶ integer floor quotients on both sides, exact integer
    mean)."""
    match_sum = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    return f"""WITH {SHINGLE_CTES},
{minhash_sig_cte(num_perm)},
{lsh_cand_ctes(num_perm, n_bands, max_bucket_pop)},
arrs AS (SELECT doc_id, list(shingle) AS ls FROM sh GROUP BY doc_id),
err AS (
    SELECT ({match_sum}) * 1000000 // {num_perm} AS est_ppm,
           len(list_intersect(a.ls, b.ls)) * 1000000
               // (len(a.ls) + len(b.ls) - len(list_intersect(a.ls, b.ls)))
               AS true_ppm
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    JOIN arrs a ON a.doc_id = c.id_a
    JOIN arrs b ON b.doc_id = c.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(ABS(est_ppm - true_ppm)), 0) AS BIGINT)
           // GREATEST(COUNT(*), 1) AS mean_abs_err_ppm,
       CAST(COALESCE(MAX(ABS(est_ppm - true_ppm)), 0) AS BIGINT)
           AS max_abs_err_ppm
FROM err"""


def sql_neardup_rate_by_source(
    threshold: float,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
    source_col: str = "source",
) -> str:
    """Per-source near-duplication share — mirrors
    dedup.neardup_rate_by_source (verified LSH pairs, neighborhood
    keeper = min id over a doc's pair set, exact integer ppm)."""
    return f"""WITH {SHINGLE_CTES},
{minhash_sig_cte(num_perm)},
{lsh_cand_ctes(num_perm, n_bands, max_bucket_pop)},
{lsh_jac_cte()},
prs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {threshold}),
mem AS (
    SELECT doc_id, MIN(lo) AS keeper FROM (
        SELECT id_a AS doc_id, LEAST(id_a, id_b) AS lo FROM prs
        UNION ALL
        SELECT id_b AS doc_id, LEAST(id_a, id_b) AS lo FROM prs
    ) GROUP BY 1
)
SELECT d.{source_col},
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN m.doc_id IS NOT NULL
                               AND d.doc_id <> m.keeper
                              THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_neardup_docs,
       CAST(COALESCE(SUM(CASE WHEN m.doc_id IS NOT NULL
                               AND d.doc_id <> m.keeper
                              THEN 1 ELSE 0 END), 0) AS BIGINT) * 1000000
           // COUNT(*) AS neardup_ppm
FROM documents d LEFT JOIN mem m USING (doc_id)
GROUP BY 1"""


def sql_duplicate_clusters(
    threshold: float,
    num_perm: int = 8,
    n_bands: int = 4,
    max_bucket_pop: int | None = 512,
) -> str:
    """Connected components over the minhash-LSH pair set via a recursive
    CTE (transitive reachability → min reachable id), mirroring the Spark
    min-label-propagation fixpoint exactly."""
    return f"""WITH RECURSIVE {SHINGLE_CTES},
{minhash_sig_cte(num_perm)},
{lsh_cand_ctes(num_perm, n_bands, max_bucket_pop)},
{lsh_jac_cte()},
prs AS (
    SELECT id_a, id_b FROM jac WHERE jaccard >= {threshold}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM prs
    UNION
    SELECT id_b AS src, id_a AS dst FROM prs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT d.doc_id,
       CAST(LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS BIGINT)
           AS cluster_id
FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id"""


def hashed_jaccard_ctes(max_shingle_freq: int | None = None) -> str:
    """ngram-path Jaccard CTEs over HASHED postings — mirrors
    dedup._pair_jaccard exactly: the intersection join/aggregation runs on
    the 60-bit md5 of each shingle (same transform both engines), sizes
    stay string-set sizes. Identical results to the string form except in
    the 2⁻⁶⁰-scale collision case, where both engines still agree (both
    count hash-matches)."""
    h = MD5_INT.format(x="shingle")
    postings = "shash"
    cap_cte = ""
    if max_shingle_freq is not None:
        cap_cte = f"""
capped AS (
    SELECT doc_id, h FROM shash
    WHERE h IN (
        SELECT h FROM shash GROUP BY h
        HAVING COUNT(*) <= {max_shingle_freq})
),""".strip() + "\n"
        postings = "capped"
    return f"""
{SHINGLE_CTES},
shash AS (SELECT doc_id, {h} AS h FROM sh),
{cap_cte}sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM {postings} a JOIN {postings} b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard,
           CAST(i AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
)
""".strip()


def sql_ngram_jaccard_pairs(
    threshold: float, max_shingle_freq: int | None = None
) -> str:
    return f"""WITH {hashed_jaccard_ctes(max_shingle_freq)}
SELECT id_a, id_b, jaccard FROM jac
WHERE jaccard >= {threshold} ORDER BY id_a, id_b"""


def sql_containment_pairs(
    threshold: float, max_shingle_freq: int | None = None
) -> str:
    """Asymmetric containment pairs — mirrors dedup.containment_pairs
    (same hashed postings, containment = i / min(|A|, |B|))."""
    return f"""WITH {hashed_jaccard_ctes(max_shingle_freq)}
SELECT id_a, id_b, containment, jaccard FROM jac
WHERE containment >= {threshold} ORDER BY id_a, id_b"""


def simhash_ctes() -> str:
    """Shared CTE list ending in ``s(doc_id, simhash)`` — distinct-3-gram
    shingle features (mirrors dedup.simhash; docs with <3 tokens have no
    shingles and are absent)."""
    x = MD5_INT.format(x="shingle")
    return f"""{SHINGLE_CTES},
hashed AS (SELECT doc_id, {x} AS h FROM sh),
bits AS (
    SELECT doc_id, b, SUM(2 * ((h >> b) & 1) - 1) AS v
    FROM hashed, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS t(b)
    GROUP BY 1, 2
),
s AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM bits GROUP BY doc_id
)"""


def sql_simhash() -> str:
    return f"WITH {simhash_ctes()}\nSELECT doc_id, simhash FROM s ORDER BY doc_id"


def sql_simhash_pairs(max_hamming: int) -> str:
    return f"""WITH {simhash_ctes()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b"""


def sql_exact_dup_groups() -> str:
    return r"""
WITH g AS (
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_md5,
           COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM documents GROUP BY 1
)
SELECT content_md5, CAST(n_docs AS BIGINT) AS n_docs, keeper_id
FROM g WHERE n_docs > 1 ORDER BY content_md5""".strip()


def sql_ann_topk(query_vec_id: int, k: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id})
SELECT n.vec_id,
       list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) AS cosine
FROM normed n, qv
WHERE n.vec_id <> {query_vec_id}
ORDER BY cosine DESC, n.vec_id
LIMIT {k}"""


def sql_cosine_pairs(threshold: float) -> str:
    return f"""WITH {EMB_BASE_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
FROM normed a JOIN normed b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= {threshold}
ORDER BY id_a, id_b"""


def _bucket_sql(n_planes: int = N_PLANES) -> str:
    terms = []
    for i, plane in enumerate(planes(n_planes)):
        lits = ", ".join(str(v) for v in plane)
        terms.append(
            f"CASE WHEN list_dot_product(q, [{lits}]::BIGINT[]) > 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def sql_lsh_buckets(n_planes: int = N_PLANES) -> str:
    return f"""WITH {EMB_BASE_CTE}
SELECT vec_id, {_bucket_sql(n_planes)} AS bucket FROM normed"""


def _table_bucket_sql(table: int, n_planes: int) -> str:
    """Bucket expression for OR-banding table ``table`` — the same
    consecutive slice of the seed-42 plane stream the Spark side uses
    (similarity.table_planes)."""
    from .operators.similarity import table_planes

    terms = []
    for i, plane in enumerate(table_planes(table, n_planes)):
        lits = ", ".join(str(v) for v in plane)
        terms.append(
            f"CASE WHEN list_dot_product(q, [{lits}]::BIGINT[]) > 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def sql_lsh_cosine_pairs_multi(
    threshold: float, n_planes: int = N_PLANES, n_tables: int = 2
) -> str:
    bucket_cols = ",\n    ".join(
        f"{_table_bucket_sql(t, n_planes)} AS b{t}" for t in range(n_tables)
    )
    any_table = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""WITH {EMB_BASE_CTE},
multi AS (
    SELECT vec_id, q, nrm,
    {bucket_cols}
    FROM normed
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
FROM multi a JOIN multi b ON a.vec_id < b.vec_id AND ({any_table})
WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= {threshold}
ORDER BY id_a, id_b"""


def sql_lsh_cosine_pairs(threshold: float, n_planes: int = N_PLANES) -> str:
    return f"""WITH {EMB_BASE_CTE},
bucketed AS (SELECT vec_id, q, nrm, {_bucket_sql(n_planes)} AS bucket FROM normed)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= {threshold}
ORDER BY id_a, id_b"""


def _ivf_ctes(n_cells: int) -> str:
    """Seeds (n_cells lowest-id vectors, 0-based cell ids) + nearest-seed
    assignment with the ties-to-lowest-cell rule the Spark argmax uses."""
    return f"""
seeds AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, q AS sq, nrm AS snrm
    FROM (SELECT vec_id, q, nrm FROM normed ORDER BY vec_id LIMIT {n_cells})
),
scored AS (
    SELECT n.vec_id, s.cell,
           ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.q, s.sq) / (sqrt(n.nrm) * sqrt(s.snrm)) DESC,
                        s.cell
           ) AS rn
    FROM normed n CROSS JOIN seeds s
),
assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1)
""".strip()


def sql_ivf_cells(n_cells: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)}
SELECT vec_id, CAST(cell AS INT) AS cell FROM assign"""


def sql_ivf_topk(query_vec_id: int, k: int, n_cells: int, nprobe: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
probe AS (
    SELECT cell FROM (
        SELECT s.cell,
               list_dot_product(s.sq, qv.qq) / (sqrt(s.snrm) * sqrt(qv.qn)) AS cs
        FROM seeds s, qv
    ) ORDER BY cs DESC, cell LIMIT {nprobe}
)
SELECT n.vec_id,
       list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) AS cosine
FROM normed n
JOIN assign a ON n.vec_id = a.vec_id
JOIN probe p ON a.cell = p.cell
CROSS JOIN qv
WHERE n.vec_id <> {query_vec_id}
ORDER BY cosine DESC, n.vec_id
LIMIT {k}"""


def sql_ivf_range(
    query_vec_id: int, min_cosine: float, n_cells: int, nprobe: int
) -> str:
    """IVF range search — same probe CTEs as sql_ivf_topk, threshold
    filter instead of ORDER/LIMIT (mirrors similarity.ivf_range_indexed)."""
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
probe AS (
    SELECT cell FROM (
        SELECT s.cell,
               list_dot_product(s.sq, qv.qq) / (sqrt(s.snrm) * sqrt(qv.qn)) AS cs
        FROM seeds s, qv
    ) ORDER BY cs DESC, cell LIMIT {nprobe}
)
SELECT n.vec_id,
       list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) AS cosine
FROM normed n
JOIN assign a ON n.vec_id = a.vec_id
JOIN probe p ON a.cell = p.cell
CROSS JOIN qv
WHERE n.vec_id <> {query_vec_id}
  AND list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn))
      >= {min_cosine}"""


def sql_lsh_recall_audit(threshold: float, n_planes: int = N_PLANES) -> str:
    """LSH recall audit — composes the exact-pairs and LSH-pairs oracle
    CTEs and aggregates the overlap (mirrors similarity.lsh_recall_audit)."""
    return f"""WITH {EMB_BASE_CTE},
bucketed AS (
    SELECT vec_id, q, nrm, {_bucket_sql(n_planes)} AS bucket FROM normed
),
exact AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm))
          >= {threshold}
),
lsh AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm))
          >= {threshold}
)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST((SELECT COUNT(*) FROM exact JOIN lsh USING (id_a, id_b))
            AS BIGINT) AS n_matched,
       CAST((SELECT COUNT(*) FROM exact JOIN lsh USING (id_a, id_b))
            AS DOUBLE)
           / (SELECT COUNT(*) FROM exact) AS recall"""


def sql_embedding_dedup_survivors(
    threshold: float, n_planes: int = N_PLANES
) -> str:
    return f"""WITH {EMB_BASE_CTE},
bucketed AS (SELECT vec_id, q, nrm, {_bucket_sql(n_planes)} AS bucket FROM normed),
dup_ids AS (
    SELECT DISTINCT b.vec_id AS vid
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= {threshold}
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vid FROM dup_ids)
ORDER BY vec_id"""


def _kmeans_cte_body(n_cells: int, n_iters: int) -> str:
    """Unrolled Lloyd-round CTE chain (consumes ``normed``; final
    assignment lives in ``assign{n_iters}``) — shared by
    sql_kmeans_cells and sql_cluster_purity."""
    ctes = [
        "flat AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS dim,"
        " unnest(q) AS v FROM normed)",
        f"""seeds0 AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, vec_id
    FROM (SELECT vec_id FROM normed ORDER BY vec_id LIMIT {n_cells})
)""",
        "cent0 AS (SELECT s.cell, f.dim, f.v AS sv"
        " FROM seeds0 s JOIN flat f USING (vec_id))",
    ]
    for r in range(n_iters + 1):
        ctes.append(
            f"cn{r} AS (SELECT cell, SUM(sv * sv) AS cn"
            f" FROM cent{r} GROUP BY 1)"
        )
        ctes.append(
            f"""scored{r} AS (
    SELECT f.vec_id, c.cell, SUM(f.v * c.sv) AS dot
    FROM flat f JOIN cent{r} c USING (dim) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""assign{r} AS (
    SELECT vec_id, cell FROM (
        SELECT s.vec_id, s.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                   ORDER BY CAST(s.dot AS DOUBLE)
                            / (sqrt(n.nrm) * sqrt(k.cn)) DESC,
                        s.cell) AS rn
        FROM scored{r} s
        JOIN normed n USING (vec_id) JOIN cn{r} k USING (cell)
    ) WHERE rn = 1
)"""
        )
        if r < n_iters:
            ctes.append(
                f"""cent{r + 1} AS (
    SELECT c.cell, c.dim, COALESCE(su.sv, c.sv) AS sv
    FROM cent{r} c LEFT JOIN (
        SELECT a.cell, f.dim, SUM(f.v) AS sv
        FROM assign{r} a JOIN flat f USING (vec_id) GROUP BY 1, 2
    ) su ON c.cell = su.cell AND c.dim = su.dim
)"""
            )
    return ",\n".join(ctes)


def sql_kmeans_cells(n_cells: int, n_iters: int = 2) -> str:
    """Spherical k-means — mirrors similarity.kmeans_cells by unrolling
    the Lloyd rounds into CTEs: integer sum-vector centroids (cosine to
    the mean ≡ cosine to the sum), exact integer dots, ties to the lowest
    cell, emptied cells retaining the previous centroid via COALESCE."""
    return (
        f"WITH {EMB_BASE_CTE},\n{_kmeans_cte_body(n_cells, n_iters)}\n"
        f"SELECT vec_id, CAST(cell AS INT) AS cell FROM assign{n_iters}"
    )


def sql_cluster_purity(n_cells: int, n_iters: int = 2) -> str:
    """Cluster-purity audit over the trained k-means assignment —
    mirrors similarity.cluster_purity (same unrolled rounds, majority
    label per cell with ties to the lowest label, exact integer ppm)."""
    return f"""WITH {EMB_BASE_CTE},
{_kmeans_cte_body(n_cells, n_iters)},
cl AS (
    SELECT a.cell, e.label, CAST(COUNT(*) AS BIGINT) AS c
    FROM assign{n_iters} a JOIN embeddings e USING (vec_id)
    GROUP BY 1, 2
),
maj AS (
    SELECT cell, label, c,
           ROW_NUMBER() OVER (PARTITION BY cell
                              ORDER BY c DESC, label) AS rn,
           CAST(SUM(c) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs
    FROM cl
)
SELECT CAST(cell AS INT) AS cell, n_vecs,
       CAST(label AS INT) AS majority_label, c AS n_majority,
       c * 1000000 // n_vecs AS purity_ppm
FROM maj WHERE rn = 1
ORDER BY cell"""


def sql_semantic_dedup_survivors(threshold: float, n_cells: int) -> str:
    """SemDeDup survivors — mirrors similarity.semantic_dedup_survivors:
    same IVF cell assignment CTEs, within-cell pairwise exact cosine
    (integer dots, per-side sqrt product), lowest-id-wins survivorship."""
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)},
dup_ids AS (
    SELECT DISTINCT nb.vec_id AS vid
    FROM normed na
    JOIN assign aa ON na.vec_id = aa.vec_id
    JOIN assign ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
    JOIN normed nb ON nb.vec_id = ab.vec_id
    WHERE list_dot_product(na.q, nb.q) / (sqrt(na.nrm) * sqrt(nb.nrm))
          >= {threshold}
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vid FROM dup_ids)
ORDER BY vec_id"""


def sql_centroid_confusion() -> str:
    """Nearest-class-mean confusion matrix — mirrors
    similarity.centroid_confusion (integer sum-vector centroids, exact
    dots, per-side sqrt product, ties to the lowest label)."""
    return f"""WITH {EMB_BASE_CTE},
flat AS (
    SELECT vec_id, label, generate_subscripts(q, 1) - 1 AS dim,
           unnest(q) AS v
    FROM normed
),
cents AS (SELECT label AS lbl, dim, SUM(v) AS sv FROM flat GROUP BY 1, 2),
cn AS (SELECT lbl, SUM(sv * sv) AS nrm2 FROM cents GROUP BY 1),
scored AS (
    SELECT f.vec_id, c.lbl, SUM(f.v * c.sv) AS dot
    FROM flat f JOIN cents c USING (dim) GROUP BY 1, 2
),
best AS (
    SELECT vec_id, lbl FROM (
        SELECT s.vec_id, s.lbl,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                   ORDER BY CAST(s.dot AS DOUBLE)
                            / (sqrt(n.nrm) * sqrt(k.nrm2)) DESC,
                        s.lbl) AS rn
        FROM scored s
        JOIN normed n USING (vec_id) JOIN cn k ON s.lbl = k.lbl
    ) WHERE rn = 1
)
SELECT e.label, CAST(b.lbl AS INT) AS predicted_label, COUNT(*) AS n
FROM embeddings e JOIN best b ON e.vec_id = b.vec_id
GROUP BY 1, 2"""


def sql_centroid_outliers(k: int = 100) -> str:
    """Within-label centroid-distance outliers — mirrors
    similarity.centroid_outliers (integer sum-vector centroids, exact
    dots, the one float64 expression dot/(sqrt·sqrt), ascending cosine,
    ties to the lowest vec_id)."""
    return f"""WITH {EMB_BASE_CTE},
flat AS (
    SELECT vec_id, label, generate_subscripts(q, 1) - 1 AS dim,
           unnest(q) AS v
    FROM normed
),
cents AS (SELECT label AS lbl, dim, SUM(v) AS sv FROM flat GROUP BY 1, 2),
cn AS (SELECT lbl, SUM(sv * sv) AS nrm2 FROM cents GROUP BY 1),
scored AS (
    SELECT f.vec_id, f.label, SUM(f.v * c.sv) AS dot
    FROM flat f
    JOIN cents c ON f.label = c.lbl AND f.dim = c.dim
    GROUP BY 1, 2
)
SELECT s.vec_id, s.label,
       CAST(s.dot AS DOUBLE) / (sqrt(n.nrm) * sqrt(c.nrm2)) AS cos_centroid
FROM scored s
JOIN normed n USING (vec_id)
JOIN cn c ON s.label = c.lbl
ORDER BY cos_centroid, s.vec_id
LIMIT {k}"""


def sql_label_centroids() -> str:
    return f"""WITH flat AS (
    SELECT label,
           generate_subscripts({QUANT}, 1) - 1 AS dim,
           unnest({QUANT}) AS v
    FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_value
FROM flat GROUP BY label, dim ORDER BY label, dim"""


def sql_multimodal_features() -> str:
    return """
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest
FROM documents""".strip()


def sql_multimodal_frames(frame_size: int, max_frames: int) -> str:
    return f"""WITH m AS (
    SELECT doc_id AS asset_id, octet_length(encode(text)) AS n FROM documents
)
SELECT asset_id, CAST(i AS INT) AS frame_no,
       CAST(LEAST({frame_size}, n - i * {frame_size}) AS BIGINT) AS frame_bytes
FROM m, unnest(generate_series(0,
        LEAST({max_frames}, CAST(CEIL(n / {frame_size}.0) AS INT)) - 1)) AS t(i)"""


def sql_multimodal_resize(target_bytes: int) -> str:
    # stride k = ceil(len/target); sampled count = ceil(len/k) — pure
    # arithmetic mirror of the byte-stride subsample in resize_media
    ln = "octet_length(encode(text))"
    return f"""SELECT doc_id AS asset_id,
       CAST({ln} AS BIGINT) AS n_bytes_in,
       CAST(CASE WHEN {ln} = 0 THEN 0
            ELSE CEIL({ln} / CEIL({ln} / {float(target_bytes)})) END AS BIGINT)
           AS n_bytes_out
FROM documents ORDER BY asset_id"""


def sql_image_decode_roundtrip(width: int) -> str:
    """Mirror of multimodal.documents_as_png → decode_image_roundtrip:
    each doc becomes a ``width``-wide 8-bit gray PNG of its UTF-8 bytes
    (zero-padded final row, ≥1 row), so the expected dims are pure
    arithmetic — and the decoded-pixel md5 (trailing NUL padding
    stripped) must equal md5 of the ORIGINAL text. A hash match therefore
    proves the engine's real encode→deflate→inflate→unfilter→pixels
    round-trip, not just the schema."""
    ln = "octet_length(encode(text))"
    return f"""SELECT doc_id AS asset_id,
       CAST({width} AS INT) AS width,
       CAST(CEIL(GREATEST({ln}, 1) / {width}.0) AS INT) AS height,
       CAST(1 AS INT) AS channels,
       'L' AS mode,
       md5(text) AS content_md5
FROM documents ORDER BY asset_id"""


def sql_image_resize_dims(width: int, tw: int, th: int) -> str:
    """Dims contract of multimodal.resize_image over documents_as_png
    assets (the resized PIXEL bytes are pinned exactly in pytest — SQL
    can't re-run zlib, but it can assert the decode really happened by
    requiring the measured input dims)."""
    ln = "octet_length(encode(text))"
    return f"""SELECT doc_id AS asset_id,
       CAST({width} AS INT) AS width_in,
       CAST(CEIL(GREATEST({ln}, 1) / {width}.0) AS INT) AS height_in,
       CAST({tw} AS INT) AS width_out,
       CAST({th} AS INT) AS height_out
FROM documents ORDER BY asset_id"""


def sql_pii_scrub(
    inject_suffix: str | None = None, inject_mod: int = 7
) -> str:
    """Sequential PII redaction — identical patterns and order to
    textops.pii_scrub (each category counted on the text BEFORE its own
    redaction).

    ``inject_suffix`` (gate aid): appends a literal suffix to every doc
    whose ``doc_id % inject_mod = 0`` BEFORE scrubbing — the synthetic
    corpus carries no real PII, so the gate plants some deterministically
    to exercise every redaction branch (mirrored in ``__spark_entry__``).
    """
    from .operators.textops import PII_ORDER, PII_PATTERNS

    src = "documents"
    inject_cte = ""
    if inject_suffix is not None:
        lit = inject_suffix.replace("'", "''")
        inject_cte = (
            f"inj AS (SELECT doc_id, CASE WHEN doc_id % {inject_mod} = 0 "
            f"THEN text || '{lit}' ELSE text END AS text FROM documents),\n"
        )
        src = "inj"
    prev = "text"
    cols, ctes = [], []
    for i, cat in enumerate(PII_ORDER):
        # DuckDB single-quoted literals are standard-SQL: backslash is NOT
        # an escape there, so the regex passes through verbatim — only
        # quotes need doubling
        pat = PII_PATTERNS[cat].replace("'", "''")
        ctes.append(
            f"SELECT doc_id, regexp_replace({prev}, '{pat}', "
            f"'<{cat.upper()}>', 'g') AS txt, "
            f"CAST(len(regexp_extract_all({prev}, '{pat}')) AS INT) AS n_{cat}"
        )
        prev = "txt"
        cols.append(f"n_{cat}")
    # chain the three stages as nested CTEs
    return f"""WITH {inject_cte}t0 AS ({ctes[0]} FROM {src}),
t1 AS ({ctes[1]}, n_email FROM t0),
t2 AS ({ctes[2]}, n_email, n_ip FROM t1)
SELECT doc_id, txt AS text_clean, n_email, n_ip, n_phone FROM t2"""


def ngram_cte(n: int, src: str, prefix: str) -> str:
    """DISTINCT word ``n``-gram CTEs over ``src`` (a table/CTE with
    doc_id, text): emits ``<prefix>sh(doc_id, gram)``."""
    leads = " || ' ' || ".join(
        f"lead(tok, {i}) OVER w" for i in range(1, n)
    )
    return f"""{prefix}tok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
           generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
    FROM {src}
),
{prefix}sh0 AS (
    SELECT doc_id, tok || ' ' || {leads} AS gram
    FROM {prefix}tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
{prefix}sh AS (SELECT DISTINCT doc_id, gram FROM {prefix}sh0 WHERE gram IS NOT NULL)"""


def sql_contamination_check(
    n: int = 5,
    min_overlap: int = 1,
    salt: str = "split-v1",
    train_upper: int = 980,
    test_lower: int = 990,
) -> str:
    """Train-vs-test n-gram contamination — mirrors
    textops.contamination_check over the corpus_split partitions."""
    bucket = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)") + " % 1000"
    return f"""WITH train AS (
    SELECT doc_id, text FROM documents WHERE {bucket} < {train_upper}
),
test AS (
    SELECT doc_id, text FROM documents WHERE {bucket} >= {test_lower}
),
{ngram_cte(n, "train", "tr")},
{ngram_cte(n, "test", "te")},
bench AS (SELECT DISTINCT gram FROM tesh),
matched AS (
    SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_matched
    FROM trsh t JOIN bench USING (gram)
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(m.n_matched, 0) AS n_matched,
       COALESCE(m.n_matched, 0) >= {min_overlap} AS contaminated
FROM train d LEFT JOIN matched m USING (doc_id)"""


def sql_corpus_split(
    splits: tuple = DEFAULT_SPLITS,
    salt: str = "split-v1",
) -> str:
    """Deterministic hash split — same md5 per-mille bucketing as
    textops.corpus_split (defaults shared via DEFAULT_SPLITS)."""
    bucket = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)") + " % 1000"
    cases = " ".join(
        f"WHEN {bucket} < {upper} THEN '{name}'" for name, upper in splits
    )
    return f"""SELECT doc_id, CASE {cases} END AS split FROM documents"""


def sql_pack_sequences(budget: int = 2048, n_shards: int = 32) -> str:
    """Shard-parallel token-budget packing — mirrors textops.pack_sequences
    (same hash shard, same exclusive running sum, same quantization)."""
    shard = (
        "CAST(" + MD5_INT.format(x="'shard:' || CAST(doc_id AS VARCHAR)")
        + f" % {n_shards} AS INT)"
    )
    return f"""WITH base AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
               AS n_tokens,
           {shard} AS shard
    FROM documents
)
SELECT doc_id, n_tokens, shard,
       CAST(shard AS BIGINT) * 1000000 + CAST(FLOOR(
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           / {float(budget)}) AS INT) AS pack_id
FROM base"""


def sql_term_frequencies() -> str:
    """Integer TF/DF table — mirrors textops.term_frequencies exactly
    (same whitespace tokenizer, empty tokens dropped)."""
    return r"""
WITH terms AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf
    FROM terms WHERE term <> '' GROUP BY doc_id, term
),
df AS (SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS INT) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs
FROM tf JOIN df USING (term) CROSS JOIN n""".strip()


def sql_tfidf_weights(digits: int = 9) -> str:
    """TF-IDF rounded to ``digits`` decimals — the gate-able wrapper over
    the ln-based weight. Raw ln differs between JVM and DuckDB libm in the
    last ulp (measured 27/528 rows at sf0.01); rounding to 9 decimals is
    ~6 orders of magnitude coarser than the divergence, so the hashes
    match while the weight stays fully usable."""
    return rf"""
WITH terms AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf
    FROM terms WHERE term <> '' GROUP BY doc_id, term
),
df AS (SELECT term, CAST(COUNT(*) AS INT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS INT) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), {digits})
           AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n""".strip()


def sql_token_counts() -> str:
    return r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS INT)
           AS n_word_tokens,
       CAST(len(regexp_extract_all(
           text, '''[sdmt]| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^\sA-Za-z0-9]+', 0
       )) AS INT) AS n_subword_est,
       CAST(length(text) AS INT) AS n_chars_measured
FROM documents""".strip()


STOPWORDS_SQL = {
    "en": r"\b(the|and|of|to|in|is|a)\b",
    "de": r"\b(der|die|und|das|ist|ein)\b",
    "fr": r"\b(le|la|les|et|est|un)\b",
    "es": r"\b(el|los|las|y|es|un)\b",
    "zh": r"(的|是|了|在|和)",
}


def quality_score_sql() -> str:
    """The heuristic quality score as ONE shared SQL fragment — the
    DuckDB mirror of textops._profile_quality, used by every oracle
    that scores documents (quality_scores, curate_corpus,
    token_budget_selection, quality_deciles via sql_quality_scores) so
    the formula cannot drift between oracles while each still passes its
    own parity check."""
    wc = r"len(regexp_split_to_array(trim(text), '\s+'))"
    stop = f"len(regexp_extract_all(text, '{STOPWORDS_SQL['en']}', 0))"
    return (
        f"0.4 * LEAST(CAST({wc} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.4 * (CAST({stop} AS DOUBLE) / {wc})"
        f" + 0.2 * LEAST((CAST(length(regexp_replace(text, '\\s', '', 'g'))"
        f" AS DOUBLE) / {wc}) / 10.0, 1.0)"
    )


def sql_quality_scores() -> str:
    stop = f"len(regexp_extract_all(text, '{STOPWORDS_SQL['en']}', 0))"
    return rf"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS word_count,
       CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) AS avg_word_len,
       CAST({stop} AS INT) AS stopword_count,
       CAST({stop} AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio,
       {quality_score_sql()}
           AS quality_score
FROM documents""".strip()


def sql_curate_corpus(
    min_quality: float = 0.25,
    splits: tuple = (("train", 980), ("val", 990), ("test", 1000)),
    salt: str = "split-v1",
) -> str:
    """End-to-end curation pipeline — the same composed stages as
    textops.curate_corpus: identical score expression (so the filter
    decisions match bit-for-bit), normalized-content md5 dedup with
    lowest-id survivorship, salted per-mille split."""
    wc = r"len(regexp_split_to_array(trim(text), '\s+'))"
    score = quality_score_sql()
    norm = r"md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"
    bucket = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)") + " % 1000"
    cases = " ".join(
        f"WHEN {bucket} < {upper} THEN '{name}'" for name, upper in splits
    )
    return f"""WITH scored AS (
    SELECT doc_id, text, {score} AS quality_score FROM documents
),
kept AS (SELECT * FROM scored WHERE quality_score >= {min_quality}),
dd AS (
    SELECT doc_id, text, quality_score,
           ROW_NUMBER() OVER (PARTITION BY {norm} ORDER BY doc_id) AS rn
    FROM kept
)
SELECT doc_id, quality_score,
       CAST({wc} AS INT) AS n_tokens,
       CASE {cases} END AS split
FROM dd WHERE rn = 1"""


def sql_chunk_documents(chunk_tokens: int = 64, overlap: int = 16) -> str:
    """Sliding-window chunking — mirrors textops.chunk_documents (same
    whitespace tokenizer, same stride/window arithmetic, list_slice
    clamps like F.slice)."""
    step = chunk_tokens - overlap
    return rf"""WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, toks,
           unnest(range(0, GREATEST(len(toks), 1), {step})) AS start
    FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(start / {step} AS INT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + {chunk_tokens})) AS INT)
           AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {chunk_tokens}), ' ')
           AS chunk_text
FROM s"""


def sql_boilerplate_chunks(chunk_tokens: int = 8, min_docs: int = 2) -> str:
    """Repeated-chunk detection — mirrors textops.boilerplate_chunks over
    the same disjoint chunker."""
    return f"""WITH c AS ({sql_chunk_documents(chunk_tokens, 0)})
SELECT chunk_text,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(*) AS n_occurrences
FROM c GROUP BY chunk_text
HAVING COUNT(DISTINCT doc_id) >= {min_docs}"""


def sql_scrub_boilerplate(chunk_tokens: int = 8, min_docs: int = 2) -> str:
    """Boilerplate scrub — mirrors textops.scrub_boilerplate (same chunker,
    same repeated-set, ordered reassembly)."""
    return f"""WITH c AS ({sql_chunk_documents(chunk_tokens, 0)}),
bp AS (
    SELECT chunk_text FROM c GROUP BY chunk_text
    HAVING COUNT(DISTINCT doc_id) >= {min_docs}
),
kept AS (
    SELECT * FROM c WHERE chunk_text NOT IN (SELECT chunk_text FROM bp)
)
SELECT doc_id,
       array_to_string(list(chunk_text ORDER BY chunk_id), ' ') AS clean_text,
       CAST(COUNT(*) AS INT) AS n_kept_chunks
FROM kept GROUP BY doc_id"""


def sql_doc_keyterms(k: int = 3, digits: int = 9) -> str:
    """Per-doc top-k TF-IDF terms — mirrors textops.doc_keyterms (rank
    over the rounded weight, term tie-break)."""
    return f"""WITH w AS ({sql_tfidf_weights(digits)})
SELECT doc_id, term, tfidf, rnk FROM (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS INT) AS rnk
    FROM w
) WHERE rnk <= {k}"""


def sql_bigram_pmi_topk(k: int = 50, min_count: int = 5) -> str:
    """Top-k PMI collocations — mirrors textops.bigram_pmi_topk
    (integer milli-lift cb·N·1000 // (c1·c2); HUGEINT intermediates so
    DuckDB never hits a spurious int64 product overflow; same
    (lift, w1, w2) tie discipline)."""
    return rf"""WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
flat AS (
    SELECT doc_id, unnest(t) AS w FROM toks
),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM flat WHERE w <> '' GROUP BY w),
tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
bi AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks
    )
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
       FROM bi GROUP BY 1, 2)
SELECT bc.w1, bc.w2, bc.cb,
       CAST(CAST(bc.cb AS HUGEINT) * t.n * 1000
            // (CAST(u1.cu AS HUGEINT) * u2.cu) AS BIGINT) AS lift_milli
FROM bc
JOIN uni u1 ON u1.w = bc.w1
JOIN uni u2 ON u2.w = bc.w2
CROSS JOIN tot t
WHERE bc.cb >= {min_count}
ORDER BY lift_milli DESC, bc.w1, bc.w2
LIMIT {k}"""


def sql_bigram_lm_scores() -> str:
    """Bigram-LM quality scores — mirrors textops.bigram_lm_scores:
    Laplace-smoothed corpus bigram model, per-bigram log-probs quantized
    to integer nano-nats BEFORE the (order-independent) integer sum.

    The unigram CTE excludes empty tokens (``w <> ''``) to match the
    Spark side's tf_index-derived counts: split-on-trim yields '' only
    for an empty/whitespace-only document, which contributes no bigrams
    but would otherwise inflate the Laplace |V| denominator by one and
    shift EVERY document's score (advisor r7)."""
    return r"""WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
flat AS (
    SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
    FROM toks
),
uni AS (SELECT w, COUNT(*) AS cu FROM flat WHERE w <> '' GROUP BY w),
v AS (SELECT COUNT(*) AS vn FROM uni),
-- consecutive pairs by LIST INDEX, not a positional self-join: DuckDB
-- plans flat⋈flat as a doc_id hash join with the pos arithmetic as a
-- post-filter, i.e. Σ len(doc)² intermediate rows — on a 50 k-vocab
-- Zipf corpus at sf1 that spilled >70 GB and ran >15 min (the NTILE
-- variant), while this lateral unnest is one linear pass (measured:
-- lm_quality_buckets >900 s → 27 s, cross_lm_scores 24 → 7 s at sf1)
bi AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks
    )
),
bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
scored AS (
    SELECT b.doc_id,
           CAST(round(ln((bc.cb + 1.0) / (u.cu + v.vn)) * 1000000000)
                AS BIGINT) AS ilp
    FROM bi b JOIN bc USING (w1, w2) JOIN uni u ON u.w = b.w1 CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       -CAST(SUM(ilp) AS DOUBLE) / 1000000000 / COUNT(*) AS avg_neg_logprob
FROM scored GROUP BY doc_id"""


def sql_quality_deciles(n_tiles: int = 10) -> str:
    """NTILE bucketing over the quality score — the Spark side reproduces
    SQL NTILE semantics from its distributed global rank, so the oracle
    uses the real window function."""
    return f"""WITH scored AS ({sql_quality_scores()})
SELECT doc_id, quality_score,
       CAST(NTILE({n_tiles}) OVER (ORDER BY quality_score, doc_id) AS INT)
           AS decile
FROM scored"""


def sql_language_id() -> str:
    langs = ["en", "de", "fr", "es", "zh"]
    scores = {
        lg: f"len(regexp_extract_all(lower(text), '{STOPWORDS_SQL[lg]}', 0))"
        for lg in langs
    }
    best = "GREATEST(" + ", ".join(scores[lg] for lg in langs) + ")"
    whens = "\n           ".join(
        f"WHEN {scores[lg]} = {best} AND {best} > 0 THEN '{lg}'" for lg in langs
    )
    cols = ",\n       ".join(
        f"CAST({scores[lg]} AS INT) AS score_{lg}" for lg in langs
    )
    return f"""
SELECT doc_id,
       {cols},
       CASE {whens} ELSE 'unknown' END AS predicted_lang
FROM documents""".strip()


def sql_fingerprints() -> str:
    x = MD5_INT.format(x="shingle")
    return rf"""WITH {SHINGLE_CTES},
msh AS (SELECT doc_id, MIN({x}) AS min_shingle_hash FROM sh GROUP BY doc_id)
SELECT d.doc_id,
       md5(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g')))) AS content_md5,
       msh.min_shingle_hash
FROM documents d LEFT JOIN msh ON d.doc_id = msh.doc_id
ORDER BY d.doc_id"""


# --- sampling / data-mixing operators (operators/sampling.py) ---

NTOK_SQL = r"CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)"


def sql_stratified_sample(
    rates: dict, default_rate: int, strata_col: str = "lang",
    salt: str = "sample-v1",
) -> str:
    """Deterministic per-stratum downsampling — same (salt, id) per-10000
    hash buckets as sampling.stratified_sample."""
    bucket = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)") + " % 10000"
    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {r}" for s, r in sorted(rates.items())
    )
    return f"""SELECT doc_id, {strata_col} FROM documents
WHERE {bucket} < CASE {cases} ELSE {default_rate} END"""


def sql_stratum_cap(
    k: int, strata_col: str = "source", salt: str = "cap-v1"
) -> str:
    """Per-stratum hash-order cap — mirrors sampling.stratum_cap."""
    h = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""WITH ranked AS (
    SELECT doc_id, {strata_col},
           CAST(ROW_NUMBER() OVER (PARTITION BY {strata_col}
                ORDER BY {h}, doc_id) AS INT) AS sample_rank
    FROM documents
)
SELECT doc_id, {strata_col}, sample_rank FROM ranked
WHERE sample_rank <= {k}"""


def sql_mixture_weights(strata_col: str = "source") -> str:
    """τ=0.5 temperature mixture weights — integer sqrt + ppm integer
    division, mirrors sampling.mixture_weights bit-for-bit."""
    return f"""WITH base AS (
    SELECT {strata_col},
           COUNT(*) AS n_docs,
           CAST(SUM({NTOK_SQL}) AS BIGINT) AS total_tokens
    FROM documents GROUP BY {strata_col}
),
scaled AS (
    SELECT {strata_col}, n_docs, total_tokens,
           CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE))) AS BIGINT)
               AS scaled_tokens
    FROM base
)
SELECT {strata_col}, n_docs, total_tokens, scaled_tokens,
       CAST((scaled_tokens * 1000000)
            // CAST(SUM(scaled_tokens) OVER () AS BIGINT) AS BIGINT)
           AS weight_ppm
FROM scaled"""


def sql_length_stats(strata_col: str = "lang") -> str:
    """Exact per-stratum length stats with integer doubled median —
    mirrors sampling.length_stats (same (n_tokens, doc_id) rank order)."""
    return f"""WITH base AS (
    SELECT doc_id, {strata_col}, {NTOK_SQL} AS n_tokens FROM documents
),
ranked AS (
    SELECT {strata_col}, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY {strata_col}
               ORDER BY n_tokens, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY {strata_col}) AS n
    FROM base
)
SELECT {strata_col},
       CAST(MAX(n) AS BIGINT) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN n_tokens ELSE 0 END
              + CASE WHEN rn = (n + 2) // 2 THEN n_tokens ELSE 0 END)
            AS BIGINT) AS median_tokens_x2
FROM ranked GROUP BY {strata_col}"""


def sql_repetition_scores() -> str:
    """Gopher-style repetition signals — mirrors textops.repetition_scores
    (same tokenization, same integer-ratio fractions)."""
    return rf"""WITH tok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
           generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2),
top AS (SELECT doc_id, CAST(MAX(c) AS INT) AS top_term_count FROM tf GROUP BY 1),
g2 AS (
    SELECT doc_id,
           tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM tok
),
g2s AS (
    SELECT doc_id, CAST(COUNT(g) AS INT) AS n_2grams,
           CAST(COUNT(DISTINCT g) AS INT) AS d2
    FROM g2 WHERE g IS NOT NULL GROUP BY 1
),
base AS (SELECT doc_id, {NTOK_SQL} AS n_tokens FROM documents)
SELECT b.doc_id, b.n_tokens,
       COALESCE(t.top_term_count, 0) AS top_term_count,
       CASE WHEN b.n_tokens > 0
            THEN CAST(COALESCE(t.top_term_count, 0) AS DOUBLE) / b.n_tokens
       END AS top_term_frac,
       COALESCE(g.n_2grams, 0) AS n_2grams,
       COALESCE(g.n_2grams - g.d2, 0) AS n_dup_2grams,
       CASE WHEN g.n_2grams > 0
            THEN CAST(g.n_2grams - g.d2 AS DOUBLE) / g.n_2grams
       END AS dup_2gram_frac
FROM base b LEFT JOIN top t USING (doc_id) LEFT JOIN g2s g USING (doc_id)"""


def sql_knn_join(query_mod: int, k: int, n_cells: int, nprobe: int) -> str:
    """Batch ANN over the IVF index — mirrors similarity.knn_join: query
    set = vec_id % query_mod == 0, per-query probe cells (ties → lowest
    cell), per-query ROW_NUMBER top-k with id tie-break."""
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)},
qs AS (
    SELECT vec_id AS qid, q AS qq, nrm AS qn FROM normed
    WHERE vec_id % {query_mod} = 0
),
qprobe AS (
    SELECT qid, cell FROM (
        SELECT qs.qid, s.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.qid
                   ORDER BY list_dot_product(s.sq, qs.qq)
                            / (sqrt(s.snrm) * sqrt(qs.qn)) DESC,
                            s.cell
               ) AS rn
        FROM qs CROSS JOIN seeds s
    ) WHERE rn <= {nprobe}
),
cand AS (
    SELECT qs.qid, n.vec_id,
           list_dot_product(n.q, qs.qq) / (sqrt(n.nrm) * sqrt(qs.qn)) AS cosine
    FROM qprobe p
    JOIN qs ON qs.qid = p.qid
    JOIN assign a ON a.cell = p.cell
    JOIN normed n ON n.vec_id = a.vec_id
    WHERE n.vec_id <> qs.qid
)
SELECT qid AS query_id, vec_id, cosine, CAST(rn AS INT) AS knn_rank FROM (
    SELECT qid, vec_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY cosine DESC, vec_id
           ) AS rn
    FROM cand
) WHERE rn <= {k}"""


def sql_cross_dedup_pairs(
    threshold: float,
    a_where: str = "doc_id % 2 = 0",
    b_where: str = "doc_id % 2 = 1",
    num_perm: int = 8,
    n_bands: int = 4,
    offset: int = 1 << 40,
    max_bucket_pop: int | None = 512,
) -> str:
    """Cross-corpus MinHash-LSH near-dup pairs — mirrors
    dedup.cross_dedup_pairs: same offset-union, same banding, same
    exact-Jaccard verify; the cross filter is the id_a < offset ≤ id_b
    range predicate."""
    return f"""WITH uni AS (
    SELECT doc_id, text FROM documents WHERE {a_where}
    UNION ALL
    SELECT doc_id + {offset} AS doc_id, text FROM documents WHERE {b_where}
),
{ngram_cte(3, "uni", "u")},
sh AS (SELECT doc_id, gram AS shingle FROM ush),
{minhash_sig_cte(num_perm)},
{lsh_cand_ctes(num_perm, n_bands, max_bucket_pop)},
{lsh_jac_cte()}
SELECT id_a, id_b - {offset} AS id_b, jaccard
FROM jac
WHERE jaccard >= {threshold}
  AND id_a < {offset} AND id_b >= {offset}
ORDER BY id_a, id_b"""


def sql_neardup_survivors(
    threshold: float, num_perm: int = 8, n_bands: int = 4
) -> str:
    """Cluster-representative survivors — documents whose id equals their
    component's minimum under sql_duplicate_clusters' recursive closure."""
    inner = sql_duplicate_clusters(threshold, num_perm, n_bands)
    return f"""SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN ({inner}) c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id
ORDER BY d.doc_id"""


# --- event-stream analytics (operators/events.py) ---
# Timestamp-exactness discipline: second-granular comparisons go through
# integer microseconds (epoch_us // 1000000), matching Spark's
# unix_timestamp floor; epoch() returns DOUBLE seconds whose binary
# rounding can flip a floor at microsecond boundaries.

EPOCH_S = "(epoch_us({x}) // 1000000)"


def sql_event_value_outliers(k: int = 5) -> str:
    """Median/MAD robust value anomalies — mirrors events.value_outliers
    with the SAME doubled-integer median convention (sum of the two
    middle micro-unit values; no engine median() interpolation), so the
    flagged set and milli-z agree bit-for-bit."""
    med_case = (
        "CASE WHEN n % 2 = 1 AND r = (n + 1) // 2 THEN 2 * {v} "
        "WHEN n % 2 = 0 AND (r = n // 2 OR r = n // 2 + 1) THEN {v} END"
    )
    return f"""WITH ev AS (
    SELECT event_type AS t,
           CAST(round(value * 1000000) AS BIGINT) AS v,
           event_id, value
    FROM events
),
rk AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY t ORDER BY v, event_id) AS r,
           COUNT(*) OVER (PARTITION BY t) AS n
    FROM ev
),
med AS (
    SELECT t, CAST(SUM({med_case.format(v='v')}) AS BIGINT) AS m2
    FROM rk GROUP BY t
),
dev AS (
    SELECT e.t, e.event_id, e.value, ABS(2 * e.v - m.m2) AS d
    FROM ev e JOIN med m USING (t)
),
rk2 AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY t ORDER BY d, event_id) AS r,
           COUNT(*) OVER (PARTITION BY t) AS n
    FROM dev
),
mad AS (
    SELECT t, CAST(SUM({med_case.format(v='d')}) AS BIGINT) AS mad2
    FROM rk2 GROUP BY t
)
SELECT x.event_id, x.t AS event_type, x.value,
       CASE WHEN m.mad2 = 0 THEN NULL
            ELSE CAST((2000 * x.d) // m.mad2 AS BIGINT) END AS robust_z_milli
FROM dev x JOIN mad m USING (t)
WHERE 2 * x.d > {int(k)} * m.mad2
ORDER BY x.t, x.event_id"""


def sql_event_debounce(window_s: int = 300) -> str:
    """Per-(user, type) burst dedup — mirrors events.debounce (LAG burst
    breaks, running-sum burst ids, lowest-(ts, id) leader per burst).
    Gaps compare TRUNCATED epoch seconds (EPOCH_S), matching Spark's
    unix_timestamp on sub-second timestamps — the sessionize precedent."""
    ts_s = EPOCH_S.format(x="ts")
    prev_s = EPOCH_S.format(x="lag(ts) OVER w")
    return f"""WITH marked AS (
    SELECT event_id, user_id, event_type, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR {ts_s} - {prev_s} > {window_s}
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
numbered AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS burst
    FROM marked
),
ranked AS (
    SELECT event_id, user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type, burst
                              ORDER BY ts, event_id) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id, event_type, burst)
                AS BIGINT) - 1 AS n_suppressed
    FROM numbered
)
SELECT event_id, user_id, event_type, ts, n_suppressed
FROM ranked WHERE rn = 1"""


def sql_event_user_overlap() -> str:
    """Event-type user-set affinity matrix — mirrors events.user_overlap
    (distinct (type, user) reduction, unordered pairs, exact longs, one
    double Jaccard division)."""
    return """WITH d AS (
    SELECT DISTINCT event_type AS t, user_id AS u FROM events
),
both_ AS (
    SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
    FROM d a JOIN d b ON a.u = b.u AND a.t < b.t
    GROUP BY 1, 2
),
totals AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY t)
SELECT x.type_a, x.type_b, ta.n AS n_users_a, tb.n AS n_users_b, x.n_both,
       CAST(x.n_both AS DOUBLE) / (ta.n + tb.n - x.n_both) AS jaccard
FROM both_ x
JOIN totals ta ON x.type_a = ta.t
JOIN totals tb ON x.type_b = tb.t
ORDER BY x.type_a, x.type_b"""


def sql_event_window_counts(duration_hours: int = 1) -> str:
    """Tumbling rollup — time_bucket aligns to the epoch hour exactly like
    F.window for hour-multiple durations."""
    return f"""SELECT time_bucket(INTERVAL '{duration_hours} hour', ts)
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2"""


def sql_event_sliding_counts(
    duration_min: int = 60, slide_min: int = 15
) -> str:
    """Sliding counts — each event expands to duration/slide windows,
    exactly Spark's expansion rule (starts = slide-bucket minus j·slide)."""
    n = duration_min // slide_min
    return f"""SELECT ws AS window_start, COUNT(*) AS n_events FROM (
    SELECT time_bucket(INTERVAL '{slide_min} minutes', ts)
           - (i * INTERVAL '{slide_min} minutes') AS ws
    FROM events, (SELECT unnest(range({n})) AS i)
) GROUP BY ws"""


def sql_event_sessions(gap_minutes: int = 30) -> str:
    ts_s = EPOCH_S.format(x="ts")
    prev_s = EPOCH_S.format(x="prev_ts")
    return f"""WITH ordered AS (
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                  OR {ts_s} - {prev_s} > {gap_minutes * 60}
                THEN 1 ELSE 0 END AS is_new
    FROM ordered
),
numbered AS (
    SELECT user_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
    FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM numbered GROUP BY 1, 2"""


def sql_event_asof_pairs(
    left_type: str = "click", right_type: str = "view"
) -> str:
    ts_s = EPOCH_S.format(x="ts")
    view_s = EPOCH_S.format(x="view_ts")
    return f"""WITH tagged AS (
    SELECT event_id, user_id, ts, event_type FROM events
    WHERE event_type IN ('{left_type}', '{right_type}')
),
carried AS (
    SELECT event_id, user_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = '{right_type}' THEN ts END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS view_ts
    FROM tagged
)
SELECT event_id, user_id, ts AS click_ts, view_ts,
       CAST({ts_s} - {view_s} AS BIGINT) AS gap_seconds
FROM carried WHERE event_type = '{left_type}'"""


def sql_event_json_rollup(prop: str = "k") -> str:
    k = f"CAST(json_extract_string(props, '$.{prop}') AS BIGINT)"
    return f"""SELECT event_type,
       COUNT(*) AS n_events,
       COUNT({k}) AS n_with_prop,
       CAST(SUM({k}) AS BIGINT) AS sum_prop
FROM events GROUP BY event_type"""


def sql_event_funnel(steps: tuple = ("view", "click", "purchase")) -> str:
    """Ordered funnel — CTE chain of conditional MINs; same strict
    at-or-after semantics as events.funnel's window chain."""
    ctes = ["u AS (SELECT DISTINCT user_id FROM events)"]
    prev = None
    for i, step in enumerate(steps):
        cond = f"e.event_type = '{step}'"
        src = "events e"
        if prev is not None:
            src = f"events e JOIN t{i - 1} USING (user_id)"
            cond += f" AND e.ts >= t{i - 1}.{prev}"
        ctes.append(
            f"t{i} AS (SELECT e.user_id, MIN(e.ts) AS {step}_ts "
            f"FROM {src} WHERE {cond} GROUP BY 1)"
        )
        prev = f"{step}_ts"
    joins = " ".join(f"LEFT JOIN t{i} USING (user_id)" for i in range(len(steps)))
    stage = " + ".join(
        f"CAST(t{i}.{s}_ts IS NOT NULL AS INT)" for i, s in enumerate(steps)
    )
    cols = ", ".join(f"t{i}.{s}_ts" for i, s in enumerate(steps))
    cte_block = ",\n".join(ctes)
    return f"""WITH {cte_block}
SELECT u.user_id, {cols}, CAST({stage} AS INT) AS stage_reached
FROM u {joins}"""


def sql_event_funnel_rates(
    steps: tuple = ("view", "click", "purchase")
) -> str:
    """Funnel conversion summary — mirrors events.funnel_rates: the
    per-user funnel (sql_event_funnel, as a parenthesized CTE subquery)
    collapses to one row of at-least-stage counts; ratios are the same
    exact ×10⁶ floor divisions with the zero-entrant guard."""
    n = len(steps)
    counts = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN stage_reached >= {i} THEN 1 ELSE 0 "
        f"END), 0) AS BIGINT) AS n{i}"
        for i in range(1, n + 1)
    )
    rows = []
    for i, step in enumerate(steps, start=1):
        conv = f"CASE WHEN n1 = 0 THEN 0 ELSE n{i} * 1000000 // n1 END"
        if i > 1:
            srate = (
                f"CASE WHEN n{i - 1} = 0 THEN 0 "
                f"ELSE n{i} * 1000000 // n{i - 1} END"
            )
        else:
            srate = "CASE WHEN n1 = 0 THEN 0 ELSE 1000000 END"
        rows.append(
            f"SELECT {i} AS stage, '{step}' AS step, n{i} AS n_users, "
            f"CAST({conv} AS BIGINT) AS conversion_ppm, "
            f"CAST({srate} AS BIGINT) AS step_ppm FROM agg"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""WITH f AS (
    FROM ({sql_event_funnel(steps)})
),
agg AS (SELECT {counts} FROM f)
{union}
ORDER BY stage"""


def sql_event_topk_users(k: int = 3, duration_days: int = 1) -> str:
    return f"""WITH counts AS (
    SELECT time_bucket(INTERVAL '{duration_days} day', ts) AS window_start,
           user_id, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT window_start, user_id, n_events,
           CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                ORDER BY n_events DESC, user_id) AS INT) AS rnk
    FROM counts
)
SELECT window_start, user_id, n_events, rnk FROM ranked WHERE rnk <= {k}"""


def sql_event_retention() -> str:
    return """WITH cohorts AS (
    SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY 1
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week,
                      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
           AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN cohorts f USING (user_id)
GROUP BY 1, 2"""


def sql_event_retention_rates() -> str:
    """Right-censored cross-cohort retention curve — mirrors
    events.retention_rates (cohort sizes = week-0 rows, censoring bound
    from the dataset's last observed week, generate_series completes
    zero offsets, exact ppm)."""
    return f"""WITH m AS (
    FROM ({sql_event_retention()})
),
sizes AS (
    SELECT cohort_week, active_users AS sz FROM m WHERE week_offset = 0
),
mx AS (
    SELECT CAST(date_trunc('week', MAX(ts)) AS DATE) AS maxw FROM events
),
elig AS (
    SELECT s.cohort_week, s.sz,
           unnest(generate_series(
               0, date_diff('day', s.cohort_week, x.maxw) // 7)) AS k
    FROM sizes s CROSS JOIN mx x
)
SELECT CAST(e.k AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_cohorts,
       CAST(SUM(e.sz) AS BIGINT) AS cohort_users,
       CAST(COALESCE(SUM(m.active_users), 0) AS BIGINT) AS active_users,
       CAST(COALESCE(SUM(m.active_users), 0) AS BIGINT) * 1000000
           // CAST(SUM(e.sz) AS BIGINT) AS retention_ppm
FROM elig e
LEFT JOIN m ON m.cohort_week = e.cohort_week AND m.week_offset = e.k
GROUP BY 1 ORDER BY 1"""


def sql_source_overlap(strata_col: str = "source") -> str:
    """Pairwise stratum vocabulary overlap — mirrors textops.source_overlap
    (same whitespace tokenizer, distinct per-stratum vocabulary, inner
    join drops zero-overlap pairs, double division of exact counts)."""
    return rf"""WITH vocab AS (
    SELECT DISTINCT {strata_col} AS stratum, term FROM (
        SELECT {strata_col},
               unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        FROM documents
    ) WHERE term <> ''
),
sizes AS (
    SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM vocab GROUP BY 1
),
shared AS (
    SELECT a.stratum AS stratum_a, b.stratum AS stratum_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM vocab a JOIN vocab b
      ON a.term = b.term AND a.stratum < b.stratum
    GROUP BY 1, 2
)
SELECT stratum_a, stratum_b,
       sa.n_terms AS n_terms_a, sb.n_terms AS n_terms_b, n_shared,
       CAST(n_shared AS DOUBLE)
           / (sa.n_terms + sb.n_terms - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON stratum_a = sa.stratum
JOIN sizes sb ON stratum_b = sb.stratum"""


def sql_event_asof_join(
    left_mod: int = 2, tolerance_seconds: int | None = None
) -> str:
    """General as-of join — the oracle runs DuckDB's NATIVE ASOF JOIN
    against the Spark union-and-carry window form: an independent
    implementation of the same semantics (greatest r.ts ≤ l.ts per user,
    right side deduped to one row per (user, ts) with max id)."""
    m, c = "", ""
    if tolerance_seconds is not None:
        m = (
            f"CASE WHEN epoch(l.ts) - epoch(r.ts) <= {tolerance_seconds}"
            " THEN "
        )
        c = " END"
    return f"""WITH r1 AS (
    SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % {left_mod} = 0
    ) WHERE rn = 1
),
l AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_id % {left_mod} = 1
)
SELECT l.event_id, l.user_id, l.ts, l.value,
       {m}r.event_id{c} AS r_event_id,
       {m}r.ts{c} AS r_ts,
       {m}r.value{c} AS r_value
FROM l ASOF LEFT JOIN r1 r
  ON l.user_id = r.user_id AND l.ts >= r.ts"""


def sql_event_interval_join(gap_minutes: int = 30) -> str:
    """Interval-containment join — the oracle runs DuckDB's range join
    (its IEJoin path) against Spark's bucketed equi-join form: every
    event mapped into its containing session interval."""
    return f"""WITH sessions AS (
    SELECT * FROM ({sql_event_sessions(gap_minutes)})
)
SELECT e.event_id, e.user_id, e.ts, s.session_start, s.session_end
FROM events e JOIN sessions s
  ON e.user_id = s.user_id
 AND e.ts BETWEEN s.session_start AND s.session_end"""


def sql_volume_histogram(bin_width: float = 25000.0) -> str:
    """Volume histogram — mirrors volume.volume_histogram (same float
    floor-divide binning, exact integer counts)."""
    return f"""SELECT bin,
       CAST(bin AS DOUBLE) * {bin_width} AS bin_lo,
       COUNT(*) AS n_records
FROM (
    SELECT CAST(floor(quote_volume_usdt / {bin_width}) AS BIGINT) AS bin
    FROM da WHERE quote_volume_usdt IS NOT NULL
) GROUP BY bin"""


def sql_availability_pivot() -> str:
    """month × weekday pivot — conditional aggregation mirror of
    analytics.availability_pivot (DuckDB dayofweek is already 0=Sunday)."""
    cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dayofweek(date) = {d} AND available"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS dow_{d}"
        for d in range(7)
    )
    return f"""SELECT CAST(date_trunc('month', date) AS DATE) AS month,
       {cols}
FROM da GROUP BY 1"""


def sql_gap_filled_volumes() -> str:
    """LOCF gap fill — mirrors timelines.gap_filled_volumes (per-symbol
    generate_series skeleton, left join, carry-forward window)."""
    return """WITH observed AS (
    SELECT symbol, date, quote_volume_usdt FROM da
    WHERE available AND quote_volume_usdt IS NOT NULL
),
skeleton AS (
    SELECT symbol, CAST(d AS DATE) AS date FROM (
        SELECT symbol,
               unnest(generate_series(MIN(date), MAX(date),
                                      INTERVAL 1 DAY)) AS d
        FROM observed GROUP BY symbol
    )
),
joined AS (
    SELECT s.symbol, s.date, o.quote_volume_usdt
    FROM skeleton s LEFT JOIN observed o USING (symbol, date)
)
SELECT symbol, date,
       LAST_VALUE(quote_volume_usdt IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS quote_volume_usdt,
       quote_volume_usdt IS NULL AS is_filled
FROM joined"""


def sql_symbol_volume_profile() -> str:
    """Per-symbol window profile — mirrors volume.symbol_volume_profile
    (same full frame, DECIMAL totals, CUME_DIST tie semantics)."""
    return """WITH cohort AS (
    SELECT symbol, date, quote_volume_usdt AS qv FROM da
    WHERE available AND quote_volume_usdt IS NOT NULL
),
prof AS (
    SELECT symbol,
           FIRST_VALUE(qv) OVER w AS first_volume,
           NTH_VALUE(qv, 2) OVER w AS second_volume,
           LAST_VALUE(qv) OVER w AS last_volume,
           COUNT(qv) OVER w AS n_days,
           CAST(SUM(CAST(qv AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS total_volume,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date) AS rn
    FROM cohort
    WINDOW w AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT symbol, CAST(n_days AS BIGINT) AS n_days,
       first_volume, second_volume, last_volume, total_volume,
       cume_dist() OVER (ORDER BY total_volume) AS volume_cume_dist
FROM prof WHERE rn = 1"""


def sql_availability_rollup() -> str:
    """Hierarchical rollup — mirrors analytics.availability_rollup (same
    grouping sets: (year, month), (year), ()); spliced over the da CTE."""
    return """WITH base AS (
    SELECT CAST(EXTRACT(year FROM date) AS INT) AS year,
           CAST(EXTRACT(month FROM date) AS INT) AS month,
           available, symbol
    FROM da
)
SELECT year, month,
       COUNT(*) AS n_records,
       CAST(SUM(CASE WHEN available THEN 1 ELSE 0 END) AS BIGINT)
           AS n_available,
       CAST(COUNT(DISTINCT symbol) AS BIGINT) AS n_symbols
FROM base GROUP BY ROLLUP (year, month)"""


def sql_salted_first_seen() -> str:
    """First-seen enrichment — a PLAIN join: the oracle for the salted
    path, proving salting changes the physical plan and nothing else."""
    return """WITH first AS (
    SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1
)
SELECT e.event_id, e.user_id, e.ts, f.first_ts
FROM events e JOIN first f USING (user_id)"""


def sql_event_spikes(
    k: int = 3, window_days: int = 7, min_history: int = 5
) -> str:
    """Daily spike detection — mirrors events.spike_detection's exact
    integer z-score test ((x·n − s)² > k²·(n·ss − s²)) over the same
    per-type rows-frame of prior observed days."""
    return f"""WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
trailed AS (
    SELECT event_type, day, n_events,
           COUNT(n_events) OVER w AS n,
           SUM(n_events) OVER w AS s,
           SUM(n_events * n_events) OVER w AS ss
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN {window_days} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events,
       CAST(n AS BIGINT) AS trailing_n,
       CAST(COALESCE(s, 0) AS BIGINT) AS trailing_sum,
       COALESCE(n >= {min_history}
                AND n_events * n - s > 0
                AND (n_events * n - s) * (n_events * n - s)
                    > {k * k} * (n * ss - s * s),
                FALSE) AS is_spike
FROM trailed"""


def sql_revenue_by_nation(date_from: str, date_to: str) -> str:
    """TPC-H Q5-family revenue rollup — mirrors warehouse.revenue_by_nation
    (same integer-cents scale-4 products, same long reduction)."""
    return f"""SELECT r.r_name AS region_name,
       n.n_name AS nation_name,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate BETWEEN DATE '{date_from}' AND DATE '{date_to}'
GROUP BY 1, 2"""


def sql_pricing_summary(ship_before: str) -> str:
    """TPC-H Q1-family pricing summary — identical integer-cents
    arithmetic to warehouse.pricing_summary (scale to hundredths as
    BIGINT, exact long products/sums, one double division per output)."""
    q = "CAST(round(l_quantity * 100) AS BIGINT)"
    p = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    d = "CAST(round(l_discount * 100) AS BIGINT)"
    t = "CAST(round(l_tax * 100) AS BIGINT)"
    dp4 = f"{p} * (100 - {d})"
    ch6 = f"{dp4} * (100 + {t})"
    return f"""SELECT l_returnflag, l_linestatus,
       COUNT(*) AS count_order,
       CAST(SUM({q}) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM({p}) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM({dp4}) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM({ch6}) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM({q}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
       CAST(SUM({p}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
       CAST(SUM({d}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc
FROM lineitem
WHERE l_shipdate <= DATE '{ship_before}'
GROUP BY l_returnflag, l_linestatus"""


def sql_promo_revenue(date_from: str, date_to: str) -> str:
    """TPC-H Q14-family promotion share — mirrors warehouse.promo_revenue
    (integer-cents products, one double division of exact sums)."""
    rev = (
        "CAST(round(l.l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l.l_discount * 100) AS BIGINT))"
    )
    promo = f"CASE WHEN p.p_type = 'PROMO' THEN {rev} ELSE 0 END"
    return f"""SELECT COUNT(*) AS n_lineitems,
       CAST(SUM({promo}) AS DOUBLE) / 10000.0 AS promo_rev,
       CAST(SUM({rev}) AS DOUBLE) / 10000.0 AS total_rev,
       100.0 * CAST(SUM({promo}) AS DOUBLE) / CAST(SUM({rev}) AS DOUBLE)
           AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate BETWEEN DATE '{date_from}' AND DATE '{date_to}'"""


def sql_shipping_priority(segment: str, cutoff: str, k: int = 10) -> str:
    """TPC-H Q3-family outstanding-revenue top-k — mirrors
    warehouse.shipping_priority (integer-cents revenue, order-key
    tiebreak)."""
    rev = (
        "CAST(round(l.l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l.l_discount * 100) AS BIGINT))"
    )
    return f"""SELECT o.o_orderkey,
       CAST(SUM({rev}) AS DOUBLE) / 10000.0 AS revenue,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_orderpriority
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{segment}'
  AND o.o_orderdate < DATE '{cutoff}'
  AND l.l_shipdate > DATE '{cutoff}'
GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT {k}"""


def sql_returned_item_customers(
    date_from: str, date_to: str, k: int = 20
) -> str:
    """TPC-H Q10-family returned-revenue top-k — mirrors
    warehouse.returned_item_customers (integer-cents revenue, customer
    key tiebreak, dimension attributes joined after the reduction)."""
    rev = (
        "CAST(round(l.l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l.l_discount * 100) AS BIGINT))"
    )
    return f"""SELECT c.c_custkey, c.c_name,
       CAST(SUM({rev}) AS DOUBLE) / 10000.0 AS revenue,
       c.c_acctbal, n.n_name AS nation_name
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate BETWEEN DATE '{date_from}' AND DATE '{date_to}'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT {k}"""


def sql_large_volume_customers(min_quantity: float) -> str:
    """TPC-H Q18-family large-quantity orders — mirrors
    warehouse.large_volume_customers (integer-hundredths quantity sum,
    read-through o_totalprice)."""
    return f"""WITH big AS (
    SELECT l_orderkey,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_c
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT))
           > {int(round(min_quantity * 100))}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_totalprice,
       CAST(big.sum_qty_c AS DOUBLE) / 100.0 AS sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey"""


def sql_late_supplier_orders(late_days: int, k: int = 100) -> str:
    """TPC-H Q21-family sole-late-supplier count — deliberately the
    TEXTBOOK correlated EXISTS / NOT EXISTS formulation (fact self-join
    three deep), NOT the engine's single-pass decorrelation
    (warehouse.late_supplier_orders), so a hash-green gate proves the
    decorrelation is semantics-preserving. Counts DISTINCT orders per
    supplier; top-k ties broken by s_suppkey on both engines."""
    return f"""SELECT s.s_suppkey, s.s_name,
       COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE CAST(l1.l_shipdate AS DATE)
      > CAST(o.o_orderdate AS DATE) + {late_days}
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND CAST(l3.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + {late_days})
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey
LIMIT {k}"""


def sql_small_order_revenue(brand: str) -> str:
    """TPC-H Q17-family small-order revenue — the TEXTBOOK correlated
    scalar-subquery form (per-lineitem AVG over its part), vs the
    engine's decorrelated per-part aggregate broadcast
    (warehouse.small_order_revenue). Threshold compared by integer
    cross-multiplication on both engines so no double average exists
    to diverge."""
    return f"""SELECT COUNT(*) AS n_small_lineitems,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
           / 700.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = '{brand}'
  AND CAST(round(l.l_quantity * 100) AS BIGINT) * 5
      * (SELECT COUNT(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""


def sql_late_order_priority(
    date_from: str, date_to: str, late_days: int = 90
) -> str:
    """TPC-H Q4-family priority accounting — the textbook correlated
    EXISTS form (vs the engine's LEFT SEMI decorrelation)."""
    return f"""SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate BETWEEN '{date_from}' AND '{date_to}'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + {late_days})
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority"""


def sql_discounted_revenue(
    date_from: str,
    date_to: str,
    discount_low: float,
    discount_high: float,
    max_quantity: float,
) -> str:
    """TPC-H Q6-family forecast — mirrors warehouse.discounted_revenue
    (integer scale-4 cents product, one double division)."""
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS revenue_delta
FROM lineitem
WHERE l_shipdate BETWEEN '{date_from}' AND '{date_to}'
  AND l_discount BETWEEN {discount_low} AND {discount_high}
  AND l_quantity < {max_quantity}"""


def sql_idle_rich_customers(since: str) -> str:
    """TPC-H Q22-family dormant capital — the textbook CORRELATED forms
    (scalar AVG subquery by integer cross-multiplication + NOT EXISTS),
    vs the engine's broadcast-scalar + anti-join decorrelation."""
    return """SELECT n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE CAST(round(c.c_acctbal * 100) AS BIGINT)
      * (SELECT COUNT(*) FROM customer c2
         WHERE CAST(round(c2.c_acctbal * 100) AS BIGINT) > 0)
      > (SELECT SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
         FROM customer c2
         WHERE CAST(round(c2.c_acctbal * 100) AS BIGINT) > 0)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= '{since}')
GROUP BY n.n_name
ORDER BY n.n_name""".format(since=since)


def sql_availability_by_nation() -> str:
    """Availability coverage per supplier nation — mirrors
    warehouse.availability_by_nation over the derived fact (with_da
    splices the fact CTE in __spark_entry__)."""
    return """SELECT n.n_name AS nation_name,
       COUNT(DISTINCT da.symbol) AS n_symbols,
       COUNT(*) AS n_records,
       CAST(SUM(CASE WHEN da.available THEN 1 ELSE 0 END) AS BIGINT)
           AS available_records,
       100.0 * CAST(SUM(CASE WHEN da.available THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS availability_pct
FROM da
JOIN supplier s ON da.symbol = 'S' || lpad(CAST(s.s_suppkey AS VARCHAR), 4, '0')
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1"""


def sql_apply_mixture(
    budget_tokens: int, strata_col: str = "lang", salt: str = "mix-v1"
) -> str:
    """Mixture materialization — same integer rate derivation and hash
    bucket as sampling.apply_mixture, over sql_mixture_weights' output."""
    bucket = MD5_INT.format(x=f"'{salt}:' || CAST(doc_id AS VARCHAR)") + " % 10000"
    return f"""WITH w AS (
    SELECT * FROM ({sql_mixture_weights(strata_col)})
),
rates AS (
    SELECT {strata_col},
           LEAST(10000,
                 ((({budget_tokens} * weight_ppm) // 1000000) * 10000)
                 // total_tokens) AS rate
    FROM w
)
SELECT d.doc_id, d.{strata_col}
FROM documents d JOIN rates USING ({strata_col})
WHERE {bucket} < rates.rate"""


def sql_availability_intervals() -> str:
    """Gaps-and-islands over the derived fact — mirrors
    analytics.availability_intervals (same date − row_number anchor)."""
    return """WITH avail AS (
    SELECT symbol, date FROM da WHERE available
),
anchored AS (
    SELECT symbol, date,
           date - CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date)
                       AS INT) AS anchor
    FROM avail
)
SELECT symbol, MIN(date) AS start_date, MAX(date) AS end_date,
       CAST(COUNT(*) AS INT) AS n_days
FROM anchored GROUP BY symbol, anchor"""


def sql_top_terms(k: int = 10, strata_col: str = "lang") -> str:
    """Per-stratum heavy-hitter terms — mirrors textops.top_terms (distinct
    terms per doc, df desc / term asc ties)."""
    return rf"""WITH terms AS (
    SELECT DISTINCT {strata_col}, doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
),
dfs AS (
    SELECT {strata_col}, term, COUNT(*) AS df FROM terms
    WHERE term <> '' GROUP BY 1, 2
),
ranked AS (
    SELECT {strata_col}, term, CAST(df AS BIGINT) AS df,
           CAST(ROW_NUMBER() OVER (PARTITION BY {strata_col}
                ORDER BY df DESC, term) AS INT) AS rnk
    FROM dfs
)
SELECT {strata_col}, term, df, rnk FROM ranked WHERE rnk <= {k}"""


# ---------------------------------------------------------------- PQ / ADC


def _pq_enc_cte(cb: str) -> str:
    """Encode CTE body against codebook CTE ``cb`` — exact integer L2²
    (subnorm − 2·dot + cnorm), ties to the lowest code."""
    return f"""(
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY list_dot_product(s.sub, s.sub)
                            - 2 * list_dot_product(s.sub, c.csub)
                            + c.cnorm,
                            c.code
               ) AS rn
        FROM pq_subs s JOIN {cb} c ON c.m = s.m
    ) WHERE rn = 1
)"""


def _pq_ctes(m: int, k: int, dim: int = 64, iters: int = 0) -> str:
    """Shared PQ CTEs mirroring similarity.pq_codebook / pq_codes:
    subvector split, lowest-id codebook (code 0-based by seed id order
    per subspace), exact-integer-L2 encode with ties to the lowest code.
    All dot products are integer-exact in doubles (< 2^53).

    ``iters`` unrolls per-subspace Lloyd rounds (trained PQ) exactly like
    sql_kmeans_cells unrolls the spherical rounds: each round re-encodes,
    then every centroid component becomes round(SUM(v)::DOUBLE / COUNT) —
    the engines' shared half-away-from-zero rounding back onto the
    integer grid — with emptied codes retaining their previous component
    via COALESCE. The chain always ends in ``pq_cb`` / ``pq_enc``."""
    sub_d = dim // m
    ctes = [
        f"""pq_subs AS (
    SELECT n.vec_id, t.m,
           list_slice(n.q, t.m * {sub_d} + 1, (t.m + 1) * {sub_d}) AS sub
    FROM normed n CROSS JOIN (SELECT UNNEST(range({m})) AS m) t
)""",
        f"""pq_cb0 AS (
    SELECT s.m,
           ROW_NUMBER() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS code,
           s.sub AS csub,
           list_dot_product(s.sub, s.sub) AS cnorm
    FROM pq_subs s
    JOIN (SELECT vec_id FROM normed ORDER BY vec_id LIMIT {k}) sd
      USING (vec_id)
)""",
        """pq_subflat AS (
    SELECT vec_id, m, generate_subscripts(sub, 1) AS d, unnest(sub) AS v
    FROM pq_subs
)""",
    ]
    for r in range(iters):
        ctes.append(f"pq_enc{r} AS {_pq_enc_cte(f'pq_cb{r}')}")
        ctes.append(
            f"""pq_upd{r} AS (
    SELECT f.m, e.code, f.d,
           CAST(round(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS nv
    FROM pq_subflat f
    JOIN pq_enc{r} e ON e.vec_id = f.vec_id AND e.m = f.m
    GROUP BY 1, 2, 3
)"""
        )
        ctes.append(
            f"""pq_cb{r + 1} AS (
    SELECT m, code, csub, list_dot_product(csub, csub) AS cnorm FROM (
        SELECT c.m, c.code,
               list(COALESCE(u.nv, c.cv) ORDER BY c.d) AS csub
        FROM (
            SELECT m, code, generate_subscripts(csub, 1) AS d,
                   unnest(csub) AS cv
            FROM pq_cb{r}
        ) c
        LEFT JOIN pq_upd{r} u
          ON u.m = c.m AND u.code = c.code AND u.d = c.d
        GROUP BY 1, 2
    )
)"""
        )
    ctes.append(f"pq_cb AS (SELECT * FROM pq_cb{iters})")
    ctes.append(f"pq_enc AS {_pq_enc_cte('pq_cb')}")
    return ",\n".join(ctes)


def _pq_adc_ctes(query_vec_id: int) -> str:
    """Query LUT + per-vector ADC sums (exact integer accumulations)."""
    return f"""
qsubs AS (SELECT m, sub FROM pq_subs WHERE vec_id = {query_vec_id}),
lut AS (
    SELECT c.m, c.code,
           list_dot_product(qs.sub, c.csub) AS qdot,
           c.cnorm
    FROM pq_cb c JOIN qsubs qs ON qs.m = c.m
),
qn AS (SELECT nrm FROM normed WHERE vec_id = {query_vec_id}),
adc AS (
    SELECT e.vec_id,
           SUM(l.qdot) AS adot,
           SUM(l.cnorm) AS rnorm
    FROM pq_enc e JOIN lut l ON l.m = e.m AND l.code = e.code
    WHERE e.vec_id <> {query_vec_id}
    GROUP BY e.vec_id
)
""".strip()


def sql_pq_codes(m: int, k: int, iters: int = 0) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_pq_ctes(m, k, iters=iters)}
SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code
FROM pq_enc ORDER BY vec_id, m"""


def sql_pq_topk(query_vec_id: int, topk: int, m: int, k: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_pq_ctes(m, k)},
{_pq_adc_ctes(query_vec_id)}
SELECT a.vec_id,
       a.adot / (sqrt(qn.nrm) * sqrt(a.rnorm)) AS approx_cosine
FROM adc a, qn
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {topk}"""


def sql_ivf_pq_topk(
    query_vec_id: int, topk: int, n_cells: int, nprobe: int, m: int, k: int
) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_ivf_ctes(n_cells)},
{_pq_ctes(m, k)},
{_pq_adc_ctes(query_vec_id)},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
probe AS (
    SELECT cell FROM (
        SELECT s.cell,
               list_dot_product(s.sq, qv.qq) / (sqrt(s.snrm) * sqrt(qv.qn)) AS cs
        FROM seeds s, qv
    ) ORDER BY cs DESC, cell LIMIT {nprobe}
)
SELECT a.vec_id,
       a.adot / (sqrt(qn.nrm) * sqrt(a.rnorm)) AS approx_cosine
FROM adc a
JOIN assign g ON g.vec_id = a.vec_id
JOIN probe p ON p.cell = g.cell
CROSS JOIN qn
ORDER BY approx_cosine DESC, a.vec_id
LIMIT {topk}"""


def sql_pq_recall_audit(query_vec_id: int, topk: int, m: int, k: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{_pq_ctes(m, k)},
{_pq_adc_ctes(query_vec_id)},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
exact AS (
    SELECT n.vec_id FROM normed n, qv
    WHERE n.vec_id <> {query_vec_id}
    ORDER BY list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) DESC,
             n.vec_id
    LIMIT {topk}
),
approx AS (
    SELECT a.vec_id,
           a.adot / (sqrt(qn.nrm) * sqrt(a.rnorm)) AS approx_cosine
    FROM adc a, qn
    ORDER BY approx_cosine DESC, a.vec_id
    LIMIT {topk}
)
SELECT CAST({topk} AS BIGINT) AS k,
       CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hits,
       COUNT(ap.vec_id) / CAST({topk} AS DOUBLE) AS recall
FROM exact e LEFT JOIN approx ap USING (vec_id)"""


def sql_lm_quality_buckets(n_tiles: int = 10) -> str:
    """Perplexity buckets — the bigram-LM score query nested as a derived
    table (DuckDB allows WITH inside a subquery) with the real NTILE on
    top; the Spark side reproduces NTILE semantics from its distributed
    global rank."""
    return f"""SELECT doc_id, n_bigrams, avg_neg_logprob,
       CAST(NTILE({n_tiles}) OVER (ORDER BY avg_neg_logprob, doc_id) AS INT)
           AS bucket
FROM ({sql_bigram_lm_scores()})"""


def sql_bm25_topk(
    terms: tuple[str, ...], k: int = 20, k1: float = 1.2, b: float = 0.75
) -> str:
    """Top-k BM25 retrieval — mirrors textops.bm25_topk term-for-term:
    same tokenizer, same left-to-right double association, per-term score
    snapped to integer nano-units before the (order-free) per-doc integer
    sum (the sql_bigram_lm_scores discipline), final score rounded to 9
    decimals, ties broken by doc_id ascending."""
    qvals = ", ".join("('" + t.replace("'", "''") + "')" for t in terms)
    k1p1, k1r, br = repr(k1 + 1.0), repr(k1), repr(b)
    return rf"""WITH terms AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf
    FROM terms WHERE term <> '' GROUP BY doc_id, term
),
q(term) AS (VALUES {qvals}),
qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
df AS (SELECT term, CAST(COUNT(*) AS INT) AS df FROM qtf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS INT) AS n_docs FROM documents),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
avg AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sdl FROM dl),
scored AS (
    SELECT qtf.doc_id,
           CAST(round(
               (ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5))
                * ((qtf.tf * {k1p1})
                   / (qtf.tf + {k1r}
                      * (1.0 - {br}
                         + {br} * (dl.dl / (avg.sdl / n.n_docs))))))
               * 1000000000) AS BIGINT) AS iscore
    FROM qtf JOIN df USING (term) JOIN dl USING (doc_id)
    CROSS JOIN n CROSS JOIN avg
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit,
       round(CAST(SUM(iscore) AS DOUBLE) / 1000000000, 9) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {int(k)}"""


def _span_cte(width: int) -> str:
    """Shared CTE list ending in ``sp(doc_id, pos, span_md5)`` — mirrors
    dedup._span_fold + posexplode: same whitespace tokenizer, spans are
    the ``width``-token windows joined by single spaces, pos is 1-based."""
    return rf"""toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS p FROM toks),
sp AS (
    SELECT doc_id, CAST(p AS INT) AS pos,
           md5(array_to_string(list_slice(t, p, p + {width} - 1), ' '))
               AS span_md5
    FROM pos WHERE p + {width} - 1 <= len(t)
)"""


def sql_duplicated_spans(width: int = 6) -> str:
    """Substring-duplication census — mirrors dedup.duplicated_spans."""
    return f"""WITH {_span_cte(width)}
SELECT span_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM sp GROUP BY span_md5 HAVING COUNT(*) > 1
ORDER BY span_md5"""


def sql_duplicated_span_occurrences(width: int = 6) -> str:
    """Occurrence rows of corpus-duplicated spans — mirrors
    dedup.duplicated_span_occurrences."""
    return f"""WITH {_span_cte(width)}
SELECT doc_id, pos, span_md5 FROM sp
WHERE span_md5 IN (
    SELECT span_md5 FROM sp GROUP BY span_md5 HAVING COUNT(*) > 1
)
ORDER BY doc_id, pos, span_md5"""


# -- corpus-trained discriminative classifier (textops.classifier_*) --------

_CLS_META = (
    "meta AS (\n"
    "    SELECT doc_id,\n"
    "           CASE WHEN len(regexp_extract_all(text,"
    " '\\b(the|and|of|to|in|is|a)\\b', 0)) * {factor}\n"
    "                >= len(regexp_split_to_array(trim(text), '\\s+'))\n"
    "                THEN 1 ELSE 0 END AS label_good,\n"
    "           CASE WHEN " + MD5_INT.format(
        x="'{salt}:' || CAST(doc_id AS VARCHAR)"
    ) + " % 1000 < {upper}\n"
    "                THEN 'train' ELSE 'eval' END AS split\n"
    "    FROM documents\n"
    ")"
)

_CLS_CTES = (
    "terms AS (\n"
    "    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term\n"
    "    FROM documents\n"
    "),\n"
    "posting AS (SELECT DISTINCT doc_id, term FROM terms WHERE term <> ''),\n"
    "train AS (SELECT doc_id, label_good FROM meta WHERE split = 'train'),\n"
    "tot AS (\n"
    "    SELECT CAST(COALESCE(SUM(label_good), 0) AS BIGINT) AS n_good_docs,\n"
    "           CAST(COALESCE(SUM(1 - label_good), 0) AS BIGINT) AS n_bad_docs\n"
    "    FROM train\n"
    "),\n"
    "stats AS (\n"
    "    SELECT p.term,\n"
    "           CAST(SUM(m.label_good) AS BIGINT) AS n_good,\n"
    "           CAST(SUM(1 - m.label_good) AS BIGINT) AS n_bad\n"
    "    FROM posting p JOIN train m USING (doc_id)\n"
    "    GROUP BY p.term\n"
    "    HAVING COUNT(*) >= {min_df}\n"
    "),\n"
    "weights AS (\n"
    "    SELECT s.term, s.n_good, s.n_bad,\n"
    "           CAST(CASE WHEN s.n_good * t.n_bad_docs > s.n_bad * t.n_good_docs THEN 1\n"
    "                     WHEN s.n_good * t.n_bad_docs < s.n_bad * t.n_good_docs THEN -1\n"
    "                     ELSE 0 END AS INT) AS weight\n"
    "    FROM stats s CROSS JOIN tot t\n"
    ")"
)


def _cls_prefix(factor: int, salt: str, upper: int, min_df: int) -> str:
    meta = _CLS_META.format(factor=factor, salt=salt, upper=upper)
    return meta + ",\n" + _CLS_CTES.format(min_df=min_df)


def sql_classifier_weights(
    factor: int = 16, salt: str = "cls-v1", upper: int = 800, min_df: int = 2
) -> str:
    """Trained ±1 lift-sign weight table — mirrors
    textops.classifier_weights (exact integer cross-ratio sign)."""
    return (
        f"WITH {_cls_prefix(factor, salt, upper, min_df)}\n"
        "SELECT term, n_good, n_bad, weight FROM weights"
    )


def sql_classifier_scores(
    factor: int = 16, salt: str = "cls-v1", upper: int = 800, min_df: int = 2
) -> str:
    """Held-out per-document logits — mirrors textops.classifier_scores
    (eval docs with no weighted terms kept at logit 0)."""
    return (
        f"WITH {_cls_prefix(factor, salt, upper, min_df)},\n"
        "per_doc AS (\n"
        "    SELECT p.doc_id,\n"
        "           CAST(SUM(CASE WHEN w.weight > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,\n"
        "           CAST(SUM(CASE WHEN w.weight < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,\n"
        "           CAST(SUM(w.weight) AS BIGINT) AS logit\n"
        "    FROM posting p JOIN weights w USING (term)\n"
        "    GROUP BY p.doc_id\n"
        ")\n"
        "SELECT m.doc_id,\n"
        "       COALESCE(d.n_pos, 0) AS n_pos,\n"
        "       COALESCE(d.n_neg, 0) AS n_neg,\n"
        "       COALESCE(d.logit, 0) AS logit,\n"
        "       CAST(CASE WHEN COALESCE(d.logit, 0) > 0 THEN 1 ELSE 0 END AS INT)\n"
        "           AS pred_good,\n"
        "       m.label_good\n"
        "FROM meta m LEFT JOIN per_doc d USING (doc_id)\n"
        "WHERE m.split = 'eval'"
    )


def sql_classifier_eval(
    factor: int = 16, salt: str = "cls-v1", upper: int = 800, min_df: int = 2
) -> str:
    """Held-out confusion matrix — mirrors textops.classifier_eval."""
    return (
        f"WITH scored AS ({sql_classifier_scores(factor, salt, upper, min_df)})\n"
        "SELECT label_good, pred_good, CAST(COUNT(*) AS BIGINT) AS n_docs\n"
        "FROM scored GROUP BY label_good, pred_good"
    )


# -- BPE round-0 pair statistics (vocab.bpe_pair_counts) --------------------


def sql_bpe_pair_counts(k: int = 20) -> str:
    """Top-k adjacent character-pair counts over the word-frequency table
    — mirrors vocab.bpe_pair_counts (count desc, lexicographic
    tie-break)."""
    return (
        "WITH words AS (\n"
        "    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word\n"
        "    FROM documents\n"
        "),\n"
        "wf AS MATERIALIZED (\n"
        "    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq\n"
        "    FROM words WHERE word <> '' GROUP BY word\n"
        "),\n"
        "syms AS (SELECT string_split(word, '') AS s, freq FROM wf),\n"
        "pairs AS (\n"
        "    SELECT s[i] AS \"left\", s[i + 1] AS \"right\", freq\n"
        "    FROM syms, UNNEST(range(1, len(s))) AS t(i)\n"
        ")\n"
        "SELECT \"left\", \"right\", CAST(SUM(freq) AS BIGINT) AS pair_count\n"
        "FROM pairs GROUP BY 1, 2\n"
        f"ORDER BY pair_count DESC, \"left\", \"right\" LIMIT {int(k)}"
    )


def _bpe_train_ctes(n_merges: int) -> str:
    """Unrolled BPE trainer as chained CTEs — the ``kmeans_cells``
    precedent (iterative trainer → per-round CTE unroll) applied to
    vocab.bpe_merges. Per round r: pair-count aggregate over syms{r-1},
    deterministic argmax (count desc, then lexicographic — DuckDB's
    binary collation matches Spark's UTF-8 ordering on this corpus),
    then the left-to-right NON-OVERLAPPING rewrite.

    The rewrite mirrors Spark's fold semantics (vocab._merge_expr)
    exactly via run-alternation: candidate positions i (s[i]=l,
    s[i+1]=r) are only ever adjacent when l = r, and the fold takes
    every OTHER candidate within each consecutive run starting from the
    run head — so taken = odd rank within (i - row_number) run groups.
    Position i is dropped when i-1 was taken (it was absorbed as the
    right half of that merge).

    Assumes the corpus supports all ``n_merges`` rounds (a round with no
    remaining pairs would produce empty CTEs downstream — the Spark
    trainer breaks out instead; the gate fixture trains all rounds)."""
    ctes = [
        "words AS (\n"
        "    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word\n"
        "    FROM documents\n"
        ")",
        "wf AS MATERIALIZED (\n"
        "    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq\n"
        "    FROM words WHERE word <> '' GROUP BY word\n"
        ")",
        "syms0 AS MATERIALIZED (SELECT word, freq, string_split(word, '')"
        " AS s FROM wf)",
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        ctes.append(
            f"""pc{r} AS MATERIALIZED (
    SELECT s[i] AS l, s[i + 1] AS r2, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM syms{p}, UNNEST(range(1, len(s))) AS t(i)
    GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"best{r} AS MATERIALIZED (SELECT l, r2, cnt FROM pc{r}"
            " ORDER BY cnt DESC, l, r2 LIMIT 1)"
        )
        ctes.append(
            f"""pos{r} AS MATERIALIZED (
    SELECT y.word, y.freq, t.i, y.s[t.i] AS sym,
           (t.i < len(y.s) AND y.s[t.i] = b.l AND y.s[t.i + 1] = b.r2)
               AS cand
    FROM syms{p} y, best{r} b, UNNEST(range(1, len(y.s) + 1)) AS t(i)
)"""
        )
        ctes.append(
            f"""take{r} AS MATERIALIZED (
    SELECT word, i FROM (
        SELECT word, i,
               ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS k
        FROM (
            SELECT word, i,
                   i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i)
                       AS grp
            FROM pos{r} WHERE cand
        )
    ) WHERE k % 2 = 1
)"""
        )
        ctes.append(
            f"""syms{r} AS MATERIALIZED (
    SELECT p.word, p.freq,
           list(CASE WHEN tk.word IS NOT NULL THEN b.l || b.r2
                     ELSE p.sym END ORDER BY p.i) AS s
    FROM pos{r} p CROSS JOIN best{r} b
    LEFT JOIN take{r} tk ON p.word = tk.word AND p.i = tk.i
    LEFT JOIN take{r} pv ON p.word = pv.word AND p.i = pv.i + 1
    WHERE pv.word IS NULL
    GROUP BY p.word, p.freq
)"""
        )
    return ",\n".join(ctes)


def sql_bpe_merges(n_merges: int) -> str:
    """Trained merge table (rank, left, right, merged, pair_count) —
    mirrors vocab.bpe_merges via the unrolled per-round CTE chain."""
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS rank, l AS \"left\", r2 AS \"right\","
        f" l || r2 AS merged, cnt AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_train_ctes(n_merges)}\n{rows}"


def sql_bpe_encode(n_merges: int) -> str:
    """Per-document BPE token budget (doc_id, n_words, n_bpe_tokens) —
    mirrors vocab.bpe_encode. After ``n_merges`` training rounds the
    trainer's symbol table IS the encoded form of every distinct word
    (encode replays the same rules in rank order over the same corpus),
    so the count is one join back onto the word stream."""
    return f"""WITH {_bpe_train_ctes(n_merges)},
docwords AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents
)
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(y.s)) AS BIGINT) AS n_bpe_tokens
FROM docwords w JOIN syms{n_merges} y USING (word)
WHERE w.word <> ''
GROUP BY w.doc_id"""


def sql_span_novelty_scores(width: int = 6) -> str:
    """Per-document substring novelty — mirrors
    dedup.span_novelty_scores (ppm integer division, NULL for docs
    shorter than the window)."""
    return f"""WITH {_span_cte(width)},
census AS (
    SELECT span_md5 FROM sp GROUP BY span_md5 HAVING COUNT(*) > 1
),
per AS (
    SELECT sp.doc_id,
           CAST(COUNT(*) AS INT) AS n_spans,
           CAST(SUM(CASE WHEN c.span_md5 IS NOT NULL THEN 1 ELSE 0 END)
                AS INT) AS n_dup_spans
    FROM sp LEFT JOIN census c USING (span_md5)
    GROUP BY sp.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN NULL
            ELSE (CAST(p.n_spans AS BIGINT) - p.n_dup_spans) * 1000000
                 // p.n_spans
       END AS novelty_ppm
FROM documents d LEFT JOIN per p USING (doc_id)"""


def _rp_list_sql(m: int) -> str:
    """The m-element projected-vector expression over ``normed.q`` —
    integer plane dots truncating-divided back to the input grid
    (DuckDB ``//`` on BIGINT truncates toward zero, matching the Spark
    kernel's sign·(|x|//scale)). Same seed-42 ``planes`` family as LSH."""
    comps = ", ".join(
        "(CAST(list_dot_product(q, ["
        + ", ".join(str(v) for v in plane)
        + f"]::BIGINT[]) AS BIGINT) // {EMB_SCALE})"
        for plane in planes(m)
    )
    return f"[{comps}]::BIGINT[]"


def rp_cte(m: int) -> str:
    return f"""rp AS (
    SELECT vec_id, {_rp_list_sql(m)} AS r FROM normed
),
rpn AS (
    SELECT vec_id, r, CAST(list_dot_product(r, r) AS BIGINT) AS rnrm FROM rp
)"""


def sql_rp_embeddings(m: int) -> str:
    """Flattened (vec_id, i, rp_i), i 1-based — the gate-friendly form of
    the projected store (array columns hash differently between pandas
    conversions; scalars are engine-neutral)."""
    return f"""WITH {EMB_BASE_CTE},
{rp_cte(m)}
SELECT vec_id, CAST(generate_subscripts(r, 1) AS INT) AS i,
       unnest(r) AS rp_i
FROM rp"""


def sql_rp_topk(query_vec_id: int, k: int, m: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{rp_cte(m)},
qv AS (SELECT r AS qq, rnrm AS qn FROM rpn WHERE vec_id = {query_vec_id})
SELECT n.vec_id,
       CASE WHEN n.rnrm > 0 AND qv.qn > 0
            THEN list_dot_product(n.r, qv.qq) / (sqrt(n.rnrm) * sqrt(qv.qn))
       END AS cosine
FROM rpn n, qv
WHERE n.vec_id <> {query_vec_id}
ORDER BY cosine DESC NULLS LAST, n.vec_id
LIMIT {k}"""


def sql_rp_recall_audit(query_vec_id: int, topk: int, m: int) -> str:
    return f"""WITH {EMB_BASE_CTE},
{rp_cte(m)},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
rqv AS (SELECT r AS qq, rnrm AS qn FROM rpn WHERE vec_id = {query_vec_id}),
exact AS (
    SELECT n.vec_id FROM normed n, qv
    WHERE n.vec_id <> {query_vec_id}
    ORDER BY list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) DESC,
             n.vec_id
    LIMIT {topk}
),
approx AS (
    SELECT n.vec_id FROM rpn n, rqv
    WHERE n.vec_id <> {query_vec_id}
    ORDER BY CASE WHEN n.rnrm > 0 AND rqv.qn > 0
                  THEN list_dot_product(n.r, rqv.qq)
                       / (sqrt(n.rnrm) * sqrt(rqv.qn))
             END DESC NULLS LAST,
             n.vec_id
    LIMIT {topk}
)
SELECT CAST({topk} AS BIGINT) AS k,
       CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hits,
       COUNT(ap.vec_id) / CAST({topk} AS DOUBLE) AS recall
FROM exact e LEFT JOIN approx ap USING (vec_id)"""


def sql_cross_lm_scores(ref_sources) -> str:
    """Cross-corpus LM scores — mirrors textops.cross_lm_scores: bigram
    counts / unigram counts / |V| from the REFERENCE slice only, every
    document scored with Laplace smoothing over LEFT joins (unseen bigram
    → cb 0, unseen context word → cu 0), nano-nat integer quantization
    before the order-independent sum."""
    src_list = ", ".join(f"'{s}'" for s in ref_sources)
    return rf"""WITH toks AS (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
flat AS (
    SELECT doc_id, source, generate_subscripts(t, 1) AS pos, unnest(t) AS w
    FROM toks
),
uni AS (
    SELECT w, COUNT(*) AS cu FROM flat
    WHERE w <> '' AND source IN ({src_list}) GROUP BY w
),
v AS (SELECT COUNT(*) AS vn FROM uni),
bi AS (
    -- list-index pairs, not a positional self-join (see
    -- sql_bigram_lm_scores for the measured blowup rationale)
    SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
    FROM (
        SELECT doc_id, source, t,
               unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks
    )
),
bc AS (
    SELECT w1, w2, COUNT(*) AS cb FROM bi
    WHERE source IN ({src_list}) GROUP BY 1, 2
),
scored AS (
    SELECT b.doc_id,
           CAST(round(ln((COALESCE(bc.cb, 0) + 1.0)
                         / (COALESCE(u.cu, 0) + v.vn)) * 1000000000)
                AS BIGINT) AS ilp
    FROM bi b LEFT JOIN bc USING (w1, w2) LEFT JOIN uni u ON u.w = b.w1
    CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       -CAST(SUM(ilp) AS DOUBLE) / 1000000000 / COUNT(*) AS avg_neg_logprob
FROM scored GROUP BY doc_id"""


def sql_grouped_split(
    splits: tuple = DEFAULT_SPLITS,
    group_col: str = "source",
    salt: str = "gsplit-v1",
) -> str:
    """Group-granular hash split — same md5 per-mille bucketing as
    textops.grouped_split, keyed on the group column. Defaults derive
    from the operator's DEFAULT_SPLITS so an oracle/operator mismatch
    cannot creep in through divergent literals."""
    bucket = (
        MD5_INT.format(x=f"'{salt}:' || CAST({group_col} AS VARCHAR)")
        + " % 1000"
    )
    cases = " ".join(
        f"WHEN {bucket} < {upper} THEN '{name}'" for name, upper in splits
    )
    return (
        f"SELECT doc_id, {group_col}, CASE {cases} END AS split "
        f"FROM documents"
    )


def winnow_cte(k: int, w: int) -> str:
    """CTE list ending in ``fp(doc_id, pos, fingerprint)`` — mirrors
    dedup.winnow_fingerprints: string-min of hash ∥ zero-padded
    (10¹²−1−pos) over the forward w-window (lexicographic = hash asc,
    pos desc → rightmost minimal hash; 12 digits cover every int32
    position), complete windows only, duplicate selections collapsed."""
    return f"""{_span_cte(k)},
sel AS (
    SELECT doc_id,
           MIN(span_md5 || printf('%012d', 999999999999 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING
           ) AS selkey,
           COUNT(*) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING
           ) AS wcnt
    FROM sp
),
fp AS (
    SELECT DISTINCT doc_id,
           CAST(999999999999 - CAST(substr(selkey, 33, 12) AS BIGINT)
                AS INT) AS pos,
           substr(selkey, 1, 32) AS fingerprint
    FROM sel WHERE wcnt = {w}
)"""


def sql_winnow_fingerprints(k: int = 6, w: int = 4) -> str:
    return f"""WITH {winnow_cte(k, w)}
SELECT doc_id, pos, fingerprint FROM fp"""


def sql_winnow_overlap_pairs(
    k: int = 6, w: int = 4, min_shared: int = 2, max_fp_df: int = 64
) -> str:
    return f"""WITH {winnow_cte(k, w)},
fpv AS (SELECT DISTINCT doc_id, fingerprint FROM fp),
kept AS (
    SELECT fingerprint FROM fpv GROUP BY fingerprint
    HAVING COUNT(*) <= {max_fp_df}
),
capped AS (SELECT f.* FROM fpv f JOIN kept USING (fingerprint))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared
FROM capped a JOIN capped b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}"""


def sql_vocab_growth(group_col: str = "source") -> str:
    """Per-group vocabulary stats — mirrors textops.vocab_growth: counts
    over the non-empty whitespace token stream (a document with no tokens
    has no inverted-index rows, so it contributes to no group's n_docs)."""
    return rf"""WITH flat AS (
    SELECT doc_id, {group_col},
           unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents
), f AS (SELECT * FROM flat WHERE w <> '')
SELECT {group_col},
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
       (CAST(COUNT(DISTINCT w) AS BIGINT) * 1000000) // COUNT(*) AS ttr_ppm
FROM f GROUP BY {group_col}"""


# -- SQ8 scalar quantization (similarity.sq_codes / sq_topk / audit) --------


def sq_ctes() -> str:
    """CTE chain ending in ``sqn(vec_id, r, rnrm)`` — mirrors
    similarity._with_sq bit-for-bit: per-dimension min/max grid, encode
    floor((v−mn)·255/rng), reconstruct mn+floor(c·rng/255). Both floors
    are over DOUBLE division of exact integers — the same IEEE ops Spark
    runs — so no integer-division semantics need to agree."""
    return f"""sqflat AS (
    SELECT vec_id, unnest(q) AS v, generate_subscripts(q, 1) AS i FROM normed
),
sqmm AS (
    SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM sqflat GROUP BY i
),
sqc AS (
    SELECT f.vec_id, f.i, m.mn, m.mx - m.mn AS rng,
           CASE WHEN m.mx > m.mn
                THEN CAST(FLOOR((f.v - m.mn) * {255} / (m.mx - m.mn)) AS BIGINT)
                ELSE 0 END AS code
    FROM sqflat f JOIN sqmm m USING (i)
),
sqrec AS (
    SELECT vec_id, i,
           mn + CASE WHEN rng > 0
                     THEN CAST(FLOOR(code * rng / {255}) AS BIGINT)
                     ELSE 0 END AS r
    FROM sqc
),
sqv AS (
    SELECT vec_id, list(r ORDER BY i) AS r FROM sqrec GROUP BY vec_id
),
sqn AS (
    SELECT vec_id, r, CAST(list_dot_product(r, r) AS BIGINT) AS rnrm FROM sqv
)"""


def sql_sq_codes() -> str:
    """Flattened (vec_id, i, code), i 1-based — mirrors similarity.sq_codes."""
    return f"""WITH {EMB_BASE_CTE},
{sq_ctes()}
SELECT vec_id, CAST(i AS INT) AS i, CAST(code AS INT) AS code FROM sqc"""


def sql_sq_topk(query_vec_id: int, k: int) -> str:
    """Asymmetric SQ8 top-k — exact query vector vs reconstructed corpus,
    mirrors similarity.sq_topk (ties on id, NULL-norm sinks)."""
    return f"""WITH {EMB_BASE_CTE},
{sq_ctes()},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id})
SELECT n.vec_id,
       CASE WHEN n.rnrm > 0 AND qv.qn > 0
            THEN list_dot_product(n.r, qv.qq) / (sqrt(n.rnrm) * sqrt(qv.qn))
       END AS cosine
FROM sqn n, qv
WHERE n.vec_id <> {query_vec_id}
ORDER BY cosine DESC NULLS LAST, n.vec_id
LIMIT {k}"""


def sql_sq_recall_audit(query_vec_id: int, topk: int) -> str:
    """Recall@k of the SQ8 ranking vs exact — mirrors
    similarity.sq_recall_audit (the rp_recall_audit shape)."""
    return f"""WITH {EMB_BASE_CTE},
{sq_ctes()},
qv AS (SELECT q AS qq, nrm AS qn FROM normed WHERE vec_id = {query_vec_id}),
exact AS (
    SELECT n.vec_id FROM normed n, qv
    WHERE n.vec_id <> {query_vec_id}
    ORDER BY list_dot_product(n.q, qv.qq) / (sqrt(n.nrm) * sqrt(qv.qn)) DESC,
             n.vec_id
    LIMIT {topk}
),
approx AS (
    SELECT n.vec_id FROM sqn n, qv
    WHERE n.vec_id <> {query_vec_id}
    ORDER BY CASE WHEN n.rnrm > 0 AND qv.qn > 0
                  THEN list_dot_product(n.r, qv.qq)
                       / (sqrt(n.rnrm) * sqrt(qv.qn))
             END DESC NULLS LAST,
             n.vec_id
    LIMIT {topk}
)
SELECT CAST({topk} AS BIGINT) AS k,
       CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hits,
       COUNT(ap.vec_id) / CAST({topk} AS DOUBLE) AS recall
FROM exact e LEFT JOIN approx ap USING (vec_id)"""


# -- kNN label propagation (similarity.knn_label_propagation) ---------------


def sql_knn_label_propagation(
    query_mod: int, k: int, n_cells: int, nprobe: int
) -> str:
    """Majority-vote label transfer over the kNN graph — mirrors
    similarity.knn_label_propagation: the sql_knn_join candidate ranking
    as a CTE, per-query label votes, winner by (votes DESC, label ASC),
    truth joined back from the query rows themselves."""
    return f"""WITH knn AS (
{sql_knn_join(query_mod, k, n_cells, nprobe)}
),
votes AS (
    SELECT kn.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS n_votes
    FROM knn kn JOIN embeddings e ON e.vec_id = kn.vec_id
    GROUP BY kn.query_id, e.label
),
pred AS (
    SELECT query_id, label, n_votes,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, label) AS rn
    FROM votes
)
SELECT p.query_id,
       CAST(p.label AS INT) AS predicted_label,
       p.n_votes,
       CAST(t.label AS INT) AS true_label,
       CAST(CASE WHEN p.label = t.label THEN 1 ELSE 0 END AS INT) AS correct
FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
WHERE p.rn = 1"""


def sql_knn_label_accuracy(
    query_mod: int, k: int, n_cells: int, nprobe: int
) -> str:
    """One-row accuracy of the propagation — mirrors
    similarity.knn_label_accuracy."""
    return f"""WITH prop AS (
{sql_knn_label_propagation(query_mod, k, n_cells, nprobe)}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COALESCE(SUM(correct), 0) AS BIGINT) AS n_correct,
       CAST(COALESCE(SUM(correct), 0) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS accuracy
FROM prop"""


# -- token-budget corpus selection (textops.token_budget_selection) ---------


def sql_token_budget_selection(budget_tokens: int | None = None) -> str:
    """Greedy quality-first selection under a token budget — mirrors
    textops.token_budget_selection: same score expression, inclusive
    running token sum over (quality DESC, doc_id), boundary document
    excluded. ``None`` budget = half the corpus token total."""
    wc = r"len(regexp_split_to_array(trim(text), '\s+'))"
    score = quality_score_sql()
    budget = (
        str(int(budget_tokens))
        if budget_tokens is not None
        else "(SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 FROM base)"
    )
    return f"""WITH base AS (
    SELECT doc_id, CAST({wc} AS BIGINT) AS n_tokens, {score} AS quality_score
    FROM documents
),
run AS (
    SELECT doc_id, n_tokens, quality_score,
           CAST(SUM(n_tokens) OVER (
               ORDER BY quality_score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM base
)
SELECT doc_id, n_tokens, quality_score, cum_tokens
FROM run WHERE cum_tokens <= {budget}"""


# -- hybrid RRF retrieval (similarity.hybrid_rrf_topk) ----------------------


def sql_hybrid_rrf_topk(
    terms: tuple[str, ...],
    query_vec_id: int,
    k: int = 10,
    n_each: int = 25,
    c: int = 60,
) -> str:
    """BM25 ∪ ANN reciprocal-rank fusion — mirrors
    similarity.hybrid_rrf_topk: both candidate lists re-ranked by their
    own (score DESC, id) order, full outer join on doc_id = vec_id,
    score = Σ 1/(c + rank), ties on doc_id."""
    return f"""WITH lex AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS lex_rank
    FROM ({sql_bm25_topk(terms, n_each)})
),
sem AS (
    SELECT vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
                AS INT) AS sem_rank
    FROM ({sql_ann_topk(query_vec_id, n_each)})
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       l.lex_rank, s.sem_rank,
       COALESCE(CAST(1 AS DOUBLE) / ({c} + l.lex_rank), CAST(0 AS DOUBLE))
       + COALESCE(CAST(1 AS DOUBLE) / ({c} + s.sem_rank), CAST(0 AS DOUBLE))
           AS rrf_score
FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, COALESCE(l.doc_id, s.doc_id)
LIMIT {int(k)}"""


def sql_hard_negatives(
    query_mod: int, n_neg: int, k_graph: int, n_cells: int, nprobe: int
) -> str:
    """Hard-negative mining over the kNN graph — mirrors
    similarity.hard_negatives: the sql_knn_join candidate ranking at
    ``k_graph``, different-label filter, per-query re-rank by (cosine
    DESC, id), top ``n_neg``."""
    return f"""WITH knn AS (
{sql_knn_join(query_mod, k_graph, n_cells, nprobe)}
),
cand AS (
    SELECT kn.query_id, kn.vec_id, kn.cosine
    FROM knn kn
    JOIN embeddings nb ON nb.vec_id = kn.vec_id
    JOIN embeddings qe ON qe.vec_id = kn.query_id
    WHERE nb.label <> qe.label
)
SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS neg_rank FROM (
    SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id
           ) AS rn
    FROM cand
) WHERE rn <= {int(n_neg)}"""


def sql_dedup_rate_by_source(source_col: str = "source") -> str:
    """Per-source exact-duplicate share — mirrors
    dedup.dedup_rate_by_source: corpus-wide content groups, keeper = min
    doc_id, non-keeper members of >1-doc groups are that source's dups;
    ppm by integer floor division (both engines floor exact non-negative
    quotients)."""
    return rf"""WITH base AS (
    SELECT doc_id, {source_col},
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
    FROM documents
),
g AS (
    SELECT h, COUNT(*) AS n, MIN(doc_id) AS keeper FROM base GROUP BY h
),
flagged AS (
    SELECT b.{source_col},
           CASE WHEN g.n > 1 AND b.doc_id <> g.keeper THEN 1 ELSE 0 END AS dup
    FROM base b JOIN g USING (h)
)
SELECT {source_col},
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(dup), 0) AS BIGINT) AS n_dup_docs,
       CAST(COALESCE(SUM(dup), 0) AS BIGINT) * 1000000 // COUNT(*) AS dup_ppm
FROM flagged GROUP BY {source_col}"""


def sql_length_quantiles(group_col: str = "source") -> str:
    """Per-source length quartiles — mirrors textops.length_quantiles
    (frequency table, cumulative ranks, nearest-rank PAIR per quartile
    in pure integer arithmetic, value = pair-sum / 2.0)."""
    def hit(a, d):
        # positive-only ceil — see textops.length_quantiles on the
        # Spark-div-truncates vs DuckDB-//-floors divergence
        p1 = f"(({a} * (n - 1)) // {d} + 1)"
        p2 = f"(({a} * (n - 1) + {d} - 1) // {d} + 1)"
        rng = "> cum - c AND {p} <= cum"
        return (
            f"(CASE WHEN {p1} {rng.format(p=p1)} THEN 1 ELSE 0 END"
            f" + CASE WHEN {p2} {rng.format(p=p2)} THEN 1 ELSE 0 END)"
        )

    return f"""WITH fc AS (
    SELECT {group_col} AS g, CAST(length(text) AS BIGINT) AS len,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
rk AS (
    SELECT g, len, c,
           SUM(c) OVER (PARTITION BY g ORDER BY len
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY g) AS n
    FROM fc
)
SELECT g AS {group_col},
       CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(SUM(len * {hit(1, 4)}) AS DOUBLE) / 2.0 AS q25,
       CAST(SUM(len * {hit(1, 2)}) AS DOUBLE) / 2.0 AS q50,
       CAST(SUM(len * {hit(3, 4)}) AS DOUBLE) / 2.0 AS q75
FROM rk GROUP BY g ORDER BY g"""


def sql_quality_dup_crosstab(n_tiles: int = 10) -> str:
    """Duplication rate per quality decile — mirrors
    textops.quality_dup_crosstab (real NTILE over the shared quality
    score, the dedup_rate_by_source duplicate flag, exact integer ppm)."""
    return rf"""WITH scored AS ({sql_quality_scores()}),
deciles AS (
    SELECT doc_id,
           CAST(NTILE({n_tiles}) OVER (ORDER BY quality_score, doc_id)
                AS INT) AS decile
    FROM scored
),
base AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
    FROM documents
),
g AS (
    SELECT h, COUNT(*) AS n, MIN(doc_id) AS keeper FROM base GROUP BY h
),
flagged AS (
    SELECT b.doc_id,
           CASE WHEN g.n > 1 AND b.doc_id <> g.keeper THEN 1 ELSE 0 END
               AS dup
    FROM base b JOIN g USING (h)
)
SELECT d.decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(f.dup), 0) AS BIGINT) AS n_dup_docs,
       CAST(COALESCE(SUM(f.dup), 0) AS BIGINT) * 1000000 // COUNT(*)
           AS dup_ppm
FROM deciles d JOIN flagged f USING (doc_id)
GROUP BY d.decile
ORDER BY d.decile"""


def sql_scrub_duplicated_spans(width: int = 6) -> str:
    """Substring-level scrub — mirrors dedup.scrub_duplicated_spans:
    same span CTE, duplicated-span starts expand to covered token
    indices via generate_series, uncovered tokens reassemble in order;
    every document keeps its row (wholly-duplicated text scrubs to '')."""
    return f"""WITH {_span_cte(width)},
dup AS (
    SELECT span_md5 FROM sp GROUP BY span_md5 HAVING COUNT(*) > 1
),
occ AS (SELECT s.doc_id, s.pos FROM sp s JOIN dup USING (span_md5)),
covered AS (
    SELECT DISTINCT doc_id, i FROM (
        SELECT doc_id,
               unnest(generate_series(pos, pos + {width} - 1)) AS i
        FROM occ
    )
),
flat AS (
    SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
),
kept AS (
    SELECT f.doc_id, f.i, f.w
    FROM flat f LEFT JOIN covered c ON c.doc_id = f.doc_id AND c.i = f.i
    WHERE c.i IS NULL
),
clean AS (
    SELECT doc_id,
           string_agg(w, ' ' ORDER BY i) AS clean_text,
           CAST(COUNT(*) AS INT) AS n_kept
    FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tok FROM toks)
SELECT t.doc_id,
       COALESCE(c.clean_text, '') AS clean_text,
       COALESCE(c.n_kept, 0) AS n_tokens_kept,
       t.n_tok - COALESCE(c.n_kept, 0) AS n_tokens_removed
FROM tot t LEFT JOIN clean c USING (doc_id)"""


def sql_max_duplicated_run(width: int = 6) -> str:
    """Longest duplicated run per document — mirrors
    dedup.max_duplicated_run: gaps-and-islands over the duplicated
    window starts, run length r → width + r − 1 tokens, 0 when clean."""
    return f"""WITH {_span_cte(width)},
dup AS (
    SELECT span_md5 FROM sp GROUP BY span_md5 HAVING COUNT(*) > 1
),
occ AS (SELECT s.doc_id, s.pos FROM sp s JOIN dup USING (span_md5)),
runs AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM occ
),
rl AS (SELECT doc_id, COUNT(*) AS r FROM runs GROUP BY doc_id, g),
m AS (SELECT doc_id, MAX(r) AS mr FROM rl GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(m.mr + {int(width) - 1}, 0) AS INT) AS max_run_tokens
FROM documents d LEFT JOIN m USING (doc_id)"""


def sql_max_duplicated_run_exact() -> str:
    """EXACT longest duplicated substring per document (in tokens) —
    independent formulation of the suffix-array identity mirrored by
    dedup.max_duplicated_run_exact: suffixes sharing a duplicated
    prefix of length >= 2 share their first two tokens, so
    lexicographic neighbors within each (t1, t2) group yield the exact
    LCP; runs of 1 come from the token census. LCP via
    list_zip/list_transform first-mismatch (list_position returns 0
    when every zipped pair matches -> LCP = shorter length)."""
    lcp = (
        "CASE WHEN {o} IS NULL THEN 0 ELSE CASE WHEN "
        "list_position(list_transform(list_zip(s, {o}), "
        "z -> coalesce(z[1] = z[2], false)), false) = 0 "
        "THEN least(len(s), len({o})) ELSE "
        "list_position(list_transform(list_zip(s, {o}), "
        "z -> coalesce(z[1] = z[2], false)), false) - 1 END END"
    )
    return f"""WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), sfx AS (
  SELECT doc_id, t[i:] AS s, t[i] AS t1, t[i+1] AS t2, len(t) - i + 1 AS slen
  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks)
), nb AS (
  SELECT doc_id, s, slen, t1,
         lag(s)  OVER (PARTITION BY t1, t2 ORDER BY s) AS p,
         lead(s) OVER (PARTITION BY t1, t2 ORDER BY s) AS n
  FROM sfx WHERE slen >= 2
), lcps AS (
  SELECT doc_id, t1,
         greatest({lcp.format(o="p")}, {lcp.format(o="n")}) AS nb_lcp
  FROM nb
), census AS (
  SELECT tok, count(*) AS c FROM (SELECT unnest(t) AS tok FROM toks)
  GROUP BY tok
), pos_best AS (
  SELECT l.doc_id,
         CASE WHEN l.nb_lcp >= 2 THEN l.nb_lcp
              WHEN c.c >= 2 THEN 1 ELSE 0 END AS v
  FROM lcps l JOIN census c ON l.t1 = c.tok
  UNION ALL
  SELECT s.doc_id, CASE WHEN c.c >= 2 THEN 1 ELSE 0 END AS v
  FROM sfx s JOIN census c ON s.t1 = c.tok
  WHERE s.slen = 1
), per_doc AS (SELECT doc_id, max(v) AS m FROM pos_best GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(p.m, 0) AS INT) AS max_run_tokens
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"""
