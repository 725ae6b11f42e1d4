"""Embedding similarity-search queries (north_star) over the driver's
``embeddings`` table (array<float> dim-64 vectors).

All vector math is cast to double FIRST and folded sequentially in
both engines (Spark zip_with/aggregate left-fold vs DuckDB
list_dot_product) so the cosine values compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources.io import load_table
from .catalog import query, shared


_QVEC_CACHE: dict[tuple, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch (and cache) the literal query vector. The lookup is one
    tiny Spark job; caching keeps repeated catalog builds from
    re-running it per query. Keyed by (path, mtime, size) of the
    embeddings file — the same staleness-proof key as ``_nvec`` — so
    a driver that regenerates embeddings.parquet in place can never
    serve a stale query vector against a live oracle."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size, vec_id)
    except OSError:
        key = (sf_dir, 0, 0, vec_id)
    if key not in _QVEC_CACHE:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        _QVEC_CACHE[key] = [float(x) for x in row[0]]
    return _QVEC_CACHE[key]


def _centroids(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("integer").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )


_SEED_CACHE: dict[tuple, list] = {}


def _seed_vecs(
    spark: SparkSession, sf_dir: str, n: int
) -> list[tuple[int, list[float]]]:
    """First-``n`` seed vectors ``[(vec_id, [floats]), ...]`` sorted
    by id, memoized with the ``_query_vec`` staleness key (path,
    mtime, size): the PQ-codebook consumers (``pq_codes`` and
    ``_adc_scores``) each re-collected the SAME 16 rows on every plan
    build — two ~0.25 s driver jobs per build, per rep (r11)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size, n)
    except OSError:
        key = (sf_dir, 0, 0, n)
    if key not in _SEED_CACHE:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < n)
            .select("vec_id", "embedding")
            .collect()
        )
        _SEED_CACHE[key] = sorted(
            (int(r[0]), [float(x) for x in r[1]]) for r in rows
        )
    return _SEED_CACHE[key]


_NVEC_CACHE: dict[tuple[str, int, int], int] = {}


def _nvec(sf_dir: str, emb: DataFrame) -> int:
    """Embedding row count, cached by (path, mtime, size) — same
    staleness-proof key as io.py's parquet-footer cache, so a driver
    that regenerates embeddings.parquet in place can never leave the
    declared blocking (k = N//250) diverged from the oracle's live
    COUNT(*)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir, 0, 0)
    if key not in _NVEC_CACHE:
        _NVEC_CACHE[key] = emb.count()
    return _NVEC_CACHE[key]


# path -> ((applicationId, mtime_ns, size), checkpointed DataFrame).
# One live slot per corpus path, validated on applicationId +
# file identity — the _jaccard_pairs_cached bookkeeping exactly
# (see catalog_docs.py for the staleness rationale).
_KNN_PAIRS_CACHE: dict[str, tuple[tuple, DataFrame]] = {}


def _knn_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label-carrying scored kNN candidate-pair list
    (``knn_candidate_pairs(carry_labels=True)``), localCheckpointed
    once per (Spark context, embeddings file). Both kNN-graph
    consumers rank this SAME list: ``emb_knn_join`` takes the plain
    top-3, ``emb_hard_negatives`` filters cross-label first — the
    filter commutes with scoring and distinct (labels are functions
    of the keys), so both are bit-identical to building their own
    pair join, at ONE pair-scoring pass instead of two. The
    checkpoint is lazy (materializes on the first consumer's action)
    and executor-local; the pair list is cell-blocked-candidate
    volume (Σ cells |cell|² pairs), the table a production pipeline
    would persist once and fan the graph/mining stages out from.
    Slot bookkeeping shared with the jaccard pair cache
    (``_pair_cache.cached_pair_checkpoint``)."""
    import os

    from ._pair_cache import cached_pair_checkpoint

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        pairs = S.knn_candidate_pairs(
            emb,
            _centroids_scaled(sf_dir, emb),
            n_assign=4,
            dim=len(_query_vec(spark, sf_dir, 0)),
            label_col="label",
            carry_labels=True,
            n_rows=_nvec(sf_dir, emb),
            # declares k so assignment goes L-level hierarchical past
            # 64 cells (O(N log N) probe-descent, round 8 — was
            # two-level O(N·√k), measured Θ(N^1.5) at sf10); every
            # driver SF stays below the threshold on the UNCHANGED
            # flat path
            n_centroids=max(8, _nvec(sf_dir, emb) // 250),
            # map-side dense_rank partial BEFORE the distinct (round
            # 11): the build's transient shuffle carries per-mapper
            # group top-3s instead of the full candidate volume — the
            # 200 GB sf100 transient (SCALE.md r10) collapses to
            # O(N·labels·k); losslessness proof in the docstring
            prune_k=3,
        )
        # build-time lossless prune (round 9): the stored list is
        # O(N·labels·3) rows, not the full candidate volume — kills
        # the sf10 72 GB checkpoint storage wall. Both consumers take
        # a per-vector top-3 after dropping whole neighbor-label
        # groups, which per-group partials preserve exactly (proof in
        # prune_pairs_group_topk's docstring).
        return S.prune_pairs_group_topk(pairs, k=3)

    return cached_pair_checkpoint(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        _KNN_PAIRS_CACHE,
        build,
    )


def _centroids_scaled(sf_dir: str, emb: DataFrame) -> DataFrame:
    """Seed centroids whose count scales with the corpus: k = max(8,
    N//250), i.e. bounded cells of ~250 members (×n_assign overlap).

    The QUADRATIC blocked operators (knn join) need this: with k fixed
    at 8, cell population grows linearly in N and the per-cell pair
    space quadratically — measured 190 s at sf0.1 (20k vectors ⇒
    ~800 M candidate pairs) vs ~80 cells ⇒ ~80 M pairs. The formula is
    part of the DECLARED blocking, replayed verbatim in the oracle SQL
    (``greatest(8, COUNT(*) // 250)``), so results stay exactly
    hash-checked at every scale factor. The count is one cached tiny
    job per (path, mtime, size) of the embeddings file."""
    k = max(8, _nvec(sf_dir, emb) // 250)
    return emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("integer").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )


@query(
    "emb_topk_cosine",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def emb_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 to the vec_id=0 query vector.

    Scale: scan + per-partition heap (TakeOrdered), no shuffle; the
    query vector is a codegen literal. This is the exactness baseline
    the ANN variants are measured against.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return S.topk_cosine(emb.filter(F.col("vec_id") != 0), q, k=10)


@query(
    "emb_centroid_assign",
    oracle="""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e, c
    ),
    best AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, centroid_id) AS rn
      FROM scored
    )
    SELECT centroid_id, COUNT(*) AS n_assigned
    FROM best WHERE rn = 1 GROUP BY centroid_id
    """,
)
def emb_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: nearest-centroid assignment (centroids =
    vec_id<8 as fixed seeds), output partition sizes.

    Scale: broadcast cross-join + argmax-by-struct aggregation — at
    100 TB the assignment is the bucketing step that makes ANN a
    partition-pruned read instead of a full scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _centroids(emb)
    assigned = S.centroid_assign(
        emb, centroids, dim=len(_query_vec(spark, sf_dir, 0))
    )
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned")
    )


@query(
    "emb_cosine_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.45
    """,
)
def emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup north-star), IVF-blocked:
    vectors multi-probe-assigned to their 4 nearest centroid cells,
    exact float64 BLAS verification within each cell only — no
    corpus-wide pair space, no driver collect. n_assign=4 (of 8 seed
    cells) is what this loose threshold (0.45) needs for measured
    recall 1.0 vs the exact all-pairs kernel at sf0.01 AND sf0.1
    (n_assign=2 misses 38/144 pairs at sf0.1); at production scale the
    cell count grows ~√N while n_assign stays fixed, so the probe
    fraction shrinks. Pair keys only — membership is stable to float64
    rounding on both engines.

    Copy-heavy corpora (g identical vectors → C(g,2) cosine-1 raw
    pairs) should use ``emb_near_dup_cascade``, which collapses exact
    duplicates to representatives with multiplicity BEFORE the pair
    join — this raw entry keeps its semantics for corpora where raw
    pairs ARE the product."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_blocked(emb, _centroids(emb), threshold=0.45, n_assign=4)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] expressions — the one
    expression every assignment oracle uses (identical FP evaluation
    order to the engine's fold / unrolled dot, the property the whole
    hash-exact ANN catalog rests on)."""
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


def _asg_arm_ctes(
    L: int,
    vt: str,
    carry: tuple[str, ...],
    flat_k: int,
    branch: int,
    probe: int,
) -> list[str]:
    """CTEs replaying ONE L-level hierarchical-assignment arm of
    ``similarity.assign_cells`` (band-gated on the scalar k): the
    exact-integer root r (bounded search — float pow mis-rounds at
    perfect powers; NULL outside the band empties every downstream
    tier CTE), nested tier prefixes of sizes r^(L-1)..r, the exact
    cross-argmax top map with self-preference, descent-built lower
    maps (probe top-``probe`` per tier, self candidate excluded from
    the probe side and unioned back exactly once), the vector
    probe-descent, and ``a{L}s`` = (vec_id, *carry, embedding,
    centroid_id, sim). Generated from one loop so every arm IS the
    same construction one level deeper — the structural property the
    engine's ``_probe_descend`` loop has by the same argument."""
    p = f"a{L}"
    lo = flat_k if L == 2 else (branch + 1) ** (L - 1) - 1
    hi = (branch + 1) ** L - 1
    xprod = "*".join(["x"] * L)
    cos = _cos_sql

    def size(lv: int) -> str:
        return " * ".join([f"{p}r.r"] * (L - lv))

    def cyp(q: str) -> str:
        return "".join(f", {q}.{c}" for c in carry)

    cy = "".join(f", {c}" for c in carry)
    ctes = [
        f"""{p}r AS (
      SELECT max(x) AS r FROM generate_series(1, {branch}) t(x), kk
      WHERE {xprod} <= kk.k AND kk.k > {lo} AND kk.k <= {hi}
    )"""
    ]
    for lv in range(1, L):
        ctes.append(
            f"""{p}t{lv} AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS tv
      FROM embeddings, {p}r WHERE vec_id < {size(lv)}
    )"""
        )
    child = "c" if L == 2 else f"{p}t{L - 2}"
    ch_id = "centroid_id" if L == 2 else "id"
    ch_v = "cv" if L == 2 else "tv"
    ctes.append(
        f"""{p}m{L - 2} AS (
      SELECT cid, cvv, pid FROM (
        SELECT ch.{ch_id} AS cid, ch.{ch_v} AS cvv, pa.id AS pid,
               row_number() OVER (PARTITION BY ch.{ch_id} ORDER BY
                 {cos(f"ch.{ch_v}", "pa.tv")} DESC,
                 (pa.id = ch.{ch_id}) DESC,
                 pa.id) AS rn
        FROM {child} ch, {p}t{L - 1} pa
      ) WHERE rn = 1
    )"""
    )
    for lv in range(L - 3, -1, -1):
        src = "c" if lv == 0 else f"{p}t{lv}"
        s_id = "centroid_id" if lv == 0 else "id"
        s_v = "cv" if lv == 0 else "tv"
        ctes.append(
            f"""{p}m{lv}d{L - 1} AS (
      SELECT cid, cvv, cell FROM (
        SELECT ch.{s_id} AS cid, ch.{s_v} AS cvv, pa.id AS cell,
               row_number() OVER (PARTITION BY ch.{s_id} ORDER BY
                 {cos(f"ch.{s_v}", "pa.tv")} DESC,
                 pa.id) AS rn
        FROM {src} ch, {p}t{L - 1} pa
      ) WHERE rn <= {probe}
    )"""
        )
        for t in range(L - 2, lv + 1, -1):
            ctes.append(
                f"""{p}m{lv}d{t} AS (
      SELECT cid, cvv, cell FROM (
        SELECT d.cid, d.cvv, m.cid AS cell,
               row_number() OVER (PARTITION BY d.cid ORDER BY
                 {cos("d.cvv", "m.cvv")} DESC, m.cid) AS rn
        FROM {p}m{lv}d{t + 1} d JOIN {p}m{t} m ON m.pid = d.cell
      ) WHERE rn <= {probe}
    )"""
            )
        ctes.append(
            f"""{p}m{lv}c AS (
      SELECT d.cid, d.cvv, m.cid AS qid, m.cvv AS qvv
      FROM {p}m{lv}d{lv + 2} d JOIN {p}m{lv + 1} m ON m.pid = d.cell
      WHERE m.cid <> d.cid
      UNION ALL
      SELECT ch.{s_id}, ch.{s_v}, ch.{s_id}, ch.{s_v}
      FROM {src} ch, {p}r WHERE ch.{s_id} < {size(lv + 1)}
    )"""
        )
        ctes.append(
            f"""{p}m{lv} AS (
      SELECT cid, cvv, qid AS pid FROM (
        SELECT cid, cvv, qid, qvv,
               row_number() OVER (PARTITION BY cid ORDER BY
                 {cos("cvv", "qvv")} DESC,
                 (qid = cid) DESC,
                 qid) AS rn
        FROM {p}m{lv}c
      ) WHERE rn = 1
    )"""
        )
    ctes.append(
        f"""{p}v{L - 1} AS (
      SELECT vec_id{cy}, embedding, cell FROM (
        SELECT V.vec_id{cyp("V")}, V.embedding, t.id AS cell,
               row_number() OVER (PARTITION BY V.vec_id ORDER BY
                 {cos("V.embedding::DOUBLE[]", "t.tv")} DESC,
                 t.id) AS rn
        FROM {vt} V, {p}t{L - 1} t
      ) WHERE rn <= {probe}
    )"""
    )
    for t in range(L - 2, 0, -1):
        ctes.append(
            f"""{p}v{t} AS (
      SELECT vec_id{cy}, embedding, cell FROM (
        SELECT d.vec_id{cyp("d")}, d.embedding, m.cid AS cell,
               row_number() OVER (PARTITION BY d.vec_id ORDER BY
                 {cos("d.embedding::DOUBLE[]", "m.cvv")} DESC,
                 m.cid) AS rn
        FROM {p}v{t + 1} d JOIN {p}m{t} m ON m.pid = d.cell
      ) WHERE rn <= {probe}
    )"""
        )
    ctes.append(
        f"""{p}s AS (
      SELECT v.vec_id{cyp("v")}, v.embedding, m.cid AS centroid_id,
             {cos("v.embedding::DOUBLE[]", "m.cvv")} AS sim
      FROM {p}v1 v JOIN {p}m0 m ON m.pid = v.cell
    )"""
    )
    return ctes


def _asg_prefix_sql(
    vt: str,
    carry: tuple[str, ...],
    kk_body: str,
    pre_ctes: str = "",
    flat_k: int = 64,
    branch: int = 8,
    probe: int = 2,
    arms: tuple[int, ...] = (2, 3, 4),
) -> str:
    """The WITH-prefix shared by every hierarchical-assignment
    oracle: kk (scalar cell count), c (centroid prefix), the flat
    N×k arm (k <= ``flat_k`` — every driver SF), and one
    ``_asg_arm_ctes`` block per unrolled level count. Scored sources
    are ``scored_flat`` and ``a{L}s``; the caller appends its own
    outer rank arms. Band boundaries derive from ``branch`` B=8:
    L=2 for flat_k < k <= 80, L=3 to 728, L=4 to 6560 — the declared
    ``similarity.TIER_BRANCH`` chain. Past k=6560 the ENGINE recurses
    to L >= 5 with the identical construction; that regime is
    engine-only by declaration (k > 6560 means >1.6M vectors under
    the N/250 cell rule — beyond every oracle-checkable corpus
    through the sf30 rehearsals)."""
    cos = _cos_sql
    cyv = "".join(f", V.{c}" for c in carry)
    parts = [
        f"kk AS ({kk_body})",
        f"""c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < (SELECT k FROM kk)
    )""",
        f"""scored_flat AS (
      SELECT V.vec_id{cyv}, V.embedding, c.centroid_id,
             {cos("V.embedding::DOUBLE[]", "c.cv")} AS sim
      FROM {vt} V, c
      WHERE (SELECT k FROM kk) <= {flat_k}
    )""",
    ]
    for L in arms:
        parts.extend(_asg_arm_ctes(L, vt, carry, flat_k, branch, probe))
    return "\n    WITH " + pre_ctes + ",\n    ".join(parts)


def _knn_asg_sql(
    with_label: bool,
    cell_size: int = 250,
    flat_k: int = 64,
    branch: int = 8,
    n_assign: int = 4,
    probe: int = 2,
) -> str:
    """The assignment CTE prefix shared by both kNN-graph oracles,
    replaying ``knn_candidate_pairs``'s assignment regimes with
    scalar-k UNION-ALL arms so ONE oracle string stays hash-exact at
    every oracle-checkable scale factor: flat N×k argmax at k <= 64
    (every driver SF), then the L-level hierarchical descent
    (``similarity._tier_sizes`` at TIER_BRANCH=8) with unrolled arms
    for L = 2 (k <= 80), 3 (<= 728) and 4 (<= 6560) — the round-8
    O(N log N) construction. Literals 4 (n_assign), 2 (probe), 64
    (threshold), 8 (branch), 250 (cell size) mirror the
    ``_knn_pairs_cached`` call — regenerate together. Every arm's
    cross products are gated INSIDE the arm (via the band-gated root
    scalar), so inactive regimes empty a join side BEFORE the product
    (review r06)."""
    carry = ("label",) if with_label else ()
    lbl = ", label" if with_label else ""
    kk_body = (
        f"\n      SELECT greatest(8, (SELECT COUNT(*) // {cell_size}"
        " FROM embeddings)) AS k\n    "
    )
    prefix = _asg_prefix_sql(
        "embeddings", carry, kk_body, flat_k=flat_k, branch=branch,
        probe=probe,
    )
    arm_sqls = []
    for src in ("scored_flat", "a2s", "a3s", "a4s"):
        arm_sqls.append(
            f"""
      SELECT vec_id{lbl}, centroid_id FROM (
        SELECT vec_id{lbl}, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM {src}
      ) WHERE rn <= {n_assign}"""
        )
    return (
        prefix
        + ",\n    asg AS ("
        + "\n      UNION ALL".join(arm_sqls)
        + "\n    )"
    )


def _near_dup_cascade_oracle() -> str:
    """Declared-blocking oracle for the cascade: the duplicate-
    injected corpus collapses to one representative per DISTINCT
    vector (min id + multiplicity), representatives assign through
    the SHARED flat/L2/L3/L4 arm generator (vector source = the
    collapsed group table), pairs form within cells and verify at
    the exact cosine threshold. Literals 4 (n_assign), 250 (cell
    size over the DOUBLED count), 0.45 (threshold) mirror the
    catalog entry — regenerate together."""
    pre = """nn AS (SELECT COUNT(*) AS n FROM embeddings),
    d AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + nn.n, embedding FROM embeddings, nn
    ),
    g AS (
      SELECT MIN(vec_id) AS rid, COUNT(*) AS gs, embedding
      FROM d GROUP BY embedding
    ),
    grp AS (SELECT rid AS vec_id, embedding FROM g),
    """
    kk_body = "SELECT greatest(8, (2 * n) // 250) AS k FROM nn"
    prefix = _asg_prefix_sql("grp", (), kk_body, pre_ctes=pre)
    arms = []
    for src in ("scored_flat", "a2s", "a3s", "a4s"):
        arms.append(
            f"""
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM {src}
      ) WHERE rn <= 4"""
        )
    return (
        prefix
        + ",\n    asg AS ("
        + "\n      UNION ALL".join(arms)
        + f"""
    ),
    p AS (
      SELECT DISTINCT a.vec_id AS rep_a, b.vec_id AS rep_b
      FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    )
    SELECT p.rep_a, p.rep_b,
           CAST(ga.gs AS BIGINT) AS size_a,
           CAST(gb.gs AS BIGINT) AS size_b,
           CAST(ga.gs * gb.gs AS BIGINT) AS n_cross_pairs
    FROM p
    JOIN g ga ON ga.rid = p.rep_a
    JOIN g gb ON gb.rid = p.rep_b
    WHERE {_cos_sql("ga.embedding::DOUBLE[]", "gb.embedding::DOUBLE[]")}
          >= 0.45
    """
    )


@query(
    "emb_near_dup_cascade",
    oracle=_near_dup_cascade_oracle(),
)
def emb_near_dup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-then-near embedding dedup cascade
    (``similarity.near_dup_cascade``) on a duplicate-injected corpus
    (embeddings unioned with an id-offset copy, the emb_semdedup
    pattern — every vector has a bit-identical twin): collapse exact
    duplicates to min-id representatives with multiplicity, then the
    IVF-blocked near-dup verify over representatives only. The raw
    entry (``emb_cosine_near_dup``) would emit a cosine-1 pair per
    twin (N of them) plus 4x the natural near-dup pairs; the cascade
    emits exactly the DISTINCT-vector pair set with
    ``n_cross_pairs = size_a * size_b`` carrying the multiplicity —
    the viral-copy-immune production route (VERDICT r07 item 5; the
    sf10 image sweep measured the quadratic this kills).

    The FULL pipeline is declared and replayed: exact array-value
    grouping (oracle GROUP BY on the list), the scaled cell count
    ``max(8, 2N//250)`` with the shared flat/L2/L3/L4 assignment
    arms over the collapsed group table, within-cell pairing, exact
    cosine verify — hash-exact at every oracle-checkable scale, no
    recall caveat (round 8: the first cut used the fixed-8-cell
    blocking, whose ~N/8-sized cells go quadratic exactly like the
    raw entry at the fifth decade).

    Scale: one map-combinable aggregate on the vector key; cells of
    ~250 representatives keep the verify Σ|cell|² linear in DISTINCT
    vectors; assignment is the O(N log N) L-level descent; intra-
    group pairs never materialize at any duplication factor.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = _nvec(sf_dir, emb)
    copy = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"), "embedding"
    )
    doubled = emb.select("vec_id", "embedding").unionByName(copy)
    k = max(8, (2 * n) // 250)
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("integer").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )
    return S.near_dup_cascade(
        doubled, cents, threshold=0.45, n_assign=4, n_centroids=k
    )


@query(
    "emb_hamming_topk",
    oracle="""
    WITH codes AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i) ELSE 0 END
                            FOR i IN generate_series(0, 31)]) AS BIGINT)
               AS lo,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i - 32) ELSE 0 END
                            FOR i IN generate_series(32, 63)]) AS BIGINT)
               AS hi
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0)
    SELECT c.vec_id,
           CAST(bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi))
                AS INTEGER) AS hamming
    FROM codes c, q
    WHERE c.vec_id <> 0
    ORDER BY hamming, c.vec_id
    LIMIT 10
    """,
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch ANN: sign-quantize every vector to a 64-bit code
    (two 32-bit halves), rank by Hamming distance to vec 0's code.
    Sign quantization has NO float-rounding ambiguity, so unlike the
    cosine paths this sketch pipeline is EXACTLY oracle-checked end
    to end — codes, distances, and ranking. The query code folds into
    codegen as two literals (from the cached query vector)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return S.hamming_topk(emb, q, k=10, exclude_key=0)


@query(
    "emb_kmeans_quality",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           8 AS n_clusters,
           TRUE AS objective_improved
    FROM embeddings
    """,
)
def emb_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid TRAINING (spherical k-means, 2 Lloyd updates +
    final objective) as an iterative-algorithm catalog entry. The float centroids are
    engine-specific, so the oracle-checked statement is structural:
    every vector participates, k clusters come back, and the spherical
    objective (mean assignment cosine) did not degrade across
    iterations — Lloyd's monotonicity, which would break under any
    assignment/update bug."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, hist = S.kmeans_fit(emb, k=8, max_iter=3, track_history=False)
    n_vec = emb.count()
    n_cl = centroids.count()
    improved = bool(hist[-1] >= hist[0] - 1e-9)
    return spark.range(1).select(
        F.lit(n_vec).cast("bigint").alias("n_vectors"),
        F.lit(int(n_cl)).cast("int").alias("n_clusters"),
        F.lit(improved).alias("objective_improved"),
    )


@query(
    "emb_ivf_topk",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    probe AS (
      SELECT centroid_id FROM c, q
      ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC,
               centroid_id
      LIMIT 2
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e, c
      WHERE e.vec_id <> 0
    ),
    best AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT b.vec_id FROM best b JOIN probe p ON b.centroid_id = p.centroid_id
    )
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))) AS cosine_sim
    FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id, q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-10 (probe 2 of 8 centroid partitions).

    EXACTLY oracle-checked, like the knn-join: the seed centroids
    (vec_id < 8), the 1-NN assignment tie-breaks, and the 2-probe
    selection are all declared structure the oracle replays in SQL, so
    the ANN approximation lives in the blocking, never in unverifiable
    arithmetic. Recall vs the exact top-k is separately asserted in
    tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _centroids(emb)
    q = _query_vec(spark, sf_dir, 0)
    return S.ivf_topk_cosine(
        emb.filter(F.col("vec_id") != 0), q, k=10, n_probe_centroids=2, centroids=centroids
    )


@query(
    "emb_ivf_topk_fullprobe",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def emb_ivf_topk_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing ALL cells: must equal the exact brute-force
    top-k (same oracle as emb_topk_cosine) — turns the ANN machinery's
    correctness into an exact, oracle-checked statement; the 2-probe
    entry then only adds the recall/latency trade."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _centroids(emb)
    q = _query_vec(spark, sf_dir, 0)
    return S.ivf_topk_cosine(
        emb.filter(F.col("vec_id") != 0), q, k=10, n_probe_centroids=8, centroids=centroids
    )


@query(
    "emb_int8_quantization",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
    ),
    s AS (
      SELECT vec_id, x, list_max([abs(e) FOR e IN x]) AS scale FROM v
    ),
    q AS (
      SELECT vec_id, x, scale,
             CASE WHEN scale > 0
                  THEN [floor(e / scale * 127 + 0.5) FOR e IN x]
                  ELSE [0.0 FOR e IN x] END AS qs
      FROM s
    ),
    d AS (
      SELECT vec_id, scale, qs,
             [x[i] - qs[i] * scale / 127 FOR i IN generate_series(1, len(x))]
               AS diff,
             len(x) AS dim
      FROM q
    )
    SELECT vec_id, scale,
           CAST(list_max([abs(e) FOR e IN qs]) AS BIGINT) AS max_abs_q,
           list_reduce(list_prepend(0.0, [e * e FOR e IN diff]),
                       (a, b) -> a + b) AS sq_err,
           CAST(dim AS BIGINT) AS dim
    FROM d
    """,
)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column:
    per-vector max-abs scale, code = floor(x/scale·127 + 0.5), plus
    the exact reconstruction squared error — the 4× memory/bandwidth
    compression step in front of large-scale ANN (quantized codes
    ship through shuffles; floats stay in cold storage).

    Cross-engine exactness: every step is elementwise IEEE arithmetic
    written in the same association order in both engines, and the
    error sum is a SEQUENTIAL left fold over the array (array order
    is deterministic, unlike row order) — so even the accumulated
    double hash-matches bit-for-bit. Pure codegen projection: no
    shuffle, no UDF.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = S.as_double(F.col("embedding"))
    scale = F.array_max(F.transform(x, lambda e: F.abs(e)))
    zeros = F.transform(x, lambda e: F.lit(0.0))
    qs = F.when(
        scale > 0,
        F.transform(x, lambda e: F.floor(e / scale * 127 + F.lit(0.5))),
    ).otherwise(zeros.cast("array<bigint>"))
    diff = F.zip_with(x, qs, lambda a, b: a - b * scale / 127)
    sq_err = F.aggregate(
        F.transform(diff, lambda e: e * e), F.lit(0.0), lambda a, b: a + b
    )
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.array_max(F.transform(qs, lambda e: F.abs(e)))
        .cast("long")
        .alias("max_abs_q"),
        sq_err.alias("sq_err"),
        F.size(x).cast("long").alias("dim"),
    )


@query(
    "emb_knn_join",
    oracle=_knn_asg_sql(with_label=False)
    + """,
    cand AS (
      SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
      FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
    ),
    s AS (
      SELECT cand.vec_id, cand.neighbor_id,
             list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))
               AS cosine_sim
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.vec_id
      JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
    )
    SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine_sim
    FROM (
      SELECT vec_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph build (operator ``similarity.knn_join_blocked``):
    top-3 cosine neighbors per vector among vectors sharing one of its
    4 probed IVF cells (measured exact-top-1 recall 1.0 at this probe
    count at sf0.01, 0.71 at 2 probes — same recall/probes curve as
    ``emb_cosine_near_dup``). The oracle replays the identical declared
    blocking (same seed-centroid formula ``max(8, N//250)``, same probe
    count, same tie-breaks), so ranks and sims hash-match exactly — the
    ANN approximation is in the declared structure, never in the
    arithmetic. Cell count scales with N to keep the per-cell pair
    space bounded (see ``_centroids_scaled``).

    Ranks the SHARED scored-pair checkpoint (``_knn_pairs_cached``),
    which ``emb_hard_negatives`` also consumes — one pair-scoring pass
    serves both, bit-identically to each building its own.
    """
    # regime (broadcast vs cell-count SMJ) is auto-chosen inside the
    # shared pair build from the exact cached row count (see
    # knn_join_blocked docstring); catalog corpora land in the
    # broadcast regime, sf1+ flips to SMJ
    return S.knn_topk_from_pairs(_knn_pairs_cached(spark, sf_dir), k=3)


@query(
    "emb_rrf_fusion",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    cos_top AS (
      SELECT e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cosine_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY cosine_sim DESC, e.vec_id
      LIMIT 20
    ),
    cos_ranked AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM cos_top
    ),
    codes AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i) ELSE 0 END
                            FOR i IN generate_series(0, 31)]) AS BIGINT) AS lo,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i - 32) ELSE 0 END
                            FOR i IN generate_series(32, 63)]) AS BIGINT) AS hi
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
    ham_top AS (
      SELECT c.vec_id,
             CAST(bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi))
                  AS INTEGER) AS hamming
      FROM codes c, qc
      WHERE c.vec_id <> 0
      ORDER BY hamming, c.vec_id
      LIMIT 20
    ),
    ham_ranked AS (
      SELECT vec_id, row_number() OVER (ORDER BY hamming, vec_id) AS rank
      FROM ham_top
    ),
    u AS (
      SELECT * FROM cos_ranked UNION ALL SELECT * FROM ham_ranked
    )
    SELECT vec_id,
           SUM(1.0 / (60 + rank)) AS rrf_score,
           COUNT(*) AS n_lists
    FROM u GROUP BY 1
    ORDER BY rrf_score DESC, vec_id
    LIMIT 10
    """,
)
def emb_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the exact cosine
    top-20 and the binary-sketch Hamming top-20 (the standard
    dense+sketch hybrid combiner, rrf_k=60). Exactly oracle-checked:
    both input rankings are deterministic (cosine ties broken on
    vec_id; Hamming is integer), each RRF term is one exact IEEE
    division, and the ≤2-term sums commute.

    Scale: both rankers are single-scan TakeOrdered heaps; fusion
    touches ≤40 rows. The rank windows run on ≤20 rows each (single
    partition by construction, not a corpus-wide sort).
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    rest = emb.filter(F.col("vec_id") != 0)
    cos = S.topk_cosine(rest, q, k=20).select(
        "vec_id",
        F.row_number()
        .over(W.orderBy(F.desc("cosine_sim"), "vec_id"))
        .alias("rank"),
    )
    ham = S.hamming_topk(emb, q, k=20, exclude_key=0).select(
        "vec_id",
        F.row_number().over(W.orderBy("hamming", "vec_id")).alias("rank"),
    )
    return S.rrf_fuse([cos, ham], key_col="vec_id", rrf_k=60, k=10)


@query(
    "emb_pq_codes",
    oracle="""
    WITH s AS (SELECT unnest(generate_series(0, 7)) AS sub),
    cb AS (
      SELECT CAST(vec_id AS INT) AS code, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS cv
      FROM embeddings, s WHERE vec_id < 16
    ),
    v AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS vv
      FROM embeddings, s
    ),
    d AS (
      SELECT vec_id, sub, code,
             list_dot_product(vv, vv) - 2 * list_dot_product(vv, cv)
               + list_dot_product(cv, cv) AS dist
      FROM v JOIN cb USING (sub)
    ),
    best AS (SELECT vec_id, sub, MIN(dist) AS md FROM d GROUP BY 1, 2)
    SELECT d.vec_id, CAST(d.sub AS INT) AS subspace,
           MIN(d.code) AS code, b.md AS sub_err
    FROM d JOIN best b ON d.vec_id = b.vec_id AND d.sub = b.sub
                       AND d.dist = b.md
    GROUP BY d.vec_id, d.sub, b.md
    """,
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (north_star ANN compression): 64 float32
    dims → 8 sub-vector codes against a 16-entry seed codebook
    (vec_id < 16, the IVF centroid convention), with per-subspace
    quantization error. Hash-checked end to end — distances expand as
    dot(v,v) - 2·dot(v,c) + dot(c,c) with sequential folds in both
    engines, and ties take the lower code in both.

    Scale: one scan, zero pre-output shuffles; the 16×8 distance
    evaluations per row are literal-coefficient multiply-add chains
    in whole-stage codegen (see similarity.pq_codes).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_codes(
        emb,
        n_codes=16,
        n_subspaces=8,
        codebook_rows=_seed_vecs(spark, sf_dir, 16),
    )


@query(
    "emb_pq_adc_topk",
    oracle="""
    WITH s AS (SELECT unnest(generate_series(0, 7)) AS sub),
    cb AS (
      SELECT CAST(vec_id AS INT) AS code, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS cv
      FROM embeddings, s WHERE vec_id < 16
    ),
    v AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS vv
      FROM embeddings, s
    ),
    d AS (
      SELECT vec_id, sub, code,
             list_dot_product(vv, vv) - 2 * list_dot_product(vv, cv)
               + list_dot_product(cv, cv) AS dist
      FROM v JOIN cb USING (sub)
    ),
    best AS (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, code) AS rn
      FROM d
    ),
    q AS (
      SELECT sub, (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS qv
      FROM embeddings, s WHERE vec_id = 0
    ),
    dtab AS (
      SELECT cb.sub, cb.code,
             list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, cb.cv)
               + list_dot_product(cb.cv, cb.cv) AS qd
      FROM cb JOIN q USING (sub)
    ),
    adc AS (
      SELECT b.vec_id,
             list_sum(list(dt.qd ORDER BY b.sub)) AS adc_dist
      FROM best b JOIN dtab dt ON b.sub = dt.sub AND b.code = dt.code
      WHERE b.rn = 1
      GROUP BY b.vec_id
    )
    SELECT vec_id, adc_dist FROM adc
    WHERE vec_id <> 0
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """,
)
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieval via asymmetric distance computation (the other
    half of IVF-PQ): the query stays exact, each corpus vector is
    represented only by its 8 codes, and estimated distance is the
    sum of precomputed query↔codebook sub-distances — a 16×8 lookup
    table replaces all vector math at query time. Top-10 by estimated
    distance, ties to the lower vec_id.

    Determinism: the 8 sub-distances are summed in subspace order in
    both engines (Spark: pivoted left-assoc chain; DuckDB: list_sum
    over an ORDER BY sub list), so the doubles compare exactly.

    Scale: the scan reads CODES only (8 small ints per vector — the
    32× compression is what makes exhaustive ADC viable); per row the
    work is 8 array-literal lookups + 7 adds, all codegen. TakeOrdered
    heap, no shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _adc_scores(spark, sf_dir, emb)
        .filter(F.col("vec_id") != 0)
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def _adc_scores(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, adc_dist) for every vector: PQ-code lookup against the
    driver-side query↔codebook sub-distance table (16 codebook rows —
    a bounded seed collect, same adjudication as the k-means seeds),
    summed in subspace order so the doubles compare exactly across
    engines. Shared by the exhaustive-ADC and IVF-PQ entries;
    ``restrict`` (a vec_id candidate list) semi-joins the CODE table
    before the lookup so pruning happens at the scan side, not after
    scoring — the IVFPQ read order."""
    cb_rows = _seed_vecs(spark, sf_dir, 16)
    pq = S.pq_codes(
        emb, n_codes=16, n_subspaces=8, codebook_rows=cb_rows
    )
    if restrict is not None:
        pq = pq.join(restrict, "vec_id", "left_semi")
    q = _query_vec(spark, sf_dir, 0)
    dsub = len(q) // 8

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    # dtab[s][code]: exact query-to-codebook sub-distances, folded
    # driver-side in the same op order as the engines
    dtab = []
    for sct in range(8):
        qs = [float(x) for x in q[sct * dsub : (sct + 1) * dsub]]
        row = []
        for r in cb_rows:
            cs = [float(x) for x in r[1][sct * dsub : (sct + 1) * dsub]]
            row.append(fold_dot(qs, qs) - 2 * fold_dot(qs, cs) + fold_dot(cs, cs))
        dtab.append(row)

    # ONE parsed string for the 128-entry literal lookup array (the
    # aa95161 py4j-chatter rule); 'D' forces DOUBLE literals and
    # repr() round-trips doubles exactly
    flat = ", ".join(repr(float(v)) + "D" for s in dtab for v in s)
    lut = pq.select(
        "vec_id",
        "subspace",
        F.expr(
            f"element_at(array({flat}), "
            "cast(subspace * 16 + code + 1 as int))"
        ).alias("_qd"),
    )
    pivoted = lut.groupBy("vec_id").pivot("subspace", list(range(8))).agg(
        F.first("_qd")
    )
    adc: F.Column = F.lit(0.0)
    for sct in range(8):
        adc = adc + F.col(f"{sct}")
    return pivoted.select("vec_id", adc.alias("adc_dist"))


# Shared IVFPQ oracle derivation (the JACCARD_PAIR_CTES pattern):
# probe/assignment/codebook/ADC spec lives ONCE so the index entry and
# its recall self-eval can never silently measure different indexes.
# Ends at `ivfpq` = the top-10 (vec_id, adc_dist) of the composed index.
_IVFPQ_CTES = """s AS (SELECT unnest(generate_series(0, 7)) AS sub),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    probe AS (
      SELECT centroid_id FROM c, q
      ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC,
               centroid_id
      LIMIT 2
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e, c
      WHERE e.vec_id <> 0
    ),
    best_cell AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT b.vec_id FROM best_cell b
      JOIN probe p ON b.centroid_id = p.centroid_id
    ),
    cb AS (
      SELECT CAST(vec_id AS INT) AS code, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS cv
      FROM embeddings, s WHERE vec_id < 16
    ),
    v AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS vv
      FROM embeddings, s
    ),
    d AS (
      SELECT vec_id, sub, code,
             list_dot_product(vv, vv) - 2 * list_dot_product(vv, cv)
               + list_dot_product(cv, cv) AS dist
      FROM v JOIN cb USING (sub)
    ),
    best AS (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, code) AS rn
      FROM d
    ),
    qsub AS (
      SELECT sub, (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS qv
      FROM embeddings, s WHERE vec_id = 0
    ),
    dtab AS (
      SELECT cb.sub, cb.code,
             list_dot_product(qsub.qv, qsub.qv)
               - 2 * list_dot_product(qsub.qv, cb.cv)
               + list_dot_product(cb.cv, cb.cv) AS qd
      FROM cb JOIN qsub USING (sub)
    ),
    ivfpq AS (
      SELECT b.vec_id,
             list_sum(list(dt.qd ORDER BY b.sub)) AS adc_dist
      FROM best b JOIN dtab dt ON b.sub = dt.sub AND b.code = dt.code
      WHERE b.rn = 1 AND b.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY b.vec_id
      ORDER BY adc_dist, b.vec_id
      LIMIT 10
    )"""


@query(
    "emb_ivfpq_adc_topk",
    oracle="WITH " + _IVFPQ_CTES + "\n    SELECT vec_id, adc_dist FROM ivfpq",
)
def emb_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 — the production-standard ANN index (FAISS
    ``IVFPQ``), composed from the two halves this catalog already
    oracles separately: the IVF stage prunes the corpus to the
    query's 2 probed cells (declared 1-NN assignment to the 8 seed
    centroids, replayed in SQL), and the PQ-ADC stage scores ONLY the
    surviving candidates from their 8 codes via the query↔codebook
    lookup table. Both approximations live in declared, replayable
    structure — cell choice and code choice — never in arithmetic.

    Scale: this is the 100 TB ANN architecture — the scan prunes to
    n_probe/k of the corpus by PARTITION (vectors stored partitioned
    by centroid_id), then reads 8 bytes of codes per candidate
    instead of 256 bytes of floats; the candidate semi-join is a
    broadcast of the 2-row probe table, and the final top-10 is a
    TakeOrdered heap. Neither floats nor candidates ever shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _centroids(emb)
    q = _query_vec(spark, sf_dir, 0)
    rest = emb.filter(F.col("vec_id") != 0)
    assigned = S.centroid_assign(
        rest.select("vec_id", "embedding"), centroids, dim=len(q)
    )
    probe = (
        centroids.select(
            "centroid_id", S.as_double(F.col("cv")).alias("_cv")
        )
        .select(
            "centroid_id", S.cosine_to_query("_cv", q).alias("qsim")
        )
        .orderBy(F.desc("qsim"), F.asc("centroid_id"))
        .limit(2)
        .select("centroid_id")
    )
    cand = assigned.select("vec_id", "centroid_id").join(
        F.broadcast(probe), "centroid_id", "left_semi"
    )
    return (
        _adc_scores(spark, sf_dir, emb, restrict=cand.select("vec_id"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def _semdedup_oracle_sql(threshold: float = 0.45, cell_size: int = 250) -> str:
    """SemDeDup oracle on the duplicate-injected (doubled) corpus:
    the shared ``_asg_prefix_sql`` arms over vector source ``d``
    (top-1 keep per vector), then the within-cluster dominance drop
    rule. Threshold / cell-size literals mirror the catalog entry —
    regenerate together."""
    pre = """nn AS (SELECT COUNT(*) AS n FROM embeddings),
    d AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + nn.n, embedding FROM embeddings, nn
    ),
    """
    kk_body = f"SELECT greatest(8, (2 * n) // {cell_size}) AS k FROM nn"
    prefix = _asg_prefix_sql("d", (), kk_body, pre_ctes=pre)
    arms = []
    for src in ("scored_flat", "a2s", "a3s", "a4s"):
        arms.append(
            f"""
      SELECT CAST(centroid_id AS INT) AS centroid_id, vec_id,
             embedding::DOUBLE[] AS v
      FROM (
        SELECT vec_id, embedding, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM {src}
      ) WHERE rn = 1"""
        )
    return (
        prefix
        + ",\n    m AS ("
        + "\n      UNION ALL".join(arms)
        + f"""
    ),
    drp AS (
      SELECT DISTINCT a.centroid_id, b.vec_id AS dropped
      FROM m a JOIN m b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.v", "b.v")} >= {threshold}
    ),
    mem AS (SELECT centroid_id, COUNT(*) AS n_members FROM m GROUP BY 1),
    dr AS (SELECT centroid_id, COUNT(*) AS n_dropped FROM drp GROUP BY 1)
    SELECT mem.centroid_id, mem.n_members,
           COALESCE(dr.n_dropped, 0) AS n_dropped,
           mem.n_members - COALESCE(dr.n_dropped, 0) AS n_kept
    FROM mem LEFT JOIN dr USING (centroid_id)
    """
    )


@query(
    "emb_semdedup",
    oracle=_semdedup_oracle_sql(),
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on a duplicate-injected corpus (embeddings unioned
    with an id-offset copy of itself, the docs_exact_dedup pattern —
    every vector has an exact semantic duplicate, plus whatever
    natural near-dups clear the 0.45 near-dup threshold shared with
    ``emb_cosine_near_dup``): cluster via 1-NN seed-centroid
    assignment, drop within-cluster later-keyed members with cosine >=
    threshold, report per-cluster members/dropped/kept.

    The full blocking (scaled centroid count ``max(8, 2N//250)``,
    assignment tie-breaks, keep-smallest-key rule) is declared and
    replayed by the oracle — hash-exact, like emb_knn_join.

    Scale: pair space is per-cell (|cell|^2 with ~250-member cells),
    pair cosine on the flat-column codegen kernel; only (cluster, key)
    pairs shuffle. Cross-cluster duplicates surviving is the
    documented SemDeDup approximation.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = _nvec(sf_dir, emb)
    copy = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"), "embedding", "label"
    )
    doubled = emb.unionByName(copy)
    k = max(8, (2 * n) // 250)
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("integer").alias("centroid_id"),
        F.col("embedding").alias("cv"),
    )
    dim = len(_query_vec(spark, sf_dir, 0))
    # declares k so assignment goes L-level hierarchical past 64
    # cells (O(N log N) probe-descent, round 8 — the sf10 rehearsal
    # measured the two-level regime at exactly its declared Θ(N^1.5),
    # and sf3 had measured the flat regime quadratic before that);
    # driver SFs (k = 8) stay on the unchanged flat path
    return S.semdedup_stats(
        doubled, cents, threshold=0.45, dim=dim, n_centroids=k
    )


@query(
    "emb_ivf_recall",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    exact AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    probe AS (
      SELECT centroid_id FROM c, q
      ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC,
               centroid_id
      LIMIT 2
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e, c
      WHERE e.vec_id <> 0
    ),
    best AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT e.vec_id
      FROM embeddings e
      JOIN best b ON e.vec_id = b.vec_id
      JOIN probe p ON b.centroid_id = p.centroid_id, q
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    )
    SELECT 10 AS k,
           (SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS n_overlap,
           CAST((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS DOUBLE)
             / 10 AS recall
    """,
)
def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 2-probe IVF search against the exact
    brute-force top-10 — the ANN quality metric itself as a catalog
    entry (the docs_simhash_quality pattern for vectors): both result
    id-sets are deterministic (declared blocking + unique tie-breaks),
    so the overlap count is hash-exact, not a statistical bound.

    Scale: both sides are top-k scans (per-partition heaps); the
    overlap join is 10x10 rows on the driver-side-free path.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    exact = S.topk_cosine(body, q, k=10).select("vec_id")
    ivf = S.ivf_topk_cosine(
        body, q, k=10, n_probe_centroids=2, centroids=_centroids(emb)
    ).select("vec_id")
    return exact.join(ivf, "vec_id").agg(
        F.lit(10).cast("integer").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


@query(
    "emb_matryoshka_recall",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv,
             (embedding::DOUBLE[])[1:16] AS qt
      FROM embeddings WHERE vec_id = 0
    ),
    full_top AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    ),
    trunc_top AS (
      SELECT e.vec_id
      FROM (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS et
            FROM embeddings) e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.et, q.qt)
                 / (sqrt(list_dot_product(e.et, e.et))
                    * sqrt(list_dot_product(q.qt, q.qt))) DESC,
               e.vec_id
      LIMIT 10
    )
    SELECT 10 AS k, 64 AS dim_full, 16 AS dim_trunc,
           (SELECT COUNT(*) FROM full_top JOIN trunc_top USING (vec_id))
             AS n_overlap,
           CAST((SELECT COUNT(*) FROM full_top JOIN trunc_top USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval quality (Kusupati et al. 2022):
    top-10 by cosine over the FIRST 16 of 64 dimensions vs the
    full-dimension top-10 — the coarse-to-fine trade a
    truncation-based first-pass retriever makes, measured exactly
    (both id-sets deterministic, hash-checked overlap).

    Scale: truncation is a narrow projection (F.slice) that cuts scan
    and compute 4x for the coarse pass; both passes remain
    shuffle-free top-k heaps.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    full_top = S.topk_cosine(body, q, k=10).select("vec_id")
    trunc = body.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    trunc_top = S.topk_cosine(trunc, q[:16], k=10).select("vec_id")
    return full_top.join(trunc_top, "vec_id").agg(
        F.lit(10).cast("integer").alias("k"),
        F.lit(64).cast("integer").alias("dim_full"),
        F.lit(16).cast("integer").alias("dim_trunc"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


@query(
    "emb_hard_negatives",
    oracle=_knn_asg_sql(with_label=True)
    + """,
    cand AS (
      SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
      FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
       AND a.label <> b.label
    ),
    s AS (
      SELECT cand.vec_id, cand.neighbor_id,
             list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))
               AS cosine_sim
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.vec_id
      JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
    )
    SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine_sim
    FROM (
      SELECT vec_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= 3
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch /
    ANCE-style negatives a retrieval trainer pairs with each anchor):
    each vector's top-3 most-similar neighbors that carry a DIFFERENT
    label, among vectors sharing one of its 4 probed IVF cells — the
    ``knn_join_blocked`` kernel with the cross-label predicate applied
    BEFORE the top-k rank, so every anchor gets its k hardest
    available negatives, not whatever survives a post-filter of an
    unlabeled top-k.

    Exactly oracle-checked like emb_knn_join: same declared blocking,
    same tie-breaks, plus the label-disagreement predicate replayed in
    SQL.

    Ranks the SHARED scored-pair checkpoint (``_knn_pairs_cached``,
    labels carried): the label filter commutes with pair scoring and
    the distinct, so the result is bit-identical to pushing the
    predicate into its own pair join — at zero marginal scoring cost
    next to ``emb_knn_join``.

    Scale: identical to the kNN join (pair space = per-cell, flat
    codegen cosine); the labels add two small columns through the
    shared list.
    """
    return S.knn_topk_from_pairs(
        _knn_pairs_cached(spark, sf_dir), k=3, cross_label_only=True
    )


@query(
    "emb_mmr_rerank_exact",
    oracle="""
    WITH RECURSIVE
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN (0, 1)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS rel_score,
             e.embedding::DOUBLE[] AS ev
      FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, rel_score, ev FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel_score DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 16
    ),
    sims AS (
      SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
             list_dot_product(a.ev, b.ev)
               / (sqrt(list_dot_product(a.ev, a.ev))
                  * sqrt(list_dot_product(b.ev, b.ev))) AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    pick(query_id, vec_id, rel_score, mmr_rank, mmr_score, sel) AS (
      SELECT query_id, vec_id, rel_score, 1::BIGINT, sc, [vec_id] FROM (
        SELECT query_id, vec_id, rel_score,
               0.5 * rel_score - 0.5 * 0.0 AS sc,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY 0.5 * rel_score - 0.5 * 0.0 DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn = 1
      UNION ALL
      SELECT w.query_id, ch.vec_id, ch.rel_score, w.mmr_rank + 1, ch.sc,
             list_append(w.sel, ch.vec_id)
      FROM pick w, LATERAL (
        SELECT c.vec_id, c.rel_score,
               0.5 * c.rel_score - 0.5 * greatest(
                 (SELECT max(s.sim) FROM sims s
                  WHERE s.query_id = c.query_id AND s.i = c.vec_id
                    AND list_contains(w.sel, s.j)), 0.0) AS sc
        FROM cand c
        WHERE c.query_id = w.query_id
          AND NOT list_contains(w.sel, c.vec_id)
        ORDER BY sc DESC, c.vec_id
        LIMIT 1
      ) ch
      WHERE w.mmr_rank < 5
    )
    SELECT query_id, vec_id, rel_score, mmr_rank, mmr_score FROM pick
    """,
)
def emb_mmr_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 for two retrieval queries (vec_id 0 and
    1 as query vectors): brute-force top-16 candidates by cosine,
    then the Carbonell–Goldstein greedy (λ=0.5) reranks each list so
    near-duplicate hits can't monopolize the final k — the
    post-retrieval complement of SemDeDup's corpus-side dedup.

    Cross-engine exactness (why this uses ``mmr_rerank_scored``, not
    the numpy-matmul ``mmr_rerank``): every float the greedy compares
    — relevance AND candidate-pair cosines — is computed JVM-side by
    the sequential fold that bit-matches DuckDB's
    ``list_dot_product``, and the oracle replays the selection as a
    recursive CTE over the same scored pairs with the same
    ``0.5·rel − 0.5·greatest(max_sim, 0)`` arithmetic and
    (score DESC, vec_id) tie order — so the greedy's k rounds pick
    identical rows in both engines, bit-for-bit.

    Scale: candidate retrieval is the two-phase WindowGroupLimit
    top-N per query; the pair join is candidates×co-candidates within
    a query (N² ≤ 256 rows per query, never corpus-sized); the greedy
    is Arrow-batched per query group with zero vector math in Python.
    Millions of queries parallelize on the query axis.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"),
        S.as_double(F.col("embedding")).alias("qv"),
    )
    scored = emb.join(
        F.broadcast(qdf), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        S.cosine(S.as_double(F.col("embedding")), F.col("qv")).alias(
            "rel_score"
        ),
        S.as_double(F.col("embedding")).alias("ev"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("rel_score"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 16)
        .drop("rn")
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
        "left",
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.rel_score").alias("rel_score"),
        F.col("b.vec_id").alias("neighbor_id"),
        S.cosine(F.col("a.ev"), F.col("b.ev")).alias("pair_sim"),
    )
    return S.mmr_rerank_scored(pairs, k=5, lam=0.5)


@query(
    "emb_centroid_classify",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    d AS (
      SELECT vec_id, label, i,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, dims
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS c
      FROM d GROUP BY 1, 2
    ),
    cc AS (
      SELECT clabel,
             CAST(SUM(CAST(ROUND(c * c, 9) AS DECIMAL(28,9))) AS DOUBLE)
               AS cc FROM cent GROUP BY 1
    ),
    vv AS (
      SELECT vec_id,
             CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
               AS vv FROM d GROUP BY 1
    ),
    dots AS (
      SELECT d.vec_id, cent.clabel,
             CAST(SUM(CAST(ROUND(d.x * cent.c, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS dot
      FROM d JOIN cent ON d.i = cent.i
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT vec_id, clabel FROM (
        SELECT dots.vec_id, dots.clabel,
               row_number() OVER (
                 PARTITION BY dots.vec_id
                 ORDER BY dots.dot / (sqrt(vv.vv) * sqrt(cc.cc)) DESC,
                          dots.clabel) AS rn
        FROM dots JOIN vv USING (vec_id) JOIN cc USING (clabel)
      ) WHERE rn = 1
    )
    SELECT e.label,
           COUNT(*) AS n,
           CAST(COALESCE(SUM(CASE WHEN p.clabel = e.label THEN 1 END), 0)
                AS BIGINT) AS n_correct,
           CAST(COALESCE(SUM(CASE WHEN p.clabel = e.label THEN 1 END), 0)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM embeddings e JOIN pred p USING (vec_id)
    GROUP BY e.label
    """,
)
def emb_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid classification (the Rocchio / prototype
    classifier — the standard embedding-quality eval that asks "do the
    labels form cosine-separable clusters?"): per-label mean vectors,
    each vector assigned to its most-cosine-similar class prototype,
    per-label accuracy reported.

    Cross-engine determinism for the means (the reason this entry can
    be hash-exact while emb_kmeans_quality's means are structural):
    per-dim class sums quantize each element to DECIMAL(18,6), the dot
    and norm terms quantize each product to DECIMAL(28,9), and all
    sums are order-free decimal — every double the argmax compares is
    bit-identical in both engines, and ties break toward the lower
    label.

    Scale: the explode collapses in map-side partial aggregates (the
    mean_vectors shuffle carries |labels|*dim values); the whole
    classifier then ships as a SINGLE-ROW broadcast model
    ``array<struct<clabel, carr, cc>>`` (the kmeans_fit r11 pattern)
    and every vector argmaxes locally — no per-dim scoring join, no
    N×k dot-partial shuffle, no per-vector window; the only
    data-scale exchanges left are the centroid-build aggregate and
    the final per-label rollup.

    Determinism is unchanged: the dot/norm terms are the same
    per-term DECIMAL(28,9) quantization summed exactly (decimal
    addition is associative, so the unrolled chain equals the old
    hash-aggregate sum bit-for-bit), and the argmax comparator
    ``array_max(struct(sim, -clabel))`` reproduces the window's
    (sim DESC, clabel ASC) tie-break.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir, 0))
    d = emb.select(
        "vec_id", "label", F.posexplode(S.as_double(F.col("embedding"))).alias("i", "x")
    )
    cent = d.groupBy(F.col("label").alias("clabel"), "i").agg(
        (
            F.sum(F.round("x", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    model = (
        cent.groupBy("clabel")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "c"))).alias("_sc"),
            F.sum(F.round(F.col("c") * F.col("c"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("cc"),
        )
        .select(
            "clabel", F.expr("transform(_sc, s -> s.c)").alias("carr"), "cc"
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("clabel", "carr", "cc"))
            ).alias("model")
        )
    )
    # one parsed string per kernel (the aa95161 py4j-chatter rule)
    vv_terms = " + ".join(
        f"CAST(ROUND(element_at(_v,{j}) * element_at(_v,{j}), 9)"
        " AS DECIMAL(28,9))"
        for j in range(1, dim + 1)
    )
    dot_terms = " + ".join(
        f"CAST(ROUND(element_at(_v,{j}) * element_at(m.carr,{j}), 9)"
        " AS DECIMAL(28,9))"
        for j in range(1, dim + 1)
    )
    best_sql = (
        "array_max(transform(model, m -> struct("
        f"CAST(({dot_terms}) AS DOUBLE) / (SQRT(_vv) * SQRT(m.cc)) AS sim, "
        "-m.clabel AS neg)))"
    )
    return (
        emb.select(
            "label", S.as_double(F.col("embedding")).alias("_v")
        )
        .withColumn("_vv", F.expr(f"CAST(({vv_terms}) AS DOUBLE)"))
        .crossJoin(F.broadcast(model))
        .withColumn("_best", F.expr(best_sql))
        .select("label", (-F.col("_best.neg")).alias("clabel"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("clabel") == F.col("label"), 1)), F.lit(0)
            ).alias("n_correct"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("clabel") == F.col("label"), 1)),
                    F.lit(0),
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("accuracy"),
        )
    )


@query(
    "emb_pq_recall",
    oracle="""
    WITH s AS (SELECT unnest(generate_series(0, 7)) AS sub),
    cb AS (
      SELECT CAST(vec_id AS INT) AS code, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS cv
      FROM embeddings, s WHERE vec_id < 16
    ),
    v AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS vv
      FROM embeddings, s
    ),
    d AS (
      SELECT vec_id, sub, code,
             list_dot_product(vv, vv) - 2 * list_dot_product(vv, cv)
               + list_dot_product(cv, cv) AS dist
      FROM v JOIN cb USING (sub)
    ),
    best AS (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, code) AS rn
      FROM d
    ),
    q AS (
      SELECT sub, (embedding::DOUBLE[])[8*sub + 1 : 8*sub + 8] AS qv
      FROM embeddings, s WHERE vec_id = 0
    ),
    dtab AS (
      SELECT cb.sub, cb.code,
             list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, cb.cv)
               + list_dot_product(cb.cv, cb.cv) AS qd
      FROM cb JOIN q USING (sub)
    ),
    adc AS (
      SELECT b.vec_id
      FROM best b JOIN dtab dt ON b.sub = dt.sub AND b.code = dt.code
      WHERE b.rn = 1
      GROUP BY b.vec_id
      HAVING b.vec_id <> 0
      ORDER BY list_sum(list(dt.qd ORDER BY b.sub)), b.vec_id
      LIMIT 10
    ),
    fq AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    exact AS (
      SELECT e.vec_id
      FROM embeddings e, fq
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
               - 2 * list_dot_product(e.embedding::DOUBLE[], fq.qv)
               + list_dot_product(fq.qv, fq.qv),
               e.vec_id
      LIMIT 10
    )
    SELECT 10 AS k,
           (SELECT COUNT(*) FROM adc JOIN exact USING (vec_id)) AS n_overlap,
           CAST((SELECT COUNT(*) FROM adc JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
)
def emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieval quality: recall@10 of the ADC code-only search
    against the exact L2 top-10 (same metric on both sides —
    completing the self-eval family next to emb_ivf_recall and
    emb_matryoshka_recall): how much ranking fidelity does the 32x
    compression keep? Both id-sets deterministic, overlap hash-exact.

    Scale: the ADC side reads codes only; the exact side is one
    shuffle-free top-k heap scan — the eval costs no more than the
    two searches it compares.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    from .catalog import QUERIES as _Q

    adc = _Q["emb_pq_adc_topk"](spark, sf_dir).select("vec_id")
    qcol = F.array(*[F.lit(float(x)) for x in q])
    vd = S.as_double(F.col("embedding"))
    l2 = (
        S.dot(vd, vd)
        - F.lit(2.0) * S.dot(vd, qcol)
        + F.lit(S_dot_py(q))
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", l2.alias("_d"))
        .orderBy("_d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact.join(adc, "vec_id").agg(
        F.lit(10).cast("integer").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


@query(
    "emb_ivfpq_recall",
    oracle="WITH " + _IVFPQ_CTES + """,
    exact AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
               - 2 * list_dot_product(e.embedding::DOUBLE[], q.qv)
               + list_dot_product(q.qv, q.qv),
               e.vec_id
      LIMIT 10
    )
    SELECT 10 AS k,
           (SELECT COUNT(*) FROM ivfpq JOIN exact USING (vec_id))
             AS n_overlap,
           CAST((SELECT COUNT(*) FROM ivfpq JOIN exact USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
)
def emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval quality: recall@10 of the composed index
    (2/8-cell pruning + code-only ADC) against the exact L2 top-10 —
    completing the self-eval family (ivf / matryoshka / pq / ivfpq),
    so the compounding of the TWO approximations is itself a
    hash-checked number.

    Scale: the eval costs its two searches — the IVFPQ side reads
    codes of 2 cells, the exact side is one shuffle-free heap scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    from .catalog import QUERIES as _Q

    ivfpq = _Q["emb_ivfpq_adc_topk"](spark, sf_dir).select("vec_id")
    qcol = F.array(*[F.lit(float(x)) for x in q])
    vd = S.as_double(F.col("embedding"))
    l2 = (
        S.dot(vd, vd)
        - F.lit(2.0) * S.dot(vd, qcol)
        + F.lit(S_dot_py(q))
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", l2.alias("_d"))
        .orderBy("_d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact.join(ivfpq, "vec_id").agg(
        F.lit(10).cast("integer").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


def S_dot_py(q: list[float]) -> float:
    """Driver-side left fold of dot(q, q) — same op order as the
    engines' sequential folds, so the scalar literal is bit-identical
    to what either engine would compute."""
    acc = 0.0
    for x in q:
        acc = acc + float(x) * float(x)
    return acc


@query(
    "emb_pair_sim_hist",
    oracle="""
    WITH s(stride) AS (VALUES (1), (17), (101)),
    p AS (
      SELECT s.stride,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
               AS cos
      FROM embeddings a
      JOIN s ON TRUE
      JOIN embeddings b ON b.vec_id = a.vec_id + s.stride
    )
    SELECT stride,
           CAST(LEAST(GREATEST(floor(cos * 10), -10), 9) AS BIGINT) AS sim_bin,
           COUNT(*) AS n_pairs
    FROM p GROUP BY stride, sim_bin
    """,
)
def emb_pair_sim_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-similarity distribution diagnostic: cosine similarity
    over a DETERMINISTIC strided pair sample (vec_id, vec_id+stride
    for strides 1/17/101), bucketed into 0.1-wide bins. The
    embedding-space health check (isotropy / collapse detection) run
    before spending a cluster on semantic dedup — a collapsed encoder
    shows mass piling into the top bins, a healthy one a spread around
    the near-orthogonal bins.

    The strided sample replaces both the quadratic all-pairs scan and
    a cross-engine RNG (which could never hash-match): 3N pairs,
    reproducible anywhere, and stride-stratified so neighboring-id
    batch artifacts (stride 1) can be compared against far pairs
    (stride 101).

    Scale: an equi-join on an integer key (shuffle carries id+vector,
    3 rows per vector), the unrolled codegen dot kernel, then a
    ~60-group rollup — map-side combinable. No cartesian anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir, 0))
    a = emb.select(
        F.col("vec_id").alias("aid"), S.as_double(F.col("embedding")).alias("av")
    )
    b = emb.select(
        F.col("vec_id").alias("bid"), S.as_double(F.col("embedding")).alias("bv")
    )
    strides = spark.range(0, 1).select(
        F.explode(F.array(F.lit(1), F.lit(17), F.lit(101))).alias("stride")
    )
    pairs = (
        a.join(F.broadcast(strides))
        .join(b, F.col("bid") == F.col("aid") + F.col("stride"))
    )
    # one parsed expression — three Column-built 64-term chains cost
    # ~1.2 s of py4j plan-build latency per rep (S.dot_sql rationale)
    cos = F.expr(
        f"({S.dot_sql('av', 'bv', dim)})"
        f" / (sqrt({S.dot_sql('av', 'av', dim)})"
        f" * sqrt({S.dot_sql('bv', 'bv', dim)}))"
    )
    p = pairs.select("stride", cos.alias("cos"))
    sim_bin = (
        F.least(F.greatest(F.floor(F.col("cos") * 10), F.lit(-10)), F.lit(9))
        .cast("long")
        .alias("sim_bin")
    )
    return p.select("stride", sim_bin).groupBy("stride", "sim_bin").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "emb_ndcg",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    body AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS sim
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    exact AS (
      SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r
      FROM (SELECT vec_id, sim FROM body ORDER BY sim DESC, vec_id LIMIT 10)
    ),
    ideal AS (SELECT vec_id, CAST(11 - r AS DOUBLE) AS gain, r FROM exact),
    c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    probe AS (
      SELECT centroid_id FROM c, q
      ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC, centroid_id
      LIMIT 2
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT b.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY
                 list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.centroid_id) AS rn
        FROM body b, c
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM (
        SELECT body.vec_id, body.sim
        FROM body JOIN assign USING (vec_id) JOIN probe USING (centroid_id)
        ORDER BY sim DESC, vec_id LIMIT 10
      )
    ),
    dcg AS (
      SELECT CAST(COALESCE(SUM(CAST(ROUND(COALESCE(i.gain, 0e0)
                                          / log2(ivf.rank + 1), 6)
                                    AS DECIMAL(18,6))), 0) AS DOUBLE) AS dcg
      FROM ivf LEFT JOIN ideal i USING (vec_id)
    ),
    idcg AS (
      SELECT CAST(SUM(CAST(ROUND(gain / log2(r + 1), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) AS idcg
      FROM ideal
    )
    SELECT CAST(0 AS BIGINT) AS query_id, dcg.dcg, idcg.idcg,
           CASE WHEN idcg.idcg > 0 THEN dcg.dcg / idcg.idcg END AS ndcg
    FROM dcg, idcg
    """,
)
def emb_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the 2-probe IVF retriever against graded judgments
    derived from the exact brute-force ranking (gain = 11 − exact
    rank; ``similarity.ndcg_at_k`` on its quantized path) — the
    graded companion of emb_ivf_recall: near-misses score partial
    credit instead of the recall entries' hit-or-miss overlap.
    quantize=6 rounds each gain/log2(rank+1) term and sums in
    DECIMAL, so both engines' DCG/IDCG — and the final division —
    are bit-identical (LOG2's last ulp surviving the round is the
    LN-precedent gamble).

    Scale: both rankings are top-k scans; the scoring joins touch
    ≤ k rows per query.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    w = W.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    results = (
        S.ivf_topk_cosine(
            body, qv, k=10, n_probe_centroids=2, centroids=_centroids(emb)
        )
        .withColumn("rank", F.row_number().over(w))
        .select(F.lit(0).cast("long").alias("query_id"), "vec_id", "rank")
    )
    ideal = (
        S.topk_cosine(body, qv, k=10)
        .withColumn("_r", F.row_number().over(w))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "vec_id",
            (F.lit(11) - F.col("_r")).cast("double").alias("gain"),
        )
    )
    return S.ndcg_at_k(results, ideal, k=10, quantize=6)


@query(
    "emb_mmr_rerank",
    oracle="""
    WITH RECURSIVE q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    cand AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS rel
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id
      LIMIT 12
    ),
    pair AS (
      SELECT a.vec_id AS ca,
             map(list(b.vec_id ORDER BY b.vec_id),
                 list(list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v)))
                      ORDER BY b.vec_id)) AS simmap
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
      GROUP BY a.vec_id
    ),
    c2 AS (SELECT cand.vec_id, rel, simmap
           FROM cand JOIN pair ON pair.ca = cand.vec_id),
    sel AS (
      (SELECT 1::BIGINT AS mmr_rank, [vec_id] AS picked, vec_id,
              5e-1 * rel AS mmr_score
       FROM c2 ORDER BY 5e-1 * rel DESC, vec_id LIMIT 1)
      UNION ALL
      (SELECT s.mmr_rank + 1, list_append(s.picked, c.vec_id), c.vec_id,
              5e-1 * c.rel
              - 5e-1 * greatest(list_max([c.simmap[p][1] FOR p IN s.picked]),
                                0e0)
       FROM sel s JOIN c2 c ON NOT list_contains(s.picked, c.vec_id)
       WHERE s.mmr_rank < 5
       ORDER BY 5e-1 * c.rel
                - 5e-1 * greatest(list_max([c.simmap[p][1]
                                            FOR p IN s.picked]), 0e0) DESC,
                c.vec_id
       LIMIT 1)
    )
    SELECT mmr_rank, vec_id, ROUND(mmr_score, 6) AS mmr_score_q FROM sel
    """,
)
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (lam=0.5, k=5) of the exact top-12 cosine
    candidates for query vector 0 (``similarity.mmr_rerank``) — the
    post-retrieval pass that keeps a near-dup-heavy top-k from
    collapsing to one semantic cluster. The oracle replays the greedy
    argmax as a recursive CTE carrying the picked set, with the
    candidate rels from the SAME bit-reproducible cosine both engines
    share. The redundancy penalty CLAMPS at 0 (the kernel's
    max_sim starts at zero, so a candidate anti-correlated with
    everything picked is merely non-redundant, never BONUSED) — the
    oracle replays the clamp with greatest(…, 0). Scores are
    ROUND(…, 6): the operator's Arrow kernel
    normalizes then dots in numpy (BLAS order) while the oracle dots
    then divides — last-ulp differences that a 6-decimal round
    absorbs, and that cannot flip an argmax whose score gaps are
    ~1e-2 (exact-duplicate candidates produce exactly equal scores on
    both sides and fall to the shared smaller-key tie-break).

    Scale: reranking distributes over QUERIES (one applyInPandas
    group per query, candidate lists bounded by the retriever's
    top-N); this entry is the single-query fixture of that shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    cands = (
        S.topk_cosine(body, qv, k=12)
        .join(body.select("vec_id", "embedding"), "vec_id")
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "vec_id",
            F.col("cosine_sim").alias("rel_score"),
            "embedding",
        )
    )
    out = S.mmr_rerank(cands, k=5, lam=0.5)
    return out.select(
        "mmr_rank", "vec_id", F.round("mmr_score", 6).alias("mmr_score_q")
    )


@query(
    "emb_dim_stats",
    oracle="""
    WITH x AS (
      SELECT g.i - 1 AS dim,
             CAST(CAST(ROUND(CAST(embedding[g.i] AS DOUBLE), 5)
                       AS DECIMAL(8,5)) * 100000
                  AS DECIMAL(14,0)) AS ui
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS g(i)
      WHERE embedding[g.i] IS NOT NULL AND NOT isnan(embedding[g.i])
        AND abs(CAST(embedding[g.i] AS DOUBLE)) < 1000.0
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(ui AS DECIMAL(38,0))) AS DOUBLE)
             / 100000.0 / COUNT(*) AS mean,
           CAST(SUM(CAST(ui * ui AS DECIMAL(38,0))) AS DOUBLE)
             / 10000000000.0 / COUNT(*) AS second_moment,
           CAST(SUM(CAST(ui * ui AS DECIMAL(38,0))) AS DOUBLE)
             / 10000000000.0 / COUNT(*)
             - (CAST(SUM(CAST(ui AS DECIMAL(38,0))) AS DOUBLE)
                / 100000.0 / COUNT(*))
               * (CAST(SUM(CAST(ui AS DECIMAL(38,0))) AS DOUBLE)
                  / 100000.0 / COUNT(*)) AS variance
    FROM x GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-space profile (mean offset, variance,
    dead-dimension detection) — the statistics a whitening /
    mean-centering preprocessing step consumes, and the
    coordinate-wise companion of ``emb_pair_sim_hist``'s pairwise
    collapse diagnostic. See operators/similarity.py:dim_stats for the
    decimal-quantization determinism argument (both sums are
    INTEGER-valued decimals, whose double cast is one correctly-
    rounded conversion in both engines at any magnitude up to int64
    range — not the fractional-decimal cast that diverges past 2^52).

    Scale: explode fans N×dim rows but the aggregate map-side combines
    to 64 rows per task before one tiny shuffle — scan-bound at any
    corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return S.dim_stats(emb)


@query(
    "emb_label_drift",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    d AS (
      SELECT vec_id, label, vec_id % 2 AS h, i,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, dims
    ),
    cent AS (
      SELECT label, h, i,
             CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS c
      FROM d GROUP BY 1, 2, 3
    ),
    n AS (
      SELECT label, vec_id % 2 AS h, COUNT(*) AS n
      FROM embeddings GROUP BY 1, 2
    ),
    j AS (
      SELECT a.label, a.c AS ca, b.c AS cb
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.i = b.i AND a.h = 0 AND b.h = 1
    ),
    s AS (
      SELECT label,
        CAST(SUM(CAST(ROUND(ca * cb, 9) AS DECIMAL(28,9))) AS DOUBLE)
          AS dot,
        CAST(SUM(CAST(ROUND(ca * ca, 9) AS DECIMAL(28,9))) AS DOUBLE)
          AS na,
        CAST(SUM(CAST(ROUND(cb * cb, 9) AS DECIMAL(28,9))) AS DOUBLE)
          AS nb
      FROM j GROUP BY 1
    )
    SELECT s.label, CAST(n0.n AS BIGINT) AS n_a,
           CAST(n1.n AS BIGINT) AS n_b,
           dot / (sqrt(na) * sqrt(nb)) AS centroid_cosine
    FROM s
    JOIN n n0 ON n0.label = s.label AND n0.h = 0
    JOIN n n1 ON n1.label = s.label AND n1.h = 1
    """,
)
def emb_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label between two deterministic
    corpus halves (vec_id parity — the stand-in for before/after an
    encoder upgrade or a crawl refresh): the cosine between each
    label's half-A and half-B centroids, with half sizes. A healthy
    re-embed stays near 1.0 per label; a drop flags the labels whose
    region of the space moved — the embedding twin of the value-space
    ``events_psi_drift``.

    Determinism: the ``emb_centroid_classify`` discipline — per-dim
    sums quantize elements to DECIMAL(18,6), dot/norm terms quantize
    products to DECIMAL(28,9), every downstream double op (sqrt,
    multiply, divide) is a correctly-rounded IEEE op on bit-identical
    inputs.

    Scale: the explode collapses map-side into |labels| x 2 x dim
    partial sums (one small shuffle); everything after is
    centroid-table-sized. No pair joins, no windows — scan-bound at
    any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode(S.as_double(F.col("embedding"))).alias("i", "x"),
    )
    # both half-centroids in ONE (label, i) aggregation — the
    # filter-twice + self-join formulation recomputed the corpus
    # explode per branch (first cut measured 5.2 s in the sf0.1 bench
    # protocol, ~1.0 s warm after the pivot; 9 exchanges down to 5)
    half = lambda hv, expr: F.sum(F.when(F.col("h") == hv, expr))
    cent = d.groupBy("label", "i").agg(
        (
            half(0, F.round("x", 6).cast("decimal(18,6)")).cast("double")
            / half(0, F.lit(1))
        ).alias("ca"),
        (
            half(1, F.round("x", 6).cast("decimal(18,6)")).cast("double")
            / half(1, F.lit(1))
        ).alias("cb"),
    )
    s = cent.groupBy("label").agg(
        F.sum(F.round(F.col("ca") * F.col("cb"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("dot"),
        F.sum(F.round(F.col("ca") * F.col("ca"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("na"),
        F.sum(F.round(F.col("cb") * F.col("cb"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("nb"),
    )
    n = emb.groupBy("label", (F.col("vec_id") % 2).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    n0 = n.filter(F.col("h") == 0).select("label", F.col("n").alias("n_a"))
    n1 = n.filter(F.col("h") == 1).select("label", F.col("n").alias("n_b"))
    # inner joins on the per-half counts drop any label missing a
    # half entirely — the oracle's a.h=0/b.h=1 join semantics (a
    # missing half also NULLs the pivoted sums above, but those rows
    # never survive these joins)
    return (
        s.join(F.broadcast(n0), "label")
        .join(F.broadcast(n1), "label")
        .select(
            "label",
            "n_a",
            "n_b",
            (
                F.col("dot")
                / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
            ).alias("centroid_cosine"),
        )
    )


@query(
    "emb_hamming_recall",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    full_top AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    ),
    codes AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i) ELSE 0 END
                            FOR i IN generate_series(0, 31)]) AS BIGINT)
               AS lo,
             CAST(list_sum([CASE WHEN embedding[i+1] > 0
                                 THEN power(2, i - 32) ELSE 0 END
                            FOR i IN generate_series(32, 63)]) AS BIGINT)
               AS hi
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
    ham_top AS (
      SELECT c.vec_id
      FROM codes c, qc
      WHERE c.vec_id <> 0
      ORDER BY bit_count(xor(c.lo, qc.qlo))
                 + bit_count(xor(c.hi, qc.qhi)),
               c.vec_id
      LIMIT 10
    )
    SELECT 10 AS k, 64 AS n_bits,
           (SELECT COUNT(*) FROM full_top JOIN ham_top USING (vec_id))
             AS n_overlap,
           CAST((SELECT COUNT(*) FROM full_top JOIN ham_top USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """,
)
def emb_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval quality — the recall twin the
    sign-bit sketch was missing (every other index family has one:
    ivf/pq/ivfpq/matryoshka): top-10 by 64-bit Hamming vs the exact
    cosine top-10, overlap measured exactly (both id-sets
    deterministic: sign quantization has no float ambiguity, the
    exact side is the shared cosine total order, and ties break on
    vec_id in both engines).

    Scale: two shuffle-free top-k heaps over one corpus scan each —
    the Hamming pass reads 16 bytes per vector once codes are
    derived; nothing here grows past k rows after the scans.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    full_top = S.topk_cosine(body, q, k=10).select("vec_id")
    ham_top = S.hamming_topk(emb, q, k=10, exclude_key=0).select("vec_id")
    return full_top.join(ham_top, "vec_id").agg(
        F.lit(10).cast("integer").alias("k"),
        F.lit(64).cast("integer").alias("n_bits"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


@query(
    "emb_ood_detect",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    d AS (
      SELECT vec_id, label, i,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, dims
    ),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS c
      FROM d GROUP BY 1, 2
    ),
    cc AS (
      SELECT label,
             CAST(SUM(CAST(ROUND(c * c, 9) AS DECIMAL(28,9))) AS DOUBLE)
               AS cc FROM cent GROUP BY 1
    ),
    vv AS (
      SELECT vec_id,
             CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
               AS vv FROM d GROUP BY 1
    ),
    dots AS (
      SELECT d.vec_id, d.label,
             CAST(SUM(CAST(ROUND(d.x * cent.c, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS dot
      FROM d JOIN cent ON d.label = cent.label AND d.i = cent.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.label,
             dots.dot / (sqrt(vv.vv) * sqrt(cc.cc)) AS cos
      FROM dots JOIN vv USING (vec_id) JOIN cc USING (label)
    ),
    thr AS (
      SELECT label,
             percentile_disc(0.1) WITHIN GROUP (ORDER BY cos) AS t
      FROM scored GROUP BY 1
    )
    SELECT s.label,
           COUNT(*) AS n_vectors,
           CAST(COALESCE(SUM(CASE WHEN s.cos < thr.t THEN 1 END), 0)
                AS BIGINT) AS n_ood,
           CAST(COALESCE(SUM(CASE WHEN s.cos < thr.t THEN 1 END), 0)
                AS DOUBLE) / COUNT(*) AS ood_frac,
           MIN(thr.t) AS thr_cosine
    FROM scored s JOIN thr ON thr.label = s.label
    GROUP BY s.label
    """,
)
def emb_ood_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class outlier detection (the OOD-pruning pass an
    embedding-curation pipeline runs before contrastive training —
    SemDeDup's complement: instead of removing the TOO-similar, flag
    the too-DISSIMILAR): each vector scores its cosine against its
    OWN label's centroid, and vectors below the label's
    10th-percentile cosine (an actual picked element,
    ``percentile_disc`` — the banded-deciles cross-engine mechanism)
    are flagged. Output per label: vector count, flagged count +
    fraction, and the picked threshold.

    Determinism: the classify/drift decimal discipline for the
    centroid/dot/norm arithmetic (every cosine bit-identical in both
    engines), then a DISCRETE percentile pick and a strict
    ``cos < thr`` flag — no interpolation anywhere.

    Scale: the explode collapses map-side into |labels| x dim
    centroid partials; the own-label dot joins the broadcast
    640-row centroid-dim table against the per-dim stream (one
    corpus-scan shape, no cross-label fan-out like classify's
    argmax); the percentile is one map-combinable aggregate over
    |vectors| scored rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        "label",
        F.posexplode(S.as_double(F.col("embedding"))).alias("i", "x"),
    )
    # the centroid table (|labels| x dim = 640 rows) has TWO consumers
    # (its own norm aggregate and the broadcast join into the per-dim
    # stream), and the scored table — corpus grain, one row per
    # vector — has two more (the percentile pick and the flag
    # aggregate), so the second cache holds a corpus-sized table;
    # without the entry-local caches each
    # consumer re-ran the corpus posexplode from the scan — measured
    # 16 static Exchanges / 6 scans collapsing to 7 / 2 (r12,
    # plans/r12/emb_ood_detect_{before,after}.txt)
    cent = shared(
        d.groupBy("label", "i").agg(
            (
                F.sum(F.round("x", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    cc = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("cc")
    )
    # dot AND self-norm in ONE (vec, label) aggregate over the single
    # centroid-joined stream — a separate vv branch re-runs the corpus
    # explode (the emb_label_drift lesson; 20 static exchanges down to
    # 16, one fewer corpus-scale shuffle)
    dots = (
        d.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(F.col("x") * F.col("c"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("dot"),
            F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("vv"),
        )
    )
    scored = shared(
        dots.join(F.broadcast(cc), "label")
        .select(
            "label",
            (
                F.col("dot") / (F.sqrt(F.col("vv")) * F.sqrt(F.col("cc")))
            ).alias("cos"),
        )
    )
    thr = scored.groupBy("label").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY cos)").alias(
            "t"
        )
    )
    return (
        scored.join(F.broadcast(thr), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("cos") < F.col("t")).cast("long"))
            .cast("long")
            .alias("n_ood"),
            (
                F.sum((F.col("cos") < F.col("t")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("ood_frac"),
            F.min("t").alias("thr_cosine"),
        )
    )


def _ivf_nprobe_curve_oracle(probes=(1, 2, 4)) -> str:
    """Single-sourced generator for the nprobe tuning curve: the
    emb_ivf_recall CTE chain with one probe/ivf arm per nprobe,
    unioned — recall@10 as a function of how many cells are probed."""
    shared = """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ),
    exact AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e, c
      WHERE e.vec_id <> 0
    ),
    best AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )"""
    arms = []
    for p in probes:
        shared += f""",
    probe{p} AS (
      SELECT centroid_id FROM c, q
      ORDER BY list_dot_product(cv, qv)
                 / (sqrt(list_dot_product(cv, cv))
                    * sqrt(list_dot_product(qv, qv))) DESC,
               centroid_id
      LIMIT {p}
    ),
    ivf{p} AS (
      SELECT e.vec_id
      FROM embeddings e
      JOIN best b ON e.vec_id = b.vec_id
      JOIN probe{p} pr ON b.centroid_id = pr.centroid_id, q
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               e.vec_id
      LIMIT 10
    )"""
        arms.append(f"""
    SELECT {p} AS n_probe,
           (SELECT COUNT(*) FROM exact JOIN ivf{p} USING (vec_id))
             AS n_overlap,
           CAST((SELECT COUNT(*) FROM exact JOIN ivf{p} USING (vec_id))
                AS DOUBLE) / 10 AS recall
    """)
    return shared + " UNION ALL ".join(arms)


@query("emb_ivf_nprobe_curve", oracle=_ivf_nprobe_curve_oracle())
def emb_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve: recall@10 at n_probe in {1, 2, 4}
    cells of 8, from ONE cell assignment — the accuracy/cost knob an
    ANN deployment tunes, as a catalog entry (the
    ``docs_dedup_threshold_curve`` symmetry on the retrieval side;
    ``emb_ivf_recall`` is the single point at n_probe = 2). Recall is
    non-decreasing in n_probe by construction; each arm's id-set is
    deterministic (declared blocking + unique tie-breaks), so every
    point is hash-exact, not a statistical bound.

    Scale: the assignment (the expensive part) is computed once and
    shared; each arm adds only a probe-filtered top-k scan. At
    production scale the arms share the cell-pruned scan too — the
    curve costs barely more than its most expensive point.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    body = emb.filter(F.col("vec_id") != 0)
    exact = S.topk_cosine(body, q, k=10).select("vec_id")
    cents = _centroids(emb)
    # ONE assignment DataFrame passed to every arm: the plan builds
    # once (~0.2 s of py4j per arm saved) even though the subtree
    # appears under each union branch. An entry-local cache was ALSO
    # tried and measured WORSE (3.7 vs 3.2 s median — InMemoryRelation
    # materialization costs more than recomputing the cheap
    # assignment three times at this volume), so the arms share the
    # BUILD, not a materialization (r11).
    assigned = S.centroid_assign(
        body.select("vec_id", "embedding"), cents, dim=len(q)
    )
    arms = []
    for p in (1, 2, 4):
        ivf = S.ivf_topk_cosine(
            body,
            q,
            k=10,
            n_probe_centroids=p,
            centroids=cents,
            assigned=assigned,
        ).select("vec_id")
        arms.append(
            exact.join(ivf, "vec_id").agg(
                F.lit(p).cast("integer").alias("n_probe"),
                F.count(F.lit(1)).alias("n_overlap"),
                (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out


# one-slot-per-corpus checkpoint of the persisted IVF index state
# (per-(cell, dim) moment sums — see similarity.ivf_cell_stats)
_IVF_STATS_CACHE: dict = {}


def _ivf_stats_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted index-state table for ``emb_ivf_incremental``:
    ``ivf_cell_stats`` over the EXISTING corpus (vec_id % 10 != 0),
    checkpointed once per corpus (the pair-checkpoint slot pattern).
    |cells| x dim rows — KB-sized at any corpus scale. A production
    deployment stores exactly this table next to the centroid table
    and never re-scans the corpus on ingest."""
    import os

    from ._pair_cache import cached_pair_checkpoint

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        existing = emb.filter(F.col("vec_id") % 10 != 0)
        return S.ivf_cell_stats(existing, _centroids(emb))

    return cached_pair_checkpoint(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        _IVF_STATS_CACHE,
        build,
    )


@query(
    "emb_ivf_incremental",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    best AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql("e.embedding::DOUBLE[]", "c.cv")} DESC,
                          c.centroid_id
               ) AS rn
        FROM embeddings e, c
      ) WHERE rn = 1
    ),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    d AS (
      SELECT b.centroid_id, (e.vec_id % 10 = 0) AS is_batch, dims.i,
             CAST(ROUND(CAST(e.embedding[dims.i] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS xq
      FROM embeddings e JOIN best b ON b.vec_id = e.vec_id, dims
    ),
    cent AS (
      SELECT centroid_id, i,
             SUM(CASE WHEN NOT is_batch THEN xq END) AS s_o,
             COUNT(CASE WHEN NOT is_batch THEN 1 END) AS n_o,
             SUM(CASE WHEN is_batch THEN xq END) AS s_b,
             COUNT(CASE WHEN is_batch THEN 1 END) AS n_b
      FROM d GROUP BY 1, 2
    ),
    m AS (
      SELECT centroid_id, n_o, n_b,
             CASE WHEN n_o > 0 THEN CAST(s_o AS DOUBLE) / n_o END AS om,
             CAST(COALESCE(s_o, 0) + COALESCE(s_b, 0) AS DOUBLE)
               / (n_o + n_b) AS nm
      FROM cent
    ),
    s AS (
      SELECT centroid_id,
             MAX(n_o) AS n_existing, MAX(n_b) AS n_batch,
             CAST(SUM(CAST(ROUND(om * nm, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS dot,
             CAST(SUM(CAST(ROUND(om * om, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS na,
             CAST(SUM(CAST(ROUND(nm * nm, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS nb
      FROM m GROUP BY 1
    )
    SELECT centroid_id,
           CAST(COALESCE(n_existing, 0) AS BIGINT) AS n_existing,
           CAST(COALESCE(n_batch, 0) AS BIGINT) AS n_batch,
           CASE WHEN na > 0 AND nb > 0
                THEN dot / (sqrt(na) * sqrt(nb)) END AS centroid_cosine,
           COALESCE(CASE WHEN na > 0 AND nb > 0
                         THEN dot / (sqrt(na) * sqrt(nb)) END < 0.9999,
                    TRUE) AS needs_recluster
    FROM s
    """,
)
def emb_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (VERDICT r09 next-round 4):
    a 10% ingest batch (vec_id % 10 == 0 — the deterministic stand-in
    for a daily crawl delta) is assigned INTO the existing IVF cells
    by the stream-static broadcast argmax, its per-(cell, dim) moment
    partials merge into the persisted ``ivf_cell_stats`` state by
    exact decimal addition, and each cell reports the drift gate:
    cosine(old running mean, updated running mean) with
    ``needs_recluster`` when it crosses 0.9999 (or the cell is new).
    The corpus is NEVER re-scanned and the centroids NEVER retrain —
    cells that didn't drift keep serving the old index; cells that
    did are the recluster worklist (``emb_label_drift``'s trigger
    machinery on the index axis).

    Determinism: the label-drift decimal discipline end to end —
    DECIMAL(18,6) element partials (exact sums, exact double casts),
    identical mean divisions, DECIMAL(28,9) product quantization in
    the cosine.

    Scale: the persisted state is |cells| x dim rows (KB at any
    corpus size); per-ingest work is O(|batch| x cells) broadcast
    assignment + a state-table merge. The SCALE.md rehearsal measures
    the update at FIXED batch size across growing corpora — flat,
    because nothing here touches the existing corpus (the oracle
    replays the state build only because DuckDB has no session to
    persist it in).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    return S.ivf_incremental_update(
        _ivf_stats_cached(spark, sf_dir), batch, _centroids(emb)
    )
