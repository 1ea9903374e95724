"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs them:

- **Brute-force top-k** — exact cosine against every corpus vector.
  Correctness baseline and perfectly adequate when the query set is small:
  queries broadcast, corpus scanned once, per-query top-k via window.
- **LSH-bucketed ANN** — random-hyperplane signatures (deterministic,
  hash-derived planes), candidates restricted to matching buckets. The
  scale path: the corpus side is signed in one scan, bucket join replaces
  the cross product.

All vector math is native (``zip_with``/``aggregate`` over array<double>),
verified bit-exact against DuckDB's list functions — no UDFs.

Embeddings are expected dense, non-null, fixed-width. Signature dots
(``_plane_bits``) coalesce null components to 0.0 — the SUM-skips-null
semantics of the relational form they replaced — so a stray null degrades
one component instead of nulling the whole signature; the exact-verify
dot (``_dot``) deliberately propagates nulls so corrupt vectors surface
as null cosines rather than silently wrong ones.
"""

from __future__ import annotations

import math

from flight_radar_pipeline_spark.operators.lifecycle import hold
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.storagelevel import StorageLevel

from .rounding import np_round_half_up


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double
    (element-wise cast) with left-to-right summation — the association
    order DuckDB's ``list_cosine_similarity`` also uses, so results match
    bit-for-bit."""
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def topk_neighbors_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector →
    (query_id, neighbor_id, cosine), excluding self-matches.

    Scale: broadcast the query set (small by construction), single corpus
    scan, per-query top-k via window over (rounded cosine, id) — the
    rounding makes ranking deterministic across engines at equal scores.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("__qvec"), F.col("__cvec")), decimals),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _plane_component_value(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]:
    the value of the first hex nibble of md5(plane || '-' || dim), centered.
    The SQL oracle derives the identical value (same md5 + CASE nibble
    mapping), so signatures are engine-portable."""
    import hashlib

    nib = int(hashlib.md5(f"{plane}-{dim}".encode()).hexdigest()[0], 16)
    return float(nib) - 7.5


def _require_n_dims(n_dims, caller: str) -> int:
    """Operators take the embedding width as an argument so no plan ever
    needs a driver-side probe scan (the round-4 ``first()`` fallback is
    gone — a silent driver action on every ad-hoc call was the wrong
    default at any scale)."""
    if n_dims is None:
        raise ValueError(
            f"{caller}: pass n_dims (the embedding width) explicitly — "
            "e.g. n_dims=64 for the testdata embeddings table"
        )
    return int(n_dims)


def _plane_bits(vec: Column, planes: list[list[float]]) -> list[Column]:
    """One sign bit per plane, each a per-row ``zip_with``/``aggregate`` dot
    against the plane's component literals — pure projection, no explode, no
    join, no shuffle. The plane table is tiny (planes × dims doubles) and
    folds into the expression tree as array literals; summation is strictly
    left-to-right, so bits are deterministic under any partitioning.

    This replaces the round-1 relational form (posexplode → broadcast join
    on dim → groupBy(id, plane)), which shuffled corpus × dims rows per
    signature build — ~800 rows per document at 768 dims. Per-row cost is
    identical arithmetic (planes × dims multiply-adds); the shuffle is gone.
    """
    bits = []
    for row in planes:
        comp = F.array(*[F.lit(c) for c in row])
        # coalesce each product to 0.0: a null component (or a vector
        # shorter than the plane) degrades that term instead of nulling
        # the whole signature — the SUM-skips-null semantics of the
        # relational form this replaced, and of the SQL oracle.
        dot = F.aggregate(
            F.zip_with(vec, comp, lambda x, y: F.coalesce(x * y, F.lit(0.0))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append((dot > 0).cast("int").cast("string"))
    return bits


def _arrow_bit_signatures(
    df: DataFrame, planes: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """All plane sign bits per vector as one 0/1 string → (id, __bits),
    via an Arrow-batched pandas UDF doing a single numpy matmul per
    batch — the vectorized fast path for signature builds (~100× the
    per-row interpreted HOF fold for wide plane sets).

    Association-order caveat, and why it is safe: numpy's matmul sums in
    a different order than the strict left-to-right fold (and the SQL
    oracle's SUM), so a dot within float-rounding of zero could flip its
    sign bit. Measured on the synthetic embeddings, the minimum |dot| is
    ~4e-4 — ten orders of magnitude above the ~1e-14 association noise
    for 64-term sums — and a real-valued corpus hitting a 1e-13 margin
    has per-dot probability ~1e-10; equality with the expression form is
    asserted in tests. Requires dense fixed-width vectors (the numpy
    batch build rejects ragged input loudly); the ``"expr"`` impl is the
    bit-portable, null-tolerant reference.
    """
    import numpy as np  # noqa: F401 — imported here so the closure ships it
    from pyspark.sql.functions import pandas_udf

    plane_matrix = [list(row) for row in zip(*planes)]  # dims × planes

    @pandas_udf("string")
    def sigbits(vecs):  # pd.Series of array<float|double> → pd.Series[str]
        import numpy as np
        import pandas as pd

        mat = np.array(vecs.tolist(), dtype=np.float64)
        bits = (mat @ np.array(plane_matrix) > 0).astype(np.uint8)
        return pd.Series(["".join(map(str, row)) for row in bits])

    return df.select(F.col(id_col), sigbits(F.col(vec_col)).alias("__bits"))


def hyperplane_signatures(
    df: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Sign-LSH signature per vector → (id, signature string of 0/1).

    ``impl="arrow"`` (default): one numpy matmul per Arrow batch — the
    production path (see ``_arrow_bit_signatures`` for the
    association-order safety argument). ``impl="expr"``: per-row
    ``zip_with``/``aggregate`` folds against plane literals
    (``_plane_bits``) — bit-portable to the SQL oracle's stated sum
    order and null-tolerant; both impls are asserted identical in tests.
    Neither shuffles: the signature stage is a pure projection. Pass
    ``n_dims`` (the embedding width) — required, so the build is free of
    driver actions."""
    n_dims = _require_n_dims(n_dims, "sign_lsh_signatures")
    planes = [
        [_plane_component_value(p, d) for d in range(n_dims)]
        for p in range(num_planes)
    ]
    if impl == "arrow":
        sigs = _arrow_bit_signatures(df, planes, id_col, vec_col)
        return sigs.select(F.col(id_col), F.col("__bits").alias("signature"))
    vec = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col), F.concat(*_plane_bits(vec, planes)).alias("signature")
    )


def multitable_signatures(
    df: DataFrame,
    num_tables: int = 4,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Per-table sign-LSH signatures → (id, table, signature).

    ``num_tables`` independent hash tables of ``planes_per_table`` planes
    each (plane p belongs to table p div planes_per_table). Multiple short
    tables trade precision for recall: a pair colliding in ANY table
    becomes a candidate — the cosine analogue of MinHash banding.

    Signatures are per-row expressions (``_plane_bits``); the only
    non-projection step is a ``posexplode`` of the ``num_tables``-element
    signature array per row — a bounded row multiplier, not a shuffle.
    ``impl`` as in ``hyperplane_signatures`` (arrow matmul default, expr
    reference); with arrow, per-table signatures are substring slices of
    the one bit string.
    """
    n_dims = _require_n_dims(n_dims, "multitable_signatures")
    total = num_tables * planes_per_table
    planes = [
        [_plane_component_value(p, d) for d in range(n_dims)] for p in range(total)
    ]
    if impl == "arrow":
        sigs = _arrow_bit_signatures(df, planes, id_col, vec_col)
        table_sigs = [
            F.substring("__bits", t * planes_per_table + 1, planes_per_table)
            for t in range(num_tables)
        ]
        return sigs.select(
            F.col(id_col),
            F.posexplode(F.array(*table_sigs)).alias("table", "signature"),
        )
    vec = F.col(vec_col).cast("array<double>")
    bits = _plane_bits(vec, planes)
    table_sigs = [
        F.concat(*bits[t * planes_per_table : (t + 1) * planes_per_table])
        for t in range(num_tables)
    ]
    return df.select(
        F.col(id_col),
        F.posexplode(F.array(*table_sigs)).alias("table", "signature"),
    )


def recommended_planes(
    n_vectors: int, target_bucket_occupancy: int = 400, floor: int = 4
) -> int:
    """Sizing rule for ``planes_per_table``: enough hyperplanes that the
    EXPECTED bucket occupancy n / 2^planes stays near
    ``target_bucket_occupancy``, i.e. ceil(log2(n / target)).

    Why it matters (measured, SCALE_RUN.json round 5): at a 10× corpus
    with planes FIXED at 4, bucket occupancy grows 10× and the in-bucket
    quadratic verify made the dedup 13× slower; growing planes by
    log2(10) ≈ 3 restored linear scaling (20.4 s → 3.2 s at sf1). More
    planes cost per-table recall; recover it by raising ``num_tables``
    (candidates are the union over tables)."""
    import math

    if n_vectors <= target_bucket_occupancy:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket_occupancy)))


def recommended_semantic_k(
    n_vectors: int, target_cell_size: int = 1000, floor: int = 8
) -> int:
    """Sizing rule for the semantic-dedup k-means cell count: k ≈
    n / target_cell_size, so the O(cell²) in-cell verify stays constant
    per cell as the corpus grows (the SemDeDup contract "k grows with
    corpus"). Measured (SCALE_RUN.json round 5): at 10× corpus, k grown
    10× ran the dedup 2.7× faster than fixed k (19.6 s vs 52.5 s)."""
    import math

    return max(floor, math.ceil(n_vectors / target_cell_size))


def _bucket_pair_dots(
    rows: DataFrame,
    group_cols: list[str],
    id_col: str,
    unit_col: str,
    decimals: int,
    threshold: float | None = None,
) -> DataFrame:
    """Bucket-local pair verify → (id_a, id_b, cosine), id_a < id_b,
    one row per within-bucket pair (cross-bucket duplicates are the
    caller's concern), optionally pre-filtered to ``cosine >=
    threshold`` INSIDE the worker.

    The round-13 Python-boundary fix (guide §4): the join-shaped verify
    shipped BOTH unit vectors of every candidate pair through Arrow —
    |pairs| × 2 × dims doubles (≈0.5 GB at sf0.1 for the all-candidate
    mutual-NN feed) — where grouping by bucket ships each vector ONCE
    per table (|corpus| × tables × dims) and enumerates the pairs with
    ``np.triu_indices`` inside the worker. Arithmetic is bit-identical
    to the pairwise Arrow dot it replaces: the same
    ``(U[ia] * U[ib]).sum(axis=1)`` elementwise-multiply + row reduction
    on float64, the same half-up rounding; chunked so peak memory tracks
    the chunk, not the bucket
    pair count. Bucket sizes are bounded by the callers' self-sizing
    (LSH plane counts / k-means k), which is what bounds the quadratic
    enumeration — the same contract the join form relied on.

    Rounding is half-up via ``np_round_half_up`` and the float64
    association-order delta vs the expression fold (~1e-15) sits ten
    orders below the rounding quantum — the ``_rounded_sims`` safety
    argument; equality with the expression fold is asserted in tests.
    """
    id_type = dict(rows.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def pair_dots(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": ids[:0],
                    "id_b": ids[:0],
                    "cosine": np.empty(0, dtype=np.float64),
                }
            )
        mat = np.array(pdf[unit_col].to_numpy()[order].tolist(), dtype=np.float64)
        ia, ib = np.triu_indices(n, 1)
        outs_a, outs_b, outs_c = [], [], []
        step = 1 << 18
        for s in range(0, len(ia), step):
            sa, sb = ia[s : s + step], ib[s : s + step]
            d = np_round_half_up((mat[sa] * mat[sb]).sum(axis=1), decimals)
            if threshold is not None:
                keep = d >= threshold
                sa, sb, d = sa[keep], sb[keep], d[keep]
            outs_a.append(ids[sa])
            outs_b.append(ids[sb])
            outs_c.append(d)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(outs_a),
                "id_b": np.concatenate(outs_b),
                "cosine": np.concatenate(outs_c),
            }
        )

    return rows.groupBy(*group_cols).applyInPandas(pair_dots, schema)


def _bucket_best_neighbor(
    rows: DataFrame,
    group_cols: list[str],
    id_col: str,
    unit_col: str,
    decimals: int,
) -> DataFrame:
    """Per-bucket nearest neighbor → (src, dst, cosine): every bucket
    member's best bucket-mate under (cosine desc, id asc). The argmax
    decomposes over any partition of the candidate set, so a global
    ``max(struct(cosine, −dst))`` over these per-bucket bests equals the
    argmax over the union of all bucket pairs — which lets the mutual-NN
    pipeline emit |corpus| × tables rows from the workers instead of
    every candidate pair (round-13, guide §2.2/§4). Same float64 pair
    arithmetic and rounding as ``_bucket_pair_dots``."""
    id_type = dict(rows.dtypes)[id_col]
    schema = f"src {id_type}, dst {id_type}, cosine double"

    def best_neighbor(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {
                    "src": ids[:0],
                    "dst": ids[:0],
                    "cosine": np.empty(0, dtype=np.float64),
                }
            )
        mat = np.array(pdf[unit_col].to_numpy()[order].tolist(), dtype=np.float64)
        ia, ib = np.triu_indices(n, 1)
        # running best per member position: max cosine, tie → min
        # neighbor POSITION (ids are sorted ascending, so position
        # order IS id order)
        best_c = np.full(n, -np.inf)
        best_j = np.full(n, n, dtype=np.int64)
        step = 1 << 18
        for s in range(0, len(ia), step):
            sa, sb = ia[s : s + step], ib[s : s + step]
            d = np_round_half_up((mat[sa] * mat[sb]).sum(axis=1), decimals)
            for idx, nb in ((sa, sb), (sb, sa)):
                # reduce the chunk to one candidate per idx: sort by
                # (idx, -d, nb) and keep each idx's first row
                o = np.lexsort((nb, -d, idx))
                first = np.ones(len(o), dtype=bool)
                first[1:] = idx[o][1:] != idx[o][:-1]
                ri, rd, rj = idx[o][first], d[o][first], nb[o][first]
                upd = (rd > best_c[ri]) | (
                    (rd == best_c[ri]) & (rj < best_j[ri])
                )
                best_c[ri[upd]] = rd[upd]
                best_j[ri[upd]] = rj[upd]
        return pd.DataFrame(
            {"src": ids, "dst": ids[best_j], "cosine": best_c}
        )

    return rows.groupBy(*group_cols).applyInPandas(best_neighbor, schema)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    num_tables: int = 4,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    n_dims: int | None = None,
    signature_storage: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
    impl: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (id_a, id_b, cosine),
    id_a < id_b, cosine ≥ threshold, candidates from multi-table sign-LSH.

    The dedup-shaped use of similarity search: pairs colliding in any of
    the LSH tables are verified with the exact cosine; the corpus-wide
    cross product never materializes. Recall rises with ``num_tables``
    (union of candidates) — the knob a 100 TB embedding-dedup job tunes.

    ``impl="arrow"`` (default, the production path) verifies pairs
    BUCKET-LOCALLY: the signature table joins the unit vectors once and
    an ``applyInPandas`` per (table, signature) bucket enumerates and
    dots the within-bucket pairs — each vector crosses the Python
    boundary once per table instead of once per candidate pair (the
    round-13 guide-§4 fix; ``_bucket_pair_dots`` states the
    bit-identity argument vs the pairwise Arrow dot), the threshold
    filter runs inside the worker, and the candidate self-join
    disappears — the cross-table duplicate collapse is one ``distinct``
    over the surviving (id_a, id_b, cosine) rows. ``impl="expr"`` keeps
    the join-shaped candidate pipeline with the bit-portable expression
    fold verify (the engine-parity reference; equality asserted in
    tests).

    ``signature_storage`` (expr path only — the arrow path consumes the
    signature table exactly once) materializes the signature table for
    its two self-join sides. Same knob semantics as the dedup
    operators: ``DISK_ONLY`` at corpus scale, ``None`` to recompute per
    consumer.
    """
    sigs = multitable_signatures(
        df, num_tables, planes_per_table, id_col, vec_col, n_dims
    )
    # normalize once per vector (one corpus pass), so the per-pair verify
    # is a single dot product instead of dot + two norms — the candidate
    # verify is the dominant cost and this cuts its arithmetic 3×
    vd = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(_dot(vd, vd))
    unit = df.select(
        F.col(id_col),
        F.transform(vd, lambda x: x / norm).alias("__unit"),
    )
    if impl == "arrow":
        rows = sigs.join(unit, id_col)
        return _bucket_pair_dots(
            rows,
            ["table", "signature"],
            id_col,
            "__unit",
            decimals,
            threshold=threshold,
        ).distinct()
    if signature_storage is not None:
        sigs = sigs.persist(signature_storage)
    left = sigs.select(F.col(id_col).alias("id_a"), "table", "signature")
    right = sigs.select(F.col(id_col).alias("id_b"), "table", "signature")
    cands = (
        left.join(right, ["table", "signature"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = unit.select(F.col(id_col).alias("id_a"), F.col("__unit").alias("__va"))
    vb = unit.select(F.col(id_col).alias("id_b"), F.col("__unit").alias("__vb"))
    cos = F.round(_dot(F.col("__va"), F.col("__vb")), decimals)
    return hold(
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine"),
        sigs,
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Strict left-to-right IEEE-double dot — bit-identical to the Spark
    ``aggregate`` fold and to DuckDB's ``list_inner_product``, so norms
    precomputed on the driver agree with both engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def collect_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The deterministic first-N-by-id coarse quantizer → sorted
    [(cent_id, vector)]. One bounded driver action (``num_centroids``
    rows — the same class as building any broadcast literal); the vectors
    fold into cell-assignment expressions as array literals."""
    rows = (
        corpus.filter(F.col(id_col) < num_centroids)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .orderBy(id_col)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _centroid_sim_structs(
    vec: Column, centroids: list[tuple[int, list[float]]], decimals: int
) -> Column:
    """array<struct<sim, neg_id>> of rounded cosines against every
    centroid, as one per-row expression: each dot is a
    ``zip_with``/``aggregate`` fold against the centroid's array literal,
    each centroid norm a driver-precomputed double. No explode, no join,
    no shuffle — the plane-literal pattern of ``_plane_bits`` applied to
    centroids. ``neg_id`` carries -cent_id so the struct array's NATURAL
    order is (sim asc, cent_id desc): ``array_max`` picks max-sim with
    min-cent_id tiebreak, ``reverse(array_sort(...))`` ranks sim desc with
    cent_id asc tiebreak — the exact (sim desc, cent_id asc) total order
    the SQL oracle's row_number states."""
    norm_v = F.sqrt(_dot(vec, vec))
    structs = []
    for cid, cv in centroids:
        comp = F.array(*[F.lit(float(x)) for x in cv])
        sim = F.round(
            _dot(vec, comp) / (norm_v * F.lit(math.sqrt(_py_dot(cv, cv)))), decimals
        )
        structs.append(
            F.struct(sim.alias("sim"), F.lit(-cid).alias("neg_id"))
        )
    return F.array(*structs)


def _centroid_arrays(centroids: list[tuple[int, list[float]]]):
    """(cent_id vector, k×d matrix, per-centroid norms) as numpy arrays —
    shared by the Arrow assignment/probe fast paths."""
    import numpy as np

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    return cids, cmat, cnorm


def _rounded_sims(vecs, cids, cmat, cnorm, decimals: int):
    """n×k rounded-cosine matrix for a pandas Series of vectors — one
    numpy matmul per Arrow batch. Rounding is half-up away from
    zero via ``np_round_half_up`` (matches F.round / DuckDB for all signs); the association
    order differs from the expression fold by ~1e-15, ten orders below
    the rounding quantum — same safety argument as
    ``_arrow_bit_signatures``, equality with the expr impl asserted in
    tests."""
    import numpy as np

    mat = np.array(vecs.tolist(), dtype=np.float64)
    vnorm = np.sqrt((mat * mat).sum(axis=1))
    sims = (mat @ cmat.T) / (vnorm[:, None] * cnorm[None, :])
    return np_round_half_up(sims, decimals)


def _arrow_cell_udf(centroids: list[tuple[int, list[float]]], decimals: int):
    """pandas UDF: nearest-centroid cell id per vector (max rounded sim,
    ties to the lowest cent_id — np.argmax picks the first max and
    centroids are cid-ascending)."""
    from pyspark.sql.functions import pandas_udf

    cids, cmat, cnorm = _centroid_arrays(centroids)

    @pandas_udf("int")
    def cell(vecs):
        import numpy as np
        import pandas as pd

        sims = _rounded_sims(vecs, cids, cmat, cnorm, decimals)
        return pd.Series(cids[np.argmax(sims, axis=1)]).astype("int32")

    return cell


def _arrow_probes_udf(
    centroids: list[tuple[int, list[float]]], nprobe: int, decimals: int
):
    """pandas UDF: the ``nprobe`` nearest cell ids per vector, ranked
    (rounded sim desc, cent_id asc) — stable argsort on the negated sim
    matrix keeps ties cid-ascending."""
    from pyspark.sql.functions import pandas_udf

    cids, cmat, cnorm = _centroid_arrays(centroids)

    @pandas_udf("array<int>")
    def probes(vecs):
        import numpy as np
        import pandas as pd

        sims = _rounded_sims(vecs, cids, cmat, cnorm, decimals)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([[int(cids[j]) for j in row] for row in order])

    return probes


def assign_cell(
    vec: Column, centroids: list[tuple[int, list[float]]], decimals: int = 6
) -> Column:
    """Nearest-centroid cell id as a pure per-row column expression:
    ``array_max`` over the centroid-sim structs (max rounded sim, ties to
    the lowest cent_id). This replaces the round-2 crossJoin + row_number
    window, which shuffled corpus × centroids rows for a per-row argmax —
    at 100 TB that Exchange was the assignment stage's entire cost."""
    best = F.array_max(_centroid_sim_structs(vec, centroids, decimals))
    return -best["neg_id"]


def probe_cells(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    decimals: int = 6,
) -> Column:
    """The ``nprobe`` nearest cell ids as an array column expression:
    sort the centroid-sim structs (natural order, reversed → sim desc,
    cent_id asc) and slice — same shuffle-free pattern as
    ``assign_cell``."""
    ranked = F.reverse(F.array_sort(_centroid_sim_structs(vec, centroids, decimals)))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: -s["neg_id"])


def topk_neighbors_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """IVF-style ANN → (query_id, neighbor_id, cosine): the corpus is
    partitioned into cells by nearest centroid; each query probes its
    ``nprobe`` nearest cells and ranks exactly within them.

    ``centroids`` defaults to the deterministic first-``num_centroids``
    corpus vectors by id (``collect_centroids``) so the whole operator has
    an exact SQL oracle; pass ``kmeans_centroids(...)`` for the production
    quantizer — the cell-assignment, probe, and in-cell search plans are
    unchanged. Scale: centroid vectors fold into the assignment stage as
    literals, so assignment is one corpus scan with NO shuffle at all,
    probing one query scan + a bounded ``nprobe``-element explode, and
    search shuffles only probed cells — the corpus never self-joins and
    never windows. Assignment/probe similarities are rounded before
    ranking so cell choices are engine-portable.

    ``impl="arrow"`` (default) computes assignment/probes as one numpy
    matmul per Arrow batch (the production path — centroids × dims
    multiply-adds per row vectorize ~100× over interpreted HOF folds);
    ``impl="expr"`` keeps the pure-expression form (``assign_cell`` /
    ``probe_cells``) — bit-portable to the SQL oracle's stated sum order.
    Both are shuffle-free and asserted identical in tests.
    """
    if centroids is None:
        centroids = collect_centroids(corpus, num_centroids, id_col, vec_col)
    nvec = F.col(vec_col).cast("array<double>")
    if impl == "arrow":
        cell_col = _arrow_cell_udf(centroids, decimals)(F.col(vec_col))
        probe_col = F.explode(
            _arrow_probes_udf(centroids, nprobe, decimals)(F.col(vec_col))
        )
    else:
        cell_col = assign_cell(nvec, centroids, decimals)
        probe_col = F.explode(probe_cells(nvec, centroids, nprobe, decimals))
    assign = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nvec"),
        cell_col.alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        probe_col.alias("cell"),
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("__qvec"), F.col("__nvec")), decimals),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
    decimals: int = 6,
    seed: str = "kmeans",
    impl: str = "arrow",
) -> list[tuple[int, list[float]]]:
    """Deterministic fixed-iteration Lloyd's k-means over a DataFrame →
    sorted [(cent_id, vector)], the production coarse quantizer for
    ``topk_neighbors_ivf`` (better-balanced cells → better recall at equal
    ``nprobe`` than the first-N quantizer).

    Engine-portable determinism: init picks the ``k`` rows with the
    smallest ``md5(seed || '-' || id)`` (a hash total order, not
    ``df.sample``), assignment reuses ``assign_cell``'s rounded-cosine
    argmax expressions, and new centroid components are rounded to
    ``decimals`` after each iteration so partial-sum order in the
    per-cell means cannot leak into cell boundaries.

    Scale: each iteration is one corpus scan → k-group partial-aggregated
    mean (k × n_dims cells) → a k-row driver collect to refold centroids
    into the next iteration's expressions. Iteration count is fixed (no
    convergence collect); empty cells keep their previous centroid.
    """
    n_dims = _require_n_dims(n_dims, "kmeans_centroids")
    vd = F.col(vec_col).cast("array<double>")
    seed_rows = (
        df.select(F.col(id_col).alias("__id"), vd.alias("__v"))
        .orderBy(
            F.md5(F.concat(F.lit(f"{seed}-"), F.col("__id").cast("string"))), "__id"
        )
        .limit(k)
        .collect()
    )
    # stable cent_ids: seeds ordered by their source id
    seeds = sorted((int(r["__id"]), list(map(float, r["__v"]))) for r in seed_rows)
    cents = [(i, v) for i, (_, v) in enumerate(seeds)]
    for _ in range(iters):
        cell_col = (
            _arrow_cell_udf(cents, decimals)(F.col(vec_col))
            if impl == "arrow"
            else assign_cell(vd, cents, decimals)
        )
        assigned = df.select(
            cell_col.alias("cell"),
            *[vd[d].alias(f"x{d}") for d in range(n_dims)],
        )
        means = assigned.groupBy("cell").agg(
            *[F.avg(f"x{d}").alias(f"x{d}") for d in range(n_dims)]
        )
        new = {
            int(r["cell"]): [round(float(r[f"x{d}"]), decimals) for d in range(n_dims)]
            for r in means.collect()
        }
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents


def topk_neighbors_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    n_dims: int | None = None,
) -> DataFrame:
    """ANN: per query, exact top-k among corpus vectors sharing its
    hyperplane signature bucket → (query_id, neighbor_id, cosine).

    Recall is governed by num_planes (fewer planes → bigger buckets →
    higher recall, more work). The bucket equi-join is the scale win: the
    cross product never materializes.
    """
    sig_c = hyperplane_signatures(corpus, num_planes, id_col, vec_col, n_dims)
    sig_q = hyperplane_signatures(queries, num_planes, id_col, vec_col, n_dims)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).join(sig_c.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).join(sig_q.withColumnRenamed(id_col, "query_id"), "query_id")
    scored = (
        c.join(F.broadcast(q), "signature")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("__qvec"), F.col("__cvec")), decimals),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmeans_cluster_assignments(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    impl: str = "arrow",
) -> DataFrame:
    """Nearest-centroid cluster table → (id, cell, cosine): each vector's
    assigned cell and its rounded cosine to that centroid.

    The clustering face of the quantizer (``kmeans_centroids`` for the
    production centroids, ``collect_centroids`` for the oracle-exact
    first-N): one ``array_max`` over the centroid-sim structs per row —
    the same shuffle-free inline-argmax plan shape as ``assign_cell``,
    here keeping the winning similarity alongside the cell id. At any
    corpus size the assignment stage is a pure projection over the scan.

    ``impl="arrow"`` (default) computes the k rounded sims as one numpy
    matmul per Arrow batch and argmaxes there — same tie-break (first
    max = lowest cent_id) and the ``_rounded_sims`` association-order
    safety argument; ``impl="expr"`` keeps the pure-expression form
    (bit-portable to the SQL oracle's stated sum order). Equality
    asserted in tests.
    """
    if impl == "arrow":
        from pyspark.sql.functions import pandas_udf

        cids, cmat, cnorm = _centroid_arrays(centroids)

        @pandas_udf("struct<cell:bigint,cosine:double>")
        def best_arrow(vecs):
            import numpy as np
            import pandas as pd

            sims = _rounded_sims(vecs, cids, cmat, cnorm, decimals)
            j = np.argmax(sims, axis=1)
            return pd.DataFrame(
                {
                    "cell": cids[j].astype("int64"),
                    "cosine": sims[np.arange(len(j)), j],
                }
            )

        return df.select(
            F.col(id_col), best_arrow(F.col(vec_col)).alias("__b")
        ).select(
            F.col(id_col),
            F.col("__b.cell").alias("cell"),
            F.col("__b.cosine").alias("cosine"),
        )
    vd = F.col(vec_col).cast("array<double>")
    best = F.array_max(_centroid_sim_structs(vd, centroids, decimals))
    return df.select(
        F.col(id_col),
        (-best["neg_id"]).cast("bigint").alias("cell"),
        best["sim"].alias("cosine"),
    )


def semantic_dedup_decisions(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    impl: str = "arrow",
) -> DataFrame:
    """Semantic (embedding-space) dedup decisions, SemDeDup-style (Abbas
    et al. 2023, public): cluster the corpus with a coarse quantizer,
    compare vectors ONLY within their cluster, and drop any vector whose
    cosine to a lower-id cluster-mate reaches ``threshold`` →
    (id, cell, n_lower_dups, kept).

    Keep-the-lowest-id is the deterministic one-pass variant of the
    paper's greedy sweep: a vector is dropped iff SOME lower-id neighbor
    in its cell is near — no iteration-order dependence, exact SQL
    oracle. Scale posture: the quadratic pair scan is confined inside
    cells (the SemDeDup contract — k grows with the corpus so cell
    sizes stay bounded), the cell equi-join replaces any corpus-wide
    cross product, and vectors are normalized once so each pair verify
    is a single dot.
    """
    vd = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(_dot(vd, vd))
    # cell assignment follows the impl switch too: with self-sized k the
    # expr form inlines k·dims centroid literals (construction + planning
    # cost grows with k; per-row cost is k interpreted HOF folds), while
    # the arrow form is one numpy matmul per batch — same rounded-sim
    # parity argument as _rounded_sims, equality asserted in tests.
    if impl == "arrow":
        cell_col = _arrow_cell_udf(centroids, decimals)(F.col(vec_col))
    else:
        cell_col = assign_cell(vd, centroids, decimals)
    assigned = df.select(
        F.col(id_col),
        cell_col.cast("bigint").alias("cell"),
        F.transform(vd, lambda x: x / norm).alias("__unit"),
    )
    if impl == "arrow":
        # bucket-local pair verify (round-13, guide §4): one
        # applyInPandas per cell enumerates + dots the in-cell pairs —
        # each unit vector crosses the Python boundary once instead of
        # once per pair, the threshold rides inside the worker, and the
        # cell self-join disappears (cells are disjoint, so no
        # cross-bucket duplicates exist and no distinct is needed).
        # `assigned` then has two remaining consumers (the pair feed and
        # the output's id/cell base) — persist it so the quantizer
        # assignment UDF runs once; released via the returned frame's
        # `hold` tag or the session's ContextCleaner.
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        near = (
            _bucket_pair_dots(
                assigned, ["cell"], id_col, "__unit", decimals,
                threshold=threshold,
            )
            .groupBy("id_b")
            .agg(F.count(F.lit(1)).alias("n_lower_dups"))
            .withColumnRenamed("id_b", id_col)
        )
        out = assigned.drop("__unit").join(near, id_col, "left").select(
            F.col(id_col),
            "cell",
            F.coalesce("n_lower_dups", F.lit(0)).cast("bigint").alias(
                "n_lower_dups"
            ),
            F.col("n_lower_dups").isNull().alias("kept"),
        )
        return hold(out, assigned)
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cell", F.col("__unit").alias("__ua")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cell", F.col("__unit").alias("__ub")
    )
    cos = F.round(_dot(F.col("__ua"), F.col("__ub")), decimals)
    near = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .groupBy("id_b")
        .agg(F.count(F.lit(1)).alias("n_lower_dups"))
        .withColumnRenamed("id_b", id_col)
    )
    return assigned.drop("__unit").join(near, id_col, "left").select(
        F.col(id_col),
        "cell",
        F.coalesce("n_lower_dups", F.lit(0)).cast("bigint").alias("n_lower_dups"),
        F.col("n_lower_dups").isNull().alias("kept"),
    )


def mutual_nn_pairs(
    df: DataFrame,
    num_tables: int = 4,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    n_dims: int | None = None,
    signature_storage: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Mutual nearest-neighbor pairs → (id_a, id_b, cosine), id_a < id_b:
    each side is the other's top-1 cosine neighbor AMONG the LSH
    candidates. The alignment/dedup primitive behind bitext mining and
    cluster canonicalization — mutual-NN is a far stronger duplicate
    signal than a one-way threshold because popularity hubs (one vector
    near many) fail the reciprocity test.

    Candidates come from the same multi-table sign-LSH as
    ``cosine_near_dup_pairs`` (no corpus cross product; self-size
    ``planes_per_table`` via ``recommended_planes``). The per-id argmax
    is computed in two exact levels (round-13): each LSH bucket emits
    every member's best bucket-mate under (cosine desc, id asc) from the
    bucket-local verify (``_bucket_best_neighbor`` — |corpus| × tables
    rows leave the workers instead of every candidate pair), then ONE
    map-side-combinable ``max(struct(cosine, −dst, dst))`` folds the
    per-bucket bests; lexicographic max is associative over any
    partition of the candidate set, so this equals the argmax over the
    full candidate union (the pre-round-13 shape sort-shuffled the
    ENTIRE verified candidate table through a row_number window).
    Reciprocity is one self-equi-join of the materialized nn table on
    the reversed pair. Ties break toward the smaller neighbor id on
    both engines (the negated-id struct field)."""
    vd = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(_dot(vd, vd))
    unit = df.select(
        F.col(id_col),
        F.transform(vd, lambda x: x / norm).alias("__unit"),
    )
    sigs = multitable_signatures(
        df, num_tables, planes_per_table, id_col, vec_col, n_dims
    )
    bucket_best = _bucket_best_neighbor(
        sigs.join(unit, id_col),
        ["table", "signature"],
        id_col,
        "__unit",
        decimals,
    )
    # top-1 per src = max over (cosine desc, dst asc): lexicographic
    # struct max on (cosine, -dst) with dst carried as a tiebreak-inert
    # third field (rows equal on the first two fields share it)
    best = F.max(
        F.struct(
            F.col("cosine").alias("c"),
            (-F.col("dst")).alias("negd"),
            F.col("dst").alias("d"),
        )
    ).alias("__best")
    nn = bucket_best.groupBy("src").agg(best).select(
        "src",
        F.col("__best.d").alias("dst"),
        F.col("__best.c").alias("cosine"),
    )
    if signature_storage is not None:
        # both sides of the reciprocity join consume nn; without
        # materialization the whole candidate-generation + verify
        # pipeline runs twice. An eager localCheckpoint (not persist)
        # makes the operator self-contained: the nn blocks are owned by
        # the returned plan — reclaimed by the ContextCleaner when the
        # DataFrame is dropped. A default call holds ZERO entries in the
        # SQL cache manager (tests/test_lifecycle.py pins this); no
        # clearCache contract needed.
        nn = nn.localCheckpoint(eager=True)
    fwd = nn.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "cosine"
    ).filter(F.col("id_a") < F.col("id_b"))
    rev = nn.select(F.col("dst").alias("id_a"), F.col("src").alias("id_b"))
    return fwd.join(rev, ["id_a", "id_b"]).select("id_a", "id_b", "cosine")


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    codebook_k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """The PQ index build: one deterministic spherical k-means per
    subspace (seeds ``pq{s}`` — the same books ``pq_reconstruction_error``
    audits), returned as m driver-side codeword lists so callers can
    train ONCE per corpus and share across audit and search.

    The m subspace trainings are fully independent, so they run as
    concurrent Spark jobs from a thread pool (round-13, guide §2.6 —
    the wave-staging pattern): the driver-sync chain drops from
    m × (iters + 1) sequential collect latencies to (iters + 1) waves,
    and on a cluster the m per-iteration corpus scans overlap instead of
    serializing. Per-subspace arithmetic, seeds, and rounding are
    untouched — the books are bit-identical to the sequential build."""
    from concurrent.futures import ThreadPoolExecutor

    n = _require_n_dims(n_dims, "train_pq_codebooks")
    sub = n // m
    vd = F.col(vec_col).cast("array<double>")

    def _train(s: int) -> list[tuple[int, list[float]]]:
        subdf = corpus.select(
            F.col(id_col).alias("__id"),
            F.slice(vd, s * sub + 1, sub).alias("__v"),
        )
        return kmeans_centroids(
            subdf, k=codebook_k, iters=iters, id_col="__id",
            vec_col="__v", n_dims=sub, seed=f"pq{s}",
        )

    with ThreadPoolExecutor(max_workers=m) as pool:
        return list(pool.map(_train, range(m)))


def topk_neighbors_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    codebook_k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int | None = None,
    decimals: int = 6,
    codebooks: list | None = None,
    refine: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """IVF-PQ ANN → (query_id, neighbor_id, cosine): the full
    compressed-index serving shape — coarse centroids route the search
    to ``nprobe`` cells (IVF), and within them candidates are scored
    ASYMMETRICALLY: the raw query against each candidate's
    product-quantization reconstruction (m subspace codewords,
    log2(codebook_k)·m bits of state per vector). Combines
    ``topk_neighbors_ivf`` (routing) with the ``pq_reconstruction_error``
    codebooks (same ``pq{s}`` seeds, so audits and search share one
    index build).

    Scale posture: both codebook training collects are bounded driver
    actions (k × sub-dim floats); cell assignment AND the code→codeword
    reconstruction are literal-array lookups inside one shuffle-free
    corpus scan — at serving time codes would be precomputed columns and
    this scan becomes a pure read; search shuffles only probed cells.
    The reconstruction quantizes candidate geometry, so recall trades
    against memory exactly as in a production IVF-PQ index; scoring ties
    (candidates sharing all m codes) break toward the lower neighbor id
    on both engines.

    ``refine`` enables the production REFINEMENT stage: the ADC pass
    shortlists ``refine`` candidates per query, then the raw vectors of
    only that shortlist are re-scored exactly for the final top-k —
    recall recovers toward plain IVF's at the cost of ``refine`` exact
    dots per query instead of |probed cells| (measured ladder in
    ``tests/test_recall.py``). The refined cosine is exact, so the
    column means the same thing the brute-force operator returns.

    ``impl="arrow"`` (default) computes the coarse cell, the probe list,
    and all m subspace codes as numpy matmuls per Arrow batch — the same
    fast path (and the same rounded-sim association-order safety
    argument) as ``topk_neighbors_ivf``; beyond the per-row arithmetic,
    it also keeps the expression tree small (the expr form inlines
    num_centroids·n + m·codebook_k·sub centroid literals into interpreted
    HOF folds, whose construction and planning dominate wall time at toy
    scale and whose per-row interpretation costs ~dims lambda calls per
    centroid at any scale). ``impl="expr"`` keeps the pure-expression
    form; both are asserted identical in ``tests/test_recall.py``.
    """
    n = _require_n_dims(n_dims, "topk_neighbors_ivfpq")
    sub = n // m
    coarse = collect_centroids(corpus, num_centroids, id_col, vec_col)
    vd = F.col(vec_col).cast("array<double>")
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, m=m, codebook_k=codebook_k, iters=iters,
            id_col=id_col, vec_col=vec_col, n_dims=n,
        )
    recon_parts = []
    for s in range(m):
        book = codebooks[s]
        sub_slice = F.slice(vd, s * sub + 1, sub)
        if impl == "arrow":
            code = _arrow_cell_udf(book, decimals)(sub_slice)
        else:
            code = assign_cell(sub_slice, book, decimals)
        # one parsed literal instead of codebook_k·sub F.lit py4j calls
        # (identical Literal(double) nodes — repr round-trips exactly,
        # the D suffix pins DoubleType against SQL's decimal default)
        codewords = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"
                for _, vec in sorted(book)
            )
            + ")"
        )
        recon_parts.append(F.element_at(codewords, code + 1))
    if impl == "arrow":
        cell_col = _arrow_cell_udf(coarse, decimals)(F.col(vec_col))
        probe_col = F.explode(
            _arrow_probes_udf(coarse, nprobe, decimals)(F.col(vec_col))
        )
    else:
        cell_col = assign_cell(vd, coarse, decimals)
        probe_col = F.explode(probe_cells(vd, coarse, nprobe, decimals))
    assign = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.concat(*recon_parts).alias("__recon"),
        cell_col.alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        vd.alias("__qvec"),
        probe_col.alias("cell"),
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine_similarity(F.col("__qvec"), F.col("__recon")), decimals
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if refine is None:
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    shortlist = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(refine))
        .select("query_id", "neighbor_id")
    )
    vq = queries.select(F.col(id_col).alias("query_id"), vd.alias("__q"))
    vn = corpus.select(F.col(id_col).alias("neighbor_id"), vd.alias("__n"))
    rescored = (
        shortlist.join(F.broadcast(vq), "query_id")
        .join(vn, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("__q"), F.col("__n")), decimals),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _f_round_double(x: float, decimals: int) -> float:
    """Driver-side mirror of ``F.round`` on DoubleType. The engine goes
    through ``BigDecimal.valueOf(double)``, which parses
    ``Double.toString`` — the SHORTEST round-trip decimal, which
    Python's ``repr()`` also produces — then rounds HALF_UP. The exact
    binary expansion ``Decimal(x)`` is WRONG on halfway-repr doubles:
    ``F.round(lit(2.675), 2)`` = 2.68 on the engine while
    ``Decimal(2.675)`` = 2.67499…875 rounds to 2.67 (round-14 ADVICE
    fix; regression-tested against the engine in tests/test_r7b_ops).

    JDK dependency: ``repr`` equals ``Double.toString`` only on JDK 19
    and later (JDK-4511638 made it shortest round-trip). Older JVMs can
    print a longer decimal for rare boundary values, and the mirror may
    then round differently from the engine. The regression test
    ``test_mmr_round_mirror_matches_engine_f_round`` runs in the default
    suite, so a JVM change shows up there."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-decimals), rounding=ROUND_HALF_UP
        )
    )


def _mmr_shortlist(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist_n: int,
    id_col: str,
    vec_col: str,
    decimals: int,
) -> DataFrame:
    """The exact-cosine shortlist relation ``mmr_rerank`` collects:
    (query_id, neighbor_id, relevance, __v) — one row per (query,
    shortlisted neighbor), carrying the neighbor vector for the pair
    matrix. Shared with the entry's grid-plan registration so the
    audited subplans can never desynchronize from what the operator
    executes (round-14, ADVICE fix)."""
    shortlist = topk_neighbors_bruteforce(
        corpus, queries, k=shortlist_n, id_col=id_col, vec_col=vec_col,
        decimals=decimals,
    ).withColumnRenamed("cosine", "relevance")
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    return shortlist.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "relevance", "__v"
    )


def _mmr_pair_matrix(short: DataFrame, decimals: int) -> DataFrame:
    """Per-query pairwise rounded cosines over a shortlist relation from
    :func:`_mmr_shortlist` → (query_id, ia, ib, sim). Shared with the
    grid-plan registration (see ``_mmr_shortlist``)."""
    a = short.select(
        "query_id",
        F.col("neighbor_id").alias("ia"),
        F.col("__v").alias("__va"),
    )
    b = short.select(
        "query_id",
        F.col("neighbor_id").alias("ib"),
        F.col("__v").alias("__vb"),
    )
    return (
        a.join(F.broadcast(b), "query_id")
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "query_id", "ia", "ib",
            F.round(
                cosine_similarity(F.col("__va"), F.col("__vb")), decimals
            ).alias("sim"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist_n: int = 16,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    score_decimals: int = 7,
    collect_cap: int = 2_000_000,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k → (query_id, rank,
    neighbor_id, relevance, mmr_score): greedily pick the candidate
    maximizing ``lam·rel − (1−lam)·max_sim_to_already_selected`` from an
    exact cosine shortlist. The training-data-selection re-ranker: pure
    relevance top-k returns near-duplicate neighbors; MMR trades
    relevance for coverage of the shortlist's distinct regions.

    Greedy selection is inherently sequential in k; the shortlist and
    its pair-similarity matrix are BOUNDED relations (``shortlist_n``
    and ``shortlist_n``² rows per query — parameter-sized, like a
    codebook), so the greedy path runs on the DRIVER over two bounded
    collects (round-13, guide §5: the previous form unrolled the k
    rounds as k−1 eagerly-checkpointed argmax-join subplans — ~46
    sequential Spark jobs for k = 5 — to pick ids a few-hundred-row
    greedy loop decides; each driver sync is the scaling hazard, not
    the data). The driver mirror uses the EXACT Spark arithmetic:
    IEEE lam·rel − (1−lam)·max_sim in the same operation order over the
    engine-rounded inputs, and decimal HALF_UP rounding identical to
    ``F.round`` on DoubleType (BigDecimal-exact, via ``decimal.Decimal``
    on the exact binary double — the Bradley–Terry / greedy-set-cover
    bounded-result discipline). Relevance and pair sims are the
    engine-computed rounded values straight from the collects; only the
    two-term score expression is mirrored, and the oracle (which unrolls
    the same greedy CTE chain) hash-checks every value.

    Scale: one corpus scan builds the shortlist (same posture as
    ``topk_neighbors_bruteforce``); everything after is
    O(k · shortlist_n²) on query-bounded data. The first pick is the
    pure-relevance argmax (the MMR base case). Scores are rounded before
    every argmax so the greedy path is engine-portable; ties break on
    neighbor_id. Both collects are guarded by ``collect_cap`` (rows): the
    bound is |queries|·shortlist_n and |queries|·shortlist_n·(n−1) BY
    CONSTRUCTION, but the cap makes an unexpectedly large query set fail
    loudly instead of OOMing the driver (round-14, verdict item 7).
    """
    short = (
        _mmr_shortlist(corpus, queries, shortlist_n, id_col, vec_col, decimals)
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # bounded driver collects (queries × n and queries × n·(n−1) rows).
    # The limit sentinel bounds what ever reaches the driver: the collect
    # itself refuses above collect_cap rows — no extra count job (an
    # eager count() variant measured +0.4 s of pure driver sync at sf0.1)
    short_rows = (
        short.select("query_id", "neighbor_id", "relevance")
        .limit(collect_cap + 1)
        .collect()
    )
    if len(short_rows) > collect_cap:
        raise ValueError(
            f"mmr_rerank: shortlist exceeds collect_cap={collect_cap} "
            "rows; the driver-greedy path assumes a parameter-sized "
            "query set (rows = |queries| × shortlist_n)"
        )
    # pairs rows = Σ_q n_q·(n_q−1) ≤ |short|·(shortlist_n−1): bounded
    # before the pair matrix is ever built
    if len(short_rows) * max(int(shortlist_n) - 1, 0) > collect_cap:
        raise ValueError(
            f"mmr_rerank: pair matrix bound {len(short_rows)}×"
            f"{shortlist_n - 1} rows exceeds collect_cap={collect_cap}"
        )
    pairs = _mmr_pair_matrix(short, decimals).localCheckpoint(eager=True)

    rel_by_q: dict = {}
    for r in short_rows:
        rel_by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r[
            "relevance"
        ]
    sim_by_pair: dict = {}
    for r in pairs.collect():
        sim_by_pair[(r["query_id"], r["ia"], r["ib"])] = r["sim"]

    lam_f = float(lam)
    one_minus = 1.0 - lam_f  # the exact double F.lit(1.0 - lam) carried

    def _round_hu(x: float) -> float:
        # exact F.round-on-DoubleType mirror — see _f_round_double
        return _f_round_double(x, score_decimals)

    # Null tolerance mirrors the all-Spark plan this path replaced:
    # F.max ignores NULL sims (max over the non-null subset, NULL only if
    # all are), NULL scores sort LAST under desc ordering, and arithmetic
    # on a NULL operand yields NULL — so zero-norm vectors (NULL cosine)
    # degrade gracefully instead of raising TypeError (round-14 ADVICE).
    def _order_key(score, nid):
        return (score is None, -(score if score is not None else 0.0), nid)

    rows: list[tuple] = []  # (query_id, rank, neighbor_id, rel, score)
    for q in rel_by_q:
        cands = rel_by_q[q]
        first = min(
            cands.items(), key=lambda kv: _order_key(kv[1], kv[0])
        )[0]
        first_rel = cands[first]
        sel = [first]
        rows.append(
            (
                q, 1, first, first_rel,
                _round_hu(lam_f * first_rel)
                if first_rel is not None
                else None,
            )
        )
        for step in range(2, k + 1):
            best_key, best_id, best_score = None, None, None
            for nid, rv in cands.items():
                if nid in sel:
                    continue
                sims = [
                    s
                    for s in (sim_by_pair.get((q, nid, s2)) for s2 in sel)
                    if s is not None
                ]
                ms = max(sims) if sims else None
                score = (
                    _round_hu(lam_f * rv - one_minus * ms)
                    if rv is not None and ms is not None
                    else None
                )
                key = _order_key(score, nid)
                if best_key is None or key < best_key:
                    best_key, best_id, best_score = key, nid, score
            if best_id is None:
                break  # shortlist exhausted (k > shortlist size)
            sel.append(best_id)
            rows.append((q, step, best_id, cands[best_id], best_score))

    # id types derive from the collected shortlist schema — a string or
    # int id column round-trips instead of silently becoming long
    # (round-14 ADVICE)
    sfields = {x.name: x for x in short.schema.fields}
    out_schema = StructType(
        [
            StructField("query_id", sfields["query_id"].dataType),
            StructField("rank", IntegerType()),
            StructField("neighbor_id", sfields["neighbor_id"].dataType),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )
    return corpus.sparkSession.createDataFrame(rows, out_schema)
