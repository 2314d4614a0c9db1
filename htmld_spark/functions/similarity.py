"""Similarity search over embedding columns (task mandate: brute-force
cosine top-k baseline + an LSH-bucketed ANN scale path).

- ``cosine_topk``: exact baseline. The query vector is a one-row broadcast
  cross-join (no shuffle of the big side); the dot product is
  ``F.aggregate(F.zip_with(...))`` — JVM-side, no Python.
- ``ann_lsh_topk``: random-hyperplane LSH. Plane projections are a pandas
  UDF (one numpy matmul per Arrow batch); candidates = rows whose bucket is
  within ``probe_hamming`` of the query bucket, then exact cosine re-rank.
  At 100 TB the bucket column is precomputed once at ingest and the probe
  becomes a selective filter (partition/bucket pruning), not a scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from htmld_spark.functions.local import local_df


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def with_cosine(df: DataFrame, query_df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Cross-join the (single-row, broadcast) query and add a ``cosine``
    column. Vectors are cast to double so the fold matches a left-to-right
    float64 accumulation (oracle-comparable)."""
    # query norm computed once on the (single-row, broadcast) side — the
    # per-row expression pays one norm fold, not two (r8; bit-identical:
    # same expression, same input, evaluated on the build side)
    qv = F.col(vec_col).cast("array<double>")
    q = query_df.select(qv.alias("_qvec"), _norm(qv).alias("_qnrm"))
    v = F.col(vec_col).cast("array<double>")
    return (
        df.crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            _dot(v, F.col("_qvec")) / (_norm(v) * F.col("_qnrm")),
        )
        .drop("_qvec", "_qnrm")
    )


def cosine_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs the row with ``id_col == query_vec_id``.
    Deterministic: ties broken by id; cosine rounded to 6 dp."""
    query = df.filter(F.col(id_col) == query_vec_id).select(vec_col)
    scored = with_cosine(df.filter(F.col(id_col) != query_vec_id), query, vec_col)
    return (
        scored.select(F.col(id_col), F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def batch_cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors in one job: the
    Q query rows ride a broadcast, every (row, query) pair is scored with
    the JVM cosine fold, and the per-query top-k is one window over a
    SKINNY projection — only (query_id, vec_id, negcos) ≈ 24 bytes/row
    ever reaches the shuffle, never the embeddings. This is the exact
    BATCH BASELINE (n×Q scored rows — gate the input like the other
    quadratic baselines); the scale path for many queries is the prebuilt
    index (``ann_ivf_query`` / ``ann_lsh_topk``) whose probes touch
    ~n_probe/n_cells of the table per query. Returns (query_id, vec_id,
    cosine) rounded to 6 dp, ordered (cosine desc, vec_id) per query —
    the ordering key is the NEGATED rounded value (negation is exact), so
    k-boundary ties resolve identically to the DuckDB oracle."""
    from pyspark.sql.window import Window

    qv = F.col(vec_col).cast("array<double>")
    q = df.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"),
        qv.alias("_qvec"),
        # query norms ride the broadcast precomputed (r8; bit-identical —
        # same expression, same input, evaluated on the build side)
        _norm(qv).alias("_qnrm"),
    )
    v = F.col(vec_col).cast("array<double>")
    scored = (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            F.col("query_id"),
            F.col(id_col),
            (
                -F.round(
                    _dot(v, F.col("_qvec")) / (_norm(v) * F.col("_qnrm")), 6
                )
            ).alias("_negcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("_negcos", id_col)
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", id_col, (-F.col("_negcos")).alias("cosine"))
    )


def _make_bucket_udf(n_planes: int, dim: int, seed: int):
    planes = np.random.RandomState(seed).randn(n_planes, dim)

    @pandas_udf("int")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, n_planes)
        out = np.zeros(len(vecs), dtype=np.int64)
        for i in range(n_planes):
            out |= bits[:, i].astype(np.int64) << i
        return pd.Series(out.astype(np.int32))

    return bucket_of


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Add a random-hyperplane LSH bucket column (precompute-at-ingest path)."""
    return df.withColumn(out_col, _make_bucket_udf(n_planes, dim, seed)(F.col(vec_col)))


def ivf_build(
    df: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
):
    """IVF index BUILD (run once at ingest, not per query): k-means
    (pyspark.ml) coarse quantizer over the embedding column. Returns
    (assigned_df, centroids) — the assigned frame carries the cell column
    (at 100 TB it is written back as a table column / partition key), and
    ``centroids`` is the small driver-side index metadata persisted with
    the table. ``ann_ivf_query`` then runs with NO fit in its plan."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.withColumn("_v", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="_v", predictionCol=out_col)
    model = km.fit(vecs)
    assigned = model.transform(vecs).drop("_v")
    centroids = [list(c) for c in model.clusterCenters()]
    return assigned, centroids


# Back-compat alias for the round-1 name.
ivf_assign = ivf_build


def _lloyd_fit(X, n_cells: int, seed: int, n_iter: int = 20):
    """Seeded Lloyd's k-means over a driver-side float64 sample. Pinned
    deterministic spec (the pure-Python oracle replays it exactly):
    init = RandomState(seed).choice of distinct rows; per iteration every
    row joins the cell minimizing ``((cents - v)**2).sum(axis=1)`` (ties →
    lowest index); centroid update = np.mean over members in input order;
    empty cells keep their previous centroid; final centroids rounded to
    6 dp (kills last-ulp sensitivity at cell boundaries)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    idx = rng.choice(len(X), size=n_cells, replace=False)
    cents = X[np.sort(idx)].copy()
    for _ in range(n_iter):
        assign = np.array(
            [int(np.argmin(((cents - v) ** 2).sum(axis=1))) for v in X]
        )
        new = cents.copy()
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        if np.array_equal(new, cents):
            break
        cents = new
    return np.round(cents, 6)


def ivf_sample_df(
    df: DataFrame,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-threshold training sample for the IVF build:
    keep rows where ``pmod(xxhash64(id), sample_mod) == 0`` — an unbiased
    ~1/sample_mod slice, replayable by the pure-Python xxh64 oracle.
    VERDICT r02 #3: the former ``orderBy(id).limit(N)`` TakeOrdered both
    materialized a per-partition top-N heap at 10^12 rows AND trained on
    the lowest-id (crawl-order-biased) slice. This plan is scan + filter —
    no sort, no TakeOrdered (plan-asserted in tests/test_plans.py)."""
    return df.select(id_col, vec_col).filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
    )


def ivf_build_sampled(
    df: DataFrame,
    n_cells: int = 16,
    sample_limit: int = 100_000,
    sample_mod: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
):
    """Production-shaped IVF build: fit the coarse quantizer with seeded
    Lloyd's k-means over a BOUNDED driver-side sample (the FAISS-style
    train-on-sample pattern — at 10^12 vectors nobody fits k-means on the
    full table), then assign every vector distributed via one Arrow batch
    pass against the broadcast centroids. Fully deterministic and
    replayable by the pure-Python oracle (fixtures/gen_golden.py), unlike
    the pyspark.ml variant (``ivf_build``), which remains for comparison.
    Returns (assigned_df, centroids:list[list[float]]).

    The sample is the unbiased hash-threshold slice ``pmod(xxhash64(id),
    sample_mod) == 0`` (``ivf_sample_df``); choose ``sample_mod ≈
    n_rows / sample_limit`` so the driver collect stays bounded. Collected
    rows are sorted by id driver-side and capped at ``sample_limit`` —
    both deterministic, both replayed by the oracle."""
    import numpy as np

    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    sample_rows = ivf_sample_df(df, sample_mod, id_col, vec_col).collect()
    sample_rows.sort(key=lambda r: r[id_col])
    sample_rows = sample_rows[:sample_limit]
    # ADVICE r03: a sample_mod too large for the table yields an empty
    # hash-threshold slice and np.stack would raise an opaque error.
    if len(sample_rows) < n_cells:
        raise ValueError(
            f"IVF training sample has {len(sample_rows)} rows < n_cells="
            f"{n_cells}; lower sample_mod (~n_rows/sample_limit) so the"
            " hash-threshold slice keeps enough rows"
        )
    X = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in sample_rows]
    )
    cents = _lloyd_fit(X, n_cells, seed)

    def assign_batches(batches):
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            vecs = batch.column(names.index(vec_col)).to_pylist()
            cells = [
                int(
                    np.argmin(
                        ((cents - np.asarray(v, dtype=np.float64)) ** 2).sum(
                            axis=1
                        )
                    )
                )
                for v in vecs
            ]
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(cells, pa.int32())],
                names=names + [out_col],
            )

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    ) + f", {out_col} int"
    assigned = df.mapInArrow(assign_batches, schema)
    return assigned, [list(c) for c in cents]


def ann_ivf_query(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec_id: int,
    k: int = 20,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF approximate top-k QUERY over a prebuilt index (``ivf_build``
    output): pick the ``n_probe`` cells whose centroids are nearest the
    query vector (driver-side math over the tiny centroid list), filter the
    assigned table to those cells, exact cosine re-rank inside them. The
    query plan is a selective filter + broadcast re-rank — no KMeans fit,
    no full scan: it touches ~n_probe/n_cells of the data (with the cell
    column as a partition/bucket key at scale, that is partition pruning).

    Raises ``ValueError`` when ``query_vec_id`` is absent."""
    import numpy as np

    qrow = (
        assigned.filter(F.col(id_col) == query_vec_id)
        .select(vec_col, cell_col)
        .head()
    )
    if qrow is None:
        raise ValueError(f"query {id_col}={query_vec_id} not found in index")
    q = np.asarray(qrow[vec_col], dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    d = ((cents - q) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]
    cands = assigned.filter(
        F.col(cell_col).isin(probe) & (F.col(id_col) != query_vec_id)
    )
    qdf = assigned.filter(F.col(id_col) == query_vec_id).select(vec_col)
    scored = with_cosine(cands, qdf, vec_col)
    return (
        scored.select(F.col(id_col), F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ann_ivf_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 20,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Convenience wrapper: build-then-query in one call (small-scale/test
    path). The cache backs the assignment for both the probe and the
    re-rank; it is unpersisted once the (small, LIMIT k) result is
    materialized. Production path: ``ivf_build`` once, persist the cell
    column + centroids, then ``ann_ivf_query`` per query."""
    assigned, centroids = ivf_build(df, n_cells, seed, vec_col)
    assigned = assigned.cache()
    try:
        result = ann_ivf_query(
            assigned, centroids, query_vec_id, k, n_probe, id_col, vec_col
        )
        rows = result.collect()
    finally:
        assigned.unpersist()
    spark = df.sparkSession
    return local_df(spark, rows, result.schema)


def sized_rows_per_band(n_rows: int, margin: int = 4) -> int:
    """Band-key SIZING RULE (VERDICT r03 #1): ``rows_per_band ≈
    log2(n_rows) + margin`` keeps the expected (band, band_key) bucket at
    ≲ 2^-margin rows for hash-uniform data, so the candidate equi-join
    stays ~O(n · bands) instead of quadratic-within-bucket. A fixed key
    width is a latent quadratic: at 10^12 rows an 8-bit key packs ~4×10^9
    vectors per bucket. Clamped to [8, 63] (keys pack into one int64).
    Recall drops as r grows — raise ``bands`` to hold it
    (recall ≈ 1-(1-p^r)^b with p = 1 - θ/π per hyperplane)."""
    import math

    return max(8, min(63, int(math.log2(max(2, n_rows))) + margin))


def _make_band_keys_udf(bands: int, rows_per_band: int, dim: int, seed: int):
    """Pandas UDF: embedding → array of ``bands`` band keys, one numpy
    matmul per Arrow batch against all bands*rows_per_band hyperplanes.
    Band b's key packs the sign bits of planes [b*r, (b+1)*r).
    Keys are int64 end-to-end (ADVICE r03: the former array<int> return
    silently truncated keys for rows_per_band ≥ 32 while the golden
    replica kept int64)."""
    if not 1 <= rows_per_band <= 63:
        raise ValueError(
            f"rows_per_band={rows_per_band} out of [1, 63] (int64 key packing)"
        )
    planes = np.random.RandomState(seed).randn(bands * rows_per_band, dim)

    @pandas_udf("array<long>")
    def band_keys_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, bands*rows_per_band)
        keys = np.zeros((len(vecs), bands), dtype=np.int64)
        for b in range(bands):
            for r in range(rows_per_band):
                keys[:, b] |= bits[:, b * rows_per_band + r].astype(np.int64) << r
        return pd.Series(list(keys))

    return band_keys_of


def lsh_band_candidates(
    df: DataFrame,
    dim: int,
    bands: int = 8,
    rows_per_band: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from banded hyperplane LSH — the join
    stage of ``lsh_near_pairs``, exposed so candidate volume is testable.
    ``checkpoint=False`` keeps the full lineage visible (plan tests);
    the default lazily checkpoints the banded frame so the band-keys UDF
    evaluates once, not once per self-join side.

    ``max_bucket_size`` caps hot buckets: (band, band_key) groups larger
    than the cap are dropped from candidate generation via a broadcast
    anti-join (the over-cap set is tiny by construction). A hot bucket is
    either exact-duplicate vectors (remove with exact dedup FIRST — a
    cluster of identical vectors collides in EVERY band, so the cap drops
    those pairs entirely) or a sign the key space is too small — prefer
    raising ``rows_per_band`` per ``sized_rows_per_band``."""
    keyed = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_keys", _make_band_keys_udf(bands, rows_per_band, dim, seed)(F.col(vec_col))
    )
    # posexplode_OUTER: the plain posexplode makes InferFiltersFromGenerate
    # insert a size(_keys) > 0 filter BETWEEN two ArrowEvalPython nodes, so
    # the band-keys UDF ran twice per row (seen in BENCH/PLANS.md). The UDF
    # always returns exactly `bands` entries, so outer is semantically
    # identical — and the plan keeps ONE Python eval per side.
    banded = keyed.select(
        F.col(id_col), F.posexplode_outer("_keys").alias("band", "band_key")
    )
    # lazy localCheckpoint: the candidate self-join references `banded` on
    # both sides and ReuseExchange does not fire for them — without it the
    # band-keys pandas UDF (the plan's only Python crossing) evaluates
    # once per side. Skinny (id, band, band_key) rows; at ingest scale the
    # key array is a precomputed column and this is its exploded table.
    if checkpoint:
        banded = banded.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "band_key")
        )
        banded = banded.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_near_pairs(
    df: DataFrame,
    dim: int,
    cosine_threshold: float = 0.3,
    bands: int = 8,
    rows_per_band: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Embedding near-duplicate PAIRS at scale: BANDED random-hyperplane
    LSH (b bands × r planes each, OR-amplified exactly like
    ``dedup.minhash_lsh_pairs``), candidate pairs via one equi-join on
    (band, band_key), exact float64 cosine verify ≥ threshold on the
    candidates only. Returns (id_a, id_b, cosine) with id_a < id_b.

    VERDICT r02 #1: the former single-band 2^8-bucket form degenerated to a
    quadratic within-bucket self-join at 10^12 rows (~4×10^9 vectors per
    bucket). Banding keeps each band key 2^r-way selective while the b-way
    OR preserves recall; the banded explode shuffles only
    (id, band, band_key) — vectors are joined back for candidates alone.
    At 100 TB band keys are precomputed at ingest as an array column.

    VERDICT r03 #1: defaults raised 4×8 → 8×16. An 8-bit band key has only
    2^8 buckets — quadratic-within-bucket in milder form (3M candidates
    from 20k sf0.1 vectors). 16-bit keys give 2^16-way selectivity and the
    8-band OR holds recall for true near-dups (cos ≈ 0.999 pairs:
    per-band hit p^16 ≈ 0.80, miss probability (1-0.80)^8 ≈ 3×10^-6).
    Size ``rows_per_band`` with ``sized_rows_per_band(n_rows)`` — 16 suits
    ~10^4..10^6 rows; 10^12 rows want ~43. ``max_bucket_size`` additionally
    caps pathological buckets (see ``lsh_band_candidates``)."""
    cand = lsh_band_candidates(
        df, dim, bands, rows_per_band, seed, id_col, vec_col,
        max_bucket_size, checkpoint,
    )
    # r8 (guide §1.2 step 2): cast + norm ONCE PER VECTOR in a projection
    # BELOW the join (projections don't get pulled up through joins), so
    # the per-candidate expression is dot + multiply + divide instead of
    # re-running both HOF norms per pair side. Bit-identical arithmetic —
    # same expressions, same inputs, evaluated earlier.
    vd = F.col(vec_col).cast("array<double>")
    vecs = df.select(
        F.col(id_col), vd.alias("_vd"), _norm(vd).alias("_nrm")
    )
    va_df = vecs.alias("va")
    vb_df = vecs.alias("vb")
    return (
        cand.join(va_df, F.col("id_a") == F.col(f"va.{id_col}"))
        .join(vb_df, F.col("id_b") == F.col(f"vb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("va._vd"), F.col("vb._vd"))
                / (F.col("va._nrm") * F.col("vb._nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )


def ann_lsh_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 20,
    dim: int = 64,
    n_planes: int = 8,
    probe_hamming: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: filter to candidates whose LSH bucket is within
    ``probe_hamming`` bits of the query's bucket, then exact cosine re-rank.
    Recall is tunable via n_planes/probe_hamming (tested vs cosine_topk)."""
    bucketed = with_lsh_bucket(df, dim, n_planes, seed, vec_col)
    qrow = bucketed.filter(F.col(id_col) == query_vec_id)
    qb = qrow.select(F.col("bucket").alias("_qbucket"), F.col(vec_col).alias("_qv"))
    cands = (
        bucketed.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qb))
        .filter(
            F.bit_count(
                F.col("bucket").cast("long").bitwiseXOR(F.col("_qbucket").cast("long"))
            )
            <= probe_hamming
        )
    )
    v = F.col(vec_col).cast("array<double>")
    qv = F.col("_qv").cast("array<double>")
    scored = cands.withColumn("cosine", _dot(v, qv) / (_norm(v) * _norm(qv)))
    return (
        scored.select(F.col(id_col), F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def semdedup_keep(
    df: DataFrame,
    n_cells: int = 16,
    tau: float = 0.95,
    sample_limit: int = 100_000,
    sample_mod: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means cluster the
    embedding space, then WITHIN each cluster treat pairs with cosine ≥
    ``tau`` as semantic duplicates and keep one representative. The
    coarse quantizer is ``ivf_build_sampled``'s deterministic seeded
    Lloyd fit (bounded hash-threshold sample + Arrow-batch assignment) —
    SemDeDup and the IVF ANN index share one set of centroids, exactly
    how a production table ships them. Representative rule:
    KEEP-LOWEST-ID — vec j is dropped iff some i < j in its cluster has
    round(cos(i, j), 6) ≥ tau. This is the deterministic one-shot
    relaxation of the paper's sweep (it can only drop MORE than a greedy
    chain, never keep a ≥-tau pair intact; the paper's
    keep-lowest-centroid-similarity choice of WHICH member survives is a
    ranking detail this swaps for id order). Returns kept
    (id, ivf_cell) rows, golden-oracled by the pure-Python replica
    (fixtures/gen_golden.py replays sample, fit, assignment, fold-order
    cosine and the keep rule exactly).

    Shape at 10^12 docs: the pairwise verify is CLUSTER-bounded — the
    paper itself accepts within-cluster quadratic cost and sizes k so
    clusters stay tractable (their 50k clusters on 12.8B docs ≈ 256k
    docs/cluster); size ``n_cells`` accordingly (≈ n_rows / 10^5). The
    assigned frame feeds the self-join twice plus the final anti-join —
    THREE consumers of the Arrow assignment pass — so it is lazily
    localCheckpointed (the plan-diamond rule; without it the assignment
    and its upstream scan re-run per consumer). The self-join shuffles
    on the cell key; the anti-join is on the id key (AQE broadcasts the
    dropped-id side — duplicates are a small fraction of the corpus).

    ``max_cell_size`` (VERDICT r06 #6 — the L27 ``max_bucket_size`` rule
    verbatim): one degenerate cell (mod collisions, near-constant
    embeddings) otherwise turns the within-cell self-join quadratic in
    CORPUS size. Cells above the cap are excluded from the pairwise pass
    via a broadcast anti-join on the (tiny) hot-cell list — their
    members are all KEPT (no dedup within), the same fail-open stance as
    L27. The golden replica applies the identical rule."""
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    assigned, _cents = ivf_build_sampled(
        df, n_cells=n_cells, sample_limit=sample_limit,
        sample_mod=sample_mod, seed=seed, id_col=id_col, vec_col=vec_col,
    )
    # r8 (guide §1.2 step 2 — per-task work): the within-cell pairwise
    # pass used to evaluate cast(vec) AND both HOF norms PER PAIR (O(cell²)
    # array allocations + folds); precompute the double-cast vector and
    # its norm ONCE PER ROW here — the checkpoint materializes them, and
    # the per-pair expression becomes dot + one multiply + divide.
    # Bit-identical: _norm/cast are the same expressions on the same
    # inputs, just evaluated once, and the pair-level arithmetic
    # round(dot/(norm_a*norm_b), 6) is unchanged op for op (measured
    # 34.2 s → see OPTIMIZATION_r08.md @ sf1.0; oracle rows unchanged).
    vd = F.col(vec_col).cast("array<double>")
    slim = assigned.select(
        F.col(id_col), F.col("ivf_cell"), vd.alias("_vd"),
        _norm(vd).alias("_nrm"),
    ).localCheckpoint(eager=False)
    dedupable = slim
    if max_cell_size is not None:
        hot = (
            slim.groupBy("ivf_cell")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_cell_size)
            .select("ivf_cell")
        )
        dedupable = slim.join(F.broadcast(hot), "ivf_cell", "left_anti")
    a, b = dedupable.alias("a"), dedupable.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.ivf_cell") == F.col("b.ivf_cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.round(
                _dot(F.col("a._vd"), F.col("b._vd"))
                / (F.col("a._nrm") * F.col("b._nrm")),
                6,
            )
            >= tau
        )
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return slim.join(dropped, id_col, "left_anti").select(id_col, "ivf_cell")
