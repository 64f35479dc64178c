"""Similarity search over embedding columns (array<float>).

Two tiers:

* :func:`cosine_topk` — brute-force cosine against one query vector.
  The scan is embarrassingly parallel (one pass, no shuffle except the
  final top-k, which Catalyst executes as per-partition TakeOrdered →
  driver merge of k rows per partition).  This is the exact baseline.
* :func:`lsh_bucket_topk` — random-hyperplane LSH (SimHash for cosine):
  a signed projection onto ``n_planes`` fixed seeded hyperplanes buckets
  vectors; candidates share the query's bucket (with multi-probe on
  1-bit flips), then exact cosine re-ranks candidates only.  At 100 TB
  this turns a full scan into a partition-pruned bucket lookup if the
  table is written partitioned/bucketed by ``bucket``.

All arithmetic stays in Catalyst (``aggregate``/``zip_with`` over
arrays, double precision) — no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: list[str] | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    Rounds before ranking and tie-breaks on ``id_col`` so results are
    deterministic across partitionings and engines.
    """
    q = F.array([F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine_sim(F.col(vec_col), q), round_digits).alias("sim")
    scored = df.select(id_col, *(extra_cols or []), sim)
    return (
        scored.orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, *(extra_cols or []), "sim")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy, seeded)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def simhash_bucket(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Sign-pattern bucket id: bit i = (vec · plane_i) >= 0."""
    bits = [
        F.when(_dot(vec, F.array([F.lit(float(x)) for x in p])) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        * (2**i)
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 3,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: SimHash bucketing with OR-amplification.

    ``n_tables`` independent hash tables (distinct seeded hyperplane
    sets); a row is a candidate if in ANY table its bucket equals the
    query's bucket or a 1-bit-flip neighbor (multi-probe).  Candidates
    are then exact-ranked by cosine.  Recall grows as
    1-(1-p^planes)^tables — tables buy recall, planes buy precision.

    At scale: persist the per-table bucket columns and write the table
    partitioned by ``bucket_0`` (Iceberg identity partition); the
    primary probe becomes a partition-pruned read of ~(1 + n_planes)
    buckets instead of a full scan, and secondary tables prune via
    min/max file skipping on their bucket columns.
    """
    import numpy as np

    qarr = np.array(query_vec, dtype=float)
    cond = None
    bucketed = df
    for t in range(n_tables):
        planes = hyperplanes(len(query_vec), n_planes, seed + t)
        qbucket = 0
        for i, p in enumerate(planes):
            if float(np.dot(qarr, np.array(p))) >= 0:
                qbucket |= 1 << i
        probes = [qbucket]
        if multiprobe_bits >= 1:
            probes += [qbucket ^ (1 << i) for i in range(n_planes)]
        bcol = f"bucket_{t}"
        bucketed = bucketed.withColumn(bcol, simhash_bucket(F.col(vec_col), planes))
        c = F.col(bcol).isin(probes)
        cond = c if cond is None else (cond | c)

    cand = bucketed.filter(cond)
    return cosine_topk(cand, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse
    quantization).  Pure Catalyst: one dot/norm per centroid, argmax
    via chained ``when`` — no UDF, no shuffle.

    At scale, write the table partitioned by ``cluster`` (Iceberg
    identity partition): a query probes ``nprobe`` clusters as a
    partition-pruned read instead of a full scan.
    """
    v = F.col(vec_col)
    sims = [
        cosine_sim(v, F.array(*[F.lit(float(x)) for x in c]))
        for c in centroids
    ]
    best = F.greatest(*sims) if len(sims) > 1 else sims[0]
    cluster = F.lit(0)
    for i in reversed(range(len(sims))):
        cluster = F.when(sims[i] == best, F.lit(i)).otherwise(cluster)
    return df.withColumn("cluster", cluster.cast("int"))


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    sample: int = 2048,
    iters: int = 5,
    vec_col: str = "embedding",
    seed: int = 17,
) -> list[list[float]]:
    """Tiny k-means on a driver-side sample (the standard IVF training
    shape: sample → train coarse quantizer → assign distributed).
    Deterministic for a fixed (seed, input)."""
    import numpy as np

    rows = (
        df.select(vec_col)
        .limit(sample)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=float)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            m = X[assign == j]
            if len(m):
                c = m.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C.tolist()


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: probe the ``nprobe`` centroids nearest the query,
    exact-rank candidates in those clusters only.  With
    ``nprobe == len(centroids)`` this equals exact search (recall 1)."""
    import numpy as np

    q = np.array(query_vec, dtype=float)
    q = q / max(np.linalg.norm(q), 1e-12)
    C = np.array(centroids, dtype=float)
    order = np.argsort(-(C @ q))[:nprobe]
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    cand = assigned.filter(F.col("cluster").isin([int(i) for i in order]))
    return cosine_topk(cand, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def ivf_assign_multi(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (one
    output row per (vector, cluster)).  Pure Catalyst: score every
    centroid, rank the (sim, cluster) structs with ``array_sort``,
    explode the top ``nprobe``.  Multi-assignment is the standard IVF
    dedup trick: a near-dup pair straddling a Voronoi boundary still
    collides because each side carries its runner-up cluster too.
    """
    v = F.col(vec_col)
    scored = F.array(
        *[
            F.struct(
                cosine_sim(v, F.array(*[F.lit(float(x)) for x in c])).alias("sim"),
                F.lit(i).alias("cluster"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return df.withColumn(
        "cluster", F.explode(F.transform(top, lambda s: s["cluster"]))
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    centroids: list[list[float]] | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-data dedup).

    With ``centroids`` (the 100 TB path): IVF multi-assign both sides
    to their ``nprobe`` nearest centroids and join ON ``cluster`` — a
    plain shuffle join whose per-key width is one Voronoi cell, so only
    same/adjacent-cell pairs are ever scored.  O(n^2 / k) comparisons
    instead of O(n^2), no broadcast of the fact table, and cells
    partition-prune if the table is written partitioned by ``cluster``.
    A >= ``threshold`` pair collides unless both sides' ``nprobe``
    cells are disjoint — vanishingly rare for 0.95-cosine pairs, and
    recall is tunable via ``nprobe``/``k``.

    Without ``centroids``: exact all-pairs self-join (the small-table /
    oracle baseline).  No broadcast hint either way — AQE broadcasts
    the build side at runtime only when it fits.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if centroids is not None:
        a = ivf_assign_multi(a, centroids, nprobe=nprobe, vec_col="va")
        b = ivf_assign_multi(b, centroids, nprobe=nprobe, vec_col="vb")
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .drop("cluster")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine_sim(F.col("va"), F.col("vb")), round_digits)
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def knn_join_exact(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """k-NN join: for each left row, its k nearest right rows by cosine.

    Brute-force with a broadcast-small right side (at scale use
    :func:`knn_join_bucketed`).  Round 5 moved the scoring loop from
    a per-pair Catalyst HOF (boxed JVM array fold — ~20 us/pair, and
    an |L| x |R|-row shuffle for the rank window) to an Arrow-batched
    numpy kernel: ONE BLAS matmul per row-chunk against the
    broadcast right matrix, HALF_UP 4dp rounding to match SQL
    ``round``, and the top-k (sim desc, id asc — same deterministic
    tie-break) selected in-kernel, so no pair table ever
    materializes and the rank shuffle disappears.  ~40x on the
    2000-vector corpus; identical output to the Catalyst
    formulation (per-pair HOF cosine + rank window) that the tests
    keep as a reference.  An empty right side gives an empty result.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(left_id, left.schema[left_id].dataType),
            T.StructField("neighbor_id", right.schema[right_id].dataType),
            T.StructField("sim", T.DoubleType()),
            T.StructField("rn", T.IntegerType()),
        ]
    )
    rpdf = right.select(
        F.col(right_id).alias("_rid"), F.col(vec_col).alias("_rvec")
    ).toPandas()
    if rpdf.empty:
        return left.sparkSession.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
        )
    rids = rpdf["_rid"].to_numpy()
    rmat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in rpdf["_rvec"]]
    )
    rnorm = np.linalg.norm(rmat, axis=1)
    bc = left.sparkSession.sparkContext.broadcast((rids, rmat, rnorm))
    kk = int(k)

    def run(batches):
        rids_, rmat_, rnorm_ = bc.value
        n = len(rids_)
        take = min(kk, n)
        for pdf in batches:
            if not len(pdf):
                continue
            lv = pdf["_lvec"].to_numpy()
            lidv = pdf["_lid"].to_numpy()
            o_lid: list = []
            o_nb: list = []
            o_sim: list = []
            o_rn: list = []
            # chunk rows so the sims block stays ~16 MB
            step = max(1, 2_000_000 // max(n, 1))
            for s0 in range(0, len(pdf), step):
                L = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in lv[s0:s0 + step]]
                )
                ln = np.linalg.norm(L, axis=1)
                sims = (L @ rmat_.T) / (ln[:, None] * rnorm_[None, :])
                # SQL round() is HALF_UP (away from zero), numpy's is
                # banker's — emulate HALF_UP explicitly
                sims = np.copysign(
                    np.floor(np.abs(sims) * 1e4 + 0.5), sims
                ) / 1e4
                for i in range(sims.shape[0]):
                    order = np.lexsort((rids_, -sims[i]))[:take]
                    o_lid.extend([lidv[s0 + i]] * take)
                    o_nb.extend(rids_[order])
                    o_sim.extend(sims[i, order])
                    o_rn.extend(range(1, take + 1))
            yield pd.DataFrame(
                {
                    left_id: o_lid,
                    "neighbor_id": o_nb,
                    "sim": o_sim,
                    "rn": o_rn,
                }
            )

    src = left.select(
        F.col(left_id).alias("_lid"), F.col(vec_col).alias("_lvec")
    )
    return src.mapInPandas(run, schema=schema)


def knn_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """The 100 TB k-NN join: IVF multi-assign the LEFT side to its
    ``nprobe`` nearest cells, single-assign the RIGHT side, join ON
    ``cluster`` — a plain shuffle join scoring only same-cell pairs
    (O(|L|·|R|/cells·nprobe) comparisons, no broadcast of either fact
    table), then rank per left row.  With the right table written
    partitioned by ``cluster`` (Iceberg identity partition) each probe
    is a partition-pruned read.  Approximate: a true neighbor outside
    the probed cells is missed; recall is tunable via ``nprobe`` (and
    equals 1 when ``nprobe == len(centroids)``).

    Same output shape as :func:`knn_join_exact`.
    """
    from pyspark.sql.window import Window

    l_assigned = ivf_assign_multi(
        left.select(
            F.col(left_id).alias("_lid"), F.col(vec_col).alias("_lvec")
        ),
        centroids,
        nprobe=nprobe,
        vec_col="_lvec",
    )
    r_assigned = ivf_assign(
        right.select(
            F.col(right_id).alias("_rid"), F.col(vec_col).alias("_rvec")
        ),
        centroids,
        vec_col="_rvec",
    )
    scored = (
        l_assigned.join(r_assigned, "cluster")
        .withColumn("sim", F.round(cosine_sim(F.col("_lvec"), F.col("_rvec")), 4))
        .dropDuplicates(["_lid", "_rid"])
    )
    w = Window.partitionBy("_lid").orderBy(F.col("sim").desc(), F.col("_rid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias("neighbor_id"),
            "sim",
            "rn",
        )
    )


# ---------------------------------------------------------------------
# Product quantization (PQ/ADC) — the compressed-codes ANN tier.
# ---------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    sample: int = 2048,
    iters: int = 5,
    vec_col: str = "embedding",
    seed: int = 17,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` subvectors and
    run a tiny L2 k-means (``k`` centroids) independently per subspace
    on a driver-side bounded sample — the same train-small /
    assign-distributed shape as :func:`train_ivf_centroids`.

    Returns ``codebooks[m][k][dsub]``.  At 100 TB the codes table is
    the win: ``m`` small ints per vector instead of ``d`` floats —
    a 64-dim float vector compresses 64x with m=4, k=16 — so the ADC
    scan reads ~2% of the bytes of a full-vector scan.
    """
    import numpy as np

    rows = df.select(vec_col).limit(sample).collect()
    X = np.array([r[0] for r in rows], dtype=float)
    d = X.shape[1]
    assert d % m == 0, "vector dim must divide evenly into m subvectors"
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(k, len(S)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append(C.tolist())
    return books


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays (zip_with +
    left-fold aggregate: fixed summation order, engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_assign(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` code ids (nearest centroid per
    subspace, L2).  Pure Catalyst: per subspace, an array of
    (distance, code) structs; ``array_min`` picks the argmin with a
    deterministic smaller-code tie-break (struct ordering).  No UDF,
    no shuffle — a narrow map the optimizer pipelines into the scan.

    Adds ``codes`` (array<int>, length m).  Drop the raw vector after
    encoding: the codes table + codebooks reconstruct every ADC
    distance, which is the storage win that makes 10^11-vector corpora
    scannable.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(v, j * dsub + 1, dsub)
        scored = F.array(
            *[
                F.struct(
                    _l2sq(
                        sub, F.array(*[F.lit(float(x)) for x in cent])
                    ).alias("d"),
                    F.lit(c).alias("code"),
                )
                for c, cent in enumerate(book)
            ]
        )
        codes.append(F.array_min(scored)["code"])
    return df.withColumn("codes", F.array(*codes).cast("array<int>"))


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    topk: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    EXACT; each database vector's distance is the sum over subspaces of
    a precomputed (query-subvector -> centroid) table lookup.

    The lookup table is m*k floats built driver-side; per row the scan
    does ``m`` literal-array ``element_at`` + adds — no vector math,
    no UDF, no shuffle; ``orderBy().limit()`` is a TakeOrdered (per-
    partition heaps, no global sort).  This is the scan that makes
    brute-force over 10^11 vectors feasible; stack it under
    :func:`ivf_assign` partition pruning for the full IVF-PQ shape.
    """
    if not codebooks:
        raise ValueError("pq_adc_topk requires non-empty codebooks")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    assert len(query_vec) == m * dsub
    lut = [
        [
            sum(
                (float(query_vec[j * dsub + i]) - float(cent[i])) ** 2
                for i in range(dsub)
            )
            for cent in book
        ]
        for j, book in enumerate(codebooks)
    ]
    dist = None
    for j in range(m):
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in lut[j]]),
            F.col(codes_col)[j] + 1,
        )
        dist = term if dist is None else dist + term
    return (
        codes_df.withColumn("adc_dist", F.round(dist, round_digits))
        .orderBy("adc_dist", id_col)
        .limit(topk)
        .select(id_col, "adc_dist")
    )


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Per-label mean embedding (class centroids / prototype vectors),
    output FLATTENED as ``(label, dim, mean)`` — the long form survives
    any vector width, hashes portably, and reassembles into arrays
    with one ``sort_array(collect_list(struct(dim, mean)))`` when a
    caller wants vectors back.

    One (label, dim) shuffle after a posexplode — at 10^9 vectors the
    explode is narrow (dim small ints) and the aggregate is map-side
    partial; no per-label collect, no UDF.
    """
    return (
        df.select(
            F.col(label_col),
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("dim", "x"),
        )
        .groupBy(label_col, "dim")
        .agg(
            F.count("*").alias("n"),
            # + 0.0: a mean that rounds to zero from below is -0.0 in
            # engines that preserve the sign of zero through round()
            (F.round(F.avg("x"), round_digits) + 0.0).alias("mean"),
        )
    )


def random_projection(
    df: DataFrame,
    matrix: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Dense random projection (Johnson–Lindenstrauss dimensionality
    reduction): project each vector through a fixed ``k x d`` matrix,
    output flattened as ``(id, dim, proj)``.

    The matrix is an argument (same contract as the PQ codebooks): in
    production it is a seeded Gaussian from :func:`hyperplanes`-style
    deterministic generation; callers needing an engine-portable twin
    can pass any closed-form matrix.  Per row: k zip_with/fold dot
    products — narrow, codegen'd, zero shuffle, no UDF; left-fold
    summation order makes results bit-identical across engines.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    projs = [
        F.round(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in row]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            round_digits,
        )
        for row in matrix
    ]
    return df.select(
        F.col(id_col), F.posexplode(F.array(*projs)).alias("dim", "proj")
    )


def scalar_quantize_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bins: int = 256,
) -> DataFrame:
    """Per-tensor int8 scalar quantization with reconstruction audit —
    the cheapest embedding-compression tier (4x over float32 before
    PQ's 64x; the standard first step an ANN store applies): ONE
    scalar aggregate learns the corpus [min, max], every element maps
    to ``least(floor((x - mn) / range * bins), bins - 1)`` (floor
    binning — no round-midpoint ambiguity across engines), and each
    vector reports its code checksum plus reconstruction MSE against
    bin-midpoint dequantization.

    Scale: the stats frame is ONE row (broadcast cross join), codes
    and errors are pure per-row array HOFs — zero shuffle beyond the
    1-row broadcast, no UDF, whole plan codegen'd.  Error terms sum
    with a left fold ``(a-b)*(a-b)`` (no pow), so the MSE is
    bit-identical across engines.
    """
    v_dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    stats = df.agg(
        F.min(F.array_min(v_dbl)).alias("mn"),
        F.max(F.array_max(v_dbl)).alias("mx"),
    )
    j = df.crossJoin(F.broadcast(stats))
    rng = F.col("mx") - F.col("mn")
    codes = F.transform(
        v_dbl,
        lambda x: F.least(
            F.floor((x - F.col("mn")) / rng * bins), F.lit(bins - 1)
        ).cast("long"),
    )
    dq = F.transform(
        codes, lambda q: F.col("mn") + (q + 0.5) * rng / bins
    )
    err = F.zip_with(v_dbl, dq, lambda a, b: (a - b) * (a - b))
    return j.select(
        F.col(id_col),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "code_sum"
        ),
        (
            F.aggregate(err, F.lit(0.0), lambda a, x: a + x)
            / F.size(v_dbl)
        ).alias("mse"),
    )


def kmeans_lloyd_step(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One distributed Lloyd iteration over the full vector table (the
    at-scale refinement step after :func:`train_ivf_centroids`'s
    driver-side sampling): assign every vector to its nearest centroid
    (:func:`ivf_assign`, pure Catalyst argmax), then recompute each
    centroid as the component-wise mean via the classic posexplode →
    (cluster, pos) partial-sum shape — the component sums combine
    map-side, so the shuffle is k*dim cells, never vector count.

    Returns per cluster: ``n`` (assigned vectors) and ``shift`` (L2
    distance between the old and recomputed centroid, the Lloyd
    convergence metric), rounded so engines agree despite
    sum-order float drift.  Empty clusters emit no row.
    """
    arrs = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    comp = assigned.select(
        "cluster", F.posexplode(vec_col).alias("pos", "_x")
    )
    sums = comp.groupBy("cluster", "pos").agg(
        F.sum(F.col("_x").cast("double")).alias("_s"),
        F.count("*").alias("_n"),
    )
    old = F.element_at(
        F.element_at(arrs, F.col("cluster") + 1), F.col("pos") + 1
    ).cast("double")
    d2 = F.pow(F.col("_s") / F.col("_n") - old, F.lit(2.0))
    return (
        sums.withColumn("_d2", d2)
        .groupBy("cluster")
        .agg(
            F.max("_n").alias("n"),
            F.round(F.sqrt(F.sum("_d2")), round_digits).alias("shift"),
        )
    )


def embedding_hygiene(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    norm_lo: float = 1e-6,
    norm_hi: float = 1e6,
) -> DataFrame:
    """Embedding-table hygiene audit (the guard before any ANN build:
    NaN components, zero-norm vectors and wild magnitudes silently
    poison cosine math): corpus-level counts of each defect plus the
    norm range.

    All per-vector work is in-row array HOFs (exists / ordered fold
    for the squared norm — element order is the array's own, so the
    float sum is deterministic); ONE 1-row aggregate.
    """
    v = F.col(vec_col)
    has_nan = F.exists(v, lambda x: F.isnan(x))
    sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
    )
    norm = F.sqrt(sq)
    zero = ~has_nan & (norm == 0.0)
    oob = ~has_nan & (norm > 0) & (
        (norm < norm_lo) | (norm > norm_hi)
    )
    per = df.select(
        has_nan.alias("_nan"),
        zero.alias("_zero"),
        oob.alias("_oob"),
        F.when(~has_nan, norm).alias("_norm"),
    )
    return per.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("_nan").cast("long")).alias("n_nan"),
        F.sum(F.col("_zero").cast("long")).alias("n_zero_norm"),
        F.sum(F.col("_oob").cast("long")).alias("n_norm_out_of_band"),
        F.round(F.min("_norm"), 6).alias("min_norm"),
        F.round(F.max("_norm"), 6).alias("max_norm"),
    )


def rrf_fusion(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    id_col: str = "doc_id",
    score_a: str = "score",
    score_b: str = "score",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (the standard
    lexical+semantic combiner — BM25 and cosine scores are
    incomparable, their RANKS are not): fused = 1/(k + rank_a) +
    1/(k + rank_b), docs missing from a ranking contribute nothing
    from it; top-``top`` by fused score, ties to the smaller id.

    Ranks come from one window per ranking (each bounded by its own
    candidate list, typically already top-N); the fusion is a
    full-outer id join + arithmetic, the final cut a TakeOrdered.
    """
    from pyspark.sql.window import Window

    def ranked(df: DataFrame, score_col: str, out: str) -> DataFrame:
        w = Window.orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        return df.select(
            F.col(id_col), F.row_number().over(w).alias(out)
        )
    a = ranked(ranking_a, score_a, "_ra")
    b = ranked(ranking_b, score_b, "_rb")
    j = a.join(b, id_col, "full_outer")
    contrib_a = F.when(
        F.col("_ra").isNotNull(), 1.0 / (F.lit(k) + F.col("_ra"))
    ).otherwise(F.lit(0.0))
    contrib_b = F.when(
        F.col("_rb").isNotNull(), 1.0 / (F.lit(k) + F.col("_rb"))
    ).otherwise(F.lit(0.0))
    fused = contrib_a + contrib_b
    return (
        j.select(
            id_col,
            F.col("_ra").alias("rank_a"),
            F.col("_rb").alias("rank_b"),
            F.round(fused, 9).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col).asc())
        .limit(top)
    )


def centroid_separation(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label cluster quality of an embedding column: cohesion
    (mean cosine of members to their own centroid), the nearest OTHER
    centroid's cosine, and the margin between them — the cheap
    silhouette stand-in that answers "are these labels actually
    separated in embedding space" before anyone trains on them.

    Plan: centroids reduce through the long (label, dim) form (narrow
    posexplode, map-side-combinable avg — same shape as
    ``embedding_centroids``), reassemble per label with one bounded
    sort_array(collect_list), and the member-to-centroid cosine is a
    keyed join on label (AQE broadcasts the bounded centroid side when
    it fits; no forced hint).  The inter-centroid max is a self-join
    of the |labels|-row table — never touches members.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m = df.select(F.col(label_col).alias("_l"), v.alias("_v"))
    e = m.select("_l", F.posexplode("_v").alias("_p", "_x"))
    cent = (
        e.groupBy("_l", "_p")
        .agg(F.avg("_x").alias("_mu"))
        .groupBy("_l")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_p", "_mu"))),
                lambda s: s["_mu"],
            ).alias("_cv")
        )
    )
    coh = (
        m.join(cent, "_l")
        .groupBy("_l")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.avg(cosine_sim(F.col("_v"), F.col("_cv"))).alias("_coh"),
        )
    )
    inter = (
        cent.alias("a")
        .join(cent.alias("b"), F.col("a._l") != F.col("b._l"))
        .select(
            F.col("a._l").alias("_l"),
            cosine_sim(F.col("a._cv"), F.col("b._cv")).alias("_cc"),
        )
        .groupBy("_l")
        .agg(F.max("_cc").alias("_mo"))
    )
    return coh.join(inter, "_l").select(
        F.col("_l").alias(label_col),
        F.col("n_members").cast("long").alias("n_members"),
        F.round("_coh", 4).alias("cohesion"),
        F.round("_mo", 4).alias("max_other_centroid_cos"),
        F.round(F.col("_coh") - F.col("_mo"), 4).alias("separation_margin"),
    )


def embedding_split_leakage(
    df: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    split_col: str = "split",
    centroids: list[list[float]] | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Train/eval split-contamination audit over an embedding column:
    how many eval-side rows (``split_col`` = 1) have a train-side
    (``split_col`` = 0) neighbour at cosine >= ``threshold`` — the
    embedding-space decontamination gate that catches paraphrase-level
    leaks the n-gram screen (``decontaminate``) structurally misses.
    One summary row: eval count, leaked count, leak rate, and the
    worst leaked similarity.

    Scale path mirrors ``embedding_dup_pairs``: with ``centroids``,
    IVF multi-assign BOTH splits and join on cluster — O(n^2/k)
    scored pairs, strictly cross-split, no fact broadcast; recall at
    the threshold is tunable via nprobe/k (verified 1.0 vs the exact
    oracle on this corpus).  Without ``centroids``, the exact
    cross-split join (the oracle baseline).  Per-eval max-sim reduces
    map-side before the final 1-row fold; eval rows with no candidate
    count as clean via the left join.
    """
    tr = df.filter(F.col(split_col) == 0).select(
        F.col(id_col).alias("id_t"), F.col(vec_col).alias("vt")
    )
    ev = df.filter(F.col(split_col) == 1).select(
        F.col(id_col).alias("id_e"), F.col(vec_col).alias("ve")
    )
    if centroids is not None:
        ta = ivf_assign_multi(tr, centroids, nprobe=nprobe, vec_col="vt")
        ea = ivf_assign_multi(ev, centroids, nprobe=nprobe, vec_col="ve")
        cand = (
            ea.join(ta, "cluster")
            .drop("cluster")
            .dropDuplicates(["id_e", "id_t"])
        )
    else:
        cand = ev.crossJoin(tr)
    sims = cand.select(
        "id_e", F.round(cosine_sim(F.col("ve"), F.col("vt")), 4).alias("_s")
    )
    per_eval = sims.groupBy("id_e").agg(F.max("_s").alias("_ms"))
    leak = F.when(F.col("_ms") >= threshold, 1).otherwise(0)
    joined = ev.select("id_e").join(per_eval, "id_e", "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.coalesce(leak, F.lit(0))).cast("long").alias("n_leaked"),
        F.round(
            F.avg(F.coalesce(leak, F.lit(0)).cast("double")), 6
        ).alias("leak_rate"),
        F.max(
            F.when(F.col("_ms") >= threshold, F.col("_ms"))
        ).alias("max_leak_sim"),
    )


def embedding_anisotropy(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space anisotropy audit per group (Ethayarajh 2019's
    collapse check, the geometry companion of `embedding_hygiene`):
    mean pairwise cosine of the NORMALIZED vectors without any pair
    join — the exact identity ``E[cos] = (‖Σv̂‖² − n)/(n(n−1))`` turns
    the O(n²) pair sum into per-dimension component sums.  High mean
    cosine = the space has collapsed into a cone and cosine retrieval
    is degraded.

    Plan: one map-side posexplode to (group, dim) partial sums — a
    single shuffle keyed by (group, dim), bounded by |groups|×dims —
    then a tiny per-group fold.  Also emits the mean original norm
    (pre-normalization) as the scale-drift signal.
    """
    v2 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(v2, F.lit(0.0), lambda a, x: a + x * x)
    )
    base = df.select(
        F.col(group_col).alias("grp"),
        norm.alias("nrm"),
        F.posexplode(F.transform(v2, lambda x: x / norm)).alias(
            "dim", "comp"
        ),
    )
    per_dim = base.groupBy("grp", "dim").agg(
        F.sum("comp").alias("s"),
        F.count("*").alias("nn"),
        F.sum("nrm").alias("nrmsum"),
    )
    per_grp = per_dim.groupBy("grp").agg(
        F.sum(F.col("s") * F.col("s")).alias("ssq"),
        F.max("nn").alias("n"),
        (F.sum("nrmsum") / F.sum("nn")).alias("mean_norm"),
    )
    n = F.col("n").cast("double")
    cos = (F.col("ssq") - n) / (n * (n - 1.0))
    return per_grp.filter(F.col("n") >= 2).select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round("mean_norm", 6).alias("mean_norm"),
        F.round(cos, 6).alias("mean_pairwise_cos"),
    )


def hash_tf_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 32,
) -> DataFrame:
    """Feature-hashing (hashing-trick) term-frequency doc vectors.

    The no-vocabulary embedding: token -> bucket = md5(token) mod dim,
    vector[bucket] += 1.  No dictionary broadcast, no fit phase, fixed
    memory per doc — the property that matters when the corpus
    vocabulary is 10^9 tokens: the projection is stateless, so it maps
    over any shard without coordination (Weinberger et al., "Feature
    Hashing for Large Scale Multitask Learning").

    Shape: tokenize + explode (Generate), one groupBy on (id, bucket).
    Returns sparse long format: (id, bucket, tf) — the natural shape
    for the downstream cosine join; densify only if an ANN kernel
    needs arrays.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda x: x != "",
            )
        ).alias("_w"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long")
        % dim
    )
    return toks.groupBy("id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def hash_tf_cosine_to_probe(
    vectors: DataFrame,
    probe: DataFrame,
) -> DataFrame:
    """Cosine of every hash-TF vector against one probe vector.

    The probe (|dim| rows max) broadcasts; dot products and norms fold
    in one keyed aggregate — no densification, no UDF.

    Returns per id: norm (round 6), cos (round 6; 0 when either norm
    is 0).
    """
    p = probe.select(
        F.col("bucket"), F.col("tf").cast("double").alias("_ptf")
    )
    pn = p.agg(F.sqrt(F.sum(F.col("_ptf") * F.col("_ptf"))).alias("_pn"))
    j = vectors.join(F.broadcast(p), "bucket", "left").groupBy("id").agg(
        F.sqrt(F.sum(F.col("tf").cast("double") * F.col("tf"))).alias(
            "_n"
        ),
        F.sum(
            F.col("tf").cast("double") * F.coalesce(F.col("_ptf"), F.lit(0.0))
        ).alias("_dot"),
    )
    return j.crossJoin(F.broadcast(pn)).select(
        "id",
        F.round("_n", 6).alias("norm"),
        F.round(
            F.when(
                (F.col("_n") > 0) & (F.col("_pn") > 0),
                F.col("_dot") / (F.col("_n") * F.col("_pn")),
            ).otherwise(0.0),
            6,
        ).alias("cos"),
    )


def _cluster_tables(
    df: DataFrame,
    label_col: str,
    vec_col: str,
):
    """Shared scaffolding for the cluster-quality indices.

    Returns (points, cent_long, sizes): points = (label, vec as
    array<double>), cent_long = per-(label, pos) centroid means —
    tiny (k * dim rows), sizes = per-label counts.  The vectors are
    upcast to double BEFORE any arithmetic so Spark and any SQL
    oracle fold identical IEEE doubles.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    points = df.select(
        F.col(label_col).alias("label"), vec.alias("vec")
    ).filter(F.col("vec").isNotNull())
    ex = points.select(
        "label", F.posexplode("vec").alias("pos", "val")
    )
    cent_long = ex.groupBy("label", "pos").agg(
        F.avg("val").alias("mu")
    )
    sizes = points.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    return points, cent_long, sizes


def _dists_to_centroids(points: DataFrame, cent_long: DataFrame) -> DataFrame:
    """Per point x per centroid squared L2 distance.

    The centroid table is bounded (k clusters, the quality indices
    are meaningless past a few hundred), so it collects driver-side
    and compiles into per-row expressions — the nearest_poi /
    cidr_lookup pattern: ZERO shuffles on the points, one distance
    column per cluster folded by an array HOF in dim order.
    Returns points + (clabel, d2) exploded per centroid.
    """
    rows = cent_long.collect()
    cents: dict = {}
    for r in rows:
        cents.setdefault(r["label"], {})[r["pos"]] = r["mu"]
    entries = []
    for lab in sorted(cents):
        arr = F.array(
            *[
                F.lit(cents[lab][p])
                for p in sorted(cents[lab])
            ]
        )
        d2 = F.aggregate(
            F.zip_with("vec", arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        entries.append(
            F.struct(F.lit(lab).alias("clabel"), d2.alias("d2"))
        )
    return points.select(
        "label", F.explode(F.array(*entries)).alias("_e")
    ).select("label", F.col("_e.clabel").alias("clabel"), F.col("_e.d2").alias("d2"))


def calinski_harabasz(
    df: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Calinski-Harabasz index: between/within variance ratio.

    The "did the clustering find structure" score for IVF/k-means
    partitions: CH = (B/(k-1)) / (W/(n-k)) with B = sum_c n_c
    ||mu_c - mu||^2 and W = sum_x ||x - mu_label(x)||^2.  Higher =
    tighter, better-separated clusters; compare across k to pick the
    IVF list count.

    W folds as a zero-shuffle per-row expression (own-centroid
    distance); B folds over the tiny centroid table.

    Returns one row: n, k, b, w (round 4), ch (round 6).
    """
    points, cent_long, sizes = _cluster_tables(df, label_col, vec_col)
    dists = _dists_to_centroids(points, cent_long)
    w_t = dists.filter(F.col("label") == F.col("clabel")).agg(
        F.sum("d2").alias("w"), F.count(F.lit(1)).alias("n")
    )
    gmu = cent_long.join(sizes, "label").groupBy("pos").agg(
        (
            F.sum(F.col("mu") * F.col("n_c")) / F.sum("n_c")
        ).alias("gmu")
    )
    b_t = (
        cent_long.join(gmu, "pos")
        .groupBy("label")
        .agg(
            F.sum(
                (F.col("mu") - F.col("gmu"))
                * (F.col("mu") - F.col("gmu"))
            ).alias("_sq")
        )
        .join(sizes, "label")
        .agg(
            F.sum(F.col("_sq") * F.col("n_c")).alias("b"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    out = w_t.crossJoin(F.broadcast(b_t))
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("b", 4).alias("b"),
        F.round("w", 4).alias("w"),
        F.round(
            (F.col("b") / (k - 1)) / (F.col("w") / (n - k)), 6
        ).alias("ch"),
    )


def davies_bouldin(
    df: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Davies-Bouldin index (RMS-scatter variant).

    Lower = better: DB = mean_i max_{j!=i} (s_i + s_j) / d_ij with
    s_i = sqrt(W_i / n_i) (RMS distance to own centroid — the variant
    is stated because textbooks differ) and d_ij = centroid L2
    distance.  All pairwise work happens on the k-row centroid table.

    Returns one row: k, db_index (round 6).
    """
    points, cent_long, sizes = _cluster_tables(df, label_col, vec_col)
    dists = _dists_to_centroids(points, cent_long)
    scat = (
        dists.filter(F.col("label") == F.col("clabel"))
        .groupBy("label")
        .agg(F.sqrt(F.avg("d2")).alias("s"))
    )
    a = cent_long.select(
        F.col("label").alias("la"), "pos", F.col("mu").alias("ma")
    )
    b = cent_long.select(
        F.col("label").alias("lb"), "pos", F.col("mu").alias("mb")
    )
    dij = (
        a.join(b, "pos")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("ma") - F.col("mb"))
                    * (F.col("ma") - F.col("mb"))
                )
            ).alias("d")
        )
    )
    r = (
        dij.join(scat.select(F.col("label").alias("la"), F.col("s").alias("sa")), "la")
        .join(scat.select(F.col("label").alias("lb"), F.col("s").alias("sb")), "lb")
        .groupBy("la")
        .agg(F.max((F.col("sa") + F.col("sb")) / F.col("d")).alias("_r"))
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.round(F.avg("_r"), 6).alias("db_index"),
    )


def silhouette_centroid(
    df: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster.

    The exact silhouette is O(n^2) pairwise — unusable at 10^9
    vectors; the standard scalable surrogate scores each point by
    centroid distances instead: a = d(x, own centroid), b = min over
    other centroids, s = (b - a)/max(a, b).  Per-cluster mean s close
    to 1 = well separated, near 0 = boundary, negative = likely
    mis-assigned.

    Zero shuffles on the points (compiled centroid expressions), one
    keyed rollup.  Returns per label: n, mean_silhouette (round 6).
    """
    points, cent_long, _ = _cluster_tables(df, label_col, vec_col)
    # wide form: one distance expression per centroid on each point
    # row (no point id needed, no explode) — own = the label's column,
    # b = min over the others.
    rows = cent_long.collect()
    cents: dict = {}
    for r in rows:
        cents.setdefault(r["label"], {})[r["pos"]] = r["mu"]

    def d_to(lab) -> "F.Column":
        arr = F.array(*[F.lit(cents[lab][p]) for p in sorted(cents[lab])])
        return F.sqrt(
            F.aggregate(
                F.zip_with("vec", arr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
        )

    labs = sorted(cents)
    own = F.coalesce(
        *[F.when(F.col("label") == lab, d_to(lab)) for lab in labs]
    )
    other = F.array_min(
        F.array(
            *[
                F.when(F.col("label") != lab, d_to(lab))
                for lab in labs
            ]
        )
    )
    s = (other - own) / F.greatest(own, other)
    scored = points.withColumn("_s", s)
    return scored.groupBy(F.col("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("_s"), 6).alias("mean_silhouette"),
    )


def ann_recall_at_k(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids: list[int],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of IVF-nprobe search against exact top-k, per probe.

    The ANN quality gate: before shipping an IVF index, measure what
    fraction of the TRUE k nearest neighbors the nprobe-limited search
    returns.  Pinned centroids (a bounded list, compiled into row
    expressions like ``ivf_assign_pinned``) keep the whole evaluation
    deterministic — no trained state.

    Shape: assignment is a zero-shuffle per-row argmin; both the exact
    and the IVF candidate rankings are per-probe windows over the
    (tiny) probe cross join; recall folds per probe.  At real scale
    the probe set stays bounded (it is an EVALUATION set) so the cross
    join is broadcast.

    Returns per probe id: k, n_exact (sanity), n_overlap, recall
    (round 6).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pts = vectors.select(F.col(id_col).alias("vid"), vec.alias("v"))

    def d2_to(c: list[float]) -> "F.Column":
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with("v", arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    assign = F.array_min(
        F.array(
            *[
                F.struct(d2_to(c).alias("d"), F.lit(i).alias("c"))
                for i, c in enumerate(centroids)
            ]
        )
    )["c"]
    pts = pts.withColumn("list_id", assign)
    probes = pts.filter(F.col("vid").isin(probe_ids)).select(
        F.col("vid").alias("pid"), F.col("v").alias("pv")
    )
    # probe's nprobe nearest centroid lists, as an array column
    probe_lists = probes.select(
        "pid",
        "pv",
        F.slice(
            F.array_sort(
                F.array(
                    *[
                        F.struct(
                            F.aggregate(
                                F.zip_with(
                                    "pv",
                                    F.array(
                                        *[F.lit(float(x)) for x in c]
                                    ),
                                    lambda x, y: (x - y) * (x - y),
                                ),
                                F.lit(0.0),
                                lambda acc, z: acc + z,
                            ).alias("d"),
                            F.lit(i).alias("c"),
                        )
                        for i, c in enumerate(centroids)
                    ]
                )
            ),
            1,
            nprobe,
        ).alias("_lists"),
    ).select(
        "pid", "pv", F.transform("_lists", lambda s: s["c"]).alias("lists")
    )
    joined = pts.crossJoin(F.broadcast(probe_lists)).filter(
        F.col("vid") != F.col("pid")
    )
    dist = F.aggregate(
        F.zip_with("v", "pv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    joined = joined.withColumn("_d", dist)
    w = Window.partitionBy("pid").orderBy(F.col("_d").asc(), F.col("vid").asc())
    exact = joined.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    ).select("pid", F.col("vid").alias("evid"))
    in_list = joined.filter(
        F.array_contains(F.col("lists"), F.col("list_id"))
    )
    wa = Window.partitionBy("pid").orderBy(F.col("_d").asc(), F.col("vid").asc())
    approx = in_list.withColumn("_r", F.row_number().over(wa)).filter(
        F.col("_r") <= k
    ).select("pid", F.col("vid").alias("avid"))
    hit = exact.join(
        approx,
        (exact["pid"] == approx["pid"]) & (exact["evid"] == approx["avid"]),
        "left_semi",
    )
    n_exact = exact.groupBy("pid").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hit.groupBy("pid").agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        n_exact.join(n_hit, "pid", "left")
        .select(
            F.col("pid").cast("long").alias("probe_id"),
            F.lit(k).cast("long").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def pca_power_iteration(
    df: DataFrame,
    vec_col: str,
    iterations: int = 2,
    report_dims: int = 4,
) -> DataFrame:
    """Top principal component via power iteration, covariance-free.

    The embedding-drift primitive (is one direction eating the
    variance? — the quantitative side of the anisotropy audit):
    repeatedly apply the covariance operator WITHOUT materializing the
    d*d covariance: C v = (sum_x x (x.v) - n mu (mu.v)) / (n-1) — each
    iteration is ONE pass over the exploded vectors (two keyed
    aggregates), and the d-vector v round-trips through the driver
    (bounded state, like the k-means Lloyd step).  Deterministic:
    fixed start v0 = e_0, fixed iteration count.

    Returns one row: n, lambda_top (round 3), and the first
    ``report_dims`` eigenvector components (round 4, sign fixed by
    the deterministic start).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ex = df.select(vec.alias("v")).filter(F.col("v").isNotNull()).select(
        F.posexplode("v").alias("i", "x")
    )
    stats = ex.groupBy("i").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cnt")
    ).orderBy("i").collect()
    n = stats[0]["cnt"]
    mu = [r["sx"] / n for r in stats]
    dim = len(stats)
    v = [1.0 if i == 0 else 0.0 for i in range(dim)]
    spark = df.sparkSession
    lam = 0.0
    for _ in range(iterations):
        # x.v folds per row (array HOF, v baked as literals); the
        # d-dim reduction sum_x x_i (x.v) is one keyed aggregate.
        dots = df.select(vec.alias("vv")).filter(
            F.col("vv").isNotNull()
        ).select(
            "vv",
            F.aggregate(
                F.zip_with(
                    "vv",
                    F.array(*[F.lit(float(x)) for x in v]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("_dot"),
        )
        y_rows = (
            dots.select(
                F.posexplode("vv").alias("i", "x"), F.col("_dot")
            )
            .groupBy("i")
            .agg(F.sum(F.col("x") * F.col("_dot")).alias("sxd"))
            .orderBy("i")
            .collect()
        )
        mudotv = sum(m * vi for m, vi in zip(mu, v))
        y = [
            (r["sxd"] - n * mu[r["i"]] * mudotv) / (n - 1)
            for r in y_rows
        ]
        lam = sum(a * b for a, b in zip(y, v))
        norm = sum(a * a for a in y) ** 0.5
        v = [a / norm for a in y]
    out = [(n, round(lam, 3))]
    cols = "n long, lambda_top double"
    for i in range(report_dims):
        cols += f", v{i} double"
        out[0] = out[0] + (round(v[i], 4),)
    return spark.createDataFrame(out, cols)


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
    n_candidates: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — similarity-aware
    diversity for retrieval results.

    ``diversified_topk`` caps per-source counts (a metadata proxy);
    true MMR uses the EMBEDDINGS: greedily pick argmax of
    lam*rel(d) − (1−lam)*max_{s∈S} sim(d, s) — each pick is penalized
    by its similarity to what is already selected, so near-duplicate
    hits can't crowd the context window (the RAG failure mode this
    exists to stop).

    Spark does the at-scale work: brute/ANN top-``n_candidates`` by
    cosine (one pass over 10^12 vectors via ``cosine_topk``) and the
    bounded candidate-pair similarity matrix.  The greedy selection is
    k steps over an n_candidates-sized table — bounded driver math
    (markov_attribution precedent) on 4dp-ROUNDED rel/sim values, so
    any engine's greedy (same tie-break: score desc, id asc)
    reproduces the exact pick sequence.

    Returns (rank, id, rel) for the k selected items.
    """
    spark = df.sparkSession
    cand = cosine_topk(
        df, query_vec, k=n_candidates, vec_col=vec_col, id_col=id_col
    ).select(id_col, "sim")
    cvecs = cand.join(df.select(id_col, vec_col), id_col)
    a = cvecs.select(
        F.col(id_col).alias("ia"), F.col(vec_col).alias("va")
    )
    b = cvecs.select(
        F.col(id_col).alias("ib"), F.col(vec_col).alias("vb")
    )
    pair_df = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia", "ib",
        F.round(cosine_sim(F.col("va"), F.col("vb")), 4).alias("s"),
    )
    rels = {r[id_col]: r["sim"] for r in cand.collect()}
    sims = {(r["ia"], r["ib"]): r["s"] for r in pair_df.collect()}
    chosen: list = []
    while len(chosen) < min(k, len(rels)):
        best = None
        for d, rel in rels.items():
            if d in chosen:
                continue
            if chosen:
                pen = max(sims[(d, s)] for s in chosen)
                score = lam * rel - (1 - lam) * pen
            else:
                score = rel
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d)
        chosen.append(best[1])
    rows = [(i + 1, d, rels[d]) for i, d in enumerate(chosen)]
    return spark.createDataFrame(
        rows, f"rank int, {id_col} long, rel double"
    )
