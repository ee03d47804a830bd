"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant (deterministic sign-random-projection) is the scale path —
candidate generation touches only the query's bucket ring instead of
the full corpus. Dot products are JVM-side ``F.zip_with`` +
``F.aggregate`` (whole-stage codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import phash60_py


def _dot(a, b):
    # each element is cast to double BEFORE the multiply: float32 inputs
    # must not multiply in float32, or the result structurally diverges
    # from the DuckDB oracle's CAST(embedding AS DOUBLE[]) semantics
    # (a cosine landing on a round(,4) or threshold boundary could flip)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_to_query(embeddings: DataFrame, query_vec: list[float],
                    vec_col: str = "embedding") -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = sum(x * x for x in query_vec) ** 0.5
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))
    return embeddings.withColumn("cosine", F.round(cos, 4))


def ann_topk_bruteforce(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                        id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine (ties by id) — TakeOrderedAndProject, the
    scan is never materialized or shuffled."""
    scored = cosine_to_query(embeddings, query_vec)
    return (
        scored.select(id_col, "label", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the portable hash —
    reproducible across engines and sessions (no RNG state). ``table``
    seeds independent plane sets for OR-amplified multi-table LSH."""
    planes = []
    for p in range(n_planes):
        v = [
            ((phash60_py(f"plane|{table}|{p}|{d}") % 2001) - 1000) / 1000.0
            for d in range(dim)
        ]
        planes.append(v)
    return planes


def ann_topk_lsh(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 n_planes: int = 8, id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: score only vectors whose SRP bucket is within
    Hamming ≤ 1 of the query's bucket (bucket ring). At 100 TB the
    bucket column is precomputed+partitioned-by, so a query prunes to
    (n_planes+1)/2^n_planes of the corpus; here it is computed inline.

    Round-8 shape (guide §4.2, the same migration as ``srp_buckets`` /
    ``assign_cells``): buckets come from one vectorized Arrow batch and
    the ring members join back as a broadcast id set — exactly
    ``ann_topk_ivf``'s plan. The previous plan filtered on an inline
    bucket expression (one ``_dot`` per plane): n_planes × dim
    interpreted HOF flops per row, and because it was an inlinable
    scalar expression the filter pushed down onto the (single-split at
    bench scale) parquet scan — serializing the whole bucket
    computation onto one task. The Arrow pass accumulates each plane
    dot in component order (sequential left-to-right float64 sum — the
    ``srp_buckets`` bit-identity argument), so the bucket bits, ring
    membership, and therefore the result rows are identical; the
    value-hash gate pins it."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes)
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(q * x for q, x in zip(query_vec, plane)) > 0:
            qbits |= 1 << p
    ring = [qbits] + [qbits ^ (1 << p) for p in range(n_planes)]
    in_ring = srp_buckets(
        embeddings, dim, n_planes, n_tables=1, id_col=id_col
    ).filter(F.col("bucket").isin(ring)).select(id_col)
    # broadcast the ring id set: a mapInPandas output has no size
    # statistics, so Catalyst would shuffle the embeddings for a
    # sort-merge join; the ring is ~(n_planes+1)/2^n_planes of the
    # corpus ids — 8-byte rows (same rationale as ann_topk_ivf)
    cands = embeddings.join(F.broadcast(in_ring), on=id_col)
    return ann_topk_bruteforce(cands, query_vec, k, id_col)


def srp_buckets(embeddings: DataFrame, dim: int, n_planes: int = 8,
                n_tables: int = 4, id_col: str = "vec_id",
                vec_col: str = "embedding",
                with_norm: bool = False) -> DataFrame:
    """(id, table, bucket) triples: each vector's SRP bucket in L
    independent tables. Ids only — vectors never leave the scan.

    Plan shape (the 100 TB one): posexplode the vector once, broadcast-
    join the (dim × n_tables × n_planes)-row plane *dim table* on the
    component index, and hash-aggregate per (id, table) with one
    conditional sum per plane. Everything is whole-stage codegen with
    SMALL expression trees — the previous form inlined the plane matrix
    as n_tables × n_planes literal 64-element arrays into one
    projection, and Catalyst's optimize+codegen time on that ~2.5k-
    literal tree dominated the query at any data size (measured 2×
    wall at sf0.1; 4× warm). HOF lambdas (zip_with/aggregate) are
    worse still: CodegenFallback, ~10 µs/element interpreted.

    Bit-identity (the DuckDB oracle twin relies on it): a vector's
    exploded rows stay contiguous in one task; the broadcast join
    streams them in order, emitting plane matches per row; the partial
    aggregate folds each (id, table, plane) sum in encounter order =
    component order; and exactly one partial per group reaches the
    final agg — so every dot product is the sequential left-to-right
    float64 sum, identical to ``list_dot_product(CAST(embedding AS
    DOUBLE[]), plane)``.

    ``with_norm=True`` additionally emits ``_n2`` = Σ x² (same
    sequential-sum bits), computed in the same pass — callers that
    need per-vector norms (embedding_near_dup_pairs) get them without a
    second scan of the embeddings. ``_n2`` is identical on each of a
    vector's n_tables rows.

    Round-4 note: the plan moved from the dim-table join-aggregate
    (posexplode ⋈ broadcast plane table ⋈ groupBy — the round-3 fix
    for the literal-matrix Catalyst blowup) to a vectorized Arrow
    batch, the same shape as ``assign_cells``: the N × dim × (planes+1)
    row blowup through the hash aggregate was the dominant cost of
    ``embedding_near_dup`` at any sf. The numpy accumulation loops
    over components, so every dot (and Σ x²) remains the sequential
    left-to-right float64 sum the DuckDB twin computes — the gate's
    value-hash verifies the bit-identity."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    planes = [_hyperplanes(dim, n_planes, t) for t in range(n_tables)]

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        # (dim, n_tables * n_planes), column t*n_planes+p = plane p of
        # table t
        C = np.array(
            [planes[t][p] for t in range(n_tables) for p in range(n_planes)],
            dtype=np.float64,
        ).T
        weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            acc = np.zeros((n, C.shape[1]), dtype=np.float64)
            n2 = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                x = V[:, d]
                acc += x[:, None] * C[d]
                n2 += x * x
            # bucket bit p of table t = [dot > 0]
            bits = (acc > 0).reshape(n, n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype("int32")
            out = {
                id_col: pdf[id_col].repeat(n_tables).reset_index(drop=True),
                "table": np.tile(
                    np.arange(n_tables, dtype="int32"), n
                ),
                "bucket": buckets.reshape(-1),
            }
            if with_norm:
                out["_n2"] = np.repeat(n2, n_tables)
            yield pd.DataFrame(out)

    fields = [
        embeddings.schema[id_col],
        StructField("table", IntegerType()),
        StructField("bucket", IntegerType()),
    ]
    if with_norm:
        fields.append(StructField("_n2", DoubleType()))
    return embeddings.select(id_col, vec_col).mapInPandas(
        bucketize, StructType(fields)
    )


def ivf_centroids(dim: int, n_cells: int = 64) -> list[list[float]]:
    """Deterministic unit-norm coarse centroids from the portable hash
    (no RNG state, reproducible across engines). Hash-derived centroids
    are the training-free IVF baseline: at warehouse scale they would
    be replaced by k-means centroids persisted as a dim table, with the
    assignment/probe plan below unchanged."""
    cells = []
    for c in range(n_cells):
        v = [
            ((phash60_py(f"ivf|{c}|{d}") % 2001) - 1000) / 1000.0
            for d in range(dim)
        ]
        n = sum(x * x for x in v) ** 0.5
        cells.append([x / n for x in v])
    return cells


def assign_cells(embeddings: DataFrame, centroids: list[list[float]],
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, cell): nearest centroid by dot product for an arbitrary
    centroid table — the hash-derived ``ivf_centroids`` baseline or the
    trained ``ivf_train_kmeans`` ones (centroids are unit-norm, so
    argmax dot = argmax cosine); ties → smallest cell id.

    Vectorized Arrow path (``mapInPandas``): the previous dim-table
    plan (posexplode ⋈ broadcast centroid table ⋈ groupBy) pushed
    N × dim × n_cells rows through an aggregate — correct and
    JVM-side, but the row blowup made ``ann_cosine_topk_ivf`` the
    slowest gate query (2.8 s at sf0.1, VERDICT r3 #6). Here each
    Arrow batch computes all N × n_cells dots with one numpy
    accumulation loop over components — ~µs per batch — and the
    crossing moves only (id, vector) in and (id, cell) out.

    Bit-identity with the DuckDB twin is preserved by construction:
    the accumulator adds ``x_d · c_d`` in component order (a Python
    loop over d, vectorized across rows × cells), so every dot is the
    same sequential left-to-right float64 sum as
    ``list_dot_product(CAST(embedding AS DOUBLE[]), centroid)`` —
    numpy elementwise ops are exact IEEE float64, no pairwise-sum
    reassociation — and ``argmax`` takes the FIRST maximum, matching
    DuckDB's ``list_position(dl, list_max(dl))`` ties-to-smallest-cell
    rule. The float32 input is cast to float64 BEFORE the multiply
    (DOUBLE[] twin semantics, see ``_dot``)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    dim = len(centroids[0])

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.array(centroids, dtype=np.float64).T  # (dim, n_cells)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(pdf), C.shape[1]), dtype=np.float64)
            for d in range(dim):
                acc += V[:, d:d + 1] * C[d]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cell": np.argmax(acc, axis=1).astype("int32"),
            })

    out_schema = StructType([
        embeddings.schema[id_col], StructField("cell", IntegerType()),
    ])
    return embeddings.select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_train_kmeans(embeddings: DataFrame, dim: int, n_cells: int = 64,
                     n_iters: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[float]]:
    """Spherical Lloyd k-means over the corpus — the trained upgrade of
    the hash-derived ``ivf_centroids`` baseline (VERDICT r3 #8 / the
    documented "k-means as a persisted dim table" path).

    Each iteration is ONE Spark job: an Arrow pass that assigns every
    vector (argmax dot — spherical assignment, since centroids are
    kept unit-norm) and emits per-batch per-(cell, component) partial
    sums; the n_cells × dim aggregate (≤ 4096 rows at the defaults)
    collects to the driver, is re-normalized, and feeds the next
    iteration — exactly the "centroids are a small dim table, the data
    never re-shuffles by cell" shape that scales: each iteration
    shuffles O(batches × cells × dim) partial rows, never O(N × dim)
    components and never vectors through a join. Empty cells keep their previous
    centroid (standard Lloyd fallback). At warehouse scale the result
    is persisted and reused by every query; training runs on a sample.
    Not an oracle-gated operator (iterative float means are not
    literal-expressible SQL) — quality is pinned by
    tests/test_textops.py: trained cells must not lose recall vs the
    hash baseline on clustered data."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    part_schema = StructType([
        StructField("cell", IntegerType()),
        StructField("_d", IntegerType()),
        StructField("_s", DoubleType()),
        StructField("_c", LongType()),
    ])
    cents = ivf_centroids(dim, n_cells)
    for _ in range(n_iters):
        centroids = cents  # bind per iteration for the closure

        def partials(batches):
            import numpy as np
            import pandas as pd

            C = np.array(centroids, dtype=np.float64).T
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                acc = np.zeros((len(pdf), C.shape[1]), dtype=np.float64)
                for d in range(dim):
                    acc += V[:, d:d + 1] * C[d]
                cell = np.argmax(acc, axis=1)
                onehot = np.zeros((len(pdf), len(centroids)))
                onehot[np.arange(len(pdf)), cell] = 1.0
                sums = onehot.T @ V  # (n_cells, dim) partial sums
                counts = onehot.sum(axis=0).astype(np.int64)
                nz = counts > 0
                cells = np.nonzero(nz)[0]
                yield pd.DataFrame({
                    "cell": np.repeat(cells, dim).astype("int32"),
                    "_d": np.tile(np.arange(dim, dtype="int32"), len(cells)),
                    "_s": sums[nz].reshape(-1),
                    "_c": np.repeat(counts[cells], dim),
                })

        # assignment + per-cell component sums fused in ONE Arrow pass:
        # each batch emits at most n_cells × dim partial rows, so the
        # shuffle moves O(batches × cells × dim), never O(N × dim) —
        # the previous assign-join-posexplode form shuffled every
        # vector component per iteration
        comp = (
            embeddings.select(id_col, vec_col)
            .mapInPandas(partials, part_schema)
            .groupBy("cell", "_d")
            .agg(F.sum("_s").alias("_s"), F.sum("_c").alias("_c"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        cnts: dict[int, int] = {}
        for row in comp:
            c = int(row["cell"])
            sums.setdefault(c, [0.0] * dim)[int(row["_d"])] = float(row["_s"])
            cnts[c] = int(row["_c"])
        new_cents = []
        for c in range(n_cells):
            if cnts.get(c):
                v = [x / cnts[c] for x in sums[c]]
                n = sum(x * x for x in v) ** 0.5
                new_cents.append([x / n for x in v] if n > 0 else cents[c])
            else:
                new_cents.append(cents[c])
        cents = new_cents
    return cents


def ivf_train_kmeans_cached(embeddings: DataFrame, cache_key: str,
                            dim: int, n_cells: int = 64, n_iters: int = 5,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> list[list[float]]:
    """Persisted-centroid wrapper around :func:`ivf_train_kmeans`
    (VERDICT r4 #3): at warehouse scale trained centroids are a
    persisted dim table that every query reuses — retraining inline per
    query both misprices the operator (training dominated the gate
    query's timing) and wastes compute. Training is deterministic for a
    fixed input, so the cache is sound; ``cache_key`` must identify the
    input table (e.g. its path). When the key IS a path that exists,
    its content fingerprint (per-file size + mtime_ns) joins the cache
    key, so regenerating the table at the same path invalidates the
    cached centroids instead of silently reusing stale ones (ADVICE
    r5). Centroids persist as JSON under the fixture cache dir and
    load driver-side (they ARE the dim table — n_cells × dim
    floats)."""
    import json

    path = ivf_centroid_cache_path(cache_key, dim, n_cells, n_iters,
                                   id_col, vec_col)
    if path.exists():
        return json.loads(path.read_text())
    return _publish_first(path, ivf_train_kmeans(
        embeddings, dim, n_cells, n_iters, id_col=id_col, vec_col=vec_col))


def _publish_first(path, payload) -> list:
    """Persist ``payload`` as JSON at ``path`` unless another writer got
    there first, and return what is on disk. Under a cold-cache race
    the Spark trainer and the numpy twin-loader are not float-identical,
    so the PERSISTED file — not this caller's in-memory result — is the
    single source of truth both parity sides return (VERDICT r7 #6 /
    ADVICE r7). ``os.link`` publishes the per-pid tmp atomically and
    fails if ``path`` exists, so the first writer wins (a rename would
    let the last one overwrite it)."""
    import json
    import os

    tmp = path.with_suffix(f".tmp.{os.getpid()}")
    tmp.write_text(json.dumps(payload))
    try:
        os.link(tmp, path)
    except FileExistsError:
        pass
    finally:
        tmp.unlink()
    return json.loads(path.read_text())


def ivf_centroid_cache_path(cache_key: str, dim: int, n_cells: int,
                            n_iters: int, id_col: str = "vec_id",
                            vec_col: str = "embedding"):
    """Cache path for a trained-centroid dim table — shared by the
    Spark trainer (:func:`ivf_train_kmeans_cached`) and the oracle-side
    loader (:func:`ivf_trained_centroids_ensure`), so both resolve the
    SAME file for the same input table: whichever side runs first
    trains and persists; the other loads. The content fingerprint uses
    the path RELATIVE to ``cache_key`` (not the basename — ADVICE r6:
    same-named part files in different partition subdirs must
    fingerprint distinctly) plus size + mtime_ns per file."""
    import hashlib
    import pathlib

    from ccrawler_spark.fixtures.gen import FIXTURE_ROOT

    fp = ""
    p = pathlib.Path(cache_key)
    if p.exists():
        files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
        fp = "|".join(
            f"{f.relative_to(p) if p.is_dir() else f.name}"
            f":{f.stat().st_size}:{f.stat().st_mtime_ns}"
            for f in files
        )
    key = hashlib.md5(
        f"{cache_key}|{fp}|{dim}|{n_cells}|{n_iters}|{id_col}|{vec_col}"
        .encode()
    ).hexdigest()[:16]
    cdir = FIXTURE_ROOT / "ivf_cents"
    cdir.mkdir(parents=True, exist_ok=True)
    return cdir / f"{key}.json"


def ivf_trained_centroids_ensure(parquet_path: str, dim: int,
                                 n_cells: int = 64, n_iters: int = 2,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 ) -> list[list[float]]:
    """Load — or train WITHOUT a Spark session — the persisted trained
    centroids for ``parquet_path``. This is the oracle-side half of the
    trained-IVF value gate (VERDICT r6 #2): the DuckDB twin needs the
    same centroid dim table the Spark query uses, and the driver may
    evaluate the oracle SQL before the Spark query has trained. Parity
    does NOT require the two trainers to be float-identical — it
    requires both sides to read the same persisted JSON, which the
    shared cache path guarantees: first writer wins, the other side
    (ivf_train_kmeans_cached's path.exists() branch, or this loader)
    loads the identical floats.

    The numpy trainer is the same spherical Lloyd algorithm as
    :func:`ivf_train_kmeans` (argmax-dot assignment against unit-norm
    centroids, per-cell mean, re-normalize, empty cells keep the prior
    centroid), run single-pass over the parquet file — deterministic
    for a fixed input since there is no partition-order float
    summation."""
    import json

    import numpy as np
    import pyarrow.parquet as pq

    path = ivf_centroid_cache_path(parquet_path, dim, n_cells, n_iters,
                                   id_col, vec_col)
    if path.exists():
        return json.loads(path.read_text())
    tbl = pq.read_table(parquet_path, columns=[vec_col])
    V = np.stack(tbl[vec_col].to_pylist()).astype(np.float64)
    cents = np.array(ivf_centroids(dim, n_cells), dtype=np.float64)
    for _ in range(n_iters):
        cell = np.argmax(V @ cents.T, axis=1)
        new = cents.copy()
        for c in range(n_cells):
            m = cell == c
            if m.any():
                v = V[m].mean(axis=0)
                n = float(np.sqrt((v * v).sum()))
                if n > 0:
                    new[c] = v / n
        cents = new
    return _publish_first(path, [[float(x) for x in c] for c in cents])


def ann_topk_ivf(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 n_cells: int = 64, n_probe: int = 8,
                 id_col: str = "vec_id",
                 centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-flat approximate top-k: score only vectors whose coarse cell
    is among the query's n_probe nearest centroids. At 100 TB the cell
    column is precomputed and the table partitioned by it, so a query
    scans n_probe/n_cells of the corpus; here assignment runs inline.
    ``centroids`` defaults to the hash-derived training-free baseline
    (literal-expressible → DuckDB-gated); pass ``ivf_train_kmeans``
    output for the trained variant."""
    dim = len(query_vec)
    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells)
    qd = [
        (sum(q * x for q, x in zip(query_vec, c)), i)
        for i, c in enumerate(cents)
    ]
    probe = [i for _, i in sorted(qd, key=lambda t: (-t[0], t[1]))[:n_probe]]
    assigned = assign_cells(embeddings, cents, id_col)
    # broadcast the probed id set: a mapInPandas output has no size
    # statistics, so Catalyst would fall back to a sort-merge join and
    # shuffle the full embeddings table; the probed ids are
    # ~n_probe/n_cells of the corpus ids — 8-byte rows. (At 10^9+
    # vectors the cell column is precomputed/partitioned and this join
    # disappears entirely — see docstring.)
    cands = embeddings.join(
        F.broadcast(
            assigned.filter(F.col("cell").isin(probe)).select(id_col)
        ),
        on=id_col,
    )
    return ann_topk_bruteforce(cands, query_vec, k, id_col)


PAIR_SPREAD = 1  # partition-count multiple for the pair-distinct stage
# (explicit count, exempt from AQE coalescing; x1 vs x4 A/B'd like
# dedup.BANDED_SPREAD — task-launch overhead dominates above x1 here)

SRP_BUCKET_CAP = 1024  # drop (table, bucket) groups larger than this
# before the blocking self-join in embedding_near_dup_pairs — the same
# hygiene as dedup.BAND_CAP: a group of size m contributes O(m²) join
# rows, and a degenerate embedding cluster (e.g. all-zero vectors, which
# land in bucket 0 of every table) would otherwise send the equi-join
# quadratic. The n_planes sizing rule (see docstring) bounds the
# *uniform* regime; the cap bounds the pathological one. Recall trade: a
# true near pair inside an over-cap cluster is lost only if ALL
# n_tables of its shared buckets are over cap at once — which at the
# documented sizing means the data itself is degenerate at that point.
# The DuckDB oracle twin applies the identical cap (QUALIFY).


def embedding_near_dup_pairs(embeddings: DataFrame, dim: int,
                             threshold: float = 0.95,
                             n_planes: int = 8, n_tables: int = 4,
                             bucket_cap: int = SRP_BUCKET_CAP) -> DataFrame:
    """Embedding-cosine near-dup: OR-amplified SRP blocking — L
    independent hash tables (a true pair at cos≈0.99 lands in the same
    bucket of at least one table with P ≈ 1-(1-0.96^k)^L > 0.999),
    self-join per (table, bucket), then exact cosine ≥ threshold.

    Scale shape: the blocking self-join carries (table, bucket, id)
    triples ONLY; full vectors are re-joined per pair side after the
    pair-distinct, so the wide arrays touch O(|candidate pairs|) rows.
    ``dim`` is a parameter (schema knowledge), not a driver action.
    ``n_planes`` must grow with corpus size — buckets per table are
    2^n_planes, so pick n_planes ≈ log2(N / target_bucket_size); the
    default 8 suits ~10^5-10^6 vectors, not 10^9 (where ~20 planes and
    a persisted+partitioned bucket column are the plan)."""
    # with_norm: the SRP aggregate emits Σx² alongside the buckets, so
    # norms cost no extra scan/shuffle — and stay once per VECTOR (same
    # sequential-sum bits as the per-pair _norm they replace), not once
    # per pair: at 10^9 vectors that is the difference between O(N)
    # and O(|pairs|) norm computations
    b = srp_buckets(embeddings, dim, n_planes, n_tables, with_norm=True)
    # materialize the triples ONCE (same rationale as
    # dedup._banded_hamming_pairs): the cap window + both join sides +
    # the norms branch consume this frame, and a broadcast branch would
    # re-run the whole SRP aggregate
    b = b.localCheckpoint(eager=True)
    # pre-join group cap (see SRP_BUCKET_CAP) over the id-only triples,
    # as a broadcast anti-join against the (usually empty) over-cap
    # group list — no window shuffle/sort (dedup._drop_overfull)
    from ccrawler_spark.textops.dedup import _drop_overfull

    capped = _drop_overfull(b, ["table", "bucket"], bucket_cap)
    left = capped.select(F.col("vec_id").alias("id_a"), "table", "bucket")
    right = capped.select(F.col("vec_id").alias("id_b"), "table", "bucket")
    # explicit-count repartition at the pair-distinct (same rationale
    # as dedup._banded_hamming_pairs, guide §2.5): the blocking join
    # MULTIPLIES rows (1M candidate pairs at bench sf1.0 from 20k
    # vectors), but the distinct's exchange is sized by AQE from its
    # ~16 MB input and collapses to ~1 partition — putting the exact
    # per-pair cosine (64 interpreted flops/pair) downstream of it on
    # one task. REPARTITION_BY_NUM is exempt from coalescing. Keyed on
    # id_a ALONE: a subset of the distinct keys (so distinct reuses the
    # partitioning, no extra exchange) AND the first attach join's key
    # (so the pair stream enters it without re-shuffling).
    p = embeddings.sparkSession.sparkContext.defaultParallelism * PAIR_SPREAD
    pairs = (
        left.join(right, on=["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(p, "id_a")
        .distinct()
    )
    norms = (
        b.filter(F.col("table") == 0)
        .select("vec_id", F.sqrt("_n2").alias("_norm"))
    )
    vecn = embeddings.select("vec_id", "embedding").join(norms, on="vec_id")
    va = vecn.select(F.col("vec_id").alias("id_a"),
                     F.col("embedding").alias("v_a"),
                     F.col("_norm").alias("_norm_a"))
    vb = vecn.select(F.col("vec_id").alias("id_b"),
                     F.col("embedding").alias("v_b"),
                     F.col("_norm").alias("_norm_b"))
    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("_norm_a") * F.col("_norm_b"))
    return (
        pairs.join(va, on="id_a")
        .join(vb, on="id_b")
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
