"""Similarity search over an embedding column (``array<float>``).

Two paths:

- ``brute_force_topk``: exact cosine top-k for a set of query vectors —
  the correctness baseline.  The query set is broadcast (it's small by
  definition); each partition of the corpus scores its rows against every
  query and a windowed rank keeps k — the shuffle carries only
  ``n_queries × k`` candidates per partition thanks to rank pushdown
  semantics of TakeOrdered-style plans.
- ``lsh_topk``: the scale path — corpus and queries are bucketed by an
  integer-quantized sign-LSH (functions/vectors.py), the join happens
  per-bucket, and exact cosine ranks within the bucket.  At 100 TB the
  bucket join replaces the full cross product with ~1/2^bits of it per
  query; recall is tested against the brute-force baseline.

Scoring math is JVM-side ``zip_with``/``aggregate`` folds.  The one
deliberate exception is IVF cell assignment (``_with_sorted_cells``): a
dense seeds×dim integer argsort that higher-order-function expressions can
only run interpreted (they never enter codegen), so it uses an
Arrow-batched pandas UDF doing the same int64 math vectorized — see the
docstring there for the measured numbers and the bit-exactness argument.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_view_spark.functions.vectors import cosine_sql, lsh_bucket_sql
from polars_view_spark.operators.dedup import _reject_indexed_ids


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Rank per query by rounded score desc then id — the rounding makes
    the cut deterministic across engines/accumulation orders."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _resolve_lsh_bits(corpus: DataFrame, n_bits: int | None) -> int:
    """Default the sign-LSH width from the corpus size (VERDICT r04):
    one COUNT aggregate (metadata-fast on parquet) → integer-doubling
    ``adaptive_lsh_bits``, identical to the oracle's SQL derivation.  An
    explicit ``n_bits`` skips the count entirely."""
    if n_bits is not None:
        return n_bits
    from polars_view_spark.functions.vectors import adaptive_lsh_bits

    return adaptive_lsh_bits(corpus.count())


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: ``(query_id, neighbor_id, score, rank)``.

    ``queries`` is broadcast; self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(F.expr(cosine_sql("qvec", "cvec")), 6))
        .drop("qvec", "cvec")
    )
    return _ranked_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH bucketing.

    Both sides get an integer-quantized hyperplane bucket; candidates are
    corpus rows in the SAME bucket as the query (single equi-join — at scale
    this is a hash join on the bucket id instead of a cross product).

    ``n_bits=None`` (default) derives the bucket width from the corpus size
    (one cheap count; :func:`adaptive_lsh_bits`), so per-query candidate
    sets stay ~``LSH_TARGET_BUCKET`` rows as the corpus grows instead of
    degrading toward a scan.  Pass an explicit ``n_bits`` to pin it.
    """
    from polars_view_spark.functions.vectors import dot_sql, norm_sql

    n_bits = _resolve_lsh_bits(corpus, n_bits)
    bucket = lsh_bucket_sql(vec_col, n_bits, dim)
    # norms hoisted per-row; null-safe bucket join — see
    # embedding_near_dup_pairs for both rationales (same doubles, and no
    # IsNotNull(bucket) re-derivation in a scan-side filter)
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.expr(norm_sql(vec_col)).alias("qn"),
        F.expr(bucket).alias("bucket"),
    )
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(norm_sql(vec_col)).alias("cn"),
        F.expr(bucket).alias("cbucket"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("cbucket").eqNullSafe(F.col("bucket")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score", F.round(F.expr(f"({dot_sql('qvec', 'cvec')}) / (qn * cn)"), 6)
        )
        .drop("qvec", "cvec", "bucket", "cbucket", "qn", "cn")
    )
    return _ranked_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means-partition the corpus,
    search only the ``n_probe`` nearest cells per query.

    The classic ANN scale path: the corpus is clustered ONCE (training
    samples a fraction; assignment is one map pass), stored
    partitioned-by-cell, and every query touches n_probe/n_clusters of the
    data.  Uses pyspark.ml KMeans — results depend on the trained centroids,
    so this operator is validated by recall-vs-brute-force tests rather than
    a cross-engine oracle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="cell").fit(
        corpus_v.select("features")
    )
    assigned = model.transform(corpus_v).select("neighbor_id", "cvec", "cell")

    # per-query n_probe nearest centroids (centroids are tiny — broadcast math)
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    # one slice: k tiny rows must not fan out across defaultParallelism
    # Python slices (see _kmeans_fit / save_classifier)
    centers_df = spark.createDataFrame(
        spark.sparkContext.parallelize(centers, numSlices=1),
        "cell int, center array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    q_cells = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("dist", F.expr(
            "aggregate(zip_with(qvec, center, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ))
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("cell_rank") <= n_probe)
        .select("query_id", "qvec", "cell")
    )
    scored = (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(F.expr(cosine_sql("qvec", "cvec")), 6))
        .drop("qvec", "cvec", "cell")
    )
    return _ranked_topk(scored, k)


def _quantize_sql(vec_col: str, scale: int) -> str:
    """Integer-quantized copy of an embedding column — the same bit-exact
    cross-engine trick as the sign-LSH projection (functions/vectors.py):
    both engines run ``round(x*scale)`` on identical doubles, so every
    subsequent distance comparison is integer arithmetic."""
    return (
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )


def _seed_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    seed_mod: int,
    scale: int,
    max_seeds: int,
) -> tuple[list[int], list[str], list[list[int]]]:
    """Bounded deterministic seed centroids: the ``max_seeds`` lowest rows
    with ``id % seed_mod == 0``, collected once and inlined as
    integer-quantized literal arrays.

    Seed vectors are quantized by the SQL round on BOTH engines (float repr
    round-trips exactly; never quantize in Python — Python round() is
    half-even, SQL round is half-away-from-zero).  The seed set is BOUNDED,
    so driver memory and plan size stay O(max_seeds) on any corpus — the
    cell count is a hyperparameter like a trained index's, never
    data-proportional.  Returns ``(cell_ids, quantized_literal_arrays,
    quantized_int_rows)`` — the int rows are the engine-evaluated values
    of the literal arrays, for the vectorized assignment UDF.
    """
    # engine-evaluated quantization (never Python round — SQL round is
    # half-away-from-zero, Python's is half-even), riding the SAME collect
    # job as the seed rows themselves.  An earlier generation collected the
    # raw float vectors and re-evaluated them as a single
    # max_seeds × dim literal-cast expression on a 1-row frame: identical
    # values (float repr round-trips exactly), but analyzing the ~3.5k-node
    # literal tree cost a measured ~0.7 s PER OPERATOR CALL at
    # max_seeds=64, dim=64 — more than the corpus assignment scan itself
    # (round-10 optimization; the whole IVF/PQ family pays this helper
    # once or twice per query).
    seed_rows = (
        corpus.filter((F.col(id_col) % seed_mod) == 0)
        .select(
            F.col(id_col).alias("cell"),
            F.expr(_quantize_sql(vec_col, scale)).alias("qv"),
        )
        .orderBy("cell")
        .limit(max_seeds)
        .collect()
    )
    if not seed_rows:
        raise ValueError(f"no seed centroids: no {id_col} % {seed_mod} == 0 rows")
    cells = [int(r["cell"]) for r in seed_rows]
    seed_ints = [[int(x) for x in r["qv"]] for r in seed_rows]
    # literal form kept for API compatibility: exact integer literals now,
    # since quantization already happened in-engine
    seed_arrays = [
        "array(" + ", ".join(f"{v}L" for v in vec) + ")" for vec in seed_ints
    ]
    return cells, seed_arrays, seed_ints


def _with_sorted_cells(
    df: DataFrame,
    vec_col: str,
    cells: list[int],
    seed_ints: list[list[int]],
    scale: int,
) -> DataFrame:
    """Add ``__cells``: ALL seed cell ids sorted ascending by (squared-L2
    distance, cell id) — the probe order of an inverted-file index.

    Two implementation generations, both kept honest by the same oracle:

    1. A ``withColumn`` distance per seed + CASE chain — projection collapse
       inlined every distance into every branch and the analyzer went
       exponential in seed count (a 64-seed plan never finished analysis).
    2. One ``transform``/``zip_with``/``sort_array`` expression — O(seeds)
       plan, but higher-order functions never enter whole-stage codegen, so
       the seeds×dim integer math ran INTERPRETED: measured 1.5 ms/row at
       64 seeds × 64 dims (3 s for a 2 000-row corpus — and linear in rows,
       so hours at real scale).

    Current shape: the distance argsort is an Arrow-batched pandas UDF —
    one int64 ``(batch × dim) @ (dim × seeds)`` expansion per batch, the
    same vectorized kernel a real IVF index uses for assignment, ~100×
    the interpreted expression's throughput.  Bit-exactness with the
    DuckDB oracle is preserved because every ROUNDING step stays in SQL:
    the corpus vector is quantized by JVM ``round()`` (half-away-from-zero,
    `_quantize_sql`) and the seed ints arrive pre-quantized by the engine
    (``_seed_centroids`` evaluates the literal arrays on a 1-row frame,
    once per operator) — the UDF sees only int64 in, int64 out, and integer
    add/multiply/compare are exact in any engine.  Ties sort by ascending
    cell id via stable argsort over the (ascending-cell) seed matrix —
    the same (d, cell) order the oracle's ``ORDER BY d, cell`` produces.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    seed_mat = np.asarray(seed_ints, dtype=np.int64).T  # (dim, n_seeds)
    cell_ids = np.asarray(cells, dtype=np.int64)  # ascending by construction

    @pandas_udf("array<bigint>")
    def sorted_cells(qv: pd.Series) -> pd.Series:
        # null-tolerant: a null vector gets a null cell list (the SQL
        # expression's behavior), so callers keep their one-row-per-input
        # contract without pre-filtering
        vals = qv.to_numpy()
        mask = np.array([v is not None for v in vals])
        out = np.full(len(vals), None, dtype=object)
        if mask.any():
            mat = np.stack(vals[mask]).astype(np.int64, copy=False)  # (n, dim)
            # ||x-s||^2 = ||x||^2 - 2 x.s + ||s||^2 ; ||x||^2 constant per
            # row, so argsort order needs only the cross and seed-norm terms
            d = (seed_mat * seed_mat).sum(axis=0) - 2 * (mat @ seed_mat)
            order = np.argsort(d, axis=1, kind="stable")  # ties -> asc cell
            sorted_ids = cell_ids[order]
            out[np.flatnonzero(mask)] = list(sorted_ids)
        return pd.Series(out)

    return df.withColumn("__qv", F.expr(_quantize_sql(vec_col, scale))).withColumn(
        "__cells", sorted_cells("__qv")
    )


def ivf_flat_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    seed_mod: int = 37,
    n_probe: int = 2,
    scale: int = 1000,
    max_seeds: int = 64,
) -> DataFrame:
    """IVF-flat approximate top-k with DETERMINISTIC seed centroids.

    Same inverted-file shape as :func:`ivf_topk` (assign corpus to cells
    once; each query probes only ``n_probe`` cells) but the centroids are
    the corpus rows with ``id % seed_mod == 0`` instead of trained k-means
    centers, and cell assignment uses integer-quantized squared-L2 — which
    makes every step replicable in ANSI SQL, so the operator gets a full
    value-hash oracle instead of a rows-only check.  (``ivf_topk`` keeps
    the trained-centroid flavor; its recall is pinned in pytest.)

    Scale shape: seed collection is bounded (see :func:`_seed_centroids`);
    assignment is a pure PROJECTION against literal centroid arrays — no
    join, no shuffle of the corpus; candidates reach the scorer through one
    broadcast hash join on the cell id.
    """
    from polars_view_spark.functions.vectors import dot_sql

    cells, _seed_arrays, seed_ints = _seed_centroids(
        corpus, id_col, vec_col, seed_mod, scale, max_seeds
    )
    assigned = _ivf_rows(corpus, id_col, vec_col, cells, seed_ints, scale)
    q_cells = _ivf_probes(queries, id_col, vec_col, cells, seed_ints, scale, n_probe)
    scored = (
        assigned.join(
            F.broadcast(q_cells), F.col("cell").eqNullSafe(F.col("qcell"))
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score", F.round(F.expr(f"({dot_sql('qvec', 'cvec')}) / (qn * cn)"), 6)
        )
        .drop("qvec", "cvec", "cell", "qcell", "qn", "cn")
    )
    return _ranked_topk(scored, k)


def _ivf_rows(
    df: DataFrame, id_col: str, vec_col: str,
    cells: list[int], seed_ints: list[list[int]], scale: int,
) -> DataFrame:
    """``(neighbor_id, cvec, cn, cell)``: each non-null vector with its
    hoisted norm and nearest seed cell — the IVF corpus row, shared by
    :func:`ivf_flat_topk` and the persisted build and append so every
    path assigns a vector to the same cell.

    The explicit isnotnull(vec) filter replaces the IsNotNull(cell)
    constraint a plain equi-join on ``cell`` would infer: that inferred
    predicate substitutes the WHOLE sorted-cells expression into an
    interpreted Filter at the scan (higher-order functions keep it out of
    codegen), evaluating the 64-seed assignment twice per corpus row.
    Null vectors never matched the inner join anyway, so the cheap
    scan-side filter + a null-safe join are semantics-identical and
    assign cells ONCE (measured 2× at sf0.1).  Norms are hoisted per row
    so the candidate stage pays one dot fold, not three interpreted folds
    per pair (same doubles — see lsh_topk)."""
    from polars_view_spark.functions.vectors import norm_sql

    return _with_sorted_cells(
        df.filter(F.col(vec_col).isNotNull()), vec_col, cells, seed_ints, scale
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(norm_sql(vec_col)).alias("cn"),
        F.expr("__cells[0]").alias("cell"),
    )


def _ivf_probes(
    queries: DataFrame, id_col: str, vec_col: str,
    cells: list[int], seed_ints: list[list[int]], scale: int, n_probe: int,
) -> DataFrame:
    """``(query_id, qvec, qn, qcell)``: one row per non-null query and
    each of its first ``n_probe`` cells in (distance, cell) order — the
    probe side shared by :func:`ivf_flat_topk` and
    :func:`ivf_query_index` (null filter: see :func:`_ivf_rows`)."""
    from polars_view_spark.functions.vectors import norm_sql

    return (
        _with_sorted_cells(
            queries.filter(F.col(vec_col).isNotNull()), vec_col, cells, seed_ints, scale
        )
        .withColumn("__probe", F.expr(f"slice(__cells, 1, {n_probe})"))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(norm_sql(vec_col)).alias("qn"),
            F.explode("__probe").alias("qcell"),
        )
    )


def _write_centroids(
    spark, path: str, cells: list[int], seed_ints: list[list[int]]
) -> None:
    """Persist the bounded seed-centroid table ``(cell, sv)`` of an IVF
    or IVF-PQ index under ``path/centroids``."""
    # one slice up front: createDataFrame on local[N] makes N Python
    # slices and coalesce(1) evaluates them sequentially in the write
    # task (~5 s of Python-worker roundtrips at N=32 for a tiny table)
    spark.createDataFrame(
        spark.sparkContext.parallelize(list(zip(cells, seed_ints)), numSlices=1),
        "cell BIGINT, sv ARRAY<BIGINT>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_centroids(spark, path: str) -> tuple[list[int], list[list[int]]]:
    """``(cells, seed_ints)`` of a persisted centroid table, ascending by
    cell — the only collect an IVF query or append pays."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return [int(r["cell"]) for r in rows], [[int(x) for x in r["sv"]] for r in rows]


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 37,
    scale: int = 1000,
    max_seeds: int = 64,
) -> None:
    """Build the inverted-file index ONCE and persist it — the build/query
    split every production ANN deployment runs at 100 TB (one offline
    indexing job; many cheap query jobs that never re-scan the corpus).

    Two parquet datasets under ``path``:

    - ``centroids``: the bounded seed-centroid table (cell id + quantized
      int vector), ≤ ``max_seeds`` rows — small enough to collect in any
      query job.
    - ``assignments``: one row per corpus vector (id, vector, hoisted
      norm), PARTITIONED BY its cell — so a query job's probe join prunes
      to the probed cells' directories and the unprobed bulk of the index
      is never read (dynamic partition pruning; gated in
      tests/test_plans.py).

    Same deterministic cell math as :func:`ivf_flat_topk` (seed centroids,
    integer-quantized squared-L2), so querying the persisted index
    reproduces ivf_flat_topk bit-for-bit and shares its value-hash oracle.
    """
    cells, _seed_arrays, seed_ints = _seed_centroids(
        corpus, id_col, vec_col, seed_mod, scale, max_seeds
    )
    _write_centroids(corpus.sparkSession, path, cells, seed_ints)
    assigned = _ivf_rows(corpus, id_col, vec_col, cells, seed_ints, scale)
    # one keyed shuffle so each cell lands in exactly one task → one file
    # per cell directory, instead of numTasks × cells fragments (at real
    # scale swap for repartition(n, "cell") to bound per-file size)
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/assignments"
    )


def ivf_append_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> None:
    """Append a vector batch to a persisted IVF index — the embedding
    twin of ``dedup.minhash_append_index`` and the standard IVF practice:
    CENTROIDS ARE FROZEN AT BUILD (an IVF index's cells define its
    geometry; re-deriving them would invalidate every prior assignment),
    so appending is per-vector work — assign each new vector to its cell
    with the same Arrow kernel the build used and append the rows into
    the cell-partitioned assignments dataset.  Queries immediately see
    appended vectors through the same partition-pruned probe join.  If
    the data distribution drifts far from the build-time centroids,
    recall for new-regime vectors degrades (cells get lopsided) — that
    is a rebuild trigger, monitored in production by cell-size skew, not
    something an append can fix.

    Guards: ids already present in the index AND ids duplicated within
    the batch are rejected up front (either would duplicate neighbor
    rows, letting one vector occupy several top-k slots in every later
    probe) — the index-side check reads only the ``neighbor_id`` column
    against the broadcast batch ids.
    """
    spark = new_vectors.sparkSession
    _reject_indexed_ids(
        "ivf_append_index", new_vectors, id_col,
        spark.read.parquet(f"{path}/assignments"), "neighbor_id",
    )
    cells, seed_ints = _read_centroids(spark, path)
    assigned = _ivf_rows(new_vectors, id_col, vec_col, cells, seed_ints, scale)
    assigned.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        f"{path}/assignments"
    )


def ivf_query_index(
    spark,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_build_index`) — the cheap
    repeated half of the build/query split.

    Reads the bounded centroid table (≤ max_seeds rows, the only collect),
    assigns each query to its ``n_probe`` nearest cells with the same
    Arrow int64 kernel the build used, and probes the assignments dataset
    through a broadcast hash join on the cell partition column — so only
    the probed cells' files are scanned, however large the index is.
    Scores and ranks exactly like :func:`ivf_flat_topk`.
    """
    from polars_view_spark.functions.vectors import dot_sql

    cells, seed_ints = _read_centroids(spark, path)
    assigned = spark.read.parquet(f"{path}/assignments").withColumn(
        "cell", F.col("cell").cast("long")
    )
    q_cells = _ivf_probes(queries, id_col, vec_col, cells, seed_ints, scale, n_probe)
    scored = (
        assigned.join(F.broadcast(q_cells), F.col("cell") == F.col("qcell"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score", F.round(F.expr(f"({dot_sql('qvec', 'cvec')}) / (qn * cn)"), 6)
        )
        .drop("qvec", "cvec", "cell", "qcell", "qn", "cn")
    )
    return _ranked_topk(scored, k)


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Deterministic Johnson–Lindenstrauss-style random projection: reduce
    ``dim``-dim embeddings to ``out_dim`` integer components — the
    compression step ahead of ANN candidate generation or clustering when
    the full vectors are too wide to shuffle (at 100 TB a 4× narrower
    embedding column is 4× less shuffle/broadcast payload, same as
    :func:`quantize_int8`'s role for precision).

    Planes are md5-derived sparse integer weights in [-3, 3]
    (functions/vectors.py:rp_weight — deliberately NOT the LSH family,
    whose arithmetic weights degenerate to cyclic shifts of one pattern)
    and inputs are integer-quantized by SQL ``round`` (half-away-from-
    zero, matching the oracle; rounding never happens in Python) — every
    output component is integer arithmetic, bit-exact on any engine.

    The plane multiply itself is the Arrow int64 ``(batch × dim) @ (dim ×
    out_dim)`` matmul kernel — the same shape as the IVF assignment in
    :func:`_with_sorted_cells`, and for the same reason: the flat SQL sum
    (out_dim·dim terms) exceeds Janino's 64 KB method limit, Catalyst's
    CollapseProject defeats any staged-column split, and the interpreted
    fallback costs ~0.3 ms/row (SCALE.md r05 row).  Integer matmul is
    accumulation-order-exact, so the oracle's sequential SQL sums match
    bit-for-bit.  No shuffle; one Arrow hop.  Distance preservation on
    the test corpus is pinned in pytest: projected-vs-true cosine
    correlation and capture of high-similarity (near-dup-threshold)
    pairs through a loose projected cut.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from polars_view_spark.functions.vectors import rp_weight

    plane_t = np.asarray(
        [[rp_weight(j, d) for j in range(out_dim)] for d in range(dim)],
        dtype=np.int64,
    )  # (dim, out_dim)

    @pandas_udf("array<bigint>")
    def project(qv: pd.Series) -> pd.Series:
        vals = qv.to_numpy()
        mask = np.array([v is not None for v in vals])
        out = np.full(len(vals), None, dtype=object)
        if mask.any():
            mat = np.stack(vals[mask]).astype(np.int64, copy=False)
            out[np.flatnonzero(mask)] = list(mat @ plane_t)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        project(F.expr(_quantize_sql(vec_col, scale))).alias("rp"),
    )


def label_centroid_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    scale: int = 1000,
    max_labels: int = 64,
) -> DataFrame:
    """Nearest-class-centroid assignment over a labeled embedding corpus —
    the supervised curation primitive (label-quality audit, prototype
    auto-labeling): each vector is re-assigned to the label whose centroid
    is nearest in squared L2, and disagreements flag suspect labels.

    Scale shape (the :func:`_seed_centroids` discipline): ONE bounded
    aggregate computes per-label integer component sums + counts
    (``round(x·scale)`` quantization keeps them exact), the ≤``max_labels``
    rows are collected and inlined as literals, and assignment is a pure
    flat-expression PROJECTION — no join, no per-row Python, whole-stage
    codegen.  Driver state is O(labels·dim), a hyperparameter like an IVF
    index's nlist, never data-proportional.

    Cross-engine parity: centroid means are ``CAST(int_sum AS DOUBLE) /
    int_count`` — identical integers divide to identical doubles on any
    engine — and each distance accumulates its squared differences
    SEQUENTIALLY over dims (the Arrow kernel loops dims exactly like the
    oracle's flat left-associative sum), so both engines replay the
    identical IEEE sequence; argmin ties break toward the smaller label
    on both engines (labels ascend, ``argmin`` keeps the first).

    The distance/argmin pass is the Arrow float64 kernel rather than a
    flat SQL expression: labels·dim·2 terms exceed Janino's 64 KB method
    limit (interpreted fallback, same failure mode as
    :func:`random_projection` — see SCALE.md r05).  No join, no shuffle;
    one Arrow hop.

    Returns one row per input: ``(id, label, assigned)``.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    label_type = df.schema[label_col].dataType.simpleString()
    if label_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"label column {label_col!r} must be an integral type for "
            f"centroid assignment, got {label_type} — map string/other "
            "labels to stable integer ids first (the centroid table and "
            "the assigned column are keyed by int64 label values)"
        )
    labels_rows = (
        df.filter(F.col(label_col).isNotNull() & F.col(vec_col).isNotNull())
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("c"),
            *[
                F.expr(
                    f"sum(CAST(round(CAST({vec_col}[{d}] AS DOUBLE) * {scale}) AS BIGINT))"
                ).alias(f"s{d}")
                for d in range(dim)
            ],
        )
        .orderBy(label_col)
        .limit(max_labels + 1)
        .collect()
    )
    if not labels_rows:
        raise ValueError(f"no labeled rows: {label_col} is all null")
    if len(labels_rows) > max_labels:
        raise ValueError(
            f"more than max_labels={max_labels} distinct labels — the "
            "centroid table must stay broadcast-small; raise max_labels "
            "deliberately if the label space is really that wide"
        )
    lbls = np.asarray([int(r[label_col]) for r in labels_rows], dtype=np.int64)
    # means as exact-integer-derived doubles: identical division both sides
    sums = np.asarray(
        [[int(r[f"s{d}"]) for d in range(dim)] for r in labels_rows],
        dtype=np.float64,
    )
    counts = np.asarray([int(r["c"]) for r in labels_rows], dtype=np.float64)
    means = sums / counts[:, None]  # (labels, dim)

    # 'long', not 'int': label values are int64 end-to-end (lbls above),
    # and an int32 return would silently overflow ids past 2^31
    @pandas_udf("long")
    def nearest(qv: pd.Series) -> pd.Series:
        vals = qv.to_numpy()
        mask = np.array([v is not None for v in vals])
        out = np.full(len(vals), None, dtype=object)
        if mask.any():
            mat = np.stack(vals[mask]).astype(np.float64)  # (n, dim)
            acc = np.zeros((mat.shape[0], len(lbls)), dtype=np.float64)
            for d in range(dim):  # sequential over dims = the SQL fold order
                diff = mat[:, d, None] - means[None, :, d]
                acc += diff * diff
            # labels ascend; argmin keeps the first occurrence = smaller label
            out[np.flatnonzero(mask)] = [int(x) for x in lbls[np.argmin(acc, axis=1)]]
        return pd.Series(out)

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        nearest(F.expr(_quantize_sql(vec_col, scale))).alias("assigned"),
    )


def ivf_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    seed_mod: int = 37,
    n_probe: int = 2,
    scale: int = 1000,
    max_seeds: int = 64,
    rerank_depth: int = 20,
) -> DataFrame:
    """Two-stage IVF ANN: cheap integer candidate scoring, exact re-rank.

    The production ANN shape (:func:`ivf_flat_topk` is the one-stage
    flavor): stage 1 scores every probed-cell candidate on the
    integer-QUANTIZED codes — an int64 ``(candidates × dim) @ query``
    matmul per query group, the same Arrow kernel family as
    ``_with_sorted_cells`` — and keeps only ``rerank_depth`` per query;
    stage 2 re-scores those few survivors with the exact float cosine
    (dim-sequential fold, replaying ``dot_sql``'s IEEE order exactly like
    :func:`_pairwise_cosine_in_groups`) and emits top-``k``.  At 100 TB
    the expensive exact arithmetic touches ``rerank_depth`` rows per
    query instead of every candidate, while the final ranking is still
    exact over the shortlist.

    Cross-engine parity: quantized dots are sums of ≤ 2^28-magnitude
    integer products — exactly representable in doubles, so ANY
    accumulation order (numpy matmul here, list_dot_product in the
    oracle) yields the identical value; the approx ratio then divides
    identically rounded sqrts, ties break on neighbor_id, and the exact
    stage keeps its 6-dp ROUND in SQL.  One shuffle total (the
    ``query_id`` group), candidates arrive through the same broadcast
    cell join as :func:`ivf_flat_topk`.
    """
    import numpy as np

    from polars_view_spark.functions.vectors import norm_sql

    cells, _seed_arrays, seed_ints = _seed_centroids(
        corpus, id_col, vec_col, seed_mod, scale, max_seeds
    )

    def with_cells(df: DataFrame) -> DataFrame:
        return _with_sorted_cells(
            df.filter(F.col(vec_col).isNotNull()), vec_col, cells, seed_ints, scale
        )

    assigned = with_cells(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.expr(_quantize_sql(vec_col, scale)).alias("cq"),
        F.expr(norm_sql(vec_col)).alias("cn"),
        F.expr("__cells[0]").alias("cell"),
    )
    q_cells = (
        with_cells(queries)
        .withColumn("__probe", F.expr(f"slice(__cells, 1, {n_probe})"))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(_quantize_sql(vec_col, scale)).alias("qq"),
            F.expr(norm_sql(vec_col)).alias("qn"),
            F.explode("__probe").alias("qcell"),
        )
    )
    cand = assigned.join(
        F.broadcast(q_cells), F.col("cell").eqNullSafe(F.col("qcell"))
    ).filter(F.col("query_id") != F.col("neighbor_id"))

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        qi = np.asarray(pdf["qq"].iloc[0], dtype=np.int64)
        cmat = np.stack(pdf["cq"].to_numpy()).astype(np.int64, copy=False)
        # integer dots: exact in float64 at these magnitudes, so matmul's
        # accumulation order is irrelevant to the value
        dots = (cmat @ qi).astype(np.float64)
        q2 = float(qi @ qi)
        c2 = (cmat * cmat).sum(axis=1).astype(np.float64)
        approx = dots / (np.sqrt(q2) * np.sqrt(c2))
        nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((nid, -approx))[:rerank_depth]
        # exact stage over the shortlist: float32→float64 widening is
        # exact, dims accumulate SEQUENTIALLY to replay dot_sql's fold
        qv = np.asarray(pdf["qvec"].iloc[0], dtype=np.float64)
        cvs = np.stack(pdf["cvec"].to_numpy()[order]).astype(np.float64)
        acc = np.zeros(len(order), dtype=np.float64)
        for d in range(cvs.shape[1]):
            acc = acc + qv[d] * cvs[:, d]
        cos = acc / (
            float(pdf["qn"].iloc[0]) * pdf["cn"].to_numpy(dtype=np.float64)[order]
        )
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy(dtype=np.int64)[order],
                "neighbor_id": nid[order],
                "cosine": cos,
            }
        )

    shortlisted = cand.groupBy("query_id").applyInPandas(
        rerank, "query_id long, neighbor_id long, cosine double"
    )
    scored = shortlisted.withColumn("score", F.round("cosine", 6)).drop("cosine")
    return _ranked_topk(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    seed_mod: int = 37,
    scale: int = 1000,
    max_seeds: int = 64,
    max_cell_size: int = 10_000,
    max_group_size: int = 20_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., SemDeDup,
    arXiv:2303.09540 — public paper): cluster the embedding space, then
    drop documents whose embedding has a high-cosine neighbor *within the
    same cluster cell*.

    Pipeline shape (all JVM-side, two shuffles total):

    1. Assign every vector to a cell — deterministic seed centroids +
       integer-quantized squared-L2 argmin (:func:`_seed_centroids`), a
       pure projection, so the oracle replicates it bit-exactly (the paper
       uses trained k-means; the seed variant keeps the same inverted-file
       geometry while staying ANSI-SQL-replicable, exactly like
       :func:`ivf_flat_topk` vs :func:`ivf_topk`).
    2. Self-join WITHIN the cell (hash join on the cell id — never a cross
       product; the cell count is the knob that bounds the quadratic term,
       scaled like an IVF index's nlist ~ √n at 100 TB).
    3. Verdict per vector: ``kept = false`` iff some SAME-CELL vector with
       a smaller id has cosine ≥ threshold (first-occurrence-wins, the
       same deterministic keep rule as dedup_exact; the paper keeps the
       member farthest from the centroid — any one-per-group choice is
       valid, ours is cross-engine reproducible).

    Hot-cell guard (same convention as dedup._band_table): cells holding
    more than ``max_cell_size`` vectors skip pair generation entirely —
    their members are kept verbatim and flagged via ``cell_capped`` so the
    drop is visible, not silent.  The size count is a window over the cell
    id, sharing the hashpartitioning the self-join needs.

    **Executor memory contract** (ADVICE r03): each surviving cell is one
    Arrow group in the pair kernel, which allocates two (n × n) float64
    arrays — **16·n² bytes on one executor** (~1.6 GB at the 10 000
    ``max_cell_size`` default).  ``max_group_size`` is the kernel's hard
    backstop past which it raises instead of OOM-ing; because
    ``max_cell_size`` < ``max_group_size`` by default, an over-full cell
    is *capped* (kept verbatim, flagged) before the backstop can fire —
    tune both together if you raise the cell cap.

    Returns ``(vec_id, cell, cell_capped, kept)`` — one row per input
    vector; downstream keeps ``kept`` rows (the dedup_apply analogue).
    """
    cells, _seed_arrays, seed_ints = _seed_centroids(
        corpus, id_col, vec_col, seed_mod, scale, max_seeds
    )
    assigned = _with_sorted_cells(corpus, vec_col, cells, seed_ints, scale).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.expr("__cells[0]").alias("cell"),
    )
    sized = assigned.withColumn(
        "cell_capped",
        F.count(F.lit(1)).over(Window.partitionBy("cell")) > max_cell_size,
    )
    # v-notnull mirrors the old equi-join's null behavior (a null vector's
    # null cell never matched), and the NULL-SAFE join below keeps Catalyst
    # from inferring IsNotNull(cell) — which would push the whole 64-seed
    # assignment expression into an interpreted scan-side Filter and
    # evaluate it twice per row (see _ivf_rows).
    pairable = sized.filter(~F.col("cell_capped") & F.col("v").isNotNull())
    # the quadratic-within-cell verify runs in the shared per-group Arrow
    # kernel — the within-cell pair grid grows with the square of cell
    # membership, and the interpreted fold went super-linear in wall-clock
    # on a 10× corpus (44 s) where the kernel stays linear-ish
    from polars_view_spark.functions.vectors import norm_sql

    keyed = pairable.select(
        F.col("vec_id").alias("id"),
        "v",
        F.expr(norm_sql("v")).alias("nv"),
        "cell",
    )
    dropped = (
        _pairwise_cosine_in_groups(keyed, "cell", threshold, max_group_size)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    return (
        sized.join(dropped.withColumn("__drop", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            "cell_capped",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def _pairwise_cosine_in_groups(
    keyed: DataFrame, group_col: str, threshold: float,
    max_group_size: int = 20_000,
) -> DataFrame:
    """All (id1 < id2, cosine) pairs with cosine ≥ threshold WITHIN each
    ``group_col`` group of ``keyed (id, v, nv, <group_col>)`` — the shared
    quadratic-within-group kernel behind embedding near-dup and SemDeDup.

    ``applyInPandas`` over the groups: each vector crosses Arrow once
    (per-row, not per-pair), and the group's pairwise dot matrix is dim
    sequential outer-product accumulations — vectorized over the pair grid
    but element-SEQUENTIAL over dims, so every pair's double replays the
    exact IEEE order of ``dot_sql``'s fold / DuckDB's list_dot_product.
    The UDF emits RAW cosines pre-filtered with a 1e-6 slack; the 6-dp
    ROUND and the exact threshold cut stay in SQL (SQL round is half-away-
    from-zero, numpy's is half-even — rounding never happens in Python).
    Norms come in as SQL sqrt-of-fold columns, same doubles as ever.

    At 10× data the within-group pair grid grows 100×; this kernel runs it
    at numpy speed where the interpreted fold went super-linear in
    wall-clock (measured: semantic-dedup 44 s → linear-ish after this).
    Group size stays bounded by the caller's granularity knob (LSH bits /
    cell count / hot-group cap) — one group is one Arrow batch, so the
    kernel's two (n × n) float64 arrays (acc + reused tmp) must fit an
    executor: 16·n² bytes, i.e. ~6.4 GB at the 20 000 default — sized so
    the guard fires BEFORE a typical executor heap dies, not after.
    ``max_group_size`` fails LOUDLY past the bound: a group that large
    means the granularity knob is mis-sized for the corpus, and an
    explicit "raise n_bits / cell count" error beats both an executor OOM
    and a silent recall-losing drop.
    """
    import numpy as np

    slack = threshold - 1e-6

    def group_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_group_size:
            raise ValueError(
                f"pair group of {n} rows exceeds max_group_size="
                f"{max_group_size}: the grouping is too coarse for this "
                "corpus — raise the granularity knob (LSH n_bits / cell "
                "count) so groups stay pairwise-computable"
            )
        if n < 2:
            return pd.DataFrame({"id1": [], "id2": [], "cosine": []}).astype(
                {"id1": "int64", "id2": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values("id")  # pair order: id1 < id2
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64)  # (n, dim)
        nv = pdf["nv"].to_numpy(dtype=np.float64)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        acc = np.zeros((n, n), dtype=np.float64)
        tmp = np.empty((n, n), dtype=np.float64)  # reused — no per-dim alloc
        for i in range(x.shape[1]):  # sequential over dims = the fold order
            col = x[:, i]
            np.outer(col, col, out=tmp)
            acc += tmp
        cos = acc / np.outer(nv, nv)
        i1, i2 = np.triu_indices(n, k=1)
        keep = cos[i1, i2] >= slack
        return pd.DataFrame(
            {"id1": ids[i1[keep]], "id2": ids[i2[keep]], "cosine": cos[i1, i2][keep]}
        )

    raw = keyed.groupBy(group_col).applyInPandas(
        group_pairs, "id1 long, id2 long, cosine double"
    )
    return (
        raw.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )




def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int | None = None,
    dim: int = 64,
    max_group_size: int = 20_000,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) within LSH buckets —
    the embedding-space analogue of MinHash dedup.  Bucketing trades recall
    (sign-LSH may split a true pair) for per-bucket work that scales;
    recall is pinned in tests.  Pair scoring is the shared per-group Arrow
    kernel (:func:`_pairwise_cosine_in_groups`) — see its docstring for
    the transfer/bit-exactness analysis.

    **Executor memory contract** (ADVICE r03): one bucket is one Arrow
    group and the kernel allocates two (n × n) float64 arrays — **16·n²
    bytes on a single executor** (~6.4 GB at the ``max_group_size``
    default of 20 000).  A bucket past ``max_group_size`` raises
    ``ValueError`` mid-job rather than OOM-ing the executor; corpora with
    skewed embedding mass should raise ``n_bits`` (each bit halves the
    expected bucket) or lower ``max_group_size`` to match their executor
    heap, and can pre-split hot buckets by salting the bucket key before
    calling.

    ``n_bits=None`` (default) derives the width from the corpus size
    (:func:`adaptive_lsh_bits` over one count), keeping the expected
    bucket at ~``LSH_TARGET_BUCKET`` rows as the corpus grows — the
    scale-safe mode; an explicit ``n_bits`` pins it for tuning.
    """
    from polars_view_spark.functions.vectors import norm_sql

    n_bits = _resolve_lsh_bits(corpus, n_bits)
    bucket = lsh_bucket_sql(vec_col, n_bits, dim)
    keyed = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(norm_sql(vec_col)).alias("nv"),
        F.expr(bucket).alias("bucket"),
    )
    return _pairwise_cosine_in_groups(keyed, "bucket", threshold, max_group_size)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate cosine top-k scored directly on int8-quantized codes.

    Cosine is scale-invariant, so the per-vector quantization scale from
    :func:`quantize_int8` cancels and the codes score without
    dequantization — the shuffle/broadcast payload shrinks 4× vs float32
    while ranks stay within the quantization error (recall vs the float
    baseline is pinned by test).  Same plan shape as brute_force_topk:
    queries broadcast, self-matches excluded.
    """
    q = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qvec")
    )
    c = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(F.expr(cosine_sql("qvec", "cvec")), 6))
        .drop("qvec", "cvec")
    )
    return _ranked_topk(scored, k)


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage/compute
    compression step of a large-scale embedding pipeline (4× smaller than
    float32, integer SIMD distance kernels downstream).

    Per vector: ``scale = 127 / max|x|``, ``q_i = round(x_i · scale)`` —
    so every code fits [-127, 127] and dequantization error is bounded by
    ``0.5 / scale``.  Adds ``q`` (array<int>), ``scale`` (double) and
    ``max_abs_err`` (double); all-zero vectors quantize to zeros with
    ``scale = 1``.  Pure codegen array lambdas: zero shuffles, runs at scan
    speed over 100 TB of vectors.  Arithmetic is float32→double promoted
    with an epsilon inside round() so the DuckDB oracle reproduces every
    code bit-exactly (same trick as _quantize_sql above).
    """
    x = f"CAST(v AS DOUBLE)"
    maxabs = f"array_max(transform({vec_col}, v -> abs({x})))"
    scale = f"CASE WHEN {maxabs} = 0.0 THEN 1.0 ELSE 127.0 / {maxabs} END"
    q = f"transform({vec_col}, v -> CAST(round({x} * __scale + 1e-9) AS INT))"
    err = (
        f"array_max(transform(sequence(1, size({vec_col})), "
        f"i -> abs(CAST({vec_col}[i - 1] AS DOUBLE) - q[i - 1] / __scale)))"
    )
    return (
        df.withColumn("__scale", F.expr(scale))
        .withColumn("q", F.expr(q))
        .withColumn("max_abs_err", F.expr(err))
        .withColumnRenamed("__scale", "scale")
    )


def _kmeans_fit(
    df: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    scale: int,
):
    """Shared Lloyd fit (quantize → deterministic init → (assign, update)
    × iterations) behind kmeans_clusters and kmeans_assignments: returns
    the pinned quantized frame, the Arrow argmin assigner closed over the
    FINAL centroids, and the centroid dict."""
    # eager=False (r11): the init collect below is the frame's first
    # consumer and materializes the RDD blocks itself — lazy folds the
    # quantize pass into that job instead of paying a standalone barrier
    # (single consuming stage at materialization time, so no concurrent
    # double-compute; the iteration/member jobs then read the blocks)
    q = df.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        ).alias("v"),
    ).localCheckpoint(eager=False)

    init_rows = q.orderBy("vid").limit(k).collect()
    if not init_rows:
        raise ValueError("kmeans: empty input")
    centroids: dict[int, list[int]] = {
        cid: [int(x) for x in r["v"]] for cid, r in enumerate(init_rows)
    }
    # vector width from the init collect — a separate dim-probe job would
    # pay one more scan for a value these rows already carry
    dim = len(init_rows[0]["v"])

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def assign(frame: DataFrame) -> DataFrame:
        cids = sorted(centroids)
        cent_mat = np.asarray([centroids[c] for c in cids], dtype=np.int64)
        cid_arr = np.asarray(cids, dtype=np.int64)
        cross = cent_mat.T  # (dim, k)
        cnorm = (cent_mat * cent_mat).sum(axis=1)  # (k,)

        @pandas_udf("bigint")
        def nearest(qv: pd.Series) -> pd.Series:
            # null-tolerant like the SQL expression it replaced: a null
            # vector gets a null cid
            vals = qv.to_numpy()
            mask = np.array([v is not None for v in vals])
            out = np.full(len(vals), None, dtype=object)
            if mask.any():
                mat = np.stack(vals[mask]).astype(np.int64, copy=False)
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant per
                # row, so the argmin needs only the cross and norm terms
                d = cnorm - 2 * (mat @ cross)  # (n, k) exact int64
                idx = np.argmin(d, axis=1)  # first min → lowest cid on ties
                out[np.flatnonzero(mask)] = cid_arr[idx]
            return pd.Series(out)

        return frame.withColumn("cid", nearest("v"))

    for _ in range(iterations):
        rows = (
            assign(q)
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.expr(
                        f"CAST(round(SUM(v[{i}]) * 1.0 / COUNT(1)) AS BIGINT)"
                    ).alias(f"c{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        centroids = {
            int(r["cid"]): [int(r[f"c{i}"]) for i in range(dim)] for r in rows
        }

    return q, assign, centroids


def kmeans_clusters(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column, expressed as
    DataFrame algebra — the iterative-ML pattern on Spark.

    Every step is EXACTLY replicable in ANSI SQL, so the operator carries a
    full value-hash oracle (catalog entry ``x_kmeans_clusters``) instead of
    the rows-only check iterative algorithms usually get:

    - vectors are integer-quantized in-engine (``round(x·scale)`` — SQL
      round on both sides, never Python's half-even round), so distance
      sums are integer arithmetic: exact in ANY accumulation order, on
      both engines;
    - init centroids are the ``k`` lowest-id vectors (no RNG);
    - assignment is nearest centroid, lowest cluster id on ties — a pure
      projection of the corpus (no join, no shuffle), computed by the same
      Arrow int64 kernel as IVF cell assignment (``_with_sorted_cells``):
      an earlier generation string-built k inlined ``(distance, cluster)``
      struct literals of ``dims`` integers each, which (a) grew the
      analyzed plan by O(k·dims) text per iteration (~300 KB at k=64,
      dims=64 — the same analyzer-cost pattern that made the IVF CASE
      chain unusable) and (b) ran the k×dims multiply-adds INTERPRETED,
      because higher-order functions never enter whole-stage codegen.
      The kernel keeps the plan O(1) in k (centroids ride in the UDF
      closure) and is bit-identical to the SQL oracle's
      ``ROW_NUMBER() OVER (ORDER BY dist, cid)`` pick: distances are
      exact int64 (quantized inputs), the per-row ``||x||²`` term is
      dropped (constant per row — argmin order unchanged), and
      ``np.argmin`` returns the FIRST minimum over a cid-ascending
      centroid matrix, i.e. the lowest cluster id on ties.  Overflow
      bound: ``scale² · dims < 2⁶³`` (documented for callers raising
      ``scale``);
    - the update step re-quantizes via ``round(sum·1.0/count)``: the two
      operands are exact integers, so the double division and round are
      bit-identical across engines.

    Scale shape: per iteration ONE shuffle (the k-group aggregate of 64
    partial sums; map-side combine makes the exchange k×dims rows) and an
    O(k·dims) driver collect for the next round's literals — the same
    bounded driver state as a trained index's centroid table
    (cf. _seed_centroids).  Empty clusters drop out, matching the SQL
    oracle's semantics.
    """
    q, assign, centroids = _kmeans_fit(df, k, iterations, id_col, vec_col, scale)

    members = (
        assign(q)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("vid").cast("long").alias("exemplar"),
        )
    )
    spark = df.sparkSession
    # ONE slice up front (same rationale as save_classifier): a plain
    # createDataFrame fans k rows across defaultParallelism Python slices,
    # paying ~32 Python-worker roundtrips to evaluate a 4-row frame
    cent_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(cid, vec) for cid, vec in sorted(centroids.items())], numSlices=1
        ),
        "cid INT, c ARRAY<BIGINT>",
    ).withColumn(
        "centroid_norm",
        F.expr(
            "ROUND(sqrt(CAST(aggregate(transform(c, x -> x * x), 0L,"
            f" (a, b) -> a + b) AS DOUBLE)) / {scale} + 1e-9, 4)"
        ),
    )
    return (
        members.join(F.broadcast(cent_df.select("cid", "centroid_norm")), "cid")
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_members",
            "exemplar",
            "centroid_norm",
        )
        .orderBy("cluster_id")
    )


#: MMR trade-off λ in tenths: objective = (λ·rel − (1−λ)·max-sim)/1, with
#: λ = MMR_LAMBDA_TENTHS/10.  Integer-scaled so both engines evaluate the
#: identical double expression (7·rel − 3·maxsim)/10.
MMR_LAMBDA_TENTHS = 7


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_candidates: int = 20,
    lambda_tenths: int = MMR_LAMBDA_TENTHS,
    materialize: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): greedily select ``k`` of the top-``n_candidates`` exact-cosine
    hits, each step maximizing ``λ·relevance − (1−λ)·max-similarity`` to
    the already-selected set — relevance-ranked lists full of near-identical
    hits become relevant AND diverse ones (the dedup-aware retrieval tail a
    training-data pipeline wants for example selection).

    The greedy loop is UNROLLED into ``k`` bounded DataFrame steps rather
    than per-group Python: every step joins tables of at most
    ``n_queries × n_candidates`` rows (candidate relevances and the
    candidate-pair similarity matrix are computed once), so each engine
    scores with its proven sequential-fold cosine — no new float-parity
    surface — and the whole rerank is Catalyst-planned end to end.

    Scale shape: candidate generation is the pluggable part (exact
    brute-force baseline here; ivf/lsh_topk at scale); everything after it
    is O(queries × n_candidates²) regardless of corpus size.  ``k`` fixes
    the plan depth — it is a hyperparameter (5), not a data size.

    Output: ``(query_id, doc_id, mmr_step, relevance, objective)`` —
    ``objective`` is NULL for step 1 (pure relevance seed).

    ``materialize`` is retained for API compatibility but is now a no-op:
    the greedy chain no longer re-reads any intermediate, so there is
    nothing to pin (see below).
    """
    lt, rt = lambda_tenths, 10 - lambda_tenths

    # Two implementation generations, kept honest by the same value-hash
    # oracle (catalog entry s_mmr_rerank):
    #
    # 1. The greedy loop UNROLLED into k bounded DataFrame steps (maxsim
    #    aggregate + anti-join + window pick per step), each step's pick
    #    localCheckpoint-pinned so lineage stayed flat.  Correct, and every
    #    scoring operation stayed in Spark SQL — but the unrolled chain is
    #    k-1 SEQUENTIAL job barriers over tables of n_queries×n_candidates
    #    rows: measured ~2.6 s at sf0.1 of which the actual math is
    #    microseconds (the fixed multi-stage barrier cost SCALE.md
    #    documents), and the same k barriers would serialize at 100 TB even
    #    though everything after candidate generation is corpus-size-
    #    independent.
    #
    # 2. This shape (optimization guide §4.2: Spark distributes; bounded
    #    per-group iteration belongs in one Arrow batch): Spark still
    #    computes EVERY float — candidate relevances (brute_force_topk),
    #    the pairwise sims, and the rounded objective each candidate WOULD
    #    have for each possible maxsim value (obj(d,s) = round((λ·rel_d −
    #    (1−λ)·sim(d,s))/10, 6), computed per (d,s) pair — the candidate's
    #    maxsim at any step is by definition ONE OF its sim values, so the
    #    full objective surface is enumerable up front at the same
    #    O(n_candidates²) cost the old per-step rounding paid).  The
    #    cogrouped kernel then runs the k-step greedy per query with ZERO
    #    float arithmetic in Python — it only COMPARES and COPIES
    #    Spark-computed doubles (argmax by (objective desc, doc asc),
    #    incremental maxsim maintenance), so there is no new float-parity
    #    surface and the result is bit-identical by construction.  One job,
    #    one shuffle per side, no checkpoints.
    cand = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=n_candidates
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc"),
        F.col("score").alias("rel"),
        "rank",
    )
    vecs = corpus.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
    cv = cand.select("query_id", "doc").join(vecs, "doc")
    a = cv.select("query_id", F.col("doc").alias("da"), F.col("v").alias("va"))
    b = cv.select("query_id", F.col("doc").alias("db"), F.col("v").alias("vb"))
    sims = (
        a.join(b, "query_id")
        .filter(F.col("da") != F.col("db"))
        .select(
            "query_id",
            "da",
            "db",
            F.round(F.expr(cosine_sql("va", "vb")), 6).alias("sim"),
        )
    )
    # the full (candidate, possible-maxsim) objective surface, rounded by
    # the ENGINE — the kernel below never does float math
    pairs = sims.join(
        cand.select("query_id", F.col("doc").alias("da"), "rel"),
        ["query_id", "da"],
    ).select(
        "query_id",
        "da",
        "db",
        "sim",
        F.round(
            (F.lit(lt) * F.col("rel") - F.lit(rt) * F.col("sim")) / F.lit(10.0),
            6,
        ).alias("obj"),
    )
    # one grouped input for the kernel: candidate rows (kind 0) unioned
    # with pair rows (kind 1).  A cogroup of cand with pairs would be the
    # natural shape, but both sides descend from `cand` and the analyzer
    # rejects cogroups over shared lineage as ambiguous self-joins; the
    # union adds only n_candidates rows per query on top of the pair set.
    grouped_in = cand.select(
        "query_id",
        F.lit(0).alias("kind"),
        F.col("doc").alias("da"),
        # pad db with the row's own da, NOT NULL: the kernel never reads
        # db on kind-0 rows, and a NULL here would promote an integer id
        # column to float64 in pandas — exact only below 2^53, silently
        # corrupting sim/obj lookup keys for a larger id space (r11 fix;
        # a null-free column keeps the Arrow→pandas dtype lossless)
        F.col("doc").alias("db"),
        "rel",
        "rank",
        F.lit(None).cast("double").alias("sim"),
        F.lit(None).cast("double").alias("obj"),
    ).unionByName(
        pairs.select(
            "query_id",
            F.lit(1).alias("kind"),
            "da",
            "db",
            F.lit(None).cast("double").alias("rel"),
            F.lit(None).cast("int").alias("rank"),
            "sim",
            "obj",
        )
    )

    id_t = dict(cand.dtypes)["query_id"]
    doc_t = dict(cand.dtypes)["doc"]
    out_schema = (
        f"query_id {id_t}, doc {doc_t}, mmr_step int, "
        "relevance double, objective double"
    )
    k_steps = k

    def _greedy(in_pdf):
        import math

        import pandas as pd

        def _gt(x, y):
            # Spark's numeric ordering: NaN compares greater than any
            # other double (and equal to itself)
            if math.isnan(x):
                return not math.isnan(y)
            if math.isnan(y):
                return False
            return x > y

        cand_pdf = in_pdf[in_pdf["kind"] == 0]
        pairs_pdf = in_pdf[in_pdf["kind"] == 1]
        if len(cand_pdf) == 0:
            return pd.DataFrame(
                columns=["query_id", "doc", "mmr_step", "relevance", "objective"]
            )
        qid = cand_pdf["query_id"].iloc[0]
        rel = dict(zip(cand_pdf["da"], cand_pdf["rel"]))
        seed = cand_pdf.loc[cand_pdf["rank"] == 1, "da"].iloc[0]
        # sim/obj lookup keyed (candidate, other): maxsim updates compare
        # sim values; objectives are copied, never computed
        sim_to = {}
        obj_of = {}
        # db is padded null-free (kind-0 rows carry their own da), so the
        # Arrow→pandas conversion preserves the exact id dtype — ids
        # beyond 2^53 stay lossless (pinned in
        # test_mmr_rerank_huge_ids_lossless)
        db_vals = pairs_pdf["db"]
        assert db_vals.dtype == cand_pdf["da"].dtype, (
            f"id dtype drifted across the union pad: "
            f"{db_vals.dtype} vs {cand_pdf['da'].dtype}"
        )
        for da, db, s, o in zip(
            pairs_pdf["da"], db_vals, pairs_pdf["sim"], pairs_pdf["obj"]
        ):
            sim_to[(da, db)] = s
            obj_of[(da, db)] = o
        out_doc = [seed]
        out_step = [1]
        out_rel = [rel[seed]]
        out_obj = [None]
        remaining = sorted(d for d in rel if d != seed)
        # cur[d] = (maxsim, obj at that maxsim) vs the selected set so far
        cur = {}
        last = seed
        for step in range(2, k_steps + 1):
            best_doc = None
            best_obj = None
            for d in remaining:
                s = sim_to.get((d, last))
                if s is not None:
                    prev = cur.get(d)
                    if prev is None or _gt(s, prev[0]):
                        cur[d] = (s, obj_of[(d, last)])
                entry = cur.get(d)
                if entry is None:
                    continue  # no sim row vs any selected doc (cannot pair)
                o = entry[1]
                if best_obj is None or _gt(o, best_obj):
                    best_obj, best_doc = o, d
            if best_doc is None:
                break
            out_doc.append(best_doc)
            out_step.append(step)
            out_rel.append(rel[best_doc])
            out_obj.append(best_obj)
            remaining.remove(best_doc)
            last = best_doc
        return pd.DataFrame(
            {
                "query_id": [qid] * len(out_doc),
                "doc": out_doc,
                "mmr_step": out_step,
                "relevance": out_rel,
                "objective": out_obj,
            }
        )

    selected = grouped_in.groupBy("query_id").applyInPandas(_greedy, out_schema)
    return selected.select(
        "query_id", F.col("doc").alias("doc_id"), "mmr_step", "relevance", "objective"
    )


#: margin-mining defaults: neighborhood size for the ratio margin
#: (Artetxe & Schwenk use k=4 in the LASER/CCMatrix pipelines) and the
#: integer quantization scale for cosine scores (micro-units)
MARGIN_K = 4
MARGIN_SCALE = 1_000_000
MARGIN_THRESHOLD = 1.05


def margin_mine_pairs(
    x: DataFrame,
    y: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = MARGIN_K,
    n_bits: int | None = None,
    dim: int = 64,
    threshold: float = MARGIN_THRESHOLD,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    ratio margin used by the LASER/CCMatrix bitext pipelines): score
    cross-set candidate pairs by cosine, normalize each pair's score by
    the average similarity of both endpoints' k-nearest neighborhoods,
    and keep mutual best matches above ``threshold``:

        margin(x, y) = cos(x, y) / ( avg_kNN(x)/2 + avg_kNN(y)/2 )

    Returns ``(x_id, y_id, score, margin)`` — one row per mutual
    forward/backward argmax pair with ``margin > threshold``.

    Candidates come from the same integer sign-LSH bucketing as
    :func:`lsh_topk` (the approximate-kNN stance of the original FAISS
    pipeline): both sides bucket on ``n_bits`` hyperplane signs and only
    same-bucket pairs are scored, so at 100 TB this is a hash join over
    ~1/2^bits of the cross product, not |X|x|Y|.  ``n_bits`` defaults
    from |X|+|Y| via ``adaptive_lsh_bits`` so candidate sets stay
    bounded as the corpus grows.  The neighborhood averages are then
    taken over each endpoint's candidates (capped at k), mirroring how
    production miners compute margins over the approximate neighbor
    lists they actually retrieved.

    Engine-parity design (the DuckDB oracle must hash-match): cosines
    are quantized to BIGINT micro-units (``sq``), neighborhood sums are
    integer window sums (order-independent, unlike float accumulation),
    and the margin is ONE double division of exactly-representable
    integers — ``(2*sq*cx*cy) / (sx*cy + sy*cx)`` — so both engines
    round the identical IEEE-754 quotient.

    Plan shape: one bucket equi-join, then four window shuffles
    (score-rank + neighborhood stats on each of x_id / y_id, margin
    argmax on each) — all linear in the candidate count; nothing
    quadratic, no Python in the loop.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from polars_view_spark.functions.vectors import adaptive_lsh_bits, norm_sql

    if n_bits is None:
        n_bits = adaptive_lsh_bits(x.count() + y.count())
    bucket = lsh_bucket_sql(vec_col, n_bits, dim)
    xs = x.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("x_id"),
        F.col(vec_col).alias("xv"),
        F.expr(norm_sql(vec_col)).alias("xn"),
        F.expr(bucket).alias("xb"),
    )
    ys = y.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("y_id"),
        F.col(vec_col).alias("yv"),
        F.expr(norm_sql(vec_col)).alias("yn"),
        F.expr(bucket).alias("yb"),
    )
    from polars_view_spark.functions.vectors import dot_sql

    scored = xs.join(ys, F.col("xb") == F.col("yb")).select(
        "x_id",
        "y_id",
        F.expr(
            f"CAST(round((({dot_sql('xv', 'yv')}) / (xn * yn)) * {MARGIN_SCALE}) AS BIGINT)"
        ).alias("sq"),
    )

    # forward/backward kNN ranks + integer neighborhood sums; the stats
    # windows share their rank window's partitioning, so each direction
    # costs one shuffle, not two
    wx = Window.partitionBy("x_id").orderBy(F.col("sq").desc(), F.col("y_id").asc())
    wy = Window.partitionBy("y_id").orderBy(F.col("sq").desc(), F.col("x_id").asc())
    px = Window.partitionBy("x_id")
    py = Window.partitionBy("y_id")
    st = (
        scored.withColumn("rx", F.row_number().over(wx))
        .withColumn("sx", F.sum(F.when(F.col("rx") <= k, F.col("sq"))).over(px))
        .withColumn("cx", F.sum(F.when(F.col("rx") <= k, 1).otherwise(0)).over(px))
        .withColumn("ry", F.row_number().over(wy))
        .withColumn("sy", F.sum(F.when(F.col("ry") <= k, F.col("sq"))).over(py))
        .withColumn("cy", F.sum(F.when(F.col("ry") <= k, 1).otherwise(0)).over(py))
    )
    m = st.filter(
        (F.col("sx") * F.col("cy") + F.col("sy") * F.col("cx")) > 0
    ).select(
        "x_id",
        "y_id",
        "sq",
        F.round(
            (2 * F.col("sq") * F.col("cx") * F.col("cy")).cast("double")
            / (F.col("sx") * F.col("cy") + F.col("sy") * F.col("cx")).cast("double"),
            6,
        ).alias("margin"),
    )
    bx = Window.partitionBy("x_id").orderBy(F.col("margin").desc(), F.col("y_id").asc())
    by = Window.partitionBy("y_id").orderBy(F.col("margin").desc(), F.col("x_id").asc())
    return (
        m.withColumn("bx", F.row_number().over(bx))
        .withColumn("by", F.row_number().over(by))
        .filter((F.col("bx") == 1) & (F.col("by") == 1) & (F.col("margin") > threshold))
        .select(
            "x_id",
            "y_id",
            (F.col("sq").cast("double") / F.lit(MARGIN_SCALE)).alias("score"),
            "margin",
        )
    )


def kmeans_assignments(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-vector cluster assignments from the SAME deterministic Lloyd
    trajectory as :func:`kmeans_clusters` (shared ``_kmeans_fit``): one
    row per input vector with its final ``cluster_id`` — the per-item
    face the summary entry can't provide, feeding cluster-balanced
    sampling / per-cluster routing.  Cost identical to kmeans_clusters
    minus the summary aggregate; the assignment itself is a projection
    (Arrow argmin kernel, centroids in the closure — no join)."""
    q, assign, _centroids = _kmeans_fit(df, k, iterations, id_col, vec_col, scale)
    return assign(q).select(
        F.col("vid").alias(id_col), F.col("cid").cast("int").alias("cluster_id")
    )


#: Product-quantization geometry: 16 subspaces of 4 dims, 64 codewords
#: each — a 64-dim float vector compresses to 16 small ints (16 bytes if
#: packed), a 16x reduction for the candidate-scoring stage.  Chosen by
#: measured recall on the synthetic corpus (unit-norm near-random 64-dim
#: vectors — PQ's worst case, distance concentration): 8x16 gave 0.16
#: raw recall@10, 16x64 gives ~0.45 raw and 0.96 top-5 after the
#: exact-rerank stage (pq_rerank_topk) at shortlist 50.
PQ_M = 16
PQ_KSUB = 64
PQ_SEED_MOD = 7


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_sub: int = PQ_M,
    k_sub: int = PQ_KSUB,
    seed_mod: int = PQ_SEED_MOD,
    scale: int = 1000,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring (Jégou
    et al. 2011, "Product Quantization for Nearest Neighbor Search"):
    split each vector into ``m_sub`` subspaces, snap every slice to its
    nearest of ``k_sub`` deterministic codewords (the seed-centroid
    discipline of ivf_flat_topk — corpus rows with ``id % seed_mod == 0``,
    bounded, quantized by the engine so the whole trajectory is exact
    integer), and score query→vector as the sum of per-subspace distances
    from the QUERY's exact slice to the vector's CODEWORD — the ADC
    lookup-table trick that makes PQ the memory tier of production ANN.

    Completes the ANN family: brute force (exact), sign-LSH / IVF
    (candidate pruning), int8 (uniform scalar compression), PQ
    (data-adaptive vector compression).  In deployment PQ composes with
    IVF (IVF-PQ: prune cells, then ADC-score codes); here it scans all
    codes so the approximation itself is what the oracle hashes.

    Scale shape: encoding is an Arrow-batched int64 kernel per subspace
    (one (batch×d_sub) @ (d_sub×k_sub) matmul each — the
    _with_sorted_cells discipline; interpreted HOF expressions measured
    ~100x slower), and the corpus-side state afterwards is ``m_sub``
    SMALL INTS per vector (16 at the defaults): the candidate stage
    streams codes, not vectors — at 100 TB the codes fit where the
    floats never would.  Queries are bounded and broadcast with their
    m_sub×k_sub integer distance tables; scoring is m_sub array lookups
    per pair in codegen.  No shuffle of the corpus anywhere.

    Returns ``(query_id, neighbor_id, approx_dist, rank)`` — integer
    distances, rank ascending, self-matches excluded.
    """
    books = _pq_books(
        _seed_centroids(corpus, id_col, vec_col, seed_mod, scale, k_sub)[2],
        m_sub,
    )
    codes = _pq_encode(corpus, id_col, vec_col, books, scale)
    return _pq_adc_topk(codes, queries, id_col, vec_col, books, k, scale)


def _pq_books(seed_ints: list[list[int]], m_sub: int):
    """(m_sub, k_sub, d_sub) codebook tensor from the engine-quantized
    seed rows (codeword j = seed row j, ORDER BY id — the oracle's
    ROW_NUMBER()-1)."""
    import numpy as np

    book = np.asarray(seed_ints, dtype=np.int64)  # (n_codewords, dim)
    n_codewords, dim = book.shape
    assert dim % m_sub == 0, f"dim {dim} not divisible by m_sub {m_sub}"
    d_sub = dim // m_sub
    return book.reshape(n_codewords, m_sub, d_sub).transpose(1, 0, 2)


def _pq_codes_udf(books):
    """Arrow int64 encoding kernel: per-subspace nearest-codeword argmins
    (ties -> lowest j, the oracle's ORDER BY d, j).  Extracted so the flat
    (_pq_encode) and IVF-PQ (ivfpq_topk) paths share one kernel and the
    code assignment cannot drift between them."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m_sub, _k, d_sub = books.shape
    book_sq = (books * books).sum(axis=2)  # (m, k_sub)

    @pandas_udf("array<int>")
    def pq_codes(qv: pd.Series) -> pd.Series:
        mat = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        sl = mat.reshape(len(mat), m_sub, d_sub)
        out = np.empty((len(mat), m_sub), dtype=np.int32)
        for m in range(m_sub):
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; row term constant
            d = book_sq[m] - 2 * (sl[:, m, :] @ books[m].T)
            out[:, m] = np.argmin(d, axis=1)  # first min -> lowest j on ties
        return pd.Series(list(out))

    return pq_codes


def _pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, books, scale: int
) -> DataFrame:
    """(neighbor_id, codes) via the shared Arrow encoding kernel."""
    pq_codes = _pq_codes_udf(books)
    return corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        pq_codes(F.expr(_quantize_sql(vec_col, scale))).alias("codes"),
    )


def _pq_dtab_udf(books):
    """Arrow kernel for the per-query ADC distance tables: FULL squared
    distances from the query's exact slice to every codeword (the row term
    matters for ADC sums).  Shared by the flat and IVF-PQ paths."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m_sub = books.shape[0]
    d_sub = books.shape[2]

    @pandas_udf("array<array<bigint>>")
    def pq_dtab(qv: pd.Series) -> pd.Series:
        mat = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        sl = mat.reshape(len(mat), m_sub, d_sub)
        rows = []
        for r in range(len(mat)):
            diffs = sl[r][:, None, :] - books  # (m, k_sub, d_sub)
            rows.append(list((diffs * diffs).sum(axis=2)))
        return pd.Series(rows)

    return pq_dtab


def _adc_sum_sql(m_sub: int) -> str:
    """The codegen ADC sum: m_sub array lookups of the broadcast distance
    table, one per stored code.  One string so every ADC consumer scores
    identically."""
    return (
        f"aggregate(sequence(1, {m_sub}), 0L, (acc, m) -> "
        "acc + element_at(element_at(dtab, m), "
        "element_at(codes, m) + 1))"
    )


def _pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books,
    k: int,
    scale: int,
) -> DataFrame:
    """ADC scoring of a codes frame against bounded queries: per-query
    16x64 integer distance tables broadcast, 16 codegen lookups per pair,
    rank ascending.  Shared verbatim by pq_topk and pq_query_index so the
    in-session and persisted paths cannot drift."""
    pq_dtab = _pq_dtab_udf(books)
    m_sub = books.shape[0]

    qtabs = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        pq_dtab(F.expr(_quantize_sql(vec_col, scale))).alias("dtab"),
    )
    # explicit broadcast cross join: PQ's ADC stage scores EVERY code
    # against the bounded query set (that full scan over 16-int codes is
    # the operator — IVF composes in front when cell pruning is wanted)
    scored = (
        codes.crossJoin(F.broadcast(qtabs))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dist", F.expr(_adc_sum_sql(m_sub)).cast("long"))
        .select("query_id", "neighbor_id", "approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", F.col("rank").cast("long").alias("rank"))
    )


def _write_codebook(spark, path: str, seed_ints: list[list[int]]) -> None:
    """Persist the PQ codeword rows ``(j, sv)`` under ``path/codebook``
    (one slice: see :func:`_write_centroids`)."""
    spark.createDataFrame(
        spark.sparkContext.parallelize(list(enumerate(seed_ints)), numSlices=1),
        "j INT, sv ARRAY<BIGINT>",
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def _read_codebook(spark, path: str, m_sub: int):
    """The persisted codebook as the :func:`_pq_books` tensor (codeword j
    = row j)."""
    rows = spark.read.parquet(f"{path}/codebook").orderBy("j").collect()
    return _pq_books([list(r["sv"]) for r in rows], m_sub)


def pq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = PQ_M,
    k_sub: int = PQ_KSUB,
    seed_mod: int = PQ_SEED_MOD,
    scale: int = 1000,
) -> None:
    """Persist the PQ index — the build/query split (the fourth beside
    MinHash, IVF and containment): two parquet datasets under ``path``,

    - ``codebook``: (j, sv) — the <=k_sub engine-quantized codeword rows
      (codewords are FROZEN at build, the IVF-append contract: they
      define the code space; re-deriving them would invalidate every
      stored code);
    - ``codes``: (neighbor_id, codes) — 16 small ints per corpus vector,
      the ENTIRE per-vector state a query ever reads.

    At 100 TB this is the memory-tier index: the codes dataset is ~16
    ints/vector where the raw vectors are 64 floats — query jobs scan
    codes at a fraction of the vector-scan cost and never re-encode."""
    _c, _a, seed_ints = _seed_centroids(
        corpus, id_col, vec_col, seed_mod, scale, k_sub
    )
    _write_codebook(corpus.sparkSession, path, seed_ints)
    books = _pq_books(seed_ints, m_sub)
    _pq_encode(corpus, id_col, vec_col, books, scale).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")


def pq_query_index(
    spark,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_sub: int = PQ_M,
    scale: int = 1000,
) -> DataFrame:
    """Query a persisted PQ index: the bounded codebook is read back and
    collected (<=64 rows), the codes dataset is scanned AS-IS (nothing
    corpus-side is ever re-encoded — batch-only CPU, the
    minhash_query_index economics), and the ADC ranking is the SAME
    helper the in-session path uses, so persisted results reproduce
    pq_topk bit-for-bit (held to the same oracle)."""
    books = _read_codebook(spark, path, m_sub)
    codes = spark.read.parquet(f"{path}/codes")
    return _pq_adc_topk(codes, queries, id_col, vec_col, books, k, scale)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m_sub: int = PQ_M,
    k_sub: int = PQ_KSUB,
    seed_mod: int = PQ_SEED_MOD,
    scale: int = 1000,
) -> DataFrame:
    """Two-stage PQ retrieval — the production shape: ADC over the
    compressed codes shortlists ``shortlist`` candidates per query (the
    cheap pass that touches 16 ints/vector), then ONLY the shortlist's
    full vectors are fetched for an exact integer-quantized L2 rerank.
    Measured on the synthetic corpus: raw ADC top-5 recall ~0.45, after
    this rerank 0.96 at shortlist 50 — the shortlist pays PQ's
    quantization error, the rerank removes it from the final ranking.

    Scale shape: stage 1 is pq_topk (codes streamed, queries broadcast);
    stage 2 joins the shortlist — O(queries × shortlist) rows — back to
    the corpus ON THE ID KEY, so the full vectors of only ~50 rows per
    query are ever read again; the corpus is never re-scanned for
    scoring.  Returns ``(query_id, neighbor_id, exact_dist, rank)``,
    integer distances, rank ascending."""
    short = pq_topk(
        corpus, queries, id_col, vec_col, shortlist,
        m_sub, k_sub, seed_mod, scale,
    ).select("query_id", "neighbor_id")
    return _exact_l2_rerank(short, corpus, queries, id_col, vec_col, k, scale)


def _exact_l2_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    scale: int,
) -> DataFrame:
    """Stage 2 of every shortlist-then-rerank retrieval: join the
    O(queries × shortlist) candidate pairs back to the corpus ON THE ID
    KEY (only the shortlist's full vectors are ever read again), score
    exact integer-quantized squared L2, rank ascending.  Shared by
    pq_rerank_topk and ivfpq_topk so the rerank arithmetic cannot drift
    between the flat and cell-pruned paths."""
    qz = _quantize_sql(vec_col, scale)
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.expr(qz).alias("cq")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.expr(qz).alias("qq")
    )
    exact = (
        short.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "exact_dist",
            F.expr(
                "aggregate(zip_with(qq, cq, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, x) -> acc + x)"
            ).cast("long"),
        )
        .select("query_id", "neighbor_id", "exact_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "exact_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ivf_seed_mod: int = 37,
    n_probe: int = 2,
    max_seeds: int = 64,
    m_sub: int = PQ_M,
    k_sub: int = PQ_KSUB,
    pq_seed_mod: int = PQ_SEED_MOD,
    scale: int = 1000,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ — the composition the flat-PQ docstrings promise and the
    configuration production ANN actually deploys at 100 TB (Jégou et
    al. 2011 §IV; FAISS ``IVFx,PQy``): an inverted file prunes the search
    to ``n_probe`` cells per query, ADC over 16-int codes shortlists
    candidates WITHIN those cells only, and an exact integer L2 rerank
    removes the quantization error from the final ranking.

    Composes the two existing exact-integer building blocks verbatim:
    cell assignment is :func:`_with_sorted_cells` (ivf_flat_topk's
    deterministic seed-centroid argmin) and encoding/scoring are the
    shared PQ kernels (:func:`_pq_codes_udf` / :func:`_pq_dtab_udf` /
    :func:`_adc_sum_sql`), so neither approximation can drift from its
    standalone entry.  Codes are non-residual (raw vectors, not
    x − centroid): residual encoding buys recall only when codebooks are
    trained per corpus; with deterministic seed codebooks the raw form
    keeps every stage exact-integer and cross-engine hashable.

    Scale shape — why this is the 100 TB configuration: the corpus is
    touched exactly twice, once at index time (ONE pass computing cell +
    codes together — the `__qv` quantization is shared, never computed
    twice) and once per query batch for the id-keyed shortlist fetch
    (O(queries × shortlist) rows).  The ADC scan reads 16 small ints per
    vector and ONLY in the probed cells — n_probe/n_cells of the codes,
    which are already ~16× smaller than the floats; the query side
    (probe cells + distance tables) is bounded and broadcast.  No corpus
    shuffle anywhere; no cross join (the cell equi-join replaces flat
    PQ's documented full-scan crossJoin).

    Returns ``(query_id, neighbor_id, exact_dist, rank)``, integer
    distances, rank ascending, self-matches excluded.
    """
    cells, _arr, ivf_ints = _seed_centroids(
        corpus, id_col, vec_col, ivf_seed_mod, scale, max_seeds
    )
    books = _pq_books(
        _seed_centroids(corpus, id_col, vec_col, pq_seed_mod, scale, k_sub)[2],
        m_sub,
    )
    codes = _ivfpq_code_rows(corpus, id_col, vec_col, cells, ivf_ints, books, scale)
    short = _ivfpq_shortlist(
        codes, queries, id_col, vec_col, cells, ivf_ints, books,
        n_probe, scale, shortlist,
    )
    return _exact_l2_rerank(short, corpus, queries, id_col, vec_col, k, scale)


def _ivfpq_code_rows(
    df: DataFrame, id_col: str, vec_col: str,
    cells: list[int], ivf_ints: list[list[int]], books, scale: int,
) -> DataFrame:
    """``(neighbor_id, cell, codes)``: each non-null vector's nearest IVF
    cell and PQ codes — the IVF-PQ row, shared by :func:`ivfpq_topk` and
    the persisted build and append.  ONE pass: ``_with_sorted_cells``
    leaves the quantized vector in ``__qv``, so cell id and codes come
    out of the same scan."""
    pq_codes = _pq_codes_udf(books)
    return _with_sorted_cells(
        df.filter(F.col(vec_col).isNotNull()), vec_col, cells, ivf_ints, scale
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.expr("__cells[0]").alias("cell"),
        pq_codes(F.col("__qv")).alias("codes"),
    )


def _ivfpq_shortlist(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cells: list[int],
    ivf_ints: list[list[int]],
    books,
    n_probe: int,
    scale: int,
    shortlist: int,
) -> DataFrame:
    """Probe + in-cell ADC + shortlist over a ``(neighbor_id, cell,
    codes)`` frame — shared by :func:`ivfpq_topk` and
    :func:`ivfpq_query_index` so the in-session and persisted paths score
    identically (the _pq_adc_topk discipline)."""
    pq_dtab = _pq_dtab_udf(books)
    m_sub = books.shape[0]
    # bounded query side: n_probe cells + one distance table per query
    qprobe = _with_sorted_cells(
        queries.filter(F.col(vec_col).isNotNull()), vec_col, cells, ivf_ints, scale
    ).select(
        F.col(id_col).alias("query_id"),
        pq_dtab(F.col("__qv")).alias("dtab"),
        F.explode(F.expr(f"slice(__cells, 1, {n_probe})")).alias("cell"),
    )
    # each corpus vector lives in exactly ONE cell and probe cells are
    # distinct, so a (query, neighbor) pair can match at most once —
    # no dedup needed after the join
    scored = (
        codes.join(F.broadcast(qprobe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dist", F.expr(_adc_sum_sql(m_sub)).cast("long"))
        .select("query_id", "neighbor_id", "approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_seed_mod: int = 37,
    max_seeds: int = 64,
    m_sub: int = PQ_M,
    k_sub: int = PQ_KSUB,
    pq_seed_mod: int = PQ_SEED_MOD,
    scale: int = 1000,
) -> None:
    """Persist the IVF-PQ index — the on-disk layout production ANN ships
    (FAISS ``IVFx,PQy`` on object storage): three parquet datasets under
    ``path``,

    - ``centroids``: the bounded IVF seed-centroid table (≤``max_seeds``
      rows) — collected by every query job to plan probes;
    - ``codebook``: the ≤``k_sub`` PQ codeword rows (frozen at build:
      they define the code space — the pq_build_index contract);
    - ``codes``: (neighbor_id, codes), PARTITIONED BY cell — a query
      job's probe join prunes to the probed cells' directories, so the
      unprobed bulk of the index is never READ, and what is read is 16
      small ints per vector, not 64 floats.  The two prunings compose:
      partition pruning cuts n_probe/n_cells of the files, PQ cuts ~16×
      of the bytes within them.

    One corpus pass computes cell + codes together (the ivfpq_topk scan);
    one keyed shuffle lands each cell in one file (repartition-before-
    partitionBy, the ivf_build_index discipline)."""
    spark = corpus.sparkSession
    cells, _arr, ivf_ints = _seed_centroids(
        corpus, id_col, vec_col, ivf_seed_mod, scale, max_seeds
    )
    _c, _a, pq_ints = _seed_centroids(
        corpus, id_col, vec_col, pq_seed_mod, scale, k_sub
    )
    _write_centroids(spark, path, cells, ivf_ints)
    _write_codebook(spark, path, pq_ints)
    books = _pq_books(pq_ints, m_sub)
    codes = _ivfpq_code_rows(corpus, id_col, vec_col, cells, ivf_ints, books, scale)
    codes.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes"
    )


def ivfpq_query_index(
    spark,
    queries: DataFrame,
    path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    m_sub: int = PQ_M,
    scale: int = 1000,
    shortlist: int = 50,
) -> DataFrame:
    """Query a persisted IVF-PQ index: collect the two bounded tables
    (centroids + codebook), plan each query's probe cells, scan ONLY the
    probed cells' code partitions (partition-pruned — gated in pytest),
    ADC-shortlist, then exact-rerank against ``corpus`` fetched BY ID —
    the base table is touched only for O(queries × shortlist) rows, never
    re-scanned or re-encoded.  Shares :func:`_ivfpq_shortlist` and
    :func:`_exact_l2_rerank` with the in-session path, so persisted
    results reproduce :func:`ivfpq_topk` bit-for-bit (same oracle)."""
    cells, ivf_ints = _read_centroids(spark, path)
    books = _read_codebook(spark, path, m_sub)
    codes = spark.read.parquet(f"{path}/codes").select(
        "neighbor_id", F.col("cell").cast("long").alias("cell"), "codes"
    )
    short = _ivfpq_shortlist(
        codes, queries, id_col, vec_col, cells, ivf_ints, books,
        n_probe, scale, shortlist,
    )
    return _exact_l2_rerank(short, corpus, queries, id_col, vec_col, k, scale)


def ivfpq_append_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = PQ_M,
    scale: int = 1000,
) -> None:
    """Append a vector batch to a persisted IVF-PQ index — the operating
    mode of a GROWING corpus: both the centroids AND the codebook are
    FROZEN at build (cells define the index geometry; codewords define
    the code space — re-deriving either would invalidate every stored
    assignment/code), so appending is per-vector work: assign each new
    vector to its cell and encode it with the same shared Arrow kernels
    the build used, then append into the cell-partitioned codes dataset.
    Queries immediately see appended vectors through the same
    partition-pruned probe join.  Distribution drift away from the
    frozen geometry degrades recall for new-regime vectors — a rebuild
    trigger (monitored via cell-size skew), not something append fixes.

    Guards (the ivf_append_index contract): ids duplicated within the
    batch and ids already present in the index are rejected up front —
    either would let one vector occupy several top-k slots; the
    index-side check reads ONLY the ``neighbor_id`` column against the
    broadcast batch ids."""
    spark = new_vectors.sparkSession
    _reject_indexed_ids(
        "ivfpq_append_index", new_vectors, id_col,
        spark.read.parquet(f"{path}/codes"), "neighbor_id",
    )
    cells, ivf_ints = _read_centroids(spark, path)
    books = _read_codebook(spark, path, m_sub)
    codes = _ivfpq_code_rows(new_vectors, id_col, vec_col, cells, ivf_ints, books, scale)
    codes.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        f"{path}/codes"
    )
