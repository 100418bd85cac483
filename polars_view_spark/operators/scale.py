"""Shuffle-engineering utilities — the knobs that decide whether a plan
survives 100 TB: bucketing (co-located joins, zero shuffle), salting
(skewed-key joins), and partitioning helpers.

These are deliberately thin over Spark primitives: the value is choosing
and *testing* the right physical property, not wrapping the API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) table — managed
    (warehouse dir) by default, external at ``path`` when given.

    Two tables bucketed identically on their join key hash-join WITHOUT a
    shuffle — each bucket pair joins locally.  At 100 TB this converts the
    recurring fact⋈fact join from a full network shuffle into a local merge
    per bucket; the cost moves to write time, paid once.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explode the (small) right side into
    ``salt_buckets`` copies, salt the left side's key randomly-but-
    deterministically, join on (key, salt).

    Use when one key dominates (power-law ids, null-heavy keys) and AQE's
    skew splitting isn't enough — the hot key's rows spread across
    ``salt_buckets`` tasks instead of one straggler.  The right side grows
    ×salt_buckets, so use for small-to-medium right sides (dimension or
    aggregated sides), or pre-filter the hot keys and salt only those.
    """
    salted_left = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    salted_right = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = salted_left.join(salted_right, [key, "__salt"], how)
    return out.drop("__salt")


def zorder_key_sql(quantized_cols: list[str], bits: int = 16) -> str:
    """SQL expression interleaving the bits of pre-quantized integer
    columns (each already in ``[0, 2^bits)``) into one Z-order (Morton)
    key.  Pure shift/and/or arithmetic — whole-stage codegen, no Python;
    ``len(cols) * bits`` terms (2×16 = 32 for the default), far under the
    Janino method limit.  ``len(cols) * bits`` must stay ≤ 63: position
    63 is the BIGINT sign bit and Java's long shift wraps mod 64, so a
    wider key would silently fold distinct (col, bit) pairs onto the
    same position and the clustering would be garbage."""
    k = len(quantized_cols)
    if k * bits > 63:
        raise ValueError(
            f"Z-order key needs {k} cols x {bits} bits = {k * bits} bit "
            f"positions but a BIGINT holds 63; lower bits to <= {63 // k}"
        )
    terms = [
        f"shiftleft(shiftright({c}, {b}) & 1, {b * k + i})"
        for b in range(bits)
        for i, c in enumerate(quantized_cols)
    ]
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int | None = None,
) -> None:
    """Z-order clustered write: quantize each clustering column to
    ``[0, 2^bits)`` by min/max linear scaling (one tiny agg pass),
    interleave the bits into a Morton key, range-partition into
    ``n_files`` and sort within each — so every output file covers a
    tight hyper-rectangle of the clustering-column space and parquet
    footer min/max stats prune scans filtered on ANY of the columns,
    not just the first sort key.  This is the lakehouse OPTIMIZE
    ZORDER layout (public Delta Lake feature), expressed with stock
    Spark: the one global exchange is the range partition the layout
    pays for once at write time.  Layout-only — readers see the same
    rows, which is what the catalog entry's plain-SQL oracle states.

    ``bits=None`` (default) uses the widest per-column resolution that
    fits the 63 usable BIGINT positions (16 bits for ≤3 columns, 63//k
    beyond).  An empty input or an all-NULL clustering column yields
    NULL stats; those columns degrade to a constant key component (rows
    with NULL keys collect in one range partition) instead of erroring —
    the write still lands every row."""
    if bits is None:
        bits = min(16, 63 // max(1, len(cols)))
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    quant = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        if mn is None or mx is None:  # empty input / all-NULL column
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        quant.append(
            f"CAST(least({top}, floor((CAST({c} AS DOUBLE) - {mn!r}) / {span!r} * {top + 1})) AS BIGINT)"
        )
    keyed = df.withColumn("__zkey", F.expr(zorder_key_sql(quant, bits)))
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bloom_indexed(
    df: DataFrame, path: str, bloom_cols: dict[str, int]
) -> None:
    """Parquet write with column-level Bloom filters — the POINT-LOOKUP
    pruning layout, complementing :func:`write_zordered`'s min/max RANGE
    pruning: a reader probing ``key = 'x'`` skips every row group whose
    Bloom says "definitely absent", regardless of row order, so needle
    scans over 100 TB touch only the row groups that can match.

    ``bloom_cols`` maps column → expected NDV (sizes the filter; parquet
    default FPP 1 %).  Dictionary encoding is disabled for each Bloom
    column: parquet-mr was OBSERVED to omit the Bloom on some fully
    dictionary-encoded chunks (e.g. 100 k rows / 997 short distinct
    values — the dictionary already gives exact pruning there), and the
    realistic Bloom targets — high-cardinality point-lookup keys — don't
    dictionary-compress anyway, so disabling it makes the filter
    unconditional rather than heuristic.  Plan shape: a plain parallel
    write; the filters are built streamingly per row group by the
    writer, no extra pass."""
    w = df.write.mode("overwrite")
    for col, ndv in bloom_cols.items():
        w = (
            w.option(f"parquet.bloom.filter.enabled#{col}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{col}", str(ndv))
            .option(f"parquet.enable.dictionary#{col}", "false")
        )
    w.parquet(path)


def _open_parquet_footer(spark, file_path: str):
    jvm = spark._jvm
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(file_path),
        spark._jsc.hadoopConfiguration(),
    )
    return jvm, jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)


def parquet_row_group_count(spark, file_path: str) -> int:
    """Row-group count from the footer — distinguishes a genuinely empty
    part file (no groups, nothing to index) from a data-bearing file
    that is merely missing an expected Bloom filter."""
    _, reader = _open_parquet_footer(spark, file_path)
    try:
        return reader.getRowGroups().size()
    finally:
        reader.close()


def bloom_columns_of(spark, file_path: str) -> set[str]:
    """Column paths carrying a Bloom filter in the file's FIRST row group
    (footer-geometry gate for tests/entries; parquet-mr via py4j — the
    Python parquet stacks in this environment don't surface Bloom
    metadata)."""
    _, reader = _open_parquet_footer(spark, file_path)
    try:
        groups = reader.getRowGroups()
        if groups.size() == 0:
            return set()
        block = groups.get(0)
        out = set()
        bfr = reader.getBloomFilterDataReader(block)
        cols = block.getColumns()
        for i in range(cols.size()):
            c = cols.get(i)
            if bfr.readBloomFilter(c) is not None:
                out.add(c.getPath().toDotString())
        return out
    finally:
        reader.close()


def bloom_might_contain(
    spark, file_path: str, column: str, values: list[str]
) -> list[bool]:
    """Probe the first row group's Bloom filter for string ``values`` —
    True = maybe present (FPP-bounded), False = DEFINITELY absent (the
    guarantee row-group skipping relies on)."""
    jvm, reader = _open_parquet_footer(spark, file_path)
    try:
        groups = reader.getRowGroups()
        assert groups.size() > 0, f"no row groups in {file_path}"
        block = groups.get(0)
        cols = block.getColumns()
        ccmd = next(
            (
                cols.get(i)
                for i in range(cols.size())
                if cols.get(i).getPath().toDotString() == column
            ),
            None,
        )
        assert ccmd is not None, (
            f"column {column!r} not found in {file_path}; available: "
            f"{[cols.get(i).getPath().toDotString() for i in range(cols.size())]}"
        )
        bf = reader.getBloomFilterDataReader(block).readBloomFilter(ccmd)
        assert bf is not None, f"no bloom filter on {column} in {file_path}"
        B = jvm.org.apache.parquet.io.api.Binary
        return [bool(bf.findHash(bf.hash(B.fromString(v)))) for v in values]
    finally:
        reader.close()


def merge_partial_aggs(
    parts: list[DataFrame], keys: list[str], spec: dict[str, str]
) -> DataFrame:
    """Merge partial-aggregate frames into the aggregate of their union —
    the incremental-ETL primitive: yesterday's materialized aggregate plus
    today's delta aggregate, WITHOUT rescanning yesterday's 100 TB.

    ``spec`` maps each accumulator column to its merge function: ``sum``
    (also merges counts — a count is a sum of partial counts), ``min``,
    ``max``.  Only ASSOCIATIVE-EXACT accumulators belong here: integer
    counts/cent-sums merge losslessly in any grouping, float sums do not
    (accumulation-order drift), and avg/stddev are not mergeable at all —
    derive them from merged (sum, count, sum-of-squares) at the end.
    This is the same discipline Spark's own map-side partial aggregation
    relies on, lifted to cross-job granularity.

    Scale shape: one union (no shuffle) + one keyed groupBy whose input
    is |keys-cardinality| × |parts| rows — the merge cost is independent
    of the underlying fact-table size by construction.
    """
    if not parts:
        raise ValueError(
            "parts must be non-empty — a caller whose delta produced no "
            "partial frames should skip the merge (or pass the base alone)"
        )
    allowed = {"sum", "min", "max"}
    bad = {c: fn for c, fn in spec.items() if fn not in allowed}
    if bad:
        raise ValueError(
            f"non-mergeable accumulator functions {bad}; only {sorted(allowed)} "
            "merge associatively — derive avg/stddev from merged sums"
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    aggs = [getattr(F, fn)(F.col(c)).alias(c) for c, fn in spec.items()]
    return merged.groupBy(*keys).agg(*aggs)


def join_explosion_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    k: int = 20,
) -> DataFrame:
    """Pre-flight for a planned join: the EXACT output cardinality it
    would produce, per key and in total, from two cheap single-table
    aggregates — |A ⋈ B| = Σ_key count_A(key) · count_B(key).  Run this
    before a join whose key multiplicity is unverified: a silently
    many-to-many key that explodes 100 TB into petabytes costs two
    groupBys to detect and a cluster-day to discover the hard way.

    Output: the top-``k`` keys by contributed output rows —
    ``(join_key, n_left, n_right, out_rows, total_out_rows, share_ppm)``
    — total and integer parts-per-million share ride on every row.

    Scale shape: one keyed groupBy per side (map-side combined), an
    equi-join on the distinct keys (not the rows), a 1-row total
    broadcast, and a top-k.  Cost is O(distinct keys), independent of
    the fact tables' row counts beyond the two scans.
    """
    la = left.groupBy(F.col(left_key).alias("join_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_left")
    )
    ra = right.groupBy(F.col(right_key).alias("join_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_right")
    )
    # try_multiply/try_sum: in the blowup regime this tool exists for,
    # plain BIGINT arithmetic can cross 2^63 and (ANSI off) wrap to
    # garbage negatives that would rank the worst key LAST — the silent
    # failure mode cross-engine-parity-tricks warns about.  NULL from a
    # try_* is converted to a LOUD error (raise_error), matching DuckDB's
    # loud overflow error on the oracle side.
    per_key = la.join(ra, "join_key").withColumn(
        "out_rows",
        F.expr(
            "CASE WHEN try_multiply(n_left, n_right) IS NULL THEN "
            "CAST(raise_error('join_explosion_profile: per-key output "
            "cardinality exceeds BIGINT — the join is catastrophically "
            "exploding; fix the key before profiling further') AS BIGINT) "
            "ELSE n_left * n_right END"
        ),
    )
    total = per_key.agg(
        F.expr(
            "CASE WHEN try_sum(out_rows) IS NULL THEN "
            "CAST(raise_error('join_explosion_profile: total output "
            "cardinality exceeds BIGINT') AS BIGINT) "
            "ELSE sum(out_rows) END"
        ).alias("total_out_rows")
    )
    return (
        per_key.crossJoin(F.broadcast(total))
        .withColumn(
            # explicit floor() on the DOUBLE ratio, then cast: overflow-free
            # (no out_rows * 1e6 BIGINT product) and engine-identical —
            # both engines do the same IEEE divide/multiply/floor, whereas
            # a bare double CAST truncates in Spark but rounds in DuckDB
            # (the off-by-one the sf0.001 gate caught), and an integer
            # `out_rows * 1000000` wraps past 2^63 in the blowup regime
            "share_ppm",
            F.expr(
                "CAST(floor(CAST(out_rows AS DOUBLE) / total_out_rows "
                "* 1000000) AS BIGINT)"
            ),
        )
        .orderBy(F.col("out_rows").desc(), F.col("join_key").asc())
        .limit(k)
    )


def pareto_frontier(
    df: DataFrame, d1: str, d2: str, n_buckets: int = 64
) -> DataFrame:
    """Two-dimensional Pareto frontier (skyline): the distinct ``(d1,
    d2)`` points not dominated by any other point — q dominates p when
    q.d1 >= p.d1 AND q.d2 >= p.d2 with at least one strict.  The
    multi-objective selection operator (pick documents maximizing quality
    AND freshness, orders maximizing value AND recency) the single-key
    top-k family can't express.  Returns ``(d1, d2, n_rows)`` — exact
    ties collapse to one frontier point carrying their row count.

    Spark-first shape, and why there is no O(n²) join: the classic
    skyline identity is one sorted sweep — order points by d1 DESC then
    d2 DESC, keep a point iff its d2 strictly exceeds the running max of
    every point before it.  A naive window over that global ORDER is a
    single-partition bottleneck at 100 TB, so this runs the prefix-scan
    decomposition (the AddRowIndexTransform discipline,
    operators/rowindex.py): range-bucket d1 (one min/max probe job picks
    the width), (A) per-bucket max(d2) — a 64-row frame — prefix-maxed
    across strictly-higher buckets on the driver-sized frame, (B) the
    within-bucket running max under a window PARTITIONED by bucket,
    seeded by (A) via a broadcast join.  Two keyed shuffles total
    (distinct-points groupBy, bucket window); every stage parallel.

    Bucket monotonicity makes the seed exact: floor-width buckets are
    disjoint d1 intervals, so EVERY point in a higher bucket has strictly
    greater d1, and such a q dominates p iff q.d2 >= p.d2 — exactly
    "survive iff d2 > cross-bucket prefix max".
    """
    assert n_buckets >= 1
    pts = (
        df.groupBy(F.col(d1).alias("d1"), F.col(d2).alias("d2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    lo, hi = df.agg(F.min(d1), F.max(d1)).first()
    if lo is None:  # empty input
        return pts.select("d1", "d2", "n_rows")
    span = float(hi) - float(lo)
    width = (span / n_buckets) if span > 0 else 1.0
    bucket = F.least(
        F.floor((F.col("d1").cast("double") - F.lit(float(lo))) / F.lit(width)),
        F.lit(n_buckets - 1),
    ).cast("int")
    pb = pts.withColumn("b", bucket)

    from pyspark.sql import Window

    # (A) cross-bucket prefix: max d2 over strictly-HIGHER buckets
    wb = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    seeds = (
        pb.groupBy("b")
        .agg(F.max("d2").alias("bmax"))
        .select("b", F.max("bmax").over(wb).alias("seed"))
    )
    # (B) within-bucket running max, seeded; survive iff d2 beats both
    ww = (
        Window.partitionBy("b")
        .orderBy(F.col("d1").desc(), F.col("d2").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pb.join(F.broadcast(seeds), "b")
        .withColumn("rm", F.max("d2").over(ww))
        .filter(
            (F.col("rm").isNull() | (F.col("d2") > F.col("rm")))
            & (F.col("seed").isNull() | (F.col("d2") > F.col("seed")))
        )
        .select("d1", "d2", "n_rows")
    )


def bucketed_prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Distributed prefix (cumulative) sums over a total order WITHOUT a
    single-partition global window — the primitive under
    AddRowIndexTransform (operators/rowindex.py), pareto_frontier and the
    KS statistic, extracted: range-bucket ``order_col`` (one min/max
    probe), per-bucket totals prefix-summed across strictly-lower buckets
    (a ``n_buckets``-row frame), then a window PARTITIONED by bucket adds
    the within-bucket running sum to the broadcast seed.  Two keyed
    shuffles; every stage parallel; bucket monotonicity (disjoint
    floor-width intervals) makes the seed exact.

    Rows tie-broken by the full (order_col, sum_cols) ordering within a
    bucket would be ambiguous — so the input must already be UNIQUE on
    ``order_col`` (group first; asserted cheap via the caller's shape).
    Adds ``cum_<col>`` (inclusive prefix sum) for each of ``sum_cols``.
    """
    from pyspark.sql import Window

    assert n_buckets >= 1 and sum_cols
    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None:
        out = df
        for c in sum_cols:
            out = out.withColumn(f"cum_{c}", F.col(c))
        return out
    span = float(hi) - float(lo)
    width = (span / n_buckets) if span > 0 else 1.0
    b = F.least(
        F.floor(
            (F.col(order_col).cast("double") - F.lit(float(lo))) / F.lit(width)
        ),
        F.lit(n_buckets - 1),
    ).cast("int")
    pb = df.withColumn("__b", b)

    wb = Window.orderBy(F.col("__b").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    seeds = pb.groupBy("__b").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    for c in sum_cols:
        seeds = seeds.withColumn(
            f"__seed_{c}", F.coalesce(F.sum(f"__t_{c}").over(wb), F.lit(0))
        )
    seeds = seeds.select("__b", *[f"__seed_{c}" for c in sum_cols])

    ww = (
        Window.partitionBy("__b")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = pb.join(F.broadcast(seeds), "__b")
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}", (F.sum(c).over(ww) + F.col(f"__seed_{c}")).cast("long")
        )
    return out.drop("__b", *[f"__seed_{c}" for c in sum_cols])


def ks_statistic(
    a: DataFrame, b: DataFrame, value_col: str, n_buckets: int = 64
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, integer end to end:
    ``KS = max_x |F_a(x) − F_b(x)|`` evaluated at every distinct observed
    value, with the ECDF difference cross-multiplied to the integer
    ``|cum_a·n_b − cum_b·n_a|`` (no float division until the final ppm).
    The distribution-drift test the sketch-based gates
    (expectations/snapshot_drift) approximate, exact — run it between
    yesterday's and today's score distributions before a threshold moves.

    Scale shape: one groupBy(value) collapses both samples to distinct
    values with per-sample counts, the cumulative counts ride
    :func:`bucketed_prefix_sums` (no global-order window), and the max is
    one tiny aggregate.  Overflow bound: |D|·10⁶ ≤ n_a·n_b·10⁶ must fit
    int64 → valid while n_a·n_b < 9.2e12 (e.g. two 3M-row samples); past
    that, read ``ks_num`` against the also-emitted counts instead of the
    ppm (documented, loud under ANSI if breached).

    Returns ONE row: ``(n_a, n_b, ks_num, ks_ppm, ks_at)`` where
    ``ks_at`` is the smallest value attaining the max (deterministic
    under ties).
    """
    pts = (
        a.select(F.col(value_col).alias("v"), F.lit(1).alias("ca"), F.lit(0).alias("cb"))
        .unionAll(
            b.select(
                F.col(value_col).alias("v"), F.lit(0).alias("ca"), F.lit(1).alias("cb")
            )
        )
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    cum = bucketed_prefix_sums(pts, "v", ["ca", "cb"], n_buckets)
    tot = cum.agg(
        F.max("cum_ca").alias("n_a"), F.max("cum_cb").alias("n_b")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "diff",
            F.abs(
                F.col("cum_ca") * F.col("n_b") - F.col("cum_cb") * F.col("n_a")
            ).cast("long"),
        )
    )
    mx = d.agg(F.max("diff").alias("ks_num"))
    return (
        d.crossJoin(F.broadcast(mx))
        .filter(F.col("diff") == F.col("ks_num"))
        .groupBy("n_a", "n_b", "ks_num")
        .agg(F.min("v").alias("ks_at"))
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("ks_num").cast("long").alias("ks_num"),
            F.expr("CAST(ks_num * 1000000L DIV (n_a * n_b) AS BIGINT)").alias(
                "ks_ppm"
            ),
            "ks_at",
        )
    )


def equidepth_histogram(
    df: DataFrame, value_col: str, k: int = 8, n_buckets: int = 64
) -> DataFrame:
    """Exact equi-depth (equal-frequency) histogram — the skew-robust
    twin of the fixed-width histogram (q_value_histogram), and the
    arithmetic behind range-partition boundary planning: the bucket
    bounds this emits are exactly the split points a balanced
    ``repartitionByRange`` wants, computed exactly instead of from
    Spark's reservoir sample.  Each distinct value lands in the bucket of
    its LAST row's rank (``(cum−1)·k // n``), so buckets deviate from
    n/k only by value multiplicity — heavy ties can't be split across
    buckets (the same contract DB equi-depth histograms document).

    Integer end to end: ranks come from cumulative counts over the
    distinct values, and those ride :func:`bucketed_prefix_sums` — one
    groupBy(value) shuffle, the two-stage prefix scan, ZERO global-order
    windows, and a final k-group aggregate.  Returns ``(bucket,
    n_values, n_rows, lo, hi)`` ordered by bucket."""
    assert k >= 1
    pts = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = bucketed_prefix_sums(pts, "v", ["c"], n_buckets)
    tot = cum.agg(F.max("cum_c").alias("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.expr(f"CAST((cum_c - 1) * {k} DIV n AS INT)"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.sum("c").cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


def psi_drift(
    ref: DataFrame, cur: DataFrame, value_col: str, k: int = 10
) -> DataFrame:
    """Population Stability Index — the bucketed drift diagnostic beside
    the exact KS statistic (:func:`ks_statistic`): ``PSI = Σ_i (p_i −
    q_i)·ln(p_i/q_i)`` over ``k`` fixed-width buckets whose edges come
    from the REFERENCE min/max (the industry convention: current values
    outside the reference range clamp into the edge buckets, which is
    exactly where "new regime" mass should show up).  Where KS answers
    "did the distribution move at all" with one exact number, PSI says
    WHERE it moved — the per-bucket terms are the diagnostic, so this
    emits them (``bucket, n_ref, n_cur, psi_term``) rather than just the
    total, and every bucket appears even when empty (a generated spine —
    determinism of the output shape does not depend on the data).

    Exactness discipline: counts and totals are exact integers; the only
    floats are the two proportion divisions (exact int64 → binary64, the
    same value in any IEEE engine), the 1e-4 floor (the standard
    zero-bucket clamp — both sides clamped, so ln never sees 0), and one
    ``ln`` rounded at 4 dp per the transcendental-rounding rule
    (tests/test_docs.py caps oracle rounding of ln/log below 5 dp).

    Scale shape: ONE pass over each sample (union + map-side-combined
    groupBy onto ≤k buckets), the reference edges and the totals are
    one-row broadcast aggregates, and the spine join is k rows — total
    shuffled bytes are O(k), independent of sample size."""
    v = F.col(value_col)
    edges = ref.filter(v.isNotNull()).agg(
        F.min(v).alias("lo"), F.max(v).alias("hi")
    )
    pts = (
        ref.filter(v.isNotNull())
        .select(v.alias("v"), F.lit(1).alias("cr"), F.lit(0).alias("cc"))
        .unionAll(
            cur.filter(v.isNotNull()).select(
                v.alias("v"), F.lit(0).alias("cr"), F.lit(1).alias("cc")
            )
        )
        .crossJoin(F.broadcast(edges))
    )
    idx = F.expr(
        f"LEAST({k} - 1, GREATEST(0, CAST(floor("
        f"(v - lo) * {k} / (CASE WHEN hi = lo THEN CAST(1 AS DOUBLE) "
        f"ELSE hi - lo END)) AS INT)))"
    )
    counts = (
        pts.withColumn("bucket", idx.cast("long"))
        .groupBy("bucket")
        .agg(F.sum("cr").alias("n_ref"), F.sum("cc").alias("n_cur"))
    )
    spark = ref.sparkSession
    spine = spark.range(k).select(F.col("id").alias("bucket"))
    j = spine.join(F.broadcast(counts), "bucket", "left").na.fill(
        0, ["n_ref", "n_cur"]
    )
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    return (
        j.crossJoin(F.broadcast(tot))
        .withColumn(
            "p", F.expr("GREATEST(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 0.0001)")
        )
        .withColumn(
            "q", F.expr("GREATEST(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 0.0001)")
        )
        .select(
            "bucket",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 4)
            .alias("psi_term"),
        )
        .orderBy("bucket")
    )


def grouped_exact_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q_ppm: int = 500_000,
    out_col: str = "quantile",
) -> DataFrame:
    """Exact per-group lower quantile without sorting raw rows: collapse
    to ``(group, value) → count`` (map-side combined — the shuffle
    carries distinct values, not rows), accumulate within each group by
    value order (a GROUP-partitioned window: no global-order window
    anywhere), and pick the smallest value whose rank reaches
    ``ceil(q·n)`` — as a PURE-INTEGER test ``cum·10⁶ ≥ q_ppm·n`` (no
    float comparison; the seemingly-equivalent ``cum ≥ (n+1)/2.0``
    median form picks the UPPER median on even groups — caught by test).
    Lower-quantile convention: the result is an element of the data, so
    it stays exact for every input type and hashes cross-engine.

    The exact companion of ``percentile_approx``'s sketch: run it when a
    threshold is about to move and the sketch's error band is too coarse
    (the x_ks_drift discipline, per group).  Scale shape: one keyed
    shuffle to the distinct-value frame, one windowed pass partitioned
    by group, one thin aggregate — works for any group cardinality
    because no group ever needs its raw rows co-resident."""
    pts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    return (
        cum.filter(F.col("cum") * F.lit(1_000_000) >= F.lit(int(q_ppm)) * F.col("n"))
        .groupBy("g")
        .agg(F.min("v").alias(out_col), F.max("n").alias("n_rows"))
        .select(
            F.col("g").alias(group_col),
            out_col,
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy(group_col)
    )


def grouped_exact_median(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Exact per-group lower median — :func:`grouped_exact_quantile` at
    q_ppm=500000 (``cum·10⁶ ≥ 5·10⁵·n`` ≡ ``cum·2 ≥ n``)."""
    return grouped_exact_quantile(
        df, group_col, value_col, 500_000, out_col="median"
    )


def grouped_mad(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group median absolute deviation — the robust spread estimate
    behind production anomaly screens (the mean/σ z-score of
    e_anomaly_zscore breaks under heavy tails; median/MAD does not):
    ``MAD_g = median(|v − median_g|)``, both medians exact lower-median
    elements via :func:`grouped_exact_quantile`.

    Scale shape: pass 1 is the grouped-median primitive (distinct-value
    shuffle); the per-group medians — group-cardinality rows, a
    hyperparameter-small frame in any real screen — join back to the
    rows on the group key (AQE broadcasts it when it fits; no explicit
    broadcast so arbitrarily many groups stay correct), and pass 2 runs
    the same primitive over the deviations.  No global window, no
    self-join of the data."""
    med = grouped_exact_median(df, group_col, value_col).select(
        group_col, F.col("median").alias("__med")
    )
    dev = (
        df.filter(F.col(value_col).isNotNull())
        .join(med, group_col)
        .select(
            group_col,
            F.col("__med").alias("median"),
            F.abs(F.col(value_col) - F.col("__med")).alias("__dev"),
        )
    )
    out = grouped_exact_quantile(dev, group_col, "__dev", 500_000, out_col="mad")
    return (
        out.join(med, group_col)
        .select(
            group_col,
            F.col("__med").alias("median"),
            "mad",
            "n_rows",
        )
        .orderBy(group_col)
    )


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_thousandths: int = 5189,
) -> DataFrame:
    """Robust per-group outlier screen — the heavy-tail-safe twin of the
    mean/σ z-score (``e_anomaly_zscore``): a row is an outlier when its
    absolute deviation from the group MEDIAN exceeds ``k`` MADs, the
    modified z-score rule (Iglewicz & Hoaglin: |0.6745·(v−med)/MAD| >
    3.5 ⇔ |v−med| > 5.189·MAD — the default ``k_thousandths=5189``).
    Mean/σ screens fail exactly when screening matters most: one extreme
    value inflates σ until nothing is anomalous; median/MAD have a 50%
    breakdown point.

    Emits one row per group: ``(group, n_rows, n_outliers, outlier_ppm,
    max_abs_dev)`` — exact integers plus exact-double deviations (v and
    the medians are data elements, so the subtraction is the same
    binary64 in any engine; no rounding needed anywhere).

    Scale shape: :func:`grouped_mad` provides (median, MAD) per group
    (distinct-value shuffles only); the group-cardinality stats frame
    joins back on the group key (AQE broadcast when small) and the flag
    pass is a pure projection + one final rollup.  Degenerate groups
    (MAD = 0, over half the mass on one value) flag every off-median row
    — deterministic, and the honest reading of a spike distribution."""
    stats = grouped_mad(df, group_col, value_col).select(
        group_col,
        F.col("median").alias("__med"),
        F.col("mad").alias("__mad"),
    )
    flagged = (
        df.filter(F.col(value_col).isNotNull())
        .join(stats, group_col)
        .select(
            group_col,
            F.abs(F.col(value_col) - F.col("__med")).alias("__dev"),
            (
                F.abs(F.col(value_col) - F.col("__med")) * F.lit(1000)
                > F.lit(int(k_thousandths)) * F.col("__mad")
            ).alias("__out"),
        )
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("__out"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.max("__dev").alias("max_abs_dev"),
        )
        .select(
            group_col,
            "n_rows",
            "n_outliers",
            F.expr("CAST(n_outliers * 1000000L DIV n_rows AS BIGINT)").alias(
                "outlier_ppm"
            ),
            "max_abs_dev",
        )
        .orderBy(group_col)
    )
