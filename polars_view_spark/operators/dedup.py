"""Deduplication operators for large-scale text corpora.

All partition-first (no driver-side data plane, no Python UDFs in hot
paths):

- exact:        hash-groupBy on a key expression (``dropDuplicates`` /
                keep-min-id variants)
- MinHash+LSH:  shingle → minhash signature → band buckets → bucket-join →
                exact-Jaccard verify.  THE scale path: candidate generation
                is a hash-partitioned self-join on tiny band keys, never an
                all-pairs product.
- SimHash:      16-bit sign fingerprint of token hashes; near-dups share
                fingerprints (or differ in few bits).
- n-gram Jaccard: exact Jaccard within cheap blocking buckets — the
                brute-force baseline the LSH path is measured against.
- embedding cosine: near-dup by cosine ≥ threshold within sign-LSH buckets.
- incremental:  new-batch-vs-corpus MinHash pairing (broadcast batch bands).
- clusters/apply: min-label-propagation connected components over the pair
                graph, then corpus compaction (drop non-representatives).
- contamination: corpus-vs-benchmark shingle overlap, benchmark broadcast.

Everything is expressed with JVM-side ``F.expr`` chains built from
functions/texthash.py so the DuckDB oracles (catalog_ext.py) replicate the
exact arithmetic.

``localCheckpoint`` lifecycle note (ADVICE r10): checkpointed
intermediates that are not explicitly unpersisted (``sigs`` in the
incremental/append paths, blocked shingles in ``ngram_jaccard_pairs``)
are released when the driver GCs the RDD reference and the
ContextCleaner runs — deterministic-enough for the repeated-call
patterns the tests exercise, but a long-lived driver hammering these
operators inherits that latency; the eagerly-pinned RESULT checkpoints
are tiny (surviving pairs only).  Fault-tolerance trade-off, also by
design: a local checkpoint truncates lineage, so an executor loss
mid-job fails the query instead of recomputing — acceptable in the
single-JVM driver environment; a cluster deployment that needs
mid-query executor-loss recovery should swap the corpus-scale
checkpoints (NOT the exchange-reuse-critical batch-side ones) for
``reliableCheckpoint`` or accept the retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_view_spark.functions.texthash import (
    MINHASH_BAND_ROWS,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    hex64_sql,
    minhash_sql,
    shingles_expr,
    tokens_expr,
)


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (minimum ``id_col``) per ``key_cols`` group.

    One hash-partitioned shuffle on the key; map-side partial aggregation
    makes the shuffle carry one row per (partition × key).  Deterministic —
    unlike ``dropDuplicates``, which keeps an arbitrary row.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__pvs_rn__", F.row_number().over(w))
        .filter(F.col("__pvs_rn__") == 1)
        .drop("__pvs_rn__")
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) exploded table of distinct word 3-shingles.

    Two-step tokens → shingles so the tokenizing split runs once per row,
    not once per shingle element (see shingles_from_tokens_sql)."""
    from polars_view_spark.functions.texthash import shingles_from_tokens_sql

    toks = df.select(F.col(id_col).alias("doc"), tokens_expr(text_col).alias("__t"))
    return toks.select(
        "doc", F.explode(F.expr(shingles_from_tokens_sql("__t"))).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """One row per doc: ``doc, mh0..mh{k-1}`` MinHash signature.

    Plan shape: explode shingles → hash each shingle once (``h31``) → single
    groupBy computing all k minima simultaneously (one shuffle, k aggregates
    share the hashed input).  Pass a precomputed (cached) ``shingles`` table
    to share the tokenize+shingle scan with other consumers.
    """
    sh = (shingles if shingles is not None else shingle_table(df, id_col, text_col)).withColumn(
        "h31", F.expr(f"{hex64_sql('shingle')} % {MINHASH_PRIME}")
    )
    aggs = [
        F.expr(minhash_sql("h31", a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return sh.groupBy("doc").agg(*aggs)


MAX_LSH_BUCKET = 64  # hot-bucket guard: buckets larger than this are dropped

#: LSH bucket key of a long-form band row: the band id and its row minhashes
_BUCKET_COLS = ["band"] + [f"v{r}" for r in range(MINHASH_BAND_ROWS)]


def _cap_buckets(
    df: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Hot-bucket guard shared by every banded candidate generator
    (MinHash-LSH and SimHash): drop whole buckets holding more than
    ``max_bucket_size`` members before they contribute quadratically to
    the self-join.  The size count is a window over the bucket key, so
    it shares the hashpartitioning the downstream join needs (no extra
    shuffle; an A/B at sf0.1 measured it ~free vs +1.5 s for a broadcast
    anti-join).  One implementation on purpose — guard semantics must
    never drift between consumers."""
    return (
        _with_bucket_size(df, bucket_cols)
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _with_bucket_size(df: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Annotate each row with its bucket's size (``__bsz``) — the ONE
    window behind the hot-bucket guard, shared by :func:`_cap_buckets`
    (in-session paths) and ``minhash_build_index`` (which persists the
    annotated rows so the lookup mode's cap is a pushdownable
    ``__bsz <= cap`` filter, semantics identical by construction)."""
    from pyspark.sql import Window

    return df.withColumn(
        "__bsz", F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
    )


def _band_rows(sigs: DataFrame) -> DataFrame:
    """Long-form LSH band reshape ``(band, v0..v{rows-1}, doc)`` of a
    signature table — a pure column slice/union projection, NO hot-bucket
    guard (callers that join an unbounded side apply :func:`_cap_buckets`
    themselves; the batch-invariant streaming lookup deliberately leaves
    the small arrival side uncapped so verdicts cannot depend on how the
    stream batched)."""
    k = len(MINHASH_COEFFS)
    n_bands = k // MINHASH_BAND_ROWS
    # ONE pass via explode instead of an n_bands-way union of projections:
    # the union shape scanned the signature source once PER BAND (4 parquet
    # scans / cache reads / ExistingRDD traversals) and quadrupled the plan
    # text for every consumer; inline_outer of a struct array yields the
    # identical rows from a single scan (r11; row multiset unchanged —
    # everything downstream is aggregates/joins).
    structs = [
        F.struct(
            F.lit(band).alias("band"),
            *[
                F.col(f"mh{band * MINHASH_BAND_ROWS + r}").alias(f"v{r}")
                for r in range(MINHASH_BAND_ROWS)
            ],
        )
        for band in range(n_bands)
    ]
    exploded = sigs.select(F.inline(F.array(*structs)), F.col("doc"))
    return exploded.select(*_BUCKET_COLS, "doc")


def _band_table(sigs: DataFrame, max_bucket_size: int) -> DataFrame:
    """Long-form LSH band table ``(band, v0..v{rows-1}, doc)`` with the
    hot-bucket guard applied.

    Single source for both the full self-join and the incremental path —
    banding/guard semantics must never drift between them (the
    incremental-equals-filtered-full oracle depends on it).  The
    bucket-size count shares the join's partitioning (see
    :func:`_cap_buckets`).
    """
    return _cap_buckets(_band_rows(sigs), _BUCKET_COLS, max_bucket_size)


def _batch_vs_all_sides(
    sigs: DataFrame, new_ids: DataFrame, max_bucket_size: int
) -> tuple[DataFrame, DataFrame]:
    """The two sides of a batch-vs-all candidate join: capped band rows of
    ``sigs`` restricted to the broadcast ``new_ids`` (left), and all capped
    band rows (right).  Shared by :func:`minhash_lsh_pairs_incremental`
    and the union mode of :func:`minhash_query_index`, which build the
    same union+cap-window subtree from recomputed or persisted
    signatures."""
    bands = _band_table(sigs, max_bucket_size)
    # MERGE hint: both sides derive from the SAME band-table subtree (the
    # batch side only adds a broadcast id join AFTER the cap window), and a
    # BroadcastExchange of either side re-runs that subtree — a second
    # full pass over the corpus band rows — because a broadcast can never
    # reuse the probe side's shuffle.  Sort-merge keys on the cap window's
    # band-key hashpartitioning, so the window exchange is computed once
    # and ReusedExchange feeds the other side; the window's partition-key
    # sort already satisfies the merge ordering, so no extra sort is paid
    # either.  At corpus scale the batch side's subtree STILL contains the
    # corpus-wide union+window, so broadcasting it would cost a full
    # corpus pass — merge is the only shape that scans the corpus once.
    return bands.join(F.broadcast(new_ids), "doc"), bands.hint("merge")


def _candidate_pairs(left: DataFrame, right: DataFrame, ordered: bool) -> DataFrame:
    """Cached distinct ``(doc1, doc2)`` candidates, doc1 < doc2, of the
    band-key join of two ``(band, v0..v{rows-1}, doc)`` frames — the one
    candidate generator behind every MinHash pairing path.

    ``ordered=True`` is the self-join form (both sides are the same
    table, so ``l.doc < r.doc`` keeps each pair once); otherwise any two
    distinct docs pair and the projection orders them.  The result is
    cached because the verify reads it twice (intersection + left join);
    the caller unpersists it."""
    left, right = left.alias("l"), right.alias("r")
    l_doc, r_doc = F.col("l.doc"), F.col("r.doc")
    cond = (F.col("l.band") == F.col("r.band")) & (
        (l_doc < r_doc) if ordered else (l_doc != r_doc)
    )
    for r in range(MINHASH_BAND_ROWS):
        cond = cond & (F.col(f"l.v{r}") == F.col(f"r.v{r}"))
    if ordered:
        pair = (l_doc.alias("doc1"), r_doc.alias("doc2"))
    else:
        pair = (F.least(l_doc, r_doc).alias("doc1"), F.greatest(l_doc, r_doc).alias("doc2"))
    return left.join(right, cond).select(*pair).distinct().cache()


def _path_exists(spark, path: str) -> bool:
    """Hadoop-filesystem existence probe (local, HDFS or object store)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def _reject_indexed_ids(
    op: str, batch: DataFrame, id_col: str, indexed: DataFrame, key: str
) -> None:
    """Append guard shared by every persisted index: raise ``ValueError``
    if ``batch`` repeats an id, or holds an id already in ``indexed``
    (whose id column is ``key``).  Either would duplicate the id's
    per-row index state.  The index side reads only its ``key`` column,
    semi-joined to the broadcast batch ids."""
    dup = (
        batch.groupBy(F.col(id_col).alias(key))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{op}: batch contains duplicate ids (e.g. "
            f"{sorted(r[key] for r in dup)}) — deduplicate before "
            f"appending"
        )
    new_ids = batch.select(F.col(id_col).alias(key))
    clash = (
        indexed.select(key)
        .join(F.broadcast(new_ids), key, "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{op}: ids already indexed (e.g. "
            f"{sorted(r[key] for r in clash)}) — appending would "
            f"duplicate their rows; deduplicate the batch or rebuild"
        )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = MAX_LSH_BUCKET,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verify.

    ``shingles`` lets a caller share one cached shingle table across
    several consumers (see :func:`dedup_eval` — shingling is ~60 % of
    this operator's cost); ownership stays with the caller, which must
    cache before and unpersist after.

    Returns ``(doc1, doc2, jaccard)`` with doc1 < doc2 and exact shingle
    Jaccard ≥ threshold.

    Scale analysis: signatures are one groupBy over the exploded shingles;
    candidate generation self-joins on (band_id, band minhashes) — a
    broadcast-or-shuffle hash join whose key cardinality is the number of
    *buckets*, so cost is O(sum of squares of bucket sizes), not O(n²);
    the final verify joins the shingle table only for candidate pairs.

    Hot-bucket guard: a band bucket holding > ``max_bucket_size`` docs
    (boilerplate — licence headers, templated pages) would contribute
    quadratically to the self-join, so it is DROPPED before the join (the
    bucket-size window shares the band-key partitioning the join needs, so
    the guard adds no extra shuffle).  Members of such mega-clusters are
    near-identical and are already collapsed by the exact/fingerprint dedup
    stages that precede MinHash in a real pipeline; the guard bounds worst-
    case cost at a measured recall trade-off (pinned in tests).  Real data
    here peaks at bucket size 15 (sf0.1), far under the default 64.

    The intermediate caches (shingles, signatures, candidates) are scoped
    to this call: the verified result is eagerly pinned (it is tiny — only
    the surviving pairs) and the inputs are unpersisted before returning,
    so repeated invocations don't accumulate executor storage.

    Measured floor (sf0.1, 5 000 docs, local[32], r03 per-stage sweep):
    ~2.4 s median, of which shingle tokenize+explode+md5 ≈ 60 % (260 k
    shingles — linear scan work that codegen already fuses; it shrinks
    only with a cheaper hash) and the rest is fixed per-job overhead from
    the three materialization barriers (shingle cache, signature cache,
    result checkpoint) at 32 shuffle partitions for kilobyte-sized
    shuffles.  Dropping spark.sql.shuffle.partitions to 8 cuts the total
    to 2.0 s, confirming the overhead diagnosis, but the operator does not
    pin a small count: at real scale partition count must track data
    volume, and AQE coalescing handles the small-SF case everywhere a
    cache boundary doesn't freeze the pre-coalesce layout.  This is a
    small-data artifact, not a plan defect — the asymptotic shape
    (explode → one groupBy → bucket join → candidate-only verify) is the
    one that holds at 100×.
    """
    own_sh = shingles is None
    sh = shingle_table(df, id_col, text_col).cache() if own_sh else shingles
    # cache(), deliberately NOT localCheckpoint: an eager checkpoint here
    # WOULD let AQE reuse the band exchange across the self-join's two
    # sides (a cache's InMemoryTableScan defeats the reuse
    # canonicalization), and it measured ~1 s faster at sf0.1 — but the
    # checkpoint's own job serializes the full shingle+minhash aggregate
    # into a standalone barrier that no longer pipelines into the
    # candidates job, and on the 10× instance that barrier costs far more
    # than the reuse saves: interleaved entry A/B measured 24.5–28.6 s
    # checkpointed vs 15.1–17.5 s cached (3 rounds each).  The cache
    # already deduplicates the EXPENSIVE half (the 64-minimum aggregate
    # runs once); only the cheap reshape+window+exchange evaluates per
    # side.  Contrast minhash_query_index, where the checkpointed frame
    # is the BATCH-side aggregate (small at any scale) and the reuse
    # saves a corpus-side union+window — there the same trade wins at
    # both scales and the checkpoint stays.
    sigs = minhash_signatures(df, id_col, text_col, shingles=sh).cache()
    bands = _band_table(sigs, max_bucket_size)
    # MERGE hint: a broadcast build side re-runs the band reshape + cap
    # window (a second shuffle of the band table) because a
    # BroadcastExchange can never reuse the probe side's shuffle — and a
    # corpus-scale band table could never broadcast anyway, so sort-merge
    # is the only join that exists at 100 TB.  (Note: with sigs CACHED,
    # the two sort-merge sides do NOT collapse into one ReusedExchange —
    # an InMemoryTableScan defeats AQE's reuse canonicalization, r10
    # finding — but both sides' reshape reads the cache, so only the cheap
    # reshape+window+exchange evaluates per side, never the minhash
    # aggregate.)
    candidates = _candidate_pairs(bands, bands.hint("merge"), ordered=True)
    result = exact_jaccard_for_pairs(candidates, sh, jaccard_threshold)
    # pin the (tiny) result, then release the big intermediates (a
    # caller-provided shingle table is the caller's to release)
    result = result.localCheckpoint(eager=True)
    for c in (candidates, sigs) + ((sh,) if own_sh else ()):
        c.unpersist()
    return result


def minhash_lsh_pairs_incremental(
    base: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Incremental near-dup detection: pairs involving at least one NEW
    document — never re-pairing the existing corpus against itself.

    The 100 TB operating mode: a daily crawl batch is deduplicated against
    the accumulated corpus.  Candidate generation joins the (small) new
    batch's band buckets — broadcast — against the full band table, so the
    corpus is never self-joined and never shuffled for candidates; cost is
    O(|new| × bucket size), independent of corpus size.  (In production the
    corpus signatures are persisted once and re-read; here they are
    recomputed so the operator is self-contained.)  Result equals the full
    pairing filtered to pairs touching a new doc — which is exactly how the
    oracle states it.
    """
    full = base.unionByName(new)
    sh = shingle_table(full, id_col, text_col).cache()
    # localCheckpoint, NOT cache() — enables exchange reuse across the two
    # band-table consumers of the merge join (see _batch_vs_all_sides)
    sigs = minhash_signatures(full, id_col, text_col, shingles=sh).localCheckpoint(
        eager=True
    )
    left, right = _batch_vs_all_sides(
        sigs, new.select(F.col(id_col).alias("doc")), max_bucket_size
    )
    candidates = _candidate_pairs(left, right, ordered=False)
    result = exact_jaccard_for_pairs(candidates, sh, jaccard_threshold).localCheckpoint(
        eager=True
    )
    for c in (candidates, sh):
        c.unpersist()
    return result


def minhash_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build the corpus MinHash index ONCE and persist it — the build/query
    split :func:`minhash_lsh_pairs_incremental`'s own docstring concedes a
    production deployment runs (its self-contained form re-shingles and
    re-hashes the standing corpus on EVERY daily batch; at 100 TB that
    recompute dwarfs the batch itself).  Mirrors the
    ``ivf_build_index``/``ivf_query_index`` shape
    (operators/similarity.py): one offline indexing job, many
    cheap query jobs that never recompute corpus-side state.

    Three parquet datasets under ``path``:

    - ``signatures``: one row per corpus doc, ``doc, mh0..mh{k-1}`` —
      the band table the union-mode candidate join needs is a pure
      column reshape of this (``_band_table``), so no hashing happens
      at query time.
    - ``shingles``: the exploded ``(doc, shingle)`` table, for the
      exact-Jaccard verify of corpus-side candidates.  Stored so the
      verify stage is a JOIN against persisted rows instead of a
      tokenize+shingle recompute of the corpus; ~3× the text in bytes —
      the classic index space-for-time trade, same as the IVF
      assignments dataset carrying its vectors.
    - (``sizes`` — REMOVED in r11.  The per-doc shingle-count dataset
      existed for the verify's Jaccard denominators, but the verify's
      shingle frame is semi-joined to candidate docs at DOC level, so
      every admitted doc keeps its complete shingle set and the
      denominators come exactly from a count over that cached,
      candidate-bounded frame — the persisted table was a corpus-sized
      write per build/append that nothing read.  A ``sizes`` directory
      left by an older build is simply ignored.)
    - ``bands``: the long-form band rows annotated with their corpus
      bucket size (``__bsz``, the same window as ``_cap_buckets``) —
      the batch-invariant lookup mode's cap reads corpus state only, so
      persisting it turns the per-query cap window into a pushdownable
      filter.  Stored UNFILTERED so any cap value works at query time;
      the union mode still derives its cap from the corpus∪batch union
      at query time (bucket heat there depends on the batch), keeping
      it result-identical to the self-contained incremental path.

    Appending documents: every dataset is a per-doc function EXCEPT the
    ``__bsz`` annotation, so an append job adds the new docs' rows to
    all three datasets (band rows are per-doc too); pre-existing rows'
    ``__bsz`` goes stale-LOW, which only ADMITS a since-grown hot
    bucket (extra verified candidates — a cost regression, never a
    wrong or missed result, since verification is exact).  Refresh the
    ``bands`` dataset periodically to restore the cost bound.  Skipping
    the ``bands`` append entirely is NOT safe: lookup-mode candidates
    come exclusively from it, so absent rows silently lose recall.
    """
    sh = shingle_table(corpus, id_col, text_col).cache()
    # sigs cached too: TWO writes consume it (signatures, bands), and
    # without the pin the bands write re-runs the k-minimum aggregate
    # over the full shingle stream — the most expensive reduction in the
    # build — instead of re-reading kilobytes of signature rows.
    sigs = minhash_signatures(corpus, id_col, text_col, shingles=sh).cache()
    try:
        # The first write (signatures) runs ALONE: it is the job that
        # fills the shingle and signature caches, and racing the other
        # writes against it would tokenize the corpus 2-4x concurrently
        # before the caches materialize.  The remaining two datasets are
        # independent functions of the now-cached frames, so they run as
        # CONCURRENT jobs from a small thread pool (optimization guide
        # §2.6): each write's task tail back-fills the executors the
        # others free, instead of sequential job barriers.  Job
        # descriptions are thread-local, so each write stays labelled in
        # the UI.
        sigs.write.mode("overwrite").parquet(f"{path}/signatures")

        def _write_shingles() -> None:
            sh.write.mode("overwrite").parquet(f"{path}/shingles")

        def _write_bands() -> None:
            # band rows + corpus bucket size (see docstring).  Derived from
            # the in-memory sigs frame (recompute off the cached shingles is
            # one aggregate) — NOT a read-back of the just-overwritten
            # signatures path, which raced a stale file listing into a
            # FILE_NOT_EXIST under overwrite-in-place (observed once in CI)
            _with_bucket_size(_band_rows(sigs), _BUCKET_COLS).write.mode(
                "overwrite"
            ).parquet(f"{path}/bands")

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(fn) for fn in (_write_shingles, _write_bands)
            ]
            for fut in futures:
                fut.result()  # re-raise the first failure
    finally:
        # release even when a write throws — retries must not accumulate
        # pinned copies of the (3× corpus text) shingle cache
        sh.unpersist()
        sigs.unpersist()


def minhash_append_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a document batch to a persisted MinHash index — the
    ingest half of the daily-crawl loop (screen the batch with
    :func:`minhash_query_index`, keep the survivors, THEN append them so
    tomorrow's batch screens against today's corpus) — without ever
    rebuilding or re-reading the corpus text.

    Implements the append procedure the build docstring specifies:
    per-doc rows land in all three datasets.  The appended band rows
    carry an at-append-time ``__bsz`` (batch-local bucket count + the
    bucket's existing persisted count — one aggregate over the NARROW
    bands dataset, no text-bearing dataset is touched); pre-existing
    rows' ``__bsz`` goes stale-LOW, which only ADMITS a since-grown hot
    bucket: extra exactly-verified candidates, a bounded cost
    regression, never a missed or wrong pair.  Consequently a query
    after appends returns a SUPERSET of what a fresh rebuild would
    (equal whenever no bucket crossed the cap between refreshes —
    pinned in tests); refresh ``bands`` periodically to restore the
    cost bound exactly.

    Guards: ids already present in the index AND ids duplicated within
    the batch itself are REJECTED up front (the common
    retry-after-partial-failure, double-ingest, and overlapping-source
    bugs would otherwise silently duplicate per-doc rows — doubled
    shingle rows corrupt every later Jaccard verdict) — the
    index-side check reads only the ``doc`` column of the signatures
    dataset against the broadcast batch ids.  A legacy index without
    the ``bands`` dataset is rejected BEFORE any write (run
    :func:`minhash_refresh_bands` first) — failing on it mid-append
    would leave a half-ingested batch.  The three appends are not
    transactional: if one fails midway, re-run AFTER removing the
    batch's rows (or rebuild) — the id guard will refuse a blind re-run
    that would double-append the datasets written before the failure.
    """
    spark = new_docs.sparkSession
    if not _path_exists(spark, f"{path}/bands"):
        raise ValueError(
            "minhash_append_index: index has no bands dataset (built "
            "before it existed) — run minhash_refresh_bands(path) once, "
            "then append"
        )
    _reject_indexed_ids(
        "minhash_append_index", new_docs, id_col,
        spark.read.parquet(f"{path}/signatures"), "doc",
    )
    sh = shingle_table(new_docs, id_col, text_col).cache()
    try:
        sigs = minhash_signatures(
            new_docs, id_col, text_col, shingles=sh
        ).localCheckpoint(eager=True)
        batch_bands = _band_rows(sigs)
        batch_keys = batch_bands.select(*_BUCKET_COLS).distinct()

        # The sigs checkpoint above materialized everything the first
        # two appends need (sh cache filled by the same job), and the
        # existing-bucket probe only READS the bands dataset.  Ordering
        # (r11, ADVICE r10): the id-clash guard above probes ONLY the
        # signatures dataset, so the partial-failure contract ("a blind
        # re-run after a failed append is refused") holds only if
        # signatures are ALWAYS the first dataset a partially-failed
        # append has written — therefore the signatures append completes
        # BEFORE the shingles append launches (a fully concurrent launch
        # could leave shingles written with signatures absent, and a
        # re-run would then double-append them, silently corrupting
        # every later Jaccard verdict).  The probe overlaps the
        # signatures append (different dataset); only the bands append
        # waits for the probe.
        def _append_signatures() -> None:
            sigs.write.mode("append").parquet(f"{path}/signatures")

        def _append_shingles() -> None:
            sh.write.mode("append").parquet(f"{path}/shingles")

        def _count_existing() -> DataFrame:
            # count ONLY the batch-touched buckets (semi-join to the
            # small, broadcast batch key set before the aggregate — never
            # a corpus-wide groupBy per append), and materialize BEFORE
            # appending to the same path: reading and appending one
            # dataset in a single job races the file listing.  Row counts
            # ARE member counts (one bands row per (band, doc)).
            return (
                spark.read.parquet(f"{path}/bands")
                .join(F.broadcast(batch_keys), _BUCKET_COLS, "left_semi")
                .groupBy(*_BUCKET_COLS)
                .agg(F.count(F.lit(1)).alias("__old"))
                .localCheckpoint(eager=True)
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            existing_fut = pool.submit(_count_existing)
            pool.submit(_append_signatures).result()  # guard anchor: first
            pool.submit(_append_shingles).result()
            existing = existing_fut.result()
        (
            _with_bucket_size(batch_bands, _BUCKET_COLS)
            .join(existing, _BUCKET_COLS, "left")
            .withColumn(
                "__bsz", F.col("__bsz") + F.coalesce(F.col("__old"), F.lit(0))
            )
            .drop("__old")
            .write.mode("append")
            .parquet(f"{path}/bands")
        )
    finally:
        sh.unpersist()


def minhash_refresh_bands(spark, path: str) -> None:
    """Rebuild the ``bands`` dataset of a persisted MinHash index from
    its current signatures — the periodic maintenance job the append
    contract calls for: appends leave pre-existing rows' ``__bsz``
    stale-LOW (cost-only; see :func:`minhash_append_index`), and a
    refresh restores exact bucket sizes so lookup-mode admission again
    matches a fresh rebuild bit-for-bit.  Also materializes ``bands``
    for a legacy index built before the dataset existed.  Reads only
    the (narrow) signatures dataset — never the corpus text."""
    sigs = spark.read.parquet(f"{path}/signatures")
    # stage to a sibling then swap: overwriting bands while deriving it
    # from a DIFFERENT dataset is safe, but a mid-write failure must not
    # leave a half-written bands dir for lookups to read
    tmp = f"{path}/bands__refresh_tmp"
    _with_bucket_size(_band_rows(sigs), _BUCKET_COLS).write.mode(
        "overwrite"
    ).parquet(tmp)
    jvm = spark._jvm
    dst = jvm.org.apache.hadoop.fs.Path(f"{path}/bands")
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(dst, True)
    fs.rename(src, dst)


def minhash_query_index(
    spark,
    new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = MAX_LSH_BUCKET,
    materialize: bool = True,
    include_batch_pairs: bool = True,
) -> DataFrame:
    """Pair a NEW batch against a persisted MinHash index
    (:func:`minhash_build_index`) — the cheap repeated half of the
    build/query split.  Result-identical to
    :func:`minhash_lsh_pairs_incremental` (same banding, same
    union-derived hot-bucket cap, same exact-Jaccard verify — asserted
    in tests), but the corpus side is READ, never recomputed: the only
    tokenize/shingle/minhash work at query time is over the new batch,
    so per-call CPU is O(|new|) + index scan I/O, independent of corpus
    text volume.

    Plan shape: corpus signatures scan → reshape to bands → union with
    the new batch's (cached) bands → cap window → sort-merge candidate
    join whose batch side re-uses the window's exchange (ReusedExchange —
    ONE corpus band pass; see the merge-hint comment) → candidate pairs →
    exact verify joining the persisted corpus shingles unioned with the
    batch's own.  The corpus is never self-joined and never re-shingled;
    nothing about the query side scales with corpus CPU, only with its
    (columnar, pruned-to-``doc, shingle``) bytes.

    ``materialize=False`` skips the eager result checkpoint (which
    truncates lineage to ``Scan ExistingRDD`` and blinds plan-gate
    tests) and leaves the intermediate caches to the caller — same
    contract as ``dsir_weights``.

    ``include_batch_pairs=False`` switches to the BATCH-INVARIANT
    lookup the streaming wrapper needs
    (streaming/events.py:streaming_minhash_lookup): only
    (arrival, corpus) pairs are produced — never arrival-arrival —
    the hot-bucket cap is computed over the CORPUS bands alone, and
    the (small) arrival bands stay uncapped, so every arrival's
    verdict reads fixed index state only and the union over any
    batching of the arrivals equals the one-shot call.  The default
    mode keeps the self-contained incremental path's exact semantics
    (union-derived cap, batch-internal pairs included).
    """
    corpus_sh = spark.read.parquet(f"{path}/shingles")

    new_sh = shingle_table(new, id_col, text_col).cache()
    candidates = None
    # localCheckpoint, deliberately NOT cache(): (a) uncheckpointed, every
    # band branch re-runs the batch's minhash aggregate (n_bands ×
    # consuming-subtree copies of the same Exchange+HashAggregate — the
    # dominant query-side cost in the r10 idle-box profile); (b) a cache()
    # would also run it once, BUT the InMemoryTableScan it plants inside
    # the band-table subtree defeats AQE's exchange-reuse canonicalization,
    # so the union+cap-window shuffle would still compute twice (measured:
    # ReusedExchange absent with cache, present with checkpoint — the
    # ExistingRDD leaf canonicalizes equal on both join sides).  The
    # checkpointed frame is one row per batch doc — kilobytes.
    # eager=False (r11): the plan leaf (LogicalRDD) — which is what the
    # exchange-reuse canonicalization needs — exists at planning time
    # either way; lazy materialization folds the batch aggregate into the
    # result job instead of paying a standalone job barrier per query
    # (measured −0.3 s/query at sf0.1, ReusedExchange gate still green).
    new_sigs = minhash_signatures(new, id_col, text_col, shingles=new_sh).localCheckpoint(
        eager=False
    )
    all_sh = None
    try:
        if include_batch_pairs:
            # same union the self-contained incremental path computes from
            # scratch — per-doc rows are identical, so downstream is identical
            corpus_sigs = spark.read.parquet(f"{path}/signatures")
            left, right = _batch_vs_all_sides(
                corpus_sigs.unionByName(new_sigs),
                new.select(F.col(id_col).alias("doc")),
                max_bucket_size,
            )
        else:
            # cap from corpus-only bucket sizes: batch contents must not be
            # able to tip a bucket over the cap, or verdicts would depend on
            # how arrivals were batched.  The persisted band table carries
            # each bucket's CORPUS size, so the cap is a pushdownable
            # filter here — no per-query window shuffle over corpus bands.
            # Indexes written before the bands dataset existed fall back
            # to deriving capped bands from signatures (one window per
            # call — the pre-bands cost, not an error).
            left = F.broadcast(_band_rows(new_sigs))
            if _path_exists(spark, f"{path}/bands"):
                right = (
                    spark.read.parquet(f"{path}/bands")
                    .filter(F.col("__bsz") <= max_bucket_size)
                    .drop("__bsz")
                )
            else:
                right = _band_table(
                    spark.read.parquet(f"{path}/signatures"), max_bucket_size
                )
        candidates = _candidate_pairs(left, right, ordered=False)

        # verify touches only candidate docs: semi-join the shingle
        # streams to the (small, broadcast) candidate id set.  The
        # semi-join is DOC-level, so every admitted doc keeps its COMPLETE
        # shingle set — which makes the Jaccard denominators derivable
        # from this same bounded frame (exact_jaccard_for_pairs' sizes
        # aggregate).  r11: the persisted ``sizes`` dataset is no
        # longer read here — joining it meant scanning a corpus-sized
        # per-doc table (twice, once per denominator side) where the
        # candidate-only aggregate touches cached kilobytes.  Since r11 the
        # dataset is no longer written either; an old index's ``sizes``
        # directory is ignored.
        # NO corpus-wide aggregate runs at query time either way (the
        # sizes aggregate sees candidate docs only), keeping the
        # O(|new|) CPU claim honest.
        cand_docs = (
            candidates.select(F.col("doc1").alias("doc"))
            .unionByName(candidates.select(F.col("doc2").alias("doc")))
            .distinct()
        )
        # cached: exact_jaccard_for_pairs consumes the shingle table three
        # times (both join sides of the intersection count + the sizes
        # aggregate) — uncached, the corpus-shingles parquet scan +
        # semi-join would run per consumer.  Bounded: only candidate
        # docs' shingles survive the semi-join.
        all_sh = (
            corpus_sh.unionByName(new_sh)
            .join(F.broadcast(cand_docs), "doc", "left_semi")
            .cache()
        )
        result = exact_jaccard_for_pairs(candidates, all_sh, jaccard_threshold)
        if materialize:
            result = result.localCheckpoint(eager=True)
        return result
    finally:
        if materialize:
            if candidates is not None:
                candidates.unpersist()
            if all_sh is not None:
                all_sh.unpersist()
            new_sh.unpersist()


def exact_jaccard_for_pairs(
    pairs: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Verified ``(doc1, doc2, jaccard)`` rows of candidate ``pairs``:
    exact shingle Jaccard ≥ ``threshold``, rounded to 6 places.

    Intersection via a 3-way hash join on the exploded ``(doc, shingle)``
    table; set sizes via one small aggregate over the same table,
    broadcast back.  No list materialization on the driver.  The
    shingle table feeds three consumers (both join sides + sizes), so
    callers pass a cached one; it may be pre-filtered to candidate docs
    as long as each admitted doc keeps its complete shingle set (the
    sizes are the Jaccard denominators).
    """
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    sh1 = shingles.select(F.col("doc").alias("doc1"), F.col("shingle"))
    sh2 = shingles.select(F.col("doc").alias("doc2"), F.col("shingle"))
    inter = (
        pairs.join(sh1, "doc1")
        .join(sh2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )

    verified = (
        pairs.join(inter, ["doc1", "doc2"], "left")
        .na.fill({"inter": 0})
        .join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("sz", "sz1"), "doc1")
        .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("sz", "sz2"), "doc2")
        .select(
            "doc1",
            "doc2",
            (
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc1", "doc2", F.round("jaccard", 6).alias("jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs within blocking buckets.

    ``shingles`` shares a caller-owned cached shingle table (the caller
    caches/unpersists it); the block-joined copy this operator derives
    is still materialized (checkpointed) locally.

    ``block_cols`` bound which docs may pair (same block only) — the
    baseline against which the LSH path is validated.

    Execution shape: intersections come from a SELF-JOIN OF THE SHINGLE
    TABLE on (shingle, block) — each shared shingle contributes one row to
    the (doc1, doc2) count — never from materializing the blocked pair set
    and re-joining shingles per pair (that shape peaked at pairs×shingles
    ≈ 775 M intermediate rows at sf0.1 / 39 s; this one is linear in
    co-occurrences and runs in ~3 s).  Exactness is preserved because a
    pair with an empty shingle intersection has Jaccard 0 and can never
    reach a positive ``threshold`` — enforced below.  Worst case remains
    quadratic in the count of docs sharing one (shingle, block), the same
    hot-key caveat as any exact baseline; the MinHash path is the scale
    answer, this operator is its validator.
    """
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0 "
                         "(zero-intersection pairs are pruned by design)")
    blocks = df.select(F.col(id_col).alias("doc"), *[F.col(c) for c in block_cols])
    base_sh = shingle_table(df, id_col, text_col) if shingles is None else shingles
    # localCheckpoint, NOT cache(): the blocked shingle table feeds BOTH
    # sides of the intersection self-join below, and both sides shuffle by
    # the same (shingle, block) keys — over an ExistingRDD leaf the two
    # exchanges canonicalize equal and AQE computes ONE shuffle
    # (ReusedExchange), where a cache()'s InMemoryTableScan defeats that
    # canonicalization and the shingle stream is shuffled twice (same
    # finding as minhash_lsh_pairs, r10).
    sh = base_sh.join(blocks, "doc").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    join_keys = ["shingle", *block_cols]
    sh1 = sh.select(F.col("doc").alias("doc1"), *join_keys)
    sh2 = sh.select(F.col("doc").alias("doc2"), *join_keys)
    inter = (
        sh1.join(sh2, join_keys)
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("sz").alias("sz2"))
    out = (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))
    )
    # same discipline as minhash_lsh_pairs: eagerly pin the (tiny)
    # surviving-pairs result (the blocked-shingle checkpoint is released
    # when its RDD goes out of scope)
    return out.localCheckpoint(eager=True)


def dedup_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Recall/precision scorecard of the MinHash+LSH path against the
    blocked exact-Jaccard baseline — the tuning harness for the banding
    knobs (band count/rows, hot-bucket cap) a real deployment must size.

    ``truth`` = :func:`ngram_jaccard_pairs` within ``block_cols`` blocks;
    ``pred`` = :func:`minhash_lsh_pairs` (unblocked).  One full outer
    join of two already-small pair sets → a single summary row:

    - ``n_fn`` (truth-only) = true pairs the banding missed — the recall
      cost of the LSH probability curve + hot-bucket cap;
    - ``n_fp`` (pred-only) = verified pairs OUTSIDE the baseline's
      blocks (minhash verifies exact Jaccard, so these are real near-dups
      the blocked baseline cannot see — a blocking-recall signal, not
      false positives in the usual sense; named fp for the confusion-
      matrix frame).

    Ratios are integer ppm (``DIV``) so the oracle hash-matches exactly.
    Both components keep their own scale shapes and consume ONE shared
    cached shingle table (shingling is the dominant cost of each — the
    share halves the eval's heavy stage); the eval itself adds one tiny
    join + aggregate.
    """
    blocks = block_cols if block_cols is not None else ["lang"]
    sh = shingle_table(df, id_col, text_col).cache()
    truth = ngram_jaccard_pairs(
        df, id_col, text_col, blocks, threshold, shingles=sh
    ).select("doc1", "doc2", F.lit(1).alias("in_t"))
    pred = minhash_lsh_pairs(df, id_col, text_col, threshold, shingles=sh).select(
        "doc1", "doc2", F.lit(1).alias("in_p")
    )
    # both components eagerly checkpoint their (tiny) results, so the
    # shared shingle cache is no longer needed past this point
    sh.unpersist()
    joined = truth.join(pred, ["doc1", "doc2"], "full").select(
        F.coalesce("in_t", F.lit(0)).alias("t"),
        F.coalesce("in_p", F.lit(0)).alias("p"),
    )
    return joined.agg(
        F.expr("CAST(SUM(t) AS BIGINT)").alias("n_truth"),
        F.expr("CAST(SUM(p) AS BIGINT)").alias("n_pred"),
        F.expr("CAST(SUM(t * p) AS BIGINT)").alias("n_tp"),
        F.expr("CAST(SUM(t * (1 - p)) AS BIGINT)").alias("n_fn"),
        F.expr("CAST(SUM((1 - t) * p) AS BIGINT)").alias("n_fp"),
    ).select(
        "*",
        F.expr(
            "CASE WHEN n_truth = 0 THEN NULL "
            "ELSE (n_tp * 1000000) DIV n_truth END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN n_pred = 0 THEN NULL "
            "ELSE (n_tp * 1000000) DIV n_pred END"
        ).alias("precision_ppm"),
    )


def dedup_apply(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Corpus compaction — the step that turns near-dup CLUSTERS into a
    deduplicated corpus: every document that belongs to a near-dup cluster
    and is not its representative (minimum id) is dropped; singletons and
    representatives survive.

    Scale shape: the drop-list is the set of non-representative cluster
    members — a small fraction of the corpus by construction (it is the
    redundancy being removed) — applied with one LEFT ANTI join; AQE turns
    it into a broadcast join whenever the list fits, and the corpus is
    never shuffled more than once.
    """
    members = dedup_clusters(df, id_col, text_col, jaccard_threshold)
    drop = members.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    test_pct: int = 10,
    val_pct: int = 10,
) -> DataFrame:
    """Train/val/test assignment that near-dup clusters cannot straddle:
    each document is hashed by its CLUSTER REPRESENTATIVE (minimum id
    reachable through near-dup edges; singletons hash their own id), so
    every member of a near-dup cluster lands in the same split — the
    defense against benchmark leakage via paraphrases of training docs
    (hashing raw ids would scatter a cluster's members across splits with
    probability 1 − Σ p_s² per pair).

    Output: ``(doc_id, rep, split)``, deterministic (md5 bucket, no
    ``rand()``), reproducible across engines and retries.

    Scale shape: the cluster map covers only docs in near-dup pairs — the
    corpus redundancy, a small fraction by construction — so the LEFT
    join is broadcast-able under AQE; the hash/band is pure codegen.
    """
    clusters = dedup_clusters(df, id_col, text_col, jaccard_threshold)
    base = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .withColumn(
            "rep",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long"),
        )
    )
    h = "conv(substr(md5(CAST(rep AS STRING)), 1, 15), 16, 10) % 100"
    split = (
        f"CASE WHEN {h} < {test_pct} THEN 'test' "
        f"WHEN {h} < {test_pct + val_pct} THEN 'val' ELSE 'train' END"
    )
    return base.select("doc_id", "rep", F.expr(split).alias("split"))


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, count the
    distinct word shingles it shares with each benchmark document; report
    pairs with ≥ ``min_overlap`` shared shingles as
    ``(doc_id, bench_id, n_overlap)``.

    This is the train/test decontamination step of an LLM data pipeline
    (n-gram collision against held-out eval sets).  Scale shape: the
    benchmark side is small by construction (eval suites are KBs–MBs, the
    corpus is the 100 TB side), so its exploded shingle table is BROADCAST
    and the corpus-side scan streams through a broadcast hash join — no
    corpus shuffle at all; the only exchange is the final
    (doc, bench) count aggregation, whose cardinality is bounded by the
    number of *contaminated* pairs, not the corpus.

    The ``doc != bench_id`` filter drops only the trivial self-pair when
    the benchmark is carved out of the corpus itself (shared id space); a
    caller DECONTAMINATING a training set must additionally drop the
    benchmark ids themselves — flagging reports lookalikes, it does not
    exempt the originals (build_training_mix does both).
    """
    c_sh = shingle_table(corpus, id_col, text_col)
    b_sh = shingle_table(benchmark, id_col, text_col).withColumnRenamed(
        "doc", "bench_id"
    )
    return (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .filter(F.col("doc") != F.col("bench_id"))
        .groupBy("doc", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc1",
    dst_col: str = "doc2",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list: every vertex that
    appears in ``pairs`` gets a ``label`` = the minimum vertex id reachable
    through edges.  Returns ``(v, label)``.

    Implementation is iterative min-label propagation with path halving —
    the standard large-graph pattern on Spark (cf. Hash-to-Min / GraphX
    CC): per round every vertex takes the min label among itself and its
    neighbors, then jumps through its label's own label
    (``label ← min(label, label[label])``), so label reach DOUBLES per
    round and rounds go O(diameter) → O(log diameter) — a 100-vertex
    chain converges in 7 rounds, not 99 (pinned in
    TestDedupClusters.test_long_chain_converges_logarithmically).  Each
    round is one edge join + groupBy plus one label self-join; labels are
    ``localCheckpoint``ed per round so lineage stays flat (no exponential
    re-planning), and the loop early-stops when a round changes nothing.
    The driver never holds vertices — only the per-round change count
    crosses over.

    Measured floor (sf0.1 MinHash graph: 488 edges / 477 vertices,
    local[32], r04 per-round sweep; barrier structure re-cut in r11): the
    graph converges in 2 rounds (round 1 settles every label — path
    halving reaches each component's min immediately at this diameter;
    round 2 is the mandatory zero-change confirmation, inherent to any
    fixed-point stop rule).  Per round the barriers are now TWO jobs
    (``stepped`` checkpoint + ``new_labels`` checkpoint): the convergence
    count rides the ``new_labels`` job as an observed metric
    (``Dataset.observe`` — the old standalone count job re-read the fresh
    checkpoint purely to sum ``__chg``), and the ``edges`` setup
    checkpoint is lazy (folded into the init-labels job, its first
    consumer).  Swapping the intra-round ``stepped`` checkpoint for
    ``persist()`` measured at parity in r04 (the cache write rides the
    same job barrier), and ``stepped`` must stay EAGER: its self-join
    reads it from two concurrent stages, so a lazily-persisted RDD would
    compute the edge-join subtree twice at corpus scale.  The remaining
    per-round barrier cost is a small-data artifact: at real scale each
    barrier amortizes over TB-sized label shuffles, and the O(log
    diameter) round count is exactly what makes the operator viable
    there.
    """
    # eager=False (r11): the init-labels checkpoint below is the frame's
    # first (and only) materializing consumer, so the lazy checkpoint
    # folds the edge union into that job instead of paying a standalone
    # barrier — safe because exactly ONE stage reads the RDD before its
    # blocks exist (contrast `stepped`, which stays eager: its self-join
    # reads it from two concurrent stages, and lazy persistence would
    # compute the edge-join subtree twice at corpus scale).
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    if max_iterations <= 0:
        # guard up front: the for/else error path below formats the
        # per-round change count, which never exists if the loop body
        # never ran — this would otherwise surface as a NameError
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    labels = (
        edges.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
    ).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.v == neighbor_min.src, "left")
            .select(
                "v",
                F.col("label").alias("__old"),
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            # two consumers below (the frame and its self-join); pin so the
            # edge join + groupBy above runs once, not twice
            .localCheckpoint(eager=True)
        )
        # path halving: every label is itself a vertex id, so one label
        # self-join resolves label[label]; taking the min doubles how far a
        # component's minimum can travel each round
        lab2 = stepped.select(F.col("v").alias("v2"), F.col("label").alias("l2"))
        new_labels = (
            stepped.join(lab2, stepped.label == lab2.v2, "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("l2", "label")).alias("label"),
                (
                    F.least(F.col("label"), F.coalesce("l2", "label"))
                    < F.col("__old")
                ).alias("__chg"),
            )
        )
        # the convergence count rides the checkpoint job as an observed
        # metric (r11, VERDICT r10 task 4): CollectMetrics accumulates
        # per-task during the SAME job that materializes the checkpoint,
        # so the per-round `changed` no longer costs a standalone count
        # job re-reading the fresh checkpoint — one fewer job barrier per
        # round, result byte-identical (the metric observes the identical
        # __chg column the count used to filter on).
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = new_labels.observe(
            obs, F.sum(F.col("__chg").cast("long")).alias("changed")
        ).localCheckpoint(eager=True)
        changed = int(obs.get["changed"] or 0)
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        # loop exhausted with labels still moving: clusters would be
        # partially merged (same pair, different cluster ids) — refuse to
        # return silently-wrong groups
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({changed} labels still changing); the graph has a "
            f"longer chain than expected — raise max_iterations"
        )

    return labels


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the MinHash near-dup graph: each document
    that belongs to at least one near-dup pair gets a ``cluster_id`` = the
    minimum doc id reachable through near-dup edges.  This is the step that
    turns PAIRS into dedup GROUPS (keep one representative per cluster);
    the graph machinery is :func:`connected_components`."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, jaccard_threshold)
    labels = connected_components(pairs, "doc1", "doc2", max_iterations)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def simhash_bits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    features: str = "tokens",
) -> DataFrame:
    """``bits``-wide SimHash fingerprint per document (bits ≤ 48: every
    ``1 << j`` literal and the assembled fingerprint stay positive BIGINT
    on both engines — the repo's signed-overflow parity rule).

    Distinct features are hashed once; each bit j of the fingerprint is
    the sign of ``sum over features of (2*((h>>j)&1) - 1)``.  One explode
    + one groupBy with ``bits`` parallel aggregates — single shuffle.  48
    CASE aggregate terms is far under the Janino flat-expression ceiling.

    ``features``: ``"tokens"`` fingerprints the token DISTRIBUTION —
    documents drawn from one vocabulary collapse into a small Hamming
    ball (measured: 77 % of all sf0.001 pairs within distance 3 of each
    other at 32 bits), useful for corpus-level signatures, useless for
    pair mining.  ``"shingles"`` (word n-grams) is doc-specific — the
    same corpus yields 23 near-dup pairs — and is what
    :func:`simhash_near_dup_pairs` uses."""
    assert 1 <= bits <= 48, bits
    assert features in ("tokens", "shingles"), features  # opposite semantics
    if features == "tokens":
        toks = df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(tokens_expr(text_col))).alias("tok"),
        )
    else:
        # two-step tokens -> shingles (shingle_table): the one-expression
        # shingles_expr re-splits the text once PER SHINGLE ELEMENT —
        # measured 11.8 s vs 1.5 s for the explode at sf0.1 (the trap
        # shingles_from_tokens_sql documents; same fix as MinHash)
        toks = shingle_table(df, id_col, text_col).select(
            "doc", F.col("shingle").alias("tok")
        )
    toks = toks.withColumn("h", F.expr(hex64_sql("tok")))
    aggs = [
        F.sum(F.expr(f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END")).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc").agg(*aggs)
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return sums.select("doc", F.expr(fp).cast("long").alias("simhash"))


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (see :func:`simhash_bits`)."""
    return simhash_bits(df, id_col, text_col, 16)


#: simhash_near_dup_pairs defaults: 32 fingerprint bits keeps the random-
#: collision floor negligible (P[dist ≤ 3] ≈ 1.3e-6 per pair), Hamming ≤ 3
#: is the usual near-dup radius at 32 bits.
SIMHASH_PAIR_BITS = 32
SIMHASH_MAX_HAMMING = 3


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the pigeonhole
    band join.

    Split the ``bits``-wide fingerprint into ``max_hamming + 1``
    contiguous bands: two fingerprints within Hamming distance d differ
    in ≤ d bands, so they AGREE EXACTLY on at least one — candidate
    generation is an equi-join per band (no false negatives from banding
    itself, unlike MinHash-LSH's probabilistic bands), then candidates
    are verified with an exact ``bit_count(s1 ^ s2)``.  Both stages are
    integer codegen; the only Python is plan construction.

    Scale shape mirrors minhash_lsh_pairs: the self-join cost is
    O(Σ bucket²) over (band, band-value) buckets, never O(n²), and the
    same hot-bucket guard drops boilerplate mega-buckets > ``max_bucket_
    size`` before they contribute quadratically (the size count is a
    window over the bucket key — shares the join's partitioning, no
    extra shuffle).  Under the cap the output is EXACTLY the brute-force
    all-pairs result; tests pin the no-bucket-over-cap invariant at test
    scale so a silent recall drift fails loudly.

    Returns ``(doc1, doc2, hamming)`` with doc1 < doc2, ordered nowhere
    (callers sort).
    """
    assert max_hamming >= 0 and bits > max_hamming, (bits, max_hamming)
    sigs = simhash_bits(df, id_col, text_col, bits, features="shingles")
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    band_structs, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < rem else 0)
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"(simhash >> {off}) & {(1 << w) - 1}").alias("bval"),
            )
        )
        off += w
    # ONE projection over the signatures: exploding an inline array of
    # (band, value) structs long-forms the band table in a single pass.
    # (A per-band select/union also works — Spark reuses the aggregate's
    # exchange across branches, measured ~equal — but this keeps the
    # fingerprint job referenced exactly once in the plan.  The operator's
    # actual hot spot was the one-expression shingle split, fixed in
    # simhash_bits: 13.3 s → 2.8 s steady-state at sf0.1.)
    bands = sigs.select(
        "doc", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    bands = _cap_buckets(bands, ["band", "bval"], max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    # MERGE hint: left to its estimates the planner broadcasts one side of
    # this self-join, and the broadcast build side cannot reuse the other
    # side's shuffle — the whole fingerprint pipeline (scan → shingle
    # explode → hash → aggregate → cap window) runs TWICE.  Forcing
    # sort-merge makes both sides the same canonical subtree over the cap
    # window's (band, bval) hashpartitioning, so ReuseExchange computes it
    # once; at corpus scale a corpus-wide band table could never broadcast
    # anyway, so this is also the only shape that exists at 100 TB.
    cand = (
        a.join(
            b.hint("merge"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bval") == F.col("b.bval"),
                F.col("a.doc") < F.col("b.doc"),
            ],
        )
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(s1 ^ s2) AS INT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


#: doc_containment_pairs: share of the inner doc's fingerprints that must
#: also appear in the outer doc (percent — integer math, hash-exact).
CONTAINMENT_SHARE_PCT = 90

#: Absolute ceiling on the containment join's bucket size, applied ON TOP
#: of the relative boilerplate cut: the self-join costs Σ freq² over
#: admitted fingerprints, and a purely relative cut (n/10) admits
#: 5 000-member buckets on a 50 k-doc corpus — measured 10.5 BILLION
#: joined rows on the 10× sweep instance.  512² per bucket bounds the
#: worst case; evidence between the ceiling and the relative cut costs
#: recall on mid-frequency fingerprints only, never correctness.
CONTAINMENT_JOIN_CAP = 512

#: Inner-signature size: each doc is represented by its k globally-RAREST
#: admissible fingerprints (ties by fingerprint value — deterministic).
#: Rarest = most discriminative (the IDF intuition), and by construction
#: their buckets are small, so the candidate join is ~linear:
#: Σ_docs Σ_{fp∈sig} freq(fp) instead of Σ_fp freq².
CONTAINMENT_SIG_K = 24

#: Minimum signature size for a verdict: at n_sig = 1 the 90 % share
#: threshold is vacuous — any doc sharing that single 8-char window would
#: be reported as containing the short doc at share_pct = 100.  Docs with
#: fewer admissible fingerprints emit no pairs (a one-line doc has no
#: meaningful containment evidence either way).
CONTAINMENT_MIN_SIG = 3


def doc_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_share_pct: int = CONTAINMENT_SHARE_PCT,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Sub-document CONTAINMENT detection: doc A is flagged as contained
    in doc B when ≥ ``min_share_pct`` % of A's winnowing fingerprints
    (textstats.py:winnow_fingerprints — position-robust k-gram min-hash
    samples) also appear in B.  The doc-in-doc complement of span_dedup
    (which REMOVES duplicated spans) and of the symmetric pair miners:
    quotes, mirrored articles and boilerplate-wrapped reposts are
    asymmetric — Jaccard stays low because the outer doc is bigger, so
    only a containment test sees them.

    Verdict: ≥ ``min_share_pct`` % of the inner doc's SIGNATURE — its
    :data:`CONTAINMENT_SIG_K` globally-rarest admissible fingerprints —
    appear in the outer doc.  Rarest-k is the standard sampled
    containment test: rare fingerprints are the discriminative ones (the
    IDF intuition), the integer threshold (``n_shared·100 ≥ pct·n_sig``)
    keeps the DuckDB oracle hash-exact, and bounding the inner side at k
    rows per doc makes the candidate join Σ_docs Σ_{fp∈sig} freq(fp)
    instead of Σ_fp freq² (the full-evidence formulation measured 77 s
    at sf0.1; this one 17.6 s, dominated by fingerprint generation +
    the signature window).  On corpora with heavy EXACT duplication the
    output itself is quadratic in copy count (every copy contains every
    other) — run exact/fingerprint dedup first, the standard pipeline
    order; the 10× replica instance (10 verbatim copies per doc) is
    that pathology on purpose and its sweep ratio is output-driven.

    Admissibility cap (``max_bucket_size=None`` derives
    ``min(max(MAX_LSH_BUCKET, n_docs DIV 10), CONTAINMENT_JOIN_CAP)``
    from one cheap count, oracle-mirrored): "boilerplate" is RELATIVE —
    a fixed absolute cap silently zeroed recall at 5 000 docs (measured)
    — while the absolute ceiling bounds the worst-case bucket the outer
    side can contribute.  A fingerprint above the cap is evidence most
    of the corpus shares; dropping it from both signature and outer side
    says nothing about doc-IN-doc containment and prevents the
    double-counting it caused (pair count halved once mirrored).

    The fingerprint table feeds several differently-partitioned
    consumers (frequencies, signature window, outer join side — no
    exchange reuse), so it is cached for the call and released after
    the (tiny) result is eagerly pinned.  The cap derivation's
    ``df.count()`` runs the INPUT's lineage once more than the
    fingerprint scan does — cheap for a parquet-backed table (the
    catalog case); when the input is the expensive tail of a pipeline,
    either persist it first or pass ``max_bucket_size`` explicitly to
    skip the count.  Verdicts additionally require ``n_sig ≥
    CONTAINMENT_MIN_SIG``: a one-fingerprint doc would otherwise match
    "at 100 %" against everything sharing that single window.

    Returns ``(inner_doc, outer_doc, n_shared, n_sig, share_pct)``,
    directional (both directions can qualify for true near-dups).
    """
    from polars_view_spark.operators.textstats import winnow_fingerprints

    if max_bucket_size is None:
        max_bucket_size = min(
            max(MAX_LSH_BUCKET, df.count() // 10), CONTAINMENT_JOIN_CAP
        )
    fps = winnow_fingerprints(df, id_col, text_col).persist()
    freq = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("__freq")
    )
    # kept is BOTH sides of the verdicts (signature window + outer join
    # side); checkpointed so the freq aggregate and the admissibility
    # join run once, not once per side (alternating A/B at sf0.1: wins
    # both orderings, result hash identical — r10)
    kept = fps.join(
        freq.filter(F.col("__freq") <= max_bucket_size), "fingerprint"
    ).localCheckpoint(eager=True)
    result = _containment_verdicts(
        kept, kept, min_share_pct, "inner_doc", "outer_doc"
    ).localCheckpoint(eager=True)
    fps.unpersist()
    return result


def _containment_verdicts(
    sig_fps: DataFrame,
    kept: DataFrame,
    min_share_pct: int,
    inner_name: str,
    outer_name: str,
) -> DataFrame:
    """Shared containment tail (doc_containment_pairs + the screen): the
    rarest-``CONTAINMENT_SIG_K`` signature window over the admissible
    ``sig_fps`` side ``(id, fingerprint, __freq)``, the evidence join
    against the admissible outer side ``kept``, and the min-evidence /
    integer-share threshold — ONE copy of the formula both DuckDB oracle
    builders mirror (a cap or threshold change lands in exactly one
    Spark function)."""
    from pyspark.sql import Window

    sig_w = Window.partitionBy("id").orderBy(
        F.col("__freq").asc(), F.col("fingerprint").asc()
    )
    # n_sig rides the SAME window pass as the rank (least(count, K) ==
    # count of surviving rows, since the rank filter keeps min(count, K)
    # rows) and is carried through the evidence join as a grouping key —
    # the old shape computed a separate n_sig aggregate over sig and
    # joined it back, which evaluated the whole sig window subtree TWICE
    # (sig had two unmaterialized consumers) plus a third join.  Measured
    # NEUTRAL at sf0.1 (alternating A/B, verdicts stage isolated over a
    # checkpointed kept: old 6.0–8.0 s vs new 6.5–6.7 s — the evidence
    # join dominates at this scale, result hash identical); kept because
    # it removes one corpus-fingerprint window shuffle+sort and one join
    # from the plan — per-pass costs that scale with the corpus where the
    # sf0.1 stage time is barrier-bound.  Both windows share one exchange
    # (same partition key).
    sig = (
        sig_fps.withColumn("__rk", F.row_number().over(sig_w))
        .withColumn("__n_raw", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .filter(F.col("__rk") <= CONTAINMENT_SIG_K)
        .select(
            "id",
            "fingerprint",
            F.least(F.col("__n_raw"), F.lit(CONTAINMENT_SIG_K))
            .cast("long")
            .alias("n_sig"),
        )
    )
    a, b = sig.alias("a"), kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias(inner_name),
            F.col("b.id").alias(outer_name),
            F.col("a.n_sig").alias("n_sig"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.filter(F.expr(f"n_sig >= {CONTAINMENT_MIN_SIG}"))
        .filter(F.expr(f"n_shared * 100 >= {min_share_pct} * n_sig"))
        .select(
            inner_name,
            outer_name,
            "n_shared",
            "n_sig",
            F.expr("CAST((n_shared * 100) DIV n_sig AS BIGINT)").alias("share_pct"),
        )
    )


def containment_corpus_stats(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """The corpus-side half of :func:`doc_containment_screen`, split out
    so repeated screeners (the streaming wrapper, any per-batch caller)
    compute it ONCE: ``(kept, freq, cap)`` where ``kept`` is the
    admissible ``(id, fingerprint, __freq)`` outer-side table, ``freq``
    the full fingerprint→frequency map, and ``cap`` the derived
    admissibility bound.  Both frames are PERSISTED and eagerly pinned
    (the fingerprint fan-out feeds differently-partitioned consumers
    with no exchange reuse — the measured 63 s → 11 s trap, SCALE.md);
    the caller owns their lifecycle via ``kept.unpersist()`` /
    ``freq.unpersist()`` when screening ends."""
    from polars_view_spark.operators.textstats import winnow_fingerprints

    if max_bucket_size is None:
        max_bucket_size = min(
            max(MAX_LSH_BUCKET, corpus.count() // 10), CONTAINMENT_JOIN_CAP
        )
    fps = winnow_fingerprints(corpus, id_col, text_col).persist()
    freq = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
        .persist()
    )
    kept = fps.join(
        freq.filter(F.col("__freq") <= max_bucket_size), "fingerprint"
    ).persist()
    freq.count()
    kept.count()
    fps.unpersist()
    return kept, freq, max_bucket_size


def containment_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> None:
    """Persist the corpus-side containment statistics ONCE — the third
    build/query split beside ``minhash_build_index`` and
    ``ivf_build_index``: the standing corpus is winnowed and counted in
    one offline job, and every later ingest gate loads the result
    (:func:`containment_load_stats`) instead of re-fingerprinting 100 TB
    per batch (the in-session :func:`containment_corpus_stats` pin only
    lives as long as its session).

    Three datasets under ``path``: ``kept`` (the admissible
    ``(id, fingerprint, __freq)`` outer-side table), ``freq`` (the full
    fingerprint→frequency map the arrival side filters against) and a
    1-row ``meta`` carrying the corpus-derived admissibility cap — so a
    query job applies exactly the cap the build derived, never one
    recomputed from a different corpus count.

    Unlike the MinHash index (``minhash_append_index``), this index is
    NOT appendable: frequencies are corpus-GLOBAL state, so ingesting
    documents changes every prior row's admissibility and each
    arrival's rarest-k signature selection (a fingerprint crossing the
    cap must REMOVE old ``kept`` rows — append-only cannot express
    that, and the drift is semantic, not cost-only).  Rebuild on a
    schedule instead; between rebuilds the screen keeps its exact
    as-of-build semantics.
    """
    kept, freq, cap = containment_corpus_stats(
        corpus, id_col, text_col, max_bucket_size
    )
    try:
        kept.write.mode("overwrite").parquet(f"{path}/kept")
        freq.write.mode("overwrite").parquet(f"{path}/freq")
        sc = corpus.sparkSession.sparkContext
        corpus.sparkSession.createDataFrame(
            sc.parallelize([(int(cap),)], numSlices=1), "cap long"
        ).write.mode("overwrite").parquet(f"{path}/meta")
    finally:
        kept.unpersist()
        freq.unpersist()


def containment_load_stats(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    """Load a persisted containment index
    (:func:`containment_build_index`) in the exact shape
    ``doc_containment_screen``'s ``corpus_stats`` parameter and the
    streaming wrapper expect: ``(kept, freq, cap)``.  The frames are
    plain parquet scans (columnar, filter-pushdown-friendly) — callers'
    ``unpersist()`` lifecycle calls are harmless no-ops on them."""
    cap = spark.read.parquet(f"{path}/meta").collect()[0]["cap"]
    return (
        spark.read.parquet(f"{path}/kept"),
        spark.read.parquet(f"{path}/freq"),
        int(cap),
    )


def doc_containment_screen(
    corpus: DataFrame,
    arrivals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_share_pct: int = CONTAINMENT_SHARE_PCT,
    max_bucket_size: int | None = None,
    corpus_stats: tuple[DataFrame, DataFrame, int] | None = None,
) -> DataFrame:
    """Ingestion-gate containment screen: flag each ARRIVING doc whose
    rare winnowing fingerprints mostly (≥ ``min_share_pct`` %) appear in
    some STANDING-CORPUS doc — the quote/repost/boilerplate-wrap filter
    run at the door, before a document joins the corpus.  The
    batch-vs-corpus asymmetric twin of :func:`doc_containment_pairs`
    (which self-joins one corpus), shaped like
    :func:`minhash_lsh_pairs_incremental`: the corpus side never
    self-joins, and per-call cost is O(|arrivals| × k × bucket ≤ cap),
    independent of corpus size.

    The reference corpus is FIXED: fingerprint frequencies, the
    admissibility cap (same dual formula, derived from the CORPUS count)
    and each arrival's rarest-k signature all read corpus-side statistics
    only, so every arrival's verdict is independent of how arrivals are
    batched — the property that makes the streaming wrapper
    (streaming/events.py:streaming_containment_screen) exactly
    batch-invariant, unlike the evolving-corpus MinHash stream.  An
    arrival fingerprint ABSENT from the corpus gets frequency 0: it
    sorts first into the signature (rarest, maximally discriminative)
    and can never match, so mostly-novel documents are correctly NOT
    flagged — ``share_pct`` measures the fraction of the arrival's rare
    content the corpus already holds.

    Pass ``corpus_stats`` (from :func:`containment_corpus_stats`) to
    screen many batches against one precomputed corpus table — the
    streaming wrapper does, so per-trigger cost is the ARRIVAL side
    only; without it this self-contained form computes and releases the
    corpus statistics itself.

    Returns ``(arrival_doc, corpus_doc, n_shared, n_sig, share_pct)``.
    """
    from polars_view_spark.operators.textstats import winnow_fingerprints

    owns_stats = corpus_stats is None
    if owns_stats:
        corpus_stats = containment_corpus_stats(
            corpus, id_col, text_col, max_bucket_size
        )
    kept, freq, cap = corpus_stats
    try:
        a_fps = (
            winnow_fingerprints(arrivals, id_col, text_col)
            .join(freq, "fingerprint", "left")
            .withColumn("__freq", F.coalesce(F.col("__freq"), F.lit(0)))
            .filter(F.col("__freq") <= cap)
        )
        return _containment_verdicts(
            a_fps, kept, min_share_pct, "arrival_doc", "corpus_doc"
        ).localCheckpoint(eager=True)
    finally:
        # release even when the verdict join / checkpoint throws — the
        # stats are this call's cache entries only when it created them
        if owns_stats:
            kept.unpersist()
            freq.unpersist()


#: Fixed chunk width (words) for duplicated-span removal.
SPAN_CHUNK_WORDS = 8


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = SPAN_CHUNK_WORDS,
) -> DataFrame:
    """Duplicated-span removal (C4/RefinedWeb-style): split every document
    into fixed-width word chunks, keep only the globally FIRST occurrence
    of each distinct chunk (ordered by ``(id, chunk_idx)``), and reassemble
    the surviving text per document.

    Returns one row per input document: ``(id, n_chunks, n_kept,
    clean_text)`` — a fully-deduplicated doc keeps its text, a boilerplate
    echo collapses to the empty string.

    Scale shape: two shuffles, both linear in the chunk stream — chunking
    is a codegen projection (split + sequence/slice lambdas, no Python),
    first-occurrence is a row_number window hash-partitioned by chunk
    text, reassembly regroups by document id.  Nothing is quadratic.
    Ultra-hot boilerplate chunks concentrate on one reducer only up to
    their own copy count (row_number over a single key), which AQE skew
    splitting absorbs; hash the chunk to a 64-bit key upstream if shuffle
    bytes ever dominate.
    """
    if chunk_words < 1:
        raise ValueError(f"chunk_words must be >= 1, got {chunk_words}")
    from pyspark.sql import Window

    toks = f"split(lower(trim({text_col})), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+')"
    chunks = (
        f"transform(sequence(0, CAST(ceil(size({toks}) / {chunk_words}.0) AS INT) - 1), "
        f"i -> array_join(slice({toks}, i * {chunk_words} + 1, {chunk_words}), ' '))"
    )
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("id", "chunk_idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort("
            "collect_list(CASE WHEN rn = 1 THEN struct(chunk_idx, chunk) END)"
            "), s -> s.chunk), ' ')"
        ).alias("clean_text"),
    )


#: content-defined chunking: rolling-window width (tokens) and boundary
#: divisor — a cut lands after any position whose window hash ≡ 0 (mod
#: divisor), so expected chunk length ≈ CDC_DIVISOR tokens
CDC_WIDTH = 3
CDC_DIVISOR = 8


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = CDC_WIDTH,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking (the gear/Rabin CDC idea on token
    streams): a chunk boundary falls after every position whose
    ``width``-token window hash is ≡ 0 (mod ``divisor``).  Because the
    cut decision depends only on LOCAL content, chunk boundaries — and
    therefore chunk hashes — realign after an insertion or deletion,
    where fixed-width chunking (span_dedup, x_chunk_documents) shifts
    every downstream chunk.  This is the primitive behind shift-tolerant
    sub-document dedup and delta storage.

    Output: one row per (doc, chunk): ``(doc_id, chunk_id, n_tokens,
    chunk_hash, n_dup)`` — ``n_dup`` counts corpus-wide occurrences of
    the chunk's content hash, so ``n_dup > 1`` rows ARE the shared
    boilerplate/duplication map.

    Scale shape: ≤3 linear shuffles, none quadratic — the lag window and
    the boundary cumsum share ONE hash-partition by doc; chunk assembly
    regroups by (doc, chunk); the corpus-wide ``n_dup`` window hashes by
    chunk content (64-bit key, not text).  No Python anywhere; min/max
    chunk-size clamps (production CDC adds them) are omitted for oracle
    clarity and noted here honestly.
    """
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2, got {divisor}")
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_expr(text_col)).alias("pos", "term"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    lags = [F.lag("term", j).over(w) for j in range(width - 1, 0, -1)]
    # \x1f (unit separator) joins the window tokens.  NOT a hard
    # ambiguity guarantee: \x1f is not regex whitespace, so a token
    # containing a literal \x1f could make two different windows build
    # the same key (['a\x1fb','c'] vs ['a','b\x1fc']) — a pathological
    # input that only perturbs WHERE boundaries land, never cross-engine
    # parity (both engines build the identical key from the same rule)
    lagged = tok.withColumn(
        "__wk", F.concat_ws("\x1f", *lags, F.col("term"))
    ).withColumn(
        "b",
        F.when(
            (F.col("pos") >= width - 1)
            & (F.expr(f"{hex64_sql('__wk')} % {divisor}") == 0),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cids = lagged.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("int"),
    )
    chunks = cids.groupBy("doc", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, term))),"
            " s -> s.term), ' ')"
        ).alias("__chunk_text"),
    )
    out = chunks.withColumn(
        "chunk_hash", F.expr(hex64_sql("__chunk_text"))
    ).withColumn(
        "n_dup",
        F.count(F.lit(1)).over(Window.partitionBy("chunk_hash")).cast("long"),
    )
    return out.select(
        F.col("doc").alias(id_col), "chunk_id", "n_tokens", "chunk_hash", "n_dup"
    )


#: sorted-neighborhood: sort-key prefix length, block prefix, window width
SN_KEY_LEN = 24
SN_BLOCK_LEN = 2
SN_WINDOW = 3


#: standard Hernández-Stolfo multi-pass count: pass 1 sorts on the text
#: PREFIX, pass 2 on the REVERSED text's prefix (i.e. the suffix read
#: backwards) — duplicates whose keys diverge early in one ordering are
#: adjacent in the other (prepended header vs appended footer)
SN_PASSES = 2


def sn_pass_keys(text_col: str, key_len: int, passes: int) -> list[str]:
    """The per-pass sort-key expressions (Spark SQL).  Exactly mirrored
    by the DuckDB oracle (catalog_ext.py) — single source for HOW many
    and WHICH keys the multi-pass run uses.

    Keys are derived over the ASCII PROJECTION of the text (non-ASCII
    stripped BEFORE lowering): Spark's substring/reverse count code
    points while DuckDB's count grapheme clusters, so a combining
    sequence or emoji near either end of the text would give the two
    engines different keys — on pure ASCII the two definitions coincide
    and the cross-engine value-hash holds.  Sort keys only need to be a
    deterministic locality proxy; dropping non-ASCII from the KEY (the
    compared text is untouched) costs nothing semantically."""
    base = f"lower(regexp_replace(trim({text_col}), '[^ -~]', ''))"
    keys = [
        f"substring({base}, 1, {key_len})",
        f"substring(reverse({base}), 1, {key_len})",
    ]
    if not 1 <= passes <= len(keys):
        raise ValueError(f"passes must be in [1, {len(keys)}], got {passes}")
    return keys[:passes]


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    window: int = SN_WINDOW,
    key_len: int = SN_KEY_LEN,
    block_len: int = SN_BLOCK_LEN,
    passes: int = SN_PASSES,
) -> DataFrame:
    """Multi-pass sorted-neighborhood dedup candidates (Hernández &
    Stolfo, SIGMOD 1995): for each of ``passes`` sort keys, sort by the
    key, compare each record only with its next ``window`` neighbors;
    union the passes and verify with exact token Jaccard — the fourth
    candidate generator beside MinHash-LSH, SimHash bands and key
    blocking, with the opposite trade-off: O(passes·n·w) candidate cost
    that is INDEPENDENT of duplicate-cluster sizes (no bucket blowup),
    at the price of missing duplicates whose sort keys diverge early in
    EVERY pass.

    The multi-pass union is the paper's actual algorithm (§4.2: "several
    independent runs … each time with a different key, and a union of
    the results"): a single pass misses any duplicate whose key differs
    in the first characters — a prepended header, an edited first word —
    however wide the window.  Pass 2 sorts on the REVERSED text, so
    documents sharing a tail are neighbors there (pinned by a planted
    boundary-straddling test that one pass provably misses).

    Distributed form: each pass's sort is PARTITIONED by a short key
    prefix (``block_len`` chars) with the neighborhood window running
    inside each block — so no single-partition global window exists in
    the plan.  Pairs straddling a block boundary within a pass can still
    be missed; the other pass's independent ordering is also the classic
    remedy for exactly that.

    Output: ``(doc1, doc2, jaccard)`` with doc1 < doc2, Jaccard ≥
    threshold over distinct whitespace tokens; pairs found by several
    passes appear once (identical jaccard per pass → DISTINCT).

    Scale shape per pass: one hash shuffle on the block key, one window
    computing ALL ``window`` leads in a single pass, an explode of w
    bounded structs per row, and a codegen Jaccard — linear end to end;
    the tokenize projection is shared across passes and the final
    DISTINCT is one shuffle of the (tiny) surviving pairs.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql import Window

    key_exprs = sn_pass_keys(text_col, key_len, passes)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokens_expr(text_col)).alias("t"),
        *[F.expr(k).alias(f"__key{p}") for p, k in enumerate(key_exprs)],
    )

    pass_frames = []
    for p in range(len(key_exprs)):
        keyed = toks.select(
            "doc", "t", F.col(f"__key{p}").alias("sn_key")
        ).withColumn("sn_block", F.expr(f"substring(sn_key, 1, {block_len})"))
        w = Window.partitionBy("sn_block").orderBy("sn_key", "doc")
        # window expressions must be plain projection columns (they cannot
        # sit inside a generator), so the w leads land as columns first and
        # the struct-stack explode runs as a second projection
        lead_cols = []
        for i in range(1, window + 1):
            lead_cols.append(F.lead("doc", i).over(w).alias(f"__d{i}"))
            lead_cols.append(F.lead("t", i).over(w).alias(f"__t{i}"))
        with_leads = keyed.select("doc", "t", *lead_cols)
        leads = with_leads.select(
            "doc",
            "t",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"__d{i}").alias("doc2"),
                            F.col(f"__t{i}").alias("t2"),
                        )
                        for i in range(1, window + 1)
                    ]
                )
            ).alias("nb"),
        ).filter(F.col("nb.doc2").isNotNull())
        pass_frames.append(leads)

    all_leads = pass_frames[0]
    for fr in pass_frames[1:]:
        all_leads = all_leads.unionByName(fr)
    scored = all_leads.select(
        F.least(F.col("doc"), F.col("nb.doc2")).alias("doc1"),
        F.greatest(F.col("doc"), F.col("nb.doc2")).alias("doc2"),
        F.round(
            F.size(F.array_intersect(F.col("t"), F.col("nb.t2")))
            / F.size(F.array_union(F.col("t"), F.col("nb.t2"))),
            6,
        ).alias("jaccard"),
    )
    # exact Jaccard is pass-independent, so the cross-pass dedup is a
    # plain DISTINCT over the (already threshold-filtered, tiny) pairs
    return scored.filter(F.col("jaccard") >= jaccard_threshold).distinct()


def dedup_keep_best(
    df: DataFrame,
    key_col: str,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Exact dedup keeping the BEST-scoring member of each duplicate
    group (ties → lowest id) — the production keep rule: when identical
    content appears with different metadata/provenance, pipelines keep
    the highest-quality copy (longest extraction, cleanest source), not
    the arbitrary minimum id :func:`dedup_exact` uses.  Same scale shape
    as dedup_exact — ONE hash-partitioned shuffle on the key, the
    row_number window riding it — the only difference is the ORDER the
    window ranks by.  Deterministic under score ties via the id
    tiebreak."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
