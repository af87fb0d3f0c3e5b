"""Deduplication operators for training-data pipelines (engine extension).

Four tiers, cheapest first -- the standard LLM-corpus dedup ladder:

1. **Exact** (``exact_dedup``): md5 of normalized text, one hash-groupBy.
   At 100 TB this is a single shuffle on a well-distributed 60-bit key;
   map-side partial aggregation collapses most duplicates before the wire.
2. **MinHash signatures** (``minhash_signatures``): word-shingle MinHash
   computed entirely with array expressions (``array_min(transform(...))``)
   -- per-row, JVM-side, NO shuffle and no UDF; the signature computation
   scales linearly and embarrassingly parallel.
3. **LSH banding** (``lsh_candidate_pairs``): signatures banded so that
   only likely-similar pairs meet in a (band, band_hash) shuffle -- the
   classic sub-quadratic near-dup join (candidates only, verify after).
4. **N-gram Jaccard** (``ngram_jaccard_pairs``): exact similarity on
   candidate pairs via a shingle inverted index; quadratic in the worst
   case, so at scale it runs AFTER banding prunes candidates.

SimHash (``simhash_fingerprints``) complements MinHash for
cosine-ish/Hamming near-dup.  All hashing is md5-based and engine-stable
(functions/hashing.py), so every operator has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_PRIME,
    md5_long,
    normalize_text,
    perm_params,
    shingles_expr,
)
from ..session import session_parallelism

# Hot-bucket cap: a (band-hash | shingle) bucket holding more ids than
# this is dropped BEFORE pair expansion.  Pair blowup inside a bucket is
# O(n^2) on a single task, so one degenerate bucket (boilerplate shingle,
# mass-duplicated page -- guaranteed in a 100 TB crawl) would OOM one
# executor; the cap bounds per-bucket work at cap^2.  Dropped buckets are
# not lost signal: a bucket that big is either an exact-dup cluster
# (caught by the exact tier's hash-groupBy, which has no quadratic step)
# or a stop-gram shared by unrelated docs (pure noise for similarity) --
# the same reason search engines skip-list high-df terms.  Mirrored in
# the DuckDB oracle SQL so hash checks stay exact.  Fixture headroom:
# measured max bucket size at sf0.1 is 9 (LSH) / 25 (shingle df).
MAX_BUCKET = 64

def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism before
    per-row-expensive projections (shingling, hashing), so a small input
    (one parquet file -> one scan partition) still uses every core.  The
    exchange is narrow (doc_id + text) and unconditional -- deciding from
    ``df.rdd.getNumPartitions()`` would force a plan-to-RDD conversion on
    the driver per call.  At lake scale the scan already has >= cores
    partitions and AQE's coalescer re-merges any over-split output, so the
    cost is one pass-through shuffle that the CPU-bound projection
    amortizes."""
    return df.repartition(session_parallelism(df.sparkSession))

def _pairs_within_bucket(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Expand a sorted doc-id array column into (doc_a < doc_b) pairs.

    Replaces a bucket self-join: the input is computed ONCE (a self-join
    would evaluate the whole upstream plan twice), and pair blowup stays
    confined to each bucket's array -- the same output cardinality as the
    join, at half the compute and one less shuffle."""
    return buckets.select(
        F.explode(
            F.expr(
                f"flatten(transform({ids_col}, (x, i) -> "
                f"transform(slice({ids_col}, i + 2, size({ids_col})), "
                f"y -> named_struct('doc_a', x, 'doc_b', y))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")

def _shingle_hashes_expr(shingle_n: int = 3, text_col: str = "text"):
    """Shared shingle-hash array producer: shingle the text, md5 each
    shingle once into a bigint array column.  minhash_signatures AND the
    fused candidate-feature pass of minhash_jaccard_estimate both build
    from this single expression, so the estimate's 'agree' column can
    never silently decouple from the LSH banding that produced the
    candidate pairs."""
    return _hash_array_expr(shingles_expr(text_col, shingle_n))


def _hash_array_expr(arr_sql: str):
    """md5 -> 28-bit-bigint map over a string-array SQL expression (the
    per-shingle hash both minhash paths share)."""
    return F.expr(
        f"transform({arr_sql}, s -> cast(conv(substring(md5(s),1,7),16,10) as bigint))"
    )


def _minhash_min_expr(i: int, hs_col: str = "hs"):
    """Shared permutation-min: min over the shingle-hash array under the
    i-th fixed universal-hash permutation (perm_params keeps the (a, b)
    constants identical to the oracle SQL's minhash_sql)."""
    a, b = perm_params(i)
    return F.expr(
        f"array_min(transform({hs_col}, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content hash,
    keeping the smallest doc_id as representative."""
    return (
        documents.select(
            F.col("doc_id"), md5_long(normalize_text(F.col("text"))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("representative_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("representative_id")
    )

def minhash_signatures(documents: DataFrame, k: int = 8, shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature as k columns mh_0..mh_{k-1}.

    Array-expression implementation: shingle the text, md5-hash each
    shingle ONCE into an array column, then take k mins under fixed
    universal-hash permutations -- cheap integer arithmetic per
    permutation.  Hashing once matters: a naive per-column expression
    re-splits, re-shingles and re-hashes the text k times (Catalyst's
    CollapseProject keeps the expensive array producer separate only
    because it is referenced k times -- measured 8x faster at sf0.1).
    Zero shuffles -- the whole signature is a projection."""
    hashed = _spread(documents).select(
        "doc_id", _shingle_hashes_expr(shingle_n).alias("hs")
    )
    cols = [F.col("doc_id")] + [
        _minhash_min_expr(i).alias(f"mh_{i}") for i in range(k)
    ]
    return hashed.select(*cols)

def lsh_candidate_pairs(
    documents: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """LSH banding over MinHash signatures: k/bands rows per band, band
    hash = md5 of the concatenated row values; docs sharing any band hash
    become a candidate pair (doc_a < doc_b, distinct).

    Scale: the only shuffle is the groupBy on (band_id, band_hash) --
    cardinality ~ n_docs * bands; pair blowup happens only inside a
    bucket, which is exactly the point of banding.  Buckets are
    materialized as sorted id arrays rather than self-joined, so the
    signature computation runs once, not twice; buckets larger than
    ``max_bucket`` are dropped before expansion (see MAX_BUCKET) so a
    degenerate bucket can never O(n^2) a single task."""
    rows = k // bands
    sigs = minhash_signatures(documents, k=k, shingle_n=shingle_n)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws(",", *[p.cast("string") for p in parts])).alias("band_hash"),
            )
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")
    buckets = banded.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    ).filter(F.size("ids") <= max_bucket)
    return _pairs_within_bucket(buckets).distinct().orderBy("doc_a", "doc_b")

def ngram_jaccard_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df: int = MAX_BUCKET,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via a shingle inverted index:
    explode distinct shingles, bucket doc-ids per shingle, expand pairs
    within each bucket, count shared, then ``|A∩B| / (|A|+|B|-|A∩B|)``.
    Pairs above threshold only.

    Scale: the shingling (the expensive regex+transform projection) runs
    ONCE; each doc's distinct-shingle count rides along as a struct field
    through the inverted index and the pair expansion, so no sizes
    side-table and no re-join -- the whole query is scan -> 2 shuffles
    (bucket build, pair count).  A shingle self-join would compute the
    explode twice and shuffle both sides.  Worst-case quadratic within a
    hot shingle bucket, so shingles with document frequency above
    ``max_df`` are dropped before expansion (see MAX_BUCKET) -- the
    skip-list-high-df-terms move from search engines.  Jaccard DENOMINATORS
    still count every distinct shingle (the per-doc size rides in the
    packed id), so capping only removes stop-gram contributions to the
    intersection; the DuckDB twin applies the identical cap."""
    sh = shingles_expr("text", shingle_n)
    docs = _spread(documents)
    # Pack (doc_id, n_shingles) into ONE long: id in the high bits, count
    # in the low 21 (a doc's distinct-shingle count is bounded by its char
    # length, far below 2^21).  The whole inverted index + pair expansion
    # then runs on primitive longs -- collect_set / sort_array / explode
    # over structs fall off codegen's fast path and measured ~2x slower.
    # sort_array on packed longs orders by doc_id (high bits), so the i<j
    # expansion still yields doc_a < doc_b.
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(arr) > 0 AND isnotnull(arr)` pre-filter and push it below the
    # spreading repartition, which re-computes the whole shingling twice
    # on the raw (unspread) input partitions -- measured 2x slower.  The
    # outer variant infers nothing; empty docs surface one null-shingle
    # row dropped by a cheap post-filter.
    # Runtime guard on the packing bounds (they were previously only a
    # comment): assert_true is NULL when the bound holds, raises on the
    # first violating row; coalesce folds the NULL into the arithmetic so
    # the check costs one comparison per row, no extra pass.
    guard = F.assert_true(
        (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(1 << 42))
        & (F.size("arr") < F.lit(1 << 21)),
        F.lit("ngram pack overflow: need 0 <= doc_id < 2^42 and < 2^21 distinct shingles"),
    )
    packed = (
        F.shiftleft(F.col("doc_id"), 21)
        + F.size("arr")
        + F.coalesce(guard.cast("long"), F.lit(0))
    ).alias("packed")
    exploded = (
        docs.select("doc_id", F.array_distinct(F.expr(sh)).alias("arr"))
        .select(packed, F.explode_outer("arr").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    buckets = exploded.groupBy("shingle").agg(
        F.sort_array(F.collect_set("packed")).alias("ids")
    ).filter(F.size("ids") <= max_df)
    shared = (
        _pairs_within_bucket(buckets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    mask = (1 << 21) - 1
    n_a = F.col("doc_a").bitwiseAND(F.lit(mask))
    n_b = F.col("doc_b").bitwiseAND(F.lit(mask))
    jacc = F.col("shared") / (n_a + n_b - F.col("shared"))
    return (
        shared.select(
            F.shiftright(F.col("doc_a"), 21).alias("doc_a"),
            F.shiftright(F.col("doc_b"), 21).alias("doc_b"),
            "shared",
            (F.floor(jacc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )

def shared_window_pairs(
    documents: DataFrame, window_w: int = 8, max_df: int = MAX_BUCKET
) -> DataFrame:
    """Exact-substring dedup tier: pairs of documents sharing at least one
    EXACT ``window_w``-word window of normalized text, with the count of
    shared windows.  This is the deduplication semantics of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" (long exact
    overlaps, not set similarity): a doc pair can share a verbatim
    paragraph yet sit far apart in shingle-Jaccard, and vice versa --
    which is why the ladder carries both tiers.

    Scale: same bounded inverted-index shape as the n-gram tier -- the
    window projection runs once per doc, windows are md5-hashed to 60-bit
    longs so the bucket shuffle moves primitive keys (not 8-word
    strings), buckets above ``max_df`` are dropped before pair expansion
    (a window that appears in >64 docs is boilerplate, exactly the
    stop-gram argument at MAX_BUCKET), and pair blowup stays confined to
    each bucket's sorted id array.  Long windows make high-df buckets
    rare, so the cap almost never bites on real corpora."""
    w = window_w
    words = "split(norm_text, ' ')"
    win_expr = (
        f"CASE WHEN size({words}) >= {w} "
        f"THEN transform(sequence(1, size({words}) - {w} + 1),"
        f" i -> concat_ws(' ', slice({words}, i, {w}))) "
        f"ELSE array() END"
    )
    docs = _spread(documents).select(
        "doc_id", normalize_text(F.col("text")).alias("norm_text")
    )
    exploded = (
        docs.select("doc_id", F.array_distinct(F.expr(win_expr)).alias("arr"))
        .select("doc_id", F.explode_outer("arr").alias("win"))
        .filter(F.col("win").isNotNull())
    )
    hashed = exploded.select("doc_id", md5_long(F.col("win")).alias("wh"))
    buckets = (
        hashed.groupBy("wh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") <= max_df)
    )
    return (
        _pairs_within_bucket(buckets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
        .orderBy("doc_a", "doc_b")
    )

def simhash_fingerprints(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash: per-token md5-based hash; fingerprint bit b is 1 when the
    weighted sum of (+1 / -1) over tokens' bit b is positive.

    Implementation: explode tokens -> one aggregate with ``bits`` sum
    expressions (all JVM-side bit ops) -> recombine.  One shuffle on
    doc_id.  Hamming distance between fingerprints then approximates
    cosine similarity of the token multisets."""
    toks = _spread(documents).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn("h", F.expr("cast(conv(substring(md5(tok),1,7),16,10) as bigint)"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1)") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    summed = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return summed.select("doc_id", fingerprint.cast("long").alias("simhash")).orderBy("doc_id")

def dedup_clusters(
    documents: DataFrame,
    k: int = 8,
    bands: int = 4,
    max_iter: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the LSH candidate-pair graph: every doc
    labeled with the smallest doc_id reachable through near-duplicate
    edges -- the cluster table a dedup pipeline keeps one representative
    per row of.

    Iterative min-label propagation (driver-controlled loop, each
    iteration one distributed join + aggregate): labels start as each
    node's own id; every pass each node takes the min of its own label
    and its neighbors' labels; stop when a pass changes nothing.
    Convergence needs at most ``diameter`` passes -- near-dup clusters
    are shallow (duplicates of a common source), so a handful.  This is
    the simple-iteration form of the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce"); swap in
    star-contraction if a corpus ever produces deep chain topologies.

    Scale: the loop iterates ONLY over edge-touched nodes -- an isolated
    document (the overwhelming majority of a real corpus) can never
    change label, so it joins the result once at the end with its own id
    and never enters an iteration.  Per-pass cost is therefore
    proportional to the DUPLICATE SUBGRAPH, not the corpus: at 100 TB
    the corpus-sized frame is touched exactly once (the final union),
    and each pass is one shuffle over the near-dup nodes (groupBy doc on
    the edge list).  Each pass's labels are cut from lineage with an
    eager ``localCheckpoint`` -- an iterative loop that only persist()s
    still re-embeds the whole history in every logical plan, and
    driver-side plan analysis ends up dominating (measured: pass times
    creep 0.6 s -> 3.3 s without the cut, stay flat with it).  The
    loop's only driver-side data is the changed-row count.  The
    iterating frames are tiny -- AQE's partition coalescer shrinks each
    pass's shuffles at runtime, so no session conf is mutated
    (concurrency-safe: other queries on the same session keep their own
    partitioning).  No cache handles survive the return (checkpoint
    blocks are freed by GC); on a multi-executor cluster prefer a
    reliable ``checkpoint()`` dir so the labels survive executor loss.
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(documents, k=k, bands=bands)
    edges = pairs.select("doc_a", "doc_b")
    return min_label_components(edges, documents.select("doc_id"), max_iter=max_iter)


def min_label_components(
    edges: DataFrame, universe: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label-propagation connected components over a (doc_a, doc_b)
    edge list; ``universe`` supplies every node id (column ``doc_id``) so
    isolated nodes come back as their own single-member cluster.  Shared
    by the LSH ladder (``dedup_clusters``) and the embedding-space
    semantic dedup (similarity.semantic_dedup_keep) -- the loop's scale
    properties (edge-subgraph iteration, lineage cuts) are documented on
    ``dedup_clusters`` and apply to any caller.

    Raises ``ValueError`` for ``max_iter < 1`` and ``RuntimeError`` when
    labels still change on the last allowed pass: a chain of d hops needs
    d passes plus one that changes nothing, and unconverged labels are
    only upper bounds, never a valid clustering."""
    if max_iter < 1:
        raise ValueError(
            f"min_label_components: max_iter must be >= 1, got {max_iter}"
        )
    # Mirror the DIRECTED edges in ONE pass -- explode(array(fwd, rev))
    # emits both directions from a single scan of the upstream pair
    # index (the former union-of-two-branches needed a persist + count
    # job just to stop the LSH plan executing twice) -- then CUT the
    # mirrored edge list's lineage with an eager localCheckpoint: every
    # loop iteration references sym, and without the cut each pass's
    # logical plan re-embeds the whole upstream lineage -- plan analysis
    # on the driver grows per pass and ends up dominating the loop
    # (measured: iterations creep 0.6 s -> 3.3 s without the cut, flat
    # ~0.3 s with it).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_a", "e.doc_b")
        .localCheckpoint(eager=True)
    )
    # sym carries both directions, so doc_a alone enumerates every
    # edge-touched node
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["doc_a"] == labels["doc_id"])
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neighbor_label"))
        )
        # The changed flag is computed inline so convergence detection is
        # a filter-count over the already-materialized frame, not a
        # second join against the previous labels.  localCheckpoint (not
        # persist) so the NEXT pass's plan starts from this pass's RDD
        # blocks -- constant-size plans, no lineage growth.
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("neighbor_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.col("neighbor_label") < F.col("cluster_id")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    if changed > 0:
        raise RuntimeError(
            f"min_label_components: not converged after {max_iter} passes "
            f"({changed} labels still changing) -- a duplicate chain deeper "
            f"than max_iter exists. Raise max_iter or switch to "
            f"star-contraction."
        )
    # isolated nodes (no candidate edge) are their own cluster; they join
    # the loop's output exactly once, corpus-sized but single-pass
    isolated = (
        universe.join(labels.select("doc_id"), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(isolated).orderBy("doc_id").localCheckpoint(eager=True)

def fuzzy_dedup_keep(
    documents: DataFrame,
    k: int = 8,
    bands: int = 4,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: run the LSH ladder + connected components
    (``dedup_clusters``) and return the SURVIVING corpus -- one
    representative (smallest doc_id) per near-duplicate cluster, with the
    cluster size it stands for.  This is the query a corpus build
    actually ships: everything upstream (signatures, banding, pair
    expansion, label propagation) is plumbing for this keep-list.

    Scale: inherits the ladder's bounds (hot-bucket cap, edge-subgraph
    iteration); the final joins are doc-cardinality equi-joins on doc_id
    / cluster_id -- sort-merge under AQE, no new quadratic step.  The
    representative filter (doc_id == cluster_id) is exact because labels
    converge to min(reachable id).

    ``clusters`` lets a caller that already materialized the component
    labels (``dedup_funnel``, which counts every ladder stage) share the
    checkpointed frame instead of re-running the LSH ladder + loop."""
    if clusters is None:
        clusters = dedup_clusters(documents, k=k, bands=bands)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .join(documents.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "n_members")
        .orderBy("doc_id")
    )

def incremental_dedup(documents: DataFrame, delta_mod: int = 5) -> DataFrame:
    """Snapshot-delta dedup -- the incremental form every continuously
    ingesting corpus actually runs: given an existing base snapshot and a
    newly arrived delta (here a deterministic md5 split, ``delta_mod``:1
    of the corpus playing the new arrivals), emit the delta docs that are
    genuinely new -- not present in the base by content fingerprint and
    first of their fingerprint within the delta (min doc_id survives).

    Scale: at 100 TB the base side is NOT rescanned -- it is the
    persisted fingerprint index (8-byte md5 longs, the exact frame this
    operator's ``base`` subplan produces) and only the delta is hashed
    fresh.  Within-delta dedup is one partial-aggregable groupBy on the
    fingerprint; the base probe is a LEFT ANTI equi-join on the same
    8-byte key (uniform md5 domain, no hot key), which AQE plans as a
    broadcast when a day's delta meets a bounded index shard.  No pair
    expansion anywhere, so no bucket cap is needed."""
    fp = md5_long(normalize_text(F.col("text")))
    arrival = md5_long(F.concat_ws(":", F.lit("delta"), F.col("doc_id"))) % delta_mod
    tagged = documents.select(
        "doc_id", fp.alias("fingerprint"), (arrival == 0).alias("is_delta")
    )
    base = tagged.filter(~F.col("is_delta")).select("fingerprint").distinct()
    delta_first = (
        tagged.filter(F.col("is_delta"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        delta_first.join(base, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )

def edit_distance_pairs(
    documents: DataFrame, k: int = 8, bands: int = 4, max_len: int = 4096
) -> DataFrame:
    """Verify LSH candidate pairs with exact Levenshtein distance -- the
    confirm step of the dedup ladder (band to find candidates, edit-distance
    to prove near-duplication before dropping a document).

    Scale: Levenshtein is O(len_a * len_b) PER PAIR, so it must never run
    all-pairs; here it runs only on the banding survivors, whose count is
    bounded by the hot-bucket cap (MAX_BUCKET^2 per bucket worst case).
    The pair list (small by construction) is checkpointed once, its
    doc-id set broadcast, and the corpus semi-join-filtered map-side, so
    the normalize+truncate projection and the two text joins touch only
    candidate docs -- the corpus never shuffles and the LSH plan never
    re-executes per join branch.  Compared texts are
    length-truncated to ``max_len`` chars BEFORE the DP runs (a 1 MB x
    1 MB pair is a terabyte of DP cells; 4096 x 4096 is bounded) -- the
    score is then a truncated-prefix similarity, the standard production
    trade at this confirm stage; the fixture's docs are <1 KB so the cap
    is exact there.  A candidate pair whose normalized texts are BOTH
    empty ('' vs '   ') has a zero denominator: the docs are
    byte-identical after normalization, so similarity is 1.0 by
    definition rather than a division by zero (which Spark 4 ANSI mode
    turns into a runtime error).  JVM built-in ``levenshtein``, no UDF."""
    from ..functions.numeric import qround

    pairs = lsh_candidate_pairs(documents, k=k, bands=bands).localCheckpoint(eager=True)
    ids = pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    norm = documents.join(F.broadcast(ids), "doc_id", "leftsemi").select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, max_len).alias("norm_text"),
    )
    # ONE normalize pass (r14, the minhash_jaccard_estimate pivot): the
    # former a/b twin projections made `norm` a two-consumer frame, so
    # the corpus scan + semi-filter + normalize ran once per join side.
    # Pairs explode to (pair, side-doc) rows, join the texts once, and
    # pivot back with max_by/min_by on the 1/0 side flag (exact
    # selections, never tied within a pair).
    expl = pairs.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    is_a = (F.col("doc_id") == F.col("doc_a")).cast("int")
    per_pair = (
        expl.join(norm, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max_by("norm_text", is_a).alias("text_a"),
            F.min_by("norm_text", is_a).alias("text_b"),
        )
    )
    lev = F.levenshtein("text_a", "text_b")
    denom = F.greatest(F.length("text_a"), F.length("text_b"))
    sim = F.when(denom > 0, F.lit(1.0) - lev / denom).otherwise(F.lit(1.0))
    return per_pair.select(
        "doc_a",
        "doc_b",
        lev.cast("long").alias("edit_distance"),
        qround(sim, 6).alias("edit_similarity"),
    ).orderBy("doc_a", "doc_b")

def simhash_near_pairs(
    documents: DataFrame,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate pairs via Hamming-band bucketing: split the
    ``bits``-bit fingerprint into ``bands`` equal bit-slices; by
    pigeonhole, any pair within Hamming distance ``bands - 1`` (and most
    pairs within ``max_hamming``) shares at least one exact slice, so
    candidates meet in a (band_id, band_value) bucket instead of an
    all-pairs join.  Candidates are then verified exactly with
    ``bit_count(xor)``.  Completes the SimHash tier of the dedup ladder
    (fingerprints -> pairs), the Hamming-space twin of
    ``lsh_candidate_pairs``.

    Scale: same bounds as the MinHash-LSH path -- one shuffle to bucket
    (cardinality n_docs * bands), pair expansion only inside capped
    buckets (``max_bucket``), verification is a projection over the
    candidate list.  Degenerate corpora (mass-identical fingerprints)
    hit the cap, and those pairs are exact dups the hash-groupBy tier
    already catches."""
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash_fingerprints(documents, bits=bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.expr(f"(shiftright(simhash, {b * width}) & {mask})").alias("band_val"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    buckets = (
        banded.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "simhash"))).alias("members"))
        .filter(F.size("members") <= max_bucket)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (a, i) -> "
                    "transform(slice(members, i + 2, size(members) - i - 1), "
                    "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
                    "a.simhash AS sim_a, b.simhash AS sim_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sim_a", "p.sim_b")
        .distinct()
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return (
        pairs.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def dedup_keep_priority(documents: DataFrame) -> DataFrame:
    """Cross-source exact dedup with survivor preference: when the same
    normalized content appears in several sources, keep the copy from
    the lexicographically-first source (doc_id tiebreak) -- the "trusted
    source wins" rule every multi-crawl ingest applies before training
    (a curated dump beats a web re-crawl of the same page).

    Scale: one hash-groupBy, like dedup_exact -- the arg-min survivor is
    ``min(struct(source, doc_id))``, which partial-aggregates map-side
    (each task keeps one best row per hash before the shuffle), unlike a
    window row_number over the full corpus which must shuffle every
    row.  Swap the struct's first field to an explicit priority-rank
    column to encode a non-lexicographic source ranking."""
    from ..functions.hashing import md5_long, normalize_text

    h = md5_long(normalize_text(F.col("text")))
    return (
        documents.groupBy(h.alias("content_hash"))
        .agg(
            F.min(F.struct(F.col("source"), F.col("doc_id"))).alias("best"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            "content_hash",
            F.col("best.doc_id").alias("survivor_doc_id"),
            F.col("best.source").alias("survivor_source"),
            "n_copies",
            "n_sources",
        )
        .orderBy("content_hash")
    )


def minhash_jaccard_estimate(
    documents: DataFrame, k: int = 8, bands: int = 4, shingle_n: int = 3
) -> DataFrame:
    """Sketch-accuracy audit for the dedup ladder: for every LSH
    candidate pair, the MinHash ESTIMATE of Jaccard similarity (the
    fraction of the k signature components that agree -- the unbiased
    estimator banding implicitly thresholds) next to the EXACT shingle
    Jaccard, plus the absolute error.  This is the query you run before
    trusting a (k, bands) configuration at 100 TB: it tells you what the
    banding threshold actually was on your corpus.

    Scale: the candidate-pair set (small by construction -- banding
    survivors under the hot-bucket cap) is checkpointed once, its doc-id
    set broadcast, and the corpus SEMI-join-filtered map-side BEFORE any
    per-row-expensive work -- so the shingling + signature projection
    runs only over candidate docs, in ONE shared pass (the shingle array
    feeds both the k-min signature and the distinct-shingle set), not
    the five full-corpus passes a naive four-way join costs.  The pairs
    explode to one (pair, doc) row per side, join those features once,
    and pivot back to (a, b) with ``max_by``/``min_by``; the corpus
    itself never shuffles, and the exact Jaccard runs ONLY on banding
    survivors, never all-pairs.  |A∪B| is computed as
    |A|+|B|-|A∩B| so only the intersection's array pass runs per pair.
    Two empty shingle sets are byte-identical content: Jaccard 1.0 by
    definition, never a zero division."""
    from ..functions.numeric import qround

    # Eager localCheckpoint: `pairs` is referenced twice more below (the
    # id set for the semi filter, plus the final join); without the cut
    # the whole LSH plan -- itself a full shingle+signature pass -- would
    # execute once per reference.
    pairs = lsh_candidate_pairs(
        documents, k=k, bands=bands, shingle_n=shingle_n
    ).localCheckpoint(eager=True)
    ids = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    cand = documents.join(F.broadcast(ids), "doc_id", "leftsemi")
    mins = [_minhash_min_expr(i) for i in range(k)]
    # ONE shingle+signature pass (r14): the former a/b twin projections
    # made `feats` a two-consumer frame, so the per-doc shingling ran
    # once per join side (a feats localCheckpoint was tried in r13 and
    # reverted -- materializing the distinct-shingle ARRAYS cost more
    # than one recomputation, 4.7 -> 7.6 s).  Instead the PAIRS are
    # exploded to (pair, side-doc) rows and joined to feats once; the
    # pair's two feature rows pivot back with max_by/min_by on the
    # side flag (exact selections -- the flag is 1/0, never tied within
    # a pair).  The pivot shuffle carries only candidate-doc features,
    # the frame the banding cap already bounds at scale.
    feats = (
        cand.select("doc_id", F.expr(shingles_expr("text", shingle_n)).alias("shl"))
        .select(
            "doc_id",
            _hash_array_expr("shl").alias("hs"),
            F.array_distinct("shl").alias("sh"),
        )
        .select("doc_id", F.array(*mins).alias("sig"), "sh")
    )
    expl = pairs.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    is_a = (F.col("doc_id") == F.col("doc_a")).cast("int")
    per_pair = (
        expl.join(feats, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max_by(F.struct("sig", "sh"), is_a).alias("fa"),
            F.min_by(F.struct("sig", "sh"), is_a).alias("fb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("fa.sig").alias("sig_a"),
            F.col("fa.sh").alias("sh_a"),
            F.col("fb.sig").alias("sig_b"),
            F.col("fb.sh").alias("sh_b"),
        )
    )
    agree = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> cast((x <=> y) as int)),"
        " 0, (acc, v) -> acc + v)"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    est = agree.cast("double") / F.lit(float(k))
    return per_pair.select(
        "doc_a",
        "doc_b",
        qround(est, 6).alias("est_jaccard"),
        qround(exact, 6).alias("exact_jaccard"),
        qround(F.abs(est - exact), 6).alias("abs_error"),
    ).orderBy("doc_a", "doc_b")


def bloom_incremental_dedup(
    documents: DataFrame, delta_mod: int = 5, m_bits: int = 4096, n_hashes: int = 3
) -> DataFrame:
    """Bloom-filter pre-screen for incremental dedup: the base snapshot
    is summarized as the SET BITS of an ``m_bits``-bit Bloom filter over
    content fingerprints (``n_hashes`` md5 positions each), and a newly
    arrived delta doc goes through the exact base probe ONLY if all its
    positions are set.  Per delta doc the report shows the Bloom verdict
    (possible duplicate), the exact verdict (confirmed duplicate), and
    the keep decision -- so Bloom false positives are visible data, not
    silent cost.

    Why this exists next to ``incremental_dedup``'s plain left-anti:
    at 100 TB the base fingerprint index is itself huge, and the
    anti-join must shuffle (or at best shard-broadcast) it against EVERY
    delta batch.  The Bloom bit-set is ``m_bits/8`` BYTES regardless of
    base size -- it broadcasts to every executor for the price of a
    config value, filters the overwhelmingly-new delta rows map-side,
    and only the tiny candidate set reaches the exact base join.  False
    positives cost one extra exact probe; false negatives cannot happen
    (a set never loses bits), so correctness equals the exact path.
    Bits are modeled as a distinct-position table (<= m_bits rows)
    joined broadcast -- the relational form of a bitmap AND; a real
    deployment packs them into ``m_bits/64`` longs in one array column.
    Deterministic md5 everywhere => the whole path, false positives
    included, is exactly oracle-checkable."""
    fp = md5_long(normalize_text(F.col("text")))
    arrival = md5_long(F.concat_ws(":", F.lit("delta"), F.col("doc_id"))) % delta_mod
    tagged = documents.select(
        "doc_id", fp.alias("fingerprint"), (arrival == 0).alias("is_delta")
    )

    def positions(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id",
            "fingerprint",
            F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias("i"),
        ).withColumn(
            "pos",
            md5_long(
                F.concat_ws(
                    ":", F.col("i").cast("string"), F.col("fingerprint").cast("string")
                ),
                hexdigits=7,
            )
            % m_bits,
        )

    base = tagged.filter(~F.col("is_delta"))
    delta = tagged.filter(F.col("is_delta"))
    bits = positions(base).select("pos").distinct()
    hits = (
        positions(delta)
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == n_hashes)
        .select("doc_id", F.lit(True).alias("bloom_candidate"))
    )
    base_fps = base.select("fingerprint").distinct()
    confirmed = (
        delta.join(hits, "doc_id", "left_semi")
        .join(base_fps, "fingerprint", "left_semi")
        .select("doc_id", F.lit(True).alias("confirmed_dup"))
    )
    return (
        delta.select("doc_id", "fingerprint")
        .join(hits, "doc_id", "left")
        .join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.coalesce(F.col("bloom_candidate"), F.lit(False)).alias(
                "bloom_candidate"
            ),
            F.coalesce(F.col("confirmed_dup"), F.lit(False)).alias("confirmed_dup"),
            (~F.coalesce(F.col("confirmed_dup"), F.lit(False))).alias("kept"),
        )
        .orderBy("doc_id")
    )

def source_overlap_matrix(documents: DataFrame) -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources, how
    many distinct normalized contents they SHARE, plus the overlap
    coefficient (shared / min(|A|, |B|)) -- the first diagnostic a
    corpus curator runs before mixing crawls (a 0.9 overlap means the
    second source buys almost no new data, and dedup priority between
    the two matters).

    Scale: one hash-groupBy collapses the corpus to distinct contents
    (partial agg map-side), each carrying its sorted distinct-source
    array; source pairs expand INSIDE that array (same bounded-bucket
    idiom as LSH -- the fan-out is bounded by the number of sources,
    not by data), and the final matrix aggregates at |sources|^2
    cardinality.  Per-source distinct totals ride out of the same
    grouped frame, so the corpus is scanned and shuffled exactly once."""
    # coalesce NULL text to '': a NULL hash would group in Spark but
    # never meet itself in the oracle's equi-join, so NULL-text docs are
    # treated as empty content on both engines
    h = md5_long(normalize_text(F.coalesce(F.col("text"), F.lit(""))))
    per_content = (
        documents.select(h.alias("content_hash"), "source")
        .groupBy("content_hash")
        .agg(F.sort_array(F.collect_set("source")).alias("sources"))
    )
    pairs = _pairs_within_bucket(per_content, ids_col="sources").select(
        F.col("doc_a").alias("source_a"), F.col("doc_b").alias("source_b")
    )
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    totals = per_content.select(
        F.explode("sources").alias("source")
    ).groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b")
    )
    from ..functions.numeric import qround

    return (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            qround(
                F.col("n_shared") / F.least("n_a", "n_b").cast("double"), 6
            ).alias("overlap_coeff"),
        )
        .orderBy("source_a", "source_b")
    )


def dedup_cluster_histogram(
    documents: DataFrame, k: int = 8, bands: int = 4
) -> DataFrame:
    """Near-duplicate cluster-size distribution: how many clusters of
    each size the LSH/connected-components dedup found and what corpus
    fraction each size class holds -- the readout a curator checks
    before committing to a dedup threshold (a heavy tail of large
    clusters means boilerplate families dominating the corpus; a
    singleton rate near 1 means the dedup barely bites).

    Scale: inherits ``dedup_clusters``' banded pair bound and lineage-
    cut component loop; everything after is cluster- then size-
    cardinality aggregation (two partial-aggregable groupBys), with the
    corpus total as a broadcast scalar."""
    from ..functions.numeric import qround

    clusters = dedup_clusters(documents, k=k, bands=bands)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    # corpus total from the histogram itself (sum of size * count ==
    # row count of the cluster table, exactly): one less pass over the
    # corpus-cardinality cluster frame
    total = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("n_total")
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            qround(
                (F.col("cluster_size") * F.col("n_clusters")) / F.col("n_total"), 6
            ).alias("pct_corpus"),
        )
        .orderBy("cluster_size")
    )


def lsh_banding_efficiency(
    documents: DataFrame, k: int = 8, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """LSH banding parameter sweep WITHOUT pair materialization: for
    every (bands, rows-per-band) factorization of the ``k``-permutation
    MinHash signature, report bucket counts, hot buckets (the ones the
    ladder's ``max_bucket`` cap would drop) and the candidate-pair
    workload sum(s*(s-1)/2) over kept buckets -- the S-curve
    cost/recall trade a curator reads to pick the production banding
    before running any expensive pair expansion.

    Scale: the signature projection runs ONCE (eager localCheckpoint,
    reused by all configs); per config the only shuffle is the
    (band_id, band_hash) groupBy, and the sweep's outputs come from the
    bucket-size HISTOGRAM alone -- estimating quadratic pair workload
    in linear time is the whole point.  All outputs are exact integers
    (integer sums in double are exact below 2^53) except the mean
    bucket size, a ratio of exact integers."""
    from ..functions.numeric import qround

    sigs = minhash_signatures(documents, k=k).localCheckpoint(eager=True)
    frames = []
    b = 1
    while b <= k:
        rows = k // b
        band_cols = []
        for band in range(b):
            parts = [
                F.col(f"mh_{band * rows + r}").cast("string")
                for r in range(rows)
            ]
            band_cols.append(
                F.struct(
                    F.lit(band).alias("band_id"),
                    F.md5(F.concat_ws(",", *parts)).alias("band_hash"),
                )
            )
        banded = sigs.select(
            F.explode(F.array(*band_cols)).alias("band")
        ).select("band.band_id", "band.band_hash")
        sizes = banded.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("s")
        )
        pair_est = F.when(
            F.col("s") <= max_bucket,
            (F.col("s") * (F.col("s") - 1) / 2).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        frames.append(
            sizes.agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum((F.col("s") > max_bucket).cast("long")).alias(
                    "n_hot_buckets"
                ),
                F.sum(pair_est).alias("est_candidate_pairs"),
                qround(
                    F.sum("s").cast("double") / F.count(F.lit(1)), 4
                ).alias("avg_bucket_size"),
            )
        )
        b *= 2
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("bands")


def dedup_precision_recall_audit(
    documents: DataFrame, k: int = 8, bands: int = 4
) -> DataFrame:
    """Precision/recall audit of the MinHash-LSH candidate generator
    against a GROUND TRUTH the corpus itself provides: pairs whose
    whitespace/case-normalized text is byte-identical are duplicates by
    construction, so every banding configuration can be scored exactly
    -- the acceptance test a 100 TB dedup runs on a sample shard before
    committing to a (k, bands) choice, complementing
    ``lsh_banding_efficiency`` (which predicts the S-curve analytically
    but cannot measure recall against real duplicates).

    True positives = candidate pairs whose normalized hashes agree;
    truth size = sum over normalized-text groups of C(g, 2) -- counted
    from group sizes, never materialized.  Docs with NULL text carry no
    dedup signal and are excluded from both sides.

    Scale: the candidate frame is the banded, hot-bucket-capped
    ``lsh_candidate_pairs`` (never all-pairs); the truth side is one
    hash groupBy; the joins hash-join on doc_id.  All counts are exact
    BIGINTs; precision/recall/F1 are ratios of those integers."""
    from ..functions.hashing import normalize_text
    from ..functions.numeric import qround

    docs = documents.filter(F.col("text").isNotNull())
    pred = lsh_candidate_pairs(docs, k=k, bands=bands)
    norm = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("nh")
    )
    joined = (
        pred.join(
            norm.select(
                F.col("doc_id").alias("doc_a"), F.col("nh").alias("nh_a")
            ),
            "doc_a",
        )
        .join(
            norm.select(
                F.col("doc_id").alias("doc_b"), F.col("nh").alias("nh_b")
            ),
            "doc_b",
        )
    )
    pred_agg = joined.agg(
        F.count(F.lit(1)).alias("n_pred_pairs"),
        F.sum((F.col("nh_a") == F.col("nh_b")).cast("long")).alias("tp"),
    )
    truth = (
        norm.groupBy("nh")
        .agg(F.count(F.lit(1)).alias("g"))
        .filter(F.col("g") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("g * (g - 1) DIV 2")), F.lit(0)
            ).alias("n_truth_pairs")
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    combined = (
        n_docs.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(pred_agg))
        .select(
            "n_docs",
            "n_truth_pairs",
            "n_pred_pairs",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    tp = F.col("tp").cast("double")
    prec = F.when(
        F.col("n_pred_pairs") > 0, tp / F.col("n_pred_pairs").cast("double")
    )
    rec = F.when(
        F.col("n_truth_pairs") > 0, tp / F.col("n_truth_pairs").cast("double")
    )
    f1 = F.when(
        (F.col("n_pred_pairs") > 0)
        & (F.col("n_truth_pairs") > 0)
        & (prec + rec > 0),
        F.lit(2.0) * prec * rec / (prec + rec),
    )
    return combined.select(
        "n_docs",
        "n_truth_pairs",
        "n_pred_pairs",
        "tp",
        (F.col("n_pred_pairs") - F.col("tp")).alias("fp"),
        (F.col("n_truth_pairs") - F.col("tp")).alias("fn"),
        qround(prec, 6).alias("precision"),
        qround(rec, 6).alias("recall"),
        qround(f1, 6).alias("f1"),
    )
