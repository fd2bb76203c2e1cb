"""Deduplication operators for training-data pipelines.

Five families, each scale-shaped for 100 TB (documented per function):
 - exact:      hash-groupBy on md5(text) — one shuffle on the hash
 - ngram Jaccard: explode distinct shingles → self-join on shingle →
                count-share / union — exact pairwise, bounded by shared
                shingles (the exactness baseline for LSH)
 - MinHash:    k independent permutations approximated by md5(i || shingle);
               signature is k lexicographic mins — embarrassingly parallel
 - MinHash LSH: band the signature, group by band value → candidate pairs
               only within buckets (the 100 TB path: no all-pairs)
 - SimHash:    64-bit sign-aggregated token hashes (near-dup by hamming)

Determinism: every hash is md5 (standardized), so the DuckDB oracle can
replay signatures and pairs bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zipline_chronon_spark.operators.text import char_ngrams


def _fan_out(df: DataFrame, id_col: str) -> DataFrame:
    """Explicit-count repartition before explode/hash-heavy maps: a small
    single-file scan arrives as ~1 task, and AQE would coalesce a keyed
    repartition() right back (byte-based sizing can't see the compute
    amplification). An explicit numPartitions is respected by AQE."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, id_col)


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per doc: content hash, size of its exact-duplicate group, canonical
    (min id) representative. Scale: one shuffle keyed by the 128-bit hash."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    groups = h.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min(id_col).alias("canonical_id")
    )
    return h.join(groups, "content_hash").select(
        id_col, "content_hash", "group_size", "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


def distinct_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(char_ngrams(text_col, n))).alias("shingle"))
    )


# persisted-subtree registry: long-lived sessions call release_caches()
# between jobs (see ngram_jaccard_pairs docstring)
_PERSISTED: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist every shingle cache registered by ngram_jaccard_pairs."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: float | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct char n-grams, emitted for pairs
    sharing >= 1 shingle and J >= threshold, id_a < id_b.

    Scale: the self-join is keyed by shingle — cost is sum over shingles of
    (docs-per-shingle)^2, i.e. proportional to true near-dup density, not
    |docs|^2. ``df_cap`` drops shingles whose document frequency exceeds
    that fraction of the corpus (stopword shingles dominate the self-join
    and carry no near-dup signal) — the standard cost knob; None = exact
    semantics. LSH (below) is the sub-linear path.

    Cache lifecycle: the plan persists its shingle subtree (it feeds sizes
    plus both self-join sides). The persisted handle is registered in
    ``_PERSISTED`` and attached to the result as ``_zc_persisted``; callers
    running many jaccard jobs in one long-lived session should call
    ``release_caches()`` (or ``result._zc_persisted.unpersist()``) after
    materializing, otherwise cached shingle partitions accumulate."""
    df = _fan_out(df, id_col)
    sh = distinct_shingles(df, id_col, text_col, n)
    if df_cap is not None:
        # n_docs folded in as a lazy broadcast scalar (cross join of a
        # 1-row aggregate) instead of a df.count() driver action: the whole
        # operator stays ONE pipeline — no separate job just to size the
        # hot-shingle threshold
        n_docs = df.agg(F.count(F.lit(1)).alias("__nd"))
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
               .crossJoin(F.broadcast(n_docs))
               .where(F.col("df") > F.col("__nd") * df_cap).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # sh feeds sizes + both self-join sides: persist so the shingle explode
    # is computed once, not three times (at scale: checkpoint instead)
    sh = sh.persist()
    _PERSISTED.append(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        shared.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )
    out._zc_persisted = sh
    return out


# deterministic 60-bit XOR salts, one per MinHash permutation; shared with
# the DuckDB oracles so signatures replay bit-for-bit
import numpy as _np

PERM_SALTS: tuple[int, ...] = tuple(
    int(x) for x in _np.random.default_rng(13).integers(0, 1 << 60, size=64))

# portable 60-bit shingle hash: big-endian first 15 hex chars of md5.
# Spark: conv(substring(md5(g),1,15),16,10); DuckDB: ('0x'||substr(md5(g),1,15))::BIGINT
_H60_SQL_DUCK = "CAST(('0x' || substr(md5({g}), 1, 15)) AS BIGINT)"


def _h60(g: "F.Column") -> "F.Column":
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """k-permutation MinHash: ONE md5 per shingle hashed to a 60-bit int,
    permutation i = XOR with a fixed salt (a bijection of the hash space —
    the standard cheap permutation family); signature element i is the min.
    Per-row map-only — no shuffle, md5 cost paid once regardless of k."""
    grams = F.array_distinct(char_ngrams(text_col, n))
    base = F.transform(grams, _h60)
    # projection boundary so the 8..64 salted passes reuse the hashed array
    # (Catalyst keeps it: CollapseProject never duplicates non-cheap exprs)
    hashed = df.select(F.col(id_col), base.alias("__h60"))
    def xor_min(salt: int) -> "F.Column":
        # 1-arg lambda via factory: a 2-arg lambda (incl. default-arg forms)
        # would get the ARRAY INDEX bound to its second parameter
        return F.array_min(F.transform(F.col("__h60"),
                                       lambda h: h.bitwiseXOR(F.lit(salt))))

    sig = F.array(*[xor_min(s) for s in PERM_SALTS[:num_hashes]])
    return hashed.select(F.col(id_col), sig.alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signature split into bands of ``band_size``;
    docs sharing any full band collide. Distinct (id_a < id_b) pairs.

    Scale: groupBy(band_key) — candidates generated per bucket only; with
    b bands of r rows, collision prob = 1-(1-J^r)^b (tunable knee).
    ``max_bucket`` drops band buckets larger than that (skew defense: a
    giant bucket is a degenerate exact-dup cluster — already caught by
    exact_dup_groups — and its within-bucket join goes quadratic)."""
    df = _fan_out(df, id_col)
    sig = minhash_signature(df, id_col, text_col, n, num_hashes)
    bands = sig.select(
        id_col,
        F.explode(F.array(*[
            F.concat_ws("|", F.lit(str(bi)),
                        *[F.col("minhash")[bi * band_size + j] for j in range(band_size)])
            for bi in range(num_hashes // band_size)
        ])).alias("band_key"),
    )
    # bucket members gathered per band key, pairs expanded with a
    # higher-order expression — ONE aggregation replaces the old
    # hot-bucket pre-count + broadcast anti-join + band self-join shape
    # (which consumed the signature THREE times and needed a
    # localCheckpoint to avoid recomputing the md5 passes per consumer).
    # The size filter on the gathered array IS the hot-bucket cap; member
    # arrays are bounded by ``max_bucket`` whenever the cap is set (without
    # it a degenerate bucket makes one wide row — the same quadratic blowup
    # the join shape would hit as rows).
    return _bucket_pairs(
        bands.groupBy("band_key").agg(
            F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")),
        max_bucket,
    )


def _bucket_pairs(grouped: DataFrame, max_bucket: int | None) -> DataFrame:
    """Distinct (id_a < id_b) pairs from bucket-member arrays ``__ids``
    (sorted ascending); buckets larger than ``max_bucket`` are dropped."""
    if max_bucket is not None:
        grouped = grouped.where(F.size("__ids") <= max_bucket)
    pairs = F.explode(F.flatten(F.transform(
        F.col("__ids"),
        lambda x, i: F.transform(
            F.slice(F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))))))
    return (grouped.where(F.size("__ids") >= 2)
            .select(pairs.alias("p"))
            .select(F.col("p.id_a"), F.col("p.id_b"))
            .distinct())


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j of the hash is the sign
    of sum over tokens of (bit j of the token hash). Map-only. The token
    hash is the portable 60-bit md5 prefix (_h60) so the DuckDB oracle can
    replay simhashes bit-for-bit (xxhash64 is Spark-only); 60 bits, four
    15-bit LSH bands.

    Near-dup = small hamming distance between simhash values (pytest covers
    the property; pairing is a bit_count(a ^ b) <= t self-join)."""
    # bit masks must be literals (shift-by-column is unsupported)
    masks = [1 << j for j in range(60)]
    # SHUFFLE-FREE vote counting: per row, the token array is hashed once
    # (projection boundary pins the md5 pass), then 30 independent
    # F.aggregate folds each accumulate TWO 32-bit ones-counters packed in
    # one long (bits 2g and 2g+1). No explode, no Exchange, no 31-buffer
    # hash-agg state — at 100 TB every doc's simhash is computed where the
    # doc row sits and stays co-located for the band explode that follows.
    # (A 31-field STRUCT accumulator in one F.aggregate blows up codegen —
    # measured JVM-fatal — hence 30 scalar folds over the cached array.)
    # 32-bit lanes bound cross-lane carry at 2^31 whitespace tokens PER DOC
    # (a ~10 GiB single document) and keep the ANSI fold below 2^63 up to
    # that same count; 16-bit lanes would overflow at 65k tokens.
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != F.lit(""))
    base = df.select(F.col(id_col), F.transform(toks, _h60).alias("__hs"))

    def fold_group(g: int) -> "F.Column":
        def upd(acc: "F.Column", h: "F.Column") -> "F.Column":
            term = F.lit(0).cast("long")
            for lane in range(2):
                j = 2 * g + lane
                term = term + F.shiftleft(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)), 32 * lane)
            return acc + term

        return F.aggregate(F.col("__hs"), F.lit(0).cast("long"), upd).alias(f"__p{g}")

    voted = base.select(id_col, F.size("__hs").alias("__n"),
                        *[fold_group(g) for g in range(30)])
    sim = F.lit(0).cast("long")
    n2 = F.col("__n")  # bit set iff ones-count*2 > n  <=>  votes > 0
    for g in range(30):
        for lane in range(2):
            j = 2 * g + lane
            ones = F.shiftright(F.col(f"__p{g}"), 32 * lane).bitwiseAND(F.lit(0xFFFFFFFF))
            sim = sim.bitwiseOR(
                F.when(ones * 2 > n2, F.lit(masks[j])).otherwise(F.lit(0)).cast("long"))
    return voted.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       max_hamming: int = 8,
                       max_bucket: int | None = None) -> DataFrame:
    """All pairs with hamming(simhash_a, simhash_b) <= max_hamming, found by
    multi-band LSH over the four 15-bit bands of the 60-bit simhash: a pair
    with hamming <= 3 is GUARANTEED to agree on at least one band
    (pigeonhole: 4 bands, <=3 differing bits); larger distances are found
    with high probability. Candidates are deduped across bands, then
    exact-hamming filtered — no all-pairs join, recall not tied to one
    arbitrary band. ``max_bucket`` drops (band_id, band) cells larger than
    that (skew defense, same rationale as minhash_lsh_pairs: a giant cell
    is an exact-dup cluster and its self-join goes quadratic)."""
    s = simhash64(_fan_out(df, id_col), id_col, text_col)
    bands = s.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", 15 * j).bitwiseAND(F.lit(0x7FFF)) for j in range(4)
        ])).alias("band_id", "band"),
    )
    # NOTE: the collect_list + higher-order pair expansion that sped up
    # minhash_lsh_pairs was tried here too and measured ~2x SLOWER: the
    # 60-bit vote-fold producing `simhash` is a very large codegen
    # expression, and folding it into the aggregate+lambda plan recompiles
    # pathologically; the band self-join (broadcast at these sizes) keeps
    # the fold in its own stage.
    if max_bucket is not None:
        hot = (bands.groupBy("band_id", "band").agg(F.count(F.lit(1)).alias("bn"))
               .where(F.col("bn") > max_bucket).select("band_id", "band"))
        bands = bands.join(F.broadcast(hot), ["band_id", "band"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band") == F.col("b.band"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Near-duplicate CLUSTERS from a pair list: connected components of
    the (id_a, id_b) graph, each node labeled with the MIN id of its
    component — the step between pair emission (minhash_lsh_pairs /
    simhash_near_pairs / ngram_jaccard_pairs) and "keep one document per
    cluster". Returns (id, group_id); singletons label themselves.

    Algorithm: min-label propagation — each iteration every node takes the
    smallest label among itself and its neighbors, so labels travel one
    hop per iteration and the loop converges in component-diameter
    iterations (near-dup graphs are short-diameter by construction: dup
    clusters are dense). Each iteration is ONE join + ONE groupBy keyed on
    node id; lineage is cut with localCheckpoint per round so the plan
    does not deepen. Convergence is detected with a changed-label count
    (an aggregate, not a collect). At billion-edge scale swap the body for
    the alternating small-star/large-star contraction (same seam: this
    function's contract is just pairs -> labels); the propagation form is
    the right tool below that, and is exactly reproducible in SQL (the
    DuckDB oracle replays it with a recursive CTE)."""
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    # materialize the edge list ONCE: without this every iteration re-executes
    # the full upstream pair plan (e.g. the LSH band join) inside its nbr
    # join — measured 24.5s -> ~7s on the sf0.1 driver row. On a cluster,
    # write pairs to a table instead (localCheckpoint pins executor blocks
    # with no replication; same caveat as dedup.minhash_lsh_pairs).
    edges = edges.localCheckpoint(eager=True)
    labels = (df.select(F.col(id_col).alias("id")).distinct()
              .withColumn("label", F.col("id")))
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        nbr = (edges.join(labels.select(F.col("id").alias("dst"),
                                        F.col("label").alias("dlabel")), "dst")
               .groupBy("src").agg(F.min("dlabel").alias("nmin")))
        # carry a changed flag inside the label frame so convergence needs no
        # second join: ONE Spark action per round (the count below both
        # materializes the lazy checkpoint and tallies changed labels) —
        # the old shape paid two actions per round (eager checkpoint + a
        # re-join count), doubling per-round job-launch overhead
        new = (labels.join(nbr.withColumnRenamed("src", "id"), "id", "left")
               .select("id", F.least(F.col("label"),
                                     F.coalesce("nmin", "label")).alias("label"),
                       (F.col("nmin") < F.col("label")).alias("__chg")))
        new = new.localCheckpoint(eager=False)
        changed = new.where(F.col("__chg")).count()
        labels = new.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # partially-propagated labels are WRONG clusters (components split
        # by the iteration cap), never return them silently
        raise RuntimeError(
            f"duplicate_groups did not converge within max_iters={max_iters} "
            f"(component diameter exceeds the cap); raise max_iters or swap "
            f"in the small-star/large-star contraction for this graph")
    return labels.select(F.col("id").alias(id_col),
                         F.col("label").alias("group_id"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_bands: int = 4,
    planes_per_band: int = 4,
    seed: int = 7,
    max_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, sim) for every
    pair that shares at least one random-hyperplane LSH band AND has exact
    cosine similarity >= threshold.

    Scale shape (the sixth dedup family — the embedding-space counterpart
    of minhash_lsh_pairs): vectors are banded by similarity.band_buckets
    (one GEMM per Arrow batch against md5-derived fixed-point hyperplanes),
    candidates are generated ONLY within (band, bucket) cells — never
    all-pairs — with the same deterministic stride-subsample cap on
    pathological hot cells (max_bucket). Cost is sum(cell^2) over cells,
    i.e. proportional to near-dup density, not n^2.

    Determinism at the threshold boundary: the in-cell GEMM only PREfilters
    at (threshold - 1e-6); surviving pairs are re-scored JVM-side with a
    sequential zip_with/aggregate cosine over the double-cast vectors — the
    exact left-to-right fold an external SQL oracle computes — so the >=
    threshold decision never depends on BLAS summation order. Zero vectors
    can never emit (their normalized row scores 0 in the prefilter).
    """
    import numpy as np
    import pyarrow as pa

    from zipline_chronon_spark.operators.similarity import (
        _ids, _normalized_matrix, _stride_capped, band_buckets)

    cells = band_buckets(df.select(id_col, vec_col), id_col, vec_col,
                         n_bands, planes_per_band, seed)

    def cand(tbl):  # a singleton cell yields no pair
        tbl = _stride_capped(tbl, id_col, max_bucket)
        ids = _ids(tbl, id_col)
        m = _normalized_matrix(tbl[vec_col])
        sims = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold - 1e-6
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pa.table({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)})

    pairs = (cells.groupBy("band", "bucket")
             .applyInArrow(cand, schema="id_a long, id_b long")
             .dropDuplicates(["id_a", "id_b"]))

    va, vb = F.col("__va"), F.col("__vb")
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda v: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x))
    sim = (dot / (norm(va) * norm(vb))).alias("sim")
    return (
        pairs
        .join(df.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).cast("array<double>").alias("__va")),
              "id_a")
        .join(df.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).cast("array<double>").alias("__vb")),
              "id_b")
        .select("id_a", "id_b", sim)
        .where(F.col("sim") >= threshold)
    )
