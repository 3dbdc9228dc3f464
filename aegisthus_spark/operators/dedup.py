"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (100 TB):
- exact dedup is a single hash-aggregate on a 128-bit digest (no shuffle of
  the full text; Catalyst prunes to the digest column).
- MinHash: one explode + one groupBy(doc) with K min-aggregates (map-side
  partial min); LSH banding turns the O(n^2) pair space into an equi-join
  on band keys — the only shuffle that matters is on band key, whose
  cardinality grows with corpus size, keeping partitions balanced.
- SimHash: explode tokens x 32 bit positions stays JVM-side; the bit
  majority is a conditional sum aggregate.
- n-gram Jaccard (brute verify) is reserved for candidate pairs, never the
  full cross product.
- embedding near-dup blocks by a coarse key (label / IVF cell) before the
  pair join; the dot product is a zip_with/aggregate expression compiled
  into codegen, not a UDF.

All hash functions are md5-prefix based (deterministic, engine-agnostic):
h32(s) = int(md5(s)[:8], 16). MinHash permutations h_i(x) = (a_i*x + b_i)
mod P with P = 4294967291 (largest 32-bit prime) and fixed a_i/b_i.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MINHASH_K = 16
LSH_ROWS_PER_BAND = 4
MINHASH_P = 4294967291

# deterministic permutation constants (embedded literally in oracle SQL too)
MINHASH_A = [((2654435761 * (i + 1)) % (1 << 29)) | 1 for i in range(MINHASH_K)]
MINHASH_B = [(40503 * (i + 1) * 2654435761) % (1 << 29) for i in range(MINHASH_K)]

#: Spark SQL expression: deterministic 32-bit token hash
H32 = "cast(conv(substring(md5({col}), 1, 8), 16, 10) as bigint)"

#: Spark SQL expression: the HIGH half of the 64-bit token hash (md5 hex
#: chars 9..16; H32's chars 1..8 are the low half)
H32B = "cast(conv(substring(md5({col}), 9, 8), 16, 10) as bigint)"

#: portable signed-64 minimum literal — DuckDB errors on (1 << 63), and
#: both engines reject the bare -9223372036854775808 literal form, so bit
#: 63 of a fingerprint is materialized via this subtraction
I64_MIN = "(-9223372036854775807 - 1)"


def simhash_block_widths(bits: int, n_blocks: int) -> list:
    """Fingerprint block widths: even split, the LAST block absorbs the
    remainder — every bit lands in exactly one block, which the pigeonhole
    recall guarantee requires (a silently-dropped top remainder would
    still keep recall 1.0 but admit junk candidates; see ADVICE r12)."""
    w = bits // n_blocks
    return [w] * (n_blocks - 1) + [bits - w * (n_blocks - 1)]


def simhash_band_key_exprs(bits: int, max_hamming: int, blocks=None) -> list:
    """One SQL key expression per band over a column named ``simhash``,
    in engine-portable syntax (``>> & * +`` only — identical strings are
    embedded in the Spark plan and the DuckDB oracle CTE).

    ``blocks=None``: classic pigeonhole — ``max_hamming + 1`` bands, each
    keyed on ONE block. Any pair within Hamming distance ``max_hamming``
    agrees exactly on >= 1 band. Bucket count per band is only
    2^(bits/(k+1)), so candidates grow ~n^2/2^width once n >> 2^width.

    ``blocks=d > max_hamming``: Manku combination keying ("Detecting
    Near-Duplicates for Web Crawling", 2007, §3 table design) — split
    into d blocks; <= k bit errors touch <= k blocks, so at least d-k
    blocks match exactly; key each of the C(d, d-k) combinations of d-k
    blocks concatenated. Key width ~ bits*(d-k)/d (e.g. 64-bit, d=6,
    k=3 -> 20 bands of ~34-bit keys), so buckets >> n at any corpus
    size — this is the 100 TB-scale variant.
    """
    if not (0 < max_hamming + 1 <= bits):
        raise ValueError(
            f"need 0 < max_hamming + 1 <= bits, got max_hamming={max_hamming} bits={bits}"
        )
    if blocks is None:
        n_blocks, per_key = max_hamming + 1, 1
    else:
        if blocks <= max_hamming:
            raise ValueError(
                f"combination keying needs blocks > max_hamming, got {blocks} <= {max_hamming}"
            )
        n_blocks, per_key = blocks, blocks - max_hamming
    widths = simhash_block_widths(bits, n_blocks)
    if min(widths) <= 0:
        # blocks > bits yields zero-width blocks whose key terms are
        # constantly 0: recall stays 1.0 but band buckets collapse, and
        # the BIGINT-overflow guard below only sometimes catches it
        raise ValueError(
            f"blocks={n_blocks} > bits={bits} produces zero-width blocks"
        )
    los = [sum(widths[:i]) for i in range(n_blocks)]
    # arithmetic >> then mask extracts the same bits whether the engine's
    # shift is arithmetic or logical (mask kills the sign-fill) — verified
    # against DuckDB's arithmetic BIGINT >>
    blk = [
        f"((simhash >> {los[i]}) & {(1 << widths[i]) - 1})" for i in range(n_blocks)
    ]
    slot = max(widths)
    if slot * per_key > 62:
        raise ValueError("band key would overflow a signed BIGINT")
    exprs = []
    for combo in itertools.combinations(range(n_blocks), per_key):
        exprs.append(
            " + ".join(
                f"{blk[c]} * {1 << (slot * p)}"
                for p, c in zip(range(per_key - 1, -1, -1), combo)
            )
        )
    return exprs


def exact_dedup_map(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, canonical_id, text_hash): canonical = min id per identical text."""
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    canon = hashed.groupBy("text_hash").agg(F.min(id_col).alias("canonical_id"))
    return (
        hashed.join(canon, "text_hash")
        .select(id_col, "canonical_id", "text_hash")
        .orderBy(id_col)
    )


def word_shingles(
    docs: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document (whitespace tokens), de-duplicated
    per doc by default. ``distinct=False`` skips that shuffle for consumers
    whose aggregate is multiset-invariant (MIN for MinHash signatures)."""
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    # guard: Spark's sequence(0, k) runs DESCENDING for k < 0 (short docs),
    # so emit no shingles when the doc has fewer than n tokens — matching
    # DuckDB's empty range() and dropping sub-shingle docs in both engines
    sh = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"if(size(t) >= {n}, "
                f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))), "
                "array())"
            )
        ).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(shingles: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """(id, mh_0..mh_{K-1}): MinHash signature from distinct shingles."""
    h = F.expr(H32.format(col="shingle"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i in range(MINHASH_K)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Candidate (a, b) pairs sharing at least one LSH band key."""
    n_bands = MINHASH_K // LSH_ROWS_PER_BAND
    bands = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[F.col(f"mh_{b * LSH_ROWS_PER_BAND + r}").cast("string")
                          for r in range(LSH_ROWS_PER_BAND)],
                    ).alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def _pair_overlap(
    shingles: DataFrame, pairs: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """(a, b, common, na, nb): shared-shingle count and set sizes for the
    given candidate pairs — the one common-shingle join every pair-scoring
    measure (Jaccard, containment) is derived from. (A candidate-document
    semi-join ahead of these joins measured 1.17-1.50x slower at 32 cores
    and was removed; OPTIMIZATION_r16.md holds the numbers.)"""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("a"), F.col("shingle").alias("s"))
    sb = shingles.select(F.col(id_col).alias("b"), F.col("shingle").alias("s"))
    common = (
        pairs.join(sa, "a").join(sb, ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return common.join(na, "a").join(nb, "b")


def jaccard_of_pairs(shingles: DataFrame, pairs: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """True Jaccard similarity for given (a, b) pairs from the shingle sets."""
    return _pair_overlap(shingles, pairs, id_col=id_col).select(
        "a",
        "b",
        (F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
    )


def _df_capped(rows: DataFrame, key_col: str, cap: int) -> DataFrame:
    """THE df-cap discipline, defined once: restrict ``rows`` to keys
    (shingles / fingerprints) appearing in <= ``cap`` rows. Every hot-key
    cap site (LSH shingles, n-gram Jaccard, winnowing fingerprints)
    shares this definition so the boundary semantics (<=, row-count df)
    cannot silently fork.

    Implemented as ONE key-partitioned window count + filter, not an
    aggregate + join-back: the join form re-derives the (unpersisted)
    input lineage for its probe side, which at 10x data doubled the
    capped flagship's scan work (r12 verdict, What's wrong #3). The
    window shuffles the rows by key once — the same partitioning the
    downstream common-key join wants — and a hot key's partition only
    streams a count, so skew stays bounded.

    NULL keys are dropped explicitly (the pre-r13 aggregate+join-back
    form dropped them via the inner equi-join; a bare window count would
    silently retain them as one group — ADVICE r13). Current callers'
    keys are never null, so this is boundary pinning, not behavior."""
    from pyspark.sql import Window

    return (
        rows.filter(F.col(key_col).isNotNull())
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy(key_col)))
        .filter(F.col("_df") <= cap)
        .drop("_df")
    )


def minhash_lsh_dedup(
    docs: DataFrame, *, threshold: float = 0.1, n: int = 3,
    persist_shingles: bool = False, max_shingle_df: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with true Jaccard >= threshold.

    ``sort=False`` skips the final global orderBy for consumers that
    treat the pairs as an edge SET (connected components, PageRank, LPA,
    triangles — each localCheckpoints the pairs and re-keys them
    immediately, so a range-partitioned sort before that barrier is a
    wasted sampling job + exchange; r15, guide §2.4 "an orderBy used only
    to make output deterministic"). Registered pair-output queries keep
    the sort — their declared result IS the ordered pair list.

    The distinct-shingle table feeds three consumers (signatures, and both
    sides of the common-shingle join), so Spark re-derives it for each.
    ``persist_shingles=True`` materializes it once (MEMORY_AND_DISK) — the
    right call when the corpus scan dominates (cluster scale / remote
    storage); at small scale the persist barrier costs more than the three
    cheap re-scans, so it defaults off and callers choose.

    ``max_shingle_df``: the hot-shingle (boilerplate) cap — see
    _lsh_shingles_and_candidates. On a boilerplate-dense corpus the
    shared shingles both inflate band collisions and densify true pairs;
    the cap restricts the working vocabulary to df<=cap shingles.

    Setting ``max_shingle_df`` force-enables ``persist_shingles`` (an
    explicit False is overridden): the capped vocabulary feeds three
    consumers and none can take the raw-shingle shortcut, so re-deriving
    explode+distinct+window per consumer tripled the cap's scan work at
    10x data (r12 verdict) — the capped table always materializes once.
    """
    sh, cand = _lsh_shingles_and_candidates(
        docs, n=n, id_col="doc_id", persist_shingles=persist_shingles,
        max_shingle_df=max_shingle_df,
    )
    jac = jaccard_of_pairs(sh, cand)
    out = jac.filter(F.col("jaccard") >= threshold)
    return out.orderBy("a", "b") if sort else out.select("a", "b")


def _lsh_shingles_and_candidates(
    docs: DataFrame, *, n: int, id_col: str, persist_shingles: bool,
    max_shingle_df: int | None = None,
):
    """(distinct shingles, LSH candidate pairs) — the ONE place the
    candidate pipeline (and its subtle signature-source choice) lives.

    Without persist, the signature branch reads RAW shingles
    (distinct=False): MIN is multiset-invariant, so signatures can skip
    the distinct() shuffle entirely — raw shingles flow into K map-side
    partial MINs and only (doc, K mins) rows ever shuffle. With persist,
    the one materialized distinct table feeds every consumer (right when
    the corpus scan dominates: cluster scale / remote storage).

    ``max_shingle_df``: the hot-shingle (stop-gram) cap. A shingle shared
    by k documents (boilerplate, license headers) adds k rows per
    candidate pair to the common-shingle join AND drags unrelated
    documents' minhash signatures together (more accidental band
    collisions -> more candidates), so one 1e5-df shingle multiplies both
    stages at corpus scale. With a cap, the working vocabulary is the
    shingles with document frequency <= cap — sizes, signatures,
    candidates, and overlap counts all computed over that vocabulary
    consistently (the same semantics a stop-word list gives classic
    minhash). None (default) keeps the exact full-vocabulary semantics."""
    sh = word_shingles(docs, n=n, id_col=id_col)
    if max_shingle_df is not None:
        sh = _df_capped(sh, "shingle", max_shingle_df)
        # the capped table feeds three consumers (signatures + both join
        # sides), and unlike the uncapped path none of them can take the
        # raw-shingle shortcut — re-deriving explode+distinct+window per
        # consumer tripled the cap's scan work at 10x data (r12 verdict),
        # so the capped vocabulary always materializes once
        persist_shingles = True
    if persist_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    if max_shingle_df is None and not persist_shingles:
        # r15 note: a vectorized text->signature kernel (Python md5 per
        # shingle in mapInArrow) was built and A/B-measured here — wall
        # time was IDENTICAL at sf0.1 (2.1s vs 2.1s) and sf1 (11.5s vs
        # 11.1s min-of-3, alternating): the signature branch overlaps the
        # verify branch's distinct+join critical path, and Python md5 ~=
        # JVM md5. Reverted per guide §1 (no measured win -> keep the
        # simpler codegen'd JVM branch, which the oracle CTEs mirror).
        sig_src = word_shingles(docs, n=n, id_col=id_col, distinct=False)
    else:
        # MIN over a set == MIN over its multiset, so the (capped and/or
        # persisted) DISTINCT table is a correct signature source — the
        # raw-shingle shortcut would need the same df join anyway
        sig_src = sh
    cand = lsh_candidate_pairs(
        minhash_signatures(sig_src, id_col=id_col), id_col=id_col
    )
    return sh, cand


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.1,
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Brute-force ground truth: all pairs sharing a shingle, Jaccard >= t.

    One shuffle on the shingle, one on the pair: common counts come straight
    out of the self-join's groupBy (no candidate-set materialization and no
    second shingle join). Still O(pairs) by nature — the LSH path is the
    100 TB route; this is the verification baseline.

    ``max_shingle_df``: skew guard for the self-join — a shingle appearing in
    k documents contributes k^2 join rows, so one stop-phrase shared by 1e5
    docs would emit 1e10 pairs. Shingles with document frequency above the
    cap are excluded from the common-count join (sizes stay exact, so the
    Jaccard of pairs sharing only rare shingles is unchanged; hot-shingle
    pairs are underestimated — acceptable for a dedup screen, and exact
    verification of surviving pairs can follow via jaccard_of_pairs). None
    (default) keeps exact semantics for oracle comparison.
    """
    sh = word_shingles(docs, n=n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if max_shingle_df is not None:
        sh = _df_capped(sh, "shingle", max_shingle_df)
    sa = sh.select(F.col("doc_id").alias("a"), F.col("shingle").alias("s"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("shingle").alias("s"))
    common = (
        sa.join(sb, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        common.join(na, "a").join(nb, "b")
        .select(
            "a",
            "b",
            (F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("a", "b")
    )


from contextlib import contextmanager


@contextmanager
def _scoped_shuffle(spark, n: int):
    """Scope spark.sql.shuffle.partitions to ``n`` for plans BUILT AND
    EXECUTED inside the block (the conf is read at action time), restoring
    the session value afterwards. Used to size iterative-loop shuffles to
    the ACTIVE data (e.g. a dedup subgraph orders of magnitude smaller
    than the corpus) instead of the corpus-sized session default. At
    sf0.1 the loop is sub-second either way (measured: within noise);
    the rule matters at cluster scale, where thousands of corpus-sized
    partitions would otherwise become thousands of near-empty tasks per
    propagation round, each paying scheduler latency.

    When the loop's data fits ONE shuffle partition (``n == 1``) AQE is
    also scoped off for the block (r15): adaptive re-planning runs per
    materialized stage per round, and with a single post-shuffle
    partition there is nothing for it to adapt — no partitions to
    coalesce, no skew to split — so its driver-side re-optimization is
    pure per-round latency. The switch is derived from the measured data
    size (the same rule that sized ``n``), not from the machine, so a
    corpus whose subgraph needs >1 partition keeps AQE's skew handling.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if n == 1:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


#: pair-count bound for the driver union-find path of
#: connected_components: 500k (a, b) pairs collect to ~8 MB — the same
#: order as a broadcast dimension table, and far below
#: spark.driver.maxResultSize. Above it, the distributed min-label loop
#: runs (the 100 TB shape).
_CC_DRIVER_MAX_PAIRS = 500_000


def _cc_driver_union_find(
    pairs: DataFrame, vertices: DataFrame, *, id_col: str
) -> DataFrame:
    """Driver-side connected components for a SMALL (observed, bounded)
    pair set: union-find with the MIN id as each component's
    representative — by construction the same labels the distributed
    min-label propagation converges to. ``pairs`` must already be
    materialized (localCheckpoint), so the collect reads checkpoint
    blocks, not the upstream funnel."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in pairs.collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # attach the larger root under the smaller: the root of every
            # tree stays its component's minimum id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = [(v, find(v)) for v in list(parent)]
    spark = pairs.sparkSession
    id_field = vertices.schema[id_col]
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("v", id_field.dataType, False),
        StructField("label", id_field.dataType, False),
    ])
    lab = F.broadcast(spark.createDataFrame(labels, schema))
    ids = vertices.select(F.col(id_col).alias("v"))
    return (
        ids.join(lab, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("label", F.col("v")).alias("component"),
        )
        .orderBy(id_col)
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) — connected components over near-dup pairs, so each
    duplicate cluster gets one canonical id (min member id).

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels; stops at fixpoint (checked
    with a count aggregate). Rounds are O(diameter) ~ a few for dedup
    clusters; ``localCheckpoint`` cuts lineage so plans don't grow with the
    iteration count — the standard Spark shape for iterative algorithms
    (no GraphX dependency).

    SMALL active subgraphs take a driver union-find instead (r15): the
    pair count is observed on the materializing checkpoint anyway, and
    when it is at most ``_CC_DRIVER_MAX_PAIRS`` (500k pairs ~ 8 MB — the
    same order as a broadcast dimension table) the component labels are
    computed with a driver-side union-find over the collected pair list
    and joined back as a broadcast map. Identical result by construction
    — both forms assign every vertex the MIN id of its connected
    component — while replacing the per-round join+checkpoint jobs
    (measured 2.3-4.5 s for a 332-edge graph at sf0.1: pure scheduling
    latency) with one bounded collect. The gate is derived from the DATA
    (observed pair count), not the machine; a corpus whose duplicate
    subgraph outgrows the bound takes the distributed loop, which
    remains the 100 TB path.
    """
    # Materialize the pair set ONCE before fanning it into the two union
    # branches: the upstream plan is typically the whole LSH pipeline
    # (corpus scan -> shingles -> signatures -> band join -> Jaccard
    # verify), and a 2-branch union would otherwise evaluate it twice
    # wherever Catalyst's exchange reuse doesn't cover the full plan. The
    # pair set itself is the SMALL end of the funnel (candidates, not the
    # corpus), so this checkpoint is cheap at any scale.
    _pair_obs = Observation()
    pairs = (
        pairs.select("a", "b")
        .observe(_pair_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    spark = pairs.sparkSession
    n_pairs = int(_pair_obs.get["n"] or 0)
    if n_pairs <= _CC_DRIVER_MAX_PAIRS:
        return _cc_driver_union_find(pairs, vertices, id_col=id_col)
    # the edge count rides the materializing action as an observed metric
    # (r15): one job instead of checkpoint + count
    _edge_obs = Observation()
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .observe(_edge_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # Only vertices touched by an edge can ever change label: iterate over
    # the ACTIVE subgraph (bounded by the LSH candidate set), not the full
    # corpus — at 100 TB the duplicate subgraph is orders of magnitude
    # smaller than the vertex set, so every per-round shuffle shrinks with
    # it. Isolated vertices join back as their own component at the end.
    # Shuffle partitions for the loop are sized to the subgraph (one
    # partition per ~50k edges), not the corpus-sized session default —
    # the count came for free on the materializing job above.
    n_edges = int(_edge_obs.get["n"] or 0)
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(session_parts, n_edges // 50_000 + 1))
    labels = (
        edges.select(F.col("src").alias("v")).distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    with _scoped_shuffle(spark, loop_parts):
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.v)
                .groupBy("src")
                .agg(F.min("label").alias("nmin"))
            )
            stepped = labels.join(
                neighbor_min, labels.v == neighbor_min.src, "left"
            ).select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                # carried through for the convergence check — avoids a
                # third per-round join back to the previous label set
                F.col("label").alias("old_label"),
            )
            # path compression (pointer doubling): follow each label to ITS
            # label, so chains halve every round — O(log diameter) rounds
            # instead of O(diameter). Labels only decrease, so the shortcut
            # preserves monotone convergence to the same fixpoint.
            via = stepped.select(
                F.col("v").alias("lv"), F.col("label").alias("llabel")
            )
            updated = stepped.join(via, stepped.label == via.lv, "left").select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("llabel"), F.col("label"))
                ).alias("new_label"),
                "old_label",
            )
            # convergence count rides the checkpoint job as an observed
            # metric: ONE action per round, not checkpoint + count
            obs = Observation()
            updated = updated.observe(
                obs,
                F.sum(
                    F.when(F.col("new_label") < F.col("old_label"), 1).otherwise(0)
                ).alias("changed"),
            ).localCheckpoint()
            changed = int(obs.get["changed"] or 0)
            labels = updated.select("v", F.col("new_label").alias("label"))
            if changed == 0:
                break
    ids = vertices.select(F.col(id_col).alias("v"))
    return (
        ids.join(labels, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("label", F.col("v")).alias("component"),
        )
        .orderBy(id_col)
    )


def simhash(docs: DataFrame, *, bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): bit-majority fingerprint over token hashes.

    ``bits <= 32`` hashes each token with the md5-prefix H32; up to 64
    bits uses BOTH md5 halves (chars 1-8 -> fingerprint bits 0..31,
    chars 9-16 -> bits 32..63) so every bit position carries real
    entropy. Bit 63 is materialized as the signed two's-complement
    minimum (``I64_MIN``) so the fingerprint stays an engine-portable
    signed BIGINT — DuckDB raises on ``1 << 63``.
    """
    if not (0 < bits <= 64):
        raise ValueError(f"bits must be in 1..64, got {bits}")
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.expr(H32.format(col="tok")))
    if bits > 32:
        toks = toks.withColumn("h2", F.expr(H32B.format(col="tok")))

    # ONE doc-keyed aggregate with per-bit SUM columns, not a tokens-x-bits
    # explode through a (doc, j) shuffle: the explode form pushed 1.9e9
    # rows at 10x data and read x15 at the sf10 ladder (r13). S_j = count
    # of tokens with bit j set; the majority vote v = 2*S_j - T > 0 folds
    # into the fingerprint expression. All sums are map-side combinable,
    # so only (doc, 65 longs) rows ever shuffle — values are identical to
    # the explode form bit-for-bit (the DuckDB oracle CTEs stay put).
    def _bit(j: int) -> str:
        src, sh = ("h", j) if j < 32 else ("h2", j - 32)
        return f"sum(({src} >> {sh}) & 1)"

    sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("tcnt"),
        *[F.expr(_bit(j)).alias(f"s{j}") for j in range(bits)],
    )
    fp_terms = []
    for j in range(bits):
        w = f"cast({I64_MIN} as bigint)" if j == 63 else f"cast({1 << j} as bigint)"
        fp_terms.append(f"(CASE WHEN 2 * s{j} > tcnt THEN {w} ELSE cast(0 as bigint) END)")
    return (
        sums.select(
            F.col(id_col), F.expr(" + ".join(fp_terms)).alias("simhash")
        )
        .orderBy(id_col)
    )


def simhash_pairs(
    docs: DataFrame, *, max_hamming: int = 3, bits: int = 32, blocks: int = None,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(a, b, hamming): document pairs whose SimHash fingerprints differ
    in <= ``max_hamming`` bits (Manku, Jain & Das Sarma 2007, "Detecting
    Near-Duplicates for Web Crawling", §3).

    Candidates come from ONE equi-join on (band index, band key) — never
    an all-pairs Hamming scan — and the popcount verification touches
    only candidates. Recall is 1.0 by construction in BOTH keying modes
    (no probabilistic misses, unlike MinHash banding):

    - ``blocks=None`` (classic pigeonhole, the small-scale teaching
      shape): ``max_hamming + 1`` bands keyed on one block each; bucket
      count 2^(bits/(k+1)) saturates once n >> 2^width, growing
      candidates ~n^2/2^width.
    - ``blocks=d`` (Manku combination keying, the 100 TB shape): d
      blocks, key each C(d, d-k) combination of d-k blocks; key width
      ~bits*(d-k)/d keeps buckets >> n at any corpus size (64-bit, d=6,
      k=3 -> 20 bands of ~34-bit keys).

    Validation + the remainder-bits band fix live in
    ``simhash_band_key_exprs`` (shared verbatim with the DuckDB oracle).
    """
    key_exprs = simhash_band_key_exprs(bits, max_hamming, blocks)
    sh = simhash(docs, bits=bits, id_col=id_col, text_col=text_col)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.expr(k).cast("bigint").alias("key")
                    )
                    for i, k in enumerate(key_exprs)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    l = bands.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "band", "key"
    )
    r = bands.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "band", "key"
    )
    cand = (
        l.join(r, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("a", "b")
    )


def _dot_decimal(a: str, b: str) -> str:
    """SQL expr: exact-deterministic dot product of two float arrays —
    per-element double product rounded into DECIMAL(27,15) (identical in any
    engine), decimal-summed (order-independent), returned as double."""
    return (
        f"cast(aggregate(zip_with({a}, {b}, (x, y) -> "
        "cast(cast(x as double) * cast(y as double) as decimal(27,15))), "
        "cast(0 as decimal(27,15)), (acc, v) -> cast(acc + v as decimal(27,15))) as double)"
    )


def embedding_nn_in_block(
    emb: DataFrame, *, block_col: str = "label", id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per vector: nearest neighbor within its block by cosine similarity.

    The block join bounds the pair space (IVF-style); cosine is computed
    with the exact decimal dot so results are engine-reproducible.
    """
    a = emb.select(
        F.col(id_col).alias("a"), F.col(block_col).alias("blk"), F.col(vec_col).alias("va")
    )
    b = emb.select(
        F.col(id_col).alias("b"), F.col(block_col).alias("blk"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, "blk").filter(F.col("a") != F.col("b"))
    cos = pairs.withColumn(
        "cos",
        F.round(
            F.expr(_dot_decimal("va", "vb"))
            / (
                F.sqrt(F.expr(_dot_decimal("va", "va")))
                * F.sqrt(F.expr(_dot_decimal("vb", "vb")))
            ),
            6,
        ),
    )
    best = cos.groupBy("a").agg(
        F.max_by(
            F.struct(F.col("b").alias("nn_id"), F.col("cos").alias("nn_cos")),
            F.struct(F.col("cos").alias("c"), (-F.col("b")).alias("tb")),
        ).alias("nn")
    )
    return best.select(
        F.col("a").alias("vec_id"), F.col("nn.nn_id").alias("nn_id"), F.col("nn.nn_cos").alias("nn_cos")
    ).orderBy("vec_id")


def ngram_duplication(
    docs: DataFrame, *, n: int = 3, id_col: str = "doc_id",
    text_col: str = "text", max_shingle_df: int | None = None,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction (the substring-duplication
    signal of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", at shingle granularity): for each doc, the share of its
    DISTINCT word n-grams that also occur in at least one other document.

    Scale shape: one explode into distinct shingles, one shingle-keyed
    count window for document frequency (below), one doc-keyed aggregate
    — never a doc-pair join. At 100 TB both shuffles key on high-
    cardinality values (no skew pile-up; a stop-gram cap can truncate
    pathological shingles the same way minhash banding does).

    Docs shorter than n tokens emit no shingles and are dropped (both
    engines agree; see word_shingles).

    ``max_shingle_df``: the hot-shingle (stop-gram) cap. df > cap
    shingles are boilerplate by definition at a sane cap; excluding them
    from BOTH numerator and denominator restricts the measure to the
    informative vocabulary (the stop-gram truncation the scale note above
    describes). Documents whose every shingle is boilerplate drop out
    entirely — callers wanting them as dup_frac=1.0 rows can left-join
    the corpus. None (default) keeps exact full-vocabulary semantics.
    The df attached to kept shingles is the FULL corpus df (counted
    before the cap filter), matching the declared oracle.

    df via a PARTITIONED count window, not groupBy+join-back (r16; the
    cross_doc_ngram_fraction / winnow shared_frac / cdc_chunks call): the
    join formulation re-derives the tokenize+explode+distinct lineage a
    SECOND time for the probe side — plan-verified two parquet scans and
    two Generates — and pays a distinct+aggregate exchange pair before
    the join. The window shuffles the distinct (doc, shingle) rows by
    shingle once; shingle partitions are small (docs sharing one n-gram),
    so the unordered count window is a per-bucket aggregate, not a sort
    risk. Measured 2.0x at sf0.01 / same-shape wins at sf0.1 with
    identical results (OPTIMIZATION_r16.md).
    """
    from pyspark.sql import Window

    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    marked = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_shingle_df is not None:
        marked = marked.filter(F.col("df") <= max_shingle_df)
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup") / F.col("n_shingles"), 6))
    )


def dup_spans(
    docs: DataFrame, *, n: int = 3, min_len: int = 2,
    id_col: str = "doc_id", text_col: str = "text", sort: bool = True,
) -> DataFrame:
    """(doc_id, span_start, span_len): maximal runs of consecutive shingle
    positions whose word n-gram also occurs in ANOTHER document — the
    span-EXTRACTION step of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") at shingle granularity. Where
    ``ngram_duplication`` scores how much of a doc is duplicated, this
    says WHERE, so a rewrite stage can cut the span instead of dropping
    the document (the paper's ExactSubstr remedy).

    ``span_start`` is the word offset of the run's first shingle;
    ``span_len`` counts consecutive duplicated shingles (the run covers
    ``span_len + n - 1`` words). Runs shorter than ``min_len`` shingles
    are dropped (single-shingle hits are mostly stop-phrase noise).

    Scale shape: one positional explode, ONE shingle-keyed shuffle with a
    partition-wide min/max window deciding the cross-doc vocabulary
    (>= 2 DISTINCT docs <=> min(doc) != max(doc) — within-doc repeats
    alone don't make a shingle "duplicated"), one per-document window for
    the gaps-and-islands grouping — never a doc-pair join (this extracts
    spans, it does not mine pairs). The doc window's state is bounded by
    document length, not corpus size.

    The vocabulary decision is a WINDOW, not distinct+aggregate+join-back
    (r16; the cross_doc_ngram_fraction call): the join form re-derived
    the tokenize+posexplode lineage a second time for the probe side
    (plan-verified two parquet scans and two Generates) and paid a
    distinct exchange + aggregate exchange ahead of the join. Shingle
    partitions are small (docs sharing one n-gram), so the unordered
    min/max window is a per-bucket aggregate, not a sort risk. Measured
    with identical results, OPTIMIZATION_r16.md.

    Precondition: ``id_col`` is non-NULL. min/max skip NULLs, so a shingle
    shared only between a NULL-id document and one real document is not
    marked duplicated, and all NULL-id documents would fall into one
    gaps-and-islands window.

    ``sort=False`` skips the final orderBy for consumers that immediately
    re-aggregate the spans (cut_spans — the r15 LSH sort=False precedent,
    guide §2.4: the intermediate range sort survived INTO cut_spans'
    physical plan feeding an explode+groupBy). Registered span-output
    queries keep the sort — their declared result is the ordered list.
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    posh = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"if(size(t) >= {n}, "
                f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))), "
                "array())"
            )
        ).alias("pos", "shingle"),
    )
    wsh = Window.partitionBy("shingle")
    marked = (
        posh.withColumn("_mn", F.min(id_col).over(wsh))
        .withColumn("_mx", F.max(id_col).over(wsh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    out = (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.count(F.lit(1)).cast("int").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select(id_col, "span_start", "span_len")
    )
    return out.orderBy(id_col, "span_start") if sort else out


def cut_spans(
    docs: DataFrame, *, n: int = 3, min_len: int = 2,
    drop_empty: bool = False,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text, n_removed): the span-CUT rewrite stage that
    dup_spans' extraction exists to serve — Lee et al. 2022's ExactSubstr
    REMEDY: instead of dropping a partially-duplicated document, remove
    the duplicated spans and keep the rest.

    A span of ``span_len`` consecutive duplicated shingles covers
    ``span_len + n - 1`` words (word offsets span_start ..
    span_start + span_len + n - 2); every covered word is removed and
    the survivors re-join on single spaces. Documents with no qualifying
    span pass through verbatim; a fully-duplicated document becomes the
    empty string. ``drop_empty=True`` drops those fully-cut documents —
    the surviving-corpus shape a curation pipeline feeds downstream
    (and, because the filter reads ``clean_text``, a shape whose row
    COUNT requires the rewrite: with the full-corpus default, Catalyst
    correctly answers ``count()`` without the join — the right-hand
    aggregate is unique per key, so the left join is eliminated — which
    is great for users and misleading for row-count benchmarks).

    Scale shape: dup_spans' shape (positional explode, one shingle-keyed
    min/max window for the cross-doc vocabulary, per-doc gaps-and-islands
    window — unsorted: the spans feed a re-aggregate, so the intermediate
    orderBy would be a wasted range sort, r16), then the spans explode to
    removed WORD offsets (bounded by
    total duplicated words, adjacent spans may overlap by up to n-1
    words — hence the per-doc set), one doc_id aggregate, and one
    doc_id equi-join back to the token table. The rewrite itself is a
    JVM-side higher-order filter over the token array — per-row state
    bounded by document length, never a doc-pair join, no Python UDF.
    """
    spans = dup_spans(
        docs, n=n, min_len=min_len, id_col=id_col, text_col=text_col,
        sort=False,  # spans feed an explode+groupBy: order is destroyed
    )
    removed = (
        spans.select(
            id_col,
            F.explode(
                F.expr(f"sequence(span_start, span_start + span_len + {n - 2})")
            ).alias("widx"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("widx").alias("removed"))
    )
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    out = toks.join(removed, id_col, "left").select(
        id_col,
        F.expr(
            "concat_ws(' ', filter(t, (w, i) -> "
            "removed IS NULL OR NOT array_contains(removed, i)))"
        ).alias("clean_text"),
        F.when(F.col("removed").isNull(), F.lit(0))
        .otherwise(F.size("removed"))
        .cast("int")
        .alias("n_removed"),
    )
    if drop_empty:
        out = out.filter(F.col("clean_text") != "")
    return out.orderBy(id_col)


def semantic_dedup(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, component, is_kept): SemDeDup-style semantic
    deduplication (Abbas et al. 2023): k-means the embedding space, find
    near-duplicate pairs WITHIN each cluster (cosine >= tau), connect them
    into components, keep one canonical representative (min id) per
    component.

    Scale shape: the cluster assignment bounds the pair space exactly like
    an IVF cell or LSH band — the pair join is an equi-join on cluster id,
    never all-pairs over the corpus. Pair cosine folds in doubles (strict
    left fold, engine-reproducible; rounded to 6 before the threshold) —
    the decimal formulation is reserved for oracles that need bit-parity
    on the SCORE, which a >= threshold does not.

    **k-scaling CONTRACT — k must grow with the corpus.** Within-cluster
    pair work is O(k * (N/k)^2) = O(N^2 / k): at FIXED k a 100x corpus
    makes clusters 100x bigger and pair work 10,000x. Two growth rates,
    by assignment backend:

    - k ~ N / c (bounded cluster size c): pair work O(N*c) — LINEAR —
      the right choice when centroid assignment is cheap per (row,
      centroid), e.g. GPU/BLAS matmul. SemDeDup (Abbas et al. 2023, §3)
      runs k ~ 10^4-10^5 on web-scale corpora in exactly this regime.
    - k ~ sqrt(N/2): balances the n*k assignment distance folds against
      the n^2/2k pair folds at ~1.41*n^1.5 total (sqrt(2), each term n^1.5/sqrt(2)) — the optimum for THIS
      implementation, whose assignment is an interpreted JVM
      higher-order fold with the same per-fold constant as the pair
      cosines. The registered `dedup_semantic` query derives exactly
      this (queries.semantic_cluster_count) on both engines.

    Measured: `python tools/stress.py --semantic` doubles N with k
    scaled and reports ~flat pairs-per-cluster / ~linear total candidate
    pairs, versus superlinear growth when k is (wrongly) held fixed.
    """
    from .similarity import _cells_for, _lloyd_clusters, ensure_parallelism
    from .vectorized import assign_cells, cell_pair_dots

    # r15 (guide §4.2): ONE vectorized kernel computes assignment + norm
    # (formerly a kmeans_assign HOF pass + an id join-back + a norm fold),
    # and the within-cluster pair cosines — formerly an interpreted HOF
    # fold per pair — run as per-CLUSTER NumPy dot blocks
    # (cell_pair_dots), bit-identical to the fold the oracle mirrors.
    # materialize once: the (id, vec, cluster, norm) table feeds both pair
    # sides and the final cluster join; already parallel BEFORE the
    # checkpoint so the pair blocks spread over the cores.
    emb2 = ensure_parallelism(emb.select(id_col, vec_col), id_col)
    clusters, k_c = _lloyd_clusters(
        emb2, k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    withvec = assign_cells(
        emb2, _cells_for(clusters, k_c), k_c=k_c, id_col=id_col,
        vec_col=vec_col, with_norm=True,
    ).drop("d2").localCheckpoint()
    a = withvec.select(
        F.col(id_col).alias("a"),
        F.col("cluster").alias("blk"),
        F.col(vec_col).alias("vec"),
        F.col("nrm"),
    )
    b = withvec.select(
        F.col(id_col).alias("b"),
        F.col("cluster").alias("blk"),
        F.col(vec_col).alias("vec"),
        F.col("nrm"),
    )
    pairs = (
        cell_pair_dots(
            a, b, left_id="a", right_id="b", cell_col="blk",
            vec_col="vec", norm_col="nrm", left_lt_right=True,
        )
        .filter(
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
            >= F.lit(tau)
        )
        .select("a", "b")
    )
    comp = connected_components(pairs, emb.select(id_col), id_col=id_col)
    return (
        withvec.select(id_col, "cluster")  # checkpointed; no k-means re-eval
        .join(comp, id_col)
        .select(
            id_col,
            "cluster",
            "component",
            (F.col(id_col) == F.col("component")).alias("is_kept"),
        )
        .orderBy(id_col)
    )


def containment_of_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    persist_shingles: bool = False,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(a, b, containment_a, containment_b, jaccard) for LSH candidate
    pairs where either directed containment |A∩B|/|A| or |A∩B|/|B| meets
    the threshold.

    Containment is the ASYMMETRIC partial-duplication signal: a short
    document quoted inside a long one scores near 1.0 on the short side
    while Jaccard stays small (|A∩B|/|A∪B| is diluted by the long side).
    Real curation pipelines gate on containment to catch subset/quote
    duplication that the symmetric measures miss (Broder 1997's
    resemblance vs containment distinction).

    Same scale shape as the Jaccard verify: LSH candidates only, one
    common-shingle join, sizes broadcast. Recall caveat: MinHash banding
    is tuned for RESEMBLANCE, so a subset that is a small fraction of its
    superset (Jaccard well below the band threshold curve) may not surface
    as a candidate — for aggressive containment recall, block on the
    SHORT side's shingles (suffix-array / seed-and-extend territory)
    instead of symmetric signatures.

    ``max_shingle_df``: the hot-shingle cap (see
    _lsh_shingles_and_candidates) — scores and sizes are computed over
    the df<=cap vocabulary, bounding both candidate inflation and the
    common-shingle join volume under boilerplate-heavy corpora.
    """
    sh, cand = _lsh_shingles_and_candidates(
        docs, n=n, id_col=id_col, persist_shingles=persist_shingles,
        max_shingle_df=max_shingle_df,
    )
    return _containment_scored(sh, cand, id_col=id_col, threshold=threshold)


def _containment_scored(
    sh: DataFrame, cand: DataFrame, *, id_col: str, threshold: float
) -> DataFrame:
    """The verify stage shared by every containment screen: one
    common-shingle join over the candidate pairs, both directed
    containments + Jaccard, threshold on the rounded-6 values (the
    cross-engine determinism contract)."""
    scored = _pair_overlap(sh, cand, id_col=id_col).select(
        "a",
        "b",
        F.round((F.col("common").cast("double") / F.col("na")), 6).alias(
            "containment_a"
        ),
        F.round((F.col("common").cast("double") / F.col("nb")), 6).alias(
            "containment_b"
        ),
        F.round(
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
            6,
        ).alias("jaccard"),
    )
    return scored.filter(
        (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
    ).orderBy("a", "b")


def winnow_containment(
    docs: DataFrame,
    *,
    k: int = 3,
    w: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Containment screen with WINNOWING fingerprints as the candidate
    generator (Schleimer et al. 2003), verified on full shingle sets.

    Blocking: two documents are candidates iff they share a winnowing
    fingerprint — a per-window minimum of token k-gram hashes, selected
    per row with NO shuffle (text.winnow_fingerprints). The winnowing
    guarantee makes this a principled blocker for CONTAINMENT: any shared
    token run of >= w+k-1 tokens yields a shared fingerprint, so a quoted
    passage of that length ALWAYS surfaces the pair — the recall case
    resemblance-tuned MinHash banding provably misses (a short doc inside
    a long one has low Jaccard, so band collisions are unlikely; see
    containment_of_pairs' recall caveat). Versus full-shingle blocking
    (ngram_jaccard_pairs' self-join) the fingerprint table carries an
    expected 2/(w+1) of the rows into the equi-join — same candidates for
    long overlaps at ~w/2 x less shuffle.

    Verify: exact containment/Jaccard over the full n-gram shingle sets
    for candidates only (_containment_scored — one common-shingle join).

    ``max_fp_df``: hot-fingerprint cap (the df-cap discipline): a
    fingerprint shared by d documents contributes d^2 candidate pairs, so
    boilerplate spans need the same guard as hot shingles. Candidates
    lost to the cap are pairs whose ONLY shared runs are corpus-wide
    boilerplate — the pairs a dedup screen wants suppressed anyway.
    """
    from .text import winnow_fingerprints

    fp = winnow_fingerprints(docs, k=k, w=w, id_col=id_col)
    if max_fp_df is not None:
        fp = _df_capped(fp, "fp", max_fp_df)
    fa = fp.select(F.col(id_col).alias("a"), "fp")
    fb = fp.select(F.col(id_col).alias("b"), "fp")
    cand = (
        fa.join(fb, "fp")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sh = word_shingles(docs, n=n, id_col=id_col)
    return _containment_scored(sh, cand, id_col=id_col, threshold=threshold)


def containment_short_side(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.5,
    seeds_per_doc: int = 4,
    max_seed_df: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, containment_a): DIRECTED containment |A∩B|/|A| >= threshold
    via short-side seed blocking — the recall fix for the documented
    containment_of_pairs caveat: MinHash banding is tuned for RESEMBLANCE,
    so a short document fully quoted inside a long one (Jaccard diluted by
    the long side) often never surfaces as an LSH candidate. Seed-and-
    extend instead: each document contributes its ``seeds_per_doc`` RAREST
    shingles (ascending document frequency, ties by shingle text) as block
    keys; any document sharing a seed is a candidate. If A is FULLY
    contained in B, every shingle of A — including its seeds — occurs in
    B, so recall on full containment is 1.0 whenever at least one seed has
    df <= ``max_seed_df`` (the hot-seed cap: a seed shared by k docs costs
    k candidate rows, and a doc whose 4 rarest shingles all exceed the cap
    is wall-to-wall boilerplate, exactly what the symmetric passes catch).

    Scale shape: one df aggregate, one per-doc top-R window (partitioned
    by doc — corpus-cardinality groups), one seed->shingle equi-join
    bounded by seeds_per_doc * max_seed_df candidates per probe doc, then
    the usual common-shingle count. Never all-pairs, never resemblance-
    gated.
    """
    from pyspark.sql import Window

    sh = word_shingles(docs, n=n, id_col=id_col)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.join(dfc, "shingle")
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    seeds = (
        sized.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") <= seeds_per_doc) & (F.col("df") <= max_seed_df))
        .select(F.col(id_col).alias("a"), F.col("shingle").alias("s"))
    )
    others = sh.select(F.col(id_col).alias("b"), F.col("shingle").alias("s"))
    cand = (
        seeds.join(others, "s")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("a"), F.col("shingle").alias("s"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("shingle").alias("s"))
    common = (
        cand.join(sa, "a").join(sb, ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("a"),
                                 F.col("n_sh").alias("na")), "a")
        .select(
            "a", "b",
            F.round(F.col("common").cast("double") / F.col("na"), 6)
            .alias("containment_a"),
        )
        .filter(F.col("containment_a") >= threshold)
        .orderBy("a", "b")
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    *,
    window: int = 4,
    threshold: float = 0.3,
    n: int = 3,
    key: str = "substring(text, 1, 24)",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, jaccard): Sorted Neighborhood Method (Hernandez & Stolfo
    1995) — the third classic blocking family next to LSH banding and
    seed blocking: sort the corpus by a cheap blocking key, compare only
    records within a sliding window of ``window`` positions, verify
    survivors with true shingle Jaccard >= threshold.

    Candidate volume is EXACTLY n*(window-1) — set by the operator, not
    by data skew (the property SNM is loved for: hot keys cannot blow up
    the pair space, they can only hurt recall by pushing true matches
    out of the window; run multiple passes with different keys for
    recall, each pass the same bounded cost).

    Scale shape: the global sort uses the two-stage rank
    (operators/ranking.py — range repartition + partition-local
    row_number + broadcast offsets; no single-task window), window
    adjacency becomes an EQUI-join on rank+d for d in 1..window-1 (an
    exploded offset column — never a range join), and verification is
    the usual common-shingle join on the bounded candidate set. Rank
    values are deterministic (total order (key, id)) regardless of how
    range-partition sampling places boundaries."""
    from .ranking import global_row_number

    keyed = docs.select(
        F.col(id_col), F.expr(key).alias("_bk")
    )
    # rank once: the ranked frame feeds BOTH window-join sides — without
    # the pin, the whole two-stage rank machinery (sampling pass, counts
    # job, offsets broadcast) re-evaluates per consumer
    ranked = (
        global_row_number(keyed, ["_bk", id_col], rank_col="rn")
        .select(id_col, "rn")
        .localCheckpoint()
    )
    left = ranked.select(F.col(id_col).alias("a"), F.col("rn"))
    right = ranked.select(F.col(id_col).alias("b"), F.col("rn").alias("rn2"))
    cand = (
        left.withColumn("_d", F.explode(F.expr(f"sequence(1, {window - 1})")))
        .select("a", (F.col("rn") + F.col("_d")).alias("rn2"))
        .join(right, "rn2")
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
    )
    sh = word_shingles(docs, n=n, id_col=id_col)
    jac = jaccard_of_pairs(sh, cand, id_col=id_col)
    return jac.filter(F.col("jaccard") >= threshold).orderBy("a", "b")


def cdc_chunk_dedup(
    docs: DataFrame,
    *,
    k: int = 3,
    modulus: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_chunks, n_shared, shared_frac): content-defined chunking
    dedup — the storage-dedup technique applied to training text. Token
    streams split at CONTENT-determined boundaries (positions whose
    k-gram hash ≡ 0 mod ``modulus``), so an insertion or deletion shifts
    only the chunks it touches: identical spans downstream re-align and
    hash equal, which fixed-width chunking (and whole-doc hashing) cannot
    do. Each chunk's text hashes to a 64-bit key; a chunk occurring in
    more than one document (or twice in one) is shared mass.

    Scale shape: boundary detection and chunk assembly are PURE PER-ROW
    expressions (rolling k-gram hashes -> cut positions -> token-slice
    joins, all whole-row HOFs over arrays bounded by document length —
    documents are bounded, corpora are not); then ONE chunk-hash-keyed df
    aggregate and a join back, the ngram_duplication shape with
    ~modulus x fewer keys than raw shingles. Expected chunk length is
    ``modulus`` tokens — tune it to trade boundary-shift robustness
    against shuffle volume. Docs shorter than k tokens drop (no k-gram
    exists to cut or hash; both engines agree).

    Chunk definition (mirrored exactly in the SQL oracle): a cut falls
    AFTER token i+k-1 for every gram index i with hash % modulus == 0;
    chunk boundaries are [0, cuts..., n_tokens]; empty chunks (a cut at
    the very end) are dropped; each chunk is its tokens joined by a
    single space and hashed with the md5-prefix H32."""
    h_gram = H32.format(col=f"array_join(slice(toks, i, {k}), ' ')")
    m = f"(size(toks) - {k - 1})"
    cuts = (
        f"filter(transform(sequence(1, {m}), i -> "
        f"IF({h_gram} % {modulus} = 0, i + {k - 1}, -1)), x -> x > 0)"
    )
    # let-bind the bounds array via a one-element transform (lambda vars
    # are single Catalyst nodes), so its three uses below don't each
    # re-expand the whole cuts subtree — the round-7 expression-tree rule
    chunk_strs = (
        f"element_at(transform(array("
        f"concat(array(0), {cuts}, array(size(toks)))), bounds -> "
        f"filter(transform(sequence(1, size(bounds) - 1), j -> "
        f"array_join(slice(toks, element_at(bounds, j) + 1, "
        f"element_at(bounds, j + 1) - element_at(bounds, j)), ' ')), "
        f"s -> s != '')), 1)"
    )
    from pyspark.sql import Window

    ch = (
        docs.select(id_col, F.split(text_col, " ").alias("toks"))
        .filter(F.size("toks") >= k)
        .select(id_col, F.explode(F.expr(chunk_strs)).alias("chunk_text"))
        .select(id_col, F.expr(H32.format(col="chunk_text")).alias("ch"))
    )
    # chunk-hash df via a PARTITIONED count window (one pass over the
    # boundary/assembly lineage) — the groupBy+join-back formulation would
    # recompute the chunking explode for the probe side; see
    # cross_doc_ngram_fraction for the same call
    return (
        ch.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("ch")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn("shared_frac", F.round(F.col("n_shared") / F.col("n_chunks"), 6))
        .orderBy(id_col)
    )


def cross_doc_ngram_fraction(
    docs: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, n_shared, shared_frac): per document, the fraction of
    its DISTINCT word n-grams that also occur in at least one OTHER
    document — the corpus-level repeated-span signal from "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., 2021):
    documents with high shared-span mass are near-template text the exact
    and MinHash passes miss.

    Scale shape: explode distinct (doc, gram) pairs, hash each gram to a
    64-bit md5 prefix so the shuffle carries 8-byte keys instead of raw
    n-gram strings, then ONE shuffle on the hash with a partition-wide
    count window (no join back — a groupBy+join formulation would
    recompute the tokenize+explode+md5 lineage, the dominant stage, a
    second time for the probe side), and a final per-doc aggregate. No
    pair space; two shuffles total, single pass over the corpus.
    """
    from pyspark.sql import Window

    sep = "\\u001f"
    grams_expr = (
        f"CASE WHEN size(toks) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {n} + 1), "
        f"i -> array_join(slice(toks, i, {n}), '{sep}'))) END"
    )
    h64 = "cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)"
    pairs = (
        docs.select(id_col, F.split(text_col, " ").alias("toks"))
        .select(id_col, F.explode(F.expr(grams_expr)).alias("gram"))
        .select(id_col, F.expr(h64).alias("gh"))
    )
    # gram-hash partitions are tiny (docs sharing one n-gram), so the
    # unordered count window is a per-bucket aggregate, not a sort risk
    marked = pairs.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("n_docs") >= 2, F.lit(1))).alias("n_shared"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_shared").cast("double") / F.col("n_grams")
            )
            .alias("shared_frac"),
        )
        .orderBy(id_col)
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    chunk_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_paragraphs, n_dup_paragraphs, kept_frac): Dolma-style
    paragraph-level exact dedup accounting — every paragraph occurrence
    except the corpus-first one counts as a duplicate. First = smallest
    (doc_id, position), so results are deterministic across engines.

    The synthetic corpus has no newline structure, so "paragraphs" are
    consecutive ``chunk_tokens``-token chunks (the splitter expression is
    the only thing to swap for real data: split(text, '\\n\\n')).

    Scale shape: one explode to (doc, pos, md5(paragraph)), ONE shuffle
    on the paragraph hash with a min-struct window over each hash bucket
    (the groupBy+join-back formulation would recompute the explode+md5
    lineage twice), then a per-doc aggregate. This is the exact-dedup
    shape lifted from documents to paragraphs; no pair space anywhere.
    """
    from pyspark.sql import Window

    sep = "\\u001f"
    chunks_expr = (
        f"CASE WHEN size(toks) = 0 THEN array() "
        f"ELSE transform(sequence(1, size(toks), {chunk_tokens}), "
        f"i -> array_join(slice(toks, i, {chunk_tokens}), '{sep}')) END"
    )
    paras = (
        docs.select(id_col, F.split(text_col, " ").alias("toks"))
        .select(id_col, F.posexplode(F.expr(chunks_expr)).alias("pos", "para"))
        .select(id_col, "pos", F.md5("para").alias("ph"))
    )
    # hash buckets hold the occurrences of ONE distinct paragraph — the
    # unordered window is a small per-bucket aggregate
    first = F.min(
        F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    ).over(Window.partitionBy("ph"))
    marked = paras.withColumn("first", first).select(
        id_col,
        (
            (F.col(id_col) != F.col("first.d")) | (F.col("pos") != F.col("first.p"))
        ).alias("is_dup"),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.count(F.when(F.col("is_dup"), F.lit(1))).alias("n_dup_paragraphs"),
        )
        .select(
            id_col,
            "n_paragraphs",
            "n_dup_paragraphs",
            (
                (F.col("n_paragraphs") - F.col("n_dup_paragraphs")).cast("double")
                / F.col("n_paragraphs")
            ).alias("kept_frac"),
        )
        .orderBy(id_col)
    )
