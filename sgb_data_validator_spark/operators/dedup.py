"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates only identifiers (exact, driver-side dict —
validate.py:658-684) and QID lists (transformations.py:937-952). A
100 TB corpus needs document-level near-dup detection; these operators
provide the standard ladder, each expressed Spark-first:

* exact            — hash-groupBy on a canonical fingerprint (one shuffle
                     of (fingerprint, id) pairs only, never the payload).
* minhash + LSH    — shingle → k portable min-hashes → band buckets →
                     candidate pairs from bucket joins. Pair generation is
                     linear in bucket occupancy, never all-pairs.
* simhash          — 32-bit sign-of-weighted-sum sketch; near-dups blocked
                     on 8-bit bands (pigeonhole: hamming ≤ 3 ⇒ one of the
                     4 bands equal), verified with bit_count(xor).
* n-gram Jaccard   — exact set overlap within explicit blocking keys
                     (bounded candidate sets; the verify stage behind LSH).
* embedding cosine — near-dup pairs over an embedding column, LSH-blocked
                     by random-hyperplane sign buckets.

Portability contract: every hash here is reproducible in ANSI SQL
(md5-hex prefix → bigint; affine permutations mod a 31-bit prime) so
each operator carries a DuckDB oracle in plans/driver_queries.py.

All heavy lifting is native column expressions (whole-stage codegen);
no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 31-bit Mersenne prime: affine products stay < 2^62, no bigint overflow
MERSENNE_31 = 2_147_483_647

# deterministic affine permutation coefficients (a_i, b_i) — must match
# the SQL oracle generator; seeded with small odd constants, coprime to p
def permutation_coeffs(k: int) -> list[tuple[int, int]]:
    coeffs = []
    a, b = 1_000_003, 998_244_353
    for i in range(k):
        coeffs.append(((a * (2 * i + 1)) % MERSENNE_31, (b * (i + 7)) % MERSENNE_31))
    return coeffs


def portable_hash(col: Column) -> Column:
    """60-bit integer hash reproducible across engines:
    bigint(hex(md5(x)[:15])). Spark: conv(); DuckDB: ('0x'||…)::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def word_shingles(text: Column, n: int = 1, lowercase: bool = True) -> Column:
    """Distinct word n-gram shingles of ``text`` as an array column.
    n=1 → the word set; n>1 → sliding word windows joined with \\x1f."""
    t = F.lower(text) if lowercase else text
    words = F.split(F.trim(t), r"\s+")
    if n == 1:
        return F.array_distinct(words)
    # sliding windows: for i in 0..len-n: concat(words[i..i+n-1])
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(
        F.size(words) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws("\x1f", F.slice(words, i + 1, n)))),
    ).otherwise(F.array().cast("array<string>"))


def has_shingles(text: Column, n: int) -> Column:
    """Cheap precondition equivalent to ``size(word_shingles(text, n)) > 0``:
    non-blank and at least ``n`` words. Used as the pre-banding filter —
    filtering on the COMPUTED hash array instead lets Catalyst push the
    predicate below the projection and re-evaluate the whole md5 chain
    twice (measured 2× on the minhash/simhash passes).

    The ``trim != ''`` term matters for n=1: split('') yields [''] (size
    1 ≥ 1), so without it every empty/whitespace-only doc would shingle
    to the same [''] set, share all band keys, and re-create the one
    giant bucket this guard exists to kill."""
    return (F.trim(text) != "") & (
        F.size(F.split(F.trim(F.lower(text)), r"\s+")) >= n
    )


def canonical_fingerprint(text: Column) -> Column:
    """Exact-dedup canonical form: md5 over the sorted distinct word set.
    Catches reorder-only duplicates; one md5 per row, no shuffle of text."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+")))))


# ---------------------------------------------------------------- exact

def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, rule_id: str = "dedup.exact"
) -> DataFrame:
    """Exact dedup via count-over-window: one violation row per member of
    every duplicate group, carrying group size and the canonical id kept.

    Scale shape: ONE narrow shuffle of (fingerprint, id) pairs — the
    100 TB text payload never moves, and group size + keep-id come from
    window aggregates over the same fingerprint partitioning, so there is
    no second pass, no join, and (unlike the round-1 broadcast-join form)
    no O(duplicate-docs) broadcast that grows unboundedly with corpus
    dirt. Mirrors uniqueness_violations' design (operators/uniqueness.py)."""
    from pyspark.sql import Window

    fp = df.select(
        F.col(id_col).alias("id"), canonical_fingerprint(F.col(text_col)).alias("fp")
    )
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keep_id", F.min("id").over(w))
        .where(F.col("group_size") > 1)
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col("id").cast("string").alias("doc_id"),
            F.col("fp").alias("fingerprint"),
            F.col("group_size").cast("bigint").alias("group_size"),
            F.col("keep_id").cast("string").alias("keep_id"),
            (F.col("id") != F.col("keep_id")).alias("is_redundant"),
        )
    )


# ---------------------------------------------------------------- minhash

def shingle_hashes(shingles: Column) -> Column:
    """Portable per-shingle hashes mod p as an array column. Materialize
    this ONCE (own projection) before fanning out to the k permutations:
    higher-order lambdas get no common-subexpression elimination, so
    inlining it into each signature column re-runs the md5 k times per
    shingle (measured 15× slowdown on the minhash pass)."""
    return F.transform(shingles, lambda s: portable_hash(s) % MERSENNE_31)


def _min_fold(a: int, b: int):
    return lambda acc, x: F.least(acc, (F.lit(a) * x + F.lit(b)) % MERSENNE_31)


def minhash_sig_cols(hvs: Column, k: int) -> list[Column]:
    """k min-hash signature columns over a materialized hash array —
    pure integer arithmetic per permutation, as scalar aggregate() folds:
    the array_min(transform(...)) form allocates k intermediate arrays
    per row, and the folds skip that (measured ~5% on the minhash pass
    at sf0.1; exact same min, fold order is irrelevant)."""
    return [
        F.aggregate(hvs, F.lit(MERSENNE_31).cast("bigint"), _min_fold(a, b))
        for a, b in permutation_coeffs(k)
    ]


def minhash_signature(shingles: Column, k: int = 16) -> list[Column]:
    """k portable min-hashes of a shingle array (single-expression form;
    for the multi-column fan-out use shingle_hashes + minhash_sig_cols)."""
    return minhash_sig_cols(shingle_hashes(shingles), k)


def minhash_sig_array(hvs: Column, k: int) -> Column:
    """The k-permutation signature as ONE array<bigint>: a single
    aggregate() pass whose accumulator is the array of k running minima
    (zip_with against a constant (a, b) coefficient array), instead of
    k independent folds that each re-traverse the hash array. Same
    min per permutation — fold order is irrelevant — measured ~1.6×
    faster than the k-fold form on the sf0.1 corpus (the array-of-48
    analog took the simhash sketch 1.8× down). Band keys then SLICE
    this array, so banding never re-derives a signature."""
    coeffs = F.array(
        *[
            F.struct(F.lit(a).cast("bigint").alias("a"), F.lit(b).cast("bigint").alias("b"))
            for a, b in permutation_coeffs(k)
        ]
    )
    return F.aggregate(
        hvs,
        F.array_repeat(F.lit(MERSENNE_31).cast("bigint"), k),
        lambda acc, x: F.zip_with(
            acc, coeffs, lambda m, c: F.least(m, (c["a"] * x + c["b"]) % MERSENNE_31)
        ),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    band_rows: int = 2,
    shingle_n: int = 1,
) -> DataFrame:
    """The LSH band index of a corpus: (id, band_key), k/band_rows rows
    per doc — the reusable banding stage behind minhash_candidate_pairs
    (self-join) and incremental dedup (new-batch bands joined against a
    stored base-snapshot index). Band keys depend only on the doc's own
    text, so banding a subset equals banding the corpus then filtering."""
    # shingle-less docs (null / fewer than n words) are dropped BEFORE
    # banding: array_min over an empty array is null and concat_ws skips
    # nulls, so every such doc would otherwise share every band key —
    # one giant bucket and a quadratic self-join on a real corpus
    hashed = df.where(has_shingles(F.col(text_col), shingle_n)).select(
        F.col(id_col).alias("id"),
        shingle_hashes(word_shingles(F.col(text_col), shingle_n)).alias("hvs"),
    )
    sigs = hashed.select("id", minhash_sig_array(F.col("hvs"), k).alias("sig"))
    # band fan-out via ONE explode (a union of per-band selects would
    # recompute the whole md5+permutation chain once per band per join
    # side); band keys are STRUCTS (band_idx, signature slice), not
    # concatenated strings: the join hashes 8 bigints instead of
    # building and hashing an ~80-char string per (doc, band) —
    # measured ~25% off the whole pass at sf0.1, with bit-identical
    # pair output (the key is internal to the equi-join; only equality
    # matters)
    n_bands = k // band_rows
    keys = [
        F.struct(
            F.lit(bi).alias("b"),
            F.slice("sig", bi * band_rows + 1, band_rows).alias("s"),
        )
        for bi in range(n_bands)
    ]
    return sigs.select("id", F.explode(F.array(*keys)).alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    band_rows: int = 2,
    shingle_n: int = 1,
) -> DataFrame:
    """MinHash + LSH near-dup candidates: (id_a, id_b, n_bands) with
    id_a < id_b, n_bands = number of colliding bands.

    Scale shape: the banded table is k/band_rows rows per doc of
    (band_key, id) — tiny vs the corpus. The self-join on band_key is
    the only quadratic risk; occupancy of a band bucket is the dup
    cluster size, so cost is Σ cluster², the unavoidable output size.
    Hot buckets (giant boilerplate clusters) would be capped upstream by
    exact dedup running first."""
    # the banded frame is tiny (id + band_key) and self-joined, so
    # persist it — both join sides then read the cache
    banded = minhash_band_keys(df, id_col, text_col, k, band_rows, shingle_n).persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 48
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 12 → 4096 buckets per band


def simhash_from_hashes(h: Column) -> Column:
    """48-bit SimHash from a (materialized) shingle-hash array: bit b
    set iff the sum over shingles of ±1 (by bit b of the hash) is
    positive. ONE aggregate() pass with an array<bigint> accumulator of
    the 48 bit-sums (zip_with against a constant mask array), instead
    of 48 independent folds that each re-traverse the hash array —
    measured 1.8× faster on the sf0.1 corpus with identical output.
    Still zero shuffle. 48 bits so the 4 blocking bands are 12 bits
    wide (4096 buckets each): at 10^12 docs, band-bucket occupancy
    stays join-safe, unlike 8-bit bands."""
    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(SIMHASH_BITS)])
    bit_sums = F.aggregate(
        h,
        F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(x.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # fold the sign vector back into the packed 48-bit integer
    return F.aggregate(
        F.zip_with(bit_sums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash48(shingles: Column) -> Column:
    """Single-expression SimHash (the 48 bit-folds re-evaluate the md5
    per bit here — use the materialized two-step form for bulk scans,
    as simhash_near_duplicates does)."""
    return simhash_from_hashes(F.transform(shingles, lambda s: portable_hash(s)))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dups: pairs with hamming(sim_a, sim_b) ≤ max_hamming.
    Blocking: 4 bands of 12 bits — pigeonhole guarantees any pair within
    hamming ≤ 3 collides on at least one band, so the band join finds
    every qualifying pair without an all-pairs scan. Default shingles
    are word bigrams: sequence-sensitive (reorderings are NOT near-dups
    here — the word-set operators catch those) and far better spread
    for the banding."""
    # same guard as minhash_candidate_pairs: docs with no shingles all
    # sketch to sim=0 (every bit-sum is 0 ⇒ not > 0) and would pairwise
    # collide at hamming 0 — drop them before banding
    hashed = df.where(has_shingles(F.col(text_col), shingle_n)).select(
        F.col(id_col).alias("id"),
        F.transform(word_shingles(F.col(text_col), shingle_n), lambda s: portable_hash(s)).alias("h"),
    )
    sims = hashed.select("id", simhash_from_hashes(F.col("h")).alias("sim"))
    # one explode per doc instead of a 4-way union (which would recompute
    # the 48 bit-folds per band per join side); persist the tiny
    # (id, sim, band_key) frame for the self-join. The key packs
    # (band_idx, 12-bit band value) into ONE bigint — band_idx in the
    # high bits keeps bands disjoint, and the join hashes an integer
    # instead of a built string
    mask = (1 << SIMHASH_BAND_BITS) - 1
    keys = [
        F.lit(bi << (SIMHASH_BAND_BITS + 1)).cast("bigint")
        + F.shiftright("sim", bi * SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask))
        for bi in range(SIMHASH_BANDS)
    ]
    bands = sims.select("id", "sim", F.explode(F.array(*keys)).alias("band_key")).persist()
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------- components

def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph: every member of
    a transitively-connected group gets the group's minimum id as
    ``cluster_id`` — the canonical-representative step that turns pair
    output (minhash/simhash/embedding) into dedup decisions.

    Spark-first iterative shape: min-label propagation. Each round every
    node takes the min of its own label and its neighbors' labels; the
    loop stops when a round changes nothing. Rounds needed = graph
    diameter; near-dup clusters are shallow (hub-and-spoke around the
    canonical doc), so convergence is fast — ``max_iterations`` is a
    runaway backstop, and the loop RAISES if it trips rather than
    silently emitting half-merged clusters. Per round: one self-join of
    the (src, label) frame against the edge list and a min-aggregate —
    all narrow (id, id) rows, never payloads. ``localCheckpoint`` cuts
    the lineage each round so the plan does not grow exponentially.
    Sizing rule: max_iterations must exceed the largest expected cluster
    DIAMETER — right for shallow hub-and-spoke dup graphs; for deep or
    unknown topology (chains of templated boilerplate, 10^12-edge
    graphs) use ``dedup_clusters_star``, which converges in O(log n)
    rounds independent of diameter.

    Input: (id_a, id_b) pair frame (extra columns ignored). Output:
    (doc_id, cluster_id) for every id that appears in a pair."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select("src").distinct().withColumn("label", F.col("src"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, "src", "left")
            .select(
                "src",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        ).localCheckpoint()
        changed = updated.where(F.col("new_label") < F.col("label")).limit(1).count()
        labels = updated.select("src", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds — "
            "cluster diameter exceeds the backstop; raise max_iterations or "
            "switch to small-star/large-star contraction"
        )
    edges.unpersist()
    return labels.select(F.col("src").alias("doc_id"), F.col("label").alias("cluster_id"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node attaches its strictly-larger
    neighbors to the minimum of its closed neighborhood. Emits
    (v, m) for v ∈ Γ(u), v > u, m = min(Γ(u) ∪ {u})."""
    nbrs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("u"), F.col("mn")).alias("m")
    )
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge larger→smaller, then attach
    each node's smaller neighbors (and itself) to the minimum one."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    re_linked = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_links = m.select("u", F.col("m").alias("v"))
    return (
        re_linked.unionByName(self_links)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def dedup_clusters_star(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Connected components via alternating small-star / large-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014 — a published algorithm, re-expressed as
    DataFrame joins): converges in O(log n) rounds regardless of
    component DIAMETER, unlike min-label propagation whose round count
    IS the diameter. This is the scale path for chain-shaped near-dup
    graphs (templated boilerplate with drift), where propagation's
    20-round backstop trips.

    Each round is two narrow self-joins + min-aggregates over (id, id)
    edges — same primitives and shuffle shape as dedup_clusters, just a
    different contraction rule. Convergence test: the oriented edge set
    reaches a fixed point (stars centered at component minima).
    ``localCheckpoint`` cuts lineage per round.

    Same contract as dedup_clusters: input (id_a, id_b); output
    (doc_id, cluster_id) for every id appearing in a pair."""
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        new = _small_star(_large_star(edges)).localCheckpoint()
        unchanged = (
            new.count() == edges.count()
            and new.exceptAll(edges).limit(1).count() == 0
        )
        edges = new
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iterations} rounds"
        )
    # at the fixed point every edge points node → component-min (a star)
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots)


# ---------------------------------------------------------------- jaccard

def verify_jaccard_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    threshold: float = 0.8,
    broadcast_max_pairs: int = 2_000_000,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs (the confirm stage
    behind MinHash LSH: LSH proposes, this measures). Cost is linear in
    |pairs| × shingles-per-doc — never quadratic in the corpus.

    The candidate set is *usually* small (LSH precision), but "small by
    construction" fails exactly when LSH precision fails — a hot band
    (boilerplate cluster, skewed shingles) floods candidates, and an
    unconditional broadcast of them OOMs every executor. So the
    broadcast is COUNT-GATED: the pair frame is persisted (it is
    consumed twice anyway — both gram joins), counted, and broadcast
    only below ``broadcast_max_pairs`` (2M id-pairs ≈ tens of MB); above
    the gate it degrades to a shuffled hash join keyed by id — one extra
    narrow shuffle of (id_a, id_b) rows instead of a build-side OOM.
    Same bounded-structure pattern as the reference's LRU cap on its
    URI-check cache (/root/reference/validate.py:91-92)."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("gram"),
    ).distinct().persist()  # referenced three times (sizes + both pair sides)
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    p = pairs.select("id_a", "id_b").persist()
    if p.count() <= broadcast_max_pairs:
        p = F.broadcast(p)
    else:
        # the count says the build side is too big to broadcast — pin the
        # join strategy so a misleading size ESTIMATE (cached relations
        # under-report after compression) can't re-pick broadcast anyway
        p = p.hint("shuffle_hash")
    ga = grams.select(F.col("id").alias("id_a"), "gram")
    gb = grams.select(F.col("id").alias("id_b"), "gram")
    inter = (
        p.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("inter").cast("bigint").alias("inter"), "jaccard")
    )


def verify_containment_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    threshold: float = 0.9,
    broadcast_max_pairs: int = 2_000_000,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT on candidate pairs:
    ``containment = |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|)`` — the
    asymmetric engulfed-document measure (a short doc quoted or
    embedded verbatim inside a much longer one scores ~1.0 here while
    its Jaccard collapses toward |small|/|big|). Motivated by the
    exact-substring pass of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL 2022): substring duplication is
    invisible to symmetric set similarity.

    Same count-gated broadcast discipline as ``verify_jaccard_pairs``
    (see that docstring for the gate rationale). Scale/recall note: the
    candidate set bounds cost AND recall — minhash bands estimate
    JACCARD, so a pair with high containment but tiny Jaccard is
    proposed only if a band collides anyway; at 10^12 rows the complete
    recall path is chunk fingerprints (``chunk_contamination``) feeding
    this verifier, not banding alone."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("gram"),
    ).distinct().persist()
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    p = pairs.select("id_a", "id_b").persist()
    if p.count() <= broadcast_max_pairs:
        p = F.broadcast(p)
    else:
        p = p.hint("shuffle_hash")
    ga = grams.select(F.col("id").alias("id_a"), "gram")
    gb = grams.select(F.col("id").alias("id_b"), "gram")
    inter = (
        p.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("inter") / F.least(F.col("na"), F.col("nb")), 6),
        )
        .where(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("bigint").alias("inter"),
            "containment",
        )
    )


# ---------------------------------------------------------------- embedding

def _plane_weight(j: int, i: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-32768, 32767] —
    integer LCG on the (plane, dim) index, identical in the SQL oracle."""
    return ((1_103_515_245 * (j * 997 + i) + 12_345) % 65_536) - 32_768


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-of-dot-product LSH bucket id over ``n_planes`` fixed integer
    hyperplanes. Pure column math: one aggregate() fold per plane."""
    bucket = F.lit(0)
    for j in range(n_planes):
        weights = F.array(*[F.lit(_plane_weight(j, i)) for i in range(dim)])
        dot = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def dot(x: Column, y: Column) -> Column:
    """Deterministic left-to-right double fold of a dot product
    (oracle-reproducible: same order ⇒ bit-identical sums)."""
    return F.aggregate(
        F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns. For bulk pair
    scoring use cosine_with_norms — self-norms belong on the vector,
    computed once, not re-folded per pair."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine given precomputed self-dot-products — same expression
    shape as cosine() (dot/sqrt(na*nb)) so results are bit-identical,
    but 3× fewer folds on the pair-scoring hot path."""
    return dot(a, b) / F.sqrt(na * nb)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked: vectors sharing a
    random-hyperplane sign bucket are compared exactly; cosine ≥
    threshold survives. High-cosine pairs collide with probability
    (1 - θ/π)^n_planes — recall is tuned by n_planes (and multi-probe
    at scale); cost is Σ bucket², never N²."""
    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
        dot(F.col(vec_col), F.col(vec_col)).alias("nrm"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                cosine_with_norms(F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")), 4
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------- winnowing

def positional_gram_hashes(text: Column, n: int = 3) -> Column:
    """Word n-gram hashes of ``text`` in document order, duplicates
    KEPT — winnowing is position-aware, unlike the distinct set
    word_shingles feeds to minhash. Same portable hash construction
    (md5-prefix → bigint mod p) so the DuckDB oracle replays it."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(
        (F.trim(text) != "") & (F.size(words) >= n),
        F.transform(
            idx,
            lambda i: portable_hash(F.concat_ws("\x1f", F.slice(words, i + 1, n)))
            % MERSENNE_31,
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word n-gram in
    position order, slide a window of ``w`` consecutive hashes, keep
    each window's minimum. Guarantees every shared run of
    ``w + n - 1`` words contributes at least one SHARED fingerprint,
    with expected density 2/(w+1) — a position-aware complement to
    set-minhash (which a reordered bag of the same words fools).

    Plan shape: grams posexplode to (id, pos, h) — narrow, inside the
    scan stage; ONE shuffle partitions by id for the two window
    functions (per-doc gram count + running window min); the distinct
    collapses per-doc without a further exchange (same partitioning).
    Only full windows select (pos ≤ m − w), matching the canonical
    m − w + 1 window count."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(positional_gram_hashes(F.col(text_col), n)).alias("pos", "h"),
    )
    by_doc = Window.partitionBy("id")
    by_pos = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("m", F.count(F.lit(1)).over(by_doc))
        .withColumn("wmin", F.min("h").over(by_pos))
        .where(F.col("pos") <= F.col("m") - w)
        .select("id", F.col("wmin").alias("fp"))
        .distinct()
    )


def winnow_candidate_pairs(
    fingerprints: DataFrame, min_shared: int = 2, max_doc_freq: int = 50
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints:
    docs sharing ≥ ``min_shared`` fingerprints, with the shared count
    as the match strength.

    Skew guard: fingerprints present in more than ``max_doc_freq``
    docs (boilerplate n-grams — the winnowing analog of stop-words)
    are dropped BEFORE the self-join via a count-over-window on the
    already-fp-partitioned frame, bounding the join at
    Σ min(freq, cap)² instead of Σ freq²."""
    w = Window.partitionBy("fp")
    fps = fingerprints.withColumn("df", F.count(F.lit(1)).over(w)).where(
        (F.col("df") > 1) & (F.col("df") <= max_doc_freq)
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fp"))
        .where(F.col("shared_fp") >= min_shared)
    )


# ------------------------------------------------------- prefix filtering

def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_bp: int = 8000,
    shingle_n: int = 4,
) -> DataFrame:
    """EXACT Jaccard set-similarity join via prefix filtering
    (Chaudhuri, Ganti & Kaushik, ICDE 2006; Xiao et al. "PPJoin",
    WWW 2008) — every pair whose distinct word-``shingle_n``-gram sets
    have Jaccard ≥ threshold_bp/10000, with NO false negatives, unlike
    the probabilistic minhash/simhash paths.

    The filter: order each doc's distinct shingles by GLOBAL document
    frequency ascending (rarest first, shingle as tie-break — one
    shared total order for the whole corpus), keep only the first
    p = |set| − ⌈t·|set|⌉ + 1. Two sets with Jaccard ≥ t MUST collide
    on at least one prefix shingle (pigeonhole on the shared order), so
    joining prefixes is complete; the length filter t·|a| ≤ |b| ≤ |a|/t
    prunes further inside the join condition.

    Scale shape: shingles explode narrow inside the scan; ONE shuffle
    on shingle for the document-frequency agg, whose partitioning the
    join-back reuses (same key); ONE shuffle on id for the two window
    functions (size + rank share a partition ordering). The candidate
    self-join is on prefix shingles — by construction each doc's RAREST
    shingles, so bucket occupancy for shingle g is at most df(g) and
    common shingles enter prefixes only for docs too small to hold
    anything rarer: the Σ occupancy² blow-up of a naive shingle
    self-join is cut to the rare tail. The pruning needs a real rare
    tail to bite, hence the n-gram default: per-WORD df in a
    small-vocabulary corpus is huge everywhere (this synthetic corpus
    draws from ~40 words — word-set prefixes would degenerate toward
    all-pairs), while 4-gram df is a long df≈1 tail on any corpus.
    Verification joins candidates back to the shingle table (linear in
    |pairs| × shingles-per-doc). All arithmetic is integer (basis
    points, ceil via (a+9999) DIV 10000), so any engine replays it
    bit-for-bit.
    """
    if not isinstance(threshold_bp, int) or not (0 < threshold_bp <= 10000):
        raise ValueError(f"threshold_bp must be an int in (0, 10000], got {threshold_bp!r}")
    toks = df.where(has_shingles(F.col(text_col), shingle_n)).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("tok"),
    ).persist()  # consumed five times: df agg, rank join, both verify sides, sizes
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    by_id = Window.partitionBy("id")
    rare_first = Window.partitionBy("id").orderBy("df", "tok")
    sized = (
        toks.join(dfreq, "tok")
        .withColumn("sz", F.count(F.lit(1)).over(by_id))
        .withColumn("rk", F.row_number().over(rare_first))
    )
    # p = sz − ceil(t·sz) + 1, in pure integer math (float ceil(0.8·35)
    # is engine-dependent in the last ulp; (a + 9999) DIV 10000 is not)
    plen = F.col("sz") - F.expr(f"({threshold_bp} * sz + 9999) DIV 10000") + 1
    prefix = sized.where(F.col("rk") <= plen).select("id", "tok", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J ≥ t ⇒ t·|a| ≤ |b| and t·|b| ≤ |a|
            & (F.col("a.sz") * threshold_bp <= F.col("b.sz") * 10000)
            & (F.col("b.sz") * threshold_bp <= F.col("a.sz") * 10000),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("id").alias("id_a"), "tok")
    tb = toks.select(F.col("id").alias("id_b"), "tok")
    shared = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    uni = F.col("a_sz") + F.col("b_sz") - F.col("shared")
    return (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("a_sz")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("b_sz")), "id_b")
        .where(F.col("shared") * 10000 >= threshold_bp * uni)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("bigint").alias("shared_tokens"),
            uni.cast("bigint").alias("union_tokens"),
            F.expr("(10000 * shared) DIV (a_sz + b_sz - shared)")
            .cast("bigint")
            .alias("jaccard_bp"),
        )
    )
