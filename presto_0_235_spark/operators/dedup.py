"""Deduplication operators for training-data pipelines.

Beyond-reference surface (the reference engine has no dedup operators;
its closest machinery is DISTINCT / MarkDistinctOperator,
MAIN/operator/MarkDistinctOperator.java:35). These are the standard
large-corpus dedup algorithms re-expressed Spark-first:

  - exact dedup        : normalize -> hash -> groupBy (one shuffle)
  - n-gram Jaccard     : shingle arrays + blocked self-join
  - MinHash + LSH      : shingle -> K minhashes -> B bands -> bucket
                         join (the scale path: candidate pairs only,
                         never all-pairs)
  - SimHash            : per-bit token-hash voting -> fingerprint ->
                         chunk-bucket join for hamming<=d candidates

Every primitive is a pure Column expression (JVM-side, inside
WholeStageCodegen — no Python UDFs) so the only shuffles are the final
groupBy/join, and each has a DuckDB SQL twin generator used by the
oracle strings (same constants, same hash = md5, same separators), so
the differential gate checks real values, not just row counts.

Scale notes (100 TB corpus, 1000 executors):
  - Exact dedup shuffles once on the 128-bit content key: perfectly
    partitionable, no skew (hash keys are uniform).
  - LSH band join shuffles on (band_id, band_key) — uniform by
    construction; candidate verification touches only bucket
    collisions, so cost ~ O(duplicates), not O(n^2).
  - The all-pairs Jaccard join is intentionally blocked (by lang
    here); it exists as the small-block verifier, not the scale path.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared constants — the Spark builders and the DuckDB oracle SQL
# generators below both derive from these, so they cannot drift.
SHINGLE_WORDS = 3
MINHASH_K = 12  # number of min-wise hashes in the signature
LSH_BANDS = 6  # bands of LSH_ROWS hashes each (B*R == MINHASH_K)
LSH_ROWS = 2
SIMHASH_BITS = 32  # fingerprint width (64 at production scale)
SIMHASH_CHUNKS = 4  # bucket-join chunks (hamming<=3 needs one clean chunk)
# Standard LSH hygiene: a degenerate band bucket (mass-duplicated
# boilerplate) makes the band self-join quadratic in that bucket.
# Buckets above this size are excluded from pair generation — their
# members are (near-)identical en masse and belong to the exact-dedup
# path, which the curation pipeline runs FIRST (extensions_q
# pipeline_corpus_dedup) precisely so LSH never sees them.
LSH_MAX_BUCKET = 64


# ---------------------------------------------------------------------------
# text normalization + shingling


def bind_once(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``value`` evaluated once per row.

    Neither engine shares common subexpressions inside higher-order
    lambdas, so a per-row value referenced from a per-element lambda
    is recomputed for every element. Mapping ``body`` over a
    one-element array binds the value to a lambda variable instead;
    references to it are then plain variable reads.
    """
    return F.transform(F.array(value), body)[0]


def sql_bind_once(value: str, var: str, body: str) -> str:
    """DuckDB twin of `bind_once`: ``body`` reads ``value`` as ``var``."""
    return f"list_transform([{value}], {var} -> {body})[1]"


def normalized_text(col: Column | str) -> Column:
    """lower + collapse whitespace + trim (canonical dedup form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def sql_normalized_text(expr: str) -> str:
    # DuckDB regexp_replace needs the explicit 'g' flag (Spark's is
    # always global).
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def word_shingles(col: Column | str, n: int = SHINGLE_WORDS) -> Column:
    """Distinct n-word shingles of the normalized text.

    Pure expression: split (once per row, see `bind_once`) -> sliding
    window via sequence+slice -> distinct. Distinctness matters for
    Jaccard/minhash set semantics.
    """

    def shingles(words: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))
        )
        return F.array_distinct(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
        )

    return bind_once(F.split(normalized_text(col), " "), shingles)


def sql_word_shingles(expr: str, n: int = SHINGLE_WORDS) -> str:
    return sql_bind_once(
        f"string_split({sql_normalized_text(expr)}, ' ')",
        "w",
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(w) - {n - 1}, 1)), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' ')))",
    )


# ---------------------------------------------------------------------------
# Jaccard


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays (double)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    # int/int division -> exactly-rounded double, identical on DuckDB.
    return inter / union


def sql_jaccard(a: str, b: str) -> str:
    return (
        f"len(list_intersect({a}, {b})) / "
        f"len(list_distinct(list_concat({a}, {b})))"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
#
# Signature slot i is min over a doc's shingles of the affine
# permutation h_i(x) = (a_i*x + b_i) mod MINHASH_PRIME, where x is the
# shingle's 31-bit hash (Broder et al., "Min-wise independent
# permutations", STOC 1998). x < 2^31 and a_i, b_i < 2^31, so every
# intermediate is below 2^62: exact bigint arithmetic on both engines,
# ANSI overflow checks included. A band key packs its two minhashes
# into one bigint, min_2b * 2^31 + min_2b+1 (< 2^62, and invertible).
MINHASH_PRIME = (1 << 31) - 1  # also the 31-bit mask: all ones


def _affine_perm(i: int) -> tuple[int, int]:
    """Fixed (a_i, b_i) for slot i, a_i in [1, p-1], b_i in [0, p-1]."""
    d = hashlib.md5(f"minhash|{i}".encode()).digest()
    a = int.from_bytes(d[:4], "big") % (MINHASH_PRIME - 1) + 1
    b = int.from_bytes(d[4:8], "big") % MINHASH_PRIME
    return a, b


MINHASH_PERMS = tuple(_affine_perm(i) for i in range(MINHASH_K))


def shingle_hashes(shingles: Column) -> Column:
    """The 31-bit hash x of every shingle: `_token_hash32` masked to
    31 bits. This is the only md5 of the MinHash path, once per
    shingle; every permutation reads the resulting array."""
    return F.transform(
        shingles, lambda s: _token_hash32(s).bitwiseAND(F.lit(MINHASH_PRIME))
    )


def _affine_sql(i: int, x: str) -> str:
    """h_i(x), spelled the same in Spark SQL and DuckDB."""
    a, b = MINHASH_PERMS[i]
    return f"({a} * {x} + {b}) % {MINHASH_PRIME}"


def _pack_band_sql(mins: list[str]) -> str:
    """One bigint band key from the band's minhashes (engine-neutral)."""
    assert len(mins) <= 2, "a bigint band key holds at most two 31-bit minhashes"
    return f" * {1 << 31} + ".join(mins)


def sql_minhash_signature(shingles: str, k: int = MINHASH_K) -> str:
    """DuckDB spelling: the K-slot signature array of a shingle array.
    The hash array is bound once (`sql_bind_once`), so each shingle is
    md5-hashed once, not once per slot."""
    hashes = (
        f"list_transform({shingles}, "
        f"s -> {sql_token_hash32('s')} & {MINHASH_PRIME})"
    )
    mins = ", ".join(
        f"list_min(list_transform(h, x -> {_affine_sql(i, 'x')}))"
        for i in range(k)
    )
    return sql_bind_once(hashes, "h", f"[{mins}]")


def sql_lsh_band_key(sig: str, band: int, rows: int = LSH_ROWS) -> str:
    # 1-based list indexing in DuckDB.
    return _pack_band_sql([f"{sig}[{band * rows + j + 1}]" for j in range(rows)])


def spark_lsh_band_keys_sql(
    hashes: str, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> str:
    """Spark-SQL spelling of the band-key array over a `shingle_hashes`
    column, as ONE parseable expression (a single Py4J round trip; a
    Column-API spelling costs hundreds per build). Two docs collide on
    band b iff its R minhashes all match — the classic (J^R per band)
    LSH amplification.

    Why this family keeps the recall that cheaper families lost (two
    were measured at sf0.1 and rejected earlier):
      - Kirsch-Mitzenmacher double hashing (h0 + i*h1 from 2 md5s) is
        not K permutations: for large i the order is h1's order, so
        every slot picks min-h1's shingle and K slots collapse to ~2
        effective ones — band recall on a Jaccard-0.6 pair fell from
        ~93% to ~40%. Each affine h_i reduces a_i*x (about 2^30
        multiples of p) mod p with its own (a_i, b_i), so the slot's
        order, and its argmin, is drawn afresh: per-slot agreement is
        ~J and the agreement count fits Binomial(K, J), which is what
        the 1-(1-J^R)^B band recall assumes (both pinned in
        tests/test_quality.py).
      - 32-bit md5 windows were statistically fine but slow: lambdas
        are interpreted, so the shared md5 was recomputed per window.
        Here the md5 runs once per shingle, in its own projected
        column (`shingle_hashes`), and a slot costs one multiply-add
        per shingle.
    """
    assert bands * rows <= MINHASH_K, (
        f"bands*rows ({bands}*{rows}) exceeds MINHASH_K ({MINHASH_K})")
    keys = ", ".join(
        _pack_band_sql([
            f"array_min(transform({hashes}, x -> {_affine_sql(b * rows + j, 'x')}))"
            for j in range(rows)
        ])
        for b in range(bands)
    )
    return f"array({keys})"


def _lsh_banded(
    docs: DataFrame, id_col: str, shingle_col: str, bands: int, rows: int,
    out: str | None = None,
) -> DataFrame:
    """(id, band_id, band_key): B rows per doc. The hash array is its
    own projection under the band Generate: every slot's lambda reads
    it, and inlining it would md5 each shingle K times (pinned in
    tests/test_operators.py)."""
    out = out or id_col
    hashed = docs.select(
        F.col(id_col).alias(out),
        shingle_hashes(F.col(shingle_col)).alias("__h"),
    )
    return hashed.select(
        out,
        F.posexplode(
            F.expr(spark_lsh_band_keys_sql("__h", bands, rows))
        ).alias("band_id", "band_key"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int | None = LSH_MAX_BUCKET,
    distinct_pairs: bool = True,
) -> DataFrame:
    """(id1, id2) candidate pairs sharing >=1 LSH band bucket.

    ``distinct_pairs=False`` skips the final pair dedup — a full
    shuffle of the pair set whose only effect is collapsing
    multi-band collisions (a pair colliding in k bands appears k
    times, k <= bands). Consumers whose downstream is set-semantic
    anyway (a DISTINCT after the verify filter, a LEFT ANTI probe)
    get the identical final result one exchange cheaper, paying at
    most bands-1 duplicate verifications for the multi-band (i.e.
    highest-similarity) pairs. Consumers that RETURN the pair set
    keep the default.

    One narrow projection hashes each shingle once, the band Generate
    computes the signature slots from those hashes, posexplode emits B
    (band_id, band_key) rows per doc, and the self-join shuffles on the
    uniform (band_id, band_key) composite — the only shuffle in the
    pipeline, O(n*B) rows. distinct() collapses multi-band collisions.

    Bucket-size cap (``max_bucket``): without it, ONE degenerate
    band_key — a 100k-copy boilerplate doc, common in real corpora —
    makes pair generation quadratic in that bucket (10^10 pairs from
    a single key). Buckets above the cap are dropped from pair
    generation, bounding the output at O(n * B * max_bucket); their
    members are mass-duplicates that the exact-dedup stage (run first
    in the curation pipeline) already collapses. Pass
    ``max_bucket=None`` for the uncapped research variant.

    Capped pair generation is ONE aggregation, not a self-join:
    groupBy (band_id, band_key) -> collect_list(id) -> size filter
    (the cap) -> in-bucket pair explode (a value-ordered nested
    transform, <= C(max_bucket, 2) pairs per bucket). Versus the
    previous window-cap + self-join this removes the window SORT,
    the second scan of the banded table (and the persist that fed
    it), and the join exchange — the minhash signatures (K
    permutation passes over every shingle's hash, the dominant
    compute) are evaluated exactly once, and the only shuffles left are the banded groupBy
    and the final distinct. Pair sets are identical: ids are unique
    within a bucket (one row per doc per band), so value-ordered
    pairs == the join's id1 < id2 pairs, and the size filter sees
    the same bucket cardinality the window count did.

    The uncapped variant keeps the self-join: with no cap a
    degenerate bucket's collect_list would be unbounded driver-less
    state in one aggregation buffer, while the join only streams.
    """
    banded = _lsh_banded(docs, id_col, shingle_col, bands, rows)
    if max_bucket is not None:
        buckets = (
            banded.groupBy("band_id", "band_key")
            .agg(F.collect_list(id_col).alias("__ids"))
            .filter(
                (F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket)
            )
        )
        pairs = F.expr(
            "flatten(transform(__ids, x -> "
            "transform(filter(__ids, y -> y > x), "
            "y -> struct(x AS id1, y AS id2))))"
        )
        out = (
            buckets.select(F.explode(pairs).alias("__p"))
            .select(F.col("__p.id1").alias("id1"), F.col("__p.id2").alias("id2"))
        )
        return out.distinct() if distinct_pairs else out
    banded = banded.persist()
    left = banded.alias("l")
    right = banded.alias("r")
    out = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
        )
    )
    return out.distinct() if distinct_pairs else out


def lsh_incremental_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    shingle_col: str,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Incremental (cross-corpus) LSH: candidate pairs between a NEW
    batch and an EXISTING corpus — the ingestion-time shape. Bands
    the new batch and joins it against the OLD corpus's banded
    signature table only: no old-old pairs (already deduped when the
    corpus was built) and no new-new pairs (run lsh_candidate_pairs
    on the batch for those), so the join is |new|*B vs |old|*B on
    the uniform band key, never all-pairs.

    The bucket cap applies to the OLD (index) side: a degenerate
    index bucket is the one that would otherwise meet every matching
    new row. In production the old banded table is the persisted
    artifact of the original dedup run — here it is recomputed, the
    same table either way. Returns (id_new, id_old) distinct pairs.

    The cap is an aggregate count of OVERSIZED keys + anti join over
    the PERSISTED banded index, not a window count: the window
    spelling sorted every banded index row inside its exchange,
    while the count groupBy partial-aggregates map-side and shuffles
    only (key, count) rows, and the anti join reads the cache (AQE
    broadcasts the oversized-key set when it is small, the common
    case). The persist makes the local shape match the production
    one the paragraph above describes — the banded index is the
    artifact a pipeline reuses across batches, and the index-side
    minhash signatures (the dominant compute) are evaluated exactly
    once either way. Same kept set: a bucket is dropped iff its
    total row count exceeds the cap, exactly what the window count
    filtered.
    """
    old_b = _lsh_banded(old_docs, id_col, shingle_col, bands, rows, "id_old")
    if max_bucket is not None:
        old_b = old_b.persist()
        oversized = (
            old_b.groupBy("band_id", "band_key")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band_id", "band_key")
        )
        old_b = old_b.join(
            oversized, ["band_id", "band_key"], "left_anti"
        )
    new_b = _lsh_banded(new_docs, id_col, shingle_col, bands, rows, "id_new")
    return (
        new_b.join(old_b, ["band_id", "band_key"])
        .select("id_new", "id_old")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash


def _token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash both engines can compute:
    first 8 hex digits of md5, as a bigint."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def sql_token_hash32(tok: str) -> str:
    return f"('0x' || substr(md5({tok}), 1, 8))::BIGINT"


def simhash(tokens_hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint from a precomputed token-hash array.

    Bit b of the fingerprint is 1 iff the sum over tokens of
    (+1 if bit b of hash(token) else -1) is positive. Integer-only
    arithmetic -> engine-exact. Expression cost is bits folds over the
    hash array; precompute the hash array once per row (withColumn)
    so md5 runs once per token, not per bit.
    """
    # NB: helper factory, not `lambda acc, h, b=b: ...` — pyspark reads
    # the lambda's arity from its signature, so a defaulted extra param
    # changes which lambda form it builds and binds a Column over b.
    def bit_vote(b: int) -> Column:
        return F.aggregate(
            tokens_hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(bit_vote(b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


def sql_simhash(hashes: str, bits: int = SIMHASH_BITS) -> str:
    terms = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform({hashes}, "
            f"h -> ((h >> {b}) & 1) * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_chunks(
    fp: Column, bits: int = SIMHASH_BITS, chunks: int = SIMHASH_CHUNKS
) -> Column:
    """Array of chunk values for the hamming-candidate bucket join:
    pairs within hamming distance < chunks must agree on >=1 chunk
    (pigeonhole), so joining per-chunk finds all of them without an
    all-pairs comparison."""
    w = bits // chunks
    mask = (1 << w) - 1
    return F.array(
        *[F.shiftright(fp, c * w).bitwiseAND(F.lit(mask)) for c in range(chunks)]
    )


def sql_simhash_chunk(fp: str, chunk: int, bits: int = SIMHASH_BITS,
                      chunks: int = SIMHASH_CHUNKS) -> str:
    w = bits // chunks
    mask = (1 << w) - 1
    return f"(({fp} >> {chunk * w}) & {mask})"


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list (id1, id2):
    iterative min-label propagation — each vertex takes the minimum
    label among itself and its neighbors until fixpoint.

    This is the clustering step real dedup needs after candidate
    pairs: a near-dup *cluster* keeps one representative (the min
    id), not pairwise survivors. Iteration is driver-controlled
    (Spark has no recursive CTE); each round is one join + one
    aggregate, and the loop exits on convergence — the iterative-
    algorithm escape hatch the task calls out, kept fully
    distributed (labels never collect()).

    Scale: rounds needed = graph diameter (near-dup clusters are
    shallow, typically <= 3-4); each round shuffles O(edges). For
    web-scale graphs swap in the large-star/small-star variant —
    same loop skeleton.
    """
    both = edges.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(
        edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    both = both.persist()
    labels = (
        both.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .persist()
    )
    for i in range(max_iterations):
        neighbor_min = (
            both.join(labels, both.dst == labels.vertex)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(
            neighbor_min, labels.vertex == neighbor_min.src, "left"
        ).select(
            "vertex",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # Lineage hygiene: each round's plan references the previous
        # round's — unbounded, the DAG deepens linearly and a deep
        # graph re-plans/re-executes the whole chain. localCheckpoint
        # every 3rd round truncates lineage; superseded label tables
        # unpersist eagerly so executor storage stays O(1) rounds.
        if (i + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vertex")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    both.unpersist()
    return labels


def _symmetrize(e: DataFrame) -> DataFrame:
    """Undirected (a, b) edge list -> both directed rows (u, v)."""
    return e.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(e.select(F.col("b").alias("u"), F.col("a").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): connect every strictly-larger neighbor of u to
    m(u) = min(neighbors(u) + {u})."""
    both = _symmetrize(e)
    m = both.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        both.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): orient edges larger->smaller; connect u and all
    its smaller neighbors to their minimum."""
    directed = (
        e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    return (
        directed.join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionByName(
            m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the WEB-SCALE variant of connected_components: converges in
    O(log n) rounds regardless of graph diameter, where min-label
    propagation needs diameter-many rounds (a 10^6-long chain of
    paraphrased documents would take 10^6 propagation rounds but ~20
    star rounds). Same output contract as connected_components:
    (vertex, label) with label = the component's minimum id.

    Each round is two self-free join+aggregate passes over the edge
    list on uniform keys; the edge set only shrinks toward the final
    star forest, so round cost decreases. localCheckpoint every round
    bounds lineage exactly as in the propagation variant.
    """
    e = (
        edges.select(
            F.col("id1").cast("long").alias("a"),
            F.col("id2").cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    vertices = (
        _symmetrize(e).select(F.col("u").alias("vertex")).distinct().persist()
    )
    for _ in range(max_iterations):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # Converged when the canonical edge multiset is unchanged:
        # same count and no edge outside the intersection.
        canon_old = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        canon_new = new_e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        # ONE symmetric-difference probe per round (a full outer join
        # keeping rows missing from either side), not two exceptAll
        # jobs — on a deep graph the convergence check is pure
        # driver-side latency, so halving the job count matters.
        changed = (
            canon_old.withColumn("l", F.lit(1))
            .join(
                canon_new.withColumn("r", F.lit(1)),
                ["a", "b"],
                "full_outer",
            )
            .filter(F.col("l").isNull() | F.col("r").isNull())
            .limit(1)
            .count()
        )
        e.unpersist()
        e = new_e
        if changed == 0:
            break
    # Final star forest: leaves' min neighbor is the root; roots keep
    # themselves (their neighbors are all larger).
    both = _symmetrize(e)
    labels = both.groupBy(F.col("u").alias("vertex")).agg(
        F.min("v").alias("mn")
    )
    labels = labels.select(
        "vertex", F.least(F.col("vertex"), F.col("mn")).alias("label")
    )
    # Vertices whose edges collapsed away entirely (singleton after
    # star contraction) label themselves.
    return vertices.join(labels, "vertex", "left").select(
        "vertex", F.coalesce(F.col("label"), F.col("vertex")).alias("label")
    )
