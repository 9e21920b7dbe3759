"""Candidate-pair generation: blocked, salted, capped self-join.

Replaces the reference's O(n^2) driver-memory ``itertools.combinations``
pairing (entity_resolution.py:175-193 in vietexob/name-matching) with a
distributed blocked self-join.  A name lands in a block for each of:

* ``tok:<token>``       — every normalized token of length >= 2;
* ``sx:<soundex>``      — Spark-native ``F.soundex`` per token (JVM-side);
* ``mp:<metaphone>``    — primary + secondary simplified double-metaphone
  per token (Arrow-batched pandas UDF);
* ``lsh:<band>:<hash>`` — MinHash-LSH band keys over char-3-gram shingles,
  built entirely from native expressions (``xxhash64`` + affine rehashing +
  ``array_min``), so the whole LSH path stays in whole-stage codegen.

Scale levers (explicit per the north rule):

* **hot-block sub-blocking**: blocks larger than :data:`MAX_BLOCK` names are
  never paired quadratically — their members are re-keyed by secondary
  MinHash rows (similarity-preserving sub-blocks) and residual oversized
  sub-blocks emit linear star pairs around a hub, so hot tokens ("LLC",
  "INC") cost O(members * MAX_BLOCK) instead of quadratic OR zero recall.
* **AQE skew-join** splits residual skewed partitions at runtime (enabled in
  the session factory).
* Pair canonicalization (``name_x < name_y``) + hash-aggregate dedup keeps
  each candidate exactly once however many blocks it appears in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from name_matching_spark.functions.phonetic import metaphone_name_codes_udf

# The blocking configuration: a token keys a name (and its soundex and
# metaphone codes) when it has at least MIN_TOKEN_LEN characters, and the
# LSH keys are LSH_BANDS bands of LSH_ROWS_PER_BAND MinHash rows each.
# The stream path's token blocking applies the same MIN_TOKEN_LEN.
MIN_TOKEN_LEN = 2
LSH_BANDS = 8
LSH_ROWS_PER_BAND = 1
# The block cap: a block of up to MAX_BLOCK names pairs quadratically, a
# larger one is sub-blocked (see candidate_pairs).
MAX_BLOCK = 100

# Affine universal-hash family for MinHash (derived, fixed seed): values
# stay < 2^31 so v*a+b stays well inside int64 — ANSI-mode safe (Spark 4
# raises on long overflow instead of wrapping).
_MH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1


def _mh_constants(k: int) -> tuple[int, int]:
    a = (0x9E3779B1 * (k + 1) + 0x7F4A7C15) % _MH_PRIME
    b = (0x85EBCA6B * (k + 1) + k) % _MH_PRIME
    return (a or 1), b


def char_shingles(col: Column, n: int = 3) -> Column:
    """array<string> of char n-grams; whole string when shorter than n."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(n)),
    )


def minhash_signature(col: Column, num_hashes: int = 16, offset: int = 0) -> Column:
    """MinHash signature (array<long> Column) over char-3-gram shingles.

    h_k(s) = (a_k * x + b_k) mod p with x = xxhash64(shingle) mod p and
    p = 2^31-1: the classic universal family, overflow-free in int64.
    ``offset`` shifts the hash-family index so independent consumers (LSH
    band keys vs hot-block sub-keys) draw disjoint hash functions.
    """
    base = F.transform(char_shingles(col), lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)))
    # Single aggregate pass holding all K mins (separate array_min exprs
    # would re-inline the base array K times — no cross-expression CSE).
    consts = [_mh_constants(k + offset) for k in range(num_hashes)]
    init = F.array(*[F.lit(_MH_PRIME).cast("long")] * num_hashes)

    def step(acc, v):
        cand = F.array(*[F.pmod(v * F.lit(a) + F.lit(b), F.lit(_MH_PRIME)) for a, b in consts])
        return F.zip_with(acc, cand, lambda x, c: F.least(x, c))

    return F.aggregate(base, init, step)


def lsh_band_keys_from_sig(sig: Column) -> Column:
    """array<string> of the :data:`LSH_BANDS` band keys from a
    *materialized* signature column.  Callers must bind the signature with
    ``withColumn`` first — passing the raw expression would re-inline the
    whole MinHash aggregate once per band (CollapseProject does not
    duplicate expensive expressions referenced through a named column,
    which is exactly the behavior this two-step shape relies on)."""
    keys = []
    for b in range(LSH_BANDS):
        band = [sig[b * LSH_ROWS_PER_BAND + r] for r in range(LSH_ROWS_PER_BAND)]
        keys.append(F.concat_ws(":", F.lit(f"lsh{b}"), F.hash(*band).cast("string")))
    return F.array(*keys)


# Secondary MinHash rows per hot-block member (hash family offset 101,
# disjoint from the LSH bands): the key builder emits them as ``_ss`` and
# :func:`candidate_pairs` re-keys hot blocks by them.
SUB_ROWS = 4


def blocking_keys(names: DataFrame) -> DataFrame:
    """(key, name, _ss) rows: one per (blocking key, name) membership of
    the ``name`` column of ``names``.

    ``_ss`` is the :data:`SUB_ROWS` secondary MinHash signature the
    hot-block sub-blocking in :func:`candidate_pairs` consumes.  It is a
    pure function of the name, so computing it here (same projection,
    same pass over the shingles) costs no separate distinct + MinHash +
    join pass.

    Single-projection plan: every key family (token / soundex / metaphone
    / LSH band) is built as an ARRAY per name and deduplicated LOCALLY
    (``array_distinct``) before one explode.  A name's key set is a pure
    function of that name alone, so the per-name dedup is exactly the old
    global ``union(...).distinct()`` — minus the 4-branch re-scan of the
    input (Catalyst does not CSE across union branches) and minus the full
    exchange the global distinct cost (guide §2.4: remove shuffles
    outright).  Output verified set-identical to the union shape.  Input
    name rows are deduplicated first (name-level, far narrower than the
    old key-level distinct) so duplicate input rows keep the old
    semantics."""
    uniq = names.select("name").dropDuplicates(["name"])
    empty = F.array().cast("array<string>")
    toks = F.coalesce(
        F.filter(F.split(F.col("name"), " "), lambda t: F.length(t) >= MIN_TOKEN_LEN),
        empty,
    )
    mp = metaphone_name_codes_udf(MIN_TOKEN_LEN)(F.col("name"))
    fams = [
        F.transform(toks, lambda t: F.concat(F.lit("tok:"), t)),
        F.transform(toks, lambda t: F.concat(F.lit("sx:"), F.soundex(t))),
        F.transform(F.coalesce(mp, empty), lambda m: F.concat(F.lit("mp:"), m)),
    ]
    # signature bound as a named column so the band keys read it once
    # (see lsh_band_keys_from_sig)
    d = (
        uniq.select("name", *[f.alias(f"_f{i}") for i, f in enumerate(fams)])
        .withColumn(
            "_sig", minhash_signature(F.col("name"), LSH_BANDS * LSH_ROWS_PER_BAND)
        )
        .withColumn("_lsh", lsh_band_keys_from_sig(F.col("_sig")))
        .withColumn(
            "_ss", minhash_signature(F.col("name"), num_hashes=SUB_ROWS, offset=101)
        )
    )
    all_keys = F.concat(*[F.col(f"_f{i}") for i in range(len(fams))], F.col("_lsh"))
    return d.select(F.explode(F.array_distinct(all_keys)).alias("key"), "name", "_ss")


def materialized_blocking_keys(names: DataFrame) -> DataFrame:
    """:func:`blocking_keys` with the sub-block signature and the per-key
    ``block_size``, eagerly materialized (``localCheckpoint``).

    Every consumer references the keys table several times (both
    self-join sides + metrics), and Catalyst does not CSE across
    subplans — without materialization the metaphone UDF + MinHash
    aggregates re-execute per reference.  Compute it once and hand the
    SAME materialized frame to :func:`candidate_pairs` AND
    :func:`block_stats` (the pipeline does) so the key computation runs
    exactly once per blocking pass.  The size aggregate and its join run
    inside the one materialization job, so the pair job (hot sub-blocks
    included) starts from an already-sized, already key-partitioned
    table."""
    k = blocking_keys(names)
    sizes = k.groupBy("key").agg(F.count("*").alias("block_size"))
    return k.join(sizes, "key").localCheckpoint()


def candidate_pairs(names: DataFrame, keys: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (name_x < name_y) from the blocked self-join
    of the ``name`` column of ``names``.

    Blocks within ``[2, MAX_BLOCK]`` pair quadratically (bounded at
    MAX_BLOCK^2/2 per block).  HOT blocks (> MAX_BLOCK) are NOT dropped:
    their members are re-keyed by :data:`SUB_ROWS` secondary MinHash rows
    — similarity-preserving sub-blocks whose members pair under the same
    cap — and sub-blocks still over the cap emit linear star pairs around
    the min-name hub.  Every block's pair contribution is therefore
    O(members * MAX_BLOCK) worst case, and no key family ever silently
    contributes zero candidates.

    The key->size join and the self-join share the ``key`` partitioning, so
    Catalyst reuses the exchange; AQE handles residual skew at runtime.
    ``keys``: a pre-materialized :func:`materialized_blocking_keys` frame
    of ``names`` to reuse; raises ``ValueError`` when it lacks
    ``block_size`` or ``_ss``, and the job fails when a hot block's
    ``_ss`` holds fewer than :data:`SUB_ROWS` entries.
    """
    if keys is None:
        keys = materialized_blocking_keys(names)
    missing = [c for c in ("block_size", "_ss") if c not in keys.columns]
    if missing:
        raise ValueError(
            f"keys frame lacks column(s) {missing}: build it with "
            "materialized_blocking_keys"
        )
    ok = keys.where(
        (F.col("block_size") >= 2) & (F.col("block_size") <= MAX_BLOCK)
    ).select("key", "name")
    pairs = _join_pairs(ok)
    # Secondary MinHash rows (a hash family DISJOINT from the LSH bands):
    # a true alias pair with shingle-Jaccard J lands in the same sub-block
    # on any given row with probability J, so with r rows the pair
    # survives with 1-(1-J)^r — recall degrades gracefully instead of
    # zeroing out when a whole key family goes hot (measured 0.502
    # truth-pair recall at 100k entities when hot blocks were purged).
    # A short or NULL signature would read as NULL entries, which concat_ws
    # drops: every member of the block would share one sub-key.  Fail.
    hot = keys.where(F.col("block_size") > MAX_BLOCK).withColumn(
        "_ss",
        F.when(F.size("_ss") >= SUB_ROWS, F.col("_ss")).otherwise(
            F.raise_error(
                F.lit(f"keys frame _ss is NULL or under SUB_ROWS={SUB_ROWS} entries")
            )
        ),
    )
    sub_key = F.array(
        *[
            F.concat_ws(
                "|", F.col("key"), F.lit(str(i)), F.col("_ss")[i].cast("string")
            )
            for i in range(SUB_ROWS)
        ]
    )
    # Not materialized: each reference re-runs only a filter and an
    # explode over the checkpointed keys.  At 100k entities (3,761 hot
    # keys) materializing them cost one job and saved no time.
    sub = hot.select(F.explode(sub_key).alias("key"), "name")
    pairs = pairs.unionByName(capped_block_pairs(sub, MAX_BLOCK))
    return pairs.dropDuplicates(["name_x", "name_y"])


def capped_block_pairs(keyed: DataFrame, max_block: int) -> DataFrame:
    """Canonical (name_x < name_y) pairs from a (key, name) block table
    under a block cap, not deduplicated across blocks: a block of up to
    ``max_block`` names pairs quadratically, and a larger one (low-entropy
    mass, e.g. thousands of names sharing one dominant shingle) pairs
    each member with the block's min-name hub.  Every block costs
    O(size * max_block) pairs at most, never a quadratic and never zero
    work, and the star keeps hub-mediated transitive recall.  The hot
    sub-blocks of :func:`candidate_pairs` and the semantic channel's LSH
    buckets (``similarity_search.embedding_candidates``) apply it."""
    sizes = keyed.groupBy("key").agg(F.count("*").alias("block_size"))
    sized = keyed.join(sizes, "key")
    ok = sized.where(
        (F.col("block_size") >= 2) & (F.col("block_size") <= max_block)
    ).select("key", "name")
    hot = sized.where(F.col("block_size") > max_block).select("key", "name")
    hubs = hot.groupBy("key").agg(F.min("name").alias("hub"))
    star = (
        hot.join(hubs, "key")
        .where(F.col("name") != F.col("hub"))
        .select(F.col("hub").alias("name_x"), F.col("name").alias("name_y"))
    )
    return _join_pairs(ok).unionByName(star)


def _join_pairs(keyed: DataFrame) -> DataFrame:
    """Canonical (name_x < name_y) pairs from a (key, name) block table."""
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, "key")
        .where(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("name_x"), F.col("b.name").alias("name_y"))
    )


def block_stats(keys: DataFrame) -> DataFrame:
    """Per-key block sizes with a hot flag (size > MAX_BLOCK: the block was
    routed through MinHash sub-blocking / star capping rather than paired
    quadratically) — the lineage/metrics side output for the blocking
    stage.  ``keys`` is the :func:`materialized_blocking_keys` frame that
    :func:`candidate_pairs` paired, so the metrics pass does not recompute
    the metaphone + MinHash key table."""
    return keys.groupBy("key").agg(
        F.count("*").alias("block_size"),
        (F.count("*") > MAX_BLOCK).alias("hot"),
    )
