"""Deduplication operators.

``deduplicate`` ports the generic helper the reference applies in every
silver transform (``/root/reference/src/utils/common_functions.py:15-34``,
used at ``src/silver/transform_customers.py:49-59``,
``transform_support_tickets.py:63-73``).

The fuzzy/near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) is the
beyond-reference training-data-pipeline surface: everything is built
from Spark built-ins (md5 bit math, higher-order array functions,
explode + group-join) so the hot path stays in the JVM — no Python
UDFs.

MinHash signatures support two injectable HASH SCHEMES over the same
pipeline shape (signature -> bands -> bucket join -> exact verify):

* ``scheme="fast"`` (production default): xxhash64-based. One xxhash64
  per shingle per half (two seeds), folded to 56 bits so the
  Kirsch-Mitzenmacher combination h1 + k*h2 (k < 16) never overflows
  int64 under ANSI mode; band keys hash the signature slice directly
  with multi-arg xxhash64 (no string materialization). ~4x cheaper per
  shingle than md5 — at 100 TB the signature pass dominates dedup
  cost, so this is the default.
* ``scheme="portable"`` (oracle mode): ONE md5 per shingle split into
  two 56-bit halves. DuckDB reproduces the exact same int64 values via
  ``('0x'||substr(md5(s),1,14))::BIGINT`` — the whole LSH pipeline
  gains an exact SQL oracle, at the md5 CPU tax. The correctness-gate
  catalog queries (q32/q44) run this scheme; everything else defaults
  to fast.

Both schemes produce the same PIPELINE (only the hash family differs):
plan shape, shuffle structure, and exact-verification soundness are
scheme-independent, so neither scheme can emit a false positive. LSH
RECALL on borderline-similarity pairs is hash-dependent (with one
(h1,h2) pair per shingle the Kirsch-Mitzenmacher seeds are correlated,
so which candidates a band surfaces varies by hash family — inherent
to KM-minhash, not a scheme defect); ``tests/test_dedup_schemes.py``
pins soundness under both schemes plus full recall of the unambiguous
duplicate cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SCHEMES = ("fast", "portable")


def _check_scheme(scheme: str) -> None:
    if scheme not in SCHEMES:
        raise ValueError(f"unknown hash scheme {scheme!r}; use one of {SCHEMES}")


def deduplicate(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """Keep exactly one row per key, latest-first by ``order_by``
    (row_number window, W1). One shuffle on the dedup key."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (hash-aggregate distinct)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


# ---------------------------------------------------------------------------
# fuzzy dedup building blocks
# ---------------------------------------------------------------------------


def tokenize(text: Column) -> Column:
    """Whitespace tokenization with lowercase normalization."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles via higher-order functions (JVM-side)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))
    )


def portable_hash56(s: Column) -> Column:
    """56-bit md5-derived hash, bit-identical across Spark and DuckDB
    (``('0x'||substr(md5(s),1,14))::BIGINT`` on the DuckDB side)."""
    return F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long")


def portable_hash_pairs(shingle_col: Column) -> Column:
    """Per-shingle ``struct<h1,h2>`` of the two md5 56-bit halves —
    the double-hashing basis for all portable MinHash seeds. Alias the
    result in a projection before fanning out per-seed mins so the md5
    evaluates once per shingle, not once per seed."""
    return F.transform(
        shingle_col,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 14), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5(s), 17, 14), 16, 10)
            .cast("long")
            .alias("h2"),
        ),
    )


def fast_hash56(s: Column) -> Column:
    """56-bit xxhash64-derived hash (production scheme): top 8 bits
    dropped so downstream h1 + k*h2 arithmetic stays in int64."""
    return F.shiftrightunsigned(F.xxhash64(s), 8)


def fast_hash_pairs(shingle_col: Column) -> Column:
    """Per-shingle ``struct<h1,h2>`` from two xxhash64 seeds (the
    second seed = hashing the shingle together with a constant column),
    each folded to 56 bits. Same double-hashing contract as
    ``portable_hash_pairs`` at ~1/4 the per-shingle CPU."""
    return F.transform(
        shingle_col,
        lambda s: F.struct(
            F.shiftrightunsigned(F.xxhash64(s), 8).alias("h1"),
            F.shiftrightunsigned(F.xxhash64(s, F.lit(1)), 8).alias("h2"),
        ),
    )


def hash_pairs(shingle_col: Column, scheme: str = "fast") -> Column:
    """Scheme-dispatching double-hash pairs (see module docstring)."""
    _check_scheme(scheme)
    if scheme == "portable":
        return portable_hash_pairs(shingle_col)
    return fast_hash_pairs(shingle_col)


def shingle_hash(s: Column, scheme: str = "fast") -> Column:
    """Scheme-dispatching scalar shingle hash (Jaccard set elements)."""
    _check_scheme(scheme)
    return portable_hash56(s) if scheme == "portable" else fast_hash56(s)


def minhash_sig_array(hp: Column, num_hashes: int) -> Column:
    """All ``num_hashes`` seeded minhashes (seed k: min over shingles of
    h1 + k*h2, duplicate shingles can't change the min) in ONE traversal
    of the hash-pair array: an aggregate whose accumulator carries the
    ``num_hashes`` running minimums (zip_with against a literal seed
    array), instead of ``num_hashes`` separate array_min(transform(...))
    passes. Identical int64 values (min over the same multiset —
    A/B'd mismatch-free on the full fixture corpus) at ~20-25% less
    signature-derivation CPU and a far smaller generated code unit.
    NULL/empty ``hp`` and all-NULL pair elements yield NULL signature
    slots, exactly like the per-seed array_min form (``least`` skips
    NULLs, so a slot still at the init sentinel had no non-null
    contribution — a true min is strictly below it). The init
    ``num_hashes << 56`` exceeds any h1 + k*h2 < num_hashes * 2^56
    (56-bit halves, k < num_hashes) and overflows int64 past
    num_hashes = 127, so larger values raise ``ValueError``.
    """
    if num_hashes > 127:
        raise ValueError(f"num_hashes must be at most 127, got {num_hashes}")
    init_val = num_hashes << 56
    seeds = F.array(*[F.lit(k).cast("long") for k in range(num_hashes)])
    nulls = F.array(
        *[F.lit(None).cast("long") for _ in range(num_hashes)]
    )
    agg = F.aggregate(
        hp,
        F.array_repeat(F.lit(init_val).cast("long"), num_hashes),
        lambda acc, p: F.zip_with(
            acc, seeds, lambda a, s: F.least(a, p["h1"] + s * p["h2"])
        ),
    )
    agg = F.transform(
        agg,
        lambda v: F.when(v == init_val, F.lit(None).cast("long")).otherwise(v),
    )
    return F.when(F.size(hp) > 0, agg).otherwise(nulls)


def portable_band_hash(sig: Column, band: int, rows_per_band: int) -> Column:
    """Bucket key for one LSH band: md5 of the comma-joined signature
    slice, folded to 56 bits (identical ``CAST(s AS VARCHAR)`` decimal
    rendering in both engines)."""
    joined = F.concat_ws(
        ",",
        *[
            sig[i].cast("string")
            for i in range(band * rows_per_band, (band + 1) * rows_per_band)
        ],
    )
    return portable_hash56(joined)


def band_hash(
    sig: Column, band: int, rows_per_band: int, scheme: str = "fast"
) -> Column:
    """Scheme-dispatching LSH band bucket key. The fast path feeds the
    signature slice straight into multi-arg xxhash64 — no string
    materialization at all; portable goes through the md5-of-CSV form
    DuckDB can mirror."""
    _check_scheme(scheme)
    if scheme == "portable":
        return portable_band_hash(sig, band, rows_per_band)
    return F.xxhash64(
        *[sig[i] for i in range(band * rows_per_band, (band + 1) * rows_per_band)]
    )


def minhash_signature(
    shingle_col: Column, num_hashes: int = 16, scheme: str = "fast"
) -> Column:
    """MinHash signature: for seed k, min over shingles of the scheme's
    double hash h1 + k*h2. Arrays stay JVM-side; no UDFs; all seeds in
    one traversal (``minhash_sig_array``)."""
    hp = hash_pairs(shingle_col, scheme)
    return minhash_sig_array(hp, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    scheme: str = "fast",
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH.

    Pipeline: shingle -> minhash signature -> split into ``bands``
    bands -> hash each band -> self-join on (band_idx, band_hash).
    Scale: the self-join shuffles on the band hash, so only documents
    sharing a band collide; with b bands of r rows the collision
    probability is 1-(1-s^r)^b for Jaccard similarity s. Returns
    distinct (id_a, id_b) with id_a < id_b.
    """
    _check_scheme(scheme)
    rows_per_band = num_hashes // bands
    base = df.select(
        F.col(id_col).alias("doc_id"),
        # alias barrier: the shingle hash runs once, reused by all seeds
        hash_pairs(
            shingles(tokenize(F.col(text_col)), shingle_n), scheme
        ).alias("hp"),
    )
    sig = base.select(
        "doc_id",
        minhash_sig_array(F.col("hp"), num_hashes).alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    band_hash(F.col("sig"), b, rows_per_band, scheme)
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    scheme: str = "fast",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (the verify
    stage after LSH): join shingle sets back and compute
    |A∩B| / |A∪B| with array built-ins. Shingles are represented by
    their portable 56-bit md5 hash — 8-byte array elements instead of
    strings makes the per-pair intersect ~10x cheaper; set counts are
    unchanged barring a 2^-56-scale hash collision (and the DuckDB
    oracle runs the identical hash, so even a collision matches)."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(
                shingles(tokenize(F.col(text_col)), shingle_n),
                lambda s: shingle_hash(s, scheme),
            )
        ).alias("sh"),
    )
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return out.select(
        "id_a",
        "id_b",
        (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
            "jaccard"
        ),
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    scheme: str = "fast",
) -> DataFrame:
    """Persistent MinHash-LSH bucket index: one row per (band_idx,
    band_hash, doc_id) carrying the doc's distinct-shingle hash set.

    This is the corpus-side artifact for INCREMENTAL dedup at scale:
    derive once, write to a lake table partitioned/bucketed on
    (band_idx, band_hash), and every future batch probes it without
    re-tokenizing a single corpus document. b bands ⇒ the index is b×
    the corpus row count with a ~1 KB payload per row.
    """
    _check_scheme(scheme)
    rows_per_band = num_hashes // bands
    base = df.select(
        F.col(id_col).alias("doc_id"),
        # alias barrier: the shingle hash runs once, reused by the
        # Jaccard set, every seed's min, and the band hashes
        hash_pairs(
            shingles(tokenize(F.col(text_col)), shingle_n), scheme
        ).alias("hp"),
    )
    sig = base.select(
        "doc_id",
        F.array_distinct(
            F.transform(F.col("hp"), lambda p: p["h1"])
        ).alias("sh"),
        minhash_sig_array(F.col("hp"), num_hashes).alias("sig"),
    )
    return sig.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    band_hash(F.col("sig"), b, rows_per_band, scheme)
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    ).select("band_idx", "band_hash", "doc_id", "sh")


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    batch_index: DataFrame | None = None,
    scheme: str = "fast",
) -> DataFrame:
    """Near-dup pairs introduced by a NEW batch against an indexed
    corpus (``minhash_index`` output) plus within the batch itself —
    without re-pairing or re-deriving the corpus.

    This is the steady-state 100 TB dedup pattern: the quadratic
    full-corpus pass (q30/q32) runs once to bootstrap; every
    subsequent ingest pays O(batch) derivation + a bucket probe.
    The batch side (bands + payload) broadcasts — a daily batch is
    tiny next to the corpus — so the probe is a map-side hash join
    against the index scan with NO corpus shuffle; the exact-Jaccard
    verify runs in the same map stage and only verified pairs leave.

    Returns (id_a, id_b, jaccard) with id_a < id_b, at least one side
    a new document; jaccard >= threshold.
    """
    # The batch index feeds THREE consumers in one plan (the broadcast
    # probe, the within-batch bucket pass, and pair dedup); without a
    # materialization barrier Spark re-derives the signatures once per
    # consumer. The batch side is O(|batch|) by contract, so a
    # localCheckpoint is a bounded executor-memory cost that removes
    # two full re-derivations. LAZY: the broadcast build is the first
    # consumer and materializes the blocks in its own job — an eager
    # checkpoint would spend one extra pass over the batch derivation
    # just to populate the cache (guide §1.2: don't compute things
    # twice).
    new_idx = (
        batch_index
        if batch_index is not None
        else minhash_index(
            new_docs, id_col, text_col, num_hashes, bands, shingle_n, scheme
        ).localCheckpoint(eager=False)
    )

    def _jac(sa: Column, sb: Column) -> Column:
        ni = F.size(F.array_intersect(sa, sb))
        nu = F.size(sa) + F.size(sb) - ni
        return ni.cast("double") / F.greatest(nu, F.lit(1)).cast("double")

    probe = F.broadcast(
        new_idx.select(
            "band_idx",
            "band_hash",
            F.col("doc_id").alias("new_id"),
            F.col("sh").alias("new_sh"),
        )
    )
    jac = _jac(F.col("sh"), F.col("new_sh"))
    cross = (
        index.join(probe, ["band_idx", "band_hash"])
        .filter(F.col("doc_id") != F.col("new_id"))
        # verify in the probe's map stage; only survivors shuffle into
        # the pair dedup
        .filter(jac >= threshold)
        .select(
            F.least("doc_id", "new_id").alias("id_a"),
            F.greatest("doc_id", "new_id").alias("id_b"),
            jac.alias("jaccard"),
        )
    )
    within = (
        new_idx.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    n = F.size("ds")
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.filter(
                    F.slice("ds", i + F.lit(2), n),
                    lambda y: _jac(x["sh"], y["sh"]) >= threshold,
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    _jac(x["sh"], y["sh"]).alias("jaccard"),
                ),
            ),
        )
    )
    within_pairs = within.select(F.explode(pair_structs).alias("p")).select("p.*")
    return cross.unionByName(within_pairs).dropDuplicates(["id_a", "id_b"])


def minhash_index_write(
    spark,
    docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    scheme: str = "fast",
):
    """Materialize ``minhash_index`` as a lake table range-clustered on
    ``band_hash`` (OPTIMIZE sort-cluster), so every file covers a
    narrow, disjoint hash interval and footer stats make index probes
    stab O(|batch|) files instead of scanning the corpus index.

    LSH parameters are recorded as table properties; ``minhash_index_probe``
    reads them back so index and probe can never silently disagree.
    """
    from ..tables import LakeTable

    idx = minhash_index(
        docs, id_col, text_col, num_hashes, bands, shingle_n, scheme
    )
    table = LakeTable.create(
        spark,
        path,
        df=idx,
        properties={
            "minhash.num_hashes": num_hashes,
            "minhash.bands": bands,
            "minhash.shingle_n": shingle_n,
            "minhash.scheme": scheme,
        },
    )
    table.optimize(zorder_by=["band_hash"])
    return table


def minhash_index_probe(
    table,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a persisted MinHash index (``minhash_index_write``) with a
    new ingest batch: derive the batch's band hashes once, data-skip
    the index to just the files whose [min, max] band_hash interval
    contains a probe hash (``LakeTable.read_in``), and run the
    broadcast verify join against that pruned scan.

    Cost at steady state: O(batch) signature derivation + one driver
    collect of the batch's distinct band hashes (|batch| x bands
    longs) + a scan of the stabbed files only. The corpus is never
    re-tokenized and never shuffled.
    """
    props = table.properties()
    num_hashes = int(props.get("minhash.num_hashes", 16))
    bands = int(props.get("minhash.bands", 4))
    shingle_n = int(props.get("minhash.shingle_n", 3))
    scheme = str(props.get("minhash.scheme", "fast"))
    new_idx = minhash_index(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n, scheme
    ).localCheckpoint(eager=False)  # derive once (lazy: the hash
    # collect below materializes the blocks in its own job; the probe
    # then reads them — an eager checkpoint would pay one extra pass)
    hashes = [r[0] for r in new_idx.select("band_hash").distinct().collect()]
    # prune_only: the probe join on (band_idx, band_hash) re-applies the
    # equality exactly, so the residual InSet filter would be pure waste
    pruned = table.read_in("band_hash", hashes, prune_only=True)
    return incremental_near_dup_pairs(
        new_docs,
        pruned,
        id_col,
        text_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        batch_index=new_idx,
        scheme=scheme,
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash document fingerprint: sign-sum of per-token hash bits.

    JVM-only formulation: per token t, xxhash64(t) gives 64 bits; for
    each bit position the fingerprint bit is 1 when more tokens set it
    than clear it. Near-dups then differ in few bits (hamming).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fingerprint = sum(
        (
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") << i).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return bit_sums.select("doc_id", fingerprint.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark >= 3.3)."""
    return F.bit_count(a.bitwiseXOR(b))
