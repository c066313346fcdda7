"""Deduplication operators (training-data pipeline, first-class at 100 TB).

- exact: md5-hash groupBy (one shuffle on the hash; map-side combine).
- minhash + LSH: shingle -> minhash signature -> band buckets -> self-join
  within buckets only. The band join is an equi-join on (band, bucket-hash),
  so candidate generation never goes quadratic; at scale the bucket join is
  a plain shuffled equi-join with AQE skew handling.
- simhash: 64-bit simhash from token hashes; near-dup = hamming distance
  <= k within simhash-prefix buckets.

Hashing uses xxhash64/md5 built-ins — JVM-side, deterministic across runs
and cluster sizes. MinHash permutations are the standard ``(a*h + b) mod p``
universal-hash family with fixed seeds, computed with Spark ``transform``
higher-order functions (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

# 2^31 - 1 (Mersenne prime). Keeping hashes below 2^31 means the universal
# hash `a*h + b mod p` never exceeds 2^62 — safe under ANSI-mode long
# arithmetic (no overflow) while keeping minhash collision odds ~1/2^31.
_MERSENNE_P = (1 << 31) - 1


def md5_long(col: F.Column, nchars: int = 15) -> F.Column:
    """Engine-portable bigint hash: the first ``nchars`` hex chars of md5
    read as a base-16 integer. Bit-identical in any engine with a standard
    md5 (DuckDB twin: ``('0x' || substr(md5(x),1,nchars))::BIGINT``), which
    is what makes the ``portable=True`` minhash/simhash paths fully
    oracle-checkable. ``nchars<=15`` (60 bits) keeps the value positive and
    inside a signed bigint everywhere. md5 costs ~3-4x xxhash64 per call,
    so the xxhash64 paths stay the at-scale default."""
    return F.conv(F.substring(F.md5(col), 1, nchars), 16, 10).cast("long")


def _md5_long_sql(expr: str, nchars: int) -> str:
    """``md5_long`` as a SQL expression string (same expression tree)."""
    return f"CAST(conv(substring(md5({expr}), 1, {nchars}), 16, 10) AS BIGINT)"


def with_content_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dup key: md5 of whitespace-normalized lowercased text."""
    return df.withColumn(
        "content_hash",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))),
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates: (content_hash, keep_id, dup_count), count>1."""
    return (
        with_content_hash(df, text_col)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id row per content hash (deterministic survivor)."""
    hashed = with_content_hash(df, text_col)
    keep = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return hashed.join(keep, on=["content_hash", id_col], how="inner").drop("content_hash")


def shingles_of(toks: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingle array (distinct) from a *materialized* token
    array column.

    IMPORTANT: ``toks`` must be an attribute (a real column produced by a
    previous projection), not an inline ``split(...)`` expression — outer
    expressions referenced inside higher-order-function lambdas are
    re-evaluated per element, so an inlined split would re-tokenize the
    document once per shingle term (measured 10x slowdown). Use
    ``with_shingles`` which stages the projections correctly.
    """
    k = F.size(toks) - (n - 1)
    # sequence is empty when k <= 0
    idx = F.sequence(F.lit(0), k - 1)
    shingle_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
    )
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(idx, shingle_at))
    )


def with_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, _shingles) with tokenization staged as its own projection (the
    split runs once per document; CollapseProject's cost guard keeps the
    non-cheap split from being inlined into the shingle lambda).

    If the source has fewer partitions than the cluster has slots (tiny
    file, single row group), repartition first — shingling is CPU-bound and
    would otherwise run on one core. At real scale the input already has
    more partitions than cores and this is a no-op.
    """
    return _shingle_stage(_widen(df, id_col), id_col, text_col, n)


def _widen(df: DataFrame, id_col: str, probe: DataFrame | None = None) -> DataFrame:
    """``df`` hash-repartitioned on ``id_col`` over the cluster's task slots
    when ``probe`` (default ``df``) has fewer partitions than that.

    Counting partitions costs planning only on a plain scan, but on a frame
    with an exchange AQE runs the query stages to answer, so callers probe
    the scan they started from.  ``.rdd`` is illegal on a streaming frame
    (streaming minhash path); a stream's micro-batch parallelism is the
    source's, so it is never widened.
    """
    probe = df if probe is None else probe
    target = df.sparkSession.sparkContext.defaultParallelism
    if probe.isStreaming or probe.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(id_col))


def _shingle_stage(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    toked = df.select(id_col, tokens(F.lower(F.col(text_col))).alias("_toks"))
    return toked.select(id_col, shingles_of(F.col("_toks"), n).alias("_shingles"))


def _explode_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, _sh) — one row per shingle.

    Uses ``explode_outer`` + an explicit null filter instead of ``explode``:
    ``InferFiltersFromGenerate`` rewrites plain explode into a pre-filter on
    ``size(<generator expr>)`` which predicate pushdown then inlines through
    the staged projections — re-evaluating the whole shingle pipeline per
    row in interpreted mode (measured ~10x). ``explode_outer`` is exempt
    from that rule; the null filter runs on the generated attribute.
    """
    return (
        with_shingles(df, id_col, text_col, n)
        .select(id_col, F.explode_outer("_shingles").alias("_sh"))
        .filter(F.col("_sh").isNotNull())
    )


def shingles(text_col: str, n: int = 3):
    """Inline-expression variant (convenience for tiny frames/tests); see
    ``with_shingles`` for the staged formulation used in pipelines."""
    return shingles_of(tokens(F.lower(F.col(text_col))), n)


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed pseudo-random universal-hash parameters (deterministic; a != 0)."""
    return [
        (
            (2 * i + 1) * 0x9E3779B97F4A7C15 % _MERSENNE_P or 1,
            (i * 0xC2B2AE3D27D4EB4F + 1) % _MERSENNE_P,
        )
        for i in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, signature: array<bigint>) — minhash over word shingles.

    Shape chosen for scale: explode shingles -> one xxhash64 per shingle ->
    ``num_hashes`` cheap modmuls per row -> groupBy(id).agg(min x N). The
    per-shingle hash is computed exactly once (the naive
    array+transform formulation recomputes the whole shingle array once per
    permutation after projection collapse), and the groupBy gets full
    map-side combine, so the shuffle carries one num_hashes-wide row per
    document.

    Documents with no shingles (fewer than ``shingle_n`` tokens) produce no
    signature row — they can have no LSH candidates.

    ``portable=True`` swaps the per-shingle xxhash64 for the md5-derived
    ``md5_long`` so the whole signature is reproducible in any engine
    (DuckDB oracle parity); the xxhash64 default stays the scale path
    (cheaper hash, same algorithm — both modes share the planted-recall
    unit tests).

    The hash and the ``num_hashes`` minima are SQL strings the JVM parses
    in one call each: built from ``F.*`` Columns, every node of every
    minimum was a py4j round trip of its own on every build.
    """
    exploded = _explode_shingles(df, id_col, text_col, shingle_n)
    sh_hash = _md5_long_sql("_sh", 8) if portable else "xxhash64(_sh)"
    hashed = exploded.select(id_col, F.expr(f"pmod({sh_hash}, {_MERSENNE_P}) AS _h"))
    minima = ", ".join(
        f"min(pmod(_h * {a} + {b}, {_MERSENNE_P}))"
        for a, b in _hash_params(num_hashes)
    )
    return hashed.groupBy(id_col).agg(F.expr(f"array({minima}) AS signature"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: (id_a, id_b) with id_a < id_b.

    Band i hashes signature[i*r:(i+1)*r] into a bucket key; docs sharing any
    (band, bucket) are candidates. The self-join is an equi-join on the
    bucket key — linear in bucket sizes, never all-pairs.

    ``portable=True`` derives the bucket from md5 of the comma-joined band
    slice (still an 8-byte bigint key) and a portable signature, making the
    entire candidate set reproducible in DuckDB for oracle checking.

    ``sig``: optionally pass a PRECOMPUTED (ideally materialized)
    ``minhash_signature`` frame with matching ``num_hashes``/``portable``
    settings, so callers that also consume the signatures directly (e.g.
    the estimator-accuracy QA) derive the shingle->minhash stage once
    instead of twice.
    """
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_n, portable)
    # Bucket key is a single 8-byte long (vs a 32-char md5 hex string) —
    # cheaper to compute and a 4x narrower shuffle/join key. A 64-bit (or
    # 60-bit portable) collision only creates a spurious candidate, which
    # the exact-Jaccard verify then rejects.
    # Built as one SQL string for the same reason as the signature minima.
    def _bucket(b: int) -> str:
        cols = [f"signature[{b * rows_per_band + r}]" for r in range(rows_per_band)]
        if portable:
            joined = ", ".join(f"CAST({c} AS STRING)" for c in cols)
            return _md5_long_sql(f"concat_ws(',', {joined})", 15)
        return f"xxhash64({', '.join(cols)})"

    band_structs = ", ".join(
        f"struct({b} AS band, {_bucket(b)} AS bucket)" for b in range(bands)
    )
    buckets = sig.select(id_col, F.expr(f"explode(array({band_structs})) AS bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard similarity."""
    sh = with_shingles(df, id_col, text_col, shingle_n).withColumnRenamed(
        "_shingles", "sh"
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify_counts(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with EXACT Jaccard via integer co-occurrence
    counts — the scale replacement for ``jaccard_pairs``'s array-carrying
    join (which re-scans ~|A|+|B| strings per candidate through
    ``array_intersect``/``array_union``; measured 15s of an 18s edge build
    at sf0.1 in ``exact_jaccard_edges``).

    Shape: semi-join the shingle stage down to documents that appear in any
    candidate pair, explode once, then two equi-joins — (pairs ⋈ ex_a on
    id_a) ⋈ ex_b on (id_b, shingle) — whose row count IS |A ∩ B| per pair.
    Since shingle arrays are distinct sets, jaccard = c / (|A| + |B| - c)
    exactly; identical output to ``jaccard_pairs`` for threshold > 0
    (zero-intersection candidates have jaccard 0 and are filtered either
    way). All joins are equi-joins on scalar keys; no arrays cross a
    shuffle."""
    assert threshold > 0.0, "inner-join verify drops jaccard-0 pairs"
    # Both checkpoints below stay eager although they run Spark jobs on
    # every build: without them minhash_lsh_pairs builds ~1.2 s faster but
    # executes as one plan in 5.4-6.7 s, against 0.3-0.4 s after the
    # checkpoints (sf0.01 fixture, 4 cores).
    #
    # The candidate DAG (often a full LSH pipeline) is referenced twice
    # below (id semi-join + intersection join) — materialize it once.
    # Candidate pairs are tiny relative to the corpus by construction.
    pairs = pairs.localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Semi-join the RAW docs down to candidate ids BEFORE the shingle
    # projection: a projection-then-join order would evaluate the CPU-heavy
    # shingle expression for every corpus row only to drop most of them
    # (Catalyst keeps the written project/join order here since _shingles
    # is referenced above the join).  Then materialize the shingle stage
    # once: it feeds the explode (both pair sides) and the size lookup.
    # At 100 TB this is persist(DISK_ONLY) or a staged table.  Whether to
    # widen is read off the raw input: asking the semi-joined frame would
    # run its broadcast join under AQE just to count partitions.
    cand = _widen(df.join(F.broadcast(ids), id_col, "left_semi"), id_col, probe=df)
    sh = _shingle_stage(cand, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    ex = sh.select(F.col(id_col), F.explode("_shingles").alias("_s"))
    inter = (
        pairs.join(ex.select(F.col(id_col).alias("id_a"), "_s"), "id_a")
        .join(ex.select(F.col(id_col).alias("id_b"), "_s"), ["id_b", "_s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_c"))
    )
    sizes = sh.select(F.col(id_col), F.size("_shingles").alias("_sz"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    jac = F.col("_c").cast("double") / (
        F.col("_sza") + F.col("_szb") - F.col("_c")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(text_col: str = "text", shingle_n: int = 2) -> F.Column:
    """64-bit SimHash over word shingles, as a single column expression.

    For each of the 64 bits, sum +-1 weighted by shingle-hash bit; the final
    bit is sign(sum). Implemented with aggregate() over the shingle array —
    JVM-side, no UDF.
    """
    sh = shingles(text_col, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    bit_cols = []
    def _merge(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask).cast("long")) != 0, 1
        ).otherwise(-1)

    for bit in range(64):
        # Java longs are signed: bit 63's mask is Long.MIN_VALUE.
        mask = (1 << bit) if bit < 63 else -(1 << 63)
        contrib = F.aggregate(hashes, F.lit(0).cast("long"), _merge(mask))
        bit_cols.append(
            F.when(contrib > 0, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total.bitwiseOR(c)
    return total


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash: bigint) — the scale formulation of ``simhash64``.

    Explode shingles -> one xxhash64 per shingle -> 64 per-bit +-1 sums in a
    single groupBy (map-side combine) -> reassemble the sign bits. The
    column-expression variant (``simhash64``) nests 64 aggregate() calls and
    pays a large codegen cost; this shape is linear work per shingle and one
    narrow shuffle row per document. Documents with no shingles get simhash 0.

    ``portable=True`` is a 60-bit SimHash over the md5-derived
    ``md5_long`` shingle hash (bits 0..59, all values positive): every
    operation — hash, bit tests, reassembly, xor/bit_count hamming — is
    then reproducible in DuckDB, so the signatures and near-pair results
    are oracle-checkable. 60 vs 64 bits costs <7% hamming resolution; the
    banding pigeonhole (4 bands, hamming<=3) is unchanged.
    """
    nbits = 60 if portable else 64
    exploded = _explode_shingles(df, id_col, text_col, shingle_n)
    sh_hash = md5_long(F.col("_sh"), 15) if portable else F.xxhash64("_sh")
    hashed = exploded.select(id_col, sh_hash.alias("_h"))
    aggs = []
    for bit in range(nbits):
        mask = (1 << bit) if bit < 63 else -(1 << 63)
        aggs.append(
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(mask).cast("long")) != 0, 1)
                .otherwise(-1)
            ).alias(f"_b{bit}")
        )
    summed = hashed.groupBy(id_col).agg(*aggs)
    total = F.lit(0).cast("long")
    for bit in range(nbits):
        mask = (1 << bit) if bit < 63 else -(1 << 63)
        total = total.bitwiseOR(
            F.when(F.col(f"_b{bit}") > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sigs = summed.select(id_col, total.alias("simhash"))
    ids = df.select(id_col)
    return ids.join(sigs, id_col, "left").fillna({"simhash": 0})


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 2,
    prefix_bits: int = 16,
    portable: bool = False,
    strict_recall: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of 4 16-bit bands (two docs
    within hamming distance 3 of each other share at least one identical
    band by pigeonhole), then verify exact hamming distance via bit_count.
    Candidate generation is equi-join on (band_index, band_value) — never
    all-pairs.

    ``portable=True`` uses the 60-bit portable signature with 4 bands of
    15 bits (same pigeonhole guarantee at hamming<=3) so the pair set is
    DuckDB-reproducible.

    ``strict_recall=True`` (default) raises when the (signature bits,
    prefix_bits, max_hamming) combination cannot give the pigeonhole
    guarantee; pass ``strict_recall=False`` to knowingly run band blocking
    as a recall heuristic above the guaranteed radius."""
    if portable and prefix_bits == 16:
        prefix_bits = 15
    sigs = simhash_signatures(df, id_col, text_col, shingle_n, portable)
    sig_bits = 60 if portable else 64
    n_bands = sig_bits // prefix_bits
    if strict_recall and n_bands < max_hamming + 1:
        # Pigeonhole recall needs at least max_hamming+1 bands: with fewer,
        # a pair at distance max_hamming can differ in EVERY band and the
        # blocking join silently misses it (ADVICE r4: an explicit
        # prefix_bits=20 with portable=True yielded 3 bands for hamming<=3).
        raise ValueError(
            f"simhash_near_pairs: {sig_bits}-bit signature / prefix_bits="
            f"{prefix_bits} gives {n_bands} bands, but max_hamming="
            f"{max_hamming} needs >= {max_hamming + 1} bands for the "
            "pigeonhole recall guarantee — lower prefix_bits/max_hamming "
            "or pass strict_recall=False to run it as a heuristic"
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * prefix_bits)
                .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                .alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    keyed = sigs.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(b, on=["band", "bval"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def exact_jaccard_edges(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT near-duplicate edges (id_a < id_b, jaccard >= threshold) via
    inverted-index blocking: explode distinct shingles, equi-join on the
    shingle (any qualifying pair must share one — no false negatives,
    unlike banded LSH), then verify candidates with the exact set Jaccard.

    Scale shape: the shingle join is an equi shuffle join; hot shingles
    (stop-phrases) skew it — at 100 TB drop shingles above a document-
    frequency cap first (they cannot discriminate near-dups anyway), or
    fall back to ``lsh_candidate_pairs`` when approximate recall is
    acceptable. Jaccard arithmetic is integer-count division — exact and
    engine-portable."""
    # No size()>0 pre-filter: a filter on the computed _shingles column is
    # pushed below the projection and re-evaluates the whole shingle
    # expression per row in interpreted mode (measured 0.4s -> 11s at
    # sf0.1); empty arrays simply produce no exploded rows, so the filter
    # is redundant anyway. The shingle stage is the CPU-heavy part and
    # this DAG references it three times (both sides of the co-occurrence
    # self-join + sizes) — materialize it once. At 100 TB this is
    # persist(DISK_ONLY) or a staged table.
    sh = with_shingles(df, id_col=id_col, text_col=text_col, n=n).localCheckpoint(
        eager=True
    )
    # Shingle arrays are DISTINCT sets, so the number of co-occurring
    # (id_a, id_b, shingle) rows in the inverted-index self-join IS
    # |A ∩ B| — Jaccard follows from integer counts alone:
    # j = c / (|A| + |B| - c). No array-carrying verify join (the naive
    # array_intersect/array_union pass re-scans ~|A|+|B| strings per
    # candidate pair — measured 15s of an 18s edge build at sf0.1).
    ex = sh.select(F.col(id_col), F.explode("_shingles").alias("_s"))
    shared = (
        ex.alias("a")
        .join(ex.alias("b"), "_s")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("_c"))
    )
    sizes = sh.select(F.col(id_col), F.size("_shingles").alias("_sz"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    jac = F.col("_c").cast("double") / (
        F.col("_sza") + F.col("_szb") - F.col("_c")
    ).cast("double")
    return (
        shared.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Each node starts labeled with its own id; every superstep sends labels
    across edges (both directions) and keeps the per-node minimum,
    converging in <= diameter supersteps. ``localCheckpoint`` truncates
    the growing lineage each round (the standard Pregel-on-DataFrames
    shape; GraphX/GraphFrames do the same supersteps). Returns
    (node, component) where component = min node id in the component.

    The convergence check is one count() action per superstep — O(diameter)
    driver round-trips, NOT a per-row driver loop; at 100 TB use the
    large-star/small-star variant to cut supersteps on high-diameter
    graphs."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    und = und.localCheckpoint(eager=True)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    # Convergence check as a MONOTONE CHECKSUM instead of a per-superstep
    # join+count job (optimization r13, guide §2.4): min-label propagation
    # only ever DECREASES a node's label, so sum(component) over the fixed
    # node set strictly decreases iff any label changed — one 1-row
    # aggregate over the just-checkpointed frame replaces the
    # labels⋈labels comparison join every superstep.  decimal(38,0) keeps
    # the sum exact for any realistic id domain (no int64 wrap collisions).
    def _chk(frame) -> object:
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_chk: object = None  # first superstep always runs (and on any
    # edgeful graph always changes at least one label)
    for _ in range(max_iter):
        msgs = und.join(labels, und.a == labels.node).select(
            F.col("b").alias("node"), "component"
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_chk = _chk(new_labels)
        labels = new_labels
        if prev_chk is not None and new_chk == prev_chk:
            break
        prev_chk = new_chk
    return labels


# ---------------------------------------------------------------------------
# Segment-level dedup (aligned k-token spans) — passage-granular dedup for
# corpora without paragraph structure. A document's text is cut into
# consecutive k-token segments (non-overlapping, so each token belongs to
# exactly one segment and the segment count is len/k, not len like sliding
# shingles); shared segments across documents mark copied passages.
# ---------------------------------------------------------------------------


def doc_segments(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 10
) -> DataFrame:
    """(id, _seg): the distinct aligned k-token segments of each document.

    Same staging discipline as the shingle pipeline: tokenization is its
    own projection (runs once per doc), the generator is explode_outer so
    InferFiltersFromGenerate cannot clone the expensive expression into a
    pre-filter, and the trailing partial segment is kept (both engines'
    slice clips at the array end).
    """
    toked = _widen(df, id_col).select(
        id_col, tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    n_segs = F.ceil(F.size("_toks") / k).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("_toks"), i * k + 1, k), " "
    )
    segs = F.when(F.size("_toks") == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(0), n_segs - 1), seg_at))
    )
    return (
        toked.select(id_col, segs.alias("_segs"))
        .select(id_col, F.explode_outer("_segs").alias("_seg"))
        .filter(F.col("_seg").isNotNull())
    )


def segment_containment(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 10
) -> DataFrame:
    """Per-document containment report: what fraction of the doc's segments
    also appear in at least one OTHER document.

    Scale shape: segments collapse to 64-bit hashes before any join; the
    global per-segment doc-count is a map-side-combined groupBy on the
    hash, and the re-join to per-doc rows is a long-key equi join. High
    containment (e.g. >= 0.8) is the standard drop signal for documents
    that are near-subsets of other documents.
    """
    segs = doc_segments(df, id_col, text_col, k).select(
        id_col, F.xxhash64("_seg").alias("_sh")
    )
    counts = segs.groupBy("_sh").agg(F.count("*").cast("bigint").alias("_n_docs"))
    joined = segs.join(counts, "_sh")
    n_seg = F.count("*").cast("bigint")
    n_shared = F.sum((F.col("_n_docs") > 1).cast("int")).cast("bigint")
    return (
        joined.groupBy(id_col)
        .agg(n_seg.alias("n_segments"), n_shared.alias("n_shared"))
        .select(
            id_col,
            "n_segments",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_segments")).alias(
                "containment_frac"
            ),
            (
                F.col("n_shared").cast("double") / F.col("n_segments") >= 0.8
            ).alias("is_contained"),
        )
    )
