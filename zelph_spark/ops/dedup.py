"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, winnowing,
SimHash, and cluster assignment over the resulting pairs.

Design for 100 TB: every variant is a pure DataFrame plan —

- exact:     one hash-groupBy (map-side partial agg, single shuffle);
- jaccard:   shingle explode -> self-join on shingle -> pair counts; the
  shingle join is the classic inverted-index pattern: common shingles are
  the skew risk, so ultra-frequent shingles are dropped by a document-
  frequency cap before the join (stop-shingle filter);
- minhash:   64 per-shingle hashes aggregated with min (one shuffle),
  banded into LSH buckets -> candidate pairs join within buckets only —
  the linear-scale path; signatures verify candidates without re-reading
  text;
- winnow:    shared-passage pairs from winnowed k-gram fingerprints;
- simhash:   64 sign-sum bits from token hashes, bucketed by 16-bit chunks
  (Hamming-distance blocking).

Every pair operator is candidate generation plus verification over the
same few pair primitives: :func:`colliding_pairs` (the ``a < b`` blocking
self-join), :func:`attach` (per-document columns onto both ends of a
pair), ``_jaccard`` (exact-Jaccard verify) and ``_drop_frequent`` (the
stop-item guard). ``similarity.embedding_near_dup_pairs`` (embedding-cosine
near-dups) is built from the same primitives.

No Python in the hot path: hashing via xxhash64, aggregation via built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textops import tokens


def colliding_pairs(rows: DataFrame, key: str, on: list[str]) -> DataFrame:
    """(a, b, *on) for every two keys a < b of ``rows`` that agree on every
    ``on`` column — the blocking self-join. A pair colliding on several
    ``on`` values appears once per value; callers count or deduplicate."""
    left = rows.select(F.col(key).alias("a"), *on)
    right = rows.select(F.col(key).alias("b"), *on)
    return left.join(right, on).filter(F.col("a") < F.col("b")).select("a", "b", *on)


def attach(pairs: DataFrame, per_key: DataFrame, key: str) -> DataFrame:
    """Join every non-key column c of ``per_key`` onto both ends of
    ``pairs``, as ``c + "a"`` and ``c + "b"`` — one join per end."""
    cols = [c for c in per_key.columns if c != key]
    for end in ("a", "b"):
        ends = [F.col(c).alias(c + end) for c in cols]
        pairs = pairs.join(per_key.select(F.col(key).alias(end), *ends), end)
    return pairs


def _sizes(rows: DataFrame, key: str) -> DataFrame:
    """(key, sz): the number of item rows per key."""
    return rows.groupBy(key).agg(F.count(F.lit(1)).alias("sz"))


def _drop_frequent(rows: DataFrame, item: str, max_df: int | None) -> DataFrame:
    """The stop-item skew guard: drop the rows whose ``item`` occurs in more
    than ``max_df`` keys (an item in d keys makes d^2 colliding pairs)."""
    if max_df is None:
        return rows
    df_counts = rows.groupBy(item).agg(F.count(F.lit(1)).alias("df"))
    return rows.join(df_counts.filter(F.col("df") <= max_df).select(item), item)


def _jaccard(inter: DataFrame, items: DataFrame, key: str, threshold: float) -> DataFrame:
    """Exact-Jaccard verify: (a, b, jaccard >= threshold) from the pairs'
    intersection counts ``inter`` and the (key, item) rows they count."""
    union = F.col("sza") + F.col("szb") - F.col("inter")
    return (
        attach(inter, _sizes(items, key), key)
        .select("a", "b", F.round(F.col("inter") / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def exact_duplicates(df: DataFrame, col: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, keep_id) with
    n_docs >= 2; keep_id = min key (the survivor)."""
    return (
        df.select(F.md5(F.col(col)).alias("text_hash"), F.col(key))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(key).alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def word_shingles(df: DataFrame, col: str = "text", key: str = "doc_id", n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per document: (key, shingle)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.transform(
        idx,
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # no global .distinct(): array_distinct already dedups within the doc
    # and the key makes rows unique across docs — the extra distinct was a
    # full exchange of the exploded shingle stream for an identical row set
    # (removed r6; one Exchange gone from every shingle consumer's plan)
    return (
        df.select(F.col(key), F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


def jaccard_pairs(
    shingles: DataFrame,
    key: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over the inverted shingle index:
    (a, b, jaccard) for pairs with similarity >= threshold, a < b.

    ``max_df`` drops shingles occurring in more than that many documents
    before the self-join — the stop-shingle skew guard (a shingle in d docs
    contributes d^2 candidate pairs)."""
    # [r6] same fan-out discipline as winnow_overlap_pairs: the shingle
    # explode feeds df count + df-filter join + sizes + both self-join
    # sides; cache it once (count() populates it eagerly — concurrent
    # branches of a single-action plan would otherwise all miss) instead
    # of re-running the tokenize+explode per consumer, and release it
    # after the (small) result materializes.
    sh = shingles.cache()
    sh.count()
    kept = _drop_frequent(sh, "shingle", max_df)
    inter = (
        colliding_pairs(kept, key, ["shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = _jaccard(inter, kept, key, threshold).localCheckpoint()
    sh.unpersist()
    return out


def minhash_signatures(
    shingles: DataFrame, key: str = "doc_id", num_hashes: int = 64
) -> DataFrame:
    """(key, sig array<bigint>): column-parallel MinHash — one aggregation,
    num_hashes min() columns.

    The variable-length shingle string is hashed ONCE; the per-function
    hashes re-hash that single 8-byte value with a seed (still a proper
    64-bit hash family, but the string is scanned once instead of
    num_hashes times — the round-1 sweep re-evaluated xxhash64 over the
    string per function and dominated the minhash bench)."""
    pre = shingles.select(
        F.col(key), F.xxhash64(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    wide = pre.groupBy(key).agg(*aggs)
    return wide.select(
        F.col(key), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_hashes: int,
    key: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH banding: split each ``num_hashes``-long signature into ``bands``
    rows, bucket by the band hash, generate candidate pairs inside buckets
    only, then estimate jaccard as the fraction of matching signature
    positions.

    Returns (a, b, est_jaccard >= threshold). Scale path: candidates are
    produced by an equi-join on (band, band_hash) — never a cross join.

    [r6] The bucket self-join pairs BARE (key, band, bucket) rows and the
    signatures are attached to the surviving distinct pairs afterwards
    (guide §8: shuffle keys, not payloads): hot buckets blow the join
    output up quadratically — at sf1.0 the raw pair stream is ~10^8 rows
    for 5.7k distinct candidates — and carrying two 64-long signature
    arrays (~1 KB/row) through that join + dropDuplicates shuffled ~60x
    more bytes than the 16-byte id pairs do. Same candidate set, same
    est_jaccard, measured 39.4 s -> 4.2 s for the candidate stage."""
    rows_per_band = num_hashes // bands
    # bucket = hash of the band's signature longs DIRECTLY (r6) — the old
    # slice->cast-to-string->concat->hash chain evaluated interpreted
    # higher-order lambdas per element (guide §4.1: prefer flat built-ins);
    # bucket equality semantics are unchanged (equal slices <=> equal
    # buckets, modulo 64-bit collisions that only add candidates which the
    # est/exact verification filters away)
    banded = signatures.select(
        F.col(key),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + 1 + i)
                                for i in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(key), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # materialized once: it feeds BOTH sides of the bucket self-join, which
    # would otherwise re-run the whole signature aggregation + banding per
    # side (measured: ~4 s/side at sf1.0 for a 38 MB table)
    banded = banded.localCheckpoint()
    pairs = (
        colliding_pairs(banded, key, ["band", "bucket"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    cands = attach(pairs, signatures, key)
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes)),
        6,
    )
    return cands.select("a", "b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_verified_pairs(
    shingles: DataFrame,
    key: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH blocking with EXACT Jaccard verification: (a, b, jaccard
    >= threshold), a < b. The LSH banding only generates candidates; every
    candidate is re-scored against the true shingle sets, so the output is
    engine-independent (a SQL oracle computing all-pairs exact Jaccard
    matches it whenever banding recall is 1.0 on the data — at threshold
    0.5 with 32 bands x 2 rows the per-pair miss probability is
    (1 - J^2)^32 <= 1e-4). This is the scale shape: candidates come from an
    equi-join on (band, bucket), the verify join touches candidate pairs
    only, never all pairs."""
    # shingles feeds four branches (signatures, verify join x2, sizes).
    # cache persists the explode once while KEEPING the logical plan, so
    # AQE still sees real size stats and the verify join keeps its
    # broadcast (measured 2x at sf0.1; a localCheckpoint loses the stats
    # and the broadcast — that variant measured slower than recomputing).
    shingles = shingles.cache()
    # the signature table is tiny (one row per doc) but feeds FOUR plan
    # branches (banding left/right + the est attach joins); materialize it
    # once instead of re-running the 64-way min aggregation per branch (r6)
    sig = minhash_signatures(
        shingles, key=key, num_hashes=num_hashes
    ).localCheckpoint()
    # banding recall is tuned for >= threshold, but it also admits ~8% of
    # random low-similarity pairs (2-row bands match with prob J^2 PER band);
    # pre-filtering candidates on the signature estimate at threshold/2 —
    # 4 sigma below the verify threshold for 64 hashes — prunes that noise
    # before the (much costlier) exact shingle-set verification join.
    cands = minhash_lsh_pairs(
        sig, num_hashes, key=key, bands=bands, threshold=threshold / 2
    ).select("a", "b")
    a_sh = cands.join(shingles.select(F.col(key).alias("a"), "shingle"), "a")
    inter = (
        a_sh.join(
            shingles.select(F.col(key).alias("b"), "shingle"), ["b", "shingle"]
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # materialize the (small) verified-pairs result, then release the
    # cached shingle partitions — a long-lived session (bench runs every
    # query multiple passes) otherwise accumulates dead cache entries in
    # executor memory/disk across calls
    out = _jaccard(inter, shingles, key, threshold).localCheckpoint()
    shingles.unpersist()
    return out


def winnow_fingerprints(
    df: DataFrame, col: str = "text", key: str = "doc_id", k: int = 4, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-fingerprinting
    scheme: Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every word k-gram,
    slide a window of ``w`` consecutive k-gram hashes, keep the minimum of
    each window, distinct. Guarantees: any shared token run of length
    >= k + w - 1 between two documents yields at least one SHARED
    fingerprint — the partial-overlap (shared-passage) dedup primitive the
    whole-document ops above cannot express.

    Returns (key, fp bigint), one row per distinct fingerprint. Documents
    shorter than ``k`` tokens yield no rows; documents with fewer than
    ``w`` k-grams yield exactly one fingerprint (min over all hashes —
    the standard degenerate-window rule).

    Scale shape: the entire per-document computation is one columnar
    projection (no shuffle, no Python) — only the explode output moves.
    The hash is the first 15 hex chars of md5 (a positive 60-bit value),
    chosen over xxhash64 so the DuckDB correctness oracle can recompute
    the exact fingerprint set cross-engine (same trick as portable
    simhash)."""
    # [r6] posexplode + window formulation instead of nested array
    # transform() lambdas. Catalyst higher-order functions evaluate their
    # lambda INTERPRETED per element (guide §4.2), and the per-k-gram body
    # here (slice + array_join + md5 + substring + conv) made the old
    # projection the whole cost of the operator: 119 s for 50k docs at
    # replica sf1.0 while the fingerprint JOIN moved <1M rows. The same
    # math as flat per-row expressions (whole-stage codegen) + two windows
    # over (key, pos) — the exact shape ORACLE_DEDUP_WINNOW runs in DuckDB,
    # so equivalence is literal — costs one shuffle by key and runs in ~4 s
    # on the same input. Fingerprint VALUES are bit-identical: gram =
    # null-propagating concat of k tokens (== array_join over a full
    # slice), window min over [rn, rn+w-1], kept rows rn <= ng-w+1 plus
    # the degenerate single-window rule for ng < w.
    from pyspark.sql import Window

    toks = tokens(col)
    t = df.select(F.col(key), F.posexplode(toks).alias("pos", "tok"))
    dw = Window.partitionBy(key).orderBy("pos")
    gram_parts = [F.col("tok")]
    for i in range(1, k):
        gram_parts += [F.lit(" "), F.lead("tok", i).over(dw)]
    g = t.select(
        F.col(key), F.col("pos"), F.concat(*gram_parts).alias("gram")
    ).filter(F.col("gram").isNotNull())
    h = g.select(
        F.col(key),
        F.col("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    rn = F.row_number().over(dw)
    ng = F.count(F.lit(1)).over(Window.partitionBy(key))
    win_min = F.min("hv").over(dw.rowsBetween(0, w - 1))
    z = h.select(
        F.col(key), rn.alias("rn"), ng.alias("ng"), win_min.alias("fp")
    )
    kept = z.filter(
        (F.col("rn") <= F.col("ng") - w + 1)
        | ((F.col("ng") < w) & (F.col("rn") == 1))
    )
    return kept.select(F.col(key), "fp").dropDuplicates([key, "fp"])


def winnow_overlap_pairs(
    fps: DataFrame,
    key: str = "doc_id",
    min_shared: int = 2,
    max_df: int | None = 100,
) -> DataFrame:
    """Partial-overlap candidate pairs from winnowed fingerprints:
    (a, b, n_shared, containment) for pairs sharing >= ``min_shared``
    fingerprints, a < b; containment = n_shared / min(|fps_a|, |fps_b|)
    (the asymmetric-overlap score — near 1.0 when one document contains
    the other's passages). ``max_df`` drops boilerplate fingerprints
    occurring in more than that many documents before the self-join —
    the same stop-key skew guard as ``jaccard_pairs`` (a fingerprint in d
    docs contributes d^2 candidates); sizes are computed on the FILTERED
    set so containment stays consistent with the pairs it scores."""
    # [r6] the fingerprint projection upstream is expensive (one md5 + hex
    # conv per k-gram) and this function fans it out FIVE ways (df count,
    # df-filter join, sizes, both self-join sides) — the lazy plan re-ran
    # the whole projection per consumer (measured at 50k docs: 160-306 s).
    # cache() keeps the logical plan (AQE size stats -> the sizes joins
    # stay broadcast) while computing the explode once; the final
    # localCheckpoint materializes the (small) result so the cache can be
    # released before returning — same discipline as minhash_verified_pairs.
    # The count() is what makes the cache real: in a single-action plan all
    # five branches run CONCURRENTLY in one job and would each recompute
    # the projection before any cached partition lands; one eager pass
    # populates the InMemoryRelation (with real size stats, so the sizes
    # joins keep their broadcast) and every branch then reads it.
    fps = fps.cache()
    fps.count()
    kept = _drop_frequent(fps, "fp", max_df)
    shared = (
        colliding_pairs(kept, key, ["fp"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    out = (
        attach(shared, _sizes(kept, key), key)
        .select(
            "a",
            "b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least(F.col("sza"), F.col("szb")), 6
            ).alias("containment"),
        )
    ).localCheckpoint()
    fps.unpersist()
    return out


def cluster_assignments(
    docs: DataFrame,
    pairs: DataFrame,
    col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs -> the keep/drop decision every dedup pipeline actually
    needs: group pairs into connected components (a chain a~b, b~c is ONE
    cluster even when a and c never paired directly) and pick one canonical
    survivor per cluster — the longest document by whitespace token count,
    ties broken by smallest key (longest-survivor is the standard web-corpus
    policy: near-dup clusters usually contain truncated variants of one
    full text).

    Returns one row per clustered document: (doc_id, canonical_id,
    cluster_size, keep). Unclustered documents (no near-dup pair) are not
    emitted — they are all trivially keepers.

    Scale shape: components via the canon min-propagation + pointer-jumping
    loop (O(log n) rounds, each one equi-join + groupBy — the same machinery
    the KG merge path runs at full corpus scale, canon.py:30); the canonical
    pick is one map-side min(struct) aggregate per cluster, no window, no
    global sort."""
    from .. import canon

    comp = canon.connected_components(pairs.select("a", "b"))
    sized = comp.join(
        docs.select(
            F.col(key).alias("node"),
            F.size(tokens(col)).cast("bigint").alias("n_tokens"),
        ),
        "node",
    )
    best = sized.groupBy("comp").agg(
        F.min(F.struct((-F.col("n_tokens")).alias("neg"), F.col("node").alias("node")))[
            "node"
        ].alias("canonical_id"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
    )
    return sized.join(best, "comp").select(
        F.col("node").alias(key),
        "canonical_id",
        "cluster_size",
        (F.col("node") == F.col("canonical_id")).alias("keep"),
    )


def simhash(
    df: DataFrame,
    col: str = "text",
    key: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(key, simhash bigint): sign-sum of token-hash bits. Columnar: explode
    tokens, one sum per bit position, reassemble.

    ``portable=True`` derives the per-(token, bit) values from md5 instead
    of xxhash64: md5 is bit-identical across engines (Spark, DuckDB,
    Python), so the resulting simhash — and therefore the near-dup pair set
    — is recomputable by the DuckDB correctness oracle. The default stays
    xxhash64 (cheaper: one 64-bit hash vs a cryptographic digest) for
    production pipelines where cross-engine parity is not needed; blocking
    and verification are identical either way."""
    tok = df.select(F.col(key), F.explode(tokens(col)).alias("tok"))
    if portable:
        if bits > 64:
            raise ValueError("portable simhash derives at most 64 bits from md5")
        # two independent 32-bit words from the md5 hex digest cover 64
        # bit positions (conv() parses hex; 8 hex chars < 2^32 fit a long)
        md = F.md5("tok")
        tok = tok.withColumn(
            "h1", F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
        ).withColumn("h2", F.conv(F.substring(md, 9, 8), 16, 10).cast("long"))

        def _bit(i):
            src, off = ("h1", i) if i < 32 else ("h2", i - 32)
            return F.shiftright(src, off).bitwiseAND(F.lit(1)) == 1

    else:
        tok = tok.withColumn("h", F.xxhash64("tok"))

        def _bit(i):
            return F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1

    aggs = [
        F.sum(F.when(_bit(i), 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(key).agg(*aggs)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select(F.col(key), acc.alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, key: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash with exact-recall blocking: split the
    64-bit hash into ``max_hamming + 1`` chunks — by pigeonhole, any pair
    within the distance budget agrees on at least one whole chunk, so the
    equi-join on (chunk, value) generates every qualifying pair; Hamming is
    then verified exactly."""
    n_chunks = max_hamming + 1
    chunk_bits = -(-64 // n_chunks)  # ceil
    mask = (1 << chunk_bits) - 1
    # [r6] materialize the (tiny, one-row-per-doc) simhash table once: the
    # 64-way sign-sum aggregation upstream was otherwise recomputed for
    # EACH side of the chunk self-join — the dominant cost of the op
    sims = sims.localCheckpoint()
    chunks = sims.select(
        F.col(key),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select(F.col(key), "simhash", "cc.chunk", "cc.val")
    l = chunks.select(F.col(key).alias("a"), F.col("simhash").alias("ha"), "chunk", "val")
    r = chunks.select(F.col(key).alias("b"), F.col("simhash").alias("hb"), "chunk", "val")
    # [r6] verify Hamming BEFORE the candidate dedup: with b-bit chunk
    # values random collisions make the raw pair stream ~|docs|^2/2^b per
    # chunk (tens of millions at 50k docs), and dropDuplicates was
    # shuffling ALL of it; the bit_count filter is a per-row expression
    # that kills >99.9% of collisions first, so the dedup shuffle carries
    # only near-duplicates. Same result set: duplicate (a, b) rows carry
    # identical (ha, hb), so filter and dedup commute.
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        l.join(r, ["chunk", "val"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "hamming")
    )
