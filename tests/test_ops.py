"""Training-data ops: dedup family, similarity search, text analysis,
multimodal plumbing. Uses the driver testdata at sf0.001 (read-only)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from zelph_spark.ops import dedup, multimodal, similarity, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_count_matches_python(docs):
    got = {r.doc_id: r.n_tokens for r in textops.with_token_count(docs).collect()}
    for r in docs.limit(20).collect():
        assert got[r.doc_id] == len(r.text.lower().split())


def test_quality_and_fingerprint_deterministic(docs):
    q1 = {r.doc_id: (r.quality, r.fingerprint) for r in textops.with_fingerprint(
        textops.with_quality_score(docs)).collect()}
    q2 = {r.doc_id: (r.quality, r.fingerprint) for r in textops.with_fingerprint(
        textops.with_quality_score(docs)).collect()}
    assert q1 == q2
    assert all(0.0 <= q <= 1.0 for q, _ in q1.values())


def test_langid_picks_en_for_stopword_text(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "the cat sat on the mat and it is a cat",
                "el gato y la casa de los perros en un dia",
                "xyzzy plugh qwerty",
            ],
        })
    )
    got = {r.doc_id: r.lang_pred for r in textops.with_langid(df).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": ["same text", "same text", "other", "same text"],
        })
    )
    got = dedup.exact_duplicates(df).collect()
    assert len(got) == 1 and got[0].n_docs == 3 and got[0].keep_id == 1


DUP_DOCS = pd.DataFrame({
    "doc_id": [1, 2, 3, 4],
    "text": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "a completely different document about spark query engines and joins",
        "the quick brown fox jumps over the lazy dog near the river bank",
    ],
})


def test_jaccard_pairs_finds_near_dups(spark):
    df = spark.createDataFrame(DUP_DOCS)
    sh = dedup.word_shingles(df, n=2)
    pairs = {(r.a, r.b): r.jaccard for r in dedup.jaccard_pairs(sh, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_estimates_match_exact_jaccard(spark):
    df = spark.createDataFrame(DUP_DOCS)
    sh = dedup.word_shingles(df, n=2)
    sig = dedup.minhash_signatures(sh, num_hashes=64)
    got = {(r.a, r.b): r.est_jaccard for r in dedup.minhash_lsh_pairs(
        sig, num_hashes=64, bands=16, threshold=0.4).collect()}
    exact = {(r.a, r.b): r.jaccard for r in dedup.jaccard_pairs(sh, threshold=0.0).collect()}
    assert got[(1, 4)] == 1.0
    assert abs(got[(1, 2)] - exact[(1, 2)]) < 0.25  # 64-hash estimator noise
    assert not any(3 in p for p in got)


def test_minhash_verified_equals_exact_jaccard(spark, docs):
    """LSH blocking + exact verify must equal exact all-pairs Jaccard at the
    oracle threshold (banding recall 1.0 on the test corpus — this is what
    flips dedup_minhash from rows-only to a full DuckDB hash match)."""
    sh = dedup.word_shingles(docs, n=2).cache()
    got = {(r.a, r.b, r.jaccard) for r in dedup.minhash_verified_pairs(
        sh, num_hashes=64, bands=32, threshold=0.5).collect()}
    want = {(r.a, r.b, r.jaccard) for r in dedup.jaccard_pairs(
        sh, threshold=0.5, max_df=None).collect()}
    assert got == want


def test_simhash_near_pairs(spark):
    df = spark.createDataFrame(DUP_DOCS)
    sims = dedup.simhash(df)
    pairs = {(r.a, r.b): r.hamming for r in dedup.simhash_near_pairs(
        sims, max_hamming=8).collect()}
    assert pairs.get((1, 4)) == 0  # identical text -> identical simhash
    assert (1, 2) in pairs  # one word changed -> small distance
    assert not any(3 in p for p in pairs)


def _py_winnow(text: str, k: int = 4, w: int = 4) -> set:
    """Pure-Python winnowing oracle mirroring winnow_fingerprints exactly:
    15-hex-char md5 k-gram hashes, min per w-window, distinct; < w k-grams
    -> one fingerprint (min over all); < k tokens -> empty."""
    import hashlib

    toks = text.lower().strip().split()
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


def test_winnow_fingerprints_match_python_oracle(spark):
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            DUP_DOCS.text[0],
            "one two three",          # 3 tokens < k -> no fingerprints
            "one two three four",     # 1 k-gram < w windows -> exactly 1
            "one two three four five six",  # 3 k-grams < w -> exactly 1
        ],
    })
    got = {}
    for r in dedup.winnow_fingerprints(spark.createDataFrame(docs)).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for row in docs.itertuples(index=False):
        assert got.get(row.doc_id, set()) == _py_winnow(row.text), row.doc_id
    assert 2 not in got and len(got[3]) == 1 and len(got[4]) == 1


def test_winnow_overlap_pairs_shared_passage(spark):
    """Two documents sharing only a 10-token passage (whole-doc jaccard far
    below any dedup threshold) must still pair by shared fingerprints —
    the partial-overlap guarantee: any common run >= k + w - 1 tokens
    shares at least one fingerprint."""
    passage = "the quick brown fox jumps over the lazy dog tonight"
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "alpha beta gamma delta " + passage + " epsilon zeta eta theta",
            "completely unrelated prefix words here " + passage + " and a different tail",
            "a completely different document about spark query engines and joins",
        ],
    })
    pairs = {
        (r.a, r.b): (r.n_shared, r.containment)
        for r in dedup.winnow_overlap_pairs(
            dedup.winnow_fingerprints(spark.createDataFrame(docs)), min_shared=2
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)][0] >= 2
    assert 0.0 < pairs[(1, 2)][1] <= 1.0
    assert not any(3 in p for p in pairs)
    shared = _py_winnow(docs.text[0]) & _py_winnow(docs.text[1])
    assert pairs[(1, 2)][0] == len(shared)


STOP_DOCS = pd.DataFrame({
    "doc_id": [1, 2, 3, 4, 5],
    "text": [
        "subscribe to our newsletter for weekly deals and more offers today "
        "the quick brown fox jumps over the lazy dog near the river bank",
        "subscribe to our newsletter for weekly deals and more offers today "
        "a completely different document about spark query engines and joins",
        "subscribe to our newsletter for weekly deals and more offers today "
        "notes on winnowing fingerprints for partial overlap detection",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "an unrelated closing document with nothing in common at all",
    ],
})


def _py_stop_filtered(items: dict, max_df) -> dict:
    """Per-doc item sets after dropping items in more than max_df docs."""
    df = {}
    for s in items.values():
        for x in s:
            df[x] = df.get(x, 0) + 1
    return {
        d: {x for x in s if max_df is None or df[x] <= max_df}
        for d, s in items.items()
    }


@pytest.mark.parametrize("max_df", [None, 2])
def test_stop_item_guard_matches_python(spark, max_df):
    """jaccard_pairs and winnow_overlap_pairs against a pure-Python
    computation over the max_df-filtered item sets, sizes included: the
    boilerplate sentence (3 docs) drops out at max_df=2."""
    docs = spark.createDataFrame(STOP_DOCS)
    texts = dict(zip(STOP_DOCS.doc_id, STOP_DOCS.text))

    def py_shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    pairs = [(a, b) for a in texts for b in texts if a < b]
    sh = _py_stop_filtered({d: py_shingles(t) for d, t in texts.items()}, max_df)
    want = {}
    for a, b in pairs:
        inter = len(sh[a] & sh[b])
        if inter:
            want[(a, b)] = inter / (len(sh[a]) + len(sh[b]) - inter)
    got = {
        (r.a, r.b): r.jaccard
        for r in dedup.jaccard_pairs(
            dedup.word_shingles(docs, n=2), threshold=0.0, max_df=max_df
        ).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[p] - want[p]) <= 1e-6 for p in want)
    # the boilerplate-only pair exists unfiltered and vanishes at max_df=2
    assert ((1, 2) in want) == (max_df is None)

    fps = _py_stop_filtered({d: _py_winnow(t) for d, t in texts.items()}, max_df)
    want = {}
    for a, b in pairs:
        n = len(fps[a] & fps[b])
        if n >= 1:
            want[(a, b)] = (n, n / min(len(fps[a]), len(fps[b])))
    got = {
        (r.a, r.b): (r.n_shared, r.containment)
        for r in dedup.winnow_overlap_pairs(
            dedup.winnow_fingerprints(docs), min_shared=1, max_df=max_df
        ).collect()
    }
    assert got.keys() == want.keys()
    assert all(
        got[p][0] == want[p][0] and abs(got[p][1] - want[p][1]) <= 1e-6
        for p in want
    )


def test_topk_bruteforce_is_exact(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    got = similarity.topk_bruteforce(emb, q, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rn, r.neighbor_id, r.cos))
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        rows.sort()
        assert len(rows) == 5
        cosines = [c for _, _, c in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)


def test_lsh_recall_against_bruteforce(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.topk_bruteforce(emb, q, k=3)
    approx = similarity.topk_lsh(emb, q, k=3, n_planes=4, n_tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # per-plane agreement ~0.6 on 64-dim gaussians -> per-table ~0.13,
    # 8 tables -> ~1-(1-.13)^8 ~ 0.67 expected candidate recall
    assert recall >= 0.4
    # every approx hit must be a genuine vector pair with correct cosine sign
    assert all(rn <= 3 for rn in [r.rn for r in approx.collect()])


def test_ivf_assignment_partitions_all_vectors(spark, emb):
    assigned, cents = similarity.ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8
    # centroid selection must be a TakeOrdered (per-partition top-k), never
    # a single-task global Sort/Window over the full embedding table
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ivf_topk_recall_and_cell_discipline(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.topk_bruteforce(emb, q, k=3)
    approx = similarity.topk_ivf(emb, q, k=3, n_centroids=8, nprobe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = approx.collect()
    a = {(r.query_id, r.neighbor_id) for r in rows}
    # probing 3 of 8 cells scans ~3/8 of the corpus; nearest neighbors
    # concentrate in the query's own cell, so recall is well above that
    assert len(e & a) / len(e) >= 0.4
    # disjoint cells -> no candidate can appear twice for one query
    assert len(a) == len(rows)
    # every returned neighbor must come from a probed cell of its query
    assigned, cents = similarity.ivf_assign(emb, n_centroids=8)
    cell = {r.vec_id: r.centroid_id for r in assigned.collect()}
    probes = {}
    for r in similarity.topk_ivf(
        emb, q, k=3, n_centroids=8, nprobe=3
    ).collect():
        probes.setdefault(r.query_id, set()).add(cell[r.neighbor_id])
    assert all(len(v) <= 3 for v in probes.values())


def test_ivf_assign_matches_window_argmin(spark, emb):
    # the map-side min(struct) aggregate must pick the same cell as the
    # straightforward row_number-window argmin it replaced
    from pyspark.sql import Window

    assigned, cents = similarity.ivf_assign(emb, n_centroids=8)
    scored = emb.join(F.broadcast(cents)).withColumn(
        "sim", similarity.cosine("embedding", "cvec")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    ref = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "centroid_id")
    )
    got = {(r.vec_id, r.centroid_id) for r in assigned.collect()}
    want = {(r.vec_id, r.centroid_id) for r in ref.collect()}
    assert got == want


def test_embedding_near_dup_pairs_self_consistency(spark, emb):
    # duplicate a vector under a new id -> must be found with cos ~ 1
    dup = emb.limit(1).withColumn("vec_id", F.lit(999999))
    both = emb.unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(both, threshold=0.999)
    hits = [r for r in pairs.collect() if r.b == 999999]
    assert len(hits) == 1 and hits[0].cos >= 0.999


def test_embedding_near_dup_pairs_compiles_without_fallback(spark, emb):
    """The verify step must fit whole-stage codegen. With the fallback off,
    generated code over Janino's 64 KB method limit raises instead of
    silently running interpreted (a per-pair cosine of three 64-term
    chains did)."""
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        test_embedding_near_dup_pairs_self_consistency(spark, emb)
    finally:
        spark.conf.set(key, prev)


def test_multimodal_plumbing(spark, fixture_docs_df):
    media = multimodal.synth_media(fixture_docs_df).cache()
    assert media.count() > 0
    decoded = multimodal.decode_image(media)
    rows = decoded.collect()
    imgs = [r for r in rows if r.media_type == "image/png"]
    assert imgs and all(r.decoder == "stub-sha256" for r in imgs)
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in imgs)
    others = [r for r in rows if not r.media_type.startswith("image/")]
    assert all(r.decoder == "skip" and r.features is None for r in others)
    # deterministic features
    again = {r.media_ref: r.features for r in multimodal.decode_image(media).collect()}
    assert all(again[r.media_ref] == r.features for r in imgs)
    # resize plan preserves aspect and caps the long side
    rp = multimodal.resize_plan(media, max_side=128)
    for r in rp.collect():
        assert max(r.target_width, r.target_height) <= 128 + 1
    # frame sampling emits one row per second of video
    frames = multimodal.sample_frames(media, every_ms=1000)
    vids = {r.media_ref: r.duration_ms for r in media.filter(
        F.col("media_type") == "video/mp4").collect()}
    cnt = {r[0]: r[1] for r in frames.groupBy("media_ref").count().collect()}
    for ref, dur in vids.items():
        assert cnt[ref] == max(1, dur // 1000)


def test_simhash_portable_matches_python_md5_oracle(spark):
    """portable=True derives per-(token, bit) values from md5 — recompute
    the full simhash in pure Python and compare exactly (this is what makes
    the dedup_simhash contract query DuckDB-oracleable)."""
    import hashlib

    df = spark.createDataFrame(DUP_DOCS)
    got = {r.doc_id: r.simhash for r in dedup.simhash(df, portable=True).collect()}

    def py_simhash(text):
        sums = [0] * 64
        for tok in text.lower().split():
            hx = hashlib.md5(tok.encode()).hexdigest()
            h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
            for i in range(64):
                bit = (h1 >> i if i < 32 else h2 >> (i - 32)) & 1
                sums[i] += 1 if bit else -1
        acc = 0
        for i in range(64):
            if sums[i] > 0:
                acc |= 1 << i
        return acc - (1 << 64) if acc >= (1 << 63) else acc

    for row in DUP_DOCS.itertuples(index=False):
        assert got[row.doc_id] == py_simhash(row.text), row.doc_id


def test_simhash_portable_rejects_wide_bits(spark):
    df = spark.createDataFrame(DUP_DOCS)
    with pytest.raises(ValueError, match="64 bits"):
        dedup.simhash(df, portable=True, bits=128)


def test_cluster_assignments_transitive_chain(spark):
    """a~b and b~c (a and c never paired) must land in ONE cluster; the
    canonical survivor is the longest document, ties to smallest id;
    unpaired documents are not emitted."""
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [
            "short one",
            "a middle length document right here",
            "the longest document of the chain with many many tokens in it",
            "unrelated island",
            "twin island",
        ],
    })
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 4], "b": [2, 3, 5]})
    )
    rows = {
        r.doc_id: (r.canonical_id, r.cluster_size, r.keep)
        for r in dedup.cluster_assignments(
            spark.createDataFrame(docs), pairs
        ).collect()
    }
    assert rows[1] == (3, 3, False)
    assert rows[2] == (3, 3, False)
    assert rows[3] == (3, 3, True)
    # the island pair: same length 2 -> tie broken by smallest id
    assert rows[4] == (4, 2, True)
    assert rows[5] == (4, 2, False)
    assert set(rows) == {1, 2, 3, 4, 5}


def test_stratified_sample_deterministic_and_exact(spark, docs):
    """The sample is a pure function of (salt, key): two runs agree row for
    row with a Python md5 re-computation; rate-0 groups vanish; weights are
    the inverse rates."""
    import hashlib

    from zelph_spark.ops import sampling

    rates = {"en": 0.5, "de": 1.0, "es": 0.0}
    got = {
        r.doc_id: (r.lang, r.sample_rate, r.weight)
        for r in sampling.stratified_sample(
            docs, rates, group_col="lang", default_rate=0.25
        ).collect()
    }

    def py_u(doc_id):
        hx = hashlib.md5(f"zelph{doc_id}".encode()).hexdigest()[:15]
        return int(hx, 16) / float(1 << 60)

    expect = {}
    for r in docs.select("doc_id", "lang").collect():
        rate = rates.get(r.lang, 0.25)
        if py_u(r.doc_id) < rate:
            expect[r.doc_id] = (r.lang, rate, round(1.0 / rate, 6))
    assert got == expect
    assert not any(lang == "es" for lang, _, _ in got.values())
    assert any(lang == "de" for lang, _, _ in got.values())


def test_split_train_holdout_stable_and_disjoint(spark, docs):
    from zelph_spark.ops import sampling

    s1 = {r.doc_id: r.split for r in sampling.split_train_holdout(
        docs, holdout_frac=0.1).collect()}
    s2 = {r.doc_id: r.split for r in sampling.split_train_holdout(
        docs, holdout_frac=0.1).collect()}
    assert s1 == s2
    n = len(s1)
    n_hold = sum(1 for v in s1.values() if v == "holdout")
    assert set(s1.values()) <= {"train", "holdout"}
    assert 0 < n_hold < n * 0.25  # ~10% of docs, deterministic


def test_bpe_token_count_matches_python_re(spark):
    import re

    pat = re.compile(textops.BPE_PRETOKEN_RE)
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "Hello, world! It's 2026-08-19...",
            "plain words only here",
            "x9y8z7 !!! ???",
        ],
    })
    got = {
        r.doc_id: (r.n_bpe_tokens, r.chars_per_token)
        for r in textops.with_bpe_token_count(
            spark.createDataFrame(docs)
        ).collect()
    }
    for row in docs.itertuples(index=False):
        low = row.text.lower().strip()
        n = len(pat.findall(low))
        assert got[row.doc_id][0] == n, row.doc_id
        assert got[row.doc_id][1] == round(len(low) / n, 6), row.doc_id


def test_pii_scrub_matches_python_re(spark):
    import re

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "Mail a.b+c@foo-bar.org or see https://x.y/z?q=1 and http://plain.net",
            "hosts 10.0.0.1 and 192.168.100.200, ping 8.8.8.8",
            "nothing to mask here",
            "edge: v1.2.3.4000 is a version not an ip, user@sub.domain.co",
        ],
    })
    got = {
        r.doc_id: (r.scrubbed, r.n_pii)
        for r in textops.with_pii_scrubbed(spark.createDataFrame(docs)).collect()
    }
    for row in docs.itertuples(index=False):
        t, n = row.text.lower(), 0
        for pat, repl in textops.PII_PATTERNS:
            n += len(re.findall(pat, t))
            t = re.sub(pat, repl, t)
        assert got[row.doc_id] == (t, n), row.doc_id
    assert got[1][1] == 3 and got[2][1] == 3 and got[3][1] == 0
    assert "<EMAIL>" in got[1][0] and "<URL>" in got[1][0]
    assert "<IP>" in got[2][0]


def test_corpus_ngram_df_counts(spark):
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "spark joins data fast",
            "spark joins data slowly sometimes",
            "spark joins everything",
        ],
    })
    sh = dedup.word_shingles(spark.createDataFrame(docs), n=2)
    df_counts = {
        r.shingle: r.df
        for r in sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("df")
        ).collect()
    }
    assert df_counts["spark joins"] == 3
    assert df_counts["joins data"] == 2
    assert df_counts["data fast"] == 1
