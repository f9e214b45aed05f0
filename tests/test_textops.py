"""Training-data operator tests: dedup (exact/minhash/simhash), similarity
(brute force + LSH), text stats."""

import pytest
from pyspark.sql import functions as F

from pgweasel_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # near-dup pair: one word differs
        (0, "the quick brown fox jumps over the lazy dog again and again", "a"),
        (1, "the quick brown fox jumps over the lazy cat again and again", "a"),
        # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog again and again", "a"),
        # unrelated
        (3, "completely different content about spark query planning here", "b"),
        (4, "der hund und die katze und das haus und nicht mehr", "b"),
        (5, "el perro y la casa y los gatos que hablan", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["content_hash"]: r for r in out}
    dup = [r for r in out if r["cnt"] == 2]
    assert len(dup) == 1
    assert dup[0]["keeper"] == 0
    # default schema is bounded-state (hash, cnt, keeper) — no members
    assert set(out[0].asDict()) == {"content_hash", "cnt", "keeper"}
    assert len(groups) == 5


def test_exact_dedup_members_capped(docs):
    out = dedup.exact_dedup(docs, members_cap=1).collect()
    dup = [r for r in out if r["cnt"] == 2][0]
    assert dup["members"] == [0]  # smallest member only, capped at 1
    full = dedup.exact_dedup(docs, members_cap=10).collect()
    dup_full = [r for r in full if r["cnt"] == 2][0]
    assert dup_full["members"] == [0, 2]


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_dedup(
        docs, n_perm=8, band_size=2, jaccard_threshold=0.5
    ).collect()
    found = {(r["doc1"], r["doc2"]) for r in pairs}
    assert (0, 2) in found  # exact dup always collides
    # near-dup 0/1 shares most shingles; with 4 bands of 2 it should be
    # found at threshold 0.5
    assert (0, 1) in found or (1, 2) in found
    # unrelated docs must not pair
    assert all(d1 != 3 and d2 != 3 for d1, d2 in found)


def test_minhash_dedup_cache_registry(docs, spark):
    """minhash_dedup persists three frames (signatures + candidates +
    r6's candidate shingles); cache_registry hands them all back so
    long-lived callers can unpersist after materializing — without it,
    repeated invocations accumulate cached RDDs (ADVICE r4)."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    # baseline-relative: earlier tests may leave checkpoint RDDs that
    # clearCache does not (and should not) touch
    base = sc._jsc.getPersistentRDDs().size()
    handles = []
    out = dedup.minhash_dedup(
        docs, jaccard_threshold=0.5, cache_registry=handles
    )
    out.count()  # materialize → both persists are live
    assert len(handles) == 3
    assert all(
        h.storageLevel.useMemory or h.storageLevel.useDisk for h in handles
    )
    for h in handles:
        h.unpersist(blocking=True)
    assert sc._jsc.getPersistentRDDs().size() <= base


def test_minhash_signatures_deterministic(docs, spark):
    s1 = {
        r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8))
        for r in dedup.minhash_signatures(docs).collect()
    }
    s2 = {
        r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8))
        for r in dedup.minhash_signatures(docs).collect()
    }
    assert s1 == s2
    assert s1[0] == s1[2]  # identical text → identical signature


def test_simhash(docs):
    out = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", dedup.simhash60("text").alias("sh")
        ).collect()
    }
    assert out[0] == out[2]  # identical text
    # near-dup should be closer in hamming distance than unrelated
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[0], out[1]) < ham(out[0], out[3])


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_near_dups(
        docs, max_hamming=16, allow_partial_recall=True
    ).collect()
    found = {(r["doc1"], r["doc2"]): r["hamming"] for r in pairs}
    assert found.get((0, 2)) == 0
    # total recall past the band guarantee must be an explicit opt-in
    with pytest.raises(ValueError):
        dedup.simhash_near_dups(docs, max_hamming=16)


def _h60(w):
    import hashlib

    return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)


def _simhash60_reference(t):
    """Loop restatement of simhash60 (the arithmetic the DuckDB oracle
    states): +1/-1 vote per bit over the " "-split words."""
    if t is None:
        return None
    ws = t.split(" ")
    sh = 0
    for j in range(60):
        v = sum(1 if (_h60(w) >> j) & 1 else -1 for w in ws)
        if v > 0:
            sh |= 1 << j
    return sh


def test_simhash60_matches_python_reference(docs):
    """simhash60 must equal the portable Python re-derivation bit-for-bit
    (the same arithmetic the DuckDB oracle states)."""
    rows = docs.select(
        "doc_id", "text", dedup.simhash60("text").alias("sh")
    ).collect()
    for r in rows:
        assert r["sh"] == _simhash60_reference(r["text"]), r["doc_id"]


def test_simhash60_edge_cases_match_python_reference(spark):
    """Null, empty and blank text, repeated and trailing spaces,
    non-ASCII words, a long document, and more rows than one Arrow batch
    (2,048 rows) all match the loop restatement bit for bit."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(300)]
    vocab += ["straße", "日本語", "ñandú", "🙂"]
    edge = [
        None,
        "",
        " ",
        "a  b",
        "a b ",
        "  lead and trail  ",
        "ünïcödé wörds ĉi tie 日本語 テキスト",
        " ".join(rng.choice(vocab) for _ in range(700)),
    ]
    bulk = [
        None if i % 97 == 0
        else " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for i in range(4500)
    ]
    texts = edge + bulk
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).repartition(1)
    got = dict(
        df.select("doc_id", dedup.simhash60("text").alias("sh")).collect()
    )
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        assert got[i] == _simhash60_reference(t), (i, t)


@pytest.mark.parametrize("n_bands", [2, 4, 6])
def test_simhash_lowest_band_filter_equals_distinct(spark, n_bands):
    """Keeping only each pair's lowest shared band gives exactly the pair
    set of the union of band joins plus ``distinct()`` (restated here as
    a Python banding over random signatures), each pair once."""
    import itertools
    import random

    rng = random.Random(n_bands)
    width = 60 // n_bands
    bases = [rng.getrandbits(60) for _ in range(6)]
    sigs = {}
    for i in range(150):
        s = rng.choice(bases)
        for _ in range(rng.randint(0, 12)):
            s ^= 1 << rng.randrange(60)
        sigs[i] = s

    def bands(s):
        return [(s >> (width * b)) & ((1 << width) - 1) for b in range(n_bands)]

    for max_hamming in (n_bands - 1, 60):
        expected = {
            (i, j, bin(sigs[i] ^ sigs[j]).count("1"))
            for i, j in itertools.combinations(sorted(sigs), 2)
            if any(x == y for x, y in zip(bands(sigs[i]), bands(sigs[j])))
            and bin(sigs[i] ^ sigs[j]).count("1") <= max_hamming
        }
        df = spark.createDataFrame(
            sorted(sigs.items()), "doc_id long, sh long"
        )
        rows = [
            tuple(r)
            for r in dedup.simhash_near_dups(
                df,
                sig_col="sh",
                max_hamming=max_hamming,
                n_bands=n_bands,
                allow_partial_recall=True,
            ).collect()
        ]
        assert len(rows) == len(set(rows))
        assert set(rows) == expected
        assert any(
            sum(x == y for x, y in zip(bands(sigs[i]), bands(sigs[j]))) > 1
            for i, j, _ in expected
        )


def test_simhash_multiband_recall_is_exact_for_small_hamming(spark):
    """With 4 bands over 60 bits, every pair at Hamming <= 3 shares a band
    (pigeonhole), so the banded operator must return EXACTLY the pairs a
    brute-force all-pairs scan finds — including pairs whose differing
    bits all sit in the top band (which the round-1 single-prefix-band
    design missed)."""
    import itertools

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen "
        "sixteen seventeen eighteen nineteen twenty apple pear plum fig "
        "grape melon lemon lime peach cherry berry mango kiwi date"
    ).split()
    texts = {}
    for i in range(12):
        words = list(base)
        if i:
            words[(7 * i) % len(words)] = f"mut{i}"
        texts[i] = " ".join(words)
    texts[100] = texts[0]  # exact dup → Hamming 0, guaranteed pair
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )

    sigs = {i: _simhash60_reference(t) for i, t in texts.items()}
    expected = {
        (i, j)
        for i, j in itertools.combinations(sorted(texts), 2)
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3
    }
    got = {
        (r["doc1"], r["doc2"])
        for r in dedup.simhash_near_dups(df, max_hamming=3).collect()
    }
    assert (0, 100) in expected
    assert got == expected


def test_ngram_jaccard_band_blocking_equijoin_and_skew(spark):
    """The d4 blocking must stay an equi-join (no nested-loop/cartesian)
    and return exactly the brute-force candidate set even when a single
    source holds every document (the skew case an inequality-only join
    degenerates on)."""
    import itertools

    docs = []
    for i in range(30):
        words = [f"tok{j}" for j in range(10)] + [f"x{i}"]
        t = " ".join(words)
        docs.append((i, t, "only", len(t)))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars int"
    )
    out = dedup.ngram_jaccard_near_dups(df)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan

    def sh(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    expected = {}
    for (i, ti, _, ni), (j, tj, _, nj) in itertools.combinations(docs, 2):
        if abs(ni - nj) <= 10:
            expected[(i, j)] = round(len(sh(ti) & sh(tj)) / len(sh(ti) | sh(tj)), 4)
    got = {(r["doc1"], r["doc2"]): r["jaccard"] for r in out.collect()}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-4)


def test_brute_force_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest
        (2, [0.0, 1.0, 0.0]),  # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(e, query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine_sim"] == pytest.approx(0.9939, abs=1e-3)
    assert out[1]["cosine_sim"] == pytest.approx(0.0, abs=1e-9)
    assert out[2]["cosine_sim"] == pytest.approx(-1.0, abs=1e-9)


def test_lsh_ann_agrees_with_brute_force_on_top1(spark):
    import random

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    # plant a near-duplicate of vec 0
    base = rows[0][1]
    rows.append((200, [v + 0.01 for v in base]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf = similarity.brute_force_topk(e, 0, k=1).collect()[0]
    assert bf["vec_id"] == 200
    ann = similarity.lsh_ann_topk(e, 0, k=5, n_planes=6).collect()
    # the planted near-dup must share the query's bucket (tiny angle)
    assert ann and ann[0]["vec_id"] == 200


def test_embedding_near_dups_exact_and_lsh(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    # plant two near-duplicate pairs
    rows.append((120, [v + 0.005 for v in rows[3][1]]))
    rows.append((121, [v - 0.005 for v in rows[9][1]]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = dedup.embedding_near_dups(e, threshold=0.99).collect()
    exact_pairs = {(r["doc1"], r["doc2"]) for r in exact}
    assert (3, 120) in exact_pairs and (9, 121) in exact_pairs
    # LSH-blocked scale path: candidates are a subset of the exact pairs,
    # and tiny-angle near-dups share a bucket so the planted pairs survive
    lsh = dedup.embedding_near_dups(e, threshold=0.99, lsh_planes=6).collect()
    lsh_pairs = {(r["doc1"], r["doc2"]) for r in lsh}
    assert lsh_pairs <= exact_pairs
    assert (3, 120) in lsh_pairs and (9, 121) in lsh_pairs


def test_embedding_near_dups_engines_agree(spark):
    """The blocked-GEMM exact engine must return the identical pair set
    and round-6 values as the JVM HOF pair-join."""
    import random

    rng = random.Random(99)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(150)
    ]
    rows.append((150, [v + 0.003 for v in rows[2][1]]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    hof = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(
            e, threshold=0.5, engine="hof"
        ).collect()
    }
    # default exact mode routes through the blocked-GEMM engine
    gemm = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(e, threshold=0.5).collect()
    }
    assert set(hof) == set(gemm)
    assert (2, 150) in gemm
    for k, v in hof.items():
        assert gemm[k] == pytest.approx(v, abs=2e-6)


def test_embedding_near_dups_rejects_string_ids(spark):
    """Explicit engine='gemm' needs integral ids (np.minimum ordering +
    long output schema) — a string id must fail loudly, not
    lexicographically. engine='auto' instead falls back to the HOF path
    for non-integral ids (round-3 ADVICE: auto previously raised)."""
    e = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])],
        "vec_id string, embedding array<float>",
    )
    with pytest.raises(TypeError, match="integral"):
        dedup.embedding_near_dups(e, threshold=0.5, engine="gemm")
    # the HOF reference engine handles non-numeric ids
    rows = dedup.embedding_near_dups(
        e, threshold=0.5, engine="hof"
    ).collect()
    assert [(r["doc1"], r["doc2"]) for r in rows] == [("a", "b")]
    # auto routes string ids to the HOF path instead of raising
    auto = dedup.embedding_near_dups(e, threshold=0.5).collect()
    assert [(r["doc1"], r["doc2"]) for r in auto] == [("a", "b")]
    # auto + lsh_planes with string ids also takes the HOF bucket path
    auto_lsh = dedup.embedding_near_dups(
        e, threshold=0.5, lsh_planes=2, dim=2
    ).collect()
    assert [(r["doc1"], r["doc2"]) for r in auto_lsh] == [("a", "b")]


def test_ivf_ann_finds_planted_neighbor(spark):
    import random

    rng = random.Random(21)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    base = rows[5][1]
    rows.append((200, [v + 0.01 for v in base]))  # near-dup of vec 5
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf = similarity.brute_force_topk(e, 5, k=1).collect()[0]
    assert bf["vec_id"] == 200
    ann = similarity.ivf_ann_topk(e, 5, k=5, n_lists=4, n_probe=2).collect()
    # a tiny-distance neighbor lands in the query's own inverted list
    assert ann and ann[0]["vec_id"] == 200
    # candidates really were restricted to the probed lists
    assert len({r["list_id"] for r in ann}) <= 2


def test_chunk_dup_stats(spark):
    """Planted chunk sharing: doc 1 repeats doc 0's first 10-word chunk;
    doc 2 is fully unique. Ratios must match the brute-force count."""
    c0 = " ".join(f"a{i}" for i in range(10))
    c1 = " ".join(f"b{i}" for i in range(10))
    c2 = " ".join(f"c{i}" for i in range(10))
    rows = [
        (0, f"{c0} {c1}"),   # chunks: c0, c1
        (1, f"{c0} {c2}"),   # chunks: c0 (dup), c2
        (2, " ".join(f"z{i}" for i in range(20))),  # unique chunks
        (3, "too short"),    # < 10 words → excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.chunk_dup_stats(df).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["n_chunks"] == 2 and out[0]["n_dup_chunks"] == 1
    assert out[0]["dup_ratio"] == pytest.approx(0.5)
    assert out[1]["n_dup_chunks"] == 1
    assert out[2]["n_dup_chunks"] == 0 and out[2]["dup_ratio"] == 0.0


def test_decontaminate_overlap(spark):
    """A doc copying an 8-gram from the benchmark must be flagged; an
    unrelated doc must be absent; the gram join must be a broadcast."""
    bench_text = " ".join(f"e{i}" for i in range(12))
    rows = [
        (0, bench_text),                                  # the benchmark doc
        (1, "x0 x1 " + " ".join(f"e{i}" for i in range(8)) + " x2"),
        (2, " ".join(f"q{i}" for i in range(15))),        # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where(F.col("doc_id") == 0)
    out = dedup.decontaminate_overlap(df, bench)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    got = {r["doc_id"]: r for r in out.collect()}
    assert 1 in got and got[1]["contaminated"]
    assert got[1]["n_overlap"] == 1
    assert 2 not in got
    assert 0 in got  # the benchmark doc trivially overlaps itself


def test_repetition_stats(spark):
    """Planted repetition: 'a b a b a b' has 5 bigrams — 'a b' x3,
    'b a' x2 — so top=3/5 and all occurrences are duplicated; a
    no-repeat doc scores 1/n and 0."""
    rows = [
        (0, "a b a b a b"),
        (1, "u v w x y z"),
        (2, "solo"),  # < 2 words → excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_grams"] == 5
    assert out[0]["top_gram_frac"] == pytest.approx(0.6)
    assert out[0]["dup_gram_frac"] == pytest.approx(1.0)
    assert out[1]["n_grams"] == 5
    assert out[1]["top_gram_frac"] == pytest.approx(0.2)
    assert out[1]["dup_gram_frac"] == 0.0


def test_repetition_stats_single_space_tokenization(spark):
    """repetition_stats must share dedup's single-space split (the t5
    oracle convention): 'a  b' splits to ['a', '', 'b'] — 2 bigrams
    ('a ' and ' b'), NOT 1 — and a leading space adds an empty token.
    Guards the ADVICE-r2 divergence where \\s+ tokenization silently
    disagreed with the oracle on multi-space docs."""
    rows = [(0, "a  b"), (1, " x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert out[0]["n_grams"] == 2  # ('a',''), ('','b')
    assert out[1]["n_grams"] == 2  # ('','x'), ('x','y')


def test_pii_scrub(spark):
    rows = [
        (0, "mail me at a.b+c@ex-ample.org or 192.168.0.1 thanks"),
        (1, "no pii here at all"),
        (2, "two mails x@y.io z@w.dev and ip 10.0.0.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.pii_scrub(df).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_ipv4"] == 1
    assert out[0]["scrubbed"] == "mail me at <EMAIL> or <IP> thanks"
    assert out[1]["n_emails"] == 0 and out[1]["scrubbed"] == rows[1][1]
    assert out[2]["n_emails"] == 2 and out[2]["n_ipv4"] == 1
    assert "<EMAIL>" in out[2]["scrubbed"]
    assert "@" not in out[2]["scrubbed"]


def test_near_dup_groups_transitive_closure(spark):
    """A~B and B~C must collapse to one group even without an A~C pair;
    disjoint pairs stay separate; labels are min-reachable-id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "doc1 long, doc2 long",
    )
    got = {
        (r["doc_id"], r["group_id"])
        for r in dedup.near_dup_groups(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_near_dup_groups_long_chain_converges(spark):
    """A 30-link chain needs many propagation rounds — exercises the
    fixpoint loop and the per-round lineage truncation (the naive
    persist-only version OOMed on plan growth by round 3). A bound of 0
    label rows sends any non-empty graph over several partitions to the
    loop."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc1 long, doc2 long"
    )
    rows = dedup.near_dup_groups(pairs, broadcast_label_rows=0).collect()
    assert len(rows) == 31
    assert {r["group_id"] for r in rows} == {0}


def test_gopher_gate_reason_precedence(spark):
    """too_short wins over repetition; repetition splits into top_gram
    vs dup_gram by threshold; clean docs keep with NULL reason."""
    from pgweasel_spark.operators.textstats import gopher_gate

    rows = [
        (0, "short doc"),                                # too_short
        (1, " ".join(["a b"] * 30)),                     # top_gram 0.5+
        (2, " ".join(f"w{i}" for i in range(40))),       # clean
        # 25 distinct bigram pairs, each repeated twice -> top frac low,
        # dup frac 1.0
        (3, " ".join(f"x{i} y{i}" for i in range(25)) * 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_gate(df).collect()}
    assert out[0]["reason"] == "too_short" and not out[0]["keep"]
    assert out[1]["reason"] == "top_gram" and not out[1]["keep"]
    assert out[2]["reason"] is None and out[2]["keep"]
    assert out[3]["dup_gram_frac"] > 0.9


def test_blocked_gemm_max_block_rows_is_exact(spark):
    """max_block_rows raises n_blocks to bound per-task memory for the
    exact engine; the pair set must be identical to the default."""
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)
    ]
    rows.append((100, [v * 1.001 for v in rows[3][1]]))  # planted pair
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    default = sorted(
        map(
            tuple,
            dedup.embedding_near_dups_blocked(e, threshold=0.5).collect(),
        )
    )
    bounded = sorted(
        map(
            tuple,
            dedup.embedding_near_dups_blocked(
                e, threshold=0.5, max_block_rows=5
            ).collect(),
        )
    )
    assert bounded == default
    assert any(d1 == 3 and d2 == 100 for d1, d2, _ in bounded)


def test_vocab_topk_prefilter_is_exact(spark):
    """The sampled lower-bound prefilter must return the IDENTICAL
    top-k as the unpruned path (exactness is by construction: sampled
    counts lower-bound true counts, so the sampled k-th count never
    prunes a true top-k gram) — including when the sample is too small
    to yield k grams (bound degrades to 1, still exact)."""
    import random

    from pgweasel_spark.operators.textstats import vocab_top_ngrams

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(60)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, frac in [(10, 0.3), (25, 0.5), (500, 0.2)]:
        exact = [
            tuple(r)
            for r in vocab_top_ngrams(df, n=2, k=k).collect()
        ]
        pruned = [
            tuple(r)
            for r in vocab_top_ngrams(
                df, n=2, k=k, prefilter_sample=frac
            ).collect()
        ]
        assert pruned == exact, f"k={k} frac={frac}"


def test_gopher_gate_line_level_signals(spark):
    """Each line-level reject arm fires on its planted fixture, the
    extended precedence holds (earlier arms win), and disabling the
    line thresholds keeps the legacy schema byte-for-byte."""
    from pgweasel_spark.operators.textstats import gopher_gate

    clean_40 = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, clean_40),                                        # clean
        # ≥20 tokens, heavy '#' markup → symbol_ratio
        (1, " ".join(f"#t{i} word{i}" for i in range(15))),
        # every line starts with a bullet → bullet_lines
        (2, "\n".join(f"- item number {i} listed" for i in range(8))),
        # most lines end with an ellipsis → ellipsis_lines (lines are
        # long enough that the ellipses stay under the SYMBOL ratio,
        # which by precedence would otherwise fire first)
        (
            3,
            "\n".join(
                f"teaser number {i} " + " ".join(["waiting"] * 9) + "..."
                for i in range(8)
            ),
        ),
        # the same line repeated → dup_lines
        (4, "\n".join(["exactly the same line here"] * 10)),
        # ≥20 tokens of 1-char words → word_len below range
        (5, " ".join(["a"] * 30)),
        # precedence: too_short beats every line arm
        (6, "# short..."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        max_symbol_word_ratio=0.1,
        max_bullet_line_frac=0.9,
        max_ellipsis_line_frac=0.3,
        max_dup_line_frac=0.3,
        word_len_range=(2.0, 12.0),
        # planted fixtures repeat words by construction; disable the
        # repetition arms so the line arms are what's under test
        max_top_gram_frac=1.1,
        max_dup_gram_frac=1.1,
    )
    out = {r["doc_id"]: r for r in gopher_gate(df, **kw).collect()}
    assert out[0]["reason"] is None and out[0]["keep"]
    assert out[1]["reason"] == "symbol_ratio"
    assert out[2]["reason"] == "bullet_lines"
    assert out[2]["bullet_line_frac"] == 1.0
    assert out[3]["reason"] == "ellipsis_lines"
    assert out[4]["reason"] == "dup_lines"
    assert out[4]["dup_line_frac"] == 0.9  # 1 - 1/10
    assert out[5]["reason"] == "word_len"
    assert out[5]["mean_word_len"] == 1.0
    assert out[6]["reason"] == "too_short"
    assert all(not out[i]["keep"] for i in range(1, 7))

    # thresholds off → legacy schema, no line columns
    legacy = gopher_gate(df)
    assert legacy.columns == [
        "doc_id",
        "n_tokens",
        "top_gram_frac",
        "dup_gram_frac",
        "keep",
        "reason",
    ]


def test_simhash_build_index_roundtrip(spark, tmp_path):
    """A persisted signature table must feed simhash_near_dups via
    sig_col and reproduce the direct-computation pair set."""
    rows = [(i, f"w{i} x y z a b c") for i in range(20)] + [
        (100, "w0 x y z a b c")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "simhash_idx")
    df.select("doc_id", dedup.simhash60("text").alias("sh")).write.parquet(
        path
    )
    idx = spark.read.parquet(path)
    got = sorted(
        map(
            tuple,
            dedup.simhash_near_dups(
                idx, key_col="doc_id", sig_col="sh", max_hamming=3
            ).collect(),
        )
    )
    direct = sorted(
        map(tuple, dedup.simhash_near_dups(df, max_hamming=3).collect())
    )
    assert got == direct
    assert any(d1 == 0 and d2 == 100 for d1, d2, _ in got)


def test_embedding_near_dups_lsh_engines_agree(spark):
    """The bucketed-GEMM LSH path (default) must return the identical
    pair set and round-6 cosines as the HOF per-bucket pair join."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    rows.append((200, [v + 0.002 for v in rows[5][1]]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.5, lsh_planes=6, dim=16)
    hof = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(e, engine="hof", **kw).collect()
    }
    gemm = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(e, **kw).collect()
    }
    assert set(hof) == set(gemm)
    assert (5, 200) in gemm  # planted near-dup shares its bucket
    for k, v in hof.items():
        assert gemm[k] == pytest.approx(v, abs=2e-6)


def test_embedding_lsh_hot_bucket_is_salted_into_bounded_groups(spark):
    """A bucket larger than max_group_rows must be salted into sub-block
    PAIR groups — never one monolithic applyInPandas group (pandas groups
    cannot spill; at crawl scale one boilerplate-heavy bucket would OOM a
    worker). Plants 30 near-collinear vectors (identical sign pattern →
    one LSH bucket) with cap 8 and asserts ≥2 groups, per-group row
    bound, and a result identical to the uncapped single-group path and
    the HOF engine."""
    import random

    from pgweasel_spark.operators.dedup import _bucket_subblock_pairs
    from pgweasel_spark.operators.similarity import lsh_bucket

    rng = random.Random(11)
    # same direction up to tiny jitter → same sign pattern → one bucket
    u = [rng.uniform(0.5, 1.0) for _ in range(16)]
    rows = [
        (i, [v * (1.0 + 0.001 * i) + rng.uniform(-1e-4, 1e-4) for v in u])
        for i in range(30)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = e.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("bucket", lsh_bucket("v", n_planes=6, dim=16))
    assert base.select("bucket").distinct().count() == 1  # hot bucket

    cap = 8
    groups = (
        _bucket_subblock_pairs(base, cap)
        .groupBy("bucket", "pk.p1", "pk.p2")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(groups) >= 2  # the bucket was split, not monolithic
    # cross groups hold two sub-blocks, self groups one — both bounded
    # by ~2·cap (hash assignment is uniform, allow slack for variance)
    assert max(r["n"] for r in groups) <= 3 * cap
    # every row pair is covered exactly once: cross groups see both
    # sub-blocks, and n_sub matches ceil(30 / 8) = 4 → 10 groups max
    assert len(groups) <= 10

    kw = dict(threshold=0.9, lsh_planes=6, dim=16)
    capped = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(
            e, max_group_rows=cap, **kw
        ).collect()
    }
    uncapped = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(e, **kw).collect()
    }
    hof = {
        (r["doc1"], r["doc2"]): r["cosine_sim"]
        for r in dedup.embedding_near_dups(e, engine="hof", **kw).collect()
    }
    assert set(capped) == set(uncapped) == set(hof)
    assert len(capped) == 30 * 29 // 2  # all near-collinear pairs found
    for k, v in uncapped.items():
        assert capped[k] == pytest.approx(v, abs=2e-6)


def test_near_dup_groups_random_graphs_match_union_find(spark):
    """Every finishing path must equal a plain-Python union-find on
    random pair graphs (varied density, incl. isolated pairs, stars and
    chains by construction of the random draw), however the pairs are
    spread over partitions. One partition takes the one-contraction
    path whatever the bound; over several, the default bound takes the
    second contraction and a bound of 0 the propagation loop."""
    import random

    for seed, n_nodes, n_edges in [(1, 40, 15), (2, 60, 60), (3, 25, 80)]:
        rng = random.Random(seed)
        pairs = set()
        while len(pairs) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comp = {}
        for x in parent:
            comp.setdefault(find(x), []).append(x)
        expected = {
            x: min(members)
            for members in comp.values()
            for x in members
        }
        for n_parts in (1, 4, 16, 64):
            df = spark.createDataFrame(
                sorted(pairs), "doc1 long, doc2 long"
            ).repartition(n_parts)
            for bound in (2_000_000, 0):
                got = {
                    r["doc_id"]: r["group_id"]
                    for r in dedup.near_dup_groups(
                        df, broadcast_label_rows=bound
                    ).collect()
                }
                assert got == expected, f"{seed=} {n_parts=} {bound=}"


def test_semantic_decontaminate(spark):
    """Map-only broadcast GEMM decontamination: benchmark members score
    1.0 against themselves, a near-copy crosses the threshold, an
    orthogonal vector does not; ties resolve to the smallest benchmark
    id; empty benchmark → nothing contaminated."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # benchmark member
        (1, [0.0, 1.0, 0.0, 0.0]),   # benchmark member
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-copy of 0
        (3, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to benchmark
        # equidistant from both benchmark vectors → tie → bid 0
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bench = e.where(F.col("vec_id") <= 1)
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_decontaminate(
            e, bench, threshold=0.9
        ).collect()
    }
    assert out[0]["max_cosine"] == 1.0 and out[0]["contaminated"]
    assert out[0]["nearest_benchmark_id"] == 0
    assert out[2]["contaminated"] and out[2]["nearest_benchmark_id"] == 0
    assert out[3]["max_cosine"] == 0.0 and not out[3]["contaminated"]
    assert out[4]["nearest_benchmark_id"] == 0  # tie → smallest id
    empty = dedup.semantic_decontaminate(
        e, bench.where(F.lit(False)), threshold=0.9
    ).collect()
    assert all(
        not r["contaminated"] and r["max_cosine"] is None for r in empty
    )


def test_near_dup_groups_empty_pairs(spark):
    empty = spark.createDataFrame([], "doc1 long, doc2 long")
    assert dedup.near_dup_groups(empty).collect() == []
    # every partition empty, and a few partitions holding all the pairs
    assert dedup.near_dup_groups(empty.repartition(8)).collect() == []
    sparse = spark.sparkContext.parallelize([(1, 2), (3, 4)], 16).toDF(
        "doc1 long, doc2 long"
    )
    assert sorted(map(tuple, dedup.near_dup_groups(sparse).collect())) == [
        (1, 1), (2, 1), (3, 3), (4, 3),
    ]


def test_near_dup_groups_string_keys(spark):
    """The key type survives the mapInPandas contraction: string ids
    group by their own (lexicographic) min, self-pairs stay one-doc
    groups and null ends are ignored, on one partition and on several."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y"), ("s", "s"), ("q", None)],
        "doc1 string, doc2 string",
    )
    for n_parts in (3, 1):
        out = dedup.near_dup_groups(pairs.repartition(n_parts))
        assert out.schema["doc_id"].dataType.simpleString() == "string"
        assert out.schema["group_id"].dataType.simpleString() == "string"
        assert [tuple(r) for r in out.collect()] == [
            ("a", "a"), ("b", "a"), ("c", "a"),
            ("s", "s"), ("x", "x"), ("y", "x"),
        ], n_parts


def _interleaved_chain(spark, n):
    """A chain 0-1-...-n with one edge per partition, the edges ordered
    so that no two neighbouring partitions share a node: coalescing the
    partitions leaves nothing for the per-partition contraction to
    join."""
    order = sorted(range(n), key=lambda i: (i % 8, i))
    return spark.sparkContext.parallelize(
        [(i, i + 1) for i in order], n
    ).toDF("doc1 long, doc2 long")


def test_near_dup_groups_max_iter_raises(spark):
    """Hitting max_iter with labels still changing is an error, never a
    silent partial grouping; the same graph converges with the default
    max_iter. A bound of 0 label rows sends it to the loop."""
    pairs = _interleaved_chain(spark, 64)
    with pytest.raises(RuntimeError, match=r"1 rounds: \d+ labels"):
        dedup.near_dup_groups(pairs, max_iter=1, broadcast_label_rows=0)
    rows = dedup.near_dup_groups(pairs, broadcast_label_rows=0).collect()
    assert len(rows) == 65 and {r["group_id"] for r in rows} == {0}


def test_near_dup_groups_releases_round_checkpoints(spark):
    """Checkpointed blocks do not grow with the round count: each round
    frees its predecessor, the stars and edges are freed once read,
    leaving only the labels the returned frame reads. The contraction
    paths leave only the stars they read. Counts the persisted RDDs a
    call adds, so the cleaner freeing older ones cannot skew it."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    def cached_by(pairs, **kw):
        before = set(persisted().keySet())
        groups = dedup.near_dup_groups(pairs, **kw)
        groups.collect()
        return len(set(persisted().keySet()) - before)

    one_round = spark.createDataFrame([(1, 2)], "doc1 long, doc2 long")
    many_rounds = _interleaved_chain(spark, 64)
    one_partition = spark.sparkContext.parallelize([(1, 2), (2, 3)], 1)
    assert cached_by(one_round, broadcast_label_rows=0) == 1
    assert cached_by(many_rounds, broadcast_label_rows=0) == 1
    assert cached_by(one_partition.toDF("doc1 long, doc2 long")) == 1
    assert cached_by(many_rounds) == 1


def test_near_dup_groups_loop_broadcasts_labels_below_bound(
    spark, monkeypatch
):
    """Past the bound on ``stars`` rows the loop still broadcasts labels
    when the node count fits it. A star around node 0 over 4 partitions
    has 13 nodes and 16 ``stars`` rows (node 0 once per partition): a
    bound of 13 runs the loop with broadcast joins, 12 with shuffled
    ones, and both give the one group."""
    pairs = spark.sparkContext.parallelize(
        [(0, k) for k in range(1, 13)], 4
    ).toDF("doc1 long, doc2 long")
    broadcasts = []
    real = F.broadcast

    def counting(df):
        broadcasts.append(df)
        return real(df)

    monkeypatch.setattr(F, "broadcast", counting)
    for bound, broadcast in ((13, True), (12, False)):
        broadcasts.clear()
        rows = dedup.near_dup_groups(
            pairs, broadcast_label_rows=bound
        ).collect()
        assert [tuple(r) for r in rows] == [(k, 0) for k in range(13)]
        assert bool(broadcasts) is broadcast, bound


#: Spark jobs of ``near_dup_groups(...).collect()`` on a 64-link chain:
#: one partition finishes in the contraction's own job; over 16
#: partitions, a count and the second contraction.
GROUPS_JOBS_ONE_PARTITION = 1
GROUPS_JOBS_16_PARTITIONS = 2


def test_near_dup_groups_job_budget(spark):
    from tests.test_pipeline_resume import _jobs_run_by

    chain = [(i, i + 1) for i in range(64)]
    for n_parts, budget in (
        (1, GROUPS_JOBS_ONE_PARTITION),
        (16, GROUPS_JOBS_16_PARTITIONS),
    ):
        pairs = spark.sparkContext.parallelize(chain, n_parts).toDF(
            "doc1 long, doc2 long"
        )
        jobs = _jobs_run_by(
            spark, lambda: dedup.near_dup_groups(pairs).collect()
        )
        assert jobs == budget, n_parts


def test_sessionize_gap_semantics(spark):
    """Strictly-greater gap starts a new session; ties on ts are broken
    by the tiebreak column; per-session aggregates are exact."""
    from datetime import datetime

    from pgweasel_spark.operators.sessions import sessionize

    t = lambda m, s=0: datetime(2025, 1, 1, 10, m, s)
    rows = [
        (1, t(0), 100), (1, t(10), 101),        # same session (600s gap)
        (1, t(40, 1), 102),                     # 1801s > 1800 → new
        (2, t(0), 200), (2, t(30), 201),        # exactly 1800s → SAME
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {
        (r["user_id"], r["session_no"]): r
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["session_end"] == t(10)
    assert out[(1, 2)]["n_events"] == 1
    assert out[(2, 1)]["n_events"] == 2  # boundary gap does not split


def test_value_percentiles_exact_interpolation(spark):
    """Exact percentiles use PERCENTILE_CONT linear interpolation:
    p50 of [1..4] = 2.5; p95 of [1..4] = 1 + 0.95*3 = 3.85."""
    from pgweasel_spark.operators.aggregates import value_percentiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in (1, 2, 3, 4)], "g string, value double"
    )
    r = value_percentiles(df, "value", ["g"]).collect()[0]
    assert r["n"] == 4
    assert r["p50"] == pytest.approx(2.5)
    assert r["p95"] == pytest.approx(3.85)
    assert r["p99"] == pytest.approx(3.97)


def test_canonical_url_rules(spark):
    from pyspark.sql import functions as F

    from pgweasel_spark.operators.urls import canonical_url, url_dedup

    cases = {
        "HTTP://Example.COM:80/Path/?utm_source=x&id=3#frag":
            "http://example.com/Path?id=3",
        "http://example.com/Path?id=3": "http://example.com/Path?id=3",
        "https://Host.org:443/a/b/": "https://host.org/a/b",
        "http://h/?utm_a=1&utm_b=2&x=3": "http://h?x=3",
        "http://h/?utm_a=1&fbclid=zz": "http://h",
        "http://h/": "http://h",
        "http://h": "http://h",
        "http://h:8080/x": "http://h:8080/x",  # non-default port kept
        "relative/path#f": "relative/path",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select(
            "u", canonical_url(F.col("u")).alias("c")
        ).collect()
    }
    assert got == cases
    # dedup groups: the first two variants collapse to one keeper
    dd = spark.createDataFrame(
        [(1, "HTTP://Example.COM:80/Path/?utm_source=x&id=3#frag"),
         (2, "http://example.com/Path?id=3"),
         (3, "http://other.com/")],
        "doc_id long, url string",
    )
    groups = {
        r["canonical_url"]: (r["cnt"], r["keeper"])
        for r in url_dedup(dd).collect()
    }
    assert groups["http://example.com/Path?id=3"] == (2, 1)
    assert groups["http://other.com"] == (1, 3)


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) on a seeded random corpus
    of component-composed URLs — the invariant that lets pipelines store
    canonical forms and re-canonicalize mixed data safely."""
    import random

    from pyspark.sql import functions as F

    from pgweasel_spark.operators.urls import canonical_url

    rng = random.Random(31)
    schemes = ["http://", "HTTP://", "https://", "HtTpS://"]
    hosts = ["Example.COM", "h", "a.b.ORG:80", "x.io:443", "y.z:8080"]
    paths = ["", "/", "/A/b", "/A/b/", "/p%20q"]
    queries = [
        "", "?x=1", "?utm_source=a", "?utm_a=1&x=2&utm_b=3",
        "?x=1&&y=2", "?fbclid=9&gclid=8",
    ]
    frags = ["", "#f", "#a#b"]
    urls = [
        rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
        + rng.choice(queries) + rng.choice(frags)
        for _ in range(300)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    out = df.select(
        canonical_url(F.col("u")).alias("c1"),
    ).select(
        "c1", canonical_url(F.col("c1")).alias("c2")
    ).collect()
    bad = [(r["c1"], r["c2"]) for r in out if r["c1"] != r["c2"]]
    assert not bad, bad[:5]


def test_hash_split_deterministic_and_stable(spark):
    """Split assignment must be a pure function of (seed, key): same
    result across invocations, unchanged when new rows arrive, and the
    fractions roughly respect the configured proportions."""
    from pgweasel_spark.operators import sampling

    base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in sampling.hash_split(base).collect()}
    s2 = {r["doc_id"]: r["split"] for r in sampling.hash_split(base).collect()}
    assert s1 == s2
    # growth stability: the first 2000 docs keep their assignment
    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s3 = {r["doc_id"]: r["split"] for r in sampling.hash_split(grown).collect()}
    assert all(s3[k] == v for k, v in s1.items())
    # proportions near 90/5/5 (md5 uniformity; wide tolerance)
    from collections import Counter

    c = Counter(s1.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert c["val"] > 0 and c["test"] > 0
    # a different seed reshuffles membership
    s4 = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(base, seed="other").collect()
    }
    assert s4 != s1


def test_hash_split_is_map_only(spark):
    """The split column must be a pure projection — no exchange in the
    plan (at 10^12 docs a split assignment cannot cost a shuffle)."""
    from pgweasel_spark.operators import sampling

    df = sampling.hash_split(
        spark.range(0, 100).withColumnRenamed("id", "doc_id")
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_stratified_sample_deterministic_map_only(spark):
    """Per-group rates honored (approximately, deterministic hash),
    membership reproducible and stable under corpus growth, absent
    groups get the default, and the plan stays exchange-free."""
    from pgweasel_spark.operators import sampling

    base = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    fr = {"a": 0.5, "b": 0.1}
    s1 = {r["doc_id"] for r in sampling.stratified_sample(base, fr).collect()}
    s2 = {r["doc_id"] for r in sampling.stratified_sample(base, fr).collect()}
    assert s1 == s2  # deterministic
    a_kept = sum(1 for d in s1 if d % 2 == 0) / 1000
    b_kept = sum(1 for d in s1 if d % 2 == 1) / 1000
    assert abs(a_kept - 0.5) < 0.06 and abs(b_kept - 0.1) < 0.04
    # growth-stability: adding docs never flips existing membership
    grown = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    s3 = {r["doc_id"] for r in sampling.stratified_sample(grown, fr).collect()}
    assert {d for d in s3 if d < 2000} == s1
    # unknown group → default 0.0 → dropped
    extra = spark.createDataFrame(
        [(9999, "zzz")], "doc_id long, source string"
    )
    assert sampling.stratified_sample(extra, fr).count() == 0
    assert (
        sampling.stratified_sample(extra, fr, default=1.0).count() == 1
    )
    df = sampling.stratified_sample(base, fr)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_pack_token_shards_greedy_per_bucket(spark):
    """Within each bucket, shards are the greedy budget packing in
    key order: verified against a driver-side greedy reimplementation;
    every closed shard holds >= budget tokens and overflows by at most
    one doc; the only exchange is the bucket hash partition."""
    import random

    from pgweasel_spark.operators import sampling

    rng = random.Random(9)
    rows = [
        (i, " ".join("w" for _ in range(rng.randint(5, 120))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 200
    out = sampling.pack_token_shards(
        df, budget_tokens=budget, n_buckets=8
    ).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) > 1
    for bucket, docs in by_bucket.items():
        docs.sort(key=lambda r: r["doc_id"])
        # driver-side greedy replay
        cum, expect = 0, []
        for r in docs:
            expect.append(cum // budget)
            cum += r["n_tokens"]
        assert [r["shard"] for r in docs] == expect
        # overflow bound: a shard's total before its final doc is under
        # budget — i.e. it never exceeds budget by more than one doc
        totals = {}
        last_tok = {}
        for r in docs:
            totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
            last_tok[r["shard"]] = r["n_tokens"]
        for s, tot in totals.items():
            assert tot - last_tok[s] < budget
        # shard ids are non-decreasing in key order
        shard_seq = [r["shard"] for r in docs]
        assert shard_seq == sorted(shard_seq)


def test_tfidf_top_terms(spark):
    """Hand-checkable corpus: a term unique to one doc outranks shared
    terms; corpus-universal terms get tfidf 0; ties break by term;
    k truncates."""
    import math

    from pgweasel_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "shared rare rare"),
            (2, "shared other"),
            (3, "shared other zzz"),
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in tfidf_top_terms(df, k=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["rank"], r["term"], r["tfidf"])
        )
    # doc1: rare tf=2 df=1 → 2·ln(3); shared universal → 0
    assert out[1][0] == (1, "rare", round(2 * math.log(3.0), 6))
    assert out[1][1] == (2, "shared", 0.0)
    # doc2: other df=2 → ln(1.5) beats shared's 0
    assert out[2][0] == (1, "other", round(math.log(1.5), 6))
    # doc3: zzz (ln 3) > other (ln 1.5); shared cut by k=2
    assert [t for _, t, _ in out[3]] == ["zzz", "other"]
    assert all(len(v) == 2 for v in out.values())


def test_chunk_documents(spark):
    """Chunk boundaries, overlap and remainder semantics hand-checked;
    full coverage (every word in >=1 chunk); short docs yield exactly
    one chunk."""
    from pgweasel_spark.operators.textstats import chunk_documents

    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "tiny doc")],
        "doc_id long, text string",
    )
    out = {}
    for r in chunk_documents(df, chunk_words=10, overlap=4).collect():
        out.setdefault(r["doc_id"], []).append(r)
    # doc1: n=25, stride=6, n_chunks=ceil(21/6)=4
    c1 = sorted(out[1], key=lambda r: r["chunk_no"])
    assert [r["chunk_no"] for r in c1] == [0, 1, 2, 3]
    assert c1[0]["chunk_text"].split() == words[0:10]
    assert c1[1]["chunk_text"].split() == words[6:16]   # 4-word overlap
    assert c1[3]["chunk_text"].split() == words[18:25]  # remainder
    assert c1[3]["n_tokens"] == 7
    covered = set()
    for r in c1:
        covered.update(r["chunk_text"].split())
    assert covered == set(words)
    # short doc: one chunk, verbatim
    assert len(out[2]) == 1 and out[2][0]["chunk_text"] == "tiny doc"
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_words=10, overlap=10)


def test_unigram_logprob_score(spark):
    """Hand-checkable: rarer tokens raise a doc's mean NLL; a doc of
    only the commonest token scores the corpus minimum; n_tokens is
    the doc length."""
    import math

    from pgweasel_spark.operators.textstats import unigram_logprob_score

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b b"), (3, "a rare")],
        "doc_id long, text string",
    )
    # corpus: a=7, b=2, rare=1, total=10
    out = {r["doc_id"]: r for r in unigram_logprob_score(df).collect()}
    nll = lambda c: -math.log(c / 10.0)
    assert out[1]["mean_nll"] == round(nll(7), 6)
    assert out[2]["mean_nll"] == round((2 * nll(7) + 2 * nll(2)) / 4, 6)
    assert out[3]["mean_nll"] == round((nll(7) + nll(1)) / 2, 6)
    assert out[3]["mean_nll"] > out[2]["mean_nll"] > out[1]["mean_nll"]
    assert out[1]["n_tokens"] == 4
    # injected total skips the count job but must change nothing when
    # it equals the true total
    inj = {
        r["doc_id"]: r["mean_nll"]
        for r in unigram_logprob_score(df, total_tokens=10).collect()
    }
    assert inj == {k: v["mean_nll"] for k, v in out.items()}


def test_vocab_top_ngrams(spark):
    """Counts every occurrence (not distinct-per-doc), deterministic
    tie-break, top-k honored."""
    from pgweasel_spark.operators.textstats import vocab_top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d"), (3, "x y")],
        "doc_id long, text string",
    )
    rows = vocab_top_ngrams(df, n=2, k=3).collect()
    assert [(r["gram"], r["cnt"]) for r in rows] == [
        ("a b", 4),   # 3 in doc1 + 1 in doc2
        ("b a", 2),
        ("b c", 1),   # ties at 1 broken alphabetically
    ]


def test_quantile_quality_gate(spark):
    """Each group's own bottom quartile is cut: a score that survives in
    a weak group must fail in a strong one, and the threshold join stays
    broadcast (corpus side map-only)."""
    rows = (
        [(i, "weak", float(i)) for i in range(8)]        # scores 0..7
        + [(100 + i, "strong", 10.0 + i) for i in range(8)]  # 10..17
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = textstats.quantile_quality_gate(
        df, score_col="score", group_col="source", q=0.25
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # q=0.25 over 8 values interpolates at rank 1.75 -> 1.75
    assert got[0]["group_threshold"] == 1.75
    assert not got[0]["keep"] and not got[1]["keep"]
    assert got[2]["keep"]  # 2.0 >= 1.75
    # same absolute score (11.0) keeps in weak terms but the strong
    # group judges it against ITS OWN threshold (11.75)
    assert got[101]["group_threshold"] == 11.75
    assert not got[101]["keep"] and got[102]["keep"]
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_unigram_total_tokens_maponly_equals_freq_sum(spark):
    """r6 shape fix: the fallback corpus total is now a map-only
    Σ size(words) instead of a second tokenize+tf+freq pass — must
    equal Σ_term cnt exactly, including the single-space-split edge
    conventions (empty text = one empty token, a double space yields
    an empty middle token)."""
    from pyspark.sql import functions as F

    from pgweasel_spark.operators.dedup import words
    from pgweasel_spark.operators.textstats import unigram_logprob_score

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "x  y")],
        "doc_id long, text string",
    )
    freq_total = (
        df.select(F.explode(words(F.col("text"))).alias("term"))
        .groupBy("term")
        .count()
        .agg(F.sum("count"))
        .first()[0]
    )
    map_total = df.select(
        F.sum(F.size(words(F.col("text"))))
    ).first()[0]
    assert freq_total == map_total == 7
    # operator fallback path == explicitly injected true total
    a = sorted(
        (r["doc_id"], r["mean_nll"], r["n_tokens"])
        for r in unigram_logprob_score(df).collect()
    )
    b = sorted(
        (r["doc_id"], r["mean_nll"], r["n_tokens"])
        for r in unigram_logprob_score(df, total_tokens=7).collect()
    )
    assert a == b


def test_near_dup_groups_duplicate_pairs_same_groups(spark):
    """Duplicated and reversed input pairs give the same groups as the
    unique pair list: a node's star row repeats across partitions
    whatever the input, and the second contraction absorbs them."""
    unique = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    dup = unique + [(1, 2), (3, 2), (2, 1), (22, 21), (10, 11)]
    expected = [
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    ]
    for rows, n_parts in ((unique, 1), (dup, 1), (dup, 4), (dup, 10)):
        pairs = spark.sparkContext.parallelize(rows, n_parts).toDF(
            "doc1 long, doc2 long"
        )
        got = sorted(map(tuple, dedup.near_dup_groups(pairs).collect()))
        assert got == expected, n_parts


def _rows_hash(frame):
    """Order-insensitive value hash of a frame: columns by name, rows
    sorted, floats as stored (the operators round to 6 places)."""
    import hashlib

    cols = sorted(frame.columns)
    lines = sorted(
        "\x1f".join(repr(r[c]) for c in cols) for r in frame.collect()
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def test_tfidf_top_terms_values_pinned(docs):
    """Every (doc, rank, term, tfidf) of the top-3 terms on the six-doc
    fixture, pinned by hash: tokenization, tie order (term ASC) and the
    6-place rounding all show in it. t11's DuckDB oracle runs only in
    ``tools/selfcheck_entry.py``, which no test runs."""
    out = textstats.tfidf_top_terms(docs, k=3)
    assert out.count() == 18
    assert _rows_hash(out) == "58fb04e1f11ea698"


def test_unigram_logprob_score_values_pinned(docs):
    """Every doc's (mean_nll, n_tokens) on the six-doc fixture, pinned
    by hash. t12's DuckDB oracle runs only in
    ``tools/selfcheck_entry.py``, which no test runs."""
    out = textstats.unigram_logprob_score(docs)
    assert out.count() == 6
    assert _rows_hash(out) == "3349f5bd6b7594d8"
