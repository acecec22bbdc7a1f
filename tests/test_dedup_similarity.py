"""Dedup + similarity operators: semantic sanity on crafted docs/vectors
(the cross-engine value parity is covered by tools/check_oracle.py and the
driver gate; these tests pin the *semantics*)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from distributed_webcrawler_spark.operators import dedup as D
from distributed_webcrawler_spark.operators import similarity as S

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2, "the quick brown fox jumps over the lazy dog and runs away fast"),   # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 1
    (4, "completely different content about spark dataframes and shuffles"),
    (5, "zzz qqq xxx vvv kkk jjj yyy www uuu ttt sss rrr"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact(spark):
    out = {r.keep_id: r.dup_count for r in D.dedup_exact(_docs(spark)).collect()}
    assert out[1] == 2           # docs 1+2 collapse, min id kept
    assert out[3] == 1 and out[4] == 1 and out[5] == 1
    assert 2 not in out


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.ngram_jaccard_pairs(_docs(spark), k=5, max_chars=100,
                                            threshold=0.3, max_df=10).collect()}
    assert pairs[(1, 2)] == 1.0            # identical
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_candidates(spark):
    pairs = {(r.id_a, r.id_b): r.est_sim
             for r in D.minhash_lsh_pairs(_docs(spark), n_hashes=8, band_size=2,
                                          k=5, max_chars=100, min_est=0.25).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs                  # near-dups share a band
    assert (4, 5) not in pairs


def test_simhash_groups(spark):
    sig = {r.id: r.simhash for r in D.simhash16(_docs(spark), max_chars=100).collect()}
    assert sig[1] == sig[2]
    d13 = bin(sig[1] ^ sig[3]).count("1")
    d14 = bin(sig[1] ^ sig[4]).count("1")
    assert d13 < d14                        # near-dup closer than unrelated
    dup = {r.simhash: (r.n_docs, r.keep_id)
           for r in D.simhash_dup_groups(_docs(spark)).collect()}
    assert any(n >= 2 and k == 1 for n, k in dup.values())


def _vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=16)
    rows = []
    for i in range(20):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in (base + rng.normal(scale=0.01, size=16))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_finds_planted_neighbor(spark):
    vecs = _vectors(spark)
    out = S.brute_force_topk(vecs.where(F.col("vec_id") == 100), vecs, k=1)
    row = out.collect()[0]
    assert row.neighbor_id == 101 and row.sim > 0.99


def test_lsh_buckets_colocate_planted_pair(spark):
    vecs = _vectors(spark)
    sig = S.lsh_signature(vecs, n_planes=4, dim=16)
    buckets = {r.id: r.bucket for r in sig.collect()}
    assert buckets[100] == buckets[101]     # near-identical vectors share bucket
    out = S.lsh_topk(vecs, k=1, n_planes=4, dim=16)
    got = {r.query_id: r.neighbor_id for r in out.collect()}
    assert got.get(100) == 101


def test_embedding_near_dup_pairs(spark):
    vecs = _vectors(spark)
    pairs = [(r.id_a, r.id_b) for r in S.embedding_near_dup_pairs(vecs, threshold=0.95).collect()]
    assert pairs == [(100, 101)]


def test_simhash_banded_pairs_finds_hamming_near_dups(spark):
    """Banded 60-bit simhash must surface near-dups at Hamming <= 3 that
    identical-signature bucketing (dedup_simhash) misses, with zero false
    accepts: verify against the brute-force Hamming over full signatures."""
    import itertools

    docs = _docs(spark)
    sigs = {r.id: r.simhash for r in D.simhash_wide(docs, max_chars=200).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
            want.add((a, b))
    got = {(r.id_a, r.id_b): r.hamming
           for r in D.simhash_banded_pairs(docs, max_hamming=3, max_chars=200).collect()}
    # banding guarantee: hamming <= n_bands-1 pairs ALWAYS found (pigeonhole);
    # pairs at exactly max_hamming == n_bands-1 are also guaranteed
    assert set(got) == want
    for (a, b), ham in got.items():
        assert ham == bin(sigs[a] ^ sigs[b]).count("1")
    # exact dup pair (1,2) must be found at hamming 0
    assert got.get((1, 2)) == 0


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    """The banded-LSH near-dup path returns a SUBSET of the exact all-pairs
    result (bucketing can only lose pairs, never invent them), finds the
    planted near-identical pair, and its plan is an equi-join (no
    CartesianProduct / BroadcastNestedLoop)."""
    vecs = _vectors(spark)
    exact = {(r.id_a, r.id_b): r.sim
             for r in S.embedding_near_dup_pairs(vecs, threshold=0.95).collect()}
    lsh_df = S.embedding_near_dup_lsh(vecs, threshold=0.95, n_bands=4,
                                      band_planes=4, dim=16)
    lsh = {(r.id_a, r.id_b): r.sim for r in lsh_df.collect()}
    assert set(lsh) <= set(exact)
    assert (100, 101) in lsh                      # planted pair found
    for k, v in lsh.items():
        assert v == exact[k]                      # same exact cosine inside buckets
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def _shuffle_exchanges(df):
    """(partitioning, output column types) of every shuffle exchange in
    df's physical plan (built with AQE off, so exchanges are plain nodes)."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            attrs = node.output()
            out.append((node.outputPartitioning().toString(),
                        [attrs.apply(i).dataType().typeName() for i in range(attrs.size())]))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_embedding_near_dup_lsh_bands_move_ids_only(spark):
    """The band self-join and the candidate dedup shuffle ids only: no
    array column reaches an exchange keyed by band, and the vectors join
    back once per distinct candidate pair."""
    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1", "spark.sql.adaptive.enabled": "false"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        lsh_df = S.embedding_near_dup_lsh(_vectors(spark), threshold=0.95, n_bands=4,
                                          band_planes=4, dim=16)
        exchanges = _shuffle_exchanges(lsh_df)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    band = [types for part, types in exchanges if "band" in part]
    assert band, exchanges
    assert all("array" not in types for types in band)
    assert any("array" in types for _, types in exchanges)   # the join-back


def test_semdedup_pairs_cluster_scoped_drop_rule(spark):
    """SemDeDup: candidate pairs come only from within a k-means cell, the
    planted near-identical pair is found, and the drop choice is the member
    CLOSER to its cluster centroid (the paper keeps the low-centroid-
    similarity example); the pair search is an equi-join on cell, never a
    CartesianProduct."""
    vecs = _vectors(spark)
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in vecs.collect()}
    # centroid 0 IS vector 100, so cs(100) = 1.0 > cs(101) -> drop 100
    cents = [(0, [float(x) for x in rows[100]]),
             (1, [float(x) for x in rows[4]])]
    out = S.semdedup_pairs(vecs, cents, threshold=0.95)
    got = {(r.id_a, r.id_b): (r.sim, r.drop_id) for r in out.collect()}
    assert (100, 101) in got
    sim, drop = got[(100, 101)]
    assert sim > 0.99 and drop == 100
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_minhash_incremental_cross_side_only(spark):
    docs = _docs(spark)
    # batch = docs 2 and 3 (a dup and a near-dup of corpus doc 1); corpus = rest
    batch = docs.where(F.col("doc_id").isin(2, 3))
    corpus = docs.where(~F.col("doc_id").isin(2, 3))
    out = {r.doc_id: (r.match_id, r.est_sim)
           for r in D.minhash_lsh_incremental(batch, corpus, n_hashes=8, band_size=2,
                                              k=5, max_chars=100, min_est=0.25).collect()}
    assert out[2] == (1, 1.0)              # exact dup -> best match is doc 1
    assert out[3][0] == 1 and out[3][1] >= 0.25
    assert set(out) <= {2, 3}              # only batch ids ever flagged
    # one row per flagged batch doc (best-match pick, not all candidates)
    rows = D.minhash_lsh_incremental(batch, corpus, n_hashes=8, band_size=2,
                                     k=5, max_chars=100, min_est=0.25).collect()
    assert len(rows) == len(out)


def test_paragraph_dedup_global_first_wins(spark):
    """Lee et al. 2022 / CCNet paragraph dedup: only the globally first
    (doc_id, pos) instance of a paragraph survives; docs rebuild from
    surviving paragraphs in original order; all-dup docs rebuild to ''."""
    docs = spark.createDataFrame([
        (1, "alpha unique lead\nshared footer line\nbeta tail"),
        (2, "gamma unique lead\nshared footer line"),
        (3, "shared footer line"),
        (4, "alpha unique lead\ndelta tail"),  # lead dups doc 1 pos 0
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in D.paragraph_dedup(docs).collect()}
    assert (out[1].n_paras, out[1].n_removed) == (3, 0)
    assert out[1].clean_text == "alpha unique lead\nshared footer line\nbeta tail"
    assert (out[2].n_paras, out[2].n_removed) == (2, 1)
    assert out[2].clean_text == "gamma unique lead"
    assert (out[3].n_paras, out[3].n_removed) == (1, 1)
    assert out[3].clean_text == ""
    assert (out[4].n_paras, out[4].n_removed) == (2, 1)
    assert out[4].clean_text == "delta tail"


def test_substring_dup_spans_window_profile(spark):
    """Lee et al. 2022 exact-substring profile: a k-token window repeated
    anywhere in the corpus (cross-doc or within-doc) counts as duplicated
    for every document that holds it; unique-window docs report dup_frac 0;
    short docs (< k tokens) emit no row."""
    k = 4
    shared = "one two three four"                     # the duplicated window
    docs = spark.createDataFrame([
        (1, f"{shared} aaa bbb ccc"),                 # 1 dup window of 4
        (2, f"xxx yyy {shared}"),                     # 1 dup window of 3
        (3, f"{shared} zzz {shared}"),                # within-doc repeat too
        (4, "pp qq rr ss tt uu"),                     # all unique windows
        (5, "too short"),                             # < k tokens: no row
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in D.substring_dup_spans(docs, k=k).collect()}
    assert 5 not in out and set(out) == {1, 2, 3, 4}
    assert (out[1].n_windows, out[1].dup_windows) == (4, 1)
    assert (out[2].n_windows, out[2].dup_windows) == (3, 1)
    # doc 3: 9 tokens -> 6 windows; the two 'one two three four' copies both dup
    assert out[3].n_windows == 6 and out[3].dup_windows == 2
    assert out[3].max_occ == 4                        # window occurs 4x corpus-wide
    assert (out[4].dup_windows, out[4].max_occ) == (0, 1)
    assert abs(out[4].dup_frac) < 1e-9


def test_embedding_quantize_int8_roundtrip(spark):
    df = spark.createDataFrame([
        (1, [0.5, -1.0, 0.25, 0.0]),          # maxabs 1.0 -> scale 1/127
        (2, [0.0, 0.0, 0.0, 0.0]),            # all-zero -> scale 0, q all 0
        (3, [127.0, -127.0, 63.5, -0.1]),     # big dynamic range
    ], "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in S.embedding_quantize_int8(df).collect()}
    # clamp bounds + dim preserved
    for r in out.values():
        qs = [int(x) for x in r.q_csv.split(",")]
        assert len(qs) == 4 and all(-127 <= q <= 127 for q in qs)
        assert r.q_l1 == sum(abs(q) for q in qs)
    # symmetric quantization maps maxabs -> +/-127 exactly
    assert [int(x) for x in out[1].q_csv.split(",")][1] == -127
    assert [int(x) for x in out[3].q_csv.split(",")][:2] == [127, -127]
    # dequantize error bounded by half a step
    for r in (out[1], out[3]):
        assert r.recon_err <= r.scale / 2 + 1e-9
    assert out[2].scale == 0.0 and out[2].q_csv == "0,0,0,0"
    assert out[2].q_l1 == 0 and out[2].recon_err == 0.0


def test_spread_for_explode_guard(spark):
    """Narrow input spreads to defaultParallelism; already-wide input is
    untouched (the no-op guard that makes the helper scale-safe)."""
    narrow = spark.createDataFrame([(i, f"t{i}") for i in range(100)],
                                   "doc_id long, text string").coalesce(1)
    spread = D.spread_for_explode(narrow)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values unchanged (round-robin only moves rows)
    assert sorted(r.doc_id for r in spread.collect()) == list(range(100))
    wide = narrow.repartition(spark.sparkContext.defaultParallelism + 4)
    assert D.spread_for_explode(wide) is wide


def test_shingle_stream_signature_parity(spark):
    """MinHash signatures from the non-distinct shingle stream are
    identical to those from the distinct shingle table (min-aggregation is
    duplicate-insensitive) — the invariant that justifies skipping the
    distinct exchange."""
    docs = _docs(spark)
    via_stream = D.minhash_signatures(docs, n_hashes=8, k=4, max_chars=100)
    via_table = D.minhash_signatures(
        docs, n_hashes=8, k=4, max_chars=100,
        sh=D.shingle_table(docs, 4, 100))
    a = {tuple(r) for r in via_stream.collect()}
    b = {tuple(r) for r in via_table.collect()}
    assert a == b


def test_cosine_arrow_matches_hof(spark):
    """Arrow-vectorized cosine agrees with the JVM higher-order-function
    form at the shared round-6 contract, including negative components and
    non-unit norms."""
    from distributed_webcrawler_spark.functions.vectors import cosine, cosine_arrow

    rows = [(i, [((i * 7 + d * 13) % 17 - 8) / 3.0 for d in range(8)],
             [((i * 5 + d * 11) % 19 - 9) / 4.0 for d in range(8)])
            for i in range(1, 60)]
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>")
    out = df.select(
        cosine(F.col("a"), F.col("b")).alias("hof"),
        cosine_arrow(F.col("a"), F.col("b")).alias("arrow")).collect()
    for r in out:
        assert abs(r.hof - r.arrow) < 1e-9, (r.hof, r.arrow)


def test_cosine_arrow_null_and_ragged_rows_match_hof(spark):
    """A null vector, a ragged pair or a null component yields null in
    both forms instead of failing the Python worker; normal rows in the
    same batch keep their value."""
    from distributed_webcrawler_spark.functions.vectors import cosine, cosine_arrow

    rows = [(1, [1.0, 2.0], [2.0, 1.0]), (2, None, [1.0, 0.0]), (3, [1.0, 0.0], None),
            (4, [1.0, 2.0, 3.0], [1.0, 2.0]), (5, [1.0, None], [1.0, 1.0]),
            (6, [3.0], [2.0]), (7, [0.5, -1.0, 2.0], [1.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    out = df.select(
        "id", cosine(F.col("a"), F.col("b")).alias("hof"),
        cosine_arrow(F.col("a"), F.col("b")).alias("arrow")).orderBy("id").collect()
    assert [r.hof for r in out] == [r.arrow for r in out]
    assert [r.id for r in out if r.arrow is None] == [2, 3, 4, 5]


def test_cosine_zero_norm_and_empty_rows_are_null(spark):
    """A zero-norm or empty vector yields null in both forms under ANSI
    (no DIVIDE_BY_ZERO failing the query); normal rows keep their value."""
    from distributed_webcrawler_spark.functions.vectors import cosine, cosine_arrow

    rows = [(1, [0.0, 0.0], [1.0, 2.0]), (2, [1.0, 2.0], [0.0, 0.0]), (3, [], []),
            (4, [3.0, 4.0], [4.0, 3.0])]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    out = df.select(
        "id", cosine(F.col("a"), F.col("b")).alias("hof"),
        cosine_arrow(F.col("a"), F.col("b")).alias("arrow")).orderBy("id").collect()
    assert [r.hof for r in out] == [r.arrow for r in out] == [None, None, None, 0.96]


def test_round_half_away_matches_spark_round(spark):
    """The numpy rounding helper equals Spark's F.round (HALF_UP) on exact
    dyadic ties (k/128 at 6 decimals, k/64 at 5), where np.round's
    ties-to-even gives the other neighbour, and on random doubles."""
    from distributed_webcrawler_spark.functions.vectors import round_half_away

    ties = [(k / 128.0, 6) for k in range(-300, 301)] + [(k / 64.0, 5) for k in range(-150, 151)]
    rng = np.random.default_rng(8)
    rand = [(float(x), 6) for x in rng.uniform(-1.0, 1.0, 2000)]
    rows = [(i, x, d) for i, (x, d) in enumerate(ties + rand)]
    df = spark.createDataFrame(rows, "i int, x double, d int")
    got = {r.i: (r.r6, r.r5) for r in df.select(
        "i", F.round("x", 6).alias("r6"), F.round("x", 5).alias("r5")).collect()}
    xs = np.array([x for _, x, _ in rows])
    for d, pick in ((6, 0), (5, 1)):
        idx = [i for i, _, dd in rows if dd == d]
        mine = round_half_away(xs[idx], d)
        spark_r = np.array([got[i][pick] for i in idx])
        assert np.array_equal(mine, spark_r), (d, xs[idx][mine != spark_r])
    assert round_half_away(1 / 128, 6) == 0.007813 and round_half_away(-3 / 128, 6) == -0.023438
    assert np.round(1 / 128, 6) == 0.007812  # the ties-to-even result the helper replaces


def test_semdedup_pairs_singleton_cell_empty(spark):
    """A cell with fewer than two members emits no pairs and the schema
    survives (the applyInPandas empty-frame branch)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]  # each vector alone in its cell
    out = S.semdedup_pairs(df, cents, threshold=0.0)
    assert out.count() == 0
    assert out.columns == ["cell", "id_a", "id_b", "sim", "drop_id"]
