"""Deduplication operators for the training-data pipeline over ``documents``.

Five families, each a DataFrame->DataFrame transform built from built-in
functions only (portable to the DuckDB oracle, JVM-side execution):

- exact            hash-groupBy on full text (one shuffle on h64(text))
- ngram_jaccard    character-shingle self-join with stop-shingle pruning
- minhash_lsh      MinHash signatures + LSH banding -> candidate pairs
- simhash          16-bit sign-of-weighted-sum signature -> bucket groups
- embedding cosine near-dup lives in operators/similarity.py

Scale design (100 TB corpus):
- exact dedup shuffles ONCE on the 60-bit text hash, never on raw text;
  Catalyst's partial/final HashAggregate halves the shuffle volume.
- the shingle join prunes shingles with doc-frequency > ``max_df`` (stop
  shingles): a shingle shared by m docs yields m^2 candidate pairs, so a
  frequency cap turns a quadratic blowup into a linear pass; the same cap
  is part of the operator's *semantics* and is mirrored in the oracle.
- MinHash/LSH is the sub-quadratic path: only docs sharing a band bucket
  are paired, so the join key is the band signature (uniformly distributed
  md5 strings -> no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import h64, minhash_min_expr, shingles


def spread_for_explode(df: DataFrame) -> DataFrame:
    """Round-robin the input up to the cluster's parallelism BEFORE an
    explode-heavy stage when the upstream scan carries fewer splits.

    An explode amplifies rows ~(chars/k)x, and everything codegen-fused
    into the explode's stage (substring slicing, the 8 seeded md5 mins)
    runs at the SCAN's parallelism — a small corpus that fits one parquet
    file therefore shingles on one core while 31 idle (measured: the sf0.1
    5k-doc shingle stage 2.8s -> 0.9s from this spread). At 10^10-doc
    scale the scan already has >= defaultParallelism splits and this is a
    no-op — the guard makes the operator safe to keep in the hot path
    rather than a test-only tweak. The pre-explode rows are the narrow
    side (raw text, no amplification yet), so the added exchange is the
    cheap one."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keep min id as the canonical doc.
    Returns (keep_id, dup_count) for groups, including singletons."""
    return (
        docs.groupBy(h64(text_col).alias("text_h64"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def shingle_table(docs: DataFrame, k: int, max_chars: int,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs, distinct per doc."""
    return (
        spread_for_explode(docs)
        .select(F.col(id_col).alias("id"), F.explode(shingles(text_col, k, max_chars)).alias("sh"))
        .distinct()
    )


def shingle_stream(docs: DataFrame, k: int, max_chars: int,
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs WITH multiplicity — shingle_table minus its
    distinct. For duplicate-insensitive consumers (min-aggregation MinHash
    signatures, collect_set shingle sets) the distinct's full exchange +
    dedup sort buys nothing: min over a multiset == min over its set, and
    collect_set dedups as it aggregates. A ~200-char doc emits ~195
    shingles vs ~150 distinct ones, so skipping the distinct trades ~30%
    more map-side hash evaluations for one whole shuffle — a win at every
    scale, and the partial aggregate still shrinks each map partition to
    one row per (id) before the wire."""
    return spread_for_explode(docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, k, max_chars)).alias("sh"))


def ngram_jaccard_pairs(docs: DataFrame, k: int = 8, max_chars: int = 128,
                        threshold: float = 0.5, max_df: int = 50,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by character-k-gram Jaccard >= threshold.

    Semantics (mirrored by the oracle): distinct shingles of the first
    max_chars chars; shingles with doc-frequency > max_df are dropped from
    BOTH the intersection and the per-doc sizes (stop-shingle pruning).
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = shingle_table(docs, k, max_chars, text_col, id_col)
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    kept = sh.join(df_counts.where(F.col("df") <= max_df), "sh", "left_semi")
    sizes = kept.groupBy("id").agg(F.count("*").alias("sz"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(docs: DataFrame, n_hashes: int = 8, k: int = 6, max_chars: int = 200,
                       text_col: str = "text", id_col: str = "doc_id",
                       sh: DataFrame | None = None) -> DataFrame:
    """(id, mh_0..mh_{n-1}) MinHash signature columns (string mins of seeded
    md5 over the shingle set — see functions.hashes.minhash_min_expr).
    ``sh`` lets a caller that ALSO needs the (id, sh) shingle table (e.g.
    the calibration report's exact-Jaccard pass) compute it once and share
    the materialization instead of re-shingling the corpus. The default
    path shingles WITHOUT a distinct (shingle_stream): min-aggregation is
    duplicate-insensitive, so the signatures are identical and the
    distinct's exchange is saved; a caller-supplied ``sh`` may be either
    the distinct table or the raw stream."""
    if sh is None:
        sh = shingle_stream(docs, k, max_chars, text_col, id_col)
    aggs = [minhash_min_expr("sh", s).alias(f"mh_{s}") for s in range(n_hashes)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, n_hashes: int = 8, band_size: int = 2,
                      k: int = 6, max_chars: int = 200, min_est: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      sh: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs with estimated similarity.

    Bands of ``band_size`` components; docs sharing ANY band bucket become
    candidates; est_sim = fraction of matching signature components.
    Output: (id_a, id_b, est_sim) with id_a < id_b, est_sim >= min_est.
    """
    sig = minhash_signatures(docs, n_hashes, k, max_chars, text_col, id_col,
                             sh=sh).cache()
    n_bands = n_hashes // band_size
    bands = None
    for bi in range(n_bands):
        cols = [F.col(f"mh_{bi * band_size + j}") for j in range(band_size)]
        part = sig.select("id", F.lit(bi).alias("band"), F.concat_ws("|", *cols).alias("bucket"))
        bands = part if bands is None else bands.unionByName(part)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)])
    sb = sig.select(F.col("id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)])
    matches = sum(F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(n_hashes))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("est_sim", F.round(matches / F.lit(float(n_hashes)), 6))
        .where(F.col("est_sim") >= min_est)
        .select("id_a", "id_b", "est_sim")
    )


def simhash16(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              max_chars: int = 200) -> DataFrame:
    """16-bit SimHash over character 4-shingles (with multiplicity):
    :func:`simhash_wide` at 16 bits, so (id, simhash:int).

    bit_b = sign( sum over shingles of (2*((h64(sh)>>b)&1) - 1) );
    ties (sum == 0) -> bit 0. 16 bits (not 64) keeps the oracle SQL
    tractable while exercising the identical algorithm.
    """
    sig = simhash_wide(docs, 16, text_col, id_col, max_chars)
    return sig.select("id", F.col("simhash").cast("int").alias("simhash"))


def simhash_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs grouped by identical simhash16 — groups with >1 member are
    near-dup candidates. Returns (simhash, n_docs, keep_id) for dup groups."""
    sig = simhash16(docs, text_col, id_col)
    return (
        sig.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def simhash_wide(docs: DataFrame, n_bits: int = 60, text_col: str = "text",
                 id_col: str = "doc_id", max_chars: int = 200) -> DataFrame:
    """Wide SimHash over character 4-shingles: (id, simhash: long).

    60 bits, not 64: the cross-engine portable hash (functions.hashes.h64)
    is 60 bits (15 md5 hex chars — always positive, no signed-overflow
    divergence between Spark and the DuckDB oracle), so 60 is the widest
    signature both engines reproduce bit-for-bit. Same banded design as a
    64-bit production simhash, 4 x 15-bit bands instead of 4 x 16."""
    sh = spread_for_explode(docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, 4, max_chars)).alias("sh"),
    ).withColumn("h", h64("sh"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    agg = sh.groupBy("id").agg(*bit_aggs)
    sig = sum(
        F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(n_bits)
    )
    return agg.select("id", sig.cast("long").alias("simhash"))


def hamming_banded_pairs(sig: DataFrame, max_hamming: int = 3,
                         n_bits: int = 64, n_bands: int = 4,
                         sig_col: str = "sig", id_col: str = "id") -> DataFrame:
    """Near-dup pairs at Hamming distance <= max_hamming over ANY integer
    signature column (simhash, image phash, audio fingerprint) via banded
    search: by pigeonhole, any pair within Hamming <= n_bands-1 agrees
    EXACTLY on at least one of the n_bands bit-slices, so candidates are
    n_bands shuffle equi-joins on (band, slice) instead of all pairs; the
    exact bit_count(xor) verify then runs only inside buckets.

    Works for full signed-64-bit signatures: arithmetic shiftright followed
    by the band mask extracts the true bit-slice regardless of sign.
    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.
    """
    assert max_hamming <= n_bands - 1, "pigeonhole guarantee needs max_hamming < n_bands"
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    sig = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    bands = None
    for bi in range(n_bands):
        part = sig.select(
            "id", "sig", F.lit(bi).alias("band"),
            F.shiftright(F.col("sig"), bi * band_bits)
             .bitwiseAND(F.lit(mask)).alias("slice"))
        bands = part if bands is None else bands.unionByName(part)
    a = bands.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
                     "band", "slice")
    b = bands.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
                     "band", "slice")
    cand = (
        a.join(b, ["band", "slice"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_banded_pairs(docs: DataFrame, max_hamming: int = 3,
                         n_bits: int = 60, n_bands: int = 4,
                         text_col: str = "text", id_col: str = "doc_id",
                         max_chars: int = 200) -> DataFrame:
    """Text near-dup pairs at Hamming <= max_hamming: simhash_wide signature
    + the generic banded Hamming search (see hamming_banded_pairs) — the
    scale-correct form simhash_dup_groups (identical-signature buckets)
    cannot provide. Output: (id_a, id_b, hamming), id_a < id_b."""
    sig = simhash_wide(docs, n_bits, text_col, id_col, max_chars)
    return hamming_banded_pairs(sig, max_hamming, n_bits, n_bands,
                                sig_col="simhash", id_col="id")


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Paragraph-level exact dedup across the corpus (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", and the
    CCNet pipeline, Wenzek et al. 2019 — public literature): split each
    document into paragraphs, keep only the globally FIRST occurrence of
    each distinct paragraph (order = (doc_id, pos)), and rebuild every
    document from its surviving paragraphs.

    Scale design (100 TB): identity is the portable 60-bit hash of the
    paragraph (h64 — dedup state is 8 bytes/paragraph, the standard
    hash-as-identity concession at corpus scale; collision odds ~n^2/2^60),
    so the single shuffle is the window exchange on ``ph``. Paragraph text
    rides that exchange only because the rebuild needs it back; a
    count-only variant would shuffle hashes alone. The per-doc regroup is
    the second exchange, on doc_id. No self-join, no explode blowup beyond
    the paragraph count itself.

    Returns (doc_id, n_paras, n_removed, clean_text) — clean_text is the
    sep-joined surviving paragraphs in original order ('' if none survive).
    """
    # no spread_for_explode here (measured negative): the split+posexplode
    # scan stage is cheap, and the window exchange on ph parallelizes the
    # hash anyway — the guarded repartition only pays off when heavy
    # per-row compute (seeded md5 mins, 60-bit aggs) fuses into the scan.
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("ph", h64("para"))
    w = Window.partitionBy("ph").orderBy("doc_id", "pos")
    flagged = (
        paras.withColumn("rn", F.row_number().over(w))
        # null for removed instances -> collect_list drops them
        .withColumn("__kept", F.when(F.col("rn") == 1, F.struct("pos", "para")))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_paras"),
            F.sum((F.col("rn") > 1).cast("int")).cast("int").alias("n_removed"),
            F.concat_ws(sep, F.expr(
                "transform(array_sort(collect_list(__kept)), x -> x.para)"
            )).alias("clean_text"),
        )
        .select("doc_id", "n_paras", "n_removed", "clean_text")
    )


def first_wins(df: DataFrame, key_cols: list[str], order_cols: list) -> DataFrame:
    """Generic first-wins dedup (J1 semantics, URLFrontier.java:67-74):
    keep the first row per key under a deterministic order."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")

def minhash_lsh_incremental(batch: DataFrame, corpus: DataFrame,
                            n_hashes: int = 8, band_size: int = 2,
                            k: int = 6, max_chars: int = 200, min_est: float = 0.5,
                            text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Incremental (asymmetric) dedup: flag docs in an incoming ``batch``
    that near-duplicate the existing ``corpus`` — the production ingest
    mode, where each crawl round dedups against everything already kept
    rather than re-pairing the whole corpus with itself.

    Same MinHash/banding semantics as minhash_lsh_pairs, but candidates
    only cross sides (batch x corpus, never corpus x corpus), so the join
    is driven by the small batch side. At scale the corpus signatures are
    computed ONCE at ingest time and persisted (a signature table keyed by
    band bucket); each round then touches only batch-sized state — this
    function recomputes them so semantics stay self-contained.

    Returns one row per duplicated batch doc: (doc_id, match_id, est_sim)
    with the best corpus match (max est_sim, ties to min match_id).
    """
    sig_b = minhash_signatures(batch, n_hashes, k, max_chars, text_col, id_col)
    sig_c = minhash_signatures(corpus, n_hashes, k, max_chars, text_col, id_col)

    def _bands(sig: DataFrame) -> DataFrame:
        out = None
        for bi in range(n_hashes // band_size):
            cols = [F.col(f"mh_{bi * band_size + j}") for j in range(band_size)]
            part = sig.select("id", F.lit(bi).alias("band"),
                              F.concat_ws("|", *cols).alias("bucket"))
            out = part if out is None else out.unionByName(part)
        return out

    cand = (
        _bands(sig_b).alias("a")
        .join(_bands(sig_c).alias("b"), ["band", "bucket"])
        .select(F.col("a.id").alias("bid"), F.col("b.id").alias("cid"))
        .distinct()
    )
    sa = sig_b.select(F.col("id").alias("bid"),
                      *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)])
    sb = sig_c.select(F.col("id").alias("cid"),
                      *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)])
    matches = sum(F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
                  for i in range(n_hashes))
    scored = (
        cand.join(sa, "bid").join(sb, "cid")
        .withColumn("est_sim", F.round(matches / F.lit(float(n_hashes)), 6))
        .where(F.col("est_sim") >= min_est)
    )
    w = Window.partitionBy("bid").orderBy(F.col("est_sim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
        .select(F.col("bid").alias("doc_id"), F.col("cid").alias("match_id"), "est_sim")
    )


def substring_dup_spans(docs: DataFrame, k: int = 8, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), window-hash restatement:
    every k-token window of every document, hashed; a window whose hash
    occurs >= 2 times anywhere in the corpus (cross-doc OR within-doc) is a
    duplicated span. Emits per-doc duplication stats — the signal used to
    drop or trim boilerplate-heavy documents.

    The paper's suffix array is a single-machine structure; the standard
    distributed restatement is this window fingerprint pass:
    - windows are hashed to 60 bits BEFORE the shuffle, so the occurrence
      count shuffles 8-byte keys, not k-token strings,
    - one explode + one partial/final count on the hash + one equi-join
      back — sub-quadratic everywhere, no self-join on documents,
    - k >= 8 words makes accidental 60-bit collisions (~n^2/2^61)
      irrelevant below ~10^9 distinct windows per the birthday bound;
      the oracle applies the identical hash so the gate is exact.
    """
    from ..functions.scrub import word_shingles

    toks = docs.select(
        id_col,
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias("t"))
    sh = (toks.where(F.size("t") >= k)
          .select(id_col, F.explode(word_shingles("t", k)).alias("sh"))
          .select(id_col, h64(F.col("sh")).alias("h")))
    occ = sh.groupBy("h").agg(F.count("*").alias("n_occ"))
    per = sh.groupBy(id_col).agg(F.count("*").alias("n_windows"))
    hits = (sh.join(occ.where(F.col("n_occ") >= 2), "h")
            .groupBy(id_col)
            .agg(F.count("*").alias("dup_windows"), F.max("n_occ").alias("max_occ")))
    return (per.join(hits, id_col, "left")
            .select(id_col,
                    "n_windows",
                    F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
                    F.round(F.coalesce("dup_windows", F.lit(0))
                            / F.col("n_windows"), 6).alias("dup_frac"),
                    F.coalesce("max_occ", F.lit(1)).alias("max_occ")))
