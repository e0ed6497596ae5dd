"""Deduplication operators for web-scale text corpora.

The training-data-pipeline companion to the spatial engine: exact dedup,
n-gram Jaccard pairs, MinHash+LSH candidate generation, SimHash. All hot
paths are JVM column expressions (split/explode/xxhash64/groupBy) or
Arrow-vectorized pandas UDFs — no per-row Python.

Scale design:
- exact dedup groups by ``xxhash64(text)`` (8-byte shuffle key) rather
  than by the full text bytes; the full text only travels for hash groups
  with >1 member (collision audit), which at 1e12 rows is ~0 rows.
- shingling explodes to (doc, shingle-hash) pairs — the Jaccard self-join
  joins on the 8-byte hash, never on strings; frequency-capped shingles
  (stop-shingles appearing in > ``max_df`` docs) are dropped before the
  join, which is what keeps the candidate-pair blowup subquadratic.
- MinHash signatures are built from one xxhash64 pass + K affine
  permutations evaluated as column math; LSH bands re-hash signature
  slices so the bucket join is an equi-join Catalyst can shuffle-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MERSENNE_P = (1 << 61) - 1
# The operators' fixed settings; the pure-Python oracles in
# ``gdal_spark.text.ref_impl`` import these rather than repeat them.
SHINGLE_N = 3  # words per shingle for Jaccard and MinHash
NUM_HASHES = 64  # MinHash permutations per signature
LSH_BANDS = 16  # LSH bands over a NUM_HASHES signature
SEED = 42  # MinHash permutation RNG seed
SIMHASH_BITS = 64
CONTAMINATION_N = 5  # words per benchmark-overlap n-gram
CLUSTER_MAX_ROUNDS = 50  # dedup_clusters gives up past 2^50-hop components


def words_col():
    """Whitespace tokenization of ``text`` — shared by all dedup ops."""
    return F.split(F.trim(F.col("text")), r"\s+")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one representative (min ``doc_id``) per distinct ``text``.

    Groups on ``xxhash64(text)`` so the shuffle key is 8 bytes; exactness
    is preserved by a secondary group on the text itself *within* each
    hash group (a no-op unless xxhash collides).
    """
    return (
        df.select(F.col("doc_id"), F.col("text"), F.xxhash64("text").alias("__h"))
        .groupBy("__h", "text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def shingles(df: DataFrame, n: int) -> DataFrame:
    """Distinct word n-gram shingles per ``(doc_id, text)`` row:
    (id, shingle STRING).

    Pure column math: split → sequence → transform(slice) → explode.
    """
    w = words_col()
    # sequence(1, 0) DESCENDS in Spark — docs shorter than n words must
    # yield an empty shingle array explicitly
    sh = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col("doc_id").alias("id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int | float | None = 0.005,
) -> DataFrame:
    """All pairs of ``(doc_id, text)`` rows (id1 < id2) with
    ``SHINGLE_N``-word shingle-set Jaccard ≥ threshold.

    Output: (id1, id2, common, n1, n2) — Jaccard = common/(n1+n2-common),
    emitted as exact integers so oracles compare without float hashing.

    ``max_df`` drops stop-shingles (present in more docs than the cap)
    before the self-join — the subquadratic lever at corpus scale. It
    DEFAULTS ON (0.5% of the corpus; floats < 1 are corpus fractions,
    ints are absolute document counts) because the uncapped self-join
    grows quadratically on hot shingles; pass ``max_df=None`` explicitly
    for the exact all-pairs form (small inputs / oracle checks only —
    affected pairs are only those sharing *solely* stop-shingles, which
    sit far below any useful threshold at scale anyway).
    """
    sh = shingles(df, SHINGLE_N)
    # join on the 8-byte hash of the shingle, not the string
    sh = sh.select("id", F.xxhash64("shingle").alias("sh")).distinct()
    # Materialize once: this subtree (string n-gram explode + distinct
    # shuffle) feeds df_counts plus — through the cap join — sizes/a/b,
    # and Catalyst does no cross-consumer subplan elimination (measured:
    # 8 scan refs, 0 ReusedExchange). The downstream cap join re-runs per
    # consumer too, but over stored 16-byte rows, not re-shingled text.
    sh = sh.localCheckpoint(eager=True)
    if max_df is not None:
        df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        if isinstance(max_df, float) and max_df < 1:
            total = df.select(
                F.count(F.lit(1)).cast("double").alias("__total")
            )
            cap = F.greatest(
                F.lit(2.0), F.ceil(F.col("__total") * F.lit(max_df)).cast("double")
            )
            keep = (
                df_counts.crossJoin(F.broadcast(total))
                .filter(F.col("__df") <= cap)
                .select("sh")
            )
        else:
            keep = df_counts.filter(F.col("__df") <= int(max_df)).select("sh")
        sh = sh.join(F.broadcast(keep), "sh", "inner")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col("id").alias("id1"), "sh")
    b = sh.select(F.col("id").alias("id2"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("nsh", "n1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("nsh", "n2"), "id2")
        .filter(
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common"))
            >= F.lit(threshold)
        )
    )
    return out.select("id1", "id2", "common", "n1", "n2")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine permutation coefficients (a odd, b) mod 2^61-1."""
    import random

    rng = random.Random(SEED)
    return [
        (rng.randrange(1, MERSENNE_P - 1) | 1, rng.randrange(0, MERSENNE_P - 1))
        for _ in range(num_hashes)
    ]


def minhash_signatures(df: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(id, sig ARRAY<BIGINT>) MinHash signatures over the
    ``SHINGLE_N``-word shingles of ``(doc_id, text)`` rows.

    One xxhash64 per shingle, then ``num_hashes`` affine permutations
    ``(a*h + b) mod (2^61-1)`` minimized per doc — all column math; the
    aggregation is a single groupBy with ``min`` partials map-side.
    """
    sh = shingles(df, SHINGLE_N).select(
        "id", F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE_P)).alias("h")
    )
    coeffs = _perm_coeffs(num_hashes)
    # (a*h + b) mod p exactly in int64, overflow-free (ANSI-safe):
    # split both factors into 31-bit limbs (a = a_hi*2^31 + a_lo,
    # h = h1*2^31 + h0 with h1, a_hi < 2^30) so every partial product
    # stays < 2^62, then fold the 2^31 / 2^62 weights with the Mersenne
    # identity 2^61 ≡ 1 (mod 2^61-1): x*2^31 ≡ (x >> 30) + ((x & (2^30-1)) << 31)
    # and 2^62 ≡ 2. Every intermediate is < 2^63.
    h1 = F.shiftrightunsigned(F.col("h"), 31)  # < 2^30 (h < 2^61)
    h0 = F.col("h").bitwiseAND(F.lit((1 << 31) - 1))
    p = F.lit(MERSENNE_P)
    mins = []
    for i, (a, b) in enumerate(coeffs):
        a_lo = a & ((1 << 31) - 1)
        a_hi = a >> 31  # < 2^30
        lo = (F.lit(a_lo) * h0) % p  # product < 2^62
        mid = (F.lit(a_lo) * h1 + F.lit(a_hi) * h0) % p  # sum < 2^62
        # mid*2^31 mod p via the rotation identity; mid < p < 2^61
        mid31 = (
            F.shiftrightunsigned(mid, 30)
            + F.shiftleft(mid.bitwiseAND(F.lit((1 << 30) - 1)), 31)
        ) % p
        hi2 = (F.lit(a_hi) * h1 * F.lit(2)) % p  # < 2^61 before mod
        val = (lo + mid31 + hi2 + F.lit(b)) % p  # sum of 4 terms < 4p < 2^63
        mins.append(F.min(val).alias(f"m{i}"))
    agg = sh.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def lsh_candidate_pairs(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """LSH banding: docs agreeing on any of ``LSH_BANDS`` full bands
    become candidate pairs.

    Buckets are ``(band_idx, xxhash64(band slice))`` — an equi-join key, so
    candidate generation is a shuffle-hash self-join per band with no
    quadratic blowup outside buckets. Output: distinct (id1 < id2).
    """
    b = signatures.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}), b -> "
                f"named_struct('band', b, 'key', xxhash64(b, "
                f"concat_ws(',', slice(sig, b * {rows_per_band} + 1, {rows_per_band})))))"
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    l = b.select(F.col("id").alias("id1"), "band", "key")
    r = b.select(F.col("id").alias("id2"), "band", "key")
    return (
        l.join(r, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def minhash_dedup_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """End-to-end near-dup pairs of ``(doc_id, text)`` rows: MinHash
    (``NUM_HASHES`` permutations) → LSH buckets (``LSH_BANDS`` bands) →
    signature-estimate filter. Output (id1, id2, est_e6) with est =
    fraction of agreeing minhashes, scaled to integer millionths."""
    sigs = minhash_signatures(df)
    # The signature subtree (shingle explode → xxhash → 64-perm min agg)
    # feeds FOUR consumers below (LSH self-join l/r + est join s1/s2) and
    # Catalyst performs no cross-consumer common-subplan elimination — an
    # un-materialized sigs is recomputed 4× (measured: 4 scans, 0
    # ReusedExchange). Signatures are tiny next to the corpus (~520 B/doc
    # at 64 hashes), so materialize once, same discipline as knn_join.
    sigs = sigs.localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sigs, NUM_HASHES // LSH_BANDS)
    s1 = sigs.select(F.col("id").alias("id1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("id").alias("id2"), F.col("sig").alias("sig2"))
    est = (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "est_e6",
            F.floor(
                F.size(F.filter(F.zip_with("sig1", "sig2", lambda a, b: a == b), lambda x: x))
                * F.lit(1_000_000)
                / F.lit(NUM_HASHES)
            ).cast("long"),
        )
        .filter(F.col("est_e6") >= F.lit(int(threshold * 1_000_000)))
    )
    return est.select("id1", "id2", "est_e6")


def simhash(df: DataFrame) -> DataFrame:
    """(id, simhash BIGINT) of ``(doc_id, text)`` rows: sign-sum of
    per-word 64-bit hashes.

    Explode words → per-(doc, bit) sign sums via bit tests on the JVM-side
    xxhash64 — no Python. The per-doc reduction folds 64 bit-counters with
    map-side partial aggregation.
    """
    w = (
        df.select(F.col("doc_id").alias("id"), F.explode(words_col()).alias("w"))
        .withColumn("h", F.xxhash64("w"))
    )
    # pre-aggregate to distinct (id, h) with counts: repeated words collapse
    # BEFORE the 64 bit-test expressions run, and the map-side combine on
    # the (id, h) shuffle key shrinks the exchange.
    counted = w.groupBy("id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    # per-bit signed sum over tokens = 2 * popcount_i - n  (exact integers)
    sums = counted.groupBy("id").agg(
        F.sum("cnt").alias("n"),
        *[
            F.sum(
                F.col("cnt") * F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
            ).alias(f"p{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    acc = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        # shiftleft instead of a literal: 1<<63 overflows a Java long literal
        bit = F.shiftleft(F.lit(1).cast("long"), i)
        # sign positive ⇔ 2*p_i - n > 0
        acc = acc + F.when(
            F.col(f"p{i}") * 2 > F.col("n"), bit
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("id", acc.alias("simhash"))


def simhash_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) bit-blocks for pigeonhole-complete blocking.

    ``max_hamming + 1`` blocks guarantee any pair within the hamming
    budget agrees on at least one whole block (≤ max_hamming flipped bits
    cannot touch all max_hamming+1 blocks). Widths differ by ≤1 bit.
    """
    n_blocks = min(SIMHASH_BITS, max_hamming + 1)
    base, extra = divmod(SIMHASH_BITS, n_blocks)
    out, off = [], 0
    for q in range(n_blocks):
        w = base + (1 if q < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate near-dup pairs by simhash: pigeonhole blocking on
    ``max_hamming + 1`` disjoint bit-blocks (any pair within hamming ≤
    max_hamming agrees on ≥1 whole block), then exact hamming verify via
    ``bit_count(xor)``. Equi-join on (block, key) — bucketed, not
    all-pairs, so it scales with bucket occupancy."""
    keys = []
    for q, (off, width) in enumerate(simhash_blocks(max_hamming)):
        shifted = F.shiftrightunsigned(F.col("simhash"), off)
        # width == 64 only when max_hamming == 0 (single block = whole hash);
        # (1 << 64) - 1 would overflow a Java long literal
        key = shifted if width >= 64 else shifted.bitwiseAND(F.lit((1 << width) - 1))
        keys.append(F.struct(F.lit(q).alias("q"), key.alias("key")))
    # ONE pass over sim (posexplode of the block-key array), not a
    # (max_hamming+1)-way union that re-evaluates the 64-aggregate simhash
    # plan per branch; the alias self-join keeps both sides plan-identical
    # so Spark reuses the shuffle exchange (simhash computes once, not 2×).
    blocks = sim.select(
        "id", "simhash", F.explode(F.array(*keys)).alias("qk")
    ).select("id", "simhash", F.col("qk.q").alias("q"), F.col("qk.key").alias("key"))
    l, r = blocks.alias("l"), blocks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.q") == F.col("r.q"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_clusters(pairs: DataFrame, ids: DataFrame | None = None) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the dup-pair
    graph of ``(id1, id2)`` rows → (doc_id, cluster_id) with cluster_id =
    the component's minimum doc id (the canonical "keep" document —
    standard keep-one-per-cluster dedup).

    Distributed min-label propagation WITH POINTER DOUBLING: each round
    takes the neighbor minimum and then jumps labels through labels
    (l(v) ← l(l(v))), so convergence is O(log diameter) rounds even for
    chain-shaped components — the standard Hash-Min/pointer-jumping CC
    algorithm. Each round eagerly localCheckpoints the (tiny) label
    table to keep the lineage flat; the per-round driver action is one
    bounded existence check. Past ``CLUSTER_MAX_ROUNDS`` rounds it raises
    rather than return unconverged labels.

    ``ids``: optional one-column DataFrame of ALL doc ids (isolated
    documents then appear as singleton clusters); defaults to the ids
    present in ``pairs``."""
    e = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().persist()
    if ids is None:
        nodes = edges.select(F.col("a").alias("id")).distinct()
    else:
        nodes = ids.select(F.col(ids.columns[0]).alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint()
    for _ in range(CLUSTER_MAX_ROUNDS):
        neigh = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a").agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["id"] == neigh["a"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        # pointer jump: follow the label chain one hop (label of label)
        lx, ly = stepped.alias("x"), stepped.alias("y")
        jumped = (
            lx.join(ly, F.col("x.label") == F.col("y.id"), "left")
            .select(
                F.col("x.id").alias("id"),
                F.least(
                    F.col("x.label"), F.coalesce(F.col("y.label"), F.col("x.label"))
                ).alias("label"),
            )
            .localCheckpoint()  # eager + flat lineage (label table is tiny)
        )
        changed = (
            jumped.alias("n").join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label")).limit(1).count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        # Same contract as polygonize._cc_roots: never hand back
        # silently-wrong (unconverged) cluster assignments.
        raise RuntimeError(
            f"dedup_clusters did not converge in {CLUSTER_MAX_ROUNDS} rounds "
            "(a component deeper than 2^rounds hops)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# corpus-level line dedup (CCNet-style)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    keep: str = "first",
) -> DataFrame:
    """CCNet-style corpus-level line/paragraph dedup (Wenzek et al. 2020
    §3.1, public paper): with ``keep='first'`` every line keeps only its
    FIRST occurrence corpus-wide — ordered by (id, position); with
    ``keep='none'`` (the paper's stricter variant) EVERY copy of a
    duplicated line is dropped, including the first. Each document is
    re-assembled from its surviving lines in original order.

    Returns ``(id_col, text, n_lines, n_kept)`` where ``text`` is the
    deduplicated document (may be ``''`` when every line was a later
    copy) and ``n_lines``/``n_kept`` count lines before/after.
    ``sep`` is a LITERAL separator — it is \\Q-quoted for the split and
    used verbatim for the rejoin, so regex metacharacters are safe.

    Scale shape: two shuffles — one on the trimmed line value (the
    first-occurrence decision; Spark hash-partitions the string key, and
    groups are small because group size == duplicate count), one on the
    id for reassembly. Line text travels once each way; the heavy full
    ``text`` column never shuffles.
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    )
    key = Window.partitionBy(F.trim(F.col("line")))
    if keep == "first":
        survives = F.row_number().over(key.orderBy("id", "pos")) == 1
    else:  # unordered full-partition count: no sort needed
        survives = F.count(F.lit(1)).over(key) == 1
    ranked = lines.withColumn("first_seen", survives)
    kept_struct = F.when(
        F.col("first_seen"), F.struct(F.col("pos"), F.col("line"))
    )  # collect_list drops the NULLs for dropped lines
    return (
        ranked.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("first_seen").cast("long")).alias("n_kept"),
        )
        .withColumnRenamed("id", id_col)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM §C n-gram
    overlap screen, public papers): flag every training document that
    shares any word ``CONTAMINATION_N``-gram with an evaluation/benchmark
    set. Both
    sides are ``(doc_id, text)`` rows.

    Returns ``(doc_id, n_hits, contaminated)`` for ALL docs (``n_hits``
    counts the doc's DISTINCT shingles found in the benchmark — the
    shingle stream is already distinct per doc; zero hits →
    ``contaminated = false``).

    Scale shape: the benchmark side is tiny by construction (eval sets
    are thousands of docs, the corpus is billions) — its distinct
    shingles are broadcast, so the corpus side is a map-only scan +
    broadcast hash join with NO corpus shuffle; only the matched hits
    (rare) reach the per-doc aggregation, and the final flag join back
    to ``docs`` is on the 8-byte id.
    """
    bsh = shingles(benchmark, CONTAMINATION_N).select("shingle").distinct()
    dsh = shingles(docs, CONTAMINATION_N)
    hits = (
        dsh.join(F.broadcast(bsh), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )
