"""Independent pure-Python reference implementations of the hash-dependent
dedup/ANN operators, used to build correctness-gate oracles.

Each function recomputes the operator's documented semantics with plain
Python big-int / float arithmetic (no Spark, no NumPy vector tricks that
could reorder float sums) over the fixture parquet, so a green gate row
means the distributed limb-split modular math, the LSH banding, and the
blocking recall all agree with an implementation that shares *no code
path* with the Spark plans (only the public XXH64 spec in
``gdal_spark.text.xxh``). The operators' fixed settings (shingle width,
hash counts, seeds, sample sizes) are imported from the engine modules so
each is spelled once; what a gate varies it passes to both sides.

Tokenization mirrors the engine exactly: Spark ``trim`` strips ASCII
spaces only; ``split(_, '\\s+')`` is Java regex split with limit -1
(keeps leading/trailing empties) over the ASCII whitespace class.
"""

from __future__ import annotations

import math
import os
import re

from gdal_spark.text.dedup import LSH_BANDS, NUM_HASHES, SEED, SHINGLE_N, SIMHASH_BITS
from gdal_spark.text.xxh import spark_xxhash64_str

MERSENNE_P = (1 << 61) - 1
_WS = re.compile(r"\s+", re.ASCII)


def oracle_sf_dir() -> str:
    """The sf dir the gate oracle runs against (driver gate = sf0.01)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def load_documents() -> list[tuple[int, str]]:
    import duckdb

    sf_dir = oracle_sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    return [(int(i), t if t is not None else "") for i, t in rows]


def words(text: str) -> list[str]:
    return _WS.split(text.strip(" "))


def shingle_hashes(text: str) -> set[int]:
    """pmod(xxhash64(shingle), p) over distinct word n-gram shingles."""
    n = SHINGLE_N
    w = words(text)
    if len(w) < n:
        return set()
    sh = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    return {spark_xxhash64_str(s) % MERSENNE_P for s in sh}


def perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Must match gdal_spark.text.dedup._perm_coeffs (same RNG contract)."""
    import random

    rng = random.Random(SEED)
    return [
        (rng.randrange(1, MERSENNE_P - 1) | 1, rng.randrange(0, MERSENNE_P - 1))
        for _ in range(num_hashes)
    ]


def minhash_signature(hs: set[int], coeffs: list[tuple[int, int]]) -> list[int]:
    return [min((a * h + b) % MERSENNE_P for h in hs) for a, b in coeffs]


def minhash_pairs_ref(
    docs: list[tuple[int, str]], threshold: float = 0.5
) -> list[tuple[int, int, int]]:
    """(id1, id2, est_e6) per dedup.minhash_dedup_pairs semantics."""
    num_hashes, bands = NUM_HASHES, LSH_BANDS
    coeffs = perm_coeffs(num_hashes)
    rows_per_band = num_hashes // bands
    sigs: dict[int, list[int]] = {}
    for doc_id, text in docs:
        hs = shingle_hashes(text)
        if hs:
            sigs[doc_id] = minhash_signature(hs, coeffs)
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            key = (b, tuple(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc_id)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    cut = int(threshold * 1_000_000)
    for id1, id2 in sorted(cand):
        agree = sum(1 for a, b in zip(sigs[id1], sigs[id2]) if a == b)
        est_e6 = math.floor(agree * 1_000_000 / num_hashes)
        if est_e6 >= cut:
            out.append((id1, id2, est_e6))
    return out


def simhash_ref(text: str) -> int:
    """Signed-sum simhash over words *with multiplicity* (explode keeps
    duplicates), mirroring dedup.simhash."""
    bits = SIMHASH_BITS
    sums = [0] * bits
    for w in words(text):
        h = spark_xxhash64_str(w) & ((1 << 64) - 1)
        for i in range(bits):
            sums[i] += 1 if (h >> i) & 1 else -1
    v = 0
    for i in range(bits):
        if sums[i] > 0:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_allpairs_ref(
    docs: list[tuple[int, str]], max_hamming: int = 3
) -> list[tuple[int, int, int]]:
    """Brute-force all-pairs ground truth (recall oracle: blocking must
    find exactly these)."""
    sh = sorted((doc_id, simhash_ref(text)) for doc_id, text in docs)
    out = []
    for i in range(len(sh)):
        for j in range(i + 1, len(sh)):
            x = (sh[i][1] ^ sh[j][1]) & ((1 << 64) - 1)
            ham = bin(x).count("1")
            if ham <= max_hamming:
                out.append((sh[i][0], sh[j][0], ham))
    return out


# ---------------------------------------------------------------------------
# LSH-bucketed ANN reference
# ---------------------------------------------------------------------------

def load_embeddings() -> list[tuple[int, list[float]]]:
    import duckdb

    sf_dir = oracle_sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    return [(int(i), [float(x) for x in v]) for i, v in rows]


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right sequential fold — bit-matches Spark's F.aggregate."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _seq_norm(a: list[float]) -> float:
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def lsh_bucketed_topk_ref(
    embeddings: list[tuple[int, list[float]]],
    query_ids: set[int],
    k: int,
    n_planes: int,
    probe_flips: int,
) -> list[tuple[int, int, int, int]]:
    """(qid, id, cos_e6, rank) per operators.similarity.lsh_bucketed_topk;
    ``probe_flips`` outside {0, 1, 2} raises ``ValueError`` as there."""
    from gdal_spark.operators.similarity import random_hyperplanes

    if probe_flips not in (0, 1, 2):
        raise ValueError(f"probe_flips must be 0, 1 or 2, not {probe_flips!r}")
    dim = len(embeddings[0][1])
    planes = random_hyperplanes(dim, n_planes)
    planes_l = [[float(x) for x in p] for p in planes]

    def bucket(v: list[float]) -> int:
        acc = 0
        for j, p in enumerate(planes_l):
            if _seq_dot(v, p) > 0:
                acc |= 1 << j
        return acc

    by_bucket: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, v in embeddings:
        by_bucket.setdefault(bucket(v), []).append((vid, v))
    probes = [0]
    if probe_flips >= 1:
        probes += [1 << j for j in range(n_planes)]
    if probe_flips >= 2:
        probes += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    out = []
    for qid, qv in embeddings:
        if qid not in query_ids:
            continue
        b0 = bucket(qv)
        scored = []
        seen = set()
        for m in probes:
            for vid, cv in by_bucket.get(b0 ^ m, []):
                if vid in seen:
                    continue
                seen.add(vid)
                cos = _seq_dot(cv, qv) / (_seq_norm(cv) * _seq_norm(qv))
                scored.append((math.floor(cos * 1_000_000 + 0.5), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos_e6, vid) in enumerate(scored[:k], 1):
            out.append((qid, vid, cos_e6, rank))
    return out


# ---------------------------------------------------------------------------
# VALUES emission
# ---------------------------------------------------------------------------

def values_sql(rows, colnames: list[str], coltypes: list[str], order_by: str) -> str:
    """Emit rows as a typed VALUES oracle (empty-safe)."""
    sel = ", ".join(
        f"CAST({c} AS {t}) AS {c}" for c, t in zip(colnames, coltypes)
    )
    if not rows:
        null_sel = ", ".join(
            f"CAST(NULL AS {t}) AS {c}" for c, t in zip(colnames, coltypes)
        )
        return f"SELECT {null_sel} WHERE FALSE"
    body = ", ".join("(" + ", ".join(str(v) for v in r) + ")" for r in rows)
    return (
        f"SELECT {sel} FROM (VALUES {body}) t({', '.join(colnames)}) ORDER BY {order_by}"
    )


def lsh_cosine_pairs_ref(
    embeddings: list[tuple[int, list[float]]],
    threshold: float,
    n_planes: int,
) -> list[tuple[int, int, int]]:
    """(id1, id2, cos_e6) per operators.similarity.cosine_dedup_pairs in
    bucketed mode: candidates are pairs whose sign-buckets differ in at
    most ``DEDUP_PROBE_FLIPS`` bits (the multiprobe set), scored with the
    sequential fold."""
    from gdal_spark.operators.similarity import DEDUP_PROBE_FLIPS, random_hyperplanes

    dim = len(embeddings[0][1])
    planes = [[float(x) for x in p] for p in random_hyperplanes(dim, n_planes)]

    def bucket(v):
        acc = 0
        for j, p in enumerate(planes):
            if _seq_dot(v, p) > 0:
                acc |= 1 << j
        return acc

    b = {vid: bucket(v) for vid, v in embeddings}
    cut = int(threshold * 1_000_000)
    out = []
    for i in range(len(embeddings)):
        id1, v1 = embeddings[i]
        for j in range(i + 1, len(embeddings)):
            id2, v2 = embeddings[j]
            if bin(b[id1] ^ b[id2]).count("1") > DEDUP_PROBE_FLIPS:
                continue
            cos = _seq_dot(v1, v2) / (_seq_norm(v1) * _seq_norm(v2))
            cos_e6 = math.floor(cos * 1_000_000 + 0.5)
            if cos_e6 >= cut:
                out.append((id1, id2, cos_e6))
    return sorted(out)


def ivf_topk_ref(
    embeddings: list[tuple[int, list[float]]],
    query_ids: set[int],
    k: int,
    n_centroids: int,
    n_probe: int,
) -> list[tuple[int, int, int, int]]:
    """(qid, id, cos_e6, rank) per operators.similarity.ivf_topk: the
    same deterministic sample (first ``IVF_SAMPLE`` by id), Lloyd
    centroids, per-row assignment/probe expressions, and sequential-fold
    cosine — exact, not recall-only."""
    import numpy as np

    from gdal_spark.operators.similarity import (
        IVF_SAMPLE, ivf_assign_np, ivf_probe_np, kmeans_fit,
    )

    ordered = sorted(embeddings, key=lambda t: t[0])
    S = np.array([v for _, v in ordered[:IVF_SAMPLE]], dtype=np.float64)
    C = kmeans_fit(S, n_centroids)
    by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for vid, v in embeddings:
        by_cell.setdefault(ivf_assign_np(v, C), []).append((vid, v))
    out = []
    for qid, qv in embeddings:
        if qid not in query_ids:
            continue
        scored = []
        for cell in ivf_probe_np(qv, C, n_probe):
            for vid, cv in by_cell.get(cell, []):
                cos = _seq_dot(cv, qv) / (_seq_norm(cv) * _seq_norm(qv))
                scored.append((math.floor(cos * 1_000_000 + 0.5), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (ce6, vid) in enumerate(scored[:k], 1):
            out.append((qid, vid, ce6, rank))
    return out


def dedup_clusters_ref(ids, pairs) -> list[tuple[int, int]]:
    """(doc_id, cluster_id = min id in component) via union-find — the
    independent oracle for text.dedup.dedup_clusters."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return sorted((i, find(i)) for i in parent)
