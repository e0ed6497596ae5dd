"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure JVM column expressions (regexp/split/aggregate lambdas) so they
run inside whole-stage codegen at corpus scale. Each op also ships a
DuckDB-dialect SQL emitter used by the correctness oracle so both engines
evaluate the same arithmetic (integer outputs — no float hash flakiness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "une"],
    "es": ["el", "los", "las", "es", "una", "por", "como"],
}
LANG_ORDER = ["en", "de", "fr", "es"]

FP_MOD = 1_000_000_007
FP_MULT = 131


def _stop_re(lang: str) -> str:
    return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"


def token_count_col(text_col: str = "text") -> Column:
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


def stopword_hits_col(text_col: str, lang: str) -> Column:
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(_stop_re(lang)), F.lit(0)))


def lang_id(df: DataFrame) -> DataFrame:
    """n-gram-free stopword-vote language ID of the ``text`` column into
    ``lang_guess``; deterministic argmax with ties broken by LANG_ORDER;
    0 hits everywhere → 'und'."""
    hits = {l: stopword_hits_col("text", l) for l in LANG_ORDER}
    best = F.lit("und")
    best_n = F.lit(0)
    for l in LANG_ORDER:  # later langs must beat strictly → order is tiebreak
        take = hits[l] > best_n
        best = F.when(take, F.lit(l)).otherwise(best)
        best_n = F.when(take, hits[l]).otherwise(best_n)
    return df.withColumn("lang_guess", best)


def lang_id_sql(text_expr: str) -> str:
    """Equivalent DuckDB CASE expression for the oracle (same argmax +
    tiebreak)."""
    hit = {
        l: f"len(regexp_extract_all({text_expr}, '{_stop_re(l)}', 0))" for l in LANG_ORDER
    }
    expr = "'und'"
    best = "0"
    for l in LANG_ORDER:
        expr = f"(CASE WHEN {hit[l]} > {best} THEN '{l}' ELSE {expr} END)"
        best = f"(CASE WHEN {hit[l]} > {best} THEN {hit[l]} ELSE {best} END)"
    return expr


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds integer quality columns:

    - n_tokens: whitespace token count
    - mean_token_len_e3: floor(1000 * sum(len(w)) / n_tokens)
    - stop_ratio_e6: floor(1e6 * english-stopword hits / n_tokens)
    - n_punct: punctuation character count
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(w)
    char_sum = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    stops = stopword_hits_col(text_col, "en")
    return (
        df.withColumn("n_tokens", n)
        .withColumn(
            "mean_token_len_e3",
            # cast before the multiply: int32 products wrap silently
            # with ANSI off (chars >= ~2.1M / stopword hits >= 2148)
            F.floor(char_sum.cast("long") * F.lit(1000) / n).cast("long"),
        )
        .withColumn(
            "stop_ratio_e6",
            F.floor(stops.cast("long") * F.lit(1_000_000) / n).cast("long"),
        )
        .withColumn(
            "n_punct",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.,;:!?]"), F.lit(0))),
        )
    )


def quality_metrics_sql(text_expr: str) -> dict[str, str]:
    """DuckDB expressions matching :func:`quality_metrics` column-for-column."""
    w = f"string_split_regex(trim({text_expr}), '\\s+')"
    n = f"len({w})"
    char_sum = f"list_reduce(list_transform({w}, x -> length(x)), (a, b) -> a + b)"
    stops = f"len(regexp_extract_all({text_expr}, '{_stop_re('en')}', 0))"
    return {
        "n_tokens": f"CAST({n} AS INT)",
        "mean_token_len_e3": f"CAST(FLOOR({char_sum} * 1000.0 / {n}) AS BIGINT)",
        "stop_ratio_e6": f"CAST(FLOOR({stops} * 1000000.0 / {n}) AS BIGINT)",
        "n_punct": f"CAST(len(regexp_extract_all({text_expr}, '[.,;:!?]', 0)) AS INT)",
    }


def _ngrams(w: Column, n_words: Column, k: int) -> Column:
    """Word k-grams as strings; empty array when the doc is shorter than k.
    Guarded slices (Spark sequence/slice over short arrays misbehave —
    see CLAUDE.md)."""
    parts = [F.slice(w, 1 + i, n_words - (k - 1)) for i in range(k)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n_words >= k, g).otherwise(F.array().cast("array<string>"))


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1,
    public paper): per-document duplicate word-n-gram counts and the
    largest single-word frequency. All integer outputs:

    - n_words: whitespace token count
    - dup2 / dup3: (total − distinct) word 2-/3-grams — the numerator of
      the "fraction of duplicate n-grams" filter
    - top_word_n: occurrences of the most frequent word — numerator of
      the "fraction of chars in top word" style filters

    Everything stays a per-row JVM column expression (NO shuffle, unlike
    the naive explode → groupBy(doc, word) wordcount shape): top_word_n
    comes from sort_array + longest equal-adjacent run via a single
    ``aggregate`` fold, so at corpus scale the op is a map-only pass."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(w)
    g2 = _ngrams(w, n, 2)
    g3 = _ngrams(w, n, 3)
    ws = F.sort_array(w)
    eq = F.zip_with(
        F.slice(ws, 1, n - 1),
        F.slice(ws, 2, n - 1),
        lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
    )
    run = F.aggregate(
        F.when(n >= 2, eq).otherwise(F.array().cast("array<int>")),
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda acc, x: F.struct(
            F.when(x == 1, acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"], F.when(x == 1, acc["cur"] + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        df.withColumn("n_words", n)
        .withColumn("dup2", F.size(g2) - F.size(F.array_distinct(g2)))
        .withColumn("dup3", F.size(g3) - F.size(F.array_distinct(g3)))
        .withColumn("top_word_n", run)
    )


def repetition_metrics_sql(text_expr: str) -> dict[str, str]:
    """DuckDB expressions matching :func:`repetition_metrics` (the
    top_word_n oracle is emitted separately — it needs an unnest join)."""
    w = f"string_split_regex(trim({text_expr}), '\\s+')"
    g2 = f"[{w}[i] || ' ' || {w}[i+1] FOR i IN range(1, len({w}))]"
    g3 = f"[{w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2] FOR i IN range(1, len({w}) - 1)]"
    return {
        "n_words": f"CAST(len({w}) AS INT)",
        "dup2": f"CAST(len({g2}) - len(list_distinct({g2})) AS INT)",
        "dup3": f"CAST(len({g3}) - len(list_distinct({g3})) AS INT)",
    }


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the words of ``text``,
    added as ``fp``:

        acc = (acc*131 + len(w)*31 + ascii(w[0])) mod 1e9+7

    Engine-portable (same integer arithmetic in ANSI SQL), content- and
    order-sensitive, and fully JVM-side via ``aggregate``.
    """
    w = F.split(F.trim(F.col("text")), r"\s+")
    acc = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda a, x: (a * FP_MULT + F.length(x) * 31 + F.ascii(F.substring(x, 1, 1)))
        % FP_MOD,
    )
    return df.withColumn("fp", acc)


def fingerprint_sql(text_expr: str) -> str:
    w = f"string_split_regex(trim({text_expr}), '\\s+')"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform({w}, "
        f"w -> CAST(length(w) * 31 + ascii(substr(w, 1, 1)) AS BIGINT))), "
        f"(a, b) -> (a * {FP_MULT} + b) % {FP_MOD})"
    )


# ---------------------------------------------------------------------------
# composed quality filter (Gopher-style keep/drop verdict)
# ---------------------------------------------------------------------------

GOPHER_RULES = {
    "min_words": 50, "max_words": 100_000,
    "min_mean_token_len_e3": 3_000, "max_mean_token_len_e3": 10_000,
    "min_stop_ratio_e6": 20_000,
    "max_dup2_e6": 200_000, "max_dup3_e6": 180_000,
    "max_top_word_e6": 80_000,
    "max_punct_ratio_e6": 300_000,
}

# fixed evaluation order: reject_reason is the FIRST failing rule
_RULE_ORDER = ("doc_length", "mean_word_length", "stopword_ratio",
               "dup_2gram", "dup_3gram", "top_word", "punct_ratio")


def _gopher_rules(overrides: dict) -> dict:
    """GOPHER_RULES with ``overrides`` applied; an unknown rule name raises
    rather than being ignored (a misspelt threshold would silently keep
    its default)."""
    unknown = sorted(set(overrides) - set(GOPHER_RULES))
    if unknown:
        raise ValueError(f"unknown quality rule(s) {unknown}; known: {sorted(GOPHER_RULES)}")
    return {**GOPHER_RULES, **overrides}


def quality_filter(df: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """Composed Gopher-style (Rae et al. 2021 §A1.1, public paper)
    keep/drop verdict per document: adds ``keep BOOLEAN`` and
    ``reject_reason STRING`` (the first failing rule in _RULE_ORDER;
    NULL when kept). All thresholds are integerized (e3/e6 floors) so
    the verdict is float-free; all inputs come from the existing
    map-only metric columns — the whole filter is one JVM codegen pass,
    no shuffle."""
    rules = _gopher_rules(overrides)
    d = quality_metrics(df, text_col)
    d = repetition_metrics(d, text_col)
    n = F.col("n_words").cast("long")
    # counts are IntegerType — cast BEFORE the e6 multiply or the int32
    # product wraps silently (ANSI off) for counts >= 2148, flipping
    # verdicts on exactly the huge/spammy docs these rules target
    dup2_e6 = F.floor(F.col("dup2").cast("long") * F.lit(1_000_000)
                      / F.greatest(n - 1, F.lit(1))).cast("long")
    dup3_e6 = F.floor(F.col("dup3").cast("long") * F.lit(1_000_000)
                      / F.greatest(n - 2, F.lit(1))).cast("long")
    top_e6 = F.floor(F.col("top_word_n").cast("long") * F.lit(1_000_000)
                     / n).cast("long")
    punct_e6 = F.floor(F.col("n_punct").cast("long") * F.lit(1_000_000)
                       / n).cast("long")
    checks = {
        "doc_length": (n < rules["min_words"]) | (n > rules["max_words"]),
        "mean_word_length": (F.col("mean_token_len_e3") < rules["min_mean_token_len_e3"])
        | (F.col("mean_token_len_e3") > rules["max_mean_token_len_e3"]),
        "stopword_ratio": F.col("stop_ratio_e6") < rules["min_stop_ratio_e6"],
        "dup_2gram": dup2_e6 > rules["max_dup2_e6"],
        "dup_3gram": dup3_e6 > rules["max_dup3_e6"],
        "top_word": top_e6 > rules["max_top_word_e6"],
        "punct_ratio": punct_e6 > rules["max_punct_ratio_e6"],
    }
    reason = F.lit(None).cast("string")
    for name in reversed(_RULE_ORDER):
        reason = F.when(checks[name], F.lit(name)).otherwise(reason)
    return d.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason").isNull()
    )


def quality_filter_sql(text_expr: str, top_word_expr: str, **overrides) -> str:
    """DuckDB CASE expression producing the identical reject_reason
    (``top_word_expr`` supplies the wordcount-derived top_word_n column
    name — the oracle's independent unnest path)."""
    rules = _gopher_rules(overrides)
    qm = quality_metrics_sql(text_expr)
    rm = repetition_metrics_sql(text_expr)
    n = rm["n_words"]
    conds = {
        "doc_length": f"({n} < {rules['min_words']} OR {n} > {rules['max_words']})",
        "mean_word_length": (
            f"({qm['mean_token_len_e3']} < {rules['min_mean_token_len_e3']} "
            f"OR {qm['mean_token_len_e3']} > {rules['max_mean_token_len_e3']})"
        ),
        "stopword_ratio": f"{qm['stop_ratio_e6']} < {rules['min_stop_ratio_e6']}",
        "dup_2gram": (
            f"CAST(FLOOR({rm['dup2']} * 1000000.0 / GREATEST({n} - 1, 1)) AS BIGINT)"
            f" > {rules['max_dup2_e6']}"
        ),
        "dup_3gram": (
            f"CAST(FLOOR({rm['dup3']} * 1000000.0 / GREATEST({n} - 2, 1)) AS BIGINT)"
            f" > {rules['max_dup3_e6']}"
        ),
        "top_word": (
            f"CAST(FLOOR({top_word_expr} * 1000000.0 / {n}) AS BIGINT)"
            f" > {rules['max_top_word_e6']}"
        ),
        "punct_ratio": (
            f"CAST(FLOOR({qm['n_punct']} * 1000000.0 / {n}) AS BIGINT)"
            f" > {rules['max_punct_ratio_e6']}"
        ),
    }
    whens = " ".join(
        f"WHEN {conds[name]} THEN '{name}'" for name in _RULE_ORDER
    )
    return f"CASE {whens} ELSE NULL END"


# ---------------------------------------------------------------------------
# corpus vocabulary statistics
# ---------------------------------------------------------------------------

def vocab_topk(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary of ``(doc_id, text)`` rows: the ``k`` most
    frequent words with total occurrence count and document frequency,
    ties broken by word so the result is deterministic. Returns
    ``(word, n, df)``.

    Scale shape: ONE pass over the exploded text — a (word, id)
    wordcount with map-side partial combine, then a second slim
    aggregate on word produces both stats (n = sum of per-doc counts,
    df = group size), no join and no second text scan. The top-k is
    Spark's TakeOrderedAndProject — no global sort materialization.
    """
    w = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    per_doc = w.groupBy("word", "id").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.groupBy("word")
        .agg(F.sum("c").cast("long").alias("n"),
             F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )


# score_e6 = tf * floor(n_docs * 1e6 / df), exactly. BIGINT math wraps
# (n_docs * 1000000 past 9.2e12 docs, tf times the rarity past 9.2e18),
# and Spark's `div` returns a BIGINT even on decimals, so the rarity is
# spelled q * 1e6 + floor(r * 1e6 / df) with (q, r) = divmod(n_docs, df)
# and summed and multiplied in DECIMAL(38,0): exact while tf * n_docs < 1e32.
SCORE_E6_SQL = (
    "CAST(tf AS DECIMAL(38,0)) * (CAST(n_docs div df AS DECIMAL(38,0)) * 1000000"
    " + CAST(n_docs % df AS DECIMAL(38,0)) * 1000000 div df)"
)


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-``k`` keywords of ``(doc_id, text)`` rows by
    TF × rarity. Rarity is the integerized inverse document frequency
    ``floor(n_docs * 1e6 / df)`` (a monotonic transform of idf — same
    ranking, float-free so both engines agree bit-for-bit; the classic
    log-idf differs only by a monotone map). Returns ``(doc_id, word, tf, df, score_e6)``, ties
    broken by word; ``score_e6`` is an exact DECIMAL(38,0)
    (:data:`SCORE_E6_SQL`).

    Scale shape: three slim shuffles — (id, word) wordcount with
    map-side combine, per-word document frequency (aggregate of the
    first — no second pass over text), and the per-doc top-k window on
    the 8-byte id. The corpus size joins in as a broadcast scalar; the
    tf⋈df join shuffles only (word, counts) pairs.
    """
    w = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    # materialize the wordcount once: Catalyst has no cross-consumer
    # subplan elimination, and tf feeds BOTH join sides — without this
    # the explode + wordcount over the full text runs twice (verified:
    # two identical Exchanges, zero ReusedExchange)
    tf = w.groupBy("id", "word").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    docfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_e6", F.expr(SCORE_E6_SQL))
    )
    win = Window.partitionBy("id").orderBy(
        F.desc("score_e6"), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .select(
            F.col("id").alias("doc_id"), "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score_e6",
        )
    )


# ---------------------------------------------------------------------------
# PII redaction + blocklist filtering (C4/RefinedWeb-style hygiene ops)
# ---------------------------------------------------------------------------

# patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"(?:\+|\b)\d{9,}\b", "<PHONE>"),  # a leading + is part of the number
)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RefinedWeb/C4-style PII scrub into ``text_redacted``: emails, IPv4
    addresses and long digit runs (phone-like) replaced by typed tokens,
    plus per-kind match counts (``n_email/n_ipv4/n_phone``, counted on
    the ORIGINAL text). Replacements apply in PII_PATTERNS order — earlier tokens
    contain no digits, so later patterns cannot match inside them.
    Map-only JVM regexps: scrubs at scan speed, no shuffle."""
    out = df
    for name, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
            .cast("long"),
        )
    red = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return out.withColumn("text_redacted", red)


def pii_redact_sql(text_expr: str) -> dict[str, str]:
    """DuckDB expressions matching :func:`pii_redact` (the 'g' flag —
    DuckDB replaces only the first match by default, Spark replaces
    all)."""
    cols = {}
    for name, pat, _ in PII_PATTERNS:
        cols[f"n_{name}"] = (
            f"CAST(len(regexp_extract_all({text_expr}, '{pat}', 0)) AS BIGINT)"
        )
    red = text_expr
    for _, pat, rep in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    cols["text_redacted"] = red
    return cols


def blocklist_filter(df: DataFrame, words: list[str],
                     text_col: str = "text") -> DataFrame:
    """C4-style blocklist screen: exact whitespace-token matches against
    ``words`` (occurrences counted with repeats); adds ``n_blocked`` and
    ``blocked``. The list rides the plan as a literal array (it is a
    policy list, thousands at most) — map-only, no shuffle, no UDF."""
    blk = F.array(*[F.lit(w) for w in words])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(F.filter(toks, lambda t: F.array_contains(blk, t))).cast("long")
    return df.withColumn("n_blocked", n).withColumn("blocked", n > 0)


def blocklist_filter_sql(text_expr: str, words: list[str]) -> dict[str, str]:
    lst = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"
    n = (
        f"CAST(len(list_filter(string_split_regex(trim({text_expr}), '\\s+'),"
        f" t -> list_contains({lst}, t))) AS BIGINT)"
    )
    return {"n_blocked": n, "blocked": f"({n} > 0)"}


# ---------------------------------------------------------------------------
# BPE-style pre-tokenization counting
# ---------------------------------------------------------------------------

# GPT-2's pre-tokenizer pattern (public: openai/gpt-2 encoder.py) minus
# the trailing (?!\S) lookahead — RE2 has no lookaround, and Java/RE2
# agree on this lookahead-free form (leftmost-first alternation both).
BPE_TOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def token_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting both ways the pipeline needs it: whitespace tokens
    (``n_ws_tokens``) and BPE-style pre-tokenizer pieces
    (``n_bpe_tokens`` — the GPT-2 split pattern; whitespace-only pieces
    excluded) plus ``chars_per_token_e3`` (the chars/token budget
    estimator). Map-only JVM regexps."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0))
    n_bpe = F.size(F.filter(pieces, lambda t: F.trim(t) != F.lit(""))).cast("long")
    n_ws = token_count_col(text_col).cast("long")
    return (
        df.withColumn("n_ws_tokens", n_ws)
        .withColumn("n_bpe_tokens", n_bpe)
        .withColumn(
            "chars_per_token_e3",
            F.floor(F.length(F.col(text_col)).cast("long") * F.lit(1000)
                    / F.greatest(n_bpe, F.lit(1))).cast("long"),
        )
    )


def token_metrics_sql(text_expr: str) -> dict[str, str]:
    pat = BPE_TOKEN_RE.replace("'", "''")  # SQL string-literal escaping
    pieces = f"regexp_extract_all({text_expr}, '{pat}', 0)"
    n_bpe = f"len(list_filter({pieces}, t -> trim(t) != ''))"
    n_ws = f"len(string_split_regex(trim({text_expr}), '\\s+'))"
    return {
        "n_ws_tokens": f"CAST({n_ws} AS BIGINT)",
        "n_bpe_tokens": f"CAST({n_bpe} AS BIGINT)",
        "chars_per_token_e3": (
            f"CAST(FLOOR(length({text_expr}) * 1000.0 "
            f"/ GREATEST({n_bpe}, 1)) AS BIGINT)"
        ),
    }


def line_metrics(df: DataFrame) -> DataFrame:
    """The Gopher line-level rules (Rae et al. 2021 §A1.1: drop docs
    with >90% bullet-started lines, >30% ellipsis-ended lines, or <80%
    words containing an alphabetic character) over the ``text`` column,
    as integer metric columns:
    ``n_lines, bullet_lines, ellipsis_lines, n_words, alpha_words``.
    Map-only array filters; lines are split on ``\\n``."""
    ls = F.split(F.col("text"), "\n")
    bullets = F.size(F.filter(
        ls, lambda t: F.substring(F.ltrim(t), 1, 1).isin("•", "-", "*")
    ))
    ellipsis = F.size(F.filter(
        ls, lambda t: F.rtrim(t).endswith("...") | F.rtrim(t).endswith("…")
    ))
    ws = F.split(F.trim(F.col("text")), r"\s+")
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    return (
        df.withColumn("n_lines", F.size(ls).cast("long"))
        .withColumn("bullet_lines", bullets.cast("long"))
        .withColumn("ellipsis_lines", ellipsis.cast("long"))
        .withColumn("n_words", F.size(ws).cast("long"))
        .withColumn("alpha_words", alpha.cast("long"))
    )


def line_metrics_sql(text_expr: str) -> dict[str, str]:
    ls = f"string_split({text_expr}, chr(10))"
    ws = f"string_split_regex(trim({text_expr}), '\\s+')"
    bullets = (
        f"len(list_filter({ls}, t -> substr(ltrim(t), 1, 1) IN ('•', '-', '*')))"
    )
    ellipsis = (
        f"len(list_filter({ls}, t -> ends_with(rtrim(t), '...')"
        f" OR ends_with(rtrim(t), '…')))"
    )
    alpha = f"len(list_filter({ws}, w -> regexp_matches(w, '[A-Za-z]')))"
    return {
        "n_lines": f"CAST(len({ls}) AS BIGINT)",
        "bullet_lines": f"CAST({bullets} AS BIGINT)",
        "ellipsis_lines": f"CAST({ellipsis} AS BIGINT)",
        "n_words": f"CAST(len({ws}) AS BIGINT)",
        "alpha_words": f"CAST({alpha} AS BIGINT)",
    }


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 §3.3 score
    documents with a language model; the production form broadcasts a
    trained model into a map-only pass) — here the corpus's own unigram
    model with a FLOAT-FREE whole-bit surprisal so both engines agree
    exactly: surprisal(w) = ⌊log2 N⌋ − ⌊log2 count(w)⌋ bits, computed as
    ``length(bin(x))`` differences. Scores ``(doc_id, text)`` rows and
    returns ``(doc_id, n_words, surprisal_bits, bits_per_word_e3)`` —
    high bits/word ≈ improbable text (gibberish/rare-token soup), low ≈
    common filler.

    Scale shape: the token stream aggregates to per-doc wordcounts
    FIRST (map-side combine), and THAT table — distinct (doc, word)
    pairs, far smaller than the token stream — is what materializes
    (localCheckpoint: it feeds both the model aggregate and the scoring
    join, and Catalyst would recompute the explode for each). Model =
    one more slim aggregate of it; scoring = word-keyed join weighted
    by the per-doc count; per-doc reduce on the 8-byte id. Text never
    shuffles."""
    tf = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()
    )
    counts = tf.groupBy("word").agg(F.sum("k").alias("cnt"))
    total = tf.agg(F.sum("k").alias("n_total"))
    bits = (
        F.length(F.bin(F.col("n_total").cast("long")))
        - F.length(F.bin(F.col("cnt").cast("long")))
    ).cast("long")
    scored = (
        tf.join(counts, "word")
        .crossJoin(F.broadcast(total))
        .select("id", F.col("k"), (bits * F.col("k")).alias("wbits"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("k").cast("long").alias("n_words"),
            F.sum("wbits").cast("long").alias("surprisal_bits"),
            F.floor(F.sum("wbits") * F.lit(1000) / F.sum("k"))
            .cast("long").alias("bits_per_word_e3"),
        )
        .withColumnRenamed("id", "doc_id")
    )
