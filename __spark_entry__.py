"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pages pipeline smoke (sf0.001 scale inputs).
``queries()``   — one entry per implemented operator family (SURVEY.md §2
                  + training-data ops); each callable: (spark, sf_dir) → DF.
``oracle_sql()``— DuckDB-equivalent SQL per query (tables pre-registered).

Determinism rules used throughout so value-hashes match bit-for-bit:
- compared floats leave the engines as integers (floor(x*10^k + 0.5));
- double arithmetic is emitted with the *identical* operation order in
  both engines (shared SQL emitters in gdal_spark.tiling / sql_oracle);
- ties in every ORDER BY / window are broken by a unique integer key.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gdal_spark import sql_oracle, tiling
from gdal_spark.fixtures import fixture_polygons, fixture_polyset
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.ogr_compat import distinct_list, first_match_join, summary_aggregates
from gdal_spark.operators.similarity import cosine_topk, knn_cosine_join
from gdal_spark.operators.spatial_join import assign_tiles, pip_counts, point_in_polygon_join
from gdal_spark.text import analysis, dedup
from gdal_spark.text.pipeline import curate

GDAL_AUTOTEST = "/root/reference/autotest"  # the reference checkout's autotest data
TESTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests")  # fixtures_poly


def _gdal_ref(rel: str) -> str:
    """Path of a GDAL autotest reference file; raises FileNotFoundError
    naming the path when the reference checkout does not have it."""
    path = f"{GDAL_AUTOTEST}/{rel}"
    if not os.path.exists(path):
        raise FileNotFoundError(f"GDAL reference file missing: {path}")
    return path


@functools.cache
def _gate_root() -> str:
    root = tempfile.mkdtemp(prefix="gdal_spark_gates_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _gate_dir(prefix: str) -> str:
    """A fresh directory for one gate's files. All of them sit under one
    per-process root that is removed at interpreter exit, not sooner: a
    gate's DataFrame may read its directory until the caller collects it."""
    return tempfile.mkdtemp(prefix=prefix, dir=_gate_root())


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _with_lonlat(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("lon", F.expr(sql_oracle.lon_sql(key))).withColumn(
        "lat", F.expr(sql_oracle.lat_sql(key))
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule pages pipeline (:func:`gdal_spark.pages.flagship`)
    at smoke scale over synth Common-Crawl-style pages, its per-tile
    counts summed per polygon: ``(poly_id, n_pages)``."""
    from gdal_spark.pages import flagship, synth_pages

    return (
        flagship(synth_pages(spark, 20_000), fixture_polyset())
        .groupBy("poly_id")
        .agg(F.sum("n_pages").alias("n_pages"))
        .orderBy("poly_id")
    )


# ---------------------------------------------------------------------------
# query/oracle registry
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _lazy_oracle(name: str, builder):
    """Oracle whose SQL needs numpy-time computation (raster constants)."""
    _LAZY_ORACLES[name] = builder


_LAZY_ORACLES: dict[str, Callable[[], str]] = {}


# -- 1. tile assignment ------------------------------------------------------

_TX8, _TY8 = tiling.lonlat_tile_sql(sql_oracle.lon_sql("c_custkey"), sql_oracle.lat_sql("c_custkey"), 8)


@_register(
    "tile_assign_z8",
    f"""
    SELECT {_TX8} AS tile_x, {_TY8} AS tile_y, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1, 2 ORDER BY tile_x, tile_y
    """,
)
def q_tile_assign_z8(spark, sf_dir):
    pts = _with_lonlat(_t(spark, sf_dir, "customer"), "c_custkey")
    return (
        assign_tiles(pts, zoom=8)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tile_x", "tile_y")
    )


_TX6, _TY6 = tiling.lonlat_tile_sql(sql_oracle.lon_sql("o_orderkey"), sql_oracle.lat_sql("o_orderkey"), 6)


@_register(
    "tile_assign_tms_z6",
    f"""
    SELECT {_TX6} AS tile_x, CAST({(1 << 6) - 1} - {_TY6} AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2 ORDER BY tile_x, tile_y
    """,
)
def q_tile_assign_tms_z6(spark, sf_dir):
    pts = _with_lonlat(_t(spark, sf_dir, "orders"), "o_orderkey")
    return (
        assign_tiles(pts, zoom=6, convention="tms")
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tile_x", "tile_y")
    )


# -- 2. point-in-polygon spatial join ---------------------------------------

def _pip_oracle(key: str, table: str) -> str:
    ids, rings = fixture_polygons()
    mx = tiling.mercator_x_sql(sql_oracle.lon_sql(key))
    my = tiling.mercator_y_sql(sql_oracle.lat_sql(key))
    selects = []
    for pid, rr in zip(ids, rings):
        contains = sql_oracle.polygon_contains_sql(mx, my, rr)
        selects.append(
            f"SELECT CAST({pid} AS BIGINT) AS poly_id, CAST({key} AS BIGINT) AS pt_id "
            f"FROM {table} WHERE {contains}"
        )
    return " UNION ALL ".join(selects)


@_register(
    "pip_polygon_counts",
    f"""
    SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM ({_pip_oracle('c_custkey', 'customer')}) GROUP BY poly_id ORDER BY poly_id
    """,
)
def q_pip_polygon_counts(spark, sf_dir):
    pts = _with_lonlat(_t(spark, sf_dir, "customer"), "c_custkey")
    return pip_counts(pts, fixture_polyset(), zoom=6).orderBy("poly_id")


@_register(
    "pip_join_rows",
    f"""
    SELECT pt_id, poly_id FROM ({_pip_oracle('o_orderkey', 'orders')})
    WHERE pt_id < 3000 ORDER BY pt_id, poly_id
    """,
)
def q_pip_join_rows(spark, sf_dir):
    pts = _with_lonlat(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000), "o_orderkey"
    )
    joined = point_in_polygon_join(pts, fixture_polyset(), zoom=6)
    return (
        joined.select(F.col("o_orderkey").alias("pt_id"), F.col("poly_id"))
        .orderBy("pt_id", "poly_id")
    )


# -- 3. kNN join -------------------------------------------------------------

_KNN_ORACLE = f"""
    WITH q AS (
      SELECT s_suppkey AS qid,
             {tiling.mercator_x_sql(sql_oracle.lon_sql('s_suppkey * 7 + 3'))} AS qx,
             {tiling.mercator_y_sql(sql_oracle.lat_sql('s_suppkey * 7 + 3'))} AS qy
      FROM supplier),
    n AS (
      SELECT c_custkey AS nid,
             {tiling.mercator_x_sql(sql_oracle.lon_sql('c_custkey'))} AS nx,
             {tiling.mercator_y_sql(sql_oracle.lat_sql('c_custkey'))} AS ny
      FROM customer),
    d AS (
      SELECT qid, nid, (qx - nx) * (qx - nx) + (qy - ny) * (qy - ny) AS d2
      FROM q CROSS JOIN n),
    r AS (
      SELECT qid, nid, d2,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rank
      FROM d)
    SELECT qid, nid, CAST(rank AS INT) AS rank,
           CAST(FLOOR(sqrt(d2) * 1000.0e0 + 0.5e0) AS BIGINT) AS dist_e3
    FROM r WHERE rank <= 3 ORDER BY qid, rank
"""


@_register("knn_cell_join", _KNN_ORACLE)
def q_knn_cell_join(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("qid"),
        F.expr(tiling.mercator_x_sql(sql_oracle.lon_sql("s_suppkey * 7 + 3"))).alias("x"),
        F.expr(tiling.mercator_y_sql(sql_oracle.lat_sql("s_suppkey * 7 + 3"))).alias("y"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("nid"),
        F.expr(tiling.mercator_x_sql(sql_oracle.lon_sql("c_custkey"))).alias("x"),
        F.expr(tiling.mercator_y_sql(sql_oracle.lat_sql("c_custkey"))).alias("y"),
    )
    out = knn_join(sup, cust, k=3, zoom=4)
    return out.select(
        "qid",
        "nid",
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("dist") * 1000.0 + F.lit(0.5)).cast("long").alias("dist_e3"),
    ).orderBy("qid", "rank")


# -- 4. OGR SQL semantics ----------------------------------------------------

@_register(
    "first_match_join",
    """
    WITH sec AS (
      SELECT c_custkey % 100 AS jk, c_custkey, c_name,
             ROW_NUMBER() OVER (PARTITION BY c_custkey % 100 ORDER BY c_custkey) AS rn
      FROM customer)
    SELECT o.o_orderkey, s.c_custkey, s.c_name
    FROM orders o LEFT JOIN (SELECT * FROM sec WHERE rn = 1) s
      ON o.o_custkey % 100 = s.jk
    WHERE o.o_orderkey < 1000 ORDER BY o.o_orderkey
    """,
)
def q_first_match_join(spark, sf_dir):
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .withColumn("jk", F.col("o_custkey") % 100)
    )
    cust = _t(spark, sf_dir, "customer").withColumn("sk", F.col("c_custkey") % 100)
    out = first_match_join(orders, cust, on=("jk", "sk"), secondary_fid="c_custkey")
    return out.select("o_orderkey", "c_custkey", "c_name").orderBy("o_orderkey")


@_register(
    "summary_agg_lineitem",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
    FROM lineitem
    """,
)
def q_summary_agg_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_c", F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5)).cast("long")
    )
    return summary_aggregates(
        li,
        [
            ("count", "*", "cnt"),
            ("count_distinct", "l_returnflag", "n_flags"),
            ("sum", "qty_c", "sum_qty_c"),
        ],
    ).select(
        "cnt",
        "n_flags",
        F.col("sum_qty_c").cast("long").alias("sum_qty_c"),
    ).crossJoin(
        li.agg(
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        )
    )


@_register(
    "groupby_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(SUM(CAST(FLOOR(l_discount * 10000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_disc_e4
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
    """,
)
def q_groupby_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5)).cast("long")).alias("sum_qty_c"),
            F.sum(F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")).alias("sum_price_c"),
            F.sum(F.floor(F.col("l_discount") * 10000.0 + F.lit(0.5)).cast("long")).alias("sum_disc_e4"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "distinct_first_occurrence",
    """
    SELECT o_orderpriority, CAST(MIN(o_orderkey) AS BIGINT) AS first_fid
    FROM orders GROUP BY o_orderpriority ORDER BY first_fid
    """,
)
def q_distinct_first_occurrence(spark, sf_dir):
    return distinct_list(_t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderkey")


@_register(
    "orderby_limit_offset",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * 100.0e0 + 0.5e0) AS BIGINT) AS price_c
    FROM lineitem
    ORDER BY price_c DESC, l_orderkey, l_linenumber
    LIMIT 50 OFFSET 10
    """,
)
def q_orderby_limit_offset(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "price_c", F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    )
    return (
        li.select("l_orderkey", "l_linenumber", "price_c")
        .orderBy(F.col("price_c").desc(), "l_orderkey", "l_linenumber")
        .offset(10)
        .limit(50)
    )


@_register(
    "filter_like_between_in",
    """
    SELECT p_partkey FROM part
    WHERE p_name LIKE '%ol%' AND p_size BETWEEN 10 AND 30
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    ORDER BY p_partkey
    """,
)
def q_filter_like_between_in(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_name").like("%ol%")
            & F.col("p_size").between(10, 30)
            & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        )
        .select("p_partkey")
        .orderBy("p_partkey")
    )


@_register(
    "scalar_substr_concat_cast",
    """
    SELECT c_custkey,
           substr(c_name, 1, 8) || '#' || CAST(c_nationkey AS VARCHAR) AS tag
    FROM customer WHERE c_custkey % 7 = 0 ORDER BY c_custkey
    """,
)
def q_scalar_substr_concat_cast(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    return c.select(
        "c_custkey",
        F.concat(
            F.substring("c_name", 1, 8), F.lit("#"), F.col("c_nationkey").cast("string")
        ).alias("tag"),
    ).orderBy("c_custkey")


@_register(
    "hstore_props_extract",
    r"""
    SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k_val
    FROM events WHERE event_id < 2000 ORDER BY event_id
    """,
)
def q_hstore_props_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int").alias("k_val"),
    ).orderBy("event_id")


@_register(
    "window_rank_orders",
    """
    SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY FLOOR(o_totalprice * 100.0e0 + 0.5e0) DESC, o_orderkey) AS rn
      FROM orders WHERE o_custkey < 100)
    WHERE rn <= 3 ORDER BY o_custkey, rn
    """,
)
def q_window_rank_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rn").cast("int").alias("rn"))
        .orderBy("o_custkey", "rn")
    )


@_register(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """,
)
def q_events_hourly_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("sum_value_c"),
        )
        .orderBy("hour", "event_type")
    )


@_register(
    "union_all_chain",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderpriority FROM orders WHERE o_totalprice > 200000.0e0
    ) GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_union_all_chain(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    u = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority").unionByName(
        o.filter(F.col("o_totalprice") > 200000.0).select("o_orderpriority")
    )
    return u.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).orderBy(
        "o_orderpriority"
    )


# -- 5. dedup / text ---------------------------------------------------------

@_register(
    "dedup_exact",
    "SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@_register(
    "dedup_ngram_jaccard",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id1, p.id2, CAST(p.common AS BIGINT) AS common,
           CAST(s1.nsh AS BIGINT) AS n1, CAST(s2.nsh AS BIGINT) AS n2
    FROM pairs p JOIN sizes s1 ON p.id1 = s1.doc_id JOIN sizes s2 ON p.id2 = s2.doc_id
    WHERE CAST(p.common AS DOUBLE) / (s1.nsh + s2.nsh - p.common) >= 0.2e0
    ORDER BY id1, id2
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(d, threshold=0.2, max_df=None)
    return out.select(
        F.col("id1"),
        F.col("id2"),
        F.col("common").cast("long").alias("common"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
    ).orderBy("id1", "id2")


@_register(
    "dedup_ngram_jaccard_capped",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
    keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 4),
    sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN keep USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id1, p.id2, CAST(p.common AS BIGINT) AS common,
           CAST(s1.nsh AS BIGINT) AS n1, CAST(s2.nsh AS BIGINT) AS n2
    FROM pairs p JOIN sizes s1 ON p.id1 = s1.doc_id JOIN sizes s2 ON p.id2 = s2.doc_id
    WHERE CAST(p.common AS DOUBLE) / (s1.nsh + s2.nsh - p.common) >= 0.2e0
    ORDER BY id1, id2
    """,
)
def q_dedup_ngram_jaccard_capped(spark, sf_dir):
    """The SCALE path: stop-shingles (doc frequency > cap) dropped before
    the self-join — the subquadratic default at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(d, threshold=0.2, max_df=4)
    return out.select(
        F.col("id1"),
        F.col("id2"),
        F.col("common").cast("long").alias("common"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
    ).orderBy("id1", "id2")


@_register("dedup_minhash_lsh")
def q_dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(d, threshold=0.4).orderBy("id1", "id2")


def _oracle_minhash() -> str:
    """Independent pure-Python big-int MinHash+LSH (XXH64 spec re-impl) —
    validates the limb-split (a*h+b) mod 2^61-1 column math end to end."""
    from gdal_spark.text import ref_impl

    rows = ref_impl.minhash_pairs_ref(ref_impl.load_documents(), threshold=0.4)
    return ref_impl.values_sql(
        rows, ["id1", "id2", "est_e6"], ["BIGINT", "BIGINT", "BIGINT"], "id1, id2"
    )


_lazy_oracle("dedup_minhash_lsh", _oracle_minhash)


@_register("dedup_simhash")
def q_dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sim = dedup.simhash(d)
    return dedup.simhash_near_pairs(sim, max_hamming=8).orderBy("id1", "id2")


def _oracle_simhash() -> str:
    """Brute-force all-pairs hamming ground truth: proves the pigeonhole
    blocking (max_hamming+1 blocks) has complete recall, not just that
    the blocked path is self-consistent."""
    from gdal_spark.text import ref_impl

    rows = ref_impl.simhash_allpairs_ref(ref_impl.load_documents(), max_hamming=8)
    return ref_impl.values_sql(
        rows, ["id1", "id2", "hamming"], ["BIGINT", "BIGINT", "BIGINT"], "id1, id2"
    )


_lazy_oracle("dedup_simhash", _oracle_simhash)


@_register(
    "lang_id_counts",
    f"""
    SELECT {analysis.lang_id_sql('text')} AS lang_guess, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1 ORDER BY lang_guess
    """,
)
def q_lang_id_counts(spark, sf_dir):
    d = analysis.lang_id(_t(spark, sf_dir, "documents"))
    return d.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n")).orderBy("lang_guess")


_QM = analysis.quality_metrics_sql("text")


@_register(
    "quality_metrics",
    f"""
    SELECT doc_id, {_QM['n_tokens']} AS n_tokens,
           {_QM['mean_token_len_e3']} AS mean_token_len_e3,
           {_QM['stop_ratio_e6']} AS stop_ratio_e6,
           {_QM['n_punct']} AS n_punct
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q_quality_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return analysis.quality_metrics(d).select(
        "doc_id", "n_tokens", "mean_token_len_e3", "stop_ratio_e6", "n_punct"
    ).orderBy("doc_id")


@_register(
    "doc_fingerprint",
    f"""
    SELECT doc_id, CAST({analysis.fingerprint_sql('text')} AS BIGINT) AS fp
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return analysis.fingerprint(d).select("doc_id", "fp").orderBy("doc_id")


_RM = analysis.repetition_metrics_sql("text")


@_register(
    "repetition_metrics",
    f"""
    WITH tw AS (
      SELECT doc_id, CAST(MAX(c) AS INT) AS top_word_n FROM (
        SELECT doc_id, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS word
          FROM documents) AS words
        GROUP BY doc_id, word) AS freq
      GROUP BY doc_id)
    SELECT d.doc_id, {_RM['n_words']} AS n_words, {_RM['dup2']} AS dup2,
           {_RM['dup3']} AS dup3, tw.top_word_n
    FROM documents d JOIN tw ON d.doc_id = tw.doc_id
    ORDER BY d.doc_id
    """,
)
def q_repetition_metrics(spark, sf_dir):
    """Gopher repetition quality filters (Rae et al. 2021 — public
    paper): duplicate word 2-/3-gram counts and top-word frequency per
    document, all as map-only JVM column expressions (top_word_n via
    sort_array + longest equal-run fold — no wordcount shuffle). The
    oracle derives top_word_n through the classic unnest → GROUP BY
    wordcount instead, so the two engines agree via different plans."""
    d = _t(spark, sf_dir, "documents")
    return analysis.repetition_metrics(d).select(
        "doc_id", "n_words", "dup2", "dup3", "top_word_n"
    ).orderBy("doc_id")


@_register(
    "quality_filter_verdicts",
    f"""
    WITH tw AS (
      SELECT doc_id, CAST(MAX(c) AS INT) AS top_word_n FROM (
        SELECT doc_id, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS word
          FROM documents) AS words
        GROUP BY doc_id, word) AS freq
      GROUP BY doc_id)
    SELECT d.doc_id,
           {analysis.quality_filter_sql('d.text', 'tw.top_word_n')} AS reject_reason,
           CAST({analysis.quality_filter_sql('d.text', 'tw.top_word_n')} IS NULL
                AS BOOLEAN) AS keep
    FROM documents d JOIN tw ON d.doc_id = tw.doc_id
    ORDER BY d.doc_id
    """,
)
def q_quality_filter_verdicts(spark, sf_dir):
    """Composed Gopher-style quality FILTER (Rae et al. 2021 §A1.1):
    keep/drop verdict + first-failing-rule reason per document, all
    integerized thresholds over the existing map-only metric columns —
    one JVM codegen pass, no shuffle. The oracle recomputes the same
    CASE chain in DuckDB with the top-word numerator from the classic
    unnest wordcount (a different plan shape for the same value)."""
    d = _t(spark, sf_dir, "documents")
    return analysis.quality_filter(d).select(
        "doc_id", "reject_reason", "keep"
    ).orderBy("doc_id")



def _chunk8_lines():
    """8-word pseudo-paragraph array over the `text` column — shared by
    the line-dedup / curation / line-metrics / streaming-line gates (the
    synthetic corpus is single-line; the DuckDB oracles use the matching
    generate_series + list_slice chunking)."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    nl = F.floor((F.size(ws) + F.lit(7)) / F.lit(8)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(ws, i * 8 + 1, 8), " "),
    )


@_register(
    "dedup_lines_ccnet",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    ch AS (
      SELECT doc_id,
             list_transform(generate_series(0, CAST((len(ws) + 7) // 8 AS INT) - 1),
                            i -> array_to_string(ws[i*8+1:i*8+8], ' ')) AS ls
      FROM w),
    lines AS (
      SELECT doc_id, i - 1 AS pos, ls[i] AS line
      FROM ch, UNNEST(generate_series(1, len(ls))) AS t(i)),
    rk AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY trim(line) ORDER BY doc_id, pos) = 1
               AS first_seen
      FROM lines)
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN first_seen THEN line END, chr(10)
                               ORDER BY pos), '') AS text,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rk GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_dedup_lines_ccnet(spark, sf_dir):
    """CCNet-style corpus-level line dedup (Wenzek et al. 2020 §3.1):
    each line survives only at its first corpus-wide occurrence by
    (doc_id, position); docs are re-assembled from surviving lines.
    Documents are first re-chunked into 8-word pseudo-paragraphs (the
    synthetic corpus is single-line) with identical chunking on both
    engines. Reference parity: OGR has no text dedup — this is the
    training-data-pipeline surface (SURVEY §2 LLM ops)."""
    d = _t(spark, sf_dir, "documents")
    chunked = d.select("doc_id", F.array_join(_chunk8_lines(), "\n").alias("text"))
    return dedup.line_dedup(chunked).select(
        "doc_id", "text", "n_lines", "n_kept"
    ).orderBy("doc_id")


@_register(
    "vocab_topk",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents),
    tot AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word),
    dfq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
            FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word)
    SELECT t.word, t.n, d.df FROM tot t JOIN dfq d USING (word)
    ORDER BY t.n DESC, t.word LIMIT 100
    """,
)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k: total word count + document frequency,
    deterministic (n desc, word) tie-break. Map-side partial combine on
    both aggregates; top-k is TakeOrderedAndProject (no global sort)."""
    return analysis.vocab_topk(_t(spark, sf_dir, "documents"), k=100)


@_register(
    "decontaminate_benchmark",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
      FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)),
    bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    hits AS (SELECT s.doc_id, COUNT(*) AS n_hits
             FROM sh s JOIN bsh USING (shingle) GROUP BY s.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id
    """,
)
def q_decontaminate_benchmark(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C n-gram overlap screen,
    public paper): flag training docs sharing any 5-gram with the eval
    set (here: every 97th doc). The eval side's distinct shingles are
    BROADCAST — corpus side is map-only scan + broadcast hash join, no
    corpus shuffle; the flag join back rides the 8-byte doc_id."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.contamination_flags(d, bench).orderBy("doc_id")


@_register(
    "corpus_curation_pipeline",
    """
    WITH w0 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    ch AS (
      SELECT doc_id,
             array_to_string(list_transform(
               generate_series(0, CAST((len(ws) + 7) // 8 AS INT) - 1),
               i -> array_to_string(ws[i*8+1:i*8+8], ' ')), chr(10)) AS text
      FROM w0),
    tw AS (
      SELECT doc_id, CAST(MAX(c) AS INT) AS top_word_n FROM (
        SELECT doc_id, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
          FROM ch) AS words
        GROUP BY doc_id, word) AS freq
      GROUP BY doc_id),
    kept AS (
      SELECT ch.doc_id, ch.text FROM ch JOIN tw ON ch.doc_id = tw.doc_id
      WHERE {QF_CASE} IS NULL),
    lines AS (
      SELECT doc_id, i - 1 AS pos, ls[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM kept) t,
           UNNEST(generate_series(1, len(ls))) AS u(i)),
    rk AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY trim(line) ORDER BY doc_id, pos) = 1
               AS first_seen
      FROM lines),
    dd AS (
      SELECT doc_id,
             COALESCE(string_agg(CASE WHEN first_seen THEN line END, chr(10)
                                 ORDER BY pos), '') AS text,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM rk GROUP BY doc_id),
    uniq AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
             arg_min(n_lines, doc_id) AS n_lines,
             arg_min(n_kept, doc_id) AS n_kept, text
      FROM dd WHERE n_kept > 0 GROUP BY text)
    SELECT doc_id, n_lines, n_kept, {FP} AS fp
    FROM uniq ORDER BY doc_id
    """.replace(
        "{QF_CASE}", analysis.quality_filter_sql("ch.text", "tw.top_word_n")
    ).replace("{FP}", analysis.fingerprint_sql("text")),
)
def q_corpus_curation_pipeline(spark, sf_dir):
    """The END-TO-END web-text curation flow as ONE composed Spark plan:
    :func:`gdal_spark.text.pipeline.curate` without the PII scrub (Gopher
    quality filter → CCNet corpus-level line dedup, first occurrence wins
    → drop emptied docs → exact dedup, min-id representative) → content
    fingerprint. Every stage is the same operator its standalone gate
    verifies — this gate proves they COMPOSE, oracle included (the DuckDB
    side re-derives the full chain). Scale: the only shuffles are the line-value window,
    the id reassembly, and the final text-hash group — the 100 TB corpus
    never materializes between stages."""
    d = _t(spark, sf_dir, "documents")
    chunked = d.select("doc_id", F.array_join(_chunk8_lines(), "\n").alias("text"))
    return (
        analysis.fingerprint(curate(chunked, redact_pii=False))
        .select("doc_id", "n_lines", "n_kept", "fp")
        .orderBy("doc_id")
    )


@_register(
    "unigram_surprisal_scores",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents),
    cnts AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    tot AS (SELECT COUNT(*) AS n_total FROM w),
    bits AS (
      SELECT w.doc_id,
             CAST(length(bin(CAST(tot.n_total AS BIGINT)))
                  - length(bin(CAST(cnts.cnt AS BIGINT))) AS BIGINT) AS b
      FROM w JOIN cnts USING (word) CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(b) AS BIGINT) AS surprisal_bits,
           CAST(FLOOR(SUM(b) * 1000.0 / COUNT(*)) AS BIGINT) AS bits_per_word_e3
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_unigram_surprisal_scores(spark, sf_dir):
    """CCNet-style LM quality scoring with the corpus unigram model —
    whole-bit (length(bin(x))) surprisal keeps both engines float-free
    and exact. The production form swaps the corpus model for a
    broadcast trained LM in the same map-only join shape."""
    return analysis.unigram_surprisal(
        _t(spark, sf_dir, "documents")
    ).orderBy("doc_id")


_LM_TEXT_SQL = (
    "array_to_string(list_transform("
    "generate_series(0, CAST((len(string_split_regex(trim(d.text), '\\s+')) + 7) // 8 AS INT) - 1),"
    " i -> (CASE WHEN (d.doc_id + i) % 3 = 0 THEN '• ' ELSE '' END)"
    " || array_to_string(string_split_regex(trim(d.text), '\\s+')[i*8+1:i*8+8], ' ')"
    " || (CASE WHEN (d.doc_id + i) % 5 = 0 THEN ' ...' ELSE '' END)"
    "), chr(10))"
)
_LM_SQL = analysis.line_metrics_sql(f"({_LM_TEXT_SQL})")


@_register(
    "gopher_line_metrics",
    f"""
    SELECT d.doc_id,
           {_LM_SQL['n_lines']} AS n_lines,
           {_LM_SQL['bullet_lines']} AS bullet_lines,
           {_LM_SQL['ellipsis_lines']} AS ellipsis_lines,
           {_LM_SQL['n_words']} AS n_words,
           {_LM_SQL['alpha_words']} AS alpha_words
    FROM documents d ORDER BY d.doc_id
    """,
)
def q_gopher_line_metrics(spark, sf_dir):
    """The remaining Gopher line-level rules (Rae et al. 2021 §A1.1:
    bullet-started lines, ellipsis-ended lines, words-with-alpha) as
    map-only metrics. The corpus is single-line, so the gate decorates
    deterministic 8-word pseudo-lines with bullets/ellipses — built
    with the identical index arithmetic on both engines."""
    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    dec = F.transform(
        _chunk8_lines(),
        lambda x, i: F.concat(
            F.when((doc + i) % 3 == 0, F.lit("• ")).otherwise(F.lit("")),
            x,
            F.when((doc + i) % 5 == 0, F.lit(" ...")).otherwise(F.lit("")),
        ),
    )
    chunked = d.select("doc_id", F.array_join(dec, "\n").alias("text"))
    return analysis.line_metrics(chunked).select(
        "doc_id", "n_lines", "bullet_lines", "ellipsis_lines",
        "n_words", "alpha_words",
    ).orderBy("doc_id")


_TOK_SQL = analysis.token_metrics_sql("d.text")


@_register(
    "bpe_token_counts",
    f"""
    SELECT d.doc_id,
           {_TOK_SQL['n_ws_tokens']} AS n_ws_tokens,
           {_TOK_SQL['n_bpe_tokens']} AS n_bpe_tokens,
           {_TOK_SQL['chars_per_token_e3']} AS chars_per_token_e3
    FROM documents d ORDER BY d.doc_id
    """,
)
def q_bpe_token_counts(spark, sf_dir):
    """Token counting both ways (whitespace + the GPT-2 pre-tokenizer
    split, lookahead-free so Java regex and RE2 agree) plus the
    chars-per-token budget estimator. Map-only JVM regexps — token
    accounting for a 100 TB corpus rides the scan."""
    d = _t(spark, sf_dir, "documents")
    return analysis.token_metrics(d).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens", "chars_per_token_e3"
    ).orderBy("doc_id")


_PII_TEXT_SQL = (
    "d.text || ' contact user' || d.doc_id || '@example.com or 10.0.0.' "
    "|| (d.doc_id % 256) || ' tel +12345678901'"
)
_PII_SQL = analysis.pii_redact_sql(f"({_PII_TEXT_SQL})")


@_register(
    "pii_redact_counts",
    f"""
    SELECT d.doc_id,
           {_PII_SQL['n_email']} AS n_email,
           {_PII_SQL['n_ipv4']} AS n_ipv4,
           {_PII_SQL['n_phone']} AS n_phone,
           {analysis.fingerprint_sql(_PII_SQL['text_redacted'])} AS fp
    FROM documents d ORDER BY d.doc_id
    """,
)
def q_pii_redact_counts(spark, sf_dir):
    """RefinedWeb/C4-style PII scrub on synthesized PII-bearing text
    (the corpus tables carry none): per-kind match counts + the rolling
    fingerprint of the REDACTED text — any divergence in match spans or
    replacement tokens between the Java-regex and RE2 paths breaks the
    hash. Map-only: scrubbing rides the scan."""
    d = _t(spark, sf_dir, "documents")
    t2 = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel +12345678901"),
    )
    out = analysis.pii_redact(d.select("doc_id", t2.alias("text")))
    return analysis.fingerprint(
        out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                   F.col("text_redacted").alias("text"))
    ).select("doc_id", "n_email", "n_ipv4", "n_phone", "fp").orderBy("doc_id")


_BLOCKLIST = ["spark", "hash", "merge"]
_BLK_SQL = analysis.blocklist_filter_sql("d.text", _BLOCKLIST)


@_register(
    "blocklist_filter_flags",
    f"""
    SELECT d.doc_id, {_BLK_SQL['n_blocked']} AS n_blocked,
           {_BLK_SQL['blocked']} AS blocked
    FROM documents d ORDER BY d.doc_id
    """,
)
def q_blocklist_filter_flags(spark, sf_dir):
    """C4-style blocklist screen (Raffel et al. 2020 §2.2 'bad words'
    filtering, public paper): exact token matches against a policy list
    carried as a plan literal — map-only, no shuffle, no UDF."""
    d = _t(spark, sf_dir, "documents")
    return analysis.blocklist_filter(d, _BLOCKLIST).select(
        "doc_id", "n_blocked", "blocked"
    ).orderBy("doc_id")


@_register(
    "tfidf_top_terms",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
    dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
             CAST(tf.tf * ((nd.n_docs * 1000000) // dfq.df) AS BIGINT)
               AS score_e6,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ((nd.n_docs * 1000000) // dfq.df)
                                  DESC, tf.word) AS rk
      FROM tf JOIN dfq USING (word) CROSS JOIN nd)
    SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score_e6
    FROM scored WHERE rk <= 5 ORDER BY doc_id, rk
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-5 keywords by TF × integerized rarity (monotone map of
    log-idf — same ranking, float-free so both engines agree exactly).
    Three slim shuffles: (id, word) wordcount, per-word doc frequency
    derived from it (no second text pass), per-doc top-k window."""
    return analysis.tfidf_top_terms(
        _t(spark, sf_dir, "documents"), k=5
    ).orderBy("doc_id", F.desc("score_e6"), "word")


# -- 6. embedding similarity -------------------------------------------------

@_register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id AS id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(
          generate_series(1, len(e.embedding)),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))), (a, b) -> a + b)
        /
        (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(e.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
         * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.qv,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))) AS cos
      FROM embeddings e, q)
    SELECT id, CAST(FLOOR(cos * 1000000.0e0 + 0.5e0) AS BIGINT) AS cos_e6
    FROM scored ORDER BY cos_e6 DESC, id ASC LIMIT 10
    """,
)
def q_ann_cosine_topk(spark, sf_dir):
    """Exact top-10 by cosine to vec_id 0's embedding (collected as the
    query vector), through :func:`~gdal_spark.operators.similarity.cosine_topk`."""
    e = _t(spark, sf_dir, "embeddings")
    (qv,) = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return cosine_topk(e, qv)


@_register(
    "ann_knn_cosine_join",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.qid, e.vec_id AS id,
        CAST(FLOOR(
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(
            generate_series(1, len(e.embedding)),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))), (a, b) -> a + b)
          /
          (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(e.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(q.qv,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)))
          * 1000000.0e0 + 0.5e0) AS BIGINT) AS cos_e6
      FROM embeddings e CROSS JOIN q),
    r AS (
      SELECT qid, id, cos_e6,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, id ASC) AS rank
      FROM scored)
    SELECT qid, id, cos_e6, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3 ORDER BY qid, rank
    """,
)
def q_ann_knn_cosine_join(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return knn_cosine_join(q, e, k=3, query_id="vec_id").orderBy("qid", "rank")


@_register(
    "dedup_embedding_cosine",
    """
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
      CAST(FLOOR(
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(
          generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x, y) -> x + y)
        / (a.nrm * b.nrm) * 1000000.0e0 + 0.5e0) AS BIGINT) AS cos_e6
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(FLOOR(
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(
          generate_series(1, len(a.embedding)),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x, y) -> x + y)
        / (a.nrm * b.nrm) * 1000000.0e0 + 0.5e0) AS BIGINT) >= 200000
    ORDER BY id1, id2
    """,
)
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-space near-dup pairs (exact baseline) — the DuckDB
    oracle recomputes every pair with the identical sequential fold.
    The subquadratic bucketed variant is exercised in pytest."""
    from gdal_spark.operators.similarity import cosine_dedup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return cosine_dedup_pairs(e, threshold=0.2).orderBy("id1", "id2")


# (threshold, n_planes) of the bucketed embedding-dedup gates, passed to
# the engine and to the oracle alike
_COS_LSH = (0.2, 10)


@_register("dedup_embedding_cosine_lsh")
def q_dedup_embedding_cosine_lsh(spark, sf_dir):
    """The SCALE path: sign-bucket blocking (multiprobe) before scoring —
    candidate volume ∝ bucket occupancy, not N²."""
    from gdal_spark.operators.similarity import cosine_dedup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return cosine_dedup_pairs(e, *_COS_LSH, dim=64).orderBy("id1", "id2")


def _oracle_embedding_cosine_lsh() -> str:
    from gdal_spark.text import ref_impl

    rows = ref_impl.lsh_cosine_pairs_ref(ref_impl.load_embeddings(), *_COS_LSH)
    return ref_impl.values_sql(
        rows, ["id1", "id2", "cos_e6"], ["BIGINT", "BIGINT", "BIGINT"], "id1, id2"
    )


_lazy_oracle("dedup_embedding_cosine_lsh", _oracle_embedding_cosine_lsh)


@_register("dedup_cluster_assign")
def q_dedup_cluster_assign(spark, sf_dir):
    """Near-dup CLUSTERING (keep-one-per-cluster dedup): connected
    components over the LSH-bucketed embedding-cosine pair graph via
    distributed min-label propagation; cluster id = canonical minimum
    doc id."""
    from gdal_spark.operators.similarity import cosine_dedup_pairs
    from gdal_spark.text.dedup import dedup_clusters

    e = _t(spark, sf_dir, "embeddings")
    pairs = cosine_dedup_pairs(e, *_COS_LSH, dim=64)
    out = dedup_clusters(pairs, ids=e.select("vec_id"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    ).orderBy("doc_id")


def _oracle_dedup_clusters() -> str:
    from gdal_spark.text import ref_impl

    emb = ref_impl.load_embeddings()
    pairs = ref_impl.lsh_cosine_pairs_ref(emb, *_COS_LSH)
    rows = ref_impl.dedup_clusters_ref([i for i, _ in emb], pairs)
    return ref_impl.values_sql(
        rows, ["doc_id", "cluster_id"], ["BIGINT", "BIGINT"], "doc_id"
    )


_lazy_oracle("dedup_cluster_assign", _oracle_dedup_clusters)


# (k, n_planes, probe_flips) of the LSH ANN gate, engine and oracle alike
_ANN_LSH = (3, 10, 1)


@_register("ann_lsh_bucketed")
def q_ann_lsh_bucketed(spark, sf_dir):
    from gdal_spark.operators.similarity import lsh_bucketed_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "qid")
    return lsh_bucketed_topk(q, e, *_ANN_LSH, dim=64).orderBy("qid", "rank")


def _oracle_ann_lsh() -> str:
    """Independent Python re-computation of the seeded hyperplane buckets,
    multiprobe set, and sequential-fold cosine — exact, not recall-only."""
    from gdal_spark.text import ref_impl

    rows = ref_impl.lsh_bucketed_topk_ref(ref_impl.load_embeddings(), set(range(10)), *_ANN_LSH)
    return ref_impl.values_sql(
        rows,
        ["qid", "id", "cos_e6", "rank"],
        ["BIGINT", "BIGINT", "BIGINT", "INT"],
        "qid, rank",
    )


_lazy_oracle("ann_lsh_bucketed", _oracle_ann_lsh)


# (k, n_centroids, n_probe) of the IVF ANN gate, engine and oracle alike
_ANN_IVF = (3, 8, 3)


@_register("ann_ivf_topk")
def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (FAISS-style coarse k-means quantizer + probed-cell join):
    the second scale path beside LSH. Training = one bounded driver
    sample; assignment and the candidate join are fully distributed."""
    from gdal_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "qid")
    return ivf_topk(q, e, *_ANN_IVF).orderBy("qid", "rank")


def _oracle_ann_ivf() -> str:
    """Independent Python re-derivation of the sample, Lloyd centroids,
    cell assignment, probe set, and sequential-fold cosine."""
    from gdal_spark.text import ref_impl

    rows = ref_impl.ivf_topk_ref(ref_impl.load_embeddings(), set(range(10)), *_ANN_IVF)
    return ref_impl.values_sql(
        rows,
        ["qid", "id", "cos_e6", "rank"],
        ["BIGINT", "BIGINT", "BIGINT", "INT"],
        "qid, rank",
    )


_lazy_oracle("ann_ivf_topk", _oracle_ann_ivf)


# -- 7. raster ---------------------------------------------------------------

@_register("multimodal_image_features")
def q_multimodal_image_features(spark, sf_dir):
    """Image-column plumbing: synth media (deterministic payloads) →
    Arrow-batched decode (gated deterministic fake — codecs absent in
    this container) → per-image stats + 8-bin histogram.

    The histogram is flattened to scalar columns h0..h7 for the gate
    (the driver's canonicalizer cannot hash ARRAY columns); the library
    function `image_features` still returns the ARRAY<LONG> form."""
    from gdal_spark.multimodal import image_features, synth_media

    media = synth_media(spark, 64, kind="image")
    feats = image_features(media)
    hist_cols = [F.col("hist")[i].alias(f"h{i}") for i in range(8)]
    return feats.select("media_id", "mean_e6", "std_e6", *hist_cols).orderBy("media_id")


def _oracle_multimodal() -> str:
    """Python re-derivation: sha256 payloads, Spark-long-xxhash widths
    (xxh64 of the little-endian 8 bytes, seed 42 — verified identity),
    same deterministic decode."""
    import hashlib
    import struct

    from gdal_spark.multimodal import fake_decode_image
    from gdal_spark.text.xxh import xxh64

    def xl(v: int) -> int:
        u = xxh64(struct.pack("<q", v), 42)
        s = u - (1 << 64) if u >= (1 << 63) else u
        return s % 64  # pmod

    rows = []
    for i in range(64):
        data = hashlib.sha256(f"image{i}".encode()).hexdigest().encode()
        w = xl(i) + 32
        h = xl(i + 1) + 32
        img = fake_decode_image(data, w, h, 3)
        hist = np.bincount(img.ravel() >> 5, minlength=8)
        rows.append(
            f"({i}, {int(np.floor(img.mean() * 1e6 + 0.5))}, "
            f"{int(np.floor(img.std() * 1e6 + 0.5))}, "
            + ", ".join(str(int(x)) for x in hist)
            + ")"
        )
    hcols = ", ".join(f"CAST(h{i} AS BIGINT) AS h{i}" for i in range(8))
    hnames = ", ".join(f"h{i}" for i in range(8))
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(mean_e6 AS BIGINT) AS mean_e6, "
        f"CAST(std_e6 AS BIGINT) AS std_e6, {hcols} FROM (VALUES "
        + ", ".join(rows)
        + f") t(media_id, mean_e6, std_e6, {hnames}) ORDER BY media_id"
    )


_lazy_oracle("multimodal_image_features", _oracle_multimodal)


@_register("multimodal_resize_hash")
def q_multimodal_resize_hash(spark, sf_dir):
    """Image resize plumbing (nearest-neighbor over the gated decode):
    per-image xxhash64 of the resized pixel buffer vs a full Python
    re-derivation — exercises batch shape, dims columns, and byte
    layout end-to-end."""
    from gdal_spark.multimodal import resize_images, synth_media

    media = synth_media(spark, 48, kind="image")
    out = resize_images(media, 16, 16)
    return out.select(
        "media_id", F.xxhash64(F.col("pixels")).alias("px_hash")
    ).orderBy("media_id")


def _oracle_multimodal_resize() -> str:
    import hashlib
    import struct

    from gdal_spark.multimodal import fake_decode_image
    from gdal_spark.text.xxh import xxh64

    def xl(v: int) -> int:
        u = xxh64(struct.pack("<q", v), 42)
        s = u - (1 << 64) if u >= (1 << 63) else u
        return s % 64

    rows = []
    for i in range(48):
        data = hashlib.sha256(f"image{i}".encode()).hexdigest().encode()
        w = xl(i) + 32
        h = xl(i + 1) + 32
        img = fake_decode_image(data, w, h, 3)
        ys = (np.arange(16) * img.shape[0] // 16).astype(int)
        xs = (np.arange(16) * img.shape[1] // 16).astype(int)
        out = img[np.ix_(ys, xs)]
        u = xxh64(out.tobytes(), 42)
        rows.append((i, u - (1 << 64) if u >= (1 << 63) else u))
    vals = ", ".join(f"({i}, {hh})" for i, hh in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(px_hash AS BIGINT) AS px_hash "
        f"FROM (VALUES {vals}) t(media_id, px_hash) ORDER BY media_id"
    )


_lazy_oracle("multimodal_resize_hash", _oracle_multimodal_resize)


@_register("multimodal_frame_sample")
def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: per-video sampled-frame count and
    first/last index (stride column math over the synthetic n_frames)."""
    from gdal_spark.multimodal import sample_frames, synth_media

    media = synth_media(spark, 32, kind="video")
    out = sample_frames(media, every_k=7)
    return (
        out.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.min("frame_idx").cast("long").alias("first_idx"),
            F.max("frame_idx").cast("long").alias("last_idx"),
        )
        .orderBy("media_id")
    )


def _oracle_multimodal_frames() -> str:
    import struct

    from gdal_spark.text.xxh import xxh64

    def xl(v: int, m: int) -> int:
        u = xxh64(struct.pack("<q", v), 42)
        s = u - (1 << 64) if u >= (1 << 63) else u
        return s % m

    rows = []
    for i in range(32):
        n_frames = xl(i + 2, 120) + 8
        idxs = list(range(0, n_frames, 7))
        rows.append((i, len(idxs), idxs[0], idxs[-1]))
    vals = ", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(n_sampled AS BIGINT) AS n_sampled, "
        "CAST(first_idx AS BIGINT) AS first_idx, CAST(last_idx AS BIGINT) AS last_idx "
        f"FROM (VALUES {vals}) t(media_id, n_sampled, first_idx, last_idx) ORDER BY media_id"
    )


_lazy_oracle("multimodal_frame_sample", _oracle_multimodal_frames)


@_register("multimodal_audio_features")
def q_multimodal_audio_features(spark, sf_dir):
    """Audio-column plumbing (gated PCM decode → RMS / zero-crossings):
    the audio leg of the multimodal surface."""
    from gdal_spark.multimodal import audio_features, synth_media

    media = synth_media(spark, 40, kind="audio")
    return audio_features(media).orderBy("media_id")


def _oracle_multimodal_audio() -> str:
    import hashlib

    from gdal_spark.multimodal import fake_decode_audio

    rows = []
    for i in range(40):
        data = hashlib.sha256(f"audio{i}".encode()).hexdigest().encode()
        pcm = fake_decode_audio(data, 16000)
        x = pcm.astype(np.float64)
        rms = float(np.sqrt((x * x).mean()))
        zc = int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum())
        rows.append((i, len(pcm), int(np.floor(rms * 1e6 + 0.5)), zc))
    vals = ", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in rows)
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(n_samples AS BIGINT) AS n_samples, "
        "CAST(rms_e6 AS BIGINT) AS rms_e6, CAST(zero_crossings AS BIGINT) AS zero_crossings "
        f"FROM (VALUES {vals}) t(media_id, n_samples, rms_e6, zero_crossings) ORDER BY media_id"
    )


_lazy_oracle("multimodal_audio_features", _oracle_multimodal_audio)


def _synth_meta():
    from gdal_spark.raster.model import RasterMeta

    return RasterMeta(width=128, height=96, dtype="uint8", block_w=32, block_h=32)


def _synth_full_np():
    from gdal_spark.raster.model import synth_block_np

    meta = _synth_meta()
    out = np.zeros((meta.height, meta.width), dtype=meta.dtype)
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            out[
                by * meta.block_h : by * meta.block_h + h,
                bx * meta.block_w : bx * meta.block_w + w,
            ] = synth_block_np(bx, by, h, w, meta)
    return out, meta


@_register("raster_checksum_golden")
def q_raster_checksum_golden(spark, sf_dir):
    """byte.tif fixture distributed checksum — golden 4672
    (autotest/gcore/tiff_read.py:45)."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import byte_fixture, tiles_from_array

    arr, meta = byte_fixture()
    cs = checksum_df(tiles_from_array(spark, arr, meta), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


_ORACLES["raster_checksum_golden"] = "SELECT CAST(4672 AS BIGINT) AS checksum"


@_register("raster_checksum_synth")
def q_raster_checksum_synth(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import synth_raster

    meta = _synth_meta()
    cs = checksum_df(synth_raster(spark, meta), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_checksum_synth() -> str:
    from gdal_spark.raster.checksum import checksum_np

    full, _ = _synth_full_np()
    return f"SELECT CAST({checksum_np(full)} AS BIGINT) AS checksum"


_lazy_oracle("raster_checksum_synth", _oracle_checksum_synth)


def _interp_points():
    rng = np.random.default_rng(77)
    meta = _synth_meta()
    px = np.round(rng.uniform(0.5, meta.width - 0.5, 40), 4)
    py = np.round(rng.uniform(0.5, meta.height - 0.5, 40), 4)
    return px, py


@_register("raster_interp_bilinear")
def q_raster_interp_bilinear(spark, sf_dir):
    from gdal_spark.raster.model import synth_raster
    from gdal_spark.raster.resample import interpolate_at_points

    meta = _synth_meta()
    px, py = _interp_points()
    pts = spark.createDataFrame(
        list(zip(range(len(px)), px.tolist(), py.tolist())),
        "pid LONG, px DOUBLE, py DOUBLE",
    )
    out = interpolate_at_points(synth_raster(spark, meta), meta, pts, alg="bilinear")
    return out.select(
        "pid", F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long").alias("val_e6")
    ).orderBy("pid")


def _oracle_interp_bilinear() -> str:
    from gdal_spark.raster.resample import interpolate_at_point_np

    full, _ = _synth_full_np()
    px, py = _interp_points()
    vals, valid = interpolate_at_point_np(full, px, py, "bilinear")
    rows = ", ".join(
        f"({i}, {int(np.floor(vals[i] * 1_000_000 + 0.5))})"
        for i in range(len(px))
        if valid[i]
    )
    return f"SELECT CAST(pid AS BIGINT) AS pid, CAST(val_e6 AS BIGINT) AS val_e6 FROM (VALUES {rows}) t(pid, val_e6) ORDER BY pid"


_lazy_oracle("raster_interp_bilinear", _oracle_interp_bilinear)


@_register("raster_overview_checksum")
def q_raster_overview_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import synth_raster
    from gdal_spark.raster.resample import downsample2

    meta = _synth_meta()
    lvl1, m1 = downsample2(synth_raster(spark, meta), meta, alg="average")
    cs = checksum_df(lvl1, m1)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_overview_checksum() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.resample import downsample2_np

    full, _ = _synth_full_np()
    return f"SELECT CAST({checksum_np(downsample2_np(full, 'average'))} AS BIGINT) AS checksum"


_lazy_oracle("raster_overview_checksum", _oracle_overview_checksum)


# -- 7b. OGR SQL dialect + vector pipeline ----------------------------------

@_register(
    "ogr_sql_distinct",
    "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
)
def q_ogr_sql_distinct(spark, sf_dir):
    from gdal_spark.operators.ogr_sql import execute_sql

    out = execute_sql(
        spark,
        "select distinct o_orderpriority from orders",
        {"orders": _t(spark, sf_dir, "orders")},
        {"orders": "o_orderkey"},
    )
    return out.orderBy("o_orderpriority")


@_register(
    "ogr_sql_where_summary",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt, CAST(MIN(o_orderkey) AS BIGINT) AS mn,
           CAST(MAX(o_orderkey) AS BIGINT) AS mx
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus IN ('F', 'O')
    """,
)
def q_ogr_sql_where_summary(spark, sf_dir):
    from gdal_spark.operators.ogr_sql import execute_sql

    return execute_sql(
        spark,
        "select count(*) as cnt, min(o_orderkey) as mn, max(o_orderkey) as mx "
        "from orders where o_orderkey % 3 = 0 and o_orderstatus in ('F', 'O')",
        {"orders": _t(spark, sf_dir, "orders")},
        {"orders": "o_orderkey"},
    )


def _vp_clip_oracle() -> str:
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import POLY_ATTRS, poly_rings

    from gdal_spark.geometry import kernels, ops

    # clip rect chosen to cut several parcels
    rect = (478000.0, 4762000.0, 480500.0, 4765000.0)
    rows = []
    for rings, (_, eas, _) in zip(poly_rings(), POLY_ATTRS):
        r = ops.clip_polygon_convex(
            rings[0],
            np.array(
                [
                    [rect[0], rect[1]], [rect[2], rect[1]],
                    [rect[2], rect[3]], [rect[0], rect[3]], [rect[0], rect[1]],
                ]
            ),
        )
        if len(r):
            a = kernels.ring_area(r)
            rows.append(f"({eas}, {int(np.floor(a + 0.5))})")
    return (
        "SELECT CAST(eas_id AS BIGINT) AS eas_id, CAST(area_m AS BIGINT) AS area_m "
        f"FROM (VALUES {', '.join(rows)}) t(eas_id, area_m) ORDER BY eas_id"
    )


@_register("vector_pipeline_clip")
def q_vector_pipeline_clip(spark, sf_dir):
    """ogr2ogr-style chain: clip the reference polygons to a rect and
    measure remaining areas (oracle = the same NumPy convex clip)."""
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import POLY_ATTRS, poly_rings

    from gdal_spark.functions.st import st_area
    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.operators.vector_pipeline import VectorPipeline

    df = spark.createDataFrame(
        [
            (int(a[1]), bytearray(_wkb.polygon_wkb(p[0], p[1:])))
            for p, a in zip(poly_rings(), POLY_ATTRS)
        ],
        "eas_id LONG, geometry BINARY",
    )
    out = VectorPipeline(df).clip_rect(478000.0, 4762000.0, 480500.0, 4765000.0).df
    return out.select(
        "eas_id", F.floor(st_area("geometry") + F.lit(0.5)).cast("long").alias("area_m")
    ).orderBy("eas_id")


_lazy_oracle("vector_pipeline_clip", _vp_clip_oracle)


# -- 7c. temporal: as-of join + sessionization -------------------------------

@_register(
    "asof_join_events_orders",
    """
    WITH r AS (
      SELECT o_custkey % 50 AS k, o_orderdate AS rts, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2),
    l AS (SELECT event_id, user_id % 50 AS k, ts FROM events WHERE event_id < 3000)
    SELECT l.event_id, CAST(r.o_orderkey AS BIGINT) AS o_orderkey
    FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.rts
    ORDER BY l.event_id
    """,
)
def q_asof_join_events_orders(spark, sf_dir):
    from gdal_spark.operators.temporal import asof_join

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", (F.col("user_id") % 50).alias("k"), "ts")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_custkey") % 50).alias("k"), F.col("o_orderdate").alias("ts"))
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(ev, orders, key="k")
    return out.select(
        "event_id", F.col("o_orderkey").cast("long").alias("o_orderkey")
    ).orderBy("event_id")


@_register(
    "events_sessionize",
    """
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE user_id < 50
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
             AS session_id
    FROM s ORDER BY event_id
    """,
)
def q_events_sessionize(spark, sf_dir):
    from gdal_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = sessionize(ev, tiebreak="event_id")
    return out.select(
        "event_id", F.col("session_id").cast("long").alias("session_id")
    ).orderBy("event_id")


# -- 8. layer algebra + ST functions ----------------------------------------

_LA_A = [
    ("POLYGON ((1 2,1 3,3 3,3 2,1 2))", 1),
    ("POLYGON ((5 2,5 3,7 3,7 2,5 2))", 2),
]
_LA_B = [("POLYGON ((2 1,2 4,6 4,6 1,2 1))", "first")]


def _la_dfs(spark):
    from gdal_spark.geometry import wkt as _wkt

    A = spark.createDataFrame(
        [(bytearray(_wkt.wkt_to_wkb(w)), a) for w, a in _LA_A], "geometry BINARY, a_val INT"
    )
    B = spark.createDataFrame(
        [(bytearray(_wkt.wkt_to_wkb(w)), b) for w, b in _LA_B], "geometry BINARY, b_val STRING"
    )
    return A, B


@_register(
    "layer_algebra_intersection",
    """
    SELECT * FROM (VALUES (1, 'first', 1000000), (2, 'first', 1000000))
    t(a_val, b_val, area_e6) ORDER BY a_val
    """,
)
def q_layer_algebra_intersection(spark, sf_dir):
    """Golden: ogr_layer_algebra.py:153-199 (two 1x1 overlap rects)."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import intersection

    A, B = _la_dfs(spark)
    out = intersection(A, B)
    return out.select(
        "a_val",
        "b_val",
        F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
    ).orderBy("a_val")


def _st_area_oracle() -> str:
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import POLY_ATTRS, poly_rings

    from gdal_spark.geometry import kernels

    rows = []
    for rings, (_, eas, _) in zip(poly_rings(), POLY_ATTRS):
        a = kernels.polygon_area(rings)
        rows.append(f"({eas}, {int(np.floor(a * 1000 + 0.5))})")
    return (
        "SELECT CAST(eas_id AS BIGINT) AS eas_id, CAST(area_e3 AS BIGINT) AS area_e3 "
        f"FROM (VALUES {', '.join(rows)}) t(eas_id, area_e3) ORDER BY eas_id"
    )


@_register("st_area_reference_polys")
def q_st_area_reference_polys(spark, sf_dir):
    """OGR_GEOM_AREA over the reference's poly.shp fixture (AREA field
    goldens, verified in tests/test_geometry.py)."""
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import POLY_ATTRS, poly_rings

    from gdal_spark.functions.st import st_area
    from gdal_spark.geometry import wkb as _wkb

    df = spark.createDataFrame(
        [
            (int(a[1]), bytearray(_wkb.polygon_wkb(p[0], p[1:])))
            for p, a in zip(poly_rings(), POLY_ATTRS)
        ],
        "eas_id LONG, geometry BINARY",
    )
    return df.select(
        "eas_id",
        F.floor(st_area("geometry") * 1000 + F.lit(0.5)).cast("long").alias("area_e3"),
    ).orderBy("eas_id")


_lazy_oracle("st_area_reference_polys", _st_area_oracle)


# -- 8b. previously pytest-only surface, now gated ---------------------------

@_register(
    "select_star_except",
    """
    SELECT * EXCLUDE (c_acctbal, c_mktsegment) FROM customer
    WHERE c_custkey < 50 ORDER BY c_custkey
    """,
)
def q_select_star_except(spark, sf_dir):
    """OGR SQL SELECT * EXCEPT (swq_parser.y:866) ≡ DuckDB EXCLUDE."""
    from gdal_spark.operators.ogr_sql import execute_sql

    out = execute_sql(
        spark,
        "select * except (c_acctbal, c_mktsegment) from customer where c_custkey < 50",
        {"customer": _t(spark, sf_dir, "customer")},
        {"customer": "c_custkey"},
    )
    return out.orderBy("c_custkey")


@_register(
    "stddev_summary",
    """
    SELECT CAST(FLOOR(stddev_pop(l_quantity) * 10000.0e0 + 0.5e0) AS BIGINT) AS sd_pop_e4,
           CAST(FLOOR(stddev_samp(l_quantity) * 10000.0e0 + 0.5e0) AS BIGINT) AS sd_samp_e4
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def q_stddev_summary(spark, sf_dir):
    from gdal_spark.operators.ogr_compat import summary_aggregates

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    out = summary_aggregates(
        li,
        [("stddev_pop", "l_quantity", "sd_pop"), ("stddev_samp", "l_quantity", "sd_samp")],
    )
    return out.select(
        F.floor(F.col("sd_pop") * 10000.0 + F.lit(0.5)).cast("long").alias("sd_pop_e4"),
        F.floor(F.col("sd_samp") * 10000.0 + F.lit(0.5)).cast("long").alias("sd_samp_e4"),
    )


@_register("raster_calc_checksum")
def q_raster_calc_checksum(spark, sf_dir):
    """Band algebra (gdal_calc): normalized difference of two synth bands."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.translate import raster_calc

    meta = _terrain_meta()
    a = synth_raster(spark, meta, seed=1)
    b = synth_raster(spark, meta, seed=2)
    out = raster_calc(
        {"a": a, "b": b}, meta,
        lambda d: (d["a"] - d["b"]) / (d["a"] + d["b"] + 1.0) * 1000.0,
        out_dtype="float64",
    )
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_raster_calc() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import synth_block_np

    meta = _terrain_meta()

    def full(seed):
        out = np.zeros((meta.height, meta.width), dtype=np.float64)
        for by in range(meta.blocks_y):
            for bx in range(meta.blocks_x):
                h, w = meta.block_shape(bx, by)
                out[by*32:by*32+h, bx*32:bx*32+w] = synth_block_np(bx, by, h, w, meta, seed=seed)
        return out

    a, b = full(1), full(2)
    img = (a - b) / (a + b + 1.0) * 1000.0
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("raster_calc_checksum", _oracle_raster_calc)


@_register("reclassify_checksum")
def q_reclassify_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.translate import reclassify

    meta = _terrain_meta()
    out = reclassify(
        synth_raster(spark, meta), meta,
        [(0.0, 250.0, 1.0), (250.0, 500.0, 2.0), (500.0, 800.0, 3.0)],
        default=0.0,
    )
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_reclassify() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.translate import reclassify_np

    full, _ = _terrain_full_np()
    img = reclassify_np(
        full, [(0.0, 250.0, 1.0), (250.0, 500.0, 2.0), (500.0, 800.0, 3.0)],
        default=0.0,
    )
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("reclassify_checksum", _oracle_reclassify)


@_register("band_histogram")
def q_band_histogram(spark, sf_dir):
    from gdal_spark.raster.model import byte_fixture, tiles_from_array, RasterMeta
    from gdal_spark.raster.zonal import band_histogram

    arr, meta = byte_fixture()
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8, gt=meta.gt)
    out = band_histogram(tiles_from_array(spark, arr, mb), mb)
    return out.select(
        F.col("bin").cast("long").alias("bin"), F.col("count").cast("long").alias("count")
    ).orderBy("bin")


def _oracle_band_histogram() -> str:
    from gdal_spark.raster.model import byte_fixture

    arr, _ = byte_fixture()
    idx = np.clip(((arr.astype(np.float64) - 0.0) / 16.0).astype(np.int64), 0, 15)
    c = np.bincount(idx.ravel(), minlength=16)
    rows = ", ".join(f"({b}, {int(c[b])})" for b in range(16))
    return (
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(count AS BIGINT) AS count "
        f"FROM (VALUES {rows}) t(bin, count) ORDER BY bin"
    )


_lazy_oracle("band_histogram", _oracle_band_histogram)


# concave overlay fixtures with ANALYTICALLY KNOWN areas: the L-shape
# (0,0)→(2,2) minus its top-right 1×1 (area 3) vs the 2×2 rect (1,0)-(3,2)
_LSHAPE = "POLYGON ((0 0,2 0,2 1,1 1,1 2,0 2,0 0))"
_RECTB = "POLYGON ((1 0,3 0,3 2,1 2,1 0))"


def _concave_dfs(spark):
    from gdal_spark.geometry import wkt as _wkt

    A = spark.createDataFrame(
        [(bytearray(_wkt.wkt_to_wkb(_LSHAPE)), 1)], "geometry BINARY, a_val INT"
    )
    B = spark.createDataFrame(
        [(bytearray(_wkt.wkt_to_wkb(_RECTB)), "m")], "geometry BINARY, b_val STRING"
    )
    return A, B


@_register(
    "layer_union_concave",
    # hand-computed per-feature areas: A∩B = 1, A∖B = 2, B∖A = 3
    "SELECT * FROM (VALUES (1000000, 1), (2000000, 1), (3000000, 1)) "
    "t(area_e6, n) ORDER BY area_e6",
)
def q_layer_union_concave(spark, sf_dir):
    """Union with a CONCAVE input (r1 supported convex only): verify the
    piece areas against hand-computed truth, grouped by area."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import union

    A, B = _concave_dfs(spark)
    out = union(A, B)
    return (
        out.select(
            F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
        )
        .groupBy("area_e6")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .orderBy("area_e6")
    )


@_register(
    "layer_erase_concave",
    "SELECT CAST(2000000 AS BIGINT) AS area_e6",
)
def q_layer_erase_concave(spark, sf_dir):
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import erase

    A, B = _concave_dfs(spark)
    out = erase(A, B)
    return out.agg(
        F.floor(F.sum(st_area("geometry")) * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
    )


@_register(
    "layer_clip_concave",
    "SELECT CAST(1000000 AS BIGINT) AS area_e6",
)
def q_layer_clip_concave(spark, sf_dir):
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import clip

    A, B = _concave_dfs(spark)
    out = clip(A, B)
    return out.agg(
        F.floor(F.sum(st_area("geometry")) * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
    )


@_register(
    "layer_symdiff_concave",
    "SELECT CAST(5000000 AS BIGINT) AS area_e6",  # (3-1) + (4-1)
)
def q_layer_symdiff_concave(spark, sf_dir):
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import sym_difference

    A, B = _concave_dfs(spark)
    out = sym_difference(A, B)
    return out.agg(
        F.floor(F.sum(st_area("geometry")) * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
    )


@_register(
    "layer_identity_concave",
    # Identity = A∩B (area 1) ∪ A∖B (area 2), per ogrlayer.cpp:4730
    "SELECT * FROM (VALUES (1000000, 1), (2000000, 1)) t(area_e6, n) ORDER BY area_e6",
)
def q_layer_identity_concave(spark, sf_dir):
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import identity

    A, B = _concave_dfs(spark)
    out = identity(A, B)
    return (
        out.select(
            F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
        )
        .groupBy("area_e6")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .orderBy("area_e6")
    )


@_register(
    "layer_update_concave",
    # Update = A∖B (area 2) ∪ B (area 4), per ogrlayer.cpp:5148
    "SELECT * FROM (VALUES (2000000, 1), (4000000, 1)) t(area_e6, n) ORDER BY area_e6",
)
def q_layer_update_concave(spark, sf_dir):
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.layer_algebra import update

    A, B = _concave_dfs(spark)
    out = update(A, B)
    return (
        out.select(
            F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6")
        )
        .groupBy("area_e6")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .orderBy("area_e6")
    )


@_register(
    "layer_dissolve_area",
    # hand-computed union areas: g1 = (0,0)-(2,2) ∪ (1,1)-(3,3) = 4+4-1 = 7;
    # g2 = duplicate unit square (counted once) + disjoint 1×2 = 1+2 = 3
    "SELECT * FROM (VALUES ('g1', CAST(7000000 AS BIGINT)), "
    "('g2', CAST(3000000 AS BIGINT))) t(grp, area_e6) ORDER BY grp",
)
def q_layer_dissolve_area(spark, sf_dir):
    """Aggregate union per key (GEOS CascadedUnion / OGRGeometry::
    UnaryUnion, ogr/ogr_geometry.h:589) via the deterministic salted
    two-level union tree in layer_algebra.dissolve."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.operators.layer_algebra import dissolve

    def rwkt(x0, y0, x1, y1):
        return f"POLYGON (({x0} {y0},{x1} {y0},{x1} {y1},{x0} {y1},{x0} {y0}))"

    rows = [
        ("g1", bytearray(_wkt.wkt_to_wkb(rwkt(0, 0, 2, 2)))),
        ("g1", bytearray(_wkt.wkt_to_wkb(rwkt(1, 1, 3, 3)))),
        ("g2", bytearray(_wkt.wkt_to_wkb(rwkt(0, 0, 1, 1)))),
        ("g2", bytearray(_wkt.wkt_to_wkb(rwkt(0, 0, 1, 1)))),
        ("g2", bytearray(_wkt.wkt_to_wkb(rwkt(5, 5, 6, 7)))),
    ]
    df = spark.createDataFrame(rows, "grp STRING, geometry BINARY")
    return (
        dissolve(df, by=["grp"])
        .select(
            "grp",
            F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
        )
        .orderBy("grp")
    )


@_register(
    "st_unary_union_area",
    # 3 rects: (0,0)-(2,2)=4 ∪ (1,1)-(3,3)=4 (overlap 1) ∪ (2,0)-(4,1)=2
    # (edge contact only) → 9; the duplicate-rect input dissolves to 1
    "SELECT * FROM (VALUES (1, CAST(9000000 AS BIGINT)), "
    "(2, CAST(1000000 AS BIGINT))) t(gid, area_e6) ORDER BY gid",
)
def q_st_unary_union_area(spark, sf_dir):
    """ST_UnaryUnion over MultiPolygon rows (OGRGeometry::UnaryUnion,
    ogr/ogr_geometry.h:589): per-row dissolve of overlapping parts."""
    from gdal_spark.functions.st import st_area, st_unaryunion
    from gdal_spark.geometry import wkt as _wkt

    mp1 = ("MULTIPOLYGON (((0 0,2 0,2 2,0 2,0 0)),((1 1,3 1,3 3,1 3,1 1)),"
           "((2 0,4 0,4 1,2 1,2 0)))")
    mp2 = "MULTIPOLYGON (((0 0,1 0,1 1,0 1,0 0)),((0 0,1 0,1 1,0 1,0 0)))"
    rows = [(1, bytearray(_wkt.wkt_to_wkb(mp1))), (2, bytearray(_wkt.wkt_to_wkb(mp2)))]
    df = spark.createDataFrame(rows, "gid INT, geometry BINARY")
    return df.select(
        "gid",
        F.floor(st_area(st_unaryunion("geometry")) * 1_000_000 + F.lit(0.5))
        .cast("long").alias("area_e6"),
    ).orderBy("gid")


@_register(
    "st_delaunay_collection",
    # 3×3 unit grid: 2n − h − 2 = 18 − 8 − 2 = 8 triangles tiling the
    # 2×2 hull (area 4); 4 corner points → 2 triangles tiling area 1
    "SELECT * FROM (VALUES (1, 8, CAST(4000000 AS BIGINT)), "
    "(2, 2, CAST(1000000 AS BIGINT))) t(gid, n_tri, area_e6) ORDER BY gid",
)
def q_st_delaunay_collection(spark, sf_dir):
    """ST_DelaunayTriangles (OGRGeometry::DelaunayTriangulation,
    ogr/ogr_geometry.h:577): triangle count + tiled area per MultiPoint."""
    from gdal_spark.functions.st import st_area, st_delaunaytriangles, st_numgeometries
    from gdal_spark.geometry import wkt as _wkt

    grid9 = "MULTIPOINT (" + ",".join(
        f"{i % 3} {i // 3}" for i in range(9)
    ) + ")"
    sq4 = "MULTIPOINT (0 0,1 0,1 1,0 1)"
    rows = [(1, bytearray(_wkt.wkt_to_wkb(grid9))), (2, bytearray(_wkt.wkt_to_wkb(sq4)))]
    df = spark.createDataFrame(rows, "gid INT, geometry BINARY")

    tri = df.select("gid", st_delaunaytriangles("geometry").alias("tris"))
    return tri.select(
        "gid",
        st_numgeometries(F.col("tris")).alias("n_tri"),
        F.floor(st_area(F.col("tris")) * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
    ).orderBy("gid")


@_register(
    "ogr_sql_geometry_cast",
    # L-shape area 3; 2×2 square area 4
    "SELECT * FROM (VALUES (1, CAST(3000000 AS BIGINT)), "
    "(2, CAST(4000000 AS BIGINT))) t(id, area_e6) ORDER BY id",
)
def q_ogr_sql_geometry_cast(spark, sf_dir):
    """OGR SQL CAST(x AS geometry) (swq_op_general.cpp:1837-1900,
    VERDICT r2 missing-8): WKT string column → geometry in the compat
    dialect, verified by downstream area."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.operators.ogr_sql import execute_sql

    rows = [(1, _LSHAPE), (2, "POLYGON ((0 0,2 0,2 2,0 2,0 0))")]
    df = spark.createDataFrame(rows, "id INT, wkt STRING")
    out = execute_sql(spark, "SELECT id, CAST(wkt AS geometry) AS geom FROM t", {"t": df})
    return out.select(
        "id",
        F.floor(st_area("geom") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
    ).orderBy("id")


@_register(
    "ogr_sql_special_fields",
    "SELECT * FROM (VALUES "
    "(1, 'POLYGON', 'BRUSH(fc:#ff0000)', CAST(4000000 AS BIGINT)), "
    "(3, 'POLYGON', NULL, CAST(500000 AS BIGINT))"
    ") t(fid, gtype, style, area_e6) ORDER BY fid",
)
def q_ogr_sql_special_fields(spark, sf_dir):
    """OGR SQL special fields (ogr/ogr_p.h:164-171;
    autotest/ogr/ogr_sql_test.py WHERE OGR_GEOMETRY = 'POLYGON' cases):
    OGR_GEOMETRY = uppercase getGeometryName(), OGR_STYLE = style-column
    pass-through (NULL when absent on a feature), OGR_GEOM_AREA;
    filterable in WHERE."""
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.operators.ogr_sql import execute_sql

    rows = [
        (1, "POLYGON ((0 0,2 0,2 2,0 2,0 0))", "BRUSH(fc:#ff0000)"),
        (2, "LINESTRING (0 0,5 0)", "PEN(c:#000000)"),
        (3, "POLYGON ((0 0,1 0,1 1,0 0))", None),
        (4, "POINT (3 4)", "SYMBOL(id:1)"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(_wkt.wkt_to_wkb(w)), s) for i, w, s in rows],
        "fid INT, geometry BINARY, ogr_style STRING",
    )
    out = execute_sql(
        spark,
        "SELECT FID AS fid, OGR_GEOMETRY AS gtype, OGR_STYLE AS style, "
        "OGR_GEOM_AREA AS a FROM t WHERE OGR_GEOMETRY = 'POLYGON' "
        "ORDER BY FID",
        {"t": df},
        fid_cols={"t": "fid"},
    )
    return out.select(
        "fid", "gtype", "style",
        F.floor(F.col("a") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
    ).orderBy("fid")


@_register(
    "st_equals_tessellation",
    "SELECT * FROM (VALUES (1, true), (2, true), (3, false)) t(id, eq) ORDER BY id",
)
def q_st_equals_tessellation(spark, sf_dir):
    """ST_Equals upgraded to straight-run-tessellation invariance
    (collinear interior vertices normalized away; VERDICT r2 missing-4
    partially closed — piece-decomposition equality still structural)."""
    from gdal_spark.functions.st import st_equals
    from gdal_spark.geometry import wkt as _wkt

    rows = [
        (1, "POLYGON ((0 0,2 0,2 2,0 2,0 0))", "POLYGON ((2 0,2 2,0 2,0 0,1 0,2 0))"),
        (2, "LINESTRING (0 0,1 0,2 0)", "LINESTRING (2 0,0 0)"),
        (3, "LINESTRING (0 0,1 0,2 0)", "LINESTRING (0 0,3 0,2 0)"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(_wkt.wkt_to_wkb(a)), bytearray(_wkt.wkt_to_wkb(b))) for i, a, b in rows],
        "id INT, a BINARY, b BINARY",
    )
    return df.select("id", st_equals("a", "b").alias("eq")).orderBy("id")


@_register(
    "st_geometry_methods",
    # simplify(zigzag, tol 2) -> straight diagonal: 2 vertices, length 5·√2
    # → floor(7.0710678…·1e6+0.5) = 7071068; segmentize(5-unit line, 1)
    # -> 6 vertices; boundary(L-shape) -> 1 ring, perimeter 8
    "SELECT * FROM (VALUES "
    "('simplify', 2, CAST(7071068 AS BIGINT)), "
    "('segmentize', 6, CAST(5000000 AS BIGINT)), "
    "('boundary', 1, CAST(8000000 AS BIGINT))"
    ") t(op, n_pts, len_e6) ORDER BY op",
)
def q_st_geometry_methods(spark, sf_dir):
    """ST_Simplify / ST_Segmentize / ST_Boundary (OGRGeometry methods,
    ogr_geometry.h:565,437,562) with analytic goldens."""
    from gdal_spark.functions.st import (
        st_boundary, st_length, st_npoints, st_numgeometries, st_segmentize,
        st_simplify,
    )
    from gdal_spark.geometry import wkt as _wkt

    zig = "LINESTRING (0 0,1 1.2,2 1.8,3 3.1,4 4.2,5 5)"
    seg = "LINESTRING (0 0,5 0)"
    lshape = _LSHAPE
    df = spark.createDataFrame(
        [("simplify", bytearray(_wkt.wkt_to_wkb(zig))),
         ("segmentize", bytearray(_wkt.wkt_to_wkb(seg))),
         ("boundary", bytearray(_wkt.wkt_to_wkb(lshape)))],
        "op STRING, geometry BINARY",
    )
    out = df.withColumn(
        "res",
        F.when(F.col("op") == "simplify", st_simplify("geometry", F.lit(2.0)))
        .when(F.col("op") == "segmentize", st_segmentize("geometry", F.lit(1.0)))
        .otherwise(st_boundary("geometry")),
    )

    return out.select(
        "op",
        F.when(F.col("op") == "boundary", st_numgeometries(F.col("res")))
        .otherwise(st_npoints(F.col("res"))).alias("n_pts"),
        F.floor(st_length(F.col("res")) * 1_000_000 + F.lit(0.5)).cast("long").alias("len_e6"),
    ).orderBy("op")


@_register("st_buffer_concave_areas")
def q_st_buffer_concave_areas(spark, sf_dir):
    """True round buffer (VERDICT r2 missing-2 closed): dilate + erode of
    the concave L-shape and an elbow polyline via the distributed
    st_buffer UDF; areas integerized at e4. Oracle = driver-side NumPy
    re-derivation (ops.buffer_geom) — identical operation order, so the
    match is exact; the *analytic* truth of the kernel is pinned by
    tests/test_buffer.py (capsule/erode closed forms, GEOS semantics of
    ogr/ogr_geometry.h:568)."""
    from gdal_spark.functions.st import st_area, st_buffer
    from gdal_spark.geometry import wkt as _wkt

    elbow = "LINESTRING (0 0,10 0,10 10)"
    df = spark.createDataFrame(
        [
            (1, bytearray(_wkt.wkt_to_wkb(_LSHAPE)), 0.5),
            (2, bytearray(_wkt.wkt_to_wkb(_LSHAPE)), -0.25),
            (3, bytearray(_wkt.wkt_to_wkb(elbow)), 1.0),
        ],
        "id INT, geometry BINARY, d DOUBLE",
    )
    return (
        df.select(
            F.col("id").cast("long").alias("id"),
            F.floor(
                st_area(st_buffer(F.col("geometry"), F.col("d"))) * 10_000 + F.lit(0.5)
            ).cast("long").alias("area_e4"),
        )
        .orderBy("id")
    )


def _oracle_st_buffer() -> str:
    from gdal_spark.geometry import ops as _ops, wkt as _wkt

    elbow = "LINESTRING (0 0,10 0,10 10)"
    rows = []
    for i, (w, d) in enumerate(
        [(_LSHAPE, 0.5), (_LSHAPE, -0.25), (elbow, 1.0)], start=1
    ):
        g = _wkt.parse_wkt(w)
        a = _ops.area(_ops.buffer_geom(g, d))
        rows.append(f"({i}, {int(np.floor(a * 10_000 + 0.5))})")
    return (
        "SELECT CAST(id AS BIGINT) AS id, CAST(area_e4 AS BIGINT) AS area_e4 "
        f"FROM (VALUES {', '.join(rows)}) t(id, area_e4) ORDER BY id"
    )


_lazy_oracle("st_buffer_concave_areas", _oracle_st_buffer)


_GJ_FIXTURE = (
    '{"type": "FeatureCollection", "features": ['
    '{"type": "Feature", "properties": {"name": "alpha", "rank": 1}, '
    '"geometry": {"type": "Point", "coordinates": [10.5, 20.25]}}, '
    '{"type": "Feature", "properties": {"name": "beta", "rank": 2}, '
    '"geometry": {"type": "Polygon", "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]]}}, '
    '{"type": "Feature", "properties": {"name": "gamma", "rank": 3}, '
    '"geometry": {"type": "LineString", "coordinates": [[1, 1], [2, 3], [5, 5]]}}'
    ']}'
)


@_register(
    "geojson_roundtrip",
    """
    SELECT * FROM (VALUES
      ('alpha', 1, 'Point', 0),
      ('beta', 2, 'Polygon', 16000000),
      ('gamma', 3, 'LineString', 0)
    ) t(name, rank, gtype, area_e6) ORDER BY rank
    """,
)
def q_geojson_roundtrip(spark, sf_dir):
    """GeoJSON read → WKB geometry column → write back to GeoJSON strings;
    verify properties, geometry type, and area survive the roundtrip
    (reference driver: ogr/ogrsf_frmts/geojson)."""
    import os

    from gdal_spark.functions.st import st_area, st_geometrytype
    from gdal_spark.sources.geojson import read_geojson, write_geojson_strings

    from gdal_spark.sources.geojson import geojson_col_to_wkb

    d = _gate_dir("gj_gate_")
    path = os.path.join(d, "fixture.geojson")
    with open(path, "w") as f:
        f.write(_GJ_FIXTURE)
    df = read_geojson(spark, path)
    # full roundtrip: WKB → GeoJSON string → WKB again
    written = write_geojson_strings(df)
    back = written.withColumn("geometry", geojson_col_to_wkb(F.col("geometry")))
    return (
        back.select(
            "name",
            F.col("rank").cast("int").alias("rank"),
            st_geometrytype(F.col("geometry")).alias("gtype"),
            F.floor(st_area("geometry") * 1_000_000 + F.lit(0.5)).cast("long").alias("area_e6"),
        )
        .orderBy("rank")
    )


@_register("overview_gauss_checksum")
def q_overview_gauss_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import synth_raster
    from gdal_spark.raster.resample import downsample2

    meta = _synth_meta()
    lvl1, m1 = downsample2(synth_raster(spark, meta), meta, alg="gauss")
    cs = checksum_df(lvl1, m1)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_overview_gauss() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.resample import downsample2_np

    full, _ = _synth_full_np()
    return f"SELECT CAST({checksum_np(downsample2_np(full, 'gauss'))} AS BIGINT) AS checksum"


_lazy_oracle("overview_gauss_checksum", _oracle_overview_gauss)


@_register("overview_lanczos_checksum")
def q_overview_lanczos_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import synth_raster
    from gdal_spark.raster.resample import downsample2

    meta = _synth_meta()
    lvl1, m1 = downsample2(synth_raster(spark, meta), meta, alg="lanczos")
    cs = checksum_df(lvl1, m1)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_overview_lanczos() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.resample import downsample2_np

    full, _ = _synth_full_np()
    return f"SELECT CAST({checksum_np(downsample2_np(full, 'lanczos'))} AS BIGINT) AS checksum"


_lazy_oracle("overview_lanczos_checksum", _oracle_overview_lanczos)


@_register("contour_lines_stitched")
def q_contour_lines_stitched(spark, sf_dir):
    from gdal_spark.raster.analysis import contour_lines
    from gdal_spark.raster.model import RasterMeta, synth_raster

    meta = RasterMeta(width=30, height=20, dtype="float32", block_w=10, block_h=10)
    out = contour_lines(synth_raster(spark, meta), meta, interval=200.0)
    return out.select(
        F.floor("level").cast("long").alias("level"),
        F.col("line_id").cast("long").alias("line_id"),
        "wkt",
    ).orderBy("level", "line_id")


def _oracle_contour_lines() -> str:
    from gdal_spark.raster.analysis import contour_lines_np, interval_levels
    from gdal_spark.raster.model import RasterMeta, synth_block_np

    meta = RasterMeta(width=30, height=20, dtype="float32", block_w=10, block_h=10)
    full = np.zeros((20, 30), dtype="float32")
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            full[by*10:by*10+h, bx*10:bx*10+w] = synth_block_np(bx, by, h, w, meta)
    levels = interval_levels(float(full.min()), float(full.max()), 200.0)
    rows = ", ".join(
        f"({int(np.floor(lv))}, {i}, '{w}')"
        for lv, i, w in contour_lines_np(full, levels)
    )
    return (
        "SELECT CAST(level AS BIGINT) AS level, CAST(line_id AS BIGINT) AS line_id, wkt "
        f"FROM (VALUES {rows}) t(level, line_id, wkt) ORDER BY level, line_id"
    )


_lazy_oracle("contour_lines_stitched", _oracle_contour_lines)


@_register("sieve_relabel")
def q_sieve_relabel(spark, sf_dir):
    """Sieve relabel table on the reference polygonize fixture with true
    pixel adjacency; threshold 3 merges the sub-3-pixel regions."""
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.polygonize import sieve

    meta = RasterMeta(width=5, height=7, dtype="uint8", block_w=2, block_h=3)
    out = sieve(tiles_from_array(spark, _polygonize_grd(), meta), meta, threshold=3)
    return (
        out.select(
            F.floor("old_value").cast("long").alias("old_value"),
            F.floor("new_value").cast("long").alias("new_value"),
        )
        .groupBy("old_value", "new_value")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("old_value", "new_value")
    )


def _oracle_sieve_relabel() -> str:
    """Independent plain-Python sieve: BFS labeling + pixel-adjacency
    neighbor search + largest-neighbor merge (no shared code with the
    distributed path beyond the fixture)."""
    arr = _polygonize_grd()
    h, w = arr.shape
    lab = -np.ones((h, w), dtype=int)
    regions = []
    for y in range(h):
        for x in range(w):
            if lab[y, x] >= 0:
                continue
            rid = len(regions)
            stack = [(y, x)]
            lab[y, x] = rid
            px = []
            while stack:
                cy, cx = stack.pop()
                px.append((cy, cx))
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < h and 0 <= nx < w and lab[ny, nx] < 0 \
                            and arr[ny, nx] == arr[cy, cx]:
                        lab[ny, nx] = rid
                        stack.append((ny, nx))
            regions.append((int(arr[y, x]), px))
    nbrs = {i: set() for i in range(len(regions))}
    for y in range(h):
        for x in range(w):
            for dy, dx in ((1, 0), (0, 1)):
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and lab[ny, nx] != lab[y, x]:
                    nbrs[lab[y, x]].add(lab[ny, nx])
                    nbrs[lab[ny, nx]].add(lab[y, x])
    from collections import Counter

    counts = Counter()
    for i, (val, px) in enumerate(regions):
        if len(px) >= 3 or not nbrs[i]:
            counts[(val, val)] += 1
            continue
        # largest neighbor, tie → smaller region id (region ids follow
        # scan order, matching the distributed root ordering by first
        # pixel index)
        best = max(nbrs[i], key=lambda j: (len(regions[j][1]), -j))
        counts[(val, regions[best][0])] += 1
    rows = ", ".join(
        f"({ov}, {nv}, {n})" for (ov, nv), n in sorted(counts.items())
    )
    return (
        "SELECT CAST(old_value AS BIGINT) AS old_value, CAST(new_value AS BIGINT) AS new_value, "
        f"CAST(n AS BIGINT) AS n FROM (VALUES {rows}) t(old_value, new_value, n) "
        "ORDER BY old_value, new_value"
    )


_lazy_oracle("sieve_relabel", _oracle_sieve_relabel)


@_register("shapefile_poly_read")
def q_shapefile_poly_read(spark, sf_dir):
    """Read the reference's ACTUAL poly.shp fixture with the native
    shapefile reader; geometry shoelace areas must reproduce the .dbf
    AREA goldens (autotest/ogr/data/poly.{shp,dbf})."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.shapefile import read_shapefile

    df = read_shapefile(spark, _gdal_ref("ogr/data/poly.shp"))
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


@_register("gpkg_poly_read")
def q_gpkg_poly_read(spark, sf_dir):
    """Read the reference's poly_golden.gpkg with the native GeoPackage
    reader (OGC spec §2.1.3 blob header + stdlib sqlite3); shoelace
    areas must reproduce the same POLY goldens as the .shp fixture
    (autotest/ogr/data/gpkg/poly_golden.gpkg)."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.gpkg import read_gpkg

    df = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


def _oracle_shapefile_poly() -> str:
    """Oracle = the attribute table extracted to fixtures_poly.POLY_ATTRS
    in round 1 (independent of the binary parser)."""
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import POLY_ATTRS

    rows = ", ".join(
        f"({eas}, '{prf}', {int(np.floor(abs(area) + 0.5))})"
        for area, eas, prf in sorted(POLY_ATTRS, key=lambda t: t[1])
    )
    return (
        "SELECT CAST(eas_id AS BIGINT) AS eas_id, PRFEDEA, "
        f"CAST(area_m AS BIGINT) AS area_m FROM (VALUES {rows}) "
        "t(eas_id, PRFEDEA, area_m) ORDER BY eas_id"
    )


_lazy_oracle("shapefile_poly_read", _oracle_shapefile_poly)
_lazy_oracle("gpkg_poly_read", _oracle_shapefile_poly)


@_register("gpkg_roundtrip")
def q_gpkg_roundtrip(spark, sf_dir):
    """GeoPackage WRITE → READ roundtrip (OGC container tables + §2.1.3
    blobs, sources/gpkg.py write_gpkg): the re-read layer must reproduce
    the same POLY goldens — WKB payloads byte-identical through the
    blob wrap/unwrap."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.gpkg import read_gpkg, write_gpkg

    src = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    path = _os.path.join(_gate_dir("gpkg_rt_"), "roundtrip.gpkg")
    write_gpkg(src.drop("fid"), path, "poly", srs_id=27700, geometry_type="POLYGON")
    df = read_gpkg(spark, path)
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


_lazy_oracle("gpkg_roundtrip", _oracle_shapefile_poly)


@_register("fgb_poly_read")
def q_fgb_poly_read(spark, sf_dir):
    """FlatGeobuf WRITE → distributed READ
    (ogr/ogrsf_frmts/flatgeobuf/; public spec at flatgeobuf.org,
    sources/flatgeobuf.py hand-rolled flatbuffers codec): the re-read
    layer must reproduce the same POLY goldens. Unlike shapefile/GPKG
    the feature section is record-splittable — executors parse disjoint
    byte ranges (mapInPandas over the offset list)."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.flatgeobuf import read_fgb, write_fgb
    from gdal_spark.sources.gpkg import read_gpkg

    src = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    path = _os.path.join(_gate_dir("fgb_"), "poly.fgb")
    write_fgb(src.drop("fid"), path, name="poly", geometry_type="Polygon")
    df = read_fgb(spark, path)
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


_lazy_oracle("fgb_poly_read", _oracle_shapefile_poly)


@_register("gml_poly_read")
def q_gml_poly_read(spark, sf_dir):
    """GML WRITE → READ (ogr/ogrsf_frmts/gml/gmlreader.cpp surface,
    sources/gml.py stdlib-XML pull parse): the POLY layer roundtripped
    through GML3 posList/exterior encodings must reproduce the same
    goldens as the shapefile/GPKG/FGB readers."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.gml import read_gml, write_gml
    from gdal_spark.sources.gpkg import read_gpkg

    src = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    path = _os.path.join(_gate_dir("gml_"), "poly.gml")
    write_gml(src.drop("fid"), path, layer="poly")
    df = read_gml(spark, path)
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


_lazy_oracle("gml_poly_read", _oracle_shapefile_poly)


@_register("gml_archsites_read")
def q_gml_archsites_read(spark, sf_dir):
    """Reference-authored GML (autotest/ogr/data/gml/archsites.gml — a
    WFS GML3 document with featureMembers, urn-named PROJECTED srs so no
    axis flip, and .xsd-declared long/string field types): values pinned
    to the file's literal content."""
    from gdal_spark.sources.gml import read_gml

    df = read_gml(spark, _gdal_ref("ogr/data/gml/archsites.gml"))
    g = F.col("geometry")
    from gdal_spark.functions.st import st_astext

    return df.select(
        "fid", F.col("cat").cast("long").alias("cat"), "str1",
        st_astext(g).alias("wkt"),
    ).orderBy("fid")


def _oracle_gml_archsites() -> str:
    return (
        "SELECT * FROM (VALUES ('archsites.3951', CAST(1 AS BIGINT), "
        "'Signature Rock', 'POINT (593493 4914730)')) "
        "AS t(fid, cat, str1, wkt) ORDER BY fid"
    )


_lazy_oracle("gml_archsites_read", _oracle_gml_archsites)


@_register("kml_samples_read")
def q_kml_samples_read(spark, sf_dir):
    """Reference-authored KML (autotest/ogr/data/kml/samples.kml, the
    classic driver's canonical fixture): Folder/nested-Document layers,
    fixed Name/description schema with per-line text trimming and
    empty-string defaults, 2.5D geometries — values pinned to the
    reference's own test expectations (ogr_kml.py:50-260: placemark
    names/descriptions, the 22-vertex Building 40 polygon, the
    documented Simple-placemark POINT)."""
    from gdal_spark.functions.st import st_astext, st_npoints
    from gdal_spark.sources.kml import read_kml

    df = read_kml(spark, _gdal_ref("ogr/data/kml/samples.kml"))
    keep = (
        F.col("layer").isin("Placemarks", "Highlighted Icon", "Google Campus")
        | ((F.col("layer") == "Paths")
           & F.col("Name").isin("Tessellated", "Untessellated"))
    )
    g = F.col("geometry")
    return (
        df.filter(keep)
        .select(
            "layer", F.col("Name").alias("name"), "description",
            st_npoints(g).cast("long").alias("npts"),
            F.when(F.col("Name") == "Simple placemark", st_astext(g)).alias("wkt"),
        )
        .orderBy("layer", "name")
    )


def _oracle_kml_samples() -> str:
    from gdal_spark.geometry import wkt as _wkt

    # the documented Simple-placemark point (ogr_kml.py:191), through the
    # same WKT formatter the engine registers
    pt = _wkt.geom_to_wkt("Point", (-122.0822035425683, 37.42228990140251))
    d1 = ("Attached to the ground. Intelligently places itself at the\n"
          "height of the underlying terrain.")
    d2 = "Floats a defined distance above the ground."
    d3 = 'Tethered to the ground by a customizable\n"tail"'
    dt = ("If the <tessellate> tag has a value of 1, the line will "
          "contour to the underlying terrain")
    du = ("If the <tessellate> tag has a value of 0, the line follow a "
          "simple straight-line path from point to point")
    rows = [
        ("Google Campus", "Building 40", "", 22, None),
        ("Google Campus", "Building 41", "", 19, None),
        ("Google Campus", "Building 42", "", 24, None),
        ("Google Campus", "Building 43", "", 25, None),
        ("Highlighted Icon", "Roll over this icon", "", 1, None),
        ("Paths", "Tessellated", dt, 2, None),
        ("Paths", "Untessellated", du, 2, None),
        ("Placemarks", "Extruded placemark", d3, 1, None),
        ("Placemarks", "Floating placemark", d2, 1, None),
        ("Placemarks", "Simple placemark", d1, 1, pt),
    ]

    def lit(s):
        return "NULL" if s is None else "'" + str(s).replace("'", "''").replace(chr(10), "' || chr(10) || '") + "'"

    vals = ", ".join(
        f"({lit(a)}, {lit(b)}, {lit(c)}, CAST({n} AS BIGINT), "
        f"CAST({lit(w)} AS VARCHAR))"
        for a, b, c, n, w in rows
    )
    return (
        f"SELECT * FROM (VALUES {vals}) AS t(layer, name, description, npts, wkt) "
        "ORDER BY layer, name"
    )


_lazy_oracle("kml_samples_read", _oracle_kml_samples)


@_register("kml_poly_read")
def q_kml_poly_read(spark, sf_dir):
    """KML WRITE → READ roundtrip (sources/kml.py, ExtendedData field
    encoding): the POLY layer reproduces the same goldens as the
    shapefile/GPKG/FGB/GML readers."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.gpkg import read_gpkg
    from gdal_spark.sources.kml import read_kml, write_kml

    src = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    path = _os.path.join(_gate_dir("kml_"), "poly.kml")
    write_kml(src.drop("fid"), path, layer="poly")
    df = read_kml(spark, path, keep_z=False)
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


_lazy_oracle("kml_poly_read", _oracle_shapefile_poly)


@_register("csv_geom_read")
def q_csv_geom_read(spark, sf_dir):
    """CSV-with-geometry driver (ogr/ogrsf_frmts/csv/ WKT-column
    convention, sources/csv_geom.py): POLY goldens through a CSV
    round-trip — Spark's native splittable csv scan + WKT→WKB column."""
    import csv as _csv
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.sources.csv_geom import read_csv_geometry
    from gdal_spark.sources.gpkg import read_gpkg

    src = read_gpkg(spark, _gdal_ref("ogr/data/gpkg/poly_golden.gpkg"))
    rows = sorted(
        (int(r["EAS_ID"]), r["PRFEDEA"], _wkt.wkb_to_wkt(bytes(r["geometry"])))
        for r in src.collect()
    )
    path = _os.path.join(_gate_dir("csvgeom_"), "poly.csv")
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["EAS_ID", "PRFEDEA", "WKT"])
        w.writerows(rows)
    df = read_csv_geometry(spark, path)
    return df.select(
        F.col("EAS_ID").cast("long").alias("eas_id"),
        "PRFEDEA",
        F.floor(st_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m"),
    ).orderBy("eas_id")


_lazy_oracle("csv_geom_read", _oracle_shapefile_poly)


def _mvt_fixture_layers(i: int):
    """Deterministic per-tile MVT fixture: two park polygons (one with a
    hole) and one road linestring, coordinates varying with tile index."""
    import numpy as np

    ext = np.array(
        [(0, 0), (50 + i, 0), (50 + i, 40 + 2 * i), (0, 40 + 2 * i), (0, 0)], float
    )
    hole = np.array([(10, 10), (10, 20), (20 + i, 20), (20 + i, 10), (10, 10)], float)
    tri = np.array([(100, 100), (140, 100), (120, 130), (100, 100)], float) + i
    line = np.array([(0, i), (30, i), (30, 30 + i)], float)
    return [
        {
            "name": "parks",
            "extent": 4096,
            "version": 2,
            "features": [
                (i * 10 + 1, ("Polygon", [ext, hole]), {"kind": "park", "rank": i}),
                (i * 10 + 2, ("Polygon", [tri]), {}),
            ],
        },
        {
            "name": "roads",
            "extent": 4096,
            "version": 2,
            "features": [(i * 10 + 3, ("LineString", line), {"cls": str(i)})],
        },
    ]


@_register("mvt_tileset_read")
def q_mvt_tileset_read(spark, sf_dir):
    """Mapbox Vector Tile tileset WRITE → distributed READ
    (ogr/ogrsf_frmts/mvt/; public spec 2.1 at
    github.com/mapbox/vector-tile-spec; sources/mvt.py hand-rolled
    protobuf + winding-rule ring assembly): write a deterministic 4-tile
    tileset, decode it distributed (executors parse disjoint tile
    subsets), aggregate per-layer feature counts, fid sums and doubled
    shoelace areas. Oracle is an independent pure-Python shoelace over
    the same fixture coordinates."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.mvt import read_mvt, write_mvt_tile

    d = _gate_dir("mvt_")
    paths = []
    for i in range(4):
        p = _os.path.join(d, f"tile_{i}.pbf")
        write_mvt_tile(p, _mvt_fixture_layers(i))
        paths.append(p)
    df = read_mvt(spark, paths)
    return (
        df.groupBy("layer")
        .agg(
            F.count("*").cast("long").alias("n_feat"),
            F.sum("fid").cast("long").alias("fid_sum"),
            F.floor(F.sum(st_area(F.col("geometry"))) * 2 + F.lit(0.5))
            .cast("long")
            .alias("area2"),
        )
        .orderBy("layer")
    )


@_register(
    "mvt_tileset_write_counts",
    f"""
    SELECT {_TX8} AS tile_x, {_TY8} AS tile_y, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1, 2 ORDER BY tile_x, tile_y
    """,
)
def q_mvt_tileset_write_counts(spark, sf_dir):
    """Distributed MVT tileset SINK roundtrip (ogr2ogr -f MVT directory
    layout; sources/mvt.py write_mvt_tileset): customer points →
    executor-side {z}/{x}/{y}.pbf writes (one shuffle on the tile key,
    zero driver collect) → distributed decode of every written tile →
    per-tile feature counts must equal the plain tile-assignment oracle
    (same GetTileIndices math DuckDB-side)."""

    from gdal_spark.sources.mvt import read_mvt, write_mvt_tileset

    pts = _with_lonlat(_t(spark, sf_dir, "customer"), "c_custkey")
    out_dir = _gate_dir("mvt_sink_")
    written = write_mvt_tileset(pts, out_dir, zoom=8, layer="customers")
    paths = [r.path for r in written.collect()]
    back = read_mvt(spark, paths)
    tiles = back.withColumn(
        "tile_x",
        F.regexp_extract(F.col("tile_path"), r"/(\d+)/(\d+)\.pbf$", 1).cast("long"),
    ).withColumn(
        "tile_y",
        F.regexp_extract(F.col("tile_path"), r"/(\d+)/(\d+)\.pbf$", 2).cast("long"),
    )
    return (
        tiles.groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tile_x", "tile_y")
    )


def _oracle_mvt_tileset() -> str:
    # independent re-derivation: pure-Python shoelace on the fixture
    # coordinates, never touching the codec or the ST_ kernels
    def sho2(ring):  # doubled absolute shoelace, exact in ints
        s = 0
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            s += int(x0) * int(y1) - int(x1) * int(y0)
        return abs(s)

    per = {"parks": [0, 0, 0], "roads": [0, 0, 0]}
    for i in range(4):
        for lyr in _mvt_fixture_layers(i):
            st = per[lyr["name"]]
            for fid, (gname, payload), _props in lyr["features"]:
                st[0] += 1
                st[1] += fid
                if gname == "Polygon":
                    rings = [[(float(x), float(y)) for x, y in r] for r in payload]
                    st[2] += sho2(rings[0]) - sum(sho2(r) for r in rings[1:])
    rows = ", ".join(
        f"('{k}', CAST({v[0]} AS BIGINT), CAST({v[1]} AS BIGINT), "
        f"CAST({v[2]} AS BIGINT))"
        for k, v in sorted(per.items())
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(layer, n_feat, fid_sum, area2) ORDER BY layer"
    )


_lazy_oracle("mvt_tileset_read", _oracle_mvt_tileset)


def _osm_fixture():
    """Deterministic OSM fixture: 120 nodes on a lattice, 15 ways of
    varying length, 2 relations (ignored by the line assembly)."""
    nodes = [
        (
            1000 + i,
            -1.5 + (i % 12) * 0.0001,
            47.25 + (i // 12) * 0.00005,
            {"amenity": "cafe"} if i % 7 == 0 else {},
        )
        for i in range(120)
    ]
    ways = [
        (
            5000 + w,
            [1000 + (w * 11 + 3 * j) % 120 for j in range(3 + w % 5)],
            {"highway": f"class{w % 3}"},
        )
        for w in range(15)
    ]
    rels = [
        (9000, [("way", 5000, "outer"), ("way", 5001, "inner")],
         {"type": "multipolygon"}),
        (9001, [("node", 1003, "stop")], {"type": "route"}),
    ]
    return nodes, ways, rels


@_register("osm_pbf_ways")
def q_osm_pbf_ways(spark, sf_dir):
    """OSM PBF blob-splittable READ + distributed way assembly
    (ogr/ogrsf_frmts/osm/osm_parser.cpp ReadDenseNodes:571 + the node-db
    way resolution in ogrosmdatasource.cpp; public PBF spec): write a
    deterministic multi-blob fixture, read it back distributed (blob
    offset index → executors inflate disjoint blobs), resolve each
    way's node refs via posexplode⋈nodes (the Spark-native replacement
    for the reference's on-disk node hash), and emit per-way vertex
    counts and exact 1e-7-degree integer coordinate sums."""
    import os as _os

    from gdal_spark.sources.osm import osm_ways_to_lines, read_osm_pbf, write_osm_pbf

    nodes, ways, rels = _osm_fixture()
    path = _os.path.join(_gate_dir("osm_"), "fixture.osm.pbf")
    write_osm_pbf(path, nodes, ways, rels, block_nodes=32)
    osm = read_osm_pbf(spark, path)

    lines = osm_ways_to_lines(osm).select(
        "id", "n_pts", F.col("tags")["highway"].alias("highway")
    )
    nd = osm.filter(F.col("kind") == "node").select(
        F.col("id").alias("nid"),
        F.floor(F.col("lon") * 1e7 + F.lit(0.5)).cast("long").alias("lon7"),
        F.floor(F.col("lat") * 1e7 + F.lit(0.5)).cast("long").alias("lat7"),
    )
    ex = osm.filter(F.col("kind") == "way").select(
        F.col("id").alias("way_id"), F.explode("refs").alias("ref")
    )
    sums = (
        ex.join(nd, ex.ref == nd.nid)
        .groupBy("way_id")
        .agg(
            F.sum("lon7").cast("long").alias("lon7_sum"),
            F.sum("lat7").cast("long").alias("lat7_sum"),
        )
    )
    return (
        lines.join(sums, lines.id == sums.way_id)
        .select("id", "n_pts", "highway", "lon7_sum", "lat7_sum")
        .orderBy("id")
    )


def _oracle_osm_pbf_ways() -> str:
    # independent re-derivation: resolve refs in pure Python over the
    # fixture lists, quantizing coords exactly as the PBF stores them
    # (nanodegrees // granularity → 1e-7-degree ints)
    nodes, ways, _rels = _osm_fixture()
    coord7 = {
        nid: (round(lon * 1e9) // 100, round(lat * 1e9) // 100)
        for nid, lon, lat, _t in nodes
    }
    rows = []
    for wid, refs, tags in ways:
        lon7 = sum(coord7[r][0] for r in refs)
        lat7 = sum(coord7[r][1] for r in refs)
        rows.append(
            f"(CAST({wid} AS BIGINT), {len(refs)}, '{tags['highway']}', "
            f"CAST({lon7} AS BIGINT), CAST({lat7} AS BIGINT))"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(id, n_pts, highway, lon7_sum, lat7_sum) ORDER BY id"
    )


_lazy_oracle("osm_pbf_ways", _oracle_osm_pbf_ways)


def _osm_mp_fixture():
    """Multipolygon-relation fixture at integer-degree coords. Relation
    300: square outer SPLIT across two ways (one stored reversed) with a
    square hole, PLUS a separate triangle outer → 2 polygons, 1 hole.
    Relation 301: single closed pentagon way. Returns (nodes, ways,
    rels, ring definitions for the oracle)."""
    grid = {
        1: (0.0, 0.0), 2: (10.0, 0.0), 3: (10.0, 10.0), 4: (0.0, 10.0),
        5: (2.0, 2.0), 6: (8.0, 2.0), 7: (8.0, 8.0), 8: (2.0, 8.0),
        9: (20.0, 0.0), 10: (30.0, 0.0), 11: (25.0, 9.0),
        12: (40.0, 0.0), 13: (46.0, 0.0), 14: (48.0, 5.0),
        15: (43.0, 9.0), 16: (38.0, 5.0),
    }
    nodes = [(nid, lon, lat, {}) for nid, (lon, lat) in grid.items()]
    ways = [
        (100, [1, 2, 3], {}),        # square half A
        (101, [1, 4, 3], {}),        # square half B (reversed orientation)
        (102, [5, 6, 7, 8, 5], {}),  # hole
        (103, [9, 10, 11, 9], {}),   # triangle
        (104, [12, 13, 14, 15, 16, 12], {}),  # pentagon
    ]
    rels = [
        (300, [("way", 100, "outer"), ("way", 101, "outer"),
               ("way", 102, "inner"), ("way", 103, "outer")],
         {"type": "multipolygon"}),
        (301, [("way", 104, "outer")], {"type": "boundary"}),
    ]
    rings = {  # per relation: [(exterior, [holes])] in original coords
        300: [
            ([grid[i] for i in (1, 2, 3, 4, 1)],
             [[grid[i] for i in (5, 6, 7, 8, 5)]]),
            ([grid[i] for i in (9, 10, 11, 9)], []),
        ],
        301: [([grid[i] for i in (12, 13, 14, 15, 16, 12)], [])],
    }
    return nodes, ways, rels, rings


@_register("osm_multipolygon_assembly")
def q_osm_multipolygon_assembly(spark, sf_dir):
    """OSM multipolygon relation assembly (ogrosmdatasource.cpp
    multipolygon build; sources/osm.py osm_relations_to_multipolygons):
    member ways stitched end-to-end into closed rings (one arrives
    reversed), holes nested by ray-cast containment, one applyInPandas
    group per relation. Areas compare exactly: integer-degree coords →
    doubled shoelace is integral, so area×5e5 is an exact BIGINT."""
    import os as _os

    from gdal_spark.functions.st import st_area
    from gdal_spark.sources.osm import (
        osm_relations_to_multipolygons,
        read_osm_pbf,
        write_osm_pbf,
    )

    nodes, ways, rels, _rings = _osm_mp_fixture()
    path = _os.path.join(_gate_dir("osmmp_"), "mp.osm.pbf")
    write_osm_pbf(path, nodes, ways, rels, block_nodes=8)
    mp = osm_relations_to_multipolygons(read_osm_pbf(spark, path))
    return mp.select(
        "id",
        "n_polys",
        "n_holes",
        "n_pts",
        F.floor(st_area(F.col("geometry")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("area_e6"),
    ).orderBy("id")


def _oracle_osm_mp() -> str:
    # independent re-derivation from the ORIGINAL ring definitions (the
    # stitcher never runs): integer doubled shoelace × 5e5 = area_e6
    def sho2(ring):
        s = 0
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            s += int(x0) * int(y1) - int(x1) * int(y0)
        return abs(s)

    _n, _w, _r, rings = _osm_mp_fixture()
    rows = []
    for rid in sorted(rings):
        polys = rings[rid]
        n_holes = sum(len(h) for _e, h in polys)
        n_pts = sum(len(e) + sum(len(x) for x in h) for e, h in polys)
        area2 = sum(sho2(e) - sum(sho2(x) for x in h) for e, h in polys)
        rows.append(
            f"(CAST({rid} AS BIGINT), {len(polys)}, {n_holes}, {n_pts}, "
            f"CAST({area2 * 500000} AS BIGINT))"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(id, n_polys, n_holes, n_pts, area_e6) ORDER BY id"
    )


_lazy_oracle("osm_multipolygon_assembly", _oracle_osm_mp)


_POLYGONIZE_CASES = [
    # (id, noded linework WKT, expected n_polys, expected doubled area)
    (1, "MULTILINESTRING((0 0,0 1,1 1),(1 1,0 0))", 1, 1),
    (2, "MULTILINESTRING((0 0,10 0,10 10,0 10,0 0),(2 2,8 2,8 8,2 8,2 2))",
     2, 200),  # donut (100-36) + filler 36 → Σarea 100
    (3, "MULTILINESTRING((0 0,2 0),(2 0,1 2),(1 2,0 0),(2 0,3 2),(3 2,1 2))",
     2, 8),    # two triangles sharing an edge
    (4, "MULTILINESTRING((0 0,1 0,1 1,0 1,0 0),(1 0,3 0),(3 0,4 0,4 1,3 1,3 0))",
     2, 4),    # two squares joined by a cut edge (bridge dropped)
    (5, "MULTILINESTRING((0 0,1 0),(1 0,2 0),(0 1,1 1),(1 1,2 1),(0 2,1 2),"
        "(1 2,2 2),(0 0,0 1),(0 1,0 2),(1 0,1 1),(1 1,1 2),(2 0,2 1),(2 1,2 2))",
     4, 8),    # fully-noded 2×2 lattice
    (6, "MULTILINESTRING((0 0,5 0),(5 0,9 3,12 0))", 0, 0),  # dangles only
]


@_register("st_polygonize_cases")
def q_st_polygonize_cases(spark, sf_dir):
    """OGRGeometry::Polygonize (ogr/ogr_geometry.h:591 → GEOSPolygonize,
    JTS Polygonizer planar face traversal; geometry/ops.py
    polygonize_lines): dangle pruning, cut-edge discard, CW shells,
    nested CCW rings as holes. The exact reference golden
    (autotest/ogr/ogr_geos.py:613) is pinned byte-for-byte in
    tests/test_st_functions.py; this gate checks polygon counts and
    exact doubled shoelace areas across the structural cases."""
    from gdal_spark.functions.st import (
        st_area,
        st_geomfromtext,
        st_numgeometries,
        st_polygonize,
    )

    df = spark.createDataFrame(
        [(i, w) for i, w, _n, _a in _POLYGONIZE_CASES], "id LONG, wkt STRING"
    )
    g = st_polygonize(st_geomfromtext(F.col("wkt")))
    return df.select(
        "id",
        st_numgeometries(g).cast("int").alias("n_polys"),
        F.floor(st_area(g) * 2 + F.lit(0.5)).cast("long").alias("area2"),
    ).orderBy("id")


def _oracle_st_polygonize() -> str:
    rows = ", ".join(
        f"(CAST({i} AS BIGINT), {n}, CAST({a} AS BIGINT))"
        for i, _w, n, a in _POLYGONIZE_CASES
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(id, n_polys, area2) ORDER BY id"
    )


_lazy_oracle("st_polygonize_cases", _oracle_st_polygonize)


def _footprint_fixture():
    """Two 20×24 bands with blobs, a hole, and a diagonal bridge —
    deterministic column math, no RNG."""
    import numpy as np

    b1 = np.zeros((20, 24), dtype=np.uint8)
    b1[2:9, 2:10] = 5
    b1[4:7, 4:8] = 0  # hole inside blob A
    b1[12:18, 14:21] = 3
    b2 = np.zeros((20, 24), dtype=np.uint8)
    b2[5:8, 8:16] = 9  # bridges blob A toward the right
    b2[15:17, 2:6] = 7  # isolated strip
    return b1, b2


@_register("raster_footprint")
def q_raster_footprint(spark, sf_dir):
    """gdal_footprint (apps/gdal_footprint_lib.cpp; raster/footprint.py):
    valid-mask combine (union AND intersection modes) → distributed
    polygonize → one MultiPolygon feature. Oracle derives the same
    counts/areas INDEPENDENTLY: valid-pixel popcount (= exact polygon
    area for 4-connected pixel polygons) and pure-Python BFS region/hole
    labeling — none of the polygonize machinery runs on the oracle side."""
    from gdal_spark.functions.st import st_area, st_geomfromtext
    from gdal_spark.raster.footprint import footprint
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    b1, b2 = _footprint_fixture()
    meta = RasterMeta(width=24, height=20, dtype="uint8", block_w=7,
                      block_h=6, nodata=0.0)
    t1 = tiles_from_array(spark, b1, meta)
    t2 = tiles_from_array(spark, b2, meta)
    rows = []
    for mode in ("intersection", "union"):
        fp = footprint({"b1": t1, "b2": t2}, meta, geo=False,
                       combine_bands=mode)
        rows.append(fp.select(F.lit(mode).alias("mode"), "n_polys", "n_rings",
                              "wkt"))
    out = rows[0].unionByName(rows[1])
    return out.select(
        "mode",
        "n_polys",
        "n_rings",
        F.floor(st_area(st_geomfromtext(F.col("wkt"))) * 2 + F.lit(0.5))
        .cast("long")
        .alias("area2"),
    ).orderBy("mode")


def _oracle_footprint() -> str:
    # independent: popcount for area, BFS for regions and enclosed holes
    def stats(valid):
        h, w = len(valid), len(valid[0])
        seen = [[False] * w for _ in range(h)]

        def bfs(sy, sx, pred):
            stack = [(sy, sx)]
            seen[sy][sx] = True
            touches_border = False
            while stack:
                y, x = stack.pop()
                if y in (0, h - 1) or x in (0, w - 1):
                    touches_border = True
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    ny, nx = y + dy, x + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny][nx] \
                            and pred(ny, nx):
                        seen[ny][nx] = True
                        stack.append((ny, nx))
            return touches_border

        n_polys = n_holes = 0
        for y in range(h):
            for x in range(w):
                if seen[y][x]:
                    continue
                if valid[y][x]:
                    bfs(y, x, lambda a, b: valid[a][b])
                    n_polys += 1
                else:
                    if not bfs(y, x, lambda a, b: not valid[a][b]):
                        n_holes += 1
        area2 = 2 * int(sum(int(v) for row in valid for v in row))
        return n_polys, n_polys + n_holes, area2

    b1, b2 = _footprint_fixture()
    v1 = (b1 != 0).tolist()
    v2 = (b2 != 0).tolist()
    h, w = len(v1), len(v1[0])
    union = [[v1[y][x] or v2[y][x] for x in range(w)] for y in range(h)]
    inter = [[v1[y][x] and v2[y][x] for x in range(w)] for y in range(h)]
    rows = []
    for mode, v in (("intersection", inter), ("union", union)):
        np_, nr, a2 = stats(v)
        rows.append(f"('{mode}', {np_}, {nr}, CAST({a2} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(mode, n_polys, n_rings, area2) ORDER BY mode"
    )


_lazy_oracle("raster_footprint", _oracle_footprint)


_GTIFF_GOLDENS = [
    # every checksum is the reference's own documented golden
    # (autotest/gcore/tiff_read.py:45+ init_list, gtiff_write.py:32+,
    # cog.py:139) — uncompressed/PackBits/LZW/Deflate, predictors 2+3,
    # strips+tiles, chunky+separate planes, LE+BE, partial final blocks
    ("byte.tif", 1, 4672),
    ("int16.tif", 1, 4672),
    ("uint16.tif", 1, 4672),
    ("int32.tif", 1, 4672),
    ("uint32.tif", 1, 4672),
    ("float32.tif", 1, 4672),
    ("float64.tif", 1, 4672),
    ("utmsmall.tif", 1, 50054),
    ("rgbsmall.tif", 1, 21212),
    ("rgbsmall.tif", 2, 21053),
    ("rgbsmall.tif", 3, 21349),
    ("contig_strip.tif", 2, 15234),
    ("contig_tiled.tif", 2, 15234),
    ("separate_tiled.tif", 2, 15234),
    ("seperate_strip.tif", 2, 15234),
    ("gtiff/float32_lzw_predictor_3_big_endian.tif", 1, 4672),
    ("bug4468.tif", 1, 2923),
]


@_register("geotiff_read_checksums")
def q_geotiff_read_checksums(spark, sf_dir):
    """GeoTIFF driver parity (frmts/gtiff/ over libtiff; here the public
    TIFF 6.0 spec hand-rolled in sources/geotiff.py): DISTRIBUTED read
    of 14 reference fixtures spanning the codec matrix — LE/BE, strips
    and tiles (incl. the #1179 partial-final-block family), chunky and
    separate planes, PackBits/LZW/Deflate, predictors 2 and 3, 7 sample
    types — checksummed with the exact distributed GDALChecksumImage
    reimplementation. Oracle = the reference's own documented
    checksums."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.sources.geotiff import read_geotiff

    rows = []
    for name, band, _want in _GTIFF_GOLDENS:
        t, meta = read_geotiff(spark, _gdal_ref("gcore/data/" + name))
        cs = int(
            checksum_df(
                t.filter(F.col("band") == band).withColumn("band", F.lit(1)),
                meta,
            )
        )
        rows.append((name, band, cs))
    return spark.createDataFrame(
        rows, "name STRING, band INT, checksum BIGINT"
    ).orderBy("name", "band")


def _oracle_geotiff() -> str:
    rows = ", ".join(
        f"('{n}', {b}, CAST({c} AS BIGINT))" for n, b, c in _GTIFF_GOLDENS
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(name, band, checksum) ORDER BY name, band"
    )


_lazy_oracle("geotiff_read_checksums", _oracle_geotiff)


_PYRAMID_ZOOMS = (13, 15)


@_register("raster_tile_pyramid_checksums")
def q_raster_tile_pyramid_checksums(spark, sf_dir):
    """gdal raster tile (apps/gdalalg_raster_tile.cpp; gdal2tiles):
    byte.tif fixture (EPSG:26711) → distributed warp into the
    grid-aligned WebMercator window per zoom → per-tile GeoTIFFs written
    executor-side → re-read DISTRIBUTED and checksummed. Oracle is the
    single-node warp path (warp_crs_np) sliced per tile — the identical
    transform+sampling math the warp gates pin."""

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import byte_fixture, tiles_from_array
    from gdal_spark.raster.tile_pyramid import raster_tile_pyramid
    from gdal_spark.sources.geotiff import read_geotiff

    arr, meta = byte_fixture()
    out_dir = _gate_dir("pyramid_")
    written = raster_tile_pyramid(
        tiles_from_array(spark, arr, meta), meta, 26711, out_dir,
        zooms=_PYRAMID_ZOOMS,
    ).collect()
    rows = []
    for r in sorted(written, key=lambda r: (r.z, r.x, r.y)):
        t, m = read_geotiff(spark, r.path)
        rows.append((r.z, int(r.x), int(r.y), int(checksum_df(t, m))))
    return spark.createDataFrame(
        rows, "z INT, x LONG, y LONG, checksum BIGINT"
    ).orderBy("z", "x", "y")


def _oracle_tile_pyramid() -> str:
    import numpy as np

    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import byte_fixture
    from gdal_spark.raster.tile_pyramid import zoom_window
    from gdal_spark.raster.warp import warp_crs_np

    arr, meta = byte_fixture()
    rows = []
    for z in _PYRAMID_ZOOMS:
        dst_meta, tx0, ty0 = zoom_window(meta, 26711, z)
        full = warp_crs_np(arr, meta, dst_meta, 26711, 3857)
        full = np.rint(full).astype(meta.dtype)
        for by in range(dst_meta.height // 256):
            for bx in range(dst_meta.width // 256):
                cs = checksum_np(
                    full[by * 256 : (by + 1) * 256, bx * 256 : (bx + 1) * 256]
                )
                rows.append(f"({z}, CAST({tx0 + bx} AS BIGINT), "
                            f"CAST({ty0 + by} AS BIGINT), CAST({cs} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(z, x, y, checksum) ORDER BY z, x, y"
    )


_lazy_oracle("raster_tile_pyramid_checksums", _oracle_tile_pyramid)


@_register("png_reference_checksums")
def q_png_reference_checksums(spark, sf_dir):
    """Hand-rolled PNG codec (sources/png.py) vs the reference's OWN
    documented fixture checksums: test.png palette band 57921
    (autotest/gdrivers/png.py:38), rgba16.png bands 3/4 = 1815/4873
    (png.py:102,112 — 16-bit), and the Adam7-INTERLACED
    stefan_full_rgba.png band 1 = 12603 (gdrivers/tga.py:147, the same
    pixels across formats)."""
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.sources.png import decode_png

    fixtures = [
        (_gdal_ref("gdrivers/data/png/test.png"), 1),
        (_gdal_ref("gdrivers/data/png/rgba16.png"), 3),
        (_gdal_ref("gdrivers/data/png/rgba16.png"), 4),
        (_gdal_ref("gcore/data/stefan_full_rgba.png"), 1),
    ]
    rows = []
    for i, (path, band) in enumerate(fixtures):
        bands, _ = decode_png(open(path, "rb").read())
        rows.append((i, int(checksum_np(bands[band]))))
    return spark.createDataFrame(rows, "fixture INT, checksum BIGINT").orderBy("fixture")


def _oracle_png_checksums() -> str:
    # the reference's documented values, in fixture order
    vals = [57921, 1815, 4873, 12603]
    rows = ", ".join(
        f"({i}, CAST({v} AS BIGINT))" for i, v in enumerate(vals)
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(fixture, checksum) ORDER BY fixture"
    )


_lazy_oracle("png_reference_checksums", _oracle_png_checksums)


@_register("jpeg_reference_checksums")
def q_jpeg_reference_checksums(spark, sf_dir):
    """Hand-rolled baseline JPEG decoder (sources/jpeg.py — IJG islow
    IDCT + fancy upsampling + fixed-point YCbCr, bit-exact with the
    reference's vendored libjpeg 6b) vs the reference's OWN documented
    checksums: albania.jpg band 2 = 17016 (autotest/gdrivers/jpeg.py:46,
    the vendored-6b branch) and the Adobe CMYK fixture's RGB bands
    20385/20865/19441 (jpeg.py:267-289, C·K/255 conversion per
    jpgdataset.cpp:1487)."""
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.sources.jpeg import decode_jpeg

    fixtures = [
        (_gdal_ref("gdrivers/data/jpeg/albania.jpg"), 2),
        (_gdal_ref("gdrivers/data/jpeg/rgb_ntf_cmyk.jpg"), 1),
        (_gdal_ref("gdrivers/data/jpeg/rgb_ntf_cmyk.jpg"), 2),
        (_gdal_ref("gdrivers/data/jpeg/rgb_ntf_cmyk.jpg"), 3),
    ]
    rows = []
    cache = {}
    for i, (path, band) in enumerate(fixtures):
        if path not in cache:
            cache[path] = decode_jpeg(open(path, "rb").read())[0]
        rows.append((i, int(checksum_np(cache[path][band]))))
    return spark.createDataFrame(rows, "fixture INT, checksum BIGINT").orderBy("fixture")


def _oracle_jpeg_checksums() -> str:
    vals = [17016, 20385, 20865, 19441]
    rows = ", ".join(f"({i}, CAST({v} AS BIGINT))" for i, v in enumerate(vals))
    return f"SELECT * FROM (VALUES {rows}) AS t(fixture, checksum) ORDER BY fixture"


_lazy_oracle("jpeg_reference_checksums", _oracle_jpeg_checksums)


@_register("raster_tile_pyramid_png_checksums")
def q_raster_tile_pyramid_png_checksums(spark, sf_dir):
    """The tile pyramid with the reference CLI's DEFAULT output format —
    PNG tiles (tile_format='png', encoded executor-side by the
    hand-rolled codec). The oracle is the same single-node warp slicing
    as the GeoTIFF pyramid gate: PNG is a pixel-identical re-encoding of
    the same sampled values."""

    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import byte_fixture, tiles_from_array
    from gdal_spark.raster.tile_pyramid import raster_tile_pyramid
    from gdal_spark.sources.png import decode_png

    arr, meta = byte_fixture()
    out_dir = _gate_dir("pyramid_png_")
    written = raster_tile_pyramid(
        tiles_from_array(spark, arr, meta), meta, 26711, out_dir,
        zooms=_PYRAMID_ZOOMS, tile_format="png",
    ).collect()
    rows = []
    for r in sorted(written, key=lambda r: (r.z, r.x, r.y)):
        assert r.path.endswith(".png")
        bands, _ = decode_png(open(r.path, "rb").read())
        rows.append((r.z, int(r.x), int(r.y), int(checksum_np(bands[1]))))
    return spark.createDataFrame(
        rows, "z INT, x LONG, y LONG, checksum BIGINT"
    ).orderBy("z", "x", "y")


_lazy_oracle("raster_tile_pyramid_png_checksums", _oracle_tile_pyramid)


@_register("multimodal_png_real_decode")
def q_multimodal_png_real_decode(spark, sf_dir):
    """decode='real' end-to-end IN-CONTAINER: executor-side synth pixels
    → encode_png → Arrow batch → decode_png → per-image stats. The
    oracle regenerates the pixels from the seeds WITHOUT the codec, so a
    lossy or buggy encode/decode roundtrip cannot hash-match."""
    from gdal_spark.multimodal import image_features, synth_png_media

    media = synth_png_media(spark, 48)
    feats = image_features(media, decode="real")
    hist_cols = [F.col("hist")[i].alias(f"h{i}") for i in range(8)]
    return feats.select("media_id", "mean_e6", "std_e6", *hist_cols).orderBy("media_id")


@_register("multimodal_bmp_real_decode")
def q_multimodal_bmp_real_decode(spark, sf_dir):
    """BMP codec end-to-end IN-CONTAINER (frmts/bmp/bmpdataset.cpp
    surface): executor-side synth pixels → encode_bmp → Arrow batch →
    decode_bmp → per-image stats; the codec-free seed oracle hash-matches
    because BMP is lossless."""
    from gdal_spark.multimodal import image_features, synth_bmp_media

    media = synth_bmp_media(spark, 48)
    feats = image_features(media, decode="real")
    hist_cols = [F.col("hist")[i].alias(f"h{i}") for i in range(8)]
    return feats.select("media_id", "mean_e6", "std_e6", *hist_cols).orderBy("media_id")


def _oracle_bmp_real_decode() -> str:
    rows = []
    for mid in range(48):
        rng = np.random.default_rng(mid + 1)
        w = 16 + (mid * 5) % 31
        h = 16 + (mid * 11) % 17
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        hist = np.bincount(img.ravel() >> 5, minlength=8)
        rows.append(
            f"({mid}, {int(np.floor(img.mean() * 1e6 + 0.5))}, "
            f"{int(np.floor(img.std() * 1e6 + 0.5))}, "
            + ", ".join(str(int(x)) for x in hist)
            + ")"
        )
    hcols = ", ".join(f"CAST(h{i} AS BIGINT) AS h{i}" for i in range(8))
    hnames = ", ".join(f"h{i}" for i in range(8))
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(mean_e6 AS BIGINT) AS mean_e6, "
        f"CAST(std_e6 AS BIGINT) AS std_e6, {hcols} FROM (VALUES "
        + ", ".join(rows)
        + f") t(media_id, mean_e6, std_e6, {hnames}) ORDER BY media_id"
    )


_lazy_oracle("multimodal_bmp_real_decode", _oracle_bmp_real_decode)


@_register("multimodal_jpeg_encode_roundtrip")
def q_multimodal_jpeg_encode_roundtrip(spark, sf_dir):
    """JPEG WRITE path end-to-end IN-CONTAINER: executor-side
    block-constant grayscale pixels → encode_jpeg (quality 100, all-1
    quantization: DC-only blocks quantize losslessly) → Arrow batch →
    decode_jpeg → per-image stats. The oracle regenerates the pixels
    from the seeds WITHOUT the codec, so any defect in the encoder's
    headers/Huffman/zigzag/FDCT or the decoder breaks the hash."""
    from gdal_spark.multimodal import image_features, synth_jpeg_media

    media = synth_jpeg_media(spark, 48)
    feats = image_features(media, decode="real")
    hist_cols = [F.col("hist")[i].alias(f"h{i}") for i in range(8)]
    return feats.select("media_id", "mean_e6", "std_e6", *hist_cols).orderBy("media_id")


def _oracle_jpeg_encode_roundtrip() -> str:
    rows = []
    for mid in range(48):
        rng = np.random.default_rng(mid + 1)
        bw = 2 + mid % 5
        bh = 2 + (mid * 3) % 4
        vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
        img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        hist = np.bincount(img.ravel() >> 5, minlength=8)
        rows.append(
            f"({mid}, {int(np.floor(img.mean() * 1e6 + 0.5))}, "
            f"{int(np.floor(img.std() * 1e6 + 0.5))}, "
            + ", ".join(str(int(x)) for x in hist)
            + ")"
        )
    hcols = ", ".join(f"CAST(h{i} AS BIGINT) AS h{i}" for i in range(8))
    hnames = ", ".join(f"h{i}" for i in range(8))
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(mean_e6 AS BIGINT) AS mean_e6, "
        f"CAST(std_e6 AS BIGINT) AS std_e6, {hcols} FROM (VALUES "
        + ", ".join(rows)
        + f") t(media_id, mean_e6, std_e6, {hnames}) ORDER BY media_id"
    )


_lazy_oracle("multimodal_jpeg_encode_roundtrip", _oracle_jpeg_encode_roundtrip)


def _oracle_png_real_decode() -> str:
    rows = []
    for mid in range(48):
        rng = np.random.default_rng(mid + 1)
        w = 32 + mid % 29
        h = 32 + (mid * 7) % 23
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        hist = np.bincount(img.ravel() >> 5, minlength=8)
        rows.append(
            f"({mid}, {int(np.floor(img.mean() * 1e6 + 0.5))}, "
            f"{int(np.floor(img.std() * 1e6 + 0.5))}, "
            + ", ".join(str(int(x)) for x in hist)
            + ")"
        )
    hcols = ", ".join(f"CAST(h{i} AS BIGINT) AS h{i}" for i in range(8))
    hnames = ", ".join(f"h{i}" for i in range(8))
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, CAST(mean_e6 AS BIGINT) AS mean_e6, "
        f"CAST(std_e6 AS BIGINT) AS std_e6, {hcols} FROM (VALUES "
        + ", ".join(rows)
        + f") t(media_id, mean_e6, std_e6, {hnames}) ORDER BY media_id"
    )


_lazy_oracle("multimodal_png_real_decode", _oracle_png_real_decode)


_GEOD_POLYS = [
    (1, [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]),
    (2, [(10.0, 45.0), (12.5, 45.0), (11.0, 47.0), (10.0, 45.0)]),
    (3, [(-60.0, -30.0), (-58.0, -30.0), (-58.0, -28.0), (-60.0, -28.0), (-60.0, -30.0)]),
]


def _cd_ring_sql(ring) -> str:
    """Chamberlain–Duquette spherical-excess area, emitted as explicit
    left-to-right SQL so DuckDB evaluates the identical formula the
    engine's NumPy kernel uses (independent trig/double evaluation)."""
    terms = []
    for (l0, p0), (l1, p1) in zip(ring[:-1], ring[1:]):
        terms.append(
            f"((radians({tiling.dlit(l1)}) - radians({tiling.dlit(l0)})) * "
            f"(2.0e0 + sin(radians({tiling.dlit(p0)})) + sin(radians({tiling.dlit(p1)}))))"
        )
    return f"(abs({' + '.join(terms)}) * {tiling.dlit(6371007.180918474)} * {tiling.dlit(6371007.180918474)} / 2.0e0)"


@_register(
    "st_geodesic_area_polys",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({pid}, CAST(FLOOR({_cd_ring_sql(ring)} + 0.5e0) AS BIGINT))"
        for pid, ring in _GEOD_POLYS
    )
    + ") t(pid, area_m2) ORDER BY pid",
)
def q_st_geodesic_area_polys(spark, sf_dir):
    """Geodesic (authalic-sphere) polygon area — the engine's analogue of
    ogrsqlitesqlfunctions.cpp ST_Area(geog); oracle = DuckDB evaluating
    the same Chamberlain–Duquette formula with its own trig."""
    from gdal_spark.functions.st import st_geodesic_area
    from gdal_spark.geometry import wkb as _wkb

    rows = [
        (pid, bytearray(_wkb.polygon_wkb(np.array(ring))))
        for pid, ring in _GEOD_POLYS
    ]
    df = spark.createDataFrame(rows, "pid INT, geometry BINARY")
    return df.select(
        "pid",
        F.floor(st_geodesic_area(F.col("geometry")) + F.lit(0.5)).cast("long").alias("area_m2"),
    ).orderBy("pid")


# -- 9. raster operator checksums -------------------------------------------

def _terrain_meta():
    from gdal_spark.raster.model import RasterMeta

    return RasterMeta(
        width=96, height=64, dtype="float32", block_w=32, block_h=32,
        gt=(1000.0, 10.0, 0.0, 5000.0, 0.0, -10.0),
    )


def _terrain_full_np():
    from gdal_spark.raster.model import synth_block_np

    meta = _terrain_meta()
    out = np.zeros((meta.height, meta.width), dtype=meta.dtype)
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            out[by * 32 : by * 32 + h, bx * 32 : bx * 32 + w] = synth_block_np(bx, by, h, w, meta)
    return out, meta


def _make_dem_gate(qname: str, op: str, kw: dict):
    """Checksum gate for one DEM operator vs the single-node NumPy oracle."""

    def q(spark, sf_dir):
        from gdal_spark.raster.checksum import checksum_df
        from gdal_spark.raster.dem import dem_op
        from gdal_spark.raster.model import RasterMeta, synth_raster

        meta = _terrain_meta()
        out = dem_op(synth_raster(spark, meta), meta, op, **kw)
        out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                              block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
        cs = checksum_df(out, out_meta)
        return spark.createDataFrame([(int(cs),)], "checksum BIGINT")

    def oracle() -> str:
        from gdal_spark.raster.checksum import checksum_np
        from gdal_spark.raster.dem import dem_op_np

        full, meta = _terrain_full_np()
        return f"SELECT CAST({checksum_np(dem_op_np(full, meta, op, **kw))} AS BIGINT) AS checksum"

    q.__doc__ = f"gdaldem hillshade variant {op!r} (apps/gdaldem_lib.cpp)"
    _register(qname)(q)
    _lazy_oracle(qname, oracle)


_make_dem_gate("dem_hillshade_checksum", "hillshade", {})


@_register(
    "streaming_windowed_counts",
    # epoch-day tumbling window == floor(epoch/86400); complete-mode
    # memory sink after availableNow drain: deterministic vs batch SQL
    "SELECT CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS day_bucket, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS val_e6 "
    "FROM events GROUP BY 1, 2 ORDER BY day_bucket, event_type",
)
def q_streaming_windowed_counts(spark, sf_dir):
    """Structured Streaming executed FOR REAL in the gate: file-source
    stream over events.parquet → watermark + 1-day tumbling window +
    per-type agg → complete-mode memory sink drained with availableNow.
    Same result contract as the batch SQL oracle (windows are
    epoch-aligned), so the streaming path gets a full value-hash check
    instead of the usual rows-only concession."""
    import time as _time

    import os as _os

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file streaming source requires a DIRECTORY; testdata is a flat
    # read-only dir of single files — stage a symlink dir (no copy)
    tmpdir = _gate_dir("stream_events_")
    link = _os.path.join(tmpdir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(_os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir)
    )
    # parquet TIMESTAMP is NTZ; watermarks need an instant — the
    # container runs UTC, so the cast is epoch-faithful vs DuckDB EPOCH()
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long"))
            .cast("long").alias("val_e6"),
        )
    )
    name = f"stream_sink_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"SELECT CAST(floor(unix_timestamp(w.start) / 86400) * 1 AS BIGINT) AS day_bucket, "
        f"event_type, n, val_e6 FROM {name} ORDER BY day_bucket, event_type"
    )


_STX6, _STY6 = tiling.lonlat_tile_sql(
    sql_oracle.lon_sql("event_id"), sql_oracle.lat_sql("event_id"), 6
)


@_register(
    "streaming_tile_counts",
    f"""
    SELECT CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS day_bucket,
           {_STX6} AS tile_x, {_STY6} AS tile_y, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2, 3 ORDER BY day_bucket, tile_x, tile_y
    """,
)
def q_streaming_tile_counts(spark, sf_dir):
    """The flagship's spatial shape on a LIVE stream: file-source stream
    → deterministic geotag (the same splitmix column math as the batch
    flagship) → web-mercator tile assignment (GetTileIndices math,
    column-only) → watermark + 1-day tumbling window per-tile counts →
    complete-mode memory sink drained via availableNow. Proves the tile
    operators compose with Structured Streaming unchanged; full
    value-hash oracle like the other streaming gates."""
    import time as _time

    import os as _os

    from gdal_spark.operators.spatial_join import assign_tiles

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmpdir = _gate_dir("stream_tiles_")
    link = _os.path.join(tmpdir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(_os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir)
    )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    tiled = assign_tiles(_with_lonlat(stream, "event_id"), zoom=6)
    agg = (
        tiled.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    name = f"stream_tiles_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(
        f"SELECT CAST(floor(unix_timestamp(w.start) / 86400) AS BIGINT) AS day_bucket, "
        f"tile_x, tile_y, n FROM {name} ORDER BY day_bucket, tile_x, tile_y"
    )


@_register(
    "streaming_dedup_count",
    "SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events",
)
def q_streaming_dedup_count(spark, sf_dir):
    """Streaming exact-dedup (watermarked dropDuplicates — the streaming
    face of dedup_exact): distinct-user count after the stream drains
    must equal the batch COUNT(DISTINCT)."""
    import os as _os
    import time as _time

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmpdir = _gate_dir("stream_dedup_")
    link = _os.path.join(tmpdir, "events.parquet")
    if not _os.path.exists(link):
        _os.symlink(_os.path.abspath(f"{sf_dir}/events.parquet"), link)
    stream = (
        spark.readStream.schema(batch.schema).parquet(tmpdir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["user_id"])
    name = f"stream_dedup_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        deduped.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM {name}")


@_register(
    "streaming_line_dedup_count",
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
    lines AS (
      SELECT array_to_string(ws[i*8+1:i*8+8], ' ') AS line
      FROM w, UNNEST(generate_series(0, CAST((len(ws) + 7) // 8 AS INT) - 1)) AS t(i))
    SELECT CAST(COUNT(DISTINCT trim(line)) AS BIGINT) AS n_lines
    FROM lines
    """,
)
def q_streaming_line_dedup_count(spark, sf_dir):
    """The streaming face of CCNet line dedup: documents stream in,
    lines explode out, watermarked dropDuplicates keeps the first
    occurrence of each line — the surviving-line count after the drain
    equals the batch COUNT(DISTINCT). State is bounded by the watermark
    horizon × distinct lines (at production scale the key would be the
    line's xxhash64, same first-wins semantics)."""
    import os as _os
    import time as _time

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmpdir = _gate_dir("stream_ld_")
    link = _os.path.join(tmpdir, "documents.parquet")
    if not _os.path.exists(link):
        _os.symlink(_os.path.abspath(f"{sf_dir}/documents.parquet"), link)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir)
    )
    lines = stream.select(
        F.current_timestamp().alias("ts"),
        F.explode(_chunk8_lines()).alias("line"),
    ).select("ts", F.trim(F.col("line")).alias("key"))
    deduped = lines.withWatermark("ts", "1 hour").dropDuplicates(["key"])
    name = f"stream_ld_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        deduped.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT CAST(COUNT(*) AS BIGINT) AS n_lines FROM {name}")


@_register(
    "streaming_quality_filter",
    f"""
    WITH tw AS (
      SELECT doc_id, CAST(MAX(c) AS INT) AS top_word_n FROM (
        SELECT doc_id, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS word
          FROM documents) AS words
        GROUP BY doc_id, word) AS freq
      GROUP BY doc_id),
    v AS (
      SELECT d.doc_id,
             {{QF_CASE}} AS reject_reason
      FROM documents d JOIN tw ON d.doc_id = tw.doc_id)
    SELECT COALESCE(reject_reason, 'kept') AS reason,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY 1 ORDER BY 1
    """.replace("{QF_CASE}", analysis.quality_filter_sql("d.text", "tw.top_word_n")),
)
def q_streaming_quality_filter(spark, sf_dir):
    """The Gopher quality filter on a LIVE stream: file-source stream
    over documents.parquet → the same map-only verdict columns as the
    batch gate (they compose with streaming unchanged — zero state) →
    per-reason counts in a complete-mode memory sink drained via
    availableNow. The 100 TB ingest story: filtering happens at scan
    speed as documents arrive, only per-reason counters are stateful."""
    import os as _os
    import time as _time

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmpdir = _gate_dir("stream_qf_")
    link = _os.path.join(tmpdir, "documents.parquet")
    if not _os.path.exists(link):
        _os.symlink(_os.path.abspath(f"{sf_dir}/documents.parquet"), link)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmpdir)
    )
    agg = (
        analysis.quality_filter(stream)
        .select(F.coalesce(F.col("reject_reason"), F.lit("kept")).alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    name = f"stream_qf_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT reason, n FROM {name} ORDER BY reason")


@_register(
    "raster_tile_index",
    """
    WITH cat AS (
      SELECT 'r' || id AS location,
             64 + (id % 5) * 32 AS w, 48 + (id % 7) * 16 AS h,
             CAST(id % 100 AS DOUBLE) AS gt0, 1.0e0 + (id % 3) AS gt1,
             (id % 2) * 0.5e0 AS gt2, CAST(id % 50 AS DOUBLE) AS gt3,
             (id % 2) * 0.25e0 AS gt4, -(1.0e0 + (id % 2)) AS gt5
      FROM range(200) t(id)),
    c AS (
      SELECT location,
             gt0 AS x00, gt3 AS y00,
             gt0 + w * gt1 AS x10, gt3 + w * gt4 AS y10,
             gt0 + w * gt1 + h * gt2 AS x11, gt3 + w * gt4 + h * gt5 AS y11,
             gt0 + h * gt2 AS x01, gt3 + h * gt5 AS y01,
             ABS(gt1 * gt5 - gt2 * gt4) * w * h AS area
      FROM cat)
    SELECT location,
           CAST(FLOOR(LEAST(x00, x10, x11, x01) * 1000 + 0.5e0) AS BIGINT) AS xmin_e3,
           CAST(FLOOR(LEAST(y00, y10, y11, y01) * 1000 + 0.5e0) AS BIGINT) AS ymin_e3,
           CAST(FLOOR(GREATEST(x00, x10, x11, x01) * 1000 + 0.5e0) AS BIGINT) AS xmax_e3,
           CAST(FLOOR(GREATEST(y00, y10, y11, y01) * 1000 + 0.5e0) AS BIGINT) AS ymax_e3,
           CAST(FLOOR(area * 1000 + 0.5e0) AS BIGINT) AS area_e3
    FROM c ORDER BY location
    """,
)
def q_raster_tile_index(spark, sf_dir):
    """gdaltindex (apps/gdaltindex_lib.cpp): extent polygon per raster in
    a catalog, corners traced through the GeoTransform incl. rotation
    terms. The oracle re-derives bbox + |det|·W·H analytically; the
    Spark side's area goes through the REAL geometry path (packed WKB
    ring → st_area shoelace) — dyadic gt values keep both exact.
    Map-only over the catalog (one row per raster file)."""
    from gdal_spark.functions.st import st_area
    from gdal_spark.raster.tindex import tile_index

    idc = F.col("id")
    cat = spark.range(200).select(
        F.concat(F.lit("r"), idc.cast("string")).alias("location"),
        (F.lit(64) + (idc % 5) * 32).cast("int").alias("width"),
        (F.lit(48) + (idc % 7) * 16).cast("int").alias("height"),
        (idc % 100).cast("double").alias("gt0"),
        (F.lit(1.0) + (idc % 3)).alias("gt1"),
        ((idc % 2) * F.lit(0.5)).alias("gt2"),
        (idc % 50).cast("double").alias("gt3"),
        ((idc % 2) * F.lit(0.25)).alias("gt4"),
        (-(F.lit(1.0) + (idc % 2))).alias("gt5"),
    )
    out = tile_index(cat)

    def e3(c):
        return F.floor(c * 1000 + F.lit(0.5)).cast("long")

    return out.select(
        "location",
        e3(F.col("xmin")).alias("xmin_e3"),
        e3(F.col("ymin")).alias("ymin_e3"),
        e3(F.col("xmax")).alias("xmax_e3"),
        e3(F.col("ymax")).alias("ymax_e3"),
        e3(st_area("geometry")).alias("area_e3"),
    ).orderBy("location")


@_register("ogr_layer_extent_index")
def q_ogr_layer_extent_index(spark, sf_dir):
    """ogrtindex (apps/ogrtindex.cpp): one feature per layer with the
    distributed GetExtent bbox. Extents reduce map-side over the
    vectorized WKB envelope gather; the oracle recomputes them from the
    RAW fixture ring coordinates (never touching the WKB codec)."""
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import poly_rings

    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.raster.tindex import vector_tile_index

    rings = poly_rings()
    rows = [
        (int(i), bytearray(_wkb.polygon_wkb(p[0], p[1:])))
        for i, p in enumerate(rings)
    ]
    df = spark.createDataFrame(rows, "fid LONG, geometry BINARY")
    layers = [("poly.shp,0", df), ("poly_head3,0", df.filter(F.col("fid") < 3))]
    out = vector_tile_index(layers)

    def e3(c):
        return F.floor(c * 1000 + F.lit(0.5)).cast("long")

    return out.select(
        "location", F.col("n_geoms").cast("long").alias("n_geoms"),
        e3(F.col("xmin")).alias("xmin_e3"), e3(F.col("ymin")).alias("ymin_e3"),
        e3(F.col("xmax")).alias("xmax_e3"), e3(F.col("ymax")).alias("ymax_e3"),
    ).orderBy("location")


def _oracle_layer_extent_index() -> str:
    import math
    import sys

    sys.path.insert(0, TESTS_DIR)
    from fixtures_poly import poly_rings

    rings = poly_rings()

    def ext(sel):
        xs = [pt[0] for p in sel for ring in p for pt in ring]
        ys = [pt[1] for p in sel for ring in p for pt in ring]
        return (min(xs), min(ys), max(xs), max(ys))

    rows = []
    for loc, sel in (("poly.shp,0", rings), ("poly_head3,0", rings[:3])):
        x0, y0, x1, y1 = ext(sel)
        vals = [int(math.floor(v * 1000 + 0.5)) for v in (x0, y0, x1, y1)]
        rows.append(f"('{loc}', {len(sel)}, " + ", ".join(map(str, vals)) + ")")
    return (
        "SELECT location, CAST(n_geoms AS BIGINT) AS n_geoms, "
        "CAST(xmin_e3 AS BIGINT) AS xmin_e3, CAST(ymin_e3 AS BIGINT) AS ymin_e3, "
        "CAST(xmax_e3 AS BIGINT) AS xmax_e3, CAST(ymax_e3 AS BIGINT) AS ymax_e3 "
        "FROM (VALUES " + ", ".join(rows)
        + ") t(location, n_geoms, xmin_e3, ymin_e3, xmax_e3, ymax_e3) "
        "ORDER BY location"
    )


_lazy_oracle("ogr_layer_extent_index", _oracle_layer_extent_index)


@_register("viewshed_checksum")
def q_viewshed_checksum(spark, sf_dir):
    """Viewshed (alg/viewshed/viewshed_executor.cpp, Wang 2000
    reference-plane recurrence; VERDICT item 64 closed further):
    distributed block wavefront vs the sequential NumPy oracle."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.viewshed import viewshed

    meta = _terrain_meta()
    out = viewshed(synth_raster(spark, meta), meta, nx=40, ny=25, observer_height=5.0)
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_viewshed() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.viewshed import viewshed_np

    full, meta = _terrain_full_np()
    img = viewshed_np(full, 40, 25, observer_height=5.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("viewshed_checksum", _oracle_viewshed)


@_register("viewshed_cumulative_checksum")
def q_viewshed_cumulative_checksum(spark, sf_dir):
    """Cumulative viewshed (alg/viewshed/cumulative.cpp): observers on
    the observerSpacing grid (x-outer/y-inner), per-observer Normal
    viewsheds with visibleVal=1, uint32 rollup sum, then scaleOutput's
    floor(255/max · v) 8-bit spread — embarrassingly parallel across
    observers, one block-key rollup shuffle, scalar-max agg."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.viewshed import viewshed_cumulative

    meta = _terrain_meta()
    out = viewshed_cumulative(
        synth_raster(spark, meta), meta, spacing=32, observer_height=5.0)
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_viewshed_cumulative() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.viewshed import viewshed_cumulative_np

    full, meta = _terrain_full_np()
    img = viewshed_cumulative_np(full, 32, observer_height=5.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("viewshed_cumulative_checksum", _oracle_viewshed_cumulative)


@_register("viewshed_maxdist_checksum")
def q_viewshed_maxdist_checksum(spark, sf_dir):
    """Bounded-radius viewshed (gdal_viewshed -md): wavefront rounds
    scale with radius, not raster size — the practical 100 TB mode."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.viewshed import viewshed

    meta = _terrain_meta()  # gt: 10 m pixels
    out = viewshed(synth_raster(spark, meta), meta, nx=40, ny=25,
                   observer_height=5.0, max_dist=250.0, out_of_range=-1.0)
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt)
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_viewshed_maxdist() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.viewshed import viewshed_np

    full, meta = _terrain_full_np()
    img = viewshed_np(full, 40, 25, observer_height=5.0, max_dist=250.0,
                      out_of_range=-1.0, resx=abs(meta.gt[1]), resy=abs(meta.gt[5]))
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("viewshed_maxdist_checksum", _oracle_viewshed_maxdist)


@_register("contour_polygons_bands")
def q_contour_polygons_bands(spark, sf_dir):
    """gdal_contour -p: level-band polygons (banding + distributed ring
    assembly); integerized band bounds + area per region."""
    from gdal_spark.functions.st import st_area, st_geomfromtext
    from gdal_spark.raster.analysis import contour_polygons
    from gdal_spark.raster.model import synth_raster

    meta = _terrain_meta()
    out = contour_polygons(synth_raster(spark, meta), meta, interval=40.0)
    return out.select(
        F.floor(F.col("elev_min") + F.lit(0.5)).cast("long").alias("emin"),
        F.floor(
            st_area(st_geomfromtext(F.col("wkt"))) * 100 + F.lit(0.5)
        ).cast("long").alias("area_e2"),
    ).orderBy("emin", "area_e2")


def _oracle_contour_polygons() -> str:
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.geometry import ops as _ops
    from gdal_spark.raster.analysis import contour_polygons_np

    full, meta = _terrain_full_np()
    rows = []
    for emin, _emax, wkt_s in contour_polygons_np(full, meta, 40.0):
        g = _wkt.parse_wkt(wkt_s)
        rows.append(
            (int(np.floor(emin + 0.5)),
             int(np.floor(_ops.area(g) * 100 + 0.5)))
        )
    rows.sort()
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    return (
        "SELECT CAST(emin AS BIGINT) AS emin, CAST(area_e2 AS BIGINT) AS area_e2 "
        f"FROM (VALUES {vals}) t(emin, area_e2) ORDER BY emin, area_e2"
    )


_lazy_oracle("contour_polygons_bands", _oracle_contour_polygons)


@_register("mosaic_checksum")
def q_mosaic_checksum(spark, sf_dir):
    """Mosaic/merge (gdal_merge / gdal raster mosaic): two overlapping
    synthetic rasters on different grids composited later-wins onto a
    third grid, src_nodata masked, one groupBy(block) composite."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.mosaic import mosaic

    ma = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12,
                    gt=(0.0, 1.0, 0.0, 24.0, 0.0, -1.0))
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=10, block_h=10,
                    gt=(20.0, 1.0, 0.0, 18.0, 0.0, -1.0))
    dmeta = RasterMeta(width=48, height=30, dtype="float64", block_w=16, block_h=15,
                       gt=(-2.0, 1.0, 0.0, 26.0, 0.0, -1.0))
    ta, tb = synth_raster(spark, ma), synth_raster(spark, mb)
    out = mosaic([(ta, ma), (tb, mb)], dmeta, init=-1.0)
    cs = checksum_df(out, dmeta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_mosaic() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta, synth_block_np
    from gdal_spark.raster.mosaic import mosaic_np

    def full_of(meta):
        out = np.zeros((meta.height, meta.width), dtype=meta.dtype)
        for by in range(meta.blocks_y):
            for bx in range(meta.blocks_x):
                h, w = meta.block_shape(bx, by)
                out[by * meta.block_h : by * meta.block_h + h,
                    bx * meta.block_w : bx * meta.block_w + w] = synth_block_np(bx, by, h, w, meta)
        return out

    ma = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12,
                    gt=(0.0, 1.0, 0.0, 24.0, 0.0, -1.0))
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=10, block_h=10,
                    gt=(20.0, 1.0, 0.0, 18.0, 0.0, -1.0))
    dmeta = RasterMeta(width=48, height=30, dtype="float64", block_w=16, block_h=15,
                       gt=(-2.0, 1.0, 0.0, 26.0, 0.0, -1.0))
    img = mosaic_np([(full_of(ma), ma), (full_of(mb), mb)], dmeta, init=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("mosaic_checksum", _oracle_mosaic)


def _gcp_fixture():
    from gdal_spark.raster.model import RasterMeta

    smeta = RasterMeta(width=48, height=40, dtype="float32", block_w=16, block_h=10)
    px = np.array([0, 47, 0, 47, 24, 10, 35], dtype=np.float64)
    ln = np.array([0, 0, 39, 39, 20, 30, 8], dtype=np.float64)
    gx = 1000.0 + 5.0 * px + 0.01 * px * ln
    gy = 2000.0 - 4.0 * ln + 0.02 * px * px
    gcps = list(zip(px, ln, gx, gy))
    dmeta = RasterMeta(width=50, height=42, dtype="float64", block_w=25, block_h=21,
                       gt=(1000.0, 5.0, 0.0, 2030.0, 0.0, -4.0))
    return smeta, dmeta, gcps


@_register("warp_gcp_checksum")
def q_warp_gcp_checksum(spark, sf_dir):
    """GCP polynomial warp (GDALCreateGCPTransformer, alg/gdal_crs.cpp:
    order-2 CRS_georef fit both directions) through the generic
    non-affine distributed warp."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.gcp import warp_gcp
    from gdal_spark.raster.model import synth_raster

    smeta, dmeta, gcps = _gcp_fixture()
    out = warp_gcp(synth_raster(spark, smeta), smeta, dmeta, gcps, order=2,
                   alg="bilinear", init=-1.0)
    cs = checksum_df(out, dmeta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_warp_gcp() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.gcp import warp_gcp_np
    from gdal_spark.raster.model import synth_block_np

    smeta, dmeta, gcps = _gcp_fixture()
    full = np.zeros((smeta.height, smeta.width), dtype=smeta.dtype)
    for by in range(smeta.blocks_y):
        for bx in range(smeta.blocks_x):
            h, w = smeta.block_shape(bx, by)
            full[by * smeta.block_h : by * smeta.block_h + h,
                 bx * smeta.block_w : bx * smeta.block_w + w] = synth_block_np(bx, by, h, w, smeta)
    img = warp_gcp_np(full, smeta, dmeta, gcps, order=2, alg="bilinear", init=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_gcp_checksum", _oracle_warp_gcp)


@_register("warp_tps_checksum")
def q_warp_tps_checksum(spark, sf_dir):
    """Thin-plate-spline warp (gdalwarp -tps; alg/thinplatespline.cpp
    d²·ln(d²) kernel, exact through every GCP)."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.gcp import warp_tps
    from gdal_spark.raster.model import synth_raster

    smeta, dmeta, gcps = _gcp_fixture()
    out = warp_tps(synth_raster(spark, smeta), smeta, dmeta, gcps,
                   alg="bilinear", init=-1.0)
    cs = checksum_df(out, dmeta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_warp_tps() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.gcp import warp_tps_np
    from gdal_spark.raster.model import synth_block_np

    smeta, dmeta, gcps = _gcp_fixture()
    full = np.zeros((smeta.height, smeta.width), dtype=smeta.dtype)
    for by in range(smeta.blocks_y):
        for bx in range(smeta.blocks_x):
            h, w = smeta.block_shape(bx, by)
            full[by * smeta.block_h : by * smeta.block_h + h,
                 bx * smeta.block_w : bx * smeta.block_w + w] = synth_block_np(bx, by, h, w, smeta)
    img = warp_tps_np(full, smeta, dmeta, gcps, alg="bilinear", init=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_tps_checksum", _oracle_warp_tps)


def _rgb_pct_fixture():
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, (6, 3))
    idx = rng.integers(0, 6, (40, 48))
    noise = rng.integers(-10, 11, (40, 48, 3))
    img = np.clip(base[idx] + noise, 0, 255).astype(np.uint8)
    return img[..., 0], img[..., 1], img[..., 2]


@_register("rgb_pct_quantize")
def q_rgb_pct_quantize(spark, sf_dir):
    """rgb→pct: median-cut palette (GDALComputeMedianCutPCT,
    alg/gdalmediancut.cpp — exact box-list/split/shrink discipline) +
    nearest-color mapping (the error-diffusion dither variant is the
    dither_checksum gate). Emits the palette rows plus the checksum of
    the mapped index raster."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.quantize import apply_pct, compute_median_cut_pct

    r, g, b = _rgb_pct_fixture()
    meta = RasterMeta(width=48, height=40, dtype="uint8", block_w=16, block_h=20)
    t = None
    for i, band in enumerate((r, g, b)):
        tt = tiles_from_array(spark, band, meta, band=i + 1)
        t = tt if t is None else t.unionByName(tt)
    t = t.persist()
    pal = compute_median_cut_pct(t, meta, n_colors=16)
    cs = int(checksum_df(apply_pct(t, meta, pal), meta))
    rows = [(i, int(p[0]), int(p[1]), int(p[2]), cs) for i, p in enumerate(pal)]
    return spark.createDataFrame(
        rows, "idx INT, r INT, g INT, b INT, mapped_checksum BIGINT"
    ).orderBy("idx")


def _oracle_rgb_pct() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.quantize import rgb_to_pct_np

    r, g, b = _rgb_pct_fixture()
    pal, mapped = rgb_to_pct_np(r, g, b, n_colors=16)
    cs = checksum_np(mapped)
    rows = ", ".join(
        f"({i}, {int(p[0])}, {int(p[1])}, {int(p[2])}, {cs})" for i, p in enumerate(pal)
    )
    return (
        "SELECT CAST(idx AS INT) AS idx, CAST(r AS INT) AS r, CAST(g AS INT) AS g, "
        "CAST(b AS INT) AS b, CAST(mapped_checksum AS BIGINT) AS mapped_checksum "
        f"FROM (VALUES {rows}) t(idx, r, g, b, mapped_checksum) ORDER BY idx"
    )


_lazy_oracle("rgb_pct_quantize", _oracle_rgb_pct)


@_register("dither_checksum")
def q_dither_checksum(spark, sf_dir):
    """rgb2pct.py full pipeline: median-cut palette
    (GDALComputeMedianCutPCT) + Floyd–Steinberg error-diffusion dither
    (GDALDitherRGB2PCT, alg/gdaldither.cpp — GDAL's sixth-based split,
    nBits=5 colormap, trunc-toward-zero C int division), distributed as
    the skewed anti-diagonal block wavefront (raster/dither.py)."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.dither import dither_rgb2pct
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.quantize import compute_median_cut_pct

    r, g, b = _rgb_pct_fixture()
    meta = RasterMeta(width=48, height=40, dtype="uint8", block_w=16, block_h=20)
    t = None
    for i, band in enumerate((r, g, b)):
        tt = tiles_from_array(spark, band, meta, band=i + 1)
        t = tt if t is None else t.unionByName(tt)
    t = t.persist()
    pal = compute_median_cut_pct(t, meta, n_colors=16)
    cs = int(checksum_df(dither_rgb2pct(t, meta, pal, block_u=24), meta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


def _oracle_dither() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.dither import dither_rgb2pct_np
    from gdal_spark.raster.quantize import rgb_to_pct_np

    r, g, b = _rgb_pct_fixture()
    pal, _ = rgb_to_pct_np(r, g, b, n_colors=16)
    img = dither_rgb2pct_np(r, g, b, np.asarray(pal, dtype=np.int64))
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("dither_checksum", _oracle_dither)


@_register("warp_cutline_checksum")
def q_warp_cutline_checksum(spark, sf_dir):
    """gdalwarp -cutline (apps/gdalwarp_lib.cpp; GDALWarpCutlineMasker
    rasterizes the cutline in source pixel space with the
    GDALdllImageFilledPolygon scanline): concave cutline with a hole,
    crossing block boundaries; outside pixels → init."""
    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.warp import warp_affine

    src_meta = _terrain_meta()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    cut = _cutline_fixture_wkb(polygon_wkb)
    out = warp_affine(synth_raster(spark, src_meta), src_meta, dst_meta,
                      alg="bilinear", init=-1.0, cutline=cut)
    cs = int(checksum_df(out, dst_meta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


def _cutline_fixture_wkb(polygon_wkb):
    # arrow-shaped concave polygon with a hole, in the terrain fixture's
    # georeferenced coords, spanning several 32x25 blocks
    return polygon_wkb(
        [(1050.0, 4950.0), (1850.0, 4920.0), (1800.0, 4450.0),
         (1450.0, 4700.0), (1100.0, 4350.0), (1050.0, 4950.0)],
        holes=[[(1250.0, 4850.0), (1420.0, 4840.0), (1400.0, 4730.0),
                (1250.0, 4750.0), (1250.0, 4850.0)]],
    )


def _oracle_warp_cutline() -> str:
    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.warp import warp_affine_np

    full, src_meta = _terrain_full_np()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    img = warp_affine_np(full, src_meta, dst_meta, alg="bilinear", init=-1.0,
                         cutline=_cutline_fixture_wkb(polygon_wkb))
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_cutline_checksum", _oracle_warp_cutline)


@_register("warp_cutline_blend_checksum")
def q_warp_cutline_blend_checksum(spark, sf_dir):
    """CUTLINE_BLEND_DIST (apps/gdalwarp_lib.cpp warp option →
    alg/gdalcutline.cpp BlendMaskGenerator): the binary cutline mask
    feathered over ±blend source px of the boundary; fractional densities
    mix sampled values with init per GWKSetPixelValueRealT
    (alg/gdalwarpkernel.cpp:1545-1569). Concave cutline + hole crossing
    block boundaries; blend ramps span blocks (full-boundary distances
    keep the result partition-invariant)."""
    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.warp import warp_affine

    src_meta = _terrain_meta()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    cut = _cutline_fixture_wkb(polygon_wkb)
    out = warp_affine(synth_raster(spark, src_meta), src_meta, dst_meta,
                      alg="bilinear", init=-1.0, cutline=cut,
                      cutline_blend_dist=4.0)
    cs = int(checksum_df(out, dst_meta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


def _oracle_warp_cutline_blend() -> str:
    from gdal_spark.geometry.wkb import polygon_wkb
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.warp import warp_affine_np

    full, src_meta = _terrain_full_np()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    img = warp_affine_np(full, src_meta, dst_meta, alg="bilinear", init=-1.0,
                         cutline=_cutline_fixture_wkb(polygon_wkb),
                         cutline_blend_dist=4.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_cutline_blend_checksum", _oracle_warp_cutline_blend)


def _rasterize_z_fixture():
    """Sloped 3-D features spanning blocks: a tilted triangle + quad (fill
    burns first-vertex Z), a 3-D polyline (Z interpolates per pixel), and
    two 3-D points; MERGE_ALG=ADD exercises accumulation."""
    from gdal_spark.geometry.wkb import linestring_wkb_z, point_wkb_z, polygon_wkb_z

    tri = polygon_wkb_z([(2.0, 2.0, 10.0), (28.0, 4.0, 40.0), (8.0, 20.0, 25.0)])
    quad = polygon_wkb_z(
        [(12.0, 10.0, 5.5), (30.0, 10.0, 5.5), (30.0, 22.0, 5.5), (12.0, 22.0, 5.5)]
    )
    line = linestring_wkb_z([(1.0, 23.0, 100.0), (17.0, 1.0, 16.0), (31.0, 18.0, 58.0)])
    pts = [point_wkb_z(5.0, 5.0, 7.25), point_wkb_z(25.5, 15.5, -3.0)]
    return [tri, quad, line] + pts, [1.0, 2.0, 3.0, 4.0, 5.0]


@_register("rasterize_burn_z")
def q_rasterize_burn_z(spark, sf_dir):
    """gdal_rasterize -3d / BURN_VALUE_FROM=Z (alg/gdalrasterize.cpp:780):
    fills burn burn+Z of the geometry's first vertex (the reference does
    NOT interpolate fills — dfVariant[0], llrasterize.cpp:180), lines
    interpolate Z along the Bresenham walk, points use their own Z."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize

    geoms, vals = _rasterize_z_fixture()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    feats = spark.createDataFrame(
        [(i, bytearray(g), float(v)) for i, (g, v) in enumerate(zip(geoms, vals))],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    out = rasterize(feats, meta, fid_col="fid", merge_alg="ADD",
                    burn_value_from_z=True)
    # checksum floors float pixels; scale to keep fractional Zs significant
    cs = int(checksum_df(out, meta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


def _oracle_rasterize_z() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize_z_np

    geoms, vals = _rasterize_z_fixture()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = rasterize_z_np(geoms, vals, meta, merge_add=True)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("rasterize_burn_z", _oracle_rasterize_z)


def _byte_tiles(tiles, meta):
    """GDALCopyWord double→byte (gcore/gdal_priv_templates.hpp:252):
    trunc(clamp(v + 0.5, 0, 255)) applied per tile, distributed."""
    import pandas as _pd

    def conv(iterator):
        for pdf in iterator:
            rows = []
            for r in pdf.itertuples():
                a = np.frombuffer(r.data, dtype="float64").reshape(int(r.h), int(r.w))
                b = np.floor(np.clip(a + 0.5, 0.0, 255.0)).astype(np.uint8)
                rows.append((int(r.band), int(r.block_y), int(r.block_x),
                             int(r.h), int(r.w), b.tobytes()))
            yield _pd.DataFrame(
                rows, columns=["band", "block_y", "block_x", "h", "w", "data"])

    from gdal_spark.raster.model import TILES_SCHEMA
    return tiles.mapInPandas(conv, TILES_SCHEMA)


@_register("rasterize_all_touched_golden")
def q_rasterize_all_touched_golden(spark, sf_dir):
    """Reference golden: ALL_TOUCHED over the cutline.csv polygons on a
    12×12 byte raster, burn 220 → checksum 121
    (autotest/alg/rasterize.py:85-127 test_rasterize_2), through the
    EXACT GDALdllImageLineAllTouched boundary walk + fill."""
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize

    polys = [
        "POLYGON((6.25 1.25,7.25 1.25,7.25 2.25,6.25 2.25,6.25 1.25))",
        "POLYGON((4.25 4.25,6.25 4.25,6.25 6.25,4.25 6.25,4.25 4.25))",
        "POLYGON((1.001 1.001,3.999 3.999,3.2 1.6,1.001 1.001))",
    ]
    meta = RasterMeta(width=12, height=12, dtype="float64", block_w=8, block_h=8,
                      gt=(0.0, 1.0, 0.0, 12.0, 0.0, -1.0))
    feats = spark.createDataFrame(
        [(i, bytearray(_wkt.wkt_to_wkb(p)), 220.0) for i, p in enumerate(polys)],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    out = rasterize(feats, meta, fid_col="fid", all_touched=True)
    bmeta = RasterMeta(width=12, height=12, dtype="uint8", block_w=8, block_h=8,
                       gt=meta.gt)
    cs = int(checksum_df(_byte_tiles(out, meta), bmeta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


_ORACLES["rasterize_all_touched_golden"] = "SELECT CAST(121 AS BIGINT) AS checksum"


@_register("rasterize_burn_z_golden")
def q_rasterize_burn_z_golden(spark, sf_dir):
    """Reference golden: BURN_VALUE_FROM=Z over 3 Z polygons (one with a
    hole) + 2 Z linestrings on a 100×100 byte raster, burn 10 →
    checksum 15037 (autotest/alg/rasterize.py:135-182 test_rasterize_3)."""
    from gdal_spark.geometry.wkb import linestring_wkb_z, polygon_wkb_z
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize

    geoms = [
        polygon_wkb_z([(1020, 1030, 40), (1020, 1045, 30), (1050, 1045, 20),
                       (1050, 1030, 35), (1020, 1030, 40)]),
        polygon_wkb_z([(1010, 1046, 85), (1015, 1055, 35), (1055, 1060, 26),
                       (1054, 1048, 35), (1010, 1046, 85)]),
        polygon_wkb_z(
            [(1020, 1076, 190), (1025, 1085, 35), (1065, 1090, 26),
             (1064, 1078, 35), (1020, 1076, 190)],
            holes=[[(1023, 1079, 5), (1061, 1081, 35), (1062, 1087, 26),
                    (1028, 1082, 35), (1023, 1079, 85)]],
        ),
        linestring_wkb_z([(1005, 1000, 10), (1100, 1050, 120)]),
        linestring_wkb_z([(1000, 1000, 150), (1095, 1050, -5), (1080, 1080, 200)]),
    ]
    meta = RasterMeta(width=100, height=100, dtype="float64", block_w=50, block_h=50,
                      gt=(1000.0, 1.0, 0.0, 1100.0, 0.0, -1.0))
    feats = spark.createDataFrame(
        [(i, bytearray(g), 10.0) for i, g in enumerate(geoms)],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    out = rasterize(feats, meta, fid_col="fid", burn_value_from_z=True)
    bmeta = RasterMeta(width=100, height=100, dtype="uint8", block_w=50, block_h=50,
                       gt=meta.gt)
    cs = int(checksum_df(_byte_tiles(out, meta), bmeta))
    return spark.createDataFrame([(cs,)], "checksum BIGINT")


_ORACLES["rasterize_burn_z_golden"] = "SELECT CAST(15037 AS BIGINT) AS checksum"


# star polygon whose plain-DP simplification at tol=1 SELF-INTERSECTS; the
# preserve variant must re-add a vertex and stay valid (GEOS
# TopologyPreservingSimplifier contract, ogr_geometry.h:586)
_SPT_RING = [
    (-7.1492, 5.8171), (-8.2229, 1.7415), (-1.1017, -2.3678),
    (-2.7895, -7.2134), (0.0849, -1.7781), (2.1162, -4.3447),
    (2.0495, -4.0855), (1.4648, -2.4092), (-7.1492, 5.8171),
]


@_register("st_simplify_preserve")
def q_st_simplify_preserve(spark, sf_dir):
    """ST_SimplifyPreserveTopology vs plain ST_Simplify
    (OGRGeometry::SimplifyPreserveTopology, ogr_geometry.h:586): on the
    star fixture plain DP produces a self-intersecting (invalid) ring;
    the preserve variant stays valid with one vertex restored."""
    from gdal_spark.functions.st import (
        st_area, st_isvalid, st_npoints, st_simplify,
        st_simplify_preserve_topology,
    )
    from gdal_spark.geometry.wkb import polygon_wkb

    df = spark.createDataFrame(
        [(1, bytearray(polygon_wkb(_SPT_RING)))], "id INT, geometry BINARY"
    )
    out = df.select(
        st_simplify("geometry", F.lit(1.0)).alias("dp"),
        st_simplify_preserve_topology("geometry", F.lit(1.0)).alias("pres"),
    )
    return out.select(
        st_npoints("dp").alias("dp_pts"),
        st_isvalid("dp").alias("dp_valid"),
        st_npoints("pres").alias("pres_pts"),
        st_isvalid("pres").alias("pres_valid"),
        F.floor(st_area("pres") * 10_000 + F.lit(0.5)).cast("long").alias("pres_area_e4"),
    )


def _oracle_st_simplify_preserve() -> str:
    from gdal_spark.geometry import kernels, ops

    ring = np.asarray(_SPT_RING, dtype=float)
    g = ("Polygon", [ring])
    s = ops.simplify_geom(g, 1.0)
    p = ops.simplify_preserve_topology_geom(g, 1.0)
    area = abs(kernels.ring_area(p[1][0]))
    return (
        f"SELECT CAST({len(s[1][0])} AS INT) AS dp_pts, "
        f"CAST({str(ops.is_valid(s)).lower()} AS BOOLEAN) AS dp_valid, "
        f"CAST({len(p[1][0])} AS INT) AS pres_pts, "
        f"CAST({str(ops.is_valid(p)).lower()} AS BOOLEAN) AS pres_valid, "
        f"CAST({int(np.floor(area * 10_000 + 0.5))} AS BIGINT) AS pres_area_e4"
    )


_lazy_oracle("st_simplify_preserve", _oracle_st_simplify_preserve)


@_register(
    "st_distance3d",
    # 3-4-5 in (dx,dz) (the reference's own test value, ogr_geom.py:4010);
    # point->vertical segment closest at t=0.5; skew seg-seg gap 1; 2-D
    # inputs -> -1 (ogrgeometry.cpp:3704-3707 contract)
    "SELECT * FROM (VALUES "
    "(1, CAST(5000000 AS BIGINT)), (2, CAST(2000000 AS BIGINT)), "
    "(3, CAST(1000000 AS BIGINT)), (4, CAST(-1000000 AS BIGINT))"
    ") t(id, d_e6) ORDER BY id",
)
def q_st_distance3d(spark, sf_dir):
    """OGR_G_Distance3D (ogr_geometry.h:594; SFCGAL-backed in the
    reference): exact point/line 3-D distances, −1 for 2-D inputs."""
    from gdal_spark.functions.st import st_distance3d
    from gdal_spark.geometry.wkb import linestring_wkb_z, point_wkb, point_wkb_z

    rows = [
        (1, point_wkb_z(1, 1, 1), point_wkb_z(4, 1, 5)),
        (2, point_wkb_z(0, 2, 1), linestring_wkb_z([(0, 0, 0), (0, 0, 2)])),
        (3, linestring_wkb_z([(0, 0, 0), (2, 0, 0)]),
         linestring_wkb_z([(1, 1, 1), (1, -1, 1)])),
        (4, point_wkb(0, 0), point_wkb(3, 4)),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(a), bytearray(b)) for i, a, b in rows],
        "id INT, a BINARY, b BINARY",
    )
    return df.select(
        "id",
        F.floor(st_distance3d("a", "b") * 1_000_000 + F.lit(0.5)).cast("long").alias("d_e6"),
    ).orderBy("id")


def _pansharpen_fixture():
    from gdal_spark.raster.model import RasterMeta

    smeta = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12,
                       gt=(0.0, 2.0, 0.0, 48.0, 0.0, -2.0))
    pmeta = RasterMeta(width=64, height=48, dtype="uint16", block_w=16, block_h=12,
                       gt=(0.0, 1.0, 0.0, 48.0, 0.0, -1.0))
    rng = np.random.default_rng(77)
    spec = rng.uniform(10.0, 200.0, (3, 24, 32)).astype(np.float32)
    spec[0, :4, :4] = -1.0  # nodata patch → nodata in all output bands
    pan = rng.uniform(20.0, 250.0, (48, 64)).astype(np.uint16)
    return spec, smeta, pan, pmeta


@_register("pansharpen_checksum")
def q_pansharpen_checksum(spark, sf_dir):
    """Weighted-Brovey pansharpen (GDALPansharpenOperation,
    alg/gdalpansharpen.cpp:516-660): cubic spectral upsample + per-pixel
    fusion, nodata propagation, saturation clamp; per-band checksums."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.pansharpen import pansharpen

    spec, smeta, pan, pmeta = _pansharpen_fixture()
    parts = [tiles_from_array(spark, spec[b], smeta, band=b + 1) for b in range(3)]
    st = parts[0]
    for p in parts[1:]:
        st = st.unionByName(p)
    pt = tiles_from_array(spark, pan, pmeta)
    out = pansharpen(st, smeta, pt, pmeta, nodata=-1.0, max_value=255.0,
                     out_nodata=-1.0).persist()
    outmeta = RasterMeta(width=64, height=48, dtype="float64", block_w=16,
                         block_h=12, gt=pmeta.gt)
    rows = [(b, int(checksum_df(out, outmeta, band=b))) for b in (1, 2, 3)]
    return spark.createDataFrame(rows, "band INT, checksum BIGINT")


def _oracle_pansharpen() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.pansharpen import pansharpen_np

    spec, smeta, pan, pmeta = _pansharpen_fixture()
    want = pansharpen_np(spec.astype(np.float64), smeta, pan, pmeta,
                         nodata=-1.0, max_value=255.0, out_nodata=-1.0)
    rows = ", ".join(f"({b + 1}, {checksum_np(want[b])})" for b in range(3))
    return (
        "SELECT CAST(band AS INT) AS band, CAST(checksum AS BIGINT) AS checksum "
        f"FROM (VALUES {rows}) t(band, checksum) ORDER BY band"
    )


_lazy_oracle("pansharpen_checksum", _oracle_pansharpen)


_make_dem_gate("dem_hillshade_combined_checksum", "hillshade_combined", {"z": 2.0})
_make_dem_gate("dem_hillshade_multidirectional_checksum", "hillshade_multidirectional", {"z": 2.0})
_make_dem_gate("dem_hillshade_igor_checksum", "hillshade_igor", {"z": 2.0})
_make_dem_gate("dem_slope_zt_checksum", "slope", {"grad": "zt"})
_make_dem_gate("dem_hillshade_zt_checksum", "hillshade", {"z": 2.0, "grad": "zt"})


def _raster_fixture_polys():
    return [
        "POLYGON ((1.2 1.7,14.8 2.3,10.1 11.4,2.5 9.9,1.2 1.7))",
        "POLYGON ((8 5,27 4,29 20,12 22,8 5))",
        "POLYGON ((20 2,30 2,30 8,20 8,20 2))",
    ]


@_register("rasterize_checksum")
def q_rasterize_checksum(spark, sf_dir):
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize

    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    feats = spark.createDataFrame(
        [
            (i, bytearray(_wkt.wkt_to_wkb(p)), float(i + 1))
            for i, p in enumerate(_raster_fixture_polys())
        ],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    cs = checksum_df(rasterize(feats, meta, fid_col="fid", merge_alg="ADD"), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_rasterize() -> str:
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize_np

    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    rings = [[np.asarray(_wkt.parse_wkt(p)[1][0])] for p in _raster_fixture_polys()]
    img = rasterize_np(rings, [1.0, 2.0, 3.0], meta, merge_add=True)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("rasterize_checksum", _oracle_rasterize)


@_register("rasterize_lib1_golden")
def q_rasterize_lib1_golden(spark, sf_dir):
    """Reference golden: polygon+line burn 220 → checksum 6452
    (autotest/utilities/test_gdal_rasterize_lib.py:99)."""
    from gdal_spark.geometry import wkt as _wkt
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.rasterize import rasterize

    meta = RasterMeta(width=100, height=100, dtype="float64", block_w=25, block_h=25,
                      gt=(1000.0, 1.0, 0.0, 1100.0, 0.0, -1.0))
    feats = spark.createDataFrame(
        [
            (0, bytearray(_wkt.wkt_to_wkb(
                "POLYGON ((1020 1030,1020 1045,1050 1045,1050 1030,1020 1030))")), 220.0),
            (1, bytearray(_wkt.wkt_to_wkb("LINESTRING (1000 1000,1100 1050)")), 220.0),
        ],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    cs = checksum_df(rasterize(feats, meta, fid_col="fid"), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


_ORACLES["rasterize_lib1_golden"] = "SELECT CAST(6452 AS BIGINT) AS checksum"


@_register("warp_near2x_golden")
def q_warp_near2x_golden(spark, sf_dir):
    """Reference golden: 2x nearest upsample of byte.tif == 18784
    (autotest/utilities/test_gdalwarp_lib.py:217), distributed path."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, byte_fixture, tiles_from_array
    from gdal_spark.raster.warp import warp_affine

    arr, meta = byte_fixture()
    meta_blocked = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8,
                              gt=meta.gt)
    dst = RasterMeta(width=40, height=40, dtype="float64", block_w=40, block_h=40,
                     gt=(440720.0, 30.0, 0.0, 3751320.0, 0.0, -30.0))
    out = warp_affine(tiles_from_array(spark, arr, meta_blocked), meta_blocked, dst, alg="near")
    cs = checksum_df(out, dst)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


_ORACLES["warp_near2x_golden"] = "SELECT CAST(18784 AS BIGINT) AS checksum"


@_register("warp_affine_checksum")
def q_warp_affine_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, synth_raster
    from gdal_spark.raster.warp import warp_affine

    src_meta = _terrain_meta()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    out = warp_affine(synth_raster(spark, src_meta), src_meta, dst_meta, alg="bilinear", init=-1.0)
    cs = checksum_df(out, dst_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_warp() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.warp import warp_affine_np

    full, src_meta = _terrain_full_np()
    dst_meta = RasterMeta(width=80, height=50, dtype="float64", block_w=32, block_h=25,
                          gt=(980.0, 12.0, 0.0, 5020.0, 0.0, -12.5))
    img = warp_affine_np(full, src_meta, dst_meta, alg="bilinear", init=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_affine_checksum", _oracle_warp)


def _warp_reduce_q(alg):
    def q(spark, sf_dir):
        from gdal_spark.raster.checksum import checksum_df
        from gdal_spark.raster.model import RasterMeta, synth_raster
        from gdal_spark.raster.warp import warp_affine

        src_meta = _terrain_meta()
        dst_meta = RasterMeta(width=30, height=20, dtype="float64", block_w=10,
                              block_h=10, gt=(995.0, 32.0, 0.0, 5005.0, 0.0, -32.0))
        out = warp_affine(synth_raster(spark, src_meta), src_meta, dst_meta,
                          alg=alg, init=-1.0)
        cs = checksum_df(out, dst_meta)
        return spark.createDataFrame([(int(cs),)], "checksum BIGINT")

    return q


def _warp_reduce_oracle(alg):
    def o():
        from gdal_spark.raster.checksum import checksum_np
        from gdal_spark.raster.model import RasterMeta
        from gdal_spark.raster.warp import warp_affine_np

        full, src_meta = _terrain_full_np()
        dst_meta = RasterMeta(width=30, height=20, dtype="float64", block_w=10,
                              block_h=10, gt=(995.0, 32.0, 0.0, 5005.0, 0.0, -32.0))
        img = warp_affine_np(full, src_meta, dst_meta, alg=alg, init=-1.0)
        return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"

    return o


for _alg in ("average", "mode", "sum", "rms"):
    _QUERIES[f"warp_{_alg}_checksum"] = _warp_reduce_q(_alg)
    _lazy_oracle(f"warp_{_alg}_checksum", _warp_reduce_oracle(_alg))


@_register("warp_utm_to_4326_checksum")
def q_warp_utm_to_4326(spark, sf_dir):
    """gdalwarp -s_srs EPSG:32611 -t_srs EPSG:4326 over the byte.tif
    fixture grid (Krüger-series transform; series independence proven vs
    Redfearn in tests/test_crs.py)."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, byte_fixture, tiles_from_array
    from gdal_spark.raster.warp import suggested_warp_output, warp_crs

    arr, meta = byte_fixture()
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8, gt=meta.gt)
    dst = suggested_warp_output(mb, "EPSG:32611", "EPSG:4326", block_w=10, block_h=10)
    out = warp_crs(tiles_from_array(spark, arr, mb), mb, dst,
                   "EPSG:32611", "EPSG:4326", alg="near")
    cs = checksum_df(out, dst)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_warp_utm() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta, byte_fixture
    from gdal_spark.raster.warp import suggested_warp_output, warp_crs_np

    arr, meta = byte_fixture()
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8, gt=meta.gt)
    dst = suggested_warp_output(mb, "EPSG:32611", "EPSG:4326", block_w=10, block_h=10)
    img = warp_crs_np(arr, mb, dst, "EPSG:32611", "EPSG:4326", alg="near")
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_utm_to_4326_checksum", _oracle_warp_utm)


@_register("warp_26711_to_4326_checksum")
def q_warp_26711_to_4326(spark, sf_dir):
    """gdalwarp -s_srs EPSG:26711 -t_srs EPSG:4326 over the byte.tif
    fixture grid — byte.tif's REAL SRS is NAD27 / UTM 11N
    (autotest/gcore/tiff_read.py:847), so this exercises the r3
    Clarke-1866 + geocentric-Helmert datum step (geometry/crs.py),
    not just the projection math."""
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, byte_fixture, tiles_from_array
    from gdal_spark.raster.warp import suggested_warp_output, warp_crs

    arr, meta = byte_fixture()
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8, gt=meta.gt)
    dst = suggested_warp_output(mb, "EPSG:26711", "EPSG:4326", block_w=10, block_h=10)
    out = warp_crs(tiles_from_array(spark, arr, mb), mb, dst,
                   "EPSG:26711", "EPSG:4326", alg="near")
    cs = checksum_df(out, dst)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_warp_26711() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.model import RasterMeta, byte_fixture
    from gdal_spark.raster.warp import suggested_warp_output, warp_crs_np

    arr, meta = byte_fixture()
    mb = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8, gt=meta.gt)
    dst = suggested_warp_output(mb, "EPSG:26711", "EPSG:4326", block_w=10, block_h=10)
    img = warp_crs_np(arr, mb, dst, "EPSG:26711", "EPSG:4326", alg="near")
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("warp_26711_to_4326_checksum", _oracle_warp_26711)


@_register("reproject_points_utm")
def q_reproject_points_utm(spark, sf_dir):
    """Vector reprojection 4326 → UTM 33N over customer-derived points
    inside the zone; outputs decimeter-integers for exact comparison."""
    from gdal_spark.functions.st import st_makepoint
    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.operators.vector_pipeline import VectorPipeline

    cust = _with_lonlat(_t(spark, sf_dir, "customer"), "c_custkey").filter(
        (F.col("lon") >= 12.0) & (F.col("lon") <= 18.0)
        & (F.col("lat") >= -79.0) & (F.col("lat") <= 83.0)
        & (F.col("c_custkey") < 2000)
    )
    pts = cust.select("c_custkey", st_makepoint(F.col("lon"), F.col("lat")).alias("geometry"))
    out = VectorPipeline(pts).reproject("EPSG:4326", "EPSG:32633").df

    @F.pandas_udf("x DOUBLE, y DOUBLE")
    def _xy(g):
        import pandas as _pd

        xs, ys = [], []
        for b in g:
            gg = _wkb.parse_wkb(bytes(b))
            xs.append(gg[1][0])
            ys.append(gg[1][1])
        return _pd.DataFrame({"x": xs, "y": ys})

    return out.select("c_custkey", _xy(F.col("geometry")).alias("p")).select(
        "c_custkey",
        F.floor(F.col("p.x") * 10 + F.lit(0.5)).cast("long").alias("x_dm"),
        F.floor(F.col("p.y") * 10 + F.lit(0.5)).cast("long").alias("y_dm"),
    ).orderBy("c_custkey")


def _oracle_reproject_points() -> str:
    """VALUES oracle: the same lon/lat derivation in NumPy + the Krüger
    forward — validates the Spark/Arrow plumbing end to end (the series
    itself is cross-checked against Redfearn in tests/test_crs.py)."""
    import duckdb

    from gdal_spark.geometry import crs as _crs
    from gdal_spark.text.ref_impl import oracle_sf_dir, values_sql

    con = duckdb.connect()
    keys = [
        int(r[0])
        for r in con.execute(
            f"SELECT c_custkey FROM read_parquet('{oracle_sf_dir()}/customer.parquet') "
            "WHERE c_custkey < 2000 ORDER BY c_custkey"
        ).fetchall()
    ]
    con.close()
    k = np.array(keys, dtype=np.int64)
    lon = sql_oracle.lon_np(k)
    lat = sql_oracle.lat_np(k)
    m = (lon >= 12.0) & (lon <= 18.0) & (lat >= -79.0) & (lat <= 83.0)
    x, y = _crs._utm_tmerc(32633).forward(lon[m], lat[m])
    rows = [
        (int(kk), int(np.floor(xx * 10 + 0.5)), int(np.floor(yy * 10 + 0.5)))
        for kk, xx, yy in zip(k[m], x, y)
    ]
    return values_sql(
        rows, ["c_custkey", "x_dm", "y_dm"], ["BIGINT", "BIGINT", "BIGINT"], "c_custkey"
    )


_lazy_oracle("reproject_points_utm", _oracle_reproject_points)


def _grid_fixture_points():
    rng = np.random.default_rng(55)
    n = 150
    return (
        rng.uniform(0.0, 32.0, n),
        rng.uniform(0.0, 24.0, n),
        rng.uniform(0.0, 100.0, n),
    )


@_register("grid_invdist_checksum")
def q_grid_invdist_checksum(spark, sf_dir):
    import pandas as _pd

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.grid import grid_points
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(_pd.DataFrame({"x": px, "y": py, "z": pz}))
    out = grid_points(pts, meta, alg="invdist", radius=5.0, power=2.0, smoothing=0.5, min_points=1)
    cs = checksum_df(out, meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_grid() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.grid import grid_points_np
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = grid_points_np(px, py, pz, meta, alg="invdist", radius=5.0, power=2.0,
                         smoothing=0.5, min_points=1)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("grid_invdist_checksum", _oracle_grid)


@_register("grid_linear_checksum")
def q_grid_linear_checksum(spark, sf_dir):
    """GGA_Linear (Delaunay TIN + barycentric; alg/gdalgrid.cpp
    GDALGridLinear) — TILED distributed TIN (r3): per-block local
    triangulation over cell-joined neighborhoods with empty-circumcircle
    certification; no driver-side collect of the cloud."""
    import pandas as _pd

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.grid import grid_linear
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=8, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(_pd.DataFrame({"x": px, "y": py, "z": pz}))
    cs = checksum_df(
        grid_linear(pts, meta, radius=5.0, nodata=-1.0, mode="tiled", margin_rings=1),
        meta,
    )
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_grid_linear() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.grid import grid_linear_np
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=8, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = grid_linear_np(px, py, pz, meta, radius=5.0, nodata=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("grid_linear_checksum", _oracle_grid_linear)


@_register("grid_avgdist_checksum")
def q_grid_avgdist_checksum(spark, sf_dir):
    import pandas as _pd

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.grid import grid_points
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(_pd.DataFrame({"x": px, "y": py, "z": pz}))
    cs = checksum_df(grid_points(pts, meta, alg="avgdist", radius=5.0, min_points=1), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_grid_avgdist() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.grid import grid_points_np
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = grid_points_np(px, py, pz, meta, alg="avgdist", radius=5.0, min_points=1)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("grid_avgdist_checksum", _oracle_grid_avgdist)


@_register("grid_invdistnn_quadrant_checksum")
def q_grid_invdistnn_quadrant_checksum(spark, sf_dir):
    """GDALGridInverseDistanceToAPowerNearestNeighborPerQuadrant
    (alg/gdalgrid.cpp:350-481): round-robin nearest-first per-quadrant
    pick with nMin/MaxPointsPerQuadrant bounds, distributed over the
    block-gather shuffle."""
    import pandas as _pd

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.grid import grid_points
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(_pd.DataFrame({"x": px, "y": py, "z": pz}))
    out = grid_points(pts, meta, alg="invdistnn", radius=6.0, power=2.0,
                      smoothing=0.2, min_points=1, max_points=12,
                      min_ppq=1, max_ppq=4, nodata=-1.0)
    cs = checksum_df(out, meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_grid_invdistnn_quadrant() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.grid import grid_points_np
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = grid_points_np(px, py, pz, meta, alg="invdistnn", radius=6.0, power=2.0,
                         smoothing=0.2, min_points=1, max_points=12,
                         min_ppq=1, max_ppq=4, nodata=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("grid_invdistnn_quadrant_checksum", _oracle_grid_invdistnn_quadrant)


@_register("grid_average_quadrant_checksum")
def q_grid_average_quadrant_checksum(spark, sf_dir):
    """GDALGridMovingAveragePerQuadrant (alg/gdalgrid.cpp:735-851):
    per-quadrant capped moving average (nMaxPoints honored, plain-r²
    sort key)."""
    import pandas as _pd

    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.grid import grid_points
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(_pd.DataFrame({"x": px, "y": py, "z": pz}))
    out = grid_points(pts, meta, alg="average", radius=5.0, min_points=1,
                      max_points=10, min_ppq=1, max_ppq=3, nodata=-1.0)
    cs = checksum_df(out, meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_grid_average_quadrant() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.grid import grid_points_np
    from gdal_spark.raster.model import RasterMeta

    px, py, pz = _grid_fixture_points()
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    img = grid_points_np(px, py, pz, meta, alg="average", radius=5.0, min_points=1,
                         max_points=10, min_ppq=1, max_ppq=3, nodata=-1.0)
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("grid_average_quadrant_checksum", _oracle_grid_average_quadrant)


def _polygonize_fixture():
    arr = np.zeros((12, 16), dtype=np.uint8)
    arr[2:10, 2:7] = 1
    arr[3:9, 9:15] = 2
    arr[0:2, 14:16] = 1
    return arr


@_register("polygonize_regions")
def q_polygonize_regions(spark, sf_dir):
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.polygonize import polygonize_regions

    meta = RasterMeta(width=16, height=12, dtype="uint8", block_w=8, block_h=6)
    tiles = tiles_from_array(spark, _polygonize_fixture(), meta)
    out = polygonize_regions(tiles, meta)
    return out.select(
        F.floor("value").cast("long").alias("value"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
        F.col("min_x").cast("long").alias("min_x"),
        F.col("min_y").cast("long").alias("min_y"),
        F.col("max_x").cast("long").alias("max_x"),
        F.col("max_y").cast("long").alias("max_y"),
    ).orderBy("value", "n_pixels")


def _oracle_polygonize() -> str:
    from gdal_spark.raster.polygonize import polygonize_np

    rows = ", ".join(
        f"({int(v)}, {n}, {x0}, {y0}, {x1}, {y1})"
        for v, n, x0, y0, x1, y1 in polygonize_np(_polygonize_fixture())
    )
    return (
        "SELECT CAST(value AS BIGINT) AS value, CAST(n_pixels AS BIGINT) AS n_pixels, "
        "CAST(min_x AS BIGINT) AS min_x, CAST(min_y AS BIGINT) AS min_y, "
        "CAST(max_x AS BIGINT) AS max_x, CAST(max_y AS BIGINT) AS max_y "
        f"FROM (VALUES {rows}) t(value, n_pixels, min_x, min_y, max_x, max_y) "
        "ORDER BY value, n_pixels"
    )


_lazy_oracle("polygonize_regions", _oracle_polygonize)


_PGRD_GT = (440720.0, 60.0, 0.0, 3751440.0, 0.0, -60.0)


def _polygonize_grd():
    return np.array(
        [
            [107, 123, 132, 115, 132], [115, 132, 132, 123, 123],
            [115, 132, 140, 132, 123], [148, 132, 123, 123, 123],
            [156, 156, 156, 140, 132], [156, 100, 156, 101, 102],
            [156, 156, 156, 103, 103],
        ],
        dtype=np.uint8,
    )


@_register("polygonize_wkt_golden")
def q_polygonize_wkt_golden(spark, sf_dir):
    """Full ring assembly on the reference's polygonize_in.grd fixture
    (autotest/alg/polygonize.py test 1: 13 masked features; the DN=156
    polygon-with-hole WKT is the reference golden), multi-tile blocks."""
    from gdal_spark.raster.model import RasterMeta, tiles_from_array
    from gdal_spark.raster.polygonize import polygonize_polygons

    meta = RasterMeta(width=5, height=7, dtype="uint8", block_w=2, block_h=3,
                      gt=_PGRD_GT)
    out = polygonize_polygons(
        tiles_from_array(spark, _polygonize_grd(), meta), meta, exclude_values=(132,)
    )
    return out.select(
        F.floor("value").cast("long").alias("value"), "wkt"
    ).orderBy("value", "wkt")


def _oracle_polygonize_wkt() -> str:
    from gdal_spark.raster.polygonize import polygonize_polygons_np

    feats = polygonize_polygons_np(_polygonize_grd(), _PGRD_GT, exclude_values=(132,))
    rows = ", ".join(f"({int(v)}, '{w}')" for v, w in feats)
    return (
        "SELECT CAST(value AS BIGINT) AS value, wkt FROM "
        f"(VALUES {rows}) t(value, wkt) ORDER BY value, wkt"
    )


_lazy_oracle("polygonize_wkt_golden", _oracle_polygonize_wkt)


# -- 10. raster analysis ops -------------------------------------------------

@_register("contour_segments")
def q_contour_segments(spark, sf_dir):
    from gdal_spark.raster.analysis import contour_segments
    from gdal_spark.raster.model import RasterMeta, synth_raster

    meta = RasterMeta(width=30, height=20, dtype="float32", block_w=10, block_h=10)
    out = contour_segments(synth_raster(spark, meta), meta, [250.0, 500.0])
    return out.select(
        F.floor(F.col("level")).cast("long").alias("level"),
        F.floor(F.col("x0") * 1_000_000 + F.lit(0.5)).cast("long").alias("x0_e6"),
        F.floor(F.col("y0") * 1_000_000 + F.lit(0.5)).cast("long").alias("y0_e6"),
        F.floor(F.col("x1") * 1_000_000 + F.lit(0.5)).cast("long").alias("x1_e6"),
        F.floor(F.col("y1") * 1_000_000 + F.lit(0.5)).cast("long").alias("y1_e6"),
    ).orderBy("level", "x0_e6", "y0_e6", "x1_e6", "y1_e6")


def _oracle_contour() -> str:
    from gdal_spark.raster.analysis import contour_segments_np
    from gdal_spark.raster.model import RasterMeta, synth_block_np

    meta = RasterMeta(width=30, height=20, dtype="float32", block_w=10, block_h=10)
    full = np.zeros((20, 30), dtype="float32")
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            full[by * 10 : by * 10 + h, bx * 10 : bx * 10 + w] = synth_block_np(bx, by, h, w, meta)
    segs = contour_segments_np(full, [250.0, 500.0])
    rows = ", ".join(
        f"({int(l)}, {int(np.floor(a * 1e6 + 0.5))}, {int(np.floor(b * 1e6 + 0.5))}, "
        f"{int(np.floor(c * 1e6 + 0.5))}, {int(np.floor(d * 1e6 + 0.5))})"
        for l, a, b, c, d in segs
    )
    return (
        "SELECT CAST(level AS BIGINT) AS level, CAST(x0_e6 AS BIGINT) AS x0_e6, "
        "CAST(y0_e6 AS BIGINT) AS y0_e6, CAST(x1_e6 AS BIGINT) AS x1_e6, "
        "CAST(y1_e6 AS BIGINT) AS y1_e6 "
        f"FROM (VALUES {rows}) t(level, x0_e6, y0_e6, x1_e6, y1_e6) "
        "ORDER BY level, x0_e6, y0_e6, x1_e6, y1_e6"
    )


_lazy_oracle("contour_segments", _oracle_contour)


def _prox_fixture():
    arr = np.zeros((18, 24), dtype=np.uint8)
    arr[3, 4] = 7
    arr[15, 20] = 7
    arr[9, 12] = 3
    return arr


@_register("proximity_checksum")
def q_proximity_checksum(spark, sf_dir):
    from gdal_spark.raster.analysis import proximity
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    meta = RasterMeta(width=24, height=18, dtype="uint8", block_w=8, block_h=6)
    tiles = tiles_from_array(spark, _prox_fixture(), meta)
    out_meta = RasterMeta(width=24, height=18, dtype="float64", block_w=8, block_h=6)
    cs = checksum_df(proximity(tiles, meta, [7, 3], max_dist=10.0), out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_proximity() -> str:
    from gdal_spark.raster.analysis import proximity_np
    from gdal_spark.raster.checksum import checksum_np

    return f"SELECT CAST({checksum_np(proximity_np(_prox_fixture(), [7, 3], 10.0))} AS BIGINT) AS checksum"


_lazy_oracle("proximity_checksum", _oracle_proximity)


def _fill_fixture():
    rng = np.random.default_rng(13)
    arr = rng.uniform(10, 20, (16, 24))
    arr[5:8, 6:10] = -999.0
    arr[0:2, 0:3] = -999.0
    return arr


@_register("fillnodata_checksum")
def q_fillnodata_checksum(spark, sf_dir):
    from gdal_spark.raster.analysis import fillnodata
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    meta = RasterMeta(width=24, height=16, dtype="float64", block_w=8, block_h=8)
    tiles = tiles_from_array(spark, _fill_fixture(), meta)
    cs = checksum_df(fillnodata(tiles, meta, -999.0, max_distance=5), meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_fill() -> str:
    from gdal_spark.raster.analysis import fillnodata_np
    from gdal_spark.raster.checksum import checksum_np

    return f"SELECT CAST({checksum_np(fillnodata_np(_fill_fixture(), -999.0, 5))} AS BIGINT) AS checksum"


_lazy_oracle("fillnodata_checksum", _oracle_fill)


@_register("fillnodata_smooth_checksum")
def q_fillnodata_smooth_checksum(spark, sf_dir):
    """gdal_fillnodata -si (GDALMultiFilter, alg/rasterfill.cpp:126-383):
    3 post-fill 3×3 average passes over the interpolated pixels only,
    float32 rolling-buffer semantics, fixed masks — distributed as
    (max_distance + iterations)-deep halo blocks."""
    from gdal_spark.raster.analysis import fillnodata
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    meta = RasterMeta(width=24, height=16, dtype="float64", block_w=8, block_h=8)
    tiles = tiles_from_array(spark, _fill_fixture(), meta)
    cs = checksum_df(
        fillnodata(tiles, meta, -999.0, max_distance=5, smoothing_iterations=3),
        meta,
    )
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_fill_smooth() -> str:
    from gdal_spark.raster.analysis import fillnodata_smooth_np
    from gdal_spark.raster.checksum import checksum_np

    cs = checksum_np(fillnodata_smooth_np(_fill_fixture(), -999.0, 5, 3))
    return f"SELECT CAST({cs} AS BIGINT) AS checksum"


_lazy_oracle("fillnodata_smooth_checksum", _oracle_fill_smooth)


@_register("translate_checksum")
def q_translate_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.model import synth_raster
    from gdal_spark.raster.translate import translate

    meta = _terrain_meta()
    tiles = synth_raster(spark, meta)
    out, out_meta = translate(
        tiles, meta, src_win=(8, 4, 64, 48), out_size=(32, 24),
        out_dtype="uint8", scale=(0.0, 1000.0, 0.0, 255.0),
    )
    cs = checksum_df(out, out_meta)
    return spark.createDataFrame([(int(cs),)], "checksum BIGINT")


def _oracle_translate() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.translate import translate_np

    full, meta = _terrain_full_np()
    img = translate_np(full, meta, src_win=(8, 4, 64, 48), out_size=(32, 24),
                       out_dtype="uint8", scale=(0.0, 1000.0, 0.0, 255.0))
    return f"SELECT CAST({checksum_np(img)} AS BIGINT) AS checksum"


_lazy_oracle("translate_checksum", _oracle_translate)


_RAMP = [(0.0, 0, 0, 255), (500.0, 0, 255, 0), (1000.0, 255, 0, 0)]


@_register("color_relief_checksum")
def q_color_relief_checksum(spark, sf_dir):
    from gdal_spark.raster.checksum import checksum_df
    from gdal_spark.raster.dem import color_relief
    from gdal_spark.raster.model import RasterMeta, synth_raster

    meta = _terrain_meta()
    out = color_relief(synth_raster(spark, meta), meta, _RAMP)
    out_meta = RasterMeta(width=meta.width, height=meta.height, dtype="uint8",
                          block_w=meta.block_w, block_h=meta.block_h)
    total = sum(checksum_df(out, out_meta, band=b) for b in (1, 2, 3))
    return spark.createDataFrame([(int(total),)], "checksum BIGINT")


def _oracle_color_relief() -> str:
    from gdal_spark.raster.checksum import checksum_np
    from gdal_spark.raster.dem import color_relief_np

    full, _ = _terrain_full_np()
    rgb = color_relief_np(full, _RAMP)
    total = sum(checksum_np(rgb[:, :, b]) for b in range(3))
    return f"SELECT CAST({total} AS BIGINT) AS checksum"


_lazy_oracle("color_relief_checksum", _oracle_color_relief)


@_register("zonal_stats")
def q_zonal_stats(spark, sf_dir):
    from gdal_spark.raster.model import RasterMeta, synth_raster, tiles_from_array
    from gdal_spark.raster.zonal import zonal_stats

    meta = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12)
    zmeta = RasterMeta(width=32, height=24, dtype="uint8", block_w=16, block_h=12)
    zones_arr = (np.indices((24, 32)).sum(axis=0) // 10 % 4).astype(np.uint8)
    out = zonal_stats(
        synth_raster(spark, meta, seed=3), tiles_from_array(spark, zones_arr, zmeta), meta, zmeta
    )
    return out.select(
        F.floor("zone").cast("long").alias("zone"),
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("min") * 1000 + F.lit(0.5)).cast("long").alias("min_e3"),
        F.floor(F.col("max") * 1000 + F.lit(0.5)).cast("long").alias("max_e3"),
        F.floor(F.col("mean") * 1000 + F.lit(0.5)).cast("long").alias("mean_e3"),
    ).orderBy("zone")


def _oracle_zonal() -> str:
    from gdal_spark.raster.model import RasterMeta, synth_block_np
    from gdal_spark.raster.zonal import zonal_stats_np

    meta = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12)
    full = np.zeros((24, 32), dtype="float32")
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            full[by * 12 : by * 12 + h, bx * 16 : bx * 16 + w] = synth_block_np(bx, by, h, w, meta, seed=3)
    zones_arr = (np.indices((24, 32)).sum(axis=0) // 10 % 4).astype(np.uint8)
    rows = []
    for z, (n, mn, mx, mean, _) in sorted(zonal_stats_np(full, zones_arr).items()):
        rows.append(
            f"({int(z)}, {n}, {int(np.floor(mn * 1000 + 0.5))}, "
            f"{int(np.floor(mx * 1000 + 0.5))}, {int(np.floor(mean * 1000 + 0.5))})"
        )
    return (
        "SELECT CAST(zone AS BIGINT) AS zone, CAST(n AS BIGINT) AS n, "
        "CAST(min_e3 AS BIGINT) AS min_e3, CAST(max_e3 AS BIGINT) AS max_e3, "
        "CAST(mean_e3 AS BIGINT) AS mean_e3 "
        f"FROM (VALUES {', '.join(rows)}) t(zone, n, min_e3, max_e3, mean_e3) ORDER BY zone"
    )


_lazy_oracle("zonal_stats", _oracle_zonal)


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLES)
    for name, builder in _LAZY_ORACLES.items():
        out[name] = builder()
    return out
