"""OGR SQL dialect → Spark DataFrame compiler.

The reference's default ``ExecuteSQL`` dialect (grammar
ogr/swq_parser.y, 1,212 lines; IR ogr/ogr_swq.h:438-509) with its
non-standard semantics preserved (SURVEY.md §2.2-2.6):

- **no GROUP BY**: any aggregate in the select list makes the whole
  query a single summary record (SWQM_SUMMARY_RECORD, ogr/ogr_swq.h:322)
- **DISTINCT**: single column, result ordered by first occurrence
  (SWQM_DISTINCT_LIST, ogr_swq.h:324,383); needs a FID column
- **COUNT(DISTINCT x)** is the only DISTINCT aggregate
  (swq_parser.y:1007-1038)
- **JOIN / LEFT JOIN … ON a.x = b.y**: first-match lookup join — one
  secondary row per primary row, min secondary FID
  (ogr_gensql.cpp:1493-1523); rows never multiplied or dropped
- scalar surface (swq_op_registrar.cpp:28-61): arithmetic, comparisons
  with 3-valued NULL logic, IN/BETWEEN/LIKE/ILIKE/IS NULL, AND/OR/NOT,
  CONCAT, SUBSTR (1-based), HSTORE_GET_VALUE, CAST
- ORDER BY multi-key ASC/DESC, LIMIT/OFFSET, UNION ALL chains
- special fields: FID, OGR_GEOM_AREA, OGR_GEOMETRY (uppercase type
  name), OGR_STYLE, OGR_GEOM_WKT (ogr/ogr_p.h:164-171)

``execute_sql(spark, sql, tables, fid_cols)``: ``tables`` maps layer
name → DataFrame; ``fid_cols`` maps layer name → its FID column
(insertion-order key) for DISTINCT ordering and join determinism.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>\d+\.\d*(?:[eE][-+]?\d+)?|\.\d+|\d+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<id>[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)?)
      | (?P<op><>|<=|>=|!=|=|<|>|\(|\)|,|\*|/|\+|-|%)
    )""",
    re.VERBOSE,
)

_AGGS = {"count", "sum", "avg", "min", "max", "stddev_pop", "stddev_samp"}


def _tokenize(sql: str):
    toks = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise ValueError(f"OGR SQL: cannot tokenize at {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup == "num":
            toks.append(("num", m.group("num")))
        elif m.lastgroup == "str":
            toks.append(("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.lastgroup == "id":
            toks.append(("id", m.group("id")))
        else:
            toks.append(("op", m.group("op")))
    toks.append(("end", ""))
    return toks


class _Parser:
    def __init__(self, sql: str):
        self.toks = _tokenize(sql)
        self.i = 0

    def peek(self, kw=None):
        t, v = self.toks[self.i]
        if kw is not None:
            return t == "id" and v.upper() == kw
        return (t, v)

    def take(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_kw(self, kw):
        t, v = self.take()
        if t != "id" or v.upper() != kw:
            raise ValueError(f"OGR SQL: expected {kw}, got {v!r}")

    def accept_kw(self, kw) -> bool:
        if self.peek(kw):
            self.i += 1
            return True
        return False

    def accept_op(self, op) -> bool:
        t, v = self.toks[self.i]
        if t == "op" and v == op:
            self.i += 1
            return True
        return False

    # ---- expression grammar (precedence: OR < AND < NOT < cmp < add < mul)

    def expr(self):
        node = self.and_expr()
        while self.accept_kw("OR"):
            node = ("or", node, self.and_expr())
        return node

    def and_expr(self):
        node = self.not_expr()
        while self.accept_kw("AND"):
            node = ("and", node, self.not_expr())
        return node

    def not_expr(self):
        if self.accept_kw("NOT"):
            return ("not", self.not_expr())
        return self.cmp_expr()

    def cmp_expr(self):
        node = self.add_expr()
        t, v = self.toks[self.i]
        if t == "op" and v in ("=", "<>", "!=", "<", ">", "<=", ">="):
            self.i += 1
            return ("cmp", v, node, self.add_expr())
        if t == "id":
            kw = v.upper()
            neg = False
            j = self.i
            if kw == "NOT":
                neg = True
                self.i += 1
                t2, v2 = self.toks[self.i]
                kw = v2.upper() if t2 == "id" else ""
            if kw == "IN":
                self.i += 1
                if not self.accept_op("("):
                    raise ValueError("IN needs (")
                items = [self.add_expr()]
                while self.accept_op(","):
                    items.append(self.add_expr())
                if not self.accept_op(")"):
                    raise ValueError("IN needs )")
                node = ("in", node, items)
                return ("not", node) if neg else node
            if kw == "BETWEEN":
                self.i += 1
                lo = self.add_expr()
                self.expect_kw("AND")
                hi = self.add_expr()
                node = ("between", node, lo, hi)
                return ("not", node) if neg else node
            if kw in ("LIKE", "ILIKE"):
                self.i += 1
                pat = self.add_expr()
                esc = None
                if self.accept_kw("ESCAPE"):
                    esc = self.add_expr()
                node = (kw.lower(), node, pat, esc)
                return ("not", node) if neg else node
            if kw == "IS":
                self.i += 1
                isnot = self.accept_kw("NOT")
                self.expect_kw("NULL")
                node = ("isnull", node)
                return ("not", node) if isnot else node
            if neg:
                self.i = j
        return node

    def add_expr(self):
        node = self.mul_expr()
        while True:
            t, v = self.toks[self.i]
            if t == "op" and v in ("+", "-"):
                self.i += 1
                node = ("arith", v, node, self.mul_expr())
            else:
                return node

    def mul_expr(self):
        node = self.unary_expr()
        while True:
            t, v = self.toks[self.i]
            if t == "op" and v in ("*", "/", "%"):
                self.i += 1
                node = ("arith", v, node, self.unary_expr())
            else:
                return node

    def unary_expr(self):
        if self.accept_op("-"):
            return ("neg", self.unary_expr())
        return self.primary()

    def primary(self):
        t, v = self.take()
        if t == "num":
            return ("lit", float(v) if ("." in v or "e" in v or "E" in v) else int(v))
        if t == "str":
            return ("lit", v)
        if t == "op" and v == "(":
            node = self.expr()
            if not self.accept_op(")"):
                raise ValueError("unbalanced (")
            return node
        if t == "id":
            up = v.upper()
            if up == "NULL":
                return ("lit", None)
            if up == "CAST":
                if not self.accept_op("("):
                    raise ValueError("CAST needs (")
                inner = self.expr()
                self.expect_kw("AS")
                tt, tv = self.take()
                typ = tv.upper()
                # character(n) / numeric(p,s)
                if self.accept_op("("):
                    while not self.accept_op(")"):
                        self.take()
                if not self.accept_op(")"):
                    raise ValueError("CAST needs )")
                return ("cast", inner, typ)
            if self.peek() == ("op", "("):
                self.i += 1
                fname = up
                distinct = False
                if fname == "COUNT" and self.accept_op("*"):
                    if not self.accept_op(")"):
                        raise ValueError("COUNT(*) needs )")
                    return ("agg", "count", ("star",), False)
                if self.accept_kw("DISTINCT"):
                    distinct = True
                args = []
                if not self.accept_op(")"):
                    args.append(self.expr())
                    while self.accept_op(","):
                        args.append(self.expr())
                    if not self.accept_op(")"):
                        raise ValueError("function needs )")
                if fname.lower() in _AGGS:
                    if distinct and fname != "COUNT":
                        # swq_parser.y:1007-1014: DISTINCT only inside COUNT
                        raise ValueError("DISTINCT only valid in COUNT()")
                    return ("agg", fname.lower(), args[0] if args else ("star",), distinct)
                return ("func", fname, args)
            return ("col", v)
        raise ValueError(f"OGR SQL: unexpected token {v!r}")


def _compile_expr(node, resolve) -> Column:
    kind = node[0]
    if kind == "lit":
        return F.lit(node[1])
    if kind == "col":
        return resolve(node[1])
    if kind == "neg":
        return -_compile_expr(node[1], resolve)
    if kind == "arith":
        a = _compile_expr(node[2], resolve)
        b = _compile_expr(node[3], resolve)
        return {"+": a + b, "-": a - b, "*": a * b, "/": a / b, "%": a % b}[node[1]]
    if kind == "cmp":
        a = _compile_expr(node[2], resolve)
        b = _compile_expr(node[3], resolve)
        op = node[1]
        if op == "=":
            return a == b
        if op in ("<>", "!="):
            return a != b
        return {"<": a < b, ">": a > b, "<=": a <= b, ">=": a >= b}[op]
    if kind == "and":
        return _compile_expr(node[1], resolve) & _compile_expr(node[2], resolve)
    if kind == "or":
        return _compile_expr(node[1], resolve) | _compile_expr(node[2], resolve)
    if kind == "not":
        return ~_compile_expr(node[1], resolve)
    if kind == "in":
        a = _compile_expr(node[1], resolve)
        return a.isin(*[_compile_expr(x, resolve) for x in node[2]])
    if kind == "between":
        a = _compile_expr(node[1], resolve)
        return a.between(_compile_expr(node[2], resolve), _compile_expr(node[3], resolve))
    if kind == "like":
        a = _compile_expr(node[1], resolve)
        pat = node[2][1]
        if node[3] is None:
            return a.like(pat)
        # 3-arg form handles ESCAPE without string-splicing into F.expr
        # (robust to quotes in the pattern, no private _jc API).
        return F.like(a, F.lit(pat), F.lit(node[3][1]))
    if kind == "ilike":
        a = _compile_expr(node[1], resolve)
        return a.ilike(node[2][1])
    if kind == "isnull":
        return _compile_expr(node[1], resolve).isNull()
    if kind == "cast":
        inner = _compile_expr(node[1], resolve)
        if node[2] == "GEOMETRY":
            # swq_op_general.cpp:1837-1900 — WKT string → geometry,
            # geometry → clone; travels as WKB binary here
            from gdal_spark.functions.st import st_castgeometry

            return st_castgeometry(inner)
        typ = {
            "BOOLEAN": "boolean", "CHARACTER": "string", "INTEGER": "int",
            "SMALLINT": "smallint", "BIGINT": "bigint", "FLOAT": "double",
            "NUMERIC": "double", "TIMESTAMP": "timestamp", "DATE": "date",
            "TIME": "string",
        }[node[2]]
        return inner.cast(typ)
    if kind == "func":
        fname, args = node[1], node[2]
        cargs = [_compile_expr(a, resolve) for a in args]
        if fname == "CONCAT":
            return F.concat(*cargs)
        if fname == "SUBSTR":
            # 1-based, negative start supported — Spark substring matches
            return F.substring(cargs[0], args[1][1], args[2][1] if len(args) > 2 else 2147483647)
        if fname == "HSTORE_GET_VALUE":
            # 'a=>b,c=>d' lookup (swq_op_general.cpp:286)
            m = F.str_to_map(F.regexp_replace(cargs[0], r'"|\s', ""), F.lit(","), F.lit("=>"))
            return F.element_at(m, cargs[1])
        raise ValueError(f"OGR SQL: unknown function {fname}")
    raise ValueError(f"cannot compile {node}")


def _has_agg(node) -> bool:
    if not isinstance(node, tuple):
        return False
    if node[0] == "agg":
        return True
    return any(_has_agg(c) for c in node[1:] if isinstance(c, (tuple, list)))


def execute_sql(
    spark: SparkSession,
    sql: str,
    tables: dict[str, DataFrame],
    fid_cols: dict[str, str] | None = None,
    spatial_filter: tuple | None = None,
) -> DataFrame:
    """Run one OGR-SQL statement (incl. UNION ALL chains) over the given
    layers with reference semantics.

    ``spatial_filter=(minx, miny, maxx, maxy)`` replicates
    ``ExecuteSQL(..., poSpatialFilter)``: the primary layer is restricted
    to features whose ``geometry`` intersects the rect, with OGR's
    filter-refine staging (envelope reject → exact intersects,
    ogrlayer.cpp:2253-2325), before the statement runs.
    """
    if spatial_filter is not None:
        from gdal_spark.operators.vector_pipeline import VectorPipeline

        tables = dict(tables)
        m = re.search(r"\bFROM\s+([A-Za-z_][A-Za-z_0-9]*)", sql, re.IGNORECASE)
        main = m.group(1)
        tables[main] = VectorPipeline(tables[main]).spat(*spatial_filter).df
    parts = re.split(r"\bUNION\s+ALL\b", sql, flags=re.IGNORECASE)
    out = _execute_single(spark, parts[0], tables, fid_cols or {})
    for p in parts[1:]:
        out = out.unionByName(
            _execute_single(spark, p, tables, fid_cols or {}), allowMissingColumns=True
        )
    return out


def _execute_single(spark, sql, tables, fid_cols) -> DataFrame:
    p = _Parser(sql)
    p.expect_kw("SELECT")
    distinct = p.accept_kw("DISTINCT")
    # select list
    sel = []
    while True:
        if p.accept_op("*"):
            # SELECT * EXCEPT (a, b) — swq_parser.y:866 (SWQT_EXCEPT)
            if p.accept_kw("EXCEPT"):
                if not p.accept_op("("):
                    raise ValueError("EXCEPT needs (")
                excl = [p.take()[1]]
                while p.accept_op(","):
                    excl.append(p.take()[1])
                if not p.accept_op(")"):
                    raise ValueError("EXCEPT needs )")
                sel.append((("star_except", excl), None))
            else:
                sel.append((("star",), None))
        else:
            e = p.expr()
            alias = None
            if p.accept_kw("AS"):
                alias = p.take()[1]
            elif p.peek()[0] == "id" and p.peek()[1].upper() not in (
                "FROM", "WHERE", "ORDER", "LIMIT", "OFFSET", "JOIN", "LEFT", "ON", "UNION",
            ):
                alias = p.take()[1]
            sel.append((e, alias))
        if not p.accept_op(","):
            break
    p.expect_kw("FROM")
    main_name = p.take()[1]
    df = tables[main_name]

    # joins (first-match lookup semantics)
    from gdal_spark.operators.ogr_compat import first_match_join

    join_prefixes: list[str] = []
    while True:
        left = p.accept_kw("LEFT")
        if not p.accept_kw("JOIN"):
            if left:
                raise ValueError("LEFT without JOIN")
            break
        sec_name = p.take()[1]
        p.expect_kw("ON")
        cond = p.expr()
        # cond must be t1.a = t2.b (ogr_gensql.cpp GetFilterForJoin)
        if cond[0] != "cmp" or cond[1] != "=":
            raise ValueError("OGR SQL join supports only equality ON")
        c1 = cond[2][1]
        c2 = cond[3][1]

        def field_of(qual, expect_tbl):
            t, _, f = qual.partition(".")
            if not f:
                return qual
            if t != expect_tbl:
                return None
            return f

        pk = field_of(c1, main_name) or field_of(c2, main_name)
        sk = field_of(c1, sec_name) or field_of(c2, sec_name)
        sec = tables[sec_name]
        sfid = fid_cols.get(sec_name, sec.columns[0])
        # colliding field names get the reference's secondary-table
        # qualification (rendered with '_' instead of '.')
        prefix = f"{sec_name}_" if set(sec.columns) & set(df.columns) else ""
        if prefix:
            join_prefixes.append(prefix)
        df = first_match_join(df, sec, on=(pk, sk), secondary_fid=sfid, prefix=prefix)

    where = None
    if p.accept_kw("WHERE"):
        where = p.expr()
    order = []
    if p.accept_kw("ORDER"):
        p.expect_kw("BY")
        while True:
            col = p.take()[1]
            desc = False
            if p.accept_kw("DESC"):
                desc = True
            else:
                p.accept_kw("ASC")
            order.append((col, desc))
            if not p.accept_op(","):
                break
    limit = offset = None
    if p.accept_kw("LIMIT"):
        limit = int(p.take()[1])
    if p.accept_kw("OFFSET"):
        offset = int(p.take()[1])

    fid = fid_cols.get(main_name, None)

    def resolve(name: str) -> Column:
        t, _, f = name.partition(".")
        if f:
            # qualified secondary reference: prefer the prefixed column
            if f"{t}_{f}" in df.columns:
                return F.col(f"{t}_{f}")
            name = f
        if name not in df.columns:
            for pref in join_prefixes:
                if pref + name in df.columns:
                    return F.col(pref + name)
        up = name.upper()
        if up == "FID":
            if fid is None:
                raise ValueError(f"no FID column registered for {main_name}")
            return F.col(fid)
        if up == "OGR_GEOM_AREA":
            from gdal_spark.functions.st import st_area

            return st_area("geometry")
        if up == "OGR_GEOMETRY":  # geometry type name (ogr/ogr_p.h:166)
            from gdal_spark.functions.st import st_geometrytype

            # OGRGeometry::getGeometryName() is uppercase ("POLYGON") —
            # autotest/ogr/ogr_sql_test.py compares against that form
            return F.upper(st_geometrytype("geometry"))
        if up == "OGR_STYLE":
            # OGRFeature::GetStyleString() (ogr/ogr_p.h:166 SPF_OGR_STYLE):
            # pass-through of the table's style column when present (the
            # usual driver mapping), NULL otherwise — filterable in WHERE
            for c in df.columns:
                if c.upper() == "OGR_STYLE":
                    return F.col(c)
            return F.lit(None).cast("string")
        if up == "OGR_GEOM_WKT":
            from gdal_spark.functions.st import st_astext

            return st_astext("geometry")
        return F.col(name)

    if where is not None:
        df = df.filter(_compile_expr(where, resolve))

    summary = any(_has_agg(e) for e, _ in sel)
    if summary:
        aggs = []
        for k, (e, alias) in enumerate(sel):
            if e[0] != "agg":
                raise ValueError("summary query mixes aggregates and fields")
            _, fn, arg, dist = e
            name = alias or f"{fn}_{k}"
            if arg == ("star",):
                aggs.append(F.count(F.lit(1)).alias(name))
            elif dist:
                aggs.append(F.count_distinct(_compile_expr(arg, resolve)).alias(name))
            else:
                aggs.append(getattr(F, fn)(_compile_expr(arg, resolve)).alias(name))
        out = df.agg(*aggs)
    elif distinct:
        # single-column DISTINCT list in first-occurrence order
        if len(sel) != 1 or sel[0][0] == ("star",):
            raise ValueError("OGR DISTINCT is single-column")
        e, alias = sel[0]
        col = _compile_expr(e, resolve).alias(alias or e[1])
        if fid is None:
            raise ValueError(f"DISTINCT needs a FID column for {main_name}")
        name = alias or (e[1] if e[0] == "col" else "expr")
        out = (
            df.select(col.alias(name), F.col(fid).alias("__fid"))
            .groupBy(name)
            .agg(F.min("__fid").alias("__first"))
            .orderBy("__first")
            .drop("__first")
        )
        # ORDER BY overrides first-occurrence order
        if order:
            out = out.orderBy(
                *[F.col(c).desc() if d else F.col(c).asc() for c, d in order]
            )
        if offset:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        return out
    else:
        if len(sel) == 1 and sel[0][0][0] == "star_except":
            return _finish(
                df.drop(*sel[0][0][1]), order, offset, limit
            )
        cols = []
        for k, (e, alias) in enumerate(sel):
            if e == ("star",):
                cols.append(F.col("*"))
            else:
                default = e[1].partition(".")[2] or e[1] if e[0] == "col" else f"field_{k}"
                cols.append(_compile_expr(e, resolve).alias(alias or default))
        out = df.select(*cols)

    return _finish(out, order, offset, limit)


def _finish(out, order, offset, limit):
    if order:
        out = out.orderBy(*[F.col(c).desc() if d else F.col(c).asc() for c, d in order])
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out
