#!/usr/bin/env python3
"""Seeded generator for the differential SQL fuzz harness.

Emits N random queries from an ANSI-safe grammar (exact-typed only:
BIGINT arithmetic, the floor(x*100+0.5) money grid from CLAUDE.md,
min/max on any type, sampled-literal predicates, FK-path join chains,
LIMIT always under a total key order) that are valid and
value-identical by construction in BOTH Spark SQL and DuckDB. The
point is breadth the hand-written oracle entries can't give: no human
picked these plans, so agreement is evidence about the whole
session/read/execute path, not about one curated query.

Writes <outDir>/queries.tsv (name<TAB>sql, consumed by
`runMain graft.SqlBatch <sfDir> <outDir>`) and <outDir>/oracle_sql.json
(consumed by `tools/selfcheck.py <sfDir> <outDir>`).

Usage: python3 tools/fuzz_gen.py <sfDir> <outDir> [seed] [nQueries]

End-to-end:
  python3 tools/fuzz_gen.py /root/testdata/sf0.01 /tmp/fuzz 1 120
  sbt -batch "runMain graft.SqlBatch /root/testdata/sf0.01 /tmp/fuzz"
  python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/fuzz
"""
import json
import os
import random
import re
import sys

import duckdb

# per-table column model: only columns whose cross-engine behavior is
# exact under the grammar below. doubles appear ONLY via comparisons
# and min/max (bit-identical reads) or through the money grid.
TABLES = {
    "lineitem": {
        "key": ["l_orderkey", "l_linenumber"],
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "money": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "lowstr": ["l_returnflag", "l_linestatus"],
        "str": ["l_returnflag", "l_linestatus"],
        "ts": ["l_shipdate"],
    },
    "orders": {
        "key": ["o_orderkey"],
        "int": ["o_orderkey", "o_custkey"],
        "money": ["o_totalprice"],
        "lowstr": ["o_orderstatus", "o_orderpriority"],
        "str": ["o_orderstatus", "o_orderpriority"],
        "ts": ["o_orderdate"],
    },
    "customer": {
        "key": ["c_custkey"],
        "int": ["c_custkey", "c_nationkey"],
        "money": ["c_acctbal"],
        "lowstr": ["c_mktsegment"],
        "str": ["c_mktsegment", "c_name"],
        "ts": [],
    },
    "supplier": {
        "key": ["s_suppkey"],
        "int": ["s_suppkey", "s_nationkey"],
        "money": ["s_acctbal"],
        "lowstr": [],
        "str": ["s_name"],
        "ts": [],
    },
    "part": {
        "key": ["p_partkey"],
        "int": ["p_partkey", "p_size"],
        "money": ["p_retailprice"],
        "lowstr": ["p_brand"],
        "str": ["p_brand", "p_type", "p_name"],
        "ts": [],
    },
    "nation": {
        "key": ["n_nationkey"],
        "int": ["n_nationkey", "n_regionkey"],
        "money": [],
        "lowstr": ["n_name"],
        "str": ["n_name"],
        "ts": [],
    },
    "region": {
        "key": ["r_regionkey"],
        "int": ["r_regionkey"],
        "money": [],
        "lowstr": ["r_name"],
        "str": ["r_name"],
        "ts": [],
    },
    "documents": {
        "key": ["doc_id"],
        "int": ["doc_id", "n_chars"],
        "money": [],
        "lowstr": ["lang", "source"],
        "str": ["lang", "source"],
        "ts": [],
    },
    # read through Ctx.events on the Spark side (ns→µs normalization);
    # `value` is a 2-decimal double, so the money grid applies
    "events": {
        "key": ["event_id"],
        "int": ["event_id", "user_id"],
        "money": ["value"],
        "lowstr": ["event_type"],
        "str": ["event_type", "props"],
        "ts": ["ts"],
    },
}

# FK edges (child, child_col, parent, parent_col); chains follow them
JOINS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# --nulls mode: deterministic null-injected fixture derivatives.
# The fixtures are null-free, so the base grammar never exercises
# three-valued logic, null group keys, or outer-join null propagation
# — classic cross-engine divergence territory (VERDICT r10). Each
# n-table is a physical parquet copy of its source with ~1/16 of each
# NULLABLE column nulled by a salted md5 of the row key (keys and
# date columns stay intact: keys anchor joins and deterministic
# ORDER BY; nulled timestamps would hit pandas NaT != NaT in the
# comparator). One physical file read by BOTH engines — no
# cross-engine expression parity to maintain.
NULLTABLES = {
    "nlineitem": {"src": "lineitem",
                  "nullable": ["l_partkey", "l_suppkey", "l_quantity",
                               "l_extendedprice", "l_discount", "l_tax",
                               "l_returnflag", "l_linestatus"]},
    "norders": {"src": "orders",
                "nullable": ["o_custkey", "o_totalprice",
                             "o_orderstatus", "o_orderpriority"]},
    "ncustomer": {"src": "customer",
                  "nullable": ["c_nationkey", "c_acctbal",
                               "c_mktsegment", "c_name"]},
}

# null-universe FK edges: nullable FKs joining within the n-universe
# and out to the original dimensions (an INNER join over a nullable
# FK silently drops the null rows — both engines must agree on that)
NULLJOINS = [
    ("nlineitem", "l_orderkey", "norders", "o_orderkey"),
    ("nlineitem", "l_partkey", "part", "p_partkey"),
    ("nlineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("norders", "o_custkey", "ncustomer", "c_custkey"),
    ("ncustomer", "c_nationkey", "nation", "n_nationkey"),
]


def write_null_fixture(con, out_dir):
    """Materialize the n-tables under <outDir>/nullfix/ — pure
    function of the source fixture (md5 row-key salt per column), so
    every seed-run regenerates byte-identical files."""
    os.makedirs(f"{out_dir}/nullfix", exist_ok=True)
    for nt, meta in NULLTABLES.items():
        src = meta["src"]
        cols = [r[0] for r in con.sql(f"DESCRIBE {src}").fetchall()]
        key = " || '-' || ".join(
            f"CAST({k} AS VARCHAR)" for k in TABLES[src]["key"])
        sel = []
        for c in cols:
            if c in meta["nullable"]:
                sel.append(
                    f"CASE WHEN substring(md5({key} || ':{c}'), 1, 1) "
                    f"= '0' THEN NULL ELSE {c} END AS {c}")
            else:
                sel.append(c)
        con.sql(f"COPY (SELECT {', '.join(sel)} FROM {src}) TO "
                f"'{out_dir}/nullfix/{nt}.parquet' (FORMAT PARQUET)")


class Gen:
    def __init__(self, sf_dir, seed, out_dir=None, nulls=False,
                 ext=False, approx=False, search=False):
        self.rng = random.Random(seed)
        self.nulls = nulls
        self.ext = ext
        self.approx = approx
        self.search = search
        self.search_vocab = None
        self.search_docs = None
        self.con = duckdb.connect()
        self.con.sql("SET threads = 1")  # reproducibility
        for t in TABLES:
            if t in NULLTABLES:
                continue
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        if nulls:
            write_null_fixture(self.con, out_dir)
            # n-tables become first-class grammar tables: every
            # existing template (group/distinct/limit/window/rollup/
            # outer-join) then runs over nullable data for free
            for nt, meta in NULLTABLES.items():
                src = dict(TABLES[meta["src"]])
                src["nullable"] = meta["nullable"]
                TABLES[nt] = src
                self.con.sql(f"CREATE VIEW {nt} AS SELECT * FROM "
                             f"'{out_dir}/nullfix/{nt}.parquet'")
            JOINS.extend(NULLJOINS)
        self.samples = {}  # (table, col) -> sampled distinct values

    def sample_vals(self, table, col, n=40):
        """Deterministic pseudo-random distinct sample: md5 ordering is
        a fixed total order, so the same fixture always yields the same
        literal pool regardless of thread count or scan order (a
        reservoir sample with a seed is only deterministic
        single-threaded, and DISTINCT+LIMIT without ORDER BY isn't at
        all). String values carrying backslashes or control characters
        are excluded: Spark SQL processes C-style escapes inside string
        literals while DuckDB takes backslashes literally, so such
        literals would diverge by harness construction, not by engine
        behavior."""
        key = (table, col)
        if key not in self.samples:
            rows = self.con.sql(
                f"SELECT v FROM (SELECT DISTINCT {col} AS v FROM {table} "
                f"WHERE {col} IS NOT NULL) t "
                f"ORDER BY md5(CAST(v AS VARCHAR)) LIMIT {n}").fetchall()
            vals = [r[0] for r in rows]
            self.samples[key] = [
                v for v in vals
                if not (isinstance(v, str) and
                        ("\\" in v or any(ord(ch) < 32 for ch in v)))]
        return self.samples[key]

    def lit(self, table, col, kind):
        vals = self.sample_vals(table, col)
        if not vals:
            return None
        v = self.rng.choice(vals)
        if kind == "str":
            return "'" + str(v).replace("'", "''") + "'"
        if kind == "ts":
            return f"TIMESTAMP '{v}'"
        if kind == "money":
            # exact decimal text round-trips identically in both engines
            return repr(float(v))
        return str(int(v))

    # ---- predicates -------------------------------------------------
    def atom_pred(self, table, q):
        c = TABLES[table]
        # nullable columns: IS [NOT] NULL atoms (three-valued logic
        # enters every AND/OR/NOT composition built on top)
        if c.get("nullable") and self.rng.random() < 0.25:
            col = self.rng.choice(c["nullable"])
            ref = f"{q}.{col}" if q else col
            neg = self.rng.choice(["", " NOT"])
            return f"{ref} IS{neg} NULL"
        choices = []
        if c["int"]:
            choices.append("int")
        if c["money"]:
            choices.append("money")
        if c["str"]:
            choices.append("str")
        if c["ts"]:
            choices.append("ts")
        kind = self.rng.choice(choices)
        col = self.rng.choice(c[kind])
        ref = f"{q}.{col}" if q else col
        # FK columns: sometimes an IN-subquery against the parent
        if kind == "int" and self.rng.random() < 0.15:
            for child, ccol, parent, pcol in JOINS:
                if child == table and ccol == col:
                    sub = self.pred(parent, None, depth=1)
                    return (f"{ref} IN (SELECT {pcol} FROM {parent} "
                            f"WHERE {sub})")
        if kind in ("int", "money", "ts"):
            op = self.rng.choice(["<", "<=", ">", ">=", "=", "<>"])
            lit = self.lit(table, col, kind)
            if lit is None:
                return "1 = 1"
            return f"{ref} {op} {lit}"
        # strings: =, IN-list, LIKE prefix
        form = self.rng.choice(["eq", "in", "like"])
        if form == "eq":
            lit = self.lit(table, col, "str")
            return f"{ref} = {lit}" if lit else "1 = 1"
        if form == "in":
            vals = self.sample_vals(table, col)
            if not vals:
                return "1 = 1"
            pick = self.rng.sample(vals, min(len(vals),
                                             self.rng.randint(2, 4)))
            lits = ", ".join(
                "'" + str(v).replace("'", "''") + "'" for v in pick)
            return f"{ref} IN ({lits})"
        vals = self.sample_vals(table, col)
        if not vals:
            return "1 = 1"
        pref = str(self.rng.choice(vals))[:3]
        pref = "".join(ch for ch in pref if ch not in "%_\\'")
        return f"{ref} LIKE '{pref}%'"

    def pred(self, table, q, depth=2):
        if depth == 0 or self.rng.random() < 0.4:
            return self.atom_pred(table, q)
        op = self.rng.choice(["AND", "OR"])
        a = self.pred(table, q, depth - 1)
        b = self.pred(table, q, depth - 1)
        s = f"({a} {op} {b})"
        if self.rng.random() < 0.15:
            s = f"(NOT {s})"
        return s

    # ---- exact integer expressions ----------------------------------
    def int_expr(self, table, q, depth=1):
        c = TABLES[table]
        ref = lambda col: f"{q}.{col}" if q else col
        forms = ["col", "mod", "mul", "len", "case"]
        if c["money"]:
            forms.append("grid")
        form = self.rng.choice(forms)
        if form == "col" or depth == 0:
            return ref(self.rng.choice(c["int"]))
        if form == "mod":
            return (f"({ref(self.rng.choice(c['int']))} % "
                    f"{self.rng.randint(2, 97)})")
        if form == "mul":
            return (f"({ref(self.rng.choice(c['int']))} * "
                    f"{self.rng.randint(2, 19)})")
        if form == "len":
            if not c["str"]:
                return ref(self.rng.choice(c["int"]))
            return f"length({ref(self.rng.choice(c['str']))})"
        if form == "grid":
            # CLAUDE.md money grid: exact BIGINT carrier for 2-decimal
            # doubles, identical IEEE ops in both engines
            m = self.rng.choice(c["money"])
            return f"CAST(floor({ref(m)} * 100.0 + 0.5) AS BIGINT)"
        # case
        p = self.atom_pred(table, q)
        a = self.int_expr(table, q, 0)
        b = self.int_expr(table, q, 0)
        return f"(CASE WHEN {p} THEN {a} ELSE {b} END)"

    def aggs(self, table, q):
        out = [("cnt", "count(*)")]
        n = self.rng.randint(1, 3)
        c = TABLES[table]
        ref = lambda col: f"{q}.{col}" if q else col
        for i in range(n):
            form = self.rng.choice(["sum", "minmax_int", "minmax_str",
                                    "minmax_money", "minmax_ts",
                                    "countd"])
            if form == "sum":
                out.append((f"s{i}",
                            f"CAST(SUM({self.int_expr(table, q)}) "
                            f"AS BIGINT)"))
            elif form == "minmax_int":
                f_ = self.rng.choice(["min", "max"])
                out.append((f"a{i}", f"{f_}({ref(self.rng.choice(c['int']))})"))
            elif form == "minmax_str" and c["str"]:
                f_ = self.rng.choice(["min", "max"])
                out.append((f"t{i}", f"{f_}({ref(self.rng.choice(c['str']))})"))
            elif form == "minmax_money" and c["money"]:
                f_ = self.rng.choice(["min", "max"])
                out.append((f"m{i}",
                            f"{f_}({ref(self.rng.choice(c['money']))})"))
            elif form == "minmax_ts" and c["ts"]:
                f_ = self.rng.choice(["min", "max"])
                out.append((f"d{i}", f"{f_}({ref(self.rng.choice(c['ts']))})"))
            elif form == "countd":
                col = self.rng.choice(c["int"] + c["str"])
                out.append((f"u{i}",
                            f"CAST(COUNT(DISTINCT {ref(col)}) AS BIGINT)"))
        # dedupe aliases produced identical? aliases unique by index
        return out

    # ---- join chains ------------------------------------------------
    def chain(self, max_len=3):
        """A connected chain of distinct tables along FK edges."""
        t0 = self.rng.choice(list(TABLES))
        used = [t0]
        conds = []
        while len(used) < max_len:
            edges = [e for e in JOINS
                     if (e[0] in used) != (e[2] in used)]
            if not edges or self.rng.random() < 0.45:
                break
            e = self.rng.choice(edges)
            new = e[2] if e[0] in used else e[0]
            used.append(new)
            conds.append(f"{e[0]}.{e[1]} = {e[2]}.{e[3]}")
        return used, conds

    def from_clause(self, tables, conds):
        # chain() appends exactly one FK condition per added table, in
        # order — conds[i] connects tables[i+1] to the already-joined set
        out = tables[0]
        for t, on in zip(tables[1:], conds):
            out += f" JOIN {t} ON {on}"
        return out

    # ---- query templates --------------------------------------------
    def group_expr(self, ref):
        """Sometimes wrap a group key in a string scalar function —
        identical text in SELECT and GROUP BY."""
        r = self.rng.random()
        if r < 0.12:
            return f"upper({ref})"
        if r < 0.2:
            return f"substr({ref}, 1, {self.rng.randint(1, 4)})"
        return ref

    def grouped_agg(self):
        tables, conds = self.chain(self.rng.randint(1, 3))
        qualify = len(tables) > 1
        gtabs = [t for t in tables if TABLES[t]["lowstr"]]
        gcols = []
        for t in self.rng.sample(gtabs, min(len(gtabs),
                                            self.rng.randint(1, 2))) \
                if gtabs else []:
            col = self.rng.choice(TABLES[t]["lowstr"])
            gcols.append(self.group_expr(f"{t}.{col}" if qualify else col))
        gcols = list(dict.fromkeys(gcols))
        agg_t = self.rng.choice(tables)
        ag = self.aggs(agg_t, agg_t if qualify else None)
        pred_t = self.rng.choice(tables)
        where = self.pred(pred_t, pred_t if qualify else None)
        sel = [f"{g} AS g{i}" for i, g in enumerate(gcols)] + \
              [f"{e} AS {a}" for a, e in ag]
        sql = f"SELECT {', '.join(sel)} FROM " \
              f"{self.from_clause(tables, conds)} WHERE {where}"
        if gcols:
            sql += f" GROUP BY {', '.join(gcols)}"
            if self.rng.random() < 0.25:
                sql += f" HAVING count(*) >= {self.rng.randint(2, 20)}"
        return sql

    def left_join_agg(self):
        """The q13 shape: parent LEFT JOIN child, count of child keys
        (NULL-skipping) next to count(*)."""
        child, ccol, parent, pcol = self.rng.choice(JOINS)
        g = self.rng.choice(TABLES[parent]["lowstr"]) \
            if TABLES[parent]["lowstr"] else pcol
        where = self.pred(parent, parent)
        return (f"SELECT {parent}.{g} AS g0, count(*) AS cnt, "
                f"count({child}.{ccol}) AS cnt_child, "
                f"CAST(COUNT(DISTINCT {child}.{ccol}) AS BIGINT) AS u0 "
                f"FROM {parent} LEFT JOIN {child} "
                f"ON {child}.{ccol} = {parent}.{pcol} "
                f"WHERE {where} GROUP BY {parent}.{g}")

    def window_q(self):
        """Deterministic window functions: ranks over a TOTAL key
        order and running sums framed by it — single-column keys only
        (verified unique at every SF; lineitem's nominal pair key is
        NOT unique in the fixture), so ties are impossible and both
        engines agree bit-for-bit."""
        t = self.rng.choice([x for x in TABLES
                             if TABLES[x]["lowstr"]
                             and len(TABLES[x]["key"]) == 1])
        c = TABLES[t]
        keys = c["key"][0]
        part = self.rng.choice(c["lowstr"])
        val = self.int_expr(t, None, 0)
        where = self.pred(t, None)
        k = self.rng.choice([10, 25, 100])
        return (f"SELECT {keys}, {part} AS g0, "
                f"CAST(row_number() OVER (PARTITION BY {part} "
                f"ORDER BY {keys}) AS BIGINT) AS rn, "
                f"CAST(SUM({val}) OVER (PARTITION BY {part} "
                f"ORDER BY {keys} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS BIGINT) AS rsum "
                f"FROM {t} WHERE {where} ORDER BY {keys} LIMIT {k}")

    def rollup_q(self):
        t = self.rng.choice([x for x in TABLES
                             if len(TABLES[x]["lowstr"]) >= 2])
        g1, g2 = self.rng.sample(TABLES[t]["lowstr"], 2)
        where = self.pred(t, None)
        # HAVING count(*) > 0 is a no-op on every real group (grouped
        # count(*) >= 1) but suppresses the ()-grouping-set grand-total
        # row a standard engine (DuckDB) emits over an EMPTY filtered
        # input and Spark does not — seed 201 hit that divergence with
        # a zero-match shipdate equality predicate.
        return (f"SELECT {g1} AS g0, {g2} AS g1, count(*) AS cnt, "
                f"CAST(SUM({self.int_expr(t, None)}) AS BIGINT) AS s0 "
                f"FROM {t} WHERE {where} GROUP BY ROLLUP ({g1}, {g2}) "
                f"HAVING count(*) > 0")

    def cube_q(self):
        # CUBE / GROUPING SETS axis (r12): same empty-input HAVING
        # guard as rollup_q; GROUPING() disambiguates real NULL group
        # values from the grouping-set placeholder so the row-hash
        # compare can't confuse them
        t = self.rng.choice([x for x in TABLES
                             if len(TABLES[x]["lowstr"]) >= 2])
        g1, g2 = self.rng.sample(TABLES[t]["lowstr"], 2)
        where = self.pred(t, None)
        if self.rng.random() < 0.5:
            grouping = f"CUBE ({g1}, {g2})"
        else:
            grouping = f"GROUPING SETS (({g1}), ({g2}), ({g1}, {g2}))"
        return (f"SELECT {g1} AS g0, {g2} AS g1, "
                f"CAST(GROUPING({g1}) AS BIGINT) AS gi0, "
                f"CAST(GROUPING({g2}) AS BIGINT) AS gi1, "
                f"count(*) AS cnt, "
                f"CAST(SUM({self.int_expr(t, None)}) AS BIGINT) AS s0 "
                f"FROM {t} WHERE {where} GROUP BY {grouping} "
                f"HAVING count(*) > 0")

    def union_agg(self):
        t = self.rng.choice([x for x in TABLES if TABLES[x]["lowstr"]])
        g = self.rng.choice(TABLES[t]["lowstr"])
        p1 = self.pred(t, None)
        p2 = self.pred(t, None)
        return (f"SELECT g0, count(*) AS cnt FROM "
                f"(SELECT {g} AS g0 FROM {t} WHERE {p1} "
                f"UNION ALL SELECT {g} AS g0 FROM {t} WHERE {p2}) u "
                f"GROUP BY g0")

    def distinct_q(self):
        tables, conds = self.chain(self.rng.randint(1, 2))
        qualify = len(tables) > 1
        cands = [(t, c) for t in tables for c in TABLES[t]["lowstr"]]
        if not cands:
            return self.grouped_agg()
        pick = self.rng.sample(cands, min(len(cands),
                                          self.rng.randint(1, 2)))
        cols = [f"{t}.{c} AS {c}" if qualify else f"{c} AS {c}"
                for t, c in pick]
        pred_t = self.rng.choice(tables)
        where = self.pred(pred_t, pred_t if qualify else None)
        return (f"SELECT DISTINCT {', '.join(cols)} FROM "
                f"{self.from_clause(tables, conds)} WHERE {where}")

    def limit_q(self):
        tables, conds = self.chain(self.rng.randint(1, 2))
        qualify = len(tables) > 1
        proj = []
        for t in tables:
            c = TABLES[t]
            for col in self.rng.sample(
                    c["int"] + c["str"],
                    min(3, len(c["int"] + c["str"]))):
                proj.append((f"{t}.{col}" if qualify else col, col))
        # declared keys go in the projection for readability, but the
        # ORDER BY is ALL projected columns: rows tied on every output
        # column are identical, so the LIMIT cut is deterministic even
        # where the fixture violates nominal key uniqueness (it does —
        # sf0.01 lineitem has up to 6 rows per (l_orderkey,
        # l_linenumber); seed 3 caught exactly that)
        for t in tables:
            for k in TABLES[t]["key"]:
                r = f"{t}.{k}" if qualify else k
                if (r, k) not in proj:
                    proj.append((r, k))
        seen = set()
        sel = []
        order = []
        for r, a in proj:
            if a not in seen:
                seen.add(a)
                sel.append(f"{r} AS {a}")
                order.append(r)
        pred_t = self.rng.choice(tables)
        where = self.pred(pred_t, pred_t if qualify else None)
        k = self.rng.choice([5, 10, 25, 100])
        # explicit NULLS FIRST on every order key: Spark's ASC default
        # is NULLS FIRST, DuckDB's is NULLS LAST — over the null
        # fixture an unspecified order would cut different LIMIT
        # prefixes by harness construction (harmless on the null-free
        # tables)
        okeys = ", ".join(f"{r} NULLS FIRST" for r in order)
        return (f"SELECT {', '.join(sel)} FROM "
                f"{self.from_clause(tables, conds)} WHERE {where} "
                f"ORDER BY {okeys} LIMIT {k}")

    # ---- null-semantics templates (--nulls mode only) ---------------
    def not_in_q(self):
        """THE classic cross-engine divergence shape: `x NOT IN
        (subquery)` where the subquery column contains NULLs is empty
        under ANSI three-valued logic (x <> NULL is UNKNOWN for every
        x); the IS NOT NULL-guarded twin behaves like an anti-join.
        Both engines must agree on both forms."""
        child, ccol, parent, pcol = self.rng.choice(
            [e for e in NULLJOINS if e[1] in TABLES[e[0]]["nullable"]])
        where = self.pred(child, None)
        guard = (f" AND {ccol} IS NOT NULL"
                 if self.rng.random() < 0.5 else "")
        neg = self.rng.choice(["IN", "NOT IN"])
        return (f"SELECT count(*) AS cnt FROM {parent} "
                f"WHERE {pcol} {neg} "
                f"(SELECT {ccol} FROM {child} WHERE ({where}){guard})")

    def anti_join_q(self):
        """Left join whose probe side misses: rows with a NULL FK (or
        an FK filtered out of the parent) surface as parent-side NULLs
        — the left-anti shape via IS NULL on the parent key."""
        child, ccol, parent, pcol = self.rng.choice(NULLJOINS)
        where = self.pred(child, child)
        return (f"SELECT count(*) AS cnt, "
                f"CAST(COUNT(DISTINCT {child}.{ccol}) AS BIGINT) AS u0 "
                f"FROM {child} LEFT JOIN {parent} "
                f"ON {child}.{ccol} = {parent}.{pcol} "
                f"WHERE {parent}.{pcol} IS NULL AND ({where})")

    def null_agg_q(self):
        """Aggregates over a group that is all-NULL by construction
        (the 'missing' slice): count(col) vs count(*), SUM over an
        all-null slice (NULL, not 0), min/max NULL-skipping, and a
        COALESCE spine — over a possibly-NULL group key as well."""
        t = self.rng.choice(list(NULLTABLES))
        c0 = self.rng.choice(TABLES[t]["nullable"])
        g = self.rng.choice(TABLES[t]["lowstr"] or TABLES[t]["int"])
        where = self.pred(t, None)
        if c0 in TABLES[t]["money"]:
            val = f"CAST(floor({c0} * 100.0 + 0.5) AS BIGINT)"
        elif c0 in TABLES[t]["int"]:
            val = c0
        else:
            val = f"length({c0})"
        return (f"SELECT CASE WHEN {c0} IS NULL THEN 'missing' "
                f"ELSE 'present' END AS g0, {g} AS g1, "
                f"count(*) AS cnt, count({c0}) AS cnt_c, "
                f"CAST(SUM(CASE WHEN {c0} IS NULL THEN 1 ELSE 0 END) "
                f"AS BIGINT) AS nn, "
                f"CAST(SUM({val}) AS BIGINT) AS s0, "
                f"CAST(min({val}) AS BIGINT) AS mn, "
                f"CAST(SUM(COALESCE({val}, -1)) AS BIGINT) AS sc "
                f"FROM {t} WHERE {where} GROUP BY 1, 2")

    # ---- approximate-math templates (--approx mode only) ------------
    # The r12 driver red came from CURATED entries because the base
    # grammar is exact-typed by design — ln never appeared in a fuzzed
    # query. These templates drive the approximate-math seam through
    # the SAME conventions production uses (CLAUDE.md): each ln-derived
    # term snaps to a per-element BIGINT grid (exact, order-free sum),
    # and the emitted value coarsens the exact sum by a factor-1000
    # integer step, so a ±1-unit cross-engine term flip only surfaces
    # when the whole sum sits within flip-count units of a boundary.
    # The integer step is written portably as
    # floor(CAST(sum + OFFSET AS DOUBLE) / 1000). Portability rests on
    # the sign-safe floor form alone (floor of an IEEE quotient is
    # engine-identical for either sign; exactness bound is
    # |sum + OFFSET| < 2^53), NOT on the operand staying positive — do
    # not swap this form for div/`//`, which truncate-vs-floor DIVERGE
    # on negative operands. r15 (VERDICT r14 task 4): the offset is
    # DERIVED FROM DATA as an engine-identical scalar subquery —
    # per-row-term templates use count(rows) x the per-term grid cap
    # (1e6 x ln(2^63) < 4.4e7), distribution templates use the
    # information-theoretic total bound (<= ~2*43 nats on the 1e9
    # grid) + one half-unit of rounding per bin (<= count(*)) — so the
    # 2^53 exactness bound self-documents: rows*cap < 2^52, i.e. the
    # templates stay exact to ~1e8 rows per table at ANY amplified SF
    # instead of relying on constants sized for sf0.1.
    def _coarsen(self, sum_expr, offset_expr):
        return (f"CAST(floor(CAST({sum_expr} + {offset_expr} AS DOUBLE) / "
                f"CAST(1000 AS DOUBLE)) AS BIGINT)")

    @staticmethod
    def _rowcap_offset(t, cap):
        """count(rows) x per-term cap, as SQL both engines evaluate
        identically on the same fixture."""
        return f"(SELECT COUNT(*) * {cap} FROM {t})"


    def approx_ln_ratio_q(self):
        """Fresh per-row ln quotients (the exact r12 hazard shape:
        query-specific args, no shared subexpressions) summed per
        group. Terms ride a 1e6 grid — |ln| <= ~16 on the fixture's
        int columns, and the smaller grid keeps the sf0.1 group sums
        (600k rows) far below 2^53 even before coarsening."""
        t = self.rng.choice([x for x in TABLES
                             if TABLES[x]["lowstr"]
                             and len(TABLES[x]["int"]) >= 2])
        c = TABLES[t]
        g = self.rng.choice(c["lowstr"])
        a, b = self.rng.sample(c["int"], 2)
        where = self.pred(t, None)
        # int columns are nonnegative in every fixture table; +1 keeps
        # the quotient strictly positive (ln well-defined)
        term = (f"ln(CAST({a} + 1 AS DOUBLE) / "
                f"CAST({b} + 1 AS DOUBLE))")
        t6 = (f"CAST(floor({term} * 1e6 + CAST(0.5 AS DOUBLE)) "
              f"AS BIGINT)")
        s = self._coarsen(f"SUM({t6})", self._rowcap_offset(t, 44000000))
        return (f"SELECT {g} AS g0, count(*) AS cnt, {s} AS lns "
                f"FROM {t} WHERE {where} GROUP BY {g}")

    def approx_entropy_q(self):
        """The drift family's own shape: p = c/n over exact grouped
        counts (fresh quotients), p*ln(p) per bin on the 1e9 grid,
        coarsened at emission — a Shannon entropy the two engines must
        agree on at 1e-6-of-a-nat resolution."""
        t = self.rng.choice([x for x in TABLES if TABLES[x]["lowstr"]])
        g = self.rng.choice(TABLES[t]["lowstr"])
        where = self.pred(t, None)
        p = "CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"
        t9 = (f"CAST(floor(({p}) * ln({p}) * 1e9 "
              f"+ CAST(0.5 AS DOUBLE)) AS BIGINT)")
        ent = self._coarsen(f"SUM({t9})",
            f"(43000000000 + (SELECT COUNT(*) FROM {t}))")
        return (f"WITH b AS (SELECT {g} AS g0, count(*) AS c "
                f"FROM {t} WHERE {where} GROUP BY {g}), "
                f"tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM b) "
                f"SELECT CAST(COUNT(*) AS BIGINT) AS nb, MAX(n) AS n, "
                f"{ent} AS ent FROM b CROSS JOIN tot")

    def approx_psi_q(self):
        """THE r12 failure shape, randomized: add-1 smoothed PSI
        between two random snapshots of a feature column — fresh
        per-bin quotients into ln, per-term 1e9 grid, coarsened
        emission. Every run of this template re-litigates the drift
        family's cross-engine bet on arbitrary splits."""
        t = self.rng.choice([x for x in TABLES if TABLES[x]["lowstr"]])
        g = self.rng.choice(TABLES[t]["lowstr"])
        p1 = self.pred(t, None)
        p2 = self.pred(t, None)
        p = "CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_bins AS DOUBLE)"
        q = "CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_bins AS DOUBLE)"
        t9 = (f"CAST(floor(({p} - {q}) * ln(({p}) / ({q})) * 1e9 "
              f"+ CAST(0.5 AS DOUBLE)) AS BIGINT)")
        psi = self._coarsen(f"SUM({t9})",
            f"(86000000000 + (SELECT COUNT(*) FROM {t}))")
        return (f"WITH fb AS ("
                f"SELECT {g} AS bin, 0 AS is_cur FROM {t} WHERE {p1} "
                f"UNION ALL SELECT {g}, 1 FROM {t} WHERE {p2}), "
                f"bins AS (SELECT bin, "
                f"CAST(SUM(CASE WHEN is_cur = 0 THEN 1 ELSE 0 END) "
                f"AS BIGINT) AS c_ref, "
                f"CAST(SUM(is_cur) AS BIGINT) AS c_cur "
                f"FROM fb GROUP BY 1), "
                f"tot AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref, "
                f"CAST(SUM(c_cur) AS BIGINT) AS n_cur, "
                f"COUNT(*) AS n_bins FROM bins) "
                f"SELECT CAST(COUNT(*) AS BIGINT) AS nb, "
                f"MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur, "
                f"{psi} AS psi6 FROM bins CROSS JOIN tot")

    def approx_logsum_money_q(self):
        """ln over the money grid: per-group log-sum of the exact
        cent carrier (abs-guarded — acctbal can be negative), the
        geometric-mean building block. 1e6 per-term grid, coarsened
        emission."""
        cands = [x for x in TABLES
                 if TABLES[x]["money"] and TABLES[x]["lowstr"]]
        t = self.rng.choice(cands)
        c = TABLES[t]
        g = self.rng.choice(c["lowstr"])
        m = self.rng.choice(c["money"])
        where = self.pred(t, None)
        cents = f"CAST(floor({m} * 100.0 + 0.5) AS BIGINT)"
        term = f"ln(CAST(abs({cents}) + 1 AS DOUBLE))"
        t6 = (f"CAST(floor({term} * 1e6 + CAST(0.5 AS DOUBLE)) "
              f"AS BIGINT)")
        s = self._coarsen(f"SUM({t6})", self._rowcap_offset(t, 44000000))
        return (f"SELECT {g} AS g0, count(*) AS cnt, {s} AS logsum "
                f"FROM {t} WHERE {where} GROUP BY {g}")

    # ---- fixed-point integer-ln kernel template (--approx) ----------
    # The r14 drift fix (graft.functions.IntegerLn): ln of an exact
    # integer ratio via a pure-BIGINT recurrence — bitlen range
    # reduction (length(bin(x)), <</>>) + a 9-term atanh series at 1e9
    # fixed point. The recurrence must be BIT-EXACT across engines
    # (that is its entire contract — no grid, no coarsening, no
    # tolerance), so this template emits the per-bin kernel outputs
    # raw. Both dialects are generated from the ONE stage list below;
    # the only textual delta is `div` vs `//` (every dividend is
    # nonnegative, so truncate-vs-floor cannot diverge). This is an
    # independent Python transcription of the Scala stage list — the
    # Scala↔DuckDB pairing of the production kernel is pinned by the
    # probe_ln_intkernel oracle entry and IntegerLnSpec; this copy only
    # needs to agree with ITSELF across engines on arbitrary inputs.
    def _intln_stages(self, num, den, div):
        s = [
            ("iln_bn", f"length(bin({num}))"),
            ("iln_bd", f"length(bin({den}))"),
            ("iln_sn", "greatest(iln_bn - 30, 0)"),
            ("iln_sd", "greatest(iln_bd - 30, 0)"),
            ("iln_n1", f"(({num}) >> iln_sn)"),
            ("iln_d1", f"(({den}) >> iln_sd)"),
            ("iln_k0", "length(bin(iln_n1)) - length(bin(iln_d1))"),
            ("iln_n2", "CASE WHEN iln_k0 < 0 THEN (iln_n1 << (0 - iln_k0)) "
                       "ELSE iln_n1 END"),
            ("iln_d2", "CASE WHEN iln_k0 > 0 THEN (iln_d1 << iln_k0) "
                       "ELSE iln_d1 END"),
            ("iln_m", "CASE WHEN iln_n2 >= iln_d2 THEN iln_n2 "
                      "ELSE iln_n2 * 2 END"),
            ("iln_kk", "(iln_sn - iln_sd + iln_k0) - "
                       "(CASE WHEN iln_n2 >= iln_d2 THEN 0 ELSE 1 END)"),
            ("iln_z", div("(iln_m - iln_d2) * 1000000000",
                          "iln_m + iln_d2")),
            ("iln_z2", div("iln_z * iln_z", "1000000000")),
            ("iln_u3", div("iln_z * iln_z2", "1000000000")),
        ]
        for n in range(5, 19, 2):
            s.append((f"iln_u{n}",
                      div(f"iln_u{n - 2} * iln_z2", "1000000000")))
        terms = " + ".join(div(f"iln_u{n}", str(n))
                           for n in range(3, 19, 2))
        s.append(("iln_lr9",
                  f"CAST(iln_kk AS BIGINT) * 693147181 + "
                  f"2 * (iln_z + {terms})"))
        return s

    def approx_intln_q(self):
        """Randomized drift-shaped smoothed-count ratios through the
        integer-ln kernel, per-bin outputs emitted RAW (exact BIGINTs).
        k1/k2 scale num/den by up to 1000 each to push operands past
        30 bits and exercise the pre-reduction shift path (still
        < 2^56 at sf1); psi9 fuzzes the production emission shape —
        one IEEE chain on the deterministic (p, q, lr9) triple. The
        scaled lr9/psi9 are not semantically psi (k1 != k2 shifts the
        log); the template checks determinism, not drift semantics."""
        t = self.rng.choice([x for x in TABLES if TABLES[x]["lowstr"]])
        g = self.rng.choice(TABLES[t]["lowstr"])
        p1 = self.pred(t, None)
        p2 = self.pred(t, None)
        k1 = self.rng.choice([1, 7, 333, 1000])
        k2 = self.rng.choice([1, 7, 333, 1000])

        def body(div):
            sql = (
                f"WITH fb AS (SELECT {g} AS bin, 0 AS is_cur FROM {t} "
                f"WHERE {p1} UNION ALL SELECT {g}, 1 FROM {t} "
                f"WHERE {p2}), "
                f"bins AS (SELECT bin, "
                f"CAST(SUM(CASE WHEN is_cur = 0 THEN 1 ELSE 0 END) "
                f"AS BIGINT) AS c_ref, "
                f"CAST(SUM(is_cur) AS BIGINT) AS c_cur "
                f"FROM fb GROUP BY 1), "
                f"tot AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref, "
                f"CAST(SUM(c_cur) AS BIGINT) AS n_cur, "
                f"COUNT(*) AS n_bins FROM bins), "
                f"t0 AS (SELECT b.bin, b.c_ref, b.c_cur, "
                f"CAST(b.c_ref + 1 AS DOUBLE) / "
                f"CAST(t.n_ref + t.n_bins AS DOUBLE) AS p, "
                f"CAST(b.c_cur + 1 AS DOUBLE) / "
                f"CAST(t.n_cur + t.n_bins AS DOUBLE) AS q, "
                f"(b.c_ref + 1) * (t.n_cur + t.n_bins) * {k1} "
                f"AS iln_num, "
                f"(b.c_cur + 1) * (t.n_ref + t.n_bins) * {k2} "
                f"AS iln_den FROM bins b CROSS JOIN tot t)")
            prev = "t0"
            for i, (name, ex) in enumerate(
                    self._intln_stages("iln_num", "iln_den", div)):
                sql += f", l{i} AS (SELECT *, {ex} AS {name} FROM {prev})"
                prev = f"l{i}"
            return (sql + f" SELECT bin, c_ref, c_cur, iln_num, "
                    f"iln_den, iln_lr9, "
                    f"CAST(floor((p - q) * CAST(iln_lr9 AS DOUBLE) "
                    f"+ CAST(0.5 AS DOUBLE)) AS BIGINT) AS psi9 "
                    f"FROM {prev} ORDER BY bin")

        spark = body(lambda a, b: f"(({a}) div ({b}))")
        duck = body(lambda a, b: f"(({a}) // ({b}))")
        return spark, duck

    # ---- extension-SQL templates (--ext mode only) ------------------
    # The registered Graft SQL functions (GraftExtensions): cosine_sim
    # is checked for BIT-EXACT value agreement against a DuckDB
    # rewrite that mirrors the expression's sequential fold
    # (per-element double products, left-to-right accumulation,
    # dot/sqrt(nx*ny) — identical IEEE ops on identical inputs are
    # bit-identical, the house rule); minhash_signature (whose
    # values the Dedup MinHash oracles already hash-check through
    # MinHashSignature.minsSql) is checked here via the union-min LAW
    # sig(A ∪ B) = elementwise-min(sig(A), sig(B)) plus signature
    # width, with DuckDB supplying the expected constants over the
    # same group membership. These templates return (spark_sql,
    # duck_sql) PAIRS — the one place the two engines run different
    # text by necessity.
    def _duck_cosine(self, ea, eb):
        def dots(u, v):
            return (f"list_reduce(list_transform(range(1, 65), i -> "
                    f"CAST({u}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)), "
                    f"(x, y) -> x + y)")
        return (f"{dots(ea, eb)} AS dot, {dots(ea, ea)} AS nx, "
                f"{dots(eb, eb)} AS ny")

    def ext_cosine_pairs(self):
        k = self.rng.randint(1, 97)
        m = self.rng.choice([7, 11, 13, 23])
        r = self.rng.randrange(m)
        lim = self.rng.choice([25, 50, 100])
        spark = (f"SELECT a.vec_id AS v1, b.vec_id AS v2, "
                 f"cosine_sim(a.embedding, b.embedding) AS cs "
                 f"FROM embeddings a JOIN embeddings b "
                 f"ON b.vec_id = a.vec_id + {k} "
                 f"WHERE a.vec_id % {m} = {r} ORDER BY v1 LIMIT {lim}")
        duck = (f"WITH p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, "
                f"{self._duck_cosine('a.embedding', 'b.embedding')} "
                f"FROM embeddings a JOIN embeddings b "
                f"ON b.vec_id = a.vec_id + {k} "
                f"WHERE a.vec_id % {m} = {r}) "
                f"SELECT v1, v2, CASE WHEN nx = 0.0 OR ny = 0.0 "
                f"THEN CAST(0.0 AS DOUBLE) ELSE dot / sqrt(nx * ny) END "
                f"AS cs FROM p ORDER BY v1 LIMIT {lim}")
        return spark, duck

    def ext_cosine_agg(self):
        """cosine_sim inside a grouped aggregate: per-label count of
        shifted-pair similarities above a threshold (comparisons on
        bit-identical doubles are deterministic)."""
        k = self.rng.randint(1, 47)
        t = self.rng.choice(["0.1", "0.2", "0.3"])
        spark = (f"SELECT a.label AS g0, count(*) AS cnt, "
                 f"CAST(SUM(CASE WHEN cosine_sim(a.embedding, "
                 f"b.embedding) >= {t} THEN 1 ELSE 0 END) AS BIGINT) "
                 f"AS s0 FROM embeddings a JOIN embeddings b "
                 f"ON b.vec_id = a.vec_id + {k} GROUP BY a.label")
        duck = (f"WITH p AS (SELECT a.label AS g0, "
                f"{self._duck_cosine('a.embedding', 'b.embedding')} "
                f"FROM embeddings a JOIN embeddings b "
                f"ON b.vec_id = a.vec_id + {k}) "
                f"SELECT g0, count(*) AS cnt, "
                f"CAST(SUM(CASE WHEN (CASE WHEN nx = 0.0 OR ny = 0.0 "
                f"THEN CAST(0.0 AS DOUBLE) ELSE dot / sqrt(nx * ny) "
                f"END) >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS s0 "
                f"FROM p GROUP BY g0")
        return spark, duck

    def ext_minhash_law(self):
        k = self.rng.choice([4, 8, 16])
        where = self.pred("documents", None)
        spark = (
            f"WITH w AS (SELECT source, doc_id AS d, "
            f"explode(split(trim(text), '\\\\s+')) AS w "
            f"FROM documents WHERE {where}), "
            f"se AS (SELECT source, minhash_signature(w, {k}) AS s "
            f"FROM w WHERE d % 2 = 0 GROUP BY source), "
            f"so AS (SELECT source, minhash_signature(w, {k}) AS s "
            f"FROM w WHERE d % 2 = 1 GROUP BY source), "
            f"sa AS (SELECT source, minhash_signature(w, {k}) AS s "
            f"FROM w GROUP BY source) "
            f"SELECT sa.source, CAST(size(sa.s) AS BIGINT) AS k, "
            f"CAST(CASE WHEN zip_with(se.s, so.s, (x, y) -> "
            f"least(x, y)) = sa.s THEN 1 ELSE 0 END AS BIGINT) AS ok "
            f"FROM sa JOIN se ON se.source = sa.source "
            f"JOIN so ON so.source = sa.source")
        duck = (f"SELECT source, CAST({k} AS BIGINT) AS k, "
                f"CAST(1 AS BIGINT) AS ok FROM documents WHERE {where} "
                f"GROUP BY source HAVING count(DISTINCT doc_id % 2) = 2")
        return spark, duck

    # ---- retrieval-pipeline templates (--search mode, round 18) -----
    # These emit a GRAFT_SEARCH spec instead of SQL: graft.SqlBatch
    # dispatches the spec to the REAL Scala operators (bm25Queries /
    # bm25Rerank / bm25RerankModel, incl. the trained-weight serving
    # path) and generates the DuckDB side from the SAME oracle builders
    # the curated entries use (rerankFeatureCtes and friends), merging
    # it into oracle_sql.json — so selfcheck adjudicates randomized
    # retrieve → rank → rerank pipelines (vocabulary-sampled query
    # tables, jittered k1/b/topK/topR, integer-grid weights, the
    # over-cap degraded branch) exactly like every other fuzz query.
    def _vocab(self):
        if self.search_vocab is None:
            rows = self.con.sql(
                "SELECT w FROM (SELECT unnest(regexp_split_to_array("
                "trim(text), '\\s+')) AS w FROM documents) t "
                "WHERE regexp_matches(w, '^[a-z]{2,20}$') GROUP BY w "
                "ORDER BY count(*) DESC, w LIMIT 512").fetchall()
            self.search_vocab = [r[0] for r in rows]
        return self.search_vocab

    def _doc_tokens(self):
        # deterministic sample of real token sequences, for PLANTED
        # phrase windows (guaranteed hits — a phrase fuzz that only
        # ever samples random vocabulary would test the empty result)
        if self.search_docs is None:
            rows = self.con.sql(
                "SELECT regexp_split_to_array(trim(text), '\\s+') "
                "FROM documents ORDER BY doc_id LIMIT 40").fetchall()
            self.search_docs = [
                [w for w in r[0]
                 if re.fullmatch(r"[a-z0-9]{1,20}", w)] for r in rows]
            self.search_docs = [t for t in self.search_docs if len(t) >= 6]
        return self.search_docs

    def search_q(self):
        vocab = self._vocab()
        mode = self.rng.choices(
            ["queries", "rerank", "model", "trained", "phrase",
             "phrase_store"], [2, 3, 2, 1, 2, 1])[0]
        if mode in ("phrase", "phrase_store"):
            # phrase tables: mostly PLANTED consecutive windows from
            # real documents (guaranteed anchors, incl. any repeated
            # tokens the corpus happens to hold), some random-vocab
            # phrases as the negative/partial cases
            toks = self._doc_tokens()
            pt = []
            for pi in range(self.rng.randint(2, 5)):
                if toks and self.rng.random() < 0.7:
                    d = self.rng.choice(toks)
                    n = self.rng.randint(2, min(4, len(d)))
                    s = self.rng.randint(0, len(d) - n)
                    ws = d[s:s + n]
                else:
                    ws = [self.rng.choice(vocab)
                          for _ in range(self.rng.randint(2, 4))]
                pt.append(f"{pi}:{' '.join(ws)}")
            return ("GRAFT_SEARCH mode=" + mode + ";q=" + "|".join(pt),
                    None)
        qt = []
        for qi in range(self.rng.randint(2, 6)):
            ws = [self.rng.choice(vocab)
                  for _ in range(self.rng.randint(1, 4))]
            qt.append(f"{qi}:{' '.join(ws)}")
        k1 = self.rng.choice(["0.8", "1.2", "1.5", "2.0"])
        b = self.rng.choice(["0.0", "0.25", "0.5", "0.75", "1.0"])
        topk = self.rng.randint(3, 15)
        topr = self.rng.randint(1, topk)
        # cap=0 forces the over-cap shuffle_hash semi-join branch on a
        # third of the rerank-family specs (bit-identical by spec law —
        # re-litigated against DuckDB every seed-run)
        cap = "0" if mode != "queries" and self.rng.random() < 0.33 \
            else "100000"
        spec = f"mode={mode};k1={k1};b={b};topK={topk};topR={topr};cap={cap}"
        if mode == "model":
            spec += ";w=" + ",".join(
                str(self.rng.randint(-10**6, 10**6)) for _ in range(4))
        spec += ";q=" + "|".join(qt)
        return ("GRAFT_SEARCH " + spec, None)

    def query(self):
        forms = [self.grouped_agg, self.distinct_q, self.limit_q,
                 self.left_join_agg, self.union_agg, self.window_q,
                 self.rollup_q, self.cube_q]
        weights = [5, 2, 3, 2, 1, 2, 1, 1]
        if self.nulls:
            forms += [self.not_in_q, self.anti_join_q, self.null_agg_q]
            weights += [2, 1, 2]
        if self.approx:
            forms += [self.approx_ln_ratio_q, self.approx_entropy_q,
                      self.approx_logsum_money_q, self.approx_psi_q,
                      self.approx_intln_q]
            weights += [3, 2, 2, 3, 3]
        if self.ext:
            forms += [self.ext_cosine_pairs, self.ext_cosine_agg,
                      self.ext_minhash_law]
            weights += [2, 1, 2]
        if self.search:
            forms += [self.search_q]
            weights += [8]
        f = self.rng.choices(forms, weights=weights)[0]
        out = f()
        return out if isinstance(out, tuple) else (out, out)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    nulls = "--nulls" in sys.argv
    ext = "--ext" in sys.argv
    approx = "--approx" in sys.argv
    search = "--search" in sys.argv
    sf_dir, out_dir = args[0], args[1]
    seed = int(args[2]) if len(args) > 2 else 1
    n = int(args[3]) if len(args) > 3 else 120
    os.makedirs(out_dir, exist_ok=True)
    g = Gen(sf_dir, seed, out_dir=out_dir, nulls=nulls, ext=ext,
            approx=approx, search=search)
    spark_q, duck_q = {}, {}
    for i in range(n):
        s_sql, d_sql = g.query()
        assert "\t" not in s_sql and "\n" not in s_sql
        # --search specs carry d_sql = None: the DuckDB text only
        # exists in the Scala oracle builders — SqlBatch generates it
        # and MERGES it into oracle_sql.json after running the batch
        assert d_sql is None or ("\t" not in d_sql and "\n" not in d_sql)
        name = f"fuzz_{seed}_{i:04d}"
        spark_q[name] = s_sql
        if d_sql is not None:
            duck_q[name] = d_sql
    # queries.tsv carries the Spark text, oracle_sql.json the DuckDB
    # text — identical except for the --ext templates, where the
    # registered Graft functions are rewritten for DuckDB, and the
    # --search specs, whose oracle side SqlBatch appends
    with open(f"{out_dir}/queries.tsv", "w") as f:
        for name, sql in spark_q.items():
            f.write(f"{name}\t{sql}\n")
    with open(f"{out_dir}/oracle_sql.json", "w") as f:
        json.dump(duck_q, f, indent=1)
    print(f"wrote {n} queries (seed {seed}) to {out_dir}")


if __name__ == "__main__":
    main()
