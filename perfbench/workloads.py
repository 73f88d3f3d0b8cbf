"""Seeded operation generators, one per workload, each with its oracle.

Every operation is a dict the JVM driver executes (`kind`, `name`, `args`)
plus the DuckDB SQL whose answer it must equal (`sql`). Operations cycle
through their workload's templates in one fixed order, with parameters
drawn from the seed (see `generate`).

The oracle SQL follows the conventions of the repository's query ledger
(`SparkEntry.oracleSql`): node ids are the table key plus the label offset
of `TpchGraph`, Cypher set semantics become DISTINCT, double outputs are
rounded to 6 decimals on both sides where the library rounds them.
"""
import numpy as np

R, N, C, S, P, O = (k * 1_000_000_000 for k in range(1, 7))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _nat(rng):
    return int(rng.integers(0, 25))


def _acct(rng, lo=0, hi=9900):
    return int(rng.integers(lo, hi))


# ------------------------------------------------------- cypher: read queries

def _read_templates():
    T = {}

    def t(f):
        T[f.__name__] = f
        return f

    @t
    def read_expand(rng, sz):
        k = _nat(rng)
        return ("MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = $nation RETURN c",
                {"nation": f"NATION_{k}"},
                f"SELECT c_custkey + {C} AS c FROM customer WHERE c_nationkey = {k}")

    @t
    def read_2hop(rng, sz):
        r, v = int(rng.integers(0, 5)), _acct(rng, 0, 9000)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) "
                f"WHERE r.name = '{REGIONS[r]}' AND c.value > {v} RETURN c, n", {},
                f"SELECT DISTINCT c_custkey + {C} AS c, c_nationkey + {N} AS n FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = {r} AND c_acctbal > {v}")

    @t
    def read_incoming(rng, sz):
        v = _acct(rng)
        return ("MATCH (n:nation)<-[:IN_NATION]-(s:supplier) WHERE s.value > $v RETURN n, s",
                {"v": v},
                f"SELECT s_nationkey + {N} AS n, s_suppkey + {S} AS s FROM supplier WHERE s_acctbal > {v}")

    @t
    def read_fork(rng, sz):
        k, v = _nat(rng), _acct(rng, 5000, 9900)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation)<-[:IN_NATION]-(su:supplier) "
                f"WHERE n.name = 'NATION_{k}' AND c.value > {v} RETURN c, su", {},
                f"SELECT DISTINCT c_custkey + {C} AS c, s_suppkey + {S} AS su FROM customer "
                f"JOIN supplier ON c_nationkey = s_nationkey WHERE c_nationkey = {k} AND c_acctbal > {v}")

    @t
    def read_count(rng, sz):
        v = _acct(rng)
        return ("MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE c.value > $v "
                "RETURN n, count(c) ORDER BY n", {"v": v},
                f"SELECT c_nationkey + {N} AS n, count(DISTINCT c_custkey) AS count_c "
                f"FROM customer WHERE c_acctbal > {v} GROUP BY 1")

    @t
    def read_topk(rng, sz):
        v, k = _acct(rng), int(rng.integers(1, 26))
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE c.value > {v} "
                f"RETURN n AS nation_id, count(c) AS customers "
                f"ORDER BY customers DESC, nation_id LIMIT {k}", {},
                f"SELECT c_nationkey + {N} AS nation_id, count(DISTINCT c_custkey) AS customers "
                f"FROM customer WHERE c_acctbal > {v} GROUP BY 1 "
                f"ORDER BY customers DESC, nation_id LIMIT {k}")

    @t
    def read_props(rng, sz):
        v, k = _acct(rng), int(rng.integers(10, 200))
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE c.value > {v} "
                f"RETURN c.name, n.name ORDER BY c.name LIMIT {k}", {},
                f"SELECT c_name AS c_name, n_name AS n_name FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {v} "
                f"ORDER BY c_name LIMIT {k}")

    @t
    def read_agg(rng, sz):
        k = _nat(rng)
        return ("MATCH (n:nation)<-[:IN_NATION]-(c:customer)-[:PLACED]->(o:order) "
                "WHERE n.name = $nation RETURN n.name, count(c), max(o.value), min(o.value)",
                {"nation": f"NATION_{k}"},
                f"SELECT n_name AS n_name, count(DISTINCT c_custkey) AS count_c, "
                f"max(o_totalprice) AS max_o_value, min(o_totalprice) AS min_o_value "
                f"FROM nation JOIN customer ON c_nationkey = n_nationkey "
                f"JOIN orders ON o_custkey = c_custkey WHERE n_nationkey = {k} GROUP BY 1")

    @t
    def read_optional(rng, sz):
        v = _acct(rng, 5000, 9990)
        return (f"MATCH (n:nation) OPTIONAL MATCH (n)<-[:IN_NATION]-(s:supplier) "
                f"WHERE s.value > {v} RETURN n.name, count(s), max(s.value) ORDER BY n.name", {},
                f"SELECT n_name AS n_name, count(DISTINCT s_suppkey) AS count_s, "
                f"max(s_acctbal) AS max_s_value FROM nation LEFT JOIN supplier "
                f"ON s_nationkey = n_nationkey AND s_acctbal > {v} GROUP BY 1")

    @t
    def read_with(rng, sz):
        v = _acct(rng)
        m = int(sz["customer"] * (9999 - v) / 11000 / 25 * rng.uniform(0.9, 1.1))
        return (f"MATCH (n:nation)<-[:IN_NATION]-(c:customer) WHERE c.value > {v} "
                f"WITH n.name AS nation, count(c) AS n_cust WHERE n_cust >= {m} "
                f"RETURN nation, n_cust ORDER BY nation", {},
                f"SELECT n_name AS nation, count(DISTINCT c_custkey) AS n_cust FROM nation "
                f"JOIN customer ON c_nationkey = n_nationkey WHERE c_acctbal > {v} "
                f"GROUP BY 1 HAVING count(DISTINCT c_custkey) >= {m}")

    @t
    def read_with_chain(rng, sz):
        v = int(rng.integers(300000, 399000))
        return (f"MATCH (n:nation)<-[:IN_NATION]-(c:customer)-[:PLACED]->(o:order) "
                f"WHERE o.value > {v} WITH n, count(o) AS n_orders "
                f"WITH n_orders, count(n) AS n_nations RETURN n_orders, n_nations ORDER BY n_orders", {},
                f"WITH per AS (SELECT c_nationkey, count(DISTINCT o_orderkey) AS n_orders "
                f"FROM customer JOIN orders ON o_custkey = c_custkey WHERE o_totalprice > {v} "
                f"GROUP BY 1) SELECT n_orders, count(*) AS n_nations FROM per GROUP BY 1")

    @t
    def read_union(rng, sz):
        a, b = _nat(rng), _nat(rng)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = 'NATION_{a}' RETURN c AS x "
                f"UNION MATCH (s:supplier)-[:IN_NATION]->(n:nation) WHERE n.name = 'NATION_{b}' RETURN s AS x",
                {},
                f"SELECT c_custkey + {C} AS x FROM customer WHERE c_nationkey = {a} "
                f"UNION SELECT s_suppkey + {S} FROM supplier WHERE s_nationkey = {b}")

    @t
    def read_varlen(rng, sz):
        v = _acct(rng, 8000, 9900)
        return (f"MATCH (c:customer)-[:IN_NATION|IN_REGION*1..2]->(x) WHERE c.value > {v} RETURN c, x",
                {},
                f"SELECT c_custkey + {C} AS c, c_nationkey + {N} AS x FROM customer WHERE c_acctbal > {v} "
                f"UNION SELECT c_custkey + {C}, n_regionkey + {R} FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {v}")

    @t
    def read_orderby(rng, sz):
        k, skip, lim = _nat(rng), int(rng.integers(0, 100)), int(rng.integers(5, 100))
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = $nation "
                f"RETURN c, n ORDER BY c DESC SKIP {skip} LIMIT {lim}", {"nation": f"NATION_{k}"},
                f"SELECT c_custkey + {C} AS c, c_nationkey + {N} AS n FROM customer "
                f"WHERE c_nationkey = {k} ORDER BY c DESC LIMIT {lim} OFFSET {skip}")

    @t
    def read_edge_prop(rng, sz):
        w, pv = int(rng.integers(48, 51)), int(rng.integers(1500, 1950))
        return (f"MATCH (o:order)-[r:CONTAINS]->(p:part) WHERE r.weight >= {w} AND p.value > {pv} "
                f"RETURN o, p", {},
                f"SELECT l_orderkey + {O} AS o, l_partkey + {P} AS p FROM lineitem "
                f"JOIN part ON l_partkey = p_partkey WHERE p_retailprice > {pv} "
                f"GROUP BY 1, 2 HAVING min(l_quantity) >= {w}")

    @t
    def read_in_list(rng, sz):
        a, b, v = _nat(rng), _nat(rng), _acct(rng)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) "
                f"WHERE n.name IN ['NATION_{a}', 'NATION_{b}'] AND c.value > $v RETURN c, n", {"v": v},
                f"SELECT c_custkey + {C} AS c, c_nationkey + {N} AS n FROM customer "
                f"WHERE c_nationkey IN ({a}, {b}) AND c_acctbal > {v}")

    @t
    def read_orders(rng, sz):
        v = _acct(rng, 9900, 9990)
        return (f"MATCH (c:customer)-[:PLACED]->(o:order)-[:CONTAINS]->(p:part) "
                f"WHERE c.value > {v} RETURN c, p", {},
                f"SELECT DISTINCT o_custkey + {C} AS c, l_partkey + {P} AS p FROM orders "
                f"JOIN customer ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_acctbal > {v}")

    @t
    def read_where_or(rng, sz):
        v, k = _acct(rng, 9500, 9990), _nat(rng)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) "
                f"WHERE c.value > {v} OR n.name = 'NATION_{k}' RETURN c, n", {},
                f"SELECT c_custkey + {C} AS c, c_nationkey + {N} AS n FROM customer "
                f"WHERE c_acctbal > {v} OR c_nationkey = {k}")

    @t
    def read_not_exists(rng, sz):
        k = _nat(rng)
        return (f"MATCH (c:customer)-[:IN_NATION]->(n:nation) "
                f"WHERE n.name = 'NATION_{k}' AND NOT (c)-[:PLACED]->(:order) RETURN c", {},
                f"SELECT c_custkey + {C} AS c FROM customer WHERE c_nationkey = {k} "
                f"AND c_custkey NOT IN (SELECT o_custkey FROM orders)")

    @t
    def read_params(rng, sz):
        k, v = _nat(rng), _acct(rng)
        return ("MATCH (c:customer)-[:IN_NATION]->(n:nation {name: $nat}) "
                "WHERE c.value > $min RETURN n, count(c) AS k",
                {"nat": f"NATION_{k}", "min": v},
                f"SELECT c_nationkey + {N} AS n, count(DISTINCT c_custkey) AS k FROM customer "
                f"WHERE c_nationkey = {k} AND c_acctbal > {v} GROUP BY 1")

    return T


def _read_op(f):
    def make(rng, sz):
        q, params, sql = f(rng, sz)
        return "cypher_read", {"q": q, "params": params}, sql
    return make


# ---------------------------------------------- cypher: write sessions + read

def _w(q, params=None):
    return {"q": q, "params": params or {}}


def _write_templates():
    def create(rng, sz):
        hub, w = f"hub{int(rng.integers(0, 1000))}", int(rng.integers(1, 100))
        ks = sorted(set(int(x) for x in rng.integers(0, 25, 3)))
        names = ", ".join(f"'NATION_{k}'" for k in ks)
        return ([_w(f"CREATE (h:hub {{id: 9000000000, name: '{hub}'}})"),
                 _w(f"MATCH (n:nation), (h:hub) WHERE n.name IN [{names}] "
                    f"CREATE (n)-[:IN_HUB {{w: {w}}}]->(h)")],
                _w("MATCH (n:nation)-[r:IN_HUB]->(h:hub) RETURN n, h.name AS hub, r.w AS w ORDER BY n"),
                f"SELECT n_nationkey + {N} AS n, '{hub}' AS hub, {w} AS w FROM nation "
                f"WHERE n_nationkey IN ({', '.join(map(str, ks))})")

    def merge(rng, sz):
        k = _nat(rng)
        stmt = (f"MATCH (n:nation), (h:hub) WHERE n.name = 'NATION_{k}' MERGE (n)-[:IN_HUB]->(h)")
        return ([_w("MERGE (h:hub {id: 9100000000, name: 'mhub'})"), _w(stmt), _w(stmt)],
                _w("MATCH (n:nation)-[:IN_HUB]->(h:hub) RETURN n, h.name AS hub"),
                f"SELECT {N + k} AS n, 'mhub' AS hub")

    def set_(rng, sz):
        k, delta = _nat(rng), int(rng.integers(1, 5000))
        return ([_w("MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = $nation "
                    "SET c.tier = 'gold', c.value = c.value + $delta",
                    {"nation": f"NATION_{k}", "delta": delta})],
                _w("MATCH (c:customer) WHERE c.tier = 'gold' RETURN c, c.value AS v"),
                f"SELECT c_custkey + {C} AS c, c_acctbal + {delta} AS v FROM customer "
                f"WHERE c_nationkey = {k}")

    def delete(rng, sz):
        k = _nat(rng)
        return ([_w(f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = 'NATION_{k}' "
                    f"DETACH DELETE c")],
                _w("MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n, count(c) AS nc ORDER BY n"),
                f"SELECT c_nationkey + {N} AS n, count(DISTINCT c_custkey) AS nc FROM customer "
                f"WHERE c_nationkey <> {k} GROUP BY 1")

    T = {"write_create": create, "write_merge": merge, "write_set": set_, "write_delete": delete}

    def wrap(f):
        def make(rng, sz):
            writes, read, sql = f(rng, sz)
            return "cypher_write", {"writes": writes, "read": read}, sql
        return make
    return {k: wrap(f) for k, f in T.items()}


# ------------------------------------------ analytics: algorithms and kernel

def _pagerank_sql(vsql, esql, iters, seeds_sql=None, damping=0.85):
    """The unrolled recurrence of the repository's pagerank / ppr oracles
    over an arbitrary vertex and edge set."""
    d, omd = repr(damping), repr(1 - damping)
    head = (f"WITH v AS MATERIALIZED ({vsql}), e AS MATERIALIZED ({esql}), "
            "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1), "
            "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM v), ")
    if seeds_sql is None:
        head += "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM v), "
    else:
        head += (f"s AS MATERIALIZED ({seeds_sql}), "
                 "p AS MATERIALIZED (SELECT v.id, CASE WHEN v.id IN (SELECT id FROM s) "
                 "THEN 1.0::DOUBLE / (SELECT count(*) FROM s) ELSE 0.0::DOUBLE END AS p FROM v), "
                 "r0 AS MATERIALIZED (SELECT id, p AS rank FROM p), ")
    stages = []
    for i in range(iters):
        stages.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank / deg.deg) AS contrib "
            f"FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON e.src = deg.id GROUP BY 1)")
        if seeds_sql is None:
            stages.append(
                f"d{i} AS MATERIALIZED (SELECT (SELECT n FROM nv) - coalesce(sum(rank), 0) AS dm "
                f"FROM r{i} WHERE id IN (SELECT id FROM deg))")
            stages.append(
                f"r{i + 1} AS MATERIALIZED (SELECT v.id, {omd} + {d} * (coalesce(c.contrib, 0) "
                f"+ (SELECT dm FROM d{i}) / (SELECT n FROM nv)) AS rank "
                f"FROM v LEFT JOIN c{i} c ON v.id = c.id)")
        else:
            stages.append(
                f"d{i} AS MATERIALIZED (SELECT 1.0::DOUBLE - coalesce(sum(rank), 0) AS dm "
                f"FROM r{i} WHERE id IN (SELECT id FROM deg))")
            stages.append(
                f"r{i + 1} AS MATERIALIZED (SELECT p.id, {omd} * p.p + {d} * (coalesce(c.contrib, 0) "
                f"+ (SELECT dm FROM d{i}) * p.p) AS rank FROM p LEFT JOIN c{i} c ON p.id = c.id)")
    return head + ", ".join(stages) + f" SELECT id, round(rank, 6) AS rank FROM r{iters}"


def _analytics_templates():
    def cust_pick(rng):
        m = int(rng.choice([4, 8, 16]))
        return m, int(rng.integers(0, m))

    def geo_cust(m, r):
        v = (f"SELECT n_nationkey + {N} AS id FROM nation UNION ALL "
             f"SELECT r_regionkey + {R} FROM region UNION ALL "
             f"SELECT c_custkey + {C} FROM customer WHERE c_custkey % {m} = {r}")
        e = (f"SELECT n_nationkey + {N} AS src, n_regionkey + {R} AS dst FROM nation UNION ALL "
             f"SELECT c_custkey + {C}, c_nationkey + {N} FROM customer WHERE c_custkey % {m} = {r}")
        return v, e

    def bfs_geo(rng, sz):
        k = _nat(rng)
        return ("algorithm", {"alg": "bfs", "etypes": ["IN_NATION", "IN_REGION"], "nation": k},
                f"WITH s AS (SELECT c_custkey + {C} AS id FROM customer WHERE c_nationkey = {k}) "
                f"SELECT id, 0 AS level FROM s "
                f"UNION ALL SELECT n_nationkey + {N}, 1 FROM nation "
                f"WHERE n_nationkey = {k} AND EXISTS (SELECT 1 FROM s) "
                f"UNION ALL SELECT n_regionkey + {R}, 2 FROM nation "
                f"WHERE n_nationkey = {k} AND EXISTS (SELECT 1 FROM s)")

    def bfs_orders(rng, sz):
        k = _nat(rng)
        return ("algorithm", {"alg": "bfs", "etypes": ["PLACED", "CONTAINS"], "nation": k},
                f"WITH s AS (SELECT c_custkey FROM customer WHERE c_nationkey = {k}), "
                f"o AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM s)) "
                f"SELECT c_custkey + {C} AS id, 0 AS level FROM s "
                f"UNION ALL SELECT o_orderkey + {O}, 1 FROM o "
                f"UNION ALL SELECT DISTINCT l_partkey + {P}, 2 FROM lineitem "
                f"WHERE l_orderkey IN (SELECT o_orderkey FROM o)")

    def sssp(rng, sz):
        s = int(rng.integers(0, sz["supplier"]))
        return ("algorithm", {"alg": "sssp", "supplier": s},
                f"WITH dp AS (SELECT l_partkey AS p, min(l_quantity) AS d FROM lineitem "
                f"WHERE l_suppkey = {s} GROUP BY 1), "
                f"po AS (SELECT l_partkey AS p, l_orderkey AS o, min(l_quantity) AS w FROM lineitem "
                f"WHERE l_partkey IN (SELECT p FROM dp) GROUP BY 1, 2), "
                f"dord AS (SELECT po.o, min(dp.d + po.w) AS d FROM dp JOIN po ON dp.p = po.p GROUP BY 1) "
                f"SELECT {S + s} AS id, 0.0 AS dist "
                f"UNION ALL SELECT p + {P}, d FROM dp UNION ALL SELECT o + {O}, d FROM dord")

    def pagerank(rng, sz):
        m, r = cust_pick(rng)
        iters = int(rng.integers(5, 13))
        v, e = geo_cust(m, r)
        return ("algorithm", {"alg": "pagerank", "mod": m, "rem": r, "iters": iters},
                _pagerank_sql(v, e, iters))

    def ppr(rng, sz):
        m, r = cust_pick(rng)
        iters, region = int(rng.integers(5, 13)), int(rng.integers(0, 5))
        v, e = geo_cust(m, r)
        return ("algorithm", {"alg": "ppr", "mod": m, "rem": r, "iters": iters, "region": region},
                _pagerank_sql(v, e, iters,
                              f"SELECT n_nationkey + {N} AS id FROM nation WHERE n_regionkey = {region}"))

    def wcc(rng, sz):
        regions = sorted(set(int(x) for x in rng.integers(0, 5, int(rng.integers(1, 4)))))
        rs = ", ".join(map(str, regions))
        return ("algorithm", {"alg": "wcc", "regions": regions},
                f"SELECT r_regionkey + {R} AS id, r_regionkey + {R} AS component FROM region "
                f"UNION ALL SELECT n_nationkey + {N}, CASE WHEN n_regionkey IN ({rs}) "
                f"THEN n_regionkey + {R} ELSE n_nationkey + {N} END FROM nation "
                f"UNION ALL SELECT s_suppkey + {S}, CASE WHEN n_regionkey IN ({rs}) "
                f"THEN n_regionkey + {R} ELSE s_nationkey + {N} END FROM supplier "
                f"JOIN nation ON s_nationkey = n_nationkey")

    def mxm_anypair(rng, sz):
        m, r = cust_pick(rng)
        return ("kernel", {"op": "mxm_anypair", "mod": m, "rem": r},
                f"SELECT DISTINCT c_custkey + {C} AS i, n_regionkey + {R} AS j FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey % {m} = {r}")

    def mxm_minplus(rng, sz):
        s = int(rng.integers(0, sz["supplier"]))
        return ("kernel", {"op": "mxm_minplus", "supplier": s},
                f"WITH sp AS (SELECT l_partkey AS p, min(l_quantity) AS w FROM lineitem "
                f"WHERE l_suppkey = {s} GROUP BY 1), "
                f"po AS (SELECT l_partkey AS p, l_orderkey AS o, min(l_quantity) AS w FROM lineitem "
                f"WHERE l_partkey IN (SELECT p FROM sp) GROUP BY 1, 2) "
                f"SELECT {S + s} AS i, o + {O} AS j, min(sp.w + po.w) AS v FROM sp "
                f"JOIN po ON sp.p = po.p GROUP BY 2")

    def vxm_minplus(rng, sz):
        k = _nat(rng)
        return ("kernel", {"op": "vxm_minplus", "nation": k},
                f"SELECT o_orderkey + {O} AS i, c_acctbal + o_totalprice AS v FROM orders "
                f"JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {k}")

    def reduce_rows(rng, sz):
        lo = int(rng.integers(0, max(1, sz["orders"] - 20000)))
        hi = lo + int(rng.integers(2000, 20000))
        return ("kernel", {"op": "reduce_rows", "lo": lo, "hi": hi},
                f"SELECT l_orderkey + {O} AS i, count(DISTINCT l_partkey) AS v FROM lineitem "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi} GROUP BY 1")

    def reduce_cols(rng, sz):
        lo = int(rng.integers(0, max(1, sz["supplier"] - 50)))
        hi = lo + int(rng.integers(5, 50))
        return ("kernel", {"op": "reduce_cols", "lo": lo, "hi": hi},
                f"SELECT l_partkey + {P} AS i, min(l_quantity) AS v FROM lineitem "
                f"WHERE l_suppkey >= {lo} AND l_suppkey < {hi} GROUP BY 1")

    return {f.__name__: f for f in [bfs_geo, bfs_orders, sssp, pagerank, ppr, wcc,
                                    mxm_anypair, mxm_minplus, vxm_minplus, reduce_rows, reduce_cols]}


# ---------------------------------------------------------- analytics: corpus

class _JavaRandom:
    """java.util.Random, which seeds `Similarity.hyperplanes`."""
    M = (1 << 48) - 1

    def __init__(self, seed):
        self.s = (seed ^ 0x5DEECE66D) & self.M

    def _next(self, bits):
        self.s = (self.s * 0x5DEECE66D + 0xB) & self.M
        return self.s >> (48 - bits)

    def next_double(self):
        return ((self._next(26) << 27) + self._next(27)) * (1.0 / (1 << 53))


def hyperplanes(dim, bits, seed):
    rnd = _JavaRandom(seed * 7919 + 13)
    return [[rnd.next_double() * 2 - 1 for _ in range(dim)] for _ in range(bits)]


_SH = ("toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws "
       "FROM docs), "
       "sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] "
       "AS shingle FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), "
       "sh AS (SELECT * FROM sh0 WHERE shingle IN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 1000)), "
       "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
       "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x "
       "JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), ")


def _jaccard_cte(lo, hi, thr):
    return (f"WITH docs AS (SELECT * FROM documents WHERE doc_id >= {lo} AND doc_id < {hi}), " + _SH +
            f"jp AS (SELECT a, b, jaccard FROM (SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard "
            f"FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id) WHERE jaccard >= {thr}) ")


def _cos(a, b):
    return f"round(list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), 6)"


def _corpus_templates():
    def doc_range(rng, sz):
        n = sz["documents"]
        size = int(n * rng.uniform(0.15, 0.3))
        lo = int(rng.integers(0, n - size))
        return lo, lo + size

    def emb_range(rng, sz):
        n = sz["embeddings"]
        size = int(n * rng.uniform(0.3, 0.6))
        lo = int(rng.integers(0, n - size))
        return lo, lo + size

    def jaccard(rng, sz):
        lo, hi = doc_range(rng, sz)
        thr = float(rng.choice([0.5, 0.6, 0.7, 0.8]))
        return ("text", {"op": "jaccard", "lo": lo, "hi": hi, "threshold": thr},
                _jaccard_cte(lo, hi, thr) + "SELECT a, b, jaccard FROM jp")

    def minhash(rng, sz):
        lo, hi = doc_range(rng, sz)
        thr = float(rng.choice([0.5, 0.6, 0.7]))
        return ("text", {"op": "minhash", "lo": lo, "hi": hi, "threshold": thr},
                _jaccard_cte(lo, hi, thr) + "SELECT a, b FROM jp")

    def simhash(rng, sz):
        lo, hi = doc_range(rng, sz)
        thr = float(rng.choice([0.5, 0.6, 0.7]))
        return ("text", {"op": "simhash", "lo": lo, "hi": hi, "threshold": thr},
                _jaccard_cte(lo, hi, thr) + "SELECT a, b FROM jp")

    def tfidf(rng, sz):
        lo, hi = doc_range(rng, sz)
        thr = float(rng.choice([0.5, 0.6, 0.7]))
        return ("text", {"op": "tfidf", "lo": lo, "hi": hi, "threshold": thr},
                f"WITH docs AS (SELECT * FROM documents WHERE doc_id >= {lo} AND doc_id < {hi}), "
                "toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), "
                "w -> w <> '')) AS tok FROM docs), "
                "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), "
                "dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1 "
                "HAVING count(DISTINCT doc_id) <= 100), "
                "nv AS (SELECT count(*)::DOUBLE AS n FROM docs), "
                "w AS (SELECT tf.doc_id, tf.tok, tf.tf * ln(((SELECT n FROM nv) + 1) / (dfreq.df + 1)) AS w "
                "FROM tf JOIN dfreq USING (tok)), "
                "nm AS (SELECT doc_id, sqrt(CAST(sum((w * w)::DECIMAL(38,12)) AS DOUBLE)) AS nm "
                "FROM w GROUP BY 1), "
                "dots AS (SELECT x.doc_id AS a, y.doc_id AS b, "
                "CAST(sum((x.w * y.w)::DECIMAL(38,12)) AS DOUBLE) AS dot "
                "FROM w x JOIN w y ON x.tok = y.tok AND x.doc_id < y.doc_id GROUP BY 1, 2) "
                "SELECT a, b, sim FROM (SELECT a, b, round(dot / (na.nm * nb.nm), 6) AS sim "
                "FROM dots JOIN nm na ON a = na.doc_id JOIN nm nb ON b = nb.doc_id) "
                f"WHERE sim >= {thr}")

    def queries(rng, lo, hi):
        return sorted(set(int(x) for x in rng.integers(lo, hi, int(rng.integers(3, 11)))))

    def knn_brute(rng, sz):
        lo, hi = emb_range(rng, sz)
        qs, k = queries(rng, lo, hi), int(rng.choice([3, 5, 10]))
        ql = ", ".join(map(str, qs))
        return ("ml", {"op": "brute", "lo": lo, "hi": hi, "queries": qs, "k": k},
                f"WITH c AS (SELECT * FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}), "
                f"s AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, {_cos('q.embedding', 'c.embedding')} AS sim "
                f"FROM c q JOIN c ON q.vec_id IN ({ql}) AND c.vec_id <> q.vec_id), "
                "r AS (SELECT q_id, vec_id, sim, row_number() OVER "
                "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) "
                f"SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= {k}")

    def knn_lsh(rng, sz):
        lo, hi = emb_range(rng, sz)
        qs, k = queries(rng, lo, hi), int(rng.choice([3, 5, 10]))
        bits, tables = int(rng.choice([3, 4])), int(rng.choice([4, 8]))
        ql = ", ".join(map(str, qs))

        def bucket(t):
            terms = []
            for b, hp in enumerate(hyperplanes(64, bits, t)):
                lits = "[" + ", ".join(f"'{x!r}'::DOUBLE" for x in hp) + "]"
                terms.append(f"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), {lits}) > 0 "
                             f"THEN {1 << b} ELSE 0 END)")
            return " + ".join(terms)
        branches = " UNION ALL ".join(
            f"SELECT vec_id, {t} AS tbl, {bucket(t)} AS bucket FROM c" for t in range(tables))
        return ("ml", {"op": "lsh", "lo": lo, "hi": hi, "queries": qs, "k": k,
                       "bits": bits, "tables": tables},
                f"WITH c AS (SELECT * FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}), "
                f"cb AS ({branches}), qb AS (SELECT * FROM cb WHERE vec_id IN ({ql})), "
                "cand AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS vec_id FROM qb "
                "JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id), "
                f"s AS (SELECT cand.q_id, cand.vec_id, {_cos('q.embedding', 'e.embedding')} AS sim "
                "FROM cand JOIN c q ON q.vec_id = cand.q_id JOIN c e ON e.vec_id = cand.vec_id), "
                "r AS (SELECT q_id, vec_id, sim, row_number() OVER "
                "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) "
                f"SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= {k}")

    def neardup(rng, sz):
        lo, hi = emb_range(rng, sz)
        thr = float(rng.choice([0.5, 0.55, 0.6]))
        return ("ml", {"op": "neardup", "lo": lo, "hi": hi, "threshold": thr},
                f"WITH c AS (SELECT * FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}) "
                f"SELECT a.vec_id AS a, b.vec_id AS b, {_cos('a.embedding', 'b.embedding')} AS sim "
                f"FROM c a JOIN c b ON a.vec_id < b.vec_id "
                f"WHERE {_cos('a.embedding', 'b.embedding')} >= {thr}")

    return {f.__name__: f for f in [jaccard, minhash, simhash, tfidf, knn_brute, knn_lsh, neardup]}


# Two workloads, each a fixed mix of operation templates:
#  - cypher: the read templates plus the write sessions (one in five)
#  - analytics: graph algorithms, kernel ops and the corpus operators
WORKLOADS = ["cypher", "analytics"]


def templates(workload):
    if workload == "cypher":
        return {**{k: _read_op(f) for k, f in _read_templates().items()}, **_write_templates()}
    if workload == "analytics":
        return {**_analytics_templates(), **_corpus_templates()}
    raise ValueError(f"unknown workload {workload}")


def generate(workload, seed, sizes, count):
    """`count` operations cycling through the workload's templates in one
    fixed order, parameters drawn from `seed`. The order does not depend on
    the seed, so a run of any length sees the same template mix whatever
    the seed; only the parameters and the data vary."""
    rng = np.random.default_rng(seed)
    tpl = templates(workload)
    order = [str(n) for n in np.random.default_rng(0).permutation(sorted(tpl))]
    ops = []
    while len(ops) < count:
        name = order[len(ops) % len(order)]
        kind, args, sql = tpl[name](rng, sizes)
        ops.append({"id": len(ops), "kind": kind, "name": name, "args": args, "sql": sql})
    return ops
