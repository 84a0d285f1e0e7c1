"""The ``graph_api`` workload: egraphdb's own traffic through ``Engine``.

One closed-loop client issues calls back to back.  Calls come in blocks of
8 with a fixed mix; a block opens and closes with a write, and the seed
shuffles the six reads between them:

* 3 lookups: ``get_detail``, ``multi_get`` (5 keys), ``out_edges``
* 1 ``search``: a seeded ``c_acctbal`` range OR-ed with a ``c_mktsegment``
  condition, an AND filter on the details, and ``selected_paths``
* 2 traversals: ``traverse(maxdepth=1)`` and ``find_path``
* 2 writes: a batch through ``ingest.make_vertices``, then
  ``Engine.upsert_nodes``, then ``.reindex()``, then a read-back

Each write batch (2 updates of base customers, 2 new customers) is upserted
into the engine the previous write returned, so the second write builds on
the first, and every read runs on the engine the first write returned: the
writes have fixed places so that every read pays for the same lineage,
whatever the seed.  A block starts over from the cached fixture, so the
lineage a call pays for does not depend on how many blocks a run times.
The vertices plan of ``ingest.upsert_nodes`` holds the table it updates
twice, so k chained upserts hold the base table 2**k times; with four, one
search ran out of execution memory in a 2 GB driver, so a block stops at
two.

Each call's answer is kept, and :class:`ApiOracle` checks it after the
timed window against DuckDB SQL over the same parquet files, replaying the
writes in order.
"""

from __future__ import annotations

import json
import time
from collections import deque

import duckdb

# the reads of a block, between its two writes
SHUFFLED = ("get_detail", "multi_get", "out_edges", "search", "traverse",
            "find_path")
CLASS = {
    "get_detail": "lookup", "multi_get": "lookup", "out_edges": "lookup",
    "search": "search", "traverse": "traverse", "find_path": "traverse",
    "write": "write",
}
CLASSES = ("lookup", "search", "traverse", "write")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WRITE_UPDATES = 2
WRITE_INSERTS = 2
FIND_PATH_MAX_DEPTH = 6
CUSTOMER_PATHS = [["c_mktsegment"], ["c_acctbal"], ["c_name"]]
CUSTOMER_LC_PATHS = [["c_mktsegment"]]


def _details(row: dict) -> str:
    return json.dumps(
        {
            "c_custkey": row["c_custkey"],
            "c_name": row["c_name"],
            "c_nationkey": row["c_nationkey"],
            "c_acctbal": row["c_acctbal"],
            "c_mktsegment": row["c_mktsegment"],
        },
        separators=(",", ":"),
    )


class CallMaker:
    """Seeded call parameters.  Lookups pick keys of the base tables and of
    the block's write batches, plus an absent key one time in ten."""

    def __init__(self, rng, data):
        self.rng = rng
        cust = data["customer"].to_pylist()
        self.customers = {r["c_custkey"]: r for r in cust}
        self.n_base = len(cust)
        self.next_custkey = self.n_base
        self.written: list[str] = []
        self.nation_region = {
            r["n_nationkey"]: r["n_regionkey"] for r in data["nation"].to_pylist()
        }
        self.keys = (
            [f"region:{i}" for i in range(5)]
            + [f"nation:{i}" for i in range(25)]
            + [f"customer:{k}" for k in self.customers]
            + [f"supplier:{r['s_suppkey']}" for r in data["supplier"].to_pylist()]
            + [f"part:{r['p_partkey']}" for r in data["part"].to_pylist()]
        )
        self.sources = [k for k in self.keys if not k.startswith("region:")]
        self.n_parts = data["part"].num_rows

    def _key(self) -> str:
        if self.rng.random() < 0.1:
            return f"customer:{10**9 + int(self.rng.integers(0, 1000))}"  # absent
        keys = self.keys + self.written
        return keys[int(self.rng.integers(0, len(keys)))]

    def block(self) -> list[str]:
        """The ops of a new block; its lookups see only its own writes."""
        self.written = []
        ops = list(SHUFFLED)
        self.rng.shuffle(ops)
        return ["write", *ops, "write"]

    def params(self, op: str) -> dict:
        r = self.rng
        if op == "get_detail":
            return {"key": self._key()}
        if op == "multi_get":
            return {"keys": [self._key() for _ in range(5)]}
        if op == "out_edges":
            return {"key": self.sources[int(r.integers(0, len(self.sources)))]}
        if op == "search":
            lo = round(float(r.uniform(-1000.0, 9000.0)), 2)
            return {
                "lo": lo,
                "hi": round(lo + float(r.uniform(200.0, 1500.0)), 2),
                "segment": SEGMENTS[int(r.integers(0, len(SEGMENTS)))],
                "flo": round(float(r.uniform(-1000.0, 2000.0)), 2),
                "fhi": round(float(r.uniform(6000.0, 10000.0)), 2),
            }
        if op == "traverse":
            if r.random() < 0.5:
                return {"key": f"customer:{int(r.integers(0, self.n_base))}"}
            return {"key": f"part:{int(r.integers(0, self.n_parts))}"}
        if op == "find_path":
            # a base customer to a region other than its own: a path has to
            # go through a part and a supplier (four levels); a region no
            # supplier is in is searched until the frontier empties (five)
            ck = int(r.integers(0, self.n_base))
            own = self.nation_region[self.customers[ck]["c_nationkey"]]
            region = int((own + 1 + r.integers(0, 4)) % 5)
            return {"src": f"customer:{ck}", "dst": f"region:{region}"}
        if op == "write":
            return {"rows": self._write_rows()}
        raise ValueError(op)

    def _write_rows(self) -> list[dict]:
        r = self.rng
        rows = []
        picked: set[int] = set()
        while len(picked) < WRITE_UPDATES:
            picked.add(int(r.integers(0, self.n_base)))
        for ck in sorted(picked):
            cur = dict(self.customers[ck])
            cur["c_acctbal"] = round(float(r.uniform(-999.99, 9999.99)), 2)
            cur["c_mktsegment"] = SEGMENTS[int(r.integers(0, len(SEGMENTS)))]
            rows.append(cur)
        for _ in range(WRITE_INSERTS):
            ck = self.next_custkey
            self.next_custkey += 1
            rows.append({
                "c_custkey": ck,
                "c_name": f"Customer#{ck:09d}",
                "c_nationkey": int(r.integers(0, 25)),
                "c_acctbal": round(float(r.uniform(-999.99, 9999.99)), 2),
                "c_mktsegment": SEGMENTS[int(r.integers(0, len(SEGMENTS)))],
            })
        self.written += [f"customer:{row['c_custkey']}" for row in rows]
        return rows


def search_query(p: dict) -> dict:
    return {
        "type": "index",
        "conditions": {
            "any": [
                {"key": [p["lo"], p["hi"]], "key_type": "double", "index_name": "c_acctbal"},
                {"key": p["segment"], "key_type": "text", "index_name": "c_mktsegment"},
            ]
        },
        "filters": [
            {"key": [p["flo"], p["fhi"]], "key_type": "double",
             "index_json_path": ["c_acctbal"]}
        ],
        "selected_paths": {"key": ["__key"], "name": ["c_name"], "acctbal": ["c_acctbal"]},
    }


class ApiClient:
    """Issues the calls against an :class:`Engine` and times each one.

    ``build`` is the time for the call to hand back its DataFrame (Python
    operator code plus Catalyst analysis; for ``find_path`` also its
    per-level jobs), ``exec`` the time to collect it.
    """

    def __init__(self, spark, engine, tracer, cut_records):
        from pyspark.sql import functions as F

        from egraphdb_spark.ingest import make_vertices

        self.spark = spark
        self.base = self.engine = engine
        self.block = -1
        self.tracer = tracer
        self.cut_records = cut_records  # checkpoint.PROFILE_RECORDS
        self._F = F
        self._make_vertices = make_vertices

    def start_block(self) -> None:
        """Start over from the cached fixture."""
        self.engine = self.base
        self.block += 1

    def call(self, op: str, p: dict) -> dict:
        rec = {"op": op, "class": CLASS[op], "params": p, "block": self.block}
        tr = self.tracer
        cuts0 = len(self.cut_records)
        with tr.call(op, "client") as counts:
            t0 = time.perf_counter()
            if op == "write":
                answer = self._write(p, rec)
            else:
                with tr.span(f"{op}.build", "engine"):
                    df = self._build(op, p)
                t1 = time.perf_counter()
                with tr.span(f"{op}.exec", "spark"):
                    answer = self._collect(op, df)
                rec["build_s"] = t1 - t0
            rec["total_s"] = time.perf_counter() - t0
        rec["exec_s"] = rec["total_s"] - rec["build_s"]
        rec["answer"] = answer
        cuts = self.cut_records[cuts0:]
        rec["cuts"] = len(cuts)
        rec["cut_s"] = sum(s for _, s in cuts)
        rec.update(counts)
        return rec

    def _build(self, op: str, p: dict):
        e = self.engine
        if op == "get_detail":
            return e.get_detail(p["key"])
        if op == "multi_get":
            return e.multi_get(p["keys"])
        if op == "out_edges":
            return e.out_edges(p["key"])
        if op == "search":
            return e.search(search_query(p))
        if op == "traverse":
            return e.traverse(p["key"], maxdepth=1)
        if op == "find_path":
            return e.find_path(p["src"], p["dst"], FIND_PATH_MAX_DEPTH)
        raise ValueError(op)

    @staticmethod
    def _collect(op: str, df):
        if op == "find_path":
            return df  # already a list of keys (or None)
        rows = df.collect()
        if op in ("get_detail", "multi_get"):
            return [(r["key"], r["kind"], r["details"], r["version"]) for r in rows]
        if op == "out_edges":
            return [r["dst_key"] for r in rows]
        if op == "search":
            return [(r["key"], r["name"], r["acctbal"]) for r in rows]
        return [(r["level"], r["key"]) for r in rows]  # traverse

    def _write(self, p: dict, rec: dict):
        F, tr = self._F, self.tracer
        t0 = time.perf_counter()
        with tr.span("write.make_vertices", "ingest"):
            raw = self.spark.createDataFrame(
                [
                    (f"customer:{r['c_custkey']}", _details(r), CUSTOMER_PATHS,
                     CUSTOMER_LC_PATHS)
                    for r in p["rows"]
                ],
                "key string, details string, index_paths array<array<string>>, "
                "lowercase_index_paths array<array<string>>",
            )
            batch = self._make_vertices(raw, kind=F.lit("customer"))
        t1 = time.perf_counter()
        with tr.span("write.upsert_nodes", "ingest"):
            upserted = self.engine.upsert_nodes(batch)
        t2 = time.perf_counter()
        with tr.span("write.reindex", "ingest"):
            self.engine = upserted.reindex()
        t3 = time.perf_counter()
        with tr.span("write.read_back", "spark"):
            keys = [f"customer:{r['c_custkey']}" for r in p["rows"]]
            rows = self.engine.multi_get(keys).collect()
        rec["build_s"] = t3 - t0
        rec["upsert_nodes_s"] = t2 - t1
        rec["build_indexes_s"] = t3 - t2
        return [(r["key"], r["details"], r["version"]) for r in rows]

    def plan_nodes(self) -> int:
        """Nodes in the analysed plan of the current vertices table."""
        plan = self.engine.vertices._jdf.queryExecution().analyzed()
        return len(plan.treeString().splitlines())


EDGES_SQL = """
CREATE TABLE edges AS
SELECT 'customer:' || c_custkey AS src, 'nation:' || c_nationkey AS dst FROM customer
UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
UNION ALL SELECT * FROM (
  SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
UNION ALL SELECT * FROM (
  SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem)
"""

# table, primary-key column and the columns serialised into ``details``
ENTITY = {
    "region": ("r_regionkey", ["r_regionkey", "r_name"]),
    "nation": ("n_nationkey", ["n_nationkey", "n_name", "n_regionkey"]),
    "customer": ("c_custkey",
                 ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]),
    "supplier": ("s_suppkey", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]),
    "part": ("p_partkey",
             ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
}


class ApiOracle:
    """Expected answers from DuckDB over the same parquet files.

    Customers live in a ``customer_cur`` table; :meth:`check` replays the
    calls in order, applying each write's batch to it and resetting it to
    the base table when a new block starts, so every read is checked
    against the state it ran on.
    """

    def __init__(self, data_dir: str):
        from egraphdb_spark.graph import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self.con.execute("CREATE TABLE customer_cur AS SELECT * FROM customer")
        self.block = None
        self.con.execute(EDGES_SQL)
        self.adj: dict[str, list[str]] = {}
        for src, dst in self.con.execute("SELECT src, dst FROM edges").fetchall():
            self.adj.setdefault(src, []).append(dst)
        self.version: dict[str, int] = {}

    def _row(self, key: str) -> dict | None:
        kind, _, pk = key.partition(":")
        if kind not in ENTITY or not pk.lstrip("-").isdigit():
            return None
        pk_col, cols = ENTITY[kind]
        table = "customer_cur" if kind == "customer" else kind
        got = self.con.execute(
            f"SELECT {', '.join(cols)} FROM {table} WHERE {pk_col} = ?", [int(pk)]
        ).fetchone()
        return None if got is None else dict(zip(cols, got))

    def _check_node(self, key, kind, details, version) -> list[str]:
        want = self._row(key)
        if want is None:
            return [f"{key}: returned but absent"]
        got = json.loads(details)
        bad = [c for c, v in want.items() if got.get(c) != v]
        out = [f"{key}: details differ on {bad}"] if bad else []
        if kind != key.partition(":")[0]:
            out.append(f"{key}: kind {kind}")
        if version != self.version.get(key, 0):
            out.append(f"{key}: version {version} != {self.version.get(key, 0)}")
        return out

    def check(self, rec: dict) -> list[str]:
        if rec["block"] != self.block:
            self.block = rec["block"]
            self.con.execute("DELETE FROM customer_cur")
            self.con.execute("INSERT INTO customer_cur SELECT * FROM customer")
            self.version = {}
        op, p, ans = rec["op"], rec["params"], rec["answer"]
        if op in ("get_detail", "multi_get"):
            keys = [p["key"]] if op == "get_detail" else p["keys"]
            want = sorted({k for k in keys if self._row(k) is not None})
            got = sorted(a[0] for a in ans)
            if got != want:
                return [f"{op}: keys {got} != {want}"]
            return [m for a in ans for m in self._check_node(*a)]
        if op == "out_edges":
            want = sorted(self.adj.get(p["key"], []))
            return [] if sorted(ans) == want else [f"out_edges {p['key']}: differ"]
        if op == "search":
            return self._check_search(p, ans)
        if op == "traverse":
            l1 = set(self.adj.get(p["key"], []))
            l2 = {d for s in l1 for d in self.adj.get(s, [])}
            want = sorted([(1, k) for k in l1] + [(2, k) for k in l2])
            return [] if sorted(ans) == want else [f"traverse {p['key']}: differ"]
        if op == "find_path":
            return self._check_path(p, ans)
        if op == "write":
            return self._apply_write(p, ans)
        raise ValueError(op)

    def _check_search(self, p: dict, ans) -> list[str]:
        want = self.con.execute(
            "SELECT 'customer:' || c_custkey, c_name, c_acctbal FROM customer_cur "
            "WHERE (c_acctbal BETWEEN ? AND ? OR c_mktsegment = ?) "
            "AND c_acctbal BETWEEN ? AND ?",
            [p["lo"], p["hi"], p["segment"], p["flo"], p["fhi"]],
        ).fetchall()
        got = sorted((k, n, float(a)) for k, n, a in ans)
        return [] if got == sorted(want) else [f"search {p}: {len(got)} vs {len(want)} rows"]

    def _distance(self, src: str, dst: str) -> int | None:
        seen, todo = {src: 0}, deque([src])
        while todo:
            node = todo.popleft()
            if node == dst:
                return seen[node]
            for nxt in self.adj.get(node, []):
                if nxt not in seen:
                    seen[nxt] = seen[node] + 1
                    todo.append(nxt)
        return None

    def _check_path(self, p: dict, path) -> list[str]:
        dist = self._distance(p["src"], p["dst"])
        if path is None:
            ok = dist is None or dist > FIND_PATH_MAX_DEPTH
            return [] if ok else [f"find_path {p}: none, but distance {dist}"]
        hops_ok = all(b in self.adj.get(a, []) for a, b in zip(path, path[1:]))
        if path[0] != p["src"] or path[-1] != p["dst"] or not hops_ok:
            return [f"find_path {p}: invalid path {path}"]
        if len(path) - 1 != dist:
            return [f"find_path {p}: {len(path) - 1} hops, shortest {dist}"]
        return []

    def _apply_write(self, p: dict, ans) -> list[str]:
        # every write changes the balance, so an existing key's version goes up
        for r in p["rows"]:
            key = f"customer:{r['c_custkey']}"
            existed = self._row(key) is not None
            self.con.execute("DELETE FROM customer_cur WHERE c_custkey = ?", [r["c_custkey"]])
            self.con.execute(
                "INSERT INTO customer_cur (c_custkey, c_name, c_nationkey, c_acctbal, "
                "c_mktsegment) VALUES (?, ?, ?, ?, ?)",
                [r["c_custkey"], r["c_name"], r["c_nationkey"], r["c_acctbal"],
                 r["c_mktsegment"]],
            )
            self.version[key] = self.version.get(key, 0) + 1 if existed else 0
        want = sorted(
            (f"customer:{r['c_custkey']}", _details(r),
             self.version[f"customer:{r['c_custkey']}"])
            for r in p["rows"]
        )
        return [] if sorted(ans) == want else [f"write read-back {sorted(ans)} != {want}"]
