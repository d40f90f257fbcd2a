"""The four workloads. Each one builds its stores, warms up, hands the
closed-loop client one request at a time, and checks every answer it got
after the timed loop, against an engine that shares no code with the
store (DuckDB 1.0.0, or numpy for text search).

A workload keeps what it needs for checking (each request's parameters
and answer) in memory; ``corrupt`` spoils one kept answer so a smoke run
can prove that the check rejects it.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics

import numpy as np

import data

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


class Request:
    """One call into the store: ``kind`` names the metric family it counts
    toward, ``shape`` the query shape inside it, ``key`` the exact
    parameters (equal keys are exact repeats), ``fn`` runs it."""

    __slots__ = ("kind", "shape", "key", "fn", "repeat", "cold", "note")

    def __init__(self, kind, shape, key, fn, repeat=False, cold=False, note=None):
        self.kind, self.shape, self.key, self.fn = kind, shape, key, fn
        self.repeat, self.cold, self.note = repeat, cold, note


def _close(a, b, rel=1e-6):
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= rel * max(1.0, abs(float(a)), abs(float(b)))


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _duck(tmp_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET TimeZone='UTC'")
    return con


class Workload:
    name = ""
    #: tables this workload generates, name -> rows
    tables = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.log = []  # (Request, answer) for every answered request
        self.results = []  # (Request, seconds) for every answered request

    # lifecycle -------------------------------------------------------
    def open(self):
        raise NotImplementedError

    def warmup(self):
        raise NotImplementedError

    def next_request(self):
        raise NotImplementedError

    def answered(self, req, answer, seconds):
        self.log.append((req, answer))
        self.results.append((req, seconds))

    def check(self):
        """List of failure messages; empty when every answer is right."""
        raise NotImplementedError

    def corrupt(self):
        raise NotImplementedError

    # metrics ---------------------------------------------------------
    def latencies(self, kind, cold=False):
        return [s * 1000 for r, s in self.results if r.kind == kind and r.cold == cold]

    def kind_p50_ms(self):
        """Request kind -> median latency (ms) of that kind in the loop;
        the end-to-end metrics of every workload are built from these."""
        raise NotImplementedError

    def enough(self):
        """Whether the loop has every sample its metrics need; the loop
        runs past its deadline until it has."""
        return True

    def layer_extra(self, traced):
        """Workload-specific per-layer figures from traced requests."""
        return {}


class CycleWorkload(Workload):
    """Bookkeeping shared by the workloads that write in
    insert -> upsert -> delete cycles on one persisted collection."""

    collection = ""

    def _init_cycles(self):
        self.version = 0
        self.writes = []  # (version after the write, op, payload)
        self.user_bytes = self.bytes_written = 0
        self.disk_failures = []

    def _store_dir(self):
        return self.db._collection_path(self.collection)

    def _record_write(self, req, expected_rows):
        """Count one write. It counts once its rows are in the store's
        parquet files: the footers must add up to ``expected_rows``."""
        import pyarrow.parquet as pq

        self.version += 1
        self.writes.append((self.version, req.shape, req.note))
        d = self._store_dir()
        rows = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                   for f in os.listdir(d) if f.endswith(".parquet"))
        if rows != expected_rows:
            self.disk_failures.append(f"v{self.version}: {rows} rows on disk after "
                                      f"{req.shape}, expected {expected_rows}")
        self.bytes_written += _dir_bytes(d)
        if req.shape != "delete":
            self.user_bytes += len(json.dumps(req.note, default=str))

    def write_times(self):
        """op -> seconds of every timed write of that op."""
        out = {op: [] for op in ("insert", "upsert", "delete")}
        for r, s in self.results:
            if r.kind == "write":
                out[r.shape].append(s)
        return out

    def write_p50_ms(self):
        """Median time of each write op; summed they are one insert ->
        upsert -> delete cycle, and every timed write counts, not only
        whole cycles."""
        return {f"{op}_p50_ms": statistics.median(v) * 1000
                for op, v in self.write_times().items()}

    #: timed writes of each op a run needs before it may stop
    MIN_WRITES = 1

    def enough(self):
        return all(len(v) >= self.MIN_WRITES for v in self.write_times().values())

    def _write_metrics(self):
        out = {f"store.{op}_ms": statistics.median(t) * 1000
               for op, t in self.write_times().items() if t}
        files = [f for f in os.listdir(self._store_dir()) if f.endswith(".parquet")]
        out["store.files"] = len(files)
        return out


# ====================================================================== #
# interactive
# ====================================================================== #
class Interactive(Workload):
    """Read-only traffic over the sf0.1-shaped tables. Each kind is one
    query shape, so no percentile mixes shapes. Kinds come in fixed shares
    from a seeded shuffle of a 22-slot round; every fourth request of a
    shape repeats an earlier request of that shape exactly, the others
    draw fresh parameters (stratified over the parameter range, so every
    run sees the same spread of selectivities) from ranges far larger than
    the 256-entry per-collection plan cache."""

    name = "interactive"
    tables = {k: data.SIZES[k] for k in
              ("lineitem", "orders", "customer", "embeddings")}
    #: kind -> slots per 22-request round
    ROUND = {"find": 8, "count": 4, "facet": 3, "agg": 3, "knn": 4}

    def open(self):
        from linkml_store_spark.database import Database

        self.db = Database(self.spark, handle="interactive", location=self.ctx.data_dir)
        self.colls = {n: self.db.get_collection(n) for n in self.tables}
        for c in self.colls.values():
            c.df  # resolve the store scans once
        import pyarrow.parquet as pq

        emb = pq.read_table(os.path.join(self.ctx.data_dir, "embeddings.parquet"))
        self.vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        self.fresh = {k: [] for k in self.ROUND}
        self.seen = {k: 0 for k in self.ROUND}
        self.strata = {k: Strata(self.rng) for k in self.ROUND}
        self.round = []

    def warmup(self):
        for kind in self.ROUND:
            self._make(kind).fn()

    def _make(self, kind):
        u = self.strata[kind].next()
        c = self.colls
        from linkml_store_spark.query import Query

        if kind == "find":
            flag = "ANR"[self.seen[kind] % 3]
            q = round(1 + 49 * u, 2)
            key = (kind, flag, q)
            fn = lambda: _page(c["lineitem"].query(Query(  # noqa: E731
                where_clause={"l_returnflag": flag, "l_quantity": {"$gte": q}},
                limit=20)))
        elif kind == "count":
            lo = round(900 + 90_000 * u, 2)
            hi = round(lo + 10_000, 2)
            key = (kind, lo, hi)
            fn = lambda: c["lineitem"].query(Query(  # noqa: E731
                where_clause={"l_extendedprice": {"$gte": lo, "$lt": hi}},
                limit=0)).num_rows
        elif kind == "facet":
            q = round(1 + 49 * u, 2)
            key = (kind, q)
            fn = lambda: _facets(c["lineitem"].query_facets(  # noqa: E731
                {"l_quantity": {"$gte": q}}, ["l_returnflag"]))
        elif kind == "agg":
            x = round(800 + 499_000 * u, 2)
            key = (kind, x)
            fn = lambda: _agg_rows(c["orders"].query(Query(  # noqa: E731
                where_clause={"o_totalprice": {"$gte": x}},
                join={"collection": "customer", "left_on": "o_custkey",
                      "right_on": "c_custkey"},
                group_by=["c_mktsegment"],
                aggs={"n": ("count", None), "revenue": ("sum", "o_totalprice")},
                limit=-1)))
        elif kind == "knn":
            i = int(u * len(self.vectors))
            vec = self.vectors[i] + self.rng.normal(0, 0.05, self.vectors.shape[1])
            qv = [round(float(x), 6) for x in vec]
            key = (kind, tuple(qv))
            fn = lambda: [(round(s, 9), r["vec_id"]) for s, r in  # noqa: E731
                          c["embeddings"].knn_search(
                              qv, vector_col="embedding", k=10,
                              select_cols=["vec_id", "score"]).ranked_rows]
        else:
            raise ValueError(kind)
        return Request(kind, kind, key, fn)

    def next_request(self):
        if not self.round:
            self.round = [k for k, n in self.ROUND.items() for _ in range(n)]
            self.rng.shuffle(self.round)
        kind = self.round.pop()
        self.seen[kind] += 1
        fresh = self.fresh[kind]
        if self.seen[kind] % 4 == 0 and fresh:
            old = fresh[int(self.rng.integers(0, len(fresh)))]
            return Request(kind, kind, old.key, old.fn, repeat=True)
        req = self._make(kind)
        fresh.append(req)
        return req

    def kind_p50_ms(self):
        return {f"{kind}_p50_ms": statistics.median(self.latencies(kind))
                for kind in ("find", "count", "facet", "agg", "knn")}

    def repeat_over_fresh(self):
        """Median over exact repeats of a find or count of (repeat time ÷
        the time of the fresh request it repeats)."""
        first = {}
        ratios = []
        for r, s in self.results:
            if r.kind not in ("find", "count"):
                continue
            if not r.repeat:
                first.setdefault(r.key, s)
            elif r.key in first and first[r.key] > 0:
                ratios.append(s / first[r.key])
        return statistics.median(ratios) if ratios else 0.0

    def layer_extra(self, traced):
        return {"cache.repeat_over_fresh": self.repeat_over_fresh()}

    # checking --------------------------------------------------------
    def check(self):
        con = _duck(self.ctx.tmp_dir)
        for t in self.tables:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.ctx.data_dir, t)}.parquet')")
        failures = []
        expected = {}
        for req, ans in self.log:
            if req.key not in expected:
                expected[req.key] = self._expect(con, req.key)
            msg = self._compare(req.key, expected[req.key], ans)
            if msg:
                failures.append(f"{req.kind} {req.key[1:3]}: {msg}")
        con.close()
        return failures

    @staticmethod
    def _expect(con, key):
        kind = key[0]
        if kind == "find":
            _, flag, q = key
            return con.execute("SELECT count(*) FROM lineitem WHERE l_returnflag=? "
                               "AND l_quantity>=?", [flag, q]).fetchone()[0]
        if kind == "count":
            return con.execute("SELECT count(*) FROM lineitem WHERE l_extendedprice>=? "
                               "AND l_extendedprice<?", list(key[1:])).fetchone()[0]
        if kind == "facet":
            return dict(con.execute("SELECT l_returnflag, count(*) FROM lineitem WHERE "
                                    "l_quantity>=? GROUP BY 1", [key[1]]).fetchall())
        if kind == "agg":
            return sorted(con.execute(
                "SELECT c_mktsegment, count(*), sum(o_totalprice) FROM orders JOIN customer "
                "ON o_custkey=c_custkey WHERE o_totalprice>=? GROUP BY 1", [key[1]]).fetchall())
        if kind == "knn":
            return [r[0] for r in con.execute(
                "SELECT list_cosine_similarity(CAST(embedding AS DOUBLE[]), ?::DOUBLE[]) s "
                "FROM embeddings ORDER BY s DESC LIMIT 10", [list(key[1])]).fetchall()]
        raise ValueError(kind)

    @staticmethod
    def _compare(key, exp, ans):
        kind = key[0]
        if kind == "find":
            n, rows = ans
            _, flag, q = key
            if n != exp:
                return f"num_rows {n} != {exp}"
            if len(rows) != min(20, exp):
                return f"page size {len(rows)}"
            bad = [r for r in rows if r["l_returnflag"] != flag or r["l_quantity"] < q]
            return f"{len(bad)} rows fail the where clause" if bad else None
        if kind in ("count", "facet"):
            return None if ans == exp else f"{ans} != {exp}"
        if kind == "agg":
            if len(ans) != len(exp):
                return f"{len(ans)} groups != {len(exp)}"
            for a, e in zip(ans, exp):
                if a[0] != e[0] or a[1] != e[1] or not _close(a[2], e[2]):
                    return f"group {a} != {e}"
            return None
        if kind == "knn":
            got = [s for s, _ in ans]
            ok = len(got) == len(exp) and all(_close(a, b, 1e-5) for a, b in zip(got, exp))
            return None if ok else f"scores {got[:2]} != {exp[:2]}"
        raise ValueError(kind)

    def corrupt(self):
        for i, (req, ans) in enumerate(self.log):
            if req.kind == "count":
                self.log[i] = (req, ans + 1)
                return


class Strata:
    """Stratified draws on [0, 1): each block of ``n`` draws puts one
    draw in each of ``n`` equal strata, in a seeded order, so a short run
    covers a parameter range as evenly as a long one."""

    def __init__(self, rng, n=16):
        self.rng, self.n, self.block = rng, n, []

    def next(self):
        if not self.block:
            self.block = list(self.rng.permutation(self.n))
        return (self.block.pop() + self.rng.random()) / self.n


def _page(res):
    return res.num_rows, res.rows


def _facets(res):
    (vals,) = res.values()
    return {k: n for k, n in vals}


def _agg_rows(res):
    return sorted(tuple(r.values()) for r in res.rows)


# ====================================================================== #
# write_read
# ====================================================================== #
class WriteRead(CycleWorkload):
    """An orders store created through the API in a fresh directory. Each
    cycle runs insert -> upsert -> delete with seeded batches; each write
    is followed by the cold first read of each read shape, then warm
    reads. The inserted keys are deleted again, so the store size stays
    at 150k rows."""

    name = "write_read"
    collection = "orders"
    tables = {"orders": data.SIZES["orders"]}
    SHAPES = ("find", "count")
    WARM_READS = 16  # per write
    #: two whole cycles, so each op's median always spans the same cycles
    MIN_WRITES = 2

    def open(self):
        from linkml_store_spark.database import Database

        d = self.ctx.fresh_dir("write_read")
        self.db = Database(self.spark, handle="write_read", location=d)
        self.orders = self.db.create_collection("orders", identifier_attribute="o_orderkey")
        self.orders.insert(self.spark.read.parquet(
            os.path.join(self.ctx.data_dir, "orders.parquet")))
        self.next_key = 10_000_000
        self.strata = {s: Strata(self.rng) for s in self.SHAPES}
        self._init_cycles()
        self.plan = self._cycle_plan()

    def warmup(self):
        # one whole cycle, untimed, so timed cycles start warm
        for _ in range(len(self._cycle_plan())):
            req = self.next_request()
            ans = req.fn()
            self.answered(req, ans, 0.0)
        self.results.clear()

    def _cycle_plan(self):
        steps = []
        for op in ("insert", "upsert", "delete"):
            steps.append(("write", op))
            steps += [("cold", s) for s in self.SHAPES]
            steps += [("warm", self.SHAPES[i % 2]) for i in range(self.WARM_READS)]
        return steps

    def next_request(self):
        if not self.plan:
            self.plan = self._cycle_plan()
        step, what = self.plan.pop(0)
        if step == "write":
            return getattr(self, f"_{what}")()
        req = self._read(what)
        req.cold = step == "cold"
        return req

    def _rows(self, keys):
        rng = self.rng
        n = len(keys)
        return [
            {"o_orderkey": int(k), "o_custkey": int(rng.integers(0, 15_000)),
             "o_orderstatus": str(rng.choice(["O", "F", "P"])),
             "o_totalprice": round(float(rng.uniform(800, 500_000)), 2),
             "o_orderdate": datetime.datetime(1992, 1, 1) + datetime.timedelta(days=int(d)),
             "o_orderpriority": str(rng.choice(data.PRIORITIES))}
            for k, d in zip(keys, rng.integers(0, 2400, n))
        ]

    def _insert(self):
        n = int(self.rng.integers(5, 40))
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        self.inserted = keys
        rows = self._rows(keys)
        return Request("write", "insert", ("insert", tuple(keys)),
                       lambda: self.orders.insert(rows), note=rows)

    def _upsert(self):
        n = int(self.rng.integers(5, 40))
        pool = np.concatenate([self.rng.integers(0, data.SIZES["orders"], n),
                               np.array(self.inserted)])
        keys = sorted({int(k) for k in self.rng.choice(pool, n, replace=False)})
        rows = self._rows(keys)
        return Request("write", "upsert", ("upsert", tuple(keys)),
                       lambda: self.orders.upsert(rows), note=rows)

    def _delete(self):
        keys = list(self.inserted)
        return Request("write", "delete", ("delete", tuple(keys)),
                       lambda: self.orders.delete_where({"o_orderkey": {"$in": keys}}),
                       note=keys)

    def _read(self, shape):
        from linkml_store_spark.query import Query

        u = self.strata[shape].next()
        if shape == "find":
            prio = data.PRIORITIES[int(self.rng.integers(0, len(data.PRIORITIES)))]
            x = round(50_000 + 450_000 * u, 2)
            key = ("find", prio, x)
            fn = lambda: _page(self.orders.query(Query(  # noqa: E731
                where_clause={"o_orderpriority": prio, "o_totalprice": {"$lt": x}},
                sort_by=["-o_totalprice"], limit=10)))
        else:
            lo = round(800 + 450_000 * u, 2)
            hi = round(lo + 50_000, 2)
            key = ("count", lo, hi)
            fn = lambda: self.orders.query(Query(  # noqa: E731
                where_clause={"o_totalprice": {"$gte": lo, "$lt": hi}},
                limit=0)).num_rows
        return Request(shape, shape, key, fn)

    def answered(self, req, answer, seconds):
        if req.kind == "write":
            grown = 0 if req.shape == "delete" else len(self.inserted)
            self._record_write(req, data.SIZES["orders"] + grown)
        self.log.append((req, (self.version, answer)))
        self.results.append((req, seconds))

    def kind_p50_ms(self):
        # ~40 warm finds per run: too few for a p90
        out = {"find_p50_ms": statistics.median(self.latencies("find"))}
        out["count_p50_ms"] = statistics.median(self.latencies("count"))
        out["cold_read_p50_ms"] = statistics.median(self.cold_reads())
        out.update(self.write_p50_ms())
        return out

    def cold_reads(self):
        """Per write, the summed time of the first read of each shape
        after it: the cost of reading again once a write dropped every
        memo, plan cache entry and A/B winner."""
        out, cur = [], None
        for r, s in self.results:
            if r.kind == "write":
                cur = []
                out.append(cur)
            elif r.cold and cur is not None:
                cur.append(s * 1000)
        return [sum(c) for c in out if len(c) == len(self.SHAPES)]

    def layer_extra(self, traced):
        return self._write_metrics()

    # checking --------------------------------------------------------
    def check(self):
        con = _duck(self.ctx.tmp_dir)
        con.execute("CREATE TABLE orders AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.ctx.data_dir, 'orders.parquet')}')")
        failures = list(self.disk_failures)
        by_version = {}
        for req, (version, ans) in self.log:
            if req.kind != "write":
                by_version.setdefault(version, []).append((req, ans))
        writes = {v: (op, note) for v, op, note in self.writes}
        for version in range(0, self.version + 1):
            if version in writes:
                self._replay(con, *writes[version])
            for req, ans in by_version.get(version, []):
                msg = self._compare(con, req, ans)
                if msg:
                    failures.append(f"v{version} {req.key}: {msg}")
        con.close()
        return failures

    @staticmethod
    def _replay(con, op, note):
        if op == "delete":
            con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT unnest(?))", [note])
            return
        keys = [r["o_orderkey"] for r in note]
        con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT unnest(?))", [keys])
        con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
                        [[r[c] for c in ORDER_COLS] for r in note])

    @staticmethod
    def _compare(con, req, ans):
        if req.kind == "find":
            _, prio, x = req.key
            n = con.execute("SELECT count(*) FROM orders WHERE o_orderpriority=? AND "
                            "o_totalprice<?", [prio, x]).fetchone()[0]
            top = [r[0] for r in con.execute(
                "SELECT o_totalprice FROM orders WHERE o_orderpriority=? AND o_totalprice<? "
                "ORDER BY o_totalprice DESC LIMIT 10", [prio, x]).fetchall()]
            got_n, rows = ans
            got = [r["o_totalprice"] for r in rows]
            if got_n != n or got != top:
                return f"({got_n}, {got[:2]}) != ({n}, {top[:2]})"
            return None
        _, lo, hi = req.key
        n = con.execute("SELECT count(*) FROM orders WHERE o_totalprice>=? AND "
                        "o_totalprice<?", [lo, hi]).fetchone()[0]
        return None if ans == n else f"count {ans} != {n}"

    def corrupt(self):
        for i, (req, (v, ans)) in enumerate(self.log):
            if req.kind == "count":
                self.log[i] = (req, (v, ans + 1))
                return

    def known_defect_probe(self):
        """Insert into a single-file store (the layout of a read-only data
        directory). The write raises in the store's swap step after the
        collection's in-memory frame was already replaced."""
        import shutil

        import pyarrow.parquet as pq

        from linkml_store_spark.database import Database

        d = self.ctx.fresh_dir("single_file_probe")
        tbl = pq.read_table(os.path.join(self.ctx.data_dir, "orders.parquet")).slice(0, 1000)
        pq.write_table(tbl, os.path.join(d, "orders.parquet"))
        coll = Database(self.spark, handle="probe", location=d).get_collection("orders")
        before = coll.df.count()
        row = tbl.slice(0, 1).to_pylist()[0]
        row["o_orderkey"] = 99_999_999
        out = {"probe": "insert_into_single_file_store", "rows_before": before}
        try:
            coll.insert([row])
            out["raised"] = None
        except Exception as exc:  # noqa: BLE001 — the defect under report
            out["raised"] = type(exc).__name__
        try:
            out["in_memory_rows_after"] = coll.df.count()
        except Exception as exc:  # noqa: BLE001
            out["in_memory_rows_after"] = f"unreadable: {type(exc).__name__}"
        out["on_disk_rows_after"] = pq.read_metadata(os.path.join(d, "orders.parquet")).num_rows \
            if os.path.isfile(os.path.join(d, "orders.parquet")) else None
        shutil.rmtree(d, ignore_errors=True)
        return out


# ====================================================================== #
# search
# ====================================================================== #
class Search(CycleWorkload):
    """``Collection.search`` over an API-created documents store through
    the default trigram indexer. Query strings are cut from document text;
    a quarter carry a ``where`` prefilter. A fixed share of requests are
    writes of one insert -> upsert -> delete cycle of a small batch of new
    documents; the first search after an insert or upsert asks for a
    document of that batch."""

    name = "search"
    collection = "documents"
    N_DOCS = 200
    tables = {"documents": N_DOCS}
    WRITE_EVERY = 6  # one write after every five searches
    BATCH = 3

    def open(self):
        import pyarrow.parquet as pq

        from linkml_store_spark.database import Database

        d = self.ctx.fresh_dir("search")
        self.db = Database(self.spark, handle="search", location=d)
        self.docs = self.db.create_collection("documents", identifier_attribute="doc_id")
        path = os.path.join(self.ctx.data_dir, "documents.parquet")
        self.docs.insert(self.spark.read.parquet(path))
        self.live = {r["doc_id"]: r for r in pq.read_table(path).to_pylist()}
        self.initial = dict(self.live)
        self.cols = list(self.docs.df.columns)
        self.next_id = 1_000_000
        self._init_cycles()
        self.n = 0
        self.ops = ["insert", "upsert", "delete"]
        self.target = None
        self.batch = []

    def warmup(self):
        # search, then one write of each kind, then a search
        for n in (1, self.WRITE_EVERY, 2 * self.WRITE_EVERY - 1,
                  2 * self.WRITE_EVERY, 3 * self.WRITE_EVERY, 1):
            self.n = n - 1
            req = self.next_request()
            self.answered(req, req.fn(), 0.0)
        self.n = 0
        self.results.clear()

    def _new_docs(self, ids):
        texts = data.document_texts(self.rng, len(ids), dup_share=0.0)
        return [{"doc_id": i, "text": f"{t} batch{i}", "lang": "en",
                 "source": "src_new", "n_chars": len(t) + len(f" batch{i}")}
                for i, t in zip(ids, texts)]

    def _insert(self, rows):
        # An insert keeps the attached index by appending the new rows to
        # the old index plan, whose scan names the files the insert just
        # replaced; the next search would fail (see known_defect_probe).
        # Re-indexing right after the insert is the caller-side repair,
        # and it is part of the insert's time.
        n = self.docs.insert(rows)
        self.docs.index_objects("simple")
        return n

    def next_request(self):
        self.n += 1
        if self.n % self.WRITE_EVERY == 0:
            op = self.ops[(self.n // self.WRITE_EVERY - 1) % 3]
            if op == "insert":
                ids = list(range(self.next_id, self.next_id + self.BATCH))
                self.next_id += self.BATCH
                rows = self._new_docs(ids)
                self.batch = ids
                self.target = rows[0]
                return Request("write", "insert", ("insert", tuple(ids)),
                               lambda: self._insert(rows), note=rows)
            if op == "upsert":
                rows = self._new_docs(self.batch[:1])
                self.target = rows[0]
                return Request("write", "upsert", ("upsert", rows[0]["doc_id"]),
                               lambda: self.docs.upsert(rows), note=rows)
            ids = list(self.batch)
            self.target = None
            return Request("write", "delete", ("delete", tuple(ids)),
                           lambda: self.docs.delete_where({"doc_id": {"$in": ids}}),
                           note=ids)
        if self.target is not None:
            text, self.target = self.target["text"], None
            want = True
        else:
            ids = list(self.live)
            words = self.live[ids[int(self.rng.integers(0, len(ids)))]]["text"].split()
            start = int(self.rng.integers(0, max(1, len(words) - 4)))
            text = " ".join(words[start:start + int(self.rng.integers(2, 6))])
            want = False
        where = None
        if self.rng.random() < 0.25:
            where = {"source": {"$nin": [f"src{int(self.rng.integers(0, 20))}"]}}
        key = ("search", text, repr(where))
        fn = lambda: [(s, r["doc_id"]) for s, r in  # noqa: E731
                      self.docs.search(text, where=where, limit=10).ranked_rows]
        return Request("search", "search", key, fn, note=(text, where, want))

    def answered(self, req, answer, seconds):
        if req.kind == "write":
            if req.shape == "delete":
                for i in req.note:
                    self.live.pop(i, None)
            else:
                for r in req.note:
                    self.live[r["doc_id"]] = r
            self._record_write(req, len(self.live))
            live = {i: dict(r) for i, r in self.live.items()}
            self.log.append((req, (self.version, live)))
        else:
            self.log.append((req, (self.version, answer)))
        self.results.append((req, seconds))

    def enough(self):
        return super().enough() and len(self.latencies("search")) >= 15

    def kind_p50_ms(self):
        out = {"search_p50_ms": statistics.median(self.latencies("search"))}
        out.update(self.write_p50_ms())
        return out

    def layer_extra(self, traced):
        out = self._write_metrics()
        searches = [t for t in traced if t["kind"] == "search"]
        if searches:
            out["index.query_embed_ms"] = statistics.median(
                t["text_to_vector_s"] for t in searches) * 1000
            out["udf.rows_to_python_per_search"] = statistics.median(
                t["udf_rows"] for t in searches)
        return out

    def known_defect_probe(self):
        """Search, insert, search again on a persisted store without the
        re-index step: the second search reads files the insert removed."""
        import shutil

        from linkml_store_spark.database import Database

        d = self.ctx.fresh_dir("indexed_insert_probe")
        coll = Database(self.spark, handle="probe", location=d).create_collection(
            "documents", identifier_attribute="doc_id")
        coll.insert(list(self.initial.values())[:20])
        coll.search("spark", limit=3)
        coll.insert(self._new_docs([self.next_id + 10_000]))
        out = {"probe": "search_after_insert_into_indexed_store"}
        try:
            coll.search("spark", limit=3)
            out["raised"] = None
        except Exception as exc:  # noqa: BLE001 — the defect under report
            out["raised"] = type(exc).__name__
            out["file_not_found"] = "FILE_NOT_EXIST" in str(exc)
        shutil.rmtree(d, ignore_errors=True)
        return out

    # checking --------------------------------------------------------
    def check(self):
        from linkml_store_spark.index.indexer import trigram_vector

        vec_cache = {}

        def vec(row):
            text = "{" + ", ".join(f"'{c}': {row[c]}" for c in self.cols) + "}"
            if text not in vec_cache:
                v = trigram_vector(text)
                vec_cache[text] = v / (np.linalg.norm(v) or 1.0)
            return vec_cache[text]

        failures = list(self.disk_failures)
        live = dict(self.initial)
        for req, (version, ans) in self.log:
            if req.kind == "write":
                live = ans
                continue
            text, where, want = req.note
            rows = list(live.values())
            if where is not None:
                banned = set(where["source"]["$nin"])
                rows = [r for r in rows if r["source"] not in banned]
            q = trigram_vector(text)
            q = q / (np.linalg.norm(q) or 1.0)
            mat = np.stack([vec(r) for r in rows])
            scores = mat @ q
            order = np.argsort(-scores, kind="stable")[:10]
            exp = [(float(scores[i]), rows[i]["doc_id"]) for i in order]
            got_scores = [s for s, _ in ans]
            if len(ans) != len(exp) or not all(
                    _close(a, b, 1e-9) for a, (b, _) in zip(got_scores, exp)):
                failures.append(f"v{version} {text!r}: scores {got_scores[:2]} != "
                                f"{[e[0] for e in exp[:2]]}")
                continue
            dead = [i for _, i in ans if i not in live]
            if dead:
                failures.append(f"v{version} {text!r}: deleted docs {dead} returned")
            if want and not any(live.get(i, {}).get("text") == text for _, i in ans):
                failures.append(f"v{version} {text!r}: the just-written document is missing")
        return failures

    def corrupt(self):
        for i, (req, (v, ans)) in enumerate(self.log):
            if req.kind == "search" and ans:
                self.log[i] = (req, (v, [(ans[0][0] + 0.01, ans[0][1])] + ans[1:]))
                return


# ====================================================================== #
# llm_pipeline
# ====================================================================== #
class LLMPipeline(Workload):
    """Five registry operators of ``__spark_entry__.py`` over a seeded
    corpus: each pass builds each operator's DataFrame, plans it, and
    executes it to a noop sink. Each operator run is one request, so a
    run stops within one operator of its deadline. Setup runs one untimed
    pass."""

    name = "llm_pipeline"
    OPS = ["dedup_minhash", "dedup_jaccard", "fingerprint_overlap",
           "embedding_dup_exact", "text_stats"]
    tables = {"documents": 200, "embeddings": 200}

    def open(self):
        import importlib.util

        path = os.path.join(self.ctx.root, "__spark_entry__.py")
        spec = importlib.util.spec_from_file_location("crudsibench_entry", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        self.queries = mod.queries()
        self.oracles = mod.oracle_sql()
        self.phases = {op: {"build": [], "plan": [], "exec": []} for op in self.OPS}

    def warmup(self):
        # the warm-up pass collects each operator's rows: the answers the
        # check compares (the timed runs send them to a noop sink)
        self.answers = {
            op: _canon(tuple(r) for r in
                       self.queries[op](self.spark, self.ctx.data_dir).collect())
            for op in self.OPS}
        self.n = 0

    def _run(self, op):
        import time

        t0 = time.perf_counter()
        df = self.queries[op](self.spark, self.ctx.data_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        ph = self.phases[op]
        ph["build"].append(t1 - t0)
        ph["plan"].append(t2 - t1)
        ph["exec"].append(t3 - t2)
        return op

    def next_request(self):
        op = self.OPS[self.n % len(self.OPS)]
        self.n += 1
        return Request("operator", op, (op,), lambda: self._run(op))

    def enough(self):
        # two passes, so each operator's median always spans the same
        # passes while the JIT is still warming
        return len(self.results) >= 2 * len(self.OPS)

    def kind_p50_ms(self):
        """Each operator's median run time; summed they are one warm pass,
        and the loop's last, unfinished pass still counts."""
        runs = {}
        for r, s in self.results:
            runs.setdefault(r.shape, []).append(s)
        return {f"{op}_p50_ms": statistics.median(v) * 1000 for op, v in runs.items()}

    def layer_extra(self, traced):
        out = {}
        for op, ph in self.phases.items():
            for phase, vals in ph.items():
                out[f"{op}.{phase}_s"] = statistics.median(vals) if vals else 0.0
        return out

    # checking --------------------------------------------------------
    def check(self):
        con = _duck(self.ctx.tmp_dir)
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.ctx.data_dir, t)}.parquet')")
        failures = []
        for op in self.OPS:
            exp = _canon(con.execute(self.oracles[op]).fetchall())
            if exp != self.answers[op]:
                failures.append(f"{op}: {len(self.answers[op])} rows differ from the "
                                f"oracle's {len(exp)}")
        con.close()
        return failures

    def corrupt(self):
        rows = self.answers["text_stats"]
        rows[0] = tuple(v + 1 if isinstance(v, int) else v for v in rows[0])


def _canon(rows):
    out = []
    for r in rows:
        out.append(tuple(round(v, 4) if isinstance(v, float) else v for v in r))
    return sorted(out, key=repr)


WORKLOADS = {w.name: w for w in (Interactive, WriteRead, Search, LLMPipeline)}
