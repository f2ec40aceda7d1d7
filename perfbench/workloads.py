"""The two workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned, the way a
``database/sql`` caller or a batch driver waits for each reply.

A workload object is built with the run's ``Context`` and exposes
``generate`` (inputs and oracle, untimed), ``warm`` (part of set-up) and
``measure`` (the timed region, ``seconds`` long).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import gen

pc = time.perf_counter


@dataclass
class Samples:
    """What one workload measured; turned into metrics by ``report``."""

    prepare: list[float] = field(default_factory=list)  # s
    ops: list[float] = field(default_factory=list)  # s, the primary op
    passes: list[float] = field(default_factory=list)  # s, one full pass
    attempted: int = 0
    failed: list[str] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def fail(self, what: str) -> None:
        self.failed.append(what)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.s = Samples()

    @property
    def spark(self):
        return self.ctx.spark

    def warm(self) -> None:
        """Untimed work after set-up; none unless a workload needs it."""

    def op(self, label: str, construct, action, traced: bool):
        """Time one operation as construct (returns a DataFrame or other
        handle) then action. Returns (result, construct_s, action_s)."""
        tr = self.ctx.tracer if traced else None
        if tr is None:
            t0 = pc()
            handle = construct()
            t1 = pc()
            result = action(handle)
            return result, t1 - t0, pc() - t1
        return self.ctx.traced_op(label, construct, action)

    def measure(self, seconds: float, trace: bool) -> None:
        """Whole rounds, as many as fit in ``seconds``, at least one. With
        ``trace`` at least two, every other one traced; the untraced
        rounds are still the samples."""
        start = pc()
        i, last = 0, 0.0
        while i < (2 if trace else 1) or pc() - start + last <= seconds:
            t0 = pc()
            self.one_round(traced=trace and i % 2 == 1)
            last = pc() - t0
            i += 1

    def op_pair(self, i: int, label: str, construct, action, trace: bool):
        """``op`` untraced, and with ``trace`` also traced, the two in
        alternating order. Returns the untraced run."""
        if not trace:
            return self.op(label, construct, action, False)
        kept = None
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            out = self.op(label, construct, action, traced)
            if not traced:
                kept = out
        return kept

    def check(self, what: str, problem: str | None) -> None:
        self.s.attempted += 1
        if problem is not None:
            self.s.fail(f"{what}: {problem}")


# ------------------------------------------------------------ files_session

SF_FILES = 0.005

FILE_TABLES = {
    "lineitem": "lineitem.csv",
    "orders": "orders.tsv",
    "customer": "customer.csv.gz",
    "part": "part.csv.zst",
    "nation": "nation.ltsv",
    "region_data": "region.xlsx",
    "supplier": "supplier.parquet",
}


def _date(rng: random.Random, lo: int = 0, hi: int = 2300) -> str:
    import datetime as dt

    return (gen.DAY0 + dt.timedelta(days=rng.randint(lo, hi))).isoformat()


def select_templates(sizes: gen.Sizes):
    """(label, SQLite-dialect SELECT with ? parameters, parameter maker)."""
    return [
        ("point_lookup",
         "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
         "FROM orders WHERE o_orderkey = ?",
         lambda r: [r.randrange(sizes.orders)]),
        ("group_by",
         "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
         "SUM(l_extendedprice) AS base, AVG(l_discount) AS disc "
         "FROM lineitem WHERE l_shipdate <= ? GROUP BY l_returnflag, l_linestatus",
         lambda r: [_date(r, 1500, 2400)]),
        ("join2",
         "SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS qty "
         "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
         "WHERE o_orderdate >= ? AND o_orderdate < date(?, '+3 months') "
         "GROUP BY o_orderpriority",
         lambda r: [d := _date(r), d]),
        ("join3",
         "SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS total "
         "FROM customer JOIN orders ON o_custkey = c_custkey "
         "JOIN nation ON n_nationkey = c_nationkey "
         "WHERE c_mktsegment = ? GROUP BY n_name",
         lambda r: [r.choice(gen.SEGMENTS)]),
        ("strftime_julianday",
         "SELECT strftime('%Y-%m', o_orderdate) AS ym, COUNT(*) AS n "
         "FROM orders WHERE julianday(o_orderdate) - julianday(?) BETWEEN 0 AND 120 "
         "GROUP BY ym",
         lambda r: [_date(r)]),
        ("group_concat",
         "SELECT r_name, COUNT(*) AS n, length(group_concat(n_name, '|')) AS len "
         "FROM region_data JOIN nation ON n_regionkey = r_regionkey "
         "WHERE r_regionkey <> ? GROUP BY r_name",
         lambda r: [r.randrange(5)]),
        ("like_glob",
         "SELECT p_type, COUNT(*) AS n FROM part "
         "WHERE p_name LIKE ? AND p_brand GLOB ? GROUP BY p_type",
         lambda r: ["%" + r.choice(gen.PART_NOUN), f"Brand#{r.randint(1, 2)}*"]),
        ("case_truthiness",
         "SELECT l_linestatus, SUM(CASE WHEN l_discount THEN 1 ELSE 0 END) AS discounted, "
         "SUM(CASE WHEN l_tax THEN 0 ELSE 1 END) AS untaxed "
         "FROM lineitem WHERE l_quantity > ? GROUP BY l_linestatus",
         lambda r: [r.randint(1, 45)]),
        ("window",
         "SELECT o_custkey, o_orderkey, RANK() OVER (PARTITION BY o_custkey "
         "ORDER BY o_totalprice DESC, o_orderkey) AS rnk, "
         "SUM(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_total "
         "FROM orders WHERE o_custkey BETWEEN ? AND ?",
         lambda r: [c := r.randrange(sizes.customer - 20), c + 20]),
        ("cte",
         "WITH spend AS (SELECT o_custkey, SUM(o_totalprice) AS s FROM orders "
         "GROUP BY o_custkey) SELECT c_mktsegment, COUNT(*) AS n, AVG(s) AS avg_spend "
         "FROM spend JOIN customer ON c_custkey = o_custkey WHERE s > ? "
         "GROUP BY c_mktsegment",
         lambda r: [r.randint(1, 20) * 100000]),
    ]


def _collect(df):
    return df.collect()


def _raised(e: Exception) -> str:
    traceback.print_exception(e, file=sys.stderr)
    return f"raised {type(e).__name__}: {str(e)[:160]}"


EXTRA_OPENS = 1  # open pairs per round besides the round's own

EDIT_FILES = {"orders": "orders.csv", "customer": "customer.tsv", "nation": "nation.ltsv"}
TXN_KINDS = ["insert", "update", "delete", "upsert", "returning", "update"]
DUMPS = [("csv", "csv", None), ("csv_gz", "csv", "gz"), ("ltsv", "ltsv", None),
         ("parquet", "parquet", None)]
READ_BACK = (
    "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total, "
    "MAX(c_acctbal) AS top_bal FROM orders JOIN customer ON c_custkey = o_custkey "
    "WHERE o_custkey BETWEEN ? AND ? GROUP BY o_orderstatus"
)


class FilesSession(Workload):
    """One user session over files, the paper's three layers in order.

    Reads: ``fs.open(dir)`` over one file per format, then a seeded stream
    of parameterised SQLite-dialect SELECTs, each from ``query()`` through
    ``collect()`` and checked against sqlite3.

    Edits and export: ``orders.csv``, ``customer.tsv`` and ``nation.ltsv``
    opened with auto-save on close; seeded transactions (INSERT, UPDATE,
    DELETE, upsert, RETURNING; one in three rolled back), each followed by
    a read-back SELECT; then dumps to four formats and close. Every
    statement is replayed in sqlite3 and every written file is re-read.
    """

    name = "files_session"

    def generate(self, work: str) -> str:
        self.work = work
        self.files = os.path.join(work, "inputs", "files")
        self.edits = os.path.join(work, "inputs", "edit")
        gen.write_files_dir(self.files, self.ctx.seed, SF_FILES)
        gen.write_edit_dir(self.edits, self.ctx.seed, SF_FILES)
        self.sizes = gen.Sizes.at(SF_FILES)
        self.next_key = self.sizes.orders
        self.templates = select_templates(self.sizes)
        self.oracle = check.sqlite_from_files(
            {t: os.path.join(self.files, f) for t, f in FILE_TABLES.items()}
        )
        return os.path.join(work, "inputs")

    def warm(self) -> None:
        # The first reads after start-up run about twice as long as the
        # next ones (code generation, first read of each format), and the
        # opens keep getting faster over their first few repetitions. A
        # full untimed edit round was tried as well: it cost 12 s a run
        # and did not narrow the spread.
        self.read_round(traced=False, keep=False)
        self.open_pair(traced=False)

    def one_round(self, traced: bool) -> None:
        keep = not traced
        pairs = [self.open_pair(traced) for _ in range(EXTRA_OPENS)]
        open_files, reads = self.read_round(traced, keep)
        open_edits, edits = self.edit_round(traced, keep)
        if keep:
            self.s.prepare += pairs + [open_files + open_edits]
            self.s.passes.append(reads + edits)

    def open_pair(self, traced: bool) -> float:
        """Both opens of a round, each engine closed untouched: more
        samples of ``prepare_s`` than one per round. Returns the seconds
        the two opens took."""
        import filesql_spark as fs

        out = os.path.join(self.work, "out")
        eng, c, a = self.op("open", lambda: fs.open(self.files, spark=self.spark),
                            lambda e: e, traced)
        eng.close()
        edits, c2, a2 = self.op("open", lambda: self.open_edits(os.path.join(out, "autosave")),
                                lambda e: e, traced)
        edits.close()
        shutil.rmtree(out, ignore_errors=True)
        return c + a + c2 + a2

    # ------------------------------------------------------------ reads
    def read_round(self, traced: bool, keep: bool) -> tuple[float, float]:
        """Open the directory and run every SELECT template once, in a
        seeded order. Returns (seconds to open, seconds timed in all)."""
        import filesql_spark as fs

        eng, c, a = self.op("open", lambda: fs.open(self.files, spark=self.spark),
                            lambda e: e, traced)
        opened = timed = c + a
        try:
            order = list(self.templates)
            self.rng.shuffle(order)
            for label, sql, make in order:
                params = make(self.rng)
                try:
                    rows, c, a = self.op(
                        label, lambda: eng.query(sql, params), _collect, traced
                    )
                except Exception as e:  # counted in fail_ratio, the loop goes on
                    self.check(label, _raised(e))
                    continue
                timed += c + a
                if keep:
                    self.s.ops.append(c + a)
                    self.s.add(f"op.{label}", c + a)
                want = self.oracle.execute(sql, params).fetchall()
                self.check(label, check.same_rows([tuple(r) for r in rows], want))
        finally:
            eng.close()
        return opened, timed

    # ---------------------------------------------------- edits, export
    def open_edits(self, autosave: str):
        import filesql_spark as fs

        b = fs.Builder()
        for f in EDIT_FILES.values():
            b = b.add_path(os.path.join(self.edits, f))
        return b.enable_auto_save(autosave).open(spark=self.spark)

    def edit_round(self, traced: bool, keep: bool) -> tuple[float, float]:
        """Open with auto-save, transactions with read-backs, four dumps,
        close. Returns (seconds to open, seconds timed in all)."""
        out = os.path.join(self.work, "out")
        autosave = os.path.join(out, "autosave")
        oracle = check.sqlite_from_files(
            {t: os.path.join(self.edits, f) for t, f in EDIT_FILES.items()},
            keys={"customer": "c_custkey", "orders": "o_orderkey"},
        )
        eng, c, a = self.op("open", lambda: self.open_edits(autosave), lambda e: e, traced)
        opened = timed = c + a
        try:
            for i, kind in enumerate(TXN_KINDS):
                timed += self.transaction(eng, oracle, kind, rollback=i % 3 == 2,
                                          traced=traced, keep=keep)
                lo = self.rng.randrange(self.sizes.customer - 50)
                params = [lo, lo + 50]
                rows, c, a = self.op(
                    "read_back", lambda: eng.query(READ_BACK, params), _collect, traced
                )
                timed += c + a
                if keep:
                    self.s.ops.append(c + a)
                    self.s.add("op.read_back", c + a)
                want = oracle.execute(READ_BACK, params).fetchall()
                self.check("read_back", check.same_rows([tuple(r) for r in rows], want))
            for label, fmt, comp in DUMPS:
                target = os.path.join(out, label)
                paths, c, a = self.op(
                    f"dump.{label}", lambda: None,
                    lambda _: eng.dump(target, format=fmt, compression=comp), traced,
                )
                timed += c + a
                if keep:
                    self.s.add(f"dump.{label}", c + a)
                    self.s.add("dump_bytes", float(_bytes_under(target)))
                for p in paths:
                    table = os.path.basename(p).split(".")[0]
                    self.check_table(f"dump.{label}.{table}", p, table, oracle)
            if traced:
                self.ctx.plan_chars = len(
                    eng.table("orders")._jdf.queryExecution().optimizedPlan().toString()
                )
        finally:
            t_close = pc()
            eng.close()
            close_s = pc() - t_close
        timed += close_s
        if keep:
            self.s.add("close", close_s)
        self.check_table("autosave.orders", os.path.join(autosave, "orders.csv"),
                         "orders", oracle)
        oracle.close()
        shutil.rmtree(out, ignore_errors=True)
        return opened, timed

    def statements(self, kind: str) -> list[tuple[str, list, bool]]:
        """(sql, params, returns_rows) for one transaction body."""
        r = self.rng
        if kind == "insert":
            rows = []
            for _ in range(2):
                k = self.next_key
                self.next_key += 1
                rows.append((
                    "INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, "
                    "o_totalprice, o_orderdate, o_orderpriority) VALUES (?, ?, ?, ?, ?, ?)",
                    [k, r.randrange(self.sizes.customer), r.choice("FOP"),
                     r.randint(100000, 50000000) / 100, _date(r), r.choice(gen.PRIORITIES)],
                    False,
                ))
            return rows
        if kind == "update":
            c = r.randrange(self.sizes.customer)
            return [(
                "UPDATE orders SET o_totalprice = o_totalprice + ?, o_orderstatus = 'F' "
                "WHERE o_custkey BETWEEN ? AND ?",
                [r.randint(1, 9999) / 100, c, c + 3], False,
            )]
        if kind == "delete":
            return [(
                "DELETE FROM orders WHERE o_orderkey % 211 = ? AND o_orderdate < ?",
                [r.randrange(211), _date(r)], False,
            )]
        if kind == "upsert":
            k = r.randrange(int(self.sizes.customer * 1.2))
            return [(
                "INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, "
                "c_mktsegment) VALUES (?, ?, ?, ?, ?) ON CONFLICT(c_custkey) DO UPDATE "
                "SET c_acctbal = excluded.c_acctbal",
                [k, f"Customer#{k:09d}", r.randrange(25), r.randint(-99999, 999999) / 100,
                 r.choice(gen.SEGMENTS)], False,
            )]
        return [(
            "UPDATE nation SET n_name = n_name || ? WHERE n_regionkey = ? "
            "RETURNING n_nationkey, n_name",
            [r.choice("xyz"), r.randrange(5)], True,
        )]

    def transaction(self, eng, oracle, kind: str, rollback: bool, traced: bool,
                    keep: bool) -> float:
        """One transaction, replayed in sqlite3. Returns the seconds timed."""
        body = self.statements(kind)
        end = "ROLLBACK" if rollback else "COMMIT"

        def run():
            eng.execute("BEGIN")
            results = []
            for sql, params, returns in body:
                if returns:
                    results.append([tuple(r) for r in eng.query(sql, params).collect()])
                else:
                    with self.ctx.span(f"dml.statement.{kind}", traced):
                        results.append(eng.execute(sql, params))
            with self.ctx.span(f"engine.{end.lower()}", traced):
                eng.execute(end)
            return results

        got, c, a = self.op(f"txn.{kind}", run, lambda x: x, traced)
        if keep:
            self.s.ops.append(c + a)
            self.s.add(f"op.txn.{kind}", c + a)
        oracle.execute("BEGIN")
        for (sql, params, returns), g in zip(body, got):
            cur = oracle.execute(sql, params)
            want = cur.fetchall() if returns else cur.rowcount
            if returns:
                self.check(f"txn.{kind}", check.same_rows(g, want))
            else:
                self.check(f"txn.{kind}", None if g == want else f"{g} rows != {want}")
        oracle.execute(end)
        return c + a

    def check_table(self, what: str, path: str, table: str, oracle) -> None:
        header, rows = check.read_file(path)
        got = check.typed(table, header, rows)
        want = oracle.execute(f"SELECT {', '.join(header)} FROM {table}").fetchall()
        if len(got) != len(want):
            self.check(what, f"{len(got)} rows != {len(want)}")
        else:
            self.check(what, None if check.rows_hash(got) == check.rows_hash(want)
                       else "order-insensitive hash differs")


# ------------------------------------------------------------- registry

SF_REGISTRY = 0.005

BUILDS = [
    # (index, ensure_* function, how to force a lazy result)
    ("ivf", "ensure_ivf_index", lambda r: r.corpus.count()),
    ("pq", "ensure_pq_books", None),
    ("dedup_base", "ensure_dedup_base", None),
    ("minhash_pairs", "ensure_minhash_pairs", lambda r: r.count()),
    ("components", "ensure_components", lambda r: r.count()),
    ("diversity", "ensure_diversity_centroids", None),
    ("bench_grams", "ensure_bench_grams", lambda r: r.count()),
]

MIN_PASSES = 2

REGISTRY_OPS = [
    # the consumers of every standing index
    "ann_ivf_topk",
    "ann_pq_topk",
    "dedup_incremental",
    "pipeline_diversity_sample",
    "dedup_cluster_representatives",
    "graph_triangle_census",
    "pipeline_incremental_decontaminate",
]


def _duckdb_answers(sf_dir: str, tables: list[str], oracles: dict[str, str]) -> dict:
    con = check.duckdb_views(sf_dir, tables)
    try:
        con.execute("SET threads TO 1")
        out = {}
        for name, sql in oracles.items():
            cols, rows = check.duckdb_rows(con, sql)
            out[name] = (cols, check.by_name(cols, rows))
        return out
    finally:
        con.close()


class RegistryBatch(Workload):
    """Seven standing indexes built fresh, then one pass over a fixed
    operator list in a seeded order, each operator from construction
    through ``collect()`` and checked against its DuckDB oracle."""

    name = "registry_batch"

    def generate(self, work: str) -> str:
        from filesql_spark.queries import TABLES, all_oracles, all_queries

        self.dir = os.path.join(work, "tables")
        gen.write_parquet_dir(self.dir, self.ctx.seed, SF_REGISTRY)
        self.queries = all_queries()
        oracles = {name: all_oracles()[name] for name in REGISTRY_OPS}
        # DuckDB answers the oracle queries on one thread while the JVM
        # starts; one_pass waits for them.
        pool = ThreadPoolExecutor(max_workers=1)
        self._oracle = pool.submit(_duckdb_answers, self.dir, TABLES, oracles)
        pool.shutdown(wait=False)
        return self.dir

    def op(self, label: str, construct, action, traced: bool):
        # Every build and operator starts from the same state: the built
        # indexes and no frames persisted by an earlier operator (the same
        # rule bench.py follows).
        self.spark.catalog.clearCache()
        return super().op(label, construct, action, traced)

    def warm(self) -> None:
        # One relational and one Arrow-UDF operator, neither in the pass:
        # without them the first build also pays for starting the Python
        # workers, which makes the build times spread twice as wide.
        for name in ("q1_pricing_summary", "ann_bruteforce_topk"):
            self.queries[name](self.spark, self.dir).collect()

    def build(self, trace: bool) -> float:
        import filesql_spark.queries.pipeline_queries as pq

        total = 0.0
        for i, (index, fn_name, force) in enumerate(BUILDS):
            def construct(fn_name=fn_name):
                return getattr(pq, fn_name)(self.spark, self.dir, fresh=True)

            _, c, a = self.op_pair(
                i, f"build.{index}", construct, force or (lambda r: r), trace
            )
            self.s.add(f"build.{index}", c + a)
            total += c + a
        return total

    def one_pass(self, trace: bool) -> None:
        order = list(REGISTRY_OPS)
        self.rng.shuffle(order)
        pass_s = 0.0
        for i, name in enumerate(order):
            fn = self.queries[name]
            try:
                df_rows, c, a = self.op_pair(
                    i, name, lambda fn=fn: fn(self.spark, self.dir), _collect, trace
                )
            except Exception as e:  # counted in fail_ratio, the pass goes on
                self.check(name, _raised(e))
                continue
            self.s.ops.append(c + a)
            self.s.add(f"op.{name}", c + a)
            self.s.add("construct", c)
            self.s.add("action", a)
            pass_s += c + a
            cols, want = self._oracle.result()[name]
            got = check.by_name(list(df_rows[0].__fields__) if df_rows else cols, df_rows)
            self.check(name, check.same_rows(got, want))
        self.s.passes.append(pass_s)

    def measure(self, seconds: float, trace: bool) -> None:
        """One build, then whole passes over it while ``seconds`` allows,
        at least ``MIN_PASSES``: a partial pass would measure a different
        operator mix on every seed. The first pass after the build runs
        about 25% slower than the next ones. With ``trace`` each build
        and operator also runs traced, next to its untraced twin."""
        start = pc()
        self.s.prepare.append(self.build(trace))
        n, last = 0, 0.0
        while n < MIN_PASSES or pc() - start + last <= seconds:
            t0 = pc()
            self.one_pass(trace)
            last = pc() - t0
            n += 1


def _bytes_under(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {w.name: w for w in (FilesSession, RegistryBatch)}
