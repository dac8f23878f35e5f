"""The benchmark's workloads: what one pass runs and how its outputs are checked.

A workload makes its inputs from the seed (``make_inputs``), loads them
(``load``) and finishes start-up on work it does not measure
(``warm_up``). A pass then calls ``run`` for each operation in ``ops``,
in order, and ``verify`` after each one, outside the timing: ``verify``
compares the output with an answer computed without the code under test
and raises ``WrongOutput`` when they differ.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import sqlite3
import time
from contextlib import nullcontext
from decimal import Decimal

from hhek2sqlite_spark.operators import util
from hhek2sqlite_spark.plans import ORACLE_SQL, QUERIES, hhek
from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES
from hhek2sqlite_spark.sources import parquet, sqlite_io
from hhek2sqlite_spark.testing import parity

from perfbench import gen_hhek, gen_tpch

Q4 = Decimal("0.0001")


class WrongOutput(Exception):
    """An operation finished but its output disagrees with the expected answer."""


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class QueryWorkload:
    """Registered queries over a generated star schema. Each operation
    builds one query under ``owned_result`` and collects its result, as
    the command-line ``query`` does; ``verify`` compares the collected
    frame with the query's DuckDB oracle, outside the timing. One untimed
    pass runs first, so the timed passes measure warm queries: the first
    run of a query also pays code generation and JIT compilation, which
    varied too much from run to run to measure.
    """

    warm_passes = 1

    def __init__(self, queries: tuple[str, ...], sf: float, cache_dir: str):
        self.ops, self.sf = queries, sf
        self.cache_dir = cache_dir
        self.data_dir = ""
        self.row_counts: dict[str, int] = {}
        self._fingerprint = ""
        self._answers = {}
        self._collected = {}

    def describe(self) -> dict:
        return {"sf": self.sf, "rows": self.row_counts, "queries": len(self.ops)}

    def make_inputs(self, seed: int, work: str) -> None:
        self.data_dir = os.path.join(work, "tables")
        self.row_counts = gen_tpch.write_tables(seed, self.sf, self.data_dir)
        h = hashlib.sha256()
        for name in sorted(os.listdir(self.data_dir)):
            with open(os.path.join(self.data_dir, name), "rb") as fh:
                h.update(fh.read())
        self._fingerprint = h.hexdigest()

    def load(self, spark) -> None:
        for table in parquet.TABLES:
            parquet.load_table(spark, self.data_dir, table)

    def warm_up(self, spark) -> None:
        """Compute every oracle answer, so DuckDB stays out of the timed
        window."""
        self._answers = {op: self._oracle(op) for op in self.ops}

    def start_pass(self) -> None:
        self._collected.clear()

    def run(self, spark, op: str, tracer=None) -> None:
        """Build one query and collect it; with a tracer, the two phases
        are recorded as plans.build_s and plans.exec_s."""
        t0 = time.perf_counter()
        df = QUERIES[op](spark, self.data_dir)
        t1 = time.perf_counter()
        with util.owned_result(df):
            self._collected[op] = df.toPandas()
            t2 = time.perf_counter()
        if tracer:
            tracer.inclusive["plans.build_s"] += t1 - t0
            tracer.inclusive["plans.exec_s"] += t2 - t1

    def verify(self, op: str) -> None:
        result = parity.compare_frames(op, self._collected.pop(op), self._answers[op])
        if not result.ok:
            raise WrongOutput("; ".join(result.problems)[:500])

    def _oracle(self, op: str):
        """DuckDB answer, cached by (SQL text hash, input bytes hash)."""
        sql = ORACLE_SQL[op]
        key = hashlib.sha256(sql.encode()).hexdigest()[:24] + "-" + self._fingerprint[:24]
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        answer = parity.run_oracle(sql, self.data_dir)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(answer, fh)
        os.replace(path + ".tmp", path)
        return answer


def _canon_cell(v, kind: str):
    if v is None:
        return None
    if kind == "money":
        return Decimal(str(v)).quantize(Q4)
    if kind == "bool":
        return bool(v)
    if kind == "float":
        return round(float(v), 6)
    return v


def canonical_rows(table: str, rows) -> list[tuple]:
    """Rows in registry column order with values in one comparable form,
    sorted; rows read from SQLite and generated rows both map to it."""
    kinds = [c.logical for c in HHEK_TABLES[table].columns]
    return sorted(
        (tuple(_canon_cell(v, k) for v, k in zip(r, kinds)) for r in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


class ConvertWorkload:
    """The reference's own program on a generated household database.

    A pass converts the parquet copy to SQLite, then validates the SQLite
    file through Spark, into fresh paths. Each hop is timed on its first
    run in the session, as the command-line converter runs it, and its
    output is verified against the generated rows outside the timing. The
    Jet (.mdb) hops run once per run, after the timed passes and the
    memory readings (``jet_hops``)."""

    ops = ("sqlite_write", "validate")
    warm_passes = 0

    def __init__(self, n_transactions: int):
        self.n_transactions = n_transactions
        self.household: gen_hhek.Household | None = None
        self.work = self.src = ""
        self.lookups: list[int] = []
        self._expected: dict[str, list[tuple]] = {}
        self._validated: tuple = ()
        self._pass = 0
        self.bytes_per_row: dict[str, float] = {}

    def describe(self) -> dict:
        return {"n_transactions": self.n_transactions, "rows": self.household.row_counts()}

    def make_inputs(self, seed: int, work: str) -> None:
        self.work = work
        self.household = gen_hhek.generate(seed, self.n_transactions)
        self.src = os.path.join(work, "src")
        gen_hhek.write_parquet(self.household, self.src)
        ids = [r[0] for r in self.household.rows["Transaktioner"]]
        self.lookups = random.Random(seed).sample(ids, 5)
        self._expected = {t: canonical_rows(t, rows) for t, rows in self.household.rows.items()}

    def load(self, spark) -> None:
        pass

    def warm_up(self, spark) -> None:
        pass

    @property
    def total_rows(self) -> int:
        return sum(self.household.row_counts().values())

    def _paths(self) -> dict[str, str]:
        d = os.path.join(self.work, f"pass{self._pass}")
        return {"dir": d, "db": os.path.join(d, "hushall.db"), "mdb": os.path.join(d, "hushall.mdb"),
                "db2": os.path.join(d, "from_mdb.db")}

    def start_pass(self) -> None:
        shutil.rmtree(self._paths()["dir"], ignore_errors=True)
        self._pass += 1
        os.makedirs(self._paths()["dir"])

    def run(self, spark, op: str, tracer=None) -> None:
        p = self._paths()
        if op == "sqlite_write":
            counts = sqlite_io.convert(spark, self.src, p["db"])
            if tracer:
                tracer.counts["sources.sqlite_io.rows_written"] += sum(counts.values())
        else:
            self._validated = self._validate(spark, p["db"], self.lookups, tracer)
            if tracer:
                tracer.counts["sources.sqlite_io.rows_read"] += sum(self._validated[0].values())

    @staticmethod
    def _validate(spark, db: str, lookups: list[int], tracer=None) -> tuple:
        """The reference's checkDB1 shape: row counts, point lookups by
        Löpnr and the account balances, all read back through Spark."""
        tables = sqlite_io.read_database(spark, db)
        counts = {name: df.count() for name, df in tables.items()}
        found = {
            lopnr: [tuple(r) for r in hhek.point_lookup(tables["Transaktioner"], lopnr).collect()]
            for lopnr in lookups
        }
        with tracer.span("plans.hhek.account_balances_s") if tracer else nullcontext():
            balances = {
                r["Benämning"]: r["saldo"]
                for r in hhek.account_balances(tables["Konton"], tables["Transaktioner"]).collect()
            }
        return counts, found, balances

    def verify(self, op: str) -> None:
        """Compare the output of ``op`` in the current pass with the
        generated database."""
        p = self._paths()
        if op == "sqlite_write":
            self._same_tables("SQLite", self._read_sqlite(p["db"]))
        else:
            counts, found, balances = self._validated
            if counts != self.household.row_counts():
                raise WrongOutput(f"row counts {counts} != {self.household.row_counts()}")
            by_id = {r[0]: r for r in self.household.rows["Transaktioner"]}
            for lopnr, rows in found.items():
                if canonical_rows("Transaktioner", rows) != canonical_rows("Transaktioner", [by_id[lopnr]]):
                    raise WrongOutput(f"point lookup Löpnr={lopnr} returned {rows}")
            if balances != self.household.expected_balances:
                raise WrongOutput(f"balances {balances} != {self.household.expected_balances}")

    def jet_hops(self, spark) -> dict[str, tuple[float | None, str | None]]:
        """Run .db -> .mdb and .mdb -> .db once on the current pass's
        SQLite file. Returns {hop: (seconds or None, error text or None)};
        a hop that completes is also checked against the generated rows."""
        p, out = self._paths(), {}
        for hop, src, dst in (("mdb_write", p["db"], p["mdb"]), ("mdb_read", p["mdb"], p["db2"])):
            t0 = time.perf_counter()
            try:
                sqlite_io.convert(spark, src, dst)
            except Exception as exc:  # noqa: BLE001 - the error text is the result
                out[hop] = (None, f"{type(exc).__name__}: {exc}"[:300])
                continue
            out[hop] = (time.perf_counter() - t0, None)
        if out["mdb_read"][1] is None:
            self._same_tables("Jet round trip", self._read_sqlite(p["db2"]))
        n = self.total_rows
        self.bytes_per_row = {
            f"sources.{kind}_bytes_per_row": dir_bytes(path) / n if os.path.exists(path) else 0.0
            for kind, path in (("sqlite", p["db"]), ("parquet", self.src), ("mdb", p["mdb"]))
        }
        return out

    @staticmethod
    def _read_sqlite(path: str) -> dict[str, list[tuple]]:
        con = sqlite3.connect(path)
        try:
            out = {}
            for t in COPY_ORDER:
                cols = ", ".join(f'"{c.name}"' for c in HHEK_TABLES[t].columns)
                out[t] = con.execute(f'SELECT {cols} FROM "{t}"').fetchall()
            return out
        finally:
            con.close()

    def _same_tables(self, where: str, tables: dict[str, list[tuple]]) -> None:
        for t in COPY_ORDER:
            if canonical_rows(t, tables.get(t, [])) != self._expected[t]:
                raise WrongOutput(f"{where} copy of {t} differs from the generated rows")


# A subset: every run pays each query's first execution, and a benchmark
# round of 48 runs must finish within an hour on 4 cores, which all 30
# reference queries plus the heavy dedup set do not. These cover the plan
# shapes (scan, join, window, aggregate, multi-table counts, point lookup)
# and one query per operator module.
REFERENCE_MIX = (
    "balance_reconciliation",
    "row_counts",
    "point_lookup",
    "fk_join_region",
    "running_balance",
    "pricing_summary",
    "top_revenue",
    "customer_drilldown",
)
DEDUP_MIX = ("minhash_lsh", "similarity_topk", "supplier_pagerank")
QUERY_SF = 0.01


def make(name: str, cache_dir: str):
    if name == "query_mix":
        return QueryWorkload(REFERENCE_MIX + DEDUP_MIX, QUERY_SF, cache_dir)
    if name == "convert_roundtrip":
        return ConvertWorkload(gen_hhek.N_TRANSACTIONS)
    raise KeyError(name)
