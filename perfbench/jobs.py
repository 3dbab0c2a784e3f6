"""The three benchmark workloads as Keboola data directories.

Each workload is a list of :class:`Job` objects. The first job is the
timed one; the rest are the known-defect jobs (see ``NOTES.md``),
which run untimed after it. A job knows how to write its own data
directory (``in/tables`` + manifests + ``config.json``) and how DuckDB
replays it: which inputs to load, which statements to run, and which
tables the product exports.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import make_tables

THREADS = 4
MAX_MEMORY_MB = 3072
# name -> the input tables its text reads
EXPORT_DEFECTS = {"q40_distinct_on_lambdas": ("orders",), "q63_round8_surfaces": ("part",)}
# q40 fails in ~1.7 s on a cold session, q63 in ~5.5 s (its Python UDFs
# start a worker): every workload runs q40, so ``fail_ratio`` never reads
# 0 and a fix shows everywhere; only dialect_surface runs q63 too
CHEAP_DEFECTS = ("q40_distinct_on_lambdas",)
SURFACE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_KBC_TYPES = {
    pa.types.is_integer: ("INTEGER", "BIGINT"),
    pa.types.is_floating: ("FLOAT", "DOUBLE"),
    pa.types.is_timestamp: ("TIMESTAMP", "TIMESTAMP"),
    pa.types.is_string: ("STRING", "VARCHAR"),
}


def _kbc_type(dtype: pa.DataType) -> tuple[str, str]:
    """(KBC base type, the DuckDB type the product imports it as)."""
    for test, types in _KBC_TYPES.items():
        if test(dtype):
            return types
    return "STRING", "VARCHAR"


@dataclass
class Input:
    """One input table: how it sits on disk and how DuckDB reads it."""

    name: str
    fmt: str  # "parquet" | "csv" | "sliced"
    table: pa.Table
    typed: bool  # manifest carries KBC base types

    def write(self, tables_dir: str, rng: np.random.Generator) -> dict:
        path = os.path.join(tables_dir, self.name)
        manifest: dict = {"id": f"in.c-bench.{self.name}", "columns": self.table.column_names}
        if self.typed:
            manifest["column_metadata"] = {
                f.name: [
                    {"key": "KBC.datatype.basetype", "value": _kbc_type(f.type)[0]},
                    {"key": "KBC.datatype.nullable", "value": "false"},
                ]
                for f in self.table.schema
            }
        if self.fmt == "parquet":
            os.makedirs(path)
            pq.write_table(self.table, os.path.join(path, "part-0001.parquet"))
        elif self.fmt == "csv":
            _write_kbc_csv(self.table, path, header=True)
        else:
            # headerless slices of uneven, seed-chosen length
            os.makedirs(path)
            cuts = np.sort(rng.choice(np.arange(1, self.table.num_rows), 3, replace=False))
            bounds = [0, *cuts.tolist(), self.table.num_rows]
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                _write_kbc_csv(
                    self.table.slice(lo, hi - lo),
                    os.path.join(path, f"slice-{i:02d}.csv"),
                    header=False,
                )
        with open(path + ".manifest", "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        mapping = {"source": manifest["id"], "destination": self.name}
        if self.fmt == "parquet":
            mapping["file_type"] = "parquet"
        return mapping

    def duck_view(self, data_dir: str) -> str:
        """The DuckDB view that mirrors the product's import of this input."""
        path = os.path.join(data_dir, "in", "tables", self.name)
        if self.fmt == "parquet":
            cols = ", ".join(
                f'CAST("{f.name}" AS BIGINT) AS "{f.name}"'
                if self.typed and pa.types.is_integer(f.type)
                else f'"{f.name}"'
                for f in self.table.schema
            )
            return f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"
        types = ", ".join(
            f"'{f.name}': '{_kbc_type(f.type)[1]}'" for f in self.table.schema
        )
        glob = f"{path}/*.csv" if self.fmt == "sliced" else path
        header = "false" if self.fmt == "sliced" else "true"
        return (
            f"SELECT * FROM read_csv('{glob}', header={header}, delim=',', "
            f"quote='\"', escape='\"', columns={{{types}}}, "
            "timestampformat='%Y-%m-%d %H:%M:%S')"
        )


def _write_kbc_csv(table: pa.Table, path: str, header: bool) -> None:
    """Keboola CSV: comma separated, every value quoted, quotes doubled."""
    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type):
            col = pa.compute.strftime(col.cast(pa.timestamp("s")), format="%Y-%m-%d %H:%M:%S")
        cols.append(col)
    opts = pacsv.WriteOptions(include_header=header, quoting_style="all_valid")
    pacsv.write_csv(pa.table(cols, names=table.column_names), path, opts)


@dataclass
class Job:
    """One ``Component.run()`` over one data directory."""

    name: str
    blocks: list[dict]
    inputs: list[Input]
    exports: list[str]
    # statements DuckDB runs after loading the inputs
    duck_script: list[str] = field(default_factory=list)
    # blocks the traced run also puts through the SQL validator
    validate_blocks: list[dict] = field(default_factory=list)
    expect_export_failure: bool = False

    @property
    def statements(self) -> int:
        return sum(len(c["script"]) for b in self.blocks for c in b["codes"])

    def write(self, data_dir: str, seed: int) -> None:
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        tables_dir = os.path.join(data_dir, "in", "tables")
        os.makedirs(tables_dir)
        os.makedirs(os.path.join(data_dir, "out", "tables"))
        rng = np.random.default_rng([seed, 7])
        mappings = [inp.write(tables_dir, rng) for inp in self.inputs]
        config = {
            "parameters": {
                "blocks": self.blocks,
                "threads": THREADS,
                "max_memory_mb": MAX_MEMORY_MB,
                "syntax_check_on_startup": False,
            },
            "storage": {
                "input": {"tables": mappings},
                "output": {
                    "tables": [
                        {"source": t, "destination": f"out.c-bench.{t}"}
                        for t in self.exports
                    ]
                },
            },
        }
        with open(os.path.join(data_dir, "config.json"), "w", encoding="utf-8") as fh:
            json.dump(config, fh, indent=1)


def _block(name: str, codes: list[tuple[str, list[str]]]) -> dict:
    return {"name": name, "codes": [{"name": n, "script": s} for n, s in codes]}


# -- etl_analytics ----------------------------------------------------------

def etl_analytics(seed: int) -> list[Job]:
    t = make_tables(0.1, seed, ("customer", "orders", "lineitem", "part"))
    rng = np.random.default_rng([seed, 1])
    cut = f"1995-{1 + int(rng.integers(0, 6)):02d}-01 00:00:00"
    # money is DECIMAL so every sum is exact and order-independent: a
    # DOUBLE sum rounded to cents can differ by a cent between engines
    # (seen on one seed in 10)
    stage = [
        ("cust_orders", [
            "CREATE TABLE cust_orders AS SELECT o.o_orderkey, o.o_custkey, "
            "c.c_nationkey, c.c_mktsegment, o.o_orderdate, o.o_orderstatus "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderdate >= TIMESTAMP '{cut}'"]),
        ("line_rev", [
            "CREATE TABLE line_rev AS SELECT l_orderkey, "
            "sum(CAST(l_extendedprice AS DECIMAL(12, 2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4, 2)))) AS revenue, "
            "CAST(count(*) AS BIGINT) AS n_lines FROM lineitem GROUP BY l_orderkey"]),
        ("part_stats", [
            "CREATE TABLE part_stats AS SELECT p_type, p_size % 10 AS size_band, "
            "CAST(count(*) AS BIGINT) AS n, "
            "sum(CAST(p_retailprice AS DECIMAL(8, 1))) AS total_price "
            "FROM part GROUP BY p_type, p_size % 10"]),
        ("fanout", [
            "CREATE TABLE fanout AS SELECT o.o_orderkey, o.o_orderpriority, f.k, "
            "CAST(o.o_totalprice AS DECIMAL(12, 2)) * f.k AS scaled FROM orders o "
            "CROSS JOIN (VALUES (1), (2), (3), (4), (5)) AS f(k)"]),
    ]
    report = [
        ("order_enriched", [
            "CREATE TABLE order_enriched AS SELECT co.o_orderkey, co.o_custkey, "
            "co.c_nationkey, co.o_orderdate, co.o_orderstatus, lr.revenue, lr.n_lines "
            "FROM cust_orders co JOIN line_rev lr ON co.o_orderkey = lr.l_orderkey"]),
        ("nation_rank", [
            "CREATE TABLE nation_rank AS SELECT c_nationkey, o_orderstatus, "
            "sum(revenue) AS rev, CAST(sum(n_lines) AS BIGINT) AS lines, "
            "CAST(rank() OVER (PARTITION BY o_orderstatus "
            "ORDER BY sum(revenue) DESC) AS INT) AS rk "
            "FROM order_enriched GROUP BY c_nationkey, o_orderstatus"]),
        ("rolling", [
            "CREATE TABLE rolling AS SELECT o_custkey, o_orderkey, o_orderdate, "
            "sum(revenue) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, "
            "o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll3, "
            "lag(n_lines) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, "
            "o_orderkey) AS prev_lines FROM order_enriched"]),
        ("rolling_summary", [
            "CREATE TABLE rolling_summary AS SELECT CAST(year(o_orderdate) AS INT) AS yr, "
            "CAST(count(*) AS BIGINT) AS n, max(roll3) AS max_roll3, "
            "sum(roll3) AS sum_roll3, "
            "CAST(sum(coalesce(prev_lines, 0)) AS BIGINT) AS prev_lines "
            "FROM rolling GROUP BY 1"]),
        ("nation_top", [
            "UPDATE nation_rank SET rev = round(rev * 1.1, 2) WHERE rk <= 3"]),
        ("fan_summary", [
            "CREATE TABLE fan_summary AS SELECT k, o_orderpriority, "
            "CAST(count(*) AS BIGINT) AS n, sum(scaled) AS total "
            "FROM fanout GROUP BY k, o_orderpriority"]),
    ]
    blocks = [_block("stage", stage), _block("report", report)]
    inputs = [
        Input(n, "parquet", t[n], typed=True)
        for n in ("customer", "orders", "lineitem", "part")
    ]
    main = Job(
        name="etl_analytics",
        blocks=blocks,
        inputs=inputs,
        exports=["nation_rank", "rolling_summary", "fan_summary", "part_stats"],
        duck_script=[s for b in (stage, report) for _, ss in b for s in ss],
    )
    return [main, *known_defect_jobs(seed, CHEAP_DEFECTS)]


# -- dialect_surface --------------------------------------------------------

def surface_texts() -> dict[str, tuple[str, str]]:
    """``name -> (product SQL, DuckDB SQL)`` for every shared-text ``q*``
    SQL text in the workload registry. The DuckDB side is the
    registry's oracle, which is the same text except where DuckDB 1.0
    needs its own spelling."""
    from component_duckdb_transformation_spark import workloads as wl

    texts: dict[str, tuple[str, str]] = {}
    for name, w in sorted(wl.WORKLOADS.items()):
        if not name.startswith("q"):
            continue
        defaults = w.make.__defaults__
        if defaults and isinstance(defaults[0], str):
            sql = defaults[0]
        elif name == "q55_union_by_name":
            sql = wl._UBN_SQL
        elif name == "q44_columns_macro":
            sql = wl._COLUMNS_MACRO_SQL
        else:
            continue
        texts[name] = (sql.strip(), (w.oracle or sql).strip())
    return texts


def _surface_inputs(seed: int, names=SURFACE_TABLES) -> list[Input]:
    t = make_tables(0.001, seed, names)
    return [Input(n, "parquet", t[n], typed=False) for n in names]


def dialect_surface(seed: int) -> list[Job]:
    # every sixth text in name order: a cold job over all 70 runs ~55 s,
    # which the benchmark's time budget cannot carry (NOTES.md); the
    # traced run validates all 72
    names = [n for n in surface_texts() if n not in EXPORT_DEFECTS][::6]
    texts = {n: surface_texts()[n] for n in names}
    codes = [(n, [f"CREATE TABLE {n} AS {sql}"]) for n, (sql, _) in texts.items()]
    main = Job(
        name="dialect_surface",
        blocks=[_block("surface", codes)],
        inputs=_surface_inputs(seed),
        exports=list(texts),
        duck_script=[f"CREATE TABLE {n} AS {duck}" for n, (_, duck) in texts.items()],
        validate_blocks=[_block("surface", [
            (n, [f"CREATE TABLE {n} AS {sql}"]) for n, (sql, _) in surface_texts().items()
        ])],
    )
    return [main, *known_defect_jobs(seed)]


def known_defect_jobs(seed: int, names=tuple(EXPORT_DEFECTS)) -> list[Job]:
    """One one-statement job per known export defect (``NOTES.md``)."""
    texts = surface_texts()
    jobs = []
    for name in names:
        tables = EXPORT_DEFECTS[name]
        sql, duck = texts[name]
        jobs.append(Job(
            name=name,
            blocks=[_block("defect", [(name, [f"CREATE TABLE {name} AS {sql}"])])],
            inputs=_surface_inputs(seed, tables),
            exports=[name],
            duck_script=[f"CREATE TABLE {name} AS {duck}"],
            expect_export_failure=True,
        ))
    return jobs


# -- mutation_csv -----------------------------------------------------------

ROUNDS = 1


def mutation_csv(seed: int) -> list[Job]:
    t = make_tables(0.05, seed, ("orders", "customer", "lineitem"))
    rng = np.random.default_rng([seed, 3])
    n_ord = t["orders"].num_rows
    n_cust = t["customer"].num_rows
    loaded = int(n_ord * 0.6)
    step = (n_ord - loaded) // ROUNDS
    w = n_ord // 20
    orders = t["orders"].drop_columns(["o_orderpriority"])
    ord_cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"

    def lo(span: int) -> int:
        return int(rng.integers(0, span))

    load = [
        ("ord", [
            "CREATE TABLE ord (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
            "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP)",
            f"INSERT INTO ord SELECT {ord_cols} FROM orders WHERE o_orderkey < {loaded}",
        ]),
        ("cust", [
            "CREATE TABLE cust_pk (k BIGINT PRIMARY KEY, bal DOUBLE, src VARCHAR)",
            "INSERT INTO cust_pk SELECT c_custkey, c_acctbal, 'base' FROM customer "
            f"WHERE c_custkey < {n_cust * 2 // 5}",
        ]),
        ("line_tot", [
            "CREATE TABLE line_tot AS SELECT l_orderkey, round(sum(l_extendedprice), 2) "
            "AS tot, CAST(count(*) AS BIGINT) AS n, max(l_shipdate) AS last_ship "
            "FROM lineitem GROUP BY l_orderkey"]),
    ]
    ord_script: list[str] = []
    duck_ord: list[str] = []
    cust_script: list[str] = []
    for r in range(ROUNDS):
        a, b, m, p, q = (lo(loaded - w) for _ in range(5))
        new_lo, new_hi = loaded + r * step, loaded + (r + 1) * step
        msrc = f"msrc_{r}"
        stmts = [
            "UPDATE ord SET o_totalprice = o_totalprice + 500.0 "
            f"WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN {a} AND {a + w}",
            f"DELETE FROM ord WHERE o_totalprice < 150000 AND o_orderkey BETWEEN {b} AND {b + w}",
            f"INSERT INTO ord SELECT o_orderkey, o_custkey, 'N', o_totalprice, o_orderdate "
            f"FROM orders WHERE o_orderkey >= {new_lo} AND o_orderkey < {new_hi}",
            f"CREATE TABLE {msrc} AS SELECT o_orderkey, o_custkey, o_orderdate, "
            f"o_totalprice + 1000.0 AS new_price FROM orders "
            f"WHERE o_orderkey BETWEEN {m} AND {m + w}",
        ]
        merge = (
            f"MERGE INTO ord USING {msrc} ON ord.o_orderkey = {msrc}.o_orderkey "
            f"WHEN MATCHED AND {msrc}.new_price < 100000 THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET o_totalprice = {msrc}.new_price "
            f"WHEN NOT MATCHED THEN INSERT ({ord_cols}) VALUES ({msrc}.o_orderkey, "
            f"{msrc}.o_custkey, 'M', {msrc}.new_price, {msrc}.o_orderdate)"
        )
        # pre-MERGE replay of the same semantics (the x26 registry
        # oracle's shape): DuckDB 1.0 has no MERGE
        merge_replay = [
            f"CREATE TEMP TABLE {msrc}_ins AS SELECT s.* FROM {msrc} s "
            "WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM ord)",
            f"DELETE FROM ord WHERE o_orderkey IN "
            f"(SELECT o_orderkey FROM {msrc} WHERE new_price < 100000)",
            f"UPDATE ord SET o_totalprice = s.new_price FROM {msrc} s "
            "WHERE ord.o_orderkey = s.o_orderkey",
            f"INSERT INTO ord SELECT o_orderkey, o_custkey, 'M', new_price, o_orderdate "
            f"FROM {msrc}_ins",
        ]
        tail = [
            f"INSERT OR REPLACE INTO ord SELECT o_orderkey, o_custkey, 'R', "
            f"o_totalprice * 2, o_orderdate FROM orders "
            f"WHERE o_orderkey BETWEEN {p} AND {p + w}",
            f"INSERT INTO ord SELECT {ord_cols} FROM orders "
            f"WHERE o_orderkey BETWEEN {q} AND {q + w} ON CONFLICT (o_orderkey) "
            "DO UPDATE SET o_totalprice = excluded.o_totalprice + ord.o_totalprice, "
            "o_orderstatus = 'U'",
        ]
        ord_script += [*stmts, merge, *tail]
        duck_ord += [*stmts, *merge_replay, *tail]
        c0, c1, c2 = (lo(n_cust - n_cust // 10) for _ in range(3))
        cw = n_cust // 10
        cust_script += [
            f"INSERT OR REPLACE INTO cust_pk SELECT c_custkey, c_acctbal + 100.0, "
            f"'repl{r}' FROM customer WHERE c_custkey BETWEEN {c0} AND {c0 + cw}",
            f"INSERT OR IGNORE INTO cust_pk SELECT c_custkey, 0.0, 'ign{r}' "
            f"FROM customer WHERE c_custkey BETWEEN {c1} AND {c1 + cw}",
            f"INSERT INTO cust_pk SELECT c_custkey, c_acctbal, 'conf{r}' FROM customer "
            f"WHERE c_custkey BETWEEN {c2} AND {c2 + cw} ON CONFLICT (k) DO UPDATE "
            f"SET bal = excluded.bal + cust_pk.bal, src = 'upd{r}'",
        ]
    mutate = [("ord_rounds", ord_script), ("cust_rounds", cust_script)]
    inputs = [
        Input("orders", "csv", orders, typed=True),
        Input("customer", "csv", t["customer"], typed=True),
        Input("lineitem", "sliced", t["lineitem"], typed=True),
    ]
    main = Job(
        name="mutation_csv",
        blocks=[_block("load", load), _block("mutate", mutate)],
        inputs=inputs,
        exports=["ord", "cust_pk"],
        duck_script=[s for _, ss in load for s in ss] + duck_ord + cust_script,
    )
    return [main, *known_defect_jobs(seed, CHEAP_DEFECTS)]


WORKLOADS = {
    "etl_analytics": etl_analytics,
    "dialect_surface": dialect_surface,
    "mutation_csv": mutation_csv,
}
