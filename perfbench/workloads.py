"""The benchmark's workloads, expressed in one op model, and their output
checks.

Every op has two steps, each a call into one public layer of the
program:

- **build** calls the plan or pipeline function and returns its
  DataFrame (eager actions the plan fires run here);
- **execute** writes that DataFrame to the op's sink: registry queries
  write to Spark's ``noop`` sink, ETL ops through
  ``sources.sinks.ParquetWarehouseSink``.

A workload is an ordered list of ops that one closed-loop client runs
back to back; a *pass* is one run over the list.
"""

from __future__ import annotations

import importlib.util
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from airbnb_pyspark_jobs_spark.operators.scd2 import validate_scd2_schema
from airbnb_pyspark_jobs_spark.plans import ORACLES, QUERIES
from airbnb_pyspark_jobs_spark.plans import airbnb_pipeline as P
from airbnb_pyspark_jobs_spark.sources.parquet import read_parquet
from airbnb_pyspark_jobs_spark.sources.sinks import ParquetWarehouseSink

from perfbench.inputs import TABLES


@dataclass
class Context:
    """What an op needs at run time: the session and the generated inputs."""

    spark: SparkSession
    manifest: dict
    warehouse: str
    sink: ParquetWarehouseSink = field(init=False)

    def __post_init__(self) -> None:
        self.sink = ParquetWarehouseSink(self.warehouse)

    @property
    def sf_dir(self) -> str:
        return self.manifest["sf_dir"]

    def extract(self, name: str) -> str:
        return self.manifest["etl"]["paths"][name]

    def as_of(self, day: int) -> str:
        return self.manifest["etl"]["as_of"][day]

    def table(self, name: str) -> DataFrame:
        return read_parquet(self.spark, os.path.join(self.warehouse, name))


@dataclass(frozen=True)
class Op:
    name: str
    # which program layer the op exercises: "query" for registry queries;
    # "stage", "scd2_initial", "scd2_merge", "dim" or "fact" for ETL ops
    kind: str
    build: Callable[[Context], DataFrame]
    execute: Callable[[Context, DataFrame], None]
    # the sink table an ETL op writes (None for registry queries)
    table: str | None = None


def _noop(_: Context, df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_op(name: str) -> Op:
    return Op(name, "query", lambda c: QUERIES[name](c.spark, c.sf_dir), _noop)


def _etl_op(name: str, kind: str, table: str, build: Callable[[Context], DataFrame]) -> Op:
    return Op(name, kind, build, lambda c, df: c.sink.write(df, table), table)


def _stage(extract: str, fn: Callable[[SparkSession, str], DataFrame]) -> Op:
    return _etl_op(f"stage_{extract}", "stage", f"stg_{extract}", lambda c: fn(c.spark, c.extract(extract)))


def _fact(name: str, listings: str, suffix: str) -> Op:
    # day-2 listings add no calendar rows, so both facts use the day-1
    # location dimension
    return _etl_op(
        name,
        "fact",
        "fact_listing_daily" + suffix,
        lambda c: P.build_fact_listing_daily(
            c.table("stg_calendar"),
            c.table(listings),
            c.table("dim_listing" + suffix),
            c.table("dim_host" + suffix),
            c.table("dim_location"),
        ),
    )


# The reference pipeline: stage -> initial SCD2 dims + location/date dims
# -> fact -> day-2 snapshot through the SCD2 merge -> fact again.
ETL_OPS: tuple[Op, ...] = (
    _stage("listings", P.stage_listings),
    _stage("calendar", P.stage_calendar),
    _stage("reviews", P.stage_reviews),
    _etl_op("dim_host_initial", "scd2_initial", "dim_host",
            lambda c: P.build_dim_host(c.table("stg_listings"), None, c.as_of(0))),
    _etl_op("dim_listing_initial", "scd2_initial", "dim_listing",
            lambda c: P.build_dim_listing(c.table("stg_listings"), None, c.as_of(0))),
    _etl_op("dim_location", "dim", "dim_location",
            lambda c: P.build_dim_location(c.table("stg_listings"))),
    _etl_op("dim_date", "dim", "dim_date", lambda c: P.build_dim_date(c.spark)),
    _fact("fact_initial", "stg_listings", ""),
    _stage("listings_day2", P.stage_listings),
    _etl_op("dim_host_merge", "scd2_merge", "dim_host_v2",
            lambda c: P.build_dim_host(c.table("stg_listings_day2"), c.table("dim_host"), c.as_of(1))),
    _etl_op("dim_listing_merge", "scd2_merge", "dim_listing_v2",
            lambda c: P.build_dim_listing(c.table("stg_listings_day2"), c.table("dim_listing"), c.as_of(1))),
    _fact("fact_day2", "stg_listings_day2", "_v2"),
)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    etl: bool = False
    # discarded passes in set-up, the first of which checks the outputs
    warmups: int = 1


def _queries(*names: str) -> tuple[Op, ...]:
    return tuple(query_op(n) for n in names)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # Registry queries at sf0.01 into the noop sink. Mostly short
        # scan/join/agg/window reads from bench.py's headline set, where
        # fixed per-op overhead and planning dominate and build is ~0;
        # plus one near-dup-graph op whose build fires eager checkpoints
        # (q262) and one execution-bound Arrow op (q218). The JIT is
        # still compiling through the first noop pass after the checked
        # one, so set-up runs a second, unchecked warm-up pass.
        Workload("registry_mix", _queries(
            "q01_pricing_summary",
            "q11_top_orders_per_customer",
            "q13_events_json",
            "q41_exact_dedup",
            "q60_events_tumbling_1h",
            "q61_user_sessions",
            "q262_dup_graph_assortativity",
            "q218_bootstrap_mean",
        ), warmups=2),
        # The reference pipeline over seeded CSV extracts, every table
        # written through ParquetWarehouseSink.
        Workload("warehouse_etl", ETL_OPS, etl=True),
    )
}


# --- output checks ----------------------------------------------------------


def _verify_queries_norm():
    """``norm`` of scripts/verify_queries.py: the registry's type-strict
    value normalisation for oracle comparison."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "verify_queries", os.path.join(root, "scripts", "verify_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


class QueryChecker:
    """Compares registry query results with their DuckDB ``ORACLES`` SQL:
    columns sorted by name, rows sorted by repr, values type-strict.

    The expected results are computed up front, so the comparison in
    :meth:`check` is the only benchmark-side work left in the warm-up
    pass; ``compare_s`` accumulates its time."""

    def __init__(self, sf_dir: str, names: list[str]):
        import duckdb

        self.norm = _verify_queries_norm()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {n: self._rows(con.execute(ORACLES[n]).fetchdf()) for n in names if n in ORACLES}
        con.close()
        self.compare_s = 0.0

    def _rows(self, pdf) -> tuple[list[str], list[tuple]]:
        cols = sorted(pdf.columns)
        rows = [tuple(self.norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
        return cols, sorted(rows, key=repr)

    def check(self, name: str, df: DataFrame) -> str | None:
        """None when ``df`` matches the oracle, else why it does not."""
        if name not in self.expected:
            return "no oracle"
        pdf = df.toPandas()
        t0 = time.perf_counter()
        try:
            (s_cols, s_rows), (d_cols, d_rows) = self._rows(pdf), self.expected[name]
            if s_cols != d_cols:
                return f"columns {s_cols} != oracle {d_cols}"
            if s_rows != d_rows:
                return f"values differ from oracle (rows {len(s_rows)} vs {len(d_rows)})"
            return None
        finally:
            self.compare_s += time.perf_counter() - t0


def _money_sql(col: str) -> str:
    return f"TRY_CAST(replace(replace({col}, '$', ''), ',', '') AS DECIMAL(10,2))"


def _csv_sql(path: str) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "*.csv")
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"', escape='\"')"


class EtlChecker:
    """Checks the ETL ops' sink tables against DuckDB over the same CSVs
    and against the SCD2 invariants. The sink's parquet files are read
    with DuckDB too, so a check fires no Spark job."""

    def __init__(self, ctx: Context):
        import duckdb

        self.ctx = ctx
        self.con = duckdb.connect()

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def _out(self, table: str) -> str:
        return f"read_parquet('{os.path.join(self.ctx.warehouse, table)}/*.parquet')"

    def _stage(self, extract: str, table: str) -> str | None:
        src = _csv_sql(self.ctx.extract(extract))
        money = extract.startswith("listings") or extract == "calendar"
        price = _money_sql("price") if money else "0"
        want = self._one(f"SELECT count(*), sum({price}) FROM {src}")
        got = self._one(f"SELECT count(*), sum({'price' if money else '0'}) FROM {self._out(table)}")
        return None if got == want else f"staged (rows, price sum) {got}, CSV {want}"

    def _scd2(self, table: str, spec, key_col: str, extracts: list[str], expired: int) -> str | None:
        validate_scd2_schema(self.ctx.table(table), spec)
        key = spec.natural_key[0]
        union = " UNION ".join(
            f"SELECT TRY_CAST({key_col} AS BIGINT) AS k FROM {_csv_sql(self.ctx.extract(e))}"
            for e in extracts
        )
        want = self._one(f"SELECT count(DISTINCT k) FROM ({union}) WHERE k IS NOT NULL")[0]
        keys, valid, n_expired, multi = self._one(f"""
            SELECT count(DISTINCT {key}), count(*) FILTER (is_valid),
                   count(*) FILTER (NOT is_valid),
                   (SELECT count(*) FROM (SELECT {key} FROM {self._out(table)} WHERE is_valid
                                          GROUP BY {key} HAVING count(*) > 1))
            FROM {self._out(table)}""")
        if multi:
            return f"{multi} keys with more than one is_valid row"
        if keys != want or valid != want:
            return f"{keys} keys / {valid} valid rows, want {want}"
        if n_expired != expired:
            return f"{n_expired} expired rows, want {expired}"
        return None

    def _location(self, table: str) -> str | None:
        want = self._one(
            "SELECT count(*) FROM (SELECT DISTINCT CAST(latitude AS DECIMAL(10,6)), "
            f"CAST(longitude AS DECIMAL(10,6)) FROM {_csv_sql(self.ctx.extract('listings'))} "
            "WHERE latitude IS NOT NULL AND longitude IS NOT NULL)"
        )[0]
        got = self._one(f"SELECT count(*) FROM {self._out(table)}")[0]
        return None if got == want else f"{got} locations, want {want}"

    def _fact(self, table: str, listings: str) -> str | None:
        want = set(self.con.execute(f"""
            WITH l AS (
              SELECT TRY_CAST(id AS BIGINT) AS id FROM {_csv_sql(self.ctx.extract(listings))}
              WHERE id IS NOT NULL AND host_id IS NOT NULL
                AND latitude IS NOT NULL AND longitude IS NOT NULL),
            c AS (
              SELECT TRY_CAST(listing_id AS BIGINT) AS lid, TRY_CAST(date AS DATE) AS d,
                COALESCE({_money_sql('price')}, 100.00) AS price,
                COALESCE({_money_sql('adjusted_price')}, {_money_sql('price')}, 100.00) AS adj
              FROM {_csv_sql(self.ctx.extract('calendar'))})
            SELECT lid, count(*), sum(price), sum(adj) FROM c JOIN l ON c.lid = l.id
            WHERE d IS NOT NULL GROUP BY lid""").fetchall())
        got = set(self.con.execute(
            f"SELECT listing_id, count(*), sum(price), sum(adjusted_price) FROM {self._out(table)} "
            "GROUP BY listing_id"
        ).fetchall())
        if got == want:
            return None
        rows = (sum(r[1] for r in got), sum(r[1] for r in want))
        return f"fact rows {rows[0]} vs {rows[1]}; {len(got ^ want)} per-listing sums differ"

    def check(self, op: Op) -> str | None:
        m = self.ctx.manifest["etl"]
        if op.kind == "stage":
            return self._stage(op.name.removeprefix("stage_"), op.table)
        if op.name.startswith("dim_host"):
            merge = op.kind == "scd2_merge"
            extracts = ["listings", "listings_day2"] if merge else ["listings"]
            return self._scd2(op.table, P.HOST_SPEC, "host_id", extracts, m["expired_hosts"] if merge else 0)
        if op.name.startswith("dim_listing"):
            merge = op.kind == "scd2_merge"
            extracts = ["listings", "listings_day2"] if merge else ["listings"]
            return self._scd2(op.table, P.LISTING_SPEC, "id", extracts, m["expired_listings"] if merge else 0)
        if op.name == "dim_location":
            return self._location(op.table)
        if op.name == "dim_date":
            n = self._one(f"SELECT count(*) FROM {self._out(op.table)}")[0]
            want = self._one("SELECT DATE '2030-12-31' - DATE '2010-01-01' + 1")[0]
            return None if n == want else f"{n} dates, want {want}"
        if op.name == "fact_initial":
            return self._fact(op.table, "listings")
        if op.name == "fact_day2":
            return self._fact(op.table, "listings_day2")
        return "no check for this op"

    def close(self) -> None:
        self.con.close()
