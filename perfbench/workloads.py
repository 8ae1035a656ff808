"""The four workloads: each is a fixed list of queries, run in order by one
client, every answer checked against the generator's expected values (or,
for the registered operators, against their DuckDB oracle)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from gen import FILLERS, JSON_SCHEMA, PIPELINE_TABLES, roundtrip_sql
from spans import Tracer


@dataclass
class Ctx:
    spark: Any
    inp: Path
    exp: dict
    seed: int
    tracer: Tracer
    oracle: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Query:
    metric: str  # the end-to-end latency metric this query reports
    run: Callable[[Ctx], tuple[Any, Any]]  # -> (answer, DataFrame or None)
    check: Callable[[Ctx, Any], str | None]  # -> None, or what is wrong


@dataclass(frozen=True)
class Scan:
    """A read as the direct layer probes make it: a tectonic format, a path
    under the inputs, reader options and a DDL schema (None: infer)."""

    fmt: str
    path: str
    options: dict = field(default_factory=dict)
    ddl: str | None = None


@dataclass(frozen=True)
class Probes:
    """What the traced run feeds to ``core`` and ``sources`` directly."""

    json_path: str  # NDJSON (file or directory) for the parser probe and inference
    full: Scan  # the workload's full read
    projection: Scan  # the read its projection query makes
    pushdown: tuple[Scan, Any] | None = None  # a read with ``k = value`` pushed
    writes: bool = False  # also drive the writers


@dataclass(frozen=True)
class Workload:
    name: str
    first_plan: Callable[[Ctx], Any]  # the DataFrame planned during set-up
    queries: list[Query]
    probes: Probes | None = None  # None: the tectonic core and sources do no work


def _mismatch(got: dict, want: dict) -> str | None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return None if not bad else f"got != expected: {bad}"


def _collect(ctx: Ctx, build: Callable[[], Any]) -> tuple[list, Any]:
    """Build the DataFrame (analysis runs eagerly), plan it, then execute
    it, each inside its own span."""
    tr = ctx.tracer
    with tr.span("analyze", "planning"):
        df = build()
    with tr.span("plan", "planning"):
        df._jdf.queryExecution().executedPlan()
    with tr.span("execute", "exec"):
        rows = df.collect()
    return rows, df


# ------------------------------------------------------------- JSON reads


def _json(ctx: Ctx, path: Path, schema: str = JSON_SCHEMA, **opts):
    r = ctx.spark.read.format("tectonic-json").schema(schema)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(str(path))


def _infer(ctx: Ctx, path: Path):
    """A read with no schema: planning it runs the source's inference."""
    return ctx.spark.read.format("tectonic-json").load(str(path))


def _full_aggs(extra: list | None = None) -> list:
    from pyspark.sql import functions as F

    text = F.length("uid")
    for c in FILLERS:
        text = text + F.length(c)
    return (extra or []) + [
        F.sum("id").alias("sum_id"),
        F.sum("k").alias("sum_k"),
        F.sum("v").alias("sum_v"),
        F.sum("meta.score").alias("sum_score"),
        F.sum(F.col("flag").cast("int")).alias("n_flag"),
        F.sum(text).alias("text_len"),
    ]


_FULL_KEYS = ("sum_id", "sum_k", "sum_v", "sum_score", "n_flag", "text_len")


def _big(ctx: Ctx):
    return _json(ctx, ctx.inp / "big.ndjson")


def _q_full(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(ctx, lambda: _big(ctx).agg(*_full_aggs([F.count("*").alias("rows")])))


def _c_full(ctx: Ctx, rows) -> str | None:
    return _mismatch(rows[0].asDict(), {k: ctx.exp[k] for k in ("rows",) + _FULL_KEYS})


def _q_project(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(ctx, lambda: _big(ctx).select("v").agg(F.sum("v").alias("sum_v")))


def _c_project(ctx: Ctx, rows) -> str | None:
    return _mismatch(rows[0].asDict(), {"sum_v": ctx.exp["sum_v"]})


def _q_filter(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(
        ctx,
        lambda: _big(ctx)
        .filter("k = 3")
        .agg(F.count("*").alias("k3_rows"), F.sum("id").alias("k3_sum_id")),
    )


def _c_filter(ctx: Ctx, rows) -> str | None:
    return _mismatch(rows[0].asDict(), {k: ctx.exp[k] for k in ("k3_rows", "k3_sum_id")})


def _q_agg(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(
        ctx,
        lambda: _big(ctx)
        .groupBy(F.col("meta.lang").alias("lang"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v")),
    )


def _c_agg(ctx: Ctx, rows) -> str | None:
    return _mismatch({r["lang"]: [r["n"], r["sum_v"]] for r in rows}, ctx.exp["per_lang"])


def _q_permissive(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(
        ctx,
        lambda: _json(
            ctx,
            ctx.inp / "parts",
            JSON_SCHEMA + ", _corrupt STRING",
            columnNameOfCorruptRecord="_corrupt",
        ).agg(*_full_aggs([F.count("*").alias("lines"), F.count("_corrupt").alias("malformed")])),
    )


def _c_permissive(ctx: Ctx, rows) -> str | None:
    return _mismatch(rows[0].asDict(), {k: ctx.exp[k] for k in ("lines", "malformed") + _FULL_KEYS})


def _q_event_project(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(
        ctx,
        lambda: _json(ctx, ctx.inp / "parts", "id BIGINT, k BIGINT", fastPath="false").agg(
            F.count("*").alias("lines"),
            F.count("id").alias("rows"),
            F.sum("id").alias("sum_id"),
            F.sum("k").alias("sum_k"),
        ),
    )


def _c_event_project(ctx: Ctx, rows) -> str | None:
    return _mismatch(rows[0].asDict(), {k: ctx.exp[k] for k in ("lines", "rows", "sum_id", "sum_k")})


# ---------------------------------------------------------- write round trip


def _rows_df(ctx: Ctx):
    return ctx.spark.range(ctx.exp["rows"], numPartitions=4).selectExpr(*roundtrip_sql(ctx.seed))


def _write(ctx: Ctx, fmt: str, sub: str, **opts):
    tr = ctx.tracer
    with tr.span("analyze", "planning"):
        df = _rows_df(ctx)
        w = df.write.format(fmt).mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
    with tr.span("execute", "exec"):
        w.save(str(ctx.inp / "written" / sub))
    return None, None


def _written_lines(ctx: Ctx, sub: str) -> tuple[int, int]:
    """(files, newline-terminated lines) over the written part files."""
    parts = [p for p in (ctx.inp / "written" / sub).iterdir() if p.name.startswith("part-")]
    return len(parts), sum(p.read_bytes().count(b"\n") for p in parts)


def _c_write_json(ctx: Ctx, _ans) -> str | None:
    _, n = _written_lines(ctx, "json")
    return _mismatch({"rows": n}, {"rows": ctx.exp["rows"]})


def _c_write_csv(ctx: Ctx, _ans) -> str | None:
    files, n = _written_lines(ctx, "csv")
    return _mismatch({"rows": n - files}, {"rows": ctx.exp["rows"]})  # one header per file


def _q_csv_filter(ctx: Ctx):
    from pyspark.sql import functions as F

    return _collect(
        ctx,
        lambda: ctx.spark.read.format("tectonic-csv")
        .option("header", "true")
        .load(str(ctx.inp / "written" / "csv"))
        .filter("k = '3'")
        .agg(
            F.count("*").alias("k3_rows"),
            F.sum(F.col("id").cast("bigint")).alias("k3_sum_id"),
        ),
    )


# ------------------------------------------------------------- operators


def canon(names: list[str], rows: list) -> list[tuple]:
    """Rows as sorted tuples over name-sorted columns; floats by repr."""
    order = sorted(range(len(names)), key=names.__getitem__)

    def cell(v):
        return "<null>" if v is None else repr(v) if isinstance(v, float) else str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def oracle_rows(inp: Path, name: str) -> list[tuple]:
    import duckdb

    from tectonic_spark.operators import REGISTRY

    con = duckdb.connect()
    try:
        for t in PIPELINE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp / t}.parquet')")
        cur = con.execute(REGISTRY[name].oracle)
        return canon([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


def _operator(name: str):
    def run(ctx: Ctx):
        from tectonic_spark.operators import REGISTRY

        tr = ctx.tracer
        with tr.span("builder", "operators"):
            df = REGISTRY[name].builder(ctx.spark, str(ctx.inp))
        with tr.span("plan", "planning"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("execute", "exec"):
            rows = df.collect()
        ctx.spark.catalog.clearCache()  # persisting builders run cold each pass
        return (df.columns, rows), df

    def check(ctx: Ctx, ans) -> str | None:
        if name not in ctx.oracle:
            ctx.oracle[name] = oracle_rows(ctx.inp, name)
        got, want = canon(*ans), ctx.oracle[name]
        if got == want:
            return None
        return f"{len(got)} rows vs {len(want)} oracle rows, first diff " + repr(
            next((a, b) for a, b in zip(got + [None], want + [None]) if a != b)
        )

    return run, check


def _table_scan(ctx: Ctx):
    from tectonic_spark.tables import table

    return table(ctx.spark, str(ctx.inp), "documents")


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "json_bigfile",
            lambda ctx: _infer(ctx, ctx.inp / "big.ndjson"),
            [
                Query("json_full_s", _q_full, _c_full),
                Query("json_project_s", _q_project, _c_project),
                Query("json_filter_s", _q_filter, _c_filter),
                Query("json_agg_s", _q_agg, _c_agg),
            ],
            Probes(
                "big.ndjson",
                Scan("tectonic-json", "big.ndjson", ddl=JSON_SCHEMA),
                # Python sources are handed the whole user schema, projected or not
                Scan("tectonic-json", "big.ndjson", ddl=JSON_SCHEMA),
                (Scan("tectonic-json", "big.ndjson", ddl=JSON_SCHEMA), 3),
            ),
        ),
        Workload(
            "json_dirty_parts",
            lambda ctx: _infer(ctx, ctx.inp / "parts"),
            [
                Query("dirty_permissive_s", _q_permissive, _c_permissive),
                Query("event_project_s", _q_event_project, _c_event_project),
            ],
            Probes(
                "parts",
                Scan(
                    "tectonic-json",
                    "parts",
                    {"columnnameofcorruptrecord": "_corrupt"},
                    JSON_SCHEMA + ", _corrupt STRING",
                ),
                Scan("tectonic-json", "parts", {"fastpath": "false"}, "id BIGINT, k BIGINT"),
            ),
        ),
        Workload(
            "write_roundtrip",
            _rows_df,
            [
                Query("write_json_s", lambda ctx: _write(ctx, "tectonic-json", "json"), _c_write_json),
                Query(
                    "write_csv_s",
                    lambda ctx: _write(ctx, "tectonic-csv", "csv", header="true"),
                    _c_write_csv,
                ),
                Query("csv_filter_s", _q_csv_filter, _c_filter),
            ],
            Probes(
                "written/json",
                Scan("tectonic-csv", "written/csv", {"header": "true"}),
                Scan("tectonic-csv", "written/csv", {"header": "true"}),
                (Scan("tectonic-csv", "written/csv", {"header": "true"}), "3"),
                writes=True,
            ),
        ),
        Workload(
            "pipeline_ops",
            _table_scan,
            [
                Query(m, *_operator(n))
                for m, n in [("minhash_s", "c01_minhash_lsh"), ("kmeans_s", "c02_kmeans")]
            ],
        ),
    ]
}
