"""Property-based reader equivalence: for random nested NDJSON documents,
the C fast path and the event-parser path of TectonicJsonReader must emit
identical Arrow output (same schema, same cells) — including heterogeneous
rows that exercise normalization fallbacks (float-in-long, containers in
scalar columns, >int64 ints). On mutated NDJSON, malformed lines included,
the pyarrow block route, the per-line json.loads route and the event route
must agree too (the differential fuzz below)."""

from __future__ import annotations

import json
import os
import re
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tectonic_spark.sources.json_source import FileSplit, TectonicJsonReader, plan_splits
from tectonic_spark.sources.schema_infer import infer_spark_schema

scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**70), max_value=2**70),  # includes >int64
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(alphabet="abz ", max_size=5),
)
value = st.recursive(
    scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from("pqr"), children, max_size=2),
    ),
    max_leaves=4,
)
row_st = st.dictionaries(st.sampled_from(["a", "b", "c"]), value, max_size=3)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(row_st, min_size=1, max_size=10),
    st.integers(min_value=4, max_value=200),
    st.booleans(),
)
def test_split_invariance(rows, split_bytes, fast):
    """Byte-range splits partition the rows exactly once for ANY split
    size, on both paths (Hadoop text-split semantics)."""
    schema = infer_spark_schema(rows)
    if schema.fieldNames() == ["value"]:
        return
    data = ("\n".join(json.dumps(r) for r in rows) + "\n").encode()
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        opts = {"path": p, "fastpath": "true" if fast else "false"}
        whole = TectonicJsonReader(schema, opts, "lines")
        base = [
            row
            for b in whole.read(FileSplit(p, 0, len(data), len(data)))
            for row in b.to_pylist()
        ]
        split_rows = []
        for s in plan_splits([p], split_bytes, splittable=True):
            r = TectonicJsonReader(schema, opts, "lines")
            split_rows += [row for b in r.read(s) for row in b.to_pylist()]
        key = lambda r: json.dumps(r, sort_keys=True, default=str)  # noqa: E731
        assert sorted(map(key, split_rows)) == sorted(map(key, base))
        assert len(base) == len(rows)
    finally:
        os.unlink(p)


@settings(max_examples=60, deadline=None)
@given(st.lists(row_st, min_size=1, max_size=8))
def test_fast_path_equals_event_path(rows):
    schema = infer_spark_schema(rows)
    if schema.fieldNames() == ["value"]:
        return  # degenerate all-empty shape
    data = ("\n".join(json.dumps(r) for r in rows) + "\n").encode()
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        split = FileSplit(p, 0, len(data), len(data))
        out = {}
        for fp in ("true", "false"):
            r = TectonicJsonReader(schema, {"path": p, "fastpath": fp}, "lines")
            out[fp] = [row for b in r.read(split) for row in b.to_pylist()]
        assert out["true"] == out["false"]
        assert len(out["true"]) == len(rows)
    finally:
        os.unlink(p)


# ------------------------------------------------------- differential fuzz

# a fixed scan schema whose types all qualify for the pyarrow block route;
# generated rows may also carry an unknown key "z" the scan skips
FUZZ_SCHEMA = StructType(
    [
        StructField("a", LongType()),
        StructField("b", DoubleType()),
        StructField("s", StringType()),
        StructField("m", StructType([StructField("x", LongType()), StructField("t", StringType())])),
        StructField("l", ArrayType(LongType())),
    ]
)
text = st.text(alphabet="abé中\U0001f600\"\\\n ", max_size=4)
fuzz_row = st.fixed_dictionaries(
    {},
    optional={
        "a": st.integers(-1000, 1000),
        "b": st.floats(allow_nan=False, allow_infinity=False, width=32),
        "s": text,
        "m": st.fixed_dictionaries({}, optional={"x": st.integers(-9, 9), "t": text}),
        "l": st.lists(st.integers(-9, 9), max_size=3),
        "z": st.one_of(text, st.lists(st.integers(), max_size=2)),
    },
)


@st.composite
def mutated_ndjson(draw) -> bytes:
    """NDJSON of ``fuzz_row`` rows (ASCII-escaped or raw UTF-8), then up to
    four mutations, each of which may make a line malformed."""
    rows = draw(st.lists(fuzz_row, min_size=1, max_size=6))
    ascii_only = draw(st.booleans())
    lines = [json.dumps(r, ensure_ascii=ascii_only).encode() for r in rows]
    for _ in range(draw(st.integers(0, 4))):
        i = draw(st.integers(0, len(lines) - 1))
        line = lines[i]
        j = draw(st.integers(0, len(line)))
        kind = draw(
            st.sampled_from(
                ["flip", "truncate", "constant", "two", "split", "utf8", "surrogate", "blank"]
            )
        )
        if kind == "flip" and j < len(line):
            lines[i] = line[:j] + bytes([draw(st.integers(0, 255))]) + line[j + 1 :]
        elif kind == "truncate":
            lines[i] = line[:j]
        elif kind == "constant":
            tok = draw(st.sampled_from([b"NaN", b"Infinity", b"-Infinity", b"Inf", b"-Inf"]))
            lines[i] = re.sub(rb"-?\d+(\.\d+)?(e[-+]?\d+)?", tok, line, count=1)
        elif kind == "two" and i + 1 < len(lines):
            lines[i : i + 2] = [line + b" " + lines[i + 1]]
        elif kind == "split":
            lines[i : i + 1] = [line[:j], line[j:]]
        elif kind == "utf8":
            q = line.find(b'"', j)
            bad = draw(st.sampled_from([b"\xff", b"\xc3", b"\xed\xa0\x80", b"\xe4\xb8"]))
            lines[i] = line[: q + 1] + bad + line[q + 1 :]
        elif kind == "surrogate":
            q = line.find(b'"', j)
            esc = draw(st.sampled_from([b"\\ud800", b"\\udfff", b"\\ud83d\\u0041"]))
            lines[i] = line[: q + 1] + esc + line[q + 1 :]
        elif kind == "blank":
            lines.insert(i, draw(st.sampled_from([b"", b"  ", b"\t", b"\r"])))
    return b"\n".join(lines) + draw(st.sampled_from([b"\n", b""]))


ROUTES = ("arrow", "loads", "event")


def _read(
    path: str,
    size: int,
    route: str,
    parse_mode: str,
    corrupt: bool,
    split_bytes=None,
    schema: StructType = FUZZ_SCHEMA,
) -> list[dict]:
    """Rows of one lines-mode read through ``route``: the pyarrow block
    route, the per-line ``json.loads`` route (the block route turned off),
    or the event route (``fastPath=false``). Every batch must pass
    ``validate(full=True)``; ``corrupt`` adds the column ``_corrupt``."""
    opts = {"path": path, "parsemode": parse_mode}
    if corrupt:
        schema = StructType(list(schema.fields) + [StructField("_corrupt", StringType())])
        opts["columnnameofcorruptrecord"] = "_corrupt"
    if route == "event":
        opts["fastpath"] = "false"
    splits = (
        [FileSplit(path, 0, size, size)]
        if split_bytes is None
        else plan_splits([path], split_bytes, splittable=True)
    )
    batches = []
    for s in splits:
        r = TectonicJsonReader(schema, opts, "lines")
        if route == "loads":
            r._arrow_block_reader = lambda: None
        batches += list(r.read(s))
    for b in batches:
        b.validate(full=True)
    return [row for b in batches for row in b.to_pylist()]


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(mutated_ndjson(), st.integers(min_value=8, max_value=120))
def test_routes_agree_on_mutated_ndjson(data, split_bytes):
    """The pyarrow block route, the per-line json.loads route and the event
    route return identical, valid Arrow for any bytes, malformed lines
    included; a corrupt-record column changes no row count; FAILFAST raises
    on the same inputs on every route; splits don't change the rows."""
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        n = len(data)
        out = {}
        for mode in ("PERMISSIVE", "DROPMALFORMED"):
            for corrupt in (False, True):
                got = {rt: _read(p, n, rt, mode, corrupt) for rt in ROUTES}
                assert got["loads"] == got["arrow"] == got["event"], (mode, corrupt)
                out[mode, corrupt] = got["loads"]
            no_col = [{k: v for k, v in r.items() if k != "_corrupt"} for r in out[mode, True]]
            assert no_col == out[mode, False], mode
        permissive = out["PERMISSIVE", True]
        assert _read(p, n, "event", "PERMISSIVE", True, split_bytes) == permissive
        malformed = sum(r["_corrupt"] is not None for r in permissive)
        assert len(out["DROPMALFORMED", True]) == len(permissive) - malformed
        for rt in ROUTES:
            if malformed:
                with pytest.raises(ValueError, match="failed to parse JSON line"):
                    _read(p, n, rt, "FAILFAST", False)
            else:
                assert _read(p, n, rt, "FAILFAST", False) == out["PERMISSIVE", False]
    finally:
        os.unlink(p)
