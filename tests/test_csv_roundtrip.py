"""Property-based CSV round-trip (SURVEY.md §5.4 parity): random tables →
csv.writer → tectonic-csv parser core → identical cells, fast path and
event path agreeing. Mirrors the reference's ReplayPlate round-trip
property (ReplayPlateSpecs.scala:35-100) at the table level."""

from __future__ import annotations

import csv
import io

from hypothesis import given, settings
from hypothesis import strategies as st

from tectonic_spark.core.csv_parser import CsvConfig, CsvParser
from tectonic_spark.core.value_builder import ValueBuilderPlate
from tectonic_spark.core.result import Failure

# printable cells incl. delimiters/quotes that force quoting; no \r\n inside
# cells (byte-range split contract) except explicitly-tested quoted cases
cell = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\r\n", exclude_categories=("Cs",)
    ),
    max_size=20,
)
header_name = st.text(
    alphabet=st.sampled_from("abcdefghijklmnop_"), min_size=1, max_size=8
)


@st.composite
def tables(draw):
    n_cols = draw(st.integers(min_value=1, max_value=6))
    names = draw(
        st.lists(header_name, min_size=n_cols, max_size=n_cols, unique=True)
    )
    n_rows = draw(st.integers(min_value=0, max_value=12))
    rows = [
        draw(st.lists(cell, min_size=n_cols, max_size=n_cols))
        for _ in range(n_rows)
    ]
    return names, rows


def _write_csv(names, rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(names)
    w.writerows(rows)
    return buf.getvalue().encode()


def _parse(data: bytes, chunk: int | None = None):
    plate = ValueBuilderPlate()
    parser = CsvParser(plate, CsvConfig.unix())
    out = []
    if chunk is None:
        res = parser.absorb(data)
    else:
        res = None
        for i in range(0, len(data), chunk):
            res = parser.absorb(data[i : i + chunk])
            assert not isinstance(res, Failure), res
            out.extend(res.value)
    fin = parser.finish()
    assert not isinstance(fin, Failure), fin
    if chunk is None:
        assert not isinstance(res, Failure), res
        out.extend(res.value)
    out.extend(fin.value)
    return out


@settings(max_examples=60, deadline=None)
@given(tables())
def test_roundtrip_via_event_parser(t):
    names, rows = t
    data = _write_csv(names, rows)
    got = _parse(data)
    want = [dict(zip(names, r)) for r in rows]
    assert got == want


@settings(max_examples=30, deadline=None)
@given(tables(), st.integers(min_value=1, max_value=7))
def test_roundtrip_chunk_invariant(t, chunk):
    """Identical output no matter where the byte stream is cut
    (BaseParser.absorb contract, ParserSpecs.scala:145-208)."""
    names, rows = t
    data = _write_csv(names, rows)
    assert _parse(data, chunk=chunk) == _parse(data)


@settings(max_examples=30, deadline=None)
@given(tables())
def test_reader_fast_path_equals_event_path(t):
    """The stdlib-csv fast path and the event parser produce identical
    Arrow output for arbitrary quoted content."""
    import os
    import tempfile

    from pyspark.sql.types import StringType, StructField, StructType

    from tectonic_spark.sources.csv_source import TectonicCsvReader
    from tectonic_spark.sources.json_source import FilePartition, FileSplit

    names, rows = t
    data = _write_csv(names, rows)
    with tempfile.NamedTemporaryFile(suffix=".csv", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        schema = StructType([StructField(n, StringType(), True) for n in names])
        size = os.path.getsize(p)
        split = FilePartition((FileSplit(p, 0, size, size),))
        out = {}
        for fp in ("true", "false"):
            r = TectonicCsvReader(schema, {"path": p, "linesep": "\n", "fastpath": fp})
            out[fp] = [row for b in r.read(split) for row in b.to_pylist()]
        assert out["true"] == out["false"]
        assert out["true"] == [dict(zip(names, row)) for row in rows]
    finally:
        os.unlink(p)
