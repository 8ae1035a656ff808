"""``spark.read.format("tectonic-csv")`` — Python DataSourceV2 over the L1
CSV parser core (SURVEY.md §2.B a2; reference S2, csv/Parser.scala:30-459).

Config parity with the reference's ``Config`` (csv/Parser.scala:461-478)
via options: ``header`` (default true; false ⇒ Excel-style inferred names
``A,B,…,Z,AA,…`` — csv/Parser.scala:439-454, NOT Spark's ``_c0`` style),
``sep`` (record delimiter), ``quote``/``escape``, ``lineSep`` ("\r\n" default
like the reference; "\n" for unix). All columns are StringType — CSV rows
are flat string objects in the reference's model (README.md:89); use
``.withColumn(..., cast)`` or the relational layer for typing.

Scale: with ``multiLine=false`` (default — no quoted newlines in the data,
same contract as Spark's own CSV reader) files are planned as byte-range
splits aligned to row delimiters, so a 100 TB directory fans out across
executors. ``multiLine=true`` honors quoted newlines, one range per file.
Either way the ranges are packed into about one task per core, as in
``tectonic-json`` (:func:`json_source.pack_splits`).

Pushdown: column pruning maps to the parser-level ``projection`` (cells
outside the scan schema are never delivered — ``skipped(n)`` metrics, a3
parity for CSV which the reference never had); filter pushdown uses the
same conservative SKIP-at-finish_row machinery as the JSON source (all
cells are strings, so string predicates act; others stay Spark-side).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StringType, StructField, StructType

from tectonic_spark.core.csv_parser import CsvConfig, CsvParser, as_header
from tectonic_spark.core.result import Failure, ParseException
from tectonic_spark.sources.arrow_batch import DEFAULT_BATCH_ROWS, rows_to_batches
from tectonic_spark.sources.json_source import (
    _CHUNK,
    FilePartition,
    FileSplit,
    list_input_files,
    open_input,
    plan_partitions,
    read_split_chunks,
)
from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters


def _bool_opt(options: dict, key: str, default: bool) -> bool:
    v = options.get(key)
    if v is None:
        return default
    return str(v).strip().lower() in ("true", "1", "yes")


def csv_config_from_options(options: dict) -> CsvConfig:
    header = _bool_opt(options, "header", True)
    sep = options.get("sep", ",").encode()
    quote = options.get("quote", '"').encode()
    escape = options.get("escape", '"').encode()
    line_sep = options.get("linesep", "\r\n")
    if line_sep == "\r\n":
        row1, row2 = b"\r", b"\n"
    elif len(line_sep) == 1:
        row1, row2 = line_sep.encode(), b""
    elif len(line_sep) == 2:
        row1, row2 = line_sep[0:1].encode(), line_sep[1:2].encode()
    else:
        raise ValueError("lineSep must be 1-2 characters")
    return CsvConfig(
        header=header,
        record=sep,
        row1=row1,
        row2=row2,
        open_quote=quote,
        close_quote=quote,
        escape=escape,
    )


def read_csv_header(path: str, config: CsvConfig) -> list[str]:
    """Driver-side: parse just the header row (or infer Excel names from
    the first row's cell count when header=false)."""
    from tectonic_spark.core.value_builder import ValueBuilderPlate

    plate = ValueBuilderPlate()
    parser = CsvParser(plate, config)
    rows: list[Any] = []
    with open_input(path) as fh:
        while not rows:
            chunk = fh.read(64 * 1024)
            res = parser.finish() if not chunk else parser.absorb(chunk)
            if isinstance(res, Failure):
                raise res.error
            rows.extend(res.value)
            if not chunk:
                break
    if not rows:
        return []
    first = rows[0]
    return list(first.keys()) if isinstance(first, dict) else []


def _require_string_columns(schema: StructType) -> None:
    """Plan-time check of a user schema: every cell is a string, so a typed
    column would fail at execution (fast path) or silently match nothing
    (pushed filters compare strings)."""
    for f in schema.fields:
        if not isinstance(f.dataType, StringType):
            raise ValueError(
                f"tectonic-csv reads every column as STRING, but column {f.name!r} "
                f"is {f.dataType.simpleString()}; declare it STRING and cast "
                "downstream, e.g. .withColumn(name, col(name).cast(...))"
            )


class TectonicCsvDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tectonic-csv"

    def schema(self) -> StructType:
        files = list_input_files(self.options["path"])
        config = csv_config_from_options(dict(self.options))
        names = read_csv_header(files[0], config) if files else []
        return StructType([StructField(n, StringType(), True) for n in names])

    # see TectonicJsonDataSource.pushdown_default — same driver-side choice
    pushdown_default = False
    # see TectonicJsonDataSource.parallelism
    parallelism: int | None = None

    def _pushdown_enabled(self) -> bool:
        opt = self.options.get("filterpushdown")
        if opt is None:
            return self.pushdown_default
        return str(opt).lower() == "true"

    def reader(self, schema: StructType) -> "TectonicCsvReader":
        _require_string_columns(schema)
        cls = TectonicCsvPushdownReader if self._pushdown_enabled() else TectonicCsvReader
        return cls(schema, dict(self.options), self.parallelism)

    def streamReader(self, schema: StructType):  # noqa: N802 (Spark API name)
        from tectonic_spark.streaming.json_stream import TectonicFileStreamReader

        _require_string_columns(schema)
        reader = TectonicCsvReader(schema, dict(self.options))
        splittable = not reader.multiline and (
            reader.config.row2 == b"\n"
            or (reader.config.row1, reader.config.row2) == (b"\n", b"")
        )
        return TectonicFileStreamReader(reader, schema, dict(self.options), splittable)

    def writer(self, schema: StructType, overwrite: bool):
        from tectonic_spark.sources.writers import TectonicCsvWriter

        return TectonicCsvWriter(
            dict(self.options), overwrite, list(schema.fieldNames())
        )


def compile_arrow_mask(filters: list, colnames: list[str]):
    """Translate pushed Catalyst Filters into a vectorized pyarrow.compute
    mask builder over the block table (CSV cells are all strings, so only
    string-valued predicates translate; Spark string comparison is binary
    UTF-8 order, which matches Arrow's bytewise utf8 comparisons).

    Conservative-correct like :func:`pushdown.compile_filters`: a row is
    dropped only when it definitively fails a translated conjunct; every
    filter is re-applied by Spark above the scan, so drops are pure
    I/O/transfer savings. Returns ``fn(table) -> BooleanArray`` or None
    when nothing is actionable."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    try:
        import pyarrow as pa
        import pyarrow.compute as pc
    except ImportError:  # pragma: no cover
        return None

    names = set(colnames)
    cmp_ops = {
        EqualTo: pc.equal,
        GreaterThan: pc.greater,
        GreaterThanOrEqual: pc.greater_equal,
        LessThan: pc.less,
        LessThanOrEqual: pc.less_equal,
    }
    str_ops = {
        StringStartsWith: pc.starts_with,
        StringEndsWith: pc.ends_with,
        StringContains: pc.match_substring,
    }
    builders = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not (isinstance(attr, tuple) and len(attr) == 1 and attr[0] in names):
            continue
        col = attr[0]
        if type(f) in cmp_ops and isinstance(f.value, str):
            builders.append(
                lambda t, c=col, v=f.value, op=cmp_ops[type(f)]: op(t.column(c), v)
            )
        elif type(f) in str_ops and isinstance(f.value, str):
            builders.append(
                lambda t, c=col, v=f.value, op=str_ops[type(f)]: op(
                    t.column(c), pattern=v
                )
            )
        elif isinstance(f, In) and all(isinstance(v, str) for v in f.value):
            builders.append(
                lambda t, c=col, vs=pa.array(sorted(set(f.value)), pa.string()): pc.is_in(
                    t.column(c), value_set=vs
                )
            )
    if not builders:
        return None

    def mask(table):
        import pyarrow.compute as pc

        m = builders[0](table)
        for b in builders[1:]:
            m = pc.and_(m, b(table))
        return m

    return mask


class TectonicCsvReader(DataSourceReader):
    def __init__(
        self, schema: StructType, options: dict, parallelism: int | None = None
    ) -> None:
        self.schema = schema
        self.options = options
        self.parallelism = parallelism
        self.config = csv_config_from_options(options)
        self.batch_rows = int(options.get("batchrows", DEFAULT_BATCH_ROWS))
        self.multiline = _bool_opt(options, "multiline", False)
        self.fast_path = str(options.get("fastpath", "true")).lower() != "false"
        self._tests: dict | None = None
        self._raw_filters: list | None = None
        self.rows_skipped_fast = 0
        self.required = set(schema.fieldNames())
        # Full positional column list (driver-side, once): a user-narrowed
        # schema must NOT become the positional header map for mid-file
        # splits — cells would land under the wrong names. For header
        # files, read the real header; headerless files use Excel naming,
        # which the parser regenerates positionally on its own.
        self.full_names: list[str] | None = None
        if self.config.header:
            try:
                files = list_input_files(options["path"])
                if files:
                    self.full_names = read_csv_header(files[0], self.config)
            except (FileNotFoundError, OSError):
                self.full_names = None
            except ParseException:
                # e.g. unix newlines under the default \r\n row delimiter:
                # don't fail at construction (Spark wraps that as an opaque
                # planning error) — the read itself raises the same
                # ParseException with file/offset context
                self.full_names = None

    def partitions(self) -> list[FilePartition]:
        # byte-range splits align on b"\n", so they need a \n-terminated
        # row delimiter and no quoted newlines (multiLine=false contract)
        splittable = not self.multiline and (
            self.config.row2 == b"\n" or (self.config.row1, self.config.row2) == (b"\n", b"")
        )
        return plan_partitions(self.options, splittable, self.parallelism)

    def _stdlib_dialect_ok(self) -> bool:
        """Can the stdlib C csv parser reproduce this config? Single-char
        delimiters, open==close quote, and a \\n-terminated (or unix) row
        delimiter. (Known shared quirk with Spark's CSV: a lone \\r inside
        an unquoted cell reads as a row break.)"""
        c = self.config
        return (
            len(c.record) == 1
            and c.open_quote == c.close_quote
            and len(c.open_quote) == 1
            and len(c.escape) == 1
            and (c.row2 == b"\n" or (c.row1, c.row2) == (b"\n", b""))
        )

    def read(self, partition: FilePartition):
        # multiLine=true allows quoted newlines: block-splitting at \n
        # would cut records mid-cell, so that mode stays on the
        # incremental event parser (which is quoted-newline-exact)
        if self.fast_path and not self.multiline and self._stdlib_dialect_ok():
            read_split = self._read_fast
        else:
            read_split = self._read_events
        for split in partition.splits:
            yield from read_split(split)

    # ------------------------------------------------------- stdlib fast path

    def _read_fast(self, split: FileSplit):
        """C-accelerated path: stdlib csv.reader over the split's lines
        (~9x the event pipeline). Semantics match the event parser: short /
        long rows are errors for header files ("missing records" parity,
        csv/Parser.scala:84-101) except a short final row at EOF, whose
        missing trailing cells become "". Headerless files name cells
        positionally (Excel naming) and are lenient, like inferring mode."""
        import csv as _csv
        import io as _io

        from tectonic_spark.core.csv_parser import as_header
        from tectonic_spark.sources.arrow_batch import rows_to_batches

        names = list(self.schema.fieldNames())
        c = self.config
        dialect = dict(
            delimiter=c.record.decode(),
            quotechar=c.open_quote.decode(),
            doublequote=c.escape == c.close_quote,
            escapechar=None if c.escape == c.close_quote else c.escape.decode(),
        )
        whole_file = split.start == 0 and split.end == split.file_size
        chunks = _whole_file_chunks(split) if whole_file else read_split_chunks(split)
        if split.start == 0:
            chunks = _strip_leading_bom(chunks)
        at_eof = split.end >= split.file_size
        skip_first = split.start == 0 and c.header
        full = self.full_names
        tests = self._tests

        def finish_rows(cells_rows: list[list[str]], last_block: bool):
            """cell lists -> filtered dict rows -> Arrow batches."""

            def gen():
                for idx, cells in enumerate(cells_rows):
                    if full is not None:
                        if len(cells) < len(full):
                            if last_block and at_eof and idx == len(cells_rows) - 1:
                                cells = cells + [""] * (len(full) - len(cells))
                            else:
                                raise ValueError(
                                    f"csv row has {len(cells)} cells, expected "
                                    f"{len(full)} (missing records)"
                                )
                        elif len(cells) > len(full):
                            raise ValueError(
                                f"csv row has {len(cells)} cells, expected "
                                f"{len(full)} (too many records)"
                            )
                        d = dict(zip(full, cells))
                    else:
                        d = {as_header(i): v for i, v in enumerate(cells)}
                    if tests and any(
                        not t(d.get(col)) for col, ts in tests.items() for t in ts
                    ):
                        self.rows_skipped_fast += 1
                        continue
                    yield {n: d.get(n) for n in names}

            yield from rows_to_batches(gen(), self.schema, self.batch_rows)

        arrow_cfg = self._arrow_csv_cfg(names)
        # row-filter pushdown on the C++ block path: pushed filters become
        # one vectorized mask per block (a4 parity for CSV — rows dropped
        # before they ever cross into Spark)
        mask_fn = (
            compile_arrow_mask(self._raw_filters, names)
            if self._raw_filters and arrow_cfg is not None
            else None
        )

        def emit(block: bytes, last: bool, skip: bool):
            """One newline-aligned block → batches. Clean blocks parse
            whole through pyarrow.csv (C++); any arrow rejection (ragged
            row, EOF-short final row) falls back to the stdlib path, whose
            semantics (errors, EOF padding, Excel leniency, pushdown
            tests) are authoritative."""
            if arrow_cfg is not None:
                data = block
                if skip:
                    nl = data.find(b"\n")
                    data = data[nl + 1 :] if nl >= 0 else b""
                if data.strip():
                    import pyarrow as pa
                    import pyarrow.csv as pacsv

                    try:
                        table = pacsv.read_csv(pa.BufferReader(data), **arrow_cfg)
                    except pa.ArrowInvalid:
                        pass  # stdlib semantics decide this block
                    else:
                        if mask_fn is not None:
                            before = table.num_rows
                            table = table.filter(mask_fn(table))
                            self.rows_skipped_fast += before - table.num_rows
                        for lo in range(0, table.num_rows, self.batch_rows):
                            chunk = table.slice(lo, self.batch_rows).combine_chunks()
                            yield from chunk.to_batches()
                        return
                elif skip:
                    return  # header-only block
            rows = list(_csv.reader(_io.StringIO(block.decode("utf-8")), **dialect))
            if skip:
                rows = rows[1:]
            yield from finish_rows([r for r in rows if r], last_block=last)

        carry = b""
        blocks: list[bytes] = []
        for chunk in chunks:
            chunk = carry + chunk
            cut = chunk.rfind(b"\n")
            if cut < 0:
                carry = chunk
                continue
            carry = chunk[cut + 1 :]
            blocks.append(chunk[: cut + 1])
            if len(blocks) > 1:
                prev = blocks.pop(0)
                yield from emit(prev, last=False, skip=skip_first)
                skip_first = False
        if carry:
            blocks.append(carry)
        tail = b"".join(blocks)
        if tail:
            yield from emit(tail, last=True, skip=skip_first)

    def _arrow_csv_cfg(self, names: list[str]) -> dict | None:
        """pyarrow.csv options reproducing this reader's dialect, or None
        when the config (or pushdown-test application, which arrow skips —
        Spark re-applies every filter anyway) can't take the arrow route.
        All columns read as literal strings: no null inference, empty cell
        stays ''."""
        c = self.config
        if not self._stdlib_dialect_ok():
            return None
        try:
            import pyarrow as pa
            import pyarrow.csv as pacsv
        except ImportError:  # pragma: no cover
            return None
        col_names = self.full_names if self.full_names is not None else names
        if len(set(col_names)) != len(col_names):
            return None  # duplicate headers: positional dict semantics differ
        return dict(
            read_options=pacsv.ReadOptions(column_names=col_names, use_threads=False),
            parse_options=pacsv.ParseOptions(
                delimiter=c.record.decode(),
                quote_char=c.open_quote.decode(),
                double_quote=(c.escape == c.close_quote),
                escape_char=(
                    False if c.escape == c.close_quote else c.escape.decode()
                ),
                newlines_in_values=False,
            ),
            convert_options=pacsv.ConvertOptions(
                column_types={n: pa.string() for n in col_names},
                include_columns=names,
                null_values=[],
                strings_can_be_null=False,
            ),
        )

    # ------------------------------------------------------ event parser path

    def _read_events(self, split: FileSplit):
        names = list(self.schema.fieldNames())
        filter_cols = set(self._tests or ())
        projection = self.required | filter_cols
        mid_file = split.start > 0

        plate = PushdownPlate(required=None, tests=self._tests)
        # headerless split config for mid-file ranges: positional names
        # pre-known (FULL header list, not the possibly-narrowed scan
        # schema); the header row itself lives in split 0
        config = self.config
        if mid_file and config.header:
            config = CsvConfig(
                header=False,
                record=config.record,
                row1=config.row1,
                row2=config.row2,
                open_quote=config.open_quote,
                close_quote=config.close_quote,
                escape=config.escape,
            )
        preset = None
        if mid_file and self.config.header:
            preset = self.full_names or names
        mvb = self.options.get("maxvaluebytes")
        parser = CsvParser(
            plate,
            config,
            projection=projection,
            headers=preset,
            # multiLine reads absorb the whole file incrementally — bound
            # one pending row (1 GiB default) so a pathological quoted
            # cell errors clean instead of OOM; split-bounded paths keep
            # the same guard harmlessly
            max_value_bytes=int(mvb) if mvb is not None else 1 << 30,
        )

        def to_batches(rows: list[Any]):
            def norm():
                for r in rows:
                    d = r if isinstance(r, dict) else {}
                    yield {n: _as_str(d.get(n)) for n in names}

            yield from rows_to_batches(norm(), self.schema, self.batch_rows)

        whole_file = split.start == 0 and split.end == split.file_size
        chunks = _whole_file_chunks(split) if whole_file else read_split_chunks(split)
        for chunk in chunks:
            yield from to_batches(_drain(parser.absorb(chunk)))
        yield from to_batches(_drain(parser.finish()))


def _drain(res) -> list[Any]:
    if isinstance(res, Failure):
        raise res.error
    # Partial only arises from BREAK_BATCH, which this plate never signals;
    # its value is still this batch's rows
    return res.value


def _strip_leading_bom(chunks):
    """Drop a UTF-8 BOM from the first chunk (BaseParser parity — the
    event parsers strip it; stdlib csv would fold it into the first cell)."""
    first = True
    for chunk in chunks:
        if first:
            first = False
            if chunk.startswith(b"\xef\xbb\xbf"):
                chunk = chunk[3:]
        if chunk:
            yield chunk


def _whole_file_chunks(split: FileSplit):
    with open_input(split.file) as fh:
        while True:
            chunk = fh.read(_CHUNK)
            if not chunk:
                return
            yield chunk


def _as_str(v: Any) -> str | None:
    if v is None:
        return None
    return v if isinstance(v, str) else str(v)


class TectonicCsvPushdownReader(TectonicCsvReader):
    """Reader variant that participates in Catalyst filter pushdown — a
    subclass because PySpark's planning worker rejects any reader class
    overriding ``pushFilters`` when the static conf
    ``spark.sql.python.filterPushdown.enabled`` is false (the default)."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        filters = list(filters)
        self._tests = compile_filters(filters, self.schema)
        # raw filters kept for the arrow block path's vectorized mask
        self._raw_filters = filters
        return filters  # all re-applied by Spark; skips are pure savings


class TectonicCsvPushdownDataSource(TectonicCsvDataSource):
    """Same format name; registered instead of the base class when the
    session was built with filter pushdown enabled (see registration.py)."""

    pushdown_default = True
