"""JSON parser golden tests — mirrors the reference's semantics
(test/src/test/scala/tectonic/json/ParserSpecs.scala): scalar rows, nested
maps/arrays, multi-row streams, deep nesting (63/64/65/100), BOM handling,
column skips (incl. structure inside skipped strings and mid-skip
suspension), chunk-boundary resumption, framing modes, and errors."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tectonic_spark.core import DelegatingPlate, ReifiedPlate, Signal
from tectonic_spark.core.json_parser import JsonParser, Mode
from tectonic_spark.core.result import Complete, Failure


def parse(data: str | bytes, mode: Mode = Mode.VALUE_STREAM, chunks=None):
    """Parse input (optionally split into chunks), return (events, result)."""
    plate = ReifiedPlate()
    p = JsonParser(plate, mode)
    events = []
    if chunks is None:
        chunks = [data]
    for ch in chunks:
        r = p.absorb(ch)
        if isinstance(r, Failure):
            return events, r
        events.extend(r.value)
    r = p.finish()
    if isinstance(r, Complete):
        events.extend(r.value)
    return events, r


def ok_events(data, mode=Mode.VALUE_STREAM, chunks=None):
    events, r = parse(data, mode, chunks)
    assert isinstance(r, Complete), f"parse failed: {r}"
    return events


# --- scalars (ParserSpecs.scala:51-89) -------------------------------------


@pytest.mark.parametrize(
    ("text", "expected"),
    [
        ("null", [("nul",)]),
        ("false", [("fls",)]),
        ("true", [("tru",)]),
        ("{}", [("map",)]),
        ("[]", [("arr",)]),
        ("42", [("num", "42", -1, -1)]),
        ("3.1415", [("num", "3.1415", 1, -1)]),
        ("2.99792458e8", [("num", "2.99792458e8", 1, 10)]),
        ("-1.2e-3", [("num", "-1.2e-3", 2, 4)]),
        ('"quick brown fox"', [("str", "quick brown fox")]),
    ],
)
def test_scalar_rows(text, expected):
    assert ok_events(text) == expected + [("finish_row",)]


def test_map_with_two_keys():
    assert ok_events('{"a":123, "b": false}') == [
        ("nest_map", "a"),
        ("num", "123", -1, -1),
        ("unnest",),
        ("nest_map", "b"),
        ("fls",),
        ("unnest",),
        ("finish_row",),
    ]


def test_map_within_map():
    assert ok_events('{"a": {"b": null }   }') == [
        ("nest_map", "a"),
        ("nest_map", "b"),
        ("nul",),
        ("unnest",),
        ("unnest",),
        ("finish_row",),
    ]


def test_array_with_four_values():
    assert ok_events('["a", 123, "b", false]') == [
        ("nest_arr",), ("str", "a"), ("unnest",),
        ("nest_arr",), ("num", "123", -1, -1), ("unnest",),
        ("nest_arr",), ("str", "b"), ("unnest",),
        ("nest_arr",), ("fls",), ("unnest",),
        ("finish_row",),
    ]


def test_two_rows_of_scalars():
    assert ok_events("12 true") == [
        ("num", "12", -1, -1),
        ("finish_row",),
        ("tru",),
        ("finish_row",),
    ]


def test_two_rows_of_non_scalars():
    assert ok_events('{"a": 3.14} {"b": false, "c": "abc"}') == [
        ("nest_map", "a"), ("num", "3.14", 1, -1), ("unnest",), ("finish_row",),
        ("nest_map", "b"), ("fls",), ("unnest",),
        ("nest_map", "c"), ("str", "abc"), ("unnest",), ("finish_row",),
    ]


@pytest.mark.parametrize("depth", [1, 63, 64, 65, 100])
def test_deep_nesting(depth):
    text = "[" * depth + "1" + "]" * depth
    expected = (
        [("nest_arr",)] * depth
        + [("num", "1", -1, -1)]
        + [("unnest",)] * depth
        + [("finish_row",)]
    )
    assert ok_events(text) == expected


# --- BOM handling (ParserSpecs.scala:38-48) --------------------------------


def test_leading_bom_ignored():
    assert ok_events(b"\xef\xbb\xbf{}") == [("map",), ("finish_row",)]


def test_second_bom_fails():
    events, r = parse(b"\xef\xbb\xbf{\xef\xbb\xbf}")
    assert isinstance(r, Failure)
    assert r.error.index == 4 and r.error.line == 1 and r.error.col == 5


def test_bom_split_across_chunks():
    assert ok_events(None, chunks=[b"\xef", b"\xbb", b"\xbf{}"]) == [
        ("map",),
        ("finish_row",),
    ]


# --- chunk-boundary suspension (ParserSpecs.scala:342-368) -----------------


def test_split_mid_number():
    assert ok_events(None, chunks=["7", "9"]) == [("num", "79", -1, -1), ("finish_row",)]


def test_split_mid_string():
    assert ok_events(None, chunks=['"h', 'i"']) == [("str", "hi"), ("finish_row",)]


def test_split_everywhere_matches_unsplit():
    text = '{"a": [1, 2.5e3, "x\\ny"], "b": {"c": null}, "d": true} {"e": []}'
    expected = ok_events(text)
    for cut in range(1, len(text)):
        assert ok_events(None, chunks=[text[:cut], text[cut:]]) == expected, cut


def test_finish_batch_flags_on_complete_value():
    plate = ReifiedPlate()
    p = JsonParser(plate, Mode.VALUE_STREAM)
    r1 = p.absorb("42")
    assert isinstance(r1, Complete) and r1.value == []  # number may extend
    r2 = p.finish()
    assert isinstance(r2, Complete)
    assert r2.value == [("num", "42", -1, -1), ("finish_row",)]


# --- column skips (ParserSpecs.scala:273-369) ------------------------------


class TargetMask(DelegatingPlate):
    """Projection plate: keep only the target top-level key/index, skip the
    rest (the reference's targetMask test plate, ParserSpecs.scala:276-305)."""

    def __init__(self, delegate, key=None, index=None):
        super().__init__(delegate)
        self.key = key
        self.index = index
        self._depth = 0
        self._i = 0

    def nest_map(self, k):
        if self.key == k and self._depth == 0:
            return super().nest_map(k)
        self._depth += 1
        return Signal.SKIP_COLUMN

    def nest_arr(self):
        if self._depth == 0:
            self._i += 1
            if self.index == self._i - 1:
                return super().nest_arr()
            self._depth += 1
            return Signal.SKIP_COLUMN
        self._depth += 1
        return Signal.SKIP_COLUMN

    def unnest(self):
        if self._depth == 0:
            return super().unnest()
        self._depth -= 1
        return Signal.CONTINUE


def parse_with_mask(data, chunks=None, **mask_kw):
    plate = TargetMask(ReifiedPlate(), **mask_kw)
    p = JsonParser(plate, Mode.VALUE_STREAM)
    events = []
    for ch in chunks or [data]:
        r = p.absorb(ch)
        assert isinstance(r, Complete), r
        events.extend(r.value)
    r = p.finish()
    assert isinstance(r, Complete), r
    return events + r.value


def test_skip_a_and_c():
    events = parse_with_mask('{ "a": 42, "b": "hi", "c": true }', key="b")
    assert events == [
        ("skipped", 4),
        ("nest_map", "b"), ("str", "hi"), ("unnest",),
        ("skipped", 7),
        ("finish_row",),
    ]


def test_skip_nested_object():
    events = parse_with_mask(
        '{ "a": { "no": 42, "thanks": null }, "b": "hi", "c": true }', key="c"
    )
    assert events == [
        ("skipped", 30),
        ("skipped", 6),
        ("nest_map", "c"), ("tru",), ("unnest",),
        ("finish_row",),
    ]


def test_retain_only_index_1():
    events = parse_with_mask('[42, "hi", true, null]', index=1)
    assert events == [
        ("skipped", 2),
        ("nest_arr",), ("str", "hi"), ("unnest",),
        ("skipped", 5),
        ("skipped", 5),
        ("finish_row",),
    ]


def test_nested_structure_in_skips():
    events = parse_with_mask(
        '{ "a": { "c": [1, 2, 3], "d": { "e": null } }, "b": "hi" }', key="b"
    )
    assert events == [
        ("skipped", 40),
        ("nest_map", "b"), ("str", "hi"), ("unnest",),
        ("finish_row",),
    ]


def test_structure_inside_skipped_strings():
    events = parse_with_mask('{ "a": "foo}", "b": "hi" }', key="b")
    assert events == [
        ("skipped", 8),
        ("nest_map", "b"), ("str", "hi"), ("unnest",),
        ("finish_row",),
    ]


def test_suspend_within_skips():
    # mid-skip chunk split; totals must match the unsplit parse
    events = parse_with_mask(
        None, chunks=['{ "a": 4', '2, "b": "hi" }'], key="b"
    )
    skipped_total = sum(e[1] for e in events if e[0] == "skipped")
    rest = [e for e in events if e[0] != "skipped"]
    assert skipped_total == 4
    assert rest == [("nest_map", "b"), ("str", "hi"), ("unnest",), ("finish_row",)]


def test_skip_hides_errors():
    # A6: malformed inside a skipped column parses cleanly when pruned...
    events = parse_with_mask('{ "a": [1, 2}, "b": 42 }', key="b")
    assert [e for e in events if e[0] != "skipped"] == [
        ("nest_map", "b"), ("num", "42", -1, -1), ("unnest",), ("finish_row",),
    ]
    # ...but errors when selected
    _, r = parse('{ "a": [1, 2}, "b": 42 }')
    assert isinstance(r, Failure)


def test_skip_row_signal():
    class RowFilter(DelegatingPlate):
        def nest_map(self, k):
            if k == "drop":
                return Signal.SKIP_ROW
            return super().nest_map(k)

    plate = RowFilter(ReifiedPlate())
    p = JsonParser(plate, Mode.VALUE_STREAM)
    r1 = p.absorb('{"keep": 1} {"drop": 2, "x": 3} {"keep": 4}')
    r2 = p.finish()
    events = r1.value + r2.value
    rows = [e for e in events if e[0] == "finish_row"]
    assert len(rows) == 3  # SKIP_ROW still emits finish_row
    assert ("nest_map", "x") not in events
    assert ("num", "2", -1, -1) not in events


# --- framing modes ----------------------------------------------------------


def test_unwrap_array_elements_are_rows():
    events = ok_events('[{"a": 1}, {"a": 2}, 3]', mode=Mode.UNWRAP_ARRAY)
    assert events == [
        ("nest_map", "a"), ("num", "1", -1, -1), ("unnest",), ("finish_row",),
        ("nest_map", "a"), ("num", "2", -1, -1), ("unnest",), ("finish_row",),
        ("num", "3", -1, -1), ("finish_row",),
    ]


def test_unwrap_array_empty():
    assert ok_events("[]", mode=Mode.UNWRAP_ARRAY) == []


def test_unwrap_array_streams_elements_per_chunk():
    plate = ReifiedPlate()
    p = JsonParser(plate, Mode.UNWRAP_ARRAY)
    r1 = p.absorb('[{"a": 1}, {"a"')
    assert isinstance(r1, Complete)
    assert r1.value == [
        ("nest_map", "a"), ("num", "1", -1, -1), ("unnest",), ("finish_row",)
    ]
    r2 = p.absorb(": 2}]")
    assert r2.value == [
        ("nest_map", "a"), ("num", "2", -1, -1), ("unnest",), ("finish_row",)
    ]
    assert isinstance(p.finish(), Complete)


def test_unwrap_array_unclosed_fails():
    _, r = parse("[1, 2", mode=Mode.UNWRAP_ARRAY)
    assert isinstance(r, Failure)


def test_single_value_mode():
    assert ok_events('{"a": [1, 2]}', mode=Mode.SINGLE_VALUE) == [
        ("nest_map", "a"),
        ("nest_arr",), ("num", "1", -1, -1), ("unnest",),
        ("nest_arr",), ("num", "2", -1, -1), ("unnest",),
        ("unnest",),
        ("finish_row",),
    ]


def test_single_value_rejects_second():
    _, r = parse("1 2", mode=Mode.SINGLE_VALUE)
    assert isinstance(r, Failure)


# --- malformed inputs (A8) --------------------------------------------------


@pytest.mark.parametrize(
    "bad",
    [
        "[1, 2",          # EOF inside array
        "tru",            # bare prefix literal
        '{"a" 1}',        # missing colon
        '"ab\x01cd"',     # control char in string
        '"bad \\q escape"',
        "01",             # leading zero
        "1.2.3",
        "{",              # EOF in object
        '{"a": }',
        "[1,]",
        "+5",
    ],
)
def test_malformed_inputs_fail(bad):
    _, r = parse(bad)
    assert isinstance(r, Failure), bad


def test_error_has_position():
    _, r = parse('{"a" 1}')
    assert isinstance(r, Failure)
    assert r.error.line == 1 and r.error.col >= 5


def test_error_position_multiline():
    _, r = parse('{"a": 1}\n{"b" 2}')
    assert isinstance(r, Failure)
    assert r.error.line == 2


# --- escapes ----------------------------------------------------------------


def test_string_escapes():
    text = r'"\" \\ \/ \b \f \n \r \t A 😀"'
    assert ok_events(text) == [
        ("str", '" \\ / \b \f \n \r \t A \U0001F600'),
        ("finish_row",),
    ]


# --- hypothesis round-trip vs json.loads (FIXTURES.md §D) -------------------

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**15), max_value=10**15),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=10), children, max_size=5),
    ),
    max_leaves=25,
)


@settings(max_examples=300, deadline=None)
@given(json_values)
def test_round_trip_matches_json_loads(value):
    text = json.dumps(value)
    events = ok_events(text, mode=Mode.SINGLE_VALUE)
    # reconstruct via a dedicated builder plate and compare to json.loads
    from tectonic_spark.core.value_builder import ValueBuilderPlate

    plate = ValueBuilderPlate()
    p = JsonParser(plate, Mode.SINGLE_VALUE)
    r1 = p.absorb(text)
    r2 = p.finish()
    rows = r1.value + r2.value
    assert len(rows) == 1
    assert rows[0] == json.loads(text)
    assert events  # sanity: event stream nonempty


@settings(max_examples=100, deadline=None)
@given(json_values, st.integers(min_value=1, max_value=10))
def test_chunked_equals_unchunked(value, n_cuts):
    text = json.dumps(value)
    expected = ok_events(text, mode=Mode.SINGLE_VALUE)
    if len(text) < 2:
        return
    step = max(1, len(text) // n_cuts)
    chunks = [text[i : i + step] for i in range(0, len(text), step)]
    assert ok_events(None, mode=Mode.SINGLE_VALUE, chunks=chunks) == expected


class TestMaxValueBytes:
    """A value larger than the bound fails with a clean ParseException at
    absorb time (never an OOM); values under the bound stream normally.
    Reference parity note: BaseParser.scala:159-171 solves this with a
    1 MiB mid-value window; the extent-scan design bounds-and-errors."""

    def test_oversized_value_fails_cleanly(self):
        from tectonic_spark.core.result import Failure
        from tectonic_spark.core.value_builder import ValueBuilderPlate

        p = JsonParser(ValueBuilderPlate(), Mode.SINGLE_VALUE, max_value_bytes=1024)
        res = None
        # feed an unterminated 1 MiB string in 4 KiB chunks: must fail as
        # soon as the pending tail crosses the bound, not at finish
        chunk = b'"' + b"x" * 4095
        res = p.absorb(chunk)
        for _ in range(10):
            if isinstance(res, Failure):
                break
            res = p.absorb(b"y" * 4096)
        assert isinstance(res, Failure)
        assert "maxValueBytes" in str(res.error)

    def test_under_limit_value_streams(self):
        from tectonic_spark.core.result import Complete
        from tectonic_spark.core.value_builder import ValueBuilderPlate

        p = JsonParser(ValueBuilderPlate(), Mode.VALUE_STREAM, max_value_bytes=1 << 20)
        out = []
        data = b"\n".join(b'{"a": %d, "pad": "%s"}' % (i, b"z" * 100) for i in range(50))
        for off in range(0, len(data), 997):
            r = p.absorb(data[off : off + 997])
            assert not isinstance(r, Failure)
            out.extend(r.value)
        r = p.finish()
        assert isinstance(r, Complete)
        out.extend(r.value)
        assert [row["a"] for row in out] == list(range(50))

    def test_reader_option_bounds_stream_mode(self, tmp_path):
        import pytest

        from tectonic_spark.sources.json_source import (
            FilePartition,
            FileSplit,
            TectonicJsonDataSource,
        )

        big = tmp_path / "big.json"
        # one 9 MiB document (spans multiple 4 MiB absorb chunks, so the
        # incomplete value is pending at a chunk boundary); bound 1 MiB,
        # fastPath off so the incremental event parser handles it
        big.write_text('{"k": "' + "a" * (9 << 20) + '"}')
        ds = TectonicJsonDataSource(
            options={
                "path": str(big),
                "mode": "single",
                "fastpath": "false",
                "maxvaluebytes": str(1 << 20),
            }
        )
        reader = ds.reader(ds.schema())
        size = big.stat().st_size
        with pytest.raises(Exception, match="maxValueBytes"):
            for _ in reader.read(FilePartition((FileSplit(str(big), 0, size, size),))):
                pass


class TestDirectValuePath:
    """The direct fast path (extent → C json.loads / raw_decode) must be
    observationally identical to the event walker for value-building
    plates: same rows, same batch boundaries, same golden errors."""

    @staticmethod
    def _both(data, chunks=None, mode=Mode.VALUE_STREAM):
        from tectonic_spark.core.value_builder import ValueBuilderPlate

        out = {}
        for direct in (True, False):
            plate = ValueBuilderPlate()
            p = JsonParser(plate, mode, direct_values=direct)
            batches, err = [], None
            pieces = chunks if chunks is not None else [data]
            for c in pieces:
                r = p.absorb(c)
                if isinstance(r, Failure):
                    err = r.error
                    break
                batches.append(list(r.value))
            if err is None:
                r = p.finish()
                if isinstance(r, Failure):
                    err = r.error
                else:
                    batches.append(list(r.value))
            out[direct] = (batches, err)
        return out[True], out[False]

    def test_rows_and_batch_boundaries_match(self):
        data = b'{"a": 1, "b": [1, {"c": "x"}]}\n"s"\n42\nnull\ntrue\n[]\n{}\n'
        (b1, e1), (b2, e2) = self._both(data)
        assert e1 is None and e2 is None
        assert b1 == b2

    def test_chunk_splits_match_everywhere(self):
        data = b'{"k": "\\u00e9\\n"}  12.5e3  "\xc3\xa9"  [1,2]'
        for cut in range(1, len(data)):
            (b1, e1), (b2, e2) = self._both(data, chunks=[data[:cut], data[cut:]])
            assert e1 is None and e2 is None, cut
            assert b1 == b2, cut

    def test_atom_at_chunk_end_defers(self):
        # `42` + `0` must parse as 420 on BOTH paths
        (b1, e1), (b2, e2) = self._both(b"420", chunks=[b"42", b"0"])
        assert e1 is None and e2 is None
        assert b1 == b2
        assert [v for batch in b1 for v in batch] == [420]

    @pytest.mark.parametrize(
        "bad",
        [
            b'{"a": 1,}',          # trailing comma
            b"[1, 2",              # unterminated (finish)
            b"01",                 # leading zero
            b"Infinity",           # non-standard constant
            b"NaN",
            b'{"a" 1}',            # missing colon
            b'"unterminated',
            b'"bad \x01 ctrl"',
            b"tru",
        ],
    )
    def test_error_parity_with_walker(self, bad):
        (b1, e1), (b2, e2) = self._both(bad)
        assert e1 is not None and e2 is not None
        assert (e1.index, e1.line, e1.col) == (e2.index, e2.line, e2.col)
        assert e1.args[0] == e2.args[0]

    def test_non_ascii_positions(self):
        # multibyte chars before a malformed value: byte positions agree
        data = '{"k": "héllo"}\n{"x": Infinity}'.encode()
        (b1, e1), (b2, e2) = self._both(data)
        assert e1 is not None and e2 is not None
        assert (e1.index, e1.line, e1.col) == (e2.index, e2.line, e2.col)

    def test_unwrap_array_direct(self):
        data = b'[{"a": 1}, 2, "x", [3]]'
        (b1, e1), (b2, e2) = self._both(data, mode=Mode.UNWRAP_ARRAY)
        assert e1 is None and e2 is None
        assert b1 == b2
        assert [v for batch in b1 for v in batch] == [{"a": 1}, 2, "x", [3]]

    def test_reified_plate_still_gets_events(self):
        # event-observing plates must be untouched by the fast path
        plate = ReifiedPlate()
        p = JsonParser(plate, Mode.VALUE_STREAM)
        evs = list(p.absorb(b'{"a": 1}').value)
        evs += p.finish().value
        assert ("nest_map", "a") in evs
