"""``strip_empty``: regression cases for ``None`` members and a
differential test against the eager-copy implementation that preceded
the lazy-copy walk, kept here as a test-only oracle.  ``canonical_json``:
the native strip-and-encode walk against its specification,
``_canonical_json_py``."""

from __future__ import annotations

import math
import tracemalloc
from collections import OrderedDict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from exstruct_spark.kernels import serialize
from exstruct_spark.kernels.serialize import (
    _canonical_json_py, canonical_json, strip_empty)


def oracle_strip_empty(value):
    """``strip_empty`` as of the parent of commit 59c97b9 (eager copy:
    always builds new containers), copied verbatim apart from names."""
    # per-child logic INLINED into both loops (was a _strip_child helper:
    # ~75 calls/doc measured) — exact-type fast path for the dominant
    # builtin cases, isinstance fallback so dict/list/str SUBCLASSES keep
    # the original semantics (recursed / dropped-when-empty) instead of
    # silently passing through; byte-identical output (unit + hypothesis
    # fixpoint tests)
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            tv = type(v)
            if tv is str:
                if v:
                    out[k] = v
            elif tv is dict or tv is list or tv is tuple:
                v = oracle_strip_empty(v)
                if v:
                    out[k] = v
            elif v is None:
                pass
            elif isinstance(v, (dict, list, tuple)):
                v = oracle_strip_empty(v)
                if v:
                    out[k] = v
            elif isinstance(v, str):
                if v:
                    out[k] = v
            else:
                out[k] = v
        return out
    if isinstance(value, (list, tuple)):
        out_l = []
        add = out_l.append
        for v in value:
            tv = type(v)
            if tv is str:
                if v:
                    add(v)
            elif tv is dict or tv is list or tv is tuple:
                v = oracle_strip_empty(v)
                if v:
                    add(v)
            elif v is None:
                pass
            elif isinstance(v, (dict, list, tuple)):
                v = oracle_strip_empty(v)
                if v:
                    add(v)
            elif isinstance(v, str):
                if v:
                    add(v)
            else:
                add(v)
        return out_l
    return value


def test_none_only_member_dropped():
    assert strip_empty({"a": None}) == {}
    assert canonical_json({"a": None}) == "{}"


def test_none_first_list_member_dropped():
    assert strip_empty([None, 1]) == [1]


def test_none_after_kept_members_dropped():
    assert strip_empty({"x": 1, "a": None}) == {"x": 1}
    assert strip_empty([1, None]) == [1]


def test_emptied_dict_dropped_one_level_up():
    assert strip_empty({"keep": 1, "inner": {"a": None, "b": ""}}) == {
        "keep": 1}
    assert strip_empty([{"a": None}, 2]) == [2]


def test_unchanged_containers_are_returned_as_is():
    v = {"a": [1, "x", {"b": 0}], "c": False}
    assert strip_empty(v) is v


def test_subclasses_and_tuples():
    assert strip_empty(OrderedDict(a=None, b=(None, "", 3))) == {"b": [3]}
    assert strip_empty((1, 2)) == [1, 2]


class _Str(str):
    pass


_LEAF = (st.none() | st.booleans() | st.integers(-5, 5) | st.floats(
    allow_nan=False) | st.sampled_from(["", "x", _Str(""), _Str("y")]))
_VALUES = st.recursive(
    _LEAF,
    lambda inner: st.lists(inner, max_size=4)
    | st.lists(inner, max_size=3).map(tuple)
    | st.dictionaries(st.sampled_from(["a", "b", "c", ""]), inner,
                      max_size=4)
    | st.dictionaries(st.sampled_from(["a", "b"]), inner,
                      max_size=2).map(OrderedDict),
    max_leaves=24,
)


@given(_VALUES)
@settings(max_examples=2000, deadline=None)
def test_matches_eager_oracle(v):
    got = strip_empty(v)
    want = oracle_strip_empty(v)
    assert got == want
    assert canonical_json(v) == canonical_json(want)


# --- the native canonical_json walk against its specification ----------

DEPTH_BOUND = 100  # htmlscan.c JSON_MAX_DEPTH


class _Dict(dict):
    pass


class _List(list):
    pass


class _Int(int):
    pass


class _Float(float):
    pass


_TEXT = st.text(st.sampled_from(
    ["a", "Z", " ", '"', "\\", "/", "\n", "\r", "\t", "\b", "\f", "\x00",
     "\x01", "\x1f", "\x7f", "\x80", "é", "ÿ", "Ā", "売", "\ud800", "\udfff",
     "\U0001f600", " "]), max_size=6)
_KEYS = _TEXT | st.sampled_from(["é", "ключ", "売上", "😀", "k"])
_FAST_LEAF = (st.none() | st.booleans() | st.integers()
              | st.sampled_from([0, -1, 2**63, 2**70, -2**70])
              | st.floats(allow_nan=False, allow_infinity=False)
              | st.sampled_from([-0.0, 0.0, 1e16, 1e-7, 5e-324, 1.7976931348623157e308])
              | _TEXT)
# exact builtin types only: the native walk never gives up on these
_FAST = st.recursive(
    _FAST_LEAF,
    lambda inner: st.lists(inner, max_size=4)
    | st.lists(inner, max_size=3).map(tuple)
    | st.dictionaries(_KEYS, inner, max_size=4),
    max_leaves=30,
)
# the same plus what only the specification handles
_ANY_LEAF = _FAST_LEAF | st.sampled_from(
    [math.nan, math.inf, -math.inf, _Str(""), _Str("é"), _Int(3),
     _Float(1.5), _Dict(), _Dict(a=1), _List(), _List([None]), set(),
     object(), b"x"])
_ANY = st.recursive(
    _ANY_LEAF,
    lambda inner: st.lists(inner, max_size=4)
    | st.lists(inner, max_size=3).map(tuple)
    | st.dictionaries(_KEYS | st.sampled_from([1, 2.5, None, True, _Str("s")]),
                      inner, max_size=4)
    | st.dictionaries(_KEYS, inner, max_size=2).map(_Dict),
    max_leaves=30,
)


def _outcome(fn, v):
    try:
        return fn(v)
    except Exception as exc:  # the type is what must match
        return type(exc)


@given(_FAST)
@settings(max_examples=1000, deadline=None)
def test_native_walk_equals_the_specification(native_canonical_json, v):
    got = native_canonical_json(v)
    assert got is not None
    # == compares the kind too: a result built wider than its text
    # (a rolled-back non-ASCII key) is unequal to the same text
    assert got == _canonical_json_py(v)


@given(_ANY)
@settings(max_examples=1000, deadline=None)
def test_canonical_json_equals_the_specification_or_raises_alike(
        native_canonical_json, v):
    got = native_canonical_json(v)
    want = _outcome(_canonical_json_py, v)
    if got is not None:
        assert got == want
    assert _outcome(serialize.canonical_json, v) == want


@pytest.mark.parametrize("value, text", [
    ({"é": "", "a": "x"}, '{"a":"x"}'),
    ({"a": {"売": None, "é": [None, ""]}, "b": 1}, '{"b":1}'),
    ([{"😀": ()}, "x"], '["x"]'),
    ({"é": {"ü": {}}}, "{}"),
])
def test_dropped_non_ascii_keys_leave_an_ascii_result(native_canonical_json,
                                                     value, text):
    got = native_canonical_json(value)
    assert got == text and got.isascii()


def test_escapes_and_numbers(native_canonical_json):
    v = {"s": '"\\/\n\r\t\b\f\x00\x1f\x7f\ud800é ',
         "n": [-0.0, 1e16, 5e-324, 2**70, True, False, 0, 0.0]}
    assert native_canonical_json(v) == _canonical_json_py(v) == (
        '{"s":"\\"\\\\/\\n\\r\\t\\b\\f\\u0000\\u001f\x7f\ud800é ",'
        '"n":[-0.0,1e+16,5e-324,1180591620717411303424,true,false,0,0.0]}')


@pytest.mark.parametrize("v", [
    math.nan, {"a": [math.inf]}, {1: "x"}, {"a": _Str("x")}, [_Int(1)],
    _Dict(a=1), {"a": _List([None])}, {"a": set()},
])
def test_values_outside_the_fast_path_run_the_specification(
        native_canonical_json, v):
    assert native_canonical_json(v) is None
    assert _outcome(serialize.canonical_json, v) == _outcome(
        _canonical_json_py, v)


def _nested(depth, leaf):
    v = leaf
    for _ in range(depth):
        v = [v]
    return v


def test_depth_bound(native_canonical_json):
    inside = _nested(DEPTH_BOUND, 1)  # containers at depths 0..bound-1
    assert native_canonical_json(inside) == _canonical_json_py(inside)
    for leaf in (1, None):  # kept, and stripped down to one empty list
        past = _nested(DEPTH_BOUND + 1, leaf)
        assert native_canonical_json(past) is None
        assert serialize.canonical_json(past) == _canonical_json_py(past)
    cyclic = [1]
    cyclic.append(cyclic)
    too_deep = _nested(5000, 1)
    for v in (cyclic, too_deep):
        assert native_canonical_json(v) is None
        with pytest.raises(RecursionError):
            serialize.canonical_json(v)


def test_no_leak(native_canonical_json):
    values = [{"é": "", "t": ["x\n", 1.5, 2**70, None, {"k": True}]},
              {"a": math.nan}, {1: "x"}, "売上\x01"]
    for _ in range(1000):
        for v in values:
            native_canonical_json(v)
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        for _ in range(10_000):
            for v in values:
                native_canonical_json(v)
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert grown < 16 * 1024, grown
