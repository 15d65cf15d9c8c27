"""``strip_empty``: regression cases for ``None`` members and a
differential test against the eager-copy implementation that preceded
the lazy-copy walk, kept here as a test-only oracle."""

from __future__ import annotations

from collections import OrderedDict

from hypothesis import given, settings
from hypothesis import strategies as st

from exstruct_spark.kernels.serialize import canonical_json, strip_empty


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
