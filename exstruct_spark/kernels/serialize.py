"""Canonical compact JSON serialization.

Behavioural parity with the reference's token-budget serializer:
recursive empty-value stripping (``io/__init__.py:92-128``
``dict_without_empty_values``) followed by compact
``json.dumps(ensure_ascii=False)`` (``io/serialize.py:70-73``).

``canonical_json`` runs a native walk (``native/htmlscan.c``
``canonical_json``) that strips and encodes in one pass.
``_canonical_json_py``, ``strip_empty`` then ``json.dumps``, is its
specification: it runs when the module is not built, and on a whole
value the native walk leaves to it (a subclass, a non-``str`` key, a
NaN or infinity, deep nesting), so both give the same text and raise
the same errors.

Byte-identity contract: serialization happens INSIDE the extraction
kernel, before any Arrow round-trip, so int-vs-float distinctions and
unicode bytes survive untouched (SURVEY.md §7.4).
"""

from __future__ import annotations

import hashlib
import json
from itertools import islice
from typing import Any

from exstruct_spark.kernels import native

_DROP = object()  # marks a member strip_empty removes (None is a value)


def _stripped(v: Any) -> Any:
    """One member after stripping, or ``_DROP`` when it is empty.
    Exact-type fast path for the dominant builtin cases; the isinstance
    fallback keeps dict/list/str SUBCLASSES recursed / dropped-when-empty."""
    tv = type(v)
    if tv is str:
        return v if v else _DROP
    if v is None:
        return _DROP
    if (tv is dict or tv is list or tv is tuple
            or isinstance(v, (dict, list, tuple))):
        nv = strip_empty(v)
        return nv if nv else _DROP
    if isinstance(v, str):
        return v if v else _DROP
    return v


def strip_empty(value: Any) -> Any:
    """Recursively drop ``None``/``""``/``[]``/``{}`` members.

    Parity: reference ``dict_without_empty_values`` (io/__init__.py:92-128)
    — dicts lose empty-valued keys, lists lose empty elements, recursion
    applies bottom-up so a dict that becomes empty is itself dropped by the
    caller one level up.  ``0``/``0.0``/``False`` are NOT empty.

    Lazy copy: a list or dict in which nothing strips is returned
    unchanged (the majority of extraction sub-dicts), so the walk
    allocates only where it edits; tuples always become lists.
    """
    if isinstance(value, dict):
        out = None  # materialized on first edit
        idx = 0
        for k, v in value.items():
            nv = _stripped(v)
            if out is None:
                if nv is v:
                    idx += 1
                    continue
                # first edit: copy the unchanged prefix
                out = dict(islice(value.items(), idx))
            if nv is not _DROP:
                out[k] = nv
        return value if out is None else out
    if isinstance(value, (list, tuple)):
        out_l = None if type(value) is list else []
        idx = 0
        for v in value:
            nv = _stripped(v)
            if out_l is None:
                if nv is v:
                    idx += 1
                    continue
                out_l = value[:idx]
            if nv is not _DROP:
                out_l.append(nv)
        return value if out_l is None else out_l
    return value


def _canonical_json_py(value: Any) -> str:
    """The specification of ``canonical_json``.

    ``separators=(",", ":")`` + ``ensure_ascii=False`` matches the
    reference's compact emitter (io/serialize.py:70-73).  Key order is
    insertion order (deterministic by construction in the kernels).
    """
    return json.dumps(strip_empty(value), ensure_ascii=False, separators=(",", ":"))


_native = native.load()
_encode = None if _native is None else _native.canonical_json


def canonical_json(value: Any) -> str:
    """Compact, non-ASCII-preserving JSON with empty values stripped:
    the native walk's text, else ``_canonical_json_py``'s."""
    if _encode is not None:
        text = _encode(value)
        if text is not None:
            return text
    return _canonical_json_py(value)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def canonical_yaml(value: Any) -> str:
    """YAML document with the reference's dump settings — safe_dump,
    allow_unicode, insertion key order, indent 2 (io/serialize.py:74-83).
    Empty values are stripped first, same as the JSON emitter.  Gated on
    pyyaml like the reference's ``_require_yaml`` (io/serialize.py:99)."""
    try:
        import yaml
    except ImportError as exc:  # pragma: no cover — pyyaml present in env
        raise RuntimeError(
            "YAML export requires pyyaml (reference gates identically: "
            "io/serialize.py:99)"
        ) from exc
    return str(
        yaml.safe_dump(
            strip_empty(value), allow_unicode=True, sort_keys=False, indent=2
        )
    )
