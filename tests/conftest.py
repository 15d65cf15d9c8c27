import os
import sys

import pytest

# tests must import the repo package regardless of pytest rootdir config
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from exstruct_spark.engine import default_session

    s = default_session(app="exstruct-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def native_parse():
    """The native HTML scanner's ``parse``.  Skips only when there is no
    C compiler; a compiler with a failed build is a test failure."""
    from exstruct_spark.kernels import dom, native

    if dom._native is None:
        if native.compiler_available():
            pytest.fail("a C compiler is present but the native HTML "
                        "scanner did not build (see the WARNING on stderr)")
        pytest.skip("no C compiler: only the Python parser is available")
    return dom._native.parse


@pytest.fixture(scope="session")
def native_canonical_json():
    """The native ``canonical_json`` encoder, which ``serialize`` must be
    running.  Skips only when there is no C compiler, like
    ``native_parse``."""
    from exstruct_spark.kernels import native, serialize

    if serialize._native is None:
        if native.compiler_available():
            pytest.fail("a C compiler is present but the native module "
                        "did not build (see the WARNING on stderr)")
        pytest.skip("no C compiler: only the Python serializer is available")
    if serialize._encode is not serialize._native.canonical_json:
        pytest.fail("serialize.canonical_json does not run the native "
                    "encoder")
    return serialize._encode


@pytest.fixture(params=["native", "python"])
def parser(request, monkeypatch):
    """Runs a test once natively (the native parser, text walk and JSON
    encoder) and once in pure Python (``_parse_html_fast``,
    ``_text_content_py`` and ``_canonical_json_py``), the two builds the
    kernels can run as."""
    from exstruct_spark.kernels import dom, serialize

    if request.param == "native":
        monkeypatch.setattr(dom, "_parse",
                            request.getfixturevalue("native_parse"))
        request.getfixturevalue("native_canonical_json")
    else:
        monkeypatch.setattr(dom, "_parse", dom._parse_html_fast)
        monkeypatch.setattr(dom.Node, "text_content", dom._text_content_py)
        monkeypatch.setattr(serialize, "_encode", None)
    return request.param
