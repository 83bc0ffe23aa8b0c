"""The bench and tools scripts (no Spark): every one compiles and finds
the repo from its own path, and the scaling script pairs N with 4N."""

import importlib.util
import pathlib
import py_compile
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted([REPO / "bench.py", *(REPO / "bench").glob("*.py"),
                  *(REPO / "tools").glob("*.py")])


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_script_compiles_and_is_location_free(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)
    # a checkout of another commit (an A/B parent side) must measure its
    # own code, so no script may pin the path of one particular checkout
    text = path.read_text()
    assert str(REPO) not in text
    assert not re.search(r"""sys\.path\.insert\(\s*0\s*,\s*["']/""", text)


def test_scaling_pairs_n_with_4n():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", REPO / "bench" / "scaling.py")
    scaling = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scaling)
    assert scaling.scaling_pairs({1, 2, 4, 8}) == [(1, 4), (2, 8)]
    assert scaling.scaling_pairs({8, 2}) == [(2, 8)]
    assert scaling.scaling_pairs({1, 2}) == []
