"""No per-row ``DataFrame.iterrows()`` loops in the library: posting and
sidecar frames are read column-wise (zip over columns, ``to_dict("records")``
or numpy arrays).  The check parses every module, so comments and strings
that mention the method do not count."""

import ast
import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark"


def _iterrows_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    return [n.lineno for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "iterrows"]


def test_library_has_no_iterrows_calls():
    files = sorted(LIB.rglob("*.py"))
    assert len(files) > 50
    found = [f"{p.relative_to(LIB.parent)}:{line}"
             for p in files for line in _iterrows_calls(p)]
    assert found == []


def test_the_scan_finds_a_call(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("# .iterrows( in a comment\n"
                   "for _, r in frame.iterrows():\n    pass\n")
    assert _iterrows_calls(src) == [2]
