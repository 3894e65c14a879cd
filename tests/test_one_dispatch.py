"""One driver/distributed dispatch: search, search_many, count_hits and
sorted_topk run their per-segment closures through ``search._execute``, the
only caller of the driver-or-distributed rule (``_driver_deny``) and of the
driver executor (``_segments_on_driver``).  The distributed executor
``_per_segment`` is called only by ``_execute`` and by ``score_docs``, whose
DataFrame result stays distributed by contract.  No entry point reduces with
a Spark ``Window`` or ``orderBy``: every reduce takes the executor's arrays.
The check parses the module, so comments and strings do not count."""

import ast
import pathlib

SEARCH = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark" / "search.py"
EXECUTORS = {"_driver_deny", "_segments_on_driver", "_per_segment"}
ENTRY_POINTS = {"search", "search_many", "count_hits", "sorted_topk"}


def _tops(path: pathlib.Path) -> dict[str, ast.AST]:
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    return {getattr(top, "name", "<module>"): top for top in tree.body}


def _names(top: ast.AST) -> set[str]:
    """Every name and attribute a definition mentions, calls included."""
    out = set()
    for n in ast.walk(top):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _callers(path: pathlib.Path, names: set[str]) -> dict[str, set[str]]:
    """Each of ``names`` → the top-level definitions that call it."""
    out = {name: set() for name in names}
    for owner, top in _tops(path).items():
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in out:
                    out[name].add(owner)
    return out


def test_the_dispatch_and_the_executors_have_one_caller():
    assert _callers(SEARCH, EXECUTORS) == {
        "_driver_deny": {"_execute"},
        "_segments_on_driver": {"_execute"},
        "_per_segment": {"_execute", "score_docs"},
    }


def test_entry_points_reduce_without_a_spark_sort():
    tops = _tops(SEARCH)
    assert ENTRY_POINTS <= set(tops)
    for name in ENTRY_POINTS:
        assert not _names(tops[name]) & {"Window", "orderBy"}, name


def test_the_scan_names_the_calling_definition(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("# _per_segment( in a comment\n"
                   "def f(i):\n"
                   "    def g():\n"
                   "        return S._per_segment(i)\n"
                   "    return _driver_deny(i), g, Window.orderBy\n")
    assert _callers(src, EXECUTORS) == {
        "_driver_deny": {"f"}, "_segments_on_driver": set(), "_per_segment": {"f"}}
    assert {"Window", "orderBy"} <= _names(_tops(src)["f"])
