"""One posting decoder: the tail parser (``codecs._split_tails``, the only
library function that splits a tail code into its docDelta (``code >> 1``)
and freq flag (``code & 1``)) is called by the two decoders only —
``decode_rows`` for many rows, ``decode_postings`` for one — and they are
called by the resident snapshot fill, the compaction pass and
``TermPostings``, nothing else.  The reader-resident postings table holds
its postings decoded, with none of the encoded posting blobs beside them.
The checks parse every module, so comments and strings do not count."""

import ast
import importlib
import pathlib

import pyarrow as pa

from lucene_spark.codecs import DECODED_COLUMNS, ENCODED_COLUMNS
from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index

LIB = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark"
S = importlib.import_module("lucene_spark.search")  # the package exports search()
DECODERS = {"_split_tails", "decode_rows", "decode_postings"}


def _calls(path: pathlib.Path, names: set[str]) -> set[tuple[str, str]]:
    """(callee, ``module.owner``) of each call of ``names``, the owner being
    the enclosing top-level definition."""
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    out = set()
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in names:
                    out.add((name, f"{path.stem}.{owner}"))
    return out


def _splits_tail_codes(fn: ast.AST) -> bool:
    """The function shifts and masks one name by 1 (``x >> 1``, ``x & 1``)."""
    ops: dict[str, set] = {}
    for n in ast.walk(fn):
        if (isinstance(n, ast.BinOp) and isinstance(n.left, ast.Name)
                and isinstance(n.right, ast.Constant) and n.right.value == 1):
            ops.setdefault(n.left.id, set()).add(type(n.op))
    return any({ast.RShift, ast.BitAnd} <= o for o in ops.values())


def test_the_tail_walk_exists_once():
    files = sorted(LIB.rglob("*.py"))
    assert len(files) > 50
    walkers = [f"{p.stem}.{fn.name}" for p in files
               for fn in ast.walk(ast.parse(p.read_text(encoding="utf-8")))
               if isinstance(fn, ast.FunctionDef) and _splits_tail_codes(fn)]
    assert walkers == ["codecs._split_tails"]


def test_decoders_are_called_by_the_known_readers_only():
    found = {c for p in sorted(LIB.rglob("*.py")) for c in _calls(p, DECODERS)}
    assert found == {
        ("_split_tails", "codecs.decode_rows"),
        ("_split_tails", "codecs.decode_postings"),
        ("decode_rows", "index.PostingsSnapshot"),
        ("decode_rows", "streaming._explode_remap_pass"),
        ("decode_postings", "kernel.TermPostings"),
    }


def test_the_scan_finds_a_second_walker(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("# code >> 1 and code & 1 in a comment\n"
                   "def f(vals):\n"
                   "    return [(c >> 1, c & 1) for c in vals]\n"
                   "def g(v):\n"
                   "    return v >> 1, w & 1\n")
    tree = ast.parse(src.read_text())
    assert [fn.name for fn in tree.body if _splits_tail_codes(fn)] == ["f"]


def test_the_resident_table_holds_no_encoded_posting_blobs(spark):
    pdf = generate_pages(120, seed=5)[["url", "text"]]
    idx = build_index(spark, spark.createDataFrame(pdf), seg_size=50, with_positions=True)
    table = idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS).table
    assert not set(ENCODED_COLUMNS) & set(table.column_names)
    assert "pos_blob" in table.column_names  # positions stay encoded
    for c in DECODED_COLUMNS:
        assert table.schema.field(c).type == pa.list_(pa.int32())
    counts = [len(v) for v in table.column(DECODED_COLUMNS[0]).to_pylist()]
    assert counts == table.column("df_local").to_pylist()
