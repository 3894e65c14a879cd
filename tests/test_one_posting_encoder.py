"""One posting encoder: the library calls the block codec
(``codecs.encode_postings``) and the impact-frontier builder
(``impacts.block_frontiers``) only from ``index._merge_partials`` — which
every index writer reaches through ``merge_partials_stage`` — and from
``pulsing.synthesize_posting_rows``, the driver-side single-posting
encoder.  The check parses every module, so comments and strings that
mention the encoders do not count."""

import ast
import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark"
ENCODERS = {"encode_postings", "block_frontiers"}


def _encoder_calls(path: pathlib.Path) -> list[str]:
    """``module.function`` of each encoder call, named by its enclosing
    top-level definition."""
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in ENCODERS:
                    out.append(f"{path.stem}.{owner}")
    return out


def test_encoders_are_called_by_the_merge_and_the_pulsing_synthesizer_only():
    files = sorted(LIB.rglob("*.py"))
    assert len(files) > 50
    found = {c for p in files for c in _encoder_calls(p)}
    assert found == {"index._merge_partials", "pulsing.synthesize_posting_rows"}


def test_the_scan_names_the_enclosing_function(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("# encode_postings( in a comment\n"
                   "def f(d):\n"
                   "    def g():\n"
                   "        return codecs.encode_postings(d, d)\n"
                   "    return block_frontiers(d, d, d, 128), g\n")
    assert _encoder_calls(src) == ["m.f", "m.f"]
