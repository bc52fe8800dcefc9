"""Source-hygiene checks over the ``corral_spark`` package and
``bench.py``.

Query modules are named by the family of operators they exercise, not
by the order they were added, and the history of the project lives in
git rather than in the code: no comment or docstring carries a round
tag such as ``r14`` or ``Round-7``. Other string literals are exempt,
because the oracle SQL strings must stay byte-identical and some carry
such tags in their SQL comments.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "corral_spark"

LANDING_ORDER_NAME = re.compile(r"extensions\d*\.py|relational\d+\.py")
ROUND_TAG = re.compile(r"\b[rR]\d{1,2}\b|[Rr]ound[- ]\d+")


def round_tags(source: str) -> list[tuple[int, str]]:
    """(line, tag) for every round tag in the comments and the module,
    class and function docstrings of ``source``."""
    hits = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            hits += [(tok.start[0], m.group()) for m in ROUND_TAG.finditer(tok.string)]
    tree = ast.parse(source)
    scopes = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for node in [tree, *(n for n in ast.walk(tree) if isinstance(n, scopes))]:
        doc = ast.get_docstring(node, clean=False)
        if doc:
            line = node.body[0].lineno
            hits += [(line, m.group()) for m in ROUND_TAG.finditer(doc)]
    return hits


def test_query_modules_are_named_by_family():
    landing_order = sorted(
        p.name
        for p in (PKG / "queries").glob("*.py")
        if LANDING_ORDER_NAME.fullmatch(p.name)
    )
    assert not landing_order, (
        f"query modules named by landing order: {landing_order}; "
        "put each query in the family module of the operators it calls"
    )


def test_no_round_tags_in_comments_or_docstrings():
    hits = [
        f"{path.relative_to(PKG.parent)}:{line}: {tag}"
        for path in [*sorted(PKG.rglob("*.py")), PKG.parent / "bench.py"]
        for line, tag in round_tags(path.read_text())
    ]
    assert not hits, f"{len(hits)} round tags:\n" + "\n".join(hits)


def test_round_tag_scan_reads_comments_and_docstrings_only():
    source = '''"""Module doc, Round-7."""
SQL = """-- r13 inside a string literal is exempt"""


def f():
    """Function doc (r14 campaign)."""
    return 1  # r16 audit
'''
    assert [tag for _, tag in round_tags(source)] == ["r16", "Round-7", "r14"]
