"""Source lints over engine code: each turns a class of bug into one that
fails here when it is written, the ``global-window-bounded`` pattern of
``tests/test_plan_audit.py``. Pure AST scans, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

import kafka_streams_spark as pkg

ROOT = Path(pkg.__file__).resolve().parent
STORE = ROOT / "streaming" / "store.py"


def _parsed():
    for f in sorted(ROOT.rglob("*.py")):
        yield f, ast.parse(f.read_text(), filename=str(f))


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants (prose, not code)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


# what only the changelog store may touch: dynamic partition overwrite,
# the Hadoop FileSystem handle, and the epoch sidecar
PROTOCOL_NAMES = ("getFileSystem", "hadoopConfiguration")
PROTOCOL_STRINGS = ("partitionOverwriteMode", "_epochs.json")


def _protocol_sites(tree: ast.AST) -> list[tuple[int, str]]:
    docs = _docstrings(tree)
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in PROTOCOL_NAMES:
            sites.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in PROTOCOL_NAMES:
            sites.append((node.lineno, node.id))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            sites += [(node.lineno, s) for s in PROTOCOL_STRINGS if s in node.value]
    return sites


def test_changelog_protocol_only_in_store():
    """The ``ingest_batch`` partition protocol — dynamic partition
    overwrite, Hadoop FileSystem access and the ``_epochs.json`` epoch
    map — has one owner, ``streaming/store.py``. A streaming module
    that re-implements a piece of it fails here: call the store
    instead. Docstrings and comments may still name the protocol."""
    bad, in_store = [], 0
    for f, tree in _parsed():
        sites = _protocol_sites(tree)
        if f == STORE:
            in_store = len(sites)
            continue
        bad += [f"{f.relative_to(ROOT)}:{ln}: {what}" for ln, what in sites]
    assert not bad, (
        "changelog-store protocol outside streaming/store.py (use its "
        "helpers):\n" + "\n".join(bad)
    )
    # the lint must see the owner's own sites, or it has rotted
    assert in_store >= 1, "no protocol site found in streaming/store.py"


RANK_FNS = {"row_number", "rank", "dense_rank"}
BIGINT = {"bigint", "long"}


def _is_rank_call(node: ast.AST) -> bool:
    """``F.row_number()`` / ``row_number()`` (and rank, dense_rank)."""
    if not isinstance(node, ast.Call) or node.args or node.keywords:
        return False
    fn = node.func
    if isinstance(fn, ast.Name):
        return fn.id in RANK_FNS
    return (
        isinstance(fn, ast.Attribute)
        and fn.attr in RANK_FNS
        and isinstance(fn.value, ast.Name)
        and fn.value.id in {"F", "functions"}
    )


def _is_bigint_cast(node: ast.AST) -> bool:
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and node.args
    ):
        return False
    to = node.args[0]
    if isinstance(to, ast.Constant):
        return str(to.value).lower() in BIGINT
    return isinstance(to, ast.Call) and getattr(to.func, "id", getattr(
        to.func, "attr", None
    )) == "LongType"


def _is_int_rank(node: ast.AST) -> bool:
    """An int-typed rank: a rank call, its ``.over(w)``/``.alias()``, a
    non-bigint cast of one, or int arithmetic on one."""
    if _is_rank_call(node):
        return True
    if isinstance(node, ast.BinOp):
        return _is_int_rank(node.left) or _is_int_rank(node.right)
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr in ("over", "alias"):
            return _is_int_rank(node.func.value)
        if node.func.attr == "cast" and not _is_bigint_cast(node):
            return _is_int_rank(node.func.value)
    return False


def _is_bigint_operand(node: ast.AST) -> bool:
    return _is_bigint_cast(node) or (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "offset_row_number"
    )


def _rank_arithmetic(tree: ast.AST) -> tuple[list[int], int]:
    """(lines of unsafe rank arithmetic, count of rank-arithmetic sites)."""
    bad, seen = [], 0
    for node in ast.walk(tree):
        if not (isinstance(node, ast.BinOp) and isinstance(node.op, (ast.Add, ast.Mult))):
            continue
        for rank, other in ((node.left, node.right), (node.right, node.left)):
            if _is_int_rank(rank):
                seen += 1
                if not _is_bigint_operand(other):
                    bad.append(node.lineno)
                break
    return bad, seen


def test_rank_arithmetic_is_bigint():
    """``row_number()``/``rank()``/``dense_rank()`` are int. Adding an
    offset to one, or scaling one, in int arithmetic overflows past
    2^31 rows (ARITHMETIC_OVERFLOW under ANSI mode). The other operand
    must be cast to bigint first — or the sum go through
    ``functions.partitioning.offset_row_number``, which does that."""
    bad, seen = [], 0
    for f, tree in _parsed():
        lines, n = _rank_arithmetic(tree)
        seen += n
        bad += [f"{f.relative_to(ROOT)}:{ln}" for ln in lines]
    assert not bad, (
        "int rank arithmetic (cast the other operand to bigint, or use "
        "offset_row_number):\n" + "\n".join(bad)
    )
    # offset_row_number's own bigint sum must register, or the lint has rotted
    assert seen >= 1, "no rank-arithmetic site found"


def test_rank_arithmetic_lint_catches_int_offset():
    """The lint itself: a planted int offset is caught, its bigint forms
    are not."""
    def lines(src: str) -> list[int]:
        return _rank_arithmetic(ast.parse(src))[0]

    assert lines("x = F.lit(5) + F.row_number().over(w)") == [1]
    assert lines("x = F.dense_rank().over(w) * n") == [1]
    assert lines("x = (F.rank().over(w) - 1) + off") == [1]
    assert lines("x = F.lit(5).cast('bigint') + F.row_number().over(w)") == []
    assert lines("x = F.row_number().over(w).cast('bigint') + 5") == []
    assert lines("x = offset_row_number(o, w) + F.rank().over(w)") == []
