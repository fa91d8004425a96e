"""Source lints over engine code and the measuring tools (``bench.py``,
``tools/``): each turns a class of bug into one that fails here when it
is written, the ``global-window-bounded`` pattern of
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


def _stream_start_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """A ``foreachBatch`` attribute or a non-docstring
    ``"maxFilesPerTrigger"`` constant: a file stream started by hand."""
    docs = _docstrings(tree)
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
            sites.append((node.lineno, "foreachBatch"))
        elif (
            isinstance(node, ast.Constant)
            and node.value == "maxFilesPerTrigger"
            and id(node) not in docs
        ):
            sites.append((node.lineno, '"maxFilesPerTrigger"'))
    return sites


def _trigger_cap_values(tree: ast.AST) -> list[ast.AST]:
    """The value argument of every ``.option("maxFilesPerTrigger", v)``."""
    return [
        node.args[1]
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "option"
        and len(node.args) == 2
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "maxFilesPerTrigger"
    ]


def test_file_streams_start_in_store():
    """Every file stream starts in ``streaming/store.py``
    (``run_changelog_stream``): engine code elsewhere may hold no
    ``foreachBatch`` and no ``"maxFilesPerTrigger"`` option. In the
    store the cap is the one constant ``MAX_FILES_PER_TRIGGER``, the
    value ``get_spark`` sets the parallel-listing threshold to; any
    other cap would bring back the per-trigger listing job."""
    bad, caps = [], []
    for f, tree in _parsed():
        if f == STORE:
            caps = _trigger_cap_values(tree)
            continue
        bad += [
            f"{f.relative_to(ROOT)}:{ln}: {what}"
            for ln, what in _stream_start_sites(tree)
        ]
    assert not bad, (
        "file stream started outside streaming/store.py (use "
        "run_changelog_stream):\n" + "\n".join(bad)
    )
    # the lint must see the owner's own cap, or it has rotted
    assert caps, "no maxFilesPerTrigger option found in streaming/store.py"
    wrong = [
        f"streaming/store.py:{v.lineno}: {ast.unparse(v)}"
        for v in caps
        if not (isinstance(v, ast.Name) and v.id == "MAX_FILES_PER_TRIGGER")
    ]
    assert not wrong, (
        "maxFilesPerTrigger must be MAX_FILES_PER_TRIGGER:\n" + "\n".join(wrong)
    )


# The measuring tools share one timed-run protocol. perfbench/ is not
# scanned: its timing loop is the benchmark's own, and its files stay
# fixed so that benchmark runs remain comparable.
REPO = ROOT.parent
TIMING = REPO / "tools" / "timing.py"


def _timing_sites(tree: ast.AST) -> list[tuple[int, str]]:
    """A ``clearCache`` call, the ``"noop"`` sink name, or a program kept
    as a string that calls ``clearCache(``."""
    docs = _docstrings(tree)
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "clearCache":
            sites.append((node.lineno, "clearCache"))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            if node.value == "noop":
                sites.append((node.lineno, '"noop"'))
            elif "clearCache(" in node.value:
                sites.append((node.lineno, "clearCache( in a string"))
    return sites


def test_timed_run_protocol_has_one_owner():
    """The timed-run protocol — clean cache, build, ``noop`` write — has
    one owner, ``tools/timing.py``. A bench or tool that times a query
    its own way fails here: call ``timed``/``best_of``/``warm`` or
    ``time_in_child`` instead."""
    bad, in_owner = [], 0
    for f in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        sites = _timing_sites(ast.parse(f.read_text(), filename=str(f)))
        if f == TIMING:
            in_owner = len(sites)
            continue
        bad += [f"{f.relative_to(REPO)}:{ln}: {what}" for ln, what in sites]
    assert not bad, (
        "timed-run protocol outside tools/timing.py (use its helpers):\n"
        + "\n".join(bad)
    )
    # the lint must see the owner's own sites, or it has rotted
    assert in_owner >= 1, "no protocol site found in tools/timing.py"


# what only the store's fold may name: the reserved negative partitions
# and pin manifest of a second fold, or the stream's checkpoint commit
# log that such a fold pinned to
FOLD_STRINGS = ("ingest_batch=-", "_fold_pin", "/commits")


def _calls(fn: ast.AST) -> set[str]:
    """Names called in ``fn``: ``f(...)`` and ``m.f(...)`` both give f."""
    out = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                out.add(f.id)
            elif isinstance(f, ast.Attribute):
                out.add(f.attr)
    return out


def _unfolded_compactors(tree: ast.Module) -> list[tuple[int, str]]:
    """Public ``compact_*`` functions that reach ``fold_into_base``
    neither directly nor through one module-level helper that calls it."""
    top = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    folds = {"fold_into_base"} | {
        name for name, fn in top.items() if "fold_into_base" in _calls(fn)
    }
    return [
        (fn.lineno, f"{name} does not call fold_into_base")
        for name, fn in top.items()
        if name.startswith("compact_") and not _calls(fn) & folds
    ]


def _fold_state_strings(tree: ast.AST) -> list[tuple[int, str]]:
    """Non-docstring strings that name a second fold's on-disk state."""
    docs = _docstrings(tree)
    sites = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            sites += [(node.lineno, repr(s)) for s in FOLD_STRINGS if s in node.value]
    return sites


def test_compaction_folds_through_store():
    """Changelog compaction has one owner, ``store.fold_into_base``: every
    public ``compact_*`` in ``streaming/`` folds through it, directly or
    through one module-level helper, and no code outside
    ``streaming/store.py`` names a second fold's state — a reserved
    ``ingest_batch=-N`` partition, a ``_fold_pin`` manifest or the
    stream's checkpoint ``commits`` log."""
    bad, compactors = [], 0
    for f, tree in _parsed():
        if f == STORE:
            continue
        sites = _fold_state_strings(tree)
        if f.parent.name == "streaming":
            compactors += sum(
                isinstance(n, ast.FunctionDef) and n.name.startswith("compact_")
                for n in tree.body
            )
            sites += _unfolded_compactors(tree)
        bad += [f"{f.relative_to(ROOT)}:{ln}: {what}" for ln, what in sites]
    assert not bad, (
        "compaction outside store.fold_into_base:\n" + "\n".join(bad)
    )
    # the lint must see the compactors it guards, or it has rotted
    assert compactors >= 8, f"only {compactors} compact_* found in streaming/"


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
