"""Per-query code digests (gasket_spark/queries/digest.py) decide which
driver greens still certify their query. An edit must change exactly
the digests of the queries whose reachable code or oracle it changes,
and a doc- or comment-only edit must change none. Each case edits a
tmp copy of gasket_spark/ and digests it in a fresh interpreter."""

import ast
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CDC = {"q_stream_cdc_apply", "q_cdc_read_pruned", "q_cdc_deletes",
       "q_snapshot_diff"}
_DIGESTS = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
            "import gasket_spark.queries; "
            "from gasket_spark.queries.digest import query_digests; "
            "print(json.dumps(query_digests()))")


def _digests(tree) -> dict[str, str]:
    out = subprocess.run([sys.executable, "-c", _DIGESTS, str(tree)],
                         cwd=tree, check=True, capture_output=True,
                         text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _def(src: str, name: str) -> ast.FunctionDef:
    return next(n for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.FunctionDef) and n.name == name)


def _has_docstring(fn: ast.FunctionDef) -> bool:
    first = fn.body[0]
    return isinstance(first, ast.Expr) and isinstance(
        first.value, ast.Constant) and isinstance(first.value.value, str)


def _insert_before_body(src: str, name: str, text: str) -> str:
    """Insert ``text`` (one line, indented to fit) ahead of the first
    statement after ``name``'s docstring."""
    fn = _def(src, name)
    stmt = fn.body[1] if _has_docstring(fn) else fn.body[0]
    lines = src.splitlines(keepends=True)
    lines.insert(stmt.lineno - 1, " " * stmt.col_offset + text + "\n")
    return "".join(lines)


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    tree = tmp_path_factory.mktemp("base")
    shutil.copytree(os.path.join(REPO, "gasket_spark"),
                    tree / "gasket_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    return tree, _digests(tree)


def _changed(base, tmp_path, edits) -> set[str]:
    """Names of the queries whose digest ``edits`` ({path: fn(src)})
    change."""
    tree, before = base
    shutil.copytree(tree / "gasket_spark", tmp_path / "gasket_spark")
    for rel, edit in edits.items():
        path = tmp_path / "gasket_spark" / rel
        src = path.read_text()
        path.write_text(edit(src))
        assert path.read_text() != src
    after = _digests(tmp_path)
    assert after.keys() == before.keys()
    return {q for q in before if after[q] != before[q]}


def test_digests_are_distinct(base):
    _, digests = base
    assert len(set(digests.values())) == len(digests)


def test_helper_edit_changes_its_queries(base, tmp_path):
    # _cdc_apply_fn sits behind the streaming and batch CDC drivers,
    # which the CDC fixture builder and the streaming query call
    assert _changed(base, tmp_path, {
        "streaming/core.py": lambda s: _insert_before_body(
            s, "_cdc_apply_fn", "_digest_probe = 0"),
    }) == CDC


def test_operator_edit_changes_only_its_query(base, tmp_path):
    assert _changed(base, tmp_path, {
        "operators/dedup.py": lambda s: _insert_before_body(
            s, "winnow_fingerprints", "_digest_probe = 0"),
    }) == {"q_fingerprint_winnow"}


def test_doc_and_comment_edits_change_nothing(base, tmp_path):
    def edit_docstring(src: str) -> str:
        doc = _def(src, "_cdc_apply_fn").body[0]
        assert doc.end_lineno > doc.lineno  # a multi-line docstring
        lines = src.splitlines(keepends=True)
        lines.insert(doc.end_lineno - 1, "    One more documented line.\n")
        return _insert_before_body("".join(lines), "_cdc_apply_fn",
                                   "# an added comment")

    assert _changed(base, tmp_path, {
        "streaming/core.py": edit_docstring,
        "operators/dedup.py": lambda s: "# an added comment\n\n" + s,
    }) == set()


def test_oracle_edit_changes_only_its_query(base, tmp_path):
    def edit_oracle(src: str) -> str:
        deco = _def(src, "q_topk").decorator_list[0]
        sql = next(k.value for k in deco.keywords if k.arg == "oracle")
        lines = src.splitlines(keepends=True)
        i = next(i for i in range(sql.lineno - 1, sql.end_lineno)
                 if "SELECT " in lines[i])
        lines[i] = lines[i].replace("SELECT ", "SELECT ALL ", 1)
        return "".join(lines)

    assert _changed(base, tmp_path, {
        "queries/relational.py": edit_oracle,
    }) == {"q_topk"}


def test_caches_do_not_enter_the_digest():
    """Module-level caches fill as queries run; a digest taken after
    they fill must equal the one the registry took as it loaded."""
    from gasket_spark import io
    from gasket_spark.queries import DIGESTS, llm, streamingq
    from gasket_spark.queries.digest import query_digests

    seq = streamingq._STREAM_SEQ[0]
    io._NANOS_COLS_CACHE["/probe"] = ("stamp", ("ts",))
    llm._BPE_MERGE_CACHE[("app", "/probe", "k")] = [("a", "b")]
    streamingq._STREAM_SEQ[0] += 7
    try:
        assert query_digests() == DIGESTS
    finally:
        del io._NANOS_COLS_CACHE["/probe"]
        del llm._BPE_MERGE_CACHE[("app", "/probe", "k")]
        streamingq._STREAM_SEQ[0] = seq


def test_verified_json_is_what_record_writes():
    """VERIFIED.json is derived state: re-recording it from the
    committed CORRECTNESS artifacts reproduces it byte for byte, so no
    green can be entered by hand."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import windowcheck

    for rev in windowcheck.verified_trees().values():
        if subprocess.run(["git", "cat-file", "-e", rev], cwd=REPO,
                          capture_output=True).returncode:
            pytest.skip(f"verified tree {rev} is not in this clone")
    with open(os.path.join(REPO, "VERIFIED.json")) as fh:
        assert windowcheck.recorded() == fh.read()
